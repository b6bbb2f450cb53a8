package graft.sources

import java.io.IOException

import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ingest.Sinks

/** A failing store is not a lost race: [[AtomicCreate]] reports `false`
  * only for an existing target, so [[Txn]] surfaces any other I/O error
  * on the first attempt instead of retrying it as contention. */
class AtomicCreateSpec extends AnyFunSuite with Matchers {

  private val conf = new org.apache.hadoop.conf.Configuration()

  /** The local file system, except that every create fails. */
  private final class FailingCreateFs extends FilterFileSystem(
      FileSystem.getLocal(conf)) {
    setConf(conf)
    var creates = 0
    override def create(f: Path, permission: FsPermission,
        overwrite: Boolean, bufferSize: Int, replication: Short,
        blockSize: Long, progress: Progressable): FSDataOutputStream = {
      creates += 1
      throw new IOException(s"injected create failure for $f")
    }
  }

  test("a create failure surfaces from the commit loop after one attempt") {
    val fs = new FailingCreateFs
    val table = Sinks.tempDir("atomic_create_io")
    var attempts = 0
    val ex = intercept[IOException] {
      Txn.commit(new DeltaLite.Log(fs, table), "WRITE") { head =>
        attempts += 1
        Txn.Put(Seq("""{"commitInfo":{"operation":"WRITE"}}"""), head + 1)
      }
    }
    ex.getMessage should include("injected create failure")
    attempts shouldBe 1
    fs.creates shouldBe 1
    // nothing was published and no temp file was left behind
    FileSystem.getLocal(conf).listStatus(new Path(table, "_delta_log"))
      .map(_.getPath.getName) shouldBe empty
  }

  test("an existing target is a lost race, not an error") {
    val fs = FileSystem.getLocal(conf)
    val target = new Path(Sinks.tempDir("atomic_create_race"), "v1")
    AtomicCreate.create(fs, target, Array[Byte](1)) shouldBe true
    AtomicCreate.create(fs, target, Array[Byte](2)) shouldBe false
    fs.listStatus(target.getParent).map(_.getPath.getName).toSeq shouldBe
      Seq("v1")
  }
}
