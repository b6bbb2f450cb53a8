package graft.sources

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.ingest.Sinks

/** The shared optimistic-commit loop, driven deterministically on real
  * Delta and Iceberg tables: each attempt closure below plants the
  * competing commit itself, so every interleaving is exact — no thread
  * timing, no test hook in the engine. */
class TxnSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private def fs(table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A one-row parquet file staged commit-privately under `dir`; returns
    * its table-relative path and size. */
  private def stage(table: String, dir: String, k: Long): (String, Long) = {
    Seq((k, k)).toDF("k", "v").coalesce(1).write.parquet(s"$table/$dir")
    val st = fs(table).listStatus(new Path(table, dir))
      .filter(_.getPath.getName.endsWith(".parquet")).head
    (s"$dir/${st.getPath.getName}", st.getLen)
  }

  private def deltaAdd(rel: String, size: Long): String =
    s"""{"add":{"path":"$rel","partitionValues":{},"size":$size,""" +
      """"modificationTime":0,"dataChange":true}}"""

  /** The head's metadata with one table property set — a commit that
    * commutes with any concurrent snapshot. */
  private def icebergWithProperty(table: String, head: Long,
      key: String): ObjectNode = {
    val in = fs(table).open(new Path(table, s"metadata/v$head.metadata.json"))
    val meta = try mapper.readTree(in).asInstanceOf[ObjectNode]
      finally in.close()
    meta.`with`("properties").put(key, "set")
    meta
  }

  private def hint(table: String): Int = {
    val in = fs(table).open(new Path(table, "metadata/version-hint.text"))
    try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim.toInt
    finally in.close()
  }

  test("delta: a commuting append lands at head+1 past a commit its " +
      "first attempt planted") {
    val t = Sinks.tempDir("txn_delta_commute")
    DeltaLite.write(spark, Seq((1L, 1L)).toDF("k", "v"), t)
    var calls = 0
    val staged = Seq.newBuilder[String]
    val v = Txn.commit(DeltaLite.txnLog(spark, t), "WRITE") { head =>
      calls += 1
      val dir = s"data/txn-$calls"
      staged += dir
      val (rel, size) = stage(t, dir, 10L + calls)
      if (calls == 1) DeltaLite.write(spark, Seq((2L, 2L)).toDF("k", "v"), t)
      Txn.Put(Seq(deltaAdd(rel, size)), head + 1,
        Seq(new Path(t, dir)))
    }
    calls shouldBe 2
    v shouldBe 2L
    DeltaLite.latestVersion(spark, t) shouldBe 2L
    // the lost attempt's commit-private dir is gone; the winner's is live
    fs(t).exists(new Path(t, staged.result().head)) shouldBe false
    DeltaLite.read(spark, t).select("k").as[Long].collect().sorted shouldBe
      Seq(1L, 2L, 12L)
  }

  test("iceberg: a commuting metadata commit lands at head+1 past a " +
      "commit its first attempt planted, and refreshes the version hint") {
    val t = Sinks.tempDir("txn_ice_commute")
    IcebergLite.write(spark, Seq((1L, 1L)).toDF("k", "v"), t)
    var calls = 0
    val v = Txn.commit(IcebergLite.txnLog(spark, t), "set property") {
      head =>
        calls += 1
        if (calls == 1) IcebergLite.write(spark, Seq((2L, 2L)).toDF("k", "v"), t)
        Txn.Put(icebergWithProperty(t, head, "graft.test"), head + 1)
    }
    calls shouldBe 2
    v shouldBe 3L
    IcebergLite.latestMetadataVersion(spark, t) shouldBe 3
    hint(t) shouldBe 3
    // the planted snapshot survived: the retry rebuilt on top of it
    IcebergLite.read(spark, t).select("k").as[Long].collect().sorted shouldBe
      Seq(1L, 2L)
  }

  test("a pinned commit refuses with the core's conflict once a planted " +
      "commit moved the head") {
    val t = Sinks.tempDir("txn_delta_pinned")
    DeltaLite.write(spark, Seq((1L, 1L)).toDF("k", "v"), t)
    val pinned = DeltaLite.latestVersion(spark, t)
    var calls = 0
    val ex = intercept[Txn.Conflict] {
      Txn.commit(DeltaLite.txnLog(spark, t), "RESTORE",
          Txn.PinnedAt(pinned)) { _ =>
        calls += 1
        if (calls == 1) DeltaLite.write(spark, Seq((2L, 2L)).toDF("k", "v"), t)
        Txn.Put(Seq("""{"commitInfo":{"operation":"RESTORE"}}"""),
          pinned + 1)
      }
    }
    ex.getMessage should include("RESTORE")
    ex.getMessage should include("pin-to-commit")
    DeltaLite.latestVersion(spark, t) shouldBe pinned + 1
  }

  test("delta: a replacement refuses, naming the conflict, when a " +
      "compaction rewrote its files after the pin") {
    val t = Sinks.tempDir("txn_delta_replace")
    DeltaLite.write(spark, Seq((1L, 1L)).toDF("k", "v"), t)
    DeltaLite.write(spark, Seq((2L, 2L)).toDF("k", "v"), t)
    val (files, _, _, _) = DeltaLite.rowLevelSnapshot(spark, t)
    DeltaLite.optimize(spark, t, targetFiles = 1)
    val before = DeltaLite.latestVersion(spark, t)
    val ex = intercept[Txn.Conflict] {
      DeltaLite.commitReplaceFiles(spark, t, files, Nil, "UPDATE")
    }
    ex.getMessage should include("UPDATE")
    ex.getMessage should include("rewrote the same files")
    DeltaLite.latestVersion(spark, t) shouldBe before
  }

  test("iceberg: a replacement refuses, naming the conflict, when a " +
      "compaction rewrote its files after the pin") {
    val t = Sinks.tempDir("txn_ice_replace")
    IcebergLite.write(spark, Seq((1L, 1L)).toDF("k", "v"), t)
    IcebergLite.write(spark, Seq((2L, 2L)).toDF("k", "v"), t)
    val (files, _, _) = IcebergLite.rowLevelSnapshot(spark, t)
    IcebergLite.rewriteDataFiles(spark, t, 1)
    val before = IcebergLite.latestMetadataVersion(spark, t)
    val ex = intercept[Txn.Conflict] {
      IcebergLite.commitReplaceFiles(spark, t, files, Nil, "UPDATE")
    }
    ex.getMessage should include("UPDATE")
    ex.getMessage should include("rewrote the same files")
    IcebergLite.latestMetadataVersion(spark, t) shouldBe before
  }

  for (fmt <- Seq("delta", "iceberg"))
    test(s"$fmt: losing every race throws the core's one exhaustion error") {
      val t = Sinks.tempDir(s"txn_${fmt}_exhaust")
      val df = Seq((1L, 1L)).toDF("k", "v")
      var calls = 0
      val ex = intercept[Txn.Exhausted] {
        if (fmt == "delta") {
          DeltaLite.write(spark, df, t)
          Txn.commit(DeltaLite.txnLog(spark, t), "WRITE") { head =>
            calls += 1
            DeltaLite.write(spark, df, t) // always beats this attempt
            Txn.Put(Seq("""{"commitInfo":{"operation":"WRITE"}}"""),
              head + 1)
          }
        } else {
          IcebergLite.write(spark, df, t)
          Txn.commit(IcebergLite.txnLog(spark, t), "set property") { head =>
            calls += 1
            IcebergLite.write(spark, df, t)
            Txn.Put(icebergWithProperty(t, head, "graft.test"), head + 1)
          }
        }
      }
      calls shouldBe Txn.MaxAttempts
      ex.getMessage should include(t)
      ex.getMessage should include(s"${Txn.MaxAttempts} attempts")
    }

  test("iceberg: every commit kind refreshes version-hint.text") {
    val t = Sinks.tempDir("txn_ice_hint")
    IcebergLite.write(spark, Seq((1L, 1L)).toDF("k", "v"), t)
    val first = IcebergLite.currentSnapshotId(spark, t)
    IcebergLite.write(spark, Seq((2L, 2L)).toDF("k", "v"), t)
    IcebergLite.rollbackTo(spark, t, first)
    hint(t) shouldBe IcebergLite.latestMetadataVersion(spark, t)
    IcebergLite.setRef(spark, t, "audited", first)
    hint(t) shouldBe IcebergLite.latestMetadataVersion(spark, t)
    IcebergLite.addColumn(spark, t, "w",
      org.apache.spark.sql.types.LongType)
    hint(t) shouldBe IcebergLite.latestMetadataVersion(spark, t)
    IcebergLite.latestMetadataVersion(spark, t) shouldBe 5
  }
}
