package graftbench

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, round, sum}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.{DeltaLite, IcebergLite}

import Main.{log, median, pct}

/** `table_history`: a seeded closed loop of appends, row-level updates,
  * deletes, merges, head reads and time-travel reads on one Delta table and
  * one Iceberg table, both seeded from the `l_linenumber = 1` rows of
  * `lineitem` (one seventh of it, so a run fits several cycles), with periodic Delta
  * checkpoints and Iceberg manifest rewrites and snapshot expiry. The log
  * grows for the whole run. Each format call is timed on its own, and every
  * read is checked against an in-memory model of the table at that version
  * (row count plus order-independent column sums). */
object History {
  val schema: StructType = StructType(Seq("id", "k", "q", "cents")
    .map(StructField(_, LongType, nullable = false)))
  /** Bytes of one user row (four longs), the unit of write amplification. */
  val rowBytes = 32L
  val appendRows = 1000
  val mergeRows = 200
  val rangeWidth = 25L
  /** Appended and merged-in rows cover one band of this many keys, as a
    * batch of recent orders would, so their files' stats stay narrow. */
  val bandWidth = 2000
  val keySpace = 150000
  val files = 8
  /** Maintenance cadence, in commits per table: short enough that a run of
    * three cycles (12 commits per table) completes several of each. */
  val checkpointEvery = 4
  val rewriteEvery = 4
  val expireEvery = 6
  val keepSnapshots = 8
  val minWarmCycles = 2

  /** Row store of one table: dense ids, columns as growable arrays. */
  final class Model(k0: Array[Long], q0: Array[Long], c0: Array[Long]) {
    var n: Int = k0.length
    var k: Array[Long] = k0.clone(); var q: Array[Long] = q0.clone()
    var c: Array[Long] = c0.clone(); var alive: Array[Boolean] = Array.fill(n)(true)

    def copy(): Model = {
      val m = new Model(k.take(n), q.take(n), c.take(n))
      m.alive = alive.take(n).clone(); m
    }

    def add(kk: Long, qq: Long, cc: Long): Long = {
      if (n == k.length) {
        val cap = n * 2
        k = java.util.Arrays.copyOf(k, cap); q = java.util.Arrays.copyOf(q, cap)
        c = java.util.Arrays.copyOf(c, cap); alive = java.util.Arrays.copyOf(alive, cap)
      }
      k(n) = kk; q(n) = qq; c(n) = cc; alive(n) = true
      n += 1
      n - 1L
    }

    def inRange(lo: Long, hi: Long): Seq[Int] =
      (0 until n).filter(i => alive(i) && k(i) >= lo && k(i) <= hi)

    /** (rows, sum id, sum q, sum cents) over live rows. */
    def checksum: Seq[Long] = {
      var rows, si, sq, sc = 0L
      var i = 0
      while (i < n) {
        if (alive(i)) { rows += 1; si += i; sq += q(i); sc += c(i) }
        i += 1
      }
      Seq(rows, si, sq, sc)
    }
    def live: Int = (0 until n).count(alive)
  }

  def checksum(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), sum("id"), sum("q"), sum("cents")).head()
    (0 until 4).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  /** One format under test: its calls, its model and its version log. */
  abstract class Table(val name: String, val path: String, val model: Model) {
    /** (version or snapshot id, checksum at it), oldest first. */
    val versions = mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    def append(df: DataFrame): Long
    def update(lo: Long, hi: Long): (Long, Long)
    def delete(lo: Long, hi: Long): (Long, Long)
    def merge(src: DataFrame): (Long, Long, Long)
    def read(v: Long): DataFrame
    def maintain(commits: Int, timed: (String, () => Unit) => Unit): Unit
    def metaFiles: Long
  }

  final class Delta(spark: SparkSession, path: String, m: Model) extends Table("delta", path, m) {
    def append(df: DataFrame): Long = DeltaLite.write(spark, df, path, collectStats = true)
    def update(lo: Long, hi: Long): (Long, Long) = {
      val (v, _, n) = DeltaLite.updateWhere(spark, path, "k", lo, hi, Map("q" -> (col("q") + 1)))
      (v, n)
    }
    def delete(lo: Long, hi: Long): (Long, Long) = {
      val (v, _, n) = DeltaLite.deleteWhere(spark, path, "k", lo, hi)
      (v, n)
    }
    def merge(src: DataFrame): (Long, Long, Long) = {
      val (v, upd, _, ins) = DeltaLite.mergeInto(spark, path, src, "id")
      (v, upd, ins)
    }
    def read(v: Long): DataFrame = DeltaLite.read(spark, path, v)
    def maintain(commits: Int, timed: (String, () => Unit) => Unit): Unit =
      if (commits % checkpointEvery == 0) timed("checkpoint", () => DeltaLite.checkpoint(spark, path))
    def metaFiles: Long = countFiles(spark, new Path(path, "_delta_log"))
  }

  final class Iceberg(spark: SparkSession, path: String, m: Model) extends Table("iceberg", path, m) {
    def append(df: DataFrame): Long = IcebergLite.write(spark, df, path)
    def update(lo: Long, hi: Long): (Long, Long) =
      IcebergLite.updateWhere(spark, path, "k", lo, hi, Map("q" -> (col("q") + 1)))
    def delete(lo: Long, hi: Long): (Long, Long) = IcebergLite.deleteWhere(spark, path, "k", lo, hi)
    def merge(src: DataFrame): (Long, Long, Long) = IcebergLite.mergeInto(spark, path, src, "id")
    def read(v: Long): DataFrame = IcebergLite.read(spark, path, v)
    def maintain(commits: Int, timed: (String, () => Unit) => Unit): Unit = {
      if (commits % rewriteEvery == 0) timed("rewrite_manifests", () => {
        val (snap, _, _) = IcebergLite.rewriteManifests(spark, path)
        versions += ((snap, versions.last._2))
      })
      if (commits % expireEvery == 0) timed("expire", () => {
        IcebergLite.expireSnapshots(spark, path, keepSnapshots)
        versions.remove(0, math.max(0, versions.length - keepSnapshots))
      })
    }
    def metaFiles: Long = countFiles(spark, new Path(path, "metadata"))
  }

  def countFiles(spark: SparkSession, p: Path): Long = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.listStatus(p).count(_.isFile).toLong else 0L
  }

  def du(spark: SparkSession, p: Path): Long = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Bytes written by this JVM's Hadoop file systems so far. */
  def fsBytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum
  }

  /** One format call; `startNs` is its System.nanoTime start. */
  final case class Op(table: String, op: String, startNs: Long, ms: Double, cycle: Int)

  def run(a: Main.Args): Main.Result = {
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val k = a("k").toInt
    val data = a("data")
    val tmp = a("tmp")
    val rng = new scala.util.Random(seed)

    val steps = new Steps(data)
    val setup = new Setup(k, tmp, traced, steps)
    val spark = setup.run(a("setup-reps").toInt)
    val probe = if (traced) Some(new Probe(spark)) else None
    val s = spark

    // the cold phase starts with seeding both tables from lineitem
    val c0 = probe.map(_.read())
    val w0 = System.currentTimeMillis()
    val bw0 = fsBytesWritten()
    val mStart = System.nanoTime()
    var tables: Seq[Table] = Nil
    steps.timed("seed") {
      val src = s.read.parquet(s"$data/lineitem.parquet").where(col("l_linenumber") === 1)
        .select(col("l_orderkey"),
        col("l_quantity").cast("long"), round(col("l_extendedprice") * 100).cast("long"))
      val df = s.createDataFrame(src.rdd.zipWithIndex.map { case (r, i) =>
        Row(i, r.getLong(0), r.getLong(1), r.getLong(2)) }, schema).cache()
      val n = df.count().toInt
      val (k0, q0, cs0) = (new Array[Long](n), new Array[Long](n), new Array[Long](n))
      df.collect().foreach { r =>
        val i = r.getLong(0).toInt
        k0(i) = r.getLong(1); q0(i) = r.getLong(2); cs0(i) = r.getLong(3)
      }
      val base = new Model(k0, q0, cs0)
      val seeded = df.repartitionByRange(files, col("k"))
      val sum0 = base.checksum
      tables = Seq(
        new Delta(s, s"$tmp/history/delta", base.copy()),
        new Iceberg(s, s"$tmp/history/iceberg", base.copy()))
      tables.foreach { t =>
        t.versions += ((t.append(seeded), sum0))
      }
      df.unpersist()
    }
    require(tables.nonEmpty, "table_history could not seed its tables")

    val ops = mutable.ArrayBuffer.empty[Op]
    val maint = mutable.ArrayBuffer.empty[Op]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var userBytes = 0L
    val commits = mutable.Map.empty[String, Int].withDefaultValue(0)

    def fail(what: String): Unit = { log(s"FAILED: $what"); failures += what }

    def batch(rows: Seq[(Long, Long, Long, Long)]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(
        rows.map { case (i, kk, qq, cc) => Row(i, kk, qq, cc) }: _*), schema)

    def newRows(m: Model, n: Int): Seq[(Long, Long, Long, Long)] = {
      val band = rng.nextInt(keySpace - bandWidth)
      (0 until n).map { _ =>
        val (kk, qq, cc) = ((band + rng.nextInt(bandWidth)).toLong, 1L + rng.nextInt(50),
          90000L + rng.nextInt(10410000))
        (m.add(kk, qq, cc), kk, qq, cc)
      }
    }

    def randomRange(m: Model): (Long, Long) = {
      var i = rng.nextInt(m.n)
      while (!m.alive(i)) i = rng.nextInt(m.n)
      (m.k(i), m.k(i) + rangeWidth)
    }

    /** Run one format call; returns false when it threw. */
    def call(t: Table, op: String, cycle: Int, into: mutable.ArrayBuffer[Op])(f: => Unit): Boolean = {
      attempted += 1
      val t0 = System.nanoTime()
      val ok = try { f; true } catch {
        case e: Throwable =>
          e.printStackTrace(System.err)
          fail(s"${t.name}.$op: $e"); false
      }
      into += Op(t.name, op, t0, (System.nanoTime() - t0) / 1e6, cycle)
      ok
    }

    def commit(t: Table, op: String, cycle: Int)(f: => Long): Unit = {
      var v = -1L
      if (call(t, op, cycle, ops) { v = f }) {
        t.versions += ((v, t.model.checksum))
        commits(t.name) += 1
        t.maintain(commits(t.name), (name, body) => call(t, name, cycle, maint)(body()))
      }
    }

    def step(t: Table, op: String, cycle: Int): Unit = {
      val m = t.model
      op match {
        case "append" =>
          val rows = newRows(m, appendRows)
          userBytes += rows.length * rowBytes
          val df = batch(rows)
          commit(t, op, cycle)(t.append(df))
        case "update" =>
          val (lo, hi) = randomRange(m)
          val hit = m.inRange(lo, hi)
          hit.foreach(i => m.q(i) += 1)
          userBytes += hit.length * rowBytes
          commit(t, op, cycle) {
            val (v, n) = t.update(lo, hi)
            if (n != hit.length) fail(s"${t.name}.update [$lo,$hi]: $n rows, model ${hit.length}")
            v
          }
        case "delete" =>
          val (lo, hi) = randomRange(m)
          val hit = m.inRange(lo, hi)
          hit.foreach(i => m.alive(i) = false)
          commit(t, op, cycle) {
            val (v, n) = t.delete(lo, hi)
            if (n != hit.length) fail(s"${t.name}.delete [$lo,$hi]: $n rows, model ${hit.length}")
            v
          }
        case "merge" =>
          // upsert recent rows: half the source re-keys live rows among
          // the last few appended batches, half is new
          val recent = (math.max(0, m.n - 3 * appendRows) until m.n).filter(m.alive(_))
          val matched = rng.shuffle(recent).take(mergeRows / 2).sorted
          val upd = matched.map { i =>
            m.q(i) = 1L + rng.nextInt(50); m.c(i) = 90000L + rng.nextInt(10410000)
            (i.toLong, m.k(i), m.q(i), m.c(i))
          }
          val ins = newRows(m, mergeRows - matched.length)
          userBytes += (upd.length + ins.length) * rowBytes
          val src = batch(upd ++ ins)
          commit(t, op, cycle) {
            val (v, nu, ni) = t.merge(src)
            if (nu != upd.length || ni != ins.length)
              fail(s"${t.name}.merge: updated $nu inserted $ni, model ${upd.length}/${ins.length}")
            v
          }
        case "read_head" =>
          val want = m.checksum
          call(t, op, cycle, ops) {
            val got = checksum(t.read(-1L))
            if (got != want) fail(s"${t.name}.read_head: $got, model $want")
          }
        case "read_asof" =>
          val older = t.versions.dropRight(1)
          if (older.nonEmpty) {
            val (v, want) = older(rng.nextInt(older.length))
            call(t, op, cycle, ops) {
              val got = checksum(t.read(v))
              if (got != want) fail(s"${t.name}.read_asof@$v: $got, model $want")
            }
          }
      }
    }

    val opNames = Seq("append", "update", "delete", "merge", "read_head", "read_asof")
    // cycle 0 is the cold one: its wall time includes the seeding
    val cycleS = mutable.ArrayBuffer.empty[Double]
    var t0 = mStart
    while (cycleS.length < 1 + minWarmCycles || (System.nanoTime() - mStart) / 1e9 < seconds) {
      val cycle = cycleS.length
      for (t <- tables; op <- opNames) step(t, op, cycle)
      cycleS += (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
    }
    val loopMs = (System.nanoTime() - mStart) / 1e6
    val written = fsBytesWritten() - bw0
    val layers = probe.map { p =>
      val l = Probe.layers(p.read() - c0.get, loopMs, p.jobWallMs(w0, System.currentTimeMillis()))
      p.close()
      l
    }.getOrElse(Map.empty)

    // space: table directories on disk vs a fresh copy of each head snapshot
    val onDisk = tables.map(t => du(spark, new Path(t.path))).sum
    val compact = tables.map { t =>
      val p = s"$tmp/history/compact_${t.name}"
      t.read(-1L).coalesce(1).write.mode("overwrite").parquet(p)
      du(spark, new Path(p))
    }.sum
    val metaFiles = tables.map(t => t.name -> t.metaFiles).toMap
    spark.stop()

    val warmOps = ops.filter(_.cycle > 0).toSeq
    val commitMs = warmOps.filter(o => Set("append", "update", "delete", "merge")(o.op)).map(_.ms)
    val readMs = warmOps.filter(_.op.startsWith("read")).map(_.ms)
    val perOp = (ops ++ maint).groupBy(o => s"${o.table}.${o.op}").flatMap { case (n, xs) =>
      Seq(s"${n}_p50_ms" -> pct(xs.map(_.ms).toSeq, 50), s"${n}_p90_ms" -> pct(xs.map(_.ms).toSeq, 90))
    }
    val e2e = Seq(
      "setup_s" -> median(setup.totalS.toSeq),
      "cold_s" -> cycleS.head,
      "warm_s" -> median(cycleS.tail.toSeq),
      "peak_rss_mb" -> Main.peakRssMb())
    val perLayer: Map[String, Double] = if (!traced) Map.empty else
      layers ++ setup.metrics ++ perOp ++ Map(
        "history.seed_ms" -> steps.ms("seed").head,
        "history.commit_p50_ms" -> pct(commitMs, 50),
        "history.commit_p90_ms" -> pct(commitMs, 90),
        "history.read_p50_ms" -> pct(readMs, 50),
        "history.read_p90_ms" -> pct(readMs, 90),
        "history.write_amp" -> written.toDouble / math.max(1L, userBytes),
        "history.space_amp" -> onDisk.toDouble / math.max(1L, compact),
        "delta.log_files" -> metaFiles("delta").toDouble,
        "iceberg.metadata_files" -> metaFiles("iceberg").toDouble)
    Report.result(a, "table_history", k, setup, e2e, perLayer,
      attempted = attempted + steps.attempted.get,
      failures = failures.toSeq ++ steps.failures,
      details = Json.obj(
        "cycles" -> cycleS.length,
        "warm_latency" -> Main.latency(warmOps.map(_.ms)),
        "spans" -> (ops ++ maint).sortBy(_.startNs).map(o => Json.obj("cycle" -> o.cycle,
          "call" -> s"${o.table}.${o.op}", "start_ms" -> (o.startNs - mStart) / 1e6,
          "dur_ms" -> o.ms)),
        "cycle_s" -> cycleS.toSeq,
        "commits" -> commits.toMap,
        "commit_p50_ms" -> pct(commitMs, 50), "commit_p90_ms" -> pct(commitMs, 90),
        "read_p50_ms" -> pct(readMs, 50), "read_p90_ms" -> pct(readMs, 90),
        "user_bytes" -> userBytes, "bytes_written" -> written,
        "write_amp" -> written.toDouble / math.max(1L, userBytes),
        "bytes_on_disk" -> onDisk, "bytes_live_compact" -> compact,
        "space_amp" -> onDisk.toDouble / math.max(1L, compact),
        "meta_files" -> metaFiles,
        "live_rows" -> tables.map(t => t.name -> t.model.live).toMap,
        "per_op_ms" -> perOp,
        "layers" -> layers,
        "top3_layers" -> Probe.layerSeconds(layers).take(3).map(_._1)))
  }
}
