package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark driver: one JVM, one client thread, closed loop.
  *
  *   run          one workload for `--seconds`, printing the result line
  *   calibrate    every key of a key workload once cold and twice warm
  *   oracle-sql   write every key's DuckDB oracle SQL as JSON
  */
object Main {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String, d: String): String = m.getOrElse(k, d)
  }

  def parse(args: Array[String]): Args =
    Args(args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.get("mode", "run") match {
      case "oracle-sql" =>
        Files.writeString(Paths.get(a("out")),
          Json.write(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).toMap))
      case "calibrate" => KeyWorkload.calibrate(a)
      case "run" =>
        val res = a("workload") match {
          case "table_history" => History.run(a)
          case w => KeyWorkload.run(a, w)
        }
        Files.writeString(Paths.get(a("out")), Json.write(res.full))
        println(Json.write(res.line))
      case m => sys.error(s"unknown mode $m")
    }
  }

  /** The outcome of one run: the contract's result line plus the full
    * record written to the result file. */
  final case class Result(line: Seq[Json.Field], full: Seq[Json.Field])

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Median, plus the highest whole percentile with at least ten samples
    * above it, and the sample count: the latency summary a result reports. */
  def latency(xs: Seq[Double]): Seq[Json.Field] = {
    val tail = math.max(50, math.floor(100.0 * (xs.length - 10) / math.max(1, xs.length)).toInt)
    Json.obj("samples" -> xs.length, "p50_ms" -> pct(xs, 50),
      "tail_pct" -> tail, "tail_ms" -> pct(xs, tail))
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** A Spark session built with the same confs as the engine's own bench
  * (AQE on, UTC, codegen cache 10000, shuffle partitions = k), plus scratch
  * directories under the run's own directory. */
object Session {
  def confs(k: Int, tmp: String, traced: Boolean): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$k]",
    "spark.sql.shuffle.partitions" -> k.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.local.dir" -> s"$tmp/spark-local",
    "spark.sql.warehouse.dir" -> s"$tmp/warehouse") ++
    (if (traced) Seq("spark.hadoop.fs.file.impl" -> classOf[CountingFs].getName) else Nil)

  def start(k: Int, tmp: String, traced: Boolean): SparkSession = {
    val b = SparkSession.builder().withExtensions(new graft.functions.GraftExtensions())
    confs(k, tmp, traced).foreach { case (key, v) => b.config(key, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Named, timed steps. A failing step is logged with its exception and
  * counted as a failed operation — never swallowed. */
final class Steps(dataDir: String) {
  import Main.log

  val attempted = new java.util.concurrent.atomic.AtomicLong
  val failures = mutable.ArrayBuffer.empty[String]
  /** step -> ms, one entry per time it ran */
  val ms = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def timed(name: String)(f: => Unit): Unit = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try f catch {
      case e: Throwable =>
        log(s"step $name FAILED: $e")
        e.printStackTrace(System.err)
        failures += s"$name: $e"
    }
    ms.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
  }

  /** The engine bench's warm-up steps, by name, minus its session-artifact
    * builds: those are left to the keys that need them, so that the cold
    * pass pays them as a fresh job does. */
  def run(name: String, s: SparkSession): Unit = timed(name)(name match {
    case "jit" => s.range(1000000L).selectExpr("sum(id)").collect()
    case "writers" => Seq("parquet", "csv", "json", "orc").foreach { fmt =>
      s.range(8L).coalesce(1).write.mode("overwrite").format(fmt)
        .save(graft.ingest.Sinks.tempDir(s"warm_$fmt"))
    }
    case "table_listing" => graft.model.Tables.names.foreach { t =>
      val df = if (t == "events") graft.model.Tables.events(s, dataDir)
        else graft.model.Tables.load(s, dataDir, t)
      df.limit(1).count()
    }
    case other => sys.error(s"unknown step $other")
  })

  /** `<prefix>.<step>_ms` -> median time, for the given steps. */
  def metrics(prefix: String, names: Seq[String]): Seq[(String, Double)] =
    names.filter(ms.contains).map(n => s"$prefix.${n}_ms" -> Main.median(ms(n).toSeq))
}

/** The declared warm-up: session start plus the basic steps every workload
  * needs (JIT, writer init, table listing), repeated `reps` times on fresh
  * sessions so that `setup_s` is a median. */
final class Setup(k: Int, tmp: String, traced: Boolean, val steps: Steps) {
  val names = Seq("session", "jit", "writers", "table_listing")
  val totalS = mutable.ArrayBuffer.empty[Double]

  /** Set up `reps` times, each on a fresh session (the previous one is
    * stopped), and return the last session for the measured phase. */
  def run(reps: Int): SparkSession = {
    var spark: SparkSession = null
    (1 to reps).foreach { r =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      steps.timed("session") { spark = Session.start(k, tmp, traced) }
      names.tail.foreach(steps.run(_, spark))
      totalS += (System.nanoTime() - t0) / 1e9
      Main.log(f"setup $r/$reps: ${totalS.last}%.2f s " +
        names.map(n => f"$n=${steps.ms(n).last}%.0f").mkString(" "))
    }
    spark
  }

  def metrics: Seq[(String, Double)] = steps.metrics("setup", names)
}

/** Everything a result file records about where and how it was measured. */
object Env {
  /** Paths are recorded relative to the working directory. */
  private def rel(p: String): String = p.stripPrefix(sys.props("user.dir") + "/")

  def apply(a: Main.Args, k: Int): Seq[Json.Field] = Json.obj(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "k" -> k,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
    "spark" -> org.apache.spark.SPARK_VERSION,
    "git_sha" -> a.get("git-sha", "unknown"),
    "seed" -> a("seed").toLong,
    "seconds" -> a("seconds").toInt,
    "trace" -> (a("trace") == "1"),
    "data_dir" -> rel(a("data")),
    "confs" -> Session.confs(k, a("tmp"), a("trace") == "1").map { case (n, v) => n -> rel(v) }.toMap)
}
