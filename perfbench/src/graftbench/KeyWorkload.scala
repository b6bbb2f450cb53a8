package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import Main.{log, median, pct}

/** The three key workloads: a seeded, stratified sample of the query keys
  * of one engine area, run once cold and then in warm passes until the
  * measurement window is over. Every execution's `count()` is checked
  * against the DuckDB oracle's row count at the same data set. */
object KeyWorkload {
  type Key = (SparkSession, String) => DataFrame

  def keys(workload: String): Map[String, Key] = workload match {
    case "relational_keys" =>
      graft.cdc.CdcQueries.queries ++ graft.ingest.Integrity.queries ++
        graft.relational.ReferenceSurface.queries ++ graft.relational.CoreQueries.queries ++
        graft.relational.StatsOps.queries ++ graft.relational.EventAnalytics.queries ++
        graft.relational.GraphOps.queries ++ graft.relational.OrderedOps.queries ++
        graft.relational.SpatialOps.queries ++ graft.relational.RecordLinkage.queries ++
        graft.streaming.StreamQueries.queries
    case "llm_keys" =>
      graft.llm.LlmQueries.queries ++ graft.llm.TrainingSets.queries ++
        graft.llm.Retrieval.queries ++ graft.llm.FeatureOps.queries ++
        graft.llm.CorpusStats.queries
    case "format_keys" =>
      graft.sources.FormatQueries.queries ++ graft.sources.AvroFormat.queries
    case w => sys.error(s"unknown workload $w")
  }

  /** Keys that are always in the sample: the two lazy artifact builds the
    * cold-gap report must show. */
  def required(workload: String): Seq[String] = workload match {
    case "llm_keys" => Seq("x_dedup_canonical", "x_cross_source_dups")
    case _ => Nil
  }

  /** Keys per run. */
  def sampleSize(workload: String): Int = workload match {
    case "relational_keys" => 12
    case "llm_keys" => 6
    case _ => 10
  }

  /** Warm passes after the cold one: the first settles (JIT, caches) and
    * is not reported; the rest are measured. */
  val settlePasses = 1
  val minWarmPasses = 2

  /** The fixed key sample: the required keys plus, for the rest, the middle
    * key of each of `n` equal-count strata of the calibrated warm-time
    * ranking (keys missing from the calibration rank at the median). A
    * seed-drawn sample would make the run-to-run spread mostly a matter of
    * which keys were drawn, so the sample is fixed and the seed orders it. */
  def sample(all: Seq[String], warmMs: Map[String, Double], n: Int,
      must: Seq[String]): Seq[String] = {
    val mid = median(warmMs.values.toSeq)
    val ranked = all.filterNot(must.contains).sortBy(k => (warmMs.getOrElse(k, mid), k))
    val m = math.min(n - must.length, ranked.length)
    must ++ (0 until m).map { i =>
      ranked((i * ranked.length / m + (i + 1) * ranked.length / m) / 2)
    }
  }

  /** Expected row counts: key -> rows from the DuckDB oracle; keys the
    * oracle file lists without a count must return rows > 0. */
  final class Expected(path: String) {
    private val node = Json.read(path)
    val counts: Map[String, Long] =
      node.get("counts").fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    def check(key: String, rows: Long): Option[String] = counts.get(key) match {
      case Some(n) if n != rows => Some(s"rows=$rows, oracle=$n")
      case None if rows <= 0 => Some(s"rows=$rows with no oracle (needs > 0)")
      case _ => None
    }
  }

  /** Lazy session-artifact builds so far in this JVM: SessionIndex
    * registrations plus near-dup cluster memo entries. Only one session is
    * live while keys run, so deltas belong to it. Both registries are
    * private, so their sizes are read reflectively (read-only). */
  def artifactBuilds(): Long = {
    def field(obj: AnyRef, suffix: String): java.util.Map[String, _] = {
      val f = obj.getClass.getDeclaredFields.find(_.getName.endsWith(suffix)).get
      f.setAccessible(true)
      f.get(obj).asInstanceOf[java.util.Map[String, _]]
    }
    val builds = field(graft.relational.SessionIndex, "builds").values.asScala
      .map(_.asInstanceOf[java.util.concurrent.atomic.LongAdder].sum).sum
    builds + field(graft.llm.Dedup, "clusterMemo").size
  }

  /** One key execution; `startNs` is its System.nanoTime start. */
  final case class Exec(key: String, startNs: Long, ms: Double, rows: Long,
      error: Option[String], builds: Long)

  def exec(spark: SparkSession, data: String, key: String, fn: Key,
      expected: Expected): Exec = {
    val b0 = artifactBuilds()
    val t0 = System.nanoTime()
    val (rows, err) =
      try {
        val n = fn(spark, data).count()
        (n, expected.check(key, n))
      } catch {
        case e: Throwable => (-1L, Some(e.toString))
      }
    val ms = (System.nanoTime() - t0) / 1e6
    err.foreach(e => log(s"$key FAILED: $e"))
    // caches a key creates must not outlive it (the engine bench does
    // the same, outside the timing)
    spark.catalog.clearCache()
    Exec(key, t0, ms, rows, err, artifactBuilds() - b0)
  }

  /** One pass over `order`; returns the executions, the pass wall time in
    * seconds and, when traced, the pass's layer metrics. */
  def pass(spark: SparkSession, data: String, order: Seq[String], all: Map[String, Key],
      expected: Expected, probe: Option[Probe]): (Seq[Exec], Double, Map[String, Double]) = {
    val c0 = probe.map(_.read())
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val execs = order.map(k => exec(spark, data, k, all(k), expected))
    val wallS = (System.nanoTime() - t0) / 1e9
    val layers = probe.map { p =>
      val d = p.read() - c0.get
      val l = Probe.layers(d, wallS * 1000.0, p.jobWallMs(w0, System.currentTimeMillis()))
      p.forgetBefore(System.currentTimeMillis())
      l
    }.getOrElse(Map.empty)
    (execs, wallS, layers)
  }

  def run(a: Main.Args, workload: String): Main.Result = {
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val k = a("k").toInt
    val data = a("data")
    val all = keys(workload)
    val expected = new Expected(a("expected"))
    val warmMs = Json.read(a("calibration")).path(workload).fields().asScala
      .map(e => e.getKey -> e.getValue.path("warm_ms").asDouble).toMap
    val order = new scala.util.Random(seed).shuffle(
      sample(all.keys.toSeq, warmMs, sampleSize(workload), required(workload)))
    log(s"$workload seed=$seed keys: ${order.mkString(",")}")

    val steps = new Steps(data)
    val setup = new Setup(k, a("tmp"), traced, steps)
    val spark = setup.run(a("setup-reps").toInt)
    val probe = if (traced) Some(new Probe(spark)) else None

    val mStart = System.nanoTime()
    val (cold, coldS, coldLayers) = pass(spark, data, order, all, expected, probe)
    log(f"cold pass: $coldS%.2f s")
    val settle = (1 to settlePasses).map(_ => pass(spark, data, order, all, expected, probe))
    log("settling passes: " + settle.map(p => f"${p._2}%.2f s").mkString(" "))
    val warm = mutable.ArrayBuffer.empty[(Seq[Exec], Double, Map[String, Double])]
    while (warm.length < minWarmPasses || (System.nanoTime() - mStart) / 1e9 < seconds) {
      warm += pass(spark, data, order, all, expected, probe)
      log(f"warm pass ${warm.length}: ${warm.last._2}%.2f s")
    }
    probe.foreach(_.close())
    val warmExecs = warm.flatMap(_._1).toSeq
    val execs = cold ++ settle.flatMap(_._1) ++ warmExecs
    val failed = execs.filter(_.error.nonEmpty)
    val warmKeyMs = order.map(key => key -> median(warmExecs.filter(_.key == key).map(_.ms))).toMap
    val gaps = cold.map(e => (e.key, e.ms - warmKeyMs(e.key), e.builds)).sortBy(-_._2)

    val e2e = Seq(
      "setup_s" -> median(setup.totalS.toSeq),
      "cold_s" -> coldS,
      // best of the measured passes: host contention only adds time
      "warm_s" -> warm.map(_._2).min,
      "peak_rss_mb" -> Main.peakRssMb())
    val warmLayers = if (!traced) Map.empty[String, Double] else
      warm.head._3.keys.map(n => n -> warm.map(_._3(n)).sum / warm.length).toMap
    val perLayer: Map[String, Double] = if (!traced) Map.empty else
      warmLayers ++ coldLayers.filter(_._1.startsWith("codegen.")) ++ setup.metrics ++ Map(
        "session.index_builds" -> cold.map(_.builds).sum.toDouble,
        "key.cold_gap_ms" -> gaps.map(_._2).sum)
    spark.stop()
    Report.result(a, workload, k, setup, e2e, perLayer,
      attempted = execs.length + steps.attempted.get,
      failures = failed.map(e => s"${e.key}: ${e.error.get}") ++ steps.failures,
      details = Json.obj(
        "keys" -> order,
        "warm_latency" -> Main.latency(warmExecs.map(_.ms)),
        "spans" -> (cold +: (settle ++ warm).map(_._1)).zipWithIndex.flatMap { case (p, i) =>
          p.map(e => Json.obj("pass" -> i, "key" -> e.key,
            "start_ms" -> (e.startNs - mStart) / 1e6, "dur_ms" -> e.ms)) },
        "cold_ms" -> cold.map(e => e.key -> e.ms).toMap,
        "warm_ms" -> warmKeyMs,
        "settle_pass_s" -> settle.map(_._2),
        "warm_passes" -> warm.length,
        "warm_pass_s" -> warm.map(_._2),
        "cold_gap_top10" -> gaps.take(10).map { case (key, g, b) =>
          Json.obj("key" -> key, "gap_ms" -> g, "artifact_builds" -> b) },
        "layers_cold" -> coldLayers,
        "layers_warm_mean" -> warmLayers,
        "top3_layers_cold" -> Probe.layerSeconds(coldLayers).take(3).map(_._1),
        "top3_layers_warm" -> Probe.layerSeconds(warmLayers).take(3).map(_._1)))
  }

  /** Every key of the workload once cold and twice warm: the warm-time
    * ranking the stratified sample is cut from, the full cold-gap table,
    * and a whole-workload output check. */
  def calibrate(a: Main.Args): Unit = {
    val workload = a("workload")
    val k = a("k").toInt
    val data = a("data")
    val all = keys(workload)
    val expected = new Expected(a("expected"))
    val steps = new Steps(data)
    val spark = new Setup(k, a("tmp"), traced = false, steps).run(1)
    val order = all.keys.toSeq.sorted
    val (cold, _, _) = pass(spark, data, order, all, expected, None)
    val warm = (1 to 2).map(_ => pass(spark, data, order, all, expected, None)._1)
    spark.stop()
    val rows = cold.indices.map { i =>
      val w = warm.map(_(i).ms).min
      cold(i).key -> Json.obj("cold_ms" -> cold(i).ms, "warm_ms" -> w,
        "gap_ms" -> (cold(i).ms - w), "artifact_builds" -> cold(i).builds,
        "rows" -> cold(i).rows, "error" -> (cold(i).error ++ warm.flatMap(_(i).error)).headOption)
    }
    Files.writeString(Paths.get(a("out")), Json.write(Json.obj(
      "workload" -> workload, "env" -> Env(a, k),
      "steps_ms" -> steps.ms.map { case (n, v) => n -> v.toSeq },
      "failures" -> steps.failures, "keys" -> rows.toMap)))
  }
}

/** Builds the contract's result line and the full result record. */
object Report {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_s" -> "s", "warm_s" -> "s", "peak_rss_mb" -> "MB")

  private val historyOps = Seq("append", "update", "delete", "merge", "read_head", "read_asof")
  val perLayer: Seq[(String, String)] = Seq(
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.executions" -> "count",
    "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
    "jobs.count" -> "count", "jobs.tasks" -> "count", "jobs.wall_ms" -> "ms",
    "jobs.task_run_ms" -> "ms", "jobs.task_cpu_ms" -> "ms", "jobs.gc_ms" -> "ms",
    "jobs.scan_bytes" -> "B", "jobs.shuffle_bytes" -> "B", "jobs.spill_bytes" -> "B",
    "jobs.failed_tasks" -> "count",
    "driver.outside_jobs_ms" -> "ms", "driver.residual_ms" -> "ms",
    "fs.read_ops" -> "count", "fs.write_ops" -> "count", "fs.list_ops" -> "count",
    "fs.bytes_read" -> "B", "fs.bytes_written" -> "B",
    "setup.session_ms" -> "ms", "setup.jit_ms" -> "ms", "setup.writers_ms" -> "ms",
    "setup.table_listing_ms" -> "ms", "history.seed_ms" -> "ms",
    "session.index_builds" -> "count", "key.cold_gap_ms" -> "ms",
    "history.commit_p50_ms" -> "ms", "history.commit_p90_ms" -> "ms",
    "history.read_p50_ms" -> "ms", "history.read_p90_ms" -> "ms",
    "history.write_amp" -> "ratio", "history.space_amp" -> "ratio") ++
    (historyOps :+ "checkpoint").flatMap(op =>
      Seq(s"delta.${op}_p50_ms" -> "ms", s"delta.${op}_p90_ms" -> "ms")) ++
    (historyOps ++ Seq("rewrite_manifests", "expire")).flatMap(op =>
      Seq(s"iceberg.${op}_p50_ms" -> "ms", s"iceberg.${op}_p90_ms" -> "ms")) ++
    Seq("delta.log_files" -> "count", "iceberg.metadata_files" -> "count")

  def result(a: Main.Args, workload: String, k: Int, setup: Setup,
      e2e: Seq[(String, Double)], layers: Map[String, Double], attempted: Long,
      failures: Seq[String], details: Seq[Json.Field]): Main.Result = {
    val traced = a("trace") == "1"
    val unknown = layers.keySet -- perLayer.map(_._1)
    require(unknown.isEmpty, s"undeclared layer metrics: ${unknown.mkString(",")}")
    val metrics =
      if (traced) perLayer.map { case (n, u) =>
        n -> Json.obj("value" -> layers.getOrElse(n, 0.0), "unit" -> u) }
      else endToEnd.map { case (n, u) =>
        n -> Json.obj("value" -> e2e.toMap.apply(n), "unit" -> u) }
    val line = Json.obj(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failures.length.toLong,
      "metrics" -> Json.obj(metrics: _*))
    Main.Result(line, Json.obj(
      "workload" -> workload,
      "env" -> Env(a, k),
      "result" -> line,
      "end_to_end" -> e2e.toMap,
      "fail_ratio" -> failures.length.toDouble / math.max(1L, attempted),
      "failures" -> failures,
      "setup_runs_s" -> setup.totalS.toSeq,
      "steps_ms" -> setup.steps.ms.map { case (n, v) => n -> v.toSeq },
      "per_layer" -> layers,
      "details" -> details))
  }
}
