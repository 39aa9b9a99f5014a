package perfbench

import java.io.File
import org.apache.spark.sql.functions.{col, sum}

/** Runs one workload and prints one JSON result line last.
  *
  * {{{
  * Main --workload etl|serve|engine_mix --seed N --seconds S --trace 0|1
  *      --work DIR --traces DIR [--sf DIR]
  * }}}
  *
  * With `--trace 0` the metrics are the end-to-end ones, measured with
  * no tracing; with `--trace 1` they are the per-layer ones, from spans
  * and Spark-listener counters, and the spans are written under
  * `--traces`. Output checks count into `failed`; they never stop the run.
  */
object Main {
  val Workloads = Seq("etl", "serve", "engine_mix")

  /** End-to-end metrics, printed by every untraced run. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "op_p50_ms" -> "ms", "live_heap_mb" -> "MB", "ok_frac" -> "frac")

  val Endpoints: Seq[String] = Serve.Endpoints

  /** Per-layer metrics, printed by every traced run; a layer a workload
    * does not run reads 0.
    */
  val PerLayer: Seq[(String, String)] =
    Seq("ingest.read_s" -> "s", "ingest.code_s" -> "s", "ingest.features_in" -> "count",
      "ingest.rows_clean" -> "count", "ingest.quarantined" -> "count",
      "geo.normalize_s" -> "s", "geo.points_in" -> "count", "geo.points_out" -> "count",
      "store.merge_s" -> "s", "store.merge_write_s" -> "s", "store.rows_rewritten" -> "count",
      "store.bytes_written" -> "bytes", "store.files_written" -> "count", "store.load_ms" -> "ms") ++
      Endpoints.flatMap(e => Seq(s"api.$e.p50_ms" -> "ms", s"api.$e.jobs_per_req" -> "count",
        s"api.$e.tasks_per_req" -> "count", s"api.$e.driver_gap_ms" -> "ms")) ++
      Seq("api.search.rows_read_per_result" -> "ratio") ++
      Engine.Mix.flatMap(q => Seq(s"engine.$q.plan_ms" -> "ms", s"engine.$q.jobs" -> "count",
        s"engine.$q.stages" -> "count", s"engine.$q.tasks" -> "count", s"engine.$q.task_s" -> "s",
        s"engine.$q.shuffle_mb" -> "MB", s"engine.$q.driver_gap_s" -> "s")) ++
      Seq("engine.spill_mb" -> "MB", "engine.peak_task_mem_mb" -> "MB",
        "etl.sync_cold_s" -> "s", "etl.resync_s" -> "s", "etl.sync_kab_s" -> "s",
        "etl.read_after_sync_ms" -> "ms", "serve.rps" -> "1/s", "serve.p90_ms" -> "ms",
        "serve.under_300ms_frac" -> "frac", "engine.mix_s" -> "s", "engine.rank_s" -> "s",
        "engine.small_s" -> "s", "probe.scan_ms" -> "ms", "probe.shuffle_ms" -> "ms",
        "jvm.peak_rss_mb" -> "MB", "trace.overhead_pct" -> "pct")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val traced = opt("trace") == "1"
    val nproc = Runtime.getRuntime.availableProcessors
    val work = new File(opt("work"))
    work.mkdirs()

    val t0 = System.nanoTime()
    val spark = graft.Sessions.build(nproc.toString, s"perfbench-$workload")
    System.err.println(f"[perfbench] session up in ${Run.secondsSince(t0)}%.2f s")
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (traced) Some(new Trace(spark.sparkContext)) else None
    val r = new Run(spark, work, opt("seed").toLong, opt("seconds").toDouble, trace, nproc)
    try {
      if (traced) probe(r)
      workload match {
        case "etl" => Etl.run(r)
        case "serve" => Serve.run(r)
        case "engine_mix" => Engine.run(r, opt("sf"))
      }
      r.heapCheckpoint()
      trace.foreach { t =>
        probe(r)
        t.drain()
        perLayer(r, t)
        val dir = t.write(new File(opt("traces")))
        System.err.println(s"[perfbench] spans written to ${dir.getParent}")
      }
    } finally {
      r.shutdown()
      spark.stop()
      System.err.println(f"[perfbench] done in ${Run.secondsSince(t0)}%.2f s")
    }
    r.put("jvm.peak_rss_mb", peakRssMb())
    r.put("ok_frac", 1.0 - r.failed.toDouble / math.max(1L, r.attempted))
    val names = if (traced) PerLayer else EndToEnd
    val metrics = names.map { case (name, unit) =>
      val v = r.metrics.getOrElse(name, 0.0)
      s""""$name":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$unit"}"""
    }
    println(s"""{"correct":${r.failed == 0},"attempted":${math.max(1L, r.attempted)},""" +
      s""""failed":${r.failed},"metrics":{${metrics.mkString(",")}}}""")
  }

  /** Weather probes from graft.Bench, on generated rows so every
    * workload can take them: a scan with a scalar aggregate, and the
    * same rows pushed through a 16-way hash exchange.
    */
  private def probe(r: Run): Unit = {
    val spark = r.spark
    def scan() = spark.range(0, 6000000L).select(sum(col("id") * (col("id") % 50)))
      .write.format("noop").mode("overwrite").save()
    def shuffle() = spark.range(0, 2000000L).filter(col("id") % 4 === 0)
      .repartition(16, col("id")).agg(sum(col("id") % 7)).write.format("noop").mode("overwrite").save()
    def ms(f: () => Unit): Double = { val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e6 }
    scan(); shuffle()
    val scans = (1 to 3).map(_ => ms(() => scan()))
    val shuffles = (1 to 3).map(_ => ms(() => shuffle()))
    probeScans ++= scans
    probeShuffles ++= shuffles
    r.put("probe.scan_ms", Stats.median(probeScans.toSeq))
    r.put("probe.shuffle_ms", Stats.median(probeShuffles.toSeq))
  }
  private val probeScans = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val probeShuffles = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Per-layer metrics from the spans and their Spark counters. */
  private def perLayer(r: Run, t: Trace): Unit = {
    val spans = t.allSpans
    val aggs = t.bySpan()
    val none = new Trace.Agg
    def named(n: String) = spans.filter(_.name == n)
    def agg(s: Trace.Span) = aggs.getOrElse(s.id, none)
    def totalS(n: String) = named(n).map(_.ms).sum / 1000
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val mb = 1024.0 * 1024.0

    Seq("ingest.read", "ingest.code", "geo.normalize", "store.merge", "store.merge_write")
      .foreach(n => r.put(n + "_s", totalS(n)))
    Seq("ingest.features_in", "ingest.rows_clean", "geo.points_in", "geo.points_out", "store.files_written")
      .foreach(n => r.put(n, r.count(n).toDouble))
    r.put("ingest.quarantined", (r.count("ingest.features_in") - r.count("ingest.rows_clean")).toDouble)
    val writes = named("store.merge_write").map(agg)
    r.put("store.rows_rewritten", writes.map(_.outputRecords).sum.toDouble)
    r.put("store.bytes_written", writes.map(_.outputBytes).sum.toDouble)
    r.put("store.load_ms", med(named("store.load").map(_.ms)))

    Endpoints.foreach { e =>
      val ss = named(s"api.$e")
      r.put(s"api.$e.p50_ms", med(ss.map(_.ms)))
      r.put(s"api.$e.jobs_per_req", mean(ss.map(agg(_).jobs.toDouble)))
      r.put(s"api.$e.tasks_per_req", mean(ss.map(agg(_).tasks.toDouble)))
      r.put(s"api.$e.driver_gap_ms", med(ss.map(s => agg(s).driverGapUs(s) / 1000.0)))
    }
    val searchRead = named("api.search").map(agg(_).inputRecords).sum
    r.put("api.search.rows_read_per_result",
      searchRead.toDouble / math.max(1L, r.count("api.search.results")))

    var spill = 0L
    var peak = 0L
    Engine.Mix.foreach { q =>
      named(s"engine.$q").foreach { top =>
        val parts = (Seq(top) ++ spans.filter(_.parent == top.id)).map(agg)
        val all = new Trace.Agg
        parts.foreach(p => all.jobIntervals ++= p.jobIntervals)
        r.put(s"engine.$q.plan_ms", named(s"engine.$q.plan").map(_.ms).sum)
        r.put(s"engine.$q.jobs", parts.map(_.jobs).sum.toDouble)
        r.put(s"engine.$q.stages", parts.map(_.stages).sum.toDouble)
        r.put(s"engine.$q.tasks", parts.map(_.tasks).sum.toDouble)
        r.put(s"engine.$q.task_s", parts.map(_.taskMs).sum / 1000.0)
        r.put(s"engine.$q.shuffle_mb", parts.map(_.shuffleBytes).sum / mb)
        r.put(s"engine.$q.driver_gap_s", all.driverGapUs(top) / 1e6)
        spill += parts.map(_.spillBytes).sum
        peak = math.max(peak, parts.map(_.peakTaskMem).max)
      }
    }
    r.put("engine.spill_mb", spill / mb)
    r.put("engine.peak_task_mem_mb", peak / mb)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
