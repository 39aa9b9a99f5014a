package perfbench

import java.io.File
import graft.{QueryDef, Queries, Tables}

/** `engine_mix`: two fixed queries on the sf0.1 tables, run the way
  * `graft.Bench` runs them — query by query, untimed warm-ups, timed
  * passes into the `noop` sink, then `clearCache` — so planning, AQE,
  * shuffle width and the custom kernels do the work and no wilayah
  * layer runs. The warm-up writes each result as Parquet, and the
  * oracle SQL goes next to it in `oracle_sql.json`, the layout
  * `tools/check_oracle.py` (the repository's DuckDB compare) reads; run.py
  * runs that check.
  *
  * Why these two: q171 (HITS) is a fixed-iteration rank loop, whose plan
  * grows with the iteration count; q81 is a small, overhead-bound query
  * that spends its time in planning and per-job cost, a shape where 8
  * cores beat 32. The small query runs last, on a JVM the rank loop has
  * warmed, so JIT warm-up does not swamp its sub-second timings.
  */
object Engine {
  val Rank = "q171_hits"
  val Small = "q81_snapshot_diff"
  val Mix: Seq[String] = Seq(Rank, Small)
  /** The tables the mix reads; set-up loads these. */
  val MixTables: Seq[String] = Seq("orders", "lineitem", "documents")
  val SetupReps = 3
  val DeadlineS = 120.0
  val WarmUps = 4
  val MinPasses = 3
  val MaxPasses = 5

  def run(r: Run, sfDir: String): Unit = {
    val spark = r.spark
    val setups = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      MixTables.foreach(n => Tables.load(spark, sfDir, n).count())
      Run.secondsSince(t0)
    }
    r.put("setup_s", Stats.median(setups))
    r.heapCheckpoint()
    val defs: Seq[QueryDef] = Mix.map(Queries.byName)
    require(defs.forall(_.oracle.nonEmpty), "every mix query needs an oracle to be checked against")
    val results = new File(r.work, "results")
    results.mkdirs()
    val oracle = defs.flatMap(q => q.oracle.map(sql => "\"" + q.name + "\":" + jsonString(materialized(sql.trim))))
    java.nio.file.Files.writeString(new File(results, "oracle_sql.json").toPath,
      oracle.mkString("{", ",\n", "}\n"))

    // query by query as graft.Bench does: warm-up, timed passes, then
    // clearCache, so no query runs on another's persisted frames. Each
    // query gets MinPasses timed passes, more while its share of the
    // window lasts, and reports their median.
    val perQueryS = r.seconds / defs.size
    val medians = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var plainTotal = 0.0
    var tracedTotal = 0.0
    defs.foreach { q =>
      val w0 = System.nanoTime()
      r.step(s"warm-up ${q.name}")(q.build(spark, sfDir).write.mode("overwrite")
        .parquet(new File(results, q.name).getPath))
      // more warm-ups: after one, q171's next runs were still getting
      // faster (1.8, 1.3, 1.2 s), and after two some runs still were
      (1 until WarmUps).foreach { _ =>
        r.step(s"warm-up ${q.name}")(q.build(spark, sfDir).write.format("noop").mode("overwrite").save())
      }
      System.err.println(f"[perfbench] warm-up ${q.name} ${Run.secondsSince(w0)}%.2f s")
      val t0 = System.nanoTime()
      val times = scala.collection.mutable.ArrayBuffer(pass(r, q, sfDir, traced = false))
      if (r.trace.isEmpty) {
        while (times.size < MinPasses ||
          (times.size < MaxPasses && Run.secondsSince(t0) + times.last < perQueryS))
          times += pass(r, q, sfDir, traced = false)
      } else {
        plainTotal += times.head
        tracedTotal += pass(r, q, sfDir, traced = true)
      }
      spark.catalog.clearCache()
      medians(q.name) = Stats.median(times.toSeq)
      System.err.println(f"[perfbench] ${q.name} passes ${times.map(t => f"$t%.3f").mkString(" ")}")
    }
    if (r.trace.nonEmpty) r.put("trace.overhead_pct", (tracedTotal / plainTotal - 1) * 100)
    r.put("pass_s", medians.values.sum)
    r.put("op_p50_ms", medians(Small) * 1000)
    r.put("engine.mix_s", medians.values.sum)
    r.put("engine.rank_s", medians(Rank))
    r.put("engine.small_s", medians(Small))
    System.err.println("[perfbench] engine_mix medians: " +
      medians.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
  }

  /** One timed run of `q` into the noop sink; a failure or a missed
    * deadline counts as failed and reads as the deadline.
    */
  private def pass(r: Run, q: QueryDef, sfDir: String, traced: Boolean): Double =
    r.timed(q.name, DeadlineS) {
      val spark = r.spark
      if (!traced) q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
      else r.span("engine." + q.name) {
        val df = r.span(s"engine.${q.name}.plan") {
          val d = q.build(spark, sfDir)
          d.queryExecution.executedPlan
          d
        }
        r.span(s"engine.${q.name}.run")(df.write.format("noop").mode("overwrite").save())
      }
    }.map(_._2 / 1000).getOrElse(DeadlineS)

  /** The same SQL with every CTE marked MATERIALIZED. DuckDB 1.0 inlines
    * CTEs, and the rank-loop oracles name each iteration's CTE several
    * times in the next, so inlining recomputes them exponentially (q171
    * ran out of 14 GB); materialized, the rows are the same and it takes
    * under a second.
    */
  def materialized(sql: String): String =
    sql.replaceAll("(?i)\\b(\\w+)\\s+AS\\s+\\((?=\\s*SELECT\\b)", "$1 AS MATERIALIZED (")

  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
