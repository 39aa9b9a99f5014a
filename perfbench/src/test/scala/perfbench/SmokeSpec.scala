package perfbench

import java.io.File
import java.nio.file.Files
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** One short pass of every workload, untraced and traced: every output
  * check passes and every declared metric is produced.
  */
class SmokeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val work = Files.createTempDirectory("perfbench-smoke").toFile

  override def beforeAll(): Unit = {
    spark = graft.Sessions.build("2", "perfbench-smoke")
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    spark.stop()
    Run.deleteRec(work)
  }

  /** The smallest table set next to the benchmark's sf0.1 tables. */
  private def sfDir: String = {
    val sf01 = new File(sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      new File(sys.props("user.home"), "testdata/sf0.1").getPath))
    val tiny = new File(sf01.getParentFile, "sf0.001")
    (if (tiny.isDirectory) tiny else sf01).getPath
  }

  private def smoke(workload: String, traced: Boolean): Run = {
    val dir = new File(work, s"$workload-$traced")
    val trace = if (traced) Some(new Trace(spark.sparkContext)) else None
    val r = new Run(spark, dir, 1, 0.0, trace, 2)
    try workload match {
      case "etl" => Etl.run(r)
      case "serve" => Serve.run(r)
      case "engine_mix" =>
        assume(new File(sfDir, "lineitem.parquet").exists, s"no tables at $sfDir")
        Engine.run(r, sfDir)
    } finally r.shutdown()
    trace.foreach(_.drain())
    r
  }

  for (w <- Main.Workloads) test(s"$w: one untraced pass passes every check") {
    val r = smoke(w, traced = false)
    assert(r.failed == 0 && r.attempted > 0)
    Seq("setup_s", "pass_s", "op_p50_ms").foreach(m => assert(r.metrics(m) > 0, m))
  }

  test("etl traced: spans cover every layer and the point counts hold") {
    val r = smoke("etl", traced = true)
    assert(r.failed == 0)
    val spans = r.trace.get.allSpans.map(_.name).toSet
    Seq("ingest.read", "ingest.code", "geo.normalize", "store.merge", "store.merge_write", "store.load",
      "api.status").foreach(n => assert(spans.contains(n), n))
    assert(r.count("geo.points_out") > 0 && r.count("geo.points_out") < r.count("geo.points_in"),
      "JTS simplify drops vertices")
    assert(r.count("ingest.features_in") - r.count("ingest.rows_clean") > 0, "dirty features are quarantined")
  }

  test("serve traced: every endpoint's jobs are attributed to its requests") {
    val r = smoke("serve", traced = true)
    assert(r.failed == 0)
    val t = r.trace.get
    val aggs = t.bySpan()
    Serve.Endpoints.foreach { e =>
      val ss = t.allSpans.filter(_.name == s"api.$e")
      assert(ss.nonEmpty, e)
      assert(ss.map(s => aggs.get(s.id).map(_.jobs).getOrElse(0L)).sum > 0, s"no jobs attributed to $e")
    }
  }
}
