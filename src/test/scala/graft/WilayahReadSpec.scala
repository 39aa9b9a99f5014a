package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftShims
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.wilayah.{Api, Store}

/** The wilayah read path over a tiny corpus this spec writes itself:
  * the Spark jobs each read starts, and hand-counted answers.
  *
  * Corpus (9 rows): province 11 (Aceh); kabupaten 11.01 (Aceh Selatan,
  * one kecamatan, no kelurahan file) and 11.73 (Kota Lhokseumawe, two
  * kecamatan, three kelurahan).
  */
class WilayahReadSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark

  private val square =
    """{"type":"MultiPolygon","coordinates":[[[[97.0,5.0],[97.1,5.0],[97.1,5.1],[97.0,5.1],[97.0,5.0]]]]}"""

  private def feature(props: String): String =
    s"""{"type":"Feature","properties":{$props},"geometry":$square}"""

  private def writeCollection(dir: Path, name: String, features: Seq[String]): Unit =
    Files.writeString(dir.resolve(name),
      features.mkString("""{"type":"FeatureCollection","features":[""", ",\n", "]}"))

  private def kel(kec: String, kel: String, name: String): String =
    feature(s""""kd_propinsi":"11","kd_dati2":"73","kd_kecamatan":"$kec","kd_kelurahan":"$kel","nm_kelurahan":"$name"""")

  private lazy val corpus: Path = {
    val dir = Files.createTempDirectory("graft-read-corpus")
    writeCollection(dir, "11_Aceh.geojson",
      Seq(feature(""""kd_propinsi":"11","nm_propinsi":"Aceh"""")))
    writeCollection(dir, "11.01_Aceh_Selatan.geojson",
      Seq(feature(""""kd_propinsi":"11","kd_dati2":"01","nm_dati2":"Aceh Selatan"""")))
    writeCollection(dir, "11.01_kecamatan.geojson",
      Seq(feature(""""kd_propinsi":"11","kd_dati2":"01","kd_kecamatan":"001","nm_kecamatan":"Trumon"""")))
    writeCollection(dir, "11.73_Kota_Lhokseumawe.geojson",
      Seq(feature(""""kd_propinsi":"11","kd_dati2":"73","nm_dati2":"Kota Lhokseumawe"""")))
    writeCollection(dir, "11.73_kecamatan.geojson", Seq(
      feature(""""kd_propinsi":"11","kd_dati2":"73","kd_kecamatan":"001","nm_kecamatan":"Banda Sakti""""),
      feature(""""kd_propinsi":"11","kd_dati2":"73","kd_kecamatan":"002","nm_kecamatan":"Muara Dua"""")))
    writeCollection(dir, "11.73_kelurahan.geojson", Seq(
      kel("001", "001", "Ujong Blang"), kel("001", "002", "Hagu Selatan"),
      kel("002", "001", "Meunasah Mesjid")))
    dir
  }

  private lazy val warehousePath =
    Files.createTempDirectory("graft-read-wh").toString + "/warehouse"

  private lazy val api: Api = {
    val a = new Api(spark, warehousePath, corpus.toString)
    assert(a.sync("11") == 9)
    a
  }

  /** Jobs started by the calling thread while `body` runs. */
  private val tagKey = "graft.spec.jobTag"
  private val tagged = new AtomicInteger
  private lazy val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (js.properties != null && js.properties.getProperty(tagKey) == "counted")
        tagged.incrementAndGet()
  }

  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(listener)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(listener)

  private def jobsOf[T](body: => T): (T, Int) = {
    GraftShims.waitListenerBusEmpty(spark)
    tagged.set(0)
    spark.sparkContext.setLocalProperty(tagKey, "counted")
    val out = try body finally spark.sparkContext.setLocalProperty(tagKey, null)
    GraftShims.waitListenerBusEmpty(spark)
    (out, tagged.get)
  }

  private def featureIds(fc: String): Seq[String] =
    """"id":"([^"]+)"""".r.findAllMatchIn(fc).map(_.group(1)).toSeq.sorted

  test("Store.load starts no Spark job") {
    api
    val (wh, jobs) = jobsOf(Store.load(spark, warehousePath))
    assert(jobs == 0)
    assert(wh.get.schema.map(f => f.name -> f.dataType) ==
      Store.schema.map(f => f.name -> f.dataType))
    assert(wh.get.columns.last == "level")
  }

  test("geojson answers every code length with one job") {
    api
    for (code <- Seq("11", "11.73", "11.73.01", "11.73.01.2001")) {
      val (_, jobs) = jobsOf(api.geojson(code))
      assert(jobs == 1, s"geojson($code)")
    }
  }

  test("geojson returns every planned slot, each with the rows of byLevel") {
    val expected = Map(
      "11" -> Map("provinsi" -> Seq("11"), "kabupaten" -> Seq("11.01", "11.73")),
      "11.01" -> Map("kabupaten" -> Seq("11.01"), "kecamatan" -> Seq("11.01.01"),
        "kelurahan" -> Seq()),
      "11.73" -> Map("kabupaten" -> Seq("11.73"),
        "kecamatan" -> Seq("11.73.01", "11.73.02"),
        "kelurahan" -> Seq("11.73.01.2001", "11.73.01.2002", "11.73.02.2001")),
      "11.73.01" -> Map("kabupaten" -> Seq("11.73"), "kecamatan" -> Seq("11.73.01"),
        "kelurahan" -> Seq("11.73.01.2001", "11.73.01.2002")),
      "11.73.01.2001" -> Map("kecamatan" -> Seq("11.73.01"),
        "kelurahan" -> Seq("11.73.01.2001")))
    for ((code, slots) <- expected) {
      val got = api.geojson(code)
      assert(got.keySet == slots.keySet, code)
      for ((slot, level, prefix) <- api.geojsonPlan(code)) {
        val fc = got(slot)
        assert(fc.startsWith("""{"type":"FeatureCollection","features":["""), s"$code/$slot")
        assert(featureIds(fc) == slots(slot), s"$code/$slot")
        val byLevel = api.byLevel(level, Some(prefix)).collect().map(_.getString(0)).toSeq.sorted
        assert(featureIds(fc) == byLevel, s"$code/$slot")
      }
    }
    assert(api.geojson("11.01")("kelurahan") == """{"type":"FeatureCollection","features":[]}""")
    assert(api.geojson("11.7") == Map.empty)
  }

  test("status, search and byLevel return the hand-counted rows") {
    assert(api.status("11") == Map(
      "provinsi" -> 1L, "kabupaten" -> 2L, "kecamatan" -> 3L, "kelurahan" -> 3L))
    assert(api.status("11.73") == Map(
      "provinsi" -> 0L, "kabupaten" -> 1L, "kecamatan" -> 2L, "kelurahan" -> 3L))
    assert(api.status("99") == Map(
      "provinsi" -> 0L, "kabupaten" -> 0L, "kecamatan" -> 0L, "kelurahan" -> 0L))
    def ids(q: String) = api.search(q).collect().map(_.getString(0)).toSeq
    assert(ids("SELATAN") == Seq("11.01", "11.73.01.2002"))
    assert(ids("aceh") == Seq("11", "11.01"))
    assert(ids("  lhok ") == Seq("11.73"))
    assert(ids("ab").isEmpty)
    assert(ids("nowhere").isEmpty)
    def level(l: Int, parent: Option[String]) =
      api.byLevel(l, parent).collect().map(_.getString(0)).toSeq.sorted
    assert(level(3, Some("11.73")) == Seq("11.73.01", "11.73.02"))
    assert(level(3, None) == Seq("11.01.01", "11.73.01", "11.73.02"))
    assert(level(4, Some("11.01")).isEmpty)
  }

  test("a sync whose features are all quarantined leaves the warehouse readable") {
    val dir = Files.createTempDirectory("graft-read-quarantined")
    writeCollection(dir, "11.73_kelurahan.geojson", Seq(
      """{"type":"Feature","properties":{"kd_propinsi":"11","kd_dati2":"73","kd_kecamatan":"001","kd_kelurahan":"001","nm_kelurahan":"Dot"},
       "geometry":{"type":"Point","coordinates":[97.0,5.0]}}"""))
    val wh = Files.createTempDirectory("graft-read-quarantined-wh").toString + "/warehouse"
    val a = new Api(spark, wh, dir.toString)
    assert(a.sync("11.73") == 0)
    assert(new java.io.File(wh).isDirectory) // the empty warehouse exists
    assert(a.status("11.73").values.forall(_ == 0L))
    assert(a.search("dot").count() == 0)
    assert(a.byLevel(4).count() == 0)
    assert(a.geojson("11.73").values.forall(_.endsWith("\"features\":[]}")))
    assert(a.stats() == Map("total" -> 0L, "duplicate_keys" -> 0L))
  }
}
