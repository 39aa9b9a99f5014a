package graft.wilayah

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The five query entry points of the reference service, over the
  * Parquet warehouse (reference paths cited per method). Each returns
  * a DataFrame; JSON shaping happens at the edge (`featureCollection`).
  */
class Api(spark: SparkSession, warehousePath: String, geojsonDir: String) {

  def warehouse: DataFrame =
    Store.load(spark, warehousePath)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], Store.schema))

  /** Warehouse health summary: per-level counts, duplicate-key count
    * (must be 0 — the PK invariant the merge maintains), and row total.
    */
  def stats(): Map[String, Long] = {
    val wh = warehouse
    val byLevel = wh.groupBy("level").count().collect()
      .map(r => s"level_${r.getInt(0)}" -> r.getLong(1)).toMap
    byLevel ++ Map(
      "total" -> wh.count(),
      "duplicate_keys" -> Store.duplicateKeys(wh))
  }

  /** Expose the warehouse to Spark SQL (`SELECT ... FROM <name>`), so
    * the reference's SQL-shaped read paths can run verbatim as SQL —
    * e.g. `SELECT level, COUNT(*) FROM wilayah WHERE
    * kode_wilayah_kemendagri LIKE '11.73%' GROUP BY level`.
    */
  def registerView(name: String = "wilayah"): Unit =
    warehouse.createOrReplaceTempView(name)

  // ===== ETL =====

  /** `POST /api/db/sync` (/root/reference/server.js:340-378): discover
    * files for the code, ingest + transform + geo-normalize, merge into
    * the warehouse. Returns the number of features processed.
    */
  def sync(code: String): Long = {
    val paths = Ingest.discover(geojsonDir, code)
    require(paths.nonEmpty, s"No GeoJSON files found for code: $code")
    syncPaths(paths)
  }

  private def syncPaths(paths: Seq[String]): Long = {
    val rows = Ingest.warehouseRows(Ingest.readFeatures(spark, paths))
    // cache: the normalized batch feeds both the count and the merge,
    // and the simplify kernel is the expensive step — evaluate it once
    rows.persist()
    try {
      val n = rows.count()
      // partition-scoped merge: only the level partitions this batch
      // touches are merged and rewritten (batch-internal dedup
      // included — same key twice in one sync = last wins)
      Store.mergeWritePartitions(spark, rows, warehousePath)
      n
    } finally rows.unpersist()
  }

  /** Startup seed (/root/reference/server.js:103-157): if no level-1
    * row exists, load the province boundary file(s) (`^\d{2}_...`).
    * Idempotent. Returns features processed (0 if already seeded).
    */
  def seed(): Long = {
    val seeded = Store.load(spark, warehousePath)
      .exists(df => !df.filter(col("level") === 1).limit(1).isEmpty)
    if (seeded) 0L
    else {
      // ONLY the province boundary file(s) — the reference seeds from
      // the single level-1 file, not the whole code prefix
      // (/root/reference/server.js:133-147).
      val l1 = Ingest.discover(geojsonDir, "")
        .filter(p => Ingest.levelOfFileName(p.split('/').last) == 1)
      if (l1.isEmpty) 0L else syncPaths(l1)
    }
  }

  // ===== Queries =====

  /** `GET /api/db/status` (/root/reference/server.js:256-268): per-level
    * counts under a code prefix, fanned into the 4-slot struct
    * {provinsi, kabupaten, kecamatan, kelurahan} + availability.
    */
  def statusCounts(code: String): DataFrame =
    warehouse
      .filter(col(Store.Key).startsWith(code))
      .groupBy("level").agg(count(lit(1)).as("n"))

  def status(code: String): Map[String, Long] = {
    val byLevel = statusCounts(code).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    Map(
      "provinsi" -> byLevel.getOrElse(1, 0L),
      "kabupaten" -> byLevel.getOrElse(2, 0L),
      "kecamatan" -> byLevel.getOrElse(3, 0L),
      "kelurahan" -> byLevel.getOrElse(4, 0L))
  }

  /** The COMPLETE `/api/db/status` response shape
    * (/root/reference/server.js:247-287): the four count slots plus
    * `available` (any warehouse row under the prefix) and
    * `fileAvailable` (a matching GeoJSON file exists on disk). The
    * reference's 2-char-code regex `^CODE_[^_]+\.geojson$` is a subset
    * of its prefix+suffix fallback, so file availability reduces to the
    * prefix match for every code length.
    */
  def statusFull(code: String): Map[String, Any] = {
    val counts = status(code)
    counts ++ Map(
      "available" -> (counts.valuesIterator.sum > 0),
      "fileAvailable" -> Ingest.discover(geojsonDir, code).nonEmpty)
  }

  /** `GET /api/search?q=` (/root/reference/server.js:292-330): min
    * 3-char query, case-insensitive substring on the name, ordered by
    * (level, name), top 10. Spark plans TakeOrderedAndProject — a true
    * per-partition top-k, no global sort.
    */
  def search(q: String): DataFrame = {
    if (q == null || q.trim.length < 3)
      warehouse.select(
        col(Store.Key).as("id"),
        col("nama_wilayah_kemendagri").as("name"),
        col("level")).limit(0)
    else
      warehouse
        .filter(lower(col("nama_wilayah_kemendagri")).contains(q.trim.toLowerCase))
        .select(
          col(Store.Key).as("id"),
          col("nama_wilayah_kemendagri").as("name"),
          col("level"))
        .orderBy(col("level").asc, col("name").asc)
        .limit(10)
  }

  /** `get_wilayah_by_level(level, parent)` (/root/reference/init_db.sql:
    * 63-84): rows at a level, optionally under a parent prefix — the
    * null-tolerant optional-filter pattern of init_db.sql:79-82. The
    * `level` equality prunes warehouse partitions.
    */
  def byLevel(level: Int, parentPrefix: Option[String] = None): DataFrame =
    warehouse
      .filter(col("level") === level)
      .filter(lit(parentPrefix.orNull).isNull ||
        col(Store.Key).startsWith(parentPrefix.getOrElse("")))
      .select(
        col(Store.Key).as("id"),
        col("nama_wilayah_kemendagri").as("name"),
        col("geometry"))

  /** `GET /api/db/geojson?code=` (/root/reference/server.js:387-478):
    * code-length dispatch to 2-4 per-level fetches, each slotted into
    * the 4-level response. Length rules: 2 -> own province + its kabs;
    * 5 -> kab + its kecs + kels; 8 -> parent kab (prefix 5) + kecs +
    * kels; >=13 -> parent kec (prefix 8) + kels.
    */
  def geojsonPlan(code: String): Seq[(String, Int, String)] = code.length match {
    case 2 => Seq(("provinsi", 1, code), ("kabupaten", 2, code))
    case 5 => Seq(("kabupaten", 2, code), ("kecamatan", 3, code), ("kelurahan", 4, code))
    case 8 => Seq(("kabupaten", 2, code.substring(0, 5)),
                  ("kecamatan", 3, code), ("kelurahan", 4, code))
    case n if n >= 13 => Seq(("kecamatan", 3, code.substring(0, 8)),
                             ("kelurahan", 4, code))
    case _ => Seq.empty
  }

  /** The 2-4 planned fetches (the reference awaits them one after
    * another, /root/reference/server.js:429-476) as ONE Spark job: the
    * warehouse is scanned once under the OR of the plan's
    * `(level, prefix)` pairs, the Feature JSON of every matching row is
    * collected, and the driver deals the rows into their slots. Every
    * planned slot is present; one with no rows is an empty
    * FeatureCollection. Each slot holds exactly the rows of
    * `byLevel(level, Some(prefix))`.
    */
  def geojson(code: String): Map[String, String] = {
    val plan = geojsonPlan(code)
    val rows =
      if (plan.isEmpty) Array.empty[Row]
      else featureJson(
        warehouse
          .filter(plan.map { case (_, level, prefix) =>
            col("level") === level && col(Store.Key).startsWith(prefix)
          }.reduce(_ || _))
          .select(col("level"), col(Store.Key).as("id"),
            col("nama_wilayah_kemendagri").as("name"), col("geometry")),
        col("level"), col("id")).collect()
    plan.map { case (slot, level, prefix) =>
      slot -> collectionJson(rows.iterator
        .filter(r => r.getInt(0) == level && r.getString(1).startsWith(prefix))
        .map(_.getString(2)))
    }.toMap
  }

  /** Per-row Feature JSON — the distributed part of the
    * FeatureCollection assembly, after the `keep` columns. Geometry
    * re-parses from its stored text via from_json — the mirror of the
    * reference's string re-parse at server.js:491-497.
    */
  private def featureJson(rows: DataFrame, keep: Column*): DataFrame =
    rows.select(keep :+
      to_json(struct(
        lit("Feature").as("type"),
        struct(col("name"), col("id")).as("properties"),
        from_json(col("geometry"), Model.geometryType).as("geometry")))
        .as("feature"): _*)

  /** Feature JSON strings -> one FeatureCollection body. */
  private def collectionJson(features: Iterator[String]): String =
    features.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")

  /** FeatureCollection assembly (/root/reference/server.js:486-506):
    * rows -> {type, features:[{type, properties:{name,id}, geometry}]}.
    * Features stream to the driver partition-by-partition
    * (toLocalIterator), so a large fetch never materializes all rows in
    * driver memory at once — only the response string itself (inherent
    * to returning one JSON body; bulk exports should use
    * [[writeFeatureCollectionJson]] instead, which never touches the
    * driver).
    */
  def featureCollection(rows: DataFrame): String = {
    import scala.jdk.CollectionConverters._
    collectionJson(featureJson(rows).toLocalIterator().asScala.map(_.getString(0)))
  }

  /** Bulk export path: each Feature as one JSON line, written directly
    * by the executors (no driver assembly at all) — the shape a 100×
    * fetch should take.
    */
  def writeFeatureCollectionJson(rows: DataFrame, path: String): Unit =
    featureJson(rows).write.mode("overwrite").text(path)

  /** `GET /api/geojson` raw passthrough (/root/reference/server.js:
    * 509-565): matched files returned whole, bucketed into level slots
    * by filename, with sizes.
    */
  def passthrough(code: String): DataFrame = {
    val paths = Ingest.discoverExact(geojsonDir, code)
    require(paths.nonEmpty, s"No GeoJSON files found for code: $code")
    val slot = Map(1 -> "provinsi", 2 -> "kabupaten", 3 -> "kecamatan", 4 -> "kelurahan")
    spark.read.option("wholetext", true).text(paths: _*)
      .select(
        element_at(split(input_file_name(), "/"), -1).as("file_name"),
        col("value").as("content"))
      .withColumn("slot", Ingest.levelOfFileName(col("file_name"))
        .cast("int"))
      .withColumn("slot", element_at(
        map(slot.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
        col("slot")))
      .withColumn("size_bytes", length(col("content")).cast("long"))
  }
}
