package perfbench

import java.io.File
import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.wilayah.{Api, Geo, Ingest, Store}

/** `etl`: the paper's sync path. Each pass, on a fresh warehouse:
  *  1. cold sync of every province, one `Api.sync` each;
  *  2. an idempotent re-sync of one province;
  *  3. single-kabupaten syncs;
  * and after every commit one `Api.status` read of the touched code,
  * which is what any read cache would pay on invalidation.
  *
  * In a traced pass each sync is replayed layer by layer through the
  * same public functions `Api.sync` composes (read, code synthesis,
  * geo normalisation, merge + write), each layer forced over the
  * persisted output of the one before, so its span holds its own work.
  */
object Etl {
  val Provinces = 2
  /** Kabupaten synced one by one, by position in the corpus shape: a
    * city with kelurahan (71), a regency with 18 3-D kecamatan and no
    * kelurahan (01), a city without kecamatan (72), a regency with
    * kelurahan (03) and one with kecamatan only (08). Fixed positions
    * keep the work per pass the same for every seed. Five syncs make
    * eight reads per pass, so the median read falls among the
    * kabupaten reads, not the slower first reads after the province
    * syncs.
    */
  val KabSyncs: Seq[(Int, String)] = Seq(0 -> "71", 1 -> "01", 0 -> "72", 1 -> "03", 0 -> "08")
  val SetupReps = 3
  val SyncDeadlineS = 120.0
  val ReadDeadlineS = 30.0

  final case class PassTimes(total: Double, cold: Double, resync: Double,
                             kab: Seq[Double], reads: Seq[Double])

  def run(r: Run): Unit = {
    val corpus = new File(r.work, "corpus")
    Run.deleteRec(corpus)
    val g0 = System.nanoTime()
    val manifest = Corpus.generate(corpus, r.seed, Provinces, pointScale = 1.0)
    java.nio.file.Files.writeString(new File(r.work, "manifest.json").toPath, manifest.toJson)
    System.err.println(f"[perfbench] etl corpus: ${manifest.rows.size} rows, ${manifest.pointsIn} ring points; " +
      f"generated in ${Run.secondsSince(g0)}%.2f s")
    r.put("setup_s", Stats.median((1 to SetupReps).map(i => setUp(r, corpus, manifest, i))))
    r.heapCheckpoint()
    val resyncProv = manifest.provinces.head
    val kabs = KabSyncs.map { case (p, kk) => manifest.provinces(p) + "." + kk }

    val passes = mutable.ArrayBuffer.empty[PassTimes]
    val deadline = System.nanoTime() + (r.seconds * 1e9).toLong
    var n = 0
    if (r.trace.isEmpty) {
      // passes while the next one, as long as the last, fits the window
      while (passes.isEmpty || System.nanoTime() + (passes.last.total * 1e9).toLong < deadline) {
        n += 1
        passes += pass(r, corpus, manifest, resyncProv, kabs, s"wh$n", traced = false)
      }
    } else {
      passes += pass(r, corpus, manifest, resyncProv, kabs, "wh-plain", traced = false)
      val traced = pass(r, corpus, manifest, resyncProv, kabs, "wh-traced", traced = true)
      r.put("trace.overhead_pct", (traced.total / passes.head.total - 1) * 100)
    }
    r.put("pass_s", Stats.median(passes.map(_.total).toSeq))
    r.put("op_p50_ms", Stats.median(passes.flatMap(_.reads).toSeq))
    r.put("etl.sync_cold_s", Stats.median(passes.map(_.cold).toSeq))
    r.put("etl.resync_s", Stats.median(passes.map(_.resync).toSeq))
    r.put("etl.sync_kab_s", Stats.median(passes.flatMap(_.kab).toSeq))
    r.put("etl.read_after_sync_ms", Stats.median(passes.flatMap(_.reads).toSeq))
    passes.foreach(p => System.err.println(f"[perfbench] etl pass ${p.total}%.2f s: cold ${p.cold}%.2f, " +
      f"resync ${p.resync}%.2f, kab ${p.kab.map(k => f"$k%.2f").mkString(" ")}, " +
      f"reads ${p.reads.map(x => f"$x%.0f").mkString(" ")} ms"))
  }

  /** Warms the session with one kabupaten sync and its status read,
    * into a scratch warehouse; returns the seconds these calls took.
    */
  private def setUp(r: Run, corpus: File, m: Corpus.Manifest, i: Int): Double = {
    val wh = new File(r.work, s"warmup$i").getPath
    val t0 = System.nanoTime()
    val api = new Api(r.spark, wh, corpus.getPath)
    r.step("warm-up sync")(api.sync(m.kabsWithKelurahan.head))
    r.step("warm-up read")(api.status(m.kabsWithKelurahan.head))
    val s = Run.secondsSince(t0)
    Run.deleteRec(new File(wh))
    s
  }

  private def pass(r: Run, corpus: File, m: Corpus.Manifest,
                   resyncProv: String, kabs: Seq[String], whName: String,
                   traced: Boolean): PassTimes = {
    val whDir = new File(r.work, whName)
    Run.deleteRec(whDir)
    val wh = whDir.getPath
    val a = new Api(r.spark, wh, corpus.getPath)
    val reads = mutable.ArrayBuffer.empty[Double]
    def sync(code: String): Double =
      r.timed(s"sync $code", SyncDeadlineS) {
        if (traced) tracedSync(r, corpus, wh, code, m) else a.sync(code)
      }.map(_._2 / 1000).getOrElse(SyncDeadlineS)
    def readAfter(code: String): Unit =
      r.timed(s"status $code", ReadDeadlineS) {
        if (traced) r.span("store.load")(Store.load(r.spark, wh))
        r.span("api.status")(a.status(code))
      }.foreach { case (got, ms) =>
        reads += ms
        r.check(got == m.status(code), s"status($code) = $got, expected ${m.status(code)}")
      }

    val t0 = System.nanoTime()
    val cold = m.provinces.map { p => val s = sync(p); readAfter(p); s }.sum
    val t1 = System.nanoTime()
    val before = r.step("snapshot")(keyTimes(a.warehouse, resyncProv)).getOrElse(Map.empty)
    checkWarehouse(r, a, m)
    r.step("ring points")(ringPoints(a.warehouse)).foreach { n =>
      val want = m.rows.map(_.pointsOut.toLong).sum
      r.check(n == want, s"the warehouse holds $n ring points after simplify, expected $want")
    }
    val t2 = System.nanoTime()
    val resync = sync(resyncProv)
    readAfter(resyncProv)
    val t3 = System.nanoTime()
    val after = r.step("snapshot")(keyTimes(a.warehouse, resyncProv)).getOrElse(Map.empty)
    checkWarehouse(r, a, m)
    r.check(before.nonEmpty && before.keySet == after.keySet, s"re-sync of $resyncProv changed its keys")
    r.check(before.forall { case (k, (c, _)) => after.get(k).exists(_._1 == c) },
      s"re-sync of $resyncProv changed created_at")
    r.check(before.forall { case (k, (_, u)) => after.get(k).exists(_._2.after(u)) },
      s"re-sync of $resyncProv did not advance updated_at")
    val t4 = System.nanoTime()
    val kab = kabs.map { k => val s = sync(k); readAfter(k); s }
    val t5 = System.nanoTime()
    checkWarehouse(r, a, m)
    Run.deleteRec(whDir)
    val total = ((t1 - t0) + (t3 - t2) + (t5 - t4)) / 1e9
    PassTimes(total, cold, resync, kab, reads.toSeq)
  }

  private def keyTimes(wh: DataFrame, code: String): Map[String, (Timestamp, Timestamp)] =
    wh.filter(col(Store.Key).startsWith(code))
      .select(Store.Key, "created_at", "updated_at").collect()
      .map(row => row.getString(0) -> (row.getTimestamp(1), row.getTimestamp(2))).toMap

  /** Ring points of every geometry in `rows`, as stored. */
  private def ringPoints(rows: DataFrame): Long =
    rows.select(sum(size(flatten(flatten(
      from_json(col("geometry"), graft.wilayah.Model.geometryType).getField("coordinates"))))))
      .head().getLong(0)

  private def checkWarehouse(r: Run, a: Api, m: Corpus.Manifest): Unit =
    r.step("stats")(a.stats()).foreach { st =>
      (1 to 4).foreach { l =>
        r.check(st.getOrElse(s"level_$l", 0L) == m.countsByLevel.getOrElse(l, 0L),
          s"level $l count ${st.get(s"level_$l")}, expected ${m.countsByLevel.get(l)}")
      }
      r.check(st.get("duplicate_keys").contains(0L), s"duplicate keys: ${st.get("duplicate_keys")}")
    }

  /** One sync split at the layer boundaries of `Api.sync`. */
  private def tracedSync(r: Run, corpus: File, wh: String, code: String, m: Corpus.Manifest): Long = {
    val spark = r.spark
    r.span("etl.sync") {
      val paths = Ingest.discover(corpus.getPath, code)
      require(paths.nonEmpty, s"No GeoJSON files found for code: $code")
      val feats = r.span("ingest.read") {
        val f = Ingest.readFeatures(spark, paths).persist()
        r.add("ingest.features_in", f.count())
        f
      }
      r.span("ingest.code") {
        Ingest.withKodeNama(feats).select(Store.Key, "nama_wilayah_kemendagri")
          .write.format("noop").mode("overwrite").save()
      }
      val rows = r.span("geo.normalize") {
        val w = Ingest.warehouseRows(feats).persist()
        w.count()
        w
      }
      val n = rows.count()
      r.add("ingest.rows_clean", n)
      val expected = m.under(code)
      r.check(n == expected.size, s"sync $code wrote $n clean rows, expected ${expected.size}")
      r.span("trace.count") {
        val pin = Ingest.withKodeNama(feats).filter(Ingest.clean)
          .select(sum(size(flatten(flatten(
            Geo.promoteMultiParts(col("geometry.type"), col("geometry.coordinates")))))))
          .head().getLong(0)
        val pout = ringPoints(rows)
        r.check(pin == expected.map(_.points.toLong).sum, s"sync $code read $pin ring points")
        r.check(pout == expected.map(_.pointsOut.toLong).sum, s"sync $code kept $pout ring points after simplify")
        r.add("geo.points_in", pin)
        r.add("geo.points_out", pout)
      }
      val affected = rows.select("level").distinct().collect().map(_.getInt(0)).sorted
      r.span("store.merge") {
        val existing = Store.load(spark, wh)
          .map(_.filter(col("level").isin(affected.toSeq.map(Integer.valueOf): _*)))
        Store.merge(existing, rows).write.format("noop").mode("overwrite").save()
      }
      r.span("store.merge_write")(Store.mergeWritePartitions(spark, rows, wh))
      r.add("store.files_written", affected.map { l =>
        Option(new File(wh, s"level=$l").listFiles()).getOrElse(Array.empty)
          .count(_.getName.endsWith(".parquet")).toLong
      }.sum)
      rows.unpersist()
      feats.unpersist()
      n
    }
  }
}
