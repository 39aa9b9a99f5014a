package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import graft.wilayah.{Api, Ingest, Store}

/** `serve`: the four interactive read paths on a warm session. C =
  * nproc closed-loop clients (each sends its next request when the
  * previous one returns) work through one seeded request list against
  * a warehouse of about 3.1k rows, synced during set-up from a
  * light-geometry corpus. Ingest, geo and write do nothing here;
  * per-request `Store.load` and Spark job overhead dominate.
  *
  * Requests come in blocks of 20 with a fixed make-up, shuffled per
  * block: 6 statusFull (codes of every level), 6 search (4 mixed-case
  * substrings of names, 1 no-hit term, 1 term under three characters),
  * 2 byLevel, 4 geojson (codes of length 2, 5, 8 and 13) and 2
  * passthrough (a province and a kabupaten). Codes and names are drawn
  * with a Zipf skew (s = 1.1), codes ranked largest first. The make-up
  * and the skew are assumptions: no recorded traffic of the service
  * exists to take them from. The fixed make-up and ranking keep the
  * work per request the same for every seed; the seed picks which codes
  * and terms.
  */
object Serve {
  val Provinces = 2
  val PointScale = 0.02
  val KelScale = 6
  val SetupReps = 3
  val DeadlineS = 20.0
  /** `pass_s` on this workload is the time per this many requests. */
  val PassRequests = 100
  val Endpoints = Seq("status", "search", "byLevel", "geojson", "passthrough")

  sealed trait Req { def endpoint: String }
  final case class Status(code: String) extends Req { val endpoint = "status" }
  final case class Search(q: String) extends Req { val endpoint = "search" }
  final case class ByLevel(level: Int, parent: String) extends Req { val endpoint = "byLevel" }
  final case class GeoJson(code: String) extends Req { val endpoint = "geojson" }
  final case class Passthrough(code: String) extends Req { val endpoint = "passthrough" }

  final case class Done(req: Req, ms: Double, ok: Boolean)

  def run(r: Run): Unit = {
    val corpus = new File(r.work, "corpus")
    Run.deleteRec(corpus)
    val g0 = System.nanoTime()
    val m = Corpus.generate(corpus, r.seed, Provinces, PointScale, KelScale)
    System.err.println(f"[perfbench] serve corpus: ${m.rows.size} rows, ${m.files.size} files; " +
      f"generated in ${Run.secondsSince(g0)}%.2f s")
    val setups = (1 to SetupReps).map(i => setUp(r, corpus, m, i))
    r.put("setup_s", Stats.median(setups.map(_._1)))
    r.heapCheckpoint()
    setups.init.foreach(s => Run.deleteRec(new File(s._2)))
    val wh = setups.last._2
    val api = new Api(r.spark, wh, corpus.getPath)
    val gen = new Requests(m, r.seed)
    val next = new AtomicLong

    val plain = loop(r, api, wh, m, gen, next, traced = false)
    report(r, plain)
    if (r.trace.nonEmpty) {
      val traced = loop(r, api, wh, m, gen, next, traced = true)
      val rate = (w: Window) => w.done.size / w.seconds
      r.put("trace.overhead_pct", (rate(plain) / rate(traced) - 1) * 100)
    }
  }

  final case class Window(done: Seq[Done], seconds: Double)

  private def report(r: Run, w: Window): Unit = {
    val ms = w.done.map(_.ms)
    val rps = w.done.size / w.seconds
    r.put("pass_s", PassRequests / rps)
    r.put("op_p50_ms", Stats.median(ms))
    r.put("serve.rps", rps)
    r.put("serve.p90_ms", Stats.percentile(ms, 90))
    r.put("serve.under_300ms_frac", w.done.count(d => d.ok && d.ms < 300).toDouble / w.done.size)
    System.err.println(f"[perfbench] serve: ${w.done.size} requests in ${w.seconds}%.1f s, " +
      Endpoints.map(e => e + "=" + w.done.count(_.req.endpoint == e)).mkString(" "))
  }

  /** Syncs the corpus into an empty warehouse in one batch and warms
    * every endpoint once; returns the seconds these calls took, and the
    * warehouse.
    */
  private def setUp(r: Run, corpus: File, m: Corpus.Manifest, i: Int): (Double, String) = {
    val wh = new File(r.work, s"wh$i").getPath
    Run.deleteRec(new File(wh))
    val t0 = System.nanoTime()
    val api = new Api(r.spark, wh, corpus.getPath)
    r.step("set-up sync")(api.sync(""))
    val t1 = System.nanoTime()
    val gen = new Requests(m, r.seed + i)
    (0 until 6).foreach(k => r.step("warm-up")(execute(api, gen.at(k))))
    val s = Run.secondsSince(t0)
    System.err.println(f"[perfbench] serve set-up $i: sync ${(t1 - t0) / 1e9}%.2f s, " +
      f"warm-up ${Run.secondsSince(t1)}%.2f s")
    (s, wh)
  }

  /** Runs the closed loop for the run's window; requests are taken in
    * order from the shared seeded list.
    */
  private def loop(r: Run, api: Api, wh: String, m: Corpus.Manifest, gen: Requests, next: AtomicLong,
                   traced: Boolean): Window = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val geoLock = new Object
    val first = next.get
    val t0 = System.nanoTime()
    val end = t0 + (r.seconds * 1e9).toLong
    val clients = (1 to r.nproc).map { c =>
      val t = new Thread(() => {
        // the window, and at least one whole block of requests
        while (System.nanoTime() < end || next.get < first + gen.blockSize) {
          val id = next.getAndIncrement()
          val req = gen.at(id)
          val res = r.timed(s"$req", DeadlineS) {
            if (traced) {
              r.span("store.load", id)(Store.load(r.spark, wh))
              // one geojson in flight at a time: its pooled-thread jobs
              // are then attributable (see Trace)
              if (req.endpoint == "geojson") geoLock.synchronized {
                r.span("api.geojson", id, adoptOrphans = true)(execute(api, req))
              } else r.span("api." + req.endpoint, id)(execute(api, req))
            } else execute(api, req)
          }
          res match {
            case Some((out, ms)) =>
              val ok = r.check(verify(m, req, out, traced, r), s"$req returned a wrong result")
              done.add(Done(req, ms, ok))
            case None => done.add(Done(req, DeadlineS * 1000, ok = false))
          }
        }
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    clients.foreach(_.join())
    import scala.jdk.CollectionConverters._
    Window(done.asScala.toSeq, Run.secondsSince(t0))
  }

  /** The endpoint call and the driver-side consumption a service would
    * do to answer it.
    */
  def execute(api: Api, req: Req): Any = req match {
    case Status(code) => api.statusFull(code)
    case Search(q) => api.search(q).collect().map(_.getString(0)).toSeq
    case ByLevel(level, parent) =>
      api.byLevel(level, Some(parent)).collect().map(r => (r.getString(0), r.getString(2).length))
    case GeoJson(code) => api.geojson(code)
    case Passthrough(code) =>
      api.passthrough(code).select("file_name", "slot", "size_bytes", "content").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3).length.toLong))
  }

  def verify(m: Corpus.Manifest, req: Req, out: Any, traced: Boolean, r: Run): Boolean = req match {
    case Status(code) =>
      val counts = m.status(code)
      out == counts ++ Map(
        "available" -> (counts.values.sum > 0),
        "fileAvailable" -> m.files.exists(_.name.startsWith(code)))
    case Search(q) =>
      val ids = out.asInstanceOf[Seq[String]]
      if (traced) r.add("api.search.results", ids.size.toLong)
      ids == m.search(q)
    case ByLevel(level, parent) =>
      val got = out.asInstanceOf[Array[(String, Int)]]
      got.map(_._1).sorted.toSeq == m.rows.filter(x => x.level == level && x.kode.startsWith(parent))
        .map(_.kode).sorted && got.forall(_._2 > 0)
    case GeoJson(code) =>
      val slots = out.asInstanceOf[Map[String, String]]
      slots.map { case (k, v) => k -> countFeatures(v) } == m.geojsonSlots(code)
    case Passthrough(code) =>
      val got = out.asInstanceOf[Array[(String, String, Long, Long)]]
      val level = Map("provinsi" -> 1, "kabupaten" -> 2, "kecamatan" -> 3, "kelurahan" -> 4)
      got.map(g => g._1 -> g._3).toMap == m.passthrough(code) &&
        got.forall(g => g._3 == g._4 && level.get(g._2).contains(Ingest.levelOfFileName(g._1)))
  }

  private def countFeatures(fc: String): Long = {
    val marker = "{\"type\":\"Feature\",\"properties\""
    var n = 0L
    var i = fc.indexOf(marker)
    while (i >= 0) { n += 1; i = fc.indexOf(marker, i + marker.length) }
    n
  }

  /** The seeded request list: request `i` depends only on (seed, i). */
  final class Requests(m: Corpus.Manifest, seed: Long) {
    /** Codes of each level by Zipf rank: largest first (most rows
      * under the code), ties in a seeded order. The hottest codes are
      * then always the largest ones, so the seed changes which codes are
      * asked for but not how much work they are.
      */
    private val byLevel: Map[Int, IndexedSeq[String]] = (1 to 4).map { l =>
      val codes = new scala.util.Random(seed * 31 + l).shuffle(m.rows.filter(_.level == l).map(_.kode).sorted)
      l -> codes.sortBy(c => -m.under(c).size).toIndexedSeq
    }.toMap
    private val names = new scala.util.Random(seed * 31 + 7).shuffle(m.rows.map(_.nama).sorted).toIndexedSeq
    private val kabs = byLevel(2)
    private val provinces = byLevel(1)

    /** Zipf(s = 1.1) rank over `n` items, by inverting the CDF. */
    private def zipf(rnd: scala.util.Random, n: Int): Int = {
      val cdf = cdfs.synchronized {
        cdfs.getOrElseUpdate(n, (1 to n).map(k => 1.0 / math.pow(k, 1.1)).scanLeft(0.0)(_ + _).tail.toArray)
      }
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * cdf.last)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
    private val cdfs = mutable.Map.empty[Int, Array[Double]]
    private def code(rnd: scala.util.Random, level: Int): String = {
      val cs = byLevel(level)
      cs(zipf(rnd, cs.size))
    }

    /** Slot kinds of one block; see the object's doc for the make-up. */
    private val Block: IndexedSeq[Int] = IndexedSeq(
      1, 2, 3, 4, 3, 4, // statusFull at these levels
      10, 11, 12, 12, 12, 12, // search: no-hit, short, substrings
      23, 24, // byLevel at these levels, under a kabupaten
      31, 32, 33, 34, // geojson at levels 1..4 (codes of length 2/5/8/13)
      41, 42) // passthrough of a province, of a kabupaten

    def blockSize: Int = Block.size

    def at(i: Long): Req = {
      val block = i / Block.size
      val order = new scala.util.Random(seed * 7919L + block).shuffle(Block)
      val slot = order((i % Block.size).toInt)
      val rnd = new scala.util.Random(seed * 1000003L + i)
      slot match {
        case l if l <= 4 => Status(code(rnd, l))
        case 10 => Search("qx" + ('a' + rnd.nextInt(26)).toChar + "z")
        case 11 =>
          val n = names(rnd.nextInt(names.size))
          Search(if (rnd.nextBoolean()) n.take(2) else "  " + n.take(2).toUpperCase + " ")
        case 12 => Search(term(rnd))
        case 23 | 24 => ByLevel(slot - 20, kabs(zipf(rnd, kabs.size)))
        case g if g >= 31 && g <= 34 => GeoJson(code(rnd, g - 30))
        case 41 => Passthrough(provinces(zipf(rnd, provinces.size)))
        case _ => Passthrough(kabs(zipf(rnd, kabs.size)))
      }
    }

    /** A 3-6 character substring of a Zipf-chosen name, in mixed case. */
    private def term(rnd: scala.util.Random): String = {
      val n = names(zipf(rnd, names.size))
      val len = math.min(n.length, 3 + rnd.nextInt(4))
      val start = rnd.nextInt(n.length - len + 1)
      n.substring(start, start + len).map(c => if (rnd.nextBoolean()) c.toUpper else c.toLower)
    }
  }
}
