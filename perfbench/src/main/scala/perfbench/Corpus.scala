package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.simplify.TopologyPreservingSimplifier

/** Seeded synthetic GeoJSON corpus shaped like the reference's Aceh
  * snapshot (BASELINE.md, FIXTURES.md): per province one level-1 file
  * `PP_Name.geojson` (1 feature), 18 kabupaten files
  * `PP.KK_Name.geojson` (1 feature each), 14 `PP.KK_kecamatan.geojson`
  * files (135 features) and 4 `PP.KK_kelurahan.geojson` files (234
  * features), with about 545k ring points at `pointScale = 1`.
  *
  * Shape rules the program depends on, all present in every province:
  *  - the four level property grammars, level taken from the file name;
  *  - kabupaten `01` has a kecamatan file (18 features, 3-D with Z=0)
  *    but no kelurahan file, like `11.01`;
  *  - the first city (`71`) has 4 kecamatan (3-D) and 68 kelurahan,
  *    like `11.73`;
  *  - bare `Polygon` features (promoted by ST_Multi) and two dirty
  *    features: a kecamatan without `kd_kecamatan` and a kelurahan
  *    with a `LineString` geometry — both must be quarantined;
  *  - rings are dense noisy loops (vertex spacing about twice the
  *    simplify tolerance, radial noise below it), so JTS drops vertices.
  *    The generator simplifies every feature itself (JTS, as PostGIS's
  *    ST_SimplifyPreserveTopology at the reference's 1e-4) to record the
  *    ring points the warehouse must hold.
  *
  * Everything is ASCII and every name is unique, so `size_bytes`
  * (string length) equals the file size and search order has no ties.
  * The same (seed, provinces, pointScale) gives byte-identical files.
  */
object Corpus {

  /** A warehouse row the corpus must produce (clean features only):
    * `points` ring points in its file, `pointsOut` after simplify.
    */
  final case class Row(kode: String, nama: String, level: Int, points: Int, pointsOut: Int)
  final case class FileInfo(name: String, level: Int, features: Int, bytes: Long)

  final case class Manifest(
      seed: Long,
      provinces: Seq[String],
      rows: Seq[Row],
      files: Seq[FileInfo],
      featuresIn: Long,
      quarantined: Long,
      pointsIn: Long,
      kabsWithKelurahan: Seq[String]) {

    lazy val countsByLevel: Map[Int, Long] =
      rows.groupBy(_.level).map { case (l, rs) => l -> rs.size.toLong }

    /** `Api.status(code)` slots: per level, rows whose code starts with `code`. */
    def status(code: String): Map[String, Long] = {
      val by = rows.filter(_.kode.startsWith(code)).groupBy(_.level)
        .map { case (l, rs) => l -> rs.size.toLong }
      Map("provinsi" -> by.getOrElse(1, 0L), "kabupaten" -> by.getOrElse(2, 0L),
        "kecamatan" -> by.getOrElse(3, 0L), "kelurahan" -> by.getOrElse(4, 0L))
    }

    /** Expected `Api.search(q)` ids: min 3 trimmed chars, case-insensitive
      * substring on the name, ordered by (level, name), top 10.
      */
    def search(q: String): Seq[String] = {
      val t = if (q == null) "" else q.trim
      if (t.length < 3) Seq.empty
      else {
        val needle = t.toLowerCase(java.util.Locale.ROOT)
        rows.filter(_.nama.toLowerCase(java.util.Locale.ROOT).contains(needle))
          .sortBy(r => (r.level, r.nama)).take(10).map(_.kode)
      }
    }

    /** Expected feature count per slot of `Api.geojson(code)`. */
    def geojsonSlots(code: String): Map[String, Long] = {
      def n(level: Int, prefix: String): Long =
        rows.count(r => r.level == level && r.kode.startsWith(prefix)).toLong
      code.length match {
        case 2 => Map("provinsi" -> n(1, code), "kabupaten" -> n(2, code))
        case 5 => Map("kabupaten" -> n(2, code), "kecamatan" -> n(3, code),
          "kelurahan" -> n(4, code))
        case 8 => Map("kabupaten" -> n(2, code.take(5)), "kecamatan" -> n(3, code),
          "kelurahan" -> n(4, code))
        case l if l >= 13 => Map("kecamatan" -> n(3, code.take(8)), "kelurahan" -> n(4, code))
        case _ => Map.empty
      }
    }

    /** Clean rows a sync of `code` produces, and their ring points. */
    def under(code: String): Seq[Row] = rows.filter(_.kode.startsWith(code))

    /** Expected `Api.passthrough(code)` (file name -> size): a 2-char
      * code matches only the province file, longer codes match by prefix.
      */
    def passthrough(code: String): Map[String, Long] =
      files.filter { f =>
        if (code.length == 2) f.name.matches("^" + java.util.regex.Pattern.quote(code) + "_[^_]+\\.geojson$")
        else f.name.startsWith(code)
      }.map(f => f.name -> f.bytes).toMap

    def toJson: String = {
      def q(s: String) = "\"" + s + "\""
      val counts = (1 to 4).map(l => q(l.toString) + ":" + countsByLevel.getOrElse(l, 0L)).mkString(",")
      val rs = rows.map(r => s"[${q(r.kode)},${q(r.nama)},${r.level},${r.points},${r.pointsOut}]").mkString(",\n")
      val fs = files.map(f => s"[${q(f.name)},${f.level},${f.features},${f.bytes}]").mkString(",\n")
      s"""{"seed":$seed,"provinces":[${provinces.map(q).mkString(",")}],""" +
        s""""features_in":$featuresIn,"quarantined":$quarantined,"points_in":$pointsIn,""" +
        s""""rows_by_level":{$counts},"rows":[
$rs],
"files":[
$fs]}
"""
    }
  }

  // Aceh-like per-level feature totals: 18 kabupaten (13 regencies and
  // 5 cities), 135 kecamatan over 14 files, 234 kelurahan over 4 files.
  private val KabCodes: Seq[String] =
    (1 to 13).map(i => f"$i%02d") ++ (71 to 75).map(_.toString)
  private val KecPerKab: Seq[Int] = Seq(18, 4, 11, 10, 9, 8, 12, 10, 9, 11, 8, 10, 7, 8)
  private val KelPerKab: Seq[Int] = Seq(68, 56, 52, 58)
  private val Syllables = Seq(
    "ba", "da", "ga", "ka", "la", "ma", "na", "pa", "ra", "sa", "ta", "ja",
    "be", "de", "ge", "ke", "le", "me", "ne", "pe", "re", "se", "te", "lu",
    "bi", "di", "gi", "ki", "li", "mi", "ni", "pi", "ri", "si", "ti", "ku",
    "bo", "do", "go", "ko", "lo", "mo", "no", "po", "ro", "so", "to", "su",
    "ung", "ang", "eng", "ong", "ah", "eh", "uh", "ar", "ir", "ur", "at", "et")
  private val Prefixes = Seq("Kuala", "Lhok", "Gampong", "Blang", "Krueng",
    "Ujong", "Meunasah", "Paya", "Alue", "Teupin", "Cot", "Lam")

  /** Writes the corpus into `dir` (created, must not hold other
    * `.geojson` files) and returns what the program must produce from it.
    * `pointScale` scales ring points; `kelScale` multiplies the
    * kelurahan per file (1 keeps the Aceh shape).
    */
  def generate(dir: File, seed: Long, provinces: Int, pointScale: Double, kelScale: Int = 1): Manifest = {
    require(provinces >= 1 && provinces <= 89, "province codes are two digits, 11..99")
    dir.mkdirs()
    val rnd = new scala.util.Random(seed)
    val usedNames = mutable.HashSet.empty[String]
    def word(): String = {
      val w = (0 until 2 + rnd.nextInt(2)).map(_ => Syllables(rnd.nextInt(Syllables.size))).mkString
      w.capitalize
    }
    def uniqueName(withPrefix: Boolean): String = {
      var name = ""
      while (name.isEmpty || usedNames.contains(name)) {
        name = (if (withPrefix && rnd.nextInt(3) == 0) Prefixes(rnd.nextInt(Prefixes.size)) + " " else "") +
          word() + (if (rnd.nextInt(3) == 0) " " + word() else "")
      }
      usedNames += name
      name
    }

    val rows = mutable.ArrayBuffer.empty[Row]
    val files = mutable.ArrayBuffer.empty[FileInfo]
    var featuresIn = 0L
    var quarantined = 0L
    var pointsIn = 0L
    val provCodes = (0 until provinces).map(i => (11 + i).toString)
    val withKel = mutable.ArrayBuffer.empty[String]

    def points(base: Int): Int = math.max(8, (base * pointScale * (0.8 + 0.4 * rnd.nextDouble())).toInt)

    def writeFile(name: String, level: Int, feats: Seq[String]): Unit = {
      val body = feats.mkString("{\"type\":\"FeatureCollection\",\"name\":\"" +
        name.stripSuffix(".geojson") + "\",\"features\":[\n", ",\n", "\n]}\n")
      val bytes = body.getBytes(StandardCharsets.US_ASCII)
      Files.write(new File(dir, name).toPath, bytes)
      files += FileInfo(name, level, feats.size, bytes.length.toLong)
      featuresIn += feats.size
    }

    provCodes.foreach { pp =>
      val pcx = 95.0 + (pp.toInt - 11) * 0.9
      val pcy = 2.0 + rnd.nextDouble()
      val provName = uniqueName(withPrefix = false).replace(" ", "")
      val (g1, n1, o1) = Geometry.feature(rnd, pcx, pcy, 0.4, points(9000), parts = 2, z = false, polygon = false)
      pointsIn += n1
      rows += Row(pp, provName, 1, n1, o1)
      writeFile(s"${pp}_$provName.geojson", 1,
        Seq(feature(s""""kd_propinsi":"$pp","nm_propinsi":"$provName"""", g1)))

      val kabs = KabCodes.zipWithIndex.map { case (kk, i) =>
        val city = kk.toInt >= 71
        val name = (if (city) "Kota " else "") + uniqueName(withPrefix = false)
        val cx = pcx + (i % 6) * 0.12 - 0.3
        val cy = pcy + (i / 6) * 0.12 - 0.2
        val (g, n, o) = Geometry.feature(rnd, cx, cy, 0.05, points(10000),
          parts = if (i % 5 == 2) 2 else 1, z = false, polygon = false)
        pointsIn += n
        rows += Row(s"$pp.$kk", name, 2, n, o)
        writeFile(s"$pp.${kk}_${name.replace(' ', '_')}.geojson", 2,
          Seq(feature(s""""kd_propinsi":"$pp","kd_dati2":"$kk","nm_dati2":"$name","luas_km2":${100 + i}""", g)))
        (kk, cx, cy)
      }

      // Kecamatan files: kab 01 (18, 3-D), city 71 (4, 3-D), then the
      // other 12 regencies; the 4 remaining cities have none.
      val kecKabs = Seq(kabs(0), kabs(13)) ++ kabs.slice(1, 13)
      val kecCodes = mutable.LinkedHashMap.empty[String, Seq[String]]
      kecKabs.zip(KecPerKab).zipWithIndex.foreach { case (((kk, cx, cy), n), fi) =>
        val threeD = kk == "01" || kk == "71"
        val feats = (1 to n).map { k =>
          val kd = f"0$k%02d"
          val (g, np, no) = Geometry.feature(rnd, cx + (k % 5) * 0.01, cy + (k / 5) * 0.01, 0.02, points(1800),
            parts = 1, z = threeD, polygon = k == 3 && fi % 4 == 1)
          // one kecamatan per province lacks kd_kecamatan: no key, quarantined
          val dirty = fi == 8 && k == n
          if (dirty) {
            quarantined += 1
            feature(s""""kd_propinsi":"$pp","kd_dati2":"$kk","nm_kecamatan":"${uniqueName(withPrefix = true)}"""", g)
          } else {
            pointsIn += np
            val name = uniqueName(withPrefix = true)
            rows += Row(s"$pp.$kk.${kd.takeRight(2)}", name, 3, np, no)
            feature(s""""kd_propinsi":"$pp","kd_dati2":"$kk","kd_kecamatan":"$kd","nm_kecamatan":"$name"""", g)
          }
        }
        kecCodes(kk) = (1 to n).map(k => f"0$k%02d")
        writeFile(s"$pp.${kk}_kecamatan.geojson", 3, feats)
      }

      // Kelurahan files: city 71 (68) and three regencies, never kab 01.
      val kelKabs = Seq(kabs(13), kabs(2), kabs(4), kabs(6))
      kelKabs.zip(KelPerKab.map(_ * kelScale)).zipWithIndex.foreach { case (((kk, cx, cy), n), fi) =>
        withKel += s"$pp.$kk"
        val kecs = kecCodes(kk)
        val feats = (0 until n).map { j =>
          val kd = kecs(j % kecs.size)
          val kel = f"${j / kecs.size + 1}%03d"
          val lineString = fi == 1 && j == 7
          val (g, np, no) =
            if (lineString) Geometry.lineString(rnd, cx, cy, points(60))
            else Geometry.feature(rnd, cx + (j % 9) * 0.004, cy + (j / 9 % 9) * 0.004, 0.006, points(485),
              parts = 1, z = false, polygon = j % 23 == 5)
          val name = uniqueName(withPrefix = true)
          if (lineString) quarantined += 1
          else {
            pointsIn += np
            rows += Row(s"$pp.$kk.${kd.takeRight(2)}.2$kel", name, 4, np, no)
          }
          feature(s""""kd_propinsi":"$pp","kd_dati2":"$kk","kd_kecamatan":"$kd","kd_kelurahan":"$kel","nm_kelurahan":"$name"""", g)
        }
        writeFile(s"$pp.${kk}_kelurahan.geojson", 4, feats)
      }
    }
    Manifest(seed, provCodes, rows.toSeq, files.toSeq, featuresIn, quarantined, pointsIn,
      withKel.toSeq)
  }

  private def feature(props: String, geometry: String): String =
    s"""{"type":"Feature","properties":{$props},"geometry":$geometry}"""

  /** Ring writers. Coordinates are printed as fixed 7-decimal numbers
    * from integer arithmetic, so output bytes never depend on locale or
    * floating-point formatting.
    */
  private object Geometry {
    private val Scale = 10000000L
    /** ST_SimplifyPreserveTopology's tolerance in the reference (init_db.sql:29). */
    private val SimplifyTolerance = 1e-4
    private val gf = new GeometryFactory()

    /** Prints `v` and returns the double a JSON reader parses back. */
    private def num(sb: java.lang.StringBuilder, v: Double): Double = {
      val u = math.round(v * Scale)
      if (u < 0) sb.append('-')
      val a = math.abs(u)
      sb.append(a / Scale).append('.')
      val frac = (a % Scale).toString
      var pad = 7 - frac.length
      while (pad > 0) { sb.append('0'); pad -= 1 }
      sb.append(frac)
      u.toDouble / Scale
    }

    /** Writes a closed ring of `n` + 1 points and returns its 2-D coordinates. */
    private def ring(sb: java.lang.StringBuilder, rnd: scala.util.Random,
                     cx: Double, cy: Double, r: Double, n: Int, z: Boolean): Array[Coordinate] = {
      val phase = rnd.nextDouble() * 6.28
      val out = new Array[Coordinate](n + 1)
      sb.append('[')
      var k = 0
      var x0 = 0.0
      var y0 = 0.0
      while (k < n) {
        val a = 2 * math.Pi * k / n
        // smooth lobes plus vertex noise well under the 1e-4 tolerance
        val rad = r * (1 + 0.08 * math.sin(3 * a + phase)) + (rnd.nextDouble() - 0.5) * 6e-5
        val x = cx + rad * math.cos(a)
        val y = cy + rad * math.sin(a)
        if (k == 0) { x0 = x; y0 = y }
        out(k) = pt(sb, x, y, z)
        sb.append(',')
        k += 1
      }
      out(n) = pt(sb, x0, y0, z) // closed ring
      sb.append(']')
      out
    }

    private def pt(sb: java.lang.StringBuilder, x: Double, y: Double, z: Boolean): Coordinate = {
      sb.append('[')
      val px = num(sb, x)
      sb.append(',')
      val py = num(sb, y)
      if (z) sb.append(",0.0")
      sb.append(']')
      new Coordinate(px, py)
    }

    /** Ring points of the rings, one polygon each, after the simplify
      * the warehouse applies to the (promoted, 2-D) feature.
      */
    private def simplifiedPoints(rings: Seq[Array[Coordinate]]): Int =
      TopologyPreservingSimplifier.simplify(
        gf.createMultiPolygon(rings.map(r => gf.createPolygon(r)).toArray), SimplifyTolerance).getNumPoints

    /** A MultiPolygon (or, with `polygon`, a bare Polygon) of `parts`
      * rings with `n` points in total; returns (json, points incl.
      * closing, points after simplify).
      */
    def feature(rnd: scala.util.Random, cx: Double, cy: Double, r: Double, n: Int,
                parts: Int, z: Boolean, polygon: Boolean): (String, Int, Int) = {
      val sb = new java.lang.StringBuilder(n * 26 + 64)
      val per = math.max(8, n / parts)
      if (polygon) {
        sb.append("""{"type":"Polygon","coordinates":[""")
        val rg = ring(sb, rnd, cx, cy, r, per, z)
        sb.append("]}")
        (sb.toString, per + 1, simplifiedPoints(Seq(rg)))
      } else {
        sb.append("""{"type":"MultiPolygon","coordinates":[""")
        val rings = (0 until parts).map { i =>
          if (i > 0) sb.append(',')
          sb.append('[')
          val rg = ring(sb, rnd, cx + i * 2.5 * r, cy, r / (1 + i), per, z)
          sb.append(']')
          rg
        }
        sb.append("]}")
        (sb.toString, parts * (per + 1), simplifiedPoints(rings))
      }
    }

    def lineString(rnd: scala.util.Random, cx: Double, cy: Double, n: Int): (String, Int, Int) = {
      val sb = new java.lang.StringBuilder("""{"type":"LineString","coordinates":[""")
      (0 until n).foreach { k =>
        if (k > 0) sb.append(',')
        pt(sb, cx + k * 1e-3, cy + rnd.nextDouble() * 1e-3, z = false)
      }
      sb.append("]}")
      (sb.toString, n, 0)
    }
  }
}
