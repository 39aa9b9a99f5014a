package perfbench

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {

  private def tmp(): File = Files.createTempDirectory("perfbench-corpus").toFile

  private def bytesOf(dir: File): Map[String, Seq[Byte]] =
    dir.listFiles().map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  test("the same seed writes byte-identical files; another seed does not") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    try {
      val ma = Corpus.generate(a, 7, 2, 0.05)
      val mb = Corpus.generate(b, 7, 2, 0.05)
      Corpus.generate(c, 8, 2, 0.05)
      assert(bytesOf(a) == bytesOf(b))
      assert(ma.toJson == mb.toJson)
      // names differ by seed, the shape does not
      assert(bytesOf(a).size == bytesOf(c).size)
      assert(bytesOf(a).values.toSet.intersect(bytesOf(c).values.toSet).isEmpty)
    } finally Seq(a, b, c).foreach(Run.deleteRec)
  }

  test("each province has the Aceh snapshot's shape") {
    val dir = tmp()
    try {
      val m = Corpus.generate(dir, 3, 2, 1.0)
      val names = dir.list().toSeq
      m.provinces.foreach { p =>
        val fs = m.files.filter(_.name.startsWith(p))
        def byLevel(l: Int) = fs.filter(_.level == l)
        assert(byLevel(1).map(_.features) == Seq(1))
        assert(byLevel(2).map(_.features) == Seq.fill(18)(1))
        assert(byLevel(3).size == 14 && byLevel(3).map(_.features).sum == 135)
        assert(byLevel(4).size == 4 && byLevel(4).map(_.features).sum == 234)
        assert(names.contains(s"$p.01_kecamatan.geojson"))
        assert(!names.contains(s"$p.01_kelurahan.geojson"))
        assert(names.exists(n => n.matches(s"^${p}_[^_]+\\.geojson$$")))
      }
      // two dirty features per province never reach the warehouse
      assert(m.quarantined == 2L * m.provinces.size)
      assert(m.featuresIn - m.quarantined == m.rows.size)
      assert(m.rows.map(_.kode).distinct.size == m.rows.size)
      assert(m.rows.map(_.nama).distinct.size == m.rows.size)
      assert(m.files.map(_.bytes).sum == names.map(n => new File(dir, n).length).sum)
      // about 545k ring points per province at full density
      assert(math.abs(m.pointsIn / m.provinces.size - 545000) < 40000, m.pointsIn)
      // JTS drops vertices from every ring, and keeps its shape
      assert(m.rows.forall(r => r.pointsOut >= 4 && r.pointsOut < r.points))
      val kec = new String(Files.readAllBytes(new File(dir, s"${m.provinces.head}.01_kecamatan.geojson").toPath))
      assert(kec.contains(",0.0]"), "kabupaten 01's kecamatan file is 3-D")
      val all = names.map(n => new String(Files.readAllBytes(new File(dir, n).toPath)))
      assert(all.exists(_.contains("\"type\":\"Polygon\"")))
      assert(all.exists(_.contains("\"type\":\"LineString\"")))
    } finally Run.deleteRec(dir)
  }

  test("expected answers follow the service's rules") {
    val dir = tmp()
    try {
      val m = Corpus.generate(dir, 5, 1, 0.02)
      val p = m.provinces.head
      assert(m.status(p) == Map("provinsi" -> 1L, "kabupaten" -> 18L, "kecamatan" -> 134L, "kelurahan" -> 233L))
      assert(m.search("ab") == Nil && m.search(" ab ") == Nil)
      val name = m.rows.find(_.level == 4).get.nama
      val hits = m.search(name.toUpperCase)
      assert(hits.nonEmpty && hits.size <= 10)
      assert(m.geojsonSlots(p).keySet == Set("provinsi", "kabupaten"))
      assert(m.passthrough(p).keySet.size == 1)
      assert(m.passthrough(s"$p.71").size == 3)
    } finally Run.deleteRec(dir)
  }
}
