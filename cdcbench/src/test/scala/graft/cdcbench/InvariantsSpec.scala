package graft.cdcbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.scalatest.funsuite.AnyFunSuite

class InvariantsSpec extends AnyFunSuite {

  test("sum adds key by key; diff names every disagreeing or missing key") {
    val a = Map("rows" -> BigDecimal(2), "sum_id" -> BigDecimal(3))
    val b = Map("rows" -> BigDecimal(5), "sum_qty" -> BigDecimal(1))
    assert(Invariants.sum(Seq(a, b)) ==
      Map("rows" -> BigDecimal(7), "sum_id" -> BigDecimal(3), "sum_qty" -> BigDecimal(1)))
    assert(Invariants.diff(a, a).isEmpty)
    assert(Invariants.diff(a, Map("rows" -> BigDecimal("2.000"), "sum_id" -> BigDecimal(3))).isEmpty)
    val d = Invariants.diff(a, Map("rows" -> BigDecimal(1)))
    assert(d.size == 2 && d.exists(_.startsWith("rows")) && d.exists(_.contains("missing")))
  }

  test("encode and decode round-trip, decimals included") {
    val inv = Map("rows" -> BigDecimal(10), "sum_price" -> BigDecimal("-12.345678901"))
    assert(Invariants.decode(Invariants.encode(inv)) == inv)
    assert(Invariants.decode("") == Map.empty)
  }

  test("every key the generator records has a SQL expression") {
    Seq(Gen.Narrow, Gen.WideShape, Gen.Legacy).foreach { shape =>
      assert(Invariants.exprsFor(Gen.invariantKeys(shape)).size == Gen.invariantKeys(shape).size)
    }
  }

  /** Recomputes a few invariants straight from the Avro records, so the
    * generator's running sums are checked against what it wrote.
    */
  private def reread(path: String): Map[String, BigDecimal] = {
    val r = new DataFileReader[GenericRecord](new java.io.File(path),
      new GenericDatumReader[GenericRecord]())
    try {
      val recs = r.iterator().asScala.toSeq
      def p(x: GenericRecord) = x.get("payload").asInstanceOf[GenericRecord]
      def sm(x: GenericRecord) = x.get("source_metadata").asInstanceOf[GenericRecord]
      Map(
        "rows" -> BigDecimal(recs.size),
        "sum_id" -> BigDecimal(recs.map(x => p(x).get("id").asInstanceOf[Long]).sum),
        "sum_qty" -> BigDecimal(recs.flatMap(x => Option(p(x).get("qty"))).map(_.asInstanceOf[Int].toLong).sum),
        "null_name" -> BigDecimal(recs.count(x => p(x).get("name") == null)),
        "n_delete" -> BigDecimal(recs.count(x => sm(x).get("change_type").toString == "DELETE")),
      )
    } finally r.close()
  }

  test("generator invariants match the records it wrote, narrow and wide") {
    val dir = Files.createTempDirectory("cdcbench-gen").toFile
    Seq(Gen.Narrow, Gen.WideShape).zipWithIndex.foreach { case (shape, i) =>
      val path = s"$dir/f$i.avro"
      val inv = Gen.writeFile(Gen.Spec(path, "x", shape, 500, 1000L * i + 1, 42L + i, "converted"))
      val again = reread(path)
      again.foreach { case (k, v) => assert(inv(k) == v, s"$shape $k") }
      assert(inv.keySet == Gen.invariantKeys(shape).toSet)
    }
  }

  test("the same seed writes the same invariants") {
    val dir = Files.createTempDirectory("cdcbench-seed").toFile
    def once(n: Int) = Gen.writeFile(Gen.Spec(s"$dir/s$n.avro", "x", Gen.WideShape, 300, 1L, 7L,
      "converted"))
    assert(once(1) == once(2))
  }

  test("landing layout: one hostile and one truncated legacy file, labelled failed") {
    val specs = Gen.landingSpecs("/landing", 3L, divisor = 10)
    val legacy = specs.filter(_.folder == "legacy")
    assert(legacy.count(_.hostileRow >= 0) == 1 && legacy.count(_.truncate) == 1)
    assert(legacy.filter(s => s.hostileRow >= 0 || s.truncate).forall(_.label == "failed"))
    assert(specs.filterNot(_.folder == "legacy").forall(_.label == "converted"))
    // ids never repeat across files
    val ranges = specs.map(s => (s.idBase, s.idBase + s.rows))
    assert(ranges.sortBy(_._1).sliding(2).forall { case Seq(a, b) => a._2 <= b._1 })
  }
}
