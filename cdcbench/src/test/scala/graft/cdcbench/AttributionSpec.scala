package graft.cdcbench

import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {

  private def stack(frames: String*) = frames.mkString("\n")

  test("a job inside a layer span belongs to that span's layer") {
    val details = Seq(stack("graft.avro.AvroCdcReader$.schemaFingerprints(AvroCdcReader.scala:156)"))
    assert(Attribution.layer(Some("convert"), details, Seq("BatchScan x")) == "convert")
  }

  test("jobs inside whole-program calls are placed by call site") {
    def at(frame: String) = Attribution.layer(None,
      Seq(stack("org.apache.spark.rdd.RDD.collect(RDD.scala:1056)", frame,
        "graft.convert.AvroToParquetJob$.runOnce(AvroToParquetJob.scala:93)")), Nil)
    assert(at("graft.avro.AvroCdcReader$.schemaFingerprints(AvroCdcReader.scala:156)") ==
      "fingerprint")
    assert(at("graft.avro.AvroCdcReader$.probe(AvroCdcReader.scala:676)") == "probe")
    assert(at("graft.convert.AvroToParquetJob$.write(AvroToParquetJob.scala:281)") == "write")
  }

  test("a DSv2 scan is placed by its RDD scope") {
    assert(Attribution.layer(None, Seq("collect at Catalog.scala:34"),
      Seq("WholeStageCodegen (1)", "BatchScan cdc.orders[...]")) == "scan")
  }

  test("anything else is reported unattributed, not guessed") {
    assert(Attribution.layer(None, Seq("collect at Elsewhere.scala:1"), Seq("Exchange")) ==
      "unattributed")
  }

  test("span names map to layers") {
    assert(Attribution.spanLayer("layer.convert").contains("convert"))
    assert(Attribution.spanLayer("layer.ledger.filter").contains("ledger"))
    assert(Attribution.spanLayer("check.readback").contains("check"))
    assert(Attribution.spanLayer("backfill.pass").isEmpty)
    assert(Attribution.spanLayer("catalog.narrow_agg").isEmpty)
  }
}
