package graft.convert

import java.io.{ByteArrayInputStream, InputStream, SequenceInputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Property-based guard for the ledger's round-15 surface: across RANDOM
  * sequences of (shard-count reopenings, batched adds, compactions,
  * membership filters), the ledger must behave as one grow-only set —
  * `seen()` equals the union of every path ever added, `filterUnseen`
  * returns exactly the never-added candidates in caller order, and no
  * layout change (flat↔sharded migration, fold-on-compact) loses or
  * duplicates an entry. Complements the scenario tests in
  * AvroToParquetJobSpec with randomized coverage of migration × compaction
  * × routing interleavings.
  */
class LedgerPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def forAll[A](g: Gen[A], n: Int)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach { a =>
        try f(a)
        catch {
          case e: Throwable =>
            throw new AssertionError(s"property failed for sample: $a", e)
        }
      }
    }

  // an op sequence: each step reopens the ledger at `shards`, adds a
  // slice of the path universe, sometimes compacts at a random threshold
  private val cases = for {
    nSteps <- Gen.choose(2, 6)
    steps <- Gen.listOfN(nSteps, for {
      shards <- Gen.oneOf(1, 2, 3, 5, 8)
      addFrom <- Gen.choose(0, 180)
      addLen <- Gen.choose(0, 60)
      compactAt <- Gen.oneOf(-1, 0, 2, 10) // -1 = no compact this step
      // extra candidates drawn across the universe (so across shards),
      // some of them repeated within the batch
      picks <- Gen.listOfN(8, Gen.choose(0, 259))
      repeats <- Gen.choose(0, 4)
    } yield (shards, addFrom, addLen, compactAt, picks, repeats))
  } yield steps

  test("random reopen/add/compact/migrate sequences: the ledger is a " +
    "grow-only set and filterUnseen is exact, order-preserving") {
    val conf = spark.sparkContext.hadoopConfiguration
    // every 7th path is non-ASCII: the membership scan matches UTF-8 bytes
    val universe = (0 until 260).map(i =>
      if (i % 7 == 0) s"/land/avro/t$i/pärt-€$i.avro" else s"/land/avro/t$i/part-$i.avro")
    var spreadRepeated = 0
    forAll(cases, 25) { steps =>
      val dir = Files.createTempDirectory("graft-ledger-prop").toString
      var added = Set.empty[String]
      steps.foreach { case (shards, addFrom, addLen, compactAt, picks, repeats) =>
        val ledger = new FileLedger(dir, conf, shards)
        // membership BEFORE this step's add reflects exactly the history
        val picked = picks.map(universe)
        val probe = universe.slice(addFrom, addFrom + addLen) ++
          universe.take(5) ++ picked ++ picked.take(repeats)
        val unseen = ledger.filterUnseen(probe)
        assert(unseen == probe.filterNot(added.contains),
          s"filterUnseen wrong at shards=$shards after ${added.size} adds")
        assert(unseen == probe.filterNot(ledger.seen()),
          s"filterUnseen disagrees with seen() at shards=$shards")
        if (repeats > 0 && probe.map(ledger.shardOf).distinct.size > 1) spreadRepeated += 1
        val batch = universe.slice(addFrom, addFrom + addLen)
        ledger.add(batch)
        added ++= batch
        if (compactAt >= 0) ledger.compact(compactAt)
        assert(ledger.seen() == added,
          s"seen() diverged at shards=$shards (compactAt=$compactAt)")
      }
      // a final flat reopen must still hold the full union
      assert(new FileLedger(dir, conf).seen() == added)
    }
    assert(spreadRepeated > 0,
      "generator sanity: some batches must repeat candidates across shards")
  }

  test("filterUnseen reads hand-written batch files exactly as seen() does: " +
    "lines across read-buffer boundaries, CR/CRLF, blank lines, no final newline") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = Files.createTempDirectory("graft-ledger-shapes")
    def put(name: String, body: String): Unit =
      Files.write(dir.resolve(name), body.getBytes(StandardCharsets.UTF_8))
    val many = (0 until 3000).map(i => f"/land/avro/f${i % 13}/part-$i%06d.avro")
    val long = "/land/avro/long/" + "x" * 150000 + ".avro" // > the 64 KiB buffer
    put("batch-1.txt", many.mkString("\n") + "\n" + long + "\r\n" +
      "/land/avro/ü/ß€😀.avro\r\n\n\n/land/avro/cr.avro\r?x\na\nb\n")
    put("batch-2.txt", "/land/avro/tail.avro")
    val ledger = new FileLedger(dir.toString, conf)
    val probe = Seq(many(0), many(1499), many(2999), many(1499), long,
      "/land/avro/ü/ß€😀.avro", "/land/avro/cr.avro", "/land/avro/tail.avro",
      "/land/avro/never.avro", long + "y", "", "a\nb", "?x", "\uD800x",
      "/land/avro/never.avro")
    val unseen = ledger.filterUnseen(probe)
    assert(unseen == probe.filterNot(ledger.seen()))
    assert(unseen == Seq("/land/avro/never.avro", long + "y", "", "a\nb", "\uD800x",
      "/land/avro/never.avro"))
  }

  test("the ledger scan stops reading once every candidate has matched") {
    val m = new FileLedger.CandidateMatcher(Seq("/a", "/b"))
    val failing = new InputStream {
      def read(): Int = throw new AssertionError("read past the last match")
      override def read(b: Array[Byte], off: Int, len: Int): Int = read()
    }
    m.scan(new SequenceInputStream(
      new ByteArrayInputStream("/b\n/x\n/a\n".getBytes(StandardCharsets.UTF_8)), failing))
    assert(m.remaining == 0 && m.matched.toSet == Set("/a", "/b"))
  }
}
