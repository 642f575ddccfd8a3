package graft.cdcbench

import scala.collection.mutable.ArrayBuffer

import graft.avro.ConvertMode
import graft.convert.AvroToParquetJob

/** `backfill`: back-to-back `AvroToParquetJob.runOnce` passes (Standard
  * mode, fresh ledger each) over the whole generated landing zone. Every
  * file is due when the pass starts.
  */
object Backfill {
  val Date = "2024-06-01"
  val MaxPasses = 12

  def glob(root: String): String = s"$root/avro/*/*.avro"

  /** One pass over the warm-up landing zone (the same shapes, a tenth of
    * the rows, its own hostile and truncated files).
    */
  def warmUp(env: Env, k: Int): Unit = {
    AvroToParquetJob.runOnce(env.spark, glob(s"${env.work}/warm"), s"${env.work}/warm-out/$k",
      ConvertMode.Standard, Some(s"${env.work}/warm-ledger/$k"), ingestionDate = Some(Date))
    ()
  }

  /** `minPasses`: the pass count a window runs even when they overrun it. */
  def window(env: Env, seconds: Double, tag: String, minPasses: Int): Window = {
    val files = env.manifest
    val inputRows = files.map(_.rows).sum.toDouble
    val converted = files.filter(_.label == "converted")
    val convertedRows = converted.map(_.rows).sum.toDouble
    val passes = ArrayBuffer.empty[(Double, AvroToParquetJob.ConvertReport, String)]
    val (_, smp) = Window.sampled {
      val t0 = System.nanoTime()
      // start another pass only if it should end inside the window
      while ((passes.size < minPasses ||
          System.nanoTime() - t0 + passes.last._1 * 1e9 <= seconds * 1e9) &&
          passes.size < MaxPasses) {
        val i = passes.size
        val out = s"${env.work}/out-$tag/p$i"
        env.tracer.span("backfill.pass", env.spark.sparkContext) { sp =>
          val s0 = System.nanoTime()
          val rep = AvroToParquetJob.runOnce(env.spark, glob(s"${env.work}/landing"), out,
            ConvertMode.Standard, Some(s"${env.work}/ledger-$tag/p$i"),
            ingestionDate = Some(Date))
          passes += ((Stats.s(System.nanoTime() - s0), rep, out))
        }
      }
    }

    env.log(s"${passes.size} passes timed")
    // ---- check: each pass's report against the labels, and its Parquet
    // against the generator's invariants
    val problems = ArrayBuffer.empty[String]
    var failedFiles = 0L
    var facts = Map.empty[String, BigDecimal]
    val readBack = converted.groupBy(_.folder).map { case (folder, fs) =>
      val expected = Invariants.sum(fs.map(_.inv))
      folder -> (expected, env.readBack(passes.map(p => s"${p._3}/$folder").toSeq, Set(Date),
        expected.keys))
    }
    val bytesPerRow = passes.map { case (_, rep, out) =>
      val got = rep.converted.map(nameOf).toSet
      val bad = rep.failed.map(nameOf).toSet
      val wrong = files.filterNot { f =>
        if (f.label == "converted") got(f.name) && !bad(f.name) else bad(f.name) && !got(f.name)
      }
      if (wrong.nonEmpty) problems += s"$out: wrong outcome for ${wrong.map(_.name).mkString(",")}"
      if (rep.fallback.nonEmpty) problems += s"$out: unexpected fallback ${rep.fallback.size}"
      if (rep.converted.size + rep.failed.size != files.size || rep.discovered != files.size)
        problems += s"$out: report covers ${rep.discovered} files, expected ${files.size}"
      val badFolders = readBack.collect { case (folder, (expected, byDir)) =>
        byDir(s"$out/$folder") match {
          case Left(err) => problems += err; Some(folder)
          case Right(actual) =>
            facts ++= actual.map { case (k, v) => s"$folder.$k" -> v }
            val d = Invariants.diff(expected, actual)
            if (d.isEmpty) None else { problems += s"$out/$folder: ${d.mkString("; ")}"; Some(folder) }
        }
      }.flatten.toSet
      failedFiles += (wrong.map(_.name).toSet ++
        converted.filter(f => badFolders(f.folder)).map(_.name)).size
      val (bytes, _) = env.parquetBytes(out)
      bytes / convertedRows
    }
    passes.foreach { case (_, _, out) => env.deleteTree(out) }

    val times = passes.map(_._1).toSeq
    val freshness = times.flatMap(t => Seq.fill(files.size)(t))
    Window(
      attempted = files.size.toLong * passes.size,
      failed = failedFiles,
      problems = problems.toSeq,
      e2e = Map(
        "rows_s" -> convertedRows / Stats.median(times),
        "cpu_s_per_mrow" -> Window.cpuPerMrow(smp.cpuNs, inputRows * passes.size),
        "bytes_per_row" -> Stats.median(bytesPerRow.toSeq),
        "freshness_p50_s" -> Stats.percentile(freshness, 50),
        "freshness_p90_s" -> Stats.percentile(freshness, 90),
      ),
      units = passes.size,
      startMs = smp.startMs, endMs = smp.endMs, gcMs = smp.gcMs,
      facts = facts,
      extra = Map("pass_s" -> Stats.median(times)))
  }

  def nameOf(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  /** Converts the whole landing zone once on a single core. */
  def singleCorePass(env: Env): Double = {
    env.newSession("local[1]")
    val t0 = System.nanoTime()
    AvroToParquetJob.runOnce(env.spark, glob(s"${env.work}/landing"), s"${env.work}/out-local1",
      ConvertMode.Standard, Some(s"${env.work}/ledger-local1"), ingestionDate = Some(Date))
    val t = Stats.s(System.nanoTime() - t0)
    env.deleteTree(s"${env.work}/out-local1")
    t
  }
}
