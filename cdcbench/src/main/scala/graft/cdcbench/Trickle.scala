package graft.cdcbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.CountDownLatch

import scala.collection.mutable.ArrayBuffer

import graft.avro.ConvertMode
import graft.convert.AvroToParquetJob

/** `trickle`: `AvroToParquetJob.runContinuous` with `intervalSeconds = 0`
  * over a ledger that starts with 200k historical paths, fed by an
  * open-loop generator thread that renames pre-staged files into three
  * folders at a fixed rate. Each file is timed from when it was due to the
  * end of the poll whose report lists it as converted.
  */
object Trickle {
  /** Files per second the generator releases. */
  val Rate = 6.0
  /** A `shouldStop` call this long after the previous one ends a poll: a
    * poll lists the landing zone and reads the 200k-path ledger, which
    * takes far longer, while the loop's own back-to-back calls take
    * microseconds.
    */
  val PollGapNs = 20000000L
  val DrainSeconds = 60
  /** Files per warm-up poll; the generator stages two polls' worth. */
  val WarmPoll = 12

  def glob(work: String): String = s"$work/landing/avro/*/*.avro"
  def ledger(work: String): String = s"$work/ledger"

  /** Two polls of twelve warm-up files each (copied into a fresh landing
    * zone per set-up), through the real ledger, so the poll path and the
    * ledger read are warm.
    */
  def warmUp(env: Env, k: Int): Unit = {
    val warm = Option(new File(s"${env.work}/warm-staging").listFiles()).toSeq.flatten.sortBy(_.getName)
    warm.grouped(WarmPoll).foreach { batch =>
      batch.foreach { f =>
        val j = warm.indexOf(f)
        val dst = new File(s"${env.work}/warm$k/avro/w${j % 3}/${f.getName}")
        dst.getParentFile.mkdirs()
        Files.copy(f.toPath, dst.toPath)
      }
      AvroToParquetJob.runOnce(env.spark, s"${env.work}/warm$k/avro/*/*.avro",
        s"${env.work}/warm-out/$k", ConvertMode.Standard, Some(ledger(env.work)),
        ingestionDate = Some(Backfill.Date))
    }
  }

  /** Releases manifest files `[from, from + n)` over `seconds`. */
  def window(env: Env, seconds: Double, tag: String, from: Int): (Window, Int) = {
    val n = math.min(env.manifest.size - from, math.ceil(seconds * Rate).toInt)
    val files = env.manifest.slice(from, from + n)
    val out = s"${env.work}/out-$tag"
    val due = Array.ofDim[Long](n)
    val actual = Array.ofDim[Long](n)
    @volatile var lastReleaseNs = Long.MaxValue
    val first = new CountDownLatch(1)
    val t0 = System.nanoTime()
    val gen = new Thread(() => {
      var j = 0
      while (j < n) {
        due(j) = t0 + (j * 1e9 / Rate).toLong
        val wait = due(j) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val f = files(j)
        val dst = new File(s"${env.work}/landing/avro/${f.folder}/${f.name}")
        dst.getParentFile.mkdirs()
        Files.move(new File(f.path).toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
        actual(j) = System.nanoTime()
        j += 1
        if (j == 1) first.countDown()
      }
      lastReleaseNs = actual(n - 1)
    }, "cdcbench-trickle-generator")
    gen.setDaemon(true)

    val calls = ArrayBuffer.empty[Long]
    val polls = ArrayBuffer.empty[(Long, Long)]
    val deadline = t0 + ((seconds + DrainSeconds) * 1e9).toLong
    var drained = false
    val shouldStop = () => {
      val now = System.nanoTime()
      var stop = drained || now > deadline
      calls.lastOption.foreach { prev =>
        if (now - prev > PollGapNs) {
          polls += ((prev, now))
          // a poll that started after the last release has seen every file
          if (prev >= lastReleaseNs) { drained = true; stop = true }
        }
      }
      calls += now
      stop
    }

    // runContinuous stamps the UTC date of each poll
    val today = () => java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString
    val firstDate = today()
    val ((reports, windowSpan), smp) = Window.sampled {
      gen.start()
      first.await()
      env.tracer.span(s"trickle.window.$tag", env.spark.sparkContext) { sp =>
        (AvroToParquetJob.runContinuous(env.spark, glob(env.work), out, ledger(env.work), 0,
          ConvertMode.Standard, shouldStop = shouldStop), sp.id)
      }
    }
    gen.join()
    val dates = Set(firstDate, today())
    polls.foreach { case (a, b) => env.tracer.record("trickle.poll", windowSpan, a, b) }

    // ---- check: every released file converted exactly once, and the
    // Parquet per folder matches the generator's invariants
    val problems = ArrayBuffer.empty[String]
    if (!drained) problems += s"$tag: loop stopped at the deadline before draining"
    if (polls.size != reports.size)
      problems += s"$tag: ${polls.size} poll ends observed for ${reports.size} reports"
    val commitNs = scala.collection.mutable.Map.empty[String, Long]
    val dup = scala.collection.mutable.Set.empty[String]
    reports.zip(polls).foreach { case (rep, (_, end)) =>
      rep.converted.map(Backfill.nameOf).foreach { nm =>
        if (commitNs.contains(nm)) dup += nm else commitNs(nm) = end
      }
      rep.failed.foreach(p => problems += s"$tag: failed $p")
      rep.fallback.foreach(p => problems += s"$tag: fell back $p")
    }
    val missing = files.filterNot(f => commitNs.contains(f.name)).map(_.name)
    if (missing.nonEmpty) problems += s"$tag: ${missing.size} files never converted"
    if (dup.nonEmpty) problems += s"$tag: ${dup.size} files converted twice"
    var badFolders = Set.empty[String]
    var facts = Map.empty[String, BigDecimal]
    val byFolder = files.groupBy(_.folder)
    val keys = byFolder.values.head.head.inv.keys
    val readBack = env.readBack(byFolder.keys.toSeq.sorted.map(f => s"$out/$f"), dates, keys)
    byFolder.foreach { case (folder, fs) =>
      val expected = Invariants.sum(fs.map(_.inv))
      readBack(s"$out/$folder") match {
        case Left(err) => problems += err; badFolders += folder
        case Right(got) =>
          val d = Invariants.diff(expected, got)
          if (d.nonEmpty) { problems += s"$out/$folder: ${d.mkString("; ")}"; badFolders += folder }
          facts ++= got.map { case (k, v) => s"$folder.$k" -> v }
      }
    }
    val failed = (missing ++ dup ++ files.filter(f => badFolders(f.folder)).map(_.name)).toSet.size

    val rows = files.map(_.rows).sum.toDouble
    val fresh = files.indices.flatMap(j => commitNs.get(files(j).name).map(c => Stats.s(c - due(j))))
    val lastEnd = polls.lastOption.map(_._2).getOrElse(System.nanoTime())
    val pollS = polls.map { case (a, b) => Stats.s(b - a) }.toSeq
    val pollFiles = reports.map(_.converted.size.toDouble)
    val backlog = polls.indices.map { k =>
      val dueBy = due.count(_ <= polls(k)._1)
      dueBy - reports.take(k).map(_.converted.size).sum
    }
    env.log(s"$tag polls (s/files): " + pollS.zip(pollFiles)
      .map { case (t, f) => f"$t%.2f/${f.toInt}" }.mkString(" "))
    val (bytes, _) = env.parquetBytes(out)
    val w = Window(
      attempted = n.toLong,
      failed = failed.toLong,
      problems = problems.toSeq,
      e2e = Map(
        "rows_s" -> rows / Stats.s(lastEnd - t0),
        "cpu_s_per_mrow" -> Window.cpuPerMrow(smp.cpuNs, rows),
        "bytes_per_row" -> bytes / rows,
        "freshness_p50_s" -> (if (fresh.isEmpty) 0.0 else Stats.percentile(fresh, 50)),
        "freshness_p90_s" -> (if (fresh.isEmpty) 0.0 else Stats.percentile(fresh, 90)),
      ),
      units = math.max(1, polls.size),
      startMs = smp.startMs, endMs = smp.endMs, gcMs = smp.gcMs,
      facts = facts,
      extra = Map(
        "poll.s_p50" -> (if (pollS.isEmpty) 0.0 else Stats.median(pollS)),
        "poll.files_p50" -> (if (pollFiles.isEmpty) 0.0 else Stats.median(pollFiles)),
        "poll.backlog_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
        "gen.late_max_ms" -> (0 until n).map(j => (actual(j) - due(j)) / 1e6).max,
      ))
    (w, from + n)
  }
}
