package graft.cdcbench

import java.io.{File, PrintWriter}

/** The benchmark process: set up, run one workload's timed window(s),
  * check the outputs, and print the result line.
  *
  * Usage: `Main <workload> <seed> <seconds> <trace 0|1> <workdir> <outdir>`.
  * Inputs must already be in `<workdir>` (see [[Gen]]). The last stdout
  * line is `CDCBENCH_RESULT {json}`.
  */
object Main {
  val SetupReps = 3
  /** Length of the traced backfill run's catalog window. */
  val CatalogSeconds = 3.0

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, outDir) = args
    val env = new Env(work, seedS.toLong, traceS == "1")
    val seconds = secondsS.toDouble
    val out = try run(env, workload, seconds, outDir) finally if (env.spark != null) env.spark.stop()
    env.log("session stopped")
    out.problems.foreach(p => System.err.println(s"[cdcbench] CHECK FAILED: $p"))
    val metrics = out.metrics.map(m =>
      s""""${m.name}":{"value":${fmt(m.value)},"unit":"${m.unit}"}""").mkString(",")
    println(s"CDCBENCH_RESULT " +
      s"""{"correct":${out.correct},"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":{$metrics}}""")
  }

  /** Every digit a double has; never NaN or infinite in the JSON. */
  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def run(env: Env, workload: String, seconds: Double, outDir: String): Outcome = {
    // a traced run sets up the same way, so its windows are as warm
    val setup = workload match {
      // the cdc catalog serves the traced run's scan layer
      case "backfill" => env.setUp(SetupReps, Catalog.catalogs(env.work))(Backfill.warmUp(env, _))
      case "trickle" => env.setUp(SetupReps)(Trickle.warmUp(env, _))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // a timed run takes a median of at least two passes; each half of a
    // traced run needs one
    val minPasses = if (env.trace) 1 else 2
    def timed(secs: Double, tag: String, from: Int): (Window, Int) = workload match {
      case "backfill" => (Backfill.window(env, secs, tag, minPasses), 0)
      case "trickle" => Trickle.window(env, secs, tag, from)
    }

    if (!env.trace) {
      val (w, _) = timed(seconds, "u", 0)
      env.log("window and check done")
      summary(workload, "untraced", w)
      val metrics = Metric("setup_s", setup, "s") +: Metric("peak_rss_mb", Proc.peakRssMb(), "MB") +:
        Window.WindowMetrics.map(n => Metric(n, w.e2e(n), Window.E2E.toMap.apply(n)))
      Outcome(w.attempted, w.failed, w.problems, metrics)
    } else {
      val (u, next) = timed(seconds / 2, "u", 0)
      env.recording = true
      val (t, _) = timed(seconds / 2, "t", next)
      summary(workload, "untraced", u)
      summary(workload, "traced", t)
      val layers = workload match {
        case "backfill" =>
          Layers.sequence(env, Backfill.glob(s"${env.work}/landing"), s"${env.work}/ledger-layers",
            s"${env.work}/out-layers", (_, unseen) => unseen,
            env.manifest.filter(_.label == "failed").map(_.name).toSet)
        case "trickle" =>
          // a poll-sized batch: the files of a median poll, last released
          val k = math.max(1, t.extra("poll.files_p50").round.toInt)
          val runs = (0 until 3).map(_ => Layers.sequence(env, Trickle.glob(env.work),
            Trickle.ledger(env.work), s"${env.work}/out-layers",
            (all, _) => all.sortBy(Backfill.nameOf).takeRight(k), Set.empty))
          runs.head.keys.map(key => key -> Stats.median(runs.map(_(key)))).toMap
      }
      // the scan layer: the SQL mix over the cdc catalog, rooted at the
      // backfill landing zone (the DSv2 read path; no workload of its own)
      val scan = if (workload != "backfill") None else {
        Catalog.warmUp(env, 0)
        val c = Catalog.window(env, CatalogSeconds, minPasses = 2)
        summary("catalog", "traced", c)
        Some(c)
      }
      val scanFigures = scan.map(c => Layers.spark(env, c).filter(_._1.startsWith("scan.")) ++
        c.extra).getOrElse(Map.empty)
      val sparkFigures = Layers.spark(env, t)
      val unattributed = env.listener.jobs.toArray(Array.empty[JobRec])
        .count(j => Layers.layerOf(env, j) == "unattributed")
      env.recording = false
      val jobs = Layers.jobsJson(env)
      val speedup =
        if (workload == "backfill") Backfill.singleCorePass(env) / u.extra("pass_s") else 0.0

      val problems = u.problems ++ t.problems ++ scan.toSeq.flatMap(_.problems) ++
        (if (workload == "backfill" && u.facts != t.facts)
          Seq(s"traced output facts ${t.facts} differ from untraced ${u.facts}")
        else Nil)
      val overhead = Window.WindowMetrics.map(n => s"overhead.$n" -> (t.e2e(n) - u.e2e(n)))
      val values = (layers ++ sparkFigures ++ t.extra ++ scanFigures ++ overhead ++ Map(
        "spark.unattributed_jobs" -> unattributed.toDouble,
        "parallel_speedup" -> speedup)).withDefaultValue(0.0)
      val metrics = Layers.Metrics.map { case (n, unit, _) => Metric(n, values(n), unit) }
      writeTrace(env, workload, outDir, u, t, metrics, jobs)
      metrics.foreach(m => println(f"[cdcbench] layer ${m.name}%-26s ${fmt(m.value)} ${m.unit}"))
      Outcome(u.attempted + t.attempted + scan.map(_.attempted).getOrElse(0L),
        u.failed + t.failed + scan.map(_.failed).getOrElse(0L), problems, metrics)
    }
  }

  private def summary(workload: String, tag: String, w: Window): Unit = {
    val share = if (w.attempted == 0) 0.0 else w.failed.toDouble / w.attempted
    val e2e = (w.e2e ++ w.extra).toSeq.sortBy(_._1).map { case (k, v) => s"$k=${fmt(v)}" }
    println(s"[cdcbench] $workload $tag units=${w.units} attempted=${w.attempted} " +
      s"failed=${w.failed} failed_share=$share ${e2e.mkString(" ")}")
  }

  private def writeTrace(env: Env, workload: String, outDir: String, u: Window, t: Window,
      metrics: Seq[Metric], jobs: String): Unit = {
    new File(outDir).mkdirs()
    val f = new File(s"$outDir/trace-$workload-${env.seed}.json")
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.println(s"""{"workload":"$workload","seed":${env.seed},""")
      w.println(s""""untraced":${obj(u.e2e ++ u.extra)},"traced":${obj(t.e2e ++ t.extra)},""")
      w.println(s""""per_layer":${obj(metrics.map(m => m.name -> m.value).toMap)},""")
      w.println(s""""jobs":$jobs,""")
      w.println(s""""spans":${env.tracer.toJson}}""")
    } finally w.close()
    println(s"[cdcbench] trace written to ${f.getPath}")
  }
}
