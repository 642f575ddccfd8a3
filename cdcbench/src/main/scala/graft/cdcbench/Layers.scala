package graft.cdcbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.lit

import graft.avro.{AvroCdcReader, AvroSchemaConverter, ConvertMode}
import graft.convert.{AvroToParquetJob, FileLedger}

/** The traced run's per-layer numbers. Two sources:
  *  - the layer sequence: the benchmark calls each layer's functions itself,
  *    in `runOnce`'s order, each call in a `layer.<name>` span whose job
  *    group carries the Spark jobs it starts;
  *  - the traced window: the listener's job and task records of the real
  *    workload, each job placed on a layer by [[Attribution]].
  */
object Layers {
  /** Every per-layer metric: name, unit, which direction is better. */
  val Metrics: Seq[(String, String, String)] = Seq(
    ("discover.s", "s", "lower"), ("discover.files", "count", "lower"),
    ("ledger.filter_s", "s", "lower"), ("ledger.paths_read", "count", "lower"),
    ("ledger.unseen_ratio", "ratio", "higher"), ("ledger.add_s", "s", "lower"),
    ("ledger.compact_s", "s", "lower"),
    ("fingerprint.s", "s", "lower"), ("fingerprint.files", "count", "lower"),
    ("fingerprint.schemas", "count", "lower"),
    ("plan.s", "s", "lower"), ("plan.splits", "count", "lower"),
    ("plan.wave_fill", "ratio", "higher"),
    ("convert.s", "s", "lower"), ("convert.cpu_s", "s", "lower"),
    ("convert.records", "count", "higher"),
    ("sink.s", "s", "lower"), ("sink.cpu_s", "s", "lower"), ("sink.bytes", "B", "lower"),
    ("sink.files", "count", "lower"),
    ("probe.s", "s", "lower"), ("probe.files", "count", "lower"),
    ("probe.redecode_ratio", "ratio", "lower"),
    ("scan.plan_s", "s", "lower"), ("scan.exec_s", "s", "lower"), ("scan.cpu_s", "s", "lower"),
    ("scan.partitions", "count", "lower"), ("scan.rows", "count", "lower"),
    ("query_mix_s", "s", "lower"),
    ("spark.jobs", "count", "lower"), ("spark.tasks", "count", "lower"),
    ("spark.gc_s", "s", "lower"), ("spark.sched_delay_s", "s", "lower"),
    ("spark.slot_util", "ratio", "higher"), ("spark.driver_only_s", "s", "lower"),
    ("spark.unattributed_jobs", "count", "lower"),
    ("poll.s_p50", "s", "lower"), ("poll.files_p50", "count", "higher"),
    ("poll.backlog_max", "count", "lower"), ("gen.late_max_ms", "ms", "lower"),
    ("parallel_speedup", "x", "higher"),
    ("overhead.rows_s", "rows/s", "higher"), ("overhead.cpu_s_per_mrow", "s", "lower"),
    ("overhead.bytes_per_row", "B", "lower"), ("overhead.freshness_p50_s", "s", "lower"),
    ("overhead.freshness_p90_s", "s", "lower"),
  )

  /** The group write the converter does per (schema, folder), as
    * `AvroToParquetJob` writes it.
    */
  private def writeParquet(df: org.apache.spark.sql.DataFrame, dir: String): Unit =
    df.withColumn("ingestion_date", lit(Backfill.Date))
      .drop(AvroCdcReader.InputPathCol)
      .write.mode("append").partitionBy("ingestion_date")
      .option("compression", "snappy").parquet(dir)

  /** Executor CPU seconds of the tasks of the jobs a span started. */
  def spanCpu(env: Env, sp: Span): Double = {
    env.listener.awaitGroup(sp.group, minJobs = 0)
    val stages = env.listener.jobs.asScala.filter(_.group.contains(sp.group))
      .flatMap(_.stageIds).toSet
    Stats.s(env.listener.tasks.asScala.filter(t => stages(t.stageId)).map(_.cpuNs).sum)
  }

  /** Runs the layer sequence once over the landing zone `glob` and ledger
    * `ledgerDir`. `pick` chooses the batch the fingerprint..sink layers
    * handle (given the discovered paths and the unseen ones); files named
    * in `failing` are left out of convert and sink and handed to the probe
    * with the rest of their (schema, folder) group, as `runOnce` does.
    */
  def sequence(env: Env, glob: String, ledgerDir: String, outDir: String,
      pick: (Seq[String], Seq[String]) => Seq[String], failing: Set[String]): Map[String, Double] = {
    val sc = env.spark.sparkContext
    val conf = sc.hadoopConfiguration
    val m = mutable.LinkedHashMap.empty[String, Double]
    def timed[T](layer: String)(f: => T): (T, Span) = {
      var sp: Span = null
      val r = env.tracer.span(s"layer.$layer", sc) { s => sp = s; f }
      (r, sp)
    }
    val rowsOf = env.manifest.map(f => f.name -> f.rows).toMap.withDefaultValue(0L)
    def rows(paths: Seq[String]): Double = paths.map(p => rowsOf(Backfill.nameOf(p))).sum.toDouble

    val (all, dSp) = timed("discover")(AvroToParquetJob.discover(env.spark, glob))
    m("discover.s") = dSp.seconds
    m("discover.files") = all.size

    val ledger = new FileLedger(ledgerDir, conf)
    val loaded = mutable.ArrayBuffer.empty[Int]
    val (unseen, lSp) = timed("ledger.filter")(ledger.filterUnseen(all, loaded += _))
    m("ledger.filter_s") = lSp.seconds
    m("ledger.paths_read") = loaded.map(ledger.seenShard(_).size).sum
    m("ledger.unseen_ratio") = if (all.isEmpty) 0.0 else unseen.size.toDouble / all.size

    val batch = pick(all, unseen)
    val ((schemas, _), fSp) = timed("fingerprint")(
      AvroCdcReader.schemaFingerprints(env.spark, batch))
    m("fingerprint.s") = fSp.seconds
    m("fingerprint.files") = batch.size
    m("fingerprint.schemas") = schemas.map(_.fingerprint).distinct.size

    val (groups, pSp) = timed("plan") {
      schemas.groupBy(_.fingerprint).values.toSeq.flatMap { g =>
        val flat = AvroSchemaConverter.deriveFlatSchema(g.head.schemaJson)
        g.groupBy(s => AvroToParquetJob.folderOf(s.path)).toSeq.map { case (folder, sub) =>
          val paths = sub.map(_.path)
          (folder, flat, paths, AvroCdcReader.planSplits(env.spark, paths, conf).size)
        }
      }
    }
    val splits = groups.map(_._4).sum
    val waves = groups.map(g => math.ceil(g._4.toDouble / env.cores)).sum
    m("plan.s") = pSp.seconds
    m("plan.splits") = splits
    m("plan.wave_fill") = if (waves == 0) 0.0 else splits / (waves * env.cores)

    val clean = groups.map { case (folder, flat, paths, _) =>
      (folder, flat, paths.filterNot(p => failing(Backfill.nameOf(p))))
    }.filter(_._3.nonEmpty)
    val (_, cSp) = timed("convert") {
      clean.foreach { case (_, flat, paths) =>
        val acc = sc.collectionAccumulator[String]("cdcbench.failedFiles")
        AvroCdcReader.readGroup(env.spark, paths, flat, ConvertMode.Standard, acc)
          .write.format("noop").mode("overwrite").save()
      }
    }
    val (_, wSp) = timed("write") {
      clean.foreach { case (folder, flat, paths) =>
        val acc = sc.collectionAccumulator[String]("cdcbench.failedFiles")
        writeParquet(AvroCdcReader.readGroup(env.spark, paths, flat, ConvertMode.Standard, acc),
          s"$outDir/$folder")
      }
    }
    val cleanRows = rows(clean.flatMap(_._3))
    val convertCpu = spanCpu(env, cSp)
    m("convert.s") = cSp.seconds
    m("convert.cpu_s") = convertCpu
    m("convert.records") = cleanRows
    val (bytes, nFiles) = env.parquetBytes(outDir)
    m("sink.s") = wSp.seconds - cSp.seconds
    m("sink.cpu_s") = spanCpu(env, wSp) - convertCpu
    m("sink.bytes") = bytes
    m("sink.files") = nFiles
    env.deleteTree(outDir)

    val probed = groups.filter(_._3.exists(p => failing(Backfill.nameOf(p))))
    val (_, prSp) = timed("probe") {
      probed.foreach { case (_, flat, paths, _) =>
        AvroCdcReader.probe(env.spark, paths, flat, ConvertMode.Standard)
      }
    }
    val probedPaths = probed.flatMap(_._3)
    m("probe.s") = if (probed.isEmpty) 0.0 else prSp.seconds
    m("probe.files") = probedPaths.size
    // runOnce decodes every file once, the probed groups again in the
    // probe, and their clean files a third time in the rewrite
    val decoded = rows(batch) + rows(probedPaths) +
      rows(probedPaths.filterNot(p => failing(Backfill.nameOf(p))))
    m("probe.redecode_ratio") = if (cleanRows == 0) 0.0 else decoded / cleanRows

    val (_, aSp) = timed("ledger.add")(ledger.add(batch))
    m("ledger.add_s") = aSp.seconds
    val (_, kSp) = timed("ledger.compact")(ledger.compact(0))
    m("ledger.compact_s") = kSp.seconds
    m.toMap
  }

  /** Per-unit Spark figures of a traced window, and its jobs' layers. */
  def spark(env: Env, w: Window): Map[String, Double] = {
    env.listener.awaitIdle()
    val jobs = env.listener.jobs.asScala.toSeq.filter(j => j.startMs >= w.startMs && j.startMs <= w.endMs)
    val stages = jobs.flatMap(_.stageIds).toSet
    val tasks = env.listener.tasks.asScala.toSeq.filter(t => stages(t.stageId))
    val wallMs = math.max(1L, w.endMs - w.startMs)
    val u = w.units.toDouble
    val scanStages = jobs.filter(j => layerOf(env, j) == "scan").flatMap(_.stageIds).toSet
    val scanTasks = tasks.filter(t => scanStages(t.stageId))
    Map(
      "spark.jobs" -> jobs.size / u,
      "spark.tasks" -> tasks.size / u,
      "spark.gc_s" -> w.gcMs / 1000.0 / u,
      "spark.sched_delay_s" -> tasks.map(_.schedDelayMs).sum / 1000.0 / u,
      "spark.slot_util" -> tasks.map(_.runMs).sum.toDouble / (wallMs * env.cores),
      "spark.driver_only_s" ->
        (wallMs - Stats.unionLength(jobs.map(j => (j.startMs, math.max(j.endMs, j.startMs))))) /
          1000.0 / u,
      "scan.cpu_s" -> Stats.s(scanTasks.map(_.cpuNs).sum) / u,
      "scan.partitions" -> scanTasks.size / u,
      "scan.rows" -> scanTasks.map(_.recordsRead).sum / u,
    )
  }

  def layerOf(env: Env, j: JobRec): String = {
    val spanLayer = j.group.filter(_.startsWith("span-"))
      .flatMap(g => env.tracer.byId(g.stripPrefix("span-").toInt))
      .flatMap(s => Attribution.spanLayer(s.name))
    Attribution.layer(spanLayer, j.details, j.scopes)
  }

  /** Jobs recorded in the traced run, with their layer, as JSON lines. */
  def jobsJson(env: Env): String =
    env.listener.jobs.asScala.toSeq.map { j =>
      s"""{"job":${j.jobId},"group":"${j.group.getOrElse("")}","layer":"${layerOf(env, j)}",""" +
        s""""start_ms":${j.startMs},"end_ms":${j.endMs}}"""
    }.mkString("[\n", ",\n", "\n]")
}
