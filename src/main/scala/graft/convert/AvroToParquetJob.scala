package graft.convert

import java.time.{LocalDate, ZoneOffset}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.avro._

/** The engine's CDC conversion job: continuously (or once) convert CDC Avro
  * container files to flattened, typed, partitioned Snappy Parquet.
  *
  * Capability parity with the reference pipeline (main.py:601-613):
  *  - continuous glob discovery with seen-file dedup  → [[FileLedger]] +
  *    [[runContinuous]] (micro-batch loop, the Spark-idiomatic equivalent
  *    of `MatchContinuously` + processing-time windows; the reference's
  *    window never feeds an aggregation — it only paces work, main.py:611)
  *  - per-file schema derivation                      → schema-fingerprint
  *    grouping (each distinct writer schema → one typed DataFrame)
  *  - flatten + cast (source_metadata + payload.*)    → [[AvroValueConverter]]
  *  - all-string fallback on conversion failure       → ReferenceExact probe
  *    + fallback group (main.py:524-567)
  *  - partitioned sink `<prefix>/<folder>/ingestion_date=YYYY-MM-DD/`
  *    with Snappy compression — the folder as a PLAIN path segment,
  *    byte-identical to the reference's layout (main.py:570-577) — via one
  *    `partitionBy("ingestion_date")` write per folder; Spark's commit
  *    protocol adds task-level atomicity the reference lacks.
  *
  * Scale posture: the whole plan is narrow (no shuffle); per-file tasks
  * fan out across executors; parquet writing is Spark's vectorized path.
  */
object AvroToParquetJob {

  final case class ConvertReport(
      discovered: Int,
      converted: Seq[String],
      fallback: Seq[String],
      failed: Seq[String],
      /** path → offending columns, for every fallback file (ReferenceExact
        * probe forensics — reference main.py:529-540).
        */
      columnFailures: Map[String, Seq[AvroCdcReader.ColumnFailure]] = Map.empty)

  /** Extract the partition folder from the source path: regex group after
    * `/avro/`, else "unknown" (reference main.py:570-571). Driver-side —
    * the folder is per-FILE metadata, known before any task runs.
    */
  def folderOf(path: String): String = {
    val m = "/avro/([^/]+)/".r.findFirstMatchIn(path)
    m.map(_.group(1)).filter(_.nonEmpty).getOrElse("unknown")
  }

  def discover(spark: SparkSession, inputPattern: String): Seq[String] = {
    val pat = new Path(inputPattern)
    val fs = pat.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matches = fs.globStatus(pat)
    if (matches == null) Seq.empty
    else matches.filter(_.isFile).map(_.getPath.toString).sorted.toSeq
  }

  /** `audit`: optional structured-log sink (the reference's runtime
    * schema/type audit surface, main.py:496-511): when set, each schema
    * group logs its canonical Avro schema, the derived flat schema, and a
    * line per decimal / unexpected-float field; fallback files log one
    * line per offending column. A function rather than a logger so tests
    * (and callers with their own log pipelines) capture lines directly;
    * pass `Some(log.info(_))` for plain logging.
    */
  def runOnce(
      spark: SparkSession,
      inputPattern: String,
      outputPrefix: String,
      mode: ConvertMode = ConvertMode.Standard,
      ledgerDir: Option[String] = None,
      ingestionDate: Option[String] = None,
      audit: Option[String => Unit] = None,
      ledgerShards: Int = 1): ConvertReport =
    poll(spark, inputPattern, outputPrefix, mode,
      ledgerDir.map(d =>
        new FileLedger(d, spark.sparkContext.hadoopConfiguration, ledgerShards)),
      ingestionDate, audit)

  /** One [[runOnce]] batch against an already-open ledger, so the
    * continuous loop opens (and layout-checks) its ledger once, not per poll.
    */
  private def poll(
      spark: SparkSession,
      inputPattern: String,
      outputPrefix: String,
      mode: ConvertMode,
      ledger: Option[FileLedger],
      ingestionDate: Option[String],
      audit: Option[String => Unit]): ConvertReport = {
    val all = discover(spark, inputPattern)
    // streamed membership: only the shards this poll's discovery touches
    // are read, and no seen-set is built — at millions of ledgered files
    // the per-poll driver load is the candidate list, not the history
    // (FileLedger.filterUnseen)
    val paths = ledger.map(_.filterUnseen(all)).getOrElse(all)
    if (paths.isEmpty) return ConvertReport(0, Nil, Nil, Nil)

    val date = ingestionDate.getOrElse(LocalDate.now(ZoneOffset.UTC).toString)
    val (schemas, unreadable) = AvroCdcReader.schemaFingerprints(spark, paths)
    val groups = schemas.groupBy(_.fingerprint).values.toSeq

    var converted = Vector.empty[String]
    var fellBack = Vector.empty[String]
    var failed = Vector.empty[String] ++ unreadable.map(_._1)
    var colFailures = Map.empty[String, Seq[AvroCdcReader.ColumnFailure]]

    // One write per (writer schema, folder): the reference's layout is
    // <prefix>/<folder>/ingestion_date=YYYY-MM-DD/ with the folder as a
    // PLAIN path segment (main.py:574), not a Hive `folder=` key. Folder
    // is derived from the file path driver-side, so splitting a schema
    // group by folder costs no extra scan — each file is still read once,
    // in its own task, and the plan stays shuffle-free.
    groups.foreach { group =>
      val flat = AvroSchemaConverter.deriveFlatSchema(group.head.schemaJson)

      // runtime schema/type audit (reference main.py:496-511): canonical
      // writer schema + derived flat schema once per schema GROUP (the
      // reference logs per file, but files in a group are byte-identical
      // in schema — example_file preserves the provenance pointer)
      audit.foreach { log =>
        val parsed = new org.apache.avro.Schema.Parser().parse(group.head.schemaJson)
        log(s"[AVRO-SCHEMA] example_file=${group.head.path} " +
          s"fingerprint=${group.head.fingerprint} " +
          s"schema=${org.apache.avro.SchemaNormalization.toParsingForm(parsed)}")
        log(s"[FLAT-SCHEMA] example_file=${group.head.path} " +
          s"fields=${flat.payloadFields.map(f => s"${f.name}:${f.tpe}").mkString(",")}")
        flat.payloadFields.foreach { f =>
          f.tpe match {
            case graft.avro.AvroSparkType.TDecimal =>
              log(s"[DECIMAL-FIELD] field=${f.name} type=decimal(38,9)")
            case graft.avro.AvroSparkType.TDouble | graft.avro.AvroSparkType.TFloat =>
              log(s"[FLOAT-FIELD] field=${f.name} (unexpected float)")
            case _ => ()
          }
        }
      }

      group.groupBy(s => folderOf(s.path)).foreach { case (folder, sub) =>
        val groupPaths = sub.map(_.path)
        mode match {
          case ConvertMode.Standard =>
            import scala.jdk.CollectionConverters._
            val acc = spark.sparkContext.collectionAccumulator[String]("graft.failedFiles")
            try {
              // optimistic single-pass: one decode, rows stream straight
              // to the parquet writer (the 2M-rows/s path)
              val df = AvroCdcReader.readGroup(spark, groupPaths, flat, mode, acc)
              write(df, outputPrefix, folder, date)
              val bad = acc.value.asScala.map(_.split('\t').head).toSet
              failed ++= bad
              converted ++= groupPaths.filterNot(bad.contains)
            } catch {
              case e: Throwable if hasConversionCause(e) =>
                // a HARD conversion error (reference main.py's strict
                // casts) failed the write job — the v1 committer discards
                // the aborted job's files, and a straggler task of it can
                // only commit into that job's own attempt dir (see write),
                // so the output holds NO rows from this group, now or
                // later. Fall back to probe-and-rewrite: decode+convert
                // each file (the reference's own double-read), isolate
                // the failing files, and re-write only the clean ones —
                // whole-file atomic failure restored at a cost bounded by
                // the failure rate.
                val statuses =
                  AvroCdcReader.probe(spark, groupPaths, flat, mode)
                val ok = statuses.collect { case AvroCdcReader.FileOk(p) => p }
                val bad = statuses.collect {
                  case AvroCdcReader.FileFailed(p, _) => p
                  // Standard-mode flatten can throw the fallback-class
                  // errors too (string in a timestamp union, complex-type
                  // mismatch); Standard has no all-string fallback path,
                  // so those files FAIL — the pre-lazy per-split catch
                  // classified them identically
                  case f: AvroCdcReader.FileNeedsFallback => f.path
                }
                val acc2 = spark.sparkContext
                  .collectionAccumulator[String]("graft.failedFiles")
                if (ok.nonEmpty)
                  write(AvroCdcReader.readGroup(spark, ok, flat, mode, acc2),
                    outputPrefix, folder, date)
                val bad2 = acc2.value.asScala.map(_.split('\t').head).toSet
                failed ++= bad ++ bad2
                converted ++= ok.filterNot(bad2.contains)
            }

          case ConvertMode.ReferenceExact =>
            val statuses = AvroCdcReader.probe(spark, groupPaths, flat)
            val ok = statuses.collect { case AvroCdcReader.FileOk(p) => p }
            val fbs = statuses.collect { case f: AvroCdcReader.FileNeedsFallback => f }
            val fb = fbs.map(_.path)
            val bad = statuses.collect { case AvroCdcReader.FileFailed(p, _) => p }
            fbs.foreach { f =>
              colFailures += f.path -> f.columns
              audit.foreach { log =>
                f.columns.foreach { c =>
                  log(s"[COLUMN-FAILURE] file=${f.path} column=${c.column} " +
                    s"type=${c.declaredType} sample=${c.sampleValue} error=${c.error}")
                }
              }
            }
            val acc = spark.sparkContext.collectionAccumulator[String]("graft.failedFiles")
            if (ok.nonEmpty)
              write(AvroCdcReader.readGroup(spark, ok, flat, mode, acc),
                outputPrefix, folder, date)
            if (fb.nonEmpty)
              write(AvroCdcReader.readGroupFallback(spark, fb, flat, acc),
                outputPrefix, folder, date)
            converted ++= ok
            fellBack ++= fb
            failed ++= bad
        }
      }
    }

    // the ledger records every discovered path — including failed ones —
    // matching MatchContinuously's has_deduplication (a failed file is not
    // retried by the reference either; its DoFn failure is terminal)
    ledger.foreach(_.add(paths))
    ConvertReport(paths.size, converted, fellBack, failed, colFailures)
  }

  /** The message prefix [[AvroCdcReader.ConversionTaskError]]'s constructor
    * builds. Every re-wrapped form carries it: a toString-based wrapper as
    * `<FQCN>: graft.ConversionTaskError: hard conversion failure in …`, a
    * getMessage-based wrapper without the class name — and in BOTH the
    * prefix sits at a frame boundary (string start, or after whitespace —
    * Throwable.toString chains render "…: " before it). Requiring the full
    * prefix at a boundary (not the bare "graft.ConversionTaskError" tag
    * anywhere) keeps a log line quoting the tag mid-token from rerouting a
    * read failure into the probe-and-rewrite double-read.
    */
  private val ConversionMessageMarker: String =
    "graft.ConversionTaskError: hard conversion failure in "

  private def markerAtFrameStart(msg: String): Boolean = {
    var i = msg.indexOf(ConversionMessageMarker)
    while (i >= 0) {
      if (i == 0) return true
      val c = msg.charAt(i - 1)
      if (c == ' ' || c == '\n' || c == '\t') return true
      i = msg.indexOf(ConversionMessageMarker, i + 1)
    }
    false
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** True when a failed Spark job's cause chain bottoms out in a hard
    * conversion error. Executor-side exceptions survive serialization as
    * the same class (typed match); the marker check covers re-wrapped
    * forms where the driver only sees the remote exception's toString or
    * message — every occurrence is scanned (a quoted copy early in the
    * message cannot hide a legitimate one later), and a hit on this
    * weaker branch is logged so a misrouted double-read is visible.
    */
  private[convert] def hasConversionCause(e: Throwable): Boolean = {
    var cur = e
    var depth = 0
    while (cur != null && depth < 20) {
      cur match {
        case _: AvroCdcReader.ConversionTaskError => return true
        case _ =>
          val msg = cur.getMessage
          if (msg != null && markerAtFrameStart(msg)) {
            log.warn(
              "hasConversionCause matched by message marker, not exception " +
                s"class (wrapper: ${cur.getClass.getName}); routing to " +
                "probe-and-rewrite")
            return true
          }
      }
      cur = cur.getCause
      depth += 1
    }
    false
  }

  /** Every write commits through its own job-attempt directory,
    * `<prefix>/<folder>/_temporary/<attempt>/`. With the Hadoop default
    * (attempt 0) all appends to a folder share one directory, so a task of
    * an aborted write (the failed optimistic pass before probe-and-rewrite,
    * or a crashed driver's last poll) that commits after the abort's
    * cleanup would be merged — its rows published — by the next write's
    * job commit. A random attempt id per write keeps such a straggler's
    * output out of every other commit; the next job commit's cleanup
    * deletes it with the rest of `_temporary`.
    */
  private def write(
      df: DataFrame, outputPrefix: String, folder: String,
      ingestionDate: String): Unit = {
    df.withColumn("ingestion_date", lit(ingestionDate))
      .drop(AvroCdcReader.InputPathCol)
      .write
      .mode("append")
      .option("mapreduce.job.application.attempt.id",
        java.util.concurrent.ThreadLocalRandom.current().nextInt(1, Int.MaxValue).toString)
      .partitionBy("ingestion_date")
      .option("compression", "snappy")
      .parquet(s"$outputPrefix/$folder")
  }

  /** Continuous mode: poll the glob every `intervalSeconds`, convert newly
    * appeared files, forever (or `maxIterations` for tests). Graceful-stop
    * semantics (the reference control plane's `drain`,
    * run_dataflow.py:121-143): finish the in-flight batch, then return.
    *
    * Discovery at 100× file count: `globStatus` is one driver-side listing
    * per poll — at millions of landing-zone files, split the deployment by
    * prefix (one `runContinuous` per source-folder glob, each with its own
    * ledger dir), which bounds BOTH the listing and the ledger per worker.
    * Membership runs through [[FileLedger.filterUnseen]], which streams
    * only the shards this poll's candidates touch and never builds a
    * seen-set, so per-poll driver memory is the candidate list;
    * `ledgerShards` bounds what compaction rewrites (1/n of history) and
    * how much of it each poll reads. The [[runStreaming]] path scales
    * further still (incremental checkpoint log, no full listing diff).
    *
    * `onReport` receives each poll's report as the poll ends (after its
    * ledger compaction), in poll order — the same reports the loop returns.
    *
    * Driver heap at production duration: Spark's AppStatusStore retains
    * job/stage/task wrappers and SQL-execution plan graphs up to its
    * DEFAULT caps even with the UI disabled — at a few jobs per poll the
    * driver climbs for thousands of polls before eviction starts
    * (measured by `graft.SoakContinuous`: 65→98 MB over 1000 polls on
    * defaults; flat under bounded retention). Long-running deployments
    * should set `spark.ui.retainedJobs`/`retainedStages`/`retainedTasks`
    * and `spark.sql.ui.retainedExecutions` to bounded values sized to
    * their monitoring needs.
    */
  def runContinuous(
      spark: SparkSession,
      inputPattern: String,
      outputPrefix: String,
      ledgerDir: String,
      intervalSeconds: Int,
      mode: ConvertMode = ConvertMode.Standard,
      maxIterations: Int = Int.MaxValue,
      shouldStop: () => Boolean = () => false,
      ledgerShards: Int = 1,
      onReport: ConvertReport => Unit = _ => ()): Seq[ConvertReport] = {
    var reports = Vector.empty[ConvertReport]
    val ledger = new FileLedger(
      ledgerDir, spark.sparkContext.hadoopConfiguration, ledgerShards)
    var i = 0
    while (i < maxIterations && !shouldStop()) {
      val report = poll(spark, inputPattern, outputPrefix, mode, Some(ledger),
        ingestionDate = None, audit = None)
      // fold accumulated per-poll batch files back into one past 64: a
      // year of 30s polls is ~1M ledger files otherwise (see FileLedger)
      ledger.compact()
      reports :+= report
      onReport(report)
      i += 1
      if (i < maxIterations && !shouldStop()) Thread.sleep(intervalSeconds * 1000L)
    }
    reports
  }

  /** Structured Streaming mode: the same conversion as [[runContinuous]]
    * driven by Spark's own micro-batch engine instead of the poll loop —
    * `readStream.format("cdc-avro")` discovers newly appeared files per
    * batch with offsets in the CHECKPOINT (restart-safe exactly-once
    * discovery, no [[FileLedger]] needed), and `foreachBatch` reproduces
    * the reference's `<prefix>/<folder>/ingestion_date=…/` layout.
    *
    * Trade-off vs [[runOnce]]: the flattened schema is derived once at
    * stream START; a mid-stream writer-schema evolution needs a stream
    * restart, where the poll loop re-derives per batch. Caller stops the
    * query (`processAllAvailable()`/`awaitTermination`).
    *
    * Schema-drift policy (pinned by StreamingSpec): a file whose payload
    * grows a NEW column mid-stream still converts — its known columns
    * land typed, the new column is silently ABSENT (the reader projects
    * to the pinned schema; the typed sink's schema never changes
    * mid-stream, so downstream readers cannot be corrupted). A RESTART
    * with `readerOptions = Map("mergeSchema" -> "true")` re-derives the
    * schema name-merged across all landing-zone generations: the new
    * column appears, old-generation files read null for it. Type
    * CONFLICTS across generations merge to string (the catalog rule,
    * `AvroCdcDataSource.mergeFlatSchemas`).
    *
    * Driver heap at production duration: same AppStatusStore retention
    * note as [[runContinuous]] — bound the `spark.ui.retained*` /
    * `spark.sql.ui.retainedExecutions` confs on a long-running stream.
    */
  def runStreaming(
      spark: SparkSession,
      inputPattern: String,
      outputPrefix: String,
      checkpointDir: String,
      ingestionDate: Option[String] = None,
      readerOptions: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // checkpoint-I/O defaults for the production stream (checksum
    // sidecars off unless the deployment pinned them in the SparkConf —
    // see CheckpointTuning; the bench session sets the same conf, so the
    // shipped path and the measured path now agree)
    graft.streaming.CheckpointTuning.applyStreamingDefaults(spark)
    val pathCol = graft.sources.AvroCdcDataSource.InputPathCol
    val folderCol = when(
      regexp_extract(col(pathCol), "/avro/([^/]+)/", 1) === "", "unknown")
      .otherwise(regexp_extract(col(pathCol), "/avro/([^/]+)/", 1))
    spark.readStream.format("cdc-avro").options(readerOptions).load(inputPattern)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val tagged = batch.withColumn("__folder", folderCol).persist()
          try {
            val date = ingestionDate.getOrElse(
              LocalDate.now(ZoneOffset.UTC).toString)
            val folders = tagged.select(col("__folder")).distinct()
              .collect().map(_.getString(0))
            folders.foreach { folder =>
              write(tagged.filter(col("__folder") === folder)
                .drop("__folder", pathCol), outputPrefix, folder, date)
            }
          } finally { tagged.unpersist(); () }
        }
      }
      .start()
  }

  /** `30m` / `1h` / `2d` → seconds (reference main.py:242-246). */
  def parseDurationToSeconds(text: String): Int = {
    val m = "(?i)\\s*(\\d+)\\s*([smhd])\\s*".r
    text.trim match {
      case m(n, u) =>
        // Locale.ROOT: under tr-TR the default-locale lowercase maps
        // I→ı — none of [smhd] today, but config parsing must not
        // depend on the JVM's locale staying out of the hazard set
        val mult = u.toLowerCase(java.util.Locale.ROOT) match {
          case "s" => 1; case "m" => 60; case "h" => 3600; case "d" => 86400
        }
        n.toInt * mult
      case _ => throw new IllegalArgumentException(
        s"invalid window_duration: '$text' (use 30m, 1h, ...)")
    }
  }
}
