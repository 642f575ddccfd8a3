package graft

import org.apache.spark.sql.SparkSession

import graft.avro.ConvertMode
import graft.convert.AvroToParquetJob

/** The converter's command-line entry point — the counterpart of the
  * reference pipeline's CLI (`python main.py --input_pattern ...
  * --output_prefix ... --window_duration 1h`, main.py:582-589), runnable
  * via `spark-submit --class graft.Convert` or
  * `sbt "runMain graft.Convert ..."`.
  *
  * Flags:
  *   --input_pattern <glob>     (required) CDC Avro files to convert
  *   --output_prefix <dir>      (required) partitioned parquet destination
  *   --window_duration <30m|1h|2d>  poll interval (default 1h)
  *   --ledger_dir <dir>         processed-file ledger
  *                              (default <output_prefix>/_graft_ledger)
  *   --ledger_shards <n>        hash-prefix shard count for the ledger
  *                              (default 1; raise at millions of ledgered
  *                              files — per-poll membership reads and
  *                              compaction then touch 1/n of history)
  *   --mode <standard|exact>    conversion mode (default standard;
  *                              'exact' reproduces the reference's
  *                              all-string fallback quirks)
  *   --once                     run a single batch and exit (the
  *                              continuous loop is the default, like the
  *                              reference's streaming pipeline; it prints
  *                              each poll's report line as the poll ends)
  *   --max_iterations <n>       stop after n polls (testing)
  *
  * Catalog mode (no conversion — query the landing zone in place):
  *   --catalog <landing_root>   register `<root>/avro/<folder>` dirs as
  *                              SQL tables under catalog `cdc` via
  *                              [[graft.sources.AvroCdcCatalog]]
  *   --sql "<statement>"        run one SQL statement against it and
  *                              print the result as JSON lines; without
  *                              --sql, list the discovered tables.
  *                              `--input_pattern`/`--output_prefix` are
  *                              not required in this mode.
  */
object Convert {

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--once" => m("once") = "true"; i += 1
        case flag if flag.startsWith("--") && i + 1 < args.length =>
          m(flag.drop(2)) = args(i + 1); i += 2
        case other =>
          System.err.println(s"[convert] unknown argument: $other"); sys.exit(2)
      }
    }
    m.toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    if (opts.contains("catalog")) { runCatalogMode(opts); return }
    val input = opts.getOrElse("input_pattern",
      { System.err.println("[convert] --input_pattern is required"); sys.exit(2) })
    val output = opts.getOrElse("output_prefix",
      { System.err.println("[convert] --output_prefix is required"); sys.exit(2) })
    val interval = AvroToParquetJob.parseDurationToSeconds(
      opts.getOrElse("window_duration", "1h"))
    val ledger = opts.getOrElse("ledger_dir", s"$output/_graft_ledger")
    val mode = opts.getOrElse("mode", "standard") match {
      case "standard" => ConvertMode.Standard
      case "exact" => ConvertMode.ReferenceExact
      case other =>
        System.err.println(s"[convert] unknown --mode: $other (standard|exact)")
        sys.exit(2)
    }

    val spark = SparkSession.builder()
      .appName("graft-cdc-convert")
      // spark-submit injects spark.master; default to local for sbt runMain
      .config("spark.master", sys.props.getOrElse("spark.master", "local[*]"))
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def report(r: AvroToParquetJob.ConvertReport): Unit =
      println(s"""{"discovered":${r.discovered},"converted":${r.converted.size},""" +
        s""""fallback":${r.fallback.size},"failed":${r.failed.size}}""")

    val ledgerShards = opts.get("ledger_shards").map(_.toInt).getOrElse(1)
    try {
      if (opts.contains("once")) {
        report(AvroToParquetJob.runOnce(spark, input, output, mode, Some(ledger),
          ledgerShards = ledgerShards))
      } else {
        val maxIter = opts.get("max_iterations").map(_.toInt).getOrElse(Int.MaxValue)
        AvroToParquetJob.runContinuous(spark, input, output, ledger, interval,
          mode, maxIter, ledgerShards = ledgerShards, onReport = report)
      }
    } finally spark.stop()
  }

  /** `--catalog <root> [--sql "<stmt>"]`: landing-zone-as-database. */
  private def runCatalogMode(opts: Map[String, String]): Unit = {
    val root = opts("catalog")
    val spark = SparkSession.builder()
      .appName("graft-cdc-catalog")
      .config("spark.master", sys.props.getOrElse("spark.master", "local[*]"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.catalog.cdc",
        classOf[graft.sources.AvroCdcCatalog].getName)
      .config("spark.sql.catalog.cdc.root", root)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      opts.get("sql") match {
        case Some(stmt) =>
          spark.sql(stmt).toJSON.collect().foreach(println)
        case None =>
          spark.sql("SHOW TABLES IN cdc").collect()
            .foreach(r => println(s"cdc.${r.getString(1)}"))
      }
    } finally spark.stop()
  }
}
