package graft.cdcbench

import java.io.File

import scala.io.Source

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr

import graft.cdcbench.Invariants.Inv

/** One generated input file, as `manifest.tsv` describes it. */
final case class FileEntry(path: String, folder: String, label: String, inv: Inv) {
  def name: String = new File(path).getName
  def rows: Long = inv("rows").toLong
}

final case class Metric(name: String, value: Double, unit: String)

/** What a workload measured and what its check found. `problems` lists
  * every check that failed, for the log.
  */
final case class Outcome(
    attempted: Long, failed: Long, problems: Seq[String], metrics: Seq[Metric]) {
  def correct: Boolean = failed == 0 && problems.isEmpty
}

/** The state one benchmark process shares between its phases. */
final class Env(val work: String, val seed: Long, val trace: Boolean) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val manifest: Seq[FileEntry] = {
    val src = Source.fromFile(s"$work/manifest.tsv", "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(p, folder, label, inv) = l.split("\t", -1)
      FileEntry(p, folder, label, Invariants.decode(inv))
    }.toVector
    finally src.close()
  }
  val tracer = new Tracer(s"${new File(work).getName}")
  @volatile var recording = false
  var listener: BenchListener = _
  var spark: SparkSession = _

  /** A session with the shipped converter confs (`graft.Convert`: UTC,
    * GraftExtensions, UI off as under `runMain`), plus the given catalogs
    * (`graft.Convert --catalog`'s confs). Stops the previous one.
    */
  def newSession(master: String, catalogs: Seq[(String, String)] = Nil): SparkSession = {
    if (spark != null) spark.stop()
    val b = SparkSession.builder()
      .appName("graft-cdc-convert")
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new graft.plans.GraftExtensions)
    catalogs.foreach { case (name, root) =>
      b.config(s"spark.sql.catalog.$name", classOf[graft.sources.AvroCdcCatalog].getName)
        .config(s"spark.sql.catalog.$name.root", root)
    }
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    listener = new BenchListener(() => recording)
    spark.sparkContext.addSparkListener(listener)
    spark
  }

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[cdcbench] +${(System.currentTimeMillis() - Proc.startMillis()) / 1e3}%.1fs $msg")

  def localMaster: String = s"local[$cores]"

  /** Sets up `reps` times and returns the median set-up time. The first
    * set-up is timed from JVM start, the others from stopping the previous
    * session; each builds a session and runs `warmUp` on it.
    */
  def setUp(reps: Int, catalogs: Seq[(String, String)] = Nil)(warmUp: Int => Unit): Double = {
    val times = (0 until reps).map { k =>
      val t0 = if (k == 0) Proc.startMillis() * 1000000L else System.currentTimeMillis() * 1000000L
      newSession(localMaster, catalogs)
      warmUp(k)
      val t = System.currentTimeMillis() * 1000000L - t0
      log(f"set-up ${k + 1}/$reps took ${Stats.s(t)}%.2f s")
      t
    }
    Stats.median(times.map(Stats.s))
  }

  /** Sum of the sizes of the `.parquet` files under `dir`, and their count. */
  def parquetBytes(dir: String): (Long, Int) = {
    val files = walk(new File(dir)).filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (files.map(_.length).sum, files.size)
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  def deleteTree(dir: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new File(dir))
  }

  /** Reads converted Parquet back and recomputes the invariants `keys`
    * per directory, in one Spark job. Each directory must hold only
    * `ingestion_date=<date>` partitions, of the given dates.
    */
  def readBack(dirs: Seq[String], dates: Set[String], keys: Iterable[String])
      : Map[String, Either[String, Inv]] = {
    def parts(d: String) =
      Option(new File(d).listFiles()).toSeq.flatten.filter(_.isDirectory).map(_.getPath)
    val (good, bad) = dirs.partition { d =>
      val ps = parts(d).map(p => new File(p).getName)
      ps.nonEmpty && ps.forall(p => dates.exists(date => p == s"ingestion_date=$date"))
    }
    val layout = bad.map(d => d -> Left(s"$d: no output, or partitions outside ingestion_date in " +
      dates.mkString(",")))
    val exprs = Invariants.exprsFor(keys)
    val rows = if (good.isEmpty) Map.empty[String, org.apache.spark.sql.Row] else
      tracer.span("check.readback", spark.sparkContext) { _ =>
        // the partition directories themselves, so no partition discovery
        // has to reconcile several table roots
        spark.read.parquet(good.flatMap(parts): _*)
          .selectExpr("regexp_extract(_metadata.file_path, " +
            "'^(?:file:)?(?://)?(/.*)/ingestion_date=', 1) AS dir", "*")
          .groupBy("dir").agg(expr(exprs.head._2), exprs.tail.map(e => expr(e._2)): _*)
          .collect().map(r => r.getString(0) -> r).toMap
      }
    (layout ++ good.map { d =>
      d -> rows.get(new File(d).getAbsolutePath).map(r =>
        exprs.indices.map(i => exprs(i)._1 -> toBig(r.get(i + 1))).toMap)
        .toRight(s"$d: no rows read back")
    }).toMap
  }

  def toBig(v: Any): BigDecimal = v match {
    case null => BigDecimal(0)
    case d: java.math.BigDecimal => BigDecimal(d)
    case n: java.lang.Number => BigDecimal(n.toString)
    case other => BigDecimal(other.toString)
  }
}
