package graft.cdcbench

import scala.collection.mutable.ArrayBuffer

/** The scan layer's load: one closed-loop client running a fixed SQL mix
  * over the `cdc` catalog (`graft.sources.AvroCdcCatalog`) rooted at the
  * backfill landing zone, reading its clean `orders` and `accounts`
  * folders. The next mix starts when the previous one returns.
  */
object Catalog {
  val MaxPasses = 500
  val LimitRows = 100

  def catalogs(work: String): Seq[(String, String)] =
    Seq("cdc" -> s"$work/landing", "warm" -> s"$work/warm")

  /** One query of the mix and what it returned: result rows for the SQL
    * queries, none for the `noop` scan (checked through the listener).
    */
  final case class Ran(name: String, group: String, planNs: Long, execNs: Long,
      rows: Seq[org.apache.spark.sql.Row], lookup: String = "")

  /** Runs the mix once against catalog `c`; `lookups` rotates the file the
    * `_input_path` query selects.
    */
  def mix(env: Env, c: String, pass: Int, lookups: Seq[String]): Seq[Ran] = {
    val sc = env.spark.sparkContext
    def sql(name: String, q: String, lookup: String = ""): Ran =
      env.tracer.span(s"catalog.$name", sc) { sp =>
        val t0 = System.nanoTime()
        val df = env.spark.sql(q)
        df.queryExecution.executedPlan
        val t1 = System.nanoTime()
        val rows = df.collect().toSeq
        Ran(name, sp.group, t1 - t0, System.nanoTime() - t1, rows, lookup)
      }
    val lookup = lookups(pass % lookups.size)
    Seq(
      sql("narrow_agg",
        s"""SELECT source_metadata.change_type AS ct, count(1) AS n, sum(id) AS sid,
           |sum(cast(qty AS BIGINT)) AS sq FROM $c.orders GROUP BY 1""".stripMargin),
      sql("path_lookup",
        s"SELECT count(1) AS n, coalesce(sum(id), 0) AS sid FROM $c.orders " +
          s"WHERE _input_path = '$lookup'", lookup),
      env.tracer.span("catalog.full_scan", sc) { sp =>
        val t0 = System.nanoTime()
        env.spark.table(s"$c.accounts").write.format("noop").mode("overwrite").save()
        Ran("full_scan", sp.group, 0L, System.nanoTime() - t0, Nil)
      },
      sql("limit", s"SELECT id FROM $c.accounts LIMIT $LimitRows"),
    )
  }

  private val AggKeys = Set("n_insert", "n_update", "n_delete", "sum_id", "sum_qty", "rows")

  def qualified(path: String): String = s"file:$path"

  def warmUp(env: Env, k: Int): Unit = {
    val lookups = env.manifest.filter(_.folder == "orders").map(f =>
      qualified(f.path.replace(s"${env.work}/landing/", s"${env.work}/warm/")))
    (0 until 4).foreach(i => mix(env, "warm", i, lookups))
  }

  /** `minPasses`: the pass count a window runs even when they overrun it. */
  def window(env: Env, seconds: Double, minPasses: Int): Window = {
    val orders = env.manifest.filter(_.folder == "orders")
    val accounts = env.manifest.filter(_.folder == "accounts")
    val lookups = orders.map(f => qualified(f.path))
    val passes = ArrayBuffer.empty[(Double, Seq[Ran])]
    val (_, smp) = Window.sampled {
      val t0 = System.nanoTime()
      // start another pass only if it should end inside the window
      while ((passes.size < minPasses ||
          System.nanoTime() - t0 + passes.last._1 * 1e9 <= seconds * 1e9) &&
          passes.size < MaxPasses) {
        env.tracer.span("catalog.pass", env.spark.sparkContext) { _ =>
          val s0 = System.nanoTime()
          val ran = mix(env, "cdc", passes.size, lookups)
          passes += ((Stats.s(System.nanoTime() - s0), ran))
        }
      }
    }

    // ---- check every query's result against the generator's invariants
    val ord = Invariants.sum(orders.map(_.inv))
    val acc = Invariants.sum(accounts.map(_.inv))
    val accRanges = accounts.map { f =>
      val n = f.inv("rows"); val lo = (f.inv("sum_id") - n * (n - 1) / 2) / n
      (lo.toLong, (lo + n - 1).toLong)
    }
    val problems = ArrayBuffer.empty[String]
    var failed = 0L
    var facts = Map.empty[String, BigDecimal]
    val perPass = passes.map { case (t, ran) =>
      ran.foreach(r => env.listener.awaitGroup(r.group))
      val bad = ran.flatMap { r =>
        val err: Option[String] = r.name match {
          case "narrow_agg" =>
            val byCt = r.rows.map(x => x.getString(0) -> x).toMap
            val got = Map(
              "n_insert" -> byCt.get("INSERT").map(x => BigDecimal(x.getLong(1))),
              "n_update" -> byCt.get("UPDATE").map(x => BigDecimal(x.getLong(1))),
              "n_delete" -> byCt.get("DELETE").map(x => BigDecimal(x.getLong(1))),
              "sum_id" -> Some(r.rows.map(x => BigDecimal(x.getLong(2))).sum),
              "sum_qty" -> Some(r.rows.map(x => BigDecimal(x.getLong(3))).sum),
              "rows" -> Some(r.rows.map(x => BigDecimal(x.getLong(1))).sum),
            ).collect { case (k, Some(v)) => k -> v }
            facts ++= got.map { case (k, v) => s"orders.$k" -> v }
            val d = Invariants.diff(ord.filter(kv => AggKeys(kv._1)), got)
            if (d.isEmpty) None else Some(d.mkString("; "))
          case "path_lookup" =>
            val f = orders.find(o => qualified(o.path) == r.lookup).get
            val n = r.rows.head.getLong(0); val sid = env.toBig(r.rows.head.get(1))
            if (n == f.rows && sid == f.inv("sum_id")) None
            else Some(s"${f.name}: $n rows sum_id $sid")
          case "full_scan" =>
            val read = env.listener.group(r.group).recordsRead.get()
            facts += "accounts.rows" -> BigDecimal(read)
            if (read == acc("rows").toLong) None else Some(s"scanned $read rows")
          case "limit" =>
            val ids = r.rows.map(_.getLong(0))
            val ok = ids.size == LimitRows && ids.distinct.size == ids.size &&
              ids.forall(id => accRanges.exists { case (lo, hi) => id >= lo && id <= hi })
            if (ok) None else Some(s"${ids.size} rows, not all accounts ids")
        }
        err.map(e => s"${r.name}: $e")
      }
      problems ++= bad
      failed += bad.size
      val rows = ran.map(r => env.listener.group(r.group).recordsRead.get()).sum
      val bytes = ran.map(r => env.listener.group(r.group).bytesRead.get()).sum
      (t, rows.toDouble, bytes.toDouble, ran)
    }

    val times = perPass.map(_._1).toSeq
    val rows = perPass.map(_._2).sum
    Window(
      attempted = passes.size * 4L,
      failed = failed,
      problems = problems.toSeq,
      e2e = Map(
        "rows_s" -> Stats.median(perPass.map(p => p._2 / p._1).toSeq),
        "cpu_s_per_mrow" -> Window.cpuPerMrow(smp.cpuNs, rows),
        "bytes_per_row" -> perPass.map(_._3).sum / rows,
        "freshness_p50_s" -> Stats.percentile(times, 50),
        "freshness_p90_s" -> Stats.percentile(times, 90),
      ),
      units = passes.size,
      startMs = smp.startMs, endMs = smp.endMs, gcMs = smp.gcMs,
      facts = facts,
      extra = Map(
        "query_mix_s" -> Stats.median(times),
        "scan.plan_s" -> Stats.median(passes.map(_._2.map(r => Stats.s(r.planNs)).sum).toSeq),
        "scan.exec_s" -> Stats.median(passes.map(_._2.map(r => Stats.s(r.execNs)).sum).toSeq),
      ))
  }
}
