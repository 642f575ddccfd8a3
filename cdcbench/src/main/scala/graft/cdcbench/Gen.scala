package graft.cdcbench

import java.io.File
import java.math.{BigInteger, RoundingMode}
import java.nio.ByteBuffer
import java.util.SplittableRandom
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** Seeded CDC Avro input generator. Runs in its own JVM before the
  * benchmark process starts, so generation is in no timed window and not
  * in set-up time. Writes the containers plus `manifest.tsv`: one line per
  * file with its folder, its expected outcome (`converted` / `failed`) and
  * the invariants of the rows it holds.
  *
  * Usage: `Gen <workload> <seed> <workdir>`.
  */
object Gen {

  // ---- shapes --------------------------------------------------------

  private def envelope(txType: String, payloadFields: String): String =
    s"""{"type":"record","name":"cdc_event","fields":[
      {"name":"uuid","type":"string"},
      {"name":"read_timestamp","type":{"type":"long","logicalType":"timestamp-millis"}},
      {"name":"source_metadata","type":{"type":"record","name":"sm","fields":[
        {"name":"schema","type":"string"},{"name":"table","type":"string"},
        {"name":"is_deleted","type":"boolean"},{"name":"change_type","type":"string"},
        {"name":"tx_id","type":["null","$txType"]},{"name":"lsn","type":["null","string"]},
        {"name":"primary_keys","type":{"type":"array","items":"string"}}]}},
      {"name":"payload","type":["null",{"type":"record","name":"p","fields":[$payloadFields]}]}
    ]}"""

  private val Decimal30 =
    """{"type":"bytes","logicalType":"decimal","precision":38,"scale":30}"""

  private val NarrowPayload =
    s"""{"name":"id","type":"long"},
        {"name":"name","type":["null","string"]},
        {"name":"qty","type":["null","int"]},
        {"name":"price","type":["null",$Decimal30]},
        {"name":"created_at","type":["null",{"type":"long","logicalType":"timestamp-micros"}]}"""

  /** Filler column kinds of the wide shape, cycled to reach 40 columns. */
  private val FillerKinds = Vector("string", "long", "double", "boolean", "decimal",
    "ts", "date", "int", "longs", "doubles")
  val WideFillers = 29
  private val Complex = Set("longs", "doubles")

  private def fillerType(kind: String): String = kind match {
    case "decimal" => Decimal30
    case "ts" => """{"type":"long","logicalType":"timestamp-micros"}"""
    case "date" => """{"type":"int","logicalType":"date"}"""
    case "longs" => """{"type":"array","items":"long"}"""
    case "doubles" => """{"type":"map","values":"double"}"""
    case prim => s""""$prim""""
  }

  private val WidePayload = NarrowPayload +
    """,{"name":"score","type":["null","int"]},
        {"name":"opened_on","type":["null",{"type":"int","logicalType":"date"}]},
        {"name":"updated_at","type":["null",{"type":"long","logicalType":"timestamp-millis"}]},
        {"name":"tags","type":{"type":"array","items":"string"}},
        {"name":"attrs","type":{"type":"map","values":"long"}},
        {"name":"note","type":["null","string"]}""" +
    (0 until WideFillers).map { i =>
      val kind = FillerKinds(i % FillerKinds.size)
      // a nullable union of an array or map converts to a JSON string;
      // the bare forms stay typed
      val t = if (Complex(kind)) fillerType(kind) else s"""["null",${fillerType(kind)}]"""
      s""",{"name":"f$i","type":$t}"""
    }.mkString

  sealed abstract class Shape(val json: String, val wide: Boolean, val stringTx: Boolean) {
    lazy val schema: Schema = new Schema.Parser().parse(json)
  }
  case object Narrow extends Shape(envelope("long", NarrowPayload), false, false)
  case object WideShape extends Shape(envelope("long", WidePayload), true, false)
  case object Legacy extends Shape(envelope("string", NarrowPayload), false, true)

  def invariantKeys(shape: Shape): Seq[String] =
    (Invariants.Base ++ (if (shape.wide) Invariants.Wide else Nil)).map(_._1)

  // ---- one file ------------------------------------------------------

  /** A file to write. `hostileRow`: the row whose `tx_id` is made
    * non-numeric; `truncate`: cut the finished container mid final block.
    */
  final case class Spec(
      path: String, folder: String, shape: Shape, rows: Int, idBase: Long,
      seed: Long, label: String, hostileRow: Int = -1, truncate: Boolean = false)

  private val Ten21 = BigInteger.TEN.pow(21)
  private val ChangeTypes = Array("INSERT", "UPDATE", "DELETE")
  private val TsBase = 1704067200000000L // 2024-01-01T00:00:00Z in micros
  private val DayBase = 19723 // 2024-01-01 in epoch days

  /** Writes `spec` and returns the invariants of the rows written. */
  def writeFile(spec: Spec): Invariants.Inv = {
    val schema = spec.shape.schema
    val smSchema = schema.getField("source_metadata").schema()
    val pSchema = schema.getField("payload").schema().getTypes.get(1)
    val rnd = new SplittableRandom(spec.seed)
    val f = new File(spec.path)
    f.getParentFile.mkdirs()
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.setCodec(CodecFactory.snappyCodec())
    w.create(schema, f)

    var sumId, sumQty, nullName, sumTx = 0L
    // timestamp sums overflow a long at a million rows
    var sumCreated, sumUpdated = BigInt(0)
    var sumPrice = java.math.BigDecimal.ZERO
    val nType = new Array[Long](3)
    var sumScore, sumOpened, sumTags, sumAttrs, nullNote = 0L
    val pk = java.util.Arrays.asList("id")
    try {
      var i = 0
      while (i < spec.rows) {
        val id = spec.idBase + i
        val ct = { val r = rnd.nextInt(100); if (r < 50) 0 else if (r < 85) 1 else 2 }
        nType(ct) += 1
        val tx = id * 7 + 3
        sumTx += tx
        val sm = new GenericData.Record(smSchema)
        sm.put("schema", "public"); sm.put("table", spec.folder)
        sm.put("is_deleted", Boolean.box(ct == 2))
        sm.put("change_type", ChangeTypes(ct))
        sm.put("tx_id",
          if (!spec.shape.stringTx) Long.box(tx)
          else if (i == spec.hostileRow) s"tx-${rnd.nextInt(1000)}"
          else tx.toString)
        sm.put("lsn", s"0/${java.lang.Long.toHexString(id)}")
        sm.put("primary_keys", pk)

        val p = new GenericData.Record(pSchema)
        p.put("id", Long.box(id)); sumId += id
        if (rnd.nextInt(10) == 0) nullName += 1
        else p.put("name", s"name-${rnd.nextInt(100000)}")
        if (rnd.nextInt(20) != 0) {
          val q = rnd.nextInt(1000); p.put("qty", Int.box(q)); sumQty += q
        }
        // scale-30 decimal whose scale-9 quantization needs HALF_EVEN
        val unscaled = BigInteger.valueOf(rnd.nextLong(-1000000000000L, 1000000000000L))
          .multiply(Ten21).add(BigInteger.valueOf(rnd.nextLong(0L, Long.MaxValue)).mod(Ten21))
        p.put("price", ByteBuffer.wrap(unscaled.toByteArray))
        sumPrice = sumPrice.add(
          new java.math.BigDecimal(unscaled, 30).setScale(9, RoundingMode.HALF_EVEN))
        if (rnd.nextInt(20) != 0) {
          val c = TsBase + rnd.nextLong(0L, 86400000000L * 365)
          p.put("created_at", Long.box(c)); sumCreated += c
        }
        if (spec.shape.wide) {
          if (rnd.nextInt(8) != 0) {
            val s = rnd.nextInt(-500, 500); p.put("score", Int.box(s)); sumScore += s
          }
          if (rnd.nextInt(8) != 0) {
            val d = DayBase + rnd.nextInt(3650); p.put("opened_on", Int.box(d)); sumOpened += d
          }
          if (rnd.nextInt(8) != 0) {
            val ms = TsBase / 1000 + rnd.nextLong(0L, 86400000L * 365)
            p.put("updated_at", Long.box(ms)); sumUpdated += ms * 1000
          }
          val nTags = rnd.nextInt(4)
          val tags = new java.util.ArrayList[String](nTags)
          (0 until nTags).foreach(k => tags.add(s"t${rnd.nextInt(50)}-$k"))
          p.put("tags", tags); sumTags += nTags
          val nAttrs = rnd.nextInt(3)
          val attrs = new java.util.HashMap[String, java.lang.Long]()
          (0 until nAttrs).foreach(k => attrs.put(s"k$k", Long.box(rnd.nextLong(1000L))))
          p.put("attrs", attrs); sumAttrs += nAttrs
          if (rnd.nextInt(4) == 0) nullNote += 1
          else p.put("note", s"note ${rnd.nextInt(1 << 20)} for $id")
          var k = 0
          while (k < WideFillers) {
            val kind = FillerKinds(k % FillerKinds.size)
            if (Complex(kind) || rnd.nextInt(10) != 0) p.put(s"f$k", filler(kind, rnd))
            k += 1
          }
        }

        val rec = new GenericData.Record(schema)
        rec.put("uuid", s"u$id"); rec.put("read_timestamp", Long.box(TsBase / 1000 + i))
        rec.put("source_metadata", sm); rec.put("payload", p)
        w.append(rec)
        i += 1
      }
    } finally w.close()

    if (spec.truncate) {
      val ch = java.nio.channels.FileChannel.open(f.toPath, java.nio.file.StandardOpenOption.WRITE)
      try ch.truncate(ch.size() - 37) finally ch.close()
    }

    val base: Invariants.Inv = Map(
      "rows" -> spec.rows.toLong, "sum_id" -> sumId, "sum_qty" -> sumQty, "null_name" -> nullName,
      "n_insert" -> nType(0), "n_update" -> nType(1), "n_delete" -> nType(2),
      "n_is_deleted" -> nType(2), "sum_tx" -> sumTx,
    ).map { case (k, v) => k -> BigDecimal(v) } ++
      Map("sum_price" -> BigDecimal(sumPrice), "sum_created" -> BigDecimal(sumCreated))
    if (!spec.shape.wide) base
    else base ++ Map(
      "sum_score" -> sumScore, "sum_opened" -> sumOpened,
      "sum_tags" -> sumTags, "sum_attrs" -> sumAttrs, "null_note" -> nullNote,
    ).map { case (k, v) => k -> BigDecimal(v) } + ("sum_updated" -> BigDecimal(sumUpdated))
  }

  private def filler(kind: String, rnd: SplittableRandom): AnyRef = kind match {
    case "string" => s"s${rnd.nextInt(1 << 24)}"
    case "long" => Long.box(rnd.nextLong())
    case "double" => Double.box(rnd.nextDouble() * 1e6)
    case "boolean" => Boolean.box(rnd.nextBoolean())
    case "decimal" =>
      ByteBuffer.wrap(BigInteger.valueOf(rnd.nextLong(1L << 40)).multiply(Ten21).toByteArray)
    case "ts" => Long.box(TsBase + rnd.nextLong(0L, 86400000000L * 365))
    case "date" => Int.box(DayBase + rnd.nextInt(3650))
    case "int" => Int.box(rnd.nextInt())
    case "longs" =>
      val a = new java.util.ArrayList[java.lang.Long]()
      (0 until rnd.nextInt(4)).foreach(_ => a.add(Long.box(rnd.nextLong(1L << 30))))
      a
    case "doubles" =>
      val m = new java.util.HashMap[String, java.lang.Double]()
      (0 until rnd.nextInt(3)).foreach(k => m.put(s"d$k", Double.box(rnd.nextDouble())))
      m
  }

  // ---- workloads -----------------------------------------------------

  /** Input sizes, in rows. One place, so the doc and the code agree. */
  object Sizes {
    val OrdersBig = 120000
    val OrdersMedium = Seq(25000, 25000, 25000)
    val Accounts = Seq(5000, 5000, 5000, 5000)
    val LegacyFiles = 6
    val LegacyRows = 1500
    val TrickleRows = 1500
    val HistoryPaths = 200000
    /** The warm-up landing is this fraction of the timed one. */
    val WarmDivisor = 10
  }

  /** The clean `orders` + `accounts` folders and the string-`tx_id`
    * `legacy` folder with one hostile and one truncated file.
    */
  def landingSpecs(root: String, seed: Long, divisor: Int): Seq[Spec] = {
    val rnd = new SplittableRandom(seed)
    var nextId = 1L
    def spec(folder: String, name: String, shape: Shape, rows: Int, label: String = "converted",
        hostileRow: Int = -1, truncate: Boolean = false): Spec = {
      val s = Spec(s"$root/avro/$folder/$name.avro", folder, shape, rows, nextId,
        rnd.nextLong(), label, hostileRow, truncate)
      nextId += rows
      s
    }
    val orders =
      spec("orders", "orders-big", Narrow, Sizes.OrdersBig / divisor) +:
        Sizes.OrdersMedium.zipWithIndex.map { case (n, i) =>
          spec("orders", s"orders-$i", Narrow, n / divisor) }
    val accounts = Sizes.Accounts.zipWithIndex.map { case (n, i) =>
      spec("accounts", s"accounts-$i", WideShape, n / divisor) }
    val rows = math.max(100, Sizes.LegacyRows / divisor)
    // which of the files is hostile / truncated depends on the seed
    val hostile = rnd.nextInt(Sizes.LegacyFiles)
    val truncated = (hostile + 1 + rnd.nextInt(Sizes.LegacyFiles - 1)) % Sizes.LegacyFiles
    val legacy = (0 until Sizes.LegacyFiles).map { i =>
      if (i == hostile) spec("legacy", s"legacy-$i", Legacy, rows, "failed",
        hostileRow = rnd.nextInt(rows))
      else if (i == truncated) spec("legacy", s"legacy-$i", Legacy, rows, "failed",
        truncate = true)
      else spec("legacy", s"legacy-$i", Legacy, rows)
    }
    orders ++ accounts ++ legacy
  }

  /** Trickle: `n` narrow files staged outside the landing zone, to be
    * renamed into folders `t0..t2` in index order.
    */
  def trickleSpecs(dir: String, seed: Long, n: Int): Seq[Spec] = {
    val rnd = new SplittableRandom(seed)
    (0 until n).map { i =>
      Spec(f"$dir/f$i%05d.avro", s"t${i % 3}", Narrow, Sizes.TrickleRows,
        1L + i.toLong * Sizes.TrickleRows, rnd.nextLong(), "converted")
    }
  }

  /** Writes every spec on a small thread pool and returns the manifest
    * lines in spec order.
    */
  def writeAll(specs: Seq[Spec], threads: Int): Seq[String] = {
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // biggest first, so the long file does not start last
      val futures = specs.sortBy(-_.rows).map(s => s -> Future(writeFile(s)))
      val byPath = futures.map { case (s, f) => s.path -> Await.result(f, Duration.Inf) }.toMap
      specs.map(s => Seq(s.path, s.folder, s.label, Invariants.encode(byPath(s.path))).mkString("\t"))
    } finally pool.shutdown()
  }

  /** Number of trickle files staged for a run of `seconds` at `rate`. */
  def trickleFiles(seconds: Double, rate: Double): Int = math.ceil(seconds * rate).toInt + 1

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, dir, secondsS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val threads = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val t0 = System.nanoTime()
    val lines: Seq[String] = workload match {
      case "backfill" =>
        writeAll(landingSpecs(s"$dir/warm", seed ^ 0x5eedL, Sizes.WarmDivisor), threads)
        writeAll(landingSpecs(s"$dir/landing", seed, 1), threads)
      case "trickle" =>
        writeAll(trickleSpecs(s"$dir/warm-staging", seed ^ 0x5eedL, 2 * Trickle.WarmPoll), threads)
        val lines = writeAll(
          trickleSpecs(s"$dir/staging", seed, trickleFiles(seconds, Trickle.Rate)), threads)
        // historical ledger entries: paths converted long ago, no longer listed
        val history = (0 until Sizes.HistoryPaths).map(i =>
          f"file:$dir/landing/avro/h${i % 50}%02d/old-$i%07d.avro")
        new graft.convert.FileLedger(s"$dir/ledger",
          new org.apache.hadoop.conf.Configuration()).add(history)
        lines
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = new java.io.PrintWriter(new File(s"$dir/manifest.tsv"), "UTF-8")
    try lines.foreach(out.println) finally out.close()
    println(f"[cdcbench] generated ${lines.size} files in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
