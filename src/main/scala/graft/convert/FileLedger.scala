package graft.convert

import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.collection.mutable
import scala.io.Source

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Persistent processed-file ledger: the continuous converter's
  * deduplication state, equivalent to Beam's
  * `MatchContinuously(has_deduplication=True)` seen-file tracking
  * (reference main.py:604-608) and to the Structured Streaming file-source
  * checkpoint.
  *
  * Layout: `<dir>/batch-<uuid>.txt`, one processed path per line. Append-
  * only; reads union all batch files; [[compact]] folds accumulated batch
  * files back into one. Works on any Hadoop filesystem.
  *
  * Driver-memory bound: per-poll membership ([[filterUnseen]]) streams the
  * history line by line against the poll's candidates and never builds a
  * seen-set, so its peak driver memory is the candidate list plus one read
  * buffer, whatever the history size. Only [[seen]] / [[seenShard]] (tests,
  * compaction, migration) materialize history in a driver-side Set — the
  * same centralized-match semantics as the reference's `MatchContinuously`
  * (and Structured Streaming's own file-source log, which also keeps seen
  * entries on the driver). The per-poll CPU cost is one pass over the
  * touched shards' bytes; the ceiling is file COUNT, not data volume —
  * 100 TB in large Avro containers is millions of paths, not billions.
  * Past that, the [[AvroToParquetJob.runStreaming]] path already scales
  * further (its checkpoint log is read incrementally), so the ledger
  * deliberately stays simple rather than re-implementing a partitioned
  * state store.
  *
  * 100×-file-count story — HASH-PREFIX SHARDS: `shards = N` routes each
  * path to `shard-NN/` by a stable hash (`String.hashCode` is specified by
  * the JLS, so routing survives JVM restarts and mixed fleets). Every
  * shard is an independent mini-ledger with its own batch files and its
  * own [[compact]] cycle, which caps BOTH costs that grow with file count:
  * the per-poll membership scan reads only the shards the poll's
  * candidates route to, and compaction rewrites (and holds in memory) 1/N
  * of the history instead of the whole set. The layout is
  * append-only per shard, so the crash-safety argument below is unchanged.
  * `shards = 1` (default) keeps the original flat layout byte-for-byte.
  * Reopening an existing ledger under a DIFFERENT shard count migrates
  * stranded prior-layout entries into the current layout on first access
  * (write-first, delete-after — the compact() crash-safety ordering), so
  * changing `--ledger_shards` on a live deployment can never abandon
  * history and re-convert the landing zone.
  */
final class FileLedger(dir: String, conf: Configuration, shards: Int = 1) {
  require(shards >= 1, s"shards must be >= 1, got $shards")
  private val dirPath = new Path(dir)
  private val fs: FileSystem = dirPath.getFileSystem(conf)

  // ---- layout migration (lazy, once per instance) ----
  // Changing `shards` against an existing ledger must MOVE history, not
  // silently abandon or mis-route it: a flat ledger reopened sharded
  // would hide every root batch file from the shard-scoped reads; a
  // ledger reopened under a DIFFERENT shard count routes by a different
  // modulus, so membership probes look in the wrong shard (the
  // property-sweep counterexample: 8 → 5 strands shard-05..07 AND
  // mis-routes 00..04). Either way the next poll re-converts the landing
  // zone — duplicate output rows.
  //
  // The on-disk layout is therefore recorded in a `_shards` marker; when
  // it disagrees with `shards` (or stranded files sit outside the current
  // layout), migration reads EVERY entry under the ledger — root and all
  // shard dirs, whatever vintage — re-routes the union through the
  // current layout, deletes exactly the pre-existing batch files, and
  // re-stamps the marker. Orderings are crash-safe by the compact()
  // argument: new files are written before old ones are deleted and a
  // re-run re-reads everything, so any crash leaves only harmless
  // duplicates for the next open to converge.
  private lazy val migrated: Unit = if (fs.exists(dirPath)) {
    val rootFiles = fs.listStatus(dirPath).filter(st =>
      st.isFile && st.getPath.getName.startsWith("batch-"))
    val shardDirs = fs.listStatus(dirPath).filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("shard-"))
    val marker = readMarker()
    val needsReroute =
      (shards > 1 && rootFiles.nonEmpty) ||
        (shardDirs.nonEmpty && (shards == 1 || !marker.contains(shards)))
    if (needsReroute) {
      // the marker is INVALIDATED before anything destructive happens:
      // a crash anywhere below leaves no marker, so ANY later reopen —
      // including a rollback to the previous shard count — sees
      // marker-absent-with-shard-dirs and reroutes from the full union
      // (a stale old-count marker would instead match a rolled-back
      // `shards` and suppress the recovery reroute, leaving 7/8 of
      // history mis-routed)
      fs.delete(layoutMarker, false)
      val shardFiles = shardDirs.flatMap(d =>
        fs.listStatus(d.getPath).filter(st =>
          st.isFile && st.getPath.getName.startsWith("batch-")))
      val old = rootFiles ++ shardFiles
      val all = readAll(old)
      if (all.nonEmpty) addRouted(all.toSeq.sorted)
      old.foreach(st => fs.delete(st.getPath, false))
      // stranded dirs outside the current layout become empty — drop them
      shardDirs.foreach { d =>
        if (fs.listStatus(d.getPath).isEmpty) fs.delete(d.getPath, true)
      }
    }
    if (!marker.contains(shards) || needsReroute) writeMarker()
  }

  private def layoutMarker = new Path(dirPath, "_shards")

  /** None on a missing OR unreadable/unparseable marker (a crash during
    * the in-place re-stamp can leave an empty file): unparseable falls
    * back to the safe full-reroute path instead of throwing from every
    * ledger operation forever.
    */
  private def readMarker(): Option[Int] =
    if (!fs.exists(layoutMarker)) None
    else {
      val in = fs.open(layoutMarker)
      val txt = try Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      scala.util.Try(txt.trim.toInt).toOption
    }

  private def writeMarker(): Unit = {
    val out = fs.create(layoutMarker, true)
    try out.write(s"$shards\n".getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readAll(
      files: Array[org.apache.hadoop.fs.FileStatus]): Set[String] = {
    val out = mutable.Set.empty[String]
    files.foreach { st =>
      val in = fs.open(st.getPath)
      try Source.fromInputStream(in, "UTF-8").getLines().foreach { l =>
        if (l.nonEmpty) out += l
      } finally in.close()
    }
    out.toSet
  }

  /** Stable path→shard routing (JLS-specified String.hashCode). */
  private[convert] def shardOf(path: String): Int =
    if (shards == 1) 0 else (path.hashCode & Int.MaxValue) % shards

  private def shardDir(i: Int): Path =
    if (shards == 1) dirPath else new Path(dirPath, f"shard-$i%02d")

  private def batchFiles(i: Int): Array[org.apache.hadoop.fs.FileStatus] = {
    migrated // stranded prior-layout entries move before any read
    val d = shardDir(i)
    if (!fs.exists(d)) Array.empty
    else fs.listStatus(d).filter(st =>
      st.isFile && st.getPath.getName.startsWith("batch-"))
  }

  /** All processed paths in shard `i` (one shard's worth of driver heap). */
  def seenShard(i: Int): Set[String] = readAll(batchFiles(i))

  /** Union of all shards — the flat-ledger read semantics. */
  def seen(): Set[String] =
    (0 until shards).iterator.map(seenShard).foldLeft(Set.empty[String])(_ ++ _)

  /** The candidates not yet in the ledger, in caller order (duplicates
    * kept): exactly `paths.filterNot(p => seenShard(shardOf(p)).contains(p))`.
    * Only the shards the candidates route to are read, and no seen-set is
    * built: each shard's batch files stream past a matcher holding that
    * shard's candidates as UTF-8 bytes, every history line naming a
    * candidate drops it, and reading stops once none is left. Peak driver
    * memory is the candidates plus one read buffer, not a shard's history.
    *
    * `onShardLoad` fires once per shard actually read (test/metrics hook:
    * AvroToParquetJobSpec asserts untouched shards stay unread).
    */
  def filterUnseen(
      paths: Seq[String],
      onShardLoad: Int => Unit = _ => ()): Seq[String] = {
    if (paths.isEmpty) return paths
    val seenHere = mutable.HashSet.empty[String]
    paths.distinct.groupBy(shardOf).foreach { case (i, ps) =>
      onShardLoad(i)
      val m = new FileLedger.CandidateMatcher(ps)
      val files = batchFiles(i).iterator
      while (m.remaining > 0 && files.hasNext) {
        val in = fs.open(files.next().getPath)
        try m.scan(in) finally in.close()
      }
      seenHere ++= m.matched
    }
    paths.filterNot(seenHere)
  }

  def add(paths: Seq[String]): Unit = {
    migrated
    addRouted(paths)
    // stamp a fresh ledger's layout so a later reopen under a different
    // shard count knows to re-route (and a same-count reopen knows NOT to)
    if (paths.nonEmpty && !fs.exists(layoutMarker)) writeMarker()
  }

  private def addRouted(paths: Seq[String]): Unit = {
    if (paths.isEmpty) return
    paths.groupBy(shardOf).foreach { case (i, shardPaths) =>
      val d = shardDir(i)
      if (!fs.exists(d)) fs.mkdirs(d)
      writeBatch(d, shardPaths)
    }
  }

  private def writeBatch(d: Path, paths: Seq[String]): Path = {
    val f = new Path(d, s"batch-${UUID.randomUUID().toString}.txt")
    val out = fs.create(f, false)
    try out.write(paths.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    f
  }

  /** Folds each shard's accumulated batch files into one when their count
    * exceeds `maxBatchFiles`, so a long-running continuous job's ledger
    * reads stay one file-open per shard, not one per historical poll (a
    * year of 30s polls is ~1M batch files — 1M namenode opens per cycle
    * before compaction). Shards compact INDEPENDENTLY: each rewrite
    * touches 1/N of the history.
    *
    * Crash-safe by ordering alone: the merged file is written FIRST, then
    * the inputs are deleted. A crash in between leaves duplicate entries,
    * which the union-of-sets read semantics make harmless; a crash before
    * the merged write leaves the ledger untouched. Single-writer (the
    * polling driver), same as the reference's centralized matcher.
    *
    * Returns the total number of batch files merged across shards, 0 if
    * every shard is below the threshold.
    */
  def compact(maxBatchFiles: Int = 64): Int =
    (0 until shards).map { i =>
      val files = batchFiles(i)
      if (files.length <= maxBatchFiles) 0
      else {
        val all = seenShard(i)
        if (all.isEmpty) 0
        else {
          writeBatch(shardDir(i), all.toSeq.sorted)
          files.foreach(st => fs.delete(st.getPath, false))
          files.length
        }
      }
    }.sum
}

object FileLedger {

  /** Matches ledger lines, as raw UTF-8 bytes, against a fixed set of
    * distinct candidate paths without decoding or allocating per line.
    * A line is the bytes between `\n` / `\r` terminators (the split
    * `getLines` makes); empty lines are skipped. A candidate whose UTF-8
    * form does not decode back to itself (an unpaired surrogate) or is
    * empty can never equal a decoded line, so it is never matched.
    */
  private[convert] final class CandidateMatcher(candidates: Seq[String]) {
    private val names = candidates.toArray
    private val bytes = names.map(_.getBytes(StandardCharsets.UTF_8))
    private val hashes = bytes.map(b => hash(b, 0, b.length))
    private val found = new Array[Boolean](names.length)
    // open addressing, linear probing; slot holds candidate index + 1
    private val mask = Integer.highestOneBit(math.max(names.length, 1) * 4 - 1) - 1
    private val table = new Array[Int](mask + 1)
    private var left = 0
    names.indices.foreach { c =>
      if (bytes(c).nonEmpty && new String(bytes(c), StandardCharsets.UTF_8) == names(c)) {
        var s = hashes(c) & mask
        while (table(s) != 0) s = (s + 1) & mask
        table(s) = c + 1
        left += 1
      }
    }

    /** Candidates not yet matched (unmatchable ones excluded). */
    def remaining: Int = left

    def matched: Seq[String] = names.indices.filter(found(_)).map(names(_))

    /** Reads `in` to its end, or until every candidate has matched. */
    def scan(in: java.io.InputStream): Unit = {
      var buf = new Array[Byte](1 << 16)
      var len = 0 // valid bytes in buf; buf(0 until len) is one partial line on entry
      var n = in.read(buf, 0, buf.length)
      while (n > 0 && left > 0) {
        var from = 0
        var i = len
        len += n
        while (i < len && left > 0) {
          val b = buf(i)
          if (b == '\n' || b == '\r') { line(buf, from, i); from = i + 1 }
          i += 1
        }
        len -= from
        System.arraycopy(buf, from, buf, 0, len)
        if (len == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
        n = if (left > 0) in.read(buf, len, buf.length - len) else -1
      }
      if (left > 0) line(buf, 0, len) // last line without a terminator
    }

    private def line(buf: Array[Byte], from: Int, to: Int): Unit =
      if (to > from) {
        val h = hash(buf, from, to)
        var s = h & mask
        while (table(s) != 0) {
          val c = table(s) - 1
          if (!found(c) && hashes(c) == h &&
              java.util.Arrays.equals(buf, from, to, bytes(c), 0, bytes(c).length)) {
            found(c) = true
            left -= 1
            return
          }
          s = (s + 1) & mask
        }
      }

    private def hash(b: Array[Byte], from: Int, to: Int): Int = {
      var h = 0
      var i = from
      while (i < to) { h = 31 * h + b(i); i += 1 }
      h ^ (h >>> 16)
    }
  }
}
