package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DecimalType, DoubleType, FloatType, IntegerType, LongType, MapType, ShortType, StructType}

/** Minimal file-level snapshot/manifest table — the metadata half of the
  * warehouse story (`wh_snapshot_asof` reconstructs AS-OF from a row
  * changelog; this layer gives the same capability over FILE SETS, the
  * Iceberg/Delta capability class, with the smallest protocol that is
  * still correct):
  *
  *   <root>/data/<commit-uuid>-<i>.parquet   immutable data files
  *   <root>/_manifests/v<N>.manifest         snapshot N's file list
  *
  * COMMIT protocol — the reference's job-atomic staging+rename sink
  * (reference `apps/terasort/TeraOutputFormat.scala:36-116`, already
  * generalized by the engine's DSv2 [[FixedRecordSource]] writer)
  * extended from "a job's files appear atomically" to "a TABLE VERSION
  * appears atomically":
  *
  *   1. write the batch to `_staging/<uuid>` (Spark job, its own
  *      task-level atomicity);
  *   2. move the part files into `data/` under commit-unique names —
  *      unreferenced files are invisible, so a crash mid-move leaks
  *      garbage but never corrupts a reader ([[removeOrphans]] is the
  *      age-gated sweeper for exactly that garbage);
  *   3. write `v<N+1>.manifest` (previous list ± this commit's files) to
  *      a temp name and RENAME it into place — the one atomic step.
  *      Rename-to-fresh-name is atomic on POSIX and HDFS; an object
  *      store without atomic rename needs a pointer service instead,
  *      which is exactly the part Iceberg's catalog abstracts.
  *
  * READERS never look at the data directory: current = max manifest id
  * from one listing of `_manifests/` (a snapshot is visible iff its
  * manifest rename completed), and the scan reads EXACTLY the listed
  * files. A reader that captured snapshot N is therefore immune to any
  * number of later commits (data files are immutable and never deleted
  * by commits), and `readAt(N)` is O(1)-metadata time travel: one
  * manifest read, no changelog replay, no directory diffing.
  *
  * Concurrency: single writer by design (the common table contract);
  * two racing commits are detected, not merged — the loser fails the
  * exclusive-create claim (or the no-clobber rename) and throws rather
  * than silently dropping the winner's files. A writer that CRASHES
  * between claiming an id and publishing its manifest leaves an orphan
  * claim; a later writer takes it over once it is older than
  * `graft.snapshot.claim.ttl.ms` (default 10 min — set it above any
  * plausible writer pause, the standard lease tradeoff) and
  * [[expireSnapshots]] sweeps such stale claims too, so an orphan can
  * never wedge the table permanently.
  *
  * MANIFEST FORMAT (line-oriented, append-compatible with the v1 format
  * of pure path lines):
  *
  *   `#prop <key>=<value>`                        snapshot properties
  *       (URL-encoded). Three property families are load-bearing:
  *       `stream.*` exactly-once floors ([[SnapshotStreamSink]]) are
  *       CARRIED FORWARD into every later commit so a compaction or
  *       merge never erases a floor; `schema` is the snapshot's
  *       Spark schema as JSON, recorded at commit time and evolved by
  *       name on append ([[mergeSchemas]]) so a mixed-schema file set
  *       reads deterministically (missing columns → NULL) at every
  *       version; `merge.key` tags merge commits and `cdf.dir` points
  *       at a merge's recorded row-level change frame ([[changeFeed]]).
  *   `#shard s-<uuid>.shard`                      a manifest SHARD ref:
 *       the named immutable file under `_manifests/` holds entry
 *       lines (never props) that expand in place — the manifest-list
 *       layer that makes commit text O(delta): appends carry the
 *       previous head's refs verbatim and roll only their own new
 *       entries into one new shard; rewrite shapes inline only the
 *       survivors of shards they touched. Pre-shard manifests (pure
 *       inline lines) parse unchanged.
 *   `data/<file>`                                a data file, no stats
  *   `data/<file>\trc=<n>`                        + its row count
  *   `data/<file>[\t<col>\t<tag>\t<min>\t<max>]*[\trc=<n>]` + the
  *       commit-time parquet-footer min/max of each stats column (tag
  *       i=integer, d=double, s=string; values URL-encoded; repeat the
  *       4-field group per column — `statsCol = "a,b"` records both,
  *       the multi-dimensional index of a z-ordered layout) — the
  *       file-skipping index [[readWhere]] prunes on. String stats
  *       compare in
  *       UNSIGNED UTF-8 BYTE order ([[utf8Cmp]]) — the order parquet's
  *       BinaryStatistics and Spark's UTF8String both use; Java String
  *       (UTF-16 code unit) order diverges for supplementary-plane
  *       characters and would prune files that contain matching rows.
  *
  * Row counts make bare COUNT(*) a manifest-only answer
  * ([[rowCount]]): zero data files opened, at any table size.
  * Readers that only need paths ([[fileList]]) see every format
  * identically; appends carry the previous snapshot's entry lines
  * VERBATIM, so stats and counts survive any number of later commits
  * without being recomputed.
  */
object SnapshotTable {

  private def enc(v: String): String =
    java.net.URLEncoder.encode(v, "UTF-8")
  private def dec(v: String): String =
    java.net.URLDecoder.decode(v, "UTF-8")

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def manifestDir(root: String) = new Path(root, "_manifests")

  private def manifestPath(root: String, id: Long) =
    new Path(manifestDir(root), s"v$id.manifest")

  /** Unsigned UTF-8 byte order — the comparison domain of parquet
    * BinaryStatistics min/max AND Spark's UTF8String, so driver-side
    * stats decisions agree with what the executors actually filter.
    * Java's String.compareTo (UTF-16 code units) disagrees above the
    * BMP: U+1F600 is F0 9F 98 80 in UTF-8 (sorts after U+FFFD's
    * EF BF BD) but D83D DE00 in UTF-16 (sorts before FFFD).
    */
  private[sources] def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }
  private[sources] val Utf8Ord: Ordering[String] =
    (a: String, b: String) => utf8Cmp(a, b)

  /** One manifest entry: a data file path plus its skipping stats (any
    * number of columns — `statsCol = "a,b"` records both, the
    * multi-dimensional index a z-ordered layout wants) and row count.
    * Parses every historical line shape; renders the newest.
    */
  /** Per-column stats. `tag` = compare-domain letter (i/d/s) plus an
    * OPTIONAL null count ("i0" = integer, zero nulls; "i17" = 17
    * nulls; bare "i" = historical entry, nulls unknown). The null
    * count is what makes whole-file proofs sound: min/max say nothing
    * about null cells, so "every row matches `pred`" (the metadata-
    * delete proof) additionally needs nulls == 0.
    */
  private[sources] final case class FileStats(
      col: String, tag: String, mn: String, mx: String) {
    def domain: String = tag.take(1)
    def nulls: Option[Long] =
      if (tag.length > 1) Some(tag.drop(1).toLong) else None
  }
  /** One manifest entry. `seq` is the entry's DATA SEQUENCE — the
    * snapshot id whose commit added the file, rendered as a trailing
    * `sq=` field (like `rc=`) by every commit since equality deletes
    * exist. An equality delete with sequence S applies only to data
    * files with sequence < S, so an upsert's own new rows survive its
    * delete half. Entries written before sequencing default to 0: they
    * predate every possible equality delete, which is exactly the
    * semantics.
    */
  private[sources] final case class FileEntry(
      path: String, stats: Seq[FileStats], rows: Option[Long],
      seq: Long = 0L) {
    /** A DELETE-VECTOR entry: a parquet file of (file, pos) pairs under
      * `deletes/` naming rows of DATA files that are no longer live —
      * the merge-on-read delete shape ([[deleteWhereMor]]). The path
      * prefix IS the marker, so delete entries ride the existing
      * carry/expire machinery verbatim.
      */
    def isDelete: Boolean = path.startsWith("deletes/")
    /** An EQUALITY-DELETE entry ([[upsertEq]] / [[deleteByKeysEq]]): a
      * parquet file of KEY VALUES under `deletes/eq-*` that kills every
      * matching row of data files SEQUENCED BEFORE it (Iceberg-v2
      * equality deletes — the Flink-CDC write shape). Living under
      * `deletes/` means every existing vector guard (DSv2 refusal,
      * merge/DML/compaction fences, carry and expiry machinery) covers
      * it with no new code path to forget.
      */
    def isEqDelete: Boolean = isDelete && fileName.startsWith("eq-")
    /** The bare file name — what `_metadata.file_name` reports, and the
      * join domain delete vectors use (data file names are commit-
      * unique, so the name alone identifies the file within the table).
      */
    def fileName: String = path.substring(path.lastIndexOf('/') + 1)
    def statsFor(colName: String): Option[FileStats] =
      stats.find(_.col == colName)
    /** The file's membership BLOOM over `colName`
      * ([[buildBloomIndex]]), if one was built — stored as a
      * pseudo-stats tuple (`#bloom:<col>`, tag `b<hashes>`, mn =
      * base64 bits) so it rides the existing entry format, carry
      * machinery, and prop-free parsing untouched. Returns
      * (bit array, hash count).
      */
    def bloomFor(colName: String): Option[(Array[Byte], Int)] =
      stats.find(_.col == s"#bloom:$colName").map(st =>
        (java.util.Base64.getDecoder.decode(st.mn),
          st.tag.stripPrefix("b").toInt))
    /** The file's HLL NDV registers over `colName`
      * ([[buildNdvIndex]]) — 64 one-byte registers as base64 in a
      * `#ndv:<col>` pseudo-stats tuple (tag `h`), mergeable slot-wise
      * for table-level NDV without a scan.
      */
    def ndvRegsFor(colName: String): Option[Array[Int]] =
      stats.find(_.col == s"#ndv:$colName").map(st =>
        java.util.Base64.getDecoder.decode(st.mn).map(_.toInt & 0xff))
    def render: String = {
      val st = stats.map(t =>
        s"\t${enc(t.col)}\t${t.tag}\t${enc(t.mn)}\t${enc(t.mx)}").mkString
      val sq = if (seq > 0L) s"\tsq=$seq" else ""
      val rc = rows.map(n => s"\trc=$n").getOrElse("")
      s"$path$st$sq$rc"
    }
  }
  private[sources] def parseEntry(line: String): FileEntry = {
    var f = line.split("\t", -1).toSeq
    // trailing scalar fields pop in reverse render order: rc=, then sq=
    val rc =
      if (f.length > 1 && f.last.startsWith("rc=")) {
        val v = f.last.stripPrefix("rc=").toLong; f = f.init; Some(v)
      } else None
    val sq =
      if (f.length > 1 && f.last.startsWith("sq=")) {
        val v = f.last.stripPrefix("sq=").toLong; f = f.init; v
      } else 0L
    val stats = f.drop(1).grouped(4).collect {
      case Seq(c, tag, mn, mx) => FileStats(dec(c), tag, dec(mn), dec(mx))
    }.toSeq
    FileEntry(f.head, stats, rc, sq)
  }

  /** Highest committed snapshot id (0 = empty table, no commits yet). */
  def currentSnapshot(s: SparkSession, root: String): Long = {
    val fs = fsOf(s, new Path(root))
    val dir = manifestDir(root)
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).iterator.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }
      .foldLeft(0L)(math.max)
  }

  /** The latest snapshot whose manifest was PUBLISHED at or before
    * `millis` (epoch ms) — `TIMESTAMP AS OF` resolution: the manifest
    * rename is the commit instant, so its modification time is the
    * authoritative publish time (the property Iceberg time travel
    * leans on too). One directory listing; fails loudly when the table
    * has no snapshot that old (the caller asked for pre-history).
    */
  def snapshotAtTime(s: SparkSession, root: String, millis: Long): Long = {
    val fs = fsOf(s, new Path(root))
    val dir = manifestDir(root)
    val best =
      if (!fs.exists(dir)) 0L
      else fs.listStatus(dir).iterator
        .filter { st =>
          val n = st.getPath.getName
          n.startsWith("v") && n.endsWith(".manifest") &&
            st.getModificationTime <= millis
        }
        .map(_.getPath.getName.stripPrefix("v").stripSuffix(".manifest").toLong)
        .foldLeft(0L)(math.max)
    require(best > 0L,
      s"time travel: no snapshot of $root existed at or before " +
        s"${java.time.Instant.ofEpochMilli(millis)}")
    best
  }

  /** All manifest lines of snapshot N, one read. Fails loudly (not with
    * a bare FileNotFound) when the id was expired by [[expireSnapshots]]
    * or never committed.
    */
  private def rawLines(s: SparkSession, root: String, id: Long): Seq[String] = {
    val fs = fsOf(s, new Path(root))
    if (!fs.exists(manifestPath(root, id)))
      throw new IllegalArgumentException(
        s"snapshot v$id of $root does not exist: it was expired by " +
          s"expireSnapshots or was never committed " +
          s"(current = ${currentSnapshot(s, root)})")
    manifestLines(fs, manifestPath(root, id))
  }

  private def manifestLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      StandardCharsets.UTF_8).split("\n").iterator
      .map(_.trim).filter(_.nonEmpty).toSeq
    finally in.close()
  }

  // ---- manifest SHARDS: the O(delta)-commit manifest tree ------------
  //
  // A flat per-snapshot manifest re-renders one line per live file on
  // EVERY commit — O(files) driver text that grows with the TABLE, not
  // the delta: at 100 TB (~800k files at 128 MB/file) each append
  // would rewrite hundreds of MB of manifest. Instead, a snapshot's
  // entry section may reference immutable SHARD files:
  //
  //   `#shard s-<uuid>.shard`     (under `_manifests/`, entry lines
  //                                only — never props)
  //
  // A commit writes AT MOST one new shard (its own new/inlined
  // entries, once they outgrow `graft.snapshot.manifest.shard.min.lines`)
  // plus a small head of carried REFS — the Iceberg manifest-list
  // shape. Appends, WAP stages, rollbacks, and metadata-only commits
  // carry the previous head's refs VERBATIM ([[headEntryLines]]);
  // rewrite shapes (merge, deletes, compaction) carry untouched shards
  // as refs and inline only the survivors of shards they touched
  // ([[rewriteHeadLines]]) — commit text tracks the TOUCHED set.
  // Shards are immutable and uuid-named (never reused), so a
  // driver-side cache makes re-expansion across snapshots one read per
  // shard; pre-shard manifests (pure inline lines) expand as identity.
  // Lifecycle: [[expireBelow]] deletes shards referenced only by
  // expired heads; a crashed commit's never-referenced shard is
  // ordinary age-gated [[removeOrphans]] debris.

  private val shardCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  // lines per shard a fold packs to (commit-time auto-fold, and the
  // rewriteManifests / manifestReport default)
  private val ShardTargetLines = 4096

  private def shardLinesOf(fs: FileSystem, root: String,
      name: String): Seq[String] = {
    val key = new Path(manifestDir(root), name).toString
    val hit = shardCache.get(key)
    if (hit != null) hit
    else {
      val lines = manifestLines(fs, new Path(manifestDir(root), name))
      if (shardCache.size > 4096) shardCache.clear() // bound the memo
      shardCache.put(key, lines)
      lines
    }
  }

  /** The entry SECTION of head lines: every non-prop line, `#shard`
    * refs included (unexpanded).
    */
  private def entrySectionOf(lines: Seq[String]): Seq[String] =
    lines.filter(l => !l.startsWith("#") || l.startsWith("#shard "))

  /** Expand `#shard` refs into their entry lines, in place (order
    * preserved); plain entry lines pass through — identity on
    * pre-shard manifests.
    */
  private def expandEntrySection(fs: FileSystem, root: String,
      lines: Seq[String]): Seq[String] =
    lines.flatMap {
      case l if l.startsWith("#shard ") =>
        shardLinesOf(fs, root, l.stripPrefix("#shard ").trim)
      case l => Seq(l)
    }

  /** Snapshot `id`'s entry-section head lines UNEXPANDED (shard refs +
    * inline entry lines) — what an append-shaped commit carries so its
    * manifest write is O(delta + shards), never O(files).
    */
  private[sources] def headEntryLines(s: SparkSession, root: String,
      id: Long): Seq[String] =
    entrySectionOf(rawLines(s, root, id))

  private def shardRefsIn(lines: Seq[String]): Seq[String] =
    lines.collect {
      case l if l.startsWith("#shard ") => l.stripPrefix("#shard ").trim
    }

  /** Head lines for a commit that DROPS or REWRITES some of snapshot
    * `id`'s entries: `f` maps each entry to None (drop) or its
    * replacement; a shard whose every line survives UNCHANGED carries
    * as its ref (one head line, zero re-render), a touched shard
    * inlines its survivors, inline lines map individually. The commit
    * text therefore tracks the touched set — on a clustered table a
    * keyed merge leaves all but the boundary shards as refs.
    */
  private def rewriteHeadLines(s: SparkSession, root: String, id: Long)(
      f: FileEntry => Option[FileEntry]): Seq[String] = {
    val fs = fsOf(s, new Path(root))
    def apply(ln: String): Option[String] = f(parseEntry(ln)).map(_.render)
    headEntryLines(s, root, id).flatMap {
      case l if l.startsWith("#shard ") =>
        val lines = shardLinesOf(fs, root, l.stripPrefix("#shard ").trim)
        val mapped = lines.map(ln => ln -> apply(ln))
        if (mapped.forall { case (ln, m) => m.contains(ln) }) Seq(l)
        else mapped.flatMap(_._2)
      case l => apply(l).toSeq
    }
  }

  /** [[rewriteHeadLines]] for the pure keep/drop case. */
  private[sources] def carriedHeadLines(s: SparkSession, root: String,
      id: Long, keepPath: String => Boolean): Seq[String] =
    rewriteHeadLines(s, root, id)(e =>
      if (keepPath(e.path)) Some(e) else None)

  /** Fold SMALL shards (line count < `targetLines`) plus the inline
    * lines into target-sized shards: shards already at target carry as
    * refs untouched; the fold's last partial chunk stays INLINE when
    * below `shardMin` (so subsequent appends keep accumulating inline
    * instead of minting a near-empty shard each fold). Entry ORDER is
    * preserved (big-shard refs first, then the folded stream) — entry
    * semantics are order-independent (a set of files + stats), so
    * every reader sees the identical expanded set. Returns the new
    * entry-section head lines; the superseded small shards stay on
    * disk for older snapshots/WAP stages until [[expireSnapshots]]
    * reclaims them.
    */
  private def consolidateShards(s: SparkSession,
      fs: FileSystem, root: String, refs: Seq[String],
      inline: Seq[String], targetLines: Int, shardMin: Int,
      commitId: String): Seq[String] = {
    val (big, small) = refs.partition { r =>
      shardLinesOf(fs, root, r.stripPrefix("#shard ").trim)
        .length >= targetLines
    }
    val toFold = small.flatMap(r =>
      shardLinesOf(fs, root, r.stripPrefix("#shard ").trim)) ++ inline
    val chunks = toFold.grouped(targetLines).toSeq
    val (full, tail) = chunks.partition(_.length >= shardMin)
    val newRefs = full.zipWithIndex.map { case (lines, i) =>
      val shardName = s"s-$commitId-f$i.shard"
      val sp = new Path(manifestDir(root), shardName)
      val so = fs.create(sp, false)
      try so.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      finally so.close()
      shardCache.put(sp.toString, lines)
      s"#shard $shardName"
    }
    big ++ newRefs ++ tail.flatten
  }

  /** MANIFEST CONSOLIDATION on demand (`CALL system.rewrite_manifests`
    * / this verb): a METADATA-ONLY commit that folds the head's small
    * shards and inline lines into `targetLines`-sized shards — no data
    * file is read, moved, or rewritten; row counts, stats bands, NDV
    * registers, delete entries, and `sq=` stamps carry verbatim inside
    * the re-chunked lines. The background twin — auto-fold at commit
    * once refs cross `graft.snapshot.manifest.fold.max.refs` — keeps
    * steady-state heads bounded without operator action; this verb is
    * for forcing a minimal head before a latency-critical serving
    * window or after a burst of tiny commits with auto-fold disabled.
    * Same role as Iceberg's `rewrite_manifests`. No-op (returns the
    * current snapshot, no commit) when the head already has nothing to
    * fold. Returns (snapshot id, head entry-section lines before,
    * after).
    */
  def rewriteManifests(s: SparkSession, root: String,
      targetLines: Int = ShardTargetLines): (Long, Int, Int) = {
    require(targetLines >= 1, s"targetLines must be >= 1, got $targetLines")
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"rewrite_manifests on empty table $root")
    val fs = fsOf(s, new Path(root))
    val head = headEntryLines(s, root, cur)
    val (refs, inline) = head.partition(_.startsWith("#shard "))
    val smallRefs = refs.filterNot(r =>
      shardLinesOf(fs, root, r.stripPrefix("#shard ").trim)
        .length >= targetLines)
    val shardMin =
      s.conf.get("graft.snapshot.manifest.shard.min.lines", "32").toInt
    // nothing to merge — the fold would reproduce the same layout:
    // no small shard and only a sub-threshold inline tail, or exactly
    // one small shard with nothing to join it
    if ((smallRefs.isEmpty && inline.length <= shardMin) ||
        (smallRefs.size == 1 && inline.isEmpty))
      return (cur, head.size, head.size)
    val commitId = java.util.UUID.randomUUID().toString.replace("-", "")
    val folded = consolidateShards(s, fs, root,
      refs, inline, targetLines, shardMin, commitId)
    val staging = new Path(new Path(root), s"_staging/$commitId")
    fs.mkdirs(staging) // empty: metadata-only commit
    val id = publishStaged(s, root, commitId, staging, folded, cur,
      Seq.empty, Map("maintenance" -> "rewrite_manifests"),
      storedSchema(s, root, cur).getOrElse(
        throw new IllegalStateException(
          s"rewrite_manifests: $root v$cur carries no schema")))
    (id, head.size, folded.size)
  }

  /** DRY-RUN of [[rewriteManifests]] — the advisor that closes the
    * observability→action loop the `.manifests` table opened: reports
    * what a fold at `targetLines` WOULD do to the head, without
    * committing anything or writing a byte. Mirrors
    * [[consolidateShards]]'s arithmetic exactly (big shards carry as
    * refs; small-shard lines + inline lines re-chunk at targetLines;
    * a sub-`shard.min.lines` tail stays inline), so
    * `head_lines_after` here equals what `CALL
    * system.rewrite_manifests` would report. `would_fold = false`
    * reproduces [[rewriteManifests]]'s no-op condition — the head is
    * already minimal for this target. Cost: one head read plus cached
    * shard line counts; no data file, no commit.
    *
    * Returns (head lines now, head lines after a fold, total shard
    * refs, small shard refs, inline lines, would_fold).
    */
  def manifestReport(s: SparkSession, root: String,
      targetLines: Int = ShardTargetLines): (Int, Int, Int, Int, Int, Boolean) = {
    require(targetLines >= 1, s"targetLines must be >= 1, got $targetLines")
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"manifest_report on empty table $root")
    val fs = fsOf(s, new Path(root))
    val head = headEntryLines(s, root, cur)
    val (refs, inline) = head.partition(_.startsWith("#shard "))
    val smallRefs = refs.filterNot(r =>
      shardLinesOf(fs, root, r.stripPrefix("#shard ").trim)
        .length >= targetLines)
    val shardMin =
      s.conf.get("graft.snapshot.manifest.shard.min.lines", "32").toInt
    val wouldFold =
      !((smallRefs.isEmpty && inline.length <= shardMin) ||
        (smallRefs.size == 1 && inline.isEmpty))
    val after =
      if (!wouldFold) head.size
      else {
        val toFold = smallRefs.map(r =>
          shardLinesOf(fs, root, r.stripPrefix("#shard ").trim).length)
          .sum + inline.size
        val nChunks = toFold / targetLines
        val tail = toFold % targetLines
        // EVERY chunk (the full targetLines-sized ones included)
        // becomes a shard ref iff it reaches shard.min.lines, else its
        // lines stay inline — the same `_.length >= shardMin` split as
        // consolidateShards' (full, tail) partition; with targetLines
        // below shardMin even full chunks inline
        def linesOf(chunk: Int): Int = if (chunk >= shardMin) 1 else chunk
        (refs.size - smallRefs.size) + nChunks * linesOf(targetLines) +
          (if (tail == 0) 0 else linesOf(tail))
      }
    (head.size, after, refs.size, smallRefs.size, inline.size, wouldFold)
  }

  /** Snapshot `id`'s manifest LAYOUT — one row per `#shard` ref
    * (name, entry lines, bytes) plus one `<inline>` row for loose
    * entry lines: the observability the `.manifests` metadata table
    * serves (is the head folded? how many refs does a reader open?).
    * One head read + cached shard reads; no data file touched.
    */
  def manifestLayout(s: SparkSession, root: String,
      id: Long): Seq[(String, Long, Long)] = {
    val fs = fsOf(s, new Path(root))
    val (refs, inline) = headEntryLines(s, root, id)
      .partition(_.startsWith("#shard "))
    val shardRows = refs.map { r =>
      val n = r.stripPrefix("#shard ").trim
      (n, shardLinesOf(fs, root, n).length.toLong,
        fs.getFileStatus(new Path(manifestDir(root), n)).getLen)
    }
    shardRows ++ (if (inline.isEmpty) Nil
      else Seq(("<inline>", inline.size.toLong,
        inline.map(_.length + 1L).sum)))
  }

  /** A STAGED (write-audit-publish) snapshot's manifest: named by the
    * caller's wap id, invisible to [[currentSnapshot]] / readers /
    * time travel until [[publishWap]] fast-forwards it onto the head.
    */
  private def wapPath(root: String, wapId: String) =
    new Path(manifestDir(root), s"wap-${enc(wapId)}.manifest")

  private def wapLines(s: SparkSession, root: String,
      wapId: String): Seq[String] = {
    val fs = fsOf(s, new Path(root))
    if (!fs.exists(wapPath(root, wapId)))
      throw new IllegalArgumentException(
        s"staged snapshot '$wapId' of $root does not exist: it was " +
          "published, dropped, or never staged")
    manifestLines(fs, wapPath(root, wapId))
  }

  private def wapProps(s: SparkSession, root: String,
      wapId: String): Map[String, String] =
    wapLines(s, root, wapId).iterator
      .filter(_.startsWith("#prop "))
      .map(_.stripPrefix("#prop ").split("=", 2))
      .collect { case Array(k, v) => dec(k) -> dec(v) }
      .toMap

  private[sources] def wapEntries(s: SparkSession, root: String,
      wapId: String): Seq[FileEntry] =
    expandEntrySection(fsOf(s, new Path(root)), root,
      entrySectionOf(wapLines(s, root, wapId))).map(parseEntry)

  private[sources] def wapStoredSchema(s: SparkSession, root: String,
      wapId: String): Option[StructType] =
    wapProps(s, root, wapId).get("schema")
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])

  /** Snapshot N's data-file entry lines (path + optional stats fields),
    * excluding property headers.
    */
  private[sources] def entryLines(s: SparkSession, root: String, id: Long): Seq[String] =
    expandEntrySection(fsOf(s, new Path(root)), root,
      entrySectionOf(rawLines(s, root, id)))

  private[sources] def entries(s: SparkSession, root: String,
      id: Long): Seq[FileEntry] =
    entryLines(s, root, id).map(parseEntry)

  /** Snapshot N's file list (root-relative), one manifest read. */
  def fileList(s: SparkSession, root: String, id: Long): Seq[String] =
    entries(s, root, id).map(_.path)

  /** Snapshot N's properties (`#prop` header lines), one manifest read. */
  def snapshotProps(s: SparkSession, root: String, id: Long): Map[String, String] =
    rawLines(s, root, id).iterator
      .filter(_.startsWith("#prop "))
      .map(_.stripPrefix("#prop ").split("=", 2))
      .collect { case Array(k, v) => dec(k) -> dec(v) }
      .toMap

  /** The CARRIED prop classes — the table-level state every commit
    * shape propagates from its base (exactly-once stream floors,
    * maintained index/stats groups, user table properties, partition
    * shape, column mapping/evolution). Everything else in a manifest
    * is that COMMIT's one-shot provenance (`merge.key`, `cdf.dir`,
    * `delete.eq`, `maintenance`, `wap.id`, …) and must NOT leak into
    * a different commit's manifest: the change feed classifies each
    * step by these provenance props, so inheriting them would make a
    * rebased append read as (say) an eq-delete step and double-count
    * its rows. Shared by [[publishStaged]]'s buildManifest and
    * [[publishWap]]'s fast-forward rebase.
    */
  private def carriedClassProps(
      p: Map[String, String]): Map[String, String] =
    p.filter(pr =>
      pr._1.startsWith("stream.") || pr._1.startsWith("ann.") ||
        pr._1.startsWith("stats.") || // maintained stats groups (NDV)
        pr._1.startsWith("user.") || // SET TBLPROPERTIES: table-level
        pr._1 == "partition.cols" ||
        pr._1 == "col.phys" || pr._1 == "cols.retired" ||
        pr._1 == "col.evo")

  /** Snapshot N's recorded schema — the commit-time Spark schema,
    * evolved by name across appends. None for manifests written before
    * schema recording existed (readers then fall back to inference).
    */
  def storedSchema(s: SparkSession, root: String, id: Long): Option[StructType] =
    snapshotProps(s, root, id).get("schema")
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])

  /** Snapshot N's logical→physical column-name mapping (only entries
    * that differ; empty = identity, the common case and the pre-rename
    * fast path every reader keeps). The layer's RENAME/DROP COLUMN is
    * Delta-style column mapping: a column's PHYSICAL name — what its
    * parquet files and manifest stats carry — is fixed at creation and
    * NEVER changes; [[renameColumn]] moves only the logical name in
    * this map, so the rename is one metadata commit and every file
    * ever written stays readable under whatever logical name the
    * reader's snapshot prescribes (time travel sees each version's own
    * names). Carried forward by every commit shape; reset by a full
    * overwrite (the old files left the manifest). Prop `col.phys`.
    */
  def physMapOf(s: SparkSession, root: String, id: Long): Map[String, String] =
    if (id == 0L) Map.empty
    else parsePhysMap(snapshotProps(s, root, id).get("col.phys"))

  private def parsePhysMap(v: Option[String]): Map[String, String] =
    v.toSeq.flatMap(_.split(";")).filter(_.nonEmpty).map { tok =>
      val Array(l, p) = tok.split(":", 2)
      dec(l) -> dec(p)
    }.toMap

  private def renderPhysMap(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (l, p) => s"${enc(l)}:${enc(p)}" }
      .mkString(";")

  /** Physical names RETIRED by [[dropColumn]]: live files still carry
    * their data, so a later ADD COLUMN reusing one would silently
    * resurrect dropped cells — schema evolution refuses these names
    * (prop `cols.retired`, carried forward; reset by overwrite).
    */
  def retiredOf(s: SparkSession, root: String, id: Long): Set[String] =
    if (id == 0L) Set.empty
    else snapshotProps(s, root, id).get("cols.retired").toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty).map(dec).toSet

  /** Monotone schema-evolution epoch: bumped by every rename/drop
    * commit (prop `col.evo`). The change feed and the incremental
    * append tail compare epochs across their range and REFUSE when a
    * rename/drop happened inside it — recorded change frames carry
    * each commit's own logical names, so a consumer folding across a
    * rename would misalign columns; it re-baselines instead (the same
    * boundary Delta draws for CDF across column-mapping changes).
    */
  def evoEpochOf(s: SparkSession, root: String, id: Long): Long =
    if (id == 0L) 0L
    else snapshotProps(s, root, id).get("col.evo").map(_.toLong).getOrElse(0L)

  private[sources] def physSchema(schema: StructType,
      map: Map[String, String]): StructType =
    if (map.isEmpty) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = map.getOrElse(f.name, f.name))))

  /** Rename `df`'s columns logical→physical before a file write.
    * Position-preserving, so rows are untouched; identity when no
    * rename ever happened.
    */
  private def toPhysical(df: DataFrame,
      map: Map[String, String]): DataFrame =
    if (map.isEmpty || !df.columns.exists(map.contains)) df
    else df.toDF(df.columns.map(c => map.getOrElse(c, c)): _*)

  /** Snapshot N's exact row count from the manifest ALONE — defined iff
    * every entry carries a commit-time `rc=` field (all commits since
    * counts were recorded). Zero data files are opened; at 100 TB a
    * bare COUNT(*) is driver arithmetic over one small-file read.
    */
  def rowCount(s: SparkSession, root: String, id: Long): Option[Long] = {
    val es = entries(s, root, id)
    // delete-vector rows each name exactly one still-live data row
    // ([[deleteWhereMor]] marks through the existing vectors, so pairs
    // are never duplicated), hence live = data rows − DV rows. An
    // EQUALITY delete's keys match zero-or-many rows, so a table
    // carrying one has no manifest-derivable count: None, honestly
    // (settle with [[rewriteDeletes]] to restore it).
    if (es.exists(_.isEqDelete)) None
    else if (es.forall(_.rows.isDefined))
      Some(es.flatMap(e =>
        e.rows.map(n => if (e.isDelete) -n else n)).sum)
    else None
  }

  /** Is `to` a LOSSLESS widening of `from`? The Iceberg V2 promotion
    * lattice — integral upcasts, float→double, and same-scale decimal
    * precision growth — exactly the set Spark 4's Parquet readers
    * promote natively (SPARK-40876 type widening), so a widened column
    * needs no read-time cast: old files answer the wider read schema
    * directly from the vectorized reader. int→double is deliberately
    * excluded (Iceberg excludes it; the layer only promises promotions
    * every engine agrees are value-preserving).
    */
  private[sources] def isWiden(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      case (FloatType, DoubleType)                        => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision &&
          t.precision <= DecimalType.MAX_PRECISION
      case _ => false
    }

  /** Name-based append-time schema evolution: base columns keep their
    * position and type; genuinely new columns append. An incoming
    * column NARROWER than the recorded one is accepted (the recorded
    * wider type wins — the file carries the narrow values and reads
    * promote, the normal state after [[widenColumn]]); an incoming
    * WIDER or otherwise retyped column is refused loudly — widen the
    * table first, this layer never narrows or mutates silently.
    */
  private[sources] def mergeSchemas(base: StructType, add: StructType): StructType = {
    // type equality modulo NULLABILITY at every nesting level: an
    // array<int> written containsNull=false is the same column as one
    // written containsNull=true (parquet round-trips flip these), and
    // only a genuine retype should refuse
    def norm(dt: DataType): DataType = dt match {
      case ArrayType(et, _) => ArrayType(norm(et), containsNull = true)
      case MapType(k, v, _) =>
        MapType(norm(k), norm(v), valueContainsNull = true)
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = norm(f.dataType), nullable = true)))
      case other => other
    }
    val addByName = add.fields.map(f => f.name -> f).toMap
    base.fields.foreach { bf =>
      addByName.get(bf.name).foreach { af =>
        require(norm(af.dataType) == norm(bf.dataType) ||
            isWiden(norm(af.dataType), norm(bf.dataType)),
          s"snapshot schema evolution: column '${bf.name}' cannot change " +
            s"type ${bf.dataType.simpleString} -> ${af.dataType.simpleString}" +
            (if (isWiden(norm(bf.dataType), norm(af.dataType)))
              " — widen the table first (widenColumn / ALTER COLUMN TYPE)"
            else ""))
      }
    }
    val have = base.fieldNames.toSet
    StructType(base.fields ++ add.fields.filterNot(f => have(f.name)))
  }

  private[sources] def asNullable(st: StructType): StructType =
    StructType(st.fields.map(_.copy(nullable = true)))

  /** Commit `df` as the next snapshot; returns the new snapshot id.
    * `overwrite = false` appends to the previous file list (the new
    * snapshot sees old + new files); `overwrite = true` replaces it
    * (compaction / full rewrite — old files stay on disk for pinned
    * readers and time travel). `expectedBase` is the optimistic-
    * concurrency pin: a writer that prepared its commit against
    * snapshot N passes Some(N) and FAILS (rather than silently merging
    * or clobbering) if another writer advanced the table meanwhile —
    * the retry-from-new-base loop is the caller's.
    *
    * Concurrency: a PLAIN append (no pin, no overwrite) that loses the
    * commit race auto-REBASES instead of failing — its data files are
    * already staged and immutable, so only the manifest re-derives
    * against the new head (bounded attempts,
    * `graft.snapshot.commit.retries`). The rebase refuses loudly when
    * any interleaved commit was non-additive or changed table shape
    * ([[rebaseGuard]]); two disjoint appends therefore both land, in
    * either order, with both deltas visible.
    */
  def commit(df: DataFrame, root: String, overwrite: Boolean = false,
      expectedBase: Option[Long] = None, statsCol: Option[String] = None,
      props: Map[String, String] = Map.empty,
      partitionBy: Seq[String] = Seq.empty): Long = {
    val s = df.sparkSession
    val prev = expectedBase.getOrElse(currentSnapshot(s, root))
    // partitioning is TABLE SHAPE: set at creation or overwrite, then
    // sticky — appends inherit it from the previous snapshot's
    // `partition.cols` prop (and may restate it, but never change it;
    // re-partitioning an existing table is an overwrite/compaction)
    val stored = partitionColsOf(s, root, prev)
    val parts =
      if (overwrite || prev == 0L) partitionBy
      else if (partitionBy.isEmpty) stored
      else {
        require(partitionBy == stored,
          s"append partitioning [${partitionBy.mkString(",")}] does not " +
            s"match table partitioning [${stored.mkString(",")}] of " +
            s"$root — change partitioning with overwrite = true")
        partitionBy
      }
    // appends carry the previous snapshot's entry lines VERBATIM so
    // earlier commits' stats and row counts survive without
    // recomputation — and the previous schema evolves by name; an
    // overwrite replaces both the file set and the schema
    val carried =
      if (overwrite || prev == 0L) Seq.empty[String]
      else headEntryLines(s, root, prev) // shard refs: O(delta) commit
    val baseSchema =
      if (overwrite || prev == 0L) None else storedSchema(s, root, prev)
    // overwrite RESTATES the prop even when empty, so an overwrite
    // without partitionBy genuinely un-partitions the table (the
    // carried-prop default would otherwise resurrect it)
    val partProp =
      if (parts.nonEmpty || overwrite)
        Map("partition.cols" -> parts.mkString(","))
      else Map.empty[String, String]
    // column mapping: a full overwrite replaces every manifest file
    // with freshly-written ones (physical = logical again), so the
    // mapping and the retired-name bars RESET — restated empty, like
    // the partition shape. Appends instead guard evolution: a NEW
    // column's physical name is its logical name, which must not
    // collide with a live physical name (a renamed column's files
    // carry it) or a retired one (a dropped column's files still do).
    // (col.evo stays MONOTONE — carried, never reset: a feed spanning
    // rename→compaction must still see the epoch change and refuse)
    val mapProps =
      if (overwrite) Map("col.phys" -> "", "cols.retired" -> "")
      else Map.empty[String, String]
    if (!overwrite && prev > 0L) {
      val map = physMapOf(s, root, prev)
      val retired = retiredOf(s, root, prev)
      if (map.nonEmpty || retired.nonEmpty) {
        val baseNames = baseSchema.map(_.fieldNames.toSet).getOrElse(Set.empty)
        val livePhys = baseNames.map(c => map.getOrElse(c, c))
        df.schema.fieldNames.filterNot(baseNames).foreach(n =>
          require(!livePhys.contains(n) && !retired.contains(n),
            s"schema evolution: new column '$n' collides with a live or " +
              s"retired PHYSICAL column name of $root — existing files " +
              "carry data under it; pick another name or overwrite"))
      }
    }
    commitWithCarried(df, root, carried, prev, statsCol,
      mapProps ++ partProp ++ props, baseSchema, parts,
      // plain appends may auto-REBASE on a concurrent-commit conflict
      // (purely-additive interleavings only — [[rebaseGuard]]); an
      // explicit expectedBase pin keeps the strict fail-fast contract
      // the caller asked for, as does every overwrite
      rebaseable = !overwrite && expectedBase.isEmpty)
  }

  /** True iff snapshot `id` is partitioned and EVERY file carries exact
    * (min == max, zero-null) stats for every partition column — the
    * value-purity invariant partitioned commits maintain, under which
    * partition pruning, partition drops, and [[commitReplace]] are all
    * provable from the manifest alone. A COW rewrite can break purity
    * for the files it rewrites (correctness is unaffected — the stats
    * degrade to ranges); an overwrite commit restores it.
    */
  def partitionPure(s: SparkSession, root: String, id: Long): Boolean = {
    val parts = partitionColsOf(s, root, id)
    parts.nonEmpty && entries(s, root, id).filterNot(_.isDelete).forall(e =>
      parts.forall(c => e.statsFor(c).exists(st =>
        st.mn == st.mx && st.nulls.contains(0L))))
  }

  /** The table's partition columns as of snapshot `id` (empty = the
    * table is unpartitioned). Recorded as the `partition.cols` manifest
    * prop, carried forward by every commit shape.
    */
  def partitionColsOf(s: SparkSession, root: String, id: Long): Seq[String] =
    if (id == 0L) Seq.empty
    else snapshotProps(s, root, id).get("partition.cols").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** The commit core: write `df`'s files, then publish a manifest of
    * `carried` entry lines (kept VERBATIM — paths, stats, and row
    * counts untouched) plus the new files' entries, as snapshot
    * `prev + 1`. [[commit]] carries all-or-none of the previous
    * snapshot; [[merge]] carries exactly the untouched files.
    * `baseSchema` (the carried files' schema) evolves by name with
    * `df`'s; the previous snapshot's `stream.*` properties are always
    * carried forward (new `props` win) so exactly-once floors survive
    * compaction, merge, and expiration.
    */
  private[sources] def commitWithCarried(df0: DataFrame, root: String,
      carried: Seq[String], prev: Long, statsCol: Option[String],
      props: Map[String, String],
      baseSchema: Option[StructType] = None,
      partitionCols: Seq[String] = Seq.empty,
      wapId: Option[String] = None,
      rebaseable: Boolean = false): Long = {
    import org.apache.spark.sql.functions.col
    val s = df0.sparkSession
    // files are written under PHYSICAL names (stable since each
    // column's creation — see [[physMapOf]]); identity when no rename
    // ever happened. An explicit props reset ("col.phys" -> "", the
    // overwrite path) wins over the carried mapping.
    val physMap = parsePhysMap(
      props.get("col.phys").orElse(
        if (prev == 0L) None
        else snapshotProps(s, root, prev).get("col.phys")))
    val df = toPhysical(df0, physMap)
    val rootP = new Path(root)
    val commitId = java.util.UUID.randomUUID().toString.replace("-", "")
    val staging = new Path(rootP, s"_staging/$commitId")
    if (partitionCols.nonEmpty && partitionCols.forall(df.columns.contains)) {
      // VALUE-PURE staging: partitionBy on DUPLICATE columns splits each
      // task's rows into one file per partition value and strips only
      // the duplicates — the real columns stay in the data, so every
      // read path stays the plain flat parquet scan and the commit-time
      // footer stats are exact single-value (min == max) entries. The
      // manifest stats index IS the partition index (the hidden-
      // partitioning argument: partition data lives in metadata, not in
      // directory names the reader must understand), so partition
      // pruning, partition drops (deleteWhere's all-match proof), and
      // dynamic partition overwrite ([[commitReplace]]) all run on the
      // machinery that already exists. The repartition keeps the file
      // count at O(values), not O(tasks x values).
      val dups = partitionCols.map(c => s"__gp_$c")
      val staged = partitionCols.zip(dups).foldLeft(df) {
        case (acc, (c, d)) => acc.withColumn(d, col(c))
      }
      staged.repartition(partitionCols.map(col): _*)
        .write.partitionBy(dups: _*).mode("overwrite")
        .parquet(staging.toString)
    } else df.write.mode("overwrite").parquet(staging.toString)
    // the recorded schema is LOGICAL (df0's names) — the physical
    // rename above affects only what the parquet files carry
    val schema = asNullable(baseSchema
      .map(b => mergeSchemas(b, df0.schema)).getOrElse(df0.schema))
    val statsCols = statsCol.toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    publishStaged(s, root, commitId, staging, carried, prev, statsCols,
      props, schema, wapTarget = wapId.map(w => wapPath(root, w)),
      rebaseable = rebaseable)
  }

  /** The publish half of a commit, shared by every write path (the
    * library's [[commitWithCarried]] after its `df.write`, and the V2
    * [[SnapshotBatchWrite]] whose executors staged the files
    * themselves): move the staged part files into `data/` under
    * commit-unique names, record their footer stats and row counts,
    * carry the previous snapshot's `stream.*` props, and publish the
    * manifest through the atomic claim+rename protocol. Returns the
    * new snapshot id; throws on a concurrent-commit conflict.
    */
  /** Working column names the read-side delete machinery joins on
    * ([[applyDeleteVectors]] / [[applyEqDeletes]]): a table or
    * eq-delete key frame that carried one would silently corrupt the
    * join conditions and key-set grouping (e.g. a key column named
    * `__eq_sq` is filtered out of the group key), so every commit
    * shape refuses them at the publish choke point instead.
    */
  private[sources] val ReservedCols: Set[String] =
    Set("__dv_file", "__dv_pos", "__eq_file", "__eq_sq", "__sq",
      "__sq_file")

  private[sources] def publishStaged(s: SparkSession, root: String,
      commitId: String, staging: Path, carried: Seq[String], prev: Long,
      statsCols: Seq[String], props: Map[String, String],
      schema: StructType, only: Option[Set[String]] = None,
      wapTarget: Option[Path] = None,
      rebaseable: Boolean = false): Long = {
    val reservedHit = schema.fieldNames.filter(ReservedCols)
    require(reservedHit.isEmpty,
      s"snapshot commit to $root refused: column name(s) " +
        s"${reservedHit.mkString(", ")} are reserved for the layer's " +
        "merge-on-read join machinery — rename them before committing")
    val rootP = new Path(root)
    val fs = fsOf(s, rootP)
    val dataDir = new Path(rootP, "data")
    fs.mkdirs(dataDir)
    // `only` = the COMMITTED task attempts' files (from their commit
    // messages): a retried task's crashed first attempt can leave a
    // partial part file in staging that never saw abort(), and moving
    // it would duplicate rows — the V2 writers pass the exact set
    // partitioned staging nests value directories — walk them; the
    // flat move erases the directory layout on purpose (partition
    // values live in the manifest stats, not in paths)
    def walk(p: Path): Iterator[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).iterator.flatMap { st =>
        if (st.isDirectory) walk(st.getPath) else Iterator.single(st)
      }
    val staged = walk(staging)
      .filter(_.getPath.getName.startsWith("part-"))
      .filter(st => only.forall(_.contains(st.getPath.getName)))
      .toSeq
    // CHECK constraints (`user.constraint.<name>` table properties,
    // [[setTableProps]]): every commit shape funnels through here, so
    // write-time enforcement has ONE choke point — the staged files
    // are read back once (O(new data), only when constraints exist)
    // and a row where any constraint evaluates to FALSE (SQL CHECK
    // semantics: NULL passes) refuses the WHOLE commit before a single
    // file moves; the staging dir is then ordinary crash debris for
    // the orphan sweep. Rewrite shapes (merge, COW delete, compaction)
    // re-validate only the rows they restage — sound because
    // [[setTableProps]] validated the standing table when the
    // constraint was added.
    val carriedForChecks: Map[String, String] =
      if (prev == 0L) Map.empty
      else snapshotProps(s, root, prev).filter(_._1.startsWith("user."))
    val constraints = (carriedForChecks ++ props).collect {
      case (k, v) if k.startsWith("user.constraint.") && v.nonEmpty =>
        k.stripPrefix("user.constraint.") -> v
    }
    if (constraints.nonEmpty && staged.nonEmpty) {
      import org.apache.spark.sql.functions.{coalesce, expr, lit, not, sum, when}
      val physMapV = parsePhysMap(props.get("col.phys").orElse(
        if (prev == 0L) None
        else snapshotProps(s, root, prev).get("col.phys")))
      val raw = s.read.schema(physSchema(asNullable(schema), physMapV))
        .parquet(staged.map(_.getPath.toString): _*)
      val frame =
        if (physMapV.isEmpty) raw else raw.toDF(schema.fieldNames: _*)
      // every constraint counts its violations in ONE pass over the
      // staged files — N constraints never means N scans
      val ordered = constraints.toSeq.sortBy(_._1)
      val counts = frame.agg(
        sum(when(not(coalesce(expr(ordered.head._2), lit(true))), 1L)
          .otherwise(0L)),
        ordered.tail.map { case (_, ex) =>
          sum(when(not(coalesce(expr(ex), lit(true))), 1L).otherwise(0L))
        }: _*).head()
      ordered.zipWithIndex.foreach { case ((n, ex), i) =>
        val bad = if (counts.isNullAt(i)) 0L else counts.getLong(i)
        if (bad > 0L) {
          fs.delete(staging, true)
          throw new IllegalArgumentException(
            s"CHECK constraint '$n' ($ex) violated by $bad staged " +
              s"row(s) — commit to $root refused")
        }
      }
    }
    val moved = staged.zipWithIndex.map { case (st, i) =>
      val name = s"$commitId-$i.parquet"
      require(fs.rename(st.getPath, new Path(dataDir, name)),
        s"snapshot commit: failed to move ${st.getPath} into data/")
      s"data/$name"
    }
    fs.delete(staging, true)
    // the file-skipping index and row counts: one parquet FOOTER read
    // per new file (metadata only, never data pages), once, at commit;
    // every later reader prunes and counts from the manifest alone.
    // statsCols takes a list for multi-column indexes (the z-ordered
    // layout's case: every dimension prunes)
    // exactly-once stream floors and the table's partition shape
    // survive every commit path: carry the previous snapshot's
    // `stream.*` / `partition.cols` props unless this commit sets them
    // EVERYTHING from here to the manifest write is a function of the
    // base snapshot (prevA) and its carried entry lines (carriedA) —
    // packaged as `buildManifest` so the append-REBASE retry below can
    // re-derive the manifest against a new head after a conflict. The
    // per-file register scan and footer reads are memoized: they are
    // properties of the MOVED FILES alone, never of the base.
    val regsMemo = scala.collection.mutable.Map[Seq[String],
      Map[String, Map[String, Array[Int]]]]()
    val footerMemo = scala.collection.mutable.Map[Seq[String],
      Seq[(Seq[FileStats], Long)]]()
    def buildManifest(prevA: Long, carriedA: Seq[String],
        attemptId: String): (Path, Long) = {
    // (carried-prop classes: see [[carriedClassProps]])
    val carriedProps: Map[String, String] =
      if (prevA == 0L) Map.empty
      else carriedClassProps(snapshotProps(s, root, prevA))
    // partition columns ALWAYS join the stats index (whatever the
    // commit path — V1, V2 executor-staged, COW rewrites): a file that
    // lost its partition-value stats would silently stop pruning
    val partCols = (carriedProps ++ props).getOrElse("partition.cols", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // stats are recorded under PHYSICAL names — what the staged files
    // carry and what every pre-rename entry already holds, so one
    // lookup domain serves the whole manifest whatever the epoch
    val physMap = parsePhysMap((carriedProps ++ props).get("col.phys"))
    val effStatsCols = (statsCols ++ partCols).distinct
      .map(c => physMap.getOrElse(c, c))
    val id = prevA + 1
    // every new data entry is stamped with its DATA SEQUENCE (= this
    // snapshot id) as a trailing `sq=` field — what scopes equality
    // deletes to strictly-older files ([[FileEntry.seq]]); carried
    // entries keep their original stamp verbatim
    // MAINTAINED NDV ([[buildNdvIndex]] sets `stats.ndv.cols`, carried
    // by every commit shape): each commit computes the HLL registers
    // of ITS OWN new files — one O(new data) scan — so the table-level
    // estimate stays defined across appends, merges, and compactions
    // without ever rebuilding (carried entries keep their registers
    // verbatim). The cost is the commit's delta, never the table;
    // disable for one commit by passing props("stats.ndv.cols" -> "")
    // — genuinely ONE commit: the empty value is stripped before the
    // props persist (see allProps below), so the carried column list
    // survives and the NEXT commit resumes stamping. The skipped
    // commit's files stay register-less, which means [[ndvOf]] reports
    // None (honestly) until those files are rewritten or the index is
    // rebuilt — skipping trades one commit's scan for estimate
    // availability, never for silent staleness.
    val ndvCols: Seq[String] = (carriedProps ++ props)
      .getOrElse("stats.ndv.cols", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq // PHYSICAL names
    // the group's register width rides the carried `stats.ndv.m` prop
    // (default 64) — maintenance stamps new files at the BUILD's width
    val ndvM = (carriedProps ++ props)
      .getOrElse("stats.ndv.m", graft.ops.Sketches.HllBuckets.toString)
      .toInt
    val newRegs: Map[String, Map[String, Array[Int]]] =
      if (ndvCols.isEmpty || moved.isEmpty) Map.empty
      else regsMemo.getOrElseUpdate(ndvCols :+ s"m=$ndvM", {
        import org.apache.spark.sql.functions.col
        val df = s.read.parquet(moved.map(rel => s"$root/$rel"): _*)
        val present = ndvCols.filter(df.columns.contains)
        if (present.isEmpty) Map.empty
        else {
          val aggs = present.map(c => graft.functions.HllRegsAgg
            .hll_regs(graft.ops.Sketches.h48(col(c).cast("string")), ndvM)
            .as(s"r_$c"))
          df.select((col("_metadata.file_name").as("f") +:
              present.map(col)): _*)
            .groupBy("f").agg(aggs.head, aggs.tail: _*)
            .collect().map(r => r.getString(0) ->
              present.zipWithIndex.map { case (c, i) =>
                c -> r.getSeq[Int](i + 1).toArray }.toMap).toMap
        }
      })
    val b64ndv = java.util.Base64.getEncoder
    // footer reads fan out on a bounded pool (r15): they are
    // independent per-file metadata fetches, and a commit of N files
    // paid N sequential opens — milliseconds each locally, but
    // 50-100 ms each on an object store, which makes a wide commit's
    // publish O(files) in round trips; Iceberg parallelizes manifest
    // stats collection the same way
    val footers = footerMemo.getOrElseUpdate(effStatsCols, {
      if (moved.size <= 1)
        moved.map(rel => footerInfo(s, new Path(rootP, rel), effStatsCols))
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, moved.size))
        // pin a strict collection before the submit/get pipeline: a
        // lazy Seq would interleave submits with gets and re-serialize
        // the fan-out (ADVICE r15)
        val rels = moved.toVector
        try rels.map { rel =>
          pool.submit(new java.util.concurrent.Callable[
              (Seq[FileStats], Long)] {
            def call(): (Seq[FileStats], Long) =
              footerInfo(s, new Path(rootP, rel), effStatsCols)
          })
        }.map { f =>
          // surface the ORIGINAL failure, not the pool's wrapper — the
          // sequential path's callers and logs see the raw
          // IOException/runtime error (ADVICE r15)
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        }
        finally pool.shutdown()
      }
    })
    val movedEntries = moved.zip(footers).map { case (rel, (stats, rows)) =>
      val name = rel.substring(rel.lastIndexOf('/') + 1)
      // a new file MISSING an indexed column entirely (schema-evolution
      // append) reads it as all-null: zero registers, estimating 0
      // extra distincts — exactly right
      val ndvStats = ndvCols.map(c => FileStats(s"#ndv:$c", "h",
        b64ndv.encodeToString(newRegs.get(name).flatMap(_.get(c))
          .getOrElse(new Array[Int](ndvM))
          .map(_.toByte)), ""))
      FileEntry(rel, stats ++ ndvStats, Some(rows), id).render
    }
    // SHARD the entry section: carried `#shard` refs pass through
    // verbatim (O(1) head text per shard, whatever it lists); inline
    // lines — this commit's new entries plus any inline carries — roll
    // into AT MOST one new shard once they outgrow the threshold, so
    // head size stays O(shards + threshold) and commit text is
    // O(delta) at any table size. A conflict-failed commit's shard is
    // never referenced — ordinary age-gated orphan debris.
    //
    // AUTO-CONSOLIDATION: one delta shard per commit still accretes a
    // ref per ~shardMin files FOREVER (a per-minute streaming sink =
    // ~1.4k refs/day) — the one snapshot-layer cost that tracked the
    // table. When the ref count crosses `fold.max.refs`, this commit
    // folds every SMALL shard (+ the inline lines) into target-sized
    // shards ([[consolidateShards]]); shards already at target carry
    // as refs untouched. Each entry is therefore rewritten O(1) times
    // (delta shard, then once into its target shard) and the head
    // stays O(files / ShardTargetLines + fold.max.refs) lines — amortized
    // O(delta) commit text at any table size. `rewrite_manifests` is
    // the same fold forced to completion on demand.
    fs.mkdirs(manifestDir(root))
    val shardMin =
      s.conf.get("graft.snapshot.manifest.shard.min.lines", "32").toInt
    val foldMaxRefs =
      s.conf.get("graft.snapshot.manifest.fold.max.refs", "128").toInt
    val (carriedRefs, carriedInline) =
      carriedA.partition(_.startsWith("#shard "))
    val inlineAll = carriedInline ++ movedEntries
    val files =
      if (foldMaxRefs > 0 && carriedRefs.size >= foldMaxRefs)
        consolidateShards(s, fs, root, carriedRefs, inlineAll,
          ShardTargetLines, shardMin, attemptId)
      else if (inlineAll.length > shardMin) {
        val shardName = s"s-$attemptId.shard"
        val sp = new Path(manifestDir(root), shardName)
        val so = fs.create(sp, false)
        try so.write(inlineAll.mkString("\n")
          .getBytes(StandardCharsets.UTF_8))
        finally so.close()
        shardCache.put(sp.toString, inlineAll)
        carriedRefs :+ s"#shard $shardName"
      } else carriedRefs ++ inlineAll
    // an explicit one-commit NDV disable must not PERSIST its empty
    // value: the stats.- carry filter would propagate it forever,
    // permanently retiring the maintained group — restore the carried
    // column list (or drop the key when there was none)
    val allProps0 = carriedProps ++ Map("schema" -> schema.json) ++ props
    val allProps =
      if (props.get("stats.ndv.cols").contains(""))
        carriedProps.get("stats.ndv.cols").filter(_.nonEmpty) match {
          case Some(v) => allProps0 + ("stats.ndv.cols" -> v)
          case None => allProps0 - "stats.ndv.cols"
        }
      else allProps0
    // manifest content first to a temp name, then the atomic rename that
    // IS the commit; a taken name means a concurrent writer won the race
    val tmp = new Path(manifestDir(root), s".tmp-$attemptId")
    val lines =
      allProps.toSeq.sortBy(_._1)
        .map { case (k, v) => s"#prop ${enc(k)}=${enc(v)}" } ++ files
    val out = fs.create(tmp, false)
    try out.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    (tmp, id)
    } // end buildManifest
    wapTarget match {
      case Some(target) =>
        val (tmp, _) = buildManifest(prev, carried, commitId)
        // a STAGED snapshot: publish under the wap name (no head
        // advance, no claim — the name itself is the exclusivity: a
        // taken wap id fails loudly rather than replacing an audit's
        // subject under it)
        if (fs.exists(target) || !fs.rename(tmp, target)) {
          fs.delete(tmp, false)
          // this stage's files were already moved into data/ — delete
          // exactly that set rather than leaving orphans
          moved.foreach(rel => fs.delete(new Path(rootP, rel), false))
          throw new IllegalStateException(
            s"staged snapshot '${target.getName}' of $root already " +
              "exists: publish or drop it before re-staging")
        }
        prev
      case None =>
        // OPTIMISTIC publish with append REBASE: two logically-disjoint
        // appends racing the same base should BOTH land, not make the
        // loser re-stage its data. On a claim/publish conflict the loser
        // re-reads the new head, verifies the interleaved commits were
        // purely ADDITIVE and shape-preserving ([[rebaseGuard]] — the
        // staged files are already moved and immutable; only the
        // manifest re-derives), re-carries the new head's refs, and
        // re-claims — bounded attempts, loud refusal on overwrite /
        // partition / schema / column-mapping changes. Enabled only for
        // append-shaped commits (the caller attests carriedA == the
        // base head verbatim); every rewrite shape keeps the strict
        // fail-fast contract.
        val maxRetries =
          if (rebaseable && prev > 0L)
            s.conf.get("graft.snapshot.commit.retries", "3").toInt
          else 0
        var prevA = prev
        var carriedA = carried
        var attemptN = 0
        var committed = -1L
        while (committed < 0L) {
          val attemptId =
            if (attemptN == 0) commitId else s"$commitId-r$attemptN"
          val (tmp, id) = buildManifest(prevA, carriedA, attemptId)
          try { publishManifest(s, fs, root, id, tmp); committed = id }
          catch {
            case e: SnapshotCommitConflict if attemptN < maxRetries =>
              attemptN += 1
              val newCur = awaitHeadAdvance(s, root, prevA, attemptN)
              rebaseGuard(s, root, prev, newCur, e)
              prevA = newCur
              carriedA = headEntryLines(s, root, newCur)
          }
        }
        committed
    }
  }

  /** Whether rebasing an append from base `origPrev` onto head `newCur`
    * is sound: every interleaved commit must have been purely ADDITIVE
    * (the base's expanded entry set survives verbatim — appends,
    * eq-delete appends, and delete-vector commits qualify; overwrites,
    * merges, compactions, and stats rebuilds do not) and
    * shape-preserving (partitioning, column mapping, retired names,
    * evolution epoch, and schema unchanged — a concurrently-evolved
    * schema would be silently dropped by the rebased commit's own
    * schema prop). Throws the original conflict, enriched, when not.
    */
  /** The ONE claim-in-flight backoff both conflict-retry loops share
    * ([[publishStaged]]'s append rebase, [[publishWap]]'s fast-forward
    * rebase): when a commit conflict fires while the head still reads
    * `prev`, the winner holds the claim but has not renamed yet — an
    * immediate retry would rebuild the same manifest id and re-fail,
    * burning every attempt inside one claim window. Wait (bounded by
    * `graft.snapshot.rebase.wait.ms`, default 2 s) for the head to
    * advance before consuming the retry; if the winner crashed, the
    * claim lease expires and a later attempt takes it over. Returns
    * the freshest head observed.
    */
  private def awaitHeadAdvance(s: SparkSession, root: String,
      prev: Long, attempt: Int): Long = {
    var cur = currentSnapshot(s, root)
    if (cur == prev) {
      val waitMs = s.conf.get("graft.snapshot.rebase.wait.ms", "2000").toLong
      val deadline = System.currentTimeMillis() + waitMs
      while (cur == prev && System.currentTimeMillis() < deadline) {
        Thread.sleep(50L * attempt)
        cur = currentSnapshot(s, root)
      }
    }
    cur
  }

  private def rebaseGuard(s: SparkSession, root: String, origPrev: Long,
      newCur: Long, cause: SnapshotCommitConflict): Unit =
    rebaseCheck(s, root, origPrev, newCur).foreach(why =>
      throw new SnapshotCommitConflict(
        s"${cause.getMessage}; auto-rebase refused: $why — re-prepare " +
          "the commit against the current head"))

  /** The NON-THROWING form of the rebase soundness test — Some(reason)
    * when an append staged against `origPrev` must NOT be replayed
    * onto `newCur`, None when every interleaved commit was purely
    * additive and shape-preserving. Shared by the append retry loop
    * ([[publishStaged]]), the WAP fast-forward rebase
    * ([[publishWap]]), and the commit-group pre-publish validation
    * ([[CommitGroup]]), so the three surfaces can never drift on what
    * "rebaseable" means.
    */
  private[sources] def rebaseCheck(s: SparkSession, root: String,
      origPrev: Long, newCur: Long): Option[String] = {
    val shapeKeys =
      Seq("partition.cols", "col.phys", "cols.retired", "col.evo", "schema")
    def shapeOf(id: Long): Seq[Option[String]] = {
      val p = if (id == 0L) Map.empty[String, String]
        else snapshotProps(s, root, id)
      shapeKeys.map(p.get)
    }
    if (shapeOf(origPrev) != shapeOf(newCur))
      return Some("a concurrent commit changed the table's shape " +
        "(partitioning / schema / column mapping)")
    // CHECK constraints are validated ONCE, against the ORIGINAL
    // base's user.constraint.* set, before any retry/replay — a
    // concurrent ALTER TABLE ADD CONSTRAINT is metadata-only and
    // entry-set-preserving, so without this check the guard would wave
    // the rebase through and land rows the new constraint never saw.
    // The fail-fast contract forced re-preparation (which re-validates);
    // rebase must refuse to keep that guarantee.
    // ACTIVE constraints only (same filter as the write-time
    // enforcement): an unset records `user.constraint.x=""`, and a
    // constraint added-then-dropped between base and head must not
    // refuse a rebase whose effective constraint sets are identical
    def constraintsOf(id: Long): Map[String, String] =
      (if (id == 0L) Map.empty[String, String]
       else snapshotProps(s, root, id))
        .filter(p => p._1.startsWith("user.constraint.") && p._2.nonEmpty)
    if (constraintsOf(origPrev) != constraintsOf(newCur))
      return Some("a concurrent commit changed the table's CHECK " +
        "constraints — the staged rows were validated against the " +
        "old set")
    val baseSet =
      if (origPrev == 0L) Set.empty[String]
      else entryLines(s, root, origPrev).toSet
    if (!baseSet.subsetOf(entryLines(s, root, newCur).toSet))
      return Some("a concurrent commit rewrote or dropped base entries " +
        "(overwrite / merge / compaction / index rebuild)")
    None
  }

  /** Claim the id ATOMICALLY, then rename the manifest into place.
    * HDFS rename refuses an existing destination, but the local FS
    * clobbers it, so exists+rename alone leaves a check-to-rename
    * window where two same-base writers both succeed and one manifest
    * is silently overwritten. On the local FS, File.createNewFile is
    * O_CREAT|O_EXCL — exactly one claimer wins; elsewhere
    * FileSystem.createNewFile plus the no-clobber rename serve the
    * same role. Claim files are dot-prefixed so snapshot listings
    * never see them.
    *
    * Liveness: the claim is DELETED on every exit path of this method
    * (success included — once the manifest exists, its own existence
    * blocks any re-commit of the id), so only a crashed writer leaves
    * one behind. A later writer takes over a claim older than
    * `graft.snapshot.claim.ttl.ms` (default 600000) whose manifest
    * never appeared, and [[expireSnapshots]] sweeps such stale claims
    * too — an orphan claim can delay commits by one TTL, never wedge
    * the table. The TTL is a lease: set it above any plausible writer
    * stall, because a takeover racing a stalled-but-alive writer is
    * the one window this protocol (like every lease protocol) cannot
    * close without an external lock service; the pre-rename existence
    * re-check shrinks it to the check-to-rename gap.
    */
  /** The typed commit-conflict signal: a concurrent writer claimed or
    * published this id first. Distinct from plain IllegalStateException
    * so the append-rebase retry ([[publishStaged]]) never retries a
    * genuine filesystem error.
    */
  final class SnapshotCommitConflict(msg: String)
    extends IllegalStateException(msg)

  private def publishManifest(s: SparkSession, fs: FileSystem, root: String,
      id: Long, tmp: Path): Unit = {
    val target = manifestPath(root, id)
    val claim = new Path(manifestDir(root), s".claim-v$id")
    // the version claim is an exclusive create — same contract surface
    // as group markers, dispatched through the per-scheme ClaimBackend
    // (schemes whose rename/create can silently clobber refuse loudly
    // instead of degrading to a two-winner best-effort)
    def tryClaim(): Boolean = AtomicFiles.claimEmpty(fs, claim)
    def fail(msg: String, dropClaim: Boolean,
        conflict: Boolean = false): Nothing = {
      fs.delete(tmp, false)
      if (dropClaim) fs.delete(claim, false)
      if (conflict) throw new SnapshotCommitConflict(msg)
      throw new IllegalStateException(msg)
    }
    var claimed = tryClaim()
    if (!claimed && !fs.exists(target)) {
      // an existing claim with no manifest: either an in-flight writer
      // or a crashed one's orphan — take over iff older than the lease
      val ttlMs = s.conf.get("graft.snapshot.claim.ttl.ms", "600000").toLong
      val age =
        try System.currentTimeMillis() - fs.getFileStatus(claim).getModificationTime
        catch { case _: java.io.IOException => -1L } // claim just vanished
      if (age > ttlMs || !fs.exists(claim)) {
        fs.delete(claim, false)
        claimed = tryClaim()
      }
    }
    if (!claimed)
      fail(s"snapshot commit conflict: v$id is being committed by a " +
        s"concurrent writer (root=$root); retry from the new current " +
        "snapshot", dropClaim = false, conflict = true)
    if (fs.exists(target))
      fail(s"snapshot commit conflict: v$id already committed by a " +
        s"concurrent writer (root=$root); retry from the new current " +
        "snapshot", dropClaim = true, conflict = true)
    // capture the published bytes BEFORE the rename consumes tmp: the
    // lease-TTL takeover window means a stalled-but-alive original
    // writer can still race this publish, and the local FS rename
    // clobbers an existing destination — so verify-after-publish below
    // turns the unavoidable race from silent loss into a loud conflict
    val published = readFully(fs, tmp)
    if (!fs.rename(tmp, target))
      fail(s"snapshot commit: rename to $target failed (filesystem " +
        "error, not a conflict); the claim was released — retry the " +
        "commit", dropClaim = true)
    // re-read the target and confirm it carries exactly the bytes this
    // writer published. A mismatch means a concurrent (lease-raced)
    // writer's rename clobbered ours after it landed: OUR data files
    // are now unreferenced (removeOrphans reclaims them), and the
    // caller must observe a failed — not silently lost — commit.
    val landed =
      try readFully(fs, target)
      catch { case _: java.io.IOException => Array.empty[Byte] }
    if (!java.util.Arrays.equals(published, landed)) {
      fs.delete(claim, false)
      throw new SnapshotCommitConflict(
        s"snapshot commit conflict: manifest v$id was overwritten by a " +
          s"concurrent lease-raced writer after publish (root=$root); " +
          "this commit is LOST — retry from the new current snapshot")
    }
    fs.delete(claim, false)
  }

  private def readFully(fs: FileSystem, p: Path): Array[Byte] = {
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    buf
  }

  /** Expire everything older than the last `keepLast` snapshots: delete
    * their manifests, then every data file the EXPIRED manifests
    * reference that no surviving manifest does — the expired file lists
    * are read BEFORE their manifests are deleted, and nothing else in
    * `data/` is touched. That scoping is what makes vacuum safe against
    * a concurrent in-flight commit: its freshly-moved files are in
    * `data/` but in no manifest yet, and a listing-based sweep would
    * delete them out from under the about-to-publish manifest
    * (corrupting the snapshot); here they are simply not in scope.
    * Garbage from CRASHED commits (files referenced by no manifest
    * ever) is the separate, age-gated [[removeOrphans]].
    *
    * Contract: a reader pinned at any KEPT snapshot is untouched (its
    * files all appear in a surviving manifest); a `readAt` of an expired
    * id fails loudly (the manifest is gone, see [[fileList]]). The
    * caller picks `keepLast` as its pinned-reader horizon — the same
    * contract as Iceberg's expire_snapshots. Cost: O(expired + kept
    * manifests) small-file reads; no data file is ever read. Also
    * sweeps completed commit-claim markers and stale orphaned ones
    * (claim older than the TTL whose manifest never appeared).
    *
    * Returns (expired manifest count, deleted data file count).
    */
  def expireSnapshots(s: SparkSession, root: String,
      keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    expireBelow(s, root, currentSnapshot(s, root) - keepLast)
  }

  /** TIME-BASED retention — the production policy shape ("expire
    * snapshots older than T, keep at least N", Iceberg's
    * expireSnapshots API): expire every snapshot whose manifest was
    * PUBLISHED more than `olderThanMs` ago, except the most recent
    * `keepAtLeast` (default 1), which survive whatever their age.
    * Publish times are monotone in snapshot id (ids are claimed in
    * order), so the age horizon is a prefix of the id range — found by
    * one upward scan of manifest mtimes that stops at the first young
    * one; already-expired ids (manifest gone) count as old. Same
    * deletion scoping, pinned-reader contract, and stream-floor
    * carry-forward as the count form — both funnel into
    * [[expireBelow]]. Returns (expired manifests, deleted data files).
    */
  def expireSnapshotsOlderThan(s: SparkSession, root: String,
      olderThanMs: Long, keepAtLeast: Int = 1): (Int, Int) = {
    require(olderThanMs >= 0L,
      s"olderThanMs must be >= 0, got $olderThanMs")
    require(keepAtLeast >= 1, s"keepAtLeast must be >= 1, got $keepAtLeast")
    val fs = fsOf(s, new Path(root))
    val cur = currentSnapshot(s, root)
    val now = System.currentTimeMillis()
    val ageCutoff = (1L to cur).takeWhile { id =>
      val p = manifestPath(root, id)
      !fs.exists(p) ||
        now - fs.getFileStatus(p).getModificationTime > olderThanMs
    }.lastOption.getOrElse(0L)
    expireBelow(s, root, math.min(ageCutoff, cur - keepAtLeast))
  }

  private def expireBelow(s: SparkSession, root: String,
      cutoff: Long): (Int, Int) = {
    val fs = fsOf(s, new Path(root))
    val cur = currentSnapshot(s, root)
    val ttlMs = s.conf.get("graft.snapshot.claim.ttl.ms", "600000").toLong
    val mdir = manifestDir(root)
    if (cutoff < 1L) return (0, 0)
    // ref'd snapshots are PROTECTED whatever the retention window
    // ([[createTag]]/[[createBranch]]): their manifests survive, their
    // files and change frames count live — a tag is a promise that
    // readers can come back (the Iceberg ref contract); dropRef first
    // if the pin should stop holding storage
    val protectedIds: Set[Long] = listRefs(s, root).map(_._3).toSet
    val keptIds = ((cutoff + 1) to cur) ++
      protectedIds.filter(_ <= cutoff).toSeq
    val live: Set[String] =
      keptIds.flatMap(id => fileList(s, root, id)).toSet
    // read the expired manifests BEFORE deleting them: only files THEY
    // reference are deletion candidates — never a bare data/ listing
    val expiredIds = (1L to cutoff).filterNot(protectedIds)
      .filter(id => fs.exists(manifestPath(root, id)))
    val candidates: Set[String] =
      expiredIds.flatMap(id => fileList(s, root, id)).toSet
    val keptCdf: Set[String] = keptIds
      .flatMap(id => snapshotProps(s, root, id).get("cdf.dir")).toSet
    val expiredCdf: Set[String] =
      expiredIds.flatMap(id => snapshotProps(s, root, id).get("cdf.dir")).toSet
    // manifest SHARDS referenced by kept heads (and WAP stages, whose
    // audit is still pending) survive; shards referenced ONLY by
    // expired heads are this sweep's garbage — read before deletion,
    // like the file lists above. Never-referenced shards (crashed
    // commits) are removeOrphans' age-gated debris, not expire's.
    def refsOf(id: Long): Seq[String] =
      if (!fs.exists(manifestPath(root, id))) Seq.empty
      else shardRefsIn(headEntryLines(s, root, id))
    val wapShards: Set[String] =
      if (!fs.exists(mdir)) Set.empty
      else fs.listStatus(mdir).iterator
        .filter(st => st.getPath.getName.startsWith("wap-") &&
          st.getPath.getName.endsWith(".manifest"))
        .flatMap(st => shardRefsIn(manifestLines(fs, st.getPath)))
        .toSet
    val keptShards: Set[String] =
      keptIds.flatMap(refsOf).toSet ++ wapShards
    val expiredShards: Set[String] = expiredIds.flatMap(refsOf).toSet
    var nManifests = 0
    fs.listStatus(mdir).foreach { st =>
      val n = st.getPath.getName
      val expiredManifest = n.startsWith("v") && n.endsWith(".manifest") && {
        val id = n.stripPrefix("v").stripSuffix(".manifest").toLong
        id <= cutoff && !protectedIds(id)
      }
      // claims: completed ones (id <= current) are inert — the
      // manifest's own existence blocks re-commit of the id; an
      // in-flight claim (id > cur) is swept only once it is stale
      // (older than the lease TTL with no manifest — a crashed writer)
      val claimId = if (n.startsWith(".claim-v"))
        Some(n.stripPrefix(".claim-v").toLong) else None
      val doneClaim = claimId.exists(_ <= cur)
      val staleClaim = claimId.exists(id => id > cur &&
        !fs.exists(manifestPath(root, id)) &&
        System.currentTimeMillis() - st.getModificationTime > ttlMs)
      if (expiredManifest) { fs.delete(st.getPath, false); nManifests += 1 }
      else if (doneClaim || staleClaim) fs.delete(st.getPath, false)
    }
    var nData = 0
    candidates.diff(live).foreach { rel =>
      if (fs.delete(new Path(root, rel), false)) nData += 1
    }
    // change-feed dirs of expired merge snapshots (read above, before
    // the manifest deletions) — reclaimed unless a kept snapshot still
    // references them
    (expiredCdf -- keptCdf).foreach { rel =>
      fs.delete(new Path(root, rel), true)
    }
    (expiredShards -- keptShards).foreach { name =>
      fs.delete(new Path(mdir, name), false)
      shardCache.remove(new Path(mdir, name).toString)
    }
    (nManifests, nData)
  }

  /** Delete data files referenced by NO live manifest and older than
    * `olderThanMs` — the garbage a commit that crashed between moving
    * its files into `data/` and publishing its manifest leaves behind.
    * This is the ONLY listing-based deletion in the layer, and the age
    * gate is what makes it safe: an in-flight commit's files are
    * unreferenced too, but they are young; pick the threshold above
    * any plausible commit duration (Iceberg's remove_orphan_files
    * makes the same contract). Returns the deleted file count.
    */
  def removeOrphans(s: SparkSession, root: String,
      olderThanMs: Long): Int = {
    val fs = fsOf(s, new Path(root))
    val mdir = manifestDir(root)
    val manifests =
      if (!fs.exists(mdir)) Seq.empty[Path]
      else fs.listStatus(mdir).iterator.map(_.getPath)
        .filter { p =>
          val n = p.getName
          // staged (wap-*) snapshots are LIVE referencers too: their
          // files await an audit verdict, not garbage collection
          (n.startsWith("v") || n.startsWith("wap-")) &&
            n.endsWith(".manifest")
        }.toSeq
    val headLines: Seq[Seq[String]] =
      manifests.map(p => manifestLines(fs, p))
    val referenced: Set[String] =
      headLines.flatMap(ls => expandEntrySection(fs, root,
        entrySectionOf(ls)).map(parseEntry(_).path)).toSet
    var n = 0
    val now = System.currentTimeMillis()
    // manifest shards referenced by NO head (v-* or wap-*) — a commit
    // that wrote its shard and crashed before the head rename — are
    // the same age-gated crash debris as unreferenced data files
    val refShards: Set[String] = headLines.flatMap(shardRefsIn).toSet
    if (fs.exists(mdir)) fs.listStatus(mdir).foreach { st =>
      val nm = st.getPath.getName
      if (nm.startsWith("s-") && nm.endsWith(".shard") &&
          !refShards(nm) && now - st.getModificationTime > olderThanMs) {
        fs.delete(st.getPath, false)
        shardCache.remove(st.getPath.toString)
        n += 1
      }
    }
    // data files AND delete-vector files: a deleteWhereMor that crashed
    // between publishing its vector and renaming its manifest leaves
    // the same shape of garbage in deletes/ as a crashed commit in data/
    Seq("data", "deletes").foreach { sub =>
      val dir = new Path(root, sub)
      if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
        if (!referenced.contains(s"$sub/${st.getPath.getName}") &&
            now - st.getModificationTime > olderThanMs) {
          fs.delete(st.getPath, false); n += 1
        }
      }
    }
    // change-feed dirs: a merge/deleteWhere that wrote its changes/<uuid>
    // frame and then failed the manifest publish leaves a CDF dir no
    // manifest's `cdf.dir` prop ever references — the same crashed-commit
    // shape, swept under the same age gate. Live and WAP-staged manifests
    // both count as referencers (a staged merge's feed awaits its audit).
    val referencedCdf: Set[String] =
      manifests.flatMap(p => manifestLines(fs, p)
        .filter(_.startsWith("#prop "))
        .map(_.stripPrefix("#prop ").split("=", 2))
        .collect { case Array(k, v) if dec(k) == "cdf.dir" => dec(v) }).toSet
    val chDir = new Path(root, "changes")
    if (fs.exists(chDir)) fs.listStatus(chDir).foreach { st =>
      if (!referencedCdf.contains(s"changes/${st.getPath.getName}") &&
          now - st.getModificationTime > olderThanMs) {
        fs.delete(st.getPath, true); n += 1
      }
    }
    n
  }

  /** Restore snapshot `toId`'s table state as a NEW snapshot
    * (id = current + 1): the rollback commit carries `toId`'s entry
    * lines and schema VERBATIM — a pure manifest write; no data file is
    * read, written, or moved, and history is untouched (the
    * rolled-back-over snapshots stay time-travelable until
    * [[expireSnapshots]] reclaims them — rollback moves the table HEAD,
    * it never erases versions, the same contract as Iceberg's
    * rollback_to_snapshot). Exactly-once `stream.*` floors are carried
    * from the CURRENT snapshot, not the restore target: a floor must
    * never regress, or a restarted stream writer would re-deliver
    * batches the table already absorbed (their rows are gone with the
    * rollback — by design, that is what rolling back means — but a
    * regressed floor would then DOUBLE-apply any batch replayed after
    * the next legitimate append). [[changesBetween]] and streaming
    * tails that cross a rollback refuse by the usual non-append
    * contract: the file set shrank. Cost: two manifest reads and one
    * manifest write — O(metadata) at any table size.
    */
  def rollback(s: SparkSession, root: String, toId: Long): Long = {
    val cur = currentSnapshot(s, root)
    require(toId >= 1 && toId < cur,
      s"rollback: target v$toId must be an existing snapshot earlier " +
        s"than current v$cur of $root")
    val carried = headEntryLines(s, root, toId)
    val schema = storedSchema(s, root, toId).getOrElse(
      readAt(s, root, toId).schema)
    // the restore target's table-shape props (partitioning) travel with
    // its file list — RESTATED even when empty, so rolling back from a
    // partitioned head to a pre-partitioning snapshot does not let the
    // carried-prop default resurrect the head's shape; stream floors do
    // NOT travel (publishStaged carries the CURRENT snapshot's, above)
    val shapeProps = Map("partition.cols" ->
      partitionColsOf(s, root, toId).mkString(","))
    val fs = fsOf(s, new Path(root))
    val commitId = java.util.UUID.randomUUID().toString.replace("-", "")
    val staging = new Path(new Path(root), s"_staging/$commitId")
    fs.mkdirs(staging) // empty: a manifest-only commit moves no files
    publishStaged(s, root, commitId, staging, carried, cur, Seq.empty,
      shapeProps + ("rollback.of" -> toId.toString) +
        // the target's column mapping travels with its file list
        // (RESTATED even when empty — the head's mapping must not
        // leak through the carried-prop default); retired names stay
        // the head's superset via the normal carry (monotone: a name
        // once barred stays barred)
        ("col.phys" -> renderPhysMap(physMapOf(s, root, toId))),
      schema)
  }

  /** METADATA-ONLY column rename (`from` → `to`): one manifest commit
    * carrying the file list VERBATIM — no data file is read, written,
    * or moved at any table size. The column's PHYSICAL name (what its
    * files and stats carry) never changes; only the logical name in
    * the `col.phys` mapping moves, so every reader — current, time
    * travel (which sees each snapshot's own names), stats pruning,
    * row-level rewrites — resolves through the mapping
    * ([[physMapOf]]). Refused: renaming a partition column (the
    * partition-shape props and value-pure staging key on the name),
    * renaming onto a live logical or physical name, or onto a name
    * [[dropColumn]] retired. Type and position are untouched — retype
    * / reposition still refuse loudly everywhere. Returns the new
    * snapshot id.
    */
  /** Names of CHECK constraints (`user.constraint.*`) whose expression
    * references column `col` at snapshot `id` — the guard rename/drop
    * consults: a constraint left pointing at a vanished name would
    * fail EVERY later commit at the publish choke point (an
    * unresolved-column AnalysisException recoverable only by
    * unsetTableProps), so the schema change refuses loudly instead —
    * the same contract as Delta's rename/drop-vs-constraint check.
    * Resolution is by parsed attribute reference (case-insensitive,
    * Spark's default), never substring.
    */
  private def constraintsReferencing(s: SparkSession, root: String,
      id: Long, col: String): Seq[String] =
    tablePropsOf(s, root, id).toSeq.collect {
      case (k, v) if k.startsWith("constraint.") &&
          (try s.sessionState.sqlParser.parseExpression(v).collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              a.nameParts.head.toLowerCase
          }.contains(col.toLowerCase)
          catch { case _: Exception => true }) => // unparseable: refuse
        k.stripPrefix("constraint.")
    }.sorted

  def renameColumn(s: SparkSession, root: String, from: String,
      to: String): Long = {
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"rename on empty table $root: commit first")
    val refd = constraintsReferencing(s, root, cur, from)
    require(refd.isEmpty,
      s"renameColumn: column '$from' is referenced by CHECK " +
        s"constraint(s) ${refd.mkString(", ")} of $root — every later " +
        "commit would fail the constraint check on the vanished name; " +
        "drop the constraint first (unsetTableProps / ALTER TABLE " +
        "UNSET TBLPROPERTIES) and re-add it under the new name")
    val schema = storedSchema(s, root, cur).getOrElse(
      throw new IllegalStateException(
        s"renameColumn: $root v$cur records no schema (pre-recording " +
          "manifest) — rewrite the table to rename"))
    require(schema.fieldNames.contains(from),
      s"renameColumn: no column '$from' in ${schema.fieldNames.mkString(",")}")
    require(!schema.fieldNames.contains(to),
      s"renameColumn: column '$to' already exists")
    require(!partitionColsOf(s, root, cur).contains(from),
      s"renameColumn: '$from' is a partition column — partition shape " +
        "keys on the name; rewrite the table to rename it")
    val map = physMapOf(s, root, cur)
    val livePhys = schema.fieldNames.map(c => map.getOrElse(c, c)).toSet
    require(!livePhys.contains(to) && !retiredOf(s, root, cur).contains(to),
      s"renameColumn: '$to' collides with a live or retired PHYSICAL " +
        s"column name of $root — live files carry data under it; pick " +
        "another name or rewrite the table")
    val phys = map.getOrElse(from, from)
    val newMap = map - from + (to -> phys)
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    metadataOnlyCommit(s, root, cur, newSchema, Map(
      "col.phys" -> renderPhysMap(newMap),
      "col.evo" -> (evoEpochOf(s, root, cur) + 1).toString,
      "rename.col" -> s"${enc(from)}>${enc(to)}"))
  }

  /** METADATA-ONLY column drop: one manifest commit, file list
    * VERBATIM — the data stays in the files (time travel to any
    * earlier snapshot still reads it) but every read from this
    * snapshot on projects it away at the parquet scan (the column is
    * simply not requested). The dropped column's PHYSICAL name is
    * RETIRED ([[retiredOf]]): a later ADD COLUMN reusing it would
    * silently resurrect the dropped cells from old files, so schema
    * evolution refuses it loudly. Refused: partition columns and the
    * last column. Returns the new snapshot id.
    */
  def dropColumn(s: SparkSession, root: String, name: String): Long = {
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"drop column on empty table $root: commit first")
    val refd = constraintsReferencing(s, root, cur, name)
    require(refd.isEmpty,
      s"dropColumn: column '$name' is referenced by CHECK " +
        s"constraint(s) ${refd.mkString(", ")} of $root — every later " +
        "commit would fail the constraint check on the vanished name; " +
        "drop the constraint first (unsetTableProps / ALTER TABLE " +
        "UNSET TBLPROPERTIES)")
    val schema = storedSchema(s, root, cur).getOrElse(
      throw new IllegalStateException(
        s"dropColumn: $root v$cur records no schema (pre-recording " +
          "manifest) — rewrite the table to drop"))
    require(schema.fieldNames.contains(name),
      s"dropColumn: no column '$name' in ${schema.fieldNames.mkString(",")}")
    require(schema.fields.length > 1,
      s"dropColumn: cannot drop the last column of $root")
    require(!partitionColsOf(s, root, cur).contains(name),
      s"dropColumn: '$name' is a partition column — drop the partition " +
        "shape with an overwrite instead")
    val map = physMapOf(s, root, cur)
    val newSchema = StructType(schema.fields.filterNot(_.name == name))
    metadataOnlyCommit(s, root, cur, newSchema, Map(
      "col.phys" -> renderPhysMap(map - name),
      "cols.retired" -> (retiredOf(s, root, cur) + map.getOrElse(name, name))
        .toSeq.sorted.map(enc).mkString(","),
      "col.evo" -> (evoEpochOf(s, root, cur) + 1).toString,
      "drop.col" -> enc(name)))
  }

  /** METADATA-ONLY type widening: one manifest commit, file list
    * VERBATIM — `ALTER COLUMN ... TYPE` for the lossless promotion
    * lattice ([[isWiden]]: integral upcasts, float→double, same-scale
    * decimal precision growth). No file is read, cast, or rewritten at
    * any table size: Spark 4's Parquet readers promote narrow files to
    * the wider read schema natively, so old int32 files and new int64
    * files answer one LongType scan together, and time travel still
    * sees each snapshot's own (narrower) type. The manifest stats
    * index survives untouched — stats compare in their recorded
    * i/d domain whatever the declared width, so file skipping on the
    * widened column keeps pruning. The change feed does NOT
    * re-baseline across a widen (unlike rename/drop, names are
    * unchanged): pre-widen change frames union into post-widen ones
    * through Spark's set-operation type coercion, exactness
    * spec-pinned. Refused: narrowing or any other retype, partition
    * columns (partition-shape staging and replace tuples key on the
    * recorded value rendering), and pre-schema-recording manifests.
    * Returns the new snapshot id.
    */
  def widenColumn(s: SparkSession, root: String, name: String,
      to: DataType): Long = {
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"widen on empty table $root: commit first")
    val schema = storedSchema(s, root, cur).getOrElse(
      throw new IllegalStateException(
        s"widenColumn: $root v$cur records no schema (pre-recording " +
          "manifest) — rewrite the table to retype"))
    val field = schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"widenColumn: no column '$name' in ${schema.fieldNames.mkString(",")}"))
    require(isWiden(field.dataType, to),
      s"widenColumn: ${field.dataType.simpleString} -> ${to.simpleString} " +
        "is not a lossless widening (allowed: byte/short/int -> wider " +
        "integral, float -> double, decimal(p,s) -> decimal(p+,s)); " +
        "rewrite the table for any other retype")
    require(!partitionColsOf(s, root, cur).contains(name),
      s"widenColumn: '$name' is a partition column — partition staging " +
        "and replace tuples key on its recorded values; rewrite the " +
        "table to retype it")
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == name) f.copy(dataType = to) else f))
    // the widened column's BLOOMS drop: bloom bits hash each value's
    // build-time string rendering, and a float widened to double
    // renders differently (0.1f reads as 0.10000000149...), so a kept
    // bloom would wrongly REFUTE files — the one stats group widening
    // invalidates. Dropping is sound (blooms only ever prune) and
    // consistent with rewrites; rebuild with buildBloomIndex. Min/max
    // stats keep their i/d domain and stay.
    val phys = physMapOf(s, root, cur).getOrElse(name, name)
    // shard-aware: only shards that actually carry the widened
    // column's bloom inline their lines; the rest carry as refs
    val lines = rewriteHeadLines(s, root, cur)(e =>
      Some(e.copy(stats = e.stats.filterNot(_.col == s"#bloom:$phys"))))
    metadataOnlyCommit(s, root, cur, newSchema, Map(
      "widen.col" ->
        s"${enc(name)}:${field.dataType.catalogString}>${to.catalogString}"),
      lines = Some(lines))
  }

  /** PARTITION SPEC EVOLUTION (Iceberg's signature table-shape verb):
    * change the partition columns GOING FORWARD as one metadata-only
    * commit — no file is read, moved, or rewritten at any table size.
    * Old files keep their layout; appends from this snapshot on stage
    * value-pure on the new key. Sound because partitioning here is
    * HIDDEN — partition data lives in per-file manifest stats, not in
    * directory paths a reader must understand — so every consumer
    * degrades exactly right on a mixed-spec table: reads never cared;
    * stats pruning on the new key skips new-spec files and keeps
    * old-spec ones conservatively (they carry no single-value stats on
    * it); storage-partitioned joins withdraw their KeyGroupedPartitioning
    * report until the table is value-pure again ([[partitionPure]]);
    * [[commitReplace]] still proves drops/carries on new-spec files and
    * falls back to the exact read-and-filter rewrite for old-spec files
    * that MIGHT mix replaced values — the same impure-file path a COW
    * rewrite already exercises. Purity (and with it zero-IO replaces
    * and SPJ) is restored by any overwrite compaction under the new
    * spec. `newCols` empty un-partitions going forward. Refuses a
    * no-op and unknown columns. Returns the new snapshot id.
    */
  def evolvePartitioning(s: SparkSession, root: String,
      newCols: Seq[String]): Long = {
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"evolvePartitioning on empty table $root: commit first")
    val schema = storedSchema(s, root, cur).getOrElse(
      throw new IllegalStateException(
        s"evolvePartitioning: $root v$cur records no schema"))
    require(newCols.forall(schema.fieldNames.contains),
      s"evolvePartitioning: unknown columns " +
        s"${newCols.filterNot(schema.fieldNames.contains).mkString(",")} " +
        s"(schema: ${schema.fieldNames.mkString(",")})")
    val old = partitionColsOf(s, root, cur)
    require(newCols != old,
      s"evolvePartitioning: table already partitioned by " +
        s"[${old.mkString(",")}]")
    metadataOnlyCommit(s, root, cur, schema, Map(
      "partition.cols" -> newCols.mkString(","),
      "partition.evolve" ->
        s"${old.mkString("+")}>${newCols.mkString("+")}"))
  }

  /** A commit that changes only metadata: entry lines carried
    * VERBATIM, empty staging (no file moves), `props` layered over the
    * normal carried set. The rename/drop shape; rollback keeps its own
    * variant (it restates shape props from the restore target).
    */
  private def metadataOnlyCommit(s: SparkSession, root: String, cur: Long,
      schema: StructType, props: Map[String, String],
      lines: Option[Seq[String]] = None): Long = {
    val fs = fsOf(s, new Path(root))
    val commitId = java.util.UUID.randomUUID().toString.replace("-", "")
    val staging = new Path(new Path(root), s"_staging/$commitId")
    fs.mkdirs(staging)
    publishStaged(s, root, commitId, staging,
      lines.getOrElse(headEntryLines(s, root, cur)),
      cur, Seq.empty, props, schema)
  }

  /** USER TABLE PROPERTIES (`ALTER TABLE ... SET TBLPROPERTIES`):
    * key→value pairs a user attaches to the table, stored as
    * `user.`-prefixed manifest props so they can never collide with
    * the layer's protocol props, CARRIED by every commit shape
    * (including overwrites — they are table-level, like Delta's), and
    * versioned like everything else: time travel sees each snapshot's
    * own properties. One metadata-only commit per change.
    */
  def setTableProps(s: SparkSession, root: String,
      props: Map[String, String]): Long = {
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"setTableProps on empty table $root: commit first")
    require(props.nonEmpty, "setTableProps: no properties given")
    require(props.values.forall(_.nonEmpty),
      "setTableProps: empty values are the unset encoding — use " +
        "unsetTableProps to remove a property")
    // a NEW `constraint.<name>` must hold on the STANDING table (one
    // validation scan now, exactly like Delta's ADD CONSTRAINT) — the
    // write-time enforcement in [[publishStaged]] only ever sees new
    // rows, so this is what makes "every row of the table satisfies
    // every constraint" an invariant rather than a hope
    props.foreach { case (k, v) =>
      if (k.startsWith("constraint.")) {
        import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
        val bad = readAt(s, root, cur)
          .where(not(coalesce(expr(v), lit(true)))).count()
        require(bad == 0L,
          s"setTableProps: CHECK constraint '${k.stripPrefix("constraint.")}' " +
            s"($v) is violated by $bad existing row(s) of $root — " +
            "clean the data first")
      }
    }
    metadataOnlyCommit(s, root, cur,
      storedSchema(s, root, cur).getOrElse(readAt(s, root, cur).schema),
      props.map { case (k, v) => s"user.$k" -> v })
  }

  /** Remove user table properties; unknown keys refuse loudly. */
  def unsetTableProps(s: SparkSession, root: String,
      keys: Seq[String]): Long = {
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"unsetTableProps on empty table $root: commit first")
    val have = tablePropsOf(s, root, cur)
    val missing = keys.filterNot(have.contains)
    require(missing.isEmpty,
      s"unsetTableProps: no such propert${if (missing.size == 1) "y" else "ies"} " +
        s"${missing.mkString(", ")} on $root")
    // a carried prop cannot be un-carried by omission — restate EMPTY
    // (the parse filters empty values out of the user view)
    metadataOnlyCommit(s, root, cur,
      storedSchema(s, root, cur).getOrElse(readAt(s, root, cur).schema),
      keys.map(k => s"user.$k" -> "").toMap)
  }

  /** Snapshot `id`'s user table properties (`user.` prefix stripped,
    * unset — empty-valued — keys filtered).
    */
  def tablePropsOf(s: SparkSession, root: String,
      id: Long): Map[String, String] =
    if (id == 0L) Map.empty
    else snapshotProps(s, root, id).collect {
      case (k, v) if k.startsWith("user.") && v.nonEmpty =>
        k.stripPrefix("user.") -> v
    }

  // ---- named refs: tags (immutable pins) and branches (fast-forward
  // pointers) ----------------------------------------------------------
  //
  // A ref is one tiny file under `_refs/` holding a snapshot id:
  // `tag-<name>` never moves once created (audit pins, release marks);
  // `branch-<name>` fast-forwards monotonically (a consumer's published
  // line — WAP covers DIVERGING staged work, so branches here never
  // fork the id sequence). Consumers address snapshots by NAME —
  // `option("ref", name)` on DSv2 reads, `VERSION AS OF '<name>'`
  // through the catalog — and [[expireSnapshots]]/[[expireSnapshotsOlderThan]]
  // keep every ref'd snapshot alive whatever the retention window, the
  // same contract as Iceberg refs. O(1) metadata everywhere.

  private def refsDir(root: String): Path = new Path(root, "_refs")

  private def refPath(root: String, kind: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"ref name '$name' must match [A-Za-z0-9][A-Za-z0-9._-]*")
    new Path(refsDir(root), s"$kind-$name")
  }

  private def writeRefFile(fs: FileSystem, p: Path, id: Long,
      overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(id.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readRefFile(fs: FileSystem, p: Path): Long = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
    finally in.close()
  }

  /** Create immutable tag `name` at snapshot `id` (default: current).
    * Refuses an existing ref of either kind under the name, and a
    * target with no live manifest.
    */
  def createTag(s: SparkSession, root: String, name: String,
      id: Long = -1L): Long = createRef(s, root, "tag", name, id)

  /** Create branch `name` at snapshot `id` (default: current). Same
    * existence rules as [[createTag]]; moves only via
    * [[advanceBranch]].
    */
  def createBranch(s: SparkSession, root: String, name: String,
      id: Long = -1L): Long = createRef(s, root, "branch", name, id)

  private def createRef(s: SparkSession, root: String, kind: String,
      name: String, id: Long): Long = {
    val fs = fsOf(s, new Path(root))
    val target =
      if (id >= 1L) id else currentSnapshot(s, root)
    require(target >= 1L && fs.exists(manifestPath(root, target)),
      s"$kind '$name': snapshot v$target of $root does not exist")
    require(resolveRef(s, root, name).isEmpty,
      s"$kind '$name' of $root: a ref with this name already exists " +
        "(refs never silently move; dropRef first, or advanceBranch " +
        "for a branch)")
    fs.mkdirs(refsDir(root))
    writeRefFile(fs, refPath(root, kind, name), target, overwrite = false)
    target
  }

  /** Fast-forward branch `name` to `toId` (default: current). Refuses
    * moving BACKWARD (a branch is a consumer's published line — going
    * back would un-publish) and refuses tags entirely.
    */
  def advanceBranch(s: SparkSession, root: String, name: String,
      toId: Long = -1L): Long = {
    val fs = fsOf(s, new Path(root))
    val p = refPath(root, "branch", name)
    require(fs.exists(p), {
      val isTag = fs.exists(refPath(root, "tag", name))
      if (isTag) s"'$name' of $root is a TAG — tags never move"
      else s"branch '$name' of $root does not exist"
    })
    val target = if (toId >= 1L) toId else currentSnapshot(s, root)
    require(fs.exists(manifestPath(root, target)),
      s"branch '$name': snapshot v$target of $root does not exist")
    val at = readRefFile(fs, p)
    require(target >= at,
      s"branch '$name' of $root: cannot move backward v$at -> v$target")
    writeRefFile(fs, p, target, overwrite = true)
    target
  }

  /** Delete ref `name` (either kind). Returns whether one existed. */
  def dropRef(s: SparkSession, root: String, name: String): Boolean = {
    val fs = fsOf(s, new Path(root))
    Seq("tag", "branch").map(k => fs.delete(refPath(root, k, name), false))
      .exists(identity)
  }

  /** The snapshot id ref `name` points at, tag first. */
  def resolveRef(s: SparkSession, root: String, name: String): Option[Long] = {
    val fs = fsOf(s, new Path(root))
    Seq("tag", "branch").map(k => refPath(root, k, name))
      .find(fs.exists).map(readRefFile(fs, _))
  }

  /** Every ref of the table: (name, kind, snapshot id). One listing. */
  def listRefs(s: SparkSession, root: String): Seq[(String, String, Long)] = {
    val fs = fsOf(s, new Path(root))
    val dir = refsDir(root)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      Seq("tag", "branch").collectFirst {
        case k if n.startsWith(s"$k-") =>
          (n.stripPrefix(s"$k-"), k, readRefFile(fs, st.getPath))
      }
    }.sortBy(_._1)
  }

  /** Read the snapshot ref `name` pins — O(1) metadata then a normal
    * [[readAt]].
    */
  def readRef(s: SparkSession, root: String, name: String): DataFrame =
    readAt(s, root, resolveRef(s, root, name).getOrElse(
      throw new IllegalArgumentException(
        s"no ref named '$name' on $root")))

  /** Runtime V2 predicate → the V1 Filter algebra the stats proofs
    * evaluate. Only shapes the proofs can use (IN / = over literals,
    * AND/OR) translate; anything else drops — sound, never prunes.
    * Shared by the group scan's runtime filtering and the plain read
    * scan's.
    */
  private[sources] def v2PredicateToV1(
      e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
    import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
    def external(l: V2Literal[_]): Any =
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(l.dataType)(l.value)
    e match {
      case p: V2Predicate => (p.name, p.children.toSeq) match {
        case ("IN", (f: NamedReference) +: vs)
            if vs.forall(_.isInstanceOf[V2Literal[_]]) =>
          Some(org.apache.spark.sql.sources.In(f.fieldNames.mkString("."),
            vs.map { case l: V2Literal[_] => external(l) }.toArray))
        case ("=", Seq(f: NamedReference, l: V2Literal[_])) =>
          Some(org.apache.spark.sql.sources.EqualTo(
            f.fieldNames.mkString("."), external(l)))
        case ("=", Seq(l: V2Literal[_], f: NamedReference)) =>
          Some(org.apache.spark.sql.sources.EqualTo(
            f.fieldNames.mkString("."), external(l)))
        case ("AND", Seq(l, r)) =>
          for (a <- v2PredicateToV1(l); b <- v2PredicateToV1(r))
            yield org.apache.spark.sql.sources.And(a, b)
        case ("OR", Seq(l, r)) =>
          for (a <- v2PredicateToV1(l); b <- v2PredicateToV1(r))
            yield org.apache.spark.sql.sources.Or(a, b)
        case _ => None
      }
      case _ => None
    }
  }

  // ---- per-file membership BLOOMS: the stats group beyond min/max ---
  //
  // Min/max bands prune RANGES; a selective JOIN probes MEMBERSHIP —
  // and on a table not clustered by the join key, every file's band
  // covers everything and the bands prune nothing. [[buildBloomIndex]]
  // adds a small per-file bloom over a chosen column (one read-only
  // scan, one metadata-only commit augmenting the entry lines), and
  // every stats-proof path — static pushdown, COW deletes, merges, and
  // the scan's RUNTIME join filtering — then refutes `col = v` / `col
  // IN (...)` per file in O(hashes) bit probes. False positives only
  // (a bloom never excludes a present value), so pruning stays sound.

  /** Deterministic bloom bit positions for a value's canonical string:
    * md5-derived double hashing, identical on the build (executor) and
    * probe (driver) sides. Canonical string = Spark's `CAST(v AS
    * STRING)`, which matches `Long.toString`/`Double.toString`/String
    * identity for every stats domain.
    */
  private[sources] def bloomPositions(v: String, bits: Int,
      hashes: Int): Array[Int] = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes(StandardCharsets.UTF_8))
    def longAt(o: Int): Long =
      (0 until 8).foldLeft(0L)((a, i) => (a << 8) | (h(o + i) & 0xffL))
    val h1 = longAt(0)
    val h2 = longAt(8) | 1L
    Array.tabulate(hashes)(i => (((h1 + i * h2) % bits + bits) % bits).toInt)
  }

  private[sources] def bloomMightContain(bloom: Array[Byte], hashes: Int,
      v: String): Boolean = {
    val bits = bloom.length * 8
    if (bits == 0) return true // malformed: never prune on it
    bloomPositions(v, bits, hashes)
      .forall(p => (bloom(p >> 3) & (1 << (p & 7))) != 0)
  }

  /** Build (or refresh) the per-file membership bloom over `colName`
    * for the CURRENT snapshot: ONE read-only column scan of the
    * snapshot's data files (grouped by `_metadata.file_name` — the
    * same constant-cost metadata column the delete vectors join on)
    * and one METADATA-ONLY commit whose entry lines carry the bloom as
    * a `#bloom:<physical col>` pseudo-stats tuple. No data file is
    * written or moved; a rewrite (merge, delete, compaction) simply
    * DROPS the rewritten files' blooms — stale blooms never exist,
    * they only disappear until the next build. A file whose column is
    * entirely null (or that predates the column) records the all-zero
    * bloom, which correctly refutes every equality. Geometry: `bits`
    * auto-sizes (default) to the next power of two covering ~10 bits
    * per distinct value of the WIDEST file (≈1% false positives —
    * measured: 1000 NDV/file under a fixed 4096 bits saturates to 70%
    * fill and 17% FP, pruning nothing), floored at 4096 and capped at
    * 2^17 (16 KB per entry line; files beyond ~13k NDV keep a
    * saturated — useless but sound — bloom, the signal to cluster by
    * the key instead). One extra NDV aggregation pays for the sizing.
    * Returns the new snapshot id.
    */
  def buildBloomIndex(s: SparkSession, root: String, colName: String,
      bits: Int = -1, hashes: Int = 5): Long = {
    import org.apache.spark.sql.functions.{approx_count_distinct, col, collect_set, explode, max, udf}
    require(bits == -1 || (bits % 8 == 0 && bits > 0),
      s"buildBloomIndex: bits must be -1 (auto) or a positive multiple of 8")
    require(hashes >= 1, "buildBloomIndex: hashes must be >= 1")
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"bloom index on empty table $root: commit first")
    val es = entries(s, root, cur)
    val (dvs, data) = es.partition(_.isDelete)
    val physCol = physMapOf(s, root, cur).getOrElse(colName, colName)
    val df = readData(s, root, data.map(_.path),
      storedSchema(s, root, cur), physMapOf(s, root, cur))
    require(df.columns.contains(colName),
      s"buildBloomIndex: no column '$colName' in $root")
    val effBits: Int =
      if (bits > 0) bits
      else {
        val maxNdv = df
          .select(col("_metadata.file_name").as("f"), col(colName).as("v"))
          .groupBy("f").agg(approx_count_distinct(col("v")).as("ndv"))
          .agg(max(col("ndv"))).collect().headOption
          .collect { case r if !r.isNullAt(0) => r.getLong(0) }
          .getOrElse(0L)
        math.min(1 << 17,
          math.max(4096L, java.lang.Long.highestOneBit(
            math.max(1L, 10L * maxNdv) * 2 - 1))).toInt
      }
    val posUdf = udf { (v: String) =>
      if (v == null) Array.empty[Int]
      else bloomPositions(v, effBits, hashes)
    }
    val perFile: Map[String, Array[Int]] = df
      .select(col("_metadata.file_name").as("f"),
        explode(posUdf(col(colName).cast("string"))).as("p"))
      .groupBy("f").agg(collect_set(col("p")).as("ps"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[Int](1).toArray).toMap // O(files x bits) driver memory
    val b64 = java.util.Base64.getEncoder
    def withBloom(e: FileEntry): FileEntry = {
      val bytes = new Array[Byte](effBits / 8)
      perFile.getOrElse(e.fileName, Array.empty[Int]).foreach(p =>
        bytes(p >> 3) = (bytes(p >> 3) | (1 << (p & 7))).toByte)
      val others = e.stats.filterNot(_.col == s"#bloom:$physCol")
      e.copy(stats = others :+ FileStats(s"#bloom:$physCol",
        s"b$hashes", b64.encodeToString(bytes), ""))
    }
    val fs = fsOf(s, new Path(root))
    val commitId = java.util.UUID.randomUUID().toString.replace("-", "")
    val staging = new Path(new Path(root), s"_staging/$commitId")
    fs.mkdirs(staging) // empty: metadata-only commit
    publishStaged(s, root, commitId, staging,
      rewriteHeadLines(s, root, cur)(e =>
        Some(if (e.isDelete) e else withBloom(e))),
      cur, Seq.empty,
      Map("bloom.col" -> colName),
      storedSchema(s, root, cur).getOrElse(df.schema))
  }

  /** Build (or refresh) the per-file NDV stats group over `colName`:
    * the engine's own 64-register HLL ([[graft.functions.HllRegsAgg]],
    * 64 bytes/column/file) computed in ONE read-only scan grouped by
    * `_metadata.file_name` and committed metadata-only as a
    * `#ndv:<physical col>` pseudo-stats tuple — the fourth stats group
    * after min/max, null counts, and blooms. Registers are slot-wise
    * mergeable, so [[ndvOf]] folds them on the driver into a
    * table-level distinct-count estimate with ZERO data reads — the
    * column statistic join-size estimation (CBO broadcast decisions)
    * wants and a plain scan can never afford at 100 TB. Hash domain =
    * the value's canonical string through [[graft.ops.Sketches.h48]],
    * identical to the `sketch_hll` query path, so estimates
    * hash-check against it. The group is MAINTAINED from here on: the
    * column joins the carried `stats.ndv.cols` prop and every later
    * commit computes registers for its OWN new files (O(delta) —
    * [[publishStaged]]), so appends/merges/compactions keep the
    * estimate defined without rebuilds; a file that nonetheless lacks
    * the tuple (a commit that explicitly disabled the group) makes
    * [[ndvOf]] return None rather than a silently-partial estimate.
    * Returns the new snapshot id.
    */
  def buildNdvIndex(s: SparkSession, root: String, colName: String,
      registers: Int = graft.ops.Sketches.HllBuckets): Long = {
    import org.apache.spark.sql.functions.col
    require(registers >= 16 && registers <= 65536 &&
      Integer.bitCount(registers) == 1,
      s"buildNdvIndex: registers must be a power of two in [16, 65536]," +
        s" got $registers")
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"NDV index on empty table $root: commit first")
    val es = entries(s, root, cur)
    val physCol = physMapOf(s, root, cur).getOrElse(colName, colName)
    val data = es.filterNot(_.isDelete)
    val df = readData(s, root, data.map(_.path),
      storedSchema(s, root, cur), physMapOf(s, root, cur))
    require(df.columns.contains(colName),
      s"buildNdvIndex: no column '$colName' in $root")
    // ONE register width per table group (the `stats.ndv.m` prop —
    // maintenance stamps every column at that width): changing it means
    // rebuilding every indexed column, so with other columns standing a
    // different width refuses rather than silently mixing geometries
    val already = (if (cur == 0L) "" else snapshotProps(s, root, cur)
      .getOrElse("stats.ndv.cols", ""))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val carriedM = snapshotProps(s, root, cur)
      .getOrElse("stats.ndv.m", graft.ops.Sketches.HllBuckets.toString)
      .toInt
    require(registers == carriedM || already.forall(_ == physCol),
      s"buildNdvIndex: the NDV group of $root is at $carriedM registers" +
        s" over [${already.mkString(",")}] — rebuild the other columns " +
        s"at $registers too (or this one at $carriedM)")
    val perFile: Map[String, Array[Int]] = df
      .select(col("_metadata.file_name").as("f"),
        graft.ops.Sketches.h48(col(colName).cast("string")).as("h"))
      .groupBy("f")
      .agg(graft.functions.HllRegsAgg.hll_regs(col("h"), registers)
        .as("reg"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[Int](1).toArray).toMap // O(files x m B) driver memory
    val b64 = java.util.Base64.getEncoder
    def withNdv(e: FileEntry): FileEntry = {
      val regs = perFile.getOrElse(e.fileName,
        new Array[Int](registers)) // all-null file:
      // zero registers, estimating 0 distinct — exactly right
      val others = e.stats.filterNot(_.col == s"#ndv:$physCol")
      e.copy(stats = others :+ FileStats(s"#ndv:$physCol", "h",
        b64.encodeToString(regs.map(_.toByte)), ""))
    }
    val fs = fsOf(s, new Path(root))
    val commitId = java.util.UUID.randomUUID().toString.replace("-", "")
    val staging = new Path(new Path(root), s"_staging/$commitId")
    fs.mkdirs(staging) // empty: metadata-only commit
    // record the column (PHYSICAL name) in the carried `stats.ndv.cols`
    // prop: every later commit then computes registers for ITS new
    // files ([[publishStaged]]), keeping [[ndvOf]] defined across
    // appends/merges/compactions without rebuilds — a MAINTAINED
    // stats group, not a one-shot index
    publishStaged(s, root, commitId, staging,
      rewriteHeadLines(s, root, cur)(e =>
        Some(if (e.isDelete) e else withNdv(e))),
      cur, Seq.empty,
      Map("ndv.col" -> colName,
        "stats.ndv.m" -> registers.toString,
        "stats.ndv.cols" -> (already :+ physCol).distinct.mkString(",")),
      storedSchema(s, root, cur).getOrElse(df.schema))
  }

  /** Snapshot `id`'s table-level NDV estimate for `colName` from the
    * manifest ALONE: slot-wise max over every data file's registers
    * ([[buildNdvIndex]]), finalized with the engine's exact integer
    * HLL arithmetic. None — honestly — when any data file lacks the
    * registers (a commit that explicitly disabled the maintained
    * group; otherwise every post-build commit stamps its own files)
    * or when an equality delete is carried (live
    * distinctness is undefined until [[rewriteDeletes]] folds, the
    * same boundary as [[rowCount]]). Delete VECTORS are allowed: the
    * estimate is then an upper bound over the physical rows, the
    * useful direction for join planning.
    */
  def ndvOf(s: SparkSession, root: String, id: Long,
      colName: String): Option[Long] = {
    val es = entries(s, root, id)
    if (es.exists(_.isEqDelete)) return None
    val physCol = physMapOf(s, root, id).getOrElse(colName, colName)
    val data = es.filterNot(_.isDelete)
    val regs = data.map(_.ndvRegsFor(physCol))
    if (data.isEmpty || regs.exists(_.isEmpty)) None
    else {
      // a width MIX (files stamped before and after a register-width
      // migration) folds every wider array DOWN to the group's
      // narrowest width — exact under the top-bits bucket geometry
      // ([[graft.ops.Sketches.downfoldRegs]]), so the estimate stays
      // live through the migration at the narrow width's error band
      // instead of withdrawing until a full rebuild. Non-nesting
      // widths (not powers of two — external corruption, the build
      // refuses them) still withdraw rather than mis-merge.
      val flat = regs.flatten
      val widths = flat.map(_.length).distinct
      val target = widths.min
      if (widths.exists(w => Integer.bitCount(w) != 1) || target < 16)
        None
      else Some(graft.ops.Sketches.estimateFromRegs(
        flat.map(r => graft.ops.Sketches.downfoldRegs(r, target))
          .reduce(graft.ops.Sketches.mergeRegs)))
    }
  }

  /** Stage an append as a WRITE-AUDIT-PUBLISH snapshot: the files are
    * written and the manifest is fully formed (carried base entries,
    * stats index, row counts, evolved schema) but published under the
    * caller's `wapId` instead of the next version number — INVISIBLE
    * to [[currentSnapshot]], readers, time travel, streams, and the
    * change feed until [[publishWap]] fast-forwards it onto the head.
    * The audit step reads the staged state with [[readWap]] (exactly
    * what the table WOULD become), runs its quality gates, then either
    * publishes (an O(metadata) manifest move — the data files are
    * already in place, nothing is rewritten) or [[dropWap]]s the stage
    * (the base table was never touched). A taken wapId refuses rather
    * than replacing an audit's subject under it. Returns the BASE
    * snapshot id the stage was built against.
    *
    * At 100 TB this is how ingest earns trust: the expensive write
    * happens once, off the serving path; the gate reads the candidate
    * state; publish is one rename. The same pattern as Iceberg's
    * `spark.wap.id` staged commits. Single-writer contract per wapId;
    * concurrent MAIN commits are allowed while a stage is open —
    * publish then refuses with the divergence error instead of
    * silently dropping the interleaved commit's rows.
    */
  def commitWap(df: DataFrame, root: String, wapId: String,
      statsCol: Option[String] = None,
      props: Map[String, String] = Map.empty): Long = {
    val s = df.sparkSession
    val prev = currentSnapshot(s, root)
    require(prev >= 1L,
      s"wap staging needs an existing table at $root (commit v1 first)")
    commitWithCarried(df, root, headEntryLines(s, root, prev), prev,
      statsCol,
      props ++ Map("wap.id" -> wapId, "wap.base" -> prev.toString),
      storedSchema(s, root, prev), partitionColsOf(s, root, prev),
      wapId = Some(wapId))
  }

  /** Read staged snapshot `wapId` — the exact table state a
    * [[publishWap]] would make current: base files plus the staged
    * commit's, under the staged (evolved) schema, delete vectors
    * applied. The audit gate's input.
    */
  def readWap(s: SparkSession, root: String, wapId: String): DataFrame = {
    val es = wapEntries(s, root, wapId)
    require(es.nonEmpty, s"staged snapshot '$wapId' of $root lists no files")
    val schema = wapProps(s, root, wapId).get("schema")
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
    require(!es.exists(_.isEqDelete),
      s"readWap: staged snapshot '$wapId' of $root carries equality " +
        "deletes — equality-delete commits do not stage through WAP")
    val (dvs, data) = es.partition(_.isDelete)
    applyDeleteVectors(s, root, readData(s, root, data.map(_.path), schema,
      parsePhysMap(wapProps(s, root, wapId).get("col.phys"))), dvs)
  }

  /** Whether a staged snapshot named `wapId` currently exists. */
  def wapExists(s: SparkSession, root: String, wapId: String): Boolean =
    fsOf(s, new Path(root)).exists(wapPath(root, wapId))

  /** The base snapshot id staged snapshot `wapId` was built against. */
  def wapBase(s: SparkSession, root: String, wapId: String): Long =
    wapProps(s, root, wapId).getOrElse("wap.base",
      throw new IllegalStateException(
        s"staged snapshot '$wapId' of $root carries no wap.base")).toLong

  /** FAST-FORWARD publish of staged snapshot `wapId`: its manifest
    * content becomes snapshot `base + 1` through the same atomic
    * claim+rename protocol as any commit, and the wap manifest is
    * removed. O(metadata) — no data file is read, written, or moved;
    * the rows were in place since [[commitWap]]. REFUSES when the
    * table advanced past the stage's base (the audit validated a state
    * that would now silently drop the interleaved commits' rows —
    * re-stage against the new head and re-audit; same contract as a
    * failed Iceberg fast-forward). The published manifest keeps
    * `wap.id` as provenance and drops `wap.base`. Returns the new
    * snapshot id.
    */
  def publishWap(s: SparkSession, root: String, wapId: String): Long = {
    val fs = fsOf(s, new Path(root))
    val lines = wapLines(s, root, wapId)
    val base = wapBase(s, root, wapId)
    def refuse(cur: Long, extra: String): Nothing =
      throw new IllegalStateException(
        s"wap publish of '$wapId' on $root: staged against v$base but " +
          s"the table is at v$cur$extra — the audit no longer describes " +
          "what publish would create; drop the stage and re-stage " +
          "against the current head")
    val maxRetries = s.conf.get("graft.snapshot.commit.retries", "3").toInt
    var attempt = 0
    while (true) {
      val cur = currentSnapshot(s, root)
      val (pubLines, newId) =
        if (cur == base)
          (lines.filterNot(_.startsWith(s"#prop ${enc("wap.base")}=")),
            base + 1)
        else {
          // OPTIMISTIC FAST-FORWARD REBASE: the stage's files are
          // immutable and its audit examined base + delta; when every
          // interleaved commit since the base was purely ADDITIVE and
          // shape-preserving ([[rebaseCheck]] — the same soundness
          // test as the append retry loop), the audited delta still
          // means exactly what it meant, so re-derive the manifest
          // against the new head (head entry lines + the stage's own
          // entries, re-sequenced to the landing id) instead of
          // forcing a full re-stage. Any overwrite / merge /
          // compaction / shape / constraint interleaving keeps the
          // strict refusal — the audit's subject no longer exists.
          if (!s.conf.get("graft.snapshot.wap.rebase", "true").toBoolean)
            refuse(cur, "")
          rebaseCheck(s, root, base, cur).foreach(why =>
            refuse(cur, s" (auto-rebase refused: $why)"))
          val newId0 = cur + 1
          val baseExp = entryLines(s, root, base).toSet
          val delta = expandEntrySection(fs, root, entrySectionOf(lines))
            .filterNot(baseExp)
            .map(l => parseEntry(l).copy(seq = newId0).render)
          // props: the head's CARRIED classes only (stream floors etc.
          // advanced by the interleaves survive; the head's one-shot
          // provenance — delete.eq, cdf.dir, maintenance — must NOT
          // leak into this commit, or the change feed would classify
          // the rebased publish as the interleave's shape and
          // double-count its rows) + the head's schema (shape-equal to
          // the base's by rebaseCheck) + whatever the stage CHANGED vs
          // its base (evolved schema, stage-time props), MINUS any
          // carried key the stage deliberately removed (an NDV disable
          // staged through WAP must not resurrect from the head);
          // wap.id is forced — crash convergence keys on the published
          // provenance — and wap.base dropped like any publish
          val baseProps = snapshotProps(s, root, base)
          val headProps = snapshotProps(s, root, cur)
          val stageProps = lines.iterator.filter(_.startsWith("#prop "))
            .map(_.stripPrefix("#prop ").split("=", 2))
            .collect { case Array(k, v) => dec(k) -> dec(v) }.toMap
          val deltaProps = stageProps.filter { case (k, v) =>
            !baseProps.get(k).contains(v) }
          val removedKeys = carriedClassProps(baseProps).keySet
            .diff(stageProps.keySet)
          val allProps = (carriedClassProps(headProps) ++
            headProps.get("schema").map("schema" -> _)) -- removedKeys ++
            deltaProps - "wap.base" + ("wap.id" -> wapId)
          val propLines = allProps.toSeq.sortBy(_._1)
            .map { case (k, v) => s"#prop ${enc(k)}=${enc(v)}" }
          (propLines ++ headEntryLines(s, root, cur) ++ delta, newId0)
        }
      val tmp = new Path(manifestDir(root),
        s".tmp-wappub-${java.util.UUID.randomUUID().toString.replace("-", "")}")
      val out = fs.create(tmp, false)
      try out.write(pubLines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
      try {
        publishManifest(s, fs, root, newId, tmp)
        fs.delete(wapPath(root, wapId), false)
        return newId
      } catch {
        case _: SnapshotCommitConflict if attempt < maxRetries =>
          attempt += 1 // loop re-reads the head and re-derives
          awaitHeadAdvance(s, root, cur, attempt)
          ()
      }
    }
    sys.error("unreachable")
  }

  /** Drop staged snapshot `wapId`: delete its manifest and the data
    * files it ADDED over its base (the carried base files are live and
    * untouched). The failed-audit exit — the table never saw the
    * stage. Returns the deleted data-file count.
    */
  def dropWap(s: SparkSession, root: String, wapId: String): Int = {
    val fs = fsOf(s, new Path(root))
    val staged = wapEntries(s, root, wapId).map(_.path).toSet
    val base = wapBase(s, root, wapId)
    val baseFiles = fileList(s, root, base).toSet
    var n = 0
    (staged -- baseFiles).foreach { rel =>
      if (fs.delete(new Path(root, rel), false)) n += 1
    }
    fs.delete(wapPath(root, wapId), false)
    n
  }

  /** Read snapshot `id` — O(1) metadata: one manifest, exactly its
    * files, under the snapshot's RECORDED schema (so a file written
    * before a column existed reads it as NULL, deterministically, and
    * time travel sees each version's own schema — no footer sampling,
    * no mergeSchema scan of every file).
    */
  def readAt(s: SparkSession, root: String, id: Long): DataFrame = {
    val es = entries(s, root, id)
    require(es.nonEmpty, s"snapshot v$id of $root lists no files")
    val (dels, data) = es.partition(_.isDelete)
    val (eqs, dvs) = dels.partition(_.isEqDelete)
    val base = readData(s, root, data.map(_.path),
      storedSchema(s, root, id), physMapOf(s, root, id))
    applyEqDeletes(s, root,
      applyDeleteVectors(s, root, base, dvs), eqs, data,
      physMapOf(s, root, id))
  }

  /** Read data files under `schema`'s LOGICAL names. With an active
    * column mapping the parquet scan requests the PHYSICAL names (what
    * every file carries, whatever its write epoch) and one
    * position-preserving projection renames them back — by-name parquet
    * resolution still null-fills columns a file predates, exactly as
    * before. `physMap` empty (no rename ever) is the untouched fast
    * path: no extra Project node, plan shapes unchanged.
    */
  private def readData(s: SparkSession, root: String,
      rels: Seq[String], schema: Option[StructType],
      physMap: Map[String, String] = Map.empty): DataFrame = {
    val paths = rels.map(f => s"$root/$f")
    schema match {
      case Some(sch) =>
        val raw = s.read.schema(physSchema(sch, physMap)).parquet(paths: _*)
        if (physMap.isEmpty || !sch.fieldNames.exists(physMap.contains)) raw
        else raw.toDF(sch.fieldNames: _*)
      case None => s.read.parquet(paths: _*)
    }
  }

  /** Subtract the snapshot's delete vectors from a data scan: each DV
    * file holds (file, pos) pairs naming dead rows, and the read
    * anti-joins them against the scan's own (`_metadata.file_name`,
    * `_metadata.row_index`) — Spark's constant-cost file-source
    * metadata columns, no row ids stored in the data. The DV side is
    * delta-sized by construction, so the anti-join is a broadcast:
    * at 100 TB the cost of merge-on-read is a hash probe per row,
    * never a shuffle of the table.
    */
  /** Is a forced broadcast of `rows` delete-state rows safe? Delete
    * debt is DELTA-sized by contract, so the broadcast hint is the
    * right default — but a high-churn CDC table that defers
    * [[rewriteDeletes]] accumulates unboundedly many vector/eq-delete
    * rows, and an unconditional `broadcast()` would force them into
    * driver + every executor's memory with no fallback. Past
    * `graft.snapshot.delete.broadcast.max.rows` (default 5M — ~tens
    * of MB of key state, the classic autoBroadcastJoinThreshold
    * ballpark) or when a pre-rc manifest entry leaves the size
    * unknown, the anti-joins run WITHOUT the hint: Spark plans a
    * shuffle join whose memory profile is flat in the debt (AQE may
    * still choose broadcast if the actual bytes are small). The sizes
    * come from the manifest's own `rc=` arithmetic — no data read.
    */
  private def deleteBroadcastOk(s: SparkSession,
      rows: Option[Long]): Boolean =
    rows.exists(_ <= s.conf.get(
      "graft.snapshot.delete.broadcast.max.rows", "5000000").toLong)

  private def applyDeleteVectors(s: SparkSession, root: String,
      base: DataFrame, dvs: Seq[FileEntry]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    if (dvs.isEmpty) return base
    val dv = s.read.parquet(dvs.map(e => s"$root/${e.path}"): _*)
    val dvRows: Option[Long] =
      if (dvs.forall(_.rows.isDefined)) Some(dvs.flatMap(_.rows).sum)
      else None
    val dvSide = if (deleteBroadcastOk(s, dvRows)) broadcast(dv) else dv
    val keep = base.columns.toSeq
    val tagged = base.select(col("*"),
      col("_metadata.file_name").as("__dv_file"),
      col("_metadata.row_index").as("__dv_pos"))
    tagged.join(dvSide,
        tagged("__dv_file") === dvSide("file") &&
          tagged("__dv_pos") === dvSide("pos"),
        "left_anti")
      .select(keep.map(col): _*)
  }

  /** Subtract the snapshot's EQUALITY deletes from a data scan: each
    * `deletes/eq-*` file holds key values stamped with the commit's
    * sequence, and a data row dies iff some delete carries its key AND
    * a sequence STRICTLY ABOVE the row's file's ([[FileEntry.seq]]) —
    * so an upsert's own appended rows survive its delete half, and
    * later appends are never touched by earlier deletes. The plan is
    * two broadcast probes over the scan — a (file → seq) map join on
    * `_metadata.file_name` (O(files), metadata-sized) and the
    * delta-sized key anti-join — never a shuffle of the table while
    * debt stays under the [[deleteBroadcastOk]] guardrail (past it,
    * the key anti-join drops the hint and shuffles instead of
    * overflowing executor memory). Key files store PHYSICAL column
    * names (stable across renames); the snapshot's own mapping
    * renames them back here.
    */
  private def applyEqDeletes(s: SparkSession, root: String,
      base: DataFrame, eqs: Seq[FileEntry], dataEntries: Seq[FileEntry],
      physMap: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    if (eqs.isEmpty) return base
    val logicalOf = physMap.map(_.swap)
    // deletes keyed by DIFFERENT column sets cannot share one
    // anti-join: group by key set (almost always a single group — a
    // table's CDC key is stable), one delta-sized broadcast anti-join
    // per distinct set — broadcast GUARDED by the manifest's rc=
    // arithmetic ([[deleteBroadcastOk]]): accumulated debt past the
    // threshold anti-joins without the hint instead of forcing an
    // unbounded key frame into every executor's memory
    val frames = eqs.map { e =>
      val df = s.read.parquet(s"$root/${e.path}")
      (df.toDF(df.columns.map(c => logicalOf.getOrElse(c, c)): _*)
        .withColumn("__eq_sq", lit(e.seq)), e.rows)
    }
    val groups = frames.groupBy(_._1.columns.filterNot(_ == "__eq_sq")
      .sorted.toSeq).values.map { g =>
        val df = g.map(_._1).reduce(_.unionByName(_))
        val rows =
          if (g.forall(_._2.isDefined)) Some(g.flatMap(_._2).sum)
          else None
        (df, rows)
      }.toSeq
    import s.implicits._
    // the (file -> seq) map is O(files) METADATA, never debt: always
    // broadcast
    val fileSeq = broadcast(dataEntries.map(e => (e.fileName, e.seq))
      .toDF("__sq_file", "__sq"))
    val keep = base.columns.toSeq
    val tagged = base
      .select(col("*"), col("_metadata.file_name").as("__eq_file"))
      .join(fileSeq, col("__eq_file") === col("__sq_file"), "left")
    groups.foldLeft(tagged) { case (acc, (dels, rows)) =>
      val keyCols = dels.columns.filterNot(_ == "__eq_sq").toSeq
      val cond = keyCols.map(k => acc(k) <=> dels(k)).reduce(_ && _) &&
        coalesce(acc("__sq"), lit(0L)) < dels("__eq_sq")
      val delSide = if (deleteBroadcastOk(s, rows)) broadcast(dels) else dels
      acc.join(delSide, cond, "left_anti")
    }.select(keep.map(col): _*)
  }

  /** Read the current snapshot, PINNED at call time: later commits do
    * not change what this frame sees, even if it is evaluated after
    * them — the isolation property the manifest layer exists for.
    */
  def read(s: SparkSession, root: String): DataFrame =
    readAt(s, root, currentSnapshot(s, root))

  /** Merged min/max of each of `colNames` across a parquet file's row
    * groups plus the file's row count, from the FOOTER only (no data
    * pages). Stats are tagged by compare domain: i = integer
    * (INT32/INT64), d = double (FLOAT/DOUBLE), s = UTF-8 string
    * (BINARY, min/max merged in unsigned byte order to match parquet's
    * own comparator). A column is skipped when absent or when the
    * footer carries no usable statistics — the file is then simply
    * never pruned on that column.
    */
  private def footerInfo(s: SparkSession, p: Path,
      colNames: Seq[String]): (Seq[FileStats], Long) = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.column.statistics._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(p, s.sparkContext.hadoopConfiguration)
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = rdr.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val stats = colNames.flatMap { c =>
        val all = (for {
          b <- blocks
          col <- b.getColumns.asScala if col.getPath.toDotString == c
        } yield col.getStatistics).toSeq
        // null count: summed over EVERY chunk (an all-null chunk has
        // no min/max but does count); unknown unless every chunk set it
        val nulls: Option[Long] =
          if (all.nonEmpty && all.forall(st =>
              st != null && !st.isEmpty && st.isNumNullsSet))
            Some(all.map(_.getNumNulls).sum)
          else None
        val tagOf: String => String =
          letter => letter + nulls.map(_.toString).getOrElse("")
        val sts = all.filter(st =>
          st != null && !st.isEmpty && st.hasNonNullValue)
        if (sts.isEmpty) None
        else sts.head match {
          case _: LongStatistics => Some(FileStats(c, tagOf("i"),
            sts.map(_.asInstanceOf[LongStatistics].getMin).min.toString,
            sts.map(_.asInstanceOf[LongStatistics].getMax).max.toString))
          case _: IntStatistics => Some(FileStats(c, tagOf("i"),
            sts.map(_.asInstanceOf[IntStatistics].getMin.toLong).min.toString,
            sts.map(_.asInstanceOf[IntStatistics].getMax.toLong).max.toString))
          case _: DoubleStatistics => Some(FileStats(c, tagOf("d"),
            sts.map(_.asInstanceOf[DoubleStatistics].getMin).min.toString,
            sts.map(_.asInstanceOf[DoubleStatistics].getMax).max.toString))
          case _: FloatStatistics => Some(FileStats(c, tagOf("d"),
            sts.map(_.asInstanceOf[FloatStatistics].getMin.toDouble).min.toString,
            sts.map(_.asInstanceOf[FloatStatistics].getMax.toDouble).max.toString))
          case _: BinaryStatistics => Some(FileStats(c, tagOf("s"),
            sts.map(_.asInstanceOf[BinaryStatistics]
              .genericGetMin.toStringUsingUTF8).min(Utf8Ord),
            sts.map(_.asInstanceOf[BinaryStatistics]
              .genericGetMax.toStringUsingUTF8).max(Utf8Ord)))
          case _ => None
        }
      }
      (stats, rows)
    } finally rdr.close()
  }

  /** Render an EXTERNAL Row value of Spark type `dt` into the manifest
    * stats compare domain it belongs to: (domain letter, rendering).
    * Integral types compare as longs; date/timestamp keys live in the
    * "i" domain their parquet INT32/INT64 stats are recorded in (days
    * since epoch / micros); float widens to double exactly like the
    * footer's FloatStatistics recording; None for any type (decimal,
    * boolean, binary, nested) the stats proofs have no sound rendering
    * for — the caller must then treat the bound as unprovable.
    */
  private[sources] def statDomainBound(dt: DataType,
      v: Any): Option[(String, String)] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(("i", v.asInstanceOf[Number].longValue.toString))
    case org.apache.spark.sql.types.DateType => v match {
      case d: java.sql.Date => Some(("i", d.toLocalDate.toEpochDay.toString))
      case ld: java.time.LocalDate => Some(("i", ld.toEpochDay.toString))
      case _ => None
    }
    case org.apache.spark.sql.types.TimestampType => v match {
      case t: java.sql.Timestamp => Some(("i",
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .fromJavaTimestamp(t).toString))
      case i: java.time.Instant => Some(("i",
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .instantToMicros(i).toString))
      case _ => None
    }
    case FloatType | DoubleType =>
      Some(("d", v.asInstanceOf[Number].doubleValue.toString))
    case org.apache.spark.sql.types.StringType =>
      Some(("s", v.toString))
    case _ => None
  }

  private def rangesOverlap(tag: String, mn: String, mx: String,
      lo: String, hi: String): Boolean = tag.take(1) match {
    case "i" => !(mx.toLong < lo.toLong || mn.toLong > hi.toLong)
    case "d" => !(mx.toDouble < lo.toDouble || mn.toDouble > hi.toDouble)
    case _   => !(utf8Cmp(mx, lo) < 0 || utf8Cmp(mn, hi) > 0)
  }

  /** Does Catalyst filter `f` PROVE entry `e` holds no matching row?
    * The evaluator behind the DSv2 transparent file skipping
    * ([[SnapshotScanBuilder]]): sound, never complete — `true` only
    * when the file's commit-time stats and the literal land in the
    * same compare domain (integer / double / unsigned-UTF-8 string —
    * date/timestamp literals are their internal int/long encodings, so
    * they compare in the "i" domain stats already live in) and the
    * proof is airtight; anything unrecognized (casts, UDFs, null
    * probes — min/max say nothing about nulls) keeps the file.
    * `And`/`Or` recurse with the exclusion algebra (And: either side
    * proves; Or: both sides must prove); null-semantics note: a
    * comparison is never true on a null cell, so stats over the
    * non-null population are exactly the right evidence.
    */
  private[sources] def filterExcludes(e: FileEntry,
      f: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.unsafe.types.UTF8String
    // sign of (stat - v) in the stats column's domain; None = no proof
    def cmp(tag: String, stat: String, v: Any): Option[Int] = (tag.take(1), v) match {
      case ("i", n @ (_: java.lang.Byte | _: java.lang.Short |
          _: java.lang.Integer | _: java.lang.Long)) =>
        Some(java.lang.Long.compare(stat.toLong,
          n.asInstanceOf[Number].longValue))
      case ("d", n: Number) =>
        Some(java.lang.Double.compare(stat.toDouble, n.doubleValue))
      case ("s", u: UTF8String) => Some(utf8Cmp(stat, u.toString))
      case _ => None
    }
    // (sign(min - v), sign(max - v)) when provable on this entry
    def bounds(colName: String, v: Any): Option[(Int, Int)] =
      if (v == null) None
      else e.statsFor(colName).flatMap { st =>
        for (a <- cmp(st.tag, st.mn, v); b <- cmp(st.tag, st.mx, v))
          yield (a, b)
      }
    def outside(c: String, v: Any): Boolean =     // v < min || v > max
      bounds(c, v).exists { case (mnC, mxC) => mnC > 0 || mxC < 0 }
    // membership refutation beyond the band ([[buildBloomIndex]]);
    // attribute names arrive already-physical here (callers translate)
    def bloomNone(c: String, v: Any): Boolean =
      v != null && e.bloomFor(c).exists { case (bytes, k) =>
        !bloomMightContain(bytes, k, v.toString)
      }
    def maxLe(c: String, v: Any): Boolean =       // max <= v: col>v empty
      bounds(c, v).exists(_._2 <= 0)
    def maxLt(c: String, v: Any): Boolean =       // max < v: col>=v empty
      bounds(c, v).exists(_._2 < 0)
    def minGe(c: String, v: Any): Boolean =       // min >= v: col<v empty
      bounds(c, v).exists(_._1 >= 0)
    def minGt(c: String, v: Any): Boolean =       // min > v: col<=v empty
      bounds(c, v).exists(_._1 > 0)
    def excl(x: Expression): Boolean = x match {
      case EqualTo(a: AttributeReference, Literal(v, _)) =>
        outside(a.name, v) || bloomNone(a.name, v)
      case EqualTo(Literal(v, _), a: AttributeReference) =>
        outside(a.name, v) || bloomNone(a.name, v)
      case EqualNullSafe(a: AttributeReference, Literal(v, _)) if v != null =>
        outside(a.name, v) || bloomNone(a.name, v)
      case EqualNullSafe(Literal(v, _), a: AttributeReference) if v != null =>
        outside(a.name, v) || bloomNone(a.name, v)
      case GreaterThan(a: AttributeReference, Literal(v, _)) => maxLe(a.name, v)
      case GreaterThan(Literal(v, _), a: AttributeReference) => minGe(a.name, v)
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        maxLt(a.name, v)
      case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) =>
        minGt(a.name, v)
      case LessThan(a: AttributeReference, Literal(v, _)) => minGe(a.name, v)
      case LessThan(Literal(v, _), a: AttributeReference) => maxLe(a.name, v)
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        minGt(a.name, v)
      case LessThanOrEqual(Literal(v, _), a: AttributeReference) =>
        maxLt(a.name, v)
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.nonEmpty && vs.forall { l =>
          val v = l.asInstanceOf[Literal].value
          outside(a.name, v) || bloomNone(a.name, v)
        }
      case InSet(a: AttributeReference, hset) =>
        hset.nonEmpty &&
          hset.forall(v => outside(a.name, v) || bloomNone(a.name, v))
      case And(l, r) => excl(l) || excl(r)
      case Or(l, r) => excl(l) && excl(r)
      case _ => false
    }
    excl(f)
  }

  /** Snapshot N's files partitioned by the skipping index: (kept paths,
    * kept count, total count). A file is DROPPED only when it carries
    * `colName` stats proving no row can satisfy `colName ∈ [lo, hi]` —
    * sound (never drops a matching row), not complete (stat-less files
    * and overlapping ranges are kept), exactly the partition-pruning
    * contract. `lo`/`hi` must live in the stats column's domain
    * (integer / double / string per the commit-time tag).
    */
  def pruneFiles(s: SparkSession, root: String, id: Long, colName: String,
      lo: Any, hi: Any): (Seq[String], Int, Int) = {
    val es = entries(s, root, id).filterNot(_.isDelete)
    // stats live under PHYSICAL names — one domain whatever the epoch
    val physCol = physMapOf(s, root, id).getOrElse(colName, colName)
    val kept = es.filter { e =>
      e.statsFor(physCol) match {
        case Some(FileStats(_, tag, mn, mx)) =>
          rangesOverlap(tag, mn, mx, lo.toString, hi.toString)
        case None => true
      }
    }.map(_.path)
    (kept, kept.size, es.size)
  }

  /** `readAt(id).where(colName between lo and hi)` with MANIFEST-LEVEL
    * file skipping first: only files whose commit-time footer stats
    * overlap [lo, hi] are opened — at 100 TB a selective range over a
    * clustered commit key turns a full-table scan into a few files,
    * before Spark's own row-group pruning even starts. The residual
    * filter keeps the result exact whatever the index missed.
    */
  def readWhere(s: SparkSession, root: String, id: Long, colName: String,
      lo: Any, hi: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (kept, _, _) = pruneFiles(s, root, id, colName, lo, hi)
    val keptSet = kept.toSet
    val (dels, dataEs) = entries(s, root, id).partition(_.isDelete)
    val (eqs, dvs) = dels.partition(_.isEqDelete)
    val base =
      if (kept.isEmpty) readAt(s, root, id).limit(0)
      else applyEqDeletes(s, root,
        applyDeleteVectors(s, root,
          readData(s, root, kept, storedSchema(s, root, id),
            physMapOf(s, root, id)),
          dvs),
        eqs, dataEs.filter(e => keptSet(e.path)), physMapOf(s, root, id))
    base.where(col(colName).between(lit(lo), lit(hi)))
  }

  /** Rows ADDED between snapshots `fromId` (exclusive) and `toId`
    * (inclusive) — the incremental-consumption read: a downstream job
    * that processed up to snapshot N catches up by reading
    * `changesBetween(N, current)` instead of re-scanning the table.
    * File-level and O(metadata): added files = toId's list minus
    * fromId's, valid only across APPEND commits — an overwrite
    * (compaction / rewrite) in the range rewrites history, so the scan
    * REFUSES it loudly (per-step superset check) rather than returning
    * rewritten rows as if they were new; a MERGE in the range refuses
    * the same way, and [[changeFeed]] is the row-level read that
    * survives it. `fromId = 0` reads everything up to `toId`.
    */
  /** The root-relative files ADDED over `(fromId, toId]`, verifying
    * every step is an APPEND (throws across overwrites/compactions —
    * the changesBetween contract shared by the batch incremental read
    * and both streaming tails).
    */
  private[sources] def addedFilesBetween(s: SparkSession, root: String,
      fromId: Long, toId: Long): Seq[String] = {
    val base: Set[String] =
      if (fromId == 0L) Set.empty else fileList(s, root, fromId).toSet
    var prev = base
    ((fromId + 1) to toId).foreach { id =>
      val cur = fileList(s, root, id).toSet
      if (!prev.subsetOf(cur))
        throw new IllegalStateException(
          s"changesBetween($fromId, $toId) crosses non-append snapshot " +
            s"v$id of $root: an overwrite/compaction rewrote the file set, " +
            "so file-level incremental reads are invalid across it; " +
            "use changeFeed (row-level, merge-aware) or re-baseline the " +
            "consumer from a full snapshot read instead")
      prev = cur
    }
    val added = fileList(s, root, toId).filterNot(base)
    // a merge-on-read delete ADDS a vector file while keeping every
    // data file — it passes the superset check but changes row
    // visibility, and serving the vector parquet as data rows would be
    // nonsense; refuse like any other non-append
    if (added.exists(_.startsWith("deletes/")))
      throw new IllegalStateException(
        s"changesBetween($fromId, $toId) crosses a merge-on-read DELETE " +
          s"of $root: row visibility changed without an append; " +
          "re-baseline the consumer from a full snapshot read (or fold " +
          "vectors with rewriteDeletes before tailing)")
    added
  }

  def changesBetween(s: SparkSession, root: String, fromId: Long,
      toId: Long): DataFrame = {
    require(0 <= fromId && fromId < toId,
      s"changesBetween needs 0 <= fromId < toId, got ($fromId, $toId]")
    val added = addedFilesBetween(s, root, fromId, toId)
    if (added.isEmpty) readAt(s, root, toId).limit(0)
    else readData(s, root, added, storedSchema(s, root, toId),
      physMapOf(s, root, toId))
  }

  /** Copy-on-write MERGE (upsert) by `keyCol`: rows of `updates` whose
    * key exists in the table REPLACE the stored row; new keys are
    * inserted. Only files that can contain an updated key are
    * rewritten — decided from the MANIFEST's stats fields alone (a file
    * is touched iff some update key falls in its [min, max]; stat-less
    * files are conservatively rewritten) — every other file is carried
    * into the new manifest VERBATIM, stats included. The rewrite is
    * `touched-files anti-join update-keys` plus the updates themselves;
    * old snapshots still see the pre-merge files (time travel is
    * unaffected; vacuum reclaims them later), and the commit pins
    * `expectedBase` so a racing writer fails loudly.
    *
    * Returns (new snapshot id, files rewritten, files carried).
    *
    * Contract: `updates`' DISTINCT keys are collected to the driver to
    * drive the per-file pruning — the updates batch is the SMALL side
    * of a merge (the delta), which is what makes copy-on-write merge
    * cheap at 100 TB: IO = touched files + delta, never the table.
    * [[mergeLarge]] is the same merge with the pruning done as a
    * range JOIN against the manifest stats (no driver key collect) for
    * deltas whose distinct keys don't fit driver memory. Because a
    * merge rewrites history, [[changesBetween]] ranges that cross it
    * refuse, by design; the row-level [[changeFeed]] survives it.
    */
  def merge(updates0: DataFrame, root: String, keyCol: String,
      extraProps: Map[String, String] = Map.empty): (Long, Int, Int) = {
    val s = updates0.sparkSession
    // cache HERE so the key-probe collect below, the change-frame
    // write, and the commit write all share one execution of the
    // caller's delta plan (mergeCore sees the frame already pinned and
    // leaves it to this finally). Track whether THIS call created the
    // cache: unpersisting in the finally otherwise evicts a
    // caller-owned cache entry when the caller pre-cached the frame
    // (ADVICE r15)
    val didCache =
      updates0.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val updates = if (didCache) updates0.cache() else updates0
    try {
    val keys: Array[Any] = updates.select(keyCol).distinct()
      .collect().map(_.get(0))
    require(keys.nonEmpty, "merge with an empty updates batch")
    // typed sorted key array for the per-file containment probe
    def anyKeyIn(st: FileStats): Boolean = st.domain match {
      case "i" =>
        val sorted = keys.map(_.asInstanceOf[Number].longValue).sorted
        val lo = st.mn.toLong; val hi = st.mx.toLong
        val i = java.util.Arrays.binarySearch(sorted, lo)
        val at = if (i >= 0) i else -i - 1
        at < sorted.length && sorted(at) <= hi
      case "d" =>
        val sorted = keys.map(_.asInstanceOf[Number].doubleValue).sorted
        val lo = st.mn.toDouble; val hi = st.mx.toDouble
        val i = java.util.Arrays.binarySearch(sorted, lo)
        val at = if (i >= 0) i else -i - 1
        at < sorted.length && sorted(at) <= hi
      case _ =>
        // unsigned UTF-8 order end-to-end: the sort, the insertion
        // search, and the upper-bound check all in the stats' domain
        val sorted = keys.map(_.toString).sorted(Utf8Ord)
        var lo = 0; var hi = sorted.length
        while (lo < hi) { // lower_bound of st.mn under Utf8Ord
          val mid = (lo + hi) >>> 1
          if (utf8Cmp(sorted(mid), st.mn) < 0) lo = mid + 1 else hi = mid
        }
        lo < sorted.length && utf8Cmp(sorted(lo), st.mx) <= 0
    }
    val physKey = physMapOf(s, root, currentSnapshot(s, root))
      .getOrElse(keyCol, keyCol)
    mergeCore(updates, root, keyCol, es => es.partition { e =>
      e.statsFor(physKey) match {
        case Some(st) => anyKeyIn(st)
        case None => true // no usable stats → conservatively rewrite
      }
    }, cacheWorkingSet = true, extraProps)
    } finally if (didCache) updates.unpersist(blocking = false)
  }

  /** The shared merge core: `split` partitions the current entries into
    * (touched, carried); touched files are rewritten as
    * anti-join(updates' keys) ∪ updates, carried entries pass through
    * VERBATIM, and the whole thing commits with `expectedBase` pinned
    * to the merge's base snapshot so a racing writer fails loudly.
    */
  private def mergeCore(updates0: DataFrame, root: String, keyCol: String,
      split: Seq[FileEntry] => (Seq[FileEntry], Seq[FileEntry]),
      cacheWorkingSet: Boolean,
      extraProps: Map[String, String] = Map.empty): (Long, Int, Int) = {
    val s = updates0.sparkSession
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"merge into empty table $root: commit first")
    requireNoDv(s, root, cur, "merge") // the COW rewrite reads files
    // raw and would resurrect vector-deleted rows
    val (touched, carried) = split(entries(s, root, cur))
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val schema = storedSchema(s, root, cur)
    // r15: the delta and the touched-file read each feed BOTH eager
    // writes below (the change frame, then the commit's survivors ∪
    // updates) plus the key probes — uncached, every consumer re-ran
    // the caller's delta plan and re-read every touched file (~3 full
    // touched-set reads per merge). Pin both for the call, release in
    // the finally. Memory: executor-side MEMORY_AND_DISK, spills
    // gracefully — both frames are the COW working set this path
    // materializes into new files anyway. Measured 20–24% faster than
    // the uncached merge (r15). [[mergeLarge]] turns it off: its deltas
    // are the ones too big to pin.
    // Don't re-cache a frame the public merge() wrapper already pinned
    // (same entry — but Spark logs a WARN per redundant call), and only
    // unpersist in the finally when THIS call created the cache —
    // unpersisting unconditionally evicted a caller-owned entry when
    // the caller pre-cached the frame (ADVICE r15)
    val didCache = cacheWorkingSet && updates0.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE
    val updates = if (didCache) updates0.cache() else updates0
    val base: Option[DataFrame] =
      if (touched.isEmpty) None
      else {
        val b = readData(s, root, touched.map(_.path), schema,
          physMapOf(s, root, cur))
        Some(if (cacheWorkingSet) b.cache() else b)
      }
    try {
    val updKeys = updates.select(col(keyCol)).distinct()
    val survivors = base match {
      case None => updates.limit(0)
      case Some(b) => b.join(updKeys, Seq(keyCol), "left_anti")
    }
    // the CHANGE FEED: merge already materializes exactly the touched
    // rows, so emitting them is delta-priced — each update row tagged U
    // (its key existed in a touched file: a replacement) or I (a fresh
    // insert), plus each replaced key's OLD row tagged UB (the
    // pre-image — the semi-join of the touched files against the
    // delta's keys, also delta-sized), so aggregate consumers can
    // subtract what a replacement removed, not just add what it wrote.
    // Written to changes/<uuid> BEFORE the manifest publish and
    // referenced only by the new snapshot's cdf.dir prop, so a failed
    // commit leaves invisible garbage, never a dangling feed.
    // Row-level consumers fold this over their pre-merge state
    // ([[changeFeed]] / [[applyChanges]]) instead of re-baselining.
    val existedKeys = base match {
      case None => updKeys.limit(0)
      case Some(b) =>
        b.select(col(keyCol)).join(updKeys, Seq(keyCol), "left_semi")
          .distinct()
    }
    val preImages = base match {
      case None => updates.limit(0)
      case Some(b) => b.join(updKeys, Seq(keyCol), "left_semi")
    }
    val changes = updates
      .join(existedKeys.withColumn("_op", lit("U")), Seq(keyCol), "left")
      .withColumn("_op", coalesce(col("_op"), lit("I")))
      .unionByName(preImages.withColumn("_op", lit("UB")),
        allowMissingColumns = true)
    val cdfRel = s"changes/${java.util.UUID.randomUUID().toString.replace("-", "")}"
    changes.write.mode("overwrite").parquet(s"$root/$cdfRel")
    val carriedPaths = carried.map(_.path).toSet
    val id = commitWithCarried(survivors.unionByName(updates), root,
      carriedHeadLines(s, root, cur, carriedPaths), cur, Some(keyCol),
      Map("merge.key" -> keyCol, "cdf.dir" -> cdfRel) ++ extraProps,
      baseSchema = schema,
      partitionCols = partitionColsOf(s, root, cur))
    (id, touched.size, carried.size)
    } finally {
      if (didCache) updates.unpersist(blocking = false)
      if (cacheWorkingSet) base.foreach(_.unpersist(blocking = false))
    }
  }

  /** Row-level change feed over `(fromId, toId]` — the incremental read
    * that survives every row-changing commit the layer can make. Per
    * commit:
    *
    *  - an APPEND contributes its added files' rows as op `A`;
    *  - a MERGE contributes its recorded change frame — op `U`
    *    (replaced, post-image) / `I` (inserted), plus op `UB` (the
    *    replaced keys' PRE-images), all delta-priced at merge time;
    *  - a DELETE (copy-on-write or merge-on-read) contributes op `D`:
    *    the row-level frame its boundary scan recorded, plus the rows
    *    of its metadata-only dropped files — those are read LAZILY
    *    here, at the consumer's expense, so the delete itself stays
    *    metadata-only;
    *  - a vector fold ([[rewriteDeletes]]), an OPTIMIZE ZORDER
    *    compaction, and a bin-pack compaction ([[compactSmallFiles]])
    *    are logical NO-OPS (they rewrite layout, not rows) and
    *    contribute an empty step;
    *  - a SQL row-level rewrite (UPDATE / MERGE INTO / group DELETE —
    *    the `rowlevel.op` commits, which replace FILES wholesale) and
    *    a PARTITION REPLACE ([[commitReplace]], `replace.partitions`)
    *    contribute a FILE-DIFF step: the replaced files' rows as op
    *    `XB` (exchanged-before), the new files' rows as op `XA` —
    *    both read lazily here, priced at the rewrite's own touched
    *    set (runtime-pruned / partition-pruned, delta-shaped). The key
    *    algebra is exact: a row unchanged by the rewrite appears in
    *    both and cancels; `XB` without `XA` is a delete, `XA` without
    *    `XB` an insert;
    *  - a FULL OVERWRITE or ROLLBACK contributes the same file-diff
    *    step, priced at O(old + new) for that step — dropped files'
    *    rows (minus the prior snapshot's delete vectors) as `XB`, new
    *    files' rows (minus the new snapshot's vectors) as `XA` —
    *    exactly how Delta prices CDF for blind overwrites. The one
    *    residual refusal: a rollback that changes delete vectors on
    *    files it carries forward (row visibility changed with no file
    *    diff) — the consumer re-baselines.
    *
    * Output = table columns (unioned by name across schema evolution,
    * missing → NULL) + `_op` + `_commit`. Cost: O(metadata) planning
    * plus exactly the added/changed/dropped files — never the table.
    * Horizon: the frames and dropped files a feed reads live until
    * [[expireSnapshots]] sweeps their snapshots — a feed older than
    * the expire horizon fails on the missing manifest, like any
    * expired read.
    */
  def changeFeed(s: SparkSession, root: String, fromId: Long,
      toId: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(0 <= fromId && fromId < toId,
      s"changeFeed needs 0 <= fromId < toId, got ($fromId, $toId]")
    // a rename/drop inside the range would misalign the fold: recorded
    // change frames carry each commit's own LOGICAL names, and steps of
    // different naming epochs cannot union by name. Refuse — the
    // consumer re-baselines (the boundary Delta draws for CDF across
    // column-mapping changes). Appends/adds stay fine: epoch unchanged.
    require(evoEpochOf(s, root, fromId.max(1L)) == evoEpochOf(s, root, toId),
      s"changeFeed($fromId, $toId) crosses a column rename/drop of " +
        s"$root: recorded change frames carry their commit's own " +
        "column names; re-baseline the consumer from a full snapshot " +
        "read")
    def readFiles(rels: Seq[String], id: Long): DataFrame =
      readData(s, root, rels, storedSchema(s, root, id),
        physMapOf(s, root, id))
    var prev: Set[String] =
      if (fromId == 0L) Set.empty else fileList(s, root, fromId).toSet
    val steps = ((fromId + 1) to toId).map { id =>
      val cur = fileList(s, root, id).toSet
      val props = snapshotProps(s, root, id)
      def emptyStep = readAt(s, root, id).limit(0)
        .withColumn("_op", lit("A")).withColumn("_commit", lit(id))
      val isDelete =
        props.contains("delete.cond") || props.contains("delete.mor")
      val step =
        if (props.contains("rewrite.deletes") ||
            props.contains("compact.zorder") ||
            props.contains("compact.binpack")) emptyStep
        else if (props.contains("delete.eq")) {
          // an equality-delete / CDC-upsert commit ([[upsertEq]] /
          // [[deleteByKeysEq]]): the write never read pre-images — the
          // whole point — so the `D` rows carry ONLY the key columns
          // (others null via the union), which is exactly what the key
          // algebra consumes; the upsert's appended files follow as `I`
          val lom = physMapOf(s, root, id).map(_.swap)
          val raw = s.read.parquet(s"$root/${props("eq.file")}")
          val delKeys = raw.toDF(
            raw.columns.map(c => lom.getOrElse(c, c)): _*)
          val added = (cur -- prev).toSeq.sorted
            .filterNot(_.startsWith("deletes/"))
          val frames = Seq(delKeys.withColumn("_op", lit("D"))) ++
            (if (added.isEmpty) Seq.empty
             else Seq(readFiles(added, id).withColumn("_op", lit("I"))))
          frames.reduce(_.unionByName(_, allowMissingColumns = true))
            .withColumn("_commit", lit(id))
        } else if (props.contains("rowlevel.op") ||
            props.contains("replace.partitions")) {
          // file-diff step: replaced files XB, new files XA (vectors
          // cannot appear — row-level rewrites and partition replaces
          // refuse vectored tables)
          val removed = (prev -- cur).toSeq.sorted
            .filterNot(_.startsWith("deletes/"))
          val added = (cur -- prev).toSeq.sorted
            .filterNot(_.startsWith("deletes/"))
          val frames =
            (if (removed.isEmpty) Seq.empty
             else Seq(readFiles(removed, id)
               .withColumn("_op", lit("XB")))) ++
            (if (added.isEmpty) Seq.empty
             else Seq(readFiles(added, id).withColumn("_op", lit("XA"))))
          if (frames.isEmpty) emptyStep
          else frames.reduce(_.unionByName(_, allowMissingColumns = true))
            .withColumn("_commit", lit(id))
        } else if (isDelete) {
          val frames =
            props.get("cdf.dir").map { rel =>
              props.get("cdf.keys.col") match {
                case Some(keyCol) =>
                  // a keysIn delete ([[deleteByKeys]]) records its KEYS,
                  // not pre-image rows; the D rows are the removed
                  // (touched) files' rows matching them — identical to
                  // the eager frame the commit used to write, priced at
                  // the consumer like deleteWhere's dropped files
                  val keys = s.read.parquet(s"$root/$rel")
                  val removed = (prev -- cur).toSeq.sorted
                    .filterNot(_.startsWith("deletes/"))
                  (if (removed.isEmpty) readAt(s, root, id).limit(0)
                   else readFiles(removed, id)
                     .join(keys, Seq(keyCol), "left_semi"))
                    .withColumn("_op", lit("D"))
                case None =>
                  s.read.parquet(s"$root/$rel")
                    .drop("__dv_file", "__dv_pos")
              }
            }.toSeq ++
            props.get("cdf.del.files").map { names =>
              readFiles(names.split(",").filter(_.nonEmpty).toSeq, id)
                .withColumn("_op", lit("D"))
            }.toSeq
          if (frames.isEmpty) emptyStep
          else frames.reduce(_.unionByName(_, allowMissingColumns = true))
            .withColumn("_commit", lit(id))
        } else props.get("cdf.dir") match {
          case Some(rel) => // a merge: its recorded change frame
            s.read.parquet(s"$root/$rel").withColumn("_commit", lit(id))
          case None if prev.subsetOf(cur) => // an append: the added files
            val added = (cur -- prev).toSeq.sorted
            require(!added.exists(_.startsWith("deletes/")),
              s"changeFeed($fromId, $toId): snapshot v$id of $root adds " +
                "a delete vector outside a delete commit — unrecorded " +
                "row removal; re-baseline the consumer")
            val df =
              if (added.isEmpty) readAt(s, root, id).limit(0)
              else readFiles(added, id)
            df.withColumn("_op", lit("A")).withColumn("_commit", lit(id))
          case None =>
            // a FULL OVERWRITE or ROLLBACK: no recorded frame, but the
            // file diff is still row-exact — the dropped files' rows
            // (minus the PREVIOUS snapshot's delete vectors) are the
            // pre-images `XB`, the new files' rows (minus the CURRENT
            // snapshot's vectors) the post-images `XA`; a row carried
            // through unchanged appears in both and cancels in the key
            // algebra. This is exactly how Delta prices CDF for blind
            // overwrites: O(old + new table) for THIS step — loud in
            // the plan, never silent. Pre-images read under the
            // PREVIOUS snapshot's own schema (an overwrite may restate
            // the schema arbitrarily); unionByName null-fills across.
            // One residual boundary: a rollback that changes delete
            // vectors on files surviving into the new snapshot changes
            // row VISIBILITY without a file diff — refused, the
            // consumer re-baselines.
            val removedData = (prev -- cur).toSeq.sorted
              .filterNot(_.startsWith("deletes/"))
            val addedData = (cur -- prev).toSeq.sorted
              .filterNot(_.startsWith("deletes/"))
            val commonData = (prev intersect cur)
              .filterNot(_.startsWith("deletes/"))
            val dvChanged =
              prev.filter(_.startsWith("deletes/")) !=
                cur.filter(_.startsWith("deletes/"))
            if (dvChanged && commonData.nonEmpty)
              throw new IllegalStateException(
                s"changeFeed($fromId, $toId): snapshot v$id of $root " +
                  "changes delete vectors on files it carries forward " +
                  "(a rollback across a merge-on-read delete) — row " +
                  "visibility changed without a file diff; re-baseline " +
                  "the consumer from a full snapshot read")
            // rows VISIBLE at `atId` within `rels`: position vectors
            // and equality deletes both subtracted, so the diff prices
            // exactly what a reader of each side saw
            def visibleAt(atId: Long, rels: Seq[String]): DataFrame = {
              val relSet = rels.toSet
              val (dels, dataEs) =
                (if (atId < 1L) Seq.empty[FileEntry]
                 else entries(s, root, atId)).partition(_.isDelete)
              val (eqs, dvs) = dels.partition(_.isEqDelete)
              applyEqDeletes(s, root,
                applyDeleteVectors(s, root, readFiles(rels, atId), dvs),
                eqs, dataEs.filter(e => relSet(e.path)),
                physMapOf(s, root, atId))
            }
            val frames =
              (if (removedData.isEmpty) Seq.empty
               else Seq(visibleAt(id - 1, removedData)
                 .withColumn("_op", lit("XB")))) ++
              (if (addedData.isEmpty) Seq.empty
               else Seq(visibleAt(id, addedData)
                 .withColumn("_op", lit("XA"))))
            if (frames.isEmpty) emptyStep
            else frames.reduce(_.unionByName(_, allowMissingColumns = true))
              .withColumn("_commit", lit(id))
        }
      prev = cur
      step
    }
    steps.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** Fold a [[changeFeed]] over a consumer's `state`: commits apply in
    * order; an append step unions its `A` rows; a merge step removes
    * its touched keys (anti-join on `keyCol` over the `U`/`UB` rows)
    * then unions the post-image `U`/`I` rows; a delete step removes
    * its `D` rows' keys and unions nothing; a file-diff step (SQL
    * row-level rewrites) removes the `XB` rows' keys and unions the
    * `XA` rows — after the last step the frame row-for-row equals a
    * direct read of the feed's `toId` snapshot (the
    * `fmt_snapshot_cdf` / `fmt_snapshot_cdf_full` /
    * `fmt_snapshot_cdf_sql` hash gates). Contract: `keyCol` is a row
    * key (unique per row), the same contract [[merge]] keys on. One
    * join per row-removing step — feeds are priced at each commit's
    * own churn, never the table.
    *
    * PLAN DEPTH IS BOUNDED: a consumer catching up across hundreds of
    * commits would otherwise fold one anti-join + union PER COMMIT
    * into a single lazy plan — the structural class that
    * StackOverflowed the BPE fold arm at ~1k merges (SURVEY §6.9) and
    * that Catalyst analyzes superlinearly. Every
    * `graft.cdf.fold.barrier` row-removing steps (default 16 —
    * probed on the OpScaleProbe `snap_cdf_fold` axis, 200 commits
    * over a 150k-key state: K=8 126 s, K=16 118 s, K=32 133 s, K=64
    * 169 s; small K pays barrier materialization, large K pays the
    * O(K²)-pushed-join segments) the accumulated state is
    * materialized with `localCheckpoint`, truncating the lineage so a
    * catch-up of ANY commit count analyzes O(barrier)-deep plans and
    * fold cost grows ~linearly in commit count (2 / 20 / 200 commits
    * → 2.2 / 7.5 / 118 s on the probe).
    * Append-only steps never force a barrier — unions are flat and
    * coalesce in Catalyst; only join depth counts.
    */
  def applyChanges(state: DataFrame, feed: DataFrame,
      keyCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val s = state.sparkSession
    val barrier = s.conf.get("graft.cdf.fold.barrier", "16").toInt
    val commits = feed.select("_commit").distinct()
      .collect().map(_.getLong(0)).sorted
    var joinsSinceBarrier = 0
    commits.foldLeft(state) { (acc, id) =>
      val step = feed.filter(col("_commit") === id)
      val rows = step.filter(col("_op").isin("A", "I", "U", "XA"))
        .drop("_op", "_commit")
      val removesRows =
        step.filter(col("_op") =!= "A").limit(1).count() > 0
      if (!removesRows) acc.unionByName(rows, allowMissingColumns = true)
      else {
        joinsSinceBarrier += 1
        val stepped = acc
          .join(step.filter(col("_op").isin("U", "UB", "D", "XB"))
            .select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
          .unionByName(rows, allowMissingColumns = true)
        if (joinsSinceBarrier >= barrier) {
          joinsSinceBarrier = 0
          stepped.localCheckpoint(eager = true)
        } else stepped
      }
    }
  }

  /** [[merge]] for BIG deltas: identical semantics and commit, but the
    * touched-file decision is a range JOIN of the manifest's per-file
    * [min, max] entries (a small driver-resident frame — the manifest
    * is already driver metadata) against the updates' distinct keys as
    * a DataFrame — the update keys are never collected to the driver.
    * The join output is just the touched FILE set (O(files), aggregated
    * distinct), so driver memory scales with the table's file count,
    * not the delta. `MergeLargeSpec` proves the touched/carried split
    * identical to [[merge]]'s collect form; the OpScaleProbe axis pins
    * the join form flat as the delta grows ×100.
    */
  def mergeLarge(updates: DataFrame, root: String,
      keyCol: String): (Long, Int, Int) = {
    val s = updates.sparkSession
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"merge into empty table $root: commit first")
    val touchedPaths = touchedFiles(updates, root, keyCol)
    // mergeLarge exists for deltas too big for the collect path, so
    // mergeCore's MEMORY_AND_DISK pin of the delta plus every touched
    // file is exactly the storage pressure this entry point is meant
    // to dodge: the working-set cache is OFF here (ADVICE r15)
    mergeCore(updates, root, keyCol, allEs => allEs.partition { e =>
      e.statsFor(keyCol) match {
        case Some(_) => touchedPaths.contains(e.path)
        case None => true // no usable stats → conservatively rewrite
      }
    }, cacheWorkingSet = false)
  }

  /** OPTIMIZE ZORDER BY for the snapshot layer: rewrite the current
    * snapshot as an overwrite commit clustered on the z-order (Morton)
    * curve over `(xCol, yCol)` — [[graft.ops.PipelineOps.zorderIndex]],
    * pure codegen'd bit arithmetic — recording BOTH columns' per-file
    * stats, so [[readWhere]] prunes on EITHER dimension (a
    * single-column range layout gives one). Each dimension is first
    * RANGE-NORMALIZED onto the curve's 2^bits domain from its own
    * min/max (one aggregate) — without that, the wider-ranged column's
    * high bits dominate the interleave and the narrow column never
    * clusters (the classic z-order pitfall; Delta's OPTIMIZE makes the
    * same normalization). Pruning stays SOUND whatever the layout: the
    * recorded stats are always the files' true min/max. Time travel to
    * pre-compaction snapshots is unaffected; vacuum reclaims the old
    * files later. Returns the new snapshot id.
    */
  /** Copy-on-write DELETE at FILE granularity — the Iceberg/Delta
    * `DELETE FROM` cost model, decided entirely on the manifest:
    * every file is classified by its commit-time stats against the
    * conjunction `filters` (Spark DSv2 `sources.Filter`s, the shapes
    * SQL `DELETE FROM ... WHERE` pushes down) —
    *
    *   - PROVEN NO ROW MATCHES  → carried verbatim (not even opened);
    *   - PROVEN EVERY ROW MATCHES → dropped from the manifest — a
    *     METADATA-ONLY delete, no data read or written. Sound only
    *     with the stats' null count: min/max say nothing about null
    *     cells and a null never satisfies a comparison, so the
    *     whole-file proof additionally requires zero nulls
    *     ([[FileStats.nulls]], recorded from the footer at commit);
    *   - undecidable → rewritten: read, keep `NOT cond` rows, commit.
    *
    * At 100 TB a key-range delete over a clustered table drops most
    * files from metadata alone and rewrites only the boundary files —
    * the whole point of keeping stats in the manifest. The commit is
    * the same atomic manifest publish as every other write; time
    * travel to the pre-delete snapshot is unaffected. Returns
    * (new snapshot id, files dropped, files rewritten, files carried).
    * Throws if any filter shape is untranslatable ([[SnapshotSourceTable]]
    * gates that with `canDeleteWhere` so SQL refuses loudly instead).
    * The dropped and rewritten files are named in the manifest's CDF
    * props, so [[changeFeed]] crosses the delete as exact `D` /
    * file-diff steps.
    */
  def deleteWhere(s: SparkSession, root: String,
      filters: Seq[org.apache.spark.sql.sources.Filter]): (Long, Int, Int, Int) = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"delete from empty table $root: commit first")
    requireNoDv(s, root, cur, "deleteWhere") // the COW rewrite reads
    // files raw and would resurrect vector-deleted rows
    require(filters.nonEmpty && canDelete(filters),
      s"deleteWhere: untranslatable filter in ${filters.mkString(", ")}")
    val cond = filters.flatMap(filterToColumn).reduce(_ && _)
    val es = entries(s, root, cur)
    val pm = physMapOf(s, root, cur) // filter names are LOGICAL
    val keep = es.filter(e => filters.exists(f => v1ProvesNone(e, f, pm)))
    val rest = es.diff(keep)
    // a zero-row file (rc=0) is trivially all-match: dropping it is
    // free garbage collection
    val drop = rest.filter(e => e.rows.contains(0L) ||
      filters.forall(f => v1ProvesAll(e, f, pm)))
    val rewrite = rest.diff(drop)
    val schema = storedSchema(s, root, cur)
    val survivors =
      if (rewrite.isEmpty) {
        // metadata-only: nothing read; the empty frame just carries
        // the schema into the commit
        readAt(s, root, cur).limit(0)
      } else {
        val base = readData(s, root, rewrite.map(_.path), schema,
          physMapOf(s, root, cur))
        // DELETE removes rows where cond is TRUE; a NULL cond (null
        // cell in a comparison) keeps the row — three-valued logic, so
        // the survivor predicate is NOT(coalesce(cond, false)), not
        // NOT(cond)
        base.where(not(coalesce(cond, lit(false))))
      }
    val statsCols = rewrite.flatMap(_.stats.map(_.col)).distinct
    // the CHANGE FEED: the rows a rewrite removes (cond TRUE, the same
    // three-valued predicate the survivors complement) are written as
    // an op-`D` frame — delta-priced: the rewrite set is already being
    // read for the survivors. Whole-file drops stay metadata-only: the
    // manifest's cdf.del.files prop NAMES them and [[changeFeed]] reads
    // their rows lazily, at the consumer's expense, never the delete's.
    val cdfRel: Option[String] =
      if (rewrite.isEmpty) None
      else {
        val base = readData(s, root, rewrite.map(_.path), schema,
          physMapOf(s, root, cur))
        val rel = s"changes/${java.util.UUID.randomUUID().toString.replace("-", "")}"
        base.where(coalesce(cond, lit(false)))
          .withColumn("_op", lit("D"))
          .write.mode("overwrite").parquet(s"$root/$rel")
        Some(rel)
      }
    val cdfProps =
      cdfRel.map("cdf.dir" -> _).toMap ++
        (if (drop.isEmpty) Map.empty[String, String]
         else Map("cdf.del.files" -> drop.map(_.path).mkString(",")))
    val keepPaths = keep.map(_.path).toSet
    val id = commitWithCarried(survivors, root,
      carriedHeadLines(s, root, cur, keepPaths), cur,
      if (statsCols.isEmpty) None else Some(statsCols.mkString(",")),
      Map("delete.cond" -> filters.mkString(" AND ")) ++ cdfProps,
      baseSchema = schema, partitionCols = partitionColsOf(s, root, cur))
    lastDelete.put(root, (drop.size, rewrite.size, keep.size))
    (id, drop.size, rewrite.size, keep.size)
  }

  // the last (dropped, rewritten, carried) delete decision per root —
  // driver-side observability for gates and specs
  private[sources] val lastDelete =
    new scala.collection.concurrent.TrieMap[String, (Int, Int, Int)]

  /** The most recent [[deleteWhere]] decision for `root`:
    * (files dropped metadata-only, files rewritten, files carried).
    */
  def lastDeleteStats(root: String): Option[(Int, Int, Int)] =
    lastDelete.get(root)

  private def requireNoDv(s: SparkSession, root: String, id: Long,
      op: String): Unit =
    require(!entries(s, root, id).exists(_.isDelete),
      s"$op: snapshot v$id of $root carries merge-on-read delete " +
        "vectors or equality deletes; fold them first with rewriteDeletes")

  /** Merge-on-read DELETE: instead of rewriting the boundary files a
    * copy-on-write delete must ([[deleteWhere]]'s `rewrite` set), mark
    * the dead rows in a DELETE VECTOR — a small parquet of
    * (file, pos) pairs committed under `deletes/` and subtracted from
    * every read by a broadcast anti-join on the scan's own
    * (`_metadata.file_name`, `_metadata.row_index`). The fast paths are
    * unchanged: stats-proven all-match files still DROP from the
    * manifest (metadata-only — unless an existing vector already names
    * rows in them, which would corrupt [[rowCount]]'s arithmetic; such
    * files mark through the vector instead), none-match files CARRY
    * verbatim; only the ambiguous files' matching rows are marked, and
    * NO data file is ever rewritten. Marking reads the ambiguous files
    * WITH the existing vectors applied, so a pair is never recorded
    * twice and live = data rows − vector rows stays exact.
    *
    * This is the point-delete shape (GDPR erasure, row retractions) at
    * 100 TB: IO = the ambiguous files once + a delta-sized vector
    * write, vs copy-on-write's full rewrite of every touched file. The
    * debt is read-side (one broadcast probe per row) and is settled by
    * [[rewriteDeletes]] (fold vectors into the affected files) or any
    * overwrite compaction. Readers that cannot apply vectors — the
    * DSv2/SQL scan, merge, copy-on-write delete, commitReplace, and
    * file-level incremental reads — refuse loudly rather than
    * resurrecting deleted rows.
    *
    * Returns (new snapshot id, files dropped, files marked via the
    * vector, files carried untouched); also recorded for
    * [[lastMorStats]].
    */
  def deleteWhereMor(s: SparkSession, root: String,
      filters: Seq[org.apache.spark.sql.sources.Filter]): (Long, Int, Int, Int) = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"delete from empty table $root: commit first")
    require(filters.nonEmpty && canDelete(filters),
      s"deleteWhereMor: untranslatable filter in ${filters.mkString(", ")}")
    val cond = filters.flatMap(filterToColumn).reduce(_ && _)
    val es = entries(s, root, cur)
    require(!es.exists(_.isEqDelete),
      s"deleteWhereMor: snapshot v$cur of $root carries equality " +
        "deletes; fold them first with rewriteDeletes")
    val (dvs, data) = es.partition(_.isDelete)
    // file names an existing vector references: read once, delta-sized
    val dvRefNames: Set[String] =
      if (dvs.isEmpty) Set.empty
      else s.read.parquet(dvs.map(e => s"$root/${e.path}"): _*)
        .select("file").distinct()
        .collect().map(_.getString(0)).toSet
    val pm = physMapOf(s, root, cur) // filter names are LOGICAL
    val keep = data.filter(e => filters.exists(f => v1ProvesNone(e, f, pm)))
    val rest = data.diff(keep)
    val drop = rest.filter(e =>
      (e.rows.contains(0L) || filters.forall(f => v1ProvesAll(e, f, pm))) &&
        !dvRefNames.contains(e.fileName))
    val ambiguous = rest.diff(drop)
    val schema = storedSchema(s, root, cur)
    val commitId = java.util.UUID.randomUUID().toString.replace("-", "")
    // the marking scan now lands as the commit's CHANGE FRAME (full
    // rows + op `D` + the (file, pos) tag columns), and the delete
    // VECTOR is derived from that delta-sized frame — one scan of the
    // ambiguous files serves both. Whole-file drops stay metadata-only
    // via cdf.del.files, read lazily by [[changeFeed]] consumers.
    var cdfRel: Option[String] = None
    val newDvLine: Option[String] =
      if (ambiguous.isEmpty) None
      else {
        val base = readData(s, root, ambiguous.map(_.path), schema)
        val tagged = base.select(col("*"),
          col("_metadata.file_name").as("__dv_file"),
          col("_metadata.row_index").as("__dv_pos"))
        val live =
          if (dvs.isEmpty) tagged
          else {
            val dv = s.read.parquet(dvs.map(e => s"$root/${e.path}"): _*)
            tagged.join(broadcast(dv),
              tagged("__dv_file") === dv("file") &&
                tagged("__dv_pos") === dv("pos"), "left_anti")
          }
        val fs = fsOf(s, new Path(root))
        // DELETE marks rows where cond is TRUE (null cond keeps)
        val rel = s"changes/$commitId"
        live.where(coalesce(cond, lit(false)))
          .withColumn("_op", lit("D"))
          .write.mode("overwrite").parquet(s"$root/$rel")
        val frame = s.read.parquet(s"$root/$rel")
        val n = frame.count() // delta-sized by construction
        if (n == 0L) { // nothing matched: no vector, no frame
          fs.delete(new Path(root, rel), true)
          None
        } else {
          cdfRel = Some(rel)
          val tmpDir = new Path(new Path(root), s"_staging/dv-$commitId")
          frame.select(col("__dv_file").as("file"),
              col("__dv_pos").as("pos"))
            .coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
          val part = fs.listStatus(tmpDir)
            .find(_.getPath.getName.startsWith("part-"))
            .getOrElse(throw new IllegalStateException(
              s"deleteWhereMor: vector write produced no part file"))
          val dvRel = s"deletes/$commitId.parquet"
          fs.mkdirs(new Path(root, "deletes"))
          require(fs.rename(part.getPath, new Path(root, dvRel)),
            s"deleteWhereMor: failed to publish $dvRel")
          fs.delete(tmpDir, true)
          Some(FileEntry(dvRel, Seq.empty, Some(n)).render)
        }
      }
    // manifest-only commit: every surviving data entry (and every
    // existing vector) carries VERBATIM; the only new line is the
    // vector's
    val keepPaths = (keep ++ ambiguous ++ dvs).map(_.path).toSet
    val carried = carriedHeadLines(s, root, cur, keepPaths) ++ newDvLine
    val fs = fsOf(s, new Path(root))
    val staging = new Path(new Path(root), s"_staging/$commitId")
    fs.mkdirs(staging)
    val cdfProps =
      cdfRel.map("cdf.dir" -> _).toMap ++
        (if (drop.isEmpty) Map.empty[String, String]
         else Map("cdf.del.files" -> drop.map(_.path).mkString(",")))
    val id = publishStaged(s, root, commitId, staging, carried, cur,
      Seq.empty, Map("delete.mor" -> filters.mkString(" AND ")) ++ cdfProps,
      schema.getOrElse(readAt(s, root, cur).schema))
    lastMor.put(root, (drop.size, newDvLine.size, keep.size + ambiguous.size))
    (id, drop.size, if (newDvLine.isDefined) ambiguous.size else 0,
      keep.size)
  }

  /** Copy-on-write DELETE by KEY FRAME — the retraction shape whose
    * key set never visits the driver: `keys` (one column, `keyCol`)
    * is range-joined against the manifest's per-file [min, max]
    * stats ([[touchedFiles]] — the [[mergeLarge]] pattern) to pick
    * the files that CAN hold a doomed row; those are rewritten as an
    * anti-join of the key frame, everything else carries VERBATIM.
    * Driver memory is O(files), whatever the retraction size — the
    * mass-GDPR-sweep case an `In(collect())` delete would make
    * driver-bound. The removed rows land as the commit's op-`D`
    * change frame (delta-priced: the touched files are already being
    * read), so [[changeFeed]] crosses it exactly like a
    * [[deleteWhere]]. Refuses vectored tables like every COW rewrite.
    * Returns (new snapshot id, files rewritten, files carried);
    * a key set provably absent everywhere is a no-op returning the
    * current id.
    */
  def deleteByKeys(keys: DataFrame, root: String,
      keyCol: String): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.{col, lit}
    val s = keys.sparkSession
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"deleteByKeys from empty table $root: commit first")
    requireNoDv(s, root, cur, "deleteByKeys")
    val keyFrame = keys.select(col(keyCol)).distinct()
    val physKey = physMapOf(s, root, cur).getOrElse(keyCol, keyCol)
    val touchedPaths = touchedFiles(keyFrame, root, keyCol)
    val es = entries(s, root, cur)
    val (touched, carried) = es.partition(e => e.statsFor(physKey) match {
      case Some(_) => touchedPaths.contains(e.path)
      case None => true // no usable stats → conservatively rewrite
    })
    if (touched.isEmpty) return (cur, 0, es.size)
    val schema = storedSchema(s, root, cur)
    val base = readData(s, root, touched.map(_.path), schema,
      physMapOf(s, root, cur))
    // LAZY change pricing (r15): record the delete KEYS (delta-sized),
    // not the matched pre-image rows. The eager form read every touched
    // file TWICE — once for the D-frame semi-join write, once for the
    // survivor rewrite — doubling the delete's IO for a frame most
    // tables' feeds never consume. [[changeFeed]] reconstructs the
    // identical D rows on demand (removed files ⋉ keys — the removed
    // set IS the touched set, and the files outlive the commit until
    // expire), the same consumer-pays contract [[deleteWhere]] already
    // uses for its metadata-only dropped files (`cdf.del.files`).
    val cdfRel =
      s"changes/${java.util.UUID.randomUUID().toString.replace("-", "")}"
    keyFrame.write.mode("overwrite").parquet(s"$root/$cdfRel")
    // survivors anti-join against the WRITTEN keys: the key plan (often
    // a distinct over a change feed) is computed once, not twice
    val keysBack = s.read.parquet(s"$root/$cdfRel")
    val survivors = base.join(keysBack, Seq(keyCol), "left_anti")
    val statsCols = touched.flatMap(_.stats.map(_.col)).distinct
      .filterNot(_.startsWith("#"))
    val id = commitWithCarried(survivors, root,
      carriedHeadLines(s, root, cur, carried.map(_.path).toSet), cur,
      if (statsCols.isEmpty) None else Some(statsCols.mkString(",")),
      Map("delete.cond" -> s"keysIn($keyCol)", "cdf.dir" -> cdfRel,
        "cdf.keys.col" -> keyCol),
      baseSchema = schema, partitionCols = partitionColsOf(s, root, cur))
    lastDelete.put(root, (0, touched.size, carried.size))
    (id, touched.size, carried.size)
  }

  private[sources] val lastMor =
    new scala.collection.concurrent.TrieMap[String, (Int, Int, Int)]

  /** The most recent [[deleteWhereMor]] decision for `root`:
    * (files dropped metadata-only, delete-vector files written,
    * files carried verbatim).
    */
  def lastMorStats(root: String): Option[(Int, Int, Int)] =
    lastMor.get(root)

  /** CDC UPSERT with ZERO table read at write time (Iceberg-v2
    * EQUALITY DELETES — the Flink-CDC write shape): one commit that
    * (a) publishes a delta-sized key file under `deletes/eq-*` killing
    * every OLDER row carrying an incoming key, and (b) appends
    * `updates`' rows as ordinary data files. Nothing about the table
    * is read, scanned, or rewritten — write cost is O(delta) whatever
    * the table size, vs [[merge]]'s read-back of every touched file.
    * The debt moves to readers (two broadcast probes per scan,
    * [[applyEqDeletes]]) and is settled by [[rewriteDeletes]]; the
    * vector-refusing paths (DSv2/SQL scans, merge, COW delete,
    * commitReplace, compaction, file-level incremental reads) refuse
    * equality-delete tables the same way, so a stale reader can never
    * resurrect a replaced row. Sequencing: the commit's new files and
    * its delete share the new snapshot id as their data sequence, and
    * a delete applies only to STRICTLY older files — the upsert's own
    * rows survive, later appends are never touched. Null keys refuse
    * (a null never equality-matches, so the delete half would silently
    * miss). Returns the new snapshot id.
    */
  def upsertEq(updates: DataFrame, root: String, keyCols: Seq[String],
      extraProps: Map[String, String] = Map.empty): Long = {
    val s = updates.sparkSession
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"upsertEq into empty table $root: commit first")
    require(keyCols.nonEmpty && keyCols.forall(updates.columns.contains),
      s"upsertEq: key columns ${keyCols.mkString(",")} must exist in " +
        s"the updates frame [${updates.columns.mkString(",")}]")
    val line = writeEqDeleteFile(s, root, cur,
      updates.select(keyCols.map(org.apache.spark.sql.functions.col): _*),
      "upsertEq")
    commitWithCarried(updates, root,
      headEntryLines(s, root, cur) :+ line, cur,
      statsCol = Some(keyCols.mkString(",")),
      props = extraProps ++ Map("delete.eq" -> keyCols.mkString(","),
        "eq.file" -> eqRelOf(line)),
      baseSchema = storedSchema(s, root, cur),
      partitionCols = partitionColsOf(s, root, cur))
  }

  /** Row retraction by KEY with zero table read ([[upsertEq]]'s delete
    * half alone): publish a delta-sized equality-delete file of
    * `keys`' rows — every older row matching one dies at read time.
    * `keys`' columns ARE the key columns (a subset of the table's).
    * The GDPR-erasure / CDC-retraction shape at 100 TB: the write
    * costs the key file, never a scan. Returns the new snapshot id.
    */
  def deleteByKeysEq(keys: DataFrame, root: String): Long = {
    val s = keys.sparkSession
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"deleteByKeysEq from empty table $root: commit first")
    val schema = storedSchema(s, root, cur).getOrElse(
      throw new IllegalStateException(
        s"deleteByKeysEq: $root v$cur records no schema"))
    require(keys.columns.nonEmpty &&
        keys.columns.forall(schema.fieldNames.contains),
      s"deleteByKeysEq: key columns [${keys.columns.mkString(",")}] must " +
        s"be a subset of the table's [${schema.fieldNames.mkString(",")}]")
    val line = writeEqDeleteFile(s, root, cur, keys, "deleteByKeysEq")
    val commitId = java.util.UUID.randomUUID().toString.replace("-", "")
    val fs = fsOf(s, new Path(root))
    val staging = new Path(new Path(root), s"_staging/$commitId")
    fs.mkdirs(staging) // manifest-only: no data file moves
    publishStaged(s, root, commitId, staging,
      headEntryLines(s, root, cur) :+ line, cur, Seq.empty,
      Map("delete.eq" -> keys.columns.mkString(","),
        "eq.file" -> eqRelOf(line)),
      schema)
  }

  private def eqRelOf(entryLine: String): String =
    parseEntry(entryLine).path

  /** Write `keys` (deduplicated, PHYSICAL names, null-refused) as a
    * `deletes/eq-*` parquet and return its rendered manifest entry,
    * stamped with the upcoming snapshot's sequence.
    */
  private def writeEqDeleteFile(s: SparkSession, root: String, cur: Long,
      keys: DataFrame, op: String): String = {
    import org.apache.spark.sql.functions.col
    val reservedHit = keys.columns.filter(ReservedCols)
    require(reservedHit.isEmpty,
      s"$op: key column name(s) ${reservedHit.mkString(", ")} are " +
        "reserved for the layer's merge-on-read join machinery — " +
        "rename them first")
    val pm = physMapOf(s, root, cur)
    val distinctKeys = keys.distinct()
    val commitId = java.util.UUID.randomUUID().toString.replace("-", "")
    val fs = fsOf(s, new Path(root))
    val tmpDir = new Path(new Path(root), s"_staging/eq-$commitId")
    toPhysical(distinctKeys, pm).coalesce(1)
      .write.mode("overwrite").parquet(tmpDir.toString)
    val eqRel = s"deletes/eq-$commitId.parquet"
    val written = s.read.parquet(tmpDir.toString)
    val n = written.count()
    require(n > 0L, s"$op: empty key frame")
    require(written.na.drop("any").count() == n,
      s"$op: null key values are not supported — a null never " +
        "equality-matches, so the delete would silently miss")
    val part = fs.listStatus(tmpDir)
      .find(_.getPath.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(
        s"$op: key write produced no part file"))
    fs.mkdirs(new Path(root, "deletes"))
    require(fs.rename(part.getPath, new Path(root, eqRel)),
      s"$op: failed to publish $eqRel")
    fs.delete(tmpDir, true)
    // publishStaged commits exactly prev + 1 or throws, so the stamp
    // is deterministic at build time
    FileEntry(eqRel, Seq.empty, Some(n), cur + 1).render
  }

  /** Fold the table's delete vectors into its data files: every data
    * file a vector references is rewritten WITHOUT its dead rows, every
    * untouched file carries verbatim, and the new snapshot lists no
    * vectors — the compaction that settles merge-on-read's read-side
    * debt and re-opens the vector-refusing paths (DSv2/SQL scans,
    * merge, copy-on-write delete). IO = the referenced files once; the
    * old files and vectors stay for time travel until
    * [[expireSnapshots]]. No-op (returns the current id) when the
    * table has no vectors.
    */
  def rewriteDeletes(s: SparkSession, root: String): Long = {
    import org.apache.spark.sql.functions.{col, max => smax, min => smin}
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"rewriteDeletes on empty table $root")
    val es = entries(s, root, cur)
    val (dels, data) = es.partition(_.isDelete)
    if (dels.isEmpty) return cur
    val (eqs, dvs) = dels.partition(_.isEqDelete)
    val pm = physMapOf(s, root, cur)
    // position vectors name their files outright; delta-sized read
    val refNames: Set[String] =
      if (dvs.isEmpty) Set.empty
      else s.read.parquet(dvs.map(e => s"$root/${e.path}"): _*)
        .select("file").distinct()
        .collect().map(_.getString(0)).toSet
    // equality deletes name KEYS, not files: a data file needs the
    // rewrite iff some delete outranks its sequence AND the manifest
    // stats cannot refute overlap on the first key column (sound —
    // refuting one conjunct refutes the key match; the bounds are the
    // union over every delete's keys, one delta-sized aggregation)
    val eqNames: Set[String] =
      if (eqs.isEmpty) Set.empty
      else {
        // per KEY-SET group (deletes keyed by different column sets
        // never share bounds): first-key min/max over that group's
        // keys, one delta-sized aggregation each. Bounds are rendered
        // INTO THE STATS DOMAIN from the key column's Spark type
        // ([[statDomainBound]]): footer stats of a FloatType column
        // are float-widened-to-double strings ("0.10000000149...")
        // while Row#toString of the same key renders "0.1", so a
        // string-rendered bound can wrongly REFUTE a file that holds
        // the key (silently resurrecting deleted rows), and a date /
        // timestamp key's "2024-01-01" rendering crashes the "i"
        // comparison outright. Types outside the conversion lattice
        // (or a domain that disagrees with the file's recorded tag)
        // yield no refutation — the file rewrites conservatively.
        val groups: Seq[(Seq[FileEntry], String, Option[(String, String, String)])] =
          eqs.map(e => e -> s.read.parquet(s"$root/${e.path}"))
            .groupBy(_._2.columns.sorted.toSeq).values.map { g =>
              val delKeys = g.map(_._2).reduce(_.unionByName(_))
              val k0 = delKeys.columns.head // PHYSICAL name as written
              val dt = delKeys.schema(k0).dataType
              val r = delKeys.agg(smin(col(k0)), smax(col(k0))).head
              val bounds =
                if (r.isNullAt(0)) None
                else for {
                  (dom, lo) <- statDomainBound(dt, r.get(0))
                  (_, hi) <- statDomainBound(dt, r.get(1))
                } yield (dom, lo, hi)
              (g.map(_._1), k0, bounds)
            }.toSeq
        data.filter { e =>
          groups.exists { case (ents, k0, bounds) =>
            ents.exists(_.seq > e.seq) && ((e.statsFor(k0), bounds) match {
              case (Some(st), Some((dom, lo, hi))) if st.domain == dom =>
                rangesOverlap(st.tag, st.mn, st.mx, lo, hi)
              case _ => true // no stats / untyped bound / domain
              // mismatch → cannot refute → rewrite
            })
          }
        }.map(_.fileName).toSet
      }
    val (affected, untouched) = data.partition(e =>
      refNames(e.fileName) || eqNames(e.fileName))
    val schema = storedSchema(s, root, cur)
    if (affected.isEmpty) {
      // every delete was refuted by stats (or named nothing): settle
      // is METADATA-ONLY — the del lines drop, the data carries verbatim
      val commitId = java.util.UUID.randomUUID().toString.replace("-", "")
      val fs = fsOf(s, new Path(root))
      val staging = new Path(new Path(root), s"_staging/$commitId")
      fs.mkdirs(staging)
      return publishStaged(s, root, commitId, staging,
        carriedHeadLines(s, root, cur, data.map(_.path).toSet),
        cur, Seq.empty,
        Map("rewrite.deletes" -> dels.size.toString),
        schema.getOrElse(readAt(s, root, cur).schema))
    }
    val survivors = applyEqDeletes(s, root,
      applyDeleteVectors(s, root,
        readData(s, root, affected.map(_.path), schema, pm), dvs),
      eqs, affected, pm)
    val statsCols = affected.flatMap(_.stats.map(_.col)).distinct
      .filterNot(_.startsWith("#"))
    commitWithCarried(survivors, root,
      carriedHeadLines(s, root, cur, untouched.map(_.path).toSet), cur,
      if (statsCols.isEmpty) None else Some(statsCols.mkString(",")),
      Map("rewrite.deletes" -> dels.size.toString), baseSchema = schema,
      partitionCols = partitionColsOf(s, root, cur))
  }

  /** Dynamic partition overwrite: atomically REPLACE exactly the
    * partitions present in `df` and leave every other partition
    * untouched — the incremental-pipeline commit shape (recompute one
    * day/source/shard, swap it in) that plain `overwrite` (whole table)
    * and `commit` (append-only) cannot express. Decided entirely from
    * the manifest's partition-value stats: a value-pure file (the
    * invariant every partitioned commit maintains) whose tuple matches
    * an incoming partition DROPS from the manifest with zero IO; a file
    * whose stats prove no overlap CARRIES verbatim; only an impure file
    * that MIGHT mix replaced and kept partitions (possible after a COW
    * rewrite) is read back and filtered. On a pure table the replace is
    * metadata-only drops plus the new files — at 100 TB the IO is the
    * incoming partitions, never the table.
    *
    * Contract: `df`'s distinct partition tuples are collected to the
    * driver (the replaced-partition set is small — the delta — by the
    * same contract as [[merge]]); null partition values refuse.
    * Returns (new snapshot id, files dropped, files rewritten, files
    * carried); the decision is also recorded for
    * [[lastReplaceStats]].
    */
  def commitReplace(df: DataFrame, root: String,
      statsCol: Option[String] = None): (Long, Int, Int, Int) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    import org.apache.spark.sql.sources.{And, EqualTo, Filter, Or}
    val s = df.sparkSession
    val cur = currentSnapshot(s, root)
    require(cur > 0L, s"commitReplace into empty table $root: commit first")
    requireNoDv(s, root, cur, "commitReplace")
    val parts = partitionColsOf(s, root, cur)
    require(parts.nonEmpty,
      s"commitReplace needs a partitioned table; $root has no " +
        "partition.cols (create it with commit(..., partitionBy = ...))")
    require(parts.forall(df.columns.contains),
      s"commitReplace: frame is missing partition columns " +
        s"${parts.filterNot(df.columns.contains).mkString(", ")}")
    val tuples: Array[Seq[Any]] = df.select(parts.map(col): _*)
      .distinct().collect().map(r => parts.indices.map(r.get))
    require(tuples.nonEmpty, "commitReplace with an empty frame")
    require(tuples.forall(_.forall(_ != null)),
      "commitReplace: null partition values are not supported")
    // "row belongs to a replaced partition" as a v1 filter tree — the
    // same machinery deleteWhere proves drops and carries with
    val repFilter: Filter = tuples.map { t =>
      parts.zip(t).map { case (c, v) => EqualTo(c, v): Filter }
        .reduce[Filter](And(_, _))
    }.reduce[Filter](Or(_, _))
    val es = entries(s, root, cur)
    val pm = physMapOf(s, root, cur)
    val keep = es.filter(e => v1ProvesNone(e, repFilter, pm))
    val rest = es.diff(keep)
    val drop = rest.filter(e =>
      e.rows.contains(0L) || v1ProvesAll(e, repFilter, pm))
    val rewrite = rest.diff(drop)
    val schema = storedSchema(s, root, cur)
    val incoming =
      if (rewrite.isEmpty) df
      else {
        val base = readData(s, root, rewrite.map(_.path), schema,
          physMapOf(s, root, cur))
        val cond = filterToColumn(repFilter).getOrElse(
          throw new IllegalStateException(
            "commitReplace: untranslatable partition tuple filter"))
        // keep the impure files' rows OUTSIDE the replaced partitions
        // (three-valued logic: a null comparison keeps the row)
        base.where(not(coalesce(cond, lit(false)))).unionByName(df)
      }
    val id = commitWithCarried(incoming, root,
      carriedHeadLines(s, root, cur, keep.map(_.path).toSet), cur,
      statsCol, Map("replace.partitions" -> tuples.length.toString),
      baseSchema = schema, partitionCols = parts)
    lastReplace.put(root, (drop.size, rewrite.size, keep.size))
    (id, drop.size, rewrite.size, keep.size)
  }

  private[sources] val lastReplace =
    new scala.collection.concurrent.TrieMap[String, (Int, Int, Int)]

  /** The most recent [[commitReplace]] decision for `root`:
    * (files dropped metadata-only, files rewritten, files carried).
    */
  def lastReplaceStats(root: String): Option[(Int, Int, Int)] =
    lastReplace.get(root)

  /** Can [[deleteWhere]] run this filter set? True iff every conjunct
    * translates to an evaluable predicate — the `canDeleteWhere`
    * contract: refuse BEFORE mutating anything.
    */
  private[sources] def canDelete(
      filters: Seq[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => filterToColumn(f).isDefined)

  /** DSv2 `sources.Filter` → evaluable `Column`, for the shapes SQL
    * DELETE pushes; None = unsupported shape (the caller refuses).
    */
  private def filterToColumn(
      f: org.apache.spark.sql.sources.Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(c, v) => Some(col(c) === lit(v))
      case EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
      case GreaterThan(c, v) => Some(col(c) > lit(v))
      case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
      case LessThan(c, v) => Some(col(c) < lit(v))
      case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
      case In(c, vs) => Some(col(c).isin(vs.toIndexedSeq: _*))
      case IsNull(c) => Some(col(c).isNull)
      case IsNotNull(c) => Some(col(c).isNotNull)
      case And(l, r) =>
        for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a && b
      case Or(l, r) =>
        for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a || b
      case Not(g) => filterToColumn(g).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  // sign of (stat - v) for a v1 Filter's EXTERNAL-typed value (String,
  // boxed numerics — unlike [[filterExcludes]]' internal UTF8String)
  private def cmpV1(domain: String, stat: String, v: Any): Option[Int] =
    (domain, v) match {
      case ("i", n @ (_: java.lang.Byte | _: java.lang.Short |
          _: java.lang.Integer | _: java.lang.Long)) =>
        Some(java.lang.Long.compare(stat.toLong,
          n.asInstanceOf[Number].longValue))
      case ("d", n: Number) =>
        Some(java.lang.Double.compare(stat.toDouble, n.doubleValue))
      case ("s", str: String) => Some(utf8Cmp(stat, str))
      case _ => None
    }

  /** Does `f` provably match NO row of `e`? (the carry-verbatim side) */
  private[sources] def v1ProvesNone(e: FileEntry,
      f: org.apache.spark.sql.sources.Filter,
      physMap: Map[String, String] = Map.empty): Boolean = {
    import org.apache.spark.sql.sources._
    def bounds(c: String, v: Any): Option[(Int, Int)] =
      if (v == null) None
      else e.statsFor(physMap.getOrElse(c, c)).flatMap(st =>
        for (a <- cmpV1(st.domain, st.mn, v); b <- cmpV1(st.domain, st.mx, v))
          yield (a, b))
    def outside(c: String, v: Any) =
      bounds(c, v).exists { case (mnC, mxC) => mnC > 0 || mxC < 0 }
    // membership refutation beyond the band: a per-file bloom
    // ([[buildBloomIndex]]) proves `c = v` empty even when the file's
    // [min, max] covers v — the selective-join case bands cannot prune
    def bloomNone(c: String, v: Any): Boolean =
      v != null && e.bloomFor(physMap.getOrElse(c, c)).exists {
        case (bytes, k) => !bloomMightContain(bytes, k, v.toString)
      }
    def zeroNulls(c: String) = e.statsFor(physMap.getOrElse(c, c)).flatMap(_.nulls).contains(0L)
    def allNull(c: String) = (for {
      st <- e.statsFor(physMap.getOrElse(c, c)); nn <- st.nulls; rc <- e.rows
    } yield nn == rc).getOrElse(false)
    f match {
      case EqualTo(c, v) => outside(c, v) || bloomNone(c, v)
      case EqualNullSafe(c, null) => zeroNulls(c)
      case EqualNullSafe(c, v) => outside(c, v) || bloomNone(c, v)
      case GreaterThan(c, v) => bounds(c, v).exists(_._2 <= 0)
      case GreaterThanOrEqual(c, v) => bounds(c, v).exists(_._2 < 0)
      case LessThan(c, v) => bounds(c, v).exists(_._1 >= 0)
      case LessThanOrEqual(c, v) => bounds(c, v).exists(_._1 > 0)
      case In(c, vs) =>
        vs.nonEmpty && vs.forall(v => outside(c, v) || bloomNone(c, v))
      case IsNull(c) => zeroNulls(c)
      case IsNotNull(c) => allNull(c)
      case And(l, r) => v1ProvesNone(e, l, physMap) || v1ProvesNone(e, r, physMap)
      case Or(l, r) => v1ProvesNone(e, l, physMap) && v1ProvesNone(e, r, physMap)
      case Not(g) => v1ProvesAll(e, g, physMap)
      case _: AlwaysFalse => true
      case _ => false
    }
  }

  /** Does `f` provably match EVERY row of `e`? (the metadata-drop
    * side; comparison proofs additionally require ZERO nulls — a null
    * cell never satisfies a comparison, so it must not be dropped)
    */
  private[sources] def v1ProvesAll(e: FileEntry,
      f: org.apache.spark.sql.sources.Filter,
      physMap: Map[String, String] = Map.empty): Boolean = {
    import org.apache.spark.sql.sources._
    def bounds(c: String, v: Any): Option[(Int, Int)] =
      if (v == null) None
      else e.statsFor(physMap.getOrElse(c, c)).flatMap(st =>
        for (a <- cmpV1(st.domain, st.mn, v); b <- cmpV1(st.domain, st.mx, v))
          yield (a, b))
    def zeroNulls(c: String) = e.statsFor(physMap.getOrElse(c, c)).flatMap(_.nulls).contains(0L)
    def allNull(c: String) = (for {
      st <- e.statsFor(physMap.getOrElse(c, c)); nn <- st.nulls; rc <- e.rows
    } yield nn == rc).getOrElse(false)
    def whole(c: String, v: Any)(p: ((Int, Int)) => Boolean) =
      zeroNulls(c) && bounds(c, v).exists(p)
    f match {
      case EqualTo(c, v) => whole(c, v) { case (a, b) => a == 0 && b == 0 }
      case EqualNullSafe(c, null) => allNull(c)
      case EqualNullSafe(c, v) => whole(c, v) { case (a, b) => a == 0 && b == 0 }
      case GreaterThan(c, v) => whole(c, v)(_._1 > 0)
      case GreaterThanOrEqual(c, v) => whole(c, v)(_._1 >= 0)
      case LessThan(c, v) => whole(c, v)(_._2 < 0)
      case LessThanOrEqual(c, v) => whole(c, v)(_._2 <= 0)
      case In(c, vs) => // provable only when the file is single-valued
        vs.nonEmpty && zeroNulls(c) &&
          vs.exists(v => bounds(c, v).contains((0, 0)))
      case IsNull(c) => allNull(c)
      case IsNotNull(c) => zeroNulls(c)
      case And(l, r) => v1ProvesAll(e, l, physMap) && v1ProvesAll(e, r, physMap)
      case Or(l, r) => v1ProvesAll(e, l, physMap) || v1ProvesAll(e, r, physMap)
      case Not(g) => v1ProvesNone(e, g, physMap)
      case _: AlwaysTrue => true
      case _ => false
    }
  }

  def compactZorder(s: SparkSession, root: String, xCol: String,
      yCol: String, numFiles: Int, bits: Int = 12): Long =
    compactZorder(s, root, Seq(xCol, yCol), numFiles, bits)

  /** The N-dimensional form: cluster on the Morton curve over any
    * number of columns (`bits * N <= 63`), recording every
    * dimension's per-file stats — after which a selective band on ANY
    * clustered column prunes files from the manifest alone.
    */
  def compactZorder(s: SparkSession, root: String, cols: Seq[String],
      numFiles: Int, bits: Int): Long = {
    import org.apache.spark.sql.functions.{col, max, min}
    require(cols.nonEmpty, "compactZorder: at least one column")
    val cur = read(s, root)
    // one aggregate: min(c0), max(c0), min(c1), max(c1), ...
    val aggs = cols.flatMap(c => Seq(min(col(c)), max(col(c))))
    val b = cur.agg(aggs.head, aggs.tail: _*).head
    def lv(i: Int): Long = b.getAs[Number](i).longValue
    val normed = cols.zipWithIndex.map { case (c, i) =>
      val (mn, mx) = (lv(2 * i), lv(2 * i + 1))
      if (mx > mn)
        (col(c).cast("long") - mn) * (1L << bits) / (mx - mn + 1)
      else col(c).cast("long") * 0L
    }
    val z = graft.ops.PipelineOps.zorderIndexN(normed, bits)
    commit(
      cur.repartitionByRange(numFiles, z)
        .sortWithinPartitions(z +: cols.map(col): _*),
      root, overwrite = true, statsCol = Some(cols.mkString(",")),
      // a compaction rewrites LAYOUT, not rows: the prop lets
      // [[changeFeed]] cross it as an empty step instead of refusing
      props = Map("compact.zorder" -> cols.mkString(",")))
  }

  /** Bin-pack compaction: rewrite ONLY the files below `minRows` rows
    * into ~`targetRows`-row files; every file already at size is
    * CARRIED VERBATIM (its manifest line — path, stats, row count —
    * copied untouched; the bytes are never read). The small-file debt
    * a streaming sink or frequent small appends accumulate is the
    * classic lakehouse failure mode — a million tiny files turn every
    * scan into open-file overhead — and the fix must not cost a
    * table rewrite: work here is O(small-file rows) + one manifest
    * write, decided from the manifest's recorded row counts alone (no
    * listing, no footer reads). The compaction is layout-only, so
    * [[changeFeed]] crosses it as an EMPTY step (`compact.binpack`
    * prop) and incremental consumers are undisturbed. A partitioned
    * table re-splits the packed rows per partition value, preserving
    * the value-purity invariant. Refuses merge-on-read delete vectors
    * (fold first — rewriting a vectored file's rows would resurrect
    * its deleted ones; the same contract as the SQL row-level ops).
    * Returns (new snapshot id, files packed, files written); packing
    * 0 or 1 small files is a no-op returning the current id.
    */
  def compactSmallFiles(s: SparkSession, root: String, minRows: Long,
      targetRows: Long): (Long, Int, Int) = {
    require(minRows >= 1 && targetRows >= 1,
      s"compactSmallFiles: thresholds must be positive")
    val cur = currentSnapshot(s, root)
    val es = entries(s, root, cur)
    require(!es.exists(_.isDelete),
      s"compactSmallFiles on $root: snapshot v$cur carries merge-on-read " +
        "delete vectors; fold them with rewriteDeletes first")
    require(es.forall(_.rows.isDefined),
      s"compactSmallFiles on $root: snapshot v$cur has entries without " +
        "recorded row counts")
    val (small, large) = es.partition(_.rows.get < minRows)
    if (small.size <= 1) return (cur, 0, es.size)
    val smallRows = small.map(_.rows.get).sum
    val nOut = math.max(1L,
      (smallRows + targetRows - 1) / targetRows).toInt
    val statsCols = es.flatMap(_.stats.map(_.col)).distinct
    val parts = partitionColsOf(s, root, cur)
    val packed0 = readData(s, root, small.map(_.path),
      storedSchema(s, root, cur), physMapOf(s, root, cur))
    // partitioned staging re-splits by value itself; flat tables pack
    // into the target file count directly
    val packed = if (parts.nonEmpty) packed0 else packed0.repartition(nOut)
    val id = commitWithCarried(packed, root,
      carriedHeadLines(s, root, cur, large.map(_.path).toSet), cur,
      Some(statsCols.mkString(",")),
      Map("compact.binpack" -> s"$minRows,$targetRows"),
      storedSchema(s, root, cur), parts)
    (id, small.size, fileList(s, root, id).size - large.size)
  }

  /** Small-file-DEBT cadence: compact iff at least `maxSmall` data
    * files sit below `minRows` — the trigger maintained indexes hook
    * after every [[graft.ops.Bm25Index.applyFeed]] /
    * [[graft.ops.AnnIndex.applyFeed]] pass, because each pass appends
    * churn-sized files and NOTHING else ever rewrites them: after
    * thousands of passes the search-side scan would pay the fragment
    * count. The check is manifest `rc=` arithmetic alone (zero file
    * reads, no listing); when it fires, work is O(small-file rows)
    * ([[compactSmallFiles]] — large files carry verbatim) and the
    * change feed crosses it as an empty step, so maintenance floors
    * and incremental consumers are undisturbed. Skipped (None) while
    * the snapshot carries delete entries or unknown row counts — those
    * tables need [[rewriteDeletes]] first. Returns Some((id, packed,
    * written)) when compaction ran.
    */
  def compactIfFragmented(s: SparkSession, root: String, minRows: Long,
      targetRows: Long, maxSmall: Int): Option[(Long, Int, Int)] = {
    val cur = currentSnapshot(s, root)
    if (cur == 0L) return None
    val es = entries(s, root, cur)
    if (es.exists(_.isDelete) || !es.forall(_.rows.isDefined)) return None
    val nSmall = es.count(_.rows.get < minRows)
    if (nSmall >= maxSmall)
      Some(compactSmallFiles(s, root, minRows, targetRows))
    else None
  }

  /** [[compactIfFragmented]] under the session's index-cadence conf —
    * `graft.index.compact.{max.small,min.rows,target.rows}` (defaults
    * 24 / 2048 / 65536; max.small <= 0 disables).
    */
  def compactOnDebt(s: SparkSession,
      root: String): Option[(Long, Int, Int)] = {
    val maxSmall =
      s.conf.get("graft.index.compact.max.small", "24").toInt
    if (maxSmall <= 0) None
    else compactIfFragmented(s, root,
      s.conf.get("graft.index.compact.min.rows", "2048").toLong,
      s.conf.get("graft.index.compact.target.rows", "65536").toLong,
      maxSmall)
  }

  /** [[compactOnDebt]] for tables that accrue MERGE-ON-READ debt
    * (equality deletes / delete vectors) on a maintenance cadence:
    * while delete entries are live, [[compactIfFragmented]] is a
    * deliberate no-op (bin-packing raw files would resurrect deleted
    * rows), so debt-writing maintenance loops would otherwise grow
    * both the delete count (read-side probes) and the small-file count
    * without bound. Folds the deletes ([[rewriteDeletes]]) once EITHER
    * the delete-entry count reaches `graft.index.eqdelete.max.files`
    * (default 16 — each maintenance pass adds one delta-sized delete,
    * so read scans pay at most that many extra broadcast probes before
    * a fold) OR the small-file count crosses the compaction cadence's
    * own threshold (the fold is what re-opens bin-packing), then runs
    * the normal [[compactOnDebt]] check. One manifest read decides;
    * no data IO happens on the no-debt fast path.
    */
  def settleOnDebt(s: SparkSession, root: String): Option[(Long, Int, Int)] = {
    val cur = currentSnapshot(s, root)
    if (cur > 0L) {
      val es = entries(s, root, cur)
      val dels = es.count(_.isDelete)
      if (dels > 0) {
        val maxEq =
          s.conf.get("graft.index.eqdelete.max.files", "16").toInt
        val maxSmall =
          s.conf.get("graft.index.compact.max.small", "24").toInt
        val minRows =
          s.conf.get("graft.index.compact.min.rows", "2048").toLong
        val nSmall =
          es.count(e => !e.isDelete && e.rows.exists(_ < minRows))
        if ((maxEq > 0 && dels >= maxEq) ||
            (maxSmall > 0 && nSmall >= maxSmall))
          rewriteDeletes(s, root)
      }
    }
    compactOnDebt(s, root)
  }

  /** The files of the CURRENT snapshot a merge keyed on `keyCol` would
    * rewrite, decided by range-joining the manifest's per-file
    * [min, max] stats (a driver-resident frame — the manifest is
    * already driver metadata) against `updates`' distinct keys — the
    * keys are never collected to the driver, so this scales to deltas
    * of any size. Files without `keyCol` stats are NOT returned here;
    * [[mergeLarge]] conservatively rewrites them regardless.
    */
  def touchedFiles(updates: DataFrame, root: String,
      keyCol: String): Set[String] = {
    val s = updates.sparkSession
    val cur = currentSnapshot(s, root)
    val physKey = physMapOf(s, root, cur).getOrElse(keyCol, keyCol)
    val statful = entries(s, root, cur)
      .flatMap(e => e.statsFor(physKey).map(st => (e.path, st)))
    if (statful.isEmpty) Set.empty
    else {
      import org.apache.spark.sql.functions.{broadcast, col}
      import s.implicits._
      val tag = statful.head._2.domain
      val keysDf = updates.select(col(keyCol).as("k")).distinct()
      // per-tag typed bounds frame; string bounds compare as Spark
      // UTF8String = unsigned UTF-8 bytes, the stats' own domain
      val boundsDf = tag match {
        case "i" => statful.map { case (p, st) =>
          (p, st.mn.toLong, st.mx.toLong) }.toDF("path", "mn", "mx")
        case "d" => statful.map { case (p, st) =>
          (p, st.mn.toDouble, st.mx.toDouble) }.toDF("path", "mn", "mx")
        case _ => statful.map { case (p, st) =>
          (p, st.mn, st.mx) }.toDF("path", "mn", "mx")
      }
      // keys STREAM against the broadcast bounds frame (files are
      // driver metadata, always the small side); the distinct
      // collapses to the touched-file set — O(files) on the driver,
      // never O(keys)
      keysDf.join(broadcast(boundsDf),
          col("k") >= col("mn") && col("k") <= col("mx"))
        .select("path").distinct().as[String].collect().toSet
    }
  }
}
