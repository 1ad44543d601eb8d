package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** MULTI-TABLE atomic publish — the WAP generalization the snapshot
  * layer was missing: a curation pipeline writing N output tables (the
  * corpus, its quality scorecard, its shard schedule) has no business
  * letting a consumer see table 1's new version next to table 2's old
  * one. A COMMIT GROUP stages one WAP snapshot per member table under
  * a shared group id, then publishes every head in one fast-forward
  * pass fenced by a persisted GROUP MARKER for crash recovery:
  *
  *   1. [[stage]] each member (an ordinary [[SnapshotTable.commitWap]]
  *      under wap id `grp-<group>` — expensive writes happen here, off
  *      the serving path, auditable via [[SnapshotTable.readWap]]);
  *   2. [[publish]] validates EVERY stage against its base first
  *      (all-or-nothing starts by refusing a doomed pass outright),
  *      writes the marker — membership lines `<root>TAB<wapId>TAB<base>`
  *      — into every member's `_manifests/` (so recovery from ANY
  *      member sees the full group), then fast-forwards each member
  *      ([[SnapshotTable.publishWap]], O(metadata) each), records the
  *      published (root -> snapshot) map in every member (the pinned
  *      input of [[readAll]]), then removes the markers;
  *   3. the FIRST marker create is the commit decision: any surviving
  *      marker means PRESUMED COMMIT — [[recover]] rolls the group
  *      FORWARD (the markers are written only after every stage
  *      validated), republishing still-staged members and skipping
  *      already-published ones, converging to all-visible; and
  *      [[dropGroup]] REFUSES once any marker exists (a crash midway
  *      through the marker-write loop leaves markers on a prefix of
  *      members — without the refusal, the operator's choice of entry
  *      point would decide commit vs abort for the same crash state).
  *      A crash BEFORE the first marker leaves plain WAP stages that
  *      [[dropGroup]] discards — all-invisible. All-or-nothing either
  *      way, with the decision point a single atomic file create.
  *
  * Boundary (stated, not hidden): atomicity holds against CRASHES.
  * A concurrent interleaved commit on a member table is tolerated
  * exactly as far as single-table WAP tolerates it: a purely ADDITIVE,
  * shape-preserving interleave (a plain append — the routine case at
  * streaming-ingest cadence) is REBASED through
  * ([[SnapshotTable.publishWap]]'s optimistic fast-forward rebase,
  * validated up front by [[SnapshotTable.rebaseCheck]] before any
  * marker is written); an overwrite / merge / compaction / shape /
  * constraint interleave refuses loudly, and recovery surfaces the
  * conflict instead of silently dropping anything. Same single-writer-per-table contract
  * as every commit shape; Iceberg has no multi-table transactions at
  * all, Delta's are engine-level. Readers between two member publishes
  * of a HEALTHY pass can observe the intermediate state on the HEADS
  * for the milliseconds the loop runs — [[readAll]] closes that window
  * too: it pins every member at its group-consistent snapshot (the
  * bases while a marker is live, the recorded published map after), so
  * a group-aware reader observes all-old or all-new, never mixed.
  */
object CommitGroup {

  private def markerPath(root: String, group: String): Path =
    new Path(new Path(root, "_manifests"), s"grp-${enc(group)}.group")

  /** The persisted (root -> published snapshot) record of the group's
    * LAST completed publish — written to every member after the final
    * member fast-forwards, before the markers clear. What [[readAll]]
    * pins on; overwritten if the group id is reused for a later pass.
    */
  private def publishedPath(root: String, group: String): Path =
    new Path(new Path(root, "_manifests"), s"grp-${enc(group)}.published")

  private def enc(v: String): String =
    java.net.URLEncoder.encode(v, "UTF-8")

  private def wapIdOf(group: String): String = s"grp-$group"

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** ATOMIC small-file publish ([[AtomicFiles]] — the shared
    * protocol): a reader (or a crash) never observes a zero-length,
    * truncated, or ABSENT marker/record. `exclusive = true` refuses an
    * existing destination LOUDLY (the marker create IS the commit
    * decision, a single atomic claim — hard-link create locally,
    * verified no-clobber rename remotely); otherwise the destination
    * is replaced in one atomic swap (the `.published` records on
    * group-id reuse).
    */
  private def writeAtomic(s: SparkSession, p: Path, body: Array[Byte],
      exclusive: Boolean): Unit = {
    val fs = fsOf(s, p)
    if (exclusive) {
      if (!AtomicFiles.publishExclusive(fs, p, body))
        throw new IllegalStateException(
          s"commit-group file $p already exists — the group id is " +
            "mid-publish or leaked; recover() or pick a fresh id")
    } else AtomicFiles.replaceWith(fs, p, body,
      s.sparkContext.hadoopConfiguration)
  }

  /** Read a marker/record as TAB-separated rows, refusing a malformed
    * row loudly — the writes are atomic, so a short row is external
    * corruption to surface, never a silent empty membership.
    */
  private def readTsv(s: SparkSession, p: Path,
      arity: Int): Seq[Array[String]] = {
    val fs = fsOf(s, p)
    val in = fs.open(p)
    val rows =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).map(_.split("\t")).toList
      finally in.close()
    require(rows.nonEmpty && rows.forall(_.length >= arity),
      s"commit-group file $p is malformed (expected >= $arity TAB " +
        "fields per line; writes are atomic, so this is external " +
        "corruption, not a crash artifact)")
    rows
  }

  /** [[SnapshotTable.readAt]] with the EMPTY pin handled: a member
    * whose group snapshot lists no files (the empty seed commit every
    * fresh table starts from — exactly what an all-old read pins
    * during a first-ever group publish) reads as an empty frame under
    * the snapshot's recorded schema instead of readAt's
    * lists-no-files refusal.
    */
  private def pinnedRead(s: SparkSession, root: String,
      id: Long): DataFrame =
    if (SnapshotTable.fileList(s, root, id).nonEmpty)
      SnapshotTable.readAt(s, root, id)
    else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      SnapshotTable.schemaAt(s, root, id))

  /** Stage `df` as `root`'s member of commit group `group` — a normal
    * WAP stage under the group's wap id: invisible to every reader
    * until the GROUP publishes. Returns the base snapshot staged
    * against.
    */
  def stage(df: DataFrame, root: String, group: String,
      statsCol: Option[String] = None,
      props: Map[String, String] = Map.empty): Long =
    SnapshotTable.commitWap(df, root, wapIdOf(group), statsCol, props)

  /** Publish every member's staged snapshot, all-or-nothing under
    * crash recovery. `roots` is the full membership (order-insensitive
    * — publishes run in sorted order for determinism). Returns the new
    * snapshot id per root.
    */
  def publish(s: SparkSession, group: String,
      roots: Seq[String]): Map[String, Long] =
    publishCrashable(s, group, roots, crashAfter = Int.MaxValue)

  /** [[publish]] with fault-injection points for the recovery specs:
    * `crashAfter` throws after that many member publishes (markers in
    * place — exactly the crash window [[recover]] exists for);
    * `crashAfterMarkers` throws after that many MARKER writes (the
    * prefix-marker state where [[dropGroup]] must refuse and recovery
    * from a marker-bearing member must still converge the full group).
    */
  private[sources] def publishCrashable(s: SparkSession, group: String,
      roots: Seq[String], crashAfter: Int,
      crashAfterMarkers: Int = Int.MaxValue): Map[String, Long] = {
    require(roots.nonEmpty, "commit group with no members")
    require(roots.distinct.size == roots.size,
      s"commit group '$group': duplicate member roots")
    val ordered = roots.sorted
    // validate EVERY stage before touching anything: each must exist
    // and either still sit on its table's current head or be
    // REBASEABLE onto it (every interleaved commit purely additive and
    // shape-preserving — [[SnapshotTable.rebaseCheck]], the same
    // soundness test as single-table WAP; the member's publish then
    // fast-forward-rebases). A doomed pass refuses here, before any
    // member becomes visible.
    val bases: Map[String, Long] = ordered.map { root =>
      val base = SnapshotTable.wapBase(s, root, wapIdOf(group))
      val cur = SnapshotTable.currentSnapshot(s, root)
      if (cur != base)
        SnapshotTable.rebaseCheck(s, root, base, cur).foreach(w =>
          throw new IllegalArgumentException(
            s"commit group '$group': member $root advanced to v$cur " +
              s"past its stage's base v$base and cannot rebase ($w) — " +
              "drop the group and re-stage against the new heads"))
      root -> base
    }.toMap
    // the FIRST marker create IS the commit decision: markers go to
    // every member in sorted order (so recovery from any marker-bearing
    // one sees the whole group), each line `<root>TAB<wapId>TAB<base>`;
    // a crash mid-loop leaves markers on a prefix — still a decided
    // commit ([[dropGroup]] refuses, [[recover]] rolls forward)
    val body = ordered.map(r => s"$r\t${wapIdOf(group)}\t${bases(r)}")
      .mkString("\n").getBytes(StandardCharsets.UTF_8)
    ordered.zipWithIndex.foreach { case (root, i) =>
      if (i >= crashAfterMarkers)
        throw new IllegalStateException(
          s"commit group '$group': injected crash after " +
            s"$crashAfterMarkers marker write(s) — the commit is " +
            "decided; recover() from a marker-bearing member")
      // a taken marker = the group id is mid-publish or leaked —
      // refuse rather than join it (exclusive atomic create)
      writeAtomic(s, markerPath(root, group), body, exclusive = true)
    }
    val published = ordered.zipWithIndex.map { case (root, i) =>
      if (i >= crashAfter)
        throw new IllegalStateException(
          s"commit group '$group': injected crash after $crashAfter " +
            "member publish(es) — recover() rolls the group forward")
      root -> publishMember(s, root, group)
    }.toMap
    recordPublished(s, group, published)
    ordered.foreach(root =>
      fsOf(s, markerPath(root, group)).delete(markerPath(root, group), false))
    published
  }

  /** Persist the group's published (root -> snapshot) map into every
    * member's `_manifests/` — the pin set [[readAll]] serves. Written
    * after the last member fast-forwards and BEFORE the markers clear,
    * so a reader always finds either a live marker (publish in flight:
    * pin the bases) or the record of the last completed pass.
    */
  private def recordPublished(s: SparkSession, group: String,
      published: Map[String, Long]): Unit = {
    val body = published.toSeq.sorted.map { case (r, id) => s"$r\t$id" }
      .mkString("\n").getBytes(StandardCharsets.UTF_8)
    published.keys.foreach { root =>
      // replace atomically: group-id reuse supersedes the prior pass
      writeAtomic(s, publishedPath(root, group), body, exclusive = false)
    }
    // AUTO-TAG the pins (round 15): [[SnapshotTable.expireSnapshots]]
    // protects ref'd snapshots, so tagging each member's published
    // snapshot makes [[readAll]] durable BY DEFAULT instead of by
    // operator discipline ("createTag if the read must outlive
    // retention"). One tag per (member, group), moved forward on every
    // pass — the next publish retires the previous pass's pin
    // protection, bounding held storage to one group epoch. Best
    // effort by design: a tag that cannot land (the pin already
    // expired — recovery after a very long outage) must not fail the
    // publish that is otherwise complete; the pinned read then fails
    // loudly at readAt exactly as before. The drop-then-create pair
    // leaves a millisecond unprotected window a racing expire could
    // hit — the same window the manual protocol had.
    val tag = tagNameOf(group)
    published.foreach { case (root, id) =>
      try {
        SnapshotTable.dropRef(s, root, tag)
        SnapshotTable.createTag(s, root, tag, id)
      } catch {
        // anything non-fatal: an expired pin's refused ref AND any
        // transient filesystem error — the publish this call records
        // is already complete, and failing it here would leave the
        // group in marker state over a lost best-effort tag
        case scala.util.control.NonFatal(_) => ()
      }
    }
  }

  /** The retention tag [[recordPublished]] maintains per member —
    * `grp-<sanitized group>-<hash>`: ref names are restricted to
    * `[A-Za-z0-9._-]`, so non-conforming group-id characters fold to
    * `-` and a 16-bit hash of the ORIGINAL id keeps two group ids
    * that sanitize alike from retiring each other's pins.
    */
  private[sources] def tagNameOf(group: String): String = {
    val safe = group.map(c =>
      if (c.isLetterOrDigit || c == '.' || c == '_' || c == '-') c
      else '-')
    f"grp-$safe%s-${group.hashCode & 0xffff}%04x"
  }

  /** Publish one member idempotently. The decisive evidence is the
    * STAGE itself, not the head's provenance: a stage whose `wap.base`
    * equals the current head is a NEW stage that must fast-forward —
    * even when the head already carries this group's wap id from an
    * earlier pass (group-id REUSE: stage, publish, re-stage, publish
    * again with no intervening commit). Only when the stage is absent,
    * or predates the head, does a head carrying the group's wap id
    * mean "already published" (a crash between a member's manifest
    * rename and its wap-file cleanup, or a resumed recovery) —
    * converge silently, dropping the stale stage manifest if the
    * cleanup half also crashed.
    */
  private def publishMember(s: SparkSession, root: String,
      group: String, recoveryBase: Option[Long] = None): Long = {
    val wapId = wapIdOf(group)
    val cur = SnapshotTable.currentSnapshot(s, root)
    if (SnapshotTable.wapExists(s, root, wapId) &&
        SnapshotTable.wapBase(s, root, wapId) == cur)
      SnapshotTable.publishWap(s, root, wapId)
    else {
      val headWap = SnapshotTable.snapshotProps(s, root, cur).get("wap.id")
      if (headWap.contains(wapId)) {
        val stale = new Path(new Path(root, "_manifests"),
          s"wap-${enc(wapId)}.manifest")
        fsOf(s, stale).delete(stale, false)
        cur
      } else recoveryBase.flatMap { base =>
        // RECOVERY ONLY: the stage is consumed and the head no longer
        // carries the group's wap id — an already-published member took
        // a later unrelated commit before recovery ran. Without this
        // scan the fall-through publishWap fails loudly forever and the
        // markers can never clear (dropGroup refuses on markers): the
        // group would wedge on a crash + one interleaved commit. The
        // marker records the base, so scan (base+1)..cur for the
        // snapshot whose provenance carries the wap id and treat IT as
        // the published pin; expired ids in the window read as absent.
        ((base + 1) to cur).find { id =>
          (try SnapshotTable.snapshotProps(s, root, id)
           catch { case _: IllegalArgumentException =>
             Map.empty[String, String] }).get("wap.id").contains(wapId)
        }
      } match {
        case Some(publishedId) => publishedId
        case None => SnapshotTable.publishWap(s, root, wapId) // absent
        // or diverged stage: fails loudly with the precise error (never
        // staged / table advanced past the base) instead of guessing
      }
    }
  }

  /** Roll an interrupted group FORWARD from any member's marker:
    * republish every member the crash left staged (presumed commit —
    * the first marker is written only after full validation), converge
    * the ones already published, re-record the published map, then
    * clear the markers. Returns the recovered membership (empty = no
    * marker on THIS member; if the crash hit mid-marker-loop, probe
    * the other members or use the `roots` overload — any marker in the
    * group carries the full membership).
    */
  def recover(s: SparkSession, anyMemberRoot: String,
      group: String): Map[String, Long] = {
    val p = markerPath(anyMemberRoot, group)
    val fs = fsOf(s, p)
    if (!fs.exists(p)) return Map.empty
    val rows = readTsv(s, p, arity = 3)
    val members = rows.map(_(0)).toList
    val baseOf = rows.map(f => f(0) -> f(2).toLong).toMap
    val published = members.sorted.map { root =>
      root -> publishMember(s, root, group, recoveryBase = baseOf.get(root))
    }.toMap
    recordPublished(s, group, published)
    members.foreach(root =>
      fsOf(s, markerPath(root, group)).delete(markerPath(root, group), false))
    published
  }

  /** [[recover]] that scans the candidate roots for the first
    * marker-bearing member — the operator's entry point after a crash
    * whose marker loop may have stopped on any prefix. Empty = no
    * marker anywhere: the group never reached its commit decision
    * ([[dropGroup]] is the exit).
    */
  def recover(s: SparkSession, group: String,
      roots: Seq[String]): Map[String, Long] =
    roots.sorted.iterator
      .map(r => recover(s, r, group))
      .find(_.nonEmpty)
      .getOrElse(Map.empty)

  /** The failed-audit exit: drop every member's stage (their added
    * files included); no table ever saw the group. Any `.published`
    * records SURVIVE — they are the pin set of the last COMPLETED pass
    * under this group id, and dropping a later re-staged pass must not
    * destroy [[readAll]]'s view of what DID publish. REFUSES once any
    * member carries the group's marker —
    * a marker means the commit was DECIDED ([[publishCrashable]]
    * writes the first one only after every stage validated), and the
    * one legal continuation is [[recover]]; honoring a drop here would
    * let the operator's entry point decide commit vs abort for the
    * same crash state. Returns deleted staged-file count.
    */
  def dropGroup(s: SparkSession, group: String, roots: Seq[String]): Int = {
    val marked = roots.sorted
      .filter(r => fsOf(s, markerPath(r, group)).exists(markerPath(r, group)))
    require(marked.isEmpty,
      s"commit group '$group': member(s) ${marked.mkString(", ")} carry " +
        "the group marker — the commit is decided; recover() the group " +
        "forward instead of dropping it")
    roots.sorted.map { root =>
      try SnapshotTable.dropWap(s, root, wapIdOf(group))
      catch { case _: IllegalArgumentException => 0 } // never staged
    }.sum
  }

  /** [[readAll]] from ONE known member, no side-channel root list: the
    * membership is read from the member's own marker or `.published`
    * record (both carry the full root list / map), then the read
    * DELEGATES to the multi-root overload — which re-scans the whole
    * derived membership for markers, so a crashed pass whose marker
    * landed on a different member still resolves identically from
    * every entry point (all-old, never a mixed epoch).
    */
  def readAll(s: SparkSession, group: String,
      anyMemberRoot: String): Map[String, DataFrame] = {
    val mp = markerPath(anyMemberRoot, group)
    val rp = publishedPath(anyMemberRoot, group)
    // same exists-to-open race as [[pins]]: a marker deleted by a
    // completing publish between the check and the read falls through
    // to the .published record it just wrote
    val viaMarker =
      try {
        if (fsOf(s, mp).exists(mp))
          Some(readTsv(s, mp, arity = 3).map(_(0)))
        else None
      } catch { case _: java.io.FileNotFoundException => None }
    val members = viaMarker.getOrElse {
      if (fsOf(s, rp).exists(rp)) readTsv(s, rp, arity = 2).map(_(0))
      else throw new IllegalArgumentException(
        s"commit group '$group': no marker and no published record on " +
          s"$anyMemberRoot — name a member that saw the group, or pass " +
          "the membership explicitly")
    }
    readAll(s, group, members)
  }

  /** GROUP-CONSISTENT read: every member pinned at its group snapshot
    * — resolution order, checked per the protocol's own fencing:
    *
    *   - a live marker on ANY root (publish in flight or crashed
    *     mid-pass): pin every member at its marker-recorded BASE —
    *     all-old, exactly what the group looked like before the pass
    *     (some heads may already have advanced; the pinned reads
    *     don't care);
    *   - else the `.published` record (the last completed pass): pin
    *     every member at its recorded snapshot — all-new as of the
    *     group's publish, immune to later unrelated commits;
    *   - else the group is unknown here — refuse loudly.
    *
    * Pinning durability: every publish AUTO-TAGS its pins
    * ([[recordPublished]] — one `grp-…` tag per member, moved forward
    * each pass), and [[SnapshotTable.expireSnapshots]] protects ref'd
    * snapshots, so the last completed pass's reads survive retention
    * BY DEFAULT. Only the previous pass's pins are released (its tags
    * move), so a reader holding frames across a publish boundary
    * should re-resolve; a pin whose tag could not land (recovery after
    * the snapshot already expired) fails loudly at
    * [[SnapshotTable.readAt]].
    */
  def readAll(s: SparkSession, group: String,
      roots: Seq[String]): Map[String, DataFrame] =
    pins(s, group, roots).map { case (r, id) =>
      r -> pinnedRead(s, r, id) }

  /** The group-consistent (root -> snapshot) PIN MAP [[readAll]] reads
    * through — also the pure-SQL entry (`CALL system.group_pins`):
    * feed each pin to `VERSION AS OF` and a SQL session gets the same
    * all-old-or-all-new guarantee without the Scala API.
    */
  def pins(s: SparkSession, group: String,
      roots: Seq[String]): Map[String, Long] = {
    val ordered = roots.sorted
    // exists() and the open inside readTsv are two filesystem calls;
    // publish/recover delete markers right after recording .published,
    // so a reader racing that window can see the marker vanish between
    // them. That race is a HEALTHY publish completing, not an error —
    // re-resolve (the record the deleter wrote first is now there).
    // Bounded, because each retry means a pass completed under us.
    var attempt = 0
    while (true) {
      try {
        val markerOf = ordered.iterator.map(r => markerPath(r, group))
          .find(p => fsOf(s, p).exists(p))
        return markerOf match {
          case Some(p) =>
            readTsv(s, p, arity = 3).map(f => f(0) -> f(2).toLong).toMap
          case None =>
            val rec = ordered.iterator.map(r => publishedPath(r, group))
              .find(p => fsOf(s, p).exists(p))
              .getOrElse(throw new IllegalArgumentException(
                s"commit group '$group': no marker and no published record " +
                  s"on any of ${ordered.mkString(", ")} — the group never " +
                  "published here (or its record was cleaned)"))
            readTsv(s, rec, arity = 2).map(f => f(0) -> f(1).toLong).toMap
        }
      } catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt > 8) throw new IllegalStateException(
            s"commit group '$group': marker kept vanishing across " +
              s"$attempt resolution attempts — publishes are completing " +
              "faster than this reader can resolve", e)
      }
    }
    sys.error("unreachable")
  }
}
