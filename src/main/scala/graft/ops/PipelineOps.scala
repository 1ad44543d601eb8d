package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-data pipeline operators (north star, SURVEY.md §2.5): the
  * per-document passes a corpus-curation pipeline runs between ingest and
  * training — deterministic sampling, pattern scrubbing, intra-document
  * repetition scoring, and benchmark-contamination checks. All are
  * narrow-plus-one-shuffle plans: nothing touches the driver, and the
  * shuffled keys are documents or shingles, never whole-corpus pairs.
  */
object PipelineOps {

  /** Deterministic content-addressed sampling: keep a doc iff the first
    * two hex chars of md5(doc_id) fall under the rate threshold. Unlike
    * `df.sample`, the decision is a pure function of the row — stable
    * across retries, partitionings, and engines (which is what makes the
    * holdout reproducible at 100 TB, and lets DuckDB agree with Spark).
    * threshold "28" ≈ 41/256 ≈ 16%.
    */
  def sampleHash(docs: DataFrame, hexThreshold: String): DataFrame =
    docs
      .withColumn("hash_prefix", substring(md5(col("doc_id").cast("string")), 1, 2))
      .filter(col("hash_prefix") <= lit(hexThreshold))
      .select(col("doc_id"), col("hash_prefix"), col("lang"), col("n_chars"))

  /** Domain-mixture resampling: every source gets its own keep rate (the
    * "reweight the corpus toward a target domain mix" step). The draw is
    * the first 16 hex chars of md5(doc_id) — a uniform unsigned-64 in hex
    * — compared against the rate as an exact hex threshold, so the
    * decision is a pure row function: stable across retries and engines,
    * and the realized mix converges to the target rates at corpus scale
    * with zero coordination. Rates here cycle 1/4..4/4 by source index
    * (the config a real pipeline would pass in).
    */
  def mixtureSample(docs: DataFrame): DataFrame = {
    // digit-less source names coalesce to index 0 (same contract as
    // tokenBudget: both engines agree by value instead of null-vs-error)
    val idx = coalesce(
      regexp_extract(col("source"), "(\\d+)", 1).cast("int"), lit(0))
    val thr = element_at(
      array(lit("3fffffffffffffff"), lit("7fffffffffffffff"),
        lit("bfffffffffffffff"), lit("ffffffffffffffff")),
      (idx % 4) + 1)
    docs
      .withColumn("draw", substring(md5(col("doc_id").cast("string")), 1, 16))
      .filter(col("draw") <= thr)
      .select(col("doc_id"), col("source"),
        round(((idx % 4) + 1) / 4.0, 2).as("rate"))
  }

  /** Regex scrub: replace every match of `pattern` with `replacement`
    * and count what was removed (the PII-redaction shape: emails, phone
    * numbers, ids — pattern is config; the driver query scrubs vocabulary
    * words because the synthetic corpus contains no digits at all).
    * Pattern subset must stay Java-regex ∩ RE2 so the DuckDB oracle
    * agrees.
    */
  def scrub(docs: DataFrame, pattern: String, replacement: String): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(pattern)).as("n_redacted"),
      regexp_replace(col("text"), pattern, replacement).as("text_redacted"))

  /** Per-document repetition score: 1 - distinct/total word-3-grams.
    * High ratios flag boilerplate/spam docs; this is the standard
    * "duplicate n-gram fraction" quality signal. Total is computed from
    * the token count (no second pass); distinct reuses the dedup shingle
    * pipeline.
    */
  def repetition(docs: DataFrame): DataFrame = {
    val n = Dedup.ShingleSize
    val totals = docs.select(
      col("doc_id"),
      greatest(size(split(col("text"), " ", -1)) - (n - 1), lit(0))
        .cast("long").as("n_shingles"))
    val distincts = Dedup.shingles(docs)
      .groupBy("doc_id").agg(count(lit(1)).as("n_distinct"))
    totals.join(distincts, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"), col("n_shingles"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(round(
            lit(1.0) - coalesce(col("n_distinct"), lit(0L)) / col("n_shingles"), 4))
          .as("rep_ratio"))
  }

  /** Benchmark-contamination check: for each training doc, how many of
    * its distinct shingles appear anywhere in the benchmark split. The
    * benchmark shingle set is distinct-reduced first (it is the small
    * side — broadcastable in any realistic train/eval split), so the join
    * fans out per contaminated shingle only.
    */
  def contamination(train: DataFrame, benchmark: DataFrame): DataFrame = {
    val trainSh = Dedup.shingles(train)
    val benchSh = Dedup.shingles(benchmark).select("shingle").distinct()
    val overlaps = trainSh.join(broadcast(benchSh), Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    val sizes = trainSh.groupBy("doc_id").agg(count(lit(1)).as("n_distinct"))
    sizes.join(overlaps, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_distinct"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)) / col("n_distinct"), 4)
          .as("overlap_ratio"))
  }

  /** Distribution-drift gate — the data-quality check a pipeline runs
    * when a new corpus snapshot lands: compare the length distribution
    * of the incoming data (every source but src0) against the reference
    * split (src0) with a per-bucket Pearson χ² term, computed entirely
    * in integers via cross-multiplication (expected mass is e·No/Ne, so
    * the term (o − e·No/Ne)²/(e·No/Ne) rewrites to
    * (o·Ne − e·No)²·10⁶ div (e·No·Ne), in parts-per-million). The
    * squared difference passes through DECIMAL(38) (HUGEINT in the
    * oracle) — |o·Ne − e·No| ≤ ~1e10 at sf1, squared ~1e20, ×10⁶ ~1e26:
    * exact far past any realistic corpus. Buckets the reference never
    * saw (e = 0) can't contribute a finite χ² term and are flagged as
    * `new_mass` instead — the drift signal a χ² can't price.
    *
    * Scale shape: two combinable counts + one |buckets|-row full-outer
    * join against broadcast 1-row totals. Nothing scales past the
    * bucket count.
    */
  def driftChi2(docs: DataFrame): DataFrame = {
    val bucket = least(floor(col("n_chars") / 100), lit(19)).cast("long")
    val obs = docs.filter(col("source") =!= "src0")
      .groupBy(bucket.as("bucket")).agg(count(lit(1)).as("o"))
    val ref = docs.filter(col("source") === "src0")
      .groupBy(bucket.as("bucket")).agg(count(lit(1)).as("e"))
    val tot = obs.agg(sum(col("o")).as("no"))
      .crossJoin(ref.agg(sum(col("e")).as("ne")))
    obs.join(ref, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("o", "e"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("o"), col("e"),
        when(col("e") > 0,
          // both sides promote BEFORE multiplying: the denominator
          // e·No·Ne would overflow int64 around sf30 if left to long
          // arithmetic (the numerator difference itself fits — its
          // square is what needs DECIMAL(38))
          expr("(CAST(o * ne - e * no AS DECIMAL(38, 0)) * (o * ne - e * no)" +
            " * 1000000) div (CAST(e AS DECIMAL(38, 0)) * no * ne)"))
          .as("chi2_ppm"),
        when(col("e") === 0 && col("o") > 0, 1L).otherwise(0L).as("new_mass"))
  }

  val BloomHashes = 4
  val BloomLoadFactor = 16L
  /** Candidate filter sizes: powers of two up to 2^28 — the range of one
    * 7-hex-char (28-bit) md5 slice, which is what each of the 4 bit
    * positions derives from.
    */
  private val BloomSizes: Seq[Long] = (16 to 28).map(1L << _)

  /** Decontamination at scale — the BLOOM-FILTER variant of
    * [[contamination]] (the Dolma/CCNet-style pass): the benchmark
    * split's shingle set compresses to a bit filter (4 bit positions
    * per shingle, 28-bit md5 slices mod m), sized m = smallest power of
    * two ≥ [[BloomLoadFactor]]× the bench shingle count (ONE O(1)
    * driver count picks it — fill stays ~22 %, FP ≈ 0.25 %). Train-side
    * cost is 4 exploded bit rows per shingle against a BROADCAST bit
    * table — the corpus never shuffles, which is the whole point at
    * 100 TB where the exact variant's shingle join cannot broadcast.
    * The report carries the EXACT overlap alongside (the fixture bench
    * is broadcastable), so every row quantifies the filter's own false
    * positives — bloom_flagged ≥ exact_contaminated always (no false
    * negatives, spec-asserted).
    */
  def bloomDecontam(s: SparkSession, dir: String): DataFrame =
    bloomDecontamOn(Tables.documents(s, dir))

  /** NOTE the bench shingle set stays cached for the life of the query
    * (it feeds the m-sizing count, the bit table, AND the exact-overlap
    * join) — callers that loop (Bench, Profile) clear caches
    * between invocations, which is the same contract every cached
    * operator here carries.
    */
  def bloomDecontamOn(docs: DataFrame): DataFrame = {
    // a 1/20th slice of src0 plays the benchmark (benchmarks are small;
    // the full src0 at sf1 would be an unrealistic 5% of the corpus)
    val bench = docs.filter(col("source") === "src0" &&
      col("doc_id") % 20 === 0)
    val train = docs.filter(col("source") =!= "src0")
    val benchSh = Dedup.shingles(bench).select("shingle").distinct().cache()
    val m = BloomSizes.find(
      _ >= BloomLoadFactor * math.max(benchSh.count(), 1L)).getOrElse(1L << 28)
    def bits(c: Column) = array((0 until BloomHashes).map(i =>
      conv(substring(md5(c), i * 7 + 1, 7), 16, 10).cast("long") % m): _*)
    val benchBits = benchSh
      .select(explode(bits(col("shingle"))).as("bit")).distinct()
    val trainSh = Dedup.shingles(train)
    val bloomDocs = trainSh
      .select(col("doc_id"), col("shingle"),
        explode(bits(col("shingle"))).as("bit"))
      .join(broadcast(benchBits), "bit")
      .groupBy("doc_id", "shingle").agg(count(lit(1)).as("nb"))
      .filter(col("nb") === BloomHashes)
      .groupBy("doc_id").agg(count(lit(1)).as("bloom_hits"))
    val exactDocs = trainSh.join(broadcast(benchSh), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("exact_hits"))
    train.select(col("doc_id"), col("source"))
      .join(bloomDocs, Seq("doc_id"), "left")
      .join(exactDocs, Seq("doc_id"), "left")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("bloom_hits") > 0, 1L).otherwise(0L))
          .as("bloom_flagged"),
        sum(when(col("exact_hits") > 0, 1L).otherwise(0L))
          .as("exact_contaminated"),
        sum(when(col("bloom_hits") > 0 && col("exact_hits").isNull, 1L)
          .otherwise(0L)).as("false_positives"))
  }

  /** Stratified deterministic sampling: per stratum (source), keep the k
    * docs with the smallest md5(doc_id) — a reproducible per-group quota
    * (the "take N per domain" curation step). One window sort per
    * stratum, no driver state; the hash order makes the quota stable
    * under repartitioning and engine changes.
    */
  def stratifiedSample(docs: DataFrame, perStratum: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= perStratum)
      .select(col("doc_id"), col("source"), col("rk"))
  }

  /** Sequence packing: assign docs (in doc_id order) to fixed
    * token-budget bins by prefix sum — the batch-shaping step before
    * training (greedy first-fit in id order). `bin = (cumsum -
    * n_tokens) div budget` gives each doc the bin its first token lands
    * in; a doc longer than the remaining budget spills into the next bin
    * (document-level packing, no splitting).
    *
    * The global prefix sum is TWO-PASS and shard-parallel: doc_ids
    * bucket into [[PackShards]] monotone equal-width ranges (every id in
    * shard i sorts before every id in shard i+1), each shard cumsums
    * independently under `partitionBy(shard)`, and the O(shards) shard
    * totals come to the driver for an exclusive scan that broadcasts
    * back as per-shard offsets. No corpus row passes through a
    * single-partition global sort — the serial piece is O(shards) — so
    * the identical plan holds on 100 TB with shards sized to the
    * cluster. Integer `div` (not float floor) keeps bins exact past
    * 2^53 cumulative tokens.
    *
    * Cache contract: the 2-col `base` projection pins under the suite's
    * documented per-query hygiene (Verify/Bench clear the SQL cache
    * after every query); a long-lived session embedding this operator
    * owns the unpersist of that frame once the result is consumed —
    * same contract as [[curateV3]]'s pinned stages.
    */
  def packSequences(docs: DataFrame, budget: Long,
      shards: Int = PackShards): DataFrame = {
    val toks = when(length(trim(col("text"))) === 0, lit(0L))
      .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
    // 2-col projection cached once: the id-range probe, the shard
    // totals, and the final pass all reuse it instead of re-running the
    // upstream pipeline (curate feeds multi-stage inputs through here)
    val base = docs.select(col("doc_id"), toks.as("n_tokens")).persist()
    val width = base.agg(max(col("doc_id"))).collect().headOption
      .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Number].longValue))
      .map(m => m / shards + 1).getOrElse(1L)
    val sharded = base.withColumn("shard", expr(s"doc_id div $width"))
    // pass 1 drives pass 2: per-shard totals → driver exclusive scan
    // (bounded: one row per shard) → broadcast offset table
    val totals = sharded.groupBy("shard").agg(sum(col("n_tokens")).as("tot"))
      .collect()
      .map(r => (r.getAs[Number]("shard").longValue,
        r.getAs[Number]("tot").longValue))
      .sortBy(_._1)
    var running = 0L
    val offsetRows = totals.map { case (sh, tot) =>
      val o = running; running += tot; (sh, o)
    }.toSeq
    val s = docs.sparkSession
    import s.implicits._
    val offsets = broadcast(offsetRows.toDF("shard", "offset"))
    val wLocal = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sharded
      .withColumn("local_cum", sum(col("n_tokens")).over(wLocal))
      .join(offsets, "shard")
      .select(col("doc_id"), col("n_tokens"),
        expr(s"(offset + local_cum - n_tokens) div $budget").as("bin"))
  }

  private val Window = org.apache.spark.sql.expressions.Window

  val SampleThreshold = "28"
  val ScrubPattern = "\\b(customer|supplier)\\b"
  val StratumQuota = 5
  val PackBudget = 2048L
  val PackShards = 32

  def sampleQuery(s: SparkSession, dir: String): DataFrame =
    sampleHash(Tables.documents(s, dir), SampleThreshold)

  def scrubQuery(s: SparkSession, dir: String): DataFrame =
    scrub(Tables.documents(s, dir), ScrubPattern, "<REDACTED>")

  def repetitionQuery(s: SparkSession, dir: String): DataFrame =
    repetition(Tables.documents(s, dir))

  /** src0 plays the benchmark split; everything else is training data. */
  def contaminationQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    contamination(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"))
  }

  /** The composed curation pipeline — what the individual passes exist
    * for, chained the way a real corpus build runs them:
    * quality-filter → exact-dedup (min-id keeper) → deterministic 50%
    * hash sample → token-budget sequence packing. Each stage is one of
    * the verified operators above; the composition itself is
    * oracle-checked end-to-end.
    */
  def curate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val good = docs.join(
      TextAnalysis.qualityScore(docs).filter(col("quality_points") >= 6),
      "doc_id")
    // dedup keeper via a window over the digest — one pass over `good`
    // (a keeper self-join would re-execute the quality subtree twice)
    val keeperW = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val sampled = good
      .withColumn("__rn", row_number().over(keeperW))
      .filter(col("__rn") === 1)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2) <= "7f")
    packSequences(sampled, PackBudget)
  }

  /** Incremental curation on the snapshot layer — the operational form
    * of [[curate]]'s gate+dedup stages at 100 TB, where re-curating the
    * corpus for every arriving batch is the thing you must never do.
    * The standing curated table lives in a [[graft.sources
    * .SnapshotTable]]; when a delta arrives, the pipeline (1) quality-
    * gates ONLY the delta (the gate is per-doc, so it commutes with the
    * split), (2) drops delta docs whose text digest already exists in
    * the curated table (incremental exact dedup — first arrival wins,
    * by anti-join against the state, not by re-clustering history),
    * (3) dedups within the delta (min-doc_id keeper), and (4) APPENDS
    * the survivors as the next snapshot. The DuckDB oracle recomputes
    * the whole thing from scratch with a first-arrival keeper rank —
    * the hash gate is therefore the incremental-equals-batch proof,
    * and `n_appended` (counted off [[graft.sources.SnapshotTable
    * .changesBetween]], the incremental read of exactly the appended
    * files) pins that the delta commit holds precisely the new docs.
    *
    * Scale: per increment the work is gate(|delta|) + one anti-join of
    * the delta's digests against the curated digest column — shuffle
    * bounded by |delta| + |state digests|; a production table would
    * bucket by digest so the anti-join co-locates (and [[curate]]'s
    * sampling/packing stages run downstream unchanged, as in the
    * composed pipelines). Day split: doc_id % 5 == 0 plays the
    * arriving batch.
    *
    * The anti-join reads the table's PERSISTED `digest` column
    * ([[standingDigests]]) — committed by [[curateStep]] alongside the
    * survivors — so no increment ever re-reads or re-hashes the
    * standing corpus's text bytes.
    */
  /** One incremental-curation step against a standing curated
    * [[graft.sources.SnapshotTable]] at `root`: quality-gate the
    * arriving `delta` (doc_id, source, text), drop docs whose text
    * digest already exists in the table (first arrival wins — an
    * anti-join against state, never a re-cluster of history), dedup
    * within the delta (min-doc_id keeper), APPEND the survivors — WITH
    * their digest as a stored column — as the next snapshot, and
    * return its id. The first step against an empty table is the
    * bootstrap — no state to join. [[curateIncremental]] gates the
    * two-step form; `Round10Spec` proves a three-step run equals the
    * from-scratch first-arrival batch recompute.
    *
    * Cost per increment: gate(|delta|) + one anti-join of the delta's
    * digests against [[standingDigests]] — the PERSISTED `digest`
    * column, a narrow columnar scan that never touches the standing
    * corpus's `text` bytes (parquet column pruning skips the text
    * pages entirely). The digest is computed ONCE, at commit time, on
    * exactly the rows that survive; it is never re-derived from state.
    * At 100 TB that is the difference between O(|delta| + |state
    * digests|) and re-reading the corpus per arriving batch.
    * `CurateStateSpec` locks the state read's schema to the digest
    * column alone.
    */
  def curateStep(s: SparkSession, delta: DataFrame, root: String,
      watermark: String): Long =
    graft.sources.SnapshotTable.commit(curedDelta(s, delta, root), root,
      props = Map("watermark" -> watermark))

  /** The curation of one arriving delta against the standing table at
    * `root`, WITHOUT the commit: quality gate, state anti-join on the
    * persisted digest column, within-delta min-doc_id keeper. The
    * frame [[curateStep]] appends — and the frame [[wapCurate]] STAGES
    * for audit instead.
    */
  private def curedDelta(s: SparkSession, delta: DataFrame,
      root: String): DataFrame = {
    import graft.sources.SnapshotTable
    val gated = delta.join(
      TextAnalysis.qualityScore(delta).filter(col("quality_points") >= 6),
      "doc_id").select(col("doc_id"), col("source"), col("text"))
      .withColumn("digest", md5(col("text")))
    val fresh =
      if (SnapshotTable.currentSnapshot(s, root) == 0L) gated
      else gated.join(standingDigests(s, root), Seq("digest"), "left_anti")
    val keeperW = Window.partitionBy(col("digest")).orderBy(col("doc_id"))
    fresh.withColumn("__rn", row_number().over(keeperW))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The standing curated table's dedup state: the stored `digest`
    * column, nothing else. Schema = (digest) by construction — the
    * spec-locked contract that keeps [[curateStep]]'s anti-join narrow.
    */
  def standingDigests(s: SparkSession, root: String): DataFrame =
    graft.sources.SnapshotTable.read(s, root).select("digest")

  def curateIncremental(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    // fresh root per invocation: the curated table is the unit under
    // test, so bench/verify re-runs must start empty, not append
    val root = java.nio.file.Files
      .createTempDirectory("graft_curate_inc").toString + "/curated"
    val docs = Tables.documents(s, dir)
      .select("doc_id", "source", "text")
    // the synthetic corpus has no exact text dups, so the arriving
    // batch PLANTS them deterministically: every doc_id % 7 doc is
    // re-submitted under a shifted id (a crawler re-fetch) — day-1
    // originals must be dropped by the state anti-join, day-2 originals
    // by the within-delta keeper; a broken drop path shifts sum_doc_id
    // by the planted ids and fails the hash
    val day2 = docs.filter(col("doc_id") % 5 === 0)
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    curateStep(s, docs.filter(col("doc_id") % 5 =!= 0), root, "day1")
    val v2 = curateStep(s, day2, root, "day2")
    val nAppended = SnapshotTable.changesBetween(s, root, v2 - 1, v2).count()
    SnapshotTable.read(s, root).groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"))
      .withColumn("n_appended", lit(nAppended))
  }

  /** Governance-gated ingest: [[curateIncremental]]'s pipeline with
    * the snapshot layer's write-audit-publish staging as the
    * enforcement point — the curated day-2 delta is STAGED
    * ([[graft.sources.SnapshotTable.commitWap]]), the audit checks the
    * curation's own invariant on the CANDIDATE state (globally unique
    * text digests — a narrow digest-column scan, text pages never
    * read), and only a clean candidate publishes. A raw day-3
    * resubmission of already-curated docs (the crawler re-fetch that
    * skipped the pipeline) stages, FAILS the same audit on its
    * duplicate digests, and drops — the standing table never saw it.
    * The final table therefore equals the two-day incremental curation
    * exactly (the oracle recomputes it from scratch with a
    * first-arrival keeper); `published_clean` / `dropped_raw` pin both
    * verdicts. This is the operational loop at 100 TB: curation
    * produces candidates, the audit enforces table invariants BEFORE
    * visibility, and a bad batch costs its own write — never a
    * rollback of the serving table.
    */
  def wapCurate(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files
      .createTempDirectory("graft_wap_curate").toString + "/curated"
    val docs = Tables.documents(s, dir)
      .select("doc_id", "source", "text")
    curateStep(s, docs.filter(col("doc_id") % 5 =!= 0), root, "day1")
    // day 2 arrives (incl. planted % 7 re-fetches under shifted ids);
    // the curated delta is staged, not committed
    val day2 = docs.filter(col("doc_id") % 5 === 0)
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    SnapshotTable.commitWap(curedDelta(s, day2, root), root, "day2")
    def dupDigests(wapId: String): Long =
      SnapshotTable.readWap(s, root, wapId)
        .groupBy("digest").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).limit(1).count()
    val published =
      if (dupDigests("day2") == 0L) {
        SnapshotTable.publishWap(s, root, "day2"); 1L
      } else 0L
    // day 3: a raw batch that SKIPPED curation — resubmitted copies of
    // standing texts under fresh ids; its duplicate digests fail the
    // audit and the stage drops
    SnapshotTable.commitWap(
      docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000L)
        .withColumn("digest", md5(col("text"))),
      root, "day3_raw")
    val droppedRaw =
      if (dupDigests("day3_raw") > 0L) {
        SnapshotTable.dropWap(s, root, "day3_raw"); 1L
      } else 0L
    SnapshotTable.read(s, root).groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"))
      .withColumn("published_clean", lit(published))
      .withColumn("dropped_raw", lit(droppedRaw))
  }

  /** Incremental materialized-view maintenance ([[IncrementalView]]):
    * the per-(source, lang) docs/chars dashboard of a curated corpus,
    * BOOTSTRAPPED once from the v1 table and then MAINTAINED purely
    * from the snapshot layer's row-level change feed — through an
    * append (fresh keys), a merge (band re-chunking grows `n_chars`;
    * the feed's `UB` pre-images are what let the view subtract the old
    * sizes), a copy-on-write key-band delete, and a merge-on-read
    * stats-blind delete. The hash gate proves the maintained view
    * equals the oracle's from-scratch recompute of the final corpus;
    * `used_preimages` pins that the merge step actually exercised the
    * pre-image path (a feed without `UB` rows could only pass by
    * accident). At 100 TB the rebuild scans the corpus; this scans the
    * increments — work per step is O(|delta| + |view|), the bound that
    * makes a per-commit dashboard affordable.
    */
  def imvQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    import org.apache.spark.sql.sources.{GreaterThan, LessThan, LessThanOrEqual}
    // fresh root per invocation: the table is the unit under test
    val root = java.nio.file.Files
      .createTempDirectory("graft_imv").toString + "/corpus"
    val docs = Tables.documents(s, dir)
      .select("doc_id", "source", "lang", "n_chars")
    val mx = docs.agg(max("doc_id")).head.getAs[Number](0).longValue
    val (m1, m2, m3, m4) = (mx / 5, mx * 2 / 5, mx * 3 / 5, mx * 4 / 5)
    SnapshotTable.commit(docs.repartitionByRange(8, col("doc_id")), root,
      statsCol = Some("doc_id")) // v1
    val view1 = IncrementalView.build(SnapshotTable.readAt(s, root, 1L),
      Seq("source", "lang"), Seq("n_chars"))
    SnapshotTable.commit( // v2: append, fresh keys
      docs.filter(col("doc_id") % 7 === 3)
        .withColumn("doc_id", col("doc_id") + 10000000L)
        .withColumn("n_chars", col("n_chars") + 11L),
      root, statsCol = Some("doc_id"))
    val updates = docs // v3: band re-chunk + beyond-range inserts
      .filter(col("doc_id") > m1 && col("doc_id") <= m2)
      .withColumn("n_chars", col("n_chars") + 1000L)
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + 20000000L))
    SnapshotTable.merge(updates, root, "doc_id")
    SnapshotTable.deleteWhere(s, root, // v4: COW key-band delete
      Seq(GreaterThan("doc_id", m3), LessThanOrEqual("doc_id", m4)))
    val (v5, _, _, _) = SnapshotTable.deleteWhereMor(s, root, // v5: MOR
      Seq(LessThan("n_chars", 400L)))
    val feed = SnapshotTable.changeFeed(s, root, 1L, v5)
    val maintained = IncrementalView.maintain(feed = feed, view = view1,
      groupCols = Seq("source", "lang"), sumCols = Seq("n_chars"))
    val nUb = feed.filter(col("_op") === "UB").limit(1).count()
    maintained
      .withColumn("used_preimages", lit(if (nUb > 0) 1L else 0L))
  }

  /** Fuzzy self-match: pairs of records whose names are within
    * `maxDist` edits — the entity-resolution primitive (merge variant
    * spellings before dedup). Blocking: levenshtein(a,b) >= |len(a) -
    * len(b)|, so each left row probes only the 2·maxDist+1 length bands
    * a match can live in — an equi-join on (band), not an O(n²) cross
    * product; the exact distance then filters the banded candidates.
    * Each unordered pair joins in exactly one band (the right name's
    * single length), so no dedup pass is needed.
    *
    * Length banding helps on varied-length corpora; on a degenerate one
    * (uniform-length near-identical serials — the synthetic supplier
    * names are the extreme case, where essentially EVERY pair is a true
    * match) the output itself is quadratic and no blocking scheme can
    * beat output size. Corpora like that want stronger keys first
    * (q-gram segment signatures) feeding this same verify step.
    */
  def fuzzyPairs(rows: DataFrame, idCol: String, nameCol: String,
      maxDist: Int): DataFrame = {
    val l = rows.select(col(idCol).as("id_a"), col(nameCol).as("name_a"),
      explode(sequence(
        length(col(nameCol)) - maxDist,
        length(col(nameCol)) + maxDist)).as("band"))
    val r = rows.select(col(idCol).as("id_b"), col(nameCol).as("name_b"),
      length(col(nameCol)).as("band"))
    l.join(r, Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  def fuzzyQuery(s: SparkSession, dir: String): DataFrame =
    fuzzyPairs(Tables.apply(s, dir, "supplier"), "s_suppkey", "s_name", 2)

  def stratifiedQuery(s: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.documents(s, dir), StratumQuota)

  def packQuery(s: SparkSession, dir: String): DataFrame =
    packSequences(Tables.documents(s, dir), PackBudget)

  /** Z-order (Morton) bit interleave of two bounded ints — the
    * space-filling-curve index behind data-skipping layouts (Delta/
    * Iceberg OPTIMIZE ZORDER): rows sorted or bucketed by z put
    * multi-dimensionally-close rows in the same file, so min/max file
    * stats prune BOTH dimensions. Pure codegen'd bit arithmetic
    * (shift/and/or chain), no UDF.
    */
  val ZBits = 8

  def zorderIndex(x: Column, y: Column, bits: Int = ZBits): Column =
    zorderIndexN(Seq(x, y), bits)

  /** N-dimensional Morton interleave: bit `b` of dimension `i` lands
    * at position `b * N + i`, so the curve tiles the N-cube and a
    * range-partitioned layout on it clusters EVERY dimension at once.
    * Still a pure codegen'd shift/and/or chain; `bits * N` must fit a
    * signed long.
    */
  def zorderIndexN(dims: Seq[Column], bits: Int = ZBits): Column = {
    require(dims.nonEmpty && bits * dims.size <= 63,
      s"zorderIndexN: ${dims.size} dims x $bits bits must fit a long")
    val n = dims.size
    (for {
      b <- 0 until bits
      (d, i) <- dims.zipWithIndex
    } yield shiftleft(shiftright(d, b).bitwiseAND(lit(1L)), b * n + i))
      .reduce(_ bitwiseOR _)
  }

  /** Z-bucket layout report over lineitem (part x supplier dims): each
    * z div 256 bucket is a 16x16 tile in (x, y) space — the x/y min/max
    * columns PROVE the locality (every bucket spans <= 16 in each
    * dimension, where a single-dimension sort would span the full 256 in
    * the other). One combinable aggregation; the z expression itself is
    * what a writer would `repartitionByRange` on at scale.
    */
  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .select(
        pmod(col("l_partkey"), lit(256L)).as("x"),
        pmod(col("l_suppkey"), lit(256L)).as("y"),
        col("l_quantity"))
      .withColumn("z", zorderIndex(col("x"), col("y")))
      .groupBy(expr("z div 256").as("z_bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("z")).as("z_min"), max(col("z")).as("z_max"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  /** Deterministic span-corruption masking (the T5/BERT pretraining data
    * transform): token position (doc, pos) is masked iff its md5-derived
    * hash lands in the mask rate — reproducible across runs, workers,
    * and partitionings, which is what a resumable preprocessing job
    * needs (re-running a failed shard masks the SAME positions). Output
    * per doc: token count, mask count, and the ordered masked-position
    * list (serialized — the gate cannot hash array cells).
    */
  val MaskRate = 5 // mask 1-in-5 positions

  def spanMask(docs: DataFrame): DataFrame = {
    import graft.ops.Sketches.h48
    val toks = OpUtil.spread(docs)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ", -1)).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
    val masked = pmod(
      h48(concat(col("doc_id"), lit(":"), col("pos"))), lit(MaskRate)) === 0
    toks
      .select(col("doc_id"), col("pos"), col("tok"),
        masked.cast("long").as("m"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("m")).as("n_masked"),
        array_join(transform(
          array_sort(collect_list(when(col("m") === 1, col("pos")))),
          _.cast("string")), ",").as("masked_positions"),
        sum(when(col("m") === 1, length(col("tok"))).otherwise(0L))
          .as("masked_chars"))
  }

  /** Deterministic global shuffle + shard assignment — the last step
    * before a training run: every doc gets a reproducible pseudo-random
    * position (rank in md5-hash order) and a shard (hash mod
    * [[ShuffleShards]]) with its position inside that shard, so any
    * data-loader worker can reconstruct its exact read order from the
    * doc ids alone.
    *
    * The global rank is the [[packSequences]] sharded-prefix-sum shape,
    * NOT a global window: the 48-bit hash space splits into
    * [[RankShards]] equal-width monotone ranges (every h in range i
    * sorts before every h in range i+1, and equal hashes share a
    * range), each range ranks independently under `partitionBy(range)`,
    * and one O(ranges × shards) count aggregate comes to the driver for
    * the exclusive scans that broadcast back as offsets — global rank =
    * range offset + local rank, shard position = per-shard range offset
    * + local per-shard rank. No corpus row passes through a
    * single-partition sort; the serial piece is O(ranges × shards), so
    * the identical plan holds on 100 TB with ranges sized to the
    * cluster.
    *
    * Cache contract: the 3-col `base` projection pins under the suite's
    * documented per-query hygiene (Verify/Bench clear the SQL cache
    * after every query); a long-lived session embedding this operator
    * owns the unpersist of that frame once the result is consumed —
    * same contract as [[curateV3]]'s pinned stages.
    */
  val ShuffleShards = 8
  val RankShards = 32

  def shuffleShard(docs: DataFrame): DataFrame = {
    import graft.ops.Sketches.h48
    val rangeWidth = (1L << 48) / RankShards
    // 3-col projection cached once: the count pass and the rank pass
    // both reuse it instead of re-running the upstream pipeline (the
    // curate compositions feed multi-stage inputs through here)
    val base = docs
      .select(col("doc_id"), h48(concat(lit("shuf|"), col("doc_id"))).as("h"))
      .withColumn("shard", pmod(col("h"), lit(ShuffleShards)))
      .withColumn("rg", expr(s"h div $rangeWidth"))
      .persist()
    // pass 1 drives pass 2: (range, shard) counts → driver exclusive
    // scans (bounded: RankShards × ShuffleShards rows) → broadcast
    val counts = base.groupBy("rg", "shard").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => ((r.getAs[Number]("rg").longValue,
        r.getAs[Number]("shard").longValue), r.getAs[Long]("n")))
      .toMap
    val ranges = counts.keys.map(_._1).toSeq.distinct.sorted
    val shards = counts.keys.map(_._2).toSeq.distinct.sorted
    var g = 0L
    val perShardRun = scala.collection.mutable.Map
      .empty[Long, Long].withDefaultValue(0L)
    val offsetRows = ranges.flatMap { rg =>
      val goff = g
      g += shards.iterator.map(sh => counts.getOrElse((rg, sh), 0L)).sum
      shards.flatMap { sh =>
        counts.get((rg, sh)).map { n =>
          val soff = perShardRun(sh)
          perShardRun(sh) = soff + n
          (rg, sh, goff, soff)
        }
      }
    }
    val s = docs.sparkSession
    import s.implicits._
    val offsets = broadcast(offsetRows.toDF("rg", "shard", "goff", "soff"))
    val wRange = Window.partitionBy(col("rg"))
      .orderBy(col("h"), col("doc_id"))
    val wRangeShard = Window.partitionBy(col("rg"), col("shard"))
      .orderBy(col("h"), col("doc_id"))
    base
      .withColumn("lr", row_number().over(wRange).cast("long"))
      .withColumn("ls", row_number().over(wRangeShard).cast("long"))
      .join(offsets, Seq("rg", "shard"))
      .select(col("doc_id"), col("shard"),
        (col("goff") + col("lr")).as("shuffle_rank"),
        (col("soff") + col("ls")).as("pos_in_shard"))
  }

  /** Quality-WEIGHTED sampling: each doc's keep probability scales with
    * its integer quality band (rate = 20 + 8*points, capped at 100%) and
    * the keep decision is the deterministic hash rule — better text is
    * sampled harder, junk still trickles through at the floor rate.
    * This is the upweighting curation step between pure filtering
    * (gopher/quality gates) and uniform sampling; both inputs are
    * already oracle-checked operators, so the composition is too.
    */
  def qualityWeightedSample(docs: DataFrame): DataFrame = {
    import graft.ops.Sketches.h48
    val scored = TextAnalysis.qualityScore(docs)
    val rate = least(lit(20) + col("quality_points") * 8, lit(100))
    docs.select(col("doc_id"), col("source"))
      .join(scored, "doc_id")
      .withColumn("rate_pct", rate)
      .filter(pmod(h48(concat(lit("qw|"), col("doc_id"))), lit(100))
        < col("rate_pct"))
      .select(col("doc_id"), col("source"), col("quality_points"),
        col("rate_pct"))
  }

  /** Fixed-size weighted sampling via PRIORITY sampling (Duffield-Lund-
    * Thorup): every doc gets priority w/u with u a deterministic
    * hash-uniform in (0,1], realized all-integer as
    * (w * 2^48) div (h48(doc_id)+1); the k largest priorities are the
    * sample. Where [[qualityWeightedSample]] is Bernoulli (a rate per
    * doc, variable output size), this pins the BUDGET — exactly k docs
    * out, token-heavy docs proportionally likelier in — the shape used
    * to cut a fixed-size weighted subset from an unbounded corpus.
    * Top-k evaluates as TakeOrdered (per-partition k-heads merged on the
    * driver, k rows of driver state), never a global sort; weights clamp
    * to 2^15 - 1 so w * 2^48 <= 2^63 - 2^48 stays inside BIGINT (at
    * exactly 2^15 the product is 2^63: Spark non-ANSI wraps it negative
    * and the doc could never be sampled, DuckDB throws on the multiply).
    */
  val WeightedSampleK = 50
  val WeightedSampleWCap = 32767L

  def weightedSample(docs: DataFrame, k: Int = WeightedSampleK): DataFrame = {
    import graft.ops.Sketches.h48
    val toks = when(length(trim(col("text"))) === 0, lit(0L))
      .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
    docs
      .select(col("doc_id"),
        least(greatest(toks, lit(1L)), lit(WeightedSampleWCap)).as("w"),
        (h48(concat(lit("ws|"), col("doc_id"))) + 1).as("u"))
      .withColumn("priority", expr(s"(w * ${1L << 48}) div u"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("w"), col("priority"))
  }

  /** Token-budget apportionment across sources — the data-mixing PLAN a
    * training run is configured from: split a fixed token budget over
    * sources proportionally to their mixture weights using the
    * largest-remainder (Hamilton) method, so allocations are integers,
    * sum EXACTLY to the budget, and each sits within one token of exact
    * proportionality. `epochs_fp` (allocation / tokens available, 1e6
    * fixed point) is the oversampling factor the plan implies — the
    * signal that a high-weight small source will repeat.
    *
    * Everything after the per-source token sum runs on one row per
    * SOURCE (config-table cardinality, not corpus): the ranking window
    * is bounded by the source count, and the two one-row totals
    * broadcast. All integer, deterministic tiebreak by source name.
    */
  val TokenBudget = 1000000L

  def tokenBudget(docs: DataFrame, budget: Long = TokenBudget): DataFrame = {
    val toks = when(length(trim(col("text"))) === 0, lit(0L))
      .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
    // a source name with no digits gets default weight 1 (coalesce the
    // failed extract to 0, then 0 % 4 + 1): regexp_extract returns '' on
    // no match in BOTH engines, but ''::INT is null in Spark and an error
    // in DuckDB — coalescing on both sides makes them agree by value
    // instead of diverging silently vs loudly
    val src = docs
      .select(col("source"), toks.as("t"),
        (coalesce(regexp_extract(col("source"), "(\\d+)", 1).cast("int"),
          lit(0)) % 4 + 1).cast("long").as("w"))
      .groupBy("source", "w").agg(sum(col("t")).as("n_tokens"))
      // a zero-token source cannot supply tokens: excluding it BEFORE
      // apportionment redistributes its share instead of silently
      // forfeiting it when epochOrder materializes the schedule (the
      // plan-vs-schedule invariant: sum(alloc) == realized budget)
      .filter(col("n_tokens") > 0)
    val tot = src.agg(sum(col("w")).as("tw"))
    val based = src.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($budget * w) div tw"))
      .withColumn("rem", expr(s"($budget * w) % tw"))
    val leftover = based.agg((lit(budget) - sum(col("base"))).as("k"))
    based.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))))
      .withColumn("alloc",
        col("base") + when(col("rk") <= col("k"), 1L).otherwise(0L))
      .select(col("source"), col("w").as("weight"), col("n_tokens"),
        col("alloc"),
        // n_tokens > 0 guaranteed by the zero-source filter above, so
        // the integer div is safe unguarded
        expr("alloc * 1000000 div n_tokens").as("epochs_fp"))
  }

  /** The training-run SCHEDULE a mixture plan implies: materialize
    * [[tokenBudget]]'s allocation as an explicit (doc, epoch) order —
    * `alloc div n_tokens` full passes over each source plus one
    * truncated final pass, docs within a pass in the deterministic
    * shuffle-hash order, the final pass cut where the per-source
    * running token total exceeds the remaining budget. Composition of
    * three already-oracle-checked pieces (apportionment, shuffle order,
    * token counts), so the schedule hash-checks end-to-end.
    *
    * Scale shape: one window per source for the running total (the
    * shard-parallel property — no global ordering), epoch fan-out via
    * `sequence`/explode bounded by the oversampling factor, and the
    * allocation table is config-cardinality. This is the op that turns
    * a mixing CONFIG into the byte stream a trainer consumes.
    */
  def epochOrder(docs: DataFrame): DataFrame = {
    import graft.ops.Sketches.h48
    val budget = tokenBudget(docs)
      .select(col("source"), col("n_tokens"), col("alloc"))
    val toks = when(length(trim(col("text"))) === 0, lit(0L))
      .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"), toks.as("t"),
        h48(concat(lit("shuf|"), col("doc_id"))).as("h"))
      .withColumn("cum", sum(col("t")).over(w))
      .join(budget, "source")
      .withColumn("passes", expr("alloc div n_tokens"))
      .withColumn("rem", expr("alloc % n_tokens"))
      .withColumn("epoch", explode(expr(
        "filter(sequence(0, passes), e -> e < passes OR cum <= rem)")))
      .select(col("doc_id"), col("source"), col("epoch"),
        row_number().over(Window.partitionBy(col("source"), col("epoch"))
          .orderBy(col("h"), col("doc_id"))).as("pos"))
  }

  /** The round-4 curation pipeline composed end-to-end: Gopher rule
    * gates drop structural junk, quality-weighted sampling thins what
    * remains (better text kept harder), and the survivors get their
    * deterministic shuffle+shard assignment — document in, training
    * shard position out, every stage an already-oracle-checked operator,
    * so the COMPOSITION hash-checks too (the property that matters:
    * operators that verify alone must verify chained).
    */
  def curateV2(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // r16: the gate verdict is fused into the scan (gopherKeep) — the
    // former docs ⋈ (gopherRules WHERE pass=1) self-join re-scanned and
    // SHUFFLED the text corpus to re-attach rows the filter keeps in
    // place (doc_id unique → inner self-join = filter)
    val sampled = qualityWeightedSample(docs).select(col("doc_id"))
    val kept = TextAnalysis.gopherKeep(docs).join(sampled, "doc_id")
    shuffleShard(kept)
  }

  /** The FULL governance curation pipeline composed end-to-end — the
    * round-8 additions chained the way a corpus release actually runs,
    * with NO re-materialization between stages (each stage is a lazy
    * frame over the previous one; one job computes the lot):
    *
    *   1. QUALITY gate: Gopher structural rules drop junk docs;
    *   2. DEDUP canonicalization over the gated corpus: near-dup
    *      clusters (prefix-filtered Jaccard + connected components)
    *      collapse to their keep-longest winner, losers drop;
    *   3. DECONTAMINATION: docs sharing any shingle with the benchmark
    *      split (the src0 slice) drop — the exact-verification arm of
    *      `pipe_bloom_decontam`;
    *   4. the survivors get a DP-RELEASED DATASET CARD (per-source doc/
    *      char/unique counts with the geometric-noise released count) and
    *   5. an EPOCH-ORDER training schedule, summarized per source
    *      (scheduled rows, epochs, position checksum).
    *
    * Every stage is an already-oracle-checked operator; this query
    * (`pipe_curate_v3`, hash-gated against the composed DuckDB oracle)
    * checks the COMPOSITION — the property a pipeline user needs:
    * operators that verify alone must verify chained, including the
    * places where one stage's survivor set changes the next stage's
    * statistics (the schedule's apportionment shifts when dedup drops a
    * source's tokens, the card's unique counts see post-dedup text).
    *
    * Cache contract: `gated`/`clean` pin under the suite's documented
    * per-query hygiene (Verify/Bench clear the SQL cache after every
    * query); a long-lived session embedding this pipeline owns the
    * unpersist of the two frames once the result is consumed.
    */
  def curateV3(s: SparkSession, dir: String): DataFrame =
    curateV3Staged(s, dir, identity)

  /** [[curateV3]] with a barrier hook applied after each stage — prod is
    * `identity` (one lazy plan end-to-end); the composition spec passes
    * `_.localCheckpoint(true)` to force stage-by-stage materialization
    * and asserts the results are identical.
    */
  private[graft] def curateV3Staged(s: SparkSession, dir: String,
      barrier: DataFrame => DataFrame): DataFrame = {
    import graft.ops.{Dedup, TextAnalysis}
    val docs = Tables.documents(s, dir)
    // 1. quality gate — cached: feeds the pair chain, the election, the
    // decontam shingles and the survivor joins. r16: the verdict is
    // fused into the scan (gopherKeep) — the former
    // docs ⋈ (gopherRules WHERE pass=1) self-join re-scanned and
    // SHUFFLED the text corpus to re-attach rows the filter keeps in
    // place (doc_id unique → inner self-join = filter)
    val gated = barrier(TextAnalysis.gopherKeep(docs).cache())
    // 2. near-dup canonicalization over the GATED corpus
    val clusters = Dedup.clustersFromPairs(s, Dedup.prefixJaccardDocs(gated))
    val losers = clusters.join(
        Dedup.canonicalFromLabels(gated, clusters)
          .select(col("cluster").as("canonical"), col("kept_doc")),
        "canonical")
      .filter(col("doc_id") =!= col("kept_doc"))
      .select("doc_id")
    val deduped = barrier(gated.join(losers, Seq("doc_id"), "left_anti"))
    // 3. exact decontamination against the benchmark slice
    val bench = deduped.filter(col("source") === "src0" &&
      col("doc_id") % 20 === 0)
    val benchSh = Dedup.shingles(bench).select("shingle").distinct()
    val contaminated = Dedup.shingles(deduped.filter(col("source") =!= "src0"))
      .join(broadcast(benchSh), "shingle")
      .select("doc_id").distinct()
    val clean =
      barrier(deduped.join(contaminated, Seq("doc_id"), "left_anti").cache())
    // 4 + 5. card, DP release, schedule summary over the survivors
    val card = clean.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("total_chars"),
      countDistinct(md5(col("text"))).as("n_unique_texts"))
    val dp = dpRelease(clean)
      .select(col("source"), col("noise"), col("released"))
    val sched = epochOrder(clean).groupBy("source").agg(
      count(lit(1)).as("n_sched"),
      countDistinct(col("epoch")).as("n_epochs"),
      sum(col("pos")).as("sched_checksum"))
    card.join(dp, "source").join(sched, "source")
  }

  /** Length-bucketed batching report: docs pad to the next power-of-two
    * token length (the bucketed-batching scheme that bounds padding at
    * <= 2x), and the report shows per-bucket volume and the padding
    * waste bucketing exists to control. pow/log2 on integers are exact
    * in doubles (powers of two are representable; log2 of a non-power
    * can't land on an integer), so bucket edges are engine-proof; one
    * combinable aggregation, map-side only before the shuffle.
    */
  def lengthBuckets(docs: DataFrame): DataFrame = {
    val toks = when(length(trim(col("text"))) === 0, lit(0L))
      .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
    docs.select(toks.as("n_tokens"))
      .withColumn("pad_to",
        pow(lit(2.0), ceil(log(2.0, greatest(col("n_tokens"), lit(1L)))))
          .cast("long"))
      .groupBy("pad_to")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
        sum(col("pad_to") - col("n_tokens")).as("sum_waste"))
      .withColumn("waste_pct", expr("sum_waste * 100 div (n_docs * pad_to)"))
  }

  // the Hamilton-apportionment CTE chain ending at
  // allocs(source, w, n_tokens, alloc) — shared by the token-budget
  // report, the epoch-order schedule oracle, and the composed curation
  // oracle (which runs it over a staged corpus CTE instead of the raw
  // table). tt carries per-doc tokens + the shuffle hash so the
  // schedule CTEs can continue from it
  private[graft] def tokenBudgetCtesOver(table: String): String =
    s"""tt AS (
       |  SELECT doc_id, source,
       |    (coalesce(try_cast(regexp_extract(source, '(\\d+)', 1) AS INT),
       |      0) % 4 + 1)::BIGINT AS w,
       |    (CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
       |      END)::BIGINT AS tk,
       |    ${graft.ops.Sketches.sqlH48("'shuf|' || doc_id::VARCHAR")} AS h
       |  FROM $table),
       |src AS (
       |  SELECT source, w, sum(tk)::BIGINT AS n_tokens FROM tt
       |  GROUP BY 1, 2 HAVING sum(tk) > 0),
       |tot AS (SELECT sum(w)::BIGINT AS tw FROM src),
       |based AS (
       |  SELECT source, w, n_tokens,
       |    ($TokenBudget * w) // tw AS base,
       |    ($TokenBudget * w) % tw AS rem
       |  FROM src CROSS JOIN tot),
       |lo AS (SELECT $TokenBudget - sum(base)::BIGINT AS k FROM based),
       |ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
       |  FROM based),
       |allocs AS (
       |  SELECT source, w, n_tokens,
       |    base + (CASE WHEN rk <= k THEN 1 ELSE 0 END) AS alloc
       |  FROM ranked CROSS JOIN lo)""".stripMargin

  // the epoch-schedule CTE chain continuing from tt + allocs, ending at
  // sched(doc_id, source, epoch, pos) — shared the same way
  private[graft] val scheduleCtes: String =
    """cum AS (
      |  SELECT doc_id, source, h,
      |    sum(tk) OVER (PARTITION BY source ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
      |      AS cum
      |  FROM tt),
      |j AS (
      |  SELECT c.doc_id, c.source, c.h, c.cum,
      |    a.alloc // a.n_tokens AS passes, a.alloc % a.n_tokens AS rem
      |  FROM cum c JOIN allocs a USING (source)
      |  WHERE a.n_tokens > 0),
      |e AS (
      |  SELECT doc_id, source, h, cum, passes, rem,
      |    unnest(generate_series(0, passes)) AS epoch
      |  FROM j),
      |sched AS (
      |  SELECT doc_id, source, epoch,
      |    row_number() OVER (PARTITION BY source, epoch
      |      ORDER BY h, doc_id) AS pos
      |  FROM e WHERE epoch < passes OR cum <= rem)""".stripMargin

  private lazy val tokenBudgetCtes: String =
    "WITH " + tokenBudgetCtesOver("documents")

  /** Privacy budget for [[dpRelease]] (per-record epsilon of the
    * geometric mechanism).
    */
  val DpEps = 1.0

  /** Differentially-private release of per-source document counts — the
    * governance step between a private corpus and a publishable stats
    * table. Mechanism: two-sided geometric (discrete Laplace) noise,
    * the exact-integer counterpart of Laplace for counting queries:
    * noise = G1 - G2 with Gi = floor(ln(u_i)/ln(alpha)), alpha =
    * exp(-eps). The uniforms derive from the 48-bit md5 hash of
    * (group, salt), so the release is REPRODUCIBLE AND AUDITABLE given
    * the salt — in production the salt is a per-release secret (a
    * public salt would let noise be subtracted back out); the seeded
    * determinism is also exactly what makes the mechanism
    * oracle-checkable. alpha and ln(alpha) are precomputed driver-side
    * and embedded as double literals in BOTH engines, so the only
    * in-engine float work is ln(u)/lnAlpha — one division per group,
    * floor-stable. Shape: one combinable count + per-group scalar math;
    * no extra shuffle.
    */
  def dpRelease(docs: DataFrame, eps: Double = DpEps,
      salt: String = "dp"): DataFrame = {
    val alpha = math.exp(-eps)
    val lnAlpha = math.log(alpha)
    val denom = 281474976710656.0 // 2^48
    def geom(tag: String): org.apache.spark.sql.Column =
      floor(log((graft.ops.Sketches.h48(
        concat(col("source"), lit(s"#$tag#$salt"))) + 1) / lit(denom))
        / lit(lnAlpha))
    docs.groupBy("source").agg(count(lit(1)).as("n_true"))
      .withColumn("noise", (geom("1") - geom("2")).cast("long"))
      .select(col("source"), col("n_true"), col("noise"),
        greatest(lit(0L), col("n_true") + col("noise")).as("released"))
  }

  private[graft] def dpOracle(eps: Double = DpEps, salt: String = "dp",
      table: String = "documents"): String = {
    val lnAlpha = math.log(math.exp(-eps))
    def geom(tag: String): String =
      s"floor(ln((${graft.ops.Sketches.sqlH48(s"source || '#$tag#$salt'")} + 1)" +
        s" / 281474976710656.0) / $lnAlpha)"
    s"""WITH c AS (
       |  SELECT source, count(*)::BIGINT AS n_true
       |  FROM $table GROUP BY source),
       |n AS (
       |  SELECT source, n_true,
       |    (${geom("1")} - ${geom("2")})::BIGINT AS noise
       |  FROM c)
       |SELECT source, n_true, noise,
       |  greatest(0, n_true + noise)::BIGINT AS released
       |FROM n""".stripMargin
  }

  /** Per-source dataset card — the datasheet table a corpus release
    * ships (docs, volume, language spread, exact-dup rate): one grouped
    * pass over the documents table, every statistic an exact integer.
    * The two DISTINCT aggregates (langs, unique text hashes) ride
    * Spark's Expand-based multi-distinct rewrite — a 3× row expansion
    * before the partial agg, the standard trade for exact multi-distinct
    * in one pass; at 100 TB the hash distinct would switch to an HLL
    * column (`sketch_hll`) if ±2 % were acceptable.
    */
  def datasetCard(docs: DataFrame): DataFrame =
    docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("total_chars"),
      countDistinct(col("lang")).as("n_langs"),
      expr("sum(n_chars) div count(1)").as("avg_chars"),
      max(col("n_chars")).as("max_chars"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
      countDistinct(md5(col("text"))).as("n_unique_texts"))

  /** Class-size threshold for [[kAnonymity]]. */
  val KAnonK = 5L

  /** k-anonymity audit — the companion governance check to [[dpRelease]]:
    * before a record-level release, every quasi-identifier equivalence
    * class (event_type, hour-of-day, 5-unit value band) smaller than k
    * must be suppressed. The audit reports, per event type, how many
    * classes exist, how many rows suppression would drop, and how many
    * survive — the number a privacy review signs off on. All arithmetic
    * is integer (value rounds to cents, bands are `cents div 500`), so
    * the audit hash-checks cross-engine.
    *
    * Scale shape: two chained combinable aggregations (rows → classes →
    * per-type report); the first groups on the QI tuple with map-side
    * partial agg, the second is |types|·|classes| sized. No joins, no
    * windows — the cheapest shape the semantics allow.
    */
  def kAnonymity(events: DataFrame): DataFrame = {
    val classes = events
      .select(col("event_type"), hour(col("ts")).as("hr"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("vband", expr("cents div 500"))
      .groupBy("event_type", "hr", "vband")
      .agg(count(lit(1)).as("sz"))
    classes.groupBy("event_type").agg(
      count(lit(1)).as("n_classes"),
      sum(when(col("sz") < KAnonK, 1L).otherwise(0L)).as("suppressed_classes"),
      sum(when(col("sz") < KAnonK, col("sz")).otherwise(0L)).as("suppressed_rows"),
      sum(when(col("sz") >= KAnonK, col("sz")).otherwise(0L)).as("published_rows"),
      max(col("sz")).as("max_class_size"))
  }

  val Z2Threshold = 9L // 3-sigma, squared

  /** Outlier flagging in EXACT integer arithmetic — the curation
    * filter that drops anomalous records before training, with a
    * cross-engine-checkable trajectory: z² > 9 (3σ on the population
    * variance) rewritten by cross-multiplication so no division or
    * float ever happens — flag x where (n·x − s)² > 9·(n·q − s²), with
    * (n, s, q) = per-group (count, Σx, Σx²) over value cents. The
    * squared terms pass through DECIMAL(38,0) (HUGEINT on the oracle
    * side): |n·x − s| ≤ ~1e13 at sf1000, squared ~1e26 — exact to
    * ~sf1e9, and Spark NULLs (loudly) on decimal overflow rather than
    * wrapping.
    *
    * Scale shape: one combinable per-type aggregation (|event_type|
    * rows), re-joined broadcast; the flag predicate is whole-stage
    * codegen over the scan — no second shuffle.
    */
  private val Dec38 = org.apache.spark.sql.types.DecimalType(38, 0)

  private def outlierBase(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("x"))

  /** The per-type sufficient statistics (n, Σx, Σx²) — combinable, so
    * they run identically as a batch aggregate or a Complete-mode
    * streaming one (state = three numbers per type, O(types) forever).
    */
  private[graft] def outlierStats(b: DataFrame): DataFrame =
    b.groupBy("event_type").agg(
      count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum((col("x") * col("x")).cast(Dec38)).as("q"))

  private[graft] def outlierJoin(b: DataFrame, stats: DataFrame): DataFrame = {
    val diff = (col("x") * col("n") - col("s")).cast(Dec38)
    val z2num = (diff * diff).as("z2n")
    val varnum = (col("n").cast(Dec38) * col("q")
      - col("s").cast(Dec38) * col("s").cast(Dec38)).as("vn")
    b.join(broadcast(stats), "event_type")
      .select(col("event_id"), col("event_type"),
        col("x").as("value_cents"), z2num, varnum)
      .filter(col("z2n") > lit(Z2Threshold) * col("vn"))
      .select(col("event_id"), col("event_type"), col("value_cents"),
        col("z2n").cast("string").as("z2_num"),
        col("vn").cast("string").as("var_num"))
  }

  def outlierFlags(events: DataFrame): DataFrame = {
    val b = outlierBase(events)
    outlierJoin(b, outlierStats(b))
  }

  /** STREAMING outlier detection: the [[outlierStats]] aggregation runs
    * AS the stream (Complete mode, the [[graft.ops.MlOps.linregStream]]
    * pattern), and the finalized per-type stats gate the batch table —
    * proving the anomaly model trains arrival-order-independently on an
    * unbounded feed. Shares the pipe_outliers oracle verbatim.
    */
  def outlierStream(s: SparkSession, dir: String): DataFrame = {
    val streamed = outlierStats(outlierBase(
      graft.streaming.EventStreams.eventStream(s, dir)))
    val stats = graft.streaming.EventStreams.runToMemorySink(s, streamed,
      org.apache.spark.sql.streaming.OutputMode.Complete)
    outlierJoin(outlierBase(Tables.events(s, dir)), stats)
      .localCheckpoint(true)
  }

  /** Label-balanced resampling — the class-balancing step before
    * training a classifier on skewed labels: every label keeps exactly
    * cap = min class count rows, chosen by the content-addressed
    * md5(vec_id) order (the [[sampleHash]] determinism stance: stable
    * under repartitioning, retries, and engines). One window per label
    * partition; the cap probe is a single O(|labels|) aggregate.
    */
  def classBalance(emb: DataFrame): DataFrame = {
    val counts = emb.groupBy("label").agg(count(lit(1)).as("n"))
    val cap = counts.agg(min(col("n"))).head().getLong(0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    emb.select(col("vec_id"), col("label").cast("long").as("label"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_class_balance" -> ((s: SparkSession, d: String) =>
      classBalance(Tables.embeddings(s, d))),
    "pipe_outliers" -> ((s: SparkSession, d: String) =>
      outlierFlags(Tables.events(s, d))),
    "stream_outliers" -> (outlierStream _),
    "pipe_dp_release" -> ((s: SparkSession, d: String) =>
      dpRelease(Tables.documents(s, d))),
    "pipe_k_anonymity" -> ((s: SparkSession, d: String) =>
      kAnonymity(Tables.events(s, d))),
    "pipe_dataset_card" -> ((s: SparkSession, d: String) =>
      datasetCard(Tables.documents(s, d))),
    "pipe_length_buckets" -> ((s: SparkSession, d: String) =>
      lengthBuckets(Tables.documents(s, d))),
    "pipe_curate_v2" -> (curateV2 _),
    "pipe_curate_v3" -> (curateV3 _),
    "pipe_quality_sample" -> ((s: SparkSession, d: String) =>
      qualityWeightedSample(Tables.documents(s, d))),
    "pipe_shuffle_shard" -> ((s: SparkSession, d: String) =>
      shuffleShard(Tables.documents(s, d))),
    "pipe_span_mask" -> ((s: SparkSession, d: String) =>
      spanMask(Tables.documents(s, d))),
    "pipe_zorder" -> (zorderLayout _),
    "pipe_sample_hash" -> (sampleQuery _),
    "pipe_weighted_sample" -> ((s: SparkSession, d: String) =>
      weightedSample(Tables.documents(s, d))),
    "pipe_token_budget" -> ((s: SparkSession, d: String) =>
      tokenBudget(Tables.documents(s, d))),
    "pipe_epoch_order" -> ((s: SparkSession, d: String) =>
      epochOrder(Tables.documents(s, d))),
    "pipe_mixture" -> ((s: SparkSession, dir: String) =>
      mixtureSample(Tables.documents(s, dir))),
    "pipe_scrub" -> (scrubQuery _),
    "pipe_repetition" -> (repetitionQuery _),
    "pipe_contamination" -> (contaminationQuery _),
    "pipe_bloom_decontam" -> (bloomDecontam _),
    "pipe_drift_chi2" -> ((s: SparkSession, d: String) =>
      driftChi2(Tables.documents(s, d))),
    "pipe_stratified" -> (stratifiedQuery _),
    "pipe_pack" -> (packQuery _),
    "pipe_curate" -> (curate _),
    "pipe_curate_incremental" -> (curateIncremental _),
    "pipe_wap_curate" -> (wapCurate _),
    "pipe_imv" -> (imvQuery _),
    "pipe_fuzzy_match" -> (fuzzyQuery _)
  )

  private val shingleCtes =
    """WITH toks AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents
      |), sh AS (
      |  SELECT a.doc_id, a.source,
      |         a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
      |  FROM toks a
      |  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
      |)""".stripMargin

  /** The Morton interleave as explicit per-bit SQL (generated from the
    * same ZBits constant the Spark expression uses).
    */
  private val zExprSql: String =
    (0 until ZBits).map { b =>
      s"((((x >> $b) & 1) << ${2 * b}) | (((y >> $b) & 1) << ${2 * b + 1}))"
    }.mkString(" | ")

  /** The two-day incremental-curation truth, as CTEs shared by the
    * `pipe_curate_incremental` and `pipe_wap_curate` oracles: arrivals
    * (day-1 split, day-2 split, planted %7 re-fetches), the quality
    * gate, and the first-arrival keeper over md5(text).
    */
  private lazy val curateIncCtes: String =
    """WITH arrivals AS (
      |  SELECT doc_id, source, text, 1 AS day
      |  FROM documents WHERE doc_id % 5 != 0
      |  UNION ALL
      |  SELECT doc_id, source, text, 2
      |  FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, source, text, 2
      |  FROM documents WHERE doc_id % 7 = 0),
      |base AS (
      |  SELECT doc_id, source, text, day,
      |    length(text)::BIGINT AS n_chars,
      |    (CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT AS n_tokens,
      |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::BIGINT AS n_punct,
      |    len(regexp_extract_all(text,
      |      '(?i)\b(the|a|an|of|and|or|to|in|is|it|that|this|for|on|with|as|at|by|be)\b'))::BIGINT AS n_stop
      |  FROM arrivals),
      |q AS (
      |  SELECT doc_id, source, day, (
      |    (CASE WHEN n_chars BETWEEN 200 AND 5000 THEN 3
      |          WHEN n_chars >= 100 THEN 2
      |          WHEN n_chars >= 20 THEN 1 ELSE 0 END) +
      |    (CASE WHEN n_tokens = 0 THEN 0
      |          WHEN n_chars >= n_tokens * 3 AND n_chars < n_tokens * 9 THEN 3
      |          WHEN n_chars >= n_tokens * 2 THEN 1 ELSE 0 END) +
      |    (CASE WHEN n_punct * 10 <= n_chars THEN 3
      |          WHEN n_punct * 4 <= n_chars THEN 1 ELSE 0 END) +
      |    (CASE WHEN n_stop * 5 >= n_tokens THEN 3
      |          WHEN n_stop * 20 >= n_tokens THEN 1 ELSE 0 END)) AS pts,
      |    text
      |  FROM base),
      |good AS (SELECT doc_id, source, text, day FROM q WHERE pts >= 6),
      |ranked AS (
      |  SELECT doc_id, source, day,
      |    row_number() OVER (PARTITION BY md5(text)
      |      ORDER BY day, doc_id) AS rn
      |  FROM good),
      |kept AS (SELECT doc_id, source, day FROM ranked WHERE rn = 1)""".stripMargin

  // quality oracle wrapped as a subquery (concatenated, not
  // stripMargin-interpolated: the regex alternations contain pipes)
  private lazy val qualitySampleOracle: String =
    "WITH q AS (SELECT doc_id, quality_points FROM (" +
      graft.queries.OpsQueries.oracles("text_quality") + "))\n" +
      s"""SELECT d.doc_id, d.source, q.quality_points,
         |  least(20 + q.quality_points * 8, 100) AS rate_pct
         |FROM documents d JOIN q USING (doc_id)
         |WHERE ${graft.ops.Sketches.sqlH48("'qw|' || d.doc_id::VARCHAR")}
         |  % 100 < least(20 + q.quality_points * 8, 100)""".stripMargin

  private lazy val outliersOracle: String =
    s"""WITH b AS (
       |  SELECT event_id, event_type, round(value * 100)::BIGINT AS x
       |  FROM events),
       |st AS (
       |  SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS s,
       |    sum(x::HUGEINT * x) AS q
       |  FROM b GROUP BY 1),
       |j AS (
       |  SELECT b.event_id, b.event_type, b.x,
       |    (b.x * st.n - st.s)::HUGEINT * (b.x * st.n - st.s) AS z2n,
       |    st.n::HUGEINT * st.q - st.s::HUGEINT * st.s AS vn
       |  FROM b JOIN st USING (event_type))
       |SELECT event_id, event_type, x AS value_cents,
       |  z2n::VARCHAR AS z2_num, vn::VARCHAR AS var_num
       |FROM j WHERE z2n > $Z2Threshold * vn""".stripMargin

  /** DuckDB replay of [[bloomDecontam]]: same m selection (integer VALUES
    * scan, no float log2), same 28-bit md5-slice bit positions via the
    * nibble fold, same all-4-bits membership test.
    */
  private def bloomDecontamOracle: String = {
    def fold(start: Int) =
      s"list_reduce(list_transform(string_split(substr(md5(shingle), " +
        s"$start, 7), ''), c -> (strpos('0123456789abcdef', c) - 1)::BIGINT), " +
        "(a, b) -> a * 16 + b)"
    val powers = (16 to 28).map(1L << _)
      .map(p => s"($p::BIGINT)").mkString(", ")
    val bitsArr = (0 until BloomHashes)
      .map(i => s"${fold(i * 7 + 1)} % m").mkString("[", ", ", "]")
    shingleCtes + s""",
       |bench_sh AS MATERIALIZED (
       |  SELECT DISTINCT shingle FROM sh
       |  WHERE source = 'src0' AND doc_id % 20 = 0),
       |train_sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, shingle FROM sh WHERE source != 'src0'),
       |nb AS (SELECT greatest(count(*), 1)::BIGINT AS n FROM bench_sh),
       |msel AS (
       |  SELECT coalesce(min(p), ${1L << 28}) AS m
       |  FROM (VALUES $powers) v(p)
       |  CROSS JOIN nb WHERE p >= $BloomLoadFactor * n),
       |bench_bits AS MATERIALIZED (
       |  SELECT DISTINCT unnest($bitsArr) AS bit
       |  FROM bench_sh CROSS JOIN msel),
       |tb AS (
       |  SELECT doc_id, shingle, unnest($bitsArr) AS bit
       |  FROM train_sh CROSS JOIN msel),
       |bp AS (
       |  SELECT doc_id, shingle FROM tb JOIN bench_bits USING (bit)
       |  GROUP BY doc_id, shingle HAVING count(*) = $BloomHashes),
       |bloomdoc AS (
       |  SELECT doc_id, count(*)::BIGINT AS bloom_hits FROM bp
       |  GROUP BY doc_id),
       |exact AS (
       |  SELECT t.doc_id, count(*)::BIGINT AS exact_hits
       |  FROM train_sh t JOIN bench_sh b USING (shingle)
       |  GROUP BY t.doc_id),
       |meta AS (
       |  SELECT doc_id, source FROM documents WHERE source != 'src0')
       |SELECT m.source, count(*) AS n_docs,
       |  sum(CASE WHEN bd.bloom_hits > 0 THEN 1 ELSE 0 END)::BIGINT
       |    AS bloom_flagged,
       |  sum(CASE WHEN e.exact_hits > 0 THEN 1 ELSE 0 END)::BIGINT
       |    AS exact_contaminated,
       |  sum(CASE WHEN bd.bloom_hits > 0 AND e.exact_hits IS NULL
       |      THEN 1 ELSE 0 END)::BIGINT AS false_positives
       |FROM meta m
       |LEFT JOIN bloomdoc bd ON bd.doc_id = m.doc_id
       |LEFT JOIN exact e ON e.doc_id = m.doc_id
       |GROUP BY m.source""".stripMargin
  }

  /** The composed governance-pipeline oracle: gopher gate CTE → the
    * shared near-dup pair chain over the GATED corpus
    * ([[graft.queries.DedupQueries.pairCteBodyOver]]) → CC + keep-longest
    * election → exact decontamination → card / DP release / schedule
    * CTEs over the survivors ([[dpOracle]], [[tokenBudgetCtesOver]],
    * [[scheduleCtes]] — the same chains the standalone gates run, here
    * parameterized by the staged-corpus CTE instead of the raw table).
    */
  private[graft] lazy val curateV3Oracle: String = {
    val gopher = graft.queries.TextQueries.oracles("text_gopher_rules")
    val pairs =
      graft.queries.DedupQueries.pairCteBodyOver("gd", "a.doc_id < b.doc_id")
    s"""WITH RECURSIVE g AS (
       |  SELECT doc_id FROM ($gopher) WHERE pass = 1),
       |gd AS MATERIALIZED (
       |  SELECT d.* FROM documents d JOIN g USING (doc_id)),
       |""".stripMargin +
      pairs + ",\n" +
      s"""edges AS MATERIALIZED (
         |  SELECT doc_a AS u, doc_b AS v FROM jpairs
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM jpairs),
         |reach(a, b) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u),
         |cc AS (
         |  SELECT a AS doc_id, least(a, min(b)) AS canonical
         |  FROM reach GROUP BY a),
         |sized AS (
         |  SELECT c.canonical, c.doc_id, d.n_chars,
         |    row_number() OVER (PARTITION BY c.canonical
         |                       ORDER BY d.n_chars DESC, c.doc_id) AS rn
         |  FROM cc c JOIN gd d USING (doc_id)),
         |dd AS MATERIALIZED (
         |  SELECT * FROM gd
         |  WHERE doc_id NOT IN (SELECT doc_id FROM sized WHERE rn > 1)),
         |dsm AS MATERIALIZED (SELECT doc_id, shingle FROM ds),
         |benchsh AS (
         |  SELECT DISTINCT s.shingle FROM dsm s JOIN dd d USING (doc_id)
         |  WHERE d.source = 'src0' AND d.doc_id % 20 = 0),
         |contaminated AS (
         |  SELECT DISTINCT s.doc_id FROM dsm s JOIN dd d USING (doc_id)
         |  WHERE d.source != 'src0'
         |    AND s.shingle IN (SELECT shingle FROM benchsh)),
         |clean AS MATERIALIZED (
         |  SELECT * FROM dd
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |card AS (
         |  SELECT source, count(*)::BIGINT AS n_docs,
         |    sum(n_chars)::BIGINT AS total_chars,
         |    count(DISTINCT md5(text))::BIGINT AS n_unique_texts
         |  FROM clean GROUP BY source),
         |dpo AS (
         |  SELECT source, noise, released FROM (
         |${dpOracle(table = "clean")})),
         |""".stripMargin +
      tokenBudgetCtesOver("clean") + ",\n" + scheduleCtes + ",\n" +
      """schedsum AS (
        |  SELECT source, count(*)::BIGINT AS n_sched,
        |    count(DISTINCT epoch)::BIGINT AS n_epochs,
        |    sum(pos)::BIGINT AS sched_checksum
        |  FROM sched GROUP BY source)
        |SELECT c.source, c.n_docs, c.total_chars, c.n_unique_texts,
        |  p.noise, p.released, s.n_sched, s.n_epochs, s.sched_checksum
        |FROM card c
        |JOIN dpo p USING (source)
        |JOIN schedsum s USING (source)""".stripMargin
  }

  lazy val oracles: Map[String, String] = Map(
    "pipe_curate_v3" -> curateV3Oracle,
    // the identical cross-multiplied integer z² predicate; HUGEINT is
    // DuckDB's DECIMAL(38,0)-equivalent for the squared terms
    "pipe_outliers" -> outliersOracle,
    // stream/batch anomaly equivalence: the streamed stats must gate
    // to the IDENTICAL flag set
    "stream_outliers" -> outliersOracle,
    "pipe_class_balance" ->
      """WITH cap AS (
        |  SELECT min(n)::BIGINT AS cap FROM (
        |    SELECT label, count(*) AS n FROM embeddings GROUP BY 1)),
        |rk AS (
        |  SELECT vec_id, label::BIGINT AS label,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY md5(vec_id::VARCHAR), vec_id) AS rk
        |  FROM embeddings)
        |SELECT vec_id, label, rk FROM rk CROSS JOIN cap
        |WHERE rk <= cap""".stripMargin,
    "pipe_dp_release" -> dpOracle(),
    "pipe_dataset_card" ->
      """SELECT source, count(*) AS n_docs,
        |  sum(n_chars)::BIGINT AS total_chars,
        |  count(DISTINCT lang) AS n_langs,
        |  (sum(n_chars)::BIGINT // count(*)) AS avg_chars,
        |  max(n_chars) AS max_chars,
        |  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_en,
        |  count(DISTINCT md5(text)) AS n_unique_texts
        |FROM documents GROUP BY source""".stripMargin,
    "pipe_k_anonymity" ->
      """WITH cls AS (
        |  SELECT event_type, hour(ts) AS hr,
        |         cast(round(value * 100) AS BIGINT) // 500 AS vband,
        |         count(*) AS sz
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT event_type,
        |  count(*) AS n_classes,
        |  sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END)::BIGINT
        |    AS suppressed_classes,
        |  sum(CASE WHEN sz < 5 THEN sz ELSE 0 END)::BIGINT
        |    AS suppressed_rows,
        |  sum(CASE WHEN sz >= 5 THEN sz ELSE 0 END)::BIGINT
        |    AS published_rows,
        |  max(sz) AS max_class_size
        |FROM cls GROUP BY event_type""".stripMargin,
    "pipe_quality_sample" -> qualitySampleOracle,
    // the three stage oracles composed by concatenation — survivors of
    // gate ∩ sample get the shuffle/shard windows
    "pipe_curate_v2" -> (
      "WITH g AS (SELECT doc_id FROM (" +
        graft.queries.TextQueries.oracles("text_gopher_rules") +
        ") WHERE pass = 1),\n" +
        "qs AS (SELECT doc_id FROM (" + qualitySampleOracle + ")),\n" +
        s"""k AS (
           |  SELECT d.doc_id FROM documents d
           |  JOIN g USING (doc_id) JOIN qs USING (doc_id)),
           |h AS (
           |  SELECT doc_id,
           |    ${graft.ops.Sketches.sqlH48("'shuf|' || doc_id::VARCHAR")} AS h
           |  FROM k)
           |SELECT doc_id, h % $ShuffleShards AS shard,
           |  row_number() OVER (ORDER BY h, doc_id) AS shuffle_rank,
           |  row_number() OVER (PARTITION BY h % $ShuffleShards
           |    ORDER BY h, doc_id) AS pos_in_shard
           |FROM h""".stripMargin),
    "pipe_shuffle_shard" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ${graft.ops.Sketches.sqlH48("'shuf|' || doc_id::VARCHAR")} AS h
         |  FROM documents)
         |SELECT doc_id, h % $ShuffleShards AS shard,
         |  row_number() OVER (ORDER BY h, doc_id) AS shuffle_rank,
         |  row_number() OVER (PARTITION BY h % $ShuffleShards
         |    ORDER BY h, doc_id) AS pos_in_shard
         |FROM h""".stripMargin,
    // same h48 nibble fold on 'doc:pos'; FILTER + list(ORDER BY) gives
    // the ordered masked-position serialization
    "pipe_span_mask" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         |    generate_subscripts(string_split(text, ' '), 1) AS pos
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, pos, tok,
         |    CASE WHEN ${graft.ops.Sketches.sqlH48(
                "doc_id::VARCHAR || ':' || pos::VARCHAR")} % $MaskRate = 0
         |      THEN 1 ELSE 0 END AS mk
         |  FROM toks)
         |SELECT doc_id, count(*) AS n_tokens,
         |  sum(mk)::BIGINT AS n_masked,
         |  coalesce(array_to_string(
         |    list(pos ORDER BY pos) FILTER (WHERE mk = 1), ','), '')
         |    AS masked_positions,
         |  sum(CASE WHEN mk = 1 THEN length(tok) ELSE 0 END)::BIGINT
         |    AS masked_chars
         |FROM m GROUP BY doc_id""".stripMargin,
    "pipe_zorder" ->
      s"""WITH xy AS (
         |  SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y, l_quantity
         |  FROM lineitem),
         |zz AS (SELECT x, y, l_quantity, ($zExprSql) AS z FROM xy)
         |SELECT z // 256 AS z_bucket, count(*) AS n_rows,
         |  min(z) AS z_min, max(z) AS z_max,
         |  min(x) AS x_min, max(x) AS x_max,
         |  min(y) AS y_min, max(y) AS y_max,
         |  round(sum(l_quantity), 2) AS sum_qty
         |FROM zz GROUP BY 1""".stripMargin,
    "pipe_fuzzy_match" ->
      """SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
        |  levenshtein(a.s_name, b.s_name)::INT AS dist
        |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        |WHERE levenshtein(a.s_name, b.s_name) <= 2""".stripMargin,
    "pipe_curate" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    length(text)::BIGINT AS n_chars,
        |    (CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT AS n_tokens,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::BIGINT AS n_punct,
        |    len(regexp_extract_all(text,
        |      '(?i)\b(the|a|an|of|and|or|to|in|is|it|that|this|for|on|with|as|at|by|be)\b'))::BIGINT AS n_stop
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, text, n_tokens, (
        |    (CASE WHEN n_chars BETWEEN 200 AND 5000 THEN 3
        |          WHEN n_chars >= 100 THEN 2
        |          WHEN n_chars >= 20 THEN 1 ELSE 0 END) +
        |    (CASE WHEN n_tokens = 0 THEN 0
        |          WHEN n_chars >= n_tokens * 3 AND n_chars < n_tokens * 9 THEN 3
        |          WHEN n_chars >= n_tokens * 2 THEN 1 ELSE 0 END) +
        |    (CASE WHEN n_punct * 10 <= n_chars THEN 3
        |          WHEN n_punct * 4 <= n_chars THEN 1 ELSE 0 END) +
        |    (CASE WHEN n_stop * 5 >= n_tokens THEN 3
        |          WHEN n_stop * 20 >= n_tokens THEN 1 ELSE 0 END)) AS pts
        |  FROM base),
        |good AS (SELECT doc_id, text, n_tokens FROM q WHERE pts >= 6),
        |keep AS (SELECT min(doc_id) AS doc_id FROM good GROUP BY md5(text)),
        |sampled AS (
        |  SELECT g.doc_id, g.n_tokens FROM good g
        |  JOIN keep k ON g.doc_id = k.doc_id
        |  WHERE substr(md5(g.doc_id::VARCHAR), 1, 2) <= '7f')
        |SELECT doc_id, n_tokens,
        |  ((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens) // 2048)::BIGINT
        |    AS bin
        |FROM sampled""".stripMargin,
    // from-scratch recomputation with a FIRST-ARRIVAL keeper (day1
    // before day2, then doc_id) over the same arrival stream, planted
    // re-fetches included: the incremental gate+state-anti-join+append
    // path must land exactly here; n_appended = the day-2 keepers
    "pipe_curate_incremental" -> (curateIncCtes +
      """
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(doc_id)::BIGINT AS sum_doc_id,
        |  (SELECT count(*) FROM kept WHERE day = 2)::BIGINT AS n_appended
        |FROM kept GROUP BY source""".stripMargin),
    // WAP-gated ingest lands on the SAME final state as the two-day
    // incremental curation (the raw day-3 batch dropped at its audit);
    // the flags pin the publish and the drop
    "pipe_wap_curate" -> (curateIncCtes +
      """
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(doc_id)::BIGINT AS sum_doc_id,
        |  1::BIGINT AS published_clean, 1::BIGINT AS dropped_raw
        |FROM kept GROUP BY source""".stripMargin),
    // the maintained view must equal a from-scratch recompute of the
    // final corpus (append + band-merge + COW band delete + MOR
    // stats-blind delete); used_preimages pins that the merge step's
    // UB pre-images were present in the feed
    "pipe_imv" ->
      """WITH b AS (SELECT max(doc_id)//5 AS m1, max(doc_id)*2//5 AS m2,
        |  max(doc_id)*3//5 AS m3, max(doc_id)*4//5 AS m4 FROM documents),
        |s1 AS (
        |  SELECT doc_id AS k, source, lang, n_chars AS c FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, source, lang, n_chars + 11
        |  FROM documents WHERE doc_id % 7 = 3),
        |up AS (
        |  SELECT doc_id AS k, source, lang, n_chars + 1000 AS c
        |  FROM documents, b WHERE doc_id > b.m1 AND doc_id <= b.m2
        |  UNION ALL
        |  SELECT doc_id + 20000000, source, lang, n_chars
        |  FROM documents WHERE doc_id % 13 = 0),
        |s2 AS (
        |  SELECT s1.* FROM s1, b WHERE NOT (k > b.m1 AND k <= b.m2)
        |  UNION ALL SELECT * FROM up),
        |s3 AS (SELECT s2.* FROM s2, b
        |  WHERE NOT (k > b.m3 AND k <= b.m4)),
        |s4 AS (SELECT * FROM s3 WHERE NOT (c < 400))
        |SELECT source, lang, count(*)::BIGINT AS n_rows,
        |  sum(c)::BIGINT AS sum_n_chars,
        |  1::BIGINT AS used_preimages
        |FROM s4 GROUP BY 1, 2""".stripMargin,
    "pipe_stratified" ->
      """WITH ranked AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source, rk FROM ranked WHERE rk <= 5""".stripMargin,
    "pipe_length_buckets" ->
      """WITH t AS (
        |  SELECT (CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+'))
        |    END)::BIGINT AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT n_tokens,
        |    power(2, ceil(log2(greatest(n_tokens, 1))))::BIGINT AS pad_to
        |  FROM t)
        |SELECT pad_to, count(*)::BIGINT AS n_docs,
        |  sum(n_tokens)::BIGINT AS sum_tokens,
        |  sum(pad_to - n_tokens)::BIGINT AS sum_waste,
        |  ((sum(pad_to - n_tokens)::BIGINT * 100) // (count(*) * pad_to))::BIGINT
        |    AS waste_pct
        |FROM b GROUP BY pad_to""".stripMargin,
    "pipe_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    (CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+'))
        |      END)::BIGINT AS n_tokens
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  ((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens) // 2048)::BIGINT
        |    AS bin
        |FROM t""".stripMargin,
    "pipe_mixture" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    coalesce(try_cast(regexp_extract(source, '(\d+)', 1) AS INT),
        |      0) % 4 AS m,
        |    substr(md5(doc_id::VARCHAR), 1, 16) AS draw
        |  FROM documents)
        |SELECT doc_id, source, round((m + 1) / 4.0, 2) AS rate
        |FROM t
        |WHERE draw <= CASE m
        |  WHEN 0 THEN '3fffffffffffffff'
        |  WHEN 1 THEN '7fffffffffffffff'
        |  WHEN 2 THEN 'bfffffffffffffff'
        |  ELSE 'ffffffffffffffff' END""".stripMargin,
    // same Hamilton apportionment: integer base + largest-remainder
    // top-up, identical (rem desc, source) tiebreak
    "pipe_token_budget" ->
      (tokenBudgetCtes + """
        |SELECT source, w AS weight, n_tokens, alloc,
        |  CASE WHEN n_tokens > 0 THEN alloc * 1000000 // n_tokens
        |  ELSE 0 END AS epochs_fp
        |FROM allocs""".stripMargin),
    // the schedule replayed from the same CTE chain: per-source running
    // totals in shuffle-hash order, inclusive generate_series epochs,
    // the same (e < passes OR cum <= rem) keep rule
    "pipe_epoch_order" ->
      (tokenBudgetCtes + ",\n" + scheduleCtes +
        "\nSELECT doc_id, source, epoch, pos FROM sched"),
    // same integer priority w*2^48/(h+1), same clamp, same tiebreak
    "pipe_weighted_sample" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    least(greatest((CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
         |      END)::BIGINT, 1), $WeightedSampleWCap) AS w,
         |    ${graft.ops.Sketches.sqlH48("'ws|' || doc_id::VARCHAR")} + 1 AS u
         |  FROM documents)
         |SELECT doc_id, w, (w * ${1L << 48}) // u AS priority
         |FROM t
         |ORDER BY priority DESC, doc_id
         |LIMIT $WeightedSampleK""".stripMargin,
    "pipe_sample_hash" ->
      """SELECT doc_id, substr(md5(doc_id::VARCHAR), 1, 2) AS hash_prefix,
        |  lang, n_chars
        |FROM documents
        |WHERE substr(md5(doc_id::VARCHAR), 1, 2) <= '28'""".stripMargin,
    "pipe_scrub" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '\b(customer|supplier)\b'))
        |    AS n_redacted,
        |  regexp_replace(text, '\b(customer|supplier)\b', '<REDACTED>', 'g')
        |    AS text_redacted
        |FROM documents""".stripMargin,
    "pipe_repetition" ->
      (shingleCtes +
        """,
          |tot AS (
          |  SELECT doc_id,
          |    greatest(len(string_split(text, ' ')) - 2, 0)::BIGINT
          |      AS n_shingles
          |  FROM documents),
          |dis AS (
          |  SELECT doc_id, count(DISTINCT shingle)::BIGINT AS n_distinct
          |  FROM sh GROUP BY doc_id)
          |SELECT t.doc_id, t.n_shingles,
          |  coalesce(d.n_distinct, 0) AS n_distinct,
          |  CASE WHEN t.n_shingles = 0 THEN 0.0
          |    ELSE round(1.0 - coalesce(d.n_distinct, 0)::DOUBLE / t.n_shingles, 4)
          |  END AS rep_ratio
          |FROM tot t LEFT JOIN dis d ON t.doc_id = d.doc_id""".stripMargin),
    "pipe_bloom_decontam" -> bloomDecontamOracle,
    "pipe_drift_chi2" ->
      """WITH b AS (
        |  SELECT least(n_chars // 100, 19)::BIGINT AS bucket, source
        |  FROM documents),
        |obs AS (
        |  SELECT bucket, count(*)::BIGINT AS o FROM b
        |  WHERE source != 'src0' GROUP BY 1),
        |ref AS (
        |  SELECT bucket, count(*)::BIGINT AS e FROM b
        |  WHERE source = 'src0' GROUP BY 1),
        |tot AS (
        |  SELECT (SELECT sum(o)::BIGINT FROM obs) AS no,
        |         (SELECT sum(e)::BIGINT FROM ref) AS ne),
        |j AS (
        |  SELECT coalesce(obs.bucket, ref.bucket) AS bucket,
        |    coalesce(o, 0) AS o, coalesce(e, 0) AS e
        |  FROM obs FULL OUTER JOIN ref ON obs.bucket = ref.bucket)
        |SELECT bucket, o, e,
        |  CASE WHEN e > 0 THEN
        |    (((o * ne - e * no)::HUGEINT * (o * ne - e * no) * 1000000)
        |      // (e::HUGEINT * no * ne))::BIGINT
        |  END AS chi2_ppm,
        |  CASE WHEN e = 0 AND o > 0 THEN 1 ELSE 0 END::BIGINT AS new_mass
        |FROM j CROSS JOIN tot""".stripMargin,
    "pipe_contamination" ->
      (shingleCtes +
        """,
          |train AS (
          |  SELECT DISTINCT doc_id, shingle FROM sh WHERE source != 'src0'),
          |bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
          |sizes AS (
          |  SELECT doc_id, count(*)::BIGINT AS n_distinct
          |  FROM train GROUP BY doc_id),
          |ov AS (
          |  SELECT t.doc_id, count(*)::BIGINT AS n_overlap
          |  FROM train t JOIN bench b ON t.shingle = b.shingle
          |  GROUP BY t.doc_id)
          |SELECT s.doc_id, s.n_distinct,
          |  coalesce(o.n_overlap, 0) AS n_overlap,
          |  round(coalesce(o.n_overlap, 0)::DOUBLE / s.n_distinct, 4)
          |    AS overlap_ratio
          |FROM sizes s LEFT JOIN ov o ON s.doc_id = o.doc_id""".stripMargin)
  )
}
