package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators for LLM-pipeline data (north star, SURVEY.md
  * §2.5): exact, exact n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup. All are single-pass shuffle pipelines with
  * no driver-side data:
  *
  *  - exact: one hash shuffle on the text digest;
  *  - minhash/simhash: per-doc signatures (map-side), candidates via a
  *    band-bucket shuffle — pairs generated only inside buckets, so work
  *    scales with collisions, not n^2;
  *  - n-gram Jaccard / cosine verification joins are candidate-driven.
  *
  * At 100 TB the only quadratic danger is a hot band bucket; buckets are
  * capped (`MaxBucket`) the way production near-dup pipelines cap
  * postings lists, trading a sliver of recall on pathological buckets for
  * bounded task time.
  */
object Dedup {

  val ShingleSize = 3
  val NumHashes = 64
  val NumBands = 16 // x 4 rows per band
  val JaccardThreshold = 0.8
  val MaxBucket = 64 // max docs per LSH bucket expanded into pairs

  /** Distinct word shingles per doc: (doc_id, shingle). Tokens split on
    * single spaces to stay bit-identical with the SQL oracle
    * (`string_split(text, ' ')` keeps empty tokens — so does
    * `String.split(" ", -1)`).
    *
    * Typed flatMap rather than `transform`+`slice` higher-order columns:
    * the interpreted slice path is O(tokens^2) per doc and was the
    * pipeline's bottleneck; per-doc dedup in the closure also removes a
    * global `distinct` shuffle entirely.
    */
  def shingles(docs: DataFrame): DataFrame = shinglesK(docs, ShingleSize)

  /** Shingling now runs through the engine's custom Catalyst Generator
    * ([[graft.functions.ShingleExplode]]): the text column never leaves
    * Tungsten (no Dataset-encoder round trip per row), shingles are
    * zero-copy byte slices, per-doc dedup stays in the generator — bit-
    * equal to [[shinglesFlatMapK]] (spec-asserted, `ShingleExplodeSpec`)
    * and measured ~1.4× faster on the bare scan at sf0.1.
    */
  def shinglesK(docs: DataFrame, k: Int): DataFrame =
    OpUtil.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        graft.functions.ShingleExplode.shingle_explode(col("text"), k)
          .as("shingle"))

  /** The typed-flatMap formulation, retained as the differential-test
    * baseline for the generator (and the reference shape for what the
    * closure semantics are: `split(" ", -1)`, full windows only, first
    * occurrence per doc).
    */
  private[graft] def shinglesFlatMapK(docs: DataFrame, k: Int): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    OpUtil.spread(docs.select(col("doc_id"), col("text"))).as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        val seen = scala.collection.mutable.HashSet.empty[String]
        toks.iterator.sliding(k).withPartial(false)
          .map(_.mkString(" "))
          .filter(seen.add)
          .map(sh => (id, sh))
      }
      .toDF("doc_id", "shingle")
  }

  /** Sub-document span dedup (the exact-substring-dedup family a
    * training pipeline runs AFTER whole-doc dedup — Lee et al. 2022,
    * windowed form): every K-token span that appears in two or more
    * distinct documents, with occurrence counts. A suffix array finds
    * arbitrary-length repeats but needs global structure; fixed-K
    * sliding windows reduce the whole problem to one flatMap + one
    * combinable aggregation — the map/combine/shuffle/reduce skeleton —
    * so it scales exactly like wordcount: no driver state, partial
    * aggregation map-side, one shuffle on the span.
    */
  val SpanTokens = 8

  def duplicatedSpans(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    OpUtil.spread(docs.select(col("doc_id"), col("text"))).as[(Long, String)]
      .flatMap { case (id, text) =>
        text.split(" ", -1).iterator.sliding(SpanTokens).withPartial(false)
          .map(w => (id, w.mkString(" ")))
      }
      .toDF("doc_id", "span")
      .groupBy("span")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("min_doc"))
      .filter(col("n_docs") >= 2)
  }

  def spanQuery(s: SparkSession, dir: String): DataFrame =
    duplicatedSpans(Tables.documents(s, dir))

  /** The REMOVAL step of exact-substring dedup (Lee et al. 2022's
    * ExactSubstr, windowed form — [[duplicatedSpans]] finds the
    * duplicated windows; this scrubs them): per document, every token
    * covered by ANY cross-doc-duplicated K-token window is marked, the
    * marks merge into maximal spans (gaps-and-islands: overlapping
    * windows collapse — a 40-token repeat is ONE span, not 33), and
    * the per-source report carries docs hit, spans, duplicated tokens,
    * and surviving clean tokens. Symmetric removal (every occurrence
    * scrubbed) keeps the operator join-order-independent and
    * oracle-exact; keep-one-canonical is the [[duplicatedSpans]]
    * `min_doc` column composed with this same coverage frame.
    *
    * Scale: one flatMap (no shuffle) emits position-tagged windows;
    * duplicates are one combinable aggregation on the span; coverage
    * explodes ≤ K rows per duplicated window (bounded by K × corpus
    * tokens, linear); the islands window partitions BY DOCUMENT — no
    * global sort anywhere.
    */
  def spanScrub(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    val grams = OpUtil.spread(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        text.split(" ", -1).iterator.sliding(SpanTokens).withPartial(false)
          .zipWithIndex.map { case (w, i) => (id, i + 1L, w.mkString(" ")) }
      }
      .toDF("doc_id", "p", "span")
    val dup = grams.groupBy("span")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("span")
    val covered = grams.join(dup, Seq("span"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (SpanTokens - 1))).as("pos"))
      .distinct()
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val perDoc = covered
      .withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("doc_id").agg(sum(col("len")).as("dup_toks"),
        count(lit(1)).as("n_spans"))
    docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ", -1)).as("n_toks"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        sum(when(col("dup_toks").isNotNull, 1L).otherwise(0L))
          .as("n_docs_hit"),
        sum(coalesce(col("n_spans"), lit(0L))).as("n_spans"),
        sum(coalesce(col("dup_toks"), lit(0L))).as("dup_tokens"),
        (sum(col("n_toks")) - sum(coalesce(col("dup_toks"), lit(0L))))
          .as("clean_tokens"))
  }

  def spanScrubQuery(s: SparkSession, dir: String): DataFrame =
    spanScrub(Tables.documents(s, dir))

  /** Content-defined chunk dedup (the storage-dedup/CDC family applied to
    * token streams): a token CLOSES a chunk iff its md5 starts with hex
    * '0' (P = 1/16, so chunks average 16 tokens), making boundaries a
    * pure function of local content — insert a paragraph into a doc and
    * every chunk outside the edit still hashes identically, which is the
    * property fixed-stride spans lack. Chunks are non-overlapping, so
    * this emits ~L/16 rows per doc where [[duplicatedSpans]] emits ~L,
    * and the same wordcount skeleton applies: per-doc chunking is local
    * to the flatMap closure (no window shuffle), then one combinable
    * aggregation on the chunk. At 100 TB the group key would be
    * md5(chunk) rather than the chunk text; the text is kept here
    * because it IS the gate-checked output.
    */
  def cdcChunks(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    OpUtil.spread(docs.select(col("doc_id"), col("text"))).as[(Long, String)]
      .flatMap { case (id, text) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, String)]
        val sb = new StringBuilder
        var pending = false
        text.split(" ", -1).foreach { t =>
          if (pending) sb.append(' ')
          sb.append(t)
          pending = true
          val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          if (((d(0) >> 4) & 0xf) == 0) { // first hex nibble of md5 == '0'
            out += ((id, out.length, sb.toString)); sb.clear(); pending = false
          }
        }
        if (pending) out += ((id, out.length, sb.toString))
        out
      }
      .toDF("doc_id", "chunk_idx", "chunk")
  }

  def contentDefinedChunks(docs: DataFrame): DataFrame =
    cdcChunks(docs)
      .groupBy("chunk")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("min_doc"))
      .filter(col("n_docs") >= 2)

  def cdcQuery(s: SparkSession, dir: String): DataFrame =
    contentDefinedChunks(Tables.documents(s, dir))

  /** Exact dedup: group by content digest, keep the smallest doc_id as
    * the representative (`dropDuplicates` semantics made deterministic).
    */
  def exact(s: SparkSession, dir: String): DataFrame =
    exactDocs(Tables.documents(s, dir))

  def exactDocs(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("text_md5"), col("n_copies"))

  /** SOFT dedup: keep every duplicate but reweight it to 1/cluster_size
    * (1e6 fixed point) — the down-weighting alternative to dropping
    * (how a pipeline preserves naturally-popular text's contribution at
    * exactly one copy's worth instead of deleting the tail or keeping
    * the skew). One shuffle: a count window over the content hash; the
    * weight is integer, so the whole report hash-checks.
    */
  def softDedup(s: SparkSession, dir: String): DataFrame =
    softDedupDocs(Tables.documents(s, dir))

  def softDedupDocs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(col("doc_id"), md5(col("text")).as("text_md5"))
      .withColumn("n_copies",
        count(lit(1)).over(Window.partitionBy(col("text_md5"))))
      .select(col("doc_id"), col("text_md5"), col("n_copies"),
        expr("1000000 div n_copies").as("weight_fp"))
  }

  /** Exact n-gram Jaccard near-dup pairs via the PLAIN inverted-index
    * self-join — the CROSS-CHECK REFERENCE for [[prefixJaccardDocs]]
    * (the registered default exact path), kept because its candidate
    * generation is trivially auditable. Not the scale path: a hot
    * shingle shared by h docs emits h^2 candidate rows here, which the
    * prefix-filtered index avoids; both are spec-asserted equal.
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccardDocs(Tables.documents(s, dir))

  def ngramJaccardDocs(docs: DataFrame): DataFrame = {
    val sh = shingles(docs).cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    scoreJaccard(common, sizes)
  }

  /** Shared scoring tail: overlap counts + set sizes → thresholded
    * (doc_a, doc_b, jaccard). One definition so the exact path and every
    * candidate-verification path can never drift apart.
    */
  private def scoreJaccard(common: DataFrame, sizes: DataFrame): DataFrame =
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard",
        round(col("common") / (col("na") + col("nb") - col("common")), 4))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Exact Jaccard pairs via PREFIX FILTERING (AllPairs/V-SMART-Join
    * family): index only each doc's rarest `|S| - ceil(t*|S|) + 1`
    * shingles (global-frequency order) — two sets with Jaccard >= t MUST
    * share a prefix shingle, so the join is lossless while the inverted
    * index shrinks ~5x at t = 0.8 and, critically, hot shingles stop
    * generating candidate blowups. This is the exact-join scale path; the
    * plain inverted-index join ([[ngramJaccardDocs]]) is the reference
    * implementation it must match.
    *
    * Prefix length uses integer arithmetic (ceil(80n/100) = (80n+99)/100)
    * — float rounding here would silently shrink the prefix and drop
    * pairs.
    *
    * CACHE CONTRACT: this pipeline caches the shingle and prefix frames
    * (both are referenced twice) and cannot unpersist them before the
    * returned lazy frame is consumed. Callers that invoke it repeatedly
    * in one JVM — probes, benches — MUST clear caches between
    * invocations (`spark.sharedState.cacheManager.clearCache()`;
    * Verify/Bench/OpScaleProbe all do) or retained blocks accumulate
    * into GC contention that reads as a phantom regression.
    */
  def prefixJaccardDocs(docs: DataFrame): DataFrame = {
    val sh = docShingles(docs)
    verifyJaccard(prefixCandidatesOf(sh), sh)
  }

  /** The shingle frame cached PRE-PARTITIONED on `doc_id` — the layout
    * every downstream doc-keyed pass reuses without its own exchange:
    * the prefix-rank window, the per-doc set aggregation in
    * [[verifyJaccard]], the MinHash signature fold. One up-front
    * shuffle of the frame replaces two (window + sets each re-shuffled
    * the full shingle strings by doc_id; the shingle-keyed df
    * aggregation is map-side-combined either way) — measured −34% on
    * the whole prefix chain at sf0.1 (7.70 → 5.11 s) and 46.4 → 28.5 s
    * at sf1, where the per-doc verify stage reuses the layout
    * (40.4 → 19.6 s); one full-frame exchange saved at any scale.
    * MEMORY_AND_DISK — spills, never OOMs.
    */
  private def docShingles(docs: DataFrame): DataFrame =
    shingles(docs).repartition(col("doc_id")).cache()

  /** The prefix index's candidate-pair stage alone — exposed so the
    * scale probe can measure its cardinality (the quantity the 100 TB
    * claim rests on) without paying for verification. Same CACHE
    * CONTRACT as [[prefixJaccardDocs]]: repeat callers clear caches
    * between invocations.
    */
  def prefixCandidates(docs: DataFrame): DataFrame =
    prefixCandidatesOf(docShingles(docs))

  private def prefixCandidatesOf(sh: DataFrame): DataFrame = {
    val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("shingle"))
    val whole = Window.partitionBy(col("doc_id"))
    // prefix length derives from the SAME constant the verifier filters
    // on — a hardcoded percentage here would silently break losslessness
    // the moment JaccardThreshold moves
    val tPct = math.round(JaccardThreshold * 100).toInt
    // cached: the self-join below references this subtree twice, and
    // without the cache the sh-join + double window re-executes per side
    val prefixes = sh.join(df, "shingle")
      .withColumn("rank", row_number().over(byRarity))
      .withColumn("n", count(lit(1)).over(whole))
      .filter(col("rank") <= col("n") - expr(s"(n * $tPct + 99) div 100") + 1)
      .select(col("doc_id"), col("shingle"), col("n"))
      .cache()
    prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          // AllPairs LENGTH FILTER, also lossless: J >= t forces
          // t·max(|A|,|B|) <= min(|A|,|B|); integer form of the same
          // percentage constant the prefix length uses. On dense-vocab
          // corpora (every doc sharing hot shingles) this is the second
          // line of defense after rarity — measured 2-3x fewer candidate
          // pairs at sf1
          col("a.n") * 100 >= col("b.n") * tPct &&
          col("b.n") * 100 >= col("a.n") * tPct)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  def prefixJaccard(s: SparkSession, dir: String): DataFrame =
    prefixJaccardDocs(Tables.documents(s, dir))

  /** Incremental near-dedup: check a NEW snapshot of documents against
    * the EXISTING corpus without re-pairing the old corpus against
    * itself — the production shape, where yesterday's corpus is already
    * deduped and only the fresh crawl needs vetting. Candidates are
    * generated strictly new-side-driven (new shingles probe the old
    * inverted index), so per-ingest cost scales with the delta, not the
    * archive; in a deployed pipeline the old side's shingle index is the
    * persisted artifact this join reads. The membership predicate is a
    * pure function of doc_id so the oracle can replay it.
    */
  def incrementalPairs(docs: DataFrame, isNew: Column): DataFrame = {
    val sh = docShingles(docs)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val tagged = sh.join(docs.select(col("doc_id"), isNew.as("is_new")), "doc_id")
    val newSh = tagged.filter(col("is_new"))
      .select(col("doc_id").as("new_doc"), col("shingle"))
    val oldSh = tagged.filter(!col("is_new"))
      .select(col("doc_id").as("old_doc"), col("shingle"))
    val common = newSh.join(oldSh, "shingle")
      .groupBy(col("new_doc").as("doc_a"), col("old_doc").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    scoreJaccard(common, sizes)
      .select(col("doc_a").as("new_doc"), col("doc_b").as("old_doc"),
        col("jaccard"))
  }

  def incrementalQuery(s: SparkSession, dir: String): DataFrame =
    incrementalPairs(Tables.documents(s, dir), col("doc_id") % 5 === 0)

  /** Per-doc MinHash signature as NumHashes array<long>. The hash family
    * is xxhash64 re-mixed with the function index (full 64-bit avalanche,
    * no overflow under ANSI arithmetic).
    */
  def minhashSignatures(docShingles: DataFrame): DataFrame = {
    val base = docShingles.withColumn("h", xxhash64(col("shingle")))
    val mins: Seq[Column] = (0 until NumHashes).map(i => min(xxhash64(col("h"), lit(i))))
    base.groupBy("doc_id").agg(array(mins: _*).as("sig"))
  }

  /** MinHash + LSH near-dup: band signatures, bucket-join candidates,
    * verify with exact Jaccard. Recall at j >= 0.9 with 16 bands x 4 rows
    * is 1 - (1 - j^4)^16 ≈ 1 - 4e-8, so the verified output matches the
    * exact ground truth on any realistically-separated corpus (tested on
    * planted near-dups).
    *
    * Oversized buckets (> MaxBucket docs — e.g. thousands of copies of
    * one boilerplate page) are NOT dropped: they fall back to hub pairs
    * (every doc vs the bucket's min doc), keeping candidate count linear
    * in bucket size while still catching exactly the mass-duplicated
    * content such buckets are made of; cluster canonicalization then
    * recovers the full group. Pairwise completeness is guaranteed for
    * buckets within MaxBucket.
    */
  def minhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashLshDocs(Tables.documents(s, dir))

  def minhashLshDocs(docs: DataFrame): DataFrame = {
    val sh = docShingles(docs)
    verifyJaccard(lshCandidatesFromSignatures(minhashSignatures(sh)), sh)
  }

  /** LSH candidate pairs from a signature frame (doc_id, sig) — split
    * out so the SIGNATURE STORE can come from anywhere: the batch
    * pipeline computes it inline, the streaming twin
    * (`stream_dedup_minhash`) accumulates it as streaming state and
    * hands the drained store to this same code.
    */
  def lshCandidatesFromSignatures(sig: DataFrame): DataFrame = {
    val rowsPerBand = NumHashes / NumBands
    val bands = sig.select(
      col("doc_id"),
      posexplode(
        transform(
          sequence(lit(0), lit(NumBands - 1)),
          b => xxhash64(b, slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
        .as(Seq("band", "bucket")))
    val buckets = bands.groupBy("band", "bucket")
      .agg(sort_array(collect_set(col("doc_id"))).as("docs"))
      .filter(size(col("docs")) >= 2)
    val allPairs = buckets.filter(size(col("docs")) <= MaxBucket)
      .select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
    val hubPairs = buckets.filter(size(col("docs")) > MaxBucket)
      .select(col("docs")(0).as("doc_a"),
        explode(slice(col("docs"), lit(2), size(col("docs")) - 1)).as("doc_b"))
    allPairs.union(hubPairs).distinct()
  }

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs. The
    * joins are candidate-driven, so verification work scales with the
    * candidate count, not the corpus. (A variant that first semi-joins
    * `sh` down to candidate doc ids wins when candidates touch a small
    * fraction of the corpus, but measured slower on high-overlap corpora
    * — it re-reads the candidate subtree and adds two passes for no
    * reduction — so the straightforward single-pass join stays.)
    */
  private[graft] def verifyJaccard(candidates: DataFrame, sh: DataFrame): DataFrame = {
    // SET-PER-DOC verification: one row per candidate pair, overlap via
    // array_intersect on the two ~60-element shingle sets. The previous
    // row-explosion form (candidates ⨝ sh ⨝ sh, |A∩B| rows per pair
    // through a shuffle + per-pair count) was fine on selective corpora
    // but collapsed on dense vocabularies — the sf1 fixture's 31-token
    // vocabulary yields millions of candidates sharing hot shingles, and
    // candidates × shingles-per-doc reached billions of shuffled rows.
    // Here verification work is one codegen'd intersect per pair: same
    // exact counts (sets are per-doc distinct by construction), same
    // oracle, ~linear in candidates with a small constant.
    val sets = sh.groupBy("doc_id")
      .agg(collect_set(col("shingle")).as("set"), count(lit(1)).as("n"))
    val common = candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("set").as("set_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("set").as("set_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("set_a"), col("set_b"))).cast("long").as("common"))
    scoreJaccard(common, sets.select(col("doc_id"), col("n")))
  }

  /** MinHash signature-quality report — the sketch-QA twin of
    * ann_recall_srp, for the dedup side: per exact near-dup pair, how
    * many of [[MinhashErrK]] MinHash components agree (the unbiased
    * Jaccard estimator a production MinHash-only pipeline would act on)
    * next to the exact Jaccard it estimates. Components are md5-derived
    * (the shared cross-engine hash family), so the WHOLE estimator —
    * component hashes, per-doc minima, match counting — replays in SQL
    * and the error report itself is hash-checked; the production
    * xxhash64 signatures ([[minhashSignatures]]) stay the fast path.
    * Shape at scale: one combinable K-way min aggregation over the
    * shingle index, then a pair-driven join of k-long arrays — the
    * signature table is the only thing the report reads twice.
    */
  val MinhashErrK = 32

  def minhashErrorDocs(docs: DataFrame): DataFrame = {
    // deliberately NOT [[docShingles]]: the 32-way min aggregation is
    // heavily map-side-combined (32 longs per doc per partition cross
    // the wire), so feeding it the pre-partitioned cache would replace
    // that combine with a full raw-shingle shuffle + cache build —
    // measured 4.2 → 7.4 s on the whole query when tried (r15). The
    // prefix chain below keeps its own cached, pre-partitioned frame.
    val sh = shingles(docs)
    val comps = (0 until MinhashErrK).map(i =>
      min(Sketches.h48(concat_ws("|", lit(i), col("shingle")))).as(s"m$i"))
    val sig = sh.groupBy("doc_id").agg(comps.head, comps.tail: _*)
      .select(col("doc_id"),
        array((0 until MinhashErrK).map(i => col(s"m$i")): _*).as("sig"))
      .cache()
    prefixJaccardDocs(docs)
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("n_match",
        expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b))")
          .cast("long"))
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        expr(s"n_match * 100 div $MinhashErrK").as("est_pct"),
        col("jaccard"))
  }

  def minhashError(s: SparkSession, dir: String): DataFrame =
    minhashErrorDocs(Tables.documents(s, dir))

  /** Collapse near-dup pairs into clusters and elect a canonical doc per
    * cluster (min doc_id) — the keep/drop list an actual dedup pass
    * emits. Connected components via GraphX (label = min vertex id),
    * which converges in O(diameter) Pregel rounds; near-dup clusters are
    * tiny, so this is a handful of cheap iterations even at corpus scale.
    * (A DataFrame min-label-propagation loop was measured ~3x slower per
    * round here: each round re-materializes labels and runs a separate
    * convergence action, where Pregel keeps both in one RDD iteration.)
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    sharedClusters(s, dir)

  /** Cluster labels computed ONCE per (session, dir, file-set) and
    * shared by `dedup_clusters` and `dedup_canonical` — a production
    * pipeline runs the prefix-join + CC chain once and feeds both the
    * cluster report and the keep/drop election from the same labels,
    * instead of paying the candidate generation twice. The label table
    * is O(clustered docs) rows, so caching it is metadata-sized at any
    * corpus scale.
    *
    * STALENESS CONTRACT: the memo key includes a signature of the
    * documents file set (names, lengths, mtimes — one driver-side
    * listing per access), so regenerating the data under `dir`
    * invalidates the entry instead of silently serving stale labels.
    * Entries for stopped sessions are dropped on the next access, and
    * [[clearShared]] (called by the bench harness between timed runs)
    * drops everything so a timed run always measures recomputation.
    */
  private val clusterCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), DataFrame]

  /** Drop every memoized label frame (unpersisting its plan). The bench
    * harness calls this from its inter-run cache hygiene; pipeline
    * callers may call it after a corpus rewrite instead of relying on
    * the file-set signature alone.
    */
  def clearShared(): Unit =
    clusterCache.keys.toSeq.foreach { k =>
      clusterCache.remove(k).foreach(_.unpersist(blocking = false))
    }

  /** One driver-side listing of `dir/documents.parquet`: a regenerated
    * corpus changes some (name, length, mtime) triple and thereby the
    * memo key.
    */
  private def docsSignature(s: SparkSession, dir: String): String = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$dir/documents.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val st = fs.getFileStatus(p)
      val parts =
        if (st.isDirectory) fs.listStatus(p).sortBy(_.getPath.getName)
        else Array(st)
      parts.iterator
        .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
        .mkString(",")
    }
  }

  def sharedClusters(s: SparkSession, dir: String): DataFrame = {
    // drop entries pinned to stopped sessions so the map never keeps a
    // dead SparkSession (and its plans) reachable for the JVM lifetime
    clusterCache.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    val key = (s, dir, docsSignature(s, dir))
    clusterCache.get(key) match {
      case Some(df)
          if df.storageLevel != org.apache.spark.storage.StorageLevel.NONE =>
        df
      case _ =>
        // REBUILD (not just re-pin) when absent or evicted: the pair
        // chain registers inner caches (shingle sets, prefix buckets)
        // at construction; re-executing an evicted old frame would pay
        // the doubled self-join its own scaladoc warns about
        val df = clustersFromPairs(s, prefixJaccard(s, dir)).cache()
        clusterCache.update(key, df)
        df
    }
  }

  /** The curation ACTION a dedup pass ends with: per near-dup cluster,
    * KEEP one canonical representative (longest doc, ties to the lower
    * doc_id — the "keep the fullest version" rule crawl pipelines use)
    * and account for what the drop saves. One combinable aggregation
    * over the cluster labels: the winner rides along in a max-of-struct
    * ((n_chars, -doc_id) — unique per doc, so the argmax is exact), and
    * bytes_dropped = cluster total minus the winner's chars.
    */
  def dedupCanonical(s: SparkSession, dir: String): DataFrame =
    canonicalFromLabels(Tables.documents(s, dir), sharedClusters(s, dir))

  /** The election alone, over caller-supplied labels — what the gate
    * query measures now that the label chain is shared.
    */
  def canonicalFromLabels(docs: DataFrame, clusters: DataFrame): DataFrame = {
    clusters
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("canonical").as("cluster"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("best"),
        sum(col("n_chars")).as("cluster_chars"))
      .select(col("cluster"), col("n_docs"),
        (-col("best.neg_id")).as("kept_doc"),
        (col("cluster_chars") - col("best.n_chars")).as("bytes_dropped"))
  }

  def clustersFromPairs(s: SparkSession, pairs: DataFrame): DataFrame = {
    import org.apache.spark.graphx.Graph
    import s.implicits._
    val raw = pairs.select(col("doc_a"), col("doc_b")).as[(Long, Long)].rdd
    // Size the GraphX partitioning from the DATA, not the session
    // default (r16): near-dup pair lists are O(dup docs) — tiny next to
    // the corpus — while Pregel pays per-partition scheduling and
    // shuffle-block overhead EVERY iteration, so a handful of edges
    // spread over defaultParallelism partitions turns CC into pure
    // scheduling noise that gets WORSE with more cores (the
    // dedup_canonical 8-vs-32-core inversion flagged in r15). Persist
    // the edge list (GraphX materializes it anyway), count it once —
    // cheap off the persisted blocks — and pack ~1M edges per
    // partition; a billion-pair run still fans wide.
    val edges = raw.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = edges.count()
    val parts = math.max(1, math.min(edges.getNumPartitions,
      (n >> 20).toInt + 1))
    Graph.fromEdgeTuples(edges.coalesce(parts), defaultValue = 0)
      .connectedComponents()
      .vertices
      .toDF("doc_id", "canonical")
  }

  /** SimHash near-dup: 64-bit fingerprint per doc (sign of per-bit vote
    * sums over shingle hashes), candidates share one of four 16-bit
    * blocks (pigeonhole: hamming <= 3 guarantees a shared block),
    * verified by exact hamming distance.
    *
    * The shingle hash is the first 64 bits of md5 — engine-independent,
    * which makes the whole operator DuckDB-oracle-checkable; swapping in
    * a faster non-cryptographic hash changes only this one projection.
    */
  val HammingThreshold = 3

  def simhashFingerprints(s: SparkSession, docShingles: DataFrame): DataFrame = {
    import s.implicits._
    docShingles
      .select(col("doc_id"), substring(md5(col("shingle")), 1, 16).as("hx"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .mapGroups { (docId, rows) =>
        val votes = new Array[Int](64)
        rows.foreach { case (_, hx) =>
          val h = java.lang.Long.parseUnsignedLong(hx, 16)
          var i = 0
          while (i < 64) {
            votes(i) += (if (((h >>> i) & 1L) != 0L) 1 else -1)
            i += 1
          }
        }
        var fp = 0L
        var i = 0
        while (i < 64) { if (votes(i) > 0) fp |= 1L << i; i += 1 }
        (docId, fp)
      }
      .toDF("doc_id", "fingerprint")
  }

  def simhash(s: SparkSession, dir: String): DataFrame =
    simhashDocs(s, Tables.documents(s, dir))

  def simhashDocs(s: SparkSession, docs: DataFrame): DataFrame = {
    val fp = simhashFingerprints(s, shingles(docs)).cache()
    val blocks = fp.select(
      col("doc_id"), col("fingerprint"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("fingerprint"), b * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("block", "block_val")))
    val candidates = blocks.as("a")
      .join(blocks.as("b"),
        col("a.block") === col("b.block") &&
          col("a.block_val") === col("b.block_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.fingerprint").as("fp_a"), col("b.fingerprint").as("fp_b"))
      .distinct()
    candidates
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= HammingThreshold)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Embedding-cosine near-dup over the embeddings table, computed in
    * double precision. This is the exact O(n^2) baseline — the LSH-bucketed
    * scale path lives in [[Similarity]].
    */
  val CosineThreshold = 0.45

  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), _ + _)
    val na = aggregate(transform(a, x => x * x), lit(0.0), _ + _)
    val nb = aggregate(transform(b, x => x * x), lit(0.0), _ + _)
    dot / (sqrt(na) * sqrt(nb))
  }

  def embeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps.{no_pushdown, vec_dot, vec_unit}
    // normalize once per row (scan-side projection); per-pair work is then
    // a single codegen'd dot product — the interpreted higher-order-fn
    // cosine made this one query dominate the whole benchmark
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        vec_unit(transform(col("embedding"), x => x.cast("double"))).as("v"))
    // spread the stream side: a one-split scan would run every pairwise
    // dot product on a single core
    OpUtil.spread(emb).as("a")
      .join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(vec_dot(col("a.v"), col("b.v")), 6).as("cos"))
      // barrier: without it this filter is substituted into the join
      // condition and the dot product runs 3x per unordered pair
      .filter(no_pushdown(col("cos")) >= CosineThreshold)
  }
}
