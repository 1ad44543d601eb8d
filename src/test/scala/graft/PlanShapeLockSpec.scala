package graft

import graft.PlanAudit.PlanShape
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression lock (round 8): the 20 most expensive batch
  * queries (BENCH_OUT sf0.1 medians) pinned to their join/shuffle
  * shapes under the fixed spec config (sf0.001, local[4], 4 shuffle
  * partitions, default thresholds). The point is CHANGE DETECTION, not
  * scale truth: any code change that alters one of these plans now
  * fails here with a diff, instead of surfacing as an unexplained bench
  * drift a round later (the graph_triangles +0.7 s lesson — that change
  * was deliberate, but only the bench caught it).
  *
  * On a deliberate plan change: re-record with
  * `PLAN_LOCK_RECORD=1 sbt "testOnly graft.PlanShapeLockSpec"` and
  * paste the printed map — the diff in git then documents the change.
  */
class PlanShapeLockSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Locked shapes, recorded under the spec config above. Counts are
    * string-mined from the STATIC (pre-execution) plan dump — iterative
    * queries (graph_*, gmm) repeat shared subtrees, so the big numbers
    * are print multiplicity, not runtime exchanges; what matters is
    * that they are deterministic for fixed code+fixtures, which is all
    * a change-detector needs (executed dumps are NOT: background AQE
    * finalization of cached subtrees races the dump — see
    * PlanAudit.staticShape). All-zero rows (GraphX-backed clusters
    * queries) mean the final frame is RDD-constructed — their SQL plan
    * holds no joins.
    */
  // r15 re-record (dedup_minhash_error 21→29, dedup_prefix_join 17→25,
  // dedup_minhash 15→21 shuffles): deliberate — the shingle frame now
  // caches PRE-PARTITIONED on doc_id (Dedup.docShingles), adding one
  // repartition node to each printed subtree while REMOVING two
  // runtime full-frame exchanges per chain (window + verify set
  // aggregation reuse the cached layout; −34% on the chain at sf0.1).
  // minhash_error's SIGNATURE fold deliberately stays on the raw
  // shingle stream (its 32-way min agg is map-side-combined; feeding
  // it the pre-partitioned cache measured 4.2→7.4 s).
  // r16 re-records (all deliberate):
  //  - graph_pagerank/graph_ppr 10 SMJ/37 shuffles -> 5/22: out_w is a
  //    window sum inside the src-partition exchange, so the printed
  //    tree loses the per-iteration edges⋈outw join and its exchanges;
  //  - graph_hits +2 BNLJ/+2 shuffles: the per-half-step normalization
  //    divisor moved INTO the plan as a broadcast 1-row cross-join
  //    (replacing 2 driver collect actions per iteration);
  //  - pipe_curate_v3 BHJ 122 -> 38: the gopher gate is fused into the
  //    scan (gopherKeep), so the gated subtree no longer repeats the
  //    docs⋈rules broadcast join under every cached reference;
  //  - ann_sq8_maintained +2 BHJ: the maintained index now carries
  //    equality deletes and the search scan applies them as two
  //    broadcast anti-join probes (the cheap join kind, by design).
  val locked: Map[String, PlanShape] = Map(
    "dedup_minhash_error" -> PlanShape(0, 9, 0, 0, 29),
    "dedup_clusters" -> PlanShape(0, 0, 0, 0, 0),
    "dedup_prefix_join" -> PlanShape(0, 7, 0, 0, 25),
    "gmm_fixed_point" -> PlanShape(11, 25, 0, 0, 84),
    "graph_harmonic" -> PlanShape(0, 15, 0, 0, 187),
    "graph_triangles" -> PlanShape(0, 8, 2, 0, 46),
    "graph_bfs_landmarks" -> PlanShape(0, 15, 0, 0, 186),
    "graph_neighbor_jaccard" -> PlanShape(0, 3, 0, 0, 19),
    "graph_pagerank" -> PlanShape(0, 5, 0, 0, 22),
    "pipe_fuzzy_match" -> PlanShape(0, 1, 0, 0, 0),
    "ann_pq_refine" -> PlanShape(0, 2, 2, 0, 4),
    "dedup_semantic_clusters" -> PlanShape(0, 0, 0, 0, 0),
    "stats_table" -> PlanShape(0, 2, 0, 0, 6),
    "sketch_bloom_join" -> PlanShape(0, 4, 0, 0, 8),
    "ann_recall_srp" -> PlanShape(1, 1, 1, 0, 8),
    "dedup_minhash" -> PlanShape(0, 4, 0, 0, 21),
    "fmt_fixed_roundtrip" -> PlanShape(0, 0, 0, 0, 1),
    "cmeans_fixed_point" -> PlanShape(1, 7, 0, 0, 22),
    "ann_recall_pq" -> PlanShape(1, 0, 3, 0, 8),
    "cmeans_clusters" -> PlanShape(0, 0, 0, 0, 1),
    // round-8 session-2 additions (retrieval/ML/pushdown). Notables:
    // the linregs are ONE shuffle (a single combinable aggregation) and
    // fmt_count_pushdown is ZERO of everything — the whole query is a
    // metadata scan.
    "text_bm25" -> PlanShape(0, 4, 2, 0, 17),
    "ann_hybrid_rrf" -> PlanShape(1, 4, 3, 0, 22),
    "ml_naive_bayes" -> PlanShape(1, 1, 4, 0, 12),
    "ml_auc_report" -> PlanShape(1, 4, 8, 0, 28),
    "ml_linreg_exact" -> PlanShape(0, 0, 0, 0, 1),
    "ml_linreg_multi" -> PlanShape(0, 0, 0, 0, 1),
    "ml_calibration" -> PlanShape(1, 1, 4, 0, 13),
    "fmt_count_pushdown" -> PlanShape(0, 0, 0, 0, 0),
    // round-8 session-4 additions. The iterative graph queries lock at
    // ONE shuffle because localCheckpoint truncates each round's
    // lineage out of the final static plan (the per-round cost is
    // measured by `graft.Profile ops` instead); mr_grep is RDD-built (no SQL
    // joins); knn's single broadcast NLJ is the test-fold broadcast.
    "graph_kcore" -> PlanShape(0, 0, 0, 0, 1),
    "graph_cc_star" -> PlanShape(0, 0, 0, 0, 1),
    "ml_knn_classify" -> PlanShape(0, 0, 1, 0, 2),
    "ml_boosted_stumps" -> PlanShape(0, 0, 0, 0, 1),
    "ml_ridge_exact" -> PlanShape(0, 0, 0, 0, 1),
    "pipe_outliers" -> PlanShape(0, 1, 0, 0, 1),
    "sketch_bitmap_distinct" -> PlanShape(0, 0, 0, 0, 1),
    "mr_grep" -> PlanShape(0, 0, 0, 0, 0),
    "graph_mst" -> PlanShape(0, 0, 0, 0, 0),
    "asof_nearest" -> PlanShape(1, 1, 0, 0, 2),
    "ml_feature_rank" -> PlanShape(0, 3, 0, 0, 9),
    "ann_range_search" -> PlanShape(0, 0, 1, 0, 2),
    "pipe_class_balance" -> PlanShape(0, 0, 0, 0, 1),
    "fmt_malformed_csv" -> PlanShape(0, 0, 0, 0, 1),
    // round-8 session-5 additions. pca locks all-zero for the same
    // localCheckpoint reason as the iterative graph queries; covisit's
    // one broadcast is the AQE-eligible pair join over the capped
    // histories; forget's broadcast is the request-set purge join.
    "ml_pca_power" -> PlanShape(0, 0, 0, 0, 0),
    "graph_covisit" -> PlanShape(0, 1, 0, 0, 6),
    "dedup_canonical" -> PlanShape(0, 1, 0, 0, 1),
    "wh_forget" -> PlanShape(0, 1, 0, 0, 3),
    "pipe_k_anonymity" -> PlanShape(0, 0, 0, 0, 2),
    "text_normalize" -> PlanShape(0, 0, 0, 0, 2),
    "fmt_zstd_roundtrip" -> PlanShape(0, 0, 0, 0, 1),
    // hits: the 2 SMJs are the final node ⋈ hub ⋈ auth left joins
    // (both sides node-partitioned post-agg); the shuffle count is
    // print multiplicity of the cached node-set subtree
    "graph_hits" -> PlanShape(2, 0, 2, 0, 30),
    "wh_ivm_agg" -> PlanShape(0, 1, 0, 0, 2),
    "pipe_dataset_card" -> PlanShape(0, 0, 0, 0, 2),
    "pipe_bloom_decontam" -> PlanShape(1, 3, 0, 0, 16),
    // round-10: shuffle ranks = 1 broadcast (offsets) + 1 shuffle (the
    // per-range windows share one hash exchange); curate_v3's big print
    // counts are the composed chain's subtree multiplicity (static dump
    // repeats shared stages), deterministic for fixed code+fixtures;
    // the DSv2 snapshot read is a stock parquet scan + the two-version
    // join, no extra exchanges from the connector
    "pipe_shuffle_shard" -> PlanShape(0, 1, 0, 0, 1),
    "pipe_curate_v3" -> PlanShape(42, 38, 3, 0, 124),
    "fmt_snapshot_dsv2" -> PlanShape(0, 1, 1, 0, 3),
    // round-10 session-2: both are a pruned-file-list parquet scan into
    // one aggregation — no joins, the one exchange is the final agg
    "fmt_snapshot_changes" -> PlanShape(0, 0, 0, 0, 1),
    "fmt_snapshot_skip" -> PlanShape(0, 0, 0, 0, 1),
    "graph_temporal_paths" -> PlanShape(0, 1, 0, 0, 4),
    "pipe_drift_chi2" -> PlanShape(1, 0, 2, 0, 6),
    "ann_ivfpq" -> PlanShape(1, 1, 3, 0, 6),
    // round-11. bpe_encode: still 3 shuffles after the sharded-rank
    // change (the per-shard window shares the distinct's exchange);
    // curate_incremental's final read is one agg over the committed
    // snapshot (the per-step work ran at construction); snapshot_count
    // is ZERO of everything — the count is manifest arithmetic;
    // cdf/evolve lock the fold join + the broadcast audit columns
    "text_bpe_encode" -> PlanShape(0, 3, 0, 0, 9),
    "pipe_curate_incremental" -> PlanShape(0, 0, 0, 0, 1),
    "fmt_snapshot_cdf" -> PlanShape(0, 2, 1, 0, 4),
    "fmt_snapshot_evolve" -> PlanShape(0, 1, 1, 0, 3),
    "fmt_snapshot_count" -> PlanShape(0, 0, 0, 0, 0),
    "fmt_snapshot_write" -> PlanShape(0, 0, 0, 0, 1),
    "fmt_snapshot_merge_large" -> PlanShape(0, 1, 0, 0, 2),
    // zorder: the two manifest-pruned ranged reads cross-join (BNLJ on
    // two 1-row aggregates) — the compaction itself ran at construction
    "fmt_snapshot_zorder" -> PlanShape(0, 0, 1, 0, 2),
    // pushdown: one agg over the transparently-pruned DSv2 scan
    "fmt_snapshot_pushdown" -> PlanShape(0, 0, 0, 0, 1),
    // sql: current-version agg × VERSION AS OF 2 agg (BNLJ on 1-row
    // frames) — the DDL/DML ran at construction through the catalog.
    // Re-recorded in session 5: one arm's unfiltered COUNT now folds
    // from the manifest (LocalTableScan) and its exchange disappears
    "fmt_snapshot_sql" -> PlanShape(0, 0, 1, 0, 1),
    // delete: post-delete agg × pre-delete time-travel agg (one arm
    // manifest-folded since session 5, as above)
    "fmt_snapshot_delete" -> PlanShape(0, 0, 1, 0, 1),
    // update / merge-sql: one agg over the post-DML read (the DML
    // itself — COW rewrite + atomic commit — ran at construction)
    "fmt_snapshot_update" -> PlanShape(0, 0, 0, 0, 1),
    "fmt_snapshot_merge_sql" -> PlanShape(0, 0, 0, 0, 1),
    // timetravel: three 1-row aggs (as-of read, current read, the
    // LocalScan metadata table) cross-joined; since session 5 two of
    // them are manifest-local rows, so one BNLJ degrades to a
    // cartesian of locals and two exchanges disappear
    "fmt_snapshot_timetravel" -> PlanShape(0, 0, 1, 1, 1),
    // round-11 session-3. rollback/partitioned/replace/part_sql: one
    // agg over the (restored / partition-pruned / replaced) head — the
    // commits and the manifest-only restore ran at construction, and
    // partition pruning is a file-list decision, invisible as plan
    // nodes. dv: the ONE BroadcastHashJoin is the vector anti-join —
    // broadcast by design, never a shuffle of the table; dv_rewrite
    // reads the folded head through the stock DSv2 scan — back to the
    // join-free single-agg shape, which is the point of the fold.
    "fmt_snapshot_rollback" -> PlanShape(0, 0, 0, 0, 1),
    // partitioned / part_sql lock at ZERO exchanges since the SPJ
    // report landed: the scan declares KeyGroupedPartitioning over the
    // manifest's exact partition values, and v2 bucketing (default-on
    // in Spark 4) lets the partition-column aggregation skip its
    // shuffle entirely — grouped tasks hold complete groups
    "fmt_snapshot_partitioned" -> PlanShape(0, 0, 0, 0, 0),
    "fmt_snapshot_replace" -> PlanShape(0, 0, 0, 0, 1),
    "fmt_snapshot_part_sql" -> PlanShape(0, 0, 0, 0, 0),
    "fmt_snapshot_dv" -> PlanShape(0, 1, 0, 0, 1),
    "fmt_snapshot_dv_rewrite" -> PlanShape(0, 0, 0, 0, 1),
    // spj: the RETURN frame is the plain-conf join (broadcast at spec
    // scale) + the final agg exchange; the zero-exchange SPJ plan runs
    // inside the gate under the bucketing confs and is value-checked
    // by the oracle through the spj_no_shuffle flag at both gate scales
    "fmt_snapshot_spj" -> PlanShape(0, 1, 0, 0, 1),
    // round-11 session-4. cdf_full: the fold's per-step key anti-joins
    // are all BROADCAST (feeds are delta-sized by construction — never
    // a shuffle of the consumer's state), the one BNLJ is the 1-row
    // audit cross-join; static print multiplicity repeats the shared
    // feed subtree. imv: maintain is JOIN-FREE — the feed collapses to
    // a per-group delta in one map-side-combined agg, the second agg
    // folds (view ∪ delta); two exchanges total, exactly the shape the
    // operator's cost model claims.
    "fmt_snapshot_cdf_full" -> PlanShape(0, 9, 1, 0, 11),
    "pipe_imv" -> PlanShape(0, 0, 0, 0, 2),
    // call: the returned frame is one agg over the compacted head —
    // every CALL (rollback/zorder/expire) ran at construction
    "fmt_snapshot_call" -> PlanShape(0, 0, 0, 0, 1),
    // span_scrub: both joins BROADCAST (the duplicated-span set and
    // the per-doc rollup are small next to the token stream); the 7
    // exchanges are the span agg, coverage distinct, islands window,
    // and the per-doc/per-source rollups — all doc- or span-keyed,
    // never a global sort
    "dedup_span_scrub" -> PlanShape(0, 2, 0, 0, 7),
    // cdf_sql: the SQL-DML feed folds like the library one — every
    // anti-join BROADCAST (the XB/XA frames are priced at the
    // rewrites' touched files, never the table), the BNLJ is the
    // 1-row audit cross-join
    "fmt_snapshot_cdf_sql" -> PlanShape(0, 3, 1, 0, 5),
    // wap: the returned frame is ONE aggregation over the final table
    // read — every stage/audit/publish/drop/refusal ran at
    // construction, each O(metadata) except the staged writes
    "fmt_snapshot_wap" -> PlanShape(0, 0, 0, 0, 1),
    // minmax: ZERO of everything — the whole aggregation is a
    // driver-local row folded from the manifest stats
    "fmt_snapshot_minmax" -> PlanShape(0, 0, 0, 0, 0),
    // wap_curate: one agg over the final table — the curation steps,
    // both audits (narrow digest-column scans), the publish, and the
    // drop all ran at construction
    "pipe_wap_curate" -> PlanShape(0, 0, 0, 0, 1),
    // binpack: one agg over the compacted table — the pack (reading
    // ONLY the small files) ran at construction
    "fmt_snapshot_binpack" -> PlanShape(0, 0, 0, 0, 1),
    // upsert: one agg over the final table — the three CDC merges and
    // the redelivery no-op ran at construction
    "fmt_snapshot_upsert" -> PlanShape(0, 0, 0, 0, 1),
    // sq8: one BROADCAST of the tiny query set against the codes scan
    // (the stats/codebook is literal arrays — no join for it at all);
    // the recall report joins exact × sq8 like the other families
    "ann_sq8" -> PlanShape(0, 0, 1, 0, 1),
    "ann_recall_sq8" -> PlanShape(1, 0, 2, 0, 6),
    // logreg: the returned frame is the final log-likelihood pass —
    // each IRLS iteration was one combinable aggregation at
    // construction, the Newton solve driver arithmetic
    "ml_logreg_irls" -> PlanShape(0, 0, 0, 0, 1),
    // ppr: identical shape to graph_pagerank — same loop, only the
    // teleport vector differs
    "graph_ppr" -> PlanShape(0, 5, 0, 0, 22),
    // round-12: refs gate = head groupBy + two broadcast scalar audits;
    // bloom gate = the present-leg broadcast join (the absent leg runs
    // before the returned plan); maintained-index search = one ADC
    // window over the index scan with the broadcast query side
    "fmt_snapshot_refs" -> PlanShape(0, 0, 2, 0, 3),
    "fmt_snapshot_bloom" -> PlanShape(0, 1, 0, 0, 1),
    "ann_sq8_maintained" -> PlanShape(0, 2, 1, 0, 1))

  test("top-20 query plan shapes match the locked snapshot") {
    val record = sys.env.get("PLAN_LOCK_RECORD").contains("1")
    val targets = Seq(
      "dedup_minhash_error", "dedup_clusters", "dedup_prefix_join",
      "gmm_fixed_point", "graph_harmonic", "graph_triangles",
      "graph_bfs_landmarks", "graph_neighbor_jaccard", "graph_pagerank",
      "pipe_fuzzy_match", "ann_pq_refine", "dedup_semantic_clusters",
      "stats_table", "sketch_bloom_join", "ann_recall_srp",
      "dedup_minhash", "fmt_fixed_roundtrip", "cmeans_fixed_point",
      "ann_recall_pq", "cmeans_clusters",
      "text_bm25", "ann_hybrid_rrf", "ml_naive_bayes", "ml_auc_report",
      "ml_linreg_exact", "ml_linreg_multi", "ml_calibration",
      "fmt_count_pushdown",
      "graph_kcore", "graph_cc_star", "ml_knn_classify",
      "ml_boosted_stumps", "ml_ridge_exact", "pipe_outliers",
      "sketch_bitmap_distinct", "mr_grep", "graph_mst",
      "asof_nearest", "ml_feature_rank", "ann_range_search",
      "pipe_class_balance", "fmt_malformed_csv",
      "ml_pca_power", "graph_covisit", "dedup_canonical", "wh_forget",
      "pipe_k_anonymity", "text_normalize", "fmt_zstd_roundtrip",
      "graph_hits",
      "wh_ivm_agg", "pipe_dataset_card", "pipe_bloom_decontam",
      "graph_temporal_paths", "pipe_drift_chi2", "ann_ivfpq",
      // round-10 additions: the de-serialized shuffle ranks, the
      // composed governance pipeline, and the DSv2 snapshot read path
      "pipe_shuffle_shard", "pipe_curate_v3", "fmt_snapshot_dsv2",
      // round-10 session-2: the incremental file-level read and the
      // stats-pruned ranged read (the stream sink gate is excluded like
      // every stream query — building it runs a streaming query)
      "fmt_snapshot_changes", "fmt_snapshot_skip",
      // round-11 additions: the BPE encode (sharded-prefix-sum token
      // ids replaced the global dense_rank window), the digest-column
      // incremental curation, and the new snapshot-layer gates (change
      // feed fold, schema evolution, manifest count, DSv2 write path,
      // join-form merge)
      "text_bpe_encode", "pipe_curate_incremental", "fmt_snapshot_cdf",
      "fmt_snapshot_evolve", "fmt_snapshot_count", "fmt_snapshot_write",
      "fmt_snapshot_merge_large", "fmt_snapshot_zorder",
      "fmt_snapshot_pushdown", "fmt_snapshot_sql", "fmt_snapshot_delete",
      "fmt_snapshot_update", "fmt_snapshot_merge_sql",
      "fmt_snapshot_timetravel",
      // round-11 session-3: rollback (manifest-only restore),
      // partitioned tables (library + replace + SQL), merge-on-read
      // delete vectors (the vector-subtracting read) and their fold
      "fmt_snapshot_rollback", "fmt_snapshot_partitioned",
      "fmt_snapshot_replace", "fmt_snapshot_part_sql",
      "fmt_snapshot_dv", "fmt_snapshot_dv_rewrite", "fmt_snapshot_spj",
      // round-11 session-4: the complete change feed (UB pre-images,
      // delete D frames, no-op folds) and the incrementally-maintained
      // aggregate view over it
      "fmt_snapshot_cdf_full", "pipe_imv", "fmt_snapshot_call",
      "dedup_span_scrub",
      // round-11 session-5: the change feed across SQL row-level DML
      // (XB/XA file-diff steps), write-audit-publish staging, and
      // manifest-complete aggregate pushdown
      "fmt_snapshot_cdf_sql", "fmt_snapshot_wap", "fmt_snapshot_minmax",
      "pipe_wap_curate", "fmt_snapshot_binpack", "fmt_snapshot_upsert",
      "ann_sq8", "ann_recall_sq8", "ml_logreg_irls", "graph_ppr",
      // round-12: named refs (tag + branch reads after vacuum), the
      // bloom-pruned runtime join, and the incrementally-maintained
      // SQ8 index (feed fold + keyed delete + merge + ADC search)
      "fmt_snapshot_refs", "fmt_snapshot_bloom", "ann_sq8_maintained")
    val shapes = targets.map { name =>
      spark.sharedState.cacheManager.clearCache()
      // STATIC shape, not executed: execution materializes cached
      // subtrees whose AQE sections finalize asynchronously, making
      // executed dumps flap by a few Exchanges on iterative queries —
      // the wrong property for a change detector (see PlanAudit
      // scaladoc). Construction-time actions (e.g. pagerank's node
      // count) still run synchronously, so this dump is deterministic.
      val shape = PlanAudit.staticShape(SparkEntry.queries(name)(spark, sfDir))
      name -> shape
    }
    if (record) {
      println("  val locked: Map[String, PlanShape] = Map(")
      shapes.foreach { case (n, s) =>
        println(s"""    "$n" -> PlanShape(${s.smj}, ${s.bhj}, ${s.bnlj}, ${s.cartesian}, ${s.shuffle}),""")
      }
      println("  )")
    } else {
      val diffs = shapes.flatMap { case (n, actual) =>
        locked.get(n) match {
          case Some(want) if want != actual => Some(s"$n: locked [$want] actual [$actual]")
          case None => Some(s"$n: NOT IN LOCK (re-record)")
          case _ => None
        }
      }
      assert(diffs.isEmpty, "plan shapes drifted:\n" + diffs.mkString("\n"))
    }
  }
}
