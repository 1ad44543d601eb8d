package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over the event log — PageRank on the item-transition
  * graph (consecutive events of one user link the items they touched,
  * the classic web/session graph build). Connected components already
  * exist in the dedup layer (GraphX CC canonicalization); this adds the
  * iterate-until-k random-walk family.
  *
  * All rank mass is FIXED-POINT INTEGER (1e12 scale): every divide is an
  * integer `div` applied in a fixed order, so five iterations of float
  * summation-order drift reduce to exact BIGINT arithmetic — which is
  * what lets an ITERATIVE graph algorithm be hash-checked cross-engine
  * (the float clusterings gmm/cmeans stay rows-only for exactly this
  * reason). Dangling-node mass is dropped, the standard simplification.
  *
  * Scale shape: edge build is one window over (user, ts) + one
  * combinable count; each iteration is one equi-join of the cached edge
  * list with the current rank vector plus a combinable sum — the
  * Pregel/GraphX message pattern expressed relationally. Ranks stay
  * (node, BIGINT) rows end to end; nothing iterates on the driver.
  */
object GraphOps {

  val PrScale = 1000000000000L
  val PrDampNum = 850L // damping 0.85 as a rational: *850 div 1000
  val PrIters = 5

  /** events projected to the item stream (user, ts, event_id, item). */
  private def itemEvents(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .filter(col("item").isNotNull)

  /** Item-transition edges: (prev item → item) within each user's
    * time-ordered event stream, weighted by transition count.
    */
  def transitionEdges(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    itemEvents(events)
      .select(lag(col("item"), 1).over(w).as("src"), col("item").as("dst"))
      .filter(col("src").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }

  /** Five damped PageRank iterations in 1e12 fixed point.
    *
    * CACHE CONTRACT: the event/edge/node frames stay cached for the
    * iteration's reuse and cannot unpersist before the returned lazy
    * frame is consumed; repeat callers in one JVM (Bench, probes)
    * clear caches between invocations (Verify/Bench/Profile all do).
    */
  def pagerank(events: DataFrame): DataFrame = {
    val ev = itemEvents(events).cache()
    val edges = {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev.select(lag(col("item"), 1).over(w).as("src"), col("item").as("dst"))
        .filter(col("src").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    }
    // out_w as a WINDOW SUM over the src partition (r16): the former
    // groupBy+self-join computed the edge subplan TWICE (once per join
    // side) and then re-shuffled the joined result onto src — the
    // window derives the same per-src total in the one exchange the
    // cache layout needs anyway (hashpartitioning(src)), so the edge
    // list is built in ONE pass with ONE shuffle fewer. Every
    // iteration's rank⋈edges equi-join reuses this partitioning, so
    // only the (tiny) rank vector moves per iteration.
    val ew = edges
      .withColumn("out_w",
        sum(col("w")).over(Window.partitionBy(col("src"))))
      .cache()
    val nodes = ev.select(col("item").as("node")).distinct().cache()
    val n = nodes.count()
    if (n == 0) {
      // empty event stream → empty rank table, not a crash
      return nodes.select(col("node"), lit(0L).as("rank_fp"))
    }
    val init = PrScale / n
    val base = (1000L - PrDampNum) * init / 1000L
    // iterate on the IN-MASS vector only: any node's rank is
    // base + coalesce(in_mass, 0), so the full rank table never needs
    // materializing inside the loop — each iteration is one equi-join
    // of the mass vector against the src-partitioned cached edge list
    // plus one combinable per-dst sum. No static broadcast: AQE promotes
    // the join to broadcast when the runtime-sized vector is genuinely
    // small, and falls back to a co-partitioned shuffle join on a
    // billion-node graph (a driver collect+reship of O(nodes) per
    // iteration is exactly what this avoids).
    // Contribution order (rank div out_w) * w bounds the intermediate by
    // PrScale: rank <= 1e12 and w <= out_w, so no BIGINT overflow no
    // matter how heavy an edge gets (rank * w would blow past 2^63 once
    // w > ~9.2e6 — plausible for a hub pair in a production event log).
    // Cost: up to out_w-1 fixed-point units truncated per edge, i.e.
    // < 1e-12 of total mass per edge — documented precision tradeoff.
    var mass: DataFrame = null
    for (it <- 1 to PrIters) {
      val joined =
        if (it == 1) ew.withColumn("rank", lit(init))
        else ew.join(mass.select(col("mdst").as("src"), col("mass")),
            Seq("src"), "left_outer")
          .withColumn("rank", lit(base) + coalesce(col("mass"), lit(0L)))
      mass = joined
        .select(col("dst"),
          expr(s"((rank div out_w) * w) * $PrDampNum div 1000").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("mass"))
        .select(col("dst").as("mdst"), col("mass"))
    }
    nodes.join(mass, col("node") === col("mdst"), "left_outer")
      .select(col("node"),
        (lit(base) + coalesce(col("mass"), lit(0L))).as("rank_fp"))
  }

  val PprSeedMod = 50L

  /** PERSONALIZED PageRank: the same damped fixed-point iteration as
    * [[pagerank]] with the teleport concentrated on a SEED SET (items
    * ≡ 0 mod [[PprSeedMod]]) instead of uniform — the relevance
    * measure behind "related to THESE items" recommendation and seed
    * expansion (random-walk-with-restart). Identical plan economics:
    * the edge list is cached pre-partitioned on src, each iteration
    * moves only the mass vector, all arithmetic is the 1e12 integer
    * fixed point, so the ranks are engine-exact and the oracle replays
    * the iteration verbatim. Non-seed nodes hold only flowed-in mass;
    * a node unreachable from the seeds ranks exactly 0 — the signature
    * that distinguishes PPR from global PageRank.
    *
    * Same CACHE CONTRACT as [[pagerank]] and `prefixJaccardDocs`: the
    * event/edge/node frames stay cached for the iteration's reuse and
    * cannot unpersist before the returned lazy frame is consumed;
    * repeat callers in one JVM (Bench, probes) clear caches between
    * invocations (Verify/Bench/Profile all do).
    */
  def personalizedPagerank(events: DataFrame): DataFrame = {
    val ev = itemEvents(events).cache()
    val edges = {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev.select(lag(col("item"), 1).over(w).as("src"), col("item").as("dst"))
        .filter(col("src").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    }
    // window-sum out_w in the src-partition exchange the cache needs
    // anyway — one edge pass, one shuffle fewer (see pagerank, r16)
    val ew = edges
      .withColumn("out_w",
        sum(col("w")).over(Window.partitionBy(col("src"))))
      .withColumn("tel_src",
        (col("src") % PprSeedMod === 0).cast("long"))
      .cache()
    val nodes = ev.select(col("item").as("node")).distinct().cache()
    val nSeeds = nodes.filter(col("node") % PprSeedMod === 0).count()
    if (nSeeds == 0)
      return nodes.select(col("node"), lit(0L).as("rank_fp"))
    val init = PrScale / nSeeds
    val baseSeed = (1000L - PrDampNum) * init / 1000L
    var mass: DataFrame = null
    for (it <- 1 to PrIters) {
      val joined =
        if (it == 1) ew.withColumn("rank", col("tel_src") * init)
        else ew.join(mass.select(col("mdst").as("src"), col("mass")),
            Seq("src"), "left_outer")
          .withColumn("rank",
            col("tel_src") * baseSeed + coalesce(col("mass"), lit(0L)))
      mass = joined
        .select(col("dst"),
          expr(s"((rank div out_w) * w) * $PrDampNum div 1000").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("mass"))
        .select(col("dst").as("mdst"), col("mass"))
    }
    nodes.join(mass, col("node") === col("mdst"), "left_outer")
      .select(col("node"),
        ((col("node") % PprSeedMod === 0).cast("long") * baseSeed
          + coalesce(col("mass"), lit(0L))).as("rank_fp"))
  }

  /** Triangle census of the undirected transition graph — the classic
    * MapReduce graph benchmark (clustering-coefficient numerator,
    * community-density signal). Edges are oriented low→high by
    * (degree, id) — the node-iterator++ layout — so every wedge is
    * centered at its LOWEST-degree vertex: a hub of degree d generates
    * wedges only from the (few) neighbors that out-rank it, bounding
    * the self-join at O(m^1.5) total wedges regardless of skew, where
    * the id-only orientation lets one hub emit O(d^2). The (deg, id)
    * total order makes each triangle counted exactly once: its minimum
    * vertex centers the single counted wedge, and the closing edge is
    * exactly the oriented (mid, max) row. Same count as the oracle's
    * id-oriented chain join — orientation changes the join shape, not
    * the result. Measured cost at fixture scale (sf0.1): 1.5 -> 2.2 s
    * from the degree join — the constant factor bought for the
    * worst-case bound (one hub would revert the id-oriented plan to
    * quadratic; the degree-ordered one stays O(m^1.5) regardless).
    */
  def triangleCensus(events: DataFrame): DataFrame = {
    val und = transitionEdges(events)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .cache()
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // a < b already, so the tie (da == db) keeps the id orientation;
    // the higher endpoint's degree rides along for the wedge-pair order
    val lt = col("da") < col("db") || (col("da") === col("db"))
    val oriented = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(
        when(lt, col("a")).otherwise(col("b")).as("lo"),
        when(lt, col("b")).otherwise(col("a")).as("hi"),
        when(lt, col("db")).otherwise(col("da")).as("hideg"))
      .cache()
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.lo") === col("e2.lo") &&
        (col("e1.hideg") < col("e2.hideg") ||
          (col("e1.hideg") === col("e2.hideg") &&
            col("e1.hi") < col("e2.hi"))))
      .select(col("e1.hi").as("y"), col("e2.hi").as("z"))
    val tris = wedges.join(oriented.as("e3"),
      col("y") === col("e3.lo") && col("z") === col("e3.hi"))
    val nodes = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v"))).distinct()
    und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(nodes.agg(count(lit(1)).as("n_nodes")))
      .crossJoin(tris.agg(count(lit(1)).as("n_triangles")))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  val BfsLandmarks = 3
  val BfsIters = 4

  /** Landmark BFS — multi-source shortest paths (in hops) from the
    * [[BfsLandmarks]] highest-degree nodes of the undirected transition
    * graph, [[BfsIters]] synchronous rounds. The landmark-distance table
    * is the building block of distance oracles and harmonic-centrality
    * estimates; picking landmarks by degree (id tiebreak) keeps the
    * whole query deterministic, and hop counts are integers, so the
    * ITERATION hash-checks cross-engine like pagerank does.
    *
    * Scale shape: each round is one equi-join of the current distance
    * table against the adjacency list (cached pre-partitioned on the
    * probe column) plus one combinable min — the relational Pregel
    * message pattern. Distance state is at most nodes x landmarks rows;
    * nothing iterates on the driver.
    */
  def bfsLandmarks(events: DataFrame): DataFrame = {
    val und = transitionEdges(events)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val adj = und.select(col("a").as("node"), col("b").as("nb"))
      .unionAll(und.select(col("b").as("node"), col("a").as("nb")))
      .repartition(col("nb")) // every round's frontier join probes on nb
      .cache()
    val landmarks = adj.groupBy("node").agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("node")).limit(BfsLandmarks)
      .select(col("node").as("lm"))
    var dist = landmarks.select(col("lm"), col("lm").as("node"),
      lit(0L).as("d"))
    for (_ <- 1 to BfsIters) {
      // each level references the previous twice (frontier expansion +
      // min-merge); cache it or the lineage re-evaluates 2^k times
      dist = dist.cache()
      val next = adj
        .join(dist.select(col("lm"), col("node").as("nb"), col("d")), "nb")
        .select(col("lm"), col("node"), (col("d") + 1).as("d"))
      dist = dist.unionByName(next)
        .groupBy("lm", "node").agg(min(col("d")).as("d"))
    }
    dist.select(col("lm"), col("node"), col("d"))
  }

  /** Landmark-estimated harmonic centrality: sum of 1/d (1e6 fixed
    * point, integer div) over the landmark distances of
    * [[bfsLandmarks]] — the standard scalable stand-in for exact
    * closeness (exact needs all-pairs distances; landmark sampling is
    * how production graph systems estimate it). One combinable
    * aggregation over the BFS table.
    */
  def harmonicCentrality(events: DataFrame): DataFrame =
    bfsLandmarks(events)
      .filter(col("d") > 0)
      .groupBy("node")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 div d")).as("harmonic_fp"))

  val LabelPropIters = 4

  /** Deterministic community detection by K-round MIN-LABEL
    * propagation: every node starts labeled with its own id, and each
    * round adopts the minimum label among itself and its neighbors.
    * (Classic LPA breaks frequency ties randomly and is therefore
    * unreproducible; the min-label variant is the deterministic member
    * of the family — after K rounds each node carries the smallest node
    * id within K hops, so labels converge toward per-component minima
    * and the K-round cut is a well-defined, oracle-checkable result.)
    *
    * Relational-Pregel shape, same as [[bfsLandmarks]]: adjacency
    * cached and pre-partitioned on the probe key, each round ONE
    * equi-join (neighbor label lookup) + ONE min-aggregation keyed by
    * node — state per round is exactly |V| rows, never frontier
    * blow-up, and rounds are a fixed config constant. Per-level cache
    * because each level's frame is referenced by the next (lineage
    * would otherwise re-evaluate 2^k times).
    */
  def labelPropagation(events: DataFrame): DataFrame =
    minLabelProp(transitionEdges(events)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())

  /** The K-round fold over an undirected edge list (a, b) — exposed so
    * specs can drive hand-built graphs through the exact query path.
    */
  private[graft] def minLabelProp(und: DataFrame): DataFrame = {
    val adj = und.select(col("a").as("node"), col("b").as("nb"))
      .unionAll(und.select(col("b").as("node"), col("a").as("nb")))
      .repartition(col("nb")) // every round's label lookup probes on nb
      .cache()
    var lab = adj.select(col("node")).distinct()
      .select(col("node"), col("node").as("lab"))
    for (_ <- 1 to LabelPropIters) {
      // each level is consumed twice (label lookup + min-merge); an
      // EAGER materialization computes the |V|-row level exactly once —
      // a lazy .cache() lets the two consumers race the first compute
      lab = lab.localCheckpoint(true)
      // every adj-derived node has >= 1 neighbor, so the inner join
      // keeps exactly |V| groups
      val nbMin = adj
        .join(lab.select(col("node").as("nb"), col("lab").as("nb_lab")),
          "nb")
        .groupBy("node").agg(min(col("nb_lab")).as("nb_min"))
      lab = lab.join(nbMin, "node")
        .select(col("node"), least(col("lab"), col("nb_min")).as("lab"))
    }
    lab
  }

  /** Community-quality scoring: Newman modularity of the
    * [[minLabelProp]] communities, held in EXACT integers. Per
    * community c the modularity contribution is Q_c = within_c/m -
    * (deg_c/2m)^2; multiplying through by the common denominator 4m^2
    * gives q_num = 4*m*within_c - deg_c^2 — pure int64 (deg_c <= 2m,
    * so q_num is safe while 4m^2 fits, i.e. to ~1.5e9 undirected
    * edges; past that the sums move to DECIMAL(38) like the linreg
    * family). Q = sum(q_num)/q_den with q_den = 4m^2 emitted alongside,
    * so the engine never divides and the oracle check is bit-exact.
    *
    * Shape: the label fold is [[minLabelProp]]; scoring adds one
    * within-edge count (edges join labels twice — broadcast-sized
    * label frame at |V| rows), one degree aggregation, and a final
    * per-label rollup. No all-pairs anything; every stage keys on node
    * or label.
    */
  def modularity(events: DataFrame): DataFrame =
    modularityOf(transitionEdges(events)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())

  private[graft] def modularityOf(edges: DataFrame): DataFrame = {
    val und = edges.cache()
    val m = und.count() // also materializes the edge cache
    // the label frame is consumed THREE times below (two sides of the
    // within join + the degree rollup); a lazy .cache() lets those
    // consumers race the first materialization and re-run the 4-round
    // iterative lineage per consumer ("block already exists" churn,
    // measured 3x the label-prop cost) — an EAGER localCheckpoint
    // materializes the |V|-row frame once and cuts the lineage
    val labs = minLabelProp(und).localCheckpoint(true)
    val within = und
      .join(labs.select(col("node").as("a"), col("lab").as("lab_a")), "a")
      .join(labs.select(col("node").as("b"), col("lab").as("lab_b")), "b")
      .filter(col("lab_a") === col("lab_b"))
      .groupBy(col("lab_a").as("lab"))
      .agg(count(lit(1)).as("within_edges"))
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val byLab = labs.join(deg, "node")
      .groupBy("lab")
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    byLab.join(within, Seq("lab"), "left_outer")
      .select(col("lab"), col("n_nodes"),
        coalesce(col("within_edges"), lit(0L)).as("within_edges"),
        col("deg_sum"),
        (lit(4L) * lit(m) * coalesce(col("within_edges"), lit(0L))
          - col("deg_sum") * col("deg_sum")).as("q_num"),
        lit(4L * m * m).as("q_den"))
  }

  val KcoreK = 3
  val KcorePeelRounds = 6

  /** Undirected-simple projection of the transition graph — the shared
    * edge derivation of the label-prop/modularity/k-core/CC family.
    */
  private def undirected(events: DataFrame): DataFrame =
    transitionEdges(events)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** K-core extraction by R rounds of degree peeling: each round drops
    * every node whose degree in the surviving subgraph is < k, plus its
    * edges. The fixed round count is what makes an until-fixpoint
    * algorithm oracle-checkable (both engines run the IDENTICAL R
    * rounds, so the hash compare is well-defined whether or not the
    * peel has converged); [[KcorePeelRounds]] converges on every
    * fixture scale (verified: one extra round is a fixpoint at sf0.01
    * and sf0.1), so the emitted rows ARE the true k-core there.
    *
    * Scale shape: each round is one combinable degree count plus two
    * semi-join-shaped filters of the edge list against the survivor
    * set — all keyed on node, no all-pairs anything. The edge frame is
    * consumed twice per round (degree rollup + the filter base), so
    * each round's survivor edge list is EAGERLY materialized
    * (localCheckpoint) — the modularity lesson: a lazy cache lets the
    * two consumers race the first compute and re-run the peel lineage.
    */
  def kcore(events: DataFrame, k: Int = KcoreK,
      rounds: Int = KcorePeelRounds): DataFrame =
    kcoreOf(undirected(events), k, rounds)

  private[graft] def kcoreOf(und: DataFrame, k: Int = KcoreK,
      rounds: Int = KcorePeelRounds): DataFrame = {
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    var edges = und.localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val keep = degrees(edges).filter(col("deg") >= k).select("node")
      edges = edges
        .join(keep.withColumnRenamed("node", "a"), "a")
        .join(keep.withColumnRenamed("node", "b"), "b")
        .select("a", "b")
        .localCheckpoint(true)
    }
    degrees(edges)
  }

  val CcStarRounds = 4

  /** Connected components via alternating LARGE-STAR / SMALL-STAR edge
    * rewrites — the published O(log n)-round relational CC (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14):
    * large-star hangs every neighbor bigger than u off the minimum of
    * u's neighborhood; small-star re-hangs the smaller neighbors (and u
    * itself) off that minimum. Each round only ever touches (node,
    * neighbor-min) pairs — one groupBy-min and one equi-join per
    * half-round, fully combinable, no Pregel runtime and no driver
    * state, which is why this is the CC of record at 100 TB where the
    * GraphX path (used by dedup_clusters) would pin vertex state in
    * executor memory. After [[CcStarRounds]] alternations every
    * component has collapsed to a star around its minimum node id
    * (verified a fixpoint at fixture scales; the fixed round count —
    * not until-fixpoint — is what makes the result oracle-checkable
    * regardless, same contract as [[kcoreOf]]), so the emitted label
    * IS the component minimum — the same canonical id GraphX CC
    * assigns, spec-asserted equal.
    */
  def ccStar(events: DataFrame, rounds: Int = CcStarRounds): DataFrame =
    ccStarOf(undirected(events), rounds)

  private[graft] def ccStarOf(und: DataFrame,
      rounds: Int = CcStarRounds): DataFrame = {
    var e = und.localCheckpoint(true)
    for (_ <- 1 to rounds) {
      // large-star: per node u, m = min(neighborhood ∪ {u}); every
      // neighbor v > u re-hangs onto m. Each surviving edge is emitted
      // exactly once (from its smaller endpoint's group), so the edge
      // list never grows; m <= u < v keeps pairs canonical (a < b).
      val adj = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      val lm = adj.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      val ls = adj.join(lm, "u").filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b")).distinct()
      // small-star: direct each edge big→small; per node u, m = min of
      // its smaller neighbors; those neighbors AND u re-hang onto m.
      val sadj = ls.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      val sm = sadj.groupBy("u").agg(min(col("v")).as("m"))
      e = sadj.join(sm, "u").filter(col("v") =!= col("m"))
        .select(col("m").as("a"), col("v").as("b"))
        .unionAll(sm.select(col("m").as("a"), col("u").as("b")))
        .distinct()
        .localCheckpoint(true) // consumed by both half-rounds next pass
    }
    e.select(col("a").as("node"), col("b").as("nb"))
      .unionAll(e.select(col("b").as("node"), col("a").as("nb")))
      .groupBy("node")
      .agg(least(col("node"), min(col("nb"))).as("comp"))
  }

  val MstRounds = 3

  /** Minimum spanning forest via BORŮVKA with CC-star contraction —
    * the third member of the relational-graph-algorithm family
    * (label-prop communities, star CC, now MST): each round every
    * current component picks its minimum outgoing edge under the
    * STRICT total order (w, a, b) — per-component argmin is one
    * window rank over label-keyed candidates — and the accumulated
    * forest re-contracts with [[ccStarOf]] (log-round convergence,
    * not diameter-bound pointer chasing). Under a strict total order
    * the per-partition min-outgoing-edge set can never close a cycle
    * (the max edge of a would-be cycle can't be any block's minimum),
    * and the MST itself is UNIQUE — which is why the fixed-round
    * replay is oracle-checkable: both engines walk identical rounds,
    * and at convergence ([[MstRounds]] Borůvka rounds cover
    * components of diameter 2^rounds; fixpoint verified at fixture
    * scales) the emitted set IS the one true MSF. Cross-engine
    * determinism needs no float anywhere: weights are transition
    * counts (integers).
    *
    * Scale shape per round: two label joins + one combinable window
    * argmin per label + the star-contraction joins — everything keyed
    * by node or label, no Pregel runtime, no driver state beyond the
    * loop counter; forest and labels are eagerly materialized per
    * round (consumed by multiple stages — the modularity lesson).
    */
  def mst(events: DataFrame): DataFrame =
    mstOf(transitionEdges(events)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(sum(col("w")).as("w")))

  private[graft] def mstOf(edges: DataFrame,
      rounds: Int = MstRounds): DataFrame = {
    val e = edges.localCheckpoint(true)
    val nodes = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node"))).distinct()
      .localCheckpoint(true)
    var lab = nodes.select(col("node"), col("node").as("lab"))
    var forest = e.filter(lit(false)) // empty (a, b, w) frame
    for (_ <- 1 to rounds) {
      val el = e
        .join(lab.select(col("node").as("a"), col("lab").as("la")), "a")
        .join(lab.select(col("node").as("b"), col("lab").as("lb")), "b")
        .filter(col("la") =!= col("lb"))
      val cand = el.select(col("la").as("l"), col("w"), col("a"), col("b"))
        .unionAll(el.select(col("lb").as("l"), col("w"), col("a"), col("b")))
      val win = Window.partitionBy(col("l"))
        .orderBy(col("w"), col("a"), col("b"))
      val chosen = cand.withColumn("rn", row_number().over(win))
        .filter(col("rn") === 1).select(col("a"), col("b"), col("w"))
        .distinct() // two components may choose the same edge
      forest = forest.unionAll(chosen).distinct().localCheckpoint(true)
      // contract: component minima of the forest via the star fold;
      // isolated nodes (no forest edge yet) keep their own label
      val cc = ccStarOf(forest.select(col("a"), col("b")))
      lab = nodes
        .join(cc.select(col("node"), col("comp")), Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("comp"), col("node")).as("lab"))
        .localCheckpoint(true)
    }
    forest
  }

  /** Per-user history cap for [[covisitation]] — bounds the self-join
    * fan-out at C(cap, 2) pairs per user under ANY user skew.
    */
  val CovisitCap = 20
  /** Neighbors kept per item in the co-visitation output. */
  val CovisitTopK = 3

  /** Item co-visitation graph (the item-item recommender primitive,
    * "users who viewed A also viewed B"): project events to the
    * user→item bipartite graph, cap each user's history at the
    * [[CovisitCap]] most-visited items (what production recommenders do
    * anyway — and the cap is what makes the self-join SKEW-SAFE: a bot
    * user touching every item would otherwise contribute O(items²)
    * pairs), then count co-visiting users per item pair and keep each
    * item's [[CovisitTopK]] strongest neighbors.
    *
    * Scale shape: one combinable (user, item) count, one bounded
    * per-user window, a self-join whose fan-out is ≤ C(20,2) = 190 rows
    * per user, one combinable pair count, one per-item top-k window.
    * All orderings carry deterministic (count desc, id) tiebreaks so the
    * result hash-checks cross-engine.
    */
  def covisitation(events: DataFrame): DataFrame =
    covisitFromCounts(itemEvents(events)
      .groupBy(col("user_id"), col("item"))
      .agg(count(lit(1)).as("n_visits")))

  /** The cap → pair → top-k tail of [[covisitation]], from per-(user,
    * item) visit counts — shared verbatim by the batch query and the
    * streaming twin's finalize (which is what lets both hash against
    * ONE oracle).
    */
  private[graft] def covisitFromCounts(ui: DataFrame): DataFrame = {
    val wu = Window.partitionBy(col("user_id"))
      .orderBy(col("n_visits").desc, col("item"))
    val hist = ui.withColumn("rk", row_number().over(wu))
      .filter(col("rk") <= CovisitCap)
      .select(col("user_id"), col("item"))
    val pairs = hist.as("x").join(hist.as("y"), "user_id")
      .filter(col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("item_a"), col("y.item").as("item_b"))
      .agg(count(lit(1)).as("n_users"))
    val wi = Window.partitionBy(col("item_a"))
      .orderBy(col("n_users").desc, col("item_b"))
    pairs.withColumn("rank", row_number().over(wi))
      .filter(col("rank") <= CovisitTopK)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_covisit" -> ((s: SparkSession, d: String) =>
      covisitation(Tables.events(s, d))),
    "graph_hits" -> ((s: SparkSession, d: String) =>
      hits(Tables.events(s, d))),
    "graph_temporal_paths" -> ((s: SparkSession, d: String) =>
      temporalPaths(Tables.events(s, d))),
    "graph_mst" -> ((s: SparkSession, d: String) =>
      mst(Tables.events(s, d))),
    "graph_kcore" -> ((s: SparkSession, d: String) =>
      kcore(Tables.events(s, d))),
    "graph_cc_star" -> ((s: SparkSession, d: String) =>
      ccStar(Tables.events(s, d))),
    "graph_modularity" -> ((s: SparkSession, d: String) =>
      modularity(Tables.events(s, d))),
    "graph_label_prop" -> ((s: SparkSession, d: String) =>
      labelPropagation(Tables.events(s, d))),
    "graph_harmonic" -> ((s: SparkSession, d: String) =>
      harmonicCentrality(Tables.events(s, d))),
    "graph_bfs_landmarks" -> ((s: SparkSession, d: String) =>
      bfsLandmarks(Tables.events(s, d))),
    "graph_pagerank" -> ((s: SparkSession, d: String) =>
      pagerank(Tables.events(s, d))),
    "graph_ppr" -> ((s: SparkSession, d: String) =>
      personalizedPagerank(Tables.events(s, d))),
    "graph_triangles" -> ((s: SparkSession, d: String) =>
      triangleCensus(Tables.events(s, d))),
    "graph_degrees" -> ((s: SparkSession, d: String) =>
      degreeHistogram(Tables.events(s, d))),
    "graph_neighbor_jaccard" -> ((s: SparkSession, d: String) =>
      neighborJaccard(Tables.events(s, d)))
  )

  val HitsIters = 4
  val HitsScale = 1000000L

  /** HITS hubs-and-authorities in integer fixed point — the DIRECTED
    * centrality pair next to the damped `graph_pagerank` (Kleinberg's
    * alternating iteration: hub = Σ w·auth over out-edges, auth =
    * Σ w·hub over in-edges), made exactly reproducible with the same
    * renormalize-by-integer-division discipline as `ml_pca_power`:
    * after each half-step the vector rescales to ~1e6 fixed point by
    * `x div (max(x) div 1e6 + 1)`, so every value stays a BIGINT and
    * the whole 4-round trajectory hash-checks cross-engine.
    *
    * Shape at scale: the edge list is cached TWICE, pre-partitioned on
    * dst and on src — each half-step's vector join lands on the matching
    * copy with no edge reshuffle, and the following per-node sum
    * partial-aggregates map-side, so per round only node-sized partials
    * cross the wire (the alternating-key analog of pagerank's
    * src-partitioned cache). Driver work per half-step is one O(1) max.
    * Overflow: |Σ w·v| ≤ 1e6 · Σ in-weights — int64-safe to ~9e12
    * weighted degree per node. Past that bound the CALLER must cast the
    * w·v products to DECIMAL(38,0) before the sum (as linregMulti does):
    * sum() over LongType stays LongType and wraps silently in non-ANSI
    * Spark — there is no automatic promotion.
    */
  def hits(events: DataFrame): DataFrame = {
    val base = transitionEdges(events)
    val edgesByDst = base.repartition(col("dst")).cache()
    val edgesBySrc = base.repartition(col("src")).cache()
    val nodes = edgesByDst.select(col("src").as("node"))
      .unionAll(edgesByDst.select(col("dst").as("node")))
      .distinct().cache()
    if (nodes.isEmpty) {
      return nodes.select(col("node"), lit(0L).as("hub_fp"),
        lit(0L).as("auth_fp"))
    }
    var auth = nodes.select(col("node"), lit(HitsScale).as("a"))
    var hub: DataFrame = null
    for (_ <- 1 to HitsIters) {
      // the normalization divisor stays IN the plan (r16): the former
      // `.agg(max).head` pulled it to the driver — one extra job per
      // half-step, 4 blocking driver round trips per iteration for a
      // scalar the broadcast cross-join derives from the SAME
      // checkpointed frame for free. Arithmetic identical:
      // div = max div HitsScale + 1, all int64.
      val hRaw = edgesByDst
        .join(auth.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(sum(col("w") * col("a")).as("hr"))
        .localCheckpoint(true)
      val hMax = hRaw.agg(max(col("hr")).as("hm"))
      hub = hRaw.crossJoin(broadcast(hMax))
        .select(col("node"), expr(s"hr div (hm div $HitsScale + 1)").as("h"))
      val aRaw = edgesBySrc
        .join(hub.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("w") * col("h")).as("ar"))
        .localCheckpoint(true)
      val aMax = aRaw.agg(max(col("ar")).as("am"))
      auth = aRaw.crossJoin(broadcast(aMax))
        .select(col("node"), expr(s"ar div (am div $HitsScale + 1)").as("a"))
    }
    nodes
      .join(hub.select(col("node"), col("h")), Seq("node"), "left")
      .join(auth.select(col("node"), col("a")), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("h"), lit(0L)).as("hub_fp"),
        coalesce(col("a"), lit(0L)).as("auth_fp"))
  }

  /** Window for [[temporalPaths]] — a follow-on transition counts only
    * within this many microseconds (1 hour).
    */
  val TemporalPathWindow = 3600000000L

  /** Temporal 2-hop path census — the time-RESPECTING reachability
    * primitive (information flow, contact tracing): a→b at t₁ then
    * b→c at t₂ ∈ (t₁, t₁+1h] counts as a temporal path a→b→c; a static
    * 2-hop join would also count b→c transitions that happened BEFORE
    * a→b, which no influence can traverse. Per source item: total
    * temporal 2-paths and distinct mid-node partners.
    *
    * Scale shape: the inequality join rides the SAME bucketed
    * range-join as `range_signup_activity`
    * ([[TemporalJoins.rangeJoinBucketed]]): each occurrence probes two
    * 1-hour buckets of its mid item, so the candidate fan-out is
    * bounded by per-(item, hour) occupancy — never the all-pairs
    * product an equality-only join on the mid item would build.
    */
  def temporalPaths(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val occ = itemEvents(events)
      .select(lag(col("item"), 1).over(w).as("src"), col("item").as("dst"),
        col("ts"))
      .filter(col("src").isNotNull && col("src") =!= col("dst"))
    val left = occ.select(col("dst").as("mid"), col("src"), col("ts"))
    val right = occ.select(col("src").as("mid"), col("dst"), col("ts"))
    TemporalJoins.rangeJoinBucketed(left, right, "mid", "ts",
      TemporalPathWindow, "src",
      Seq(count(col("__m")).as("n_paths")))
      .groupBy(col("src").as("item"))
      .agg(sum(col("n_paths")).as("n_2paths"),
        sum(when(col("n_paths") > 0, 1L).otherwise(0L)).as("n_mid_partners"))
      .filter(col("n_2paths") > 0)
  }

  val NeighborJaccardMin = 0.75

  /** Neighbor-set similarity (the link-prediction / entity-resolution
    * primitive): for node pairs sharing at least one neighbor in the
    * undirected transition graph, Jaccard = |N(a) ∩ N(b)| / |N(a) ∪
    * N(b)|. Candidates come ONLY from common-neighbor wedges (never the
    * full pair space), common counts are one combinable aggregation
    * over wedges, and degrees join in from a per-node table — the
    * textbook sparse all-pairs-similarity layout. Integer counts; the
    * ratio is rounded and thresholded on the rounded value.
    */
  def neighborJaccard(events: DataFrame,
      minJaccard: Double = NeighborJaccardMin): DataFrame = {
    val und = transitionEdges(events)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val adj = und.select(col("a").as("node"), col("b").as("nb"))
      .unionAll(und.select(col("b").as("node"), col("a").as("nb")))
      .cache()
    val deg = adj.groupBy("node").agg(count(lit(1)).as("deg"))
    val common = adj.select(col("node").as("n1"), col("nb"))
      .join(adj.select(col("node").as("n2"), col("nb")), "nb")
      .filter(col("n1") < col("n2"))
      .groupBy("n1", "n2").agg(count(lit(1)).as("common"))
    common
      .join(deg.select(col("node").as("n1"), col("deg").as("d1")), "n1")
      .join(deg.select(col("node").as("n2"), col("deg").as("d2")), "n2")
      .select(col("n1"), col("n2"), col("common"),
        round(col("common") / (col("d1") + col("d2") - col("common")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Degree distribution of the transition graph, both directions in one
    * frame — the skew diagnostic a graph pipeline reads before choosing
    * join/partition strategy (a heavy-tailed out-degree histogram is the
    * signal to salt or degree-order downstream joins). Two combinable
    * aggregations per direction.
    */
  def degreeHistogram(events: DataFrame): DataFrame = {
    val edges = transitionEdges(events)
    def side(c: String, label: String) = edges
      .groupBy(col(c).as("node"))
      .agg(countDistinct(
        col(if (c == "src") "dst" else "src")).as("fanout"))
      .groupBy(col("fanout"))
      .agg(count(lit(1)).as("n_nodes"))
      .select(lit(label).as("direction"), col("fanout"), col("n_nodes"))
    side("src", "out").unionAll(side("dst", "in"))
  }

  private def pprIterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT nodes.node,
       |    (CASE WHEN nodes.node % $PprSeedMod = 0 THEN bs.b ELSE 0 END)
       |      + coalesce(m.mass, 0) AS rank
       |  FROM nodes CROSS JOIN bs
       |  LEFT JOIN (
       |    SELECT ew.dst,
       |      sum((($prev.rank // ew.out_w) * ew.w) * $PrDampNum // 1000)::BIGINT
       |        AS mass
       |    FROM ew JOIN $prev ON $prev.node = ew.src
       |    GROUP BY ew.dst) m ON m.dst = nodes.node)""".stripMargin

  private def iterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT nodes.node, base.b + coalesce(m.mass, 0) AS rank
       |  FROM nodes CROSS JOIN base
       |  LEFT JOIN (
       |    SELECT ew.dst,
       |      sum((($prev.rank // ew.out_w) * ew.w) * $PrDampNum // 1000)::BIGINT
       |        AS mass
       |    FROM ew JOIN $prev ON $prev.node = ew.src
       |    GROUP BY ew.dst) m ON m.dst = nodes.node)""".stripMargin

  private def hitsIterSql(i: Int): String = {
    val (prevA, hr, h, ar, a) = (s"a${i - 1}", s"hr$i", s"h$i", s"ar$i", s"a$i")
    s"""$hr AS MATERIALIZED (
       |  SELECT e.src AS node, sum(e.w * $prevA.v)::BIGINT AS r
       |  FROM edges e JOIN $prevA ON $prevA.node = e.dst
       |  GROUP BY 1),
       |hd$i AS (SELECT max(r) // $HitsScale + 1 AS d FROM $hr),
       |$h AS MATERIALIZED (
       |  SELECT node, (r // d)::BIGINT AS v FROM $hr CROSS JOIN hd$i),
       |$ar AS MATERIALIZED (
       |  SELECT e.dst AS node, sum(e.w * $h.v)::BIGINT AS r
       |  FROM edges e JOIN $h ON $h.node = e.src
       |  GROUP BY 1),
       |ad$i AS (SELECT max(r) // $HitsScale + 1 AS d FROM $ar),
       |$a AS MATERIALIZED (
       |  SELECT node, (r // d)::BIGINT AS v FROM $ar CROSS JOIN ad$i)""".stripMargin
  }

  private val hitsOracle: String =
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id,
       |    (json_extract_string(props, '$$.k'))::BIGINT AS item
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |tr AS (
       |  SELECT lag(item) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) AS src, item AS dst
       |  FROM ev),
       |edges AS MATERIALIZED (
       |  SELECT src, dst, count(*)::BIGINT AS w FROM tr
       |  WHERE src IS NOT NULL GROUP BY 1, 2),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
       |a0 AS (SELECT node, $HitsScale AS v FROM nodes),
       |""".stripMargin +
      (1 to HitsIters).map(hitsIterSql).mkString(",\n") +
      s"""
         |SELECT n.node,
         |  coalesce(h.v, 0)::BIGINT AS hub_fp,
         |  coalesce(a.v, 0)::BIGINT AS auth_fp
         |FROM nodes n
         |LEFT JOIN h$HitsIters h ON h.node = n.node
         |LEFT JOIN a$HitsIters a ON a.node = n.node""".stripMargin

  private def lpIterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT l.node, least(l.lab, min(nl.lab))::BIGINT AS lab
       |  FROM $prev l
       |  JOIN adj a ON a.node = l.node
       |  JOIN $prev nl ON nl.node = a.nb
       |  GROUP BY l.node, l.lab)""".stripMargin

  private def bfsIterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT lm, node, min(d)::BIGINT AS d FROM (
       |    SELECT lm, node, d FROM $prev
       |    UNION ALL
       |    SELECT p.lm, a.node, p.d + 1
       |    FROM adj a JOIN $prev p ON p.node = a.nb)
       |  GROUP BY 1, 2)""".stripMargin

  // the four BFS rounds unrolled as chained CTEs, min-merged per round;
  // shared by the distance table and the harmonic-centrality rollup
  private val bfsCtes: String =
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id,
       |    (json_extract_string(props, '$$.k'))::BIGINT AS item
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |tr AS (
       |  SELECT lag(item) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) AS src, item AS dst
       |  FROM ev),
       |und AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM tr WHERE src IS NOT NULL AND src != dst),
       |adj AS (
       |  SELECT a AS node, b AS nb FROM und
       |  UNION ALL SELECT b, a FROM und),
       |lm AS (
       |  SELECT node AS lm FROM (
       |    SELECT node, count(*)::BIGINT AS deg FROM adj GROUP BY node)
       |  ORDER BY deg DESC, node LIMIT $BfsLandmarks),
       |d0 AS (SELECT lm, lm AS node, 0::BIGINT AS d FROM lm),
       |""".stripMargin +
      (0 until BfsIters).map(i => bfsIterSql(s"d$i", s"d${i + 1}"))
        .mkString(",\n")

  // the same und/adj derivation as the BFS family, then K min-label
  // rounds unrolled as chained CTEs
  private val lpCtes: String =
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id,
       |    (json_extract_string(props, '$$.k'))::BIGINT AS item
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |tr AS (
       |  SELECT lag(item) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) AS src, item AS dst
       |  FROM ev),
       |und AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM tr WHERE src IS NOT NULL AND src != dst),
       |adj AS (
       |  SELECT a AS node, b AS nb FROM und
       |  UNION ALL SELECT b, a FROM und),
       |l0 AS (SELECT DISTINCT node, node AS lab FROM adj),
       |""".stripMargin +
      (0 until LabelPropIters).map(i => lpIterSql(s"l$i", s"l${i + 1}"))
        .mkString(",\n")

  // the shared ev/tr/und derivation (same text as lpCtes/bfsCtes up to
  // the undirected edge list) for the k-core and CC-star families
  private val undCtes: String =
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id,
       |    (json_extract_string(props, '$$.k'))::BIGINT AS item
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |tr AS (
       |  SELECT lag(item) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) AS src, item AS dst
       |  FROM ev),
       |und AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM tr WHERE src IS NOT NULL AND src != dst),
       |""".stripMargin

  private def kcoreIterSql(prev: String, cur: String, i: Int): String =
    s"""d$i AS (
       |  SELECT node, count(*)::BIGINT AS deg FROM (
       |    SELECT a AS node FROM $prev UNION ALL SELECT b FROM $prev)
       |  GROUP BY node),
       |k$i AS (SELECT node FROM d$i WHERE deg >= $KcoreK),
       |$cur AS MATERIALIZED (
       |  SELECT e.a, e.b FROM $prev e
       |  JOIN k$i x ON x.node = e.a
       |  JOIN k$i y ON y.node = e.b)""".stripMargin

  private def ccStarIterSql(prev: String, cur: String, i: Int,
      px: String = ""): String =
    s"""${px}adj$i AS (
       |  SELECT a AS u, b AS v FROM $prev
       |  UNION ALL SELECT b, a FROM $prev),
       |${px}lm$i AS (SELECT u, least(min(v), u) AS m FROM ${px}adj$i GROUP BY u),
       |${px}ls$i AS (
       |  SELECT DISTINCT l.m AS a, ad.v AS b
       |  FROM ${px}adj$i ad JOIN ${px}lm$i l ON l.u = ad.u WHERE ad.v > ad.u),
       |${px}sadj$i AS (
       |  SELECT greatest(a, b) AS u, least(a, b) AS v FROM ${px}ls$i),
       |${px}sm$i AS (SELECT u, min(v) AS m FROM ${px}sadj$i GROUP BY u),
       |$cur AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT m.m AS a, s.v AS b
       |    FROM ${px}sadj$i s JOIN ${px}sm$i m ON m.u = s.u AND s.v != m.m
       |    UNION ALL
       |    SELECT m AS a, u AS b FROM ${px}sm$i))""".stripMargin

  private val kcoreOracle: String =
    undCtes + "e0 AS MATERIALIZED (SELECT a, b FROM und),\n" +
      (1 to KcorePeelRounds)
        .map(i => kcoreIterSql(s"e${i - 1}", s"e$i", i)).mkString(",\n") +
      s"""
         |SELECT node, count(*)::BIGINT AS deg FROM (
         |  SELECT a AS node FROM e$KcorePeelRounds
         |  UNION ALL SELECT b FROM e$KcorePeelRounds)
         |GROUP BY node""".stripMargin

  // one Borůvka round replayed: label join, per-label (w, a, b) argmin,
  // forest accumulate, CC-star re-contraction of the forest, relabel
  private def mstRoundSql(r: Int): String = {
    val (pl, pf) = (s"lab${r - 1}", s"f${r - 1}")
    val ccChain = s"m${r}e0 AS MATERIALIZED (SELECT a, b FROM f$r),\n" +
      (1 to CcStarRounds)
        .map(i => ccStarIterSql(s"m${r}e${i - 1}", s"m${r}e$i", i, s"m$r"))
        .mkString(",\n")
    s"""el$r AS (
       |  SELECT e.a, e.b, e.w, x.lab AS la, y.lab AS lb FROM we e
       |  JOIN $pl x ON x.node = e.a
       |  JOIN $pl y ON y.node = e.b
       |  WHERE x.lab != y.lab),
       |cand$r AS (
       |  SELECT la AS l, w, a, b FROM el$r
       |  UNION ALL SELECT lb, w, a, b FROM el$r),
       |ch$r AS (
       |  SELECT a, b, w FROM (
       |    SELECT l, w, a, b,
       |      row_number() OVER (PARTITION BY l ORDER BY w, a, b) AS rn
       |    FROM cand$r) WHERE rn = 1),
       |f$r AS MATERIALIZED (
       |  SELECT DISTINCT a, b, w FROM (
       |    SELECT a, b, w FROM $pf UNION ALL SELECT a, b, w FROM ch$r)),
       |$ccChain,
       |cc$r AS (
       |  SELECT node, least(node, min(nb)) AS comp FROM (
       |    SELECT a AS node, b AS nb FROM m${r}e$CcStarRounds
       |    UNION ALL SELECT b, a FROM m${r}e$CcStarRounds) GROUP BY node),
       |lab$r AS MATERIALIZED (
       |  SELECT n.node, coalesce(c.comp, n.node) AS lab
       |  FROM nodes n LEFT JOIN cc$r c ON c.node = n.node)""".stripMargin
  }

  private val mstOracle: String =
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id,
       |    (json_extract_string(props, '$$.k'))::BIGINT AS item
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |tr AS (
       |  SELECT lag(item) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) AS src, item AS dst
       |  FROM ev),
       |te AS (
       |  SELECT src, dst, count(*)::BIGINT AS w FROM tr
       |  WHERE src IS NOT NULL GROUP BY 1, 2),
       |we AS MATERIALIZED (
       |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
       |    sum(w)::BIGINT AS w
       |  FROM te WHERE src != dst GROUP BY 1, 2),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT node FROM (
       |    SELECT a AS node FROM we UNION ALL SELECT b FROM we)),
       |lab0 AS (SELECT node, node AS lab FROM nodes),
       |f0 AS (SELECT a, b, w FROM we WHERE false),
       |""".stripMargin +
      (1 to MstRounds).map(mstRoundSql).mkString(",\n") +
      s"""
         |SELECT a, b, w FROM f$MstRounds""".stripMargin

  private val ccStarOracle: String =
    undCtes + "e0 AS MATERIALIZED (SELECT a, b FROM und),\n" +
      (1 to CcStarRounds)
        .map(i => ccStarIterSql(s"e${i - 1}", s"e$i", i)).mkString(",\n") +
      s"""
         |SELECT node, least(node, min(nb))::BIGINT AS comp FROM (
         |  SELECT a AS node, b AS nb FROM e$CcStarRounds
         |  UNION ALL SELECT b, a FROM e$CcStarRounds)
         |GROUP BY node""".stripMargin

  val oracles: Map[String, String] = Map(
    // same two-bucket explode as the engine: an equality-only join on
    // the mid item would build the all-pairs product per item
    "graph_temporal_paths" ->
      s"""WITH ev AS (
         |  SELECT user_id, ts, event_id,
         |    (json_extract_string(props, '$$.k'))::BIGINT AS item
         |  FROM events
         |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
         |occ0 AS (
         |  SELECT lag(item) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id) AS src, item AS dst, ts
         |  FROM ev),
         |occ AS MATERIALIZED (
         |  SELECT src, dst, epoch_us(ts) AS us FROM occ0
         |  WHERE src IS NOT NULL AND src != dst),
         |l AS (
         |  SELECT dst AS mid, src, us, b
         |  FROM occ, unnest([us // $TemporalPathWindow,
         |                    us // $TemporalPathWindow + 1]) AS t(b)),
         |r AS (
         |  SELECT src AS mid, us, us // $TemporalPathWindow AS b FROM occ),
         |pairs AS (
         |  SELECT l.src, l.mid FROM l JOIN r ON l.mid = r.mid AND l.b = r.b
         |  WHERE r.us > l.us AND r.us <= l.us + $TemporalPathWindow),
         |agg AS (
         |  SELECT src, mid, count(*)::BIGINT AS n FROM pairs GROUP BY 1, 2)
         |SELECT src AS item, sum(n)::BIGINT AS n_2paths,
         |  count(*)::BIGINT AS n_mid_partners
         |FROM agg GROUP BY 1""".stripMargin,
    "graph_hits" -> hitsOracle,
    "graph_covisit" ->
      s"""WITH ie AS (
         |  SELECT user_id,
         |    (json_extract_string(props, '$$.k'))::BIGINT AS item
         |  FROM events
         |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
         |ui AS (
         |  SELECT user_id, item, count(*) AS n_visits
         |  FROM ie GROUP BY 1, 2),
         |hist AS (
         |  SELECT user_id, item FROM (
         |    SELECT user_id, item,
         |      row_number() OVER (PARTITION BY user_id
         |                         ORDER BY n_visits DESC, item) AS rk
         |    FROM ui) WHERE rk <= $CovisitCap),
         |pairs AS (
         |  SELECT x.item AS item_a, y.item AS item_b,
         |    count(*)::BIGINT AS n_users
         |  FROM hist x JOIN hist y
         |    ON x.user_id = y.user_id AND x.item < y.item
         |  GROUP BY 1, 2)
         |SELECT item_a, item_b, n_users, rank FROM (
         |  SELECT *, (row_number() OVER (PARTITION BY item_a
         |    ORDER BY n_users DESC, item_b))::INT AS rank
         |  FROM pairs) WHERE rank <= $CovisitTopK""".stripMargin,
    "graph_mst" -> mstOracle,
    "graph_kcore" -> kcoreOracle,
    "graph_cc_star" -> ccStarOracle,
    "graph_label_prop" ->
      (lpCtes + s"""
         |SELECT node, lab FROM l$LabelPropIters""".stripMargin),
    "graph_modularity" ->
      (lpCtes + s""",
         |m AS (SELECT count(*)::BIGINT AS m FROM und),
         |wi AS (
         |  SELECT la.lab, count(*)::BIGINT AS within_edges
         |  FROM und u
         |  JOIN l$LabelPropIters la ON la.node = u.a
         |  JOIN l$LabelPropIters lb ON lb.node = u.b
         |  WHERE la.lab = lb.lab GROUP BY 1),
         |deg AS (
         |  SELECT node, count(*)::BIGINT AS deg FROM (
         |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
         |  GROUP BY node),
         |bl AS (
         |  SELECT l.lab, count(*)::BIGINT AS n_nodes,
         |    sum(d.deg)::BIGINT AS deg_sum
         |  FROM l$LabelPropIters l JOIN deg d ON d.node = l.node
         |  GROUP BY 1)
         |SELECT bl.lab, bl.n_nodes,
         |  coalesce(wi.within_edges, 0)::BIGINT AS within_edges,
         |  bl.deg_sum,
         |  (4 * m.m * coalesce(wi.within_edges, 0)
         |    - bl.deg_sum * bl.deg_sum)::BIGINT AS q_num,
         |  (4 * m.m * m.m)::BIGINT AS q_den
         |FROM bl LEFT JOIN wi ON wi.lab = bl.lab CROSS JOIN m""".stripMargin),
    "graph_bfs_landmarks" ->
      (bfsCtes + s"""
         |SELECT lm, node, d FROM d$BfsIters""".stripMargin),
    "graph_harmonic" ->
      (bfsCtes + s"""
         |SELECT node, count(*)::BIGINT AS n_reached,
         |  sum(1000000 // d)::BIGINT AS harmonic_fp
         |FROM d$BfsIters WHERE d > 0 GROUP BY node""".stripMargin),
    "graph_neighbor_jaccard" ->
      s"""WITH ev AS (
         |  SELECT user_id, ts, event_id,
         |    (json_extract_string(props, '$$.k'))::BIGINT AS item
         |  FROM events
         |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
         |tr AS (
         |  SELECT lag(item) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id) AS src, item AS dst
         |  FROM ev),
         |und AS (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM tr WHERE src IS NOT NULL AND src != dst),
         |adj AS (
         |  SELECT a AS node, b AS nb FROM und
         |  UNION ALL SELECT b, a FROM und),
         |deg AS (SELECT node, count(*)::BIGINT AS deg FROM adj GROUP BY 1),
         |common AS (
         |  SELECT x.node AS n1, y.node AS n2, count(*)::BIGINT AS common
         |  FROM adj x JOIN adj y ON x.nb = y.nb AND x.node < y.node
         |  GROUP BY 1, 2)
         |SELECT c.n1, c.n2, c.common,
         |  round(c.common::DOUBLE / (d1.deg + d2.deg - c.common), 4)
         |    AS jaccard
         |FROM common c
         |JOIN deg d1 ON d1.node = c.n1
         |JOIN deg d2 ON d2.node = c.n2
         |WHERE round(c.common::DOUBLE / (d1.deg + d2.deg - c.common), 4)
         |  >= ${NeighborJaccardMin}""".stripMargin,
    "graph_degrees" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    (json_extract_string(props, '$.k'))::BIGINT AS item
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |tr AS (
        |  SELECT lag(item) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS src, item AS dst
        |  FROM ev),
        |edges AS (
        |  SELECT src, dst FROM tr WHERE src IS NOT NULL GROUP BY 1, 2),
        |outs AS (
        |  SELECT src, count(DISTINCT dst)::BIGINT AS fanout
        |  FROM edges GROUP BY src),
        |ins AS (
        |  SELECT dst, count(DISTINCT src)::BIGINT AS fanout
        |  FROM edges GROUP BY dst)
        |SELECT 'out' AS direction, fanout, count(*)::BIGINT AS n_nodes
        |FROM outs GROUP BY 2
        |UNION ALL
        |SELECT 'in', fanout, count(*)::BIGINT FROM ins GROUP BY 2""".stripMargin,
    "graph_triangles" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    (json_extract_string(props, '$.k'))::BIGINT AS item
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |tr AS (
        |  SELECT lag(item) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS src, item AS dst
        |  FROM ev),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM tr WHERE src IS NOT NULL AND src != dst),
        |tris AS (
        |  SELECT count(*)::BIGINT AS n_triangles
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.b
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |nodes AS (
        |  SELECT count(DISTINCT v)::BIGINT AS n_nodes FROM (
        |    SELECT a AS v FROM und UNION SELECT b FROM und)),
        |edges AS (SELECT count(*)::BIGINT AS n_edges FROM und)
        |SELECT nodes.n_nodes, edges.n_edges, tris.n_triangles
        |FROM nodes CROSS JOIN edges CROSS JOIN tris""".stripMargin,
    // the five iterations unrolled as chained CTEs; // on positive
    // BIGINTs = Spark's div, applied in the identical order
    "graph_pagerank" ->
      (s"""WITH ev AS (
          |  SELECT user_id, ts, event_id,
          |    (json_extract_string(props, '$$.k'))::BIGINT AS item
          |  FROM events
          |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
          |tr AS (
          |  SELECT lag(item) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id) AS src, item AS dst
          |  FROM ev),
          |edges AS (
          |  SELECT src, dst, count(*)::BIGINT AS w FROM tr
          |  WHERE src IS NOT NULL GROUP BY 1, 2),
          |outw AS (SELECT src, sum(w)::BIGINT AS out_w FROM edges GROUP BY src),
          |ew AS (
          |  SELECT e.src, e.dst, e.w, o.out_w
          |  FROM edges e JOIN outw o USING (src)),
          |nodes AS (SELECT DISTINCT item AS node FROM ev),
          |nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
          |base AS (
          |  SELECT (${1000L - PrDampNum} * ($PrScale // n)) // 1000 AS b
          |  FROM nn),
          |r0 AS (
          |  SELECT node, $PrScale // n AS rank FROM nodes CROSS JOIN nn),
          |""".stripMargin
        + (0 until PrIters).map(i => iterSql(s"r$i", s"r${i + 1}"))
          .mkString(",\n") +
        s"""
           |SELECT node, rank AS rank_fp FROM r$PrIters""".stripMargin),
    // PPR: the same damped fixed point with the teleport concentrated
    // on the seed set (node % PprSeedMod = 0); non-seeds hold only
    // flowed-in mass, unreachable nodes rank exactly 0
    "graph_ppr" ->
      (s"""WITH ev AS (
          |  SELECT user_id, ts, event_id,
          |    (json_extract_string(props, '$$.k'))::BIGINT AS item
          |  FROM events
          |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
          |tr AS (
          |  SELECT lag(item) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id) AS src, item AS dst
          |  FROM ev),
          |edges AS (
          |  SELECT src, dst, count(*)::BIGINT AS w FROM tr
          |  WHERE src IS NOT NULL GROUP BY 1, 2),
          |outw AS (SELECT src, sum(w)::BIGINT AS out_w FROM edges GROUP BY src),
          |ew AS (
          |  SELECT e.src, e.dst, e.w, o.out_w
          |  FROM edges e JOIN outw o USING (src)),
          |nodes AS (SELECT DISTINCT item AS node FROM ev),
          |ns AS (SELECT count(*)::BIGINT AS n FROM nodes
          |       WHERE node % $PprSeedMod = 0),
          |bs AS (
          |  SELECT (${1000L - PrDampNum} * ($PrScale // n)) // 1000 AS b,
          |    $PrScale // n AS init
          |  FROM ns),
          |r0 AS (
          |  SELECT node,
          |    CASE WHEN node % $PprSeedMod = 0 THEN bs.init ELSE 0 END AS rank
          |  FROM nodes CROSS JOIN bs),
          |""".stripMargin
        + (0 until PrIters).map(i => pprIterSql(s"r$i", s"r${i + 1}"))
          .mkString(",\n") +
        s"""
           |SELECT node, rank AS rank_fp FROM r$PrIters""".stripMargin)
  )
}
