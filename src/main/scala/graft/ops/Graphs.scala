package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Iterate

/** Iterative graph analytics beyond connected components: PageRank
  * (Brin & Page 1998) over an edge list — here used as duplicate-cluster
  * centrality (the PageRank of a doc inside the near-dup similarity
  * graph identifies the "canonical" member the way survivor policies
  * want, and hub scores flag template/boilerplate families), but the
  * operator is generic over any (src, dst) relation.
  *
  * Scale shape, mirroring [[Dedup.connectedComponents]]: the symmetrized
  * edge list is computed ONCE, pre-joined with its out-degrees, and
  * cached pre-partitioned on the join key, so every iteration shuffles
  * only the (nodes-sized) rank relation — one join + one aggregate per
  * iteration, rank updates partial-aggregated before the exchange.
  * Fixed iteration count (power iteration converges geometrically in
  * the damping factor; curation runs use few iterations, not
  * convergence loops).
  *
  * Cross-engine determinism: each node's incoming mass sums through
  * DECIMAL(38,14) — the per-edge contribution rank/deg is an IEEE
  * double both engines compute identically, the decimal staging makes
  * the SUM order-independent, and the damping update is then plain
  * double arithmetic — so every iteration's ranks are bit-identical to
  * the oracle's unrolled CTE chain.
  *
  * Contract: every node must have out-degree ≥ 1 (true by construction
  * for a symmetrized edge list — the near-dup graph is undirected);
  * dangling-mass redistribution is deliberately out of scope.
  */
object Graphs {

  /** PageRank over the UNDIRECTED graph given by `pairs` (each row one
    * edge; symmetrized and deduplicated here). Returns (id, pagerank)
    * for every node with at least one edge.
    */
  def pageRank(pairs: DataFrame, aCol: String, bCol: String,
               damping: Double = 0.85, iters: Int = 3): DataFrame =
    powerIteration(pairs, aCol, bCol, iters) { deg =>
      val n = graft.core.Caches.track(deg.agg(count(lit(1)).as("__n")))
      def withN(df: DataFrame): DataFrame = df.crossJoin(broadcast(n))
      (withN(deg.select(col("src").as("id")))
        .select(col("id"), (lit(1.0) / col("__n")).as("r")),
        inflow => withN(inflow).select(col("id"),
          (lit(damping) * col("__s") + lit(1.0 - damping) / col("__n"))
            .as("r")))
    }.select(col("id"), col("r").as("pagerank")).orderBy(col("id"))

  /** PERSONALIZED PageRank (Page et al. 1999 §6; the random surfer
    * teleports back to ONE seed node instead of anywhere): proximity of
    * every node to the seed through the graph's structure — on the
    * near-dup graph this ranks "documents related to this one" beyond
    * its direct neighbors, the walk-based related-items query every
    * similarity graph eventually serves. Same per-iteration plan as
    * [[pageRank]] (cached pre-partitioned edge list, only the
    * nodes-sized rank relation shuffles, decimal-staged mass sums); the
    * only deltas are the restart vector — rank starts as the seed's
    * indicator — and the teleport term landing solely on the seed.
    * Ranks therefore sum to ~1 concentrated around the seed; nodes
    * unreachable from it stay at exactly 0.
    */
  def personalizedPageRank(pairs: DataFrame, aCol: String, bCol: String,
                           seed: Long, damping: Double = 0.85,
                           iters: Int = 3): DataFrame =
    powerIteration(pairs, aCol, bCol, iters) { deg =>
      (deg.select(col("src").as("id"),
        when(col("src") === seed, lit(1.0)).otherwise(lit(0.0)).as("r")),
        inflow => inflow.select(col("id"), (lit(damping) * col("__s") +
          when(col("id") === seed, lit(1.0 - damping)).otherwise(lit(0.0)))
          .as("r")))
    }.select(col("id"), col("r").as("ppr")).orderBy(col("id"))

  /** The power iteration behind [[pageRank]] and [[personalizedPageRank]]:
    * `ranks` maps the degrees (src, deg) to the round-0 ranks (id, r) and
    * to the update from a round's inflow (id, __s) to its ranks.
    */
  private def powerIteration(pairs: DataFrame, aCol: String, bCol: String,
                             iters: Int)(
      ranks: DataFrame => (DataFrame, DataFrame => DataFrame)): DataFrame = {
    require(iters >= 1, "at least one power iteration")
    // scale 14, NOT deeper: past ~15 significant decimals the
    // double→decimal cast is engine-specific (Spark casts the shortest
    // decimal representation, DuckDB the exact binary expansion), so a
    // deeper scale BREAKS cross-engine equality instead of tightening
    // it — 14 is the repo-wide dotExact/dotSql staging depth
    val dec = DecimalType(38, 14)
    // cache the symmetrized edges BEFORE deriving degrees: deg, the rank
    // init and the per-round join all re-evaluate this plan, and
    // without the cache each one re-runs the (possibly expensive)
    // upstream pair generation — e.g. a MinHash banding join
    val edges = graft.core.Caches.track(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct())
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edgesDeg = graft.core.Caches.track(
      edges.join(deg, "src").repartition(col("src")))
    val (init, update) = ranks(deg)
    Iterate.rounds(init, iters) { (_, r) =>
      update(edgesDeg
        .join(r.select(col("id").as("src"), col("r")), "src")
        .select(col("dst"), (col("r") / col("deg")).as("__c"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("__c").cast(dec)).cast("double").as("__s")))
    }.state
  }

  /** Per-vertex triangle counts + local clustering coefficient over the
    * UNDIRECTED graph given by `pairs` (each row one edge; deduplicated
    * here) — the structural signal a dedup graph analysis wants next
    * after PageRank: a near-dup family is a dense (high-LCC) cluster,
    * while a low-LCC hub is boilerplate bridging unrelated documents,
    * and the two need different survivor policies.
    *
    * Scale shape — degree orientation (the standard distributed
    * triangle-counting trick; Suri & Vassilvitskii, WWW'11): orient
    * every edge from its (degree, id)-smaller endpoint to its larger
    * one. The oriented graph is acyclic and its max out-degree is
    * O(√m), so the wedge join (oriented ⋈ oriented on the shared
    * source) generates each triangle's two lower edges exactly once and
    * fans out at most √m per vertex — a high-degree hub with degree d
    * contributes NO d² wedge blowup, because its edges point INTO it.
    * The closing edge check is a semi-join against the oriented edge
    * list; with the endpoints ordered by the same total order, a
    * closing edge can only be oriented lower→higher, so one direction
    * suffices. Every join is key-partitioned; nothing is quadratic in
    * degree.
    *
    * LCC = 2·triangles / (deg·(deg−1)) is a single double division per
    * vertex (no sum ordering), so it is engine-exact.
    */
  def triangles(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // canonical undirected edges u < v, deduplicated; self-loops dropped
    val und = pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val edges = graft.core.Caches.track(
      und.select(col("u").as("src"), col("v").as("dst"))
        .union(und.select(col("v").as("src"), col("u").as("dst"))))
    val deg = graft.core.Caches.track(
      edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree")))
    // orient by the (degree, id) total order: src is the smaller endpoint
    val oriented = graft.core.Caches.track(
      edges
        .join(deg.select(col("id").as("src"), col("degree").as("__ds")), "src")
        .join(deg.select(col("id").as("dst"), col("degree").as("__dd")), "dst")
        .filter(col("__ds") < col("__dd") ||
          (col("__ds") === col("__dd") && col("src") < col("dst")))
        .select(col("src"), col("dst"), col("__dd")))
    // wedges from a shared oriented source; order the two tips by the
    // same total order so each unordered tip pair appears once
    val e1 = oriented.select(col("src"), col("dst").as("__v"), col("__dd").as("__dv"))
    val e2 = oriented.select(col("src"), col("dst").as("__w"), col("__dd").as("__dw"))
    val wedges = e1.join(e2, Seq("src"))
      .filter(col("__dv") < col("__dw") ||
        (col("__dv") === col("__dw") && col("__v") < col("__w")))
    // a closing edge between the ordered tips can only be oriented v→w
    val tris = wedges.join(
      oriented.select(col("src").as("__v"), col("dst").as("__w")),
      Seq("__v", "__w"), "left_semi")
    val perVertex = tris
      .select(explode(array(col("src"), col("__v"), col("__w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    deg.join(perVertex, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("lcc",
        when(col("degree") < 2, lit(0.0))
          .otherwise(lit(2.0) * col("triangles") /
            (col("degree") * (col("degree") - lit(1.0)))))
      .orderBy(col("id"))
  }

  /** Link prediction over the near-dup graph: rank NON-adjacent pairs
    * at distance 2 by neighborhood overlap — the candidate-recovery
    * step a dedup pipeline runs when banding MISSES an edge (two docs
    * sharing many near-dup neighbors are almost surely near-dups
    * themselves) and the standard citation/co-occurrence recommender.
    *
    * Three classic indices per pair, all exact: common-neighbor count,
    * Jaccard of neighborhoods cn/(deg_u+deg_v−cn) (one int→double
    * division), and Resource Allocation Σ_w 1/deg_w (Zhou, Lü &
    * Zhang 2009 — empirically the strongest of the degree-penalized
    * family), computed as Σ floor(raScale/deg_w) in INTEGER division
    * so the sum is order-independent and engine-exact; Adamic–Adar is
    * deliberately not offered (its Σ 1/log deg_w terms are runtime
    * logarithms — unordered double sums, the exactness discipline
    * this repo rejects; RA dominates it in published benchmarks
    * anyway).
    *
    * Scale shape: wedges enumerate through CENTERS with degree ≤
    * `maxCenterDegree` — the df-cap discipline MinHash banding already
    * uses (`Dedup`): a boilerplate hub's distance-2 pairs are
    * meaningless predictions AND the quadratic blowup, so the cap is
    * both the semantic and the physical guard. Per-center fanout is ≤
    * cap², wedge volume ≤ m·cap; everything else is equi-joins keyed
    * by (u, v) or node id, and the top-k is TakeOrderedAndProject,
    * never a global sort.
    */
  def linkPrediction(pairs: DataFrame, aCol: String, bCol: String,
                     maxCenterDegree: Long = 64L,
                     raScale: Long = 1000000000000L,
                     topK: Int = 50): DataFrame = {
    val und = graft.core.Caches.track(
      pairs.select(least(col(aCol), col(bCol)).as("u"),
          greatest(col(aCol), col(bCol)).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
    val edges = und.select(col("u").as("src"), col("v").as("dst"))
      .union(und.select(col("v").as("src"), col("u").as("dst")))
    val deg = graft.core.Caches.track(
      edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree")))
    val capped = graft.core.Caches.track(
      edges.join(
        deg.filter(col("degree") <= maxCenterDegree)
          .select(col("id").as("src"), col("degree").as("__dw")), "src"))
    val e1 = capped.select(col("src"), col("dst").as("u"), col("__dw"))
    val e2 = capped.select(col("src"), col("dst").as("v"))
    val cand = e1.join(e2, Seq("src"))
      .filter(col("u") < col("v"))
      .withColumn("__ra", expr(s"${raScale}L div __dw"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"), sum(col("__ra")).as("ra_scaled"))
    cand.join(und, Seq("u", "v"), "left_anti")
      .join(deg.select(col("id").as("u"), col("degree").as("deg_a")), "u")
      .join(deg.select(col("id").as("v"), col("degree").as("deg_b")), "v")
      .select(col("u").as("id_a"), col("v").as("id_b"), col("cn"),
        col("deg_a"), col("deg_b"),
        (col("cn").cast("double") /
          (col("deg_a") + col("deg_b") - col("cn")).cast("double"))
          .as("jaccard"),
        col("ra_scaled"))
      .orderBy(col("ra_scaled").desc, col("cn").desc, col("id_a"),
        col("id_b"))
      .limit(topK)
  }

  /** Symmetrized, deduplicated edge list from an undirected pair
    * relation — the shared first stage of every iterative operator
    * here. Cached (the per-round joins and the node derivation all
    * re-evaluate it).
    *
    * SELF-LOOPS (a == b) ARE DROPPED: a loop survives the
    * union+distinct as a single directed edge, which would make the
    * per-community intra count odd (modularity's `shiftright(_,1)`
    * would floor it) and under-count degree mass vs the Newman
    * convention (a loop contributes degree 2). The similarity-pair
    * producers here never emit loops; arbitrary caller input is
    * normalized to the loop-free simple graph every operator in this
    * file assumes.
    */
  private def symEdges(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    graft.core.Caches.track(
      pairs.filter(!(col(aCol) <=> col(bCol)))
        .select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.filter(!(col(aCol) <=> col(bCol)))
          .select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct())

  /** Synchronous label propagation (Raghavan, Albert & Kumara 2007) —
    * community detection over the near-dup graph: where connected
    * components answer "transitively linked at all", LPA's
    * plurality-label dynamics separate DENSE duplicate families that a
    * single spurious candidate edge would otherwise weld into one
    * component — the community structure a survivor policy or a
    * template-family audit actually wants.
    *
    * Determinism (the classic LPA pitfall is random tie-breaks and
    * update order): fully synchronous rounds, every node updates every
    * round to the label held by the PLURALITY of its neighbors, ties
    * broken by the smallest label — a pure function of the round-r
    * labeling, bit-identical to the oracle's unrolled CTEs.
    *
    * Scale shape, per round: one join of the cached pre-partitioned
    * edge list against the nodes-sized label relation, a
    * partial-aggregated (node, label) count, and a per-node
    * row_number — every exchange is keyed by node id, nothing is
    * quadratic in degree. Fixed round count (LPA converges in a few
    * sweeps on clustered graphs; curation runs want a bounded plan,
    * not a convergence loop).
    */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
                       iters: Int = 4): DataFrame =
    lpaOnEdges(symEdges(pairs, aCol, bCol), iters).orderBy(col("id"))

  /** The LPA round loop over an already-symmetrized edge list — shared
    * by [[labelPropagation]] and [[modularity]] so the latter scores
    * exactly the communities the former reports (and pays for symEdges
    * once).
    */
  private def lpaOnEdges(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "at least one propagation round")
    val edgesP = graft.core.Caches.track(edges.repartition(col("src")))
    val init = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    val pick = Window.partitionBy(col("id"))
      .orderBy(col("cnt").desc, col("lbl").asc)
    Iterate.rounds(init, iters) { (_, labels) =>
      edgesP
        .join(labels.select(col("id").as("src"), col("lbl")), "src")
        .groupBy(col("dst").as("id"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("__rn", row_number().over(pick))
        .filter(col("__rn") === 1)
        .select(col("id"), col("lbl"))
    }.state.select(col("id"), col("lbl").as("community"))
  }

  /** Per-community MODULARITY decomposition (Newman & Girvan 2004) of
    * the LPA communities: each community c reports its size, its
    * intra-community edge count e_c, its degree mass d_c, and its
    * additive modularity term e_c/m − (d_c/2m)² — Σ terms is Newman's
    * Q, kept per-community so the report says WHICH duplicate families
    * are genuinely dense and which labels are noise (term ≈ 0), the
    * community-quality audit behind trusting LPA output for survivor
    * selection.
    *
    * Scale shape: the cached symmetric edge list is the only data-sized
    * relation — one degree count, two node-keyed label joins for the
    * intra count, then everything is communities-sized; the 1-row edge
    * total broadcasts. In the symmetric directed list L = 2m, so
    * e_c/m = intra_c/L and d_c/2m = deg_c/L — every input to the one
    * fixed double expression per row is an exact integer, which is what
    * lets the oracle replay it bit-for-bit on top of the unrolled LPA
    * rounds.
    */
  def modularity(pairs: DataFrame, aCol: String, bCol: String,
                 iters: Int = 4): DataFrame = {
    val edges = symEdges(pairs, aCol, bCol)
    val labels = graft.core.Caches.track(lpaOnEdges(edges, iters))
    val deg = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("__d"))
    val tot = edges.agg(count(lit(1)).as("__L"))
    val nodeStats = labels.join(deg, "id")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("__d")).as("degree_sum"))
    val la = labels.select(col("id").as("src"), col("community"))
    val lb = labels.select(col("id").as("dst"), col("community").as("__cb"))
    val intra = edges.join(la, "src").join(lb, "dst")
      .filter(col("community") === col("__cb"))
      .groupBy(col("community")).agg(count(lit(1)).as("__intra2"))
    val i2 = coalesce(col("__intra2"), lit(0L))
    val dOverL = col("degree_sum").cast("double") / col("__L").cast("double")
    nodeStats.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(tot))
      .select(col("community"), col("n_nodes"),
        shiftright(i2, 1).as("intra_edges"), // intra_c is even: exact m_c
        col("degree_sum"),
        (i2.cast("double") / col("__L").cast("double") - dOverL * dOverL)
          .as("modularity_term"))
      .orderBy(col("community"))
  }

  /** DEGREE DISTRIBUTION of the symmetrized graph — the one-page shape
    * readout next to [[assortativity]]'s one number: how many nodes
    * carry each degree (and their share — one division per row of a
    * degrees-sized relation). Heavy-tailed = hub/boilerplate structure,
    * concentrated = uniform duplicate families. One degree count + one
    * tiny regroup; nothing quadratic.
    */
  def degreeDistribution(pairs: DataFrame, aCol: String,
                         bCol: String): DataFrame = {
    val deg = symEdges(pairs, aCol, bCol)
      .groupBy(col("src")).agg(count(lit(1)).as("__d"))
    val dist = deg.groupBy(col("__d").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
    val tot = dist.agg(sum(col("n_nodes")).as("__t"))
    dist.crossJoin(broadcast(tot))
      .select(col("degree"), col("n_nodes"),
        (col("n_nodes").cast("double") / col("__t").cast("double"))
          .as("share"))
      .orderBy(col("degree"))
  }

  /** Degree ASSORTATIVITY (Newman 2002): the Pearson correlation of
    * endpoint degrees over the symmetric directed edge list — positive
    * when high-degree docs pair with high-degree docs (one dense
    * template family), negative for hub-and-spoke structure (one
    * canonical doc with many variants); the one-number shape diagnosis
    * of the near-dup graph.
    *
    * Exactness: every moment (Σx, Σy, Σxy, Σx², Σy² over edges, with
    * x, y the endpoint degrees) accumulates in DECIMAL(38,0) from
    * DECIMAL(18,0)-staged degrees — products stay exact to ~1e37, far
    * past any real graph — and the Pearson assembly is ONE fixed double
    * expression (two correctly-rounded sqrts, one division), so the
    * oracle's HUGEINT restatement lands on the identical double.
    * Scale shape: one degree count, two node-keyed joins staging
    * degrees onto edges, one 6-cell map-side-combined aggregate; the
    * 1-row node count broadcasts.
    */
  def assortativity(pairs: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val D18 = org.apache.spark.sql.types.DecimalType(18, 0)
    val D = org.apache.spark.sql.types.DecimalType(38, 0)
    val edges = symEdges(pairs, aCol, bCol)
    val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val ed = edges
      .join(deg.select(col("id").as("src"), col("d").as("__dx")), "src")
      .join(deg.select(col("id").as("dst"), col("d").as("__dy")), "dst")
    val x = col("__dx").cast(D18)
    val y = col("__dy").cast(D18)
    val m = ed.agg(count(lit(1)).as("l"),
      sum(x.cast(D)).as("sx"), sum(y.cast(D)).as("sy"),
      sum((x * y).cast(D)).as("sxy"),
      sum((x * x).cast(D)).as("sxx"),
      sum((y * y).cast(D)).as("syy"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val l = col("l").cast(D)
    val num = l * col("sxy") - col("sx") * col("sy")
    val dx = l * col("sxx") - col("sx") * col("sx")
    val dy = l * col("syy") - col("sy") * col("sy")
    m.crossJoin(broadcast(nn))
      .select(col("n_nodes"), shiftright(col("l"), 1).as("m_edges"),
        when(dx > 0 && dy > 0,
          num.cast("double") /
            (sqrt(dx.cast("double")) * sqrt(dy.cast("double"))))
          .otherwise(lit(null).cast("double")).as("assortativity"))
  }

  /** k-core decomposition by iterative peeling (Seidman 1983; the
    * distributed formulation of Montresor et al.): repeatedly drop
    * nodes whose degree within the surviving subgraph is < k, until a
    * fixpoint — the maximal subgraph where every member has ≥ k
    * in-core neighbors. On the near-dup graph the 2-core separates
    * genuinely dense duplicate families from the incidental pair/chain
    * edges the banding cap emits — a structural dedup-confidence
    * signal no per-pair similarity threshold gives.
    *
    * Convergence contract (the [[Dedup.connectedComponents]]
    * discipline): peel until a round removes nothing, hard-fail past
    * `maxRounds` rather than return a non-fixpoint — so an oracle that
    * unrolls exactly `maxRounds` rounds (extra rounds past the
    * fixpoint are no-ops: peeling is monotone) is guaranteed to match.
    * The per-round node count that detects the fixpoint is observed
    * inside each round's checkpoint job and doubles as the early exit,
    * so the bench pays actual rounds, not the worst-case bound.
    *
    * Scale shape, per round: the cached symmetrized edge list
    * semi-joined to the shrinking node set on BOTH endpoints, then one
    * partial-aggregated degree count — each exchange keyed by node id;
    * the node relation only ever shrinks.
    */
  def kCore(pairs: DataFrame, aCol: String, bCol: String, k: Int,
            maxRounds: Int = 16): DataFrame =
    kCoreWithRounds(pairs, aCol, bCol, k, maxRounds)._1

  private[graft] def kCoreWithRounds(
      pairs: DataFrame, aCol: String, bCol: String, k: Int,
      maxRounds: Int = 16): (DataFrame, Iterate.Result) = {
    require(k >= 1, "k-core needs k >= 1")
    val edges = symEdges(pairs, aCol, bCol)
    val size = Seq(count(lit(1)).as("n"))
    val (nodes, seedSize) =
      Iterate.measure(edges.select(col("src").as("id")).distinct(), size)
    val res = Iterate.fixpoint(nodes, maxRounds, size, Some(seedSize)) {
      (_, ns) =>
        edges
          .join(ns.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(ns.select(col("id").as("dst")), Seq("dst"), "left_semi")
          .groupBy(col("src").as("id"))
          .agg(count(lit(1)).as("core_degree"))
          .filter(col("core_degree") >= k)
    }
    require(res.converged,
      s"k-core peeling did not reach a fixpoint within $maxRounds rounds " +
        "(raise maxRounds — a returned non-fixpoint would silently " +
        "disagree with the unrolled oracle)")
    (res.state.orderBy(col("id")), res)
  }

  /** DeepWalk-style walk-corpus generation (Perozzi, Al-Rfou & Skiena
    * 2014) with a DETERMINISTIC walker: one walk per node, `length`
    * steps, where the step-k successor of a walk is the neighbor with
    * the smallest md5 of "walkId:step:neighbor". Substituting a keyed
    * hash order for the RNG keeps the corpus distribution-equivalent
    * for embedding training (each step is an arbitrary-but-fixed
    * uniform-ish pick, decorrelated across walks and steps by the key)
    * while making the output a pure function of the graph — stable
    * across retries, partitionings, and engines, so a SQL oracle can
    * replay every walk exactly (the [[graft.ops.Curation]]
    * deterministic-uniform discipline applied to graph sampling).
    *
    * Scale shape, the [[pageRank]] iteration pattern: the symmetrized
    * edge list caches pre-partitioned on `src` ONCE; each of the
    * `length` steps joins the walks-sized frontier against it and picks
    * the argmin with `min_by` (partial-aggregated before the exchange —
    * the per-walk state that moves is one row), each step materialized
    * by [[graft.core.Iterate]]. Total cost: `length` bounded exchanges,
    * output walks×(length+1) rows — never degree-squared, nothing
    * collected. Walks stay inside their connected component by
    * construction; a symmetrized graph has no dead ends.
    *
    * @return (walk_id, step, node): step 0 is the start node (walk_id =
    *         start), steps 1..length the visited successors.
    */
  def deterministicWalks(pairs: DataFrame, aCol: String, bCol: String,
                         length: Int): DataFrame =
    walks(pairs, aCol, bCol, length) { (k, frontier, edgesP) =>
      frontier
        .join(edgesP.withColumnRenamed("src", "node"), "node")
        .groupBy(col("walk_id"))
        .agg(min_by(col("dst"),
          md5(concat_ws(":", col("walk_id"), lit(k), col("dst"))))
          .as("node"))
    }

  /** One walk per node: step k maps the (walk_id, prev, node) frontier
    * through `step(k, frontier, edgesP)`; returns every step's
    * (walk_id, step, node), step 0 the start node.
    */
  private def walks(pairs: DataFrame, aCol: String, bCol: String,
                    length: Int)(
      step: (Int, DataFrame, DataFrame) => DataFrame): DataFrame = {
    require(length >= 1, "at least one step")
    val edges = symEdges(pairs, aCol, bCol)
    val edgesP = graft.core.Caches.track(edges.repartition(col("src")))
    val start = Iterate.materialize(
      edges.select(col("src").as("walk_id")).distinct()
        .select(col("walk_id"), col("walk_id").as("prev"),
          col("walk_id").as("node")))
    val walk = Iterate.rounds(start, length)((k, f) => step(k, f, edgesP))
    (start +: walk.states).zipWithIndex
      .map { case (f, k) =>
        f.select(col("walk_id"), lit(k.toLong).as("step"), col("node"))
      }
      .reduce(_.unionByName(_))
      .orderBy(col("walk_id"), col("step"))
  }

  /** node2vec-biased walks (Grover & Leskovec 2016) with the
    * [[deterministicWalks]] keyed-hash walker: the step-k successor is
    * the candidate with the highest PRIORITY weight/u — priority
    * sampling's exact-arithmetic substitute for a weighted RNG draw
    * (u = md5-derived uniform in (0,1], ONE IEEE division) — where the
    * node2vec second-order weight classifies each candidate d against
    * the PREVIOUS node: 1/p if d = prev (return), 1 if prev—d is an
    * edge (stay in the triangle), 1/q otherwise (move outward). With
    * the default p=2, q=1/2 every weight is an exact power of two, so
    * weight, uniform, and priority are all bit-portable and a SQL
    * oracle replays every choice. Step 1 runs the same formula with
    * prev = start (all candidates are start's neighbors → pure uniform
    * priority), so one CTE shape covers every step.
    *
    * Plan per step = [[deterministicWalks]] plus ONE extra
    * co-partitioned probe: candidates (frontier ⋈ edges on cur) left-
    * join edges again on (prev, candidate) for the triangle test —
    * both joins against the same cached pre-partitioned edge relation;
    * the max_by argmax partial-aggregates before the exchange. State
    * is (walk, prev, cur): one row per walk, never degree².
    *
    * @return (walk_id, step, node) — step 0 the start, 1..length the
    *         biased successors.
    */
  def biasedWalks(pairs: DataFrame, aCol: String, bCol: String,
                  length: Int, p: Double = 2.0,
                  q: Double = 0.5): DataFrame = {
    require(p > 0 && q > 0, "positive p and q")
    walks(pairs, aCol, bCol, length) { (k, frontier, edgesP) =>
      val cand = frontier
        .join(edgesP.withColumnRenamed("src", "node"), "node")
        .join(edgesP.select(col("src").as("__p2"), col("dst").as("__t"),
            lit(1).as("__tri")),
          col("prev") === col("__p2") && col("dst") === col("__t"),
          "left_outer")
      cand
        .withColumn("__w",
          when(col("dst") === col("prev"), lit(1.0 / p))
            .when(col("__tri").isNotNull, lit(1.0))
            .otherwise(lit(1.0 / q)))
        .withColumn("__u",
          (conv(substring(md5(concat_ws(":", col("walk_id"), lit(k),
            col("dst"))), 1, 8), 16, 10).cast("double") + 1.0) /
            4294967296.0)
        .groupBy(col("walk_id"), col("node"))
        .agg(max_by(col("dst"), col("__w") / col("__u")).as("__next"))
        .select(col("walk_id"), col("node").as("prev"),
          col("__next").as("node"))
    }
  }

  /** Multi-source BFS from the `numSeeds` smallest node ids — landmark
    * hop distances: each node's distance to (and identity of) its
    * nearest landmark under the (dist, seed-id) total order. The
    * graph-partition assignment every landmark-routing / graph-sketch
    * scheme starts from, and on the near-dup graph a cheap "how far is
    * this doc from a canonical exemplar" signal. Hop-bounded: nodes
    * beyond `maxHops` of every landmark are absent from the result (an
    * explicit contract, not an accident — frontier expansion is the
    * cost model, and curation wants the near neighborhood).
    *
    * Determinism: relaxation keeps the lexicographically smallest
    * (dist, seed) per node; seeds are the smallest node ids (a
    * driver-bounded orderBy/limit over the node relation, broadcast
    * from there). Per round: one join of the cached pre-partitioned
    * edge list against the frontier-carrying state, one per-node
    * row_number — node-keyed exchanges only.
    */
  def bfsLandmarks(pairs: DataFrame, aCol: String, bCol: String,
                   numSeeds: Int = 3, maxHops: Int = 4): DataFrame = {
    require(numSeeds >= 1 && maxHops >= 1, "need seeds and hops")
    val edges = symEdges(pairs, aCol, bCol)
    val edgesP = graft.core.Caches.track(edges.repartition(col("src")))
    val seeds = edges.select(col("src").as("id")).distinct()
      .orderBy(col("id")).limit(numSeeds)
    val init = seeds.select(col("id"), lit(0L).as("dist"),
      col("id").as("seed"))
    val pick = Window.partitionBy(col("id"))
      .orderBy(col("dist").asc, col("seed").asc)
    Iterate.rounds(init, maxHops) { (_, state) =>
      val prop = edgesP
        .join(state.select(col("id").as("src"), col("dist"), col("seed")),
          "src")
        .select(col("dst").as("id"), (col("dist") + 1L).as("dist"),
          col("seed"))
      state.union(prop)
        .withColumn("__rn", row_number().over(pick))
        .filter(col("__rn") === 1)
        .select(col("id"), col("dist"), col("seed"))
    }.state.orderBy(col("id"))
  }
}
