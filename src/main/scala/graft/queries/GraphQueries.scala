package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Dedup, Graphs}
import graft.queries.OracleCompat.minhashPairCtes

/** Graph analytics (`graph_*`) over the minhash near-duplicate graph and
  * the embedding kNN graph: components, PageRank, label propagation,
  * cores, BFS, walks, community and link-prediction readouts. Iterative
  * algorithms run a fixed number of rounds so the oracle can unroll them.
  */
object GraphQueries {

  /** Shared oracle prelude: minhash candidate pairs → symmetrized,
    * deduplicated edge list (the exact restatement of
    * [[graft.ops.Graphs]]'s symEdges over minhashCandidates).
    */
  private def edgeCtes: String =
    s"""${minhashPairCtes},
       |edges AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs)""".stripMargin

  private val LpaIters = 4

  /** The unrolled synchronous-LPA rounds (l0 … l[[LpaIters]]) over the
    * `edges` CTE — shared by graph_lpa and graph_modularity so both
    * oracles score the identical labeling.
    */
  private def lpaCtes: String = {
    val rounds = (1 to LpaIters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS id, l.lbl, count(*) AS cnt
         |  FROM edges e JOIN l${i - 1} l ON l.id = e.src
         |  GROUP BY e.dst, l.lbl),
         |l$i AS MATERIALIZED (
         |  SELECT id, lbl FROM (
         |    SELECT id, lbl,
         |      row_number() OVER (PARTITION BY id
         |        ORDER BY cnt DESC, lbl) AS rn
         |    FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM edges),
       |$rounds""".stripMargin
  }

  private val CoreK = 2
  private val CoreRounds = 16
  private val BfsSeeds = 3
  private val BfsHops = 4
  private val WalkLen = 4
  private val BiasedWalkLen = 3

  val all: Seq[Q] = Seq(

    Q("graph_pagerank",
      "PageRank over the near-dup similarity graph (MinHash candidate " +
        "pairs, symmetrized) — duplicate-cluster CENTRALITY: the " +
        "highest-rank member of a dup family is the canonical pick a " +
        "survivor policy wants, and hub scores flag template families. " +
        "Power iteration with the CC loop's scale shape: the edge list " +
        "pre-joins its out-degrees once and caches pre-partitioned on " +
        "the join key, so each of the 3 iterations shuffles only the " +
        "nodes-sized rank relation (one join + one partial-aggregated " +
        "sum). Incoming mass sums through DECIMAL(38,14), so every " +
        "iteration is bit-identical to the oracle's unrolled CTEs.",
      (s, d) => Graphs.pageRank(
        Dedup.minhashCandidates(Tables.documents(s, d), "doc_id", "text",
          Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3),
        "id_a", "id_b", damping = 0.85, iters = 3),
      Some {
        val iterCtes = (1 to 3).map { i =>
          s"""c$i AS (
             |  SELECT e.dst AS id,
             |    cast(sum(cast(r.r / d.deg AS DECIMAL(38,14))) AS DOUBLE)
             |      AS s
             |  FROM edges e JOIN r${i - 1} r ON r.id = e.src
             |       JOIN deg d ON d.src = e.src
             |  GROUP BY e.dst),
             |r$i AS (
             |  SELECT id, 0.85::DOUBLE * s +
             |    (1.0::DOUBLE - 0.85::DOUBLE) / n AS r
             |  FROM c$i, nn)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${minhashPairCtes},
           |edges AS (
           |  SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION SELECT id_b, id_a FROM pairs),
           |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
           |nn AS (SELECT count(*) AS n FROM deg),
           |r0 AS (SELECT src AS id, 1.0::DOUBLE / n AS r FROM deg, nn),
           |$iterCtes
           |SELECT id, r AS pagerank FROM r3 ORDER BY id""".stripMargin
      }),

    Q("graph_triangles",
      "Per-vertex triangle counts + local clustering coefficient over " +
        "the near-dup similarity graph — the structural complement to " +
        "graph_pagerank: a dense (high-LCC) neighborhood is a genuine " +
        "duplicate family, a low-LCC hub is boilerplate bridging " +
        "unrelated docs. Degree-oriented wedge join (Suri & " +
        "Vassilvitskii): edges orient from (degree,id)-smaller to " +
        "larger endpoint, so max out-degree is O(sqrt(m)) and a " +
        "high-degree hub contributes no quadratic wedge blowup; the " +
        "closing edge is one semi-join. The oracle counts each " +
        "triangle once by id-ordered enumeration — a different " +
        "formulation, same triangles, which cross-checks the " +
        "orientation logic itself.",
      (s, d) => Graphs.triangles(
        Dedup.minhashCandidates(Tables.documents(s, d), "doc_id", "text",
          Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3),
        "id_a", "id_b"),
      Some(
        s"""WITH ${minhashPairCtes},
           |und AS (
           |  SELECT DISTINCT least(id_a, id_b) AS u,
           |    greatest(id_a, id_b) AS v
           |  FROM pairs WHERE id_a <> id_b),
           |edges AS (SELECT u AS src, v AS dst FROM und
           |          UNION ALL SELECT v, u FROM und),
           |deg AS (SELECT src AS id, count(*) AS degree FROM edges GROUP BY src),
           |tri AS (
           |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
           |  FROM und e1 JOIN und e2 ON e2.u = e1.v
           |       JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
           |tv AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
           |       UNION ALL SELECT c FROM tri),
           |tc AS (SELECT id, count(*) AS triangles FROM tv GROUP BY id)
           |SELECT d.id, d.degree,
           |  coalesce(t.triangles, 0) AS triangles,
           |  CASE WHEN d.degree < 2 THEN 0.0
           |       ELSE 2.0 * coalesce(t.triangles, 0) /
           |            (d.degree * (d.degree - 1.0)) END AS lcc
           |FROM deg d LEFT JOIN tc t USING (id)
           |ORDER BY d.id""".stripMargin)),

    Q("graph_ppr",
      "PERSONALIZED PageRank from a seed document over the near-dup " +
        "graph — the walk-based related-items query: the surfer " +
        "teleports back to the SEED only, so ranks measure structural " +
        "proximity to it and unreachable nodes stay at exactly 0. " +
        "Same per-iteration plan as graph_pagerank (cached " +
        "pre-partitioned edges, nodes-sized rank shuffle, " +
        "DECIMAL(38,14) mass sums — every iteration bit-identical to " +
        "the unrolled-CTE oracle); deltas are the indicator restart " +
        "vector and the seed-only teleport term. Seed = the graph's " +
        "minimum node id, derived identically on both sides.",
      (s, d) => {
        val pairs = Dedup.minhashCandidates(Tables.documents(s, d),
          "doc_id", "text", Dedup.Shingler.words(5), bandsN = 2,
          rowsPerBand = 3)
        val seed = pairs
          .agg(min(least(col("id_a"), col("id_b")))).head().getLong(0)
        Graphs.personalizedPageRank(pairs, "id_a", "id_b", seed,
          damping = 0.85, iters = 3)
      },
      Some {
        val seedSql = "(SELECT s FROM sd)"
        val iterCtes = (1 to 3).map { i =>
          s"""c$i AS (
             |  SELECT e.dst AS id,
             |    cast(sum(cast(r.r / d.deg AS DECIMAL(38,14))) AS DOUBLE)
             |      AS s
             |  FROM edges e JOIN r${i - 1} r ON r.id = e.src
             |       JOIN deg d ON d.src = e.src
             |  GROUP BY e.dst),
             |r$i AS (
             |  SELECT id, 0.85::DOUBLE * s +
             |    (CASE WHEN id = $seedSql
             |          THEN (1.0::DOUBLE - 0.85::DOUBLE)
             |          ELSE 0.0::DOUBLE END) AS r
             |  FROM c$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${minhashPairCtes},
           |edges AS (
           |  SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION SELECT id_b, id_a FROM pairs),
           |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
           |sd AS (SELECT min(src) AS s FROM edges),
           |r0 AS (
           |  SELECT src AS id,
           |    CASE WHEN src = $seedSql THEN 1.0::DOUBLE
           |         ELSE 0.0::DOUBLE END AS r
           |  FROM deg),
           |$iterCtes
           |SELECT id, r AS ppr FROM r3 ORDER BY id""".stripMargin
      }),

    Q("graph_lpa",
      "Synchronous label propagation (Raghavan et al. 2007) — community " +
        "detection over the near-dup graph: plurality-label dynamics " +
        "separate dense duplicate families that one spurious candidate " +
        "edge would weld into a single connected component. Fully " +
        "deterministic variant: synchronous rounds, plurality label with " +
        "smallest-label tie-break — a pure function of the previous " +
        "round, so the oracle unrolls the identical 4 rounds as CTEs. " +
        "Per round: one join of the cached pre-partitioned edge list " +
        "against the nodes-sized label relation, a partial-aggregated " +
        "(node,label) count, and a per-node row_number — node-keyed " +
        "exchanges only, nothing quadratic in degree.",
      (s, d) => Graphs.labelPropagation(
        Dedup.minhashCandidates(Tables.documents(s, d), "doc_id", "text",
          Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3),
        "id_a", "id_b", iters = LpaIters),
      Some(s"""WITH $edgeCtes,
              |$lpaCtes
              |SELECT id, lbl AS community FROM l$LpaIters
              |ORDER BY id""".stripMargin)),

    Q("graph_kcore",
      "2-core of the near-dup graph by iterative peeling (Seidman 1983): " +
        "drop nodes with in-subgraph degree < 2 until fixpoint — the " +
        "maximal subgraph where every doc has >=2 in-core neighbors, " +
        "separating genuinely dense duplicate families from the " +
        "incidental pair/chain edges the banding df-cap emits. " +
        "Convergence contract mirrors connectedComponents: peel with a " +
        "per-round fixpoint check (early exit — the bench " +
        "pays actual rounds), hard-fail past 16 rounds rather than " +
        "return a non-fixpoint, so the oracle's exactly-16-round unroll " +
        "(no-op rounds past the fixpoint: peeling is monotone) is " +
        "guaranteed to match. Per round: the cached edge list " +
        "semi-joined to the shrinking node set on both endpoints, one " +
        "partial-aggregated degree count.",
      (s, d) => Graphs.kCore(
        Dedup.minhashCandidates(Tables.documents(s, d), "doc_id", "text",
          Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3),
        "id_a", "id_b", k = CoreK, maxRounds = CoreRounds),
      Some {
        val rounds = (1 to CoreRounds).map { i =>
          s"""d$i AS (
             |  SELECT e.src AS id, count(*) AS c
             |  FROM edges e
             |  JOIN n${i - 1} a ON e.src = a.id
             |  JOIN n${i - 1} b ON e.dst = b.id
             |  GROUP BY e.src),
             |n$i AS MATERIALIZED (SELECT id FROM d$i WHERE c >= $CoreK)""".stripMargin
        }.mkString(",\n")
        s"""WITH $edgeCtes,
           |n0 AS (SELECT DISTINCT src AS id FROM edges),
           |$rounds
           |SELECT id, c AS core_degree FROM d$CoreRounds
           |WHERE c >= $CoreK ORDER BY id""".stripMargin
      }),

    Q("graph_bfs",
      "Multi-source BFS from the 3 smallest-id nodes — landmark hop " +
        "distances over the near-dup graph: each node's distance to and " +
        "identity of its nearest landmark under the (dist, seed) total " +
        "order; hop-bounded at 4 (nodes beyond every landmark's 4-hop " +
        "ball are absent by contract — frontier expansion is the cost " +
        "model). Deterministic relaxation: keep the lexicographically " +
        "smallest (dist, seed) per node each synchronous round; the " +
        "oracle unrolls the same 4 relaxations. Per round: one join of " +
        "the cached pre-partitioned edge list against the " +
        "frontier-carrying state and a per-node row_number — node-keyed " +
        "exchanges only; seeds are a driver-bounded orderBy/limit.",
      (s, d) => Graphs.bfsLandmarks(
        Dedup.minhashCandidates(Tables.documents(s, d), "doc_id", "text",
          Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3),
        "id_a", "id_b", numSeeds = BfsSeeds, maxHops = BfsHops),
      Some {
        val rounds = (1 to BfsHops).map { i =>
          s"""p$i AS (
             |  SELECT e.dst AS id, s.dist + 1 AS dist, s.seed
             |  FROM edges e JOIN s${i - 1} s ON s.id = e.src
             |  UNION ALL
             |  SELECT id, dist, seed FROM s${i - 1}),
             |s$i AS MATERIALIZED (
             |  SELECT id, dist, seed FROM (
             |    SELECT id, dist, seed,
             |      row_number() OVER (PARTITION BY id
             |        ORDER BY dist, seed) AS rn
             |    FROM p$i) WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH $edgeCtes,
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |s0 AS (
           |  SELECT id, CAST(0 AS BIGINT) AS dist, id AS seed
           |  FROM nodes ORDER BY id LIMIT $BfsSeeds),
           |$rounds
           |SELECT id, dist, seed FROM s$BfsHops ORDER BY id""".stripMargin
      }),

    Q("graph_walks",
      "DeepWalk-style walk corpus over the near-dup graph " +
        "(Graphs.deterministicWalks): one walk per node, 4 steps, " +
        "successor = the neighbor with the smallest md5(walk:step:" +
        "neighbor) — a keyed-hash walker instead of an RNG, so the " +
        "corpus every graph-embedding trainer consumes is a pure " +
        "function of the graph (stable across retries and engines). " +
        "Plan: the symmetrized edge list caches pre-partitioned on src " +
        "once; each step joins only the walks-sized frontier and picks " +
        "argmin via min_by partial aggregation — length bounded " +
        "exchanges, nothing degree-squared. The oracle replays all " +
        "four steps with the identical hash order.",
      (s, d) => Graphs.deterministicWalks(
        graft.ops.Dedup.minhashCandidates(Tables.documents(s, d),
          "doc_id", "text", graft.ops.Dedup.Shingler.words(5),
          bandsN = 2, rowsPerBand = 3),
        "id_a", "id_b", length = WalkLen),
      Some {
        val steps = (1 to WalkLen).map { k =>
          s"""s$k AS (
             |  SELECT p.walk_id,
             |    min_by(e.dst, md5(p.walk_id::VARCHAR || ':$k:' ||
             |      e.dst::VARCHAR)) AS node
             |  FROM s${k - 1} p JOIN edges e ON e.src = p.node
             |  GROUP BY p.walk_id)""".stripMargin
        }.mkString(",\n")
        val rows = (1 to WalkLen).map { k =>
          s"SELECT walk_id, CAST($k AS BIGINT) AS step, node FROM s$k"
        }.mkString("\nUNION ALL ")
        s"""WITH ${minhashPairCtes},
           |edges AS (
           |  SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION SELECT id_b, id_a FROM pairs),
           |s0 AS (SELECT DISTINCT src AS walk_id, src AS node FROM edges),
           |$steps
           |SELECT walk_id, CAST(0 AS BIGINT) AS step, node FROM s0
           |UNION ALL $rows
           |ORDER BY walk_id, step""".stripMargin
      }),

    Q("graph_walks_biased",
      "node2vec-biased walks (Grover & Leskovec 2016) over the near-dup " +
        "graph: the step-k successor maximizes weight/u — priority " +
        "sampling's exact substitute for the weighted RNG draw — with " +
        "the second-order weight 1/p for returning to the previous " +
        "node, 1 for closing a triangle, 1/q for moving outward " +
        "(p=2, q=1/2: all weights exact powers of two; u is the " +
        "md5-uniform, one IEEE division). Per step: frontier joins the " +
        "cached pre-partitioned edges on cur, ONE extra co-partitioned " +
        "probe on (prev, candidate) supplies the triangle test, and " +
        "max_by partial-aggregates the argmax — state stays one row " +
        "per walk. Oracle replays every biased choice with arg_max " +
        "over the identical priorities.",
      (s, d) => Graphs.biasedWalks(
        graft.ops.Dedup.minhashCandidates(Tables.documents(s, d),
          "doc_id", "text", graft.ops.Dedup.Shingler.words(5),
          bandsN = 2, rowsPerBand = 3),
        "id_a", "id_b", length = BiasedWalkLen),
      Some {
        val steps = (1 to BiasedWalkLen).map { k =>
          s"""c$k AS (
             |  SELECT p.walk_id, p.node AS cur, e.dst,
             |    (CASE WHEN e.dst = p.prev THEN 0.5
             |          WHEN t.src IS NOT NULL THEN 1.0
             |          ELSE 2.0 END) /
             |    ((('0x' || substring(md5(p.walk_id::VARCHAR || ':$k:' ||
             |        e.dst::VARCHAR), 1, 8))::BIGINT + 1)
             |      / 4294967296.0) AS pri
             |  FROM s${k - 1} p
             |  JOIN edges e ON e.src = p.node
             |  LEFT JOIN edges t ON t.src = p.prev AND t.dst = e.dst),
             |s$k AS (
             |  SELECT walk_id, cur AS prev, arg_max(dst, pri) AS node
             |  FROM c$k GROUP BY walk_id, cur)""".stripMargin
        }.mkString(",\n")
        val rows = (1 to BiasedWalkLen).map { k =>
          s"SELECT walk_id, CAST($k AS BIGINT) AS step, node FROM s$k"
        }.mkString("\nUNION ALL ")
        s"""WITH ${minhashPairCtes},
           |edges AS (
           |  SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION SELECT id_b, id_a FROM pairs),
           |s0 AS (SELECT DISTINCT src AS walk_id, src AS prev,
           |         src AS node FROM edges),
           |$steps
           |SELECT walk_id, CAST(0 AS BIGINT) AS step, node FROM s0
           |UNION ALL $rows
           |ORDER BY walk_id, step""".stripMargin
      }),

    Q("graph_linkpred",
      "Link prediction over the co-purchase graph (parts sharing an " +
        "order — the near-dup graph is a perfect matching on the " +
        "fixtures, wedge-free by construction): non-adjacent pairs at " +
        "distance 2 ranked by common neighbors, neighborhood Jaccard, " +
        "and the Resource Allocation index (Zhou-Lu-Zhang) — banding " +
        "miss recovery and the classic co-occurrence recommender in " +
        "one operator. RA terms are floor(1e12/deg_w) in INTEGER " +
        "division (order-independent exact sums; Adamic-Adar's " +
        "runtime-log terms are rejected by the exactness discipline). " +
        "Edge generation is per-order |items|^2 — bounded by basket " +
        "size, one orderkey exchange; wedges enumerate only through " +
        "centers with degree <= 64 — the df-cap discipline banding " +
        "already uses, semantic guard and quadratic-blowup guard at " +
        "once (fixture-measured: the cap keeps wedge volume ~2% of " +
        "the uncapped count); top-k is TakeOrderedAndProject.",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"))
        val pairs = li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("id_a"),
            col("b.l_partkey").as("id_b"))
        graft.ops.Graphs.linkPrediction(pairs, "id_a", "id_b")
      },
      Some(
        s"""WITH und AS (
           |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
           |    greatest(a.l_partkey, b.l_partkey) AS v
           |  FROM lineitem a JOIN lineitem b
           |    ON a.l_orderkey = b.l_orderkey
           |   AND a.l_partkey < b.l_partkey),
           |edges AS (SELECT u AS src, v AS dst FROM und
           |          UNION ALL SELECT v, u FROM und),
           |deg AS (SELECT src AS id, count(*) AS degree
           |        FROM edges GROUP BY src),
           |wedge AS (
           |  SELECT e1.dst AS u, e2.dst AS v, dc.degree AS dw
           |  FROM edges e1
           |  JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
           |  JOIN deg dc ON dc.id = e1.src
           |  WHERE dc.degree <= 64),
           |cand AS (
           |  SELECT u, v, CAST(count(*) AS BIGINT) AS cn,
           |    CAST(sum(1000000000000 // dw) AS BIGINT) AS ra_scaled
           |  FROM wedge GROUP BY u, v),
           |nonedge AS (
           |  SELECT c.* FROM cand c
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM und WHERE und.u = c.u AND und.v = c.v))
           |SELECT n.u AS id_a, n.v AS id_b, n.cn,
           |  du.degree AS deg_a, dv.degree AS deg_b,
           |  CAST(n.cn AS DOUBLE) /
           |    CAST(du.degree + dv.degree - n.cn AS DOUBLE) AS jaccard,
           |  n.ra_scaled
           |FROM nonedge n
           |JOIN deg du ON du.id = n.u
           |JOIN deg dv ON dv.id = n.v
           |ORDER BY n.ra_scaled DESC, n.cn DESC, id_a, id_b
           |LIMIT 50""".stripMargin)),

    Q("graph_modularity",
      "Per-community modularity decomposition (Newman & Girvan 2004) " +
        "of the LPA communities over the near-dup graph: size, intra-" +
        "community edges e_c, degree mass d_c, and the additive term " +
        "e_c/m - (d_c/2m)^2 whose sum is Newman's Q - kept per " +
        "community so the audit says WHICH duplicate families are " +
        "genuinely dense. The cached symmetric edge list is the only " +
        "data-sized relation (one degree count, two node-keyed label " +
        "joins); every term input is an exact integer, so the oracle " +
        "replays the doubles bit-for-bit on top of the unrolled LPA " +
        "rounds.",
      (s, d) => Graphs.modularity(
        Dedup.minhashCandidates(Tables.documents(s, d), "doc_id", "text",
          Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3),
        "id_a", "id_b", iters = LpaIters),
      Some(s"""WITH ${edgeCtes},
              |${lpaCtes},
              |labels AS MATERIALIZED (
              |  SELECT id, lbl AS community FROM l${LpaIters}),
              |deg AS (SELECT src AS id, count(*) AS d FROM edges
              |        GROUP BY src),
              |tot AS (SELECT count(*) AS L FROM edges),
              |ns AS (
              |  SELECT la.community, count(*) AS n_nodes,
              |    CAST(sum(d.d) AS BIGINT) AS degree_sum
              |  FROM labels la JOIN deg d ON d.id = la.id
              |  GROUP BY la.community),
              |intra AS (
              |  SELECT la.community, count(*) AS i2
              |  FROM edges e JOIN labels la ON la.id = e.src
              |       JOIN labels lb ON lb.id = e.dst
              |        AND lb.community = la.community
              |  GROUP BY la.community)
              |SELECT ns.community, ns.n_nodes,
              |  COALESCE(i.i2, 0) // 2 AS intra_edges,
              |  ns.degree_sum,
              |  CAST(COALESCE(i.i2, 0) AS DOUBLE) / CAST(t.L AS DOUBLE)
              |    - (CAST(ns.degree_sum AS DOUBLE) / CAST(t.L AS DOUBLE))
              |      * (CAST(ns.degree_sum AS DOUBLE) / CAST(t.L AS DOUBLE))
              |    AS modularity_term
              |FROM ns LEFT JOIN intra i ON i.community = ns.community
              |CROSS JOIN tot t
              |ORDER BY ns.community""".stripMargin)),

    Q("graph_assortativity",
      "Degree assortativity (Newman 2002) of the near-dup graph: the " +
        "Pearson correlation of endpoint degrees over the symmetric " +
        "edge list - positive = dense template families pair " +
        "internally, negative = hub-and-spoke canonical-doc structure. " +
        "Every moment accumulates exactly (DECIMAL(38,0) from staged " +
        "DECIMAL(18,0) degrees; HUGEINT in the oracle), and the " +
        "Pearson assembly is ONE fixed double expression - two " +
        "correctly-rounded sqrts, one division. One degree count, two " +
        "node-keyed joins, one 6-cell map-side-combined aggregate.",
      (s, d) => Graphs.assortativity(
        Dedup.minhashCandidates(Tables.documents(s, d), "doc_id", "text",
          Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3),
        "id_a", "id_b"),
      Some(s"""WITH ${edgeCtes},
              |deg AS (SELECT src AS id, count(*) AS d FROM edges
              |        GROUP BY src),
              |ed AS (
              |  SELECT dx.d AS x, dy.d AS y
              |  FROM edges e JOIN deg dx ON dx.id = e.src
              |       JOIN deg dy ON dy.id = e.dst),
              |m AS (
              |  SELECT count(*) AS l,
              |    sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
              |    sum(x::HUGEINT * y::HUGEINT) AS sxy,
              |    sum(x::HUGEINT * x::HUGEINT) AS sxx,
              |    sum(y::HUGEINT * y::HUGEINT) AS syy
              |  FROM ed),
              |nn AS (SELECT count(*) AS n_nodes FROM deg)
              |SELECT nn.n_nodes, m.l // 2 AS m_edges,
              |  CASE WHEN (m.l::HUGEINT * sxx - sx * sx) > 0
              |        AND (m.l::HUGEINT * syy - sy * sy) > 0
              |    THEN CAST(m.l::HUGEINT * sxy - sx * sy AS DOUBLE) /
              |      (sqrt(CAST(m.l::HUGEINT * sxx - sx * sx AS DOUBLE)) *
              |       sqrt(CAST(m.l::HUGEINT * syy - sy * sy AS DOUBLE)))
              |    ELSE NULL END AS assortativity
              |FROM m, nn""".stripMargin)),

    Q("graph_degree_dist",
      "Degree distribution of the near-dup graph - the one-page shape " +
        "readout next to graph_assortativity's one number: nodes per " +
        "degree and their share (one division per degrees-sized row). " +
        "Heavy-tailed = hub/boilerplate structure, concentrated = " +
        "uniform duplicate families. One degree count + one tiny " +
        "regroup.",
      (s, d) => Graphs.degreeDistribution(
        Dedup.minhashCandidates(Tables.documents(s, d), "doc_id", "text",
          Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3),
        "id_a", "id_b"),
      Some(s"""WITH ${edgeCtes},
              |deg AS (SELECT src, count(*) AS d FROM edges
              |        GROUP BY src),
              |dist AS (SELECT d AS degree, count(*) AS n_nodes
              |         FROM deg GROUP BY d),
              |tot AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS t
              |        FROM dist)
              |SELECT degree, n_nodes,
              |  CAST(n_nodes AS DOUBLE) / CAST(t AS DOUBLE) AS share
              |FROM dist, tot ORDER BY degree""".stripMargin))
  )
}
