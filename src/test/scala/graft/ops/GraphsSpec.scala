package graft.ops

import graft.SparkSpec

class GraphsSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: star center dominates; mass conserved; symmetric " +
      "pair ranks equal") {
    // star 1-2, 1-3, 1-4 plus an isolated pair 5-6
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L))
      .toDF("id_a", "id_b")
    val r = Graphs.pageRank(pairs, "id_a", "id_b", damping = 0.85,
        iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.size == 6)
    // the star center collects three leaves' full mass each round
    assert(r(1L) > r(2L) && r(1L) > r(5L))
    // leaves are symmetric
    assert(r(2L) == r(3L) && r(3L) == r(4L))
    assert(r(5L) == r(6L))
    // total mass stays ~1 (no dangling nodes in a symmetrized graph)
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("pageRank: a 2-regular ring is already stationary — ranks stay " +
      "uniform at every iteration count") {
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    for (it <- Seq(1, 4)) {
      val r = Graphs.pageRank(ring, "a", "b", damping = 0.85, iters = it)
        .collect().map(_.getDouble(1))
      assert(r.forall(v => math.abs(v - 1.0 / 3) < 1e-12),
        s"ring must stay uniform at iters=$it: ${r.toList}")
    }
  }

  test("personalizedPageRank: mass concentrates at the seed, " +
      "disconnected component stays exactly 0, total mass 1") {
    // path 1-2-3 (seed 1) plus an isolated pair 5-6
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val r = Graphs.personalizedPageRank(pairs, "a", "b", seed = 1L,
        damping = 0.85, iters = 4)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(5L) == 0.0 && r(6L) == 0.0, "unreachable nodes exactly 0")
    // the seed dominates; 2 and 3 need not order by distance (degree
    // effects: 2 splits its mass both ways, the path end keeps it)
    assert(r(1L) > r(2L) && r(1L) > r(3L),
      s"the seed outranks the rest: $r")
    assert(r(2L) > 0 && r(3L) > 0, "reachable nodes get mass")
    assert(math.abs(r.values.sum - 1.0) < 1e-9,
      "teleport-to-seed preserves total mass")
  }

  test("triangles: K4 minus an edge — per-vertex counts and LCC") {
    // K4 on 1..4 without edge (3,4): triangles {1,2,3} and {1,2,4}
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("a", "b")
    val r = Graphs.triangles(pairs, "a", "b").collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3))))
      .toMap
    assert(r(1L) == ((3L, 2L, 2.0 * 2 / (3 * 2))))
    assert(r(2L) == ((3L, 2L, 2.0 * 2 / (3 * 2))))
    assert(r(3L) == ((2L, 1L, 1.0)))
    assert(r(4L) == ((2L, 1L, 1.0)))
  }

  test("triangles: star has none; duplicate/reversed/self edges collapse") {
    // star 1-2..5 with noisy input: dup edges, both orientations, a loop
    val pairs = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 3L), (1L, 4L),
        (1L, 5L), (3L, 3L))
      .toDF("a", "b")
    val r = Graphs.triangles(pairs, "a", "b").collect()
    assert(r.forall(_.getLong(2) == 0L), "a star graph has no triangles")
    val byId = r.map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(byId(1L) == 4L && byId(2L) == 1L, s"degrees dedup: $byId")
    assert(r.forall(_.getDouble(3) == 0.0))
  }

  test("triangles: clique count matches C(n,3) per vertex C(n-1,2)") {
    val n = 7
    val pairs = (for (i <- 1 to n; j <- i + 1 to n) yield (i.toLong, j.toLong))
      .toDF("a", "b")
    val r = Graphs.triangles(pairs, "a", "b").collect()
    val per = (n - 1) * (n - 2) / 2
    assert(r.length == n)
    assert(r.forall(x => x.getLong(2) == per && x.getDouble(3) == 1.0),
      s"K$n: every vertex in C(${n - 1},2)=$per triangles with LCC 1")
  }

  test("labelPropagation: two triangles bridged by one edge split into " +
      "two communities where connected components would weld them") {
    // triangle {1,2,3}, triangle {4,5,6}, bridge 3-4 — ONE component
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
        (5L, 6L), (3L, 4L))
      .toDF("a", "b")
    val r = Graphs.labelPropagation(pairs, "a", "b", iters = 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.size == 6)
    // hand-unrolled synchronous plurality/min-tie dynamics converge to
    // community 1 on the left triangle, 3 on the right
    assert(r(1L) == r(2L) && r(2L) == r(3L), s"left triangle united: $r")
    assert(r(4L) == r(5L) && r(5L) == r(6L), s"right triangle united: $r")
    assert(r(1L) != r(4L),
      s"the bridge must NOT weld the triangles into one community: $r")
  }

  test("labelPropagation: a clique agrees on its minimum id") {
    val pairs = (for (i <- 1 to 5; j <- i + 1 to 5) yield (i.toLong, j.toLong))
      .toDF("a", "b")
    val r = Graphs.labelPropagation(pairs, "a", "b", iters = 3)
      .collect().map(_.getLong(1))
    assert(r.forall(_ == 1L), s"K5 converges to min label: ${r.toList}")
  }

  test("kCore: chain tail peels one node per round (the early-exit " +
      "loop), the triangle survives as the 2-core") {
    // triangle {1,2,3} with a chain tail 3-4-5-6: peeling removes
    // 6, then 5, then 4 — three shrinking rounds before the fixpoint
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
        (5L, 6L))
      .toDF("a", "b")
    val (core, loop) = Graphs.kCoreWithRounds(pairs, "a", "b", k = 2,
      maxRounds = 16)
    val r = core.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"2-core is exactly the triangle with in-core degree 2: $r")
    // three shrinking rounds, then the round that removes nothing
    assert(loop.rounds == 4 && loop.converged, loop)
  }

  test("kCore: k above the densest degree yields an empty core; " +
      "insufficient maxRounds hard-fails instead of returning a " +
      "non-fixpoint") {
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b")
    assert(Graphs.kCore(tri, "a", "b", k = 3).count() == 0,
      "a triangle has no 3-core")
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
        (6L, 7L), (7L, 8L)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      Graphs.kCore(chain, "a", "b", k = 2, maxRounds = 2)
    }
  }

  test("bfsLandmarks: hop-bounded distances with (dist, seed) " +
      "tie-break; nodes beyond the ball are absent") {
    // path 1-2-3-4-5-6-7, seeds = two smallest ids {1, 2}, 2 hops
    val pairs = (1L to 6L).map(i => (i, i + 1)).toDF("a", "b")
    val r = Graphs.bfsLandmarks(pairs, "a", "b", numSeeds = 2, maxHops = 2)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2))))
      .toMap
    // node 1 is itself a seed; node 2 likewise (0 beats the 1-hop path
    // from seed 1); 3 reaches seed 2 in one hop; 4 in two; 5+ absent
    assert(r == Map(1L -> ((0L, 1L)), 2L -> ((0L, 2L)),
      3L -> ((1L, 2L)), 4L -> ((2L, 2L))), s"got $r")
  }

  test("deterministicWalks: successor is the min-md5 neighbor, walks " +
      "have fixed length, never leave their component, and re-run " +
      "bit-identically") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val len = 3
    val got = Graphs.deterministicWalks(pairs, "id_a", "id_b", len)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // replay driver-side with the same keyed hash
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val adj = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L),
      10L -> Seq(11L), 11L -> Seq(10L))
    val expected = adj.keys.toSeq.flatMap { start =>
      var cur = start
      val steps = (0L, start) +: (1 to len).map { k =>
        cur = adj(cur).minBy(d => md5hex(s"$start:$k:$d"))
        (k.toLong, cur)
      }
      steps.map { case (step, node) => (start, step, node) }
    }.toSet
    assert(got.length == adj.size * (len + 1))
    assert(got.toSet == expected, s"got ${got.toSet}\nexp $expected")
    // components never mix: walks from {1,2,3} stay there, {10,11} there
    got.foreach { case (w, _, n) =>
      assert((w <= 3L) == (n <= 3L), s"walk $w left its component at $n") }
    val again = Graphs.deterministicWalks(pairs, "id_a", "id_b", len)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq == got.toSeq, "walks must be deterministic")
  }

  test("biasedWalks: successor maximizes the node2vec priority " +
      "(return/triangle/outward weights over the md5 uniform) — " +
      "driver replay matches exactly") {
    // path 1-2-3-4 plus triangle edge 2-4: from 3 with prev 2, node 2
    // weighs 1/p (return), 4 weighs 1 (triangle via 2-4), and from 4
    // with prev 3, node 5 weighs 1/q (outward)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val len = 3
    val (p, q) = (2.0, 0.5)
    val got = Graphs.biasedWalks(pairs, "id_a", "id_b", len, p, q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val adj = Map(1L -> Set(2L), 2L -> Set(1L, 3L, 4L),
      3L -> Set(2L, 4L), 4L -> Set(2L, 3L, 5L), 5L -> Set(4L))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def u(walk: Long, k: Int, d: Long): Double =
      (java.lang.Long.parseLong(
        md5hex(s"$walk:$k:$d").substring(0, 8), 16).toDouble + 1.0) /
        4294967296.0
    val expected = adj.keys.toSeq.flatMap { start =>
      var prev = start
      var cur = start
      val steps = (0L, start) +: (1 to len).map { k =>
        val next = adj(cur).toSeq.maxBy { d =>
          val wgt =
            if (d == prev) 1.0 / p
            else if (adj(prev).contains(d)) 1.0
            else 1.0 / q
          wgt / u(start, k, d)
        }
        prev = cur; cur = next
        (k.toLong, next)
      }
      steps.map { case (st, n) => (start, st, n) }
    }.toSet
    assert(got.toSet == expected,
      s"biased replay mismatch:\n${got.toSet}\nvs\n$expected")
  }

  test("linkPrediction: distance-2 non-adjacent pairs with exact " +
      "cn/jaccard/RA; adjacent pairs excluded") {
    // 1-2, 2-3, 3-4, 1-3: candidates are (1,4) and (2,4) through
    // center 3 (degree 3)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L))
      .toDF("id_a", "id_b")
    val got = Graphs.linkPrediction(pairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getLong(6)))
    val ra3 = 1000000000000L / 3L
    assert(got.toSeq == Seq(
      (1L, 4L, 1L, 2L, 1L, 0.5, ra3),
      (2L, 4L, 1L, 2L, 1L, 0.5, ra3)))
  }

  test("linkPrediction: square graph counts both wedge centers; " +
      "over-cap hubs contribute no wedges") {
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("id_a", "id_b")
    val got = Graphs.linkPrediction(square, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(5), r.getLong(6)))
    assert(got.toSeq == Seq(
      (1L, 3L, 2L, 1.0, 1000000000000L),
      (2L, 4L, 2L, 1.0, 1000000000000L)))
    // star with a 70-degree hub: every distance-2 pair goes through
    // the hub, which the cap excludes -> no predictions
    val star = (1L to 70L).map(i => (100L, i)).toDF("id_a", "id_b")
    assert(Graphs.linkPrediction(star, "id_a", "id_b").count() == 0L)
    // same star under a raised cap: all (i, j) pairs appear
    assert(Graphs.linkPrediction(star, "id_a", "id_b",
      maxCenterDegree = 70L, topK = 10000).count() == 70L * 69L / 2L)
  }

  test("modularity: two triangles bridged by one edge split into two " +
      "communities with hand-computed terms") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    val r = Graphs.modularity(pairs, "a", "b", iters = 4)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4))))
      .toMap
    // LPA(4 sync rounds, min tie-break) lands {1,2,3}->1, {4,5,6}->3;
    // m = 7, L = 14; each community: 3 intra edges, degree mass 7,
    // term = 6/14 - (7/14)^2 = 5/28
    assert(r.keySet === Set(1L, 3L))
    val expected = 6.0 / 14.0 - (7.0 / 14.0) * (7.0 / 14.0)
    for (c <- Seq(1L, 3L)) {
      val (n, intra, deg, term) = r(c)
      assert(n == 3L && intra == 3L && deg == 7L)
      assert(math.abs(term - expected) < 1e-15)
    }
  }

  test("modularity: a community with no internal edge reports " +
      "intra_edges 0 and a negative term (the coalesce path)") {
    import spark.implicits._
    // star 1-2, 1-3: LPA oscillation leaves {1} and {2,3}; community
    // {2,3} has no 2-3 edge
    val star = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val r = Graphs.modularity(star, "a", "b", iters = 4)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(4)))).toMap
    val zero = r.collectFirst { case (_, (2L, i, t)) => (i, t) }
    assert(zero.exists { case (i, t) => i == 0L && t < 0.0 },
      s"two-leaf community must carry 0 intra edges: $r")
    // terms still sum to Newman Q over all communities (here negative:
    // the labeling is worse than random for a star)
    assert(r.values.map(_._2).size == r.size)
  }

  test("assortativity: a star is perfectly disassortative (-1 exactly); " +
      "a 2-regular ring has zero degree variance (NULL)") {
    import spark.implicits._
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val r = Graphs.assortativity(star, "a", "b").collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 3L)
    // endpoints (3,1)/(1,3) only: num = 6*18 - 12*12 = -36, den = 36
    assert(r.getDouble(2) == -1.0)
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    val r2 = Graphs.assortativity(ring, "a", "b").collect().head
    assert(r2.isNullAt(2), "constant degrees -> undefined correlation")
  }

  test("degreeDistribution: star = one hub at degree 3, three leaves " +
      "at degree 1; shares sum to 1") {
    import spark.implicits._
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val r = Graphs.degreeDistribution(star, "a", "b")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2))))
      .toMap
    assert(r(1L) === ((3L, 0.75)) && r(3L) === ((1L, 0.25)))
  }
}
