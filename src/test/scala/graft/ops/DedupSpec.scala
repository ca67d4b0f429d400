package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("charShingles: distinct k-grams; short strings yield one shingle") {
    val got = Seq("abcde", "ab").toDF("t")
      .select(Dedup.charShingles($"t", 4).as("sh")).as[Seq[String]].collect()
    assert(got(0) == Seq("abcd", "bcde"))
    assert(got(1) == Seq("ab"))
  }

  test("exactDedup keeps the minimum-id row per key (deterministic survivor)") {
    val df = Seq((3L, "x"), (1L, "x"), (2L, "y")).toDF("id", "k")
    val out = Dedup.exactDedup(df, $"id", $"k").orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val groups = Dedup.exactDupGroups(df, $"id", $"k").collect()
    assert(groups.length == 1 &&
      groups(0).getAs[Long]("keep_id") == 1L &&
      groups(0).getAs[Long]("group_size") == 2L)
  }

  test("newAgainstHistory equals the plain anti-join (BF has no false negatives)") {
    val history = Seq((1L, "aaa"), (2L, "bbb"), (3L, "ccc")).toDF("id", "fp")
    val incoming = Seq((10L, "aaa"), (11L, "new1"), (12L, "ccc"), (13L, "new2"))
      .toDF("id", "fp")
    val got = Dedup.newAgainstHistory(incoming, history, "fp", expectedItems = 100)
      .select("id").as[Long].collect().toSet
    val want = incoming.join(history.select("fp"), Seq("fp"), "left_anti")
      .select("id").as[Long].collect().toSet
    assert(got == want && got == Set(11L, 13L))
    // undersized-filter stress: high fpp floods the exact-check path,
    // the result stays exact
    val sloppy = Dedup.newAgainstHistory(incoming, history, "fp",
      expectedItems = 2, fpp = 0.5).select("id").as[Long].collect().toSet
    assert(sloppy == want)
  }

  test("newAgainstHistory honors a Bloom size beyond the session cap " +
      "during the build and restores the ceilings (no conf leak)") {
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val (bits0, items0) = (spark.conf.get(bitsKey), spark.conf.get(itemsKey))
    val history = Seq((1L, "aaa")).toDF("id", "fp")
    // 20M items at 1% needs ~1.9e8 bits — 2.9x the 64M-bit default cap
    // BloomFilterAggregate would silently Math.min down to. The returned
    // filter's byte size pins that the REQUEST was honored (a capped
    // build would come back ~8 MB; correctness alone can't tell, the
    // exact anti-join always cleans up false positives).
    val bf = Dedup.buildHistoryBloom(history, "fp",
      expectedItems = 20000000L, fpp = 0.01)
    assert(bf.length.toLong * 8 >= 190000000L,
      s"filter built below the requested size: ${bf.length} bytes")
    assert(spark.conf.get(bitsKey) == bits0, "maxNumBits leaked")
    assert(spark.conf.get(itemsKey) == items0, "maxNumItems leaked")
    // the op end-to-end stays exact
    val incoming = Seq((10L, "new"), (11L, "aaa")).toDF("id", "fp")
    val got = Dedup.newAgainstHistory(incoming, history, "fp",
      expectedItems = 20000000L, fpp = 0.01).select("id").as[Long].collect()
    assert(got.toSet == Set(10L))
  }

  test("newAgainstHistory probes with the native Bloom expression (no UDF) " +
    "and survives an empty history") {
    val history = Seq((1L, "aaa"), (2L, "bbb")).toDF("id", "fp")
    val incoming = Seq((10L, "aaa"), (11L, "new1")).toDF("id", "fp")
    val out = Dedup.newAgainstHistory(incoming, history, "fp", expectedItems = 100)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"Bloom probe left codegen:\n$plan")
    // the probe column may sit inside a cached relation in the physical
    // plan; the analyzed plan always shows the expression itself
    val analyzed = out.queryExecution.analyzed.toString
    assert(analyzed.contains("might_contain"),
      s"native Bloom probe missing:\n$analyzed")
    assert(out.select("id").as[Long].collect().toSet == Set(11L))
    // empty history: the Bloom aggregate yields NULL — everything is new,
    // not silently dropped
    val empty = history.filter(lit(false))
    val all = Dedup.newAgainstHistory(incoming, empty, "fp", expectedItems = 100)
      .select("id").as[Long].collect().toSet
    assert(all == Set(10L, 11L))
  }

  test("minhashCandidates surfaces a planted near-dup, skips unrelated docs") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = base + " tokTail" // J = 56/62 on word-5-gram space
    val other = (200 to 260).map(i => s"zz$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(df, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("shared-signature fold: minhashCandidatesFromSig over a filtered " +
      "signature slice equals minhashCandidates over the filtered corpus") {
    // the dedup_cluster_incremental rewrite's contract: sig is per-doc,
    // so filtering signatures ≡ filtering docs, while the band-df guard
    // is recomputed per slice by minhashCandidatesFromSig
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = base + " tokTail"
    val other = (200 to 260).map(i => s"zz$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other),
      (10L, base + " x"), (11L, nearDup + " x")).toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "bands_matched")
        .as[(Long, Long, Long)].collect().toSet
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text",
      Dedup.Shingler.words(5), numHashes = 6)
    val shared = canon(Dedup.minhashCandidatesFromSig(
      sig.filter(col("doc_id") < 10), "doc_id", bandsN = 2, rowsPerBand = 3))
    val direct = canon(Dedup.minhashCandidates(
      docs.filter(col("doc_id") < 10), "doc_id", "text",
      Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3))
    assert(shared == direct)
    // and the unfiltered paths agree too (pure refactor)
    assert(canon(Dedup.minhashCandidatesFromSig(sig, "doc_id", 2, 3)) ==
      canon(Dedup.minhashCandidates(docs, "doc_id", "text",
        Dedup.Shingler.words(5), 2, 3)))
  }

  test("maxBandDf: a mass-duplicate block chains instead of going quadratic; " +
    "non-degenerate recall unchanged") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = base + " tokTail"
    val other = (200 to 260).map(i => s"zz$i").mkString(" ")
    val normal = Seq((1L, base), (2L, nearDup), (3L, other))
    val boiler = "mass duplicated boilerplate text block repeated verbatim " +
      "across the whole degenerate corpus slice"
    val degenerate = (1000L until 2000L).map(i => (i, boiler))
    val df = (normal ++ degenerate).toDF("doc_id", "text")

    val pairs = Dedup.minhashCandidates(df, "doc_id", "text", maxBandDf = 256)
      .collect()
    // degenerate block: the id-ordered chain (999 pairs, both bands), NOT
    // the 499,500-pair quadratic blowup
    val degen = pairs.filter(_.getAs[Long]("id_a") >= 1000L)
    assert(degen.length == 999)
    assert(degen.forall(r => r.getAs[Long]("id_b") == r.getAs[Long]("id_a") + 1))
    assert(degen.forall(_.getAs[Long]("bands_matched") == 2L))
    // chain preserves connectivity: one component spanning all 1000 ids
    val cc = Dedup.connectedComponents(
      degen.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
        .toIndexedSeq.toDF("id_a", "id_b"), "id_a", "id_b")
    assert(cc.select("label").distinct().count() == 1L)
    // recall on the non-degenerate docs is exactly the uncapped candidate set
    val capped = pairs.filter(_.getAs[Long]("id_a") < 1000L)
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val uncapped = Dedup.minhashCandidates(normal.toDF("doc_id", "text"),
        "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == uncapped && capped.contains((1L, 2L)))
  }

  test("minhashSignature (array form) agrees with minhashCandidates' agg form") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val viaArray = df.select(
      Dedup.minhashSignature($"text", Dedup.charShingles(_, 12), 12): _*).collect()(0)
    val sh = df.select($"doc_id", explode(Dedup.charShingles($"text", 12)).as("s"))
      .withColumn("h1", md5($"s")).withColumn("h2", md5(concat(lit("x"), $"s")))
    val viaAgg = sh.groupBy($"doc_id").agg(
      min(substring($"h1", 1, 5)).as("mh0"),
      min(substring($"h2", 1, 5)).as("mh6")).collect()(0)
    assert(viaArray.getAs[String]("mh0") == viaAgg.getAs[String]("mh0"))
    assert(viaArray.getAs[String]("mh6") == viaAgg.getAs[String]("mh6"))
  }

  test("jaccardPairs computes exact jaccard on unsampled shingles") {
    // identical docs -> jaccard 1.0
    val df = Seq((1L, "abcdefghijklmnop"), (2L, "abcdefghijklmnop"),
      (3L, "qqqqqqqqqqqqqqqq")).toDF("doc_id", "text")
    val out = Dedup.jaccardPairs(df, "doc_id", "text", Dedup.Shingler.chars(8),
      threshold = 0.9, maxShingleDf = 64, sampleHex = 16).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("id_a") == 1L && out(0).getAs[Long]("id_b") == 2L)
    assert(out(0).getAs[Double]("jaccard") == 1.0)
  }

  test("containmentPairs: a short doc inside a long one scores 1.0 " +
      "where Jaccard stays low; direction points contained -> container") {
    // doc 2's whole text is a substring of doc 1: every word 3-gram of
    // 2 appears in 1, but 1 has many more shingles
    val big = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val small = "delta epsilon zeta eta theta"
    val df = Seq((1L, big), (2L, small), (3L, "totally unrelated words here"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(df, "doc_id", "text",
      Dedup.Shingler.words(3), threshold = 0.9, maxShingleDf = 64).collect()
    assert(cont.length == 1)
    assert(cont(0).getAs[Long]("contained") == 2L &&
      cont(0).getAs[Long]("container") == 1L)
    assert(cont(0).getAs[Double]("containment") == 1.0)
    // the same pair stays below a symmetric-Jaccard near-dup bar
    val jac = Dedup.jaccardPairs(df, "doc_id", "text",
      Dedup.Shingler.words(3), threshold = 0.5, maxShingleDf = 64).collect()
    assert(jac.isEmpty, "containment must catch what Jaccard misses")
  }

  test("minhashCandidatesSweep: each configuration equals the " +
      "standalone operator at that configuration") {
    val docs = graft.core.Tables.documents(spark, graft.SparkSpec.Sf0001)
    val sweep = Dedup.minhashCandidatesSweep(docs, "doc_id", "text",
      Dedup.Shingler.words(5), Seq((1, 6), (2, 3)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    for ((bn, rpb) <- Seq((1, 6), (2, 3))) {
      val standalone = rows(Dedup.minhashCandidates(docs, "doc_id", "text",
        Dedup.Shingler.words(5), bandsN = bn, rowsPerBand = rpb)
        .select("id_a", "id_b", "bands_matched"))
      val fromSweep = rows(sweep
        .filter(col("bands_n") === bn && col("rows_per_band") === rpb)
        .select("id_a", "id_b", "bands_matched"))
      assert(fromSweep == standalone, s"config ($bn, $rpb)")
    }
  }

  test("survivorsByScore keeps the best-quality row per cluster, ties to " +
      "the lowest id — not the min-id default") {
    import org.apache.spark.sql.functions.col
    // clusters {1,2,3} and {10,11}; scores make 2 win the first cluster
    // and 10/11 tie (lowest id 10 must win)
    val cc = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "label")
    val docs = Seq((1L, 0.2), (2L, 0.9), (3L, 0.5), (10L, 0.7), (11L, 0.7))
      .toDF("doc_id", "q")
    val got = Dedup.survivorsByScore(cc, docs, "doc_id", col("q"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> false,
      10L -> true, 11L -> false))
  }

  test("dedupLines drops cross-doc boilerplate, keeps in-doc repetition and order") {
    val df = Seq(
      (1L, "COOKIE BANNER\nbody one\nbody one\nFOOTER"),
      (2L, "COOKIE BANNER\nbody two\nFOOTER"),
      (3L, "unique document\nno boilerplate here")).toDF("doc_id", "text")
    val out = Dedup.dedupLines(df, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    // banner+footer appear in 2 distinct docs -> removed everywhere;
    // "body one" repeats only WITHIN doc 1 -> both copies stay, in order
    assert(out(0) == ((1L, "body one\nbody one", 2L)))
    assert(out(1) == ((2L, "body two", 2L)))
    assert(out(2) == ((3L, "unique document\nno boilerplate here", 0L)))
  }

  test("dedupLines: CRLF boilerplate matches its LF twin (a CRLF doc's " +
      "lines would otherwise carry a hidden \\r and never dedupe)") {
    val df = Seq(
      (1L, "COOKIE BANNER\r\nbody one\r\nFOOTER"), // CRLF document
      (2L, "COOKIE BANNER\nbody two\nFOOTER")      // LF document
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(df, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out(0) == ((1L, "body one", 2L)))
    assert(out(1) == ((2L, "body two", 2L)))
  }

  test("dedupLines: blank lines are never boilerplate (paragraph separators survive)") {
    // "" appears in all 3 docs — without the length exemption every
    // paragraph break in the corpus would be stripped as boilerplate
    val df = Seq(
      (1L, "para one\n\npara two"),
      (2L, "different first\n\ndifferent second"),
      (3L, "third intro\n\nthird body")).toDF("doc_id", "text")
    val out = Dedup.dedupLines(df, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out(0) == ((1L, "para one\n\npara two", 0L)))
    assert(out(1) == ((2L, "different first\n\ndifferent second", 0L)))
    assert(out(2) == ((3L, "third intro\n\nthird body", 0L)))
  }

  test("dedupSpans: a shared 60-word passage is removed from the later doc " +
    "only; unique text and short overlaps survive") {
    val passage = (1 to 60).map(i => s"shared$i").mkString(" ")
    val doc1 = s"intro one two three $passage outro alpha beta"
    val doc2 = s"different opening words here $passage closing tail text"
    val doc3 = "totally unrelated document with its own words entirely"
    val df = Seq((1L, doc1), (2L, doc2), (3L, doc3)).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(df, "doc_id", "text", k = 8)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    // doc 1 is the survivor: untouched
    assert(out(0) == ((1L, doc1, 0L)))
    // doc 2 loses exactly the 60 shared words, keeps its own frame
    assert(out(1) == ((2L,
      "different opening words here closing tail text", 60L)))
    // doc 3: no cross-doc 8-gram, untouched
    assert(out(2) == ((3L, doc3, 0L)))
  }

  test("dedupSpans: spans shorter than k survive; identical docs empty the later one") {
    val seven = (1 to 7).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, s"$seven padding1 x1 y1 z1"),
      (2L, s"$seven padding2 x2 y2 z2"), // shares only 7 words: below k=8
      (10L, "dup doc full match one two three four five six"),
      (11L, "dup doc full match one two three four five six")).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(df, "doc_id", "text", k = 8)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out(0)._3 == 0L && out(1)._3 == 0L) // sub-k overlap kept
    assert(out(2) == ((10L, "dup doc full match one two three four five six", 0L)))
    assert(out(3) == ((11L, "", 10L))) // exact dup: later doc fully removed
  }

  test("dedupLines: a fully-boilerplate doc survives as an empty row") {
    val df = Seq(
      (1L, "SAME\nSAME"), (2L, "SAME"), (3L, "other text")).toDF("doc_id", "text")
    val out = Dedup.dedupLines(df, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out(0) == ((1L, "", 2L)))
    assert(out(1) == ((2L, "", 1L)))
    assert(out(2) == ((3L, "other text", 0L)))
    assert(out.length == 3)
  }

  test("simhash16: deterministic, 16-bit range, identical texts collide") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "totally different words here")).toDF("doc_id", "text")
    val out = Dedup.simhash16(df, "doc_id", "text").orderBy("doc_id").collect()
    val h = out.map(_.getAs[Long]("simhash"))
    assert(h(0) == h(1))
    assert(h.forall(v => v >= 0 && v < 65536))
    val pairs = Dedup.simhashPairs(
      Dedup.simhash16(df, "doc_id", "text"), "doc_id", maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhashPairs pigeonhole banding: recall equals brute force at maxHamming=3") {
    val sigs = Seq( // crafted signatures with known pairwise hammings
      (1L, 0x0F0FL), (2L, 0x0F0EL), (3L, 0x0F00L), (4L, 0xF0F0L))
      .toDF("doc_id", "simhash")
    val banded = Dedup.simhashPairs(sigs, "doc_id", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    val brute = sigs.as("a").join(sigs.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).cast("long"))
      .as[(Long, Long, Long)].collect().filter(_._3 <= 3).toSet
    assert(banded == brute)
    assert(brute.contains((1L, 2L, 1L)))    // hamming 1
    assert(!brute.exists(p => p._2 == 4L))  // 4 is far from everything
  }

  test("embeddingNearDups: identical vectors cos=1, cross-block pairs skipped") {
    val v = Seq(1.0f, 2.0f, 3.0f)
    val w = Seq(-3.0f, 2.0f, -1.0f)
    val df = Seq((1L, v, 0), (2L, v, 0), (3L, w, 0), (4L, v, 1))
      .toDF("vec_id", "embedding", "label")
    val out = Dedup.embeddingNearDups(df, "vec_id", "embedding", "label", 0.99)
      .collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("id_a") == 1L && out(0).getAs[Long]("id_b") == 2L)
    assert(math.abs(out(0).getAs[Double]("cos_sim") - 1.0) < 1e-12)
  }

  test("embeddingNearDups: a zero-norm vector is dropped, never a " +
      "DIVIDE_BY_ZERO that kills the job") {
    // ANSI-mode regression guard: cosine against a zero vector is 0/0,
    // which Spark 4 ANSI raises as DIVIDE_BY_ZERO for doubles too — at
    // 100 TB one degenerate embedding row must not abort the dedup run.
    val v = Seq(1.0f, 2.0f, 3.0f)
    val z = Seq(0.0f, 0.0f, 0.0f)
    val df = Seq((1L, v, 0), (2L, v, 0), (3L, z, 0), (4L, z, 0))
      .toDF("vec_id", "embedding", "label")
    val out = Dedup.embeddingNearDups(df, "vec_id", "embedding", "label", 0.99)
      .collect()
    assert(out.length == 1, out.mkString(","))
    assert(out(0).getAs[Long]("id_a") == 1L && out(0).getAs[Long]("id_b") == 2L)
  }

  test("embeddingNearDups sub-blocking returns the identical pair set") {
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(8)(Seq.fill(4)(rnd.nextFloat()))
    // 40 vectors in 2 blocks, planted dups (same vector repeated)
    val rows = (0 until 40).map { i =>
      (i.toLong, base(i % 8).map(x => x + (i / 8) * 0.001f), i % 2)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    def run(b: Int) = Dedup.embeddingNearDups(df, "vec_id", "embedding",
        "label", 0.999, subBlocks = b)
      .select("id_a", "id_b").as[(Long, Long)].collect().sortBy(identity).toSeq
    val flat = run(1)
    assert(flat.nonEmpty)
    assert(run(3) == flat)
    assert(run(5) == flat)
  }

  test("connectedComponentsStar: chain, triangle, pair, star — labels match " +
    "pointer jumping; fewer rounds on the adversarial chain") {
    val edges = ((0L until 255L).map(i => (i, i + 1)) ++ // 256-node chain
      Seq((1000L, 1001L), (1001L, 1002L), (1000L, 1002L), // triangle
        (2000L, 2001L), // pair
        (3000L, 3001L), (3000L, 3002L), (3000L, 3003L))) // star
      .toDF("id_a", "id_b")
    val (starLabels, starLoop) =
      Dedup.connectedComponentsStarWithRounds(edges, "id_a", "id_b")
    val (pjLabels, pjLoop) =
      Dedup.connectedComponentsWithRounds(edges, "id_a", "id_b", maxIter = 30)
    val (starRounds, pjRounds) = (starLoop.rounds, pjLoop.rounds)
    val star = starLabels.orderBy("id").as[(Long, Long)].collect().toSeq
    assert(star == pjLabels.orderBy("id").as[(Long, Long)].collect().toSeq)
    // component minima are the labels
    assert(star.filter(_._1 <= 255L).forall(_._2 == 0L))
    assert(star.filter(p => p._1 >= 3000L).forall(_._2 == 3000L))
    // the point of the variant: fewer synchronization barriers on a long
    // chain (each round quadruples distance-to-min reach vs PJ's ~2x)
    assert(starRounds < pjRounds,
      s"star=$starRounds rounds, pointer-jumping=$pjRounds")
  }

  test("connectedComponentsStar strict mode raises on a forced round cap; " +
    "default still emits the coarser (valid) labeling") {
    // a long chain cannot converge (stable edge signature) in 1 round
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsStar(chain, "id_a", "id_b",
        maxIter = 1, strict = true).collect()
    }
    assert(e.getMessage.contains("no convergence"))
    // default (non-strict) on the same cap: one row per id, labels are a
    // valid (possibly coarser) merge — every label <= its id
    val lax = Dedup.connectedComponentsStar(chain, "id_a", "id_b", maxIter = 1)
      .as[(Long, Long)].collect().toSeq
    assert(lax.length == 65 && lax.forall(p => p._2 <= p._1))
    // an easy graph converges under the cap: strict must stay silent
    val pair = Seq((7L, 9L)).toDF("id_a", "id_b")
    val ok = Dedup.connectedComponentsStar(pair, "id_a", "id_b",
      maxIter = 5, strict = true).as[(Long, Long)].collect().toSeq
    assert(ok.sortBy(_._1) == Seq(7L -> 7L, 9L -> 7L))
  }

  test("connectedComponents at its round cap reports converged = false " +
    "and still emits one row per id") {
    // a 64-node chain needs several pointer-jumping rounds; one is not enough
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, loop) =
      Dedup.connectedComponentsWithRounds(chain, "id_a", "id_b", maxIter = 1)
    assert(loop.rounds == 1 && !loop.converged)
    val rows = labels.as[(Long, Long)].collect().toSeq
    assert(rows.length == 64 && rows.map(_._1).distinct.length == 64)
    assert(rows.forall(p => p._2 <= p._1))
    // the same chain converges under the default cap
    val (_, full) = Dedup.connectedComponentsWithRounds(chain, "id_a", "id_b")
    assert(full.converged && full.rounds > 1)
    // an empty edge list is a fixed point at once (equal null sums), not
    // a run to the cap
    val (none, empty) = Dedup.connectedComponentsWithRounds(
      chain.filter(lit(false)), "id_a", "id_b")
    assert(empty.converged && empty.rounds == 2 && none.count() == 0)
  }

  test("connectedComponents: chain, triangle, pair each collapse to min id") {
    // chain 1-2-3-4-5 (diameter 4 -> multiple propagation rounds),
    // triangle 10-11-12 with a redundant edge, isolated pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents respects maxIter as an upper bound only") {
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b", maxIter = 1)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L)) // single edge closes in 1 round
  }

  test("ppjoinPairs: exact rational threshold arithmetic - the J = 0.55 " +
      "borderline pair survives where binary-double ceil(0.55*20) = 12 " +
      "would shorten the prefix AND fail the size filter") {
    // A = 11 shared words; B = the same 11 plus 9 unique. J = 11/20 =
    // 0.55 exactly. B's unique words have df=1 and sort FIRST, so B's
    // correct prefix (20 - ceil(11) + 1 = 10) ends exactly on the first
    // shared word - one misrounded ceil (11.000000000000002 -> 12) and
    // the pair has no co-prefix shingle; the size filter 20*0.55 <= 11
    // misrounds the same way. Both must be exact.
    val shared = (1 to 11).map(i => f"s$i%02d")
    val uniq = (1 to 9).map(i => f"u$i%02d")
    val docs = Seq(
      (1L, shared.mkString(" ")),
      (2L, (shared ++ uniq).mkString(" "))).toDF("id", "text")
    val rows = Dedup.ppjoinPairs(docs, "id", "text",
      Dedup.Shingler.words(1), threshold = 0.55).collect()
    assert(rows.length == 1, s"borderline pair pruned: ${rows.toSeq}")
    val r = rows.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L && r.getLong(2) == 11L)
    assert(r.getDouble(3) == 0.55)
  }

  test("ppjoinPairs at the exact threshold still agrees with jaccardPairs " +
      "on the fixture corpus (threshold 0.55, both exact methods)") {
    val docs = graft.core.Tables.documents(spark, graft.SparkSpec.Sf0001)
      .select(col("doc_id").as("id"), col("text"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "n_common").as[(Long, Long, Long)]
        .collect().sortBy(t => (t._1, t._2)).toSeq
    val pp = canon(Dedup.ppjoinPairs(docs, "id", "text",
      Dedup.Shingler.words(3), threshold = 0.55))
    // uncapped jaccardPairs (maxShingleDf large) = ground truth
    val jc = canon(Dedup.jaccardPairs(docs, "id", "text",
      Dedup.Shingler.words(3), threshold = 0.55,
      maxShingleDf = Int.MaxValue, sampleHex = 16))
    assert(pp == jc, s"ppjoin ${pp.size} pairs vs jaccard ${jc.size}")
  }

  test("band index at rest: build/append/delete/compact/vacuum serve " +
      "rebuild-identical candidates; crashed batches and compactions " +
      "stay invisible; same-id retry heals") {
    val docs = graft.core.Tables.documents(spark, graft.SparkSpec.Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_band_idx")
      .toString + "/idx"
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "bands_matched").as[(Long, Long, Long)]
        .collect().sortBy(t => (t._1, t._2)).toSeq
    def served = canon(Dedup.bandIndexCandidates(spark, dir, "doc_id"))
    def rebuild(d: org.apache.spark.sql.DataFrame) =
      canon(Dedup.minhashCandidates(d, "doc_id", "text",
        Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3))
    Dedup.writeBandIndex(docs.filter($"doc_id" % 4 =!= 1),
      "doc_id", "text", dir)
    val baseOnly = served
    assert(baseOnly == rebuild(docs.filter($"doc_id" % 4 =!= 1)),
      "base build must equal a direct banding run")
    Dedup.appendToBandIndex(docs.filter($"doc_id" % 4 === 1),
      "doc_id", "text", dir, batchId = 1L)
    val full = served
    assert(full == rebuild(docs), "append must serve like a union rebuild")
    // crash: appended data durable, marker gone -> invisible; retry heals
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir + "/commits/batch_1"), false)
    assert(served == baseOnly, "unmarked band batch must not serve")
    Dedup.appendToBandIndex(docs.filter($"doc_id" % 4 === 1),
      "doc_id", "text", dir, batchId = 1L)
    assert(served == full)
    // delete: candidates = rebuild over survivors (df window shifts too)
    Dedup.deleteFromBandIndex(
      docs.filter($"doc_id" % 17 === 3).select("doc_id"), "doc_id", dir,
      batchId = 2L)
    val afterDel = served
    assert(afterDel == rebuild(docs.filter($"doc_id" % 17 =!= 3)),
      "tombstoned serve must equal rebuild over survivors")
    // compaction crash before the supersede rename: old state served
    Dedup.compactBandIndex(spark, dir, "doc_id", newBatchId = 3L)
    fs.delete(new org.apache.hadoop.fs.Path(dir + "/commits/compact_3"),
      false)
    assert(served == afterDel, "uncommitted compaction must be invisible")
    Dedup.compactBandIndex(spark, dir, "doc_id", newBatchId = 3L)
    assert(Dedup.vacuumBandIndex(spark, dir) == 3)
    assert(served == afterDel,
      "compaction + vacuum must not change served candidates")
  }

  test("simhashPairs maxChunkDf guard: oversized identical-signature " +
      "groups degrade to the id-ordered chain with unchanged connected " +
      "components; exact mode below the cap is untouched") {
    // 30 identical signatures (a mass-duplicate block) + one distinct
    val sig = ((0L until 30L).map(i => (i, 0x0f0f0f0fL)) :+
      (100L, 0x70f0f0f0L)).toDF("id", "simhash")
    val exact = Dedup.simhashPairs(sig, "id", maxHamming = 3, bits = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size >= 30 * 29 / 2, "exact mode emits all pairs")
    val capped = Dedup.simhashPairs(sig, "id", maxHamming = 3, bits = 64,
      maxChunkDf = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped.size < exact.size, "cap must shrink the pair set")
    // same components: both connect 0..29 into one cluster
    def comps(pairs: Set[(Long, Long)]) =
      Dedup.connectedComponents(
        pairs.toSeq.toDF("id_a", "id_b"), "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
    val ce = comps(exact); val cc = comps(capped)
    (0L until 30L).foreach { i =>
      assert(cc(i) == ce(i), s"component of $i must survive the cap")
    }
    // small groups unaffected by a generous cap
    val uncapped = Dedup.simhashPairs(sig, "id", maxHamming = 3, bits = 64,
      maxChunkDf = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped == exact)
  }

  test("incrementalComponents ≡ full rebuild: merges old components, " +
      "keeps untouched singleton components, admits brand-new nodes") {
    // history: {1,2} (root 1), {5,6} (root 5), {9,10} (root 9 — untouched)
    val histPairs = Seq((1L, 2L), (5L, 6L), (9L, 10L)).toDF("id_a", "id_b")
    val prev = Dedup.connectedComponents(histPairs, "id_a", "id_b")
    // new batch: node 20 bridges the {1,2} and {5,6} components;
    // nodes 30/31 form a brand-new component; nothing touches {9,10}
    val newPairs = Seq((2L, 20L), (20L, 6L), (30L, 31L)).toDF("id_a", "id_b")
    val inc = Dedup.incrementalComponents(prev, newPairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val full = Dedup.connectedComponents(
        histPairs.unionByName(newPairs), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(inc == full, s"incremental $inc must equal full rebuild $full")
    assert(inc(6L) == 1L && inc(20L) == 1L, "bridged components take min id")
    assert(inc(9L) == 9L && inc(10L) == 9L, "untouched component survives")
    assert(inc(30L) == 30L && inc(31L) == 30L, "new-only component forms")
  }

  test("dupSpans: a phrase shared by two docs becomes one maximal span " +
      "in each; unique text contributes nothing") {
    import spark.implicits._
    def ws(a: Int, b: Int) = (a to b).map(i => s"w$i").mkString(" ")
    // docs A and B share words p1..p10 (10 words → 3 dup 8-gram
    // positions in A at 3..5); everything else is unique per doc
    val shared = (1 to 10).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, ws(1, 2) + " " + shared + " " + ws(3, 10)),
      (2L, ws(11, 14) + " " + shared + " " + ws(15, 30)),
      (3L, ws(31, 60))).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docs, "doc_id", "text", k = 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // A: shared occupies words 3..12 → dup k-gram positions 3,4,5 →
    // one span words 3..12; B: shared at words 5..14 → positions 5,6,7
    // → span 5..14; C: nothing
    assert(spans == Seq((1L, 3L, 12L, 10L, 3L), (2L, 5L, 14L, 10L, 3L)))
  }

  test("dupSpans: within-doc repetition counts; near spans merge when " +
      "gap <= k, split when further; short docs are excluded") {
    import spark.implicits._
    val eight = (1 to 8).map(i => s"r$i").mkString(" ")
    // doc 1: the same 8-gram twice with ONE unique word between →
    // positions 1 and 10: gap 9 > k=8 → two spans (1..8, 10..17)
    val doc1 = eight + " gapword " + eight
    // doc 2: the 8-gram twice back-to-back → positions 1 and 9:
    // gap 8 <= k → ONE merged span 1..16
    val doc2 = eight + " " + eight
    // doc 3: shorter than k words, even though its words repeat
    val docs = Seq((1L, doc1), (2L, doc2), (3L, "r1 r2 r3"))
      .toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docs, "doc_id", "text", k = 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(spans == Seq((1L, 1L, 8L, 8L, 1L), (1L, 10L, 17L, 8L, 1L),
      (2L, 1L, 16L, 16L, 2L)))
  }

  test("dupSpanFrac: per-source duplicated-word fraction from disjoint " +
      "maximal spans, sources with no dups report 0") {
    import spark.implicits._
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, "src_a", shared + " " + (1 to 10).map("a" + _).mkString(" ")),
      (2L, "src_a", shared),
      (3L, "src_b", (1 to 20).map("b" + _).mkString(" "))
    ).toDF("doc_id", "source", "text")
    val r = Dedup.dupSpanFrac(docs, "doc_id", "text", "source", k = 8)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    // src_a: doc1 span covers s1..s10 (10 of 20 words), doc2 fully
    // duplicated (10 of 10) → 20/30; src_b clean
    assert(r == Seq(("src_a", 2L, 30L, 20L, 20.0 / 30.0),
      ("src_b", 1L, 20L, 0L, 0.0)))
  }
}
