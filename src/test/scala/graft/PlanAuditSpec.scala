package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-regression pins: the scale properties PLANS.md documents must
  * survive refactors. These assert on the formatted physical plan text —
  * if a change un-pushes a filter or turns the star join into a shuffle
  * join, the suite fails before any benchmark notices.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, SparkSpec.Sf0001)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q2: both filters reach the parquet scan; schema pruned") {
    val p = plan("q2_filter_proj")
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("LessThan(l_quantity"))
    // 5 of 11 lineitem columns read
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double,l_shipdate:timestamp_ntz>"))
  }

  test("q10: star join is all broadcast hash joins, no sort-merge") {
    val p = plan("q10_star_join")
    // formatted mode prints each node in the tree and the detail section
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q7: global top-k plans as TakeOrderedAndProject (no full sort)") {
    assert(plan("q7_sort_limit").contains("TakeOrderedAndProject"))
  }

  test("q4/q5: EXISTS/NOT EXISTS plan as semi/anti joins") {
    assert(plan("q4_semi_join").contains("LeftSemi"))
    assert(plan("q5_anti_join").contains("LeftAnti"))
  }

  test("dx_pipeline: one inference stage, broadcast label join, no extra shuffle") {
    val p = plan("dx_pipeline")
    // one MapPartitions node (appears once in tree, once in details)
    assert("\\(\\d+\\) MapPartitions".r.findAllIn(p).size == 1)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("dx_pipeline: cleanMsg is the one-pass kernel inside WholeStageCodegen, " +
      "no regexp_replace") {
    val p = plan("dx_pipeline")
    assert(!p.contains("regexp_replace"), s"regex clean chain is back:\n$p")
    assert(p.contains("collapseblanks"), s"expected the native kernel:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    val df = SparkEntry.queries("dx_pipeline")(spark, SparkSpec.Sf0001)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[[^\\n]*collapseblanks".r.findFirstIn(executed).isDefined,
      s"expected the kernel in a codegen'd project:\n$executed")
  }

  test("dx_pipeline: truncation is the one-pass token kernel inside " +
      "WholeStageCodegen, no token array") {
    val p = plan("dx_pipeline")
    assert(!p.contains("slice(") && !"split\\([^\\n]*\\\\s\\+".r.findFirstIn(p).isDefined,
      s"the split/slice truncation chain is back:\n$p")
    assert(p.contains("truncatewstokens"), s"expected the native kernel:\n$p")
    val df = SparkEntry.queries("dx_pipeline")(spark, SparkSpec.Sf0001)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[[^\\n]*truncatewstokens".r.findFirstIn(executed).isDefined,
      s"expected the kernel in a codegen'd project:\n$executed")
  }

  test("dedup_embedding: custom DotProduct expression is in the plan") {
    val p = plan("dedup_embedding")
    assert(p.contains("dotproduct") || p.contains("DotProduct"))
  }

  test("ta_redact: pure project over the scan — no shuffle before the final sort") {
    val p = plan("ta_redact")
    assert("Exchange".r.findAllIn(p).size <= 2) // ORDER BY only (tree + detail)
    assert(!p.contains("HashAggregate"))
  }

  test("sim_quant: broadcast query row + top-k, never a global sort or shuffle join") {
    val p = plan("sim_quant")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct")) // one-row side must broadcast
  }

  test("ta_pack: exactly one data exchange (the per-shard window), partial-agged") {
    val p = plan("ta_pack")
    assert(p.contains("Window"))
    // shard window + final ORDER BY; no third exchange (agg reuses the
    // window's shard partitioning... it cannot, but must stay partial-agged)
    assert(p.contains("partial_count") || p.contains("HashAggregate"))
  }

  test("dedup_contamination: benchmark shingle side broadcasts (train never shuffles on shingles)") {
    val p = plan("dedup_contamination")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("ta_subword: WordPiece rides inside WholeStageCodegen, no UDF barrier") {
    val p = plan("ta_subword")
    // the tokenizer is a native expression projected straight over the
    // scan — not a BatchEvalPython/ScalaUDF stage break
    assert(p.contains("wordpiecetokenize"), s"expected the native expression:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"))
    // single exchange: the final presentation sort (tokenize is per-row);
    // count detail headers "(n) Exchange", not tree+detail double-prints
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1,
      s"unexpected exchanges:\n$p")
    // codegen pin needs the EXECUTED plan (AQE finalizes spans at runtime)
    val df = SparkEntry.queries("ta_subword")(spark, SparkSpec.Sf0001)
    df.collect() // count() would plan a different query; execute THIS one
    val executed = df.queryExecution.executedPlan.toString
    // the compact form renders a WholeStageCodegen stage as "*(id) Node"
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(executed).isDefined,
      s"expected codegen'd project in the executed plan:\n$executed")
  }

  test("sim_kmeans: the assignment is a narrow codegen'd project — no join, no extra exchange") {
    val p = plan("sim_kmeans")
    // centroids ride as literals inside the argmin expression: the final
    // assignment pass must not join/broadcast anything
    assert(!p.contains("Join"), s"assignment must not join:\n$p")
    // one exchange: the presentation ORDER BY (count detail headers)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1,
      s"unexpected exchanges:\n$p")
    // and it is a plain Project DIRECTLY over the pruned scan (the argmin
    // uses higher-order lambdas, which are codegen-fallback by design —
    // the pin is the stage shape, not a codegen star)
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      s"scan must prune to (id, vector):\n$p")
    assert(!p.contains("HashAggregate"), s"assignment must not aggregate:\n$p")
  }

  test("ta_gopher: the whole rule suite is a zero-shuffle scan projection") {
    val p = plan("ta_gopher")
    // word/line statistics stay inside their row: no explode, no
    // aggregate, no join — the only exchange is the presentation sort
    assert(!p.contains("Generate"), s"no explode allowed:\n$p")
    assert(!p.contains("HashAggregate"), s"no aggregate allowed:\n$p")
    assert(!p.contains("Join"), s"no join allowed:\n$p")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1,
      s"only the ORDER BY exchange expected:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to (doc_id, text):\n$p")
  }

  test("ta_gopher_rep: all eleven repetition rules are a zero-shuffle " +
      "scan projection") {
    val p = plan("ta_gopher_rep")
    // nine n-gram statistics + two paragraph rules, each a sorted-run
    // fold INSIDE its row — the unnest+groupBy formulation the oracle
    // uses would shuffle every n-gram of the corpus nine times
    assert(!p.contains("Generate"), s"no explode allowed:\n$p")
    assert(!p.contains("HashAggregate"), s"no aggregate allowed:\n$p")
    assert(!p.contains("Join"), s"no join allowed:\n$p")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1,
      s"only the ORDER BY exchange expected:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to (doc_id, text):\n$p")
  }

  test("ev_funnel_n: ONE hash exchange on user_id at five stages, no joins") {
    val p = plan("ev_funnel_n")
    // the whole N-stage match is an in-row fold over the per-user sorted
    // event list: ONE user_id exchange regardless of stage count (the
    // join-per-stage shape would plan five), plus only the 1-row final
    // aggregate's single-partition exchange (formatted mode prints each
    // exchange's partitioning on its detail "Arguments:" line)
    assert("Arguments: hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"expected exactly one user_id hash exchange:\n$p")
    assert("Arguments: hashpartitioning".r.findAllIn(p).size == 1,
      s"no hash exchange beyond the user_id one:\n$p")
    assert(!p.contains("Join"), s"no per-stage joins allowed:\n$p")
    assert(p.contains("ReadSchema: struct<ts:"),
      s"scan must prune to (ts, user_id, event_type):\n$p")
  }

  test("doc_token_budget: one data exchange (the |sources| aggregate)") {
    val p = plan("doc_token_budget")
    // groupBy(source) is the only hash exchange; totals broadcast; the
    // presentation sort adds a range exchange over |sources| rows
    assert("\\(\\d+\\) Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"expected a single hash exchange:\n$p")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), // 1-row totals dim
      s"totals must broadcast:\n$p")
  }

  test("doc_sample: sampling filter sits on the scan, before any exchange") {
    val p = plan("doc_sample")
    // the md5-threshold predicate is a plain Filter (no aggregate/join),
    // and the scan reads only the 3 projected columns (don't key on node
    // NUMBERS — AQE on/off shifts them)
    assert(p.contains("conv(substring(md5"))
    assert("\\(\\d+\\) Filter".r.findAllIn(p).nonEmpty)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,source:string>"))
  }

  test("ta_hybrid_rrf: both halves are bounded top-k; fusion never " +
      "sort-merges") {
    val p = plan("ta_hybrid_rrf")
    // sparse BM25 and dense cosine each end in TakeOrderedAndProject
    // (per-partition heaps + k-row driver merge), and the ≤k-row fusion
    // join must not plan as a corpus-shaped SortMergeJoin
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup_semantic: centroids broadcast; no cartesian pair join") {
    val p = plan("dedup_semantic")
    assert(p.contains("BroadcastExchange"), s"centroid dim must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pair join must stay cluster-blocked:\n$p")
  }

  test("ev_transitions / ev_attribution: pure window + aggregate plans — " +
      "no join anywhere") {
    val pt = plan("ev_transitions")
    assert(!pt.contains("Join"), s"transition matrix must not join:\n$pt")
    assert(pt.contains("Window"))
    val pa = plan("ev_attribution")
    assert(!pa.contains("Join"), s"attribution must not join:\n$pa")
    assert(pa.contains("Window"))
  }

  test("er_blocked: candidate generation is a key equi-join, never a " +
      "cartesian or nested-loop product") {
    val p = plan("er_blocked")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("doc_length_buckets: the batching window is (bucket, shard)-keyed " +
      "— no single-partition funnel") {
    val p = plan("doc_length_buckets")
    // the only SinglePartition exchange allowed is the final ≤|tiers|-row
    // ordering; the Window itself must partition by bucket AND shard
    assert(p.contains("partitionBy=[bucket#") ||
      p.contains("PartitionSpec: [bucket") ||
      "hashpartitioning\\(bucket#\\d+L?, shard#".r.findAllIn(p).nonEmpty,
      s"window must key on (bucket, shard):\n$p")
  }

  test("dq_outliers: per-group stats broadcast back; no sort-merge join") {
    val p = plan("dq_outliers")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("sim_hamming: shortlist and final top-k are TakeOrderedAndProject") {
    val p = plan("sim_hamming")
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p)
  }

  test("ev_rfm: quintile scoring plans WITHOUT any window operator — " +
      "thresholds broadcast, no ntile global sort") {
    val p = plan("ev_rfm")
    assert(!p.contains("Window"), s"rfm must not plan a window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
  }

  test("ev_pipeline: five branches, no cartesian product anywhere") {
    val p = plan("ev_pipeline")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Union"))
  }

  test("cdc_upsert: no window, no sort-merge join — the change batch " +
      "collapses via aggregate and broadcasts into the anti join") {
    val p = plan("cdc_upsert")
    assert(!p.contains("Window"), s"upsert must not plan a window:\n$p")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("SortAggregate") || p.contains("HashAggregate"), p)
  }

  test("ev_active_users: the raw event stream crosses exactly one " +
      "exchange (the user-day dedup); expansion and count ride on it") {
    val p = plan("ev_active_users")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p) // windows dim + bounds
  }

  test("ta_heavyhitters: the recount semi-joins the BROADCAST " +
      "candidate set — the vocabulary never shuffles for the answer") {
    val p = plan("ta_heavyhitters")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("dq_corr: the whole matrix is ONE aggregate over one scan — " +
      "no join, a single pair of exchanges") {
    val p = plan("dq_corr")
    assert(!p.contains("Join"), s"corr must not join:\n$p")
    // one partial+final agg pair: a single shuffle (tree + detail)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
  }

  test("graph_triangles: every join is key-equi (no cartesian), " +
      "closing edge is a semi join") {
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("mm_phash / mm_neardup: signature stage is a shuffle-free " +
      "mapPartitions scan; pairing is a key-equi join, never cartesian") {
    val pp = plan("mm_phash")
    assert(!pp.contains("Exchange hashpartitioning"),
      s"phash must not shuffle:\n$pp")
    val pn = plan("mm_neardup")
    assert(!pn.contains("CartesianProduct"), pn)
    assert(pn.contains("Join"), pn)
  }

  test("dedup_index serve: committed-batch partition pruning reaches the " +
      "scan; live tombstones anti-join; the pair stage is key-equi") {
    // the registry query compacts+vacuums (no tombstones left by serve),
    // so audit the serve plan of a mid-lifecycle index: build + append +
    // a LIVE tombstone batch, no compaction
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, SparkSpec.Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_bidx_audit")
      .toString + "/idx"
    graft.ops.Dedup.writeBandIndex(docs.filter(col("doc_id") % 4 =!= 1),
      "doc_id", "text", dir)
    graft.ops.Dedup.appendToBandIndex(docs.filter(col("doc_id") % 4 === 1),
      "doc_id", "text", dir, batchId = 1L)
    graft.ops.Dedup.deleteFromBandIndex(
      docs.filter(col("doc_id") % 17 === 3).select("doc_id"), "doc_id",
      dir, batchId = 2L)
    val df = graft.ops.Dedup.bandIndexCandidates(spark, dir, "doc_id")
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), s"tombstone anti-join missing:\n$p")
    assert(p.contains("PartitionFilters") || p.contains("batch#"),
      s"batch pruning must reach the scan:\n$p")
  }

  test("ta_unigram_encode: the Viterbi expression rides the exploded-word " +
      "projection with no join and no UDF barrier") {
    val p = plan("ta_unigram_encode")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    assert(!p.contains("Join"), s"encode must not join:\n$p")
  }

  test("mm_audio_meta / mm_audio_energy: decode stages are shuffle-free " +
      "partition-local scans") {
    Seq("mm_audio_meta", "mm_audio_energy").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must not shuffle:\n$p")
      assert(!p.contains("Join"), s"$q must not join:\n$p")
    }
  }

  test("q29_bloom_join: the bloom probe is a native might_contain filter " +
      "on the fact side BEFORE the join; no cartesian anywhere") {
    val p = plan("q29_bloom_join")
    assert(p.contains("might_contain"), s"bloom probe missing:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("doc_priority_sample: selection is TakeOrderedAndProject (no " +
      "global sort); the finishing window runs on the k-bounded relation") {
    val p = plan("doc_priority_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct") ||
      p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ev_ewma: one window pass, no join, nothing quadratic") {
    val p = plan("ev_ewma")
    assert(!p.contains("Join"), s"ewma must not self-join:\n$p")
    assert(p.contains("Window"), p)
  }

  test("sim_recall_matryoshka: every operating point is TakeOrdered — " +
      "no global sort, no data-sized join") {
    val p = plan("sim_recall_matryoshka")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dq_ks: the ECDF window is PARTITIONED (by bin) — never a " +
      "single-partition global window; no cartesian on data") {
    val p = plan("dq_ks")
    assert(p.contains("Window"), p)
    // a data-sized unpartitioned window prints 'Window [...], [__v ASC'
    // with no partition spec between the function list and the order
    assert(!p.contains("Window [sum"), // partitioned form prints keys first
      s"KS window must be partitioned by bin:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ta_kneser: top-k is TakeOrderedAndProject; stat joins run " +
      "against the k-row side, no cartesian on data") {
    val p = plan("ta_kneser")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ta_cms: the sketch probe is a broadcast join (sketch side " +
      "broadcast); top-k is TakeOrderedAndProject") {
    val p = plan("ta_cms")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dq_skew: diagnosis is one aggregate + TakeOrdered, no global " +
      "sort of the key space") {
    val p = plan("dq_skew")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ta_nfc: pure scan expression — native codegen'd normalizer, " +
      "no UDF, no join, no exchange beyond the output sort") {
    val p = plan("ta_nfc")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    assert(!p.contains("Join"), p)
    assert(p.toLowerCase.contains("unicodenormalize"), p)
  }

  test("ta_fertility: ONE scan-stage aggregate over lang — no join, " +
      "no window, nothing quadratic") {
    val p = plan("ta_fertility")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("ta_winnow: selection is one codegen'd expression inside the " +
      "scan stage — no Window shuffle of the positional hash relation, " +
      "no cartesian, no UDF; the output sort is the only exchange") {
    val p = plan("ta_winnow")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("ScalaUDF"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("winnow_select"), p)
    // the only exchange is the final orderBy's range partitioning — no
    // hash exchange of the positional relation survives
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("hashpartitioning"), p)
  }

  test("graph_walks_biased: per-step joins only, no cartesian") {
    val p = plan("graph_walks_biased")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("lake_bucketed: join AND downstream aggregate read pre-bucketed " +
      "files — zero hash exchanges in the whole plan") {
    // force the sort-merge path (a broadcast join would also be
    // exchange-free but wouldn't exercise the bucketed co-location)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("lake_bucketed")(spark, SparkSpec.Sf0001)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join/agg must not shuffle (range exchange for the " +
          s"final orderBy is the only allowed exchange):\n$p")
      assert(p.contains("Bucketed: true"), s"scan must be bucketed:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE skew-join: OptimizeSkewedJoin splits a pathologically hot " +
      "key at runtime (the automatic half of the 100 TB skew story)") {
    // q19_salted_join proves the MANUAL salt; this pins the automatic
    // path so the skew story doesn't rest on hand-salting alone. A
    // synthetically skewed join (one key owns ~99% of a side, like a
    // null-ish default FK at 100 TB) must come out of adaptive
    // execution with the SMJ marked skew=true — i.e. AQE bisected the
    // oversized shuffle partition instead of running it on one task.
    import org.apache.spark.sql.functions._
    val confs = Seq(
      // force the shuffle join (skew split only applies to SMJ/SHJ)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // scale the "skewed" thresholds down to test-fixture bytes: a
      // partition is skewed past 32 KiB and 2x median, split to ~16 KiB
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32768",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) =>
      k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val big = spark.range(0, 60000).select(
        // key 0 owns ~98% of the rows; every other dim key appears once
        when(col("id") % lit(50) === 0, (col("id") / lit(50)).cast("long") % lit(1200))
          .otherwise(lit(0L)).as("k"),
        concat(lit("payload-payload-payload-payload-"), col("id"))
          .as("payload"))
      val dim = spark.range(0, 1200).select(col("id").as("k"),
        concat(lit("dim-"), col("id")).as("label"))
      // GLOBAL aggregate downstream, deliberately: a groupBy on the
      // join key would REQUIRE the join's hash partitioning, and
      // OptimizeSkewedJoin (correctly) refuses to split a partition
      // another operator depends on — the rewrite only fires when the
      // join output feeds a partitioning-agnostic consumer.
      val joined = big.join(dim, "k")
        .agg(count(lit(1)).as("n"), sum(length(col("payload"))).as("b"))
      // run THIS df (count() would build a fresh plan and leave this
      // one unexecuted — its adaptive plan must reach isFinalPlan=true)
      assert(joined.collect()(0).getLong(0) == 60000L)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), s"expected adaptive plan:\n$p")
      assert(p.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire on the hot key:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
