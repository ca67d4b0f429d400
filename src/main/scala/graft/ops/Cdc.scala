package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-data-capture merge for lake-native dimension maintenance —
  * SCD type-2 (versioned history) without a table format: pure DataFrame
  * ops over an immutable snapshot, the pattern that backs registry-style
  * reference data in the reference pipelines (the JDBC "registry"
  * dimensions of /root/reference/prostate_dag.py joined into every run)
  * when the dimension must carry history instead of being overwritten.
  *
  * Contract: the dimension carries `valid_from` / `valid_to` (null
  * `valid_to` = the open version); a change batch carries the key plus
  * the tracked attributes, all effective at one `effectiveTs`. The merge
  * emits the complete new dimension state:
  *
  *  - closed history rows pass through untouched;
  *  - an open row whose key is absent from the batch stays open;
  *  - an open row whose key arrives with IDENTICAL tracked attributes
  *    stays open (no-op change — no version churn);
  *  - an open row whose key arrives with different attributes is CLOSED
  *    (`valid_to = effectiveTs`) and a new open version is born;
  *  - a batch key with no open row inserts a brand-new open version.
  *
  * Batch hygiene: exact-duplicate change rows collapse silently
  * (at-least-once CDC delivery), but two DIFFERING rows for one key in
  * one batch fail fast with raise_error — both claim to be the open
  * version effective at the same instant, and guessing would corrupt the
  * dimension. NULL business keys are legal key VALUES (the join is
  * null-safe and side-membership comes from presence markers, not key
  * nullness), so null-keyed rows version like any other instead of
  * silently vanishing.
  *
  * Plan shape at scale: ONE full-outer equi-join between the open slice
  * and the change batch (Spark plans full outer as a co-partitioned
  * sort-merge — broadcast is not supported for this join type, and the
  * hint would be ignored). The three output branches (kept / closed /
  * born) all project the SAME join, so the two hash exchanges are
  * planned once and reused (`ReusedExchange` — CdcSpec pins this: the
  * dimension is shuffled once, not three times), and the closed history
  * unions in with no shuffle at all. Attribute comparison is null-safe
  * (`<=>`), so null attribute values neither crash nor always-differ.
  */
object Cdc {

  /** @param dim     SCD2 dimension: key cols + tracked cols +
    *                `valid_from`/`valid_to`
    * @param changes change batch: key cols + tracked cols
    * @param keys    business-key column names
    * @param effectiveTs SQL-typed effective timestamp/date column
    *                (e.g. `lit(java.sql.Date.valueOf("2024-06-01"))`)
    */
  def scd2Merge(dim: DataFrame, changes: DataFrame, keys: Seq[String],
                effectiveTs: org.apache.spark.sql.Column): DataFrame = {
    val tracked = dim.columns.filterNot(c =>
      keys.contains(c) || c == "valid_from" || c == "valid_to").toSeq
    require(changes.columns.toSet == (keys ++ tracked).toSet,
      s"change batch must carry exactly key + tracked columns: ${keys ++ tracked}")

    val closedHist = dim.filter(col("valid_to").isNotNull)
    // presence markers instead of key-null checks: a NULL business key is
    // a legal key VALUE here (matched null-safely below), so "which side
    // of the full outer produced this row" must come from columns that
    // are never null on their own side
    val open = dim.filter(col("valid_to").isNull)
      .withColumn("__dim_present", lit(true))
    // exact-duplicate change rows collapse (at-least-once delivery is
    // normal in CDC feeds); two DIFFERING rows for one key at one
    // effectiveTs are a contradiction the merge must not guess about —
    // the fanned-out full outer would otherwise birth two simultaneous
    // open versions (silent SCD2 corruption), so it fails fast instead
    val chW = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(k => col(s"__ck_$k")): _*)
    val ch = changes.select(
        keys.map(k => col(k).as(s"__ck_$k")) ++
          tracked.map(t => col(t).as(s"__cv_$t")): _*)
      .distinct()
      .withColumn("__ch_present", lit(true))
      .withColumn("__ch_dups", count(lit(1)).over(chW))
      .filter(when(col("__ch_dups") > 1,
        raise_error(lit("scd2Merge: conflicting change rows for one " +
          "business key in a single batch"))).otherwise(lit(true)))
      .drop("__ch_dups")

    val joinCond = keys.map(k => col(k) <=> col(s"__ck_$k")).reduce(_ && _)
    val j = open.join(ch, joinCond, "full_outer")

    val hasOpen = col("__dim_present").isNotNull
    val hasChange = col("__ch_present").isNotNull
    val identical = tracked.map(t => col(t) <=> col(s"__cv_$t"))
      .reduceOption(_ && _).getOrElse(lit(true))

    val dimCols = dim.columns.toSeq

    // survivors of the open slice: untouched keys and identical no-ops
    val keptOpen = j.filter(hasOpen && (!hasChange || identical))
      .select(dimCols.map(col): _*)
    // closed versions: open rows superseded by a differing change
    val closedNow = j.filter(hasOpen && hasChange && !identical)
      .select(dimCols.map {
        case "valid_to" => effectiveTs.as("valid_to")
        case c => col(c)
      }: _*)
    // new open versions: differing changes and brand-new keys
    val bornNow = j.filter(hasChange && (!hasOpen || !identical))
      .select(dimCols.map {
        case "valid_from" => effectiveTs.as("valid_from")
        case "valid_to" => lit(null).cast(dim.schema("valid_to").dataType).as("valid_to")
        case c if keys.contains(c) => col(s"__ck_$c").as(c)
        case c => col(s"__cv_$c").as(c)
      }: _*)

    closedHist.unionByName(keptOpen).unionByName(closedNow).unionByName(bornNow)
  }

  /** Latest-wins UPSERT merge — the MERGE INTO / CDC-compaction shape
    * that maintains a CURRENT snapshot (where [[scd2Merge]] maintains
    * history): apply a change batch of inserts/updates/deletes to a
    * base snapshot, keeping for each key only the change with the
    * highest sequence number. Semantics: the winning change REPLACES
    * the base row wholly (op 'I'/'U' both upsert — CDC feeds replay,
    * so an insert for an existing key is a legal replace), op 'D'
    * removes the key; keys untouched by the batch pass through.
    *
    * Plan shape at 100 TB: the change batch collapses to one row per
    * key via a max-of-struct aggregate ordered by the sequence (no
    * window, partial-aggregable); the base side pays ONE co-partitioned
    * left-anti join against the collapsed (batch-sized, usually tiny)
    * key set plus a union — the base is never windowed or sorted.
    * Contract: (keys, seqCol) unique within the batch — the struct max
    * would otherwise tie-break on payload bytes, which is a feed
    * corruption to fix upstream, not semantics to rely on.
    *
    * @param changes base's columns + `opCol` ('I'|'U'|'D') + `seqCol`
    */
  def upsertLatest(base: DataFrame, changes: DataFrame, keys: Seq[String],
                   seqCol: String, opCol: String): DataFrame = {
    val baseCols = base.columns.toSeq
    require(changes.columns.toSet == (baseCols ++ Seq(seqCol, opCol)).toSet,
      s"changes must carry base columns + $seqCol + $opCol")
    val payload = baseCols.filterNot(keys.contains)
    val latest = changes.groupBy(keys.map(col): _*)
      .agg(max(struct(
        (col(seqCol) +: col(opCol) +: payload.map(col)): _*)).as("__m"))
      .select(keys.map(col) ++
        Seq(col(s"__m.$opCol").as("__op")) ++
        payload.map(p => col(s"__m.$p").as(p)): _*)
    val latestC = graft.core.Caches.track(latest)
    val antiCond = keys.map(k => base(k) <=> latestC(k)).reduce(_ && _)
    base.join(latestC.select(keys.map(col): _*), antiCond, "left_anti")
      .unionByName(latestC.filter(col("__op") =!= "D")
        .select(baseCols.map(col): _*))
  }

  /** Persist one snapshot VERSION under the shared commit-marker state
    * machine (`data/batch=<version>` + marker after the data) — the
    * table-format discipline in miniature: a crashed write is
    * invisible, a replayed version overwrites exactly its own subtree,
    * and the committed version chain is the table's time-travel axis.
    */
  def writeSnapshot(df: DataFrame, path: String, version: Long): Unit =
    graft.core.IndexCommits.dataStore(df.sparkSession, path).write(version, df)

  /** Read the LATEST committed snapshot version (or, with `asOf`, the
    * latest committed version ≤ it — snapshot time travel, the
    * [[graft.core.IndexCommits]] as-of contract). Each version is a
    * full snapshot, so serving reads exactly ONE version's files:
    * unlike the delta-replay stores here (indexes, incremental
    * aggregates), an upsert snapshot is its own compaction.
    */
  def serveSnapshot(spark: org.apache.spark.sql.SparkSession, path: String,
                    asOf: Option[Long] = None): DataFrame = {
    val store = graft.core.IndexCommits.dataStore(spark, path)
    val state = store.snapshot(asOf.getOrElse(Long.MaxValue))
    require(state.batches.nonEmpty, s"no committed snapshot under $path")
    store.unit(state.batches.max)
  }

  /** DIFF two committed snapshot versions — the "what did this MERGE
    * actually do" audit a lakehouse reviews before trusting a CDC
    * apply: keys added, removed, changed (any compared column
    * distinct), unchanged, in one pass. Comparison is native
    * column-by-column `<=>` (IS NOT DISTINCT FROM) — no string-hashing
    * of values, so double columns compare numerically and the
    * checksum family's no-raw-doubles contract doesn't apply. One
    * key-co-partitioned full outer join + one 4-cell
    * map-side-combined aggregate; output is a single row.
    */
  def snapshotDiff(spark: org.apache.spark.sql.SparkSession, path: String,
                   v1: Long, v2: Long, keys: Seq[String],
                   cols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "diff needs key columns")
    def side(v: Long, p: String): DataFrame =
      serveSnapshot(spark, path, Some(v))
        .select((keys ++ cols).map(col): _*)
        .toDF((keys ++ cols).map(p + _): _*)
    // null-safe key equality (<=>) so a NULL key value matches its
    // counterpart instead of double-counting the row as added+removed;
    // side presence via literal marker columns, not key IS NOT NULL —
    // a nullable key can't stand in for "this side had a row"
    val a = side(v1, "a_").withColumn("__in_a", lit(1))
    val b = side(v2, "b_").withColumn("__in_b", lit(1))
    val on = keys.map(k => a(s"a_$k") <=> b(s"b_$k")).reduce(_ && _)
    val inA = col("__in_a").isNotNull
    val inB = col("__in_b").isNotNull
    val same = cols.map(c => col(s"a_$c") <=> col(s"b_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    a.join(b, on, "full_outer")
      .agg(
        sum(when(!inA, 1L).otherwise(0L)).as("n_added"),
        sum(when(!inB, 1L).otherwise(0L)).as("n_removed"),
        sum(when(inA && inB && !same, 1L).otherwise(0L)).as("n_changed"),
        sum(when(inA && inB && same, 1L).otherwise(0L)).as("n_unchanged"))
  }
}
