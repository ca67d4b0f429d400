package graft.core

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col

/** The batch-unit store: the one module that knows how an at-rest store
  * is laid out on disk and when its commit markers are written. Every
  * at-rest store in graft is one:
  *
  *  - indexes with deletes and compaction: the MinHash band table
  *    ([[graft.ops.Dedup]]), the IVF, IVFADC and graph-ANN layouts
  *    ([[graft.ops.Similarity]]) and the BM25/positional text index
  *    ([[graft.ops.Retrieval]]);
  *  - append-only stores of mergeable partials or snapshots
  *    ([[graft.ops.IncrementalAgg]], [[graft.ops.Cdc]],
  *    [[graft.ops.Profile]], [[graft.ops.EventOps]],
  *    [[graft.streaming.EventStream]]).
  *
  * A store at `path` holds:
  *
  *  - `<part>/batch=<id>` — one directory per unit for each of the
  *    store's [[Part]]s (`data`; `postings` + `stats`; `vectors` +
  *    `edges`), split further by the part's partition column if it has one;
  *  - `tombstones/batch=<id>` — the id rows a delete unit removes;
  *  - `commits/` — the markers, three kinds:
  *    - `batch_<id>` — an append unit;
  *    - `del_<id>` — a tombstone unit;
  *    - `compact_<id>` — a compaction: REVEALS batch `<id>` and
  *      SUPERSEDES every marker named in its file content (one marker
  *      name per line), committed by one atomic rename.
  *
  * Marker order, the contract every write keeps: data first (overwrite
  * semantics into the unit's own `batch=<id>` directories), marker last.
  * A crash anywhere before the marker leaves the unit invisible, and
  * retrying the SAME id rewrites exactly that unit and re-marks it.
  * Removal keeps the same invariant — no served marker ever names missing
  * data: a fresh-build [[Store.reset]] deletes `commits/` before any data
  * directory, and [[vacuum]] removes only units no marker serves.
  *
  * Readers replay the markers in ascending compaction id order, so a
  * later compaction can supersede an earlier compaction's output batch.
  * Everything is a tiny driver-side listing plus ≤1 small read per
  * compaction marker.
  *
  * Each store path is single-writer. The compaction commit's guard
  * (`rename` refusing an existing destination) is exclusive on HDFS, not
  * on `file://`: there, 8 threads renaming onto one name got more than
  * one `true` in 44 and 281 of 300 rounds (Hadoop 3.4.2, two runs).
  */
object IndexCommits {

  /** What a reader may serve: committed-and-not-superseded append
    * batches and tombstone batches.
    */
  case class State(batches: Seq[Long], deletes: Seq[Long])

  /** One directory of every unit: `<path>/<name>/batch=<id>`, split by
    * `partitionBy` (a column of the written frame) when set. */
  final case class Part(name: String, partitionBy: Option[String] = None)

  private val Commits = "commits"
  private val Tombstones = "tombstones"

  /** A batch-unit store at `path` whose units have `parts`. */
  final case class Store(spark: SparkSession, path: String, parts: Seq[Part]) {
    private def dir(part: String, id: Long) = s"$path/$part/batch=$id"

    /** The served state, replaying only markers with id ≤ `asOf`
      * ([[servedStateAsOf]]). */
    def snapshot(asOf: Long = Long.MaxValue): State =
      servedStateAsOf(spark, path, asOf)

    /** Clear the store for a fresh build. `commits/` goes first: a reset
      * stopped part-way leaves no marker naming a deleted unit, so the
      * store serves empty and the retried build starts clean. */
    def reset(): Unit = {
      val f = fs(spark, path)
      resetOrder.foreach(d => f.delete(new Path(s"$path/$d"), true))
    }

    private[core] def resetOrder: Seq[String] =
      Commits +: parts.map(_.name) :+ Tombstones

    /** Append unit `id`: `frames` (one per part, in `parts` order), then
      * its `batch_<id>` marker. */
    def write(id: Long, frames: DataFrame*): Unit = {
      writeUnit(id, frames)
      mark(spark, path, s"batch_$id")
    }

    /** Tombstone unit `id`: the rows of `ids` (the id column, plus
      * whatever the store keeps beside it) in one file, then its `del_<id>`
      * marker. A committed delete is a no-op that never evaluates `ids`:
      * recomputed against the already-filtered state it would write an
      * empty unit over the committed one. */
    def delete(id: Long, ids: => DataFrame): Unit =
      if (!isCommitted(spark, path, s"del_$id")) {
        ids.repartition(1).write.mode(SaveMode.Overwrite)
          .parquet(dir(Tombstones, id))
        mark(spark, path, s"del_$id")
      }

    /** Compact into unit `newId`: `fold` gets ONE state snapshot and
      * returns the unit's frames; they are written, then one atomic rename
      * reveals `newId` and supersedes everything the snapshot served. A
      * committed compaction is a no-op; a crashed one rewrites its own
      * directories. One snapshot feeds the reads and the supersede list,
      * so a unit committing mid-compaction is either folded in and
      * superseded, or left served beside the result — never both. */
    def compact(newId: Long)(fold: State => Seq[DataFrame]): Unit =
      if (!isCommitted(spark, path, s"compact_$newId")) {
        val state = snapshot()
        requireFreshId(newId, state) // before any write
        writeUnit(newId, fold(state))
        commitCompaction(spark, path, newId, state)
      }

    /** Sweep the units no marker serves ([[IndexCommits.vacuum]]). */
    def vacuum(): Int = IndexCommits.vacuum(spark, path, {
      case ("del", id) => Seq(s"$Tombstones/batch=$id")
      case (_, id)     => parts.map(p => s"${p.name}/batch=$id")
    })

    /** The served rows of `part`: its units in `state`, with the `batch`
      * partition column kept (the filter prunes at the scan, so uncommitted
      * and superseded units are never opened). With `idCol`, rows whose id
      * a served tombstone names are anti-joined away. */
    def served(state: State = snapshot(), part: String = parts.head.name,
               idCol: Option[String] = None): DataFrame = {
      val base = Tables.parquet(spark, s"$path/$part")
        .filter(col("batch").isin(state.batches: _*))
      // an open whose listing changed since the last one infers its
      // schema in a job: open the tombstones only when they are anti-joined
      idCol.flatMap(c => tombstones(state)
          .map(t => base.join(t.select(col(c)), Seq(c), "left_anti")))
        .getOrElse(base)
    }

    /** The served tombstone rows; None when no delete unit is served, so
      * the common case reads nothing and plans no anti-join. An id may
      * repeat across delete units. */
    def tombstones(state: State): Option[DataFrame] =
      if (state.deletes.isEmpty) None
      else Some(Tables.parquet(spark, s"$path/$Tombstones")
        .filter(col("batch").isin(state.deletes: _*)))

    /** The rows of unit `id` of `part` alone, without the `batch` column. */
    def unit(id: Long, part: String = parts.head.name): DataFrame =
      Tables.parquet(spark, dir(part, id))

    private def writeUnit(id: Long, frames: Seq[DataFrame]): Unit = {
      require(frames.length == parts.length,
        s"a unit of $path has ${parts.length} parts, got ${frames.length} frames")
      parts.zip(frames).foreach { case (p, df) =>
        writeDir(dir(p.name, id), df, p.partitionBy)
      }
    }

    /** Overwrite one unit directory. The empty-unit guard: a partitioned
      * write of zero rows leaves no data file, and a store whose served
      * units are all file-less fails parquet schema inference at serve
      * time (reachable by compacting a fully-deleted store once vacuum
      * removes the old units). So when the write left no data file, the
      * directory is cleared (a crashed attempt may have left other
      * partitions) and gets ONE schema-bearing empty file, under
      * `<partitionBy>=0` for a partitioned part — partition values live in
      * directory names, so discovery stays consistent. The check is a
      * driver-side listing after the write, so a non-empty unit runs no
      * extra job; a frame the optimizer already proved empty skips
      * straight to the empty file. */
    private def writeDir(d: String, df: DataFrame,
                         partitionBy: Option[String]): Unit = {
      val provenEmpty = df.queryExecution.optimizedPlan match {
        case l: LocalRelation => l.data.isEmpty
        case _ => false
      }
      if (!provenEmpty) {
        val w = df.write.mode(SaveMode.Overwrite)
        partitionBy.fold(w)(c => w.partitionBy(c)).parquet(d)
      }
      if (provenEmpty || !hasDataFile(d)) {
        fs(spark, path).delete(new Path(d), true)
        val schema = partitionBy.fold(df)(c => df.drop(c)).schema
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
          .write.mode(SaveMode.Overwrite)
          .parquet(partitionBy.fold(d)(c => s"$d/$c=0"))
      }
    }

    private def hasDataFile(d: String): Boolean =
      try {
        val it = fs(spark, path).listFiles(new Path(d), true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.getName)
          .exists(n => !n.startsWith("_") && !n.startsWith("."))
      } catch { case _: FileNotFoundException => false }
  }

  /** The single-part store of the partial-aggregate and snapshot modules:
    * one `data` part, no deletes. */
  def dataStore(spark: SparkSession, path: String): Store =
    Store(spark, path, Seq(Part("data")))

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def isCommitted(spark: SparkSession, path: String,
                          marker: String): Boolean =
    fs(spark, path).exists(new Path(s"$path/$Commits/$marker"))

  /** Create `commits/<marker>` (data must already be durable). */
  private def mark(spark: SparkSession, path: String, marker: String): Unit = {
    val f = fs(spark, path)
    f.mkdirs(new Path(s"$path/$Commits"))
    f.create(new Path(s"$path/$Commits/$marker"), true).close()
  }

  def servedState(spark: SparkSession, path: String): State =
    servedStateAsOf(spark, path, Long.MaxValue)

  /** A marker file: its name, kind (the prefix without `_`) and id. */
  private[graft] final case class Marker(name: String, kind: String, id: Long)

  private val Kinds = Seq("batch_", "del_", "compact_")

  /** List `dir` (a missing directory lists empty) and parse each name as
    * one of `prefixes` followed by a clean Long — `batch_12` →
    * Marker("batch_12", "batch", 12). Returns the markers and the other
    * names. A name that does not parse (a stray temp file, an id beyond
    * Long range) is never served and never swept: serving it could
    * silently include data outside an as-of snapshot, and a raw `.toLong`
    * would fail every read. [[BatchLedger]] passes its own prefix. */
  private[graft] def listMarkers(f: FileSystem, dir: Path,
      prefixes: Seq[String] = Kinds): (Seq[Marker], Seq[String]) = {
    val names =
      try f.listStatus(dir).toSeq.map(_.getPath.getName)
      catch { case _: FileNotFoundException => Seq.empty }
    val parsed = names.map(n => n -> parse(n, prefixes))
    (parsed.flatMap(_._2), parsed.collect { case (n, None) => n })
  }

  private def parse(name: String, prefixes: Seq[String]): Option[Marker] =
    prefixes.collectFirst {
      case pfx if name.startsWith(pfx) => (pfx.dropRight(1), name.stripPrefix(pfx))
    }.flatMap { case (kind, suffix) => suffix.toLongOption.map(Marker(name, kind, _)) }

  /** TIME-TRAVEL snapshot: the served state considering ONLY markers
    * with id ≤ `maxBatch` — the index exactly as a reader saw it after
    * that batch committed. Sound only if batch ids are assigned
    * monotonically. Every append path takes its id from the caller, so
    * that is the caller's contract (a [[BatchLedger]] is one source of
    * such ids). Then a marker with a higher id can only describe a later
    * commit, so dropping id > maxBatch replays the true prefix of index
    * history — appends, deletes and compactions alike (a compaction's
    * own id exceeds everything it supersedes, so a pre-compaction
    * as-of serves the original batches it folded away, provided vacuum
    * has not yet swept them — vacuum is the explicit retention horizon
    * for time travel, same trade as every lakehouse table format).
    */
  def servedStateAsOf(spark: SparkSession, path: String,
                      maxBatch: Long): State = {
    val f = fs(spark, path)
    val parsed = listMarkers(f, new Path(s"$path/$Commits"))._1
      .filter(_.id <= maxBatch)
    var batches = parsed.collect { case Marker(_, "batch", id) => id }.toSet
    var deletes = parsed.collect { case Marker(_, "del", id) => id }.toSet
    val compactions = parsed.collect { case Marker(_, "compact", id) => id }.sorted
    for (cid <- compactions) {
      val in = f.open(new Path(s"$path/$Commits/compact_$cid"))
      val superseded =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      val supersededIds = superseded.flatMap(parse(_, Kinds))
      batches --= supersededIds.collect { case Marker(_, "batch", id) => id }
      deletes --= supersededIds.collect { case Marker(_, "del", id) => id }
      batches += cid
    }
    State(batches.toSeq.sorted, deletes.toSeq.sorted)
  }

  /** A compaction's id must exceed every served id — replay is ordered
    * by id. */
  private def requireFreshId(newId: Long, state: State): Unit =
    require(state.batches.forall(_ < newId) &&
      state.deletes.forall(_ < newId),
      s"compaction id $newId must exceed every served batch id " +
        s"(batches ${state.batches}, deletes ${state.deletes}): state " +
        "replay is ordered by id")

  /** The compaction commit point: write the supersede list (every
    * marker of `state`) under a temp name, then ONE atomic rename both
    * reveals batch `newId` and hides the old set. Call only after the
    * compacted unit's data is durable.
    */
  private def commitCompaction(spark: SparkSession, path: String, newId: Long,
                               state: State): Unit = {
    requireFreshId(newId, state)
    val f = fs(spark, path)
    val content = (state.batches.map(b => s"batch_$b") ++
      state.deletes.map(d => s"del_$d")).mkString("\n")
    val tmp = new Path(s"$path/$Commits/.compact_$newId.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    // rename reports failure as `false`: the destination exists or the
    // tmp is missing. Returning normally would claim a commit that never
    // flipped. It catches a racing compactor on HDFS only; on `file://`
    // both renames can succeed (index paths are single-writer, see above).
    require(f.rename(tmp, new Path(s"$path/$Commits/compact_$newId")),
      s"compaction commit rename failed for compact_$newId (destination " +
        "already exists or tmp marker missing — concurrent compactor?)")
  }

  /** Sweep units unreachable from the served state. `dirsFor` maps a
    * marker kind ("batch" | "del" | "compact") and id to the
    * store's data directories of that unit (relative to `path`);
    * [[Store.vacuum]] derives it from the store's parts, and a spec
    * passes its own to inject a crash. Data directories are deleted
    * first, the marker last, so a mid-sweep crash leaves the superseded
    * set computable and the retry completes; readers are unaffected
    * throughout (superseded ids are already excluded by the compaction
    * marker, and a marker whose directory is gone contributes nothing).
    * Returns units removed.
    *
    * Marker deletion ORDER is the crash-safety invariant: superseded
    * `batch_`/`del_` markers go FIRST (removing one never changes the
    * replayed state — a live compaction already excludes it), and
    * superseded `compact_` markers go last, in ASCENDING id order.
    * Deleting a compaction marker resurrects whatever markers it
    * superseded that still exist — sweeping its targets first (plain
    * markers in phase 1, earlier compactions earlier in phase 2) makes
    * that set empty at every prefix of the sweep, so a crash at ANY
    * point leaves servedState unchanged and the retry completes.
    * (Counter-example the ordering kills: batches 0,1 → compact_2 →
    * compact_3; deleting compact_2's marker while batch_0/batch_1
    * markers remain would re-serve 0 and 1 alongside their compacted
    * copy in 3 — permanently, since the retry sees them as live.)
    */
  def vacuum(spark: SparkSession, path: String,
             dirsFor: (String, Long) => Seq[String]): Int = {
    val f = fs(spark, path)
    val raw = listMarkers(f, new Path(s"$path/$Commits"))._1
    if (raw.isEmpty) return 0
    val names = raw.filterNot(_.kind == "compact") ++
      raw.filter(_.kind == "compact").sortBy(_.id)
    val state = servedState(spark, path)
    val liveBatch = state.batches.toSet
    val liveDel = state.deletes.toSet
    var n = 0
    for (Marker(name, kind, id) <- names) {
      val live = kind match {
        case "del" => liveDel(id)
        // a compaction's own output is removable only once a LATER
        // compaction superseded it
        case _     => liveBatch(id)
      }
      if (!live) {
        dirsFor(kind, id).foreach(dd => f.delete(new Path(s"$path/$dd"), true))
        f.delete(new Path(s"$path/$Commits/$name"), false)
        n += 1
      }
    }
    n
  }
}
