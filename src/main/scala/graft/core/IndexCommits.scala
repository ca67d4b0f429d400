package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The commit-marker state machine shared by every batch-structured
  * at-rest index (the BM25/positional text index in
  * [[graft.ops.Retrieval]], the IVF vector layout in
  * [[graft.ops.Similarity]]). One `commits/` directory per index holds
  * three marker kinds:
  *
  *  - `batch_<id>` — an append unit (postings / layout rows + any
  *    sidecar, each under its own `…/batch=<id>` subdirectory with
  *    overwrite semantics);
  *  - `del_<id>` — a tombstone unit;
  *  - `compact_<id>` — a compaction: REVEALS batch `<id>` and
  *    SUPERSEDES every marker named in its file content (one marker
  *    name per line), committed by one atomic rename.
  *
  * Readers replay the markers in ascending compaction id order, so a
  * later compaction can supersede an earlier compaction's output
  * batch. Everything is a tiny driver-side listing plus ≤1 small read
  * per compaction marker.
  *
  * The idempotency contract every writer follows: data first (overwrite
  * semantics into the unit's own subdirectories), marker last — a crash
  * anywhere before the marker leaves the unit invisible, and retrying
  * the SAME id rewrites exactly that unit and re-marks it.
  *
  * Each index path is single-writer. The compaction commit's guard
  * (`rename` refusing an existing destination) is exclusive on HDFS, not
  * on `file://`: there, 8 threads renaming onto one name got more than
  * one `true` in 44 and 281 of 300 rounds (Hadoop 3.4.2, two runs).
  */
object IndexCommits {

  /** What a reader may serve: committed-and-not-superseded append
    * batches and tombstone batches.
    */
  case class State(batches: Seq[Long], deletes: Seq[Long])

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def isCommitted(spark: SparkSession, path: String, marker: String): Boolean =
    fs(spark, path).exists(new Path(s"$path/commits/$marker"))

  /** Create `commits/<marker>` (data must already be durable). */
  def mark(spark: SparkSession, path: String, marker: String): Unit = {
    val f = fs(spark, path)
    f.mkdirs(new Path(s"$path/commits"))
    f.create(new Path(s"$path/commits/$marker"), true).close()
  }

  def servedState(spark: SparkSession, path: String): State =
    servedStateAsOf(spark, path, Long.MaxValue)

  /** Parse a marker name into (kind, id) — `batch_12` → ("batch", 12).
    * Names that are not one of `prefixes` followed by a clean Long (stray
    * temp files, ids beyond Long range) parse to None and are EXCLUDED
    * from state replay: serving an unparseable marker could silently
    * include data outside an as-of snapshot, and a raw `.toLong` would
    * fail every read of the index. [[BatchLedger]] passes its own prefix.
    */
  private[graft] def parseMarker(name: String,
      prefixes: Seq[String] = Seq("batch_", "del_", "compact_"))
      : Option[(String, Long)] =
    prefixes.collectFirst {
      case pfx if name.startsWith(pfx) => (pfx.dropRight(1), name.stripPrefix(pfx))
    }.flatMap { case (kind, suffix) => suffix.toLongOption.map(kind -> _) }

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
    val p = new Path(path + "/commits")
    val f = fs(spark, path)
    if (!f.exists(p)) return State(Seq.empty, Seq.empty)
    val parsed = f.listStatus(p).toSeq.map(_.getPath.getName)
      .flatMap(parseMarker(_))
      .filter(_._2 <= maxBatch)
    var batches = parsed.collect { case ("batch", id) => id }.toSet
    var deletes = parsed.collect { case ("del", id) => id }.toSet
    val compactions = parsed.collect { case ("compact", id) => id }.sorted
    for (cid <- compactions) {
      val in = f.open(new Path(s"$path/commits/compact_$cid"))
      val superseded =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      val supersededIds = superseded.flatMap(parseMarker(_))
      batches --= supersededIds.collect { case ("batch", id) => id }.toSet
      deletes --= supersededIds.collect { case ("del", id) => id }.toSet
      batches += cid
    }
    State(batches.toSeq.sorted, deletes.toSeq.sorted)
  }

  /** The compaction commit point: write the supersede list (every
    * marker of `state`) under a temp name, then ONE atomic rename both
    * reveals batch `newId` and hides the old set. Call only after the
    * compacted unit's data is durable. Requires `newId` to exceed every
    * served id — replay is ordered by id.
    */
  def requireFreshId(newId: Long, state: State): Unit =
    require(state.batches.forall(_ < newId) &&
      state.deletes.forall(_ < newId),
      s"compaction id $newId must exceed every served batch id " +
        s"(batches ${state.batches}, deletes ${state.deletes}): state " +
        "replay is ordered by id")

  def commitCompaction(spark: SparkSession, path: String, newId: Long,
                       state: State): Unit = {
    requireFreshId(newId, state)
    val f = fs(spark, path)
    val content = (state.batches.map(b => s"batch_$b") ++
      state.deletes.map(d => s"del_$d")).mkString("\n")
    val tmp = new Path(s"$path/commits/.compact_$newId.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    // rename reports failure as `false`: the destination exists or the
    // tmp is missing. Returning normally would claim a commit that never
    // flipped. It catches a racing compactor on HDFS only; on `file://`
    // both renames can succeed (index paths are single-writer, see above).
    require(f.rename(tmp, new Path(s"$path/commits/compact_$newId")),
      s"compaction commit rename failed for compact_$newId (destination " +
        "already exists or tmp marker missing — concurrent compactor?)")
  }

  /** Sweep units unreachable from the served state. `dirsFor` maps a
    * marker kind ("batch" | "del" | "compact") and id to the
    * index-specific data directories of that unit (relative to `path`).
    * Data directories are deleted first, the marker last, so a
    * mid-sweep crash leaves the superseded set computable and the retry
    * completes; readers are unaffected throughout (superseded ids are
    * already excluded by the compaction marker, and a marker whose
    * directory is gone contributes nothing). Returns units removed.
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
    val p = new Path(path + "/commits")
    val f = fs(spark, path)
    if (!f.exists(p)) return 0
    // unparseable names are skipped (treated live): vacuum must never
    // delete what state replay could not have accounted for
    val raw = f.listStatus(p).toSeq.map(_.getPath.getName)
      .flatMap(n => parseMarker(n).map { case (kind, id) => (n, kind, id) })
    val names = raw.filterNot(_._2 == "compact") ++
      raw.filter(_._2 == "compact").sortBy(_._3)
    val state = servedState(spark, path)
    val liveBatch = state.batches.toSet
    val liveDel = state.deletes.toSet
    var n = 0
    for ((name, kind, id) <- names) {
      val (dirs, live) = kind match {
        case "batch" => (dirsFor("batch", id), liveBatch(id))
        case "del"   => (dirsFor("del", id), liveDel(id))
        // a compaction's own output is removable only once a LATER
        // compaction superseded it
        case "compact" => (dirsFor("compact", id), liveBatch(id))
      }
      if (!live) {
        dirs.foreach(dd => f.delete(new Path(s"$path/$dd"), true))
        f.delete(new Path(s"$path/commits/$name"), false)
        n += 1
      }
    }
    n
  }
}
