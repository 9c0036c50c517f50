package graft.jobs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetDriverReader
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

/** Snapshot-versioned parquet table: a minimal copy-on-write transaction
  * log giving plain parquet the two properties the lifecycle operators'
  * scaladocs keep caveating away — TIME TRAVEL and isolation of readers
  * from in-flight rewrites.
  *
  * Layout (v3 — O(change) metadata, self-describing commits):
  *   root/_log/v00000042.commit      one DELTA per version: header lines
  *                                   (`#txn:<id>` ties a streaming batch to
  *                                   its commit, `#cdf:<dir>` names the
  *                                   commit's change-feed directory,
  *                                   `#schema:<json>` records the table
  *                                   schema AS OF this version), then
  *                                   `+rel/path` adds and `-rel/path`
  *                                   removes. The delta rename is the
  *                                   atomic commit point — readers only
  *                                   see files (and change feeds, and
  *                                   schemas) a committed version
  *                                   references. Commit metadata is
  *                                   O(files CHANGED), never O(table).
  *   root/_log/v00000040.checkpoint  full file list every `checkpointEvery`
  *                                   commits (and at the vacuum floor),
  *                                   prefixed by `#schema:` / `#maxtxn:`
  *                                   headers so schema lookup and
  *                                   streaming-batch recovery never replay
  *                                   more than `checkpointEvery` deltas.
  *                                   Checkpoints are DERIVED data — losing
  *                                   one only lengthens the replay — and
  *                                   are published no-replace: an existing
  *                                   checkpoint is never deleted-then-
  *                                   renamed over (the window a concurrent
  *                                   reader could hit), it is simply kept.
  *   root/data/commit-42-ab12cd34/…  every commit writes NEW files into its
  *                                   own uniquely-suffixed directory;
  *                                   existing files are never modified or
  *                                   deleted by a commit.
  *   root/_changes/v00000042-ab12cd34/…  the row-level change feed of a
  *                                   commit that opted in (a MERGE, UPDATE
  *                                   or DELETE with `changeFeed = true`).
  *                                   The directory is uniquely suffixed
  *                                   and ONLY reachable through the
  *                                   committed delta's `#cdf:` header — a
  *                                   feed staged by a commit that then
  *                                   lost its race is an inert orphan
  *                                   (`vacuumDebris` reclaims it), never
  *                                   something `changesBetween` could
  *                                   mistake for a different commit's feed.
  *
  * Concurrency: the delta publish is an ATOMIC no-replace claim (hard
  * link on `file:`, no-replace rename on HDFS-like filesystems — see
  * `writeDelta`), so a lost commit race is a loud failure instead of
  * silent history corruption. A PURE APPEND (adds only) is automatically
  * REBASED onto the winner and retried, because appends commute. A COW
  * rewrite (delete/merge/optimize) rebases iff its removed-file set is
  * DISJOINT from every winner's removes — the rewritten content was
  * derived only from files the winner provably did not touch, so
  * renumbering is safe (file-grain write-serializable semantics: a
  * winner's concurrently APPENDED rows are not re-examined by the
  * rebased rewrite, the same admission Delta's WriteSerializable level
  * makes). True overlap — two rewrites claiming the same file — stays a
  * loud failure.
  *
  * Schema evolution: every delta records the table schema as of its
  * version (`#schema:`), so `readVersion` plans old versions under their
  * OWN schema and the head under the evolved one. An append whose frame
  * carries NEW columns widens the table schema (existing files null-fill
  * the new columns at read time); changing an existing column's type is
  * refused loudly. O(1) lookup — the schema rides the delta, no replay.
  *
  * Exactly-once streaming: a streaming commit records its batch id IN the
  * delta itself (`#txn:`), so the commit and the batch bookkeeping are one
  * atomic rename. `lastCommittedBatch` reads ids newest-first and stops at
  * the nearest checkpoint, whose `#maxtxn:` header carries the highest id
  * below it — O(checkpointEvery) log reads, bounded even on a table whose
  * streaming commits are ancient history.
  *
  * Scale shape: a commit's cost is the changed files, never the table;
  * readers plan from an explicit file list reconstructed from one
  * checkpoint plus at most `checkpointEvery` deltas, so there is no
  * directory listing on the hot path at all (the listing problem a 100 TB
  * table's object store makes expensive). */
object Snapshots {

  /** Commits between full checkpoint manifests — the replay bound. */
  private val checkpointEvery = 10L
  private val maxCommitRetries = 50

  /** One commit's metadata: paths added, paths removed (both
    * root-relative), the streaming batch id when the commit came from
    * `commitStreamingBatch`, the change-feed directory name when the
    * commit published one, the table schema (json) as of this version,
    * the table properties (writer options — e.g. parquet bloom
    * opt-ins — carried forward by every commit so vacuum can never lose
    * them), and per-added-file column statistics (`#stats:` lines —
    * rows + integral [min,max] envelopes keyed by root-relative path,
    * collected at COMMIT time so plan-time file pruning never has to
    * sweep footers; see `statsIndex`). */
  final case class Delta(adds: Seq[String], removes: Seq[String],
      txn: Option[Long] = None, cdf: Option[String] = None,
      schema: Option[String] = None, props: Map[String, String] = Map.empty,
      stats: Map[String, graft.core.Skipping.FileStats] = Map.empty,
      op: Option[String] = None, ts: Option[Long] = None,
      dv: Seq[String] = Nil, dvAdd: Option[String] = None,
      copied: Seq[String] = Nil,
      minReader: Int = 1, minWriter: Int = 1,
      rfeat: Seq[String] = Nil, wfeat: Seq[String] = Nil,
      // per-added-file (size bytes, mtime ms) keyed by rel path
      // (`#fmeta:` lines) — captured at COMMIT time, when the writer
      // holds the statuses for free, so parquet checkpoints can carry
      // them and plan-time FileStatus construction needs ZERO
      // filesystem RPCs (Delta Lake records `size`/`modificationTime`
      // on every AddFile for the same reason). Absent on legacy
      // deltas; readers fall back to one getFileStatus per missing
      // file.
      fmeta: Map[String, (Long, Long)] = Map.empty,
      // WRITE-side only (never serialized): features this commit DROPS
      // from the sticky lists — the DROP FEATURE protocol downgrade.
      // writeDelta subtracts them after the predecessor union and
      // refuses if the commit's own content still requires them.
      featDrop: Seq[String] = Nil)

  /** Protocol versioning + table features — Delta's minReader/minWriter
    * + tableFeatures shape on this log. The engine ships features (type
    * widening, deletion vectors, column mapping, identity columns, …)
    * that change what bytes MEAN; without gating, a second reader
    * implementation or an older build opening such a table would read
    * wrong data SILENTLY instead of refusing loudly. Every commit
    * stamps a `#protocol:minReader,minWriter` header plus the table's
    * accumulated `#rfeat:`/`#wfeat:` feature lists (sticky: once a
    * feature is in use its mark never leaves the log — old files keep
    * needing it). Readers refuse any delta demanding an unknown READER
    * feature or a higher reader version; writers additionally refuse to
    * commit against a table demanding an unknown WRITER feature. Logs
    * written before protocol headers parse as feature-none (readable by
    * everyone — exactly Delta's legacy-protocol behavior). */
  object Protocol {
    val readerVersion = 1
    val writerVersion = 1
    /** Features that change how FILE BYTES are interpreted — required
      * reading. */
    val supportedReaderFeatures: Set[String] =
      Set("deletionVectors", "columnMapping", "typeWidening", "columnDefaults",
        "parquetCheckpoint", "checkpointSidecars", "checkpointHeadersDir")
    /** Features a WRITER must understand to keep the table's invariants
      * (identity allocation, generated-column validation, constraint
      * checks, bucket layout, CDC publication). */
    val supportedWriterFeatures: Set[String] =
      supportedReaderFeatures ++ Set("identityColumns", "generatedColumns",
        "checkConstraints", "bucketing", "changeDataFeed", "rowTracking")
  }

  /** The features THIS delta's content requires, split (reader, writer).
    * Reader features also gate writing (a writer must read first). */
  private def requiredFeatures(d: Delta, prev: Option[Delta]): (Set[String], Set[String]) = {
    var r = Set.empty[String]; var w = Set.empty[String]
    def both(f: String): Unit = { r += f; w += f }
    if (d.dv.nonEmpty || d.dvAdd.isDefined) both("deletionVectors")
    if (d.schema.exists(_.contains(physicalNameKey)) ||
        d.props.contains(retiredProp)) both("columnMapping")
    // typeWidening: a schema-carrying commit whose same-named field is a
    // WIDENING of the predecessor's type — old files keep the narrow
    // physical type, so every future reader needs widened-read support
    for (ns <- d.schema; ps <- prev.flatMap(_.schema); if ns != ps) {
      val oldByName = DataType.fromJson(ps).asInstanceOf[StructType]
        .fields.map(f => f.name -> f.dataType).toMap
      val widened = DataType.fromJson(ns).asInstanceOf[StructType].fields
        .exists(f => oldByName.get(f.name)
          .exists(t => t != f.dataType && widens(t, f.dataType)))
      if (widened) both("typeWidening")
    }
    if (d.props.keys.exists(_.startsWith(defaultPrefix))) both("columnDefaults")
    // a parquet-checkpoint table's file list lives in a checkpoint a
    // text-only reader cannot parse — reading without the feature would
    // miss (or FileNotFound on) the manifest, not misread rows, but the
    // refusal must still be loud and up-front. `auto` stamps the
    // feature IMMEDIATELY (not at first flip): the table may write a
    // parquet checkpoint at any later commit, possibly from a session a
    // legacy reader is concurrently following.
    if (parquetPathOn(d.props)) both("parquetCheckpoint")
    // the `_headers/` split layout (r17): Spark's parquet reader IGNORES
    // underscore-prefixed paths, so a reader that knows parquetCheckpoint
    // but not the split would read a split manifest's main directory as
    // the whole table — no sidecar refs, no tombstones, fresh rows only:
    // SILENT data loss (and hidden schema/protocol/maxtxn/copied headers
    // break idempotent-txn + COPY INTO dedup once vacuum drops the
    // carrying deltas). Any parquet-checkpoint table may cross
    // `inlineBelow` and split at a later boundary — possibly from a
    // session a legacy reader is concurrently following — so the gate
    // stamps with parquetCheckpoint itself, same discipline as the
    // immediate auto-sidecar stamp.
    if (parquetPathOn(d.props)) both("checkpointHeadersDir")
    // sidecar manifests: a reader without the assembly would take the
    // manifest's FRESH rows for the whole table — silent data loss, the
    // worst class — so the gate is a reader feature. `auto` tables
    // stamp it immediately (the auto-sidecar flip may fire at any later
    // commit) unless the flip is explicitly disabled.
    if (sidecarsOn(d.props) || autoSidecarsAt(d.props).isDefined)
      both("checkpointSidecars")
    if (d.props.keys.exists(_.startsWith(identityPrefix))) w += "identityColumns"
    if (d.props.keys.exists(_.startsWith(generatedPrefix))) w += "generatedColumns"
    if (d.props.keys.exists(_.startsWith(constraintPrefix))) w += "checkConstraints"
    if (d.props.contains(bucketByProp)) w += "bucketing"
    if (d.props.get(rowTrackingProp).contains("true")) w += "rowTracking"
    if (d.cdf.isDefined) w += "changeDataFeed"
    (r, w)
  }

  /** The head protocol: (minReader, minWriter, readerFeatures,
    * writerFeatures) — what DESCRIBE DETAIL surfaces and what another
    * implementation checks before touching the table. */
  def protocol(spark: SparkSession, root: String,
      version: Long = -1L): (Int, Int, Seq[String], Seq[String]) = {
    val v = if (version < 0) latestVersion(spark, root) else version
    val d = readDelta(spark, root, v)
    (d.minReader, d.minWriter, d.rfeat, d.wfeat)
  }

  /** `ALTER TABLE … DROP FEATURE <f>` — the protocol DOWNGRADE that
    * un-sticks r13's gating, Delta's two-step contract on this log:
    *
    *   1. the caller first removes the feature's LIVE dependence
    *      (`materializeDeletionVectors` for deletionVectors; for
    *      rowTracking this commit itself drops the hidden `_row_id`
    *      through the column-mapping path and removes the engine
    *      props); a feature the head's state still demands refuses
    *      loudly — including inside `writeDelta`, which re-derives the
    *      commit's requirements and rejects any drop its own content
    *      would resurrect;
    *   2. the drop commit strips the feature from the sticky lists and
    *      immediately CHECKPOINTS at the drop version (off-cycle), so a
    *      build without the feature plans head reads from that
    *      checkpoint + post-drop deltas and never touches a pre-drop
    *      delta still carrying the mark. Time travel BELOW the drop
    *      still gates (those versions genuinely need the feature);
    *      `vacuum(root, dropVersion)` is the history-truncation step
    *      that makes the table fully minimal-reader-clean — Delta's
    *      DROP FEATURE TRUNCATE HISTORY analog.
    *
    * Reader features that old FILES permanently depend on
    * (columnMapping, typeWidening, columnDefaults) are not droppable —
    * the bytes would change meaning. `parquetCheckpoint` is droppable
    * once the format property is back to `text` (this commit's own
    * checkpoint then lands in the text codec). Writer-only features
    * (identityColumns, checkConstraints, generatedColumns, bucketing,
    * changeDataFeed) drop when no table property demands them anymore. */
  def dropFeature(spark: SparkSession, root: String, feature: String): Long = {
    val head = latestVersion(spark, root)
    val prevDelta = readDelta(spark, root, head)
    require(prevDelta.rfeat.contains(feature) || prevDelta.wfeat.contains(feature),
      s"table at $root does not carry feature $feature " +
        s"(reader: [${prevDelta.rfeat.mkString(", ")}], " +
        s"writer: [${prevDelta.wfeat.mkString(", ")}])")
    val committed = feature match {
      case "deletionVectors" =>
        require(prevDelta.dv.isEmpty,
          s"cannot drop deletionVectors from $root while deletion vectors " +
            "are live — run materializeDeletionVectors first")
        commitRewrite(spark, root, head + 1,
          Delta(Nil, Nil, schema = prevDelta.schema, props = prevDelta.props,
            op = Some("metadata"), featDrop = Seq(feature)))
      case "rowTracking" =>
        val schema = prevDelta.schema.map(DataType.fromJson(_).asInstanceOf[StructType])
          .getOrElse(throw new IllegalStateException(
            s"$root has no recorded schema — cannot evolve a legacy log"))
        // one commit: retire _row_id's physical name (files keep the
        // column; readers stop asking), remove the engine props, strip
        // the feature — partial application is impossible
        val (newSchema, retiredPatch) =
          schema.fields.find(_.name == rowIdCol) match {
            case Some(f) =>
              (StructType(schema.fields.filterNot(_.name == rowIdCol)),
                Map(retiredProp -> (prevDelta.props.get(retiredProp).toSeq
                  .flatMap(_.split(',').toSeq) :+ physicalName(f))
                  .distinct.mkString(",")))
            case None => (schema, Map.empty[String, String])
          }
        val cleaned = prevDelta.props - rowTrackingProp -
          (identityPrefix + rowIdCol) - (identityPrefix + rowIdCol + ".hwm") ++
          retiredPatch
        commitRewrite(spark, root, head + 1,
          Delta(Nil, Nil, schema = Some(newSchema.json), props = cleaned,
            op = Some("metadata"), dv = prevDelta.dv, featDrop = Seq(feature)))
      case "checkpointSidecars" =>
        require(!sidecarsOn(prevDelta.props),
          s"cannot drop checkpointSidecars from $root while " +
            s"$checkpointSidecarsProp=true — unset it first")
        require(autoSidecarsAt(prevDelta.props).isEmpty,
          s"cannot drop checkpointSidecars from $root while the auto-" +
            s"sidecar flip is armed — set $autoSidecarsAtProp=-1 (or " +
            s"$checkpointFormatProp to a non-auto codec) first")
        val (_, qroot) = fsOf(spark, root)
        val withRefs = checkpointVersions(spark, root)
          .filter(cv => sidecarRefsOf(spark, qroot, cv).nonEmpty)
        require(withRefs.isEmpty,
          s"cannot drop checkpointSidecars from $root: surviving " +
            s"checkpoint(s) ${withRefs.mkString(", ")} still reference " +
            "sidecars — write a post-flip checkpoint and vacuum below them first")
        commitRewrite(spark, root, head + 1,
          Delta(Nil, Nil, schema = prevDelta.schema, props = prevDelta.props,
            op = Some("metadata"), dv = prevDelta.dv, featDrop = Seq(feature)))
      case "parquetCheckpoint" | "checkpointHeadersDir" =>
        require(!parquetPathOn(prevDelta.props),
          s"cannot drop $feature from $root while " +
            s"$checkpointFormatProp is 'parquet' or 'auto' — set it to " +
            "'text' first")
        commitRewrite(spark, root, head + 1,
          Delta(Nil, Nil, schema = prevDelta.schema, props = prevDelta.props,
            op = Some("metadata"), dv = prevDelta.dv, featDrop = Seq(feature)))
      case wf if Protocol.supportedWriterFeatures.contains(wf) &&
          !Protocol.supportedReaderFeatures.contains(wf) =>
        // writer-only features: droppable exactly when the head's props
        // no longer demand them (writeDelta's resurrect guard re-checks)
        commitRewrite(spark, root, head + 1,
          Delta(Nil, Nil, schema = prevDelta.schema, props = prevDelta.props,
            op = Some("metadata"), dv = prevDelta.dv, featDrop = Seq(wf)))
      case other => throw new UnsupportedOperationException(
        s"feature $other is not droppable: old files permanently depend " +
          "on it (the bytes would change meaning without it)")
    }
    // the off-cycle checkpoint that makes head reads feature-free
    writeCheckpoint(spark, root, committed,
      versionFileList(spark, root, committed))
    committed
  }

  private def fsOf(spark: SparkSession, root: String) = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  private def deltaPath(root: Path, v: Long) =
    new Path(root, f"_log/v$v%08d.commit")
  private def checkpointPath(root: Path, v: Long) =
    new Path(root, f"_log/v$v%08d.checkpoint")
  private def parquetCheckpointPath(root: Path, v: Long) =
    new Path(root, f"_log/v$v%08d.checkpoint.parquet")

  /** Table property selecting the checkpoint codec: `text` (default) —
    * one line per live file, driver-parsed — or `parquet` — a columnar
    * checkpoint directory readable as a DataFrame, written INCREMENTALLY
    * (previous checkpoint rows + the tail deltas, distributed) and
    * prunable as a distributed filter. At ~10⁶ files (100 TB at
    * 100 MB/file) the text parse + driver-heap stats index is the
    * planner's bottleneck; the parquet codec keeps the metadata path
    * O(change) on the driver. Gated as reader feature
    * `parquetCheckpoint`: a text-only reader build must refuse loudly
    * instead of missing the checkpoint's file list. */
  val checkpointFormatProp = "graft.checkpoint.format"

  /** `auto` threshold: live-file count at-or-above which an `auto`
    * table writes parquet checkpoints instead of text. Below it the
    * text codec is strictly cheaper (MetaScale 1k files: text commit
    * 0.07 s vs a 1.5 s distributed parquet write); above it the text
    * render/parse is the O(table) driver wall. Overridable per table
    * via `graft.checkpoint.autoThreshold`. */
  private val autoThresholdProp = "graft.checkpoint.autoThreshold"
  private val autoThresholdDefault = 10000L

  /** READ gate for the distributed checkpoint paths: `parquet` tables
    * always qualify; `auto` tables qualify too — whether a usable
    * parquet checkpoint actually exists is decided by the checkpoint
    * files themselves (nearest `.checkpoint.parquet` within the tail
    * bound), so an auto table still in its text regime just falls
    * through to the driver path. */
  private def parquetPathOn(props: Map[String, String]): Boolean =
    props.get(checkpointFormatProp).exists(f => f == "parquet" || f == "auto")

  // ---- Sidecar checkpoints (Delta v2-checkpoint shape) ---------------
  //
  // `graft.checkpoint.sidecars = true` (parquet/auto format required):
  // the checkpoint at v becomes a thin MANIFEST — header rows, sidecar
  // REFERENCE rows naming immutable row files under `_log/_sidecars/`,
  // TOMBSTONE rows, and the not-yet-spilled FRESH file rows — so an
  // incremental checkpoint writes O(change since the last spill), never
  // the O(table) full row set. Generations are CHECKPOINT VERSIONS
  // (monotone for free): a sidecar written at checkpoint v carries
  // gen v; a tombstone recorded at v kills any sidecar row of the same
  // path with gen < v; fresh manifest rows implicitly carry the
  // manifest's own version. Correctness of the gen rule: a path only
  // re-enters a sidecar via a re-add AFTER its removal, so the new copy
  // always lands at a gen ≥ the killing tombstone's and survives it.
  // Readers assemble live = (∪ sidecars ∪ fresh) ⟕̸ tombstones with ONE
  // broadcast anti-join; compaction (ref-count or tombstone caps) folds
  // everything into one sidecar and clears the tombstones, amortizing
  // the O(table) write to 1/K of checkpoints. Gated as reader feature
  // `checkpointSidecars` — a build without this assembly would read the
  // manifest's fresh rows as the whole table.
  val checkpointSidecarsProp = "graft.checkpoint.sidecars"
  private val sidecarSpillRowsProp = "graft.checkpoint.sidecar.spillRows"
  private val sidecarSpillRowsDefault = 50000L
  private val sidecarMaxRefs = 16
  private val sidecarTombCap = 100000L

  private[jobs] def sidecarsOn(props: Map[String, String]): Boolean =
    props.get(checkpointSidecarsProp).contains("true")

  /** `format = auto`'s SECOND flip (r17): an auto table whose live-file
    * count reaches this writes sidecar MANIFESTS — the plain parquet
    * codec's full-row rewrite is the trap a default-config user falls
    * into at scale (38.7 s per checkpoint at 10⁷ files vs the
    * manifest's O(change) ~2 s). The count is the previous checkpoint's
    * `shape` header row rolled forward (`ckptLayout`, the one layout
    * rule), and a previous `manifest` layout keeps the table in
    * manifests (no thrash around the threshold) until the user disables
    * with `-1`, which exits via one full plain rewrite. The reader
    * feature stamps IMMEDIATELY on auto tables (any later commit may
    * flip, possibly under a concurrently-following legacy reader), and
    * readers dispatch on the checkpoint FILES present. */
  private val autoSidecarsAtProp = "graft.checkpoint.auto.sidecarsAt"
  private val autoSidecarsAtDefault = 100000L

  /** The auto-sidecar threshold in force, None when the table is not
    * `auto`-format or the flip is disabled (`-1`). */
  private[jobs] def autoSidecarsAt(props: Map[String, String]): Option[Long] =
    if (!props.get(checkpointFormatProp).contains("auto")) None
    else Some(props.get(autoSidecarsAtProp).flatMap(_.toLongOption)
      .getOrElse(autoSidecarsAtDefault)).filter(_ >= 0)

  /** The small-checkpoint bound of the one layout rule (`ckptLayout`): a
    * parquet checkpoint is ONE part file, encoded and written on the
    * driver (no Spark job), when its live-file count AND its
    * copied-identity count — the previous checkpoint's `shape` header
    * row rolled forward through the tail — are both at most this.
    * Otherwise, or when either count is unknown, file rows and
    * header-side rows write separately and lookups read `_headers/`
    * alone. Overridable per table. */
  private val inlineHeadersProp = "graft.checkpoint.inlineBelow"
  private val inlineHeadersDefault = 20000L

  private def sidecarsDir(qroot: Path) = new Path(qroot, "_log/_sidecars")
  private def sidecarPath(qroot: Path, name: String) =
    new Path(sidecarsDir(qroot), name)
  private def newSidecarName(gen: Long) =
    f"g$gen%08d-${java.util.UUID.randomUUID.toString.take(8)}"
  private[jobs] def sidecarGenOf(name: String): Long =
    name.stripPrefix("g").takeWhile(_.isDigit).toLong

  private def tombRowOf(rel: String, gen: Long): CkptRow =
    CkptRow("tomb", rel, None, Map.empty, Map.empty, Map.empty, Map.empty,
      Map.empty, Map.empty, Map.empty, gen.toString, "")

  /** One immutable sidecar the manifest references: generation (the
    * version whose rows it holds — tombstones with a HIGHER gen kill its
    * rows), directory name, and the row count recorded at spill time
    * (None on refs written before counts rode the row) — what the
    * size-tiered compactor sorts by so a fold rewrites the SMALLEST
    * sidecars and the big bootstrap one is never re-spilled. */
  private[jobs] final case class SidecarRef(
      gen: Long, name: String, rows: Option[Long])

  private def sidecarRefRowOf(ref: SidecarRef): CkptRow =
    CkptRow("sidecar", "", ref.rows, Map.empty, Map.empty, Map.empty, Map.empty,
      Map.empty, Map.empty, Map.empty, ref.gen.toString, ref.name)

  /** (sidecar refs, tombstones) of an immutable parquet checkpoint
    * manifest — ONE pushed-filter collect, memoized per (root, cv) so a
    * plain manifest's "no sidecars here" answer costs ZERO extra jobs
    * after the first read of any (version, query) stream. Bounded +
    * purged like the sibling caches. */
  private val manifestMetaCache =
    new LruCache[(String, Long), (Seq[SidecarRef], Seq[(String, Long)])](256)

  private def manifestMeta(
      spark: SparkSession, qroot: Path, cv: Long)
      : (Seq[SidecarRef], Seq[(String, Long)]) = {
    val key = (qroot.toString, cv)
    manifestMetaCache.get(key).foreach(hit => return hit)
    val rows = readCkptMetaRows(spark, parquetCheckpointPath(qroot, cv))
      .filter(col("kind") === "sidecar" || col("kind") === "tomb")
      .select(col("kind"), col("path"), col("hkey"), col("hval"), col("rows"))
      .collect()
    val refs = rows.filter(_.getString(0) == "sidecar")
      .map(r => SidecarRef(r.getString(2).toLong, r.getString(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    val tombs = rows.filter(_.getString(0) == "tomb")
      .map(r => (r.getString(1), r.getString(2).toLong)).toSeq
    manifestMetaCache.put(key, (refs, tombs))
    (refs, tombs)
  }

  /** The sidecar references of the parquet checkpoint at `cv` (empty on
    * plain checkpoints and non-parquet versions). */
  private def sidecarRefsOf(
      spark: SparkSession, qroot: Path, cv: Long): Seq[SidecarRef] = {
    val pq = parquetCheckpointPath(qroot, cv)
    val fs = qroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(pq)) return Nil
    manifestMeta(spark, qroot, cv)._1
  }

  /** The LIVE file rows of the parquet checkpoint at `cv`, whichever
    * shape it has: a plain checkpoint's `kind = "file"` rows directly, a
    * sidecar MANIFEST assembled as (∪ sidecar rows at their gens ∪ fresh
    * rows at the manifest's version) anti-joined against the broadcast
    * tombstone set (kill iff tombGen > rowGen). The single read
    * primitive every parquet-checkpoint consumer shares. */
  private def assembleCheckpointRows(
      spark: SparkSession, qroot: Path, cv: Long)
      : org.apache.spark.sql.Dataset[CkptRow] = {
    val man = readCkptRows(spark, parquetCheckpointPath(qroot, cv))
    val (refs, tombs) = manifestMeta(spark, qroot, cv)
    val fresh = man.filter(col("kind") === "file")
    if (refs.isEmpty) return fresh
    val parts = refs.map { r =>
      readCkptRows(spark, sidecarPath(qroot, r.name))
        .filter(col("kind") === "file").toDF()
        .withColumn("_gen", lit(r.gen))
    } :+ fresh.toDF().withColumn("_gen", lit(cv))
    val all = parts.reduce(_ unionByName _)
    val live =
      if (tombs.isEmpty) all
      else {
        val t = spark.createDataFrame(tombs).toDF("_tpath", "_tgen")
        all.join(broadcast(t),
          all("path") === t("_tpath") && t("_tgen") > col("_gen"), "left_anti")
      }
    live.drop("_gen").as[CkptRow]
  }

  /** Recent fallback events (stale-checkpoint gate trips, distributed
    * prune/summary declines) — WARN-logged for production
    * diagnosability and kept in a bounded ring so specs can pin that
    * the pathology is at least VISIBLE when it happens. */
  private[graft] val fallbackEvents =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.jobs.Snapshots")
  private def noteFallback(msg: String): Unit = {
    log.warn(msg)
    fallbackEvents.add(msg)
    while (fallbackEvents.size > 64) fallbackEvents.poll()
  }

  /** Sidecar maintenance (spill / compaction fold) events — INFO-logged
    * (normal amortized work, not a pathology) and kept in their own
    * bounded ring so benches and operators can ATTRIBUTE a slow
    * checkpoint boundary to the maintenance it performed. */
  private[graft] val maintenanceEvents =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private def noteMaintenance(msg: String): Unit = {
    log.info(msg)
    maintenanceEvents.add(msg)
    while (maintenanceEvents.size > 64) maintenanceEvents.poll()
  }

  /** Cumulative sidecar maintenance counters for the whole JVM —
    * MetaScale snapshots them around a boundary commit and emits the
    * deltas, so every steady-state checkpoint cell carries its
    * maintenance cost explicitly instead of an unexplained spike. */
  private[graft] object SidecarMaintenance {
    import java.util.concurrent.atomic.AtomicLong
    val spills = new AtomicLong(0L)
    val spillNanos = new AtomicLong(0L)
    val spilledRows = new AtomicLong(0L)
    val folds = new AtomicLong(0L)
    val foldNanos = new AtomicLong(0L)
    val foldedRows = new AtomicLong(0L)
    /** (spills, spillSec, spilledRows, folds, foldSec, foldedRows). */
    def snapshot: (Long, Double, Long, Long, Double, Long) =
      (spills.get, spillNanos.get / 1e9, spilledRows.get,
        folds.get, foldNanos.get / 1e9, foldedRows.get)
  }

  /** One row of a parquet checkpoint: a live data file with its stats
    * envelopes (`kind = "file"`; string envelopes hex-coded exactly like
    * the text codec, so unsigned-lex byte order survives as plain string
    * order) or one header (`kind = "header"`: schema, protocol, rfeat,
    * wfeat, maxtxn, copied — the text checkpoint's `#key:value` lines as
    * (hkey, hval) rows — plus the parquet-only aggr and shape).
    * `rows = None` means the log recorded no stats for the file (kept by
    * every pruning family). */
  private[jobs] final case class CkptRow(
      kind: String, path: String, rows: Option[Long],
      lmin: Map[String, Long], lmax: Map[String, Long],
      dmin: Map[String, Double], dmax: Map[String, Double],
      smin: Map[String, String], smax: Map[String, String],
      nulls: Map[String, Long],
      hkey: String, hval: String,
      // the file's (immutable) length and mtime, from the adding
      // delta's `#fmeta:` — lets plan-time FileStatus construction run
      // with ZERO filesystem RPCs (Delta's AddFile.size). None on rows
      // descending from legacy logs; readers stat exactly those.
      fsize: Option[Long] = None, mtime: Option[Long] = None)

  private implicit lazy val ckptEnc: org.apache.spark.sql.Encoder[CkptRow] =
    org.apache.spark.sql.Encoders.product[CkptRow]

  /** A parquet checkpoint's layout (chosen by `ckptLayout` alone):
    * `Inline` — the plain live set and every header-side row in ONE part
    * file written on the driver; `Split` — the plain live set plus the
    * `_headers/` side directory, two write jobs; `Manifest` — a sidecar
    * manifest, written either way (`oneFile`). */
  private[jobs] sealed abstract class CkptLayout(val name: String) {
    def oneFile: Boolean
  }
  private[jobs] object CkptLayout {
    case object Inline extends CkptLayout("inline") { val oneFile = true }
    case object Split extends CkptLayout("split") { val oneFile = false }
    final case class Manifest(oneFile: Boolean) extends CkptLayout("manifest")
    // how a recorded manifest was written never steers the next layout
    val byName: Map[String, CkptLayout] =
      Seq(Inline, Split, Manifest(oneFile = false)).map(l => l.name -> l).toMap
  }

  /** What a parquet checkpoint records about itself in its `shape`
    * header row (`layout,live,copied`): its layout, its live-file count
    * (None when unknown) and its copied-identity count (exact, or an
    * upper bound when the identities stayed distributed). */
  private[jobs] final case class CkptShape(
      layout: CkptLayout, live: Option[Long], copied: Long) {
    def render: String = s"${layout.name},${live.getOrElse("")},$copied"
  }

  private def parseShape(hval: String): Option[CkptShape] =
    hval.split(",", -1) match {
      case Array(l, n, c) if n.isEmpty || n.toLongOption.isDefined =>
        for (layout <- CkptLayout.byName.get(l); copied <- c.toLongOption)
          yield CkptShape(layout, n.toLongOption, copied)
      case _ => None
    }

  /** One file row for the parquet checkpoint. On partitioned tables the
    * path-encoded partition values are BAKED IN as point envelopes (the
    * exact `partitionPointEnvelopes` families) at write time, so a
    * partition conjunct prunes as a plain envelope comparison on the
    * distributed path — the per-row path-parsing UDFs survive only as
    * the fallback for rows written before this (r16), detected per row
    * by the envelope's absence. */
  private def ckptRowOf(rel: String, s: Option[graft.core.Skipping.FileStats],
      fm: Option[(Long, Long)], partCols: Seq[String]): CkptRow = {
    val base = s match {
      case Some(st) => CkptRow("file", rel, Some(st.rows),
        st.mins, st.maxs, st.dmins, st.dmaxs,
        st.smins.map { case (k, b) => k -> graft.core.Skipping.toHex(b) },
        st.smaxs.map { case (k, b) => k -> graft.core.Skipping.toHex(b) },
        st.nullCounts, "", "", fm.map(_._1), fm.map(_._2))
      case None => CkptRow("file", rel, None, Map.empty, Map.empty,
        Map.empty, Map.empty, Map.empty, Map.empty, Map.empty, "", "",
        fm.map(_._1), fm.map(_._2))
    }
    if (partCols.isEmpty) base
    else {
      val (lv, dv, sv, nv) =
        partitionPointEnvelopes(rel, partCols, s.map(_.rows).getOrElse(0L))
      val svHex = sv.map { case (k, b) => k -> graft.core.Skipping.toHex(b) }
      // without a row count the all-null (default-partition) null count
      // is unknowable — keep only CONCRETE-valued columns (their zero is
      // exact regardless of rows; every concrete value lands in exactly
      // one of the three value families). Filtering on the computed
      // count would keep a default-partition entry whose `rows`
      // defaulted to 0 — a false "zero nulls" baked into an all-null
      // file.
      val concrete = lv.keySet ++ dv.keySet ++ sv.keySet
      val nvSafe = if (s.isDefined) nv else nv.filter(kv => concrete(kv._1))
      base.copy(
        lmin = base.lmin ++ lv, lmax = base.lmax ++ lv,
        dmin = base.dmin ++ dv, dmax = base.dmax ++ dv,
        smin = base.smin ++ svHex, smax = base.smax ++ svHex,
        nulls = base.nulls ++ nvSafe)
    }
  }

  /** A checkpoint that is not one part file (`CkptLayout.oneFile`) keeps
    * its header-side rows (headers — the `shape` row among them —
    * sidecar refs, tombs, copied identities) in this SUB-DIRECTORY,
    * which Spark's parquet reader ignores: the main directory reads as
    * pure file rows, and header/manifest lookups read the side directory
    * alone, O(1) in the table's file count (the r16 `partsc` size_cold
    * gap). Readers dispatch on its presence, so every layout reads
    * identically. */
  private val ckptHeadersDirName = "_headers"

  /** The rows a header/manifest lookup needs: the `_headers` side
    * directory when the checkpoint has one, the whole checkpoint
    * otherwise (inline/legacy layouts — small by construction or by
    * age). Stays a distributed frame: `copied` identities can be
    * O(10⁶) at scale. */
  private def readCkptMetaRows(
      spark: SparkSession, pq: Path): org.apache.spark.sql.Dataset[CkptRow] = {
    val fs = pq.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hdrs = new Path(pq, ckptHeadersDirName)
    if (fs.exists(hdrs))
      spark.read.schema(ckptEnc.schema).parquet(hdrs.toString).as[CkptRow]
    else readCkptRows(spark, pq)
  }

  /** The COPY INTO identities the parquet checkpoint at `cv` records. */
  private def ckptCopiedRows(spark: SparkSession, qroot: Path, cv: Long) =
    readCkptMetaRows(spark, parquetCheckpointPath(qroot, cv))
      .filter(col("kind") === "header" && col("hkey") === "copied")

  /** A checkpoint parquet directory as `Dataset[CkptRow]` — the main
    * file-row parts plus the `_headers` side directory when present.
    * The EXPLICIT schema makes two tolerances free: checkpoints written
    * before `fsize`/`mtime` rode the rows null-fill those columns, and
    * a main directory holding ZERO data files (a sidecar manifest whose
    * fresh set spilled) still reads as an empty frame instead of
    * failing schema inference. */
  private def readCkptRows(
      spark: SparkSession, pq: Path): org.apache.spark.sql.Dataset[CkptRow] = {
    val fs = pq.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries =
      try fs.listStatus(pq)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new java.io.FileNotFoundException(s"no checkpoint directory at $pq")
      }
    // the explicit schema below skips inference, so a vacuum-raced or
    // corrupted checkpoint would otherwise read as EMPTY instead of
    // failing loudly — validate driver-side that at least one real
    // parquet part exists (a valid part is never zero-length; even an
    // empty-frame write lands a footer-only part)
    def isData(s: org.apache.hadoop.fs.FileStatus) = s.isFile && s.getLen > 0 &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")
    val hdrs = entries.find(s =>
      s.isDirectory && s.getPath.getName == ckptHeadersDirName).map(_.getPath)
    if (!entries.exists(isData) && hdrs.isEmpty)
      throw new java.io.FileNotFoundException(
        s"checkpoint at $pq holds no data files — vacuum race or corruption")
    val paths = pq.toString +: hdrs.map(_.toString).toSeq
    spark.read.schema(ckptEnc.schema).parquet(paths: _*).as[CkptRow]
  }

  /** Path-encoded partition values of one file as POINT stats envelopes
    * in the family they parse as — integral, double, or string. A
    * numeric-looking value NEVER enters the string family: DML
    * predicates are UNRESOLVED, so `part = '05'` on an integer
    * partition carries a string literal whose bytes differ from the
    * path's "5" even though the resolved comparison matches —
    * byte-space point envelopes are only sound for values with no
    * numeric reading. An exact value is its own lower AND upper bound;
    * partition-value lengths need no truncation. Nullness is exact: a
    * concrete value means zero nulls in the file; the default partition
    * means every row is null there. The ONE augmentation both pruning
    * paths share — the driver stats-index loop and the distributed
    * checkpoint-row filter — so they can never disagree on a file. */
  private[jobs] def partitionPointEnvelopes(
      path: String, partCols: Seq[String], rows: Long):
      (Map[String, Long], Map[String, Double],
        Map[String, Seq[Byte]], Map[String, Long]) = {
    val pvsAll = graft.core.HivePartitions.valuesOf(path, partCols)
    val pvs = pvsAll.collect { case (c, Some(v)) => c -> v }
    val lv = pvs.collect { case (c, v) if v.toLongOption.isDefined => c -> v.toLong }
    val dv = pvs.collect {
      case (c, v) if v.toLongOption.isEmpty &&
        v.toDoubleOption.exists(d => !d.isNaN && !d.isInfinite) => c -> v.toDouble
    }
    val sv = pvs.collect {
      case (c, v) if v.toDoubleOption.isEmpty => c -> v.getBytes("UTF-8").toSeq
    }
    val nv = pvsAll.map { case (c, ov) => c -> (if (ov.isDefined) 0L else rows) }
    (lv, dv, sv, nv)
  }

  private def headerRowOf(k: String, v: String): CkptRow =
    CkptRow("header", "", None, Map.empty, Map.empty, Map.empty, Map.empty,
      Map.empty, Map.empty, Map.empty, k, v)

  /** The ONE validity rule for an aggr value derived from
    * (rowCount, rowsWithRecordedSize, byteSum): exact only when every
    * live row carries a recorded size; a partial sum would understate
    * the table and mis-size every downstream plan. `bytes` is by-name —
    * it may be null-backed when no row had a size. */
  private def validAggr(n: Long, withSize: Long, bytes: => Long)
      : Option[(Long, Long)] =
    if (n == 0L) Some((0L, 0L))
    else if (withSize == n) Some((n, bytes))
    else None

  private def fileStatsOf(r: CkptRow): Option[graft.core.Skipping.FileStats] =
    r.rows.map(n => graft.core.Skipping.FileStats(r.path, n,
      r.lmin, r.lmax, r.dmin, r.dmax,
      r.smin.map { case (k, h) => k -> graft.core.Skipping.fromHex(h) },
      r.smax.map { case (k, h) => k -> graft.core.Skipping.fromHex(h) },
      r.nulls))

  private def logVersions(spark: SparkSession, root: String, suffix: String): Seq[Long] = {
    val (fs, qroot) = fsOf(spark, root)
    val log = new Path(qroot, "_log")
    if (!fs.exists(log)) Seq.empty
    else fs.listStatus(log).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(suffix))
      .map(n => n.stripPrefix("v").stripSuffix(suffix).toLong)
      .sorted
  }

  /** Versions present in the log, ascending. */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    logVersions(spark, root, ".commit")

  private def checkpointVersions(spark: SparkSession, root: String): Seq[Long] =
    (logVersions(spark, root, ".checkpoint") ++
      logVersions(spark, root, ".checkpoint.parquet")).distinct.sorted

  def latestVersion(spark: SparkSession, root: String): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshot log at $root")
    vs.last
  }

  /** DESCRIBE HISTORY: one row per committed version, newest first —
    * what a table operator asks before trusting a rollback, a vacuum, or
    * a CDC range. Everything comes from the delta headers: the commit
    * kind (`#op:`), its in-commit timestamp, add/remove file counts, the
    * streaming batch id if one rode the commit (`#txn:`), whether a
    * change feed was published (`#cdf:`) and whether the commit carried a
    * schema (evolution or init). O(surviving versions) driver-side
    * metadata reads — the same grain Delta's DESCRIBE HISTORY pays;
    * never a data scan. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    versions(spark, root).reverse.map { v =>
      val d = readDelta(spark, root, v)
      (v, d.ts.getOrElse(-1L), d.op.getOrElse("unknown"),
        d.adds.size.toLong, d.removes.size.toLong,
        d.txn.getOrElse(-1L), d.cdf.isDefined, d.schema.isDefined)
    }.toDF("version", "commit_ts_ms", "op", "n_added", "n_removed",
      "txn", "has_feed", "carries_schema")
  }

  /** When version `v` committed, epoch millis: the delta's `#ts:` header
    * (strictly increasing by construction — `writeDelta` stamps
    * `max(now, predecessor + 1)`), or the delta FILE's modification time
    * on logs written before timestamps rode the deltas (Delta Lake's own
    * legacy fallback). */
  def commitTimestamp(spark: SparkSession, root: String, v: Long): Long =
    readDelta(spark, root, v).ts.getOrElse {
      val (fs, qroot) = fsOf(spark, root)
      fs.getFileStatus(deltaPath(qroot, v)).getModificationTime
    }

  /** The version a reader at wall-clock `tsMillis` saw: the LATEST
    * version whose commit timestamp is `<= tsMillis` — `timestampAsOf`
    * time travel. Legacy mtime fallbacks are monotonized with a running
    * max so a disturbed file time can't make resolution non-monotone.
    * O(surviving versions) small metadata reads, once per query at plan
    * time — never a data scan. */
  def versionAt(spark: SparkSession, root: String, tsMillis: Long): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshot log at $root")
    var acc = Long.MinValue
    var ans = -1L
    vs.foreach { v =>
      acc = math.max(acc, commitTimestamp(spark, root, v))
      if (acc <= tsMillis) ans = v
    }
    require(ans >= 0,
      s"no version of $root committed at or before $tsMillis " +
        s"(earliest surviving commit: ${commitTimestamp(spark, root, vs.head)})")
    ans
  }

  /** The EARLIEST version whose commit timestamp is `>= tsMillis` — the
    * `startingTimestamp` resolution for streaming tails ("give me every
    * change from this wall-clock moment on"). A timestamp past the last
    * commit resolves to `latest + 1`: the tail starts empty and emits
    * future commits, rather than failing a consumer who anchored at
    * "now". Same monotonized walk as `versionAt`. */
  def versionAtOrAfter(spark: SparkSession, root: String, tsMillis: Long): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshot log at $root")
    var acc = Long.MinValue
    vs.foreach { v =>
      acc = math.max(acc, commitTimestamp(spark, root, v))
      if (acc >= tsMillis) return v
    }
    vs.last + 1
  }

  private def readLines(spark: SparkSession, root: String, p: Path): Seq[String] = {
    val (fs, _) = fsOf(spark, root)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList.filter(_.nonEmpty)
    finally in.close()
  }

  /** `#stats:` line codec: `path|rows|col=min:max;col2=min:max` (cols
    * sorted; a column whose NAME contains a separator simply doesn't ride
    * — it stays unprunable, which is always sound). Typed families
    * extend the VALUE form back-compatibly (a legacy integral value
    * starts with a digit or '-', never a tag letter):
    *
    *   - integral (legacy): `col=<long>:<long>`
    *   - double:            `col=D<toString>:<toString>` (round-trip
    *     exact; NaN/Infinity never ride — dropped at collection)
    *   - string:            `col=S<hex>:<hex>` (16-byte-truncated UTF-8
    *     bytes; either side may be empty = absent)
    *
    * Shared by deltas and checkpoints. */
  /** Column names the `#stats:` line codec can carry — names holding a
    * codec separator are silently skipped at render time, so anything
    * CACHING a pre-render Delta must filter identically (see
    * `writeDelta`'s cache seed) or the writing JVM would prune with
    * envelopes no other reader of the same version has. */
  private def statsEncodable(c: String) = !c.exists("|;=:\n".contains(_))

  /** `stats` restricted to what a render→parse round-trip preserves. */
  private def statsAsReadBack(
      stats: Map[String, graft.core.Skipping.FileStats])
      : Map[String, graft.core.Skipping.FileStats] =
    stats.map { case (rel, s) =>
      rel -> s.copy(
        mins = s.mins.filter(kv => statsEncodable(kv._1)),
        maxs = s.maxs.filter(kv => statsEncodable(kv._1)),
        dmins = s.dmins.filter(kv => statsEncodable(kv._1)),
        dmaxs = s.dmaxs.filter(kv => statsEncodable(kv._1)),
        smins = s.smins.filter(kv => statsEncodable(kv._1)),
        smaxs = s.smaxs.filter(kv => statsEncodable(kv._1)),
        nullCounts = s.nullCounts.filter(kv => statsEncodable(kv._1)))
    }

  private def renderStats(rel: String, s: graft.core.Skipping.FileStats): String = {
    import graft.core.Skipping.toHex
    def ok(c: String) = statsEncodable(c)
    val longs = s.mins.keys.toSeq.sorted.filter(ok)
      .map(c => s"$c=${s.mins(c)}:${s.maxs(c)}")
    val dbls = s.dmins.keys.toSeq.sorted.filter(ok)
      .map(c => s"$c=D${s.dmins(c)}:${s.dmaxs(c)}")
    val strs = (s.smins.keySet ++ s.smaxs.keySet).toSeq.sorted.filter(ok)
      .map(c => s"$c=S${s.smins.get(c).map(toHex).getOrElse("")}:" +
        s.smaxs.get(c).map(toHex).getOrElse(""))
    val nulls = s.nullCounts.keys.toSeq.sorted.filter(ok)
      .map(c => s"$c=N${s.nullCounts(c)}")
    s"#stats:$rel|${s.rows}|${(longs ++ dbls ++ strs ++ nulls).mkString(";")}"
  }

  private def parseStats(line: String): (String, graft.core.Skipping.FileStats) = {
    import graft.core.Skipping.fromHex
    val body = line.stripPrefix("#stats:")
    val i = body.indexOf('|'); val j = body.indexOf('|', i + 1)
    val rel = body.take(i)
    val rows = body.substring(i + 1, j).toLong
    val mins = Map.newBuilder[String, Long]; val maxs = Map.newBuilder[String, Long]
    val dmins = Map.newBuilder[String, Double]; val dmaxs = Map.newBuilder[String, Double]
    val smins = Map.newBuilder[String, Seq[Byte]]; val smaxs = Map.newBuilder[String, Seq[Byte]]
    val nulls = Map.newBuilder[String, Long]
    body.drop(j + 1).split(';').foreach { kv =>
      if (kv.nonEmpty) {
        val e = kv.indexOf('=')
        val c = kv.take(e)
        val v = kv.drop(e + 1)
        val sep = v.indexOf(':')
        if (v.startsWith("N")) {
          nulls += c -> v.drop(1).toLong
        } else if (v.startsWith("D")) {
          dmins += c -> v.substring(1, sep).toDouble
          dmaxs += c -> v.drop(sep + 1).toDouble
        } else if (v.startsWith("S")) {
          val lo = v.substring(1, sep); val hi = v.drop(sep + 1)
          if (lo.nonEmpty) smins += c -> fromHex(lo)
          if (hi.nonEmpty) smaxs += c -> fromHex(hi)
        } else {
          mins += c -> v.take(sep).toLong
          maxs += c -> v.drop(sep + 1).toLong
        }
      }
    }
    rel -> graft.core.Skipping.FileStats(rel, rows,
      mins.result(), maxs.result(), dmins.result(), dmaxs.result(),
      smins.result(), smaxs.result(), nulls.result())
  }

  /** Delta headers memoized per (qualified root, version) — a committed
    * version's delta file is IMMUTABLE (atomic no-replace publish), so
    * one filesystem read serves every later consumer: the optimizer's
    * fixed-point batches (GeneratedPruningRule runs ≥2× per query),
    * `tableProperties`, `versionSchema`, `history`, candidate selection.
    * At object-store metadata latency this is the difference between
    * O(1) and O(optimizer iterations × queries) log round trips.
    * Invalidation: a table re-created at the same path restarts at
    * version 0 — `writeDelta` purges the root's entries on any v0
    * publish (the only way a fresh log can begin). Bounded wholesale, not
    * LRU: every resolve reads it once per tail delta, lock-free. */
  private val deltaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Delta]()

  /** Cache-miss counter (filesystem reads of delta files) — test hook
    * for the ≤1-log-read-per-version pin. */
  private[graft] val deltaFileReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Access-order LRU bounded by total WEIGHT (rows), not entry count —
    * the r16 liveMetaCache held up to 8 entries of O(files) rows each
    * (~1 GB/entry at 10⁷ files), an unbounded driver-heap ceiling in
    * table size × entry cap. Eviction drops least-recently-used entries
    * until the total fits; an entry bigger than the whole budget is
    * cached ALONE (everything else evicted) — the ceiling is then
    * max(budget, largest single version's live count), i.e. never more
    * than the transient heap the plan itself needs to enumerate its
    * splits. */
  private[jobs] final class WeightedLruCache[K, V](weight: V => Long) {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
    private var total = 0L
    def get(k: K): Option[V] = m.synchronized(Option(m.get(k)))
    def put(k: K, v: V, budget: Long): Unit = m.synchronized {
      Option(m.remove(k)).foreach(old => total -= weight(old))
      m.put(k, v); total += weight(v)
      val it = m.entrySet.iterator
      while (total > budget && it.hasNext) {
        val e = it.next()
        if (e.getKey != k) { total -= weight(e.getValue); it.remove() }
      }
    }
    def removeKeysIf(p: K => Boolean): Unit = m.synchronized {
      val it = m.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        if (p(e.getKey)) { total -= weight(e.getValue); it.remove() }
      }
    }
    def keys: Seq[K] = m.synchronized {
      val out = Seq.newBuilder[K]
      m.keySet.forEach(k => out += k)
      out.result()
    }
    def totalWeight: Long = m.synchronized(total)
  }

  /** Tiny synchronized access-order LRU — per-entry eviction instead of
    * a wholesale `clear()`, so a multi-table workload keeps its hot
    * entries when a cold one pushes the cache past capacity. */
  private[jobs] final class LruCache[K, V](cap: Int) {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size > cap
    }
    def get(k: K): Option[V] = m.synchronized(Option(m.get(k)))
    def put(k: K, v: V): Unit = m.synchronized { m.put(k, v); () }
    def removeKeysIf(p: K => Boolean): Unit = m.synchronized {
      val it = m.keySet.iterator
      while (it.hasNext) if (p(it.next())) it.remove()
    }
    def keys: Seq[K] = m.synchronized {
      val out = Seq.newBuilder[K]
      m.keySet.forEach(k => out += k)
      out.result()
    }
  }

  /** Drop every cached artifact of `qroot` — called when a NEW log is
    * born at a path (v0 publish), the one event that can change what a
    * (root, version) key means. */
  private def purgeRootCaches(qroot: String): Unit = {
    deltaCache.keySet.removeIf(_._1 == qroot)
    indexCache.removeKeysIf(_._1 == qroot)
    reconstructCache.removeKeysIf(_._1 == qroot)
    envelopeSummaryCache.removeKeysIf(_._1 == qroot)
    liveMetaCache.removeKeysIf(_._1 == qroot)
    liveAggrCache.removeKeysIf(_._1 == qroot)
    ckptMetaCache.removeKeysIf(_._1 == qroot)
    manifestMetaCache.removeKeysIf(_._1 == qroot)
  }

  /** Explicit cache invalidation for OUT-OF-BAND log surgery (manual
    * delta edits, external tools rewriting history) — committed deltas
    * are immutable by protocol, so the engine never needs this itself;
    * anything that edits a delta file in place must call it. */
  private[graft] def invalidateCaches(spark: SparkSession, root: String): Unit =
    purgeRootCaches(fsOf(spark, root)._2.toString)

  private[jobs] def readDelta(spark: SparkSession, root: String, v: Long): Delta = {
    val (_, qroot) = fsOf(spark, root)
    val key = (qroot.toString, v)
    val hit = deltaCache.get(key)
    if (hit != null) return hit
    val d = readDeltaUncached(spark, root, v)
    if (deltaCache.size > 4096) deltaCache.clear()
    deltaCache.put(key, d)
    d
  }

  private def readDeltaUncached(spark: SparkSession, root: String, v: Long): Delta = {
    val (_, qroot) = fsOf(spark, root)
    deltaFileReads.incrementAndGet()
    val lines = readLines(spark, root, deltaPath(qroot, v))
    val d = Delta(
      adds = lines.filter(_.startsWith("+")).map(_.substring(1)),
      removes = lines.filter(_.startsWith("-")).map(_.substring(1)),
      txn = lines.find(_.startsWith("#txn:")).map(_.stripPrefix("#txn:").toLong),
      cdf = lines.find(_.startsWith("#cdf:")).map(_.stripPrefix("#cdf:")),
      schema = lines.find(_.startsWith("#schema:")).map(_.stripPrefix("#schema:")),
      props = lines.filter(_.startsWith("#prop:")).map { l =>
        val kv = l.stripPrefix("#prop:")
        val i = kv.indexOf('=')
        kv.take(i) -> kv.drop(i + 1)
      }.toMap,
      stats = lines.filter(_.startsWith("#stats:")).map(parseStats).toMap,
      op = lines.find(_.startsWith("#op:")).map(_.stripPrefix("#op:")),
      ts = lines.find(_.startsWith("#ts:")).map(_.stripPrefix("#ts:").toLong),
      dv = lines.filter(_.startsWith("#dv:")).map(_.stripPrefix("#dv:")),
      dvAdd = lines.find(_.startsWith("#dvadd:")).map(_.stripPrefix("#dvadd:")),
      copied = lines.filter(_.startsWith("#copied:")).map(_.stripPrefix("#copied:")),
      minReader = protoOf(lines).map(_._1).getOrElse(1),
      minWriter = protoOf(lines).map(_._2).getOrElse(1),
      rfeat = lines.filter(_.startsWith("#rfeat:")).map(_.stripPrefix("#rfeat:")),
      wfeat = lines.filter(_.startsWith("#wfeat:")).map(_.stripPrefix("#wfeat:")),
      fmeta = lines.filter(_.startsWith("#fmeta:")).map { l =>
        val parts = l.stripPrefix("#fmeta:").split(",", 3)
        parts(2) -> (parts(0).toLong, parts(1).toLong)
      }.toMap)
    // READER gate: refuse loudly before returning metadata another code
    // path could act on — a protocol this build can't honor means the
    // file bytes don't mean what our readers would assume (DVs ignored,
    // physical names misresolved, narrow types read as-is)
    val unknownR = d.rfeat.filterNot(Protocol.supportedReaderFeatures)
    if (d.minReader > Protocol.readerVersion || unknownR.nonEmpty)
      throw new IllegalStateException(
        s"cannot read $root version $v: the log requires reader protocol " +
          s"${d.minReader} and feature(s) [${d.rfeat.mkString(", ")}]; this " +
          s"build supports reader protocol ${Protocol.readerVersion} and " +
          s"[${Protocol.supportedReaderFeatures.toSeq.sorted.mkString(", ")}] — " +
          "upgrade the engine; reading anyway would return wrong data")
    d
  }

  private def protoOf(lines: Seq[String]): Option[(Int, Int)] =
    lines.find(_.startsWith("#protocol:")).map { l =>
      val parts = l.stripPrefix("#protocol:").split(",", 2)
      (parts(0).trim.toInt, parts(1).trim.toInt)
    }

  /** Table properties as of `version` (default: latest) — writer options
    * (parquet bloom opt-ins, compression, …) recorded at `init` and
    * carried by every delta, applied to every subsequent data commit. */
  def tableProperties(spark: SparkSession, root: String, version: Long = -1L): Map[String, String] = {
    val v = if (version < 0) latestVersion(spark, root) else version
    readDelta(spark, root, v).props
  }

  /** The table schema as of `version` (default: latest) — read from the
    * version's delta header, O(1). `None` only for logs written before
    * schemas rode the deltas (readers then fall back to parquet
    * inference). */
  def versionSchema(spark: SparkSession, root: String, version: Long = -1L): Option[StructType] = {
    val v = if (version < 0) latestVersion(spark, root) else version
    readDelta(spark, root, v).schema.map(DataType.fromJson(_).asInstanceOf[StructType])
  }

  /** Recorded schemas are all-nullable: evolution null-fills old files,
    * and parquet can't enforce non-null across commits anyway. */
  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  // ---- Column mapping (rename/drop without rewriting data) -----------
  //
  // Delta's columnMapping idea on this log: each column's PHYSICAL name
  // (the name in the parquet files) is frozen at first appearance and
  // recorded as field METADATA in the delta's `#schema:` header; the
  // field NAME is the logical, user-facing one. A rename is then a
  // metadata-only commit (logical name changes, physical stays, files
  // untouched); a drop removes the field from the schema and retires
  // its physical name (files keep the column, readers stop asking for
  // it). Re-adding a dropped name — or any physical collision — assigns
  // a FRESH suffixed physical name, so old files' bytes can never
  // resurrect under a reborn column. Tables that never rename carry no
  // metadata and every mapping below is the identity.

  private val physicalNameKey = "graft.physicalName"
  private val retiredProp = "graft.retiredPhysical"

  private[graft] def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(physicalNameKey)) f.metadata.getString(physicalNameKey)
    else f.name

  private def hasMapping(s: StructType): Boolean =
    s.fields.exists(_.metadata.contains(physicalNameKey))

  /** `schema` with physical field names — what the FILES hold. */
  private def physicalSchema(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = physicalName(f))))

  /** logical → physical column-name map of `schema` (identity entries
    * included). */
  private[graft] def physicalMap(s: StructType): Map[String, String] =
    s.fields.map(f => f.name -> physicalName(f)).toMap

  /** Rename `df` (logical columns ⊆ `schema`) to physical names for a
    * data write. Identity when the table has no mapping. */
  private def toPhysical(df: DataFrame, schema: StructType): DataFrame =
    if (!hasMapping(schema)) df
    else {
      val m = physicalMap(schema)
      df.select(df.columns.toSeq.map(c => col(c).as(m.getOrElse(c, c))): _*)
    }

  /** Freeze physical names for genuinely-NEW fields an evolving commit
    * introduces: physical = logical unless that physical name is already
    * live in `prev` or retired by a past drop — then a fresh suffixed
    * name, so a reborn column can never read a dead column's bytes. */
  private def assignPhysical(
      prev: Option[StructType], next: StructType,
      props: Map[String, String]): StructType = {
    val prevByName = prev.map(_.fields.map(f => f.name -> f).toMap).getOrElse(Map.empty)
    val taken = prev.map(_.fields.map(physicalName).toSet).getOrElse(Set.empty) ++
      props.get(retiredProp).map(_.split(',').toSet).getOrElse(Set.empty)
    def withPhysical(f: org.apache.spark.sql.types.StructField, phys: String) =
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).putString(physicalNameKey, phys).build())
    StructType(next.fields.map { f =>
      prevByName.get(f.name) match {
        // existing column: inherit the table's mapping (a renamed
        // column's batch arrives under its logical name, its files must
        // keep the frozen physical one)
        case Some(pf) if pf.metadata.contains(physicalNameKey) =>
          withPhysical(f, physicalName(pf))
        case Some(_) => f
        // genuinely new column: physical = logical unless that name is
        // live or retired — then a fresh suffix
        case None if !taken.contains(physicalName(f)) => f
        case None =>
          withPhysical(f, s"${f.name}__r${java.util.UUID.randomUUID.toString.take(8)}")
      }
    })
  }

  /** Widen `prev` by `next`'s new columns (schema evolution on append):
    * existing columns must keep their type; genuinely new columns join at
    * the end, nullable (old files null-fill them at read time). */
  private def mergedSchema(prev: Option[StructType], next: StructType): StructType =
    prev match {
      case None => nullable(next)
      case Some(p) =>
        val byName = p.fields.map(f => f.name -> f).toMap
        next.fields.foreach { f =>
          byName.get(f.name).foreach { pf =>
            require(pf.dataType == f.dataType,
              s"schema evolution cannot change column ${f.name}: " +
                s"${pf.dataType.simpleString} -> ${f.dataType.simpleString}")
            require(!f.metadata.contains(physicalNameKey) ||
                physicalName(f) == physicalName(pf),
              s"column-mapping conflict on ${f.name}: physical " +
                s"${physicalName(f)} vs ${physicalName(pf)} — a concurrent " +
                "commit changed the mapping; recompute against the current version")
          }
        }
        nullable(StructType(p.fields ++ next.fields.filterNot(f => byName.contains(f.name))))
    }

  /** Publish version `v`'s delta atomically: write a tmp file, then
    * claim the destination with an ATOMIC no-replace publish, so readers
    * never see a partial file AND two racing writers can never both
    * think they won.
    *
    * The publish primitive is filesystem-specific because POSIX rename
    * REPLACES an existing destination — a bare exists-check + rename has
    * a window where two writers both pass the check and the second
    * SILENTLY overwrites the first (a lost commit, the one corruption a
    * log must never allow). On `file:` schemes a HARD LINK is the atomic
    * no-replace primitive (link(2) fails with EEXIST); on HDFS-like
    * filesystems `rename` itself refuses an existing destination
    * atomically. Either way a lost race surfaces as the loud
    * "commit race" failure `commitAdds` rebases on. */
  private[jobs] def writeDelta(spark: SparkSession, root: String, v: Long, d: Delta): Unit = {
    val (fs, qroot) = fsOf(spark, root)
    val dest = deltaPath(qroot, v)
    val tmp = new Path(qroot,
      f"_log/.v$v%08d-${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    // in-commit timestamp, STRICTLY increasing across the log: wall clock,
    // floored at predecessor+1 so two commits inside one millisecond (or a
    // skewed clock) can never make `versionAt` resolution ambiguous —
    // Delta Lake's in-commit-timestamp discipline. Recomputed per OCC
    // retry (the predecessor may have changed).
    val prevV = versions(spark, root).filter(_ < v).lastOption
    val prevD = prevV.map(p => readDelta(spark, root, p))
    val ts = d.ts.getOrElse {
      val floor = prevV.map(p => commitTimestamp(spark, root, p) + 1)
        .getOrElse(Long.MinValue)
      math.max(System.currentTimeMillis, floor)
    }
    // WRITER gate: a table demanding writer features this build doesn't
    // implement would have its invariants silently broken by our commit
    // (ids unallocated, constraints unchecked, buckets mis-stamped) —
    // refuse before any log mutation. Reader features were already
    // enforced by the predecessor read above.
    prevD.foreach { pd =>
      val unknownW = pd.wfeat.filterNot(Protocol.supportedWriterFeatures)
      if (pd.minWriter > Protocol.writerVersion || unknownW.nonEmpty)
        throw new IllegalStateException(
          s"cannot write $root: the table requires writer protocol " +
            s"${pd.minWriter} and feature(s) [${pd.wfeat.mkString(", ")}]; " +
            s"this build supports writer protocol ${Protocol.writerVersion} " +
            s"and [${Protocol.supportedWriterFeatures.toSeq.sorted.mkString(", ")}] — " +
            "committing anyway would break the table's invariants")
    }
    // line-codec safety: a prop key with '=' or any value with '\n'
    // would mis-split on read-back — corrupting the LOG is never an
    // acceptable failure mode, so refuse the commit loudly instead
    d.props.foreach { case (k, pv) =>
      require(!k.contains('=') && !k.contains('\n'),
        s"table property key '$k' cannot be recorded (contains '=' or newline)")
      require(!pv.contains('\n'),
        s"table property $k cannot be recorded: value contains a newline")
    }
    d.props.get(checkpointFormatProp).foreach { f =>
      require(f == "text" || f == "parquet" || f == "auto",
        s"$checkpointFormatProp must be 'text', 'parquet' or 'auto' (got '$f')")
    }
    if (sidecarsOn(d.props))
      require(parquetPathOn(d.props),
        s"$checkpointSidecarsProp=true requires $checkpointFormatProp " +
          "'parquet' or 'auto' (sidecars are a parquet-checkpoint shape)")
    // feature stamping is STICKY: this commit's requirements union the
    // predecessor's — old files keep needing every feature ever used.
    // The ONE exit is an explicit DROP FEATURE commit (featDrop), which
    // subtracts AFTER the union — and refuses if this commit's own
    // content would immediately resurrect the feature (e.g. dropping
    // deletionVectors while still carrying a live vector).
    val (needR, needW) = requiredFeatures(d, prevD)
    val resurrected = d.featDrop.toSet.intersect(needR ++ needW)
    require(resurrected.isEmpty,
      s"cannot drop feature(s) ${resurrected.mkString(", ")} — this " +
        "commit's own content still requires them")
    val dStamped = d.copy(ts = Some(ts),
      minReader = math.max(d.minReader, prevD.map(_.minReader).getOrElse(1)),
      minWriter = math.max(d.minWriter, prevD.map(_.minWriter).getOrElse(1)),
      rfeat = (prevD.map(_.rfeat).getOrElse(Nil) ++ needR).distinct.sorted
        .filterNot(d.featDrop.contains),
      wfeat = (prevD.map(_.wfeat).getOrElse(Nil) ++ needW).distinct.sorted
        .filterNot(d.featDrop.contains))
    // fmeta auto-capture at the ONE choke point every commit path
    // crosses: any added file the caller didn't annotate gets one
    // tolerant getFileStatus here — O(new files), a cost the commit
    // already paid several times over (footer stats, listing). Synthetic
    // adds (metadata-only commits whose files never exist) simply skip.
    val fmetaMissing = d.adds.filterNot(d.fmeta.contains).toIndexedSeq
    val fmetaCaptured = new Array[Option[(String, (Long, Long))]](fmetaMissing.size)
    // independent stat RPCs — fan out on the dedicated metadata-I/O pool
    // (blocking I/O off the common pool, r19 ADVICE)
    graft.core.Skipping.metaIoParallel(fmetaMissing.size) { i =>
      fmetaCaptured(i) =
        try {
          val st = fs.getFileStatus(new Path(qroot, fmetaMissing(i)))
          Some(fmetaMissing(i) -> (st.getLen, st.getModificationTime))
        } catch { case scala.util.control.NonFatal(_) => None }
    }
    val fmetaAll = d.fmeta ++ fmetaCaptured.flatten
    val lines =
      Seq(s"#ts:$ts",
        s"#protocol:${dStamped.minReader},${dStamped.minWriter}") ++
        dStamped.rfeat.map(f => s"#rfeat:$f") ++
        dStamped.wfeat.map(f => s"#wfeat:$f") ++
        d.op.map(o => s"#op:$o").toSeq ++
        d.txn.map(b => s"#txn:$b").toSeq ++
        d.cdf.map(c => s"#cdf:$c").toSeq ++
        d.schema.map(s => s"#schema:$s").toSeq ++
        d.dv.sorted.map(n => s"#dv:$n") ++
        d.dvAdd.map(n => s"#dvadd:$n").toSeq ++
        d.copied.sorted.map(c => s"#copied:$c") ++
        d.props.toSeq.sorted.map { case (k, v2) => s"#prop:$k=$v2" } ++
        d.stats.toSeq.sortBy(_._1).map { case (rel, s) => renderStats(rel, s) } ++
        // size,mtime FIRST, rel LAST: rel paths may themselves contain
        // commas (partition values), the two numbers never do
        fmetaAll.toSeq.sortBy(_._1).map { case (rel, (sz, mt)) =>
          s"#fmeta:$sz,$mt,$rel" } ++
        d.adds.sorted.map("+" + _) ++ d.removes.sorted.map("-" + _)
    val out = fs.create(tmp, false)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    def lose(): Nothing = {
      fs.delete(tmp, false)
      throw new IllegalArgumentException(
        s"commit race: version $v already exists at $root")
    }
    if ("file" == dest.toUri.getScheme) {
      val destFile = java.nio.file.Paths.get(dest.toUri)
      val tmpFile = java.nio.file.Paths.get(tmp.toUri)
      try java.nio.file.Files.createLink(destFile, tmpFile)
      catch { case _: java.nio.file.FileAlreadyExistsException => lose() }
      fs.delete(tmp, false)
    } else {
      if (fs.exists(dest)) lose()
      if (!fs.rename(tmp, dest)) lose()
    }
    // a v0 publish is the birth of a NEW log at this path — any cached
    // metadata of a previous incarnation (same keys, dead content) must
    // go. Then seed the cache with what was just written, normalized to
    // exactly what a read-back would return (sorted adds/removes/dv,
    // stamped ts), so the commit's own immediate re-reads are free.
    if (v == 0L) purgeRootCaches(qroot.toString)
    deltaCache.put((qroot.toString, v),
      dStamped.copy(adds = d.adds.sorted, removes = d.removes.sorted,
        dv = d.dv.sorted, copied = d.copied.sorted,
        featDrop = Nil, // write-side intent; a cold read-back never has it
        // EXACTLY what a cold read-back of the file returns — the stats
        // codec drops un-encodable column names, so the seeded cache
        // must too, or the writing JVM would prune on envelopes no
        // other reader of this version has
        stats = statsAsReadBack(d.stats),
        fmeta = fmetaAll))
  }

  /** Checkpoints are derived (a pure function of the deltas), so the
    * publish is SKIP-IF-EXISTS: an existing checkpoint at `v` already
    * holds the identical content and is simply kept — never deleted and
    * re-renamed, which would open a FileNotFound window for a concurrent
    * reader whose listing already included it. Header lines carry the
    * version's schema and the highest streaming batch id at-or-below it,
    * bounding `versionSchema` fallbacks and `lastCommittedBatch`.
    * Dispatches on the table's `graft.checkpoint.format`: the text codec
    * (default) or the columnar parquet codec (`writeCheckpointParquet`). */
  private def writeCheckpoint(
      spark: SparkSession, root: String, v: Long, files: => Seq[String]): Unit =
    if (shouldWriteParquetCheckpoint(spark, root, v))
      writeCheckpointParquet(spark, root, v)
    else writeCheckpointText(spark, root, v, files)

  /** Which codec THIS checkpoint uses: `parquet` always, `text` never,
    * `auto` by live-file count against the threshold — text below (a
    * distributed write costs more than a small render), parquet above
    * (the text render/parse is the O(table) driver wall). The count is
    * the nearest parquet checkpoint's recorded shape rolled forward
    * (O(tail change)) when the table has been in its parquet regime
    * within the staleness bound, the (memoized, small-by-induction)
    * driver reconstruct otherwise. Flips ride the existing
    * format-transition machinery: readers dispatch on the checkpoint
    * FILES present, not the property. */
  private def shouldWriteParquetCheckpoint(
      spark: SparkSession, root: String, v: Long): Boolean = {
    val props = readDelta(spark, root, v).props
    props.get(checkpointFormatProp) match {
      case Some("parquet") => true
      case Some("auto") =>
        val threshold = props.get(autoThresholdProp).flatMap(_.toLongOption)
          .getOrElse(autoThresholdDefault)
        val qroot = fsOf(spark, root)._2
        // a vanished checkpoint (vacuum race) just falls back
        val recorded = scala.util.Try(
          logVersions(spark, root, ".checkpoint.parquet").filter(_ <= v)
            .lastOption.filter(cv => v - cv <= checkpointEvery * 4)
            .flatMap(cv => rolledLive(spark, root, qroot, cv, v))).toOption.flatten
        recorded.getOrElse(reconstruct(spark, root, v)._1.size.toLong) >= threshold
      case _ => false
    }
  }

  private def writeCheckpointText(
      spark: SparkSession, root: String, v: Long, files: Seq[String]): Unit = {
    val (fs, qroot) = fsOf(spark, root)
    val dest = checkpointPath(qroot, v)
    if (fs.exists(dest)) return
    // surviving files' stats ride the checkpoint so vacuum dropping the
    // adding deltas never loses them (the checkpoint is already O(table))
    val stats = reconstruct(spark, root, v)._2
    val hd = readDelta(spark, root, v)
    val headers =
      versionSchema(spark, root, v).map(s => s"#schema:${s.json}").toSeq ++
        // the protocol rides the checkpoint too: a reader that plans
        // from checkpoint + tail deltas (or an external tool reading the
        // checkpoint alone after vacuum) still sees the gate
        Seq(s"#protocol:${hd.minReader},${hd.minWriter}") ++
        hd.rfeat.map(f => s"#rfeat:$f") ++
        hd.wfeat.map(f => s"#wfeat:$f") ++
        Seq(s"#maxtxn:${lastTxnUpTo(spark, root, v)}") ++
        // COPY INTO's ingested-source identities are append-only facts:
        // the checkpoint carries the full union so vacuum dropping the
        // ingesting deltas can never resurrect a double-load
        copiedUpTo(spark, root, v).toSeq.sorted.map(c => s"#copied:$c") ++
        stats.toSeq.sortBy(_._1).map { case (rel, s) => renderStats(rel, s) }
    val tmp = new Path(qroot,
      f"_log/.v$v%08d-ckpt-${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    val out = fs.create(tmp, false)
    try out.write(((headers ++ files.sorted).mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    // a concurrent checkpointer may have landed first: same derived
    // content, so losing this race is a silent no-op
    if (!fs.rename(tmp, dest)) fs.delete(tmp, false)
  }

  /** The LIVE file rows of version `v` as a Dataset: nearest PARQUET
    * checkpoint at-or-below `v` plus the (at most `checkpointEvery`)
    * tail deltas applied as filter/union — per delta IN ORDER, because
    * RESTORE can legally re-add a path an earlier commit removed.
    * Driver cost O(tail change); the O(table) row set stays on the
    * executors. None when the table has no parquet checkpoint at-or-
    * below `v` (text-codec tables, or a pre-first-checkpoint version). */
  private def checkpointFileFrame(
      spark: SparkSession, root: String, v: Long)
      : Option[org.apache.spark.sql.Dataset[CkptRow]] = {
    val (_, qroot) = fsOf(spark, root)
    // the distributed paths apply only while the table's CURRENT format
    // is parquet — after a flip back to text (the DROP FEATURE
    // precursor) a stale surviving checkpoint must not be replayed
    // against an ever-growing delta tail; and even in-format, a tail
    // past 4× the checkpoint cadence (a crashed checkpointer's gap)
    // falls back to the driver path rather than chain O(history) plan
    // nodes
    if (!parquetPathOn(readDelta(spark, root, v).props)) return None
    logVersions(spark, root, ".checkpoint.parquet").filter(_ <= v).lastOption
      .filter { cv =>
        val ok = v - cv <= checkpointEvery * 4
        if (!ok) noteFallback(
          s"stale-checkpoint gate tripped on $root@v$v: nearest parquet " +
            s"checkpoint is v$cv (tail of ${v - cv} deltas exceeds the " +
            s"${checkpointEvery * 4}-delta bound) — falling back to the " +
            "driver metadata path; is the checkpointer crashed or the " +
            "format mid-transition?")
        ok
      }.map { cv =>
      replayTailDeltas(spark, root,
        assembleCheckpointRows(spark, qroot, cv), cv, v)
    }
  }

  /** Replay deltas (cv, v] onto a base live-row frame — adds BEFORE
    * removes per delta, mirroring the driver `reconstruct` replay
    * exactly (a pathological delta naming one path in both adds and
    * removes must reconstruct identically dead under both codecs,
    * never live-here-dead-there). Shared by the per-query file frame
    * and the distributed full rebuild. */
  private def replayTailDeltas(
      spark: SparkSession, root: String,
      base: org.apache.spark.sql.Dataset[CkptRow], cv: Long, v: Long)
      : org.apache.spark.sql.Dataset[CkptRow] =
    ((cv + 1) to v).foldLeft(base) { (acc, w) =>
      val d = readDelta(spark, root, w)
      val pc = graft.core.HivePartitions.columnsOf(d.props)
      val afterAdd =
        if (d.adds.isEmpty) acc
        else acc.unionByName(spark.createDataset(
          d.adds.map(rel => ckptRowOf(rel, d.stats.get(rel), d.fmeta.get(rel), pc))))
      if (d.removes.isEmpty) afterAdd
      else if (d.removes.size <= 1000)
        afterAdd.filter(!col("path").isin(d.removes: _*))
      else {
        // a wide rewrite (OPTIMIZE over many files): anti-join beats
        // a 10k-literal IN — the removes side is metadata-small
        val rm = spark.createDataset(d.removes)(
          org.apache.spark.sql.Encoders.STRING).toDF("path")
        afterAdd.join(broadcast(rm), Seq("path"), "left_anti").as[CkptRow]
      }
    }

  /** The UNION of live file sets across the CONTIGUOUS version range
    * [vFrom, vTo] as a distributed frame of root-relative paths:
    * live(vFrom) ∪ adds(vFrom+1 .. vTo) — a file live at any v in the
    * range either was live at vFrom or entered through a tail delta's
    * add. This is what keeps vacuum/restore candidate selection off the
    * driver: the O(files) live sets stay executor-side and only the
    * (small) difference is ever collected. The tail adds are already
    * driver-resident via the delta cache, so building their frame costs
    * nothing new. None when live(vFrom) has no distributed assembly
    * (text regime / missing checkpoint) — callers keep the driver path. */
  private def liveUnionFrame(
      spark: SparkSession, root: String, vFrom: Long, vTo: Long): Option[DataFrame] = {
    val base: Option[DataFrame] =
      if (vFrom == 0L)
        // live(0) IS delta 0's adds — no checkpoint needed
        Some(spark.createDataset(readDelta(spark, root, 0L).adds)(
          org.apache.spark.sql.Encoders.STRING).toDF("path"))
      else checkpointFileFrame(spark, root, vFrom).map(_.toDF().select(col("path")))
    base.map { b =>
      val adds = ((vFrom + 1) to vTo)
        .flatMap(w => readDelta(spark, root, w).adds).distinct
      if (adds.isEmpty) b
      else b.union(spark.createDataset(adds)(
        org.apache.spark.sql.Encoders.STRING).toDF("path"))
    }
  }

  /** The columnar checkpoint writer: one parquet directory holding a
    * `CkptRow` per live file (stats envelopes in the text codec's typed
    * families) plus header rows. INCREMENTAL when a previous parquet
    * checkpoint exists — previous rows stay distributed, only the tail
    * deltas' adds/removes and header refresh touch the driver — so at
    * 10⁶ files a checkpoint costs O(change) driver work + one
    * distributed write, never an O(table) text render. The first
    * parquet checkpoint of a table (or after vacuum dropped all prior
    * ones) is a one-time full build from `reconstruct`. Same
    * skip-if-exists / tmp-then-rename publish discipline as the text
    * codec. */
  private def writeCheckpointParquet(
      spark: SparkSession, root: String, v: Long): Unit = {
    // the incremental build reads the PREVIOUS checkpoint lazily (at
    // write-job time) — a concurrent vacuum can delete it mid-build.
    // The commit this checkpoint derives from is already durable, so a
    // vanished base must never surface as a commit failure: retry once
    // as a FULL rebuild, whose `reconstruct` input has its own
    // fallback chain (next-lower checkpoint, from-v0 replay).
    try writeCheckpointParquetOnce(spark, root, v, allowIncremental = true)
    catch {
      // a debug-mode invariant violation is a WRITER bug, not a
      // vanished-base race — retrying as a full rebuild would mask it
      case e: InvariantViolation => throw e
      case scala.util.control.NonFatal(_) =>
        writeCheckpointParquetOnce(spark, root, v, allowIncremental = false)
    }
  }

  /** Thrown (debug mode only) when a log invariant the distributed tier
    * leans on is provably violated — never retried or swallowed. */
  private[graft] final class InvariantViolation(msg: String)
    extends IllegalStateException(msg)

  /** A checkpoint's file rows plus what their builder knows: header-side
    * rows (a manifest's refs, tombstones), the live count and the
    * (liveFiles, totalBytes) aggregate — None when only a job could tell. */
  private final case class BuiltRows(
      rows: org.apache.spark.sql.Dataset[CkptRow], extra: Seq[CkptRow],
      live: Option[Long], aggr: Option[(Long, Long)])

  /** The live rows of `v` assembled WITHOUT the driver ever holding the
    * file list, from a TEXT checkpoint base: the checkpoint's lines
    * parse on the EXECUTORS (file lines ⟕ `#stats:` lines), fmeta from
    * the surviving deltas joins in, the tail deltas replay exactly like
    * the parquet frame, and missing sizes backfill with a distributed
    * stat pass. This is the text→parquet CONVERSION path — flipping a
    * big text table to the parquet codec must not drive an O(table)
    * line parse. None when no text checkpoint sits within the sane-tail
    * bound of `v` (parquet-base rebuilds keep the driver `reconstruct`,
    * whose checkpoint-fallback chain the crash-retry path relies on). */
  private def distributedTextLiveRows(
      spark: SparkSession, root: String, v: Long,
      fs: org.apache.hadoop.fs.FileSystem, qroot: Path)
      : Option[org.apache.spark.sql.Dataset[CkptRow]] = {
    if (spark.conf.getOption("spark.graft.prune.distributed").contains("never"))
      return None
    logVersions(spark, root, ".checkpoint").filter(_ <= v).lastOption
      .filter { cv =>
        // worth distributing only when the checkpoint is BIG — the
        // text regime exists because small tables are cheaper on the
        // driver than three Spark jobs (~4 MB ≈ tens of thousands of
        // file+stats lines); the floor is per-table-overridable so
        // specs can pin the distributed path on small fixtures
        val minBytes = readDelta(spark, root, v).props
          .get("graft.checkpoint.distributedTextMinBytes")
          .flatMap(_.toLongOption).getOrElse(4L * 1024 * 1024)
        v - cv <= checkpointEvery * 4 &&
          (try fs.getFileStatus(checkpointPath(qroot, cv)).getLen >= minBytes
           catch { case _: java.io.FileNotFoundException => false })
      }
      .map { cv =>
        val pc = graft.core.HivePartitions.columnsOf(
          readDelta(spark, root, v).props)
        val lines = spark.read.textFile(checkpointPath(qroot, cv).toString)
        val statRows = lines.filter(_.startsWith("#stats:"))
          .map { l =>
            val (rel, s) = parseStats(l)
            ckptRowOf(rel, Some(s), None, pc)
          }(ckptEnc)
        val filePaths = lines.filter(l => !l.startsWith("#")).toDF("path")
        val statKept = statRows.toDF()
          .join(filePaths, Seq("path"), "left_semi")
        val bare = filePaths
          .join(statRows.toDF().select(col("path")), Seq("path"), "left_anti")
          .as[String](org.apache.spark.sql.Encoders.STRING)
          .map(rel => ckptRowOf(rel, None, None, pc))(ckptEnc)
        val base = statKept.as[CkptRow].unionByName(bare)
        // fmeta recorded by the surviving deltas (the text codec carries
        // none in the checkpoint itself) — the map is already
        // driver-resident via the delta cache, so the join frame is free
        val fmetaAll = versions(spark, root).filter(_ <= v)
          .foldLeft(Map.empty[String, (Long, Long)]) { (m, w) =>
            val d = readDelta(spark, root, w)
            (m ++ d.fmeta) -- d.removes
          }
        val enriched =
          if (fmetaAll.isEmpty) base
          else {
            val fm = spark.createDataset(fmetaAll.toSeq.map {
              case (p, (s, m)) => (p, s, m)
            })(org.apache.spark.sql.Encoders.product[(String, Long, Long)])
              .toDF("path", "_fs", "_mt")
            base.toDF().join(fm, Seq("path"), "left_outer")
              .withColumn("fsize", coalesce(col("fsize"), col("_fs")))
              .withColumn("mtime", coalesce(col("mtime"), col("_mt")))
              .drop("_fs", "_mt").as[CkptRow]
          }
        val replayed = replayTailDeltas(spark, root, enriched, cv, v)
        // one-time distributed backfill for rows no surviving delta
        // sized — tolerant of vanished files (readers stat those lazily)
        val qrootStr = qroot.toString
        val hconf = new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        replayed.mapPartitions { it =>
          lazy val pfs = new Path(qrootStr).getFileSystem(hconf.value)
          it.map { r =>
            if (r.fsize.isDefined && r.mtime.isDefined) r
            else try {
              val st = pfs.getFileStatus(new Path(new Path(qrootStr), r.path))
              r.copy(fsize = Some(st.getLen), mtime = Some(st.getModificationTime))
            } catch { case scala.util.control.NonFatal(_) => r }
          }
        }(ckptEnc)
      }
  }

  /** Full (non-incremental) live row build: `reconstruct` + whatever
    * fmeta the surviving deltas carry; missing fmeta is backfilled by a
    * DISTRIBUTED stat pass — a ONE-TIME cost, after which every later
    * incremental checkpoint inherits the values. The driver build also
    * knows the live count. */
  private def fullLiveRows(
      spark: SparkSession, root: String, v: Long,
      fs: org.apache.hadoop.fs.FileSystem, qroot: Path): BuiltRows = {
    // the distributed text-base assembly first: the conversion path of
    // a big text table never materializes the list on the driver (its
    // counts come from the write's observation instead)
    try distributedTextLiveRows(spark, root, v, fs, qroot) match {
      case Some(rows) => return BuiltRows(rows, Nil, None, None)
      case None => ()
    } catch {
      case scala.util.control.NonFatal(e) =>
        noteFallback(s"distributed text-checkpoint assembly fell back " +
          s"on $root@v$v: ${e.getMessage}")
    }
    val (files, stats) = reconstruct(spark, root, v)
    val fmetaAll = versions(spark, root).filter(_ <= v)
      .foldLeft(Map.empty[String, (Long, Long)]) { (m, w) =>
        val d = readDelta(spark, root, w)
        (m ++ d.fmeta) -- d.removes
      }
    // files whose adding delta was vacuumed below a TEXT checkpoint have
    // no recorded fmeta — a ONE-TIME backfill stats them on the
    // EXECUTORS (a driver loop would serialize O(table) filesystem RPCs;
    // on an object store that is a stall at 10⁷ files), tolerant of
    // vanished files (those rows keep None and readers stat lazily)
    val missing = files.filterNot(fmetaAll.contains)
    val backfilled: Map[String, (Long, Long)] =
      if (missing.isEmpty) Map.empty
      else {
        val qrootStr = qroot.toString
        val hconf = new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        spark.createDataset(missing)(org.apache.spark.sql.Encoders.STRING)
          .mapPartitions { iter =>
            val q = new Path(qrootStr)
            val pfs = q.getFileSystem(hconf.value)
            iter.flatMap { rel =>
              try {
                val st = pfs.getFileStatus(new Path(q, rel))
                Iterator.single((rel, st.getLen, st.getModificationTime))
              } catch { case scala.util.control.NonFatal(_) => Iterator.empty }
            }
          }(org.apache.spark.sql.Encoders.product[(String, Long, Long)])
          .collect().map { case (rel, len, mt) => rel -> (len, mt) }.toMap
      }
    val fmAll = fmetaAll ++ backfilled
    val pc = graft.core.HivePartitions.columnsOf(
      readDelta(spark, root, v).props)
    BuiltRows(spark.createDataset(
      files.map(rel => ckptRowOf(rel, stats.get(rel), fmAll.get(rel), pc))),
      Nil, Some(files.size.toLong), None)
  }

  /** DEBUG-mode invariant check (`spark.graft.debug.invariants = true`):
    * every distributed-tier lean-site — removed-only tombstones, the
    * aggr roll-forward, undeduped add unions — relies on an add never
    * naming a CURRENTLY-LIVE path. Real writers satisfy it by
    * construction (UUID data-file suffixes; RESTORE re-adds follow
    * removes), but an external/hand-rolled log writer could violate it
    * and silently corrupt state; with this check on, the next
    * checkpoint boundary fails LOUDLY naming the offending paths
    * instead. Cost: one driver replay of the tail (O(change)) plus at
    * most one broadcast semi-join against the base assembly collecting
    * only violators — debug-gated because it is a whole extra job per
    * checkpoint. */
  private def assertAddsNotLive(
      spark: SparkSession, root: String, qroot: Path, cv: Long, v: Long): Unit = {
    val inTailLive = scala.collection.mutable.Set[String]()
    val inTailDead = scala.collection.mutable.Set[String]()
    val suspects = scala.collection.mutable.LinkedHashSet[String]()
    val violators = scala.collection.mutable.LinkedHashSet[String]()
    ((cv + 1) to v).foreach { w =>
      val d = readDelta(spark, root, w)
      d.adds.foreach { r =>
        if (inTailLive(r)) violators += r
        else if (inTailDead(r)) { inTailDead -= r; inTailLive += r } // legit re-add
        else { suspects += r; inTailLive += r } // liveness decided by the base
      }
      d.removes.foreach { r => inTailLive -= r; inTailDead += r }
    }
    if (suspects.nonEmpty) {
      val s = spark.createDataset(suspects.toSeq)(
        org.apache.spark.sql.Encoders.STRING).toDF("path")
      try {
        violators ++= assembleCheckpointRows(spark, qroot, cv).toDF()
          .join(broadcast(s), Seq("path"), "left_semi")
          .select(col("path")).as[String](org.apache.spark.sql.Encoders.STRING)
          .collect()
      } catch {
        // a vacuumed base checkpoint: the caller's own fallback handles
        // the write; the debug check just can't decide these adds
        case scala.util.control.NonFatal(_) => ()
      }
    }
    if (violators.nonEmpty)
      throw new InvariantViolation(
        s"add-names-live-path invariant violated on $root (tail v${cv + 1}..v$v): " +
          violators.take(10).mkString(", ") +
          (if (violators.size > 10) s" … ${violators.size} total" else "") +
          " — an add must never name a currently-live path (re-adds must " +
          "follow a remove); this writer would silently duplicate live rows")
  }

  private def inlineBelow(props: Map[String, String]): Long =
    props.get(inlineHeadersProp).flatMap(_.toLongOption).getOrElse(inlineHeadersDefault)

  /** THE layout rule for a parquet checkpoint, from the counts it will
    * record (`live` None when unknown): a sidecar manifest when the table
    * asks for sidecars, or an armed `auto` table reaches `autoSidecarsAt`
    * live files or was in manifests already (hysteresis); ONE
    * driver-written part file when both counts are known and at most
    * `inlineBelow` — at this size the scheduler round trip is the whole
    * cost; else file rows plus `_headers/`. Arithmetic over recorded
    * counts, never induction over earlier layouts. */
  private def ckptLayout(
      props: Map[String, String], prior: Option[CkptLayout],
      live: Option[Long], copied: Long): CkptLayout = {
    val small = live.exists(_ <= inlineBelow(props)) && copied <= inlineBelow(props)
    val manifest = sidecarsOn(props) || autoSidecarsAt(props).exists(th =>
      prior.exists(_.isInstanceOf[CkptLayout.Manifest]) || live.exists(_ >= th))
    if (manifest) CkptLayout.Manifest(oneFile = small)
    else if (small) CkptLayout.Inline
    else CkptLayout.Split
  }

  /** What the next boundary refreshes from the parquet checkpoint at `cv`:
    * its shape, its maxtxn and — when driver-known and within
    * `inlineBelow` — its copied identities. The writer memoizes its own
    * at publish; a miss reads the `shape`, `maxtxn` and `aggr` header
    * rows in ONE pushed-filter lookup (the aggr seeds `liveAggregate`). */
  private final case class CkptMeta(
      shape: CkptShape, maxTxn: Long, copiedIds: Option[Seq[String]])

  private def ckptMeta(spark: SparkSession, qroot: Path, cv: Long): CkptMeta = {
    val key = (qroot.toString, cv)
    ckptMetaCache.get(key).getOrElse {
      val hdr = readCkptMetaRows(spark, parquetCheckpointPath(qroot, cv))
        .filter(col("kind") === "header" && col("hkey").isin("shape", "maxtxn", "aggr"))
        .select(col("hkey"), col("hval")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val aggr = hdr.get("aggr").map { h =>
        val parts = h.split(',')
        (parts(0).toLong, parts(1).toLong)
      }
      aggr.foreach(a => liveAggrCache.put(key, Some(a)))
      val shape = hdr.get("shape").flatMap(parseShape)
        .getOrElse(legacyShape(spark, qroot, cv, aggr.map(_._1)))
      val meta = CkptMeta(shape, hdr.get("maxtxn").map(_.toLong).getOrElse(-1L), None)
      ckptMetaCache.put(key, meta)
      meta
    }
  }

  /** The one fallback for a checkpoint written before the `shape` row:
    * layout from its sidecar refs and `_headers/`, live count from its
    * aggr header or its assembled rows, copied count from its rows. */
  private def legacyShape(
      spark: SparkSession, qroot: Path, cv: Long, aggrLive: Option[Long]): CkptShape = {
    val fs = qroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val layout =
      if (manifestMeta(spark, qroot, cv)._1.nonEmpty) CkptLayout.Manifest(oneFile = false)
      else if (fs.exists(new Path(parquetCheckpointPath(qroot, cv), ckptHeadersDirName)))
        CkptLayout.Split
      else CkptLayout.Inline
    val live = aggrLive.getOrElse(assembleCheckpointRows(spark, qroot, cv).count())
    CkptShape(layout, Some(live), ckptCopiedRows(spark, qroot, cv).count())
  }

  /** `cv`'s recorded live-file count rolled forward to `v` (adds −
    * removes): exact under the invariants the distributed tier leans on
    * (an add names a non-live path, a remove a live one); every plain
    * boundary re-records it from its rows, so a breach never compounds. */
  private def rolledLive(
      spark: SparkSession, root: String, qroot: Path, cv: Long, v: Long): Option[Long] =
    ckptMeta(spark, qroot, cv).shape.live.map(_ + ((cv + 1) to v).map { w =>
      val d = readDelta(spark, root, w)
      d.adds.size.toLong - d.removes.size
    }.sum)

  private def writeCheckpointParquetOnce(
      spark: SparkSession, root: String, v: Long,
      allowIncremental: Boolean): Unit = {
    val (fs, qroot) = fsOf(spark, root)
    val dest = parquetCheckpointPath(qroot, v)
    if (fs.exists(dest)) return
    val hd = readDelta(spark, root, v)
    val prevPq =
      if (allowIncremental)
        logVersions(spark, root, ".checkpoint.parquet").filter(_ < v).lastOption
      else None
    if (spark.conf.getOption("spark.graft.debug.invariants").contains("true"))
      prevPq.foreach(cv => assertAddsNotLive(spark, root, qroot, cv, v))
    // the previous checkpoint's facts rolled forward through the tail; a
    // bootstrap (none, or the full-rebuild retry) counts the full build
    val prior = prevPq.map(cv => ckptMeta(spark, qroot, cv))
    val tail = prevPq.toSeq.flatMap(cv => ((cv + 1) to v).map(readDelta(spark, root, _)))
    val tailCopied = tail.flatMap(_.copied).distinct
    val maxTxn = prior.fold(lastTxnUpTo(spark, root, v))(p =>
      (p.maxTxn +: tail.flatMap(_.txn)).max)
    lazy val full = fullLiveRows(spark, root, v, fs, qroot)
    val live = prevPq.fold(full.live)(cv => rolledLive(spark, root, qroot, cv, v))
    // copied identities come to the driver when the previous checkpoint's
    // are memoized or within `inlineBelow`; past it they stay a
    // distributed frame (O(10⁶) at scale) and only their count is known —
    // an upper bound (a re-recorded identity counts twice, never zero times)
    val copiedIds: Option[Seq[String]] = (prevPq, prior) match {
      case (Some(cv), Some(p)) =>
        p.copiedIds
          .orElse(if (p.shape.copied == 0L) Some(Nil) else None)
          .orElse(if (p.shape.copied > inlineBelow(hd.props)) None
            else Some(ckptCopiedRows(spark, qroot, cv).collect().map(_.hval).toSeq))
          .map(prev => (prev ++ tailCopied).distinct.sorted)
      case _ => Some(copiedUpTo(spark, root, v).toSeq.sorted)
    }
    val copiedCount = copiedIds.fold(
      prior.fold(0L)(_.shape.copied) + tailCopied.size)(_.size.toLong)
    val layout = ckptLayout(hd.props, prior.map(_.shape.layout), live, copiedCount)
    val built = layout match {
      case CkptLayout.Manifest(_) =>
        sidecarManifestRows(spark, root, v, fs, qroot, prevPq, full.rows)
      // a one-file checkpoint skips the incremental frame outright: that
      // plan — previous-checkpoint scan plus one union/filter node per
      // tail delta — schedules hundreds of near-empty tasks and compiles
      // a codegen branch per delta, while the driver build is a
      // memoized reconstruct into one flat LocalRelation
      case CkptLayout.Inline => full
      case CkptLayout.Split =>
        prevPq.flatMap(_ => checkpointFileFrame(spark, root, v))
          .map(BuiltRows(_, Nil, None, None)).getOrElse(full)
    }
    def copiedRows: org.apache.spark.sql.Dataset[CkptRow] = copiedIds match {
      case Some(ids) => spark.createDataset(ids.map(headerRowOf("copied", _)))
      case None => ckptCopiedRows(spark, qroot, prevPq.get)
        .unionByName(spark.createDataset(tailCopied.map(headerRowOf("copied", _))))
        .dropDuplicates("hkey", "hval")
    }
    val tmp = new Path(qroot,
      f"_log/.v$v%08d-ckpt-pq-${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    // a failed write must not leak the half-written tmp directory in
    // _log forever (the full-rebuild retry allocates a fresh UUID tmp) —
    // delete it before rethrowing; `vacuumDebris` remains the backstop
    // for a crash BETWEEN the jobs
    def cleanupOnFailure[A](body: => A): A =
      try body
      catch {
        case e: Throwable =>
          try fs.delete(tmp, true)
          catch { case scala.util.control.NonFatal(_) => () }
          throw e
      }
    def headerRowsOf(aggr: Option[(Long, Long)], liveN: Option[Long]): Seq[CkptRow] =
      hd.schema.map(headerRowOf("schema", _)).toSeq ++
        Seq(headerRowOf("protocol", s"${hd.minReader},${hd.minWriter}"),
          headerRowOf("maxtxn", maxTxn.toString),
          headerRowOf("shape", CkptShape(layout, liveN, copiedCount).render)) ++
        hd.rfeat.map(headerRowOf("rfeat", _)) ++
        hd.wfeat.map(headerRowOf("wfeat", _)) ++
        aggr.map { case (c, b) => headerRowOf("aggr", s"$c,$b") }.toSeq ++
        built.extra
    val isManifest = layout.isInstanceOf[CkptLayout.Manifest]
    val (aggr, liveN) =
      try cleanupOnFailure {
        // the file rows: collected for a one-file layout (which bounds
        // them), else JOB 1 — written with (count, sized, bytes) OBSERVED
        // on the write action itself, so the aggr costs no extra pass
        val (fileRows, (n, nb, b)) =
          if (layout.oneFile) {
            val rows = built.rows.collect().toSeq
            (rows, (rows.size.toLong, rows.count(_.fsize.isDefined).toLong,
              rows.flatMap(_.fsize).sum))
          } else {
            val obs = new org.apache.spark.sql.Observation(
              f"graft-ckpt-aggr-v$v%08d-${java.util.UUID.randomUUID.toString.take(8)}")
            built.rows.observe(obs, count(lit(1)).as("n"),
                sum(col("fsize")).as("b"), count(col("fsize")).as("nb"))
              .write.options(internalWriteOptions).mode("overwrite")
              .parquet(tmp.toString)
            val m = obs.get
            (Nil, (m("n").asInstanceOf[Long], m("nb").asInstanceOf[Long],
              m("b").asInstanceOf[Long]))
          }
        // a plain live set's WRITTEN metrics beat the roll-forward (the
        // spill's or `liveAggregate`'s), so drift — an external writer
        // violating the adds-never-name-live invariant, an
        // adjustAggregate bug — self-heals every boundary. A disagreement
        // is an invariant breach: loud under debug mode, WARN-noted (the
        // fallback ring) otherwise (r18 ADVICE). The header is omitted
        // when any live file's size is unrecorded — readers fall back to
        // per-file statuses exactly then. A manifest's fresh rows are not
        // its live set.
        val observed = if (isManifest) None else validAggr(n, nb, b)
        lazy val preAggr = built.aggr.orElse(liveAggregate(spark, root, v))
        for (o <- observed; p <- preAggr; if o != p) {
          val msg = s"checkpoint aggr drift on $root@v$v: rolled-forward " +
            s"header says $p, the written live frame observes $o — " +
            "repairing to the observed value this boundary"
          if (spark.conf.getOption("spark.graft.debug.invariants").contains("true"))
            throw new InvariantViolation(msg)
          noteFallback(msg)
        }
        val aggr = observed.orElse(preAggr).orElse {
          // legacy sidecar manifests (written before aggr existed) have
          // no header to roll forward: ONE distributed assembly agg
          // re-seeds it, after which every later boundary is incremental
          if (!isManifest) None
          else scala.util.Try {
            (if (allowIncremental) checkpointFileFrame(spark, root, v)
             else None).getOrElse(full.rows)
          }.toOption.flatMap { fr =>
            val r = fr.agg(count(lit(1)), sum(col("fsize")),
              count(col("fsize"))).head
            validAggr(r.getLong(0), r.getLong(2), r.getLong(1))
          }
        }
        val liveN =
          if (isManifest) built.live.orElse(aggr.map(_._1)).orElse(live) else Some(n)
        if (layout.oneFile) {
          // ONE part file, written on the driver through Spark's own
          // OutputWriter — byte-compatible with a 1-task Spark write,
          // minus the scheduler round trip and commit protocol — with
          // every row encoded by CkptRow's own encoder
          val toRow = org.apache.spark.sql.catalyst.encoders.encoderFor(ckptEnc)
            .createSerializer()
          val rows = fileRows ++ copiedIds.get.map(headerRowOf("copied", _)) ++
            headerRowsOf(aggr, liveN)
          fs.mkdirs(tmp)
          org.apache.spark.sql.execution.datasources.GraftDriverWriter.writeFile(
            spark, new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
            Map.empty, ckptEnc.schema, rows.iterator.map(toRow), tmp.toString,
            f"part-00000-${java.util.UUID.randomUUID.toString}")
        } else {
          // JOB 2 — headers + sidecar refs/tombs + copied identities into
          // the `_headers/` SIDE DIRECTORY (hidden from the main parquet
          // read): header/manifest lookups read this tiny directory alone
          // — O(1) in the table's file count. Nothing references `tmp`
          // until the rename below publishes it.
          copiedRows
            .unionByName(spark.createDataset(headerRowsOf(aggr, liveN)))
            .write.options(internalWriteOptions).mode("overwrite")
            .parquet(new Path(tmp, ckptHeadersDirName).toString)
        }
        (aggr, liveN)
      } finally built.rows.unpersist() // no-op unless the sidecar path persisted it
    // a concurrent checkpointer may have landed first: same derived
    // content, so losing this race is a silent no-op
    if (fs.exists(dest) || !fs.rename(tmp, dest)) fs.delete(tmp, true)
    // overwrite any pre-publish cache entries for THIS version (the
    // bootstrap path caches None before its header exists; a lost race's
    // winner derived the identical values, so unconditional is safe)
    liveAggrCache.put((qroot.toString, v), aggr)
    ckptMetaCache.put((qroot.toString, v),
      CkptMeta(CkptShape(layout, liveN, copiedCount), maxTxn,
        copiedIds.filter(_.size <= inlineBelow(hd.props))))
  }

  /** The row groups of a SIDECAR manifest at checkpoint `v`: fresh file
    * rows — a distributed frame, O(change since the last spill) — and
    * sidecar-reference + tombstone rows (`extra`, driver-small by the
    * caps); a spill of the whole live set also knows its count and
    * aggregate. Incremental from the previous manifest when one
    * exists: carry its refs, fold the tail deltas' per-path FINAL ops
    * into fresh'/tombstones', then SPILL fresh to a new immutable
    * sidecar once it outgrows the spill threshold, or COMPACT everything
    * into one sidecar when the ref count or tombstone set hits its cap
    * (amortized O(table)/K). Bootstrap (no previous parquet checkpoint,
    * or the full-rebuild retry) spills the complete live set as the
    * first sidecar — the manifest itself stays O(headers). `full` is
    * the full live build, forced only by a bootstrap or a full fold
    * without a checkpoint frame. */
  private def sidecarManifestRows(
      spark: SparkSession, root: String, v: Long,
      fs: org.apache.hadoop.fs.FileSystem, qroot: Path,
      prevPq: Option[Long], full: => org.apache.spark.sql.Dataset[CkptRow])
      : BuiltRows = {
    val props = readDelta(spark, root, v).props
    val spillRows = props.get(sidecarSpillRowsProp).flatMap(_.toLongOption)
      .getOrElse(sidecarSpillRowsDefault)
    // (liveFiles, totalBytes) off an already-persisted COMPLETE live
    // frame — a tiny extra job on cached data, handed to the caller so
    // a bootstrap/compact never re-assembles the world just for the
    // aggr header. None when any size is unrecorded.
    def aggOf(all: org.apache.spark.sql.Dataset[CkptRow], n: Long)
        : Option[(Long, Long)] = {
      if (n == 0L) return Some((0L, 0L)) // skip the job, not just the cast
      val r = all.agg(sum(col("fsize")), count(col("fsize"))).head
      validAggr(n, r.getLong(1), r.getLong(0))
    }
    // `rows` must be PERSISTED by the caller (or counted already) — the
    // write consumes it a second time and an unpersisted lineage would
    // re-run the whole assembly
    def spill(rows: org.apache.spark.sql.Dataset[CkptRow], gen: Long,
        count: Long): SidecarRef = {
      val name = newSidecarName(gen)
      val t0 = System.nanoTime()
      // the name is globally unique, so the write needs no tmp+rename:
      // nothing references the directory until THIS manifest publishes
      rows.write.options(internalWriteOptions).mode("overwrite")
        .parquet(sidecarPath(qroot, name).toString)
      SidecarMaintenance.spills.incrementAndGet()
      SidecarMaintenance.spillNanos.addAndGet(System.nanoTime() - t0)
      SidecarMaintenance.spilledRows.addAndGet(count)
      noteMaintenance(s"sidecar spill on $root@v$v: $count rows -> $name " +
        f"(${(System.nanoTime() - t0) / 1e9}%.2f s)")
      SidecarRef(gen, name, Some(count))
    }
    // one distributed pass over a persisted frame: materialize + count
    def persistCount(rows: org.apache.spark.sql.Dataset[CkptRow])
        : (org.apache.spark.sql.Dataset[CkptRow], Long) = {
      val p = rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (p, p.count())
    }
    prevPq match {
      case Some(cv) =>
        val man = readCkptRows(spark, parquetCheckpointPath(qroot, cv))
        val (refs0, tombSeq) = manifestMeta(spark, qroot, cv)
        val tombs0: Map[String, Long] = tombSeq.toMap
        val prevFresh = man.filter(col("kind") === "file")
        // the tail's per-path FINAL op, adds applied before removes per
        // delta exactly like `reconstruct`
        val ops = scala.collection.mutable.LinkedHashMap[String, Option[(
          Option[graft.core.Skipping.FileStats], Option[(Long, Long)], Seq[String])]]()
        val removed = scala.collection.mutable.LinkedHashSet[String]()
        ((cv + 1) to v).foreach { w =>
          val d = readDelta(spark, root, w)
          val pc = graft.core.HivePartitions.columnsOf(d.props)
          d.adds.foreach(r => ops(r) = Some((d.stats.get(r), d.fmeta.get(r), pc)))
          d.removes.foreach { r => ops(r) = None; removed += r }
        }
        val touched = ops.keys.toSeq
        val finalAdds = ops.collect { case (r, Some((s, f, pc))) =>
          ckptRowOf(r, s, f, pc) }.toSeq
        val freshKept =
          if (touched.isEmpty) prevFresh
          else if (touched.size <= 1000)
            prevFresh.filter(!col("path").isin(touched: _*))
          else {
            val t = spark.createDataset(touched)(
              org.apache.spark.sql.Encoders.STRING).toDF("path")
            prevFresh.join(broadcast(t), Seq("path"), "left_anti").as[CkptRow]
          }
        val fresh1 =
          if (finalAdds.isEmpty) freshKept
          else freshKept.unionByName(spark.createDataset(finalAdds))
        // a tombstone for every REMOVED path only (r16). A pure add of a
        // never-live path has no older copy to kill — the manifest's own
        // fresh rows are replaced by the `touched` filter above, and any
        // sidecar copy of a re-added path descends from an earlier
        // REMOVE whose tombstone is still active (fold GC keeps a tomb
        // while any ref is older). r15's tombstone-per-touched-path made
        // the tomb set grow linearly under pure APPENDS — the dominant
        // workload — tripping the tombCap full compact every ~100k adds
        // (the unexplained 100k steady_ckpt spike). Re-adds still land
        // in fresh at gen ≥ v, so no tombstone here can kill them.
        // INVARIANT this leans on (shared with the plain codec's
        // `checkpointFileFrame`, which also unions adds without dedup):
        // an add names a path that is not currently live. Real writers
        // satisfy it by construction — data files carry fresh UUID
        // suffixes per attempt, and RESTORE's re-adds always follow the
        // remove that freed the path.
        val tombs1 = tombs0 ++ removed.map(_ -> v)
        // the tombstone cap forces a FULL fold — tombs only vanish for
        // good when every ref older than them is rewritten. The ref cap
        // takes the SIZE-TIERED path when every ref carries its row
        // count: fold only the smallest half (LSM-style), so the big
        // bootstrap sidecar is never rewritten for ref-count hygiene and
        // a fixed change's amortized maintenance stays flat in table size.
        if (tombs1.size > sidecarTombCap ||
            (refs0.size >= sidecarMaxRefs && refs0.exists(_.rows.isEmpty))) {
          // FULL COMPACT: fold sidecars + tombs + fresh into one sidecar.
          // The fold rebuilds the live set anyway, so dedup by path here
          // (one extra exchange on an already-O(table) pass): if an
          // external writer ever violated the adds-never-name-live-paths
          // invariant, the duplicate rows self-heal at the next fold
          // instead of compounding forever (survivor arbitrary — the
          // duplicates descend from the same path's re-add).
          val t0 = System.nanoTime()
          val (all, n) = persistCount(checkpointFileFrame(spark, root, v)
            .getOrElse(full).dropDuplicates("path").as[CkptRow])
          val agg = aggOf(all, n)
          val ref = try spill(all, v, n) finally all.unpersist()
          SidecarMaintenance.folds.incrementAndGet()
          SidecarMaintenance.foldNanos.addAndGet(System.nanoTime() - t0)
          SidecarMaintenance.foldedRows.addAndGet(n)
          noteMaintenance(s"sidecar FULL fold on $root@v$v: ${refs0.size} " +
            s"refs + ${tombs1.size} tombs -> 1 ref ($n rows, " +
            f"${(System.nanoTime() - t0) / 1e9}%.2f s)")
          BuiltRows(spark.emptyDataset[CkptRow], Seq(sidecarRefRowOf(ref)), Some(n), agg)
        } else {
          val (refs1, tombs2) =
            if (refs0.size < sidecarMaxRefs) (refs0, tombs1)
            else {
              // SIZE-TIERED fold: rewrite the smallest half of the refs
              // into one sidecar at gen `v` — the CURRENT checkpoint
              // version, like every other spill, so vacuum's gen<floor
              // guard keeps protecting the not-yet-referenced directory
              // (a fold named at an old folded gen could be GC'd by a
              // concurrent vacuum between spill and manifest publish).
              // Current tombs are applied to the folded rows FIRST — a
              // row re-tagged at the higher gen would otherwise outrun a
              // tombstone between its old gen and v; survivors have no
              // such tomb by construction, and future tombs land at
              // gens > v. Tombs stay for the unfolded refs; ones no
              // kept ref is older than are GC'd.
              val t0 = System.nanoTime()
              val sorted = refs0.sortBy(_.rows.get)
              val (foldRefs, keepRefs) =
                sorted.splitAt(math.max(2, refs0.size / 2))
              val unioned = foldRefs.map { r =>
                readCkptRows(spark, sidecarPath(qroot, r.name))
                  .filter(col("kind") === "file").toDF()
                  .withColumn("_gen", lit(r.gen))
              }.reduce(_ unionByName _)
              val survivors =
                if (tombs1.isEmpty) unioned
                else {
                  val t = spark.createDataFrame(tombs1.toSeq)
                    .toDF("_tpath", "_tgen")
                  unioned.join(broadcast(t),
                    unioned("path") === t("_tpath") && t("_tgen") > col("_gen"),
                    "left_anti")
                }
              val (folded, n) = persistCount(
                survivors.drop("_gen").as[CkptRow])
              val newRef = try spill(folded, v, n) finally folded.unpersist()
              SidecarMaintenance.folds.incrementAndGet()
              SidecarMaintenance.foldNanos.addAndGet(System.nanoTime() - t0)
              SidecarMaintenance.foldedRows.addAndGet(n)
              val kept = keepRefs :+ newRef
              val minGen = kept.map(_.gen).min
              val gced = tombs1.filter { case (_, g) => g > minGen }
              noteMaintenance(s"sidecar size-tiered fold on $root@v$v: " +
                s"${foldRefs.size} of ${refs0.size} refs -> 1 ($n rows, " +
                s"tombs ${tombs1.size} -> ${gced.size}, " +
                f"${(System.nanoTime() - t0) / 1e9}%.2f s)")
              (kept, gced)
            }
          val (freshP, freshN) = persistCount(fresh1)
          if (freshN >= spillRows) {
            val ref = try spill(freshP, v, freshN) finally freshP.unpersist()
            BuiltRows(spark.emptyDataset[CkptRow],
              (refs1 :+ ref).map(sidecarRefRowOf) ++
                tombs2.toSeq.map { case (p, g) => tombRowOf(p, g) }, None, None)
          } else {
            // freshP stays persisted: the caller's checkpoint write
            // consumes it and unpersists afterwards
            BuiltRows(freshP,
              refs1.map(sidecarRefRowOf) ++
                tombs2.toSeq.map { case (p, g) => tombRowOf(p, g) }, None, None)
          }
        }
      case None =>
        // bootstrap / full rebuild: the whole live set becomes sidecar #1
        val (all, n) = persistCount(full)
        val agg = aggOf(all, n)
        val ref = try spill(all, v, n) finally all.unpersist()
        BuiltRows(spark.emptyDataset[CkptRow], Seq(sidecarRefRowOf(ref)), Some(n), agg)
    }
  }

  /** The checkpoint at `cv` as (file list, stats) regardless of codec —
    * what `reconstruct` replays tail deltas onto. Throws
    * `FileNotFoundException` when the checkpoint vanished (vacuum racing
    * a reader), so the caller's next-lower-checkpoint fallback fires for
    * both codecs. */
  private def readCheckpointContent(
      spark: SparkSession, root: String, cv: Long)
      : (Seq[String], Map[String, graft.core.Skipping.FileStats]) = {
    val (fs, qroot) = fsOf(spark, root)
    val txt = checkpointPath(qroot, cv)
    if (fs.exists(txt)) {
      val lines = readLines(spark, root, txt)
      (lines.filterNot(_.startsWith("#")),
        lines.filter(_.startsWith("#stats:")).map(parseStats).toMap)
    } else {
      val pq = parquetCheckpointPath(qroot, cv)
      if (!fs.exists(pq))
        throw new java.io.FileNotFoundException(
          s"no checkpoint at version $cv of $root")
      val rows =
        // a vacuum racing this read can delete the directory (analysis-
        // time AnalysisException) OR its part-files mid-collect
        // (SparkException) — both must fire the caller's next-lower-
        // checkpoint fallback, which is exact for ANY failure here
        // (checkpoints are derived; the terminal fallback is a from-v0
        // replay that fails loudly on genuine IO trouble)
        try assembleCheckpointRows(spark, qroot, cv).collect()
        catch {
          case scala.util.control.NonFatal(e) =>
            throw new java.io.FileNotFoundException(
              s"checkpoint at version $cv of $root vanished mid-read: " +
                e.getMessage)
        }
      (rows.map(_.path).toSeq,
        rows.flatMap(r => fileStatsOf(r).map(r.path -> _)).toMap)
    }
  }

  /** One header family of the checkpoint at `cv` (`maxtxn`, `copied`,
    * …) without materializing the file rows: a line-filter on the text
    * codec, a pushed `kind/hkey` filter on the parquet codec. */
  private def checkpointHeaders(
      spark: SparkSession, root: String, cv: Long, key: String): Seq[String] = {
    val (fs, qroot) = fsOf(spark, root)
    val txt = checkpointPath(qroot, cv)
    if (fs.exists(txt))
      readLines(spark, root, txt)
        .filter(_.startsWith(s"#$key:")).map(_.stripPrefix(s"#$key:"))
    else {
      val pq = parquetCheckpointPath(qroot, cv)
      if (!fs.exists(pq))
        throw new java.io.FileNotFoundException(
          s"no checkpoint at version $cv of $root")
      try readCkptMetaRows(spark, pq)
        .filter(col("kind") === "header" && col("hkey") === key)
        .select(col("hval")).as[String](org.apache.spark.sql.Encoders.STRING)
        .collect().toSeq
      catch {
        // same contract as readCheckpointContent: ANY mid-read failure
        // fires the caller's fallback chain (exact by derivation)
        case scala.util.control.NonFatal(e) =>
          throw new java.io.FileNotFoundException(
            s"checkpoint at version $cv of $root vanished mid-read: " +
              e.getMessage)
      }
    }
  }

  private def maybeCheckpoint(spark: SparkSession, root: String, v: Long): Unit =
    if (v % checkpointEvery == 0L)
      writeCheckpoint(spark, root, v, versionFileList(spark, root, v))

  /** Version `v`'s root-relative file list AND the per-file stats the log
    * recorded for the surviving files: nearest checkpoint at-or-below
    * `v` (file lines + `#stats:` headers), plus the (at most
    * `checkpointEvery`) deltas after it — O(change since checkpoint),
    * never O(commits since birth). A checkpoint that vanishes mid-read
    * (vacuum reclaiming below its new floor) falls back to the next-lower
    * checkpoint or a from-v0 replay — checkpoints are derived, so every
    * fallback is exact. Files committed before stats rode the log simply
    * have no entry in the map (readers footer-read exactly those). */
  private def reconstruct(
      spark: SparkSession, root: String, v: Long): (Seq[String], Map[String, graft.core.Skipping.FileStats]) = {
    val (_, qroot) = fsOf(spark, root)
    // a version's (files, stats) are IMMUTABLE (derived from immutable
    // deltas), so one reconstruction serves every later consumer —
    // under the parquet codec a cold read is a Spark job, not a line
    // parse, which this memo keeps off the per-query path
    val key = (qroot.toString, v)
    reconstructCache.get(key).foreach(hit => return hit)
    val ckpts = checkpointVersions(spark, root).filter(_ <= v).reverse
    def attempt(candidates: Seq[Long]): (Seq[String], Map[String, graft.core.Skipping.FileStats]) = {
      val base = candidates.headOption
      try {
        val (ckptFiles, ckptStats) = base match {
          case Some(cv) => readCheckpointContent(spark, root, cv)
          case None => (Seq.empty[String], Map.empty[String, graft.core.Skipping.FileStats])
        }
        val start = base.map(_ + 1).getOrElse(0L)
        val files = scala.collection.mutable.LinkedHashSet[String](ckptFiles: _*)
        val stats = scala.collection.mutable.Map[String, graft.core.Skipping.FileStats](
          ckptStats.toSeq: _*)
        (start to v).foreach { w =>
          val d = readDelta(spark, root, w)
          files ++= d.adds
          stats ++= d.stats
          files --= d.removes
          stats --= d.removes
        }
        (files.toSeq.sorted, stats.toMap.filter(kv => files.contains(kv._1)))
      } catch {
        case _: java.io.FileNotFoundException if base.isDefined =>
          attempt(candidates.tail)
      }
    }
    val r = attempt(ckpts)
    reconstructCache.put(key, r)
    r
  }

  /** Inferred schema per (immutable) staged-feed directory — metadata
    * only, LRU-bounded like the other memos. */
  private val feedSchemaCache = new LruCache[String, StructType](256)

  /** Reconstructed (files, stats) memoized per (qualified root, version)
    * — LRU-bounded, purged on v0 publish, same discipline as
    * `indexCache`. */
  private val reconstructCache = new LruCache[
    (String, Long), (Seq[String], Map[String, graft.core.Skipping.FileStats])](64)

  private def versionFileList(spark: SparkSession, root: String, v: Long): Seq[String] = {
    // parquet-checkpoint tables: answer from the (cached) distributed
    // live-meta collect — 3 thin columns off the checkpoint instead of
    // the full stats-map rows `reconstruct` materializes; both are the
    // same replay, pinned equal by ParquetCheckpointSpec. Warm hits on
    // either cache are free; the driver reconstruct remains for text
    // tables and for consumers that need the stats maps.
    val key = (fsOf(spark, root)._2.toString, v)
    reconstructCache.get(key).foreach(hit => return hit._1)
    liveFileMeta(spark, root, v) match {
      case Some(metas) => metas.map(_.path)
      case None => reconstruct(spark, root, v)._1
    }
  }

  /** A version's absolute data-file paths — the input a file-skipping
    * index build (core/Skipping) or any external reader needs; the log IS
    * the listing. */
  def versionFiles(spark: SparkSession, root: String, version: Long = -1L): Seq[String] = {
    val v = if (version < 0) latestVersion(spark, root) else version
    val (_, qroot) = fsOf(spark, root)
    // `new Path(parent, child)` parses a URI per call (~2.5 µs) — at
    // 10⁷ files that alone was ~25 s of single-threaded driver time
    // (the dominant resolve_cold cost). Engine-written rels are clean
    // relative paths, so plain concat is byte-identical; the Path
    // constructor survives only for out-of-root rows (clone borrows)
    // and anything path-shaped enough to need real resolution.
    val prefix = qroot.toString + "/"
    versionFileList(spark, root, v).map { f =>
      // ':' catches every scheme-qualified absolute rel (clone borrows
      // record "file:/…"); clean engine rels contain none of these
      if (f.isEmpty || f.startsWith("/") || f.contains(":") ||
          f.contains("./") || f.contains("//")) new Path(qroot, f).toString
      else prefix + f
    }
  }

  /** Read a specific version (default: latest). Plans from the log's
    * explicit file list — no directory listing — under the version's
    * RECORDED schema, so files written before a column was added
    * null-fill it and time travel sees each version's own shape. */
  def readVersion(spark: SparkSession, root: String, version: Long = -1L): DataFrame = {
    val v = if (version < 0) latestVersion(spark, root) else version
    val files = versionFiles(spark, root, v)
    require(files.nonEmpty, s"version $v of $root is empty")
    val (_, qroot) = fsOf(spark, root)
    val d = readDelta(spark, root, v)
    readFilesAs(spark, qroot, files, versionSchema(spark, root, v), d.props, d.dv)
  }

  /** Write `df` into a fresh uniquely-suffixed commit dir, returning the
    * new files' root-relative paths AND their column statistics (one
    * footer read per NEW file — O(files changed), never O(table); this is
    * the write-time stats collection a transaction log owes its readers,
    * so plan-time pruning consults the log instead of sweeping footers).
    * The suffix keeps two optimistic appenders' data writes from
    * colliding before the delta-rename race decides their versions. */
  /** Table property: commits write timestamps as INT64 micros instead of
    * Spark's default INT96 — INT96 records NO footer statistics, so only
    * opted-in tables get timestamp file pruning (the stats builder
    * admits exactly this encoding; see core/Skipping). */
  private val tsMicrosProp = "graft.parquet.timestampMicros"

  /** Writer-side hadoop options for ENGINE-INTERNAL parquet writes
    * (commit data files, staged feeds, DV sidecars, checkpoints, sidecar
    * spills). Every such write lands in a freshly-named directory that
    * NOTHING references until the commit's delta (or the checkpoint
    * rename) publishes it, so two pieces of the stock commit protocol
    * are pure overhead here: the `_SUCCESS` marker (the log is the
    * readiness signal — readers never poll for a marker) and the v1
    * output committer's job-commit rename fan (v2 promotes task output
    * directly; a crash leaves partial files in an unreferenced dir that
    * `vacuumDebris` already owns — the exact guarantee v1 gives this
    * protocol). Measured on the engine's own write shape:
    * warm append floor 0.23 → 0.18 s at sf0.1; at scale each skipped
    * rename/create is a per-file object-store RPC. */
  private val internalWriteOptions = Map(
    "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false",
    "mapreduce.fileoutputcommitter.algorithm.version" -> "2")

  private def writeCommitFiles(
      spark: SparkSession, root: String, v: Long, df0: DataFrame,
      props: Map[String, String] = Map.empty,
      writeSchema: Option[StructType] = None): (Seq[String], Map[String, graft.core.Skipping.FileStats]) = {
    // write-time clustering first (logical column names), then column
    // mapping: files are written under PHYSICAL names (identity unless
    // the table has renamed columns; `writeSchema` carries the
    // logical→physical assignment for this commit's columns)
    val clusterCols0 = props.get(clusterByProp)
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
      .filter(df0.columns.contains)
    val bucketCols = bucketColsOf(props).filter(df0.columns.contains)
    val bucketN = props.get(bucketCountProp).flatMap(_.toIntOption).getOrElse(0)
    val clustered0 =
      if (bucketCols.nonEmpty) {
        // bucketed table: EVERY commit hash-repartitions to exactly
        // `graft.buckets` partitions — partition index i IS bucket id i
        // (repartition's HashPartitioning = pmod(hash(cols), n), the
        // same function FileSourceScanExec reports for bucketed scans),
        // and the explicit numPartitions keeps AQE from coalescing.
        // Sorting within the bucket tightens row-group envelopes.
        require(clusterCols0.isEmpty,
          s"$clusterByProp and $bucketByProp are mutually exclusive")
        require(bucketN > 0, s"$bucketByProp needs $bucketCountProp > 0")
        require(graft.core.HivePartitions.columnsOf(props)
            .forall(!bucketCols.contains(_)),
          "bucket columns cannot be partition columns")
        df0.repartition(bucketN, bucketCols.map(col): _*)
          .sortWithinPartitions(bucketCols.map(col): _*)
      }
      else if (clusterCols0.isEmpty) df0
      else {
        val n = math.max(1, df0.rdd.getNumPartitions)
        df0.repartitionByRange(n, clusterCols0.map(col): _*)
          .sortWithinPartitions(clusterCols0.map(col): _*)
      }
    val df = writeSchema.map(toPhysical(clustered0, _)).getOrElse(clustered0)
    val (fs, qroot) = fsOf(spark, root)
    val dir = new Path(qroot,
      s"data/commit-$v-${java.util.UUID.randomUUID.toString.take(8)}")
    val writerOpts = props.filterNot { case (k, _) =>
      k.startsWith(constraintPrefix) || k.startsWith("graft.") }
    val tsConf = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.get(tsConf)
    if (props.get(tsMicrosProp).contains("true"))
      spark.conf.set(tsConf, "TIMESTAMP_MICROS")
    // a partitioned table (graft.partitionBy property) writes every
    // commit in Hive layout: partition values move into the path — the
    // same `data/commit-N-xxxx/year=…/month=…/part-…` shape under each
    // commit's own directory, so the log's rel paths are self-describing
    // (core/HivePartitions decodes them at plan time)
    val partCols = graft.core.HivePartitions.columnsOf(props)
    // (clusterBy was applied above, before the physical rename — Delta's
    // clustered-write idea at commit grain: every commit range-partitions
    // + sorts by the cluster columns so write-time `#stats:` envelopes
    // are tight from the first commit; the per-commit shuffle is the
    // declared price, file count preserved)
    try {
      val w = df.write.options(internalWriteOptions).options(writerOpts)
      (if (partCols.isEmpty) w else w.partitionBy(partCols: _*)).parquet(dir.toString)
    } finally spark.conf.set(tsConf, prevTs)
    val prefix = dir.toString + "/"
    def filesUnder(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (s.isDirectory) filesUnder(s.getPath)
        else Seq(s"data/${dir.getName}/" + s.getPath.toString.stripPrefix(prefix))
      }
    if (bucketCols.nonEmpty) renameBucketFiles(fs, dir)
    val rels = filesUnder(dir)
    (rels, statsForNewFiles(spark, qroot, rels))
  }

  /** Table properties for hash-bucketed layout: `graft.bucketBy` (the
    * bucket columns) and `graft.buckets` (the fixed bucket count). Set
    * at init (or CREATE ... TBLPROPERTIES); every subsequent commit —
    * append, merge, compaction — re-buckets, so the invariant survives
    * the table's whole lifecycle. */
  val bucketByProp = "graft.bucketBy"
  val bucketCountProp = "graft.buckets"

  private[graft] def bucketColsOf(props: Map[String, String]): Seq[String] =
    props.get(bucketByProp)
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)

  /** The `BucketSpec` a bucketed table's relations carry — Spark's
    * FileSourceScanExec then (a) reports HashPartitioning(bucketCols,
    * n) so joins/aggregations on the bucket key between co-bucketed
    * tables plan ZERO exchanges, and (b) prunes buckets for equality
    * predicates on the bucket columns (a point lookup scans 1/n of the
    * files). None when the table isn't bucketed. */
  def bucketSpecOf(props: Map[String, String])
      : Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] = {
    val cols = bucketColsOf(props)
    if (cols.isEmpty) None
    else props.get(bucketCountProp).flatMap(_.toIntOption).filter(_ > 0)
      .map(n => org.apache.spark.sql.catalyst.catalog.BucketSpec(n, cols, Nil))
  }

  /** Stamp each just-written data file with its bucket id in Spark's
    * bucket-file naming (`_NNNNN` before the extension — the shape
    * `BucketingUtils.getBucketId` parses). The bucket id is the task
    * partition index already in the default `part-NNNNN-…` name: the
    * frame was hash-repartitioned to the bucket count immediately
    * before the write, so task i held exactly bucket i (Hive layout
    * subdirectories don't change row→task placement). */
  private def renameBucketFiles(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Unit = {
    val partRe = """^part-(\d+)-(.*?)(\..+)?$""".r
    def walk(p: Path): Unit = fs.listStatus(p).foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory) walk(s.getPath)
      else if (!n.startsWith("_") && !n.startsWith(".")) n match {
        case partRe(idx, mid, ext) =>
          val bucket = f"_${idx.toInt}%05d"
          val renamed = s"part-$idx-$mid$bucket${Option(ext).getOrElse("")}"
          if (!fs.rename(s.getPath, new Path(s.getPath.getParent, renamed)))
            throw new IllegalStateException(
              s"failed to stamp bucket id on ${s.getPath}")
        case _ => throw new IllegalStateException(
          s"unexpected data file name for a bucketed write: ${s.getPath}")
      }
    }
    walk(dir)
  }

  /** Partition columns of the table (from its `graft.partitionBy`
    * property) as of `version`. Empty = unpartitioned. */
  def partitionColumns(spark: SparkSession, root: String, version: Long = -1L): Seq[String] =
    graft.core.HivePartitions.columnsOf(tableProperties(spark, root, version))

  /** Read an EXPLICIT list of the table's data files under `schema` —
    * the one file-read primitive every log path shares. Partitioned
    * tables (per `props`) plan through a partition-aware FileIndex so
    * the path-encoded partition columns materialize; unpartitioned
    * tables take the plain multi-path parquet read. */
  private[graft] def readFilesAs(
      spark: SparkSession, qroot: Path, absFiles: Seq[String],
      schema: Option[StructType], props: Map[String, String],
      dvDirs: Seq[String] = Nil): DataFrame = {
    val cols = schema.map(_.fieldNames.toSeq)
    val framed = readFilesRaw(spark, qroot, absFiles, schema, props)
    val served =
      if (dvDirs.isEmpty) framed
      else {
        // merge-on-read deletion vectors: anti-join the (file, position)
        // pairs the live DV sidecars name — the parquet reader's OWN
        // `_metadata.row_index`/`file_path` identify rows, so no physical
        // column and no file rewrite was ever needed to delete
        val out = cols.getOrElse(framed.columns.toSeq)
        applyDeletionVectors(spark, qroot, framed, dvDirs)
          .select(out.map(col): _*)
      }
    // NOT-NULL-DEFAULT contract: rows from files predating a default
    // declaration null-fill the column — coalesce to the declared
    // constant (identity on default-free versions)
    applyDefaults(served, props)
  }

  private def readFilesRaw(
      spark: SparkSession, qroot: Path, absFiles: Seq[String],
      schema: Option[StructType], props: Map[String, String]): DataFrame = {
    val partCols = graft.core.HivePartitions.columnsOf(props)
    // column mapping: the FILES hold physical names — read under them,
    // then alias back to the version's logical names (identity on
    // tables that never renamed)
    val mapped = schema.exists(hasMapping)
    def toLogical(df: DataFrame, full: StructType): DataFrame =
      if (!mapped) df
      else df.select(full.fields.toSeq.map(f => col(physicalName(f)).as(f.name)): _*)
    if (partCols.isEmpty) schema match {
      case Some(s) => toLogical(spark.read.schema(physicalSchema(s)).parquet(absFiles: _*), s)
      case None => spark.read.parquet(absFiles: _*)
    } else {
      val full = schema.getOrElse(throw new IllegalStateException(
        s"partitioned table at $qroot has no recorded schema"))
      graft.sources.PartitionedRead.frame(spark, qroot, absFiles, full, partCols,
        nameMap = if (mapped) physicalMap(full) else Map.empty)
    }
  }

  /** The deletion-vector directories live at `version` (empty on tables
    * never MOR-deleted) — the front door consults this to decide
    * whether the bare file relation is servable. */
  def liveDeletionVectors(
      spark: SparkSession, root: String, version: Long = -1L): Seq[String] = {
    val v = if (version < 0) latestVersion(spark, root) else version
    readDelta(spark, root, v).dv
  }

  /** The fixed layout of a `_dv/` sidecar: each deleted row's data file
    * (`_metadata.file_path` spelling) and its row index in that file.
    * Readers pass it instead of inferring it, which would cost a job. */
  private[graft] val dvSchema = StructType(Seq(
    StructField("file_path", StringType), StructField("row_index", LongType)))

  /** The union frame of the named DV sidecar directories. */
  private def dvFrame(spark: SparkSession, qroot: Path, dirs: Seq[String]): DataFrame =
    spark.read.schema(dvSchema).parquet(dirs.map(d => new Path(qroot, s"_dv/$d").toString): _*)

  /** DV-filter `df` (a frame whose plan still exposes `_metadata`),
    * KEEPING the `__pos_path`/`__pos_idx` columns for callers that need
    * row positions (deleteWhereMor stages new DVs from them). The DV
    * side is broadcast — a deletion vector is O(deleted rows), the
    * small side by construction. */
  private def withPositionsDvApplied(
      spark: SparkSession, qroot: Path, df: DataFrame,
      dvDirs: Seq[String]): DataFrame = {
    val withPos = df.select(df.columns.map(col) ++ Seq(
      col("_metadata.file_path").as("__pos_path"),
      col("_metadata.row_index").as("__pos_idx")): _*)
    if (dvDirs.isEmpty) withPos
    else {
      val dv = broadcast(dvFrame(spark, qroot, dvDirs)
        .select(col("file_path").as("__pos_path"), col("row_index").as("__pos_idx")))
      withPos.join(dv, Seq("__pos_path", "__pos_idx"), "left_anti")
    }
  }

  private def applyDeletionVectors(
      spark: SparkSession, qroot: Path, df: DataFrame,
      dvDirs: Seq[String]): DataFrame =
    withPositionsDvApplied(spark, qroot, df, dvDirs)
      .drop("__pos_path", "__pos_idx")

  /** The version's rows with a `__file` column naming each row's data
    * file — the input of `mergeClauses`' touched-files detection.
    * Uses the scan's own `_metadata.file_path` (works under the DV
    * anti-join, where `input_file_name()` would see two sources), and
    * applies live deletion vectors so already-deleted rows can never
    * nominate a file. */
  private def readVersionWithFile(
      spark: SparkSession, root: String, version: Long): DataFrame = {
    val (_, qroot) = fsOf(spark, root)
    val d = readDelta(spark, root, version)
    val files = versionFiles(spark, root, version)
    val raw = readFilesRaw(spark, qroot, files,
      versionSchema(spark, root, version), d.props)
    // NOT-NULL-DEFAULT contract holds on the victim-detection path too:
    // a merge key or clause condition on a defaulted column must see the
    // declared constant in pre-declaration files, exactly as SELECT does
    val withPos = applyDefaults(
      withPositionsDvApplied(spark, qroot, raw, d.dv), d.props)
    withPos.withColumnRenamed("__pos_path", "__file").drop("__pos_idx")
  }

  /** Footer-read ONLY the just-written files (driver loop at test-table
    * counts, executor-distributed past that), keyed back to root-relative
    * paths for the delta's `#stats:` lines. */
  private def statsForNewFiles(
      spark: SparkSession, qroot: Path, rels: Seq[String]): Map[String, graft.core.Skipping.FileStats] = {
    val abs = rels.map(r => new Path(qroot, r).toString)
    // footer stats for a just-written commit: the driver path fans the
    // per-file footer reads across driver cores (Skipping), so up to
    // ~128 files it beats launching a Spark job (task scheduling alone
    // costs more than 128 parallel local footer reads); bigger commits
    // (a wide OPTIMIZE) keep the distributed pass
    val built =
      if (rels.size <= 128) graft.core.Skipping.buildIndexForFiles(spark, abs)
      else graft.core.Skipping.buildIndexDistributed(spark, abs)
    val byAbs = built.map(s => s.path -> s).toMap
    rels.zip(abs).flatMap { case (r, a) =>
      byAbs.get(a).map(s => r -> s.copy(path = r))
    }.toMap
  }

  // ---- Row tracking (Delta's rowTracking feature on this log) --------
  //
  // `graft.rowTracking = true` at init gives every row a STABLE unique
  // id that survives the table's whole lifecycle. Implementation: the
  // engine declares a hidden identity column `_row_id` — so fresh rows
  // on EVERY ingest path (init, append, COPY INTO, MERGE inserts,
  // streaming commits) allocate through the existing one-pass identity
  // machinery, and every rewrite path (OPTIMIZE / REBUCKET / COW
  // UPDATE-MERGE carry-through / MOR post-images / DV materialization)
  // preserves ids for free because `_row_id` is an ordinary recorded
  // schema column the rewrites carry like any other. Ids are unique and
  // ascending but SPARSE (the identity allocator's documented gap
  // admission). The catalog and spark.read front doors HIDE `_row_id`
  // unless `.option("rowIds", "true")` asks for it (Delta hides row ids
  // the same way); `readVersion` — and therefore every internal rewrite
  // read — always carries it. CDC feeds on tracked tables carry the ids
  // too, so a downstream consumer can follow one logical row across
  // updates. Gated as writer feature `rowTracking`.

  val rowTrackingProp = "graft.rowTracking"
  val rowIdCol = "_row_id"

  private[graft] def rowTrackingOn(props: Map[String, String]): Boolean =
    props.get(rowTrackingProp).contains("true")

  /** Engine-managed columns a FRONT DOOR hides by default (the recorded
    * schema still carries them; opt back in per read). */
  def hiddenColumns(props: Map[String, String]): Seq[String] =
    if (rowTrackingOn(props)) Seq(rowIdCol) else Nil

  /** `schema` minus the engine-hidden columns — what SELECT * shows. */
  def visibleSchema(schema: StructType, props: Map[String, String]): StructType = {
    val hide = hiddenColumns(props).toSet
    if (hide.isEmpty) schema
    else StructType(schema.fields.filterNot(f => hide.contains(f.name)))
  }

  /** Create version 0 from `df`. Fails if a log already exists.
    * `props` are table-level writer options (e.g.
    * `parquet.bloom.filter.enabled#doc_id -> true`) recorded in the log
    * and applied to THIS and every future commit's data write. */
  def init(spark: SparkSession, root: String, df: DataFrame,
      props: Map[String, String] = Map.empty): Long =
    initTxn(spark, root, df, None, props)

  private def initTxn(
      spark: SparkSession, root: String, df: DataFrame, txn: Option[Long],
      props0: Map[String, String] = Map.empty): Long = {
    require(versions(spark, root).isEmpty, s"snapshot log already exists at $root")
    // row tracking rides the identity machinery: declare the hidden
    // `_row_id` identity column alongside whatever the user declared
    val props =
      if (!rowTrackingOn(props0)) props0
      else {
        require(!df.columns.contains(rowIdCol),
          s"$rowIdCol is engine-managed under $rowTrackingProp — the init " +
            "frame cannot carry it")
        require(!props0.contains(identityPrefix + rowIdCol),
          s"$rowIdCol identity is engine-declared under $rowTrackingProp")
        props0 + (identityPrefix + rowIdCol -> "1,1")
      }
    // a partitioned table's layout columns must exist up front (validated
    // once here; every later commit writes the same Hive layout —
    // GENERATED columns are materialized first, so a derived partition
    // key passes)
    val st = stage(spark, root, Delta(Nil, Nil, props = props), 0L, df,
      admit = gen => graft.core.HivePartitions.splitSchema(
        gen.schema, graft.core.HivePartitions.columnsOf(props)))
    writeDelta(spark, root, 0L,
      Delta(st.adds, Nil, txn, schema = Some(st.schema.json),
        props = props ++ st.patch, stats = st.stats, op = Some("init")))
    maybeCheckpoint(spark, root, 0L)
    0L
  }

  /** One ingest batch staged against its base: the data files written,
    * their stats, the batch's own schema under frozen physical names
    * (`batchSchema`, which `commitAdds` re-merges against the head it
    * lands on) and the table schema it records against the base
    * (`schema`), the identity hwm patch, and the stamped state the
    * files depend on (`expect`: the hwms the ids were drawn above and
    * the bucket layout the file names carry). `frame` is the prepared
    * batch, for a route's own selection over it. */
  private final case class Staged(
      frame: DataFrame, adds: Seq[String],
      stats: Map[String, graft.core.Skipping.FileStats],
      batchSchema: StructType, schema: StructType,
      patch: Map[String, String], expect: Map[String, String])

  /** Stage `df0` as version `v`'s new files over `base` — the one
    * sequence every route that lands new rows runs (init, append,
    * streaming batches, COPY INTO, overwrite, replaceWhere, dynamic
    * partition overwrite):
    *
    *   1. `upcastTo` the table's types, so a producer still emitting a
    *      column's pre-widening type keeps landing (evolve only);
    *   2. `withGenerated`: DEFAULTs first, then generated columns;
    *   3. `withIdentity`: ids above the hwm for absent identity columns;
    *   4. `checkConstraints`, then the route's own `admit` check;
    *   5. the schema. `replace = false` EVOLVES the table:
    *      `evolvedSchema` widens it by the batch's new columns under
    *      frozen physical names and refuses a type change, before
    *      anything is written. `replace = true` (overwrite) REPLACES it
    *      with the batch's own;
    *   6. `writeCommitFiles` of the batch in that schema's shape;
    *   7. `identityPatch` through the physical map. */
  private def stage(
      spark: SparkSession, root: String, base: Delta, v: Long, df0: DataFrame,
      replace: Boolean = false, admit: DataFrame => Unit = _ => ()): Staged = {
    val props = base.props
    val table =
      if (replace) None else base.schema.map(DataType.fromJson(_).asInstanceOf[StructType])
    val (df, idExpect, injected) =
      withIdentity(withGenerated(upcastTo(df0, table), props), props)
    checkConstraints(df, props)
    admit(df)
    val (batchSchema, schema) =
      if (replace) { val s = nullable(df.schema); (s, s) }
      else evolvedSchema(table, df.schema, props)
    val (adds, stats) = writeCommitFiles(spark, root, v, conform(df, schema), props, Some(schema))
    val physOf = physicalMap(schema)
    Staged(df, adds, stats, batchSchema, schema,
      identityPatch(stats, injected, c => physOf.getOrElse(c, c)),
      idExpect ++ Seq(bucketByProp, bucketCountProp).map(k => k -> props.getOrElse(k, "")))
  }

  /** The schema step of an evolving ingest, which MERGE's star actions
    * share: `batch`'s fields under frozen physical names
    * (`assignPhysical`), and `table` widened by them (`mergedSchema`,
    * which refuses a changed column type). A batch column that still
    * carries a pre-widening type must be up-cast first (`upcastTo`). */
  private def evolvedSchema(
      table: Option[StructType], batch: StructType,
      props: Map[String, String]): (StructType, StructType) = {
    val assigned = assignPhysical(table, batch, props)
    (assigned, mergedSchema(table, assigned))
  }

  /** CONVERT an existing plain-parquet directory (optionally
    * Hive-partitioned) into a snapshot table IN PLACE — Delta's
    * `CONVERT TO DELTA`, the lakehouse adoption primitive: ZERO data
    * movement, one metadata commit. The directory's parquet files
    * become version 0's adds (root-relative, wherever they already
    * live — the log never required its own layout, only named files),
    * their footers feed the write-time `#stats:` envelopes so file
    * skipping works immediately, and the schema is inferred with
    * Spark's own partition discovery (pass `partitionBy` to record the
    * partition columns so Catalyst partition pruning and
    * partition-grain DML apply). After conversion the directory IS the
    * table: every front door, DML path, and maintenance op works, and
    * the original files are never modified — only superseded by later
    * commits. At 100 TB this is the difference between adopting a
    * table and rewriting one. */
  def convertToSnapshot(
      spark: SparkSession, root: String, partitionBy: Seq[String] = Nil,
      props: Map[String, String] = Map.empty): Long = {
    require(versions(spark, root).isEmpty, s"snapshot log already exists at $root")
    // adopted files carry no row ids and CONVERT promises zero data
    // movement — backfilling ids would be a full rewrite. Refuse the
    // combination loudly; init a tracked table and append instead.
    require(!rowTrackingOn(props),
      s"$rowTrackingProp cannot be enabled by CONVERT (adopted files carry " +
        "no row ids and conversion moves no data) — init a row-tracked " +
        "table and ingest into it instead")
    val (_, qroot) = fsOf(spark, root)
    val rootUri = qroot.toString.stripSuffix("/") + "/"
    val rels = graft.core.Skipping.dataFiles(spark, root, recursive = true)
      .filter(_.endsWith(".parquet"))
      .map { a =>
        val q = new Path(a)
        val qs = q.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .makeQualified(q).toString
        require(qs.startsWith(rootUri), s"file outside the table root: $a")
        qs.stripPrefix(rootUri)
      }
      // skip hidden/metadata subtrees (_spark_metadata, .crc, …)
      .filterNot(_.split('/').exists(seg =>
        seg.startsWith("_") || seg.startsWith(".")))
      .sorted
    require(rels.nonEmpty, s"no parquet files to convert under $root")
    // a Hive-partitioned directory adopted WITHOUT naming its partition
    // columns would record them in the schema (partition discovery sees
    // the paths) but not in the partition property — subsequent reads
    // take the unpartitioned branch and silently null-fill those
    // columns. Refuse loudly instead (Delta's CONVERT makes the same
    // demand): every path-encoded column must appear in partitionBy.
    val pathCols = rels.flatMap(_.split('/').dropRight(1).toSeq)
      .filter(_.contains('='))
      .map(_.takeWhile(_ != '=')).distinct.sorted
    val undeclared = pathCols.filterNot(c =>
      partitionBy.exists(_.equalsIgnoreCase(c)))
    require(undeclared.isEmpty,
      s"CONVERT found path-encoded partition column(s) ${undeclared.mkString(", ")} " +
        s"under $root but they are not declared — pass PARTITIONED BY " +
        s"(${pathCols.mkString(", ")}) so reads partition-prune instead of " +
        "silently null-filling the discovered columns")
    // partition discovery types the path-encoded columns; data columns
    // keep the files' own schema
    val full = nullable(spark.read.parquet(root).schema)
    graft.core.HivePartitions.splitSchema(full, partitionBy) // validates
    val withPart =
      if (partitionBy.isEmpty) props
      else props + (graft.core.HivePartitions.prop -> partitionBy.mkString(","))
    val stats = statsForNewFiles(spark, qroot, rels)
    writeDelta(spark, root, 0L,
      Delta(rels, Nil, schema = Some(full.json), props = withPart,
        stats = stats, op = Some("convert")))
    maybeCheckpoint(spark, root, 0L)
    0L
  }

  /** New version = previous files plus `df` as new files. Retries with a
    * rebase on a lost commit race (appends commute — see `commitAdds`).
    * A `df` carrying columns the table lacks WIDENS the table schema
    * (schema evolution — old files null-fill at read time); a column
    * type change is refused loudly.
    *
    * Auto-compaction (Delta's autoCompact, opt-in): with the table
    * property `graft.autoCompact.smallBytes=<n>`, each append is
    * followed by a best-effort bin-packing `optimizeCompact` of files
    * smaller than n — a SEPARATE commit, so the append's atomicity and
    * OCC rebase are untouched and a crash between the two leaves a
    * valid, merely-uncompacted table. Opportunistic by design: a lost
    * compaction race (another writer landed first) is swallowed — the
    * next append simply compacts more. Steady small-batch ingest keeps
    * O(1) files instead of O(appends), which is what keeps the
    * per-query planning cost flat at 100 TB. */
  def append(spark: SparkSession, root: String, df: DataFrame): Long = {
    val v = appendTxn(spark, root, df, None)
    maybeAutoCompact(spark, root, v)
    v
  }

  private val autoCompactProp = "graft.autoCompact.smallBytes"
  private[jobs] val clusterByProp = "graft.clusterBy"

  /** Best-effort post-append auto-compaction (see `append`). A malformed
    * property value degrades to a warning — the data commit already
    * landed, so failing HERE would fail every ingest AFTER its commit,
    * the worst possible place for a config typo to surface. */
  private def maybeAutoCompact(spark: SparkSession, root: String, v: Long): Unit =
    readDelta(spark, root, v).props.get(autoCompactProp).foreach { n =>
      n.toLongOption match {
        case None => org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"ignoring malformed $autoCompactProp='$n' on $root (not a long)")
        case Some(bytes) =>
          try optimizeCompact(spark, root, smallerThanBytes = bytes)
          catch {
            case e: IllegalArgumentException if e.getMessage.contains("commit race") => ()
            case e: IllegalStateException if e.getMessage.contains("commit race") => ()
          }
      }
    }

  private def appendTxn(
      spark: SparkSession, root: String, df0: DataFrame, txn: Option[Long],
      attemptsLeft: Int = 6): Long = {
    val base = latestVersion(spark, root)
    val st = stage(spark, root, readDelta(spark, root, base), base + 1, df0)
    try commitAdds(spark, root, st.adds, txn, base + 1, Some(st.batchSchema), st.stats,
      expectProps = st.expect, patchProps = st.patch)
    catch {
      // the staged files are gone; re-stage the whole append (re-stamp
      // included) against the current head
      case _: StaleStage if attemptsLeft > 1 =>
        appendTxn(spark, root, df0, txn, attemptsLeft - 1)
    }
  }

  /** A stamped-state refusal from `commitAdds`: a winner made the staged
    * files stale, and they are already deleted. The caller re-stages
    * against the current head. */
  private final class StaleStage(msg: String) extends IllegalStateException(msg)

  /** Optimistic-concurrency commit of an ADDS-ONLY delta (append, COPY
    * INTO, streaming batch): attempt `startV`; on a lost race, re-read
    * the latest version and retry one higher. Safe because such a delta
    * references only its own new files — it commutes with any
    * interleaved commit, so rebasing is just renumbering. The recorded
    * schema is re-merged against the CURRENT base on every attempt (the
    * winner may itself have evolved the schema).
    *
    * Stamped state cannot rebase: identity ids and bucket ids are
    * already in the written files' bytes and names, and a COPY INTO's
    * `copied` source identities must land once. A winner that moved an
    * `expectProps` value, or recorded any of `copied`, makes the staged
    * files stale: they are deleted and `StaleStage` is thrown. Exposed
    * for the spec to exercise the collision branch deterministically. */
  private[jobs] def commitAdds(
      spark: SparkSession, root: String, adds: Seq[String],
      txn: Option[Long], startV: Long, addSchema: Option[StructType] = None,
      stats: Map[String, graft.core.Skipping.FileStats] = Map.empty,
      expectProps: Map[String, String] = Map.empty,
      patchProps: Map[String, String] = Map.empty,
      op: String = "append", copied: Seq[String] = Nil): Long = {
    def stale(msg: String): Nothing = {
      val (fs, qroot) = fsOf(spark, root)
      adds.foreach(f => fs.delete(new Path(qroot, f), false))
      throw new StaleStage(s"$msg — retry the whole $op")
    }
    var v = startV
    var attempts = 0
    var committed = false
    while (!committed) {
      val prevDelta = readDelta(spark, root, v - 1)
      expectProps.foreach { case (k, want) =>
        val got = prevDelta.props.getOrElse(k, "")
        if (got != want) stale(
          (if (k.startsWith(identityPrefix)) "identity allocation race"
           else "bucket layout race") +
            s" on $k (allocated against '$want', head now carries '$got')")
      }
      val schema = addSchema.map(s =>
        mergedSchema(prevDelta.schema.map(DataType.fromJson(_).asInstanceOf[StructType]), s).json)
      try {
        writeDelta(spark, root, v,
          Delta(adds, Nil, txn, schema = schema,
            props = prevDelta.props ++ patchProps,
            stats = stats, op = Some(op), dv = prevDelta.dv, copied = copied))
        committed = true
      } catch {
        case e: IllegalArgumentException if e.getMessage.contains("commit race") =>
          val head = latestVersion(spark, root)
          val mine = copied.toSet
          (v to head).find(w => readDelta(spark, root, w).copied.exists(mine)).foreach { w =>
            stale(s"copy race at version $w (a concurrent COPY INTO ingested " +
              "some of the same source files)")
          }
          attempts += 1
          if (attempts >= maxCommitRetries)
            throw new IllegalStateException(
              s"$op lost $maxCommitRetries commit races at $root — writer storm?", e)
          v = math.max(v + 1, head + 1)
      }
    }
    maybeCheckpoint(spark, root, v)
    v
  }

  /** Source-file identities COPY INTO has already ingested as of version
    * `v` — the union of every `#copied:` marker at or below it. An
    * identity is `path|size|mtimeMs` (Databricks' COPY INTO keys on the
    * same triple): a re-landed file with new bytes gets a new mtime and
    * loads again; an untouched file never double-loads. The set is
    * APPEND-ONLY (rows from a source file stay in the table's history
    * even after compaction rewrites the file that carried them), so the
    * nearest checkpoint's union plus the deltas after it reconstructs it
    * in O(change) — and vacuum writes a floor checkpoint before dropping
    * deltas, so retention can never resurrect a double-load. */
  def copiedUpTo(spark: SparkSession, root: String, v: Long): Set[String] = {
    val (_, qroot) = fsOf(spark, root)
    val ckpts = checkpointVersions(spark, root).filter(_ <= v).reverse
    def attempt(candidates: Seq[Long]): Set[String] = {
      val base = candidates.headOption
      try {
        val fromCkpt: Seq[String] = base match {
          case Some(cv) => checkpointHeaders(spark, root, cv, "copied")
          case None => Seq.empty
        }
        val start = base.map(_ + 1).getOrElse(0L)
        (fromCkpt ++ (start to v).flatMap(w => readDelta(spark, root, w).copied)).toSet
      } catch {
        case _: java.io.FileNotFoundException if base.isDefined =>
          attempt(candidates.tail)
      }
    }
    attempt(ckpts)
  }

  /** The identities among `candidates` that the log already ingested —
    * O(candidates) driver memory regardless of table history: on
    * parquet-checkpoint tables the all-time `#copied:` union stays a
    * distributed frame (pushed `kind/hkey` filter + an IN over the
    * landing set, which is one COPY run's file list — small by
    * construction); the text codec keeps the driver set. A vanished
    * checkpoint falls back to the full driver path, which has its own
    * fallback chain. */
  private def copiedAmong(
      spark: SparkSession, root: String, v: Long,
      candidates: Seq[String]): Set[String] = {
    if (candidates.isEmpty) return Set.empty
    val (_, qroot) = fsOf(spark, root)
    // same gate as checkpointFileFrame: the pushed-filter path applies
    // only while the CURRENT format is parquet and the tail since the
    // checkpoint is bounded — a stale checkpoint after a text flip must
    // not grow an O(history) tail loop
    val gated =
      if (!parquetPathOn(readDelta(spark, root, v).props)) None
      else logVersions(spark, root, ".checkpoint.parquet").filter(_ <= v)
        .lastOption.filter(cv => v - cv <= checkpointEvery * 4)
    gated match {
      case Some(cv) =>
        try {
          val tail = ((cv + 1) to v)
            .flatMap(w => readDelta(spark, root, w).copied).toSet
          val prevHdr = ckptCopiedRows(spark, qroot, cv)
          // a huge landing set (tens of thousands of source files) must
          // not become a driver-built literal IN — same >1000 valve as
          // checkpointFileFrame's removes: broadcast-semi-join instead
          val prevMatch =
            if (candidates.size <= 1000)
              prevHdr.filter(col("hval").isin(candidates: _*))
            else {
              val cand = spark.createDataset(candidates)(
                org.apache.spark.sql.Encoders.STRING).toDF("hval")
              prevHdr.join(broadcast(cand), Seq("hval"), "left_semi")
            }
          val prev = prevMatch
            .select(col("hval")).as[String](org.apache.spark.sql.Encoders.STRING)
            .collect().toSet
          candidates.toSet.intersect(tail) ++ prev
        } catch {
          case scala.util.control.NonFatal(_) =>
            copiedUpTo(spark, root, v).intersect(candidates.toSet)
        }
      case None => copiedUpTo(spark, root, v).intersect(candidates.toSet)
    }
  }

  final case class CopyResult(
      version: Long, filesLoaded: Long, filesSkipped: Long, rowsInserted: Long)

  /** `COPY INTO` — idempotent landing-zone ingest (the Databricks/Delta
    * statement): load the files under `from` into the table EXACTLY
    * ONCE each. Already-ingested files (identity = path|size|mtime,
    * tracked in the log via `#copied:` markers — see `copiedUpTo`) are
    * skipped, so the statement is safe to re-run after any failure and
    * safe to schedule blindly against a landing directory that only
    * grows; `force = true` reloads everything unconditionally.
    *
    * One commit ingests the whole new-file batch: the rows land through
    * the same machinery as `append` (generated columns materialized,
    * constraints checked, Hive layout for partitioned tables, write-time
    * stats envelopes), and the `#copied:` markers ride the SAME delta,
    * so the data and the bookkeeping are atomic — a crash either loads a
    * batch with its markers or neither. A lost commit race re-checks the
    * winner's markers: if the same source files landed concurrently
    * (two schedulers racing the same landing zone), this writer deletes
    * its staged files and re-plans against the new head instead of
    * double-loading.
    *
    * Sources with columns the table does not have are REFUSED (a typo'd
    * landing schema should fail loudly, not silently widen the table —
    * use `append` for intentional schema evolution); missing columns
    * null-fill at read time under the table's recorded schema. CSV/JSON
    * read under the table's own schema (no inference drift); PARQUET
    * keeps the files' types, validated against the table's.
    *
    * 100 TB shape: the skip check is an O(ingested files) metadata-set
    * lookup answered from the log — never a data read, never a listing
    * of the table — and the per-run cost rides ONLY the new files. */
  def copyInto(
      spark: SparkSession, root: String, from: String,
      format: String = "parquet", pattern: Option[String] = None,
      formatOptions: Map[String, String] = Map.empty,
      force: Boolean = false, attemptsLeft: Int = 3): CopyResult = {
    val base = latestVersion(spark, root)
    val fromPath = new Path(from)
    val sfs = fromPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qfrom = sfs.makeQualified(fromPath)
    require(sfs.exists(qfrom), s"COPY INTO source not found: $from")
    val matcher = pattern.map(g =>
      java.nio.file.FileSystems.getDefault.getPathMatcher("glob:" + g))
    def walk(d: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      sfs.listStatus(d).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (s.isFile) Seq(s) else walk(s.getPath)
      }
    val rootStatus = sfs.getFileStatus(qfrom)
    val statuses =
      (if (rootStatus.isFile) Seq(rootStatus) else walk(qfrom)).filter { s =>
        val rel = s.getPath.toString.stripPrefix(qfrom.toString).stripPrefix("/")
        matcher.forall(_.matches(java.nio.file.Paths.get(
          if (rel.isEmpty) s.getPath.getName else rel)))
      }
    def identity(s: org.apache.hadoop.fs.FileStatus) =
      s"${s.getPath.toString}|${s.getLen}|${s.getModificationTime}"
    val already =
      if (force) Set.empty[String]
      else copiedAmong(spark, root, base, statuses.map(identity))
    val fresh = statuses.filterNot(s => already.contains(identity(s)))
    val skipped = (statuses.size - fresh.size).toLong
    if (fresh.isEmpty) return CopyResult(base, 0L, skipped, 0L)
    val freshIds = fresh.map(identity)
    val paths = fresh.map(_.getPath.toString)
    val baseDelta = readDelta(spark, root, base)
    val props = baseDelta.props
    val tableSchema = baseDelta.schema
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(throw new IllegalArgumentException(
        s"COPY INTO target at $root records no schema"))
    val df0 = format.toLowerCase(java.util.Locale.ROOT) match {
      case "parquet" => spark.read.options(formatOptions).parquet(paths: _*)
      case "csv" =>
        spark.read.options(formatOptions).schema(tableSchema).csv(paths: _*)
      case "json" =>
        spark.read.options(formatOptions).schema(tableSchema).json(paths: _*)
      case other => throw new IllegalArgumentException(
        s"COPY INTO FILEFORMAT $other is not supported (PARQUET | CSV | JSON)")
    }
    val known = tableSchema.fields.map(_.name).toSet
    val extra = df0.columns.filterNot(known.contains)
    require(extra.isEmpty,
      s"COPY INTO source carries column(s) the table lacks: " +
        s"${extra.mkString(", ")} — COPY never widens a schema; use append " +
        "for intentional evolution")
    // CSV/JSON read under the FULL table schema, so identity/generated
    // columns ABSENT from the source arrive present-but-all-NULL — and
    // `withIdentity`/`withGenerated` inject only for MISSING columns.
    // Without this, COPY INTO a CSV lacking the identity column lands
    // NULL ids, and a NULL generated PARTITION column makes the copied
    // rows invisible to partition-filtered reads (pruned away). Drop the
    // declared columns that are entirely NULL in the batch so injection
    // fires; a source carrying real values keeps explicit pass-through
    // (contradictions still refused by the generated-column validator).
    // Cost: one column-pruned aggregate over the NEW files only, and only
    // for tables declaring such columns — parquet sources keep their own
    // schema, so absence there is already genuine absence.
    val declared =
      (identityColsOf(props).map(_._1) ++
        props.keys.filter(_.startsWith(generatedPrefix))
          .map(_.stripPrefix(generatedPrefix))).distinct
        .filter(df0.columns.contains)
    val df1 =
      if (declared.isEmpty ||
          format.toLowerCase(java.util.Locale.ROOT) == "parquet") df0
      else {
        val counts = df0.agg(
          count(col(declared.head)).as(declared.head),
          declared.tail.map(c => count(col(c)).as(c)): _*).head()
        val allNull = declared.filter(c => counts.getLong(counts.fieldIndex(c)) == 0L)
        if (allNull.isEmpty) df0 else df0.drop(allNull: _*)
      }
    val st = stage(spark, root, baseDelta, base + 1, df1)
    try {
      val v = commitAdds(spark, root, st.adds, None, base + 1, Some(st.batchSchema),
        st.stats, st.expect, st.patch, op = "copy", copied = freshIds)
      CopyResult(v, fresh.size.toLong, skipped, st.adds.flatMap(st.stats.get).map(_.rows).sum)
    } catch {
      // a winner moved the stamped state or landed some of the same
      // source files: the staged batch is gone, re-plan from the new head
      case e: StaleStage =>
        require(attemptsLeft > 1,
          s"COPY INTO lost ${4 - attemptsLeft} replan races at $root — scheduler storm? " +
            s"(last: ${e.getMessage})")
        copyInto(spark, root, from, format, pattern, formatOptions, force, attemptsLeft - 1)
    }
  }

  /** Replace the table's entire live content with `df` as ONE commit —
    * `SaveMode.Overwrite` on the log. The schema is REPLACED, not
    * widened: the new head holds only new files, and every old version
    * keeps reading under its own recorded schema, so dropping or
    * retyping a column cannot corrupt time travel. CHECK constraints
    * still gate the new rows. Concurrency is the file-disjoint rewrite
    * contract (`commitRewrite`): a concurrent APPEND rebases on top —
    * serialized after the replace, its rows survive (WriteSerializable)
    * — while a concurrent rewrite claiming the same files fails loudly.
    * CDC: an overwrite publishes no feed, so `changesBetween` over it
    * fails loudly (replace has no row-grain diff short of comparing
    * snapshots) and `TableSync` refuses/skips it like any rewrite. */
  def overwrite(spark: SparkSession, root: String, df0: DataFrame): Long = {
    val base = latestVersion(spark, root)
    val prevDelta = readDelta(spark, root, base)
    // identity columns (incl. row tracking's `_row_id`) survive a full
    // replace: absent columns inject fresh ids ABOVE the existing hwm —
    // replaced rows' ids are never reused (Delta's overwrite admission)
    val st = stage(spark, root, prevDelta, base + 1, df0, replace = true)
    // every live file is replaced, so the base's deletion vectors go
    // with them
    commitRewrite(spark, root, base + 1,
      Delta(st.adds, versionFileList(spark, root, base), schema = Some(st.schema.json),
        props = prevDelta.props ++ st.patch, stats = st.stats, op = Some("overwrite")),
      dvDropped = prevDelta.dv, staged = st.adds)
  }

  /** The live files of `version` with their TYPED partition values as a
    * small driver-built frame (`__file` rel path + one column per
    * partition column) — the O(files) metadata grain partition-targeted
    * operations select their victims from. Never touches data. */
  private def filePartitionsFrame(
      spark: SparkSession, root: String, version: Long): DataFrame = {
    val d = readDelta(spark, root, version)
    val partCols = graft.core.HivePartitions.columnsOf(d.props)
    require(partCols.nonEmpty, s"$root is not a partitioned table " +
      s"(no ${graft.core.HivePartitions.prop} property)")
    val full = d.schema.map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(s"no recorded schema at $root"))
    val (_, pSchema) = graft.core.HivePartitions.splitSchema(full, partCols)
    val files = versionFileList(spark, root, version)
    import org.apache.spark.sql.{Row => SRow}
    val rows = files.map { f =>
      val vals = graft.core.HivePartitions.valuesOf(f, partCols)
      SRow.fromSeq(f +: partCols.map(c => vals.getOrElse(c, None).orNull))
    }
    val strSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__file",
        org.apache.spark.sql.types.StringType) +:
        partCols.map(org.apache.spark.sql.types.StructField(_,
          org.apache.spark.sql.types.StringType)))
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), strSchema)
    partCols.foldLeft(raw)((df, c) =>
      df.withColumn(c, col(c).cast(pSchema(c).dataType)))
  }

  /** Rel paths of `version`'s files whose PARTITION VALUES satisfy
    * `predicateSql` — plan-time victim selection for `replaceWhere` and
    * partition-scoped OPTIMIZE. The predicate may reference partition
    * columns only (anything else fails resolution loudly — a data-column
    * predicate can't be answered at file grain). */
  private[jobs] def filesMatchingPartitionPredicate(
      spark: SparkSession, root: String, version: Long,
      predicateSql: String): Seq[String] = {
    val partCols = partitionColumns(spark, root, version)
    val refs = spark.sessionState.sqlParser.parseExpression(predicateSql)
      .collect { case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name }
    val alien = refs.filterNot(partCols.contains)
    require(alien.isEmpty,
      s"partition predicate may reference only partition columns " +
        s"(${partCols.mkString(", ")}); got: ${alien.mkString(", ")}")
    filePartitionsFrame(spark, root, version)
      .where(expr(predicateSql))
      .select(col("__file")).collect().map(_.getString(0)).toSeq.sorted
  }

  /** Delta's `replaceWhere` as ONE commit: atomically replace exactly
    * the partitions matching `predicateSql` (over partition columns)
    * with `df`'s rows — the partition-grain dynamic overwrite the
    * reference's own monthly-reprocess layout needs (ref
    * `scripts/02_spark_etl.py:65,140-144`: `partitionBy("year","month")`
    * + dynamic overwrite). Every incoming row must itself satisfy the
    * predicate (refused loudly otherwise — rows silently landing in
    * partitions the commit does not claim would corrupt the contract).
    * Removes = files of matching partitions (selected from the LOG's
    * paths, no data read); adds = `df` in Hive layout. History intact:
    * the pre-replace version still reads exactly. O(changed partitions),
    * never O(table). */
  def replaceWhere(
      spark: SparkSession, root: String, df0: DataFrame, predicateSql: String): Long = {
    val base = latestVersion(spark, root)
    val prevDelta = readDelta(spark, root, base)
    val removes = filesMatchingPartitionPredicate(spark, root, base, predicateSql)
    // partition-scoped replaces are still an INGEST path: absent
    // identity columns (incl. row tracking's `_row_id`) inject fresh
    // ids above the hwm — without this, tracked rows landed NULL ids
    val st = stage(spark, root, prevDelta, base + 1, df0, admit = { df =>
      val bad = df.where(coalesce(expr(predicateSql), lit(false)) === false).take(1)
      require(bad.isEmpty,
        s"replaceWhere($predicateSql): batch rows outside the predicate, " +
          s"e.g. ${bad.headOption.getOrElse("")}")
    })
    commitRewrite(spark, root, base + 1,
      Delta(st.adds, removes, schema = Some(st.schema.json),
        props = prevDelta.props ++ st.patch,
        stats = st.stats, op = Some("overwrite"), dv = prevDelta.dv),
      staged = st.adds)
  }

  /** Dynamic partition overwrite as ONE commit (Spark's
    * `partitionOverwriteMode=dynamic` on the log): replace exactly the
    * partitions PRESENT in `df`, leave every other partition untouched.
    * The touched-partition set is O(partitions in the batch) driver
    * metadata; victims are selected from the log's paths with
    * null-safe equality (a null partition value replaces the
    * `__HIVE_DEFAULT_PARTITION__` directory). */
  def overwritePartitions(spark: SparkSession, root: String, df0: DataFrame): Long = {
    val base = latestVersion(spark, root)
    val prevDelta = readDelta(spark, root, base)
    val partCols = graft.core.HivePartitions.columnsOf(prevDelta.props)
    require(partCols.nonEmpty, s"$root is not a partitioned table " +
      s"(no ${graft.core.HivePartitions.prop} property)")
    // same identity admission as replaceWhere: dynamic overwrite ingests
    val st = stage(spark, root, prevDelta, base + 1, df0)
    val touched = st.frame.select(partCols.map(col): _*).distinct().alias("t")
    val fileDf = filePartitionsFrame(spark, root, base).alias("f")
    val cond = partCols.map(c => col(s"f.$c") <=> col(s"t.$c")).reduce(_ && _)
    val removes = fileDf.join(touched, cond, "left_semi")
      .select(col("__file")).collect().map(_.getString(0)).toSeq.sorted
    commitRewrite(spark, root, base + 1,
      Delta(st.adds, removes, schema = Some(st.schema.json),
        props = prevDelta.props ++ st.patch,
        stats = st.stats, op = Some("overwrite"), dv = prevDelta.dv),
      staged = st.adds)
  }

  /** A COW rewrite commit (removes + adds computed against a base
    * snapshot): on a lost race the rewrite REBASES iff its removed-file
    * set is disjoint from every winner's removes — the content it
    * rewrote came only from files no winner touched, so renumbering on
    * top is exact (the winner's carried-over view of those files is the
    * same bytes this writer read). True overlap — the winner rewrote or
    * removed a file this commit also claims — fails loudly: the loser's
    * rewrite was derived from a file that no longer exists at head.
    * File-grain write-serializable semantics: a winner's concurrent
    * APPEND is not re-examined (its rows are simply carried), the same
    * admission Delta Lake's WriteSerializable isolation makes.
    * `commitRewriteRetry` exposes the loop so the spec can drive the
    * lost-race branch deterministically. */
  private[jobs] def commitRewriteRetry(
      spark: SparkSession, root: String, v: Long, d: Delta,
      dvDropped: Seq[String] = Nil): Long =
    commitRewrite(spark, root, v, d, dvDropped)

  /** TEST HOOK: commit a full rewrite of `base`'s content computed
    * against a STALE head — deterministically exercising the rebase's
    * props/schema reconciliation (a live race can't be scheduled from a
    * spec). `base` must be version 0's delta; the rewrite claims v1. */
  private[graft] def rebaseProbeRewrite(
      spark: SparkSession, root: String, content: DataFrame, base: Delta): Long = {
    val schema = base.schema.map(DataType.fromJson(_).asInstanceOf[StructType])
    val (adds, stats) = writeCommitFiles(spark, root, 1L, content, base.props, schema)
    commitRewrite(spark, root, 1L,
      Delta(adds, base.adds, schema = base.schema, props = base.props,
        stats = stats, op = Some("optimize"), dv = base.dv))
  }

  /** `dvDropped`: vectors this commit intends to REMOVE from the live
    * set (materialization) — they were part of the commit's base, so a
    * winner still carrying them is not a conflict, and a rebase must
    * not resurrect them. `staged`: root-relative files and directories
    * (data files, `_dv/` and `_changes/` directories) this commit
    * wrote; they are deleted when no delta published them, and kept
    * once one did — a boundary checkpoint that throws afterwards still
    * fails the call, but never takes a live version's files with it. */
  private def commitRewrite(
      spark: SparkSession, root: String, v: Long, d0: Delta,
      dvDropped: Seq[String] = Nil, staged: Seq[String] = Nil): Long = {
    val (fs, qroot) = fsOf(spark, root)
    val committed =
      try publishRewrite(spark, root, v, d0, dvDropped)
      catch { case e: Throwable =>
        staged.foreach { p =>
          try fs.delete(new Path(qroot, p), true)
          catch { case scala.util.control.NonFatal(_) => () }
        }
        throw e
      }
    maybeCheckpoint(spark, root, committed)
    committed
  }

  /** `commitRewrite`'s publish loop: the version the delta landed at. */
  private def publishRewrite(
      spark: SparkSession, root: String, v: Long, d0: Delta,
      dvDropped: Seq[String]): Long = {
    val (_, qroot) = fsOf(spark, root)
    // the BASE this delta was computed against — rebase reconciliation
    // diffs the commit's prop/schema INTENT against it (v0 has no base)
    val base = if (v == 0) None else Some(readDelta(spark, root, v - 1))
    // the INTENT diff, computed ONCE against the original base: re-deriving
    // it from the rebased `d` on a later retry would count an absorbed
    // winner's changes (e.g. a concurrent append's identity-hwm advance)
    // as ours, making the clash check refuse spuriously on the 2nd retry
    val intentChanged = base.map(b => d0.props.filter { case (k, pv) =>
      !b.props.get(k).contains(pv) }).getOrElse(Map.empty[String, String])
    val intentRemoved = base.map(b => b.props.keySet -- d0.props.keySet)
      .getOrElse(Set.empty[String])
    val intentSchemaChanged = base.exists(b => d0.schema != b.schema)
    var d = d0
    var attempt = v
    var attempts = 0
    while (true) {
      try {
        writeDelta(spark, root, attempt, d)
        return attempt
      } catch {
        case e: IllegalArgumentException if e.getMessage.contains("commit race") =>
          attempts += 1
          if (attempts >= maxCommitRetries)
            throw new IllegalStateException(
              s"rewrite lost $maxCommitRetries commit races at $root — writer storm?", e)
          val latest = latestVersion(spark, root)
          val mine = d.removes.toSet
          (attempt to latest).foreach { w =>
            val overlap = readDelta(spark, root, w).removes.toSet.intersect(mine)
            if (overlap.nonEmpty)
              throw new IllegalStateException(
                s"rewrite conflict at $root: version $w already rewrote or removed " +
                  s"${overlap.size} file(s) this commit also claims " +
                  s"(e.g. ${overlap.head}) — recompute against the current version", e)
          }
          // DELETION-VECTOR reconciliation: the winners may have changed
          // the live DV set this commit captured. Rebasing blind would
          // either DROP a winner's new vector (resurrecting its deleted
          // rows) or carry OUR vector past a winner that rewrote the
          // files it points at (losing our deletes). Admit the rebase
          // only when the DV changes are file-disjoint from this
          // commit's work, and MERGE the lists (winner's head list +
          // our own new vector).
          val headDelta = readDelta(spark, root, latest)
          // the commit's ORIGINAL base = carried vectors + vectors it is
          // deliberately dropping (materialization); a winner still
          // carrying a dropped vector is not a "new winner vector"
          val baseDv = d.dv.filterNot(d.dvAdd.toSeq.contains) ++ dvDropped
          if (headDelta.dv != baseDv || d.dvAdd.isDefined) {
            val newWinnerVectors = headDelta.dv.filterNot(baseDv.contains)
            if (d.removes.nonEmpty && newWinnerVectors.nonEmpty) {
              val vecFiles = dvFrame(spark, qroot, newWinnerVectors)
                .select(col("file_path")).distinct()
                .collect().map(r => new Path(qroot, r.getString(0)).toString).toSet
              val touched = d.removes.filter(f => vecFiles.contains(new Path(qroot, f).toString))
              if (touched.nonEmpty) throw new IllegalStateException(
                s"rewrite conflict at $root: a concurrent deletion vector dooms rows " +
                  s"in ${touched.size} file(s) this commit rewrote (e.g. ${touched.head}) " +
                  "— recompute against the current version", e)
            }
            d.dvAdd.foreach { myVec =>
              val myFiles = dvFrame(spark, qroot, Seq(myVec))
                .select(col("file_path")).distinct()
                .collect().map(r => new Path(qroot, r.getString(0)).toString).toSet
              val winnersRemoves = (attempt to latest)
                .flatMap(w => readDelta(spark, root, w).removes)
                .map(f => new Path(qroot, f).toString).toSet
              val gone = myFiles.intersect(winnersRemoves)
              if (gone.nonEmpty) throw new IllegalStateException(
                s"rewrite conflict at $root: this deletion vector references " +
                  s"${gone.size} file(s) a concurrent commit rewrote or removed " +
                  s"(e.g. ${gone.head}) — recompute against the current version", e)
            }
            d = d.copy(dv = headDelta.dv.filterNot(dvDropped.contains) ++ d.dvAdd.toSeq)
          }
          // PROPS/SCHEMA reconciliation: the delta carries the BASE
          // version's props/schema (plus this commit's own changes) —
          // rebasing them verbatim would REVERT any winner's metadata
          // commit: a concurrent append's identity-hwm advance (silently
          // regressed hwm ⇒ future id collisions), an ADD CONSTRAINT, a
          // type widening. Three-way merge: adopt the winner's state,
          // re-apply OUR intended diff, refuse when both sides changed
          // the same key.
          // BUCKET-LAYOUT reconciliation: a layout-changing rewrite
          // (REBUCKET) re-stamped every file it SAW — a winner's
          // concurrently added files carry bucket ids computed under
          // the OLD layout, and rebasing would leave them live under
          // the new props: bucketed planning (zero-exchange joins,
          // bucket pruning) would then silently misplace their rows.
          // Refuse; the caller re-runs against the current version.
          // (Rewrites racing REBUCKET always clash on removes; MOR
          // commits clash through DV reconciliation — adds-only
          // winners are exactly the hole this closes. The append side
          // holds the same line via commitAdds' bucket-layout guard.)
          base.foreach { b =>
            val layoutKeys = Set(bucketByProp, bucketCountProp)
            if (intentChanged.keySet.exists(layoutKeys) ||
                intentRemoved.exists(layoutKeys)) {
              val winnerAdds = (attempt to latest)
                .exists(w => readDelta(spark, root, w).adds.nonEmpty)
              if (winnerAdds) throw new IllegalStateException(
                s"rewrite conflict at $root: the bucket layout changed while " +
                  "a concurrent commit added files stamped under the old " +
                  "layout — recompute against the current version", e)
            }
            // the REVERSE direction: a WINNER changed the layout while
            // THIS commit adds files stamped under the old one — a
            // pure-insert merge (no removes, so the remove-overlap
            // clash never fires) would otherwise rebase its
            // stale-stamped files straight past the REBUCKET
            val winLayoutChange = layoutKeys.exists(k =>
              headDelta.props.get(k) != b.props.get(k))
            if (winLayoutChange && d.adds.nonEmpty)
              throw new IllegalStateException(
                s"rewrite conflict at $root: a concurrent commit changed the " +
                  "bucket layout; this commit's files are stamped under the " +
                  "old one — recompute against the current version", e)
          }
          base.foreach { b =>
            val winChangedKeys = headDelta.props.filter { case (k, pv) =>
              !b.props.get(k).contains(pv) }.keySet ++
              (b.props.keySet -- headDelta.props.keySet)
            val clash = winChangedKeys.intersect(intentChanged.keySet ++ intentRemoved)
            if (clash.nonEmpty) throw new IllegalStateException(
              s"rewrite conflict at $root: concurrent commits both changed " +
                s"table propert${if (clash.size == 1) "y" else "ies"} " +
                s"${clash.mkString(", ")} — recompute against the current version", e)
            val winSchemaChanged = headDelta.schema != b.schema
            if (intentSchemaChanged && winSchemaChanged) throw new IllegalStateException(
              s"rewrite conflict at $root: concurrent commits both changed " +
                "the table schema — recompute against the current version", e)
            d = d.copy(
              props = (headDelta.props -- intentRemoved) ++ intentChanged,
              schema = if (intentSchemaChanged) d0.schema else headDelta.schema)
          }
          attempt = latest + 1
      }
    }
    -1L // unreachable
  }

  /** Stage a commit's change feed under a uniquely-suffixed `_changes/`
    * directory. The directory becomes REACHABLE only when the commit's
    * delta (carrying `#cdf:<dir>`) wins its atomic rename — a feed whose
    * commit loses the race or crashes is an inert orphan for
    * `vacuumDebris`, never something `changesBetween` could serve as a
    * different commit's feed (the r7 ADVICE orphan-feed hazard). */
  private def stageChangeFeed(
      spark: SparkSession, qroot: Path, v: Long, feed: DataFrame): String = {
    val name = f"v$v%08d-${java.util.UUID.randomUUID.toString.take(8)}"
    feed.write.options(internalWriteOptions).mode("overwrite")
      .parquet(new Path(qroot, s"_changes/$name").toString)
    name
  }

  /** Candidate files for a predicate rewrite: the subset of `version`'s
    * files whose recorded stats envelopes (write-time `#stats:` lines,
    * via `statsIndex`) INTERSECT the predicate's integral bounds —
    * every other file provably holds no matching row and carries over
    * by reference without being read at all. Partitioned tables
    * additionally contribute their path-encoded partition values as
    * point envelopes (min = max = value for integral partition
    * columns), so a predicate on the partition dimension prunes with
    * zero stats in the log. Always a sound OVER-approximation: columns
    * the bounds matcher can't constrain keep their files candidate. */
  /** Per-column slice of a distributed envelope summary: the non-null
    * row count (None = some file lacks the null count — COUNT(col) not
    * answerable), and the global long/double bounds (outer None = some
    * file with possible values lacks the envelope; inner None = every
    * file is provably value-free on the column). */
  private[graft] final case class ColEnvelopeSummary(
      nonNullRows: Option[Long],
      longBounds: Option[(Option[Long], Option[Long])],
      dblBounds: Option[(Option[Double], Option[Double])])

  /** Table-grain envelope summary: `allStats` = every live file carries
    * a stats row (the metadata-only-aggregate precondition). */
  private[graft] final case class EnvelopeSummary(
      totalRows: Long, allStats: Boolean,
      cols: Map[String, ColEnvelopeSummary])

  /** The global envelope summary for `cols` (PHYSICAL names) as ONE
    * distributed aggregate over the parquet checkpoint's file rows —
    * the metadata-only COUNT/MIN/MAX path at 10⁶ files, where the
    * driver-held stats index would be the planner's bottleneck. The
    * answerability proofs ride the same pass: a file with rows and no
    * null count disqualifies COUNT(col); a file that could hold values
    * but has no envelope disqualifies MIN/MAX. None when the table has
    * no parquet checkpoint at-or-below `version` (caller falls back to
    * the driver index) or the checkpoint vanished mid-read. */
  /** Envelope summaries memoized per immutable (root, version, cols) —
    * the optimizer batch hosting MetadataAggRule may iterate, and each
    * miss is a Spark job. LRU-bounded like the other caches. */
  private val envelopeSummaryCache =
    new LruCache[(String, Long, String), Option[EnvelopeSummary]](64)

  private[graft] def distributedEnvelopeSummary(
      spark: SparkSession, root: String, version: Long,
      cols: Seq[String]): Option[EnvelopeSummary] = {
    val (_, qroot0) = fsOf(spark, root)
    val key = (qroot0.toString, version, cols.distinct.sorted.mkString("|"))
    envelopeSummaryCache.get(key).foreach(hit => return hit)
    val computed =
      try Some(computeEnvelopeSummary(spark, root, version, cols))
      catch {
        // TRANSIENT failure (vacuum racing the read): answer None now
        // but never cache it — caching would permanently downgrade
        // this (version, cols) to the driver path
        case scala.util.control.NonFatal(e) =>
          noteFallback(
            s"distributed envelope summary declined on $root@v$version " +
              s"(transient, not cached): ${e.getMessage}")
          return None
      }
    envelopeSummaryCache.put(key, computed.flatten)
    computed.flatten
  }

  private def computeEnvelopeSummary(
      spark: SparkSession, root: String, version: Long,
      cols: Seq[String]): Option[EnvelopeSummary] = {
    checkpointFileFrame(spark, root, version).map { rows =>
      def n(c: String) = element_at(col("nulls"), c)
      // NULL-SAFE value-free: rows = 0, or a PRESENT null count equal
      // to rows (an absent count must never read as value-free)
      def vfree(c: String) = col("rows") === lit(0L) ||
        (n(c).isNotNull && n(c) === col("rows"))
      val aggs = Seq(
        sum(col("rows")).as("_rows"),
        count(lit(1)).as("_files"),
        count(col("rows")).as("_withStats")) ++
        cols.distinct.flatMap { c => Seq(
          count(when(col("rows") > 0L && n(c).isNull, 1)).as(s"_nmiss_$c"),
          sum(coalesce(n(c), lit(0L))).as(s"_nulls_$c"),
          count(when(!vfree(c) && element_at(col("lmin"), c).isNull, 1))
            .as(s"_lmiss_$c"),
          min(element_at(col("lmin"), c)).as(s"_lmin_$c"),
          max(element_at(col("lmax"), c)).as(s"_lmax_$c"),
          count(when(!vfree(c) && element_at(col("dmin"), c).isNull, 1))
            .as(s"_dmiss_$c"),
          min(element_at(col("dmin"), c)).as(s"_dmin_$c"),
          max(element_at(col("dmax"), c)).as(s"_dmax_$c"))
        }
      val r = rows.toDF().agg(aggs.head, aggs.tail: _*).head()
      def get[A](name: String): Option[A] = {
        val i = r.fieldIndex(name)
        if (r.isNullAt(i)) None else Some(r.get(i).asInstanceOf[A])
      }
      val colSummaries = cols.distinct.map { c =>
        c -> ColEnvelopeSummary(
          nonNullRows =
            if (get[Long](s"_nmiss_$c").contains(0L))
              Some(get[Long]("_rows").getOrElse(0L) -
                get[Long](s"_nulls_$c").getOrElse(0L))
            else None,
          longBounds =
            if (get[Long](s"_lmiss_$c").contains(0L))
              Some((get[Long](s"_lmin_$c"), get[Long](s"_lmax_$c")))
            else None,
          dblBounds =
            if (get[Long](s"_dmiss_$c").contains(0L))
              Some((get[Double](s"_dmin_$c"), get[Double](s"_dmax_$c")))
            else None)
      }.toMap
      EnvelopeSummary(
        totalRows = get[Long]("_rows").getOrElse(0L),
        allStats = get[Long]("_files") == get[Long]("_withStats"),
        cols = colSummaries)
    }
  }

  /** Distributed stats pruning: evaluate the four envelope families as
    * a DataFrame FILTER over the parquet checkpoint's file rows (plus
    * tail deltas), collecting ONLY the surviving root-relative paths —
    * at 10⁶ files the driver never materializes the full stats index.
    * Exact mirror of `Skipping.pruneFiles*`: a file without the column's
    * envelope (or without stats at all) is always kept; string envelopes
    * compare as hex strings, which order identically to unsigned-lex
    * bytes. Hive-partitioned tables prune on point envelopes the
    * checkpoint writer BAKED INTO the rows (same values the driver
    * loop's `partitionPointEnvelopes` augmentation derives), so the
    * reference's own `year=/month=` layout prunes distributed as plain
    * codegen'd expressions; pre-r16 rows fall back per row to a narrow
    * path-parsing UDF. Returns None — caller falls back to the driver
    * loop — when the table has no parquet checkpoint at-or-below
    * `version` or when `spark.graft.prune.distributed = never`.
    * Bounds are keyed by PHYSICAL column names (caller translates). */
  private[graft] def distributedCandidateFiles(
      spark: SparkSession, root: String, version: Long,
      bs: Map[String, (Long, Long)],
      dbs: Map[String, (Double, Double)],
      sbs: Map[String, graft.core.Skipping.StrRange],
      nbs: Map[String, Set[Boolean]]): Option[Seq[String]] =
    distributedCandidateMeta(spark, root, version, bs, dbs, sbs, nbs)
      .map(_.map(_.path))

  /** One live-file row of a distributed prune/list: root-relative path
    * plus the recorded length and mtime (NEGATIVE on legacy rows whose
    * log never recorded them — the reader stats exactly those). What
    * `SnapshotFileIndex` synthesizes plan-time `FileStatus` from,
    * RPC-free. Primitive fields, not `Option[Long]`: at 3×10⁷ files
    * the two `Some` boxes + boxed longs per row were ~2 GB of
    * short-lived driver garbage per full materialization — a direct
    * contributor to the full-listing GC cliff (r18 VERDICT task 2). */
  private[graft] final case class LiveFileMeta(
      path: String, fsize: Long, mtime: Long) {
    def sized: Boolean = fsize >= 0 && mtime >= 0
  }

  /** The UNFILTERED live-file meta list of an immutable (root, version)
    * — what `SnapshotFileIndex` synthesizes its full `FileStatus` list
    * from with zero filesystem RPCs. One distributed collect per
    * version, then cached: the planner asks for `sizeInBytes` on every
    * query. None on text-codec tables (callers keep the listing path).
    * Bounded by TOTAL ROWS (r17), not entry count — the driver-heap
    * ceiling is `spark.graft.meta.cacheRows` (default 20M rows, ~2 GB)
    * regardless of how many tables/versions plan, except that one
    * over-budget version is kept alone (its rows are the heap the plan
    * transiently needs anyway). LRU: a multi-table workload keeps its
    * hot versions. */
  private val liveMetaCache =
    new WeightedLruCache[(String, Long), Seq[LiveFileMeta]](_.size.toLong)

  private val metaCacheRowsProp = "spark.graft.meta.cacheRows"
  private val metaCacheRowsDefault = 20000000L

  /** Test hook: total rows currently held by the live-meta cache. */
  private[graft] def liveMetaCacheRows: Long = liveMetaCache.totalWeight

  /** Test hook: the cache's current keys, most-recently-used last. */
  private[graft] def liveMetaCacheKeys: Seq[(String, Long)] = liveMetaCache.keys

  /** Test hook: the aggr cache's current keys — pins that a transient
    * header-read failure is NOT cached as a permanent None. */
  private[graft] def liveAggrCacheKeys: Seq[(String, Long)] = liveAggrCache.keys

  private[graft] def liveFileMeta(
      spark: SparkSession, root: String, version: Long): Option[Seq[LiveFileMeta]] = {
    val (_, qroot) = fsOf(spark, root)
    val key = (qroot.toString, version)
    liveMetaCache.get(key).foreach(hit => return Some(hit))
    val computed = distributedCandidateMeta(spark, root, version,
      Map.empty, Map.empty, Map.empty, Map.empty)
    val budget = spark.conf.getOption(metaCacheRowsProp)
      .flatMap(_.toLongOption).getOrElse(metaCacheRowsDefault)
    computed.foreach(liveMetaCache.put(key, _, budget))
    computed
  }

  // values are Options: a (root, version) is immutable, so "no aggr
  // header reachable" is as cacheable as a value — without the negative
  // entry every plan of a legacy table would re-run the header lookup
  // jobs just to fall back. The checkpoint writer overwrites the entry
  // for its own version after publish (the one moment the answer for
  // an existing key improves).
  private val liveAggrCache =
    new LruCache[(String, Long), Option[(Long, Long)]](64)

  /** `CkptMeta` per parquet checkpoint, recorded by the writer at publish
    * and read back by `ckptMeta` on a miss. Metadata per immutable
    * (root, version), never data rows — the deltaCache discipline. */
  private val ckptMetaCache = new LruCache[(String, Long), CkptMeta](64)

  /** (liveFiles, totalBytes) of an immutable (root, version) WITHOUT
    * materializing the per-file list anywhere: the nearest parquet
    * checkpoint's `aggr` header (recorded at write time, one pushed-
    * filter lookup) rolled forward through the tail deltas — driver
    * work O(tail change), plus at most one pushed-filter scan that
    * collects ONLY the touched rows' sizes. This is what breaks the
    * last O(files) plan-time cost: `SnapshotFileIndex.sizeInBytes` (the
    * optimizer asks on EVERY query, join sizing included) answers from
    * here, so a selective scan of a 10⁸-file table never collects the
    * live list to the driver at all. None on text-codec tables, before
    * the first aggr-bearing checkpoint, or when a needed size is
    * unrecorded — callers keep the per-file path exactly then. */
  private[graft] def liveAggregate(
      spark: SparkSession, root: String, version: Long): Option[(Long, Long)] = {
    val (_, qroot) = fsOf(spark, root)
    val key = (qroot.toString, version)
    liveAggrCache.get(key).foreach(hit => return hit)
    // a None DERIVED from the immutable log (no parquet path, no header,
    // legacy rows) is cacheable; a None born of an EXCEPTION (vacuum
    // deleting the checkpoint mid-read) is transient — caching it would
    // permanently pin the O(files) per-file fallback for this version,
    // so exceptions return without inserting and the next query retries
    // against the surviving newer checkpoint
    if (!parquetPathOn(readDelta(spark, root, version).props)) {
      liveAggrCache.put(key, None)
      return None
    }
    val computed: Option[(Long, Long)] =
      try logVersions(spark, root, ".checkpoint.parquet")
        .filter(_ <= version).lastOption
        // same staleness gate as the file frame: a tail past 4× the
        // cadence means a crashed checkpointer — don't trust the header
        .filter(cv => version - cv <= checkpointEvery * 4)
        .flatMap { cv =>
          // the checkpoint WRITER caches its own version's aggregate at
          // publish — steady-state roll-forwards answer from that
          // in-memory value and skip the header-read job entirely; a
          // cold JVM (or a known-absent header) keeps the read path
          val base: Option[(Long, Long)] =
            liveAggrCache.get((qroot.toString, cv)).getOrElse {
              checkpointHeaders(spark, root, cv, "aggr").headOption.map { h =>
                val parts = h.split(',')
                (parts(0).toLong, parts(1).toLong)
              }
            }
          base.flatMap { b =>
            if (cv == version) Some(b)
            else adjustAggregate(spark, root, qroot, cv, version, b)
          }
        }
      catch { case scala.util.control.NonFatal(_) => return None }
    liveAggrCache.put(key, computed)
    computed
  }

  /** `base` = (count, bytes) at checkpoint `cv`, rolled forward to `v`:
    * per-path FINAL tail ops on the driver (adds before removes per
    * delta, mirroring `reconstruct`). A prior live row can only leave
    * the live set through a REMOVE (the adds-name-non-live-paths
    * invariant the whole distributed tier leans on), so only the
    * REMOVED paths' previous sizes need looking up — ONE pushed-filter
    * scan of the cv assembly collecting exactly those rows, and an
    * append-only tail (the dominant workload) rolls forward with ZERO
    * distributed work. None when a final add lacks recorded fmeta or a
    * removed prior row lacks fsize (legacy rows) — the caller falls
    * back. */
  private def adjustAggregate(
      spark: SparkSession, root: String, qroot: Path,
      cv: Long, v: Long, base: (Long, Long)): Option[(Long, Long)] = {
    val ops = scala.collection.mutable.LinkedHashMap[
      String, Option[Option[(Long, Long)]]]()
    val removed = scala.collection.mutable.LinkedHashSet[String]()
    ((cv + 1) to v).foreach { w =>
      val d = readDelta(spark, root, w)
      d.adds.foreach(r => ops(r) = Some(d.fmeta.get(r)))
      d.removes.foreach { r => ops(r) = None; removed += r }
    }
    if (ops.isEmpty) return Some(base)
    val finalAdds = ops.collect { case (_, Some(fm)) => fm }.toSeq
    if (finalAdds.exists(_.isEmpty)) return None
    val prior: Seq[(String, Option[Long])] =
      if (removed.isEmpty) Nil
      else {
        val lookup = removed.toSeq
        val frame = assembleCheckpointRows(spark, qroot, cv).toDF()
        val hit =
          if (lookup.size <= 1000) frame.filter(col("path").isin(lookup: _*))
          else {
            val t = spark.createDataset(lookup)(
              org.apache.spark.sql.Encoders.STRING).toDF("path")
            frame.join(broadcast(t), Seq("path"), "left_semi")
          }
        hit.select(col("path"), col("fsize"))
          .as[(String, Option[Long])](
            org.apache.spark.sql.Encoders.product[(String, Option[Long])])
          .collect().toSeq
      }
    if (prior.exists(_._2.isEmpty)) return None
    Some((base._1 - prior.size + finalAdds.size,
      base._2 - prior.iterator.map(_._2.get).sum +
        finalAdds.iterator.map(_.get._1).sum))
  }

  /** Whether the live files' envelopes on `lead` (PHYSICAL name)
    * overlap — the clustered-OPTIMIZE admission — computed on the
    * EXECUTORS: one completeness aggregate picks the first envelope
    * family every file records (same long → double → string precedence
    * as the driver loop), then one window pass checks whether any
    * file's lower bound falls strictly below a preceding file's upper
    * bound in lo-order (adjacent-overlap is complete for sorted
    * intervals; hex-coded string envelopes compare identically to
    * unsigned-lex bytes as plain strings). None when no family is
    * complete in the LOG stats or the table has no checkpoint frame —
    * the caller falls back to the driver index, which can still
    * footer-read legacy files. */
  private def distributedEnvelopeOverlap(
      spark: SparkSession, root: String, version: Long,
      lead: String): Option[Boolean] =
    try (if (spark.conf.getOption("spark.graft.prune.distributed")
      .contains("never")) None
    else checkpointFileFrame(spark, root, version)).flatMap { rows =>
      val df = rows.toDF()
      def e(m: String) = element_at(col(m), lead)
      val pres = df.agg(
        count(lit(1)).as("n"),
        count(when(e("lmin").isNotNull && e("lmax").isNotNull, 1)).as("l"),
        count(when(e("dmin").isNotNull && e("dmax").isNotNull, 1)).as("d"),
        count(when(e("smin").isNotNull && e("smax").isNotNull, 1)).as("s")).head
      val n = pres.getLong(0)
      val fam: Option[(String, String)] =
        if (n == pres.getLong(1)) Some(("lmin", "lmax"))
        else if (n == pres.getLong(2)) Some(("dmin", "dmax"))
        else if (n == pres.getLong(3)) Some(("smin", "smax"))
        else None
      fam.map { case (mn, mx) =>
        // a GLOBAL Window.orderBy would sort the whole live-file frame
        // in ONE task — at the 10⁷-file scale this admission targets,
        // that degenerates to a single executor thread. Instead:
        // range-partition by lo, check the sorted-run overlap WITHIN
        // each partition (window per partition id — full parallelism),
        // and close the cross-partition pairs on the driver from ≤P
        // (min lo, max hi) summaries: partitions are lo-ordered, so a
        // file in an earlier partition overlaps a later one iff the
        // running max of earlier highs exceeds the later partition's
        // min lo — the same strict adjacent-merge the window applies.
        val parts = math.max(2, spark.sparkContext.defaultParallelism)
        val ranged = df.select(e(mn).as("lo"), e(mx).as("hi"))
          .repartitionByRange(parts, col("lo"))
          .withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("pid")).orderBy(col("lo"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val summaries = ranged
          .withColumn("ph", max(col("hi")).over(w))
          .groupBy(col("pid"))
          .agg(max(when(col("ph") > col("lo"), 1).otherwise(0)).as("inner"),
            min(col("lo")).as("mnlo"), max(col("hi")).as("mxhi"))
          .collect()
          .sortBy(_.getInt(0))
        var runMax: Any = null
        var overlap = false
        // lo/hi share one envelope family per the completeness pick —
        // compare values exactly as the rows deliver them. An unmatched
        // runtime pair (a future envelope family with a new boxed type)
        // must NOT silently compare equal — that would under-detect
        // overlap and wrongly skip the clustered rewrite; throw instead
        // (the enclosing NonFatal handler falls back to the driver
        // index, which is correct for every type) — r18 ADVICE.
        def ord(a: Any, b: Any): Int = (a, b) match {
          case (x: Long, y: Long) => java.lang.Long.compare(x, y)
          case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
          case (x: Double, y: Double) => java.lang.Double.compare(x, y)
          case (x: String, y: String) => x.compareTo(y)
          case _ => throw new IllegalStateException(
            s"unorderable envelope bound types in overlap merge: " +
              s"${a.getClass.getName} vs ${b.getClass.getName}")
        }
        summaries.foreach { r =>
          if (r.getInt(1) == 1) overlap = true
          val (mnlo, mxhi) = (r.get(2), r.get(3))
          if (runMax != null && mnlo != null && ord(runMax, mnlo) > 0) overlap = true
          if (mxhi != null && (runMax == null || ord(mxhi, runMax) > 0)) runMax = mxhi
        }
        overlap
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        noteFallback(s"distributed overlap admission fell back on " +
          s"$root@v$version: ${e.getMessage}")
        None
    }

  private[graft] def distributedCandidateMeta(
      spark: SparkSession, root: String, version: Long,
      bs: Map[String, (Long, Long)],
      dbs: Map[String, (Double, Double)],
      sbs: Map[String, graft.core.Skipping.StrRange],
      nbs: Map[String, Set[Boolean]]): Option[Seq[LiveFileMeta]] = {
    if (spark.conf.getOption("spark.graft.prune.distributed").contains("never"))
      return None
    val partCols = graft.core.HivePartitions.columnsOf(
      readDelta(spark, root, version).props)
    val isPart = partCols.toSet
    try checkpointFileFrame(spark, root, version).map { rows =>
      import org.apache.spark.sql.Column
      def hasNo(m: String, c: String): Column = element_at(col(m), c).isNull
      // Partition-column conjuncts evaluate against POINT envelopes the
      // checkpoint writer BAKES INTO the stats maps (r16,
      // `ckptRowOf` ++ `partitionPointEnvelopes`) — the same codegen'd
      // `element_at` comparisons the data columns use, no per-row work
      // beyond the map probe. Rows written BEFORE the baking (legacy
      // checkpoints) are detected per row by the envelope's absence and
      // fall back to a narrow path-parsing UDF sharing
      // `partitionPointEnvelopes`' exact family logic; when even the
      // UDF derives nothing (no path fragment), the row falls through
      // to whatever envelope the family recorded — a mixed-layout file
      // carrying real column stats still prunes, mirroring the driver
      // loop's `mins ++ lv` overlay. A file without stats (`rows` null)
      // is kept on the legacy branch, mirroring the driver index.
      def guard(k: Column) = col("rows").isNull.or(k)
      val keepLong = bs.map { case (c, (lo, hi)) =>
        val env = hasNo("lmin", c).or(hasNo("lmax", c)).or(
          element_at(col("lmax"), c) >= lit(lo) &&
            element_at(col("lmin"), c) <= lit(hi))
        if (!isPart(c)) env
        else {
          val v = udf { p: String =>
            graft.core.HivePartitions.valuesOf(p, partCols)
              .get(c).flatten.flatMap(_.toLongOption)
          }.apply(col("path"))
          when(element_at(col("lmin"), c).isNotNull, env)
            .otherwise(guard(when(v.isNull, env)
              .otherwise(v >= lit(lo) && v <= lit(hi))))
        }
      }
      val keepDbl = dbs.map { case (c, (lo, hi)) =>
        val env = hasNo("dmin", c).or(hasNo("dmax", c)).or(
          element_at(col("dmax"), c) >= lit(lo) &&
            element_at(col("dmin"), c) <= lit(hi))
        if (!isPart(c)) env
        else {
          val v = udf { p: String =>
            graft.core.HivePartitions.valuesOf(p, partCols)
              .get(c).flatten.filter(_.toLongOption.isEmpty)
              .flatMap(_.toDoubleOption).filter(d => !d.isNaN && !d.isInfinite)
          }.apply(col("path"))
          when(element_at(col("dmin"), c).isNotNull, env)
            .otherwise(guard(when(v.isNull, env)
              .otherwise(v >= lit(lo) && v <= lit(hi))))
        }
      }
      val keepStr = sbs.map { case (c, r) =>
        val aboveLoEnv = r.lo.map { b =>
          val bh = lit(graft.core.Skipping.toHex(b.bytes))
          hasNo("smax", c).or(
            if (b.inclusive) element_at(col("smax"), c) >= bh
            else element_at(col("smax"), c) > bh)
        }.getOrElse(lit(true))
        val belowHiEnv = r.hi.map { b =>
          val bh = lit(graft.core.Skipping.toHex(b.bytes))
          hasNo("smin", c).or(
            if (b.inclusive) element_at(col("smin"), c) <= bh
            else element_at(col("smin"), c) < bh)
        }.getOrElse(lit(true))
        val env = aboveLoEnv.and(belowHiEnv)
        if (!isPart(c)) env
        else {
          val h = udf { p: String =>
            graft.core.HivePartitions.valuesOf(p, partCols)
              .get(c).flatten.filter(_.toDoubleOption.isEmpty)
              .map(v => graft.core.Skipping.toHex(v.getBytes("UTF-8")))
          }.apply(col("path"))
          val aboveLo = r.lo.map { b =>
            val bh = lit(graft.core.Skipping.toHex(b.bytes))
            if (b.inclusive) h >= bh else h > bh
          }.getOrElse(lit(true))
          val belowHi = r.hi.map { b =>
            val bh = lit(graft.core.Skipping.toHex(b.bytes))
            if (b.inclusive) h <= bh else h < bh
          }.getOrElse(lit(true))
          when(element_at(col("smin"), c).isNotNull, env)
            .otherwise(guard(when(h.isNull, env)
              .otherwise(aboveLo.and(belowHi))))
        }
      }
      val keepNull = nbs.map { case (c, r) =>
        val n = element_at(col("nulls"), c)
        val env = hasNo("nulls", c).or(col("rows").isNull).or(
          if (r.head) n > lit(0L) else n < col("rows"))
        if (!isPart(c)) env
        else {
          // legacy null count per driver augmentation: concrete value →
          // 0, default partition → rows (all null), absent fragment →
          // envelope fallback; flat marker because nested Options do
          // not encode through a UDF
          val m = udf { p: String =>
            graft.core.HivePartitions.valuesOf(p, partCols).get(c) match {
              case None => None: Option[Long]
              case Some(Some(_)) => Some(0L)
              case Some(None) => Some(-1L)
            }
          }.apply(col("path"))
          val nm = when(m === lit(-1L), col("rows")).otherwise(m)
          when(element_at(col("nulls"), c).isNotNull, env)
            .otherwise(guard(when(m.isNull, env)
              .otherwise(if (r.head) nm > lit(0L) else nm < col("rows"))))
        }
      }
      val kept = (keepLong ++ keepDbl ++ keepStr ++ keepNull)
        .foldLeft(rows.toDF())((df, k) => df.filter(k))
      // the full-list collect is the ONE place the driver must hold
      // O(files): make every stage of it parallel. Rows pack into ONE
      // blob per partition on the executors (UTF-8 path bytes +
      // primitive offset/size/mtime arrays — the encoder's primitive-
      // array fast path decodes them with a memcpy, not per-row work),
      // so the driver decodes 32 blobs instead of 10⁷ rows on a single
      // thread; object construction and the path sort then fan out
      // across cores. r16 shape (row-at-a-time decode + single-threaded
      // sortBy) was 78 s at 10⁷ files; blobs + parallel build +
      // parallelSort target ≲10 s.
      val packed = kept.select(col("path"),
          coalesce(col("fsize"), lit(-1L)), coalesce(col("mtime"), lit(-1L)))
        .as[(String, Long, Long)](
          org.apache.spark.sql.Encoders.product[(String, Long, Long)])
        .mapPartitions { it =>
          val bytes = new java.io.ByteArrayOutputStream()
          val offs = Array.newBuilder[Int]
          val fsz = Array.newBuilder[Long]
          val mts = Array.newBuilder[Long]
          var off = 0
          it.foreach { case (p, f, m) =>
            val b = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            bytes.write(b, 0, b.length); off += b.length
            offs += off; fsz += f; mts += m
          }
          Iterator.single((bytes.toByteArray, offs.result(), fsz.result(), mts.result()))
        }(org.apache.spark.sql.Encoders.product[
          (Array[Byte], Array[Int], Array[Long], Array[Long])])
        .collect()
      val starts = packed.scanLeft(0)(_ + _._2.length)
      val out = new Array[LiveFileMeta](starts.last)
      java.util.stream.IntStream.range(0, packed.length).parallel().forEach { pi =>
        val (bytes, offs, fsz, mts) = packed(pi)
        // drop the blob the moment its rows are built: at 3×10⁷ files
        // the packed blobs are ~2 GB that otherwise stay live until the
        // whole build finishes — freeing per-partition keeps the
        // transient footprint at out-array + ONE in-flight blob per
        // core instead of out-array + all blobs (r18 VERDICT task 2)
        packed(pi) = null
        var prev = 0
        var i = 0
        while (i < offs.length) {
          val path = new String(bytes, prev, offs(i) - prev,
            java.nio.charset.StandardCharsets.UTF_8)
          out(starts(pi) + i) = LiveFileMeta(path, fsz(i), mts(i))
          prev = offs(i); i += 1
        }
      }
      java.util.Arrays.parallelSort(out, Ordering.by((m: LiveFileMeta) => m.path))
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    } catch {
      // a vanished checkpoint or dropped tail delta (vacuum racing this
      // prune) — the driver path has its own fallback chain
      case scala.util.control.NonFatal(e) =>
        noteFallback(
          s"distributed prune fell back to the driver path on " +
            s"$root@v$version: ${e.getMessage}")
        None
    }
  }

  private[graft] def statsCandidateFiles(
      spark: SparkSession, root: String, version: Long,
      predicateSql: String): Seq[String] = {
    val parsed = spark.sessionState.sqlParser.parseExpression(predicateSql)
    val delta = readDelta(spark, root, version)
    // stats envelopes (footer-derived) are keyed by PHYSICAL column
    // names — translate the predicate's logical names through the
    // version's column mapping (identity on never-renamed tables)
    val physMap = delta.schema
      .map(s => physicalMap(DataType.fromJson(s).asInstanceOf[StructType]))
      .getOrElse(Map.empty[String, String])
    def phys(c: String) = physMap.getOrElse(c, c)
    val bs = graft.sources.StatsBounds.bounds(parsed)
      .map { case (c, r) => phys(c) -> r }
    val dbs = graft.sources.StatsBounds.dblBounds(parsed)
      .map { case (c, r) => phys(c) -> r }
    val sbs = graft.sources.StatsBounds.strBounds(parsed)
      .map { case (c, r) => phys(c) -> r }
    val nbs = graft.sources.StatsBounds.nullBounds(parsed)
      .map { case (c, r) => phys(c) -> r }
    if (bs.exists { case (_, (lo, hi)) => lo > hi }) return Nil
    if (dbs.exists { case (_, (lo, hi)) => lo > hi }) return Nil
    if (sbs.exists(_._2.isEmpty)) return Nil
    if (nbs.exists(_._2.size == 2)) return Nil
    if (bs.isEmpty && dbs.isEmpty && sbs.isEmpty && nbs.isEmpty)
      return versionFileList(spark, root, version)
    // parquet-checkpoint tables prune DISTRIBUTED — the filter runs on
    // the executors, only surviving paths reach the driver; the full
    // file list is never materialized here
    distributedCandidateFiles(spark, root, version, bs, dbs, sbs, nbs)
      .foreach(kept => return kept)
    val files = versionFileList(spark, root, version)
    val (_, qroot) = fsOf(spark, root)
    val partCols = graft.core.HivePartitions.columnsOf(delta.props)
    val idxRaw = statsIndex(spark, root, version) // abs paths
    val idx =
      if (partCols.isEmpty) idxRaw
      else idxRaw.map { s =>
        val (lv, dv, sv, nv) = partitionPointEnvelopes(s.path, partCols, s.rows)
        s.copy(mins = s.mins ++ lv, maxs = s.maxs ++ lv,
          dmins = s.dmins ++ dv, dmaxs = s.dmaxs ++ dv,
          smins = s.smins ++ sv, smaxs = s.smaxs ++ sv,
          nullCounts = s.nullCounts ++ nv)
      }
    val relByAbs = files.map(f => new Path(qroot, f).toString -> f).toMap
    def fold[A](fs0: Seq[String], m: Map[String, A])(
        prune: (Seq[graft.core.Skipping.FileStats], String, A) => Seq[String]): Seq[String] =
      m.foldLeft(fs0) { case (acc, (c, r)) =>
        val accSet = acc.toSet // O(files) member tests per conjunct, not O(files²)
        val keep = prune(idx.filter(s => accSet.contains(s.path)), c, r).toSet
        acc.filter(keep.contains)
      }
    val afterLong = fold(idx.map(_.path), bs)((i, c, r) =>
      graft.core.Skipping.pruneFiles(i, c, r._1, r._2))
    val afterDbl = fold(afterLong, dbs)((i, c, r) =>
      graft.core.Skipping.pruneFilesDouble(i, c, r._1, r._2))
    fold(fold(afterDbl, sbs)((i, c, r) =>
      graft.core.Skipping.pruneFilesString(i, c, r)),
      nbs)((i, c, r) => graft.core.Skipping.pruneFilesNull(i, c, r.head))
      .flatMap(relByAbs.get).sorted
  }

  /** Predicate DELETE as a copy-on-write commit (`rewriteWhere`). */
  def deleteWhere(
      spark: SparkSession, root: String, predicateSql: String,
      changeFeed: Boolean = false, txn: Option[Long] = None): Long =
    rewriteWhere(spark, root, predicateSql, None, mor = false, changeFeed, txn)

  /** Predicate UPDATE as a copy-on-write commit (`rewriteWhere`). */
  def updateWhere(
      spark: SparkSession, root: String, set: Map[String, String],
      predicateSql: String, changeFeed: Boolean = false,
      txn: Option[Long] = None): Long =
    rewriteWhere(spark, root, predicateSql, Some(set), mor = false, changeFeed, txn)

  /** Predicate UPDATE as merge-on-read: a deletion vector plus appended
    * post-images (`rewriteWhere`). */
  def updateWhereMor(
      spark: SparkSession, root: String, set: Map[String, String],
      predicateSql: String, changeFeed: Boolean = false,
      txn: Option[Long] = None): Long =
    rewriteWhere(spark, root, predicateSql, Some(set), mor = true, changeFeed, txn)

  /** Predicate DELETE as merge-on-read: a deletion vector, zero files
    * rewritten (`rewriteWhere`). */
  def deleteWhereMor(
      spark: SparkSession, root: String, predicateSql: String,
      changeFeed: Boolean = false, txn: Option[Long] = None): Long =
    rewriteWhere(spark, root, predicateSql, None, mor = true, changeFeed, txn)

  /** Predicate DML as ONE commit — SQL `DELETE FROM t WHERE p`
    * (`set = None`) or `UPDATE t SET c = e, … WHERE p` — written
    * copy-on-write or merge-on-read (`mor`, Delta's deletion vectors).
    *
    *   1. Inputs: the head's schema and props; an UPDATE refuses SET of
    *      an unknown column, a partition column (rows never migrate
    *      partitions: delete + insert instead) and `_row_id` under row
    *      tracking. SET expressions cast back to the column's recorded
    *      type, so UPDATE never changes the schema.
    *   2. Candidates: stats-envelope pruning (`statsCandidateFiles`,
    *      metadata only) — every other file carries over BY REFERENCE
    *      without being read. The candidates are read as ONE frame with
    *      row positions, the live deletion vectors applied (a deleted row
    *      never matches again) and defaults coalesced BEFORE the
    *      predicate runs (a pre-declaration row matches exactly when
    *      SELECT with the predicate returns it). Only pred = TRUE rows
    *      match; NULL and FALSE rows are untouched.
    *   3. Nothing matched → a metadata-only commit with no feed.
    *   4. COW: the files holding a matching row are rewritten — DELETE
    *      keeps the other rows, UPDATE applies SET under
    *      `coalesce(pred, false)` — and removed.
    *      MOR: the matching rows' (file, row_index) pairs land in a
    *      `_dv/` sidecar whose row count is observed on its own write;
    *      an UPDATE appends the post-images as new files. Zero files
    *      rewritten: O(matching rows) written, not O(matching files).
    *   5. UPDATE post-images pass the CHECK constraints and the
    *      generated-column validator (a SET of a generated column's
    *      source alone would leave derived data stale) before anything
    *      is written.
    *   6. `changeFeed = true` stages `delete` rows, or
    *      update_preimage/update_postimage rows, from the matching rows;
    *      the feed is reachable only through the committed delta's
    *      `#cdf:` header.
    *   7. One commit carries the files, the vector and the feed, so a
    *      crash publishes all or none; `commitRewrite` deletes them when
    *      no delta published them, and rebases lost races (file-disjoint
    *      winners merge, DV overlaps refuse). A MOR commit then runs the
    *      `graft.dv.maxRows` auto-materialize valve: the writer that grew
    *      the DV set pays for reclaiming the read path. */
  private def rewriteWhere(
      spark: SparkSession, root: String, predicateSql: String,
      set: Option[Map[String, String]], mor: Boolean,
      changeFeed: Boolean, txn: Option[Long]): Long = {
    val prev = latestVersion(spark, root)
    val v = prev + 1
    val (fs, qroot) = fsOf(spark, root)
    val prevDelta = readDelta(spark, root, prev)
    val props = prevDelta.props
    // an UPDATE needs the column list even from a log that never recorded it
    val schema = prevDelta.schema.map(DataType.fromJson(_).asInstanceOf[StructType])
      .orElse(set.map(_ => readVersion(spark, root, prev).schema))
    set.foreach { s =>
      val unknown = s.keys.filterNot(schema.get.fieldNames.contains)
      require(unknown.isEmpty, s"UPDATE SET of unknown column(s): ${unknown.mkString(", ")}")
      val partSet = s.keys.filter(graft.core.HivePartitions.columnsOf(props).contains)
      require(partSet.isEmpty,
        s"UPDATE cannot move rows across partitions (SET ${partSet.mkString(", ")}) — " +
          "delete + insert instead")
      require(!rowTrackingOn(props) || !s.contains(rowIdCol),
        s"$rowIdCol is engine-managed under $rowTrackingProp — UPDATE cannot SET it")
    }
    val pred = expr(predicateSql)
    val hit = coalesce(pred, lit(false))
    def applySet(df: DataFrame, s: Map[String, String]): DataFrame =
      df.select(schema.get.fields.toSeq.map { f =>
        s.get(f.name).fold(col(f.name))(e =>
          when(hit, expr(e).cast(f.dataType)).otherwise(col(f.name)).as(f.name))
      }: _*)
    def abs(rel: String) = new Path(qroot, rel).toString
    def commit(adds: Seq[String], removes: Seq[String],
        stats: Map[String, graft.core.Skipping.FileStats], cdf: Option[String],
        dvAdd: Option[String]): Long =
      commitRewrite(spark, root, v,
        Delta(adds, removes, txn = txn, cdf = cdf, schema = prevDelta.schema,
          props = props, stats = stats, op = Some(if (set.isEmpty) "delete" else "update"),
          dv = prevDelta.dv ++ dvAdd, dvAdd = dvAdd),
        staged = adds ++ cdf.map(n => s"_changes/$n") ++ dvAdd.map(n => s"_dv/$n"))
    def noMatch(): Long = commit(Nil, Nil, Map.empty, None, None)
    val candidates = statsCandidateFiles(spark, root, prev, predicateSql)
    if (candidates.isEmpty) return noMatch()
    val cand = applyDefaults(withPositionsDvApplied(spark, qroot,
      readFilesRaw(spark, qroot, candidates.map(abs), schema, props),
      prevDelta.dv), props)
    val matched = cand.where(pred)
    val matchedRows = matched.drop("__pos_path", "__pos_idx")
    val postImages = set.map(applySet(matchedRows, _))
    // MOR: the vector first — its observed row count says whether anything
    // matched. COW: the files holding a matching row.
    val (dvAdd, doomed) =
      if (mor) {
        val name = f"v$v%08d-${java.util.UUID.randomUUID.toString.take(8)}"
        val obs = new org.apache.spark.sql.Observation(s"graft-dv-$name")
        matched.select(col("__pos_path").as("file_path"), col("__pos_idx").as("row_index"))
          .observe(obs, count(lit(1)).as("n"))
          .write.options(internalWriteOptions).mode("overwrite").parquet(abs(s"_dv/$name"))
        if (obs.get("n").asInstanceOf[Long] == 0L) {
          fs.delete(new Path(qroot, s"_dv/$name"), true)
          return noMatch()
        }
        (Some(name), Nil)
      } else {
        // `_metadata.file_path` spells URIs (file:///x) unlike
        // Path.toString (file:/x) — normalize through Path
        val doomedAbs = matched.select(col("__pos_path")).distinct()
          .collect().map(r => new Path(r.getString(0)).toString).toSet
        val doomed = candidates.filter(f => doomedAbs.contains(abs(f)))
        // EVERY matching file must resolve to a log entry, or unmatched
        // spellings would silently keep their rows
        require(doomed.size == doomedAbs.size,
          s"${doomedAbs.size} files hold matching rows but only ${doomed.size} " +
            s"resolved to log entries — path normalization bug? $doomedAbs")
        if (doomed.isEmpty) return noMatch()
        (None, doomed)
      }
    postImages.foreach { post =>
      checkConstraints(post, props)
      withGenerated(post, props)
    }
    val cdfDir =
      if (!changeFeed) None
      else Some(stageChangeFeed(spark, qroot, v, postImages match {
        case None => matchedRows.withColumn(ChangeFeed.opCol, lit("delete"))
        case Some(post) =>
          matchedRows.withColumn(ChangeFeed.opCol, lit("update_preimage"))
            .unionByName(post.withColumn(ChangeFeed.opCol, lit("update_postimage")))
      }))
    val written =
      if (mor) postImages
      else {
        val kept = readFilesAs(spark, qroot, doomed.map(abs), schema, props, prevDelta.dv)
        Some(set.fold(kept.where(!hit))(applySet(kept, _)))
      }
    val (adds, stats) = written.map(writeCommitFiles(spark, root, v, _, props, schema))
      .getOrElse((Nil, Map.empty[String, graft.core.Skipping.FileStats]))
    val committed = commit(adds, doomed, stats, cdfDir, dvAdd)
    if (mor) props.get(dvMaxRowsProp).map(_.toLong).foreach { cap =>
      val head = readDelta(spark, root, committed)
      if (head.dv.nonEmpty && dvFrame(spark, qroot, head.dv).count() > cap)
        materializeDeletionVectors(spark, root)
    }
    committed
  }

  /** Table property: auto-materialize deletion vectors once their
    * cumulative row count crosses this bound (checked after each
    * merge-on-read DELETE or UPDATE commit). */
  val dvMaxRowsProp = "graft.dv.maxRows"

  /** Fold the live deletion vectors into a rewrite: files holding any
    * DV'd row are rewritten WITHOUT those rows (a content-preserving
    * OPTIMIZE — same logical rows, different files), every other file
    * carries by reference, and the head's DV list empties. This is the
    * maintenance step that reclaims the per-read anti-join once vectors
    * accumulate; until then reads stay O(deleted rows) extra. Returns
    * -1 when there is nothing to materialize. */
  def materializeDeletionVectors(spark: SparkSession, root: String): Long = {
    val prev = latestVersion(spark, root)
    val (_, qroot) = fsOf(spark, root)
    val prevDelta = readDelta(spark, root, prev)
    if (prevDelta.dv.isEmpty) return -1L
    val prevFiles = versionFileList(spark, root, prev)
    val affectedAbs = dvFrame(spark, qroot, prevDelta.dv)
      .select(col("file_path")).distinct()
      .collect().map(r => new Path(r.getString(0)).toString).toSet
    val affected = prevFiles.filter(f => affectedAbs.contains(new Path(qroot, f).toString))
    val schema = prevDelta.schema.map(DataType.fromJson(_).asInstanceOf[StructType])
    val kept = readFilesAs(spark, qroot,
      affected.map(f => new Path(qroot, f).toString),
      schema, prevDelta.props, prevDelta.dv)
    val (newFiles, stats) = writeCommitFiles(
      spark, root, prev + 1, kept, prevDelta.props, schema)
    commitRewrite(spark, root, prev + 1,
      Delta(newFiles, affected, schema = prevDelta.schema,
        props = prevDelta.props, stats = stats, op = Some("optimize"),
        dv = Nil),
      dvDropped = prevDelta.dv)
  }

  /** `OPTIMIZE … REBUCKET n` — change a bucketed table's bucket count
    * as ONE full-rewrite commit. The count is fixed at declaration, so
    * a table that grew 100× is stuck at its birth parallelism (8
    * buckets cap a point lookup and a co-bucketed join at 8-way); this
    * is the evolution path: every row re-hash-partitions to the NEW
    * count (`writeCommitFiles` re-stamps the `_NNNNN` bucket ids under
    * the same Murmur3 the scans advertise), the props re-declare
    * `graft.buckets = n` atomically WITH the rewrite (no window where
    * the spec and the files disagree), live deletion vectors are
    * materialized by the rewrite (the new files carry no deleted rows),
    * and old versions keep reading under their own recorded count.
    * Logical no-op: same rows before and after. Cost: one full table
    * write — exactly what changing a hash-layout width must cost. */
  def rebucket(spark: SparkSession, root: String, n: Int): Long = {
    require(n > 0, s"REBUCKET needs a positive bucket count, got $n")
    val prev = latestVersion(spark, root)
    val prevDelta = readDelta(spark, root, prev)
    require(bucketColsOf(prevDelta.props).nonEmpty,
      s"$root is not bucketed — REBUCKET applies only to bucketed tables")
    val v = prev + 1
    val newProps = prevDelta.props + (bucketCountProp -> n.toString)
    val schema = prevDelta.schema.map(DataType.fromJson(_).asInstanceOf[StructType])
    val removes = versionFileList(spark, root, prev)
    val cur = readVersion(spark, root, prev) // DV-applied: rewrite materializes
    val (newFiles, stats) = writeCommitFiles(spark, root, v, cur, newProps, schema)
    commitRewrite(spark, root, v,
      Delta(newFiles, removes, schema = prevDelta.schema, props = newProps,
        stats = stats, op = Some("optimize"), dv = Nil),
      dvDropped = prevDelta.dv)
  }

  /** Project `df` onto `target`: columns in order, absent ones
    * null-filled (types of present columns already validated by
    * `mergedSchema`). Identity when the shapes agree. */
  private def conform(df: DataFrame, target: StructType): DataFrame =
    if (df.columns.toSeq == target.fieldNames.toSeq) df
    else {
      val have = df.columns.toSet
      df.select(target.fields.toSeq.map { f =>
        if (have(f.name)) df.col(s"`${f.name.replace("`", "``")}`")
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }

  /** Copy-on-write whole-row MERGE (update-else-insert, the Merge
    * semantics): `mergeClauses` with `WHEN MATCHED THEN UPDATE SET *
    * WHEN NOT MATCHED THEN INSERT *`. A source carrying NEW columns
    * widens the table, a source MISSING table columns null-fills them on
    * its rows, and `changeFeed = true` publishes the insert /
    * update_preimage / update_postimage feed. */
  def mergeCow(
      spark: SparkSession, root: String, source: DataFrame, keyCols: Seq[String],
      changeFeed: Boolean = false, txn: Option[Long] = None): Long =
    mergeClauses(spark, root, source, keyCols,
      matched = Seq(MergeWhen.updateAll()), notMatched = Seq(MergeWhen.insertAll()),
      changeFeed = changeFeed, txn = txn)

  /** Copy-on-write key DELETE: `mergeClauses` with `WHEN MATCHED THEN
    * DELETE` over `keys`, recorded as `#op:delete`. */
  def deleteKeysCow(
      spark: SparkSession, root: String, keys: DataFrame, keyCols: Seq[String],
      changeFeed: Boolean = false, txn: Option[Long] = None): Long =
    mergeRewrite(spark, root, keys.select(keyCols.map(col): _*), keyCols,
      Seq(MergeWhen.delete()), Nil, Nil, changeFeed, txn, op = "delete")

  /** One WHEN clause of a clause-level MERGE (`mergeClauses`).
    * Expression strings reference the source row as `s.<col>` and the
    * target row as `t.<col>`; a bare name resolves target-first (the
    * ANSI scoping MERGE uses). `set` maps TARGET column names to value
    * expressions; it is empty for DELETE and for the star forms
    * (UPDATE SET * / INSERT *, which assign the whole row at execution —
    * see `mergeClauses`). Build instances via the factory methods. */
  final case class MergeWhen private[jobs] (
      kind: String, condition: Option[String], set: Map[String, String])
  object MergeWhen {
    /** WHEN [NOT] MATCHED [AND cond] THEN UPDATE SET * */
    def updateAll(condition: Option[String] = None): MergeWhen =
      MergeWhen("update*", condition, Map.empty)
    /** … THEN UPDATE SET col = expr, … */
    def update(set: Map[String, String], condition: Option[String] = None): MergeWhen =
      MergeWhen("update", condition, set)
    /** … THEN DELETE */
    def delete(condition: Option[String] = None): MergeWhen =
      MergeWhen("delete", condition, Map.empty)
    /** WHEN NOT MATCHED [AND cond] THEN INSERT * */
    def insertAll(condition: Option[String] = None): MergeWhen =
      MergeWhen("insert*", condition, Map.empty)
    /** … THEN INSERT (cols) VALUES (exprs) — unassigned columns null. */
    def insert(values: Map[String, String], condition: Option[String] = None): MergeWhen =
      MergeWhen("insert", condition, values)
  }

  /** Translate a merge expression onto the joined frame's namespace:
    * `t.<col>`/bare → the target column, `s.<col>` (or bare names only
    * the source has) → the `__s_`-prefixed source column. Resolution is
    * case-insensitive and renders back to SQL via the parser's own
    * attribute nodes — no string surgery. */
  private def mergeExprSql(
      spark: SparkSession, sqlText: String,
      targetCols: Seq[String], sourceCols: Seq[String],
      allowSource: Boolean): String = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def tCol(c: String) = targetCols.find(_.equalsIgnoreCase(c)).map(n => Seq(n))
    def sCol(c: String) = sourceCols.find(_.equalsIgnoreCase(c)).map { n =>
      if (!allowSource) throw new IllegalArgumentException(
        s"source column reference $c in a NOT MATCHED BY SOURCE clause " +
          "(no source row exists on that side): " + sqlText)
      Seq(srcSidePrefix + n)
    }
    spark.sessionState.sqlParser.parseExpression(sqlText).transform {
      case a: UnresolvedAttribute =>
        val parts = a.nameParts
        val resolved = parts match {
          case Seq(q, c) if q.equalsIgnoreCase("s") => sCol(c)
          case Seq(q, c) if q.equalsIgnoreCase("t") => tCol(c)
          case Seq(c) => tCol(c).orElse(sCol(c))
          case _ => None
        }
        UnresolvedAttribute(resolved.getOrElse(throw new IllegalArgumentException(
          s"unresolvable column ${parts.mkString(".")} in MERGE expression: $sqlText")))
    }.sql
  }

  private val srcSidePrefix = "__s_"
  // distinct from any srcSidePrefix rename (a source column named
  // "exists" becomes __s_exists — this marker must never collide)
  private val srcExistsMarker = "__graft_matched__"
  private val tgtExistsMarker = "__graft_target__"

  /** Copy-on-write MERGE — the one MERGE implementation (`mergeCow`,
    * SnapshotSql and the SQL extensions all land here), the ANSI/Delta
    * clause surface:
    *
    *   - `matched`: WHEN MATCHED [AND cond] THEN UPDATE (SET star or
    *     SET col=expr) or DELETE, cascaded in order (first clause whose
    *     condition holds applies; none → the row carries unchanged);
    *   - `notMatched`: WHEN NOT MATCHED [AND cond] THEN INSERT (star or
    *     column list), applied to source rows matching no target key;
    *   - `notMatchedBySource`: WHEN NOT MATCHED BY SOURCE [AND cond]
    *     THEN UPDATE/DELETE, applied to target rows matching no source
    *     key (conditions and assignments may reference only `t.`).
    *
    * The star actions assign the WHOLE row: every table column takes the
    * same-name source column, NULL where the source lacks it. `_row_id`
    * (row tracking) is engine-managed and never read from the source:
    * updated rows keep the target's id, inserted rows draw fresh ids
    * above the hwm.
    *
    * Execution is ONE file-grain COW commit, Delta's find-touched-files
    * join followed by one rewrite: candidate files are those holding a
    * source-key match, plus — when `notMatchedBySource` is present —
    * exactly the files holding an UNMATCHED row satisfying some NMBS
    * clause condition (found in the same single detection pass, so an
    * NMBS merge touching one file rewrites one file). The candidate rows
    * join the source once; each joined row takes the first applicable
    * clause via a single codegen'd CASE cascade — one pass, no
    * per-clause joins. Everything else carries by reference.
    *
    * Duplicate source keys: a source row set in which several rows
    * match the SAME target row is refused (the ANSI/Delta
    * multiple-source-rows-matched error; the per-key counts ride the
    * candidate-detection pass, so the check costs no extra scan);
    * `spark.graft.merge.allowDuplicateSource=true` restores the old
    * apply-an-arbitrary-one behavior. When the only MATCHED clause is
    * one unconditional DELETE, duplicates are admitted (Delta's
    * isOnlyOneUnconditionalDelete: every match deletes the same row).
    * Duplicate keys among rows matching NO target row are deduplicated
    * before INSERT — a documented divergence from ANSI (which would
    * insert them all).
    *
    * Schema evolution follows Delta's rule: only the star actions admit
    * NEW source columns (widening the table); column-level clauses must
    * name existing target columns, and every assignment is cast to the
    * target column's type. A star action never reads the change feed's
    * metadata columns (`ChangeFeed.metaCols`): a feed frame as source
    * neither widens the table with them nor writes them. A generated
    * column the applying clause does not assign is computed from the new
    * row; an assigned one is VALIDATED (contradiction refusal). Column DEFAULTs fill NULLs as on
    * any ingest. CHECK constraints gate changed rows only — O(changed),
    * never O(table).
    *
    * With `changeFeed = true` the commit publishes the row-level change
    * set (insert / update_preimage / update_postimage / delete) exactly
    * as the relational diff implies — conditional clauses included.
    *
    * A merge with no INSERT clause whose detection finds no candidate
    * file commits metadata only: no data file and no feed. The commit
    * records `#op:merge` (`deleteKeysCow` records `delete`). */
  def mergeClauses(
      spark: SparkSession, root: String, source: DataFrame, keyCols: Seq[String],
      matched: Seq[MergeWhen] = Nil,
      notMatched: Seq[MergeWhen] = Nil,
      notMatchedBySource: Seq[MergeWhen] = Nil,
      changeFeed: Boolean = false, txn: Option[Long] = None): Long =
    mergeRewrite(spark, root, source, keyCols, matched, notMatched,
      notMatchedBySource, changeFeed, txn, op = "merge")

  /** `mergeClauses` recording `op` as the commit's `#op:`. */
  private def mergeRewrite(
      spark: SparkSession, root: String, source: DataFrame, keyCols: Seq[String],
      matched: Seq[MergeWhen], notMatched: Seq[MergeWhen],
      notMatchedBySource: Seq[MergeWhen],
      changeFeed: Boolean, txn: Option[Long], op: String): Long = {
    require(matched.forall(c => Set("update", "update*", "delete")(c.kind)),
      s"matched clauses must be UPDATE/DELETE: ${matched.map(_.kind)}")
    require(notMatched.forall(c => Set("insert", "insert*")(c.kind)),
      s"not-matched clauses must be INSERT: ${notMatched.map(_.kind)}")
    require(notMatchedBySource.forall(c => Set("update", "delete")(c.kind)),
      s"not-matched-by-source clauses must be column-level UPDATE/DELETE: " +
        notMatchedBySource.map(_.kind))
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "MERGE with no WHEN clauses")
    val prev = latestVersion(spark, root)
    val v = prev + 1
    val (_, qroot) = fsOf(spark, root)
    val prevFiles = versionFileList(spark, root, prev)
    val prevDelta = readDelta(spark, root, prev)
    val props = prevDelta.props
    val src = source.dropDuplicates(keyCols)
    val srcCols = src.columns.toSeq
    // the source columns a star action reads: never the feed's metadata
    val starCols = srcCols.filterNot(c => ChangeFeed.metaCols.exists(_.equalsIgnoreCase(c)))
    require(keyCols.forall(k => srcCols.exists(_.equalsIgnoreCase(k))),
      s"source is missing merge key(s): ${keyCols.filterNot(k => srcCols.exists(_.equalsIgnoreCase(k)))}")
    val prevSchema = prevDelta.schema
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(readVersion(spark, root, prev).schema)
    // Delta's evolution rule: star actions widen the table by the
    // source's new columns, through the ingest's schema step (a source
    // column still carrying a pre-widening type is up-cast); a
    // clause-only merge keeps the shape
    val hasStar = (matched ++ notMatched).exists(_.kind.endsWith("*"))
    val merged =
      if (hasStar) evolvedSchema(Some(prevSchema),
        upcastTo(src.select(starCols.map(col): _*), Some(prevSchema)).schema, props)._2
      else prevSchema
    val tgtNames = merged.fieldNames.toSeq
    val tracked = rowTrackingOn(props) && tgtNames.contains(rowIdCol)
    val gens = props.toSeq.collect {
      case (k, e) if k.startsWith(generatedPrefix) && tgtNames.contains(k.stripPrefix(generatedPrefix)) =>
        k.stripPrefix(generatedPrefix) -> e
    }.sortBy(_._1)
    def field(name: String) = merged.fields.find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(
        s"MERGE assigns unknown target column $name (table: ${tgtNames.mkString(", ")})"))
    // the star actions' whole row: the same-name source column, else
    // NULL — minus what is computed instead (an unsupplied generated
    // column, the engine-managed row id)
    val starSet: Map[String, String] = merged.fields.toSeq.flatMap { f =>
      starCols.find(_.equalsIgnoreCase(f.name)) match {
        case _ if tracked && f.name == rowIdCol => None
        case Some(c) => Some(f.name -> s"s.`$c`")
        case None if gens.exists(_._1 == f.name) => None
        case None => Some(f.name -> "NULL")
      }
    }.toMap
    // resolve every clause down to (id, predicate, per-column value SQL);
    // the side markers make the three clause lists mutually exclusive
    final case class Resolved(id: String, isDelete: Boolean,
        pred: Column, set: Map[String, String])
    val isTgt = coalesce(col(tgtExistsMarker), lit(false))
    val isSrc = coalesce(col(srcExistsMarker), lit(false))
    def resolve(c: MergeWhen, id: String, side: Column,
        targetCols: Seq[String], allowSource: Boolean): Resolved = {
      def tr(sqlText: String) = mergeExprSql(spark, sqlText, targetCols, srcCols, allowSource)
      val cond = c.condition.map(t => expr(tr(t))).getOrElse(lit(true))
      val set = (if (c.kind.endsWith("*")) starSet else c.set).map { case (k, e) =>
        val name = field(k).name
        require(!(tracked && name == rowIdCol),
          s"$rowIdCol is engine-managed under $rowTrackingProp — MERGE cannot assign it")
        name -> tr(e)
      }
      Resolved(id, c.kind == "delete", side && cond, set)
    }
    val mResolved = matched.zipWithIndex.map { case (c, i) =>
      resolve(c, s"m$i", isTgt && isSrc, tgtNames, allowSource = true) }
    val bResolved = notMatchedBySource.zipWithIndex.map { case (c, i) =>
      resolve(c, s"b$i", isTgt && !isSrc, tgtNames, allowSource = false) }
    // insert clauses see only the source row
    val iResolved = notMatched.zipWithIndex.map { case (c, i) =>
      resolve(c, s"i$i", !isTgt, Nil, allowSource = true) }
    val clauses = mResolved ++ bResolved ++ iResolved
    def inIds(ids: Seq[String]): Column =
      if (ids.isEmpty) lit(false) else col("__act").isin(ids: _*)
    // ---- candidate files (the rows a clause could touch), the ANSI
    // multiple-source-rows-matched check, and NMBS file pruning — ONE
    // pass over the table. Per file: does any row match a source key
    // (matched candidate), match a DUPLICATED source key (refused —
    // ANSI and Delta error instead of applying an arbitrary duplicate),
    // or match nothing while satisfying a NOT MATCHED BY SOURCE clause
    // condition (NMBS candidate)? Selection is exact at file grain:
    // every carried file provably holds no clause-affected row, so an
    // NMBS merge whose clause touches one file rewrites one file — not
    // the whole table (the r10 all-files admission).
    val bCondOr: Option[Column] =
      if (notMatchedBySource.isEmpty) None
      else Some(notMatchedBySource.map(_.condition
        .map(t => expr(mergeExprSql(spark, t, tgtNames, srcCols, allowSource = false)))
        .getOrElse(lit(true))).reduce(_ || _))
    val allowDupSource = matched == Seq(MergeWhen.delete()) || spark.conf
      .getOption("spark.graft.merge.allowDuplicateSource").contains("true")
    val rewritten: Seq[String] =
      if (matched.isEmpty && notMatchedBySource.isEmpty) Nil
      else {
        val srcCnt = source.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("__srcn"))
        val current = readVersionWithFile(spark, root, prev)
        // an NMBS condition naming a star-widened column can't resolve
        // over the PRE-merge files (it is null there anyway) — fall
        // back to the sound over-approximation: every file holding an
        // unmatched row is a candidate
        val bCondSafe = bCondOr.map { c =>
          try { current.select(c); c }
          catch { case _: org.apache.spark.sql.AnalysisException => lit(true) }
        }
        // NMBS needs the unmatched rows (left outer); a matched-only
        // merge detects through the cheaper inner join. Only candidate
        // files reach the driver: O(candidates), never O(table files).
        val joinType = if (notMatchedBySource.isEmpty) "inner" else "left_outer"
        val perFile = current.join(srcCnt, keyCols, joinType)
          .groupBy(col("__file")).agg(
            max(coalesce(col("__srcn"), lit(0L))).as("__mx"),
            max(when(col("__srcn").isNull &&
              bCondSafe.getOrElse(lit(false)), 1).otherwise(0)).as("__b"))
          .where(col("__b") === 1 || (lit(matched.nonEmpty) && col("__mx") > 0))
          .collect()
        if (!allowDupSource && matched.nonEmpty && perFile.exists(_.getLong(1) > 1))
          throw new IllegalArgumentException(
            "MERGE: multiple source rows match the same target row — ANSI " +
              "and Delta refuse this (nondeterministic). Deduplicate the " +
              "source on the merge keys, or set " +
              "spark.graft.merge.allowDuplicateSource=true to apply an " +
              "arbitrary one.")
        val want = perFile.map(r => new Path(r.getString(0)).toString).toSet
        val rw = prevFiles.filter(f => want.contains(new Path(qroot, f).toString))
        require(rw.size == want.size,
          s"${want.size} files hold clause-affected rows but only ${rw.size} " +
            s"resolved to log entries — path normalization bug? $want")
        rw
      }
    if (rewritten.isEmpty && notMatched.isEmpty)
      return commitRewrite(spark, root, v, Delta(Nil, Nil, txn = txn,
        schema = Some(merged.json), props = props, op = Some(op), dv = prevDelta.dv))
    // ---- one join: candidate rows ⋈ source rows
    val srcR = src.select(
      srcCols.map(c => col(c).as(srcSidePrefix + c)) :+
        lit(true).as(srcExistsMarker): _*)
    val tgtM = (
      if (rewritten.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), merged)
      else conform(readFilesAs(spark, qroot,
        rewritten.map(f => new Path(qroot, f).toString),
        Some(prevSchema), props, prevDelta.dv), merged)
    ).withColumn(tgtExistsMarker, lit(true))
    val joinCond = keyCols.map(k => col(k) === col(srcSidePrefix + k)).reduce(_ && _)
    // target rows keep their file's partition (the broadcast side is the
    // source), so each rewritten file's key envelope survives the
    // rewrite. The insert clauses need the source rows matching no
    // target key AT ALL: with MATCHED clauses the detection pass made
    // every file holding a source-matched key a candidate, so the
    // candidates' keys decide; without, the candidate set proves nothing
    // about key presence and the table's keys decide.
    val joined = {
      val tgtSide = tgtM.join(srcR, joinCond, "left_outer")
      if (notMatched.isEmpty) tgtSide
      else {
        val keysFrom = if (matched.nonEmpty) tgtM else readVersion(spark, root, prev)
        tgtSide.unionByName(
          srcR.join(keysFrom.select(keyCols.map(k => col(k).as(srcSidePrefix + k)): _*),
            keyCols.map(srcSidePrefix + _), "left_anti"),
          allowMissingColumns = true)
      }
    }
    val actCol = clauses.foldRight(when(isTgt, lit("keep")).otherwise(lit("skip"))) {
      (r, els) => when(r.pred, lit(r.id)).otherwise(els) }
    // inserted rows draw row ids above the hwm
    val hwm = props.get(identityPrefix + rowIdCol + ".hwm")
      .flatMap(_.toLongOption).getOrElse(0L)
    val withAct0 = joined.withColumn("__act", actCol)
    val withAct1 =
      if (!tracked) withAct0
      else withAct0.withColumn("__rid", lit(hwm + 1) + monotonically_increasing_id())
    val deleteIds = clauses.filter(_.isDelete).map(_.id)
    val writers = clauses.filterNot(_.isDelete)
    // one persist rule: the write always reads this frame; the staged
    // feed and the changed-rows gates (CHECK constraints, generated
    // columns; only a clause that writes rows has any to gate) read it
    // again, and then it is materialized ONCE — O(candidate rows +
    // source rows), never O(table) — which also pins the row ids
    // identical between the staged feed and the committed data files.
    // With no second reader a cache only adds Spark jobs.
    val gated = writers.nonEmpty && props.keys.exists(k =>
      k.startsWith(constraintPrefix) || k.startsWith(generatedPrefix))
    val withAct =
      if (changeFeed || gated)
        withAct1.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else withAct1
    val insertIds = iResolved.map(_.id)
    val updateIds = writers.map(_.id).filterNot(insertIds.contains)
    val outCols: Seq[Column] = merged.fields.toSeq.map { f =>
      if (tracked && f.name == rowIdCol)
        when(inIds(insertIds), col("__rid")).otherwise(col(f.name)).as(f.name)
      else writers.filter(_.set.contains(f.name))
        .foldRight(col(f.name)) { (r, els) =>
          when(col("__act") === r.id, expr(r.set(f.name)).cast(f.dataType)).otherwise(els)
        }.as(f.name)
    }
    // DEFAULTs first (a generated column may derive from a defaulted
    // one), then each generated column the applying clause left
    // unassigned, computed from the new row
    val out = gens.foldLeft(withDefaults(withAct.select(outCols :+ col("__act"): _*), props)) {
      case (d, (g, e)) =>
        val computed = writers.filterNot(_.set.contains(g)).map(_.id)
        if (computed.isEmpty) d
        else d.withColumn(g,
          when(inIds(computed), expr(e).cast(field(g).dataType)).otherwise(col(g)))
    }
    def rowsOf(df: DataFrame, which: Column): DataFrame =
      df.where(which).select(tgtNames.map(col): _*)
    def commitPhase(): Long = {
      val cdfDir =
        if (!changeFeed) None
        else {
          // old images (update pre-images, deletes) and new images
          // (update post-images, inserts): one pass over each side
          def images(df: DataFrame, ids: Seq[String], op: Column) =
            df.where(inIds(ids)).select(tgtNames.map(col) :+ op.as(ChangeFeed.opCol): _*)
          val before = images(withAct, updateIds ++ deleteIds,
            when(inIds(deleteIds), lit("delete")).otherwise(lit("update_preimage")))
          val after = images(out, updateIds ++ insertIds,
            when(inIds(insertIds), lit("insert")).otherwise(lit("update_postimage")))
          Some(stageChangeFeed(spark, qroot, v, before.unionByName(after)))
        }
      val kept = rowsOf(out, !inIds(deleteIds :+ "skip"))
      val (newFiles, stats) = writeCommitFiles(spark, root, v, kept, props, Some(merged))
      // advance-only hwm patch for freshly-inserted row ids: an
      // all-matched merge's stats max is the OLD ids' max (≤ hwm) —
      // patching it would regress the hwm
      val idPatch =
        if (!tracked) Map.empty[String, String]
        else identityPatch(stats, Seq(rowIdCol -> 1L),
            c => physicalMap(merged).getOrElse(c, c))
          .filter(_._2.toLong > hwm)
      commitRewrite(spark, root, v, Delta(newFiles, rewritten, txn = txn, cdf = cdfDir,
        schema = Some(merged.json), props = props ++ idPatch, stats = stats,
        op = Some(op), dv = prevDelta.dv),
        staged = cdfDir.map(n => s"_changes/$n").toSeq)
    }
    try {
      // gates on CHANGED rows only (updated + inserted), O(changed) —
      // inside the try so a refused merge still unpersists
      if (gated) {
        val changed = rowsOf(out, !inIds(deleteIds :+ "skip" :+ "keep"))
        checkConstraints(changed, props)
        withGenerated(changed, props) // contradiction probe on assigned values
      }
      commitPhase()
    } finally withAct.unpersist(blocking = false)
  }

  /** The change feed of versions (`fromV`, `toV`] — complete CDC over a
    * MIXED history, not just the commits that staged a feed:
    *
    *   - a commit that published a feed (`changeFeed = true`)
    *     contributes it. Feed presence and location come from the
    *     COMMITTED delta header (`#cdf:`), never from `fs.exists` on a
    *     well-known path — an orphan directory staged by a failed commit
    *     is invisible here.
    *   - a PURE APPEND (or init) contributes its added files read as
    *     `_op = insert` rows — synthesized from the data the log already
    *     names, no extra copy written (Delta-CDF's admission for
    *     append-only commits). Before `#op:` headers, any adds-only
    *     delta gets the same treatment (an append is the only commit
    *     shape that produces one).
    *   - an OPTIMIZE (compaction / re-clustering) is a LOGICAL NO-OP —
    *     same rows, different files — and contributes nothing.
    *   - a rewrite that changed rows WITHOUT publishing a feed
    *     (merge/delete with `changeFeed = false`) fails loudly: its
    *     row-level changes are genuinely unrecoverable from the file
    *     grain.
    *
    * Schemas may differ across the range (evolution): frames union by
    * name with null backfill. */
  def changesBetween(
      spark: SparkSession, root: String, fromV: Long, toV: Long): DataFrame = {
    require(fromV < toV, s"empty change range ($fromV, $toV]")
    val (_, qroot) = fsOf(spark, root)
    val frames = ((fromV + 1) to toV).flatMap { v =>
      val d = readDelta(spark, root, v)
      if (d.cdf.isDefined) {
        // a staged feed directory is immutable once its commit published
        // the #cdf: header, so its schema memoizes per path — CDC
        // consumers (changesBetween proofs, the streaming source's
        // per-version batches) re-read the same feed several times. The
        // schema comes from the footer on the driver, as Spark's
        // inference reads it but with no job; Spark infers it where the
        // footer reader declines
        val p = new Path(qroot, s"_changes/${d.cdf.get}").toString
        val sch = feedSchemaCache.get(p).getOrElse {
          val inferred = GraftParquetDriverReader.schema(spark, p).getOrElse(spark.read.parquet(p).schema)
          feedSchemaCache.put(p, inferred)
          inferred
        }
        Some(spark.read.schema(sch).parquet(p))
      }
      else if (d.op.contains("optimize")) None // same rows, different files
      else if (d.dvAdd.isDefined) throw new IllegalArgumentException(
        s"version $v of $root deleted rows by deletion vector without a " +
          "change feed — commit with changeFeed = true")
      else if (d.removes.isEmpty) {
        if (d.adds.isEmpty) None // no-op commit (e.g. delete of absent keys)
        else {
          val files = d.adds.map(f => new Path(qroot, f).toString)
          val inserts = readFilesAs(spark, qroot, files,
            versionSchema(spark, root, v), d.props)
          Some(inserts.withColumn(ChangeFeed.opCol, lit("insert")))
        }
      } else throw new IllegalArgumentException(
        s"version $v of $root changed rows without a change feed — " +
          "commit with changeFeed = true")
    }
    if (frames.isEmpty) // e.g. an all-OPTIMIZE range: zero changes, typed
      readVersion(spark, root, toV).limit(0)
        .withColumn(ChangeFeed.opCol, lit("insert"))
    else frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Apply ONE CDC micro-batch (a `ChangeFeed`-shaped frame: rows +
    * `_op` ∈ insert / update_preimage / update_postimage / delete) to a
    * DOWNSTREAM snapshot table as one exactly-once commit — incremental
    * view maintenance across two logged tables. The batch id rides the
    * commit (`#txn:`), so a replayed batch is a no-op; return false =
    * already applied. The commit is the apply-changes MERGE: a key with
    * a delete or pre-image and no post-image deletes, every other row
    * upserts. The feed must be ONE commit's change set (pace the stream
    * with `maxVersionsPerTrigger = 1`): a multi-commit batch is an
    * unordered multiset in which an insert and its own later update
    * would double-apply. */
  def applyCdcBatch(
      spark: SparkSession, root: String, feed: DataFrame,
      keyCols: Seq[String], batchId: Long): Boolean = {
    val isUpsert = col(ChangeFeed.opCol).isin("insert", "update_postimage")
    val upserts = feed.where(isUpsert)
    if (versions(spark, root).isEmpty) {
      initTxn(spark, root, upserts.drop(ChangeFeed.metaCols: _*), Some(batchId))
      true
    } else if (batchId <= lastCommittedBatch(spark, root)) false
    else {
      // the keys with a delete or pre-image and no post-image
      val deletes = feed.groupBy(keyCols.map(col): _*)
        .agg(max(isUpsert).as("__upsert"))
        .where(!col("__upsert"))
        .select(keyCols.map(col) :+ lit("delete").as(ChangeFeed.opCol): _*)
      // the source is read by the detection pass and the rewrite: build
      // it once; a CDC batch is O(changed rows) by contract
      val source = upserts.drop(ChangeFeed.metaCols.filterNot(_ == ChangeFeed.opCol): _*)
        .unionByName(deletes, allowMissingColumns = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val op = s"s.${ChangeFeed.opCol}"
      try mergeClauses(spark, root, source, keyCols,
        matched = Seq(MergeWhen.delete(Some(s"$op = 'delete'")), MergeWhen.updateAll()),
        notMatched = Seq(MergeWhen.insertAll(Some(s"$op <> 'delete'"))),
        txn = Some(batchId))
      finally source.unpersist(blocking = false)
      true
    }
  }

  private val constraintPrefix = "constraint."
  private val generatedPrefix = "graft.generated."

  /** GENERATED COLUMNS (Delta's): a table property
    * `graft.generated.<col> = <sqlExpr>` makes every ingest path
    * compute `<col>` from the batch's own columns when the writer
    * doesn't provide it — and REFUSES a provided value that contradicts
    * the expression (silently diverging generated data is the one thing
    * worse than missing data). The headline use: partition by a DERIVED
    * key (`graft.partitionBy = event_day` +
    * `graft.generated.event_day = date(ts)`) — writers ship raw rows,
    * the Hive layout and Catalyst partition pruning come for free. */
  private def withGenerated(df: DataFrame, props: Map[String, String]): DataFrame = {
    // DEFAULTs apply FIRST: a generated column may derive from a
    // defaulted one, and the default is a constant (no dependency the
    // other way)
    val defaulted = withDefaults(df, props)
    val gens = props.collect {
      case (k, e) if k.startsWith(generatedPrefix) => k.stripPrefix(generatedPrefix) -> e
    }.toSeq.sortBy(_._1)
    gens.foldLeft(defaulted) { case (d, (c, e)) =>
      if (!d.columns.contains(c)) d.withColumn(c, expr(e))
      else {
        val bad = d.where(!(col(c) <=> expr(e))).take(1)
        if (bad.nonEmpty) throw new IllegalArgumentException(
          s"generated column $c ($e) contradicted by an explicit value " +
            s"in the batch, e.g. ${bad.head}")
        d
      }
    }
  }

  // ---- Column DEFAULT values (NOT NULL DEFAULT contract) -------------
  //
  // `graft.default.<col> = "<catalogType>|<constant sql>"` — declared by
  // `addColumnDefault` (which also adds the column as ONE metadata
  // commit, zero rewrites). The contract is NOT NULL DEFAULT: a
  // declared column never surfaces NULL — ingest injects the constant
  // for batches lacking the column and coalesces explicit NULLs; reads
  // coalesce rows from files that PREDATE the declaration (parquet
  // null-fills the missing column, so pre-add rows are exactly the NULL
  // ones — the dichotomy the single-constant contract needs, which is
  // why the default is immutable once declared and NULL-defaults are
  // refused). Old versions read under their own props: time travel to a
  // pre-declaration version never applies it. Rewrites MATERIALIZE
  // defaults (they read coalesced and write concrete values), so an
  // OPTIMIZE steadily upgrades old files. Gated as reader feature
  // `columnDefaults` — a reader that ignored the prop would return
  // wrong NULLs.

  private[graft] val defaultPrefix = "graft.default."

  private[graft] def defaultsOf(props: Map[String, String]): Seq[(String, DataType, String)] =
    props.collect {
      case (k, v) if k.startsWith(defaultPrefix) =>
        val i = v.indexOf('|')
        (k.stripPrefix(defaultPrefix),
          org.apache.spark.sql.types.DataType.fromDDL(v.take(i)), v.drop(i + 1))
    }.toSeq.sortBy(_._1)

  /** Apply the NOT-NULL-DEFAULT contract to an INGEST frame: inject the
    * constant when the column is absent, coalesce explicit NULLs. */
  private def withDefaults(df: DataFrame, props: Map[String, String]): DataFrame =
    defaultsOf(props).foldLeft(df) { case (d, (c, tpe, sql)) =>
      if (d.columns.contains(c))
        d.withColumn(c, coalesce(col(c), expr(sql).cast(tpe)))
      else d.withColumn(c, expr(sql).cast(tpe))
    }

  /** READ-side coalesce for rows from files predating the declaration —
    * identity when the version declares no defaults. */
  private[graft] def applyDefaults(df: DataFrame, props: Map[String, String]): DataFrame =
    defaultsOf(props).foldLeft(df) { case (d, (c, tpe, sql)) =>
      if (d.columns.contains(c))
        d.withColumn(c, coalesce(col(c), expr(sql).cast(tpe)))
      else d
    }

  /** `ALTER TABLE … ADD COLUMN c t DEFAULT <expr>` — ONE metadata
    * commit: the schema gains the column AND `graft.default.<c>`
    * records the constant. The expression must be a CONSTANT (no column
    * references — it applies to rows that don't exist yet) and
    * non-NULL; it is evaluated once here to validate both. */
  def addColumnDefault(
      spark: SparkSession, root: String,
      name: String, dataType: DataType, defaultSql: String): Long =
    addColumnsWithDefaults(spark, root,
      Seq(org.apache.spark.sql.types.StructField(name, dataType) -> Some(defaultSql)))

  /** `ALTER TABLE … ADD COLUMNS (…)` as ONE metadata commit: every
    * column of the statement — plain and DEFAULT-bearing alike — lands
    * in a single delta (widened schema + all `graft.default.<c>` props
    * together), so a commit failure or OCC refusal can never leave the
    * ALTER half-applied (some columns committed, the rest lost). Each
    * DEFAULT must be a CONSTANT (no column references — it applies to
    * rows that don't exist yet) and non-NULL; validated here before any
    * log mutation. */
  def addColumnsWithDefaults(
      spark: SparkSession, root: String,
      cols: Seq[(org.apache.spark.sql.types.StructField, Option[String])]): Long = {
    require(cols.nonEmpty, "ADD COLUMNS of zero columns")
    val head = latestVersion(spark, root)
    val prevDelta = readDelta(spark, root, head)
    val schema = prevDelta.schema.map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        s"$root has no recorded schema — cannot evolve a legacy log"))
    val names = cols.map(_._1.name)
    val dupIn = names.groupBy(_.toLowerCase).collect { case (_, g) if g.size > 1 => g.head }
    require(dupIn.isEmpty, s"duplicate column(s) in ADD COLUMNS: ${dupIn.mkString(", ")}")
    val dup = names.filter(n => schema.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(dup.isEmpty, s"column(s) already exist: ${dup.mkString(", ")}")
    // validate EVERY default up front — refuse the whole statement
    // before the log sees any of it
    cols.foreach {
      case (f, Some(defaultSql)) =>
        require(!prevDelta.props.contains(defaultPrefix + f.name),
          s"column ${f.name} already carries a default — defaults are immutable " +
            "(the constant re-interprets every pre-declaration row)")
        // constant + non-null validation: analysis over a columnless frame
        // refuses column references; the evaluated value refuses NULL
        val probe =
          try spark.range(1).select(expr(defaultSql).cast(f.dataType).as("d")).head()
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw new IllegalArgumentException(
                s"DEFAULT for ${f.name} must be a constant expression " +
                  s"(got: $defaultSql): ${e.getMessage}")
          }
        require(!probe.isNullAt(0),
          s"DEFAULT for ${f.name} evaluates to NULL — a NULL default is the " +
            "absence of one")
        require(!defaultSql.contains('\n'), "DEFAULT expressions are single-line")
      case _ => ()
    }
    val newFields = cols.map(_._1.copy(nullable = true))
    val (_, widened) = evolvedSchema(Some(schema),
      StructType(schema.fields ++ newFields), prevDelta.props)
    val defaultProps = cols.collect { case (f, Some(sql)) =>
      (defaultPrefix + f.name) -> s"${f.dataType.catalogString}|$sql" }
    commitRewrite(spark, root, head + 1,
      Delta(Nil, Nil, schema = Some(widened.json),
        props = prevDelta.props ++ defaultProps,
        op = Some("metadata"), dv = prevDelta.dv))
  }

  /** Identity columns (`graft.identity.<col> = "<start>,<step>"`,
    * declared at init; high-water mark rides `graft.identity.<col>.hwm`
    * in the SAME commit that allocates): ingest paths (init / append /
    * streaming batches / COPY INTO) inject the column when the batch
    * LACKS it — `GENERATED BY DEFAULT AS IDENTITY` semantics, a batch
    * carrying the column explicitly passes through untouched.
    *
    * Allocation is ONE-PASS and distributed: id = hwm + step +
    * monotonically_increasing_id() × step — partition p's rows draw
    * from block p·2³³, so ids are unique with NO cross-task
    * coordination and no second counting job over the batch; identity
    * permits gaps (same admission as Delta's). The hwm then advances to
    * the batch's ACTUAL maximum, read from the committed files' stats
    * envelopes — metadata the commit already carries, zero extra scans
    * — so gaps never compound across commits. A concurrent append that
    * moved the hwm between assignment and commit is REFUSED (never
    * rebased — the ids are already in the written files); the caller
    * retries the whole append. */
  private[jobs] val identityPrefix = "graft.identity."

  private def identityColsOf(props: Map[String, String]): Seq[(String, Long, Long)] =
    props.collect {
      case (k, v) if k.startsWith(identityPrefix) && !k.endsWith(".hwm") =>
        val parts = v.split(',').map(_.trim)
        val start = parts.headOption.flatMap(_.toLongOption).getOrElse(1L)
        val step = parts.lift(1).flatMap(_.toLongOption).getOrElse(1L)
        require(step != 0, s"$k: step must be non-zero")
        (k.stripPrefix(identityPrefix), start, step)
    }.toSeq.sortBy(_._1)

  /** Inject absent identity columns; returns the frame plus the hwm
    * snapshot the allocation was based on (for the commit-time race
    * check) and the injected column list. */
  private def withIdentity(df: DataFrame, props: Map[String, String])
      : (DataFrame, Map[String, String], Seq[(String, Long)]) = {
    val decls = identityColsOf(props).filterNot { case (c, _, _) => df.columns.contains(c) }
    if (decls.isEmpty) return (df, Map.empty, Nil)
    val expect = decls.map { case (c, _, _) =>
      val k = identityPrefix + c + ".hwm"
      k -> props.getOrElse(k, "")
    }.toMap
    val out = decls.foldLeft(df) { case (d, (c, start, step)) =>
      val hwm = props.get(identityPrefix + c + ".hwm").flatMap(_.toLongOption)
        .getOrElse(start - step)
      d.withColumn(c,
        lit(hwm + step) + monotonically_increasing_id() * lit(step))
    }
    (out, expect, decls.map { case (c, _, step) => c -> step })
  }

  /** The hwm advance a just-written batch commits alongside its adds:
    * per injected column, the max (ascending step) or min (descending)
    * over the new files' stats envelopes. */
  private def identityPatch(
      stats: Map[String, graft.core.Skipping.FileStats],
      injected: Seq[(String, Long)],
      physOf: String => String): Map[String, String] =
    injected.flatMap { case (c, step) =>
      val p = physOf(c)
      val bounds = stats.values.flatMap(s =>
        (if (step > 0) s.maxs else s.mins).get(p))
      if (bounds.isEmpty) None // empty batch: hwm stays
      else Some(identityPrefix + c + ".hwm" ->
        (if (step > 0) bounds.max else bounds.min).toString)
    }.toMap

  /** SQL-CHECK semantics: a row violates when the expression is FALSE
    * (NULL passes, as in standard CHECK). Only NEW rows are validated —
    * carried/rewritten rows were validated by the commits that added
    * them, so the gate costs O(batch), never O(table). */
  private def checkConstraints(df: DataFrame, props: Map[String, String]): Unit =
    props.foreach {
      case (k, e) if k.startsWith(constraintPrefix) =>
        val bad = df.where(coalesce(expr(e), lit(true)) === false).take(1)
        if (bad.nonEmpty) throw new IllegalArgumentException(
          s"CHECK constraint ${k.stripPrefix(constraintPrefix)} ($e) " +
            s"violated by the batch, e.g. ${bad.head}")
      case _ => ()
    }

  /** Add a named CHECK constraint (`exprSql` over the table's columns) —
    * a metadata-only commit carrying the new `constraint.<name>` table
    * property, which every future append/merge/streaming batch is
    * validated against (bad batches are REFUSED before anything is
    * committed — the ingest-gate a 100 TB pipeline needs, because a bad
    * batch found later costs a rewrite). The CURRENT data must already
    * satisfy it, like Delta's ADD CONSTRAINT. */
  def addCheckConstraint(
      spark: SparkSession, root: String, name: String, exprSql: String): Long = {
    require(!name.exists("=\n|".contains(_)), s"constraint name unrepresentable: $name")
    val head = latestVersion(spark, root)
    val prevDelta = readDelta(spark, root, head)
    checkConstraints(readVersion(spark, root, head),
      Map(constraintPrefix + name -> exprSql))
    commitRewrite(spark, root, head + 1,
      Delta(Nil, Nil, schema = prevDelta.schema,
        props = prevDelta.props + (constraintPrefix + name -> exprSql),
        op = Some("metadata"), dv = prevDelta.dv))
  }

  /** TYPE WIDENING admission: `from` can widen to `to` iff Spark's
    * vectorized parquet reader reads files written under `from` through
    * a `to`-typed schema natively (verified against Spark 4.1): integral
    * up-casts, int-family → double, float → double, and int-family →
    * DECIMAL(p,0) with enough precision. Everything else — narrowing,
    * string/binary, decimal re-scaling — is refused. */
  private[jobs] def widens(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => false
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (ByteType, d: DecimalType) => d.scale == 0 && d.precision >= 3
      case (ShortType, d: DecimalType) => d.scale == 0 && d.precision >= 5
      case (IntegerType, d: DecimalType) => d.scale == 0 && d.precision >= 10
      case _ => false
    }
  }

  /** `ALTER TABLE … ALTER COLUMN c TYPE t` — type widening as ONE
    * metadata-only commit, zero file rewrites: every existing file
    * keeps its narrower physical type and the vectorized reader
    * up-casts at scan time; new commits write the wide type. Batches
    * still carrying the OLD (narrower) type keep landing through every
    * ingest route — append, COPY INTO, replaceWhere, dynamic partition
    * overwrite, streaming batches and MERGE's star actions up-cast them
    * (`upcastTo`); only `overwrite`, which replaces the schema, keeps
    * the batch's own types. Old integral stats
    * envelopes stay valid for integral widening; a widen into the
    * double/decimal family leaves old files envelope-less for the new
    * comparison space — conservatively scanned, never mis-pruned. */
  def alterColumnType(
      spark: SparkSession, root: String, colName: String, to: DataType): Long = {
    val head = latestVersion(spark, root)
    val prevDelta = readDelta(spark, root, head)
    val schema = prevDelta.schema.map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(throw new IllegalArgumentException(
        s"$root records no schema — cannot alter column types"))
    val resolver = spark.sessionState.conf.resolver
    val field = schema.fields.find(f => resolver(f.name, colName))
      .getOrElse(throw new IllegalArgumentException(
        s"no such column: $colName in ${schema.fieldNames.mkString(", ")}"))
    require(!graft.core.HivePartitions.columnsOf(prevDelta.props)
        .exists(resolver(_, colName)),
      s"$colName is a partition column — partition types are fixed at init")
    // Bucket ids are Murmur3 over the PHYSICAL type: hashInt(5) !=
    // hashLong(5), so widening a bucket column would silently invalidate
    // every existing file's bucket assignment — bucket pruning would scan
    // the wrong bucket (missing rows) and co-bucketed joins would skip
    // exchanges on a partitioning guarantee that no longer holds. Refuse
    // loudly; `OPTIMIZE … REBUCKET` after a manual re-type is the rewrite
    // path that re-stamps ids.
    require(!bucketColsOf(prevDelta.props).exists(resolver(_, colName)),
      s"$colName is a bucket column — widening it would change the Murmur3 " +
        "bucket hash of every existing row (hashInt vs hashLong), silently " +
        "corrupting bucket pruning and co-bucketed joins; rebucket the " +
        "table (full rewrite) instead")
    require(widens(field.dataType, to),
      s"cannot change $colName: ${field.dataType.simpleString} -> " +
        s"${to.simpleString} is not a widening conversion (allowed: " +
        "integral up-casts, int/float -> double, int -> decimal(p,0))")
    val widened = StructType(schema.fields.map(f =>
      if (resolver(f.name, colName)) f.copy(dataType = to) else f))
    commitRewrite(spark, root, head + 1,
      Delta(Nil, Nil, schema = Some(widened.json), props = prevDelta.props,
        op = Some("metadata"), dv = prevDelta.dv))
  }

  /** Up-cast batch columns whose type WIDENS to the table's — so a
    * producer still emitting the pre-widening type keeps working after
    * `alterColumnType` (Delta's behavior). Every ingest route up-casts:
    * `stage` runs it first (init, append, streaming batches, COPY INTO,
    * replaceWhere, dynamic partition overwrite) and MERGE's star
    * actions run it before the shared schema step. Non-widenable
    * mismatches pass through untouched and fail loudly in
    * `mergedSchema`. */
  private def upcastTo(df: DataFrame, table: Option[StructType]): DataFrame =
    table match {
      case None => df
      case Some(t) =>
        val byName = t.fields.map(f => f.name -> f.dataType).toMap
        val needs = df.schema.fields.filter(f =>
          byName.get(f.name).exists(tt => widens(f.dataType, tt)))
        needs.foldLeft(df)((d, f) => d.withColumn(f.name,
          col(f.name).cast(byName(f.name))))
    }

  /** `ALTER TABLE … SYNC IDENTITY` — recompute each identity column's
    * high-water mark from the table's ACTUAL data: after explicit
    * inserts (GENERATED BY DEFAULT admits them) the hwm may lag values
    * already present, and the next injection would collide. Bounds come
    * from the head's stats envelopes when every live file carries one
    * (pure metadata); files without an envelope fall back to one
    * column-pruned aggregate scan. The hwm only ever advances (ascending
    * step; retreats for descending) — syncing never un-burns ids.
    * Returns (column, new hwm) pairs; empty when nothing needed. */
  def syncIdentity(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val head = latestVersion(spark, root)
    val prevDelta = readDelta(spark, root, head)
    val props = prevDelta.props
    val decls = identityColsOf(props)
    if (decls.isEmpty) return Nil
    val physMap = prevDelta.schema
      .map(s => physicalMap(DataType.fromJson(s).asInstanceOf[StructType]))
      .getOrElse(Map.empty[String, String])
    val idx = statsIndex(spark, root, head)
    val updates = decls.flatMap { case (c, start, step) =>
      val p = physMap.getOrElse(c, c)
      val fromStats = idx.map(f => (if (step > 0) f.maxs else f.mins).get(p))
      val dataBound =
        if (idx.nonEmpty && fromStats.forall(_.isDefined)) {
          val bs = fromStats.flatten
          Some(if (step > 0) bs.max else bs.min)
        } else {
          val agg = readVersion(spark, root, head)
            .agg((if (step > 0) max(col(c)) else min(col(c))).cast("long")).head()
          if (agg.isNullAt(0)) None else Some(agg.getLong(0))
        }
      val cur = props.get(identityPrefix + c + ".hwm").flatMap(_.toLongOption)
        .getOrElse(start - step)
      dataBound.filter(b => if (step > 0) b > cur else b < cur)
        .map(b => c -> b)
    }
    if (updates.nonEmpty)
      commitRewrite(spark, root, head + 1,
        Delta(Nil, Nil, schema = prevDelta.schema,
          props = props ++ updates.map { case (c, b) =>
            identityPrefix + c + ".hwm" -> b.toString },
          op = Some("metadata"), dv = prevDelta.dv))
    updates
  }

  /** SET / UNSET table properties as ONE metadata-only commit — the
    * `ALTER TABLE … SET TBLPROPERTIES` primitive. Structural properties
    * (partition layout) are refused: changing the layout property
    * without rewriting files would desynchronize paths and planning. */
  def setProperties(
      spark: SparkSession, root: String,
      set: Map[String, String], unset: Seq[String] = Nil): Long = {
    val structural = (set.keys ++ unset).filter(_ == graft.core.HivePartitions.prop)
    require(structural.isEmpty,
      s"${graft.core.HivePartitions.prop} is structural — the partition " +
        "layout is fixed at init (rewrite via overwrite to re-layout)")
    // bucket layout is structural too: committed files carry (or lack)
    // bucket ids in their NAMES — flipping the property without a
    // rewrite would desynchronize file naming and bucketed planning
    val bucketStructural = (set.keys ++ unset)
      .filter(k => k == bucketByProp || k == bucketCountProp)
    require(bucketStructural.isEmpty,
      s"$bucketByProp/$bucketCountProp are structural — declare them at " +
        "init (or rewrite via overwrite into a bucketed table)")
    // identity declarations are creation-time only (Delta's rule): a
    // later declaration could collide with values already in the data,
    // and hand-editing the hwm forges allocation state
    val identityStructural = (set.keys ++ unset).filter(_.startsWith(identityPrefix))
    require(identityStructural.isEmpty,
      s"$identityPrefix* properties are declared at init and maintained " +
        "by the engine — they cannot be altered")
    // row tracking is structural the same way: enabling it later leaves
    // existing rows id-less, disabling it orphans the hidden column
    require(!(set.keys ++ unset).exists(_ == rowTrackingProp),
      s"$rowTrackingProp is structural — declared at init only")
    // a default re-interprets every pre-declaration row: declare via
    // addColumnDefault, never flip by property
    require(!(set.keys ++ unset).exists(_.startsWith(defaultPrefix)),
      s"$defaultPrefix* properties are declared by addColumnDefault and " +
        "immutable — they cannot be altered")
    val head = latestVersion(spark, root)
    val prevDelta = readDelta(spark, root, head)
    commitRewrite(spark, root, head + 1,
      Delta(Nil, Nil, schema = prevDelta.schema,
        props = prevDelta.props -- unset ++ set,
        op = Some("metadata"), dv = prevDelta.dv))
  }

  /** Per-column statistics computed by `analyzeColumns`: the CBO inputs
    * Spark's own ANALYZE produces — approximate NDV (HLL), exact null
    * count, exact min/max (external string form), byte lengths for
    * strings. */
  final case class ColumnStat(
      ndv: Long, nullCount: Long, min: Option[String], max: Option[String],
      avgLen: Option[Long], maxLen: Option[Long])

  private val colStatPrefix = "graft.colstat."

  /** `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS` — ONE aggregate
    * pass over the head computes each column's approximate NDV (HLL++),
    * exact null count, exact min/max and (for strings) byte lengths;
    * the results land as `graft.colstat.<col>` table properties in one
    * metadata-only commit and ride `CatalogStatistics.colStats` on
    * every catalog read, so CBO join reorder and filter-selectivity
    * estimation between snapshot tables run on real numbers. Min/max
    * are recorded for the orderable external-string-stable types
    * (numerics, string, date, boolean); other types keep NDV + nulls.
    * At 100 TB the pass is one map-side-combined aggregate — no
    * shuffle of data rows, output O(columns). */
  def analyzeColumns(
      spark: SparkSession, root: String, cols: Seq[String]): Map[String, ColumnStat] = {
    val head = readVersion(spark, root)
    val schema = head.schema
    val byName = schema.fields.map(f => f.name -> f).toMap
    val missing = cols.filterNot(byName.contains)
    require(missing.isEmpty,
      s"ANALYZE: unknown column(s) ${missing.mkString(", ")} at $root")
    def orderable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.StringType => true
      case org.apache.spark.sql.types.DateType => true
      case org.apache.spark.sql.types.BooleanType => true
      case _ => false
    }
    val aggs = cols.flatMap { c =>
      val f = byName(c)
      Seq(
        approx_count_distinct(col(c)).as(s"__ndv_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c")) ++
        (if (orderable(f.dataType))
          Seq(min(col(c)).cast("string").as(s"__min_$c"),
            max(col(c)).cast("string").as(s"__max_$c"))
        else Nil) ++
        (if (f.dataType == org.apache.spark.sql.types.StringType)
          Seq(avg(octet_length(col(c))).as(s"__avgl_$c"),
            max(octet_length(col(c))).cast("long").as(s"__maxl_$c"))
        else Nil)
    }
    val row = head.agg(aggs.head, aggs.tail: _*).head()
    def opt[A](name: String): Option[A] = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) None else Some(row.get(i).asInstanceOf[A])
    }
    val stats = cols.map { c =>
      val f = byName(c)
      val fixedLen: Option[Long] = f.dataType match {
        case org.apache.spark.sql.types.StringType =>
          opt[Double](s"__avgl_$c").map(d => math.ceil(d).toLong)
        case dt => Some(dt.defaultSize.toLong)
      }
      c -> ColumnStat(
        ndv = row.getLong(row.fieldIndex(s"__ndv_$c")),
        nullCount = opt[Long](s"__nulls_$c").getOrElse(0L),
        min = if (orderable(f.dataType)) opt[String](s"__min_$c") else None,
        max = if (orderable(f.dataType)) opt[String](s"__max_$c") else None,
        avgLen = fixedLen,
        maxLen = f.dataType match {
          case org.apache.spark.sql.types.StringType => opt[Long](s"__maxl_$c")
          case dt => Some(dt.defaultSize.toLong)
        })
    }.toMap
    def b64(s: String) =
      java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    val props = stats.map { case (c, s) =>
      (colStatPrefix + c) -> (s"ndv=${s.ndv};nulls=${s.nullCount}" +
        s.min.map(m => s";min=${b64(m)}").getOrElse("") +
        s.max.map(m => s";max=${b64(m)}").getOrElse("") +
        s.avgLen.map(l => s";avgLen=$l").getOrElse("") +
        s.maxLen.map(l => s";maxLen=$l").getOrElse(""))
    }
    setProperties(spark, root, props)
    stats
  }

  /** Decode the `graft.colstat.*` properties `analyzeColumns` wrote —
    * column name → stats. */
  def columnStatistics(
      spark: SparkSession, root: String, version: Long = -1L): Map[String, ColumnStat] = {
    def unb64(s: String) =
      new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
    tableProperties(spark, root, version).collect {
      case (k, v) if k.startsWith(colStatPrefix) =>
        val kv = v.split(';').map { p =>
          val i = p.indexOf('=')
          p.take(i) -> p.drop(i + 1)
        }.toMap
        k.stripPrefix(colStatPrefix) -> ColumnStat(
          ndv = kv("ndv").toLong, nullCount = kv("nulls").toLong,
          min = kv.get("min").map(unb64), max = kv.get("max").map(unb64),
          avgLen = kv.get("avgLen").map(_.toLong),
          maxLen = kv.get("maxLen").map(_.toLong))
    }
  }

  /** ADD COLUMN(s) as a METADATA-ONLY commit: the schema widens, zero
    * files are touched — existing files null-fill the new columns
    * through the parquet reader's missing-column path (the same
    * admission an evolving append makes, without needing a batch).
    * Fresh physical names are assigned so a previously-dropped column
    * of the same name can never resurrect. */
  def addColumns(
      spark: SparkSession, root: String,
      cols: Seq[org.apache.spark.sql.types.StructField]): Long =
    addColumnsWithDefaults(spark, root, cols.map(_ -> None))

  /** Drop a CHECK constraint — a metadata-only commit without it. */
  def dropCheckConstraint(spark: SparkSession, root: String, name: String): Long = {
    val head = latestVersion(spark, root)
    val prevDelta = readDelta(spark, root, head)
    commitRewrite(spark, root, head + 1,
      Delta(Nil, Nil, schema = prevDelta.schema,
        props = prevDelta.props - (constraintPrefix + name),
        op = Some("metadata"), dv = prevDelta.dv))
  }

  /** RENAME COLUMN as a METADATA-ONLY commit (column mapping): the
    * logical name changes, the frozen physical name stays, zero files
    * are rewritten. Old versions keep reading under their own recorded
    * names (time travel sees each version's shape); new commits write
    * the renamed column's data under the SAME physical name, so one
    * file set serves the whole history. A rename today costing a full
    * rewrite is exactly the gap Delta's columnMapping closed — at
    * 100 TB the difference between a metadata write and a table-length
    * rewrite. Partition columns are refused (their values live in path
    * fragments under the physical name). */
  def renameColumn(
      spark: SparkSession, root: String, oldName: String, newName: String): Long = {
    val head = latestVersion(spark, root)
    val prevDelta = readDelta(spark, root, head)
    val schema = prevDelta.schema.map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        s"$root has no recorded schema — cannot column-map a legacy log"))
    require(schema.fieldNames.contains(oldName), s"no column $oldName in $root")
    require(!schema.fieldNames.contains(newName),
      s"column $newName already exists in $root")
    require(!graft.core.HivePartitions.columnsOf(prevDelta.props).contains(oldName),
      s"$oldName is a partition column — its name rides the file paths; " +
        "rewrite via replaceWhere/overwrite instead")
    require(!(rowTrackingOn(prevDelta.props) && oldName == rowIdCol),
      s"$rowIdCol is engine-managed under $rowTrackingProp — it cannot be renamed")
    val renamed = StructType(schema.fields.map { f =>
      if (f.name != oldName) f
      else f.copy(name = newName,
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString(physicalNameKey, physicalName(f)).build())
    })
    commitRewrite(spark, root, head + 1,
      Delta(Nil, Nil, schema = Some(renamed.json), props = prevDelta.props,
        op = Some("metadata"), dv = prevDelta.dv))
  }

  /** DROP COLUMN as a METADATA-ONLY commit: the field leaves the
    * schema, its physical name is RETIRED (recorded in table
    * properties), and no file is touched — readers simply stop asking
    * the parquet scan for that column. A later column with the same
    * logical name gets a FRESH physical name (`assignPhysical`), so the
    * dead column's bytes can never resurrect under the newcomer.
    * History intact: pre-drop versions still read the column. */
  def dropColumn(spark: SparkSession, root: String, name: String): Long = {
    val head = latestVersion(spark, root)
    val prevDelta = readDelta(spark, root, head)
    val schema = prevDelta.schema.map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        s"$root has no recorded schema — cannot column-map a legacy log"))
    val field = schema.fields.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column $name in $root"))
    require(schema.fields.length > 1, s"cannot drop the last column of $root")
    require(!graft.core.HivePartitions.columnsOf(prevDelta.props).contains(name),
      s"$name is a partition column — repartition via overwrite instead")
    require(!(rowTrackingOn(prevDelta.props) && name == rowIdCol),
      s"$rowIdCol is engine-managed under $rowTrackingProp — it cannot be dropped")
    val retired = (prevDelta.props.get(retiredProp).toSeq
      .flatMap(_.split(',').toSeq) :+ physicalName(field)).distinct
    commitRewrite(spark, root, head + 1,
      Delta(Nil, Nil,
        schema = Some(StructType(schema.fields.filterNot(_.name == name)).json),
        props = prevDelta.props + (retiredProp -> retired.mkString(",")),
        op = Some("metadata"), dv = prevDelta.dv))
  }

  /** SHALLOW CLONE (Delta's zero-copy clone): create a NEW snapshot log
    * at `targetRoot` whose v0 references the SOURCE head's data files
    * by absolute path — no data copied, O(files) metadata. The clone
    * then lives its own life: appends/merges/deletes write new files
    * under ITS root, and a COW rewrite merely de-references the shared
    * source files (never deletes them — `vacuum` refuses to touch any
    * file outside the table root, the guard that makes sharing safe
    * from the clone's side). Schema, table properties and write-time
    * stats carry over, so the clone's front door plans with the same
    * pruning from commit zero. The dev/test-fork primitive a 100 TB
    * table needs — a full copy is a day of IO; this is one delta write.
    *
    * Caveats (Delta's own): vacuuming the SOURCE below what the clone
    * references breaks the clone (the source does not know its
    * borrowers); a source carrying live deletion vectors must
    * materialize first (the vectors live under the source's `_dv/`,
    * unreachable from the clone's root). */
  def cloneShallow(spark: SparkSession, srcRoot: String, targetRoot: String,
      version: Option[Long] = None): Long = {
    require(versions(spark, targetRoot).isEmpty,
      s"snapshot log already exists at $targetRoot")
    val head = version.getOrElse(latestVersion(spark, srcRoot))
    val (_, srcQroot) = fsOf(spark, srcRoot)
    val srcDelta = readDelta(spark, srcRoot, head)
    require(srcDelta.dv.isEmpty,
      s"$srcRoot carries live deletion vectors at version $head — " +
        "materializeDeletionVectors before cloning (the sidecars live " +
        "under the source root)")
    val (files, stats) = reconstruct(spark, srcRoot, head)
    val absAdds = files.map(f => new Path(srcQroot, f).toString)
    val absStats = files.zip(absAdds).flatMap { case (rel, abs) =>
      stats.get(rel).map(s => abs -> s.copy(path = abs))
    }.toMap
    writeDelta(spark, targetRoot, 0L,
      Delta(absAdds, Nil, schema = srcDelta.schema, props = srcDelta.props,
        stats = absStats, op = Some("clone")))
    maybeCheckpoint(spark, targetRoot, 0L)
    0L
  }

  /** True iff `rel` resolves INSIDE the table root — false for the
    * absolute out-of-root paths a shallow clone references. Deleting
    * paths is gated on this everywhere: a clone's vacuum must never
    * reach into the source table it borrows from. */
  private def ownedByTable(qroot: Path, rel: String): Boolean =
    new Path(qroot, rel).toString.startsWith(qroot.toString + "/")

  /** RESTORE as a commit: make the head's logical content equal version
    * `toVersion` again — a NEW version whose delta re-adds the files the
    * old version had and removes the ones it didn't (pure metadata,
    * O(difference), no data rewritten; the restored-to files still exist
    * because only `vacuum` deletes data). History stays intact — the
    * mis-merged versions remain readable, which is what makes restore an
    * audit-friendly undo rather than a rollback that rewrites history.
    * Stats for re-added files are recovered from the old version's log
    * entries. Fails loudly if `toVersion`'s files were vacuumed away. */
  def restore(spark: SparkSession, root: String, toVersion: Long): Long = {
    val (fs, qroot) = fsOf(spark, root)
    val head = latestVersion(spark, root)
    require(toVersion < head, s"restore target $toVersion is not before head $head")
    // the delta is O(difference): compute it as TWO anti-joins between
    // the old and head checkpoint frames, collecting only the re-adds
    // (with their recorded stats) and the removes — the full live sets
    // never reach the driver on parquet-checkpoint tables. The driver
    // reconstruct remains the text-regime fallback.
    // checkpoint rows carry BAKED partition point-envelopes the
    // original adding delta's stats never had — strip them so the
    // restore delta records exactly the organic stats (partition
    // columns live in paths, never in data-file footers). Applied by
    // BOTH selection modes: the driver fallback's reconstruct may be
    // seeded from a parquet checkpoint (fileStatsOf) and carry the
    // same baked envelopes — the two modes must commit identical
    // delta stats or a prune could differ by which mode ran.
    val pcs = graft.core.HivePartitions.columnsOf(
      readDelta(spark, root, toVersion).props).toSet
    def organic(s: graft.core.Skipping.FileStats) =
      if (pcs.isEmpty) s
      else s.copy(mins = s.mins -- pcs, maxs = s.maxs -- pcs,
        dmins = s.dmins -- pcs, dmaxs = s.dmaxs -- pcs,
        smins = s.smins -- pcs, smaxs = s.smaxs -- pcs,
        nullCounts = s.nullCounts -- pcs)
    val distributed: Option[
        (Seq[(String, Option[graft.core.Skipping.FileStats])], Seq[String])] =
      (for {
        _ <- if (spark.conf.getOption("spark.graft.prune.distributed")
          .contains("never")) None else Some(())
        oldF <- checkpointFileFrame(spark, root, toVersion)
        curF <- checkpointFileFrame(spark, root, head)
      } yield
        try {
          val readdRows = oldF.toDF()
            .join(curF.toDF().select(col("path")), Seq("path"), "left_anti")
            .as[CkptRow].collect()
          val rms = curF.toDF().select(col("path"))
            .join(oldF.toDF().select(col("path")), Seq("path"), "left_anti")
            .as[String](org.apache.spark.sql.Encoders.STRING)
            .collect().toSeq.sorted
          Some((readdRows.toSeq.sortBy(_.path)
            .map(r => r.path -> fileStatsOf(r).map(organic)), rms))
        } catch {
          case scala.util.control.NonFatal(e) =>
            noteFallback(s"distributed restore selection fell back on " +
              s"$root: ${e.getMessage}")
            None
        }).flatten
    val (readds, removes, readdStats) = distributed match {
      case Some((rs, rm)) =>
        (rs.map(_._1), rm, rs.collect { case (p, Some(s)) => p -> s }.toMap)
      case None =>
        val (oldFiles, oldStats) = reconstruct(spark, root, toVersion)
        val current = versionFileList(spark, root, head).toSet
        val ra = oldFiles.filterNot(current.contains)
        (ra, (current -- oldFiles).toSeq.sorted,
          ra.flatMap(f => oldStats.get(f).map(s => f -> organic(s))).toMap)
    }
    readds.foreach { f =>
      require(fs.exists(new Path(qroot, f)),
        s"cannot restore $root to $toVersion: $f was vacuumed away")
    }
    val oldDelta = readDelta(spark, root, toVersion)
    // the restored-to content includes the old version's DELETION
    // VECTORS — they must still exist (vacuum may have reclaimed them)
    oldDelta.dv.foreach { d =>
      require(fs.exists(new Path(qroot, s"_dv/$d")),
        s"cannot restore $root to $toVersion: deletion vector $d was vacuumed away")
    }
    commitRewrite(spark, root, head + 1,
      Delta(readds, removes,
        schema = oldDelta.schema.orElse(readDelta(spark, root, head).schema),
        props = readDelta(spark, root, head).props,
        stats = readdStats,
        op = Some("restore"), dv = oldDelta.dv))
  }

  /** `COUNT(*)` of a version answered from the LOG alone when every live
    * file recorded `#stats:` rows (None on a legacy log — the caller
    * falls back to counting the data). At 100 TB this is the difference
    * between a metadata read and a table scan. */
  def rowCount(spark: SparkSession, root: String, version: Long = -1L): Option[Long] = {
    val v = if (version < 0) latestVersion(spark, root) else version
    // live deletion vectors subtract rows the file envelopes still count
    if (readDelta(spark, root, v).dv.nonEmpty) return None
    // parquet-checkpoint tables answer from ONE distributed aggregate
    // over the checkpoint rows — never an O(files) driver sum (the
    // metadata-only COUNT(*) path at 10⁶ files); a stats-less file
    // (rows NULL) nulls the SUM, which is exactly the None contract
    val distributed =
      try checkpointFileFrame(spark, root, v).map { rows =>
        val r = rows.toDF().agg(
          count(lit(1)).as("files"),
          count(col("rows")).as("withStats"),
          sum(col("rows")).as("total")).head()
        if (r.getLong(0) == 0L) Some(0L) // empty table counts as zero
        else if (r.getLong(0) == r.getLong(1) && !r.isNullAt(2)) Some(r.getLong(2))
        else None
      }
      catch { case scala.util.control.NonFatal(_) => None }
    distributed.getOrElse {
      val (files, stats) = reconstruct(spark, root, v)
      if (files.forall(stats.contains)) Some(files.map(stats(_).rows).sum) else None
    }
  }

  /** Bin-packing small-file compaction as a commit: rewrite ONLY the
    * live files smaller than `smallerThanBytes` into ~`targetFileBytes`
    * outputs; every right-sized file carries over by reference. This is
    * the maintenance OPTIMIZE a streaming-ingested table needs — each
    * micro-batch commit lands a few small files, and compacting them
    * must not rewrite the accumulated terabytes next to them (contrast
    * `optimizeCow`, which re-clusters the WHOLE version). The removed
    * set is exactly the small files, so a concurrent append interleaves
    * via the file-disjoint rebase; returns the new version, or -1 when
    * fewer than two files qualify (nothing to pack).
    *
    * `where` (partitioned tables): scope the maintenance to the
    * partitions matching a partition-column predicate — `OPTIMIZE …
    * WHERE month = '01'`. Victim selection then never even STATS a file
    * outside the predicate (the file list is filtered by path-encoded
    * partition values before the size probe), which is what keeps
    * maintenance on a 100 TB table from planning every live file. */
  def optimizeCompact(
      spark: SparkSession, root: String,
      smallerThanBytes: Long, targetFileBytes: Long = 128L * 1024 * 1024,
      where: Option[String] = None): Long = {
    val prev = latestVersion(spark, root)
    val (fs, qroot) = fsOf(spark, root)
    val prevDelta = readDelta(spark, root, prev)
    // victim selection DISTRIBUTED (r17): filter the checkpoint frame's
    // RECORDED sizes on the executors and collect only the victims —
    // the r16 shape statted every live file through the filesystem from
    // the driver (O(files) serialized RPCs; a stall at 10⁷ on an object
    // store). Rows without a recorded size (legacy logs) are statted
    // individually — O(legacy rows), zero on current logs.
    val smallDistributed: Option[Seq[(String, Long)]] =
      (if (spark.conf.getOption("spark.graft.prune.distributed")
        .contains("never")) None
      else checkpointFileFrame(spark, root, prev)).flatMap { rows =>
        try {
          val base = rows.toDF()
          val scoped = where match {
            case None => base
            case Some(p) =>
              val files = filesMatchingPartitionPredicate(spark, root, prev, p)
              base.join(broadcast(spark.createDataset(files)(
                org.apache.spark.sql.Encoders.STRING).toDF("path")),
                Seq("path"), "left_semi")
          }
          val collected = scoped
            .filter(col("fsize").isNull || col("fsize") < smallerThanBytes)
            .select(col("path"), col("fsize"))
            .as[(String, Option[Long])](
              org.apache.spark.sql.Encoders.product[(String, Option[Long])])
            .collect()
          val known = collected.collect { case (p, Some(len)) => (p, len) }
          val statted = collected.collect { case (p, None) => p }
            .map(p => p -> fs.getFileStatus(new Path(qroot, p)).getLen)
            .filter(_._2 < smallerThanBytes)
          Some((known ++ statted).toSeq.sortBy(_._1))
        } catch {
          case scala.util.control.NonFatal(e) =>
            noteFallback(s"distributed OPTIMIZE victim selection fell " +
              s"back on $root: ${e.getMessage}")
            None
        }
      }
    val small = smallDistributed.getOrElse {
      val inScope: Set[String] = where match {
        case None => versionFileList(spark, root, prev).toSet
        case Some(p) => filesMatchingPartitionPredicate(spark, root, prev, p).toSet
      }
      versionFileList(spark, root, prev)
        .filter(inScope.contains)
        .map(f => f -> fs.getFileStatus(new Path(qroot, f)).getLen)
        .filter(_._2 < smallerThanBytes)
    }
    if (small.size < 2) return -1L
    val v = prev + 1
    val nOut = math.max(1, math.ceil(small.map(_._2).sum.toDouble / targetFileBytes).toInt)
    val smallRead = readFilesAs(spark, qroot,
      small.map(f => new Path(qroot, f._1).toString),
      versionSchema(spark, root, prev), prevDelta.props, prevDelta.dv)
    // a partitioned table re-splits by partition value at write time
    // (partitionBy) — cluster the pack by partition so each partition's
    // small files bin into one output, not nOut shards of every file
    val partCols = graft.core.HivePartitions.columnsOf(prevDelta.props)
    val packed =
      if (partCols.isEmpty) smallRead.coalesce(nOut)
      else smallRead.repartition(nOut, partCols.map(col): _*)
    val (newFiles, stats) = writeCommitFiles(spark, root, v, packed, prevDelta.props,
      prevDelta.schema.map(DataType.fromJson(_).asInstanceOf[StructType]))
    commitRewrite(spark, root, v,
      Delta(newFiles, small.map(_._1), schema = prevDelta.schema,
        props = prevDelta.props, stats = stats, op = Some("optimize"),
        dv = prevDelta.dv))
  }

  /** OPTIMIZE as a commit: rewrite the CURRENT version into `numFiles`
    * files clustered by `clusterBy` (range-partitioned + sorted, so
    * min/max file skipping works afterwards — pair with core/Skipping).
    * Prior versions keep reading their own files. */
  def optimizeCow(
      spark: SparkSession, root: String, clusterBy: Seq[String], numFiles: Int,
      where: Option[String] = None): Long =
    commitOptimized(spark, root, where)(
      _.repartitionByRange(numFiles, clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*))

  /** OPTIMIZE for a CLUSTERED table (`graft.clusterBy` set): Delta's
    * clustered-table behavior — plain OPTIMIZE re-clusters by the
    * DECLARED columns, and is an incremental NO-OP (-1) when the
    * current layout is already tight. Admission is pure metadata (the
    * log's stats envelopes + one file-status listing, zero data reads):
    * rewrite only when (a) file envelopes on the LEADING cluster key
    * overlap — appends and merges interleave key ranges, so min/max
    * skipping degrades — or (b) the file count exceeds 4× the target
    * packing (fragmentation at the version grain, scale-relative so a
    * healthy 1000-file 100 TB layout never churns). Missing or
    * mixed-family envelopes rewrite conservatively. Repeated OPTIMIZE
    * on an already-tight table costs one metadata pass, commits
    * nothing — safe to schedule blindly. */
  def optimizeClustered(
      spark: SparkSession, root: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      where: Option[String] = None): Long = {
    val prev = latestVersion(spark, root)
    val props = tableProperties(spark, root, prev)
    val cols = props.get(clusterByProp)
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    require(cols.nonEmpty, s"$root carries no $clusterByProp property")
    val (fs, qroot) = fsOf(spark, root)
    // admission metadata from the AGGR HEADER (O(tail change)) instead
    // of statting every live file from the driver; the per-file loop
    // survives only for text-regime/legacy tables
    val (nFiles, totalBytes) = liveAggregate(spark, root, prev).getOrElse {
      val files = versionFileList(spark, root, prev)
      (files.size.toLong,
        files.map(f => fs.getFileStatus(new Path(qroot, f)).getLen).sum)
    }
    val nTarget = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    def rewrite(): Long = optimizeCow(spark, root, cols, nTarget, where)
    if (where.isDefined) return rewrite() // caller scoped the recluster
    if (nFiles > 4L * nTarget) return rewrite() // fragmentation
    if (nFiles <= 1) return -1L
    val lead = versionSchema(spark, root, prev).map(physicalMap)
      .getOrElse(Map.empty[String, String]).getOrElse(cols.head, cols.head)
    // overlap admission DISTRIBUTED when the checkpoint frame serves:
    // one completeness agg + one window pass on the executors, never a
    // driver-materialized stats index
    distributedEnvelopeOverlap(spark, root, prev, lead).foreach { ov =>
      return if (ov) rewrite() else -1L
    }
    val idx = statsIndex(spark, root, prev)
    def overlap[T](ivs: Seq[Option[(T, T)]], lt: (T, T) => Boolean): Option[Boolean] =
      if (!ivs.forall(_.isDefined)) None
      else Some(ivs.flatten.sortWith((a, b) => lt(a._1, b._1))
        .sliding(2).exists {
          case Seq(a, b) => lt(b._1, a._2) // next.min strictly below prev.max
          case _ => false
        })
    val byteLt = (a: Seq[Byte], b: Seq[Byte]) => graft.core.Skipping.compareBytes(a, b) < 0
    val overlapping = overlap(idx.map(f =>
        for { lo <- f.mins.get(lead); hi <- f.maxs.get(lead) } yield (lo, hi)),
        (a: Long, b: Long) => a < b)
      .orElse(overlap(idx.map(f =>
        for { lo <- f.dmins.get(lead); hi <- f.dmaxs.get(lead) } yield (lo, hi)),
        (a: Double, b: Double) => a < b))
      .orElse(overlap(idx.map(f =>
        for { lo <- f.smins.get(lead); hi <- f.smaxs.get(lead) } yield (lo, hi)),
        byteLt))
      .getOrElse(true) // no complete envelope family: rewrite conservatively
    if (overlapping) rewrite() else -1L
  }

  /** OPTIMIZE ZORDER BY as a commit: rewrite the current version laid out
    * by explicit Morton cell over TWO integral columns, so min/max file
    * skipping prunes range predicates on EITHER dimension afterwards
    * (each file covers a union of small axis-aligned rectangles of the
    * (a, b) domain — contrast `optimizeCow`, which prunes only its leading
    * cluster key). `cellDiv` sets the cell grain: with b-bit column
    * domains, `2^(2b-4)` yields a 4×4 grid of 16 cells. Explicit cells —
    * never sampled range boundaries — keep file envelopes deterministic. */
  def optimizeZorderCow(
      spark: SparkSession, root: String, colA: String, colB: String,
      cellDiv: Long = 4096L, numFiles: Int = 16,
      where: Option[String] = None): Long =
    commitOptimized(spark, root, where)(
      _.withColumn("__zcell",
        graft.functions.ZOrder.interleave16(col(colA), col(colB))
          .divide(lit(cellDiv)).cast("long"))
        .repartition(numFiles, col("__zcell"))
        .sortWithinPartitions(col("__zcell"), col(colA), col(colB))
        .drop("__zcell"))

  /** Rewrite the head laid out by `layout` as one OPTIMIZE commit: the
    * whole version, or — with `where`, on a partitioned table — exactly
    * the partitions matching the predicate. Files outside the scope are
    * not read, not planned, and carry over as untouched manifest
    * entries, with their deletion vectors. A whole-version rewrite reads
    * through the vectors, so its commit drops them (`rebucket`'s rule). */
  private def commitOptimized(
      spark: SparkSession, root: String, where: Option[String])(
      layout: DataFrame => DataFrame): Long = {
    val prev = latestVersion(spark, root)
    val v = prev + 1
    val (_, qroot) = fsOf(spark, root)
    val prevDelta = readDelta(spark, root, prev)
    val schema = prevDelta.schema.map(DataType.fromJson(_).asInstanceOf[StructType])
    val (cur, removes) = where match {
      case None =>
        (readVersion(spark, root, prev), versionFileList(spark, root, prev))
      case Some(p) =>
        val files = filesMatchingPartitionPredicate(spark, root, prev, p)
        (readFilesAs(spark, qroot, files.map(f => new Path(qroot, f).toString),
          schema, prevDelta.props, prevDelta.dv), files)
    }
    val (newFiles, stats) =
      writeCommitFiles(spark, root, v, layout(cur), prevDelta.props, schema)
    val whole = where.isEmpty
    commitRewrite(spark, root, v,
      Delta(newFiles, removes, schema = prevDelta.schema, props = prevDelta.props,
        stats = stats, op = Some("optimize"), dv = if (whole) Nil else prevDelta.dv),
      dvDropped = if (whole) prevDelta.dv else Nil)
  }

  /** Highest streaming batch id at-or-below version `upTo`, scanning
    * deltas newest-first and STOPPING at the nearest checkpoint, whose
    * `#maxtxn:` header summarizes everything below it — O(checkpointEvery)
    * log reads. A pre-header checkpoint (legacy) falls through to the
    * full newest-first delta scan below it. */
  private def lastTxnUpTo(spark: SparkSession, root: String, upTo: Long): Long = {
    val (_, qroot) = fsOf(spark, root)
    val vs = versions(spark, root).filter(_ <= upTo)
    if (vs.isEmpty) return -1L
    val ckpt = checkpointVersions(spark, root).filter(_ <= upTo).lastOption
    val floor = ckpt.getOrElse(-1L)
    val fromDeltas = vs.reverseIterator.takeWhile(_ > floor)
      .map(v => readDelta(spark, root, v).txn)
      .collectFirst { case Some(b) => b }
    fromDeltas.orElse {
      ckpt.flatMap(cv =>
        checkpointHeaders(spark, root, cv, "maxtxn").headOption.map(_.toLong))
    }.getOrElse {
      // legacy checkpoint without headers: scan the remaining deltas
      vs.reverseIterator.filter(_ <= floor)
        .map(v => readDelta(spark, root, v).txn)
        .collectFirst { case Some(b) => b }
        .getOrElse(-1L)
    }
  }

  /** Highest streaming batch id recorded in any committed delta (see
    * `commitStreamingBatch`), or -1. Bounded by the checkpoint headers:
    * at most `checkpointEvery` delta reads plus one checkpoint read,
    * even when the last streaming commit is ancient. */
  def lastCommittedBatch(spark: SparkSession, root: String): Long = {
    val vs = versions(spark, root)
    if (vs.isEmpty) -1L else lastTxnUpTo(spark, root, vs.last)
  }

  /** Idempotent streaming append: commit `batch` as a new version unless
    * this `batchId` already committed (a foreachBatch re-run after a crash
    * between sink commit and checkpoint advance re-delivers the same
    * batch). The batch id travels INSIDE the version's delta, so the data
    * commit and the batch bookkeeping are one atomic rename — a crash
    * anywhere leaves either no trace (replay re-runs cleanly) or a
    * committed delta whose `#txn:` header makes the replay a recognized
    * no-op. No marker file, no window where the two disagree. */
  def commitStreamingBatch(
      spark: SparkSession, root: String, batch: DataFrame, batchId: Long): Boolean = {
    if (batchId <= lastCommittedBatch(spark, root)) return false
    if (versions(spark, root).isEmpty) initTxn(spark, root, batch, Some(batchId))
    else {
      // auto-compaction applies HERE above all: steady small-batch
      // streaming ingest is the workload that accretes O(batches) small
      // files (same admission as Delta's autoCompact on streaming writes)
      val v = appendTxn(spark, root, batch, Some(batchId))
      maybeAutoCompact(spark, root, v)
    }
    true
  }

  /** Drop versions < `keepFrom` and physically delete every file no
    * retained version references. A checkpoint is materialized at the new
    * history floor first, so no retained version ever needs a dropped
    * delta to reconstruct. After this, time travel reaches back only to
    * `keepFrom`. Returns the number of data files deleted. */
  def vacuum(spark: SparkSession, root: String, keepFrom: Long): Int = {
    val (fs, qroot) = fsOf(spark, root)
    val all = versions(spark, root)
    val (drop, keep) = all.partition(_ < keepFrom)
    require(keep.nonEmpty, s"vacuum would drop every version of $root")
    val floor = keep.min
    writeCheckpoint(spark, root, floor, versionFileList(spark, root, floor))
    // never touch out-of-root files: a shallow clone BORROWS the source
    // table's files — de-referencing them here is fine, deleting them
    // would corrupt the lender
    val orphans = vacuumOrphanCandidates(spark, root, qroot, drop, keep)
    // dropped versions' change feeds go with their deltas (feed location
    // rides the delta header, so read it before the delta is deleted);
    // deletion vectors are reclaimed only when NO retained version's
    // live `#dv:` list still names them
    val droppedFeeds = drop.flatMap(v => readDelta(spark, root, v).cdf)
    val keptDvs = keep.flatMap(v => readDelta(spark, root, v).dv).toSet
    val droppedDvs = drop.flatMap(v => readDelta(spark, root, v).dv).distinct
      .filterNot(keptDvs.contains)
    // a wide vacuum (dropping a rewrite-heavy history) can orphan 10⁶+
    // files — serialized driver deletes are an object-store stall, so
    // big sets delete on the executors (deletes are idempotent; a
    // failed task retry is safe)
    if (orphans.size > 10000) {
      val qrootStr = qroot.toString
      val hconf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      spark.createDataset(orphans)(org.apache.spark.sql.Encoders.STRING)
        .repartition(spark.sparkContext.defaultParallelism)
        .foreachPartition { it: Iterator[String] =>
          val q = new Path(qrootStr)
          val pfs = q.getFileSystem(hconf.value)
          it.foreach(f => pfs.delete(new Path(q, f), false))
        }
    } else orphans.foreach(f => fs.delete(new Path(qroot, f), false))
    drop.foreach(v => fs.delete(deltaPath(qroot, v), false))
    droppedFeeds.foreach(n => fs.delete(new Path(qroot, s"_changes/$n"), true))
    droppedDvs.foreach(n => fs.delete(new Path(qroot, s"_dv/$n"), true))
    checkpointVersions(spark, root).filter(_ < floor).foreach { v =>
      fs.delete(checkpointPath(qroot, v), false)
      fs.delete(parquetCheckpointPath(qroot, v), true)
    }
    // sidecar GC: a sidecar is dead once no SURVIVING manifest references
    // it. The gen < floor guard protects a CONCURRENT checkpointer's
    // just-written, not-yet-referenced sidecar (its gen is its checkpoint
    // version, necessarily ≥ the floor we just kept) — a dead high-gen
    // sidecar from a lost publish race lingers until a later vacuum's
    // floor passes it.
    val scDir = sidecarsDir(qroot)
    if (fs.exists(scDir)) {
      val live = checkpointVersions(spark, root)
        .flatMap(cv => sidecarRefsOf(spark, qroot, cv)).map(_.name).toSet
      fs.listStatus(scDir).foreach { s =>
        val name = s.getPath.getName
        val gen = try sidecarGenOf(name) catch { case _: Exception => Long.MaxValue }
        if (!live.contains(name) && gen < floor) fs.delete(s.getPath, true)
      }
    }
    orphans.size
  }

  /** DRY RUN: the data files `vacuum(root, keepFrom)` WOULD delete —
    * absolute paths, sorted, ZERO side effects (no floor checkpoint, no
    * deletion). Same candidate computation as `vacuum`: dropped
    * versions' files minus anything a retained version still
    * references, minus out-of-root paths a shallow clone borrows. */
  def vacuumPlan(spark: SparkSession, root: String, keepFrom: Long): Seq[String] = {
    val (_, qroot) = fsOf(spark, root)
    val all = versions(spark, root)
    val (drop, keep) = all.partition(_ < keepFrom)
    require(keep.nonEmpty, s"vacuum would drop every version of $root")
    vacuumOrphanCandidates(spark, root, qroot, drop, keep)
      .map(f => new Path(qroot, f).toString).sorted
  }

  /** The data files vacuum would delete: files some DROPPED version
    * references that no KEPT version does, minus out-of-root clone
    * borrows. DISTRIBUTED when the checkpoints allow it — both sides
    * become `liveUnionFrame`s (live-at-range-start ∪ tail adds, the
    * O(files) sets never leave the executors) and ONE anti-join
    * collects only the orphans, which are O(dropped change) by
    * construction. The r16 shape collected EVERY kept version's full
    * live list to the driver — K × O(files) heap and time. Falls back
    * to the exact per-version driver sets on text-regime tables. */
  private def vacuumOrphanCandidates(
      spark: SparkSession, root: String, qroot: Path,
      drop: Seq[Long], keep: Seq[Long]): Seq[String] = {
    if (drop.isEmpty) return Nil
    val distributedOff =
      spark.conf.getOption("spark.graft.prune.distributed").contains("never")
    val distributed: Option[Seq[String]] =
      (for {
        _ <- if (distributedOff) None else Some(())
        dropped <- liveUnionFrame(spark, root, drop.head, drop.last)
        kept <- liveUnionFrame(spark, root, keep.min, keep.max)
      } yield
        try Some(dropped.distinct()
          .join(kept, Seq("path"), "left_anti")
          .select(col("path"))
          .as[String](org.apache.spark.sql.Encoders.STRING)
          .collect().toSeq)
        catch {
          // a raced-away checkpoint mid-read: the driver path is exact
          case scala.util.control.NonFatal(e) =>
            noteFallback(s"distributed vacuum selection fell back on " +
              s"$root: ${e.getMessage}")
            None
        }).flatten
    distributed.getOrElse {
      val referenced = keep.flatMap(v => versionFileList(spark, root, v)).toSet
      drop.flatMap(v => versionFileList(spark, root, v)).distinct
        .filterNot(referenced.contains)
    }.filter(f => ownedByTable(qroot, f))
  }

  /** Retention-window vacuum: drop history while REFUSING to drop any
    * version still inside the reader protection window — the newest
    * `retainLast` versions AND every version whose commit landed within
    * the last `olderThanMs` (a `versionAsOf` reader that pinned a version
    * while it was head within the window can still plan every file it
    * needs). The effective floor is the MORE conservative of the two
    * gates. Returns data files deleted (0 when nothing is old enough). */
  def vacuumRetain(
      spark: SparkSession, root: String, retainLast: Long, olderThanMs: Long): Int = {
    require(retainLast >= 1, "must retain at least the current version")
    val (fs, qroot) = fsOf(spark, root)
    val all = versions(spark, root)
    require(all.nonEmpty, s"no snapshot log at $root")
    val cutoff = System.currentTimeMillis() - olderThanMs
    // commit mtimes rise with version, so the in-window set is a suffix
    val firstInWindow = all.find(v =>
      fs.getFileStatus(deltaPath(qroot, v)).getModificationTime >= cutoff)
    val byCount = all.last - retainLast + 1
    val keepFrom = math.min(byCount, firstInWindow.getOrElse(all.last))
    if (keepFrom <= all.head) 0 else vacuum(spark, root, keepFrom)
  }

  /** Reclaim UNCOMMITTED debris: tmp manifests from crashed delta writes,
    * data files no version references (a writer that died between
    * `writeCommitFiles` and its delta rename, or an OCC loser that never
    * retried), and ORPHAN change-feed directories no committed delta's
    * `#cdf:` header reaches (staged by a commit that lost its race or
    * crashed before publishing). Only debris older than `olderThanMs` is
    * touched — an IN-FLIGHT writer's staged files look identical to a
    * dead one's, so the age gate is the safety margin (same contract as a
    * table format's tombstone retention; pick it ≫ the longest running
    * commit). Committed history is never touched — this is the
    * complement of `vacuum`, which reclaims files of DROPPED versions. */
  def vacuumDebris(spark: SparkSession, root: String, olderThanMs: Long): Int = {
    val (fs, qroot) = fsOf(spark, root)
    val cutoff = System.currentTimeMillis() - olderThanMs
    var removed = 0
    val log = new Path(qroot, "_log")
    if (fs.exists(log)) fs.listStatus(log).foreach { s =>
      val tmpName = s.getPath.getName.startsWith(".") &&
        s.getPath.getName.endsWith(".tmp")
      if (s.isFile && tmpName && s.getModificationTime < cutoff) {
        fs.delete(s.getPath, false); removed += 1
      } else if (s.isDirectory && tmpName) {
        // a crashed parquet-checkpoint write leaves its tmp DIRECTORY
        // (the text codec's crash leaves a file) — reclaim once every
        // file inside is old enough
        val files = fs.listStatus(s.getPath).toSeq
        if (files.isEmpty || files.forall(_.getModificationTime < cutoff)) {
          removed += math.max(1, files.count(_.isFile))
          fs.delete(s.getPath, true)
        }
      }
    }
    val committed = versions(spark, root)
    // the sweep needs only DIRECTORY-grain reachability: collect the
    // distinct referenced commit-dir names (O(commit dirs), tiny) from
    // the distributed live-union frame instead of materializing every
    // version's full file list on the driver; the per-file set survives
    // as the text-regime fallback
    val referencedDirs: Option[Set[String]] =
      if (committed.isEmpty) Some(Set.empty)
      else liveUnionFrame(spark, root, committed.head, committed.last)
        .flatMap { frame =>
          try Some(frame
            .filter(col("path").startsWith("data/"))
            .select(expr("split(path, '/')[1]").as("d")).distinct()
            .as[String](org.apache.spark.sql.Encoders.STRING)
            .collect().toSet)
          catch {
            case scala.util.control.NonFatal(e) =>
              noteFallback(s"distributed debris selection fell back on " +
                s"$root: ${e.getMessage}")
              None
          }
        }
    lazy val referenced =
      committed.flatMap(v => versionFileList(spark, root, v)).toSet
    // whole-commit-dir granularity: a committed dir has referenced data
    // files and is never touched; an uncommitted dir (no file referenced
    // by ANY version) goes entirely once every file in it is old enough
    val data = new Path(qroot, "data")
    if (fs.exists(data)) fs.listStatus(data).filter(_.isDirectory).foreach { dir =>
      val files = fs.listStatus(dir.getPath).toSeq
      val anyReferenced = referencedDirs match {
        case Some(dirs) => dirs.contains(dir.getPath.getName)
        case None => files.exists(f =>
          referenced.contains(s"data/${dir.getPath.getName}/${f.getPath.getName}"))
      }
      if (!anyReferenced && files.nonEmpty && files.forall(_.getModificationTime < cutoff)) {
        removed += files.count(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        fs.delete(dir.getPath, true)
      }
    }
    // orphan change feeds: reachable feeds are exactly the committed
    // deltas' #cdf refs; anything else under _changes is a loser's or a
    // crashed writer's staging — inert (changesBetween can't see it) but
    // debris nonetheless
    val changes = new Path(qroot, "_changes")
    if (fs.exists(changes)) {
      val reachable = committed.flatMap(v => readDelta(spark, root, v).cdf).toSet
      fs.listStatus(changes).filter(_.isDirectory).foreach { dir =>
        if (!reachable.contains(dir.getPath.getName)) {
          val files = fs.listStatus(dir.getPath).toSeq
          if (files.isEmpty || files.forall(_.getModificationTime < cutoff)) {
            removed += math.max(1, files.count(_.isFile))
            fs.delete(dir.getPath, true)
          }
        }
      }
    }
    // orphan deletion vectors: same contract — reachable = any committed
    // delta's #dv/#dvadd refs (historical versions keep theirs for time
    // travel); the rest is a crashed/raced deleteWhereMor's staging
    val dvs = new Path(qroot, "_dv")
    if (fs.exists(dvs)) {
      val reachable = committed.flatMap { v =>
        val d = readDelta(spark, root, v); d.dv ++ d.dvAdd.toSeq
      }.toSet
      fs.listStatus(dvs).filter(_.isDirectory).foreach { dir =>
        if (!reachable.contains(dir.getPath.getName)) {
          val files = fs.listStatus(dir.getPath).toSeq
          if (files.isEmpty || files.forall(_.getModificationTime < cutoff)) {
            removed += math.max(1, files.count(_.isFile))
            fs.delete(dir.getPath, true)
          }
        }
      }
    }
    removed
  }

  /** Per-(table, version) cache of the footer-stats skipping index:
    * committed versions are IMMUTABLE, so an index built once is valid
    * forever — the repeated-footer-sweep cost the r7 ADVICE flagged
    * (pruneOn rebuilding the index on every load) pays once per version
    * instead. LRU-bounded at 64 tables×versions (each entry is O(files)
    * small structs; vacuumed versions age out — their reads fail
    * anyway). */
  private val indexCache =
    new LruCache[(String, Long), Seq[graft.core.Skipping.FileStats]](64)

  /** The file-stats index of (root, version) — the planning-time input
    * for file-level pruning in both `SnapshotReader.pruneOn` and the
    * `spark.read` front door (sources/SnapshotSource).
    *
    * Source of truth is the LOG: every commit since stats rode the deltas
    * recorded its new files' envelopes at write time, so planning reads
    * ZERO parquet footers — the index assembles from the same O(change)
    * delta replay the file list does. Only files committed before
    * `#stats:` lines existed (legacy logs) fall back to a footer sweep,
    * and only for exactly those files (executor-distributed). Cached per
    * immutable version either way. */
  def statsIndex(spark: SparkSession, root: String, version: Long = -1L): Seq[graft.core.Skipping.FileStats] = {
    val v = if (version < 0) latestVersion(spark, root) else version
    val (_, qroot) = fsOf(spark, root)
    val key = (qroot.toString, v)
    indexCache.get(key).getOrElse {
      val (files, logStats) = reconstruct(spark, root, v)
      val (have, missing) = files.partition(logStats.contains)
      val fromLog = have.map(f => logStats(f).copy(path = new Path(qroot, f).toString))
      val fromFooters =
        if (missing.isEmpty) Nil
        else graft.core.Skipping.buildIndexDistributed(
          spark, missing.map(f => new Path(qroot, f).toString))
      val idx = (fromLog ++ fromFooters).sortBy(_.path)
      indexCache.put(key, idx)
      idx
    }
  }

  /** DIAG/metadata-bench hook (graft.MetaScale): commit `adds` —
    * root-relative paths that need NOT exist — with synthetic stats
    * envelopes, so the metadata path (delta codec, checkpoint write,
    * snapshot resolution, stats pruning) can be measured at arbitrary
    * file counts without writing data files. Never part of the public
    * write surface; a table built this way is unreadable as data. */
  private[graft] def commitMetadataOnlyAdds(
      spark: SparkSession, root: String, adds: Seq[String],
      stats: Map[String, graft.core.Skipping.FileStats],
      fmeta: Map[String, (Long, Long)] = Map.empty): Long = {
    val prev = latestVersion(spark, root)
    val d = readDelta(spark, root, prev)
    commitRewrite(spark, root, prev + 1,
      Delta(adds, Nil, schema = d.schema, props = d.props, stats = stats,
        op = Some("append"), dv = d.dv, fmeta = fmeta))
  }

  /** Files of `version` whose stats are NOT in the log (would need a
    * footer read) — empty on any table whose commits all wrote `#stats:`
    * lines. Test hook: pins the zero-footer-read property. */
  private[graft] def statsMissingFromLog(
      spark: SparkSession, root: String, version: Long = -1L): Seq[String] = {
    val v = if (version < 0) latestVersion(spark, root) else version
    val (files, logStats) = reconstruct(spark, root, v)
    files.filterNot(logStats.contains)
  }

  /** The unified table-read entry point: one call site for time travel
    * (`versionAsOf`), CDC replay (`changesBetween`) and stats-pruned scans
    * (`pruneOn`) — what a user reaches for instead of wiring
    * `readVersion` / `changesBetween` / `Skipping` by hand. */
  def table(spark: SparkSession, root: String): SnapshotReader =
    new SnapshotReader(spark, root)

  /** Builder for `Snapshots.table`. `pruneOn` is a range filter read
    * through the `graft-snapshot` front door: the version's stats index
    * (`statsIndex`, cached per immutable version) prunes its EXPLICIT
    * file list at plan time, so the scan never lists a directory and
    * never reads a data page of a skipped file, and the version's
    * deletion vectors, recorded schema and column mapping apply as on
    * every other read. */
  final class SnapshotReader private[jobs] (spark: SparkSession, root: String) {
    private var versionOpt: Option[Long] = None
    private var changesOpt: Option[(Long, Long)] = None
    private var pruneOpt: Option[(String, Long, Long)] = None

    def versionAsOf(v: Long): SnapshotReader = { versionOpt = Some(v); this }
    def changesBetween(fromV: Long, toV: Long): SnapshotReader = {
      changesOpt = Some((fromV, toV)); this
    }
    def pruneOn(colName: String, lo: Long, hi: Long): SnapshotReader = {
      pruneOpt = Some((colName, lo, hi)); this
    }

    def load(): DataFrame = changesOpt match {
      case Some((a, b)) =>
        require(versionOpt.isEmpty && pruneOpt.isEmpty,
          "changesBetween cannot combine with versionAsOf/pruneOn")
        Snapshots.changesBetween(spark, root, a, b)
      case None =>
        val v = versionOpt.getOrElse(latestVersion(spark, root))
        pruneOpt match {
          // through the `graft-snapshot` front door, which prunes on the
          // same stats index and applies the version's deletion vectors,
          // recorded schema and physical column names
          case Some((c, lo, hi)) =>
            spark.read.format("graft-snapshot").option("versionAsOf", v).load(root)
              .where(col(c).between(lo, hi))
          case None => readVersion(spark, root, v)
        }
    }
  }
}
