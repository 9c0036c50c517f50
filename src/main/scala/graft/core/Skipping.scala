package graft.core

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** File-level min/max data skipping over parquet — the Delta/Iceberg
  * "statistics + file pruning" layer, over plain parquet files.
  *
  * A scan with a selective range predicate over a RANGE-CLUSTERED layout
  * (writer used `repartitionByRange(...).sortWithinPartitions(...)`, so
  * each file covers a narrow slice of the clustering key) only needs the
  * files whose [min,max] envelope intersects the predicate. Parquet
  * footers already carry per-row-group column statistics; the index here
  * is those stats rolled up to file grain, read METADATA-ONLY (a footer is
  * a few KB regardless of file size — no data pages are touched).
  *
  * 100 TB shape: statistics should be collected AT WRITE TIME into a
  * persistent index table (what a transaction log does); this post-hoc
  * builder is the backfill path. Work is O(files) tiny footer reads,
  * independent of data bytes — distribute it over executors (a
  * mapPartitions over the file list) when the file count is large; the
  * local driver loop here handles the thousands-of-files scale a test
  * table has. Pruning itself is O(index) — never O(data).
  *
  * Stats are kept for integral (INT32/INT64) leaf columns — the
  * clustering-key types; other columns simply aren't prunable here.
  */
object Skipping {

  /** One file's envelope: row count + per-column [min,max], typed by
    * family (file grain = min of row-group mins, max of maxes):
    *
    *   - `mins`/`maxs` — integral columns (INT32/INT64, incl. MICROS
    *     timestamps), exact;
    *   - `dmins`/`dmaxs` — DOUBLE/FLOAT columns, exact, and present
    *     ONLY for files provably NaN-free on that column (parquet-mr
    *     omits FP stats when a NaN was written, and any NaN min/max is
    *     dropped on read) — so Spark's NaN-greater-than-everything
    *     ordering can never be mis-pruned; ±0.0 needs no normalization
    *     because pruning compares with primitive operators, under which
    *     -0.0 == 0.0;
    *   - `smins`/`smaxs` — STRING (BINARY/UTF8) columns as raw UTF-8
    *     bytes compared unsigned-lexicographic (exactly UTF8String's
    *     binary ordering AND parquet's UNSIGNED sort order — one
    *     comparison space end to end), TRUNCATED to 16 bytes Iceberg-
    *     style: lower bounds truncate (a prefix is ≤ the original),
    *     upper bounds truncate-and-increment the last non-0xFF byte (a
    *     strict upper bound of everything prefixed by the original);
    *     an all-0xFF prefix has no finite increment, so that side is
    *     simply ABSENT — the maps are one-sided by design. */
  final case class FileStats(path: String, rows: Long,
      mins: Map[String, Long], maxs: Map[String, Long],
      dmins: Map[String, Double] = Map.empty, dmaxs: Map[String, Double] = Map.empty,
      smins: Map[String, Seq[Byte]] = Map.empty, smaxs: Map[String, Seq[Byte]] = Map.empty,
      nullCounts: Map[String, Long] = Map.empty)

  /** Unsigned lexicographic byte comparison (shorter prefix sorts
    * first) — the shared ordering of UTF8String, parquet UNSIGNED
    * binary stats, and the truncated envelopes. */
  def compareBytes(a: Seq[Byte], b: Seq[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** Iceberg's 16-byte bound truncation. Lower: plain prefix (≤ the
    * original under unsigned-lex order). Upper: if the value already
    * fits, it IS the bound (exact); otherwise increment the last
    * non-0xFF byte of the prefix and drop the tail — every string with
    * that prefix is strictly below the result. All-0xFF prefix ⇒ None
    * (no finite bound). Truncation may cut a multi-byte UTF-8 codepoint
    * in half — irrelevant: bounds are compared as raw bytes, never
    * decoded. */
  private[graft] val boundTruncateBytes = 16

  private[graft] def truncateLower(v: Seq[Byte]): Seq[Byte] =
    if (v.length <= boundTruncateBytes) v else v.take(boundTruncateBytes)

  private[graft] def truncateUpper(v: Seq[Byte]): Option[Seq[Byte]] =
    if (v.length <= boundTruncateBytes) Some(v)
    else {
      val p = v.take(boundTruncateBytes).toArray
      var i = p.length - 1
      while (i >= 0 && p(i) == 0xff.toByte) i -= 1
      if (i < 0) None
      else {
        val out = p.take(i + 1)
        out(i) = (out(i) + 1).toByte
        Some(out.toSeq)
      }
    }

  /** List the data files under `dir` (`_`-prefixed metadata files
    * excluded); `recursive` descends into partition directories. */
  def dataFiles(spark: SparkSession, dir: String, recursive: Boolean = false): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(d: Path): Seq[String] =
      fs.listStatus(d).toSeq.flatMap { s =>
        if (s.isFile && !s.getPath.getName.startsWith("_")) Seq(s.getPath.toString)
        else if (s.isDirectory && recursive) walk(s.getPath)
        else Nil
      }
    walk(p)
  }

  /** Roll each file's parquet footer statistics up to file grain. */
  def buildIndex(spark: SparkSession, dir: String, recursive: Boolean = false): Seq[FileStats] =
    buildIndexForFiles(spark, dataFiles(spark, dir, recursive))

  /** One column chunk's contribution to a file envelope: `covered` means
    * the chunk RECORDED statistics (an all-null chunk counts — it cannot
    * contribute a non-null value, so the other blocks' envelope stays
    * valid for it); per-family min/max are set only for chunks of that
    * family with values. String chunk bounds are EXACT bytes here;
    * truncation happens at file grain. */
  private[core] final case class ChunkStat(
      col: String, covered: Boolean, min: Option[Long], max: Option[Long],
      dmin: Option[Double] = None, dmax: Option[Double] = None,
      smin: Option[Seq[Byte]] = None, smax: Option[Seq[Byte]] = None,
      nulls: Option[Long] = None)

  /** Per-family file envelopes rolled up from chunk stats. */
  private[core] final case class Envelopes(
      mins: Map[String, Long], maxs: Map[String, Long],
      dmins: Map[String, Double], dmaxs: Map[String, Double],
      smins: Map[String, Seq[Byte]], smaxs: Map[String, Seq[Byte]],
      nullCounts: Map[String, Long])

  /** Roll per-block chunk stats up to a file envelope. A column whose
    * stats are MISSING in any block that has rows must be dropped
    * entirely: keeping the partial envelope would under-cover (the
    * stats-less block may hold values outside it) and `pruneFiles` would
    * incorrectly skip a file holding matching rows. String bounds are
    * exact here; the 16-byte truncation applies once at file grain
    * (`statsOfFile`). */
  private[core] def rollUpEnvelope(blocks: Seq[Seq[ChunkStat]]): Envelopes = {
    val mins = scala.collection.mutable.Map[String, Long]()
    val maxs = scala.collection.mutable.Map[String, Long]()
    val dmins = scala.collection.mutable.Map[String, Double]()
    val dmaxs = scala.collection.mutable.Map[String, Double]()
    val smins = scala.collection.mutable.Map[String, Seq[Byte]]()
    val smaxs = scala.collection.mutable.Map[String, Seq[Byte]]()
    val tainted = scala.collection.mutable.Set[String]()
    // null counts taint independently of min/max: a NaN-poisoned FP
    // chunk loses its envelope but can still report its null count
    val nulls = scala.collection.mutable.Map[String, Long]()
    val nullTainted = scala.collection.mutable.Set[String]()
    blocks.foreach(_.foreach { c =>
      if (!c.covered) tainted += c.col
      for (l <- c.min) mins.update(c.col, math.min(mins.getOrElse(c.col, l), l))
      for (h <- c.max) maxs.update(c.col, math.max(maxs.getOrElse(c.col, h), h))
      for (l <- c.dmin) dmins.update(c.col, math.min(dmins.getOrElse(c.col, l), l))
      for (h <- c.dmax) dmaxs.update(c.col, math.max(dmaxs.getOrElse(c.col, h), h))
      for (l <- c.smin) smins.update(c.col,
        smins.get(c.col).filter(compareBytes(_, l) <= 0).getOrElse(l))
      for (h <- c.smax) smaxs.update(c.col,
        smaxs.get(c.col).filter(compareBytes(_, h) >= 0).getOrElse(h))
      c.nulls match {
        case Some(n) => nulls.update(c.col, nulls.getOrElse(c.col, 0L) + n)
        case None => nullTainted += c.col
      }
    })
    Envelopes(
      (mins -- tainted).toMap, (maxs -- tainted).toMap,
      (dmins -- tainted).toMap, (dmaxs -- tainted).toMap,
      (smins -- tainted).toMap, (smaxs -- tainted).toMap,
      (nulls -- nullTainted).toMap)
  }

  /** Index an explicit file list — the form a snapshot-logged table uses
    * (its manifest IS the file list; no directory involved). Footer
    * reads are independent metadata I/O, so they fan out across driver
    * cores (ParquetFileReader/FileSystem are thread-safe) — every COW
    * commit pays this on its just-written files, so the serial loop was
    * a per-commit wall of (files × open+footer-parse) latency. */
  def buildIndexForFiles(spark: SparkSession, files: Seq[String]): Seq[FileStats] = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (files.size <= 1) files.map(f => statsOfFile(conf, f))
    else {
      val arr = files.toArray
      val out = new Array[FileStats](arr.length)
      metaIoParallel(arr.length)(i => out(i) = statsOfFile(conf, arr(i)))
      out.toSeq
    }
  }

  /** Dedicated bounded pool for the driver-side metadata fan-outs every
    * commit pays (footer reads, per-file stat RPCs). These BLOCK on I/O;
    * on the shared `ForkJoinPool.commonPool` they would couple every
    * concurrent commit — and any other parallel-stream user — to one
    * queue, so a pool-wide stall (one slow read) serializes all commits
    * (r19 ADVICE). CPU-bound fan-outs stay on the common pool, where
    * work-stealing is the right tool. Daemon threads, idle out. */
  private val metaIoThreadPrefix = "graft-meta-io-"
  private lazy val metaIoPool: java.util.concurrent.ThreadPoolExecutor = {
    val n = math.min(32, math.max(4, Runtime.getRuntime.availableProcessors))
    val tf = new java.util.concurrent.ThreadFactory {
      private val seq = new java.util.concurrent.atomic.AtomicInteger()
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"$metaIoThreadPrefix${seq.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    }
    val p = new java.util.concurrent.ThreadPoolExecutor(
      n, n, 30L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](), tf)
    p.allowCoreThreadTimeOut(true)
    p
  }

  /** Run `f(i)` for i in [0, n) on the metadata-I/O pool; order of the
    * side effects is the caller's to index, the first failure rethrows
    * its cause (parallel-stream parity). A call made FROM a pool thread
    * runs inline: queueing it would park that thread on tasks that wait
    * for a free thread, and enough nested callers deadlock the pool. */
  private[graft] def metaIoParallel(n: Int)(f: Int => Unit): Unit = {
    if (n <= 0) return
    if (n == 1 || Thread.currentThread.getName.startsWith(metaIoThreadPrefix)) {
      (0 until n).foreach(f); return
    }
    import scala.jdk.CollectionConverters._
    val tasks: java.util.List[java.util.concurrent.Callable[Unit]] =
      (0 until n).map { i =>
        new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = f(i)
        }: java.util.concurrent.Callable[Unit]
      }.asJava
    metaIoPool.invokeAll(tasks).asScala.foreach { fut =>
      try fut.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    }
  }

  /** An INT64 timestamp chunk's envelope enters ONLY for MICROS
    * annotations: a Timestamp literal translates to epoch micros
    * (sources/SnapshotFilters), so an envelope in any other UNIT
    * (millis, nanos) would mis-prune. Excluded units stay
    * covered-but-valueless — unprunable, always sound. INT96 timestamps
    * (Spark's default) record no stats at all and land in the same
    * bucket. isAdjustedToUTC does NOT gate admission: the engine reads
    * parquet with `inferTimestampNTZ.enabled=false`
    * (Tables.ensureTimestampCompat), so local-semantics micros are
    * interpreted as the same raw epoch micros the envelope records —
    * literal and stats compare in one unit space either way. */
  private def timestampEnvelopeSafe(
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Boolean =
    c.getPrimitiveType.getLogicalTypeAnnotation match {
      case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        t.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS
      // int-backed DECIMAL stats are UNSCALED (12.34 at scale 2 is
      // 1234) — a literal-space bound would mis-prune for any scale>0;
      // scale 0 is identity and safe
      case d: org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
        d.getScale == 0
      case _ => true // not a timestamp/decimal: raw integral semantics
    }

  /** One file's footer → FileStats (metadata-only; runs wherever the
    * caller is — see `buildIndexDistributed` for the executor form). */
  private def statsOfFile(
      conf: org.apache.hadoop.conf.Configuration, f: String): FileStats = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
    try {
      val blocks = reader.getFooter.getBlocks
      var rows = 0L
      val chunkStats = scala.collection.mutable.ArrayBuffer[Seq[ChunkStat]]()
      blocks.forEach { b =>
        rows += b.getRowCount
        if (b.getRowCount > 0) {
          val cs = scala.collection.mutable.ArrayBuffer[ChunkStat]()
          b.getColumns.forEach { c =>
            val name = c.getPath.toDotString
            val st = c.getStatistics
            val nn: Option[Long] =
              if (st != null && !st.isEmpty && st.isNumNullsSet) Some(st.getNumNulls)
              else None
            if (st == null || st.isEmpty) cs += ChunkStat(name, covered = false, None, None)
            else if (!st.hasNonNullValue)
              cs += ChunkStat(name, covered = true, None, None, nulls = nn)
            else (st.genericGetMin, st.genericGetMax) match {
              case (mn: java.lang.Long, mx: java.lang.Long) if timestampEnvelopeSafe(c) =>
                cs += ChunkStat(name, covered = true,
                  Some(mn.longValue), Some(mx.longValue), nulls = nn)
              case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                cs += ChunkStat(name, covered = true,
                  Some(mn.longValue), Some(mx.longValue), nulls = nn)
              // FP stats present ⇒ the chunk is NaN-free: parquet-mr
              // poisons min/max to NaN on any NaN write and then OMITS
              // the statistics (PARQUET-1225), so a surviving non-NaN
              // envelope proves absence. A NaN that still leaks through
              // (foreign writer) TAINTS the column — NaN sorts above
              // +Inf in Spark, outside any finite envelope.
              case (mn: java.lang.Double, mx: java.lang.Double) =>
                if (mn.isNaN || mx.isNaN)
                  cs += ChunkStat(name, covered = false, None, None, nulls = nn)
                else cs += ChunkStat(name, covered = true, None, None,
                  dmin = Some(mn.doubleValue), dmax = Some(mx.doubleValue), nulls = nn)
              case (mn: java.lang.Float, mx: java.lang.Float) =>
                if (mn.isNaN || mx.isNaN)
                  cs += ChunkStat(name, covered = false, None, None, nulls = nn)
                else cs += ChunkStat(name, covered = true, None, None,
                  dmin = Some(mn.doubleValue), dmax = Some(mx.doubleValue), nulls = nn)
              // STRING (BINARY/UTF8) bounds: raw bytes under the
              // unsigned ordering parquet-mr already guarantees for the
              // v2 min_value/max_value fields (old signed-order stats
              // never surface through the modern reader)
              case (mn: org.apache.parquet.io.api.Binary, mx: org.apache.parquet.io.api.Binary)
                  if stringAnnotated(c) =>
                cs += ChunkStat(name, covered = true, None, None,
                  smin = Some(mn.getBytes.toSeq), smax = Some(mx.getBytes.toSeq), nulls = nn)
              case _ => // other types or unit-unsafe: stays unprunable
                cs += ChunkStat(name, covered = true, None, None, nulls = nn)
            }
          }
          chunkStats += cs.toSeq
        }
      }
      val env = rollUpEnvelope(chunkStats.toSeq)
      // 16-byte truncation at file grain; an upper with no finite
      // truncated bound (all-0xFF prefix) drops — one-sided is fine
      val smins = env.smins.map { case (k, v) => k -> truncateLower(v) }
      val smaxs = env.smaxs.flatMap { case (k, v) => truncateUpper(v).map(k -> _) }
      FileStats(f, rows, env.mins, env.maxs, env.dmins, env.dmaxs, smins, smaxs,
        env.nullCounts)
    } finally reader.close()
  }

  private def stringAnnotated(
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Boolean =
    c.getPrimitiveType.getLogicalTypeAnnotation
      .isInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation]

  /** Persist an index as a parquet table (file, rows, col, min, max) —
    * the form a production deployment maintains NEXT TO the data (built
    * once at write time, consulted at planning time; re-reading footers
    * per query would be O(files) round trips from the driver). */
  def writeIndex(spark: SparkSession, index: Seq[FileStats], path: String): Unit = {
    import spark.implicits._
    // one row per (file, col, family); bounds rendered as strings — the
    // same encodings the log's `#stats:` codec uses (long/double
    // toString, hex for truncated byte bounds; string sides may be null)
    index.flatMap { f =>
      val longs = f.mins.keys.toSeq.map(c =>
        (f.path, f.rows, c, "L", f.mins(c).toString, f.maxs(c).toString))
      val dbls = f.dmins.keys.toSeq.map(c =>
        (f.path, f.rows, c, "D", f.dmins(c).toString, f.dmaxs(c).toString))
      val strs = (f.smins.keySet ++ f.smaxs.keySet).toSeq.map(c =>
        (f.path, f.rows, c, "S",
          f.smins.get(c).map(toHex).orNull, f.smaxs.get(c).map(toHex).orNull))
      val nulls = f.nullCounts.keys.toSeq.map(c =>
        (f.path, f.rows, c, "N", f.nullCounts(c).toString, null.asInstanceOf[String]))
      val all = longs ++ dbls ++ strs ++ nulls
      if (all.isEmpty) Seq((f.path, f.rows, null.asInstanceOf[String], null.asInstanceOf[String],
        null.asInstanceOf[String], null.asInstanceOf[String]))
      else all
    }.toDF("file", "rows", "col", "fam", "lo", "hi")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted index back to the in-memory pruning form. */
  def readIndex(spark: SparkSession, path: String): Seq[FileStats] = {
    spark.read.parquet(path).collect()
      .groupBy(r => (r.getString(0), r.getLong(1)))
      .map { case ((file, rows), rs) =>
        val cols = rs.filter(!_.isNullAt(2))
        def fam(t: String) = cols.filter(_.getString(3) == t)
        FileStats(file, rows,
          fam("L").map(r => r.getString(2) -> r.getString(4).toLong).toMap,
          fam("L").map(r => r.getString(2) -> r.getString(5).toLong).toMap,
          fam("D").map(r => r.getString(2) -> r.getString(4).toDouble).toMap,
          fam("D").map(r => r.getString(2) -> r.getString(5).toDouble).toMap,
          fam("S").filter(!_.isNullAt(4))
            .map(r => r.getString(2) -> fromHex(r.getString(4))).toMap,
          fam("S").filter(!_.isNullAt(5))
            .map(r => r.getString(2) -> fromHex(r.getString(5))).toMap,
          fam("N").map(r => r.getString(2) -> r.getString(4).toLong).toMap)
      }.toSeq
  }

  /** Files whose [min,max] envelope on `col` intersects [lo, hi]. A file
    * with no stats for `col` cannot be skipped (must be kept). */
  def pruneFiles(index: Seq[FileStats], col: String, lo: Long, hi: Long): Seq[String] =
    index.filter { f =>
      (f.mins.get(col), f.maxs.get(col)) match {
        case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
        case _ => true
      }
    }.map(_.path)

  /** DOUBLE-envelope pruning over closed [lo, hi]. Primitive
    * comparisons make ±0.0 a non-issue; NaN predicates never produce a
    * bound (StatsBounds drops them) and NaN-holding files never carry
    * an envelope, so Spark's NaN ordering cannot be mis-pruned. */
  def pruneFilesDouble(
      index: Seq[FileStats], col: String, lo: Double, hi: Double): Seq[String] =
    index.filter { f =>
      (f.dmins.get(col), f.dmaxs.get(col)) match {
        case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
        case _ => true
      }
    }.map(_.path)

  /** One side of a string range: raw UTF-8 bytes + inclusivity. */
  final case class StrBound(bytes: Seq[Byte], inclusive: Boolean)
  /** A possibly one-sided string range in unsigned-lex byte space. */
  final case class StrRange(lo: Option[StrBound], hi: Option[StrBound]) {
    def intersect(o: StrRange): StrRange = {
      def tighterLo(a: StrBound, b: StrBound) = {
        val c = compareBytes(a.bytes, b.bytes)
        if (c > 0) a else if (c < 0) b
        else StrBound(a.bytes, a.inclusive && b.inclusive)
      }
      def tighterHi(a: StrBound, b: StrBound) = {
        val c = compareBytes(a.bytes, b.bytes)
        if (c < 0) a else if (c > 0) b
        else StrBound(a.bytes, a.inclusive && b.inclusive)
      }
      StrRange(
        (lo ++ o.lo).reduceOption(tighterLo),
        (hi ++ o.hi).reduceOption(tighterHi))
    }
    /** lo > hi (or equal with an open side): provably no value. */
    def isEmpty: Boolean = (lo, hi) match {
      case (Some(l), Some(h)) =>
        val c = compareBytes(l.bytes, h.bytes)
        c > 0 || (c == 0 && !(l.inclusive && h.inclusive))
      case _ => false
    }
  }

  /** STRING-envelope pruning. Envelope bounds are WIDENED by truncation
    * (stored lower ≤ true min, stored upper ≥ true max, either side may
    * be absent), so every comparison errs toward keeping — skipping is
    * only ever proven, never guessed. */
  def pruneFilesString(
      index: Seq[FileStats], col: String, r: StrRange): Seq[String] =
    index.filter { f =>
      val aboveLo = (r.lo, f.smaxs.get(col)) match {
        case (Some(b), Some(mx)) =>
          val c = compareBytes(mx, b.bytes)
          c > 0 || (c == 0 && b.inclusive)
        case _ => true
      }
      val belowHi = (r.hi, f.smins.get(col)) match {
        case (Some(b), Some(mn)) =>
          val c = compareBytes(mn, b.bytes)
          c < 0 || (c == 0 && b.inclusive)
        case _ => true
      }
      aboveLo && belowHi
    }.map(_.path)

  /** NULL-predicate pruning from per-file null counts: `IS NULL`
    * (mustBeNull) skips files with ZERO nulls on the column; `IS NOT
    * NULL` skips files that are ALL null — the Catalyst-injected
    * IsNotNull on every comparison makes the latter free pruning for
    * any all-null file. Unknown counts keep the file. */
  def pruneFilesNull(
      index: Seq[FileStats], col: String, mustBeNull: Boolean): Seq[String] =
    index.filter { f =>
      f.nullCounts.get(col) match {
        case Some(n) => if (mustBeNull) n > 0 else n < f.rows
        case None => true
      }
    }.map(_.path)

  private val hexDigits = "0123456789abcdef".toCharArray
  def toHex(b: Seq[Byte]): String = {
    val sb = new java.lang.StringBuilder(b.length * 2)
    b.foreach { x =>
      sb.append(hexDigits((x >> 4) & 0xf)); sb.append(hexDigits(x & 0xf))
    }
    sb.toString
  }
  def fromHex(s: String): Seq[Byte] = {
    val out = new Array[Byte](s.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    out.toSeq
  }

  /** Bloom-filter file pruning for STRING EQUALITY — the modality min/max
    * envelopes cannot serve: a point lookup on a high-cardinality key over
    * an UNCLUSTERED layout (every file's [min,max] spans the domain, so
    * stats prune nothing, but each file's parquet bloom answers "might
    * this file contain the value?" from the footer alone). Files whose
    * bloom excludes the value are skipped with certainty (blooms have no
    * false negatives); a missing bloom keeps the file. At 100 TB this is
    * the needle-in-haystack path: one key among billions touches the
    * O(1%) of files the bloom cannot rule out, metadata-only. Writers opt
    * in per column: `parquet.bloom.filter.enabled#<col>=true`. */
  def pruneFilesByBloomEquality(
      spark: SparkSession, dir: String, colName: String, value: String,
      recursive: Boolean = false): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(spark, dir, recursive).filter(f => bloomMightContain(conf, f, colName, value))
  }

  /** One file's bloom verdict for `col = value` — footer + bloom pages
    * only, no data pages. Runs wherever the caller is. */
  private def bloomMightContain(
      conf: org.apache.hadoop.conf.Configuration,
      f: String, colName: String, value: String): Boolean = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
    try {
      val blocks = reader.getFooter.getBlocks
      var mightContain = false
      blocks.forEach { b =>
        if (!mightContain) {
          var ccmd: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData = null
          b.getColumns.forEach { c =>
            if (c.getPath.toDotString == colName) ccmd = c
          }
          if (ccmd == null) mightContain = true
          else {
            val bf = reader.getBloomFilterDataReader(b).readBloomFilter(ccmd)
            if (bf == null) mightContain = true
            else mightContain = bf.findHash(
              bf.hash(org.apache.parquet.io.api.Binary.fromString(value)))
          }
        }
      }
      mightContain
    } finally reader.close()
  }

  /** Hadoop conf as a broadcastable property list (Configuration itself
    * is not serializable); executors rebuild it with defaults loaded so
    * filesystem bindings resolve. */
  private def confProps(conf: org.apache.hadoop.conf.Configuration): Seq[(String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    conf.iterator().forEachRemaining(e => out += (e.getKey -> e.getValue))
    out.toSeq
  }

  private def confOf(props: Seq[(String, String)]): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration()
    props.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** EXECUTOR-DISTRIBUTED bloom pruning over an explicit file list (the
    * snapshot-manifest form): the per-file footer+bloom probes fan out as
    * a `mapPartitions` over the file list, so a point lookup on a
    * 10⁵–10⁶-file table costs O(files / executors) wall-clock instead of
    * a driver-serial footer loop — the scale gap the driver-side
    * `pruneFilesByBloomEquality` has. Identical pruning by construction
    * (same per-file probe; SkippingSpec pins the equivalence). */
  def pruneFilesByBloomEqualityDistributed(
      spark: SparkSession, files: Seq[String], colName: String, value: String): Seq[String] = {
    import spark.implicits._
    val props = spark.sparkContext.broadcast(confProps(spark.sparkContext.hadoopConfiguration))
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism, files.size))
    spark.createDataset(files).repartition(slices)
      .mapPartitions { fs =>
        val conf = confOf(props.value)
        fs.filter(f => bloomMightContain(conf, f, colName, value))
      }
      .collect().toSeq.sorted
  }

  /** EXECUTOR-DISTRIBUTED footer-stats index build over an explicit file
    * list — the backfill path at real file counts (the driver loop in
    * `buildIndexForFiles` is the small-table form). */
  def buildIndexDistributed(spark: SparkSession, files: Seq[String]): Seq[FileStats] = {
    import spark.implicits._
    val props = spark.sparkContext.broadcast(confProps(spark.sparkContext.hadoopConfiguration))
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism, files.size))
    spark.createDataset(files).repartition(slices)
      .mapPartitions { fs =>
        val conf = confOf(props.value)
        fs.map(f => statsOfFile(conf, f))
      }
      .collect().toSeq.sortBy(_.path)
  }

  /** Index-pruned range scan: read only the surviving files, then apply
    * the exact predicate (stats pruning is a superset filter — the
    * predicate still runs, pushed to the parquet reader). */
  def scanPruned(spark: SparkSession, index: Seq[FileStats],
      colName: String, lo: Long, hi: Long): DataFrame = {
    val files = pruneFiles(index, colName, lo, hi)
    require(files.nonEmpty, s"no file can match $colName in [$lo,$hi]")
    spark.read.parquet(files: _*)
      .where(org.apache.spark.sql.functions.col(colName).between(lo, hi))
  }
}
