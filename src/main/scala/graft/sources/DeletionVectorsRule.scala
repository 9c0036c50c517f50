package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, GetStructField, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter, HintInfo, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** Optimizer rule keeping the NATIVE scan path for snapshot versions
  * that carry merge-on-read deletion vectors: a
  * `LogicalRelation(HadoopFsRelation(SnapshotFileIndex))` over a
  * DV-carrying version is rewritten into
  *
  * {{{ Project(original output)(
  *       Filter(pushed predicates)(scan+_metadata)
  *         ⟕̸(anti, BROADCAST)  dv-sidecar relation
  *         ON _metadata.file_path = dv.file_path
  *        AND _metadata.row_index = dv.row_index) }}}
  *
  * so deleted rows are filtered by the scan's OWN row positions with
  * vectorized reads, whole-stage codegen and row-group pushdown intact
  * — the plan-injection shape Delta's DV reads use, expressed as a
  * `Rule[LogicalPlan]` registered through
  * `spark.experimental.extraOptimizations`.
  *
  * This batch runs AFTER predicate pushdown, so the rule matches the
  * post-pushdown `Filter(cond, relation)` adjacency and RE-PUSHES the
  * deterministic conjuncts beneath the injected anti-join (sound for
  * LeftAnti: filtering the left input first preserves semantics) —
  * without this the join would sever the Filter-to-scan adjacency and
  * every filtered read of a DV-carrying version would lose partition
  * pruning, stats pruning and row-group pushdown. Idempotent under a
  * fixed-point batch (rewritten relations are marked via an option);
  * original output attribute ids are preserved so references above
  * stay valid. A DV-carrying relation that cannot expose `_metadata`
  * (e.g. a user column shadows the name) fails LOUDLY — serving it
  * bare would resurrect deleted rows. */
object DeletionVectorsRule extends Rule[LogicalPlan] with PredicateHelper {

  private val appliedMarker = "graft.dvApplied"

  /** Install into `spark.experimental.extraOptimizations` once. */
  def register(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }

  private def dvCarrying(l: LogicalRelation): Boolean = l.relation match {
    case fs: HadoopFsRelation =>
      fs.location.isInstanceOf[SnapshotFileIndex] &&
        !fs.options.contains(appliedMarker) &&
        fs.location.asInstanceOf[SnapshotFileIndex].dvDirs.nonEmpty
    case _ => false
  }

  /** Broadcast the DV side only below this many sidecar BYTES (a
    * session conf). A deletion vector is O(deleted rows); at the
    * intended grain (a predicate delete awaiting materialization) it is
    * tiny and the broadcast keeps the probe local — but nothing bounds
    * what a user accumulates, and an unbounded broadcast walks into the
    * 8 GB broadcast ceiling / driver OOM at READ time, far from the
    * writes that caused it. Past the bound the hint is simply dropped:
    * the condition is an equi-join on (file_path, row_index), so
    * JoinSelection plans a shuffled join that scales with the DV, and
    * `materializeDeletionVectors` remains the maintenance valve. */
  val broadcastMaxBytesKey = "spark.graft.dv.broadcastMaxBytes"
  private val broadcastMaxBytesDefault = 32L * 1024 * 1024

  override def apply(plan: LogicalPlan): LogicalPlan = {
    var changed = false
    val rewritten = plan transform {
      // post-pushdown adjacency: keep the filter pushable by re-planting
      // its deterministic conjuncts directly on the scan, under the join
      case Filter(cond, l: LogicalRelation) if dvCarrying(l) =>
        changed = true
        val (det, nondet) = splitConjunctivePredicates(cond).partition(_.deterministic)
        val joined = rewrite(l, det.reduceOption(And))
        nondet.reduceOption(And).map(Filter(_, joined)).getOrElse(joined)
      case l: LogicalRelation if dvCarrying(l) =>
        changed = true
        rewrite(l, None)
    }
    // the injected Project(l.output) would otherwise pin the scan at
    // full column width (extraOptimizations run after the pruning
    // batch): re-prune to a local fixpoint so a 2-column query of a
    // DV-carrying wide table still reads 2 columns + _metadata
    if (!changed) plan
    else {
      var cur = rewritten
      var it = 0
      while (it < 10) {
        val next = org.apache.spark.sql.catalyst.optimizer.ColumnPruning(
          org.apache.spark.sql.catalyst.optimizer.CollapseProject(cur))
        if (next.fastEquals(cur)) it = 10 else { cur = next; it += 1 }
      }
      cur
    }
  }

  private def rewrite(l: LogicalRelation, pushed: Option[Expression]): LogicalPlan = {
    val fs = l.relation.asInstanceOf[HadoopFsRelation]
    val idx = fs.location.asInstanceOf[SnapshotFileIndex]
    val spark = fs.sparkSession
    // a USER data column named _metadata shadows the file-metadata
    // column outright — refuse loudly, the scan cannot identify rows
    if (fs.dataSchema.fieldNames.contains("_metadata"))
      throw new IllegalStateException(
        s"version of ${idx.tableRoot} carries deletion vectors but a data " +
          "column shadows the _metadata name — refusing to serve the scan " +
          "bare, it would resurrect deleted rows")
    // reuse an already-resolved _metadata column when it still carries
    // both position fields (a query that names _metadata explicitly has
    // it moved into `output` and conflict-filtered out of
    // `metadataOutput`); if nested-schema pruning narrowed it (e.g. the
    // query read only _metadata.file_path), the scan takes a FRESH full
    // metadata attribute instead and the pruned struct is REBUILT above
    // the join under the original exprId, so upstream field ordinals
    // stay valid — the scan can only materialize one _metadata column
    def hasPositions(a: org.apache.spark.sql.catalyst.expressions.Attribute) =
      a.name == "_metadata" && (a.dataType match {
        case s: StructType =>
          s.fieldNames.contains("file_path") && s.fieldNames.contains("row_index")
        case _ => false
      })
    val existing = l.output.find(_.name == "_metadata")
    val metaAttr = existing.filter(hasPositions)
      .orElse(l.metadataOutput.find(hasPositions))
      .getOrElse(fs.fileFormat.createFileMetadataCol())
    val rebuildFor = existing.filterNot(_.exprId == metaAttr.exprId)
    // the scan, marked + widened with its _metadata column (same
    // data/partition attribute ids — upstream references stay bound)
    val marked = fs.copy(options = fs.options + (appliedMarker -> "true"))(spark)
    val scanOutput = rebuildFor match {
      case Some(pruned) => l.output.map(a => if (a.exprId == pruned.exprId) metaAttr else a)
      case None if l.output.exists(_.exprId == metaAttr.exprId) => l.output
      case None => l.output :+ metaAttr
    }
    val scan = l.copy(relation = marked, output = scanOutput)
    val filtered = pushed.map(Filter(_, scan)).getOrElse(scan)
    // the DV sidecar as its own explicit-file-list relation
    val qroot = idx.tableRoot
    val hfs = qroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvStatuses = idx.dvDirs.flatMap { d =>
      hfs.listStatus(new Path(qroot, s"_dv/$d")).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
    }
    val dvFiles = dvStatuses.map(_.getPath.toString)
    val dvBytes = dvStatuses.map(_.getLen).sum
    val dvRel = LogicalRelation(
      HadoopFsRelation(
        new ExplicitPartitionedFileIndex(spark, qroot, dvFiles, StructType(Nil)),
        partitionSchema = StructType(Nil),
        dataSchema = graft.jobs.Snapshots.dvSchema,
        bucketSpec = None,
        fileFormat = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        options = Map.empty)(spark),
      isStreaming = false)
    val metaType = metaAttr.dataType.asInstanceOf[StructType]
    def metaField(name: String) =
      GetStructField(metaAttr, metaType.fieldIndex(name), Some(name))
    val Seq(dvPath, dvIdx) = dvRel.output
    val cond = And(
      EqualTo(metaField("file_path"), dvPath),
      EqualTo(metaField("row_index"), dvIdx))
    val maxBroadcast = spark.conf.getOption(broadcastMaxBytesKey)
      .map(_.toLong).getOrElse(broadcastMaxBytesDefault)
    val rightHint =
      if (dvBytes <= maxBroadcast) Some(HintInfo(strategy = Some(BROADCAST)))
      else None // size-bounded: let JoinSelection shuffle the equi-join
    val projectList: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression] =
      rebuildFor match {
        case None => l.output
        case Some(pruned) =>
          // rebuild the user's narrowed _metadata struct from the full
          // one, keeping the original exprId and field order
          val prunedType = pruned.dataType.asInstanceOf[StructType]
          val rebuilt = org.apache.spark.sql.catalyst.expressions.CreateNamedStruct(
            prunedType.fields.toSeq.flatMap { f =>
              Seq(org.apache.spark.sql.catalyst.expressions.Literal(f.name),
                metaField(f.name))
            })
          l.output.map { a =>
            if (a.exprId != pruned.exprId) a
            else org.apache.spark.sql.catalyst.expressions.Alias(rebuilt, "_metadata")(
              exprId = pruned.exprId, qualifier = pruned.qualifier,
              explicitMetadata = Some(pruned.metadata))
          }
      }
    Project(projectList,
      Join(filtered, dvRel, LeftAnti, Some(cond),
        JoinHint(None, rightHint)))
  }
}
