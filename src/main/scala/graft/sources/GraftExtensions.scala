package graft.sources

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, EqualTo, ExprId, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.jobs.Snapshots

/** `spark.sql.extensions` hook completing the DSv2 catalog
  * (`GraftCatalog`): the catalog hands the analyzer lightweight
  * metadata `GraftTable`s; these rules bind them to the engine's actual
  * plans — the Delta integration shape.
  *
  *   - `GraftRelationRule` (resolution): every READ of a catalog table
  *     (`DataSourceV2Relation` over a `GraftTable`) becomes the native
  *     V1 relation — `HadoopFsRelation` over `SnapshotFileIndex`, the
  *     SAME object every other front door plans — keeping the original
  *     output attribute ids so references above stay bound. The TARGET
  *     relation of a DML node is left in V2 form (the DML rule consumes
  *     it); ordinary write nodes hold their target as a field, not a
  *     child, so appends/overwrites flow through the table's `V1Write`
  *     fallback untouched.
  *   - `GraftDmlRule` (post-hoc resolution): `DELETE FROM` / `UPDATE` /
  *     `MERGE INTO` over a catalog table — resolved by then, so merge
  *     expression SIDES are known by exprId — become eager commands on
  *     the log's own DML paths (`deleteWhere` / `updateWhere` /
  *     `mergeClauses`), the same commits, OCC semantics
  *     and CHECK gating as the programmatic API and SnapshotSql.
  *   - `GraftDynamicOverwriteRule` (post-hoc resolution): Spark has no
  *     V1 fallback exec for `OverwritePartitionsDynamic`, so
  *     `INSERT OVERWRITE` in dynamic-partition mode is swapped for an
  *     eager command calling `Snapshots.overwritePartitions`. By
  *     post-hoc time the query side is column-aligned to the table.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(spark => GraftRelationRule(spark))
    ext.injectPostHocResolutionRule(spark => GraftDmlRule(spark))
    ext.injectPostHocResolutionRule(spark => GraftDynamicOverwriteRule(spark))
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    // CDC as a SQL table-valued function: SELECT … FROM
    // table_changes('t', start [, end]) — Delta's spelling
    ext.injectTableFunction(GraftTableChanges.description)
  }
}

private[sources] object GraftRules {
  def graftTableOf(plan: LogicalPlan): Option[GraftTable] = plan match {
    case SubqueryAlias(_, child) => graftTableOf(child)
    case r: DataSourceV2Relation => r.table match {
      case t: GraftTable => Some(t)
      case _ => None
    }
    case _ => None
  }

  /** Output attribute ids of the (possibly aliased) DML target. */
  def outputIds(plan: LogicalPlan): Set[ExprId] =
    plan.output.map(_.exprId).toSet

  /** Render a predicate back to SQL over the bare table frame
    * (qualifiers and exprIds dropped — `deleteWhere`/`updateWhere`
    * re-resolve by name). DML conditions reach post-hoc in MIXED
    * resolution states (Spark defers row-level command resolution for
    * tables without SupportsRowLevelOperations), so both resolved and
    * still-qualified unresolved attributes are normalized. */
  def bareSql(e: Expression): String = {
    // Between is RuntimeReplaceable: its operands are constructor
    // FIELDS (the tree children are the CommonExpressionRef rewrite),
    // so attribute stripping must rebuild it first or .sql would
    // re-render the original qualified operand
    val noBetween = e.transformUp {
      case b: org.apache.spark.sql.catalyst.expressions.Between =>
        org.apache.spark.sql.catalyst.expressions.And(
          org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(b.input, b.lower),
          org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(b.input, b.upper))
    }
    noBetween.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
      case a: UnresolvedAttribute if a.nameParts.size > 1 =>
        UnresolvedAttribute(Seq(a.nameParts.last))
    }.sql
  }

  /** The alias names a (possibly wrapped) plan answers to. */
  def aliasNames(plan: LogicalPlan): Set[String] = plan match {
    case SubqueryAlias(ident, child) => aliasNames(child) + ident.name
    case _ => Set.empty
  }
}

case class GraftRelationRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    // DML targets stay V2 for GraftDmlRule (attribute-id side detection
    // needs the resolved node intact); equality on DataSourceV2Relation
    // distinguishes instances via their fresh output exprIds
    val dmlTargets: Set[LogicalPlan] = plan.collect {
      case d: DeleteFromTable => relsOf(d.table)
      case u: UpdateTable => relsOf(u.table)
      case m: MergeIntoTable => relsOf(m.targetTable)
      // an INSERT target must stay V2 until ResolveInsertInto converts
      // it to AppendData/Overwrite* — rewriting it first would route the
      // insert down the raw file-relation path, bypassing the log
      case i: InsertIntoStatement => relsOf(i.table)
    }.flatten.toSet
    plan resolveOperatorsDown {
      // reader-option time travel (`spark.read.option("versionAsOf", 3)
      // .table(...)`) needs no handling here: Spark's own
      // TimeTravelSpec.fromOptions routes those options into the
      // catalog's loadTable(ident, version/timestamp) overloads
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[GraftTable] && !dmlTargets.contains(r) =>
        val t = r.table.asInstanceOf[GraftTable]
        // carry the synthetic CatalogTable: post-batch refreshTable
        // walks relations and dereferences it (None would NPE there)
        LogicalRelation(t.hadoopFsRelation,
          r.output, Some(t.v1Table), isStreaming = false, stream = None)

      // CDC streaming by NAME: `readStream.option("readChangeFeed",
      // true).table("graft.t")`. ResolveRelations short-circuits
      // V1-fallback tables into a StreamingRelation pinned at the
      // TABLE schema, but a change feed is wider (+_op) — rebuild the
      // relation WITHOUT the pinned schema so the provider's own
      // sourceSchema (CDC-aware) shapes it. Idempotent: a relation
      // already carrying _op is left alone.
      case sr: org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
          if sr.dataSource.className == "graft-snapshot" &&
            sr.dataSource.options.exists { case (k, v) =>
              k.equalsIgnoreCase("readChangeFeed") && v.equalsIgnoreCase("true") } &&
            !sr.output.exists(_.name == graft.jobs.ChangeFeed.opCol) =>
        org.apache.spark.sql.execution.streaming.runtime.StreamingRelation(
          org.apache.spark.sql.execution.datasources.DataSource(
            spark, className = "graft-snapshot", options = sr.dataSource.options))
    }
  }

  private def relsOf(p: LogicalPlan): Seq[LogicalPlan] =
    p.collect { case r: DataSourceV2Relation => r }
}

/** SQL DML over catalog tables → the log's commit paths. */
case class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import GraftRules._

  override def apply(plan: LogicalPlan): LogicalPlan = plan resolveOperators {
    case d: DeleteFromTable if graftTableOf(d.table).isDefined && d.resolved =>
      GraftDeleteCommand(graftTableOf(d.table).get.root, bareSql(d.condition))

    case u: UpdateTable if graftTableOf(u.table).isDefined =>
      val set = u.assignments.flatMap { a =>
        val name = a.key match {
          case att: Attribute => att.name
          case ua: UnresolvedAttribute => ua.nameParts.last
          case other => throw new IllegalArgumentException(
            s"unsupported UPDATE target: ${other.sql}")
        }
        // alignment may have padded identity assignments; drop them
        if (a.value.semanticEquals(a.key)) None
        else Some(name -> bareSql(a.value))
      }.toMap
      GraftUpdateCommand(graftTableOf(u.table).get.root, set,
        u.condition.map(bareSql).getOrElse("true"))

    case m: MergeIntoTable if graftTableOf(m.targetTable).isDefined =>
      val root = graftTableOf(m.targetTable).get.root
      val tgtIds = outputIds(m.targetTable)
      val srcIds = outputIds(m.sourceTable)
      val tAliases = aliasNames(m.targetTable)
      val sAliases = aliasNames(m.sourceTable)
      // resolved attrs pick their side by exprId; attrs Spark left
      // unresolved (row-level resolution is deferred for tables
      // without SupportsRowLevelOperations) by alias qualifier
      def side(e0: Expression): String = {
        val e = e0.transformUp {
          case b: org.apache.spark.sql.catalyst.expressions.Between =>
            org.apache.spark.sql.catalyst.expressions.And(
              org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(b.input, b.lower),
              org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(b.input, b.upper))
        }
        e.transform {
        case a: AttributeReference if tgtIds(a.exprId) => UnresolvedAttribute(Seq("t", a.name))
        case a: AttributeReference if srcIds(a.exprId) => UnresolvedAttribute(Seq("s", a.name))
        case a: UnresolvedAttribute if a.nameParts.size > 1 =>
          val q = a.nameParts.head
          if (sAliases.exists(_.equalsIgnoreCase(q)))
            UnresolvedAttribute(Seq("s", a.nameParts.last))
          else if (tAliases.exists(_.equalsIgnoreCase(q)))
            UnresolvedAttribute(Seq("t", a.nameParts.last))
          else a
        }.sql
      }
      def colName(e: Expression): Option[String] = e match {
        case a: AttributeReference => Some(a.name)
        case a: UnresolvedAttribute => Some(a.nameParts.last)
        case _ => None
      }
      def keys(c: Expression): Seq[String] = c match {
        case org.apache.spark.sql.catalyst.expressions.And(l, r) => keys(l) ++ keys(r)
        case EqualTo(a, b) if colName(a).isDefined &&
            colName(a).exists(n => colName(b).exists(_.equalsIgnoreCase(n))) =>
          Seq(colName(a).get)
        case other => throw new IllegalArgumentException(
          s"MERGE ON must be a conjunction of same-name column equalities; got: ${other.sql}")
      }
      def assigns(as: Seq[Assignment]): Map[String, String] = as.map { a =>
        val name = colName(a.key).getOrElse(throw new IllegalArgumentException(
          s"unsupported MERGE assignment target: ${a.key.sql}"))
        name -> side(a.value)
      }.toMap
      def conv(a: MergeAction): Snapshots.MergeWhen = a match {
        case UpdateStarAction(cond) => Snapshots.MergeWhen.updateAll(cond.map(side))
        case UpdateAction(cond, _, true) => Snapshots.MergeWhen.updateAll(cond.map(side))
        case UpdateAction(cond, as, _) => Snapshots.MergeWhen.update(assigns(as), cond.map(side))
        case DeleteAction(cond) => Snapshots.MergeWhen.delete(cond.map(side))
        case InsertStarAction(cond) => Snapshots.MergeWhen.insertAll(cond.map(side))
        case InsertAction(cond, as) => Snapshots.MergeWhen.insert(assigns(as), cond.map(side))
        case other => throw new IllegalArgumentException(s"unsupported MERGE action: $other")
      }
      GraftMergeCommand(root, m.sourceTable, keys(m.mergeCondition).distinct,
        m.matchedActions.map(conv), m.notMatchedActions.map(conv),
        m.notMatchedBySourceActions.map(conv))
  }
}

case class GraftDeleteCommand(root: String, predicateSql: String)
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    Snapshots.deleteWhere(session, root, predicateSql)
    Nil
  }
}

case class GraftUpdateCommand(
    root: String, set: Map[String, String], predicateSql: String)
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    Snapshots.updateWhere(session, root, set, predicateSql)
    Nil
  }
}

case class GraftMergeCommand(
    root: String, source: LogicalPlan, keys: Seq[String],
    matched: Seq[Snapshots.MergeWhen], notMatched: Seq[Snapshots.MergeWhen],
    notMatchedBySource: Seq[Snapshots.MergeWhen])
  extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.classic.GraftSqlShim.ofRows(session, source)
    Snapshots.mergeClauses(session, root, src, keys,
      matched, notMatched, notMatchedBySource)
    Nil
  }
}

case class GraftDynamicOverwriteRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan resolveOperators {
    case o: OverwritePartitionsDynamic
        if o.query.resolved && o.table.isInstanceOf[DataSourceV2Relation] &&
          o.table.asInstanceOf[DataSourceV2Relation].table.isInstanceOf[GraftTable] =>
      GraftDynamicOverwriteCommand(
        o.table.asInstanceOf[DataSourceV2Relation].table.asInstanceOf[GraftTable].root,
        o.query)
  }
}

/** Eager dynamic-partition `INSERT OVERWRITE` — one
  * `overwritePartitions` commit (replace exactly the partitions present
  * in the query result, leave the rest untouched). */
case class GraftDynamicOverwriteCommand(root: String, query: LogicalPlan)
  extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(session: SparkSession): Seq[Row] = {
    val df = org.apache.spark.sql.classic.GraftSqlShim.ofRows(session, query)
    // dynamic mode on an unpartitioned table degenerates to a full
    // overwrite (Spark plans OverwritePartitionsDynamic either way)
    if (Snapshots.partitionColumns(session, root).isEmpty)
      Snapshots.overwrite(session, root, df)
    else Snapshots.overwritePartitions(session, root, df)
    Nil
  }
}
