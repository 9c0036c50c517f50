package graft.jobs

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._

/** SQL DML on the snapshot log — `MERGE INTO` / `UPDATE` / `DELETE FROM`
  * / `INSERT INTO` statements routed to the log's own commit paths
  * (`mergeClauses` / `updateWhere` / `deleteWhere` / `append`), so a SQL-only
  * consumer gets the identical commits, change feeds, OCC semantics and
  * CHECK gating the programmatic API gives.
  *
  * Spark-first by construction: the statement is parsed by SPARK'S OWN
  * ANSI parser (`sessionState.sqlParser.parsePlan`) into the catalyst
  * DML nodes (`MergeIntoTable`, `UpdateTable`, `DeleteFromTable`,
  * `InsertIntoStatement`) — no second grammar — and this router only
  * binds their table references to snapshot roots and dispatches. Two
  * spellings name a table:
  *
  *   - `` graft.`/abs/path/to/table` `` — path-addressed, Delta's
  *     ``delta.`/path` `` convention;
  *   - a name registered once via `SnapshotSql.register(spark, "t", root)`.
  *
  * A MERGE source may be any SQL relation (temp view, subquery) and may
  * itself name a snapshot table in either spelling — references are
  * substituted with the log's read plan before analysis.
  *
  * Supported shapes (anything else fails loudly, never silently bends):
  *   - `MERGE INTO t USING s ON t.k = s.k [AND …]` with the FULL clause
  *     surface: `WHEN MATCHED [AND cond] THEN UPDATE` (SET star or SET
  *     col=expr) or `DELETE`, `WHEN NOT MATCHED [AND cond] THEN INSERT`
  *     (star or column list + VALUES), and `WHEN NOT MATCHED BY SOURCE
  *     [AND cond] THEN UPDATE/DELETE` — every MERGE, the plain
  *     whole-row upsert included, routes through `mergeClauses`. The ON
  *     clause must be a conjunction of same-name column equalities (they
  *     become the merge keys).
  *   - `UPDATE t SET c = e, … [WHERE p]`
  *   - `DELETE FROM t WHERE p`
  *   - `INSERT INTO t <query>` — OCC append
  *   - `INSERT OVERWRITE t <query>` — truncate-overwrite; with
  *     `partitionOverwriteMode=dynamic` on a partitioned table, replace
  *     exactly the partitions present in the batch
  *   - `INSERT OVERWRITE t PARTITION (p=v, …) <query>` — replaceWhere
  *     of exactly that partition (the spec supplies the partition
  *     values, the query the data columns)
  *
  * Returns the committed version. `changeFeed = true` publishes the
  * same row-level feeds as the API calls (the SQL and API routes are
  * oracle-checked to produce identical table hashes AND identical
  * feeds — `sql_merge_dml`). */
object SnapshotSql {

  private val registry = TrieMap.empty[String, String]

  /** Bind `name` (case-insensitive) to a snapshot root for this JVM. */
  def register(name: String, root: String): Unit =
    registry.put(name.toLowerCase(java.util.Locale.ROOT), root)

  def unregister(name: String): Unit =
    registry.remove(name.toLowerCase(java.util.Locale.ROOT))

  /** The snapshot root a multipart identifier names, if any. */
  private[graft] def rootOf(parts: Seq[String]): Option[String] = parts match {
    case Seq(catalog, path) if catalog.equalsIgnoreCase("graft") => Some(path)
    case Seq(name) => registry.get(name.toLowerCase(java.util.Locale.ROOT))
    case _ => None
  }

  /** (root, alias-names) of a DML target plan: the parser wraps an
    * aliased target in `SubqueryAlias`. */
  private def targetOf(plan: LogicalPlan): (String, Set[String]) = plan match {
    case SubqueryAlias(ident, child) =>
      val (root, names) = targetOf(child)
      (root, names + ident.name)
    case u: UnresolvedRelation =>
      val root = rootOf(u.multipartIdentifier).getOrElse(throw new IllegalArgumentException(
        s"not a snapshot table: ${u.multipartIdentifier.mkString(".")} — " +
          "register(name, root) it or address it as graft.`/path`"))
      (root, Set(u.multipartIdentifier.last, u.multipartIdentifier.mkString(".")))
    case other => throw new IllegalArgumentException(
      s"unsupported DML target shape: ${other.nodeName}")
  }

  /** The alias names a SOURCE plan answers to (`USING src s` →
    * {"s", "src"}): SubqueryAlias wrappers plus the bare relation name. */
  private def aliasNames(plan: LogicalPlan): Set[String] = plan match {
    case SubqueryAlias(ident, child) => aliasNames(child) + ident.name
    case u: UnresolvedRelation => Set(u.multipartIdentifier.last)
    case _ => Set.empty
  }

  /** Strip the target's alias qualifier from attribute references so the
    * predicate/SET text re-resolves against the bare table frame
    * (`t.k < 5` → `k < 5`). */
  private def unqualify(e: Expression, aliases: Set[String]): Expression =
    e.transform {
      case a: UnresolvedAttribute if a.nameParts.size > 1 &&
          aliases.exists(_.equalsIgnoreCase(a.nameParts.head)) =>
        UnresolvedAttribute(a.nameParts.tail)
    }

  /** Substitute snapshot-table references inside a SOURCE plan with the
    * log's read plan, so `USING graft.`/path`` and registered names work
    * as merge sources without a metastore. */
  private def substituted(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    val sub = plan.transform {
      case u: UnresolvedRelation if rootOf(u.multipartIdentifier).isDefined =>
        Snapshots.readVersion(spark, rootOf(u.multipartIdentifier).get)
          .queryExecution.logical
    }
    org.apache.spark.sql.classic.GraftSqlShim.ofRows(spark, sub)
  }

  /** Merge keys from the ON clause: a conjunction of same-name column
    * equalities (`t.k = s.k AND t.d = s.d`). */
  private def mergeKeys(cond: Expression): Seq[String] = cond match {
    case And(l, r) => mergeKeys(l) ++ mergeKeys(r)
    case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
        if a.nameParts.last.equalsIgnoreCase(b.nameParts.last) =>
      Seq(a.nameParts.last)
    case other => throw new IllegalArgumentException(
      s"MERGE ON must be a conjunction of same-name column equalities " +
        s"(t.k = s.k); got: ${other.sql}")
  }

  /** Execute one DML statement against the log; returns the committed
    * version. DELETE and UPDATE run through `Snapshots.rewriteWhere`,
    * the one predicate-DML core: copy-on-write by default, and
    * `morDelete = true` routes DELETE through its merge-on-read form
    * (`deleteWhereMor` — a deletion vector, zero file rewrites). UPDATE
    * is always copy-on-write here. Both DELETE routes leave the same
    * rows and publish the same change feed. */
  def sql(spark: SparkSession, text: String, changeFeed: Boolean = false,
      morDelete: Boolean = false): Long =
    spark.sessionState.sqlParser.parsePlan(text) match {

      case d: DeleteFromTable =>
        val (root, aliases) = targetOf(d.table)
        val pred = unqualify(d.condition, aliases).sql
        if (morDelete) Snapshots.deleteWhereMor(spark, root, pred, changeFeed = changeFeed)
        else Snapshots.deleteWhere(spark, root, pred, changeFeed = changeFeed)

      case u: UpdateTable =>
        val (root, aliases) = targetOf(u.table)
        val set = u.assignments.map { a =>
          val name = a.key match {
            case k: UnresolvedAttribute => unqualify(k, aliases) match {
              case k2: UnresolvedAttribute => k2.nameParts.mkString(".")
              case other => other.sql
            }
            case other => throw new IllegalArgumentException(
              s"unsupported SET target: ${other.sql}")
          }
          name -> unqualify(a.value, aliases).sql
        }.toMap
        val pred = u.condition.map(unqualify(_, aliases).sql).getOrElse("true")
        Snapshots.updateWhere(spark, root, set, pred, changeFeed = changeFeed)

      case m: MergeIntoTable =>
        val (root, tAliases) = targetOf(m.targetTable)
        val keys = mergeKeys(m.mergeCondition).distinct
        val sAliases = aliasNames(m.sourceTable)
        val both = tAliases.intersect(sAliases)
        require(both.isEmpty,
          s"ambiguous MERGE alias(es) ${both.mkString(", ")} — name the " +
            "target and source differently")
        // re-spell alias qualifiers into mergeClauses' fixed t./s.
        // namespace, rendering back through the parser's own nodes
        def requalified(e: Expression): String = e.transform {
          case a: UnresolvedAttribute if a.nameParts.size > 1 =>
            val q = a.nameParts.head
            if (sAliases.exists(_.equalsIgnoreCase(q)))
              UnresolvedAttribute(Seq("s", a.nameParts.last))
            else if (tAliases.exists(_.equalsIgnoreCase(q)))
              UnresolvedAttribute(Seq("t", a.nameParts.last))
            else a
        }.sql
        def assigns(as: Seq[Assignment]): Map[String, String] = as.map { a =>
          val name = a.key match {
            case k: UnresolvedAttribute => k.nameParts.last
            case other => throw new IllegalArgumentException(
              s"unsupported MERGE assignment target: ${other.sql}")
          }
          name -> requalified(a.value)
        }.toMap
        def conv(a: MergeAction): Snapshots.MergeWhen = a match {
          case UpdateStarAction(cond) =>
            Snapshots.MergeWhen.updateAll(cond.map(requalified))
          case UpdateAction(cond, _, true) =>
            Snapshots.MergeWhen.updateAll(cond.map(requalified))
          case UpdateAction(cond, as, _) =>
            Snapshots.MergeWhen.update(assigns(as), cond.map(requalified))
          case DeleteAction(cond) =>
            Snapshots.MergeWhen.delete(cond.map(requalified))
          case InsertStarAction(cond) =>
            Snapshots.MergeWhen.insertAll(cond.map(requalified))
          case InsertAction(cond, as) =>
            Snapshots.MergeWhen.insert(assigns(as), cond.map(requalified))
          case other => throw new IllegalArgumentException(
            s"unsupported MERGE action: $other")
        }
        Snapshots.mergeClauses(spark, root, substituted(spark, m.sourceTable),
          keys,
          matched = m.matchedActions.map(conv),
          notMatched = m.notMatchedActions.map(conv),
          notMatchedBySource = m.notMatchedBySourceActions.map(conv),
          changeFeed = changeFeed)

      case i: InsertIntoStatement =>
        val (root, _) = targetOf(i.table)
        require(i.userSpecifiedCols.isEmpty,
          "INSERT with a column list is not supported")
        val data = substituted(spark, i.query)
        if (!i.overwrite) {
          require(i.partitionSpec.isEmpty,
            "INSERT INTO with a PARTITION spec is not supported")
          Snapshots.append(spark, root, data)
        } else if (i.partitionSpec.isEmpty) {
          // no spec: honor Spark's partitionOverwriteMode — dynamic
          // replaces exactly the partitions present in the batch,
          // static truncate-overwrites the table
          val dynamic = spark.conf
            .get("spark.sql.sources.partitionOverwriteMode", "static")
            .equalsIgnoreCase("dynamic")
          if (dynamic && Snapshots.partitionColumns(spark, root).nonEmpty)
            Snapshots.overwritePartitions(spark, root, data)
          else Snapshots.overwrite(spark, root, data)
        } else {
          // static PARTITION (p=v, …) spec: the query supplies the data
          // columns, the spec supplies the partition values — route as
          // a replaceWhere of exactly that partition
          require(i.partitionSpec.values.forall(_.isDefined),
            "partial PARTITION specs mix static and dynamic values — " +
              "drop the spec and use dynamic partitionOverwriteMode")
          val schema = Snapshots.versionSchema(spark, root).getOrElse(
            Snapshots.readVersion(spark, root).schema)
          def typed(c: String, v: String): String = {
            require(schema.fieldNames.contains(c), s"no partition column $c")
            s"CAST('${v.replace("'", "''")}' AS ${schema(c).dataType.sql})"
          }
          val withParts = i.partitionSpec.foldLeft(data) {
            case (df, (c, Some(v))) =>
              df.withColumn(c, org.apache.spark.sql.functions.expr(typed(c, v)))
            case (df, _) => df
          }
          val predicate = i.partitionSpec
            .map { case (c, v) => s"`$c` = ${typed(c, v.get)}" }
            .mkString(" AND ")
          Snapshots.replaceWhere(spark, root, withParts, predicate)
        }

      case other => throw new IllegalArgumentException(
        s"not a DML statement this router handles: ${other.nodeName} — " +
          "reads go through spark.sql over a graft-snapshot view")
    }
}
