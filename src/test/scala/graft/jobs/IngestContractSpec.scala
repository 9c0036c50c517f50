package graft.jobs

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** A write commit protocol that runs a one-shot hook on the driver right
  * after a data write commits — between an ingest's staging and its log
  * commit, where a concurrent winner lands in a real race. */
class RaceHookCommitProtocol(jobId: String, path: String, dynamic: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamic) {
  override def commitJob(job: JobContext, commits: Seq[TaskCommitMessage]): Unit = {
    super.commitJob(job, commits)
    RaceHookCommitProtocol.hook.getAndSet(None).foreach(_())
  }
}

object RaceHookCommitProtocol {
  val hook = new AtomicReference[Option[() => Unit]](None)
}

/** The ingest contract: every route that lands new rows stages its
  * batch through one sequence, so each keeps the same promises on one
  * table — a row-tracked, partitioned table with a generated column, a
  * DEFAULT and a CHECK, whose `k` was widened from INT to BIGINT after
  * init. A batch that still carries INT `k` is up-cast, its rows draw
  * ids above the hwm, the generated column is computed, the default
  * filled, and a CHECK-violating row is refused. */
class IngestContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("ingest").toFile.getAbsolutePath + "/t"

  private def widenedTable(): String = {
    val root = tmp()
    Snapshots.init(spark, root, Seq((1, 1.0, 0), (2, 2.0, 1)).toDF("k", "v", "p"),
      Map("graft.rowTracking" -> "true", "graft.partitionBy" -> "p",
        "graft.generated.g" -> "CAST(k AS BIGINT) * 10"))
    Snapshots.addCheckConstraint(spark, root, "v_nonneg", "v >= 0")
    Snapshots.addColumnDefault(spark, root, "tier", StringType, "'basic'")
    Snapshots.alterColumnType(spark, root, "k", LongType)
    root
  }

  private val hwmKey = "graft.identity._row_id.hwm"

  /** Each route lands `batch` (INT `k`, all rows in partition p = 1). */
  private val routes: Seq[(String, (String, DataFrame) => Any)] = Seq(
    "append" -> ((root, b) => Snapshots.append(spark, root, b)),
    "copyInto (parquet)" -> { (root, b) =>
      val landing = tmp()
      b.write.parquet(landing)
      Snapshots.copyInto(spark, root, landing)
    },
    "replaceWhere" -> ((root, b) => Snapshots.replaceWhere(spark, root, b, "p = 1")),
    "overwritePartitions" -> ((root, b) => Snapshots.overwritePartitions(spark, root, b)),
    "SQL INSERT INTO" -> { (root, b) =>
      b.createOrReplaceTempView("ingest_batch")
      SnapshotSql.sql(spark, s"INSERT INTO graft.`$root` SELECT k, v, p FROM ingest_batch")
    },
    "SQL INSERT OVERWRITE ... PARTITION" -> { (root, b) =>
      b.createOrReplaceTempView("ingest_batch")
      SnapshotSql.sql(spark,
        s"INSERT OVERWRITE graft.`$root` PARTITION (p = 1) SELECT k, v FROM ingest_batch")
    },
    "commitStreamingBatch" -> { (root, b) =>
      Snapshots.commitStreamingBatch(spark, root, b,
        Snapshots.lastCommittedBatch(spark, root) + 1)
    },
    "mergeCow" -> ((root, b) => Snapshots.mergeCow(spark, root, b, Seq("k"))))

  routes.foreach { case (name, land) =>
    test(s"ingest contract: $name up-casts, draws ids, computes, defaults and checks") {
      val root = widenedTable()
      val hwm = Snapshots.tableProperties(spark, root)(hwmKey).toLong
      land(root, Seq((10, 10.0, 1), (11, 11.0, 1), (12, 12.0, 1)).toDF("k", "v", "p"))
      assert(Snapshots.versionSchema(spark, root).get("k").dataType == LongType)
      val landed = Snapshots.readVersion(spark, root).where($"k" >= 10L)
        .select($"k", $"g", $"tier", $"_row_id").as[(Long, Long, String, Long)]
        .collect().sortBy(_._1).toSeq
      assert(landed.map(r => (r._1, r._2, r._3)) ==
        Seq((10L, 100L, "basic"), (11L, 110L, "basic"), (12L, 120L, "basic")))
      val ids = landed.map(_._4)
      assert(ids.distinct.size == 3 && ids.forall(_ > hwm), s"ids $ids above hwm $hwm")
      assert(Snapshots.tableProperties(spark, root)(hwmKey).toLong >= ids.max)
      val head = Snapshots.latestVersion(spark, root)
      val e = intercept[Exception](
        land(root, Seq((20, -1.0, 1)).toDF("k", "v", "p")))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("CHECK constraint v_nonneg")), e)
      assert(Snapshots.latestVersion(spark, root) == head)
    }
  }

  /** Run `ingest` with `winner` committed right after its first data
    * write, before its log commit. */
  private def racedBy[T](winner: => Any)(ingest: => T): T = {
    val conf = "spark.sql.sources.commitProtocolClass"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, classOf[RaceHookCommitProtocol].getName)
    RaceHookCommitProtocol.hook.set(Some(() => winner))
    try ingest
    finally {
      RaceHookCommitProtocol.hook.set(None)
      prev.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
    }
  }

  test("a COPY INTO that loses an identity-allocation race deletes its staged files and re-plans") {
    val root = tmp()
    Snapshots.init(spark, root, Seq((1L, "a")).toDF("k", "s"),
      Map("graft.identity.id" -> "1,1"))
    val landing = tmp()
    Seq((2L, "b"), (3L, "c")).toDF("k", "s").coalesce(1).write.parquet(landing)
    // the winner: an append that moves the identity hwm after COPY drew
    // its ids and wrote its files, before COPY commits
    val r = racedBy(Snapshots.append(spark, root, Seq((9L, "w")).toDF("k", "s")))(
      Snapshots.copyInto(spark, root, landing))
    assert(r.filesLoaded == 1 && r.rowsInserted == 2)
    val rows = Snapshots.readVersion(spark, root).select("k", "id").as[(Long, Long)].collect()
    assert(rows.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 9L))
    assert(rows.map(_._2).distinct.length == 4, rows.toSeq)
    // no staged file of the lost attempt is left under data/
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = {
      val it = fs.listFiles(new Path(root, "data"), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(_.getName.endsWith(".parquet")).map(_.toString).toSet
    }
    val referenced = Snapshots.versions(spark, root)
      .flatMap(v => Snapshots.versionFiles(spark, root, v))
      .map(f => fs.makeQualified(new Path(f)).toString).toSet
    assert(onDisk == referenced, s"orphans: ${onDisk -- referenced}")
  }

  test("commitAdds: a winner that recorded the same copied identities makes the stage stale") {
    val root = tmp()
    Snapshots.init(spark, root, Seq((1L, "a")).toDF("k", "s"))
    val landing = tmp()
    Seq((2L, "b")).toDF("k", "s").coalesce(1).write.parquet(landing)
    // the winner: a second COPY INTO of the same landing file
    val r = racedBy(Snapshots.copyInto(spark, root, landing))(
      Snapshots.copyInto(spark, root, landing))
    // the loser re-planned and found the file already ingested
    assert(r.filesLoaded == 0 && r.filesSkipped == 1)
    assert(Snapshots.readVersion(spark, root).where($"k" === 2L).count() == 1)
  }
}
