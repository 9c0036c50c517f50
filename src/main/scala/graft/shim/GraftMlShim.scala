package org.apache.spark.ml

import scala.io.{Codec, Source}

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.feature.{OneHotEncoderModel, StringIndexerModel, VectorAssembler}
import org.apache.spark.ml.param.{Param, Params}
import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, GBTRegressionModel, RandomForestRegressionModel}
import org.apache.spark.ml.tree.DecisionTreeModelReadWrite.{NodeData, SplitData, buildTreeFromNodes}
import org.apache.spark.ml.util.DefaultParamsReader
import org.apache.spark.ml.util.DefaultParamsReader.Metadata
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetDriverReader
import org.apache.spark.util.VersionUtils
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.JsonMethods.{compact, render}

/** Loads a saved `PipelineModel` on the driver, with no Spark job. The
  * format is the one `model.write.save` (and PySpark) writes, decoded as
  * Spark's own readers decode it: `DefaultParamsReader.parseMetadata` over
  * each `metadata/` text file (read through the Hadoop FS instead of a
  * one-row text scan), the `data/` and `treesMetadata/` parquet files
  * through `GraftParquetDriverReader` (instead of a parquet scan per
  * file), trees rebuilt by `DecisionTreeModelReadWrite.buildTreeFromNodes`
  * and params set by `Metadata.getAndSetParams`.
  *
  * It rebuilds the five stage classes `graft.ml.Pipelines.regression`
  * fits. Any other stage class, and any stage saved by Spark < 3 (whose
  * data layouts differ), is loaded by Spark's own
  * `DefaultParamsReader.loadParamsInstance`, for that stage alone. Same
  * extension-shim pattern as `GraftSqlShim`. */
object GraftMlShim {
  private implicit val formats: Formats = DefaultFormats

  private val StringIndexerName = classOf[StringIndexerModel].getName
  private val OneHotName = classOf[OneHotEncoderModel].getName
  private val AssemblerName = classOf[VectorAssembler].getName
  private val ForestName = classOf[RandomForestRegressionModel].getName
  private val GbtName = classOf[GBTRegressionModel].getName
  private val TreeName = classOf[DecisionTreeRegressionModel].getName

  /** `PipelineModel.load(path)`, read on the driver. */
  def loadPipelineModel(spark: SparkSession, path: String): PipelineModel = {
    val md = metadata(spark, path, classOf[PipelineModel].getName)
    val uids = (md.params \ "stageUids").extract[Seq[String]]
    val stagesDir = new Path(path, "stages").toString
    val stages = uids.zipWithIndex.map { case (uid, i) =>
      stage(spark, Pipeline.SharedReadWrite.getStagePath(uid, i, uids.length, stagesDir))
    }
    new PipelineModel(md.uid, stages.toArray)
  }

  private def stage(spark: SparkSession, path: String): Transformer = {
    val md = metadata(spark, path, "")
    def rows(dir: String): IndexedSeq[Row] =
      GraftParquetDriverReader.readRows(spark, new Path(path, dir).toString)
    def withParams(p: Params): Params = { md.getAndSetParams(p); p }
    val loaded: Params =
      if (VersionUtils.majorVersion(md.sparkVersion) < 3)
        DefaultParamsReader.loadParamsInstance[Params](path, spark)
      else md.className match {
        case StringIndexerName =>
          val labels = field(first(rows("data"), path), "labelsArray").asInstanceOf[collection.Seq[collection.Seq[String]]]
          withParams(new StringIndexerModel(md.uid, labels.map(_.toArray).toArray))
        case OneHotName =>
          val sizes = field(first(rows("data"), path), "categorySizes").asInstanceOf[collection.Seq[Int]]
          withParams(new OneHotEncoderModel(md.uid, sizes.toArray))
        case AssemblerName => withParams(new VectorAssembler(md.uid))
        case ForestName =>
          val (trees, _, numFeatures) = forest(md, rows)
          withParams(new RandomForestRegressionModel(md.uid, trees, numFeatures))
        case GbtName =>
          val (trees, weights, numFeatures) = forest(md, rows)
          withParams(new GBTRegressionModel(md.uid, trees, weights, numFeatures))
        case _ => DefaultParamsReader.loadParamsInstance[Params](path, spark)
      }
    loaded match {
      case t: Transformer => t
      case s => throw new RuntimeException(
        s"PipelineModel.read loaded a stage but found it was not a Transformer. Bad stage ${s.uid} of type ${s.getClass}")
    }
  }

  /** The trees, tree weights and feature count of a saved tree ensemble,
    * as `EnsembleModelReadWrite.loadImpl` and the regressors' readers
    * build them. */
  private def forest(md: Metadata, rows: String => IndexedSeq[Row])
      : (Array[DecisionTreeRegressionModel], Array[Double], Int) = {
    val impurity = Param.jsonDecode[String](compact(render(md.getParamValue("impurity"))))
    // (treeID, metadata, weights), by position as the tuple decoder reads them
    val (treeMeta, weights) = rows("treesMetadata")
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
      .map { case (_, json, w) => (DefaultParamsReader.parseMetadata(json, TreeName), w) }.unzip
    val roots = rows("data").groupBy(r => r.getInt(r.fieldIndex("treeID"))).toSeq.sortBy(_._1)
      .map { case (_, nodes) =>
        buildTreeFromNodes(nodes.map(r => node(r.getStruct(r.fieldIndex("nodeData")))).toArray, impurity)
      }
    val numFeatures = (md.metadata \ "numFeatures").extract[Int]
    val numTrees = (md.metadata \ "numTrees").extract[Int]
    val trees = treeMeta.zip(roots).map { case (tm, root) =>
      val tree = new DecisionTreeRegressionModel(tm.uid, root, numFeatures)
      tm.getAndSetParams(tree)
      tree
    }
    require(numTrees == trees.length,
      s"${md.className}.load expected $numTrees trees based on metadata but found ${trees.length} trees.")
    (trees.toArray, weights.toArray, numFeatures)
  }

  private def node(r: Row): NodeData = {
    def i(name: String) = r.getInt(r.fieldIndex(name))
    def d(name: String) = r.getDouble(r.fieldIndex(name))
    def ds(row: Row, name: String) = row.getSeq[Double](row.fieldIndex(name)).toArray
    val s = r.getStruct(r.fieldIndex("split"))
    NodeData(i("id"), d("prediction"), d("impurity"), ds(r, "impurityStats"),
      r.getLong(r.fieldIndex("rawCount")), d("gain"), i("leftChild"), i("rightChild"),
      SplitData(s.getInt(s.fieldIndex("featureIndex")), ds(s, "leftCategoriesOrThreshold"),
        s.getInt(s.fieldIndex("numCategories"))))
  }

  private def first(rows: IndexedSeq[Row], path: String): Row =
    rows.headOption.getOrElse(throw new NoSuchElementException(s"no data row in $path/data"))

  private def field(r: Row, name: String): Any = r.get(r.fieldIndex(name))

  /** `DefaultParamsReader.loadMetadata`: the first line of the stage's
    * `metadata/` part files, parsed. */
  private def metadata(spark: SparkSession, path: String, expectedClass: String): Metadata = {
    val dir = new Path(path, "metadata")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val line = parts.iterator.flatMap { p =>
      val src = Source.fromInputStream(fs.open(p))(Codec.UTF8)
      try src.getLines().take(1).toList finally src.close()
    }.nextOption().getOrElse(throw new NoSuchElementException(s"no metadata line under $dir"))
    DefaultParamsReader.parseMetadata(line, expectedClass)
  }
}
