package org.apache.spark.ml

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.linalg.{BLAS, DenseVector, SparseVector, Vector}
import org.apache.spark.ml.regression.{GBTRegressionModel, RandomForestRegressionModel}
import org.apache.spark.ml.tree.{CategoricalSplit, ContinuousSplit, InternalNode, LeafNode, Node}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}

/** Scores `RandomForestRegressionModel` and `GBTRegressionModel` from flat
  * arrays, bit-identically to their own `transform` (the rules are in
  * `graft.ml.Pipelines`' scaladoc). */
object GraftTreeKernel {

  /** `stage.transform(df)` when `stage` is one of the two ensembles with a
    * prediction column and no leaf column, else `None` (and `df` is not
    * evaluated). */
  def transform(stage: Transformer, df: => DataFrame): Option[DataFrame] = {
    // the boosted model labels its prediction with the features column's
    // metadata (`GBTRegressionModel.transform` aliases the prediction
    // `as(featuresCol, schema(featuresCol).metadata)`), the forest with
    // the prediction column's
    val ensemble = stage match {
      case m: RandomForestRegressionModel if m.getPredictionCol.nonEmpty && m.getLeafCol.isEmpty =>
        Some((Flat(m.trees.map(_.rootNode), None, m.getNumTrees), m.getFeaturesCol, m.getPredictionCol,
          m.getPredictionCol))
      case m: GBTRegressionModel if m.getPredictionCol.nonEmpty && m.getLeafCol.isEmpty =>
        Some((Flat(m.trees.map(_.rootNode), Some(m.treeWeights), m.getNumTrees), m.getFeaturesCol,
          m.getPredictionCol, m.getFeaturesCol))
      case _ => None
    }
    ensemble.map { case (flat, featuresCol, predictionCol, metadataCol) =>
      val data = df
      val schema = stage.transformSchema(data.schema)
      val model = data.sparkSession.sparkContext.broadcast(flat)
      val predict = udf { features: Vector => model.value.predict(features) }
      data.withColumn(predictionCol,
        predict(col(featuresCol)).as(predictionCol, schema(metadataCol).metadata))
    }
  }

  private final val Leaf = 0
  private final val Continuous = 1
  private final val LeftIfIn = 2
  private final val LeftIfOut = 3

  /** A flattened ensemble. Node `i` is a leaf (`value(i)` its prediction),
    * a continuous split on `feature(i)` at `value(i)`, or a categorical
    * split whose held set is `sets(i)`; its left child is `i + 1` and its
    * right child `right(i)`. `weights` is `None` for a forest. */
  final class Flat(
      kind: Array[Int],
      feature: Array[Int],
      value: Array[Double],
      right: Array[Int],
      sets: Array[Array[Double]],
      roots: Array[Int],
      weights: Option[Array[Double]],
      numTrees: Int) extends Serializable {

    private val width = feature.max + 1

    // per thread, so concurrent tasks share no buffer: the densified
    // features (zero outside a row's entries) and the trees' leaves
    @transient private lazy val buffers = ThreadLocal.withInitial[(Array[Double], Array[Double])](
      () => (new Array[Double](width), new Array[Double](roots.length)))

    /** The model's own `predict`. A row whose path reads a feature past
      * the end of its vector fails, as there; the other rows score. */
    def predict(features: Vector): Double = {
      val (dense, leaves) = buffers.get()
      features match {
        case v: DenseVector => combine(v.values, leaves)
        case v: SparseVector if v.size < width => combine(v.toArray, leaves)
        case v: SparseVector =>
          val (idx, vals) = (v.indices, v.values)
          var k = 0
          while (k < idx.length) { if (idx(k) < width) dense(idx(k)) = vals(k); k += 1 }
          try combine(dense, leaves)
          finally { k = 0; while (k < idx.length) { if (idx(k) < width) dense(idx(k)) = 0.0; k += 1 } }
      }
    }

    private def combine(x: Array[Double], leaves: Array[Double]): Double = {
      var t = 0
      while (t < roots.length) { leaves(t) = leaf(roots(t), x); t += 1 }
      weights match {
        // the calls the models' own `predict` makes: the boosted `ddot`,
        // and the forest's `ArraySeq.sum`, which is `reduce(+)` from the
        // first leaf (so a sum of `-0.0` leaves stays `-0.0`)
        case Some(w) => BLAS.nativeBLAS.ddot(numTrees, leaves, 1, w, 1)
        case None =>
          var sum = leaves(0)
          t = 1
          while (t < roots.length) { sum += leaves(t); t += 1 }
          sum / numTrees
      }
    }

    private def leaf(root: Int, x: Array[Double]): Double = {
      var i = root
      while (kind(i) != Leaf) {
        val v = x(feature(i))
        val left =
          if (kind(i) == Continuous) v <= value(i)
          else holds(sets(i), v) == (kind(i) == LeftIfIn)
        i = if (left) i + 1 else right(i)
      }
      value(i)
    }

    private def holds(set: Array[Double], v: Double): Boolean = {
      var k = 0
      while (k < set.length) { if (set(k) == v) return true; k += 1 }
      false
    }
  }

  object Flat {
    /** Flattens `trees` in pre-order, tree after tree. */
    def apply(trees: Array[Node], weights: Option[Array[Double]], numTrees: Int): Flat = {
      val kind, feature, right = ArrayBuffer.empty[Int]
      val value = ArrayBuffer.empty[Double]
      val sets = ArrayBuffer.empty[Array[Double]]
      def n = kind.length
      def add(k: Int, f: Int, v: Double, s: Array[Double]): Int = {
        kind += k; feature += f; value += v; right += -1; sets += s
        n - 1
      }
      def visit(node: Node): Unit = node match {
        case l: LeafNode => add(Leaf, -1, l.prediction, null)
        case in: InternalNode =>
          val i = in.split match {
            case s: ContinuousSplit => add(Continuous, s.featureIndex, s.threshold, null)
            case s: CategoricalSplit =>
              // `CategoricalSplit` holds the left categories when they are
              // at most half, else their complement, and goes left on a
              // non-member of the complement: any value outside
              // `[0, numCategories)` then goes left
              val left = s.leftCategories
              if (left.length <= s.numCategories / 2) add(LeftIfIn, s.featureIndex, 0.0, left)
              else add(LeftIfOut, s.featureIndex, 0.0,
                Array.range(0, s.numCategories).map(_.toDouble).filterNot(c => left.contains(c)))
          }
          visit(in.leftChild)
          right(i) = n
          visit(in.rightChild)
      }
      val roots = trees.map { root => val r = n; visit(root); r }
      new Flat(kind.toArray, feature.toArray, value.toArray, right.toArray, sets.toArray, roots, weights, numTrees)
    }
  }
}
