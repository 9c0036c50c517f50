package org.apache.spark.ml

import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, GBTRegressionModel, RandomForestRegressionModel}
import org.apache.spark.ml.tree.{CategoricalSplit, ContinuousSplit, InternalNode, LeafNode, Node, Split}
import org.apache.spark.mllib.tree.impurity.VarianceCalculator

/** Hand-built tree ensembles for the scoring-kernel specs: Spark's tree
  * constructors are private to its `ml` package. */
object GraftTreeFixtures {
  private def stats = new VarianceCalculator(Array(0.0, 0.0, 0.0), 0L)

  def leaf(prediction: Double): Node = new LeafNode(prediction, 0.0, stats)

  def continuous(feature: Int, threshold: Double, left: Node, right: Node): Node =
    new InternalNode(0.0, 0.0, 0.0, left, right, new ContinuousSplit(feature, threshold), stats)

  def categorical(feature: Int, leftCategories: Array[Double], numCategories: Int, left: Node, right: Node): Node =
    new InternalNode(0.0, 0.0, 0.0, left, right,
      new CategoricalSplit(feature, leftCategories, numCategories), stats)

  private def trees(numFeatures: Int, roots: Seq[Node]) =
    roots.zipWithIndex.map { case (r, i) => new DecisionTreeRegressionModel(s"dtr-$i", r, numFeatures) }.toArray

  def forest(numFeatures: Int, roots: Node*): RandomForestRegressionModel =
    new RandomForestRegressionModel("rfr-hand", trees(numFeatures, roots), numFeatures)

  def boosted(numFeatures: Int, weights: Array[Double], roots: Node*): GBTRegressionModel =
    new GBTRegressionModel("gbtr-hand", trees(numFeatures, roots), weights, numFeatures)

  def pipeline(uid: String, stages: Seq[Transformer]): PipelineModel = new PipelineModel(uid, stages.toArray)

  /** Every split of a forest's or boosted model's trees. */
  def splits(stage: Transformer): Seq[Split] = {
    def walk(n: Node): Seq[Split] = n match {
      case in: InternalNode => in.split +: (walk(in.leftChild) ++ walk(in.rightChild))
      case _ => Nil
    }
    val roots = stage match {
      case m: RandomForestRegressionModel => m.trees.map(_.rootNode)
      case m: GBTRegressionModel => m.trees.map(_.rootNode)
    }
    roots.toSeq.flatMap(walk)
  }
}
