package org.apache.spark.ml.graft

import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, RandomForestRegressionModel}
import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, LeafNode, Node}
import org.apache.spark.mllib.tree.impurity.{ImpurityCalculator, VarianceCalculator}

/** Access bridge for MLlib's private[ml] tree constructors, so a forest
  * grown outside MLlib's level-synchronous trainer comes back as MLlib's
  * own model classes (transform, save/load and featureImportances
  * unchanged). Lives in the org.apache.spark.ml namespace solely to
  * satisfy that scope, like org.apache.spark.sql.graft.Bridge; contains
  * no logic. */
object TreeBridge {
  /** Variance impurity statistics: weighted count, Σ w·y, Σ w·y². */
  def variance(count: Double, sum: Double, sumSq: Double, rawCount: Long): ImpurityCalculator =
    new VarianceCalculator(Array(count, sum, sumSq), rawCount)

  def leaf(prediction: Double, impurity: Double, stats: ImpurityCalculator): Node =
    new LeafNode(prediction, impurity, stats)

  /** A node that sends a row left when `features(feature) <= threshold`. */
  def internal(prediction: Double, impurity: Double, gain: Double, left: Node, right: Node,
      feature: Int, threshold: Double, stats: ImpurityCalculator): Node =
    new InternalNode(prediction, impurity, gain, left, right,
      new ContinuousSplit(feature, threshold), stats)

  def tree(root: Node, numFeatures: Int): DecisionTreeRegressionModel =
    new DecisionTreeRegressionModel(root, numFeatures)

  def forest(uid: String, trees: Array[DecisionTreeRegressionModel],
      numFeatures: Int): RandomForestRegressionModel =
    new RandomForestRegressionModel(uid, trees, numFeatures)
}
