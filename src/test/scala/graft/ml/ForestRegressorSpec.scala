package graft.ml

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.regression.{RandomForestRegressionModel, RandomForestRegressor}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ml.StructureFeaturizer.StructIn

/** The tree-parallel forest behind `DielectricModel.pipeline`: its job
  * count per fit, its independence from partitioning, and its holdout
  * error against MLlib's RandomForestRegressor as the oracle. */
class ForestRegressorSpec extends SparkSpec {
  import ForestRegressorSpec._

  test("one comp_st pipeline fit on 60 rows runs at most 2 jobs and no shuffle") {
    val feats = featurized(spark, 60, seed = 5L)
    val fit = SparkActivity.of(spark)(
      DielectricModel.pipeline(DielectricModel.CompSt, 10, 5, 5L).fit(feats))
    info(s"per fit: ${fit.jobs} jobs, ${fit.shuffleBytes} shuffle bytes")
    // collect (1) + the tree-parallel training job (1)
    assert(fit.jobs <= 2, s"${fit.jobs} jobs for one fit")
    assert(fit.shuffleBytes == 0L, s"${fit.shuffleBytes} shuffle bytes for one fit")
    feats.unpersist()
  }

  test("the forest depends on the rows, not on their partitioning or order") {
    val feats = featurized(spark, 60, seed = 9L)
    val pipe = DielectricModel.pipeline(DielectricModel.CompSt, 10, 5, 9L)
    def forest(df: DataFrame) =
      pipe.fit(df).stages.last.asInstanceOf[RandomForestRegressionModel]
    val a = forest(feats.coalesce(1))
    val b = forest(feats.repartition(7).orderBy(rand(3L)))
    assert(a.toDebugString == b.toDebugString)
    assert(a.totalNumNodes > 2 * a.getNumTrees, "trees did not grow")
    feats.unpersist()
  }

  test("holdout RMSE within 1.1x of MLlib's RandomForestRegressor on 8 synthetic sets") {
    val ratios = (1 to 8).map { s =>
      val (train, test) = synthetic(spark, s.toLong)
      def rmse(m: org.apache.spark.ml.Model[_]) = m.transform(test)
        .select(sqrt(avg(pow(col("prediction") - col("label"), 2)))).head().getDouble(0)
      val ours = rmse(new ForestRegressor().setNumTrees(10).setMaxDepth(5).setSeed(s).fit(train))
      val mllib = rmse(new RandomForestRegressor().setNumTrees(10).setMaxDepth(5).setSeed(s)
        .setSubsamplingRate(0.9).setFeatureSubsetStrategy("onethird").fit(train))
      (ours, mllib)
    }
    val (ours, mllib) = (ratios.map(_._1).sum / 8, ratios.map(_._2).sum / 8)
    info(f"mean holdout RMSE: forest $ours%.4f, MLlib $mllib%.4f (${ours / mllib}%.3fx)")
    assert(ours <= 1.1 * mllib, s"forest $ours vs MLlib $mllib")
  }

  test("a training matrix past the byte bound fails loudly and names it") {
    val (train, _) = synthetic(spark, 1L)
    // 120 rows × 24 features × 8 B = 23,040 B
    assert(ForestRegressor.collectBounded(train, 23040L).length == 120)
    val ex = intercept[IllegalArgumentException](ForestRegressor.collectBounded(train, 23039L))
    assert(ex.getMessage.contains("MaxTrainingBytes"), ex.getMessage)
  }

  test("split thresholds follow MLlib's rule and bins follow x <= threshold") {
    import ForestRegressor.{binOf, splitThresholds}
    // few distinct values: every midpoint, NaN ignored
    assert(splitThresholds(Array(3.0, 1.0, 2.0, 2.0, Double.NaN), 31).sameElements(Array(1.5, 2.5)))
    assert(splitThresholds(Array(4.0, 4.0), 31).isEmpty)
    // many distinct values: equal-count quantile midpoints, at most 31
    val thr = splitThresholds(Array.tabulate(1000)(i => i.toDouble), 31)
    assert(thr.length == 31 && thr.forall(t => t - t.floor == 0.5), thr.mkString(","))
    assert(thr.sliding(2).forall { case Array(a, b) => b - a >= 30 && b - a <= 33 }, thr.mkString(","))
    assert(binOf(Array(1.5, 2.5), 1.5) == 0 && binOf(Array(1.5, 2.5), 1.6) == 1)
    assert(binOf(Array(1.5, 2.5), 9.0) == 2 && binOf(Array(1.5, 2.5), Double.NaN) == 2)
  }
}

object ForestRegressorSpec {

  private val cations = ElementData.all.map(_.symbol).filter(_ != "O").toIndexedSeq

  /** `n` seeded ABO3 perovskite cells: random A/B cations, a sheared
    * cubic cell, and a label that is a smooth function of their
    * electronegativities and the lattice constant plus noise. */
  def materials(n: Int, seed: Long): Seq[(StructIn, String, Double)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val Seq(a, b) = rnd.shuffle(cations).take(2)
      val c = 3.7 + 0.8 * rnd.nextDouble()
      val m = Seq(Seq(c, 0.0, 0.0), Seq(0.15 * rnd.nextDouble(), c, 0.0),
        Seq(0.0, 0.15 * rnd.nextDouble(), c * (0.95 + 0.1 * rnd.nextDouble())))
      val sites = Seq(a -> Seq(0.0, 0.0, 0.0), b -> Seq(0.5, 0.5, 0.5),
        "O" -> Seq(0.5, 0.5, 0.0), "O" -> Seq(0.5, 0.0, 0.5), "O" -> Seq(0.0, 0.5, 0.5))
      val id = s"syn-$i"
      val s = StructIn(id, m, sites.map(_._2), sites.map(_._1),
        graft.materials.Geometry.Lattice(m.map(_.toArray).toArray).volume, 221, 5)
      val en = (ElementData.bySymbol(a).en + ElementData.bySymbol(b).en) / 2
      (s, s"${a}${b}O3", 0.6 - 0.25 * (en - 1.8) + 0.2 * (c - 4.1) + 0.05 * rnd.nextGaussian())
    }
  }

  /** Featurized comp_st rows (mp_id, features…, label), persisted and
    * counted so that a later fit runs only its own jobs. */
  def featurized(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val ms = materials(n, seed)
    val base = ms.map { case (s, f, y) => (s.mp_id, f, y) }.toDF("mp_id", "formula", "label")
      .withColumn("comp", graft.functions.FormulaParser.parseFormula(col("formula")))
    val sf = StructureFeaturizer.featurizeStructs(spark, ms.map(_._1).toDS())
    val df = CompositionFeaturizer.featurize(spark, base, "mp_id", "comp")
      .join(sf, Seq("mp_id")).join(base.select("mp_id", "label"), Seq("mp_id")).persist()
    df.count()
    df
  }

  /** A seeded regression set, 120 training and 60 holdout rows of 24
    * features: four informative (two of them with few distinct values),
    * the rest noise. */
  def synthetic(spark: SparkSession, seed: Long): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val rows = (0 until 180).map { _ =>
      val x = Array.fill(24)(rnd.nextDouble() * 2 - 1)
      x(2) = math.rint(x(2) * 3)
      x(3) = math.rint(x(3) * 2)
      val y = math.sin(2 * x(0)) + x(1) * x(2) + 0.4 * x(3) + 0.1 * rnd.nextGaussian()
      (Vectors.dense(x), y)
    }
    (rows.take(120).toDF("features", "label"), rows.drop(120).toDF("features", "label"))
  }
}
