package graft.ml

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.Estimator
import org.apache.spark.ml.graft.TreeBridge
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector}
import org.apache.spark.ml.param.{IntParam, LongParam, ParamMap, ParamValidators}
import org.apache.spark.ml.regression.RandomForestRegressionModel
import org.apache.spark.ml.tree.Node
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, NumericType, StructField, StructType}

/** Random-forest regression grown tree-parallel in ONE Spark job, returned
  * as MLlib's own [[RandomForestRegressionModel]].
  *
  * MLlib's random-forest trainer grows all trees one level at a time and
  * runs a job per level (plus metadata and split-finding jobs): ten jobs
  * and megabytes of shuffle for a 60-row fit, most of it per-job dispatch.
  * The paper's reference (sklearn) grows each tree independently instead;
  * so does this estimator:
  *   1. collect the (features, label) rows once and sort them into a
  *      canonical order;
  *   2. bin every feature into at most 31 thresholds by MLlib's rule
  *      (midpoints between distinct values below 32 of them, equal-count
  *      quantile midpoints above);
  *   3. broadcast the binned matrix;
  *   4. one `parallelize(0 until numTrees)` job: each task grows whole
  *      trees depth-first with a histogram split search.
  *
  * The training semantics are MLlib's as `DielectricModel` configured it:
  * Poisson(0.9) bagging, ⌈F/3⌉ features drawn per node, variance impurity,
  * minInstancesPerNode 1, minInfoGain 0, a left branch of
  * `x <= threshold`. Each tree's RNG is seeded from (seed, tree index) and
  * the rows are canonically ordered, so the model depends only on the seed
  * and the set of training rows — not on the input's partitioning, which
  * MLlib's forest does depend on.
  *
  * It reads the `features` vector and `label` columns, as MLlib's
  * defaults name them. The whole training matrix lives on the driver and
  * in every executor, so a fit over more than
  * [[ForestRegressor.MaxTrainingBytes]] of features fails instead of
  * collecting it. The paper's training set is 1,266 rows of about 400
  * features (about 4 MB).
  */
final class ForestRegressor(override val uid: String)
    extends Estimator[RandomForestRegressionModel] {

  def this() = this(Identifiable.randomUID("rfr"))

  val numTrees = new IntParam(this, "numTrees", "number of trees", ParamValidators.gtEq(1))
  val maxDepth = new IntParam(this, "maxDepth", "maximum depth (0 = one leaf)",
    ParamValidators.inRange(0, 30))
  val seed = new LongParam(this, "seed", "random seed")
  setDefault(numTrees -> 20, maxDepth -> 5, seed -> 42L)

  def setNumTrees(v: Int): this.type = set(numTrees, v)
  def setMaxDepth(v: Int): this.type = set(maxDepth, v)
  def setSeed(v: Long): this.type = set(seed, v)

  override def copy(extra: ParamMap): ForestRegressor = defaultCopy(extra)

  override def transformSchema(schema: StructType): StructType = {
    require(schema("features").dataType == SQLDataTypes.VectorType,
      "features must be a vector column")
    require(schema("label").dataType.isInstanceOf[NumericType], "label must be numeric")
    StructType(schema.fields :+ StructField("prediction", DoubleType, nullable = false))
  }

  override def fit(dataset: Dataset[_]): RandomForestRegressionModel = {
    transformSchema(dataset.schema)
    import ForestRegressor._
    val rows = collectBounded(
      dataset.select(col("features"), col("label").cast(DoubleType)), MaxTrainingBytes)
    require(rows.nonEmpty, "cannot fit a forest on zero rows")
    val nFeatures = rows(0)._1.length
    require(rows.forall(_._1.length == nFeatures), "feature vectors differ in length")
    java.util.Arrays.sort(rows, Canonical)

    val thresholds = Array.tabulate(nFeatures)(f => splitThresholds(rows.map(_._1(f)), MaxBins - 1))
    val binned = Binned(
      Array.tabulate(nFeatures)(f => rows.map(r => binOf(thresholds(f), r._1(f)))),
      rows.map(_._2), thresholds)

    val sc = dataset.sparkSession.sparkContext
    val n = $(numTrees)
    val depth = $(maxDepth)
    val mtry = math.ceil(nFeatures / 3.0).toInt
    val treeSeeds = { val r = new SplittableRandom($(seed)); Array.fill(n)(r.nextLong()) }
    val bc = sc.broadcast(binned)
    val roots = try {
      sc.parallelize(0 until n, math.min(n, sc.defaultParallelism))
        .map(t => growTree(bc.value, treeSeeds(t), depth, mtry))
        .collect()
    } finally bc.destroy()

    val model = TreeBridge.forest(uid, roots.map(TreeBridge.tree(_, nFeatures)), nFeatures)
    // MLlib reads numTrees (not the tree array) when it saves and reloads
    // a forest; the rest records how the trees were grown
    model.copy(ParamMap(Seq[(String, Any)](
      "numTrees" -> n, "maxDepth" -> depth, "seed" -> $(seed),
      "subsamplingRate" -> SubsamplingRate, "featureSubsetStrategy" -> "onethird")
      .map { case (name, v) => model.getParam(name) -> v }: _*))
      .setParent(this)
  }
}

object ForestRegressor {

  /** Largest feature matrix (rows × features × 8 B) a fit collects. */
  val MaxTrainingBytes: Long = 512L << 20

  /** MLlib's default bin count: at most 31 thresholds per feature. */
  private val MaxBins = 32

  /** Poisson bagging rate (MLlib's subsamplingRate with replacement). */
  private val SubsamplingRate = 0.9

  /** MLlib's Utils.EPSILON: a node with smaller impurity is a leaf. */
  private val Eps = math.ulp(1.0)

  /** The binned training set every tree task reads: per-feature bin
    * columns, labels in canonical row order, per-feature thresholds. */
  private final case class Binned(cols: Array[Array[Byte]], labels: Array[Double],
      thresholds: Array[Array[Double]])

  /** Collect (features, label) rows, each task stopping once its share
    * of features passes `bound` bytes, and fail if the total does. */
  private[ml] def collectBounded(df: org.apache.spark.sql.DataFrame,
      bound: Long): Array[(Array[Double], Double)] = {
    val rows = df.rdd.mapPartitions { it =>
      val out = ArrayBuffer.empty[(Array[Double], Double)]
      var bytes = 0L
      while (bytes <= bound && it.hasNext) {
        val r = it.next()
        val x = r.getAs[Vector](0).toArray
        bytes += 8L * x.length
        out += ((x, r.getDouble(1)))
      }
      out.iterator
    }.collect()
    val total = rows.iterator.map(8L * _._1.length).sum
    require(total <= bound, s"forest training matrix exceeds the bound of $bound B " +
      s"(ForestRegressor.MaxTrainingBytes; rows × features × 8 B, at least $total B here)")
    rows
  }

  /** Features lexicographically (Double.compare), then the label. */
  private val Canonical: java.util.Comparator[(Array[Double], Double)] = (a, b) => {
    var c = 0
    var i = 0
    while (c == 0 && i < a._1.length) {
      c = java.lang.Double.compare(a._1(i), b._1(i))
      i += 1
    }
    if (c != 0) c else java.lang.Double.compare(a._2, b._2)
  }

  /** MLlib's continuous split candidates (RandomForest.
    * findSplitsForContinuousFeature) over every non-NaN value: with at
    * most `maxSplits` + 1 distinct values, the midpoints between
    * neighbours; else a midpoint wherever the running count passes the
    * next of `maxSplits` + 1 equal-count targets. */
  private[ml] def splitThresholds(values: Array[Double], maxSplits: Int): Array[Double] = {
    val sorted = values.filterNot(_.isNaN)
    java.util.Arrays.sort(sorted)
    val vs = ArrayBuffer.empty[Double]
    val counts = ArrayBuffer.empty[Int]
    sorted.foreach { v =>
      if (vs.nonEmpty && vs.last == v) counts(counts.size - 1) += 1
      else { vs += v; counts += 1 }
    }
    def mid(i: Int) = (vs(i - 1) + vs(i)) / 2.0
    if (vs.size - 1 <= maxSplits) Array.tabulate(math.max(vs.size - 1, 0))(i => mid(i + 1))
    else {
      val stride = sorted.length.toDouble / (maxSplits + 1)
      val out = ArrayBuffer.empty[Double]
      var current = counts(0).toDouble
      var target = stride
      for (i <- 1 until vs.size) {
        val previous = current
        current += counts(i)
        if (math.abs(previous - target) < math.abs(current - target)) {
          out += mid(i)
          target += stride
        }
      }
      out.toArray
    }
  }

  /** Index of the first threshold `v` is at or below (NaN: past the
    * last), so bin `b` goes left of the split at threshold `b` and of
    * every later one. */
  private[ml] def binOf(thresholds: Array[Double], v: Double): Byte = {
    var lo = 0
    var hi = thresholds.length
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (v <= thresholds(m)) hi = m else lo = m + 1
    }
    lo.toByte
  }

  /** Knuth's Poisson draw at the bagging rate. */
  private val PoissonFloor = math.exp(-SubsamplingRate)
  private def poisson(rng: SplittableRandom): Int = {
    var k = 0
    var p = rng.nextDouble()
    while (p > PoissonFloor) { k += 1; p *= rng.nextDouble() }
    k
  }

  @inline private def variance(c: Double, s: Double, q: Double): Double = (q - s * s / c) / c

  /** Grow one tree depth-first: Poisson row weights, then at each node
    * ⌈F/3⌉ features by partial Fisher–Yates, a (count, Σy, Σy²)
    * histogram per feature, and the split of highest positive variance
    * gain with a non-empty side each (first found on ties). */
  private def growTree(d: Binned, seed: Long, maxDepth: Int, mtry: Int): Node = {
    val rng = new SplittableRandom(seed)
    val n = d.labels.length
    val nFeatures = d.cols.length
    var w = Array.fill(n)(poisson(rng))
    while (!w.exists(_ > 0)) w = Array.fill(n)(poisson(rng))
    val idx = (0 until n).filter(w(_) > 0).toArray
    val perm = Array.range(0, nFeatures)
    val bins = MaxBins + 1
    val hc = new Array[Double](bins)
    val hs = new Array[Double](bins)
    val hq = new Array[Double](bins)
    val y = d.labels

    def grow(from: Int, until: Int, depth: Int): Node = {
      var c = 0.0; var s = 0.0; var q = 0.0
      var i = from
      while (i < until) {
        val r = idx(i); val wr = w(r); val yr = y(r)
        c += wr; s += wr * yr; q += wr * yr * yr
        i += 1
      }
      val stats = TreeBridge.variance(c, s, q, c.toLong)
      val impurity = stats.calculate()
      val prediction = stats.predict
      if (depth == maxDepth || math.abs(impurity) < Eps)
        return TreeBridge.leaf(prediction, impurity, stats)

      var bestGain = 0.0
      var bestF = -1
      var bestB = -1
      var j = 0
      while (j < mtry) {
        val k = j + rng.nextInt(nFeatures - j)
        val f = perm(k); perm(k) = perm(j); perm(j) = f
        val nThr = d.thresholds(f).length
        if (nThr > 0) {
          java.util.Arrays.fill(hc, 0, nThr + 1, 0.0)
          java.util.Arrays.fill(hs, 0, nThr + 1, 0.0)
          java.util.Arrays.fill(hq, 0, nThr + 1, 0.0)
          val colF = d.cols(f)
          i = from
          while (i < until) {
            val r = idx(i); val b = colF(r); val wr = w(r); val yr = y(r)
            hc(b) += wr; hs(b) += wr * yr; hq(b) += wr * yr * yr
            i += 1
          }
          var lc = 0.0; var ls = 0.0; var lq = 0.0
          var b = 0
          while (b < nThr) {
            lc += hc(b); ls += hs(b); lq += hq(b)
            val rc = c - lc
            if (lc > 0 && rc > 0) {
              val gain = impurity - lc / c * variance(lc, ls, lq) -
                rc / c * variance(rc, s - ls, q - lq)
              if (gain > bestGain) { bestGain = gain; bestF = f; bestB = b }
            }
            b += 1
          }
        }
        j += 1
      }
      if (bestF < 0) return TreeBridge.leaf(prediction, impurity, stats)

      // partition idx[from, until) into bin <= bestB | bin > bestB
      val colF = d.cols(bestF)
      var lo = from
      var hi = until - 1
      while (lo <= hi) {
        if (colF(idx(lo)) <= bestB) lo += 1
        else { val t = idx(lo); idx(lo) = idx(hi); idx(hi) = t; hi -= 1 }
      }
      TreeBridge.internal(prediction, impurity, bestGain,
        grow(from, lo, depth + 1), grow(lo, until, depth + 1),
        bestF, d.thresholds(bestF)(bestB), stats)
    }

    grow(0, idx.length, 0)
  }
}
