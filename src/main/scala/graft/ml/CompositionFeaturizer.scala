package graft.ml

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.ml.RowStats.{minMax, sum}

/** Compositional featurizers (SURVEY.md §2.C C1–C10; §2.D calculus 1).
  *
  * Dataflow: one Scala function computes each record's whole feature row
  * — matminer's per-record loop (reference ml_prediction.py:26-37) without
  * explode, window, join, groupBy or shuffle. A composition has ≤6
  * species, so its row is task-local work: a distributed input is one
  * narrow flatMap stage at any size, and an input already on the driver
  * (a scored formula list) is featurized there with no job at all.
  *
  * Weighted std is the unbiased reliability-weight form
  * √((Σf·x² − μ²)/(1 − Σf²)) of matminer's PropertyStats std_dev (0 for a
  * single species).
  *
  * The values are bit-identical to the Spark SQL aggregate plans this
  * replaced (FeaturizerParitySpec): every sum starts at 0.0 and runs in
  * the map's stored order, pow/exp/log are StrictMath as in Spark's
  * Pow/Exp/Log, min/max use Spark's double ordering, and a zero divisor
  * raises as ANSI division does. The oxidation-state, packing-efficiency
  * and band-edge code still sees the composition as the Scala Map a Spark
  * UDF received, which is a HashMap in hash order past four entries.
  */
object CompositionFeaturizer {

  import ElementData.numericProps

  /** Stat suffixes emitted per elemental property. */
  val Stats = Seq("wmean", "wstd", "min", "max", "range")

  /** Oxidation-state (C7) and electronegativity-difference (C6) features.
    * (Declared before featureColumns — object val init order matters.) */
  val oxiColumns: Seq[String] = Seq(
    "f_oxi_min", "f_oxi_max", "f_oxi_range", "f_oxi_std",
    "f_endiff_mean", "f_endiff_std", "f_endiff_min", "f_endiff_max", "f_endiff_range",
    "f_ape_mean", "f_ape_absdev", "f_ape_dist1", "f_ape_dist3", "f_ape_dist5")

  /** Ideal center/neighbor radius ratios R*(N) for efficiently-packed
    * clusters of coordination N (Miracle's atomic-packing-efficiency
    * model, the published sphere-packing table matminer hardcodes) —
    * the C9 lookup. */
  private val idealRatio: Array[Double] = { // index = N, valid 3..24
    val m = Map(
      3 -> 0.154701, 4 -> 0.224745, 5 -> 0.361654, 6 -> 0.414214,
      7 -> 0.518145, 8 -> 0.616517, 9 -> 0.709914, 10 -> 0.798907,
      11 -> 0.884003, 12 -> 0.902113, 13 -> 0.976006, 14 -> 1.04733,
      15 -> 1.11632, 16 -> 1.18318, 17 -> 1.2481, 18 -> 1.31123,
      19 -> 1.37271, 20 -> 1.43267, 21 -> 1.49119, 22 -> 1.5484,
      23 -> 1.60436, 24 -> 1.65915)
    (0 to 24).map(n => m.getOrElse(n, 0.0)).toArray
  }

  /** matminer's `find_ideal_cluster_size`: walk N = 3..24, APE(N) =
    * 1 − R*(N)/ratio (decreasing in N), stop at the first sign flip;
    * returns (best N, SIGNED APE of that cluster). */
  private def findIdealClusterSize(ratio: Double): (Int, Double) = {
    var bestN = 3
    var best = Double.MaxValue
    var n = 3
    while (n <= 24) {
      val ape = 1.0 - idealRatio(n) / ratio
      if (math.abs(ape) < math.abs(best)) { best = ape; bestN = n }
      if (ape < 0) return (bestN, best)
      n += 1
    }
    (bestN, best)
  }

  /** C9: "mean (abs) simul. packing efficiency" — per-element RELATIVE
    * deviation 1 − R*(N_best)/(r/r̄) from the best ideal cluster when
    * every atom's shell has the alloy-average radius (matminer's
    * AtomicPackingEfficiency.compute_simultaneous_packing_efficiency;
    * signs cancel in the mean, which is why the reference's scaler mean
    * sits near zero). Returns (weighted mean, weighted mean |·|). */
  // matminer's AtomicPackingEfficiency reads the Magpie MiracleRadius
  // table; the deviation features are smooth in the radii, so the
  // literature Miracle set applies directly (see ElementData.miracleRadius
  // for why the cluster-DISTANCE features below keep the atomic set)
  private def apeDeviations(comp: Map[String, Double]): (Double, Double) = {
    def radiusOf(el: String): Double =
      ElementData.miracleRadius.getOrElse(el, ElementData.bySymbol(el).radius)
    val present = comp.filter { case (el, _) => ElementData.bySymbol.contains(el) }
    if (present.isEmpty) return (0.0, 0.0)
    val total = present.values.sum
    val rAvg = present.map { case (el, n) => radiusOf(el) * n }.sum / total
    val devs = present.toSeq.map { case (el, n) =>
      (findIdealClusterSize(radiusOf(el) / rAvg)._2, n / total)
    }
    val mean = devs.map { case (d, w) => d * w }.sum
    val meanAbs = devs.map { case (d, w) => math.abs(d) * w }.sum
    (mean, meanAbs)
  }

  /** Feature value when the composition's element set admits NO
    * efficiently-packed cluster at all (matminer's
    * compute_nearest_cluster_distance returns [-1]*n in that case —
    * a sentinel, not a distance; adopting it is what reproduces the
    * reference's heavy left tail on the dist stats). */
  private val NoPackValue = -1.0

  /** C9: "dist from N clusters |APE| < 0.010" — composition-space L2
    * distance to the nearest efficiently-packed clusters buildable from
    * the composition's own elements. A cluster is (center c, shell of
    * size n with an INTEGER mix of any of the composition's elements)
    * whose |1 − R*(n)/(r_c/r̄_shell)| < 0.010; its composition vector is
    * center 1/(n+1) + shell counts/(n+1), and the feature is the mean
    * distance of the nearest 1/3/5 clusters. Multi-element shells are
    * essential: a 2-element-shell-only set can never approach a ternary
    * oxide's composition, which is what drifted these stats 2-4× high.
    *
    * Enumerates integer shell compositions (C(n+k−1, k−1) per size) and
    * keeps a running 5-smallest distance heap — O(1) memory, no cluster
    * materialization, so a 100 TB featurization run can't blow the
    * executor heap on a 6-element composition (~2M enumerations). */
  private def apeClusterDistances(comp: Map[String, Double]): (Double, Double, Double) = {
    val present = comp.filter { case (el, n) => n > 0 && ElementData.bySymbol.contains(el) }
    if (present.isEmpty) return (0.0, 0.0, 0.0)
    val els = present.keys.toSeq.sorted
    val total = present.values.sum
    val frac = els.map(e => present(e) / total).toArray
    val r = els.map(e => ElementData.bySymbol(e).radius).toArray
    val k = els.length
    // bounds from the extreme center/shell radius ratios, widened by one
    // on each side: findIdealClusterSize stops at the first APE sign flip,
    // but a size just past the flip can still satisfy |APE| < 0.010 for
    // extreme-ratio pairs and must not be silently excluded
    val maxN = math.min(24, findIdealClusterSize(r.max / r.min)._1 + 1)
    val minN = math.max(3, findIdealClusterSize(r.min / r.max)._1 - 1)
    // running 5 smallest distances
    val best = Array.fill(5)(Double.MaxValue)
    def offer(d: Double): Unit = {
      if (d < best(4)) {
        best(4) = d
        var i = 4
        while (i > 0 && best(i) < best(i - 1)) {
          val t = best(i); best(i) = best(i - 1); best(i - 1) = t; i -= 1
        }
      }
    }
    val counts = new Array[Int](k)
    // enumerate integer count vectors summing to n over k slots
    def enumerate(slot: Int, remaining: Int, rSum: Double, n: Int): Unit = {
      if (slot == k - 1) {
        counts(slot) = remaining
        val shellR = (rSum + remaining * r(slot)) / n
        var ci = 0
        while (ci < k) {
          val ape = 1.0 - idealRatio(n) / (r(ci) / shellR)
          if (math.abs(ape) < 0.010) {
            var d2 = 0.0
            var j = 0
            while (j < k) {
              val v = (counts(j) + (if (j == ci) 1 else 0)).toDouble / (n + 1)
              d2 += (v - frac(j)) * (v - frac(j))
              j += 1
            }
            offer(math.sqrt(d2))
          }
          ci += 1
        }
      } else {
        var c = 0
        while (c <= remaining) {
          counts(slot) = c
          enumerate(slot + 1, remaining - c, rSum + c * r(slot), n)
          c += 1
        }
      }
    }
    var n = minN
    while (n <= maxN) { enumerate(0, n, 0.0, n); n += 1 }
    if (best(0) == Double.MaxValue) return (NoPackValue, NoPackValue, NoPackValue) // nothing packable
    val found = best.filter(_ < Double.MaxValue)
    def meanOf(m: Int): Double = {
      val take = found.take(math.min(m, found.length))
      take.sum / take.length
    }
    (meanOf(1), meanOf(3), meanOf(5))
  }

  private val propNames: Seq[String] = numericProps.keys.toSeq.sorted

  /** Ordered feature column names produced by featurize() (the model's
    * vector order). */
  val featureColumns: Seq[String] = {
    val propStats = for {
      p <- propNames
      s <- Stats
    } yield s"f_${p}_$s"
    propStats ++ Seq(
      "f_frac_tm", "f_band_center", "f_avg_ionic_char", "f_max_ionic_char",
      "f_norm2", "f_norm3", "f_norm5", "f_norm7", "f_nelements",
      "f_homo_energy", "f_lumo_energy", "f_gap_ao",
      // ValenceOrbital "frac ℓ valence electrons": avg ℓ-electrons over
      // avg total valence electrons
      "f_frac_val_s", "f_frac_val_p", "f_frac_val_d") ++ oxiColumns
  }

  /** featurize()'s columns after the id, in the order [[featureRow]]
    * emits them. */
  private val outputColumns: Seq[String] =
    featureColumns.take(propNames.size * Stats.size) ++ Seq(
      "f_frac_tm", "f_band_center", "f_nelements", "f_avg_ionic_char", "f_max_ionic_char",
      "f_norm2", "f_norm3", "f_norm5", "f_norm7",
      "f_frac_val_s", "f_frac_val_p", "f_frac_val_d") ++
      oxiColumns ++ Seq("f_homo_energy", "f_lumo_energy", "f_gap_ao")

  /** Per element: the `propNames` values, then 1.0 if it counts toward
    * matminer's TMetalFraction list (not the d-block predicate). */
  private val elementRow: Map[String, Array[Double]] =
    ElementData.bySymbol.map { case (sym, e) =>
      sym -> (propNames.map(p => numericProps(p)(e)) :+
        (if (ElementData.tmFractionElements(sym)) 1.0 else 0.0)).toArray
    }

  private val enIdx = propNames.indexOf("en")

  /** Division that raises on a zero divisor, as Spark's ANSI division does:
    * counts that sum to zero, a composition with no cation in the element
    * table, or one without valence electrons have no features. */
  private def div(a: Double, b: Double): Double =
    if (b == 0.0) throw new ArithmeticException(
      "[DIVIDE_BY_ZERO] composition features need counts with a nonzero sum, " +
        "a cation from the element table and valence electrons")
    else a / b

  /** Weighted std over weights with Σw² = `w2` (see the object doc). */
  private def unbiasedStd(variance: Double, w2: Double): Double =
    if (w2 > 0.999999) 0.0
    else {
      val v = div(variance, 1.0 - w2)
      math.sqrt(if (RowStats.lt(v, 0.0)) 0.0 else v)
    }

  /** One composition's features in `outputColumns` order; `els` and `cnts`
    * are the map's entries in stored order. */
  private def featureRow(els: Seq[String], cnts: Seq[Double]): Array[Double] = {
    // the oxidation-state, packing and band-edge code reads the composition
    // as a Spark UDF received it; the oxidation stats go first because they
    // raise for a composition with no cation in the element table
    val comp = els.zip(cnts).toMap
    val oxi = oxiStats(comp)
    // elements outside the table drop out of every stat but the total
    val total = sum(cnts.size)(cnts)
    val fracs = cnts.map(div(_, total))
    val known = els.indices.filter(i => elementRow.contains(els(i)))
    val f = known.map(fracs).toArray
    val x = known.map(i => elementRow(els(i))).toArray
    val k = f.length

    val out = Array.newBuilder[Double]
    val w2 = sum(k)(i => f(i) * f(i))
    val wmeans = propNames.indices.map { p =>
      val wmean = sum(k)(i => f(i) * x(i)(p))
      val (mn, mx) = minMax(k)(i => x(i)(p))
      out ++= Seq(wmean, unbiasedStd(sum(k)(i => f(i) * x(i)(p) * x(i)(p)) - wmean * wmean, w2),
        mn, mx, mx - mn)
      propNames(p) -> wmean
    }.toMap
    out += sum(k)(i => f(i) * x(i)(propNames.size)) // f_frac_tm
    // matminer BandCenter: NEGATED geometric mean of electronegativity
    // (an absolute band-center position estimate — confirmed against the
    // shipped scaler mean, which is exactly −our geo-mean)
    out += -StrictMath.exp(sum(k)(i => f(i) * StrictMath.log(x(i)(enIdx))))
    out += k.toDouble // f_nelements
    // ionic character over ordered pairs (the diagonal is 0); matminer
    // sums unordered pairs i<j, hence the ÷2 — confirmed exactly 2x the
    // scaler mean
    val ionic = (i: Int) => {
      val (a, b) = (i / k, i % k)
      f(a) * f(b) * (1.0 - StrictMath.exp(-0.25 * StrictMath.pow(x(a)(enIdx) - x(b)(enIdx), 2.0)))
    }
    out ++= Seq(sum(k * k)(ionic) / 2.0, minMax(k * k)(ionic)._2)
    for (p <- Seq(2, 3, 5, 7))
      out += StrictMath.pow(sum(k)(i => StrictMath.pow(f(i), p.toDouble)), 1.0 / p)
    val valTotal = wmeans("val_s") + wmeans("val_p") + wmeans("val_d") + wmeans("val_f")
    out ++= Seq("val_s", "val_p", "val_d").map(p => div(wmeans(p), valTotal))
    out ++= oxi
    val (apeMean, apeAbs) = apeDeviations(comp)
    val (d1, d3, d5) = apeClusterDistances(comp)
    out ++= Seq(apeMean, apeAbs, d1, d3, d5)
    // C8: rigid-band HOMO/LUMO energies + gap_AO (AtomicOrbitals)
    out ++= AtomicOrbitals.bandEdges(comp)
      .map(be => Seq(be.homoEnergy, be.lumoEnergy, be.gap)).getOrElse(Seq(0.0, 0.0, 0.0))
    out.result()
  }

  /** C7 weighted oxidation-state stats (states from the C12 guesser) and
    * C6 cation–anion electronegativity-difference stats (anion = O in
    * this corpus), in `oxiColumns` order up to f_endiff_range. The state
    * stats weigh every entry, an element outside the table with state 0;
    * the difference stats weigh the cations in the table by their counts. */
  private def oxiStats(comp: Map[String, Double]): Seq[Double] = {
    val states = OxidationStates.guess(comp)
    val (els, cnt) = comp.toArray.unzip
    val n = els.length
    val st = els.map(states.getOrElse(_, 0.0))
    val cntSum = sum(n)(cnt(_))
    val w = cnt.map(div(_, cntSum))
    val stMean = div(sum(n)(i => w(i) * st(i)), sum(n)(w(_)))
    val stStd = unbiasedStd(sum(n)(i => w(i) * st(i) * st(i)) - stMean * stMean,
      sum(n)(i => w(i) * w(i)))
    val (stMin, stMax) = minMax(n)(st(_))

    val enO = ElementData.bySymbol("O").en
    val cations = els.indices.filter(i => els(i) != "O" && ElementData.bySymbol.contains(els(i)))
    val m = cations.size
    val cw = cations.map(cnt)
    val ed = cations.map(i => enO - ElementData.bySymbol(els(i)).en)
    val cwSum = sum(m)(cw)
    val edMean = div(sum(m)(i => cw(i) * ed(i)), cwSum)
    val edStd = unbiasedStd(div(sum(m)(i => cw(i) * ed(i) * ed(i)), cwSum) - edMean * edMean,
      div(sum(m)(i => cw(i) * cw(i)), cwSum * cwSum))
    val (edMin, edMax) = minMax(m)(ed)
    Seq(stMin, stMax, stMax - stMin, stStd, edMean, edStd, edMin, edMax, edMax - edMin)
  }

  /** Featurize a frame of (idCol, composition Map[String,Double] counts):
    * one row per id with a non-empty composition — the id, then every
    * feature column. An input already on the driver ([[DriverRows]]) is
    * featurized there, in one thread (a row costs microseconds), and comes
    * back as a local relation; any other input runs the same rows in a
    * narrow map. */
  def featurize(spark: SparkSession, df: DataFrame, idCol: String, compCol: String): DataFrame = {
    // nullability as the aggregate plans declared it: only the count is non-null
    val schema = StructType(df.schema(idCol) +: outputColumns.map(c =>
      StructField(c, DoubleType, nullable = c != "f_nelements")))
    val entries = df.select(col(idCol), map_keys(col(compCol)), map_values(col(compCol)))
    val toRow = (r: Row) => {
      val els = if (r.isNullAt(1)) Nil else r.getSeq[String](1)
      if (els.isEmpty) None
      else Some(Row.fromSeq(r.get(0) +: featureRow(els, r.getSeq[Double](2)).toSeq))
    }
    DriverRows.of(entries) match {
      case Some(rows) => spark.createDataFrame(rows.toSeq.flatMap(toRow).asJava, schema)
      case None => entries.flatMap(toRow)(Encoders.row(schema))
    }
  }
}
