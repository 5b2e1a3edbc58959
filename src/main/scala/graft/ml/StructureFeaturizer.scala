package graft.ml

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.materials.{Ewald, Geometry, Materials}
import graft.materials.Geometry.Lattice
import graft.ml.RowStats.{minMax, stddevPop, sum}

/** Structural (site-based) featurizers — SURVEY.md §2.C C11/C13/C14-lite/
  * C17/C18 over the periodic-geometry kernels.
  *
  * Dataflow: one typed flatMap over materials runs the per-site kernels
  * (neighbor list, Gaussian symmetry functions, Ewald, Voronoi) and then
  * reduces the sites to the material's feature row with the SiteFeaturizer
  * calculus (§2.D: mean, population std as np.std, min, max) in the same
  * task — embarrassingly parallel across materials, no explode, groupBy or
  * join. A distributed input's only shuffle is the repartition that
  * spreads the CPU-heavy kernels over the cluster; an input already on the
  * driver (a scored POSCAR, a generated window) runs the same two
  * functions on the driver's cores with no job and no shuffle.
  *
  * The reductions reproduce Spark's avg/stddev_pop/min/max bit for bit
  * (FeaturizerParitySpec): sums start at 0.0 in site order, the std runs
  * Spark's CentralMomentAgg update, and min/max use Spark's double
  * ordering.
  */
object StructureFeaturizer {

  /** Per-site kernel output. Voronoi-derived fields (SURVEY §2.C C14/C15/
    * C19): cell volume, face area/distance/pyramid-volume stats,
    * symmetry-weighted indices (solid-angle-weighted fraction of n-edged
    * faces, n = 3..6 — matminer's Symmetry_weighted_index_n with
    * use_symm_weights=True, reference ml_prediction.py:249-254), face-
    * area-weighted bond-length variation, and face-area-weighted
    * |Δproperty| to neighbors (LocalPropertyDifference, ward-prb-2017
    * preset property list, reference ml_prediction.py:213-219, 257-275). */
  final case class SiteFeatures(
      min_dist: Double, min_rel_dist: Double, nbr_dist_var: Double,
      g2_a: Double, g2_b: Double, g2_c: Double, g2_d: Double, ewald: Double,
      voro_vol: Double, voro_nfaces: Double, voro_area_mean: Double,
      voro_area_std: Double, voro_area_min: Double, voro_area_max: Double,
      voro_dist_mean: Double, voro_dist_std: Double,
      voro_dist_min: Double, voro_dist_max: Double,
      voro_subvol_max: Double, voro_bond_var: Double,
      symm_wt3: Double, symm_wt4: Double, symm_wt5: Double, symm_wt6: Double,
      lpd_en: Double, lpd_radius: Double, lpd_mass: Double,
      lpd_valence: Double, lpd_group: Double, lpd_row: Double,
      lpd_z: Double, lpd_mendeleev: Double, lpd_melting: Double,
      lpd_nd_valence: Double, lpd_n_unfilled: Double,
      lpd_ns_unfilled: Double, lpd_nd_unfilled: Double,
      lpd_gs_vol: Double, lpd_gs_magmom: Double, lpd_sg_num: Double,
      op_tet: Double, op_oct: Double, op_lin: Double,
      op_tri: Double, op_sqp: Double, op_ssw: Double,
      op_sgl: Double, op_bent150: Double, op_pent: Double, op_q6: Double,
      g4_pos: Double, g4_neg: Double)

  final case class StructIn(
      mp_id: String, matrix: Seq[Seq[Double]], abc: Seq[Seq[Double]],
      elems: Seq[String], volume: Double, sg_number: Int, nsites: Int)

  final case class StructOut(
      mp_id: String, density: Double, vpa: Double, packing: Double,
      sg_number: Double, nsites_d: Double,
      lat_anis: Double, lat_angle_dev: Double, sites: Seq[SiteFeatures])

  val NbrCutoff = 6.5 // Å, matminer GaussianSymmFunc default cutoff
  val G2Etas = Array(0.05, 4.0, 20.0, 80.0) // matminer default eta set

  /** Cosine cutoff function fc(r). */
  private def fc(r: Double, rc: Double): Double =
    if (r >= rc) 0.0 else 0.5 * (math.cos(math.Pi * r / rc) + 1.0)

  /** VIRE per-site ionic radii (pymatgen ValenceIonicRadiusEvaluator):
    * Shannon radius at (element, rounded oxidation state, Voronoi CN =
    * the cell's face count), with the evaluator's PER-SPECIES dict
    * semantics — `dict(zip(species_strings, radii))` lets the LAST site
    * of each species set the radius every site of that species uses.
    * When no charge-balanced common-state assignment exists (the same
    * compositions where BVAnalyzer raises — suboxides and some
    * antimonide-oxides), the evaluator leaves the structure UNDECORATED
    * and every site falls back to its ATOMIC radius — reproducing that
    * branch keeps those structures' relative distances near 1. */
  private[ml] def vireIonRadii(elems: Seq[String], counts: Map[String, Double],
      voroCn: Seq[Int], voroNbrElems: Seq[Seq[String]]): Array[Double] = {
    val n = elems.length
    // BVAnalyzer's bond-valence sums run over the tabulated (cation, O)
    // parameters; a CATION whose Voronoi shell holds no oxygen at all
    // gets a near-zero sum that matches no state → ValueError → the
    // undecorated fallback. (Anion-coordinated cations: the [ZnAs] layer
    // of LaZnAsO-type 1111s, the TaAs₃ units of A₃TaAs₃O.)
    val bal = OxidationStates.balanced(counts)
    val cationWithoutO = (0 until n).exists(i =>
      elems(i) != "O" && bal.exists(_(elems(i)) > 0) &&
        !voroNbrElems(i).contains("O"))
    bal match {
      case Some(b) if !cationWithoutO =>
        val roundedOxi = elems.map(e => math.round(b(e)).toInt)
        val speciesRadius = scala.collection.mutable.Map.empty[(String, Int), Double]
        for (i <- 0 until n)
          speciesRadius((elems(i), roundedOxi(i))) =
            ElementData.vireRadius(elems(i), roundedOxi(i), voroCn(i))
        (0 until n).map(i => speciesRadius((elems(i), roundedOxi(i)))).toArray
      case _ => elems.map(e => ElementData.bySymbol(e).radius).toArray
    }
  }

  /** Run all site kernels for one material. */
  def featurizeOne(in: StructIn): StructOut = {
    val lat = Lattice(in.matrix.map(_.toArray).toArray)
    val frac = in.abc.map(_.toArray).toArray
    val n = frac.length
    val radii = in.elems.map(e => ElementData.bySymbol(e).radius).toArray
    val masses = in.elems.map(e => ElementData.bySymbol(e).mass).toArray

    // one vector neighbor list drives min-dist, distance variation, G2 and
    // the coordination order parameters
    val nl = Geometry.neighborVectors(lat, frac, NbrCutoff)
    val bySite = nl.groupBy(_.siteIdx)

    // charges for Ewald from the composition-level guess
    val counts = in.elems.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val states = OxidationStates.guess(counts)
    val charges = in.elems.map(states).toArray
    val ewald = Ewald.siteEnergies(lat, frac, charges)

    // Voronoi cells drive C14/C15/C19 — and the VIRE radii below
    val voro = graft.materials.Voronoi.cellsWithSites(lat, frac)

    val ionRadii = vireIonRadii(in.elems, counts, voro.map(_._1.faces.size),
      voro.map { case (cell, siteMap) =>
        cell.faces.map(f => in.elems(siteMap(f.nbrIdx))) })

    // exact OPSiteFingerprint per-site values (shell-snapped CN
    // resolution + histogram vote — materials.OpFingerprint)
    val opSites = graft.materials.OpFingerprint.material(lat, frac)
    val props = in.elems.map(e => ElementData.bySymbol(e)).toArray
    val ens = props.map(_.en)

    val sites = (0 until n).map { i =>
      val nbrs = bySite.getOrElse(i, Seq.empty)
      val dists = nbrs.map(_.dist)
      val minD = if (dists.nonEmpty) dists.min else NbrCutoff
      // MinimumRelativeDistances: d/(r_i + r_j) minimized over ALL
      // neighbors (not the nearest-neighbor bond!) with Shannon IONIC
      // radii — matminer's ValenceIonicRadiusEvaluator convention. In
      // oxides the minimizer is often an O–O contact (2.5 Å / 2.80),
      // not the shorter cation–O bond (1.96 Å / 2.005).
      val minRel = nbrs.foldLeft(Double.MaxValue) { (acc, nb) =>
        math.min(acc, nb.dist / (ionRadii(i) + ionRadii(nb.nbrIdx)))
      } match { case Double.MaxValue => 1.0; case v => v }
      val meanD = if (dists.nonEmpty) dists.sum / dists.size else 0.0
      val varD =
        if (dists.size > 1 && meanD > 0)
          math.sqrt(dists.map(d => (d - meanD) * (d - meanD)).sum / dists.size) / meanD
        else 0.0
      val g2 = G2Etas.map(eta =>
        dists.map(r => math.exp(-eta * r * r / (NbrCutoff * NbrCutoff)) * fc(r, NbrCutoff)).sum)

      val (cell, siteMap) = voro(i)
      val areas = cell.faces.map(_.area)
      val areaSum = areas.sum.max(1e-12)
      val areaMean = areas.sum / math.max(1, areas.size)
      val areaStd =
        if (areas.size > 1)
          math.sqrt(areas.map(a => (a - areaMean) * (a - areaMean)).sum / areas.size)
        else 0.0
      // neighbor-distance stats (matminer Voro_dist_* are over the
      // NEIGHBOR distances, 2x the bisector-face distance — confirmed
      // against the shipped scaler means, which sit at exactly 2x)
      val fdists = cell.faces.map(_.dist * 2)
      val distMean = if (fdists.nonEmpty) fdists.sum / fdists.size else 0.0
      val distStd =
        if (fdists.size > 1)
          math.sqrt(fdists.map(d => (d - distMean) * (d - distMean)).sum / fdists.size)
        else 0.0
      // largest face-pyramid sub-volume (matminer Voro_vol_maximum)
      val subvolMax = cell.faces.map(f => f.area * f.dist / 3).maxOption.getOrElse(0.0)
      // symmetry-weighted indices: fraction of the total solid angle
      // subtended by n-edged faces (solid angle of a face pyramid ∝
      // area/dist² — exact enough for a weight; n-gonal faces mark
      // n-fold local symmetry)
      val solidW = cell.faces.map(f => f.area / (f.dist * f.dist).max(1e-12))
      val solidSum = solidW.sum.max(1e-12)
      def symmWt(n: Int): Double =
        cell.faces.zip(solidW).collect { case (f, w) if f.nVerts == n => w }.sum / solidSum
      // face-area-weighted bond lengths (face dist*2 = neighbor distance).
      // StructuralHeterogeneity's "neighbor distance variation" is the
      // weighted mean ABSOLUTE deviation over the mean (matminer
      // PropertyStats.avg_dev), not a weighted std — the std form drifted
      // the shipped "mean neighbor distance variation" stat 28% high.
      val wBond = cell.faces.map(f => f.area * 2 * f.dist).sum / areaSum
      val bondVar =
        if (wBond > 0)
          cell.faces.map(f => f.area * math.abs(2 * f.dist - wBond)).sum / areaSum / wBond
        else 0.0
      def lpd(prop: Int => Double): Double =
        cell.faces.map(f => f.area * math.abs(prop(siteMap(f.nbrIdx)) - prop(i))).sum / areaSum
      val sortedNbrs = nbrs.sortBy(_.dist)
      // exact OPSiteFingerprint values (shell-snapped CN resolution +
      // histogram vote over three shell widths — materials.OpFingerprint;
      // replaces the r2 CN-gap approximation that drifted the op-family
      // scaler components 25-50%)
      val ops = opSites(i)
      // G4 angular symmetry functions (Behler–Parrinello), η=0.005, ζ=4, λ=±1
      var g4p = 0.0; var g4n = 0.0
      val nn = sortedNbrs.size
      var jj = 0
      while (jj < nn) {
        var kk = jj + 1
        while (kk < nn) {
          val a = sortedNbrs(jj); val b = sortedNbrs(kk)
          val cos = (a.vec(0) * b.vec(0) + a.vec(1) * b.vec(1) + a.vec(2) * b.vec(2)) /
            (a.dist * b.dist)
          val djk = math.sqrt(
            math.pow(a.vec(0) - b.vec(0), 2) + math.pow(a.vec(1) - b.vec(1), 2) +
            math.pow(a.vec(2) - b.vec(2), 2))
          if (djk < NbrCutoff) {
            val expTerm = math.exp(-0.005 * (a.dist * a.dist + b.dist * b.dist + djk * djk) /
              (NbrCutoff * NbrCutoff))
            val cutTerm = fc(a.dist, NbrCutoff) * fc(b.dist, NbrCutoff) * fc(djk, NbrCutoff)
            val zeta = 4
            g4p += math.pow(2, 1 - zeta) * math.pow(1 + cos, zeta) * expTerm * cutTerm
            g4n += math.pow(2, 1 - zeta) * math.pow(math.max(0.0, 1 - cos), zeta) * expTerm * cutTerm
          }
          kk += 1
        }
        jj += 1
      }
      SiteFeatures(minD, minRel, varD, g2(0), g2(1), g2(2), g2(3), ewald(i),
        cell.volume, cell.faces.size.toDouble, areaMean, areaStd,
        areas.minOption.getOrElse(0.0), areas.maxOption.getOrElse(0.0),
        distMean, distStd,
        fdists.minOption.getOrElse(0.0), fdists.maxOption.getOrElse(0.0),
        subvolMax, bondVar,
        symmWt(3), symmWt(4), symmWt(5), symmWt(6),
        lpd(j => ens(j)), lpd(j => radii(j)), lpd(j => masses(j)),
        // lpd property table = MagpieData (ward-prb-2017 preset): Magpie
        // Row keeps La in period 6 and Magpie MendeleevNumber is the
        // group-ordered scale — both differ from the pymatgen values the
        // comp-side featurizer reads
        lpd(j => props(j).valence.toDouble), lpd(j => props(j).group.toDouble),
        lpd(j => props(j).magpieRow.toDouble),
        lpd(j => props(j).z.toDouble), lpd(j => props(j).mendeleevMagpie.toDouble),
        lpd(j => props(j).meltingK),
        lpd(j => props(j).valD.toDouble), lpd(j => props(j).unfilled.toDouble),
        lpd(j => props(j).unfilledS.toDouble), lpd(j => props(j).unfilledD.toDouble),
        lpd(j => props(j).gsVolPa), lpd(j => props(j).gsMagmom),
        lpd(j => props(j).sgNumber.toDouble),
        ops.tet, ops.oct, ops.lin, ops.tri, ops.sqp, ops.ssw,
        ops.sgl, ops.bent150, ops.pent, ops.q6,
        g4p, g4n)
    }

    val amuToG = 1.66053906660e-24
    val density = masses.sum * amuToG / (lat.volume * 1e-24)
    val packing = radii.map(r => 4.0 / 3 * math.Pi * r * r * r).sum / lat.volume
    // lattice shape: axis-length anisotropy and mean angle deviation from
    // 90° — soft/low-symmetry cells correlate with large ionic response
    val lens = lat.m.map(Geometry.norm)
    val anis = lens.max / lens.min
    def angle(a: Array[Double], b: Array[Double]): Double = math.toDegrees(math.acos(
      (a(0) * b(0) + a(1) * b(1) + a(2) * b(2)) / (Geometry.norm(a) * Geometry.norm(b))))
    val angles = Seq(angle(lat.m(0), lat.m(1)), angle(lat.m(1), lat.m(2)), angle(lat.m(0), lat.m(2)))
    val angleDev = angles.map(x => math.abs(x - 90.0)).sum / 3
    StructOut(in.mp_id, density, lat.volume / n, packing,
      in.sg_number.toDouble, n.toDouble, anis, angleDev, sites)
  }

  /** Per-site fields reduced with the §2.D calculus, in SiteFeatures
    * field order (featureRow reads the sites positionally). */
  val siteFields: Seq[String] = Seq(
    "min_dist", "min_rel_dist", "nbr_dist_var", "g2_a", "g2_b", "g2_c", "g2_d", "ewald",
    "voro_vol", "voro_nfaces", "voro_area_mean", "voro_area_std",
    "voro_area_min", "voro_area_max", "voro_dist_mean", "voro_dist_std",
    "voro_dist_min", "voro_dist_max", "voro_subvol_max", "voro_bond_var",
    "symm_wt3", "symm_wt4", "symm_wt5", "symm_wt6",
    "lpd_en", "lpd_radius", "lpd_mass", "lpd_valence", "lpd_group", "lpd_row",
    "lpd_z", "lpd_mendeleev", "lpd_melting", "lpd_nd_valence", "lpd_n_unfilled",
    "lpd_ns_unfilled", "lpd_nd_unfilled", "lpd_gs_vol", "lpd_gs_magmom",
    "lpd_sg_num",
    "op_tet", "op_oct", "op_lin", "op_tri", "op_sqp", "op_ssw",
    "op_sgl", "op_bent150", "op_pent", "op_q6", "g4_pos", "g4_neg")

  private val siteAggColumns: Seq[String] =
    for {
      f <- siteFields
      a <- Seq("mean", "std", "min", "max")
    } yield s"s_${f}_$a"

  private val materialColumns: Seq[String] = Seq("s_density", "s_vpa", "s_packing",
    "s_sg_number", "s_nsites", "s_lat_anis", "s_lat_angle_dev", "s_voro_bond_var_avgdev")

  /** Ordered structural feature columns (the model's vector order). */
  val featureColumns: Seq[String] = materialColumns ++ siteAggColumns

  /** Featurize the materials frame (see featurizeStructs). */
  def featurize(spark: SparkSession, materials: DataFrame): DataFrame = {
    import spark.implicits._
    featurizeStructs(spark, materials.select(
      col("mp_id"),
      col("structure.lattice.matrix").as("matrix"),
      col("structure.sites.abc").as("abc"),
      expr("transform(structure.sites, s -> s.species[0].element)").as("elems"),
      col("structure.lattice.volume").as("volume"),
      col("spacegroup.number").as("sg_number"),
      col("nsites")).as[StructIn])
  }

  /** Featurize raw StructIn rows (e.g. POSCAR-derived structures): one row
    * per material with at least one site — mp_id, the four reductions of
    * every site field, then the per-material columns. An input already on
    * the driver ([[DriverRows]]) is featurized there, one future per
    * material over the driver's cores, and comes back in input order as a
    * local relation; any other input is spread over the cluster first. */
  def featurizeStructs(spark: SparkSession,
      in: org.apache.spark.sql.Dataset[StructIn]): DataFrame = {
    val schema = StructType(StructField("mp_id", StringType) +:
      (siteAggColumns ++ materialColumns).map(StructField(_, DoubleType)))
    DriverRows.of(in) match {
      case Some(structs) =>
        // the kernels cost milliseconds per material: a sequential loop
        // lost to the distributed map on an 84-row window, so use every core
        import scala.concurrent.ExecutionContext.Implicits.global
        val rows = Future.traverse(structs.toSeq)(s => Future(featureRow(featurizeOne(s))))
        spark.createDataFrame(Await.result(rows, Duration.Inf).flatten.asJava, schema)
      case None =>
        // size the CPU-heavy kernel stage to the cluster, NOT to however the
        // input landed (the JSON ingest coalesces to 4 partitions; a
        // single-file parquet read is 1): the shuffle of this tiny frame is
        // noise next to the Voronoi/Ewald cost it parallelizes
        in.repartition(spark.sparkContext.defaultParallelism)
          .flatMap(s => featureRow(featurizeOne(s)))(Encoders.row(schema))
    }
  }

  /** Reduce one material's sites to its feature row; None without sites. */
  private def featureRow(o: StructOut): Option[Row] = {
    val n = o.sites.size
    if (n == 0) return None
    val sites = o.sites.map(_.productIterator.map(_.asInstanceOf[Double]).toArray)
    val siteAggs = siteFields.indices.flatMap { f =>
      val x = (i: Int) => sites(i)(f)
      val (mn, mx) = minMax(n)(x)
      Seq(sum(n)(x) / n, stddevPop(n)(x), mn, mx)
    }
    // avg_dev (mean absolute deviation) of the bond-length variation —
    // StructuralHeterogeneity's second reducer
    val bv = o.sites.map(_.voro_bond_var)
    val bvMean = sum(n)(bv) / n
    val bvAvgDev = sum(n)(i => math.abs(bv(i) - bvMean)) / n
    Some(Row.fromSeq(o.mp_id +: siteAggs ++: Seq(o.density, o.vpa, o.packing, o.sg_number,
      o.nsites_d, o.lat_anis, o.lat_angle_dev, bvAvgDev)))
  }
}
