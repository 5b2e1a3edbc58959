package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.materials.Materials

/** Scaler-parity drift report (SURVEY §5.2.2): the reference ships the
  * fitted sklearn scaler `mean_`/`scale_` vectors for all four models
  * (the prediction_model scaler joblibs, extracted by tools/extract_scaler.py
  * into tools/scaler_vectors.json) — the only per-FEATURE fidelity oracle
  * available, since the matminer tables themselves are not in the
  * checkout. For every reference descriptor label (ml_prediction.py
  * :83-282, transcribed below in order) the report emits the shipped
  * mean/scale next to the engine counterpart feature's mean/std over the
  * same 1,266-record training set, plus relative drifts. Labels with no
  * engine counterpart (e.g. the APE nearest-cluster distances) appear
  * with a null engine column — honest gaps, not silent omissions.
  */
object ScalerDrift {

  val VectorsPath = "/root/repo/tools/scaler_vectors.json"

  /** Reference descriptor labels per model, in scaler order, with the
    * engine feature column each maps to (None = not implemented). */
  val labelMap: Map[String, Seq[(String, Option[String])]] = {
    // shared composition sub-lists
    def l(s: String, c: String) = (s, Some(c))
    Map(
      "el_comp" -> Seq(
        l("PymatgenData minimum X", "f_en_min"),
        l("PymatgenData range X", "f_en_range"),
        l("PymatgenData std_dev X", "f_en_wstd"),
        l("PymatgenData mean row", "f_row_wmean"),
        l("PymatgenData std_dev row", "f_row_wstd"),
        l("PymatgenData mean group", "f_group_wmean"),
        l("PymatgenData mean block", "f_block_num_wmean"),
        l("PymatgenData std_dev block", "f_block_num_wstd"),
        l("PymatgenData mean atomic_mass", "f_mass_wmean"),
        l("PymatgenData std_dev atomic_mass", "f_mass_wstd"),
        l("PymatgenData std_dev atomic_radius", "f_radius_wstd"),
        l("PymatgenData minimum mendeleev_no", "f_mendeleev_min"),
        l("PymatgenData range mendeleev_no", "f_mendeleev_range"),
        l("PymatgenData std_dev mendeleev_no", "f_mendeleev_wstd"),
        l("PymatgenData mean thermal_conductivity", "f_thermal_cond_wmean"),
        l("PymatgenData std_dev thermal_conductivity", "f_thermal_cond_wstd"),
        l("PymatgenData mean melting_point", "f_melting_wmean"),
        l("PymatgenData std_dev melting_point", "f_melting_wstd"),
        l("avg s valence electrons", "f_val_s_wmean"),
        l("avg d valence electrons", "f_val_d_wmean"),
        l("frac s valence electrons", "f_frac_val_s"),
        l("frac p valence electrons", "f_frac_val_p"),
        l("frac d valence electrons", "f_frac_val_d"),
        l("avg ionic char", "f_avg_ionic_char"),
        l("transition metal fraction", "f_frac_tm"),
        l("maximum EN difference", "f_endiff_max"),
        l("range EN difference", "f_endiff_range"),
        l("mean EN difference", "f_endiff_mean"),
        l("std_dev EN difference", "f_endiff_std"),
        l("band center", "f_band_center"),
        l("std_dev oxidation state", "f_oxi_std"),
        l("HOMO_energy", "f_homo_energy"),
        l("LUMO_energy", "f_lumo_energy"),
        l("gap_AO", "f_gap_ao")),
      "ion_comp" -> Seq(
        l("3-norm", "f_norm3"),
        l("5-norm", "f_norm5"),
        l("PymatgenData mean X", "f_en_wmean"),
        l("PymatgenData mean row", "f_row_wmean"),
        l("PymatgenData std_dev row", "f_row_wstd"),
        l("PymatgenData std_dev group", "f_group_wstd"),
        l("PymatgenData mean block", "f_block_num_wmean"),
        l("PymatgenData std_dev block", "f_block_num_wstd"),
        l("PymatgenData maximum atomic_mass", "f_mass_max"),
        l("PymatgenData range atomic_mass", "f_mass_range"),
        l("PymatgenData mean atomic_mass", "f_mass_wmean"),
        l("PymatgenData std_dev atomic_mass", "f_mass_wstd"),
        l("PymatgenData maximum atomic_radius", "f_radius_max"),
        l("PymatgenData range atomic_radius", "f_radius_range"),
        l("PymatgenData mean atomic_radius", "f_radius_wmean"),
        l("PymatgenData std_dev atomic_radius", "f_radius_wstd"),
        l("PymatgenData minimum mendeleev_no", "f_mendeleev_min"),
        l("PymatgenData mean mendeleev_no", "f_mendeleev_wmean"),
        l("PymatgenData std_dev mendeleev_no", "f_mendeleev_wstd"),
        l("PymatgenData mean thermal_conductivity", "f_thermal_cond_wmean"),
        l("PymatgenData std_dev thermal_conductivity", "f_thermal_cond_wstd"),
        l("PymatgenData mean melting_point", "f_melting_wmean"),
        l("PymatgenData std_dev melting_point", "f_melting_wstd"),
        l("avg s valence electrons", "f_val_s_wmean"),
        l("frac s valence electrons", "f_frac_val_s"),
        l("frac p valence electrons", "f_frac_val_p"),
        l("frac d valence electrons", "f_frac_val_d"),
        l("avg ionic char", "f_avg_ionic_char"),
        l("transition metal fraction", "f_frac_tm"),
        l("minimum EN difference", "f_endiff_min"),
        l("range EN difference", "f_endiff_range"),
        l("mean EN difference", "f_endiff_mean"),
        l("std_dev EN difference", "f_endiff_std"),
        l("range oxidation state", "f_oxi_range"),
        l("std_dev oxidation state", "f_oxi_std"),
        l("LUMO_energy", "f_lumo_energy"),
        l("gap_AO", "f_gap_ao"),
        l("mean simul. packing efficiency", "f_ape_mean"),
        l("mean abs simul. packing efficiency", "f_ape_absdev"),
        l("dist from 1 clusters |APE| < 0.010", "f_ape_dist1"),
        l("dist from 3 clusters |APE| < 0.010", "f_ape_dist3"),
        l("dist from 5 clusters |APE| < 0.010", "f_ape_dist5")),
      "el_comp_st" -> Seq(
        l("PymatgenData std_dev X", "f_en_wstd"),
        l("PymatgenData mean block", "f_block_num_wmean"),
        l("PymatgenData std_dev atomic_mass", "f_mass_wstd"),
        l("frac d valence electrons", "f_frac_val_d"),
        l("transition metal fraction", "f_frac_tm"),
        l("maximum EN difference", "f_endiff_max"),
        l("mean EN difference", "f_endiff_mean"),
        l("HOMO_energy", "f_homo_energy"),
        l("LUMO_energy", "f_lumo_energy"),
        l("density", "s_density"),
        l("mean dist_btw_nn", "s_min_rel_dist_mean"),
        l("std dist_btw_nn", "s_min_rel_dist_std"),
        l("tetrahedral CN_4 max", "s_op_tet_max"),
        l("rectangular see-saw-like CN_4 max", "s_op_ssw_max"),
        l("Ewald site energy max", "s_ewald_max"),
        l("Voro_area_std_dev max", "s_voro_area_std_max"),
        l("Voro_area_std_dev mean", "s_voro_area_std_mean"),
        l("Voro_dist_minimum min", "s_voro_dist_min_min"),
        l("Voro_dist_minimum std", "s_voro_dist_min_std"),
        l("G2_20.0 std", "s_g2_c_std"),
        l("G2_80.0 max", "s_g2_d_max"),
        l("G4_0.005_4.0_-1.0 mean", "s_g4_neg_mean"),
        l("local difference in NdValence mean", "s_lpd_nd_valence_mean"),
        l("local difference in NValence min", "s_lpd_valence_min"),
        l("local difference in NValence std", "s_lpd_valence_std"),
        l("local difference in NdUnfilled mean", "s_lpd_nd_unfilled_mean"),
        l("local difference in NUnfilled min", "s_lpd_n_unfilled_min"),
        l("local difference in NUnfilled mean", "s_lpd_n_unfilled_mean"),
        l("local difference in GSmagmom mean", "s_lpd_gs_magmom_mean")),
      "ion_comp_st" -> Seq(
        l("PymatgenData std_dev row", "f_row_wstd"),
        l("PymatgenData mean thermal_conductivity", "f_thermal_cond_wmean"),
        l("PymatgenData std_dev melting_point", "f_melting_wstd"),
        l("transition metal fraction", "f_frac_tm"),
        l("gap_AO", "f_gap_ao"),
        l("density", "s_density"),
        l("packing fraction", "s_packing"),
        // StructuralHeterogeneity's variation is over VORONOI-weighted
        // bond lengths — the engine's voro_bond_var, not the raw
        // cutoff-shell variation
        l("mean neighbor distance variation", "s_voro_bond_var_mean"),
        l("avg_dev neighbor distance variation", "s_voro_bond_var_avgdev"),
        l("sgl_bd CN_1 mean", "s_op_sgl_mean"),
        l("bent 150 degrees CN_2 mean", "s_op_bent150_mean"),
        l("linear CN_2 mean", "s_op_lin_mean"),
        l("trigonal planar CN_3 mean", "s_op_tri_mean"),
        l("pentagonal planar CN_5 std", "s_op_pent_std"),
        l("octahedral CN_6 max", "s_op_oct_max"),
        l("octahedral CN_6 std", "s_op_oct_std"),
        l("q6 CN_12 mean", "s_op_q6_mean"),
        l("Ewald site energy max", "s_ewald_max"),
        l("Symmetry_weighted_index_4 std", "s_symm_wt4_std"),
        l("Voro_vol_maximum mean", "s_voro_subvol_max_mean"),
        l("Voro_area_std_dev mean", "s_voro_area_std_mean"),
        l("Voro_area_minimum std", "s_voro_area_min_std"),
        l("Voro_area_maximum min", "s_voro_area_max_min"),
        l("Voro_dist_std_dev mean", "s_voro_dist_std_mean"),
        l("G2_80.0 min", "s_g2_d_min"),
        l("G4_0.005_4.0_1.0 std", "s_g4_pos_std"),
        l("local difference in Number max", "s_lpd_z_max"),
        l("local difference in MendeleevNumber max", "s_lpd_mendeleev_max"),
        l("local difference in MendeleevNumber min", "s_lpd_mendeleev_min"),
        l("local difference in AtomicWeight max", "s_lpd_mass_max"),
        l("local difference in AtomicWeight mean", "s_lpd_mass_mean"),
        l("local difference in MeltingT mean", "s_lpd_melting_mean"),
        l("local difference in Row max", "s_lpd_row_max"),
        l("local difference in Electronegativity min", "s_lpd_en_min"),
        l("local difference in NValence std", "s_lpd_valence_std"),
        l("local difference in NsUnfilled mean", "s_lpd_ns_unfilled_mean"),
        l("local difference in NdUnfilled max", "s_lpd_nd_unfilled_max"),
        l("local difference in NdUnfilled std", "s_lpd_nd_unfilled_std"),
        l("local difference in NUnfilled max", "s_lpd_n_unfilled_max"),
        l("local difference in NUnfilled min", "s_lpd_n_unfilled_min"),
        l("local difference in NUnfilled mean", "s_lpd_n_unfilled_mean"),
        l("local difference in NUnfilled std", "s_lpd_n_unfilled_std"),
        l("local difference in GSvolume_pa max", "s_lpd_gs_vol_max"),
        l("local difference in GSvolume_pa min", "s_lpd_gs_vol_min"),
        l("local difference in SpaceGroupNumber max", "s_lpd_sg_num_max")))
  }

  private val vecSchema = {
    val m = StructType(Seq(
      StructField("mean", ArrayType(DoubleType)),
      StructField("scale", ArrayType(DoubleType))))
    StructType(Seq("el_comp", "el_comp_st", "ion_comp", "ion_comp_st")
      .map(StructField(_, m)))
  }

  /** Shipped (mean, scale) vectors per model. */
  def referenceVectors(spark: SparkSession,
      path: String = VectorsPath): Map[String, (Seq[Double], Seq[Double])] = {
    val row = spark.read.schema(vecSchema).option("multiLine", true).json(path).head()
    labelMap.keys.map { m =>
      val s = row.getStruct(row.fieldIndex(m))
      m -> (s.getSeq[Double](0), s.getSeq[Double](1))
    }.toMap
  }

  /** The drift report: one row per reference descriptor component. */
  def report(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val ref = referenceVectors(spark)
    // engine features over the same 1,266-record training set (comp +
    // structural; structural featurization runs once and serves both
    // *_comp_st models)
    // same featurized frame the model trains on (slot-materialized in
    // DielectricModel — r9: the report re-derived the full comp+struct
    // featurization from scratch, the 2nd-slowest row of the [vtime]
    // sweep); the extra label column is inert to the per-feature stats
    val feats = DielectricModel.featurizedTraining(spark,
      DielectricModel.Electronic, DielectricModel.CompSt)
    val engineCols = labelMap.values.flatten.flatMap(_._2).toSeq.distinct
    val aggs = engineCols.flatMap(c =>
      Seq(avg(col(c)).as(s"m_$c"), stddev_pop(col(c)).as(s"s_$c")))
    val statsRow = feats.agg(aggs.head, aggs.tail: _*).head()
    def stat(prefix: String, c: String): Double =
      statsRow.getDouble(statsRow.fieldIndex(s"${prefix}_$c"))

    val rows = labelMap.toSeq.flatMap { case (model, labels) =>
      val (means, scales) = ref(model)
      require(labels.size == means.size,
        s"$model: ${labels.size} labels vs ${means.size} scaler components")
      labels.zipWithIndex.map { case ((label, colOpt), i) =>
        val engMean = colOpt.map(stat("m", _))
        val engStd = colOpt.map(stat("s", _))
        def rel(e: Option[Double], r: Double): Option[Double] =
          e.map(v => if (math.abs(r) > 1e-12) math.abs(v - r) / math.abs(r) else math.abs(v - r))
        (model, i, label, colOpt.getOrElse(null),
          means(i), scales(i),
          engMean.map(Double.box).orNull, engStd.map(Double.box).orNull,
          rel(engMean, means(i)).map(Double.box).orNull,
          rel(engStd, scales(i)).map(Double.box).orNull)
      }
    }
    rows.toDF("model", "idx", "label", "engine_col",
      "ref_mean", "ref_scale", "eng_mean", "eng_std",
      "mean_drift_rel", "scale_drift_rel")
      .orderBy("model", "idx")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // rows-only (the fixture is engine-side, not a sf table): gated by
    // ScalerDriftSpec instead of the DuckDB oracle
    "ml_scaler_drift" -> ((s: SparkSession, _: String) => report(s)),
  )
}
