package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.regression.RandomForestRegressor
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.FormulaParser
import graft.materials.Materials

/** Dielectric-constant prediction models (SURVEY.md §2.E E1–E5).
  *
  * Mirrors the reference's `predict_log10_eps(target, dielectric_type,
  * model_type)` (ml_prediction.py:54-282) as an MLlib Pipeline:
  * VectorAssembler (E1) → StandardScaler withMean/withStd (E2, matching the
  * shipped scalers' config) → RandomForestRegressor on log10(ε) (E3/E4).
  * The reference's RF binaries are absent from its checkout
  * (.MISSING_LARGE_BLOBS), so models are trained in-engine on the
  * 1,266-record deduped training set (§2.F) and gated statistically against
  * the golden prediction files (MlSpec).
  *
  * Unlike the reference — which deserializes model+scaler on every call
  * (ml_prediction.py:277-280) — a trained PipelineModel is broadcast once
  * and serves any number of rows with a narrow transform: no shuffle, no
  * per-row I/O.
  */
object DielectricModel {

  sealed trait DielectricType { def key: String }
  case object Electronic extends DielectricType { val key = "el" }
  case object Ionic extends DielectricType { val key = "ion" }

  object DielectricType {
    /** Accept both the strict core spellings (el|ion) and the documented
      * CLI spellings (electronic|ionic) — the reference's CLI documents the
      * long forms but rejects them (main.py:10-12 vs ml_prediction.py:64-65);
      * we fix that (SURVEY.md §2.E caveat). */
    def parse(s: String): DielectricType = s.toLowerCase match {
      case "el" | "electronic" => Electronic
      case "ion" | "ionic" => Ionic
      case other => throw new IllegalArgumentException(
        s"dielectric type must be el|ion|electronic|ionic, got $other")
    }
  }

  sealed trait ModelType { def key: String }
  case object Comp extends ModelType { val key = "comp" }
  case object CompSt extends ModelType { val key = "comp_st" }

  object ModelType {
    def parse(s: String): ModelType = s.toLowerCase match {
      case "comp" => Comp
      case "comp_st" => CompSt
      case other => throw new IllegalArgumentException(
        s"model type must be comp|comp_st, got $other")
    }
  }

  /** Feature column set per model type (E1: ordered descriptor vectors). */
  def featureCols(mt: ModelType): Seq[String] = mt match {
    case Comp => CompositionFeaturizer.featureColumns
    case CompSt => CompositionFeaturizer.featureColumns ++ StructureFeaturizer.featureColumns
  }

  /** The 1,266-row training frame: (mp_id, comp, label = log10 ε_avg). */
  def trainingFrame(spark: SparkSession, diel: DielectricType): DataFrame = {
    val target = diel match {
      case Electronic => col("dielectric.epsilon_electronic_avg")
      case Ionic => col("dielectric.epsilon_ionic_avg")
    }
    Materials.referenceTrainingSet(Materials.readJson(spark))
      .select(col("mp_id"), FormulaParser.parseFormula(col("formula")).as("comp"),
        log10(target).as("label"))
  }

  /** Featurized training table (comp features always; structural features
    * joined in for comp_st — both sides key on mp_id, one shuffle each). */
  def featurizedTraining(spark: SparkSession, diel: DielectricType,
      mt: ModelType = Comp): DataFrame = {
    // slot-materialized per (diel, mt): the structure featurization runs
    // the Voronoi/Ewald kernels, and one train+predict pass otherwise
    // re-executes the featurizers 3×+ (scaler fit, RF input, prediction
    // transform), while the golden-parity export, ml_el_comp_pred and the
    // scaler drift report each re-derived the same frame from scratch
    // (r9 optimization round: the three were the slowest rows of the
    // full-surface [vtime] sweep)
    graft.operators.PersistSlots.cached(spark, s"ml-feat:${diel.key}:${mt.key}") {
      val base = trainingFrame(spark, diel)
      val comp = CompositionFeaturizer.featurize(spark, base, "mp_id", "comp")
        .join(base.select("mp_id", "label"), Seq("mp_id"))
      mt match {
        case Comp => comp
        case CompSt =>
          val mats = Materials.referenceTrainingSet(Materials.readJson(spark))
          comp.join(StructureFeaturizer.featurize(spark, mats), Seq("mp_id"))
      }
    }
  }

  /** Assemble → scale → RF pipeline. */
  def pipeline(mt: ModelType = Comp, numTrees: Int = 200, maxDepth: Int = 12,
      seed: Long = 42L): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(featureCols(mt).toArray)
      .setOutputCol("features_raw")
      .setHandleInvalid("keep")
    val scaler = new StandardScaler()
      .setInputCol("features_raw").setOutputCol("features")
      .setWithMean(true).setWithStd(true)
    val rf = new RandomForestRegressor()
      .setFeaturesCol("features").setLabelCol("label")
      .setNumTrees(numTrees).setMaxDepth(maxDepth).setSeed(seed)
      .setSubsamplingRate(0.9).setFeatureSubsetStrategy("onethird")
    new Pipeline().setStages(Array(assembler, scaler, rf))
  }

  /** Train a model for (dielectric type, model type). */
  def train(spark: SparkSession, diel: DielectricType, mt: ModelType = Comp,
      numTrees: Int = 200, maxDepth: Int = 12): PipelineModel =
    pipeline(mt, numTrees, maxDepth).fit(featurizedTraining(spark, diel, mt))

  /** Persist a trained model in Spark-native ML format (A5: the engine's
    * answer to the reference's joblib artifacts — loadable cluster-wide
    * with PipelineModel.load, no per-call deserialization). */
  def save(model: PipelineModel, path: String): Unit =
    model.write.overwrite().save(path)

  def load(path: String): PipelineModel = PipelineModel.load(path)

  /** Score arbitrary formulas: returns (formula, pred_log10, pred). */
  def predictFormulas(spark: SparkSession, model: PipelineModel,
      formulas: Seq[String]): DataFrame = {
    import spark.implicits._
    formulas.foreach(f => requireKnownElements(FormulaParser.parse(f).keys, f))
    val base = formulas.toDF("formula")
      .withColumn("comp", FormulaParser.parseFormula(col("formula")))
    val feats = CompositionFeaturizer.featurize(spark, base, "formula", "comp")
    model.transform(feats)
      .select(col("formula"), col("prediction").as("pred_log10"),
        pow(lit(10.0), col("prediction")).as("pred"))
  }

  /** In-sample predictions over the training set (golden-file comparable). */
  def predictTrainingSet(spark: SparkSession, model: PipelineModel,
      diel: DielectricType, mt: ModelType = Comp): DataFrame =
    model.transform(featurizedTraining(spark, diel, mt))
      .select(col("mp_id"), col("label"), col("prediction").as("pred_log10"))

  /** Score a structure JSON file (reference main.py `-s` input): accepts
    * either a full material record or a BARE pymatgen Structure JSON (what
    * `Structure.from_file` produces — no mp_id/formula fields). For a bare
    * structure the composition is derived from the sites and the path
    * doubles as the id (same convention as predictPoscar); space group is
    * unknown → P1. Comp-type models ignore the structural columns. */
  def predictStructureJson(spark: SparkSession, model: PipelineModel, mt: ModelType,
      path: String): DataFrame = {
    val mat0 = spark.read.schema(graft.materials.MaterialSchema.schema)
      .option("multiLine", true).json(path)
    val head0 = mat0.select(col("mp_id"), col("formula"), col("structure.sites")).head()
    val mat =
      if (!head0.isNullAt(0) || !head0.isNullAt(1)) mat0
      else {
        // bare Structure JSON: re-read with the structure sub-schema and
        // wrap it in the canonical record shape
        val st = spark.read.schema(graft.materials.MaterialSchema.structure)
          .option("multiLine", true).json(path)
        // reject disordered sites up front: the whole structure pipeline
        // (here and in StructureFeaturizer) reads species[0] at occupancy
        // 1, so a partially-occupied or multi-species site would get a
        // confidently WRONG composition rather than an error
        val disorderRow = st.select(expr(
          "size(filter(sites, s -> size(s.species) != 1 or " +
            "abs(s.species[0].occu - 1.0) > 1e-9)) as bad")).head()
        if (!disorderRow.isNullAt(0) && disorderRow.getInt(0) > 0)
          throw new IllegalArgumentException(
            s"$path has ${disorderRow.getInt(0)} disordered site(s) " +
              "(multiple species or occupancy != 1) — the featurizers " +
              "require ordered structures; order the structure first")
        val elemsRow = st
          .select(expr("transform(sites, s -> s.species[0].element)").as("elems")).head()
        if (elemsRow.isNullAt(0))
          throw new IllegalArgumentException(
            s"$path is neither a material record (mp_id/formula) nor a " +
              "pymatgen Structure JSON (lattice/sites) — cannot featurize")
        val counts = elemsRow.getSeq[String](0)
          .groupBy(identity).view.mapValues(_.size.toDouble).toMap
        requireKnownElements(counts.keys, path)
        val formula = counts.toSeq.sortBy(_._1).map { case (e, n) =>
          if (n == 1.0) e else s"$e${n.toInt}" }.mkString
        st.select(
          lit(path).as("mp_id"), lit(formula).as("formula"),
          struct(col("@module"), col("@class"), col("charge"),
            col("lattice"), col("sites")).as("structure"),
          struct(lit("none").as("source"), lit("P1").as("symbol"),
            lit(1).as("number"), lit("1").as("point_group"),
            lit("triclinic").as("crystal_system"), lit("P 1").as("hall")).as("spacegroup"),
          size(col("sites")).as("nsites"))
      }
    val base = mat.select(col("mp_id"), col("formula"),
      FormulaParser.parseFormula(col("formula")).as("comp"))
    val comp = CompositionFeaturizer.featurize(spark, base, "mp_id", "comp")
      .join(base.select("mp_id", "formula"), Seq("mp_id"))
    val feats = mt match {
      case Comp => comp
      case CompSt => comp.join(StructureFeaturizer.featurize(spark, mat), Seq("mp_id"))
    }
    model.transform(feats)
      .select(col("mp_id"), col("formula"), col("prediction").as("pred_log10"),
        pow(lit(10.0), col("prediction")).as("pred"))
  }

  /** Score a POSCAR file (reference main.py `-s POSCAR` input path, A3):
    * composition from the expanded species line; structural features from
    * the parsed lattice + coordinates (space group unknown from a bare
    * POSCAR → P1). */
  def predictPoscar(spark: SparkSession, model: PipelineModel, mt: ModelType,
      path: String): DataFrame = {
    import spark.implicits._
    val p = graft.sources.Poscar.parse(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
    val counts = p.siteElements.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    requireKnownElements(counts.keys, path)
    val formula = counts.toSeq.sortBy(_._1).map { case (e, n) =>
      if (n == 1.0) e else s"$e${n.toInt}" }.mkString
    val base = Seq((path, formula, counts)).toDF("mp_id", "formula", "comp")
    val comp = CompositionFeaturizer.featurize(spark, base, "mp_id", "comp")
      .join(base.select("mp_id", "formula"), Seq("mp_id"))
    val feats = mt match {
      case Comp => comp
      case CompSt =>
        val lat = graft.materials.Geometry.Lattice(p.lattice)
        val frac = graft.sources.Poscar.toFractional(p)
        val struct = Seq(StructureFeaturizer.StructIn(
          path, p.lattice.map(_.toSeq).toSeq, frac.map(_.toSeq).toSeq,
          p.siteElements.toSeq, lat.volume, 1, p.nsites)).toDS()
        comp.join(StructureFeaturizer.featurizeStructs(spark, struct), Seq("mp_id"))
    }
    model.transform(feats)
      .select(col("mp_id"), col("formula"), col("prediction").as("pred_log10"),
        pow(lit(10.0), col("prediction")).as("pred"))
  }

  /** CLI inputs can contain arbitrary elements; the featurizers silently
    * drop anything outside the 51-element corpus table from their stats,
    * which would turn an Fe₂O₃ request into a confident prediction for
    * plain O. Fail loudly instead. */
  private def requireKnownElements(elems: Iterable[String], source: String): Unit = {
    val unknown = elems.filterNot(ElementData.bySymbol.contains).toSeq.sorted
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"$source contains element(s) outside the model's 51-element corpus " +
          s"table: ${unknown.mkString(", ")} — prediction would silently " +
          "ignore them, so it is refused")
  }

  /** Golden prediction file → (mp_id, golden) frame. The file is one flat
    * JSON dict, parsed driver-side (1,266 entries) and parallelized. */
  def goldenPredictions(spark: SparkSession, modelName: String): DataFrame = {
    import spark.implicits._
    val path = s"/root/reference/oxi_diel_db/prediction_model/prediction_result_$modelName.json"
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val entry = """"((?:mp|mvc)-[0-9a-zA-Z]+)"\s*:\s*(-?[0-9.eE+]+)""".r
    entry.findAllMatchIn(text).map(m => (m.group(1), m.group(2).toDouble))
      .toSeq.toDF("mp_id", "golden")
  }

  /** Fixed export paths for the golden-parity oracle: Verify writes these
    * BEFORE the query dump (the Materials.exportRaw pattern) so the
    * DuckDB oracle recomputes the gate from the SAME parquet bytes. */
  val PredExportPath = "/tmp/graft_ml_pred.parquet"
  val GoldenExportPath = "/tmp/graft_ml_golden.parquet"

  private val parityCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** (mp_id, pred_log10, label) for the el_comp model — trained ONCE per
    * session (memoized): the prediction query, the golden-parity export,
    * and the gate query all share the fit. */
  def elCompPredFrame(spark: SparkSession): DataFrame =
    parityCache.getOrElseUpdate(spark.sparkContext.applicationId, {
      val m = train(spark, Electronic, numTrees = 60, maxDepth = 10)
      val df = predictTrainingSet(spark, m, Electronic)
        .select(col("mp_id"), round(col("pred_log10"), 6).as("pred_log10"), col("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    })

  /** Export per-mp_id predictions plus the reference golden file as
    * parquet — the inputs of the ml_golden_gate oracle query. */
  def exportGoldenParity(spark: SparkSession): Unit = {
    elCompPredFrame(spark)
      .coalesce(1).write.mode("overwrite").parquet(PredExportPath)
    goldenPredictions(spark, "el_comp")
      .coalesce(1).write.mode("overwrite").parquet(GoldenExportPath)
  }

  /** Query entries: raw predictions (rows-only — the RF fit itself has no
    * SQL equivalent) and the golden-parity GATE, which is fully oracled:
    * both engines read the exported parquet and compute the same
    * deterministic row (count + the MlSpec quality gates as booleans —
    * measured corr 0.984 and rmse 0.0204 sit far from the 0.85/0.06
    * thresholds, so cross-engine double-summation noise cannot flip
    * them). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ml_el_comp_pred" -> ((s: SparkSession, _: String) =>
      elCompPredFrame(s).select("mp_id", "pred_log10").orderBy("mp_id")),
    "ml_golden_gate" -> ((s: SparkSession, _: String) =>
      s.read.parquet(PredExportPath)
        .join(s.read.parquet(GoldenExportPath), Seq("mp_id"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          (corr(col("pred_log10"), col("golden")) > 0.85).as("corr_ok"),
          (sqrt(avg(pow(col("pred_log10") - col("label"), 2))) < 0.06).as("rmse_ok"))),
  )

  val oracleSql: Map[String, String] = Map(
    "ml_golden_gate" ->
      (s"""SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |corr(p.pred_log10, g.golden) > 0.85 AS corr_ok,
        |sqrt(avg(power(p.pred_log10 - p.label, 2))) < 0.06 AS rmse_ok
        |FROM '$PredExportPath/*.parquet' p
        |JOIN '$GoldenExportPath/*.parquet' g USING (mp_id)""").stripMargin
        .replaceAll("\n", " "),
  )
}
