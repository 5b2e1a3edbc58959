package graft.ml

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.FormulaParser

/** ML pipeline verification: featurizer correctness, model quality gates
  * against the reference's golden prediction files (SURVEY.md §5.2.2, §6).
  *
  * Exact RF parity is impossible (reference binaries absent); gates are the
  * survey's statistical ones: correlation with golden predictions and the
  * error ordering el < ion. */
class MlSpec extends SparkSpec {

  test("formula parser: counts, nesting, fractions") {
    assert(FormulaParser.parse("Ca2SnO4") == Map("Ca" -> 2.0, "Sn" -> 1.0, "O" -> 4.0))
    assert(FormulaParser.parse("Ba(AlO2)2") == Map("Ba" -> 1.0, "Al" -> 2.0, "O" -> 4.0))
    assert(FormulaParser.parse("SiO2") == Map("Si" -> 1.0, "O" -> 2.0))
    val f = FormulaParser.fractions("SiO2")
    assert(math.abs(f("Si") - 1.0 / 3) < 1e-12 && math.abs(f("O") - 2.0 / 3) < 1e-12)
  }

  test("element data: configuration-derived properties are sane") {
    val o = ElementData.bySymbol("O")
    assert(o.valS == 2 && o.valP == 4 && o.row == 2 && o.group == 16 && !o.isTM)
    val ti = ElementData.bySymbol("Ti")
    assert(ti.valD == 2 && ti.valS == 2 && ti.group == 4 && ti.isTM)
    val cu = ElementData.bySymbol("Cu")
    assert(cu.valD == 10 && cu.valS == 1 && cu.group == 11)
    val pd = ElementData.bySymbol("Pd")
    // row from the noble-gas core: Pd (4d10 5s0 exception) is period 5
    // even with no occupied n=5 orbital
    assert(pd.valD == 10 && pd.valS == 0 && pd.group == 10 && pd.row == 5)
    val ba = ElementData.bySymbol("Ba")
    assert(ba.valS == 2 && ba.group == 2 && ba.block == "s")
    // all 51 corpus elements present
    assert(ElementData.all.size == 51)
  }

  test("atomic orbitals: rigid-band edges match hand-filled pools (C8)") {
    // MgO, 20 electrons: Mg core(10) + O core(2) + Mg? no — fill by energy:
    // cores(12) → O2s(14) → O2p(20) exact → HOMO = O 2p, LUMO = Mg 3s
    val mgo = AtomicOrbitals.bandEdges(Map("Mg" -> 1.0, "O" -> 1.0)).get
    assert(mgo.homoCharacter == "O 2p" && mgo.lumoCharacter == "Mg 3s")
    assert(math.abs(mgo.homoEnergy - (-0.338381)) < 1e-12)
    assert(math.abs(mgo.lumoEnergy - (-0.175427)) < 1e-12)
    assert(math.abs(mgo.gap - 0.162954) < 1e-6)

    // TiO2, 54 electrons: cores(22) → O2s x2 (26) → O2p x2 (38) →
    // Ti4s(40) < Ti3d... no: Ti 4s (-0.167106) is BELOW Ti 3d (-0.170289)?
    // -0.170289 < -0.167106, so 3d fills first: 38+10=48 → 4s: 50 < 54?
    // capacities: Ti3d=10, Ti4s=2 → 38+10+2 = 50 ≠ 54. Recount: Ti core
    // is 18, O cores 2x2=4 → 22; O2s 2x2 → 26; O2p 2x6 → 38; Ti3d → 48;
    // Ti4s → 50; pool exhausted at 50 < 54?! No: electrons = 22+16 = 38.
    // cores 22 → O2s 26 → O2p 38 exact → HOMO = O 2p, LUMO = Ti 3d.
    val tio2 = AtomicOrbitals.bandEdges(Map("Ti" -> 1.0, "O" -> 2.0)).get
    assert(tio2.homoCharacter == "O 2p" && tio2.lumoCharacter == "Ti 3d")
    assert(math.abs(tio2.gap - (-0.170289 - (-0.338381))) < 1e-9)

    // CrO, 32 electrons: cores(20) → O2s(22) → O2p(28) → Cr4s(30) →
    // Cr3d partial (30+10 crosses 32) → metallic edge, gap 0
    val cro = AtomicOrbitals.bandEdges(Map("Cr" -> 1.0, "O" -> 1.0)).get
    assert(cro.homoCharacter == "Cr 3d" && cro.lumoCharacter == "Cr 3d")
    assert(cro.gap == 0.0)

    // scale invariance: Ti2O4 == TiO2
    val ti2o4 = AtomicOrbitals.bandEdges(Map("Ti" -> 2.0, "O" -> 4.0)).get
    assert(ti2o4 == tio2)

    // every corpus element alone yields a finite valence-range HOMO
    ElementData.all.foreach { e =>
      val be = AtomicOrbitals.bandEdges(Map(e.symbol -> 1.0)).get
      assert(be.homoEnergy < -0.02 && be.homoEnergy > -1.2,
        s"${e.symbol} HOMO ${be.homoEnergy} outside valence range")
      assert(be.lumoEnergy >= be.homoEnergy)
    }
  }

  test("featurizer: SiO2 weighted stats match hand computation") {
    import spark.implicits._
    val df = Seq(("SiO2", Map("Si" -> 1.0, "O" -> 2.0))).toDF("id", "comp")
    val row = CompositionFeaturizer.featurize(spark, df, "id", "comp").head()
    val cols = CompositionFeaturizer.featurize(spark, df, "id", "comp").columns
    def v(c: String) = row.getDouble(cols.indexOf(c))
    val enSi = 1.90; val enO = 3.44
    val wmean = enSi / 3 + 2 * enO / 3
    assert(math.abs(v("f_en_wmean") - wmean) < 1e-9)
    // unbiased reliability-weight std: pop variance / (1 − Σw²);
    // Σw² = 1/9 + 4/9 = 5/9 for (1/3, 2/3)
    val popVar = enSi * enSi / 3 + 2 * enO * enO / 3 - wmean * wmean
    val wstd = math.sqrt(popVar / (1.0 - 5.0 / 9.0))
    assert(math.abs(v("f_en_wstd") - wstd) < 1e-9)
    assert(math.abs(v("f_en_min") - enSi) < 1e-12)
    assert(math.abs(v("f_en_max") - enO) < 1e-12)
    // stoich 3-norm: (f_Si^3 + f_O^3)^(1/3) = ((1/27) + (8/27))^(1/3) = (1/3)^(1/3)
    assert(math.abs(v("f_norm3") - math.pow(1.0 / 3, 1.0 / 3)) < 1e-9)
    assert(v("f_nelements") == 2.0)
    assert(v("f_frac_tm") == 0.0)
    // ionic char over UNORDERED pairs: fSi*fO * (1 - exp(-0.25 dEN^2))
    val ic = (1.0 / 3) * (2.0 / 3) * (1 - math.exp(-0.25 * math.pow(enSi - enO, 2)))
    assert(math.abs(v("f_avg_ionic_char") - ic) < 1e-9)
    // band center: negated geometric mean of electronegativity
    assert(math.abs(v("f_band_center") +
      math.exp(math.log(enSi) / 3 + 2 * math.log(enO) / 3)) < 1e-9)
  }

  test("el_comp model: quality gates vs golden predictions") {
    val model = DielectricModel.train(spark, DielectricModel.Electronic,
      numTrees = 120, maxDepth = 12)
    val preds = DielectricModel.predictTrainingSet(spark, model, DielectricModel.Electronic)
    val joined = preds.join(
      DielectricModel.goldenPredictions(spark, "el_comp"), Seq("mp_id")).cache()
    assert(joined.count() == 1266)
    val stats = joined.select(
      corr("pred_log10", "golden").as("c"),
      sqrt(avg(pow(col("pred_log10") - col("label"), 2))).as("rmse")).head()
    info(s"el_comp: corr_with_golden=${stats.getDouble(0)} rmse_vs_dft=${stats.getDouble(1)}")
    assert(stats.getDouble(0) > 0.85, s"corr ${stats.getDouble(0)}")
    assert(stats.getDouble(1) < 0.06, s"rmse ${stats.getDouble(1)}") // golden: 0.0215
  }

  test("ml_golden_gate: exported parity parquet yields a passing gate row") {
    DielectricModel.exportGoldenParity(spark)
    val row = DielectricModel.queries("ml_golden_gate")(spark, "").head()
    assert(row.getLong(0) == 1266, s"join covered ${row.getLong(0)} of 1266 goldens")
    assert(row.getBoolean(1), "corr gate failed")
    assert(row.getBoolean(2), "rmse gate failed")
  }

  test("ion_comp model: quality gates vs golden predictions and error ordering") {
    val model = DielectricModel.train(spark, DielectricModel.Ionic,
      numTrees = 120, maxDepth = 12)
    val preds = DielectricModel.predictTrainingSet(spark, model, DielectricModel.Ionic)
    val joined = preds.join(
      DielectricModel.goldenPredictions(spark, "ion_comp"), Seq("mp_id")).cache()
    assert(joined.count() == 1266)
    val stats = joined.select(
      corr("pred_log10", "golden").as("c"),
      sqrt(avg(pow(col("pred_log10") - col("label"), 2))).as("rmse")).head()
    info(s"ion_comp: corr_with_golden=${stats.getDouble(0)} rmse_vs_dft=${stats.getDouble(1)}")
    assert(stats.getDouble(0) > 0.8, s"corr ${stats.getDouble(0)}")
    assert(stats.getDouble(1) < 0.18, s"rmse ${stats.getDouble(1)}") // golden: 0.0870
  }

  test("model persistence: save/load roundtrip predicts identically") {
    import DielectricModel._
    val model = train(spark, Electronic, Comp, numTrees = 20, maxDepth = 6)
    val dir = java.nio.file.Files.createTempDirectory("graft_model").toString + "/el_comp"
    save(model, dir)
    val loaded = load(dir)
    val a = predictFormulas(spark, model, Seq("SiO2", "BaTiO3")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = predictFormulas(spark, loaded, Seq("SiO2", "BaTiO3")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a == b, s"$a vs $b")
  }

  test("comp_st save/load round trip on synthetic structures (no reference data)") {
    import DielectricModel._
    val feats = ForestRegressorSpec.featurized(spark, 60, seed = 11L)
    val model = pipeline(CompSt, 10, 5).fit(feats)
    val dir = java.nio.file.Files.createTempDirectory("graft_model").toString + "/el_comp_st"
    save(model, dir)
    val loaded = load(dir)
    def preds(m: org.apache.spark.ml.PipelineModel) = m.transform(feats)
      .select("mp_id", "prediction").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val (a, b) = (preds(model), preds(loaded))
    assert(a.size == 60 && a.keySet == b.keySet)
    a.foreach { case (id, p) =>
      assert(java.lang.Double.doubleToRawLongBits(p) == java.lang.Double.doubleToRawLongBits(b(id)),
        s"$id: $p vs ${b(id)}")
    }
    def forest(m: org.apache.spark.ml.PipelineModel) =
      m.stages.last.asInstanceOf[org.apache.spark.ml.regression.RandomForestRegressionModel]
    val (fa, fb) = (forest(model), forest(loaded))
    assert(fb.getNumTrees == 10 && fb.trees.length == 10 && fb.getMaxDepth == 5)
    assert(fb.featureImportances.size == featureCols(CompSt).size)
    assert(fb.featureImportances == fa.featureImportances)
    assert(math.abs(fb.featureImportances.toArray.sum - 1.0) < 1e-9)
    feats.unpersist()
  }

  test("bare pymatgen Structure JSON predicts (composition derived from sites)") {
    import DielectricModel._
    import org.apache.spark.sql.functions._
    // extract one record's structure object as a BARE structure file
    // (what Structure.from_file / main.py -s passes around)
    val rec = graft.materials.Materials.readJson(spark)
      .select(to_json(col("structure")).as("sj"), col("formula"))
      .head()
    val dir = java.nio.file.Files.createTempDirectory("bare").toString
    val path = s"$dir/structure.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), rec.getString(0))
    val model = train(spark, Electronic, Comp, numTrees = 10, maxDepth = 5)
    val out = predictStructureJson(spark, model, Comp, path).collect()
    assert(out.length == 1)
    val row = out.head
    assert(row.getString(0) == path) // synthesized id = path
    assert(row.getDouble(3) > 0.0) // pred = 10^log10 is positive
    // derived composition covers the same elements as the record formula
    val derived = graft.functions.FormulaParser.fractions(row.getString(1))
    val expected = graft.functions.FormulaParser.fractions(rec.getString(1))
    assert(derived.keySet == expected.keySet, s"$derived vs $expected")
  }

  test("POSCAR file predicts through the comp_st path (P1 space group)") {
    import DielectricModel._
    val poscar =
      """rutile TiO2
        |1.0
        |4.594 0.000 0.000
        |0.000 4.594 0.000
        |0.000 0.000 2.959
        |Ti O
        |2 4
        |Direct
        |0.000 0.000 0.000
        |0.500 0.500 0.500
        |0.305 0.305 0.000
        |0.695 0.695 0.000
        |0.805 0.195 0.500
        |0.195 0.805 0.500
        |""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("poscar_pred").toString
    val path = s"$dir/POSCAR"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), poscar)
    val model = train(spark, Electronic, CompSt, numTrees = 10, maxDepth = 5)
    val out = predictPoscar(spark, model, CompSt, path).collect()
    assert(out.length == 1)
    assert(out.head.getString(1) == "O4Ti2")
    val pred = out.head.getDouble(3)
    // rutile's electronic dielectric constant is ~6-7; any trained model
    // must land in a physically sane oxide range
    assert(pred > 1.0 && pred < 100.0, s"pred=$pred")

    // an element outside the 51-element corpus table must be refused, not
    // silently dropped by the featurizer joins
    val feposcar = poscar.replace("Ti O", "Fe O")
    val fpath = s"$dir/POSCAR_FE"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(fpath), feposcar)
    val ex = intercept[IllegalArgumentException](
      predictPoscar(spark, model, CompSt, fpath).collect())
    assert(ex.getMessage.contains("Fe"))
  }

  test("predictFormulas refuses a formula with an element outside the table") {
    import spark.implicits._
    import DielectricModel._
    val base = Seq("SiO2", "TiO2", "MgO", "Al2O3", "ZnO", "BaTiO3").zipWithIndex
      .map { case (f, i) => (f, FormulaParser.parse(f), 0.1 * i) }
      .toDF("formula", "comp", "label")
    val feats = CompositionFeaturizer.featurize(spark, base, "formula", "comp")
      .join(base.select("formula", "label"), Seq("formula"))
    val model = pipeline(Comp, numTrees = 2, maxDepth = 2).fit(feats)
    assert(predictFormulas(spark, model, Seq("SiO2")).count() == 1)
    // Fe would drop out of every stat and leave a prediction for plain O
    val ex = intercept[IllegalArgumentException](predictFormulas(spark, model, Seq("Fe2O3")))
    assert(ex.getMessage.contains("Fe"))
  }

  test("predictStructureJson refuses a material record with an element outside the table") {
    import spark.implicits._
    import DielectricModel._
    val base = Seq("SiO2", "TiO2", "MgO").zipWithIndex
      .map { case (f, i) => (f, FormulaParser.parse(f), 0.1 * i) }
      .toDF("formula", "comp", "label")
    val model = pipeline(Comp, numTrees = 2, maxDepth = 2)
      .fit(CompositionFeaturizer.featurize(spark, base, "formula", "comp")
        .join(base.select("formula", "label"), Seq("formula")))
    val dir = java.nio.file.Files.createTempDirectory("record_fe").toString
    val path = s"$dir/record.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      """{"mp_id": "mp-fe", "formula": "Fe2O3"}""")
    // Fe would drop out of every stat and leave a prediction for plain O
    val ex = intercept[IllegalArgumentException](predictStructureJson(spark, model, Comp, path))
    assert(ex.getMessage.contains("Fe"), ex.getMessage)
  }

  test("CLI semantics: accepts both spellings, rejects junk") {
    import DielectricModel._
    assert(DielectricType.parse("el") == Electronic)
    assert(DielectricType.parse("electronic") == Electronic)
    assert(DielectricType.parse("ion") == Ionic)
    assert(DielectricType.parse("ionic") == Ionic)
    intercept[IllegalArgumentException](DielectricType.parse("bogus"))
  }
}
