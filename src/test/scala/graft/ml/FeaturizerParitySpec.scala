package graft.ml

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ml.StructureFeaturizer.StructIn

/** Pins both featurizers bit for bit against `featurizer_parity.tsv`, the
  * output of the explode/window/groupBy featurizers they replaced on the
  * same inputs (see FIXTURES.md). Every double is compared as its raw long
  * bits, and the schema (column order, type, nullability) line by line.
  * Each fixture runs through both branches of each featurizer: on the
  * driver (a local relation in) and distributed (the same rows off it). */
class FeaturizerParitySpec extends SparkSpec {
  import FeaturizerParitySpec._

  private lazy val expected: Seq[String] = {
    val src = scala.io.Source.fromInputStream(getClass.getResourceAsStream(Resource), "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  private def check(kind: String, actual: Seq[String]): Unit = {
    val want = expected.filter(_.split('\t')(1) == kind)
    assert(want.nonEmpty, s"fixture has no $kind lines")
    val diff = want.zipAll(actual, "<missing>", "<missing>").filter { case (w, a) => w != a }
    if (diff.nonEmpty) fail(s"${diff.size} $kind line(s) differ, first ones (want / got):\n" +
      diff.take(5).map { case (w, a) => s"  $w\n  $a" }.mkString("\n"))
  }

  test("the five-entry composition reaches the oxidation-state code in hash order") {
    // the case the fixture is there for: Spark hands a map with more than
    // four entries to Scala as a HashMap, whose order differs from storage
    val (keys, values) = compositions.collectFirst { case ("five", Some(kv)) => kv.unzip }.get
    assert(keys.zip(values).toMap.keys.toSeq != keys)
  }

  test("composition features match the fixture bit for bit") {
    check("comp", render("comp",
      CompositionFeaturizer.featurize(spark, compositionFrame(spark), "id", "comp")))
  }

  test("siteFields name the SiteFeatures fields in order") {
    val site = StructureFeaturizer.featurizeOne(structures.head).sites.head
    assert(site.productElementNames.toSeq == StructureFeaturizer.siteFields)
  }

  test("structure features match the fixture bit for bit") {
    check("struct", render("struct",
      StructureFeaturizer.featurizeStructs(spark, structureSet(spark))))
  }

  // the frames above are local relations, so they take the driver branch;
  // the same rows behind an RDD scan take the distributed one

  test("a local input takes the driver branch, an RDD scan the distributed one") {
    def comp(onDriver: Boolean) =
      CompositionFeaturizer.featurize(spark, compositionFrame(spark, onDriver), "id", "comp")
    def struct(onDriver: Boolean) =
      StructureFeaturizer.featurizeStructs(spark, structureSet(spark, onDriver))
    assert(isLocal(comp(onDriver = true)) && !isLocal(comp(onDriver = false)))
    assert(isLocal(struct(onDriver = true)) && !isLocal(struct(onDriver = false)))
  }

  test("composition features match the fixture bit for bit off the driver") {
    check("comp", render("comp", CompositionFeaturizer.featurize(spark,
      compositionFrame(spark, onDriver = false), "id", "comp")))
  }

  test("structure features match the fixture bit for bit off the driver") {
    check("struct", render("struct",
      StructureFeaturizer.featurizeStructs(spark, structureSet(spark, onDriver = false))))
  }
}

object FeaturizerParitySpec {

  val Resource = "/featurizer_parity.tsv"

  /** (id, composition in storage order); None is a null composition. */
  val compositions: Seq[(String, Option[Seq[(String, Double)]])] = Seq(
    "one" -> Some(Seq("Ti" -> 1.0)),
    // five entries with fractional counts, so the summation order shows
    "five" -> Some(Seq("Sr" -> 0.7, "Ti" -> 0.3, "La" -> 0.1, "Nb" -> 1.3, "O" -> 2.9)),
    // Fe is outside the element table: no stats, but counted in the total
    "unknown" -> Some(Seq("Fe" -> 1.0, "Ti" -> 1.0, "O" -> 3.0)),
    "null" -> None) ++
    Seq("SiO2", "Ca2SnO4", "Mn3O4", "K0.5Na0.5NbO3", "Ba2SrCaNb2TiO11", "LaZnAsO")
      .map(f => f -> Some(graft.functions.FormulaParser.parse(f).toSeq))

  /** The compositions as a local relation, or (`onDriver = false`) behind
    * an RDD scan, so the featurizer takes its distributed branch. The map
    * is built after the scan: a Scala Map in between would reorder it. */
  def compositionFrame(spark: SparkSession, onDriver: Boolean = true): DataFrame = {
    import spark.implicits._
    val rows = compositions.map { case (id, kv) => (id, kv.map(_.map(_._1)), kv.map(_.map(_._2))) }
    (if (onDriver) rows.toDS() else spark.createDataset(spark.sparkContext.parallelize(rows, 2)))
      .toDF("id", "els", "cnts")
      .select(col("id"), map_from_arrays(col("els"), col("cnts")).as("comp"))
  }

  /** The rutile POSCAR of MlSpec. */
  val rutilePoscar: String =
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

  private def cell(id: String, m: Seq[Seq[Double]], sites: Seq[(String, Seq[Double])],
      sg: Int): StructIn =
    StructIn(id, m, sites.map(_._2), sites.map(_._1),
      graft.materials.Geometry.Lattice(m.map(_.toArray).toArray).volume, sg, sites.size)

  val structures: Seq[StructIn] = {
    val p = graft.sources.Poscar.parse(rutilePoscar)
    val rutile = cell("rutile", p.lattice.map(_.toSeq).toSeq,
      p.siteElements.toSeq.zip(graft.sources.Poscar.toFractional(p).map(_.toSeq)), 1)
    val a = 3.905
    val perovskite = cell("SrTiO3", Seq(Seq(a, 0, 0), Seq(0, a, 0), Seq(0, 0, a)),
      Seq("Sr" -> Seq(0.0, 0.0, 0.0), "Ti" -> Seq(0.5, 0.5, 0.5),
        "O" -> Seq(0.5, 0.5, 0.0), "O" -> Seq(0.5, 0.0, 0.5), "O" -> Seq(0.0, 0.5, 0.5)), 221)
    val h = 4.21 / 2
    val rocksalt = cell("MgO", Seq(Seq(0, h, h), Seq(h, 0, h), Seq(h, h, 0)),
      Seq("Mg" -> Seq(0.0, 0.0, 0.0), "O" -> Seq(0.5, 0.5, 0.5)), 225)
    val (wa, wc) = (3.25, 5.21)
    val wurtzite = cell("ZnO",
      Seq(Seq(wa, 0, 0), Seq(-wa / 2, wa * math.sqrt(3) / 2, 0), Seq(0, 0, wc)),
      Seq("Zn" -> Seq(1.0 / 3, 2.0 / 3, 0.0), "Zn" -> Seq(2.0 / 3, 1.0 / 3, 0.5),
        "O" -> Seq(1.0 / 3, 2.0 / 3, 0.382), "O" -> Seq(2.0 / 3, 1.0 / 3, 0.882)), 186)
    val triclinic = cell("LiNbO2-tri",
      Seq(Seq(5.1, 0, 0), Seq(0.9, 5.4, 0), Seq(1.1, -0.7, 6.2)),
      Seq("Li" -> Seq(0.1, 0.2, 0.3), "Nb" -> Seq(0.55, 0.45, 0.6),
        "O" -> Seq(0.3, 0.8, 0.1), "O" -> Seq(0.8, 0.1, 0.75)), 1)
    Seq(rutile, perovskite, rocksalt, wurtzite, triclinic)
  }

  /** The structures as a local relation, or behind an RDD scan. */
  def structureSet(spark: SparkSession, onDriver: Boolean = true): Dataset[StructIn] = {
    import spark.implicits._
    if (onDriver) structures.toDS()
    else spark.createDataset(spark.sparkContext.parallelize(structures, 2))
  }

  /** Whether a frame's optimized plan is a driver-side local relation. */
  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Fixture lines: the schema, then every double of every row as its raw
    * long bits (the decimal value after it is only for reading). */
  def render(kind: String, df: DataFrame): Seq[String] = {
    val schema = df.schema.fields.toSeq.map(f =>
      Seq("schema", kind, f.name, f.dataType.simpleString, f.nullable).mkString("\t"))
    val rows = df.collect().sortBy(_.getString(0)).toSeq.flatMap { r =>
      df.columns.toSeq.zipWithIndex.tail.map { case (c, i) =>
        val v = if (r.isNullAt(i)) "null" else {
          val d = r.getDouble(i)
          s"${java.lang.Double.doubleToRawLongBits(d)}\t$d"
        }
        Seq("value", kind, r.getString(0), c, v).mkString("\t")
      }
    }
    schema ++ rows
  }
}
