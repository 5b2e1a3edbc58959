package perfbench

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.FormulaParser
import graft.ml.{CompositionFeaturizer, DielectricModel, StructureFeaturizer}
import graft.operators.ArtifactCaches
import perfbench.Main.{Op, time}

/** `refit`: the database side. Each main op featurizes a window of a
  * seeded structure database (structure, then composition), fits the
  * electronic and ionic composition+structure models and scores a fixed
  * held-out split. Consecutive ops slide the window by a quarter, so the
  * database changes between refits as it would when records are added. The
  * one-item op scores one new structure with the latest electronic model. */
final class Refit(spark: SparkSession, seed: Long) extends Main.Workload {
  import spark.implicits._

  val Window = 60
  val Holdout = 24
  val PoolRows = 2 * Window
  val NewRows = 8
  val Trees = 10
  val Depth = 5

  private var db: IndexedSeq[Gen.Material] = IndexedSeq.empty
  private var latest: PipelineModel = _
  private val rmses = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val untraced = new Tracer(spark.sparkContext, enabled = false)

  def setup(rep: Int): Unit = db = Gen.database(seed, PoolRows + Holdout + NewRows)

  def inputSize: Seq[(String, Double)] = Seq(
    "train_rows" -> Window.toDouble, "holdout_rows" -> Holdout.toDouble,
    "trees" -> Trees.toDouble, "depth" -> Depth.toDouble)

  private def holdout = db.slice(PoolRows, PoolRows + Holdout)
  private def window(i: Int) = (0 until Window).map(k => db((i * Window / 4 + k) % PoolRows))

  private def frames(ms: Seq[Gen.Material],
      held: Set[String]): (Dataset[StructureFeaturizer.StructIn], DataFrame) = {
    val structs = ms.map(_.struct.get).toDS()
    val base = ms.map(m => (m.id, m.comp.formula, m.logEl, m.logIon, held(m.id)))
      .toDF("mp_id", "formula", "el", "ion", "holdout")
      .withColumn("comp", FormulaParser.parseFormula(col("formula")))
    (structs, base)
  }

  private def fit(feats: DataFrame, label: String): PipelineModel =
    DielectricModel.pipeline(DielectricModel.CompSt, Trees, Depth, seed)
      .fit(feats.filter(!col("holdout")).withColumn("label", col(label)))

  private def scoreHoldout(m: PipelineModel, feats: DataFrame, label: String) =
    m.transform(feats.filter(col("holdout")))
      .select(col("prediction"), col(label)).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))

  /** One refit; `t` splits it into layer spans (a no-op when disabled). */
  private def refit(i: Int, t: Tracer): Op = {
    val ms = window(i) ++ holdout
    val held = holdout.map(_.id).toSet
    val (preds, w) = time {
      t.span("bench.op") {
        val (structs, base0) = frames(ms, held)
        def forced(df: DataFrame) = if (t.enabled) { val p = df.persist(); p.count(); p } else df
        val base = t.span("functions.parse")(forced(base0))
        val sf = t.span("ml.struct_featurize") {
          forced(StructureFeaturizer.featurizeStructs(spark, structs))
        }
        val cf = t.span("ml.comp_featurize") {
          forced(CompositionFeaturizer.featurize(spark, base, "mp_id", "comp"))
        }
        // persisted while both fits read it, as the engine's training slot is
        val feats = cf.join(sf, Seq("mp_id"))
          .join(base.select("mp_id", "el", "ion", "holdout"), Seq("mp_id")).persist()
        feats.count()
        val (mEl, mIon) = t.span("ml.fit")((fit(feats, "el"), fit(feats, "ion")))
        val p = t.span("ml.transform")(scoreHoldout(mEl, feats, "el") ++ scoreHoldout(mIon, feats, "ion"))
        Seq(feats, cf, sf, base).foreach(_.unpersist(blocking = true))
        latest = mEl
        p.toSeq
      }
    }
    val ok = preds.size == 2 * Holdout && preds.forall(_._1.isFinite)
    if (ok) rmses += Main.rmse(preds)
    Op(w, ms.size.toLong, ok, t.lastChildS("bench.op"))
  }

  /** One new structure scored with the latest electronic model. */
  private def scoreOne(i: Int): Op = {
    val m = db(PoolRows + Holdout + i % NewRows)
    val (rows, w) = time {
      val (structs, base) = frames(Seq(m), Set.empty)
      val sf = StructureFeaturizer.featurizeStructs(spark, structs)
      val feats = CompositionFeaturizer.featurize(spark, base, "mp_id", "comp").join(sf, Seq("mp_id"))
      latest.transform(feats).select("prediction").collect()
    }
    Op(w, 1L, rows.length == 1 && rows(0).getDouble(0).isFinite)
  }

  /** Cold (after dropping artifact caches; in a fresh JVM the first op
    * also pays compilation), warm, then [[OneRepeats]] one-item ops on
    * different structures. A traced round runs the traced op between two
    * untraced warm ones, so comparing it with their mean cancels the JIT
    * warm-up the three ops share. */
  def round(i: Int, t: Tracer): Seq[(String, () => Op)] =
    Seq("cold" -> (() => { ArtifactCaches.clear(); refit(4 * i + 1, untraced) }),
      "warm" -> (() => refit(4 * i + 2, untraced))) ++
      (if (t.enabled) Seq("traced" -> (() => refit(4 * i + 3, t)),
        "warm" -> (() => refit(4 * i + 4, untraced))) else Nil) ++
      (0 until OneRepeats).map(k =>
        "one" -> (() => t.span("ml.predict_one")(scoreOne(OneRepeats * i + k))))

  val OneRepeats = 2

  def checks(): Seq[(String, Boolean)] = Seq(
    "refit_any" -> rmses.nonEmpty,
    "holdout_rmse_below_max" -> (rmses.nonEmpty && Main.median(rmses.toSeq) <= Refit.MaxRmse))

  def figures(): Seq[(String, Double)] =
    if (rmses.isEmpty) Nil else Seq("ml.fit.holdout_rmse" -> Main.median(rmses.toSeq))
}

object Refit {
  /** Holdout RMSE ceiling (log10 units): 90% of what a constant predictor
    * scores on these labels (GenSpec pins that it scores above), so a fit
    * that learns nothing fails. Seeded refits score 0.10–0.16. */
  val MaxRmse = 0.2
}
