package graft.ml

import graft.Sessions

/** CLI entry point mirroring the reference's `main.py` (SURVEY.md §3.1):
  *
  *   runMain graft.ml.PredictMain -c SiO2 -diel el
  *   runMain graft.ml.PredictMain -c Ca2SnO4 -diel ionic
  *   runMain graft.ml.PredictMain -s <material.json> -diel ion -model comp_st
  *
  * Prints the log10 prediction and its linear value, like main.py:36-37.
  * Accepts both el|ion and electronic|ionic (fixing the reference's
  * documented-but-rejected CLI spellings, SURVEY.md §2.E) and enforces the
  * reference's rule that comp_st requires a structure input
  * (ml_prediction.py:172-174).
  */
object PredictMain {
  def main(args: Array[String]): Unit = {
    import DielectricModel._
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val diel = DielectricType.parse(opts.getOrElse("-diel", "el"))
    val mt = ModelType.parse(opts.getOrElse("-model", "comp"))
    val formula = opts.get("-c")
    val structPath = opts.get("-s")
    require(formula.isDefined || structPath.isDefined,
      "usage: (-c <formula> | -s <material.json>) [-diel el|ion|electronic|ionic] [-model comp|comp_st]")
    require(!(mt == CompSt && formula.isDefined && structPath.isEmpty),
      "comp_st models need a structure input (-s), not a composition (-c)")

    val spark = Sessions.local(8, sys.env.get("SPARK_MASTER"))

    val model = train(spark, diel, mt)
    val (label, row) = structPath match {
      case Some(p) =>
        // JSON material record or POSCAR, as in the reference's main.py
        val r = (if (p.endsWith(".json")) predictStructureJson(spark, model, mt, p)
                 else predictPoscar(spark, model, mt, p)).head()
        (s"${r.getString(1)} (${r.getString(0)})", (r.getDouble(2), r.getDouble(3)))
      case None =>
        val r = predictFormulas(spark, model, Seq(formula.get)).head()
        (r.getString(0), (r.getDouble(1), r.getDouble(2)))
    }
    println(f"Predicted log10(eps_${diel.key}) for $label: ${row._1}%.4f")
    println(f"Predicted eps_${diel.key} for $label: ${row._2}%.4f")
    spark.stop()
  }
}
