package graft.ml

import graft.SparkSpec

/** Single-record serving on a comp_st model fit to synthetic structures
  * (no reference data): a POSCAR's composition and structure rows are
  * computed on the driver, so scoring it shuffles nothing. */
class ServingSpec extends SparkSpec {

  test("predictPoscar scores one structure with no shuffle and at most 2 jobs") {
    import DielectricModel._
    val feats = ForestRegressorSpec.featurized(spark, 60, seed = 13L)
    val model = pipeline(CompSt, 10, 5).fit(feats)
    feats.unpersist()
    val dir = java.nio.file.Files.createTempDirectory("poscar_serve").toString
    val path = s"$dir/POSCAR"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      FeaturizerParitySpec.rutilePoscar)
    var out: Array[org.apache.spark.sql.Row] = null
    val activity = SparkActivity.of(spark) {
      out = predictPoscar(spark, model, CompSt, path).collect()
    }
    info(s"predictPoscar: $activity")
    assert(out.length == 1 && out.head.getString(0) == path)
    assert(out.head.getString(1) == "O4Ti2")
    assert(out.head.getDouble(2).isFinite)
    assert(activity.shuffleBytes == 0L, s"$activity")
    assert(activity.jobs <= 2, s"$activity")
  }
}
