package graft.tools

import graft.Sessions

/** ANN recall evaluation at a given scale factor:
  *   runMain graft.tools.AnnEval [sfDir]
  * Prints recall of the LSH and IVF paths against exact brute-force top-k
  * and their wall times — the tuning loop for bucket/cluster parameters. */
object AnnEval {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(32)
    import graft.operators.Similarity

    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    val (exact, tExact) = timed(pairs(Similarity.bruteForceTopK(spark, sfDir)))
    val (lsh, tLsh) = timed(pairs(Similarity.lshTopK(spark, sfDir)))
    println(f"[ann] sf=$sfDir n_exact=${exact.size}")
    println(f"[ann] exact   time=$tExact%.2fs")
    println(f"[ann] lsh     recall=${(exact & lsh).size.toDouble / exact.size}%.3f time=$tLsh%.2fs")
    for ((k, p) <- Seq((16, 4), (16, 6), (32, 6), (32, 8), (0, 0))) { // (0,0) = sqrt-N defaults
      val (ivf, tIvf) = timed(pairs(Similarity.ivfTopK(spark, sfDir, k, p)))
      println(f"[ann] ivf k=$k%-3d probe=$p recall=${(exact & ivf).size.toDouble / exact.size}%.3f time=$tIvf%.2fs")
    }
    val (h2, tH2) = timed(pairs(Similarity.ivf2TopK(spark, sfDir)))
    println(f"[ann] ivf2 sqrtN  recall=${(exact & h2).size.toDouble / exact.size}%.3f time=$tH2%.2fs")
    val (pq, tPq) = timed(pairs(Similarity.ivfPqTopK(spark, sfDir)))
    println(f"[ann] ivf-pq sqrtN recall=${(exact & pq).size.toDouble / exact.size}%.3f time=$tPq%.2fs")
    val (pqd, tPqd) = timed(pairs(Similarity.ivfPqTopK(spark, sfDir, deepProbes = true)))
    println(f"[ann] ivf-pq deep  recall=${(exact & pqd).size.toDouble / exact.size}%.3f time=$tPqd%.2fs")
    val (pca, tPca) = timed(pairs(Similarity.pcaTopK(spark, sfDir)))
    println(f"[ann] pca s=48     recall=${(exact & pca).size.toDouble / exact.size}%.3f time=$tPca%.2fs")
    val (pcad, tPcad) = timed(pairs(Similarity.pcaTopK(spark, sfDir, deepShortlist = true)))
    println(f"[ann] pca deep     recall=${(exact & pcad).size.toDouble / exact.size}%.3f time=$tPcad%.2fs")
    spark.stop()
  }
}
