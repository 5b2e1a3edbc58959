package perfbench

import scala.collection.mutable

/** Exact answers for the corpus queries, computed on the driver with the
  * same definitions the engine documents: word 3-gram shingle sets and
  * Jaccard for documents; left-to-right double dot products of unit
  * vectors for embeddings. */
object Exact {

  private def key(a: Long, b: Long): Long = (a << 32) | b

  /** Distinct word 3-grams of a space-split text (none below 3 tokens). */
  def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  /** Document pairs (a < b) with shingle Jaccard ≥ `min`. */
  def jaccardPairs(docs: Seq[(Long, String)], min: Double): Set[(Long, Long)] = {
    val sets = docs.map { case (id, t) => id -> shingles(t) }
    val size = sets.toMap.view.mapValues(_.size).toMap
    val bySh = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    sets.foreach { case (id, ss) => ss.foreach(s => bySh.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += id) }
    val inter = mutable.LongMap.empty[Int]
    bySh.valuesIterator.foreach { ids =>
      val sorted = ids.sorted
      for (i <- sorted.indices; j <- i + 1 until sorted.size) {
        val k = key(sorted(i), sorted(j))
        inter(k) = inter.getOrElse(k, 0) + 1
      }
    }
    inter.iterator.collect { case (k, c) if {
        val (a, b) = (k >>> 32, k & 0xFFFFFFFFL)
        c.toDouble / (size(a) + size(b) - c) >= min
      } => (k >>> 32, k & 0xFFFFFFFFL)
    }.toSet
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Vector pairs (a < b) with dot product ≥ `min`. */
  def cosinePairs(vecs: Seq[(Long, Array[Double])], min: Double): Set[(Long, Long)] = {
    val v = vecs.sortBy(_._1).toIndexedSeq
    (for (i <- v.indices.iterator; j <- (i + 1 until v.size).iterator
          if dot(v(i)._2, v(j)._2) >= min) yield (v(i)._1, v(j)._1)).toSet
  }

  /** Top-k neighbours of each query vector (id < `queries`), ranked by the
    * cosine rounded half-up to 6 places, ties by neighbour id. */
  def topK(vecs: Seq[(Long, Array[Double])], queries: Int, k: Int): Set[(Long, Long)] =
    vecs.filter(_._1 < queries).flatMap { case (q, vq) =>
      vecs.filter(_._1 != q)
        .map { case (n, vn) =>
          (n, BigDecimal(dot(vq, vn)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .sortBy { case (n, cs) => (-cs, n) }.take(k).map { case (n, _) => (q, n) }
    }.toSet
}
