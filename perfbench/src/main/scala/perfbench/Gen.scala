package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.ml.ElementData
import graft.ml.StructureFeaturizer.StructIn

/** Seeded input generators. Every input the engine receives comes from
  * here, derived only from the workload seed: the same seed gives
  * byte-identical inputs (see [[digest]]). */
object Gen {

  /** Cation pool: the 51-element table minus the anion, in Z order. */
  val cations: IndexedSeq[String] =
    ElementData.all.map(_.symbol).filter(_ != "O").toIndexedSeq

  /** A composition as (element, count) pairs, O last. */
  final case class Comp(parts: Seq[(String, Int)]) {
    def formula: String = parts.map { case (e, n) => if (n == 1) e else s"$e$n" }.mkString
    def atoms: Int = parts.map(_._2).sum
    def elems: Seq[String] = parts.flatMap { case (e, n) => Seq.fill(n)(e) }
  }

  /** A labelled material: log10 of the electronic and ionic constants. */
  final case class Material(id: String, comp: Comp, logEl: Double, logIon: Double,
      struct: Option[StructIn])

  /** An oxide with 1–`maxCations` distinct cations (each count 1–`maxCount`)
    * plus O. */
  def comp(rnd: scala.util.Random, maxCations: Int, maxCount: Int, maxO: Int): Comp = {
    val k = 1 + rnd.nextInt(maxCations)
    val picked = rnd.shuffle(cations.indices.toList).take(k).sorted.map(cations)
    Comp(picked.map(e => e -> (1 + rnd.nextInt(maxCount))) :+ ("O" -> (1 + rnd.nextInt(maxO))))
  }

  private def wmean(c: Comp, f: ElementData.ElementProps => Double): Double =
    c.parts.map { case (e, n) => n * f(ElementData.bySymbol(e)) }.sum / c.atoms

  /** The learnable ground truth: smooth functions of count-weighted element
    * properties (electronegativity, radius, transition-metal share, mass)
    * plus seeded Gaussian noise. */
  def labels(rnd: scala.util.Random, c: Comp): (Double, Double) = {
    val en = wmean(c, _.en)
    val r = wmean(c, _.radius)
    val tm = wmean(c, p => if (p.isTM) 1.0 else 0.0)
    val mass = wmean(c, _.mass)
    val el = 0.55 - 0.22 * (en - 2.6) + 0.35 * tm + 0.12 * (r - 1.0) + 0.05 * rnd.nextGaussian()
    val ion = 0.9 + 0.5 * tm + 0.25 * (r - 1.0) + 0.004 * (mass - 30.0) - 0.18 * (en - 2.6) +
      0.08 * rnd.nextGaussian()
    (el, ion)
  }

  /** Closest interatomic distance any two sites may have (Å). */
  val MinDist = 1.7

  /** Periodic minimum distance between fractional points `a` and `b`,
    * over the 27 neighbouring images (cells here are near-orthogonal). */
  def periodicDist(m: Array[Array[Double]], a: Array[Double], b: Array[Double]): Double = {
    var best = Double.MaxValue
    for (i <- -1 to 1; j <- -1 to 1; k <- -1 to 1) {
      val d = Array(b(0) - a(0) + i, b(1) - a(1) + j, b(2) - a(2) + k)
      val x = d(0) * m(0)(0) + d(1) * m(1)(0) + d(2) * m(2)(0)
      val y = d(0) * m(0)(1) + d(1) * m(1)(1) + d(2) * m(2)(1)
      val z = d(0) * m(0)(2) + d(1) * m(1)(2) + d(2) * m(2)(2)
      best = math.min(best, math.sqrt(x * x + y * y + z * z))
    }
    best
  }

  private def det(m: Array[Array[Double]]): Double =
    m(0)(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1)) -
      m(0)(1) * (m(1)(0) * m(2)(2) - m(1)(2) * m(2)(0)) +
      m(0)(2) * (m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0))

  /** An ordered periodic structure for `c`: a slightly sheared cell of
    * 11–16 Å³ per atom, sites placed at random with every periodic pair at
    * least [[MinDist]] apart (the cell grows until placement succeeds). */
  def structure(rnd: scala.util.Random, id: String, c: Comp): StructIn = {
    val elems = rnd.shuffle(c.elems.toList)
    var vpa = 11.0 + 5.0 * rnd.nextDouble()
    while (true) {
      val edge = math.cbrt(vpa * elems.size)
      val m = Array.tabulate(3, 3) { (i, j) =>
        if (i == j) edge * (0.92 + 0.16 * rnd.nextDouble()) else edge * 0.06 * (rnd.nextDouble() - 0.5)
      }
      val sites = ArrayBuffer.empty[Array[Double]]
      var tries = 0
      while (sites.size < elems.size && tries < 400) {
        val p = Array.fill(3)(rnd.nextDouble())
        if (sites.forall(q => periodicDist(m, p, q) >= MinDist)) sites += p
        tries += 1
      }
      if (sites.size == elems.size)
        return StructIn(id, m.map(_.toSeq).toSeq, sites.map(_.toSeq).toSeq, elems,
          math.abs(det(m)), 1, elems.size)
      vpa += 2.0
    }
    throw new IllegalStateException("unreachable")
  }

  /** `n` labelled structures of 2–10 atoms (the `refit` database). */
  def database(seed: Long, n: Int): IndexedSeq[Material] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      var c = comp(rnd, maxCations = 3, maxCount = 2, maxO = 4)
      while (c.atoms > 10) c = comp(rnd, maxCations = 3, maxCount = 2, maxO = 4)
      val (el, ion) = labels(rnd, c)
      val id = f"db-$i%06d"
      Material(id, c, el, ion, Some(structure(rnd, id, c)))
    }
  }

  // ---- corpus ------------------------------------------------------------

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Vec(vec_id: Long, embedding: Seq[Float], label: Int)

  val Vocab: IndexedSeq[String] = (0 until 40).map(i => f"w$i%02d")
  val Langs: IndexedSeq[String] = IndexedSeq("en", "en", "en", "zh", "es", "fr", "de")
  val Dim = 64

  /** Base documents: random token runs over a small vocabulary, a share of
    * them near-duplicates (token edits) of an earlier document, so the
    * exact Jaccard ≥ 0.5 pair set is non-trivial. */
  def documents(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rnd = new scala.util.Random(seed ^ 0x5DEECE66DL)
    val texts = ArrayBuffer.empty[Array[String]]
    (0 until n).map { i =>
      val toks =
        if (i > 0 && rnd.nextDouble() < 0.2) {
          val src = texts(rnd.nextInt(texts.size))
          src.map(t => if (rnd.nextDouble() < 0.08) Vocab(rnd.nextInt(Vocab.size)) else t)
        } else Array.fill(8 + rnd.nextInt(56))(Vocab(rnd.nextInt(Vocab.size)))
      texts += toks
      val text = toks.mkString(" ")
      Doc(i.toLong, text, Langs(rnd.nextInt(Langs.size)), s"src${i % 20}", text.length.toLong)
    }
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / norm)
  }

  /** Base embeddings: unit vectors around 10 label centres, a share of them
    * near-copies of an earlier vector (the cosine near-duplicate pairs). */
  def embeddings(seed: Long, n: Int): IndexedSeq[Vec] = {
    val rnd = new scala.util.Random(seed ^ 0x2545F4914F6CDD1DL)
    val centres = IndexedSeq.fill(10)(unit(Array.fill(Dim)(rnd.nextGaussian())))
    val made = ArrayBuffer.empty[(Array[Double], Int)]
    (0 until n).map { i =>
      val (v, label) =
        if (i > 0 && rnd.nextDouble() < 0.15) {
          val (src, l) = made(rnd.nextInt(made.size))
          (unit(src.map(_ + 0.25 * rnd.nextGaussian() / math.sqrt(Dim))), l)
        } else {
          val l = rnd.nextInt(10)
          (unit(centres(l).map(_ + 1.6 * rnd.nextGaussian() / math.sqrt(Dim))), l)
        }
      made += ((v, label))
      Vec(i.toLong, v.map(_.toFloat).toSeq, label)
    }
  }

  /** SHA-256 over a canonical rendering of the inputs — equal seeds must
    * give equal digests. */
  def digest(parts: Iterable[Any]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p.toString + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}
