package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.ml.ElementData

class GenSpec extends AnyFunSuite {

  private def all(seed: Long): Seq[Any] =
    Gen.database(seed, 40) ++ Gen.documents(seed, 300) ++ Gen.embeddings(seed, 100)

  test("the same seed gives byte-identical inputs, another seed different ones") {
    assert(Gen.digest(all(11)) == Gen.digest(all(11)))
    assert(Gen.digest(all(11)) != Gen.digest(all(12)))
    Seq(Gen.database(11, 10), Gen.documents(11, 50), Gen.embeddings(11, 50))
      .zip(Seq(Gen.database(12, 10), Gen.documents(12, 50), Gen.embeddings(12, 50)))
      .foreach { case (a, b) => assert(Gen.digest(a) != Gen.digest(b)) }
  }

  test("every element is in the engine's element table") {
    val ms = Gen.database(3, 500)
    val elems = ms.flatMap(_.comp.elems).toSet
    assert(elems.forall(ElementData.bySymbol.contains), elems.filterNot(ElementData.bySymbol.contains))
    assert(ms.forall { m =>
      val cations = m.comp.parts.count(_._1 != "O")
      cations >= 1 && cations <= 3 && m.comp.parts.last._1 == "O"
    })
  }

  test("structures keep every periodic pair at least MinDist apart") {
    Gen.database(5, 150).foreach { m =>
      val s = m.struct.get
      val lat = s.matrix.map(_.toArray).toArray
      val frac = s.abc.map(_.toArray)
      assert(s.elems.sorted == m.comp.elems.sorted)
      for (i <- frac.indices; j <- i + 1 until frac.size)
        assert(Gen.periodicDist(lat, frac(i), frac(j)) >= Gen.MinDist, s"${m.id} sites $i,$j")
    }
  }

  test("a constant predictor fails the holdout RMSE gate") {
    val labels = Gen.database(7, 400).flatMap(m => Seq(m.logEl, m.logIon))
    val el = Gen.database(7, 400).map(_.logEl)
    val ion = Gen.database(7, 400).map(_.logIon)
    def sd(xs: Seq[Double]) = { val mu = xs.sum / xs.size; math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / xs.size) }
    // per-target constant (each target's own mean), pooled over both targets
    val constRmse = math.sqrt((el.size * sd(el) * sd(el) + ion.size * sd(ion) * sd(ion)) / labels.size)
    assert(constRmse > Refit.MaxRmse, s"constant predictor RMSE $constRmse")
  }

  test("exact Jaccard pairs match a brute-force count") {
    val docs = Gen.documents(9, 120).map(d => d.doc_id -> d.text)
    val brute = (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      sa = Exact.shingles(ta); sb = Exact.shingles(tb)
      c = (sa intersect sb).size if c.toDouble / (sa.size + sb.size - c) >= 0.5
    } yield (a, b)).toSet
    assert(brute.nonEmpty)
    assert(Exact.jaccardPairs(docs, 0.5) == brute)
  }
}
