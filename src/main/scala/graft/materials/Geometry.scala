package graft.materials

/** Periodic-geometry kernels (SURVEY.md §2.C C13 neighbor list — the
  * foundation for the structural featurizers; §7.4 risk register #1).
  *
  * Pure Scala math over (lattice matrix, fractional coords): no Spark types
  * here — the kernels run inside mapPartitions/UDFs, embarrassingly
  * parallel across materials, and are property-tested against brute-force
  * supercell enumeration in GeometrySpec (including skewed triclinic cells).
  */
object Geometry {

  /** Lattice: rows of `m` are the lattice vectors a, b, c (Å). */
  final case class Lattice(m: Array[Array[Double]]) {
    val volume: Double = math.abs(det3(m))

    /** Cartesian coords of a fractional point. */
    def cart(f: Array[Double]): Array[Double] = Array(
      f(0) * m(0)(0) + f(1) * m(1)(0) + f(2) * m(2)(0),
      f(0) * m(0)(1) + f(1) * m(1)(1) + f(2) * m(2)(1),
      f(0) * m(0)(2) + f(1) * m(1)(2) + f(2) * m(2)(2))

    /** Perpendicular spacing between lattice planes normal to each axis —
      * bounds how many periodic images a cutoff sphere can reach. */
    def planeSpacings: Array[Double] = {
      val bc = cross(m(1), m(2)); val ca = cross(m(2), m(0)); val ab = cross(m(0), m(1))
      Array(volume / norm(bc), volume / norm(ca), volume / norm(ab))
    }

    /** Reciprocal lattice vectors (rows), WITH the 2π factor. */
    def reciprocal: Array[Array[Double]] = {
      val bc = cross(m(1), m(2)); val ca = cross(m(2), m(0)); val ab = cross(m(0), m(1))
      val v = det3(m)
      Array(bc.map(_ * 2 * math.Pi / v), ca.map(_ * 2 * math.Pi / v), ab.map(_ * 2 * math.Pi / v))
    }
  }

  final case class Neighbor(siteIdx: Int, nbrIdx: Int, dist: Double)

  /** All neighbor pairs within `cutoff` over periodic images: for each site
    * i and each site j (including i's own images), every image translation
    * whose distance is in (1e-8, cutoff]. O(n² · images) — n ≤ 40 here;
    * at scale this parallelizes across materials, never across sites. */
  def neighborList(lat: Lattice, frac: Array[Array[Double]], cutoff: Double): Seq[Neighbor] = {
    val spacings = lat.planeSpacings
    val reach = spacings.map(s => math.ceil(cutoff / s).toInt)
    val carts = frac.map(lat.cart)
    val out = Seq.newBuilder[Neighbor]
    var i = 0
    while (i < frac.length) {
      var j = 0
      while (j < frac.length) {
        var na = -reach(0)
        while (na <= reach(0)) {
          var nb = -reach(1)
          while (nb <= reach(1)) {
            var nc = -reach(2)
            while (nc <= reach(2)) {
              val tx = na * lat.m(0)(0) + nb * lat.m(1)(0) + nc * lat.m(2)(0)
              val ty = na * lat.m(0)(1) + nb * lat.m(1)(1) + nc * lat.m(2)(1)
              val tz = na * lat.m(0)(2) + nb * lat.m(1)(2) + nc * lat.m(2)(2)
              val dx = carts(j)(0) + tx - carts(i)(0)
              val dy = carts(j)(1) + ty - carts(i)(1)
              val dz = carts(j)(2) + tz - carts(i)(2)
              val d2 = dx * dx + dy * dy + dz * dz
              if (d2 > 1e-16 && d2 <= cutoff * cutoff)
                out += Neighbor(i, j, math.sqrt(d2))
              nc += 1
            }
            nb += 1
          }
          na += 1
        }
        j += 1
      }
      i += 1
    }
    out.result()
  }

  final case class NeighborVec(siteIdx: Int, nbrIdx: Int, dist: Double, vec: Array[Double])

  /** Neighbor list with offset vectors (for angular featurizers, C16/C18). */
  def neighborVectors(lat: Lattice, frac: Array[Array[Double]], cutoff: Double): Seq[NeighborVec] = {
    val spacings = lat.planeSpacings
    val reach = spacings.map(s => math.ceil(cutoff / s).toInt)
    val carts = frac.map(lat.cart)
    val out = Seq.newBuilder[NeighborVec]
    var i = 0
    while (i < frac.length) {
      var j = 0
      while (j < frac.length) {
        var na = -reach(0)
        while (na <= reach(0)) {
          var nb = -reach(1)
          while (nb <= reach(1)) {
            var nc = -reach(2)
            while (nc <= reach(2)) {
              val v = Array(
                carts(j)(0) + na * lat.m(0)(0) + nb * lat.m(1)(0) + nc * lat.m(2)(0) - carts(i)(0),
                carts(j)(1) + na * lat.m(0)(1) + nb * lat.m(1)(1) + nc * lat.m(2)(1) - carts(i)(1),
                carts(j)(2) + na * lat.m(0)(2) + nb * lat.m(1)(2) + nc * lat.m(2)(2) - carts(i)(2))
              val d = norm(v)
              if (d > 1e-8 && d <= cutoff) out += NeighborVec(i, j, d, v)
              nc += 1
            }
            nb += 1
          }
          na += 1
        }
        j += 1
      }
      i += 1
    }
    out.result()
  }

  /** Tetrahedral order parameter over the 4 nearest neighbor vectors
    * (Errington–Debenedetti): 1 − 3/8 Σ_{j<k}(cosθ_jk + 1/3)² — exactly 1
    * for a perfect tetrahedron, ~0 for random arrangements (C16). */
  def tetrahedralOrder(nbrVecs: Seq[Array[Double]]): Double = {
    val vs = nbrVecs.take(4)
    if (vs.size < 4) return 0.0
    var s = 0.0
    for (j <- 0 until 4; k <- j + 1 until 4) {
      val cos = (vs(j)(0) * vs(k)(0) + vs(j)(1) * vs(k)(1) + vs(j)(2) * vs(k)(2)) /
        (norm(vs(j)) * norm(vs(k)))
      s += (cos + 1.0 / 3) * (cos + 1.0 / 3)
    }
    1.0 - 3.0 / 8 * s
  }

  /** Octahedral order parameter over the 6 nearest neighbors: every pair
    * angle in a perfect octahedron is 90° or 180°; score 1 − normalized
    * squared deviation of cosθ from the nearer of {0, −1} (C16). */
  def octahedralOrder(nbrVecs: Seq[Array[Double]]): Double = {
    val vs = nbrVecs.take(6)
    if (vs.size < 6) return 0.0
    var s = 0.0
    var np = 0
    for (j <- 0 until 6; k <- j + 1 until 6) {
      val cos = (vs(j)(0) * vs(k)(0) + vs(j)(1) * vs(k)(1) + vs(j)(2) * vs(k)(2)) /
        (norm(vs(j)) * norm(vs(k)))
      val dev = math.min((cos - 0.0) * (cos - 0.0), (cos + 1.0) * (cos + 1.0))
      s += dev
      np += 1
    }
    math.max(0.0, 1.0 - s / np * 4) // scale so random ≈ 0
  }

  /** Trigonal-planar order parameter over the 3 nearest neighbors: pair
    * angles of the ideal motif are all 120° (C16). */
  def trigonalPlanarOrder(nbrVecs: Seq[Array[Double]]): Double = {
    val vs = nbrVecs.take(3)
    if (vs.size < 3) return 0.0
    val cosIdeal = -0.5
    var s = 0.0
    for (j <- 0 until 3; k <- j + 1 until 3) {
      val cos = dotv(vs(j), vs(k)) / (norm(vs(j)) * norm(vs(k)))
      s += (cos - cosIdeal) * (cos - cosIdeal)
    }
    math.max(0.0, 1.0 - s / 3 * 4)
  }

  /** Square-planar order parameter over the 4 nearest neighbors: pair
    * angles 90° (4 pairs) or 180° (2 pairs) (C16). */
  def squarePlanarOrder(nbrVecs: Seq[Array[Double]]): Double = {
    val vs = nbrVecs.take(4)
    if (vs.size < 4) return 0.0
    var s = 0.0
    var np = 0
    for (j <- 0 until 4; k <- j + 1 until 4) {
      val cos = dotv(vs(j), vs(k)) / (norm(vs(j)) * norm(vs(k)))
      s += math.min(cos * cos, (cos + 1.0) * (cos + 1.0))
      np += 1
    }
    math.max(0.0, 1.0 - s / np * 4)
  }

  /** Single-bond order parameter (CN_1): how much the nearest neighbor
    * dominates the second — (d₂−d₁)/d₂, 1 for an isolated bonded pair,
    * 0 when the two nearest neighbors are equidistant (C16 "sgl_bd";
    * the pipeline's shell-machinery form lives in OpFingerprint — this
    * standalone helper keeps the same definition for specs). */
  def singleBondOrder(nbrDists: Seq[Double],
      cutoff: Double = Double.PositiveInfinity): Double = {
    val ds = nbrDists.sorted.take(2)
    if (ds.isEmpty) 0.0
    else {
      val d2 = if (ds.size > 1) ds(1) else cutoff
      if (d2.isPosInfinity) 1.0 else (d2 - ds(0)) / d2
    }
  }

  /** Bent-motif order parameter over the 2 nearest neighbors with an
    * ideal bond angle in degrees (C16 "bent 150 degrees CN_2"). Same
    * squared-cosine-deviation scale as the other motif scores. */
  def bentOrder(nbrVecs: Seq[Array[Double]], idealDeg: Double): Double = {
    val vs = nbrVecs.take(2)
    if (vs.size < 2) return 0.0
    val cos = dotv(vs(0), vs(1)) / (norm(vs(0)) * norm(vs(1)))
    val cosIdeal = math.cos(math.toRadians(idealDeg))
    math.max(0.0, 1.0 - (cos - cosIdeal) * (cos - cosIdeal) * 4)
  }

  /** Pentagonal-planar order parameter over the 5 nearest neighbors: the
    * ideal motif's pair angles are 72° (adjacent) and 144° (skip-one);
    * each pair scores against the nearer ideal cosine (C16). */
  def pentagonalPlanarOrder(nbrVecs: Seq[Array[Double]]): Double = {
    val vs = nbrVecs.take(5)
    if (vs.size < 5) return 0.0
    val c72 = math.cos(math.toRadians(72)); val c144 = math.cos(math.toRadians(144))
    var s = 0.0
    var np = 0
    for (j <- 0 until 5; k <- j + 1 until 5) {
      val cos = dotv(vs(j), vs(k)) / (norm(vs(j)) * norm(vs(k)))
      s += math.min((cos - c72) * (cos - c72), (cos - c144) * (cos - c144))
      np += 1
    }
    math.max(0.0, 1.0 - s / np * 4)
  }

  /** Rectangular see-saw order parameter over the 4 nearest neighbors:
    * ONE axial pair at 180° and all five remaining pairs at 90° (C16
    * "rectangular see-saw-like CN_4"). Unlike square planar ({90°×4,
    * 180°×2}), only the single best axial pair is allowed at 180° — a
    * square-planar site pays a full cos²=1 penalty on its second axial
    * pair, which keeps the two motifs distinguishable. */
  def seeSawOrder(nbrVecs: Seq[Array[Double]]): Double = {
    val vs = nbrVecs.take(4)
    if (vs.size < 4) return 0.0
    val cosines = for (j <- 0 until 4; k <- j + 1 until 4)
      yield dotv(vs(j), vs(k)) / (norm(vs(j)) * norm(vs(k)))
    val axial = cosines.minBy(c => (c + 1.0) * (c + 1.0))
    var s = (axial + 1.0) * (axial + 1.0)
    var taken = false
    cosines.foreach { c =>
      if (c == axial && !taken) taken = true
      else s += c * c
    }
    math.max(0.0, 1.0 - s / 6 * 4)
  }

  /** Steinhardt bond-orientational order q₆ over the `cn` nearest
    * neighbors (C16 "q6 CN_12"): by the spherical-harmonic addition
    * theorem, q₆² = mean over ordered neighbor pairs (including self) of
    * P₆(cosθ) — no explicit Y₆m needed. ~0.575 for fcc CN-12, →0 for
    * random directions. */
  def q6Order(nbrVecs: Seq[Array[Double]], cn: Int = 12): Double = {
    val vs = nbrVecs.take(cn)
    if (vs.size < 2) return 0.0
    val n = vs.size
    def p6(x: Double): Double = {
      val x2 = x * x
      (231 * x2 * x2 * x2 - 315 * x2 * x2 + 105 * x2 - 5) / 16
    }
    var s = 0.0
    for (j <- 0 until n; k <- 0 until n) {
      val cos = dotv(vs(j), vs(k)) / (norm(vs(j)) * norm(vs(k)))
      s += p6(math.min(1.0, math.max(-1.0, cos)))
    }
    math.sqrt(math.max(0.0, s / (n.toDouble * n)))
  }

  private def dotv(a: Array[Double], b: Array[Double]): Double =
    a(0) * b(0) + a(1) * b(1) + a(2) * b(2)

  // ---- small vector helpers --------------------------------------------

  def det3(m: Array[Array[Double]]): Double =
    m(0)(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1)) -
      m(0)(1) * (m(1)(0) * m(2)(2) - m(1)(2) * m(2)(0)) +
      m(0)(2) * (m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0))

  def cross(a: Array[Double], b: Array[Double]): Array[Double] =
    Array(a(1) * b(2) - a(2) * b(1), a(2) * b(0) - a(0) * b(2), a(0) * b(1) - a(1) * b(0))

  def norm(a: Array[Double]): Double = math.sqrt(a(0) * a(0) + a(1) * a(1) + a(2) * a(2))
}
