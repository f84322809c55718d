package graft.operators

import org.apache.spark.sql.DataFrame

/** Principal components of a column of equal-length double arrays, in
  * the distributed shape of MLlib's `RowMatrix`: one `treeAggregate`
  * accumulates (n, Σx, Σxxᵀ) on the executors, O(d²) state per
  * partition and no vector ever collected, then the driver forms the
  * sample covariance (G − nμμᵀ)/(n−1) and eigendecomposes that d×d
  * matrix (O(d³)) with cyclic Jacobi rotations.
  *
  * Output conventions: components sorted by eigenvalue, descending; each
  * component's largest-magnitude coordinate is positive; explained
  * variance is λᵢ/Σλ over all d eigenvalues (MLlib's definition).
  */
object PrincipalComponents {

  /** `components(i)` is the i-th unit-norm principal axis (length d). */
  final case class Fit(components: Array[Array[Double]], explainedVariance: Array[Double])

  /** Running moments of one partition; `sum`/`gram` are allocated on the
    * first vector, `gram` is the packed upper triangle of Σxxᵀ.
    */
  private final class Moments extends Serializable {
    var n = 0L
    var sum: Array[Double] = _
    var gram: Array[Double] = _

    private def alloc(d: Int): Unit = {
      sum = new Array[Double](d)
      gram = new Array[Double](d * (d + 1) / 2)
    }

    def add(x: Array[Double]): Moments = {
      if (sum == null) alloc(x.length)
      require(x.length == sum.length,
        s"PCA needs equal vector lengths: got ${x.length} after ${sum.length}")
      val d = x.length
      var i = 0
      var k = 0
      while (i < d) {
        val xi = x(i)
        sum(i) += xi
        var j = i
        while (j < d) { gram(k) += xi * x(j); j += 1; k += 1 }
        i += 1
      }
      n += 1
      this
    }

    def merge(o: Moments): Moments = {
      if (o.sum != null) {
        if (sum == null) alloc(o.sum.length)
        require(o.sum.length == sum.length,
          s"PCA needs equal vector lengths: got ${o.sum.length} and ${sum.length}")
        var i = 0
        while (i < sum.length) { sum(i) += o.sum(i); i += 1 }
        i = 0
        while (i < gram.length) { gram(i) += o.gram(i); i += 1 }
        n += o.n
      }
      this
    }
  }

  /** The top-`k` principal components of `vectors`' first column, an
    * `array<double>` with no null rows. Needs n ≥ 2 rows and k ≤ d.
    */
  def fit(vectors: DataFrame, k: Int): Fit = {
    val m = vectors.queryExecution.toRdd.treeAggregate(new Moments)(
      (acc, row) => {
        require(!row.isNullAt(0), "PCA input holds a null vector")
        acc.add(row.getArray(0).toDoubleArray())
      },
      (a, b) => a.merge(b))
    require(m.n >= 2, s"PCA needs at least 2 vectors, got ${m.n}")
    val d = m.sum.length
    require(k >= 1 && k <= d, s"PCA k must be in [1, $d], got $k")
    val cov = Array.ofDim[Double](d, d)
    var p = 0
    for (i <- 0 until d; j <- i until d) {
      val c = (m.gram(p) - m.sum(i) * m.sum(j) / m.n) / (m.n - 1)
      cov(i)(j) = c
      cov(j)(i) = c
      p += 1
    }
    val (values, vectorsByCol) = symmetricEigen(cov)
    val top = (0 until d).sortBy(i => -values(i)).take(k).toArray
    val comps = top.map { c =>
      val v = Array.tabulate(d)(r => vectorsByCol(r)(c))
      if (v.maxBy(math.abs) < 0) v.map(-_) else v
    }
    Fit(comps, top.map(values(_) / values.sum))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (Rutishauser's
    * variant: thresholded rotations in the first sweeps, then every
    * off-diagonal element rotated until it underflows against its
    * diagonal). Returns (eigenvalues, V) with eigenvector c in column c
    * of V. Throws when 50 sweeps leave the matrix undiagonalized; it
    * converges quadratically, in under ten sweeps for d = 64.
    */
  private[graft] def symmetricEigen(sym: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = sym.length
    val a = sym.map(_.clone)
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    val d = Array.tabulate(n)(i => a(i)(i))
    val b = d.clone
    val z = new Array[Double](n)

    def rotate(m: Array[Array[Double]], s: Double, tau: Double,
               i: Int, j: Int, k: Int, l: Int): Unit = {
      val g = m(i)(j)
      val h = m(k)(l)
      m(i)(j) = g - s * (h + g * tau)
      m(k)(l) = h + s * (g - h * tau)
    }

    var sweep = 1
    while (sweep <= 50) {
      var off = 0.0
      for (p <- 0 until n - 1; q <- p + 1 until n) off += math.abs(a(p)(q))
      if (off == 0.0) return (d, v)
      val thresh = if (sweep < 4) 0.2 * off / (n * n) else 0.0
      for (p <- 0 until n - 1; q <- p + 1 until n) {
        val apq = a(p)(q)
        val g = 100.0 * math.abs(apq)
        if (sweep > 4 && math.abs(d(p)) + g == math.abs(d(p)) &&
            math.abs(d(q)) + g == math.abs(d(q))) {
          a(p)(q) = 0.0
        } else if (math.abs(apq) > thresh) {
          val diff = d(q) - d(p)
          val t =
            if (math.abs(diff) + g == math.abs(diff)) apq / diff
            else {
              val theta = 0.5 * diff / apq
              val t0 = 1.0 / (math.abs(theta) + math.sqrt(1.0 + theta * theta))
              if (theta < 0.0) -t0 else t0
            }
          val c = 1.0 / math.sqrt(1 + t * t)
          val s = t * c
          val tau = s / (1.0 + c)
          val h = t * apq
          z(p) -= h; z(q) += h
          d(p) -= h; d(q) += h
          a(p)(q) = 0.0
          for (j <- 0 until p) rotate(a, s, tau, j, p, j, q)
          for (j <- p + 1 until q) rotate(a, s, tau, p, j, j, q)
          for (j <- q + 1 until n) rotate(a, s, tau, p, j, q, j)
          for (j <- 0 until n) rotate(v, s, tau, j, p, j, q)
        }
      }
      for (i <- 0 until n) { b(i) += z(i); d(i) = b(i); z(i) = 0.0 }
      sweep += 1
    }
    throw new ArithmeticException(s"Jacobi eigensolver did not converge in 50 sweeps (n = $n)")
  }
}
