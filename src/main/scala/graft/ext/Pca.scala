package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Distributed PCA for embedding columns — the dimensionality-reduction
  * step a corpus-scale ANN pipeline runs before indexing (64→k dims is a
  * k/64 cut in index size and scan bytes, composable with SQ8 and IVF).
  *
  * Shape: ONE pass over the corpus accumulates the d + d(d+1)/2 moment
  * sums via `treeAggregate` — each partition contributes a fixed-size
  * Array[Long], so the reduction is O(d²) per partition regardless of
  * row count, and the tiny d×d eigenproblem is solved on the driver
  * (cyclic Jacobi — d is 64, not a distributed problem; pretending
  * otherwise just adds shuffles).
  *
  * Determinism: components are quantized to integer micro-units BEFORE
  * summation, so the moment sums are exact BIGINT — associative,
  * order-free, partitioning-free — and the fitted model is bit-identical
  * on any cluster layout (PcaSpec asserts it). Jacobi's cyclic sweep
  * order is fixed; eigenvector sign is canonicalized (largest-magnitude
  * entry positive); ties in eigenvalue order break by original index.
  */
object Pca {

  /** Quantization scale: 5 decimal digits. Bounds for BIGINT safety:
    * |x| ≤ 20 ⇒ |q| ≤ 2e6, pair product ≤ 4e12, and n·Σ products stays
    * under 2⁶³ for n ≤ ~1e5 rows per fitted corpus at |x| ≤ 1 (our
    * embeddings are unit-ish); fit on a sample beyond that. */
  private val Scale = 1e5

  final case class Model(dims: Int, n: Long, mean: Array[Double],
                         eigenvalues: Array[Double],
                         components: Array[Array[Double]])

  /** One-pass exact moment accumulation + driver-side Jacobi. */
  def fit(emb: DataFrame, vecCol: String = "embedding", dims: Int = 64)
      : Model = {
    val nPairs = dims * (dims + 1) / 2
    val rows = emb.select(col(vecCol).cast("array<double>"))
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dims &&
        // a null ELEMENT would unbox to an executor NPE in the seqOp;
        // exclude malformed vectors the same way null arrays are
        !exists(col(vecCol), _.isNull))
      .rdd.map(_.getSeq[Double](0))
    // (count, Σq_i, Σ q_i·q_j upper-triangular row-major)
    val zero = (0L, new Array[Long](dims), new Array[Long](nPairs))
    val (n, sx, sxy) = rows.treeAggregate(zero)(
      seqOp = { case ((c, s1, s2), v) =>
        val q = new Array[Long](dims)
        var i = 0
        while (i < dims) { q(i) = math.round(v(i) * Scale); i += 1 }
        var p = 0
        i = 0
        while (i < dims) {
          s1(i) += q(i)
          var j = i
          while (j < dims) { s2(p) += q(i) * q(j); p += 1; j += 1 }
          i += 1
        }
        (c + 1, s1, s2)
      },
      combOp = { case ((c1, a1, b1), (c2, a2, b2)) =>
        var i = 0
        while (i < dims) { a1(i) += a2(i); i += 1 }
        i = 0
        while (i < nPairs) { b1(i) += b2(i); i += 1 }
        (c1 + c2, a1, b1)
      })
    require(n >= 2, s"PCA needs at least 2 rows, got $n")
    val cov = Array.ofDim[Double](dims, dims)
    var p = 0
    var i = 0
    while (i < dims) {
      var j = i
      while (j < dims) {
        // (n·Σxy − Σx·Σy) / (n(n−1)), unscaled by Scale²
        val c = (n.toDouble * sxy(p) - sx(i).toDouble * sx(j)) /
          (n.toDouble * (n - 1)) / (Scale * Scale)
        cov(i)(j) = c; cov(j)(i) = c
        p += 1; j += 1
      }
      i += 1
    }
    val mean = Array.tabulate(dims)(i => sx(i) / Scale / n)
    val (values, vectors) = jacobiEigen(cov)
    // order by eigenvalue desc (index tie-break), canonical sign
    val order = values.zipWithIndex.sortBy { case (v, idx) => (-v, idx) }
    val evs = order.map(_._1)
    val comps = order.map { case (_, idx) =>
      val c = Array.tabulate(dims)(r => vectors(r)(idx))
      val m = c.indices.maxBy(r => (math.abs(c(r)), -r))
      if (c(m) < 0) c.map(-_) else c
    }
    Model(dims, n, mean, evs, comps)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, column-eigenvector matrix). Deterministic sweep
    * order; converges quadratically — 64×64 finishes in a handful of
    * sweeps. */
  private[ext] def jacobiEigen(m: Array[Array[Double]], maxSweeps: Int = 50)
      : (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    val tol = 1e-12 * math.max(1.0, frobenius(a))
    while (off > tol && sweep < maxSweeps) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > tol / (d * d)) rotate(a, v, p, q)
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    for (i <- a.indices; j <- a.indices if i != j) s += a(i)(j) * a(i)(j)
    math.sqrt(s)
  }

  private def frobenius(a: Array[Array[Double]]): Double = {
    var s = 0.0
    for (i <- a.indices; j <- a.indices) s += a(i)(j) * a(i)(j)
    math.sqrt(s)
  }

  private def rotate(a: Array[Array[Double]], v: Array[Array[Double]],
                     p: Int, q: Int): Unit = {
    val d = a.length
    val apq = a(p)(q)
    if (apq == 0.0) return
    val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
    val t = math.signum(theta) match {
      case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
      case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
    }
    val c = 1.0 / math.sqrt(t * t + 1.0)
    val s = t * c
    var k = 0
    while (k < d) {
      val akp = a(k)(p); val akq = a(k)(q)
      a(k)(p) = c * akp - s * akq
      a(k)(q) = s * akp + c * akq
      k += 1
    }
    k = 0
    while (k < d) {
      val apk = a(p)(k); val aqk = a(q)(k)
      a(p)(k) = c * apk - s * aqk
      a(q)(k) = s * apk + c * aqk
      k += 1
    }
    k = 0
    while (k < d) {
      val vkp = v(k)(p); val vkq = v(k)(q)
      v(k)(p) = c * vkp - s * vkq
      v(k)(q) = s * vkp + c * vkq
      k += 1
    }
  }

  /** Mahalanobis distance² from the fitted distribution, computed in the
    * eigenbasis: md² = Σ_c p_c² / λ_c (with all d components this IS
    * (x−μ)ᵀΣ⁻¹(x−μ) — the eigendecomposition is the inverse, no matrix
    * solve per row). The embedding-corpus outlier score: corrupt or
    * out-of-distribution vectors stand out where raw L2 distance can't
    * see correlated dims. Components with λ ≤ floor are skipped (rank-
    * deficient directions would turn noise into ∞). One narrow map —
    * same cost shape as project(). For N(μ,Σ) data E[md²] ≈ d, which
    * PcaSpec asserts on the fixture. */
  def mahalanobis(emb: DataFrame, model: Model,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  eigenFloor: Double = 1e-9,
                  maxComponents: Int = Int.MaxValue): DataFrame = {
    // maxComponents < d gives the truncated Mahalanobis in the top-k PCA
    // subspace — the standard trade when trailing eigenvalues are noise
    val used = math.min(maxComponents,
      model.eigenvalues.takeWhile(_ > eigenFloor).length)
    val proj = project(emb, model, used, idCol, vecCol)
    val invL = model.eigenvalues.take(used).map(1.0 / _)
    proj.select(col(idCol),
      aggregate(zip_with(col("projected"), lit(invL), (p, il) => p * p * il),
        lit(0.0d), (acc, x) => acc + x).as("md2"))
  }

  /** Project onto the top-k components: p_c = ⟨v, W_c⟩ − ⟨mean, W_c⟩.
    * The mean term is a precomputed scalar, so projection is k codegen'd
    * dot products over the scan — a narrow map, no shuffle, each dot the
    * fused native expression. */
  def project(emb: DataFrame, model: Model, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(k >= 1 && k <= model.dims, s"bad k=$k for dims=${model.dims}")
    val cols: Seq[Column] = (0 until k).map { c =>
      val w = model.components(c)
      val meanDot = (0 until model.dims)
        .map(i => model.mean(i) * w(i)).sum
      (VectorFunctions.dot(col(vecCol), lit(w)) - lit(meanDot))
        .as(s"pc$c")
    }
    emb.select(col(idCol) +: col(vecCol) +: cols: _*)
      .select(col(idCol), array((0 until k).map(c => col(s"pc$c")): _*)
        .as("projected"))
  }
}
