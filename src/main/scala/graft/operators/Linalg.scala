package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed linear algebra for embedding preprocessing (SURVEY.md
  * §7.1 extension surface): exact second moments → covariance → PCA /
  * whitening. Real ANN pipelines run this before product quantization
  * (Jégou et al.'s OPQ lineage): decorrelated, variance-balanced
  * coordinates make subspace codebooks dramatically tighter.
  *
  * Scale split, the same as k-means/PQ here: the DATA-sized work is
  * ONE aggregation pass (dim + dim(dim+1)/2 + 1 aggregates — for
  * dim 64 that is 2 145 sums, map-side combined, one tiny shuffle) and
  * ONE projection scan through a codegen kernel with the k×dim model
  * riding the task binary; the MODEL-sized work (64×64 eigensolve)
  * runs on the driver, where an O(dim³) Jacobi sweep is microseconds.
  * Nothing corpus-sized ever reaches the driver.
  *
  * Determinism: per-element products are cast to DECIMAL(38,18) and
  * summed EXACTLY, so the moment matrix is bit-identical at any
  * partition count AND replayable by an external SQL engine — that is
  * q174's oracle. The eigensolve is a fixed-order cyclic Jacobi on the
  * exact moments; the projection kernel accumulates left-to-right.
  * Float→double element widening is exact; double products are IEEE-
  * deterministic.
  */
object Linalg {

  /** Exact first/second moments of an array<numeric> column, one pass.
    * Returns (n, sums[dim], prods[dim][dim] upper-triangle-filled).
    *
    * Plan shape: ONE generator (the codegen [[graft.plans.MomentVector]]
    * kernel emits each row's [means ++ upper-triangle products] as a
    * single array) → posexplode → grouped exact DECIMAL sums over the
    * 2 145 slot indexes, map-side combined (the shuffle carries
    * partitions × slots partial sums, never rows). A column-per-moment
    * formulation is semantically identical but asks Catalyst to plan
    * 2 145 separate aggregates — measured 48 s of fixed
    * planning/codegen cost on a 500-row input vs ~2 s for this shape. */
  def secondMoments(df: DataFrame, vecCol: String, dim: Int):
      (Long, Array[java.math.BigDecimal], Array[Array[java.math.BigDecimal]]) = {
    require(dim >= 1 && dim <= 128, "dim in [1,128]")
    // a small-file input arrives as one split, serializing the ×2145
    // explode into a single task; spread it first
    val src = Relational.fanOut(df)
    // ONE corpus pass (r19, guide §1.2): the old count/min/max-size
    // pre-agg scanned the corpus once just to guard dims and fetch n.
    // The dim guard now lives in the kernel (fails loudly per row; a
    // null vector is coalesced to size 0 so it trips the same guard
    // instead of vanishing from the explode), and n rides the SAME
    // grouped aggregation as a per-slot count — every slot counts each
    // row exactly once.
    val nullTrap = coalesce(col(vecCol).cast("array<double>"),
      expr("cast(array() as array<double>)"))
    val agg = src
      .select(posexplode(graft.plans.VectorExpressions.momentVector(nullTrap, dim))
        .as(Seq("slot", "v")))
      .groupBy(col("slot"))
      .agg(sum(col("v").cast(DecimalType(38, 18))).as("s"),
        count(lit(1)).as("c"))
      .collect()
    require(agg.nonEmpty, "empty input")
    val n = agg.head.getLong(2)
    val slots = agg.map(r => r.getInt(0) -> r.getDecimal(1)).toMap
    val sums = Array.tabulate(dim)(slots(_))
    val prods = Array.ofDim[java.math.BigDecimal](dim, dim)
    val pairIdx = for (i <- 0 until dim; j <- i until dim) yield (i, j)
    pairIdx.zipWithIndex.foreach { case ((i, j), k) =>
      val v = slots(dim + k)
      prods(i)(j) = v; prods(j)(i) = v
    }
    (n, sums, prods)
  }

  /** Covariance matrix from exact moments: C = S/n − μμᵀ, computed in
    * BigDecimal and surfaced as doubles (driver-side, model-sized). */
  def covariance(n: Long, sums: Array[java.math.BigDecimal],
      prods: Array[Array[java.math.BigDecimal]]): Array[Array[Double]] = {
    val mc = java.math.MathContext.DECIMAL128
    val nBD = new java.math.BigDecimal(n)
    val dim = sums.length
    val mu = sums.map(_.divide(nBD, mc))
    Array.tabulate(dim, dim) { (i, j) =>
      prods(i)(j).divide(nBD, mc)
        .subtract(mu(i).multiply(mu(j), mc), mc).doubleValue()
    }
  }

  /** Deterministic cyclic Jacobi eigensolve of a symmetric matrix:
    * fixed sweep order (row-major upper triangle), fixed sweep count —
    * no data-dependent pivoting, so the result is a pure function of
    * the input. Returns (eigenvalues DESC, eigenvectors as ROWS,
    * matching order). dim ≤ 128 ⇒ driver microseconds-to-ms. */
  def jacobiEigen(mIn: Array[Array[Double]], sweeps: Int = 50)
      : (Array[Double], Array[Array[Double]]) = {
    val dim = mIn.length
    val a = mIn.map(_.clone())
    val v = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var s = 0
    while (s < sweeps) {
      var off = 0.0
      for (p <- 0 until dim; q <- (p + 1) until dim) off += a(p)(q) * a(p)(q)
      if (off < 1e-30) s = sweeps
      else {
        for (p <- 0 until dim; q <- (p + 1) until dim) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0
              case sg  => sg / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            for (k <- 0 until dim) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - sn * akq
              a(k)(q) = sn * akp + c * akq
            }
            for (k <- 0 until dim) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - sn * aqk
              a(q)(k) = sn * apk + c * aqk
            }
            for (k <- 0 until dim) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - sn * vkq
              v(k)(q) = sn * vkp + c * vkq
            }
          }
        }
        s += 1
      }
    }
    val pairs = (0 until dim).map(i => (a(i)(i), i))
      .sortBy { case (ev, i) => (-ev, i) } // desc, index tiebreak
    val vals = pairs.map(_._1).toArray
    val vecs = pairs.map { case (_, i) =>
      Array.tabulate(dim)(k => v(k)(i)) }.toArray
    (vals, vecs)
  }

  /** PCA whitening to the top-k components: id + white[k] per row, via
    * the codegen [[graft.plans.AffineProject]] kernel (rows of the
    * model are vⱼ/√λⱼ). Components with λ ≤ eps are dropped rather than
    * amplified to noise. Returns (projected df, eigenvalues DESC). */
  def pcaWhiten(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, eps: Double = 1e-12): (DataFrame, Array[Double]) = {
    val (n, sums, prods) = secondMoments(df, vecCol, dim)
    pcaWhitenFromMoments(df, idCol, vecCol, n, sums, prods, k, eps)
  }

  /** [[pcaWhiten]] over ALREADY-computed moments — callers that need
    * the moment matrix anyway (q174) must not pay the corpus pass
    * twice. */
  def pcaWhitenFromMoments(df: DataFrame, idCol: String, vecCol: String,
      n: Long, sums: Array[java.math.BigDecimal],
      prods: Array[Array[java.math.BigDecimal]],
      k: Int, eps: Double = 1e-12): (DataFrame, Array[Double]) = {
    val cov = covariance(n, sums, prods)
    val (vals, vecs) = jacobiEigen(cov)
    val mc = java.math.MathContext.DECIMAL128
    val mu = sums.map(_.divide(new java.math.BigDecimal(n), mc).doubleValue())
    val keep = vals.zipWithIndex.take(k).filter(_._1 > eps)
    val rows = keep.map { case (lam, i) =>
      vecs(i).map(_ / math.sqrt(lam)).toSeq }.toSeq
    val out = df.select(col(idCol),
      graft.plans.VectorExpressions.affineProject(col(vecCol), mu.toSeq, rows)
        .as("white"))
    (out, vals)
  }
}
