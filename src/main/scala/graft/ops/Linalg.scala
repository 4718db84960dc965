package graft.ops

import graft.expressions.AggregateFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed second-moment linear algebra over an embedding column
  * (north-star extension): covariance/PCA and a ridge-regression
  * "quality probe" — the linear classifier a training-data pipeline
  * fits on embeddings to score and filter a corpus (the fastText /
  * FineWeb-Edu quality-filter shape, re-expressed Spark-first).
  *
  * The 100 TB design point: every operator here reads the corpus in ONE
  * pass through [[graft.expressions.GramMomentsAgg]] — a constant
  * `1+d+d(d+1)/2`-double buffer per task (d=64 → 17 KB) whose partial
  * buffers are the ONLY thing on the exchange wire. The d×d solve
  * (power iteration / gradient descent) is driver-side arithmetic on
  * the collected moments (model-sized params-as-data), and the apply
  * stage is a broadcast dot product — no second corpus shuffle anywhere.
  *
  * Determinism discipline (the q40 round-9dp-both-sides rule): the
  * collected moments are rounded to 9 dp before any iterative solve so
  * an external engine (the DuckDB oracle) replaying the SAME fixed
  * iteration count over the SAME rounded inputs reproduces the result
  * to well inside the 6-dp output rounding. Both solvers run a FIXED
  * number of iterations — no convergence test — so the replay needs no
  * fixpoint semantics, just unrolled arithmetic.
  */
object Linalg {

  /** Raw moments of `vecCol`, collected to the driver:
    * `(n, Σx (length d), upper-triangle Σ x_i·x_j (row-major))`.
    * One corpus pass, one O(partitions) exchange. */
  def collectMoments(df: DataFrame, vecCol: String)
      : (Long, Array[Double], Array[Double]) = {
    val row = df
      .agg(AggregateFunctions.gramMoments(col(vecCol)).as("m"))
      .head()
    require(!row.isNullAt(0), s"gram moments: no non-null $vecCol rows")
    val m = row.getSeq[Double](0).toArray
    // invert len = 1 + d + d(d+1)/2  →  d = (-3 + sqrt(9 + 8(len-1))) / 2
    val d = ((math.sqrt(9.0 + 8.0 * (m.length - 1)) - 3.0) / 2.0).round.toInt
    require(1 + d + d * (d + 1) / 2 == m.length,
      s"gram moments: buffer length ${m.length} is not triangular")
    (m(0).toLong, m.slice(1, 1 + d), m.drop(1 + d))
  }

  private[graft] def round9(v: Double): Double = math.rint(v * 1e9) / 1e9

  /** Sample covariance from raw moments:
    * `cov(i,j) = (Σ x_i x_j − Σx_i·Σx_j/n) / (n−1)`, full d×d. */
  def covarianceFromMoments(n: Long, sums: Array[Double],
      prods: Array[Double]): Array[Array[Double]] = {
    val d = sums.length
    require(n >= 2, s"covariance needs n >= 2 rows, got $n")
    val c = Array.ofDim[Double](d, d)
    var k = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val v = (prods(k) - sums(i) * sums(j) / n) / (n - 1.0)
        c(i)(j) = v
        c(j)(i) = v
        j += 1; k += 1
      }
      i += 1
    }
    c
  }

  /** Upper-triangle sample covariance of `vecCol` as an EAV relation
    * `(i, j, cov)`, i <= j, 6-dp — the distributed fit's params-as-data
    * surface (d(d+1)/2 rows; d=64 → 2,080). */
  def covarianceEav(spark: SparkSession, df: DataFrame, vecCol: String)
      : DataFrame = {
    val (n, sums, prods) = collectMoments(df, vecCol)
    val c = covarianceFromMoments(n, sums, prods)
    val rows = for {
      i <- 0 until sums.length
      j <- i until sums.length
    } yield (i.toLong, j.toLong, math.rint(c(i)(j) * 1e6) / 1e6)
    import spark.implicits._
    rows.toDF("i", "j", "cov")
  }

  /** Dominant eigenvector of `cov` by `iters` FIXED power iterations
    * from the uniform start `1/√d`, inputs rounded to 9 dp, vector
    * normalized each step, sign canonicalized so `Σv ≥ 0`. Index-order
    * arithmetic throughout — replayable verbatim in SQL. */
  def powerIterate(cov: Array[Array[Double]], iters: Int): Array[Double] = {
    val d = cov.length
    val c = Array.tabulate(d, d)((i, j) => round9(cov(i)(j)))
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var t = 0
    while (t < iters) {
      val w = new Array[Double](d)
      var i = 0
      while (i < d) {
        var s = 0.0
        var j = 0
        while (j < d) { s += c(i)(j) * v(j); j += 1 }
        w(i) = s
        i += 1
      }
      var nrm = 0.0
      i = 0
      while (i < d) { nrm += w(i) * w(i); i += 1 }
      nrm = math.sqrt(nrm)
      require(nrm > 0.0, "power iteration collapsed to the zero vector")
      i = 0
      while (i < d) { w(i) /= nrm; i += 1 }
      v = w
      t += 1
    }
    // canonical sign: the eigenvector is defined up to ±; pin the sum
    // non-negative (data-dependent but far from 0 on the test corpora,
    // and replayed by the oracle with the same rule)
    if (v.sum < 0) v.map(-_) else v
  }

  /** Projection of `vecCol` onto the dominant principal component of
    * the corpus (fit distributed via moments, solved on the driver,
    * applied as a broadcast-literal dot product): `(idCol, pc1)` 6-dp.
    * The component is rounded to 9 dp before the dot product so the
    * apply stage is replayable too. */
  def pcaProjectTop1(spark: SparkSession, df: DataFrame, idCol: String,
      vecCol: String, iters: Int = 15): DataFrame = {
    val (n, sums, prods) = collectMoments(df, vecCol)
    val v = powerIterate(covarianceFromMoments(n, sums, prods), iters)
      .map(round9)
    df.select(col(idCol),
      round(dot(col(vecCol), v), 6).as("pc1"))
  }

  /** Top-k eigenpairs of `cov` by power iteration with DEFLATION: run
    * [[powerIterate]] (`iters` fixed steps, sign pinned), round the
    * component to 9 dp, take the Rayleigh quotient λ = vᵀCv (index
    * order, rounded 9 dp), deflate C ← round9(C − λ·vvᵀ), repeat.
    * Every data-dependent intermediate is 9-dp-rounded before reuse,
    * so an external engine replaying the same unrolled arithmetic
    * reproduces all k components bit-for-bit (the q224 discipline,
    * iterated). Component 0 is exactly [[powerIterate]]'s answer.
    * Returns (components (k×d, 9 dp), eigenvalues (k, 9 dp)). */
  def pcaTopK(cov: Array[Array[Double]], k: Int, iters: Int)
      : (Array[Array[Double]], Array[Double]) = {
    val d = cov.length
    var c = Array.tabulate(d, d)((i, j) => round9(cov(i)(j)))
    val comps = Array.ofDim[Double](k, d)
    val lams = new Array[Double](k)
    var comp = 0
    while (comp < k) {
      val vv = powerIterate(c, iters).map(round9)
      // Rayleigh quotient in index order: Σᵢ vvᵢ · (Σⱼ cᵢⱼ vvⱼ)
      var lam = 0.0
      var i = 0
      while (i < d) {
        var inner = 0.0
        var j = 0
        while (j < d) { inner += c(i)(j) * vv(j); j += 1 }
        lam += vv(i) * inner
        i += 1
      }
      val lamR = round9(lam)
      comps(comp) = vv
      lams(comp) = lamR
      c = Array.tabulate(d, d)((i, j) =>
        round9(c(i)(j) - lamR * vv(i) * vv(j)))
      comp += 1
    }
    (comps, lams)
  }

  /** Top-k principal components of `vecCol` as an EAV relation
    * `(comp, j, loading, eigval)` (k·d rows; 6-dp outputs) — the FIT
    * surface of whitening/decorrelation, distributed as one moments
    * pass + a driver-side deflated power iteration. */
  def pcaComponentsEav(spark: SparkSession, df: DataFrame,
      vecCol: String, k: Int = 4, iters: Int = 15): DataFrame = {
    val (n, sums, prods) = collectMoments(df, vecCol)
    val (comps, lams) = pcaTopK(covarianceFromMoments(n, sums, prods),
      k, iters)
    val rows = for {
      c <- 0 until k
      j <- comps(c).indices
    } yield (c.toLong, j.toLong,
      math.rint(comps(c)(j) * 1e6) / 1e6,
      math.rint(lams(c) * 1e6) / 1e6)
    import spark.implicits._
    rows.toDF("comp", "j", "loading", "eigval")
  }

  /** Embedding-distribution DRIFT audit between two corpus snapshots
    * (crawl N vs N+1, pre- vs post-dedup, source A vs B) — "did my
    * embedding space move", the production monitor that guards every
    * cosine-threshold operator downstream (dedup/ANN/decontam
    * thresholds silently rot when the distribution shifts). Per
    * dimension: both snapshots' means and (population) variances, and
    * their deltas. TWO one-pass [[AggregateFunctions.gramMoments]]
    * reads (one per snapshot, constant `1+d+d(d+1)/2`-double buffer,
    * O(partitions) exchange each) — neither corpus ever shuffles.
    *
    * Replay discipline (the q223/q228 rule): each data-dependent
    * reduction (Σx/n, Σx²/n) is 9dp-rounded FIRST; every derived
    * quantity (variance p − m², the deltas) is closed-form IEEE
    * arithmetic both engines reproduce identically; 6-dp EAV out. */
  def embeddingDriftEav(spark: SparkSession, dfA: DataFrame,
      dfB: DataFrame, vecCol: String): DataFrame = {
    def sideStats(df: DataFrame): (Array[Double], Array[Double]) = {
      val (n, sums, prods) = collectMoments(df, vecCol)
      val d = sums.length
      val means = Array.tabulate(d)(j => round9(sums(j) / n))
      val vars = new Array[Double](d)
      var k = 0
      var i = 0
      while (i < d) {
        var j = i
        while (j < d) {
          if (i == j) {
            val p = round9(prods(k) / n)
            vars(i) = round9(p - means(i) * means(i))
          }
          j += 1; k += 1
        }
        i += 1
      }
      (means, vars)
    }
    val (ma, va) = sideStats(dfA)
    val (mb, vb) = sideStats(dfB)
    require(ma.length == mb.length,
      s"drift: dimension mismatch ${ma.length} vs ${mb.length}")
    def r6(v: Double): Double = math.rint(v * 1e6) / 1e6
    val rows = ma.indices.map(j => (j.toLong,
      r6(ma(j)), r6(mb(j)), r6(mb(j) - ma(j)),
      r6(va(j)), r6(vb(j)), r6(vb(j) - va(j))))
    import spark.implicits._
    rows.toDF("j", "mean_a", "mean_b", "mean_delta",
      "var_a", "var_b", "var_delta")
  }

  /** PCA-LEVERAGE outlier score — the "weird vector" filter run before
    * embeddings feed dedup/ANN/probes: per row, the squared norm of
    * its top-k WHITENED coordinates `Σ_c ((x·v_c)/√λ_c)²`. Whitened
    * coordinates are unit-variance by construction, so a healthy row
    * scores ≈ k·(n−1)/n and a corrupt/out-of-distribution one scores
    * far above — a Mahalanobis distance restricted to the top-k
    * principal subspace, which is the part an engine at 100 TB can
    * afford: ONE moments pass + driver deflation (the q223/q226 fit),
    * then k broadcast-literal dot products in one narrow scan, ZERO
    * shuffles. Replay: the score sums the ALREADY-6dp-rounded whitened
    * coordinates (the q227 outputs) in component order, so both the
    * score and the threshold flag are closed-form on engine-identical
    * inputs — the flag compares the ROUNDED score (the q222 rule). */
  def pcaLeverage(spark: SparkSession, df: DataFrame, idCol: String,
      vecCol: String, k: Int = 4, iters: Int = 15,
      threshold: Double = 8.0): DataFrame = {
    val (n, sums, prods) = collectMoments(df, vecCol)
    val (comps, lams) = pcaTopK(covarianceFromMoments(n, sums, prods),
      k, iters)
    val wcols = (0 until k).map { c =>
      require(lams(c) > 0.0,
        s"pca leverage: eigenvalue $c is ${lams(c)} (component space " +
          "exhausted — lower k)")
      val s = round9(1.0 / math.sqrt(lams(c)))
      round(dot(col(vecCol), comps(c)) * s, 6)
    }
    val score = round(wcols.map(w => w * w).reduce(_ + _), 6)
    df.select(col(idCol), score.as("leverage"),
      (score >= threshold).as("is_outlier"))
  }

  /** MERGEABLE per-dimension embedding-moments state on the integer
    * lattice — the q216 incremental-stats pattern for the vector
    * world: per dim, exact `(n, Σq, Σq²)` with `q = ⌊x·10⁶ + 0.5⌋`
    * (long / long / DECIMAL(38,0) — the [[labelScatter]] arithmetic).
    * The state is d rows of params-as-data: persist it, and when a
    * delta corpus arrives, [[mergeMomentsState]] adds the integer
    * sums — NO history rescan, and because the core is integer the
    * merged state is BIT-IDENTICAL to a full recompute at any
    * history/delta split and any partitioning (q249 makes that
    * contractual). One partial-aggregatable (dim) exchange per call. */
  def momentsLatticeState(df: DataFrame, vecCol: String): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("j", "x")))
      .select(col("j").cast("long").as("j"),
        floor(col("x").cast("double") * 1e6 + 0.5).cast("long")
          .as("qv"))
      .groupBy("j")
      .agg(count(lit(1)).as("n"), sum(col("qv")).as("qsum"),
        sum(col("qv").cast("decimal(38,0)") * col("qv")).as("q2sum"))

  /** Merge two lattice-moments states: integer adds, exact. */
  def mergeMomentsState(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("j")
      .agg(sum(col("n")).as("n"), sum(col("qsum")).as("qsum"),
        sum(col("q2sum")).as("q2sum"))

  /** Per-dim mean and population variance from a lattice state —
    * the integer core `(Σq² · n − (Σq)²)` is exact DECIMAL
    * arithmetic; floating point enters only in the final divisions
    * (mirrored term-for-term in the q249 oracle), 6-dp out. */
  def statsFromLatticeState(state: DataFrame): DataFrame = {
    val nD = col("n").cast("double")
    val exact = col("q2sum") * col("n") -
      col("qsum").cast("decimal(38,0)") * col("qsum")
    state.select(col("j"), col("n"),
      round(col("qsum").cast("double") / (nD * lit(1e6)), 6).as("mean"),
      round(exact.cast("double") / (nD * nD * lit(1e12)), 6)
        .as("variance"))
  }

  /** Whitening transform onto the top-k principal components:
    * `w_c = (x · v_c) / √λ_c` as an EAV relation `(idCol, comp, w)`
    * — decorrelated unit-variance embedding features. Fit is the one
    * moments pass + driver deflation above; apply is k broadcast-
    * literal dot products per row (each scaled by the 9-dp-rounded
    * `1/√λ_c`), one corpus scan, ZERO additional shuffles. */
  def whitenTopK(spark: SparkSession, df: DataFrame, idCol: String,
      vecCol: String, k: Int = 4, iters: Int = 15): DataFrame = {
    val (n, sums, prods) = collectMoments(df, vecCol)
    val (comps, lams) = pcaTopK(covarianceFromMoments(n, sums, prods),
      k, iters)
    val wcols = (0 until k).map { c =>
      require(lams(c) > 0.0,
        s"whitening: eigenvalue $c is ${lams(c)} (component space " +
          "exhausted — lower k)")
      val s = round9(1.0 / math.sqrt(lams(c)))
      struct(lit(c.toLong).as("comp"),
        round(dot(col(vecCol), comps(c)) * s, 6).as("w"))
    }
    df.select(col(idCol), explode(array(wcols: _*)).as("p"))
      .select(col(idCol), col("p.comp").as("comp"), col("p.w").as("w"))
  }

  /** Embedding-space ANISOTROPY audit — the "is my embedding space
    * collapsing" health table (Ethayarajh 2019's anisotropy problem;
    * Mu & Viswanath 2017's dominant-direction removal): one row with
    * the covariance trace (total variance), the top-k eigenvalues, and
    * the spectral shares λ₁/tr and Σtop-k/tr. A healthy isotropic
    * space spreads variance (shares ≈ k/d); a collapsing one
    * concentrates it (λ₁ share → 1), which silently breaks
    * cosine-based dedup/ANN/decontam thresholds. Same ONE corpus pass
    * + driver deflation as [[pcaTopK]]; trace is exact arithmetic on
    * the same rounded covariance. One 6-dp row:
    * `(n, trace, lam1, topk_sum, lam1_share, topk_share)`. */
  def anisotropyAudit(spark: SparkSession, df: DataFrame,
      vecCol: String, k: Int = 4, iters: Int = 15): DataFrame = {
    val (n, sums, prods) = collectMoments(df, vecCol)
    val cov = covarianceFromMoments(n, sums, prods)
    // trace over the SAME 9dp-rounded matrix the solver sees, summed
    // in index order — replayable
    var tr = 0.0
    var i = 0
    while (i < cov.length) { tr += round9(cov(i)(i)); i += 1 }
    val (_, lams) = pcaTopK(cov, k, iters)
    def r6(v: Double): Double = math.rint(v * 1e6) / 1e6
    val topSum = lams.sum // ≤ k 9dp-rounded terms, index order
    import spark.implicits._
    Seq((n, r6(tr), r6(lams(0)), r6(topSum),
      r6(lams(0) / tr), r6(topSum / tr)))
      .toDF("n", "trace", "lam1", "topk_sum", "lam1_share", "topk_share")
  }

  /** Fisher class-separability audit over an embedding column — "are
    * these embeddings any good for THIS label" (the linear-probe
    * question answered without fitting a probe): per label, the
    * between-class scatter ‖μ_label − μ‖², the within-class scatter
    * (mean squared distance to the class mean), and their Fisher
    * ratio. High ratio → classes are linearly separable in this
    * space; ratio ≈ 0 → the label is invisible to any linear head.
    *
    * Arithmetic discipline: the [[Similarity.dimMeansLattice]] integer
    * lattice taken all the way — per-(label, dim) sums Σq (long) and
    * Σq² (DECIMAL(38,0)) are EXACT, every scatter term stays in
    * integer/decimal form (Δ = S·n − G·n_label; W = Q·n_label − S²)
    * through the per-label reductions, and floating point appears
    * only in the final two divisions per row — so the result is
    * merge-order-invariant and bit-replayable. Two partial-
    * aggregatable exchanges ((label, dim) then label); the widest
    * intermediate is |labels|·dim rows. Decimal headroom: Δ² ≤
    * (2·10⁶·rows)⁴-ish — exact to ~10⁹ rows at the 1e6 lattice;
    * beyond that, coarsen the lattice scale. */
  def labelScatter(df: DataFrame, vecCol: String, labelCol: String)
      : DataFrame = {
    val q = df.filter(col(vecCol).isNotNull && col(labelCol).isNotNull)
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("d", "x")))
      .select(col("label"), col("d"),
        floor(col("x").cast("double") * 1e6 + 0.5).cast("long")
          .as("qv"))
    val perLD = q.groupBy("label", "d")
      .agg(sum(col("qv")).as("s"),
        sum((col("qv").cast("decimal(38,0)") * col("qv")))
          .as("q2"),
        count(lit(1)).as("nl"))
      .localCheckpoint(true)
    val glob = perLD.groupBy("d")
      .agg(sum(col("s")).as("gs"), sum(col("nl")).as("ntot"))
    val terms = perLD.join(glob, Seq("d"))
      .select(col("label"), col("nl"), col("ntot"),
        (col("s").cast("decimal(38,0)") * col("ntot") -
          col("gs").cast("decimal(38,0)") * col("nl")).as("delta"),
        (col("q2") * col("nl") -
          col("s").cast("decimal(38,0)") * col("s")).as("wterm"))
    val agg = terms.groupBy("label")
      .agg(max(col("nl")).as("n"), max(col("ntot")).as("ntot"),
        sum(col("delta") * col("delta")).as("bsum"),
        sum(col("wterm")).as("wsum"))
    val n = col("n").cast("double")
    val ntot = col("ntot").cast("double")
    val between = col("bsum").cast("double") /
      (n * n * ntot * ntot * lit(1e12))
    val within = col("wsum").cast("double") / (n * n * lit(1e12))
    agg.select(col("label"), col("n"),
      round(between, 6).as("between_scatter"),
      round(within, 6).as("within_scatter"),
      when(col("wsum") > 0, round(between / within, 6)).as("fisher"))
  }

  /** Index-order dot product of a vector column with a literal vector —
    * `zip_with` + `aggregate` stay inside codegen and sum in element
    * order, matching both the driver loop and the SQL replay. */
  def dot(vec: Column, w: Array[Double]): Column =
    aggregate(
      zip_with(vec.cast("array<double>"),
        lit(w).cast("array<double>"), (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)

  /** Ridge-regression fit of `yCol ~ vecCol` (no intercept) by `iters`
    * FIXED gradient-descent steps on the n-normalized normal equations:
    * one corpus pass for `G = XᵀX` (gram moments) and `b = Σ y·x`
    * (weighted vector sum) TOGETHER, then driver-side
    * `β ← β − η((G/n)β − b/n + λβ)` from β₀ = 0 over 9-dp-rounded
    * `G/n`, `b/n`. For unit-norm rows λmax(G/n) ≤ 1, so η < 2/(1+λ)
    * converges; the FIXED count makes the answer a closed arithmetic
    * form either way. Returns (n, β). */
  def ridgeFit(df: DataFrame, vecCol: String, yCol: String,
      lambda: Double, eta: Double, iters: Int)
      : (Long, Array[Double]) = {
    val row = df.agg(
      AggregateFunctions.gramMoments(col(vecCol)).as("m"),
      AggregateFunctions.weightedVecSum(col(yCol).cast("double"),
        col(vecCol)).as("b")).head()
    require(!row.isNullAt(0), s"ridge fit: no non-null $vecCol rows")
    require(!row.isNullAt(1), s"ridge fit: no non-null $yCol rows")
    val m = row.getSeq[Double](0).toArray
    val bRaw = row.getSeq[Double](1).toArray
    val d = bRaw.length
    require(m.length == 1 + d + d * (d + 1) / 2,
      s"ridge fit: moments length ${m.length} inconsistent with d=$d")
    val n = m(0)
    val g = Array.ofDim[Double](d, d)
    var k = 1 + d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val v = round9(m(k) / n)
        g(i)(j) = v; g(j)(i) = v
        j += 1; k += 1
      }
      i += 1
    }
    val b = bRaw.map(x => round9(x / n))
    val beta = new Array[Double](d)
    var t = 0
    while (t < iters) {
      val grad = new Array[Double](d)
      i = 0
      while (i < d) {
        var s = 0.0
        var j = 0
        while (j < d) { s += g(i)(j) * beta(j); j += 1 }
        grad(i) = s - b(i) + lambda * beta(i)
        i += 1
      }
      i = 0
      while (i < d) { beta(i) -= eta * grad(i); i += 1 }
      t += 1
    }
    (n.toLong, beta)
  }

  /** Score the corpus with a fitted ridge probe: fit (one pass), round
    * β to 9 dp, then a broadcast-literal dot product per row — the
    * quality-classifier filter stage. `(idCol, score, keep)`. `keep`
    * is derived from the 6-dp ROUNDED score (the same value the row
    * reports), so an ulp-level fold-order difference between engines
    * can't flip the flag at the threshold. */
  def ridgeScore(df: DataFrame, idCol: String, vecCol: String,
      yCol: String, lambda: Double, eta: Double, iters: Int,
      threshold: Double): DataFrame = {
    val (_, beta) = ridgeFit(df, vecCol, yCol, lambda, eta, iters)
    val b9 = beta.map(round9)
    val s = round(dot(col(vecCol), b9), 6)
    df.select(col(idCol), s.as("score"),
      (s >= threshold).as("keep"))
  }

  /** STANDARDIZED ridge probe with an (unregularized) intercept — the
    * practical quality-classifier recipe (fastText / FineWeb-Edu
    * style): features centered to the corpus mean and scaled to unit
    * variance, bias fitted alongside. Still ONE corpus pass: the
    * means, variances, and cross-moments all live in the same
    * gram-moments + weighted-vec-sum + Σy aggregation, and the
    * standardized normal equations derive driver-side —
    * `Gz_ij = (P_ij/n − μ_i μ_j)/(σ_i σ_j)`,
    * `bz_i = (B_i/n − ȳ μ_i)/σ_i` — so standardization costs no
    * second scan. GD replay discipline: the four data-dependent
    * reductions (P/n, S/n, B/n, ȳ) are rounded to 9 dp FIRST; every
    * derived quantity (μ, σ, Gz, bz, the GD trajectory) is then
    * closed-form IEEE arithmetic both engines replay identically.
    * The intercept's gradient decouples (z̄ = 0 exactly, since
    * μ ≡ S/n): `β₀ ← β₀ − η(β₀ − ȳ)`. Returns
    * (n, β₀, β (9 dp), μ (9 dp), σ (9 dp)). */
  def ridgeFitStd(df: DataFrame, vecCol: String, yCol: String,
      lambda: Double, eta: Double, iters: Int)
      : (Long, Double, Array[Double], Array[Double], Array[Double]) = {
    // ȳ must be averaged over the SAME row set the moments count —
    // restrict up front so a null-vector row can't skew the intercept
    val row = df.filter(col(vecCol).isNotNull).agg(
      AggregateFunctions.gramMoments(col(vecCol)).as("m"),
      AggregateFunctions.weightedVecSum(col(yCol).cast("double"),
        col(vecCol)).as("b"),
      sum(col(yCol).cast("double")).as("sy")).head()
    require(!row.isNullAt(0), s"ridge fit: no non-null $vecCol rows")
    require(!row.isNullAt(1), s"ridge fit: no non-null $yCol rows")
    val m = row.getSeq[Double](0).toArray
    val bRaw = row.getSeq[Double](1).toArray
    val d = bRaw.length
    require(m.length == 1 + d + d * (d + 1) / 2,
      s"ridge fit: moments length ${m.length} inconsistent with d=$d")
    val n = m(0)
    val ybar = round9(row.getDouble(2) / n)
    val s9 = Array.tabulate(d)(i => round9(m(1 + i) / n))
    val p = Array.ofDim[Double](d, d)
    var k = 1 + d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val v = round9(m(k) / n)
        p(i)(j) = v; p(j)(i) = v
        j += 1; k += 1
      }
      i += 1
    }
    val b9 = bRaw.map(x => round9(x / n))
    val sig = Array.tabulate(d) { i =>
      val v = p(i)(i) - s9(i) * s9(i)
      require(v > 0.0, s"ridge std fit: feature $i has zero variance")
      round9(math.sqrt(v))
    }
    val gz = Array.tabulate(d, d)((i, j) =>
      (p(i)(j) - s9(i) * s9(j)) / (sig(i) * sig(j)))
    val bz = Array.tabulate(d)(i => (b9(i) - ybar * s9(i)) / sig(i))
    var beta0 = 0.0
    val beta = new Array[Double](d)
    var t = 0
    while (t < iters) {
      val grad = new Array[Double](d)
      i = 0
      while (i < d) {
        var acc = 0.0
        var j = 0
        while (j < d) { acc += gz(i)(j) * beta(j); j += 1 }
        grad(i) = acc - bz(i) + lambda * beta(i)
        i += 1
      }
      beta0 -= eta * (beta0 - ybar)
      i = 0
      while (i < d) { beta(i) -= eta * grad(i); i += 1 }
      t += 1
    }
    (n.toLong, round9(beta0), beta.map(round9), s9, sig)
  }

  /** Score the corpus with the standardized-intercept probe. The
    * standardization folds into the dot product driver-side —
    * `a_j = round9(β_j/σ_j)`, `c₀ = round9(β₀ − Σ a_j μ_j)` — so the
    * apply stage stays a single broadcast-literal dot product plus a
    * constant: `score = round(c₀ + x·a, 6)`, keep from the ROUNDED
    * score. One corpus scan, zero shuffles. */
  def ridgeScoreStd(df: DataFrame, idCol: String, vecCol: String,
      yCol: String, lambda: Double, eta: Double, iters: Int,
      threshold: Double): DataFrame = {
    val (_, beta0, beta, mu, sig) =
      ridgeFitStd(df, vecCol, yCol, lambda, eta, iters)
    val a = Array.tabulate(beta.length)(j => round9(beta(j) / sig(j)))
    // sum first, subtract ONCE — the association an engine replaying
    // `β₀ − Σ a_j μ_j` as a single list-sum reproduces exactly
    var acc = 0.0
    var j = 0
    while (j < a.length) { acc += a(j) * mu(j); j += 1 }
    val c0 = round9(beta0 - acc)
    val s = round(lit(c0) + dot(col(vecCol), a), 6)
    df.select(col(idCol), s.as("score"),
      (s >= threshold).as("keep"))
  }
}
