package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.vec

/** Scalar quantization (SQ8) — the compressed-index family of the
  * reference's backends (Milvus IVF_SQ8 / Qdrant scalar quantization /
  * FAISS SQ): each float32 component is stored as one int8 plus a
  * per-vector (min, scale) pair — 4× smaller at rest and in shuffle,
  * which at 100 TB is the difference between a corpus that fits the
  * cluster's storage tier and one that doesn't.
  *
  * Both directions are pure per-row expression pipelines; search
  * scores the dequantized vectors (≈0.4% component error) and the
  * spec asserts recall vs the exact float baseline.
  */
object Quantization {

  val K = 10

  /** Quantize: per-vector min/scale affine map onto 0..255 (stored
    * -128..127 as int8-ish ints). `dropEmb = false` keeps the float
    * column alongside the codes — the at-rest layout stores both (the
    * codes serve the scan, the floats serve the rerank) and relies on
    * parquet column pruning so a code-only read never touches them.
    */
  def quantize(df: DataFrame, embCol: String = "embedding",
               dropEmb: Boolean = true): DataFrame = {
    val q = df
      .withColumn("__mn", array_min(col(embCol)).cast("double"))
      .withColumn("__mx", array_max(col(embCol)).cast("double"))
      .withColumn("sq8_scale",
        when(col("__mx") > col("__mn"), (col("__mx") - col("__mn")) / 255.0).otherwise(lit(1.0)))
      .withColumn("sq8_min", col("__mn"))
      .withColumn("sq8", expr(
        s"transform($embCol, x -> cast(round((x - __mn) / sq8_scale) - 128 as tinyint))"))
      .drop("__mn", "__mx")
    if (dropEmb) q.drop(embCol) else q
  }

  /** Dequantize back to array<double> for scoring. */
  def dequantized(qEmbCol: String = "sq8"): org.apache.spark.sql.Column =
    expr(s"transform($qEmbCol, x -> sq8_min + (cast(x as double) + 128.0) * sq8_scale)")

  // ----------------------------------------------------------------
  // Product quantization (the Milvus/FAISS IVF_PQ code path): split
  // each vector into M subvectors, k-means each subspace to KStar
  // centroids, store one 4-bit-ish code per subvector (M bytes total,
  // 32x smaller than float32·64). Queries score via an ADC table —
  // per-query distances to every subspace centroid — then the top
  // candidate pool is exactly reranked.
  // ----------------------------------------------------------------

  val M = 8        // subvectors
  val SubDim = 8   // dims per subvector (M * SubDim = 64)
  /** Centroids per subspace — 256 so each stored code byte carries
    * its full 8 bits (the FAISS `ks = 256` default). The layout has
    * ALWAYS stored M tinyints = 8 bytes per vector; at the original
    * k* = 16 each byte carried only 4 bits, so half the committed
    * storage budget quantized nothing. Measured on the aniso-sf1
    * residuals (near-isotropic 8-dim subspaces): per-subspace
    * distortion ~2^(−2R/d) halves going 4→8 bits, and recall at small
    * rerank pools moves with it — the within-budget lift the round-11
    * budget-bound finding asked for. Codes > 127 wrap in the signed
    * tinyint; every decode side re-reads them unsigned
    * ([[codeIndex]]), so the storage format is unchanged and old
    * 16-entry layouts (codes 0..15, never wrapped) read identically.
    */
  val KStar = 256
  val PqRerankPool = 100
  /** Cost cap on the build-time pool calibration ([[VectorIndex]]
    * rung 2): the largest exact-rerank pool the calibrated default
    * may reach. A corpus whose measured quantile rank exceeds it is
    * BUDGET BOUND — the 8-byte code budget, not the pool, limits
    * recall — and serving persists the cap plus the
    * `pq_budget_bound` flag instead of an unbounded pool.
    */
  val PqPoolCap = 4096

  /** The residual training sample (the FAISS IVF_PQ training
    * shape): each vector of the raw [[Ann.trainSample]]
    * assigned to its nearest centroid (same ranking
    * [[graft.functions.NearestClusters]] serves) and replaced by
    * v − c. Raw-vector codebooks spend the code budget encoding where
    * in the cloud a vector sits — which the cluster id already says —
    * and on a concentrated cloud the distinctions that decide top-k
    * live below that scale (measured recall@10 on the aniso-sf100
    * corpus: 0.427 IVFPQ / 0.400 flat PQ with raw codes). Residuals
    * re-center every list at the origin, so the codebooks resolve the
    * within-list scale where neighbors actually differ.
    */
  private def residualSample(raw: Array[Array[Double]],
      cents: Seq[Seq[Float]]): Array[Array[Double]] = {
    val cc = cents.map(_.toArray.map(_.toDouble)).toArray
    val ccNormSq = cc.map(c => c.map(x => x * x).sum)
    raw.map { v =>
      var nrm = 0.0; var i = 0
      while (i < v.length) { nrm += v(i) * v(i); i += 1 }
      nrm = math.sqrt(nrm)
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cc.length) {
        var dot = 0.0; var j = 0
        val m = math.min(cc(c).length, v.length)
        while (j < m) { dot += cc(c)(j) * v(j); j += 1 }
        val d = ccNormSq(c) - 2.0 * dot / math.max(1e-12, nrm)
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      val r = new Array[Double](v.length)
      var k = 0
      while (k < v.length) {
        r(k) = v(k) - (if (k < cc(best).length) cc(best)(k) else 0.0); k += 1
      }
      r
    }
  }

  /** Per-subspace codebooks through the shared Lloyd loop
    * ([[Ann.lloyd]]) on a FIXED 32-way chunking of the sample, so the
    * 256-centroid training (sample · k* · dim · iters ≈ 2×10¹⁰ flops
    * at the cap) uses the driver's cores; the chunk count is part of
    * the trained values and never varies.
    */
  private def kMeansPerSubspace(sample: Array[Array[Double]]): Seq[Seq[Seq[Float]]] =
    (0 until M).map { j =>
      Ann.lloyd(sample.map(_.slice(j * SubDim, (j + 1) * SubDim)), KStar, chunks = 32)
        .map(_.map(_.toFloat).toSeq).toSeq
    }

  /** OPQ: train an orthogonal pre-rotation AND residual codebooks
    * (the FAISS `OPQMatrix` + IVF_PQ composition; Ge et al.'s
    * parametric solution). Residual encoding (the round-11 fix)
    * re-centers each list at the origin, but on a DECAYED-SPECTRUM
    * cloud the residual variance still concentrates in ~10 effective
    * dimensions — and those land in the FIRST one or two subspaces,
    * so 6 of the 8 code bytes quantize noise while the informative
    * subspaces are hopelessly coarse (measured recall@10 0.433 at the
    * aniso-sf100 corpus vs IVF's 0.934 at the default pool). The
    * parametric OPQ remedy: eigendecompose the residual covariance
    * and ALLOCATE eigenvectors to subspaces balancing the per-subspace
    * variance PRODUCT (greedy largest-eigenvalue-to-emptiest-bucket,
    * the standard solution of the balanced-allocation step), making
    * the rotated subspaces equally informative; each then earns its
    * 4 bits. The rotation is orthogonal (rows are eigenvectors), so
    * ||R·u − ŷ|| = ||u − Rᵀ·ŷ||: ADC distances in rotated space ARE
    * the true residual distances, and serving only needs R applied
    * query-side ([[graft.functions.MatVec]], one fused 64×64 loop).
    *
    * Trains from the raw [[Ann.trainSample]] and the IVF centroids;
    * returns (rotation rows, codebooks trained on rotated residuals).
    */
  private[operators] def trainPqOpqFrom(raw: Array[Array[Double]],
      cents: Seq[Seq[Float]]): (Seq[Seq[Float]], Seq[Seq[Seq[Float]]]) = {
    val sample = residualSample(raw, cents)
    val rot = opqRotation(sample)
    val rotated = sample.map(applyRotation(rot, _))
    (rot.map(_.map(_.toFloat).toSeq).toSeq, kMeansPerSubspace(rotated))
  }

  /** Per-dimension mean of the raw [[Ann.trainSample]] — the BQ
    * centering vector. Sign bits of a MEAN-DOMINATED cloud correlate
    * corpus-wide (every vector shares the mean's sign pattern, so
    * Hamming distances between stored words carry no neighbor
    * signal — measured recall@10 0.53 on the aniso corpus vs ~0.99
    * for the code families); bits of v − μ split the corpus ~50/50
    * per dimension, restoring the prefilter's selectivity. The same μ
    * must center the query side ([[VectorIndex.searchBq]]).
    */
  private[operators] def trainBqMean(sample: Array[Array[Double]]): Seq[Float] =
    if (sample.isEmpty) Seq.empty
    else {
      val dim = sample.map(_.length).max
      val mean = new Array[Double](dim)
      sample.foreach { v =>
        var i = 0; while (i < v.length) { mean(i) += v(i); i += 1 }
      }
      mean.map(m => (m / sample.length).toFloat).toSeq
    }

  private def applyRotation(rot: Array[Array[Double]], v: Array[Double]): Array[Double] = {
    val out = new Array[Double](rot.length)
    var i = 0
    while (i < rot.length) {
      val row = rot(i)
      val m = math.min(row.length, v.length)
      var acc = 0.0; var j = 0
      while (j < m) { acc += row(j) * v(j); j += 1 }
      out(i) = acc; i += 1
    }
    out
  }

  /** Eigendecompose the sample covariance (cyclic Jacobi — the matrix
    * is dim×dim, driver-trivial) and order eigenvectors so subspace
    * variance products balance: eigenvalues descending, each assigned
    * to the subspace with the smallest running log-variance sum among
    * those with free slots. Rows of the returned matrix are the
    * reordered eigenvectors — an orthogonal matrix by construction.
    */
  private def opqRotation(sample: Array[Array[Double]]): Array[Array[Double]] = {
    val dim = M * SubDim
    val n = sample.length
    val mean = new Array[Double](dim)
    sample.foreach { v =>
      var i = 0; while (i < dim) { mean(i) += (if (i < v.length) v(i) else 0.0); i += 1 }
    }
    var i = 0; while (i < dim) { mean(i) /= math.max(1, n); i += 1 }
    val cov = Array.ofDim[Double](dim, dim)
    sample.foreach { v =>
      var a = 0
      while (a < dim) {
        val va = (if (a < v.length) v(a) else 0.0) - mean(a)
        var b = a
        while (b < dim) {
          cov(a)(b) += va * ((if (b < v.length) v(b) else 0.0) - mean(b)); b += 1
        }
        a += 1
      }
    }
    var a = 0
    while (a < dim) {
      var b = a
      while (b < dim) { cov(a)(b) /= math.max(1, n - 1); cov(b)(a) = cov(a)(b); b += 1 }
      a += 1
    }
    val (eigVals, eigVecs) = jacobiEigen(cov)
    // eigenvalues descending; greedy balanced allocation of M·SubDim
    // eigen-dims into M buckets of SubDim (log-sum balances products).
    // Logs are SHIFTED to be non-negative (subtract the smallest):
    // the balance objective is scale-invariant, but the greedy is
    // not — covariance eigenvalues sit far below 1, so raw logs are
    // negative and every big eigenvector LOWERS its bucket's sum,
    // making the greedy stuff them all into one bucket (measured:
    // rotated subspace variance 0.0027/0.00003/0/… on an axis-decayed
    // cloud — the exact imbalance the rotation exists to remove).
    val order = eigVals.indices.sortBy(i => -eigVals(i))
    val logs = eigVals.map(v => math.log(math.max(v, 1e-12)))
    val logShift = logs.min
    val bucketLog = new Array[Double](M)
    val bucketFill = new Array[Int](M)
    val slots = Array.ofDim[Int](M, SubDim)
    order.foreach { e =>
      var best = -1; var bestLog = Double.MaxValue
      var b = 0
      while (b < M) {
        if (bucketFill(b) < SubDim && bucketLog(b) < bestLog) {
          bestLog = bucketLog(b); best = b
        }
        b += 1
      }
      slots(best)(bucketFill(best)) = e
      bucketFill(best) += 1
      bucketLog(best) += logs(e) - logShift
    }
    val rows = slots.flatten
    rows.map(e => Array.tabulate(dim)(d => eigVecs(d)(e)))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector columns). Deterministic sweep order;
    * converges to machine precision in a handful of sweeps at
    * dim ≤ 64.
    */
  private def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val dim = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiagNorm(a)
    while (sweep < 50 && off > 1e-12) {
      var p = 0
      while (p < dim - 1) {
        var q = p + 1
        while (q < dim) {
          if (math.abs(a(p)(q)) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            // θ = 0 (equal diagonal) still needs the full π/4 rotation:
            // t = 1/(θ + √(θ²+1)) with θ's sign factored out, never 0
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else -1.0 / (-theta + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < dim) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < dim) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiagNorm(a)
      sweep += 1
    }
    (Array.tabulate(dim)(i => a(i)(i)), v)
  }

  private def offDiagNorm(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }

  /** Per-query ADC table — all M × KStar squared distances
    * (||c||² − 2·c·s [+ ||s||²]) as ONE native matrix expression
    * (graft.functions.PqAdcTable): a single plan node and one fused
    * codegen loop, instead of an M·KStar-term literal tree re-planned
    * and re-compiled per query.
    */
  private[operators] def adcTable(embCol: org.apache.spark.sql.Column, codebooks: Seq[Seq[Seq[Float]]],
                                  absolute: Boolean): org.apache.spark.sql.Column =
    graft.functions.matrixops.pqAdcTable(embCol, codebooks, SubDim, absolute)

  /** Encode: per-subspace nearest-centroid codes, M tinyints per row,
    * of an arbitrary vector expression ([[VectorIndex]] passes the
    * rotated residual R·(v − c) of the row's assigned cluster). Pure
    * expression, no shuffle: argmin over the ranking-only ADC table
    * (first-min index, matching the trained assignment).
    */
  private[operators] def pqEncodeCol(df: DataFrame,
      codebooks: Seq[Seq[Seq[Float]]],
      embCol: org.apache.spark.sql.Column): DataFrame = {
    // codes 128..255 wrap explicitly into the signed byte (ANSI cast
    // would throw); every decode side reads them back unsigned
    // ([[codeIndex]])
    val codes = transform(adcTable(embCol, codebooks, absolute = false),
      d => (pmod(array_position(d, array_min(d)) - 1 + 128, lit(256)) - 128).cast("tinyint"))
    df.withColumn("pq_codes", codes)
  }

  /** A stored code byte read back UNSIGNED: codes 128..255 wrap to
    * negative in the tinyint column; pmod(+256) recovers them. Codes
    * from 16-entry legacy books (0..15) pass through unchanged.
    */
  private def codeIndex(codesCol: org.apache.spark.sql.Column,
                        j: Int): org.apache.spark.sql.Column =
    pmod(codesCol(j).cast("int"), lit(256))

  /** Decode M codes back to the quantized vector (concatenated
    * codebook entries) — the flat-PQ serving path reconstructs
    * v̂ = Rᵀ·decode(codes) + c once inside the served view. HOF + element_at over a single nested literal:
    * M lookups per row, materialized once per session.
    */
  private[operators] def pqReconstruct(codesCol: org.apache.spark.sql.Column,
      codebooks: Seq[Seq[Seq[Float]]]): org.apache.spark.sql.Column = {
    val cb = typedLit(codebooks)
    flatten(transform(sequence(lit(0), lit(M - 1)),
      j => element_at(element_at(cb, j + 1),
        pmod(codesCol(j).cast("int"), lit(256)) + 1)))
  }

  /** ADC distance: Σ_j adc[j][code_j], expanded to a static M-term
    * sum of GetArrayItem lookups so the whole expression stays inside
    * whole-stage codegen — the `aggregate()` higher-order form is
    * evaluated interpreted and was the hot path's bottleneck. Codes
    * read back unsigned ([[codeIndex]]).
    */
  private[operators] def adcDist: org.apache.spark.sql.Column =
    (0 until M).map(j => col("adc")(j)(codeIndex(col("pq_codes"), j))).reduce(_ + _)

  // ----------------------------------------------------------------
  // Binary quantization (Qdrant BQ / FAISS binary index): one sign
  // bit per dimension — the 64-dim embedding becomes ONE 64-bit word,
  // 32× smaller than float32. Candidates by Hamming distance
  // (bit_count(xor), single codegen'd instruction pair per pair),
  // exact rerank of the pool.
  // ----------------------------------------------------------------

  val BqPool = 100

  /** Cost cap for the calibrated BQ rerank pool (calibration rung 3,
    * [[VectorIndex.calibrate]]): the pool is the exact-rerank row
    * count per query, so the cap bounds serving cost the same way
    * [[PqPoolCap]] bounds PQ's. Past it the 64 sign bits themselves
    * are the limit and `bq_budget_bound` is persisted instead of a
    * larger default.
    */
  val BqPoolCap = 4096

  /** Sign-bit word: bit i set iff component i ≥ 0. One native fused
    * loop (graft.functions.SignBits) — pure codegen, no shuffle, no
    * training state.
    */
  def bqWord(embCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.matrixops.signBits(embCol)

  /** BQ kNN (rows-only), served from the AT-REST index's persisted
    * sign words ([[VectorIndex.searchBq]]): Hamming prefilter reading
    * 8 bytes per vector — at 100 TB the entire sign index of a
    * 10^11-vector collection fits in ~1 TB — then exact cosine rerank
    * from the stored floats. The Hamming pass shuffles only
    * (q_id, vec_id, hamming) triples pre-pruned by WindowGroupLimit.
    */
  def qBqKnn(spark: SparkSession, sfDir: String): DataFrame =
    VectorIndex.searchBq(spark, VectorIndex.sessionIndexPath(spark, sfDir),
      VectorSearch.querySet(spark, sfDir))

  /** PQ kNN (rows-only), served from the AT-REST index's persisted
    * codes ([[VectorIndex.searchPq]] — encoded once at ingest, a
    * restart re-encodes nothing): ADC scoring over the M-byte codes,
    * exact rerank of the top `pool` candidates per query. The ADC
    * scan touches only vec_id + codes — at 100 TB it reads 32× fewer
    * bytes than a float scan — and the top-pool window shuffles only
    * (q_id, vec_id, adc_dist) triples, pre-pruned per task by
    * WindowGroupLimit.
    */
  def qPqKnn(spark: SparkSession, sfDir: String): DataFrame =
    VectorIndex.searchPq(spark, VectorIndex.sessionIndexPath(spark, sfDir),
      VectorSearch.querySet(spark, sfDir))

  /** IVF_PQ (rows-only): the combined index every Milvus/FAISS
    * deployment defaults to at scale, served from the at-rest layout
    * ([[VectorIndex.searchIvfPq]]) — IVF probes PARTITION-prune the
    * index scan to nprobe/nlist of the files, the persisted PQ codes
    * make the surviving scan 32× narrower, ADC (codegen'd) scores it,
    * and the top pool is exactly reranked via broadcast joins.
    */
  def qIvfPqKnn(spark: SparkSession, sfDir: String): DataFrame =
    VectorIndex.searchIvfPq(spark, VectorIndex.sessionIndexPath(spark, sfDir),
      VectorSearch.querySet(spark, sfDir))

  /** SQ8 kNN (rows-only), served from the AT-REST index's persisted
    * int8 codes ([[VectorIndex.searchSq8]]): cosine top-k over the
    * scan-time-dequantized corpus — the scan reads 1/4 the bytes of
    * the float corpus (which is never touched); scoring stays in
    * whole-stage codegen via the double-array overload of the native
    * cosine expression.
    */
  def qSq8Knn(spark: SparkSession, sfDir: String): DataFrame =
    VectorIndex.searchSq8(spark, VectorIndex.sessionIndexPath(spark, sfDir),
      VectorSearch.querySet(spark, sfDir))
}
