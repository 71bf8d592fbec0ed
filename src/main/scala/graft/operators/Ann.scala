package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.vec

/** Approximate nearest neighbor — the scale path behind the
  * reference's IVF (Milvus/FAISS) and hash-bucket (LSH) index
  * families (SURVEY.md §2 rows 7–8, §4).
  *
  * 100 TB shape:
  *  - IVF: centroids are trained driver-side on a tiny deterministic
  *    sample (the standard IVF training path), then broadcast as a
  *    literal; cluster assignment is a pure per-row expression — no
  *    join, no shuffle. At rest the corpus would be written
  *    partitioned by `cluster_id`, so a query probing nprobe of
  *    nlist clusters prunes the scan to nprobe/nlist of the data via
  *    partition pruning; here the probe filter is a broadcast join.
  *  - LSH: b-bit random-hyperplane signatures, banded; candidates
  *    are generated by joining on band buckets (broadcast on the
  *    query side) and reranked exactly. Shuffle-free for the corpus.
  *
  * Both are rows-only operators (hash/centroid dependent); recall vs
  * the exact kNN baseline is asserted in AnnSpec.
  */
object Ann {

  val NList = 16   // IVF cluster count floor (small corpora)
  /** Clusters probed per query — the documented ≥0.9-recall budget
    * for this geometry with spilled assignment (the measured curve
    * lives in IvfRecallSweepSpec and SURVEY §4; 0.90 at 8/16 on the
    * standard corpus, 0.96 at 10, 1.0 at 12).
    */
  val NProbe = 8
  val K = 10

  /** Corpus-adaptive IVF geometry. A FIXED nlist makes per-query cost
    * linear in the corpus: probing nprobe of 16 lists always scans
    * nprobe/16 of the data, so a 100× corpus costs every query 100×.
    * The policy instead targets a roughly constant LIST size
    * ([[ListTarget]] vectors), growing nlist with the corpus —
    *   nlist  = clamp(NList, n / ListTarget, MaxNList)
    *   nprobe = max(NProbe, ceil(sqrt(nlist)))
    * so probed rows per query grow ~√n·const instead of n·const
    * (nprobe·(n/nlist) = √nlist·ListTarget while under the cap). The
    * floor keeps every corpus under NList·ListTarget vectors on the
    * measured 16-list geometry; [[MaxNList]] caps list count at what
    * the [[TrainSampleCap]]-bounded sample can estimate (≥~50 sample
    * points per centroid — beyond it, growing the train sample, not
    * the policy, is the seam). Recall at the policy budget is
    * measured per-corpus in the slope harness's IVF-recall arm, not
    * assumed.
    */
  val ListTarget = 4096L
  val MaxNList = 2048
  def nlistFor(n: Long): Int =
    math.max(NList.toLong, math.min(MaxNList.toLong, n / ListTarget)).toInt
  def nprobeFor(nlist: Int): Int =
    math.max(NProbe, math.ceil(math.sqrt(nlist.toDouble)).toInt)

  /** Spilled multi-assignment factor: each vector is stored in its
    * `SpillAssign` nearest cluster partitions (the ScaNN/spill-tree
    * boundary trick). Neighbors near a cluster boundary — the recall
    * killers of single-assignment IVF — sit in BOTH adjacent
    * clusters, so a probe finds them from either side. Costs
    * `SpillAssign`× storage; flat (non-probed) scans stay 1× because
    * the copy rank is a partition column and non-IVF families prune
    * to `assign_rank=0` at the file listing.
    */
  val SpillAssign = 2

  /** Hard cap on rows collected to the driver for index training —
    * the sample is a fixed SIZE, not a fixed fraction, so training
    * cost (and driver memory) is genuinely independent of corpus
    * size. 100k × 64 floats ≈ 26 MB on the driver, at any corpus SF.
    */
  val TrainSampleCap = 100000

  /** The one training sample of a (vec_id, embedding) frame: every
    * 3rd vector by id, capped at [[TrainSampleCap]] rows, raw
    * (unnormalized). The orderBy+limit pair compiles to
    * TakeOrderedAndProject (a per-partition top-k merge, no global
    * sort), so the scan stays one pass and the collect is bounded
    * regardless of corpus size. [[VectorIndex.buildFrom]] trains the
    * centroids, the OPQ rotation, the residual codebooks and the BQ
    * mean from this one array — IVFADC's single learning set.
    */
  private[graft] def trainSample(corpus: DataFrame): Array[Array[Double]] =
    corpus
      .filter(col("vec_id") % 3 === 0)
      .orderBy(col("vec_id"))
      .limit(TrainSampleCap)
      .select(col("embedding"))
      .collect()
      .map(r => numericArray(r.getSeq[Any](0)))

  /** Embedding row → double[], whatever the column's numeric element
    * type. Every Catalyst expression in the vector family accepts
    * array<float> AND array<double> ([[graft.functions.VectorMatrixExpression]]);
    * driver-side training collects must match — the first
    * double-typed frame to reach the cluster-blocked dedup route
    * (media FEATURE vectors, which are array<double>) hit a
    * ClassCastException in the float-pinned extraction here.
    */
  private[graft] def numericArray(s: Seq[Any]): Array[Double] =
    s.iterator.map {
      case f: Float  => f.toDouble
      case d: Double => d
      case other     => sys.error(s"non-numeric embedding element: $other")
    }.toArray

  /** Train a `nlist`-list geometry from a [[trainSample]]: spherical
    * k-means over an L2-normalized copy — the search metric is
    * cosine, and on unit vectors L2 ordering ≡ cosine ordering, so
    * clusters align with what queries retrieve. List count is the
    * caller's ([[nlistFor]] of the corpus count, or an explicit one);
    * small corpora keep the measured 16-list geometry bit-for-bit.
    * Above [[HierarchicalNList]] lists the flat Lloyd
    * loop's sample·nlist·dim·iters cost is replaced by TWO-LEVEL
    * k-means (the recursive-k-means trick of large-nlist ANN
    * builders): ~√nlist coarse cells, then per-cell sub-k-means with
    * centroid budgets proportional to cell mass (deterministic
    * rounding) — cost sample·2√nlist·dim·iters. The
    * flat concatenation of sub-centroids IS the geometry; assignment
    * and probing are geometry-agnostic (they read the centroid set).
    */
  private[graft] def trainCentroids(sample: Array[Array[Double]], nlist: Int): Seq[Seq[Float]] = {
    val unit = sample.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val k = math.min(nlist, unit.length)
    // IVF sums sequentially (one chunk): the geometry every stored
    // layout was trained with
    val cents =
      if (k <= HierarchicalNList) lloyd(unit, k, chunks = 1)
      else {
        val coarseK = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
        val coarse = lloyd(unit, coarseK, chunks = 1)
        val cells = Array.fill(coarse.length)(Vector.newBuilder[Array[Double]])
        unit.foreach(v => cells(nearest(v, coarse)) += v)
        // sub-centroid budget per cell: proportional to cell mass
        // (mass-balanced lists — exactly the occupancy discipline the
        // aniso measurements pin), ≥1 per non-empty cell, ≤ the
        // cell's point count. The concatenation's length can differ
        // from k by rounding; the geometry IS the resulting list
        // (assignment/probing read the centroid set's size).
        cells.map(_.result()).flatMap { p =>
          if (p.isEmpty) Array.empty[Array[Double]]
          else {
            val ki = math.max(1, math.min(p.length,
              math.round(k.toDouble * p.length / unit.length).toInt))
            lloyd(p.toArray, ki, chunks = 1)
          }
        }
      }
    cents.map(_.map(_.toFloat).toSeq).toSeq
  }

  /** Flat nlist above which [[trainCentroids]] switches to
    * two-level training (flat cost crosses ~10¹⁰ ops there).
    */
  private[graft] val HierarchicalNList = 64

  /** Nearest centroid by squared L2, ties to the lowest id — the one
    * assignment kernel of [[lloyd]] and the two-level cell split.
    */
  private def nearest(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0; var i = 0
      while (i < v.length) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The deterministic driver-side Lloyd loop of every trained
    * geometry — IVF lists ([[trainCentroids]]) and each PQ subspace
    * ([[Quantization.trainPqOpqFrom]]): seeded at evenly spaced
    * sample points, 10 iterations. The assign step runs on a FIXED
    * `chunks`-way split of the sample with per-chunk partial sums
    * merged in chunk order, so a large training uses the driver's
    * cores while staying bit-deterministic: double addition is
    * order-sensitive, and the chunk count and merge order never vary
    * with thread timing. Each caller's chunk count is part of its
    * trained values, so it is fixed per caller, never derived from
    * the host.
    */
  private[operators] def lloyd(sample: Array[Array[Double]], k: Int,
                               chunks: Int): Array[Array[Double]] = {
    val n = sample.length
    val dim = sample.head.length
    var cents = Array.tabulate(k)(i => sample((i.toLong * n / k).toInt).clone())
    for (_ <- 0 until 10) {
      val snap = cents
      val parts = new Array[(Array[Array[Double]], Array[Long])](chunks)
      java.util.stream.IntStream.range(0, chunks).parallel().forEach { ch =>
        val sums = Array.fill(k)(new Array[Double](dim))
        val counts = new Array[Long](k)
        var r = (ch.toLong * n / chunks).toInt
        val hi = ((ch + 1).toLong * n / chunks).toInt
        while (r < hi) {
          val v = sample(r)
          val best = nearest(v, snap)
          counts(best) += 1
          var i = 0
          while (i < dim) { sums(best)(i) += v(i); i += 1 }
          r += 1
        }
        parts(ch) = (sums, counts)
      }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      parts.foreach { case (ps, pc) =>
        var c = 0
        while (c < k) {
          counts(c) += pc(c)
          var i = 0
          while (i < dim) { sums(c)(i) += ps(c)(i); i += 1 }
          c += 1
        }
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c)))
    }
    cents
  }

  /** Distance of the L2-normalized input vector to each trained
    * centroid, up to the constant +1:
    * ||c||² − 2·(c·v)/||v||  ≡rank  ||c − v/||v||||². One native
    * matrix expression (graft.functions.CentroidDistances) — the
    * whole nlist-wide table is a single plan node and one fused
    * codegen loop, instead of an nlist-term literal tree re-analyzed
    * per query.
    */
  private[operators] def centroidDists(embCol: Column, centroids: Seq[Seq[Float]]): Column =
    graft.functions.matrixops.centroidDists(embCol, centroids)

  /** Nearest-centroid id (0-based) for an embedding column — ties to
    * the lowest id, same as the selection in [[spillClusters]].
    */
  private[operators] def assignCluster(embCol: Column, centroids: Seq[Seq[Float]]): Column =
    element_at(graft.functions.matrixops.nearestClusters(embCol, centroids, 1), 1)

  /** The `spill` nearest cluster ids for an embedding, ascending by
    * (centroid distance, id) — index 0 = the primary assignment. ONE
    * codegen'd single-pass expression
    * ([[graft.functions.NearestClusters]]): the earlier composed
    * transform/array_sort form embedded the distance matrix inside
    * the lambda and re-evaluated it per element — O(nlist²·dim) per
    * row, which the adaptive geometry's large nlist turned into the
    * ingest bottleneck (all executors pinned in interpreted
    * ArrayTransform.eval at an sf100 build).
    */
  private[operators] def spillClusters(embCol: Column, centroids: Seq[Seq[Float]],
                                       spill: Int): Column =
    graft.functions.matrixops.nearestClusters(embCol, centroids, spill)


  /** A (q_id, q_emb) query frame exploded to each query's `nprobe`
    * nearest clusters: (q_id, q_emb, cluster_id). nlist is read off
    * the centroid set, so the same code serves any index geometry;
    * `nprobe ≤ 0` resolves to the geometry's policy budget
    * ([[nprobeFor]] — on the 16-list floor that IS the measured
    * NProbe = 8, so default-budget callers are unchanged there).
    */
  private[operators] def probeFrame(queries: DataFrame, centroids: Seq[Seq[Float]],
                                    nprobe: Int): DataFrame = {
    val nlist = centroids.size
    val np = if (nprobe > 0) nprobe else nprobeFor(nlist)
    queries
      .withColumn("probe",
        graft.functions.matrixops.nearestClusters(col("q_emb"), centroids,
          math.min(np, nlist)))
      .select(col("q_id"), col("q_emb"), explode(col("probe")).as("cluster_id"))
  }


  /** Cosine-score a (q_id, q_emb, vec_id, embedding) candidate frame,
    * rank per query with the deterministic (score desc, vec_id)
    * tie-break, keep the top K — the shared presentation tail of
    * every probe path, as one bounded top-k aggregate (map-side
    * partial buffers; nothing sorts the candidate frame).
    */
  private[operators] def presentTopK(candidates: DataFrame, k: Int = K): DataFrame =
    // bounded top-k aggregate — identical rows and tie order to the
    // former row_number window (see dedupSpilledTopK's note); no spill
    // copies here, so no dedup step
    candidates
      .withColumn("score", round(vec.cosine(col("q_emb"), col("embedding")), 6))
      .groupBy(col("q_id"))
      .agg(graft.functions.aggops.topKByScore(col("score"), col("vec_id"), k)
        .as("__tk"))
      .select(col("q_id"), posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(col("q_id"), col("__e.vec_id").as("vec_id"),
        (col("__pos") + 1).cast("long").as("rn"), col("__e.score").as("score"))
      .orderBy(col("q_id"), col("rn"))

  /** Row 7 (rows-only): IVF kNN served from the AT-REST index
    * ([[VectorIndex]], built once per session at ingest): probe the
    * NProbe nearest clusters per query, restrict the index to them,
    * exact-score survivors, top-k. Identical results to
    * the in-memory probe path (same centroids, same scoring): the
    * probes filter the session view built from every file once per
    * (session, epoch); listing-level pruning to nprobe/nlist of the
    * FILES applies to `cached = false` reads.
    */
  def qIvfKnn(spark: SparkSession, sfDir: String): DataFrame =
    VectorIndex.searchIvf(spark, VectorIndex.sessionIndexPath(spark, sfDir),
      VectorSearch.querySet(spark, sfDir))

  /** Score probed candidates, collapse spill copies, rank, keep top k
    * — as ONE bounded top-k aggregate.
    *
    * Shape history (guide §2.4): the original two-exchange form
    * (first() collapse over (q_id, vec_id), then a row_number window
    * over q_id) was kept over an explicit repartition(q_id) — which
    * halves the shuffles but lands a SINGLE-query caller's entire
    * candidate mass on one partition, a 100 TB scalability bug. The
    * aggregate form dominates both: the per-(task, query) buffer is
    * bounded, partials combine map-side BEFORE the only exchange, no
    * candidate mass is ever sorted or concentrated, and single-query
    * callers spread their pre-aggregation work across every map task.
    */
  private[graft] def dedupSpilledTopK(candidates: DataFrame, k: Int = K): DataFrame = {
    // ONE exchange, carrying only bounded top-k buffers: the map side
    // partial-aggregates a k×SpillAssign buffer per (task, query) —
    // nothing sorts the candidate mass and no stage concentrates a
    // single query's candidates (the two documented failure modes of
    // the previous shapes). Spill copies of a vector carry IDENTICAL
    // (score, vec_id), so they sit ADJACENT in the buffer's total
    // order — the k-th DISTINCT vector is always inside the top
    // k×SpillAssign entries, and the in-array dedup keeps each
    // vector's first copy. Tie order (score desc via Spark's double
    // total order, then vec_id asc) is exactly the row_number window
    // form this replaces ([[graft.functions.TopKBuffer]]).
    val buf = k * SpillAssign
    candidates
      .withColumn("score", round(vec.cosine(col("q_emb"), col("embedding")), 6))
      .groupBy(col("q_id"))
      .agg(graft.functions.aggops.topKByScore(col("score"), col("vec_id"), buf)
        .as("__tk"))
      .select(col("q_id"), posexplode(expr(
        s"slice(filter(__tk, (x, i) -> i = 0 OR NOT exists(slice(__tk, 1, i), " +
          s"y -> y.vec_id = x.vec_id)), 1, $k)")).as(Seq("__pos", "__e")))
      .select(col("q_id"), col("__e.vec_id").as("vec_id"),
        (col("__pos") + 1).cast("long").as("rn"), col("__e.score").as("score"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** The at-rest LSH banding floor: 16 bands of 4 bits — banding
    * trades precision for recall: a near neighbor only needs to agree
    * on all bits of ANY one band to become a candidate. Band count is
    * the recall knob (measured on the standard corpus: 8 bands → 0.76,
    * 16 → 0.96, 24 → 1.0); 16 meets the same ≥0.9 bar as the IVF
    * default. Bits-per-band is the precision knob, widened with the
    * corpus by [[lshBitsFor]] so each bucket stays small and candidate
    * cost scales with bucket occupancy, not corpus size.
    */
  private[graft] val LshBands = 16
  private[operators] val BitsPerBand = 4

  /** Corpus-adaptive band WIDTH for the at-rest signature postings:
    * bits grow with log2(n / bucket target), so expected bucket
    * occupancy — and per-query candidate cost — stays ~constant at
    * any corpus size. The 4-bit floor keeps every driver-scale corpus
    * on the measured 16×4 banding bit-for-bit. A FIXED width is a
    * linear-cost bug at scale: at the 5M-row aniso corpus the 4-bit
    * buckets (further collapsed by the shared mean's sign pattern)
    * made each query's candidate set ≈ the corpus × 16 bands — measured
    * filling local disk before the first rerank.
    */
  private[operators] val LshBucketTarget = 4096L

  /** `pRand` is the measured per-plane random-pair collision
    * probability of the CENTERED corpus (the frame the planes hash) —
    * [[graft.operators.Dedup.measuredPRand]]'s statistic, defaulting
    * to the direction-uniform closed form 0.5, where the expression
    * reduces to the former `log₂(n/target)` exactly. On a cloud whose
    * directions stay anisotropic even after mean-centering, a
    * log₂-sized width leaves per-band random collision at
    * `pRand^r ≫ 2^{−r}` and expected bucket occupancy — hence
    * per-query candidate cost — grows with the corpus (the dedup
    * side's measured 80%-of-corpus bucket, [[Dedup.chooseBanding]]'s
    * origin story). Sizing against the measured statistic restores
    * `n_corpus · pRand^r ≈ target` at every scale.
    */
  private[operators] def lshBitsFor(n: Long, pRand: Double = 0.5): Int = {
    val p = math.max(0.05, math.min(0.95, pRand))
    math.max(BitsPerBand, math.min(24,
      math.ceil(math.log(math.max(1.0, n.toDouble / LshBucketTarget)) /
        math.log(1.0 / p)).toInt))
  }

  /** Deterministic seeded hyperplanes for an adaptive band config —
    * `bands` bands × `bits` 64-d planes, seed 7. PREFIX-STABLE in the
    * band count: the first 16·bits planes of a 64-band set equal the
    * 16-band set, so band ids stay comparable across band-count
    * recalibrations.
    */
  private[operators] def lshPlanesFor(bits: Int, bands: Int = LshBands): Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(bands * bits)(Seq.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
  }

  /** Row 8 (rows-only): LSH kNN served from the AT-REST signature
    * postings ([[VectorIndex]] `lsh/` table): query band keys probe
    * the persisted buckets (id-only candidate rows), exact cosine
    * rerank from the index's stored floats, top-k. The corpus is
    * hashed once at ingest, never per query.
    */
  def qLshKnn(spark: SparkSession, sfDir: String): DataFrame =
    VectorIndex.searchLsh(spark, VectorIndex.sessionIndexPath(spark, sfDir),
      VectorSearch.querySet(spark, sfDir))
}
