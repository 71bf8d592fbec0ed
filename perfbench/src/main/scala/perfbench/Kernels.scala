package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{aggops, hashes, matrixops, vec}
import graft.operators.VectorIndex

/** The `functions` layer on its own: ns per row of each codegen'd
  * kernel, measured in traced runs after the timed region.
  */
object Kernels {
  /** Wall a kernel's timed query must reach before it is measured, so
    * the kernel's work and not the query's fixed cost (its broadcast
    * and two stages: about 0.1 s, with jitter of a few ms) dominates.
    */
  val MinWallS = 0.5
  val MaxCopies = 1 << 16
  val Reps = 2
  val Centroids = 32
  val Planes = 16

  /** One kernel's figure: ns per row (kernel query minus baseline
    * query, over the rows both processed) and the work behind it.
    */
  final case class Figure(nsPerRow: Double, rows: Long, kernelS: Double, baselineS: Double)

  /** ns per row of each codegen'd kernel, as a projection over this
    * workload's own rows through the public helpers; the cost of the
    * same query with the kernel's input projected instead is subtracted
    * (for the top-k aggregate, the same grouping with a `max`). The rows
    * are streamed through a cross join with `copies` ids. Kernel and
    * baseline are timed [[Reps]] times each and the fastest of each kept,
    * the least disturbed by other load; `copies` grows until the
    * fastest warm kernel query takes at least [[MinWallS]].
    */
  def measure(s: SparkSession, corpus: String, meta: VectorIndex.Meta): Map[String, Figure] = {
    val cpus = s.sparkContext.defaultParallelism
    val rows = s.read.parquet(s"$corpus/embeddings.parquet").alias("e")
      .join(s.read.parquet(s"$corpus/documents.parquet").alias("d"),
        col("e.vec_id") === col("d.doc_id"))
      .select(col("e.embedding").as("emb"), split(col("d.text"), " ").as("toks"))
      .withColumn("tok_hashes", transform(col("toks"), t => xxhash64(t)))
      .withColumn("shingle_hashes", transform(col("toks"), t => hash(t).cast("long")))
      .withColumn("other", reverse(col("emb")))
      .withColumn("id", monotonically_increasing_id())
      .repartition(cpus)
      .persist()
    val n = rows.count()
    def copied(copies: Int): DataFrame =
      rows.crossJoin(broadcast(s.range(copies).select(col("id").as("copy"))))
    def wall(copies: Int, q: DataFrame => DataFrame): Double = {
      val t0 = System.nanoTime()
      q(copied(copies)).collect()
      (System.nanoTime() - t0) / 1e9
    }
    def figure(kernel: DataFrame => DataFrame, baseline: DataFrame => DataFrame): Figure = {
      var copies = 16
      def grow(t: Double): Unit =
        copies = math.min(MaxCopies, copies * math.max(2, math.ceil(1.2 * MinWallS / t).toInt))
      def fastest(q: DataFrame => DataFrame): Double = (1 to Reps).map(_ => wall(copies, q)).min
      wall(copies, baseline) // the first run of a plan pays its code generation
      // grow until one kernel query reaches MinWallS; these runs also
      // let the JIT compile the kernel's code
      var t = wall(copies, kernel)
      while (t < MinWallS && copies < MaxCopies) { grow(t); t = wall(copies, kernel) }
      // compiled code runs faster: grow again until the fastest still does
      var k = fastest(kernel)
      while (k < MinWallS && copies < MaxCopies) { grow(k); k = fastest(kernel) }
      val b = fastest(baseline)
      Figure((k - b) * 1e9 / (n * copies), n * copies, k, b)
    }
    def projected(c: Column): DataFrame => DataFrame = _.select(c.as("x")).agg(max(col("x")))
    def ns(kernel: Column, input: Column): Figure = figure(projected(kernel), projected(input))
    val perm = (1 to 64).map(i => (i * 2654435761L) % 2147483647L)
    // a fixed number of centroids and planes, so a kernel's work per row
    // does not follow the list count the seed's index happened to get
    val centroids = s.read.parquet(s"$corpus/embeddings.parquet").orderBy("vec_id")
      .select("embedding").limit(Centroids).collect().map(_.getSeq[Float](0)).toSeq
    val planes = centroids.take(Planes)
    val sub = 64 / meta.codebooks.size
    val out = Map(
      "vec_cosine" -> ns(vec.cosine(col("emb"), col("other")), size(col("other"))),
      "vec_l2" -> ns(vec.l2(col("emb"), col("other")), size(col("other"))),
      "minhash" -> ns(size(hashes.minhashSignature(col("shingle_hashes"), perm, perm.reverse, 2147483647L)),
        size(col("shingle_hashes"))),
      "simhash" -> ns(hashes.simhash64(col("tok_hashes")), size(col("tok_hashes"))),
      "term_counts" -> ns(size(hashes.termCounts(col("toks"), graft.PerfbenchAccess.vocab)),
        size(col("toks"))),
      "centroid_dists" -> ns(size(matrixops.centroidDists(col("emb"), centroids)), size(col("emb"))),
      "nearest_clusters" -> ns(size(matrixops.nearestClusters(col("emb"), centroids, 3)),
        size(col("emb"))),
      "pq_adc" -> ns(size(matrixops.pqAdcTable(col("emb"), meta.codebooks, sub, absolute = true)),
        size(col("emb"))),
      "lsh_band" -> ns(size(matrixops.lshBandBuckets(col("emb"), planes, 4)), size(col("emb"))),
      "topk_by_score" -> {
        def grouped(c: Column): DataFrame => DataFrame =
          _.select(((col("id") * 31 + col("copy")) % 64).as("g"),
              vec.dot(col("emb"), col("other")).as("score"), (col("id") * MaxCopies + col("copy")).as("key"))
            .groupBy("g").agg(c.as("x"))
        figure(grouped(size(aggops.topKByScore(col("score"), col("key"), 10))),
          grouped(max(col("score"))))
      })
    rows.unpersist()
    out
  }
}
