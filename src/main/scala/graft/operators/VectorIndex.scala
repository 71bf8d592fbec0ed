package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.functions.vec
import graft.sources.{IndexAlias, Tombstones}

/** Unified AT-REST vector index — the persisted artifact the
  * reference's backends actually maintain (Milvus IVF_PQ/IVF_SQ8
  * segment files, Qdrant quantized storage + HNSW/LSH links, FAISS
  * on-disk indexes): every representation of the corpus is encoded
  * ONCE at ingest and written durably, so a restart — or a different
  * session, or a different cluster — serves searches without
  * re-encoding anything.
  *
  * Layout under `path/`:
  *  - `meta/centroids` — (cluster_id, centroid): the trained IVF
  *    geometry; `meta/codebooks` — (subspace, code, centroid): the PQ
  *    codebooks. Kilobytes; read once per session and broadcast into
  *    plans as literals.
  *  - `vectors/` — one row per vector, partitioned by `cluster_id`:
  *    full floats (for exact rerank), PQ codes (M tinyints), SQ8
  *    codes + per-vector affine params, BQ sign word, payload. All
  *    representations are COLUMNS of one partitioned table: parquet
  *    column pruning gives each search family its narrow scan (codes
  *    only — 32× fewer bytes than floats), with no per-family copies
  *    of the corpus. By default each family serves from a session
  *    view built from EVERY file once per (session, epoch) and
  *    probes filter that view; listing-level partition pruning (the
  *    nprobe/nlist file skip) applies to `cached = false` reads.
  *  - `lsh/` — banded random-hyperplane signature postings
  *    (band_id-partitioned, like the MinHash dedup index at
  *    [[Dedup.writeMinhashIndex]]). At test band width (4 bits) the
  *    bucket space is tiny, so probes join broadcast; at production
  *    widths (16-32 bits) the same layout bucket-prunes.
  *
  * All reads use explicit schemas: a fresh deployment's empty index
  * reads as an empty frame, and nothing pays schema inference at
  * scale. Appends are batch-sized files landing inside the existing
  * partition dirs — the standing corpus is never read or rewritten,
  * the same contract as the text index.
  */
object VectorIndex {

  /** Driver-side index geometry: kilobytes, trained once at build
    * from a fixed-size sample ([[Ann.TrainSampleCap]]). Every layout
    * has ONE format — residual IVFADC under an OPQ pre-rotation:
    * `pq_codes` encode R·(v − c) of each copy's own list
    * ([[Quantization.trainPqOpqFrom]]; `rotation` is R, the query
    * side rotates symmetrically and reconstruction applies Rᵀ), BQ
    * words and LSH keys hash the mean-centered v − `bqMean`, and LSH
    * bands are `lshBits` wide ([[Ann.lshBitsFor]]). [[readMeta]]
    * refuses any other layout. `defaultNProbe` is the build-time
    * CALIBRATED probe budget ([[calibrate]]) — None on small
    * (≤ [[Ann.NList]]-list) geometries, where the closed-form
    * [[Ann.nprobeFor]] stays the default.
    */
  final case class Meta(centroids: Seq[Seq[Float]], codebooks: Seq[Seq[Seq[Float]]],
                        rotation: Seq[Seq[Float]],
                        bqMean: Seq[Float],
                        lshBits: Int,
                        defaultNProbe: Option[Int] = None,
                        defaultPool: Option[Int] = None,
                        budgetBound: Boolean = false,
                        defaultBqPool: Option[Int] = None,
                        bqBudgetBound: Boolean = false,
                        lshBands: Option[Int] = None,
                        lshBudgetBound: Boolean = false)

  private val vectorsSchema = StructType.fromDDL(
    "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT, pq_codes ARRAY<TINYINT>, " +
      "sq8 ARRAY<TINYINT>, sq8_min DOUBLE, sq8_scale DOUBLE, bq_word BIGINT, " +
      "cluster_id INT, assign_rank INT")
  private val lshSchema = StructType.fromDDL(
    "bucket INT, vec_id BIGINT, band_id INT")
  private val centroidsSchema = StructType.fromDDL(
    "cluster_id INT, centroid ARRAY<FLOAT>")
  private val codebooksSchema = StructType.fromDDL(
    "subspace INT, code INT, centroid ARRAY<FLOAT>")
  private val paramsSchema = StructType.fromDDL(
    "param STRING, value BIGINT")
  private val rotationSchema = StructType.fromDDL(
    "row INT, vals ARRAY<FLOAT>")

  /** Measured per-plane random-pair collision probability of the
    * MEAN-CENTERED corpus — [[Ann.lshBitsFor]]'s `pRand` input
    * (bounded 256-row sample, the [[graft.operators.Dedup]]
    * discipline). Uniform clouds measure ≈0.5 and keep the former
    * log₂ widths bit-for-bit; clouds still anisotropic after
    * centering get the wider bands bounded occupancy needs.
    */
  private def centeredPRand(corpus: DataFrame, mu: Seq[Float]): Double =
    Dedup.measuredPRand(corpus.select(col("vec_id"),
      centered(col("embedding"), mu).as("embedding")))

  /** v − μ: the frame BQ words and LSH keys hash, on both the stored
    * and the query side.
    */
  private def centered(v: Column, mu: Seq[Float]): Column =
    zip_with(v, typedLit(mu), (x, m) => x - m)

  /** Route-relevant banding drift of a standing layout: appends
    * encode under the FROZEN banding, so a corpus whose measured
    * centered pRand drifts concentrated (or that simply outgrows its
    * width) leaves the persisted `lsh_bits` under-sized — bucket
    * occupancy, hence per-query candidate mass, grows with every
    * batch (the same failure list-size drift is to probe cost).
    * Returns the measured evidence when today's corpus wants at
    * least `slackBits` more width than the layout persists; the
    * PROPORTIONAL remedy is [[reband]] (re-derives width and count
    * from today's corpus and rewrites only the id-only `lsh/` table),
    * or a full [[retrain]] when the geometry has drifted too — note
    * [[compact]] is NOT a remedy: it rewrites postings under the
    * EXISTING meta, verbatim, and never re-derives banding.
    * [[graft.api.ScaleOps.maintain]] REPORTS this rung with the
    * measured inputs rather than acting — banding review is a
    * cost/recall tradeoff an operator owns. One bounded sample pass
    * plus one live count.
    */
  private[graft] def bandingDrift(spark: SparkSession, home: String,
                                  slackBits: Int, liveCount: Long = -1L): Option[String] = {
    val meta = readMeta(spark, home)
    val prim = vectors(spark, IndexAlias.resolve(spark, home), primaryOnly = true)
      .select(col("vec_id"), col("embedding"))
    // the maintain cycle already counted the live corpus for the
    // geometry-drift rung — reuse it rather than a second
    // corpus-sized count job per poll
    val live = if (liveCount >= 0) liveCount else prim.count()
    val pNow = centeredPRand(prim, meta.bqMean)
    val want = Ann.lshBitsFor(live, pNow)
    if (want >= meta.lshBits + slackBits)
      Some(f"banding drift: persisted lsh_bits ${meta.lshBits}, measured centered " +
        f"pRand $pNow%.3f at $live live vectors wants $want bits — " +
        "banding review recommended (reband rewrites the postings at " +
        "id-only cost; retrain if the geometry drifted too)")
    else None
  }

  /** Build the index from ANY normalized (vec_id BIGINT, embedding
    * ARRAY<FLOAT>, label INT) collection frame — the one way an index
    * is trained: the session index of a corpus dir
    * ([[sessionIndexPath]]), `VectorCollection.writeIndex`,
    * [[buildRotating]] and [[retrain]] all build here. One corpus
    * count sizes the geometry ([[Ann.nlistFor]], unless `nlist` is
    * given) and the banding; one capped sample ([[Ann.trainSample]])
    * trains the centroids, the OPQ rotation, the residual codebooks
    * and the BQ mean. Then the full layout is written.
    */
  def buildFrom(spark: SparkSession, corpus: DataFrame, path: String,
                nlist: Int = -1): Meta = {
    val t0 = System.nanoTime()
    val n = corpus.count()
    val sample = Ann.trainSample(corpus)
    val cents = Ann.trainCentroids(sample, if (nlist > 0) nlist else Ann.nlistFor(n))
    val (rot, cbs) = Quantization.trainPqOpqFrom(sample, cents)
    val mu = Quantization.trainBqMean(sample)
    logStage("train", t0)
    writeCorpus(spark, corpus, path,
      Meta(cents, cbs, rot, mu, Ann.lshBitsFor(n, centeredPRand(corpus, mu))))
  }

  /** Build-stage wall clock at INFO on the library logger — the
    * decomposition the 100×-build watch item asked for (train /
    * encode+write / calibration truth / nprobe / pool show up as
    * separate lines in any build log). Never on stdout, which is the
    * bench's JSON channel.
    */
  private def logStage(stage: String, t0: Long): Unit =
    graft.Log.info(f"[vecindex-build] $stage ${(System.nanoTime() - t0) / 1e9}%.1f s")

  /** Write a corpus under an explicitly supplied geometry — the
    * offline-rebuild path (periodic retrain, compaction, re-shard)
    * and the harness behind the spec's append ≡ rebuild proof.
    */
  def writeCorpus(spark: SparkSession, corpus: DataFrame, path: String, meta: Meta): Meta = {
    import spark.implicits._
    val p = IndexAlias.resolve(spark, path)
    meta.centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cluster_id", "centroid")
      .write.mode("overwrite").parquet(s"$p/meta/centroids")
    (for ((cb, j) <- meta.codebooks.zipWithIndex; (c, k) <- cb.zipWithIndex)
      yield (j, k, c))
      .toDF("subspace", "code", "centroid")
      .write.mode("overwrite").parquet(s"$p/meta/codebooks")
    meta.rotation.zipWithIndex.map { case (row, i) => (i, row) }.toDF("row", "vals")
      .write.mode("overwrite").parquet(s"$p/meta/rotation")
    Seq((0, meta.bqMean)).toDF("row", "vals")
      .write.mode("overwrite").parquet(s"$p/meta/bqmean")
    val tEnc = System.nanoTime()
    // the signature postings are written HERE under the pre-
    // calibration meta (16-band default) so a crash during the
    // minutes-long calibration below always leaves a COMPLETE layout
    // whose table matches its persisted lsh_bits — an in-place
    // rebuild must never strand an old-bucket-space table under new
    // params. When rung 4 calibrates a different band count the
    // table is rewritten once below (ids-only rows; 14 s at the 5M
    // corpus), and the common small-corpus case (16 bands measured
    // sufficient) pays nothing
    encodeAndWrite(corpus, meta, p, "overwrite")
    logStage("encode+write", tEnc)
    // the format flags persist the moment the codes they describe
    // exist — a crash during the minutes-long calibration below must
    // never leave a layout that [[readMeta]] cannot open
    writeParamsAt(spark, s"$p/meta", paramsOf(meta))
    // adaptive geometries calibrate their default probe, rerank-pool
    // (PQ and BQ) and LSH band-count budgets against the corpus just
    // written; small corpora keep the measured 16-list geometry (and
    // its measured NProbe) bit-for-bit
    val servedMeta =
      if (meta.centroids.length > Ann.NList)
        calibrate(spark, p, meta)
      else meta
    if (servedMeta.lshBands.getOrElse(Ann.LshBands) !=
        meta.lshBands.getOrElse(Ann.LshBands)) {
      // rung 4 landed a different band count: re-band the postings
      // under the calibrated meta (prefix-stable planes, so the first
      // 16 bands are byte-identical either way); params carrying
      // lsh_bands write after the table they describe
      val tLsh = System.nanoTime()
      writeLshTable(corpus, servedMeta, s"$p/lsh", "overwrite")
      logStage("lsh-rewrite", tLsh)
    }
    if (servedMeta != meta) writeParamsAt(spark, s"$p/meta", paramsOf(servedMeta))
    // an in-place rebuild (retrain) must not leave any session serving
    // the OLD geometry: evict every cached Meta for this path, then
    // seed this session's entry with the geometry just written
    metaCache.keySet.removeIf(_.endsWith("#" + p))
    metaCache.put(IndexCache.sessionKey(spark) + "#" + p, servedMeta)
    evict(p)
    servedMeta
  }

  /** The `meta/params` rows a [[Meta]] persists — the format flags
    * [[readMeta]] requires and the calibrated serving knobs. Shared
    * by [[writeCorpus]] (build) and [[recalibrate]] (maintenance), so
    * the two writers can never disagree on the on-disk flag
    * vocabulary.
    */
  private[graft] def paramsOf(m: Meta): Seq[(String, Long)] =
    m.defaultNProbe.map(np => ("default_nprobe", np.toLong)).toSeq ++
      m.defaultPool.map(pl => ("default_pool", pl.toLong)).toSeq ++
      Seq(("pq_residual", 1L), ("pq_opq", 1L)) ++
      (if (m.budgetBound) Seq(("pq_budget_bound", 1L)) else Nil) ++
      Seq(("bq_centered", 1L), ("lsh_bits", m.lshBits.toLong)) ++
      m.defaultBqPool.map(bp => ("default_bq_pool", bp.toLong)).toSeq ++
      (if (m.bqBudgetBound) Seq(("bq_budget_bound", 1L)) else Nil) ++
      m.lshBands.map(b => ("lsh_bands", b.toLong)).toSeq ++
      (if (m.lshBudgetBound) Seq(("lsh_budget_bound", 1L)) else Nil)

  private def writeParamsAt(spark: SparkSession, metaDir: String,
                            params: Seq[(String, Long)]): Unit = {
    import spark.implicits._
    params.toDF("param", "value").write.mode("overwrite").parquet(s"$metaDir/params")
  }

  /** Commit `params` together with `tables` (already written at their
    * [[graft.sources.LayoutRewrite.aside]]) in one
    * [[graft.sources.LayoutRewrite.swapIn]]: the params ride a copy of
    * `meta/` (kilobytes) written aside, so a crash or a concurrent
    * reader never finds `meta/` without its params, nor tables under
    * params that describe something else. Inside the caller's
    * [[graft.sources.WriterLease.exclusive]] on `home`; every
    * session's cached view of the layout `p` is dropped.
    */
  private def commitWithParams(spark: SparkSession, home: String, p: String,
                               params: Seq[(String, Long)], tables: Seq[String]): Unit = {
    import graft.sources.LayoutRewrite.aside
    val dir = new org.apache.hadoop.fs.Path(p)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(dir, "meta"),
      fs, aside(dir, "meta"), false, spark.sparkContext.hadoopConfiguration)
    writeParamsAt(spark, aside(dir, "meta").toString, params)
    graft.sources.WriterLease.renewHeld(spark, home)
    try graft.sources.LayoutRewrite.swapIn(fs, dir, tables :+ "meta", Nil)
    finally { metaCache.keySet.removeIf(_.endsWith("#" + p)); evict(p) }
  }

  /** Re-run serving calibration against the CURRENT corpus without
    * re-encoding anything — the maintenance remedy for a recall miss
    * on a budget-bound layout. `pq_budget_bound` is measured at build
    * time against the build corpus; after appends a miss may be
    * DRIFT-caused (the appended region shifted where true neighbors
    * rank in the ADC ordering), in which case a refreshed
    * (nprobe, pool) measured on today's corpus can clear the cap and
    * restore the floor for the cost of one bounded calibration pass
    * (the 256-query truth scan — 33 s at 5M vectors), not a corpus
    * re-encode. Persists the refreshed knobs and re-seeds the meta
    * cache; returns the refreshed meta (still `budgetBound` when even
    * today's calibration hits the pool cap — the genuinely
    * code-budget-limited case, which the caller reports instead of
    * retraining). Small fixed geometries (≤ [[Ann.NList]] lists)
    * never calibrate at build and are returned unchanged here. The
    * refreshed params commit crash-safely (see [[commitWithParams]]).
    */
  private[graft] def recalibrate(spark: SparkSession, home: String): Meta =
    graft.sources.WriterLease.exclusive(spark, home) {
      val p = IndexAlias.resolve(spark, home)
      val meta = readMeta(spark, home)
      if (meta.centroids.length <= Ann.NList) meta
      else {
        // band count is pinned to the persisted postings: serving a
        // re-measured count without rewriting the postings table would
        // probe band ids the table doesn't hold — band-count changes
        // ride the rebuild verbs (retrain/compact land a fresh
        // generation), so rung 4 is skipped here, not measured-and-
        // discarded
        val refreshed = calibrate(spark, p, meta, measureLshBands = false)
        if (refreshed != meta) {
          // a LIVE generation's params rewritten in place (builds land
          // on fresh generation paths): one aside-meta commit
          commitWithParams(spark, home, p, paramsOf(refreshed), Nil)
          metaCache.put(IndexCache.sessionKey(spark) + "#" + p, refreshed)
        }
        refreshed
      }
    }

  /** Build-time serving calibration, two rungs off ONE shared truth
    * set: (1) the minimal default nprobe whose probed lists cover
    * [[CalibrationTarget]] of the corpus's OWN measured true
    * neighbors, never below the closed-form floor ([[Ann.nprobeFor]]);
    * (2) the minimal exact-rerank pool whose ADC prefix covers the
    * same quantile of those neighbors through the probe budget just
    * calibrated, never below [[Quantization.PqRerankPool]] and capped
    * at [[Quantization.PqPoolCap]] — when even the cap cannot reach
    * the target the layout is flagged BUDGET BOUND (`pq_budget_bound`
    * in `meta/params`): the 8-byte code budget, not any serving knob,
    * limits recall, and maintenance must not try to retrain its way
    * out ([[graft.api.ScaleOps.maintain]]).
    *
    * The closed form is geometry-blind: √nlist probes hold ≥0.9
    * recall on direction-uniform clouds (measured 0.9978 at the
    * aniso sf10 decade), but on a CONCENTRATED cloud at the next
    * decade the true neighbors of a query spread across more lists
    * than √nlist covers — measured recall@10 fell to 0.811 at the
    * aniso sf100 corpus (1220 lists, 35 probed). Calibration measures
    * instead of assumes: [[CalibrationQueries]] held-out corpus
    * members get exact top-K over the FULL corpus (one bounded
    * 256×n distributed scan — the build already makes corpus-sized
    * passes), each true neighbor's minimal probe depth is the rank of
    * its best assigned list in the query's centroid ordering (the
    * SAME [[graft.functions.NearestClusters]] ordering the probe path
    * uses, so calibration and serving can never disagree), and the
    * calibrated budget is the [[CalibrationTarget]]-quantile of those
    * depths. Spilled copies count: a neighbor is found through ANY of
    * its assigned lists.
    */
  private[graft] def calibrate(spark: SparkSession, p: String, meta: Meta,
                               poolCap: Int = Quantization.PqPoolCap,
                               measureLshBands: Boolean = true): Meta = {
    val cents = meta.centroids
    val nlist = cents.length
    val floorNp = Ann.nprobeFor(nlist)
    val prim = vectors(spark, p, primaryOnly = true)
      .select(col("vec_id"), col("embedding"))
    val (queries, truth, truthTotal) = calibrationTruth(spark, prim)
    // ---- rung 1: probe budget ----
    // all assignment ranks: the scan is corpus-sized but map-side
    // (truth is queries×K rows, broadcast)
    val tNp = System.nanoTime()
    val nbrLists = vectors(spark, p).select(col("vec_id"), col("cluster_id"))
      .join(broadcast(truth), "vec_id")
    val qRanks = queries.select(col("q_id"),
        posexplode(graft.functions.matrixops.nearestClusters(
          col("q_emb"), cents, nlist)))
      .select(col("q_id"), (col("pos") + 1).as("q_rank"),
        col("col").as("cluster_id"))
    val depths = nbrLists.join(broadcast(qRanks), Seq("q_id", "cluster_id"))
      .groupBy(col("q_id"), col("vec_id")).agg(min(col("q_rank")).as("mr"))
      .select(col("mr")).collect().map(_.getInt(0)).sorted
    val np =
      if (depths.isEmpty) floorNp
      else {
        val at = math.max(0, math.min(depths.length - 1,
          math.ceil(CalibrationTarget * depths.length).toInt - 1))
        math.min(nlist, math.max(floorNp, depths(at)))
      }
    logStage("calibrate-nprobe", tNp)
    // ---- rung 2: rerank pool ----
    // Each true neighbor's rank in its query's ADC ordering through
    // the probe path just calibrated — the pool is the OTHER serving
    // knob (the committed aniso-sf100 curve: 0.433 at pool 100 vs
    // 0.687/0.816 at 1000/4000), so it gets the same measured-not-
    // assumed treatment as nprobe. rank(t) = 1 + |{candidates with a
    // smaller (adc_dist, vec_id)}| — computed per truth pair by a
    // broadcast join + one combinable count, so the corpus-sized
    // scored frame is never shuffled or sorted. Truth pairs outside
    // every probed list rank +∞ (the probe budget's residual miss
    // mass counts against the pool quantile exactly as it would
    // against serving recall).
    val tPool = System.nanoTime()
    val scored = ivfPqScored(spark, p, meta, queries, np, cached = false)
    val truthD = scored.join(truth, Seq("q_id", "vec_id"))
      .select(col("q_id"), col("vec_id").as("t_vec"), col("adc_dist").as("t_dist"))
      .localCheckpoint()
    val nFound = truthD.count()
    val ranks = scored.join(broadcast(truthD), Seq("q_id"))
      .filter(col("adc_dist") < col("t_dist") ||
        (col("adc_dist") === col("t_dist") && col("vec_id") < col("t_vec")))
      .groupBy(col("q_id"), col("t_vec")).agg(count(lit(1)).as("n_better"))
      .select(col("n_better")).collect().map(_.getLong(0) + 1L)
    // pairs with zero better candidates (rank 1) have no count row
    val found = (ranks ++ Array.fill((nFound - ranks.length).toInt)(1L)).sorted
    val at = math.ceil(CalibrationTarget * truthTotal).toLong - 1
    val rawPool: Long =
      if (truthTotal == 0) Quantization.PqRerankPool.toLong
      else if (at >= found.length) Long.MaxValue // quantile lands in the unreachable tail
      else found(at.toInt)
    val bound = rawPool > poolCap
    val pool = math.min(poolCap.toLong,
      math.max(math.min(poolCap, Quantization.PqRerankPool).toLong, rawPool)).toInt
    logStage("calibrate-pool", tPool)
    // ---- rung 3: BQ Hamming-prefilter pool ----
    // The committed aniso-sf100 ladder showed the pre-calibration
    // shape exactly: 0.641 recall at the CONSTANT pool 100 vs 0.9716
    // at 1000 — the same measured-not-assumed treatment PQ's pool got
    // in rung 2. Each true neighbor's rank in its query's
    // (hamming asc, vec_id asc) prefilter ordering over the stored
    // sign words, by the same broadcast-join + combinable-count shape
    // (the corpus-sized hamming frame is never shuffled or sorted;
    // the scan reads 8 bytes/vector). Every vector has a hamming
    // distance, so the quantile tail is always reachable — the bound
    // flag fires only when the rank quantile itself exceeds the cap.
    val tBq = System.nanoTime()
    val qw = queries.select(col("q_id"),
      Quantization.bqWord(centered(col("q_emb"), meta.bqMean)).as("qw"))
    val hams = vectors(spark, p, primaryOnly = true)
      .select(col("vec_id"), col("bq_word"))
      .crossJoin(broadcast(qw))
      .select(col("q_id"), col("vec_id"),
        bit_count(col("bq_word").bitwiseXOR(col("qw"))).as("hamming"))
    // the truth pairs' own hamming needs only the 2560 (q, t) pairs —
    // ONE narrow corpus scan joined on vec_id, never the q × corpus
    // product (riding `hams` here measured 155 s of a 574 s build at
    // the 5M corpus: half the rung was re-deriving 2.5B crossed rows
    // to keep 2560 of them)
    val truthH = vectors(spark, p, primaryOnly = true)
      .select(col("vec_id"), col("bq_word"))
      .join(broadcast(truth), "vec_id")
      .join(broadcast(qw), "q_id")
      .select(col("q_id"), col("vec_id").as("t_vec"),
        bit_count(col("bq_word").bitwiseXOR(col("qw"))).as("t_ham"))
      .localCheckpoint()
    val bqRanks = hams.join(broadcast(truthH), Seq("q_id"))
      .filter(col("hamming") < col("t_ham") ||
        (col("hamming") === col("t_ham") && col("vec_id") < col("t_vec")))
      .groupBy(col("q_id"), col("t_vec")).agg(count(lit(1)).as("n_better"))
      .select(col("n_better")).collect().map(_.getLong(0) + 1L)
    val bqFound = (bqRanks ++
      Array.fill((truthTotal - bqRanks.length).toInt)(1L)).sorted
    val rawBqPool: Long =
      if (truthTotal == 0) Quantization.BqPool.toLong
      else bqFound(math.max(0, math.min(bqFound.length - 1,
        math.ceil(CalibrationTarget * truthTotal).toInt - 1)))
    val bqBound = rawBqPool > Quantization.BqPoolCap
    val bqPool = math.min(Quantization.BqPoolCap.toLong,
      math.max(Quantization.BqPool.toLong, rawBqPool)).toInt
    logStage("calibrate-bq-pool", tBq)
    // ---- rung 4: LSH band count ----
    // Band WIDTH is sized at build for bounded occupancy (measured
    // centered pRand, [[Ann.lshBitsFor]]); the band COUNT is the
    // recall knob, and a fixed 16 served 0.744 at the aniso sf100
    // corpus where every other family holds ≥0.9 at its calibrated
    // setting. Measured directly: each truth pair's per-plane
    // collision probability on the CENTERED vectors (the frame the
    // planes actually hash), p = 1 − θ/π; expected candidate recall
    // at b bands is mean_i[1 − (1 − p_i^r)^b] (independent seeded
    // bands), and the smallest b in [16, LshBandCap] that reaches
    // [[CalibrationTarget]] is persisted as `lsh_bands`. When even
    // the cap cannot reach it the layout is flagged
    // `lsh_budget_bound` — the banding geometry, not the count, is
    // the limit (the no-contrast regime), and maintenance must not
    // rewrite postings forever. One bounded job: the truth pairs
    // (queries × K rows) broadcast against one corpus projection.
    val tBands = System.nanoTime()
    // the in-place knob refresh (recalibrate) pins the band count to
    // the persisted postings — measuring an answer only to discard it
    // would cost a corpus-projection join per cycle
    val (lshBands, lshBound) =
      if (measureLshBands) measuredLshBands(spark, p, meta, meta.lshBits, queries, truth)
      else (meta.lshBands, meta.lshBudgetBound)
    logStage("calibrate-lsh-bands", tBands)
    meta.copy(defaultNProbe = Some(np), defaultPool = Some(pool), budgetBound = bound,
      defaultBqPool = Some(bqPool), bqBudgetBound = bqBound,
      lshBands = lshBands, lshBudgetBound = lshBound)
  }

  /** The held-out calibration sample and its exact truth set — the
    * ONE corpus-sized scan every calibration rung (and [[reband]])
    * shares. Exact truth rides the MAP-SIDE bounded top-K aggregate
    * ([[graft.functions.TopKByScore]]): per (task, query) state is
    * one k-slot buffer, partial-aggregated before the exchange — the
    * scan never sorts (the row_number window form sorted each task's
    * full slice of the queries × corpus product: the measured OOM at
    * default partitioning). ObjectHashAggregate's sort fallback is
    * raised past the query count for the duration: its default (128
    * distinct keys) is BELOW [[CalibrationQueries]], so the partial
    * aggregate silently degraded to sorting the queries × corpus
    * product — measured filling the local disk with spill at the
    * 5M-row corpus. 256 ten-slot buffers are kilobytes; the hash
    * path is the entire point of the aggregate. Checkpointed: every
    * rung reads it, and it must not re-run the scan.
    */
  private def calibrationTruth(spark: SparkSession, prim: DataFrame)
      : (DataFrame, DataFrame, Long) = {
    val queries = prim
      .orderBy(pmod(hash(col("vec_id")), lit(1000000007)), col("vec_id"))
      .limit(CalibrationQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .localCheckpoint()
    val tTruth = System.nanoTime()
    val FallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prevFallback = spark.conf.getOption(FallbackKey)
    spark.conf.set(FallbackKey, (CalibrationQueries * 4).toString)
    val (truth, truthTotal) =
      try {
        val t = prim.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("q_id"))
          .groupBy(col("q_id"))
          .agg(graft.functions.aggops.topKByScore(
            vec.cosine(col("q_emb"), col("embedding")).cast("double"),
            col("vec_id"), Ann.K).as("top"))
          .select(col("q_id"), explode(col("top.vec_id")).as("vec_id"))
          .localCheckpoint()
        (t, t.count())
      } finally {
        prevFallback.fold(spark.conf.unset(FallbackKey))(v => spark.conf.set(FallbackKey, v))
      }
    logStage("calibrate-truth", tTruth)
    (queries, truth, truthTotal)
  }

  /** Calibration rung 4's measurement at band width `r`: each truth
    * pair's per-plane collision probability on the CENTERED vectors
    * (the frame the planes actually hash), p = 1 − θ/π; expected
    * candidate recall at b bands is mean_i[1 − (1 − p_i^r)^b]
    * (independent seeded bands); the smallest b in
    * [16, [[LshBandCap]]] reaching [[CalibrationTarget]] wins, or the
    * cap with the `lsh_budget_bound` flag when even it cannot. One
    * bounded job: the truth pairs (queries × K rows) broadcast
    * against one corpus projection. Split from [[calibrate]] so
    * [[reband]] can re-measure the count at a RE-DERIVED width
    * without paying the other three rungs.
    */
  private def measuredLshBands(spark: SparkSession, p: String, meta: Meta,
      r: Int, queries: DataFrame, truth: DataFrame): (Option[Int], Boolean) = {
    val pairProbs = vectors(spark, p, primaryOnly = true)
      .select(col("vec_id"), col("embedding"))
      .join(broadcast(truth.join(broadcast(queries), "q_id")), "vec_id")
      .select(vec.cosine(centered(col("q_emb"), meta.bqMean),
        centered(col("embedding"), meta.bqMean)).cast("double").as("c"))
      .collect().map { row =>
        val c = math.max(-1.0, math.min(1.0, row.getDouble(0)))
        1.0 - math.acos(c) / math.Pi
      }
    if (pairProbs.isEmpty) (None, false)
    else {
      def recallAt(b: Int): Double =
        pairProbs.map(pi => 1.0 - math.pow(1.0 - math.pow(pi, r), b)).sum /
          pairProbs.length
      (Ann.LshBands to LshBandCap).find(b => recallAt(b) >= CalibrationTarget) match {
        case Some(b) => (Some(b), false)
        case None    => (Some(LshBandCap), true)
      }
    }
  }

  /** Postings-only re-band — the PROPORTIONAL remedy for a
    * `banding_drift` report. Appends encode under the FROZEN banding,
    * so a corpus that drifts concentrated (or outgrows its width)
    * leaves `lsh_bits` under-sized and bucket occupancy growing with
    * every batch. Physically that defect lives ONLY in the id-only
    * `lsh/` table — the stored floats, codes, and geometry are
    * untouched — so the proportional fix is: re-derive the width from
    * today's live count and measured centered pRand
    * ([[Ann.lshBitsFor]], the build-time formula), re-measure the
    * band count at that width against a fresh held-out truth set
    * (calibration rung 4), rewrite `lsh/` WRITE-ASIDE from the stored
    * floats next to a copy of `meta/` carrying the new
    * `lsh_bits`/`lsh_bands`, and swap both in with one
    * [[graft.sources.LayoutRewrite]] commit (a crash never leaves a
    * missing or partial table, nor postings under params that
    * describe another banding). Cost: one truth scan + one id-only postings
    * write (measured 33 s + 14 s at the 5M corpus) vs the full
    * corpus re-encode of [[retrain]] (~570 s there). The centering
    * mean is KEPT — re-deriving `mu` would invalidate the stored BQ
    * words, which is retrain territory; drift of the mean itself
    * shows up in the measured pRand and is absorbed by width.
    */
  def reband(spark: SparkSession, home: String): Meta =
    graft.sources.WriterLease.exclusive(spark, home) {
      val p = IndexAlias.resolve(spark, home)
      val meta = readMeta(spark, p)
      val prim = vectors(spark, p, primaryOnly = true)
        .select(col("vec_id"), col("embedding"))
      val live = prim.count()
      val newBits = Ann.lshBitsFor(live, centeredPRand(prim, meta.bqMean))
      val (queries, truth, _) = calibrationTruth(spark, prim)
      val (newBands, bound) =
        measuredLshBands(spark, p, meta, newBits, queries, truth)
      val newMeta = meta.copy(lshBits = newBits,
        lshBands = newBands.orElse(meta.lshBands), lshBudgetBound = bound)
      val tLsh = System.nanoTime()
      writeLshTable(prim, newMeta, graft.sources.LayoutRewrite.aside(
        new org.apache.hadoop.fs.Path(p), "lsh").toString, "overwrite")
      // the postings and the params describing their banding swap in
      // ONE commit
      commitWithParams(spark, home, p, paramsOf(newMeta), Seq("lsh"))
      logStage("reband-postings", tLsh)
      metaCache.put(IndexCache.sessionKey(spark) + "#" + p, newMeta)
      newMeta
    }

  /** Band-count cost cap for calibration rung 4: postings rows (and
    * append cost) scale linearly with the band count, so the cap
    * bounds the table at 4× the 16-band default footprint. Past it the
    * geometry itself (no contrast between neighbor and random angles
    * on the centered cloud) is the limit and `lsh_budget_bound` is
    * persisted instead of more tables.
    */
  private[graft] val LshBandCap = 64

  /** Held-out corpus queries per build-time probe calibration, and
    * the in-calibration recall the calibrated budget must reach.
    * The target carries headroom over the 0.9 serving floor: the
    * calibrated depth quantile is measured on one 256-query sample
    * and served to another.
    */
  private[graft] val CalibrationQueries = 256
  private[graft] val CalibrationTarget = 0.92

  /** Explicit caller budget wins; otherwise the calibrated persisted
    * default; otherwise ≤0 lets [[Ann.probeFrame]] resolve the
    * closed-form policy.
    */
  private def resolveNProbe(meta: Meta, nprobe: Int): Int =
    if (nprobe > 0) nprobe else meta.defaultNProbe.getOrElse(-1)

  /** Explicit caller pool wins; otherwise the calibrated persisted
    * default ([[calibrate]] rung 2); otherwise the constant
    * [[Quantization.PqRerankPool]] (small geometries and
    * uncalibrated builds).
    */
  private def resolvePool(meta: Meta, pool: Int): Int =
    if (pool > 0) pool else meta.defaultPool.getOrElse(Quantization.PqRerankPool)

  /** Build a ROTATING index: the first generation of an
    * [[graft.sources.IndexAlias]] home. Clients address `home`
    * forever; [[retrain]] swaps generations underneath them.
    */
  def buildRotating(spark: SparkSession, corpus: DataFrame, home: String,
                    nlist: Int = -1): Meta = {
    val gen = IndexAlias.nextGenerationPath(spark, home)
    val meta = buildFrom(spark, corpus, gen, nlist)
    IndexAlias.set(spark, home, gen)
    meta
  }

  /** Live primary-copy row count — the corpus size the geometry
    * policy ([[Ann.nlistFor]]) judges a standing index against. The
    * assign_rank partition filter prunes to primary files; tombstones
    * are folded out, so the count is the SERVED corpus.
    */
  def liveCount(spark: SparkSession, rawPath: String): Long =
    vectors(spark, IndexAlias.resolve(spark, rawPath), primaryOnly = true).count()

  /** Zero-downtime retrain — the remedy for geometry drift.
    * [[append]] encodes new batches against the PERSISTED geometry
    * (correct and cheap, but as the data distribution moves away
    * from the training sample, centroids stop partitioning the
    * corpus well and codebooks stop representing it: probe and ADC
    * recall erode — the drift every reference backend rotates
    * indexes for). Retrain reads the live rows (tombstones and
    * payload deltas folded in), trains FRESH geometry from them
    * ([[buildFrom]]'s capped sample), writes the complete next
    * generation ASIDE — readers keep serving the old generation in
    * full — then atomically repoints the home. The swap is the
    * [[graft.sources.VersionedPointer]] rename: a reader resolves
    * either generation, never neither, and because all session
    * caches key on the concrete generation path, post-swap reads
    * cache-miss onto the new geometry with no invalidation
    * protocol. Old generations stay on disk for in-flight readers;
    * [[graft.sources.IndexAlias.pruneGenerations]] reclaims them
    * once drained. Gate the swap with
    * [[graft.api.ScaleOps.recallAtK]] in production. Returns the
    * new generation's path.
    *
    * The calibrated probe and pool budgets ([[calibrate]]) rides the same
    * lifecycle: appends serve under the budget calibrated at the last
    * build (like the geometry itself), and retrain re-measures it
    * against the corpus the fresh generation actually holds.
    */
  def retrain(spark: SparkSession, home: String): String =
    graft.sources.WriterLease.exclusive(spark, home) {
      val cur = IndexAlias.resolve(spark, home)
      require(cur != home,
        s"retrain needs a rotating index (see buildRotating): $home")
      val live = vectors(spark, cur, primaryOnly = true)
        .select(col("vec_id"), col("embedding"), col("label"))
      graft.sources.LayoutRewrite.nextGeneration(spark, home)(buildFrom(spark, live, _))
    }

  /** Fold a new (vec_id, embedding, label) batch into the standing
    * index: encode against the PERSISTED geometry (no retrain — the
    * ingest-while-serving path of Milvus/Qdrant) and append
    * batch-sized files into the partition layout.
    */
  def append(spark: SparkSession, batch: DataFrame, path: String): Unit =
    graft.sources.WriterLease.exclusive(spark, path) {
      val p = IndexAlias.resolve(spark, path)
      encodeAndWrite(batch, readMeta(spark, p), p, "append")
      evict(p)
    }

  /** One corpus pass computing every encoded representation — all
    * pure per-row codegen'd expressions, no shuffle (the partitioned
    * write's hash distribution is the only exchange).
    *
    * Cluster assignment is SPILLED ([[Ann.SpillAssign]]): each vector
    * lands in its 2 nearest cluster partitions, with the copy rank as
    * a second partition column. IVF probes read both ranks of probed
    * clusters (boundary neighbors recalled from either side); every
    * non-probed family prunes to `assign_rank=0` at the listing and
    * never pays for the spill copies.
    */
  private def encodeAndWrite(df: DataFrame, meta: Meta, path: String, mode: String): Unit = {
    val assigned = df.select(col("*"), posexplode(
      Ann.spillClusters(col("embedding"), meta.centroids, Ann.SpillAssign))
      .as(Seq("assign_rank", "cluster_id")))
    // codes encode R·(v − c) of the row's OWN (exploded) cluster —
    // each spill copy carries the residual of the list it lives in,
    // so per-(query, probed-list) ADC is exact for every copy it
    // meets, and the rotated frame is the codes' frame end to end
    val resid = zip_with(col("embedding"),
      element_at(typedLit(meta.centroids), col("cluster_id") + 1),
      (v, c) => v - c)
    val pqInput = graft.functions.matrixops.matVec(resid, meta.rotation)
    // sign(v − μ): a mean-dominated cloud's raw sign bits correlate
    // corpus-wide (measured recall 0.53)
    val enc = Quantization.quantize(
        Quantization.pqEncodeCol(assigned, meta.codebooks, pqInput), dropEmb = false)
      .withColumn("bq_word", Quantization.bqWord(centered(col("embedding"), meta.bqMean)))
      .select(col("vec_id"), col("embedding"), col("label"), col("pq_codes"),
        col("sq8"), col("sq8_min"), col("sq8_scale"), col("bq_word"),
        col("cluster_id"), col("assign_rank"))
    // cluster rows to their partition dir BEFORE the dynamic-
    // partition write: without it every task holds writers (or sorts)
    // for all nlist×spill dirs — at the adaptive geometry's hundreds
    // of lists that is thousands of near-empty files and a per-task
    // wide-row sort, which measured as a super-linear build slope.
    // One hash exchange on the partition keys gives ~one file per
    // (cluster, rank) dir; occupancy is mass-balanced by training,
    // so the exchange has no skewed reducer.
    enc.repartition(col("cluster_id"), col("assign_rank"))
      .write.mode(mode).partitionBy("cluster_id", "assign_rank").parquet(s"$path/vectors")
    writeLshTable(df, meta, s"$path/lsh", mode)
  }

  /** The signature-postings table, written under the meta's banding
    * config. Split from [[encodeAndWrite]] because a FULL build
    * calibrates the band count off the held-out truth set first
    * (calibration rung 4) and writes the postings once under the
    * calibrated meta; appends write under the persisted meta in the
    * same pass as the vectors.
    */
  private def writeLshTable(df: DataFrame, meta: Meta, table: String,
                            mode: String): Unit =
    df.select(col("vec_id"), lshKeys(meta).as("bk"))
      .select(col("bk.bucket").as("bucket"), col("vec_id"), col("bk.band_id").as("band_id"))
      .write.mode(mode).partitionBy("band_id").parquet(table)

  /** Exploded (band_id, bucket) signature keys for `embedding` /
    * `q_emb` under a layout's banding: MEAN-CENTERED projections over
    * `lsh_bits`-wide band keys ([[Ann.lshBitsFor]]). Centering breaks
    * the corpus-wide bucket collapse of a mean-dominated cloud (every
    * vector shares the mean's sign pattern — the measured disk-
    * filling candidate explosion at the 5M-row aniso corpus), and the
    * log₂(n)-width keys keep expected bucket occupancy constant.
    */
  private def lshKeysOf(meta: Meta, embCol: Column): Column = {
    // band count from the calibrated meta (rung 4); the seeded plane
    // generator is PREFIX-STABLE — bands 0..15 of a 64-band layout
    // hash identically to the 16-band layout's bands — so a reader on
    // a stale 16-band meta probes a correct subset of a wider table,
    // degrading recall, never correctness
    val bits = meta.lshBits
    val bands = meta.lshBands.getOrElse(Ann.LshBands)
    explode(zip_with(
      graft.functions.matrixops.lshBandBuckets(centered(embCol, meta.bqMean),
        Ann.lshPlanesFor(bits, bands), bits),
      sequence(lit(0), lit(bands - 1)),
      (bucket, band) => struct(band.cast("int").as("band_id"),
        bucket.cast("int").as("bucket"))))
  }

  private def lshKeys(meta: Meta): Column = lshKeysOf(meta, col("embedding"))

  /** Session-cached geometry read (two kilobyte-scale files). */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, Meta]()

  /** Per-path mutation epoch, folded into every serving-view cache
    * key: any write that changes what a read should see (append,
    * delete, payload update, compact, rebuild, restore) bumps it and
    * evicts the path's materialized views, so no session ever serves
    * a stale frame. Epochs are process-local — on a real deployment
    * the same role is played by the layout's commit version (e.g. a
    * table-format snapshot id).
    */
  private val epochs =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  private def epoch(path: String): Long =
    epochs.computeIfAbsent(path, _ => new java.util.concurrent.atomic.AtomicLong(0L)).get()

  /** Evict every session cache for `path` — the hook an EXTERNAL
    * in-place change of the layout calls (e.g.
    * [[graft.sources.IndexSnapshot.restore]] on a non-rotating
    * path); writes through this object's own API invalidate
    * automatically.
    */
  private[graft] def invalidate(spark: SparkSession, rawPath: String): Unit = {
    val path = IndexAlias.resolve(spark, rawPath)
    metaCache.keySet.removeIf(_.endsWith("#" + path))
    evict(path)
  }

  /** Layout tables of the at-rest vector index, as [[stats]] reports
    * them (see [[graft.sources.IndexStats]]).
    */
  private val LayoutTables = Seq("vectors", "lsh", "meta", Tombstones.Table, "payload")

  /** Bump the path's epoch and drop its serving views. */
  private def evict(path: String): Unit = {
    epochs.computeIfAbsent(path, _ => new java.util.concurrent.atomic.AtomicLong(0L))
      .incrementAndGet()
    IndexCache.dropMatching(s"vix#$path#")
  }

  /** Session-materialized NARROW serving view — the per-family
    * projection (codes only, sign words only, floats only) built once
    * per (session, path, epoch) and served to every subsequent query,
    * exactly how the in-memory families serve from
    * [[IndexCache.materialized]]. The first query after a build or a
    * mutation pays one at-rest scan (with tombstones and payload
    * overlaid); queries after that touch no storage. At cluster scale
    * the identical keys name executor-cached tables; the uncached
    * read path underneath keeps its listing-level partition pruning
    * for corpora too large to pin.
    */
  private def served(spark: SparkSession, path: String, variant: String,
                     cached: Boolean)(build: => DataFrame): DataFrame =
    if (!cached) build
    else IndexCache.materialized(spark, s"vix#$path#e${epoch(path)}#$variant")(build)

  def readMeta(spark: SparkSession, rawPath: String): Meta = {
    // cache on the RESOLVED generation path: an alias swap lands on a
    // different concrete path, so it cache-misses onto fresh geometry
    val path = IndexAlias.resolve(spark, rawPath)
    metaCache.computeIfAbsent(IndexCache.sessionKey(spark) + "#" + path, _ => {
      val cents = spark.read.schema(centroidsSchema).parquet(s"$path/meta/centroids")
        .orderBy(col("cluster_id")).collect()
        .map(_.getSeq[Float](1)).toSeq
      val cbs = spark.read.schema(codebooksSchema).parquet(s"$path/meta/codebooks")
        .collect()
        .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map { case (_, rows) =>
          rows.sortBy(_.getInt(1)).map(_.getSeq[Float](2)).toSeq
        }
      // one format is served: a layout whose params or tables do not
      // describe residual OPQ codes, centered BQ and adaptive banding
      // is refused, never read as something else
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tables = Seq("params", "rotation", "bqmean")
        .filterNot(t => fs.exists(new org.apache.hadoop.fs.Path(s"$path/meta/$t")))
      val params: Map[String, Long] =
        if (tables.contains("params")) Map.empty
        else spark.read.schema(paramsSchema).parquet(s"$path/meta/params")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val flags = Seq("pq_residual", "pq_opq", "bq_centered")
        .filterNot(f => params.get(f).contains(1L)) ++
        Seq("lsh_bits").filterNot(params.contains)
      if (tables.nonEmpty || flags.nonEmpty)
        throw new IllegalStateException(s"$path is not a residual-OPQ vector index " +
          s"layout (missing ${(tables.map("meta/" + _) ++ flags).mkString(", ")}); " +
          "rebuild it with VectorIndex.buildFrom")
      val rotation = spark.read.schema(rotationSchema).parquet(s"$path/meta/rotation")
        .orderBy(col("row")).collect().map(_.getSeq[Float](1)).toSeq
      val bqMean = spark.read.schema(rotationSchema).parquet(s"$path/meta/bqmean")
        .collect().head.getSeq[Float](1)
      Meta(cents, cbs, rotation, bqMean,
        params("lsh_bits").toInt,
        params.get("default_nprobe").map(_.toInt),
        params.get("default_pool").map(_.toInt),
        params.get("pq_budget_bound").contains(1L),
        params.get("default_bq_pool").map(_.toInt),
        params.get("bq_budget_bound").contains(1L),
        params.get("lsh_bands").map(_.toInt),
        params.get("lsh_budget_bound").contains(1L))
    })
  }

  /** Operator-visible serving parameters of a standing layout — what
    * `q_index_stats` reports beside the debt/fragmentation numbers:
    * the calibrated budgets actually serving defaults, the geometry
    * size, the LSH band width (`lsh_bits`, what [[bandingDrift]] and
    * [[reband]] compare against), and — decisively — `pq_budget_bound`
    * (a recall miss on such a layout is a CODE-BUDGET limit; paging
    * an operator to retrain it would burn a corpus re-encode for
    * nothing, see [[graft.api.ScaleOps.maintain]]).
    */
  def servingParams(spark: SparkSession, rawPath: String): DataFrame = {
    import spark.implicits._
    val meta = readMeta(spark, rawPath)
    (Seq(
      "nlist" -> meta.centroids.length.toLong,
      "lsh_bits" -> meta.lshBits.toLong,
      "pq_budget_bound" -> (if (meta.budgetBound) 1L else 0L),
      "bq_budget_bound" -> (if (meta.bqBudgetBound) 1L else 0L),
      "lsh_budget_bound" -> (if (meta.lshBudgetBound) 1L else 0L)) ++
      meta.defaultNProbe.map(np => "default_nprobe" -> np.toLong) ++
      meta.defaultPool.map(pl => "default_pool" -> pl.toLong) ++
      meta.defaultBqPool.map(bp => "default_bq_pool" -> bp.toLong) ++
      meta.lshBands.map(b => "lsh_bands" -> b.toLong))
      .toDF("param", "value")
  }

  private val payloadSchema = StructType.fromDDL("vec_id BIGINT, label INT, seq BIGINT")

  /** Payload update (Qdrant `set_payload` / Milvus partial update):
    * new label values land in `path/payload` as an appended delta
    * batch stamped with the next sequence number — vectors are never
    * re-encoded and the standing corpus is never rewritten (payload
    * changes must not cost a re-quantization). Reads overlay the
    * latest delta per id onto the stored label (broadcast join —
    * the delta set is bounded by compaction cadence, exactly like
    * tombstones); [[compact]] folds deltas into the rewritten files
    * and clears them. Latest-wins across batches by sequence number;
    * WITHIN a batch, conflicting updates to one vec_id collapse to
    * the last occurrence in the batch's partition-major row order
    * before the sequence number is stamped — one row per
    * (vec_id, seq) ever lands, so the cross-batch
    * `max_by(label, seq)` resolution is deterministic and reads agree
    * with post-compaction state across runs. The ordinal is
    * `monotonically_increasing_id` (partition index in the high bits:
    * the same total order the previous implementation produced by
    * concatenating the batch through one task, now computed with no
    * single-task stage). Per-key collapse and the delta write both
    * stay parallel; AQE coalesces the post-shuffle output so small
    * batches still land compactly.
    */
  def setPayload(spark: SparkSession, path: String, updates: DataFrame): Unit = {
    val live = IndexAlias.resolve(spark, path)
    // seq assignment is check-then-act: same-JVM writers serialize,
    // and a SECOND PROCESS is fenced by the writer lease — without
    // it, two drivers would read the same max seq and double-stamp
    // (see WriterLease / the README contract table)
    graft.sources.WriterLease.exclusive(spark, path) {
      val nextSeq = payloadDeltas(spark, live).fold(0L) { p =>
        p.agg(coalesce(max(col("seq")), lit(0L))).collect()(0).getLong(0) + 1L
      }
      updates.withColumn("__ord", monotonically_increasing_id())
        .select(col("vec_id").cast("long").as("vec_id"),
          col("label").cast("int").as("label"), col("__ord"))
        .groupBy(col("vec_id")).agg(max_by(col("label"), col("__ord")).as("label"))
        .withColumn("seq", lit(nextSeq))
        .write.mode("append").parquet(s"$live/payload")
      evict(live)
    }
  }

  private def payloadDeltas(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/payload")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.schema(payloadSchema).parquet(p.toString))
    else None
  }

  /** Overlay the latest payload delta per id onto the stored label. */
  private def withPayload(spark: SparkSession, path: String, v: DataFrame): DataFrame =
    payloadDeltas(spark, path).fold(v) { p =>
      val latest = p.groupBy(col("vec_id"))
        .agg(max_by(col("label"), col("seq")).as("__new_label"))
      v.join(broadcast(latest), Seq("vec_id"), "left")
        .withColumn("label", coalesce(col("__new_label"), col("label")))
        .drop("__new_label")
    }

  /** Point delete (Qdrant `delete` / Milvus `delete` by id): ids land
    * in the layout's [[Tombstones]] table — the standing corpus is NOT
    * rewritten (the delete costs |batch|, like append). Every search
    * family drops tombstoned ids at read ([[vectors]]); [[compact]]
    * applies tombstones physically and clears them.
    */
  def delete(spark: SparkSession, path: String, ids: Seq[Long]): Unit =
    graft.sources.WriterLease.exclusive(spark, path) {
      import spark.implicits._
      val live = IndexAlias.resolve(spark, path)
      Tombstones.append(live, ids.toDF("vec_id"))
      evict(live)
    }

  /** `primaryOnly = true` prunes to the `assign_rank=0` partitions —
    * the 1×-storage view every non-IVF family scans; IVF probes read
    * all ranks of their probed clusters. Tombstoned ids are dropped
    * here, so every family (including LSH, whose candidates rerank
    * through this scan) serves deletes immediately.
    */
  private def vectors(spark: SparkSession, path: String,
                      primaryOnly: Boolean = false): DataFrame = {
    val v0 = spark.read.schema(vectorsSchema).parquet(s"$path/vectors")
    val v = withPayload(spark, path, Tombstones.liveOnly(spark, path, "vec_id")(v0))
    if (primaryOnly) v.filter(col("assign_rank") === 0) else v
  }

  /** The probed-cluster id set for a query frame — at most nlist
    * ints, by construction, so collecting it is a bounded
    * planning-time step; compiled into a STATIC `cluster_id IN (...)`
    * predicate it prunes index partitions at the file listing, before
    * a single row is decoded (the explicit analogue of dynamic
    * partition pruning, provable in the plan).
    */
  private def probedClusterFilter(probes: DataFrame): Column = {
    val ids = probes.select(col("cluster_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    col("cluster_id").isin(scala.collection.immutable.ArraySeq.unsafeWrapArray(ids.map(_.asInstanceOf[Any])): _*)
  }

  /** Exact rerank of an id-only (q_id, vec_id) candidate pool against
    * the index's own full-precision floats: the pool broadcasts into
    * one pass over the `vectors/` scan (embedding column only), query
    * vectors re-attach by a second broadcast. Nothing wide shuffles.
    */
  private def rerankFromRest(spark: SparkSession, path: String, queries: DataFrame,
                             pool: DataFrame, score: (Column, Column) => Column,
                             metricAsc: Boolean, k: Int,
                             cached: Boolean = true): DataFrame = {
    // bounded top-k aggregate instead of a rank window: one exchange
    // of k-entry buffers, no per-task sort of the pool (the ascending
    // metrics ride through negation — exact for every finite double
    // and ±0.0; l2/ADC distances are never NaN, and the descending
    // cosine path keeps the window form's NaN-first total order)
    val aggScore = if (metricAsc) -col("score") else col("score")
    served(spark, path, "rerank", cached) {
      vectors(spark, path, primaryOnly = true).select(col("vec_id"), col("embedding"))
    }
      .join(broadcast(pool), "vec_id")
      .join(broadcast(queries.select(col("q_id"), col("q_emb"))), "q_id")
      .withColumn("score", round(score(col("q_emb"), col("embedding")), 6))
      .groupBy(col("q_id"))
      .agg(graft.functions.aggops.topKByScore(aggScore, col("vec_id"), k).as("__tk"))
      .select(col("q_id"), posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(col("q_id"), col("__e.vec_id").as("vec_id"),
        (col("__pos") + 1).cast("long").as("rn"),
        (if (metricAsc) -col("__e.score") else col("__e.score")).as("score"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** IVF search from rest: probe filter prunes index partitions at
    * the listing (both spill ranks of probed clusters), probed
    * vectors exact-score, spill copies collapse in one combinable
    * aggregate, top-k.
    */
  def searchIvf(spark: SparkSession, rawPath: String, queries: DataFrame,
                nprobe: Int = -1, k: Int = Ann.K,
                cached: Boolean = true): DataFrame = {
    val path = IndexAlias.resolve(spark, rawPath)
    val meta = readMeta(spark, path)
    val probes = Ann.probeFrame(queries, meta.centroids,
      resolveNProbe(meta, nprobe))
    Ann.dedupSpilledTopK(
      served(spark, path, "ivf", cached) {
        vectors(spark, path).select(col("vec_id"), col("embedding"), col("cluster_id"))
      }
        .filter(probedClusterFilter(probes))
        .join(broadcast(probes), "cluster_id"), k)
  }

  /** Flat PQ from rest: scores the reconstructions of the stored
    * M-byte codes, exact rerank of the top pool from the stored
    * floats. A flat scan meets every list, so no per-query ADC table
    * exists (each list's codes live in a different residual frame):
    * v̂ = Rᵀ·decode(codes) + c is reconstructed ONCE inside the served
    * view — the storage scan reads codes + cluster_id, never the
    * floats — and ranked by exact L2 against v̂ (what ADC
    * decomposes).
    *
    * Caveat: the served view MATERIALIZES the reconstructed
    * full-width floats in session memory and scores exact L2 per
    * (query, vector) — the in-memory footprint and per-pair compute
    * are float-width, not code-width. For corpora too large to pin,
    * prefer [[searchIvfPq]] (per-list ADC keeps both narrow) or pass
    * `cached = false` to trade recompute for memory.
    */
  def searchPq(spark: SparkSession, rawPath: String, queries: DataFrame,
               k: Int = Quantization.K,
               pool: Int = -1,
               cached: Boolean = true): DataFrame = {
    val path = IndexAlias.resolve(spark, rawPath)
    val meta = readMeta(spark, path)
    val scored = served(spark, path, "pqrecon", cached) {
      // codes decode in the rotated frame; Rᵀ (orthogonal inverse)
      // carries ŷ back before the centroid re-centers it
      val decoded = Quantization.pqReconstruct(col("pq_codes"), meta.codebooks)
      val residHat = graft.functions.matrixops.matVec(decoded, meta.rotation.transpose)
      vectors(spark, path, primaryOnly = true)
        .select(col("vec_id"), col("cluster_id"), col("pq_codes"))
        .withColumn("recon", zip_with(
          residHat,
          element_at(typedLit(meta.centroids), col("cluster_id") + 1),
          (r, c) => r + c))
        .select(col("vec_id"), col("recon"))
    }
      .crossJoin(broadcast(queries.select(col("q_id"), col("q_emb"))))
      .select(col("q_id"), col("vec_id"),
        vec.l2(col("q_emb"), col("recon")).as("adc_dist"))
    // pool selection as a bounded aggregate (membership identical to
    // the arn window: adc asc ≡ -adc desc, vec_id tiebreak; ADC
    // distances are finite so negation is exact) — nothing sorts the
    // corpus × query ADC frame, and the only exchange carries
    // pool-entry buffers
    val cand = scored
      .groupBy(col("q_id"))
      .agg(graft.functions.aggops.topKByScore(-col("adc_dist"), col("vec_id"),
        resolvePool(meta, pool)).as("__tk"))
      .select(col("q_id"),
        explode(expr("transform(__tk, x -> x.vec_id)")).as("vec_id"))
    rerankFromRest(spark, path, queries, cand, vec.l2(_, _), metricAsc = true, k, cached)
  }

  /** The IVF_PQ candidate scoring shared by serving and pool
    * calibration: partition-pruned code scan of probed lists,
    * per-(query, probed-list) ADC, spill copies collapsed in a
    * combinable min BEFORE any ranking (copies must never occupy
    * pool slots; min, because copies carry per-list codes). Returns
    * (q_id, vec_id, adc_dist).
    */
  private def ivfPqScored(spark: SparkSession, path: String, meta: Meta,
                          queries: DataFrame, nprobe: Int,
                          cached: Boolean): DataFrame = {
    // the ADC table is built per (query, probed list) on q − c — it
    // then scores ||(q−c) − r̂||² = ||q − v̂||² against that list's
    // residual codes (the FAISS IVF_PQ serve shape); the probe frame
    // already carries one row per (query, cluster), so the table
    // lands exactly where its list's candidates join
    val qResid = zip_with(col("q_emb"),
      element_at(typedLit(meta.centroids), col("cluster_id") + 1),
      (q, c) => q - c)
    // OPQ: rotate the query residual into the codes' frame — R is
    // orthogonal, so rotated ADC distances ARE true residual distances
    val qSide = graft.functions.matrixops.matVec(qResid, meta.rotation)
    val probes = Ann.probeFrame(queries, meta.centroids, nprobe)
      .withColumn("adc",
        Quantization.adcTable(qSide, meta.codebooks, absolute = true))
    served(spark, path, "ivfpq", cached) {
      vectors(spark, path).select(col("vec_id"), col("pq_codes"), col("cluster_id"))
    }
      .filter(probedClusterFilter(probes))
      .join(broadcast(probes.select(col("q_id"), col("adc"), col("cluster_id"))), "cluster_id")
      .select(col("q_id"), col("vec_id"), Quantization.adcDist.as("adc_dist"))
      .groupBy(col("q_id"), col("vec_id")).agg(min(col("adc_dist")).as("adc_dist"))
  }

  /** IVF_PQ from rest — partition pruning × code-width pruning
    * compose: the scan reads codes only, and only for probed
    * partitions.
    */
  def searchIvfPq(spark: SparkSession, rawPath: String, queries: DataFrame,
                  nprobe: Int = -1, k: Int = Quantization.K,
                  pool: Int = -1,
                  cached: Boolean = true): DataFrame = {
    val path = IndexAlias.resolve(spark, rawPath)
    val meta = readMeta(spark, path)
    // pool selection as a bounded aggregate — see searchPq's note
    val cand = ivfPqScored(spark, path, meta, queries,
        resolveNProbe(meta, nprobe), cached)
      .groupBy(col("q_id"))
      .agg(graft.functions.aggops.topKByScore(-col("adc_dist"), col("vec_id"),
        resolvePool(meta, pool)).as("__tk"))
      .select(col("q_id"),
        explode(expr("transform(__tk, x -> x.vec_id)")).as("vec_id"))
    rerankFromRest(spark, path, queries, cand, vec.l2(_, _), metricAsc = true, k, cached)
  }

  /** Filtered ANN from rest with the Qdrant-style strategy switch:
    * estimate the payload filter's cardinality on the primary-copy
    * view (at scale, partition statistics when the filter hits the
    * payload-index partition columns), then —
    *  - SELECTIVE (≤ `bruteForceLimit` rows): exact-score the
    *    filtered subset, recall 1.0, cheaper than probing;
    *  - BROAD: spilled IVF probe with the filter applied to probed
    *    candidates — the scan still prunes to probed partitions.
    * Returns the chosen plan's name with the result.
    */
  def searchIvfFiltered(spark: SparkSession, rawPath: String, queries: DataFrame,
                        filter: Column, bruteForceLimit: Long,
                        nprobe: Int = -1, k: Int = Ann.K,
                        cached: Boolean = true): (String, DataFrame) = {
    val path = IndexAlias.resolve(spark, rawPath)
    val base = served(spark, path, "filt", cached) {
      vectors(spark, path).select(col("vec_id"), col("embedding"),
        col("label"), col("cluster_id"), col("assign_rank"))
    }
    val matching = base.filter(col("assign_rank") === 0).filter(filter)
    val cardinality = matching.count()
    if (cardinality <= bruteForceLimit)
      ("brute_force", Ann.presentTopK(
        matching.crossJoin(broadcast(queries)), k))
    else {
      val fMeta = readMeta(spark, path)
      val probes = Ann.probeFrame(queries, fMeta.centroids,
        resolveNProbe(fMeta, nprobe))
      ("ivf_probe", Ann.dedupSpilledTopK(
        base
          .filter(filter)
          .filter(probedClusterFilter(probes))
          .join(broadcast(probes), "cluster_id"), k))
    }
  }

  /** SQ8 from rest: cosine top-k over dequantized stored codes — the
    * scan reads the int8 codes + two doubles per vector, 1/4 the
    * bytes of the float corpus; the floats are never touched.
    */
  def searchSq8(spark: SparkSession, rawPath: String, queries: DataFrame,
                k: Int = Quantization.K, cached: Boolean = true): DataFrame = {
    val path = IndexAlias.resolve(spark, rawPath)
    // the dequantized floats are materialized INSIDE the served view:
    // the interpreted HOF decode runs once per vector per session, and
    // the checkpoint is a projection-collapse barrier, so it can never
    // be inlined into the per-(query, vector) scoring expression.
    // Top-k as a bounded aggregate (one exchange of k-entry buffers,
    // nothing sorts the corpus × query frame); no spill copies on the
    // primary-only scan, so no dedup step is needed.
    served(spark, path, "sq8", cached) {
      vectors(spark, path, primaryOnly = true)
        .select(col("vec_id"), col("sq8"), col("sq8_min"), col("sq8_scale"))
        .withColumn("demb", Quantization.dequantized())
        .select(col("vec_id"), col("demb"))
    }
      .crossJoin(broadcast(queries.select(col("q_id"), col("q_emb"))))
      .withColumn("score", round(vec.cosine(col("q_emb"), col("demb")), 6))
      .groupBy(col("q_id"))
      .agg(graft.functions.aggops.topKByScore(col("score"), col("vec_id"), k).as("__tk"))
      .select(col("q_id"), posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(col("q_id"), col("__e.vec_id").as("vec_id"),
        (col("__pos") + 1).cast("long").as("rn"), col("__e.score").as("score"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** BQ from rest: Hamming prefilter on the stored sign words (8
    * bytes per vector read), exact rerank from the stored floats.
    * The query side hashes sign(q − μ) with the SAME persisted μ the
    * stored words used. The
    * default pool is the build-calibrated `default_bq_pool`
    * (calibration rung 3) when the layout carries one — the constant
    * [[Quantization.BqPool]] served 0.641 recall at the aniso sf100
    * corpus where the calibrated quantile holds the target; explicit
    * `pool > 0` overrides.
    */
  def searchBq(spark: SparkSession, rawPath: String, queries: DataFrame,
               k: Int = Quantization.K, pool: Int = -1,
               cached: Boolean = true): DataFrame = {
    val path = IndexAlias.resolve(spark, rawPath)
    val meta = readMeta(spark, path)
    val servedPool =
      if (pool > 0) pool else meta.defaultBqPool.getOrElse(Quantization.BqPool)
    val q = queries.select(col("q_id"),
      Quantization.bqWord(centered(col("q_emb"), meta.bqMean)).as("qw"))
    // Hamming pool as a bounded aggregate (hamming asc ≡ -hamming
    // desc on exact small integers; tie by vec_id matches the former
    // hrn window) — the corpus × query Hamming frame is never sorted
    val cand = served(spark, path, "bq", cached) {
      vectors(spark, path, primaryOnly = true)
        .select(col("vec_id"), col("bq_word"))
    }
      .crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        bit_count(col("bq_word").bitwiseXOR(col("qw"))).as("hamming"))
      .groupBy(col("q_id"))
      .agg(graft.functions.aggops.topKByScore(
        -col("hamming").cast("double"), col("vec_id"), servedPool).as("__tk"))
      .select(col("q_id"),
        explode(expr("transform(__tk, x -> x.vec_id)")).as("vec_id"))
    rerankFromRest(spark, path, queries, cand, vec.cosine(_, _), metricAsc = false, k, cached)
  }

  /** LSH from rest: query band keys probe the persisted signature
    * postings (id-only rows), candidates exact-rerank from the stored
    * floats. The standing corpus is never re-hashed — new batches
    * fold in via [[append]], the same incremental contract as the
    * MinHash dedup index.
    */
  def searchLsh(spark: SparkSession, rawPath: String, queries: DataFrame,
                k: Int = Ann.K, cached: Boolean = true): DataFrame = {
    val path = IndexAlias.resolve(spark, rawPath)
    val meta = readMeta(spark, path)
    val queryB = queries
      .select(col("q_id"), lshKeysOf(meta, col("q_emb")).as("bk"))
      .select(col("q_id"), col("bk.band_id").as("band_id"), col("bk.bucket").as("bucket"))
    val cand = served(spark, path, "lsh", cached) {
      spark.read.schema(lshSchema).parquet(s"$path/lsh")
    }
      .join(broadcast(queryB), Seq("band_id", "bucket"))
      .select(col("q_id"), col("vec_id"))
      .dropDuplicates("q_id", "vec_id")
    rerankFromRest(spark, path, queries, cand, vec.cosine(_, _), metricAsc = false, k, cached)
  }

  /** Compact the index's small-file tail (the Qdrant segment
    * optimizer role for the vector layout): continuous
    * [[append]]/[[graft.streaming.VectorIndexStream]] ingest leaves
    * per-batch files in every partition directory, and at 100 TB scan
    * task count and footer overhead are governed by file count, not
    * bytes. Rewrites `vectors/` and `lsh/` with `targetFileBytes`-
    * sized files per partition, applying pending tombstones and
    * payload deltas (the delta-merge step of Milvus/Qdrant segment
    * maintenance) and clearing them; `meta/` is untouched (compaction
    * never re-encodes). A rotating home gets the folded layout as its
    * next generation; a concrete path is rewritten in place through
    * [[graft.sources.LayoutRewrite]] — a crash at any point leaves a
    * layout that, once the next writer's lease recovers it, reads
    * exactly as before or exactly as after the compaction. Returns
    * parquet file counts (before, after).
    */
  def compact(spark: SparkSession, rawPath: String,
              targetFileBytes: Long = 128L << 20): (Long, Long) =
   graft.sources.WriterLease.exclusive(spark, rawPath) {
    import org.apache.hadoop.fs.Path
    val path = IndexAlias.resolve(spark, rawPath)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def countFiles(p: String): Long =
      Seq("vectors", "lsh").map(t => graft.sources.LayoutRewrite.parquetFiles(fs, new Path(p, t))).sum
    val alive = Tombstones.liveOnly(spark, path, "vec_id")
    def table(sub: String, schema: StructType, partCols: Seq[String],
              mergePayload: Boolean) = graft.sources.LayoutRewrite.Table(sub, out => {
      val live = s"$path/$sub"
      val bytes = fs.getContentSummary(new Path(live)).getLength
      val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val base = alive(spark.read.schema(schema).parquet(live))
      (if (mergePayload) withPayload(spark, path, base) else base)
        .repartition(nFiles, partCols.map(col): _*)
        .write.partitionBy(partCols: _*).parquet(out)
    })
    val before = countFiles(path)
    val now = graft.sources.LayoutRewrite.rewrite(spark, rawPath,
      Seq(table("vectors", vectorsSchema, Seq("cluster_id", "assign_rank"), mergePayload = true),
        table("lsh", lshSchema, Seq("band_id"), mergePayload = false)),
      debt = Seq(Tombstones.Table, "payload"), copy = Seq("meta"))
    Seq(path, now).distinct.foreach(evict)
    (before, countFiles(now))
   }

  /** Index health — see [[graft.sources.IndexStats]]: files/bytes per
    * layout table, generation count, pending tombstone/payload-delta
    * debt, and the last compaction time. The debt rows are the
    * numbers a `compact` (fold debt in place) vs `retrain`/rotate
    * (rebuild aside) decision reads; both debt tables are bounded by
    * compaction cadence, so counting them is delta-scan cost, never a
    * corpus scan.
    */
  def stats(spark: SparkSession, rawPath: String): DataFrame = {
    val live = IndexAlias.resolve(spark, rawPath)
    val debt = Map(
      Tombstones.Table -> Tombstones.pending(spark, live, "vec_id"),
      "payload" -> payloadDeltas(spark, live).fold(0L)(_.count()))
    graft.sources.IndexStats.build(spark, "vector", rawPath, LayoutTables, debt)
  }

  /** Session-scoped at-rest index per corpus dir (built once at first
    * use through [[buildFrom]] — the ingest-time artifact all six
    * search families then serve from).
    */
  def sessionIndexPath(spark: SparkSession, sfDir: String): String =
    IndexCache.sessionLayout(spark, "vecindex", sfDir)(
      buildFrom(spark, Tables.embeddings(spark, sfDir), _))
}
