package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-slope harness for the heavy tail (SURVEY §6): runs the ten
  * most expensive operators at the base SF and at an N×-replicated
  * corpus, and reports the per-query wall-clock ratio. A sound
  * postings/bucketed design should grow ≤~linearly in bytes; any
  * super-linear line here is a 100 TB scale bug even if sf0.1 timing
  * looks fine.
  *
  * The replicated corpus is built from the driver's own
  * documents.parquet — it is NOT new synthetic data, but N shifted
  * copies of the real table:
  *   - doc_id offset per replica (r * 1e10 — each replica's whole id
  *     band, INCLUDING the 1e9/2e9 injected-duplicate offsets that
  *     `Dedup.augmentedDocs` adds at query time, stays disjoint from
  *     every other replica's band even at 100 replicas; the previous
  *     r * 1e8 offset collided with the injection offsets at r >= 10);
  *   - text Caesar-rotated per replica (a `translate` over the two
  *     alphabets), so char/word/token statistics are byte-for-byte
  *     preserved while cross-replica shingle sets stay disjoint —
  *     duplicate DENSITY stays organic instead of every doc gaining
  *     N-1 identical twins (which would inflate the dedup operators'
  *     group sizes quadratically and measure a workload nobody runs).
  *
  * PROTOCOL CONTRACT for ≥100× runs (see README "Slope-measurement
  * protocol"): one fresh JVM per query group (split the list via
  * `SPARK_GRAFT_SLOPE_QUERIES` across invocations) — dead shuffle
  * files of finished queries outlive the default periodic-GC interval
  * and exhaust local disk at 100×-corpus shuffle sizes; this harness
  * additionally sets `periodicGC.interval=1min` and kicks
  * `System.gc()` between timed queries, outside the timed window.
  * Pre-built corpora (organic/heaps) go through
  * `SPARK_GRAFT_SLOPE_SCALED_DIR`.
  */
object SlopeBench {

  /** The heavy tail named by the round-4 audit, plus the two
    * operators round 5 added into the same cost tier.
    */
  val Heavy: Seq[String] = Seq(
    "q_dup_clusters", "q_dedup_ngram", "q_dedup_minhash",
    "q_dedup_simhash", "q_contamination", "q_cooccur_pmi",
    "q_boilerplate", "q_bpe_pairs", "q_media_knn", "q_significant_text",
    "q_dedup_substring", "q_frequent_item_sets",
    "q_dedup_embedding", "q_dedup_embedding_lsh")

  /** Slope-only operators (not SparkEntry entries): the fixed-query
    * media kNN isolates the OPERATOR's corpus slope from the
    * registered entry's grows-with-corpus query set (queries pinned
    * to base-replica ids, which every scaled corpus contains).
    */
  val SlopeOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_media_knn_fixedq" -> ((s, dir) => operators.Multimodal.mediaKnn(s, dir,
      col("doc_id") % 100 === 0 && col("doc_id") < 100000000L)),
    // listed here (same fn as the registered entry) so a slope run
    // selecting it replicates only the documents table, not the full
    // star schema — it reads nothing else
    "q_media_near_dup_auto" -> ((s, dir) =>
      operators.Multimodal.qMediaNearDupAuto(s, dir)),
    // SHADOWS the registered entry on purpose: q_dup_clusters serves
    // consumers from a session-materialized frame (the production
    // shape), which would make every slope pass after the first a
    // cached read — min-of-two would then compare cache hits, not the
    // resolution. The slope harness times the UNCACHED resolver.
    "q_dup_clusters" -> ((s, dir) =>
      operators.Dedup.resolveDupClusters(s, dir).orderBy(col("doc_id"))),
    // the PRODUCTION configuration of embedding near-dup (high
    // threshold, wide bands): the registered entry's (4-bit, 0.35)
    // setting is tuned to the synthetic corpus's low near band and
    // its 16-bucket bands saturate at scale by design — this is the
    // shape a real pipeline's slope follows
    "q_dedup_embedding_hi" -> ((s, dir) => {
      val e = graft.Tables.embeddings(s, dir)
      operators.Dedup.embeddingNearDupPairs(
        e.select(col("vec_id"), col("embedding"), col("label"))
          .unionByName(e.filter(col("vec_id") % 25 === 0)
            .select((col("vec_id") + 1000000000L).as("vec_id"),
              col("embedding"), col("label"))),
        threshold = 0.9, bitsPerBand = 8, tables = 16)
    }),
    // the banding chosen FROM the corpus (r from occupancy, b from
    // the recall target) — the configuration whose candidate mass
    // stays linear across decades, measured instead of argued; the
    // crossover at 0 keeps it on the LSH path so the slope isolates
    // the adaptive banding from the crossover switch
    "q_dedup_embedding_adaptive" -> ((s, dir) =>
      operators.Dedup.embeddingNearDupAuto(augEmb(s, dir), threshold = 0.9,
        lshCrossover = 0.0)),
    // the exact blocked scorer at the same threshold — the other arm
    // of the crossover, measured so LshCrossoverAvgBlock is a number
    // from an artifact rather than an argument
    "q_dedup_embedding_exact_hi" -> ((s, dir) =>
      operators.Dedup.embeddingNearDupExact(augEmb(s, dir), threshold = 0.9)),
    // the production verb itself (crossover + adaptive banding):
    // exact below the measured tie, LSH above — its slope is the one
    // a user's maintenance loop actually experiences
    "q_dedup_embedding_auto" -> ((s, dir) =>
      operators.Dedup.embeddingNearDupAuto(augEmb(s, dir), threshold = 0.9)),
    // the same verb at the threshold a CONCENTRATED (anisotropic)
    // cloud calls near-duplicate: its noise floor sits near cosine
    // 0.95 (random pairs average ~0.84), so 0.9 measures a dense
    // noise relation there while 0.98 isolates true near-dup mass —
    // the aniso slope artifact's arm
    "q_dedup_embedding_auto_98" -> ((s, dir) =>
      operators.Dedup.embeddingNearDupAuto(augEmb(s, dir), threshold = 0.98)),
    // fixed-query twins of the two remaining growing-query-set
    // entries (queries pinned to the base-replica id band, which
    // every scaled corpus contains) — same rationale as
    // q_media_knn_fixedq: the registered entries' work grows as
    // queries × corpus BY BENCHMARK CONSTRUCTION, so their corpus
    // slope needs the query set held still
    "q_maxsim_fixedq" -> ((s, dir) => {
      val vs = operators.VectorSearch
      vs.collection(s, dir).searchMaxsim(
        vs.querySet(s, dir).filter(col("q_id") < 10000000000L),
        vs.K, vs.MaxsimSubs, vs.MaxsimDim)
    }),
    "q_where_document_fixedq" -> ((s, dir) => {
      // the scaled corpora Caesar-rotate each replica's text, so a
      // single needle would match only replica 0 (a constant-size
      // result fakes a flat slope); the rotation-closed needle set
      // keeps the filter's SELECTIVITY what the base corpus has
      val needles = (0 until 26).map(r =>
        "vector".map(c => ((c - 'a' + r) % 26 + 'a').toChar))
      val matching = Tables.documents(s, dir)
        .filter(col("text").rlike(needles.mkString("|")))
        .select(col("doc_id").as("vec_id"))
      val corpus = Tables.embeddings(s, dir).join(matching, "vec_id")
      val qs = operators.VectorSearch.querySet(s, dir)
        .filter(col("q_id") < 10000000000L)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
      corpus.crossJoin(broadcast(qs))
        .withColumn("score",
          round(graft.functions.vec.cosine(col("q_emb"), col("embedding")), 6))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= operators.VectorSearch.K)
        .select(col("q_id"), col("vec_id"), col("rn"), col("score"))
    }))

  private def augEmb(s: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.embeddings(s, dir)
    e.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(e.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 1000000000L).as("vec_id"),
          col("embedding"), col("label")))
  }

  private val Lower = ('a' to 'z').mkString
  private val Upper = ('A' to 'Z').mkString
  private def rot(s: String, r: Int) = s.drop(r % 26) + s.take(r % 26)

  /** Replicates the base documents table `factor`× into
    * `outDir/documents.parquet` (skipped if already present).
    */
  def buildScaled(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int): Unit = {
    val marker = new java.io.File(s"$outDir/documents.parquet/_SUCCESS")
    if (marker.exists()) return
    val d = Tables.documents(spark, baseDir)
    val replicas = (0 until factor).map { r =>
      d.select(
        (col("doc_id") + lit(r.toLong * 10000000000L)).as("doc_id"),
        translate(col("text"), Lower + Upper,
          rot(Lower, r) + rot(Upper, r)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    replicas.reduce(_.unionByName(_))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** Replicates the base embeddings table `factor`× into
    * `outDir/embeddings.parquet` (skipped if already present):
    * vec_id offset per replica, and a per-replica SEEDED COMPONENT
    * PERMUTATION + SIGN PATTERN — a distance-preserving orthogonal
    * map, so each replica keeps the base table's exact intra-replica
    * geometry (cluster balance, code distribution, organic near-dup
    * density) while CROSS-replica cosines collapse to ~N(0, 1/dim) ≈
    * noise. This is the Caesar-rotation principle of [[buildScaled]]
    * applied to vectors: the earlier small additive shift left
    * cross-replica copies near-PARALLEL, which handed every vector
    * factor−1 artificial sim≈1 twins — quadratic true-pair mass at
    * high thresholds, a workload nobody runs (measured: the
    * corpus-adaptive near-dup ran 136× at a 100× corpus before this
    * fix, 'linear plus banding growth' after). A tiny per-replica
    * shift stays on top so exact copies remain distinct.
    */
  def buildScaledEmbeddings(spark: SparkSession, baseDir: String,
      outDir: String, factor: Int): Unit = {
    val marker = new java.io.File(s"$outDir/embeddings.parquet/_SUCCESS")
    if (marker.exists()) return
    val e = Tables.embeddings(spark, baseDir)
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val replicas = (0 until factor).map { r =>
      val rnd = new scala.util.Random(1000 + r)
      val perm = rnd.shuffle((0 until dim).toVector)
      val sign = Vector.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
      val mapped =
        if (r == 0) col("embedding") // replica 0 IS the base table
        else array((0 until dim).map(i =>
          (element_at(col("embedding"), perm(i) + 1) * lit(sign(i)) +
            lit(r * 0.001f)).cast("float")): _*)
      e.select(
        (col("vec_id") + lit(r.toLong * 10000000000L)).as("vec_id"),
        mapped.as("embedding"),
        col("label"))
    }
    replicas.reduce(_.unionByName(_))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** The standing-index BUILD paths (the ingest side of the slope
    * story): name -> build action against a corpus dir, writing to a
    * throwaway path. Query slopes alone would miss a super-linear
    * ingest (e.g. a train step that re-reads the corpus per subspace).
    */
  def builds(spark: SparkSession): Seq[(String, String => Unit)] = Seq(
    "vector_index_build" -> { dir: String =>
      operators.VectorIndex.buildFrom(spark, Tables.embeddings(spark, dir),
        s"target/slope/bench-vidx"); () },
    "text_index_build" -> { dir: String =>
      api.TextIndex.write(Tables.documents(spark, dir), s"target/slope/bench-tidx"); () },
    "minhash_index_build" -> { dir: String =>
      operators.Dedup.writeMinhashIndex(Tables.documents(spark, dir),
        s"target/slope/bench-midx"); () },
    "cluster_index_build" -> { dir: String =>
      operators.Dedup.writeClusterIndex(Tables.documents(spark, dir),
        s"target/slope/bench-cidx"); () },
    // append a FIXED 1000-doc batch (id-shifted base docs) into the
    // index the build step just left behind: its ratio across scales
    // is the standing-corpus sensitivity of one crawl fold — the
    // number that decides whether incremental clustering beats
    // re-resolution at 100 TB
    "cluster_index_append" -> { dir: String =>
      operators.Dedup.appendToClusterIndex(
        Tables.documents(spark, dir)
          .orderBy(col("doc_id")).limit(1000)
          .select((col("doc_id") + 900000000000L).as("doc_id"), col("text")),
        s"target/slope/bench-cidx"); () })

  /** Replicates the ENTIRE star schema `factor`× into `outDir` — the
    * sf1-class corpus for the full-suite bench (the driver ships
    * sf ≤ 0.1; everything above is replication of its own tables,
    * same discipline as the heavy-family slope corpora). Foreign
    * keys are offset CONSISTENTLY per replica (one id band per
    * replica, the band constant shared with [[buildScaled]]), so
    * every join degree and selectivity stays what it was — result
    * sizes scale linearly, never quadratically. Dimension tables
    * (region, nation) are fixed by the schema and copied as-is;
    * event timestamps keep their range, so time windows densify
    * `factor`× — the load pattern a real `factor`×-traffic deployment
    * has. Text/embedding tables reuse the shifted replication of the
    * slope harness.
    */
  def buildScaledAll(spark: SparkSession, baseDir: String, outDir: String,
                     factor: Int): Unit = {
    val Band = 10000000000L
    def replicate(table: String, keyCols: Seq[String]): Unit = {
      val marker = new java.io.File(s"$outDir/$table.parquet/_SUCCESS")
      if (marker.exists()) return
      val base = if (table == "events") Tables.events(spark, baseDir)
        else Tables.load(spark, baseDir, table)
      val replicas = (0 until factor).map { r =>
        keyCols.foldLeft(base) { (d, k) =>
          d.withColumn(k, col(k) + lit(r.toLong * Band))
        }
      }
      replicas.reduce(_.unionByName(_))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
    def copy(table: String): Unit = {
      val marker = new java.io.File(s"$outDir/$table.parquet/_SUCCESS")
      if (!marker.exists())
        Tables.load(spark, baseDir, table)
          .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
    copy("region"); copy("nation")
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    buildScaled(spark, baseDir, outDir, factor)
    buildScaledEmbeddings(spark, baseDir, outDir, factor)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    // SPARK_GRAFT_SLOPE_SCALED_DIR points the scaled arm at a
    // PRE-BUILT corpus (e.g. graft.OrganicCorpus output) instead of
    // replicating baseDir — the organic-decade measurement: both
    // arms independently generated, no replication anywhere
    val scaledOverride = sys.env.get("SPARK_GRAFT_SLOPE_SCALED_DIR")
    val scaledDir = scaledOverride.getOrElse(
      s"target/slope/${new java.io.File(baseDir).getName}x$factor")
    // drain dead shuffle files promptly (see the System.gc() note
    // in time()) — the 30 min default outlives a whole slope run
    val spark = GraftSession(conf = Seq("spark.cleaner.periodicGC.interval" -> "1min"))

    // subset knobs for the targeted high-factor runs (e.g. 100× on
    // the two operators whose 10× ratios crowd the linear bar):
    // replicating embeddings or timing index builds at 100× would
    // dominate the run without informing the question being asked
    // ANY registered entry can be slope-measured, not just the heavy
    // family: the x10 full-suite runs rank a next tier (q_maxsim,
    // q_eql_sequence, q3_join, ...) that 10× alone can't separate
    // from fixed costs — those need this harness at 100×
    val known = Heavy ++ SlopeOnly.keys ++ SparkEntry.queries.keys
    val selected = sys.env.get("SPARK_GRAFT_SLOPE_QUERIES")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Heavy)
    require(selected.forall(known.contains),
      s"unknown slope queries: ${selected.filterNot(known.contains)}")
    // the heavy family reads only documents/embeddings; anything
    // else may touch the star schema — replicate the whole corpus
    val needsFull = selected.exists(n =>
      !Heavy.contains(n) && !SlopeOnly.contains(n))
    // "1" = all builds, "0" = none, else a comma list of build names
    val buildSel = sys.env.getOrElse("SPARK_GRAFT_SLOPE_BUILDS", "1")
    def buildChosen(name: String): Boolean = buildSel match {
      case "1" => true
      case "0" => false
      case list => list.split(',').map(_.trim).contains(name)
    }
    val withBuilds = buildSel != "0"
    val needsEmbeddings = buildChosen("vector_index_build") ||
      selected.exists(n => n.startsWith("q_media_knn") ||
        n.startsWith("q_dedup_embedding"))

    if (scaledOverride.isEmpty) {
      if (needsFull) buildScaledAll(spark, baseDir, scaledDir, factor)
      else {
        buildScaled(spark, baseDir, scaledDir, factor)
        if (needsEmbeddings) buildScaledEmbeddings(spark, baseDir, scaledDir, factor)
      }
    }

    def fnOf(n: String) = SlopeOnly.getOrElse(n, SparkEntry.queries(n))
    val qs = selected.map(n => n -> fnOf(n))
    def time(dir: String, name: String): Double = {
      val fn = fnOf(name)
      System.err.println(s"[slope] $name @ $dir")
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      // shuffle files of a finished query live until ContextCleaner
      // GCs their dependencies (periodicGC defaults to 30 min) — at
      // a 100× corpus the heavy queries write tens of GB of shuffle
      // each, and two passes × several queries of DEAD shuffle files
      // exhaust local disk before the timer ever misses. Kick the GC
      // between timed queries (outside the timed window), exactly
      // the hygiene a long-lived cluster session gets from its
      // periodic cleaner.
      System.gc()
      dt
    }
    // two passes per scale, min-of-two (same rationale as Bench)
    def pass(dir: String): Map[String, Double] =
      qs.map { case (n, _) => n -> time(dir, n) }.toMap
    val base = { val a = pass(baseDir); val b = pass(baseDir)
      selected.map(n => n -> math.min(a(n), b(n))).toMap }
    val big = { val a = pass(scaledDir); val b = pass(scaledDir)
      selected.map(n => n -> math.min(a(n), b(n))).toMap }

    // index-build slope: one timed pass per scale after a JVM/IO
    // warm-up build at base (builds are minutes-scale at 10×; the
    // warm-up removes the one-off classload/codegen cost the queries'
    // min-of-two would have shielded)
    val bs = if (withBuilds) builds(spark).filter(b => buildChosen(b._1)) else Nil
    bs.foreach { case (_, run) => run(baseDir) }
    def timeBuild(run: String => Unit, dir: String): Double = {
      val t0 = System.nanoTime(); run(dir); (System.nanoTime() - t0) / 1e9
    }
    // SPARK_GRAFT_SLOPE_IVF_SEARCH=1: time the at-rest IVF search
    // (fixed ~500-query batch, min-of-two, uncached so every pass
    // pays the real probed-partition scan) against the index the
    // build step just wrote, at BOTH scales. This is the wall-clock
    // twin of the adaptive-geometry claim: probed rows grow ~√n·const
    // under nlistFor/nprobeFor, so the search ratio across a 100×
    // corpus should sit near √100 = 10, not 100 (a fixed geometry
    // scans a constant FRACTION and rides the corpus slope).
    val timeIvfSearch = sys.env.get("SPARK_GRAFT_SLOPE_IVF_SEARCH").contains("1") &&
      bs.exists(_._1 == "vector_index_build")
    def ivfSearchTime(dir: String): Double = {
      val emb = Tables.embeddings(spark, dir)
      val mod = math.max(1L, emb.count() / 500)
      val queries = emb.filter(col("vec_id") % mod === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        .localCheckpoint()
      def once(): Double = {
        val t0 = System.nanoTime()
        operators.VectorIndex.searchIvf(spark, "target/slope/bench-vidx",
          queries, cached = false).count()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm-up (classload/codegen)
      val t = math.min(once(), once())
      System.gc()
      t
    }
    val buildBase = bs.map { case (n, run) => n -> timeBuild(run, baseDir) }.toMap
    val searchBase = if (timeIvfSearch) Some(ivfSearchTime(baseDir)) else None
    val buildBig = bs.map { case (n, run) => n -> timeBuild(run, scaledDir) }.toMap
    val searchBig = if (timeIvfSearch) Some(ivfSearchTime(scaledDir)) else None
    val ivfSearch = (searchBase, searchBig) match {
      case (Some(b), Some(s)) =>
        f""","ivf_search":{"base_s":$b%.3f,"scaled_s":$s%.3f,"ratio":${s / math.max(b, 1e-9)}%.2f}"""
      case _ => ""
    }

    // SPARK_GRAFT_SLOPE_IVF_RECALL=1: after the scaled
    // vector_index_build, measure recall@10 at the default probe
    // budget plus the cluster-occupancy skew (max/mean) on the SCALED
    // corpus — the numbers that decide whether the geometry policy
    // survives a non-uniform (e.g. anisotropic) embedding cloud, not
    // just the wall clock. Queries are a fixed 1/1000 sample so the
    // exact ground truth stays tractable at sf10.
    val ivfQuality =
      if (sys.env.get("SPARK_GRAFT_SLOPE_IVF_RECALL").contains("1") &&
          bs.exists(_._1 == "vector_index_build")) {
        // query sample density: 1/mod of the corpus. The default
        // keeps the EXACT ground-truth scan tractable at sf10; a
        // 100× run passes a larger mod so queries×corpus stays
        // constant-ish (the recall estimate needs hundreds of
        // queries, not a fixed fraction).
        val qMod = sys.env.getOrElse("SPARK_GRAFT_SLOPE_RECALL_MOD", "1000").toLong
        val emb = Tables.embeddings(spark, scaledDir)
        val queries = emb.filter(col("vec_id") % qMod === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("label").as("q_label"))
        val exact = api.VectorCollection(emb, idCol = "vec_id")
          .search(queries, 10, api.Metric.Cosine)
        val approx = operators.VectorIndex.searchIvf(spark,
          "target/slope/bench-vidx", queries)
        val rec = api.ScaleOps.recallAtK(exact, approx)
          .agg(avg(col("recall"))).head.getDouble(0)
        val sizes = spark.read.parquet("target/slope/bench-vidx/vectors")
          .filter(col("assign_rank") === 0) // primary assignment only
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
          .agg(max(col("n")).cast("double").as("mx"), avg(col("n")).as("mean")).head()
        val skew = sizes.getDouble(0) / sizes.getDouble(1)
        f""","ivf_recall_scaled":$rec%.4f,"ivf_max_over_mean":$skew%.2f"""
      } else ""

    def jstr(s: String) = "\"" + s + "\""
    val lines = selected.map { n =>
      val ratio = big(n) / math.max(base(n), 1e-9)
      f"""${jstr(n)}:{"base_s":${base(n)}%.3f,"scaled_s":${big(n)}%.3f,"ratio":$ratio%.2f}"""
    }
    val buildLines = bs.map { case (n, _) =>
      val ratio = buildBig(n) / math.max(buildBase(n), 1e-9)
      f"""${jstr(n)}:{"base_s":${buildBase(n)}%.3f,"scaled_s":${buildBig(n)}%.3f,"ratio":$ratio%.2f}"""
    }
    val json = s"""{"metric":"slope","factor":$factor,"base":"$baseDir",""" +
      s""""scaled":"$scaledDir","queries":{${lines.mkString(",")}},""" +
      s""""builds":{${buildLines.mkString(",")}}$ivfSearch$ivfQuality}"""
    println(json)
    val out = new java.io.File(s"target/slope_x$factor.json")
    out.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(json) finally w.close()
    spark.stop()
  }
}

/** Builds the sf1-class full corpus (every table, consistent key
  * bands) and exits — run BEFORE `graft.Bench` with
  * `SPARK_GRAFT_SF_DIR` pointed at the output, so the full 182-query
  * suite benches one order of magnitude above sf0.1:
  * {{{
  *   sbt "runMain graft.FullCorpus"   # writes target/fullsf/sf0.1x10
  *   SPARK_GRAFT_SF_DIR=target/fullsf/sf0.1x10 sbt "runMain graft.Bench"
  * }}}
  */
object FullCorpus {
  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val outDir = s"target/fullsf/${new java.io.File(baseDir).getName}x$factor"
    val spark = GraftSession()
    SlopeBench.buildScaledAll(spark, baseDir, outDir, factor)
    println(s"""{"built":"$outDir","factor":$factor}""")
    spark.stop()
  }
}
