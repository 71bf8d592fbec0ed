package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode
import graft.operators.{Ann, Quantization, VectorIndex, VectorSearch}

/** The at-rest vector index contract: every search family serves from
  * the persisted layout alone (a fresh session re-encodes NOTHING),
  * incremental appends are equivalent to a full rebuild, and the
  * layout's pruning properties are visible in the physical plan.
  */
class VectorIndexSpec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
      r.getAs[Long]("rn"), r.getAs[Double]("score"))).sortBy(t => (t._1, t._3)).toSeq

  private lazy val path = VectorIndex.sessionIndexPath(spark, sfDir)
  private def queries = VectorSearch.querySet(spark, sfDir)

  private def families(s: org.apache.spark.sql.SparkSession, p: String,
                       q: org.apache.spark.sql.DataFrame) = Seq(
    "ivf" -> VectorIndex.searchIvf(s, p, q),
    "pq" -> VectorIndex.searchPq(s, p, q),
    "ivfpq" -> VectorIndex.searchIvfPq(s, p, q),
    "sq8" -> VectorIndex.searchSq8(s, p, q),
    "bq" -> VectorIndex.searchBq(s, p, q),
    "lsh" -> VectorIndex.searchLsh(s, p, q))

  test("a fresh session serves all six families from the layout alone — no retrain, no re-encode") {
    val expected = families(spark, path, queries).map { case (n, df) => n -> canon(df) }
    // newSession shares the context but has its own UUID: its meta
    // comes off disk (readMeta) and nothing is retrained — this is
    // the restart story
    val s2 = spark.newSession()
    val got = families(s2, path, VectorSearch.querySet(s2, sfDir))
      .map { case (n, df) => n -> canon(df) }
    expected.zip(got).foreach { case ((n, e), (_, g)) =>
      assert(e == g, s"family $n differs across sessions")
      assert(e.nonEmpty, s"family $n returned nothing")
    }
  }

  test("the trained geometry follows the corpus, not its directory") {
    // a session index trains on what its corpus dir holds when that
    // session builds it: a second session over a rewritten dir must
    // not serve geometry trained on the dir's earlier corpus
    val dir = graft.operators.IndexCache.tempDir("graft-vi-corpus")
    val corpusA = Tables.embeddings(spark, sfDir)
    val corpusB = corpusA.withColumn("embedding", reverse(col("embedding")))
    corpusA.write.parquet(s"$dir/embeddings.parquet")
    val metaA = VectorIndex.readMeta(spark, VectorIndex.sessionIndexPath(spark, dir))
    corpusB.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val s2 = spark.newSession()
    val metaB = VectorIndex.readMeta(s2, VectorIndex.sessionIndexPath(s2, dir))
    val ref = VectorIndex.buildFrom(spark, corpusB,
      graft.operators.IndexCache.tempDir("graft-vi-corpus-ref") + "/idx")
    assert(metaB.centroids == ref.centroids, "centroids not trained on the rewritten corpus")
    assert(metaB.codebooks == ref.codebooks, "codebooks not trained on the rewritten corpus")
    assert(metaB.rotation == ref.rotation, "rotation not trained on the rewritten corpus")
    assert(metaB.centroids != metaA.centroids && metaB.codebooks != metaA.codebooks &&
      metaB.rotation != metaA.rotation, "the two corpora must train different geometry")
  }

  test("appending a batch is equivalent to rebuilding over the union — for every family") {
    val meta = VectorIndex.readMeta(spark, path)
    val corpus = Tables.embeddings(spark, sfDir)
    val pA = graft.operators.IndexCache.tempDir("graft-vi-rebuild") + "/idx"
    val pB = graft.operators.IndexCache.tempDir("graft-vi-append") + "/idx"
    VectorIndex.writeCorpus(spark, corpus, pA, meta)
    VectorIndex.writeCorpus(spark, corpus.filter(col("vec_id") % 2 === 0), pB, meta)
    VectorIndex.append(spark, corpus.filter(col("vec_id") % 2 === 1), pB)
    families(spark, pA, queries).zip(families(spark, pB, queries)).foreach {
      case ((n, a), (_, b)) =>
        assert(canon(a) == canon(b), s"family $n: append != rebuild")
    }
  }

  test("IVF probe prunes index partitions at the file listing") {
    // the COLD path (cached = false) is the plan under test: it is
    // what a corpus too large to pin in the session cache executes
    val p = VectorIndex.searchIvf(spark, path, queries, cached = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the probed-cluster set compiles to a static partition predicate
    // on the scan — files of unprobed clusters are skipped before any
    // row is decoded (explain renders a compiled IN as INSET)
    assert(p.contains("PartitionFilters") &&
      (p.contains("cluster_id IN") || p.split("\n").exists(l =>
        l.contains("PartitionFilters") && l.contains("INSET"))), p)
  }

  /** ReadSchema of each scan over the index's `vectors/` table (the
    * query-set scan over the source corpus also reads floats — only
    * the index-side scans are under test).
    */
  private def indexScanSchemas(p: String): Seq[String] = {
    val lines = p.linesIterator.toIndexedSeq
    lines.indices.collect {
      case i if lines(i).contains("Location") && lines(i).contains("/vectors") =>
        lines.drop(i).find(_.contains("ReadSchema")).getOrElse("")
    }
  }

  test("PQ scan reads only the code columns; SQ8 and BQ scans never read the floats") {
    val pq = VectorIndex.searchPq(spark, path, queries, cached = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the ADC candidate scan must be vec_id + pq_codes only; the
    // rerank scan reads vec_id + embedding — NO index scan reads both
    // wide columns at once
    assert(pq.contains("struct<vec_id:bigint,pq_codes:array<tinyint>>"), pq)
    assert(indexScanSchemas(pq).forall(s =>
      !(s.contains("pq_codes") && s.contains("embedding"))), pq)
    val sq8 = VectorIndex.searchSq8(spark, path, queries, cached = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(indexScanSchemas(sq8).nonEmpty &&
      indexScanSchemas(sq8).forall(!_.contains("embedding")), sq8)
    val bq = VectorIndex.searchBq(spark, path, queries, cached = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(bq.contains("struct<vec_id:bigint,bq_word:bigint>"), bq)
  }

  test("LSH candidates come from the persisted postings, id-only until the rerank") {
    val p = VectorIndex.searchLsh(spark, path, queries, cached = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the postings scan carries no vectors (bucket+id rows), and every
    // join is a broadcast — the standing postings never shuffle
    assert(p.contains("struct<bucket:int,vec_id:bigint>"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("compaction collapses the append small-file tail; every family's results survive unchanged") {
    val meta = VectorIndex.readMeta(spark, path)
    val pC = graft.operators.IndexCache.tempDir("graft-vi-compact") + "/idx"
    val corpus = Tables.embeddings(spark, sfDir)
    VectorIndex.writeCorpus(spark, corpus.filter(col("vec_id") % 4 === 0), pC, meta)
    // three batch appends = three file generations in every partition
    (1 to 3).foreach { r =>
      VectorIndex.append(spark, corpus.filter(col("vec_id") % 4 === r), pC)
    }
    val before = families(spark, pC, queries).map { case (n, df) => n -> canon(df) }
    val (nBefore, nAfter) = VectorIndex.compact(spark, pC)
    assert(nAfter < nBefore, s"compaction did not shrink files: $nBefore -> $nAfter")
    val after = families(spark, pC, queries).map { case (n, df) => n -> canon(df) }
    before.zip(after).foreach { case ((n, b), (_, a)) =>
      assert(b == a, s"family $n changed across compaction")
      assert(b.nonEmpty)
    }
  }

  test("appended vectors are immediately searchable in their probed cluster") {
    val meta = VectorIndex.readMeta(spark, path)
    val pC = graft.operators.IndexCache.tempDir("graft-vi-live") + "/idx"
    VectorIndex.writeCorpus(spark, Tables.embeddings(spark, sfDir), pC, meta)
    // exact copies of each query vector under fresh ids: a probe MUST
    // surface them at similarity 1.0 with no rebuild of old files
    val batch = queries.select((col("q_id") + 700000L).as("vec_id"),
      col("q_emb").as("embedding"), col("q_label").as("label"))
    VectorIndex.append(spark, batch, pC)
    val res = VectorIndex.searchIvf(spark, pC, queries).collect()
    res.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      val hit = rs.find(_.getAs[Long]("vec_id") == q + 700000L)
      assert(hit.isDefined, s"appended twin of query $q not recalled")
      assert(hit.get.getAs[Double]("score") == 1.0)
    }
  }

  test("point deletes serve immediately via tombstones and compact to the rebuilt-without layout") {
    val meta = VectorIndex.readMeta(spark, path)
    val corpus = Tables.embeddings(spark, sfDir)
    val pD = graft.operators.IndexCache.tempDir("graft-vi-delete") + "/idx"
    val pRef = graft.operators.IndexCache.tempDir("graft-vi-delete-ref") + "/idx"
    VectorIndex.writeCorpus(spark, corpus, pD, meta)
    // delete every query's exact nearest non-self neighbor plus some
    // bulk ids — then every family must answer as if the index had
    // been built without them
    val victims = VectorIndex.searchIvf(spark, pD, queries, nprobe = Ann.NList)
      .filter(col("vec_id") =!= col("q_id") && col("rn") <= 2)
      .select("vec_id").collect().map(_.getLong(0)).toSeq.distinct
    VectorIndex.delete(spark, pD, victims)
    VectorIndex.writeCorpus(spark, corpus.filter(!col("vec_id").isin(victims: _*)), pRef, meta)
    families(spark, pD, queries).zip(families(spark, pRef, queries)).foreach {
      case ((n, d), (_, r)) =>
        val (cd, cr) = (canon(d), canon(r))
        assert(cd == cr, s"family $n: tombstoned != rebuilt-without")
        assert(cd.nonEmpty && cd.forall(t => !victims.contains(t._2)),
          s"family $n still returns a deleted id")
    }
    // compaction applies the tombstones physically and clears them
    VectorIndex.compact(spark, pD)
    val fs = new org.apache.hadoop.fs.Path(pD).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$pD/tombstones")))
    families(spark, pD, queries).zip(families(spark, pRef, queries)).foreach {
      case ((n, d), (_, r)) => assert(canon(d) == canon(r), s"family $n changed after compact")
    }
  }

  test("setPayload collapses conflicts without a single-task funnel and serves the latest label") {
    import spark.implicits._
    val meta = VectorIndex.readMeta(spark, path)
    val corpus = Tables.embeddings(spark, sfDir)
    val pP = graft.operators.IndexCache.tempDir("graft-vi-payload") + "/idx"
    VectorIndex.writeCorpus(spark, corpus, pP, meta)
    val ids = corpus.select("vec_id").orderBy("vec_id").limit(2).collect().map(_.getLong(0))

    // batch 1 spread over three partitions with three conflicting
    // updates to ids(0): parallelize slices the rows in order
    // ([0,1), [1,2), [2,4)), so the last occurrence in partition-major
    // order — the winner — is the last row, in the third partition
    val b1 = spark.sparkContext.parallelize(Seq((ids(0), 7101), (ids(0), 7103),
      (ids(1), 7201), (ids(0), 7102)), 3).toDF("vec_id", "label")
    assert(b1.rdd.getNumPartitions == 3)
    VectorIndex.setPayload(spark, pP, b1)
    val d1 = spark.read.parquet(s"$pP/payload")
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"), r.getAs[Long]("seq")))
    assert(d1.length == 2, s"expected one row per key per batch, got ${d1.toSeq}")
    assert(d1.contains((ids(0), 7102, 0L)) && d1.contains((ids(1), 7201, 0L)), d1.toSeq)

    // batch 2 without an ordinal: partition-major row order, here a
    // single partition, so the later row wins; cross-batch the higher
    // sequence number supersedes batch 1
    val b2 = Seq((ids(1), 7202), (ids(1), 7203)).toDF("vec_id", "label").coalesce(1)
    VectorIndex.setPayload(spark, pP, b2)
    // reads overlay latest-wins: a label filter on the updated value
    // matches exactly the updated vectors, the superseded value none
    val (_, hit) = VectorIndex.searchIvfFiltered(spark, pP, queries,
      col("label") === 7203, bruteForceLimit = 1000000L)
    val hitIds = hit.select("vec_id").distinct().collect().map(_.getLong(0)).toSeq
    assert(hitIds == Seq(ids(1)), s"latest label should match only ${ids(1)}: $hitIds")
    val (_, stale) = VectorIndex.searchIvfFiltered(spark, pP, queries,
      col("label") === 7201, bruteForceLimit = 1000000L)
    assert(stale.count() == 0, "superseded label still matching")

    // compact folds the deltas into the rewritten files and clears them
    VectorIndex.compact(spark, pP)
    val fs = new org.apache.hadoop.fs.Path(pP).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$pP/payload")))
    val (_, after) = VectorIndex.searchIvfFiltered(spark, pP, queries,
      col("label") === 7203, bruteForceLimit = 1000000L)
    assert(after.select("vec_id").distinct().collect().map(_.getLong(0)).toSeq == Seq(ids(1)))
  }

  test("readMeta refuses a layout whose meta/params lacks pq_residual") {
    // one at-rest format is served: a layout whose params do not flag
    // residual codes must fail loudly, naming the path, never be
    // served as if its codes meant something else
    import spark.implicits._
    val corpus = Tables.embeddings(spark, sfDir)
    val p2 = graft.operators.IndexCache.tempDir("graft-vi-flagless") + "/idx"
    VectorIndex.buildFrom(spark, corpus, p2)
    val params = spark.read.parquet(s"$p2/meta/params")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(params.exists(_._1 == "pq_residual"), s"fixture must flag residual codes: $params")
    params.filterNot(_._1 == "pq_residual").toDF("param", "value")
      .write.mode("overwrite").parquet(s"$p2/meta/params")
    VectorIndex.invalidate(spark, p2)
    val err = intercept[IllegalStateException](VectorIndex.readMeta(spark, p2))
    assert(err.getMessage.contains(p2) && err.getMessage.contains("pq_residual"), err.getMessage)
    intercept[IllegalStateException](VectorIndex.searchPq(spark, p2,
      corpus.limit(2).select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))))
  }
}
