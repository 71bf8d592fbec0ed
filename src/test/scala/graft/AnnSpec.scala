package graft

import graft.operators.{Ann, VectorIndex, VectorSearch}

class AnnSpec extends SparkSpec {

  private def topk(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
    rows.groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }

  private def recallVsExact(approx: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double = {
    val per = exact.map { case (q, ex) =>
      approx.get(q).map(ap => ap.intersect(ex).size.toDouble / ex.size).getOrElse(0.0)
    }
    per.sum / per.size
  }

  lazy val exact: Map[Long, Set[Long]] =
    topk(VectorSearch.qKnnCosine(spark, sfDir).collect())

  test("q_ivf_knn: k results per query, recall meets the documented >=0.9 budget") {
    val rows = Ann.qIvfKnn(spark, sfDir).collect()
    val approx = topk(rows)
    assert(approx.keySet == exact.keySet)
    val recall = recallVsExact(approx, exact)
    info(f"IVF recall@10 = $recall%.3f (nprobe ${Ann.NProbe}/${Ann.NList}, spill ${Ann.SpillAssign})")
    // the documented operating point: spilled assignment + the default
    // probe budget recalls >=0.9 of the exact top-k (the HNSW-class
    // bar the native backends default to); the full recall-vs-nprobe
    // curve is pinned in IvfRecallSweepSpec
    assert(recall >= 0.9, f"IVF recall $recall%.3f below the 0.9 budgeted target")
  }

  test("filtered ANN planner switches strategy on filter cardinality") {
    import org.apache.spark.sql.functions.col
    def filtered(filter: org.apache.spark.sql.Column) =
      VectorIndex.searchIvfFiltered(spark, VectorIndex.sessionIndexPath(spark, sfDir),
        VectorSearch.querySet(spark, sfDir), filter, bruteForceLimit = 100)
    // selective filter (one label ≈ 1/10 of the corpus) → brute force,
    // and the result is EXACT over the filtered subset
    val (p1, selective) = filtered(col("label") === 3)
    assert(p1 == "brute_force")
    val got = selective.collect()
    assert(got.nonEmpty)
    val exactFiltered = topk(VectorSearch.collection(spark, sfDir)
      .search(VectorSearch.querySet(spark, sfDir), Ann.K,
        graft.api.Metric.Cosine, preFilter = Some(col("label") === 3)).collect())
    assert(topk(got) == exactFiltered)

    // broad filter (90% of the corpus) → the probe path, bounded recall
    val (p2, broad) = filtered(col("label") =!= 3)
    assert(p2 == "ivf_probe")
    val exactBroad = topk(VectorSearch.collection(spark, sfDir)
      .search(VectorSearch.querySet(spark, sfDir), Ann.K,
        graft.api.Metric.Cosine, preFilter = Some(col("label") =!= 3)).collect())
    val recall = recallVsExact(topk(broad.collect()), exactBroad)
    info(f"filtered-IVF recall@10 = $recall%.3f")
    // broad-filtered probes serve from the same spilled at-rest index
    // as the unfiltered path, so recall sits in the same band (0.88
    // measured vs 0.90 unfiltered; the filter only shrinks cluster
    // contents, it doesn't move the probe geometry)
    assert(recall >= 0.85, f"filtered-IVF recall $recall%.3f below 0.85")
  }

  test("q_lsh_knn: candidates rerank to the >=0.9 recall bar") {
    val rows = Ann.qLshKnn(spark, sfDir).collect()
    val approx = topk(rows)
    assert(approx.keySet == exact.keySet)
    val recall = recallVsExact(approx, exact)
    info(f"LSH recall@10 = $recall%.3f (16 bands x 4 bits)")
    assert(recall >= 0.9, f"LSH recall $recall%.3f below 0.9")
  }

  test("ivf self-match always recalled (query vector is in its own probed cluster)") {
    val rows = Ann.qIvfKnn(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    byQ.foreach { case (q, rs) =>
      assert(rs.exists(_.getAs[Long]("vec_id") == q))
      assert(rs.count(_ => true) <= Ann.K)
    }
  }

  test("dedupSpilledTopK: bounded-buffer form equals the rank window on spill duplicates") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // every vector appears twice (spill 2) with identical embeddings;
    // scores tie in groups so the k boundary lands inside a tie run
    val rnd = new scala.util.Random(3)
    val qs = (0L until 4L)
    val vs = (0L until 40L)
    val rows = for { q <- qs; v <- vs; copy <- 0 to 1 }
      yield (q, Array.tabulate(8)(i => ((v % 5) + i).toFloat), v)
    val cand = rows.toDF("q_id", "q_emb", "vec_id")
      .withColumn("embedding", col("q_emb")) // cosine 1.0 ties across all vecs per query
    val got = graft.operators.Ann.dedupSpilledTopK(cand, k = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    val want = cand
      .withColumn("score", round(graft.functions.vec.cosine(col("q_emb"), col("embedding")), 6))
      .groupBy(col("q_id"), col("vec_id")).agg(first(col("score")).as("score"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 7)
      .select(col("q_id"), col("vec_id"), col("rn"), col("score")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.sorted.toSeq == want.sorted.toSeq)
  }
}
