package graft

import graft.operators.{Quantization, VectorIndex, VectorSearch}
import org.apache.spark.sql.functions._

class QuantizationSpec extends SparkSpec {

  test("quantize stores tinyint components and dequantizes within one scale step") {
    val q = Quantization.quantize(Tables.embeddings(spark, sfDir))
    assert(q.schema("sq8").dataType.catalogString == "array<tinyint>")
    val rows = q.withColumn("demb", Quantization.dequantized())
      .join(Tables.embeddings(spark, sfDir), "vec_id")
      .select("embedding", "demb", "sq8_scale").limit(50).collect()
    rows.foreach { r =>
      val orig = r.getSeq[Float](0)
      val deq = r.getSeq[Double](1)
      val step = r.getDouble(2)
      orig.zip(deq).foreach { case (o, d) => assert(math.abs(o - d) <= step * 0.5 + 1e-9) }
    }
  }

  test("q_pq_knn: PQ codes are compact, ADC+rerank recall vs exact L2 is high") {
    val path = VectorIndex.sessionIndexPath(spark, sfDir)
    val codebooks = VectorIndex.readMeta(spark, path).codebooks
    assert(codebooks.length == Quantization.M)
    assert(codebooks.forall(_.length == Quantization.KStar))
    val enc = spark.read.parquet(s"$path/vectors")
    assert(enc.schema("pq_codes").dataType.catalogString == "array<tinyint>")

    def topk(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val exact = topk(VectorSearch.qKnnL2(spark, sfDir).collect())
    val pq = topk(Quantization.qPqKnn(spark, sfDir).collect())
    assert(pq.keySet == exact.keySet)
    val recall = exact.map { case (q, ex) =>
      pq(q).intersect(ex).size.toDouble / ex.size }.sum / exact.size
    info(f"PQ recall@10 = $recall%.3f (m=${Quantization.M}, k*=${Quantization.KStar}, rerank pool ${Quantization.PqRerankPool})")
    assert(recall >= 0.6, f"PQ recall $recall%.3f below 0.6")
  }

  test("q_ivfpq_knn composes cluster pruning with PQ scoring at reasonable recall") {
    def topk(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val exact = topk(VectorSearch.qKnnL2(spark, sfDir).collect())
    val ivfpq = topk(Quantization.qIvfPqKnn(spark, sfDir).collect())
    assert(ivfpq.keySet == exact.keySet)
    val recall = exact.map { case (q, ex) =>
      ivfpq(q).intersect(ex).size.toDouble / ex.size }.sum / exact.size
    info(f"IVF_PQ recall@10 = $recall%.3f")
    // bounded above by the IVF probe recall; must still beat the scan share
    assert(recall >= 0.4, f"IVF_PQ recall $recall%.3f below 0.4")
  }

  test("q_bq_knn sign-bit Hamming prefilter reranks to usable recall") {
    def topk(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val exact = topk(VectorSearch.qKnnCosine(spark, sfDir).collect())
    val bq = topk(Quantization.qBqKnn(spark, sfDir).collect())
    assert(bq.keySet == exact.keySet)
    val recall = exact.map { case (q, ex) =>
      bq(q).intersect(ex).size.toDouble / ex.size }.sum / exact.size
    info(f"BQ recall@10 = $recall%.3f")
    // pool is 100 of 500 (20% scan share); sign bits must beat random
    // candidate selection (expected recall 0.2) by a wide margin
    assert(recall >= 0.5, f"BQ recall $recall%.3f below 0.5")
    // the query vector itself has Hamming 0 → always recalled at rank 1
    val self = Quantization.qBqKnn(spark, sfDir).collect()
      .filter(r => r.getAs[Long]("q_id") == r.getAs[Long]("vec_id"))
    assert(self.forall(_.getAs[Long]("rn") == 1L))
  }

  test("q_sq8_knn recall vs the exact float kNN is near-perfect") {
    def topk(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val exact = topk(VectorSearch.qKnnCosine(spark, sfDir).collect())
    val sq8 = topk(Quantization.qSq8Knn(spark, sfDir).collect())
    assert(sq8.keySet == exact.keySet)
    val recall = exact.map { case (q, ex) =>
      sq8(q).intersect(ex).size.toDouble / ex.size }.sum / exact.size
    info(f"SQ8 recall@10 = $recall%.3f")
    assert(recall >= 0.9, f"SQ8 recall $recall%.3f below 0.9")
  }
}
