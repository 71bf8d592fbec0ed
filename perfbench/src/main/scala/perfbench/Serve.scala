package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.OrganicCorpus
import graft.api.{FilterDsl, Metric, VectorCollection}
import graft.operators.{Dedup, VectorIndex}
import graft.pipelines.IncrementalIngest
import graft.sources.WriterLease

/** `serve`: standing indexes (vector, MinHash) built in set-up over a
  * `heaps` + `aniso` OrganicCorpus, then a closed loop in which every
  * write is followed by a read: one read per write, the 50/50
  * read/update mix of YCSB core workload A (Cooper et al., "Benchmarking
  * Cloud Serving Systems with YCSB", SoCC 2010). Reads and writes
  * alternate in a fixed order instead of being drawn at random, so every
  * pass does the same work; the seed picks the query vectors, ids,
  * labels and rows. A compaction of the vector index follows each pass
  * as maintenance, outside the pass time. A fifth of the generated
  * vectors and documents is held out of the build and fed in by the
  * appends and the ingests.
  */
final class Serve(ctx: Ctx) extends Workload {
  import Serve._

  private val corpus = ctx.corpus
  var session: SparkSession = ctx.spark
  private var home = ""
  private def vecHome = s"$home/vec"
  private def dedupHome = s"$home/minhash"

  // driver-side copies of the generated inputs (small), for request
  // batches and for the exact search the recall is measured against
  private var vectors: Array[(Long, Array[Float], Int)] = Array.empty
  private var docs: Array[(Long, String)] = Array.empty
  private var baseVectors = 0
  private var baseDocs = 0

  // live state the writes move, kept to check reads and measure recall
  private val deleted = scala.collection.mutable.LinkedHashSet.empty[Long]
  private var nextVector = 0
  private var nextDoc = 0
  private var rng = new scala.util.Random(ctx.seed)
  private var userBytesWritten = 0L
  private val writeAmp = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val setupParts = scala.collection.mutable.ArrayBuffer.empty[collection.Map[String, Double]]

  def generate(): Unit = {
    OrganicCorpus.generate(ctx.spark, ctx.sf, corpus, ctx.seed, vocabMode = "heaps",
      tables = Set("documents", "embeddings"), embedMode = "aniso")
    vectors = ctx.spark.read.parquet(s"$corpus/embeddings.parquet")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2))).sortBy(_._1)
    docs = ctx.spark.read.parquet(s"$corpus/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    baseVectors = vectors.length * 4 / 5
    baseDocs = docs.length * 4 / 5
  }

  private def vectorFrame(s: SparkSession, rows: Seq[(Long, Array[Float], Int)]): DataFrame =
    s.createDataFrame(rows.map { case (i, e, l) => (i, e.toSeq, l) })
      .toDF("vec_id", "embedding", "label")

  private def docFrame(s: SparkSession, rows: Seq[(Long, String)]): DataFrame =
    s.createDataFrame(rows).toDF("doc_id", "text")

  private def queryFrame(ids: Seq[Int]): DataFrame =
    session.createDataFrame(ids.map(i => (vectors(i)._1, vectors(i)._2.toSeq)))
      .toDF("q_id", "q_emb")

  /** A set-up builds every standing index in a fresh session and home,
    * then serves one request of each read type (serving views, JIT).
    */
  def setup(rep: Int): Unit = {
    session = if (rep == 1) ctx.spark else ctx.spark.newSession()
    home = ctx.dir(s"serve-$rep")
    deleted.clear()
    nextVector = baseVectors; nextDoc = baseDocs
    rng = new scala.util.Random(ctx.seed)
    val part = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def step(name: String)(body: => Unit): Unit = part(name) = Main.time(body)
    step("vector_build")(VectorIndex.buildFrom(session,
      vectorFrame(session, vectors.take(baseVectors).toSeq), vecHome))
    step("minhash_build")(Dedup.writeMinhashIndex(docFrame(session, docs.take(baseDocs).toSeq),
      dedupHome))
    reads.foreach { case (kind, read) => step(s"warm_$kind")(read()) }
    graft.PerfbenchAccess.releaseTransients(session)
    setupParts += part
  }

  private def pickQueries(): Seq[Int] = Seq.fill(QueriesPerSearch)(rng.nextInt(baseVectors))

  /** Each read returns its rows; a search must return K rows per query. */
  private def reads: Seq[(String, () => Array[Row])] = Seq(
    "ivf" -> (() => VectorIndex.searchIvf(session, vecHome, queryFrame(pickQueries()), k = K).collect()),
    "ivfpq" -> (() => VectorIndex.searchIvfPq(session, vecHome, queryFrame(pickQueries()), k = K).collect()),
    "filtered" -> (() => VectorIndex.searchIvfFiltered(session, vecHome, queryFrame(pickQueries()),
      FilterDsl.MatchValue("label", rng.nextInt(10)).toColumn, bruteForceLimit = 200L, k = K)
      ._2.collect()),
    "get" -> (() => {
      val ids = Iterator.continually(vectors(rng.nextInt(baseVectors))._1).distinct.take(K).toSeq
      VectorCollection(session.read.parquet(s"$corpus/embeddings.parquet"), "vec_id")
        .getByIds(ids).collect()
    }))

  private def expectedRows(kind: String): Int =
    if (Set("ivf", "ivfpq", "filtered")(kind)) K * QueriesPerSearch else K

  private def heldOut(n: Int, next: Int, total: Int): Range = {
    require(next + n <= total, "held-out rows exhausted: fewer passes, or a larger corpus")
    next until next + n
  }

  private def liveBaseIds(n: Int, gone: collection.Set[Long], pool: Int, id: Int => Long): Seq[Long] =
    Iterator.continually(id(rng.nextInt(pool))).filterNot(gone).distinct.take(n).toSeq

  private def writes: Seq[(String, () => Long)] = Seq(
    "vec_append" -> (() => {
      val rows = heldOut(Batch, nextVector, vectors.length).map(vectors(_))
      nextVector += Batch
      VectorIndex.append(session, vectorFrame(session, rows), vecHome)
      rows.size * VectorBytes
    }),
    "vec_delete" -> (() => {
      val ids = liveBaseIds(Batch, deleted, baseVectors, vectors(_)._1)
      VectorIndex.delete(session, vecHome, ids)
      deleted ++= ids
      ids.size * 8L
    }),
    "vec_payload" -> (() => {
      val ids = liveBaseIds(Batch, deleted, baseVectors, vectors(_)._1)
      VectorIndex.setPayload(session, vecHome,
        session.createDataFrame(ids.map(i => (i, rng.nextInt(10)))).toDF("vec_id", "label"))
      ids.size * 12L
    }),
    "ingest" -> (() => {
      val rows = heldOut(Batch, nextDoc, docs.length).map(docs(_))
      nextDoc += Batch
      IncrementalIngest.ingest(session, docFrame(session, rows), dedupHome).collect()
      rows.map(_._2.length + 8L).sum
    }))

  private def indexBytes(): Long = du(home)

  def nominalPassS: Double = 10.0

  /** A pass: each write followed by a read; the four writes meet the
    * four read types in turn, so a pass runs every type once.
    */
  def pass(p: Int, tracer: Tracer): Unit =
    writes.zip(reads).foreach { case ((kind, write), (readKind, read)) =>
      val before = if (tracer.traced) indexBytes() else 0L
      tracer.request(p, kind, "write")(tracer.span("sources", kind)(write())).foreach { user =>
        userBytesWritten += user
        if (tracer.traced) writeAmp += (indexBytes() - before).toDouble / user
      }
      tracer.releaseTransients()
      tracer.request(p, readKind, "search")(tracer.span("api", readKind)(read())).foreach { rows =>
        if (rows.length != expectedRows(readKind))
          tracer.failCheck(tracer.lastRequestId,
            s"$readKind returned ${rows.length} rows, want ${expectedRows(readKind)}")
      }
      tracer.releaseTransients()
    }

  override def maintain(p: Int, tracer: Tracer): Unit = {
    tracer.request(p, "vec_compact", "maintenance")(
      tracer.span("sources", "vec_compact")(VectorIndex.compact(session, vecHome)))
    tracer.releaseTransients()
  }

  /** Recall of the served top-K against an exact search of the live
    * corpus, index health, space amplification and the lease's fixed
    * cost — all outside the timed region.
    */
  def finish(tracer: Tracer): Map[String, Any] = {
    val live = vectors.take(nextVector).filterNot(v => deleted(v._1))
    val liveFrame = vectorFrame(session, live.toSeq)
    val qs = (0 until RecallQueries).map(_ => rng.nextInt(baseVectors))
    val exact = VectorCollection(liveFrame, "vec_id")
      .search(queryFrame(qs), K, Metric.L2).select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def recall(served: DataFrame): Double = {
      val got = served.select("q_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      exact.map { case (q, want) => got.getOrElse(q, Set.empty[Long]).intersect(want).size }
        .sum.toDouble / exact.values.map(_.size).sum
    }
    val recallIvfPq = recall(VectorIndex.searchIvfPq(session, vecHome, queryFrame(qs), k = K))
    val stats = Seq(VectorIndex.stats(session, vecHome), Dedup.indexStats(session, dedupHome))
      .map(_.collect())
    val files = stats.flatten.map(r => r.getAs[Long]("files")).sum
    val debt = stats.flatten.map(r => Option(r.getAs[java.lang.Long]("debt_rows")).fold(0L)(_.longValue)).sum
    val liveDocs = docs.take(nextDoc)
    val liveUserBytes = live.length * VectorBytes + liveDocs.map(_._2.length + 8L).sum
    val leaseMs = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      WriterLease.exclusive(session, vecHome)(())
      (System.nanoTime() - t0) / 1e6
    }.sorted.apply(2)
    Map("recall_at_k" -> recallIvfPq, "k" -> K,
      "space_amp" -> indexBytes().toDouble / liveUserBytes, "index_files" -> files,
      "debt_rows" -> debt, "lease_ms" -> leaseMs, "write_amp" -> writeAmp,
      "user_bytes_written" -> userBytesWritten, "live_vectors" -> live.length,
      "live_docs" -> liveDocs.length, "setup_parts" -> setupParts) ++
      (if (tracer.traced)
         Map("kernels" -> Kernels.measure(session, corpus, VectorIndex.readMeta(session, vecHome))
           .map { case (k, f) => k -> Map("ns_per_row" -> f.nsPerRow, "rows" -> f.rows,
             "kernel_s" -> f.kernelS, "baseline_s" -> f.baselineS) })
       else Map.empty)
  }
}

object Serve {
  val K = 10
  val QueriesPerSearch = 2
  val RecallQueries = 20
  /** Rows per write request. */
  val Batch = 20
  /** Bytes of one user vector record: id, 64 floats, label. */
  val VectorBytes: Long = 8L + 64 * 4 + 4

  def du(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(c => du(c.getPath)).sum)
    else f.length()
  }
}
