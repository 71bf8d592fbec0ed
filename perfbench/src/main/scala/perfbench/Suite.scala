package perfbench

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{OrganicCorpus, SparkEntry}

/** `suite`: the driver queries (`SparkEntry.queries`, every `stride`-th
  * in alphabetical order) on a driver-vocabulary, uniform-embedding
  * OrganicCorpus. Each request builds the query's DataFrame (operator
  * construct, including its eager driver actions) and collects it.
  * A set-up is a fresh session's first pass over the same queries: it
  * builds the session's standing indexes and serving views.
  */
final class Suite(ctx: Ctx) extends Workload {
  private val stride = 25
  val names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
    .zipWithIndex.collect { case (n, i) if i % stride == 0 => n }
  private val corpus = ctx.corpus

  var session: SparkSession = ctx.spark
  /** Per query: (row count, order-insensitive content hash) of the last set-up. */
  private val expected = scala.collection.mutable.Map.empty[String, (Int, Int)]
  private val lastRows = scala.collection.mutable.Map.empty[String, (Array[Row], StructType)]

  /** Only the tables these queries and their oracles read (a query that
    * reads another fails, and counts as failed).
    */
  def generate(): Unit = OrganicCorpus.generate(ctx.spark, ctx.sf, corpus, ctx.seed,
    tables = Set("lineitem", "documents", "embeddings"))

  def setup(rep: Int): Unit = {
    session = if (rep == 1) ctx.spark else ctx.spark.newSession()
    names.foreach { n =>
      val df = SparkEntry.queries(n)(session, corpus)
      val rows = df.collect()
      expected(n) = Suite.digest(rows)
      lastRows(n) = (rows, df.schema)
      graft.PerfbenchAccess.releaseTransients(session)
    }
  }

  def nominalPassS: Double = 5.0

  def pass(p: Int, tracer: Tracer): Unit = names.foreach { n =>
    tracer.request(p, n, "query") {
      val df = tracer.span("operators", "construct")(SparkEntry.queries(n)(session, corpus))
      tracer.span("operators", "action")(df.collect())
    }.foreach { rows =>
      val got = Suite.digest(rows)
      if (got != expected(n))
        tracer.failCheck(tracer.lastRequestId, s"$n: (rows, hash) $got vs set-up ${expected(n)}")
    }
    tracer.releaseTransients()
  }

  /** Writes the set-up results of the oracle-covered queries as parquet,
    * with their oracle SQL, for the DuckDB comparison run.py makes.
    */
  def finish(tracer: Tracer): Map[String, Any] = {
    val oracle = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    val out = ctx.dir("oracle")
    oracle.keys.foreach { n =>
      val (rows, schema) = lastRows(n)
      session.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$n")
    }
    Map("queries" -> names, "corpus_dir" -> corpus, "oracle_dir" -> out,
      "oracle_sql" -> oracle,
      "digests" -> expected.map { case (n, (r, h)) => n -> Seq(r, h) })
  }
}

object Suite {
  def digest(rows: Array[Row]): (Int, Int) =
    (rows.length, MurmurHash3.unorderedHash(rows.iterator.map(_.toString)))
}
