package graft

import org.apache.spark.sql.SparkSession

/** The engine members the benchmark calls that are `private[graft]`:
  * the request-boundary cache hygiene every serving loop runs, and the
  * driver vocabulary the generated corpora draw their head words from.
  */
object PerfbenchAccess {
  def releaseTransients(spark: SparkSession): Int =
    operators.IndexCache.releaseTransients(spark)

  def vocab: Seq[String] = OrganicCorpus.Vocab.toSeq
}
