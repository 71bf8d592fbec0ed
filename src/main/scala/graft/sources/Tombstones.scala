package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types.StructType

/** The delete log of the four standing indexes — Milvus's delete
  * logs, Qdrant's deleted flags. A delete appends the retracted ids
  * to the layout's `tombstones` table (one BIGINT id column: `vec_id`
  * for the vector index, `doc_id` for the MinHash, cluster and text
  * indexes) at |batch| cost; the standing tables are not rewritten.
  * Readers drop the ids with a broadcast anti-join — the set is
  * bounded by the compaction cadence — and a compaction applies them
  * physically, then clears the table as [[LayoutRewrite]] debt.
  * Duplicate rows change nothing: the anti-join is by id.
  */
object Tombstones {

  /** The table's name in a layout (and in a compaction's `debt`). */
  val Table = "tombstones"

  /** Append `ids` (one id column of longs) as one file. */
  def append(path: String, ids: DataFrame): Unit =
    ids.coalesce(1).write.mode("append").parquet(s"$path/$Table")

  /** The pending retractions, or None when the layout has none. */
  private def read(spark: SparkSession, path: String, idCol: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$Table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.schema(StructType.fromDDL(s"$idCol BIGINT")).parquet(p.toString))
    else None
  }

  /** Drops the retracted ids from a frame keyed by `idCol`; the table
    * is looked up once, however many frames the function is applied to.
    */
  def liveOnly(spark: SparkSession, path: String, idCol: String): DataFrame => DataFrame =
    read(spark, path, idCol).fold(identity[DataFrame] _)(t =>
      df => df.join(broadcast(t), Seq(idCol), "left_anti"))

  /** Pending retraction rows — the debt a compaction folds away. */
  def pending(spark: SparkSession, path: String, idCol: String): Long =
    read(spark, path, idCol).fold(0L)(_.count())
}
