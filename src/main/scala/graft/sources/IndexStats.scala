package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Observability for the standing indexes — the `_stats` surface every
  * reference backend exposes (ES `_stats`/`_cat/indices`, Qdrant
  * collection info, Milvus `describe_index`): how much is on disk per
  * index table, how many generations the alias home holds, and — the
  * number operators actually schedule maintenance from — how much
  * tombstone/delta DEBT has accumulated since the last compaction.
  * `compact` folds debt to zero at segment-rewrite cost; `rotate`
  * folds it to zero with a rebuild-aside; this verb is the input that
  * tells you when either is worth running. Quality (sampled recall)
  * is measured separately against a query set by
  * [[graft.api.ScaleOps.recallAtK]] — exactly how RotationSpec gates
  * a swap.
  *
  * One row per (index, table), long format, identical schema across
  * the four index kinds so catalog roll-ups are a plain union:
  * (kind, home, live_path, n_generations, table, files, bytes,
  * debt_rows, last_compaction_ms). `debt_rows` is null for data
  * tables, the pending row count for tombstone/delta tables;
  * `last_compaction_ms` is null until the first compaction.
  *
  * Cost model: the poll lists the live layout, and writes pay
  * nothing. Files/bytes per table come from one recursive listing of
  * that table's directory ([[du]]) taken when stats is asked for, so
  * no mutation verb has to keep a record fresh and none can leave it
  * stale. The listing is linear in file count: a poll of a layout
  * with many small files costs more, which is the same condition
  * `compact` exists to fix. Stats is polled once per maintenance
  * decision; a write-time record would put the same listing inside
  * every append, delete and payload update instead (1.2 s per
  * refresh of a 210-file layout on a 4-core host with the pure-Java
  * local filesystem, most of a 20-id delete). The bounded debt
  * tables are counted by scan — delta-scan cost, never a corpus scan.
  */
object IndexStats {

  val schema: StructType = StructType.fromDDL(
    "kind STRING, home STRING, live_path STRING, n_generations INT, " +
      "table STRING, files BIGINT, bytes BIGINT, debt_rows BIGINT, " +
      "last_compaction_ms BIGINT")

  private val Marker = ".last-compaction"

  /** Record a completed compaction on the layout (called by each
    * index's `compact` after the debt sets clear).
    */
  private[graft] def markCompacted(fs: FileSystem, path: String): Unit = {
    val out = fs.create(new Path(path, Marker), true)
    out.write(System.currentTimeMillis().toString.getBytes("UTF-8"))
    out.close()
  }

  private def lastCompaction(fs: FileSystem, path: String): Option[Long] =
    try {
      val p = new Path(path, Marker)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
        finally in.close()
      }
    } catch { case _: Exception => None }

  /** (files, bytes) under `dir`, data files only (dot-files and the
    * pointer dir are bookkeeping, not index payload). A file counts
    * only if NO path component between it and `dir` is hidden —
    * filtering on the leaf name alone would count part-files inside a
    * live `_temporary` tree when stats runs concurrently with an
    * in-flight write, inflating files/bytes with data that is not yet
    * (and may never be) committed.
    */
  private def du(fs: FileSystem, dir: Path): (Long, Long) = {
    if (!fs.exists(dir)) return (0L, 0L)
    val base = fs.makeQualified(dir).toUri.getPath
    def hiddenUnderBase(p: Path): Boolean = {
      var cur = p
      while (cur != null && cur.toUri.getPath != base &&
          cur.toUri.getPath.length > base.length) {
        val n = cur.getName
        if (n.startsWith(".") || n.startsWith("_")) return true
        cur = cur.getParent
      }
      false
    }
    var files = 0L
    var bytes = 0L
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val f = it.next()
      if (!hiddenUnderBase(f.getPath)) { files += 1; bytes += f.getLen }
    }
    (files, bytes)
  }

  /** Assemble the stats frame for one index. `debtRows` maps a debt
    * table's name to its pending row count (callers count their own
    * bounded debt tables with their explicit schemas). Files/bytes
    * come from listing each table ([[du]]).
    */
  private[graft] def build(spark: SparkSession, kind: String, rawHome: String,
                           tables: Seq[String],
                           debtRows: Map[String, Long]): DataFrame = {
    val live = IndexAlias.resolve(spark, rawHome)
    val fs = new Path(live).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nGen = IndexAlias.generations(spark, rawHome).size
    val lastComp = lastCompaction(fs, live)
    val rows = tables.map { t =>
      val (files, bytes) = du(fs, new Path(live, t))
      Row(kind, rawHome, live, nGen, t, files, bytes,
        debtRows.get(t).map(Long.box).orNull,
        lastComp.map(Long.box).orNull)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
  }

  /** Roll up the stats of many standing indexes into one frame — the
    * `_cat/indices` across-the-deployment view. `specs` pairs each
    * index kind (`"vector" | "text" | "dedup" | "cluster"`) with its
    * home path.
    */
  def rollup(spark: SparkSession, specs: Seq[(String, String)]): DataFrame = {
    require(specs.nonEmpty, "rollup of zero indexes")
    specs.map {
      case ("vector", p)  => graft.operators.VectorIndex.stats(spark, p)
      case ("text", p)    => graft.api.TextIndex.stats(spark, p)
      case ("dedup", p)   => graft.operators.Dedup.indexStats(spark, p)
      case ("cluster", p) => graft.operators.Dedup.clusterIndexStats(spark, p)
      case (k, p) => sys.error(s"unknown index kind '$k' for $p")
    }.reduce(_ unionByName _)
  }
}
