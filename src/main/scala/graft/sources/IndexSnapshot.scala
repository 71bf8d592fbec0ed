package graft.sources

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** Snapshot/restore for the STANDING indexes — the compliance
  * counterpart of [[CollectionCatalog.snapshot]] (ES snapshots cover
  * indexes; Qdrant snapshots collections WITH their indexes). A
  * snapshot copies the live layout's top-level tables — including
  * the PENDING state: tombstones, payload deltas, negative df/stats
  * rows — so restore replays to the exact logical point, not just
  * the last compaction. Snapshots are plain directories under the
  * index home's `.snapshots/<n>`; on an object store this is a
  * prefix copy (or a file manifest under an immutable-file ingest
  * discipline — the native engines' zero-copy snapshot trick).
  *
  * Restore is generation-aware:
  *  - a ROTATING home ([[IndexAlias]]) restores by materializing the
  *    snapshot as the NEXT GENERATION and atomically repointing
  *    ([[LayoutRewrite.nextGeneration]]) — zero-downtime, readers
  *    flow throughout, and session caches (keyed by the concrete
  *    generation path) cache-miss onto the restored state with no
  *    invalidation protocol;
  *  - a concrete path copies the snapshot's tables aside and swaps
  *    them in with one crash-safe [[LayoutRewrite.swapIn]] commit
  *    that also drops the live tables the snapshot lacks (a crash
  *    reads as before or as after the restore once the next writer
  *    recovers the layout), then invalidates the vector index's
  *    session caches for that path.
  *
  * Works for all four standing layouts (vector, text, MinHash-dedup,
  * duplicate-cluster) because each is a self-contained directory of
  * parquet subtables — the snapshot does not interpret them.
  */
object IndexSnapshot {

  private def fsOf(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def snapRoot(pathOrHome: String): Path =
    new Path(pathOrHome, ".snapshots")

  /** The layout's top-level tables: every non-dot child (dot-dirs
    * are system state — pointers, snapshots, in-flight compactions —
    * never part of the index itself).
    */
  private def tables(fs: FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).map(_.getPath)
      .filterNot(_.getName.startsWith(".")).toSeq

  private def copyInto(spark: SparkSession, fs: FileSystem,
                       from: Path, to: String): Unit = {
    fs.mkdirs(new Path(to))
    tables(fs, from).foreach { t =>
      FileUtil.copy(fs, t, fs, new Path(to, t.getName), false,
        spark.sparkContext.hadoopConfiguration)
    }
  }

  /** Snapshot the live index state (pending tombstones and deltas
    * included). Returns the snapshot id.
    */
  def create(spark: SparkSession, pathOrHome: String): String = {
    val fs = fsOf(spark, pathOrHome)
    val live = new Path(IndexAlias.resolve(spark, pathOrHome))
    fs.mkdirs(snapRoot(pathOrHome))
    val n = fs.listStatus(snapRoot(pathOrHome)).count(_.isDirectory)
    copyInto(spark, fs, live, new Path(snapRoot(pathOrHome), n.toString).toString)
    n.toString
  }

  /** Snapshot ids available for the index, oldest first. */
  def list(spark: SparkSession, pathOrHome: String): Seq[String] = {
    val fs = fsOf(spark, pathOrHome)
    if (!fs.exists(snapRoot(pathOrHome))) Nil
    else fs.listStatus(snapRoot(pathOrHome)).filter(_.isDirectory)
      .map(_.getPath.getName).toSeq.sortBy(_.toInt)
  }

  /** Restore the index to snapshot `id`. */
  def restore(spark: SparkSession, pathOrHome: String, id: String): Unit = {
    val fs = fsOf(spark, pathOrHome)
    val src = new Path(snapRoot(pathOrHome), id)
    require(fs.exists(src), s"no such index snapshot: $pathOrHome @ $id")
    // restore is a maintenance verb like compact/rotate: fenced
    // against a second writer process (the `.lease` dir is a dot-dir,
    // so neither restore branch's table swap touches it)
    WriterLease.exclusive(spark, pathOrHome) {
      if (IndexAlias.installed(spark, pathOrHome))
        LayoutRewrite.nextGeneration(spark, pathOrHome)(copyInto(spark, fs, src, _))
      else {
        // a restore is not a compaction: swapped in, never stamped
        val dir = new Path(pathOrHome)
        val restored = tables(fs, src).map(_.getName)
        restored.foreach(t => FileUtil.copy(fs, new Path(src, t), fs,
          LayoutRewrite.aside(dir, t), false, spark.sparkContext.hadoopConfiguration))
        WriterLease.renewHeld(spark, pathOrHome)
        try LayoutRewrite.swapIn(fs, dir, restored,
          debt = tables(fs, dir).map(_.getName).filterNot(restored.contains))
        // an in-place restore changes what reads at this path must see
        finally graft.operators.VectorIndex.invalidate(spark, pathOrHome)
      }
    }
  }
}
