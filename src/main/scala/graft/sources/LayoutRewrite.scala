package graft.sources

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** The one way a standing layout's tables get replaced: the
  * compactions of the four standing indexes and of catalog
  * collections, the generation handoffs, the vector postings re-band
  * and params recalibration, the index snapshot restore and the
  * catalog restore. A ROTATING home ([[IndexAlias.installed]])
  * gets the next generation and a pointer swap ([[nextGeneration]]).
  * A concrete path is rewritten in place, crash-safely: every new
  * table is written ASIDE (`.aside-<t>`) beside the untouched live
  * tables; a commit marker (`.commit-<t>`, a [[VersionedPointer]]
  * naming the tables and the debt tables to drop) is the one atomic
  * step that decides the outcome; then each table is swapped (live →
  * `.old-<t>`, aside → live), the debt tables, the `.old-*` copies
  * and the marker are deleted. That last step IS [[recover]], which
  * the outermost [[WriterLease.exclusive]] (and the catalog's
  * compact / restore) runs before any mutation: a crash before the
  * marker lands reads as before the rewrite once recovered, a crash
  * after it as after. Readers never repair anything.
  */
object LayoutRewrite {

  private val Aside = ".aside-"
  private val Old = ".old-"
  private val Commit = ".commit-"

  /** A table's name in the layout and the writer of its new content
    * at a given path (reading the live layout, intact until the swap).
    */
  final case class Table(name: String, write: String => Unit)

  /** Parquet files under `dir` — a compaction's before/after measure. */
  def parquetFiles(fs: FileSystem, dir: Path): Long = {
    val it = fs.listFiles(dir, true)
    var n = 0L
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** Where a table's replacement is written before [[swapIn]]. */
  def aside(dir: Path, table: String): Path = new Path(dir, Aside + table)

  /** Rewrite the layout at `rawPath` inside the caller's
    * [[WriterLease.exclusive]], renewing the lease at every table
    * boundary: the next generation (plus the `copy` tables) on a
    * rotating home, in place (dropping `debt`) on a concrete path.
    * Stamps the compaction on the new layout and returns its path.
    */
  def rewrite(spark: SparkSession, rawPath: String, tables: Seq[Table],
              debt: Seq[String], copy: Seq[String] = Nil): String = {
    val live = IndexAlias.resolve(spark, rawPath)
    val fs = new Path(live).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeAll(target: String => Path): Unit = tables.zipWithIndex.foreach { case (t, i) =>
      if (i > 0) WriterLease.renewHeld(spark, rawPath)
      t.write(target(t.name).toString)
    }
    if (IndexAlias.installed(spark, rawPath))
      nextGeneration(spark, rawPath) { next =>
        writeAll(new Path(next, _))
        copy.foreach(t => FileUtil.copy(fs, new Path(live, t), fs, new Path(next, t),
          false, spark.sparkContext.hadoopConfiguration))
        IndexStats.markCompacted(fs, next)
      }
    else {
      writeAll(aside(new Path(live), _))
      WriterLease.renewHeld(spark, rawPath)
      swapIn(fs, new Path(live), tables.map(_.name), debt)
      IndexStats.markCompacted(fs, live)
      live
    }
  }

  /** The handoff of a rotating home, inside the caller's
    * [[WriterLease.exclusive]]: `build` writes the next generation,
    * the lease is renewed (ownership must survive the long build) and
    * the home repoints. Returns the new generation's path.
    */
  def nextGeneration(spark: SparkSession, home: String)(build: String => Unit): String = {
    val next = IndexAlias.nextGenerationPath(spark, home)
    build(next)
    WriterLease.renewHeld(spark, home)
    IndexAlias.set(spark, home, next)
    next
  }

  /** Commit the written [[aside]]s of `tables` and `debt`, then roll forward. */
  def swapIn(fs: FileSystem, dir: Path, tables: Seq[String], debt: Seq[String]): Unit = {
    VersionedPointer.write(fs, new Path(dir, Commit + tables.head),
      tables.mkString(",") + "\n" + debt.mkString(","))
    recover(fs, dir, tables.toSet)
  }

  /** Finish (committed) or undo (uncommitted) any rewrite of the
    * tables `only` accepts under `dir`. One listing when idle.
    */
  def recover(fs: FileSystem, dir: Path, only: String => Boolean = _ => true): Unit = {
    val names =
      try fs.listStatus(dir).map(_.getPath.getName).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    def leftovers(prefix: String): Seq[String] =
      names.filter(_.startsWith(prefix)).map(_.stripPrefix(prefix)).filter(only)
    val markers = leftovers(Commit)
    val committed = markers.flatMap(m => VersionedPointer.read(fs, new Path(dir, Commit + m)))
      .map(_.split("\n", -1).map(_.split(",").toSeq.filter(_.nonEmpty)))
    val rolled = committed.flatMap(_(0)).toSet
    // a rename reported as failed must not go on to nest the aside
    def move(src: Path, dst: Path): Unit =
      if (!fs.rename(src, dst)) throw new java.io.IOException(s"rename $src -> $dst failed")
    val displaced = Seq.newBuilder[String]
    committed.foreach { case Array(tables, debt) =>
      tables.filter(t => fs.exists(aside(dir, t))).foreach { t =>
        val live = new Path(dir, t)
        if (fs.exists(live)) { move(live, new Path(dir, Old + t)); displaced += t }
        move(aside(dir, t), live)
      }
      debt.foreach(d => fs.delete(new Path(dir, d), true))
    }
    leftovers(Aside).filterNot(rolled).foreach(t => fs.delete(aside(dir, t), true))
    (leftovers(Old) ++ displaced.result()).distinct
      .foreach(t => fs.delete(new Path(dir, Old + t), true))
    markers.foreach(m => fs.delete(new Path(dir, Commit + m), true))
  }
}
