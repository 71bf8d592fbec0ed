package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Collection administration — the create / list / describe / drop
  * surface every reference backend exposes (Chroma
  * create_collection, Qdrant recreate_collection, Milvus
  * create_collection, ES indices API), re-expressed as managed
  * parquet directories under one catalog root.
  *
  * Collections are immutable-snapshot directories: `create` writes
  * the frame (optionally partitioned by a column — the IVF at-rest
  * layout drops in directly), `load` is a plain parquet read with
  * full pushdown/pruning, `drop` removes the directory. On a real
  * deployment the root is an object-store prefix and none of this
  * code changes — the Hadoop FileSystem API resolves s3a/gs/abfs the
  * same way.
  */
final case class CollectionCatalog(spark: SparkSession, root: String) {
  import CollectionCatalog.RolloverPolicy

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dir(name: String): Path = new Path(root, name)

  /** Writer-lease home for a collection's read-rewrite-swap verbs
    * ([[compact]], [[restore]]) — OUTSIDE the collection directory,
    * because those verbs swap the directory itself and
    * must not destroy the lease they hold mid-verb. Same
    * cross-process fencing as the standing indexes ([[WriterLease]]).
    */
  private def lockHome(name: String): String =
    new Path(root, s".locks/$name").toString

  /** Create (or overwrite) a collection from a DataFrame. */
  def create(name: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(dir(name).toString)
  }

  /** Names of all collections under the root (snapshot storage under
    * the dot-prefixed system directory is not a collection).
    */
  def list(): Seq[String] =
    if (!fs.exists(new Path(root))) Nil
    else fs.listStatus(new Path(root)).filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.startsWith(".")).toSeq.sorted

  def exists(name: String): Boolean = fs.exists(dir(name))

  /** Open a collection as a DataFrame (lazy scan). */
  def load(name: String): DataFrame = spark.read.parquet(dir(name).toString)

  /** One-row profile: row count and schema field names. */
  def describe(name: String): DataFrame = {
    val df = load(name)
    df.agg(count(lit(1)).as("n_rows"))
      .withColumn("collection", lit(name))
      .withColumn("columns", lit(df.columns.mkString(",")))
      .select(col("collection"), col("n_rows"), col("columns"))
  }

  /** Drop a collection (removes the directory). Standing-index homes
    * under it that were enrolled in grouped swaps have their
    * transaction-manifest entries removed first — without this a
    * long-lived catalog's manifest grows monotonically and every
    * future swap rewrites dead members.
    */
  def drop(name: String): Boolean = {
    AliasGroup.removeUnder(fs, txnDir, dir(name))
    fs.delete(dir(name), true)
  }

  /** Rename a collection (Chroma `modify_collection` name change):
    * one filesystem rename — no data movement — refusing to clobber
    * an existing destination. Aliases keep their targets by NAME, so
    * an alias pointing at the old name must be repointed by the
    * caller (same contract as ES, where aliases survive reindex, not
    * rename).
    */
  def rename(from: String, to: String): Unit = {
    require(exists(from), s"no such collection: $from")
    require(!exists(to), s"rename target already exists: $to")
    require(fs.rename(dir(from), dir(to)), s"rename failed: $from -> $to")
  }

  // ---------------------------------------------------------------
  // Aliases (Qdrant update_aliases / ES index aliases) — the
  // zero-downtime reindex primitive: clients address the ALIAS, a
  // rebuild writes a fresh collection, and one atomic swap repoints
  // every subsequent read. Built on [[VersionedPointer]] (shared
  // with the standing-index aliases in [[IndexAlias]]): the swap is
  // a versioned write-aside + rename, and at no instant is the
  // alias absent.
  // ---------------------------------------------------------------

  private def aliasDir(alias: String): Path = new Path(root, s".aliases/$alias")

  /** The catalog's alias-transaction group ([[AliasGroup]]): every
    * grouped swap this catalog coordinates — collection aliases and
    * standing-index homes repointed together — commits through ONE
    * manifest here.
    */
  private def txnDir: Path = new Path(root, ".txn")

  /** Point `alias` at collection `target` (create or repoint — the
    * repoint IS the atomic swap, and readers see the old target until
    * the instant the new version file lands). An alias enrolled in a
    * grouped swap ([[updateAliases]]) repoints through the group
    * manifest, keeping grouped readers consistent.
    */
  def setAlias(alias: String, target: String): Unit = {
    require(exists(target), s"alias target does not exist: $target")
    AliasGroup.setOne(fs, aliasDir(alias), target)
  }

  /** The collection an alias points at, if the alias exists
    * (highest-version file wins).
    */
  def resolveAlias(alias: String): Option[String] =
    AliasGroup.resolveValue(fs, aliasDir(alias))

  // ---- rollover-by-size (ES ILM's hot-phase trigger) -------------

  private def rolloverStateDir(base: String): Path = new Path(root, s".rollover/$base")
  private def rolloverGenName(base: String, n: Long): String = f"$base-$n%06d"

  /** Generations of a rollover collection, oldest first. */
  def rolloverGenerations(base: String): Seq[String] =
    list().filter(_.matches(java.util.regex.Pattern.quote(base) + "-\\d{6}"))

  private def readRolloverState(base: String): Option[(Long, Long)] =
    VersionedPointer.read(fs, rolloverStateDir(base)).map { s =>
      val parts = s.split("\t"); (parts(0).toLong, parts(1).toLong)
    }

  private def writeRolloverState(base: String, gen: Long, docs: Long): Unit =
    VersionedPointer.write(fs, rolloverStateDir(base), s"$gen\t$docs")

  /** Append a batch through the rollover WRITE alias — the ES ILM
    * hot-phase size/doc-count trigger ([[Tenants.applyLifecycle]]
    * covers the age rungs): batches land in the ACTIVE generation
    * collection `<base>-NNNNNN`; once the active generation's doc
    * count or byte size crosses the policy, a fresh (empty, schema-
    * stable) next generation is created and the `<base>.write` alias
    * atomically repoints at it — subsequent batches land there, the
    * filled generation is sealed (immutable: compactable, snapshotable
    * and ageable like any collection), and readers of
    * [[openRollover]] see every generation's union throughout.
    *
    * Cost shape: the doc count accumulates in a [[VersionedPointer]]
    * manifest at write time (one small read+write per batch — never a
    * count over the standing generation), and the byte probe, when a
    * byte trigger is set, lists only the ACTIVE generation — whose
    * size the policy itself bounds. Returns the generation the NEXT
    * batch will land in.
    */
  def writeRollover(base: String, df: DataFrame, policy: RolloverPolicy): String =
    WriterLease.exclusive(spark, lockHome(s"rollover-$base")) {
      val (gen, docs) = readRolloverState(base).getOrElse((1L, 0L))
      val active = rolloverGenName(base, gen)
      val batch = df.localCheckpoint() // counted AND written
      val n = batch.count()
      if (!exists(active)) create(active, batch)
      else batch.write.mode("append").parquet(dir(active).toString)
      if (resolveAlias(s"$base.write").isEmpty) setAlias(s"$base.write", active)
      val newDocs = docs + n
      val overBytes = policy.maxBytes.exists(_ <= fs.getContentSummary(dir(active)).getLength)
      if (policy.maxDocs.exists(newDocs >= _) || overBytes) {
        val next = rolloverGenName(base, gen + 1)
        // the fresh generation exists (schema-stable, empty) BEFORE
        // the alias repoints — a reader resolving the write alias
        // always finds a scannable collection
        create(next, batch.where(lit(false)))
        setAlias(s"$base.write", next)
        writeRolloverState(base, gen + 1, 0L)
        next
      } else {
        writeRolloverState(base, gen, newDocs)
        active
      }
    }

  /** Read the union of every generation of a rollover collection —
    * the ES read alias spanning all rolled indices. Writers keep
    * appending through [[writeRollover]] concurrently; each
    * generation is a plain collection scan with full pushdown.
    */
  def openRollover(base: String): DataFrame = {
    val gens = rolloverGenerations(base)
    require(gens.nonEmpty, s"no rollover collection '$base' under $root")
    gens.map(load).reduce(_.unionByName(_))
  }

  /** Atomically apply a BATCH of alias repoints, optionally together
    * with standing-index generation swaps — the ES `update_aliases`
    * `actions` array: `aliasActions` are (alias, target collection),
    * `indexSwaps` are (index home, built generation path) as passed
    * to [[IndexAlias.set]]. All of them commit in ONE [[AliasGroup]]
    * manifest write, so a reader holding a [[groupSnapshot]] — or
    * using [[openWithIndexes]] — never observes a mixed state (new
    * collection through an old index generation or vice versa).
    */
  def updateAliases(aliasActions: Seq[(String, String)],
                    indexSwaps: Seq[(String, String)] = Nil): Unit = {
    require(aliasActions.nonEmpty || indexSwaps.nonEmpty, "empty update_aliases")
    val aliasEntries = aliasActions.map { case (a, target) =>
      require(exists(target), s"alias target does not exist: $target")
      aliasDir(a) -> target
    }
    val indexEntries = indexSwaps.map { case (home, target) =>
      val t = new Path(target)
      require(fs.exists(t), s"index swap target does not exist: $target")
      require(t.getParent == new Path(home).makeQualified(fs.getUri, fs.getWorkingDirectory) ||
        t.getParent == new Path(home),
        s"index swap target must be a generation under $home: $target")
      IndexAlias.ptrDir(home) -> t.getName
    }
    AliasGroup.swap(fs, txnDir, aliasEntries ++ indexEntries)
    indexSwaps.foreach { case (home, _) => IndexAlias.invalidateResolve(home) }
  }

  /** One consistent view of every alias and index home enrolled in
    * this catalog's transaction group: a single manifest read, the
    * version every [[AliasGroup.valueIn]] lookup answers from.
    */
  def groupSnapshot(): Map[String, String] = AliasGroup.snapshot(fs, txnDir)

  /** Open a collection by alias TOGETHER with the concrete paths of
    * its standing indexes, from ONE group-manifest version — the
    * read-side counterpart of [[updateAliases]]: across a concurrent
    * grouped swap this returns either the old collection with the
    * old index generations or the new with the new, never a mix.
    * (Two independent `open` + `IndexAlias.resolve` calls cannot
    * promise that, exactly as two separate ES requests cannot.)
    */
  def openWithIndexes(alias: String,
                      indexHomes: Seq[String]): (DataFrame, Map[String, String]) = {
    val snap = groupSnapshot()
    val target = AliasGroup.valueIn(fs, snap, aliasDir(alias)).getOrElse(alias)
    val idx = indexHomes.map { h =>
      h -> AliasGroup.valueIn(fs, snap, IndexAlias.ptrDir(h))
        .fold(h)(g => new Path(h, g).toString)
    }.toMap
    (load(target), idx)
  }

  /** All aliases as (alias, target), sorted. */
  def listAliases(): Seq[(String, String)] = {
    val aRoot = new Path(root, ".aliases")
    if (!fs.exists(aRoot)) Nil
    else fs.listStatus(aRoot).filter(f => f.isDirectory && !f.getPath.getName.startsWith("."))
      .map(f => f.getPath.getName)
      .flatMap(a => resolveAlias(a).map(a -> _)).toSeq.sorted
  }

  /** Drop an alias, unenrolling it from the transaction group first
    * so the manifest does not keep serving (or rewriting) a dead
    * member key.
    */
  def dropAlias(alias: String): Boolean = {
    val d = aliasDir(alias)
    val existed = fs.exists(d)
    AliasGroup.groupOf(fs, d).foreach(g => AliasGroup.remove(fs, g, Seq(d)))
    fs.delete(d, true) || existed
  }

  /** Open a collection by name OR alias (aliases win, like ES search
    * routing): the indirection every client call sits behind, so a
    * reindex + [[setAlias]] swap is invisible to readers.
    */
  def open(nameOrAlias: String): DataFrame =
    load(resolveAlias(nameOrAlias).getOrElse(nameOrAlias))

  /** Point-in-time snapshot (the Qdrant snapshot / ES snapshot API):
    * copies the collection's current immutable files under
    * `.snapshots/<name>/<n>` and returns the snapshot id. Snapshots
    * are plain directories — on an object store this is a prefix
    * copy (or, with an immutable-file ingest discipline, a manifest
    * of file names, which is how the native engines take snapshots
    * without copying bytes).
    */
  def snapshot(name: String): String = {
    val snapRoot = new Path(root, s".snapshots/$name")
    fs.mkdirs(snapRoot)
    val n = fs.listStatus(snapRoot).count(_.isDirectory)
    val id = s"$name/$n"
    org.apache.hadoop.fs.FileUtil.copy(fs, dir(name), fs,
      new Path(snapRoot, n.toString), false, spark.sparkContext.hadoopConfiguration)
    id
  }

  /** Read a snapshot directly, without restoring it — the
    * point-in-time (ES PIT / Qdrant consistent-snapshot read) handle:
    * keyset pagination against a snapshot yields stable pages no
    * matter what concurrent upserts/deletes do to the live
    * collection.
    */
  def loadSnapshot(snapshotId: String): DataFrame = {
    val Array(name, n) = snapshotId.split("/")
    val src = new Path(root, s".snapshots/$name/$n")
    require(fs.exists(src), s"no such snapshot: $snapshotId")
    spark.read.parquet(src.toString)
  }

  /** Snapshot ids available for a collection, oldest first. */
  def listSnapshots(name: String): Seq[String] = {
    val snapRoot = new Path(root, s".snapshots/$name")
    if (!fs.exists(snapRoot)) Nil
    else fs.listStatus(snapRoot).filter(_.isDirectory)
      .map(s => s"$name/${s.getPath.getName}").toSeq.sorted
  }

  /** Restore a collection to a snapshot: a write-aside copy swapped
    * in through [[LayoutRewrite]], so a crash at any point leaves the
    * collection — once the next compact / restore recovers it —
    * exactly as before or exactly as the snapshot.
    */
  def restore(snapshotId: String): Unit = {
    val Array(name, n) = snapshotId.split("/")
    val src = new Path(root, s".snapshots/$name/$n")
    require(fs.exists(src), s"no such snapshot: $snapshotId")
    rewrite(name)(out => org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, out, false,
      spark.sparkContext.hadoopConfiguration))
    ()
  }

  /** Replace collection `name` with what `write` puts at the given
    * aside path, under the collection's writer lease, and return what
    * `write` returned. The collection directory is the table and the
    * catalog root its layout: leftovers of an interrupted rewrite of
    * THIS collection are recovered first (other collections have
    * their own leases).
    */
  private def rewrite[A](name: String)(write: Path => A): A =
    WriterLease.exclusive(spark, lockHome(name)) {
      val rootPath = new Path(root)
      LayoutRewrite.recover(fs, rootPath, _ == name)
      val r = write(LayoutRewrite.aside(rootPath, name))
      LayoutRewrite.swapIn(fs, rootPath, Seq(name), Nil)
      r
    }

  /** Compact a collection's small files (the Qdrant segment
    * optimizer / Delta OPTIMIZE role): continuous ingest —
    * per-micro-batch appends, incremental index appends — leaves a
    * long tail of small parquet files, and at 100 TB the scan's task
    * count and footer overhead are governed by file count, not data
    * size. Rewrites the collection with `targetFileBytes`-sized
    * output files (per partition directory when partitioned), written
    * aside and swapped in like [[restore]]. Returns (files before,
    * after).
    */
  def compact(name: String, targetFileBytes: Long = 128L << 20,
              partitionBy: Seq[String] = Nil): (Long, Long) = {
    val before = rewrite(name) { out =>
      val before = LayoutRewrite.parquetFiles(fs, dir(name))
      val bytes = fs.getContentSummary(dir(name)).getLength
      val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val df = load(name)
      val w = (if (partitionBy.nonEmpty) df.repartition(nFiles, partitionBy.map(col): _*)
        else df.repartition(nFiles)).write.mode("overwrite")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(out.toString)
      before
    }
    (before, LayoutRewrite.parquetFiles(fs, dir(name)))
  }

  /** Reindex (ES `_reindex`): materialize an optionally filtered and
    * transformed copy of a source collection (or alias) as a new
    * collection. `filterJson` is a FilterDsl wire filter (the ES
    * reindex `query` — malformed wire fails fast, never a silent
    * match-all); `transform` plays the `script` role as an arbitrary
    * DataFrame function. Both land in ONE declarative write plan, so
    * the predicate and any dropped columns push into the source scan
    * and rows stream scan→write without a driver hop — reindexing
    * 100 TB is one distributed copy job. With `alias` set the alias
    * repoints to the destination after the write completes — the
    * classic zero-downtime mapping-change recipe (reindex + swap);
    * readers of the alias never observe a partial destination.
    * Returns the destination row count.
    *
    * `indexSwaps` (index home → freshly built generation path, e.g.
    * from `VectorIndex.buildFrom` at `IndexAlias.nextGenerationPath`)
    * repoint the collection's STANDING indexes in the SAME atomic
    * commit as the alias — the full zero-downtime recipe when a
    * reindex changes what the indexes must serve: a grouped reader
    * ([[openWithIndexes]]) sees old-collection+old-indexes or
    * new+new, never a mixed generation.
    */
  def reindex(source: String, dest: String,
              filterJson: Option[String] = None,
              transform: DataFrame => DataFrame = identity,
              partitionBy: Seq[String] = Nil,
              alias: Option[String] = None,
              indexSwaps: Seq[(String, String)] = Nil): Long = {
    require(source != dest, "reindex source and destination must differ")
    require(indexSwaps.isEmpty || alias.isDefined,
      "indexSwaps without an alias to swap alongside — use IndexAlias.setAll directly")
    val src = open(source)
    val filtered = filterJson
      .map(j => src.filter(graft.api.FilterDsl.fromJson(j).toColumn))
      .getOrElse(src)
    create(dest, transform(filtered), partitionBy)
    alias.foreach(a => updateAliases(Seq(a -> dest), indexSwaps))
    load(dest).count()
  }
}

object CollectionCatalog {

  /** Rollover trigger thresholds for [[CollectionCatalog.writeRollover]]
    * — ES ILM's `max_docs` / `max_primary_shard_size` hot-phase
    * conditions. A rung set to `None` is disabled; at least one must
    * be armed.
    */
  final case class RolloverPolicy(maxDocs: Option[Long] = None,
                                  maxBytes: Option[Long] = None) {
    require(maxDocs.nonEmpty || maxBytes.nonEmpty,
      "a rollover policy needs at least one armed trigger")
  }
}
