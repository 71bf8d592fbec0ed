package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FileStatus, FileUtil, Path, RawLocalFileSystem}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.TextIndex
import graft.operators.{Dedup, IndexCache, VectorIndex}
import graft.sources.{CollectionCatalog, IndexAlias, IndexSnapshot, WriterLease}

/** The local filesystem under the `faulty` scheme, with injectable
  * crashes: renames and deletes of the direct children of a watched
  * directory (and of the entries of its `.commit-*` markers) are
  * counted, and the plan's k-th one throws — before it runs, or with
  * `after` once it has.
  */
class FaultyFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = FaultyFs.Uri
  // the local statuses load permissions through a `file:` URI of their
  // own path; plain statuses keep them out of it
  private def plain(st: FileStatus): FileStatus = new FileStatus(st.getLen, st.isDirectory,
    st.getReplication, st.getBlockSize, st.getModificationTime, st.getPath)
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
  override def rename(src: Path, dst: Path): Boolean =
    FaultyFs.step(src, s"rename ${src.getName} -> ${dst.getName}")(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean =
    FaultyFs.step(p, s"delete ${p.getName}")(super.delete(p, recursive))
}

object FaultyFs {
  val Uri: java.net.URI = java.net.URI.create("faulty:///")

  final class Plan(val failAt: Int, val after: Boolean) {
    val ops = new AtomicInteger()
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  }

  private val plans = new ConcurrentHashMap[String, Plan]()
  private def key(p: Path): String = Path.getPathWithoutSchemeAndAuthority(p).toString

  def watch(dirs: Seq[String], failAt: Int, after: Boolean = false): Plan = {
    val plan = new Plan(failAt, after)
    dirs.foreach(d => plans.put(key(new Path(d)), plan))
    plan
  }

  def unwatch(dirs: Seq[String]): Unit = dirs.foreach(d => plans.remove(key(new Path(d))))

  def step[A](p: Path, what: String)(op: => A): A = {
    val parent = p.getParent
    val dir =
      if (parent != null && parent.getName.startsWith(".commit-")) parent.getParent else parent
    val plan = if (dir == null) null else plans.get(key(dir))
    if (plan == null) op
    else {
      val k = plan.ops.incrementAndGet()
      plan.log.add(what)
      def fault(): Nothing = throw new java.io.IOException(s"injected fault at op $k: $what")
      if (k == plan.failAt && !plan.after) fault()
      val r = op
      if (k == plan.failAt && plan.after) fault()
      r
    }
  }
}

/** Crash safety of every layout rewrite: for each rename/delete k a
  * verb issues on its layout directory, a fresh copy of the layout is
  * cut short at k (and once right after its last operation), the
  * next lease-holding verb recovers it, and every read must then equal
  * EXACTLY the reads before the verb or exactly those after it — never
  * a lost table, never a mix.
  */
class LayoutRewriteFaultSpec extends SparkSpec {

  private lazy val conf = {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    spark.sparkContext.hadoopConfiguration
  }
  private lazy val fs = new Path("faulty:///").getFileSystem(conf)

  private def faultyDir(prefix: String): String = { conf; "faulty://" + IndexCache.tempDir(prefix) }

  /** Runs the sweep and returns, per fault, the operation cut short
    * and whether the recovered layout reads as after the verb.
    */
  private def sweep[R](kind: String, template: String, watched: String => Seq[String],
                       verb: String => Unit, recover: String => Unit,
                       read: String => R): Seq[(String, Boolean)] = {
    def copy(tag: String): String = {
      val dst = s"$template-${kind.replace(' ', '-')}-$tag"
      assert(FileUtil.copy(fs, new Path(template), fs, new Path(dst), false, conf))
      dst
    }
    val pre = read(copy("pre"))
    val clean = copy("clean")
    val counted = FaultyFs.watch(watched(clean), failAt = 0)
    try verb(clean) finally FaultyFs.unwatch(watched(clean))
    val post = read(clean)
    val n = counted.ops.get
    assert(n > 0, s"$kind: the verb issued no rename/delete on its layout")
    val ops = counted.log.toArray.map(_.toString)
    // the faulted runs touch disjoint copies, so they share the
    // session a few at a time
    implicit val ec: ExecutionContext = sweepPool
    val runs = ((1 to n).map(_ -> false) :+ (n -> true)).map { case (k, after) => Future {
      val p = copy(s"k$k${if (after) "-after" else ""}")
      val dirs = watched(p)
      FaultyFs.watch(dirs, k, after)
      val e = try { verb(p); None } catch { case e: Exception => Some(e) }
      finally FaultyFs.unwatch(dirs)
      val what = s"$kind: fault ${if (after) "after" else "at"} op $k (${ops(k - 1)})"
      assert(e.exists(x => Iterator.iterate[Throwable](x)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("injected fault"))),
        s"$what: the injected fault did not surface (${e.map(_.toString)})")
      val got = try { recover(p); read(p) } catch {
        case x: Exception => fail(s"$what: the recovered layout is unreadable: $x")
      }
      assert(got == pre || got == post,
        s"$what: reads neither as before nor as after the verb\n got: $got\n pre: $pre\npost: $post")
      ops(k - 1) -> (got == post)
    }}
    // every run finishes before the first failure (in k order) is raised
    runs.map(r => Await.ready(r, Duration.Inf).value.get).map(_.get)
  }

  private lazy val sweepPool =
    ExecutionContext.fromExecutorService(java.util.concurrent.Executors.newFixedThreadPool(6))

  override def afterAll(): Unit = { sweepPool.shutdown(); super.afterAll() }

  private def lease(p: String): Unit = WriterLease.exclusive(spark, p)(())

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def debt(stats: DataFrame): Map[String, Any] =
    stats.collect().map(r => r.getAs[String]("table") -> r.getAs[Any]("debt_rows")).toMap

  private def vectors(n: Int, seed: Int, id0: Long = 0L): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (id0 + i, Array.fill(16)(rnd.nextGaussian().toFloat), i % 4)
    }.toDF("vec_id", "embedding", "label")
  }

  private lazy val queries = vectors(8, 99, 5000L)
    .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  test("vector index: in-place compact and reband read as before or after at every fault") {
    import spark.implicits._
    val tpl = faultyDir("graft-fault-vec") + "/idx"
    VectorIndex.buildFrom(spark, vectors(400, 1), tpl)
    VectorIndex.append(spark, vectors(40, 2, 1000L), tpl)
    VectorIndex.delete(spark, tpl, Seq(1L, 2L, 3L, 1001L))
    VectorIndex.setPayload(spark, tpl, Seq((5L, 9), (6L, 9)).toDF("vec_id", "label"))
    def read(p: String) = (
      rows(VectorIndex.searchIvf(spark, p, queries, cached = false)),
      rows(VectorIndex.searchLsh(spark, p, queries, cached = false)),
      debt(VectorIndex.stats(spark, p)))
    val compacted = sweep("vector compact", tpl, Seq(_), VectorIndex.compact(spark, _), lease, read)
    assert(compacted.exists(!_._2) && compacted.exists(_._2),
      s"faults before and after the commit must both be exercised: $compacted")

    def readBanding(p: String) = {
      VectorIndex.invalidate(spark, p)
      val m = VectorIndex.readMeta(spark, p)
      (rows(VectorIndex.searchLsh(spark, p, queries, cached = false)), m.lshBits, m.lshBands)
    }
    sweep("vector reband", tpl, Seq(_), VectorIndex.reband(spark, _), lease, readBanding)
  }

  test("vector index: in-place restore and recalibrate read as before or after at every fault") {
    import spark.implicits._
    // restore: the snapshot predates an append, deletes and a payload
    // update, so the swap replaces tables AND drops the debt tables
    // the snapshot lacks
    val tpl = faultyDir("graft-fault-restore") + "/idx"
    VectorIndex.buildFrom(spark, vectors(300, 3), tpl)
    val snap = IndexSnapshot.create(spark, tpl)
    VectorIndex.append(spark, vectors(30, 4, 1000L), tpl)
    VectorIndex.delete(spark, tpl, Seq(1L, 2L, 1001L))
    VectorIndex.setPayload(spark, tpl, Seq((5L, 9)).toDF("vec_id", "label"))
    def read(p: String) = (rows(VectorIndex.searchIvf(spark, p, queries, cached = false)),
      debt(VectorIndex.stats(spark, p)))
    val restored = sweep("vector restore", tpl, Seq(_), IndexSnapshot.restore(spark, _, snap),
      lease, read)
    assert(restored.exists(!_._2) && restored.exists(_._2),
      s"faults before and after the commit must both be exercised: $restored")

    // recalibrate: an adaptive geometry (32 lists) whose persisted
    // probe default is stale, so the refreshed params really swap in
    val cal = faultyDir("graft-fault-recal") + "/idx"
    val rnd = new scala.util.Random(5)
    val centers = Seq.fill(32)(Array.fill(16)(rnd.nextGaussian().toFloat))
    VectorIndex.buildFrom(spark, (0 until 32 * 40).map { i =>
      (i.toLong, centers(i % 32).map(v => v + (rnd.nextGaussian() * 0.05).toFloat), i % 4)
    }.toDF("vec_id", "embedding", "label"), cal, nlist = 32)
    val stale = spark.read.parquet(s"$cal/meta/params").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.updated("default_nprobe", 1L)
    stale.toSeq.toDF("param", "value").write.mode("overwrite").parquet(s"$cal/meta/params")
    def readParams(p: String) = {
      VectorIndex.invalidate(spark, p)
      val m = VectorIndex.readMeta(spark, p)
      (rows(VectorIndex.searchIvf(spark, p, queries, cached = false)),
        m.defaultNProbe, m.defaultPool, m.budgetBound)
    }
    val recal = sweep("vector recalibrate", cal, Seq(_),
      p => { VectorIndex.recalibrate(spark, p); () }, lease, readParams)
    assert(recal.exists(!_._2) && recal.exists(_._2),
      s"faults before and after the commit must both be exercised: $recal")
  }

  test("text index: in-place compact reads as before or after at every fault") {
    import spark.implicits._
    val docs = (0L until 30L).map(i =>
      (i, s"alpha bravo charlie token$i delta echo")).toDF("doc_id", "text")
    val tpl = faultyDir("graft-fault-text") + "/tix"
    TextIndex.write(docs, tpl)
    TextIndex.append((30L until 36L).map(i => (i, s"alpha token$i foxtrot")).toDF("doc_id", "text"), tpl)
    TextIndex.delete(docs.filter(col("doc_id") < 5), tpl)
    def read(p: String) = (rows(TextIndex.bm25AtRest(spark, p, Seq("alpha", "bravo", "foxtrot"))),
      debt(TextIndex.stats(spark, p)))
    sweep("text compact", tpl, Seq(_), TextIndex.compact(spark, _), lease, read)
  }

  test("MinHash and cluster indexes: in-place compact reads as before or after at every fault") {
    import spark.implicits._
    val docs = (0L until 12L).map { i =>
      val text =
        if (i <= 1L) "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
        else if (i <= 3L) "kilo lima mike november oscar papa quebec romeo sierra tango"
        else s"uniform unique$i words$i here$i that$i never$i collide$i with$i others$i"
      (i, text)
    }.toDF("doc_id", "text")
    val probe = Seq((9000L, "kilo lima mike november oscar papa quebec romeo sierra tango"))
      .toDF("doc_id", "text")

    val mh = faultyDir("graft-fault-mh") + "/dix"
    Dedup.writeMinhashIndex(docs, mh)
    Dedup.deleteFromMinhashIndex(spark, Seq(2L, 7L), mh)
    def readMh(p: String) = (rows(Dedup.dedupAgainstIndex(spark, probe, p)),
      debt(Dedup.indexStats(spark, p)))
    sweep("minhash compact", mh, Seq(_), Dedup.compactMinhashIndex(spark, _), lease, readMh)

    val cl = faultyDir("graft-fault-cluster") + "/cix"
    Dedup.writeClusterIndex(docs, cl)
    Dedup.deleteFromClusterIndex(spark, Seq(0L), cl)
    def readCl(p: String) = (rows(Dedup.readClusterIndex(spark, p)),
      debt(Dedup.clusterIndexStats(spark, p)))
    sweep("cluster compact", cl, Seq(_), Dedup.compactClusterIndex(spark, _), lease, readCl)
  }

  test("rotating home: a compaction cut short at the pointer swap reads as before or after") {
    import spark.implicits._
    val docs = (0L until 10L).map(i =>
      (i, s"kilo lima mike token$i november oscar papa quebec")).toDF("doc_id", "text")
    val probe = Seq((9000L, "kilo lima mike token5 november oscar papa quebec"))
      .toDF("doc_id", "text")
    val home = faultyDir("graft-fault-rot") + "/home"
    Dedup.rotateMinhashIndex(docs, home)
    Dedup.deleteFromMinhashIndex(spark, Seq(5L), home)
    def watched(h: String) = {
      val gens = IndexAlias.generations(spark, h)
      Seq(h, s"$h/.ptr") ++ (gens :+ new Path(IndexAlias.nextGenerationPath(spark, h)).getName)
        .map(g => s"$h/$g")
    }
    def read(h: String) = (rows(Dedup.dedupAgainstIndex(spark, probe, h)),
      debt(Dedup.indexStats(spark, h)))
    val outcomes = sweep("rotating compact", home, watched, Dedup.compactMinhashIndex(spark, _),
      lease, read)
    assert(outcomes.exists(!_._2) && outcomes.exists(_._2),
      s"both sides of the pointer swap must be exercised: $outcomes")
  }

  test("catalog: compact and restore read as before or after at every fault") {
    import spark.implicits._
    val root = faultyDir("graft-fault-cat") + "/cat"
    val cat = CollectionCatalog(spark, root)
    cat.create("docs", (0 until 40).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(4))
    val snap = cat.snapshot("docs")
    cat.create("docs", (0 until 25).map(i => (i.toLong, s"w$i")).toDF("id", "v").repartition(3))
    def read(r: String) = rows(CollectionCatalog(spark, r).load("docs"))
    def recover(r: String): Unit = { CollectionCatalog(spark, r).compact("docs"); () }
    sweep("catalog compact", root, Seq(_), r => { CollectionCatalog(spark, r).compact("docs"); () },
      recover, read)
    val restored = sweep("catalog restore", root, Seq(_), CollectionCatalog(spark, _).restore(snap),
      recover, read)
    assert(restored.exists(!_._2) && restored.exists(_._2),
      s"faults before and after the commit must both be exercised: $restored")
  }
}
