package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  test("q_dedup_exact finds exactly the constructed exact copies") {
    val rows = Dedup.qDedupExact(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val dups = rows.filter(_.getAs[Boolean]("is_dup"))
    val keepers = rows.filterNot(_.getAs[Boolean]("is_dup"))
    // every constructed copy (id+1e9 of id%7==0) is flagged with its original as keeper
    dups.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(id >= 1000000000L && (id - 1000000000L) % 7 == 0)
      assert(r.getAs[Long]("keeper_id") == id - 1000000000L)
    }
    assert(keepers.forall(r => r.getAs[Long]("doc_id") == r.getAs[Long]("keeper_id")))
    assert(dups.length == keepers.length) // copies pair 1:1 with originals
  }

  test("connectedComponents resolves chains and singleton pairs") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(edges).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("comp")).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("connectedComponents: bounded driver fast path equals the distributed loop") {
    import spark.implicits._
    // chains, a star, reversed edges, a long path crossing id order,
    // self-contained singleton pairs — labels must agree edge-for-edge
    val rnd = new scala.util.Random(11)
    val edges = (Seq((9L, 2L), (2L, 7L), (30L, 10L), (10L, 20L), (20L, 30L)) ++
      (0 until 200).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)))
      .toDF("a", "b")
    def labels(driverLimit: Long) =
      Dedup.connectedComponents(edges, driverLimit = driverLimit).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("comp")).toMap
    val fast = labels(Long.MaxValue)
    val dist = labels(-1L) // forces the iterative path
    assert(fast == dist,
      s"driver union-find and distributed min-propagation disagree: " +
        s"${(fast.toSet diff dist.toSet).take(5)} vs ${(dist.toSet diff fast.toSet).take(5)}")
  }

  test("q_dup_clusters groups every constructed duplicate with its original") {
    val comp = Dedup.qDupClusters(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val docIds = Tables.documents(spark, sfDir).select("doc_id")
      .collect().map(_.getLong(0))
    // exact copies always share their original's cluster
    docIds.filter(_ % 7 == 0).foreach { id =>
      assert(comp.get(id + 1000000000L).contains(comp(id)))
    }
    // cluster ids are component minima: every member's id >= its cluster id,
    // and the cluster id itself is a member
    comp.foreach { case (id, c) => assert(c <= id && comp(c) == c) }
    // docs divisible by 77 chain exact+near dups into one cluster
    docIds.filter(_ % 77 == 0).foreach { id =>
      if (comp.contains(id + 2000000000L))
        assert(comp(id + 2000000000L) == comp(id) && comp(id + 1000000000L) == comp(id))
    }
  }

  test("cluster consumers share ONE CC resolution per (session, corpus)") {
    import spark.implicits._
    // a private corpus dir so no other test's materialized frame can
    // pre-satisfy (or double-count) the resolution this test pins
    val d = graft.operators.IndexCache.tempDir("graft-cc-once")
    Tables.documents(spark, sfDir).limit(200)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val before = Dedup.ccResolutions.get()
    val clusters = Dedup.qDupClusters(spark, d).collect()
    val best = Dedup.qDedupKeepBest(spark, d).collect()
    val soft = Dedup.qDedupSoft(spark, d).collect()
    assert(clusters.nonEmpty && best.nonEmpty && soft.nonEmpty)
    assert(Dedup.ccResolutions.get() - before == 1,
      s"expected exactly one CC resolution across the three consumers, " +
        s"got ${Dedup.ccResolutions.get() - before}")
    // and the consumers agree with the frame they share: every
    // keep-best keeper is a member of its cluster, every multi-member
    // soft weight matches the cluster size
    val byCluster = clusters.groupBy(_.getAs[Long]("cluster_id"))
      .map { case (c, rs) => c -> rs.map(_.getAs[Long]("doc_id")).toSet }
    best.foreach { r =>
      assert(byCluster(r.getAs[Long]("cluster_id")).contains(r.getAs[Long]("keeper_id")))
      assert(r.getAs[Long]("n_members") == byCluster(r.getAs[Long]("cluster_id")).size)
    }
    val softW = soft.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("weight")).toMap
    byCluster.foreach { case (_, members) =>
      members.foreach(m => assert(
        math.abs(softW(m) - 1.0 / members.size) < 1e-5))
    }
  }

  test("cluster index: batch-incremental appends equal the full corpus resolution") {
    val all = Dedup.augmentedDocs(spark, sfDir)
    val home = graft.operators.IndexCache.tempDir("graft-cluster-idx") + "/cidx"
    // corpus arrives as three crawls: originals, exact copies, near dups
    val base = all.filter(col("doc_id") < 1000000000L)
    val batch1 = all.filter(col("doc_id") >= 1000000000L && col("doc_id") < 2000000000L)
    val batch2 = all.filter(col("doc_id") >= 2000000000L)
    Dedup.writeClusterIndex(base, home)
    Dedup.appendToClusterIndex(batch1, home)
    Dedup.appendToClusterIndex(batch2, home)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val incremental = toMap(Dedup.readClusterIndex(spark, home))
    val full = toMap(Dedup.clustersOf(all))
    assert(incremental == full,
      s"incremental drift: only-inc=${(incremental.toSet -- full.toSet).take(5)} " +
        s"only-full=${(full.toSet -- incremental.toSet).take(5)}")
  }

  test("cluster index: a bridging batch doc merges standing clusters with flat redirects") {
    import spark.implicits._
    val home = graft.operators.IndexCache.tempDir("graft-cluster-bridge") + "/cidx"
    // two near-dup clusters over overlapping-but-distinct windows of
    // one token line: A = t1..t12, B = t7..t18 — trigram Jaccard
    // A↔B = 4/16 = 0.25 (separate at 0.5), while the later bridge
    // window t4..t15 hits 7/13 ≈ 0.54 with BOTH
    val base = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k"), // 9/10 with doc 1
      (10L, "g h i j k l m n o p q r"),
      (11L, "g h i j k l m n o p q"), // 9/10 with doc 10
      (50L, "totally unrelated content words here only once")
    ).toDF("doc_id", "text")
    Dedup.writeClusterIndex(base, home)
    val before = Dedup.readClusterIndex(spark, home).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(before == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
    // batch 1: the bridging window merges the two standing clusters
    Dedup.appendToClusterIndex(Seq(
      (100L, "d e f g h i j k l m n o")).toDF("doc_id", "text"), home)
    val after = Dedup.readClusterIndex(spark, home).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(after == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 100L -> 1L),
      s"bridge failed: $after")
    // batch 2: an exact copy of the untouched singleton joins it, and
    // the earlier redirect still resolves in one hop (flat merges)
    Dedup.appendToClusterIndex(Seq(
      (200L, "totally unrelated content words here only once")).toDF("doc_id", "text"), home)
    val last = Dedup.readClusterIndex(spark, home).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(last(200L) == 50L && last(50L) == 50L && last(10L) == 1L, s"got $last")
    // agreement with the one-shot resolution of the union corpus
    val union = base.unionByName(Seq(
      (100L, "d e f g h i j k l m n o"),
      (200L, "totally unrelated content words here only once")).toDF("doc_id", "text"))
    val oneShot = Dedup.clustersOf(union).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(last == oneShot, s"inc $last != one-shot $oneShot")
  }

  test("cluster index: delete equals rebuild-without (relabel, split, dissolve)") {
    import spark.implicits._
    val home = graft.operators.IndexCache.tempDir("graft-cluster-del") + "/cidx"
    val bridge = Seq((100L, "d e f g h i j k l m n o"))
    val base = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k"),
      (10L, "g h i j k l m n o p q r"),
      (11L, "g h i j k l m n o p q"),
      (50L, "totally unrelated content words here only once"),
      (51L, "totally unrelated content words here only once"),
      (52L, "totally unrelated content words here only once")
    )
    Dedup.writeClusterIndex(base.toDF("doc_id", "text"), home)
    // the bridge merges {1,2} and {10,11} into one cluster (and
    // leaves a 10→1 merge redirect for the delete path to purge)
    Dedup.appendToClusterIndex(bridge.toDF("doc_id", "text"), home)
    var deleted = Set.empty[Long]
    def view() = Dedup.readClusterIndex(spark, home).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    def assertRebuildWithout(extra: Seq[(Long, String)] = Nil): Unit = {
      val live = (base ++ bridge ++ extra).filterNot(d => deleted.contains(d._1))
      val full = Dedup.clustersOf(live.toDF("doc_id", "text")).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
      assert(view() == full, s"after deleting $deleted: inc ${view()} != rebuild $full")
    }
    def delete(ids: Long*): Unit = {
      Dedup.deleteFromClusterIndex(spark, ids, home); deleted ++= ids
    }
    // RELABEL: deleting the exact-triple's min member moves its
    // cluster id to the new min (51) without touching membership
    delete(50L)
    assertRebuildWithout()
    assert(view()(51L) == 51L && view()(52L) == 51L)
    // SPLIT: deleting the bridge doc splits the merged cluster back
    // into {1,2} and {10,11} — which also requires purging the stale
    // 10→1 redirect (label 10 legitimately reappears)
    delete(100L)
    assertRebuildWithout()
    assert(view()(10L) == 10L && view()(1L) == 1L)
    // DISSOLVE: deleting doc 1 leaves doc 2 with no surviving edge —
    // its cluster vanishes, exactly as a rebuild without 1 resolves
    delete(1L)
    assertRebuildWithout()
    assert(!view().contains(2L))
    // APPEND AFTER DELETE: an exact copy of the dissolved doc
    // re-clusters it under a fresh label (superseding its dissolved
    // marker), and deleted docs are never evidence for the batch
    val late = Seq((300L, "a b c d e f g h i j k"))
    Dedup.appendToClusterIndex(late.toDF("doc_id", "text"), home)
    assertRebuildWithout(late)
    assert(view()(2L) == 2L && view()(300L) == 2L)
    // REPLAY / NO-OP: re-deleting an already-deleted doc and deleting
    // a doc with no cluster change nothing
    val before = view()
    Dedup.deleteFromClusterIndex(spark, Seq(1L, 999999L), home)
    assert(view() == before)

    // COMPACT (in place): the folded view is unchanged, lifecycle
    // debt clears, and retracted docs leave the evidence tables
    Dedup.compactClusterIndex(spark, home)
    assertRebuildWithout(late)
    val stats = Dedup.clusterIndexStats(spark, home).collect()
      .map(r => r.getAs[String]("table") -> r.getAs[Long]("debt_rows")).toMap
    assert(stats("tombstones") == 0L && stats("clusters") == 0L, s"debt after compact: $stats")
    val postDocs = spark.read.parquet(s"$home/postings")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(deleted.forall(d => !postDocs.contains(d)),
      s"retracted docs still in postings: ${deleted.intersect(postDocs)}")
    // the index stays appendable after compaction
    val later = late :+ (301L -> "g h i j k l m n o p q r")
    Dedup.appendToClusterIndex(Seq(later.last).toDF("doc_id", "text"), home)
    assertRebuildWithout(later)
  }

  test("cluster index: replayed appends are no-ops (no evidence duplication)") {
    import spark.implicits._
    val home = graft.operators.IndexCache.tempDir("graft-cluster-replay") + "/cidx"
    val base = Seq((1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k")).toDF("doc_id", "text")
    val batch = Seq((10L, "g h i j k l m n o p q r"),
      (11L, "g h i j k l m n o p q")).toDF("doc_id", "text")
    Dedup.writeClusterIndex(base, home)
    Dedup.appendToClusterIndex(batch, home)
    val view1 = Dedup.readClusterIndex(spark, home).collect().toSet
    val meta1 = spark.read.parquet(s"$home/meta").count()
    val post1 = spark.read.parquet(s"$home/postings").count()
    // at-least-once redelivery of the same micro-batch
    Dedup.appendToClusterIndex(batch, home)
    assert(Dedup.readClusterIndex(spark, home).collect().toSet == view1)
    assert(spark.read.parquet(s"$home/meta").count() == meta1,
      "replay duplicated meta rows")
    assert(spark.read.parquet(s"$home/postings").count() == post1,
      "replay duplicated postings — shared-shingle counts would inflate")

    // a batch that joins an OLDER cluster with a lower id: replaying it
    // must leave every doc on the old cluster's id — the replayed docs
    // carry no evidence, so they contribute no intra-batch edge
    val home2 = graft.operators.IndexCache.tempDir("graft-cluster-replay-join") + "/cidx"
    val base2 = Seq((1L, "a b c d e f g h i j k l")).toDF("doc_id", "text")
    val batch2 = Seq((2L, "a b c d e f g h i j k"), (3L, "a b c d e f g h i j"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val union = rows(Dedup.clustersOf(base2.unionByName(batch2)))
    assert(union == Set((1L, 1L), (2L, 1L), (3L, 1L)))
    Dedup.writeClusterIndex(base2, home2)
    Dedup.appendToClusterIndex(batch2, home2)
    assert(rows(Dedup.readClusterIndex(spark, home2)) == union)
    Dedup.appendToClusterIndex(batch2, home2)
    assert(rows(Dedup.readClusterIndex(spark, home2)) == union,
      "a replayed batch relabelled docs already stored")
  }

  test("at-rest cluster index equals the session-materialized resolution") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val sessionServed = rows(Dedup.dupClusters(spark, sfDir))
    val home = graft.operators.IndexCache.tempDir("graft-cluster-serve") + "/cidx"
    Dedup.writeClusterIndex(Dedup.augmentedDocs(spark, sfDir), home)
    val before = Dedup.ccResolutions.get()
    val atRest = rows(Dedup.readClusterIndex(spark, home))
    assert(Dedup.ccResolutions.get() == before,
      "the at-rest read must not re-resolve clusters in-session")
    assert(atRest == sessionServed,
      "the at-rest membership drifted from the session-materialized resolution")
    assert(atRest.nonEmpty)
  }

  test("cluster index: standing postings scan prunes to the batch's shingle buckets") {
    val home = graft.operators.IndexCache.tempDir("graft-cluster-prune") + "/cidx"
    val docs = Dedup.augmentedDocs(spark, sfDir)
    Dedup.writeClusterIndex(docs, home)
    val allFiles = spark.read.parquet(s"$home/postings").inputFiles
    val onePruned = Dedup.standingPostings(spark, home, Seq(3))
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
    assert(onePruned.nonEmpty && onePruned.forall(_.contains("gb=3")),
      s"unpruned files read: ${onePruned.filterNot(_.contains("gb=3")).take(3)}")
    assert(onePruned.length < allFiles.length,
      "the one-bucket probe must read a strict subset of the postings files")
  }

  test("incremental minhash index dedups new batches without recomputing the corpus") {
    val all = Dedup.augmentedDocs(spark, sfDir)
    // corpus split: standing index (originals), then two "crawls"
    val base = all.filter(col("doc_id") < 1000000000L)
    val batch1 = all.filter(col("doc_id") >= 1000000000L && col("doc_id") < 2000000000L)
    val batch2 = all.filter(col("doc_id") >= 2000000000L)
    val path = java.nio.file.Files.createTempDirectory("graft-mh-index").toString + "/idx"
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map { r =>
        val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
        (math.min(a, b), math.max(a, b))
      }.toSet

    Dedup.writeMinhashIndex(base, path)
    val inc1 = pairSet(Dedup.dedupAgainstIndex(spark, batch1, path))
    Dedup.appendToMinhashIndex(batch1, path)
    val inc2 = pairSet(Dedup.dedupAgainstIndex(spark, batch2, path))

    // ground truth: the full-corpus run, restricted to pairs touching
    // each batch (same signatures — fixed seeded permutations — so
    // the incremental path must find EXACTLY the same pairs)
    val full = pairSet(Dedup.minhashPairs(all))
    def touches(lo: Long, hi: Long)(p: (Long, Long)): Boolean =
      (p._1 >= lo && p._1 < hi) || (p._2 >= lo && p._2 < hi)
    val want1 = full.filter(touches(1000000000L, 2000000000L))
      .filter(p => p._1 < 2000000000L && p._2 < 2000000000L) // batch2 not ingested yet
    val want2 = full.filter(touches(2000000000L, Long.MaxValue))
    assert(inc1 == want1, s"batch1: got ${inc1.size}, want ${want1.size}")
    assert(inc2 == want2, s"batch2: got ${inc2.size}, want ${want2.size}")
    assert(inc1.nonEmpty && inc2.nonEmpty) // the constructed dups guarantee hits
  }

  test("retracting docs from the dedup index stops them vetoing resembling batches") {
    val all = Dedup.augmentedDocs(spark, sfDir)
    val base = all.filter(col("doc_id") < 1000000000L)
    val batch = all.filter(col("doc_id") >= 1000000000L) // copies/near-dups of base docs
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map { r =>
        val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
        (math.min(a, b), math.max(a, b))
      }.toSet
    // tombstoned index must behave exactly like one built without the victims
    val victims = base.filter(col("doc_id") % 14 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val pT = java.nio.file.Files.createTempDirectory("graft-mh-del").toString + "/idx"
    val pRef = java.nio.file.Files.createTempDirectory("graft-mh-del-ref").toString + "/idx"
    Dedup.writeMinhashIndex(base, pT)
    Dedup.deleteFromMinhashIndex(spark, victims, pT)
    Dedup.writeMinhashIndex(base.filter(!col("doc_id").isin(victims: _*)), pRef)
    val gotT = pairSet(Dedup.dedupAgainstIndex(spark, batch, pT))
    val gotRef = pairSet(Dedup.dedupAgainstIndex(spark, batch, pRef))
    assert(gotT == gotRef, s"tombstoned: ${gotT.size}, rebuilt-without: ${gotRef.size}")
    assert(gotT.nonEmpty && victims.forall(v => !gotT.exists(p => p._1 == v || p._2 == v)),
      "a retracted doc still vetoes the batch")
    // compaction applies the retraction physically and clears tombstones
    Dedup.compactMinhashIndex(spark, pT)
    val fs = new org.apache.hadoop.fs.Path(pT).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$pT/tombstones")))
    assert(pairSet(Dedup.dedupAgainstIndex(spark, batch, pT)) == gotRef)
  }

  test("q_dedup_keep_best keeps each cluster's highest-scored member, not min id") {
    val clusters = Dedup.qDupClusters(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("cluster_id"))
    val scores = graft.operators.TextAnalysis
      .classifierScored(Dedup.augmentedDocs(spark, sfDir))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val rows = Dedup.qDedupKeepBest(spark, sfDir).collect()
    assert(rows.length == clusters.size)
    rows.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      val members = clusters(cid).map(_.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_members") == members.length)
      // the keeper is the (score desc, id asc) argmax over the cluster
      val expected = members.map(m => (m, scores(m)))
        .sortBy { case (m, s) => (-s, m) }.head._1
      assert(r.getAs[Long]("keeper_id") == expected)
      assert(r.getAs[Double]("keeper_score") == scores(expected))
    }
    // quality ranking must actually disagree with min-id somewhere
    // (near-dup clusters contain a truncated variant whose score
    // differs from the original's)
    assert(rows.exists { r =>
      val members = clusters(r.getAs[Long]("cluster_id")).map(_.getAs[Long]("doc_id"))
      r.getAs[Long]("keeper_id") != members.min
    })
  }

  test("q_dedup_soft weights each duplicated content to unit total mass") {
    val rows = Dedup.qDedupSoft(spark, sfDir).collect()
    // one row per document of the augmented corpus — nothing dropped
    assert(rows.length == Dedup.augmentedDocs(spark, sfDir).count())
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, ms) =>
      ms.foreach { r =>
        assert(r.getAs[Long]("n_members") == ms.length)
        assert(math.abs(r.getAs[Double]("weight") - 1.0 / ms.length) < 1e-6,
          s"cluster $cid weight")
      }
      // per-cluster sampling mass is 1: a sampler sees the content
      // once in expectation however many copies exist
      assert(math.abs(ms.map(_.getAs[Double]("weight")).sum - 1.0) < 1e-4)
    }
    // the multi-doc clusters agree with the resolution queries'
    val multi = Dedup.qDupClusters(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    rows.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      val expected = multi.getOrElse(d, d)
      assert(r.getAs[Long]("cluster_id") == expected, s"doc $d cluster")
    }
    // singletons weigh exactly 1; duplicates strictly less
    assert(rows.exists(r => r.getAs[Double]("weight") == 1.0))
    assert(rows.exists(r => r.getAs[Double]("weight") < 1.0))
  }

  test("q_semdedup prunes every constructed copy pair to one survivor, deterministically") {
    val removed = Dedup.qSemDedup(spark, sfDir).collect()
    val removedIds = removed.map(_.getAs[Long]("vec_id")).toSet
    val keeperIds = removed.map(_.getAs[Long]("keeper_id")).toSet
    // a keeper is never also removed
    assert(removedIds.intersect(keeperIds).isEmpty)
    // every constructed sim-1.0 copy pair loses at least one member
    val copies = graft.Tables.embeddings(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 25 === 0)
      .select("vec_id").collect().map(_.getLong(0))
    assert(copies.nonEmpty)
    copies.foreach { v =>
      assert(removedIds.contains(v) || removedIds.contains(v + 1000000000L),
        s"copy pair of $v fully survived")
    }
    // all removed members of one keeper share that keeper (single
    // representative per group)
    removed.groupBy(_.getAs[Long]("keeper_id")).foreach { case (_, ms) =>
      assert(ms.map(_.getAs[Long]("vec_id")).distinct.length == ms.length)
    }
    // deterministic across runs (k-means seed, grid-rounded ranks)
    val again = Dedup.qSemDedup(spark, sfDir).collect()
    assert(removed.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("q_dedup_ngram top pairs are valid Jaccard scores in [0,1] descending") {
    val rows = Dedup.qDedupNgram(spark, sfDir).collect()
    assert(rows.length == 50)
    val j = rows.map(_.getAs[Double]("jaccard"))
    assert(j.forall(x => x >= 0 && x <= 1))
    assert(j.zip(j.tail).forall { case (a, b) => a >= b })
    assert(rows.forall(r => r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
  }

  test("q_dedup_embedding finds the exact copies at sim 1.0 plus organic pairs") {
    val rows = Dedup.qDedupEmbedding(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("score") >= 0.35))
    assert(rows.forall(r => r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b")))
    // every constructed copy pair (v, v+100000) is present with score 1.0
    val copies = rows.filter(_.getAs[Long]("vec_b") >= 1000000000L)
    val expected = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 25 === 0).count()
    assert(copies.count(r =>
      r.getAs[Long]("vec_b") == r.getAs[Long]("vec_a") + 1000000000L &&
      r.getAs[Double]("score") == 1.0) == expected)
  }

  test("q_dedup_embedding_lsh: subset of the exact relation, exact copies fully recalled, recall bounded") {
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val exact = pairSet(Dedup.qDedupEmbedding(spark, sfDir))
    val lsh = pairSet(Dedup.qDedupEmbeddingLsh(spark, sfDir))
    // verification is the same rounded cosine on the same label
    // blocks, so precision is 1 by construction
    assert(lsh.subsetOf(exact), s"false pairs: ${(lsh -- exact).take(5)}")
    // the constructed sim-1.0 copies agree on every hyperplane sign,
    // hence share all 16 bands — recall 1.0 on them is structural
    val copies = exact.filter { case (a, b) => b == a + 1000000000L }
    assert(copies.nonEmpty && copies.subsetOf(lsh),
      s"missed exact copies: ${(copies -- lsh).take(5)}")
    // organic pairs (cosine >= 0.35) need only ONE of 16 band hits;
    // measured recall on the standard corpus
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.85, s"LSH candidate recall $recall (exact=${exact.size}, lsh=${lsh.size})")
  }

  test("embeddingNearDupPairs at a production threshold: wide bands hold recall with 2^8 buckets") {
    // the scale configuration a real pipeline runs: high threshold
    // (0.9 — near-identical content), wide bands (r=8 -> 256 buckets
    // per label per table, occupancy n/256) held at recall by b=16
    // tables; predicted recall at s=0.9 is 1-(1-p^8)^16 ≈ 0.996 with
    // p = 1 - acos(0.9)/π
    import org.apache.spark.sql.DataFrame
    def pairSet(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val e = Tables.embeddings(spark, sfDir)
    val aug = e.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(e.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding"), col("label")))
      .localCheckpoint()
    val a = aug.select(col("label"), col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = aug.select(col("label"), col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    val exact = pairSet(a.join(b, "label")
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("score", round(graft.functions.vec.cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("score") >= 0.9)
      .select(col("vec_a"), col("vec_b")))
    val lsh = pairSet(Dedup.embeddingNearDupPairs(aug,
      threshold = 0.9, bitsPerBand = 8, tables = 16))
    assert(lsh.subsetOf(exact), s"false pairs: ${(lsh -- exact).take(5)}")
    val copies = exact.filter { case (x, y) => y == x + 1000000000L }
    assert(copies.nonEmpty && copies.subsetOf(lsh),
      s"missed sim-1.0 copies: ${(copies -- lsh).take(5)}")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"high-threshold recall $recall (exact=${exact.size}, lsh=${lsh.size})")
  }

  test("quantized verify exchange is row-identical to the float shape at the same banding") {
    // the SQ8 gate's completeness is the spherical triangle
    // inequality (∠(a,b) ≤ ∠(â,b̂) + δa + δb) — not a tuned margin —
    // so the two shapes must produce the SAME relation, scores
    // included; pinned at a banding wide enough to exercise real
    // candidate pruning on the augmented corpus
    val e = Tables.embeddings(spark, sfDir)
    val aug = e.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(e.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding"), col("label")))
      .localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Int]("label"), r.getAs[Double]("score"))).toSet
    for (t <- Seq(0.9, 0.35)) {
      val fl = rows(Dedup.embeddingNearDupPairsShaped(aug, t,
        bitsPerBand = 8, tables = 16, quantizedVerify = false))
      val qz = rows(Dedup.embeddingNearDupPairsShaped(aug, t,
        bitsPerBand = 8, tables = 16, quantizedVerify = true))
      assert(qz == fl, s"shape mismatch at t=$t: " +
        s"only-float=${(fl -- qz).take(3)} only-quantized=${(qz -- fl).take(3)}")
    }
    // the public verb routes by table count: the wide-band regime
    // (the one whose exchange the SQ8 shape exists to slim) goes
    // quantized
    assert(Dedup.QuantizedVerifyTables <= 256)
  }

  test("chooseBanding bounds occupancy per decade and holds the recall target") {
    // a small corpus floors at (4, 4)
    assert(Dedup.chooseBanding(200, 0.9) == (4, 4))
    // a 220k-per-label corpus (the 100x decade): r = 12 keeps
    // occupancy ~54; b = 14 holds recall >= 0.9 at threshold 0.9
    val (r, b) = Dedup.chooseBanding(220000, 0.9)
    assert((r, b) == (12, 14), s"got ($r, $b)")
    val p = 1.0 - math.acos(0.9) / math.Pi
    assert(1.0 - math.pow(1.0 - math.pow(p, r), b) >= 0.9)
    assert(220000.0 / (1 << r) <= 64.0)
    // r is monotone in corpus size; occupancy never exceeds the
    // target across five decades (until the r = 20 clamp)
    val decades = Seq(1e3, 1e4, 1e5, 1e6, 1e7).map(n =>
      Dedup.chooseBanding(n, 0.9))
    assert(decades.map(_._1) == decades.map(_._1).sorted)
    decades.zip(Seq(1e3, 1e4, 1e5, 1e6, 1e7)).foreach { case ((ri, _), n) =>
      assert(n / (1 << ri) <= 64.0 || ri == 20, s"occupancy blown at n=$n (r=$ri)")
    }
    // an over-low threshold at scale clamps b at the (raised) cap and
    // is honest about it (recall cannot be held at 0.35 with bounded
    // tables — and on clouds whose noise floor sits above 0.35 the
    // auto verb's lshHasContrast guard routes to the exact scorer
    // before any banding is chosen)
    assert(Dedup.chooseBanding(220000, 0.35)._2 == 256)
  }

  test("concentrated collections: measured pRand sizes r past the log2 model, recall intact") {
    import spark.implicits._
    // the uniform-direction special case reduces to log2 exactly
    assert(Dedup.chooseBanding(220000, 0.9, pRand = 0.5) ==
      Dedup.chooseBanding(220000, 0.9))
    // a concentrated collection (random pairs at ~19 degrees, pRand ~ 0.9)
    // needs far wider bands for the same occupancy: ln(n/occ)/ln(1/0.9)
    val (rC, _) = Dedup.chooseBanding(27750, 0.995, pRand = 0.895)
    assert(rC > 31 && rC <= 62, s"concentrated r = $rC should exceed the int-bucket range")
    // measuredPRand separates the two regimes on real collections:
    // iid Gaussian directions ~ 0.5, clustered positive-orthant ~ 0.9
    val gauss = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val pG = Dedup.measuredPRand(gauss)
    assert(math.abs(pG - 0.5) < 0.05, s"Gaussian pRand $pG not ~0.5")
    val rnd = new scala.util.Random(5)
    val conc = (0L until 500L).map { i =>
      // concentrated cone: a fixed positive mean + small noise (the
      // letter-histogram shape), plus an exact copy of every 10th
      val base = Array.tabulate(26)(d => (10.0 + rnd.nextGaussian()).toFloat.max(0f))
      (i, base, 0L)
    }
    val concDf = conc.toDF("vec_id", "embedding", "label")
      .unionByName(conc.filter(_._1 % 10 == 0)
        .map { case (i, v, l) => (i + 1000L, v, l) }.toDF("vec_id", "embedding", "label"))
      .localCheckpoint()
    val pC = Dedup.measuredPRand(concDf)
    assert(pC > 0.8, s"concentrated pRand $pC not > 0.8")
    // the banded path (crossover 0) on the concentrated collection:
    // subset of exact, every planted copy (cosine 1.0) recalled
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val exact = pairs(Dedup.embeddingNearDupExact(concDf, 0.9999))
    val lsh = pairs(Dedup.embeddingNearDupAuto(concDf, 0.9999, lshCrossover = 0.0))
    assert(lsh.subsetOf(exact))
    conc.map(_._1).filter(_ % 10 == 0).foreach { i =>
      assert(lsh.contains((i, i + 1000L)), s"planted copy $i missed")
    }
  }

  test("embeddingNearDupAdaptive: measured-size banding, still a subset with copies recalled") {
    import org.apache.spark.sql.DataFrame
    def pairSet(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val e = Tables.embeddings(spark, sfDir)
    val aug = e.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(e.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding"), col("label")))
      .localCheckpoint()
    val a = aug.select(col("label"), col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val bb = aug.select(col("label"), col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    val exact = pairSet(a.join(bb, "label")
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("score", round(graft.functions.vec.cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("score") >= 0.9)
      .select(col("vec_a"), col("vec_b")))
    // the crossover at zero routes the call through the LSH path: a
    // strict-subset-capable plan whose banding came from chooseBanding
    val d = Dedup.embeddingRouteDecision(aug, 0.9, lshCrossover = 0.0)
    assert(d.route == "lsh", d.toString)
    val adaptive = pairSet(Dedup.embeddingNearDupAuto(aug, threshold = 0.9,
      lshCrossover = 0.0))
    assert(adaptive.subsetOf(exact), s"false pairs: ${(adaptive -- exact).take(5)}")
    val copies = exact.filter { case (x, y) => y == x + 1000000000L }
    assert(copies.nonEmpty && copies.subsetOf(adaptive))
    assert(adaptive.size.toDouble / exact.size >= 0.9)
    // the production verb below the crossover (avg label block ~52
    // here, crossover 1000) IS the exact scorer: identical relation,
    // recall exactly 1 — and the plan contains no LSH signature stage
    assert(Dedup.embeddingRouteDecision(aug, 0.9).route == "exact")
    val auto = Dedup.embeddingNearDupAuto(aug, threshold = 0.9)
    assert(pairSet(auto) == exact)
  }

  test("cluster-blocked scorer: subset of exact, copies always recalled, recall holds on a concentrated cloud") {
    import spark.implicits._
    // a cone-structured cloud (the aniso shape): 40 tight cones of 60
    // vectors plus exact copies of every 20th vector — one label, so
    // every pair is in-relation and blocking does all the work
    val dim = 64
    val base = (0L until 2400L).map { id =>
      val cone = (id % 40L).toInt
      val rc = new java.util.Random(cone * 7919L + 3)
      val center = Array.fill(dim)(rc.nextGaussian())
      val r = new java.util.Random(id * 104729L + 11)
      val v = center.map(c => (c + 0.05 * r.nextGaussian()).toFloat)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      (id, v.map(_ / n).toSeq, 0)
    }
    val rows = base ++ base.filter(_._1 % 20 == 0)
      .map { case (id, v, l) => (id + 1000000000L, v, l) }
    val c = rows.toDF("vec_id", "embedding", "label").localCheckpoint()
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val exact = pairSet(Dedup.embeddingNearDupExact(c, 0.98))
    val blocked = pairSet(Dedup.embeddingNearDupClusterBlocked(c, 0.98))
    assert(blocked.subsetOf(exact), s"false pairs: ${(blocked -- exact).take(5)}")
    val copies = exact.filter { case (x, y) => y == x + 1000000000L }
    assert(copies.nonEmpty && copies.subsetOf(blocked),
      s"missed copies: ${(copies -- blocked).take(5)}")
    val recall = blocked.size.toDouble / exact.size
    assert(recall >= 0.9, s"cluster-blocked recall $recall " +
      s"(exact=${exact.size}, blocked=${blocked.size})")

    // dtype-agnosticism: media FEATURE vectors reach this route as
    // array<double> (the aniso-sf100 media sweep was the first input
    // to route cluster-blocked with doubles and hit a float-pinned
    // ClassCastException in centroid training) — the double-typed
    // frame must produce the identical pair set
    val cd = c.withColumn("embedding",
      org.apache.spark.sql.functions.expr(
        "transform(embedding, x -> cast(x as double))"))
    val blockedD = pairSet(Dedup.embeddingNearDupClusterBlocked(cd, 0.98))
    assert(blockedD == blocked,
      s"double-typed route diverged: ${(blockedD diff blocked).take(3)} / ${(blocked diff blockedD).take(3)}")
  }

  test("route choice: empirical candidate mass sends skewed clouds to cluster blocking, uniform stays lsh") {
    // Jensen gap, unit-level: a prob sample with a heavy tail has an
    // r-th moment far above the mean-derived closed form
    val skewed = Array.fill(90)(0.5) ++ Array.fill(10)(0.97)
    val r = 20
    val meanForm = math.pow(Dedup.measuredPRandOf(skewed), r) * 100000
    val emp = Dedup.empiricalOccupancy(skewed, r, 100000)
    assert(emp > 50 * meanForm, s"empirical $emp vs mean-form $meanForm")
    // route: a one-label cone corpus above the crossover, with a
    // threshold above its noise floor (contrast holds) but bucket
    // tails that blow the budget -> "cluster"; an iid-uniform cloud
    // of the same size stays "lsh"
    import spark.implicits._
    val dim = 64
    def cloud(n: Long)(mk: Long => Array[Float]) =
      (0L until n).map { id =>
        val v = mk(id)
        val nm = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
        (id, v.map(_ / nm).toSeq, 0)
      }.toDF("vec_id", "embedding", "label").localCheckpoint()
    // the aniso shape at a block width where the Jensen gap bites:
    // a strong shared mean (pRand ≈ 0.83) + tight cones (the prob
    // tail) over one 25k-row label block
    val rm = new java.util.Random(99)
    val mean = Array.fill(dim)(rm.nextGaussian() * 2.5)
    val coneDf = cloud(25000L) { id =>
      val cone = (id % 10L).toInt
      val rc = new java.util.Random(cone * 7919L + 3)
      val center = Array.tabulate(dim)(i => mean(i) + rc.nextGaussian())
      val r2 = new java.util.Random(id * 104729L + 11)
      center.map(c => (c + 0.25 * r2.nextGaussian()).toFloat)
    }
    val uniDf = cloud(3000L) { id =>
      val r2 = new java.util.Random(id * 104729L + 11)
      Array.fill(dim)(r2.nextGaussian().toFloat)
    }
    // both blocks sit above the default crossover too, so the route
    // is the same at either crossover
    val routeCone = Dedup.embeddingRouteDecision(coneDf, 0.98, lshCrossover = 0.0).route
    val routeUni = Dedup.embeddingRouteDecision(uniDf, 0.9, lshCrossover = 0.0).route
    assert(routeCone == "cluster", s"cone cloud routed $routeCone")
    assert(routeUni == "lsh", s"uniform cloud routed $routeUni")
  }

  test("q_dedup_embedding_auto matches the exact registered relation at test scale") {
    val auto = Dedup.qDedupEmbeddingAuto(spark, sfDir).collect().toSeq
    val exact = Dedup.qDedupEmbedding(spark, sfDir).collect().toSeq
    assert(auto == exact)
  }

  test("q_dedup_minhash recalls every constructed exact and near duplicate") {
    val pairs = Dedup.qDedupMinhash(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val docIds = Tables.documents(spark, sfDir).select("doc_id")
      .collect().map(_.getLong(0))
    // exact copies (jaccard 1.0) must all be candidate-recalled and verified
    val exactPairs = docIds.filter(_ % 7 == 0).map(id => (id, id + 1000000000L))
    assert(exactPairs.forall(pairs.contains))
    // near-dups (3 tokens dropped from ≥10-token docs → jaccard still high)
    val nearPairs = docIds.filter(_ % 11 == 0).map(id => (id, id + 2000000000L))
    val nearRecall = nearPairs.count(pairs.contains).toDouble / nearPairs.length
    assert(nearRecall >= 0.8, s"near-dup recall $nearRecall")
    // everything reported really is >= the verify threshold
    assert(Dedup.qDedupMinhash(spark, sfDir).collect()
      .forall(_.getAs[Double]("jaccard") >= 0.3))
  }

  test("q_dedup_simhash finds the exact copies at hamming 0") {
    val rows = Dedup.qDedupSimhash(spark, sfDir).collect()
    val pairs = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val docIds = Tables.documents(spark, sfDir).select("doc_id")
      .collect().map(_.getLong(0))
    val exactPairs = docIds.filter(_ % 7 == 0).map(id => (id, id + 1000000000L))
    assert(exactPairs.forall(pairs.contains))
    val zero = rows.filter(r => exactPairs.contains(
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))))
    assert(zero.forall(_.getAs[Long]("hamming") == 0))
    assert(rows.forall(_.getAs[Long]("hamming") <= 3))
  }

  test("simhash 3-of-6-block tables are COMPLETE for hamming <= 3 (pigeonhole)") {
    // any fingerprint and a <=3-bit corruption of it must share at
    // least one of the 20 combo keys — the guarantee that makes
    // candidate generation lossless for the Hamming band the verify
    // step keeps
    val rnd = new scala.util.Random(7)
    val cases = (0 until 500).map { _ =>
      val h = rnd.nextLong()
      val flips = rnd.nextInt(4) // 0..3 bit errors
      val corrupted = (0 until flips)
        .map(_ => 1L << rnd.nextInt(64))
        .foldLeft(h)(_ ^ _)
      (h, corrupted)
    }
    import spark.implicits._
    val df = cases.toDF("ha", "hb")
    val keysOf = (c: String) => org.apache.spark.sql.functions.expr(
      Dedup.simhashComboKeysForTest(c))
    val n = df
      .withColumn("ka", keysOf("ha"))
      .withColumn("kb", keysOf("hb"))
      // positional overlap: combo c's key must match combo c's key
      .filter(org.apache.spark.sql.functions.expr(
        "exists(zip_with(ka, kb, (a, b) -> a = b), x -> x)"))
      .count()
    assert(n == cases.size, s"only $n of ${cases.size} hamming<=3 pairs bucketed together")
  }

  test("chooseBanding holds the recall floor past the former 48-table cap on concentrated clouds") {
    // the aniso regime: pRand 0.82 crowds p(0.95) = 0.899, so bounded
    // occupancy forces r ~ 34 and the recall floor needs ~85 tables —
    // the former 48 cap silently shipped recall ~ 0.72 here
    val (r, b) = Dedup.chooseBanding(50000, 0.95, pRand = 0.82)
    val p = 1.0 - math.acos(0.95) / math.Pi
    val pBand = math.pow(p, r)
    assert(b > 48 && b <= 256, s"expected the cap raise to bind: (r,b)=($r,$b)")
    assert(1.0 - math.pow(1.0 - pBand, b) >= 0.9,
      f"predicted recall ${1.0 - math.pow(1.0 - pBand, b)}%.3f below the floor at (r,b)=($r,$b)")
    assert(50000 * math.pow(0.82, r) <= 64 * 1.1,
      s"occupancy model broken at r=$r")
    // uniform geometry stays far from the cap
    val (_, bU) = Dedup.chooseBanding(50000, 0.9, pRand = 0.5)
    assert(bU <= 16, s"uniform-cloud table count regressed: $bU")
    // contrast guard: a threshold at/below the cloud's noise floor
    // has no sparse structure for banding to find
    assert(!Dedup.lshHasContrast(0.35, 0.82))
    assert(Dedup.lshHasContrast(0.98, 0.82))
    assert(Dedup.lshHasContrast(0.35, 0.5))
  }

  test("head-share probe separates the df regimes with combinable aggregates only") {
    import spark.implicits._
    // driver-shaped corpus: near-uniform trigram df keeps the plain
    // Σdf² aggregate (measured ~0.025 here — the percentile threshold
    // admits ties, so this sits a few× above the former top-k's
    // 0.5–0.7%, still an order of magnitude under the crossover)
    val shareDriver =
      Dedup.measuredHeadShare(Dedup.hashedShingles(Dedup.augmentedDocs(spark, sfDir))).get
    assert(shareDriver < Dedup.PairHeadShareCrossover,
      s"driver corpus head share $shareDriver must keep the plain aggregate")
    // boilerplate-dominated corpus: a shared template sentence with
    // unique tails concentrates Σdf² entirely in the df head
    val zipf = (0 until 300).map { i =>
      val tail = (0 until 30).map(j => s"w${i}x$j").mkString(" ")
      (i.toLong, s"terms of service apply to all content on this site $tail")
    }.toDF("doc_id", "text")
    val shareZipf = Dedup.measuredHeadShare(Dedup.hashedShingles(zipf)).get
    assert(shareZipf >= Dedup.PairHeadShareCrossover,
      s"boilerplate corpus head share $shareZipf must route to the prefix filter")
    // no shared shingle at all: the probe declines and auto falls
    // back to the (trivial) plain path
    val uniq = Seq((1L, "alpha beta gamma delta"), (2L, "one two three four"))
      .toDF("doc_id", "text")
    assert(Dedup.measuredHeadShare(Dedup.hashedShingles(uniq)).isEmpty)
    assert(Dedup.jaccardPairsAuto(Dedup.hashedShingles(uniq).localCheckpoint(), 0.5).isEmpty)
  }

  test("prefix-filtered thresholded Jaccard pairs equal the full aggregate") {
    val sh = Dedup.hashedShingles(Dedup.augmentedDocs(spark, sfDir)).localCheckpoint()
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("common"), r.getAs[Double]("jaccard")))
      .sortBy(t => (t._1, t._2)).toSeq
    val full = canon(Dedup.jaccardPairs(sh).filter(col("jaccard") >= 0.5))
    val pref = canon(Dedup.jaccardPairsThresholded(sh, 0.5))
    assert(full.nonEmpty)
    assert(pref == full,
      s"prefix filter diverged: ${(pref.toSet -- full.toSet).take(3)} extra, " +
        s"${(full.toSet -- pref.toSet).take(3)} missing")
  }

  test("substring dedup: injected exact copies are fully covered, counts consistent") {
    val rows = Dedup.qDedupSubstring(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byId = rows.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup_windows"),
        r.getAs[Double]("dup_frac"))).toMap
    byId.values.foreach { case (nw, nd, frac) =>
      assert(nd >= 1 && nd <= nw)
      assert(math.abs(frac - nd.toDouble / nw) < 1e-6)
    }
    // every %7 doc long enough to have a window is an exact copy of
    // its +1e9 twin: both must appear with dup_frac == 1.0 and the
    // window count len(toks) - W + 1
    val lens = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").length).toMap
    val w = Dedup.SubstringWindow
    lens.filter { case (id, len) => id % 7 == 0 && len >= w }.foreach {
      case (id, len) =>
        Seq(id, id + 1000000000L).foreach { d =>
          val (nw, nd, frac) = byId(d)
          assert(nw == len - w + 1, s"doc $d window count")
          assert(nd == nw && frac == 1.0, s"doc $d should be fully duplicated")
        }
    }
    // near-dup twins (+2e9, first 3 tokens dropped) share every
    // window past the dropped prefix with their source
    lens.filter { case (id, len) => id % 11 == 0 && len >= w + 3 }.foreach {
      case (id, _) => assert(byId.contains(id + 2000000000L))
    }
  }

  test("forced-LSH verb guards the no-contrast regime: routes exact, never bands toward all-pairs") {
    import spark.implicits._
    // a mean-dominated cone whose NOISE FLOOR sits above the
    // threshold: random-pair cosine ~0.99 (pRand ~0.95) against
    // threshold 0.35 (per-plane collision 0.61) — the heaps-aniso
    // regime where the unguarded verb ground 781–1067 s per pass by
    // banding toward all-pairs (every band filters threshold pairs
    // FASTER than noise, so no (r, b) bounds occupancy)
    val rnd = new scala.util.Random(17)
    val cone = (0L until 120L).map { i =>
      (i, Array.tabulate(26)(_ => (10.0 + rnd.nextGaussian()).toFloat.max(0f)), i % 3)
    }
    val df = cone.toDF("vec_id", "embedding", "label")
      .unionByName(cone.filter(_._1 % 10 == 0)
        .map { case (i, v, l) => (i + 1000L, v, l) }.toDF("vec_id", "embedding", "label"))
      .localCheckpoint()
    val pRand = Dedup.measuredPRand(df)
    assert(!Dedup.lshHasContrast(0.35, pRand),
      s"fixture must sit in the no-contrast regime (pRand $pRand)")
    def pairs(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"), r.getAs[Double]("score"))).toSet
    val exact = pairs(Dedup.embeddingNearDupExact(df, 0.35))
    // the guard routes to the exact scorer even with the crossover at
    // zero: the IDENTICAL relation (scores included), not a banded
    // subset — the exact plan's cost matches the output mass the
    // threshold's own density implies
    val d = Dedup.embeddingRouteDecision(df, 0.35, lshCrossover = 0.0)
    assert(d.route == "exact", d.toString)
    val guarded = pairs(Dedup.embeddingNearDupAuto(df, 0.35, lshCrossover = 0.0))
    assert(guarded == exact, "no-contrast banding request must BE the exact relation")
  }

  test("forced-LSH verb gates the Jensen-gap regime: contrast holds, candidate mass over budget routes to cluster blocking") {
    import spark.implicits._
    // a TIGHT mean-dominated cone (mean 22, unit noise): random-pair
    // cosine ~0.998, measured pRand clamps at 0.95 — but the
    // threshold 0.99995 still has per-plane collision 0.9968 > pRand,
    // so CONTRAST HOLDS and the no-contrast guard passes. One label
    // over 6.3k rows caps r at 62 and the recall floor pins b = 4;
    // the EMPIRICAL bucket tails (E[p^62] ≈ 0.29 ≫ pRand^62) put the
    // candidate mass ~29k/row — over the 16 384/row cluster budget.
    // This is the regime that ground 38 min / 31 GB at sf10
    // (bench/slope_combined_sf10_r13.json) while cluster blocking ran
    // the identical input in 23.3 s.
    val rnd = new scala.util.Random(23)
    val base = (0L until 6000L).map { i =>
      (i, Array.tabulate(26)(_ => (22.0 + rnd.nextGaussian()).toFloat), 0L)
    }
    val copies = base.filter(_._1 % 20 == 0)
      .map { case (i, v, l) => (i + 1000000L, v, l) }
    val df = (base ++ copies).toDF("vec_id", "embedding", "label").localCheckpoint()
    val probs = Dedup.samplePlaneProbs(df)
    val pRand = Dedup.measuredPRandOf(probs)
    val t = 0.99995
    assert(Dedup.lshHasContrast(t, pRand),
      s"fixture must HOLD contrast (pRand $pRand) — it pins the SECOND gate")
    val d = Dedup.embeddingRouteDecision(df, t, lshCrossover = 0.0)
    assert(d.route == "cluster",
      f"budget gate must fire: route ${d.route}, ${d.perRowCandidates}%.0f/row at " +
        f"(${d.r}, ${d.b}) vs ${Dedup.ClusterRouteCandidateBudget}%.0f")
    assert(d.perRowCandidates > Dedup.ClusterRouteCandidateBudget)
    // end to end: the gated verb returns the cluster-blocked relation.
    // At this threshold that is EXACTLY the planted copy pairs: exact
    // copies share identical spilled assignments (always recalled),
    // verification is exact cosine (nothing below threshold survives),
    // and the noise floor (~0.998) sits far below 0.99995.
    val got = Dedup.embeddingNearDupAuto(df, t, lshCrossover = 0.0).collect()
      .map(r0 => (r0.getAs[Long]("vec_a"), r0.getAs[Long]("vec_b"))).toSet
    val want = copies.map(c => (c._1 - 1000000L, c._1)).toSet
    assert(got == want, s"gated route must recall all ${want.size} copy pairs exactly")
  }
}
