package graft

import graft.sources.{CollectionCatalog, CollectionSource}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Error-contract coverage: the failure modes the library promises
  * to surface loudly rather than mis-compute through.
  */
class RobustnessSpec extends SparkSpec {

  test("collection import rejects a non-array embedding column") {
    val dir = Files.createTempDirectory("graft-rob-src").toString + "/data"
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("vec_id").cast("string").as("embedding"))
      .write.mode("overwrite").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      CollectionSource.parquet(spark, dir)
    }
    assert(e.getMessage.contains("must be an array column"))
  }

  test("catalog restore of an unknown snapshot fails loudly") {
    val root = Files.createTempDirectory("graft-rob-cat").toString
    val cat = CollectionCatalog(spark, root)
    val e = intercept[IllegalArgumentException] {
      cat.restore("nope/0")
    }
    assert(e.getMessage.contains("no such snapshot"))
  }

  test("dedup-against-index fails loudly on a missing index path") {
    val batch = Tables.documents(spark, sfDir).select("doc_id", "text").limit(5)
    intercept[Exception] {
      graft.operators.Dedup.dedupAgainstIndex(spark, batch,
        "/tmp/graft-no-such-index").collect()
    }
  }

  test("md5Bucket stays in range and is stable across evaluations") {
    val buckets = Tables.embeddings(spark, sfDir)
      .select(graft.functions.hashes.md5Bucket(
        col("vec_id").cast("string"), 7L).as("b"))
      .collect().map(_.getAs[Long]("b"))
    assert(buckets.forall(b => b >= 0 && b < 7))
    assert(buckets.toSet.size == 7) // 500 keys hit all 7 buckets
  }

  test("zValue stays within 2*bits bits for in-range inputs") {
    import graft.api.ScaleOps
    val zs = spark.range(0, 256).toDF("x")
      .select(ScaleOps.zValue("x", "x", bits = 8).as("z"))
      .collect().map(_.getAs[Long]("z"))
    assert(zs.forall(z => z >= 0 && z < (1L << 16)))
    // diagonal points interleave to pairs of identical bits
    assert(zs.distinct.length == 256)
  }

  test("FilterDsl rejects malformed wire-form filters with the offending fragment") {
    import graft.api.FilterDsl
    // a condition with no key
    val e1 = intercept[RuntimeException] {
      FilterDsl.fromJson("""{ "must": [ {"match": {"value": 3}} ] }""")
    }
    assert(e1.getMessage.contains("key"))
    // an unknown condition shape
    val e2 = intercept[RuntimeException] {
      FilterDsl.fromJson("""{ "must": [ {"key": "x", "frobnicate": 1} ] }""")
    }
    assert(e2.getMessage.contains("unsupported"))
    // a non-numeric range bound
    val e3 = intercept[RuntimeException] {
      FilterDsl.fromJson("""{ "must": [ {"key": "x", "range": {"gte": "low"}} ] }""")
    }
    assert(e3.getMessage.contains("range bound"))
    // an empty filter is valid and matches everything
    val n = Tables.documents(spark, sfDir)
      .filter(FilterDsl.fromJson("{}").toColumn).count()
    assert(n == Tables.documents(spark, sfDir).count())
  }

  test("per-path lock/cache state stays bounded across >10k distinct paths") {
    import graft.sources.{IndexAlias, VersionedPointer, WriterLease}
    import org.apache.hadoop.fs.Path
    // a HOT alias, resolved (and cached) before the cold sweep; its
    // pointer is then moved OUT-OF-BAND (no write-through), so a
    // cache hit keeps answering the old generation and a miss would
    // answer the new one — which makes LRU survival observable
    val home = Files.createTempDirectory("graft-rob-hot").toString
    val fs = new Path(home).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen0 = IndexAlias.nextGenerationPath(spark, home)
    fs.mkdirs(new Path(gen0))
    IndexAlias.set(spark, home, gen0)
    assert(IndexAlias.resolve(spark, home) == new Path(home, "gen-0000000000").toString)
    VersionedPointer.write(fs, new Path(home, ".ptr"), "gen-moved-out-of-band")
    // a long-lived serving session resolves an unbounded stream of
    // index paths; the cache must stay bounded AND keep hot entries
    // (periodically re-touched) through the cold sweep — eviction is
    // LRU, not clear-all
    (0 until 12000).foreach { i =>
      IndexAlias.resolve(spark, s"/tmp/graft-bound/never-$i")
      if (i % 500 == 0) IndexAlias.resolve(spark, home)
    }
    assert(IndexAlias.resolveCacheSize <= 8192 + 1,
      s"resolve cache grew to ${IndexAlias.resolveCacheSize}")
    assert(IndexAlias.resolve(spark, home) == new Path(home, "gen-0000000000").toString,
      "hot alias entry was evicted by the cold sweep (clear-all, not LRU)")
    IndexAlias.invalidateResolve(home)
    // exclusive's per-home body locks are removed when uncontended —
    // a sweep of distinct homes leaves the map empty, not 1-per-path
    (0 until 32).foreach { i =>
      val h = s"$home/sweep-$i"
      fs.mkdirs(new Path(h))
      WriterLease.exclusive(spark, h) { () }
    }
    assert(WriterLease.bodyLockCount == 0,
      s"uncontended body locks were retained: ${WriterLease.bodyLockCount}")
  }

  test("dropMatching un-pins evicted frames so their blocks become releasable") {
    import graft.operators.IndexCache
    val before = IndexCache.pinnedIdsSnapshot()
    val df = IndexCache.materialized(spark, "robust-pin#demo") {
      spark.range(100).toDF("id")
    }
    assert(df.count() == 100)
    val pinned = IndexCache.pinnedIdsSnapshot()
    assert((pinned -- before).nonEmpty, "materialize must pin its checkpoint")
    IndexCache.dropMatching("robust-pin#demo")
    val after = IndexCache.pinnedIdsSnapshot()
    assert((after -- before).isEmpty,
      s"eviction left stale pins: ${(after -- before).mkString(",")}")
  }

  test("a zero-byte storage reading keeps the checkpoint's partition count") {
    import graft.operators.IndexCache.sliceWidth
    // no bytes reported is no measurement: the width stays the build's
    assert(sliceWidth(parts = 64, floor = 4, storedBytes = 0L) == 64)
    // a real reading still sizes the width between the floor and parts
    assert(sliceWidth(parts = 64, floor = 4, storedBytes = 1L) == 4)
    assert(sliceWidth(parts = 64, floor = 4, storedBytes = 40L << 20) == 10)
    assert(sliceWidth(parts = 64, floor = 4, storedBytes = 1L << 40) == 64)
  }

  test("bench failure lines stay parseable JSON whatever the exception message holds") {
    val msg = "boom\u0000 \f\u001b[31mred\u001b[0m \"q\" \\ \n\r\t\u0001 é"
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(s"""{"fatal":${Bench.jstr(msg)}}""")
    assert(node.get("fatal").asText() == msg)
  }
}
