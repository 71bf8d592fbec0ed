package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.TextIndex
import graft.operators.{Dedup, IndexCache, VectorIndex}
import graft.sources.{IndexAlias, IndexStats}

/** The observability contract: `stats` reports the numbers a
  * compact/rotate cadence decision needs, and those numbers MOVE
  * correctly across the lifecycle — append grows the footprint,
  * delete grows debt (never the corpus), compact folds debt to zero
  * and stamps the time, rotate folds debt to zero by landing a fresh
  * generation.
  */
class IndexStatsSpec extends SparkSpec {

  private def row(st: DataFrame, table: String) =
    st.filter(col("table") === table).collect() match {
      case Array(r) => r
      case other => fail(s"expected one '$table' row, got ${other.length}")
    }

  private def debt(st: DataFrame, table: String): Long = {
    val r = row(st, table)
    if (r.isNullAt(r.fieldIndex("debt_rows"))) 0L
    else r.getAs[Long]("debt_rows")
  }

  private def files(st: DataFrame, table: String): Long =
    row(st, table).getAs[Long]("files")

  private def lastCompaction(st: DataFrame): Option[Long] = {
    val r = st.collect().head
    if (r.isNullAt(r.fieldIndex("last_compaction_ms"))) None
    else Some(r.getAs[Long]("last_compaction_ms"))
  }

  test("vector index stats: debt accrues on delete/setPayload, compacts to zero, rotation resets") {
    import spark.implicits._
    val home = IndexCache.tempDir("graft-stats-vec") + "/vix"
    val corpus = Tables.embeddings(spark, sfDir)
    VectorIndex.buildRotating(spark, corpus, home)

    val s0 = VectorIndex.stats(spark, home)
    assert(s0.columns.toSeq == IndexStats.schema.fieldNames.toSeq)
    assert(s0.count() == 5)
    assert(files(s0, "vectors") > 0 && files(s0, "lsh") > 0 && files(s0, "meta") > 0)
    assert(row(s0, "vectors").getAs[Long]("bytes") > 0)
    assert(debt(s0, "tombstones") == 0 && debt(s0, "payload") == 0)
    assert(row(s0, "vectors").getAs[Int]("n_generations") == 1)
    assert(lastCompaction(s0).isEmpty)

    // append grows the data footprint, not the debt
    val batch = corpus.limit(50).select((col("vec_id") + 800000L).as("vec_id"),
      col("embedding"), col("label"))
    VectorIndex.append(spark, batch, IndexAlias.resolve(spark, home))
    val s1 = VectorIndex.stats(spark, home)
    assert(files(s1, "vectors") > files(s0, "vectors"))
    assert(debt(s1, "tombstones") == 0)

    // delete + payload update accrue debt rows without touching data files
    val victims = corpus.select("vec_id").orderBy("vec_id").limit(7)
      .collect().map(_.getLong(0)).toSeq
    VectorIndex.delete(spark, home, victims)
    VectorIndex.setPayload(spark, home,
      victims.take(3).map(id => (id + 100L, 99)).toDF("vec_id", "label"))
    val s2 = VectorIndex.stats(spark, home)
    assert(debt(s2, "tombstones") == 7L, s"tombstone debt: ${debt(s2, "tombstones")}")
    assert(debt(s2, "payload") == 3L, s"payload debt: ${debt(s2, "payload")}")
    assert(files(s2, "vectors") == files(s1, "vectors"))

    // compact folds all debt to zero and stamps the time
    VectorIndex.compact(spark, home)
    val s3 = VectorIndex.stats(spark, home)
    assert(debt(s3, "tombstones") == 0 && debt(s3, "payload") == 0)
    assert(files(s3, "tombstones") == 0 && files(s3, "payload") == 0)
    assert(lastCompaction(s3).isDefined)

    // rotation lands a fresh generation: stats follow the new live
    // path. Three generations by now: the original build, the
    // zero-downtime compact's handoff, and this retrain.
    VectorIndex.delete(spark, home, victims.takeRight(2))
    assert(debt(VectorIndex.stats(spark, home), "tombstones") == 2L)
    VectorIndex.retrain(spark, home)
    val s4 = VectorIndex.stats(spark, home)
    assert(row(s4, "vectors").getAs[Int]("n_generations") == 3)
    assert(debt(s4, "tombstones") == 0)
    assert(row(s4, "vectors").getAs[String]("live_path") !=
      row(s0, "vectors").getAs[String]("live_path"))
  }

  test("text index stats: append batches count as delta debt; compact folds them") {
    import spark.implicits._
    val home = IndexCache.tempDir("graft-stats-text") + "/tix"
    val docs = (0L to 39L).map(i => (i, s"alpha bravo tok$i common words here"))
      .toDF("doc_id", "text")
    TextIndex.rotate(docs, home)
    val s0 = TextIndex.stats(spark, home)
    assert(s0.count() == 4)
    assert(files(s0, "postings") > 0 && debt(s0, "stats") == 0 &&
      debt(s0, "tombstones") == 0)

    TextIndex.append((100L to 104L).map(i => (i, s"charlie delta tok$i"))
      .toDF("doc_id", "text"), home)
    TextIndex.append((200L to 204L).map(i => (i, s"echo foxtrot tok$i"))
      .toDF("doc_id", "text"), home)
    // delete takes the indexed rows themselves (delete-by-query shape)
    TextIndex.delete(docs.filter(col("doc_id") < 3), home)
    val s1 = TextIndex.stats(spark, home)
    // each append AND each delete lands one stats delta row
    assert(debt(s1, "stats") == 3L, s"delta batches: ${debt(s1, "stats")}")
    assert(debt(s1, "tombstones") == 3L)

    TextIndex.compact(spark, IndexAlias.resolve(spark, home))
    val s2 = TextIndex.stats(spark, home)
    assert(debt(s2, "stats") == 0 && debt(s2, "tombstones") == 0)
    assert(lastCompaction(s2).isDefined)
    // the compacted index still answers correctly
    assert(TextIndex.bm25AtRest(spark, home, Seq("charlie")).count() == 5)
  }

  test("dedup index stats + rollup: takedown debt tracks tombstones; rollup unions all kinds") {
    import spark.implicits._
    val home = IndexCache.tempDir("graft-stats-dedup") + "/dix"
    val docs = (0L to 29L).map(i =>
      (i, s"alpha bravo charlie delta echo tok$i foxtrot golf hotel india"))
      .toDF("doc_id", "text")
    Dedup.rotateMinhashIndex(docs, home)
    val s0 = Dedup.indexStats(spark, home)
    assert(s0.count() == 3)
    assert(files(s0, "postings") > 0 && files(s0, "shingles") > 0)
    assert(debt(s0, "tombstones") == 0)

    Dedup.deleteFromMinhashIndex(spark, Seq(0L, 1L), IndexAlias.resolve(spark, home))
    val s1 = Dedup.indexStats(spark, home)
    assert(debt(s1, "tombstones") == 2L)
    Dedup.compactMinhashIndex(spark, IndexAlias.resolve(spark, home))
    val s2 = Dedup.indexStats(spark, home)
    assert(debt(s2, "tombstones") == 0 && lastCompaction(s2).isDefined)

    // catalog roll-up: one frame, one schema, all kinds
    val vHome = IndexCache.tempDir("graft-stats-roll") + "/vix"
    VectorIndex.buildRotating(spark, Tables.embeddings(spark, sfDir), vHome)
    val roll = IndexStats.rollup(spark, Seq("dedup" -> home, "vector" -> vHome))
    assert(roll.select("kind").distinct().collect().map(_.getString(0)).sorted.toSeq ==
      Seq("dedup", "vector"))
    assert(roll.count() == 8) // 3 dedup tables + 5 vector tables
  }

  /** (files, bytes) per table under `live`, walked with java.nio,
    * independently of the library: a file counts unless a path
    * component below its table directory is hidden (`.`/`_`).
    */
  private def walked(live: String, tables: Seq[String]): Map[String, (Long, Long)] = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(new org.apache.hadoop.fs.Path(live).toUri.getPath)
    tables.map { t =>
      val dir = root.resolve(t)
      val sizes =
        if (!Files.exists(dir)) Nil
        else {
          val all = Files.walk(dir)
          try all.iterator().asScala.filter(Files.isRegularFile(_)).filterNot { f =>
            dir.relativize(f).iterator().asScala.map(_.toString)
              .exists(n => n.startsWith(".") || n.startsWith("_"))
          }.map(Files.size(_: Path)).toList
          finally all.close()
        }
      t -> ((sizes.size.toLong, sizes.sum))
    }.toMap
  }

  test("stats files/bytes equal an independent walk of the live layout across the full lifecycle") {
    import spark.implicits._
    import graft.sources.IndexSnapshot
    def check(tag: String, home: String, tables: Seq[String], st: DataFrame): Unit = {
      val listed = walked(IndexAlias.resolve(spark, home), tables)
      val got = st.collect().map(r => r.getAs[String]("table") ->
        ((r.getAs[Long]("files"), r.getAs[Long]("bytes")))).toMap
      tables.foreach { t =>
        assert(got(t) == listed(t), s"$tag/$t: stats ${got(t)} != walked ${listed(t)}")
      }
    }
    // vector: build -> append -> delete -> setPayload -> compact ->
    // retrain -> snapshot/restore, stats ≡ walk at every step
    val vHome = IndexCache.tempDir("graft-manif-vec") + "/vix"
    val vT = Seq("vectors", "lsh", "meta", "tombstones", "payload")
    val corpus = Tables.embeddings(spark, sfDir)
    VectorIndex.buildRotating(spark, corpus, vHome)
    check("vec/build", vHome, vT, VectorIndex.stats(spark, vHome))
    VectorIndex.append(spark, corpus.limit(30)
      .select((col("vec_id") + 910000L).as("vec_id"), col("embedding"), col("label")), vHome)
    check("vec/append", vHome, vT, VectorIndex.stats(spark, vHome))
    VectorIndex.delete(spark, vHome, Seq(1L, 2L, 3L))
    check("vec/delete", vHome, vT, VectorIndex.stats(spark, vHome))
    VectorIndex.setPayload(spark, vHome, Seq((5L, 9)).toDF("vec_id", "label"))
    check("vec/payload", vHome, vT, VectorIndex.stats(spark, vHome))
    VectorIndex.compact(spark, vHome)
    check("vec/compact", vHome, vT, VectorIndex.stats(spark, vHome))
    VectorIndex.retrain(spark, vHome)
    check("vec/retrain", vHome, vT, VectorIndex.stats(spark, vHome))
    val snapId = IndexSnapshot.create(spark, vHome)
    VectorIndex.delete(spark, vHome, Seq(7L))
    IndexSnapshot.restore(spark, vHome, snapId)
    check("vec/restore", vHome, vT, VectorIndex.stats(spark, vHome))
    // text: write -> append -> delete -> compact
    val tHome = IndexCache.tempDir("graft-manif-text") + "/tix"
    val tT = Seq("postings", "vocab", "stats", "tombstones")
    val docs = (0L to 39L).map(i => (i, s"kilo lima mike nov$i oscar papa"))
      .toDF("doc_id", "text")
    TextIndex.rotate(docs, tHome)
    check("text/build", tHome, tT, TextIndex.stats(spark, tHome))
    TextIndex.append(docs.select((col("doc_id") + 1000L).as("doc_id"), col("text")), tHome)
    check("text/append", tHome, tT, TextIndex.stats(spark, tHome))
    TextIndex.delete(docs.limit(3), tHome)
    check("text/delete", tHome, tT, TextIndex.stats(spark, tHome))
    TextIndex.compact(spark, tHome)
    check("text/compact", tHome, tT, TextIndex.stats(spark, tHome))
    // dedup: write -> append -> delete -> compact
    val dHome = IndexCache.tempDir("graft-manif-dedup") + "/dix"
    val dT = Seq("postings", "shingles", "tombstones")
    Dedup.rotateMinhashIndex(docs, dHome)
    check("dedup/build", dHome, dT, Dedup.indexStats(spark, dHome))
    Dedup.appendToMinhashIndex(
      docs.select((col("doc_id") + 2000L).as("doc_id"), col("text")), dHome)
    check("dedup/append", dHome, dT, Dedup.indexStats(spark, dHome))
    Dedup.deleteFromMinhashIndex(spark, Seq(0L), IndexAlias.resolve(spark, dHome))
    check("dedup/delete", dHome, dT, Dedup.indexStats(spark, dHome))
    Dedup.compactMinhashIndex(spark, dHome)
    check("dedup/compact", dHome, dT, Dedup.indexStats(spark, dHome))
    // the poll lists the live layout: a rogue file dropped into it
    // outside any verb is counted by the very next poll (no verb has
    // to run for stats to see it), and gone once it is removed
    val live = IndexAlias.resolve(spark, dHome)
    val fs = new org.apache.hadoop.fs.Path(live)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = files(Dedup.indexStats(spark, dHome), "postings")
    val rogue = new org.apache.hadoop.fs.Path(s"$live/postings/rogue.parquet")
    val out = fs.create(rogue, true); out.write(Array[Byte](1, 2, 3)); out.close()
    assert(files(Dedup.indexStats(spark, dHome), "postings") == before + 1,
      "a file written outside any verb must be counted by the next poll")
    check("dedup/rogue", dHome, dT, Dedup.indexStats(spark, dHome))
    fs.delete(rogue, false)
    check("dedup/after-rogue", dHome, dT, Dedup.indexStats(spark, dHome))
  }

  test("cluster index stats: takedown + superseded debt visible, compact clears, q_index_stats carries it") {
    import spark.implicits._
    val home = graft.operators.IndexCache.tempDir("graft-cidx-stats") + "/cidx"
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k"),
      (3L, "a b c d e f g h i j"),
      (9L, "totally unrelated content words here only once")
    ).toDF("doc_id", "text")
    Dedup.writeClusterIndex(docs, home)
    def debt(): Map[String, Long] = Dedup.clusterIndexStats(spark, home).collect()
      .map(r => r.getAs[String]("table") -> r.getAs[Long]("debt_rows")).toMap
    assert(debt()("tombstones") == 0L && debt()("clusters") == 0L)
    // a delete leaves visible debt: the tombstone row AND the
    // superseding membership rows a compaction would fold away
    Dedup.deleteFromClusterIndex(spark, Seq(1L), home)
    assert(debt()("tombstones") == 1L, s"tombstone debt: ${debt()}")
    assert(debt()("clusters") > 0L, s"superseded-row debt: ${debt()}")
    Dedup.compactClusterIndex(spark, home)
    assert(debt()("tombstones") == 0L && debt()("clusters") == 0L,
      s"debt after compact: ${debt()}")
    // the registered entry surfaces the cluster kind alongside
    // vector, plus the round-12 observability rows: serving params
    // (calibrated budgets, encoding flags, budget-bound) and the
    // embedding-dedup route decision with its measured inputs
    val rows = SparkEntry.queries("q_index_stats")(spark, sfDir).collect()
    val kinds = rows.map(_.getAs[String]("kind")).toSet
    assert(kinds == Set("vector", "cluster", "dedup_route"), s"kinds: $kinds")
    val paramRows = rows.filter(_.getAs[String]("table").startsWith("param:"))
      .map(r => r.getAs[String]("table") -> r.getAs[String]("value")).toMap
    assert(paramRows.contains("param:pq_budget_bound"), s"params: ${paramRows.keys}")
    // the band width a drift report compares against is visible; the
    // format flags every served layout carries (always 1) are not rows
    val lshBits = VectorIndex.readMeta(spark,
      VectorIndex.sessionIndexPath(spark, sfDir)).lshBits
    assert(paramRows.get("param:lsh_bits").contains(lshBits.toString),
      s"lsh_bits row ${paramRows.get("param:lsh_bits")} vs meta $lshBits")
    Seq("param:pq_residual", "param:pq_opq", "param:bq_centered").foreach { f =>
      assert(!paramRows.contains(f), s"constant flag row $f still reported")
    }
    assert(paramRows.get("param:route").exists(Set("exact", "lsh", "cluster")),
      s"route row: ${paramRows.get("param:route")}")
  }
}
