package graft

import graft.api.{Metric, TextIndex, VectorCollection}
import org.apache.spark.sql.functions._

class ApiSpec extends SparkSpec {

  private def mkColl() = {
    import spark.implicits._
    VectorCollection(Seq(
      (1L, Array(1.0f, 0.0f), "x"),
      (2L, Array(0.9f, 0.1f), "x"),
      (3L, Array(0.0f, 1.0f), "y"),
      (4L, Array(-1.0f, 0.0f), "y")).toDF("id", "embedding", "tag"))
  }

  private def mkQueries() = {
    import spark.implicits._
    Seq((100L, Array(1.0f, 0.0f))).toDF("q_id", "q_emb")
  }

  test("search ranks by metric with deterministic ties") {
    val r = mkColl().search(mkQueries(), k = 2, Metric.Cosine).collect()
    assert(r.length == 2)
    val byRn = r.sortBy(_.getAs[Long]("rn")).map(_.getAs[Long]("id"))
    assert(byRn.sameElements(Array(1L, 2L)))
    val l2 = mkColl().search(mkQueries(), k = 1, Metric.L2).head()
    assert(l2.getAs[Long]("id") == 1L && l2.getAs[Double]("score") == 0.0)
  }

  test("search preFilter restricts the corpus") {
    val r = mkColl().search(mkQueries(), k = 10, Metric.Cosine,
      preFilter = Some(col("tag") === "y")).collect()
    assert(r.map(_.getAs[Long]("id")).toSet == Set(3L, 4L))
  }

  test("a geo wire filter composes as a vector-search preFilter (Qdrant filtered kNN with geo)") {
    import spark.implicits._
    // collection with a geo payload field `loc` (lat/lon columns)
    val coll = VectorCollection(Seq(
      (1L, Array(1.0f, 0.0f), 10.0, 20.0),   // near the search box
      (2L, Array(0.95f, 0.05f), 11.0, 21.0), // near, slightly worse vector
      (3L, Array(0.99f, 0.01f), -60.0, 150.0), // best vector, far away
      (4L, Array(0.0f, 1.0f), 12.0, 19.0))   // near, orthogonal vector
      .toDF("id", "embedding", "loc_lat", "loc_lon"))
    val geo = graft.api.FilterDsl.fromJson(
      """{ "must": [ {"key": "loc",
        |  "geo_radius": {"center": {"lat": 10.5, "lon": 20.0}, "radius": 400000.0}} ] }""".stripMargin)
    val r = coll.search(mkQueries(), k = 2, Metric.Cosine,
      preFilter = Some(geo.toColumn)).collect()
    // doc 3 (best cosine) is outside the radius and must not appear;
    // ranking inside the filtered set stays by metric
    assert(r.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L))
  }

  test("rangeSearch respects metric direction") {
    val cos = mkColl().rangeSearch(mkQueries(), 0.5, Metric.Cosine).collect()
    assert(cos.map(_.getAs[Long]("id")).toSet == Set(1L, 2L))
    val l2 = mkColl().rangeSearch(mkQueries(), 0.2, Metric.L2).collect()
    assert(l2.map(_.getAs[Long]("id")).toSet == Set(1L, 2L))
  }

  test("upsert is latest-wins, delete filters, getByIds and scroll page") {
    import spark.implicits._
    val batch = Seq(
      (2L, Array(0.5f, 0.5f), "z"),   // update
      (9L, Array(0.1f, 0.1f), "z")    // insert
    ).toDF("id", "embedding", "tag")
    val up = mkColl().upsert(batch)
    val tags = up.df.select("id", "tag").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tags == Map(1L -> "x", 2L -> "z", 3L -> "y", 4L -> "y", 9L -> "z"))

    val del = up.delete(col("tag") === "z")
    assert(del.df.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L))

    assert(mkColl().getByIds(Seq(2L, 3L)).count() == 2)
    val page = mkColl().scroll(1, 2).select("id").collect().map(_.getLong(0))
    assert(page.sameElements(Array(2L, 3L)))
  }

  test("recommend ranks toward positives, away from negatives, excluding examples") {
    // pos = (1,0), neg = (-1,0) -> query ~ (1,0); candidates 2 and 3
    val r = mkColl().recommend(Seq(1L), Seq(4L), k = 2).collect()
      .sortBy(_.getAs[Long]("rn"))
    assert(r.map(_.getAs[Long]("id")).sameElements(Array(2L, 3L)))
    assert(!r.map(_.getAs[Long]("id")).contains(1L))
    assert(r.head.getAs[Double]("score") > r.last.getAs[Double]("score"))
  }

  test("named vectors: the same table searched through two embedding columns") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (2L, Array(0.0f, 1.0f), Array(1.0f, 0.0f))).toDF("id", "emb_text", "emb_image")
    val q = Seq((9L, Array(1.0f, 0.0f))).toDF("q_id", "q_emb")
    val byText = VectorCollection(df, embCol = "emb_text").search(q, 1).head().getAs[Long]("id")
    val byImage = VectorCollection(df, embCol = "emb_image").search(q, 1).head().getAs[Long]("id")
    assert(byText == 1L && byImage == 2L)
  }

  test("stats summarizes any collection") {
    val s = mkColl().stats().head()
    assert(s.getAs[Long]("n_vectors") == 4)
    assert(s.getAs[Long]("dim") == 2)
    assert(s.getAs[Double]("min_norm") <= s.getAs[Double]("max_norm"))
  }

  test("TextIndex scores an arbitrary corpus") {
    import spark.implicits._
    val idx = TextIndex(Seq(
      (1L, "cat dog cat"),
      (2L, "dog bird"),
      (3L, "fish fish fish")).toDF("doc_id", "text"))
    val km = idx.keywordMatch(Seq("cat", "dog"), 1).collect()
    assert(km.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L))
    val tf = idx.tfidf(Seq("cat")).collect()
    assert(tf.length == 1 && tf.head.getAs[Long]("doc_id") == 1L)
    val bm = idx.bm25(Seq("dog")).collect()
    assert(bm.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L))
    // doc 2 is shorter -> higher bm25 for same tf
    val byDoc = bm.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    assert(byDoc(2L) > byDoc(1L))
  }

  test("at-rest text index serves identical BM25 scores to the on-the-fly scan") {
    val docs = Tables.documents(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("graft-ti-spec").toString
    TextIndex(docs).writeIndex(path)
    val terms = Seq("spark", "join", "vector")
    val live = TextIndex(docs).bm25(terms).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    val atRest = TextIndex.bm25AtRest(spark, path, terms).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    assert(atRest == live, "at-rest BM25 must equal the on-the-fly scores exactly")
    assert(live.nonEmpty)
  }

  test("an index over renamed columns persists doc_id/text: at-rest scores equal bm25 across compact") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("item_id"), col("text").as("body"))
    val path = java.nio.file.Files.createTempDirectory("graft-ti-renamed").toString
    val index = TextIndex(docs, idCol = "item_id", textCol = "body")
    index.writeIndex(path)
    val terms = Seq("spark", "join", "vector")
    val live = index.bm25(terms).collect()
      .map(r => r.getAs[Long]("item_id") -> r.getAs[Double]("bm25")).toMap
    def atRest() = TextIndex.bm25AtRest(spark, path, terms).collect()
      .map(r => Option(r.getAs[java.lang.Long]("doc_id")).map(_.longValue) -> r.getAs[Double]("bm25"))
      .toMap
    assert(live.nonEmpty)
    assert(atRest() == live.map { case (id, s) => Some(id) -> s },
      "at-rest scores over a renamed-column index must be keyed by the docs' ids")
    TextIndex.compact(spark, path)
    assert(atRest() == live.map { case (id, s) => Some(id) -> s },
      "compaction of a renamed-column index changed its ids or scores")
  }

  test("text-index append folds a new batch — scores equal a full-corpus rebuild") {
    val docs = Tables.documents(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("graft-ti-append").toString
    TextIndex(docs.filter(col("doc_id") % 3 =!= 0)).writeIndex(path)
    TextIndex.append(docs.filter(col("doc_id") % 3 === 0), path)
    val terms = Seq("spark", "join", "vector")
    val atRest = TextIndex.bm25AtRest(spark, path, terms).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    val live = TextIndex(docs).bm25(terms).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    assert(atRest == live,
      "incrementally-maintained index must score exactly as a full rebuild")
  }

  test("text-index delete folds negative deltas — scores equal a rebuild without the batch") {
    val docs = Tables.documents(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("graft-ti-delete").toString
    TextIndex(docs).writeIndex(path)
    val victims = docs.filter(col("doc_id") % 5 === 0)
    TextIndex.delete(victims, path)
    val terms = Seq("spark", "join", "vector")
    def scores(p: String) = TextIndex.bm25AtRest(spark, p, terms).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    val live = TextIndex(docs.filter(col("doc_id") % 5 =!= 0)).bm25(terms).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    val atRest = scores(path)
    assert(atRest == live,
      "tombstoned index must score exactly as a rebuild without the deleted docs")
    assert(atRest.nonEmpty && !atRest.keySet.exists(_ % 5 == 0))
    // compaction applies tombstones physically, clears them, and scores survive
    TextIndex.compact(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones")))
    assert(scores(path) == live, "scores changed across text-index compaction")
  }

  test("text-index delete is replay-safe: a redelivered batch is a no-op") {
    // foreachBatch redelivers micro-batches at-least-once on restart;
    // a replayed takedown must NOT double-subtract df/n_docs/sum_dl
    val docs = Tables.documents(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("graft-ti-replay").toString
    TextIndex(docs).writeIndex(path)
    val victims = docs.filter(col("doc_id") % 5 === 0)
    TextIndex.delete(victims, path)
    val terms = Seq("spark", "join", "vector")
    def scores(p: String) = TextIndex.bm25AtRest(spark, p, terms).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    val once = scores(path)
    TextIndex.delete(victims, path) // full replay
    TextIndex.delete(victims.limit(20), path) // partial replay
    assert(scores(path) == once, "replayed delete batch changed BM25 stats")
    // stats must survive compaction too (negative deltas were not duplicated)
    TextIndex.compact(spark, path)
    assert(scores(path) == once, "replayed deltas surfaced at compaction")
  }

  test("text-index search prunes the postings scan to the terms' bucket partitions") {
    val docs = Tables.documents(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("graft-ti-prune").toString
    TextIndex(docs).writeIndex(path)
    val p = TextIndex.bm25AtRest(spark, path, Seq("spark")).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters") && p.contains("tok_bucket"), p)
    // one term → exactly one of the TokenBuckets partitions is read
    val dirs = new java.io.File(s"$path/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("tok_bucket=")).map(_.getName)
    assert(dirs.length > 1, "corpus vocabulary should span several buckets")
  }

  test("FilterDsl compiles must/should/must_not to the same rows as hand-written predicates") {
    import graft.api.FilterDsl._
    val docs = Tables.documents(spark, sfDir)
    val f = Filter(
      must = Seq(MatchValue("lang", "en"), Range("n_chars", gte = Some(100), lt = Some(900))),
      mustNot = Seq(MatchAny("source", Seq("src0", "src1"))),
      should = Seq(TextContains("text", "spark"), TextContains("text", "join")),
      minShould = 1)
    val got = docs.filter(f.toColumn).select("doc_id").collect().map(_.getLong(0)).toSet
    val want = docs.filter(
      col("lang") === "en" && col("n_chars") >= 100 && col("n_chars") < 900 &&
        !col("source").isin("src0", "src1") &&
        (col("text").contains("spark") || col("text").contains("join")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("FilterDsl parses the Qdrant JSON wire form to the same predicate") {
    import graft.api.FilterDsl._
    val docs = Tables.documents(spark, sfDir)
    val json =
      """{ "must": [ {"key": "lang", "match": {"value": "en"}},
        |            {"key": "n_chars", "range": {"gte": 100, "lt": 900}} ],
        |  "must_not": [ {"key": "source", "match": {"any": ["src0", "src1"]}} ],
        |  "should": [ {"key": "text", "match": {"text": "spark"}},
        |              {"key": "text", "match": {"text": "join"}} ],
        |  "min_should": 1 }""".stripMargin
    val ast = Filter(
      must = Seq(MatchValue("lang", "en"), Range("n_chars", gte = Some(100), lt = Some(900))),
      mustNot = Seq(MatchAny("source", Seq("src0", "src1"))),
      should = Seq(TextContains("text", "spark"), TextContains("text", "join")))
    val a = docs.filter(fromJson(json).toColumn).count()
    val b = docs.filter(ast.toColumn).count()
    assert(a == b && a > 0)
    // nested bool-in-bool parses and is at least as selective
    val nested = fromJson(
      """{ "must": [ {"key": "lang", "match": {"value": "en"}},
        |            { "should": [ {"key": "source", "match": {"value": "src2"}},
        |                          {"key": "source", "match": {"value": "src3"}} ] } ] }""".stripMargin)
    val n = docs.filter(nested.toColumn)
    assert(n.count() > 0)
    assert(n.select("source").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("src2", "src3")))
  }

  test("FilterDsl flat predicates push down to the parquet scan") {
    import graft.api.FilterDsl._
    val f = Filter(must = Seq(MatchValue("label", 3), Range("vec_id", lt = Some(400))))
    val p = Tables.embeddings(spark, sfDir).filter(f.toColumn).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("EqualTo(label,3)") && p.contains("LessThan(vec_id"), p)
  }

  test("FilterDsl match.except negates the terms filter and still pushes down") {
    import graft.api.FilterDsl._
    val docs = Tables.documents(spark, sfDir)
    val f = fromJson("""{ "must": [ {"key": "source", "match": {"except": ["src0", "src1"]}} ] }""")
    val got = docs.filter(f.toColumn).select("source").distinct()
      .collect().map(_.getString(0)).toSet
    assert(got.nonEmpty && !got.contains("src0") && !got.contains("src1"))
    val p = docs.filter(f.toColumn).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("Not(In(source"), p)
  }

  test("writeIndex persists a user collection's full index; exhaustive probe equals exact search") {
    import graft.operators.{Ann, VectorIndex}
    // a user collection with its OWN column names and no label column
    val coll = VectorCollection(
      Tables.embeddings(spark, sfDir)
        .selectExpr("vec_id AS item_id", "embedding AS vec"),
      idCol = "item_id", embCol = "vec")
    val path = graft.operators.IndexCache.tempDir("graft-api-index") + "/idx"
    coll.writeIndex(spark, path)
    val queries = graft.operators.VectorSearch.querySet(spark, sfDir)
    // nprobe = nlist probes everything: the index must reproduce the
    // exact top-k — same ids, same rank, same scores
    val viaIndex = VectorIndex.searchIvf(spark, path, queries, nprobe = Ann.NList)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rn"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("score"))).sortBy(t => (t._1, t._2))
    val exact = coll.search(queries, Ann.K, Metric.Cosine)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rn"),
        r.getAs[Long]("item_id"), r.getAs[Double]("score"))).sortBy(t => (t._1, t._2))
    assert(viaIndex.nonEmpty && viaIndex.sameElements(exact))
    // quantized families serve from the same layout
    assert(VectorIndex.searchPq(spark, path, queries).count() > 0)
    assert(VectorIndex.searchBq(spark, path, queries).count() > 0)
  }
}
