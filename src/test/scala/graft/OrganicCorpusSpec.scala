package graft

import org.apache.spark.sql.functions._

/** The organic corpus generator must be a DROP-IN for the driver
  * data: same schemas, same key integrity, same measured
  * distributions — and deterministic, so a committed bench number
  * against a generated corpus is reproducible bit-for-bit.
  */
class OrganicCorpusSpec extends SparkSpec {

  private lazy val dir = {
    val d = graft.operators.IndexCache.tempDir("graft-organic") + "/sf"
    OrganicCorpus.generate(spark, 0.002, d)
    d
  }

  test("schemas match the driver tables (names and types)") {
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings")) {
      val want = Tables.load(spark, sfDir, t).schema
        .map(f => f.name -> f.dataType.simpleString)
      val got = Tables.load(spark, dir, t).schema
        .map(f => f.name -> f.dataType.simpleString)
      assert(got == want, s"$t schema drift: $got vs $want")
    }
    // events: the driver file is TIMESTAMP(NANOS) readable only via
    // Tables.events; both sides must agree AFTER that loader
    val wantE = Tables.events(spark, sfDir).schema.map(f => f.name -> f.dataType.simpleString)
    val gotE = Tables.events(spark, dir).schema.map(f => f.name -> f.dataType.simpleString)
    assert(gotE == wantE, s"events schema drift: $gotE vs $wantE")
  }

  test("key integrity and dense key spaces") {
    val nOrd = Tables.orders(spark, dir).count()
    assert(Tables.orders(spark, dir).agg(max(col("o_orderkey"))).head.getLong(0) == nOrd - 1)
    // every lineitem points at a real order/part/supplier
    val li = Tables.lineitem(spark, dir)
    assert(li.join(Tables.orders(spark, dir),
      col("l_orderkey") === col("o_orderkey"), "left_anti").count() == 0)
    assert(li.join(Tables.part(spark, dir),
      col("l_partkey") === col("p_partkey"), "left_anti").count() == 0)
    assert(Tables.orders(spark, dir).join(Tables.customer(spark, dir),
      col("o_custkey") === col("c_custkey"), "left_anti").count() == 0)
    val lpo = li.count().toDouble / nOrd
    assert(lpo > 3.5 && lpo < 4.5, s"lines/order $lpo drifted from ~4")
  }

  test("measured distributions hold") {
    val docs = Tables.documents(spark, dir)
    // text: vocab-closed, n_chars consistent, langs all present
    assert(docs.filter(length(col("text")) =!= col("n_chars")).count() == 0)
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(words.keySet.subsetOf(
      ("dup" +: Seq("a", "agg", "batch", "big", "column", "customer", "data",
        "fast", "filter", "group", "hash", "join", "key", "line", "merge",
        "order", "part", "query", "row", "scan", "slow", "small", "sort",
        "spark", "stream", "table", "the", "value", "vector", "window")).toSet))
    assert(words.contains("dup") && words("dup") < words("join") / 10)
    assert(docs.select(countDistinct(col("lang"))).head.getLong(0) == 5)
    // embeddings: unit-norm, 10 labels
    val e = Tables.embeddings(spark, dir)
      .select(aggregate(col("embedding"), lit(0.0d),
        (acc, x) => acc + x * x).as("sq"))
    val norms = e.agg(min(col("sq")), max(col("sq"))).head
    assert(math.abs(norms.getDouble(0) - 1.0) < 1e-6 &&
      math.abs(norms.getDouble(1) - 1.0) < 1e-6)
    assert(Tables.embeddings(spark, dir)
      .select(countDistinct(col("label"))).head.getLong(0) == 10)
    // events: value is positive with an exponential-ish tail, 5 types
    val ev = Tables.events(spark, dir)
    val v = ev.agg(min(col("value")), avg(col("value"))).head
    assert(v.getDouble(0) >= 0.01 && v.getDouble(1) > 35 && v.getDouble(1) < 65)
    assert(ev.select(countDistinct(col("event_type"))).head.getLong(0) == 5)
  }

  test("generation is deterministic and independent of partitioning") {
    val d2 = graft.operators.IndexCache.tempDir("graft-organic2") + "/sf"
    OrganicCorpus.generate(spark, 0.002, d2)
    for (t <- Seq("orders", "lineitem", "documents", "embeddings", "events")) {
      def digest(d: String): String = {
        val df = if (t == "events") Tables.events(spark, d) else Tables.load(spark, d, t)
        // decimal sum: a bigint sum of 64-bit hashes overflows ANSI
        df.select(xxhash64(df.columns.map(c => col(c).cast("string")): _*).as("h"))
          .agg(sum(col("h").cast("decimal(38,0)"))).head.getDecimal(0).toString
      }
      assert(digest(dir) == digest(d2), s"$t not deterministic")
    }
  }

  test("registered entries run against a generated corpus unchanged") {
    for (q <- Seq("q1_agg", "q_token_count", "q_knn_cosine", "q_eql_sequence"))
      assert(SparkEntry.queries(q)(spark, dir).count() > 0, s"$q empty on organic corpus")
  }

  // ---- Heaps-law vocabulary mode ---------------------------------

  private lazy val heapsDir = {
    val d = graft.operators.IndexCache.tempDir("graft-heaps") + "/sf"
    OrganicCorpus.generate(spark, 0.01, d, vocabMode = "heaps", tables = Set("documents"))
    d
  }
  private lazy val heapsBigDir = {
    val d = graft.operators.IndexCache.tempDir("graft-heaps10") + "/sf"
    OrganicCorpus.generate(spark, 0.1, d, vocabMode = "heaps", tables = Set("documents"))
    d
  }

  private def tokenStats(d: String): (Long, Long) = {
    val r = Tables.documents(spark, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .agg(count(lit(1)).as("n"), countDistinct(col("w")).as("v")).head
    (r.getLong(0), r.getLong(1))
  }

  test("heaps mode: vocabulary grows as n^beta with beta in [0.4, 0.6]") {
    val (n1, v1) = tokenStats(heapsDir)
    val (n2, v2) = tokenStats(heapsBigDir)
    assert(n2 > 8 * n1, s"corpus sizes too close to fit: $n1 vs $n2")
    val beta = math.log(v2.toDouble / v1) / math.log(n2.toDouble / n1)
    assert(beta >= 0.4 && beta <= 0.6,
      s"measured Heaps beta $beta outside [0.4, 0.6] (V: $v1 -> $v2, n: $n1 -> $n2)")
    // and the q_heaps audit itself — the operator that measured beta=0
    // on the driver-faithful mode — now reads ~0.5 on its own output
    val audited = graft.operators.TextAnalysis.qHeaps(spark, heapsBigDir)
      .select(col("heaps_beta")).head.getDouble(0)
    assert(audited >= 0.35 && audited <= 0.65,
      s"q_heaps audit beta $audited outside [0.35, 0.65]")
  }

  test("heaps mode: rank-frequency follows Zipf slope ~ -1 over the head") {
    val freqs = Tables.documents(spark, heapsBigDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).count()
      .orderBy(col("count").desc, col("w"))
      .limit(300).collect().map(_.getLong(1))
    // OLS of log(freq) on log(rank) over ranks 10..300 (below 10 the
    // discrete log-uniform head is noisy; past the head the tail
    // exponent takes over — the two-regime shape real corpora have)
    val pts = freqs.zipWithIndex.drop(9)
      .map { case (f, i) => (math.log(i + 1.0), math.log(f.toDouble)) }
    val n = pts.length.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(slope >= -1.25 && slope <= -0.75,
      s"Zipf slope $slope outside [-1.25, -0.75]")
  }

  test("heaps mode: deterministic, schema-stable, driver needles present") {
    // same schema as the driver documents table
    val want = Tables.load(spark, sfDir, "documents").schema
      .map(f => f.name -> f.dataType.simpleString)
    val got = Tables.load(spark, heapsDir, "documents").schema
      .map(f => f.name -> f.dataType.simpleString)
    assert(got == want, s"heaps documents schema drift: $got vs $want")
    // bit-determinism (the property every committed bench rests on)
    val d2 = graft.operators.IndexCache.tempDir("graft-heaps2") + "/sf"
    OrganicCorpus.generate(spark, 0.01, d2, vocabMode = "heaps", tables = Set("documents"))
    def digest(d: String): String = {
      val df = Tables.documents(spark, d)
      df.select(xxhash64(df.columns.map(c => col(c).cast("string")): _*).as("h"))
        .agg(sum(col("h").cast("decimal(38,0)"))).head.getDecimal(0).toString
    }
    assert(digest(heapsDir) == digest(d2), "heaps documents not deterministic")
    // the driver vocabulary occupies the top ranks, so fixed-needle
    // registered queries stay non-empty on heaps corpora
    val docs = Tables.documents(spark, heapsDir)
    assert(docs.filter(col("text").rlike("\\bjoin\\b")).count() > 0)
    assert(SparkEntry.queries("q_token_count")(spark, heapsDir).count() > 0)
  }

  private lazy val anisoDir = {
    val d = graft.operators.IndexCache.tempDir("graft-organic-aniso") + "/sf"
    OrganicCorpus.generate(spark, 0.04, d, embedMode = "aniso", tables = Set("embeddings"))
    d
  }

  test("aniso mode: concentrated cloud (pRand > 0.8), unit norm, deterministic") {
    val emb = Tables.embeddings(spark, anisoDir)
    // the statistic the banding chooser measures: random pairs sit in
    // a narrow cone, NOT at 90 degrees
    val p = graft.operators.Dedup.measuredPRand(emb)
    assert(p > 0.8, f"aniso cloud pRand $p%.3f must exceed 0.8")
    val pU = graft.operators.Dedup.measuredPRand(Tables.embeddings(spark, dir))
    assert(math.abs(pU - 0.5) < 0.05,
      f"uniform mode must stay direction-uniform, measured $pU%.3f")
    // schema-stable, unit-norm, all labels populated
    assert(emb.schema.map(f => f.name -> f.dataType.simpleString) ==
      Tables.embeddings(spark, dir).schema.map(f => f.name -> f.dataType.simpleString))
    val badNorm = emb.select(sqrt(aggregate(col("embedding"), lit(0.0d),
        (acc, x) => acc + x * x)).as("n"))
      .filter(abs(col("n") - 1.0) > 1e-3).count()
    assert(badNorm == 0, s"$badNorm non-unit-norm aniso vectors")
    assert(emb.select(countDistinct(col("label"))).head.getLong(0) == 10)
    // bit-determinism
    val d2 = graft.operators.IndexCache.tempDir("graft-organic-aniso2") + "/sf"
    OrganicCorpus.generate(spark, 0.04, d2, embedMode = "aniso", tables = Set("embeddings"))
    def digest(d: String): String = {
      val df = Tables.embeddings(spark, d)
      df.select(xxhash64(col("vec_id").cast("string"),
          col("embedding").cast("string"), col("label").cast("string")).as("h"))
        .agg(sum(col("h").cast("decimal(38,0)"))).head.getDecimal(0).toString
    }
    assert(digest(anisoDir) == digest(d2), "aniso embeddings not deterministic")
  }

  test("aniso mode: IVF recall holds at the default budget on the concentrated cloud") {
    import graft.operators.{Ann, VectorIndex}
    import graft.api.{Metric, VectorCollection}
    val emb = Tables.embeddings(spark, anisoDir)
    val path = graft.operators.IndexCache.tempDir("graft-aniso-ivf") + "/idx"
    VectorIndex.buildFrom(spark, emb, path)
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    def topk(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val exact = topk(VectorCollection(emb, idCol = "vec_id")
      .search(queries, 10, Metric.Cosine).collect())
    val approx = topk(VectorIndex.searchIvf(spark, path, queries).collect())
    val recall = exact.map { case (q, ex) =>
      approx.get(q).map(_.intersect(ex).size.toDouble / ex.size).getOrElse(0.0)
    }.sum / exact.size
    info(f"aniso IVF recall@10 at nprobe ${Ann.NProbe} = $recall%.3f")
    assert(recall >= 0.9,
      f"IVF recall $recall%.3f below 0.9 at the default budget on the aniso cloud")
  }

  test("aniso mode: a below-noise-floor threshold routes auto to the exact scorer") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.lit
    // one label block above the (lowered) LSH crossover, so without
    // the contrast guard auto would band; at threshold 0.35 (below
    // the cloud's ~0.84 random-pair mean) banding has no sparse
    // structure to find and would lose essentially all pairs
    val flat = Tables.embeddings(spark, anisoDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 300)
      .withColumn("label", lit(0))
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val auto = pairSet(Dedup.embeddingNearDupAuto(flat, threshold = 0.35,
      lshCrossover = 100))
    val exact = pairSet(Dedup.embeddingNearDupExact(flat, threshold = 0.35))
    assert(auto == exact && auto.nonEmpty,
      s"auto must route the no-contrast regime to the exact scorer " +
        s"(got ${auto.size} pairs vs exact ${exact.size})")
  }

  test("aniso mode: adaptive banding stays a verified subset with copies recalled") {
    import graft.operators.Dedup
    val emb = Tables.embeddings(spark, anisoDir)
    // augment with exact copies — known positives at cosine 1.0
    val copies = emb.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("label"))
    val aug = emb.unionByName(copies)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val exact = pairSet(Dedup.embeddingNearDupExact(aug, 0.95))
    val adaptive = pairSet(Dedup.embeddingNearDupAuto(aug, 0.95, lshCrossover = 0.0))
    assert(adaptive.subsetOf(exact), s"false pairs: ${(adaptive -- exact).take(3)}")
    val copyPairs = exact.filter { case (a, b) => b - a == 1000000L }
    assert(copyPairs.nonEmpty && copyPairs.forall(adaptive.contains),
      "adaptive banding on the concentrated cloud lost exact-copy pairs")
    assert(exact.nonEmpty &&
      adaptive.size.toDouble / exact.size >= 0.9,
      f"adaptive recall ${adaptive.size.toDouble / exact.size}%.3f below 0.9 on the aniso cloud")
  }
}
