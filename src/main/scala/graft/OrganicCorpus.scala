package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Organic (dbgen-style) corpus generator: produces the full star
  * schema + documents/embeddings/events at an arbitrary scale factor
  * by INDEPENDENT sampling from the driver data's measured
  * distributions — not by replicating the driver tables. The
  * replicated corpora (`SlopeBench.buildScaledAll`) preserve join
  * degrees by construction; this generator removes the remaining
  * "but replicas aren't organic" caveat from the scale measurements:
  * every key draw, text, vector, and timestamp is fresh, so
  * cardinality growth (distinct users, vocab co-occurrence mass,
  * duplicate-group counts) follows the same organic laws a real
  * corpus follows at 10× the data.
  *
  * Distributions were measured off `/root/testdata/sf0.01` (see
  * TESTDATA.md): 31-word document vocab with `dup` rare, uniform
  * sources, weighted langs, unit-norm iid Gaussian 64-dim embeddings
  * with 10 uniform labels, exponential(mean 50) event values over a
  * 30-day window, TPC-H-ish uniform columns with dense key spaces
  * and uniform foreign keys (orders/customer ≈ 10, events/user ≈ 67,
  * lineitem/order ~ U{1..7}).
  *
  * Scale shape: every table generates DISTRIBUTED — `spark.range`
  * over the key space, one seeded PRNG per row (splitmix64 of the
  * row id, so the output is independent of partitioning and
  * identical across runs/cluster sizes), `mapPartitions` emission,
  * no driver-side loops. At sf=100 this writes ~6 B lineitem rows
  * without the driver ever holding a row.
  */
object OrganicCorpus {

  // ---- deterministic per-row randomness -------------------------
  /** splitmix64 — one 64-bit mix per draw; seeding a JDK Random with
    * a raw `id` would correlate adjacent rows (same high bits).
    */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def rng(table: Int, id: Long, seed: Long) =
    new java.util.Random(mix(seed ^ (table.toLong << 56) ^ id))

  // ---- measured distributions -----------------------------------
  private[graft] val Vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val RareWord = "dup" // measured ~0.1% of tokens
  private val Langs = Array("en", "zh", "es", "de", "fr")
  private val LangCum = Array(0.436, 0.586, 0.732, 0.872, 1.0)
  private val EventTypes = Array("view", "click", "purchase", "signup", "error")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartAdjs = Array("small", "red", "blue", "hot", "old", "big", "new", "green")
  private val PartNouns = Array("ring", "widget", "bolt", "gear", "gizmo", "cog", "valve", "wire")
  private val PartTypes = Array("ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  // ---- Heaps-law vocabulary mode ---------------------------------
  /** Token sampler for `vocabMode = "heaps"`: a two-regime Zipf
    * rank-frequency law over an UNBOUNDED vocabulary — the
    * Ferrer-i-Cancho/Solé two-exponent shape real corpora follow
    * (head exponent ≈ 1 over the frequent ranks, tail exponent ≈ 2),
    * which yields Heaps-law type growth V(n) ∝ n^β with β = 1/2 from
    * the tail while a rank-frequency fit over the head measures the
    * familiar Zipf slope ≈ −1. The driver-faithful default mode
    * (fixed 31-word vocabulary) is what the round-9 organic-decade
    * artifact showed makes TRUE near-dup mass quadratic (83× output
    * rows at 10× docs) and flattens every vocabulary audit (measured
    * Heaps β = 0); this mode is the realism arm those measurements
    * re-run on.
    *
    * Sampling is closed-form inverse-CDF per token (no tables, no
    * driver state, deterministic per row-seeded PRNG):
    *  - with prob [[HeapsHeadMass]]: head rank ~ log-uniform over
    *    1..[[HeapsHeadRanks]] (`rank = floor(R^u)` — the continuous
    *    density ∝ 1/rank, i.e. Zipf slope −1 across the head);
    *  - else: tail rank ~ Pareto(α=1) shifted past the head
    *    (`rank = floor(R / (1−u))` ≥ R — density ∝ rank^−2, whose
    *    observed-type count after n draws is Θ(√n): Heaps β = 0.5).
    * Ranks 1..31 map to the driver vocabulary (so fixed-needle
    * queries like q_keyword_match stay non-empty on heaps corpora);
    * deeper ranks render as base-26 words, length growing ~log26(rank)
    * like natural orthography.
    */
  private val HeapsHeadRanks = 1000
  private val HeapsHeadMass = 0.7

  private[graft] def heapsWord(rank: Long): String = {
    if (rank <= Vocab.length) Vocab((rank - 1).toInt)
    else {
      // base-26 little-endian render of the rank (injective given the
      // leading length variation; the rare collision with a driver
      // word merges two ranks into one type — statistically invisible)
      val sb = new java.lang.StringBuilder(8)
      var v = rank
      while (v > 0) { sb.append(('a' + ((v - 1) % 26)).toChar); v = (v - 1) / 26 }
      sb.toString
    }
  }

  private[graft] def heapsToken(r: java.util.Random): String = {
    val rank =
      if (r.nextDouble() < HeapsHeadMass)
        math.min(HeapsHeadRanks.toLong,
          math.floor(math.exp(r.nextDouble() * math.log(HeapsHeadRanks.toDouble))).toLong)
      else
        math.min(1000000000000L,
          math.floor(HeapsHeadRanks / (1.0 - r.nextDouble())).toLong)
    heapsWord(math.max(1L, rank))
  }

  /** Valid values for `generate`'s `vocabMode`. */
  val VocabModes: Set[String] = Set("driver", "heaps")

  // ---- anisotropic embedding mode ---------------------------------
  /** Embedding generator for `embedMode = "aniso"`: a CONCENTRATED
    * vector cloud — the geometry real embedding models produce (the
    * "anisotropy problem", Ethayarajh 2019: random sentence pairs
    * under BERT/GPT-2 embeddings average cosine ≫ 0) and the regime
    * round 10 measured breaking uniform-geometry assumptions (the
    * stub-media feature family sat at pRand ≈ 0.9 and one LSH bucket
    * held 80% of the corpus under the log2 occupancy model). The
    * driver-faithful default (`uniform`) draws unit-norm iid
    * Gaussians — direction-uniform, pRand = 0.5 by construction,
    * the KNOWN easy case for every bucketing/banding structure.
    *
    * Construction (per-row deterministic like everything else here):
    * the corpus has K = max(10, n/[[AnisoConeDocs]]) content CONES —
    * cone count GROWS with the corpus, the vector-side Heaps law
    * (more documents = more distinct content regions; the first cut
    * of this mode pinned K = 10 fixed cones and near-pair mass went
    * quadratic — 67M pairs at cosine ≥ 0.9 over 50k vectors — a
    * density no real embedding corpus has). Cone k's axis is
    * `normalize(μ + 0.3·g_k)` around one global mean direction μ
    * (all derived from `seed` alone, axis re-derived per row — no
    * driver state); a row picks its cone by id hash, draws its 64
    * iid Gaussians, scales dimension i by [[AnisoSpectrumDecay]]^i
    * (a decaying covariance spectrum — the cloud's effective
    * dimensionality is ~1/(1−ρ²) ≈ 10, not 64), and emits
    * `normalize(axis_cone + AnisoSpread · Λg)`. `label` = cone mod
    * 10, so same-cone rows always share a label and label-blocked
    * operators keep their contract. Measured on the generated
    * cloud: pRand ≈ 0.82 (spec-pinned > 0.8), vs 0.5 uniform —
    * random pairs are cross-cone and sit in the global cone.
    */
  private[graft] val AnisoSpread = 0.15
  private[graft] val AnisoSpectrumDecay = 0.9
  private val AnisoLabels = 10
  private[graft] val AnisoConeDocs = 500L

  private def anisoUnit(r: java.util.Random): Array[Double] = {
    val g = Array.fill(64)(r.nextGaussian())
    val n = math.sqrt(g.map(x => x * x).sum)
    g.map(_ / n)
  }

  private def anisoVector(r: java.util.Random, mu: Array[Double], seed: Long,
                          cone: Long): Array[Float] = {
    val g = anisoUnit(rng(9, cone, seed))
    val v = new Array[Double](64)
    var na = 0.0
    var i = 0
    while (i < 64) { v(i) = mu(i) + 0.3 * g(i); na += v(i) * v(i); i += 1 }
    val invA = 1.0 / math.sqrt(na)
    var lam = 1.0
    var nn = 0.0
    i = 0
    while (i < 64) {
      v(i) = v(i) * invA + AnisoSpread * lam * r.nextGaussian()
      nn += v(i) * v(i)
      lam *= AnisoSpectrumDecay
      i += 1
    }
    val inv = 1.0 / math.sqrt(nn)
    v.map(x => (x * inv).toFloat)
  }

  /** Valid values for `generate`'s `embedMode`. */
  val EmbedModes: Set[String] = Set("uniform", "aniso")

  /** Table names `generate` can emit (the `tables` subset filter). */
  val AllTables: Set[String] = Set("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val OrderEpochDay = 9131L  // 1995-01-01
  private val OrderDays = 2404      // .. 2001-08-01
  private val ShipDays = OrderDays + 95
  private val EventEpochMicros = 1704067200000000L // 2024-01-01 UTC
  private val EventSpanMicros = 30L * 86400L * 1000000L

  /** Row counts per unit scale factor (sf=1), from TESTDATA.md's
    * sf0.01 counts ÷ 0.01.
    */
  private def n(base: Long, sf: Double): Long = math.max(1L, (base * sf).toLong)

  def generate(spark: SparkSession, sf: Double, outDir: String, seed: Long = 443L,
               vocabMode: String = "driver",
               tables: Set[String] = AllTables,
               embedMode: String = "uniform"): Unit = {
    import spark.implicits._
    require(VocabModes.contains(vocabMode), s"unknown vocabMode '$vocabMode'")
    require(EmbedModes.contains(embedMode), s"unknown embedMode '$embedMode'")
    require(tables.subsetOf(AllTables), s"unknown tables: ${tables.diff(AllTables)}")
    val nCust = n(150000, sf); val nSupp = n(10000, sf); val nPart = n(200000, sf)
    val nOrd = n(1500000, sf); val nDocs = n(50000, sf)
    val nEvents = n(1000000, sf); val nUsers = n(15000, sf)
    val parts = math.max(spark.sparkContext.defaultParallelism, 32)
    val heaps = vocabMode == "heaps"

    def write(df: => DataFrame, table: String): Unit = {
      val marker = new java.io.File(s"$outDir/$table.parquet/_SUCCESS")
      if (tables.contains(table) && !marker.exists())
        df.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }

    write(Regions.indices.map(i => (i, Regions(i))).toDF("r_regionkey", "r_name"), "region")
    write((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")

    write(spark.range(0, nCust, 1, parts).mapPartitions(_.map { id =>
      val r = rng(1, id, seed)
      (id, f"Customer#$id%09d", r.nextInt(25),
        math.rint((r.nextDouble() * 11000 - 1000) * 100) / 100,
        Segments(r.nextInt(5)))
    }).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), "customer")

    write(spark.range(0, nSupp, 1, parts).mapPartitions(_.map { id =>
      val r = rng(2, id, seed)
      (id, f"Supplier#$id%09d", r.nextInt(25),
        math.rint((r.nextDouble() * 11000 - 1000) * 100) / 100)
    }).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "supplier")

    write(spark.range(0, nPart, 1, parts).mapPartitions(_.map { id =>
      val r = rng(3, id, seed)
      (id, s"${PartAdjs(r.nextInt(8))} ${PartNouns(r.nextInt(8))}",
        s"Brand#${r.nextInt(25)}", PartTypes(r.nextInt(6)), 1 + r.nextInt(50),
        900.0 + (id % 1000) * 0.1)
    }).toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"), "part")

    write(spark.range(0, nOrd, 1, parts).mapPartitions(_.map { id =>
      val r = rng(4, id, seed)
      (id, math.floorMod(mix(seed ^ 0x04AAL ^ id), nCust),
        "POF".charAt(r.nextInt(3)).toString,
        math.rint((1000.0 + r.nextDouble() * 499000.0) * 100) / 100,
        // LocalDateTime → TIMESTAMP_NTZ, matching the driver files
        java.time.LocalDateTime.ofEpochSecond(
          (OrderEpochDay + r.nextInt(OrderDays)) * 86400L, 0, java.time.ZoneOffset.UTC),
        Priorities(r.nextInt(5)))
    }).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"), "orders")

    write(spark.range(0, nOrd, 1, parts).mapPartitions(_.flatMap { oid =>
      val r = rng(5, oid, seed)
      (1 to 1 + r.nextInt(7)).map { ln =>
        (oid, math.floorMod(mix(seed ^ 0x05AAL ^ (oid * 8 + ln)), nPart),
          math.floorMod(mix(seed ^ 0x05BBL ^ (oid * 8 + ln)), nSupp), ln,
          (1 + r.nextInt(50)).toDouble,
          math.rint((900.0 + r.nextDouble() * 104100.0) * 100) / 100,
          r.nextInt(11) * 0.01, r.nextInt(9) * 0.01,
          "ANR".charAt(r.nextInt(3)).toString, "FO".charAt(r.nextInt(2)).toString,
          java.time.LocalDateTime.ofEpochSecond(
            (OrderEpochDay + 1 + r.nextInt(ShipDays)) * 86400L, 0, java.time.ZoneOffset.UTC))
      }
    }).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate"), "lineitem")

    write(spark.range(0, nEvents, 1, parts).mapPartitions(_.map { id =>
      val r = rng(6, id, seed)
      val value = math.max(0.01,
        math.rint(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100)
      val us = EventEpochMicros + (r.nextDouble() * EventSpanMicros).toLong
      (id, java.time.LocalDateTime.ofEpochSecond(
          us / 1000000L, (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC),
        math.floorMod(mix(seed ^ 0x06AAL ^ id), nUsers),
        EventTypes(r.nextInt(5)), value, s"""{"k": ${r.nextInt(100)}}""")
    }).toDF("event_id", "ts", "user_id", "event_type", "value", "props"), "events")

    write(spark.range(0, nDocs, 1, parts).mapPartitions(_.map { id =>
      val r = rng(7, id, seed)
      val nWords = 10 + r.nextInt(90)
      val text = Seq.fill(nWords)(
        if (r.nextDouble() < 0.001) RareWord
        else if (heaps) heapsToken(r)
        else Vocab(r.nextInt(Vocab.length)))
        .mkString(" ")
      val u = r.nextDouble()
      val lang = Langs(LangCum.indexWhere(u <= _))
      (id, text, lang, s"src${r.nextInt(20)}", text.length.toLong)
    }).toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")

    val aniso = embedMode == "aniso"
    val nCones = math.max(AnisoLabels.toLong, nDocs / AnisoConeDocs)
    write(spark.range(0, nDocs, 1, parts).mapPartitions { it =>
      // the global mean direction derives from the seed alone —
      // computed once per partition
      val mu = if (aniso) anisoUnit(rng(9, -1L, seed)) else null
      it.map { id =>
        val r = rng(8, id, seed)
        if (aniso) {
          val cone = math.floorMod(mix(seed ^ 0x09AAL ^ id), nCones)
          (id, anisoVector(r, mu, seed, cone), (cone % AnisoLabels).toInt)
        } else {
          val v = Array.fill(64)(r.nextGaussian())
          val norm = math.sqrt(v.map(x => x * x).sum)
          (id, v.map(x => (x / norm).toFloat), r.nextInt(10))
        }
      }
    }.toDF("vec_id", "embedding", "label"), "embeddings")
  }

  /** `SPARK_GRAFT_SF` (default 1.0) → `target/organic/sf<sf>/`.
    * `SPARK_GRAFT_VOCAB` ("driver"|"heaps", default driver) picks the
    * vocabulary law and `SPARK_GRAFT_EMBED` ("uniform"|"aniso",
    * default uniform) the embedding geometry; non-default modes
    * prefix the directory (`heaps-`, `aniso-`) so no two laws share
    * one. `SPARK_GRAFT_TABLES` (comma list, default all) restricts
    * generation to the tables a targeted slope run reads — at sf100
    * the dedup family needs documents+embeddings, not 600 M lineitem
    * rows.
    */
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF", "1.0").toDouble
    val vocabMode = sys.env.getOrElse("SPARK_GRAFT_VOCAB", "driver")
    val embedMode = sys.env.getOrElse("SPARK_GRAFT_EMBED", "uniform")
    val tables = sys.env.get("SPARK_GRAFT_TABLES")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(AllTables)
    val sfName = if (sf == sf.toLong.toDouble) sf.toLong.toString else sf.toString
    val prefix = (if (vocabMode == "heaps") "heaps-" else "") +
      (if (embedMode == "aniso") "aniso-" else "")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_OUT",
      s"target/organic/${prefix}sf$sfName")
    val spark = GraftSession()
    generate(spark, sf, outDir, vocabMode = vocabMode, tables = tables,
      embedMode = embedMode)
    println(s"""{"built":"$outDir","sf":$sf,"vocab":"$vocabMode","embed":"$embedMode"}""")
    spark.stop()
  }
}
