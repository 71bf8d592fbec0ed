package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import graft.sources.Tombstones

/** Full-text relevance over any document DataFrame (id column + text
  * column) — the Elasticsearch side of the reference's unified
  * surface, generalized: keyword match, TF-IDF, BM25, and hybrid RRF
  * fusion against any vector ranking.
  *
  * Tokenization is single-space split (the corpus contract); terms
  * are compared exactly. Corpus-level statistics (N, avgdl, df) are
  * tiny aggregates broadcast into the scoring join, so the only
  * corpus-sized shuffle is the (doc, term) tf aggregation.
  */
final case class TextIndex(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text") {

  private def toks: Column = split(col(textCol), " ")

  /** One row per (doc, query-term) with its term frequency — computed
    * MAP-SIDE: the query terms are a literal set, so each tf is a
    * per-row array count over the tokens and the matching (token, tf)
    * entries explode from a per-row array. The former explode +
    * groupBy(doc, token) shuffled every matching corpus token to
    * build the same rows (guide §2.4 — remove shuffles outright);
    * this shape shuffles nothing. The doc length rides along as a
    * per-row expression, so BM25 never needs a doc-length join.
    */
  def termFreq(terms: Seq[String]): DataFrame = {
    val withTc = docs.select(col(idCol), size(toks).cast("long").as("dl"),
      graft.functions.hashes.termCounts(toks, terms).as("__tc"))
    val entries = array(terms.zipWithIndex.map { case (t, i) => struct(
      lit(t).as("token"), element_at(col("__tc"), i + 1).as("tf")) }: _*)
    withTc
      .select(col(idCol), col("dl"),
        explode(filter(entries, e => e.getField("tf") > 0)).as("__e"))
      .select(col(idCol), col("__e.token").as("token"),
        col("__e.tf").as("tf"), col("dl"))
  }

  /** Map-side (id, dl, tf_0..tf_{m-1}) frame over a literal term set —
    * the zero-shuffle scoring base of [[bm25]]/[[tfidf]]/[[bm25Batch]].
    * tf comes from ONE native pass over the tokens
    * ([[graft.functions.TermCounts]]).
    *
    * `onlyMatching` applies the match condition (≡ anyMatch: some
    * tf_i > 0) BEFORE the tf projection, as a cheap arrays_overlap on
    * the raw tokens: a filter on the derived tf columns is
    * predicate-pushed BELOW the projection with term_counts
    * substituted per term — one evaluation per query term per row
    * (measured in the q_bm25 plan: the Filter condition carried three
    * term_counts calls next to the projection's one). The stacked
    * projections themselves never collapse (CollapseProject keeps a
    * non-cheap alias referenced more than once), so term_counts runs
    * exactly once per surviving row.
    */
  private def tfBase(terms: Seq[String], onlyMatching: Boolean = false): DataFrame = {
    val src = if (onlyMatching)
      docs.filter(arrays_overlap(toks, typedLit(terms))) else docs
    src.select(col(idCol), size(toks).cast("long").as("dl"),
        graft.functions.hashes.termCounts(toks, terms).as("__tc"))
      .select((col(idCol) +: col("dl") +: terms.indices.map(i =>
        element_at(col("__tc"), i + 1).as(s"__tf$i"))): _*)
  }

  /** df per term, derived from tf so the shuffle exchange is reused. */
  private def docFreq(tf: DataFrame): DataFrame =
    tf.groupBy(col("token")).agg(count(lit(1)).as("df"))

  private def corpusStats: DataFrame =
    docs.agg(count(lit(1)).as("n_docs"),
      avg(size(toks).cast("long")).as("avgdl"))

  /** Docs matching ≥ `minMatch` of the query terms, with the count. */
  def keywordMatch(terms: Seq[String], minMatch: Int): DataFrame = {
    val nMatched = terms.map(t => array_contains(toks, t).cast("long")).reduce(_ + _)
    docs.withColumn("n_matched", nMatched).filter(col("n_matched") >= minMatch)
  }

  /** Exact-phrase match with occurrence count (substring containment
    * on the normalized text) — a pure per-row expression, no shuffle.
    */
  def phraseMatch(phrase: String): DataFrame = {
    val occurrences =
      ((length(col(textCol)) - length(replace(col(textCol), lit(phrase), lit("")))) /
        phrase.length).cast("long")
    docs.withColumn("n_occurrences", occurrences)
      .filter(col("n_occurrences") > 0)
  }

  /** Fuzzy term match: distinct corpus tokens within `maxEdits`
    * Levenshtein distance of the query term, with document
    * frequencies — Elasticsearch's fuzzy query. The distinct-token
    * table is vocabulary-sized (tiny next to the corpus), so the
    * edit-distance scan never touches raw text twice.
    */
  def fuzzyMatch(term: String, maxEdits: Int): DataFrame =
    docs.select(col(idCol), explode(array_distinct(toks)).as("token"))
      .withColumn("distance", levenshtein(col("token"), lit(term)).cast("long"))
      .filter(col("distance") <= maxEdits)
      .groupBy(col("token"), col("distance"))
      .agg(count(lit(1)).as("df"))

  /** Single-row corpus statistics for a literal term set: N, avgdl,
    * and per-term df — ONE combinable aggregate where the former
    * pipeline ran a (doc, term) tf shuffle, a df re-aggregate and a
    * separate corpus-stats scan. Broadcast into the map-side scorer.
    */
  private def termStats(base: DataFrame, terms: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_docs") +: avg(col("dl")).as("avgdl") +:
      terms.indices.map(i => sum((col(s"__tf$i") > 0).cast("long")).as(s"__df$i"))
    base.agg(aggs.head, aggs.tail: _*)
  }

  /** TF-IDF scores (idf = ln(N/df)) per doc for a term set. Scoring
    * is a per-row expression over the map-side tf columns plus the
    * broadcast single-row statistics — zero corpus-sized shuffles
    * (the former shape paid three exchanges: tf, df, per-doc sum).
    */
  def tfidf(terms: Seq[String]): DataFrame = {
    val base = tfBase(terms)
    val score = terms.indices.map(i =>
      when(col(s"__tf$i") > 0,
        col(s"__tf$i") * log(col("n_docs") / col(s"__df$i")))
        .otherwise(lit(0.0))).reduce(_ + _)
    tfBase(terms, onlyMatching = true)
      .crossJoin(broadcast(termStats(base, terms)))
      .select(col(idCol), round(score, 6).as("tfidf"))
  }

  /** BM25 scores per doc (Lucene-style idf). Single corpus scan: the
    * doc length comes out of the tf aggregate, df and the corpus
    * stats are tiny broadcasts.
    */
  def bm25(terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val k1l = lit(k1); val bl = lit(b)
    def idf(i: Int) = log(lit(1.0) +
      (col("n_docs") - col(s"__df$i") + lit(0.5)) / (col(s"__df$i") + lit(0.5)))
    def w(i: Int) = col(s"__tf$i") * (k1l + 1) /
      (col(s"__tf$i") + k1l * (lit(1) - bl + bl * col("dl") / col("avgdl")))
    val base = tfBase(terms)
    val score = terms.indices.map(i =>
      when(col(s"__tf$i") > 0, idf(i) * w(i)).otherwise(lit(0.0))).reduce(_ + _)
    tfBase(terms, onlyMatching = true)
      .crossJoin(broadcast(termStats(base, terms)))
      .select(col(idCol), round(score, 6).as("bm25"))
  }

  /** ES `_explain` for BM25: the per-term score decomposition ES
    * returns for a (query, document) probe — tf, df, dl, idf, the
    * saturation weight, and each term's contribution (what [[bm25]]
    * sums). The probed docs' tf scan prunes on the id predicate
    * (pushed through the aggregate to the parquet scan); df/avgdl are
    * the same corpus statistics the search path computes — so explain
    * costs one bounded probe plus the statistics pass, never a
    * rescore of the corpus.
    */
  def explainBm25(terms: Seq[String], docIds: Seq[Long],
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val k1l = lit(k1); val bl = lit(b)
    val tfAll = termFreq(terms)
    val docTf = tfAll.filter(col(idCol).isin(docIds: _*))
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val w = col("tf") * (k1l + 1) / (col("tf") + k1l * (lit(1) - bl + bl * col("dl") / col("avgdl")))
    docTf.join(broadcast(docFreq(tfAll)), "token")
      .crossJoin(broadcast(corpusStats))
      .select(col(idCol), col("token"), col("tf"), col("df"), col("dl"),
        round(idf, 6).as("idf"), round(w, 6).as("tf_weight"),
        round(idf * w, 6).as("contrib"))
  }

  /** Reciprocal-rank fusion of this index's BM25 ranking with any
    * other scored ranking (`otherScores`: idCol + scoreCol), e.g. a
    * vector search result. Both candidate lists are `pool`-sized, so
    * the fusion join is trivially small at any corpus scale.
    */
  def hybridRrf(terms: Seq[String], otherScores: DataFrame, scoreCol: String,
                pool: Int = 50, rrfK: Int = 60): DataFrame = {
    // the rank windows run over the already-limited pool (≤ `pool`
    // rows at any corpus scale — the top-k itself is a distributed
    // TakeOrderedAndProject), so a one-partition window here is the
    // intended plan. The partition key is the (constant-valued but
    // non-foldable) id%1 rather than a literal: Spark 4's
    // EliminateWindowPartitions folds literals away, which would put
    // the bounded window on WindowExec's unpartitioned-window path.
    val poolPart = pmod(col(idCol), lit(1L))
    val lex = bm25(terms)
      .orderBy(col("bm25").desc, col(idCol)).limit(pool)
      .select(col(idCol), row_number().over(
        Window.partitionBy(poolPart).orderBy(col("bm25").desc, col(idCol))).as("lex_rank"))
    val other = otherScores
      .orderBy(col(scoreCol).desc, col(idCol)).limit(pool)
      .select(col(idCol), row_number().over(
        Window.partitionBy(poolPart).orderBy(col(scoreCol).desc, col(idCol))).as("vec_rank"))
    // the fusion join is full-outer (a doc may appear in either pool
    // alone), which Spark can only sort-merge — acceptable because
    // both sides are ≤ `pool` rows at any corpus scale, so the two
    // exchanges move a constant-bounded frame
    lex.join(other, Seq(idCol), "full_outer")
      .select(col(idCol),
        round(
          when(col("lex_rank").isNotNull, lit(1.0) / (lit(rrfK) + col("lex_rank"))).otherwise(lit(0.0)) +
          when(col("vec_rank").isNotNull, lit(1.0) / (lit(rrfK) + col("vec_rank"))).otherwise(lit(0.0)),
          6).as("rrf"))
  }

  /** Batch lexical search (Elasticsearch msearch): many queries, each
    * its own term set, scored in ONE corpus pass — the tf aggregate
    * covers the union of all query terms, then fans out per query via
    * a broadcast (query, token) join before the per-(query, doc) sum.
    * Corpus work is independent of the query count; only the final
    * top-k window partitions by query.
    */
  def bm25Batch(queries: Seq[(Long, Seq[String])], k: Int,
                k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val k1l = lit(k1); val bl = lit(b)
    val allTerms = queries.flatMap(_._2).distinct
    val ix = allTerms.zipWithIndex.toMap
    def idf(i: Int) = log(lit(1.0) +
      (col("n_docs") - col(s"__df$i") + lit(0.5)) / (col(s"__df$i") + lit(0.5)))
    def wgt(i: Int) = col(s"__tf$i") * (k1l + 1) /
      (col(s"__tf$i") + k1l * (lit(1) - bl + bl * col("dl") / col("avgdl")))
    val base = tfBase(allTerms)
    // per-row (query, score, matched) entries over the shared tf
    // columns: every query scores in the same single corpus pass,
    // map-side; only matched entries explode
    val perQuery = queries.map { case (q, ts) =>
      val is = ts.map(ix)
      struct(lit(q).as("tq_id"),
        round(is.map(i => when(col(s"__tf$i") > 0, idf(i) * wgt(i))
          .otherwise(lit(0.0))).reduce(_ + _), 6).as("bm25"),
        is.map(i => col(s"__tf$i") > 0).reduce(_ || _).as("__m"))
    }
    val w = Window.partitionBy(col("tq_id")).orderBy(col("bm25").desc, col(idCol))
    base.crossJoin(broadcast(termStats(base, allTerms)))
      .select(col(idCol),
        explode(filter(array(perQuery: _*), e => e.getField("__m"))).as("__q"))
      .select(col("__q.tq_id").as("tq_id"), col(idCol), col("__q.bm25").as("bm25"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Sparse-vector search (Qdrant sparse / ES ELSER): documents live
    * in `dims` hash buckets of their tokens, the query is a tiny
    * (bucket → weight) map, the score is the sparse dot product.
    * Posting rows are pruned to the query's buckets BEFORE any
    * aggregation — the inverted-index merge, at |query|/dims of the
    * corpus postings — and the weight map is a broadcast literal.
    */
  def sparseSearch(weights: Seq[(String, Double)], dims: Int = 1024,
                   k: Int = 20): DataFrame = {
    val spark = docs.sparkSession
    val bucketed = weights.map { case (t, wt) =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(md.substring(0, 8), 16) % dims, wt)
    }
    val qdf = broadcast(spark.createDataFrame(bucketed).toDF("b", "w"))
    docs.select(col(idCol), explode(toks).as("token"))
      .select(col(idCol),
        (conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long") % dims).as("b"))
      .filter(col("b").isin(bucketed.map(_._1): _*))
      .groupBy(col(idCol), col("b"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .join(qdf, "b")
      .groupBy(col(idCol))
      .agg(round(sum(col("tf") * col("w")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Weaviate-style weighted hybrid fusion: min-max normalize each
    * pool's scores, then score = alpha·vec + (1−alpha)·lex. Like RRF,
    * both candidate pools are `pool`-sized (the top-k itself is a
    * distributed TakeOrderedAndProject), so the normalization
    * aggregates and the fusion join are constant-size at any corpus
    * scale.
    */
  def hybridWeighted(terms: Seq[String], otherScores: DataFrame, scoreCol: String,
                     alpha: Double = 0.75, pool: Int = 50): DataFrame = {
    // min/max come from a window over the (bounded, single-partition)
    // pool rather than a separate aggregate: referencing the pooled
    // sub-plan twice would re-execute the whole upstream scoring
    // pipeline per side — Catalyst does not share common sub-plans
    def normalized(scored: DataFrame, sCol: String, out: String): DataFrame = {
      val wAll = Window.partitionBy(pmod(col(idCol), lit(1L)))
      scored.orderBy(col(sCol).desc, col(idCol)).limit(pool)
        .select(col(idCol), col(sCol),
          min(col(sCol)).over(wAll).as("__mn"), max(col(sCol)).over(wAll).as("__mx"))
        .select(col(idCol),
          coalesce((col(sCol) - col("__mn")) / nullif(col("__mx") - col("__mn"), lit(0.0)),
            lit(1.0)).as(out))
    }
    val lex = normalized(bm25(terms), "bm25", "nl")
    val vec = normalized(otherScores, scoreCol, "nv")
    // full-outer over two bounded pools — see hybridRrf's fusion note
    lex.join(vec, Seq(idCol), "full_outer")
      .select(col(idCol),
        round(lit(alpha) * coalesce(col("nv"), lit(0.0)) +
          lit(1.0 - alpha) * coalesce(col("nl"), lit(0.0)), 6).as("hybrid"))
  }

  /** Distribution-based score fusion (Qdrant `fusion: dbsf`): each
    * pool's scores normalize by its mean ± 3σ band — (s − (μ−3σ)) /
    * 6σ — instead of min-max, so outliers don't compress the rest of
    * the distribution; fused = Σ normalized. Same bounded-pool
    * mechanics as [[hybridWeighted]]: the μ/σ window runs over the
    * ≤`pool`-row frame, never the corpus.
    */
  def hybridDbsf(terms: Seq[String], otherScores: DataFrame, scoreCol: String,
                 pool: Int = 50): DataFrame = {
    def normalized(scored: DataFrame, sCol: String, out: String): DataFrame = {
      val wAll = Window.partitionBy(pmod(col(idCol), lit(1L)))
      scored.orderBy(col(sCol).desc, col(idCol)).limit(pool)
        .select(col(idCol), col(sCol),
          avg(col(sCol)).over(wAll).as("__mu"),
          stddev_samp(col(sCol)).over(wAll).as("__sd"))
        .select(col(idCol),
          coalesce((col(sCol) - (col("__mu") - lit(3.0) * col("__sd"))) /
            nullif(lit(6.0) * col("__sd"), lit(0.0)), lit(1.0)).as(out))
    }
    val lex = normalized(bm25(terms), "bm25", "nl")
    val vec = normalized(otherScores, scoreCol, "nv")
    lex.join(vec, Seq(idCol), "full_outer")
      .select(col(idCol),
        round(coalesce(col("nl"), lit(0.0)) + coalesce(col("nv"), lit(0.0)), 6)
          .as("dbsf"))
  }

  /** Persist this index's inverted form, under the layout's fixed
    * column names — see [[TextIndex.write]].
    */
  def writeIndex(path: String): Unit =
    TextIndex.write(docs.select(col(idCol).as("doc_id"), col(textCol).as("text")), path)
}

/** The at-rest inverted index — the third standing index next to the
  * IVF vector layout ([[graft.operators.Ann]]) and the MinHash/LSH
  * dedup index ([[graft.operators.Dedup]]). An ES/Lucene deployment
  * never re-tokenizes its corpus per query; this is that property in
  * parquet: postings (token, doc, tf, doc-length) live partitioned by
  * a token hash bucket, so a query's terms prune the scan to
  * ≤ |terms| of [[TextIndex.TokenBuckets]] partitions — the
  * partition-pruning trick the IVF layout uses for centroids, applied
  * to the vocabulary. df and corpus stats are tiny side tables that
  * broadcast into the scoring join. The layout's columns are fixed,
  * `doc_id` (BIGINT) and `text`: the frames every verb here takes
  * carry those names.
  */
object TextIndex {

  /** Postings partition count. At 100 TB this is the vocabulary
    * sharding knob: postings for one bucket ≈ corpus tokens /
    * TokenBuckets, and a q-term query reads q buckets.
    */
  val TokenBuckets = 64

  /** Build the at-rest layout: bucket-partitioned postings + vocab df
    * + corpus stats. One corpus scan; the postings aggregate is the
    * only corpus-sized shuffle, exactly as in the on-the-fly
    * [[TextIndex.bm25]].
    *
    * The side tables hold MERGEABLE deltas — vocab rows are per-batch
    * (token, df) partials and stats rows per-batch (n_docs, sum_dl) —
    * so [[append]] is a pure parquet append on all three tables and
    * the query side folds the deltas (a broadcast-sized aggregate).
    * Same design as the MinHash dedup index: index maintenance never
    * reads or rewrites standing data.
    */
  def write(docs: DataFrame, path: String): Unit = writeBatch(docs, path, "overwrite")

  /** Fold a new document batch into the standing index: batch-sized
    * appends into the postings partition layout plus delta rows in
    * vocab/stats. Searches afterwards score EXACTLY as a full rebuild
    * over (standing ∪ batch) — df and avgdl fold from the deltas.
    * Callers own id disjointness (an upsert would compact first).
    */
  def append(docs: DataFrame, path: String): Unit =
    graft.sources.WriterLease.exclusive(docs.sparkSession, path) {
      writeBatch(docs, path, "append")
    }

  /** Zero-downtime rebuild of a ROTATING text index (see
    * [[graft.sources.IndexAlias]]): re-index `docs` into the next
    * generation ASIDE — readers keep serving the old generation —
    * then atomically repoint the home. The rebuild that folds
    * accumulated tombstone/delta debt to zero without a service gap.
    * Returns the new generation's path.
    */
  def rotate(docs: DataFrame, home: String): String = {
    val spark = docs.sparkSession
    graft.sources.WriterLease.exclusive(spark, home) {
      graft.sources.LayoutRewrite.nextGeneration(spark, home)(write(docs, _))
    }
  }

  private def writeBatch(docs: DataFrame, rawPath: String, mode: String): Unit = {
    val path = graft.sources.IndexAlias.resolve(docs.sparkSession, rawPath)
    val post = tokenized(docs)
      .withColumn("tok_bucket", pmod(xxhash64(col("token")), lit(TokenBuckets.toLong)))
      .localCheckpoint() // feeds both the postings and the vocab write
    post.write.mode(mode).partitionBy("tok_bucket").parquet(s"$path/postings")
    post.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .write.mode(mode).parquet(s"$path/vocab")
    // stats derive from the SAME checkpointed postings that were just
    // written (dl repeats per token row; one first() per doc recovers
    // it) — re-aggregating `docs` would scan and re-tokenize the input
    // a second time, and an expensive or non-deterministic upstream
    // frame could then yield stats inconsistent with the postings.
    // Even a doc whose text is empty has one posting row (split("")
    // is [""]), so n_docs matches a direct count of `docs`.
    post.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .write.mode(mode).parquet(s"$path/stats")
  }

  /** Layout tables of the at-rest text index, as [[stats]] reports
    * them (see [[graft.sources.IndexStats]]).
    */
  private val LayoutTables = Seq("postings", "vocab", "stats", Tombstones.Table)

  /** Explicit schemas: no inference at scale, and an EMPTY standing
    * index (fresh deployment) reads as an empty frame.
    */
  private val PostingsSchema =
    StructType.fromDDL("doc_id BIGINT, token STRING, tf BIGINT, dl BIGINT, tok_bucket BIGINT")
  private val VocabSchema = StructType.fromDDL("token STRING, df BIGINT")
  private val StatsSchema = StructType.fromDDL("n_docs BIGINT, sum_dl BIGINT")

  /** Per-(doc, token) tf + doc length — the shared indexing scan. */
  private def tokenized(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    docs
      .select(col("doc_id"), size(toks).cast("long").as("dl"), explode(toks).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
  }

  /** Remove a document batch from the standing index (ES delete /
    * delete_by_query with its Lucene delete-docs + segment-merge
    * lifecycle): the deleted ids land in the layout's
    * [[graft.sources.Tombstones]] table and the
    * batch's df / corpus-stats contributions append as NEGATIVE delta
    * rows to the same mergeable side tables [[append]] uses — the
    * standing postings are never read or rewritten, and searches
    * afterwards score EXACTLY as a rebuild without the batch (df,
    * n_docs, avgdl all fold the negatives). Cost is |batch|, like
    * append. `docs` must be the indexed rows themselves (id + the
    * same text that was indexed) — the delete-by-query shape, where
    * the caller holds the matched rows; [[compact]] applies
    * tombstones physically and clears them.
    *
    * Idempotent per id: rows whose id is already tombstoned are
    * dropped before any delta is computed, so a replayed delete —
    * Structured Streaming's at-least-once `foreachBatch` redelivery
    * ([[graft.streaming.RetractionStream]]), or a retried batch job —
    * never double-subtracts df/n_docs/sum_dl. The anti-join reads
    * only the tombstone set, whose size is bounded by the compaction
    * cadence, so the delete still costs |batch|.
    */
  def delete(docs: DataFrame, rawPath: String): Unit = {
    val path = graft.sources.IndexAlias.resolve(docs.sparkSession, rawPath)
    // the replay-safety anti-join is check-then-act: same-JVM
    // deleters serialize, and a second process is fenced by the
    // writer lease — two concurrent deletes of one id must not both
    // pass the tombstone check and double-subtract the deltas
    // (see WriterLease / the README contract table)
    graft.sources.WriterLease.exclusive(docs.sparkSession, rawPath) {
      val fresh = Tombstones.liveOnly(docs.sparkSession, path, "doc_id")(docs)
      val post = tokenized(fresh).localCheckpoint()
      if (!post.isEmpty) {
        post.groupBy(col("token")).agg((-count(lit(1))).as("df"))
          .write.mode("append").parquet(s"$path/vocab")
        post.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
          .agg((-count(lit(1))).as("n_docs"), (-sum(col("dl"))).as("sum_dl"))
          .write.mode("append").parquet(s"$path/stats")
        Tombstones.append(path, post.select(col("doc_id")).distinct())
      }
    }
  }

  /** Apply pending tombstones physically (the segment-merge step):
    * postings drop deleted docs, the vocab and stats delta rows
    * collapse to their folded values (tokens whose df reaches 0 drop
    * out), and the tombstone set clears. Goes through
    * [[graft.sources.LayoutRewrite]] like the vector index's
    * compaction: the next generation on a rotating home; on a
    * concrete path an in-place rewrite that, once the next writer
    * recovers a crash, reads exactly as before or exactly as after.
    */
  def compact(spark: SparkSession, rawPath: String): Unit =
   graft.sources.WriterLease.exclusive(spark, rawPath) {
    import org.apache.hadoop.fs.Path
    val path = graft.sources.IndexAlias.resolve(spark, rawPath)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val alive = Tombstones.liveOnly(spark, path, "doc_id")
    def table(sub: String, schema: StructType)(write: (DataFrame, String) => Unit) =
      graft.sources.LayoutRewrite.Table(sub, out =>
        write(spark.read.schema(schema).parquet(s"$path/$sub"), out))
    graft.sources.LayoutRewrite.rewrite(spark, rawPath, Seq(
      table("postings", PostingsSchema) { (p, out) =>
        alive(p).write.partitionBy("tok_bucket").parquet(out)
      },
      table("vocab", VocabSchema) { (v, out) =>
        // Heaps' law: no coalesce(1) funnel for the vocabulary. Range-
        // clustered by token, file count tracks bytes and the pushed-
        // down `token IN (...)` lookup skips files on footer min/max
        val nFiles = math.max(1L, (fs.getContentSummary(new Path(s"$path/vocab")).getLength +
          (64L << 20) - 1) / (64L << 20)).toInt
        v.groupBy(col("token")).agg(sum(col("df")).as("df")).filter(col("df") > 0)
          .repartitionByRange(nFiles, col("token")).sortWithinPartitions(col("token"))
          .write.parquet(out)
      },
      table("stats", StatsSchema) { (st, out) =>
        st.agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
          .coalesce(1).write.parquet(out)
      }), debt = Seq(Tombstones.Table))
    ()
  }

  /** Index health — see [[graft.sources.IndexStats]]. Delta debt for
    * a text index is the number of unfolded append batches (each
    * [[append]] adds one row to `stats/` and one vocab delta; compact
    * and rotate fold them back to a single row), reported as
    * `debt_rows` on the `stats` table; tombstone debt is the pending
    * retraction count.
    */
  def stats(spark: SparkSession, rawPath: String): DataFrame = {
    val path = graft.sources.IndexAlias.resolve(spark, rawPath)
    val statsRows = {
      val p = new org.apache.hadoop.fs.Path(s"$path/stats")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0L
      else spark.read.schema(StatsSchema).parquet(p.toString).count()
    }
    val debt = Map(
      Tombstones.Table -> Tombstones.pending(spark, path, "doc_id"),
      "stats" -> math.max(0L, statsRows - 1L))
    graft.sources.IndexStats.build(spark, "text", rawPath, LayoutTables, debt)
  }

  /** BM25 over the standing index: identical scores to the on-the-fly
    * [[TextIndex.bm25]] (same formula, same rounding), but the corpus
    * text is never read — the postings scan is partition-pruned to
    * the query terms' hash buckets and row-filtered to the terms
    * themselves (both reach the parquet reader), df/stats broadcast.
    * Per-query cost scales with posting-list length, not corpus size.
    */
  def bm25AtRest(spark: SparkSession, rawPath: String,
                 terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val path = graft.sources.IndexAlias.resolve(spark, rawPath)
    // planning-time bucket ids for the terms (must be Spark's own
    // xxhash64 so driver and layout agree) — |terms| rows, local
    val buckets = spark.range(1).select(
      terms.map(t => pmod(xxhash64(lit(t)), lit(TokenBuckets.toLong))): _*)
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).distinct
    // tombstoned docs drop from the pruned postings
    val post = Tombstones.liveOnly(spark, path, "doc_id")(spark.read.schema(PostingsSchema)
      .parquet(s"$path/postings")
      .filter(col("tok_bucket").isin(buckets: _*) && col("token").isin(terms: _*)))
    // fold the per-batch deltas (broadcast-sized side tables)
    val df = spark.read.schema(VocabSchema)
      .parquet(s"$path/vocab").filter(col("token").isin(terms: _*))
      .groupBy(col("token")).agg(sum(col("df")).as("df"))
    val stats = spark.read.schema(StatsSchema).parquet(s"$path/stats")
      .agg(sum(col("n_docs")).as("n_docs"),
        (sum(col("sum_dl")).cast("double") / sum(col("n_docs"))).as("avgdl"))
    val k1l = lit(k1); val bl = lit(b)
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val w = col("tf") * (k1l + 1) / (col("tf") + k1l * (lit(1) - bl + bl * col("dl") / col("avgdl")))
    post.join(broadcast(df), "token")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(round(sum(idf * w), 6).as("bm25"))
  }
}
