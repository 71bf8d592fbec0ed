package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.api.VectorCollection
import graft.functions.vec

/** Collection CRUD surface — the batch twins of the reference's
  * upsert / delete / get / scroll / stats APIs (shared by all five
  * backends behind the VECTOR_DB switch, /root/reference/README.md),
  * bound from [[graft.api.VectorCollection]] onto the test tables.
  *
  * In a Spark-native store, "mutation" is a merge over immutable
  * snapshots: an update batch latest-wins-merged by key, a delete a
  * filter, a point-get a pushed-down IN scan. All shapes shuffle at
  * most once on the collection key — at 100 TB the collection would
  * be bucketed by `vec_id` so the merge window reuses the bucketing
  * and the shuffle disappears entirely.
  */
object Collection {

  private def coll(spark: SparkSession, sfDir: String): VectorCollection =
    VectorCollection(
      Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"), col("label")),
      idCol = "vec_id")

  /** Deterministic "update batch": every 10th vector gets label+100
    * (a metadata patch), and a small batch of brand-new ids appears
    * above the current max — exercising both the update and insert
    * halves of upsert.
    */
  private def updateBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.embeddings(spark, sfDir)
    val updates = base.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"), (col("label") + 100).as("label"))
    val inserts = base.filter(col("vec_id") % 250 === 0)
      .select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding"), lit(999).as("label"))
    updates.unionByName(inserts)
  }

  /** Row 10: latest-wins upsert merge via the facade; base rows carry
    * version 1, the batch version 2.
    */
  def qUpsert(spark: SparkSession, sfDir: String): DataFrame =
    coll(spark, sfDir).upsert(updateBatch(spark, sfDir)).df
      .select(col("vec_id"), col("label"), col("__version").as("version"))
      .orderBy(col("vec_id"))

  /** Row 11: delete-by-filter (the reference's delete(filter=...)).
    * Output is the surviving per-label histogram so the oracle check
    * covers the whole result without materializing vectors.
    */
  def qDeleteFilter(spark: SparkSession, sfDir: String): DataFrame =
    coll(spark, sfDir).delete(col("label") === 3 || (col("vec_id") % 17 === 0)).df
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_remaining"))
      .orderBy(col("label"))

  /** Ids for the point-lookup; literal list, an IN-set in the scan. */
  val GetIds: Seq[Long] = Seq(0L, 7L, 13L, 42L, 99L, 123L, 256L, 404L, 444L, 499L)

  /** Row 12: get-by-ids point lookup — pushed into the parquet scan;
    * with bucketing at rest this is a bucket-pruned read, no shuffle.
    */
  def qGetByIds(spark: SparkSession, sfDir: String): DataFrame =
    coll(spark, sfDir).getByIds(GetIds)
      .select(col("vec_id"), col("label"), round(vec.norm(col("embedding")), 6).as("norm"))
      .orderBy(col("vec_id"))

  /** Row 13: scroll — deterministic page: order by id, skip 100, take
    * 50. (At 100 TB a real scroll would be keyset `WHERE vec_id >
    * last_seen LIMIT n` — same plan shape, no skew; offset here
    * mirrors the reference's scroll-cursor semantics.)
    */
  def qScroll(spark: SparkSession, sfDir: String): DataFrame =
    coll(spark, sfDir).scroll(100, 50).select(col("vec_id"), col("label"))

  /** Deterministic stratified sampling — the corpus-curation stage
    * that takes a reproducible fraction per stratum (here 1-in-5 by
    * an md5 of the id, so membership is stable across runs, cluster
    * topologies, and engines — no RNG state). Pure per-row predicate:
    * the sample is a scan-level filter at any scale; this query
    * reports the per-stratum acceptance profile so the oracle checks
    * every stratum in one small result.
    */
  val SampleMod = 5

  def qSampleStratified(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = graft.functions.hashes.md5Bucket(
      col("vec_id").cast("string"), SampleMod)
    Tables.embeddings(spark, sfDir)
      .select(col("label"), when(bucket === 0, 1L).otherwise(0L).as("keep"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_total"), sum(col("keep")).as("n_sampled"))
      .select(col("label"), col("n_total"), col("n_sampled"),
        round(col("n_sampled").cast("double") / col("n_total"), 6).as("ratio"))
      .orderBy(col("label"))
  }

  /** Keyset pagination (ES `search_after` / Qdrant `order_by` +
    * `start_from`): the page is defined by a cursor — the sort key of
    * the last row served — not an offset. Unlike offset scroll
    * (O(offset) rows scanned and discarded per page), the cursor
    * predicate pushes into the scan, so page N costs the same as
    * page 1 at any corpus size; on a sort-ordered layout it prunes
    * files outright.
    */
  def qSearchAfter(spark: SparkSession, sfDir: String): DataFrame = {
    val (afterChars, afterId) = (300L, 250L)
    Tables.documents(spark, sfDir)
      .filter(col("n_chars") < afterChars ||
        (col("n_chars") === afterChars && col("doc_id") > afterId))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .limit(50)
      .select(col("doc_id"), col("n_chars"))
  }

  /** Facet counts (the Qdrant facet / Elasticsearch terms-aggregation
    * API): distinct values of a payload field with their counts,
    * under a filter. Filter lands in the parquet scan, the aggregate
    * is map-side combinable, output cardinality = |field values| —
    * the cheapest possible shape at any scale.
    */
  def qFacet(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("n_chars") >= 300)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars").cast("double")), 6).as("avg_chars"))
      .orderBy(col("source"))

  /** Multi-terms aggregation (ES `multi_terms`): the compound
    * (lang, source) key histogram, top-10 buckets by count with key
    * tie-break — ES materializes the key tuple per doc exactly like
    * this groupBy does. One scan, map-side-combinable; the top-10 is
    * a TakeOrdered over |langs|·|sources| partials, never a full
    * sort.
    */
  def qMultiTerms(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars").cast("double")), 6).as("avg_chars"))
      .orderBy(col("n_docs").desc, col("lang"), col("source"))
      .limit(10)

  /** Row 14: collection stats — count / dims / label cardinality /
    * norm aggregate, the reference's collection.stats()/count()
    * endpoint. Single scan, single-row output.
    */
  def qCollectionStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("label"), size(col("embedding")).cast("long").as("dim"),
              vec.norm(col("embedding")).as("nrm"))
      .agg(
        count(lit(1)).as("n_vectors"),
        countDistinct(col("label")).as("n_labels"),
        max(col("dim")).as("dim"),
        round(avg(col("nrm")), 6).as("avg_norm"))

  /** Filtered count (the Qdrant `count` API with a filter, exact
    * mode): how many vectors satisfy a metadata + geometry predicate
    * — label under 5 AND within cosine 0.2 of the query vector (the
    * count twin of range search) — with the label spread alongside.
    * The metadata half pushes into the scan; the similarity half is
    * one codegen'd expression against a one-row broadcast; the
    * aggregate is a two-value map-side combine. The cheapest
    * possible full-filter pass at any corpus size.
    */
  def qCountFiltered(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    emb.filter(col("label") < 5)
      .crossJoin(broadcast(qv))
      .filter(round(vec.cosine(col("q_emb"), col("embedding")), 6) >= 0.2)
      .agg(count(lit(1)).as("n_vectors"),
        countDistinct(col("label")).as("n_labels"))
  }

  /** Update-by-query (ES `update_by_query` / Qdrant `set_payload`
    * with a filter): a payload transform applied to every row the
    * predicate matches — short docs get tier 'low', the rest keep
    * 'std' — reported as the per-(source, tier) profile. In a
    * Spark-native store a filtered update is just a projected scan
    * rewritten into the next snapshot: a per-row `when`, no join, no
    * shuffle beyond the reporting aggregate, identical cost to a
    * read at any scale.
    */
  def qUpdateByQuery(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("tier", when(col("n_chars") < 150, "low").otherwise("std"))
      .groupBy(col("source"), col("tier"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"), col("tier"))

  /** Number of parallel export slices for the sliced scroll. */
  val ScrollSlices = 4

  /** Sliced scroll (ES sliced scroll / Qdrant's parallel scroll
    * recipe): the deterministic hash-slice every bulk-export client
    * runs N of in parallel. Slice membership is an md5-derived
    * bucket of the id — stable across runs and engines, never RNG —
    * so the N slices partition the collection exactly. This emits
    * slice 1's page ordered by id; the other slices are the same
    * scan with a different literal, all pushed to the parquet scan.
    */
  def qScrollSlice(spark: SparkSession, sfDir: String): DataFrame = {
    val slice = graft.functions.hashes.md5Bucket(
      col("vec_id").cast("string"), ScrollSlices)
    Tables.embeddings(spark, sfDir)
      .filter(slice === 1)
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))
      .limit(100)
  }

  /** The structured-filter surface ([[graft.api.FilterDsl]]) as a
    * driver-verified query: a Qdrant-wire-form JSON bool filter —
    * must (match + range) / must_not (match any) / should (text
    * contains, min 1) — compiled to one Catalyst predicate over the
    * document store. The flat conditions reach the parquet scan as
    * pushed filters; the whole query is scan + presentation sort.
    */
  /** Session-scoped payload-indexed layout of the documents table
    * (keyword-partitioned by lang, range-clustered by n_chars) —
    * built once at ingest like the text/vector indexes.
    */
  private def payloadIndexPath(spark: SparkSession, sfDir: String): String =
    IndexCache.sessionLayout(spark, "payloadindex", sfDir) { p =>
      graft.api.PayloadIndex.write(Tables.documents(spark, sfDir), p,
        graft.api.PayloadIndex.Layout(keyword = Seq("lang"), numeric = Seq("n_chars")))
    }

  /** Payload-index scan (Qdrant `create_payload_index` + filtered
    * read): the same wire-filter semantics as [[qFilterDsl]], but
    * served from the AT-REST indexed layout — the lang equality
    * prunes partition directories at the listing and the n_chars
    * range skips files on footer stats ([[graft.api.PayloadIndex]];
    * pruning proven in PayloadIndexSpec). Hash-checked against the
    * same DuckDB oracle as a raw-table scan would be: layout changes
    * bytes on disk, never results.
    */
  def qPayloadIndexScan(spark: SparkSession, sfDir: String): DataFrame = {
    val f = graft.api.FilterDsl.fromJson(
      """{ "must": [ {"key": "lang", "match": {"any": ["en", "de"]}},
        |            {"key": "n_chars", "range": {"gte": 120, "lt": 400}} ] }""".stripMargin)
    graft.api.PayloadIndex.scan(spark, payloadIndexPath(spark, sfDir), f)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Payload-schema introspection — Qdrant collection info's
    * `payload_schema` (per-field type, count of points carrying the
    * field, distinct-value count; ES `_field_caps` is the same verb).
    * One scan: the fields unpivot to (field, value) rows via `stack`
    * (nulls preserved, so `count(value)` is the points-with-field
    * count) and a single grouped aggregate computes both counts —
    * the distinct count two-phases map-side like any groupBy, and
    * the group key space is the FIELD COUNT, so the final shuffle is
    * a handful of rows at any corpus size. Types come from the
    * collection's Spark schema, not the data, so the verb costs no
    * extra pass. Long text values hash to 16 bytes BEFORE the
    * distinct exchange (md5 preserves the null and the count;
    * a collision needs ~2^64 distinct texts) — the partial-distinct
    * shuffle carries hashes, never document bodies.
    */
  def qPayloadSchema(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val fields = Seq("lang", "source", "n_chars", "text")
    val dtype = {
      import org.apache.spark.sql.types._
      val m = d.schema.fields.map(f => f.name -> (f.dataType match {
        case StringType => "keyword"
        case LongType | IntegerType => "integer"
        case DoubleType | FloatType => "float"
        case BooleanType => "bool"
        case other => other.simpleString
      })).toMap
      fields.foldLeft(lit(null).cast("string")) { (acc, k) =>
        when(col("field") === k, lit(m(k))).otherwise(acc)
      }
    }
    val stackArgs = fields
      .map(k => if (k == "text") s"'$k', md5($k)"
                else s"'$k', cast($k as string)").mkString(", ")
    d.select(expr(s"stack(${fields.size}, $stackArgs) as (field, value)"))
      .groupBy(col("field"))
      .agg(count(col("value")).as("points"),
        countDistinct(col("value")).as("n_distinct"))
      .select(col("field"), dtype.as("dtype"), col("points"), col("n_distinct"))
      .orderBy(col("field"))
  }

  /** Array-payload filtering — Milvus `ARRAY_CONTAINS` /
    * `ARRAY_CONTAINS_ALL` / `ARRAY_CONTAINS_ANY` and Qdrant
    * `values_count` / `is_empty`, the array-field half of every
    * backend's filter DSL (tags, categories, multi-valued labels).
    * The tag array is derived from the document text at scan time
    * here; in a real collection it is a stored column, and every
    * compiled form (`array_contains` conjunctions, `arrays_overlap`,
    * guarded `size`) is a plain codegen'd expression over that one
    * column — one scan, no shuffle, no UDF, so the filter costs the
    * same as a hand-written predicate at any corpus size.
    */
  def qArrayFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val f = graft.api.FilterDsl.fromJson(
      """{ "must": [ {"key": "tags", "array_contains": "vector"},
        |            {"key": "tags", "values_count": {"gte": 40, "lt": 90}} ],
        |  "must_not": [ {"key": "tags", "is_empty": true} ],
        |  "should": [ {"key": "tags", "array_contains_all": ["spark", "data"]},
        |              {"key": "tags", "array_contains_any": ["hash", "window"]} ],
        |  "min_should": 1 }""".stripMargin)
    Tables.documents(spark, sfDir)
      .withColumn("tags", split(col("text"), " "))
      .filter(f.toColumn)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(col("tags")).cast("long").as("n_tags"))
      .orderBy(col("doc_id"))
  }

  def qFilterDsl(spark: SparkSession, sfDir: String): DataFrame = {
    val f = graft.api.FilterDsl.fromJson(
      """{ "must": [ {"key": "lang", "match": {"value": "en"}},
        |            {"key": "n_chars", "range": {"gte": 100, "lt": 900}} ],
        |  "must_not": [ {"key": "source", "match": {"any": ["src0", "src1"]}} ],
        |  "should": [ {"key": "text", "match": {"text": "spark"}},
        |              {"key": "text", "match": {"text": "join"}} ],
        |  "min_should": 1 }""".stripMargin)
    Tables.documents(spark, sfDir)
      .filter(f.toColumn)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }
}
