package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{ScaleOps, TextIndex}
import graft.operators.{Dedup, IndexCache, VectorIndex}
import graft.sources.IndexAlias

/** The closed maintenance loop: `ScaleOps.maintain` reads the stats
  * debt/fragmentation numbers (and a sampled recall probe when asked)
  * and executes the remedy the numbers call for — nothing when within
  * policy, compact for debt, retrain for geometry drift that
  * compaction cannot fix.
  */
class MaintainSpec extends SparkSpec {

  private val Dim = 64

  private def clustered(seed: Int, nClusters: Int, perCluster: Int,
                        lo: Double, hi: Double, idBase: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val centers = Seq.fill(nClusters)(
      Array.fill(Dim)((lo + rnd.nextDouble() * (hi - lo)).toFloat))
    val rows = for {
      c <- 0 until nClusters
      i <- 0 until perCluster
    } yield {
      val emb = centers(c).map(v => v + (rnd.nextDouble() * 0.1 - 0.05).toFloat)
      (idBase + c.toLong * perCluster + i, emb, c)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }

  test("vector: within policy → none; debt past threshold → compacted; drift past recall floor → retrained") {
    import spark.implicits._
    val home = IndexCache.tempDir("graft-maintain-vec") + "/vix"
    val corpusA = clustered(seed = 31, nClusters = 16, perCluster = 32,
      lo = -1.0, hi = 1.0, idBase = 0L)
    VectorIndex.buildRotating(spark, corpusA, home)

    val r0 = ScaleOps.maintain(spark, "vector", home)
    assert(r0.action == "none" && r0.debtRows == 0, r0.toString)

    // push tombstone debt over a tiny threshold → compact fires and
    // folds the debt
    VectorIndex.delete(spark, home, (0L to 24L).toSeq)
    val r1 = ScaleOps.maintain(spark, "vector", home,
      ScaleOps.MaintenancePolicy(maxDebtRows = 10L))
    assert(r1.action == "compacted" && r1.debtRows == 25L, r1.toString)
    assert(ScaleOps.maintain(spark, "vector", home,
      ScaleOps.MaintenancePolicy(maxDebtRows = 10L)).debtRows == 0L)

    // drift: append a far-off angularly-tight region against the
    // frozen geometry — PQ recall erodes; maintain with a recall
    // floor retrains (a new generation lands) and the re-probe clears
    val corpusB = clustered(seed = 43, nClusters = 16, perCluster = 32,
      lo = 3.0, hi = 3.4, idBase = 100000L)
    VectorIndex.append(spark, corpusB, home)
    // one probe per drifted cluster (its last member: collapsed ADC
    // codes tie-break by id, so high ids are the ones a stale
    // codebook actually loses)
    val rnd = new scala.util.Random(7)
    val queries = corpusB.filter(col("vec_id") % 32 === 31).collect().map { r =>
      val emb = r.getSeq[Float](1).toArray.map(v => v + (rnd.nextDouble() * 0.02 - 0.01).toFloat)
      (r.getLong(0) + 900000L, emb)
    }.toSeq.toDF("q_id", "q_emb").localCheckpoint()

    val gen0 = IndexAlias.resolve(spark, home)
    val policy = ScaleOps.MaintenancePolicy(minRecall = Some(0.85))
    val r2 = ScaleOps.maintain(spark, "vector", home, policy, Some(queries))
    assert(r2.action == "retrained", r2.toString)
    assert(r2.recall.exists(_ < 0.85), s"drifted recall should be low: $r2")
    assert(IndexAlias.resolve(spark, home) != gen0, "retrain must land a new generation")
    val r3 = ScaleOps.maintain(spark, "vector", home, policy, Some(queries))
    assert(r3.action == "none" && r3.recall.exists(_ >= 0.85),
      s"fresh geometry should clear the floor: $r3")
  }

  test("budget-bound layout: a recall miss REPORTS instead of retraining — no futile re-encode loop") {
    import spark.implicits._
    val home = IndexCache.tempDir("graft-maintain-bound") + "/vix"
    val corpusA = clustered(seed = 31, nClusters = 16, perCluster = 32,
      lo = -1.0, hi = 1.0, idBase = 0L)
    VectorIndex.buildRotating(spark, corpusA, home)
    // the same drift shape the retrain test uses: appended far-off
    // region erodes PQ recall below the floor
    val corpusB = clustered(seed = 43, nClusters = 16, perCluster = 32,
      lo = 3.0, hi = 3.4, idBase = 100000L)
    VectorIndex.append(spark, corpusB, home)
    val rnd = new scala.util.Random(7)
    val queries = corpusB.filter(col("vec_id") % 32 === 31).collect().map { r =>
      val emb = r.getSeq[Float](1).toArray.map(v => v + (rnd.nextDouble() * 0.02 - 0.01).toFloat)
      (r.getLong(0) + 900000L, emb)
    }.toSeq.toDF("q_id", "q_emb").localCheckpoint()
    // stamp the layout budget-bound — what build-time pool
    // calibration persists when no pool under the cost cap reaches
    // the target (fabricated here: the genuine calibration-produced
    // flag is pinned in AdaptiveIvfSpec's poolCap=10 case)
    val live = IndexAlias.resolve(spark, home)
    val existing = spark.read.parquet(s"$live/meta/params")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    (existing :+ ("pq_budget_bound", 1L)).toDF("param", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$live/meta/params.new")
    val fs = new org.apache.hadoop.fs.Path(live)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$live/meta/params"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$live/meta/params.new"),
      new org.apache.hadoop.fs.Path(s"$live/meta/params"))
    VectorIndex.invalidate(spark, home)
    assert(VectorIndex.readMeta(spark, home).budgetBound)

    // the recall miss is real — but retrain CANNOT fix a code-budget
    // limit, so maintain must report, not rebuild; and it must hold
    // that line on the NEXT cycle too (the r11 thrash: every cycle
    // re-encoded the corpus forever)
    val gen0 = IndexAlias.resolve(spark, home)
    val policy = ScaleOps.MaintenancePolicy(minRecall = Some(0.85))
    val r1 = ScaleOps.maintain(spark, "vector", home, policy, Some(queries))
    assert(r1.action == "budget_bound", r1.toString)
    assert(r1.recall.exists(_ < 0.85), s"probe should miss the floor: $r1")
    assert(IndexAlias.resolve(spark, home) == gen0, "budget-bound must not retrain")
    val r2 = ScaleOps.maintain(spark, "vector", home, policy, Some(queries))
    assert(r2.action == "budget_bound" && IndexAlias.resolve(spark, home) == gen0,
      s"second cycle must still not retrain: $r2")
    // the condition is operator-visible in the stats params surface
    val bound = VectorIndex.servingParams(spark, home)
      .filter(col("param") === "pq_budget_bound").head.getLong(1)
    assert(bound == 1L)
  }

  /** Stamp `pq_budget_bound` into the live generation's params — the
    * fixture shared by the suppression tests (the genuine
    * calibration-produced flag is pinned in AdaptiveIvfSpec's
    * poolCap=10 case).
    */
  private def stampBudgetBound(home: String): Unit = {
    import spark.implicits._
    val live = IndexAlias.resolve(spark, home)
    val existing = spark.read.parquet(s"$live/meta/params")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .filterNot(_._1 == "pq_budget_bound")
    (existing :+ ("pq_budget_bound", 1L)).toDF("param", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$live/meta/params.new")
    val fs = new org.apache.hadoop.fs.Path(live)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$live/meta/params"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$live/meta/params.new"),
      new org.apache.hadoop.fs.Path(s"$live/meta/params"))
    VectorIndex.invalidate(spark, home)
    assert(VectorIndex.readMeta(spark, home).budgetBound)
  }

  test("budget-bound recall miss suppresses only the retrain: debt compaction still fires the same cycle") {
    import spark.implicits._
    val home = IndexCache.tempDir("graft-maintain-bound-debt") + "/vix"
    val corpusA = clustered(seed = 31, nClusters = 16, perCluster = 32,
      lo = -1.0, hi = 1.0, idBase = 0L)
    VectorIndex.buildRotating(spark, corpusA, home)
    val corpusB = clustered(seed = 43, nClusters = 16, perCluster = 32,
      lo = 3.0, hi = 3.4, idBase = 100000L)
    VectorIndex.append(spark, corpusB, home)
    val rnd = new scala.util.Random(7)
    val queries = corpusB.filter(col("vec_id") % 32 === 31).collect().map { r =>
      val emb = r.getSeq[Float](1).toArray.map(v => v + (rnd.nextDouble() * 0.02 - 0.01).toFloat)
      (r.getLong(0) + 900000L, emb)
    }.toSeq.toDF("q_id", "q_emb").localCheckpoint()
    stampBudgetBound(home)
    // tombstone debt past the policy: the r12 shadowing defect let the
    // budget_bound report swallow this compaction every cycle, so debt
    // grew unboundedly on exactly the layouts that can't retrain
    VectorIndex.delete(spark, home, (0L until 64L))
    val gen0 = IndexAlias.resolve(spark, home)
    val policy = ScaleOps.MaintenancePolicy(minRecall = Some(0.85), maxDebtRows = 1L)
    val r = ScaleOps.maintain(spark, "vector", home, policy, Some(queries))
    assert(r.action == "compacted", r.toString)
    assert(r.reason.contains("suppressed"), s"reason should record the suppressed recall remedy: $r")
    assert(r.recall.exists(_ < 0.85), s"the miss itself should still be on the report: $r")
    assert(IndexAlias.resolve(spark, home) != gen0, "compaction lands a fresh generation")
  }

  test("budget-bound is a measurement, not a property: refreshed calibration clears the flag without retrain") {
    import spark.implicits._
    // an ADAPTIVE geometry (32 lists > the 16-list floor) so the
    // maintenance recalibration genuinely re-measures (nprobe, pool)
    // against the current corpus instead of no-opping
    val home = IndexCache.tempDir("graft-maintain-recal") + "/vix"
    val corpusA = clustered(seed = 61, nClusters = 32, perCluster = 48,
      lo = -1.0, hi = 1.0, idBase = 0L)
    val meta0 = VectorIndex.buildRotating(spark, corpusA, home, nlist = 32)
    assert(!meta0.budgetBound, "fixture layout must calibrate unbound at build")
    val corpusB = clustered(seed = 43, nClusters = 16, perCluster = 32,
      lo = 3.0, hi = 3.4, idBase = 100000L)
    VectorIndex.append(spark, corpusB, home)
    val rnd = new scala.util.Random(7)
    val queries = corpusB.filter(col("vec_id") % 32 === 31).collect().map { r =>
      val emb = r.getSeq[Float](1).toArray.map(v => v + (rnd.nextDouble() * 0.02 - 0.01).toFloat)
      (r.getLong(0) + 900000L, emb)
    }.toSeq.toDF("q_id", "q_emb").localCheckpoint()
    // the flag was measured against the BUILD corpus; after the append
    // a recall miss may be drift-caused — maintain must re-measure
    // (one bounded calibration pass, no re-encode) before suppressing
    stampBudgetBound(home)
    val gen0 = IndexAlias.resolve(spark, home)
    val policy = ScaleOps.MaintenancePolicy(minRecall = Some(0.85))
    val r = ScaleOps.maintain(spark, "vector", home, policy, Some(queries))
    assert(r.action == "recalibrated", r.toString)
    assert(r.recall.exists(_ < 0.85), s"probe should miss the floor: $r")
    assert(IndexAlias.resolve(spark, home) == gen0,
      "recalibration must not land a generation (no re-encode)")
    assert(!VectorIndex.readMeta(spark, home).budgetBound,
      "today's calibration clears the cap, so the flag must clear with it")
  }

  test("banding drift: concentrated appends past the width slack REPORT with the measured inputs, never retrain") {
    import spark.implicits._
    val home = IndexCache.tempDir("graft-maintain-banding") + "/vix"
    // a direction-uniform corpus big enough that width is above the
    // 4-bit floor territory: 20k rows at pRand ~0.5 persist ~4 bits
    val rnd = new scala.util.Random(3)
    def uniformRows(n: Int, idBase: Long) = (0 until n).map { i =>
      (idBase + i, Array.fill(Dim)((rnd.nextGaussian()).toFloat), i % 8)
    }
    val corpusA = uniformRows(10000, 0L).toDF("vec_id", "embedding", "label")
    VectorIndex.buildRotating(spark, corpusA, home)
    val bits0 = VectorIndex.readMeta(spark, home).lshBits
    val r0 = ScaleOps.maintain(spark, "vector", home)
    assert(r0.action == "none", s"fresh uniform layout must be within policy: $r0")
    // append a CONCENTRATED batch of 4x the mass: the mixed corpus's
    // measured centered pRand rises (sampled pairs are now mostly
    // in-cone at ~0.95 per-plane collision), the frozen width
    // under-sizes, and per-query candidate mass starts growing with
    // every batch — the rung must surface the measured evidence, not
    // act (the postings rewrite is an operator-owned cost/recall
    // tradeoff)
    val conc = (0 until 40000).map { i =>
      (100000L + i, Array.fill(Dim)((10.0 + rnd.nextGaussian()).toFloat), i % 8)
    }.toDF("vec_id", "embedding", "label")
    VectorIndex.append(spark, conc, home)
    val gen0 = IndexAlias.resolve(spark, home)
    val r1 = ScaleOps.maintain(spark, "vector", home)
    assert(r1.action == "banding_drift", r1.toString)
    assert(r1.reason.contains(s"lsh_bits $bits0") && r1.reason.contains("pRand"),
      s"report must carry the measured inputs: $r1")
    assert(IndexAlias.resolve(spark, home) == gen0,
      "banding drift is report-only: no generation may land")

    // --- the PROPORTIONAL remedy: reband rewrites ONLY the postings ---
    // the drift report's named fix must cost an id-only table rewrite
    // (plus one bounded truth scan), never a corpus re-encode: no
    // generation lands and no vectors/ file is touched
    val fs = new org.apache.hadoop.fs.Path(gen0).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def vectorFiles(): Map[String, (Long, Long)] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$gen0/vectors"), true)
      val m = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          m += f.getPath.toString -> ((f.getLen, f.getModificationTime))
      }
      m.result()
    }
    val vecsBefore = vectorFiles()
    val m2 = VectorIndex.reband(spark, home)
    assert(IndexAlias.resolve(spark, home) == gen0,
      "reband is in-place: no generation may land")
    assert(m2.lshBits >= bits0 + ScaleOps.MaintenancePolicy().lshBitsDriftSlack,
      s"reband must re-derive the width the drift report measured: $m2 vs $bits0")
    assert(vectorFiles() == vecsBefore,
      "reband must not rewrite a single vectors/ file")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$gen0/lsh.next")),
      "the write-aside must be swapped away, not left behind")
    val leftovers = fs.listStatus(new org.apache.hadoop.fs.Path(gen0)).map(_.getPath.getName)
      .filter(n => n.startsWith(".old-") || n.startsWith(".aside-") || n.startsWith(".commit-"))
    assert(leftovers.isEmpty,
      s"the swap must leave no displaced table, aside or commit marker: ${leftovers.mkString(",")}")
    // the persisted params match the postings just written: a fresh
    // session reads the re-derived banding off disk
    VectorIndex.invalidate(spark, gen0)
    val reread = VectorIndex.readMeta(spark, home)
    assert(reread.lshBits == m2.lshBits && reread.lshBands == m2.lshBands)
    // the next maintenance cycle has nothing to report
    val r2 = ScaleOps.maintain(spark, "vector", home)
    assert(r2.action == "none", s"reband must clear the drift report: $r2")
    // and the re-banded postings still SERVE: queries drawn from the
    // concentrated cone that caused the drift find their exact-cosine
    // neighbors through the new bucket space at the calibrated recall
    val qdf = (0 until 32).map { i =>
      (900000L + i, Array.fill(Dim)((10.0 + rnd.nextGaussian()).toFloat))
    }.toDF("q_id", "q_emb")
    val exact = VectorIndex.searchIvf(spark, home, qdf,
      nprobe = VectorIndex.readMeta(spark, home).centroids.size)
    val approx = VectorIndex.searchLsh(spark, home, qdf)
    val rec = ScaleOps.recallAtK(exact, approx)
      .agg(org.apache.spark.sql.functions.avg(col("recall")))
      .collect()(0).getDouble(0)
    assert(rec >= 0.85, f"re-banded LSH recall floor: $rec%.3f")
  }

  test("list-size drift: a corpus that outgrew its nlist triggers a rotating retrain to policy geometry") {
    val home = IndexCache.tempDir("graft-maintain-geom") + "/vix"
    // a 4-list geometry over a corpus the policy wants at the 16-list
    // floor — the same shape as a grown corpus on a frozen geometry,
    // without writing 131k rows in a unit test
    val corpus = clustered(seed = 57, nClusters = 16, perCluster = 64,
      lo = -1.0, hi = 1.0, idBase = 0L)
    VectorIndex.buildRotating(spark, corpus, home, nlist = 4)
    assert(VectorIndex.readMeta(spark, home).centroids.size == 4)

    // within the drift factor → no action
    val r0 = ScaleOps.maintain(spark, "vector", home,
      ScaleOps.MaintenancePolicy(geometryDriftFactor = 8.0))
    assert(r0.action == "none", r0.toString)

    // policy wants NList (16) ≥ 2 × 4 → retrain fires, lands a new
    // generation trained to the policy geometry
    val gen0 = IndexAlias.resolve(spark, home)
    val r1 = ScaleOps.maintain(spark, "vector", home)
    assert(r1.action == "retrained" && r1.reason.contains("geometry drift"), r1.toString)
    assert(IndexAlias.resolve(spark, home) != gen0, "drift retrain must land a new generation")
    assert(VectorIndex.readMeta(spark, home).centroids.size == graft.operators.Ann.NList)
    // retrained-to-policy geometry is within the factor again
    val r2 = ScaleOps.maintain(spark, "vector", home)
    assert(r2.action == "none", r2.toString)
  }

  test("text and dedup: debt past threshold compacts; within policy is a no-op") {
    import spark.implicits._
    val tHome = IndexCache.tempDir("graft-maintain-text") + "/tix"
    val docs = (0L to 49L).map(i => (i, s"alpha bravo tok$i words"))
      .toDF("doc_id", "text").localCheckpoint()
    TextIndex.rotate(docs, tHome)
    TextIndex.delete(docs.filter(col("doc_id") < 20), tHome)
    val rt = ScaleOps.maintain(spark, "text", tHome,
      ScaleOps.MaintenancePolicy(maxDebtRows = 5L))
    assert(rt.action == "compacted" && rt.debtRows >= 20L, rt.toString)
    assert(ScaleOps.maintain(spark, "text", tHome,
      ScaleOps.MaintenancePolicy(maxDebtRows = 5L)).action == "none")
    assert(TextIndex.bm25AtRest(spark, tHome, Seq("alpha")).count() == 30)

    val dHome = IndexCache.tempDir("graft-maintain-dedup") + "/dix"
    Dedup.rotateMinhashIndex(docs.filter(col("doc_id") >= 20), dHome)
    Dedup.deleteFromMinhashIndex(spark, (20L to 29L).toSeq, dHome)
    val rd = ScaleOps.maintain(spark, "dedup", dHome,
      ScaleOps.MaintenancePolicy(maxDebtRows = 5L))
    assert(rd.action == "compacted" && rd.debtRows == 10L, rd.toString)
    assert(ScaleOps.maintain(spark, "dedup", dHome,
      ScaleOps.MaintenancePolicy(maxDebtRows = 5L)).action == "none")
  }

  test("cluster kind: the fourth standing index rides the same maintenance loop") {
    import spark.implicits._
    // three exact-duplicate pairs plus singletons — enough cluster
    // mass that deletes leave visible tombstone + superseded-row debt
    val docs = ((0L to 39L).map(i => (i, s"unique document body number $i with words")) ++
      Seq(100L -> "duplicated cluster text one", 101L -> "duplicated cluster text one",
          102L -> "duplicated cluster text two", 103L -> "duplicated cluster text two"))
      .toDF("doc_id", "text").localCheckpoint()
    val cHome = IndexCache.tempDir("graft-maintain-cluster") + "/cix"
    Dedup.rotateClusterIndex(docs, cHome)
    assert(ScaleOps.maintain(spark, "cluster", cHome).action == "none")
    Dedup.deleteFromClusterIndex(spark, Seq(100L, 102L), cHome)
    val rc = ScaleOps.maintain(spark, "cluster", cHome,
      ScaleOps.MaintenancePolicy(maxDebtRows = 1L))
    assert(rc.action == "compacted" && rc.debtRows >= 2L, rc.toString)
    assert(ScaleOps.maintain(spark, "cluster", cHome,
      ScaleOps.MaintenancePolicy(maxDebtRows = 1L)).action == "none")
    // compacted view: retracted docs gone, survivors dissolved back
    // to singletons (their pair partner was deleted)
    val view = Dedup.readClusterIndex(spark, cHome)
    assert(view.filter(col("doc_id").isin(100L, 102L)).count() == 0)
    assert(view.count() == 0, "one-member clusters must dissolve")
  }

  test("maintain bounds the generation footprint across compaction cycles") {
    import spark.implicits._
    val home = IndexCache.tempDir("graft-maintain-gens") + "/vix"
    val corpus = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"))
    VectorIndex.buildRotating(spark, corpus, home)
    // each cycle: accrue debt -> maintain compacts (zero-downtime
    // handoff = a fresh generation) -> prune keeps live + 1
    (1 to 3).foreach { i =>
      VectorIndex.delete(spark, home, Seq(i.toLong))
      val r = ScaleOps.maintain(spark, "vector", home,
        ScaleOps.MaintenancePolicy(maxDebtRows = 1L))
      assert(r.action == "compacted", s"cycle $i: $r")
      val gens = graft.sources.IndexAlias.generations(spark, home)
      assert(gens.size <= 2, s"cycle $i left generations: $gens")
    }
    // the index still serves (deletes applied physically)
    val q = Tables.embeddings(spark, sfDir).filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val got = VectorIndex.searchIvf(spark, home, q).collect()
    assert(got.nonEmpty &&
      !got.exists(r => Seq(1L, 2L, 3L).contains(r.getAs[Long]("vec_id"))))
  }

  test("age rung: generations older than maxGenerationAge are pruned within the keep count") {
    val home = IndexCache.tempDir("graft-maintain-age") + "/vix"
    val corpus = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"))
    VectorIndex.buildRotating(spark, corpus, home)
    // one compaction cycle leaves live + 1 previously-live generation
    VectorIndex.delete(spark, home, Seq(1L))
    assert(ScaleOps.maintain(spark, "vector", home,
      ScaleOps.MaintenancePolicy(maxDebtRows = 1L)).action == "compacted")
    assert(graft.sources.IndexAlias.generations(spark, home).size == 2)
    // within the age window the retired generation survives the next
    // (no-op) cycle; past it, the same keep count prunes it
    graft.sources.IndexAlias.pruneGenerations(spark, home, keep = 1,
      maxAgeMs = Some(3600000L))
    assert(graft.sources.IndexAlias.generations(spark, home).size == 2)
    graft.sources.IndexAlias.pruneGenerations(spark, home, keep = 1,
      maxAgeMs = Some(3600000L),
      nowMs = System.currentTimeMillis() + 7200000L)
    val gens = graft.sources.IndexAlias.generations(spark, home)
    assert(gens.size == 1, s"aged-out generation not pruned: $gens")
    // and the index still serves off the live generation
    val q = Tables.embeddings(spark, sfDir).filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    assert(VectorIndex.searchIvf(spark, home, q).collect().nonEmpty)
  }

  test("fragmentation counts DATA files only: debt tables (by schema, not name) are excluded") {
    import spark.implicits._
    val tHome = IndexCache.tempDir("graft-maintain-frag") + "/tix"
    val docs = (0L to 29L).map(i => (i, s"alpha tok$i words"))
      .toDF("doc_id", "text").localCheckpoint()
    TextIndex.rotate(docs.filter(col("doc_id") < 10), tHome)
    // two appends: stats now holds 3 delta rows (debt), tombstones
    // one file after a delete — neither may count as fragmentation
    TextIndex.append(docs.filter(col("doc_id") >= 10 && col("doc_id") < 20), tHome)
    TextIndex.append(docs.filter(col("doc_id") >= 20), tHome)
    TextIndex.delete(docs.filter(col("doc_id") === 0), tHome)
    val st = TextIndex.stats(spark, tHome).collect()
    val dataOnly = st.filter(_.isNullAt(st.head.fieldIndex("debt_rows")))
      .map(_.getAs[Long]("files")).sum
    val withDebtTables = st.map(_.getAs[Long]("files")).sum
    assert(withDebtTables > dataOnly,
      "precondition: the debt tables must actually hold files here")
    val r = ScaleOps.maintain(spark, "text", tHome,
      ScaleOps.MaintenancePolicy(maxDebtRows = 1000L, maxDataFiles = 100000L))
    assert(r.action == "none")
    assert(r.dataFiles == dataOnly,
      s"dataFiles=${r.dataFiles} must equal data-table files $dataOnly " +
        s"(not $withDebtTables with debt tables included)")
  }

  test("rollover-by-size: writes past the threshold repoint the write alias; reads union generations") {
    import graft.sources.{CollectionCatalog => CC}
    import spark.implicits._
    val cat = CC(spark, IndexCache.tempDir("graft-rollover"))
    val policy = CC.RolloverPolicy(maxDocs = Some(25))
    def batch(from: Int) = (from until from + 10).map(i => (i.toLong, s"doc $i")).toDF("id", "v")
    // 10 + 10 docs stay in generation 1; the 30th doc trips max_docs
    assert(cat.writeRollover("logs", batch(0), policy) == "logs-000001")
    assert(cat.writeRollover("logs", batch(10), policy) == "logs-000001")
    assert(cat.resolveAlias("logs.write").contains("logs-000001"))
    assert(cat.writeRollover("logs", batch(20), policy) == "logs-000002")
    // the write alias now points at the fresh, empty, schema-stable
    // generation; the sealed one keeps its 30 docs
    assert(cat.resolveAlias("logs.write").contains("logs-000002"))
    assert(cat.rolloverGenerations("logs") == Seq("logs-000001", "logs-000002"))
    assert(cat.load("logs-000001").count() == 30)
    assert(cat.open("logs.write").count() == 0)
    // subsequent writes land in generation 2; reads union everything
    assert(cat.writeRollover("logs", batch(30), policy) == "logs-000002")
    assert(cat.open("logs.write").count() == 10)
    assert(cat.openRollover("logs").count() == 40)
    assert(cat.openRollover("logs").select(sum(col("id"))).head.getLong(0) == (0 until 40).map(_.toLong).sum)
    // byte trigger: a tiny maxBytes rolls on every write
    val bPolicy = CC.RolloverPolicy(maxBytes = Some(1L))
    assert(cat.writeRollover("audit", batch(0), bPolicy) == "audit-000002")
    assert(cat.writeRollover("audit", batch(10), bPolicy) == "audit-000003")
    assert(cat.openRollover("audit").count() == 20)
  }
}
