package graft

import graft.operators.Relational

class RelationalSpec extends SparkSpec {

  /** Epoch micros of a collected timestamp value, whichever external
    * type the column's (TIMESTAMP vs TIMESTAMP_NTZ) maps to — the
    * test data's `ts` is NTZ micros, read here as UTC instants.
    */
  private def tsMicros(v: Any): Long = v match {
    case t: java.sql.Timestamp =>
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    case d: java.time.LocalDateTime =>
      d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + d.getNano / 1000L
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000L
    case other => fail(s"not a timestamp value: $other (${other.getClass})")
  }

  test("q1_agg groups by flag/status with positive sums") {
    val rows = Relational.q1Agg(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 9)
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_qty") > 0)
      assert(r.getAs[Long]("count_order") > 0)
    }
  }

  test("q3_join returns top-10 by revenue desc") {
    val rows = Relational.q3Join(spark, sfDir).collect()
    assert(rows.length <= 10)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.sameElements(revs.sortBy(-_)))
  }

  test("q_window caps rank at 5 per supplier") {
    val rows = Relational.qWindow(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Int]("rn") <= 5))
    val perSupp = rows.groupBy(_.getAs[Long]("l_suppkey"))
    assert(perSupp.values.forall(_.length <= 5))
  }

  test("q_events_window counts sum to table size") {
    val rows = Relational.qEventsWindow(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_events")).sum
    assert(total == Tables.events(spark, sfDir).count())
  }

  test("q_events_sliding places every event in exactly two windows") {
    val rows = Relational.qEventsSliding(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_events")).sum
    assert(total == 2 * Tables.events(spark, sfDir).count())
    // window starts are 30-minute aligned
    rows.foreach { r =>
      val ms = tsMicros(r.getAs[Any]("window_start")) / 1000L
      assert(ms % (30 * 60 * 1000) == 0)
    }
  }

  test("q_json_extract parses props.k for every event type") {
    val rows = Relational.qJsonExtract(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("max_k") >= 0))
  }

  test("q_rollup subtotals add up to the grand total") {
    val rows = Relational.qRollup(spark, sfDir).collect()
    val grand = rows.find(r => r.getAs[String]("flag") == "ALL" &&
      r.getAs[String]("status") == "ALL").get
    val leaves = rows.filter(r => r.getAs[String]("flag") != "ALL" &&
      r.getAs[String]("status") != "ALL")
    assert(leaves.map(_.getAs[Long]("n")).sum == grand.getAs[Long]("n"))
    assert(leaves.map(_.getAs[Long]("sum_qty")).sum == grand.getAs[Long]("sum_qty"))
    val flagRows = rows.filter(r => r.getAs[String]("flag") != "ALL" &&
      r.getAs[String]("status") == "ALL")
    assert(flagRows.map(_.getAs[Long]("n")).sum == grand.getAs[Long]("n"))
  }

  test("q_percentiles are ordered p50 <= p90 <= p99 within min/max") {
    val rows = Relational.qPercentiles(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, c) = (r.getAs[Double]("p50"), r.getAs[Double]("p90"), r.getAs[Double]("p99"))
      assert(a <= b && b <= c)
    }
  }

  test("q_date_histogram counts and user cardinalities are consistent") {
    val rows = Relational.qDateHistogram(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_users") >= 1)
      assert(r.getAs[Long]("n_users") <= r.getAs[Long]("n_events"))
    }
    val total = rows.map(_.getAs[Long]("n_events")).sum
    assert(total == Tables.events(spark, sfDir).count())
  }

  test("q_histogram_numeric buckets cover every doc once") {
    val rows = graft.operators.Relational.qHistogramNumeric(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("bucket") % 100 == 0)
      val avg = r.getAs[Double]("avg_chars")
      val b = r.getAs[Long]("bucket")
      assert(avg >= b && avg < b + 100, s"avg $avg outside bucket $b")
    }
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sfDir).count())
  }

  test("q_extended_stats moments are internally consistent") {
    val rows = graft.operators.Relational.qExtendedStats(spark, sfDir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (avg, v, sd) = (r.getAs[Double]("avg_v"), r.getAs[Double]("var_v"),
        r.getAs[Double]("std_v"))
      assert(v >= 0 && math.abs(sd * sd - v) < 1e-3)
      assert(r.getAs[Double]("min_v") <= avg && avg <= r.getAs[Double]("max_v"))
      assert(math.abs(r.getAs[Double]("upper_2sd") - (avg + 2 * sd)) < 1e-5)
    }
    assert(rows.map(_.getAs[Long]("n")).sum == Tables.events(spark, sfDir).count())
  }

  test("q_adjacency_matrix intersections are bounded by their sides") {
    val m = graft.operators.Relational.qAdjacencyMatrix(spark, sfDir).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Long]("doc_count")).toMap
    assert(m.keySet == Set("a", "b", "c", "a&b", "a&c", "b&c"))
    assert(m("a&b") <= math.min(m("a"), m("b")))
    assert(m("a&c") <= math.min(m("a"), m("c")))
    assert(m("b&c") <= math.min(m("b"), m("c")))
    assert(m.values.forall(_ >= 0) && m("a") > 0)
  }

  test("q_moving_agg pipeline columns agree with a sequential replay") {
    val rows = graft.operators.Relational.qMovingAgg(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val rev = rows.map(_.getAs[Double]("revenue"))
    var cum = 0.0
    rows.zipWithIndex.foreach { case (r, i) =>
      cum += rev(i)
      assert(math.abs(r.getAs[Double]("cum_rev") - cum) < 0.05)
      val lo = math.max(0, i - 6)
      val ma = rev.slice(lo, i + 1).sum / (i + 1 - lo)
      assert(math.abs(r.getAs[Double]("ma7") - ma) < 1e-4)
      val delta = if (i == 0) 0.0 else rev(i) - rev(i - 1)
      assert(math.abs(r.getAs[Double]("delta") - delta) < 0.02)
    }
  }

  test("q_composite_agg pages strictly after the cursor in bucket order") {
    val rows = graft.operators.Relational.qCompositeAgg(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val cursorMs = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
    val keys = rows.map(r => (tsEpochMs(r.getAs[Any]("day")), r.getAs[String]("event_type")))
    keys.foreach { case (d, t) =>
      assert(d > cursorMs || (d == cursorMs && t > "error"))
    }
    assert(keys.sameElements(keys.sortBy(identity)))
  }

  test("q_terms_by_metric tops are consistent with a full recompute") {
    val rows = graft.operators.Relational.qTermsByMetric(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val sums = rows.map(_.getAs[Double]("sum_value"))
    assert(sums.sameElements(sums.sortBy(-(_: Double))))
    assert(rows.map(_.getAs[Long]("n_events")).forall(_ > 0))
  }

  test("q_geo_line tracks are time-ordered, truncated at 10, complete ⇔ untruncated") {
    val rows = graft.operators.Geo.qGeoLine(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val pts = r.getAs[String]("line").split(" ")
      val n = r.getAs[Long]("n_points")
      assert(pts.length == math.min(n, 10L))
      assert(r.getAs[Boolean]("complete") == (n <= 10))
      // every vertex is a valid centidegree pair
      pts.foreach { p =>
        val Array(lonc, latc) = p.split(":").map(_.toLong)
        assert(lonc >= -18000 && lonc < 18000 && latc >= -9000 && latc < 9000)
      }
    }
    // the line really follows event time: recompute one user's first
    // points from the raw events
    val uid = rows.head.getAs[Long]("user_id")
    import org.apache.spark.sql.functions._
    val firstIds = graft.Tables.events(spark, sfDir)
      .filter(col("user_id") === uid)
      .orderBy(col("ts"), col("event_id")).limit(10)
      .select(col("event_id")).collect().map(_.getLong(0))
    def md5Bucket(key: String, mod: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(key.getBytes("UTF-8")).take(4)
        .map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16) % mod
    }
    val expected = firstIds.map { id =>
      val lonc = md5Bucket(s"x$id", 36000) - 18000
      val latc = md5Bucket(id.toString, 18000) - 9000
      s"$lonc:$latc"
    }.mkString(" ")
    assert(rows.head.getAs[String]("line") == expected)
  }

  test("q_geo_tile keys are valid zoom-6 tiles containing their centroids") {
    val rows = graft.operators.Geo.qGeoTile(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val ns = rows.map(_.getAs[Long]("n_points"))
    assert(ns.sameElements(ns.sortBy(-(_: Long))))
    rows.foreach { r =>
      val Array(z, x, y) = r.getAs[String]("tile").split("/").map(_.toLong)
      assert(z == 6 && x >= 0 && x < 64 && y >= 0 && y < 64)
      // recompute the tile of the centroid: it must be the same tile
      // (centroid of a convex cell stays inside it)
      val lat = r.getAs[Double]("centroid_lat")
      val lon = r.getAs[Double]("centroid_lon")
      val cx = math.floor((lon + 180.0) / 360.0 * 64).toLong
      val rad = math.toRadians(lat)
      val cy = math.floor((1.0 - math.log(math.tan(rad) + 1.0 / math.cos(rad)) / math.Pi) / 2.0 * 64).toLong
      assert(cx == x && cy == y)
    }
  }

  test("q_geo_grid cells are densest-first with centroids inside the cell") {
    val rows = graft.operators.Geo.qGeoGrid(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val ns = rows.map(_.getAs[Long]("n_points"))
    assert(ns.sameElements(ns.sortBy(-(_: Long))))
    rows.foreach { r =>
      val (cla, clo) = (r.getAs[Long]("cell_lat"), r.getAs[Long]("cell_lon"))
      assert(cla % 10 == 0 && clo % 10 == 0)
      assert(r.getAs[Double]("centroid_lat") >= cla &&
        r.getAs[Double]("centroid_lat") < cla + 10)
      assert(r.getAs[Double]("centroid_lon") >= clo &&
        r.getAs[Double]("centroid_lon") < clo + 10)
    }
  }

  test("q_matrix_stats agrees with a driver-side moment replay") {
    val rows = graft.operators.Relational.qMatrixStats(spark, sfDir).collect()
      .map(r => r.getAs[String]("pair") ->
        (r.getAs[Double]("covar"), r.getAs[Double]("corr"))).toMap
    assert(rows.keySet ==
      Set("quantity_price", "quantity_discount", "price_discount"))
    rows.values.foreach { case (_, c) => assert(c >= -1.0 && c <= 1.0) }
    val li = Tables.lineitem(spark, sfDir)
      .select("l_quantity", "l_extendedprice", "l_discount").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    val n = li.length.toDouble
    def covc(xs: Array[Double], ys: Array[Double]) =
      xs.zip(ys).map { case (x, y) => x * y }.sum / n -
        (xs.sum / n) * (ys.sum / n)
    val (q, e) = (li.map(_._1), li.map(_._2))
    val expectedCov = covc(q, e)
    val expectedCorr = expectedCov / math.sqrt(covc(q, q) * covc(e, e))
    assert(math.abs(rows("quantity_price")._1 - expectedCov) < 1e-3)
    assert(math.abs(rows("quantity_price")._2 - expectedCorr) < 1e-6)
  }

  test("q_t_test matches a driver-side Welch computation") {
    val r = graft.operators.Relational.qTTest(spark, sfDir).head()
    val vals = Tables.events(spark, sfDir)
      .select("event_type", "value").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1))).toMap
    def stats(xs: Array[Double]) = {
      val n = xs.length.toDouble
      val m = xs.sum / n
      (n, m, (xs.map(x => x * x).sum - m * m * n) / (n - 1))
    }
    val (n1, m1, v1) = stats(vals("click"))
    val (n2, m2, v2) = stats(vals("view"))
    assert(r.getAs[Long]("n1") == n1.toLong && r.getAs[Long]("n2") == n2.toLong)
    assert(math.abs(r.getAs[Double]("mean_click") - m1) < 1e-5)
    val t = (m1 - m2) / math.sqrt(v1 / n1 + v2 / n2)
    assert(math.abs(r.getAs[Double]("t_stat") - t) < 1e-5)
  }

  test("q_mad matches a driver-side robust-dispersion replay") {
    val rows = graft.operators.Relational.qMad(spark, sfDir).collect()
    assert(rows.length == 5)
    val vals = Tables.events(spark, sfDir)
      .select("event_type", "value").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    def medianOf(xs: Array[Double]): Double = {
      val n = xs.length
      if (n % 2 == 1) xs(n / 2)
      else (xs(n / 2 - 1) + xs(n / 2)) / 2.0
    }
    rows.foreach { r =>
      val xs = vals(r.getAs[String]("event_type"))
      val med = medianOf(xs)
      assert(math.abs(r.getAs[Double]("median") - med) < 1e-5)
      val mad = medianOf(xs.map(x => math.abs(x - med)).sorted)
      assert(math.abs(r.getAs[Double]("mad") - mad) < 1e-5)
      assert(r.getAs[Double]("mad") >= 0)
    }
  }

  test("q_weighted_avg lies within each type's value range") {
    val rows = graft.operators.Relational.qWeightedAvg(spark, sfDir).collect()
    assert(rows.length == 5)
    val ranges = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.min("value").as("lo"),
        org.apache.spark.sql.functions.max("value").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    rows.foreach { r =>
      val (lo, hi) = ranges(r.getAs[String]("event_type"))
      val wa = r.getAs[Double]("weighted_avg")
      assert(wa >= lo && wa <= hi)
      assert(r.getAs[Long]("sum_w") > 0)
    }
  }

  test("q_top_metrics returns each type's ts-latest event") {
    val rows = graft.operators.Relational.qTopMetrics(spark, sfDir).collect()
    assert(rows.length == 5)
    val maxTs = Tables.events(spark, sfDir).groupBy("event_type")
      .agg(org.apache.spark.sql.functions.max("ts").as("m")).collect()
      .map(r => r.getString(0) -> tsMicros(r.getAs[Any]("m"))).toMap
    rows.foreach { r =>
      assert(tsMicros(r.getAs[Any]("latest_ts")) ==
        maxTs(r.getAs[String]("event_type")))
    }
  }

  test("q_diversified_sample caps any user's contribution at 3") {
    val rows = graft.operators.Relational.qDiversifiedSample(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_sampled")).sum
    val ev = Tables.events(spark, sfDir)
    val nUsers = ev.select("user_id").distinct().count()
    assert(total <= 3 * nUsers)
    assert(total <= ev.count())
    // the sample is deterministic across runs
    val again = graft.operators.Relational.qDiversifiedSample(spark, sfDir).collect()
      .map(_.getAs[Long]("n_sampled")).sum
    assert(again == total)
  }

  test("q_bucket_selector keeps only above-average buckets, sorted") {
    val rows = graft.operators.Relational.qBucketSelector(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    // every surviving bucket's lift exceeds the 1.1 selector bound
    assert(rows.forall(_.getAs[Double]("lift") > 1.1))
    val rev = rows.map(_.getAs[Double]("revenue"))
    assert(rev.sameElements(rev.sortBy(-(_: Double))))
  }

  test("q_auto_date_histogram picks the smallest unit within target") {
    val rows = graft.operators.Relational.qAutoDateHistogram(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.length <= graft.operators.Relational.AutoHistTarget)
    // one unit for the whole histogram; orders' ~6.5-year span lands on quarter
    assert(rows.map(_.getAs[String]("unit")).distinct.sameElements(Array("quarter")))
    // buckets are distinct and cover the span in order
    val buckets = rows.map(r => tsEpochMs(r.getAs[Any]("bucket")))
    assert(buckets.distinct.length == buckets.length)
  }

  test("q_percentile_ranks is a monotone CDF per event type") {
    val rows = graft.operators.Relational.qPercentileRanks(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, c) = (r.getAs[Double]("r10"), r.getAs[Double]("r50"), r.getAs[Double]("r200"))
      assert(a >= 0 && c <= 100)
      assert(a <= b && b <= c, s"CDF must be monotone: $a, $b, $c")
    }
  }

  test("q_filters_agg buckets count independently in one scan") {
    val rows = graft.operators.Relational.qFiltersAgg(spark, sfDir).collect()
    assert(rows.length == 3)
    val byName = rows.map(r => r.getAs[String]("bucket") -> r).toMap
    assert(byName.keySet == Set("high_value", "clicks", "big_k"))
    // high_value bucket's mean must exceed its own filter bound
    assert(byName("high_value").getAs[Double]("avg_value") > 100)
    rows.foreach(r => assert(r.getAs[Long]("n_events") > 0))
  }

  test("q_boxplot five-number summaries are ordered with exact IQR") {
    val rows = graft.operators.Relational.qBoxplot(spark, sfDir).collect()
    assert(rows.length == 3) // A, N, R
    rows.foreach { r =>
      val (mn, q1, md, q3, mx) = (r.getAs[Double]("min_q"), r.getAs[Double]("q1"),
        r.getAs[Double]("median"), r.getAs[Double]("q3"), r.getAs[Double]("max_q"))
      assert(mn <= q1 && q1 <= md && md <= q3 && q3 <= mx)
      assert(math.abs(r.getAs[Double]("iqr") - (q3 - q1)) < 1e-6)
    }
  }

  test("q_change_point splits inside the series with consistent means") {
    val r = Relational.qChangePoint(spark, sfDir).collect()
    assert(r.length == 1)
    val row = r.head
    val delta = row.getAs[Double]("delta")
    assert(delta >= 0)
    assert(math.abs(math.abs(row.getAs[Double]("mean_after") -
      row.getAs[Double]("mean_before")) - delta) < 1e-9)
  }

  test("q_cumulative_cardinality is monotone and ends at the total user count") {
    val rows = Relational.qCumulativeCardinality(spark, sfDir).collect()
      .sortBy(_.getAs[java.sql.Date]("day").getTime)
    assert(rows.nonEmpty)
    val cum = rows.map(_.getAs[Long]("cum_users"))
    assert(cum.zip(cum.tail).forall { case (a, b) => a <= b })
    assert(cum.head == rows.head.getAs[Long]("new_users"))
    val totalUsers = Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(cum.last == totalUsers)
    assert(rows.map(_.getAs[Long]("new_users")).sum == totalUsers)
  }

  test("q_range_agg bands partition the corpus exactly") {
    val rows = Relational.qRangeAgg(spark, sfDir).collect()
    val total = Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    assert(rows.map(_.getAs[String]("bucket")).toSet
      .subsetOf(Set("short", "medium", "long", "xlong")))
  }

  test("q_stats_bucket and q_percentiles_bucket agree on the bucket frame") {
    val s = Relational.qStatsBucket(spark, sfDir).head()
    val p = Relational.qPercentilesBucket(spark, sfDir).head()
    assert(s.getAs[Long]("n_buckets") == p.getAs[Long]("n_buckets"))
    assert(s.getAs[Double]("min_rev") <= p.getAs[Double]("p25"))
    assert(p.getAs[Double]("p25") <= p.getAs[Double]("p50"))
    assert(p.getAs[Double]("p50") <= p.getAs[Double]("p75"))
    assert(p.getAs[Double]("p75") <= s.getAs[Double]("max_rev"))
  }

  test("q_has_parent covers exactly the orders of matching parents") {
    import org.apache.spark.sql.functions._
    val rows = Relational.qHasParent(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val expect = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir)
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey"),
        col("o_custkey") === col("c_custkey"))
      .count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum == expect)
  }

  test("q_normalize_agg percentages sum to 100") {
    val rows = Relational.qNormalizeAgg(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val pct = rows.map(_.getAs[Double]("pct_of_total")).sum
    assert(math.abs(pct - 100.0) < 1e-3, s"sum $pct")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("q_eql_sequence matches a brute-force triple count for a sample user") {
    import org.apache.spark.sql.functions._
    val rows = Relational.qEqlSequence(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("n_sequences") >= 1))
    val u = rows.head.getAs[Long]("user_id")
    val evs = Tables.events(spark, sfDir).filter(col("user_id") === u)
      .select("event_type", "ts").collect()
      .map(r => (r.getString(0), tsMicros(r.get(1))))
    val span = 7L * 24 * 3600 * 1000000L
    def of(t: String) = evs.filter(_._1 == t).map(_._2)
    val n = (for {
      v <- of("view"); c <- of("click") if c > v
      p <- of("purchase") if p > c && p <= v + span
    } yield 1).size.toLong
    assert(rows.head.getAs[Long]("n_sequences") == n,
      s"user $u: distributed count ${rows.head.getAs[Long]("n_sequences")} vs local $n")
  }

  test("variable-width histogram buckets are disjoint, ordered, separated by > threshold") {
    val rows = Relational.qVarWidthHistogram(spark, sfDir).collect()
    assert(rows.length > 1)
    // dense bucket ids from 0 in value order
    assert(rows.map(_.getAs[Long]("bucket_id")).toSeq == rows.indices.map(_.toLong))
    rows.foreach { r =>
      assert(r.getAs[Double]("min_rev") <= r.getAs[Double]("centroid") + 1e-6)
      assert(r.getAs[Double]("centroid") <= r.getAs[Double]("max_rev") + 1e-6)
      assert(r.getAs[Long]("n_days") >= 1)
    }
    // recompute the 2×-mean-spacing threshold the operator derives
    import org.apache.spark.sql.functions._
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      .agg(min(col("rev")), max(col("rev")), count(lit(1))).collect()(0)
    val thr = 2.0 * (daily.getDouble(1) - daily.getDouble(0)) / daily.getLong(2)
    rows.sliding(2).foreach { case Array(a, b) =>
      val gap = b.getAs[Double]("min_rev") - a.getAs[Double]("max_rev")
      assert(gap > thr - 1e-9,
        s"buckets ${a.getAs[Long]("bucket_id")}/${b.getAs[Long]("bucket_id")} gap $gap ≤ thr $thr")
      case _ => ()
    }
  }

  test("missing_agg partitions every doc into missing or valued, per lang") {
    val rows = Relational.qMissingAgg(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables.documents(spark, sfDir).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_missing") + r.getAs[Long]("n_values") ==
        r.getAs[Long]("n_docs"))
      // value_count semantics: avg exists iff any value is present
      if (r.getAs[Long]("n_values") > 0) assert(!r.isNullAt(r.fieldIndex("avg_value")))
      else assert(r.isNullAt(r.fieldIndex("avg_value")))
    }
  }

  test("reverse_nested counts each parent once per bucket") {
    import org.apache.spark.sql.functions._
    val rows = Relational.qReverseNested(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // n_customers ≤ n_orders per bucket (dedup happened), and the
    // distinct-parent count matches a direct recount per bucket
    val direct = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("nc"), count(lit(1)).as("no"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (nc, no) = direct(r.getAs[String]("o_orderpriority"))
      assert(r.getAs[Long]("n_customers") == nc)
      assert(r.getAs[Long]("n_orders") == no)
      assert(nc <= no)
    }
  }

  test("moving percentiles are ordered within each day and match a local recount") {
    import org.apache.spark.sql.functions._
    val rows = Relational.qMovingPercentiles(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("p50") <= r.getAs[Double]("p95")))
    // local exact recount (linear interpolation) for a middle day
    val ev = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("d"), col("value")).collect()
      .map(r => r.getDate(0).toLocalDate -> r.getDouble(1))
    val probe = rows(rows.length / 2)
    val day = probe.getDate(0).toLocalDate
    val vals = ev.filter { case (d, _) =>
      !d.isAfter(day) && !d.isBefore(day.minusDays(6)) }.map(_._2).sorted
    def q(p: Double): Double = {
      val h = (vals.length - 1) * p; val lo = h.toInt
      if (lo + 1 < vals.length) vals(lo) + (h - lo) * (vals(lo + 1) - vals(lo))
      else vals(lo)
    }
    assert(probe.getAs[Long]("n_events") == vals.length)
    assert(math.abs(probe.getAs[Double]("p50") - q(0.5)) < 1e-6)
    assert(math.abs(probe.getAs[Double]("p95") - q(0.95)) < 1e-6)
  }

  test("logsumexp is stable and matches a shifted local fold") {
    import org.apache.spark.sql.functions._
    val rows = Relational.qLogSumExp(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byType = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).map { case (t, rs) =>
        val vs = rs.map(_.getDouble(1))
        val mx = vs.max
        t -> (vs.length.toLong, mx + math.log(vs.map(v => math.exp(v - mx)).sum))
      }
    rows.foreach { r =>
      val (n, lse) = byType(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_events") == n)
      assert(math.abs(r.getAs[Double]("logsumexp") - lse) < 1e-5)
      // the rounded-to-6dp output can sit at most half a grid step
      // below the unrounded local fold
      assert(r.getAs[Double]("logsumexp") >= lse - 5e-7)
    }
  }

  test("day-series windows carry a partition key: no unpartitioned WindowExec") {
    import org.apache.spark.sql.execution.window.WindowExec
    // the five |days|-row series queries; an empty partitionSpec is
    // the "No Partition Defined for Window operation" path
    val plans = Seq(
      "q_moving_agg" -> Relational.qMovingAgg(spark, sfDir),
      "q_cumulative_cardinality" -> Relational.qCumulativeCardinality(spark, sfDir),
      "q_serial_diff" -> Relational.qSerialDiff(spark, sfDir),
      "q_change_point" -> Relational.qChangePoint(spark, sfDir),
      "q_var_width_histogram" -> Relational.qVarWidthHistogram(spark, sfDir))
    plans.foreach { case (name, df) =>
      val windows = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$name: no window in the plan")
      windows.foreach(w =>
        assert(w.partitionSpec.nonEmpty, s"$name: unpartitioned window\n$w"))
    }
  }
}
