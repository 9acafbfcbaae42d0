package graft

import graft.dp.{Cleaning, Taxonomy}
import graft.eval.Metrics
import graft.features._
import graft.profile.Profile
import graft.sampling.Sampling
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("snakeCase handles camelCase, spaces and symbols") {
    assert(Cleaning.snakeCase("CustomerId") == "customer_id")
    assert(Cleaning.snakeCase("  First Name ") == "first_name")
    assert(Cleaning.snakeCase("a-b.c") == "a_b_c")
    assert(Cleaning.snakeCase("already_snake") == "already_snake")
  }

  test("cleanStringColumn scrubs brackets, case, whitespace, specials") {
    val df = Seq("  Hello   (note) WORLD! [x] a_b-c.d,e  ").toDF("s")
    val out = df.select(Cleaning.cleanStringColumn(col("s"))).as[String].head()
    assert(out == "hello world a_b-c.d,e")
  }

  test("taxonomy classifies the four kinds") {
    val df = Seq((1L, "a", 1.5, true)).toDF("l", "s", "d", "b")
      .withColumn("t", current_timestamp())
    assert(Taxonomy.numericalColumns(df) == Seq("l", "d"))
    assert(Taxonomy.categoricalColumns(df) == Seq("s"))
    assert(Taxonomy.booleanColumns(df) == Seq("b"))
    assert(Taxonomy.datelikeColumns(df) == Seq("t"))
  }

  test("outlier bounds: IQR math on a known frame") {
    // values 1..9 plus outlier 100: q1=3.25, q3=7.75 (exact percentile), iqr=4.5
    val df = ((1 to 9) :+ 100).map(_.toDouble).toDF("x")
    val m = OutlierTreatment.fit(df, Seq("x"), exact = true)
    val b = m.bounds("x")
    assert(math.abs(b.lower - (3.25 - 1.5 * 4.5)) < 1e-9)
    assert(math.abs(b.upper - (7.75 + 1.5 * 4.5)) < 1e-9)
    // cap: outlier clamped to upper bound; drop: row removed
    val capped = m.cap(df).agg(max("x")).as[Double].head()
    assert(math.abs(capped - b.upper) < 1e-9)
    assert(m.drop(df).count() == 9)
  }

  test("imputer: mean/median/mode/constant fill values") {
    val df = Seq(
      (Some(1.0), Some("a")), (Some(2.0), Some("b")), (Some(3.0), Some("b")),
      (None, None)).toDF("x", "c")
    val m = RuleImputer.fit(df,
      Map("x" -> RuleImputer.Mean, "c" -> RuleImputer.Mode), exact = true)
    assert(m.values("x") == 2.0)
    assert(m.values("c") == "b")
    val out = m.transform(df)
    assert(out.filter(col("x").isNull || col("c").isNull).count() == 0)
    val const = RuleImputer.fit(df, Map("x" -> RuleImputer.Constant(-1.0)))
    assert(const.values("x") == -1.0)
    val med = RuleImputer.fit(df, Map("x" -> RuleImputer.Median), exact = true)
    assert(med.values("x") == 2.0)
  }

  test("binning: explicit splits, half-open with closed last bucket") {
    val df = Seq(0.0, 1.0, 5.0, 10.0, 11.0).toDF("x")
    val m = Binning.withExplicitSplits(Map("x" -> Seq(0.0, 5.0, 10.0)))
    val bins = m.transform(df).select("x_bin").as[Option[Int]].collect().toSeq
    assert(bins == Seq(Some(0), Some(0), Some(1), Some(1), None))
  }

  test("target encoding: category means + prior for unseen") {
    val train = Seq(("a", 1.0), ("a", 0.0), ("b", 1.0)).toDF("c", "y")
    val m = Encoding.fitTargetEncoder(train, "c", "y")
    val test = Seq("a", "b", "zz").toDF("c")
    val vals = m.transform(test).orderBy("c").select("c_te").as[Double].collect().toSeq
    assert(vals(0) == 0.5 && vals(1) == 1.0)
    assert(math.abs(vals(2) - 2.0 / 3.0) < 1e-9) // prior
  }

  test("frequency encoding: occurrence shares on train, 0.0 for unseen") {
    val train = Seq("a", "a", "a", "b").toDF("c")
    val m = Encoding.fitFrequencyEncoder(train, "c")
    val out = m.transform(Seq("a", "b", "zz").toDF("c"))
      .orderBy("c").select("c_freq").as[Double].collect().toSeq
    assert(out == Seq(0.75, 0.25, 0.0))
  }

  test("stratified split preserves class ratio (fixed reference bug)") {
    val df = (1 to 1000).map(i => (i, if (i % 5 == 0) 1 else 0)).toDF("id", "y")
    val (train, test) = Sampling.stratifiedSplit(df, "y", 0.3, seed = 7)
    assert(train.count() + test.count() == 1000)
    val testPosShare = test.filter(col("y") === 1).count().toDouble / test.count()
    assert(math.abs(testPosShare - 0.2) < 0.06) // class ratio survives the split
    // stratifying on a continuous column fails loudly instead of collecting
    // every distinct value and fanning out one scan per value
    intercept[IllegalArgumentException] {
      Sampling.stratifiedSplit(df, "id", 0.3, seed = 7, maxClasses = 100)
    }
  }

  test("regression metrics formulas on a hand-computed frame") {
    val df = Seq((1.0, 2.0), (2.0, 2.0), (4.0, 3.0)).toDF("y", "yhat")
    val r = Metrics.regressionMetrics(df, "y", "yhat").head()
    assert(math.abs(r.getAs[Double]("mae") - (1.0 + 0.0 + 1.0) / 3) < 1e-6)
    assert(math.abs(r.getAs[Double]("wmape") - 2.0 / 7.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("rmse") - math.sqrt(2.0 / 3.0)) < 1e-6)
  }

  test("binary metrics at threshold on a hand-computed frame") {
    val df = Seq((0.9, 1.0), (0.8, 0.0), (0.3, 1.0), (0.1, 0.0)).toDF("score", "label")
    val r = Metrics.binaryMetricsAtThreshold(df, "score", "label", 0.5).head()
    assert(r.getAs[Long]("tp") == 1 && r.getAs[Long]("fp") == 1)
    assert(r.getAs[Long]("tn") == 1 && r.getAs[Long]("fn") == 1)
    assert(r.getAs[Double]("accuracy") == 0.5)
  }

  test("iv: separable feature scores higher than noise") {
    val df = (1 to 500).map { i =>
      val y = if (i % 2 == 0) 1.0 else 0.0
      (y * 10 + i % 3, (i % 7).toDouble, y)
    }.toDF("good", "noise", "y")
    val iv = InformationValue.ivTable(df, Seq("good", "noise"), "y", 5, exact = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(iv("good") > 1.0)
    assert(iv("good") > iv("noise") * 10)
  }

  test("histogram: equi-width buckets cover all rows, top edge folded in") {
    val df = (0 until 100).map(_.toDouble).toDF("x")
    val h = Profile.histogram(df, "x", 10).orderBy("bucket").collect()
    assert(h.length == 10)
    assert(h.map(_.getAs[Long]("n")).sum == 100)
    assert(h.head.getAs[Int]("bucket") == 0 && h.head.getAs[Double]("lo") == 0.0)
    assert(h.last.getAs[Long]("n") == 10) // x=99 (the max) lands in bucket 9
    // constant column: single bucket, no divide-by-zero
    val const = Profile.histogram(Seq(5.0, 5.0).toDF("x"), "x", 4).collect()
    assert(const.length == 1 && const.head.getAs[Long]("n") == 2)
  }

  test("rollingValue sums the trailing event-time window per key") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 00:00:00")
    val ev = Seq(
      (1L, ts(0), 1.0), (1L, ts(3), 2.0), (1L, ts(10), 4.0),
      (2L, ts(0), 8.0)).toDF("user_id", "ts", "value")
    val out = graft.pipeline.FeatureEngineering.rollingValue(ev, "user_id", "ts", "value", 7)
      .orderBy("user_id", "ts")
      .select("user_id", "rolling_7d_value", "rolling_7d_events")
      .as[(Long, Double, Long)].collect().toSeq
    // user 1: day0 → {1}, day3 → {1,2}, day10 → {2,4} (day0 outside 7d)
    assert(out == Seq((1L, 1.0, 1L), (1L, 3.0, 2L), (1L, 6.0, 2L), (2L, 8.0, 1L)))
  }

  test("sessionizeBatch splits on event-time gaps, keeps ties together") {
    def ts(sec: Int) = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T10:00:00Z").plusSeconds(sec))
    val ev = Seq(
      (1L, ts(0), 1.0), (1L, ts(60), 2.0), (1L, ts(60), 3.0), (1L, ts(4000), 4.0),
      (2L, ts(0), 8.0)).toDF("user_id", "ts", "value")
    val out = graft.pipeline.FeatureEngineering
      .sessionizeBatch(ev, "user_id", "ts", "value", gapSeconds = 1800)
      .orderBy("user_id", "session_id")
      .select("user_id", "session_id", "n_events", "total_value")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 0, 3L, 6.0), (1L, 1, 1L, 4.0), (2L, 0, 1L, 8.0)))
  }

  test("setAnalyse counts on known sets") {
    val a = Seq(1, 2, 3, 4).toDF("k")
    val b = Seq(3, 4, 5).toDF("k")
    val r = Profile.setAnalyse(a, b, "k").head()
    assert(r.getAs[Long]("a_minus_b") == 2)
    assert(r.getAs[Long]("b_minus_a") == 1)
    assert(r.getAs[Long]("a_intersect_b") == 2)
    assert(r.getAs[Long]("a_union_b") == 5)
  }

  test("salted join equals plain join on a skewed frame and spreads the hot key") {
    // 90% of rows share key 1 — the pathological shape salting exists for
    val skewed = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i)).toDF("k", "v")
    val dim = (1 to 1000).map(i => (i.toLong, s"d$i")).toDF("k", "d")
    val plain = skewed.join(dim, Seq("k")).select("k", "v", "d")
      .collect().map(_.toString).sorted.toSeq
    val salted = graft.dp.SkewJoin.saltedJoin(skewed, dim, "k", salts = 8)
      .select("k", "v", "d").collect().map(_.toString).sorted.toSeq
    assert(salted == plain)
    // the hot key's rows really land in several salt sub-groups
    // duplicate-row hot key must STILL spread (the salt is per-row id, not
    // content hash — identical rows would otherwise share one salt)
    val dupRows = Seq.fill(1000)(1L).toDF("k")
    val saltSpread = dupRows
      .withColumn("__salt", pmod(xxhash64(monotonically_increasing_id()), lit(8L)).cast("int"))
      .select("__salt").distinct().count()
    assert(saltSpread >= 4, s"identical-row hot key only spread over $saltSpread salts")
    // right/full outer would duplicate unmatched right rows per salt
    intercept[IllegalArgumentException] {
      graft.dp.SkewJoin.saltedJoin(skewed, dim, "k", salts = 8, joinType = "full_outer")
    }
  }

  test("histogram returns an empty frame for empty or all-null input") {
    val empty = Profile.histogram(Seq.empty[Double].toDF("x"), "x", 5)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("bucket", "lo", "hi", "n"))
    val allNull = Profile.histogram(
      Seq[Option[Double]](None, None).toDF("x"), "x", 5)
    assert(allNull.count() == 0)
    // NaN excluded like null — a single NaN would otherwise make width NaN
    // and collapse every bucket to 0
    val withNan = Profile.histogram(Seq(1.0, 2.0, Double.NaN).toDF("x"), "x", 2)
      .orderBy("bucket").collect()
    assert(withNan.map(_.getAs[Long]("n")).sum == 2)
    assert(withNan.forall(r => !r.getAs[Double]("hi").isNaN))
  }

  test("bucketed tables join without a shuffle exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    val a = (1 to 100).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("k", "vb")
    graft.io.Tables.saveBucketed(a, "bkt_a", "k", 4, Some(s"$dir/a"))
    graft.io.Tables.saveBucketed(b, "bkt_b", "k", 4, Some(s"$dir/b"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      assert(joined.count() == 100)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("partitioned write prunes directories via PartitionFilters") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val df = (0 until 100)
      .map(i => (i.toLong, Seq("click", "view", "purchase")(i % 3), i * 1.0))
      .toDF("id", "event_type", "value")
    graft.io.Tables.savePartitioned(df, s"$dir/events", Seq("event_type"))
    val read = spark.read.parquet(s"$dir/events").filter(col("event_type") === "click")
    assert(read.count() == 34)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"),
      s"partition-column filter must prune at the scan:\n$plan")
    // the pruned filter must NOT appear as a post-scan data filter
    assert(!plan.contains("PushedFilters: [IsNotNull(event_type)"),
      s"partition filter leaked into data filters:\n$plan")
  }

  test("pii redaction replaces urls, emails, phones with typed tokens") {
    import graft.text.TextAnalysis
    val df = Seq(
      "see https://ex.com/a?b=1 or mail bob.smith+x@corp.io or call +1 (555) 123-4567 now")
      .toDF("text")
    val out = df.select(TextAnalysis.redactPii(col("text"))).as[String].head()
    assert(out == "see <URL> or mail <EMAIL> or call <PHONE> now")
    val (u, e, p) = TextAnalysis.piiCounts(col("text"))
    val counts = df.select(u, e, p).head()
    assert((counts.getInt(0), counts.getInt(1), counts.getInt(2)) == ((1, 1, 1)))
  }

  test("repetition stats flag duplicated tokens and 3-grams") {
    import graft.text.TextAnalysis
    val df = Seq(
      (1L, "spam spam spam spam spam spam"),  // 6 tokens, 1 distinct; 4 3-grams, 1 distinct
      (2L, "all tokens here are different ok"),
      (3L, "ab")).toDF("doc_id", "text")     // too short for 3-grams
    val m = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(m(1L) == ((6, 0.833333, 0.75))) // round(1 - 1/6, 6)
    assert(m(2L) == ((6, 0.0, 0.0)))
    assert(m(3L) == ((1, 0.0, 0.0)))
  }

  test("compactTo merges a fragmented write into few evenly-sized files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    (1 to 2000).map(i => (i.toLong, s"payload_$i" * 10)).toDF("id", "s")
      .repartition(40).write.parquet(s"$dir/frag")
    val frag = spark.read.parquet(s"$dir/frag")
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$dir/frag") == 40)
    graft.io.Tables.compactTo(frag, s"$dir/one") // default 128 MB target → 1 file
    assert(parquetFiles(s"$dir/one") == 1)
    assert(spark.read.parquet(s"$dir/one").count() == 2000)
    val bytes = frag.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    graft.io.Tables.compactTo(frag, s"$dir/four", targetFileBytes = bytes / 4)
    val n = parquetFiles(s"$dir/four")
    assert(n >= 4 && n <= 6, s"expected ~4-5 files, got $n")
  }

  test("saveRangeClustered: a range filter touches a fraction of the files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_range").toString
    val df = (1 to 10000).map(i => ((i * 7919) % 10000, s"p$i")).toDF("k", "s")
    graft.io.Tables.saveRangeClustered(df, s"$dir/clustered", Seq("k"), numFiles = 10)
    val back = spark.read.parquet(s"$dir/clustered")
    assert(back.count() == 10000)
    // each file covers ~1/10 of the key range; a 5%-range filter must hit
    // at most 2 files (boundary straddle), not all 10
    val touched = back.filter(col("k") >= 4000 && col("k") < 4500)
      .select(input_file_name()).distinct().count()
    assert(touched <= 2, s"range-clustered layout should skip files, touched $touched/10")
    val rows = back.filter(col("k") >= 4000 && col("k") < 4500).count()
    assert(rows == df.filter(col("k") >= 4000 && col("k") < 4500).count())
  }

  test("saveZOrdered: file skipping works on both dimensions independently") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    // 128x128 grid, written in shuffled row-major order
    val df = (0 until 16384).map { i =>
      val j = (i * 7919) % 16384; (j % 128, j / 128, s"p$j")
    }.toDF("x", "y", "s")
    graft.io.Tables.saveZOrdered(df, s"$dir/z", "x", "y", numFiles = 16)
    val back = spark.read.parquet(s"$dir/z")
    assert(back.count() == 16384)
    def touched(f: org.apache.spark.sql.Column): Long =
      back.filter(f).select(input_file_name()).distinct().count()
    // a 16x16 rectangle (~1.6% of rows) lands in a handful of z-quadrants
    assert(touched(col("x") >= 32 && col("x") < 48 && col("y") >= 32 && col("y") < 48) <= 4)
    // a band on EITHER single dimension skips about half the files —
    // a linear sort by x would touch all 16 files for the y band
    assert(touched(col("x") >= 32 && col("x") < 48) <= 8)
    assert(touched(col("y") >= 32 && col("y") < 48) <= 8)
    // and the data is intact under a predicate
    assert(back.filter(col("x") === 5 && col("y") === 7).count() == 1)
  }

  test("mortonCode interleaves bits: unit squares are adjacent codes") {
    import spark.implicits._
    val m = Seq((0, 0), (1, 0), (0, 1), (1, 1), (2, 2), (3, 5))
      .toDF("a", "b")
      .select(graft.io.Tables.mortonCode(col("a"), col("b")).as("z"))
      .as[Long].collect().toSeq
    assert(m == Seq(0L, 1L, 2L, 3L, 12L, 39L)) // z(3,5)=interleave(011,101)=100111
  }

  test("rangeJoin: containment semantics, overlaps multi-match, no bucket dups") {
    import spark.implicits._
    val probe = Seq((1L, 5L), (2L, 10L), (3L, 25L), (4L, 99L)).toDF("pid", "pt")
    val iv = Seq(
      (10L, 0L, 11L),   // catches pt 5 and 10
      (11L, 5L, 30L),   // overlaps the first: pt 5, 10, 25
      (12L, 25L, 26L),  // single-point window: pt 25 only
      (13L, 40L, 40L),  // empty interval — dropped
      (14L, 90L, 120L)  // spans many buckets; pt 99 matches ONCE
    ).toDF("wid", "ws", "we")
    val out = graft.dp.Temporal.rangeJoin(probe, iv, "pt", "ws", "we", bucketWidth = 7L)
      .select("pid", "wid").as[(Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 11L), (3L, 12L), (4L, 14L)))
    // end-exclusive: pt == we does not match
    val edge = Seq((9L, 11L)).toDF("pid", "pt")
    assert(graft.dp.Temporal.rangeJoin(edge, iv, "pt", "ws", "we", 7L)
      .filter(col("wid") === 10L).count() == 0)
  }

  test("overwritePartitions: replaces only the touched partitions, re-runs are idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_dynpart").toString + "/t"
    val days = Seq(
      ("2024-01-01", 1L, 10.0), ("2024-01-02", 2L, 20.0), ("2024-01-03", 3L, 30.0))
      .toDF("day", "id", "v")
    graft.io.Tables.overwritePartitions(days, dir, Seq("day"))
    assert(spark.read.parquet(dir).count() === 3)
    // rewrite day 2 only — days 1 and 3 must survive, day 2 replaced
    val day2 = Seq(("2024-01-02", 20L, 99.0), ("2024-01-02", 21L, 98.0)).toDF("day", "id", "v")
    graft.io.Tables.overwritePartitions(day2, dir, Seq("day"))
    val after = spark.read.parquet(dir)
    assert(after.count() === 4)
    assert(after.filter(col("day") === "2024-01-02").count() === 2)
    assert(after.filter(col("day") === "2024-01-01").select("v").head().getDouble(0) === 10.0)
    // re-running the same day is a no-op on totals (idempotent)
    graft.io.Tables.overwritePartitions(day2, dir, Seq("day"))
    assert(spark.read.parquet(dir).count() === 4)
  }

  test("readEvolved: added columns union with nulls; pinned schema skips the footer sweep") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    // v1 files: (id, a); v2 files add column b
    Seq((1L, "x"), (2L, "y")).toDF("id", "a").write.parquet(s"$dir/p1")
    Seq((3L, "z", 30.0)).toDF("id", "a", "b").write.parquet(s"$dir/p2")
    val merged = graft.io.Tables.readEvolved(spark, Seq(s"$dir/p1", s"$dir/p2"))
    assert(merged.columns.sorted.toSeq === Seq("a", "b", "id"))
    assert(merged.count() === 3)
    assert(merged.filter(col("b").isNull).count() === 2) // v1 rows
    assert(merged.filter(col("id") === 3).select("b").head().getDouble(0) === 30.0)
    // pinned schema: same result, no mergeSchema planning sweep
    val pinned = graft.io.Tables.readEvolved(
      spark, Seq(s"$dir/p1", s"$dir/p2"), Some(merged.schema))
    assert(pinned.columns.sorted.toSeq === Seq("a", "b", "id"))
    assert(pinned.filter(col("b").isNull).count() === 2)
    // a narrower pinned schema projects (column pruning at the scan)
    val narrow = graft.io.Tables.readEvolved(spark, Seq(s"$dir/p1", s"$dir/p2"),
      Some(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType)))))
    assert(narrow.columns.toSeq === Seq("id") && narrow.count() === 3)
    // incompatible evolution (type flip) fails loudly, not silently
    Seq((9L, 123)).toDF("id", "a").write.parquet(s"$dir/p3") // a: int vs string
    val e = intercept[Exception] {
      graft.io.Tables.readEvolved(spark, Seq(s"$dir/p1", s"$dir/p3")).collect()
    }
    assert(e.getMessage != null)
  }

  test("upsert: updates replace, inserts append, untouched rows survive") {
    import graft.io.Tables
    val existing = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "s", "v")
    val updates = Seq((2L, "B!", 99.0), (9L, "new", 1.0)).toDF("k", "s", "v")
    val out = Tables.upsert(existing, updates, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(out == Set((1L, "a", 10.0), (2L, "B!", 99.0), (3L, "c", 30.0), (9L, "new", 1.0)))
    val e = intercept[IllegalArgumentException](
      Tables.upsert(existing, updates.select("k", "s"), Seq("k")))
    assert(e.getMessage.contains("schema mismatch"))
  }

  test("dynamic partition pruning fires on a partitioned fact join") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    val fact = (0 until 300)
      .map(i => (i.toLong, Seq("click", "view", "purchase")(i % 3), i * 1.0))
      .toDF("id", "event_type", "value")
    graft.io.Tables.savePartitioned(fact, s"$dir/fact", Seq("event_type"))
    // the dim must be a real scan: a Filter over a LocalRelation is
    // constant-folded away (ConvertToLocalRelation), leaving no selective
    // predicate for the DPP rule to latch onto
    Seq(("click", "web"), ("tap", "mobile")).toDF("event_type", "channel")
      .write.parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim")
    // at test sizes the cost heuristic never sees a benefit (a few KB of
    // parquet); force the fallback-ratio path so the planner's DPP wiring
    // itself is what's under test
    val prevStats = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    val prevRatio = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    try {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "100000")
      val joined = spark.read.parquet(s"$dir/fact")
        .join(dim.filter(col("channel") === "web"), Seq("event_type"))
      assert(joined.count() == 100)
      // the fact scan's partition filter must include the runtime pruning
      // subquery fed by the dim side, not just static filters
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"expected dynamic partition pruning in the fact scan:\n$plan")
    } finally {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", prevStats)
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", prevRatio)
    }
  }

  test("unique-key constraint counts composite duplicates only") {
    import graft.profile.Constraints._
    val df = Seq((1L, "a"), (1L, "b"), (1L, "b"), (2L, "a")).toDF("k1", "k2")
    val out = check(df, Seq(UniqueKey(Seq("k1", "k2")), Unique("k1")))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out("unique_key") == (("k1,k2", 1L))) // one duplicated (1,b) pair
    assert(out("unique") == (("k1", 2L)))        // k1=1 appears three times
  }

  test("ngram jaccard doc-frequency cap drops only hot shingles") {
    import spark.implicits._
    // 12 docs share the hot phrase; two also share a rare phrase
    val docs = (0 until 12).map { i =>
      val rare = if (i < 2) " rare trigram shared here" else s" unique$i filler$i tail$i"
      (i.toLong, "the quick fox" + rare)
    }.toDF("doc_id", "text")
    val uncapped = graft.dedup.Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", k = 3, minJaccard = 0.01)
    assert(uncapped.count() > 11) // hot shingle pairs everyone
    val capped = graft.dedup.Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", k = 3, minJaccard = 0.01, maxShingleDocFreq = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((0L, 1L)), s"only the rare-phrase pair should survive the cap, got $capped")
  }

  test("readData dispatches csv and json with inference, quoting, multi-path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString
    val df = Seq((1L, "plain", 1.5), (2L, "quoted,comma", -2.0)).toDF("id", "s", "x")
    df.coalesce(1).write.option("header", "true").csv(s"$dir/csv")
    df.coalesce(1).write.json(s"$dir/json")
    val csv = graft.io.Tables.readData(spark, Seq(s"$dir/csv"), "csv")
    assert(csv.schema("x").dataType == org.apache.spark.sql.types.DoubleType) // inferSchema
    assert(csv.filter(col("s") === "quoted,comma").count() == 1) // quoting survives
    val json = graft.io.Tables.readData(spark, Seq(s"$dir/json"), "json")
    assert(json.select("id", "s", "x").orderBy("id").collect().toSeq ==
      df.select("id", "s", "x").orderBy("id").collect().toSeq)
    val multi = graft.io.Tables.readData(spark, Seq(s"$dir/csv", s"$dir/csv"), "csv")
    assert(multi.count() == 4)
  }

  test("setAnalyseKeys returns capped per-category membership lists") {
    val a = Seq(1, 2, 3, 4).toDF("k")
    val b = Seq(3, 4, 5).toDF("k")
    val rows = Profile.setAnalyseKeys(a, b, "k", maxKeysPerCategory = 2)
      .orderBy("category", "k").as[(String, Int)].collect().toSeq
    assert(rows == Seq(("a_only", 1), ("a_only", 2), ("b_only", 5), ("both", 3), ("both", 4)))
  }

  test("fitOneHot caps category collection") {
    val df = (1 to 50).map(i => s"cat_$i").toDF("c")
    intercept[IllegalArgumentException] {
      Encoding.fitOneHot(df, "c", maxCategories = 10)
    }
  }

  test("fitLabelEncoding caps category count like fitOneHot") {
    val df = (1 to 50).map(i => s"cat_$i").toDF("c")
    val e = intercept[IllegalArgumentException] {
      Encoding.fitLabelEncoding(df, "c", maxCategories = 10)
    }
    assert(e.getMessage.contains("more than 10 distinct categories"))
    // under the cap: most-frequent gets index 0
    val small = (Seq.fill(3)("x") ++ Seq.fill(2)("y") ++ Seq("z")).toDF("c")
    val idx = Encoding.fitLabelEncoding(small, "c")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(idx == Map("x" -> 0, "y" -> 1, "z" -> 2))
    // numeric categories keep their type and NUMERIC tie order (a string
    // cast would order "10" < "2")
    val nums = Seq(10L, 10L, 2L, 2L).toDF("c")
    val m = Encoding.fitLabelEncoding(nums, "c")
    assert(m.schema("c").dataType == org.apache.spark.sql.types.LongType)
    val numIdx = m.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(numIdx == Map(2L -> 0, 10L -> 1))
  }

  test("frequency encoding reaches the null category's learned share") {
    val train = Seq(Some("a"), None, None).toDF("c")
    val m = Encoding.fitFrequencyEncoder(train, "c")
    val out = m.transform(Seq(Some("a"), None).toDF("c"))
      .orderBy(asc_nulls_first("c")).select("c_freq").as[Double].collect().toSeq
    assert(math.abs(out(0) - 2.0 / 3.0) < 1e-9, s"null share: ${out(0)}")
    assert(math.abs(out(1) - 1.0 / 3.0) < 1e-9)
  }

  test("approx distinct count (production path) stays within HLL tolerance of exact") {
    val df = spark.range(200000).select((col("id") % 9973).as("x"))
    val row = df.agg(
      countDistinct(col("x")).as("e"),
      approx_count_distinct(col("x")).as("a")).head()
    val (e, a) = (row.getLong(0), row.getLong(1))
    assert(math.abs(a - e).toDouble / e <= 0.1, s"approx $a vs exact $e")
  }

  test("approx percentile (production path) stays within tolerance of exact") {
    // the oracle only ever checks the exact twin (Support.oracleMode); this
    // is the correctness signal for the sketch the bench/production run.
    // 200k skewed values: n >> the default 10k accuracy so the sketch is
    // genuinely approximate here.
    val df = spark.range(200000)
      .select((col("id") % 1000 + (col("id") % 7) * (col("id") % 13)).cast("double").as("x"))
    val probes = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
    val row = df.agg(
      Exprs.pctArray(col("x"), probes, exact = true).as("e"),
      Exprs.pctArray(col("x"), probes, exact = false).as("a"),
      (max(col("x")) - min(col("x"))).as("range")).head()
    val ex = row.getSeq[Double](0)
    val ap = row.getSeq[Double](1)
    val range = row.getDouble(2)
    probes.indices.foreach { i =>
      assert(math.abs(ex(i) - ap(i)) <= 0.01 * range,
        s"p=${probes(i)}: approx ${ap(i)} vs exact ${ex(i)} beyond 1% of range $range")
    }
  }

  test("q1_agg pushes the shipdate filter to the scan and prunes columns") {
    val df = graft.queries.RelationalQueries.queries("q1_agg")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"shipdate filter must reach the parquet scan:\n${plan.take(2000)}")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      s"scan must prune unused columns, got $readSchema")
  }

  test("e1 merge aggregates each event source exactly once (no double-scan)") {
    // the old keys-only `common` frame referenced every aggregate twice and
    // Catalyst recomputed each source's filter+shuffle+agg: 6 event scans
    val plan = graft.queries.PipelineQueries
      .e1(spark, "/root/testdata/sf0.001")
      .queryExecution.optimizedPlan
    val eventScans = plan.collectLeaves().count(_.output.exists(_.name == "event_type"))
    assert(eventScans == 3, s"expected 3 event-source scans (one per type), got $eventScans")
  }

  test("multiclass summary: hand-computed per-class precision/recall/f1") {
    // labels: 0,0,1,1,2 — preds: 0,1,1,1,0
    val df = Seq((0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 1.0), (2.0, 0.0))
      .toDF("y", "pred")
    val m = Metrics.multiclassSummary(df, "pred", "y")
      .collect().map(r => r.getDouble(0) ->
        (r.getLong(1), Option(r.getAs[java.lang.Double]("precision")),
          Option(r.getAs[java.lang.Double]("recall")))).toMap
    // class 0: support 2, predicted 2, tp 1 → p=0.5 r=0.5
    assert(m(0.0) == ((2L, Some(0.5: java.lang.Double), Some(0.5: java.lang.Double))))
    // class 1: support 2, predicted 3, tp 2 → p=2/3 r=1.0
    assert(m(1.0)._1 == 2L && math.abs(m(1.0)._2.get - 2.0 / 3).toDouble < 1e-6 && m(1.0)._3.get == 1.0)
    // class 2: support 1, predicted 0, tp 0 → precision null, recall 0
    assert(m(2.0)._1 == 1L && m(2.0)._2.isEmpty && m(2.0)._3.get == 0.0)
  }

  test("thresholdMetrics equals per-threshold single computation") {
    val df = Seq((0.9, 1.0), (0.8, 0.0), (0.6, 1.0), (0.3, 1.0), (0.1, 0.0)).toDF("score", "label")
    val multi = Metrics.thresholdMetrics(df, "score", "label", Seq(0.5))
      .select("tp", "fp", "tn", "fn").head()
    val single = Metrics.binaryMetricsAtThreshold(df, "score", "label", 0.5)
      .select("tp", "fp", "tn", "fn").head()
    assert(multi == single)
  }

  test("asofJoinBackward: latest at-or-before match, inclusive ties, null before first") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000)
    val probe = Seq(
      (1L, ts(5), "p5"), (1L, ts(10), "p10"), (1L, ts(20), "p20"),
      (2L, ts(100), "q100")).toDF("k", "t", "tag")
    val ref = Seq(
      (1L, ts(10), 1.0),  // equal ts — must be visible to probe@10 (inclusive)
      (1L, ts(12), 2.0),
      (3L, ts(1), 9.0)).toDF("k", "t", "v") // key with no probes
    val out = graft.dp.Temporal
      .asofJoinBackward(probe, ref, Seq("k"), "t", "t", Seq("v"))
      .collect().map(r => r.getAs[String]("tag") ->
        (Option(r.getAs[java.lang.Double]("asof_v")),
          Option(r.getAs[Timestamp]("asof_t")).map(_.getTime / 1000))).toMap
    assert(out("p5") == ((None, None)))              // before any ref
    assert(out("p10") == ((Some(1.0: java.lang.Double), Some(10L)))) // inclusive tie
    assert(out("p20") == ((Some(2.0: java.lang.Double), Some(12L)))) // latest prior
    assert(out("q100") == ((None, None)))            // key with no ref rows
    assert(out.size == 4)                            // all probe rows survive
  }

  test("asofJoinBackward: null-timestamp reference rows are never phantom matches") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000)
    val probe = Seq((1L, ts(5), "p5")).toDF("k", "t", "tag")
    val ref = Seq(
      (1L, Option.empty[Timestamp], 7.0), // would sort NULLS FIRST as "earliest"
      (1L, Some(ts(10)), 1.0)).toDF("k", "t", "v")
    val row = graft.dp.Temporal
      .asofJoinBackward(probe, ref, Seq("k"), "t", "t", Seq("v")).head()
    assert(row.getAs[java.lang.Double]("asof_v") == null,
      "probe before any real reference must get null, not the null-ts row's value")
  }

  test("asofJoinBackward: a matched row's null VALUE is kept, not skipped over") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000)
    val probe = Seq((1L, ts(30), "p")).toDF("k", "t", "tag")
    val ref = Seq(
      (1L, ts(10), Some(7.0)),
      (1L, ts(20), Option.empty[Double])).toDF("k", "t", "v")
    val row = graft.dp.Temporal
      .asofJoinBackward(probe, ref, Seq("k"), "t", "t", Seq("v")).head()
    // the ts-20 row matches; its null v must NOT fall through to 7.0
    assert(row.getAs[Timestamp]("asof_t").getTime / 1000 == 20L)
    assert(row.getAs[java.lang.Double]("asof_v") == null)
  }

  test("asofJoinForward: earliest at-or-after match, inclusive ties") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000)
    val probe = Seq(
      (1L, ts(5), "p5"), (1L, ts(12), "p12"), (1L, ts(50), "p50")).toDF("k", "t", "tag")
    val ref = Seq((1L, ts(10), 1.0), (1L, ts(12), 2.0)).toDF("k", "t", "v")
    val out = graft.dp.Temporal
      .asofJoinForward(probe, ref, Seq("k"), "t", "t", Seq("v"))
      .collect().map(r => r.getAs[String]("tag") ->
        Option(r.getAs[java.lang.Double]("asof_v"))).toMap
    assert(out("p5") == Some(1.0: java.lang.Double))   // next ref at 10
    assert(out("p12") == Some(2.0: java.lang.Double))  // inclusive equal ts
    assert(out("p50") == None)                         // nothing after
  }

  test("asofJoin: null-timestamp PROBE rows get null matches, not phantoms") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000)
    // under the forward (desc) window a null probe ts sorts NULLS LAST and
    // would otherwise see every reference row as "preceding"
    val probe = Seq(
      (1L, Option.empty[Timestamp], "pnull"),
      (1L, Some(ts(5)), "p5")).toDF("k", "t", "tag")
    val ref = Seq((1L, ts(10), 1.0), (1L, ts(20), 2.0)).toDF("k", "t", "v")
    for (dir <- Seq("fwd", "bwd")) {
      val joined =
        if (dir == "fwd")
          graft.dp.Temporal.asofJoinForward(probe, ref, Seq("k"), "t", "t", Seq("v"))
        else
          graft.dp.Temporal.asofJoinBackward(probe, ref, Seq("k"), "t", "t", Seq("v"))
      val out = joined.collect().map(r => r.getAs[String]("tag") ->
        (Option(r.getAs[java.lang.Double]("asof_v")),
          Option(r.getAs[Timestamp]("asof_t")))).toMap
      assert(out("pnull") == ((None, None)), s"$dir: null probe ts must match nothing")
      assert(out.size == 2, s"$dir: null-ts probe row must survive")
    }
  }

  test("topKPerKey matches the row_number window formulation, ties and all") {
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 500).map(i => (i % 7L, i % 13, i.toLong)).toDF("k", "v", "id")
    val viaAgg = graft.dp.TopK.topKPerKey(df, Seq("k"), Seq("v", "id"), 4)
      .select("k", "rank", "v", "id").collect().map(_.toSeq).toSet
    val viaWindow = df
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("v").desc, col("id").desc)).cast("int"))
      .filter(col("rank") <= 4)
      .select("k", "rank", "v", "id").collect().map(_.toSeq).toSet
    assert(viaAgg == viaWindow)
  }

  test("topKPerKey: k past the group size returns the whole group; nulls rank last") {
    val df = Seq(
      (1L, Some(5), "a"), (1L, None, "b"), (1L, Some(9), "c"),
      (2L, Some(1), "d")).toDF("k", "v", "tag")
    val out = graft.dp.TopK.topKPerKey(df, Seq("k"), Seq("v"), 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getAs[String]("tag")))
    assert(out.toSet == Set((1L, 1, "c"), (1L, 2, "a"), (1L, 3, "b"), (2L, 1, "d")),
      s"null v must sort below real values: ${out.mkString(",")}")
  }

  test("topKPerKey plan: partial (map-side) aggregation before the exchange") {
    val df = (1 to 100).map(i => (i % 5L, i)).toDF("k", "v")
    val plan = graft.dp.TopK.topKPerKey(df, Seq("k"), Seq("v"), 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_top_k"),
      s"the heap must reduce map partitions before the shuffle:\n$plan")
  }

  test("topKPerKeyDirectional: mixed score-DESC token-ASC matches the window, string ties and all") {
    import org.apache.spark.sql.expressions.Window
    // deliberate score collisions (i % 9) so the ascending string tiebreak decides ranks
    val df = (1 to 400)
      .map(i => (i % 7L, (i % 9).toDouble, f"tok${i % 23}%02d"))
      .toDF("k", "score", "token")
      .distinct()
    val viaAgg = graft.dp.TopK
      .topKPerKeyDirectional(df, Seq("k"), Seq("score" -> false, "token" -> true), 5)
      .select("k", "rank", "score", "token").collect().map(_.toSeq).toSet
    val viaWindow = df
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("score").desc, col("token").asc)).cast("int"))
      .filter(col("rank") <= 5)
      .select("k", "rank", "score", "token").collect().map(_.toSeq).toSet
    assert(viaAgg == viaWindow)
  }

  test("topKPerKeyDirectional: nulls rank last in ascending-result fields too") {
    val df = Seq(
      (1L, Some("b"), 10), (1L, None, 20), (1L, Some("a"), 30),
      (2L, None, 40)).toDF("k", "t", "payload")
    val out = graft.dp.TopK.topKPerKeyDirectional(df, Seq("k"), Seq("t" -> true), 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getAs[String]("t")))
    assert(out.toSet == Set((1L, 1, "a"), (1L, 2, "b"), (1L, 3, null), (2L, 1, null)),
      s"null t must rank below real values even ascending: ${out.mkString(",")}")
  }

  test("tfidf/bm25 top terms: bounded-heap plan — no Window, partial top-k before the exchange") {
    val docs = (1 to 40)
      .map(i => (i.toLong, s"alpha beta w$i w${i % 3} gamma${i % 5} delta"))
      .toDF("id", "text")
    for (
      plan <- Seq(
        graft.text.TextAnalysis.tfidfTopTerms(docs, "id", "text", k = 3),
        graft.text.TextAnalysis.bm25TopTerms(docs, "id", "text", k = 3))
        .map(_.queryExecution.executedPlan.toString)
    ) {
      assert(!plan.contains("Window"),
        s"per-doc top-k must not shuffle the scored frame through a window:\n$plan")
      assert(plan.contains("partial_graft_top_k"),
        s"the heap must reduce map partitions before the shuffle:\n$plan")
    }
  }

  test("gopherRules: hand-computed rule values and verdicts") {
    val docs = Seq(
      // 5 lines, 4 bullets -> bullet_frac 0.8; has required stopwords
      (1L, "\u2022 alpha\n\u2022 beta\n\u2022 gamma\n- delta\nthe plain line with of and that have"),
      // letterless: alpha_word_frac 0, req stops 0
      (2L, "111 222 333 444"),
      // prose-ish, passes everything but the word-count floor at min 20
      (3L, "the cat sat on the mat and that was that to be with it have some of")
    ).toDF("doc_id", "text")
    val out = graft.text.TextAnalysis.gopherRules(docs, "doc_id", "text", minWords = 5)
      .collect().map(r => r.getLong(0) -> r).toMap
    val d1 = out(1L)
    assert(d1.getAs[Long]("n_words") === 16) // bullets and dashes are whitespace-split tokens too
    assert(d1.getAs[Double]("bullet_frac") === 0.8)
    assert(d1.getAs[Long]("req_stop_hits") === 6)
    val d2 = out(2L)
    assert(d2.getAs[Double]("alpha_word_frac") === 0.0)
    assert(d2.getAs[Boolean]("gopher_pass") === false)
    val d3 = out(3L)
    assert(d3.getAs[Double]("alpha_word_frac") === 1.0)
    assert(d3.getAs[Boolean]("gopher_pass") === true, d3.toString)
    // empty text: measured values null, verdict FALSE (not null)
    val empty = graft.text.TextAnalysis.gopherRules(
        Seq((9L, "")).toDF("doc_id", "text"), "doc_id", "text")
      .head()
    assert(empty.isNullAt(empty.fieldIndex("mean_word_len")))
    assert(empty.getAs[Boolean]("gopher_pass") === false)
  }

  test("tokenizerFertility: hand-computed totals; BPE saturates a closed vocab") {
    // hand-built encoded frame: totals and ratios are pure arithmetic
    val enc = Seq(
      ("en", "ab cd", 3),   // 2 words, 4 chars, 4 bytes, 3 tokens
      ("en", "efg", 1),     // 1 word, 3 chars
      ("de", "héllo", 2)    // 1 word, 5 chars, 6 BYTES (é is 2)
    ).toDF("lang", "text", "n_tokens")
    val out = graft.text.TextAnalysis
      .tokenizerFertility(enc, "text", Some("lang"))
      .collect().map(r => r.getString(0) -> r).toMap
    val en = out("en")
    assert(en.getAs[Long]("n_docs") === 2)
    assert(en.getAs[Long]("total_words") === 3)
    assert(en.getAs[Long]("total_tokens") === 4)
    assert(en.getAs[Long]("total_chars") === 7)
    assert(en.getAs[Long]("total_bytes") === 7)
    assert(en.getAs[Double]("fertility") === 1.333333)
    assert(en.getAs[Double]("bytes_per_token") === 1.75)
    val de = out("de")
    assert(de.getAs[Long]("total_chars") === 5)
    assert(de.getAs[Long]("total_bytes") === 6)
    assert(de.getAs[Double]("fertility") === 2.0)
    // enough merges saturate a closed vocabulary: fertility hits the
    // 1.0 floor (the invariant the tokenizer_fertility oracle pins)
    val corpus = Seq.fill(20)("alpha beta gamma alpha beta").toDF("text")
    val (m, v) = graft.text.Bpe.trainArtifacts(corpus, "text", numMerges = 50)
    val sat = graft.text.TextAnalysis.tokenizerFertility(
      graft.text.Bpe.encodeIds(corpus, "text", m, v), "text").head()
    assert(sat.getAs[Double]("fertility") === 1.0, sat.toString)
    assert(sat.getAs[String]("scope") === "all")
  }

  test("gopherRepetition: hand-computed duplicate and n-gram fractions") {
    val docs = Seq(
      // tokens [aa,bb]x3, tc=12: "aa bb" occurs 3x covering 12 chars -> 1.0
      (1L, "aa bb aa bb aa bb"),
      // lines "x y" x2 + "z z z": dup_line 1/3, dup chars 3/11;
      // 2-grams: "x y"x2, "z z"x2 tie on count, glen 2 -> top2 4/7
      (2L, "x y\nx y\nz z z"),
      // two identical paragraphs (blank-line separated)
      (3L, "para one here\n\npara one here"),
      (4L, "")
    ).toDF("doc_id", "text")
    val out = graft.text.TextAnalysis.gopherRepetition(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val d1 = out(1L)
    assert(d1.getAs[Double]("top_2gram_char_frac") === 1.0)
    assert(d1.getAs[Double]("dup_line_frac") === 0.0)
    assert(d1.getAs[Boolean]("gopher_rep_pass") === false)
    val d2 = out(2L)
    assert(d2.getAs[Double]("dup_line_frac") === 0.333333)
    assert(d2.getAs[Double]("dup_line_char_frac") === 0.272727)
    assert(d2.getAs[Double]("top_2gram_char_frac") === 0.571429)
    assert(d2.getAs[Double]("dup_para_frac") === 0.0)
    val d3 = out(3L)
    assert(d3.getAs[Double]("dup_para_frac") === 0.5)
    assert(d3.getAs[Double]("dup_para_char_frac") === 0.5)
    // the same line text twice, blank-separated: lines are dups too
    assert(d3.getAs[Double]("dup_line_frac") === 0.5)
    assert(d3.getAs[Boolean]("gopher_rep_pass") === false)
    // empty text: unscorable -> fractions null, verdict FALSE not null
    val d4 = out(4L)
    assert(d4.isNullAt(d4.fieldIndex("dup_line_frac")))
    assert(d4.getAs[Boolean]("gopher_rep_pass") === false)
    // clean long-ish prose passes every ceiling
    val clean = graft.text.TextAnalysis.gopherRepetition(
      Seq((9L, ("unique" +: (1 to 60).map(i => s"word$i word${i}x maybe$i")).mkString(" ")))
        .toDF("doc_id", "text"), "doc_id", "text").head()
    assert(clean.getAs[Boolean]("gopher_rep_pass") === true, clean.toString)
  }

  test("c4Rules: hand-computed line filter and page gates") {
    val docs = Seq(
      // clean five-sentence page: every line survives, page passes
      (1L, "The first sentence of the page lands cleanly here.\nThe second one follows it with care.\nA third sentence arrives on time.\nThe fourth one keeps the page going!\nDoes the fifth one close it out?"),
      // code page: brace gate trips; brace lines also fail the line filter
      (2L, "function f() {\nreturn the value of it all.\n}"),
      // javascript line and a one-word line drop; one sentence is not five
      (3L, "Please enable JavaScript to view this page.\nOK.\nthe real sentence survives here."),
      // policy-word page
      (4L, "badword1 shows up right here.\nEvery other sentence is fine and long."),
      // empty text: no lines, no sentences, fails
      (5L, "")
    ).toDF("doc_id", "text")
    val out = graft.text.TextAnalysis
      .c4Rules(docs, "doc_id", "text", badWords = Seq("badword1"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val d1 = out(1L)
    assert(d1.getAs[Long]("n_lines") === 5)
    assert(d1.getAs[Long]("n_kept_lines") === 5)
    assert(d1.getAs[Long]("n_sentences") === 5)
    assert(d1.getAs[Boolean]("c4_pass") === true, d1.toString)
    // every line survives, so the cleaned text is the original text
    assert(d1.getAs[String]("text_clean") ===
      "The first sentence of the page lands cleanly here.\nThe second one follows it with care.\nA third sentence arrives on time.\nThe fourth one keeps the page going!\nDoes the fifth one close it out?")
    val d2 = out(2L)
    assert(d2.getAs[Boolean]("has_brace") === true)
    assert(d2.getAs[Long]("n_kept_lines") === 1)
    assert(d2.getAs[String]("text_clean") === "return the value of it all.")
    assert(d2.getAs[Boolean]("c4_pass") === false)
    val d3 = out(3L)
    assert(d3.getAs[Long]("n_lines") === 3)
    assert(d3.getAs[Long]("n_kept_lines") === 1)
    assert(d3.getAs[Long]("n_sentences") === 1)
    assert(d3.getAs[String]("text_clean") === "the real sentence survives here.")
    assert(d3.getAs[Boolean]("c4_pass") === false)
    val d4 = out(4L)
    assert(d4.getAs[Long]("bad_word_hits") === 1)
    assert(d4.getAs[Boolean]("c4_pass") === false)
    val d5 = out(5L)
    assert(d5.getAs[Long]("n_lines") === 0)
    assert(d5.getAs[Long]("n_sentences") === 0)
    assert(d5.getAs[String]("text_clean") === "")
    assert(d5.getAs[Boolean]("c4_pass") === false)
  }

  test("perplexityBuckets: reference-like docs land in head, junk in tail") {
    val ref = Seq.tabulate(20)(i => (1000L + i, "the cat sat on the mat"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "the cat sat on the mat"),   // every 5-gram known -> lowest ppl
      (2L, "the cat sat on the zz"),    // one known 5-gram, one floored -> middle
      (3L, "zz qq ww rr tt yy"),        // all backoff -> highest ppl
      (4L, "too short")                 // < 5 tokens: unscorable, absent
    ).toDF("doc_id", "text")
    val out = graft.text.TextAnalysis.perplexityBuckets(
        ref, docs, "doc_id", "text", exact = true)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L).getAs[String]("ppl_bucket") === "head")
    assert(out(2L).getAs[String]("ppl_bucket") === "middle")
    assert(out(3L).getAs[String]("ppl_bucket") === "tail")
    assert(out(1L).getAs[Double]("perplexity") <
      out(2L).getAs[Double]("perplexity"))
    assert(out(2L).getAs[Double]("perplexity") <
      out(3L).getAs[Double]("perplexity"))
    // grouped form: one tercile split per group key
    val grouped = graft.text.TextAnalysis.perplexityBuckets(
        ref,
        docs.filter(col("doc_id") < 4)
          .withColumn("lang", concat(lit("g"), col("doc_id") % 2)),
        "doc_id", "text", groupCol = Some("lang"), exact = true)
      .collect()
    assert(grouped.length === 3)
    grouped.foreach(r => assert(r.schema.fieldNames.contains("lang")))
  }

  test("bloom semiJoin equals the plain left-semi join") {
    val fact = (1 to 2000).map(i => (i.toLong % 600, i)).toDF("fk", "payload")
    val dim = (1 to 100).map(i => (i * 3L, s"d$i")).toDF("dk", "name")
    val expected = fact.join(dim, col("fk") === col("dk"), "left_semi")
      .collect().map(_.toSeq).toSet
    val got = graft.dp.BloomJoin.semiJoin(fact, dim, "fk", "dk", expectedItems = 1000L)
      .collect().map(_.toSeq).toSet
    assert(got == expected)
  }

  test("bloom semiJoin works when fact and dim share the key name") {
    val fact = (1 to 100).map(i => (i.toLong, i)).toDF("id", "payload")
    val dim = (1 to 10).map(i => (i * 5L, i)).toDF("id", "x")
    val got = graft.dp.BloomJoin.semiJoin(fact, dim, "id", "id", expectedItems = 100L)
      .select("id").as[Long].collect().toSet
    assert(got == (1 to 10).map(_ * 5L).toSet)
  }

  test("bloom prefilter keeps every true match (no false negatives by contract)") {
    val fact = (1 to 5000).map(i => (i.toLong, i)).toDF("fk", "payload")
    val dim = (1 to 50).map(i => (i * 7L, i)).toDF("dk", "x")
    val pre = graft.dp.BloomJoin.prefilter(fact, dim, "fk", "dk", 1000L, 0.01)
      .select("fk").as[Long].collect().toSet
    val truth = (1 to 50).map(_ * 7L).toSet
    assert(truth.subsetOf(pre), s"missing: ${truth -- pre}")
    // and it actually prunes: 1% fpp over 4950 non-matches leaves ~50 FPs
    assert(pre.size < 500, s"bloom should prune most non-matches, kept ${pre.size}")
  }

  test("fuzzy pairs: substitution/insertion/deletion found, transposition and d=2 excluded") {
    val df = Seq(
      (1L, "graphite"),  // base
      (2L, "graphXte"),  // substitution  -> d=1
      (3L, "graphiteX"), // insertion     -> d=1
      (4L, "graphit"),   // deletion      -> d=1
      (5L, "grapihte"),  // transposition -> d=2, must be excluded
      (6L, "graXhXte"),  // two subs      -> d=2, must be excluded
      (7L, "zzz")).toDF("id", "s")
    val pairs = graft.dedup.Fuzzy.fuzzyPairsD1(df, "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.intersect(Set((1L, 2L), (1L, 3L), (1L, 4L))) == Set((1L, 2L), (1L, 3L), (1L, 4L)))
    assert(!pairs.contains((1L, 5L)) && !pairs.contains((1L, 6L)), s"d=2 pair leaked: $pairs")
    // deletion-of-deletion: 3 vs 4 differ by two chars -> excluded
    assert(!pairs.contains((3L, 4L)))
  }

  test("fuzzy deletionKeys: empty and 1-char strings stay well-defined") {
    val keys = Seq(("", 0L), ("a", 1L)).toDF("s", "id")
      .select(col("id"), graft.dedup.Fuzzy.deletionKeys(col("s")).as("ks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(keys(0L) == Set(""))
    assert(keys(1L) == Set("a", ""))
  }

  test("temporal split: no future rows in train, split point at the fraction") {
    import graft.sampling.Sampling
    val df = (1 to 100).map(i => (i.toLong, i * 10L)).toDF("id", "t")
    val (train, test) = Sampling.temporalSplit(df, "t", 0.8, exact = true)
    val maxTrain = train.agg(max("t")).head().getLong(0)
    val minTest = test.agg(min("t")).head().getLong(0)
    assert(maxTrain < minTest, "every train row must precede every test row")
    val nTrain = train.count()
    assert(nTrain >= 79L && nTrain <= 81L, s"expected ~80 train rows, got $nTrain")
  }

  test("robust scaler: median maps to 0, IQR to unit span, outlier-insensitive") {
    import graft.features.Scaling
    val base = (1 to 99).map(_.toDouble)
    val withOutlier = base :+ 1e9 // one wild value
    val m = Scaling.fitRobust(withOutlier.toDF("x"), Seq("x"), exact = true)
    val (med, iqr) = m.stats("x")
    assert(med == 50.5 && iqr == 49.5, s"got ($med, $iqr)") // quartiles of 1..100 ranks
    val scaledMed = m.transform(Seq(50.5).toDF("x")).select("x_scaled").head().getDouble(0)
    assert(scaledMed == 0.0)
  }

  test("chi-square: known 2x2 contingency; independent feature scores 0") {
    import graft.features.ChiSquare
    val rows =
      Seq.fill(10)(("a", "hi")) ++ Seq.fill(20)(("a", "lo")) ++
        Seq.fill(20)(("b", "hi")) ++ Seq.fill(10)(("b", "lo"))
    val df = rows.toDF("f", "y").withColumn("indep", lit("const"))
    val m = ChiSquare.chiSquareTable(df, Seq("f", "indep"), "y")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getInt(2))).toMap
    // e = 15 everywhere; chi2 = 4 * 25/15 = 6.666667, dof = 1
    assert(m("f") == ((6.666667, 1)))
    assert(m("indep") == ((0.0, 0))) // single category: dof 0, chi2 0
  }

  test("chi-square: perfect association counts the empty grid cells") {
    import graft.features.ChiSquare
    // 'a' only ever with 'hi', 'b' only with 'lo': cells (a,lo) and
    // (b,hi) have o=0 but e=10 — dropping them would halve chi2
    val rows = Seq.fill(20)(("a", "hi")) ++ Seq.fill(20)(("b", "lo"))
    val r = ChiSquare.chiSquareTable(rows.toDF("f", "y"), Seq("f"), "y").head()
    assert(r.getDouble(1) == 40.0, s"perfect 2x2 association on n=40 must give chi2=n, got $r")
  }

  test("ks statistic: identical samples 0, disjoint samples 1") {
    val a = (1 to 100).map(_ / 100.0).toDF("score")
    val b = (1 to 100).map(_ / 100.0 + 10.0).toDF("score")
    assert(Metrics.ksStatistic(a, a, "score").head().getDouble(0) == 0.0)
    assert(Metrics.ksStatistic(a, b, "score").head().getDouble(0) == 1.0)
  }

  test("ks statistic: an empty side fails loudly instead of returning null") {
    val a = (1 to 10).map(_ / 10.0).toDF("score")
    val empty = a.filter(col("score") > 99.0)
    val allNull = a.select(lit(null).cast("double").as("score"))
    for (bad <- Seq(empty, allNull)) {
      val e = intercept[Exception](Metrics.ksStatistic(a, bad, "score").head())
      assert(e.getMessage.contains("ksStatistic"), e.getMessage)
      val e2 = intercept[Exception](Metrics.ksStatistic(bad, a, "score").head())
      assert(e2.getMessage.contains("ksStatistic"), e2.getMessage)
    }
    val e3 = intercept[Exception](Metrics.ksStatistic(empty, empty, "score").head())
    assert(e3.getMessage.contains("ksStatistic"), e3.getMessage)
  }

  test("isotonic calibration: PAVA pools violators, apply matches spark.ml transform") {
    // classic violator: rank order 0,1,0,1 — the middle pair pools to 0.5
    val scored = Seq((0.1, 0.0), (0.2, 1.0), (0.3, 0.0), (0.4, 1.0)).toDF("score", "label")
    val (model, mapping) = Metrics.fitIsotonicCalibration(scored, "score", "label")
    val calibrated = Metrics.applyCalibration(scored, "score", mapping)
      .orderBy("score").select("calibrated").collect().map(_.getDouble(0)).toSeq
    // monotone non-decreasing, ends at the label extremes
    assert(calibrated == calibrated.sorted, s"not monotone: $calibrated")
    assert(calibrated.head == 0.0 && calibrated.last == 1.0, s"$calibrated")
    assert(calibrated(1) == 0.5 && calibrated(2) == 0.5, s"pooled pair: $calibrated")
    // the expression-based apply agrees with spark.ml's own transform on
    // a dense score grid (the contract applyCalibration claims)
    val grid = (0 to 100).map(_ / 100.0 * 0.5).toDF("score")
    val viaExpr = Metrics.applyCalibration(grid, "score", mapping)
      .orderBy("score").select("calibrated").collect().map(_.getDouble(0))
    val viaModel = model.transform(
        grid.select(col("score"), col("score").cast("double").as("__score")))
      .orderBy("score").select("prediction").collect()
      .map(r => math.rint(r.getDouble(0) * 1e6) / 1e6)
    viaExpr.zip(viaModel).zipWithIndex.foreach { case ((a, b), i) =>
      assert(math.abs(a - b) <= 1e-6, s"grid point $i: expr=$a model=$b")
    }
    // null / NaN scores fail loudly (same discipline as calibrationTable)
    Seq(Seq((Option.empty[Double], 0.0)), Seq((Some(Double.NaN), 0.0))).foreach { bad =>
      val e = intercept[Exception](
        Metrics.applyCalibration(bad.toDF("score", "label"), "score", mapping).collect())
      assert(e.getMessage.contains("applyCalibration"), e.getMessage)
    }
    // calibration improves Brier on a systematically miscalibrated set
    val skewed = (1 to 400).map { i =>
      val p = i / 400.0
      (math.pow(p, 3.0), if (i % 400 < p * 400) 1.0 else 0.0) // scores too low
    }.toDF("score", "label")
    val (_, m2) = Metrics.fitIsotonicCalibration(skewed, "score", "label")
    val withCal = Metrics.applyCalibration(skewed, "score", m2)
    val brier = withCal.agg(
        avg(pow(col("score") - col("label"), 2)).as("raw"),
        avg(pow(col("calibrated") - col("label"), 2)).as("cal"))
      .head()
    assert(brier.getDouble(1) < brier.getDouble(0),
      s"calibrated Brier ${brier.getDouble(1)} not better than raw ${brier.getDouble(0)}")
  }

  test("per-group isotonic: opposite slice biases corrected, unseen groups null") {
    // group A: scores too low (cubed); group B: too high (cube root) — a
    // global map cannot fix both, per-group maps must
    val rows = (1 to 300).flatMap { i =>
      val p = i / 300.0
      val y = if (i % 2 == 0) 1.0 else 0.0 // alternate labels within rank
      Seq(("A", math.pow(p, 3.0), if (p > 0.5) 1.0 else 0.0),
          ("B", math.pow(p, 1.0 / 3.0), if (p > 0.5) 1.0 else 0.0))
    }
    val df = rows.toDF("seg", "score", "label")
    val mapping = Metrics.fitIsotonicCalibrationByGroup(df, "seg", "score", "label")
    assert(mapping.select("group").distinct().count() === 2)
    val out = Metrics.applyCalibrationByGroup(df, "seg", "score", mapping)
    val brier = out.groupBy("seg").agg(
        avg(pow(col("score") - col("label"), 2)).as("raw"),
        avg(pow(col("calibrated") - col("label"), 2)).as("cal"))
      .collect()
    brier.foreach { r =>
      assert(r.getDouble(2) < r.getDouble(1),
        s"segment ${r.getString(0)}: calibrated ${r.getDouble(2)} not < raw ${r.getDouble(1)}")
    }
    // a group absent from the mapping surfaces as null, not raw pass-through
    val withNew = df.union(Seq(("C", 0.5, 1.0)).toDF("seg", "score", "label"))
    val c = Metrics.applyCalibrationByGroup(withNew, "seg", "score", mapping)
      .filter(col("seg") === "C").select("calibrated").head()
    assert(c.isNullAt(0))
    // cardinality guard fails loudly
    val wide = (1 to 100).map(i => (s"g$i", 0.5, 1.0)).toDF("seg", "score", "label")
    val e = intercept[IllegalArgumentException](
      Metrics.fitIsotonicCalibrationByGroup(wide, "seg", "score", "label"))
    assert(e.getMessage.contains("groups"))
  }

  test("calibration table: edge scores clamp into the end bins, null fails loudly") {
    // float-noise excursions (-1e-9, 1+1e-7) must land in bins 0/9, never
    // fabricate a bucket outside [0, buckets-1]
    val noisy = Seq((-1e-9, 0.0), (1.0 + 1e-7, 1.0), (0.55, 1.0)).toDF("score", "label")
    val buckets = Metrics.calibrationTable(noisy, "score", "label")
      .collect().map(_.getInt(0)).toSeq
    assert(buckets == Seq(0, 5, 9), s"got $buckets")
    val withNull = Seq((Some(0.5), 1.0), (None, 0.0)).toDF("score", "label")
    val e = intercept[Exception](Metrics.calibrationTable(withNull, "score", "label").collect())
    assert(e.getMessage.contains("calibrationTable"), e.getMessage)
    // NaN passes isNotNull and floor(NaN) casts to 0 — it must fail too,
    // not silently inflate bin 0
    val withNaN = Seq((0.5, 1.0), (Double.NaN, 0.0)).toDF("score", "label")
    val e2 = intercept[Exception](Metrics.calibrationTable(withNaN, "score", "label").collect())
    assert(e2.getMessage.contains("calibrationTable"), e2.getMessage)
  }

  test("psi drift: identical frames score ~0, shifted feature dominates") {
    import graft.features.Drift
    val base = (1 to 400).map(i => (i % 100 * 1.0, i % 50 * 1.0)).toDF("a", "b")
    val same = Drift.psiTable(base, base, Seq("a", "b"), 5, exact = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(same.values.forall(math.abs(_) < 1e-9), s"self-PSI must be 0: $same")
    val shifted = base.withColumn("a", col("a") + 200.0) // everything lands in the top bucket
    val m = Drift.psiTable(base, shifted, Seq("a", "b"), 5, exact = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("a") > 0.25, s"shifted feature must flag actionable drift: $m")
    assert(math.abs(m("b")) < 1e-9, s"unshifted feature must stay stable: $m")
  }

  test("constraint checks: one pass, per-constraint violation counts") {
    import graft.profile.Constraints._
    val df = Seq(
      (Some(1L), Some(10.0), "a", "12-34"),
      (Some(2L), Some(200.0), "b", "56-78"),
      (Some(2L), None, "zzz", "not-a-phone"),
      (Option.empty[Long], Some(-5.0), "a", "90-12")).toDF("id", "bal", "seg", "phone")
    val out = check(df, Seq(
      NotNull("id"), Unique("id"), NotNull("bal"),
      InRange("bal", 0.0, 100.0), InSet("seg", Seq("a", "b")),
      MatchesRegex("phone", "[0-9-]+")))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(out(("not_null", "id")) == ((1L, false)))
    assert(out(("unique", "id")) == ((1L, false)))     // one dup pair (2, 2); single null not a dup
    assert(out(("not_null", "bal")) == ((1L, false)))
    assert(out(("in_range", "bal")) == ((2L, false)))  // 200.0 and -5.0
    assert(out(("in_set", "seg")) == ((1L, false)))    // zzz
    assert(out(("matches_regex", "phone")) == ((1L, false)))
    assert(out.size == 6)
  }

  test("tfidfTopTerms: corpus-wide tokens rank below distinctive ones") {
    val docs = Seq(
      (1L, "alpha common common"),
      (2L, "beta common"),
      (3L, "gamma common")).toDF("id", "text")
    val out = graft.text.TextAnalysis.tfidfTopTerms(docs, "id", "text", k = 2)
      .collect().groupBy(_.getAs[Long]("id"))
    // every doc's top term is its distinctive token, not 'common' (df = 3)
    val top = out.view.mapValues(_.minBy(_.getAs[Int]("rn")).getAs[String]("token")).toMap
    assert(top == Map(1L -> "alpha", 2L -> "beta", 3L -> "gamma"))
    // idf of a token present in every doc: ln(4/4) = 0 → tfidf 0 but still rankable
    val common = out(2L).find(_.getAs[String]("token") == "common").get
    assert(common.getAs[Double]("tfidf") == 0.0)
    assert(common.getAs[Long]("df") == 3L)
  }

  test("rankFeatures and adjacentFeatures: per-key windows agree on order") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000)
    val ev = Seq(
      (1L, ts(10), 5.0), (1L, ts(20), 3.0), (1L, ts(30), 8.0),
      (2L, ts(10), 1.0)).toDF("k", "t", "v")
    val adj = graft.pipeline.FeatureEngineering.adjacentFeatures(ev, "k", "t", "v")
      .filter(col("k") === 1 && col("ts_sec") === 20).head()
    assert(adj.getAs[Double]("prev_value") == 5.0)
    assert(adj.getAs[Double]("next_value") == 8.0)
    assert(adj.getAs[Long]("gap_sec") == 10L)
    val rk = graft.pipeline.FeatureEngineering.rankFeatures(ev, "k", "t", "v")
      .filter(col("k") === 1)
      .collect().map(r => r.getAs[Long]("ts_sec") -> r.getAs[Int]("rn")).toMap
    assert(rk == Map(10L -> 1, 20L -> 2, 30L -> 3))
  }

  test("decayedTotals: half-life weights, post-refDate rows excluded") {
    val df = Seq(
      (1L, "2024-01-15", 10.0), // age 0  -> weight 1
      (1L, "2024-01-08", 10.0), // age 7  -> weight 0.5 (one half-life)
      (1L, "2024-01-01", 8.0),  // age 14 -> weight 0.25
      (1L, "2024-01-20", 99.0), // after refDate -> excluded
      (2L, "2024-01-15", 4.0)).toDF("k", "d", "v")
    val out = graft.pipeline.FeatureEngineering
      .decayedTotals(df, "k", "d", "v", "2024-01-15", halfLifeDays = 7.0, "x")
      .collect().map(r => r.getAs[Long]("k") ->
        (r.getAs[Double]("decayed_x_value"), r.getAs[Long]("n_x_events"))).toMap
    assert(math.abs(out(1L)._1 - (10.0 + 5.0 + 2.0)) < 1e-6)
    assert(out(1L)._2 == 3L)
    assert(math.abs(out(2L)._1 - 4.0) < 1e-9)
  }

  test("funnelSteps: in-order completion only, nulls cascade") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000)
    val ev = Seq(
      // user 1: clean view -> click -> purchase
      (1L, ts(10), "view"), (1L, ts(20), "click"), (1L, ts(30), "purchase"),
      // user 2: clicks only BEFORE the first view -> click null
      (2L, ts(5), "click"), (2L, ts(8), "click"), (2L, ts(10), "view"),
      // user 3: purchase exists but no click -> purchase null despite purchase@15
      (3L, ts(10), "view"), (3L, ts(5), "purchase"), (3L, ts(15), "purchase"),
      // user 4: no view at all -> absent from the funnel
      (4L, ts(10), "click"), (4L, ts(20), "purchase")).toDF("k", "t", "e")
    val out = graft.pipeline.FeatureEngineering
      .funnelSteps(ev, "k", "t", "e", Seq("view", "click", "purchase"))
      .collect()
      .map(r => r.getAs[Long]("k") ->
        (Option(r.getAs[Any]("view_sec")), Option(r.getAs[Any]("click_sec")),
          Option(r.getAs[Any]("purchase_sec")))).toMap
    assert(out(1L) == ((Some(10L), Some(20L), Some(30L))))
    assert(out(2L) == ((Some(10L), None, None)))
    assert(out(3L) == ((Some(10L), None, None)))
    assert(!out.contains(4L))
  }

  test("keySkewProfile: share and skew factor on a known distribution") {
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("k")
    val out = graft.dp.SkewJoin.keySkewProfile(df, "k", topK = 2)
      .collect().map(r => r.getAs[String]("k") ->
        (r.getAs[Long]("n"), r.getAs[Double]("share"), r.getAs[Double]("skew_x")))
    assert(out.length == 2)
    assert(out(0) == (("a", (6L, 0.6, 1.8)))) // 6 of 10 rows, 3 keys -> 6*3/10
    assert(out(1) == (("b", (3L, 0.3, 0.9))))
  }

  test("CMS: merge equals recompute, never undercounts, unseen items read 0, param mismatch loud") {
    import graft.dp.IncrementalAgg._
    val all = (Seq.fill(100)("hot") ++ (1 to 50).map(i => s"item$i")).toDF("x")
    val b1 = all.filter($"x" === "hot")
    val b2 = all.filter($"x" =!= "hot")
    // tiny width forces collisions — the interesting regime
    val merged = cmsMerge(
      cmsState(b1, "x", width = 16, depth = 3),
      cmsState(b2, "x", width = 16, depth = 3))
    val scratch = cmsState(all, "x", width = 16, depth = 3)
    def counters(df: org.apache.spark.sql.DataFrame) =
      df.select("r", "slot", "cnt").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(counters(merged) === counters(scratch))
    // one-sided error: estimates never undercount; the hot item's
    // estimate is within the CMS bound of its true count
    val items = (Seq("hot", "item1", "item50", "NEVER_SEEN")).toDF("x")
    val est = cmsEstimate(scratch, items, "x")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("hot") >= 100L)
    assert(est("item1") >= 1L && est("item50") >= 1L)
    // an unseen item can only read collision mass — bounded by total count
    assert(est("NEVER_SEEN") >= 0L && est("NEVER_SEEN") <= 150L)
    // mismatched hash spaces must fail loudly, not merge garbage
    val e = intercept[IllegalArgumentException](
      cmsMerge(scratch, cmsState(all, "x", width = 32, depth = 3)))
    assert(e.getMessage.contains("mismatch"))
  }

  test("incremental agg state: merge of disjoint batches equals recompute") {
    import graft.dp.IncrementalAgg._
    val all = Seq(
      (1L, 2.5), (1L, -1.0), (1L, 7.25), (2L, 3.0), (3L, -4.5), (3L, 0.0))
      .toDF("k", "v")
    val b1 = all.filter(col("v") <= 0)
    val b2 = all.filter(col("v") > 0) // key 2 only in b2, key 3 only in b1
    val merged = mergeStates(aggState(b1, "k", "v"), aggState(b2, "k", "v"), "k")
      .select(col("k"), col("n"), col("sum_v").cast("double"), col("min_v"), col("max_v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1)
    val direct = aggState(all, "k", "v")
      .select(col("k"), col("n"), col("sum_v").cast("double"), col("min_v"), col("max_v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(merged.toSeq == direct.toSeq)
    // a second fold over an empty-overlap batch keeps the invariant
    val again = mergeStates(
      mergeStates(aggState(b1, "k", "v"), aggState(b2, "k", "v"), "k"),
      aggState(all.limit(0), "k", "v"), "k")
    assert(again.count() == 3)
  }

  test("cohortRetention: known retention triangle") {
    import java.sql.Timestamp
    // periodDays=1 with second-scale timestamps on distinct days
    def ts(day: Int) = new Timestamp(day * 86400L * 1000)
    val ev = Seq(
      (1L, ts(0)), (1L, ts(1)), (1L, ts(2)), // cohort 0, active offsets 0,1,2
      (2L, ts(0)), (2L, ts(2)),              // cohort 0, offsets 0,2
      (3L, ts(1)), (3L, ts(2))).toDF("k", "t") // cohort 1, offsets 0,1
    val out = graft.pipeline.FeatureEngineering.cohortRetention(ev, "k", "t", periodDays = 1)
      .collect()
      .map(r => (r.getAs[Long]("cohort_p"), r.getAs[Long]("period_offset")) ->
        (r.getAs[Long]("active_keys"), r.getAs[Long]("cohort_size"), r.getAs[Double]("retention")))
      .toMap
    assert(out((0L, 0L)) == ((2L, 2L, 1.0)))
    assert(out((0L, 1L)) == ((1L, 2L, 0.5)))
    assert(out((0L, 2L)) == ((2L, 2L, 1.0)))
    assert(out((1L, 0L)) == ((1L, 1L, 1.0)))
    assert(out((1L, 1L)) == ((1L, 1L, 1.0)))
    assert(out.size == 5)
  }

  test("hll distinct state: merged and from-scratch estimates within HLL error of exact") {
    import graft.dp.IncrementalAgg._
    val rows = (1 to 2000).map(i => (i % 3L, s"v${i % 500}"))
    val all = rows.toDF("k", "v")
    val b1 = all.filter(col("v") < "v3") // lexical split: disjoint batches
    val b2 = all.filter(col("v") >= "v3")
    val merged = estimateDistinct(
      mergeDistinctSketches(
        distinctSketch(b1, "k", "v"),
        distinctSketch(b2, "k", "v"), "k"), "k")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = estimateDistinct(distinctSketch(all, "k", "v"), "k")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = all.groupBy(col("k")).agg(countDistinct(col("v")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // sparse->dense promotion in the union means merged need not be
    // byte-identical to from-scratch; both must hit the HLL error bound
    for ((k, est) <- merged ++ scratch)
      assert(math.abs(est - exact(k)).toDouble / exact(k) < 0.05, s"key $k: est=$est exact=${exact(k)}")
    for ((k, est) <- merged)
      assert(math.abs(est - scratch(k)).toDouble / exact(k) < 0.02, s"key $k: merged=$est scratch=${scratch(k)}")
  }

  test("bm25TopTerms: tf saturates and long docs are length-normalized") {
    val docs = Seq(
      (1L, "alpha beta"),
      (2L, "alpha alpha alpha alpha alpha alpha alpha alpha beta"),
      (3L, "gamma " + Seq.fill(50)("filler").mkString(" "))).toDF("id", "text")
    val out = graft.text.TextAnalysis.bm25TopTerms(docs, "id", "text", k = 10)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("token")) -> r.getAs[Double]("bm25"))
      .toMap
    // saturation: 8x the tf must score well under 8x (k1=1.2 caps at 2.2x)
    assert(out((2L, "alpha")) < out((1L, "alpha")) * 2.2 + 1e-9)
    assert(out((2L, "alpha")) > out((1L, "alpha")))
    // length normalization: the same df=1 token scores lower in the 51-token
    // doc than a df=1 token in the 2-token doc
    assert(out((3L, "gamma")) < out((1L, "beta")))
    // every (doc, token) pair present exactly once with k wide open
    assert(out.size == 6) // {alpha,beta} x docs 1,2 + {gamma,filler} in doc 3
  }

  test("weightedSample: deterministic, exact at k>=n, biased toward heavy weights") {
    val df = (1 to 400).map(i => (i.toLong, if (i <= 200) 50.0 else 0.5)).toDF("id", "w")
    val s1 = Sampling.weightedSample(df, "w", k = 60, seed = 7)
      .collect().map(_.getAs[Long]("id")).toSet
    val s2 = Sampling.weightedSample(df, "w", k = 60, seed = 7)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(s1 == s2) // deterministic for a fixed seed
    assert(s1.size == 60)
    // 100:1 weights -> the heavy half dominates the sample
    assert(s1.count(_ <= 200) > 50, s"heavy rows in sample: ${s1.count(_ <= 200)}")
    // k >= n returns every positive-weight row; zero/negative weights excluded
    val withZero = df.withColumn("w", when(col("id") === 1, -1.0).otherwise(col("w")))
    assert(Sampling.weightedSample(withZero, "w", k = 1000, seed = 7).count() == 399)
    // per-stratum k
    val strat = Sampling.weightedSample(
      df.withColumn("g", (col("id") % 2).cast("int")), "w", k = 10, seed = 7,
      stratumCols = Seq("g"))
    assert(strat.groupBy(col("g")).count().collect().map(_.getLong(1)).toSeq == Seq(10L, 10L))
  }

  test("rebalanceExact: every class capped at min(cap, smallest class), deterministic") {
    val df = (1 to 300).map(i => (i.toLong, if (i <= 250) 0 else 1)).toDF("id", "y")
    // smallest class (50) < cap (80): both classes land at exactly 50
    val out = Sampling.rebalanceExact(df, "y", maxSampleSize = 80, idCol = "id", salt = "t")
    val sizes = out.groupBy(col("y")).count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes == Map(0 -> 50L, 1 -> 50L))
    // cap binds when smaller than every class
    val capped = Sampling.rebalanceExact(df, "y", maxSampleSize = 20, idCol = "id", salt = "t")
    assert(capped.groupBy(col("y")).count().collect().map(_.getLong(1)).toSeq == Seq(20L, 20L))
    // pure function of the data: identical rows across runs
    val a = out.collect().map(_.getAs[Long]("id")).toSet
    val b = Sampling.rebalanceExact(df, "y", maxSampleSize = 80, idCol = "id", salt = "t")
      .collect().map(_.getAs[Long]("id")).toSet
    assert(a == b)
    // continuous-label misuse trips the class cap loudly
    val cont = (1 to 300).map(i => (i.toLong, i.toDouble)).toDF("id", "y")
    intercept[IllegalArgumentException] {
      Sampling.rebalanceExact(cont, "y", maxSampleSize = 10, idCol = "id", salt = "t")
    }
  }

  test("applyCdc: compaction by seq, delete/update/insert semantics") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, "a1", "U", 1L), (1L, "a2", "U", 2L), // later seq wins
      (2L, null.asInstanceOf[String], "D", 1L), // delete
      (3L, "c9", "U", 1L), (3L, null.asInstanceOf[String], "D", 2L), // updated then deleted
      (4L, "d", "I", 1L)).toDF("k", "v", "op", "seq")
    val out = graft.io.Tables.applyCdc(base, changes, Seq("k"), "op", Some("seq"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a2", 4L -> "d"))
    // without seq: deterministic struct tie-break, never partition-dependent
    val noSeq = Seq((1L, "x", "U"), (1L, "y", "U")).toDF("k", "v", "op")
    val r1 = graft.io.Tables.applyCdc(base, noSeq, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(r1 == Map(1L -> "y", 2L -> "b", 3L -> "c")) // max struct: "y" > "x"
  }

  test("snapshotDiff: added/removed/changed/unchanged with after-image values") {
    val before = Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c")).toDF("k", "x", "s")
    val after = Seq((1L, 10.0, "a"), (2L, 25.0, "b"), (4L, 40.0, "d")).toDF("k", "x", "s")
    val out = graft.io.Tables.snapshotDiff(before, after, Seq("k"))
      .collect()
      .map(r => r.getAs[Long]("k") -> (r.getAs[Double]("x"), r.getAs[String]("diff_status")))
      .toMap
    assert(out(1L) == ((10.0, "unchanged")))
    assert(out(2L) == ((25.0, "changed"))) // after-image value
    assert(out(3L) == ((30.0, "removed")))
    assert(out(4L) == ((40.0, "added")))
    assert(out.size == 4)
  }

  test("buildScd2: intervals, no-op collapse, duplicate-ts compaction") {
    // key 1: v@0 a, v@5 b (update), v@9 b (NO-OP — must not split),
    //        v@12 twice (c vs d — struct-max picks d)
    // key 2: single version, open forever
    val log = Seq(
      (1L, 0L, "a"), (1L, 5L, "b"), (1L, 9L, "b"),
      (1L, 12L, "c"), (1L, 12L, "d"),
      (2L, 3L, "z")).toDF("k", "ts", "v")
    val out = graft.io.Tables.buildScd2(log, Seq("k"), "ts")
      .collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[Long]("valid_from"),
        Option(r.getAs[java.lang.Long]("valid_to")).map(_.toLong),
        r.getAs[Boolean]("is_current"))).toSet
    assert(out === Set(
      (1L, "a", 0L, Some(5L), false),
      (1L, "b", 5L, Some(12L), false), // the @9 no-op vanished into this row
      (1L, "d", 12L, None, true),      // duplicate-ts: "d" > "c" wins
      (2L, "z", 3L, None, true)))
  }

  test("applyScd2: incremental fold equals the from-scratch rebuild; out-of-order rejected") {
    val full = Seq(
      (1L, 0L, "a"), (1L, 5L, "b"), (1L, 9L, "b"), (1L, 12L, "c"),
      (2L, 3L, "z"), (3L, 11L, "n")).toDF("k", "ts", "v")
    val dim = graft.io.Tables.buildScd2(full.filter($"ts" <= 5), Seq("k"), "ts")
    val applied = graft.io.Tables
      .applyScd2(dim, full.filter($"ts" > 5), Seq("k"), "ts")
    val rebuilt = graft.io.Tables.buildScd2(full, Seq("k"), "ts")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"k", $"valid_from").collect().map(_.toString).toSeq
    assert(rows(applied) === rows(rebuilt))
    // a batch version at/before an affected key's open valid_from is an
    // out-of-order arrival — loud failure, not silent corruption. r21:
    // the guard is in-plan (raise_error riding the rebuild's own scan
    // instead of an eager validation job), so it surfaces at the action
    val late = Seq((1L, 5L, "q")).toDF("k", "ts", "v")
    val e = intercept[Exception](
      graft.io.Tables.applyScd2(rebuilt, late, Seq("k"), "ts").collect())
    assert(e.getMessage.contains("out-of-order"),
      s"expected the out-of-order rejection, got: ${e.getMessage}")
  }

  test("scd2FromSnapshots closes vanished keys; snapshotAt reads a point in time") {
    // key 1: present at 0 (a) and 10 (b), gone by 20 -> closed at 20
    // key 2: unchanged in all three snapshots -> one open interval from 0
    // key 3: first appears at 20 -> open from 20
    // key 4: present at 0, ABSENT at 10, back at 20 with the SAME attrs
    //        -> two intervals (the gap must not merge even though the
    //        no-op collapse would, within one presence run)
    val snaps = Seq(
      (1L, 0L, "a"), (1L, 10L, "b"),
      (2L, 0L, "z"), (2L, 10L, "z"), (2L, 20L, "z"),
      (3L, 20L, "n"),
      (4L, 0L, "x"), (4L, 20L, "x")).toDF("k", "ts", "v")
    val dim = graft.io.Tables.scd2FromSnapshots(snaps, Seq("k"), "ts")
    val rows = dim.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
      r.getAs[Long]("valid_from"),
      Option(r.getAs[java.lang.Long]("valid_to")).map(_.toLong),
      r.getAs[Boolean]("is_current"))).toSet
    assert(rows === Set(
      (1L, "a", 0L, Some(10L), false),
      (1L, "b", 10L, Some(20L), false), // deletion tombstone at 20
      (2L, "z", 0L, None, true),        // no-op re-observations collapsed
      (3L, "n", 20L, None, true),
      (4L, "x", 0L, Some(10L), false),  // closed at the gap
      (4L, "x", 20L, None, true)))      // reborn at 20
    // point-in-time: at t=15 key 1 is 'b', key 2 'z'; keys 3 and 4 absent
    val at15 = graft.io.Tables.snapshotAt(dim, lit(15L))
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(at15 === Map(1L -> "b", 2L -> "z"))
    // at t=25 key 1 is deleted, key 4 is back
    val at25 = graft.io.Tables.snapshotAt(dim, lit(25L))
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(at25 === Map(2L -> "z", 3L -> "n", 4L -> "x"))
  }

  test("scd2FromSnapshots keeps a non-integral ts type (timestamp) end to end") {
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2026-01-03 00:00:00")
    val snaps = Seq((1L, t0, "a"), (1L, t1, "a"), (2L, t0, "b"), (2L, t2, "b"))
      .toDF("k", "ts", "v")
    val dim = graft.io.Tables.scd2FromSnapshots(snaps, Seq("k"), "ts")
    assert(dim.schema("valid_from").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(dim.schema("valid_to").dataType ===
      org.apache.spark.sql.types.TimestampType)
    val rows = dim.collect().map(r => (r.getAs[Long]("k"),
      r.getAs[java.sql.Timestamp]("valid_from"),
      Option(r.getAs[java.sql.Timestamp]("valid_to")),
      r.getAs[Boolean]("is_current"))).toSet
    assert(rows === Set(
      (1L, t0, Some(t2), false), // vanished after t1 -> closed at t2
      (2L, t0, Some(t1), false), // gap at t1 -> closed there
      (2L, t2, None, true)))     // reborn at t2
  }

  test("zorderKey: matches a reference interleave; locality concentrates box queries") {
    import graft.io.Layout
    // reference bit-interleave in plain Scala
    def ref(xs: Seq[Long], bits: Int): Long =
      (for { i <- 0 until bits; (x, j) <- xs.zipWithIndex }
        yield ((x >> i) & 1L) << (i * xs.size + j)).sum
    val cases = Seq(Seq(0L, 0L), Seq(255L, 0L), Seq(0L, 255L),
      Seq(170L, 85L), Seq(123L, 201L))
    val got = cases.map { xs =>
      spark.range(1).select(
        Layout.zorderKey(xs.map(lit(_).cast("long")), 8)).head.getLong(0)
    }
    assert(got === cases.map(ref(_, 8)))
    // 2-D agreement with the mask-shift fast path (Tables.mortonCode):
    // below 2^16 the generalized interleave and the 32-bit Morton code
    // are the same key bit for bit
    val both = Seq((0L, 0L), (65535L, 1L), (12345L, 54321L)).toDF("a", "b")
      .select(
        Layout.zorderKey(Seq($"a", $"b"), 16).as("z1"),
        graft.io.Tables.mortonCode($"a", $"b").as("z2"))
      .collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // rangeBucket: clamp + null-to-zero
    val b = Seq(Some(-5.0), Some(0.0), Some(50.0), Some(100.0), Some(999.0), None)
      .toDF("x")
      .select(Layout.rangeBucket($"x", 0.0, 100.0, 8).as("b"))
      .collect().map(_.getLong(0)).toSeq
    assert(b(0) === 0L && b(1) === 0L && b(4) === 255L && b(5) === 0L)
    assert(b(2) === (50.0 / 100.0 * 255).floor.toLong)
    // locality: a (user, time) box over z-ordered files touches FEWER
    // files than over a time-sorted layout — the file-skipping win
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val ev = graft.queries.Support.events(spark, "/root/testdata/sf0.01")
      .select($"user_id".cast("double").as("u"),
        unix_timestamp($"ts").cast("double").as("tt"))
    val stats = ev.agg(min($"u"), max($"u"), min($"tt"), max($"tt")).head()
    val (uMin, uMax, tMin, tMax) =
      (stats.getDouble(0), stats.getDouble(1), stats.getDouble(2), stats.getDouble(3))
    Layout.writeZOrdered(ev, Seq(("u", uMin, uMax), ("tt", tMin, tMax)),
      s"$dir/z", nFiles = 16)
    ev.repartitionByRange(16, $"tt").sortWithinPartitions($"tt")
      .write.parquet(s"$dir/t")
    def filesTouched(path: String): Long = {
      val uMid = (uMin + uMax) / 2; val tMid = (tMin + tMax) / 2
      spark.read.parquet(path)
        .filter($"u" >= uMin && $"u" <= uMid && $"tt" >= tMin && $"tt" <= tMid)
        .select(input_file_name()).distinct().count()
    }
    val (zTouched, tTouched) = (filesTouched(s"$dir/z"), filesTouched(s"$dir/t"))
    assert(zTouched < tTouched,
      s"z-order box query touched $zTouched files vs time-sorted $tTouched")
  }

  test("corpusMixPlan: rates capped at 1, deficit flagged, unknown strata zeroed") {
    val df = (Seq.fill(60)("en") ++ Seq.fill(10)("zh") ++ Seq.fill(30)("xx")).toDF("lang")
    val out = Sampling.corpusMixPlan(df, "lang", Map("en" -> 0.5, "zh" -> 0.5), budget = 40L)
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("available"), r.getAs[Long]("target_n"),
          r.getAs[Double]("rate"), r.getAs[Boolean]("deficit"))).toMap
    // en: target 20 of 60 available -> rate 1/3, no deficit
    assert(out("en")._2 == 20L)
    assert(math.abs(out("en")._3 - 20.0 / 60.0) < 1e-6)
    assert(!out("en")._4)
    // zh: target 20 but only 10 available -> rate capped, deficit
    assert(out("zh") == ((10L, 20L, 1.0, true)))
    // xx: not in the target mix -> zero rate, no deficit
    assert(out("xx") == ((30L, 0L, 0.0, false)))
    intercept[IllegalArgumentException] {
      Sampling.corpusMixPlan(df, "lang", Map("en" -> 1.5), budget = 10L)
    }
  }

  test("confusionCell: null pred or label yields a null cell, not FN") {
    val df = Seq(
      (0, Some(1.0), Some(1.0)), (1, Some(0.0), Some(1.0)),
      (2, None: Option[Double], Some(1.0)), (3, Some(1.0), None: Option[Double]))
      .toDF("id", "p", "y")
    val cells = Metrics.confusionCell(df, "p", "y")
      .collect().map(r => r.getAs[Int]("id") -> Option(r.getAs[String]("cell"))).toMap
    assert(cells(0) == Some("TP") && cells(1) == Some("FN"))
    assert(cells(2).isEmpty && cells(3).isEmpty)
  }

  test("liftTable: a null or NaN score fails loudly instead of skewing a bucket") {
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val withNull = Seq((Some(0.9), 1.0), (None: Option[Double], 0.0), (Some(0.1), 0.0)).toDF("s", "y")
    val e1 = intercept[Throwable](Metrics.liftTable(withNull, "s", "y", buckets = 2).collect())
    assert(messages(e1).contains("null or NaN score"))
    val withNan = Seq((0.9, 1.0), (Double.NaN, 0.0), (0.1, 0.0)).toDF("s", "y")
    val e2 = intercept[Throwable](Metrics.liftTable(withNan, "s", "y", buckets = 2).collect())
    assert(messages(e2).contains("null or NaN score"))
  }

  test("bucketize: a constant column's collapsed splits still bucket the constant") {
    val const = Seq(5.0, 5.0, 6.0).toDF("x")
    // fit on the constant value only: quantile edges all collapse to 5.0
    val m = Binning.fitQuantile(const.filter(col("x") === 5.0), Seq("x"), 4, exact = true)
    assert(m.splits("x") == Seq(5.0))
    val out = m.transform(const).collect()
      .map(r => r.getAs[Double]("x") -> Option(r.getAs[Any]("x_bin"))).toMap
    assert(out(5.0) == Some(0)) // the constant itself: bucket 0, not null
    assert(out(6.0).isEmpty)    // out of learned range, same as the general case
  }

  test("target encoding: a null category learned at fit beats the prior at transform") {
    val train = Seq((Some("a"), 1.0), (Some("a"), 0.0), (None: Option[String], 1.0)).toDF("c", "y")
    val m = Encoding.fitTargetEncoder(train, "c", "y")
    val out = m.transform(Seq(Some("a"), None: Option[String], Some("zz")).toDF("c"))
      .collect().map(r => Option(r.getAs[String]("c")) -> r.getAs[Double]("c_te")).toMap
    assert(out(Some("a")) == 0.5)
    assert(out(None) == 1.0) // learned null-group mean, NOT the prior
    assert(math.abs(out(Some("zz")) - 2.0 / 3.0) < 1e-9) // unseen -> prior
  }

  test("one-hot: sanitization collisions keep one indicator column per category") {
    val m = Encoding.OneHotModel("c", Seq("a.b", "a_b", "x"))
    val out = m.transform(Seq("a.b", "a_b", "x").toDF("c"))
    // "a.b" and "a_b" both sanitize to a_b -> first keeps the name, the
    // later claimant gets a positional suffix; "x" stays plain
    assert(out.columns.toSeq == Seq("c", "c_a_b", "c_a_b_1", "c_x"))
    val rows = out.collect().map(r =>
      r.getAs[String]("c") -> (r.getAs[Int]("c_a_b"), r.getAs[Int]("c_a_b_1"))).toMap
    assert(rows("a.b") == ((1, 0)))
    assert(rows("a_b") == ((0, 1)))
  }

  test("one-hot: a literal category equal to a suffixed name still gets its own column") {
    // "a.b" sanitizes to a_b (taken), would suffix to a_b_1; the literal
    // categories a_b_1 and a_b_2 already claim those names — suffixing
    // must iterate past BOTH to a collision-free name
    val m = Encoding.OneHotModel("c", Seq("a_b", "a_b_1", "a.b", "a_b_2"))
    val out = m.transform(Seq("a_b", "a_b_1", "a.b", "a_b_2").toDF("c"))
    assert(out.columns.distinct.length == out.columns.length)
    assert(out.columns.length == 5) // c + one indicator per category
    // every category fires exactly its own indicator
    val hits = out.collect().map { r =>
      r.getAs[String]("c") -> (1 until 5).map(i => r.getInt(i)).sum
    }.toMap
    assert(hits.values.forall(_ == 1))
  }

  test("label encoding: a null category learned at fit reaches its index") {
    val train = Seq(Some("a"), Some("a"), None: Option[String]).toDF("c")
    val mapping = Encoding.fitLabelEncoding(train, "c")
    val out = Encoding.applyLabelEncoding(
        Seq(Some("a"), None: Option[String], Some("zz")).toDF("c"), mapping, "c")
      .collect().map(r => Option(r.getAs[String]("c")) -> Option(r.getAs[Any]("c_idx"))).toMap
    assert(out(Some("a")) == Some(0))   // freq 2 -> rank 0
    assert(out(None) == Some(1))        // null learned at fit -> its own index
    assert(out(Some("zz")).isEmpty)     // unseen -> null
  }

  test("ivTable: empty buckets contribute their smoothed term (completed grid)") {
    // constant feature: every row lands in one bucket, four buckets empty
    val df = Seq((5.0, 1.0), (5.0, 1.0), (5.0, 1.0), (5.0, 0.0), (5.0, 0.0)).toDF("f", "y")
    val iv = InformationValue.ivTable(df, Seq("f"), "y", 5, exact = true)
      .collect().head.getDouble(1)
    // hand-computed smoothed IV over the COMPLETE 5-bucket grid
    // (te = 3 events, tne = 2 non-events, +0.5 per cell, +0.5*5 per total)
    def term(ev: Double, ne: Double): Double = {
      val pNe = (ne + 0.5) / (2.0 + 2.5)
      val pE = (ev + 0.5) / (3.0 + 2.5)
      (pNe - pE) * math.log(pNe / pE)
    }
    val expected = term(3, 2) + 4 * term(0, 0)
    assert(math.abs(iv - expected) < 1e-6)
  }

  test("foldStateDir: marker rides the atomic rename; legacy side-car honored then migrated") {
    import graft.dp.IncrementalAgg._
    val dir = java.nio.file.Files.createTempDirectory("graft_fold").toString
    val statePath = s"$dir/state"
    def sumV: Double = spark.read.parquet(statePath)
      .selectExpr("cast(sum(sum_v) as double)").as[Double].head()
    foldStateDir(spark, statePath, aggState(Seq((1L, 1.0)).toDF("k", "v"), "k", "v"), "k", batchId = 0L)
    // marker lives INSIDE the state dir (same atomic rename); no side-car
    assert(new java.io.File(s"$statePath/_graft_batch_id").exists())
    assert(!new java.io.File(s"$statePath.batchid").exists())
    assert(sumV == 1.0)
    // replaying batch 0 is a no-op
    foldStateDir(spark, statePath, aggState(Seq((1L, 9.0)).toDF("k", "v"), "k", "v"), "k", batchId = 0L)
    assert(sumV == 1.0)
    // legacy layout (side-car marker only) still skips replays...
    assert(new java.io.File(s"$statePath/_graft_batch_id").delete())
    val w = new java.io.PrintWriter(s"$statePath.batchid")
    try w.print("1") finally w.close()
    foldStateDir(spark, statePath, aggState(Seq((1L, 9.0)).toDF("k", "v"), "k", "v"), "k", batchId = 1L)
    assert(sumV == 1.0)
    // ...and the next real fold migrates: in-dir marker written, side-car dropped
    foldStateDir(spark, statePath, aggState(Seq((2L, 4.0)).toDF("k", "v"), "k", "v"), "k", batchId = 2L)
    assert(new java.io.File(s"$statePath/_graft_batch_id").exists())
    assert(!new java.io.File(s"$statePath.batchid").exists())
    assert(sumV == 5.0)
  }

  test("foldStateDir: a crash between the swap renames is recovered by the next fold") {
    import graft.dp.IncrementalAgg._
    val dir = java.nio.file.Files.createTempDirectory("graft_fold_crash").toString
    val statePath = s"$dir/state"
    def sumV: Double = spark.read.parquet(statePath)
      .selectExpr("cast(sum(sum_v) as double)").as[Double].head()
    val batch3 = aggState(Seq((1L, 4.0)).toDF("k", "v"), "k", "v")
    foldStateDir(spark, statePath,
      aggState(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), "k", "v"), "k", batchId = 2L)
    // batch 3's fold dies after `state -> state.old`, before its staged
    // state is renamed in: the backup is the only copy of the history
    assert(new java.io.File(statePath).renameTo(new java.io.File(s"$statePath.old")))
    foldStateDir(spark, statePath, batch3, "k", batchId = 3L)
    // the replayed batch lands on the restored history, not on an empty state
    assert(sumV == 7.0)
    assert(!new java.io.File(s"$statePath.old").exists())
    assert(!new java.io.File(s"$statePath.tmp").exists())
    foldStateDir(spark, statePath, batch3, "k", batchId = 3L) // replay: no-op
    assert(sumV == 7.0)
  }

  /** Runs `body` on a fixture path in a fresh parent directory, with the
    * parent's entries other than the fixture; deletes the parent after. */
  private def withFixture(body: (String, () => Set[String]) => Unit): Unit = {
    val parent = java.nio.file.Files.createTempDirectory("graft_once").toFile
    try body(s"$parent/fixture", () => parent.list().toSet - "fixture")
    finally org.apache.commons.io.FileUtils.deleteQuietly(parent)
  }

  private def entries(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  private def writeFile(dir: String, name: String, text: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), text.getBytes("UTF-8"))
  }

  test("Publish.once: a staged dir is returned without building") {
    withFixture { (dir, _) =>
      writeFile(dir, "_STAGED", "")
      writeFile(dir, "data", "old")
      assert(graft.io.Publish.once(dir)(_ => fail("build must not run")) == dir)
      assert(entries(dir) == Set("_STAGED", "data"))
    }
  }

  test("Publish.once: a dir with partial content and no marker is rebuilt") {
    withFixture { (dir, siblings) =>
      writeFile(dir, "partial", "half a build")
      var builds = 0
      assert(graft.io.Publish.once(dir) { out => builds += 1; writeFile(out, "data", "new") } == dir)
      assert(builds == 1)
      assert(entries(dir) == Set("_STAGED", "data"))
      assert(siblings().isEmpty)
    }
  }

  test("Publish.once: a failed build leaves no dir and no sibling; the next call builds") {
    withFixture { (dir, siblings) =>
      val err = intercept[IllegalStateException] {
        graft.io.Publish.once(dir) { out =>
          writeFile(out, "data", "half")
          throw new IllegalStateException("build failed")
        }
      }
      assert(err.getMessage == "build failed")
      assert(!new java.io.File(dir).exists())
      assert(siblings().isEmpty)
      graft.io.Publish.once(dir)(out => writeFile(out, "data", "whole"))
      assert(entries(dir) == Set("_STAGED", "data"))
    }
  }

  test("Publish.once: two racing writers publish one copy, nothing nested, no sibling left") {
    import java.util.concurrent.{CyclicBarrier, TimeUnit}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    withFixture { (dir, siblings) =>
      // both builds finish only after both writers are past the marker
      // check, so both reach the publishing move
      val bothBuilding = new CyclicBarrier(2)
      val writers = Seq("a", "b").map { who =>
        Future(graft.io.Publish.once(dir) { out =>
          writeFile(out, "who", who)
          bothBuilding.await(60, TimeUnit.SECONDS)
        })
      }
      assert(writers.map(Await.result(_, 2.minutes)) == Seq(dir, dir))
      assert(entries(dir) == Set("_STAGED", "who"))
      val winner = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "who")), "UTF-8")
      assert(Set("a", "b").contains(winner))
      assert(siblings().isEmpty)
    }
  }
}
