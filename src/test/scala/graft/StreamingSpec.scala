package graft

import graft.streaming.Streaming
import graft.streaming.Streaming.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  test("windowed event counts aggregate per tumbling window with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streaming
      .windowedEventCounts(input.toDF(), "1 minute", "2 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Update()).start()
    input.addData(
      Event(1, "click", ts(0, 10), 1.0),
      Event(2, "click", ts(0, 40), 2.0),
      Event(1, "view", ts(1, 5), 3.0))
    query.processAllAvailable()
    val rows = spark.table("win_counts")
      .selectExpr("event_type", "n", "total_value").as[(String, Long, Double)]
      .collect().toSet
    query.stop()
    assert(rows.contains(("click", 2L, 3.0)))
    assert(rows.contains(("view", 1L, 3.0)))
  }

  test("sliding windows assign an event to every overlapping window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streaming
      .windowedEventCounts(input.toDF(), "2 minutes", "5 minutes", slide = Some("1 minute"))
      .writeStream.format("memory").queryName("slide_counts")
      .outputMode(OutputMode.Update()).start()
    input.addData(Event(1, "click", ts(1, 30), 1.0))
    query.processAllAvailable()
    // a 2-min window sliding by 1 min → the event at 10:01:30 is in the
    // [10:00,10:02) and [10:01,10:03) windows
    val n = spark.table("slide_counts").count()
    query.stop()
    assert(n == 2)
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streaming
      .streamingDedup(input.toDF(), Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    input.addData(
      Event(1, "click", ts(0), 1.0),
      Event(1, "click", ts(0, 30), 9.0), // dup key inside watermark
      Event(1, "view", ts(0, 40), 2.0))
    query.processAllAvailable()
    val n = spark.table("dedup_stream").count()
    query.stop()
    assert(n == 2)
  }

  test("stream-stream interval join matches within the horizon only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val joined = Streaming.intervalJoin(
      clicks.toDF().filter($"event_type" === "click"),
      buys.toDF().filter($"event_type" === "purchase"),
      key = "user_id", tsCol = "ts", horizonSec = 60L)
    val query = joined.writeStream.format("memory").queryName("ivj")
      .outputMode(OutputMode.Append()).start()
    clicks.addData(
      Event(1, "click", ts(0, 0), 1.0),
      Event(2, "click", ts(0, 0), 1.0),
      Event(3, "click", ts(0, 0), 1.0))
    buys.addData(
      Event(1, "purchase", ts(0, 30), 10.0), // inside horizon -> match
      Event(2, "purchase", ts(2, 0), 20.0),  // past horizon  -> no match
      Event(9, "purchase", ts(0, 10), 30.0)) // other key     -> no match
    query.processAllAvailable()
    val rows = spark.table("ivj")
      .selectExpr("user_id", "value_l", "value_r").as[(Long, Double, Double)]
      .collect().toSet
    query.stop()
    assert(rows == Set((1L, 1.0, 10.0)), s"got $rows")
  }

  test("streaming content dedup drops whitespace-variant duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val query = Streaming
      .streamingContentDedup(docs, "text", "ts")
      .writeStream.format("memory").queryName("content_dedup")
      .outputMode(OutputMode.Append()).start()
    input.addData(
      (1L, "The quick   brown fox", ts(0)),
      (2L, "the quick brown fox ", ts(0, 30)), // normalized duplicate of 1
      (3L, "something else entirely", ts(1)))
    query.processAllAvailable()
    val kept = spark.table("content_dedup").select("doc_id").as[Long].collect().toSet
    query.stop()
    assert(kept.size == 2 && kept.contains(3L))
    assert((kept - 3L).subsetOf(Set(1L, 2L))) // exactly one of the dup pair survives
  }

  test("append-mode sessionize closes sessions on event-time gap (file-sink compatible)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streaming
      .sessionizeAppend(input.toDS(), gapMs = 60000L, watermark = "0 seconds")
      .writeStream.format("memory").queryName("closed_sessions")
      .outputMode(OutputMode.Append()).start()
    input.addData(Event(1, "click", ts(0), 1.0), Event(1, "view", ts(1), 2.0))
    query.processAllAvailable()
    // push the watermark past user 1's close time (last event + 60s), then
    // one more batch so the event-time timeout actually fires
    input.addData(Event(2, "click", ts(5), 1.0))
    query.processAllAvailable()
    input.addData(Event(2, "view", ts(6), 1.0))
    query.processAllAvailable()
    val rows = spark.table("closed_sessions")
      .selectExpr("user_id", "n_events", "total_value", "last_type")
      .as[(Long, Long, Double, String)].collect().toSet
    query.stop()
    assert(rows.contains((1L, 2L, 3.0, "view")), s"expected user 1 session closed; got $rows")
  }

  test("append-mode sessionize splits on an intra-batch event-time gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streaming
      .sessionizeAppend(input.toDS(), gapMs = 60000L, watermark = "0 seconds")
      .writeStream.format("memory").queryName("gap_sessions")
      .outputMode(OutputMode.Append()).start()
    // 10 minutes apart in ONE batch: must be two sessions, the first
    // emitted immediately (the timeout alone would merge them)
    input.addData(Event(1, "click", ts(0), 1.0), Event(1, "view", ts(10), 2.0))
    query.processAllAvailable()
    val immediate = spark.table("gap_sessions")
      .selectExpr("user_id", "n_events", "total_value", "last_type")
      .as[(Long, Long, Double, String)].collect().toSet
    query.stop()
    assert(immediate.contains((1L, 1L, 1.0, "click")),
      s"first session must close on the intra-batch gap; got $immediate")
  }

  test("stream-static enrichment joins dimension attributes per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val query = Streaming
      .enrichWithDimension(input.toDF(), dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    input.addData(
      Event(1, "click", ts(0), 1.0),
      Event(3, "view", ts(1), 2.0)) // no dim row → left join keeps it, null tier
    query.processAllAvailable()
    val rows = spark.table("enriched")
      .selectExpr("user_id", "tier").as[(Long, Option[String])]
      .collect().toSet
    query.stop()
    assert(rows == Set((1L, Some("gold")), (3L, None)))
  }

  test("sessionize accumulates per-user state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streaming
      .sessionize(input.toDS(), timeoutMs = 0L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Update()).start()
    input.addData(Event(7, "click", ts(0), 1.0), Event(7, "view", ts(1), 2.0))
    query.processAllAvailable()
    input.addData(Event(7, "purchase", ts(2), 4.0))
    query.processAllAvailable()
    val last = spark.table("sessions")
      .selectExpr("user_id", "n_events", "total_value", "last_type")
      .as[(Long, Long, Double, String)].collect().last
    query.stop()
    assert(last == ((7L, 3L, 7.0, "purchase")))
  }

  test("maintainAggState folds micro-batches into a parquet state table") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_state").toString
    val statePath = s"$dir/state"
    val input = MemoryStream[Event]
    val query = Streaming.maintainAggState(
      input.toDF(), "user_id", "value", statePath, s"$dir/ckpt")
    input.addData(Event(1, "a", ts(0), 2.5), Event(1, "a", ts(1), -1.0), Event(2, "a", ts(0), 3.0))
    query.processAllAvailable()
    input.addData(Event(1, "a", ts(2), 7.25), Event(3, "a", ts(0), 0.5))
    query.processAllAvailable()
    query.stop()
    val state = spark.read.parquet(statePath)
      .select(col("user_id"), col("n"), col("sum_v").cast("double"), col("min_v"), col("max_v"))
      .as[(Long, Long, Double, Double, Double)].collect().sortBy(_._1).toSeq
    assert(state == Seq(
      (1L, 3L, 8.75, -1.0, 7.25),
      (2L, 1L, 3.0, 3.0, 3.0),
      (3L, 1L, 0.5, 0.5, 0.5)))
    // replaying an already-folded batch id is a no-op (exactly-once state)
    val replay = graft.dp.IncrementalAgg.aggState(
      Seq((1L, 100.0)).toDF("user_id", "value"), "user_id", "value")
    graft.dp.IncrementalAgg.foldStateDir(spark, statePath, replay, "user_id", batchId = 0L)
    assert(spark.read.parquet(statePath).selectExpr("sum(n)").as[Long].head() == 5L)
  }

  test("maintainCmsState folds counters; estimates never undercount; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_cms_stream").toString
    val statePath = s"$dir/state"
    val input = MemoryStream[Event]
    val query = Streaming.maintainCmsState(
      input.toDF(), "event_type", statePath, s"$dir/ckpt", width = 32, depth = 3)
    input.addData(Seq.fill(5)(Event(1, "click", ts(0), 1.0)) :+ Event(2, "view", ts(1), 1.0): _*)
    query.processAllAvailable()
    input.addData(Seq.fill(3)(Event(3, "click", ts(2), 1.0)): _*)
    query.processAllAvailable()
    query.stop()
    val est = graft.dp.IncrementalAgg.cmsEstimate(
        spark.read.parquet(statePath), Seq("click", "view").toDF("event_type"),
        "event_type")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("click") >= 8L && est("view") >= 1L,
      s"streamed CMS undercounted: $est")
    // replayed batch id is a no-op
    val replay = graft.dp.IncrementalAgg.cmsState(
      Seq.fill(100)("click").toDF("event_type"), "event_type", width = 32, depth = 3)
    graft.dp.IncrementalAgg.foldStateDir(spark, statePath, replay, "event_type",
      batchId = 0L, merge = (a, b, _) => graft.dp.IncrementalAgg.cmsMerge(a, b))
    assert(spark.read.parquet(statePath).selectExpr("max(cnt)").as[Long].head() <= 9L)
  }

  test("maintainWordCounts: tokenizer retrains from streamed state with zero corpus scans") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_wc_stream").toString
    val statePath = s"$dir/state"
    val input = MemoryStream[(Long, String)]
    val query = Streaming.maintainWordCounts(
      input.toDF().toDF("doc_id", "text"), "text", statePath, s"$dir/ckpt")
    input.addData((1L, "ab ab abc"), (2L, "ab xyz"))
    query.processAllAvailable()
    input.addData((3L, "ab abc abc"))
    query.processAllAvailable()
    query.stop()
    val state = spark.read.parquet(statePath)
      .as[(String, Long)].collect().toMap
    assert(state === Map("ab" -> 4L, "abc" -> 3L, "xyz" -> 1L))
    // the tokenizer trained from the state equals one trained from the
    // equivalent batch corpus — zero corpus scans in steady state
    val (mergesS, vocabS) = graft.text.Bpe.trainArtifactsFromState(
      spark, statePath, numMerges = 10)
    val corpus = Seq("ab ab abc", "ab xyz", "ab abc abc").toDF("text")
    val (mergesC, vocabC) = graft.text.Bpe.trainArtifacts(corpus, "text", 10)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy(d.columns.map(col): _*).collect().map(_.toString).toSeq
    assert(rows(mergesS) === rows(mergesC))
    assert(rows(vocabS) === rows(vocabC))
  }

  test("maintainWordCounts refuses to fold whitespace words into a gpt2 word-count state") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_wc_mode").toString
    val statePath = s"$dir/state"
    graft.text.Bpe.foldWordCounts(Seq("it's the end.").toDF("text"), "text", statePath,
      preTokenize = graft.text.Bpe.Gpt2)
    val before = spark.read.parquet(statePath).as[(String, Long)].collect().toSet
    val input = MemoryStream[(Long, String)]
    val query = Streaming.maintainWordCounts(
      input.toDF().toDF("doc_id", "text"), "text", statePath, s"$dir/ckpt")
    input.addData((1L, "it's the end."))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      query.processAllAvailable())
    query.stop()
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("tagged gpt2")), err)
    assert(graft.dp.IncrementalAgg.stateTag(spark, statePath) === Some(graft.text.Bpe.Gpt2))
    assert(spark.read.parquet(statePath).as[(String, Long)].collect().toSet === before)
  }

  test("maintainGradedSamples: pass@k from streamed state equals the batch estimator") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_pak_stream").toString
    val statePath = s"$dir/state"
    val input = MemoryStream[(Long, Boolean)]
    val query = Streaming.maintainGradedSamples(
      input.toDF().toDF("prompt_id", "correct"),
      "prompt_id", "correct", statePath, s"$dir/ckpt")
    input.addData((1L, true), (1L, false), (2L, false))
    query.processAllAvailable()
    input.addData((1L, true), (1L, false), (1L, false), (2L, false))
    query.processAllAvailable()
    query.stop()
    val fromState = graft.align.Preference.passAtKFromState(
      spark.read.parquet(statePath), "prompt_id", Seq(1, 2))
      .select("prompt_id", "k", "pass_at_k")
      .as[(Long, Int, Double)].collect().toSet
    val all = Seq((1L, true), (1L, false), (2L, false),
      (1L, true), (1L, false), (1L, false), (2L, false))
      .toDF("prompt_id", "correct")
    val fromBatch = graft.align.Preference.passAtK(all, "prompt_id", "correct", Seq(1, 2))
      .select("prompt_id", "k", "pass_at_k")
      .as[(Long, Int, Double)].collect().toSet
    assert(fromState === fromBatch)
    // prompt 1: n=5, c=2 -> pass@1 = 0.4, pass@2 = 0.7
    assert(fromState.contains((1L, 2, 0.7)))
    assert(fromState.contains((2L, 1, 0.0)))
  }

  test("maintainBestOfN: state holds each prompt's current top-n; fold == recompute") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_bon_stream").toString
    val statePath = s"$dir/state"
    val input = MemoryStream[(Long, Long, String, Double)]
    val query = Streaming.maintainBestOfN(
      input.toDF().toDF("prompt_id", "response_id", "response", "score"),
      "prompt_id", "response_id", "score", n = 2, statePath, s"$dir/ckpt")
    input.addData((1L, 10L, "a", 5.0), (1L, 11L, "b", 9.0), (2L, 20L, "c", 1.0))
    query.processAllAvailable()
    // a better response arrives later: it must displace the worst of the
    // held pair; a tie at 9.0 ranks by lower id
    input.addData((1L, 12L, "d", 9.0), (1L, 13L, "e", 2.0), (2L, 21L, "f", 4.0))
    query.processAllAvailable()
    query.stop()
    val state = spark.read.parquet(statePath)
      .select("prompt_id", "response_id")
      .as[(Long, Long)].collect().toSet
    assert(state === Set((1L, 11L), (1L, 12L), (2L, 21L), (2L, 20L)))
    // fold == recompute: the state equals bestOfN over all rows at once
    val all = Seq(
      (1L, 10L, "a", 5.0), (1L, 11L, "b", 9.0), (2L, 20L, "c", 1.0),
      (1L, 12L, "d", 9.0), (1L, 13L, "e", 2.0), (2L, 21L, "f", 4.0))
      .toDF("prompt_id", "response_id", "response", "score")
    val batchTop = graft.align.Preference
      .bestOfNState(all, "prompt_id", "response_id", "score", n = 2)
      .select("prompt_id", "response_id").as[(Long, Long)].collect().toSet
    assert(state === batchTop)
  }

  test("maintainQuantileState folds GK sketches; estimates bound the union") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_qstate").toString
    val statePath = s"$dir/state"
    val input = MemoryStream[Event]
    val query = Streaming.maintainQuantileState(
      input.toDF(), "user_id", "value", statePath, s"$dir/ckpt")
    // two micro-batches, one key: values 1..40 then 41..100
    input.addData((1 to 40).map(i => Event(1, "a", ts(i), i.toDouble)): _*)
    query.processAllAvailable()
    input.addData((41 to 100).map(i => Event(1, "a", ts(i), i.toDouble)): _*)
    query.processAllAvailable()
    query.stop()
    val est = graft.dp.QuantileState.estimateQuantiles(
      spark.read.parquet(statePath), "user_id", Seq(0.5)).head()
    assert(est.getLong(est.fieldIndex("n_state")) == 100L)
    val p50 = est.getDouble(est.fieldIndex("q_50"))
    // GK rank bound at eps=0.01, n=100: within 1 rank of the true median
    assert(p50 >= 49.0 && p50 <= 51.0, s"p50=$p50")
    // replayed batch id is a no-op (exactly-once state)
    val replay = graft.dp.QuantileState.quantileSketch(
      Seq((1L, 1e9)).toDF("user_id", "value"), "user_id", "value")
    graft.dp.IncrementalAgg.foldStateDir(spark, statePath, replay, "user_id",
      batchId = 0L, merge = graft.dp.QuantileState.mergeQuantileSketches)
    val n2 = graft.dp.QuantileState.estimateQuantiles(
      spark.read.parquet(statePath), "user_id", Seq(0.5)).head()
    assert(n2.getLong(n2.fieldIndex("n_state")) == 100L)
  }

  test("monitorDrift scores micro-batches against the frozen baseline") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    // baseline: value uniform over [0, 100)
    val base = (0 until 1000).map(i => (i.toLong, (i % 100).toDouble)).toDF("id", "value")
    val b = graft.features.Drift.fitBaseline(base, Seq("value"), buckets = 5, exact = true)
    val input = MemoryStream[Event]
    val query = Streaming.monitorDrift(
      input.toDF(), b, s"$dir/metrics", s"$dir/ckpt")
    // batch 0: same distribution as the baseline
    input.addData((0 until 200).map(i => Event(i.toLong, "a", ts(0), (i % 100).toDouble)): _*)
    query.processAllAvailable()
    // batch 1: collapsed to the top of the range — drifted
    input.addData((0 until 200).map(i => Event(i.toLong, "a", ts(1), 95.0 + (i % 5))): _*)
    query.processAllAvailable()
    query.stop()
    val m = spark.read.parquet(s"$dir/metrics")
      .select(col("batch_id"), col("feature"), col("psi"), col("n_rows"))
      .as[(Long, String, Double, Long)].collect().sortBy(_._1).toSeq
    assert(m.map(r => (r._1, r._2, r._4)) == Seq((0L, "value", 200L), (1L, "value", 200L)))
    val (stablePsi, driftedPsi) = (m(0)._3, m(1)._3)
    assert(stablePsi < 0.1, s"in-distribution batch scored $stablePsi")
    assert(driftedPsi > 0.25, s"drifted batch scored only $driftedPsi")
    // the frozen-baseline path computes the same PSI as the two-frame table
    val cur = (0 until 200).map(i => (i.toLong, 95.0 + (i % 5))).toDF("id", "value")
    val direct = graft.features.Drift.psiTable(base, cur, Seq("value"), 5, exact = true)
      .select("psi").as[Double].head()
    assert(math.abs(direct - driftedPsi) < 1e-9)
  }

  test("streaming ANN index maintenance: micro-batches append, replays are no-ops") {
    import graft.similarity.AnnIndex
    import org.apache.spark.sql.functions.col
    val work = java.nio.file.Files.createTempDirectory("graft-stream-ann").toString
    val idx = s"$work/idx"
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    AnnIndex.buildLsh(emb.filter(col("vec_id") < 250), "vec_id", "embedding", idx,
      tables = 4, bits = 5)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val stream = input.toDF.toDF("vec_id", "embedding")
    // compactEvery = 2: after the second applied batch the maintainer
    // rewrites the append-littered signature table in-line (r17 — the
    // stream creates the small-file decay, so it carries the remedy)
    val q = Streaming.maintainAnnIndex(stream, "embedding", idx, s"$work/ckpt",
      compactEvery = 2)
    val newRows = emb.filter(col("vec_id") >= 250 && col("vec_id") < 260)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    input.addData(newRows.take(5).toSeq)
    q.processAllAvailable()
    input.addData(newRows.drop(5).toSeq)
    q.processAllAvailable()
    q.stop()

    // the cadence fired: build + 2 appended batches leave >4 data files;
    // the compacted layout is exactly one range partition's worth — one
    // file per non-empty `table` hive dir (tables = 4)
    locally {
      val p = new org.apache.hadoop.fs.Path(s"$idx/signatures.parquet")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext)
        if (it.next().getPath.getName.startsWith("part-")) n += 1
      assert(n === 4, s"expected the compacted 1-file-per-table layout, got $n files")
    }

    // every streamed row is in the index and searchable: an exact clone
    // of a streamed vector (fresh id) must return it at rank 1, cosine 1
    val queries = emb.filter(col("vec_id") >= 250 && col("vec_id") < 253)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val top = AnnIndex.searchLsh(spark, idx, queries, "vec_id", "embedding", k = 3)
      .filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(top.length == 3)
    top.foreach { case (qid, id, cos) => assert(id == qid - 100000 && cos == 1.0) }
    assert(emb.sparkSession.read.parquet(s"$idx/signatures.parquet")
      .select("vec_id").distinct().count() == 260)

    // at-least-once replay of an applied batch is a marker-gated no-op
    val replay = emb.filter(col("vec_id") >= 250 && col("vec_id") < 255)
      .select(col("vec_id"), col("embedding"))
    assert(!Streaming.appendBatchOnce(replay, "embedding", idx, batchId = 0L))
    assert(spark.read.parquet(s"$idx/signatures.parquet").count() ==
      260 * 4, "a replayed batch must not duplicate index rows") // 4 tables
  }

  test("streaming retraction feed: ids tombstone out of search, cadence folds, replays no-op") {
    import graft.similarity.AnnIndex
    import org.apache.spark.sql.functions.col
    val work = java.nio.file.Files.createTempDirectory("graft-stream-retract").toString
    val idx = s"$work/idx"
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    AnnIndex.buildIvf(emb, "vec_id", "embedding", idx, nlist = 16)
    val queries = emb.filter(col("vec_id") < 3)
    def served(): Set[Long] = AnnIndex
      .searchIvf(spark, idx, queries, "vec_id", "embedding", k = 5, nprobe = 16)
      .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    val doomed = served().toSeq.sorted
    assert(doomed.nonEmpty)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val q = Streaming.maintainRetractions(
      input.toDF.toDF("vec_id"), idx, s"$work/ckpt", kind = "ann",
      compactEvery = 2)
    input.addData(doomed.take(2))
    q.processAllAvailable()
    input.addData(doomed.drop(2))
    q.processAllAvailable() // 2nd applied batch -> cadence folds tombstones
    q.stop()
    assert((served() & doomed.toSet).isEmpty,
      "retracted ids must stop being served")
    // the cadence FOLDED: tombstones left disk, rows left the corpus
    assert(!new java.io.File(s"$idx/tombstones.parquet").exists())
    assert(spark.read.parquet(s"$idx/corpus.parquet").count() ===
      emb.count() - doomed.size)
    // a replayed batch is a marker-gated no-op (and harmless anyway)
    val marker = new org.apache.hadoop.fs.Path(s"$idx/_retract/_applied_batches/0")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(marker))
  }

  test("threshold-driven streaming maintenance: crossed decay folds with the reason logged, healthy lanes never fold, tombstone ratio drives the retraction lane") {
    import graft.similarity.AnnIndex
    import org.apache.spark.sql.functions.col
    val work = java.nio.file.Files.createTempDirectory("graft-stream-policy").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def fileCount(path: String): Int = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext)
        if (it.next().getPath.getName.startsWith("part-")) n += 1
      n
    }
    implicit val sqlCtx = spark.sqlContext
    val newRows = emb.filter(col("vec_id") >= 250 && col("vec_id") < 260)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    def runLane(idx: String, ckpt: String, decay: Double): Unit = {
      AnnIndex.buildLsh(emb.filter(col("vec_id") < 250), "vec_id", "embedding",
        idx, tables = 4, bits = 5)
      val input = MemoryStream[(Long, Seq[Float])]
      val q = Streaming.maintainAnnIndex(
        input.toDF.toDF("vec_id", "embedding"), "embedding", idx, ckpt,
        maintainPolicy = Some(Streaming.MaintainPolicy(
          checkEvery = 2, fileDecay = decay)))
      input.addData(newRows.take(5).toSeq)
      q.processAllAvailable()
      input.addData(newRows.drop(5).toSeq)
      q.processAllAvailable()
      q.stop()
    }
    // lane A: decay threshold LOW — the one evaluation (checkEvery = 2
    // over 2 applied batches) measures the append-littered layout over
    // threshold and folds EXACTLY ONCE, recording why
    val idxA = s"$work/idxA"
    runLane(idxA, s"$work/ckptA", decay = 1.5)
    val logA = spark.read.parquet(s"$idxA/maintenance_log.parquet").collect()
    assert(logA.length === 1, s"one evaluation -> one decision row: ${logA.toSeq}")
    assert(logA.head.getAs[Boolean]("compacted") &&
      logA.head.getAs[String]("reason").contains("file decay") &&
      logA.head.getAs[Long]("batch_id") === 1L, logA.head.toString)
    assert(fileCount(s"$idxA/signatures.parquet") === 4,
      "the crossed threshold must leave the compacted 1-file-per-table layout")
    // the folded index still serves every streamed row
    val queries = emb.filter(col("vec_id") >= 250 && col("vec_id") < 253)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val top = AnnIndex.searchLsh(spark, idxA, queries, "vec_id", "embedding", k = 3)
      .filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(top.length === 3)
    top.foreach { case (qid, id, cos) => assert(id == qid - 100000 && cos == 1.0) }
    // lane B: identical stream, huge threshold — the evaluation runs,
    // records HEALTHY, and never folds (the litter stays, by decision)
    val idxB = s"$work/idxB"
    runLane(idxB, s"$work/ckptB", decay = 1e9)
    val logB = spark.read.parquet(s"$idxB/maintenance_log.parquet").collect()
    assert(logB.length === 1 && !logB.head.getAs[Boolean]("compacted") &&
      logB.head.getAs[String]("reason").startsWith("healthy"), logB.head.toString)
    assert(fileCount(s"$idxB/signatures.parquet") > 4,
      "a healthy lane must not pay the rewrite")
    // lane C: the retraction lane folds on the TOMBSTONE-RATIO signal —
    // the decay axis is disabled (1e9), so the recorded reason is
    // unambiguous
    val idxC = s"$work/idxC"
    AnnIndex.buildIvf(emb, "vec_id", "embedding", idxC, nlist = 16)
    val inC = MemoryStream[Long]
    val qC = Streaming.maintainRetractions(
      inC.toDF.toDF("vec_id"), idxC, s"$work/ckptC", kind = "ann",
      maintainPolicy = Some(Streaming.MaintainPolicy(
        checkEvery = 1, tombstoneRatio = 0.001, fileDecay = 1e9)))
    inC.addData(Seq(1L, 2L, 3L))
    qC.processAllAvailable()
    qC.stop()
    val logC = spark.read.parquet(s"$idxC/maintenance_log.parquet").collect()
    assert(logC.length === 1 && logC.head.getAs[Boolean]("compacted") &&
      logC.head.getAs[String]("reason").contains("tombstones"), logC.head.toString)
    assert(!new java.io.File(s"$idxC/tombstones.parquet").exists(),
      "the crossed ratio must fold the tombstones physically")
    assert(spark.read.parquet(s"$idxC/corpus.parquet").count() === emb.count() - 3)
  }

  test("streaming append dispatch reaches the sharded index kinds") {
    import graft.similarity.AnnIndex
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft-stream-annsh").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = s"$work/idx_sh"
    AnnIndex.buildIvfSharded(emb.filter(col("vec_id") < 250), "vec_id",
      "embedding", idx, nShards = 2, nlist = 8)
    // the micro-batch unit (appendBatchOnce) must route through
    // appendIvfSharded — rows land in their hash shard and are served
    // through the merged search
    val batch = emb.filter(col("vec_id") < 2)
      .select((col("vec_id") + 700000L).as("vec_id"), col("embedding"))
    assert(Streaming.appendBatchOnce(batch, "embedding", idx, batchId = 0L))
    val got = AnnIndex.searchIvfSharded(spark,
      idx, emb.filter(col("vec_id") < 2), "vec_id", "embedding",
      k = 1, nprobe = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 2L).foreach(q => assert(got(q) === q + 700000L))
    // replay no-op through the same marker gate
    assert(!Streaming.appendBatchOnce(batch, "embedding", idx, batchId = 0L))
  }

  test("streaming near-dup corpus: mutated copies dropped via the MinHash index, survivors indexed") {
    implicit val sqlCtx = spark.sqlContext
    val work = java.nio.file.Files.createTempDirectory("graft-stream-neardup").toString
    val (idx, accepted) = (s"$work/idx", s"$work/accepted")
    // seed corpus: one known document, indexed
    val seedText = "the quick brown fox jumps over the lazy dog again and again"
    graft.dedup.MinHashIndex.build(
      Seq((1L, seedText)).toDF("doc_id", "text"), "doc_id", "text", idx)
    val input = MemoryStream[(Long, String)]
    // compactEvery = 2: after the second applied batch both index layers
    // AND the accepted docs table are compacted in-line — the assertions
    // below run entirely over the rewritten layout
    val q = Streaming.maintainNearDupCorpus(
      input.toDF.toDF("doc_id", "text"), "text", idx, accepted, s"$work/ckpt",
      threshold = 0.5, compactEvery = 2)
    // batch 0: a mutated copy of the seed (near-dup, must drop) + a fresh doc
    input.addData(Seq(
      (10L, seedText.replaceFirst("quick", "rapid")),
      (11L, "completely different words about astronomy and star formation")))
    q.processAllAvailable()
    // batch 1: a mutated copy of batch 0's SURVIVOR (the index grew) + fresh
    input.addData(Seq(
      (20L, "completely different words about astronomy and planet formation"),
      (21L, "unrelated text on maritime navigation and tides")))
    q.processAllAvailable()
    q.stop()
    val docs = spark.read.parquet(s"$accepted/docs.parquet")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(docs == Seq(11L, 21L),
      s"near-dups of seed and of prior survivors must drop, got $docs")
    // survivors joined the index: a later batch dedups against them
    val again = graft.dedup.MinHashIndex.dedupBatch(spark, idx,
      Seq((30L, "unrelated text on maritime navigation and the tides")).toDF("doc_id", "text"),
      "text", threshold = 0.5)
    assert(again.isEmpty, "survivor must be indexed for later batches")
  }

  test("streaming semantic corpus: clones of accepted vectors drop, survivors get indexed") {
    implicit val sqlCtx = spark.sqlContext
    val work = java.nio.file.Files.createTempDirectory("graft-stream-sem").toString
    val (idx, accepted) = (s"$work/idx", s"$work/accepted")
    def oneHot(i: Int): Seq[Float] = Seq.tabulate(32)(j => if (j == i) 1f else 0f)
    // seed corpus: 4 orthogonal accepted vectors
    graft.similarity.AnnIndex.buildIvf(
      (0 until 4).map(i => (i.toLong, oneHot(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx, nlist = 2)
    val input = MemoryStream[(Long, Seq[Float])]
    // compactEvery = 2: the IVF index and the accepted-vectors table are
    // rewritten after batch 1; every assertion below reads the compacted
    // layout
    val q = Streaming.maintainSemanticCorpus(
      input.toDF.toDF("vec_id", "embedding"), "embedding", idx, accepted,
      s"$work/ckpt", threshold = 0.999, compactEvery = 2)
    // batch 0: a clone of seed vec 2 (drop), an in-batch clone pair
    // (11 stands, 12 drops), and a novel vector (10 stands)
    input.addData(Seq(
      (20L, oneHot(2)), (11L, oneHot(9)), (12L, oneHot(9)), (10L, oneHot(8))))
    q.processAllAvailable()
    // batch 1: a clone of batch 0's SURVIVOR (the index grew) + novel
    input.addData(Seq((30L, oneHot(8)), (31L, oneHot(15))))
    q.processAllAvailable()
    q.stop()
    val ids = spark.read.parquet(s"$accepted/docs.parquet")
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(10L, 11L, 31L),
      s"semantic twins of accepted content must drop, got $ids")
    // survivors joined the index: a fresh search finds them at rank 1
    val hit = graft.similarity.AnnIndex.searchIvf(spark, idx,
      Seq((100L, oneHot(15))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 1)
    assert(hit.filter($"cosine" >= 0.999).select("vec_id").as[Long].head() == 31L)
  }

  test("streaming semantic corpus: replayed batch is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val work = java.nio.file.Files.createTempDirectory("graft-stream-sem-replay").toString
    val (idx, accepted) = (s"$work/idx", s"$work/accepted")
    def oneHot(i: Int): Seq[Float] = Seq.tabulate(32)(j => if (j == i) 1f else 0f)
    graft.similarity.AnnIndex.buildIvf(
      (0 until 4).map(i => (i.toLong, oneHot(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx, nlist = 2)
    // a prior attempt of batch 0 committed docs AND index, then died
    // before the applied marker: begun marker present, rows everywhere
    val fs = new org.apache.hadoop.fs.Path(accepted)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((50L, oneHot(20))).toDF("vec_id", "embedding")
      .write.mode("append").parquet(s"$accepted/docs.parquet")
    graft.similarity.AnnIndex.appendIvf(
      Seq((50L, oneHot(20))).toDF("vec_id", "embedding"), "embedding", idx)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$accepted/_begun_batches"))
    fs.create(new org.apache.hadoop.fs.Path(s"$accepted/_begun_batches/0"), true).close()
    val input = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.maintainSemanticCorpus(
      input.toDF.toDF("vec_id", "embedding"), "embedding", idx, accepted,
      s"$work/ckpt", threshold = 0.999)
    input.addData(Seq((50L, oneHot(20))))
    q.processAllAvailable()
    q.stop()
    val ids = spark.read.parquet(s"$accepted/docs.parquet")
      .select("vec_id").as[Long].collect().toSeq
    assert(ids == Seq(50L), s"replay must not duplicate docs, got $ids")
    // and the index holds exactly one copy of the row
    val n = spark.read.parquet(s"$idx/corpus.parquet")
      .filter($"vec_id" === 50L).count()
    assert(n == 1L, s"replay must not double-index, got $n rows")
  }

  test("streaming near-dup corpus: replay after a crash between appends does not duplicate docs") {
    implicit val sqlCtx = spark.sqlContext
    val work = java.nio.file.Files.createTempDirectory("graft-stream-neardup-replay").toString
    val (idx, accepted) = (s"$work/idx", s"$work/accepted")
    graft.dedup.MinHashIndex.build(
      Seq((1L, "the quick brown fox jumps over the lazy dog again and again"))
        .toDF("doc_id", "text"), "doc_id", "text", idx)
    // simulate the crash window: a prior attempt of batch 0 appended the
    // survivor to docs.parquet, then died BEFORE the index append and the
    // applied marker — begun marker present, applied marker absent
    val freshText = "completely different words about volcanology and magma chambers"
    Seq((30L, freshText)).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$accepted/docs.parquet")
    val fs = new org.apache.hadoop.fs.Path(accepted)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$accepted/_begun_batches"))
    fs.create(new org.apache.hadoop.fs.Path(s"$accepted/_begun_batches/0"), true).close()
    // the replay: same batch content arrives as batch 0
    val input = MemoryStream[(Long, String)]
    val q = Streaming.maintainNearDupCorpus(
      input.toDF.toDF("doc_id", "text"), "text", idx, accepted, s"$work/ckpt",
      threshold = 0.5)
    input.addData(Seq((30L, freshText)))
    q.processAllAvailable()
    q.stop()
    // exactly one copy of the doc — the replay reconciled against docs ids
    val ids = spark.read.parquet(s"$accepted/docs.parquet")
      .select("doc_id").as[Long].collect().toSeq
    assert(ids == Seq(30L), s"replay must not duplicate partially-committed docs, got $ids")
    // and its index entry landed: a near-dup of it now drops
    val again = graft.dedup.MinHashIndex.dedupBatch(spark, idx,
      Seq((40L, "completely different words about volcanology and magma chamber"))
        .toDF("doc_id", "text"), "text", threshold = 0.5)
    assert(again.isEmpty, "replayed survivor must still reach the index")
  }

  test("streaming near-dup corpus: replay after a crash BETWEEN index append and marker does not double-index") {
    // the OTHER crash window (r19): the prior attempt committed the
    // survivor to docs.parquet AND the index, then died before the
    // applied marker. pairs() excludes self-matches now, so dedupBatch no
    // longer drops the already-indexed survivor on replay — the
    // maintainer's indexedIds anti-join must keep the index single-copy.
    implicit val sqlCtx = spark.sqlContext
    val work = java.nio.file.Files.createTempDirectory("graft-stream-neardup-replay2").toString
    val (idx, accepted) = (s"$work/idx", s"$work/accepted")
    graft.dedup.MinHashIndex.build(
      Seq((1L, "the quick brown fox jumps over the lazy dog again and again"))
        .toDF("doc_id", "text"), "doc_id", "text", idx)
    val freshText = "completely different words about volcanology and magma chambers"
    val prior = Seq((30L, freshText)).toDF("doc_id", "text")
    prior.write.mode("append").parquet(s"$accepted/docs.parquet")
    graft.dedup.MinHashIndex.append(spark, idx, prior, "text")
    val fs = new org.apache.hadoop.fs.Path(accepted)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$accepted/_begun_batches"))
    fs.create(new org.apache.hadoop.fs.Path(s"$accepted/_begun_batches/0"), true).close()
    val input = MemoryStream[(Long, String)]
    val q = Streaming.maintainNearDupCorpus(
      input.toDF.toDF("doc_id", "text"), "text", idx, accepted, s"$work/ckpt",
      threshold = 0.5)
    input.addData(Seq((30L, freshText)))
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(s"$accepted/docs.parquet")
      .select("doc_id").as[Long].collect().toSeq == Seq(30L))
    // exactly ONE copy in each index layer — no duplicate shingle rows,
    // no duplicate bucket addresses
    assert(spark.read.parquet(s"$idx/shingles.parquet")
      .filter($"doc_id" === 30L).count() === 1L,
      "replay must not double-index the shingle layer")
    val buckets = spark.read.parquet(s"$idx/buckets.parquet")
      .filter($"doc_id" === 30L).select("band", "bucket")
    assert(buckets.count() === buckets.distinct().count(),
      "replay must not duplicate bucket rows")
    // suppression still armed
    assert(graft.dedup.MinHashIndex.dedupBatch(spark, idx,
      Seq((41L, freshText + " indeed")).toDF("doc_id", "text"), "text", 0.5)
      .isEmpty)
  }

  test("streaming deduped corpus: cross-batch and in-batch duplicates dropped, replays no-ops") {
    implicit val sqlCtx = spark.sqlContext
    val work = java.nio.file.Files.createTempDirectory("graft-stream-dedup").toString
    val accepted = s"$work/accepted"
    val input = MemoryStream[(Long, String)]
    val q = Streaming.maintainDedupedCorpus(
      input.toDF.toDF("doc_id", "text"), "doc_id", "text", accepted, s"$work/ckpt")
    // batch 0: one in-batch duplicate pair (whitespace variant — the
    // normalized hash must collapse it; smallest id survives)
    input.addData(Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha  beta   gamma"),
      (3L, "delta epsilon")))
    q.processAllAvailable()
    // batch 1: one cross-batch duplicate of doc 1, one fresh doc
    input.addData(Seq(
      (10L, "ALPHA beta gamma"),
      (11L, "zeta eta theta")))
    q.processAllAvailable()
    q.stop()
    val docs = spark.read.parquet(s"$accepted/docs.parquet")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(docs == Seq(1L, 3L, 11L),
      s"survivors must be first-seen per normalized content, got $docs")
    assert(spark.read.parquet(s"$accepted/hashes.parquet").count() == 3)
    // replay of an applied batch id: marker-gated no-op
    val replay = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    assert(!Streaming.dedupBatchOnce(replay, "doc_id", "text", accepted, batchId = 0L))
    assert(spark.read.parquet(s"$accepted/docs.parquet").count() == 3)
    // optional quality gate: junk filtered BEFORE hashing/state — a good
    // doc in the same batch still lands
    val goodText = ("the quick brown fox jumps over the lazy dog and then " * 6).trim
    assert(Streaming.dedupBatchOnce(
      Seq((20L, "#### $$$$ %%%% !!!! ????"), (21L, goodText)).toDF("doc_id", "text"),
      "doc_id", "text", accepted, batchId = 99L, minQuality = Some(0.8)))
    val after = spark.read.parquet(s"$accepted/docs.parquet")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(after == Seq(1L, 3L, 11L, 21L), s"junk must not pass the gate: $after")
    // state compaction (paused stream): hashes collapse to few files, the
    // dedup gate still remembers everything accepted before
    Streaming.compactCorpusState(spark, accepted)
    assert(spark.read.parquet(s"$accepted/hashes.parquet").count() == 4)
    assert(Streaming.dedupBatchOnce(
      Seq((30L, "alpha beta gamma"), (31L, "iota kappa")).toDF("doc_id", "text"),
      "doc_id", "text", accepted, batchId = 100L))
    val post = spark.read.parquet(s"$accepted/docs.parquet")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(post == Seq(1L, 3L, 11L, 21L, 31L),
      s"compaction must not forget accepted content: $post")
  }
  test("streaming crawl ingestion: WARC files land as html pages, replays are no-ops") {
    val work = java.nio.file.Files.createTempDirectory("graft-crawl-stream").toString
    val crawlDir = s"$work/crawl"
    val pagesDir = s"$work/pages"
    new java.io.File(crawlDir).mkdirs()

    def shard(name: String, ids: Seq[Int]): Unit = {
      val rows = ids.map(i =>
        (s"http://s.test/$i",
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + i)),
          s"<urn:s:$i>",
          if (i % 5 == 4) "application/pdf" else "text/html",
          s"<html><body><p>page $i</p></body></html>"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        .toDF("uri", "ts", "rid", "mime", "payload")
      graft.io.Warc.writeWarc(rows.coalesce(1), s"$work/stage_$name",
        "uri", "ts", "rid", "mime", "payload")
      // move the finished shard into the watched dir atomically-ish
      val src = new java.io.File(s"$work/stage_$name")
        .listFiles().filter(_.getName.endsWith(".warc.gz")).head
      java.nio.file.Files.move(src.toPath,
        java.nio.file.Paths.get(s"$crawlDir/$name.warc.gz"))
    }

    shard("a", 0 until 5)
    val q = Streaming.maintainCrawlPages(
      Streaming.readCrawlStream(spark, crawlDir), pagesDir, s"$work/ckpt")
    q.processAllAvailable()
    shard("b", 5 until 10)
    q.processAllAvailable()
    q.stop()

    val pages = spark.read.parquet(s"$pagesDir/pages.parquet")
    // 10 records minus the two pdf responses (4, 9); warcinfo members
    // never land
    assert(pages.count() === 8, s"got ${pages.count()}")
    assert(pages.columns.sorted === Array("fetch_ts", "html", "mime", "url"))
    val p0 = pages.filter($"url" === "http://s.test/0").head()
    assert(p0.getAs[String]("html").contains("page 0"))
    assert(p0.getAs[java.sql.Timestamp]("fetch_ts").toInstant.getEpochSecond
      === 1700000000L)
    // replaying an applied batch id is a marker-gated no-op
    val batchLike = graft.io.Warc.readWarc(spark, Seq(s"$crawlDir/a.warc.gz"))
    assert(!Streaming.crawlPagesBatchOnce(batchLike, pagesDir, batchId = 0L))
    assert(spark.read.parquet(s"$pagesDir/pages.parquet").count() === 8)
    // a NEW batch id lands
    assert(Streaming.crawlPagesBatchOnce(batchLike, pagesDir, batchId = 50L))
    assert(spark.read.parquet(s"$pagesDir/pages.parquet").count() === 12)
  }

  test("interleaved append + retraction lanes: a re-appended tombstoned id fails loudly, folds, then replays cleanly") {
    import graft.similarity.AnnIndex
    import org.apache.spark.sql.functions.col
    def causes(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val work = java.nio.file.Files.createTempDirectory("graft-stream-interleave").toString
    val idx = s"$work/idx"
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    AnnIndex.buildIvf(emb.filter(col("vec_id") < 250), "vec_id", "embedding",
      idx, nlist = 8)
    implicit val sqlCtx = spark.sqlContext

    // retraction lane: tombstone id 5 (a takedown against a served row)
    val retractIn = MemoryStream[Long]
    val rq = Streaming.maintainRetractions(
      retractIn.toDF.toDF("vec_id"), idx, s"$work/ckpt_retract", kind = "ann")
    retractIn.addData(5L)
    rq.processAllAvailable()
    rq.stop()

    // append lane (same index, same single-maintainer lane — the lanes
    // take turns, they never run concurrently): a micro-batch re-using
    // the tombstoned id must surface LOUDLY, not append a row that every
    // search silently masks until the next fold
    val appendIn = MemoryStream[(Long, Seq[Float])]
    val batch = emb.filter(col("vec_id").isin(5L, 260L))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    val aq = Streaming.maintainAnnIndex(
      appendIn.toDF.toDF("vec_id", "embedding"), "embedding", idx,
      s"$work/ckpt_append")
    appendIn.addData(batch)
    val err = intercept[Exception] { aq.processAllAvailable() }
    assert(causes(err).contains("pending tombstones"),
      s"expected the loud tombstone-collision refusal, got: ${causes(err)}")
    aq.stop()
    // nothing landed, no marker was written for the failed batch
    assert(spark.read.parquet(s"$idx/corpus.parquet").count() === 250)

    // repair = the documented path: fold the tombstones, then RESTART the
    // append lane on the SAME checkpoint — the failed micro-batch replays
    // from the checkpoint and lands this time
    AnnIndex.compact(spark, idx)
    val aq2 = Streaming.maintainAnnIndex(
      appendIn.toDF.toDF("vec_id", "embedding"), "embedding", idx,
      s"$work/ckpt_append")
    aq2.processAllAvailable()
    aq2.stop()
    // both rows of the replayed batch serve immediately: the re-appended
    // id 5 (fresh vector) and the genuinely new 260
    val queries = emb.filter(col("vec_id").isin(5L, 260L))
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val got = AnnIndex
      .searchIvf(spark, idx, queries, "vec_id", "embedding", k = 1, nprobe = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(100005L) === 5L && got(100260L) === 260L,
      s"replayed batch must serve after the fold, got $got")
    // and the tombstone idempotence half: replaying the retraction lane's
    // applied batch is a marker-gated no-op (id 5's NEW row stays served)
    val rq2 = Streaming.maintainRetractions(
      retractIn.toDF.toDF("vec_id"), idx, s"$work/ckpt_retract", kind = "ann")
    rq2.processAllAvailable()
    rq2.stop()
    assert(AnnIndex
      .searchIvf(spark, idx, queries.filter(col("vec_id") === 100005L),
        "vec_id", "embedding", k = 1, nprobe = 8)
      .head().getLong(1) === 5L,
      "a replayed (already-applied) retraction batch must not re-tombstone the re-appended id")
  }
}

