package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming variants of the engine's core operators — the
  * reference is batch-only (SURVEY §1: Window imported but never called),
  * so this is a capability extension for continuous training-data
  * ingestion: the same event schema as the batch `events` table, processed
  * incrementally.
  *
  * Scale design: watermarks bound all state; windowed aggregates are
  * partial-aggregated before shuffle exactly like their batch forms;
  * session state is per-key and evicted on processing-time timeout.
  */
object Streaming {

  final case class Event(user_id: Long, event_type: String, ts: java.sql.Timestamp, value: Double)
  final case class Session(user_id: Long, n_events: Long, total_value: Double, last_type: String)

  /** Tumbling- or sliding-window per-type counts + value sums with a
    * watermark — the streaming form of the batch date_filter/groupBy-count
    * queries. `slide` == `windowLen` (default) is tumbling; a smaller
    * slide overlaps windows (each event lands in windowLen/slide windows —
    * state and output scale by that factor, watermark-bounded as ever). */
  def windowedEventCounts(
      events: DataFrame,
      windowLen: String = "1 minute",
      watermark: String = "2 minutes",
      slide: Option[String] = None): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide.getOrElse(windowLen)), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Streaming exact dedup on a business key within the watermark horizon
    * (the streaming form of Dedup.exactDedup — state is bounded by the
    * watermark, not the stream length). */
  def streamingDedup(
      events: DataFrame,
      keyCols: Seq[String],
      watermark: String = "2 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming content dedup for a document stream: drop texts whose
    * NORMALIZED content hash was already seen inside the watermark horizon
    * (the streaming form of Dedup.exactDedup — same normalization + sha2
    * key, so batch and streaming dedup agree on what "same document"
    * means; state is one hash per kept document, watermark-bounded). */
  def streamingContentDedup(
      docs: DataFrame,
      textCol: String,
      tsCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("__content_hash", graft.dedup.Dedup.contentHash(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("__content_hash"))
      .drop("__content_hash")

  /** Per-user running session via mapGroupsWithState: event count, value
    * total, last event type. With timeoutMs > 0, state is evicted after
    * that much processing-time inactivity (bounded state at scale);
    * timeoutMs <= 0 keeps state indefinitely (testing/small key spaces).
    *
    * Update-mode output: compose with memory/console/foreachBatch sinks.
    * The Append-only file sinks (e.g. [[writeParquetStream]]) REJECT this
    * operator at query start — use [[sessionizeAppend]] for file output. */
  def sessionize(events: Dataset[Event], timeoutMs: Long = 60000L): Dataset[Session] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[Session, Session](timeoutConf) {
        (userId: Long, batch: Iterator[Event], state: GroupState[Session]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            s
          } else {
            val events = batch.toSeq
            val prev = state.getOption.getOrElse(Session(userId, 0L, 0.0, ""))
            val next = Session(
              userId,
              prev.n_events + events.size,
              prev.total_value + events.map(_.value).sum,
              events.sortBy(_.ts.getTime).lastOption.map(_.event_type).getOrElse(prev.last_type))
            state.update(next)
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            next
          }
      }
  }

  /** Closed-session state: running totals plus the latest event time. */
  final case class OpenSession(
      user_id: Long, n_events: Long, total_value: Double, last_type: String, last_ts: Long)

  /** Append-mode sessionization: sessions close `gapMs` of EVENT time after
    * their last event and are emitted exactly once — composable with the
    * Append-only parquet sink, unlike [[sessionize]] whose Update-mode
    * output the file sink rejects at runtime.
    *
    * Gap semantics match [[graft.pipeline.FeatureEngineering.sessionizeBatch]]:
    * incoming events are folded in event-time order and an event more than
    * `gapMs` after the open session's last event CLOSES it (emitted
    * immediately) and starts a new one — including gaps entirely inside one
    * micro-batch or spanning batches, where the event-time timeout alone
    * would silently merge them. The timeout handles the final session once
    * the watermark passes its close time. Late events older than the open
    * session's last event merge into it (a closed session is never
    * reopened). State is bounded: every group either advances its timeout
    * or is evicted when the watermark passes it. */
  def sessionizeAppend(
      events: Dataset[Event],
      gapMs: Long = 60000L,
      watermark: String = "2 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(s.user_id, s.n_events, s.total_value, s.last_type))
          } else {
            val evs = batch.toSeq.sortBy(_.ts.getTime)
            val closed = scala.collection.mutable.ListBuffer[Session]()
            var cur = state.getOption.orNull
            evs.foreach { e =>
              val t = e.ts.getTime
              if (cur != null && t - cur.last_ts > gapMs) {
                closed += Session(cur.user_id, cur.n_events, cur.total_value, cur.last_type)
                cur = null
              }
              cur =
                if (cur == null) OpenSession(userId, 1L, e.value, e.event_type, t)
                else OpenSession(
                  userId, cur.n_events + 1, cur.total_value + e.value,
                  if (t >= cur.last_ts) e.event_type else cur.last_type,
                  math.max(cur.last_ts, t))
            }
            if (cur != null) {
              state.update(cur)
              // the timeout must sit beyond the current watermark, so late
              // state re-arms relative to it
              state.setTimeoutTimestamp(
                math.max(cur.last_ts + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  /** Stream–static enrichment join: attach dimension attributes to a
    * streaming frame. The static side is explicitly broadcast — a stream
    * must never shuffle per micro-batch against a static table when the
    * dimension fits executor memory (the usual case: user/item/locale
    * attributes), and stream–static joins keep NO state either way.
    * For dimensions too big to broadcast, drop the hint and let the
    * per-batch shuffle stand — correctness is identical. */
  def enrichWithDimension(
      stream: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      broadcastDim: Boolean = true): DataFrame =
    stream.join(if (broadcastDim) broadcast(dim) else dim, keys, "left")

  /** Stream–stream interval join: match each left event to the right
    * events with the same key that occur within [left.ts, left.ts +
    * `horizonSec`] — e.g. "purchases within an hour of the click".
    *
    * Both sides are watermarked and the join condition carries BOTH a key
    * equality AND a bounded time range, which is what lets Structured
    * Streaming evict state: a buffered left row can be dropped once the
    * right watermark passes its ts + horizon, and vice versa. Omitting
    * the range (a plain equi-join) would force both sides' state to grow
    * forever — the join would run, with an unbounded-state time bomb.
    * Column names are suffixed (_l/_r) so the result is sink-ready. */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      horizonSec: Long,
      delaySec: Long = 120L): DataFrame = {
    val delay = s"$delaySec seconds"
    // rename BEFORE watermarking so the event-time column is unambiguous
    val l = left
      .select(left.columns.map(c => col(c).as(if (c == key) c else s"${c}_l")): _*)
      .withWatermark(s"${tsCol}_l", delay)
    val r = right
      .select(right.columns.map(c => col(c).as(s"${c}_r")): _*)
      .withWatermark(s"${tsCol}_r", delay)
    l.join(
      r,
      col(key) === col(s"${key}_r") &&
        col(s"${tsCol}_r") >= col(s"${tsCol}_l") &&
        col(s"${tsCol}_r") <= col(s"${tsCol}_l") + expr(s"INTERVAL $horizonSec SECONDS"))
      .drop(col(s"${key}_r"))
  }

  /** Continuously maintain a per-key aggregate state table from a stream:
    * each micro-batch is reduced to its partial state (one combinable
    * groupBy over the BATCH only) and folded into the parquet state
    * directory via `IncrementalAgg.foldStateDir` — the streaming twin of
    * the batch incremental-maintenance path, sharing the exact same merge
    * (so a pipeline can switch between nightly batches and a stream
    * without a state rewrite). The foreachBatch id + the fold's batch-id
    * marker make checkpoint replays idempotent (exactly-once state even
    * under at-least-once delivery). State cost per batch:
    * O(|state| + |batch|), never the stream's history. */
  def maintainAggState(
      events: DataFrame,
      keyCol: String,
      valueCol: String,
      statePath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.dp.IncrementalAgg.foldStateDir(
          batch.sparkSession,
          statePath,
          graft.dp.IncrementalAgg.aggState(batch, keyCol, valueCol),
          keyCol,
          batchId)
      }
      .start()

  /** Continuously maintain Count-Min FREQUENCY state from a stream —
    * same fold/swap/replay contract as [[maintainAggState]], with the
    * sparse CMS counter table as the state
    * ([[graft.dp.IncrementalAgg.cmsState]]): each micro-batch compacts
    * to distinct-item counts, hashes into ≤ depth·width counters, and
    * folds by union+sum — item frequencies ("how often has url/user/
    * token x appeared, ever") stay current per micro-batch in bounded
    * space. Read with [[graft.dp.IncrementalAgg.cmsEstimate]]. */
  def maintainCmsState(
      events: DataFrame,
      itemCol: String,
      statePath: String,
      checkpoint: String,
      width: Int = 1024,
      depth: Int = 4): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.dp.IncrementalAgg.foldStateDir(
          batch.sparkSession,
          statePath,
          graft.dp.IncrementalAgg.cmsState(batch, itemCol, width, depth),
          itemCol, // unused by the CMS merge (counters carry no key column)
          batchId,
          merge = (a, b, _) => graft.dp.IncrementalAgg.cmsMerge(a, b))
      }
      .start()

  /** Continuously maintain the tokenizer's WORD-COUNT state from a
    * document stream — the corpus statistic [[graft.text.Bpe]] and
    * [[graft.text.Unigram]] train from. Same fold/swap/replay contract;
    * the state is the exact (word, n) table, so
    * `Bpe.trainArtifactsFromState` retrains the tokenizer at any moment
    * with zero corpus scans — the steady-state 100 TB shape where the
    * corpus is a stream and full-history rescans never happen. */
  def maintainWordCounts(
      docs: DataFrame,
      textCol: String,
      statePath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.text.Bpe.foldWordCounts(batch, textCol, statePath, batchId)
      }
      .start()

  /** Continuously maintain per-prompt graded-sample counts from a
    * stream — the verifiable-rewards collector: state holds (prompt, n,
    * sum_v = correct count) in the library's standard mergeable n/sum
    * shape, so [[graft.align.Preference.passAtKFromState]] reads a
    * current pass@k any time without rescanning samples. Null grades
    * count as incorrect (coalesced before the fold — the batch
    * estimator's convention). Same fold/swap/replay contract as
    * [[maintainWordCounts]]. */
  def maintainGradedSamples(
      samples: DataFrame,
      promptCol: String,
      correctCol: String,
      statePath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    samples.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.dp.IncrementalAgg.foldStateDir(
          batch.sparkSession,
          statePath,
          graft.dp.IncrementalAgg.aggState(
            batch.withColumn("__g",
              coalesce(col(correctCol).cast("boolean").cast("int"), lit(0))),
            promptCol, "__g"),
          promptCol,
          batchId)
      }
      .start()

  /** Continuously maintain per-prompt best-of-N state from a response
    * stream — the rejection-sampling collector: as scored responses
    * arrive, the state directory always holds each prompt's current
    * top-n by score (ties to the lower id). Same fold/swap/replay
    * contract as [[maintainWordCounts]]; top-k is an order statistic,
    * so fold == recompute ([[graft.align.Preference.mergeBestOfN]]).
    * Cost per micro-batch: O(|state| + |batch|) — state is n rows per
    * prompt, never the response history. */
  def maintainBestOfN(
      responses: DataFrame,
      promptCol: String,
      idCol: String,
      scoreCol: String,
      n: Int,
      statePath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    responses.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.dp.IncrementalAgg.foldStateDir(
          batch.sparkSession,
          statePath,
          graft.align.Preference.bestOfNState(batch, promptCol, idCol, scoreCol, n),
          promptCol,
          batchId,
          merge = (state, b, key) =>
            graft.align.Preference.mergeBestOfN(state, b, key, idCol, scoreCol, n))
      }
      .start()

  /** Continuously maintain per-key QUANTILE state from a stream — same
    * fold/swap/replay contract as [[maintainAggState]], with GK quantile
    * summaries as the state ([[graft.dp.QuantileState]]): each micro-batch
    * is sketched (one combinable groupBy over the batch), then folded into
    * the state directory by a union + per-key GK merge costing O(|keys|).
    * p50/p99 per key stays current per micro-batch; read it any time with
    * [[graft.dp.QuantileState.estimateQuantiles]] on the state table. */
  def maintainQuantileState(
      events: DataFrame,
      keyCol: String,
      valueCol: String,
      statePath: String,
      checkpoint: String,
      relErr: Double = graft.dp.QuantileState.DefaultRelativeError)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.dp.IncrementalAgg.foldStateDir(
          batch.sparkSession,
          statePath,
          graft.dp.QuantileState.quantileSketch(batch, keyCol, valueCol, relErr),
          keyCol,
          batchId,
          merge = graft.dp.QuantileState.mergeQuantileSketches)
      }
      .start()

  /** Streaming feature-drift monitor: every micro-batch is PSI-scored
    * against a FROZEN [[graft.features.Drift.Baseline]] (edges + counts
    * learned once from training data — kilobytes, shipped as literals),
    * and one row per (batch, feature) is appended to a parquet metrics
    * table: (batch_id, feature, psi, n_rows). Per-batch cost is one
    * explode+groupBy over the batch only (the batch is persisted across
    * the count and the PSI pass — foreachBatch sources re-read otherwise);
    * the baseline data is never re-scanned. foreachBatch is at-least-once,
    * so the sink is made idempotent: the table is partitioned by batch_id
    * and each batch dynamically OVERWRITES its own partition — a replay
    * after a crash rewrites batch N's rows instead of duplicating them.
    * Alert on psi > 0.25 downstream — the metrics table is an ordinary
    * queryable parquet table. */
  def monitorDrift(
      stream: DataFrame,
      baseline: graft.features.Drift.Baseline,
      metricsPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          val n = b.count()
          if (n > 0)
            graft.features.Drift.psiAgainstBaseline(b, baseline)
              .withColumn("batch_id", lit(batchId))
              .withColumn("n_rows", lit(n))
              .write
              .partitionBy("batch_id")
              .option("partitionOverwriteMode", "dynamic")
              .mode("overwrite")
              .parquet(metricsPath)
        } finally b.unpersist()
      }
      .start()

  /** Continuously maintain a prebuilt ANN index from an embedding stream:
    * each micro-batch appends via the kind's append path — plain /
    * sharded IVF and IVF-PQ route through
    * [[graft.similarity.AnnIndex.appendIvf]] /
    * `appendIvfPq` / `appendIvfSharded` / `appendIvfPqSharded`
    * (assignment + PQ encoding against the PERSISTED centroids and
    * codebooks, sharded rows hash-routed to their owning shard), LSH
    * through `appendLsh` — batch-sized work, never a re-fit.
    * The streaming twin of the batch append path, sharing the exact same
    * code, so a pipeline can switch between nightly batches and a stream
    * without an index rewrite.
    *
    * foreachBatch is at-least-once and an index append cannot overwrite
    * its own partition (rows land in cell/table partitions, not batch
    * partitions), so replays are gated on a per-batch marker file written
    * AFTER the append commits: a checkpoint replay of an applied batch
    * is a no-op. The remaining window — a crash between the append and
    * its marker — duplicates that one batch's rows; follow with a
    * rebuild (or id-dedupe downstream) after an unclean stop, and
    * monitor `_applied_batches/` lag for stalls. */
  /** Threshold policy for the streaming lanes' in-line maintenance:
    * instead of folding on a blind batch count (`compactEvery`), a lane
    * given a policy evaluates MEASURED signals every `checkEvery` applied
    * batches — the same signals the batch `maintain` catalog tasks act on
    * (pending-tombstone ratio and small-file decay, read from listings +
    * meta, never a data scan) — and folds only when one crosses. A lane
    * with small frequent batches stops over-compacting on a count that
    * fires constantly; one with large batches stops decaying until a
    * human notices. Every evaluation appends its decision row (batch id,
    * target, action, reason) to `<stateDir>/maintenance_log.parquet`, so
    * the lane's maintenance history is auditable like the catalog
    * tasks' report. Replay semantics are untouched: evaluations run only
    * after APPLIED batches, and a fold is a layout rewrite that is
    * probe-identical by contract. Passing a policy supersedes
    * `compactEvery` (the blind cadence is ignored). */
  final case class MaintainPolicy(
      checkEvery: Int = 8,
      tombstoneRatio: Double = 0.1,
      fileDecay: Double = 4.0,
      targetFileMB: Int = 128) {
    require(checkEvery > 0, s"checkEvery must be > 0, got $checkEvery")
  }

  /** One maintenance tick shared by every lane: policy present → evaluate
    * thresholds on its cadence; absent → the legacy blind count. */
  private def maintenanceTick(
      applied: Boolean, batchId: Long, compactEvery: Int,
      policy: Option[MaintainPolicy])(
      evaluate: MaintainPolicy => Unit)(legacy: => Unit): Unit =
    policy match {
      case Some(p) =>
        if (applied && (batchId + 1) % p.checkEvery == 0) evaluate(p)
      case None =>
        if (applied && compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          legacy
    }

  /** File-decay evaluation + threshold fold for a plain parquet table
    * (docs / hashes / pages — the lane state with no index meta): decay =
    * part-files / ideal, ideal = what one compaction would leave
    * (bytes / targetFileMB, at least 1). Listing-sized; folds at most
    * once; returns (folded, reason). */
  private def maintainTableByDecay(
      spark: org.apache.spark.sql.SparkSession, path: String,
      orderCols: Seq[String], p: MaintainPolicy): (Boolean, String) = {
    val (files, bytes) = graft.io.Compaction.partFileStats(spark, path)
    if (files == 0L && bytes == 0L) (false, "healthy: table not created yet")
    else {
      val ideal = math.max(1L,
        math.ceil(bytes / (p.targetFileMB * 1024.0 * 1024.0)).toLong)
      val decay = files.toDouble / ideal
      if (decay > p.fileDecay) {
        graft.io.Compaction.compactParquet(
          spark, path, orderCols, None, p.targetFileMB)
        (true, f"file decay: $files files vs ideal $ideal = $decay%.2f× > ${p.fileDecay}%.2f×")
      } else (false, f"healthy: $files files vs ideal $ideal = $decay%.2f× <= ${p.fileDecay}%.2f×")
    }
  }

  private[graft] val MaintenanceLogFoldAt = 64L

  /** Append one decision row to the lane's maintenance log — and keep
    * the log itself from decaying: each evaluation lands one tiny file,
    * so past [[MaintenanceLogFoldAt]] part-files the log is folded
    * (batch_id-ordered) before it becomes the small-file problem the
    * feature exists to fix. For the index-backed lanes the log lives
    * inside the index directory deliberately: [[graft.similarity
    * .AnnIndex]].reshardSwap carries every non-index entry across a
    * topology change, so the audit history survives a reshard. */
  private def logMaintenance(
      spark: org.apache.spark.sql.SparkSession, stateDir: String,
      batchId: Long, target: String, compacted: Boolean, reason: String): Unit = {
    import spark.implicits._
    val path = s"$stateDir/maintenance_log.parquet"
    // the fold below makes this table subject to the compact publish's
    // crash window: a death between its two renames leaves the full
    // history in the backup and no live table. The lane owns this log
    // (single-maintainer contract) and the fold is automatic, so
    // recovery is too — restore the backup instead of blind-appending a
    // fresh table over the hole (which would silently orphan the history
    // and wedge the NEXT fold on its published-marker check)
    graft.io.Compaction.recover(spark, path)
    Seq((batchId, target, compacted, reason))
      .toDF("batch_id", "target", "compacted", "reason")
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(path)
    if (graft.io.Compaction.partFileStats(spark, path)._1 > MaintenanceLogFoldAt)
      graft.io.Compaction.compactParquet(spark, path, Seq("batch_id"))
  }

  /** Index-backed evaluation: delegate to the index's own stats-driven
    * [[graft.similarity.AnnIndex.maintain]] /
    * [[graft.dedup.MinHashIndex.maintain]] (fold at most once, decision
    * row returned) and record its verdict in the lane log. */
  private def maintainIndexByStats(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      kind: String, batchId: Long, p: MaintainPolicy,
      logDir: String): Unit = {
    val rep =
      if (kind == "minhash")
        graft.dedup.MinHashIndex.maintain(
          spark, indexDir, p.tombstoneRatio, p.fileDecay, p.targetFileMB)
      else
        graft.similarity.AnnIndex.maintain(
          spark, indexDir, p.tombstoneRatio, p.fileDecay,
          targetFileMB = p.targetFileMB)
    val row = rep.head()
    logMaintenance(spark, logDir, batchId, s"${kind}_index",
      row.getAs[Boolean]("compacted"), row.getAs[String]("reason"))
  }

  def maintainAnnIndex(
      embeddings: DataFrame,
      vecCol: String,
      indexDir: String,
      checkpoint: String,
      compactEvery: Int = 0,
      maintainPolicy: Option[MaintainPolicy] = None): org.apache.spark.sql.streaming.StreamingQuery =
    embeddings.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val applied = appendBatchOnce(batch, vecCol, indexDir, batchId)
        // in-line maintenance cadence: the stream is what creates the
        // small-file decay (one file per touched partition per batch), so
        // it carries the remedy — threshold-driven when a policy is set
        // (fold only when measured decay/tombstone signals cross), else
        // every `compactEvery` APPLIED batches, via
        // [[graft.similarity.AnnIndex.compact]] (search-identical by
        // contract, so serving never gaps). Replays skip it with the
        // append (applied = false); a crash between the marker and the
        // compact just defers to the next cadence point — compaction is a
        // layout optimization, never required for correctness.
        maintenanceTick(applied, batchId, compactEvery, maintainPolicy) { p =>
          maintainIndexByStats(batch.sparkSession, indexDir, "ann",
            batchId, p, indexDir)
        } {
          graft.similarity.AnnIndex.compact(batch.sparkSession, indexDir)
        }
      }
      .start()

  /** Continuous RETRACTION feed against a persisted index — the takedown
    * half of the serving lifecycle ([[maintainAnnIndex]] appends; this
    * deletes): each micro-batch of ids rides
    * [[graft.similarity.AnnIndex.deleteIds]] /
    * [[graft.dedup.MinHashIndex.deleteIds]] (id-frame-sized tombstone
    * writes; searches exclude the ids from the NEXT probe on), with the
    * same `compactEvery` cadence FOLDING accumulated tombstones into the
    * data files. `kind` = "ann" | "minhash". Replays are marker-gated
    * (stateDir = the index dir — shared with the append maintainer's
    * markers only if both run against one index from ONE lane, per the
    * single-maintainer contract); a replayed delete would be a harmless
    * no-op anyway (tombstoning is idempotent), the gate just skips the
    * work. */
  def maintainRetractions(
      ids: DataFrame,
      indexDir: String,
      checkpoint: String,
      kind: String = "ann",
      compactEvery: Int = 0,
      maintainPolicy: Option[MaintainPolicy] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    require(kind == "ann" || kind == "minhash",
      s"maintainRetractions: kind must be ann | minhash, got '$kind'")
    ids.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val applied = markerGated(s, s"$indexDir/_retract", batchId) {
          if (!batch.isEmpty) {
            if (kind == "ann") graft.similarity.AnnIndex.deleteIds(s, indexDir, batch)
            else graft.dedup.MinHashIndex.deleteIds(s, indexDir, batch)
          }
        }
        // the retraction lane's dominant signal is the pending-tombstone
        // ratio — exactly what the policy's threshold evaluation reads
        maintenanceTick(applied, batchId, compactEvery, maintainPolicy) { p =>
          maintainIndexByStats(s, indexDir, kind, batchId, p, indexDir)
        } {
          if (kind == "ann") graft.similarity.AnnIndex.compact(s, indexDir)
          else graft.dedup.MinHashIndex.compact(s, indexDir)
        }
      }
      .start()
  }

  /** The marker-gated append one micro-batch performs: append iff this
    * batchId has no marker, write the marker after the append commits.
    * Returns true iff the batch was applied (false = replay no-op). */
  private[graft] def appendBatchOnce(
      batch: DataFrame, vecCol: String, indexDir: String, batchId: Long): Boolean =
    markerGated(batch.sparkSession, indexDir, batchId) {
      graft.similarity.AnnIndex.kindOf(batch.sparkSession, indexDir) match {
        case "ivf"           => graft.similarity.AnnIndex.appendIvf(batch, vecCol, indexDir)
        case "ivfpq"         => graft.similarity.AnnIndex.appendIvfPq(batch, vecCol, indexDir)
        case "ivf_sharded"   => graft.similarity.AnnIndex.appendIvfSharded(batch, vecCol, indexDir)
        case "ivfpq_sharded" => graft.similarity.AnnIndex.appendIvfPqSharded(batch, vecCol, indexDir)
        case _               => graft.similarity.AnnIndex.appendLsh(batch, vecCol, indexDir)
      }
    }

  /** Run `body` iff `stateDir` has no marker for `batchId`; write the
    * marker after it commits. The shared replay gate of the append-shaped
    * streaming maintainers ([[maintainAnnIndex]], [[maintainDedupedCorpus]]):
    * appends can't overwrite their own output the way a batch-partitioned
    * sink can, so idempotence comes from skipping applied batch ids. */
  private def markerGated(
      spark: org.apache.spark.sql.SparkSession, stateDir: String, batchId: Long)(
      body: => Unit): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(s"$stateDir/_applied_batches/$batchId")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) false
    else {
      body
      fs.create(marker, true).close()
      true
    }
  }

  /** Streaming crawl source: watch `path` for new WARC files (plain or
    * `.warc.gz`) and emit one row per parsed record — the streaming twin
    * of [[graft.io.Warc.readWarc]], sharing its parse kernel byte for
    * byte. The binaryFile source delivers each FILE as one row (the
    * streaming file-source contract), so per-task memory here is the
    * file size rather than the batch reader's per-record bound — crawl
    * shards are sized for that (~1 GB members-compressed). */
  def readCrawlStream(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.readStream.format("binaryFile")
      // the binaryFile source's FIXED schema, which the streaming
      // DataSource API nevertheless requires spelled out
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .option("pathGlobFilter", "*.warc*")
      .load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        graft.io.Warc.records(new java.io.ByteArrayInputStream(bytes), p)
      }
      .toDF()
  }

  /** Continuously land crawl responses in the html_pages zone — the
    * streaming form of the `crawl-ingest` catalog stage: HTTP-200
    * responses of `mimePrefix`, payloads decoded, appended as
    * (url, fetch_ts, mime, html). Marker-gated appends keep checkpoint
    * replays exactly-once. URL-level dedup stays a BATCH compaction over
    * the landed zone (`Urls.dedupByUrl` / the url-dedup stage):
    * latest-fetch-wins has to see refetches across batches, which an
    * append-only maintainer by design does not. */
  def maintainCrawlPages(
      records: DataFrame,
      pagesDir: String,
      checkpoint: String,
      mimePrefix: String = "text/html",
      compactEvery: Int = 0,
      maintainPolicy: Option[MaintainPolicy] = None): org.apache.spark.sql.streaming.StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val applied = crawlPagesBatchOnce(batch, pagesDir, batchId, mimePrefix)
        // maintenance cadence (same contract as the corpus maintainers):
        // url-ordered, so the later url-dedup batch compaction scans
        // refetches of a url from adjacent row groups
        maintenanceTick(applied, batchId, compactEvery, maintainPolicy) { p =>
          val (folded, reason) = maintainTableByDecay(
            s, s"$pagesDir/pages.parquet", Seq("url"), p)
          logMaintenance(s, pagesDir, batchId, "pages", folded, reason)
        } {
          compactDocsTable(s, s"$pagesDir/pages.parquet", "url")
        }
      }
      .start()

  /** One crawl micro-batch's marker-gated landing; false = replay no-op. */
  private[graft] def crawlPagesBatchOnce(
      batch: DataFrame, pagesDir: String, batchId: Long,
      mimePrefix: String = "text/html"): Boolean =
    markerGated(batch.sparkSession, pagesDir, batchId) {
      // blind append: refuse while a crashed pages-table compaction
      // publish is pending (the backup is the authoritative table)
      graft.io.Compaction.requireNoPendingPublish(
        batch.sparkSession, s"$pagesDir/pages.parquet")
      batch
        .filter(col("warc_type") === "response" && col("http_status") === 200)
        .filter(col("mime").startsWith(mimePrefix))
        .select(col("target_uri").as("url"), col("warc_date").as("fetch_ts"),
          col("mime"),
          graft.io.Warc.payloadText(col("payload"), col("charset")).as("html"))
        .write.mode(SaveMode.Append).parquet(s"$pagesDir/pages.parquet")
    }

  /** Continuously ingest documents with exact dedup against everything
    * already accepted — the steady-state corpus curation loop as a
    * stream. Each micro-batch:
    *   1. collapses to one survivor per normalized-content hash
    *      (smallest id wins within the batch);
    *   2. anti-joins the persisted hash-state table (accepted history as
    *      HASHES — the state scan reads 32 bytes per accepted doc, never
    *      text);
    *   3. appends the surviving documents to `acceptedDir/docs.parquet`
    *      and their hashes to `acceptedDir/hashes.parquet`.
    * Work per batch is O(|batch| + |state-scan|); the stream's history is
    * never re-read as text. Replays are marker-gated like
    * [[maintainAnnIndex]]. */
  def maintainDedupedCorpus(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      acceptedDir: String,
      checkpoint: String,
      minQuality: Option[Double] = None,
      compactEvery: Int = 0,
      maintainPolicy: Option[MaintainPolicy] = None): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val applied =
          dedupBatchOnce(batch, idCol, textCol, acceptedDir, batchId, minQuality)
        // same maintenance cadence as the other maintainers; the hash
        // state decays fastest (every batch RE-READS it for the
        // anti-join), the docs table alongside it — under a policy each
        // table folds on ITS OWN measured decay, so the hot hash table
        // can fold while the docs table stays untouched
        maintenanceTick(applied, batchId, compactEvery, maintainPolicy) { p =>
          val (fh, rh) = maintainTableByDecay(
            s, s"$acceptedDir/hashes.parquet", Seq("__h"), p)
          logMaintenance(s, acceptedDir, batchId, "hashes", fh, rh)
          val (fd, rd) = maintainTableByDecay(
            s, s"$acceptedDir/docs.parquet", Seq(idCol), p)
          logMaintenance(s, acceptedDir, batchId, "docs", fd, rd)
        } {
          compactCorpusState(s, acceptedDir)
          compactDocsTable(s, s"$acceptedDir/docs.parquet", idCol)
        }
      }
      .start()

  /** Continuously ingest documents with NEAR-dup dedup against everything
    * already accepted — [[maintainDedupedCorpus]]'s MinHash twin for
    * streams where mutated copies (not byte-identical ones) are the
    * duplication mode. Each micro-batch:
    *   1. dedups within itself and against the persisted
    *      [[graft.dedup.MinHashIndex]] (banded buckets — the corpus text
    *      is never re-read);
    *   2. appends the survivors' documents to `acceptedDir/docs.parquet`;
    *   3. appends their shingles/buckets to the index so later batches
    *      dedup against them too.
    * The index must exist (build it on the seed corpus first — possibly
    * empty). Work per batch: O(|batch| + matched buckets). Replays are
    * marker-gated like the other append-shaped maintainers, with one
    * extra guard this maintainer needs: a crash BETWEEN the docs append
    * and the index append would otherwise make the replay re-append docs
    * the index doesn't know about (dedup keys on the index, so unlike the
    * exact-dedup maintainer it can't self-heal). A `begun` marker written
    * before the first attempt detects such a replay, and the replay then
    * reconciles BOTH sides by id: against docs.parquet ids so
    * already-appended docs are not re-appended, and against
    * [[graft.dedup.MinHashIndex.indexedIds]] so index entries the crashed
    * attempt already committed are not appended twice (since r19
    * `pairs()` excludes self-matches, so dedupBatch no longer drops an
    * already-indexed survivor on its own). Steady-state batches never pay
    * either id scan. */
  def maintainNearDupCorpus(
      docs: DataFrame,
      textCol: String,
      indexDir: String,
      acceptedDir: String,
      checkpoint: String,
      threshold: Double = 0.7,
      compactEvery: Int = 0,
      maintainPolicy: Option[MaintainPolicy] = None): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val applied = markerGated(s, acceptedDir, batchId) {
          val begun = new org.apache.hadoop.fs.Path(s"$acceptedDir/_begun_batches/$batchId")
          val fs = begun.getFileSystem(s.sparkContext.hadoopConfiguration)
          val replayOfPartial = fs.exists(begun)
          if (!replayOfPartial) fs.create(begun, true).close()
          val survivors = graft.dedup.MinHashIndex
            .dedupBatch(s, indexDir, batch, textCol, threshold)
            // the fold below writes twice (docs + index); materialize the
            // survivor set once so the dedup join doesn't run twice
            .localCheckpoint(true)
          if (!survivors.isEmpty) {
            val docsPath = s"$acceptedDir/docs.parquet"
            // blind append: refuse while a crashed docs-table compaction
            // publish is pending (the backup is the authoritative table)
            graft.io.Compaction.requireNoPendingPublish(s, docsPath)
            val toAppend =
              if (replayOfPartial &&
                  fs.exists(new org.apache.hadoop.fs.Path(docsPath))) {
                val idCol = graft.dedup.MinHashIndex.idColumn(s, indexDir)
                survivors.join(
                  s.read.parquet(docsPath).select(idCol), Seq(idCol), "left_anti")
              } else survivors
            toAppend.write.mode(org.apache.spark.sql.SaveMode.Append)
              .parquet(docsPath)
            // replay guard for the INDEX append (r19): pairs() excludes
            // self-matches now, so a survivor the crashed attempt already
            // committed to the index is no longer dropped by dedupBatch —
            // reconcile by id against the index layers before appending,
            // mirroring the docs.parquet guard above (and the semantic
            // maintainer's corpus anti-join)
            val toIndex =
              if (replayOfPartial)
                survivors.join(
                  graft.dedup.MinHashIndex.indexedIds(s, indexDir),
                  Seq(graft.dedup.MinHashIndex.idColumn(s, indexDir)),
                  "left_anti")
              else survivors
            graft.dedup.MinHashIndex.append(s, indexDir, toIndex, textCol)
          }
        }
        // same in-line maintenance cadence as maintainAnnIndex: merge the
        // per-batch small files the appends littered both index layers
        // AND the accepted corpus table with (probe-identical by
        // contract, MinHashIndexSpec) — threshold-evaluated under a
        // policy, blind-counted otherwise
        maintenanceTick(applied, batchId, compactEvery, maintainPolicy) { p =>
          maintainIndexByStats(s, indexDir, "minhash", batchId, p, acceptedDir)
          val (fd, rd) = maintainTableByDecay(
            s, s"$acceptedDir/docs.parquet",
            Seq(graft.dedup.MinHashIndex.idColumn(s, indexDir)), p)
          logMaintenance(s, acceptedDir, batchId, "docs", fd, rd)
        } {
          graft.dedup.MinHashIndex.compact(s, indexDir)
          compactDocsTable(s, s"$acceptedDir/docs.parquet",
            graft.dedup.MinHashIndex.idColumn(s, indexDir))
        }
      }
      .start()

  /** Compact a streaming sink's accepted-rows table iff it exists yet
    * (the first batches may all have been dropped as duplicates). */
  private def compactDocsTable(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      graft.io.Compaction.compactParquet(spark, path, Seq(idCol))
  }

  /** Continuously ingest EMBEDDINGS with semantic dedup against
    * everything already accepted — [[maintainNearDupCorpus]]'s vector
    * twin (streaming SemDeDup): each micro-batch
    *   1. dedups within itself (LSH-bucketed cosine pairs, higher id
    *      drops);
    *   2. probes the persisted IVF index for each survivor's nearest
    *      accepted neighbor and drops those at `threshold`+ cosine — the
    *      accepted corpus is read only through the partition-pruned index
    *      cells, never rescanned;
    *   3. appends survivors to `acceptedDir/docs.parquet` AND to the
    *      index ([[graft.similarity.AnnIndex.appendIvf]] assigns against
    *      the PERSISTED centroids — batch-sized work), so later batches
    *      dedup against them.
    * The IVF index must exist (build it on the seed corpus first).
    * Replays are marker-gated; the crash window between the two appends
    * is closed the same way as the near-dup maintainer, with one extra
    * guard: the nearest-neighbor probe excludes self-id matches, so a
    * replay after a crash BETWEEN index append and marker write
    * reconciles by id against the INDEX (rows it already carries are
    * dropped before any append) as well as against docs.parquet. */
  def maintainSemanticCorpus(
      vecs: DataFrame,
      vecCol: String,
      indexDir: String,
      acceptedDir: String,
      checkpoint: String,
      threshold: Double = 0.97,
      nprobe: Int = 0,
      compactEvery: Int = 0,
      maintainPolicy: Option[MaintainPolicy] = None): org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val applied = markerGated(s, acceptedDir, batchId) {
          if (!batch.isEmpty) { // an empty micro-batch just marks applied
            val begun = new org.apache.hadoop.fs.Path(s"$acceptedDir/_begun_batches/$batchId")
            val fs = begun.getFileSystem(s.sparkContext.hadoopConfiguration)
            val replayOfPartial = fs.exists(begun)
            if (!replayOfPartial) fs.create(begun, true).close()
            val idCol = graft.similarity.AnnIndex.idColumn(s, indexDir)
            // in-batch semantic dedup: lowest id of each twin chain stands
            val inBatchLosers = graft.similarity.Similarity
              .embeddingNearDupPairs(batch, idCol, vecCol, threshold)
              .select(col("id_b").as(idCol)).distinct()
            val inBatch = batch.join(inBatchLosers, Seq(idCol), "left_anti")
            // replay guard: rows the index already carries (committed by
            // the crashed attempt) must not re-append anywhere
            val replaySafe =
              if (replayOfPartial)
                inBatch.join(
                  s.read.parquet(s"$indexDir/corpus.parquet").select(idCol),
                  Seq(idCol), "left_anti")
              else inBatch
            // vs accepted corpus: nearest indexed neighbor at threshold+
            val hits = graft.similarity.AnnIndex
              .searchIvf(s, indexDir, replaySafe, idCol, vecCol, k = 1, nprobe)
              .filter(col("cosine") >= threshold)
              .select(col("query_id").as(idCol)).distinct()
            val survivors = replaySafe.join(hits, Seq(idCol), "left_anti")
              // two writes below; materialize the survivor set once
              .localCheckpoint(true)
            if (!survivors.isEmpty) {
              val docsPath = s"$acceptedDir/docs.parquet"
              // blind append: refuse while a crashed docs-table
              // compaction publish is pending
              graft.io.Compaction.requireNoPendingPublish(s, docsPath)
              val toAppend =
                if (replayOfPartial &&
                    fs.exists(new org.apache.hadoop.fs.Path(docsPath)))
                  survivors.join(
                    s.read.parquet(docsPath).select(idCol), Seq(idCol), "left_anti")
                else survivors
              toAppend.write.mode(org.apache.spark.sql.SaveMode.Append)
                .parquet(docsPath)
              graft.similarity.AnnIndex.appendIvf(survivors, vecCol, indexDir)
            }
          }
        }
        // same maintenance cadence as the other maintainers: the IVF
        // index and the accepted-vectors table both append per batch
        maintenanceTick(applied, batchId, compactEvery, maintainPolicy) { p =>
          maintainIndexByStats(s, indexDir, "ann", batchId, p, acceptedDir)
          val (fd, rd) = maintainTableByDecay(
            s, s"$acceptedDir/docs.parquet",
            Seq(graft.similarity.AnnIndex.idColumn(s, indexDir)), p)
          logMaintenance(s, acceptedDir, batchId, "docs", fd, rd)
        } {
          graft.similarity.AnnIndex.compact(s, indexDir)
          compactDocsTable(s, s"$acceptedDir/docs.parquet",
            graft.similarity.AnnIndex.idColumn(s, indexDir))
        }
      }
      .start()

  private[graft] def dedupBatchOnce(
      batch: DataFrame, idCol: String, textCol: String, acceptedDir: String,
      batchId: Long, minQuality: Option[Double] = None): Boolean =
    markerGated(batch.sparkSession, acceptedDir, batchId) {
      import graft.dedup.Dedup
      val spark = batch.sparkSession
      val hashesPath = s"$acceptedDir/hashes.parquet"
      val docsPath = s"$acceptedDir/docs.parquet"
      // optional quality gate FIRST: a pure expression filter, so junk
      // never pays the hash or touches the state join
      val gated = minQuality.fold(batch)(q =>
        graft.text.TextAnalysis.qualityFilter(batch, textCol, q))
      val withHash = gated.withColumn("__h", Dedup.contentHash(col(textCol)))
      // one survivor per hash within the batch (smallest id), then drop
      // content the accepted history already carries
      val batchSurvivors = withHash
        .join(
          withHash.groupBy(col("__h")).agg(min(col(idCol)).as(idCol)),
          Seq("__h", idCol), "left_semi")
      val fresh =
        if (new org.apache.hadoop.fs.Path(hashesPath)
              .getFileSystem(spark.sparkContext.hadoopConfiguration)
              .exists(new org.apache.hadoop.fs.Path(hashesPath)))
          batchSurvivors.join(
            spark.read.parquet(hashesPath), Seq("__h"), "left_anti")
        else batchSurvivors
      // persist the batch result once; both appends reuse it. Docs are
      // written BEFORE hashes deliberately: a crash between the two makes
      // the replay re-append the docs (duplicates — recoverable with
      // exactDedup downstream); the reverse order would make the replay
      // see the batch as already-known and silently LOSE its documents.
      val out = fresh.persist()
      // blind appends: refuse while a crashed compaction publish of
      // either table is pending (the backup is the authoritative copy)
      graft.io.Compaction.requireNoPendingPublish(spark, docsPath)
      graft.io.Compaction.requireNoPendingPublish(spark, hashesPath)
      try {
        out.drop("__h").write.mode(SaveMode.Append).parquet(docsPath)
        out.select(col("__h")).write.mode(SaveMode.Append).parquet(hashesPath)
      } finally { out.unpersist(); () }
    }

  /** Compact the ingester's hash-state table. Per-batch appends accrete
    * one small file per micro-batch — the classic small-files decay: after
    * 10k batches the anti-join pays 10k file opens to read what fits in a
    * handful. The hash table is the one every batch RE-READS, so it
    * decays fastest. Delegates to the shared staged-rewrite core
    * ([[graft.io.Compaction]] — r17: count-verified publish, crashed-swap
    * recovery on the next call, concurrent-append abort; this replaced a
    * weaker hand-rolled swap whose crash repair was manual), ordered by
    * hash so the anti-join's probe ranges cluster. Run it from the
    * ingest lane — the [[maintainDedupedCorpus]] `compactEvery` cadence
    * is the natural place. */
  def compactCorpusState(
      spark: org.apache.spark.sql.SparkSession, acceptedDir: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(s"$acceptedDir/hashes.parquet")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(live))
      graft.io.Compaction.compactParquet(spark, live.toString, Seq("__h"))
  }

  /** Parquet sink with checkpointing; returns the started query. */
  def writeParquetStream(df: DataFrame, path: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .option("path", path)
      .start()
}
