package graft.dp

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance: per-key mergeable state.
  *
  * At 100 TB you do not recompute corpus statistics from scratch when a new
  * batch lands — you keep a per-key state table of MERGEABLE aggregates
  * (count / sum / min / max) and fold each day's partial state into it.
  * `aggState` computes a batch's state (one map-side-combinable groupBy);
  * `mergeStates` folds two state frames with a full-outer equi-join on the
  * key — cost proportional to the STATE size (number of keys), never the
  * history. The invariant (asserted by the `incremental_agg_state` oracle,
  * which recomputes from all rows): merge(state(A), state(B)) ==
  * state(A ∪ B) for disjoint batches.
  *
  * Sums are carried as exact decimal(18,2)-derived decimals, so merge order
  * never flips a bit — state produced by daily folds is byte-identical to a
  * from-scratch recompute. Averages fall out as sum/count downstream;
  * non-mergeable stats (exact median) intentionally have no place here —
  * use the approx sketches for those.
  */
object IncrementalAgg {

  /** One batch's per-key state: n, exact decimal sum, min, max. */
  def aggState(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(
        count(col(valueCol)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).as("sum_v"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))

  /** Fold a batch's state into a parquet state DIRECTORY with a
    * read-merge-swap: merge with the existing state (if any), write to a
    * temp dir, then publish it with [[graft.io.Publish.swap]] — the state
    * table is never read and overwritten in the same job, and a crash
    * mid-write leaves the old state intact. A crash inside the swap is
    * recovered on entry: the next fold first restores the `<state>.old`
    * backup when the state dir is missing. `batchId` makes replays
    * idempotent: a batch at or below the last folded id is skipped (the
    * at-least-once delivery of checkpointed streaming restarts would
    * otherwise double-count).
    * `tag` says how the state was built (say, the tokenizer's pre-tokenize
    * mode). The fold that creates the state stores it inside the same
    * swap; every later fold must carry the same tag or fails before it
    * writes, and [[stateTag]] reads it back. A state created without a tag
    * stays untagged: the batches already in it could have been built any
    * way.
    * Cost per fold: O(|state| + |batch|) — never the history. */
  def foldStateDir(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String,
      batchState: DataFrame,
      keyCol: String,
      batchId: Long = Long.MinValue,
      // the swap protocol is state-schema-agnostic: the default folds this
      // object's n/sum/min/max frames; QuantileState.mergeQuantileSketches
      // plugs in GK quantile state, mergeDistinctSketches HLL state
      merge: (DataFrame, DataFrame, String) => DataFrame = mergeStates,
      tag: Option[String] = None): Unit = {
    val dir = new Path(statePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(statePath + ".tmp")
    val old = new Path(statePath + ".old")
    // a crashed swap leaves the only copy of the history in `old`: restore
    // it before anything reads the state, its batch marker included
    val exists = graft.io.Publish.recover(spark, dir, tmp, old)
    def write(p: Path, text: String): Unit = {
      val out = fs.create(p, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    // the batch-id marker lives INSIDE the state directory (underscore
    // prefix — parquet readers skip it), so marker and state arrive in
    // the SAME atomic rename. A marker written after the swap would leave
    // a crash window where the fold landed but the marker didn't: the
    // streaming restart's replay would pass the id check and double-count
    // the batch.
    def markerIn(d: Path) = new Path(d, "_graft_batch_id")
    val legacyMarker = new Path(statePath + ".batchid")
    def readMarker(p: Path): Option[Long] = readText(fs, p).map(_.toLong)
    if (batchId != Long.MinValue) {
      val last = readMarker(markerIn(dir)).orElse(readMarker(legacyMarker))
      if (last.exists(batchId <= _)) return // replayed batch — already folded
    }
    val had = if (exists) readText(fs, tagIn(dir)) else None
    if (had.isDefined && tag != had)
      throw new IllegalArgumentException(
        s"foldStateDir: $statePath is tagged ${had.get}; this batch is tagged ${tag.getOrElse("(none)")}")
    val merged =
      if (exists) merge(spark.read.parquet(statePath), batchState, keyCol)
      else batchState
    merged.write.mode("overwrite").parquet(tmp.toString)
    if (batchId != Long.MinValue) write(markerIn(tmp), batchId.toString)
    (if (exists) had else tag).foreach(write(tagIn(tmp), _))
    graft.io.Publish.swap(spark, dir, tmp, old)
    // migration: drop a legacy side-car marker so it can't shadow the
    // in-directory one on older state dirs
    fs.delete(new Path(statePath + ".batchid"), false)
  }

  private def tagIn(d: Path) = new Path(d, "_graft_tag")

  private def readText(fs: FileSystem, p: Path): Option[String] =
    Option.when(fs.exists(p)) {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
    }

  /** The tag [[foldStateDir]] stored with the state, if any. */
  def stateTag(spark: org.apache.spark.sql.SparkSession, statePath: String): Option[String] = {
    val dir = new Path(statePath)
    readText(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), tagIn(dir))
  }

  /** One batch's per-key DISTINCT-count state: an HLL sketch of the value
    * column (Spark 4's Datasketches-backed hll_sketch_agg). Unlike exact
    * countDistinct, the sketch is a few KB per key and MERGEABLE — the
    * distinct-count companion to [[aggState]] for incremental pipelines
    * where re-scanning history per batch is off the table. */
  def distinctSketch(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(hll_sketch_agg(col(valueCol)).as("sketch"))

  /** Fold two distinct-count state frames: union + hll_union_agg per key.
    * Note the union promotes small sparse-mode sketches to dense HLL, so a
    * folded estimate can differ by a hair from a from-scratch single-pass
    * sketch at tiny cardinalities — both stay inside the sketch's relative
    * error bound (asserted in the spec), which is the HLL contract. */
  def mergeDistinctSketches(a: DataFrame, b: DataFrame, keyCol: String): DataFrame =
    a.unionByName(b)
      .groupBy(col(keyCol))
      .agg(hll_union_agg(col("sketch")).as("sketch"))

  /** Read a distinct-count state frame: estimated distinct values per key. */
  def estimateDistinct(state: DataFrame, keyCol: String): DataFrame =
    state.select(col(keyCol), hll_sketch_estimate(col("sketch")).as("approx_distinct"))

  // ------------------------------------------------- Count-Min Sketch

  /** Portable 52-bit uniform slot draw for CMS hash row `r`: the same
    * md5-prefix arithmetic as sampling's reservoir draws, so any engine
    * (the DuckDB oracle included) recomputes the identical slot. */
  private def cmsSlot(item: Column, r: Column, width: Int): Column =
    pmod(
      graft.Exprs.md5Bits52(concat_ws(":", item.cast("string"), r.cast("string"))),
      lit(width.toLong))

  /** One batch's Count-Min Sketch state: the frequency companion to
    * [[distinctSketch]] — "how often does item x occur" over a stream or
    * corpus too big to keep exact per-item counts for. `depth` hash rows
    * × `width` counters; each occurrence increments one counter per row,
    * estimates read the MIN across rows, so collisions only ever inflate:
    * `true <= est <= true + (N - true) * depth/width`-ish, the classic
    * CMS one-sided bound (est >= true is asserted exactly by the oracle).
    *
    * The state is the SPARSE counter table (r, slot, cnt) — at most
    * depth·width rows regardless of data size, merge = union + sum
    * (associative/commutative, so daily folds equal a from-scratch
    * build, asserted in the spec), and the relational shape keeps
    * everything map-side combinable: the batch first compacts to exact
    * per-item counts (bounded by distinct items, the same shuffle any
    * groupBy pays), then explodes only depth rows per DISTINCT item.
    * `w` and `d` ride along so a mismatched merge/estimate fails loudly
    * instead of silently mixing incompatible hash spaces. */
  def cmsState(
      df: DataFrame,
      itemCol: String,
      width: Int = 1024,
      depth: Int = 4): DataFrame = {
    require(width > 0 && depth > 0, s"need width > 0 and depth > 0, got $width/$depth")
    // null items are excluded, not hashed: concat_ws silently drops a null
    // operand, so a null item would hash to an arbitrary shared slot in
    // the state while cmsEstimate groups it under the null key — silent
    // miscounts either way; count nulls upstream if they matter
    df.filter(col(itemCol).isNotNull)
      .groupBy(col(itemCol))
      .agg(count(lit(1)).as("__cnt"))
      .select(col(itemCol), col("__cnt"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .groupBy(col("r"), cmsSlot(col(itemCol), col("r"), width).as("slot"))
      .agg(sum(col("__cnt")).as("cnt"))
      .select(col("r"), col("slot"), col("cnt"), lit(width).as("w"), lit(depth).as("d"))
  }

  /** Fold two CMS states built at the same (width, depth): union + sum
    * per counter. Cost is state-sized (≤ depth·width rows per side),
    * never data-sized. An EMPTY side (the state of an empty batch) is
    * the merge identity and carries no params to check. */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame = {
    val pa = a.select(col("w"), col("d")).limit(1).collect().headOption
    val pb = b.select(col("w"), col("d")).limit(1).collect().headOption
    if (pa.isEmpty) return b
    if (pb.isEmpty) return a
    require(pa == pb,
      s"CMS param mismatch: (${pa.get.getInt(0)},${pa.get.getInt(1)}) vs " +
        s"(${pb.get.getInt(0)},${pb.get.getInt(1)}) — states hash different spaces")
    a.unionByName(b)
      .groupBy(col("r"), col("slot"), col("w"), col("d"))
      .agg(sum(col("cnt")).as("cnt"))
      .select(col("r"), col("slot"), col("cnt"), col("w"), col("d"))
  }

  /** Point-estimate item frequencies from a CMS state: re-derive each
    * item's depth slots, left-join the counter table (missing counter =
    * 0 — the item never hashed there), min across rows. The items frame
    * is the small side (a lookup list); the state is ≤ depth·width rows
    * and broadcasts. */
  def cmsEstimate(state: DataFrame, items: DataFrame, itemCol: String): DataFrame = {
    val p = state.select(col("w"), col("d")).head()
    val (width, depth) = (p.getInt(0), p.getInt(1))
    items.select(col(itemCol)).filter(col(itemCol).isNotNull).distinct()
      .select(col(itemCol), explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col(itemCol), col("r"), cmsSlot(col(itemCol), col("r"), width).as("slot"))
      .join(broadcast(state.select(col("r"), col("slot"), col("cnt"))),
        Seq("r", "slot"), "left")
      .groupBy(col(itemCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Fold state frame `b` into `a` (full outer on the key; keys present in
    * only one side pass through). least/greatest skip nulls in Spark, so
    * one-sided keys keep their own min/max. */
  def mergeStates(a: DataFrame, b: DataFrame, keyCol: String): DataFrame = {
    val zero = lit(0).cast("decimal(18,2)")
    val bb = b.select(
      col(keyCol),
      col("n").as("__n2"),
      col("sum_v").as("__sum2"),
      col("min_v").as("__min2"),
      col("max_v").as("__max2"))
    a.join(bb, Seq(keyCol), "full_outer")
      .select(
        col(keyCol),
        (coalesce(col("n"), lit(0L)) + coalesce(col("__n2"), lit(0L))).as("n"),
        (coalesce(col("sum_v"), zero) + coalesce(col("__sum2"), zero)).as("sum_v"),
        least(col("min_v"), col("__min2")).as("min_v"),
        greatest(col("max_v"), col("__max2")).as("max_v"))
  }
}
