package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — the query set is broadcast, the
  * corpus is scanned once, and per-query top-k is a partitioned window on
  * the (queries × corpus) frame, which is |Q|·N rows but never N².
  *
  * Scale path: random-hyperplane (sign-bit) LSH — each vector gets a
  * b-bit signature per table; candidates are corpus rows sharing a bucket
  * with the query in ANY table. The planes are deterministic Rademacher
  * vectors derived from xxhash64(table, bit, dim), so signatures are pure
  * expressions — no driver-side randomness, no model state to ship.
  *
  * Ranking is by cosine ROUNDED to 6 decimals (ties broken by id) so
  * results are reproducible across engines and summation orders.
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  import graft.expressions.ArrayDot
  import org.apache.spark.sql.graft.Bridge

  /** Double-precision dot product — a codegen'd custom Expression. The
    * higher-order-function formulation (aggregate ∘ zip_with) runs as
    * interpreted lambdas and is ~1000× slower per element. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(ArrayDot(
      Bridge.expression(a.cast("array<double>")),
      Bridge.expression(b.cast("array<double>"))))

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * = max|x| / 127, elements stored as tinyint. 4-8x less storage and
    * scan IO than float32/float64 arrays — at 100 TB of embeddings the
    * quantized corpus is what stays hot; re-rank the shortlist against
    * full-precision vectors if the ~1/254-per-element rounding error
    * matters. Returns struct(codes: array<tinyint>, scale: float). */
  def quantizeInt8(v: Column): Column = {
    val scale = greatest(aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x))), lit(1e-30)) / 127.0
    struct(
      transform(v, x => round(x / scale).cast("byte")).as("codes"),
      scale.cast("float").as("scale"))
  }

  /** Inverse of [[quantizeInt8]] (lossy): codes * scale as double array.
    * A codegen'd kernel ([[graft.expressions.DequantizeInt8]]) since r18:
    * the `transform` formulation ran an interpreted lambda per element
    * per row on the scoring path of every QUANTIZED index search (every
    * pruned candidate dequantizes before the exact re-rank — ~10⁹
    * interpreted calls for a 1M-candidate scan at production dims). */
  def dequantizeInt8(q: Column): Column =
    Bridge.column(graft.expressions.DequantizeInt8(Bridge.expression(q)))

  /** Final ranking shared by all top-k searches: k best by
    * (cosine DESC, id ASC) per query. The window formulation is
    * deliberately kept: Spark ≥ 3.5 infers a WindowGroupLimit from the
    * adjacent `rank <= k` filter, so each map partition is cut to k rows
    * per query BEFORE the exchange (Partial mode — verified on the 4.1
    * plan, see SCALE.md) and it benches ~2× faster than the bounded-heap
    * aggregate at equal shuffle volume. graft.dp.TopK remains the tool
    * when top-k must compose with other aggregates in one pass. */
  /** Corpus and query ids must share a comparison-safe type: Spark
    * coerces a lossy cross-family comparison (e.g. string vs long) to a
    * cast that evaluates to null for every pair, and the self-pair
    * inequality filter then silently drops ALL candidates — an empty
    * result instead of an error. Lossless numeric widening WITHIN a
    * family (int vs long, float vs double) compares correctly and is
    * allowed. (Ids must also share a namespace: self-exclusion is by id
    * equality.) */
  private[similarity] def requireSameIdType(
      corpus: DataFrame, idCol: String, queries: DataFrame, queryIdCol: String): Unit =
    requireComparableIdTypes(
      corpus.schema(idCol).dataType, s"corpus id '$idCol'",
      queries.schema(queryIdCol).dataType, s"query id '$queryIdCol'")

  /** Type-level form of [[requireSameIdType]], shared by every operator
    * whose self-pair filter compares a corpus id to a query id — including
    * ones outside this package (lexical retrieval) and ones whose corpus
    * type comes from a persisted index's metadata rather than a live
    * DataFrame ([[AnnIndex.searchIvf]]/[[AnnIndex.searchLsh]]). */
  private[graft] def requireComparableIdTypes(
      ct: org.apache.spark.sql.types.DataType, corpusDesc: String,
      qt: org.apache.spark.sql.types.DataType, queryDesc: String): Unit = {
    import org.apache.spark.sql.types._
    def family(t: DataType): String = t match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType => "integral"
      case _: FloatType | _: DoubleType                              => "fractional"
      case other                                                     => other.simpleString
    }
    // digits needed to hold each integral type exactly in a decimal
    def intDigits(t: DataType): Option[Int] = t match {
      case _: ByteType => Some(3); case _: ShortType   => Some(5)
      case _: IntegerType => Some(10); case _: LongType => Some(20)
      case _ => None
    }
    // cross-family pairs Spark's comparison coercion widens EXACTLY:
    // the widened type represents every value of both sides, so = / =!=
    // never nulls out and the self-pair filter keeps working
    def lossless(a: DataType, b: DataType): Boolean = (a, b) match {
      // decimal↔decimal widens to decimal(max int digits + max scale) —
      // exact while that fits decimal's precision cap
      case (da: DecimalType, db: DecimalType) =>
        math.max(da.precision - da.scale, db.precision - db.scale) +
          math.max(da.scale, db.scale) <= DecimalType.MAX_PRECISION
      // decimal↔integral widens the same way (long needs 20 digits > 19,
      // so decimal(38,s>18)↔long correctly fails the cap)
      case (d: DecimalType, i) if intDigits(i).isDefined =>
        math.max(d.precision - d.scale, intDigits(i).get) + d.scale <=
          DecimalType.MAX_PRECISION
      case (i, d: DecimalType) if intDigits(i).isDefined => lossless(d, i)
      // byte/short/int are exact in double's 52-bit mantissa; long is NOT
      case (_: ByteType | _: ShortType | _: IntegerType, _: DoubleType) => true
      case (_: DoubleType, _: ByteType | _: ShortType | _: IntegerType) => true
      // byte/short are exact in float's 24-bit mantissa; int is NOT
      case (_: ByteType | _: ShortType, _: FloatType) => true
      case (_: FloatType, _: ByteType | _: ShortType) => true
      case _ => false
    }
    require(ct == qt || family(ct) == family(qt) || lossless(ct, qt),
      s"$corpusDesc (${ct.simpleString}) and $queryDesc " +
        s"(${qt.simpleString}) must be losslessly comparable: the same type, " +
        "same-family numerics (int↔long, float↔double), or an exact " +
        "cross-family widening (decimal↔decimal / decimal↔integral within " +
        "the precision cap, byte/short/int↔double, byte/short↔float) — " +
        "a lossy coerced comparison (e.g. string↔long, long↔double, " +
        "int↔float) nulls out the self-pair filter " +
        "and every query returns empty")
  }

  private[similarity] def rankTopK(
      scored: DataFrame, idCol: String, k: Int,
      extraCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col(idCol).asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select((Seq("query_id", idCol, "cosine", "rank") ++ extraCols).map(col): _*)
  }

  /** Brute-force cosine top-k: for each query vector (small set, broadcast),
    * the k nearest corpus vectors. */
  def cosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      k: Int): DataFrame = {
    requireSameIdType(corpus, idCol, queries, queryIdCol)
    // norms are computed ONCE per row on each side (higher-order-function
    // folds don't codegen — per-pair norm recomputation tripled the work).
    // Zero-norm vectors are excluded on BOTH sides: cosine would be
    // 0/0 = NaN, and Spark sorts NaN above every real number, so one
    // zero embedding would otherwise take rank 1 of every query.
    val q = broadcast(
      queries.select(
        col(queryIdCol).as("query_id"),
        col(vecCol).as("__qv"),
        l2Norm(col(vecCol)).as("__qn"))
        .filter(col("__qn") > 0))
    val scored = corpus
      .select(col(idCol), col(vecCol).as("__cv"), l2Norm(col(vecCol)).as("__cn"))
      .filter(col("__cn") > 0)
      .crossJoin(q)
      .filter(col(idCol) =!= col("query_id"))
      .select(
        col("query_id"),
        col(idCol),
        round(dot(col("__cv"), col("__qv")) / (col("__cn") * col("__qn")), 6).as("cosine"))
    rankTopK(scored, idCol, k)
  }

  /** All `tables` sign signatures of a vector in one native loop
    * (graft.expressions.RademacherSignatures — the expression-composition
    * route of tables × bits literal-plane dots generated a projection so
    * large its background JIT compilation starved the JVM for ~40 s after
    * the query, inflating the NEXT query in shared-session benchmarks). */
  def lshSignatures(vec: Column, tables: Int, bits: Int, dim: Int = 64): Column =
    Bridge.column(graft.expressions.RademacherSignatures(
      Bridge.expression(vec.cast("array<double>")), tables, bits, dim))

  /** b-bit sign signature of a vector under table t's Rademacher planes
    * (single-table view of [[lshSignatures]]: the expression's tableStart
    * makes this O(1) tables of work, not O(t)). */
  def lshSignature(vec: Column, table: Int, bits: Int, dim: Int = 64): Column =
    element_at(
      Bridge.column(graft.expressions.RademacherSignatures(
        Bridge.expression(vec.cast("array<double>")), 1, bits, dim, tableStart = table)),
      1)

  /** LSH-bucketed approximate cosine top-k: candidates are corpus vectors
    * sharing a (table, signature) bucket with the query in any of
    * `tables` tables; exact cosine ranks the candidates. Recall grows with
    * `tables`, bucket size shrinks with `bits`.
    *
    * `probes` > 0 turns on multi-probe LSH (Lv et al., VLDB 2007): each
    * query additionally probes the buckets whose signature differs in one
    * of its low `probes` bits — near neighbors that straddle a hyperplane
    * land one bit away, so probing Hamming-1 buckets buys the recall of
    * many extra tables for free. The expansion is QUERY-side only (the
    * broadcast side): the corpus still writes exactly one bucket per
    * table, so corpus storage and shuffle are unchanged — the right
    * trade at scale, where the corpus is 10^9 rows and queries are
    * thousands.
    *
    * `bits = 0` (the default) auto-scales the signature width to
    * log2(N / max(64, 4k)) — constant EXPECTED bucket population as the
    * corpus grows. A FIXED width is the scale trap the IVF auto-nlist
    * also avoids: at bits=8 a 10^9-row corpus packs ~4M rows into every
    * bucket, and per-query candidate work blows up linearly with N;
    * with auto bits it stays ~tables × bucket × (1 + probes) rows
    * regardless of corpus size. Clamped to [4, 24] (beyond 24 bits,
    * per-plane noise outruns the sketch; raise `tables` instead). */
  def lshCosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      k: Int,
      tables: Int = 8,
      bits: Int = 0,
      probes: Int = 0): DataFrame = {
    requireSameIdType(corpus, idCol, queries, queryIdCol)
    require(bits >= 0, s"bits must be >= 0 (0 = auto), got $bits")
    val sigBits = if (bits > 0) bits else lshAutoBits(corpus.count(), k)
    val cSig = lshSide(corpus, idCol, vecCol, "__cv", tables, sigBits)
    val qSig = lshQuerySide(queries, queryIdCol, vecCol, tables, sigBits, probes)
    lshScore(cSig, qSig, idCol, k)
  }

  /** One side of the LSH bucket join: (id, vec, norm, table, sig) with one
    * row per (row, table). Zero-norm exclusion: see cosineTopK — NaN
    * cosine would outrank every real candidate. */
  private[similarity] def lshSide(
      df: DataFrame, id: String, vecCol: String, out: String,
      tables: Int, sigBits: Int, extraCols: Seq[String] = Nil): DataFrame =
    df.select(
        col(id) +:
          col(vecCol).as(out) +:
          l2Norm(col(vecCol)).as(s"${out}_n") +:
          posexplode(lshSignatures(col(vecCol), tables, sigBits)).as(Seq("table", "sig")) +:
          extraCols.map(col): _*)
      .filter(col(s"${out}_n") > 0)

  /** Query side of the LSH bucket join, with optional Hamming-1
    * multi-probe expansion (query-side only — corpus storage and shuffle
    * are unchanged, see [[lshCosineTopK]]). */
  private[similarity] def lshQuerySide(
      queries: DataFrame, queryIdCol: String, vecCol: String,
      tables: Int, sigBits: Int, probes: Int): DataFrame = {
    val qBase = lshSide(
      queries.withColumnRenamed(queryIdCol, "query_id"), "query_id", vecCol, "__qv",
      tables, sigBits)
    if (probes <= 0) qBase
    else {
      val flips = math.min(probes, sigBits)
      qBase.select(
        col("query_id"), col("__qv"), col("__qv_n"), col("table"),
        explode(concat(
          array(col("sig")),
          transform(
            sequence(lit(0), lit(flips - 1)),
            j => col("sig").bitwiseXOR(pow(lit(2.0), j).cast("long"))))).as("sig"))
    }
  }

  /** Bucket-join candidates, exact-cosine re-rank — the shared tail of the
    * one-shot [[lshCosineTopK]] and the prebuilt-index search
    * ([[AnnIndex.searchLsh]]). `qSig` must be broadcast-sized. */
  private[similarity] def lshScore(
      cSig: DataFrame, qSig: DataFrame, idCol: String, k: Int): DataFrame = {
    val cands = cSig
      .join(broadcast(qSig), Seq("table", "sig"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol), col("__cv"), col("__cv_n"), col("__qv"), col("__qv_n"))
      .distinct()
    val scored = cands.select(
      col("query_id"),
      col(idCol),
      round(dot(col("__cv"), col("__qv")) / (col("__cv_n") * col("__qv_n")), 6).as("cosine"))
    rankTopK(scored, idCol, k)
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * (spark.ml KMeans, seeded) assigns every corpus vector to one of
    * `nlist` cells; each query searches only its `nprobe` nearest cells,
    * and exact cosine re-ranks the candidates.
    *
    * Scale shape: the quantizer fits on a bounded hash-ordered sample
    * (`fitSample` rows, unbiased on sorted corpora), cell assignment is one
    * model.transform over the corpus, and the candidate join is
    * (query, probed-cell) pairs — tiny, broadcast — against the
    * cell-partitioned corpus: work is |corpus|·nprobe/nlist per query in
    * expectation, never N². Probe selection is a distributed rank of each
    * query against the broadcast nlist×dim centroid frame (any id type).
    * Complements [[lshCosineTopK]]: IVF adapts to the data distribution,
    * LSH needs no fitting.
    *
    * `nlist = 0` (the default) auto-scales the cell count to ~√N
    * (one corpus count(), clamped to [16, 65536] — see [[ivfAutoNlist]]
    * for what binds the cap now); `nprobe = 0` probes
    * max(nlist/3, enough cells for an expected ~30·k-row candidate
    * pool) — targeting recall ≥ 0.85 even on near-uniform data, see
    * [[ivfAutoNprobe]]. A FIXED nlist is the scale trap this default
    * exists to avoid: recall at constant (nlist, nprobe) decays as the
    * corpus grows — measured on the testdata embeddings, 16 cells / 6
    * probes give 0.74 recall at 500 rows but 0.48 at 2000, while at the
    * SAME 38% probed fraction 64 cells give 0.84: on clustered data,
    * finer cells concentrate true neighbors better than wider probing
    * (the r8 auto rule holds recall at ~0.86+ across both scales).
    * Above [[IvfFlatFitMaxCells]] cells the fit and the full-corpus
    * assignment both go two-level ([[ivfFit]]), so √N cells stay
    * affordable to the 65536 cap (~4.3 B vectors); past THAT, shard the
    * index rather than grow nlist. */
  /** Auto signature width for sign-bit LSH: log2(N / targetBucket) with
    * targetBucket = max(64, 4k), clamped to [4, 24] — constant expected
    * bucket population as the corpus grows (see [[lshCosineTopK]]). */
  private[graft] def lshAutoBits(corpusCount: Long, k: Int): Int = {
    val n = math.max(1L, corpusCount)
    val target = math.max(64L, 4L * math.max(1, k))
    val raw = math.round(math.log(n.toDouble / target) / math.log(2.0)).toInt
    math.min(24, math.max(4, raw))
  }

  /** Auto cell count: ~√N, clamped to [16, min(N, 65536)]. The cap was
    * 4096 through r15 because flat k-means fit cost grows as
    * fitSample·cells; the two-level fit ([[ivfFit]], engaging above
    * [[IvfFlatFitMaxCells]]) and the shuffle-free two-level assignment
    * removed that term, and r15's hierarchical probe ranking
    * ([[centroidCandidates]]) already removed the query-side O(cells)
    * scan — so √N cells now hold to ~4.3 BILLION vectors before the cap
    * binds. The remaining O(cells) term behind the new cap is the
    * centroid frame itself: it is broadcast on the probe path, so the
    * cap is DIMENSIONALITY-AWARE (r16 ADVICE): cells·dims is held under
    * [[CentroidBudgetDoubles]] (65536 cells × 64 dims ≈ 33 MB — fine;
    * a dims-blind 65536 at production embedding widths of 768-1536
    * would ship 0.4-0.8 GB). Callers that know the vector width pass
    * it ([[vecWidth]] resolves it from ONE stored row on the auto path
    * only — never a corpus-wide aggregate); `dims = 0` keeps the flat
    * 65536 cap. Corpora whose √N exceeds the cap shard the index
    * rather than grow cells further ([[AnnIndex]]). */
  private[graft] def ivfAutoNlist(corpusCount: Long, dims: Int = 0): Int = {
    val n = math.max(1L, corpusCount)
    val bySqrt = math.max(16, math.round(math.sqrt(n.toDouble)).toInt)
    // the 1024-cell floor keeps IVF functional at extreme widths (the
    // broadcast budget is a target, not a hard ceiling — at dims beyond
    // ~8k the floor admits a proportionally larger frame)
    val dimCap =
      if (dims > 0) math.max(1024L, CentroidBudgetDoubles / dims) else 65536L
    val cap = math.min(65536L, dimCap)
    if (bySqrt > cap && cap < 65536L)
      log.info(s"ivf auto-nlist: dims=$dims caps cells at $cap " +
        "(centroid broadcast budget) — shard the index to grow further")
    math.max(1, math.min(bySqrt.toLong, math.min(n, cap)).toInt)
  }

  /** Broadcast budget for the centroid frame, in double components:
    * 8M doubles = 64 MB. The auto cell count is capped so cells·dims
    * stays under it — at 64-dim vectors the flat 65536 cap binds first
    * (no change to any pre-r17 operating point); at 768/1536 dims the
    * auto cap lands at 10922/5461 cells instead of shipping a
    * 0.4-0.8 GB broadcast per probe pass. */
  private[graft] val CentroidBudgetDoubles: Long = 8L * 1024 * 1024

  /** Vector width for the dims-aware [[ivfAutoNlist]] cap: ONE stored
    * row's array size (constant-width corpora by contract; stray null
    * vectors skipped), so the auto path pays a take(1) on top of the
    * count() it always paid. A corpus-wide `max(size(vec))` aggregate
    * here would silently turn the formerly column-pruned count pass
    * into a full read of every vector's bytes — at 100 TB of
    * embeddings, the difference between a footer pass and a table
    * scan. 0 when no non-null vector exists (keeps the flat cap). */
  private[graft] def vecWidth(corpus: DataFrame, vecCol: String): Int =
    corpus.select(size(col(vecCol)).as("__d"))
      .filter(col("__d").isNotNull && col("__d") >= 0)
      .take(1).headOption.map(_.getInt(0)).getOrElse(0)

  /** Corpus-size boundary between the two auto-nprobe regimes. Below it
    * the fractional `cells/3` floor applies (tuned on the pessimal
    * near-uniform testdata — see [[ivfAutoNprobe]]); at or above it the
    * candidate-pool target is primary. 100k is where the pool target
    * starts to undercut the fraction on testdata-shaped parameters. */
  private[graft] val IvfSmallCorpus: Long = 100000L

  /** Candidate-pool target per requested neighbor in the SCALE regime:
    * auto-nprobe aims for an expected `IvfScalePoolPerK · k` verified
    * candidates per query. Calibrated on the planted clustered harness
    * ([[graft.tools.Recall]] `ann_ivf_scale_policy`: 120k vectors, 256
    * strongly-overlapping clusters) — measured 0.986 at the auto point
    * with the [[IvfScaleMinProbes]] floor active, bound 0.85. */
  private[graft] val IvfScalePoolPerK: Double = 240.0

  /** Absolute probe floor in the scale regime: even when one cell already
    * exceeds the pool target, probe at least this many cells — a query
    * near a cell boundary needs its neighborhood's cells, not just the
    * single nearest (the standard IVF boundary-loss hedge). Calibrated
    * at the r15 [[IvfScaleFloorCells]] cap; see [[ivfScaleProbeFloor]]
    * for how it scales past it. */
  private[graft] val IvfScaleMinProbes: Int = 8

  /** Cell count the 8-probe floor was calibrated at (the pre-r16 auto
    * nlist cap). */
  private[graft] val IvfScaleFloorCells: Int = 4096

  /** CANDIDATE-VOLUME-PRESERVING probe floor (r17, closing the r16
    * verdict's one `weak`): lifting the nlist cap to 65536 made auto
    * cells finer past N ≈ 16.8M, and a FIXED 8-probe floor then probes a
    * shrinking corpus fraction — measured recall at the auto point FELL
    * below the old capped default (0.560 vs 0.652 at 40M, SCALEBENCH
    * cap-lift table) even though finer cells win at equal work (0.696 at
    * the equal-volume nprobe). So past the calibration cap the floor
    * scales with cell count, `ceil(8 · cells / 4096)`, keeping the floor
    * point's expected candidate volume (probes · N/cells) equal to the
    * volume the 0.85 bound was calibrated on: 8 probes at ≤4096 cells
    * (every pre-r17 operating point — all recall artifacts ≤ 200k
    * vectors resolve cells ≤ 4096 — is unchanged), 9 at 20M's auto
    * 4472 cells, 13 at 40M's 6325. */
  private[graft] def ivfScaleProbeFloor(cells: Int): Int =
    math.max(IvfScaleMinProbes,
      math.ceil(IvfScaleMinProbes.toDouble * cells / IvfScaleFloorCells).toInt)

  /** Auto probe count — two regimes, split at [[IvfSmallCorpus]], with a
    * linear blend over `[IvfSmallCorpus/2, IvfSmallCorpus)` so the
    * policy is continuous in N (no one-row probe-budget cliff at the
    * boundary — auto-tuned results can't flap for corpora that straddle
    * 100k across runs):
    *
    * SMALL (N < 100k): max(cells/3, pool target of 30·k candidates).
    * Tuned for recall ≥ 0.85 on the PESSIMAL near-uniform distribution,
    * measured on the testdata embeddings (r8 sweep): at N=500/22 cells,
    * 59% probed = 0.86 and the rule picks 64%; at N=2000/45 cells the
    * rule picks 33%, where recall@10 on the sf0.1 embeddings measures
    * 0.7719, not the sweep's 0.86 (perfbench/NOTES.md). At these sizes even brute
    * force is cheap, so the rule buys recall insurance with compute.
    * SCOPE (r17): that ≥0.85 uniform-data guarantee holds BELOW the
    * blend ramp (N < 50k), where the small rule applies un-blended.
    * Inside the ramp the probe budget slides toward the scale regime's
    * clustered-data assumption and recall on near-uniform data degrades
    * smoothly with it — measured 0.744 at N=90k (nlist=300, blended
    * nprobe=26), pinned ≥0.65 by the `ann_ivf_ramp_uniform` harness row
    * so the ramp cannot silently sink further. No continuous ramp to
    * the scale floor can hold 0.85 there: a structureless corpus needs
    * ~half its rows verified for that recall at any cell count.
    *
    * SCALE (N ≥ 100k): the pool target is PRIMARY —
    * `nprobe = max(floor, ceil(cells · 240·k / N))`, i.e. an expected
    * ~240·k verified candidates per query, floored at
    * [[ivfScaleProbeFloor]] cells (8 up to 4096 cells, then scaling with
    * cell count so the floor point's candidate volume is preserved as
    * the lifted nlist cap makes cells finer — the r17 fix for the r16
    * recall regression at ≥20M). At the auto nlist (≈√N, capped 65536)
    * one cell already holds
    * ≥ √N ≥ 316 rows, so the 8-cell floor is the operative term — the
    * byK top-up engages when a caller provisions cells finer than
    * ~N/300 (e.g. an explicit nlist=4096 on a 200k corpus → 50 probes,
    * keeping the candidate pool from starving; measured r16 on the
    * planted clustered harness, `ann_ivf_scale_byk`). The r14 review showed
    * the old FRACTIONAL floor is the wrong branch to keep at scale:
    * cells/3 with the 4096-cell nlist cap means every auto query scans
    * ≥ N/3 candidates — brute force with extra steps — and
    * corpus-as-queries ops go Θ(N²/3). Real embedding
    * corpora cluster (the property IVF exists to exploit); the scale
    * default is calibrated on the clustered planted harness
    * (`ann_ivf_scale_policy`, recall bound 0.85) rather than the
    * pessimal uniform synthetic. For adversarially uniform data at
    * scale, pass `nprobe` explicitly — recall on such data needs a
    * constant FRACTION of the corpus verified no matter the index.
    *
    * The chosen operating point is logged (one line per auto
    * resolution) so callers can see what a query will scan. */
  private[graft] def ivfAutoNprobe(cells: Int, corpusCount: Long, k: Int): Int = {
    val n = math.max(1L, corpusCount)
    def pSmall: Int = {
      val byK = math.ceil(cells * 30.0 * k / n).toInt
      math.min(cells, math.max(1, math.max(cells / 3, byK)))
    }
    def pScale: Int = {
      val byK = math.ceil(cells * IvfScalePoolPerK * k / n).toInt
      // the floor preserves the calibrated candidate volume as cells
      // grow finer past the old 4096 cap — see ivfScaleProbeFloor
      math.min(cells, math.max(math.min(ivfScaleProbeFloor(cells), cells), byK))
    }
    // The two regimes are blended over [IvfSmallCorpus/2, IvfSmallCorpus)
    // so the policy is CONTINUOUS in corpus size: without the ramp, one
    // extra row at the boundary stepped nprobe 105 -> 8 at nlist=316
    // (a 13x probe-budget cliff), making auto-tuned results flap for
    // corpora that straddle 100k across runs. Below the ramp the small
    // rule holds exactly; at the boundary the blend lands on the scale
    // rule exactly.
    val rampStart = IvfSmallCorpus / 2
    val p =
      if (n < rampStart) pSmall
      else if (n < IvfSmallCorpus) {
        val w = (n - rampStart).toDouble / (IvfSmallCorpus - rampStart).toDouble
        val blended = math.round(pSmall * (1.0 - w) + pScale * w).toInt
        math.min(cells, math.max(1, blended))
      } else pScale
    log.info(
      s"ivf auto-nprobe: nlist=$cells N=$n k=$k -> nprobe=$p " +
        f"(probing ${p.toDouble / cells}%.3f of cells, expected candidate pool ~${p.toDouble * n / cells}%.0f rows)")
    p
  }

  /** Per-shard probe multiplier for SHARDED index searches resolving
    * nprobe automatically — a FUNCTION of shard count since r20:
    * max(2, ⌈log₂ S⌉), so S ≤ 4 resolves to the r19-gated constant 2
    * bit-identically and the multiplier grows as sharding thins each
    * shard's cells.
    *
    * Why it must grow: each shard holds the same natural clusters at
    * 1/S the occupancy, so the query's neighborhood sits deeper in each
    * shard's noisier centroid ranking — and the r20 SCALEBENCH
    * `shard-sweep` (N=20M clustered, exact truth) measured the deficit
    * directly: coverage of true neighbors through the probed cells at
    * the r19 constant 2× floor fell 0.936 (S=4) → 0.888 (S=8) → 0.824
    * (S=16), and end-to-end recall tracked it through the 0.85 gate at
    * S=16 (0.814 — the gate FIRED). The log₂ ramp restores the
    * calibrated coverage band: the sweep's 1×/2×/3× curves put the
    * needed multiplier at ~2 (S=4), ~2.6 (S=8), ~3.5 (S=16); ⌈log₂ S⌉ =
    * 2/3/4 sits one notch above each, re-gated ≥ 0.85 at every S. The
    * disclosed price of independent per-shard geometries is the
    * multiplier × the ADC candidate bytes (linear in it). Explicit
    * `nprobe` passes through untouched, as ever. */
  private[graft] def shardedProbeCompensation(nShards: Int): Int =
    math.max(2, math.ceil(
      math.log(math.max(2, nShards).toDouble) / math.log(2.0)).toInt)

  def ivfCosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      k: Int,
      nlist: Int = 0,
      nprobe: Int = 0,
      seed: Long = 0L,
      fitSample: Int = 100000): DataFrame = {
    require(nlist >= 0 && nprobe >= 0, s"nlist/nprobe must be >= 0 (0 = auto), got nlist=$nlist nprobe=$nprobe")
    // one count() serves both autos (+ a take(1) width probe for the
    // dims-aware cap); skipped entirely when both are explicit
    lazy val corpusCount = math.max(1L, corpus.count())
    val cells =
      if (nlist > 0) nlist
      else ivfAutoNlist(corpusCount, vecWidth(corpus, vecCol))
    val probes = if (nprobe > 0) nprobe else ivfAutoNprobe(cells, corpusCount, k)
    require(probes >= 1 && probes <= cells, s"need 1 <= nprobe <= nlist, got nprobe=$probes nlist=$cells")
    requireSameIdType(corpus, idCol, queries, queryIdCol)
    val corpusVec = ivfNormalizedCorpus(corpus, idCol, vecCol)
    val model = ivfFit(corpusVec, idCol, cells, seed, fitSample)
    val assigned = model.transform(corpusVec).drop("__mlvec")
    val centDf = ivfCentroidFrame(corpus.sparkSession, model)
    // probes == cells (the exact-twin operating point): skip the probe
    // ranking window — every cell survives it by construction (r20)
    val qProbes = ivfQueryProbes(queries, queryIdCol, vecCol, centDf, probes,
      allCells = probes == cells)
    ivfScore(assigned, qProbes, idCol, k)
  }

  /** Corpus projected to (id, raw vec, norm, unit spark.ml vector). The
    * quantizer must cluster DIRECTIONS, not magnitudes: for cosine,
    * k-means cells are only meaningful on the unit sphere (two parallel
    * vectors of different length are the same point for this metric but
    * far apart for raw-euclidean k-means). Fit, assign, and probe all
    * use L2-normalized vectors; the exact re-rank keeps the raw ones.
    * The corpus-wide normalization runs through spark.ml's Normalizer
    * (one JVM pass per row, zero vectors pass through) rather than a
    * transform() lambda over a norm column — Catalyst may inline the
    * norm into the lambda body, where it would re-reduce the vector per
    * ELEMENT: O(d^2) per row at embedding dims. */
  private[graft] def ivfNormalizedCorpus(
      corpus: DataFrame, idCol: String, vecCol: String,
      extraCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    new org.apache.spark.ml.feature.Normalizer()
      .setInputCol("__rawvec").setOutputCol("__mlvec").setP(2.0)
      .transform(corpus.select(
        col(idCol) +:
          col(vecCol).as("__cv") +:
          l2Norm(col(vecCol)).as("__cn") +:
          array_to_vector(col(vecCol).cast("array<double>")).as("__rawvec") +:
          extraCols.map(col): _*)
        .filter(col("__cn") > 0)) // zero-norm: NaN cosine, see cosineTopK
      .drop("__rawvec")
  }

  /** Largest cell count fitted with ONE flat spark.ml k-means. Beyond
    * it [[ivfFit]] goes two-level: flat Lloyd's is fitSample·cells
    * distances per iteration — at the old 4096-cell ceiling that was
    * already ~3·10⁹ per iteration, and it is the reason the auto nlist
    * used to cap at 4096 (leaving per-query candidate pools growing
    * linearly in N beyond ~17 M vectors). The threshold sits below that
    * old cap so the two-level path has test/recall coverage at cell
    * counts the sandbox can actually exercise. */
  private[graft] val IvfFlatFitMaxCells: Int = 2048

  /** A fitted IVF coarse quantizer: assigns rows (adds int `__cell` to a
    * frame carrying the [[ivfNormalizedCorpus]] columns) and exposes the
    * centroid table. Two implementations — the flat spark.ml model, and
    * the two-level fit that keeps large cell counts affordable. */
  private[graft] sealed trait IvfQuantizer {
    def transform(df: DataFrame): DataFrame
    def centroidFrame(spark: org.apache.spark.sql.SparkSession): DataFrame
  }

  private[graft] final case class FlatQuantizer(
      model: org.apache.spark.ml.clustering.KMeansModel) extends IvfQuantizer {
    override def transform(df: DataFrame): DataFrame = model.transform(df)
    override def centroidFrame(
        spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      model.clusterCenters.zipWithIndex.toSeq
        .map { case (c, i) => (i, c.toArray.toSeq) }
        .toDF("__cell", "__cent")
    }
  }

  /** Flat quantizer fitted by ONE driver-local Lloyd's run over the
    * (bounded, hash-ordered) sample — the small-fit fast path of
    * [[ivfFit]] (r20). Assignment reuses the same broadcast-candidates +
    * codegen'd [[graft.expressions.NearestCell]] argmin the APPEND path
    * runs against persisted centroids, so one-shot assignment and
    * append-time assignment share one kernel and one tie-break
    * (smallest cell id). */
  private[graft] final case class LocalQuantizer(
      centers: Array[Array[Double]]) extends IvfQuantizer {
    override def transform(df: DataFrame): DataFrame =
      AnnIndex.assignToPersistedCells(df, centroidFrame(df.sparkSession))
    override def centroidFrame(
        spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      centers.zipWithIndex.toSeq
        .map { case (c, i) => (i, c.toSeq) }
        .toDF("__cell", "__cent")
    }
  }

  /** Two-level quantizer: a spark.ml super-model of ~√cells centers plus
    * per-super sub-centroids (global `__cell` ids). Assignment is
    * SHUFFLE-FREE: one super transform (map), one broadcast join from
    * `__super` to that super's sub-centroid candidates, one codegen'd
    * [[graft.expressions.NearestCell]] argmin per row — 2·√cells·dim
    * multiplies per row instead of cells·dim, the map-only shape a
    * full-corpus assignment needs at any N. */
  private[graft] final case class TwoLevelQuantizer(
      superModel: org.apache.spark.ml.clustering.KMeansModel,
      subs: Seq[(Int, Int, Array[Double])]) extends IvfQuantizer {
    override def transform(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      import org.apache.spark.sql.graft.Bridge
      val cands = subs.groupBy(_._1).toSeq
        .map { case (s, items) =>
          (s, items.sortBy(_._2).map { case (_, cell, cent) =>
            (cell, cent.toSeq, cent.map(x => x * x).sum) })
        }
        .toDF("__superQ", "__cands")
      superModel.transform(df)
        .join(broadcast(cands), col("__superQ") === col("__superTmp"))
        .withColumn("__cell", Bridge.column(graft.expressions.NearestCell(
          Bridge.expression(col("__cv").cast("array<double>")),
          Bridge.expression(col("__cn")),
          Bridge.expression(col("__cands")))))
        .drop("__superTmp", "__superQ", "__cands")
    }
    override def centroidFrame(
        spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      subs.map { case (_, cell, cent) => (cell, cent.toSeq) }
        .sortBy(_._1).toDF("__cell", "__cent")
    }
  }

  /** Seeded coarse-quantizer fit over a bounded sample of the normalized
    * corpus. Hash-ordered top-n = a uniform deterministic pseudo-random
    * sample (distributed TakeOrdered); a bare limit() would take a
    * partition-order PREFIX and bias the centroids on any sorted/clustered
    * corpus. A coarse quantizer doesn't need convergence — cells just need
    * to be roughly balanced; 8 iterations halves the fit cost vs the
    * default 20 with no measurable recall change, and random init (not
    * k-means||) skips several extra passes over the fit sample — the exact
    * re-rank fixes any assignment noise.
    *
    * Above [[IvfFlatFitMaxCells]] the fit is TWO-LEVEL (the classic
    * inverted-multi-index / IVF-HNSW coarse-fit move): fit √cells
    * super-centers with spark.ml over the sample, assign the sample to
    * them, then run a deterministic local Lloyd's per super-cell (one
    * `mapGroups` — groups are sample-bounded) with the remaining cell
    * budget apportioned by super-cell mass (largest-remainder, so big
    * clusters get proportionally more cells — better balance than an
    * even split). Fit cost drops from fitSample·cells to
    * ~2·fitSample·√cells distances per iteration, which is what lets
    * [[ivfAutoNlist]] keep ~√N cells far beyond the old 4096 cap. A
    * super-cell that caught no sample points contributes its own center
    * as a single cell, so assignment always has candidates. The actual
    * cell count can come out slightly under `cells` (a sample group
    * cannot yield more distinct centroids than it has points) but never
    * over — [[apportionCells]] trims the min-1 floor's overshoot back
    * from the largest allocations (r16 ADVICE); downstream reads cells
    * off the centroid frame, never the request. */
  /** Two-level fit sample floor, points per cell: a 100k sample on a
    * 6k-cell request is ~16 points per centroid — noise, not a fit
    * (measured on the 40M cap-lift probe). The two-level fit's cost is
    * ~2·sample·√cells, so scaling the sample WITH the cell count stays
    * affordable exactly where the flat fit could not. */
  private[graft] val IvfSubFitPointsPerCell: Int = 24

  /** Largest-remainder apportionment of the `cells` sub-cell budget
    * across super-cells by sample mass, with a 1-cell floor per
    * non-empty super-cell. The floor can push the base allocation OVER
    * the budget when many super-cells round to zero (r16 ADVICE); the
    * overshoot is trimmed back from the LARGEST allocations (they lose
    * the least proportionally), never below the floor, so the result
    * sums to exactly `cells` whenever `cells ≥ sizes.size` — the
    * two-level fit guarantees that (superK = √cells < cells). If the
    * floor itself binds (more non-empty super-cells than cells) the sum
    * is the super-cell count instead; downstream reads the actual count
    * off the centroid frame, never the request. */
  private[graft] def apportionCells(
      sizes: Map[Int, Long], cells: Int): Map[Int, Int] = {
    val total = math.max(1L, sizes.values.sum)
    val raw = sizes.toSeq.sortBy(_._1).map { case (s, n) =>
      (s, cells.toDouble * n / total)
    }
    val base = raw.map { case (s, x) => (s, math.max(1, x.toInt)) }.toMap
    val over = base.values.sum - cells
    val trimmed =
      if (over <= 0) base
      else {
        val desc = raw.sortBy { case (_, x) => -x }.map(_._1)
        var m = base; var left = over; var progress = true
        while (left > 0 && progress) {
          progress = false
          for (s <- desc if left > 0)
            if (m(s) > 1) { m = m.updated(s, m(s) - 1); left -= 1; progress = true }
        }
        m
      }
    val rem = cells - trimmed.values.sum
    if (rem <= 0) trimmed
    else {
      val order = raw.sortBy { case (s, x) => -(x - x.toInt) }.map(_._1)
      (0 until rem).foldLeft(trimmed) { (m, i) =>
        val s = order(i % order.length); m.updated(s, m(s) + 1)
      }
    }
  }

  /** Work bound for the driver-local flat fit: sample × cells × dims ×
    * iters distance multiplies — ~2·10⁸ is a few hundred ms of
    * single-core Lloyd's, the break-even against the ~16-job
    * spark.ml fit (2 scheduled jobs per iteration) it replaces. */
  private[graft] val LocalFitMaxOps: Long = 200000000L

  /** Hard row cap on the local-fit sample collect, independent of the
    * ops bound — bounds driver memory at ~20k × dims doubles. */
  private[graft] val LocalFitMaxPoints: Int = 20000

  private[graft] def ivfFit(
      corpusVec: DataFrame, idCol: String, cells: Int, seed: Long,
      fitSample: Int): IvfQuantizer = {
    def sampled(n: Int) = corpusVec
      .select(col("__mlvec"), xxhash64(col(idCol)).as("__h"))
      .orderBy(col("__h")).limit(n)
    if (cells <= IvfFlatFitMaxCells) {
      // Small-fit fast path (r20): the spark.ml fit launches ~2 scheduled
      // jobs per Lloyd's iteration — ~16 driver round-trips that DOMINATE
      // a one-shot operator's wall time when the sample is tiny (job
      // profile: the k-means job storm under cross_doc_neighbors_exact /
      // ann_ivf_topk). When the WHOLE sample is provably small (ops and
      // row bounds below), collect it once (hash-ordered — same
      // deterministic sample the distributed fit uses) and run the same
      // deterministic localLloyd the two-level sub-fits already run in
      // executors. The probe collects at most maxLocalPts+1 rows; a
      // corpus larger than the bound falls through to spark.ml with the
      // identical sample definition. Every oracle-gated query is
      // clustering-invariant by construction (DuckDB replays them with no
      // k-means); approximate operating points are re-gated by the
      // recall harness.
      val dims = vecWidth(corpusVec, "__cv")
      val maxLocalPts =
        if (dims <= 0) 0
        else math.min(LocalFitMaxPoints.toLong,
          LocalFitMaxOps / (math.max(1, cells).toLong * dims * 8)).toInt
      val probe = graft.LocalGate
        .probe(sampled(fitSample), if (maxLocalPts >= math.max(cells, 2)) maxLocalPts else 0)
        .filter(rows => rows.nonEmpty && rows.length >= cells && fitSample > 0)
      if (probe.isDefined) {
        val pts = probe.get
          .map(_.getAs[org.apache.spark.ml.linalg.Vector]("__mlvec").toArray)
        LocalQuantizer(localLloyd(pts, cells, iters = 8))
      } else
        FlatQuantizer(new org.apache.spark.ml.clustering.KMeans()
          .setK(cells).setSeed(seed).setMaxIter(8).setInitMode("random")
          .setFeaturesCol("__mlvec").setPredictionCol("__cell")
          .fit(sampled(fitSample).drop("__h")))
    } else {
      val fitFrame = sampled(
        math.max(fitSample, IvfSubFitPointsPerCell * cells))
      val spark = corpusVec.sparkSession
      import spark.implicits._
      import org.apache.spark.ml.functions.vector_to_array
      val superK = math.max(2, math.round(math.sqrt(cells.toDouble)).toInt)
      val superModel = new org.apache.spark.ml.clustering.KMeans()
        .setK(superK).setSeed(seed).setMaxIter(8).setInitMode("random")
        .setFeaturesCol("__mlvec").setPredictionCol("__superTmp")
        .fit(fitFrame.drop("__h"))
      val sample = superModel.transform(fitFrame)
        .select(col("__superTmp"), col("__h"),
          vector_to_array(col("__mlvec")).as("__v"))
        .as[(Int, Long, Seq[Double])]
      // apportion the cell budget by sample mass, largest remainder
      val sizes = sample.groupByKey(_._1).count().collect().toMap
      val ks = apportionCells(sizes, cells)
      val ksB = spark.sparkContext.broadcast(ks)
      val fitted = sample.groupByKey(_._1)
        .mapGroups { (s, it) =>
          // hash-sorted points make the init (and so the whole local
          // Lloyd's run) independent of arrival order
          val pts = it.toArray.sortBy(_._2).map(_._3.toArray)
          (s, localLloyd(pts, ksB.value.getOrElse(s, 1), iters = 8))
        }
        .collect()
        .toMap
      // empty super groups still need a candidate: their own center
      val subs = (0 until superK).flatMap { s =>
        fitted.getOrElse(s,
          Array(superModel.clusterCenters(s).toArray))
          .map(c => (s, c))
      }.zipWithIndex.map { case ((s, c), cell) => (s, cell, c) }
      TwoLevelQuantizer(superModel, subs)
    }
  }

  /** Deterministic local Lloyd's over one super-cell's sample points:
    * init = k evenly spaced points of the (hash-)sorted input, standard
    * assign/recompute iterations, empty clusters keep their previous
    * center. Returns ≤ k distinct centroids (k clamps to the point
    * count). Pure JVM math on a bounded group — runs inside mapGroups. */
  private[graft] def localLloyd(
      points: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val n = points.length
    if (n == 0) return Array.empty
    val kk = math.min(math.max(1, k), n)
    val dim = points(0).length
    var cents = Array.tabulate(kk)(i => points(((i.toLong * n) / kk).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val cnt = new Array[Int](kk)
      var p = 0
      while (p < n) {
        val pt = points(p)
        var bi = 0
        var bd = Double.PositiveInfinity
        var c = 0
        while (c < kk) {
          val ct = cents(c)
          var d = 0.0
          var j = 0
          while (j < dim) { val t = pt(j) - ct(j); d += t * t; j += 1 }
          if (d < bd) { bd = d; bi = c }
          c += 1
        }
        val s = sums(bi)
        var j = 0
        while (j < dim) { s(j) += pt(j); j += 1 }
        cnt(bi) += 1
        p += 1
      }
      cents = Array.tabulate(kk) { c =>
        if (cnt(c) == 0) cents(c)
        else {
          val s = sums(c)
          val out = new Array[Double](dim)
          var j = 0
          while (j < dim) { out(j) = s(j) / cnt(c); j += 1 }
          out
        }
      }
      it += 1
    }
    cents
  }

  /** The fitted centroids as a tiny frame (__cell, __cent). No broadcast
    * hint here: the frame is also WRITTEN (buildIvf persists it), and a
    * hint whose plan never reaches a join is silently dropped with a
    * HintErrorLogger warning — joins hint their build side themselves. */
  private[graft] def ivfCentroidFrame(
      spark: org.apache.spark.sql.SparkSession,
      model: IvfQuantizer): DataFrame = model.centroidFrame(spark)

  /** Hierarchy engages only when it pays: enough cells that the flat
    * per-query centroid scan dominates, and probes a small enough
    * fraction that two-level pruning can't defeat the probe budget. */
  private[graft] val IvfHierarchyMinCells: Int = 128

  /** Super-cells probed per query cover at least this many × nprobe
    * candidate centroids (the boundary-loss hedge one level up). */
  private[graft] val IvfHierarchyOverProbe: Double = 4.0

  /** Never rank fewer than this many super-cells per query. */
  private[graft] val IvfSuperProbeFloor: Int = 6

  /** Per-query candidate centroids for probe ranking — the input to the
    * top-nprobe window. Flat: every query row × every centroid, the
    * N·nlist term that is fine when the query frame is broadcast-sized
    * but grows with the corpus for corpus-as-queries operators
    * ([[retrievalNeighbors]]): at the 4096-cell nlist cap that term is
    * 4096·N rows through a window. Hierarchical (when `hierarchical`
    * and cells ≥ [[IvfHierarchyMinCells]] and probes ≤ cells/8): a
    * SECOND coarse quantizer of ~√cells super-centroids is fitted over
    * the centroid frame itself (≤ nlist rows — one tiny seeded k-means,
    * deterministic), each query ranks the √cells super-centroids, keeps
    * enough super-cells to cover ~[[IvfHierarchyOverProbe]]·nprobe
    * centroids, and ranks only the centroids inside them — the
    * per-query scan drops to ~(1 + sProbes)·√nlist rows and stops
    * growing with the nlist cap. Recall cost of the pruning is measured
    * on the clustered planted harness
    * ([[graft.tools.Recall]] `retrieval_neighbors_hierarchical`:
    * 0.93–0.95 across runs — the init partitioning perturbs the
    * super-fit slightly — vs 0.986 single-level at the same nprobe,
    * bound 0.85; the [[IvfSuperProbeFloor]] of 6 is what holds it, at
    * floor 4 it measured 0.866).
    * `distTo` ranks by distance to the given centroid column using
    * query columns present in `qSide` (monotone-equivalent to
    * unit-query euclidean); `qSide` must carry a `query_id` column. */
  private[similarity] def centroidCandidates(
      qSide: DataFrame,
      centDf: DataFrame,
      cells: Int,
      probes: Int,
      seed: Long,
      hierarchical: Boolean,
      distTo: Column => Column): DataFrame = {
    val engage = hierarchical && cells >= IvfHierarchyMinCells &&
      probes.toDouble * 8 <= cells
    if (!engage) qSide.crossJoin(broadcast(centDf))
    else {
      import org.apache.spark.ml.functions.array_to_vector
      val spark = centDf.sparkSession
      import spark.implicits._
      val superK = math.max(2, math.round(math.sqrt(cells.toDouble)).toInt)
      val centVec = centDf.select(col("__cell"), col("__cent"),
        array_to_vector(col("__cent")).as("__mlvec"))
      val sModel = new org.apache.spark.ml.clustering.KMeans()
        .setK(superK).setSeed(seed).setMaxIter(8).setInitMode("random")
        .setFeaturesCol("__mlvec").setPredictionCol("__super")
        .fit(centVec)
      val centWithSuper = sModel.transform(centVec)
        .select(col("__super"), col("__cell"), col("__cent"))
      val superDf = sModel.clusterCenters.zipWithIndex.toSeq
        .map { case (c, i) => (i, c.toArray.toSeq) }
        .toDF("__super", "__scent")
      val avgOcc = math.max(1.0, cells.toDouble / superK)
      val sProbes = math.min(superK, math.max(IvfSuperProbeFloor,
        math.ceil(IvfHierarchyOverProbe * probes / avgOcc).toInt))
      log.info(s"ivf hierarchical probe ranking: nlist=$cells -> " +
        s"$superK super-cells, $sProbes probed per query " +
        s"(~${(1 + sProbes) * superK} centroid ranks/query vs $cells flat)")
      val sw = Window.partitionBy(col("query_id"))
        .orderBy(col("__sdist").asc, col("__super").asc)
      qSide.crossJoin(broadcast(superDf))
        .withColumn("__sdist", distTo(col("__scent")))
        .withColumn("__srk", row_number().over(sw))
        .filter(col("__srk") <= sProbes)
        .drop("__sdist", "__srk", "__scent")
        .join(broadcast(centWithSuper), Seq("__super"))
        .drop("__super")
    }
  }

  /** nprobe nearest centroids per query: a (queries × nlist) distance rank
    * against the tiny broadcast centroid frame — fully distributed, works
    * for any query-id type (no driver math, no long cast). Returns the
    * broadcast (query_id, __cell, __qv2, __qn) probe frame. */
  private[graft] def ivfQueryProbes(
      queries: DataFrame, queryIdCol: String, vecCol: String,
      centDf: DataFrame, probes: Int, allCells: Boolean = false): DataFrame = {
    // query-side normalization: the lambda's O(d^2)-per-row worst case is
    // irrelevant here — the query frame is small by contract (it is
    // broadcast below)
    def unit(v: Column): Column =
      when(l2Norm(v) > 0,
        transform(v.cast("array<double>"), x => x / l2Norm(v)))
        .otherwise(v.cast("array<double>"))
    val qSide = queries.select(
      col(queryIdCol).as("query_id"),
      col(vecCol).as("__qv2"),
      l2Norm(col(vecCol)).as("__qn"),
      unit(col(vecCol)).as("__qu"))
      .filter(col("__qn") > 0)
    // rank by ||q - c||² = q·q − 2 q·c + c·c over the UNIT query; q·q is
    // constant per query so −2 q·c + c·c orders identically
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("__dist").asc, col("__cell").asc)
    // no broadcast hint on the RETURNED frame: callers also run
    // collect-only plans over it (the probed-cell literal set), where a
    // hint is dropped with a warning — the candidate joins hint it at
    // the join site (ivfScore / searchIvfPq) instead
    // allCells (exhaustive mode, probes == nlist): every centroid is kept
    // by construction, so the distance ranking and its per-query window
    // exchange are dead weight — emit the full (query × cell) frame
    // directly. Same rows, same columns as the ranked path at
    // probes == |centDf| (the exact-oracle searches' operating point).
    if (allCells)
      qSide.crossJoin(broadcast(centDf))
        .select(col("query_id"), col("__cell"), col("__qv2"), col("__qn"))
    else qSide.crossJoin(broadcast(centDf))
      .withColumn("__dist",
        dot(col("__cent"), col("__cent")) - lit(2.0) * dot(col("__qu"), col("__cent")))
      .withColumn("__rk", row_number().over(probeW))
      .filter(col("__rk") <= probes)
      .select(col("query_id"), col("__cell"), col("__qv2"), col("__qn"))
  }

  /** Probed-cell join + exact-cosine re-rank — the shared tail of the
    * one-shot [[ivfCosineTopK]] and the prebuilt-index search
    * ([[AnnIndex.searchIvf]]). `assigned` = (id, __cv, __cn, __cell);
    * `qProbes` must be broadcast-sized. */
  private[graft] def ivfScore(
      assigned: DataFrame, qProbes: DataFrame, idCol: String, k: Int): DataFrame = {
    val cands = assigned
      .join(broadcast(qProbes), Seq("__cell"))
      .filter(col(idCol) =!= col("query_id"))
    val scored = cands.select(
      col("query_id"),
      col(idCol),
      round(dot(col("__cv"), col("__qv2")) / (col("__cn") * col("__qn")), 6).as("cosine"))
    rankTopK(scored, idCol, k)
  }

  /** Embedding near-dup pairs: cosine above threshold among LSH candidates
    * (same bucketing as lshCosineTopK, corpus against itself). `bits = 0`
    * auto-scales to constant bucket population — here the stakes are
    * squared: the bucket join is a SELF-join, so a fixed width makes
    * per-bucket pair work grow as (N/2^bits)² per table. True duplicates
    * share identical signatures at any width, so recall on near-clones
    * (threshold ≈ 1) is width-insensitive; width only prunes the
    * verification volume. */
  def embeddingNearDupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      tables: Int = 8,
      bits: Int = 0): DataFrame = {
    require(bits >= 0, s"bits must be >= 0 (0 = auto), got $bits")
    val sigBits = if (bits > 0) bits else lshAutoBits(corpus.count(), k = 16)
    val sigs = corpus.select(
      col(idCol),
      col(vecCol).as("__v"),
      l2Norm(col(vecCol)).as("__n"),
      posexplode(lshSignatures(col(vecCol), tables, sigBits)).as(Seq("table", "sig")))
      .filter(col("__n") > 0) // zero-norm: NaN cosine, see cosineTopK
    val l = sigs.select(col("table"), col("sig"), col(idCol).as("id_a"), col("__v").as("va"), col("__n").as("na"))
    val r = sigs.select(col("table"), col("sig"), col(idCol).as("id_b"), col("__v").as("vb"), col("__n").as("nb"))
    l.join(r, Seq("table", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("va"), col("na"), col("vb"), col("nb"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  // ------------------------------------------------------- product quant

  /** Fit product-quantization codebooks on a bounded sample of the
    * normalized corpus: `m` contiguous subspaces, each with its own
    * k-means codebook of up to `codes` centroids (clamped to the sample
    * size; the effective count is what the caller must persist). Seeded
    * per subspace; the sample is hash-ordered like [[ivfFit]]'s so the
    * codebooks are a deterministic function of the data. Returns the
    * tiny broadcast frame (subspace, code, cent ARRAY<DOUBLE>). */
  private[graft] def pqFit(
      corpusVec: DataFrame,
      idCol: String,
      m: Int,
      codes: Int,
      seed: Long,
      fitSample: Int): (DataFrame, Int) = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val spark = corpusVec.sparkSession
    import spark.implicits._
    val dim = corpusVec.select(size(col("__cv"))).head().getInt(0)
    require(dim % m == 0, s"vector dim $dim must divide by m=$m subspaces")
    val sub = dim / m
    val sample = corpusVec
      .select(vector_to_array(col("__mlvec")).as("__u"), xxhash64(col(idCol)).as("__h"))
      .orderBy(col("__h")).limit(fitSample).drop("__h")
      .persist()
    try {
      val n = sample.count()
      val codesEff = math.min(codes.toLong, n).toInt
      require(codesEff > 0, "pqFit needs a non-empty corpus")
      val books = (0 until m).flatMap { j =>
        val fitFrame = sample.select(
          array_to_vector(slice(col("__u"), j * sub + 1, sub)).as("__sv"))
        val km = new org.apache.spark.ml.clustering.KMeans()
          .setK(codesEff).setSeed(seed + j).setMaxIter(8).setInitMode("random")
          .setFeaturesCol("__sv").setPredictionCol("__c")
          .fit(fitFrame)
        km.clusterCenters.zipWithIndex.map { case (c, i) => (j, i, c.toArray.toSeq) }
      }
      // unhinted: buildIvfPq WRITES this frame (hint would drop with a
      // warning); pqEncode/pqLut hint it at their joins
      (books.toDF("subspace", "code", "cent"), codesEff)
    } finally { sample.unpersist(); () }
  }

  /** Encode each vector against the codebooks: per subspace, the nearest
    * centroid's code — `__codes ARRAY<INT>` of length m in subspace
    * order, plus `__rn`, the reconstruction's norm ‖x̂‖ (a pure function
    * of the codes, precomputed here so search never rebuilds it). One
    * explode to (row × subspace), a broadcast join against the m·codes
    * codebook rows, an argmin per (id, subspace) — the build-time pass,
    * never repeated at search. Input must carry the UNIT vector
    * components (`__cv`, `__cn`).
    *
    * r18: superseded on the build/append paths by [[pqEncodeColumns]]
    * (map-only — this route shuffles corpus×m rows through TWO hash
    * aggregations plus a corpus-sized join back by id). Kept as the
    * differential oracle: DedupSimilaritySpec pins the map-only kernel
    * code-for-code against this formulation on real embeddings. */
  private[graft] def pqEncode(
      assigned: DataFrame,
      idCol: String,
      books: DataFrame,
      m: Int,
      sub: Int): DataFrame = {
    val subvecs = expr(
      s"transform(sequence(0, ${m - 1}), j -> slice(transform(__cv, x -> x / __cn), j * $sub + 1, $sub))")
    assigned
      .select(col(idCol), posexplode(subvecs).as(Seq("subspace", "__sv")))
      .join(broadcast(books), Seq("subspace"))
      .select(col(idCol), col("subspace"), col("code"),
        dot(col("cent"), col("cent")).as("__c2"),
        (dot(col("cent"), col("cent")) - lit(2.0) * dot(col("__sv"), col("cent")))
          .as("__dist"))
      .groupBy(col(idCol), col("subspace"))
      .agg(
        min(struct(col("__dist"), col("code"), col("__c2"))).getField("code").as("code"),
        min(struct(col("__dist"), col("code"), col("__c2"))).getField("__c2").as("__c2"))
      .groupBy(col(idCol))
      .agg(
        expr("transform(sort_array(collect_list(struct(subspace, code))), p -> p.code)")
          .as("__codes"),
        sqrt(sum(col("__c2"))).as("__rn"))
  }

  /** Map-only twin of [[pqEncode]]: appends `__codes`/`__rn` to `df` in
    * ONE codegen'd pass ([[graft.expressions.PqEncodeCodes]]) against the
    * codebooks folded into a single broadcast row (subspace-ascending
    * lists, code-ascending within — the argmin tie-break). Same
    * arithmetic element for element (unit-vector slice dot, c2 − 2·dot,
    * min-struct tie toward the smaller code); `__rn` sums the chosen c2
    * in fixed subspace order where the aggregate route summed in
    * whatever order the hash agg visited (a last-ulp difference at most,
    * under the 6-decimal rounding every reported score carries). With
    * the map-only cell assignment this makes the whole IVF-PQ
    * build/append encode pipeline shuffle-free on the corpus side. */
  /** The codebooks folded into ONE row (`__books`): array
    * (subspace-ascending) of array<struct<code, cent, __c2>>
    * (code-ascending, `__c2` = ‖cent‖²) — the broadcast shape both
    * [[graft.expressions.PqEncodeCodes]] (build/append encode) and
    * [[graft.expressions.PqLutArray]] (search LUT) consume. */
  private[similarity] def foldedBooks(books: DataFrame): DataFrame =
    books
      .select(col("subspace"),
        struct(col("code"), col("cent").cast("array<double>").as("cent"),
          dot(col("cent"), col("cent")).as("__c2")).as("__c"))
      .groupBy(col("subspace"))
      .agg(array_sort(collect_list(col("__c"))).as("__cs"))
      .agg(expr("transform(sort_array(collect_list(struct(subspace, __cs))), p -> p.__cs)")
        .as("__books"))

  private[graft] def pqEncodeColumns(df: DataFrame, books: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    df.crossJoin(broadcast(foldedBooks(books)))
      .withColumn("__enc", Bridge.column(graft.expressions.PqEncodeCodes(
        Bridge.expression(col("__cv").cast("array<double>")),
        Bridge.expression(col("__cn")),
        Bridge.expression(col("__books")))))
      .withColumn("__codes", col("__enc.codes"))
      .withColumn("__rn", col("__enc.rn"))
      .drop("__enc", "__books")
  }

  /** Per-query ADC lookup table: `lut[j·codes + c] = q_j·cent(j,c)`, so
    * Σ over a candidate's codes is `q·x̂` and scoring costs m array
    * lookups + adds instead of a d-dim dot product. Combined with the
    * stored reconstruction norm (`__rn` from [[pqEncode]]), the reported
    * score is `cos(q, x̂) = q·x̂ / ‖x̂‖` — the cosine against the quantized
    * reconstruction, an unbiased proxy for the true unit-vector cosine
    * (raw dot-ADC under-ranks short reconstructions; distance-ADC
    * over-penalizes long ones). Queries are broadcast-sized by
    * contract. */
  private[graft] def pqLut(
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      books: DataFrame,
      codes: Int): DataFrame = {
    // ONE map-only projection against the folded codebook row (r21):
    // the previous formulation exploded queries × m·codes book rows
    // through a BroadcastNestedLoopJoin, collected a slot map with an
    // ObjectHashAggregate (exchange + single-task final) and densified
    // with an O((m·codes)²) interpreted element_at probe per query —
    // profiled as a 1.3 s single-task stage per search. The codegen'd
    // kernel scatters by explicit slot with the same hole semantics
    // (missing codes stay -inf so a bug surfaces as a terrible score,
    // not a silent shift) and the same ascending-element dot order —
    // bit-identical LUT values.
    import org.apache.spark.sql.graft.Bridge
    queries
      .select(
        col(queryIdCol).as("query_id"),
        col(vecCol).cast("array<double>").as("__qv"),
        l2Norm(col(vecCol)).as("__qn"))
      .filter(col("__qn") > 0)
      .crossJoin(broadcast(foldedBooks(books)))
      .select(col("query_id"),
        Bridge.column(graft.expressions.PqLutArray(
          Bridge.expression(col("__qv")),
          Bridge.expression(col("__qn")),
          Bridge.expression(col("__books")),
          Bridge.expression(lit(codes)))).as("__lut"))
  }

  /** SemDeDup pair report — SEMANTIC near-duplicates (paraphrases,
    * templated rewrites, re-encodings) that lexical dedup cannot see:
    * k-means-cluster the embeddings with the IVF coarse quantizer, then
    * verify cosine only WITHIN a cluster (the published SemDeDup shape —
    * Abbas et al. 2023, arXiv:2303.09540 — comparison volume drops from
    * O(N²) to Σ cell²). Emits (id_a, id_b, cosine) for every co-clustered
    * pair with `cosine >= threshold`, id_a < id_b; every emitted pair is
    * verified by the true cosine, so precision is exact and recall is the
    * only approximation (a pair split across cells is missed — exact
    * duplicates never are, identical vectors always share a cell; recall
    * for near-pairs is measured by the planted-truth harness,
    * tools/Recall.scala).
    *
    * Scale shape: per-cell self-join — size `nClusters` so cells hold
    * thousands of vectors (the paper runs 110k clusters at 100M+ docs);
    * cells are the parallel unit and the join shuffles each vector once
    * per its own cell only. Zero-norm vectors have no cosine and are
    * never candidates. */
  def semDedupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nClusters: Int,
      threshold: Double,
      seed: Long = 7L,
      fitSample: Int = 200000): DataFrame = {
    require(nClusters > 0, s"nClusters must be positive, got $nClusters")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val norm = ivfNormalizedCorpus(corpus, idCol, vecCol)
    val model = ivfFit(norm, idCol, nClusters, seed, fitSample)
    val assigned = model.transform(norm).drop("__mlvec")
    val a = assigned.select(col("__cell"), col(idCol).as("id_a"),
      col("__cv").as("__va"), col("__cn").as("__na"))
    val b = assigned.select(col("__cell"), col(idCol).as("id_b"),
      col("__cv").as("__vb"), col("__cn").as("__nb"))
    a.join(b, Seq("__cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup enforcement: drop every row with a lower-id semantic twin
    * in its cluster ([[semDedupPairs]]), keep everything else — the
    * deterministic exemplar rule (lowest id survives a duplicate chain;
    * callers wanting quality-ranked exemplars rank first and use the rank
    * as the id). Anti-join on the bounded loser set; corpus rows pass
    * through untouched, zero-norm vectors always survive. */
  def semDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nClusters: Int,
      threshold: Double,
      seed: Long = 7L,
      fitSample: Int = 200000): DataFrame = {
    val losers = semDedupPairs(corpus, idCol, vecCol, nClusters, threshold,
      seed, fitSample)
      .select(col("id_b").as(idCol)).distinct()
    corpus.join(losers, Seq(idCol), "left_anti")
  }

  /** Hard-negative mining for retrieval/embedding training (the DPR
    * recipe, Karpukhin et al. 2020: the best negatives are the corpus
    * passages the CURRENT embedding ranks highest that are NOT labeled
    * positive — random negatives are too easy and BM25-only negatives
    * too narrow). For every query: IVF cosine top-(k + slack), minus
    * that query's labeled positives (`positives` = (queryIdCol, idCol)
    * pairs; the query's own id is excluded by the search itself), re-
    * ranked to the final k. `slack` must cover the worst-case positives
    * per query landing inside the shortlist (default 16; labeled sets
    * are small).
    *
    * Scale shape: everything is the IVF search's shape (broadcast
    * probes, cell-pruned candidate join); the positive exclusion is an
    * anti-join on the |queries|·(k+slack) SHORTLIST — never the corpus —
    * and the final re-rank windows the same shortlist, keyed by query.
    * At `nprobe = nlist` the result is exact and fully oracle-able. */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      positives: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      k: Int,
      nlist: Int = 0,
      nprobe: Int = 0,
      slack: Int = 16,
      seed: Long = 0L,
      fitSample: Int = 100000): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(slack >= 0, s"slack must be >= 0, got $slack")
    require(positives.columns.length == 2,
      s"positives must be exactly (query id, positive id) columns, got " +
        positives.columns.mkString(", "))
    val shortlist = ivfCosineTopK(corpus, queries, idCol, vecCol, queryIdCol,
      k + slack, nlist, nprobe, seed, fitSample)
    // positional contract: first column = query id, second = positive id
    // (a name contract would be ambiguous when corpus and queries share
    // an id column name, the common case)
    val pos = positives.select(
      col(positives.columns(0)).as("query_id"),
      col(positives.columns(1)).as(idCol))
    rankTopK(
      shortlist.join(pos, Seq("query_id", idCol), "left_anti")
        .drop("rank"),
      idCol, k)
  }

  /** Retrieval-neighbor mining for retrieval-augmented training data
    * (the RETRO prep, Borgeaud et al. 2022: every training chunk is
    * paired with its nearest corpus chunks EXCLUDING chunks of its own
    * document — same-document neighbors leak the continuation the model
    * is being trained to predict). For every corpus row: the top-k
    * cosine neighbors from a DIFFERENT document.
    *
    * Unlike [[ivfCosineTopK]] (whose query frame is broadcast by
    * contract), the query side here IS the corpus, so this takes the
    * self-join shape: both sides hash-partition on the IVF cell key
    * (centroids alone are broadcast), candidates within a probed cell
    * are scored with the same-document pairs filtered BEFORE ranking,
    * and the final top-k rides the bounded-heap per-key aggregate — the
    * exchange after scoring carries k rows per chunk, never the
    * candidate volume. Per-query probe selection is one key-partitioned
    * window; with `hierarchical` (the default) it routes through the
    * two-level quantizer once nlist ≥ 128 and probes ≤ nlist/8, cutting
    * the per-chunk centroid scan from nlist to ~(1+s)·√nlist at a
    * measured recall cost of ~0.93–0.95 vs 0.986 single-level on the
    * planted clustered harness — pass `hierarchical = false` to keep
    * the exact flat probe ranking a tuned (nlist, nprobe) was
    * calibrated against. At `nprobe = nlist` the result is exact and
    * fully oracle-able (hierarchy disengages there by construction).
    * Output: (query_id, idCol, cosine, rank). */
  def retrievalNeighbors(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      docCol: String,
      k: Int,
      nlist: Int = 0,
      nprobe: Int = 0,
      seed: Long = 0L,
      fitSample: Int = 100000,
      hierarchical: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nlist >= 0 && nprobe >= 0,
      s"nlist/nprobe must be >= 0 (0 = auto), got nlist=$nlist nprobe=$nprobe")
    lazy val corpusCount = math.max(1L, corpus.count())
    val cells =
      if (nlist > 0) nlist
      else ivfAutoNlist(corpusCount, vecWidth(corpus, vecCol))
    val probes = if (nprobe > 0) nprobe else ivfAutoNprobe(cells, corpusCount, k)
    require(probes >= 1 && probes <= cells,
      s"need 1 <= nprobe <= nlist, got nprobe=$probes nlist=$cells")
    val corpusVec = ivfNormalizedCorpus(
      corpus.select(col(idCol), col(vecCol)), idCol, vecCol)
    val model = ivfFit(corpusVec, idCol, cells, seed, fitSample)
    val assigned = model.transform(corpusVec).drop("__mlvec")
    val centDf = ivfCentroidFrame(corpus.sparkSession, model)
    // per-chunk probe list: rank −2·(q·c)/‖q‖ + c·c (≡ unit-q distance,
    // without materializing unit vectors); the query side is
    // corpus-sized, so centroid candidates go through the HIERARCHICAL
    // selection ([[centroidCandidates]]) — at large nlist each chunk
    // ranks ~(1+sProbes)·√nlist centroids instead of all nlist. The
    // window is keyed by the chunk id, never global.
    val distTo: Column => Column = c =>
      dot(c, c) - lit(2.0) * dot(col("__qv2"), c) / col("__qn")
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("__dist").asc, col("__cell").asc)
    val qBase = assigned
      .join(corpus.select(col(idCol), col(docCol).as("__qd")), Seq(idCol))
      .select(col(idCol).as("query_id"), col("__qd"),
        col("__cv").as("__qv2"), col("__cn").as("__qn"))
      .filter(col("__qn") > 0)
    val qProbes =
      if (probes == cells)
        // exhaustive operating point (the exact-oracle twin): every cell
        // survives the rank filter by construction, so the per-chunk
        // distance ranking and its keyed window exchange are skipped
        centroidCandidates(qBase, centDf, cells, probes, seed,
            hierarchical, distTo)
          .select(col("query_id"), col("__qd"), col("__cell"),
            col("__qv2"), col("__qn"))
      else centroidCandidates(qBase, centDf, cells, probes, seed,
          hierarchical, distTo)
        .withColumn("__dist", distTo(col("__cent")))
        .withColumn("__rk", row_number().over(probeW))
        .filter(col("__rk") <= probes)
        .select(col("query_id"), col("__qd"), col("__cell"),
          col("__qv2"), col("__qn"))
    // pin the cell-join's partition count: the exchange's map output is
    // kilobytes of keys+vectors, so AQE coalesces it to ONE partition —
    // but the join EXPLODES (every query probes into every matching
    // cell) and the dot-product kernel then runs serially on the fused
    // partition (profiled: a 1.78 s single-task stage at sf0.1 doing the
    // whole |Q|·|C| scoring). A user-specified repartition by the join
    // key is exempt from AQE coalescing; parallelism = distinct cells.
    val corpusSide = assigned
      .join(corpus.select(col(idCol), col(docCol).as("__cd")), Seq(idCol))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
        col("__cell"))
    // MERGE hint (r21): the query side is CORPUS-SIZED (every chunk
    // queries), so a broadcast of it is wrong at any real scale — but at
    // small SF AQE saw a few-kilobyte runtime size, converted this join
    // to broadcast, and read the OTHER side through a coalesced
    // AQEShuffleRead, fusing the exploding |Q|·|C| scoring into 2
    // partitions (profiled: 2.9 s of task time in 2 tasks) — exactly the
    // coalescing trap the repartition pin above exists to prevent. The
    // hint pins the scale-correct sort-merge strategy, which also keeps
    // the pinned cell partitioning live for the scoring stage.
    val scored = corpusSide
      .join(qProbes.hint("merge"), Seq("__cell"))
      .filter(col(idCol) =!= col("query_id") && !(col("__cd") <=> col("__qd")))
      .select(col("query_id"), col(idCol),
        round(dot(col("__cv"), col("__qv2")) / (col("__cn") * col("__qn")), 6)
          .as("cosine"))
    graft.dp.TopK.topKPerKeyDirectional(
      scored, Seq("query_id"), Seq("cosine" -> false, idCol -> true), k)
      .select(col("query_id"), col(idCol), col("cosine"), col("rank"))
  }

  /** SSL-prototype scores against a SUPPLIED centroid frame — the
    * deterministic core of D4-style diversification (Sorscher et al.
    * 2022 "Beyond neural scaling laws"; Tirumala et al. 2023 "D4").
    * Every document is assigned to its nearest centroid by cosine
    * (rounded to 6 decimals — the library's cross-engine score unit —
    * ties broken toward the smaller cell id) and scored by that cosine:
    * HIGH `proto_score` = close to its cluster's prototype = redundant,
    * easy data; LOW = the diverse tail. Output: (idCol, `proto_cell`,
    * `proto_score`), one row per input row; documents with a zero-norm
    * vector (or all-null cosines) keep null cell/score.
    *
    * Scale shape: centroids are broadcast (|cells| rows), scoring is a
    * map pass over the corpus, and the argmax is ONE map-side-partial
    * groupBy on the id — no window, no all-pairs. */
  def prototypeScores(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      cellCol: String = "cell",
      centroidCol: String = "centroid"): DataFrame = {
    val scored = corpus.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(centroids.select(
        col(cellCol).cast("int").as("__pcell"),
        col(centroidCol).as("__pc"))))
      .select(col(idCol), col("__pcell"),
        round(cosine(col(vecCol), col("__pc")), 6).as("__ps"))
      .filter(col("__ps").isNotNull)
    // max over (score, -cell) structs: field-lexicographic max = best
    // score, smaller cell on ties — deterministic, map-side combinable
    val best = scored
      .groupBy(col(idCol))
      .agg(max(struct(col("__ps").as("s"), (-col("__pcell")).as("nc")))
        .as("__m"))
      .select(col(idCol), (-col("__m.nc")).cast("int").as("proto_cell"),
        col("__m.s").as("proto_score"))
    corpus.select(col(idCol)).join(best, Seq(idCol), "left")
  }

  /** D4/SSL-prototype pruning with supplied centroids: drop the
    * `pruneFrac` most PROTOTYPICAL documents of every cell — those whose
    * [[prototypeScores]] cosine exceeds the cell's `1 − pruneFrac`
    * percentile (strictly above, so `pruneFrac = 0` keeps everything).
    * Survivors carry `proto_cell`/`proto_score`; unscorable rows
    * (zero-norm vectors) always survive. `exact` switches the per-cell
    * cutoff from the mergeable percentile sketch to exact percentiles
    * (small corpora / verification runs).
    *
    * Scale shape: one broadcast-centroid map pass + argmax groupBy
    * ([[prototypeScores]]), one |cells|-row cutoff aggregate joined back
    * broadcast, one keyed join of scores onto the corpus. */
  def prototypePruneWithCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      pruneFrac: Double,
      cellCol: String = "cell",
      centroidCol: String = "centroid",
      exact: Boolean = false): DataFrame = {
    require(pruneFrac >= 0 && pruneFrac < 1,
      s"pruneFrac must be in [0,1), got $pruneFrac")
    val scores =
      prototypeScores(corpus, idCol, vecCol, centroids, cellCol, centroidCol)
    val cutoffs = scores.filter(col("proto_score").isNotNull)
      .groupBy(col("proto_cell"))
      .agg(graft.Exprs.pct(col("proto_score"), 1 - pruneFrac, exact)
        .as("__cut"))
    corpus.join(scores, Seq(idCol))
      .join(broadcast(cutoffs), Seq("proto_cell"), "left")
      .filter(col("proto_score").isNull || col("proto_score") <= col("__cut"))
      .drop("__cut")
  }

  /** D4/SSL-prototype pruning, production path: fit the coarse k-means
    * quantizer (the same seeded bounded-sample fit the IVF family uses),
    * then [[prototypePruneWithCentroids]] against the fitted centroids.
    * Cluster count follows the papers' regime — cells of thousands of
    * docs, so size `nClusters ≈ N / 5k`. */
  def prototypePrune(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nClusters: Int,
      pruneFrac: Double,
      seed: Long = 7L,
      fitSample: Int = 200000,
      exact: Boolean = false): DataFrame = {
    require(nClusters > 0, s"nClusters must be positive, got $nClusters")
    val norm = ivfNormalizedCorpus(corpus, idCol, vecCol)
    val model = ivfFit(norm, idCol, nClusters, seed, fitSample)
    val cents = ivfCentroidFrame(corpus.sparkSession, model)
    prototypePruneWithCentroids(corpus, idCol, vecCol, cents, pruneFrac,
      cellCol = "__cell", centroidCol = "__cent", exact = exact)
  }

  /** The D4 pipeline (Tirumala et al. 2023): SemDeDup first (semantic
    * near-duplicates die, lowest id survives), then SSL-prototype
    * pruning of the survivors (the most prototypical `pruneFrac` of
    * every cluster dies) — dedup removes REDUNDANCY, prototype pruning
    * removes EASY data, and the paper's result is that the combination
    * beats either alone at LLM pretraining scale. Both stages share the
    * seeded coarse-quantizer machinery; survivors carry their
    * `proto_cell`/`proto_score` for downstream mixing. */
  def d4Select(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nClusters: Int,
      dedupThreshold: Double,
      pruneFrac: Double,
      seed: Long = 7L,
      fitSample: Int = 200000,
      exact: Boolean = false): DataFrame = {
    val deduped = semDedup(corpus, idCol, vecCol, nClusters, dedupThreshold,
      seed, fitSample)
    prototypePrune(deduped, idCol, vecCol, nClusters, pruneFrac, seed,
      fitSample, exact)
  }

  /** Reciprocal-rank fusion of ranked candidate lists (hybrid retrieval:
    * lexical ⊕ vector, or any mix): each ranking contributes
    * `1/(k0 + rank)` per (query, item), summed scores re-rank, top k
    * kept. RRF needs no score calibration between the rankers — only
    * ranks — which is why it is the standard hybrid-search fusion.
    *
    * Scale shape: the inputs are already top-N shortlists (bounded —
    * |Q|·N rows each), so the union/groupBy/window all run on
    * shortlist-sized data regardless of corpus size; the heavy lifting
    * happened in the rankers. Each input must carry
    * (`query_id`, idCol, `rank`). Ties order by (score DESC, id ASC),
    * the [[rankTopK]] contract. `k0 = 60` is the conventional constant
    * from the original RRF evaluation (Cormack et al., SIGIR 2009). */
  def rrfFuse(
      rankings: Seq[DataFrame],
      idCol: String,
      k0: Int = 60,
      k: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k0 >= 1, s"k0 must be >= 1, got $k0")
    val u = rankings
      .map(_.select(col("query_id"), col(idCol), col("rank")))
      .reduce(_.unionByName(_))
    val scored = u
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(lit(1.0) / (col("rank") + lit(k0))).as("__s"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("__s").desc, col(idCol).asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), round(col("__s"), 6).as("rrf_score"), col("rank"))
  }

  /** Diversity-aware re-rank of a top-N shortlist with Maximal Marginal
    * Relevance: greedily pick k of each query's N candidates maximizing
    * `lambda·sim(query, cand) − (1−lambda)·max sim(cand, picked)`.
    * Deduplicated corpora still serve near-identical top hits for a hot
    * query; MMR trades a little relevance for coverage.
    *
    * Scale shape: this runs AFTER a distributed shortlist stage
    * ([[cosineTopK]] / [[lshCosineTopK]] / [[ivfCosineTopK]]) — the
    * greedy argmax is inherently sequential, so it executes per query
    * group via typed `mapGroups`, each group bounded by the shortlist
    * size N (the O(k·N) inner loop touches ≤ N vectors in one task's
    * memory). Queries parallelize across the cluster; nothing quadratic
    * in the corpus exists anywhere.
    *
    * `shortlist` must carry (queryIdCol, candIdCol, `cosine`, candVecCol);
    * output: (query_id, rank 1-based, cand_id, cosine, mmr). Contract:
    * BOTH id columns must be integral (they are cast to long for the
    * typed mapGroups) — string ids would cast to null and fail the
    * non-nullable decode; map them to a dense long id first. */
  def mmrRerank(
      shortlist: DataFrame,
      queryIdCol: String,
      candIdCol: String,
      candVecCol: String,
      k: Int,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0,1], got $lambda")
    val spark = shortlist.sparkSession
    import spark.implicits._
    shortlist
      .select(
        col(queryIdCol).cast("long"),
        col(candIdCol).cast("long"),
        col("cosine").cast("double"),
        col(candVecCol).cast("array<double>"))
      .as[(Long, Long, Double, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cands = it.toArray.sortBy(c => (-c._3, c._2)) // relevance order, stable
        def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
        def cos(a: Array[Double], b: Array[Double]): Double = {
          var d = 0.0; var i = 0
          while (i < a.length && i < b.length) { d += a(i) * b(i); i += 1 }
          val na = norm(a) * norm(b)
          if (na == 0) 0.0 else d / na
        }
        val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Array[Double])]
        val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
        while (picked.size < k && remaining.nonEmpty) {
          val scored = remaining.map { c =>
            val red = if (picked.isEmpty) 0.0 else picked.map(p => cos(c._4, p._4)).max
            (c, lambda * c._3 - (1 - lambda) * red)
          }
          // deterministic tie-break: higher mmr, then relevance order
          val best = scored.maxBy { case (c, m) => (m, c._3, -c._2) }
          picked += best._1
          remaining -= best._1
        }
        picked.zipWithIndex.map { case (c, i) =>
          val red = if (i == 0) 0.0 else picked.take(i).map(p => cos(c._4, p._4)).max
          // mmr is rounded at FOUR decimals (not the usual six): the raw
          // score sits on arbitrary double arithmetic and a value landing
          // within an ulp of a rounding boundary flips the last digit
          // between engines (observed at sf0.001) — 1e-4 keeps the
          // diagnostic value while pushing the boundary odds down 100×.
          // Selection order is computed on UNROUNDED scores either way.
          (qid, i + 1, c._2, c._3, math.rint((lambda * c._3 - (1 - lambda) * red) * 1e4) / 1e4)
        }
      }
      .toDF(queryIdCol, "rank", candIdCol, "cosine", "mmr")
  }

  /** Per-class centroid CELLS (label, dim, mean_val): explode each vector
    * to (dim, value) and average per (label, dim). The explode multiplies
    * rows by the embedding width, but the groupBy is combinable — partial
    * map-side averages bound the shuffle to |labels|·dim cells no matter
    * the corpus size. Means are rounded to 6 decimals so downstream math
    * starts from engine-reproducible inputs. */
  def labelCentroidCells(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(
        col(labelCol),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col(labelCol), col("dim"))
      .agg(round(avg(col("x")), 6).as("mean_val"))

  /** Centroid ARRAYS (label, centroid) reassembled from the cells —
    * |labels| rows, ready to broadcast. */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    labelCentroidCells(df, labelCol, vecCol)
      .groupBy(col(labelCol))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("mean_val")))),
        s => s.getField("mean_val")).as("centroid"))

  /** Nearest-centroid assignment (the Rocchio classifier / the "assign"
    * half of k-means): each vector pairs with every broadcast centroid,
    * cosine-scored with the codegen'd dot kernel, best label wins (ties
    * broken by label for determinism). Work is |corpus|·|labels| rows
    * streamed through a broadcast join — no shuffle of the corpus; the
    * per-id argmax rides the bounded window idiom (|labels| rows per
    * id). */
  def nearestCentroid(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      labelCol: String): DataFrame = {
    // norms projected ONCE per side before the cross join (the in-pair
    // cosine() helper would recompute each row's norm per LABEL and each
    // centroid's per ROW — the recomputation cosineTopK's comment bans);
    // zero-norm rows/centroids excluded like every cosine search here
    val scored = df
      .select(col(idCol), col(vecCol).as("__v"), l2Norm(col(vecCol)).as("__n"))
      .filter(col("__n") > 0)
      .crossJoin(broadcast(centroids.select(
        col(labelCol).as("__cl"),
        col("centroid").as("__cv"),
        l2Norm(col("centroid")).as("__cn"))
        .filter(col("__cn") > 0)))
      .select(
        col(idCol),
        col("__cl"),
        round(dot(col("__v"), col("__cv")) / (col("__n") * col("__cn")), 6).as("cosine"))
    val w = Window.partitionBy(col(idCol)).orderBy(desc("cosine"), col("__cl"))
    scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("__cl").as("pred_label"), col("cosine"))
  }

  /** Semantic (embedding-level) benchmark contamination report — the
    * decontamination companion to the n-gram overlap check
    * ([[graft.dedup.Dedup.contaminationReport]]): paraphrased or
    * re-tokenized benchmark leakage that shares no 8-gram still sits at
    * cosine ≈ 1 in embedding space, and published pipelines run BOTH
    * screens before a corpus ships. For every corpus row whose best
    * benchmark match has cosine >= `threshold`: (idCol, bench id, that
    * cosine). Cosines are rounded to 6 decimals (the library's
    * cross-engine score unit) BEFORE the argmax; ties break toward the
    * lower benchmark id via the (score, -id) struct max, so benchmark
    * ids must be numeric.
    *
    * Scale shape: the benchmark side is tiny by construction (thousands
    * of rows against a corpus of billions) — norms are projected once
    * per side, the benchmark frame is broadcast, and the per-row argmax
    * is ONE map-side-partial groupBy on the corpus id: no shuffle of
    * the corpus×bench product, no window. Zero-norm rows on either side
    * never match. */
  def semanticContaminationReport(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      bench: DataFrame,
      benchIdCol: String,
      benchVecCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    corpus
      .select(col(idCol), col(vecCol).as("__v"), l2Norm(col(vecCol)).as("__n"))
      .filter(col("__n") > 0)
      .crossJoin(broadcast(bench.select(
        col(benchIdCol).as("__bid"),
        col(benchVecCol).as("__bv"),
        l2Norm(col(benchVecCol)).as("__bn"))
        .filter(col("__bn") > 0)))
      .select(col(idCol),
        struct(
          round(dot(col("__v"), col("__bv")) / (col("__n") * col("__bn")), 6).as("s"),
          (-col("__bid")).as("nb")).as("__m"))
      .groupBy(col(idCol))
      .agg(max(col("__m")).as("__b"))
      .filter(col("__b.s") >= threshold)
      .select(col(idCol),
        (-col("__b.nb")).as("bench_id"),
        col("__b.s").as("cosine"))
  }

  /** Semantic decontamination enforcement: drop every corpus row flagged
    * by [[semanticContaminationReport]], pass everything else through
    * untouched (zero-norm vectors always survive — they matched
    * nothing). Anti-join on the bounded flagged set. */
  def decontaminateSemantic(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      bench: DataFrame,
      benchIdCol: String,
      benchVecCol: String,
      threshold: Double): DataFrame =
    corpus.join(
      semanticContaminationReport(
        corpus, idCol, vecCol, bench, benchIdCol, benchVecCol, threshold)
        .select(col(idCol)),
      Seq(idCol), "left_anti")
}
