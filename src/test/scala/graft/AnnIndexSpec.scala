package graft

import java.nio.file.Files

import graft.similarity.{AnnIndex, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The persistable ANN index: build-once/persist/search-many.
  *
  * The load-bearing assertions:
  *   - prebuilt-index search results are IDENTICAL to the one-shot
  *     operators at identical parameters (the index relocates the
  *     structure, never changes the answer);
  *   - searching twice returns identical results with no rebuild
  *     (ensure* skips the build when meta exists);
  *   - the IVF search plan PRUNES: its corpus scan carries partition
  *     filters on __cell, so unprobed cell directories are never read —
  *     the property that makes search ~nprobe/nlist of the corpus IO at
  *     100 TB instead of a full scan.
  */
class AnnIndexSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def emb: DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("deleteIds: tombstoned rows vanish from IVF search; compact folds them physically") {
    import spark.implicits._
    val dir = tempDir("graft_ivf_del")
    AnnIndex.buildIvf(emb, "vec_id", "embedding", dir, nlist = 16, seed = 7L)
    val queries = emb.filter(col("vec_id") < 5)
    def topIds() = AnnIndex
      .searchIvf(spark, dir, queries, "vec_id", "embedding", k = 8, nprobe = 16)
      .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    // delete every current top hit — the strongest retraction test: the
    // exhaustive search must re-rank entirely from the survivors
    val doomed = topIds()
    assert(doomed.nonEmpty)
    AnnIndex.deleteIds(spark, dir, doomed.toSeq.toDF("vec_id"))
    val afterDelete = topIds()
    assert((afterDelete & doomed).isEmpty,
      s"tombstoned ids still served: ${afterDelete & doomed}")
    // exhaustive-probe search over the tombstoned index == brute force
    // over the surviving corpus (the full contract the oracle also pins)
    val survivors = emb.filter(!col("vec_id").isin(doomed.toSeq: _*))
    val brute = rows(Similarity
      .cosineTopK(survivors, queries, "vec_id", "embedding", "vec_id", 8)
      .orderBy(col("query_id"), col("rank")))
    def searchRows() = rows(AnnIndex
      .searchIvf(spark, dir, queries, "vec_id", "embedding", k = 8, nprobe = 16)
      .orderBy(col("query_id"), col("rank")))
    assert(searchRows() === brute)
    // fold: tombstone table gone, corpus physically shrunk, n_rows
    // refreshed, answers unchanged
    val total = emb.count()
    AnnIndex.compact(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones.parquet").exists())
    assert(spark.read.parquet(s"$dir/corpus.parquet").count() ===
      total - doomed.size)
    assert(spark.read.parquet(s"$dir/meta.parquet").head()
      .getAs[Long]("n_rows") === total - doomed.size)
    assert(searchRows() === brute)
    // re-appending a folded id serves it again
    val back = doomed.head
    AnnIndex.appendIvf(emb.filter(col("vec_id") === back), "embedding", dir)
    assert(topIds().contains(back) ||
      !rows(AnnIndex.searchIvf(spark, dir,
        emb.filter(col("vec_id") === back), "vec_id", "embedding", k = 1,
        nprobe = 16)).isEmpty)
  }

  test("deleteIds: sharded routing, LSH and IVF-PQ paths all honor tombstones") {
    import spark.implicits._
    val queries = emb.filter(col("vec_id") < 3)
    // sharded IVF: ids route to their owning shard's tombstones
    val sh = tempDir("graft_sh_del")
    AnnIndex.buildIvfSharded(emb, "vec_id", "embedding", sh, nShards = 3, nlist = 16)
    val doomed = AnnIndex
      .searchIvfSharded(spark, sh, queries, "vec_id", "embedding", k = 3, nprobe = 16)
      .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    AnnIndex.deleteIds(spark, sh, doomed.toSeq.toDF("vec_id"))
    val got = AnnIndex
      .searchIvfSharded(spark, sh, queries, "vec_id", "embedding", k = 3, nprobe = 16)
      .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    assert((got & doomed).isEmpty)
    // compact folds per shard and re-sums the top-level count
    AnnIndex.compact(spark, sh)
    assert(spark.read.parquet(s"$sh/meta.parquet").head()
      .getAs[Long]("n_rows") === emb.count() - doomed.size)
    // a reshard after deletion must NOT resurrect tombstoned rows
    val sh2 = tempDir("graft_sh_del2")
    AnnIndex.buildIvfSharded(emb, "vec_id", "embedding", sh2, nShards = 3, nlist = 16)
    AnnIndex.deleteIds(spark, sh2, doomed.toSeq.toDF("vec_id"))
    AnnIndex.reshardIvf(spark, sh2, newShards = 2, nlist = 16)
    val resharded = AnnIndex
      .searchIvfSharded(spark, sh2, queries, "vec_id", "embedding", k = 3, nprobe = 16)
      .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    assert((resharded & doomed).isEmpty,
      s"reshard resurrected tombstoned rows: ${resharded & doomed}")
    // LSH: tombstones honored at the signature scan; fold keeps per-table
    // replica accounting (n_rows = signature rows / tables)
    val lsh = tempDir("graft_lsh_del")
    AnnIndex.buildLsh(emb, "vec_id", "embedding", lsh, tables = 2, bits = 4)
    AnnIndex.deleteIds(spark, lsh, Seq(10L, 11L).toDF("vec_id"))
    val lshGot = AnnIndex
      .searchLsh(spark, lsh, emb.filter(col("vec_id") === 10), "vec_id",
        "embedding", k = 5, probes = 1)
      .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    assert(!lshGot.contains(10L) && !lshGot.contains(11L))
    AnnIndex.compact(spark, lsh)
    assert(spark.read.parquet(s"$lsh/meta.parquet").head()
      .getAs[Long]("n_rows") === emb.count() - 2)
    // IVF-PQ: tombstones honored on both the raw-ADC and refined paths
    val pq = tempDir("graft_pq_del")
    val small = emb.filter(col("vec_id") < 300)
    AnnIndex.buildIvfPq(small, "vec_id", "embedding", pq, nlist = 8,
      m = 8, codes = 256, refine = true)
    AnnIndex.deleteIds(spark, pq, Seq(20L, 21L).toDF("vec_id"))
    for (refine <- Seq(0, 30)) {
      val pqGot = AnnIndex
        .searchIvfPq(spark, pq, small.filter(col("vec_id") < 3), "vec_id",
          "embedding", k = 297, nprobe = 8, refine = refine)
        .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
      assert(!pqGot.contains(20L) && !pqGot.contains(21L),
        s"refine=$refine served a tombstoned id")
    }
  }

  test("stats reports rows, pending tombstones, layout decay; tombstone anti-join broadcasts") {
    import spark.implicits._
    val dir = tempDir("graft_ivf_stats")
    AnnIndex.buildIvf(emb, "vec_id", "embedding", dir, nlist = 16)
    val s0 = AnnIndex.stats(spark, dir).head()
    assert(s0.getAs[String]("kind") === "ivf")
    assert(s0.getAs[Long]("n_rows") === emb.count())
    assert(s0.getAs[Long]("pending_tombstones") === 0L)
    assert(s0.getAs[Long]("data_files") > 0L && s0.getAs[Long]("data_bytes") > 0L)
    AnnIndex.deleteIds(spark, dir, Seq(1L, 2L, 3L).toDF("vec_id"))
    val s1 = AnnIndex.stats(spark, dir).head()
    assert(s1.getAs[Long]("pending_tombstones") === 3L)
    // the tombstone anti-join must be a BROADCAST hash join (takedown
    // sets are small; a sort-merge anti would shuffle every pruned
    // candidate's payload) — pin the strategy
    // string-match: the executed plan is an AdaptiveSparkPlan wrapper,
    // which collect() does not traverse into
    // (bound 0: the distributed plan, as every search with pending
    // tombstones takes)
    val plan = AnnIndex.searchIvfImpl(spark, dir, emb.filter(col("vec_id") < 2),
      "vec_id", "embedding", k = 3, nprobe = 16, corpusFilter = None, localMaxBytes = 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"tombstone filter must broadcast the tombstone side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"tombstone filter must not sort-merge the candidates:\n$plan")
    AnnIndex.compact(spark, dir)
    val s2 = AnnIndex.stats(spark, dir).head()
    assert(s2.getAs[Long]("pending_tombstones") === 0L)
    assert(s2.getAs[Long]("n_rows") === emb.count() - 3)
    // sharded aggregation
    val sh = tempDir("graft_sh_stats")
    AnnIndex.buildIvfSharded(emb, "vec_id", "embedding", sh, nShards = 3, nlist = 8)
    val s3 = AnnIndex.stats(spark, sh).head()
    assert(s3.getAs[String]("kind") === "ivf_sharded")
    assert(s3.getAs[Int]("n_shards") === 3)
    assert(s3.getAs[Long]("n_rows") === emb.count())
    // hash routing keeps shards near-even: skew bounds are the
    // rebalance signal
    assert(s3.getAs[Long]("shard_rows_min") > 0)
    assert(s3.getAs[Long]("shard_rows_max") < emb.count())
    assert(s3.getAs[Long]("shard_rows_min") <= s3.getAs[Long]("shard_rows_max"))
  }

  test("PQ encode is map-only and code-identical to the aggregate formulation") {
    // books fitted on real embeddings, then both encode routes compared
    // row for row: codes must match exactly (the aggregate route is the
    // differential oracle), rn to last-ulp tolerance (it sums the chosen
    // c2 terms in a different order)
    val corpusVec = Similarity.ivfNormalizedCorpus(emb, "vec_id", "embedding")
    val (books, _) = Similarity.pqFit(corpusVec, "vec_id", m = 8, codes = 64,
      seed = 3L, fitSample = 1000)
    val viaAgg = Similarity
      .pqEncode(corpusVec.drop("__mlvec"), "vec_id", books, m = 8,
        sub = emb.head().getAs[Seq[Float]]("embedding").size / 8)
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Int](1).toList, r.getDouble(2))).toMap
    val mapOnly = Similarity.pqEncodeColumns(corpusVec.drop("__mlvec"), books)
    // plan pin: no exchange with >1 partition on the corpus side (the
    // only exchange folds the m·codes codebook rows into one row)
    val plan = mapOnly.queryExecution.executedPlan
    assert(plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.numPartitions > 1 => e
    }.isEmpty, s"PQ encode must be map-only on the corpus side:\n$plan")
    val got = mapOnly.select(col("vec_id"), col("__codes"), col("__rn"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Int](1).toList, r.getDouble(2))).toMap
    assert(got.keySet === viaAgg.keySet && got.nonEmpty)
    got.foreach { case (id, (codes, rn)) =>
      assert(codes === viaAgg(id)._1, s"row $id codes diverge")
      assert(math.abs(rn - viaAgg(id)._2) <= 1e-9, s"row $id rn diverges")
    }
  }

  test("PQ LUT kernel is map-only and value-identical to the exploded formulation (r21)") {
    // books fitted on real embeddings with codes > returned centers in
    // some subspace unlikely — so ALSO plant an explicit hole by
    // dropping one codebook row: its slot must come back -inf in both
    // routes. The exploded map_from_entries route is the differential
    // oracle for the PqLutArray kernel.
    val corpusVec = Similarity.ivfNormalizedCorpus(emb, "vec_id", "embedding")
    val (books, codesEff) = Similarity.pqFit(corpusVec, "vec_id", m = 8,
      codes = 64, seed = 3L, fitSample = 1000)
    val holed = books.filter(!(col("subspace") === 2 && col("code") === 5))
    val queries = emb.filter(col("vec_id") < 3)
    val sub = emb.head().getAs[Seq[Float]]("embedding").size / 8
    // the pre-r21 formulation, replayed inline as the oracle
    def unit(v: org.apache.spark.sql.Column) =
      when(Similarity.l2Norm(v) > 0,
        transform(v.cast("array<double>"), x => x / Similarity.l2Norm(v)))
        .otherwise(v.cast("array<double>"))
    val viaMap = queries
      .select(col("vec_id").as("query_id"), unit(col("embedding")).as("__qu"),
        Similarity.l2Norm(col("embedding")).as("__qn"))
      .filter(col("__qn") > 0)
      .crossJoin(broadcast(holed))
      .select(col("query_id"),
        (col("subspace") * codesEff + col("code")).as("__slot"),
        Similarity.dot(
          slice(col("__qu"), col("subspace") * sub + 1, lit(sub)), col("cent"))
          .as("__v"))
      .groupBy(col("query_id"))
      .agg(map_from_entries(collect_list(struct(col("__slot"), col("__v"))))
        .as("__lutmap"))
      .select(col("query_id"), expr(
        s"transform(sequence(0, ${8 * codesEff - 1}), " +
          "i -> coalesce(element_at(__lutmap, i), cast('-Infinity' as double)))")
        .as("__lut"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
    val kernel = Similarity.pqLut(queries, "vec_id", "embedding", holed, codesEff)
    // plan pin: map-only on the query side — the only exchange folds the
    // codebook rows into the one broadcast row
    val plan = kernel.queryExecution.executedPlan
    assert(plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.numPartitions > 1 => e
    }.isEmpty, s"pqLut must be map-only on the query side:\n$plan")
    val got = kernel.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
    assert(got.keySet === viaMap.keySet && got.nonEmpty)
    got.foreach { case (id, lut) =>
      assert(lut.length === viaMap(id).length, s"query $id lut length")
      // bit-identical: same multiplies in the same order, holes -inf
      assert(lut === viaMap(id), s"query $id lut values diverge")
    }
    assert(got.values.head(2 * codesEff + 5).isNegInfinity,
      "planted codebook hole must surface as -inf")
  }

  test("append assignment is map-only (no window/exchange over batch×centroids) and exact") {
    val dir = tempDir("graft_ivf_assign")
    AnnIndex.buildIvf(emb, "vec_id", "embedding", dir, nlist = 16, seed = 7L)
    val centDf = spark.read.parquet(s"$dir/centroids.parquet")
    val corpusVec = Similarity.ivfNormalizedCorpus(
      emb.filter(col("vec_id") >= 5), "vec_id", "embedding")
    val assigned = AnnIndex.assignToPersistedCells(corpusVec, centDf)
      .select(col("vec_id"), col("__cell"))
    // r17's shape pushed O(|batch|·nlist) rows through a window exchange;
    // this plan must have NO window and NO shuffle on the batch side (the
    // only exchange is the nlist-row candidates fold on the broadcast
    // side) — the property that keeps a 1M-row append at nlist=65536 from
    // shuffling 65 billion intermediate rows
    val plan = assigned.queryExecution.executedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"append assignment must not use a window:\n$plan")
    val batchSideExchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          // the candidates fold shuffles nlist rows to one partition —
          // anything NOT a single-partition exchange is batch-side
          if e.outputPartitioning.numPartitions > 1 => e
    }
    assert(batchSideExchanges.isEmpty,
      s"append assignment must be map-only on the batch side:\n$plan")
    // exactness: every row's cell is the true argmin over ALL persisted
    // centroids (ties toward the smaller cell id)
    val cents = centDf.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    val vecs = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val got = assigned.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.nonEmpty && got.size === vecs.size)
    got.foreach { case (id, cell) =>
      val v = vecs(id)
      val n = math.sqrt(v.map(x => x * x).sum)
      val want = cents.minBy { case (c, cent) =>
        val c2 = cent.map(x => x * x).sum
        val dot = v.zip(cent).map { case (a, b) => a * b }.sum
        (c2 - 2.0 * dot / n, c)
      }._1
      assert(cell === want, s"row $id assigned to $cell, exact argmin is $want")
    }
  }

  test("IVF: search on a prebuilt index equals the one-shot operator") {
    val dir = tempDir("graft_ivf_idx")
    val queries = emb.filter(col("vec_id") < 5)
    AnnIndex.buildIvf(emb, "vec_id", "embedding", dir, nlist = 16, seed = 7L)
    val fromIndex = rows(
      AnnIndex.searchIvf(spark, dir, queries, "vec_id", "embedding", k = 8, nprobe = 6)
        .orderBy(col("query_id"), col("rank")))
    val oneShot = rows(
      Similarity.ivfCosineTopK(emb, queries, "vec_id", "embedding", "vec_id",
        k = 8, nlist = 16, nprobe = 6, seed = 7L)
        .orderBy(col("query_id"), col("rank")))
    assert(fromIndex.nonEmpty)
    assert(fromIndex === oneShot)
  }

  test("IVF: prebuilt index over the TWO-LEVEL fit (nlist > 2048) — identity, persistence, exactness") {
    // 3000 planted clustered rows with 2500 requested cells force the
    // r16 two-level fit + NearestCell assignment through the PERSISTED
    // index path: build partitions by the two-level cells, search must
    // (a) equal the one-shot operator at identical parameters and
    // (b) be EXACT at nprobe = nlist regardless of how the quantizer
    // carved the space (the coverage proof for the index layout)
    val dir = tempDir("graft_ivf_idx_2lvl")
    val corpus = graft.tools.Recall.clusteredCorpus(
      spark, n = 3000L, dims = 8, clusters = 64, noise = 1.0)
    val queries = corpus.filter(col("vec_id") < 5)
    AnnIndex.buildIvf(corpus, "vec_id", "vec", dir, nlist = 2500, seed = 7L)
    val cents = spark.read.parquet(s"$dir/centroids.parquet")
    assert(cents.count() >= 2000 && cents.count() <= 2600)
    val fromIndex = rows(
      AnnIndex.searchIvf(spark, dir, queries, "vec_id", "vec", k = 8, nprobe = 2500)
        .orderBy(col("query_id"), col("rank")))
    val oneShot = rows(
      Similarity.ivfCosineTopK(corpus, queries, "vec_id", "vec", "vec_id",
        k = 8, nlist = 2500, nprobe = 2500, seed = 7L)
        .orderBy(col("query_id"), col("rank")))
    assert(fromIndex.nonEmpty && fromIndex === oneShot)
    val exact = rows(
      Similarity.cosineTopK(corpus, queries, "vec_id", "vec", "vec_id", 8)
        .orderBy(col("query_id"), col("rank")))
    assert(fromIndex === exact)
  }

  test("IVF: ensure builds once; the second search runs against the persisted structure") {
    val dir = tempDir("graft_ivf_ensure")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding", dir, nlist = 16, seed = 7L)
    assert(AnnIndex.exists(spark, dir))
    val metaModified = Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/meta.parquet"))
    val queries = emb.filter(col("vec_id") < 3)
    val first = rows(
      AnnIndex.searchIvf(spark, dir, queries, "vec_id", "embedding", k = 5, nprobe = 8)
        .orderBy(col("query_id"), col("rank")))
    // a second ensure + search must NOT rebuild (meta untouched) and must
    // return the identical answer
    AnnIndex.ensureIvf(emb, "vec_id", "embedding", dir, nlist = 16, seed = 7L)
    val second = rows(
      AnnIndex.searchIvf(spark, dir, queries, "vec_id", "embedding", k = 5, nprobe = 8)
        .orderBy(col("query_id"), col("rank")))
    assert(first === second)
    assert(Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/meta.parquet")) === metaModified,
      "second ensureIvf must skip the build — the fit-once contract")
  }

  test("IVF: the search scan partition-prunes to the probed cells") {
    val dir = tempDir("graft_ivf_prune")
    AnnIndex.buildIvf(emb, "vec_id", "embedding", dir, nlist = 16, seed = 7L)
    // bound 0: the distributed plan a search over the local bound takes
    val search = AnnIndex.searchIvfImpl(
      spark, dir, emb.filter(col("vec_id") < 2), "vec_id", "embedding",
      k = 5, nprobe = 3, corpusFilter = None, localMaxBytes = 0)
    // sparkPlan, not executedPlan: AQE wraps the executed plan in an
    // AdaptiveSparkPlanExec whose children aren't traversable pre-execution
    val scans = search.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.metadata.get("Location").exists(_.contains("corpus.parquet")) => f
    }
    assert(scans.nonEmpty, "expected a file scan over the index corpus")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "corpus scan must carry partition filters on __cell — without them " +
        "every search reads the whole index")
    // 2 queries x 3 probes = at most 6 distinct cells of 16 can be read.
    // Count with the LITERAL filters only — Spark also injects a dynamic-
    // pruning subquery for the cell join, which cannot evaluate outside
    // execution (and can only prune further at runtime).
    val literalFilters = scans.head.partitionFilters.filterNot(
      _.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
    assert(literalFilters.nonEmpty, "expected a literal probed-cell IN filter")
    val partsRead = scans.map(_.relation.location.listFiles(
      literalFilters, Nil).length).max
    assert(partsRead <= 6, s"probed-cell pruning should cap partitions at 6, read $partsRead")
  }

  test("LSH: search on a prebuilt index equals the one-shot operator") {
    val dir = tempDir("graft_lsh_idx")
    val queries = emb.filter(col("vec_id") < 5)
    AnnIndex.buildLsh(emb, "vec_id", "embedding", dir, tables = 8, bits = 6)
    val fromIndex = rows(
      AnnIndex.searchLsh(spark, dir, queries, "vec_id", "embedding", k = 8, probes = 6)
        .orderBy(col("query_id"), col("rank")))
    val oneShot = rows(
      Similarity.lshCosineTopK(emb, queries, "vec_id", "embedding", "vec_id",
        k = 8, tables = 8, bits = 6, probes = 6)
        .orderBy(col("query_id"), col("rank")))
    assert(fromIndex.nonEmpty)
    assert(fromIndex === oneShot)
  }

  test("LSH: ensure skips the rebuild; searches are reproducible") {
    val dir = tempDir("graft_lsh_ensure")
    AnnIndex.ensureLsh(emb, "vec_id", "embedding", dir, tables = 4, bits = 5)
    val metaModified = Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/meta.parquet"))
    val queries = emb.filter(col("vec_id") < 3)
    val first = rows(
      AnnIndex.searchLsh(spark, dir, queries, "vec_id", "embedding", k = 5, probes = 4)
        .orderBy(col("query_id"), col("rank")))
    AnnIndex.ensureLsh(emb, "vec_id", "embedding", dir, tables = 4, bits = 5)
    val second = rows(
      AnnIndex.searchLsh(spark, dir, queries, "vec_id", "embedding", k = 5, probes = 4)
        .orderBy(col("query_id"), col("rank")))
    assert(first === second)
    assert(Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/meta.parquet")) === metaModified,
      "second ensureLsh must skip the build")
  }

  test("IVF: appended batch rows are searchable — no re-fit, clones found at rank 1") {
    val dir = tempDir("graft_ivf_append")
    val half1 = emb.filter(col("vec_id") < 250)
    val half2 = emb.filter(col("vec_id") >= 250)
    AnnIndex.buildIvf(half1, "vec_id", "embedding", dir, nlist = 16, seed = 7L)
    AnnIndex.appendIvf(half2, "embedding", dir)
    // query with exact CLONES of appended vectors under fresh ids: the
    // clone shares the unit vector, so its cell is the query's nearest
    // probe and it must come back at rank 1 with cosine 1.0
    val queries = half2.filter(col("vec_id") < 253)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val top = AnnIndex.searchIvf(spark, dir, queries, "vec_id", "embedding",
        k = 3, nprobe = 4)
      .filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(top.length === 3)
    top.foreach { case (qid, id, cos) =>
      assert(id === qid - 100000 && cos === 1.0,
        s"appended clone of $qid not found at rank 1 (got $id @ $cos)")
    }
  }

  test("LSH: appended batch shares the persisted bucket space — clones found") {
    val dir = tempDir("graft_lsh_append")
    val half1 = emb.filter(col("vec_id") < 250)
    val half2 = emb.filter(col("vec_id") >= 250)
    AnnIndex.buildLsh(half1, "vec_id", "embedding", dir, tables = 8, bits = 6)
    AnnIndex.appendLsh(half2, "embedding", dir)
    val queries = half2.filter(col("vec_id") < 253)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    // identical vectors sign identically under the hash-derived planes,
    // so every clone shares every bucket with its query
    val top = AnnIndex.searchLsh(spark, dir, queries, "vec_id", "embedding", k = 3)
      .filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(top.length === 3)
    top.foreach { case (qid, id, cos) =>
      assert(id === qid - 100000 && cos === 1.0,
        s"appended clone of $qid not found at rank 1 (got $id @ $cos)")
    }
  }

  test("IVF: int8-quantized index — smaller corpus bytes, near-identical top-k") {
    val dirF = tempDir("graft_ivf_full")
    val dirQ = tempDir("graft_ivf_quant")
    AnnIndex.buildIvf(emb, "vec_id", "embedding", dirF, nlist = 16, seed = 7L)
    AnnIndex.buildIvf(emb, "vec_id", "embedding", dirQ, nlist = 16, seed = 7L,
      quantize = true)
    val queries = emb.filter(col("vec_id") < 5)
    def pairs(dir: String): Set[(Long, Long)] =
      AnnIndex.searchIvf(spark, dir, queries, "vec_id", "embedding", k = 10, nprobe = 8)
        .select(col("query_id"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs(dirF)
    val quant = pairs(dirQ)
    // ±1/254-per-element rounding barely moves cosines: the quantized
    // top-10 must overlap the full-precision top-10 almost entirely
    val overlap = (full & quant).size.toDouble / full.size
    assert(overlap >= 0.9, s"quantized top-k overlap $overlap < 0.9")
    // the point of quantizing: the stored corpus is a fraction of the
    // full-precision bytes (float32 arrays -> int8 codes + one scale)
    def corpusBytes(dir: String): Long = {
      val root = java.nio.file.Paths.get(s"$dir/corpus.parquet")
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => p.toString.endsWith(".parquet"))
        .mapToLong(p => java.nio.file.Files.size(p)).sum
      finally s.close()
    }
    val fb = corpusBytes(dirF)
    val qb = corpusBytes(dirQ)
    assert(qb < fb * 6 / 10, s"quantized corpus $qb bytes not < 60% of full $fb")
  }

  test("LSH: int8-quantized index — smaller signature bytes, near-identical top-k") {
    val dirF = tempDir("graft_lsh_full")
    val dirQ = tempDir("graft_lsh_quant")
    AnnIndex.buildLsh(emb, "vec_id", "embedding", dirF, tables = 4, bits = 6)
    AnnIndex.buildLsh(emb, "vec_id", "embedding", dirQ, tables = 4, bits = 6,
      quantize = true)
    val queries = emb.filter(col("vec_id") < 5)
    def pairs(dir: String): Set[(Long, Long)] =
      AnnIndex.searchLsh(spark, dir, queries, "vec_id", "embedding", k = 10, probes = 1)
        .select(col("query_id"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs(dirF)
    val quant = pairs(dirQ)
    val overlap = (full & quant).size.toDouble / full.size
    assert(overlap >= 0.9, s"quantized top-k overlap $overlap < 0.9")
    // signatures store the vector once per table replica — quantization's
    // byte cut applies to every replica
    def sigBytes(dir: String): Long = {
      val root = java.nio.file.Paths.get(s"$dir/signatures.parquet")
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => p.toString.endsWith(".parquet"))
        .mapToLong(p => java.nio.file.Files.size(p)).sum
      finally s.close()
    }
    val fb = sigBytes(dirF)
    val qb = sigBytes(dirQ)
    assert(qb < fb * 6 / 10, s"quantized signatures $qb bytes not < 60% of full $fb")
    // appends inherit the stored quantized form (schema stays consistent)
    val clone = emb.filter(col("vec_id") === 250)
      .select((col("vec_id") + 90000).as("vec_id"), col("embedding"))
    AnnIndex.appendLsh(clone, "embedding", dirQ)
    val hit = AnnIndex.searchLsh(spark, dirQ,
        emb.filter(col("vec_id") === 250), "vec_id", "embedding", k = 3)
      .filter(col("rank") === 1).head()
    assert(hit.getLong(1) === 90250L && hit.getDouble(2) >= 0.999)
  }

  test("IVF: attribute-filtered search — neighbors within a label slice") {
    val dir = tempDir("graft_ivf_attr")
    AnnIndex.buildIvf(emb, "vec_id", "embedding", dir, nlist = 16, seed = 7L,
      attrCols = Seq("label"))
    val queries = emb.filter(col("vec_id") < 5)
    // nprobe = nlist probes every cell, so the within-filter search is
    // EXACT: it must equal brute force over the pre-filtered corpus
    val filtered = rows(
      AnnIndex.searchIvf(spark, dir, queries, "vec_id", "embedding", k = 8,
          nprobe = 16, corpusFilter = Some(col("label") === 1))
        .orderBy(col("query_id"), col("rank")))
    val brute = rows(
      Similarity.cosineTopK(emb.filter(col("label") === 1), queries,
          "vec_id", "embedding", "vec_id", k = 8)
        .orderBy(col("query_id"), col("rank")))
    assert(filtered.nonEmpty)
    assert(filtered === brute)
  }

  test("IVF: append preserves attribute columns — appended rows obey the filter") {
    val dir = tempDir("graft_ivf_attr_append")
    val half1 = emb.filter(col("vec_id") < 250)
    val half2 = emb.filter(col("vec_id") >= 250)
    AnnIndex.buildIvf(half1, "vec_id", "embedding", dir, nlist = 16, seed = 7L,
      attrCols = Seq("label"))
    AnnIndex.appendIvf(half2, "embedding", dir)
    val lab250 = half2.filter(col("vec_id") === 250).select("label").head.getInt(0)
    val q = half2.filter(col("vec_id") === 250)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    // restricted to the clone's own label, the appended row must still
    // carry it and come back at rank 1 with cosine 1.0 …
    val hit = AnnIndex.searchIvf(spark, dir, q, "vec_id", "embedding", k = 3,
        nprobe = 16, corpusFilter = Some(col("label") === lab250))
      .filter(col("rank") === 1).collect()
    assert(hit.length === 1)
    assert(hit.head.getLong(1) === 250L && hit.head.getDouble(2) === 1.0,
      s"appended clone not found under its own label (got ${hit.head})")
    // … and excluding that label must exclude the clone from ANY rank
    val excluded = AnnIndex.searchIvf(spark, dir, q, "vec_id", "embedding",
        k = 50, nprobe = 16, corpusFilter = Some(col("label") =!= lab250))
      .filter(col("vec_id") === 250).collect()
    assert(excluded.isEmpty, "label filter must exclude the appended clone")
  }

  test("LSH: attribute-filtered search — every result obeys the filter, clones found") {
    val dir = tempDir("graft_lsh_attr")
    AnnIndex.buildLsh(emb, "vec_id", "embedding", dir, tables = 8, bits = 6,
      attrCols = Seq("label"))
    val queries = emb.filter(col("vec_id") < 5)
    val res = AnnIndex.searchLsh(spark, dir, queries, "vec_id", "embedding",
        k = 10, probes = 6, corpusFilter = Some(col("label") === 1))
      .collect()
    assert(res.nonEmpty)
    // every returned neighbor must belong to the filtered slice
    val label1 = emb.filter(col("label") === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    res.foreach(r => assert(label1.contains(r.getLong(1)),
      s"neighbor ${r.getLong(1)} not in the label=1 slice"))
    // an exact clone shares every bucket with its query: restricted to
    // the clone's own label it must be found at rank 1, cosine 1.0
    val lab7 = emb.filter(col("vec_id") === 7).select("label").head.getInt(0)
    val q7 = emb.filter(col("vec_id") === 7)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val hit = AnnIndex.searchLsh(spark, dir, q7, "vec_id", "embedding", k = 3,
        corpusFilter = Some(col("label") === lab7))
      .filter(col("rank") === 1).collect()
    assert(hit.length === 1 && hit.head.getLong(1) === 7L
      && hit.head.getDouble(2) === 1.0)
    // … and excluding that label excludes the clone from any rank
    val excluded = AnnIndex.searchLsh(spark, dir, q7, "vec_id", "embedding",
        k = 50, corpusFilter = Some(col("label") =!= lab7))
      .filter(col("vec_id") === 7).collect()
    assert(excluded.isEmpty, "label filter must exclude the clone")
  }

  test("LSH: append preserves attribute columns recovered from the stored schema") {
    val dir = tempDir("graft_lsh_attr_append")
    val half1 = emb.filter(col("vec_id") < 250)
    val half2 = emb.filter(col("vec_id") >= 250)
    AnnIndex.buildLsh(half1, "vec_id", "embedding", dir, tables = 8, bits = 6,
      attrCols = Seq("label"))
    AnnIndex.appendLsh(half2, "embedding", dir)
    val lab250 = half2.filter(col("vec_id") === 250).select("label").head.getInt(0)
    val q = half2.filter(col("vec_id") === 250)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val hit = AnnIndex.searchLsh(spark, dir, q, "vec_id", "embedding", k = 3,
        corpusFilter = Some(col("label") === lab250))
      .filter(col("rank") === 1).collect()
    assert(hit.length === 1 && hit.head.getLong(1) === 250L
      && hit.head.getDouble(2) === 1.0,
      s"appended clone not found under its own label")
  }

  test("IVF-PQ: clones found at rank 1, codes are a fraction of the bytes, deterministic") {
    import spark.implicits._
    // plant exact clones: identical vectors quantize to identical codes,
    // so the clone's ADC score is the maximum possible — rank 1
    val planted = emb.unionByName(
      emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"), col("label")))
    val dirP = tempDir("graft_pq")
    val dirF = tempDir("graft_pq_full")
    AnnIndex.buildIvfPq(planted.select("vec_id", "embedding"), "vec_id", "embedding",
      dirP, nlist = 8, m = 8, codes = 64, seed = 7L, refine = false)
    AnnIndex.buildIvf(planted.select("vec_id", "embedding"), "vec_id", "embedding",
      dirF, nlist = 8, seed = 7L)
    val queries = planted.filter(col("vec_id") < 5)
    val top = AnnIndex.searchIvfPq(spark, dirP, queries, "vec_id", "embedding",
      k = 10, nprobe = 8)
    // the clone quantizes to the query's own codes (per-subspace distance
    // argmin), so its reconstruction cosine is maximal on this pinned
    // frame — other vectors may tie it exactly (shared codes at coarse
    // codebooks); deterministic build + data makes this assertion stable
    val byQuery = top.select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().groupBy(_._1)
    byQuery.foreach { case (q, rows) =>
      val best = rows.map(_._3).max
      val clone = rows.find(_._2 == q + 100000L)
      assert(clone.isDefined, s"query $q: clone missing from top-10")
      assert(clone.get._3 == best,
        s"query $q: clone score ${clone.get._3} below best $best")
    }
    // deterministic across searches
    val a = top.collect().map(_.toString).toSeq
    val b = AnnIndex.searchIvfPq(spark, dirP, queries, "vec_id", "embedding",
      k = 10, nprobe = 8).collect().map(_.toString).toSeq
    assert(a == b)
    // the point of PQ: stored codes are a small fraction of the float bytes
    def corpusBytes(dir: String): Long = {
      val root = java.nio.file.Paths.get(s"$dir/corpus.parquet")
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => p.toString.endsWith(".parquet"))
        .mapToLong(p => java.nio.file.Files.size(p)).sum
      finally s.close()
    }
    val (pb, fb) = (corpusBytes(dirP), corpusBytes(dirF))
    assert(pb < fb * 4 / 10, s"PQ corpus $pb bytes not < 40% of full $fb")
  }

  test("IVF-PQ refine: int8 re-rank beats raw ADC recall; codes-only index refuses refine") {
    import spark.implicits._
    val dirR = tempDir("graft_pq_refine")
    val dirN = tempDir("graft_pq_norefine")
    AnnIndex.buildIvfPq(emb, "vec_id", "embedding", dirR, nlist = 8, m = 8,
      codes = 64, seed = 7L, refine = true)
    AnnIndex.buildIvfPq(emb, "vec_id", "embedding", dirN, nlist = 8, m = 8,
      codes = 64, seed = 7L, refine = false)
    val queries = emb.filter(col("vec_id") < 5)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select($"query_id".cast("long"), $"vec_id".cast("long"))
        .as[(Long, Long)].collect().toSet
    // exact truth at full probe depth so coarse-cell misses don't confound
    // the comparison — only the ADC-vs-refined ranking differs
    val exact = pairs(Similarity.cosineTopK(emb, queries, "vec_id", "embedding",
      "vec_id", 10))
    val adc = pairs(AnnIndex.searchIvfPq(spark, dirN, queries, "vec_id",
      "embedding", k = 10, nprobe = 8))
    val refined = pairs(AnnIndex.searchIvfPq(spark, dirR, queries, "vec_id",
      "embedding", k = 10, nprobe = 8, refine = 10))
    assert((exact & refined).size >= (exact & adc).size,
      s"refine recall ${(exact & refined).size} < ADC ${(exact & adc).size}")
    // int8 reconstruction error is ~1/254 per element: every refined
    // cosine of a true top-10 neighbor should be within 0.01 of exact
    assert((exact & refined).size.toDouble / exact.size >= 0.85,
      s"refined recall ${(exact & refined).size}/${exact.size} below 0.85")
    // refined search is deterministic
    val a = rows(AnnIndex.searchIvfPq(spark, dirR, queries, "vec_id", "embedding",
      k = 10, nprobe = 8, refine = 10).orderBy($"query_id", $"rank"))
    val b = rows(AnnIndex.searchIvfPq(spark, dirR, queries, "vec_id", "embedding",
      k = 10, nprobe = 8, refine = 10).orderBy($"query_id", $"rank"))
    assert(a === b)
    // a codes-only index must refuse a refine request loudly, not return
    // a silently-unrefined ranking
    val e = intercept[IllegalArgumentException] {
      AnnIndex.searchIvfPq(spark, dirN, queries, "vec_id", "embedding",
        k = 10, nprobe = 8, refine = 10)
    }
    assert(e.getMessage.contains("refine"))
    // DEFAULT search on a refine-capable index auto-re-ranks (refine=-1 →
    // 10·k shortlist): identical rows to the explicit refine=10 call. On
    // a codes-only index the same default degrades to raw ADC, not an
    // error.
    assert(
      rows(AnnIndex.searchIvfPq(spark, dirR, queries, "vec_id", "embedding",
        k = 10, nprobe = 8).orderBy($"query_id", $"rank")) === a,
      "default search on a refine index must equal the explicit refine=10 ranking")
    assert(
      rows(AnnIndex.searchIvfPq(spark, dirN, queries, "vec_id", "embedding",
          k = 10, nprobe = 8).orderBy($"query_id", $"rank")).nonEmpty,
      "default search on a codes-only index must fall back to raw ADC")
    // appends preserve the refine payload: an appended exact clone is
    // found at rank 1 by a refined search (its int8 codes are identical
    // to the query's, so the re-ranked cosine is maximal)
    val batch = emb.filter(col("vec_id") < 2)
      .select((col("vec_id") + 300000).as("vec_id"), col("embedding"))
    AnnIndex.appendIvfPq(batch, "embedding", dirR)
    val afterAppend = AnnIndex.searchIvfPq(spark, dirR,
        emb.filter(col("vec_id") < 2), "vec_id", "embedding",
        k = 10, nprobe = 8, refine = 10)
      .select($"query_id".cast("long"), $"vec_id".cast("long"), $"cosine", $"rank")
      .as[(Long, Long, Double, Int)].collect().groupBy(_._1)
    afterAppend.foreach { case (q, rs) =>
      val clone = rs.find(_._2 == q + 300000L)
      assert(clone.isDefined, s"query $q: appended clone missing after refine append")
      assert(clone.get._3 >= 0.999,
        s"query $q: appended clone cosine ${clone.get._3} not ~1.0")
    }
  }

  test("IVF-PQ: appended batch encodes against the persisted codebooks — clones found") {
    import spark.implicits._
    val dir = tempDir("graft_pq_append")
    AnnIndex.buildIvfPq(emb, "vec_id", "embedding", dir, nlist = 8, m = 8,
      codes = 64, seed = 7L, refine = false)
    // append exact clones of 3 base vectors under new ids
    val batch = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 200000).as("vec_id"), col("embedding"))
    AnnIndex.appendIvfPq(batch, "embedding", dir)
    val queries = emb.filter(col("vec_id") < 3)
    val top = AnnIndex.searchIvfPq(spark, dir, queries, "vec_id", "embedding",
      k = 10, nprobe = 8)
    val byQuery = top.select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().groupBy(_._1)
    byQuery.foreach { case (q, rows) =>
      val best = rows.map(_._3).max
      val clone = rows.find(_._2 == q + 200000L)
      assert(clone.isDefined, s"query $q: appended clone missing from top-10")
      assert(clone.get._3 == best,
        s"query $q: appended clone ${clone.get._3} below best $best")
    }
    // meta row count tracked the append
    assert(spark.read.parquet(s"$dir/meta.parquet").head().getAs[Long]("n_rows")
      === emb.count() + 3)
  }

  test("sharded IVF: exhaustive-probe sharded search IS the exact top-k; merge equals single-index search") {
    // 3 shards, per-shard nlist 16, nprobe = nlist: every shard is exact
    // within its slice, and each global top-k element lives in exactly
    // one shard's top-k — so the bounded-heap merge must equal brute
    // force row for row (the search-identity contract of the sharded
    // layout, r16 verdict #2)
    val dir = tempDir("graft_ivf_sharded")
    val corpus = graft.tools.Recall.clusteredCorpus(
      spark, n = 2000L, dims = 8, clusters = 64, noise = 1.0)
    val queries = corpus.filter(col("vec_id") < 5)
    AnnIndex.buildIvfSharded(corpus, "vec_id", "vec", dir, nShards = 3,
      nlist = 16, seed = 7L)
    val sharded = rows(
      AnnIndex.searchIvfSharded(spark, dir, queries, "vec_id", "vec",
        k = 8, nprobe = 16).orderBy(col("query_id"), col("rank")))
    val exact = rows(
      Similarity.cosineTopK(corpus, queries, "vec_id", "vec", "vec_id", 8)
        .orderBy(col("query_id"), col("rank")))
    assert(sharded.nonEmpty && sharded === exact)
    // and equals the single-index search over the same corpus at
    // exhaustive probes (the relocation-not-answer-change contract)
    val single = tempDir("graft_ivf_sharded_single")
    AnnIndex.buildIvf(corpus, "vec_id", "vec", single, nlist = 16, seed = 7L)
    val one = rows(
      AnnIndex.searchIvf(spark, single, queries, "vec_id", "vec",
        k = 8, nprobe = 16).orderBy(col("query_id"), col("rank")))
    assert(sharded === one)
    // every shard's stored corpus holds exactly its hash slice — the
    // routing rule builds and appends must agree on
    (0 until 3).foreach { sh =>
      val stored = spark.read.parquet(s"$dir/shard=$sh/corpus.parquet")
      assert(stored.filter(
        pmod(xxhash64(col("vec_id")), lit(3L)).cast("int") =!= sh).count() === 0)
      assert(stored.count() > 0)
    }
    // shard counts conserve the corpus
    val metaTotal = spark.read.parquet(s"$dir/meta.parquet")
      .head().getAs[Long]("n_rows")
    assert(metaTotal === corpus.count())
  }

  test("sharded IVF: appends route to the owning shard and are searchable") {
    val dir = tempDir("graft_ivf_sharded_app")
    val base = emb.filter(col("vec_id") >= 100)
    AnnIndex.buildIvfSharded(base, "vec_id", "embedding", dir, nShards = 2,
      nlist = 8, seed = 7L)
    // clone batch: near-duplicates of existing vectors under fresh ids
    val batch = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
    AnnIndex.appendIvfSharded(batch, "embedding", dir)
    (0 until 2).foreach { sh =>
      val stored = spark.read.parquet(s"$dir/shard=$sh/corpus.parquet")
        .filter(col("vec_id") >= 900000L)
      assert(stored.filter(
        pmod(xxhash64(col("vec_id")), lit(2L)).cast("int") =!= sh).count() === 0)
    }
    val got = AnnIndex.searchIvfSharded(spark, dir,
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 1, nprobe = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each query's clone sits at rank 1 (cosine 1.0 with itself's copy)
    (0L until 3L).foreach(q => assert(got(q) === q + 900000L, s"query $q"))
    val metaTotal = spark.read.parquet(s"$dir/meta.parquet")
      .head().getAs[Long]("n_rows")
    assert(metaTotal === base.count() + 3)
  }

  test("sharded IVF-PQ: exhaustive refined sharded search equals the single refined index; appends route and encode per shard") {
    // int8 refine payloads are PER-VECTOR (scale = max|x|/127, fit-
    // independent), so exhaustive probes + a shortlist-covering refine
    // factor make every shard int8-exact on its slice — the merge must
    // equal the single refined index bit for bit even though per-shard
    // codebooks and coarse cells differ from the single fit's
    val corpus = emb.filter(col("vec_id") < 300)
    val queries = corpus.filter(col("vec_id") < 3)
    val shDir = tempDir("graft_ivfpq_sharded")
    AnnIndex.buildIvfPqSharded(corpus, "vec_id", "embedding", shDir,
      nShards = 2, nlist = 4, m = 4, codes = 16, seed = 7L)
    val sharded = rows(
      AnnIndex.searchIvfPqSharded(spark, shDir, queries, "vec_id",
        "embedding", k = 8, nprobe = 4, refine = 50)
        .orderBy(col("query_id"), col("rank")))
    val oneDir = tempDir("graft_ivfpq_sharded_single")
    AnnIndex.buildIvfPq(corpus, "vec_id", "embedding", oneDir,
      nlist = 4, m = 4, codes = 16, seed = 7L)
    val single = rows(
      AnnIndex.searchIvfPq(spark, oneDir, queries, "vec_id", "embedding",
        k = 8, nprobe = 4, refine = 50)
        .orderBy(col("query_id"), col("rank")))
    assert(sharded.nonEmpty && sharded === single)
    // appended clones route to their hash shard, encode against THAT
    // shard's persisted codebooks, and surface through the merged search
    val batch = corpus.filter(col("vec_id") < 2)
      .select((col("vec_id") + 800000L).as("vec_id"), col("embedding"))
    AnnIndex.appendIvfPqSharded(batch, "embedding", shDir)
    (0 until 2).foreach { sh =>
      val stored = spark.read.parquet(s"$shDir/shard=$sh/corpus.parquet")
        .filter(col("vec_id") >= 800000L)
      assert(stored.filter(
        pmod(xxhash64(col("vec_id")), lit(2L)).cast("int") =!= sh).count() === 0)
    }
    val got = AnnIndex.searchIvfPqSharded(spark, shDir,
      corpus.filter(col("vec_id") < 2), "vec_id", "embedding",
      k = 1, nprobe = 4, refine = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 2L).foreach(q => assert(got(q) === q + 800000L, s"query $q"))
    assert(spark.read.parquet(s"$shDir/meta.parquet")
      .head().getAs[Long]("n_rows") === corpus.count() + 2)
  }

  test("candidateVolume replays probe policies: exhaustive = N, pruning shrinks it, shards sum") {
    val e = emb.select(col("vec_id"), col("embedding"))
    val n = e.count().toDouble
    val queries = e.filter(col("vec_id") < 5)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    // single IVF: probing every cell scans exactly the corpus; one cell
    // scans a strict subset
    val ivf = tempDir("graft_cv_ivf")
    AnnIndex.buildIvf(e, "vec_id", "embedding", ivf, nlist = 8, seed = 7L)
    val full = AnnIndex.candidateVolume(
      spark, ivf, queries, "vec_id", "embedding", k = 10, nprobe = 8)
    val tight = AnnIndex.candidateVolume(
      spark, ivf, queries, "vec_id", "embedding", k = 10, nprobe = 1)
    assert(full === n, s"exhaustive probes must scan the whole corpus: $full vs $n")
    assert(tight > 0 && tight < full)
    // sharded IVF at exhaustive probes: per-shard volumes sum to N too
    val sh = tempDir("graft_cv_sh")
    AnnIndex.buildIvfSharded(e, "vec_id", "embedding", sh, nShards = 3, nlist = 4)
    assert(AnnIndex.candidateVolume(
      spark, sh, queries, "vec_id", "embedding", k = 10, nprobe = 4) === n)
    // LSH: multiprobe flips only ADD probed buckets -> volume is monotone
    val lsh = tempDir("graft_cv_lsh")
    AnnIndex.buildLsh(e, "vec_id", "embedding", lsh, tables = 4, bits = 6)
    val p0 = AnnIndex.candidateVolume(
      spark, lsh, queries, "vec_id", "embedding", k = 10, probes = 0)
    val p2 = AnnIndex.candidateVolume(
      spark, lsh, queries, "vec_id", "embedding", k = 10, probes = 2)
    assert(p0 >= 0 && p2 >= p0, s"multiprobe must not shrink the pool: $p0 -> $p2")
    assert(p2 <= 4 * n, "volume is bounded by tables x corpus")
  }

  test("kind mismatch and missing index fail loudly") {
    val dir = tempDir("graft_idx_kind")
    AnnIndex.buildLsh(emb, "vec_id", "embedding", dir, tables = 2, bits = 4)
    val e = intercept[IllegalArgumentException] {
      AnnIndex.searchIvf(spark, dir, emb.limit(1), "vec_id", "embedding", k = 3)
    }
    assert(e.getMessage.contains("kind"))
    val missing = intercept[IllegalArgumentException] {
      AnnIndex.searchLsh(spark, tempDir("graft_idx_empty"), emb.limit(1),
        "vec_id", "embedding", k = 3)
    }
    assert(missing.getMessage.contains("no ANN index"))
  }

  test("search rejects query ids that coerce lossily vs the stored index id") {
    // string query ids vs a long-id persisted index: Spark would coerce the
    // self-pair comparison to null for every row and return an empty result;
    // the guard must fail loudly at plan time instead
    val qStr = emb.limit(1).select(col("vec_id").cast("string").as("vec_id"),
      col("embedding"))
    val lshDir = tempDir("graft_idx_idtype_lsh")
    AnnIndex.buildLsh(emb, "vec_id", "embedding", lshDir, tables = 2, bits = 4)
    val eL = intercept[IllegalArgumentException] {
      AnnIndex.searchLsh(spark, lshDir, qStr, "vec_id", "embedding", k = 3)
    }
    assert(eL.getMessage.contains("vec_id"))
    val ivfDir = tempDir("graft_idx_idtype_ivf")
    AnnIndex.buildIvf(emb, "vec_id", "embedding", ivfDir, nlist = 4)
    val eI = intercept[IllegalArgumentException] {
      AnnIndex.searchIvf(spark, ivfDir, qStr, "vec_id", "embedding", k = 3)
    }
    assert(eI.getMessage.contains("vec_id"))
    // lossless in-family widening (int query ids vs long index ids) passes
    val qInt = emb.limit(1).select(col("vec_id").cast("int").as("vec_id"),
      col("embedding"))
    assert(AnnIndex.searchLsh(spark, lshDir, qInt, "vec_id", "embedding", k = 3)
      .count() > 0)
  }

  test("reshardIvf: shard-count change from stored payloads — exhaustive answer identical, attrs survive") {
    val dir = s"${tempDir("graft_ivf_reshard")}/idx"
    AnnIndex.buildIvfSharded(emb, "vec_id", "embedding", dir, nShards = 3,
      nlist = 16, seed = 7L, attrCols = Seq("label"))
    val queries = emb.filter(col("vec_id") < 5)
    def search() = rows(
      AnnIndex.searchIvfSharded(spark, dir, queries, "vec_id", "embedding",
        k = 8, nprobe = 16).orderBy(col("query_id"), col("rank")))
    val want = search()
    // streaming replay markers live INSIDE the index dir — the reshard
    // swap must carry them (r17 ADVICE: dropping them re-applies a
    // replayed micro-batch and duplicates its rows)
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_applied_batches/7")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    AnnIndex.reshardIvf(spark, dir, newShards = 2, nlist = 16)
    assert(fs.exists(marker),
      "non-index state (_applied_batches) must survive the reshard swap")
    // payload rows moved, cells re-fitted — the exhaustive answer is
    // byte-identical (full-precision payloads are copied verbatim)
    assert(want.nonEmpty && search() === want)
    val m = spark.read.parquet(s"$dir/meta.parquet").head()
    assert(m.getAs[Int]("tables") === 2)
    assert(m.getAs[Long]("n_rows") === emb.count())
    // every row obeys the NEW hash routing
    (0 until 2).foreach { sh =>
      val stored = spark.read.parquet(s"$dir/shard=$sh/corpus.parquet")
      assert(stored.count() > 0)
      assert(stored.filter(
        pmod(xxhash64(col("vec_id")), lit(2L)).cast("int") =!= sh).count() === 0)
    }
    // attribute columns rode the reshard: filtered search still works
    val filtered = AnnIndex.searchIvfSharded(spark, dir, queries, "vec_id",
      "embedding", k = 8, nprobe = 16,
      corpusFilter = Some(col("label") === 1))
    assert(filtered.count() > 0)
    // and appends route against the NEW shard count
    AnnIndex.appendIvfSharded(
      emb.filter(col("vec_id") < 2)
        .select((col("vec_id") + 800000L).as("vec_id"), col("embedding"),
          col("label")),
      "embedding", dir)
    val got = AnnIndex.searchIvfSharded(spark, dir,
      emb.filter(col("vec_id") < 2), "vec_id", "embedding", k = 1, nprobe = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 2L).foreach(q => assert(got(q) === q + 800000L))
    // the PQ kind refuses the IVF entrypoint (codes are per-shard-codebook)
    val pq = s"${tempDir("graft_pq_reshard")}/idx"
    AnnIndex.buildIvfPqSharded(emb.filter(col("vec_id") < 200), "vec_id",
      "embedding", pq, nShards = 2, nlist = 4)
    val e = intercept[IllegalArgumentException](
      AnnIndex.reshardIvf(spark, pq, 3))
    assert(e.getMessage.contains("kind"))
  }

  test("reshardIvf: a crash between the swap renames is recovered by the next reshard") {
    val dir = s"${tempDir("graft_ivf_reshard_crash")}/idx"
    AnnIndex.buildIvfSharded(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
      dir, nShards = 2, nlist = 4, seed = 7L)
    val queries = emb.filter(col("vec_id") < 5)
    def search() = rows(
      AnnIndex.searchIvfSharded(spark, dir, queries, "vec_id", "embedding",
        k = 8, nprobe = 4).orderBy(col("query_id"), col("rank")))
    val want = search()
    // simulate the crash window: live renamed to the backup, the staged
    // layout half-written and never published
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(dir), new Path(s"$dir.preshard")))
    fs.create(new Path(s"$dir.resharding/shard=0/partial"), true).close()
    intercept[Exception](search())
    // the next reshard restores the backup first, then reshards normally
    AnnIndex.reshardIvf(spark, dir, newShards = 3, nlist = 4)
    assert(want.nonEmpty && search() === want)
    assert(!fs.exists(new Path(s"$dir.preshard")) && !fs.exists(new Path(s"$dir.resharding")))
  }

  test("reshardIvfPq: re-encode from the int8 refine payload — exhaustive refined answer identical") {
    // the contract rests on quantizer idempotence: re-quantizing a
    // dequantized payload reproduces codes and scale bit for bit (the
    // max-magnitude element maps to ±127 exactly) — pin it directly
    val once = emb.select(col("vec_id"),
      Similarity.quantizeInt8(col("embedding").cast("array<double>")).as("q"))
    val twice = once.select(col("vec_id"),
      Similarity.quantizeInt8(Similarity.dequantizeInt8(col("q"))).as("q2"),
      col("q"))
    assert(twice.filter(col("q") =!= col("q2")).count() === 0,
      "int8 quantization must be idempotent for the PQ reshard contract")
    val dir = s"${tempDir("graft_pq_reshard2")}/idx"
    val corpus = emb.filter(col("vec_id") < 300)
    AnnIndex.buildIvfPqSharded(corpus, "vec_id", "embedding", dir,
      nShards = 3, nlist = 4, m = 8, codes = 256, refine = true)
    val queries = corpus.filter(col("vec_id") < 5)
    def search() = rows(
      AnnIndex.searchIvfPqSharded(spark, dir, queries, "vec_id", "embedding",
        k = 8, nprobe = 4, refine = 40).orderBy(col("query_id"), col("rank")))
    val want = search()
    AnnIndex.reshardIvfPq(spark, dir, newShards = 2, nlist = 4)
    assert(want.nonEmpty && search() === want,
      "exhaustive+covering-refine answers must survive the PQ reshard bit for bit")
    val m = spark.read.parquet(s"$dir/meta.parquet").head()
    assert(m.getAs[String]("kind") === "ivfpq_sharded")
    assert(m.getAs[Int]("tables") === 2)
    assert(m.getAs[Long]("n_rows") === corpus.count())
    // appends still route and encode per NEW shard
    AnnIndex.appendIvfPqSharded(
      corpus.filter(col("vec_id") === 0)
        .select((col("vec_id") + 900000L).as("vec_id"), col("embedding")),
      "embedding", dir)
    val hit = AnnIndex.searchIvfPqSharded(spark, dir,
      corpus.filter(col("vec_id") === 0), "vec_id", "embedding", k = 1,
      nprobe = 4, refine = 40).collect()
    assert(hit.length === 1 && hit.head.getLong(1) === 900000L)
    // a codes-only index refuses (vectors exist only as codebook codes)
    val lean = s"${tempDir("graft_pq_reshard_lean")}/idx"
    AnnIndex.buildIvfPqSharded(emb.filter(col("vec_id") < 200), "vec_id",
      "embedding", lean, nShards = 2, nlist = 4, refine = false)
    val err = intercept[IllegalArgumentException](
      AnnIndex.reshardIvfPq(spark, lean, 3))
    assert(err.getMessage.contains("codes-only"))
  }

  // ----------------------------------------------------------- compaction

  /** Data files (part-*) under `dir`, recursively — the small-file count
    * compaction exists to shrink. */
  private def dataFiles(dir: String): Int = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0
    while (it.hasNext)
      if (it.next().getPath.getName.startsWith("part-")) n += 1
    n
  }

  test("compact: append-heavy IVF index — identical results, fewer files, pruning intact") {
    val dir = tempDir("graft_ivf_compact")
    // a build + 3 appends: the streaming-maintenance shape that litters
    // every cell directory with one small file per touched batch
    AnnIndex.buildIvf(emb.filter(col("vec_id") % 4 === 0), "vec_id",
      "embedding", dir, nlist = 8, seed = 7L)
    (1 to 3).foreach(r =>
      AnnIndex.appendIvf(emb.filter(col("vec_id") % 4 === r), "embedding", dir))
    val queries = emb.filter(col("vec_id") < 5)
    def search() = rows(
      AnnIndex.searchIvf(spark, dir, queries, "vec_id", "embedding",
        k = 8, nprobe = 8).orderBy(col("query_id"), col("rank")))
    val want = search()
    val filesBefore = dataFiles(s"$dir/corpus.parquet")
    AnnIndex.compact(spark, dir)
    // the answer is bit-identical; only the file layout moved
    assert(want.nonEmpty && search() === want)
    val filesAfter = dataFiles(s"$dir/corpus.parquet")
    assert(filesAfter < filesBefore,
      s"compaction should shrink the file count ($filesBefore -> $filesAfter)")
    // meta (and so n_rows bookkeeping) is untouched
    assert(spark.read.parquet(s"$dir/meta.parquet").head()
      .getAs[Long]("n_rows") === emb.count())
    // the layout contract survives: the compacted scan still partition-
    // prunes to the probed cells
    val plan = AnnIndex.searchIvfImpl(spark, dir, queries, "vec_id", "embedding",
      k = 8, nprobe = 3, corpusFilter = None, localMaxBytes = 0)
    val scans = plan.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("corpus.parquet")) => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "compacted corpus scan must still carry partition filters on __cell")
  }

  test("compact: a crash between the publish renames is recovered by the next compact") {
    val dir = tempDir("graft_ivf_compact_crash")
    AnnIndex.buildIvf(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
      dir, nlist = 8, seed = 7L)
    AnnIndex.appendIvf(emb.filter(col("vec_id") >= 300), "embedding", dir)
    val queries = emb.filter(col("vec_id") < 5)
    def search() = rows(
      AnnIndex.searchIvf(spark, dir, queries, "vec_id", "embedding",
        k = 8, nprobe = 8).orderBy(col("query_id"), col("rank")))
    val want = search()
    // simulate the crash window: live renamed to the backup, new table
    // never published
    import org.apache.hadoop.fs.Path
    val live = new Path(s"$dir/corpus.parquet")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(live, new Path(s"$dir/.precompact_corpus.parquet")))
    // the half-state fails loudly — never a silently empty search
    intercept[Exception](search())
    // the next compact restores the backup first, then compacts normally
    AnnIndex.compact(spark, dir)
    assert(search() === want)
  }

  test("compact: LSH keeps its sorted-signature layout; sharded kinds recurse per shard") {
    val dirL = tempDir("graft_lsh_compact")
    AnnIndex.buildLsh(emb.filter(col("vec_id") < 250), "vec_id", "embedding",
      dirL, tables = 4, bits = 6)
    AnnIndex.appendLsh(emb.filter(col("vec_id") >= 250), "embedding", dirL)
    val queries = emb.filter(col("vec_id") < 5)
    def searchL() = rows(
      AnnIndex.searchLsh(spark, dirL, queries, "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank")))
    val wantL = searchL()
    val filesBefore = dataFiles(s"$dirL/signatures.parquet")
    AnnIndex.compact(spark, dirL)
    assert(wantL.nonEmpty && searchL() === wantL)
    assert(dataFiles(s"$dirL/signatures.parquet") < filesBefore)
    // in-file sig order (the row-group min/max pruning contract): every
    // file's rows are non-decreasing in sig within its table partition
    import org.apache.spark.sql.expressions.Window
    val disorder = spark.read.parquet(s"$dirL/signatures.parquet")
      .withColumn("__f", input_file_name())
      .withColumn("__prev", lag(col("sig"), 1)
        .over(Window.partitionBy(col("__f"), col("table"))
          .orderBy(monotonically_increasing_id())))
      .filter(col("__prev") > col("sig"))
    assert(disorder.count() === 0, "compacted LSH files must stay sig-sorted")
    // sharded: compact recurses into every shard; the merged answer is
    // unchanged
    val dirS = tempDir("graft_sh_compact")
    AnnIndex.buildIvfSharded(emb, "vec_id", "embedding", dirS, nShards = 2,
      nlist = 8, seed = 7L)
    AnnIndex.appendIvfSharded(
      emb.filter(col("vec_id") < 3)
        .select((col("vec_id") + 900000L).as("vec_id"), col("embedding")),
      "embedding", dirS)
    def searchS() = rows(
      AnnIndex.searchIvfSharded(spark, dirS, queries, "vec_id", "embedding",
        k = 5, nprobe = 8).orderBy(col("query_id"), col("rank")))
    val wantS = searchS()
    AnnIndex.compact(spark, dirS)
    assert(wantS.nonEmpty && searchS() === wantS)
  }

  test("append refuses a pending-tombstone id; after the fold it serves again") {
    import spark.implicits._
    val dir = tempDir("graft_ivf_reapp")
    val small = emb.filter(col("vec_id") < 300)
    AnnIndex.buildIvf(small, "vec_id", "embedding", dir, nlist = 8, seed = 7L)
    AnnIndex.deleteIds(spark, dir, Seq(5L).toDF("vec_id"))
    val batch = emb.filter(col("vec_id").isin(5L, 301L))
      .select(col("vec_id"), col("embedding"))
    // the silent-masking trap: previously this append succeeded and the
    // new row stayed invisible until the next fold. Now it refuses loudly
    // (and names the colliding id) BEFORE any bytes land.
    val before = spark.read.parquet(s"$dir/corpus.parquet").count()
    val e = intercept[IllegalArgumentException] {
      AnnIndex.appendIvf(batch, "embedding", dir)
    }
    assert(e.getMessage.contains("pending tombstones") && e.getMessage.contains("5"))
    assert(spark.read.parquet(s"$dir/corpus.parquet").count() === before,
      "a refused append must not have written rows")
    // repair path named in the error: fold, then the same append lands
    // and the id serves again immediately
    AnnIndex.compact(spark, dir)
    AnnIndex.appendIvf(small.filter(col("vec_id") === 5L), "embedding", dir)
    // probe with a CLONE id (search excludes query_id == corpus id)
    val got = AnnIndex
      .searchIvf(spark, dir,
        small.filter(col("vec_id") === 5L)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 1, nprobe = 8)
      .select(col("vec_id").cast("long")).head().getLong(0)
    assert(got === 5L, "the re-appended id must be served after the fold")
    // the PQ and LSH appends share the guard
    val pq = tempDir("graft_pq_reapp")
    AnnIndex.buildIvfPq(small, "vec_id", "embedding", pq, nlist = 8, m = 8)
    AnnIndex.deleteIds(spark, pq, Seq(7L).toDF("vec_id"))
    assert(intercept[IllegalArgumentException] {
      AnnIndex.appendIvfPq(small.filter(col("vec_id") === 7L), "embedding", pq)
    }.getMessage.contains("pending tombstones"))
    val lsh = tempDir("graft_lsh_reapp")
    AnnIndex.buildLsh(small, "vec_id", "embedding", lsh, tables = 2, bits = 4)
    AnnIndex.deleteIds(spark, lsh, Seq(9L).toDF("vec_id"))
    assert(intercept[IllegalArgumentException] {
      AnnIndex.appendLsh(small.filter(col("vec_id") === 9L), "embedding", lsh)
    }.getMessage.contains("pending tombstones"))
    // sharded appends check EVERY shard's tombstones BEFORE any shard
    // commits: a mixed batch (one colliding id + clean ids routing to the
    // sibling shard) refuses atomically — partial commits would make the
    // error's own repair advice (fold, re-append) duplicate rows
    val sh = tempDir("graft_sh_reapp")
    AnnIndex.buildIvfSharded(small, "vec_id", "embedding", sh, nShards = 2,
      nlist = 8, seed = 7L)
    AnnIndex.deleteIds(spark, sh, Seq(11L).toDF("vec_id"))
    def storedRows() = (0 until 2).map(s0 =>
      spark.read.parquet(s"$sh/shard=$s0/corpus.parquet").count()).sum
    val beforeSh = storedRows()
    assert(intercept[Exception] {
      AnnIndex.appendIvfSharded(
        emb.filter(col("vec_id") === 11L ||
            (col("vec_id") >= 300 && col("vec_id") < 310))
          .select(col("vec_id"), col("embedding")),
        "embedding", sh)
    }.getMessage.contains("pending tombstones"))
    assert(storedRows() === beforeSh,
      "a refused sharded append must commit NOTHING, on any shard")
  }

  test("indexedIds lists stored ids column-pruned, across kinds and shards") {
    val small = emb.filter(col("vec_id") < 200)
    val want = small.select("vec_id").collect().map(_.getLong(0)).toSet
    val ivf = tempDir("graft_ids_ivf")
    AnnIndex.buildIvf(small, "vec_id", "embedding", ivf, nlist = 8)
    assert(AnnIndex.indexedIds(spark, ivf)
      .collect().map(_.getLong(0)).toSet === want)
    val sh = tempDir("graft_ids_sh")
    AnnIndex.buildIvfSharded(small, "vec_id", "embedding", sh, nShards = 2, nlist = 4)
    assert(AnnIndex.indexedIds(spark, sh)
      .collect().map(_.getLong(0)).toSet === want)
    // pending-tombstone ids are NOT listed: a re-accepted retracted id
    // must reach the append and refuse loudly, never be silently skipped
    // by the release jobs' indexedIds guard (published-but-unindexed)
    import spark.implicits._
    AnnIndex.deleteIds(spark, ivf, Seq(3L).toDF("vec_id"))
    assert(AnnIndex.indexedIds(spark, ivf)
      .collect().map(_.getLong(0)).toSet === (want - 3L))
  }

  test("failed shard append: siblings commit, accounting converges to shard-meta truth") {
    import org.apache.hadoop.fs.Path
    val dir = tempDir("graft_sh_fail")
    val small = emb.filter(col("vec_id") < 300)
    AnnIndex.buildIvfSharded(small, "vec_id", "embedding", dir, nShards = 2,
      nlist = 8, seed = 7L)
    val built = small.count()
    // sabotage shard 0: its centroids table becomes unreadable, so ITS
    // append fails at planning while shard 1's proceeds on the sibling
    // thread — the non-atomic interleaving the accounting must survive
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new Path(s"$dir/shard=0/centroids.parquet"),
      new Path(s"$dir/shard=0/centroids.bak"))
    val batch = emb.filter(col("vec_id") >= 300 && col("vec_id") < 340)
      .select(col("vec_id"), col("embedding"))
    intercept[Exception] { AnnIndex.appendIvfSharded(batch, "embedding", dir) }
    fs.rename(new Path(s"$dir/shard=0/centroids.bak"),
      new Path(s"$dir/shard=0/centroids.parquet"))
    // per-shard metas are the truth searches run off; the parent meta and
    // stats() must agree with their sum — counting shard 1's committed
    // rows, not the pre-append total and not the full batch
    val shardTruth = (0 until 2).map { s =>
      spark.read.parquet(s"$dir/shard=$s/meta.parquet").head().getAs[Long]("n_rows")
    }.sum
    assert(shardTruth > built && shardTruth < built + batch.count(),
      s"expected a partial commit, got $shardTruth (built $built)")
    assert(spark.read.parquet(s"$dir/meta.parquet").head()
      .getAs[Long]("n_rows") === shardTruth,
      "parent meta must reconcile to the shard-meta sum on a failed append")
    assert(AnnIndex.stats(spark, dir).head().getAs[Long]("n_rows") === shardTruth)
    // shard 1's committed rows are genuinely served
    val committed = AnnIndex.indexedIds(spark, dir)
      .filter(col("vec_id") >= 300).collect().map(_.getLong(0)).toSet
    assert(committed.nonEmpty && committed.subsetOf(
      (300L until 340L).toSet))
    val q = emb.filter(col("vec_id") === committed.head)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
    val top = AnnIndex
      .searchIvfSharded(spark, dir, q, "vec_id", "embedding", k = 1, nprobe = 8)
      .select(col("vec_id").cast("long")).head().getLong(0)
    assert(top === committed.head)
  }

  // ---------------------------------------------- driver-local search gate

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Identical rows and an identical StructType, nullability and metadata
    * included. */
  private def assertSameAnswer(local: DataFrame, dist: DataFrame, what: String): Unit = {
    assert(local.schema === dist.schema, s"$what: ${local.schema.treeString} vs ${dist.schema.treeString}")
    def sorted(df: DataFrame) = df.collect().toSeq.sortBy(r => (String.valueOf(r.get(0)), r.getInt(3)))
    assert(sorted(local) === sorted(dist), what)
  }

  private def gateId(idType: String, i: Long): Any = idType match {
    case "int"  => i.toInt
    case "long" => i
    case _      => f"v$i%04d"
  }

  /** 210 seeded 8-dim vectors, ids of the given type carrying column
    * metadata; rows 200-209 repeat rows 0-9 (tied cosines). Queries: six
    * corpus rows, an outside id on row 5's vector, a zero vector, a NaN
    * element (Spark keeps the NaN norm and answers NaN cosines) and a
    * null id. */
  private def gateFixture(idType: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(11)
    val vecs = Array.fill(200)(Array.fill(8)(rnd.nextGaussian().toFloat))
    def id(i: Long) = gateId(idType, i)
    val idT = idType match { case "int" => IntegerType; case "long" => LongType; case _ => StringType }
    val md = new MetadataBuilder().putString("origin", "gate").build()
    val schema = StructType(Seq(StructField("vec_id", idT, nullable = true, md),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    def frame(rows: Seq[Row]) = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val corpus = frame((0 until 210).map(i => Row(id(i.toLong), vecs(i % 200).toSeq)))
    val queries = frame((0 until 6).map(i => Row(id(i * 7L), vecs(i * 7).toSeq)) ++ Seq(
      Row(id(9001L), vecs(5).toSeq),
      Row(id(9002L), Seq.fill(8)(0.0f)),
      Row(id(9003L), vecs(9).updated(4, Float.NaN).toSeq),
      Row(null, vecs(3).toSeq)))
    (corpus, queries)
  }

  test("local IVF search ≡ the distributed plan: probes, id types, ties, k over the pool, shards") {
    for (idType <- Seq("int", "long", "string")) {
      val (corpus, queries) = gateFixture(idType)
      val dir = tempDir(s"graft_ivf_gate_$idType")
      AnnIndex.buildIvf(corpus, "vec_id", "embedding", dir, nlist = 8, seed = 3L)
      def id(i: Long) = gateId(idType, i)
      for ((nprobe, k) <- Seq((3, 5), (8, 5), (1, 100))) {
        val what = s"$idType ids, nprobe=$nprobe, k=$k"
        def run(bound: Long) = AnnIndex.searchIvfImpl(spark, dir, queries, "vec_id", "embedding",
          k, nprobe, None, bound)
        val local = run(AnnIndex.LocalSearchMaxBytes)
        val dist = run(0)
        assert(isLocal(local) && !isLocal(dist), what)
        assertSameAnswer(local, dist, what)
        val got = local.collect()
        // self-matches, the zero vector and the null id never answer;
        // the outside and NaN queries do, the twin hits tie and rank by id
        assert(!got.exists(r => r.get(0) == r.get(1)) && !got.exists(_.isNullAt(0)), what)
        assert(got.map(r => String.valueOf(r.get(0))).distinct.length === 8, what)
        val twins = got.filter(_.get(0) == id(9001L)).sortBy(_.getInt(3)).take(2)
        assert(twins.map(_.get(1)).toSeq === Seq(id(5L), id(205L)) &&
          twins(0).getDouble(2) == twins(1).getDouble(2), what)
      }
    }
    val (corpus, queries) = gateFixture("long")
    val sh = tempDir("graft_ivf_gate_sh")
    AnnIndex.buildIvfSharded(corpus, "vec_id", "embedding", sh, nShards = 3, nlist = 4, seed = 3L)
    for (nprobe <- Seq(2, 4)) {
      def run(bound: Long) = AnnIndex.searchIvfShardedImpl(spark, sh, queries, "vec_id", "embedding",
        10, nprobe, None, bound)
      val local = run(AnnIndex.LocalSearchMaxBytes)
      val dist = run(0)
      assert(isLocal(local) && !isLocal(dist))
      assertSameAnswer(local, dist, s"sharded, nprobe=$nprobe")
    }
  }

  test("local IVF search falls through: quantized, tombstones, corpus filter, one pool byte over, sharded") {
    import spark.implicits._
    val (corpus, queries) = gateFixture("long")
    val dir = tempDir("graft_ivf_gate_fall")
    AnnIndex.buildIvf(corpus, "vec_id", "embedding", dir, nlist = 8, seed = 3L)
    def run(d: String, bound: Long, filter: Option[org.apache.spark.sql.Column] = None) =
      AnnIndex.searchIvfImpl(spark, d, queries, "vec_id", "embedding", 5, 8, filter, bound)
    // exhaustive probes: every nonzero query's pool is the centroid table
    // it ranks plus the whole corpus
    def bytes(table: String, index: String = dir) = {
      import org.apache.hadoop.fs.Path
      val p = new Path(s"$index/$table")
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      var n = 0L
      while (it.hasNext) { val f = it.next(); if (f.getPath.getName.startsWith("part-")) n += f.getLen }
      n
    }
    val pool = 9 * (bytes("centroids.parquet") + bytes("corpus.parquet")) // 10 queries, one zero
    assert(isLocal(run(dir, pool)), "a pool at the bound stays local")
    val over = run(dir, pool - 1)
    assert(!isLocal(over), "a pool one byte over the bound takes the plan")
    assertSameAnswer(run(dir, pool), over, "at vs over the bound")
    // a sharded index is one pool summed over its shards, local all or
    // none: one byte under the sum, every shard takes the plan
    val sh = tempDir("graft_ivf_gate_fall_sh")
    AnnIndex.buildIvfSharded(corpus, "vec_id", "embedding", sh, nShards = 3, nlist = 4, seed = 3L)
    def runSharded(bound: Long) =
      AnnIndex.searchIvfShardedImpl(spark, sh, queries, "vec_id", "embedding", 5, 4, None, bound)
    val shardPools = (0 until 3).map(i =>
      9 * (bytes("centroids.parquet", s"$sh/shard=$i") + bytes("corpus.parquet", s"$sh/shard=$i")))
    assert(isLocal(runSharded(shardPools.sum)), "a sharded pool at the bound stays local")
    val shardedOver = runSharded(shardPools.sum - 1)
    assert(shardPools.max < shardPools.sum - 1 && !isLocal(shardedOver),
      "a sharded pool one byte over the bound takes the plan on every shard")
    assertSameAnswer(runSharded(shardPools.sum), shardedOver, "sharded, at vs over the bound")
    val filtered = run(dir, pool, Some(col("vec_id") > 20L))
    assert(!isLocal(filtered))
    assert(filtered.collect().forall(_.getLong(1) > 20L))
    val q = tempDir("graft_ivf_gate_q")
    AnnIndex.buildIvf(corpus, "vec_id", "embedding", q, nlist = 8, seed = 3L, quantize = true)
    assert(!isLocal(run(q, AnnIndex.LocalSearchMaxBytes)))
    AnnIndex.deleteIds(spark, dir, Seq(0L, 7L).toDF("vec_id"))
    val tomb = run(dir, AnnIndex.LocalSearchMaxBytes)
    assert(!isLocal(tomb))
    assert(tomb.collect().forall(r => r.getLong(1) != 0L && r.getLong(1) != 7L))
  }
}
