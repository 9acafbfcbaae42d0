package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.obs.Json

/** One-off scaling-curve measurement: how do the heavy operators behave
  * from sf0.01 → sf0.1 → sf1?
  *
  * The registered bench queries verify correctness at fixed input caps,
  * so their times can't show scaling. This main instead runs the heavy
  * OPERATORS on scale-proportional inputs at three data sizes and prints
  * one JSON line per (query, dir) plus a summary — the slopes go into
  * SCALEBENCH.md.
  *
  * sf1 does not exist as driver testdata (and /root/testdata is
  * read-only), so it is DERIVED from sf0.1 at 10x into a scratch dir:
  *   - relational tables: 10 copies with key columns shifted per copy —
  *     join fan-outs and group cardinalities scale, per-key group sizes
  *     stay constant (the realistic growth mode);
  *   - documents: copy 0 verbatim, copies 1..9 with a deterministic
  *     hash-keyed word permutation per copy — corpus size scales 10x
  *     while the permuted copies share no 3-gram structure with their
  *     source (near-dup density stays ~constant instead of exploding);
  *   - embeddings: per-copy deterministic per-dimension perturbation —
  *     distribution shape preserved, no artificial exact-dup mass;
  *   - events: ids/users shifted per copy, timestamps kept — windows and
  *     sessions scale in key count, not in per-key length.
  * Everything is seeded arithmetic (xxhash64), so sf1 is identical on
  * every regeneration.
  */
object ScaleBench {

  private val CopyStride = 10000000L

  private def shifted(df: DataFrame, j: Int, keys: Map[String, Long]): DataFrame =
    keys.foldLeft(df) { case (d, (c, stride)) =>
      d.withColumn(c, col(c) + lit(j * stride))
    }

  /** Derive a k-times-larger copy of `src` into `dst` (idempotent).
    * `only` restricts which tables are derived (None = all) — the
    * dedup-decade run needs just documents + customer, and deriving
    * lineitem at 100x would dominate the wall time for nothing. */
  def scaleUp(spark: SparkSession, src: String, dst: String, k: Int,
      only: Option[Set[String]] = None): Unit = {
    // the idempotence marker is SCOPED: a partial derivation (dedup-decade
    // derives documents+customer only) must not satisfy a later full run
    // on the same dst — that would return early with most tables missing
    val marker = only.fold("_SCALE_OK")(
      ts => "_SCALE_OK_" + ts.toSeq.sorted.mkString("_"))
    val okPath = new org.apache.hadoop.fs.Path(s"$dst/$marker")
    val fullOk = new org.apache.hadoop.fs.Path(s"$dst/_SCALE_OK")
    val fs = okPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a completed FULL derivation satisfies any partial request too
    if (fs.exists(okPath) || fs.exists(fullOk)) return
    def wanted(t: String) = only.forall(_.contains(t))
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: => DataFrame, t: String): Unit =
      if (wanted(t)) df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    write(read("region"), "region")
    write(read("nation"), "nation")

    def copies(base: => DataFrame)(one: (DataFrame, Int) => DataFrame): DataFrame = {
      val b = base
      (0 until k).map(j => if (j == 0) b else one(b, j)).reduce(_.unionByName(_))
    }

    write(copies(read("customer")) { (d, j) =>
      shifted(d, j, Map("c_custkey" -> CopyStride))
        .withColumn("c_name", concat(col("c_name"), lit(s"#$j")))
    }, "customer")
    write(copies(read("supplier")) { (d, j) =>
      shifted(d, j, Map("s_suppkey" -> CopyStride))
    }, "supplier")
    write(copies(read("part")) { (d, j) =>
      shifted(d, j, Map("p_partkey" -> CopyStride))
    }, "part")
    write(copies(read("orders")) { (d, j) =>
      shifted(d, j, Map("o_orderkey" -> CopyStride, "o_custkey" -> CopyStride))
    }, "orders")
    write(copies(read("lineitem")) { (d, j) =>
      shifted(d, j, Map(
        "l_orderkey" -> CopyStride, "l_partkey" -> CopyStride, "l_suppkey" -> CopyStride))
    }, "lineitem")
    write(copies(read("events")) { (d, j) =>
      shifted(d, j, Map("event_id" -> CopyStride, "user_id" -> CopyStride))
    }, "events")
    write(copies(read("documents")) { (d, j) =>
      shifted(d, j, Map("doc_id" -> CopyStride)).withColumn("text",
        expr(s"""concat_ws(' ', transform(
                |  array_sort(transform(
                |    filter(split(text, '\\\\s+'), t -> length(t) > 0),
                |    (t, i) -> struct(xxhash64(t, doc_id, $j, i) AS h, t AS t))),
                |  s -> s.t))""".stripMargin))
    }, "documents")
    write(copies(read("embeddings")) { (d, j) =>
      shifted(d, j, Map("vec_id" -> CopyStride)).withColumn("embedding",
        expr(s"""transform(embedding, (x, i) ->
                |  cast(x + (pmod(xxhash64(vec_id, $j, i), 1000) - 500) / 100000.0 AS float))"""
          .stripMargin))
    }, "embeddings")
    fs.create(okPath, true).close()
  }

  /** The scale suite: heavy registered queries whose inputs are the full
    * tables, plus uncapped operator pipelines for the families whose
    * registered queries run on fixed planted corpora. */
  private def suite: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val fromRegistry = Seq(
      "outlier_counts", "outlier_bounds", "bm25_top_terms", "ann_ivf_topk",
      "quantile_sketch_state", "join_chain", "topk_per_key", "rolling_window",
      "cosine_topk", "sequence_packing")
      .map(n => n -> (graft.SparkEntry.queries ++ graft.SparkEntry.benchQueries)(n))
    val custom: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "neardup_full" -> { (s, dir) =>
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        graft.dedup.Dedup.nearDupClusters(
          graft.dedup.Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.7))
      },
      "fuzzy_full" -> { (s, dir) =>
        graft.dedup.Fuzzy.fuzzyPairsD1(
          s.read.parquet(s"$dir/customer.parquet").select(col("c_custkey"), col("c_name")),
          "c_custkey", "c_name")
      })
    fromRegistry ++ custom
  }

  /** The `heavy-decade` suite: the three newest heavy pipelines, uncapped,
    * for the sf1 → sf10 step. The ANN entry runs through the PERSISTED
    * index (ensure is idempotent — the first timed run pays the build,
    * the min-of-two keeps the amortized search, which is the number that
    * matters for a build-once/search-many index). */
  private def heavySuite: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "ann_ivf_search_idx" -> { (s, dir) =>
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_scale_ivf_$key"
      graft.similarity.AnnIndex.ensureIvf(e, "vec_id", "embedding", idx)
      graft.similarity.AnnIndex.searchIvf(
        s, idx, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
    },
    "pagerank_full" -> { (s, dir) =>
      graft.graph.Graphs.pageRank(
        s.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_partkey").as("src"), col("l_suppkey").as("dst")),
        "src", "dst", iterations = 5)
    },
    "dsir_full" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      graft.sampling.Dsir.gumbelTopK(
        graft.sampling.Dsir.logWeights(docs,
          docs.filter(col("doc_id") < 1000), "doc_id", "text", buckets = 4096),
        "doc_id", "log_weight", k = 1000, seed = 7)
    },
    "ppl_buckets_full" -> { (s, dir) =>
      // CCNet bucketing: fixed 1000-doc reference LM, the whole (scaled)
      // corpus scored and banded per language — reference counts stay
      // constant across sf, the scored side grows 10x per decade
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"))
      graft.text.TextAnalysis.perplexityBuckets(
        docs.filter(col("doc_id") < 1000),
        docs.filter(col("doc_id") >= 1000),
        "doc_id", "text", groupCol = Some("lang"))
    })

  /** The scaled corpus as WARC files, staged once per dir by
    * [[graft.io.Publish.once]]: one warc per ~5000 docs, so the FILE
    * count scales with the corpus and the sf1 → sf10 step measures
    * record-streaming at ~10x files. */
  private def ensureWarc(s: SparkSession, dir: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    graft.io.Publish.once(
        s"${System.getProperty("java.io.tmpdir")}/graft_scale_warc_$key") { out =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .filter(length(trim(col("text"))) > 0)
      val nFiles = math.max(4, (docs.count() / 5000).toInt)
      val frame = docs.select(
        concat(lit("http://crawl.test/"), col("doc_id").cast("string")).as("uri"),
        (lit(1704067200L) + pmod(col("doc_id"), lit(1000000L))).cast("timestamp").as("ts"),
        concat(lit("<urn:graft:doc:"), col("doc_id").cast("string"), lit(">")).as("rid"),
        lit("text/html; charset=utf-8").as("mime"),
        encode(concat(lit("<html><body><p>"), col("text"),
          lit("</p></body></html>")), "UTF-8").as("payload"))
        .repartition(nFiles)
      graft.io.Warc.writeWarc(frame, out, "uri", "ts", "rid", "mime", "payload")
    }
  }

  /** The `r14-decade` suite: sf1 → sf10 for the round-13 heavy families.
    * ROUGE near-dup answers THE open question from the r13 verdict (LCS
    * verify cost at 10x candidates); WARC ingest streams ~10x files;
    * paragraph dedup is the CCNet-unit hash pipeline; the perceptual
    * near-dup passes are decode-bound map passes (payloads are
    * generated in the same pass — generation is a cheap per-row kernel,
    * decode dominates; the slope reads the whole decode-and-pair
    * pipeline). */
  private def r14Suite: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "rouge_full" -> { (s, dir) =>
      graft.dedup.Dedup.rougeLNearDupPairs(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text")),
        "doc_id", "text", threshold = 0.6)
    },
    "paragraph_dedup_full" -> { (s, dir) =>
      graft.dedup.Dedup.dedupParagraphs(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text")),
        "doc_id", "text")
    },
    "warc_ingest_full" -> { (s, dir) =>
      graft.io.Warc.readWarc(s, Seq(ensureWarc(s, dir)))
        .filter(col("warc_type") === "response")
        .select(col("target_uri"),
          graft.text.TextAnalysis.htmlToText(
            graft.io.Warc.payloadText(col("payload"))).as("text"))
    },
    "image_phash_full" -> { (s, dir) =>
      val mk = udf((id: Long) => graft.multimodal.Multimodal.testPatternPng(id))
      val imgs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").as("img_id"))
        .withColumn("payload", mk(col("img_id")))
      graft.multimodal.Multimodal.imageNearDupPairs(
        imgs, "img_id", "payload", maxHamming = 8)
    },
    "audio_fp_full" -> { (s, dir) =>
      val mk = udf((id: Long) => graft.multimodal.Multimodal.testToneWav(id))
      val clips = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").as("clip_id"))
        .withColumn("payload", mk(col("clip_id")))
      graft.multimodal.Multimodal.audioNearDupPairs(
        clips, "clip_id", "payload", maxHamming = 5)
    })

  /** The `r15-decade` suite: sf1 → sf10 for the round-14 families.
    * Retrieval neighbors is THE open scale question (an IVF self-join —
    * corpus as queries): cells scale with the corpus (rows/cell ≈ 400,
    * the documented IVF growth mode), so per-query candidate work stays
    * constant and the probe-ranking term (N × nlist = N²/400 dots) is
    * the expected superlinear component — exactly FAISS's per-query
    * centroid scan. Semantic decontamination is a fixed-1000-row
    * benchmark broadcast over the growing corpus (linear by shape).
    * Bradley–Terry grows the comparison LOG 10x over a fixed 1000-item
    * leaderboard — the collapse shuffle is the scaling part, the MM
    * iterations run on items²-bounded state. */
  private def r15Suite: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "retrieval_neighbors_full" -> { (s, dir) =>
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"),
          expr("vec_id div 20").as("doc"))
      val n = e.count()
      graft.similarity.Similarity.retrievalNeighbors(
        e, "vec_id", "embedding", "doc", k = 10,
        nlist = math.max(64L, n / 400).toInt, nprobe = 8)
    },
    "semantic_decontam_full" -> { (s, dir) =>
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      graft.similarity.Similarity.semanticContaminationReport(
        e, "vec_id", "embedding",
        e.filter(col("vec_id") < 1000)
          .select(col("vec_id").as("bench_id"), col("embedding").as("bvec")),
        "bench_id", "bvec", threshold = 0.99)
    },
    "bradley_terry_full" -> { (s, dir) =>
      val o = s.read.parquet(s"$dir/documents.parquet")
        .select(
          pmod(col("doc_id"), lit(1000L)).as("a"),
          pmod(expr("doc_id div 1000"), lit(999L)).as("b0"),
          pmod(xxhash64(col("doc_id")), lit(7L)).as("d"))
        .withColumn("b",
          when(col("b0") >= col("a"), col("b0") + 1).otherwise(col("b0")))
        .select(
          when(col("d") < 4, col("a")).otherwise(col("b")).as("winner"),
          when(col("d") < 4, col("b")).otherwise(col("a")).as("loser"))
      graft.align.Preference.bradleyTerry(o, "winner", "loser", iterations = 10)
    })

  /** `cap-lift`: the r16 IVF nlist-cap measurement. A 40M-vector
    * clustered corpus (past the old cap's ~16.8M break-even) is staged
    * once; at N=20M and N=40M the one-shot IVF search runs both at the
    * OLD 4096-cell cap and at the lifted auto nlist (√N via the
    * two-level fit), with phase timings, the MEASURED per-query
    * candidate volume (probed-cell occupancy, not the policy's
    * expectation), and recall against 50 brute-forced queries. The
    * claim under test: candidate volume grows ~linearly in N at the old
    * cap (occupancy N/4096) but ~√N uncapped, at recall parity, and
    * the two-level fit keeps the larger nlist affordable. */
  private def capLift(spark: SparkSession): Unit = {
    import graft.similarity.Similarity
    val dir = clusteredCorpusDir(spark, "/tmp/graft_scale_caplift_40m",
      n = 40000000L, dims = 16, clusters = 4096)
    val full = spark.read.parquet(dir)
    val queries = full.filter(col("vec_id") < 50)
    for ((sfName, nRows) <- Seq("n20m" -> 20000000L, "n40m" -> 40000000L)) {
      val corpus = full.filter(col("vec_id") < nRows)
      val tb0 = System.nanoTime()
      val truth = Similarity.cosineTopK(corpus, queries, "vec_id", "vec", "vec_id", 10)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val bruteSec = (System.nanoTime() - tb0) / 1e9
      println(Json.render(Json.obj("query" -> "cap_lift_brute", "sf" -> sfName, "sec" -> Json.sec(bruteSec), "rows" -> truth.size)))
      // third config: uncapped cells at the OLD CAP's candidate budget
      // (nprobe raised so probes·N/cells ~= the capped volume) — the
      // "finer cells at equal work" comparison
      val eqProbes = Map("n20m" -> 9, "n40m" -> 13)(sfName)
      for ((label, nlistArg, nprobeArg) <- Seq(
          ("old_cap_4096", 4096, 0), ("uncapped_auto", 0, 0),
          ("uncapped_eqwork", 0, eqProbes))) {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        val cells = if (nlistArg > 0) nlistArg else Similarity.ivfAutoNlist(nRows)
        val probes =
          if (nprobeArg > 0) nprobeArg
          else Similarity.ivfAutoNprobe(cells, nRows, 10)
        val norm = Similarity.ivfNormalizedCorpus(corpus, "vec_id", "vec")
        val tf0 = System.nanoTime()
        val model = Similarity.ivfFit(norm, "vec_id", cells, seed = 0L,
          fitSample = 100000)
        val centDf = Similarity.ivfCentroidFrame(spark, model)
        val actualCells = centDf.count()
        val fitSec = (System.nanoTime() - tf0) / 1e9
        val assigned = model.transform(norm).drop("__mlvec")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ta0 = System.nanoTime()
        assigned.count()
        val assignSec = (System.nanoTime() - ta0) / 1e9
        val ts0 = System.nanoTime()
        val qProbes = Similarity.ivfQueryProbes(queries, "vec_id", "vec",
          centDf, probes)
        val got = Similarity.ivfScore(assigned, qProbes, "vec_id", 10)
          .select("query_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val searchSec = (System.nanoTime() - ts0) / 1e9
        // MEASURED candidate volume: occupancy of the probed cells
        val occ = assigned.groupBy(col("__cell")).count()
        val cand = qProbes.join(occ, Seq("__cell"))
          .agg(sum(col("count"))).head().getLong(0) / 50.0
        val recall = (truth & got).size.toDouble / math.max(1, truth.size)
        println(Json.render(Json.obj("query" -> s"cap_lift_$label", "sf" -> sfName, "nlist" -> actualCells, "nprobe" -> probes, "fit_sec" -> Json.sec(fitSec), "assign_sec" -> Json.sec(assignSec), "search_sec" -> Json.sec(searchSec), "candidates_per_query" -> Json.fixed(cand, 0), "recall" -> Json.fixed(recall, 4))))
        assigned.unpersist(true)
      }
    }
  }

  /** Enforced bound on the AUTO operating point in the cap-recall probe
    * (r17): the scaled floor measured 0.892/0.908 at 20M/40M on the
    * scaled-up scale_policy shape, where the OLD fixed floor measured
    * 0.870/0.812 — the 40M miss the r16 verdict predicted. 0.85 is the
    * calibrated policy target; a future policy edit that drops the auto
    * point below it at these scales fails the probe run loudly. */
  private[graft] val CapRecallAutoBound = 0.85

  /** `cap-recall`: recall-vs-nprobe at the lifted cap's operating points
    * (r16 verdict #1 — every RECALL bound stopped at 200k while the auto
    * default's recall FELL at 20M/40M on the adversarial shape). Stages
    * a 40M-vector CLUSTERED corpus: the `ann_ivf_scale_policy` harness
    * shape scaled up LITERALLY (dims 32, 256 overlapping clusters,
    * noise 1.0) — the realistic web-corpus regime, where semantic
    * cluster count does NOT grow with corpus size, only density does.
    * (A first r17 run used 4096 clusters ≈ the cell count — that is the
    * adversarial every-neighbor-crosses-cells configuration over again,
    * measured 0.37-0.38 at the floor points; the dims-16 twin of it
    * lives in the r16 cap-lift table. Raise nprobe explicitly on such
    * shapes, as Similarity.ivfAutoNprobe documents.) At N=20M and
    * N=40M: brute-force truth for [[Recall.MinRecallQueries]] queries,
    * ONE auto-nlist fit, then the search at the OLD fixed 8-probe
    * floor, the r17 scaled floor (the auto point — ENFORCED >=
    * [[CapRecallAutoBound]]), and 2x it, so the recall-vs-nprobe curve
    * brackets the default. */
  private def capRecall(spark: SparkSession): Unit = {
    import graft.similarity.Similarity
    val dir = clusteredCorpusDir(spark, "/tmp/graft_scale_caprecall_40m_d32c256",
      n = 40000000L, dims = 32, clusters = 256)
    val full = spark.read.parquet(dir)
    val queries = full.filter(col("vec_id") < Recall.MinRecallQueries.toLong)
    val nQ = Recall.MinRecallQueries
    for ((sfName, nRows) <- Seq("n20m" -> 20000000L, "n40m" -> 40000000L)) {
      val corpus = full.filter(col("vec_id") < nRows)
      val tb0 = System.nanoTime()
      val truth = Similarity.cosineTopK(corpus, queries, "vec_id", "vec", "vec_id", 10)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val bruteSec = (System.nanoTime() - tb0) / 1e9
      println(Json.render(Json.obj("query" -> "cap_recall_brute", "sf" -> sfName, "sec" -> Json.sec(bruteSec), "rows" -> truth.size)))
      val cells = Similarity.ivfAutoNlist(nRows, dims = 32)
      val autoProbes = Similarity.ivfAutoNprobe(cells, nRows, 10)
      val norm = Similarity.ivfNormalizedCorpus(corpus, "vec_id", "vec")
      val tf0 = System.nanoTime()
      val model = Similarity.ivfFit(norm, "vec_id", cells, seed = 0L,
        fitSample = 100000)
      val centDf = Similarity.ivfCentroidFrame(spark, model)
      val fitSec = (System.nanoTime() - tf0) / 1e9
      val assigned = model.transform(norm).drop("__mlvec")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      assigned.count()
      for ((label, probes) <- Seq(
          "old_floor" -> 8, "auto" -> autoProbes, "double" -> 2 * autoProbes)) {
        val ts0 = System.nanoTime()
        val qProbes = Similarity.ivfQueryProbes(queries, "vec_id", "vec",
          centDf, probes)
        val got = Similarity.ivfScore(assigned, qProbes, "vec_id", 10)
          .select("query_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val searchSec = (System.nanoTime() - ts0) / 1e9
        val recall = (truth & got).size.toDouble / math.max(1, truth.size)
        println(Json.render(Json.obj("query" -> s"cap_recall_$label", "sf" -> sfName, "nlist" -> cells, "nprobe" -> probes, "n_queries" -> nQ, "fit_sec" -> Json.sec(fitSec), "search_sec" -> Json.sec(searchSec), "recall" -> Json.fixed(recall, 4))))
        if (label == "auto")
          require(recall >= CapRecallAutoBound,
            f"cap-recall GATE: auto point (nlist=$cells, nprobe=$probes) " +
              f"recall $recall%.4f < $CapRecallAutoBound at $sfName — " +
              "the scale floor no longer preserves the calibrated candidate volume")
      }
      assigned.unpersist(true)
    }
  }

  /** `shard-fit`: the r17 sharded-index measurement on the judged
    * scenario (the 40M-corpus fits the cap-lift table timed at ~55s).
    * On 20M of the staged clustered vectors: one single-index build
    * (auto √20M ≈ 4472 cells via the two-level fit) vs a 4-shard
    * build (4 parallel fits of √5M ≈ 2236 cells each over disjoint
    * slices). Reports build wall-time (fit + assignment + partitioned
    * write — what a user pays end to end) and a search sanity pass,
    * then the per-query merged search time. The identity contract
    * (sharded ≡ single at exhaustive probes) is spec-pinned, not
    * re-measured here. */
  private def shardFit(spark: SparkSession): Unit = {
    import graft.similarity.AnnIndex
    val dir = clusteredCorpusDir(spark, "/tmp/graft_scale_caplift_40m",
      n = 40000000L, dims = 16, clusters = 4096)
    val corpus = spark.read.parquet(dir).filter(col("vec_id") < 20000000L)
    val queries = spark.read.parquet(dir).filter(col("vec_id") < 20)
    for ((label, nShards) <- Seq("single" -> 1, "sharded_4" -> 4)) {
      val out = s"/tmp/graft_shardfit_idx_$label"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      val tb0 = System.nanoTime()
      if (nShards == 1)
        AnnIndex.buildIvf(corpus, "vec_id", "vec", out)
      else
        AnnIndex.buildIvfSharded(corpus, "vec_id", "vec", out, nShards)
      val buildSec = (System.nanoTime() - tb0) / 1e9
      val ts0 = System.nanoTime()
      val got =
        if (nShards == 1)
          AnnIndex.searchIvf(spark, out, queries, "vec_id", "vec", k = 10).count()
        else
          AnnIndex.searchIvfSharded(spark, out, queries, "vec_id", "vec", k = 10).count()
      val searchSec = (System.nanoTime() - ts0) / 1e9
      println(Json.render(Json.obj("query" -> s"shard_fit_$label", "sf" -> "n20m", "n_shards" -> nShards, "build_sec" -> Json.sec(buildSec), "search_sec" -> Json.sec(searchSec), "rows" -> got)))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  /** The small-file decay [[graft.similarity.AnnIndex.compact]] exists to
    * fix, measured: one IVF index over 1M clustered vectors, 60
    * streaming-shaped appends of 2k rows each (every append lands ~one
    * parquet file per touched cell directory — tens of thousands of
    * KB-files at steady state), then search latency + data-file count
    * before vs after compaction. Cold search includes the file listing;
    * the warm repeat isolates per-task scheduling + footer overhead. */
  private def compactionDecay(spark: SparkSession): Unit = {
    import graft.similarity.AnnIndex
    val dir = stagedCorpus(spark)
    val all = spark.read.parquet(dir)
    val queries = all.filter(col("vec_id") < 20)
    val out = "/tmp/graft_compaction_idx"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    AnnIndex.buildIvf(all.filter(col("vec_id") < 1000000L), "vec_id", "vec", out)
    System.err.println("[scalebench] running 60 streaming-shaped appends")
    for (i <- 0 until 60) {
      val lo = 1000000L + i * 2000L
      AnnIndex.appendIvf(
        all.filter(col("vec_id") >= lo && col("vec_id") < lo + 2000L), "vec", out)
    }
    def files(): Long = {
      val p = new org.apache.hadoop.fs.Path(s"$out/corpus.parquet")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext)
        if (it.next().getPath.getName.startsWith("part-")) n += 1
      n
    }
    def searchSec(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = AnnIndex.searchIvf(spark, out, queries, "vec_id", "vec", k = 10).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    for (phase <- Seq("appended", "compacted")) {
      if (phase == "compacted") {
        val t0 = System.nanoTime()
        AnnIndex.compact(spark, out)
        println(Json.render(Json.obj("query" -> "compact_run", "sec" -> Json.sec((System.nanoTime() - t0) / 1e9))))
      }
      val f = files()
      val (cold, rows) = searchSec()
      val (warm, _) = searchSec()
      println(Json.render(Json.obj("query" -> s"compaction_decay_$phase", "files" -> f, "search_cold_sec" -> Json.sec(cold), "search_warm_sec" -> Json.sec(warm), "rows" -> rows)))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  /** `reshardIvf` vs the rebuild it replaces, measured on the 1.12M
    * quantized corpus: resharding reads the index's OWN stored payloads
    * (int8 codes — ~8× fewer bytes than the float64 source at 16 dims),
    * never the source table. Wall-clock is fit-dominated either way on
    * one box; the bytes row is the 100 TB signal (and the reason the op
    * exists: the source may be cold, remote, or already deleted). */
  private def reshardProbe(spark: SparkSession): Unit = {
    import graft.similarity.AnnIndex
    val dir = stagedCorpus(spark)
    val corpus = spark.read.parquet(dir).filter(col("vec_id") < 1000000L)
    def du(path: String): Long = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }
    val idx = "/tmp/graft_reshard_idx"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    AnnIndex.buildIvfSharded(corpus, "vec_id", "vec", idx, nShards = 2,
      quantize = true)
    val queries = corpus.filter(col("vec_id") < 20)
    def search() = AnnIndex
      .searchIvfSharded(spark, idx, queries, "vec_id", "vec", k = 10).count()
    val pre = search()
    val t0 = System.nanoTime()
    AnnIndex.reshardIvf(spark, idx, newShards = 4)
    val reshardSec = (System.nanoTime() - t0) / 1e9
    val post = search()
    println(Json.render(Json.obj("query" -> "reshard_2_to_4", "sec" -> Json.sec(reshardSec), "index_bytes_read" -> du(idx), "source_bytes_avoided" -> du(dir), "rows_pre" -> pre, "rows_post" -> post)))
    val fresh = "/tmp/graft_reshard_fresh"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(fresh))
    val t1 = System.nanoTime()
    AnnIndex.buildIvfSharded(corpus, "vec_id", "vec", fresh, nShards = 4,
      quantize = true)
    println(Json.render(Json.obj("query" -> "fresh_build_4", "sec" -> Json.sec((System.nanoTime() - t1) / 1e9))))
    Seq(idx, fresh).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
  }

  /** `reshard-rehearsal`: the price of saying YES to [[graft.similarity
    * .AnnIndex.maintain]]'s reshard recommendation — r19 closed the loop
    * up to the recommendation (skew → LOUD advice, never automatic);
    * this rehearses the operator's next move so the advice comes with a
    * bill. A 1M-row 2-shard index built from an id set hash-biased to
    * shard 0 (the drifted-routing failure mode): (1) `maintain` must
    * RECOMMEND and not act (topology unchanged); (2) following the
    * recommendation (reshardIvf 2→4 at the same explicit nlist) is
    * timed, and the exhaustive-probe result set must be IDENTICAL
    * before/after (the bit-identity the reshard oracles pin, re-checked
    * at rehearsal scale); (3) the GATE: post-reshard skew must sit under
    * the threshold that fired. */
  private def reshardRehearsal(spark: SparkSession): Unit = {
    import graft.similarity.AnnIndex
    val dir = stagedCorpus(spark)
    val base = spark.read.parquet(dir).filter(col("vec_id") < 1000000L)
    // hash-biased ids: everything shard 0 would own, plus a thin slice of
    // shard 1's — the exact skew signature maintain's stats read detects.
    // The slice is a DETERMINISTIC second-hash filter, never limit():
    // an unordered limit can pick a different row set per evaluation,
    // and the bit-identity gate below re-evaluates this frame
    val skewed = base
      .filter(pmod(xxhash64(col("vec_id")), lit(2)) === 0)
      .unionByName(
        base.filter(pmod(xxhash64(col("vec_id")), lit(2)) === 1 &&
          pmod(xxhash64(col("vec_id") + 1000000007L), lit(20)) === 0))
    val idx = "/tmp/graft_reshard_rehearsal"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    val nlist = 128 // explicit + equal across shards so exhaustive probes
                    // (nprobe = nlist) are expressible on both topologies
    AnnIndex.buildIvfSharded(skewed, "vec_id", "vec", idx, nShards = 2,
      nlist = nlist, quantize = true)
    // 1. the recommendation fires and DOES NOT act
    val rep = AnnIndex.maintain(spark, idx, skewRatio = 2.0,
      fileDecay = 1e9, tombstoneRatio = 1e9).head()
    val skewBefore = rep.getAs[Double]("shard_skew")
    require(rep.getAs[Boolean]("reshard_recommended"),
      s"reshard-rehearsal: the biased build must trip the skew signal: $rep")
    require(spark.read.parquet(s"$idx/meta.parquet").head()
      .getAs[Int]("tables") == 2,
      "maintain must only RECOMMEND a reshard, never run one")
    val queries = skewed.filter(col("vec_id") < 200) // deterministic ~100
    def resultSet(): Set[(Long, Long, Double)] = AnnIndex
      .searchIvfSharded(spark, idx, queries, "vec_id", "vec", k = 10,
        nprobe = nlist)
      .select("query_id", "vec_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def skewNow(): Double = {
      val st = AnnIndex.stats(spark, idx).head()
      st.getAs[Long]("shard_rows_max").toDouble /
        math.max(st.getAs[Long]("shard_rows_min"), 1L)
    }
    val pre = resultSet()
    def reshardTo(n: Int): Double = {
      val t0 = System.nanoTime()
      AnnIndex.reshardIvf(spark, idx, newShards = n, nlist = nlist)
      val sec = (System.nanoTime() - t0) / 1e9
      val post = resultSet()
      require(pre == post,
        s"reshard-rehearsal: exhaustive-probe results must be identical " +
          s"across the 2->$n topology change (pre ${pre.size}, post " +
          s"${post.size}, diff ${(pre diff post).take(3)} / ${(post diff pre).take(3)})")
      sec
    }
    // 2a. the TRAP the rehearsal documents (its first run found it): a
    // new shard count sharing a factor with the old one preserves
    // hash-correlated population skew — pmod(hash,2)==0 rows land
    // exactly in shards {0,2} of 4, so 2->4 rebalances NOTHING
    val secSame = reshardTo(4)
    val skewSame = skewNow()
    require(skewSame > 2.0,
      f"reshard-rehearsal: same-factor 2->4 is expected to PRESERVE the " +
        f"hash-correlated skew (got $skewSame%.2f) — if this rebalanced, " +
        "the documented trap no longer holds and the maintain() advice " +
        "text must change")
    // 2b. the recommendation done right: a COPRIME count re-mixes the
    // id set uniformly regardless of the old routing's correlation
    val secCoprime = reshardTo(3)
    val skewAfter = skewNow()
    val st = AnnIndex.stats(spark, idx).head()
    println(Json.render(Json.obj("query" -> "reshard_rehearsal", "n_rows" -> st.getAs[Long]("n_rows"), "skew_before" -> Json.fixed(skewBefore, 2), "skew_same_factor_4" -> Json.fixed(skewSame, 2),
      "sec_same_factor" -> Json.sec(secSame), "skew_coprime_3" -> Json.fixed(skewAfter, 2), "sec_coprime" -> Json.sec(secCoprime), "results_identical" -> true)))
    // 3. the gate: acting on the (coprime) recommendation actually fixed
    // what the signal measured
    require(skewAfter < 2.0,
      f"reshard-rehearsal GATE: post-reshard (coprime) skew $skewAfter%.2f must sit under the 2.0 threshold that fired")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
  }

  /** The 1.12M-vector clustered corpus (16 dims, 1024 clusters) the index
    * probes share; returns its directory. */
  private def stagedCorpus(spark: SparkSession): String =
    clusteredCorpusDir(spark, "/tmp/graft_compaction_corpus",
      n = 1120000L, dims = 16, clusters = 1024)

  /** `dir`, holding the n-vector clustered corpus (noise 1.0) as parquet,
    * staged once by [[graft.io.Publish.once]]. */
  private def clusteredCorpusDir(spark: SparkSession, dir: String, n: Long,
      dims: Int, clusters: Int): String =
    graft.io.Publish.once(dir) { out =>
      System.err.println(
        s"[scalebench] staging the $n-vector dims-$dims clustered corpus at $dir (one-off)")
      Recall.clusteredCorpus(spark, n, dims, clusters, noise = 1.0)
        .write.mode("overwrite").parquet(out)
    }

  /** `append-probe`: the r18 append-assignment fix measured at
    * nlist = 4096 (the scale the local bench's tiny fixture indexes
    * cannot surface — r17 verdict #1). One IVF index over 1M clustered
    * vectors at an explicit 4096 cells, then a 10k-row batch assigned
    * against the PERSISTED centroids two ways: the r17 crossJoin +
    * row_number-window shape (reconstructed inline over the 10k·4096 =
    * 41M-row product) and the shipped map-only
    * [[graft.similarity.AnnIndex.assignToPersistedCells]] (|batch| rows
    * end to end, centroids on one broadcast row). Wall time + total
    * shuffle read/write bytes from the stage metrics of
    * [[graft.obs.Telemetry]]; both shapes must agree on every assignment.
    * Measured on Spark 4 at 4 cores, the crossJoin + window shape
    * shuffles 169,678 bytes and the map-only shape 618,474: neither
    * sends the product through a shuffle, so the shuffle column does not
    * explain the wall-time gap. */
  private def appendProbe(spark: SparkSession): Unit = {
    import graft.similarity.{AnnIndex, Similarity}
    val dir = stagedCorpus(spark)
    val all = spark.read.parquet(dir)
    val idx = "/tmp/graft_append_probe_idx"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    AnnIndex.buildIvf(all.filter(col("vec_id") < 1000000L), "vec_id", "vec",
      idx, nlist = 4096)
    val batch = all.filter(col("vec_id") >= 1000000L && col("vec_id") < 1010000L)
    val centDf = spark.read.parquet(s"$idx/centroids.parquet")
    val corpusVec = Similarity.ivfNormalizedCorpus(batch, "vec_id", "vec")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    corpusVec.count()

    // the r17 shape, verbatim: broadcast centroids, crossJoin, rank-1
    // window over the |batch|·nlist product
    def oldShape: DataFrame = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.ml.functions.vector_to_array
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("__dist").asc, col("__cell").asc)
      corpusVec
        .withColumn("__u", vector_to_array(col("__mlvec")))
        .drop("__mlvec")
        .crossJoin(org.apache.spark.sql.functions.broadcast(centDf))
        .withColumn("__dist",
          Similarity.dot(col("__cent"), col("__cent"))
            - lit(2.0) * Similarity.dot(col("__u"), col("__cent")))
        .withColumn("__rk",
          org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("__rk") === 1)
        .select(col("vec_id"), col("__cell"))
    }
    def newShape: DataFrame =
      AnnIndex.assignToPersistedCells(corpusVec, centDf)
        .select(col("vec_id"), col("__cell"))

    val telemetry = graft.obs.Telemetry.attach(spark)
    var oldCells: Map[Long, Int] = Map.empty
    for ((label, df) <- Seq("old_window" -> oldShape, "new_maponly" -> newShape)) {
      val (got, rec) = telemetry.measure(df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap)
      if (label == "old_window") oldCells = got
      else require(got == oldCells,
        "append-probe: the map-only assignment diverged from the window shape")
      println(Json.render(Json.obj("query" -> s"append_assign_$label", "nlist" -> 4096, "batch" -> got.size, "sec" -> Json.sec(rec.sec), "shuffle_read" -> rec.shuffleRead, "shuffle_write" -> rec.shuffleWrite)))
    }
    corpusVec.unpersist(true)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
  }

  /** `tombstone-probe`: what pending tombstones cost a search before the
    * fold (r18). One IVF index over 1M clustered vectors at auto params,
    * searched (50 queries, k=10) with 0 / 10k / 100k pending tombstones
    * — the anti-join is applied post-prune, so the claim under test is
    * that its cost tracks the CANDIDATE volume, not the corpus or the
    * tombstone count. Then the fold (compact), timed, and the post-fold
    * search — back to the zero-tombstone cost. */
  private def tombstoneProbe(spark: SparkSession): Unit = {
    import graft.similarity.AnnIndex
    val dir = stagedCorpus(spark)
    val all = spark.read.parquet(dir)
    val queries = all.filter(col("vec_id") < 50)
    val idx = "/tmp/graft_tombstone_probe_idx"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    AnnIndex.buildIvf(all.filter(col("vec_id") < 1000000L), "vec_id", "vec", idx)
    def searchSec(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = AnnIndex.searchIvf(spark, idx, queries, "vec_id", "vec", k = 10).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    searchSec() // warm listings
    for ((label, tombs) <- Seq("t0" -> 0L, "t10k" -> 10000L, "t100k" -> 100000L)) {
      if (tombs > 0L) {
        val lo = if (tombs == 10000L) 500000L else 510000L
        AnnIndex.deleteIds(spark, idx,
          all.filter(col("vec_id") >= lo && col("vec_id") < lo + tombs)
            .select(col("vec_id")))
      }
      val times = (1 to 3).map(_ => searchSec()._1)
      println(Json.render(Json.obj("query" -> s"tombstone_search_$label", "pending" -> tombs, "min_sec" -> Json.sec(times.min))))
    }
    val t0 = System.nanoTime()
    AnnIndex.compact(spark, idx)
    println(Json.render(Json.obj("query" -> "tombstone_fold", "sec" -> Json.sec((System.nanoTime() - t0) / 1e9), "rows_after" -> spark.read.parquet(s"$idx/corpus.parquet").count())))
    val post = (1 to 3).map(_ => searchSec()._1).min
    println(Json.render(Json.obj("query" -> "tombstone_search_postfold", "min_sec" -> Json.sec(post))))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
  }

  /** The recall floor for the DEPLOYED sharded-PQ serving config at the
    * clustered decade — same bar as the plain-IVF auto point
    * ([[CapRecallAutoBound]]): the int8 refine re-rank recovers what ADC
    * ranking loses, so the deployed config must clear the same floor the
    * policy was calibrated to. */
  private[graft] val PqShardedAutoBound = 0.85

  /** `shard-sweep`: the SHARD-COUNT axis of the sharded auto-probe
    * calibration — the residual risk the r19 decade probe left open: the
    * 2× per-shard floor (ShardedProbeCompensation) was measured at S=4
    * only, while the documented coverage mechanism (each shard holds the
    * same natural clusters at 1/S the occupancy, so the neighborhood
    * sits deeper in each shard's noisier centroid ranking) predicts the
    * deficit GROWS with S. For S = 4 / 8 / 16 / 32 at N=20M (same
    * clustered shape and exact truth as pq-sharded-decade — 32 covers
    * the top of the 16-64-shard range a 100 TB deployment plausibly
    * runs, where the log2 compensation ramp is EXTRAPOLATING beyond the
    * three points that calibrated it), this measures per S:
    * the coarse COVERAGE curve at 1×/2×/3× the single-index floor
    * (replayed from the persisted layout — the signal that fired at 0.78
    * in r19), the DEPLOYED auto config's end-to-end recall@10 (gate
    * ≥ [[PqShardedAutoBound]] at EVERY S, enforced after the full table
    * prints), the replayed candidate volume, and search latency.
    * Indexes are staged behind meta markers; S=4 reuses the decade
    * probe's index byte-for-byte (same build params), keeping the ≤4
    * point identical to the gated r19 artifact. */
  private def shardSweep(spark: SparkSession, counts: Seq[Int]): Unit = {
    import graft.similarity.{AnnIndex, Similarity}
    import spark.implicits._
    val dir = clusteredCorpusDir(spark, "/tmp/graft_scale_caprecall_40m_d32c256",
      n = 40000000L, dims = 32, clusters = 256)
    val full = spark.read.parquet(dir)
    val nRows = 20000000L
    val corpus = full.filter(col("vec_id") < nRows)
    val queries = full.filter(col("vec_id") < Recall.MinRecallQueries.toLong)
      .persist()
    queries.count()
    val nQ = Recall.MinRecallQueries
    val truth = Similarity
      .cosineTopK(corpus, queries, "vec_id", "vec", "vec_id", 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    System.err.println(s"[scalebench] shard-sweep truth ready (${truth.size} pairs)")
    val truthDf = truth.toSeq.toDF("query_id", "vec_id").persist()
    truthDf.count()
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for (s <- counts) {
      val idxDir =
        if (s == 4) "/tmp/graft_scale_pqsh_n20m_d32c256"
        else s"/tmp/graft_scale_pqsh_n20m_d32c256_s$s"
      val tb0 = System.nanoTime()
      AnnIndex.ensureIvfPqSharded(corpus, "vec_id", "vec", idxDir,
        nShards = s, m = 8, codes = 256, seed = 0L, refine = true)
      val buildSec = (System.nanoTime() - tb0) / 1e9
      // coverage of the probed cells at 1x/2x/3x the single-index floor:
      // a true neighbor lives in exactly ONE shard, so summing per-shard
      // covered pairs over shards is exact — and the replay never runs
      // the ADC tail, so the curve isolates the coarse-probe policy
      val covByMult = Seq(1, 2, 3).map { mult =>
        var covered = 0L
        for (sh <- 0 until s) {
          val sd = s"$idxDir/shard=$sh"
          val sm = spark.read.parquet(s"$sd/meta.parquet").head()
          val base = Similarity.ivfAutoNprobe(
            sm.getAs[Int]("nlist"), sm.getAs[Long]("n_rows"), 10)
          val probes = math.min(sm.getAs[Int]("nlist"), mult * base)
          val probed = Similarity.ivfQueryProbes(queries, "vec_id", "vec",
              spark.read.parquet(s"$sd/centroids.parquet"), probes)
            .select(col("query_id"), col("__cell"))
          covered += truthDf
            .join(spark.read.parquet(s"$sd/corpus.parquet")
              .select(col("vec_id"), col("__cell")), Seq("vec_id"))
            .join(probed, Seq("query_id", "__cell"), "left_semi")
            .count()
        }
        mult -> covered.toDouble / truth.size
      }
      val deployedProbes =
        AnnIndex.shardNprobe(spark, s"$idxDir/shard=0", "ivfpq", 10, 0, s)
      val candPerQ = AnnIndex.candidateVolume(
        spark, idxDir, queries, "vec_id", "vec", 10)
      def searchOnce(): (Double, Set[(Long, Long)]) = {
        val t0 = System.nanoTime()
        val got = AnnIndex
          .searchIvfPqSharded(spark, idxDir, queries, "vec_id", "vec", k = 10)
          .select("query_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        ((System.nanoTime() - t0) / 1e9, got)
      }
      searchOnce() // warm listings
      val runs = (1 to 3).map(_ => searchOnce())
      val searchSec = runs.map(_._1).min
      val recall = (truth & runs.head._2).size.toDouble / math.max(1, truth.size)
      println(Json.render(Json.obj("query" -> "shard_sweep", "n_shards" -> s, "n_rows" -> nRows, "n_queries" -> nQ, "build_sec" -> Json.fixed(buildSec, 1), "deployed_probes_per_shard" -> deployedProbes,
        "coverage" -> Json.obj(covByMult.map { case (m, c) => s"x$m" -> Json.fixed(c, 4) }: _*), "cand_rows_per_query" -> Json.fixed(candPerQ, 1), "search_sec" -> Json.sec(searchSec), "recall" -> Json.fixed(recall, 4), "bound" -> PqShardedAutoBound)))
      if (recall < PqShardedAutoBound)
        failures += f"S=$s recall $recall%.4f < $PqShardedAutoBound"
    }
    truthDf.unpersist(); queries.unpersist()
    require(failures.isEmpty,
      s"shard-sweep GATE: ${failures.mkString("; ")}")
  }

  /** `pq-sharded-decade`: the config a 100 TB user actually serves —
    * 4-shard IVF-PQ (m=8, 256 codes), int8 refine ON at the auto factor,
    * AUTO probes — probed at the clustered decade the r15 IVF policy got
    * (N=20M and N=40M of the staged dims-32 256-cluster corpus). Per
    * point: recall@10 vs brute truth (the auto point must clear
    * [[PqShardedAutoBound]] — the GATE), per-query candidate volume
    * computed from the persisted layout (probed-cell occupancy under the
    * per-shard auto-nprobe policy — the bytes driver a search pays), and
    * the search latency; the decade slope of both closes the probe.
    * The corpus and indexes are staged one-off. */
  private def pqShardedDecade(spark: SparkSession): Unit = {
    import graft.similarity.{AnnIndex, Similarity}
    val dir = clusteredCorpusDir(spark, "/tmp/graft_scale_caprecall_40m_d32c256",
      n = 40000000L, dims = 32, clusters = 256)
    val full = spark.read.parquet(dir)
    val queries = full.filter(col("vec_id") < Recall.MinRecallQueries.toLong)
      .persist()
    queries.count()
    val nQ = Recall.MinRecallQueries
    var prev = Option.empty[(Double, Double)] // (searchSec, candPerQ)
    for ((sfName, nRows) <- Seq("n20m" -> 20000000L, "n40m" -> 40000000L)) {
      val corpus = full.filter(col("vec_id") < nRows)
      val truth = Similarity
        .cosineTopK(corpus, queries, "vec_id", "vec", "vec_id", 10)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val idxDir = s"/tmp/graft_scale_pqsh_${sfName}_d32c256"
      val tb0 = System.nanoTime()
      AnnIndex.ensureIvfPqSharded(corpus, "vec_id", "vec", idxDir,
        nShards = 4, m = 8, codes = 256, seed = 0L, refine = true)
      val buildSec = (System.nanoTime() - tb0) / 1e9
      // candidate volume from the PERSISTED layout: per shard, replay the
      // auto-nprobe policy against the stored centroids and sum the
      // probed cells' occupancy — the rows every query's ADC loop scores
      var candRows = 0L
      var nlistSum = 0L
      for (sh <- 0 until 4) {
        val sd = s"$idxDir/shard=$sh"
        val meta = spark.read.parquet(s"$sd/meta.parquet").head()
        val shNlist = meta.getAs[Int]("nlist")
        nlistSum += shNlist
        // the DEPLOYED per-shard policy itself — not a re-implementation,
        // so the volume reported cannot drift from the volume served
        val probes = AnnIndex.shardNprobe(spark, sd, "ivfpq", 10, nprobe = 0,
          nShards = 4)
        val probed = Similarity.ivfQueryProbes(queries, "vec_id", "vec",
            spark.read.parquet(s"$sd/centroids.parquet"), probes)
          .select(col("query_id"), col("__cell"))
        candRows += probed
          .join(spark.read.parquet(s"$sd/corpus.parquet")
            .groupBy(col("__cell")).agg(count(lit(1)).as("occ")), Seq("__cell"))
          .agg(sum(col("occ"))).head().getLong(0)
      }
      val candPerQ = candRows.toDouble / nQ
      // the deployed search: auto probes, auto refine (int8 re-rank on)
      def searchOnce(): (Double, Set[(Long, Long)]) = {
        val t0 = System.nanoTime()
        val got = AnnIndex
          .searchIvfPqSharded(spark, idxDir, queries, "vec_id", "vec", k = 10)
          .select("query_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        ((System.nanoTime() - t0) / 1e9, got)
      }
      searchOnce() // warm file listings, as served steady-state would be
      val runs = (1 to 3).map(_ => searchOnce())
      val searchSec = runs.map(_._1).min
      val got = runs.head._2
      val recall = (truth & got).size.toDouble / math.max(1, truth.size)
      println(Json.render(Json.obj("query" -> "pq_sharded_auto", "sf" -> sfName, "n_shards" -> 4, "nlist_total" -> nlistSum, "n_queries" -> nQ, "build_sec" -> Json.sec(buildSec), "search_sec" -> Json.sec(searchSec), "cand_rows_per_query" -> Json.fixed(candPerQ, 1), "recall" -> Json.fixed(recall, 4))))
      require(recall >= PqShardedAutoBound,
        f"pq-sharded-decade GATE: deployed config (4-shard PQ, refine auto, " +
          f"probes auto) recall $recall%.4f < $PqShardedAutoBound at $sfName")
      prev.foreach { case (s20, c20) =>
        println(Json.render(Json.obj("query" -> "pq_sharded_decade_slope", "search_sec_ratio" -> Json.fixed(searchSec / s20, 2), "cand_ratio" -> Json.fixed(candPerQ / c20, 2))))
      }
      prev = Some((searchSec, candPerQ))
    }
    queries.unpersist()
  }

  /** `interleave-probe`: the documented single-maintainer composition —
    * [[graft.streaming.Streaming.maintainAnnIndex]] appends and
    * [[graft.streaming.Streaming.maintainRetractions]] deletes against
    * the SAME 1M-row persisted index from one lane — driven across a
    * kill/restart: the append stream is stopped mid-feed and restarted on
    * its checkpoint, so the uncommitted micro-batch REPLAYS and the
    * marker gate must keep the replay single-application; retraction
    * batches replay behind their own markers (and are idempotent anyway);
    * the retraction lane's compactEvery cadence folds tombstones while
    * appends continue after it. The probe asserts the final served state
    * row-for-row: base + every appended id − every retracted id, no
    * duplicates, searchable immediately. */
  private def interleaveProbe(spark: SparkSession): Unit = {
    import graft.similarity.AnnIndex
    import graft.streaming.Streaming
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = stagedCorpus(spark)
    val all = spark.read.parquet(dir)
    val work = java.nio.file.Files.createTempDirectory("graft_interleave").toString
    val idx = s"$work/idx"
    val t0 = System.nanoTime()
    AnnIndex.buildIvf(all.filter(col("vec_id") < 1000000L), "vec_id", "vec", idx)
    println(Json.render(Json.obj("query" -> "interleave_build", "sec" -> Json.sec((System.nanoTime() - t0) / 1e9), "rows" -> 1000000)))
    implicit val sqlCtx = spark.sqlContext
    def batchRows(lo: Long, hi: Long): Seq[(Long, Seq[Double])] = all
      .filter(col("vec_id") >= lo && col("vec_id") < hi)
      .select(col("vec_id"), col("vec")).as[(Long, Seq[Double])]
      .collect().toSeq
    // lane 1: appends (batches of 10k new ids)
    val appendIn = MemoryStream[(Long, Seq[Double])]
    def startAppends() = Streaming.maintainAnnIndex(
      appendIn.toDF.toDF("vec_id", "vec"), "vec", idx, s"$work/ckpt_app")
    // lane 2 (same single-maintainer lane — the lanes take turns):
    // retractions with an aggressive fold cadence
    val retractIn = MemoryStream[Long]
    def startRetracts() = Streaming.maintainRetractions(
      retractIn.toDF.toDF("vec_id"), idx, s"$work/ckpt_ret", kind = "ann",
      compactEvery = 2)
    val ta0 = System.nanoTime()
    var aq = startAppends()
    appendIn.addData(batchRows(1000000L, 1010000L))
    aq.processAllAvailable()
    // KILL mid-feed: enqueue a batch, stop WITHOUT processing — the
    // checkpoint has the offsets, the index has no marker for it yet
    appendIn.addData(batchRows(1010000L, 1020000L))
    aq.stop()
    // RESTART on the same checkpoint: the stopped batch replays ONCE
    aq = startAppends()
    aq.processAllAvailable()
    // replay of an ALREADY-APPLIED batch id is marker-gated to a no-op
    require(!Streaming.appendBatchOnce(
      all.filter(col("vec_id") >= 1000000L && col("vec_id") < 1010000L)
        .select(col("vec_id"), col("vec")), "vec", idx, batchId = 0L),
      "interleave GATE: replayed applied batch must be a marker-gated no-op")
    // retraction lane takes the lane: two batches (takedown of 1k base
    // ids + 1k appended ids); the second applied batch folds (cadence 2)
    val rq = startRetracts()
    retractIn.addData((0L until 1000L): _*)
    rq.processAllAvailable()
    retractIn.addData((1000000L until 1001000L): _*)
    rq.processAllAvailable()
    rq.stop()
    require(!new java.io.File(s"$idx/tombstones.parquet").exists(),
      "interleave GATE: the compactEvery cadence must have folded the tombstones")
    // appends continue after the fold on the original checkpoint
    appendIn.addData(batchRows(1020000L, 1030000L))
    aq.processAllAvailable()
    aq.stop()
    println(Json.render(Json.obj("query" -> "interleave_drive", "sec" -> Json.sec((System.nanoTime() - ta0) / 1e9), "appended" -> 30000, "retracted" -> 2000, "restarts" -> 1)))
    // final served truth: base + appends − retractions, no duplicates
    val stored = spark.read.parquet(s"$idx/corpus.parquet").select(col("vec_id"))
    val n = stored.count()
    val nDistinct = stored.distinct().count()
    require(n == nDistinct && n == 1000000L + 30000L - 2000L,
      s"interleave GATE: served rows $n (distinct $nDistinct), want 1028000 exact")
    // the retracted ids are gone, the post-restart appends serve
    val probeQ = all.filter(col("vec_id").isin(500L, 1000500L, 1025000L))
      .select((col("vec_id") + 5000000L).as("vec_id"), col("vec"))
    val served = AnnIndex.searchIvf(spark, idx, probeQ, "vec_id", "vec", k = 1)
      .select(col("query_id"), col("vec_id").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(served(1025000L + 5000000L) == 1025000L,
      s"interleave GATE: post-restart append must serve, got $served")
    require(served.get(500L + 5000000L) != Some(500L) &&
      served.get(1000500L + 5000000L) != Some(1000500L),
      s"interleave GATE: retracted ids must not serve, got $served")
    println(Json.render(Json.obj("query" -> "interleave_replay_idempotence", "ok" -> true)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.contains("tombstone-probe")) {
      tombstoneProbe(spark)
      spark.stop()
      return
    }
    if (args.contains("pq-sharded-decade")) {
      pqShardedDecade(spark)
      spark.stop()
      return
    }
    if (args.contains("shard-sweep")) {
      // an optional trailing integer list overrides the swept shard
      // counts ("shard-sweep 64" gates just the S=64 point); the
      // default covers the per-round calibration + extrapolation set
      val counts = args.dropWhile(_ != "shard-sweep").drop(1)
        .takeWhile(_.forall(_.isDigit)).map(_.toInt).toSeq
      shardSweep(spark, if (counts.nonEmpty) counts else Seq(4, 8, 16, 32))
      spark.stop()
      return
    }
    if (args.contains("interleave-probe")) {
      interleaveProbe(spark)
      spark.stop()
      return
    }
    if (args.contains("append-probe")) {
      appendProbe(spark)
      spark.stop()
      return
    }
    if (args.contains("reshard-probe")) {
      reshardProbe(spark)
      spark.stop()
      return
    }
    if (args.contains("reshard-rehearsal")) {
      reshardRehearsal(spark)
      spark.stop()
      return
    }
    if (args.contains("compaction-decay")) {
      compactionDecay(spark)
      spark.stop()
      return
    }
    if (args.contains("cap-lift")) {
      capLift(spark)
      spark.stop()
      return
    }
    if (args.contains("shard-fit")) {
      shardFit(spark)
      spark.stop()
      return
    }
    if (args.contains("cap-recall")) {
      capRecall(spark)
      spark.stop()
      return
    }
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    System.err.println(s"[scalebench] deriving sf1 into $sf1Dir (idempotent)")
    scaleUp(spark, "/root/testdata/sf0.1", sf1Dir, 10)

    // `dedup-decade`: one more decade for the dedup families only. sf1
    // crossed the driver-union-find → distributed-clustering boundary, so
    // the sf0.1→sf1 slope conflates the engine change with data growth;
    // BOTH sides of the sf1→sf10 step run the distributed loop, so this
    // slope measures the distributed regime alone.
    val dedupDecade = args.contains("dedup-decade")
    val heavyDecade = args.contains("heavy-decade")
    val (chosenSuite, dirs) =
      if (dedupDecade) {
        val sf10Dir = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "/tmp/graft_sf10")
        System.err.println(s"[scalebench] deriving sf10 into $sf10Dir (idempotent)")
        scaleUp(spark, "/root/testdata/sf0.1", sf10Dir, 100,
          only = Some(Set("documents", "customer")))
        (suite.filter { case (n, _) => n == "neardup_full" || n == "fuzzy_full" },
          Seq("sf1" -> sf1Dir, "sf10" -> sf10Dir))
      } else if (heavyDecade) {
        // `heavy-decade`: sf1 → sf10 for the three newest heavy pipelines
        // (persisted-index ANN search, pagerank, DSIR) — the decade the
        // dedup families already have
        val sf10Dir = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "/tmp/graft_sf10")
        System.err.println(s"[scalebench] deriving sf10 into $sf10Dir (idempotent)")
        scaleUp(spark, "/root/testdata/sf0.1", sf10Dir, 100,
          only = Some(Set("documents", "embeddings", "lineitem")))
        (heavySuite, Seq("sf1" -> sf1Dir, "sf10" -> sf10Dir))
      } else if (args.contains("r15-decade")) {
        // `r15-decade`: sf1 → sf10 for the round-14 families (IVF
        // self-join retrieval neighbors, semantic decontamination,
        // Bradley–Terry over a 10x comparison log)
        val sf10Dir = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "/tmp/graft_sf10")
        System.err.println(s"[scalebench] deriving sf10 into $sf10Dir (idempotent)")
        scaleUp(spark, "/root/testdata/sf0.1", sf10Dir, 100,
          only = Some(Set("documents", "embeddings")))
        (r15Suite, Seq("sf1" -> sf1Dir, "sf10" -> sf10Dir))
      } else if (args.contains("r14-decade")) {
        // `r14-decade`: sf1 → sf10 for the round-13 heavy families
        // (ROUGE near-dup, WARC ingest, paragraph dedup, perceptual
        // image/audio near-dup)
        val sf10Dir = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "/tmp/graft_sf10")
        System.err.println(s"[scalebench] deriving sf10 into $sf10Dir (idempotent)")
        scaleUp(spark, "/root/testdata/sf0.1", sf10Dir, 100,
          only = Some(Set("documents")))
        (r14Suite, Seq("sf1" -> sf1Dir, "sf10" -> sf10Dir))
      } else
        (suite, Seq(
          "sf0.01" -> "/root/testdata/sf0.01",
          "sf0.1" -> "/root/testdata/sf0.1",
          "sf1" -> sf1Dir))
    // JVM warmup
    spark.read.parquet(s"$sf1Dir/region.parquet").groupBy("r_name").count().count()

    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[String, Double]]
    for ((qname, fn) <- chosenSuite; (sfName, dir) <- dirs) {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val n = fn(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        (dt, n)
      }
      val best = times.map(_._1).min
      results.getOrElseUpdate(qname, scala.collection.mutable.LinkedHashMap.empty)
        .update(sfName, best)
      println(Json.render(Json.obj("query" -> qname, "sf" -> sfName, "sec" -> Json.sec(best), "rows" -> times.head._2)))
    }
    println("SCALE_SUMMARY " + Json.render(results.map { case (q, m) => q -> m.map { case (sf, t) => sf -> Json.sec(t) } }))
    spark.stop()
  }
}
