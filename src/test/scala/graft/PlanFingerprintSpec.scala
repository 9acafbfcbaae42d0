package graft

import graft.plans.PlanAudit
import org.apache.spark.sql.functions._

/** Plan-shape regression guard: the physical-operator fingerprint
  * (shuffles, broadcasts, join strategies, sorts, windows) of the
  * headline queries, pinned. A silently dropped broadcast hint, a new
  * mid-pipeline global sort, or a join strategy flip changes the
  * fingerprint and fails CI — the plan-shape analogue of RecallSpec.
  *
  * Pinned under AQE OFF (the initial plan is the stable artifact; AQE's
  * runtime re-plans are data-dependent by design) on sf0.001 — the
  * fingerprint counts operators, which don't change with scale factor
  * for these queries. When a DELIBERATE plan improvement changes a
  * fingerprint, re-pin it here and say why in the commit. */
class PlanFingerprintSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** query name -> expected operator counts (zero-count keys omitted).
    * The uniform global_sort=1 is each query's root ORDER BY (display /
    * oracle ordering — `info` in PlanAudit, pinned here so a SECOND one
    * appearing mid-pipeline is caught as 2 ≠ 1). */
  private val pinned: Map[String, Map[String, Int]] = Map(
    "q1_agg" -> Map("global_sort" -> 1, "shuffle" -> 2),
    "join_chain" -> Map("broadcast" -> 3, "broadcast_hash_join" -> 3, "global_sort" -> 1, "shuffle" -> 2),
    "e1_feature_pipeline" -> Map("broadcast" -> 4, "broadcast_hash_join" -> 4, "global_sort" -> 1, "shuffle" -> 5),
    "set_analysis" -> Map("local_sort" -> 2, "shuffle" -> 3, "sort_merge_join" -> 1),
    "tfidf_top_terms" -> Map("broadcast" -> 1, "broadcast_hash_join" -> 1, "global_sort" -> 1, "shuffle" -> 5),
    "bm25_top_terms" -> Map("broadcast" -> 2, "broadcast_hash_join" -> 2, "global_sort" -> 1, "shuffle" -> 6),
    "binning_quantile" -> Map("global_sort" -> 1, "shuffle" -> 2),
    "rolling_window" -> Map("global_sort" -> 1, "local_sort" -> 1, "shuffle" -> 2, "window" -> 1),
    "dedup_exact" -> Map("global_sort" -> 1, "shuffle" -> 2),
    "cosine_topk" -> Map("broadcast" -> 1, "broadcast_nested_loop" -> 1, "global_sort" -> 1, "local_sort" -> 2, "shuffle" -> 2, "window" -> 1, "window_group_limit" -> 2),
    "dedup_minhash" -> Map("broadcast" -> 2, "broadcast_hash_join" -> 3, "global_sort" -> 1, "local_sort" -> 2, "shuffle" -> 3, "window" -> 2),
    "dsir_weights" -> Map("broadcast" -> 6, "broadcast_hash_join" -> 4, "broadcast_nested_loop" -> 2, "global_sort" -> 1, "shuffle" -> 8),
    // r13 additions: the WARC parse (pure flatMap — shuffles only for the
    // repartition + root sort), the bounded-heap URL dedup (top-k agg, no
    // window), and the domain mix (broadcast 1-row total, no cartesian
    // against a growing side)
    "warc_read" -> Map("global_sort" -> 1, "shuffle" -> 2),
    "url_dedup_latest" -> Map("global_sort" -> 1, "shuffle" -> 2),
    "domain_mix" -> Map("broadcast" -> 1, "broadcast_nested_loop" -> 1, "global_sort" -> 1, "shuffle" -> 3),
    // r13 quality gates: both rule sets are ONE pure projection (the
    // single shuffle is the root ORDER BY) — a second shuffle appearing
    // means someone broke the no-aggregation contract; the CCNet
    // bucketing's joins against the LM count tables broadcast at this sf
    // (keyed sort-merge at scale), and the band edges join is the one
    // |groups|-row broadcast
    "gopher_rules" -> Map("global_sort" -> 1, "shuffle" -> 1),
    "c4_rules" -> Map("global_sort" -> 1, "shuffle" -> 1),
    // re-pinned r14: the order-5 backoff chain is 9 count joins (was 4
    // at order 3) — all broadcast at this sf, keyed sort-merge at scale.
    // re-pinned r20: +3 shuffles = the conditional spread exchanges of
    // ngramLogProb's harr (reference + docs) before the tokenize+gram
    // kernel (Partitioning.spread — a no-op exchange-free plan on
    // realistically-partitioned inputs; here the single-file fixture
    // triggers it, which is exactly the shape the spread repairs)
    "perplexity_buckets" -> Map("broadcast" -> 13, "broadcast_hash_join" -> 21, "broadcast_nested_loop" -> 2, "global_sort" -> 1, "shuffle" -> 13),
    // r14 additions, the r13 headliners: WARC ingest is a pure
    // record-streaming flatMap (shuffles = repartition + root sort);
    // paragraph dedup is one hash-keyed count join back; UniMax sampling
    // is the broadcast plan join + one λ*-aggregate nested loop; the
    // ROUGE verifier keeps the minhash banding shape (two banding
    // windows + signature-screened candidate joins), the LCS kernel
    // adds no operator
    "warc_ingest_e2e" -> Map("global_sort" -> 1, "shuffle" -> 2),
    "paragraph_dedup" -> Map("broadcast" -> 1, "broadcast_hash_join" -> 1, "global_sort" -> 1, "shuffle" -> 4),
    "unimax_sample" -> Map("broadcast" -> 2, "broadcast_hash_join" -> 1, "broadcast_nested_loop" -> 1, "global_sort" -> 1, "shuffle" -> 4),
    "rouge_dedup_pairs" -> Map("broadcast" -> 2, "broadcast_hash_join" -> 3, "global_sort" -> 1, "local_sort" -> 2, "shuffle" -> 3, "window" -> 2),
    // r14 alignment/retrieval headliners: best-of-N is the bounded-heap
    // aggregate (NO window — a window appearing means the top-k fell off
    // the heap path); the pair construction joins two top-1 aggregates;
    // semantic decontamination is the broadcast-bench nested loop + ONE
    // argmax groupBy; cross-doc neighbors must keep the sort_merge cell
    // join (corpus-as-queries — a broadcast_hash_join replacing it means
    // the corpus got broadcast) with the one keyed probe-ranking window;
    // majority vote = counts groupBy + heap top-1 + totals join
    "best_of_n" -> Map("global_sort" -> 1, "shuffle" -> 2),
    "preference_pairs" -> Map("broadcast" -> 1, "broadcast_hash_join" -> 1, "global_sort" -> 1, "shuffle" -> 3),
    "semantic_decontam" -> Map("broadcast" -> 1, "broadcast_nested_loop" -> 1, "global_sort" -> 1, "local_sort" -> 2, "shuffle" -> 2),
    // re-pinned r20: window 1 -> 0 (nprobe = nlist here, and the
    // exhaustive fast path drops the probe-ranking window every cell
    // survives by construction); shuffle 5 -> 6 (the REPARTITION_BY_NUM
    // pin on the cell join, exempt from AQE coalescing so the exploding
    // scoring stage can't fuse to one partition); broadcast/nested_loop
    // +2 = the LocalQuantizer assignment (broadcast candidates row +
    // NearestCell, the append path's kernel) appearing in both subtrees
    // that read the assigned corpus — at production corpus sizes the
    // fit stays on spark.ml and those two nodes are a prediction
    // projection instead
    "cross_doc_neighbors_exact" -> Map("broadcast" -> 4, "broadcast_hash_join" -> 2, "broadcast_nested_loop" -> 3, "global_sort" -> 1, "local_sort" -> 2, "shuffle" -> 6, "sort_merge_join" -> 1),
    "majority_vote" -> Map("broadcast" -> 1, "broadcast_hash_join" -> 1, "global_sort" -> 1, "shuffle" -> 4),
    // r14 eval additions: GRPO = one group-stats aggregate broadcast
    // back; pass@k = one count aggregate + explode (NO window); the
    // best-of-k curve's two windows are KEYED rank/count per prompt — a
    // third window or a global sort appearing mid-pipeline means the
    // order-statistic rank fell off the keyed path; head-to-head is the
    // one count shuffle + unordered-fold regroup; krippendorff's
    // single-row crossJoins broadcast by construction
    "grpo_advantages" -> Map("broadcast" -> 1, "broadcast_hash_join" -> 1, "global_sort" -> 1, "shuffle" -> 2),
    "pass_at_k" -> Map("global_sort" -> 1, "shuffle" -> 2),
    "best_of_n_curve" -> Map("global_sort" -> 1, "local_sort" -> 1, "shuffle" -> 2, "window" -> 2),
    "head_to_head" -> Map("global_sort" -> 1, "shuffle" -> 3),
    "krippendorff_alpha" -> Map("broadcast" -> 3, "broadcast_hash_join" -> 2, "broadcast_nested_loop" -> 1, "shuffle" -> 6),
    // r15 additions: bradley_terry's pin is the CHECKPOINT guard — the
    // final plan must be the tiny post-checkpoint assembly (one
    // sort_merge join of the strength frame against per-item games +
    // the root sort); a regressed ckpt helper would leak the whole
    // 10-iteration lineage into this plan and explode every count.
    // kendall_tau is the keyed self-join (broadcast at this sf); the
    // lang audit is the STAGED score path (broadcast model map pass +
    // script-profile join) — training is a side effect behind the
    // _STAGED marker, not part of the returned plan
    // r16 re-pin: the games join moved INSIDE the final reliable
    // checkpoint, so the returned plan is just the checkpoint scan +
    // root sort — anything beyond these two nodes means the checkpoint
    // guard regressed and iteration lineage is leaking into the plan
    "bradley_terry" -> Map("global_sort" -> 1, "shuffle" -> 1),
    "kendall_tau" -> Map("broadcast" -> 1, "broadcast_hash_join" -> 1, "global_sort" -> 1, "shuffle" -> 2),
    "lang_classifier_audit" -> Map("broadcast" -> 1, "broadcast_hash_join" -> 2, "global_sort" -> 1, "local_sort" -> 2, "shuffle" -> 4, "sort_merge_join" -> 1),
    // r15 headliners: the multi-turn DPO render keeps the template's ONE
    // keyed window + broadcast prefix/pair joins; the data card is pure
    // aggregate composition (the 18 shuffles are its section aggregates —
    // a window or extra sort appearing means a section fell off the
    // groupBy path); mask-carrying packing must stay the materializePacked
    // shape (one keyed window + one bounded-group shuffle, no extra pass
    // for the mask — it rides the same explode)
    // r16 re-pin: the deterministic pair row key added a row_number
    // window over the pairs frame (tiny by the one-pair-per-conv
    // contract); it appears twice because pairRows feeds both the
    // branch-turn and prefix-turn subtrees, + the template's one keyed
    // running-sum window = 3
    "dpo_render_conversation" -> Map("broadcast" -> 4, "broadcast_hash_join" -> 3, "broadcast_nested_loop" -> 1, "global_sort" -> 1, "local_sort" -> 5, "shuffle" -> 5, "window" -> 3),
    "align_data_card" -> Map("broadcast" -> 6, "broadcast_hash_join" -> 5, "broadcast_nested_loop" -> 2, "global_sort" -> 1, "shuffle" -> 18),
    "packed_loss_masks" -> Map("global_sort" -> 1, "local_sort" -> 1, "shuffle" -> 2, "window" -> 1),
    // r16 headliners (pinned r17): the interleaved VLM materializer keeps
    // the slot-value-generic shape — keyed sort_merge slot joins (both
    // sides corpus-sized at scale: a broadcast_hash_join replacing one
    // means a corpus-sized side got broadcast), ONE keyed window, no
    // global sort beyond the root ORDER BY. The combined masks+spans
    // artifact rides materializePacked's shape (one keyed window + the
    // span rollup window, one bounded-group shuffle — an extra pass for
    // the masks/spans means the zip fell off the single explode). The
    // tokenizer data card is pure aggregate composition: its 8 shuffles
    // are the section aggregates; a window appearing means a section
    // fell off the groupBy path
    "interleaved_loss_masks" -> Map("broadcast" -> 6, "broadcast_hash_join" -> 6, "global_sort" -> 1, "local_sort" -> 15, "shuffle" -> 11, "sort_merge_join" -> 6, "window" -> 1),
    "packed_masks_spans" -> Map("broadcast" -> 1, "broadcast_hash_join" -> 1, "global_sort" -> 1, "local_sort" -> 2, "shuffle" -> 2, "window" -> 2),
    "tokenizer_data_card" -> Map("broadcast" -> 1, "broadcast_hash_join" -> 1, "global_sort" -> 1, "shuffle" -> 8),
    // r17 headliners: each sharded search is nShards=3 independent
    // per-shard plans (per-shard probe ranking window + bounded-heap
    // top-k + broadcast probe frame into the pruned corpus scan)
    // unioned into ONE bounded-heap merge — so the per-shard counts
    // appear ×3 plus the merge's heap (window_group_limit pair) and the
    // root sort. A sort_merge_join appearing means a shard's corpus
    // side got shuffled instead of broadcast-probed; a 4th window set
    // means the merge fell off the heap path onto a rank window. The
    // PQ twin adds the per-shard ADC LUT broadcast + int8 refine join
    // (3 more broadcasts + hash joins per shard). The compacted-index
    // query is the single-index searchIvf shape over the REWRITTEN
    // layout — identical to the uncompacted plan: compaction must move
    // bytes, never the plan
    // re-pinned r20 (exhaustive fast path): these queries run at
    // nprobe = nlist, where every cell survives the probe ranking by
    // construction — ivfQueryProbes' allCells mode drops the per-shard
    // probe-ranking window (+ its crossJoin broadcast and rank sort), so
    // the remaining windows are exactly the per-shard top-k rank + the
    // final merge heap. A window count CLIMBING back toward the old pin
    // means an exhaustive search fell off the fast path.
    // re-pinned (driver-local IVF search): the sharded, compacted and
    // resharded searches are driver-sized, so searchIvf answers them on the
    // driver and each plan is its local relation + the root sort (one
    // LocalTableScan, 1 scan). Their distributed shapes — the pins above
    // and below as they were — stay pinned at local bound 0 in "the
    // distributed IVF search plans keep their shapes at local bound 0"
    "ann_sharded_search_exact" -> Map("global_sort" -> 1, "shuffle" -> 1),
    // r21 re-pin (shuffle 7 → 10): the per-shard ADC LUT is now ONE
    // map-only PqLutArray projection against the codebooks folded into a
    // single broadcast row; the fold's tiny keyed groupBy adds one
    // m·codes-row exchange per shard (3 shards) where the old route's
    // queries×books explode + ObjectHashAggregate + interpreted slot-map
    // densify used to run (a profiled 1.3 s single-task stage per
    // search). shuffle DROPPING back to 7 with a broadcast_nested_loop
    // climbing means the exploded LUT came back.
    "ann_ivfpq_sharded_exact" -> Map("broadcast" -> 7, "broadcast_hash_join" -> 9, "broadcast_nested_loop" -> 3, "global_sort" -> 1, "local_sort" -> 9, "shuffle" -> 10, "window" -> 6, "window_group_limit" -> 9),
    "ann_compacted_search_exact" -> Map("global_sort" -> 1, "shuffle" -> 1),
    // the resharded query is the 2-shard fan-out shape (per-shard counts
    // ×2 + the heap merge + root sort) over the post-reshard layout at
    // bound 0; local relation + root sort here (re-pin above)
    "ann_resharded_search_exact" -> Map("global_sort" -> 1, "shuffle" -> 1))

  /** Scan-count pins for the fanout knife-edge queries: an operator that
    * fans a derived input out N ways re-inlines the derivation into N
    * scans without failing any oracle (fc67664: 38 scans, a silent
    * 3.4s on interleaved_loss_masks). The staged parquet fixture holds
    * the materializer at 9 scans of two tiny inputs; the data card's 10
    * are its section aggregates over the fixture union. */
  private val pinnedScans: Map[String, Int] = Map(
    "interleaved_loss_masks" -> 9,
    "packed_masks_spans" -> 1,
    "tokenizer_data_card" -> 10,
    // per-shard searches scan (centroids + pruned corpus) per shard +
    // the query frame; the PQ twin adds the codebook scan per shard.
    // A jump means a shard's search re-inlined a derived frame
    // (re-pinned with the fingerprints: the driver-local searches scan
    // their local relation once; the distributed counts 9/3/6 are pinned
    // at bound 0)
    "ann_sharded_search_exact" -> 1,
    "ann_ivfpq_sharded_exact" -> 16,
    "ann_compacted_search_exact" -> 1,
    "ann_resharded_search_exact" -> 1)

  private def withAqeOff[T](f: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("headline query fingerprints match the pinned plan shapes") {
    withAqeOff {
      val diffs = pinned.toSeq.sortBy(_._1).flatMap { case (name, want) =>
        val got = PlanAudit.fingerprint(SparkEntry.queries(name)(spark, dir))
        if (got == want) None
        else Some(s"$name:\n  pinned $want\n  actual $got")
      }
      assert(diffs.isEmpty,
        "plan shape changed — if deliberate, re-pin and explain in the commit:\n" +
          diffs.mkString("\n"))
    }
  }

  test("fanout knife-edge queries keep their pinned scan counts") {
    withAqeOff {
      val diffs = pinnedScans.toSeq.sortBy(_._1).flatMap { case (name, want) =>
        val got = PlanAudit.scanCount(SparkEntry.queries(name)(spark, dir))
        if (got == want) None else Some(s"$name: pinned $want scans, actual $got")
      }
      assert(diffs.isEmpty,
        "scan count changed — a fanout re-inlined a derivation (or a " +
          "deliberate restage; re-pin and explain in the commit):\n" +
          diffs.mkString("\n"))
    }
  }

  test("the distributed IVF search plans keep their shapes at local bound 0") {
    // the registry's ann_*_search_exact queries answer on the driver since
    // searchIvf's local route; their distributed plans (the shapes pinned
    // for them before, comments above) stay pinned here, over the same
    // staged indexes and queries, at bound 0
    import graft.similarity.AnnIndex
    withAqeOff {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 5)
      def sharded(idx: String) = AnnIndex.searchIvfShardedImpl(spark, idx, q, "vec_id",
        "embedding", 10, 16, None, 0)
      val plans = Seq(
        ("ann_sharded_search_exact", "ivfsh", sharded _,
          Map("broadcast_hash_join" -> 3, "global_sort" -> 1, "local_sort" -> 6, "shuffle" -> 4, "window" -> 3, "window_group_limit" -> 6), 9),
        ("ann_compacted_search_exact", "ivfcmp",
          (idx: String) => AnnIndex.searchIvfImpl(spark, idx, q, "vec_id", "embedding", 10, 16, None, 0),
          Map("broadcast_hash_join" -> 1, "global_sort" -> 1, "local_sort" -> 2, "shuffle" -> 2, "window" -> 1, "window_group_limit" -> 2), 3),
        ("ann_resharded_search_exact", "ivfrsh", sharded _,
          Map("broadcast_hash_join" -> 2, "global_sort" -> 1, "local_sort" -> 4, "shuffle" -> 3, "window" -> 2, "window_group_limit" -> 4), 6))
      val diffs = plans.flatMap { case (name, kind, search, want, scans) =>
        SparkEntry.queries(name)(spark, dir) // stages the index
        val df = search(graft.queries.LlmQueries.annIndexDir(dir, kind))
          .orderBy(col("query_id"), col("rank"))
        val got = (PlanAudit.fingerprint(df), PlanAudit.scanCount(df))
        if (got == (want, scans)) None else Some(s"$name: pinned ${(want, scans)}, actual $got")
      }
      assert(diffs.isEmpty, diffs.mkString("\n"))
    }
  }

  test("hierarchical retrieval probe ranking keeps its two-level broadcast shape") {
    // retrievalNeighbors with the hierarchy ENGAGED (nlist=256 >= 128,
    // nprobe=8 <= nlist/8): the two-level probe ranking adds a super-fit
    // + keyed windows whose broadcast hints (superDf, centWithSuper) are
    // load-bearing — silently losing one reintroduces the N·nlist
    // centroid scan (or shuffles the corpus against the centroid frame)
    // WITHOUT failing any oracle, because results are unchanged. No
    // registered query runs this configuration (the exact oracle twin
    // pins nprobe=nlist, where the hierarchy deliberately disengages),
    // so the plan is built directly on the planted clustered corpus.
    withAqeOff {
      val corpus = graft.tools.Recall
        .clusteredCorpus(spark, n = 2000L, dims = 8, clusters = 64, noise = 1.0)
        .select(col("vec_id"), col("vec"), (col("vec_id") % 25L).as("doc"))
      val df = graft.similarity.Similarity.retrievalNeighbors(
        corpus, "vec_id", "vec", "doc", k = 5, nlist = 256, nprobe = 8)
      val got = PlanAudit.fingerprint(df)
      // broadcast 3 = superDf (the per-query super ranking nested loop),
      // centWithSuper (the super -> member-centroid hash join), and the
      // probe frame into the scoring join; sort_merge_join 1 = the
      // corpus-sized probe-cell join (corpus-as-queries — this one MUST
      // stay a shuffle join, a broadcast here means the corpus side got
      // broadcast); window 2 = super rank + probe rank, both KEYED by
      // query; window_group_limit 2 = the bounded-heap final top-k
      // re-pinned r20: +1 shuffle = the REPARTITION_BY_NUM pin on the
      // cell join (AQE-coalesce-exempt, keeps the exploding scoring
      // stage parallel); broadcast/nested_loop +2 = the 2000-row test
      // corpus takes the LocalQuantizer fit, whose NearestCell
      // assignment (broadcast candidates row) appears in both subtrees
      // reading the assigned corpus — production-sized fits stay on
      // spark.ml where assignment is a prediction projection
      val want = Map(
        "broadcast" -> 5, "broadcast_hash_join" -> 3,
        "broadcast_nested_loop" -> 3, "sort_merge_join" -> 1,
        "shuffle" -> 5, "local_sort" -> 4,
        "window" -> 2, "window_group_limit" -> 2)
      assert(got === want,
        s"hierarchical retrieval plan shape changed — pinned $want, actual $got")
    }
  }

  test("the fingerprint actually moves when a broadcast hint is dropped") {
    import spark.implicits._
    withAqeOff {
      // force the non-broadcast shape with a threshold of -1 so the same
      // join fingerprints differently without its hint
      val dim = (1 to 50).map(i => (i.toLong, s"d$i")).toDF("k", "name")
      val fact = (1 to 1000).map(i => (i.toLong % 50, i)).toDF("k", "v")
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val hinted = PlanAudit.fingerprint(fact.join(broadcast(dim), "k"))
        val unhinted = PlanAudit.fingerprint(fact.join(dim, "k"))
        assert(hinted.getOrElse("broadcast_hash_join", 0) === 1)
        assert(unhinted.getOrElse("broadcast_hash_join", 0) === 0)
        assert(hinted !== unhinted, "dropping the hint must change the fingerprint")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }
  test("fingerprint refuses to run under AQE instead of returning an empty map") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val df = (1 to 10).map(i => (i % 3, i)).toDF("k", "v").groupBy("k").count()
      val e = intercept[IllegalStateException] { PlanAudit.fingerprint(df) }
      assert(e.getMessage.contains("adaptive"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}

