package graft.tools

import java.nio.file.{Files, Paths}

import graft.dedup.Dedup
import graft.obs.Json
import graft.similarity.Similarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Planted-truth recall harness for the approximate operators the DuckDB
  * oracle cannot hash-match (seeded LSH planes / minhash permutations /
  * k-means init). For each such registered query configuration, this
  * recomputes the EXACT answer by brute force on the same data and
  * reports recall = |approx ∩ exact| / |exact| — the correctness signal
  * `CORRECTNESS_r*.json` can't carry for these ops. Precision needs no
  * measuring: every candidate generator here is verified by the true
  * metric (Jaccard / cosine / Hamming) before emission, so false
  * positives are impossible by construction; recall is the only open
  * question, and this artifact closes it.
  *
  * Usage: runMain graft.tools.Recall [sfDir] [outJson]
  * Writes: one JSON object keyed by query name with recall, the exact
  * and approx pair counts, and the spec's minimum bound.
  */
object Recall {

  /** Minimum query count for any recall row that COMPARES configurations
    * (capped vs uncapped, policy A/B, calibration points): at k=10 over
    * 20 queries the measured swing across quantizer configurations is
    * ±0.1 (r16 — different nlist → entirely different centroid
    * realizations), which can flip a comparison's sign. 50 queries is
    * where rows stabilized; every new calibration/comparison row uses at
    * least this many (the 5-query rows predating the floor are
    * single-config regression pins, where same-config determinism makes
    * small query sets stable). ScaleBench's cap-recall/cap-lift probes
    * share this constant. */
  private[graft] val MinRecallQueries = 50

  private[graft] case class Entry(
      name: String,
      recall: Double,
      exactPairs: Long,
      foundOfExact: Long,
      minBound: Double,
      note: String)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "RECALL.json"
    val spark = graft.Sessions.local(cores = "16")
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, sfDir, out)
    finally spark.stop()
  }

  /** Measure + write the JSON artifact + FAIL (sys.error) on any bound
    * violation. RecallSpec runs [[measure]] in `sbt test`, so a recall
    * regression in LSH / IVF / MinHash / SimHash breaks the build, not
    * just the round artifact. */
  def run(spark: SparkSession, sfDir: String, out: String): Unit = {
    val all = measure(spark, sfDir)
    Files.writeString(Paths.get(out), Json.render(Json.obj(("sf_dir" -> sfDir) +: all.map(e => e.name -> Json.obj(
      "recall" -> Json.fixed(e.recall, 4), "exact_pairs" -> e.exactPairs, "found_of_exact" -> e.foundOfExact,
      "min_bound" -> e.minBound, "note" -> e.note)): _*)))
    all.foreach(e => println(f"${e.name}%-28s recall=${e.recall}%.4f (${e.foundOfExact}/${e.exactPairs}, bound ${e.minBound})"))
    val failed = all.filter(e => e.recall < e.minBound)
    if (failed.nonEmpty)
      sys.error(s"recall below bound: ${failed.map(_.name).mkString(", ")}")
  }

  /** Compute every entry (no IO, no assertion) — the shared core of the
    * artifact writer and RecallSpec. */
  private[graft] def measure(spark: SparkSession, sfDir: String): Seq[Entry] = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

    def pairSet(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
      df.select(col(a).cast("long"), col(b).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    def recallOf(exact: Set[(Long, Long)], approx: Set[(Long, Long)]): Double =
      if (exact.isEmpty) 1.0 else (exact & approx).size.toDouble / exact.size

    // the planted frame the dedup_minhash/dedup_simhash queries use:
    // originals (doc_id < 50) + first-word-mutated copies (+100000)
    val base = docs.filter(col("doc_id") < 50)
    val planted = base.unionByName(
      base.select(
        (col("doc_id") + 100000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+", "graftmutated").as("text"),
        col("lang"), col("source"), col("n_chars")))

    val entries = Seq.newBuilder[Entry]

    // --- ANN top-k vs brute force (query configs from LlmQueries) -------
    val queries5 = emb.filter(col("vec_id") < 5)
    val brute = pairSet(
      Similarity.cosineTopK(emb, queries5, "vec_id", "embedding", "vec_id", 10),
      "query_id", "vec_id")
    val lsh = pairSet(
      Similarity.lshCosineTopK(emb, queries5, "vec_id", "embedding", "vec_id",
        k = 10, tables = 8, bits = 6, probes = 6),
      "query_id", "vec_id")
    entries += Entry("ann_lsh_topk", recallOf(brute, lsh), brute.size,
      (brute & lsh).size, 0.6,
      "top-10 per query vs exact cosine top-10 (multi-probe, Hamming-1)")
    val ivf = pairSet(
      // auto nlist/nprobe — MUST match the registered ann_ivf_topk query
      Similarity.ivfCosineTopK(emb, queries5, "vec_id", "embedding", "vec_id",
        k = 10),
      "query_id", "vec_id")
    entries += Entry("ann_ivf_topk", recallOf(brute, ivf), brute.size,
      (brute & ivf).size, 0.85,
      "top-10 per query vs exact cosine top-10 (r8 auto-nprobe: nlist/3 + 30k pool)")

    // --- prebuilt-index search (AnnIndex) — same configs as the one-shot
    // queries above; recall measured independently through the persisted
    // layout (build into a scratch dir, search, compare to brute force)
    val idxBase = Files.createTempDirectory("graft_recall_ann").toString
    graft.similarity.AnnIndex.buildIvf(emb, "vec_id", "embedding", s"$idxBase/ivf")
    val ivfIdx = pairSet(
      graft.similarity.AnnIndex.searchIvf(
        spark, s"$idxBase/ivf", queries5, "vec_id", "embedding", k = 10),
      "query_id", "vec_id")
    entries += Entry("ann_ivf_search", recallOf(brute, ivfIdx), brute.size,
      (brute & ivfIdx).size, 0.85, "prebuilt IVF index search vs exact cosine top-10")
    graft.similarity.AnnIndex.buildLsh(emb, "vec_id", "embedding", s"$idxBase/lsh",
      tables = 8, bits = 6)
    val lshIdx = pairSet(
      graft.similarity.AnnIndex.searchLsh(
        spark, s"$idxBase/lsh", queries5, "vec_id", "embedding", k = 10, probes = 6),
      "query_id", "vec_id")
    entries += Entry("ann_lsh_search", recallOf(brute, lshIdx), brute.size,
      (brute & lshIdx).size, 0.6, "prebuilt LSH index search vs exact cosine top-10")
    // raw-ADC operating point: codes-only layout + refine = 0, both now
    // explicit opt-ins (the API defaults refine since r13)
    graft.similarity.AnnIndex.buildIvfPq(emb, "vec_id", "embedding", s"$idxBase/pq",
      m = 8, codes = 256, refine = false)
    val pqIdx = pairSet(
      graft.similarity.AnnIndex.searchIvfPq(
        spark, s"$idxBase/pq", queries5, "vec_id", "embedding", k = 10, refine = 0),
      "query_id", "vec_id")
    entries += Entry("ann_ivfpq_search", recallOf(brute, pqIdx), brute.size,
      (brute & pqIdx).size, 0.5,
      "prebuilt IVF-PQ (ADC, no re-rank, explicit opt-in) vs exact cosine top-10 — near-uniform vectors are PQ's hardest case")
    // the DEFAULT path: build + search with no tuning args at all — build
    // stores int8 refine vectors, search auto-re-ranks a 10·k shortlist.
    // This is what a user gets by accident; it must not be the 0.66 one.
    graft.similarity.AnnIndex.buildIvfPq(emb, "vec_id", "embedding",
      s"$idxBase/pqdef")
    val pqDef = pairSet(
      graft.similarity.AnnIndex.searchIvfPq(
        spark, s"$idxBase/pqdef", queries5, "vec_id", "embedding", k = 10),
      "query_id", "vec_id")
    entries += Entry("ann_ivfpq_default", recallOf(brute, pqDef), brute.size,
      (brute & pqDef).size, 0.85,
      "IVF-PQ with ALL defaults (build stores refine vectors, search auto-re-ranks) vs exact cosine top-10")
    // refined variant: same coarse/PQ structure + stored int8 vectors;
    // ADC shortlists 10·k, int8 re-rank repairs the ADC mis-orderings
    graft.similarity.AnnIndex.buildIvfPq(emb, "vec_id", "embedding",
      s"$idxBase/pqr", m = 8, codes = 256, refine = true)
    val pqrIdx = pairSet(
      graft.similarity.AnnIndex.searchIvfPq(
        spark, s"$idxBase/pqr", queries5, "vec_id", "embedding", k = 10,
        refine = 10),
      "query_id", "vec_id")
    entries += Entry("ann_ivfpq_refined", recallOf(brute, pqrIdx), brute.size,
      (brute & pqrIdx).size, 0.85,
      "IVF-PQ + int8 refine re-rank (shortlist 10k) vs exact cosine top-10")

    // --- minhash near-dup vs exhaustive n-gram Jaccard ------------------
    val exactPairs = pairSet(
      Dedup.ngramJaccardPairs(planted, "doc_id", "text", k = 3, minJaccard = 0.5),
      "id_a", "id_b")
    val mh = pairSet(
      Dedup.minhashNearDupPairs(planted, "doc_id", "text", threshold = 0.5),
      "id_a", "id_b")
    entries += Entry("dedup_minhash", recallOf(exactPairs, mh), exactPairs.size,
      (exactPairs & mh).size, 0.9, "exhaustive J>=0.5 pairs on the planted frame")

    // --- cluster survivors: minhash pipeline vs exact-Jaccard clustering
    // (pairs -> connected components -> min-id survivors on both sides;
    // candidate verification makes false pairs impossible, so any gap is
    // a missed pair propagated through clustering)
    val exactLosers = Dedup.nearDupClusters(
        Dedup.ngramJaccardPairs(planted, "doc_id", "text", k = 3, minJaccard = 0.5))
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").cast("long")).collect().map(_.getLong(0)).toSet
    val allIds = planted.select(col("doc_id").cast("long"))
      .collect().map(_.getLong(0)).toSet
    val exactSurvivors = (allIds -- exactLosers).map((_, 0L))
    val approxSurvivors = Dedup.nearDupDedup(planted, "doc_id", "text", threshold = 0.5)
      .select(col("doc_id").cast("long")).collect().map(r => (r.getLong(0), 0L)).toSet
    entries += Entry("dedup_cluster_survivors",
      recallOf(exactSurvivors, approxSurvivors), exactSurvivors.size,
      (exactSurvivors & approxSurvivors).size, 0.95,
      "survivor set vs exact-Jaccard clustering survivors (J>=0.5)")

    // --- incremental minhash: batch x corpus, query config --------------
    val corpus = docs.filter(col("doc_id") < 100).select(col("doc_id"), col("text"))
    val batch = corpus.filter(col("doc_id") < 25)
      .select((col("doc_id") + 200000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+", "graftmutated").as("text"))
      .unionByName(docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
        .select(col("doc_id"), col("text")))
    val batchIds = batch.select(col("doc_id").cast("long"))
      .collect().map(_.getLong(0)).toSet
    // exhaustive cross pairs: corpus id < 100 on one side, batch id on the
    // other (ngramJaccardPairs orders id_a < id_b; corpus ids sort first)
    val exactCross = pairSet(
      Dedup.ngramJaccardPairs(
        corpus.unionByName(batch), "doc_id", "text", k = 3, minJaccard = 0.6),
      "id_a", "id_b")
      .filter { case (a, b) => a < 100 && batchIds(b) }
      .map { case (a, b) => (b, a) } // incremental emits (batch_id, corpus_id)
    val mhInc = pairSet(
      Dedup.minhashNearDupPairsIncremental(batch, corpus, "doc_id", "text",
        threshold = 0.6),
      "doc_id", "corpus_id")
    entries += Entry("dedup_minhash_incremental", recallOf(exactCross, mhInc),
      exactCross.size, (exactCross & mhInc).size, 0.9,
      "exhaustive batch-x-corpus J>=0.6 pairs")

    // --- simhash: pigeonhole-complete, recall must be exactly 1 ---------
    val sigs = planted.select(
      col("doc_id").cast("long").as("id"), Dedup.simhash64(col("text")).as("sig"))
    val exactHam = pairSet(
      sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
        .filter(Dedup.hamming64(col("a.sig"), col("b.sig")) <= 10)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b")),
      "id_a", "id_b")
    val sh = pairSet(
      Dedup.simhashNearDupPairs(planted, "doc_id", "text", maxHamming = 10),
      "id_a", "id_b")
    entries += Entry("dedup_simhash", recallOf(exactHam, sh), exactHam.size,
      (exactHam & sh).size, 1.0, "all O(n^2) pairs at Hamming<=10 (pigeonhole: must be 1.0)")

    // --- embedding near-dup: planted exact clones ----------------------
    val e50 = emb.filter(col("vec_id") < 50).select(col("vec_id"), col("embedding"))
    val plantedVecs = e50.unionByName(
      e50.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val v = plantedVecs.select(
      col("vec_id").cast("long").as("id"),
      col("embedding").cast("array<double>").as("v"))
    val exactCos = pairSet(
      v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          (graft.similarity.Similarity.dot(col("a.v"), col("b.v")) /
            (graft.similarity.Similarity.l2Norm(col("a.v")) *
              graft.similarity.Similarity.l2Norm(col("b.v")))).as("cos"))
        .filter(round(col("cos"), 6) >= 0.999),
      "id_a", "id_b")
    val nd = pairSet(
      Similarity.embeddingNearDupPairs(plantedVecs, "vec_id", "embedding",
        threshold = 0.999),
      "id_a", "id_b")
    entries += Entry("embedding_near_dup", recallOf(exactCos, nd), exactCos.size,
      (exactCos & nd).size, 1.0, "all O(n^2) pairs at cosine>=0.999 (exact clones planted)")

    // --- SemDeDup: within-cell verified pairs vs the same exhaustive
    // cosine truth — planted identical vectors must share a k-means cell,
    // so on this frame recall must be exactly 1
    val sd = pairSet(
      Similarity.semDedupPairs(plantedVecs, "vec_id", "embedding",
        nClusters = 8, threshold = 0.999),
      "id_a", "id_b")
    entries += Entry("semdedup", recallOf(exactCos, sd), exactCos.size,
      (exactCos & sd).size, 1.0,
      "all O(n^2) pairs at cosine>=0.999 found within k-means cells (identical vectors co-cluster)")

    // --- ROUGE-L near-dup: truth = EXHAUSTIVE all-pairs ROUGE-L F >= 0.9
    // (same tokenization + 256-token truncation as the production path)
    // over a planted frame whose twins are ADVERSARIAL to the shingle
    // banding that generates candidates: boilerplate interleaved every 5
    // tokens (each insert breaks 3-gram shingles while LCS keeps every
    // base token — the low-Jaccard/high-ROUGE shape the r13 verdict
    // flagged as unmeasured), every-10th-token dropout (reordering-free
    // subsequence), and end-padded paraphrases (the easy case).
    val rtoks = filter(split(trim(lower(col("text"))), "\\s+"),
      t => length(t) > 0)
    val rbase = docs
      .filter(col("doc_id") < 30 && size(rtoks) >= 40)
      .select(col("doc_id"), col("text"))
    def fromToks(c: Column): Column = concat_ws(" ", c)
    val interleaved = fromToks(flatten(transform(rtoks, (t, i) =>
      when((i + 1) % 5 === 0, array(t, lit("graftboiler"))).otherwise(array(t)))))
    val dropout = fromToks(filter(rtoks, (_, i) => i % 10 =!= 9))
    val padded = concat(col("text"),
      lit(" graftpad0 graftpad1 graftpad2 graftpad3 graftpad4 graftpad5"))
    val rplanted = rbase
      .unionByName(rbase.select((col("doc_id") + 100000).as("doc_id"),
        interleaved.as("text")))
      .unionByName(rbase.select((col("doc_id") + 200000).as("doc_id"),
        dropout.as("text")))
      .unionByName(rbase.select((col("doc_id") + 300000).as("doc_id"),
        padded.as("text")))
    val rsliced = rplanted.select(col("doc_id").cast("long").as("id"),
      slice(rtoks, 1, 256).as("t"))
    val exactRouge = pairSet(
      rsliced.as("a").join(rsliced.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          Dedup.rougeL(col("a.t"), col("b.t")).as("f"))
        .filter(col("f") >= 0.9),
      "id_a", "id_b")
    val rougeDefault = pairSet(
      Dedup.rougeLNearDupPairs(rplanted, "doc_id", "text", threshold = 0.9),
      "id_a", "id_b")
    entries += Entry("rouge_neardup", recallOf(exactRouge, rougeDefault),
      exactRouge.size, (exactRouge & rougeDefault).size, 0.9,
      "exhaustive all-pairs ROUGE-L F>=0.9 on banding-adversarial twins, default banding (16x2)")
    // the documented high-recall operating point for ROUGE workloads:
    // single-row bands collide on ANY shared minhash, catching pairs
    // whose shingle Jaccard the default 2-row bands screen out
    val rougeHr = pairSet(
      Dedup.rougeLNearDupPairs(rplanted, "doc_id", "text", threshold = 0.9,
        bands = 32, rowsPerBand = 1),
      "id_a", "id_b")
    entries += Entry("rouge_neardup_hr", recallOf(exactRouge, rougeHr),
      exactRouge.size, (exactRouge & rougeHr).size, 0.95,
      "same truth, rouge-tuned banding (32 bands x 1 row)")

    // --- RETRO retrieval neighbors: the pruned IVF self-join operating
    // point vs its exact twin (nprobe = nlist — the configuration the
    // cross_doc_neighbors_exact oracle verifies end to end)
    val rnCorpus = emb.select(col("vec_id"), col("embedding"),
      pmod(col("vec_id"), lit(25L)).as("doc"))
    val rnExact = pairSet(
      Similarity.retrievalNeighbors(rnCorpus, "vec_id", "embedding", "doc",
        k = 10, nlist = 16, nprobe = 16),
      "query_id", "vec_id")
    val rnPruned = pairSet(
      Similarity.retrievalNeighbors(rnCorpus, "vec_id", "embedding", "doc",
        k = 10, nlist = 16, nprobe = 6),
      "query_id", "vec_id")
    entries += Entry("retrieval_neighbors", recallOf(rnExact, rnPruned),
      rnExact.size, (rnExact & rnPruned).size, 0.5,
      "all-corpus cross-doc top-10 at nprobe 6/16 vs the exact self-join — near-uniform vectors are IVF's hardest case")

    // --- SCALE-regime auto-nprobe calibration (r15): the testdata
    // embeddings (N <= 2000) only ever exercise the small-corpus branch,
    // so the scale branch (pool-targeted byK + absolute floor) gets its
    // own planted corpus ABOVE the 100k boundary: 120k vectors in 256
    // strongly-overlapping clusters — the distribution shape real
    // embedding corpora have and IVF exists to exploit. Auto resolves to
    // nlist=346, nprobe=8 (the floor; 2.3% of cells, ~2.8k candidates
    // per query vs 40k under the old N/3 rule). Measured r15: 0.986.
    val big = clusteredCorpus(spark, n = 120000L, dims = 32, clusters = 256,
      noise = 1.0)
    val bigQ = big.filter(col("vec_id") < 50)
    val bigBrute = pairSet(
      Similarity.cosineTopK(big, bigQ, "vec_id", "vec", "vec_id", 10),
      "query_id", "vec_id")
    val bigIvf = pairSet(
      Similarity.ivfCosineTopK(big, bigQ, "vec_id", "vec", "vec_id", 10),
      "query_id", "vec_id")
    entries += Entry("ann_ivf_scale_policy", recallOf(bigBrute, bigIvf),
      bigBrute.size, (bigBrute & bigIvf).size, 0.85,
      "auto nlist=346/nprobe=8 at N=120k (SCALE branch: pool-targeted byK, floor 8) on the overlapping 256-cluster planted corpus vs exact top-10")

    // the same policy on a SECOND distribution shape — Zipf-mass
    // clusters (a few huge + a long tail, the web-corpus shape) — so
    // the calibration isn't a fact about one synthetic: heavily
    // unbalanced cells are the case where a fixed probe count could
    // starve queries landing in mega-clusters
    val bigZ = clusteredCorpus(spark, n = 120000L, dims = 32, clusters = 256,
      noise = 1.0, zipfMass = true)
    val bigZQ = bigZ.filter(col("vec_id") < 50)
    val bigZBrute = pairSet(
      Similarity.cosineTopK(bigZ, bigZQ, "vec_id", "vec", "vec_id", 10),
      "query_id", "vec_id")
    val bigZIvf = pairSet(
      Similarity.ivfCosineTopK(bigZ, bigZQ, "vec_id", "vec", "vec_id", 10),
      "query_id", "vec_id")
    entries += Entry("ann_ivf_scale_policy_zipf", recallOf(bigZBrute, bigZIvf),
      bigZBrute.size, (bigZBrute & bigZIvf).size, 0.85,
      "the same auto SCALE point on Zipf-mass clusters (few huge + long tail) vs exact top-10")

    // --- NEAR-UNIFORM recall inside the blend ramp (r16 ADVICE #4): the
    // small rule's >=0.85 guarantee was measured on near-uniform data,
    // but the ramp blends toward the scale rule below 100k — at N=90k
    // auto resolves (nlist=300, nprobe=26: 80% of the way from the small
    // rule's 100 probes down to the scale floor's 8) and nothing
    // measured the pessimal distribution there. One hashed center per
    // row + full-amplitude jitter = near-uniform (no cluster structure
    // for IVF to exploit — its hardest case). MinRecallQueries queries:
    // this row CALIBRATES a policy point, so the ±0.1 20-query swing
    // would make its bound flappy.
    val ru = clusteredCorpus(spark, n = 90000L, dims = 32, clusters = 90000,
      noise = 1.0)
    val ruQ = ru.filter(col("vec_id") < MinRecallQueries)
    val ruBrute = pairSet(
      Similarity.cosineTopK(ru, ruQ, "vec_id", "vec", "vec_id", 10),
      "query_id", "vec_id")
    val ruIvf = pairSet(
      Similarity.ivfCosineTopK(ru, ruQ, "vec_id", "vec", "vec_id", 10),
      "query_id", "vec_id")
    // Measured r17: 0.744 — the blended budget does NOT clear the small
    // rule's 0.85 on near-uniform data (confirming the r16 ADVICE
    // suspicion), and no continuous ramp from 105 probes to 8 can: ~50%
    // of a structureless corpus must be verified for 0.85 there, which
    // is the brute-force-with-extra-steps the scale regime exists to
    // kill. The honest contract, now documented at ivfAutoNprobe: the
    // >=0.85 uniform-data guarantee holds BELOW the ramp (N < 50k);
    // inside it recall on the pessimal shape degrades smoothly toward
    // the scale regime's clustered-data assumption. This row pins the
    // degraded point so the ramp can't silently sink further.
    entries += Entry("ann_ivf_ramp_uniform", recallOf(ruBrute, ruIvf),
      ruBrute.size, (ruBrute & ruIvf).size, 0.65,
      "auto point mid-ramp (N=90k near-uniform: nlist=300, blended nprobe=26) vs exact top-10 — the pessimal no-structure distribution; measured 0.744 r17")

    // --- byK top-up branch of the SCALE policy (r16): both r15 scale
    // points land on the 8-probe FLOOR, leaving the pool-target arm
    // (cells · 240·k / N when a caller provisions cells finer than
    // ~N/300) live but unmeasured. Explicit nlist=4096 on a 200k corpus
    // resolves auto-nprobe to ceil(4096·2400/200000) = 50 probes — the
    // byK arm — and, since 4096 > IvfFlatFitMaxCells, this point also
    // exercises the r16 TWO-LEVEL fit + shuffle-free assignment end to
    // end against exact truth.
    val byk = clusteredCorpus(spark, n = 200000L, dims = 32, clusters = 256,
      noise = 1.0)
    val bykQ = byk.filter(col("vec_id") < 50)
    val bykBrute = pairSet(
      Similarity.cosineTopK(byk, bykQ, "vec_id", "vec", "vec_id", 10),
      "query_id", "vec_id")
    val bykIvf = pairSet(
      Similarity.ivfCosineTopK(byk, bykQ, "vec_id", "vec", "vec_id", 10,
        nlist = 4096),
      "query_id", "vec_id")
    entries += Entry("ann_ivf_scale_byk", recallOf(bykBrute, bykIvf),
      bykBrute.size, (bykBrute & bykIvf).size, 0.85,
      "byK pool-target arm: explicit nlist=4096 at N=200k resolves to 50 probes (not the 8 floor) over the two-level fit, vs exact top-10 on the clustered planted corpus")

    // --- SHARDED index at auto params (r17): sharding drops per-shard N
    // into DIFFERENT auto regimes — a 150k corpus in 3 shards auto-tunes
    // each 50k slice at the blend-ramp START (per-shard nlist=224,
    // nprobe=75: the small rule un-blended), not the 150k scale rule.
    // That is the policy working as designed (each shard really is a
    // 50k corpus), but nothing else pins that the merged sharded search
    // clears the clustered-shape bound, or that the per-shard budgets
    // don't somehow cancel. Reuses the byk corpus truth (first 150k).
    val shCorpus = byk.filter(col("vec_id") < 150000L)
    val shQ = shCorpus.filter(col("vec_id") < MinRecallQueries)
    val shBrute = pairSet(
      Similarity.cosineTopK(shCorpus, shQ, "vec_id", "vec", "vec_id", 10),
      "query_id", "vec_id")
    val shDir = Files.createTempDirectory("graft_recall_annsh").toString
    graft.similarity.AnnIndex.buildIvfSharded(
      shCorpus, "vec_id", "vec", s"$shDir/ivf", nShards = 3)
    val shGot = pairSet(
      graft.similarity.AnnIndex.searchIvfSharded(
        spark, s"$shDir/ivf", shQ, "vec_id", "vec", k = 10),
      "query_id", "vec_id")
    entries += Entry("ann_ivf_sharded_auto", recallOf(shBrute, shGot),
      shBrute.size, (shBrute & shGot).size, 0.85,
      "3-shard IVF at auto params (each 50k slice tunes at the ramp start: nlist=224, nprobe=75) merged vs exact top-10 on the clustered planted corpus")

    // --- SHARDED IVF-PQ at the DEPLOYED config (r17 verdict #2): the
    // setup a user actually serves — sharded PQ, refine ON, auto probes,
    // every knob on its default — had exhaustive-probe EXACTNESS pinned
    // (ann_ivfpq_sharded_exact) but no planted-truth recall bound: the
    // one approximate operating point in the suite without one. Same
    // 150k clustered corpus and exact truth as the sharded IVF row.
    graft.similarity.AnnIndex.buildIvfPqSharded(
      shCorpus, "vec_id", "vec", s"$shDir/pq", nShards = 3)
    val shPqGot = pairSet(
      graft.similarity.AnnIndex.searchIvfPqSharded(
        spark, s"$shDir/pq", shQ, "vec_id", "vec", k = 10),
      "query_id", "vec_id")
    entries += Entry("ann_ivfpq_sharded_auto", recallOf(shBrute, shPqGot),
      shBrute.size, (shBrute & shPqGot).size, 0.85,
      "3-shard IVF-PQ at ALL defaults (per-shard m=8 codebooks, int8 refine re-rank of the auto 10k shortlist, auto probes) merged vs exact top-10 on the clustered planted corpus")

    // --- SHARDED IVF-PQ at the LARGEST shard count the r20 S-sweep
    // calibrates (SCALEBENCH `shard-sweep`): the decade probe gates the
    // 20M point per round, but only at the shapes it runs — this bounds
    // S=16 at CI scale so a per-shard probe-compensation regression at
    // high shard counts breaks the BUILD, not just the round artifact.
    // Same 150k clustered corpus and exact truth as the rows above.
    graft.similarity.AnnIndex.buildIvfPqSharded(
      shCorpus, "vec_id", "vec", s"$shDir/pq16", nShards = 16)
    val shPq16 = pairSet(
      graft.similarity.AnnIndex.searchIvfPqSharded(
        spark, s"$shDir/pq16", shQ, "vec_id", "vec", k = 10),
      "query_id", "vec_id")
    entries += Entry("ann_ivfpq_sharded_auto_s16", recallOf(shBrute, shPq16),
      shBrute.size, (shBrute & shPq16).size, 0.85,
      "16-shard IVF-PQ at ALL defaults (per-shard auto everything, compensated per-shard probes) merged vs exact top-10 on the clustered planted corpus")

    // --- PRODUCTION-WIDTH vectors (r17 verdict #3): every row above
    // runs at dims 16-32; production embeddings are 768-1536, where (a)
    // cluster-overlap geometry differs (distance concentration) and (b)
    // the dims-aware auto-nlist cap branch (CentroidBudgetDoubles/dims)
    // is computed. At dims=768 the cap is 10922 cells — it BINDS only
    // past N≈119M (out of local reach: a 20M×768 corpus is 123 GB; the
    // capped-point PROBE-VOLUME policy is measured at 20M/40M dims-32
    // in SCALEBENCH cap-recall) — so this row pins what IS reachable:
    // the auto policy's recall transfers to production width, and the
    // centroid broadcast stays inside budget. N=60k, auto nlist=245.
    val hd = clusteredCorpus(spark, n = 60000L, dims = 768, clusters = 256,
      noise = 1.0)
    val hdQ = hd.filter(col("vec_id") < MinRecallQueries)
    val hdBrute = pairSet(
      Similarity.cosineTopK(hd, hdQ, "vec_id", "vec", "vec_id", 10),
      "query_id", "vec_id")
    val hdDir = Files.createTempDirectory("graft_recall_annhd").toString
    graft.similarity.AnnIndex.buildIvf(hd, "vec_id", "vec", s"$hdDir/ivf",
      fitSample = 20000)
    val hdCells = spark.read.parquet(s"$hdDir/ivf/centroids.parquet").count()
    require(hdCells * 768 <= Similarity.CentroidBudgetDoubles,
      s"high-dim auto build broke the centroid broadcast budget: " +
        s"$hdCells cells × 768 dims > ${Similarity.CentroidBudgetDoubles}")
    val hdGot = pairSet(
      graft.similarity.AnnIndex.searchIvf(
        spark, s"$hdDir/ivf", hdQ, "vec_id", "vec", k = 10),
      "query_id", "vec_id")
    entries += Entry("ann_ivf_highdim_auto", recallOf(hdBrute, hdGot),
      hdBrute.size, (hdBrute & hdGot).size, 0.85,
      s"dims=768 (production embedding width) at auto params (nlist=$hdCells through the dims-aware cap branch, broadcast ${hdCells * 768 * 8 / 1024} KB <= budget) vs exact top-10 on the clustered planted corpus, N=60k")

    // --- hierarchical probe ranking (r15): retrievalNeighbors routes
    // centroid selection through the two-level quantizer once nlist >=
    // 128 and probes <= nlist/8 — measure what the super-cell pruning
    // costs against the exact cross-doc truth for 50 sampled chunks.
    val rh = clusteredCorpus(spark, n = 24000L, dims = 32, clusters = 256,
      noise = 1.0)
      .select(col("vec_id"), col("vec"), col("vec_id").as("doc"))
    val rhQ = rh.filter(col("vec_id") < 50)
    val rhExact = pairSet(
      Similarity.cosineTopK(rh, rhQ, "vec_id", "vec", "vec_id", 10),
      "query_id", "vec_id")
    val rhApprox = pairSet(
      Similarity.retrievalNeighbors(rh, "vec_id", "vec", "doc",
        k = 10, nlist = 256, nprobe = 8)
        .filter(col("query_id") < 50),
      "query_id", "vec_id")
    entries += Entry("retrieval_neighbors_hierarchical",
      recallOf(rhExact, rhApprox), rhExact.size, (rhExact & rhApprox).size,
      0.85,
      "cross-doc top-10 with two-level centroid selection (nlist=256, nprobe=8, 6 of 16 super-cells ranked) vs exact, 50 sampled chunks on the clustered planted corpus")

    entries.result()
  }

  /** Deterministic clustered synthetic corpus: `clusters` centers with
    * components frac(sin(·)·43758.5453)-hashed into [-1, 1), each row
    * assigned by xxhash64(id) mod clusters and jittered per-component by
    * `noise`·U(-1,1) from the same hash family. Pure Spark expressions —
    * no JVM RNG, identical across runs and partitionings. At `noise` 1.0
    * against unit-cube centers the clusters overlap strongly (jitter
    * norm ≈ 3.3 ≈ the inter-center distance at dims=32) — neighbors
    * routinely cross cell boundaries, which is what makes the IVF
    * calibration entries a real stress test rather than a planted gift
    * (at noise 0.35 every recall measured exactly 1.0). */
  private[graft] def clusteredCorpus(
      spark: SparkSession, n: Long, dims: Int, clusters: Int,
      noise: Double, zipfMass: Boolean = false): DataFrame = {
    def frac(a: Column): Column = {
      val h = sin(a) * lit(43758.5453123)
      h - floor(h)
    }
    def u11(a: Column): Column = frac(a) * lit(2.0) - lit(1.0)
    // equal-mass: uniform hash over cluster ids. Zipf-mass: exponential
    // transform of the same uniform draw — a few huge clusters plus a
    // long tail, the web-corpus shape
    val u = (pmod(xxhash64(col("id")), lit(1000000L)).cast("double") +
      lit(0.5)) / lit(1000000.0)
    val cluster =
      if (zipfMass)
        least(lit((clusters - 1).toLong),
          floor(-log(u) * lit(clusters / 6.0)).cast("long"))
      else pmod(xxhash64(col("id")), lit(clusters.toLong))
    spark.range(n)
      .select(col("id").as("vec_id"), cluster.as("__c"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(dims - 1)), j =>
          u11(col("__c").cast("double") * lit(12.9898) +
            j.cast("double") * lit(78.233)) +
            lit(noise) * u11(col("vec_id").cast("double") * lit(0.1031) +
              j.cast("double") * lit(7.77) + lit(0.5))).as("vec"))
  }
}
