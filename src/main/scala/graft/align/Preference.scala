package graft.align

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Preference / alignment data preparation — the post-curation stage that
  * turns scored or pairwise-compared model responses into training rows
  * for preference optimization and rejection-sampling finetuning:
  *
  *   - [[bestOfN]]: rejection sampling (RFT) — keep the top-n responses
  *     per prompt by reward.
  *   - [[preferencePairs]]: (chosen, rejected) pair construction from
  *     per-response scores, the DPO/reward-model input shape
  *     (Rafailov et al. 2023; Ouyang et al. 2022).
  *   - [[lengthBiasReport]]: the verbosity-bias diagnostic — win rate of
  *     the longer response, bucketed by length gap (reward models
  *     notoriously prefer longer answers; this is the table every
  *     preference dataset ships with).
  *   - [[bradleyTerry]]: Bradley–Terry strength estimation from pairwise
  *     outcomes via fixed-iteration MM updates (Hunter 2004) — the
  *     leaderboard / annotator-agreement shape.
  *   - [[dpoRender]]: render pairs to ChatML chosen/rejected training
  *     texts with exact completion mask offsets, by composing
  *     [[graft.text.Packing.renderChatTemplate]] per branch.
  *
  * Scale shapes: everything keys on the prompt (or the item) — one
  * hash-partitioned aggregation over the responses table; per-prompt
  * response counts are generation-time constants (the N of best-of-N),
  * so per-prompt joins are bounded. Bradley–Terry reduces the comparison
  * log to a per-pair count table in ONE shuffle; iterations then run on
  * the items² frame (leaderboards have tens-to-thousands of items) with
  * broadcast strength joins — 100 TB of comparisons costs one groupBy.
  *
  * No counterpart in the reference (abhirup77/classification-pyspark is
  * a tabular classification pipeline); this is extension surface for the
  * LLM-training-data brief, from published shapes only. */
object Preference {

  /** Top-`n` responses per prompt by `scoreCol` (descending), ties to the
    * lowest `idCol` — rejection-sampling / best-of-N selection. Rides the
    * bounded-heap per-key top-k aggregate, so the exchange carries at
    * most n rows per prompt, never the full sample fan-out.
    * Output: promptCol, rank (1-based), scoreCol, idCol, remaining cols. */
  def bestOfN(
      responses: DataFrame,
      promptCol: String,
      idCol: String,
      scoreCol: String,
      n: Int = 1): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    graft.dp.TopK.topKPerKeyDirectional(
      responses, Seq(promptCol), Seq(scoreCol -> false, idCol -> true), n)
  }

  /** (chosen, rejected) preference pairs from per-response scores.
    *
    * Policies:
    *   - `max-min`: ONE pair per prompt — the best response against the
    *     worst (the standard DPO construction from best-of-N samples).
    *   - `best-vs-rest`: the best response against every other response.
    *   - `all`: every ordered pair with a positive margin.
    *
    * Ties: the winner/loser rank orders by (score, id) — equal-score
    * pairs are NEVER emitted (margin must be > 0 and >= `minMargin`);
    * a prompt with one response emits nothing.
    *
    * Output: promptCol, chosen_id, rejected_id, chosen, rejected,
    * chosen_score, rejected_score, margin. Scale: extrema ride the
    * bounded-heap top-1 aggregate (shuffle = one row per prompt per
    * side); `all`/`best-vs-rest` join back on the prompt key, bounded
    * by the per-prompt sample count N (a generation-time constant). */
  val PairPolicies: Seq[String] = Seq("max-min", "best-vs-rest", "all")
  def preferencePairs(
      responses: DataFrame,
      promptCol: String,
      idCol: String,
      textCol: String,
      scoreCol: String,
      policy: String = "max-min",
      minMargin: Double = 0.0): DataFrame = {
    require(minMargin >= 0, s"minMargin must be >= 0, got $minMargin")
    val base = responses.select(
      col(promptCol), col(idCol), col(textCol), col(scoreCol).cast("double").as(scoreCol))
    def top1(ascending: Boolean, prefix: String): DataFrame =
      graft.dp.TopK.topKPerKeyDirectional(
        base, Seq(promptCol), Seq(scoreCol -> ascending, idCol -> true), 1)
        .select(
          col(promptCol),
          col(idCol).as(s"${prefix}_id"),
          col(textCol).as(prefix),
          col(scoreCol).as(s"${prefix}_score"))
    val chosen = top1(ascending = false, "chosen")
    val finish: DataFrame => DataFrame = paired =>
      paired
        .withColumn("margin", col("chosen_score") - col("rejected_score"))
        .filter(col("margin") > 0 && col("margin") >= minMargin)
        .select(
          col(promptCol), col("chosen_id"), col("rejected_id"),
          col("chosen"), col("rejected"),
          col("chosen_score"), col("rejected_score"), col("margin"))
    policy match {
      case "max-min" =>
        finish(chosen.join(top1(ascending = true, "rejected"), Seq(promptCol)))
      case "best-vs-rest" =>
        finish(chosen.join(
          base.select(
            col(promptCol), col(idCol).as("rejected_id"),
            col(textCol).as("rejected"), col(scoreCol).as("rejected_score")),
          Seq(promptCol))
          .filter(col("rejected_id") =!= col("chosen_id")))
      case "all" =>
        finish(base.select(
          col(promptCol), col(idCol).as("chosen_id"),
          col(textCol).as("chosen"), col(scoreCol).as("chosen_score"))
          .join(base.select(
            col(promptCol), col(idCol).as("rejected_id"),
            col(textCol).as("rejected"), col(scoreCol).as("rejected_score")),
            Seq(promptCol)))
      case other =>
        throw new IllegalArgumentException(
          s"unknown policy '$other' (${PairPolicies.mkString(" | ")})")
    }
  }

  /** Verbosity-bias diagnostic over a preference-pair frame: per
    * length-gap bucket (|chosen chars - rejected chars|, code points) and
    * as an `all` rollup row — pair count, the rate at which the LONGER
    * response is the chosen one (ties count 0.5), and mean lengths per
    * side. A `longer_chosen_rate` far above 0.5 in the wide buckets is
    * the published reward-hacking signal. One aggregation pass. */
  def lengthBiasReport(
      pairs: DataFrame,
      chosenCol: String,
      rejectedCol: String): DataFrame = {
    val lc = length(col(chosenCol)).cast("long")
    val lr = length(col(rejectedCol)).cast("long")
    val diff = abs(lc - lr)
    val bucket = when(diff === 0, "0")
      .when(diff <= 10, "1-10")
      .when(diff <= 50, "11-50")
      .when(diff <= 200, "51-200")
      .otherwise(">200")
    pairs
      .select(bucket.as("len_gap_bucket"), lc.as("__lc"), lr.as("__lr"))
      .rollup(col("len_gap_bucket"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(avg(when(col("__lc") > col("__lr"), 1.0)
          .when(col("__lc") < col("__lr"), 0.0)
          .otherwise(0.5)), 6).as("longer_chosen_rate"),
        round(avg(col("__lc")), 6).as("mean_chosen_chars"),
        round(avg(col("__lr")), 6).as("mean_rejected_chars"))
      .withColumn("len_gap_bucket", coalesce(col("len_gap_bucket"), lit("all")))
  }

  /** KTO unpaired-feedback rows (Ethayarajh et al. 2024: binary
    * thumbs-up/down feedback needs no pairing — each (prompt,
    * completion, desirable?) row trains directly, but the loss weights
    * the two classes so neither side dominates). Emits every input row
    * with a `weight` column balancing the classes to equal total mass:
    * weight = n_total / (2 · n_class) — desirable and undesirable rows
    * then contribute exactly half the mass each regardless of the
    * collection's skew. Rows with a null label are dropped (no signal).
    * Weights are rounded to 6 decimals.
    *
    * Scale shape: class counts are ONE two-row aggregate broadcast back
    * over the corpus — a map pass, no per-row shuffle.
    * Output: input columns + weight. */
  def ktoRows(
      feedback: DataFrame,
      labelCol: String): DataFrame = {
    val labeled = feedback.filter(col(labelCol).isNotNull)
      .withColumn("__lab", col(labelCol).cast("boolean"))
    val counts = labeled.groupBy(col("__lab"))
      .agg(count(lit(1)).as("__nc"))
      .agg(
        coalesce(sum(col("__nc")), lit(0L)).as("__nt"),
        coalesce(sum(when(col("__lab"), col("__nc"))), lit(0L)).as("__nd"),
        coalesce(sum(when(!col("__lab"), col("__nc"))), lit(0L)).as("__nu"))
    labeled.crossJoin(broadcast(counts))
      .withColumn("weight",
        round(col("__nt") /
          (lit(2.0) * when(col("__lab"), col("__nd")).otherwise(col("__nu"))), 6))
      .drop("__lab", "__nt", "__nd", "__nu")
  }

  /** Self-consistency majority voting (Wang et al. 2023: sample N
    * reasoning paths, keep the modal final answer): per prompt, the
    * most frequent answer (ties toward the lexicographically smallest),
    * its vote count, the sample count, and the agreement rate — the
    * synthetic-data filter that keeps only high-agreement prompts.
    *
    * Scale shape: one (prompt, answer) count groupBy, then the modal
    * row rides the bounded-heap top-1 aggregate and sample totals are a
    * second keyed aggregate on the SAME counts frame (already one row
    * per (prompt, answer) — bounded by the sampling fan-out), joined
    * back on the prompt key. Agreement rounded to 6 decimals.
    * Output: promptCol, answer, n_agree, n_samples, agreement. */
  def majorityVote(
      samples: DataFrame,
      promptCol: String,
      answerCol: String): DataFrame = {
    val counts = samples
      .groupBy(col(promptCol), col(answerCol).cast("string").as("answer"))
      .agg(count(lit(1)).as("n_agree"))
    val top = graft.dp.TopK.topKPerKeyDirectional(
      counts, Seq(promptCol), Seq("n_agree" -> false, "answer" -> true), 1)
    val totals = counts.groupBy(col(promptCol))
      .agg(sum(col("n_agree")).as("n_samples"))
    top.join(totals, Seq(promptCol))
      .select(
        col(promptCol), col("answer"), col("n_agree"), col("n_samples"),
        round(col("n_agree") / col("n_samples"), 6).as("agreement"))
  }

  /** Group-relative advantages (the GRPO prep, Shao et al. 2024 /
    * DeepSeek-R1: no value model — each sample's advantage is its reward
    * standardized WITHIN its prompt's sample group):
    * A_i = (r_i − mean_group) / std_group, sample (n−1) standard
    * deviation matching the reference trainers. Degenerate groups
    * (single sample, or identical rewards) get advantage 0 — no signal,
    * not a division blow-up. Mean and std are rounded to 6 decimals
    * BEFORE standardizing and the advantage rounded again (the
    * cross-engine convention).
    *
    * Scale shape: one per-prompt aggregate joined back on the prompt
    * key — group size is the generation-time constant N, the join is a
    * keyed equi-join, no window.
    * Output: input columns + group_mean, group_std, advantage. */
  def groupAdvantages(
      samples: DataFrame,
      promptCol: String,
      rewardCol: String): DataFrame = {
    val stats = samples.groupBy(col(promptCol)).agg(
      round(avg(col(rewardCol).cast("double")), 6).as("group_mean"),
      round(coalesce(stddev_samp(col(rewardCol).cast("double")), lit(0.0)), 6)
        .as("group_std"))
    samples.join(stats, Seq(promptCol))
      .withColumn("advantage",
        when(col("group_std") > 0,
          round((col(rewardCol).cast("double") - col("group_mean")) /
            col("group_std"), 6))
          .otherwise(0.0))
  }

  /** Unbiased best-of-k reward curve (the inference-scaling companion
    * to [[passAtK]], Nakano et al. 2021 appendix: "what reward would
    * picking the best of k random samples achieve?", estimated WITHOUT
    * resampling): with rewards sorted ascending r_(1) ≤ … ≤ r_(n),
    * E[max of k] = Σ_i C(i−1, k−1)/C(n, k) · r_(i), computed through
    * the overflow-free product form w = (k/n) · ∏_{j<k} (i−j)/(n−k+j)
    * (every factor near 1 — no factorials materialize). k = 1 recovers
    * the mean; k = n the maximum. One row per prompt per requested
    * k ≤ n, estimates rounded to 6 decimals; tie order cannot change
    * the sum (equal rewards commute through the weights).
    *
    * Scale shape: one keyed rank window per prompt (group size is the
    * sampling fan-out), a |ks|-wide explode, then ONE weighted-sum
    * aggregate — no resampling, no cross-prompt traffic.
    * Output: promptCol, k, n_samples, expected_max. */
  def bestOfNCurve(
      samples: DataFrame,
      promptCol: String,
      rewardCol: String,
      ks: Seq[Int] = Seq(1, 2, 4, 8, 16)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1) && ks == ks.sorted &&
      ks.distinct == ks,
      s"ks must be distinct, positive, increasing, got $ks")
    val w = Window.partitionBy(col(promptCol)).orderBy(col("__r").asc)
    val ranked = samples
      .select(col(promptCol), col(rewardCol).cast("double").as("__r"))
      .withColumn("__i", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col(promptCol))))
    ranked
      .select(col(promptCol), col("__r"), col("__i"), col("__n"),
        explode(array(ks.map(lit(_)): _*)).as("k"))
      .filter(col("k") <= col("__n") && col("__i") >= col("k"))
      // Spark's sequence(1, 0) DESCENDS instead of being empty, so the
      // k = 1 empty-product case is branched explicitly
      .withColumn("__w",
        (col("k").cast("double") / col("__n")) *
          when(col("k") === 1, lit(1.0)).otherwise(aggregate(
            sequence(lit(1L), col("k").cast("long") - 1),
            lit(1.0),
            (acc, j) => acc * (col("__i") - j).cast("double") /
              (col("__n") - col("k") + j))))
      .groupBy(col(promptCol), col("k"))
      .agg(
        max(col("__n")).as("n_samples"),
        round(sum(col("__w") * col("__r")), 6).as("expected_max"))
  }

  /** Mergeable best-of-N state: [[bestOfN]] without the rank column —
    * the per-prompt top-n rows as a state table. Top-k is an order
    * statistic, so merging two states through [[mergeBestOfN]] with the
    * SAME (orderings, n) equals recomputing from all underlying rows:
    * topN(topN(A) ∪ B) = topN(A ∪ B). The streaming twin
    * ([[graft.streaming.Streaming.maintainBestOfN]]) folds each
    * micro-batch through this pair. */
  def bestOfNState(
      responses: DataFrame,
      promptCol: String,
      idCol: String,
      scoreCol: String,
      n: Int): DataFrame =
    bestOfN(responses, promptCol, idCol, scoreCol, n).drop("rank")

  /** Merge two [[bestOfNState]] tables (state ∪ batch → top-n per
    * prompt). Cost: O(|state| + |batch|), never the history. */
  def mergeBestOfN(
      state: DataFrame,
      batch: DataFrame,
      promptCol: String,
      idCol: String,
      scoreCol: String,
      n: Int): DataFrame =
    graft.dp.TopK.topKPerKeyDirectional(
      state.unionByName(batch), Seq(promptCol),
      Seq(scoreCol -> false, idCol -> true), n)
      .drop("rank")

  /** Kendall's τ-b rank correlation per prompt between two scorings of
    * the same samples (the ranking-agreement eval beside
    * [[rewardModelReport]]'s pairwise accuracy — e.g. reward-model
    * scores vs human ratings): over all sample pairs within a prompt,
    * τ_b = (C − D) / √((n₀ − t_x)(n₀ − t_y)) with concordant C,
    * discordant D, n₀ = n(n−1)/2, and t_x/t_y the pairs tied in each
    * scoring (the tie-corrected form; τ_b null when either scoring is
    * constant). Rounded to 6 decimals.
    *
    * Scale shape: ONE self-join keyed by the prompt — the pair fan-out
    * is n(n−1)/2 per prompt with n the generation-time sampling
    * constant, never cross-prompt — and one count aggregate.
    * Output: promptCol, n_samples, concordant, discordant, tau_b. */
  def kendallTau(
      samples: DataFrame,
      promptCol: String,
      idCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val base = samples.select(
      col(promptCol), col(idCol).as("__id"),
      col(xCol).cast("double").as("__x"), col(yCol).cast("double").as("__y"))
    val pairs = base
      .join(base.select(col(promptCol), col("__id").as("__id2"),
        col("__x").as("__x2"), col("__y").as("__y2")), Seq(promptCol))
      .filter(col("__id") < col("__id2"))
    val dx = col("__x") - col("__x2")
    val dy = col("__y") - col("__y2")
    val counts = pairs.groupBy(col(promptCol)).agg(
      count(lit(1)).as("__n0"),
      sum(when(dx * dy > 0, 1L).otherwise(0L)).as("concordant"),
      sum(when(dx * dy < 0, 1L).otherwise(0L)).as("discordant"),
      sum(when(dx === 0, 1L).otherwise(0L)).as("__tx"),
      sum(when(dy === 0, 1L).otherwise(0L)).as("__ty"))
    val nFromPairs = // n0 = n(n-1)/2 -> n = (1 + sqrt(1 + 8 n0)) / 2
      round((lit(1.0) + sqrt(lit(1.0) + lit(8.0) * col("__n0"))) / 2.0, 0)
        .cast("long")
    counts.select(
      col(promptCol),
      nFromPairs.as("n_samples"),
      col("concordant"), col("discordant"),
      when((col("__n0") > col("__tx")) && (col("__n0") > col("__ty")),
        round((col("concordant") - col("discordant")).cast("double") /
          sqrt((col("__n0") - col("__tx")).cast("double") *
            (col("__n0") - col("__ty"))), 6))
        .as("tau_b"))
  }

  /** Unbiased pass@k over graded samples (Chen et al. 2021, the Codex
    * estimator — the headline metric for verifiable-rewards data:
    * "would at least one of k random samples pass?"): per prompt with
    * n samples and c correct, pass@k = 1 − C(n−c, k)/C(n, k), computed
    * as the stable product ∏_{i<k} (n−c−i)/(n−i) — never the naive
    * 1 − (1 − c/n)^k, which is biased. One row per prompt per requested
    * k ≤ n (a k above the prompt's sample count has no estimate and is
    * omitted rather than extrapolated). Estimates rounded to 6 decimals.
    *
    * Scale shape: ONE count aggregate per prompt, then a |ks|-wide
    * explode of the |prompts|-row frame — the per-row product is O(k)
    * arithmetic on two counters, no second pass over the samples.
    * Output: promptCol, k, n_samples, n_correct, pass_at_k. */
  def passAtK(
      samples: DataFrame,
      promptCol: String,
      correctCol: String,
      ks: Seq[Int] = Seq(1, 10, 100)): DataFrame =
    passAtKFromCounts(
      samples.groupBy(col(promptCol)).agg(
        count(lit(1)).as("n_samples"),
        sum(when(col(correctCol).cast("boolean"), 1L).otherwise(0L))
          .as("n_correct")),
      promptCol, ks)

  /** [[passAtK]] over a maintained count STATE instead of raw samples —
    * the streaming twin: pair with
    * [[graft.streaming.Streaming.maintainGradedSamples]], whose state
    * directory holds (key, n, sum_v = correct count) per prompt in the
    * library's standard mergeable n/sum shape. Grading a stream keeps
    * pass@k current per micro-batch without ever rescanning samples. */
  def passAtKFromState(
      state: DataFrame,
      keyCol: String,
      ks: Seq[Int] = Seq(1, 10, 100)): DataFrame =
    passAtKFromCounts(
      state.select(col(keyCol), col("n").as("n_samples"),
        col("sum_v").cast("long").as("n_correct")),
      keyCol, ks)

  private def passAtKFromCounts(
      counts: DataFrame,
      promptCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1) && ks == ks.sorted &&
      ks.distinct == ks,
      s"ks must be distinct, positive, increasing, got $ks")
    counts
      .select(col(promptCol), col("n_samples"), col("n_correct"),
        explode(array(ks.map(lit(_)): _*)).as("k"))
      .filter(col("k") <= col("n_samples"))
      .withColumn("pass_at_k", round(
        when(col("n_correct") === 0, 0.0)
          .when(col("n_samples") - col("n_correct") < col("k"), 1.0)
          .otherwise(lit(1.0) - aggregate(
            sequence(lit(0L), col("k").cast("long") - 1),
            lit(1.0),
            (acc, i) => acc *
              (col("n_samples") - col("n_correct") - i).cast("double") /
              (col("n_samples") - i))), 6))
  }

  /** Reward-model evaluation over human preference pairs: given the
    * model's scores for the human-chosen and human-rejected sides,
    * pairwise ranking accuracy (agree = model scores chosen higher;
    * exact ties count 0.5) bucketed by the model's confidence
    * |margin| = |score_chosen − score_rejected|, plus the `all` rollup
    * row. Accuracy rising with the margin bucket is the calibration
    * signal a reward model ships with; flat-or-falling accuracy in the
    * wide buckets is the miscalibration tell. `bucketEdges` must be
    * strictly increasing; bucket labels render the edges verbatim.
    * One aggregation pass (the [[lengthBiasReport]] shape).
    * Output: margin_bucket, n_pairs, accuracy, mean_margin. */
  def rewardModelReport(
      pairs: DataFrame,
      chosenScoreCol: String,
      rejectedScoreCol: String,
      bucketEdges: Seq[Double] = Seq(0.5, 1.0, 2.0, 5.0)): DataFrame = {
    require(bucketEdges.nonEmpty && bucketEdges == bucketEdges.sorted &&
      bucketEdges.distinct == bucketEdges && bucketEdges.head > 0,
      s"bucketEdges must be strictly increasing and positive, got $bucketEdges")
    val margin = col(chosenScoreCol).cast("double") -
      col(rejectedScoreCol).cast("double")
    val conf = abs(margin)
    val bucket = bucketEdges.tail.zip(bucketEdges.init)
      .foldLeft(when(conf <= bucketEdges.head, s"<=${bucketEdges.head}")) {
        case (acc, (hi, lo)) => acc.when(conf <= hi, s"$lo-$hi")
      }
      .otherwise(s">${bucketEdges.last}")
    pairs
      .select(bucket.as("margin_bucket"), margin.as("__m"))
      .rollup(col("margin_bucket"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(avg(when(col("__m") > 0, 1.0)
          .when(col("__m") < 0, 0.0)
          .otherwise(0.5)), 6).as("accuracy"),
        round(avg(col("__m")), 6).as("mean_margin"))
      .withColumn("margin_bucket", coalesce(col("margin_bucket"), lit("all")))
  }

  /** Head-to-head win-rate table from a pairwise-outcome log — the
    * arena matrix beside [[bradleyTerry]]: one row per UNORDERED pair
    * (item_a < item_b lexicographically by string form), with item_a's
    * wins, the game count, the win rate, and the Wilson score interval
    * at z = 1.96 (the standard leaderboard error bar — unlike the
    * normal approximation it stays inside [0, 1] and behaves at small
    * counts). Rates and bounds rounded to 6 decimals.
    *
    * Scale shape: the log collapses to per-ordered-pair counts in ONE
    * shuffle; the unordered fold and Wilson arithmetic are projections
    * of the items²-bounded count table.
    * Output: item_a, item_b, wins_a, n_games, win_rate_a, wilson_low,
    * wilson_high. */
  def headToHead(
      outcomes: DataFrame,
      winnerCol: String,
      loserCol: String,
      z: Double = 1.96): DataFrame = {
    require(z > 0, s"z must be > 0, got $z")
    val directed = outcomes
      .select(col(winnerCol).cast("string").as("__w"),
        col(loserCol).cast("string").as("__l"))
      .groupBy(col("__w"), col("__l"))
      .agg(count(lit(1)).as("__c"))
    val folded = directed
      .select(
        least(col("__w"), col("__l")).as("item_a"),
        greatest(col("__w"), col("__l")).as("item_b"),
        when(col("__w") <= col("__l"), col("__c")).otherwise(0L).as("__wa"),
        col("__c").as("__n"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(sum(col("__wa")).as("wins_a"), sum(col("__n")).as("n_games"))
    val p = col("wins_a").cast("double") / col("n_games")
    val n = col("n_games").cast("double")
    val z2 = lit(z * z)
    val center = p + z2 / (lit(2.0) * n)
    val spread = lit(z) * sqrt((p * (lit(1.0) - p) + z2 / (lit(4.0) * n)) / n)
    val denom = lit(1.0) + z2 / n
    folded.select(
      col("item_a"), col("item_b"), col("wins_a"), col("n_games"),
      round(p, 6).as("win_rate_a"),
      round((center - spread) / denom, 6).as("wilson_low"),
      round((center + spread) / denom, 6).as("wilson_high"))
  }

  /** Bradley–Terry strengths from a pairwise-outcome log (one row per
    * comparison: winner, loser) via `iterations` MM updates
    * (Hunter 2004): p_i ← W_i / Σ_j n_ij / (p_i + p_j), renormalized to
    * mean 1 each step. Items that never win converge to strength 0 (the
    * MLE boundary); guards keep the arithmetic total. Strengths are
    * rounded to 6 decimals on output only — the MM map is a contraction,
    * so summation-order ulp noise stays ~1e-14 across iterations and an
    * oracle replaying the same unrolled arithmetic lands on the same
    * 6-decimal value (the PageRank-oracle precedent).
    *
    * Scale shape: the comparison log collapses to per-pair game counts
    * and per-item win totals in ONE shuffle each; every iteration then
    * joins the items²-bounded pair table against the broadcast strength
    * frame (leaderboards have tens-to-thousands of items) and
    * checkpoints the tiny result to keep lineage flat — the PageRank
    * treatment at a fraction of the state. When the SparkContext has a
    * reliable checkpoint directory (graft sessions always do),
    * iterations checkpoint THERE — cluster-durable, and no
    * truncated-local-lineage warnings at cleanup; `localCheckpoint` is
    * only the no-dir fallback (same contract as
    * [[graft.dedup.Dedup.nearDupClusters]]).
    * Output: item, strength, n_wins, n_games. */
  def bradleyTerry(
      outcomes: DataFrame,
      winnerCol: String,
      loserCol: String,
      iterations: Int = 10): DataFrame =
    bradleyTerryImpl(outcomes, winnerCol, loserCol, iterations,
      LocalBtMaxDirectedPairs)

  /** Directed-pair bound for the driver-local MM fast path (r21, the
    * [[graft.similarity.Similarity]] LocalQuantizer precedent): when the
    * per-(winner, loser) aggregate — items²-bounded, NOT the comparison
    * log — provably fits under this many rows, the MM iterations run as
    * plain driver arithmetic instead of `iterations` rounds of
    * broadcast + join + global-window Spark jobs on a frame of a few
    * hundred bytes. The gate is a data-size bound probed with a bounded
    * collect (limit n+1), independent of core count; larger leaderboards
    * fall through to the distributed loop unchanged. 32768 directed
    * pairs ≈ a dense 180-item arena — far above any leaderboard the
    * operator's contract describes, ~1 MB collected worst-case. */
  private[graft] val LocalBtMaxDirectedPairs: Int = 32768

  private[graft] def bradleyTerryImpl(
      outcomes: DataFrame,
      winnerCol: String,
      loserCol: String,
      iterations: Int,
      localMaxPairs: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in [1, 100], got $iterations")
    val spark = outcomes.sparkSession
    // localCheckpoint alone does NOT reset size estimates: the LogicalRDD
    // carries the origin plan's stats, and the MM update references p on
    // BOTH sides of the pair join (plus the renormalization total), so the
    // estimated sizeInBytes DOUBLES its digit count every iteration —
    // by ~25 iterations the optimizer sits in million-digit BigInteger
    // multiplies inside stats estimation. Rebuilding the frame over the
    // checkpointed RDD drops the carried stats back to the flat default.
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    def ckpt(df: DataFrame): DataFrame = {
      val out =
        if (reliable) {
          // persist so the checkpoint write reads the cache instead of
          // re-running the iteration's joins; files are reclaimed by
          // spark.cleaner.referenceTracking.cleanCheckpoints once the
          // frame is unreachable (graft.Sessions sets it)
          val cached = df.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val cp = cached.checkpoint()
          cached.unpersist()
          cp
        } else df.localCheckpoint()
      spark.createDataFrame(out.rdd, out.schema)
    }
    // Checkpoint CADENCE (r15 finding: a reliable checkpoint per
    // iteration — 13 disk write+read-backs per call — tripled the
    // query's cost). Between reliable checkpoints, `stage` is enough:
    // persist the iterate and rebuild it as a LogicalRDD so the
    // optimizer sees a flat leaf with default stats (killing both the
    // plan-size blowup and the BigInteger stats explosion), while the
    // cache makes the frame's RDD a memory read for the next
    // iteration's three references. Lineage growth between reliable
    // checkpoints is bounded by the 3-iteration window; every cache is
    // freed once the final reliable checkpoint has materialized the
    // result, so nothing leaks past the call.
    val staged = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def stage(df: DataFrame): DataFrame = {
      val cached = df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      staged += cached
      spark.createDataFrame(cached.rdd, cached.schema)
    }
    val directed = stage(outcomes
      .groupBy(col(winnerCol).as("__w"), col(loserCol).as("__l"))
      .agg(count(lit(1)).as("__c")))
    // Bounded probe (limit n+1 — never collects more than the gate):
    // when the ENTIRE directed-pair aggregate fits under the local
    // bound, every remaining frame in this function is items-bounded
    // driver-sized data and the iterations run as local arithmetic —
    // zero Spark jobs beyond the one groupBy above. The staged cache
    // makes the probe's scan reusable if the gate fails.
    val probe = graft.LocalGate.probe(directed, localMaxPairs)
    if (probe.isDefined) {
      val out = localBradleyTerry(spark, directed, probe.get, iterations)
      staged.foreach(_.unpersist(false))
      return out
    }
    val pairGames = stage(directed
      .select(col("__w").as("__i"), col("__l").as("__j"), col("__c"))
      .unionByName(directed.select(col("__l").as("__i"), col("__w").as("__j"), col("__c")))
      .groupBy(col("__i"), col("__j"))
      .agg(sum(col("__c")).as("__n")))
    val wins = directed.groupBy(col("__w").as("__i")).agg(sum(col("__c")).as("__wins"))
    val games = stage(pairGames.groupBy(col("__i")).agg(sum(col("__n")).as("__games")))
    var p = stage(pairGames.select(col("__i")).distinct()
      .join(wins, Seq("__i"), "left")
      .na.fill(0L, Seq("__wins"))
      .select(col("__i"), lit(1.0).as("__p"), col("__wins")))
    // the renormalization total rides an UNPARTITIONED window over the
    // items-bounded raw frame (one single-partition exchange inside the
    // same query) instead of a separate agg + broadcast crossJoin — at
    // leaderboard scale every extra broadcast is a whole Spark job, and
    // the job count per iteration is what the query's cost actually is
    val whole = Window.partitionBy()
    // Broadcast contract for the loop below: every broadcast side (p,
    // den, games) is ONE ROW PER ITEM — items-bounded by construction,
    // the operator's declared domain being leaderboards/arenas of
    // tens-to-thousands of items (scaladoc above). Even the distributed
    // fallback's item set is bounded by the directed-pair table the
    // gate just probed: items ≤ 2·pairs rows of (id, double, long) —
    // megabytes at the scale where this path engages, never
    // driver-threatening. A corpus-keyed frame must NOT be routed
    // through this operator.
    for (it <- 1 to iterations) {
      // ONE broadcast exchange per iteration: both sides of the pair
      // join build from the identical broadcast plan (alias only), so
      // physical exchange reuse collapses them into a single job
      val pb = broadcast(p.select(col("__i").as("__pk"), col("__p").as("__pv")))
      val den = pairGames
        .join(pb.as("pa"), col("__i") === col("pa.__pk"))
        .join(pb.as("pb"), col("__j") === col("pb.__pk"))
        .groupBy(col("__i"))
        .agg(sum(when(col("pa.__pv") + col("pb.__pv") > 0,
          col("__n") / (col("pa.__pv") + col("pb.__pv"))).otherwise(0.0)).as("__den"))
      // den is items-bounded (one row per item) — broadcast it so the
      // left join plans map-side against p's flat LogicalRDD instead of
      // exchanging BOTH sides by __i (r20: two fewer AQE stage jobs per
      // iteration; AQE would convert the join at runtime anyway, but
      // only after planning and materializing the exchanges)
      val raw = p.drop("__p")
        .join(broadcast(den), Seq("__i"), "left")
        .select(col("__i"), col("__wins"),
          when(col("__den") > 0, col("__wins").cast("double") / col("__den"))
            .otherwise(0.0).as("__praw"))
      val next = raw
        .withColumn("__sum", sum(col("__praw")).over(whole))
        .withColumn("__cnt", count(lit(1)).over(whole).cast("double"))
        .select(col("__i"),
          when(col("__sum") > 0, col("__praw") * col("__cnt") / col("__sum"))
            .otherwise(0.0).as("__p"),
          col("__wins"))
      // durable lineage truncation every 3rd iteration only; the staged
      // cache keeps the in-between iterations cheap
      p = if (it % 3 == 0) ckpt(next) else stage(next)
    }
    val out = ckpt(p.join(broadcast(games), Seq("__i"), "left")
      .select(
        col("__i").as("item"),
        round(col("__p"), 6).as("strength"),
        col("__wins").as("n_wins"),
        coalesce(col("__games"), lit(0L)).as("n_games")))
    // the final reliable checkpoint above materialized the whole chain;
    // every staged cache is now dead weight — free them (non-blocking)
    staged.foreach(_.unpersist(false))
    out
  }

  /** The MM iterations of [[bradleyTerry]] as plain driver arithmetic
    * over the collected directed-pair aggregate — the identical
    * per-iteration formulas (Hunter 2004 MM update, mean-1
    * renormalization, the same zero guards), so the result lands on the
    * same 6-decimal values the distributed loop and the oracle's
    * unrolled replay produce: the MM map is a contraction, so
    * summation-order ulp noise stays ~1e-14 (the [[bradleyTerry]]
    * scaladoc contract) and the output rounding absorbs it. Rounding is
    * the exact arithmetic Spark's `round(col, 6)` runs on doubles
    * (BigDecimal of the shortest decimal representation, HALF_UP). */
  private def localBradleyTerry(
      spark: org.apache.spark.sql.SparkSession,
      directed: DataFrame,
      directedRows: Array[org.apache.spark.sql.Row],
      iterations: Int): DataFrame = {
    import scala.collection.mutable
    // symmetric per-pair game counts; LinkedHashMaps pin a deterministic
    // (collect-order) summation order
    val pair = mutable.LinkedHashMap.empty[Any, mutable.LinkedHashMap[Any, Long]]
    def add(i: Any, j: Any, c: Long): Unit = {
      val m = pair.getOrElseUpdate(i, mutable.LinkedHashMap.empty[Any, Long])
      m.update(j, m.getOrElse(j, 0L) + c)
    }
    val winTotals = mutable.HashMap.empty[Any, Long]
    directedRows.foreach { r =>
      val w = r.get(0); val l = r.get(1); val c = r.getLong(2)
      add(w, l, c); add(l, w, c)
      winTotals.update(w, winTotals.getOrElse(w, 0L) + c)
    }
    val items = pair.keys.toArray
    val idx = items.zipWithIndex.toMap
    val games = items.map(i => pair(i).valuesIterator.sum)
    val wins = items.map(i => winTotals.getOrElse(i, 0L))
    var p = Array.fill(items.length)(1.0)
    for (_ <- 1 to iterations) {
      val praw = new Array[Double](items.length)
      var k = 0
      while (k < items.length) {
        var den = 0.0
        pair(items(k)).foreach { case (j, n) =>
          val s = p(k) + p(idx(j))
          if (s > 0) den += n.toDouble / s
        }
        praw(k) = if (den > 0) wins(k).toDouble / den else 0.0
        k += 1
      }
      val s = praw.sum
      val c = items.length.toDouble
      p = praw.map(x => if (s > 0) x * c / s else 0.0)
    }
    def r6(x: Double): Double =
      scala.math.BigDecimal(x)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows: Seq[org.apache.spark.sql.Row] = items.indices.map { k =>
      org.apache.spark.sql.Row(items(k), r6(p(k)), wins(k), games(k))
    }
    // the distributed path's output schema: item from the winner ∪ loser
    // union (its nullability and metadata), strength nullable (the
    // renormalizing division), the count columns coalesced non-null
    val itemField = directed.select(col("__w").as("item"))
      .unionByName(directed.select(col("__l").as("item"))).schema("item")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      itemField,
      org.apache.spark.sql.types.StructField("strength",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("n_wins",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_games",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  /** The alignment release data card — one tall table rolling up what a
    * preference-data release ships with (the [[graft.text.TextAnalysis
    * corpusDataCard]] precedent for the alignment lane): pair volume
    * and margin distribution over the preference pairs, the
    * [[lengthBiasReport]] verbosity diagnostic, inter-rater agreement
    * ([[Agreement.fleissKappa]] + [[Agreement.krippendorffAlpha]] over
    * the variable-n rating log), and the per-task eval summary with
    * micro/macro rollups ([[graft.eval.Metrics.evalSummary]]).
    *
    * Output: `(section, key, n, value)` — section ∈ pairs |
    * length_bias | agreement | eval; `n` is the row count backing the
    * stat, `value` the stat itself (counts repeat as doubles so every
    * row is self-contained). Margin percentiles use exact interpolated
    * percentiles (the library's cross-engine quantile unit).
    *
    * Scale shape: pure composition of shipped operators — one
    * aggregation pass over the pairs, the length-bias rollup, two
    * agreement statistics (keyed groupBys + single-row broadcast
    * crossJoins), one eval groupBy. Nothing here sees more than one
    * shuffle over any input. */
  def alignmentDataCard(
      pairs: DataFrame,
      promptCol: String,
      chosenCol: String,
      rejectedCol: String,
      marginCol: String,
      ratings: DataFrame,
      itemCol: String,
      labelCol: String,
      evalResults: DataFrame,
      taskCol: String,
      correctCol: String): DataFrame = {
    def row(section: String, key: Column, n: Column, value: Column) =
      struct(lit(section).as("section"), key.cast("string").as("key"),
        n.cast("long").as("n"), value.cast("double").as("value"))
    val pairStats = pairs
      .agg(
        count(lit(1)).as("__n"),
        countDistinct(col(promptCol)).as("__np"),
        round(avg(col(marginCol)), 6).as("__mean"),
        // one percentile buffer queried at both probes (r21, guide §2.3)
        // — same inserts as two scalar calls, identical exact answers
        percentile(col(marginCol), array(lit(0.5), lit(0.9))).as("__p"))
      .select(explode(array(
        row("pairs", lit("n_pairs"), col("__n"), col("__n")),
        row("pairs", lit("n_prompts"), col("__np"), col("__np")),
        row("pairs", lit("margin_mean"), col("__n"), col("__mean")),
        row("pairs", lit("margin_p50"), col("__n"),
          round(element_at(col("__p"), 1), 6)),
        row("pairs", lit("margin_p90"), col("__n"),
          round(element_at(col("__p"), 2), 6)))).as("r"))
      .select(col("r.*"))
    val lengthBias = lengthBiasReport(pairs, chosenCol, rejectedCol)
      .select(row("length_bias", col("len_gap_bucket"), col("n_pairs"),
        col("longer_chosen_rate")).as("r"))
      .select(col("r.*"))
    val agreement = Agreement.fleissKappa(ratings, itemCol, labelCol)
      .select(row("agreement", lit("fleiss_kappa"), col("n_items"),
        col("kappa")).as("r"))
      .select(col("r.*"))
      .unionByName(Agreement.krippendorffAlpha(ratings, itemCol, labelCol)
        .select(row("agreement", lit("krippendorff_alpha"), col("n_items"),
          col("alpha")).as("r"))
        .select(col("r.*")))
    val eval = graft.eval.Metrics.evalSummary(evalResults, taskCol, correctCol)
      .select(row("eval", col("task"), col("n"), col("accuracy")).as("r"))
      .select(col("r.*"))
    pairStats.unionByName(lengthBias).unionByName(agreement).unionByName(eval)
  }

  /** Render preference pairs to DPO training rows: both branches pass
    * through [[graft.text.Packing.renderChatTemplate]] (user prompt +
    * assistant response), so the chosen/rejected texts carry the SAME
    * ChatML shape and completion-mask conventions as the SFT lane —
    * mask offsets cover the assistant content + end marker, code-point
    * units, leading content whitespace normalized identically.
    * Output: pairIdCol, chosen_text, chosen_mask_start, chosen_mask_end,
    * rejected_text, rejected_mask_start, rejected_mask_end.
    *
    * `pairIdCol` MUST identify exactly one pair: a pairs table keyed by
    * prompt_id under a multi-pair policy ('best-vs-rest', 'all') would
    * otherwise collapse pairs whose chosen/rejected texts come from
    * DIFFERENT rows. Enforced in-plan — a duplicate pair id raises at
    * execution time rather than silently merging.
    * Scale: a 2-row explode per pair, the template's one keyed
    * running-sum window, one regroup keyed by the pair id. */
  def dpoRender(
      pairs: DataFrame,
      pairIdCol: String,
      promptCol: String,
      chosenCol: String,
      rejectedCol: String): DataFrame = {
    // __row keeps duplicate pair-id rows DISTINCT through the template's
    // conv-keyed grouping, so the final per-pid count can detect them —
    // without it, two pairs sharing a pid would merge into one conv and
    // the guard below would never see a count > 1
    val branches = pairs
      .withColumn("__row", monotonically_increasing_id())
      .select(
        col(pairIdCol), col(promptCol), col("__row"),
        explode(array(
          struct(lit("chosen").as("branch"), col(chosenCol).as("resp")),
          struct(lit("rejected").as("branch"), col(rejectedCol).as("resp")))).as("__b"))
    val turns = branches.select(
      struct(col(pairIdCol).as("pid"), col("__b.branch").as("branch"),
        col("__row").as("row")).as("__conv"),
      explode(array(
        struct(lit(0).as("t"), lit("user").as("role"), col(promptCol).as("content")),
        struct(lit(1).as("t"), lit("assistant").as("role"),
          col("__b.resp").as("content")))).as("__turn"))
      .select(col("__conv"), col("__turn.t").as("__t"),
        col("__turn.role").as("__role"), col("__turn.content").as("__content"))
    val rendered = graft.text.Packing
      .renderChatTemplate(turns, "__conv", "__t", "__role", "__content")
    def side(name: String) =
      max(when(col("__conv").getField("branch") === name,
        struct(col("text").as("t"), element_at(col("mask_spans"), 1).as("sp"))))
    rendered
      .groupBy(col("__conv").getField("pid").as(pairIdCol))
      .agg(side("chosen").as("__c"), side("rejected").as("__r"),
        count(when(col("__conv").getField("branch") === "chosen", lit(1)))
          .as("__n_pairs"))
      // the guard rides a FILTER, not a projected column: column pruning
      // would silently drop a guard attached to an output a consumer
      // doesn't read (e.g. selecting only the rejected side)
      .filter(when(col("__n_pairs") > 1, raise_error(concat(
        lit(s"dpoRender: $pairIdCol value "), col(pairIdCol).cast("string"),
        lit(" identifies "), col("__n_pairs").cast("string"),
        lit(" pairs — pairIdCol must be unique per pair"))).cast("boolean"))
        .otherwise(lit(true)))
      .select(
        col(pairIdCol),
        col("__c.t").as("chosen_text"),
        col("__c.sp.mask_start").as("chosen_mask_start"),
        col("__c.sp.mask_end").as("chosen_mask_end"),
        col("__r.t").as("rejected_text"),
        col("__r.sp.mask_start").as("rejected_mask_start"),
        col("__r.sp.mask_end").as("rejected_mask_end"))
  }

  /** [[dpoRender]] for MULTI-TURN contexts — agentic preference data:
    * the shared prompt is a whole conversation prefix (user, assistant,
    * system, and `tool` turns, any shape [[graft.text.Packing
    * renderChatTemplate]] accepts), and chosen/rejected are alternative
    * FINAL assistant turns appended after it. Both branches render the
    * full prefix + their branch turn through the same ChatML template,
    * and the returned mask offsets cover ONLY the branch completion
    * (the last assistant span) — prefix assistant turns are context the
    * DPO loss conditions on, not the completion being compared, so
    * their spans are deliberately excluded.
    *
    * `pairs` must hold exactly one row per `convCol` value (the
    * [[dpoRender]] uniqueness contract, enforced the same way);
    * conversations in `prefix` with no pair row are dropped, and a pair
    * whose conversation has no prefix turns renders as the bare branch
    * turn. Branch turns order AFTER every prefix turn via a per-conv
    * max-turn join (keyed aggregate, no window).
    *
    * Output: convCol, chosen_text, chosen_mask_start, chosen_mask_end,
    * rejected_text, rejected_mask_start, rejected_mask_end.
    * Scale: prefix turns duplicate once per branch (2×), one tiny
    * window over the pairs frame (one row per conversation by contract)
    * for the deterministic row key, the template's one keyed
    * running-sum window, one regroup keyed by the conv. */
  def dpoRenderConversation(
      prefix: DataFrame,
      convCol: String,
      turnCol: String,
      roleCol: String,
      contentCol: String,
      pairs: DataFrame,
      chosenCol: String,
      rejectedCol: String): DataFrame = {
    // DETERMINISTIC row key: pairRows is referenced from two separate
    // plan branches (branchTurns via withNext, prefixTurns via its join),
    // and monotonically_increasing_id assigns ids PER EVALUATION — with
    // nondeterministic intra-partition input order (a shuffle/join
    // output) the two subtrees could tag the same pair row differently,
    // splitting its prefix and branch turns into different __conv keys.
    // xxhash64 over the pair's content is identical in both subtrees by
    // construction; the row_number over identical-content groups keeps
    // EXACT duplicate pair rows distinct (they must still trip the
    // one-pair-per-conversation guard), and is order-insensitive because
    // every row in such a group is indistinguishable.
    val dupW = Window
      .partitionBy(col(convCol), col(chosenCol), col(rejectedCol))
      .orderBy(lit(1))
    val pairRows = pairs
      .withColumn("__row",
        concat(
          xxhash64(col(convCol), col(chosenCol), col(rejectedCol))
            .cast("string"),
          lit("#"), row_number().over(dupW).cast("string")))
      .select(col(convCol), col("__row"),
        col(chosenCol).as("__chosen"), col(rejectedCol).as("__rejected"))
    // branch turns slot after the whole prefix; empty prefixes start at 0
    val maxTurn = prefix.groupBy(col(convCol))
      .agg(max(col(turnCol)).cast("long").as("__maxt"))
    val withNext = pairRows
      .join(maxTurn, Seq(convCol), "left")
      .withColumn("__next", coalesce(col("__maxt") + 1L, lit(0L)))
    val branchTurns = withNext.select(
      col(convCol), col("__row"),
      explode(array(
        struct(lit("chosen").as("branch"), col("__chosen").as("resp")),
        struct(lit("rejected").as("branch"), col("__rejected").as("resp")))).as("__b"),
      col("__next"))
      .select(col(convCol), col("__row"), col("__b.branch").as("__branch"),
        col("__next").as("__t"), lit("assistant").as("__role"),
        col("__b.resp").as("__content"))
    // the prefix rides into BOTH branches of its pair
    val prefixTurns = prefix.select(
        col(convCol), col(turnCol).cast("long").as("__t"),
        col(roleCol).as("__role"), col(contentCol).as("__content"))
      .join(pairRows.select(col(convCol), col("__row")), Seq(convCol))
      .crossJoin(broadcast(
        prefix.sparkSession.range(1).select(
          explode(array(lit("chosen"), lit("rejected"))).as("__branch"))))
    val turns = prefixTurns
      .unionByName(branchTurns)
      .select(
        struct(col(convCol).as("pid"), col("__branch").as("branch"),
          col("__row").as("row")).as("__conv"),
        col("__t"), col("__role"), col("__content"))
    val rendered = graft.text.Packing
      .renderChatTemplate(turns, "__conv", "__t", "__role", "__content")
    def side(name: String) =
      max(when(col("__conv").getField("branch") === name,
        struct(col("text").as("t"),
          element_at(col("mask_spans"), -1).as("sp"))))
    rendered
      .groupBy(col("__conv").getField("pid").as(convCol))
      .agg(side("chosen").as("__c"), side("rejected").as("__r"),
        count(when(col("__conv").getField("branch") === "chosen", lit(1)))
          .as("__n_pairs"))
      // filter-borne guard — survives column pruning (see dpoRender)
      .filter(when(col("__n_pairs") > 1, raise_error(concat(
        lit(s"dpoRenderConversation: $convCol value "),
        col(convCol).cast("string"),
        lit(" identifies "), col("__n_pairs").cast("string"),
        lit(" pairs — one pair row per conversation"))).cast("boolean"))
        .otherwise(lit(true)))
      .select(
        col(convCol),
        col("__c.t").as("chosen_text"),
        col("__c.sp.mask_start").as("chosen_mask_start"),
        col("__c.sp.mask_end").as("chosen_mask_end"),
        col("__r.t").as("rejected_text"),
        col("__r.sp.mask_start").as("rejected_mask_start"),
        col("__r.sp.mask_end").as("rejected_mask_end"))
  }
}
