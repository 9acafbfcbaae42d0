package graft

import graft.align.Preference
import graft.similarity.Similarity
import org.apache.spark.sql.functions._

class PreferenceSpec extends SparkSpec {
  import spark.implicits._

  private def resp = Seq(
    // prompt 1: clear ladder
    (1L, 10L, "long answer text", 9.0),
    (1L, 11L, "short", 5.0),
    (1L, 12L, "mid answer", 7.0),
    // prompt 2: top-score tie between 20 and 21 -> lower id wins
    (2L, 20L, "aa", 8.0),
    (2L, 21L, "bb", 8.0),
    (2L, 22L, "cc", 1.0),
    // prompt 3: single response -> no pair
    (3L, 30L, "solo", 4.0))
    .toDF("prompt_id", "response_id", "response", "score")

  test("bestOfN: top-n per prompt by score, ties to the lower id") {
    val r = Preference.bestOfN(resp, "prompt_id", "response_id", "score", n = 2)
      .orderBy("prompt_id", "rank")
      .select("prompt_id", "rank", "response_id")
      .as[(Long, Int, Long)].collect().toSeq
    assert(r === Seq(
      (1L, 1, 10L), (1L, 2, 12L),
      (2L, 1, 20L), (2L, 2, 21L),
      (3L, 1, 30L)))
  }

  test("preferencePairs max-min: one best-vs-worst pair per prompt, ties ranked by id") {
    val r = Preference.preferencePairs(
      resp, "prompt_id", "response_id", "response", "score")
      .orderBy("prompt_id")
      .select("prompt_id", "chosen_id", "rejected_id", "margin")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // prompt 2: chosen = 20 (tie -> lower id), rejected = 22;
    // prompt 3 emits nothing (chosen == rejected)
    assert(r === Seq((1L, 10L, 11L, 4.0), (2L, 20L, 22L, 7.0)))
  }

  test("preferencePairs margin gate excludes ties and sub-margin pairs") {
    val gated = Preference.preferencePairs(
      resp, "prompt_id", "response_id", "response", "score", minMargin = 5.0)
    assert(gated.select("prompt_id").as[Long].collect().toSeq === Seq(2L))
    // all-pairs: every ordered pair with margin > 0 — the 8.0 tie on
    // prompt 2 is never emitted in either direction
    val all = Preference.preferencePairs(
      resp, "prompt_id", "response_id", "response", "score", policy = "all")
      .select("chosen_id", "rejected_id").as[(Long, Long)].collect().toSet
    assert(all === Set(
      (10L, 11L), (10L, 12L), (12L, 11L),
      (20L, 22L), (21L, 22L)))
    val bvr = Preference.preferencePairs(
      resp, "prompt_id", "response_id", "response", "score", policy = "best-vs-rest")
      .select("chosen_id", "rejected_id").as[(Long, Long)].collect().toSet
    // prompt 2's best (20) vs the tied 21 has margin 0 -> excluded
    assert(bvr === Set((10L, 11L), (10L, 12L), (20L, 22L)))
  }

  test("lengthBiasReport: bucketed longer-chosen rate with the all rollup") {
    val pairs = Seq(
      ("aaaaaa", "aa"),   // chosen longer, gap 4 -> 1-10
      ("aa", "aaaaaa"),   // rejected longer, gap 4 -> 1-10
      ("aaa", "aaa"))     // tie -> 0 bucket, rate 0.5
      .toDF("chosen", "rejected")
    val r = Preference.lengthBiasReport(pairs, "chosen", "rejected")
      .orderBy("len_gap_bucket")
      .select("len_gap_bucket", "n_pairs", "longer_chosen_rate")
      .as[(String, Long, Double)].collect().toSeq
    assert(r === Seq(("0", 1L, 0.5), ("1-10", 2L, 0.5), ("all", 3L, 0.5)))
  }

  test("bradleyTerry: 3-1 head-to-head lands exactly at strengths 1.5 / 0.5") {
    // mean-1 normalization makes the 2-item MM update close in one step:
    // p_A = W_A * (p_A + p_B) / n = 3 * 2 / 4
    val o = (Seq.fill(3)(("A", "B")) ++ Seq(("B", "A")))
      .toDF("winner", "loser")
    val r = Preference.bradleyTerry(o, "winner", "loser", iterations = 10)
      .select("item", "strength", "n_wins", "n_games")
      .as[(String, Double, Long, Long)].collect().toMap2
    assert(r("A") === ((1.5, 3L, 4L)))
    assert(r("B") === ((0.5, 1L, 4L)))
  }

  test("bradleyTerry: never-winners pin to 0 and a transitive ladder orders correctly") {
    val o = Seq(("A", "B"), ("A", "B"))
      .toDF("winner", "loser")
    val r = Preference.bradleyTerry(o, "winner", "loser")
      .select("item", "strength").as[(String, Double)].collect().toMap
    assert(r("A") === 2.0 && r("B") === 0.0)
    val ladder = Seq(
      ("C", "B"), ("C", "B"), ("C", "A"), ("C", "A"), ("C", "A"),
      ("B", "A"), ("B", "A"), ("A", "B"), ("B", "C"), ("A", "C"))
      .toDF("winner", "loser")
    val s = Preference.bradleyTerry(ladder, "winner", "loser", iterations = 30)
      .select("item", "strength").as[(String, Double)].collect().toMap
    assert(s("C") > s("B") && s("B") > s("A"), s.toString)
    // mean-1 normalization: strengths average to 1
    assert(math.abs(s.values.sum / 3 - 1.0) < 1e-6)
  }

  test("bradleyTerry: driver-local fast path ≡ distributed loop (r21)") {
    // a non-trivial arena: 5 items, asymmetric records, one never-winner
    val log = Seq(
      ("A", "B"), ("A", "B"), ("A", "C"), ("B", "C"), ("B", "C"),
      ("C", "D"), ("A", "D"), ("B", "D"), ("C", "A"), ("D", "B"),
      ("A", "E"), ("B", "E"), ("C", "E"), ("A", "E"), ("A", "C"))
      .toDF("winner", "loser")
    def rows(localBound: Int) =
      Preference.bradleyTerryImpl(log, "winner", "loser", 10, localBound)
        .orderBy("item")
        .select("item", "strength", "n_wins", "n_games")
        .as[(String, Double, Long, Long)].collect().toSeq
    val local = rows(Preference.LocalBtMaxDirectedPairs)
    val dist = rows(0) // gate off: the unchanged distributed loop
    assert(local.map(_._1) === dist.map(_._1))
    assert(local.map(_._3) === dist.map(_._3)) // n_wins exact
    assert(local.map(_._4) === dist.map(_._4)) // n_games exact
    // strengths agree to the 6-decimal output contract (both sides
    // round(_, 6); the MM contraction bounds order noise far below it)
    local.zip(dist).foreach { case (l, d) =>
      assert(l._2 === d._2, s"strength mismatch at ${l._1}: ${l._2} vs ${d._2}")
    }
    // schema parity: the full StructType — names, types, nullability and
    // metadata — with item drawn from a nullable loser column and a
    // metadata-carrying winner column, so the winner ∪ loser union shows
    val meta = new org.apache.spark.sql.types.MetadataBuilder().putString("src", "arena").build()
    val tagged = log.withColumn("winner", $"winner".as("winner", meta))
      .withColumn("loser", when($"loser" =!= "zz", $"loser"))
    val lf = Preference.bradleyTerryImpl(tagged, "winner", "loser", 1,
      Preference.LocalBtMaxDirectedPairs)
    val df = Preference.bradleyTerryImpl(tagged, "winner", "loser", 1, 0)
    assert(lf.schema === df.schema, s"${lf.schema.treeString} vs ${df.schema.treeString}")
    assert(lf.schema("item").nullable && lf.schema("item").metadata == meta)
  }

  test("groupAdvantages: within-group standardization, degenerate groups at 0") {
    val samples = Seq(
      (1L, 100L, 1.0), (1L, 101L, 2.0), (1L, 102L, 3.0), // mean 2, std 1
      (2L, 200L, 5.0),                                   // single sample
      (3L, 300L, 4.0), (3L, 301L, 4.0))                  // identical rewards
      .toDF("prompt_id", "response_id", "reward")
    val r = Preference.groupAdvantages(samples, "prompt_id", "reward")
      .select("response_id", "group_mean", "group_std", "advantage")
      .as[(Long, Double, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(r(100L) === ((2.0, 1.0, -1.0)))
    assert(r(101L) === ((2.0, 1.0, 0.0)))
    assert(r(102L) === ((2.0, 1.0, 1.0)))
    assert(r(200L)._3 === 0.0) // single sample: no signal, not a blow-up
    assert(r(300L) === ((4.0, 0.0, 0.0)))
  }

  test("mergeBestOfN == bestOfNState over the union (order statistics merge)") {
    val a = Seq((1L, 10L, "x", 3.0), (1L, 11L, "y", 7.0), (2L, 20L, "z", 1.0))
      .toDF("prompt_id", "response_id", "response", "score")
    val b = Seq((1L, 12L, "w", 9.0), (2L, 21L, "v", 2.0))
      .toDF("prompt_id", "response_id", "response", "score")
    val folded = Preference.mergeBestOfN(
      Preference.bestOfNState(a, "prompt_id", "response_id", "score", 2),
      b, "prompt_id", "response_id", "score", 2)
      .select("prompt_id", "response_id").as[(Long, Long)].collect().toSet
    val direct = Preference.bestOfNState(
      a.unionByName(b), "prompt_id", "response_id", "score", 2)
      .select("prompt_id", "response_id").as[(Long, Long)].collect().toSet
    assert(folded === direct)
    assert(folded === Set((1L, 12L), (1L, 11L), (2L, 21L), (2L, 20L)))
  }

  test("kendallTau: hand pair classification, tie correction, constant-scoring null") {
    val samples = Seq(
      // prompt 1: x=[1,2,3], y=[1,3,2] -> C=2, D=1, tau = 1/3
      (1L, 10L, 1.0, 1.0), (1L, 11L, 2.0, 3.0), (1L, 12L, 3.0, 2.0),
      // prompt 2: x=[1,1,2], y=[1,2,3] -> C=2, D=0, tx=1 ->
      // tau_b = 2 / sqrt(2*3) = 0.816497
      (2L, 20L, 1.0, 1.0), (2L, 21L, 1.0, 2.0), (2L, 22L, 2.0, 3.0),
      // prompt 3: constant x -> tau_b undefined
      (3L, 30L, 5.0, 1.0), (3L, 31L, 5.0, 2.0))
      .toDF("prompt_id", "response_id", "human", "rm")
    val r = Preference.kendallTau(samples, "prompt_id", "response_id", "human", "rm")
      .collect().map(x => x.getAs[Long]("prompt_id") -> x).toMap
    val p1 = r(1L)
    assert(p1.getAs[Long]("n_samples") === 3L)
    assert(p1.getAs[Long]("concordant") === 2L && p1.getAs[Long]("discordant") === 1L)
    assert(p1.getAs[Double]("tau_b") === 0.333333)
    assert(r(2L).getAs[Double]("tau_b") === 0.816497)
    val p3 = r(3L)
    assert(p3.isNullAt(p3.fieldIndex("tau_b")))
  }

  test("evalSummary: per-task binomial stats with micro/macro rollups") {
    val results = (
      Seq(true, true, false, false).map(("arc", _)) ++      // 0.5 of 4
        Seq(true, true, true, false).map(("gsm", _)))       // 0.75 of 4
      .toDF("task", "correct")
    val r = graft.eval.Metrics.evalSummary(results, "task", "correct")
      .collect().map(x => x.getAs[String]("task") -> x).toMap
    assert(r("arc").getAs[Double]("accuracy") === 0.5)
    assert(r("arc").getAs[Double]("stderr") === 0.25) // sqrt(.25/4)
    assert(r("gsm").getAs[Double]("accuracy") === 0.75)
    assert(r("gsm").getAs[Double]("stderr") === 0.216506)
    val micro = r("__micro__")
    assert(micro.getAs[Long]("n") === 8L && micro.getAs[Double]("accuracy") === 0.625)
    val macroR = r("__macro__")
    assert(macroR.getAs[Double]("accuracy") === 0.625)
    // sqrt(0.25^2 + 0.216506^2) / 2
    assert(macroR.getAs[Double]("stderr") === 0.165359)
  }

  test("headToHead: unordered fold, win rate, Wilson bounds") {
    val o = (Seq.fill(3)(("A", "B")) ++ Seq(("B", "A")) ++ Seq(("C", "B")))
      .toDF("winner", "loser")
    val r = Preference.headToHead(o, "winner", "loser")
      .collect().map(x => (x.getString(0), x.getString(1)) -> x).toMap
    val ab = r(("A", "B"))
    assert(ab.getAs[Long]("wins_a") === 3L && ab.getAs[Long]("n_games") === 4L)
    assert(ab.getAs[Double]("win_rate_a") === 0.75)
    assert(ab.getAs[Double]("wilson_low") === 0.300636)
    assert(ab.getAs[Double]("wilson_high") === 0.954414)
    // B vs C: B lost its only game -> wins_a 0, bounds clamp inside [0,1]
    val bc = r(("B", "C"))
    assert(bc.getAs[Long]("wins_a") === 0L && bc.getAs[Long]("n_games") === 1L)
    assert(bc.getAs[Double]("wilson_low") === 0.0)
    assert(bc.getAs[Double]("wilson_high") < 1.0)
  }

  test("bestOfNCurve: exact order-statistic expectations; k=1 mean, k=n max") {
    // rewards [1,3,5,9]: E[max1]=4.5, E[max2]=mean over C(4,2) subsets
    // = (3+5+5+9+9+9)/6 = 6.666667, E[max4]=9
    val samples = Seq((1L, 1.0), (1L, 3.0), (1L, 5.0), (1L, 9.0),
      (2L, 7.0), (2L, 7.0)) // ties: weights commute, k=2 -> 7 exactly
      .toDF("prompt_id", "reward")
    val r = Preference.bestOfNCurve(samples, "prompt_id", "reward", Seq(1, 2, 4))
      .select("prompt_id", "k", "expected_max")
      .as[(Long, Int, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(r((1L, 1)) === 4.5)
    assert(r((1L, 2)) === 6.666667)
    assert(r((1L, 4)) === 9.0)
    assert(r((2L, 1)) === 7.0 && r((2L, 2)) === 7.0)
    assert(!r.contains((2L, 4))) // k above the prompt's sample count
  }

  test("passAtK: the unbiased estimator, boundary branches, k > n omitted") {
    // prompt 1: n=5, c=2 -> pass@2 = 1 - (3/5)(2/4) = 0.7, pass@1 = 2/5
    // prompt 2: n=3, c=0 -> 0 at every k
    // prompt 3: n=3, c=2 -> n-c=1 < k=2 -> exactly 1
    val samples = (
      Seq(true, true, false, false, false).map((1L, _)) ++
        Seq(false, false, false).map((2L, _)) ++
        Seq(true, true, false).map((3L, _)))
      .toDF("prompt_id", "correct")
    val r = Preference.passAtK(samples, "prompt_id", "correct", Seq(1, 2, 5))
      .select("prompt_id", "k", "pass_at_k")
      .as[(Long, Int, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(r((1L, 1)) === 0.4)
    assert(r((1L, 2)) === 0.7)
    assert(r((1L, 5)) === 1.0) // n-c = 3 < 5
    assert(r((2L, 1)) === 0.0 && r((2L, 2)) === 0.0)
    assert(r((3L, 2)) === 1.0)
    // k=5 > n=3: no row for prompts 2 and 3
    assert(!r.contains((2L, 5)) && !r.contains((3L, 5)))
    intercept[IllegalArgumentException] {
      Preference.passAtK(samples, "prompt_id", "correct", Seq(5, 1))
    }
  }

  test("ktoRows: class-balanced weights, null feedback dropped") {
    val f = Seq(
      (1L, Some(true)), (2L, Some(true)), (3L, Some(true)),
      (4L, Some(false)), (5L, None))
      .toDF("id", "feedback")
    val r = Preference.ktoRows(f, "feedback")
      .select("id", "weight").as[(Long, Double)].collect().toMap
    // 4 labeled rows: desirable weight 4/(2*3), undesirable 4/(2*1)
    assert(r === Map(1L -> 0.666667, 2L -> 0.666667, 3L -> 0.666667, 4L -> 2.0))
  }

  test("majorityVote: modal answer per prompt, ties to the smallest answer") {
    val samples = Seq(
      (1L, "x"), (1L, "x"), (1L, "y"),            // clear mode
      (2L, "b"), (2L, "a"),                       // 1-1 tie -> "a"
      (3L, "z"))                                  // singleton
      .toDF("prompt_id", "answer")
    val r = Preference.majorityVote(samples, "prompt_id", "answer")
      .select("prompt_id", "answer", "n_agree", "n_samples", "agreement")
      .as[(Long, String, Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    assert(r(1L) === (("x", 2L, 3L, 0.666667)))
    assert(r(2L) === (("a", 1L, 2L, 0.5)))
    assert(r(3L) === (("z", 1L, 1L, 1.0)))
  }

  test("rewardModelReport: confidence buckets, tie handling, and the all rollup") {
    val pairs = Seq(
      (2.0, 1.7),   // margin +0.3  -> <=0.5, agree
      (1.0, 1.7),   // margin -0.7  -> 0.5-1.0, disagree
      (3.0, 3.0),   // margin 0     -> <=0.5, tie counts 0.5
      (9.0, 6.0),   // margin +3.0  -> 2.0-5.0, agree
      (20.0, 9.5))  // margin +10.5 -> >5.0, agree
      .toDF("rm_chosen", "rm_rejected")
    val r = Preference.rewardModelReport(pairs, "rm_chosen", "rm_rejected")
      .orderBy("margin_bucket")
      .select("margin_bucket", "n_pairs", "accuracy", "mean_margin")
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(r === Seq(
      ("0.5-1.0", 1L, 0.0, -0.7),
      ("2.0-5.0", 1L, 1.0, 3.0),
      ("<=0.5", 2L, 0.75, 0.15),
      (">5.0", 1L, 1.0, 10.5),
      ("all", 5L, 0.7, 2.62)))
    intercept[IllegalArgumentException] {
      Preference.rewardModelReport(pairs, "rm_chosen", "rm_rejected",
        bucketEdges = Seq(1.0, 0.5))
    }
  }

  test("dpoRender: ChatML branches with exact completion mask offsets") {
    val pairs = Seq((7L, "hi", "hello", "bad"))
      .toDF("pair_id", "prompt", "chosen", "rejected")
    val r = Preference.dpoRender(pairs, "pair_id", "prompt", "chosen", "rejected").head()
    val ct = r.getAs[String]("chosen_text")
    assert(ct === "<|im_start|>user\nhi<|im_end|>\n<|im_start|>assistant\nhello<|im_end|>\n")
    val (cs, ce) = (r.getAs[Long]("chosen_mask_start"), r.getAs[Long]("chosen_mask_end"))
    assert(ct.substring(cs.toInt, ce.toInt) === "hello<|im_end|>")
    val rt = r.getAs[String]("rejected_text")
    val (rs, re) = (r.getAs[Long]("rejected_mask_start"), r.getAs[Long]("rejected_mask_end"))
    assert(rt.substring(rs.toInt, re.toInt) === "bad<|im_end|>")
  }

  test("dpoRenderConversation: multi-turn prefix incl. tool turns, mask on the branch only") {
    val prefix = Seq(
      (1L, 0, "user", "fetch the report"),
      (1L, 1, "assistant", "calling tool"),
      (1L, 2, "tool", "{\"rows\": 3}"),
      (1L, 3, "user", "summarize"),
      // conv 2 has NO prefix turns -> pair renders as the bare branch
      (3L, 0, "user", "unpaired — dropped"))
      .toDF("conv_id", "turn_no", "role", "content")
    val pairs = Seq(
      (1L, "three rows found", "no idea"),
      (2L, "standalone good", "standalone bad"))
      .toDF("conv_id", "chosen", "rejected")
    val out = Preference.dpoRenderConversation(
      prefix, "conv_id", "turn_no", "role", "content", pairs, "chosen", "rejected")
      .collect().map(r => r.getAs[Long]("conv_id") -> r).toMap
    assert(out.keySet === Set(1L, 2L)) // conv 3 has no pair row
    val c1 = out(1L)
    val ct = c1.getAs[String]("chosen_text")
    assert(ct ===
      "<|im_start|>user\nfetch the report<|im_end|>\n" +
      "<|im_start|>assistant\ncalling tool<|im_end|>\n" +
      "<|im_start|>tool\n{\"rows\": 3}<|im_end|>\n" +
      "<|im_start|>user\nsummarize<|im_end|>\n" +
      "<|im_start|>assistant\nthree rows found<|im_end|>\n")
    // the mask covers ONLY the branch completion — the prefix assistant
    // turn ("calling tool") is conditioned-on context, not the completion
    val (cs, ce) = (c1.getAs[Long]("chosen_mask_start"), c1.getAs[Long]("chosen_mask_end"))
    assert(ct.substring(cs.toInt, ce.toInt) === "three rows found<|im_end|>")
    val rt = c1.getAs[String]("rejected_text")
    val (rs, re) = (c1.getAs[Long]("rejected_mask_start"), c1.getAs[Long]("rejected_mask_end"))
    assert(rt.substring(rs.toInt, re.toInt) === "no idea<|im_end|>")
    assert(rt.startsWith("<|im_start|>user\nfetch the report")) // shared prefix
    // empty prefix: the pair renders as a single assistant turn
    val c2 = out(2L)
    assert(c2.getAs[String]("chosen_text") ===
      "<|im_start|>assistant\nstandalone good<|im_end|>\n")
    // duplicate pair rows for one conversation raise loudly
    val dup = pairs.unionByName(Seq((1L, "x", "y")).toDF("conv_id", "chosen", "rejected"))
    val e = intercept[Exception] {
      Preference.dpoRenderConversation(
        prefix, "conv_id", "turn_no", "role", "content", dup, "chosen", "rejected")
        .select("rejected_text").collect() // pruning must not drop the guard
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("one pair row per conversation")), msgs(e).mkString("; "))
  }

  test("dpoRender raises loudly on a duplicate pair id instead of merging pairs") {
    // a pairs table keyed by prompt_id under 'best-vs-rest' has multiple
    // pairs per key — the silent-collapse failure ADVICE r14 named
    val pairs = Seq(
      (7L, "hi", "best", "bad1"),
      (7L, "hi", "best", "bad2"))
      .toDF("pair_id", "prompt", "chosen", "rejected")
    // select ONLY the rejected side: the guard must survive column
    // pruning (it rides a filter, not the chosen_text projection)
    val e = intercept[Exception] {
      Preference.dpoRender(pairs, "pair_id", "prompt", "chosen", "rejected")
        .select("rejected_text").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("pairIdCol must be unique")), msgs(e).mkString("; "))
    // even a bare count must raise
    val e2 = intercept[Exception] {
      Preference.dpoRender(pairs, "pair_id", "prompt", "chosen", "rejected").count()
    }
    assert(msgs(e2).exists(_.contains("pairIdCol must be unique")), msgs(e2).mkString("; "))
  }

  test("semantic decontamination: flags cosine twins of the benchmark, keeps the rest") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),   // exact bench twin -> flagged
      (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal -> survives
      (3L, Array(2.0f, 0.001f, 0.0f)), // scaled near-twin -> flagged
      (4L, Array(0.0f, 0.0f, 0.0f)))   // zero norm -> survives
      .toDF("vec_id", "embedding")
    val bench = Seq((100L, Array(1.0f, 0.0f, 0.0f)))
      .toDF("bench_id", "bvec")
    val rep = Similarity.semanticContaminationReport(
      corpus, "vec_id", "embedding", bench, "bench_id", "bvec", threshold = 0.999)
      .select("vec_id", "bench_id").as[(Long, Long)].collect().toSet
    assert(rep === Set((1L, 100L), (3L, 100L)))
    val kept = Similarity.decontaminateSemantic(
      corpus, "vec_id", "embedding", bench, "bench_id", "bvec", threshold = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(2L, 4L))
  }

  private implicit class Map2Ops[A, B, C, D](rows: Array[(A, B, C, D)]) {
    def toMap2: Map[A, (B, C, D)] = rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }
}
