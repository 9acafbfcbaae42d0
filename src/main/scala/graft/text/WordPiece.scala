package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WordPiece vocabulary training and tokenization — the BERT-family
  * subword tokenizer (Schuster & Nakajima 2012; Devlin et al. 2019;
  * Wu et al. 2016 describe the scoring), completing the three canonical
  * subword families next to [[Bpe]] (merge-rank greedy) and [[Unigram]]
  * (likelihood pruning).
  *
  * TRAINING reuses [[Bpe]]'s scale shape — ONE corpus-sized
  * frequency-capped word-count pass (map-side-combinable groupBy), then
  * a driver loop over that BOUNDED table — but the merge choice
  * maximizes the WordPiece likelihood score
  * `count(pair) / (count(left) · count(right))` instead of raw pair
  * frequency: a pair merges when its parts co-occur MORE than their
  * individual popularity predicts, which prefers morpheme-like units
  * over merely frequent ones. Continuation symbols carry the `##`
  * prefix ("word" → [w, ##o, ##r, ##d]); merging (l, r) fuses to
  * `l + strip##(r)`. Ties in score break deterministically by
  * (pair_count DESC, left ASC, right ASC) — same corpus, same merges,
  * any cluster layout.
  *
  * ENCODING is NOT merge replay: the published WordPiece encoder is
  * greedy longest-match-first against the VOCABULARY — at each position
  * take the longest prefix of the remaining word that is a vocab token
  * (`##`-prefixed when not at word start), else the whole word becomes
  * a single `[UNK]`. That `[UNK]` behavior is kept deliberately: it is
  * what deployed BERT tokenizers do, and the zero-unk byte-fallback
  * contract already lives in [[Bpe]]/[[Unigram]] for pipelines that
  * need losslessness. Encode is a pure scan — the vocabulary (bounded,
  * vocab-sized) rides the UDF closure with a per-task memo over
  * distinct words; no join, no shuffle.
  */
object WordPiece {

  /** Continuation prefix for non-word-initial symbols. */
  val Continuation = "##"

  /** Reserved id 0 — the published WordPiece out-of-vocabulary token. */
  val UnkToken = "[UNK]"
  val UnkId = 0

  /** Words longer than this many chars become `[UNK]` outright — the
    * published encoder's `max_input_chars_per_word` guard (quadratic
    * matching on pathological megawords is not worth real ids). */
  val MaxInputCharsPerWord = 100

  /** Initial symbol sequence: one symbol per code point, continuation
    * prefix on all but the first ("word" → [w, ##o, ##r, ##d]). */
  private[text] def symbols(word: String): Vector[String] = {
    val cs = Bpe.codePointStrings(word)
    cs.head +: cs.tail.map(Continuation + _)
  }

  /** Train `numMerges` WordPiece merges from the corpus: the one
    * corpus-sized pass is [[Bpe.cappedWordCounts]]; everything after is
    * driver arithmetic on the bounded table. Returns
    * `(rank INT, left STRING, right STRING, score DOUBLE,
    * pair_count BIGINT)` ordered by rank. */
  def train(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      maxWords: Int = 50000,
      minPairCount: Long = 2L,
      preTokenize: String = Bpe.Whitespace): DataFrame = {
    require(numMerges > 0, s"need numMerges > 0, got $numMerges")
    trainFromCounts(df.sparkSession,
      Bpe.cappedWordCounts(df, textCol, maxWords, preTokenize),
      numMerges, minPairCount)
  }

  /** Merge table AND token-id vocabulary from ONE corpus scan — the
    * word-count pass feeds both the driver merge loop and the alphabet.
    * Returns (merges, vocabIds). */
  def trainArtifacts(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      maxWords: Int = 50000,
      minPairCount: Long = 2L,
      preTokenize: String = Bpe.Whitespace): (DataFrame, DataFrame) = {
    require(numMerges > 0, s"need numMerges > 0, got $numMerges")
    val spark = df.sparkSession
    val counts = Bpe.cappedWordCounts(df, textCol, maxWords, preTokenize)
    val merges = trainFromCounts(spark, counts, numMerges, minPairCount)
    (merges, vocabWithIdsFromCounts(spark, counts, merges))
  }

  /** [[trainArtifacts]] from a maintained [[Bpe.wordCountState]]
    * directory: zero corpus scans — the two tokenizer families share
    * one word-count state. */
  def trainArtifactsFromState(
      spark: SparkSession,
      statePath: String,
      numMerges: Int,
      maxWords: Int = 50000,
      minPairCount: Long = 2L,
      preTokenize: String = Bpe.Whitespace): (DataFrame, DataFrame) = {
    val counts = Bpe.countsFromState(spark, statePath, maxWords, preTokenize)
    val merges = trainFromCounts(spark, counts, numMerges, minPairCount)
    (merges, vocabWithIdsFromCounts(spark, counts, merges))
  }

  /** Driver-side merge loop over a bounded (word, count) table. Each
    * iteration recounts symbol and pair occurrences (both weighted by
    * word frequency) and merges the pair with the highest
    * `pair / (left · right)` likelihood score — compared via
    * cross-multiplied BigInt arithmetic, never floating point, so the
    * chosen merge sequence is exactly reproducible. Stops early when no
    * pair reaches `minPairCount`. */
  def trainFromCounts(
      spark: SparkSession,
      wordCounts: Seq[(String, Long)],
      numMerges: Int,
      minPairCount: Long = 2L): DataFrame = {
    import spark.implicits._
    var words: Vector[(Vector[String], Long)] =
      wordCounts.filter(_._1.nonEmpty).map { case (w, c) => (symbols(w), c) }.toVector
    val merges = Vector.newBuilder[(Int, String, String, Double, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val symCounts = scala.collection.mutable.HashMap.empty[String, Long]
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length) {
          symCounts.update(syms(i), symCounts.getOrElse(syms(i), 0L) + c)
          if (i < syms.length - 1) {
            val k = (syms(i), syms(i + 1))
            pairCounts.update(k, pairCounts.getOrElse(k, 0L) + c)
          }
          i += 1
        }
      }
      // the likelihood score REWARDS rarity (a once-seen pair of two
      // once-seen symbols scores 1.0), so the frequency floor must
      // filter CANDIDATES — halting on a rare best-scored pair would
      // end training after zero merges on any natural corpus
      if (!pairCounts.exists(_._2 >= minPairCount)) done = true
      else {
        // maximize pair/(l·r): compare c1·(l2·r2) vs c2·(l1·r1) in BigInt
        // (corpus-scale counts overflow a Long product), ties by
        // (pair_count DESC, left ASC, right ASC)
        var best: ((String, String), Long) = null
        var bestDen = BigInt(0)
        pairCounts.foreach { case (k @ (l, r), c) =>
          if (c >= minPairCount) {
            val den = BigInt(symCounts(l)) * BigInt(symCounts(r))
            if (best == null) { best = (k, c); bestDen = den }
            else {
              val cmp = (BigInt(c) * bestDen).compare(BigInt(best._2) * den)
              val better = cmp > 0 || (cmp == 0 && {
                val tie = java.lang.Long.compare(c, best._2)
                tie > 0 || (tie == 0 && Ordering[(String, String)].lt(k, best._1))
              })
              if (better) { best = (k, c); bestDen = den }
            }
          }
        }
        val ((l, r), c) = best
        locally {
          val score = c.toDouble / (symCounts(l).toDouble * symCounts(r).toDouble)
          merges += ((rank, l, r, score, c))
          val fused = l + r.stripPrefix(Continuation)
          words = words.map { case (syms, wc) =>
            if (syms.length < 2) (syms, wc)
            else {
              val out = Vector.newBuilder[String]
              var i = 0
              while (i < syms.length) {
                if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
                  out += fused; i += 2
                } else { out += syms(i); i += 1 }
              }
              (out.result(), wc)
            }
          }
          rank += 1
        }
      }
    }
    merges.result().toDF("rank", "left", "right", "score", "pair_count")
  }

  /** Deterministic token→id table `(token, token_id)`: id 0 reserved for
    * `[UNK]`, then the alphabet of the capped vocabulary words (every
    * code point in both plain and `##`-continuation form) plus every
    * merge output, ids by token sort order — same corpus + merges, same
    * ids, any engine. Characters appearing only beyond the frequency
    * cap encode to `[UNK]`, the standard bounded-vocab behavior. */
  def vocabWithIdsFromCounts(
      spark: SparkSession,
      wordCounts: Seq[(String, Long)],
      merges: DataFrame): DataFrame = {
    import spark.implicits._
    val baseChars =
      wordCounts.iterator.map(_._1).flatMap(Bpe.codePointStrings).toArray.distinct
    val mergeTokens = merges
      .select(concat(col("left"),
        // fused form strips the right side's continuation prefix
        regexp_replace(col("right"), "^" + Continuation, "")).as("t"))
      .as[String].collect()
    val tokens =
      (baseChars.flatMap(c => Seq(c, Continuation + c)) ++ mergeTokens)
        .distinct.sorted
    (Seq((UnkToken, UnkId)) ++ tokens.zipWithIndex.map { case (t, i) => (t, i + 1) })
      .toDF("token", "token_id")
  }

  /** Greedy longest-match-first encode of one word against a vocabulary
    * set — the published WordPiece algorithm. Prefix boundaries step by
    * code point (never through a surrogate pair). Returns `[UNK]` alone
    * when some position has no matching token or the word exceeds
    * [[MaxInputCharsPerWord]]. */
  private[text] def encodeWord(word: String, vocab: Set[String]): Vector[String] = {
    if (word.isEmpty) return Vector.empty
    // guard counts CODE POINTS (the documented max_input_chars_per_word
    // unit), not UTF-16 units — astral-heavy words of 51-100 code points
    // must still be encoded, not short-circuited to [UNK]
    if (word.codePointCount(0, word.length) > MaxInputCharsPerWord)
      return Vector(UnkToken)
    val out = Vector.newBuilder[String]
    var start = 0
    while (start < word.length) {
      var end = word.length
      var hit: String = null
      while (hit == null && end > start) {
        val cand = (if (start > 0) Continuation else "") + word.substring(start, end)
        if (vocab.contains(cand)) hit = cand
        else {
          end -= 1
          // never split a surrogate pair: back off to the code-point boundary
          if (end > start && Character.isLowSurrogate(word.charAt(end))) end -= 1
        }
      }
      if (hit == null) return Vector(UnkToken)
      out += hit
      start = end
    }
    out.result()
  }

  private def vocabSet(vocabIds: DataFrame): Set[String] =
    vocabIds.select(col("token")).collect().map(_.getString(0)).toSet

  /** Tokenize `textCol` with a trained vocabulary: adds
    * `tokens ARRAY<STRING>` (continuation-prefixed) and `n_tokens`.
    * Pure scan — the vocab set rides the closure, a per-task memo
    * caches each distinct word (Zipf: hot words dominate). */
  def encode(
      df: DataFrame,
      textCol: String,
      vocabIds: DataFrame,
      preTokenize: String = Bpe.Whitespace): DataFrame = {
    val vs = vocabSet(vocabIds)
    val enc = udf(new (Seq[String] => Seq[String]) with Serializable {
      @transient private lazy val memo =
        scala.collection.mutable.HashMap.empty[String, Vector[String]]
      override def apply(words: Seq[String]): Seq[String] =
        words.flatMap(w => memo.getOrElseUpdate(w, encodeWord(w, vs)))
    })
    df.withColumn("tokens", enc(Bpe.wordsOf(textCol, preTokenize)))
      .withColumn("n_tokens", size(col("tokens")))
  }

  /** [[encode]] to numeric ids: adds `token_ids ARRAY<INT>` and
    * `n_tokens`. Out-of-vocabulary words take [[UnkId]] — the published
    * behavior (see the class doc for why there is no byte fallback
    * here). */
  def encodeIds(
      df: DataFrame,
      textCol: String,
      vocabIds: DataFrame,
      preTokenize: String = Bpe.Whitespace): DataFrame = {
    val ids: Map[String, Int] = vocabIds
      .select(col("token"), col("token_id").cast("int"))
      .collect()
      .map(r => r.getString(0) -> r.getInt(1))
      .toMap
    val vs = ids.keySet
    val enc = udf(new (Seq[String] => Seq[Int]) with Serializable {
      @transient private lazy val memo =
        scala.collection.mutable.HashMap.empty[String, Vector[Int]]
      override def apply(words: Seq[String]): Seq[Int] =
        words.flatMap(w => memo.getOrElseUpdate(w,
          encodeWord(w, vs).map(t => ids.getOrElse(t, UnkId))))
    })
    df.withColumn("token_ids", enc(Bpe.wordsOf(textCol, preTokenize)))
      .withColumn("n_tokens", size(col("token_ids")))
  }

  /** Invert [[encodeIds]]: a non-continuation token opens a new word,
    * `##` bodies append to the current one; words rejoin with single
    * spaces (whitespace mode) or concatenate (gpt2 mode, whose
    * pre-tokens carry their whitespace). `[UNK]` decodes to its literal
    * surface — WordPiece round-trips are exact only for unk-free
    * streams, which [[encodeAudit]] makes observable. */
  def decodeIds(
      df: DataFrame,
      idsCol: String,
      vocabIds: DataFrame,
      outCol: String = "decoded_text",
      preTokenize: String = Bpe.Whitespace): DataFrame = {
    val joiner = if (preTokenize == Bpe.Gpt2) "" else " "
    val toks: Map[Int, String] = vocabIds
      .select(col("token_id").cast("int"), col("token"))
      .collect()
      .map(r => r.getInt(0) -> r.getString(1))
      .toMap
    val dec = udf { (tokenIds: Seq[Int]) =>
      val words = Vector.newBuilder[String]
      val cur = new java.lang.StringBuilder
      tokenIds.foreach { i =>
        val t = toks.getOrElse(i, UnkToken)
        if (t.startsWith(Continuation) && cur.length() > 0)
          cur.append(t.substring(Continuation.length))
        else {
          if (cur.length() > 0) { words += cur.toString; cur.setLength(0) }
          cur.append(t)
        }
      }
      if (cur.length() > 0) words += cur.toString
      words.result().mkString(joiner)
    }
    df.withColumn(outCol, dec(col(idsCol)))
  }

  /** Oracle-checkable audit of an encoded frame: per row the exact word
    * count (both engines derive it), `has_unk`, and two flags that must
    * be uniformly TRUE — `roundtrip_ok` (the token stream reconstructs
    * the words exactly: tokens joined on a sentinel, continuation
    * junctions collapsed, compared to the sentinel-joined words;
    * vacuous when an `[UNK]` erased a word) and `count_sane`
    * (word count ≤ token count ≤ char count). */
  def encodeAudit(
      encoded: DataFrame,
      idCol: String,
      textCol: String,
      preTokenize: String = Bpe.Whitespace): DataFrame = {
    val ws = Bpe.wordsOf(textCol, preTokenize)
    val sep = "\u0001"
    val reconstructed = regexp_replace(
      concat_ws(sep, col("tokens")), sep + Continuation, "")
    val hasUnk = array_contains(col("tokens"), UnkToken)
    encoded.select(
      col(idCol),
      size(ws).cast("long").as("n_words"),
      hasUnk.as("has_unk"),
      (hasUnk || reconstructed === concat_ws(sep, ws) || size(ws) === 0)
        .as("roundtrip_ok"),
      (col("n_tokens") >= size(ws) &&
        col("n_tokens") <= length(concat_ws("", ws)) ||
        size(ws) === 0).as("count_sane"))
  }
}
