package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary training and tokenization.
  *
  * Training follows the published BPE-for-NLP shape (Sennrich et al. 2016;
  * the GPT-2 tokenizer trains the same way): the corpus-sized work is ONE
  * word-frequency aggregation — a map-side-combinable groupBy capped to the
  * `maxWords` most frequent words — and the merge loop then runs on the
  * driver over that BOUNDED table. At 100 TB the word-count pass is the
  * only full-corpus scan; its output is a vocabulary-sized frame (capped,
  * ~50k rows), which is the standard and honest place to leave distributed
  * execution — a per-iteration distributed pair-count would pay
  * `numMerges` full shuffles for no extra fidelity, because merges beyond
  * the frequency cap's coverage are noise anyway.
  *
  * Words are character sequences with an end-of-word sentinel `</w>`
  * appended to the final character, so merges never cross word
  * boundaries and detokenization is exact: concatenating a word's tokens
  * and stripping `</w>` reproduces the word. Ties in pair frequency break
  * deterministically by (count DESC, left ASC, right ASC) — same corpus,
  * same merges, on any cluster layout.
  *
  * Encoding is embarrassingly parallel: the ranked merge table is tiny
  * (`numMerges` rows), broadcast inside the UDF closure, and applied
  * greedily (lowest rank first — the BPE contract). A per-task memo map
  * exploits the Zipf shape of natural text: each distinct word is encoded
  * once per task, not once per occurrence.
  */
object Bpe {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** End-of-word sentinel, fused onto a word's last character. */
  val EndOfWord = "</w>"

  /** Pre-tokenizer modes. [[Whitespace]] splits on `\s+` (the original,
    * oracle-simplest rule; punctuation stays glued to words).
    * [[Gpt2]] is the GPT-2 family's regex segmentation: contractions
    * split off, letter runs / digit runs / punctuation runs become
    * separate pre-tokens, and a single leading space travels WITH the
    * following token (the space-prefix convention), so concatenating the
    * pre-tokens reproduces the input byte-for-byte — decode under this
    * mode is exact including whitespace, not whitespace-normalized. */
  val Whitespace = "whitespace"
  val Gpt2 = "gpt2"
  val PreTokenizeModes: Seq[String] = Seq(Whitespace, Gpt2)

  /** The GPT-2 pre-tokenization pattern, with one disclosed divergence
    * from the original: the trailing-whitespace alternative `\s+(?!\S)`
    * is simplified to plain `\s+` because RE2 (the DuckDB oracle engine)
    * has no lookahead — so an N>1 whitespace run segments as one
    * whitespace token instead of (run-1, prefixed-next-token). Both
    * engines use leftmost-first alternation, so Spark (java.util.regex)
    * and the oracle (RE2) segment identically; concatenation of the
    * pre-tokens is the input either way. */
  val Gpt2Pattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Split text into pre-tokens per `mode` — every downstream artifact
    * (word counts, merges, encode, audit) derives from this one rule.
    * Shared with [[Unigram]] so both tokenizers segment identically. */
  private[text] def wordsOf(textCol: String, mode: String) = mode match {
    case Whitespace => filter(split(col(textCol), "\\s+"), w => length(w) > 0)
    case Gpt2       => regexp_extract_all(col(textCol), lit(Gpt2Pattern), lit(0))
    case other =>
      throw new IllegalArgumentException(
        s"unknown preTokenize mode '$other' (expected ${PreTokenizeModes.mkString(" | ")})")
  }

  private def wordsOf(textCol: String): org.apache.spark.sql.Column =
    wordsOf(textCol, Whitespace)

  /** One string per Unicode CODE POINT — not per Java char: splitting a
    * surrogate pair (emoji, rare CJK) into lone surrogates would make the
    * pieces unencodable as UTF-8 (byte fallback would emit '?'). */
  private[text] def codePointStrings(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      val n = Character.charCount(s.codePointAt(i))
      out += s.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** Initial symbol sequence of a word: one symbol per code point, with
    * the sentinel fused onto the last ("low" -> [l, o, w</w>]). */
  private[text] def symbols(word: String): Vector[String] = {
    val cs = codePointStrings(word)
    cs.init :+ (cs.last + EndOfWord)
  }

  /** Train `numMerges` BPE merges from the corpus. Returns a DataFrame
    * `(rank INT, left STRING, right STRING, pair_count BIGINT)` ordered by
    * rank — the persistable artifact `encode` consumes. The loop stops
    * early when no pair reaches `minPairCount`. */
  def train(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      maxWords: Int = 50000,
      minPairCount: Long = 2L,
      preTokenize: String = Whitespace): DataFrame = {
    require(numMerges > 0, s"need numMerges > 0, got $numMerges")
    trainFromCounts(df.sparkSession,
      cappedWordCounts(df, textCol, maxWords, preTokenize),
      numMerges, minPairCount)
  }

  /** THE one corpus-sized pass of BPE training: frequency-capped word
    * counts (a map-side-combinable groupBy, ties at the cap boundary
    * broken by word so the table is deterministic on any layout). Every
    * other training artifact — merges, charset, token-id vocabulary —
    * derives from this bounded output without touching the corpus again. */
  def cappedWordCounts(
      df: DataFrame,
      textCol: String,
      maxWords: Int = 50000,
      preTokenize: String = Whitespace): Seq[(String, Long)] = {
    require(maxWords > 0, s"need maxWords > 0, got $maxWords")
    df.select(explode(wordsOf(textCol, preTokenize)).as("__w"))
      .groupBy(col("__w"))
      .agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w").asc)
      .limit(maxWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
  }

  /** One batch's exact word-count state: (word, n) — the tokenizer's
    * corpus statistic as a MERGEABLE state table (the same family as
    * [[graft.dp.IncrementalAgg.aggState]]). Fold batches with
    * [[mergeWordCounts]] and the tokenizer trains from the maintained
    * state with ZERO further corpus scans ([[trainArtifactsFromState]]) —
    * the steady-state shape at 100 TB, where re-scanning history per
    * retrain is off the table. Uncapped on purpose: the state is the
    * corpus's word distribution (bounded by vocabulary size, which Zipf
    * keeps far below token count); the frequency cap applies at TRAIN
    * time, so a once-rare word that becomes frequent enters the capped
    * table without any recount. */
  def wordCountState(
      df: DataFrame, textCol: String, preTokenize: String = Whitespace): DataFrame =
    df.select(explode(wordsOf(textCol, preTokenize)).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))

  /** Fold two word-count states: union + sum per word. Associative and
    * commutative — daily folds equal a from-scratch count (the
    * `word_count_state` oracle pins it). Signature matches
    * [[graft.dp.IncrementalAgg.foldStateDir]]'s merge hook. */
  def mergeWordCounts(a: DataFrame, b: DataFrame, keyCol: String = "word"): DataFrame =
    a.unionByName(b).groupBy(col(keyCol)).agg(sum(col("n")).as("n"))

  /** Fold one batch's [[wordCountState]] into the state directory at
    * `statePath` ([[graft.dp.IncrementalAgg.foldStateDir]], replay-safe by
    * `batchId`). The state records the pre-tokenize mode it was created
    * under, in the same atomic swap; a fold under another mode is refused,
    * since its words are split differently. */
  def foldWordCounts(
      batch: DataFrame,
      textCol: String,
      statePath: String,
      batchId: Long = Long.MinValue,
      preTokenize: String = Whitespace): Unit =
    graft.dp.IncrementalAgg.foldStateDir(
      batch.sparkSession, statePath, wordCountState(batch, textCol, preTokenize), "word",
      batchId, merge = mergeWordCounts, tag = Some(preTokenize))

  /** The capped (word, count) table from a maintained state directory —
    * [[cappedWordCounts]] without touching any raw text. Fails when the
    * state was folded under a pre-tokenize mode other than `preTokenize`;
    * a state folded before modes were recorded is not checked, and a WARN
    * says so. */
  def countsFromState(
      spark: SparkSession,
      statePath: String,
      maxWords: Int = 50000,
      preTokenize: String = Whitespace): Seq[(String, Long)] = {
    graft.dp.IncrementalAgg.stateTag(spark, statePath) match {
      case None =>
        log.warn(s"word-count state $statePath: its pre_tokenize mode was never " +
          s"recorded, so train cannot check it against $preTokenize; delete the " +
          "state and fold again to get the check")
      case Some(folded) if folded != preTokenize =>
        throw new IllegalArgumentException(
          s"word-count state $statePath was folded with pre_tokenize $folded, not $preTokenize")
      case _ =>
    }
    spark.read.parquet(statePath)
      .orderBy(col("n").desc, col("word").asc)
      .limit(maxWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
  }

  /** [[trainArtifacts]] from a maintained word-count state directory:
    * merges + token-id vocabulary with zero corpus scans. */
  def trainArtifactsFromState(
      spark: SparkSession,
      statePath: String,
      numMerges: Int,
      maxWords: Int = 50000,
      minPairCount: Long = 2L,
      preTokenize: String = Whitespace): (DataFrame, DataFrame) = {
    val counts = countsFromState(spark, statePath, maxWords, preTokenize)
    val merges = trainFromCounts(spark, counts, numMerges, minPairCount)
    (merges, vocabWithIdsFromCounts(spark, counts, merges))
  }

  /** Merge table AND token-id vocabulary from ONE corpus scan — the
    * word-count pass feeds both the driver merge loop and the charset, so
    * the full tokenizer-training artifact set costs exactly one pass over
    * the text (an earlier revision re-exploded every character of every
    * word occurrence in [[vocabWithIds]] — a second full scan for a
    * driver-sized charset). Returns (merges, vocabIds). */
  def trainArtifacts(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      maxWords: Int = 50000,
      minPairCount: Long = 2L,
      preTokenize: String = Whitespace): (DataFrame, DataFrame) = {
    require(numMerges > 0, s"need numMerges > 0, got $numMerges")
    val spark = df.sparkSession
    val counts = cappedWordCounts(df, textCol, maxWords, preTokenize)
    val merges = trainFromCounts(spark, counts, numMerges, minPairCount)
    (merges, vocabWithIdsFromCounts(spark, counts, merges))
  }

  /** Driver-side merge loop over a bounded (word, count) table. Exposed so
    * pre-aggregated word counts (e.g. from an incremental state table) can
    * train without touching raw text. */
  def trainFromCounts(
      spark: SparkSession,
      wordCounts: Seq[(String, Long)],
      numMerges: Int,
      minPairCount: Long = 2L): DataFrame = {
    import spark.implicits._
    // mutable working set: symbol sequences weighted by word frequency
    var words: Vector[(Vector[String], Long)] =
      wordCounts.filter(_._1.nonEmpty).map { case (w, c) => (symbols(w), c) }.toVector
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pairCounts.update(k, pairCounts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        val ((l, r), c) = pairCounts.minBy { case ((pl, pr), pc) => (-pc, pl, pr) }
        if (c < minPairCount) done = true
        else {
          merges += ((rank, l, r, c))
          val fused = l + r
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
    merges.result().toDF("rank", "left", "right", "pair_count")
  }

  /** The vocabulary implied by a merge table: every merged symbol plus all
    * single characters (with and without sentinel) seen in the merges. */
  def vocab(merges: DataFrame): DataFrame =
    merges.select(concat(col("left"), col("right")).as("token"))
      .union(merges.select(col("left")))
      .union(merges.select(col("right")))
      .distinct()

  /** Reserved id for out-of-vocabulary tokens in [[vocabWithIds]].
    * With byte fallback (the default vocabulary shape since the 512
    * byte tokens joined [[vocabWithIdsFromCounts]]) this id is
    * UNREACHABLE from [[encodeIds]] — it remains reserved for vocab
    * compatibility and for decoding streams produced by pre-fallback
    * vocabularies. */
  val UnkId = 0
  val UnkToken = "<unk>"

  /** Byte-fallback token for byte value `b` (0-255): `<0xNN>` — the
    * SentencePiece `byte_fallback` / GPT-2 byte-level convention that
    * makes ARBITRARY text representable with zero `<unk>`: any character
    * outside the trained charset encodes as its UTF-8 bytes. */
  def byteToken(b: Int): String = f"<0x$b%02X>"

  /** The byte-token surface form [[byteToken]] writes — single owner of
    * the contract; Unigram's decoder reuses it so the two tokenizers
    * cannot drift. */
  private[text] val ByteTokenRe = "^<0x([0-9A-F]{2})>$".r

  /** `rlike` form of the byte-token contract for COUNTING byte-fallback
    * surfaces in a vocab or an encoded stream: unlike [[ByteTokenRe]]
    * (which matches the bare form its callers strip [[EndOfWord]] before
    * feeding), this one also accepts the word-final `<0xNN></w>` entries
    * that [[vocabWithIds]] ships (both forms per byte) and
    * `byteFallbackIds` emits on a word's last byte — a bare-only count
    * would miss half the vocab's byte entries and every word-final
    * fallback use. RE2-compatible (no lookaround), so DuckDB oracles can
    * replay it verbatim. */
  private[graft] val ByteTokenCountPat = "^<0x[0-9A-F]{2}>(</w>)?$"

  /** UTF-8 bytes of `body` as byte-token ids; the last byte carries the
    * sentinel when `sentinel` is set (so word boundaries survive the
    * fallback and decode stays exact). Missing byte tokens (a vocabulary
    * persisted before byte fallback existed) degrade to [[UnkId]]. */
  private def byteFallbackIds(
      body: String, sentinel: Boolean, ids: Map[String, Int]): Vector[Int] = {
    val bs = body.getBytes("UTF-8")
    bs.iterator.zipWithIndex.map { case (b, i) =>
      val t = byteToken(b & 0xff) +
        (if (sentinel && i == bs.length - 1) EndOfWord else "")
      ids.getOrElse(t, UnkId)
    }.toVector
  }

  /** Deterministic token→id table: `(token, token_id)` with id 0 reserved
    * for `<unk>`, then the base symbols of the frequency-capped vocabulary
    * words (every character, in both plain and sentinel-fused form) and
    * every merge output, ids assigned by token sort order — same corpus +
    * merges, same ids, any engine.
    *
    * Runs the capped word-count pass itself; when the counts are already
    * in hand (from [[train]]'s pass) use [[trainArtifacts]] or
    * [[vocabWithIdsFromCounts]] so the whole artifact set costs one scan.
    * The charset of the capped words is the charset the tokenizer can
    * assign real ids to — characters appearing only in beyond-the-cap
    * words encode to [[UnkId]], the standard bounded-vocab behavior. */
  def vocabWithIds(
      corpus: DataFrame,
      textCol: String,
      merges: DataFrame,
      maxWords: Int = 50000): DataFrame =
    vocabWithIdsFromCounts(
      corpus.sparkSession, cappedWordCounts(corpus, textCol, maxWords), merges)

  /** [[vocabWithIds]] from an in-hand capped word-count table — zero
    * corpus scans: the charset is derived driver-side from the (bounded)
    * vocabulary words themselves, PLUS the 512 byte-fallback tokens
    * (`<0xNN>` and `<0xNN></w>` for every byte value) so [[encodeIds]]
    * round-trips arbitrary Unicode with zero `<unk>` — the GPT-2
    * byte-level / SentencePiece `byte_fallback` guarantee. */
  def vocabWithIdsFromCounts(
      spark: SparkSession,
      wordCounts: Seq[(String, Long)],
      merges: DataFrame): DataFrame = {
    import spark.implicits._
    val baseChars = wordCounts.iterator.map(_._1).flatMap(codePointStrings).toArray.distinct
    val mergeTokens = merges
      .select(concat(col("left"), col("right")).as("t"))
      .as[String].collect()
    val byteTokens = (0 until 256)
      .flatMap(b => Seq(byteToken(b), byteToken(b) + EndOfWord))
    val tokens =
      (baseChars.flatMap(c => Seq(c, c + EndOfWord)) ++ mergeTokens ++ byteTokens)
        .distinct.sorted
    (Seq((UnkToken, UnkId)) ++ tokens.zipWithIndex.map { case (t, i) => (t, i + 1) })
      .toDF("token", "token_id")
  }

  /** Greedy BPE encoder for one word given merge ranks. Standard
    * algorithm: repeatedly fuse the present pair with the lowest rank
    * until none of the word's adjacent pairs is in the table. */
  private[text] def encodeWord(
      word: String, ranks: Map[(String, String), Int]): Vector[String] = {
    var syms = symbols(word)
    var continue = syms.length > 1
    while (continue) {
      var best = Int.MaxValue
      var bi = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) { best = r; bi = i }
        i += 1
      }
      if (bi < 0) continue = false
      else {
        val (l, r) = (syms(bi), syms(bi + 1))
        val fused = l + r
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
            out += fused; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
        continue = syms.length > 1
      }
    }
    syms
  }

  /** Tokenize `textCol` with a trained merge table: adds
    * `tokens ARRAY<STRING>` (word tokens in order, sentinel-carrying) and
    * `n_tokens`. The merge table is collected (numMerges rows — KBs) into
    * the UDF closure, so encode is a pure scan: no join, no shuffle. A
    * per-task memo caches each distinct word's encoding (Zipf: the hot
    * words dominate occurrences). */
  def encode(
      df: DataFrame,
      textCol: String,
      merges: DataFrame,
      preTokenize: String = Whitespace): DataFrame = {
    val ranks: Map[(String, String), Int] = merges
      .select(col("rank").cast("int"), col("left"), col("right"))
      .collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getInt(0))
      .toMap
    val enc = udf(new (Seq[String] => Seq[String]) with Serializable {
      @transient private lazy val memo =
        scala.collection.mutable.HashMap.empty[String, Vector[String]]
      override def apply(words: Seq[String]): Seq[String] =
        words.flatMap(w => memo.getOrElseUpdate(w, encodeWord(w, ranks)))
    })
    df.withColumn("tokens", enc(wordsOf(textCol, preTokenize)))
      .withColumn("n_tokens", size(col("tokens")))
  }

  /** [[encode]] to NUMERIC ids — what a trainer actually consumes: adds
    * `token_ids ARRAY<INT>` (and `n_tokens`) using a broadcast token→id
    * map. Tokens outside the vocabulary fall back to their UTF-8 BYTE
    * tokens (sentinel preserved on the final byte), so text containing
    * characters the training corpus never saw still encodes losslessly —
    * zero `<unk>`, exact [[decodeIds]] round-trip. Same pure-scan shape
    * as `encode` (ranks + vocab ride the closure, no join). */
  def encodeIds(
      df: DataFrame,
      textCol: String,
      merges: DataFrame,
      vocabIds: DataFrame,
      preTokenize: String = Whitespace): DataFrame = {
    val ranks: Map[(String, String), Int] = merges
      .select(col("rank").cast("int"), col("left"), col("right"))
      .collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getInt(0))
      .toMap
    val ids: Map[String, Int] = vocabIds
      .select(col("token"), col("token_id").cast("int"))
      .collect()
      .map(r => r.getString(0) -> r.getInt(1))
      .toMap
    val enc = udf(new (Seq[String] => Seq[Int]) with Serializable {
      @transient private lazy val memo =
        scala.collection.mutable.HashMap.empty[String, Vector[Int]]
      override def apply(words: Seq[String]): Seq[Int] =
        words.flatMap(w => memo.getOrElseUpdate(w,
          encodeWord(w, ranks).flatMap { t =>
            ids.get(t) match {
              case Some(i) => Vector(i)
              case None =>
                val sentinel = t.endsWith(EndOfWord)
                val body = if (sentinel) t.dropRight(EndOfWord.length) else t
                byteFallbackIds(body, sentinel, ids)
            }
          }))
    })
    df.withColumn("token_ids", enc(wordsOf(textCol, preTokenize)))
      .withColumn("n_tokens", size(col("token_ids")))
  }

  /** [[encodeIds]] plus per-token CHARACTER offsets into the text:
    * adds `token_ids`, `token_starts`, `token_ends` (parallel arrays,
    * [start, end) code-point intervals) and `n_tokens`. In [[Gpt2]]
    * mode pre-tokens carry their whitespace, so the intervals tile the
    * input text exactly; in [[Whitespace]] mode they index the
    * single-space-joined normalized text (the [[decodeIds]]
    * convention). Token surfaces tile each word by construction (BPE
    * merges concatenate symbols; byte-fallback tokens take their
    * source character's 1-char interval, several byte tokens sharing
    * it), so downstream span alignment — e.g. chat loss masks — is
    * exact. Offsets count CODE POINTS (the cross-engine unit), not
    * UTF-16 units. */
  def encodeIdsWithOffsets(
      df: DataFrame,
      textCol: String,
      merges: DataFrame,
      vocabIds: DataFrame,
      preTokenize: String = Whitespace): DataFrame = {
    val ranks: Map[(String, String), Int] = merges
      .select(col("rank").cast("int"), col("left"), col("right"))
      .collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getInt(0))
      .toMap
    val ids: Map[String, Int] = vocabIds
      .select(col("token"), col("token_id").cast("int"))
      .collect()
      .map(r => r.getString(0) -> r.getInt(1))
      .toMap
    val joinerLen = if (preTokenize == Gpt2) 0 else 1
    val enc = udf(new (Seq[String] => (Seq[Int], Seq[Long], Seq[Long]))
        with Serializable {
      @transient private lazy val memo =
        scala.collection.mutable.HashMap.empty[String, Vector[String]]
      private def cps(s: String): Int = s.codePointCount(0, s.length)
      override def apply(words: Seq[String]): (Seq[Int], Seq[Long], Seq[Long]) = {
        val outIds = Vector.newBuilder[Int]
        val starts = Vector.newBuilder[Long]
        val ends = Vector.newBuilder[Long]
        var off = 0L
        var first = true
        words.foreach { w =>
          if (!first) off += joinerLen
          first = false
          var wo = off
          memo.getOrElseUpdate(w, encodeWord(w, ranks)).foreach { t =>
            val sentinel = t.endsWith(EndOfWord)
            val body = if (sentinel) t.dropRight(EndOfWord.length) else t
            ids.get(t) match {
              case Some(i) =>
                val n = cps(body)
                outIds += i; starts += wo; ends += wo + n
                wo += n
              case None =>
                // byte fallback: each source character's UTF-8 bytes
                // become byte tokens sharing that character's interval
                val chars = codePointStrings(body)
                chars.zipWithIndex.foreach { case (c, ci) =>
                  val bs = c.getBytes("UTF-8")
                  bs.zipWithIndex.foreach { case (b, bi) =>
                    val last = ci == chars.length - 1 && bi == bs.length - 1
                    val bt = byteToken(b & 0xff) +
                      (if (sentinel && last) EndOfWord else "")
                    outIds += ids.getOrElse(bt, UnkId)
                    starts += wo; ends += wo + 1
                  }
                  wo += 1
                }
            }
          }
          off += cps(w)
        }
        (outIds.result(), starts.result(), ends.result())
      }
    })
    df.withColumn("__enc", enc(wordsOf(textCol, preTokenize)))
      .withColumn("token_ids", col("__enc._1"))
      .withColumn("token_starts", col("__enc._2"))
      .withColumn("token_ends", col("__enc._3"))
      .withColumn("n_tokens", size(col("token_ids")))
      .drop("__enc")
  }

  /** Invert [[encodeIds]]: reconstruct the whitespace-normalized text
    * (words joined by single spaces) from `idsCol`. Non-byte tokens
    * contribute their UTF-8 bytes, `<0xNN>` tokens their byte; a
    * sentinel-carrying token closes the current word, whose byte buffer
    * then decodes as UTF-8 — so characters that were split into bytes by
    * the fallback reassemble exactly. The id→token table rides the
    * closure; pure scan. */
  def decodeIds(
      df: DataFrame,
      idsCol: String,
      vocabIds: DataFrame,
      outCol: String = "decoded_text",
      preTokenize: String = Whitespace): DataFrame = {
    // gpt2 pre-tokens CARRY their whitespace, so decode concatenates
    // them directly and reproduces the input exactly; whitespace mode
    // rejoins with single spaces (whitespace-normalized round-trip)
    val joiner = if (preTokenize == Gpt2) "" else " "
    val toks: Map[Int, String] = vocabIds
      .select(col("token_id").cast("int"), col("token"))
      .collect()
      .map(r => r.getInt(0) -> r.getString(1))
      .toMap
    val dec = udf { (tokenIds: Seq[Int]) =>
      val bytes = scala.collection.mutable.ArrayBuffer.empty[Byte]
      val words = Vector.newBuilder[String]
      def flush(): Unit = {
        words += new String(bytes.toArray, "UTF-8"); bytes.clear()
      }
      tokenIds.foreach { i =>
        val t = toks.getOrElse(i, UnkToken)
        val sentinel = t.endsWith(EndOfWord)
        val body = if (sentinel) t.dropRight(EndOfWord.length) else t
        body match {
          case ByteTokenRe(hex) => bytes += Integer.parseInt(hex, 16).toByte
          case s                => bytes ++= s.getBytes("UTF-8")
        }
        if (sentinel) flush()
      }
      if (bytes.nonEmpty) flush() // tolerate a sentinel-less tail
      words.result().mkString(joiner)
    }
    df.withColumn(outCol, dec(col(idsCol)))
  }

  /** Oracle-checkable audit of an encoded frame: per row, the exact word
    * count (both engines can derive it) and two invariant flags that must
    * be uniformly TRUE — the tokens reconstruct the input words exactly
    * (losslessness: concat tokens, strip sentinels, compare against the
    * whitespace-joined words), and the token count is sane (>= one per
    * word, <= one per UTF-8 BYTE — the byte-fallback worst case; a plain
    * per-character bound would flag multi-byte fallback docs). */
  def encodeAudit(
      encoded: DataFrame,
      idCol: String,
      textCol: String,
      preTokenize: String = Whitespace): DataFrame = {
    val ws = wordsOf(textCol, preTokenize)
    encoded.select(
      col(idCol),
      size(ws).cast("long").as("n_words"),
      (concat_ws("", col("tokens")) ===
        concat(concat_ws(EndOfWord, ws), lit(EndOfWord)) || size(ws) === 0)
        .as("roundtrip_ok"),
      (col("n_tokens") >= size(ws) &&
        col("n_tokens") <= octet_length(concat_ws("", ws)) ||
        size(ws) === 0).as("count_sane"))
  }
}
