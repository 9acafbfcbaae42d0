package graft.pipeline

import graft.config.Context
import graft.dp.Cleaning
import graft.eval.Metrics
import graft.io.Tables
import graft.model.Training
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The four production jobs of the reference's job catalog re-targeted at
  * the testdata schemas (reference: production/{data_cleaning,
  * feature_engineering,training,scoring}.py; jobs wired per
  * production/conf/job_catalog/local.yml: data-cleaning →
  * feature-engineering → model-gen → model-eval).
  *
  * Every stage is a parse phase over its [[Params]] that returns the run
  * phase (see [[Jobs.register]]): keys are read, typed and defaulted
  * once, before the catalog runs anything. */
object Production {

  private def featureCols = Seq(
    "c_acctbal", "last_click_date_diff", "total_click_value",
    "last_view_date_diff", "total_view_value",
    "last_purchase_date_diff", "total_purchase_value")

  /** Zone write with an optional pre-flight scale audit: with
    * `core.audit_plans: true`, every frame a job is about to persist must
    * pass [[graft.plans.PlanAudit.assertScaleSafe]] — a stage that
    * accidentally introduces a global window / cartesian / one-partition
    * funnel fails LOUDLY at submission instead of melting on the cluster.
    * The audit inspects the optimized plan only; nothing is executed
    * twice. */
  private def save(
      ctx: Context,
      df: DataFrame,
      path: String,
      allow: Set[String] = Set.empty): Unit = {
    if (Context.dig(ctx.config, "core.audit_plans").exists(_.toString.toBoolean))
      graft.plans.PlanAudit.assertScaleSafe(df, allow = allow)
    Tables.saveData(df, path)
  }

  /** Append a decision/audit row-frame with a `run_ts` stamp instead of
    * overwriting: the maintenance tasks promise an audit TRAIL, so every
    * run's decision must stay readable after the next one (latest row =
    * max run_ts). Rows-per-run is O(shards), never data-sized, so the
    * table grows by bytes per maintenance tick.
    *
    * Upgrade migration: a report written by the pre-r20 OVERWRITE tasks
    * has no `run_ts` column; appending stamped files beside it would
    * leave a mixed-schema table whose reads either miss the column or
    * null it nondeterministically (whichever footer Spark samples). The
    * legacy table is report-sized (one run's rows), so it is rewritten
    * once with `run_ts = null` — null sorts BEFORE every stamped run
    * under the `orderBy(run_ts)` latest-row convention, which is exactly
    * the truth: those rows predate the trail. The rewrite rides
    * [[graft.io.Compaction.compactParquet]]'s transform hook, so the
    * migration gets the staged-write + checked-rename publish and the
    * crashed-publish recovery the shared core already tests — a crash
    * mid-migration can never lose the audit history a plain Overwrite
    * would delete before rewriting. The whole check is memoized per
    * path for the process lifetime: the condition can be true at most
    * once, so steady-state ticks skip the listing + footer read. */
  private val reportsMigrated =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def appendReport(
      ctx: Context,
      df: DataFrame,
      path: String): Unit = {
    import org.apache.spark.sql.functions.{current_timestamp, lit}
    if (Context.dig(ctx.config, "core.audit_plans").exists(_.toString.toBoolean))
      graft.plans.PlanAudit.assertScaleSafe(df)
    val spark = ctx.spark
    if (!reportsMigrated.contains(path)) {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val backup = new org.apache.hadoop.fs.Path(
        p.getParent, s".precompact_${p.getName}")
      if (!fs.exists(p) && fs.exists(backup)) {
        // a crashed migration publish: the backup is authoritative —
        // recover through the shared compact core before reading
        val order = spark.read.parquet(backup.toString).columns.head
        graft.io.Compaction.compactParquet(spark, path, Seq(order))
      }
      if (fs.exists(p)) {
        val legacy = spark.read.parquet(path)
        if (!legacy.columns.contains("run_ts"))
          graft.io.Compaction.compactParquet(spark, path,
            Seq(legacy.columns.head),
            transform = _.withColumn("run_ts", lit(null).cast("timestamp")))
      }
      reportsMigrated.add(path)
    }
    df.withColumn("run_ts", current_timestamp())
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(path)
  }

  /** The decontamination stages' eval set. The legacy convention (no
    * `eval_input`) carves the first `eval_limit` docs (default 5) out of
    * raw.documents — a fixture-sized stand-in. When `eval_input` names a
    * DEDICATED held-out zone (r17), the WHOLE zone is the eval set
    * unless `eval_limit` is given explicitly: silently truncating a
    * real 10k-doc eval corpus to its 5 lowest doc_ids would let the
    * other 9,995 docs leak into training while the gate reports
    * success. */
  private def evalZone(p: Params): Context => DataFrame = {
    val in = p.optStr("eval_input")
    val limit = p.optInt("eval_limit").orElse(if (in.isEmpty) Some(5) else None)
    ctx => {
      val zone = Tables.readData(ctx.spark, Seq(ctx.dataPath(in.getOrElse("raw.documents"))))
      limit.fold(zone)(zone.orderBy(col("doc_id")).limit(_))
    }
  }

  private val AnnKinds = Seq("ivf", "lsh", "ivfpq", "ivf_sharded", "ivfpq_sharded")

  /** The ann-serving search dispatch shared by the `search`,
    * `retrieval-eval` and `retrieval-tune` tasks: kind defaults to what
    * the persisted index SAYS it is — a downstream stage shouldn't have
    * to repeat the build stage's choice (r17) — and the evaluator grades
    * the exact same search (nprobe / probes / refine params included)
    * that `search` serves. 0 / -1 select the operators' auto policies. */
  private final case class Search(
      kind: Option[String], k: Int, nprobe: Int = 0, probes: Int = 0, refine: Int = -1) {
    def run(ctx: Context, queries: DataFrame): DataFrame = {
      import graft.similarity.AnnIndex
      val s = ctx.spark
      val dir = ctx.dataPath("models.ann_index")
      kind.getOrElse(AnnIndex.kindOf(s, dir)) match {
        case "ivf" => AnnIndex.searchIvf(
          s, dir, queries, "vec_id", "embedding", k, nprobe = nprobe)
        case "lsh" => AnnIndex.searchLsh(
          s, dir, queries, "vec_id", "embedding", k, probes = probes)
        case "ivfpq" => AnnIndex.searchIvfPq(
          s, dir, queries, "vec_id", "embedding", k, nprobe = nprobe, refine = refine)
        case "ivf_sharded" => AnnIndex.searchIvfSharded(
          s, dir, queries, "vec_id", "embedding", k, nprobe = nprobe)
        case "ivfpq_sharded" => AnnIndex.searchIvfPqSharded(
          s, dir, queries, "vec_id", "embedding", k, nprobe = nprobe, refine = refine)
      }
    }
  }
  private object Search {
    /** kind + k; the probe knobs stay on their auto policies */
    def base(p: Params): Search = Search(p.optChoice("kind", AnnKinds), p.int("k", 10))
    def parse(p: Params): Search = {
      val auto = base(p)
      auto.copy(nprobe = p.int("nprobe", auto.nprobe), probes = p.int("probes", auto.probes),
        refine = p.int("refine", auto.refine))
    }
  }

  /** The id column, context length and shard count every packing stage
    * reads. */
  private final case class Pack(idCol: String, ctxTokens: Int, nShards: Int)
  private def pack(p: Params, idCol: String = "doc_id") =
    Pack(p.str("id_col", idCol), p.int("ctx_tokens", 2048), p.int("n_shards", 64))

  /** The tokenizer stages' pre-tokenization mode (text/Bpe.scala). */
  private def preTokenize(p: Params) =
    p.choice("pre_tokenize", graft.text.Bpe.Whitespace, graft.text.Bpe.PreTokenizeModes)

  /** The prompt-text table DPO and RFT rendering join on, its id column
    * renamed to the pairs' prompt column and its text to `__prompt`. */
  private def promptTexts(p: Params, promptCol: String): Context => DataFrame = {
    val in = p.str("prompts", "raw.prompts")
    val idCol = p.str("prompt_id_col", "prompt_id")
    val textCol = p.str("prompt_text_col", "prompt")
    ctx => Tables.readData(ctx.spark, Seq(ctx.dataPath(in)))
      .select(col(idCol).as(promptCol), col(textCol).as("__prompt"))
  }

  /** Register the commonest stage shape: read the `input` zone, apply the
    * operator the parse phase returns, save it to the `output` zone. */
  private def transform(job: String, task: String, input: String, output: String)(
      op: Params => DataFrame => DataFrame): Unit =
    Jobs.register(job, task) { p =>
      val in = p.str("input", input)
      val f = op(p)
      val out = p.str("output", output)
      ctx => save(ctx, f(Tables.readData(ctx.spark, Seq(ctx.dataPath(in)))), ctx.dataPath(out))
    }

  def registerAll(): Unit = {
    Jobs.register("data-cleaning", "clean-tables") { _ => ctx =>
      val s = ctx.spark
      // snake_case + dedup + string scrub, written to the clean zone
      Seq("customer", "orders").foreach { name =>
        val df = Tables.readData(s, Seq(ctx.dataPath(s"raw.$name")))
        val cleaned = Cleaning.dropDuplicateRows(Cleaning.cleanColumns(df))
        save(ctx, cleaned, ctx.dataPath(s"clean.$name"))
      }
      val ev = Tables.eventTime(Tables.readData(s, Seq(ctx.dataPath("raw.events"))))
      save(ctx,
        Cleaning.dropDuplicateRows(Cleaning.cleanColumns(ev)),
        ctx.dataPath("clean.events"))
    }

    Jobs.register("feature-engineering", "build-features") { _ => ctx =>
      val s = ctx.spark
      val refDate = ctx.string("core.reference_date")
      val lblRef = ctx.string("core.label_reference_date")
      val windowDays = ctx.string("core.num_days_prediction", "90").toInt
      val ev = Tables.readData(s, Seq(ctx.dataPath("clean.events")))
        .withColumnRenamed("user_id", "c_custkey")
      def src(tpe: String) =
        FeatureEngineering.recencyTotals(
          ev.filter(col("event_type") === tpe), "c_custkey", "ts", "value", refDate, tpe)
      val label = FeatureEngineering.labelTable(
        Tables.readData(s, Seq(ctx.dataPath("clean.orders"))),
        "o_custkey", "o_orderdate", lblRef, windowDays)
      val merged = FeatureEngineering.merge(
        Tables.readData(s, Seq(ctx.dataPath("clean.customer")))
          .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment")),
        "c_custkey",
        Seq(src("click"), src("view"), src("purchase")),
        label, "o_custkey")
      save(ctx, merged.na.fill(0), ctx.dataPath("processed.features"))
    }

    Jobs.register("model-gen", "train") { p =>
      val modelName = p.choice("model", "logistic_regression",
        (graft.model.Registry.classificationModels ++ graft.model.Registry.regressionModels).toSeq.sorted)
      // a `param_grid: {regParam: [0.0, 0.1], ...}` task param selects the
      // best model by cross-validation over the declared grid (the
      // reference's intended-but-broken config grid, utils.py:45-57);
      // without one, a single fit. A config typo (list, scalar, empty map)
      // is a plan-time error, not a silently absorbed single fit. A label
      // class under 2 examples (as at sf0.001: 14/1) makes CV infeasible:
      // gridSearchOrTrain degrades to a single fit LOUDLY instead of
      // failing the job.
      val grid = p.opt("param_grid", "a non-empty mapping of param -> values") {
        case g: Map[_, _] if g.nonEmpty => g.asInstanceOf[Map[String, Any]].map {
          case (k, vs: List[_]) => k -> vs.toSeq
          case (k, v)           => k -> Seq(v)
        }
      }
      val folds = p.int("num_folds", 3)
      ctx =>
        val df = Tables.readData(ctx.spark, Seq(ctx.dataPath("processed.features")))
        val model = grid.fold(Training.train(df, "target_var", featureCols, modelName))(
          Training.gridSearchOrTrain(df, "target_var", featureCols, modelName, _, folds))
        Training.saveModel(model, ctx.dataPath("models.classifier"))
    }

    // LLM training-data curation over the documents/embeddings tables —
    // the dedup/text/similarity operators as declarative catalog jobs
    // (capability extension; the reference's job surface is tabular-only).
    // Unicode normalization FIRST in a curation chain: equivalent
    // encodings (combining marks vs precomposed, fullwidth variants,
    // stray control bytes) must hash equal before any dedup sees them
    // the raw-crawl stage BEFORE extract-html: WARC files (gzip-member
    // records, the Common-Crawl arrival format) → one row per HTTP
    // response with the payload decoded, landing in the html_pages zone
    // extract-html consumes — raw crawl → text → curated runs entirely
    // inside the engine. One task per WARC file; memory bounded by the
    // largest record (io/Warc.scala).
    Jobs.register("corpus-curation", "crawl-ingest") { p =>
      // one string is one path, never a comma list: Hadoop globs
      // ({2024,2025}) contain commas
      val paths = p.required("input_paths")(p.opt(_, "a WARC path or a list of them") {
        case l: List[_] => l.map(_.toString)
        case one: String => Seq(one)
      })
      val mimePrefix = p.str("mime_prefix", "text/html")
      val out = p.str("output", "raw.html_pages")
      ctx =>
        val pages = graft.io.Warc.readWarc(ctx.spark, paths)
          .filter(col("warc_type") === "response" && col("http_status") === 200)
          .filter(col("mime").startsWith(mimePrefix))
          .select(
            col("target_uri").as("url"), col("warc_date").as("fetch_ts"),
            col("mime"),
            graft.io.Warc.payloadText(col("payload"), col("charset")).as("html"))
        save(ctx, pages, ctx.dataPath(out))
    }

    // the published Gopher rule gate as a declarative stage: documents
    // failing any of the seven rules (word count, mean word length,
    // symbol ratio, bullet/ellipsis lines, alphabetic words, required
    // stopwords) drop before the expensive dedup stages see them
    transform("corpus-curation", "gopher-filter", "raw.documents", "clean.documents_gopher") { p =>
      val minWords = p.int("min_words", 50)
      val maxWords = p.int("max_words", 100000)
      // repetition: true adds the full A1.1 duplicate-content battery
      // (13 ceilings — dup lines/paragraphs, top/repeated n-grams).
      // Published thresholds assume Gopher-length documents; short-doc
      // corpora will see natural pages fail the top-n-gram ceilings
      val repetition = p.bool("repetition", false)
      docs =>
        val byRules = graft.text.TextAnalysis
          .gopherRules(docs, "doc_id", "text", minWords, maxWords)
          .filter(col("gopher_pass")).select("doc_id")
        val passing =
          if (repetition)
            byRules.join(graft.text.TextAnalysis
              .gopherRepetition(docs, "doc_id", "text")
              .filter(col("gopher_rep_pass")).select("doc_id"), Seq("doc_id"))
          else byRules
        docs.join(passing, Seq("doc_id"), "left_semi")
    }

    // the published C4 line+page rule gate as a declarative stage: chrome
    // lines (no terminal punctuation, too few words, "javascript") drop
    // from every page's text, then failing pages (too few sentences,
    // lorem ipsum, curly brackets, policy words) drop entirely. Text is
    // REWRITTEN to the surviving lines — downstream dedup hashes see the
    // cleaned form
    transform("corpus-curation", "c4-filter", "raw.documents", "clean.documents_c4") { p =>
      val minLineWords = p.int("min_line_words", 3)
      val minSentences = p.int("min_sentences", 5)
      val badWords = p.strs("bad_words", Nil)
      docs =>
        val rules = graft.text.TextAnalysis
          .c4Rules(docs, "doc_id", "text", minLineWords, minSentences, badWords)
          .filter(col("c4_pass"))
          .select(col("doc_id"), col("text_clean"))
        docs.drop("text").join(rules, Seq("doc_id")).withColumnRenamed("text_clean", "text")
    }

    // CCNet-style perplexity bucketing as a declarative stage: score the
    // corpus against a clean reference zone, band head/middle/tail per
    // group (CCNet: per language), and keep only the configured bands.
    // The banded columns travel with the documents so downstream mixing
    // can weight by band instead of dropping
    Jobs.register("corpus-curation", "perplexity-bucket") { p =>
      val in = p.str("input", "raw.documents")
      val refIn = p.str("reference", "raw.reference_corpus")
      val groupCol = p.optStr("group_col")
      val nBuckets = p.int("buckets", 3)
      val keep = p.optStrs("keep")
      val order = p.int("order", 5)
      // exact: true switches the band edges from the mergeable approx
      // sketch to exact percentiles — for small corpora / verification
      // runs where sketch edges land on the data values themselves
      val exact = p.bool("exact", false)
      val out = p.str("output", "clean.documents_ppl")
      ctx =>
        val s = ctx.spark
        val docs = Tables.readData(s, Seq(ctx.dataPath(in)))
        val ref = Tables.readData(s, Seq(ctx.dataPath(refIn)))
        val banded = graft.text.TextAnalysis.perplexityBuckets(
          ref, docs, "doc_id", "text", groupCol, nBuckets, order = order, exact = exact)
        val kept = keep.fold(banded)(ks => banded.filter(col("ppl_bucket").isin(ks: _*)))
        save(ctx,
          docs.join(kept.select(col("doc_id"), col("perplexity"), col("ppl_bucket")),
            Seq("doc_id")),
          ctx.dataPath(out))
    }

    // URL-level dedup between crawl-ingest and extract-html (the CCNet/
    // RefinedWeb pre-content stage): one row per CANONICAL url, latest
    // fetch wins — refetches and tracking-param variants fold before any
    // content hash is computed
    transform("corpus-curation", "url-dedup", "raw.html_pages", "raw.html_pages_deduped") { p =>
      val urlCol = p.str("url_col", "url")
      val tsCol = p.str("ts_col", "fetch_ts")
      graft.text.Urls.dedupByUrl(_, urlCol, tsCol)
    }

    // the crawl → text first stage: extract document text from raw HTML
    // (script/style/chrome removal, block-tag newlines, entity decode) —
    // downstream stages read the extracted zone as their raw corpus
    Jobs.register("corpus-curation", "extract-html") { p =>
      val htmlCol = p.str("html_col", "html")
      val in = p.str("input", "raw.html_pages")
      ctx =>
        val pages = Tables.readData(ctx.spark, Seq(ctx.dataPath(in)))
        save(ctx,
          pages
            .withColumn("text", graft.text.TextAnalysis.htmlToText(col(htmlCol)))
            .drop(htmlCol),
          ctx.dataPath("raw.documents"))
    }

    // bridge the crawl zones (url-keyed) into the curation zones
    // (doc_id-keyed): a deterministic id from the canonical url —
    // stable across re-runs and partitionings (no zipWithIndex /
    // monotonically_increasing_id, which renumber on re-read), collision
    // odds ~n²/2^64. The missing link the r17 full-chain e2e surfaced:
    // every curation stage downstream of extract-html keys on doc_id.
    transform("corpus-curation", "assign-ids", "raw.documents", "raw.documents_ids") { p =>
      val keyCol = p.str("key_col", "url_normalized")
      _.withColumn("doc_id", xxhash64(col(keyCol)))
    }

    Jobs.register("corpus-curation", "normalize") { p =>
      val form = p.choice("form", "NFKC", graft.expressions.NormalizeText.Forms.toSeq.sorted)
      ctx =>
        val docs = Tables.readData(ctx.spark, Seq(ctx.dataPath("raw.documents")))
        save(ctx,
          docs.withColumn("text", graft.text.TextAnalysis.normalizeText(col("text"), form)),
          ctx.dataPath("clean.documents_normalized"))
    }

    // input defaults to the raw zone; a chain that ran `normalize` first
    // points it at clean.documents_normalized so unicode-variant
    // duplicates fold into one hash
    Jobs.register("corpus-curation", "dedup-corpus") { p =>
      val in = p.str("input", "raw.documents")
      ctx =>
        val docs = Tables.readData(ctx.spark, Seq(ctx.dataPath(in)))
        save(ctx,
          graft.dedup.Dedup.exactDedup(docs, "doc_id", "text"),
          ctx.dataPath("clean.documents"))
    }

    // sub-line boilerplate removal (exact-substring dedup) after document
    // dedup: cross-document duplicated k-gram spans vanish from every
    // carrier; document-unique prose survives
    Jobs.register("corpus-curation", "span-dedup") { p =>
      val k = p.int("k", 8)
      val minDf = p.int("min_df", 2)
      ctx =>
        val docs = Tables.readData(ctx.spark, Seq(ctx.dataPath("clean.documents")))
        save(ctx,
          graft.dedup.Dedup.removeDuplicatedSpans(docs, "doc_id", "text", k, minDf)
            .withColumnRenamed("text_deduped", "text"),
          ctx.dataPath("clean.documents_spandeduped"))
    }

    // learned quality gate (fastText-style): train the hashed-feature
    // linear classifier once on the labeled zone (reference=1 / junk=0)
    // and persist; scoring reads the persisted model — train-once /
    // score-many, the tokenizer lifecycle shape
    Jobs.register("corpus-curation", "quality-train") { p =>
      val numFeatures = p.int("num_features", 1 << 18)
      ctx =>
        val labeled = Tables.readData(ctx.spark, Seq(ctx.dataPath("raw.quality_labels")))
        graft.text.QualityClassifier.saveModel(
          graft.text.QualityClassifier.train(labeled, "text", "label", numFeatures),
          ctx.dataPath("models.quality_classifier"))
    }
    Jobs.register("corpus-curation", "quality-score") { p =>
      val minProb = p.double("min_prob", 0.5)
      val in = p.str("input", "raw.documents")
      ctx =>
        val model = graft.text.QualityClassifier.loadModel(
          ctx.dataPath("models.quality_classifier"))
        save(ctx,
          graft.text.QualityClassifier.filterByModel(
            Tables.readData(ctx.spark, Seq(ctx.dataPath(in))), model, minProb),
          ctx.dataPath("clean.documents_model_filtered"))
    }

    // learned language ID (fastText-shape char-n-gram LR): train once on
    // a labeled zone (or the built-in 26-language seed corpus when none
    // exists yet) and persist; classification reads the persisted model —
    // the broad-language replacement for the 5-language stopword fast
    // path the text-quality stage uses
    Jobs.register("corpus-curation", "lang-train") { p =>
      val numFeatures = p.int("num_features", 1 << 18)
      val labels = p.optStr("labels")
      ctx =>
        val s = ctx.spark
        val labeled = labels.fold(graft.text.LangClassifier.seedCorpus(s))(l =>
          Tables.readData(s, Seq(ctx.dataPath(l))))
        graft.text.LangClassifier.saveModel(
          graft.text.LangClassifier.train(labeled, "text", "lang", numFeatures),
          ctx.dataPath("models.lang_classifier"))
    }
    Jobs.register("corpus-curation", "lang-classify") { p =>
      val in = p.str("input", "raw.documents")
      // output_col (r17): downstream zone contracts (gopher groups,
      // sample-mix strata, the data cards) key on `lang` — a chain that
      // DERIVES language rather than ingesting it renames here.
      // withColumn, not withColumnRenamed: the rename form would leave
      // TWO `lang` columns when the input already carries one (the
      // standard documents schema does) and every downstream
      // col("lang") would die on AMBIGUOUS_REFERENCE — withColumn
      // REPLACES an existing column of the same name
      val outCol = p.str("output_col", "lang_pred")
      ctx =>
        val model = graft.text.LangClassifier.loadModel(
          ctx.dataPath("models.lang_classifier"))
        val scored = graft.text.LangClassifier.score(
          Tables.readData(ctx.spark, Seq(ctx.dataPath(in))), model)
        save(ctx,
          if (outCol == "lang_pred") scored
          else scored.withColumn(outCol, col("lang_pred")).drop("lang_pred"),
          ctx.dataPath("processed.documents_lang"))
    }

    // DSIR target-distribution selection (Xie et al. 2023): weight every
    // raw document by how target-like its hashed n-gram distribution is,
    // then keep a Gumbel-top-k sample ∝ exp(weight) — the
    // distribution-matching gate next to the learned quality gate above
    Jobs.register("corpus-curation", "dsir-select") { p =>
      val idCol = p.str("id_col", "doc_id")
      val textCol = p.str("text_col", "text")
      val in = p.str("input", "raw.documents")
      val buckets = p.int("buckets", 8192)
      val alpha = p.double("alpha", 1.0)
      val k = p.int("k", 1000)
      val seed = p.optLong("seed") // default: core.random_seed
      ctx =>
        val s = ctx.spark
        val raw = Tables.readData(s, Seq(ctx.dataPath(in)))
        val weights = graft.sampling.Dsir.logWeights(
          raw,
          Tables.readData(s, Seq(ctx.dataPath("raw.target_corpus"))),
          idCol, textCol, buckets = buckets, alpha = alpha)
        save(ctx, weights, ctx.dataPath("processed.dsir_weights"))
        val selected = graft.sampling.Dsir.gumbelTopK(
          Tables.readData(s, Seq(ctx.dataPath("processed.dsir_weights"))),
          idCol, "log_weight", k = k, seed = seed.getOrElse(ctx.seed))
        save(ctx,
          raw.join(selected.select(col(idCol)), Seq(idCol), "left_semi"),
          ctx.dataPath("clean.documents_dsir_selected"))
    }

    // the release data card: per-language composition/shares/percentiles/
    // quality/dup rates over whichever corpus zone the chain points at
    Jobs.register("corpus-curation", "data-card") { p =>
      val in = p.str("input", "raw.documents")
      ctx =>
        val docs = Tables.readData(ctx.spark, Seq(ctx.dataPath(in)))
        save(ctx,
          graft.text.TextAnalysis.corpusDataCard(docs, "text", "lang"),
          ctx.dataPath("processed.data_card"))
    }

    // semantic near-dup removal over the embeddings zone (SemDeDup):
    // k-means cells + within-cell cosine verification; the lowest id of
    // each twin chain survives. Size n_clusters so cells stay thousands
    // of vectors (the cell self-join is the work unit)
    Jobs.register("corpus-curation", "semdedup") { p =>
      val nClusters = p.int("n_clusters", 1024)
      val threshold = p.double("threshold", 0.97)
      ctx =>
        val emb = Tables.readData(ctx.spark, Seq(ctx.dataPath("raw.embeddings")))
        save(ctx,
          graft.similarity.Similarity.semDedup(emb, "vec_id", "embedding",
            nClusters, threshold),
          ctx.dataPath("clean.embeddings_semdeduped"))
    }

    // D4 diversification (Tirumala et al. 2023): SemDeDup then
    // SSL-prototype pruning — `prune_frac` of every cluster's most
    // prototypical docs die; `dedup_threshold: 0` skips the dedup stage
    // (pure prototype pruning)
    transform("corpus-curation", "diversify", "raw.embeddings", "clean.embeddings_diversified") { p =>
      val nClusters = p.int("n_clusters", 1024)
      val pruneFrac = p.double("prune_frac", 0.2)
      val threshold = p.double("dedup_threshold", 0.999)
      emb =>
        if (threshold <= 0)
          graft.similarity.Similarity.prototypePrune(emb, "vec_id",
            "embedding", nClusters, pruneFrac)
        else
          graft.similarity.Similarity.d4Select(emb, "vec_id", "embedding",
            nClusters, threshold, pruneFrac)
    }

    Jobs.register("corpus-curation", "quality-filter") { p =>
      val minQuality = p.double("min_quality", 0.5)
      ctx =>
        val docs = Tables.readData(ctx.spark, Seq(ctx.dataPath("clean.documents")))
        save(ctx,
          graft.text.TextAnalysis.qualityFilter(docs, "text", minQuality),
          ctx.dataPath("clean.documents_filtered"))
    }

    // the quality/language REPORT reads the full deduped corpus — reading
    // the filtered zone would censor it to survivors and make it useless
    // for tuning min_quality or seeing what was rejected
    Jobs.register("corpus-curation", "text-quality") { _ => ctx =>
      val s = ctx.spark
      val docs = Tables.readData(s, Seq(ctx.dataPath("clean.documents")))
      val stats = graft.text.TextAnalysis.textStats(docs, "doc_id", "text")
      val withLang = graft.text.TextAnalysis
        .languageScores(docs.select(col("doc_id"), col("text")), "text")
        .drop("text")
      save(ctx,
        stats.join(withLang, Seq("doc_id"), "inner"),
        ctx.dataPath("processed.text_stats"))
    }

    // the shippable corpus: PII scrubbed AFTER filtering (don't pay regex
    // passes for docs the quality gate drops)
    Jobs.register("corpus-curation", "redact-pii") { _ => ctx =>
      val docs = Tables.readData(ctx.spark, Seq(ctx.dataPath("clean.documents_filtered")))
      save(ctx,
        docs.withColumn("text", graft.text.TextAnalysis.redactPii(col("text"))),
        ctx.dataPath("clean.documents_redacted"))
    }

    Jobs.register("corpus-curation", "repetition-report") { _ => ctx =>
      val docs = Tables.readData(ctx.spark, Seq(ctx.dataPath("clean.documents_redacted")))
      save(ctx,
        graft.text.TextAnalysis.repetitionStats(docs, "doc_id", "text"),
        ctx.dataPath("processed.repetition_stats"))
    }

    // decontamination gate: flag corpus docs overlapping the held-out set
    Jobs.register("corpus-curation", "contamination-report") { p =>
      val k = p.int("gram_k", 8)
      val minOverlap = p.int("min_overlap", 2)
      // eval_input (r17) points at a dedicated held-out zone; the
      // raw.documents first-N default predates it
      val evalSet = evalZone(p)
      ctx =>
        val corpus = Tables.readData(ctx.spark, Seq(ctx.dataPath("clean.documents_redacted")))
        // normalize the eval side with the SAME redaction as the corpus —
        // otherwise grams around an email/URL/phone in a shared passage
        // mismatch and a genuinely contaminated doc undercounts its overlap
        save(ctx,
          graft.dedup.Dedup.contaminationReport(
            corpus,
            evalSet(ctx).withColumn("text", graft.text.TextAnalysis.redactPii(col("text"))),
            "doc_id", "text", k, minOverlap),
          ctx.dataPath("processed.contamination"))
    }

    Jobs.register("corpus-curation", "chunk-documents") { p =>
      val chunkTokens = p.int("chunk_tokens", 256)
      val overlap = p.int("overlap", 32)
      ctx =>
        val docs = Tables.readData(ctx.spark, Seq(ctx.dataPath("clean.documents_redacted")))
        save(ctx,
          graft.text.TextAnalysis.chunkDocuments(docs, "doc_id", "text", chunkTokens, overlap),
          ctx.dataPath("processed.chunks"))
    }

    // curate the final training mix: plan per-language rates toward an
    // equal-share target under a doc budget, persist the plan (the
    // auditable artifact: available/target/rate/deficit per language),
    // then execute it as one seeded sampleBy pass
    Jobs.register("corpus-curation", "sample-mix") { p =>
      val budget = p.long("budget", 1000L)
      // input is configurable (r17): a chain that decontaminates or
      // perplexity-bands after redaction mixes THAT zone, not the
      // redacted one
      val in = p.str("input", "clean.documents_redacted")
      val strategy = p.choice("strategy", "uniform", Seq("uniform", "unimax"))
      val epochCap = p.double("epoch_cap", 4.0)
      ctx =>
        val docs = Tables.readData(ctx.spark, Seq(ctx.dataPath(in)))
        strategy match {
          case "uniform" =>
            val langs = docs.select(col("lang")).distinct().limit(101)
              .collect().map(_.getString(0))
            require(langs.length <= 100,
              "sample-mix: lang stratum cardinality > 100 — not a language column")
            val shares = langs.map(l => l -> 1.0 / langs.length).toMap
            val plan = graft.sampling.Sampling.corpusMixPlan(docs, "lang", shares, budget)
            save(ctx, plan, ctx.dataPath("processed.mix_plan"))
            val rates = plan.select(col("lang"), col("rate")).collect()
              .map(r => r.getString(0) -> r.getDouble(1)).toMap
            save(ctx,
              graft.sampling.Sampling.stratifiedSample(docs, "lang", rates, ctx.seed),
              ctx.dataPath("clean.documents_mixed"))
          // UniMax (Chung et al. 2023): token budget water-filled across
          // languages under an epoch cap; the sampled zone carries `epoch`
          case "unimax" =>
            val counted = docs.withColumn("__nt",
              size(filter(split(col("text"), "\\s+"), w => length(w) > 0))
                .cast("long"))
            save(ctx,
              graft.sampling.Sampling.unimaxPlan(counted, "lang", "__nt",
                budget, epochCap),
              ctx.dataPath("processed.mix_plan"))
            save(ctx,
              graft.sampling.Sampling.unimaxSample(counted, "doc_id", "lang",
                "__nt", budget, epochCap, ctx.seed).drop("__nt"),
              ctx.dataPath("clean.documents_mixed"))
        }
    }

    // drop corpus docs that leak eval content — the enforcement half of
    // contamination-report, same eval-set convention
    Jobs.register("corpus-curation", "decontaminate") { p =>
      val k = p.int("gram_k", 8)
      val maxCov = p.double("max_eval_coverage", 0.5)
      // eval_input (r17): same convention as contamination-report
      val evalSet = evalZone(p)
      ctx =>
        val corpus = Tables.readData(ctx.spark, Seq(ctx.dataPath("clean.documents_redacted")))
        save(ctx,
          graft.dedup.Dedup.decontaminate(corpus,
            evalSet(ctx).withColumn("text", graft.text.TextAnalysis.redactPii(col("text"))),
            "doc_id", "text", k, maxCov),
          ctx.dataPath("clean.documents_decontaminated"))
    }

    // INCREMENTAL near-dup dedup against a PERSISTED MinHash index — the
    // release-over-release lifecycle (r17 verdict #6): release 1 dedups
    // within itself and BUILDS `models.neardup_index` from its accepted
    // docs; every later release dedups its batch against the index
    // (within-batch + vs everything previously released — the earlier
    // releases' corpus TEXT is never re-read; the index layers serve it),
    // appends its accepted docs, and optionally compacts on the way out
    // (`compact = true` — the in-line maintenance cadence, batch-lane
    // serialized per the single-maintainer contract). Steady-state cost:
    // O(|release| + matched buckets), release after release. Releases are
    // batch-sized by the same contract as the streaming maintainers.
    Jobs.register("corpus-curation", "dedup-corpus-index") { p =>
      import graft.dedup.{Dedup, MinHashIndex}
      val threshold = p.double("threshold", 0.7)
      val shingleK = p.int("shingle_k", 3)
      val input = p.str("input", "clean.documents_c4")
      val output = p.str("output", "clean.documents")
      val compact = p.bool("compact", false)
      ctx =>
        val s = ctx.spark
        val docs = Tables.readData(s, Seq(ctx.dataPath(input)))
        val dir = ctx.dataPath("models.neardup_index")
        val out = ctx.dataPath(output)
        val survivors =
          if (MinHashIndex.exists(s, dir))
            MinHashIndex.dedupBatch(s, dir, docs, "text", threshold)
          else Dedup.nearDupDedup(docs, "doc_id", "text", threshold, shingleK)
        save(ctx, survivors, out)
        // index the ACCEPTED rows from the just-published output (already
        // materialized — no second lineage run of the dedup join)
        val accepted = Tables.readData(s, Seq(out))
        if (MinHashIndex.exists(s, dir)) {
          // re-run guard: pairs() excludes self-ids, so a replayed release
          // republishes the SAME survivors (never an empty overwrite); the
          // anti-join here then appends only genuinely new ids — a retry
          // after a downstream failure is a no-op, not duplicate index rows
          val idc = MinHashIndex.idColumn(s, dir)
          MinHashIndex.append(s, dir,
            accepted.join(MinHashIndex.indexedIds(s, dir), Seq(idc), "left_anti"),
            "text")
        }
        else MinHashIndex.build(accepted, "doc_id", "text", dir, shingleK = shingleK)
        if (compact) MinHashIndex.compact(s, dir)
    }

    // INCREMENTAL semantic dedup against a PERSISTED (optionally sharded)
    // ANN index — SemDeDup release over release, the vector twin of
    // dedup-corpus-index: release 1 dedups within itself and builds
    // `models.semantic_index` from its accepted embeddings (sharded when
    // `n_shards` > 0 — the 100 TB layout); later releases probe it
    // (partition-pruned cells — accepted embeddings are never rescanned),
    // drop rows with an accepted neighbor at `threshold`+ cosine, append
    // survivors (assigned against the persisted per-shard centroids —
    // batch-sized, map-only), and optionally compact.
    Jobs.register("corpus-curation", "semantic-dedup-index") { p =>
      import graft.similarity.{AnnIndex, Similarity}
      val threshold = p.double("threshold", 0.97)
      val nprobe = p.int("nprobe", 0)
      val idCol = p.str("id_col", "vec_id")
      val vecCol = p.str("vec_col", "embedding")
      val input = p.str("input", "raw.embeddings")
      val output = p.str("output", "clean.embeddings")
      val nShards = p.int("n_shards", 0)
      val compact = p.bool("compact", false)
      def notServed(kind: String) = throw new IllegalArgumentException(
        s"semantic-dedup-index serves ivf | ivf_sharded indexes, got '$kind'")
      ctx =>
        val s = ctx.spark
        val vecs = Tables.readData(s, Seq(ctx.dataPath(input)))
        val dir = ctx.dataPath("models.semantic_index")
        val out = ctx.dataPath(output)
        // in-batch semantic dedup: lowest id of each twin chain survives
        val inBatchLosers = Similarity
          .embeddingNearDupPairs(vecs, idCol, vecCol, threshold)
          .select(col("id_b").as(idCol)).distinct()
        val inBatch = vecs.join(inBatchLosers, Seq(idCol), "left_anti")
        val survivors =
          if (!AnnIndex.exists(s, dir)) inBatch
          else {
            val hits = (AnnIndex.kindOf(s, dir) match {
              case "ivf" => AnnIndex.searchIvf(
                s, dir, inBatch, idCol, vecCol, k = 1, nprobe)
              case "ivf_sharded" => AnnIndex.searchIvfSharded(
                s, dir, inBatch, idCol, vecCol, k = 1, nprobe)
              case other => notServed(other)
            }).filter(col("cosine") >= threshold)
              .select(col("query_id").as(idCol)).distinct()
            inBatch.join(hits, Seq(idCol), "left_anti")
          }
        save(ctx, survivors, out)
        val accepted = Tables.readData(s, Seq(out))
        if (AnnIndex.exists(s, dir)) {
          // re-run guard: searchIvf* excludes self-ids, so a replayed
          // release republishes the SAME survivors; appending only ids the
          // index doesn't already carry makes the retry a no-op instead of
          // duplicate vec_ids accumulating in the served ANN index
          val fresh = accepted.join(AnnIndex.indexedIds(s, dir), Seq(idCol), "left_anti")
          AnnIndex.kindOf(s, dir) match {
            case "ivf"         => AnnIndex.appendIvf(fresh, vecCol, dir)
            case "ivf_sharded" => AnnIndex.appendIvfSharded(fresh, vecCol, dir)
            case other         => notServed(other)
          }
        }
        else if (nShards > 0)
          AnnIndex.buildIvfSharded(accepted, idCol, vecCol, dir, nShards, seed = ctx.seed)
        else AnnIndex.buildIvf(accepted, idCol, vecCol, dir, seed = ctx.seed)
        if (compact) AnnIndex.compact(s, dir)
    }

    // RETRACTION: delete ids from the persisted curation indexes — the
    // enforcement half of a decontamination hit / takedown against rows
    // that already shipped in an earlier release. Tombstone semantics
    // (AnnIndex.deleteIds / MinHashIndex.deleteIds): takes effect at the
    // next probe immediately, folds physically at the next compact
    // (`compact = true` folds in the same run). `index` picks the layer:
    // neardup (models.neardup_index), semantic (models.semantic_index),
    // or both.
    Jobs.register("corpus-curation", "index-retract") { p =>
      val in = p.str("input", "raw.retracted_ids")
      val which = p.choice("index", "both", Seq("neardup", "semantic", "both"))
      val compact = p.bool("compact", false)
      ctx =>
        val s = ctx.spark
        val ids = Tables.readData(s, Seq(ctx.dataPath(in)))
        if (which != "semantic") {
          val dir = ctx.dataPath("models.neardup_index")
          graft.dedup.MinHashIndex.deleteIds(s, dir, ids)
          if (compact) graft.dedup.MinHashIndex.compact(s, dir)
        }
        if (which != "neardup") {
          val dir = ctx.dataPath("models.semantic_index")
          graft.similarity.AnnIndex.deleteIds(s, dir, ids)
          if (compact) graft.similarity.AnnIndex.compact(s, dir)
        }
    }

    // MAINTENANCE, stats-driven, for the CURATION indexes — the same
    // measured-signal policy as ann-serving/maintain applied to the
    // release chain's persisted layers: `index` picks neardup
    // (models.neardup_index), semantic (models.semantic_index), or both;
    // each crossed threshold folds that index (at most one fold each),
    // skew on a sharded semantic index surfaces as a loud reshard
    // recommendation, and the unioned decision report APPENDS to
    // processed.maintenance_report (run_ts-stamped) so the audit trail
    // keeps every run's decision, not just the latest.
    Jobs.register("corpus-curation", "index-maintain") { p =>
      val which = p.choice("index", "both", Seq("neardup", "semantic", "both"))
      val tr = p.double("tombstone_ratio", 0.1)
      val fd = p.double("file_decay", 4.0)
      val mb = p.int("target_file_mb", 128)
      val skew = p.double("skew_ratio", 2.0)
      ctx =>
        val s = ctx.spark
        val reports = Seq(
          if (which != "semantic")
            Some(graft.dedup.MinHashIndex.maintain(
              s, ctx.dataPath("models.neardup_index"), tr, fd, mb))
          else None,
          if (which != "neardup")
            Some(graft.similarity.AnnIndex.maintain(
              s, ctx.dataPath("models.semantic_index"), tr, fd, skew, mb))
          else None).flatten
        val report = reports.reduce(_ unionByName _)
        report.collect().foreach { row =>
          if (row.getAs[Boolean]("reshard_recommended") ||
              row.getAs[Boolean]("compacted"))
            println(s"[graft] corpus-curation/index-maintain " +
              s"${row.getAs[String]("kind")}: ${row.getAs[String]("reason")}")
        }
        appendReport(ctx, report, ctx.dataPath("processed.maintenance_report"))
    }

    // split the curated corpus with near-dup clusters held together: pairs
    // from the minhash report feed connected components, and every cluster
    // draws one split — eval can't be contaminated by a near-twin of a
    // train doc (see sampling.Sampling.clusterSafeSplit)
    Jobs.register("corpus-curation", "cluster-safe-split") { p =>
      val testProp = p.double("test_prop", 0.1)
      val salt = p.str("salt", "graft")
      ctx =>
        val s = ctx.spark
        val docs = Tables.readData(s, Seq(ctx.dataPath("clean.documents_redacted")))
        val pairs = Tables.readData(s, Seq(ctx.dataPath("processed.near_dup_pairs")))
        val clusters = graft.dedup.Dedup.nearDupClusters(pairs)
        save(ctx,
          graft.sampling.Sampling.clusterSafeSplit(docs, "doc_id", clusters, testProp, salt),
          ctx.dataPath("clean.documents_split"))
    }

    Jobs.register("corpus-curation", "near-dup-report") { p =>
      val threshold = p.double("threshold", 0.7)
      ctx =>
        val docs = Tables.readData(ctx.spark, Seq(ctx.dataPath("clean.documents_redacted")))
        save(ctx,
          graft.dedup.Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold),
          ctx.dataPath("processed.near_dup_pairs"))
    }

    // substring-level duplication report: per-doc fraction covered by
    // cross-document k-gram spans — the curation signal for boilerplate
    // that survives doc- and line-level dedup
    Jobs.register("corpus-curation", "span-coverage-report") { p =>
      val k = p.int("gram_k", 8)
      val minDf = p.int("min_df", 2)
      ctx =>
        val docs = Tables.readData(ctx.spark, Seq(ctx.dataPath("clean.documents_redacted")))
        save(ctx,
          graft.dedup.Dedup.dupSpanCoverage(docs, "doc_id", "text", k, minDf),
          ctx.dataPath("processed.span_coverage"))
    }

    // ANN serving lifecycle as catalog jobs — the reference's
    // fit-once/persist/load-and-score shape (model-gen → model-eval)
    // applied to similarity serving: build-index persists the structure
    // into the models zone once; search loads and probes it per batch.
    Jobs.register("ann-serving", "build-index") { p =>
      import graft.similarity.AnnIndex
      val kind = p.choice("kind", "ivf", AnnKinds)
      val nlist = p.int("nlist", 0)
      val quantize = p.bool("quantize", false)
      val tables = p.int("tables", 8)
      val bits = p.int("bits", 0)
      // r17: the PQ and sharded layouts are first-class catalog kinds
      val m = p.int("m", 8)
      val codes = p.int("codes", 256)
      val refine = p.bool("refine", true)
      val nShards = p.int("n_shards", 4)
      ctx =>
        val emb = Tables.readData(ctx.spark, Seq(ctx.dataPath("raw.embeddings")))
        val dir = ctx.dataPath("models.ann_index")
        kind match {
          case "ivf" => AnnIndex.buildIvf(emb, "vec_id", "embedding", dir,
            nlist = nlist, seed = ctx.seed, quantize = quantize)
          case "lsh" => AnnIndex.buildLsh(emb, "vec_id", "embedding", dir,
            tables = tables, bits = bits)
          case "ivfpq" => AnnIndex.buildIvfPq(emb, "vec_id", "embedding", dir,
            nlist = nlist, m = m, codes = codes, seed = ctx.seed, refine = refine)
          case "ivf_sharded" => AnnIndex.buildIvfSharded(emb, "vec_id", "embedding", dir,
            nShards = nShards, nlist = nlist, seed = ctx.seed, quantize = quantize)
          case "ivfpq_sharded" => AnnIndex.buildIvfPqSharded(emb, "vec_id", "embedding", dir,
            nShards = nShards, nlist = nlist, m = m, codes = codes, seed = ctx.seed,
            refine = refine)
        }
    }

    Jobs.register("ann-serving", "search") { p =>
      val search = Search.parse(p)
      ctx =>
        val queries = Tables.readData(ctx.spark,
          Seq(ctx.dataPath("raw.query_embeddings")))
        save(ctx, search.run(ctx, queries), ctx.dataPath("processed.neighbors"))
    }

    // EVALUATION: grade the SERVED index against user-labeled relevance —
    // the loop-closer on the serving lifecycle (build / search / append /
    // delete / compact / reshard / EVALUATE): queries ride the exact same
    // kind-dispatched search as the `search` task (so the numbers grade
    // what production actually serves, nprobe/refine and all), labels
    // come from `raw.relevance` (query_id, vec_id, rel — graded or
    // binary), and the outputs are the per-query nDCG@k / RR / P@k / R@k
    // frame plus the one-row MRR/mean-nDCG summary a tuning sweep reads.
    Jobs.register("ann-serving", "retrieval-eval") { p =>
      val search = Search.parse(p)
      val relevanceIn = p.str("relevance", "raw.relevance")
      val relCol = p.str("rel_col", "rel")
      ctx =>
        val s = ctx.spark
        val queries = Tables.readData(s, Seq(ctx.dataPath("raw.query_embeddings")))
        val relevance = Tables.readData(s, Seq(ctx.dataPath(relevanceIn)))
        val perQuery = graft.eval.Metrics.rankingMetrics(
          search.run(ctx, queries), relevance,
          "query_id", "vec_id", "rank", relCol, search.k)
        save(ctx, perQuery, ctx.dataPath("processed.retrieval_eval"))
        save(ctx, graft.eval.Metrics.rankingMetricsSummary(
            Tables.readData(s, Seq(ctx.dataPath("processed.retrieval_eval")))),
          ctx.dataPath("processed.retrieval_eval_summary"))
    }

    // TUNING: grid over the served index's pruning axes and emit ONE
    // table a user picks an operating point from — per point the
    // rankingMetricsSummary columns (nDCG/MAP/MRR/P@k/R@k against
    // raw.relevance), the candidate volume that point scans (replayed
    // from the PERSISTED layout via AnnIndex.candidateVolume — the same
    // probe-resolution code serving runs, so cost cannot drift from
    // truth), and the measured search wall seconds. Axes by kind:
    // `nprobe` (ivf/ivf_sharded), `nprobe` × `refine` (pq kinds),
    // `probes` (lsh) — lists, 0 / -1 = the auto policy, default grid =
    // auto plus one exhaustive-ish and one tight point so the table
    // brackets the policy. Each point runs the exact kind-dispatched
    // `search` serving runs; k and the label source match retrieval-eval.
    Jobs.register("ann-serving", "retrieval-tune") { p =>
      val base = Search.base(p)
      val relevanceIn = p.str("relevance", "raw.relevance")
      val relCol = p.str("rel_col", "rel")
      val nprobeAxis = p.optInts("nprobe")
      val probesAxis = p.ints("probes", Seq(0, 1, 2))
      val refineAxis = p.ints("refine", Seq(-1))
      ctx =>
        val s = ctx.spark
        import s.implicits._
        val k = base.k
        val dir = ctx.dataPath("models.ann_index")
        val kind = base.kind.getOrElse(graft.similarity.AnnIndex.kindOf(s, dir))
        val served = base.copy(kind = Some(kind))
        val queries = Tables.readData(s,
          Seq(ctx.dataPath("raw.query_embeddings")))
        val relevance = Tables.readData(s, Seq(ctx.dataPath(relevanceIn)))
        // the default nprobe grid BRACKETS the auto policy — {auto/2, auto,
        // 2×auto capped at nlist}, resolved from the persisted meta through
        // the same policy code serving runs. A fixed small default would
        // sit entirely BELOW auto on any production-sized index (auto is
        // 8-32+ there), leaving the table with no point that says whether
        // more probes buy recall. An explicit axis overrides this. Bracket
        // points that RESOLVE to auto itself (2×auto hits the nlist cap on
        // a heavily-compensated sharded index; auto/2 floors to auto=1) are
        // dropped rather than measured twice under two labels — the 0
        // sentinel already covers that operating point.
        lazy val nprobes: Seq[Int] = nprobeAxis.getOrElse {
          val (auto, cap) = kind match {
            case "ivf_sharded" | "ivfpq_sharded" =>
              val inner = if (kind == "ivf_sharded") "ivf" else "ivfpq"
              val tables = s.read.parquet(s"$dir/meta.parquet")
                .head().getAs[Int]("tables")
              val sm = s.read.parquet(s"$dir/shard=0/meta.parquet").head()
              (graft.similarity.AnnIndex.shardNprobe(
                s, s"$dir/shard=0", inner, k, 0, tables),
                sm.getAs[Int]("nlist"))
            case _ =>
              val mm = s.read.parquet(s"$dir/meta.parquet").head()
              val nl = mm.getAs[Int]("nlist")
              (math.min(nl, graft.similarity.Similarity.ivfAutoNprobe(
                nl, mm.getAs[Long]("n_rows"), k)), nl)
          }
          Seq(math.max(1, auto / 2), 0, math.min(cap, 2 * auto))
            .distinct.filterNot(np => np != 0 && np == auto)
        }
        val points: Seq[(String, Search)] = kind match {
          case "lsh" =>
            probesAxis.map(n => (s"probes=$n", served.copy(probes = n)))
          case "ivf" | "ivf_sharded" =>
            nprobes.map(np => (s"nprobe=$np", served.copy(nprobe = np)))
          case _ =>
            for {
              np <- nprobes
              rf <- refineAxis
            } yield (s"nprobe=$np,refine=$rf", served.copy(nprobe = np, refine = rf))
        }
        // warm the index listings / codegen once OFF the clock, so the
        // first grid point's search_sec doesn't carry first-touch costs
        // the other points skip (search_sec stays a warm single-run
        // indicator, not a min-of-N benchmark)
        points.head._2.run(ctx, queries).count()
        val rows = points.map { case (label, pt) =>
          // materialize the search alone first so search_sec is serving
          // latency, not metric-join time (localCheckpoint = eager)
          val t0 = System.nanoTime()
          val hits = pt.run(ctx, queries).localCheckpoint(true)
          val searchSec = (System.nanoTime() - t0) / 1e9
          val sm = graft.eval.Metrics.rankingMetricsSummary(
            graft.eval.Metrics.rankingMetrics(hits, relevance,
              "query_id", "vec_id", "rank", relCol, k)).head()
          def d(c: String): Option[Double] =
            Option(sm.get(sm.fieldIndex(c))).map(_.asInstanceOf[Double])
          val cand = graft.similarity.AnnIndex.candidateVolume(
            s, dir, queries, "vec_id", "embedding", k,
            nprobe = pt.nprobe, probes = pt.probes)
          (label, kind, k,
            sm.getAs[Long]("n_queries"), sm.getAs[Long]("n_labeled"),
            d("mrr"), d("mean_ndcg"), d("mean_ap"),
            d("mean_precision_at_k"), d("mean_recall_at_k"),
            math.round(cand * 10) / 10.0,
            math.round(searchSec * 1000) / 1000.0)
        }
        save(ctx, rows.toDF("operating_point", "kind", "k",
            "n_queries", "n_labeled", "mrr", "mean_ndcg", "mean_ap",
            "mean_precision_at_k", "mean_recall_at_k",
            "cand_rows_per_query", "search_sec")
            .orderBy(col("operating_point")),
          ctx.dataPath("processed.retrieval_tune"))
    }

    // MAINTENANCE: rewrite an append-littered index into ~target_file_mb
    // files (every `maintain-index` stream batch / `append` run lands one
    // small file per touched partition — the small-file decay mode of a
    // partitioned serving layout). Kind-dispatched inside compact() off
    // the persisted meta; search results are identical before/after
    // (AnnIndexSpec). Schedule it in the SAME lane as the appends
    // (single-maintainer contract, io/Compaction.scala): a concurrent
    // append aborts the publish loudly, and a search racing the publish
    // renames fails loudly on the briefly-absent path — never wrong data.
    Jobs.register("ann-serving", "compact") { p =>
      val targetFileMB = p.int("target_file_mb", 128)
      ctx =>
        graft.similarity.AnnIndex.compact(ctx.spark,
          ctx.dataPath("models.ann_index"), targetFileMB = targetFileMB)
    }

    // MAINTENANCE: change a sharded index's shard count from its own
    // stored payloads (no corpus re-read) — the growth move when data
    // outgrows the shard count. Same single-maintainer contract as
    // compact; kind-dispatched off the persisted meta (r18: the PQ
    // sharded kind reshards from its int8 refine payload; codes-only
    // PQ indexes refuse inside reshardIvfPq).
    Jobs.register("ann-serving", "reshard") { p =>
      val nShards = p.required("n_shards")(p.optInt)
      val nlist = p.int("nlist", 0)
      ctx =>
        val dir = ctx.dataPath("models.ann_index")
        val reshard = graft.similarity.AnnIndex.kindOf(ctx.spark, dir) match {
          case "ivfpq_sharded" => graft.similarity.AnnIndex.reshardIvfPq _
          case _               => graft.similarity.AnnIndex.reshardIvf _
        }
        reshard(ctx.spark, dir, nShards, nlist, ctx.seed, 4)
    }

    // MAINTENANCE: tombstone rows out of the served index (takedowns /
    // decontamination hits against already-indexed rows) — effective at
    // the next search; `compact = true` folds them physically in the
    // same run. The ids frame must carry the index's id column.
    Jobs.register("ann-serving", "delete") { p =>
      val in = p.str("input", "raw.retracted_ids")
      val compact = p.bool("compact", false)
      ctx =>
        val dir = ctx.dataPath("models.ann_index")
        val ids = Tables.readData(ctx.spark, Seq(ctx.dataPath(in)))
        graft.similarity.AnnIndex.deleteIds(ctx.spark, dir, ids)
        if (compact) graft.similarity.AnnIndex.compact(ctx.spark, dir)
    }

    // MAINTENANCE, stats-driven: read the index health report and act on
    // MEASURED signals instead of a fixed cadence — fold when pending
    // tombstones or file decay cross the configured thresholds (at most
    // one fold per run), and surface shard skew beyond `skew_ratio` as a
    // LOUD reshard recommendation (logged + in the saved report — never
    // an automatic reshard; that topology change stays an operator's
    // deliberate `reshard` task). Under thresholds the run is a no-op
    // read, so it is safe on any monitoring schedule in the maintenance
    // lane (single-maintainer contract when it does fold).
    Jobs.register("ann-serving", "maintain") { p =>
      val tombstoneRatio = p.double("tombstone_ratio", 0.1)
      val fileDecay = p.double("file_decay", 4.0)
      val skewRatio = p.double("skew_ratio", 2.0)
      val targetFileMB = p.int("target_file_mb", 128)
      ctx =>
        val report = graft.similarity.AnnIndex.maintain(
          ctx.spark, ctx.dataPath("models.ann_index"),
          tombstoneRatio = tombstoneRatio, fileDecay = fileDecay,
          skewRatio = skewRatio, targetFileMB = targetFileMB)
        val row = report.head()
        if (row.getAs[Boolean]("reshard_recommended") ||
            row.getAs[Boolean]("compacted"))
          println(s"[graft] ann-serving/maintain: ${row.getAs[String]("reason")}")
        appendReport(ctx, report, ctx.dataPath("processed.maintenance_report"))
    }

    // Tokenizer lifecycle as catalog jobs — the train-once/persist/
    // encode-many split (model-gen's shape applied to the corpus
    // tokenizer): `train` runs the one corpus-sized word-count pass and
    // persists the ranked merge table into the models zone; `encode` loads
    // that table (KBs) and tokenizes as a pure scan.
    // Fold one document batch's exact word counts into the state dir —
    // the tokenizer's corpus statistic maintained incrementally
    // (replay-safe via batch_id); `train` with `from_state: true` then
    // retrains with ZERO corpus scans.
    Jobs.register("tokenizer", "word-count-fold") { p =>
      val textCol = p.str("text_col", "text")
      val pre = preTokenize(p)
      val batchId = p.long("batch_id", Long.MinValue)
      ctx =>
        val s = ctx.spark
        val batch = Tables.readData(s, Seq(ctx.dataPath("raw.documents")))
        graft.dp.IncrementalAgg.foldStateDir(
          s, ctx.dataPath("models.word_counts"),
          graft.text.Bpe.wordCountState(batch, textCol, pre),
          "word",
          batchId = batchId,
          merge = graft.text.Bpe.mergeWordCounts)
    }

    // `algo: bpe` (default) persists merges + vocab; `algo: unigram`
    // persists the EM-trained piece table (SentencePiece shape) instead —
    // either way one corpus-sized word-count pass (or zero, with
    // `from_state: true` against the maintained word-count state),
    // driver-side loop
    Jobs.register("tokenizer", "train") { p =>
      val textCol = p.str("text_col", "text")
      val maxWords = p.int("max_words", 50000)
      val fromState = p.bool("from_state", false)
      // `pre_tokenize: gpt2` segments contractions/letters/digits/
      // punctuation with the space-prefix convention (text/Bpe.scala);
      // default stays whitespace. Train and encode must declare the SAME
      // mode - it is part of the tokenizer, not a per-call choice.
      val pre = preTokenize(p)
      val algo = p.choice("algo", "bpe", Seq("bpe", "unigram", "wordpiece"))
      val vocabSize = p.int("vocab_size", 4096)
      val numMerges = p.int("num_merges", 200)
      val minPairCount = p.long("min_pair_count", 2L)
      ctx =>
        val s = ctx.spark
        val counts: Seq[(String, Long)] =
          if (fromState)
            graft.text.Bpe.countsFromState(s, ctx.dataPath("models.word_counts"), maxWords)
          else graft.text.Bpe.cappedWordCounts(
            Tables.readData(s, Seq(ctx.dataPath("raw.documents"))), textCol, maxWords, pre)
        algo match {
          case "unigram" =>
            save(ctx, graft.text.Unigram.trainFromCounts(s, counts, vocabSize = vocabSize),
              ctx.dataPath("models.unigram_pieces"))
          case "bpe" =>
            // one counts table yields BOTH artifacts: merges and the
            // token->id table a trainer consumes, persisted side by side
            val merges = graft.text.Bpe.trainFromCounts(
              s, counts, numMerges = numMerges, minPairCount = minPairCount)
            save(ctx, merges, ctx.dataPath("models.bpe_merges"))
            save(ctx, graft.text.Bpe.vocabWithIdsFromCounts(s, counts, merges),
              ctx.dataPath("models.bpe_vocab"))
          case "wordpiece" =>
            // score-ranked merges + the id table the greedy encoder needs
            val merges = graft.text.WordPiece.trainFromCounts(
              s, counts, numMerges = numMerges, minPairCount = minPairCount)
            save(ctx, merges, ctx.dataPath("models.wordpiece_merges"))
            save(ctx, graft.text.WordPiece.vocabWithIdsFromCounts(s, counts, merges),
              ctx.dataPath("models.wordpiece_vocab"))
        }
    }

    Jobs.register("tokenizer", "encode") { p =>
      val textCol = p.str("text_col", "text")
      val ids = p.bool("ids", false)
      val pre = preTokenize(p)
      val algo = p.choice("algo", "bpe", Seq("bpe", "unigram", "wordpiece"))
      ctx =>
        val s = ctx.spark
        val docs = Tables.readData(s, Seq(ctx.dataPath("raw.documents")))
        // tokens replace the raw text in the output (the tokenized zone is
        // what training consumes; re-writing text would double the bytes).
        // ids: true emits numeric token_ids via the persisted vocab instead
        // of string tokens. The unigram branch renames its pieces columns
        // to the tokens/token_ids + n_tokens contract so every downstream
        // packing stage is tokenizer-agnostic.
        val out = algo match {
          case "unigram" =>
            val pieces = Tables.readData(s, Seq(ctx.dataPath("models.unigram_pieces")))
            if (ids)
              graft.text.Unigram.encodeIds(docs, textCol, pieces, pre)
                .withColumnRenamed("piece_ids", "token_ids")
                .withColumnRenamed("n_pieces", "n_tokens")
            else
              graft.text.Unigram.encode(docs, textCol, pieces, pre)
                .withColumnRenamed("pieces", "tokens")
                .withColumnRenamed("n_pieces", "n_tokens")
          case "bpe" =>
            val merges = Tables.readData(s, Seq(ctx.dataPath("models.bpe_merges")))
            if (ids)
              graft.text.Bpe.encodeIds(docs, textCol, merges,
                Tables.readData(s, Seq(ctx.dataPath("models.bpe_vocab"))),
                preTokenize = pre)
            else graft.text.Bpe.encode(docs, textCol, merges, preTokenize = pre)
          case "wordpiece" =>
            // the greedy longest-match encoder consumes only the vocab
            val vocab = Tables.readData(s, Seq(ctx.dataPath("models.wordpiece_vocab")))
            if (ids) graft.text.WordPiece.encodeIds(docs, textCol, vocab, pre)
            else graft.text.WordPiece.encode(docs, textCol, vocab, pre)
        }
        save(ctx, out.drop(textCol), ctx.dataPath("processed.tokenized"))
    }

    // the tokenizer release data card: vocab composition, corpus
    // coverage/OOV + byte-fallback usage, per-language fertility and
    // compression in ONE tall (section, key, n, value) table — pure
    // composition of the shipped tokenizer operators over the persisted
    // BPE artifacts (the corpus/alignment data-card precedent for the
    // tokenizer lane). Re-encodes from the raw zone because the card
    // needs the original text for its word/byte denominators (the
    // tokenized zone deliberately drops it).
    Jobs.register("tokenizer", "data-card") { p =>
      val textCol = p.str("text_col", "text")
      val langCol = p.str("lang_col", "lang")
      val pre = preTokenize(p)
      val in = p.str("input", "raw.documents")
      val out = p.str("output", "processed.tokenizer_data_card")
      ctx =>
        val s = ctx.spark
        val docs = Tables.readData(s, Seq(ctx.dataPath(in)))
        val merges = Tables.readData(s, Seq(ctx.dataPath("models.bpe_merges")))
        val vocab = Tables.readData(s, Seq(ctx.dataPath("models.bpe_vocab")))
        save(ctx,
          graft.text.TextAnalysis.tokenizerDataCard(
            graft.text.Bpe.encode(docs, textCol, merges, preTokenize = pre),
            textCol, langCol, vocab, preTokenize = pre),
          ctx.dataPath(out))
    }

    // render a dialogue zone into ChatML training texts with assistant
    // loss-mask spans — the SFT prep stage ahead of encode/pack; the
    // output keeps mask_spans so a masking-aware packer can carry them
    transform("tokenizer", "render-chat", "raw.conversations", "processed.chat_rendered") { p =>
      val convCol = p.str("conv_col", "conv_id")
      val turnCol = p.str("turn_col", "turn_no")
      val roleCol = p.str("role_col", "role")
      val contentCol = p.str("content_col", "content")
      graft.text.Packing.renderChatTemplate(_, convCol, turnCol, roleCol, contentCol)
    }

    // training-objective rewrite between curation and packing
    // (text/Objectives.scala): `objective: fim | span-corrupt |
    // prefix-lm | ul2` selects the transform, each exposing its paper
    // parameters; all are pure seeded-draw projections, so re-running
    // the stage reproduces the corpus bit for bit
    transform("tokenizer", "objective", "clean.documents", "processed.objective") { p =>
      import graft.text.Objectives
      val idCol = p.str("id_col", "doc_id")
      val textCol = p.str("text_col", "text")
      val seed = p.long("seed", 0L)
      val objective = p.choice("objective", "fim", Seq("fim", "span-corrupt", "prefix-lm", "ul2"))
      val rate = p.double("rate", 0.9)
      val spmRate = p.double("spm_rate", 0.5)
      val meanSpan = p.int("mean_span", 3)
      val noiseDensity = p.double("noise_density", 0.15)
      val rShare = p.double("r_share", 0.5)
      val sShare = p.double("s_share", 0.25)
      val xMeanSpan = p.int("x_mean_span", 32)
      val xDensity = p.double("x_density", 0.5)
      docs => objective match {
        case "fim" => Objectives.fimTransform(docs, idCol, textCol,
          rate = rate, spmRate = spmRate, seed = seed)
        case "span-corrupt" => Objectives.spanCorrupt(docs, idCol, textCol,
          meanSpan = meanSpan, noiseDensity = noiseDensity, seed = seed)
        case "prefix-lm" => Objectives.prefixLmSplit(docs, idCol, textCol, seed)
        case "ul2" => Objectives.ul2Mix(docs, idCol, textCol,
          rShare = rShare, sShare = sShare, seed = seed,
          xMeanSpan = xMeanSpan, xDensity = xDensity)
      }
    }

    // pack the TOKENIZED zone into fixed-context training sequences: the
    // packing plan runs on the tokenizer's real n_tokens (not the
    // whitespace proxy), so sequence boundaries match what the trainer
    // reads; the shard summary is the loader's reader allocation
    Jobs.register("tokenizer", "pack") { p =>
      val pk = pack(p)
      ctx =>
        val s = ctx.spark
        val tokenized = Tables.readData(s, Seq(ctx.dataPath("processed.tokenized")))
        val plan = graft.text.Packing.packingPlanFromCounts(
          tokenized, pk.idCol, "n_tokens", pk.ctxTokens, pk.nShards)
        save(ctx, plan, ctx.dataPath("processed.packing_plan"))
        save(ctx,
          graft.text.Packing.shardSummary(
            Tables.readData(s, Seq(ctx.dataPath("processed.packing_plan")))),
          ctx.dataPath("processed.packing_shards"))
    }

    // DELIVERY: the terminal stage of the chain — any zone exported as
    // WebDataset tar shards (<key>.<ext> members, loader-streamable).
    // `content_cols: {text: txt, meta: json}` maps columns to member
    // extensions; defaults ship the raw documents zone as <doc_id>.txt
    Jobs.register("tokenizer", "export-webdataset") { p =>
      val in = p.str("input", "raw.documents")
      val keyCol = p.str("key_col", "doc_id")
      val rowsPerShard = p.int("rows_per_shard", 1000)
      val contentCols = p.opt("content_cols", "a mapping of column -> extension") {
        case m: Map[_, _] => m.toSeq.map { case (k, v) => k.toString -> v.toString }
      }.getOrElse(Seq("text" -> "txt"))
      val out = p.str("output", "processed.webdataset")
      ctx =>
        graft.io.WebDataset.writeShards(
          Tables.readData(ctx.spark, Seq(ctx.dataPath(in))),
          ctx.dataPath(out), keyCol, contentCols, rowsPerShard)
    }

    // DELIVERY, TFRecord flavor: any zone exported as tf.Example record
    // shards (the TensorFlow loader container). `content_cols` lists the
    // columns to carry as features (string/binary -> bytes, integral ->
    // int64, float -> float32; integral/float ARRAYS -> whole
    // Int64List/FloatList — the packed token_ids shape, r17)
    Jobs.register("tokenizer", "export-tfrecord") { p =>
      val in = p.str("input", "raw.documents")
      val rowsPerShard = p.int("rows_per_shard", 1000)
      val contentCols = p.strs("content_cols", Seq("doc_id", "text"))
      val out = p.str("output", "processed.tfrecord")
      ctx =>
        graft.io.TfRecord.writeShards(
          Tables.readData(ctx.spark, Seq(ctx.dataPath(in))),
          ctx.dataPath(out), contentCols, rowsPerShard)
    }

    // whole-document (padded) layout — the no-split alternative to `pack`:
    // every bin holds only whole documents (no cross-document attention
    // contamination), and the stats zone carries the padding cost that
    // decides between the two layouts
    Jobs.register("tokenizer", "pack-no-split") { p =>
      val pk = pack(p)
      ctx =>
        val s = ctx.spark
        val tokenized = Tables.readData(s, Seq(ctx.dataPath("processed.tokenized")))
        save(ctx,
          graft.text.Packing.binPackNoSplit(tokenized, pk.idCol, "n_tokens",
            pk.ctxTokens, pk.nShards),
          ctx.dataPath("processed.bin_packing"))
        save(ctx,
          graft.text.Packing.binPackSummary(
            Tables.readData(s, Seq(ctx.dataPath("processed.bin_packing"))),
            pk.ctxTokens),
          ctx.dataPath("processed.bin_packing_stats"))
    }

    // materialize the fixed-context sequences themselves — the artifact a
    // trainer's loader reads; consumes whichever token column the encode
    // stage produced (string tokens or int ids)
    Jobs.register("tokenizer", "materialize") { p =>
      val pk = pack(p)
      ctx =>
        val tokenized = Tables.readData(ctx.spark, Seq(ctx.dataPath("processed.tokenized")))
        val tokCol = if (tokenized.columns.contains("token_ids")) "token_ids" else "tokens"
        save(ctx,
          graft.text.Packing.materializePacked(tokenized, pk.idCol, tokCol,
            pk.ctxTokens, pk.nShards),
          ctx.dataPath("processed.packed_sequences"))
    }

    // the no-split trainer artifact: whole-document bins with doc spans,
    // consuming whichever token column the encode stage produced
    Jobs.register("tokenizer", "materialize-no-split") { p =>
      val pk = pack(p)
      ctx =>
        val tokenized = Tables.readData(ctx.spark, Seq(ctx.dataPath("processed.tokenized")))
        val tokCol = if (tokenized.columns.contains("token_ids")) "token_ids" else "tokens"
        save(ctx,
          graft.text.Packing.materializeNoSplit(tokenized, pk.idCol, tokCol,
            pk.ctxTokens, pk.nShards),
          ctx.dataPath("processed.packed_bins"))
    }

    // mask-carrying trainer artifacts: packed sequences / no-split bins
    // whose rows carry ALIGNED (tokens, loss_mask) arrays — the input is
    // the chat-mask zone (chatTokenLossMask output: token_ids +
    // loss_mask per document), the output is what an SFT loader reads
    transform("tokenizer", "materialize-masked",
        "processed.chat_masked", "processed.packed_masked_sequences") { p =>
      val pk = pack(p, idCol = "conv_id")
      val tokensCol = p.str("tokens_col", "token_ids")
      val maskCol = p.str("mask_col", "loss_mask")
      graft.text.Packing.materializePackedWithMasks(_, pk.idCol,
        tokensCol, maskCol, pk.ctxTokens, pk.nShards)
    }

    transform("tokenizer", "materialize-no-split-masked",
        "processed.chat_masked", "processed.packed_masked_bins") { p =>
      val pk = pack(p, idCol = "conv_id")
      val tokensCol = p.str("tokens_col", "token_ids")
      val maskCol = p.str("mask_col", "loss_mask")
      graft.text.Packing.materializeNoSplitWithMasks(_, pk.idCol,
        tokensCol, maskCol, pk.ctxTokens, pk.nShards)
    }

    // the interleaved VLM lifecycle as catalog stages: plan asset slots
    // over the tokenized zone (raw.assets carries one row per media asset
    // with its in-text position and patch-token budget), then materialize
    // the slot-aligned bins whose media spans hold the placeholder id the
    // trainer swaps for patch embeddings
    Jobs.register("tokenizer", "interleave-plan") { p =>
      val pk = pack(p)
      val assetIdCol = p.str("asset_id_col", "asset_id")
      val positionCol = p.str("position_col", "position")
      val patchTokensCol = p.str("patch_tokens_col", "patch_tokens")
      ctx =>
        val s = ctx.spark
        val tokenized = Tables.readData(s, Seq(ctx.dataPath("processed.tokenized")))
        val assets = Tables.readData(s, Seq(ctx.dataPath("raw.assets")))
        save(ctx,
          graft.text.Packing.interleavedPlan(tokenized, assets, pk.idCol, "n_tokens",
            assetIdCol, positionCol, patchTokensCol, pk.ctxTokens, pk.nShards),
          ctx.dataPath("processed.interleaved_plan"))
    }

    Jobs.register("tokenizer", "materialize-interleaved") { p =>
      val pk = pack(p)
      val assetIdCol = p.str("asset_id_col", "asset_id")
      val positionCol = p.str("position_col", "position")
      val patchTokensCol = p.str("patch_tokens_col", "patch_tokens")
      val imageTokenId = p.int("image_token_id", -1)
      val padTokenId = p.int("pad_token_id", 0)
      ctx =>
        val s = ctx.spark
        val tokenized = Tables.readData(s, Seq(ctx.dataPath("processed.tokenized")))
        // slot arrays are integer ids — string-token corpora would silently
        // cast to null inside the bins, so require the id-encoded zone
        require(tokenized.columns.contains("token_ids"),
          "tokenizer/materialize-interleaved needs the id-encoded tokenized " +
            "zone (run encode with ids: true)")
        val assets = Tables.readData(s, Seq(ctx.dataPath("raw.assets")))
        save(ctx,
          graft.text.Packing.materializeInterleaved(tokenized, assets, pk.idCol,
            "token_ids", assetIdCol, positionCol, patchTokensCol,
            pk.ctxTokens, pk.nShards,
            imageTokenId = imageTokenId, padTokenId = padTokenId),
          ctx.dataPath("processed.interleaved_bins"))
    }

    // deterministic per-epoch training order over any packed artifact —
    // `source` names the zone key (packed sequences by default; bins work
    // too, their bin_id standing in for seq_id)
    Jobs.register("tokenizer", "epoch-shuffle") { p =>
      val epoch = p.int("epoch", 0)
      val srcKey = p.str("source", "processed.packed_sequences")
      ctx =>
        val packed0 = Tables.readData(ctx.spark, Seq(ctx.dataPath(srcKey)))
        val packed =
          if (packed0.columns.contains("seq_id")) packed0
          else packed0.withColumn("seq_id", col("bin_id"))
        save(ctx,
          graft.text.Packing.epochShuffle(packed, epoch),
          ctx.dataPath("processed.epoch_order"))
    }

    // Metric percentile profile as a catalog job: fold one batch's GK
    // quantile state into the state table (O(keys) per fold, replay-safe
    // via batch_id), then publish the current per-key estimates — the
    // batch twin of Streaming.maintainQuantileState.
    Jobs.register("metric-profile", "quantile-fold") { p =>
      val keyCol = p.str("key_col", "user_id")
      val valueCol = p.str("value_col", "value")
      val batchId = p.long("batch_id", Long.MinValue)
      val probs = p.doubles("probs", Seq(0.5, 0.9, 0.99))
      ctx =>
        val s = ctx.spark
        val batch = Tables.readData(s, Seq(ctx.dataPath("raw.metrics_batch")))
        val statePath = ctx.dataPath("models.quantile_state")
        graft.dp.IncrementalAgg.foldStateDir(
          s, statePath,
          graft.dp.QuantileState.quantileSketch(batch, keyCol, valueCol),
          keyCol,
          batchId = batchId,
          merge = graft.dp.QuantileState.mergeQuantileSketches)
        save(ctx,
          graft.dp.QuantileState.estimateQuantiles(
            s.read.parquet(statePath), keyCol, probs),
          ctx.dataPath("processed.quantile_profile"))
    }

    // Count-Min frequency fold: the CMS twin of quantile-fold — fold one
    // batch's sparse counter table into the state dir (replay-safe via
    // batch_id), publish estimates for the batch's own items alongside
    // the exact batch counts so drift is visible in one frame.
    Jobs.register("metric-profile", "cms-fold") { p =>
      val itemCol = p.str("item_col", "user_id")
      val width = p.int("width", 1024)
      val depth = p.int("depth", 4)
      val batchId = p.long("batch_id", Long.MinValue)
      ctx =>
        val s = ctx.spark
        val batch = Tables.readData(s, Seq(ctx.dataPath("raw.metrics_batch")))
        val statePath = ctx.dataPath("models.cms_state")
        graft.dp.IncrementalAgg.foldStateDir(
          s, statePath,
          graft.dp.IncrementalAgg.cmsState(batch, itemCol, width = width, depth = depth),
          itemCol, // unused by the CMS merge (counters have no key column)
          batchId = batchId,
          merge = (a, b, _) => graft.dp.IncrementalAgg.cmsMerge(a, b))
        save(ctx,
          graft.dp.IncrementalAgg.cmsEstimate(
            s.read.parquet(statePath), batch.select(itemCol).distinct(), itemCol),
          ctx.dataPath("processed.cms_profile"))
    }

    // SCD2 dimension maintenance: first fold BUILDS the history from the
    // batch's version log; later folds apply incrementally (batch-sized
    // work, out-of-order arrivals fail loudly). foldStateDir supplies the
    // crash-safe swap + batch-id replay protection; the merge re-expresses
    // the already-built batch history as a version log, which buildScd2
    // reconstructs exactly (consecutive surviving versions always differ).
    Jobs.register("history", "scd2-fold") { p =>
      val keyCol = p.str("key_col", "o_orderkey")
      val tsCol = p.str("ts_col", "ts")
      val batchId = p.long("batch_id", Long.MinValue)
      ctx =>
        val s = ctx.spark
        val batch = Tables.readData(s, Seq(ctx.dataPath("raw.version_log")))
        val dimPath = ctx.dataPath("models.scd2_dim")
        def asLog(dim: DataFrame) = {
          val attrs = dim.columns.toSeq
            .filterNot(Seq(keyCol, "valid_from", "valid_to", "is_current").contains)
          dim.select((col(keyCol) +: col("valid_from").as(tsCol) +:
            attrs.map(col)): _*)
        }
        graft.dp.IncrementalAgg.foldStateDir(
          s, dimPath,
          Tables.buildScd2(batch, Seq(keyCol), tsCol),
          keyCol,
          batchId = batchId,
          merge = (dim, builtBatch, _) =>
            Tables.applyScd2(dim, asLog(builtBatch), Seq(keyCol), tsCol))
    }

    // Z-order re-layout as a maintenance job: one stats pass for the
    // dimension ranges (unless pinned in params), then the clustered
    // rewrite — the periodic OPTIMIZE a 100 TB lake schedules after
    // enough appends dilute file-skipping locality.
    Jobs.register("layout", "zorder") { p =>
      val cols = p.strs("cols", Seq("user_id", "value"))
      val nFiles = p.int("n_files", 16)
      val bits = p.int("bits", 16)
      require(cols.nonEmpty, "layout/zorder needs cols")
      ctx =>
        val df = Tables.readData(ctx.spark, Seq(ctx.dataPath("raw.layout_input")))
        val aggCols = cols.flatMap(c =>
          Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
        val stats = df.agg(aggCols.head, aggCols.tail: _*).head()
        val dims = cols.zipWithIndex.map { case (c, i) =>
          (c, stats.getDouble(2 * i), stats.getDouble(2 * i + 1))
        }
        graft.io.Layout.writeZOrdered(df, dims,
          ctx.dataPath("processed.layout_zordered"), nFiles = nFiles, bits = bits)
    }

    Jobs.register("model-eval", "score-and-report") { _ => ctx =>
      val s = ctx.spark
      val df = Tables.readData(s, Seq(ctx.dataPath("processed.features")))
      val model = Training.loadModel(ctx.dataPath("models.classifier"))
      val scored = Training.score(model, df)
      save(ctx,
        scored.select("c_custkey", "target_var", "score"),
        ctx.dataPath("processed.predictions"))
      // metric tables read the just-written predictions back: scoring
      // (feature read + model transform) runs ONCE, not once per table
      val preds = Tables.readData(s, Seq(ctx.dataPath("processed.predictions")))
      save(ctx,
        Metrics.binaryMetricsAtThreshold(preds, "score", "target_var", 0.5),
        ctx.dataPath("processed.metrics"))
      // full threshold curve for plotting (reference exports these,
      // handy_spark_cd.py:142-187). GLOBAL_WINDOW waived: the curve's
      // window runs over the per-rounded-threshold aggregate, which is
      // <= 10^digits + 1 rows by construction (SCALE.md, eval section)
      save(ctx,
        Metrics.rocPrCurve(preds, "score", "target_var"),
        ctx.dataPath("processed.roc_curve"), allow = Set("GLOBAL_WINDOW"))
    }

    // alignment data prep (graft.align.Preference): scored responses →
    // best-of-N selections / DPO preference pairs / rendered training
    // rows, plus the Bradley–Terry leaderboard over comparison logs.
    // Inputs default to a `raw.responses` table with the conventional
    // (prompt_id, response_id, response, score) columns; every name is
    // a param so any scored-sample table plugs in.
    transform("alignment", "best-of-n", "raw.responses", "processed.best_of_n") { p =>
      val promptCol = p.str("prompt_col", "prompt_id")
      val idCol = p.str("id_col", "response_id")
      val scoreCol = p.str("score_col", "score")
      val n = p.int("n", 1)
      graft.align.Preference.bestOfN(_, promptCol, idCol, scoreCol, n)
    }

    transform("alignment", "preference-pairs", "raw.responses", "processed.preference_pairs") { p =>
      val promptCol = p.str("prompt_col", "prompt_id")
      val idCol = p.str("id_col", "response_id")
      val textCol = p.str("text_col", "response")
      val scoreCol = p.str("score_col", "score")
      val policy = p.choice("policy", "max-min", graft.align.Preference.PairPolicies)
      val minMargin = p.double("min_margin", 0.0)
      graft.align.Preference.preferencePairs(_, promptCol, idCol, textCol, scoreCol, policy, minMargin)
    }

    // render stored pairs to DPO training rows: the pairs table joined
    // with a prompt-text table, both branches through the SFT ChatML
    // template with exact completion-mask offsets
    Jobs.register("alignment", "dpo-render") { p =>
      val promptCol = p.str("prompt_col", "prompt_id")
      val pairsIn = p.str("pairs", "processed.preference_pairs")
      val prompts = promptTexts(p, promptCol)
      val out = p.str("output", "processed.dpo_rows")
      ctx =>
        val pairs = Tables.readData(ctx.spark, Seq(ctx.dataPath(pairsIn)))
        save(ctx,
          graft.align.Preference.dpoRender(
            pairs.join(prompts(ctx), Seq(promptCol)),
            promptCol, "__prompt", "chosen", "rejected"),
          ctx.dataPath(out))
    }

    // multi-turn DPO rendering: pairs whose shared context is a whole
    // conversation prefix (agentic traces incl. tool turns); the mask
    // covers only the branch completion
    Jobs.register("alignment", "dpo-render-conversation") { p =>
      val conversations = p.str("conversations", "raw.conversations")
      val pairsIn = p.str("pairs", "processed.preference_pairs")
      val convCol = p.str("conv_col", "conv_id")
      val turnCol = p.str("turn_col", "turn_no")
      val roleCol = p.str("role_col", "role")
      val contentCol = p.str("content_col", "content")
      val chosenCol = p.str("chosen_col", "chosen")
      val rejectedCol = p.str("rejected_col", "rejected")
      val out = p.str("output", "processed.dpo_conv_rows")
      ctx =>
        val s = ctx.spark
        save(ctx,
          graft.align.Preference.dpoRenderConversation(
            Tables.readData(s, Seq(ctx.dataPath(conversations))),
            convCol, turnCol, roleCol, contentCol,
            Tables.readData(s, Seq(ctx.dataPath(pairsIn))),
            chosenCol, rejectedCol),
          ctx.dataPath(out))
    }

    // KTO unpaired-feedback prep: thumbs-labeled completions to
    // class-balanced training rows (no pairing needed)
    transform("alignment", "kto-rows", "raw.feedback", "processed.kto_rows") { p =>
      val labelCol = p.str("label_col", "feedback")
      graft.align.Preference.ktoRows(_, labelCol)
    }

    // self-consistency majority voting over sampled answers
    transform("alignment", "majority-vote", "raw.samples", "processed.majority_vote") { p =>
      val promptCol = p.str("prompt_col", "prompt_id")
      val answerCol = p.str("answer_col", "answer")
      graft.align.Preference.majorityVote(_, promptCol, answerCol)
    }

    // rejection-sampling distillation: the best response per prompt,
    // rendered as a ChatML SFT row (text + assistant mask span) — the
    // RFT path from scored samples straight to training rows
    Jobs.register("alignment", "rft-distill") { p =>
      val promptCol = p.str("prompt_col", "prompt_id")
      val in = p.str("input", "raw.responses")
      val prompts = promptTexts(p, promptCol)
      val idCol = p.str("id_col", "response_id")
      val scoreCol = p.str("score_col", "score")
      val textCol = p.str("text_col", "response")
      val out = p.str("output", "processed.rft_sft_rows")
      ctx =>
        val responses = Tables.readData(ctx.spark, Seq(ctx.dataPath(in)))
        val best = graft.align.Preference.bestOfN(responses, promptCol,
          idCol, scoreCol, n = 1)
          .join(prompts(ctx), Seq(promptCol))
        val turns = best.select(
          col(promptCol).as("__conv"),
          explode(array(
            struct(lit(0).as("t"), lit("user").as("role"),
              col("__prompt").as("content")),
            struct(lit(1).as("t"), lit("assistant").as("role"),
              col(textCol).as("content")))).as("__turn"))
          .select(col("__conv"), col("__turn.t").as("__t"),
            col("__turn.role").as("__role"), col("__turn.content").as("__content"))
        save(ctx,
          graft.text.Packing
            .renderChatTemplate(turns, "__conv", "__t", "__role", "__content")
            .withColumnRenamed("__conv", promptCol),
          ctx.dataPath(out))
    }

    // GRPO group-relative advantages over scored sample groups
    transform("alignment", "grpo-advantages", "raw.responses", "processed.grpo_advantages") { p =>
      val promptCol = p.str("prompt_col", "prompt_id")
      val rewardCol = p.str("reward_col", "score")
      graft.align.Preference.groupAdvantages(_, promptCol, rewardCol)
    }

    // Kendall tau-b ranking agreement between two scorings per prompt
    transform("alignment", "kendall-tau", "raw.responses", "processed.kendall_tau") { p =>
      val promptCol = p.str("prompt_col", "prompt_id")
      val idCol = p.str("id_col", "response_id")
      val xCol = p.str("x_col", "score")
      val yCol = p.str("y_col", "rm_score")
      graft.align.Preference.kendallTau(_, promptCol, idCol, xCol, yCol)
    }

    // the alignment release data card: pair volume + margin
    // distribution, length-bias rollup, inter-rater agreement, and the
    // per-task eval summary in ONE tall (section, key, n, value) table —
    // pure composition of the shipped operators above (the corpus
    // data-card precedent for the alignment lane)
    Jobs.register("alignment", "align-data-card") { p =>
      val pairsIn = p.str("pairs", "processed.preference_pairs")
      val ratingsIn = p.str("ratings", "raw.ratings")
      val evalIn = p.str("eval_results", "raw.eval_results")
      val promptCol = p.str("prompt_col", "prompt_id")
      val chosenCol = p.str("chosen_col", "chosen")
      val rejectedCol = p.str("rejected_col", "rejected")
      val marginCol = p.str("margin_col", "margin")
      val itemCol = p.str("item_col", "item_id")
      val labelCol = p.str("label_col", "label")
      val taskCol = p.str("task_col", "task")
      val correctCol = p.str("correct_col", "correct")
      val out = p.str("output", "processed.align_data_card")
      ctx =>
        val s = ctx.spark
        save(ctx,
          graft.align.Preference.alignmentDataCard(
            Tables.readData(s, Seq(ctx.dataPath(pairsIn))),
            promptCol, chosenCol, rejectedCol, marginCol,
            Tables.readData(s, Seq(ctx.dataPath(ratingsIn))),
            itemCol, labelCol,
            Tables.readData(s, Seq(ctx.dataPath(evalIn))),
            taskCol, correctCol),
          ctx.dataPath(out))
    }

    // benchmark eval results table (per-task accuracy + stderr,
    // micro/macro rollups)
    transform("alignment", "eval-summary", "raw.eval_results", "processed.eval_summary") { p =>
      val taskCol = p.str("task_col", "task")
      val correctCol = p.str("correct_col", "correct")
      graft.eval.Metrics.evalSummary(_, taskCol, correctCol)
    }

    // unbiased best-of-k reward curve (inference-scaling diagnostic)
    transform("alignment", "best-of-n-curve", "raw.responses", "processed.best_of_n_curve") { p =>
      val ks = p.ints("ks", Seq(1, 2, 4, 8, 16))
      val promptCol = p.str("prompt_col", "prompt_id")
      val rewardCol = p.str("reward_col", "score")
      graft.align.Preference.bestOfNCurve(_, promptCol, rewardCol, ks)
    }

    // Codex pass@k over graded samples (verifiable-rewards eval)
    transform("alignment", "pass-at-k", "raw.graded_samples", "processed.pass_at_k") { p =>
      val ks = p.ints("ks", Seq(1, 10, 100))
      val promptCol = p.str("prompt_col", "prompt_id")
      val correctCol = p.str("correct_col", "correct")
      graft.align.Preference.passAtK(_, promptCol, correctCol, ks)
    }

    // SFT conversation-shape QA before chat rendering
    transform("alignment", "conversation-stats", "raw.conversations", "processed.conversation_stats") { p =>
      val convCol = p.str("conv_col", "conv_id")
      val turnCol = p.str("turn_col", "turn_no")
      val roleCol = p.str("role_col", "role")
      val contentCol = p.str("content_col", "content")
      graft.text.Packing.conversationStats(_, convCol, turnCol, roleCol, contentCol)
    }

    // inter-annotator agreement gate: run BEFORE ratings feed pair
    // construction or reward training — metric: cohen (two named raters)
    // or fleiss (any raters, variable counts)
    transform("alignment", "rater-agreement", "raw.ratings", "processed.rater_agreement") { p =>
      import graft.align.Agreement
      val itemCol = p.str("item_col", "item_id")
      val labelCol = p.str("label_col", "label")
      val metric = p.choice("metric", "fleiss", Seq("cohen", "fleiss", "krippendorff"))
      val raterCol = p.str("rater_col", "rater")
      val raterA = p.str("rater_a", "r1")
      val raterB = p.str("rater_b", "r2")
      ratings => metric match {
        case "cohen" => Agreement.cohenKappa(ratings, itemCol, raterCol, labelCol, raterA, raterB)
        case "fleiss" => Agreement.fleissKappa(ratings, itemCol, labelCol)
        case "krippendorff" => Agreement.krippendorffAlpha(ratings, itemCol, labelCol)
      }
    }

    // reward-model pairwise accuracy by confidence bucket over a scored
    // preference-pair table (rm_chosen / rm_rejected columns by default)
    transform("alignment", "reward-report",
        "processed.preference_pairs_scored", "processed.reward_report") { p =>
      val edges = p.doubles("bucket_edges", Seq(0.5, 1.0, 2.0, 5.0))
      val chosenCol = p.str("chosen_score_col", "rm_chosen")
      val rejectedCol = p.str("rejected_score_col", "rm_rejected")
      graft.align.Preference.rewardModelReport(_, chosenCol, rejectedCol, edges)
    }

    transform("alignment", "bt-leaderboard", "raw.comparisons", "processed.bt_leaderboard") { p =>
      val winnerCol = p.str("winner_col", "winner")
      val loserCol = p.str("loser_col", "loser")
      val iterations = p.int("iterations", 10)
      graft.align.Preference.bradleyTerry(_, winnerCol, loserCol, iterations)
    }

    // RETRO-style retrieval-neighbor mining: every chunk paired with its
    // top-k cross-document cosine neighbors (same-doc neighbors leak the
    // continuation), the retrieval-augmented-pretraining prep stage
    transform("corpus-curation", "retrieval-neighbors",
        "raw.embeddings", "processed.retrieval_neighbors") { p =>
      val idCol = p.str("id_col", "vec_id")
      val vecCol = p.str("vec_col", "embedding")
      val docCol = p.str("doc_col", "doc_id")
      val k = p.int("k", 10)
      val nlist = p.int("nlist", 0)
      val nprobe = p.int("nprobe", 0)
      val hierarchical = p.bool("hierarchical", true)
      graft.similarity.Similarity.retrievalNeighbors(_,
        idCol, vecCol, docCol, k, nlist, nprobe, hierarchical = hierarchical)
    }

    // embedding-level benchmark decontamination beside the n-gram
    // `decontaminate` stage: paraphrased leakage that shares no 8-gram
    // still sits at cosine ~1; both screens run before a corpus ships
    Jobs.register("corpus-curation", "decontaminate-semantic") { p =>
      val threshold = p.double("threshold", 0.99)
      val in = p.str("input", "raw.embeddings")
      val benchIn = p.str("bench", "raw.bench_embeddings")
      val idCol = p.str("id_col", "vec_id")
      val vecCol = p.str("vec_col", "embedding")
      val benchIdCol = p.str("bench_id_col", "vec_id")
      val benchVecCol = p.str("bench_vec_col", "embedding")
      val out = p.str("output", "clean.embeddings_decontaminated")
      ctx =>
        val s = ctx.spark
        save(ctx,
          graft.similarity.Similarity.decontaminateSemantic(
            Tables.readData(s, Seq(ctx.dataPath(in))), idCol, vecCol,
            Tables.readData(s, Seq(ctx.dataPath(benchIn))), benchIdCol, benchVecCol,
            threshold),
          ctx.dataPath(out))
    }
  }
}
