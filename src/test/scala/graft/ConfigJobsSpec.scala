package graft

import graft.config.Context
import org.scalatest.funsuite.AnyFunSuite

class ConfigJobsSpec extends AnyFunSuite {

  test("dotted dig resolves nested maps") {
    val tree = Map("a" -> Map("b" -> Map("c" -> 42)))
    assert(Context.dig(tree, "a.b.c").contains(42))
    assert(Context.dig(tree, "a.x").isEmpty)
  }

  test("interpolation resolves ${} references to a fixpoint") {
    val tree = Map(
      "base" -> Map("root" -> "/data", "zone" -> "${base.root}/raw"),
      "paths" -> Map("events" -> "${base.zone}/events.parquet"))
    val out = Context.interpolate(tree)
    assert(Context.dig(out, "paths.events").contains("/data/raw/events.parquet"))
  }

  test("unresolvable references survive verbatim (no crash)") {
    val out = Context.interpolate(Map("a" -> "${does.not.exist}"))
    assert(out("a") == "${does.not.exist}")
  }

  test("job runner appends a tracking record per executed task") {
    val log = java.nio.file.Files.createTempDirectory("graft-track")
      .resolve("run_log.jsonl").toString
    val cfg: Map[String, Any] = Map(
      "job_catalog" -> Map("jobs" -> List(
        Map(
          "name" -> "tjob",
          "stages" -> List(Map(
            "name" -> "tstage",
            "tasks" -> List(
              Map("name" -> "ok-task", "params" ->
                Map("alpha" -> 1, "mode" -> "fast", "note" -> "say \"hi\"\tthen\u0001")),
              Map("name" -> "bad-task"))))))),
      "log_catalog" -> Map("tracking" -> Map("path" -> log)))
    val ctx = Context(cfg, null)
    graft.pipeline.Jobs.register("tjob", "ok-task") { p =>
      p.int("alpha", 0); p.str("mode", "slow"); p.str("note", "")
      _ => ()
    }
    graft.pipeline.Jobs.register("tjob", "bad-task")(_ => _ => throw new RuntimeException("boom"))
    val failures = graft.pipeline.Jobs.run(ctx, "tjob")
    assert(failures == Seq(("tjob", "tstage", "bad-task")))
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(log))
    assert(lines.size() == 2)
    assert(lines.get(0).contains("\"status\":\"ok\"") && lines.get(0).contains("\"alpha\":1")
      && lines.get(0).contains("\"mode\":\"fast\""))
    assert(lines.get(1).contains("\"status\":\"failed\"") && lines.get(1).contains("boom"))
    // a quote, a tab and a raw control char all survive as valid JSON
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(lines.get(0))
    assert(parsed.get("params").get("note").asText() == "say \"hi\"\tthen\u0001")
  }

  test("data-cleaning then feature-engineering run the shipped catalog on the testdata") {
    val spark = SparkSpec.session
    val work = java.nio.file.Files.createTempDirectory("graft-propensity").toString
    // core.spark_conf is not applied: Context(cfg, spark) reuses the shared
    // test session, where Context.session would build one from the config
    val dataCatalog = Context.loadYaml("conf/data_catalog/local.yml")
    val cfg = Context.interpolate(Map(
      "job_catalog" -> Context.loadYaml("conf/job_catalog/local.yml"),
      "core" -> Context.loadYaml("conf/core/default.yml"),
      "data_catalog" -> dataCatalog.updated("base",
        Map("raw" -> "/root/testdata/sf0.001", "work" -> work))))
    graft.pipeline.Production.registerAll()
    val ctx = Context(cfg, spark)
    val failures = Seq("data-cleaning", "feature-engineering").flatMap(graft.pipeline.Jobs.run(ctx, _))
    assert(failures.isEmpty, failures.toString)
    val features = spark.read.parquet(ctx.dataPath("processed.features"))
    val expected = Seq("target_var", "c_acctbal", "last_click_date_diff", "total_click_value",
      "last_view_date_diff", "total_view_value", "last_purchase_date_diff", "total_purchase_value")
    assert(expected.forall(features.columns.contains), features.columns.mkString(","))
    assert(features.count() > 0)
  }

  test("fail_fast job skips its remaining tasks after a failure") {
    val ran = scala.collection.mutable.ListBuffer[String]()
    val cfg: Map[String, Any] = Map(
      "job_catalog" -> Map("jobs" -> List(
        Map(
          "name" -> "ffjob",
          "fail_fast" -> true,
          "stages" -> List(Map(
            "name" -> "s",
            "tasks" -> List(
              Map("name" -> "t1"), Map("name" -> "boom"), Map("name" -> "t3"))))))))
    val ctx = Context(cfg, null)
    graft.pipeline.Jobs.register("ffjob", "t1")(_ => _ => ran += "t1")
    graft.pipeline.Jobs.register("ffjob", "boom")(_ => _ => throw new RuntimeException("x"))
    graft.pipeline.Jobs.register("ffjob", "t3")(_ => _ => ran += "t3")
    val failures = graft.pipeline.Jobs.run(ctx, "ffjob")
    assert(failures.map(_._3) == Seq("boom"))
    assert(ran.toSeq == Seq("t1"), s"t3 must not run after a fail_fast failure; ran $ran")
  }

  test("yaml round trip through a temp file") {
    val f = java.nio.file.Files.createTempFile("graft", ".yml")
    java.nio.file.Files.writeString(f, "core:\n  seed: 7\n  name: x\nlist:\n  - a\n  - b\n")
    val m = Context.loadYaml(f.toString)
    assert(Context.dig(m, "core.seed").map(_.toString).contains("7"))
    assert(m("list") == List("a", "b"))
  }

  test("yaml-declared param_grid drives a cross-validated grid search end-to-end") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-grid").toString
    // tiny features table in the production schema (7 feature cols + label)
    val rnd = new scala.util.Random(7)
    (1 to 80).map { i =>
      val y = i % 2
      (i.toLong, 100.0 + y * 50 + rnd.nextGaussian(),
        10 + y * 5, 5.0 * y + rnd.nextDouble(),
        20 - y * 5, 3.0 * (1 - y) + rnd.nextDouble(),
        15 + y * 2, 7.0 * y + rnd.nextDouble(), y)
    }.toDF("c_custkey", "c_acctbal", "last_click_date_diff", "total_click_value",
        "last_view_date_diff", "total_view_value", "last_purchase_date_diff",
        "total_purchase_value", "target_var")
      .write.mode("overwrite").parquet(s"$work/features")

    // the grid arrives exactly as a job catalog declares it: YAML lists of
    // doubles AND of strings (the coercion path)
    val yml = java.nio.file.Files.createTempFile("graft-jobs", ".yml")
    java.nio.file.Files.writeString(yml,
      """jobs:
        |  - name: model-gen
        |    stages:
        |      - name: training
        |        tasks:
        |          - name: train
        |            params:
        |              model: logistic_regression
        |              param_grid:
        |                regParam: [0.0, 0.5]
        |                elasticNetParam: ["1.0"]
        |              num_folds: "2"
        |""".stripMargin)
    val cfg = Map(
      "job_catalog" -> Context.loadYaml(yml.toString),
      "data_catalog" -> Map(
        "processed" -> Map("features" -> s"$work/features"),
        "models" -> Map("classifier" -> s"$work/model")))
    graft.pipeline.Production.registerAll()
    val failures = graft.pipeline.Jobs.run(Context(cfg, spark), "model-gen")
    assert(failures.isEmpty, failures.toString)

    // the persisted model is the CV winner: its params come from the grid
    val model = graft.model.Training.loadModel(s"$work/model")
    val lr = model.stages.last
      .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    assert(Set(0.0, 0.5).contains(lr.getRegParam), s"regParam ${lr.getRegParam} not from grid")
    assert(lr.getElasticNetParam == 1.0, "string-typed YAML value must coerce to double")
  }

  test("malformed param_grid (a list, not a mapping) fails the task loudly") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-badgrid").toString
    Seq((1L, 1.0, 1, 1.0, 1, 1.0, 1, 1.0, 0), (2L, 2.0, 2, 2.0, 2, 2.0, 2, 2.0, 1))
      .toDF("c_custkey", "c_acctbal", "last_click_date_diff", "total_click_value",
        "last_view_date_diff", "total_view_value", "last_purchase_date_diff",
        "total_purchase_value", "target_var")
      .write.mode("overwrite").parquet(s"$work/features")
    val cfg = Map(
      "job_catalog" -> Map("jobs" -> List(Map(
        "name" -> "model-gen",
        "stages" -> List(Map("name" -> "training", "tasks" -> List(Map(
          "name" -> "train",
          // a YAML list where a mapping belongs — the config typo
          "params" -> Map("param_grid" -> List(0.0, 0.1))))))))),
      "data_catalog" -> Map(
        "processed" -> Map("features" -> s"$work/features"),
        "models" -> Map("classifier" -> s"$work/model")))
    graft.pipeline.Production.registerAll()
    val failures = graft.pipeline.Jobs.run(Context(cfg, spark), "model-gen")
    assert(failures == Seq(("model-gen", "training", "train")),
      "a malformed param_grid must FAIL the task, not silently single-fit")
  }

  test("param_grid with an unknown param name fails loudly at grid build") {
    val spark = SparkSpec.session
    import spark.implicits._
    val df = Seq((1.0, 0), (2.0, 1)).toDF("x", "target_var")
    val e = intercept[IllegalArgumentException] {
      graft.model.Training.gridSearch(df, "target_var", Seq("x"),
        "logistic_regression", Map("notAKnob" -> Seq(1.0)))
    }
    assert(e.getMessage.contains("notAKnob") && e.getMessage.contains("regParam"),
      s"error must name the bad knob and list the real ones: ${e.getMessage}")
  }

  test("ann-serving catalog jobs: build-index persists once, search loads and scores under the plan audit") {
    val spark = SparkSpec.session
    val work = java.nio.file.Files.createTempDirectory("graft-ann-serve").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.write.mode("overwrite").parquet(s"$work/embeddings")
    emb.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
      .write.mode("overwrite").parquet(s"$work/queries")
    val yml = java.nio.file.Files.createTempFile("graft-ann-jobs", ".yml")
    java.nio.file.Files.writeString(yml,
      """jobs:
        |  - name: ann-serving
        |    fail_fast: true
        |    stages:
        |      - name: serve
        |        tasks:
        |          - name: build-index
        |            params:
        |              kind: ivf
        |              nlist: 16
        |              quantize: true
        |          - name: search
        |            params:
        |              kind: ivf
        |              k: 5
        |              nprobe: 8
        |""".stripMargin)
    val cfg = Map(
      "core" -> Map("seed" -> 7, "audit_plans" -> true),
      "job_catalog" -> Context.loadYaml(yml.toString),
      "data_catalog" -> Map(
        "raw" -> Map(
          "embeddings" -> s"$work/embeddings",
          "query_embeddings" -> s"$work/queries"),
        "models" -> Map("ann_index" -> s"$work/ann_index"),
        "processed" -> Map("neighbors" -> s"$work/neighbors")))
    graft.pipeline.Production.registerAll()
    val ctx = Context(cfg, spark)
    assert(graft.pipeline.Jobs.run(ctx, "ann-serving").isEmpty)
    val neighbors = spark.read.parquet(s"$work/neighbors")
    assert(neighbors.count() === 15) // 3 queries x k=5
    assert(neighbors.columns.toSeq === Seq("query_id", "vec_id", "cosine", "rank"))
    // steady state: COMPACT the persisted index (r17 maintenance stage —
    // kind-dispatched off the meta, no params beyond the target size),
    // then search again WITHOUT the build task — the rewritten index
    // alone serves it, and the answer is row-identical to pre-compaction
    val preCompact = neighbors.collect().map(_.toString).sorted.toSeq
    val searchOnly = java.nio.file.Files.createTempFile("graft-ann-jobs2", ".yml")
    java.nio.file.Files.writeString(searchOnly,
      """jobs:
        |  - name: ann-serving
        |    stages:
        |      - name: serve
        |        tasks:
        |          - name: compact
        |          - name: search
        |            params: {kind: ivf, k: 5, nprobe: 8}
        |""".stripMargin)
    val ctx2 = Context(cfg.updated("job_catalog", Context.loadYaml(searchOnly.toString)), spark)
    assert(graft.pipeline.Jobs.run(ctx2, "ann-serving").isEmpty)
    val postCompact = spark.read.parquet(s"$work/neighbors")
      .collect().map(_.toString).sorted.toSeq
    assert(postCompact === preCompact,
      "the compact stage must not change what search returns")
    // r17 kinds: a SHARDED build into a fresh zone, searched WITHOUT a
    // kind param — the search stage reads the kind off the persisted
    // meta instead of repeating the build stage's choice
    val shYml = java.nio.file.Files.createTempFile("graft-ann-jobs3", ".yml")
    java.nio.file.Files.writeString(shYml,
      """jobs:
        |  - name: ann-serving
        |    fail_fast: true
        |    stages:
        |      - name: serve
        |        tasks:
        |          - name: build-index
        |            params: {kind: ivf_sharded, n_shards: 2, nlist: 8}
        |          - name: search
        |            params: {k: 5, nprobe: 8}
        |""".stripMargin)
    val shCfg = Map(
      "core" -> Map("seed" -> 7, "audit_plans" -> true),
      "job_catalog" -> Context.loadYaml(shYml.toString),
      "data_catalog" -> Map(
        "raw" -> Map(
          "embeddings" -> s"$work/embeddings",
          "query_embeddings" -> s"$work/queries"),
        "models" -> Map("ann_index" -> s"$work/ann_index_sh"),
        "processed" -> Map("neighbors" -> s"$work/neighbors_sh")))
    assert(graft.pipeline.Jobs.run(Context(shCfg, spark), "ann-serving").isEmpty)
    val shN = spark.read.parquet(s"$work/neighbors_sh")
    assert(shN.count() === 15)
    // exhaustive probes per shard (nlist 8, nprobe 8): the merged result
    // is exact — identical to the quantize-free brute-force top-5
    val exact = graft.similarity.Similarity.cosineTopK(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 3),
      "vec_id", "embedding", "vec_id", 5)
    assert(shN.exceptAll(exact).count() === 0 && exact.exceptAll(shN).count() === 0)
    // r17 maintenance stage: reshard 2 -> 3 from the stored payloads,
    // then search again — exhaustive answer identical, kind still read
    // off the meta
    val preReshard = shN.collect().map(_.toString).sorted.toSeq
    val rsYml = java.nio.file.Files.createTempFile("graft-ann-jobs4", ".yml")
    java.nio.file.Files.writeString(rsYml,
      """jobs:
        |  - name: ann-serving
        |    fail_fast: true
        |    stages:
        |      - name: serve
        |        tasks:
        |          - name: reshard
        |            params: {n_shards: 3, nlist: 8}
        |          - name: search
        |            params: {k: 5, nprobe: 8}
        |""".stripMargin)
    assert(graft.pipeline.Jobs.run(
      Context(shCfg.updated("job_catalog", Context.loadYaml(rsYml.toString)), spark),
      "ann-serving").isEmpty)
    // the second search overwrote neighbors_sh — drop the session's
    // cached file listing before re-reading. (The INDEX needs no refresh
    // here: reshardIvf refreshes its own path after the swap — the
    // stale-listing fix this failure originally surfaced.)
    spark.catalog.refreshByPath(s"$work/neighbors_sh")
    assert(spark.read.parquet(s"$work/ann_index_sh/meta.parquet")
      .head().getAs[Int]("tables") === 3)
    assert(spark.read.parquet(s"$work/neighbors_sh")
      .collect().map(_.toString).sorted.toSeq === preReshard,
      "resharding must not change the exhaustive search answer")
    // r18 maintenance stage: delete (tombstone) + fold, then search —
    // the retracted ids vanish from the served neighbors
    val doomed = spark.read.parquet(s"$work/neighbors_sh")
      .select(org.apache.spark.sql.functions.col("vec_id")).limit(2)
    doomed.write.mode("overwrite").parquet(s"$work/retract")
    val doomedIds = doomed.collect().map(_.getLong(0)).toSet
    val delYml = java.nio.file.Files.createTempFile("graft-ann-jobs5", ".yml")
    java.nio.file.Files.writeString(delYml,
      """jobs:
        |  - name: ann-serving
        |    fail_fast: true
        |    stages:
        |      - name: serve
        |        tasks:
        |          - name: delete
        |            params: {compact: "true"}
        |          - name: search
        |            params: {k: 5, nprobe: 8}
        |""".stripMargin)
    val delCfg = shCfg
      .updated("job_catalog", Context.loadYaml(delYml.toString))
      .updated("data_catalog", Map(
        "raw" -> Map(
          "embeddings" -> s"$work/embeddings",
          "query_embeddings" -> s"$work/queries",
          "retracted_ids" -> s"$work/retract"),
        "models" -> Map("ann_index" -> s"$work/ann_index_sh"),
        "processed" -> Map("neighbors" -> s"$work/neighbors_sh")))
    assert(graft.pipeline.Jobs.run(Context(delCfg, spark), "ann-serving").isEmpty)
    spark.catalog.refreshByPath(s"$work/neighbors_sh")
    val served = spark.read.parquet(s"$work/neighbors_sh")
      .select(org.apache.spark.sql.functions.col("vec_id").cast("long"))
      .collect().map(_.getLong(0)).toSet
    assert((served & doomedIds).isEmpty,
      s"retracted ids still served after the catalog delete: ${served & doomedIds}")
  }

  test("stats-driven maintenance: crossed thresholds fold once, skew recommends a reshard, healthy is a no-op") {
    val spark = SparkSpec.session
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft-ann-maint").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    emb.write.mode("overwrite").parquet(s"$work/embeddings")
    // 15% of rows retracted: crosses the 10% tombstone-ratio policy
    emb.filter(col("vec_id") < 75).select(col("vec_id"))
      .write.mode("overwrite").parquet(s"$work/retract")
    def yml(body: String) = {
      val f = java.nio.file.Files.createTempFile("graft-maint", ".yml")
      java.nio.file.Files.writeString(f,
        s"""jobs:
           |  - name: ann-serving
           |    fail_fast: true
           |    stages:
           |      - name: maint
           |        tasks:
           |$body""".stripMargin)
      Context.loadYaml(f.toString)
    }
    def cfg(jobYml: Any, index: String) = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> jobYml,
      "data_catalog" -> Map(
        "raw" -> Map(
          "embeddings" -> s"$work/embeddings",
          "retracted_ids" -> s"$work/retract"),
        "models" -> Map("ann_index" -> s"$work/$index"),
        "processed" -> Map("maintenance_report" -> s"$work/report")))
    graft.pipeline.Production.registerAll()
    // a LEGACY report (pre-r20 overwrite era: the same maintain schema,
    // no run_ts column) already at the path: the first append must
    // migrate it once instead of leaving a mixed-schema table
    import spark.implicits._
    Seq(("ivf", 1L, 0L, 0.0, 1L, 1L, 1.0, 1.0, false, false, "healthy: legacy"))
      .toDF("kind", "n_rows", "pending_tombstones", "pending_ratio",
        "data_files", "ideal_files", "file_decay", "shard_skew",
        "compacted", "reshard_recommended", "reason")
      .write.mode("overwrite").parquet(s"$work/report")
    // build + delete (no fold) + maintain: the tombstone signal crosses →
    // exactly one fold (file-decay disabled via a huge threshold so the
    // trigger under test is unambiguous)
    assert(graft.pipeline.Jobs.run(Context(cfg(yml(
      """          - name: build-index
        |            params: {kind: ivf, nlist: 8}
        |          - name: delete
        |          - name: maintain
        |            params: {tombstone_ratio: "0.1", file_decay: "1e9"}""".stripMargin),
      "idx"), spark), "ann-serving").isEmpty)
    // the legacy row was migrated (run_ts null — it predates the trail)
    // and the fresh decision appended beside it, latest = max run_ts
    val r1All = spark.read.parquet(s"$work/report")
    assert(r1All.count() === 2L)
    assert(r1All.filter(col("run_ts").isNull).head()
      .getAs[String]("reason") === "healthy: legacy")
    val r1 = r1All.orderBy(col("run_ts").desc).head()
    assert(r1.getAs[Boolean]("compacted") &&
      r1.getAs[String]("reason").contains("tombstones"), r1.toString)
    assert(r1.getAs[Double]("pending_ratio") === 0.15)
    assert(!new java.io.File(s"$work/idx/tombstones.parquet").exists(),
      "the crossed threshold must fold the tombstones physically")
    // run the same maintain again: now healthy → pure no-op read
    assert(graft.pipeline.Jobs.run(Context(cfg(yml(
      """          - name: maintain
        |            params: {tombstone_ratio: "0.1", file_decay: "1e9"}""".stripMargin),
      "idx"), spark), "ann-serving").isEmpty)
    spark.catalog.refreshByPath(s"$work/report")
    // the report is an audit TRAIL: the second run appends (run_ts-stamped)
    // instead of overwriting, so the fold decision above stays readable
    val trail = spark.read.parquet(s"$work/report")
    assert(trail.count() === 3L, "maintain must append to the audit trail")
    val r2 = trail.orderBy(col("run_ts").desc).head()
    assert(!r2.getAs[Boolean]("compacted") && !r2.getAs[Boolean]("reshard_recommended"))
    assert(r2.getAs[String]("reason").startsWith("healthy"))
    assert(spark.read.parquet(s"$work/idx/meta.parquet").head()
      .getAs[Long]("n_rows") === 425L) // 500 - 75 folded
    // a 2-shard index built from ids hash-biased to shard 0: skew crosses
    // → a LOUD recommendation row, but NO automatic reshard
    emb.filter(pmod(xxhash64(col("vec_id")), lit(2L)) === 0)
      .unionByName(
        emb.filter(pmod(xxhash64(col("vec_id")), lit(2L)) === 1).limit(20))
      .write.mode("overwrite").parquet(s"$work/biased")
    val skCfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> yml(
        """          - name: build-index
          |            params: {kind: ivf_sharded, n_shards: 2, nlist: 8}
          |          - name: maintain
          |            params: {file_decay: "1e9", skew_ratio: "2.0"}""".stripMargin),
      "data_catalog" -> Map(
        "raw" -> Map("embeddings" -> s"$work/biased"),
        "models" -> Map("ann_index" -> s"$work/idx_sk"),
        "processed" -> Map("maintenance_report" -> s"$work/report_sk")))
    assert(graft.pipeline.Jobs.run(Context(skCfg, spark), "ann-serving").isEmpty)
    val r3 = spark.read.parquet(s"$work/report_sk").head()
    assert(r3.getAs[Boolean]("reshard_recommended") &&
      r3.getAs[String]("reason").contains("RESHARD RECOMMENDED"), r3.toString)
    assert(r3.getAs[Double]("shard_skew") > 2.0)
    assert(spark.read.parquet(s"$work/idx_sk/meta.parquet").head()
      .getAs[Int]("tables") === 2,
      "skew must RECOMMEND a reshard, never run one")
    // the curation twin: a minhash index past the tombstone threshold
    // folds through corpus-curation/index-maintain with the same report
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    graft.dedup.MinHashIndex.build(docs, "doc_id", "text", s"$work/neardup")
    import spark.implicits._
    graft.dedup.MinHashIndex.deleteIds(spark, s"$work/neardup",
      (0L until 20L).toDF("doc_id"))
    val mhCfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Map("jobs" -> List(Map(
        "name" -> "corpus-curation", "fail_fast" -> true,
        "stages" -> List(Map("name" -> "maint", "tasks" -> List(Map(
          "name" -> "index-maintain",
          "params" -> Map("index" -> "neardup", "tombstone_ratio" -> "0.1",
            "file_decay" -> "1e9")))))))),
      "data_catalog" -> Map(
        "models" -> Map("neardup_index" -> s"$work/neardup"),
        "processed" -> Map("maintenance_report" -> s"$work/report_mh")))
    assert(graft.pipeline.Jobs.run(Context(mhCfg, spark), "corpus-curation").isEmpty)
    val r4 = spark.read.parquet(s"$work/report_mh").head()
    assert(r4.getAs[String]("kind") === "minhash" && r4.getAs[Boolean]("compacted"))
    assert(!new java.io.File(s"$work/neardup/tombstones.parquet").exists())
  }

  test("ann-serving retrieval-eval: the served index is graded against user relevance labels") {
    val spark = SparkSpec.session
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft-ann-eval").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    emb.write.mode("overwrite").parquet(s"$work/embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    queries.write.mode("overwrite").parquet(s"$work/queries")
    // labels: the exact brute-force top-3 per query, graded 3/2/1 — at
    // exhaustive probes the served search must grade PERFECT against them
    graft.similarity.Similarity
      .cosineTopK(emb, queries, "vec_id", "embedding", "vec_id", 3)
      .select(col("query_id"), col("vec_id"), (lit(4) - col("rank")).as("rel"))
      .write.mode("overwrite").parquet(s"$work/relevance")
    val yml = java.nio.file.Files.createTempFile("graft-ann-eval", ".yml")
    java.nio.file.Files.writeString(yml,
      """jobs:
        |  - name: ann-serving
        |    fail_fast: true
        |    stages:
        |      - name: serve
        |        tasks:
        |          - name: build-index
        |            params: {kind: ivf, nlist: 8}
        |          - name: retrieval-eval
        |            params: {k: 10, nprobe: 8}
        |""".stripMargin)
    val cfg = Map(
      "core" -> Map("seed" -> 7, "audit_plans" -> true),
      "job_catalog" -> Context.loadYaml(yml.toString),
      "data_catalog" -> Map(
        "raw" -> Map(
          "embeddings" -> s"$work/embeddings",
          "query_embeddings" -> s"$work/queries",
          "relevance" -> s"$work/relevance"),
        "models" -> Map("ann_index" -> s"$work/ann_index"),
        "processed" -> Map(
          "retrieval_eval" -> s"$work/eval",
          "retrieval_eval_summary" -> s"$work/eval_summary")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(Context(cfg, spark), "ann-serving").isEmpty)
    val perQ = spark.read.parquet(s"$work/eval")
    assert(perQ.count() === 5)
    perQ.collect().foreach { r =>
      assert(r.getAs[Double]("ndcg") === 1.0 &&
        r.getAs[Double]("reciprocal_rank") === 1.0 &&
        r.getAs[Long]("n_relevant") === 3L, s"exhaustive serve must grade perfect: $r")
    }
    val s = spark.read.parquet(s"$work/eval_summary").head()
    assert(s.getAs[Long]("n_queries") === 5L &&
      s.getAs[Double]("mrr") === 1.0 && s.getAs[Double]("mean_ndcg") === 1.0)
    assert(s.getAs[Double]("mean_recall_at_k") === 1.0)
  }

  test("ann-serving retrieval-tune: the sweep table ranks operating points by measured quality and cost") {
    val spark = SparkSpec.session
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft-ann-tune").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    emb.write.mode("overwrite").parquet(s"$work/embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    queries.write.mode("overwrite").parquet(s"$work/queries")
    graft.similarity.Similarity
      .cosineTopK(emb, queries, "vec_id", "embedding", "vec_id", 3)
      .select(col("query_id"), col("vec_id"), (lit(4) - col("rank")).as("rel"))
      .write.mode("overwrite").parquet(s"$work/relevance")
    val yml = java.nio.file.Files.createTempFile("graft-ann-tune", ".yml")
    java.nio.file.Files.writeString(yml,
      """jobs:
        |  - name: ann-serving
        |    fail_fast: true
        |    stages:
        |      - name: serve
        |        tasks:
        |          - name: build-index
        |            params: {kind: ivf, nlist: 8}
        |          - name: retrieval-tune
        |            params: {k: 10, nprobe: "8,1"}
        |""".stripMargin)
    val cfg = Map(
      "core" -> Map("seed" -> 7, "audit_plans" -> true),
      "job_catalog" -> Context.loadYaml(yml.toString),
      "data_catalog" -> Map(
        "raw" -> Map(
          "embeddings" -> s"$work/embeddings",
          "query_embeddings" -> s"$work/queries",
          "relevance" -> s"$work/relevance"),
        "models" -> Map("ann_index" -> s"$work/ann_index"),
        "processed" -> Map("retrieval_tune" -> s"$work/tune")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(Context(cfg, spark), "ann-serving").isEmpty)
    val tune = spark.read.parquet(s"$work/tune").collect()
      .map(r => r.getAs[String]("operating_point") -> r).toMap
    assert(tune.keySet === Set("nprobe=8", "nprobe=1"), tune.keySet.toString)
    val full = tune("nprobe=8")
    val tight = tune("nprobe=1")
    // exhaustive probes grade PERFECT against the exact-top-3 labels,
    // and a pruned point can never beat them — the table must order
    // operating points sanely on every quality column
    assert(full.getAs[Double]("mean_ndcg") === 1.0 &&
      full.getAs[Double]("mean_recall_at_k") === 1.0 &&
      full.getAs[Double]("mean_ap") === 1.0 &&
      full.getAs[Double]("mrr") === 1.0)
    assert(tight.getAs[Double]("mean_ndcg") <= full.getAs[Double]("mean_ndcg"))
    assert(tight.getAs[Double]("mean_recall_at_k") <=
      full.getAs[Double]("mean_recall_at_k"))
    // ...and the COST columns must reflect the pruning: one probed cell
    // scans strictly fewer candidate rows than all eight
    assert(tight.getAs[Double]("cand_rows_per_query") <
      full.getAs[Double]("cand_rows_per_query"),
      s"tight=${tight.getAs[Double]("cand_rows_per_query")} " +
        s"full=${full.getAs[Double]("cand_rows_per_query")}")
    assert(full.getAs[Double]("cand_rows_per_query") <= emb.count().toDouble)
    assert(full.getAs[Double]("search_sec") > 0 &&
      tight.getAs[Double]("search_sec") > 0)
    assert(full.getAs[Long]("n_queries") === 5L &&
      full.getAs[Long]("n_labeled") === 5L)
  }

  test("tokenizer + metric-profile catalog jobs: train/encode and replay-safe quantile fold") {
    val spark = SparkSpec.session
    import org.apache.spark.sql.functions.col
    val work = java.nio.file.Files.createTempDirectory("graft-tok-jobs").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(200).write.mode("overwrite").parquet(s"$work/docs")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id"), col("value")).limit(2000)
      .write.mode("overwrite").parquet(s"$work/metrics")
    // synthetic media assets over the same docs: every 5th doc carries an
    // image at text position 5 (7 patch tokens), every 7th a lead image
    spark.read.parquet(s"$work/docs").select(col("doc_id"))
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), (col("doc_id") * 10 + 1).as("asset_id"),
        org.apache.spark.sql.functions.lit(5L).as("position"),
        org.apache.spark.sql.functions.lit(7L).as("patch_tokens"))
      .unionByName(spark.read.parquet(s"$work/docs").select(col("doc_id"))
        .filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), (col("doc_id") * 10 + 2).as("asset_id"),
          org.apache.spark.sql.functions.lit(0L).as("position"),
          org.apache.spark.sql.functions.lit(3L).as("patch_tokens")))
      .write.mode("overwrite").parquet(s"$work/assets")
    val yml = java.nio.file.Files.createTempFile("graft-tok-jobs", ".yml")
    java.nio.file.Files.writeString(yml,
      """jobs:
        |  - name: tokenizer
        |    fail_fast: true
        |    stages:
        |      - name: fit-serve
        |        tasks:
        |          - name: train
        |            params: {num_merges: 60}
        |          - name: encode
        |            params: {ids: true}
        |          - name: pack
        |            params: {ctx_tokens: 256, n_shards: 4}
        |          - name: pack-no-split
        |            params: {ctx_tokens: 256, n_shards: 4}
        |          - name: materialize
        |            params: {ctx_tokens: 256, n_shards: 4}
        |          - name: materialize-no-split
        |            params: {ctx_tokens: 256, n_shards: 4}
        |          - name: interleave-plan
        |            params: {ctx_tokens: 256, n_shards: 4}
        |          - name: materialize-interleaved
        |            params: {ctx_tokens: 256, n_shards: 4, image_token_id: -1}
        |          - name: epoch-shuffle
        |            params: {epoch: 2, source: processed.interleaved_bins}
        |          - name: data-card
        |  - name: metric-profile
        |    stages:
        |      - name: profile
        |        tasks:
        |          - name: quantile-fold
        |            params: {batch_id: 1, probs: "0.5,0.9"}
        |""".stripMargin)
    val cfg = Map(
      "core" -> Map("seed" -> 7, "audit_plans" -> true),
      "job_catalog" -> Context.loadYaml(yml.toString),
      "data_catalog" -> Map(
        "raw" -> Map(
          "documents" -> s"$work/docs",
          "assets" -> s"$work/assets",
          "metrics_batch" -> s"$work/metrics"),
        "models" -> Map(
          "bpe_merges" -> s"$work/bpe_merges",
          "bpe_vocab" -> s"$work/bpe_vocab",
          "quantile_state" -> s"$work/qstate"),
        "processed" -> Map(
          "tokenized" -> s"$work/tokenized",
          "packing_plan" -> s"$work/packing_plan",
          "packing_shards" -> s"$work/packing_shards",
          "packed_sequences" -> s"$work/packed_sequences",
          "bin_packing" -> s"$work/bin_packing",
          "bin_packing_stats" -> s"$work/bin_packing_stats",
          "packed_bins" -> s"$work/packed_bins",
          "interleaved_plan" -> s"$work/interleaved_plan",
          "interleaved_bins" -> s"$work/interleaved_bins",
          "epoch_order" -> s"$work/epoch_order",
          "tokenizer_data_card" -> s"$work/tokenizer_card",
          "quantile_profile" -> s"$work/qprofile")))
    graft.pipeline.Production.registerAll()
    val ctx = Context(cfg, spark)
    assert(graft.pipeline.Jobs.run(ctx, "tokenizer").isEmpty)
    val merges = spark.read.parquet(s"$work/bpe_merges")
    assert(merges.count() > 0 && merges.columns.contains("rank"))
    val vocab = spark.read.parquet(s"$work/bpe_vocab")
    assert(vocab.filter(col("token") === "<unk>").head().getAs[Int]("token_id") === 0)
    val tokenized = spark.read.parquet(s"$work/tokenized")
    assert(tokenized.count() === 200)
    assert(!tokenized.columns.contains("text") && tokenized.columns.contains("token_ids"))
    assert(tokenized.filter(col("n_tokens") <= 0).count() === 0)
    // ids encode against the training corpus itself: nothing is OOV
    assert(tokenized.filter(org.apache.spark.sql.functions
      .array_contains(col("token_ids"), graft.text.Bpe.UnkId)).count() === 0)
    // packing ran on the tokenizer's REAL counts: plan token totals must
    // equal the tokenized zone's n_tokens sum, and shards conserve them
    val plan = spark.read.parquet(s"$work/packing_plan")
    val planTokens = plan.agg(org.apache.spark.sql.functions.sum("n_tokens"))
      .head().getLong(0)
    val encTokens = tokenized.agg(org.apache.spark.sql.functions.sum("n_tokens"))
      .head().getLong(0)
    assert(planTokens === encTokens, "packing plan lost or invented tokens")
    val shards = spark.read.parquet(s"$work/packing_shards")
    assert(shards.count() === 4)
    assert(shards.agg(org.apache.spark.sql.functions.sum("n_tokens"))
      .head().getLong(0) === encTokens)
    // the no-split layout conserves every token (none are zero-count, so
    // every doc is placed) and its stats balance: bins*ctx = packed+padding
    val binPlan = spark.read.parquet(s"$work/bin_packing")
    assert(binPlan.agg(org.apache.spark.sql.functions.sum("n_tokens"))
      .head().getLong(0) === encTokens)
    assert(binPlan.filter(col("bin_id").isNull).count() === 0)
    val binStats = spark.read.parquet(s"$work/bin_packing_stats")
    binStats.collect().foreach { r =>
      assert(r.getAs[Long]("n_bins") * 256L ===
        r.getAs[Long]("packed_tokens") + r.getAs[Long]("padding_tokens"))
    }
    // the no-split ARTIFACT conserves every non-truncated token (bins hold
    // whole docs; oversize docs keep exactly their ctx-sized prefix) and
    // its spans tile each bin
    val bins = spark.read.parquet(s"$work/packed_bins")
    val truncated = tokenized
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.greatest(col("n_tokens") - 256L, org.apache.spark.sql.functions.lit(0L))))
      .head().getLong(0)
    assert(bins.agg(org.apache.spark.sql.functions.sum("seq_len")).head().getLong(0)
      === encTokens - truncated)
    assert(bins.filter(col("seq_len") > 256).count() === 0)
    // the materialized sequences conserve every token and respect ctx
    val seqs = spark.read.parquet(s"$work/packed_sequences")
    assert(seqs.agg(org.apache.spark.sql.functions.sum("seq_len"))
      .head().getLong(0) === encTokens)
    assert(seqs.filter(col("seq_len") > 256).count() === 0)
    // the VLM lifecycle through the catalog reproduces the direct library
    // call exactly: same slot-aligned bins, same spans, same arrays
    val catBins = spark.read.parquet(s"$work/interleaved_bins")
    val direct = graft.text.Packing.materializeInterleaved(
      tokenized, spark.read.parquet(s"$work/assets"), "doc_id", "token_ids",
      "asset_id", "position", "patch_tokens",
      ctxTokens = 256, nShards = 4, imageTokenId = -1, padTokenId = 0)
    assert(catBins.count() === direct.count())
    assert(catBins.exceptAll(direct).count() === 0 &&
      direct.exceptAll(catBins).count() === 0)
    // every placed asset's span really holds the placeholder id, and the
    // catalog plan agrees with the bins' media spans
    val catPlan = spark.read.parquet(s"$work/interleaved_plan")
    assert(catPlan.filter(!col("dropped")).count() ===
      catBins.select(org.apache.spark.sql.functions
        .explode(col("media_spans"))).count())
    assert(catBins.filter(org.apache.spark.sql.functions
      .expr("exists(media_spans, m -> exists(sequence(m.start, m.start + m.patch_tokens - 1), i -> token_ids[i] != -1))")).count() === 0)
    // epoch order covers every bin exactly once, densely per shard
    val order = spark.read.parquet(s"$work/epoch_order")
    assert(order.count() === catBins.count())
    assert(order.filter(col("epoch") =!= 2).count() === 0)
    val maxPos = order.groupBy(col("shard"))
      .agg(org.apache.spark.sql.functions.max("epoch_pos").as("mx"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
    assert(maxPos.filter(col("mx") =!= col("n") - 1).count() === 0)
    // the tokenizer data card ran over the REAL BPE artifacts: all four
    // sections present, vocab_size matches the persisted vocab exactly,
    // nothing is OOV (the encoder trained on this very corpus), and 60
    // merges are far from saturation so every language's fertility > 1
    val card = spark.read.parquet(s"$work/tokenizer_card")
    assert(card.select("section").distinct().collect().map(_.getString(0)).toSet
      === Set("vocab", "coverage", "fertility", "compression"))
    assert(card.filter(col("section") === "vocab" && col("key") === "vocab_size")
      .head().getAs[Double]("value") === vocab.count().toDouble)
    assert(card.filter(col("key") === "oov_token_rate")
      .head().getAs[Double]("value") === 0.0)
    // byte-fallback vocab entries count BOTH surfaces (<0xNN> and
    // <0xNN></w> — vocabWithIds ships 256 of each; the r16 ADVICE miss
    // was a bare-only pattern undercounting this exactly 2x)
    assert(card.filter(col("section") === "vocab" &&
        col("key") === "byte_fallback_tokens")
      .head().getAs[Double]("value") === 512.0)
    val fertRows = card.filter(col("section") === "fertility").collect()
    assert(fertRows.length === spark.read.parquet(s"$work/docs")
      .select("lang").distinct().count())
    fertRows.foreach(r => assert(r.getAs[Double]("value") > 1.0,
      s"fertility not > 1 for ${r.getAs[String]("key")}"))
    assert(graft.pipeline.Jobs.run(ctx, "metric-profile").isEmpty)
    val prof = spark.read.parquet(s"$work/qprofile")
    assert(prof.columns.toSeq.contains("q_50") && prof.columns.toSeq.contains("q_90"))
    val n1 = prof.agg(org.apache.spark.sql.functions.sum("n_state")).head().getLong(0)
    // replaying the same batch_id is a no-op: state count unchanged
    assert(graft.pipeline.Jobs.run(ctx, "metric-profile").isEmpty)
    val n2 = spark.read.parquet(s"$work/qprofile")
      .agg(org.apache.spark.sql.functions.sum("n_state")).head().getLong(0)
    assert(n1 === n2)
  }

  test("unigram tokenizer, cms-fold, scd2-fold and zorder catalog jobs") {
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft-r11-jobs").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100).write.mode("overwrite").parquet(s"$work/docs")
    graft.queries.Support.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("value"),
        unix_timestamp(col("ts")).as("tsec")).limit(2000)
      .write.mode("overwrite").parquet(s"$work/metrics")
    def cfg(batchId: Int) = Map(
      "core" -> Map("seed" -> 7, "audit_plans" -> true),
      "job_catalog" -> Map("jobs" -> List(
        Map("name" -> "tokenizer", "fail_fast" -> true, "stages" -> List(
          Map("name" -> "fit-serve", "tasks" -> List(
            Map("name" -> "word-count-fold",
              "params" -> Map("batch_id" -> batchId.toString)),
            Map("name" -> "train",
              "params" -> Map("algo" -> "unigram", "vocab_size" -> "256",
                "max_words" -> "1000", "from_state" -> "true")),
            Map("name" -> "encode",
              "params" -> Map("algo" -> "unigram", "ids" -> "true")))))),
        Map("name" -> "metric-profile", "stages" -> List(
          Map("name" -> "profile", "tasks" -> List(
            Map("name" -> "cms-fold",
              "params" -> Map("item_col" -> "user_id", "width" -> "128",
                "batch_id" -> batchId.toString)))))),
        Map("name" -> "history", "stages" -> List(
          Map("name" -> "fold", "tasks" -> List(
            Map("name" -> "scd2-fold",
              "params" -> Map("key_col" -> "k", "ts_col" -> "ts",
                "batch_id" -> batchId.toString)))))),
        Map("name" -> "layout", "stages" -> List(
          Map("name" -> "optimize", "tasks" -> List(
            Map("name" -> "zorder",
              "params" -> Map("cols" -> "user_id,value", "n_files" -> "4")))))))),
      "data_catalog" -> Map(
        "raw" -> Map(
          "documents" -> s"$work/docs",
          "metrics_batch" -> s"$work/metrics",
          "version_log" -> s"$work/vlog",
          "layout_input" -> s"$work/metrics"),
        "models" -> Map(
          "unigram_pieces" -> s"$work/pieces",
          "word_counts" -> s"$work/word_counts",
          "cms_state" -> s"$work/cms_state",
          "scd2_dim" -> s"$work/scd2_dim"),
        "processed" -> Map(
          "tokenized" -> s"$work/tokenized",
          "cms_profile" -> s"$work/cms_profile",
          "layout_zordered" -> s"$work/zordered")))
    graft.pipeline.Production.registerAll()
    val ctx1 = Context(cfg(1), spark)
    // unigram tokenizer via catalog: pieces persisted, tokenized zone
    // carries the tokenizer-agnostic token_ids/n_tokens contract
    assert(graft.pipeline.Jobs.run(ctx1, "tokenizer").isEmpty)
    // the fold materialized the word-count state and train consumed it
    // (from_state: true) — the tokenizer trained with zero corpus scans
    assert(spark.read.parquet(s"$work/word_counts").count() > 0)
    val pieces = spark.read.parquet(s"$work/pieces")
    assert(pieces.filter(col("piece") === graft.text.Bpe.UnkToken).count() === 1)
    val tokenized = spark.read.parquet(s"$work/tokenized")
    assert(tokenized.columns.contains("token_ids")
      && tokenized.columns.contains("n_tokens")
      && !tokenized.columns.contains("text"))
    // cms-fold: estimates never undercount the batch's exact counts; a
    // replayed batch_id is a no-op
    assert(graft.pipeline.Jobs.run(ctx1, "metric-profile").isEmpty)
    val exact = spark.read.parquet(s"$work/metrics")
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prof1 = spark.read.parquet(s"$work/cms_profile").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(prof1(k) >= n, s"user $k: est ${prof1(k)} < true $n") }
    assert(graft.pipeline.Jobs.run(ctx1, "metric-profile").isEmpty) // replay
    val prof2 = spark.read.parquet(s"$work/cms_profile").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prof1 === prof2, "replayed batch_id must not double-count")
    // scd2-fold: batch 1 builds, batch 2 applies; result equals the
    // from-scratch rebuild of the concatenated log
    val log1 = Seq((1L, 0L, "a"), (2L, 0L, "b")).toDF("k", "ts", "v")
    val log2 = Seq((1L, 10L, "a2"), (3L, 10L, "c")).toDF("k", "ts", "v")
    log1.write.mode("overwrite").parquet(s"$work/vlog")
    assert(graft.pipeline.Jobs.run(ctx1, "history").isEmpty)
    log2.write.mode("overwrite").parquet(s"$work/vlog")
    assert(graft.pipeline.Jobs.run(Context(cfg(2), spark), "history").isEmpty)
    val dim = spark.read.parquet(s"$work/scd2_dim")
      .orderBy("k", "valid_from").collect().map(_.toString).toSeq
    val rebuilt = graft.io.Tables
      .buildScd2(log1.unionByName(log2), Seq("k"), "ts")
      .select("k", "v", "valid_from", "valid_to", "is_current")
      .orderBy("k", "valid_from").collect().map(_.toString).toSeq
    assert(dim === rebuilt, "incremental scd2-fold diverged from rebuild")
    // zorder: rewrite preserves rows, lands in the requested file count
    assert(graft.pipeline.Jobs.run(ctx1, "layout").isEmpty)
    val z = spark.read.parquet(s"$work/zordered")
    assert(z.count() === spark.read.parquet(s"$work/metrics").count())
    assert(z.select(input_file_name()).distinct().count() <= 4)
  }

  test("curation normalize + span-dedup catalog jobs: encodings fold, shared footer vanishes") {
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val work = java.nio.file.Files.createTempDirectory("graft-cur-jobs").toString
    val footer = "this shared promotional footer sentence repeats across many documents verbatim"
    // doc 2 duplicates doc 1 in a DIFFERENT unicode encoding (decomposed
    // accent + a control byte); docs 3 and 4 carry the shared footer
    val docs = Seq(
      (1L, "caf\u00e9 menu items priced fairly"),
      (2L, "cafe\u0301\u0007 menu items priced fairly"),
      (3L, s"unique alpha prose body one $footer"),
      (4L, s"unique beta prose body two $footer"),
      (5L, "plain document without any shared spans at all")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$work/docs")
    val yml = java.nio.file.Files.createTempFile("graft-cur-jobs", ".yml")
    java.nio.file.Files.writeString(yml,
      """jobs:
        |  - name: corpus-curation
        |    fail_fast: true
        |    stages:
        |      - name: clean
        |        tasks:
        |          - name: normalize
        |            params: {form: NFKC}
        |          - name: dedup-corpus
        |            params: {input: clean.documents_normalized}
        |          - name: span-dedup
        |            params: {k: 5, min_df: 2}
        |""".stripMargin)
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Context.loadYaml(yml.toString),
      "data_catalog" -> Map(
        "raw" -> Map("documents" -> s"$work/docs"),
        "clean" -> Map(
          "documents_normalized" -> s"$work/normalized",
          "documents" -> s"$work/deduped",
          "documents_spandeduped" -> s"$work/spandeduped")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(ctx = Context(cfg, spark), "corpus-curation").isEmpty)
    // normalization composed doc 2 into doc 1's encoding and dropped the BEL
    val norm = spark.read.parquet(s"$work/normalized")
      .orderBy("doc_id").select("text").as[String].collect()
    assert(norm(0) === norm(1), s"equivalent encodings must normalize equal: ${norm.toSeq}")
    assert(!norm(1).exists(_ < ' '), "control byte must be stripped")
    // dedup (fed the NORMALIZED zone) folded the unicode-variant duplicate
    val span = spark.read.parquet(s"$work/spandeduped")
      .orderBy("doc_id").select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(span.keySet === Set(1L, 3L, 4L, 5L),
      s"doc 2 must dedup against doc 1 after normalization: ${span.keySet}")
    // span dedup removed the footer from both carriers, kept unique prose
    assert(span(3L) === "unique alpha prose body one", s"footer must vanish: ${span(3L)}")
    assert(span(4L) === "unique beta prose body two")
    assert(span(5L) === "plain document without any shared spans at all")
  }

  test("curation semdedup catalog job: planted semantic twin dies, originals survive") {
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val work = java.nio.file.Files.createTempDirectory("graft-sem-jobs").toString
    // orthogonal originals + one exact clone of vec 2 (id 100)
    val vecs = ((0 until 12).map { i =>
      (i.toLong, Array.tabulate(16)(j => if (j == i % 16) 1f else 0f))
    } :+ (100L, Array.tabulate(16)(j => if (j == 2) 1f else 0f)))
      .toDF("vec_id", "embedding")
    vecs.write.mode("overwrite").parquet(s"$work/emb")
    val yml = java.nio.file.Files.createTempFile("graft-sem-jobs", ".yml")
    java.nio.file.Files.writeString(yml,
      """jobs:
        |  - name: corpus-curation
        |    stages:
        |      - name: clean
        |        tasks:
        |          - name: semdedup
        |            params: {n_clusters: 4, threshold: "0.999"}
        |""".stripMargin)
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Context.loadYaml(yml.toString),
      "data_catalog" -> Map(
        "raw" -> Map("embeddings" -> s"$work/emb"),
        "clean" -> Map("embeddings_semdeduped" -> s"$work/semdeduped")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(ctx = Context(cfg, spark), "corpus-curation").isEmpty)
    val survivors = spark.read.parquet(s"$work/semdeduped")
      .select("vec_id").as[Long].collect().toSet
    assert(survivors === (0L until 12L).toSet, s"got $survivors")
  }

  test("curation quality-train + quality-score catalog jobs: learned gate filters junk") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-qc-jobs").toString
    val labeled = ((0 until 40).map(i =>
      (i.toLong, s"a calm essay about rivers bridges and the number $i", 1.0)) ++
      (0 until 40).map(i =>
        (i + 1000L, s"!!! buy now spam click $i !!!", 0.0))).toDF("doc_id", "text", "label")
    labeled.write.mode("overwrite").parquet(s"$work/labels")
    // corpus to filter: 5 clean docs and 5 junk docs, no labels
    val corpus = ((100 until 105).map(i =>
      (i.toLong, s"a calm essay about rivers bridges and the number $i")) ++
      (100 until 105).map(i => (i + 1000L, s"!!! buy now spam click $i !!!")))
      .toDF("doc_id", "text")
    corpus.write.mode("overwrite").parquet(s"$work/docs")
    val yml = java.nio.file.Files.createTempFile("graft-qc-jobs", ".yml")
    java.nio.file.Files.writeString(yml,
      """jobs:
        |  - name: corpus-curation
        |    fail_fast: true
        |    stages:
        |      - name: gate
        |        tasks:
        |          - name: quality-train
        |            params: {num_features: 16384}
        |          - name: quality-score
        |            params: {min_prob: "0.5"}
        |""".stripMargin)
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Context.loadYaml(yml.toString),
      "data_catalog" -> Map(
        "raw" -> Map(
          "documents" -> s"$work/docs",
          "quality_labels" -> s"$work/labels"),
        "models" -> Map("quality_classifier" -> s"$work/qc_model"),
        "clean" -> Map("documents_model_filtered" -> s"$work/filtered")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(ctx = Context(cfg, spark), "corpus-curation").isEmpty)
    val kept = spark.read.parquet(s"$work/filtered")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === (100L until 105L).toSet, s"got $kept")
  }

  test("curation extract-html catalog job: crawl pages become the raw documents zone") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-html-jobs").toString
    (0 until 20).map(i => (i.toLong,
      s"<html><body><h1>Doc $i</h1><p>alpha beta&nbsp;gamma</p>" +
        "<script>nope()</script><!-- x --></body></html>"))
      .toDF("doc_id", "html").write.mode("overwrite").parquet(s"$work/pages")
    val yml = java.nio.file.Files.createTempFile("graft-html-jobs", ".yml")
    java.nio.file.Files.writeString(yml,
      """jobs:
        |  - name: corpus-curation
        |    fail_fast: true
        |    stages:
        |      - name: ingest
        |        tasks:
        |          - name: extract-html
        |""".stripMargin)
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Context.loadYaml(yml.toString),
      "data_catalog" -> Map(
        "raw" -> Map(
          "html_pages" -> s"$work/pages",
          "documents" -> s"$work/docs")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(ctx = Context(cfg, spark), "corpus-curation").isEmpty)
    val docs = spark.read.parquet(s"$work/docs")
    assert(docs.count() === 20 && !docs.columns.contains("html"))
    val t0 = docs.filter($"doc_id" === 0).head().getAs[String]("text")
    assert(t0 === "Doc 0\nalpha beta gamma", s"got [$t0]")
  }

  test("curation crawl-ingest catalog job: WARC files through extract-html end to end") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-warc-jobs").toString
    // stage a crawl file: html responses + a non-html response the mime
    // filter must drop
    val crawl = ((0 until 12).map(i =>
      (s"http://c.test/$i",
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + i)),
        s"<urn:c:$i>",
        if (i == 11) "application/pdf" else "text/html",
        (s"<html><body><h1>Page $i</h1><p>alpha beta&nbsp;gamma</p>" +
          "<script>nope()</script><!-- x --></body></html>")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))) :+
      // an OLDER refetch of page 0 under a tracking-param variant of the
      // same canonical url — url-dedup must fold it away
      (("http://c.test/0?utm_source=feed",
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1600000000L)),
        "<urn:c:0b>", "text/html",
        "<html><body><h1>STALE</h1></body></html>"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))))
      .toDF("uri", "ts", "rid", "mime", "payload")
    graft.io.Warc.writeWarc(crawl, s"$work/crawl", "uri", "ts", "rid", "mime", "payload")
    val yml = java.nio.file.Files.createTempFile("graft-warc-jobs", ".yml")
    java.nio.file.Files.writeString(yml,
      s"""jobs:
         |  - name: corpus-curation
         |    fail_fast: true
         |    stages:
         |      - name: ingest
         |        tasks:
         |          - name: crawl-ingest
         |            params: {input_paths: $work/crawl}
         |          - name: url-dedup
         |          - name: extract-html
         |            params: {input: raw.html_pages_deduped}
         |""".stripMargin)
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Context.loadYaml(yml.toString),
      "data_catalog" -> Map(
        "raw" -> Map(
          "html_pages" -> s"$work/pages",
          "html_pages_deduped" -> s"$work/pages_deduped",
          "documents" -> s"$work/docs")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(ctx = Context(cfg, spark), "corpus-curation").isEmpty)
    // the pdf response is filtered at ingest; the warcinfo member never
    // reaches the pages zone; the stale refetch survives only to the
    // pre-dedup zone
    val pages = spark.read.parquet(s"$work/pages")
    assert(pages.count() === 12 && pages.columns.sorted ===
      Array("fetch_ts", "html", "mime", "url"))
    val deduped = spark.read.parquet(s"$work/pages_deduped")
    assert(deduped.count() === 11, "url-dedup must fold the refetch")
    val docs = spark.read.parquet(s"$work/docs")
    assert(docs.count() === 11 && !docs.columns.contains("html"))
    // the LATEST fetch's content won — not the stale refetch's
    val d0 = docs.filter($"url_normalized" === "http://c.test/0").head()
    assert(d0.getAs[String]("text") === "Page 0\nalpha beta gamma",
      s"got [${d0.getAs[String]("text")}]")
    assert(d0.getAs[java.sql.Timestamp]("fetch_ts").toInstant.getEpochSecond
      === 1700000000L)
  }

  test("curation dsir-select catalog job: distribution-matching gate keeps target-like docs") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-dsir-jobs").toString
    (0 until 25).map(i =>
      (i.toLong, s"quantum field theory lattice gauge energy spectrum run $i"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$work/target")
    ((100 until 125).map(i =>
      (i.toLong, s"quantum field theory lattice gauge energy spectrum run $i")) ++
      (200 until 225).map(i =>
        (i.toLong, s"click here buy now free offer winner prize claim $i")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$work/docs")
    val yml = java.nio.file.Files.createTempFile("graft-dsir-jobs", ".yml")
    java.nio.file.Files.writeString(yml,
      """jobs:
        |  - name: corpus-curation
        |    fail_fast: true
        |    stages:
        |      - name: gate
        |        tasks:
        |          - name: dsir-select
        |            params: {buckets: 256, k: 20, seed: 11}
        |""".stripMargin)
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Context.loadYaml(yml.toString),
      "data_catalog" -> Map(
        "raw" -> Map(
          "documents" -> s"$work/docs",
          "target_corpus" -> s"$work/target"),
        "processed" -> Map("dsir_weights" -> s"$work/weights"),
        "clean" -> Map("documents_dsir_selected" -> s"$work/selected")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(ctx = Context(cfg, spark), "corpus-curation").isEmpty)
    // weights persisted for every raw doc; selection keeps only the
    // science half (the weight gap is many nats, k < #science)
    assert(spark.read.parquet(s"$work/weights").count() === 50)
    val kept = spark.read.parquet(s"$work/selected")
      .select("doc_id").as[Long].collect().toSet
    assert(kept.size === 20 && kept.forall(_ < 200L), s"got $kept")
  }

  test("delta read dispatches the format to the DataSource registry (documented no-jar failure)") {
    // no delta jar in this sandbox (io/Tables.scala contract): the dispatch
    // must pass "delta" through and surface Spark's data-source-not-found —
    // not swallow it or misroute to another format
    val e = intercept[Exception] {
      graft.io.Tables.readData(SparkSpec.session, Seq("/tmp/no-such-table"), fmt = "delta")
    }
    assert(e.getMessage.toLowerCase.contains("delta"),
      s"failure must name the delta source: ${e.getMessage}")
  }
  test("tokenizer catalog jobs honor pre_tokenize: gpt2 end to end") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-gpt2-jobs").toString
    Seq.fill(12)("the end. it's fine! ok?").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$work/docs")
    val yml = java.nio.file.Files.createTempFile("graft-gpt2-jobs", ".yml")
    java.nio.file.Files.writeString(yml,
      """jobs:
        |  - name: tokenizer
        |    fail_fast: true
        |    stages:
        |      - name: t
        |        tasks:
        |          - name: train
        |            params: {algo: bpe, num_merges: 40, pre_tokenize: gpt2}
        |          - name: encode
        |            params: {algo: bpe, pre_tokenize: gpt2}
        |""".stripMargin)
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Context.loadYaml(yml.toString),
      "data_catalog" -> Map(
        "raw" -> Map("documents" -> s"$work/docs"),
        "models" -> Map(
          "bpe_merges" -> s"$work/merges", "bpe_vocab" -> s"$work/vocab"),
        "processed" -> Map("tokenized" -> s"$work/tok")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(ctx = Context(cfg, spark), "tokenizer").isEmpty)
    val toks = spark.read.parquet(s"$work/tok")
      .select(org.apache.spark.sql.functions.explode($"tokens").as("t")).as[String].collect().toSet
    // punctuation segments into its own (sentinel-carrying) tokens under
    // gpt2 -- impossible under whitespace mode, where "end." is one unit
    assert(toks.exists(t => t.replace(graft.text.Bpe.EndOfWord, "") == "."),
      s"no standalone '.' token in $toks")
    assert(!toks.exists(t => t.replace(graft.text.Bpe.EndOfWord, "").matches("[a-z]+\\.")),
      "punctuation stayed glued to a word")
  }
  test("export-webdataset catalog job delivers a zone as tar shards") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-wds-jobs").toString
    (0 until 9).map(i => (i.toLong, s"doc $i", s"m$i"))
      .toDF("doc_id", "text", "meta").write.mode("overwrite").parquet(s"$work/docs")
    val yml = java.nio.file.Files.createTempFile("graft-wds-jobs", ".yml")
    java.nio.file.Files.writeString(yml,
      """jobs:
        |  - name: tokenizer
        |    fail_fast: true
        |    stages:
        |      - name: deliver
        |        tasks:
        |          - name: export-webdataset
        |            params:
        |              rows_per_shard: 4
        |              content_cols: {text: txt, meta: json}
        |""".stripMargin)
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Context.loadYaml(yml.toString),
      "data_catalog" -> Map(
        "raw" -> Map("documents" -> s"$work/docs"),
        "processed" -> Map("webdataset" -> s"$work/shards")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(ctx = Context(cfg, spark), "tokenizer").isEmpty)
    val back = graft.io.WebDataset.readShards(spark, Seq(s"$work/shards"))
    assert(back.count() === 18, "9 keys x 2 members")
    val t4 = back.filter($"key" === "4" && $"ext" === "txt")
      .select(org.apache.spark.sql.functions.decode($"payload", "UTF-8"))
      .as[String].head
    assert(t4 === "doc 4")
  }
  test("gopher-filter catalog job drops rule-violating documents") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-gopher-jobs").toString
    val prose = "the cat sat on the mat and that was that to be with it have some of"
    Seq(
      (1L, prose),                      // passes at min_words 5
      (2L, "111 222 333 444 555"),      // letterless -> drops
      (3L, "tiny"),                     // under the word floor -> drops
      (4L, prose + " again and again")) // passes
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$work/docs")
    val yml = java.nio.file.Files.createTempFile("graft-gopher-jobs", ".yml")
    java.nio.file.Files.writeString(yml,
      """jobs:
        |  - name: corpus-curation
        |    fail_fast: true
        |    stages:
        |      - name: gate
        |        tasks:
        |          - name: gopher-filter
        |            params: {min_words: 5}
        |""".stripMargin)
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Context.loadYaml(yml.toString),
      "data_catalog" -> Map(
        "raw" -> Map("documents" -> s"$work/docs"),
        "clean" -> Map("documents_gopher" -> s"$work/kept")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(ctx = Context(cfg, spark), "corpus-curation").isEmpty)
    val kept = spark.read.parquet(s"$work/kept").select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 4L), s"got ${kept.toSeq}")
  }
  test("wordpiece tokenizer catalog job: train persists merges+vocab, encode emits ids") {
    val spark = SparkSpec.session
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft-wp-jobs").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100).write.mode("overwrite").parquet(s"$work/docs")
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Map("jobs" -> List(
        Map("name" -> "tokenizer", "fail_fast" -> true, "stages" -> List(
          Map("name" -> "fit-serve", "tasks" -> List(
            Map("name" -> "train",
              "params" -> Map("algo" -> "wordpiece", "num_merges" -> "50",
                "max_words" -> "1000")),
            Map("name" -> "encode",
              "params" -> Map("algo" -> "wordpiece", "ids" -> "true")))))))),
      "data_catalog" -> Map(
        "raw" -> Map("documents" -> s"$work/docs"),
        "models" -> Map(
          "wordpiece_merges" -> s"$work/merges",
          "wordpiece_vocab" -> s"$work/vocab"),
        "processed" -> Map("tokenized" -> s"$work/tokenized")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(Context(cfg, spark), "tokenizer").isEmpty)
    val vocab = spark.read.parquet(s"$work/vocab")
    assert(vocab.filter(col("token") === graft.text.WordPiece.UnkToken)
      .head().getAs[Long]("token_id") === 0L)
    assert(spark.read.parquet(s"$work/merges").count() > 0)
    val tokenized = spark.read.parquet(s"$work/tokenized")
    assert(tokenized.columns.contains("token_ids")
      && tokenized.columns.contains("n_tokens")
      && !tokenized.columns.contains("text"))
    // the catalog-trained tokenizer is unk-free on its own training zone
    assert(tokenized.filter(array_contains(col("token_ids"),
      graft.text.WordPiece.UnkId)).count() === 0)
  }
  test("gopher-filter with repetition: true also drops duplicate-content docs") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-goprep-jobs").toString
    // long clean prose (unique trigrams, stopwords present) vs the same
    // length of pure n-gram spam — both clear the base rules
    val clean = "the story begins here and that " +
      (1 to 60).map(i => s"word$i maybe$i the$i").mkString(" ")
    val spam = "the story begins here and that " +
      Seq.fill(40)("grab these offers right here nowz").mkString(" ")
    Seq((1L, clean), (2L, spam)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$work/docs")
    val yml = java.nio.file.Files.createTempFile("graft-goprep-jobs", ".yml")
    java.nio.file.Files.writeString(yml,
      """jobs:
        |  - name: corpus-curation
        |    fail_fast: true
        |    stages:
        |      - name: gate
        |        tasks:
        |          - name: gopher-filter
        |            params: {min_words: 5, repetition: true}
        |""".stripMargin)
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Context.loadYaml(yml.toString),
      "data_catalog" -> Map(
        "raw" -> Map("documents" -> s"$work/docs"),
        "clean" -> Map("documents_gopher" -> s"$work/kept")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(ctx = Context(cfg, spark), "corpus-curation").isEmpty)
    val kept = spark.read.parquet(s"$work/kept").select("doc_id").as[Long].collect().toSeq
    assert(kept === Seq(1L), s"got $kept")
  }
  test("render-chat catalog job renders ChatML with assistant mask spans") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-chat-jobs").toString
    Seq((1L, 0, "user", "hi"), (1L, 1, "assistant", "hello"))
      .toDF("conv_id", "turn_no", "role", "content")
      .write.mode("overwrite").parquet(s"$work/turns")
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Map("jobs" -> List(
        Map("name" -> "tokenizer", "fail_fast" -> true, "stages" -> List(
          Map("name" -> "render", "tasks" -> List(
            Map("name" -> "render-chat"))))))),
      "data_catalog" -> Map(
        "raw" -> Map("conversations" -> s"$work/turns"),
        "processed" -> Map("chat_rendered" -> s"$work/rendered")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(Context(cfg, spark), "tokenizer").isEmpty)
    val r = spark.read.parquet(s"$work/rendered").head()
    assert(r.getAs[String]("text") ===
      "<|im_start|>user\nhi<|im_end|>\n<|im_start|>assistant\nhello<|im_end|>\n")
    val spans = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("mask_spans")
    assert(spans.map(x => (x.getLong(0), x.getLong(1))) === Seq((52L, 67L)))
  }
  test("perplexity-bucket catalog job bands the corpus and keeps the configured bands") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-ppl-jobs").toString
    Seq.tabulate(20)(i => (1000L + i, "the cat sat on the mat"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$work/ref")
    Seq(
      (1L, "the cat sat on the mat"),  // head
      // middle at the order-5 default: scored positions are tokens 5-6
      // (full 5-gram context), one reference-seen ("the" after
      // "the cat sat on") and one OOV
      (2L, "the cat sat on the zz"),
      (3L, "zz qq ww rr tt yy"))       // tail -> dropped by keep
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$work/docs")
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Map("jobs" -> List(
        Map("name" -> "corpus-curation", "fail_fast" -> true, "stages" -> List(
          Map("name" -> "band", "tasks" -> List(
            Map("name" -> "perplexity-bucket",
              "params" -> Map("keep" -> "head,middle", "exact" -> "true")))))))),
      "data_catalog" -> Map(
        "raw" -> Map(
          "documents" -> s"$work/docs",
          "reference_corpus" -> s"$work/ref"),
        "clean" -> Map("documents_ppl" -> s"$work/banded")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(Context(cfg, spark), "corpus-curation").isEmpty)
    val banded = spark.read.parquet(s"$work/banded")
      .select("doc_id", "ppl_bucket").as[(Long, String)].collect().toMap
    assert(banded === Map(1L -> "head", 2L -> "middle"), banded.toString)
  }
  test("c4-filter catalog job cleans lines and drops failing pages") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-c4-jobs").toString
    Seq(
      // passes at min_sentences 2; the headline line is filtered out
      (1L, "A heading without punctuation\nOne good sentence sits here.\nA second good sentence follows."),
      // nothing survives the line filter -> 0 sentences -> drops
      (2L, "Header without punctuation\nAnother header"),
      // policy word -> drops
      (3L, "This page has badwordx inside it.\nAnother fine sentence follows along."),
      // curly bracket -> drops
      (4L, "A brace appears x in this text.\nA second sentence follows the brace { here."))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$work/docs")
    // bad_words as one comma-separated string and as a YAML list
    for ((badWords, i) <- Seq("\"badwordx\"", "[badwordx]").zipWithIndex) {
      val yml = java.nio.file.Files.createTempFile("graft-c4-jobs", ".yml")
      java.nio.file.Files.writeString(yml,
        s"""jobs:
          |  - name: corpus-curation
          |    fail_fast: true
          |    stages:
          |      - name: gate
          |        tasks:
          |          - name: c4-filter
          |            params: {min_sentences: 2, bad_words: $badWords}
          |""".stripMargin)
      val cfg = Map(
        "core" -> Map("seed" -> 7),
        "job_catalog" -> Context.loadYaml(yml.toString),
        "data_catalog" -> Map(
          "raw" -> Map("documents" -> s"$work/docs"),
          "clean" -> Map("documents_c4" -> s"$work/kept$i")))
      graft.pipeline.Production.registerAll()
      assert(graft.pipeline.Jobs.run(ctx = Context(cfg, spark), "corpus-curation").isEmpty)
      val kept = spark.read.parquet(s"$work/kept$i")
        .select("doc_id", "text").as[(Long, String)].collect().toMap
      assert(kept.keySet === Set(1L), s"bad_words: $badWords got ${kept.keySet}")
      // the surviving page's text is REWRITTEN to its surviving lines
      assert(kept(1L) === "One good sentence sits here.\nA second good sentence follows.")
    }
  }
  test("sample-mix catalog stage: unimax strategy water-fills and tags epochs") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-umx-jobs").toString
    // a: 10 docs x 10 tokens, c: 100 docs x 10 tokens
    val ten = Seq.fill(10)("w").mkString(" ")
    ((1 to 10).map(i => (i.toLong, "a", ten)) ++
      (101 to 200).map(i => (i.toLong, "c", ten)))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$work/docs")
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Map("jobs" -> List(
        Map("name" -> "corpus-curation", "fail_fast" -> true, "stages" -> List(
          Map("name" -> "mix", "tasks" -> List(
            Map("name" -> "sample-mix",
              "params" -> Map("strategy" -> "unimax", "budget" -> "700",
                "epoch_cap" -> "2.0")))))))),
      "data_catalog" -> Map(
        "clean" -> Map(
          "documents_redacted" -> s"$work/docs",
          "documents_mixed" -> s"$work/mixed"),
        "processed" -> Map("mix_plan" -> s"$work/plan")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(Context(cfg, spark), "corpus-curation").isEmpty)
    // water-fill: caps 200/2000, fair share 350 -> a capped at 200,
    // c takes the 500 leftover (rate 0.5)
    val plan = spark.read.parquet(s"$work/plan")
      .select("lang", "budget_tokens", "capped")
      .as[(String, Double, Boolean)].collect()
      .map { case (l, b, c) => l -> ((b, c)) }.toMap
    assert(plan("a") === ((200.0, true)) && plan("c") === ((500.0, false)))
    val mixed = spark.read.parquet(s"$work/mixed")
    // every a-doc appears exactly twice (rate 2.0), c-docs thinned ~half
    assert(mixed.filter($"lang" === "a").count() === 20L)
    val cN = mixed.filter($"lang" === "c").count()
    assert(cN > 30 && cN < 70, s"got $cN")
    assert(mixed.columns.contains("epoch"))
  }
  test("diversify catalog stage prunes prototypical embeddings via D4") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-d4-jobs").toString
    def unitAt(deg: Double) = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val base = (0 until 20).map(i => (i.toLong, unitAt(i * 4.5)))
    (base :+ (1000L, unitAt(4.5))) // exact twin of vec 1
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$work/emb")
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Map("jobs" -> List(
        Map("name" -> "corpus-curation", "fail_fast" -> true, "stages" -> List(
          Map("name" -> "prune", "tasks" -> List(
            Map("name" -> "diversify",
              "params" -> Map("n_clusters" -> "2", "prune_frac" -> "0.3")))))))),
      "data_catalog" -> Map(
        "raw" -> Map("embeddings" -> s"$work/emb"),
        "clean" -> Map("embeddings_diversified" -> s"$work/out")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(Context(cfg, spark), "corpus-curation").isEmpty)
    val ids = spark.read.parquet(s"$work/out")
      .select("vec_id").as[Long].collect().toSet
    assert(!ids.contains(1000L), "the twin dies in the semdedup stage")
    assert(ids.size < 20 && ids.size >= 12, s"got ${ids.size}")
  }
  test("objective catalog stage rewrites the corpus with the selected objective") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-obj-jobs").toString
    Seq.tabulate(6)(i => (i.toLong, s"alpha$i bravo charlie delta echo"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$work/docs")
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Map("jobs" -> List(
        Map("name" -> "tokenizer", "fail_fast" -> true, "stages" -> List(
          Map("name" -> "rewrite", "tasks" -> List(
            Map("name" -> "objective",
              "params" -> Map("objective" -> "fim", "rate" -> "1.0",
                "seed" -> "5")))))))),
      "data_catalog" -> Map(
        "clean" -> Map("documents" -> s"$work/docs"),
        "processed" -> Map("objective" -> s"$work/fim")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(Context(cfg, spark), "tokenizer").isEmpty)
    val out = spark.read.parquet(s"$work/fim")
    assert(out.count() === 6L)
    out.select("fim_text", "fim_mode").as[(String, String)].collect()
      .foreach { case (t, m) =>
        assert(t.startsWith("<|fim_prefix|>"), t)
        assert(m == "psm" || m == "spm")
      }
    // unknown objective fails loudly
    val bad = cfg.updated("job_catalog", Map("jobs" -> List(
      Map("name" -> "tokenizer", "fail_fast" -> true, "stages" -> List(
        Map("name" -> "rewrite", "tasks" -> List(
          Map("name" -> "objective",
            "params" -> Map("objective" -> "nonsense")))))))))
    assert(graft.pipeline.Jobs.run(Context(bad, spark), "tokenizer").nonEmpty)
  }

  test("alignment catalog job: best-of-n -> preference-pairs -> dpo-render -> rft-distill end to end") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-align-jobs").toString
    Seq(
      (1L, 10L, "good answer", 9.0), (1L, 11L, "weak answer", 2.0),
      (1L, 12L, "mid answer", 5.0),
      (2L, 20L, "fine", 7.0), (2L, 21L, "bad", 1.0))
      .toDF("prompt_id", "response_id", "response", "score")
      .write.mode("overwrite").parquet(s"$work/responses")
    Seq((1L, "what is up"), (2L, "hello there"))
      .toDF("prompt_id", "prompt")
      .write.mode("overwrite").parquet(s"$work/prompts")
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Map("jobs" -> List(
        Map("name" -> "alignment", "fail_fast" -> true, "stages" -> List(
          Map("name" -> "prep", "tasks" -> List(
            Map("name" -> "best-of-n", "params" -> Map("n" -> "2")),
            Map("name" -> "preference-pairs"),
            Map("name" -> "dpo-render"),
            Map("name" -> "rft-distill"),
            Map("name" -> "grpo-advantages"))))))),
      "data_catalog" -> Map(
        "raw" -> Map(
          "responses" -> s"$work/responses",
          "prompts" -> s"$work/prompts"),
        "processed" -> Map(
          "best_of_n" -> s"$work/bon",
          "preference_pairs" -> s"$work/pairs",
          "dpo_rows" -> s"$work/dpo",
          "rft_sft_rows" -> s"$work/rft",
          "grpo_advantages" -> s"$work/grpo")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(Context(cfg, spark), "alignment").isEmpty)
    // best-of-2: top two per prompt (prompt 2 has only 2 responses)
    val bon = spark.read.parquet(s"$work/bon")
      .select("prompt_id", "rank", "response_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(bon === Set((1L, 1, 10L), (1L, 2, 12L), (2L, 1, 20L), (2L, 2, 21L)))
    // max-min pairs: (best, worst) per prompt
    val pairs = spark.read.parquet(s"$work/pairs")
      .select("prompt_id", "chosen_id", "rejected_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs === Set((1L, 10L, 11L), (2L, 20L, 21L)))
    // DPO rows: both branches share the template; masks cover completions
    val dpo = spark.read.parquet(s"$work/dpo").collect()
      .map(r => r.getAs[Long]("prompt_id") -> r).toMap
    val d1 = dpo(1L)
    val ct = d1.getAs[String]("chosen_text")
    assert(ct === "<|im_start|>user\nwhat is up<|im_end|>\n" +
      "<|im_start|>assistant\ngood answer<|im_end|>\n")
    assert(ct.substring(
      d1.getAs[Long]("chosen_mask_start").toInt,
      d1.getAs[Long]("chosen_mask_end").toInt) === "good answer<|im_end|>")
    // RFT distillation: the top-1 response rendered as an SFT row
    val rft = spark.read.parquet(s"$work/rft").collect()
      .map(r => r.getAs[Long]("prompt_id") -> r.getAs[String]("text")).toMap
    assert(rft(1L).contains("assistant\ngood answer<|im_end|>"))
    assert(rft(2L).contains("assistant\nfine<|im_end|>"))
    // GRPO: advantages standardized within each prompt's group
    val grpo = spark.read.parquet(s"$work/grpo")
      .select("response_id", "advantage").as[(Long, Double)].collect().toMap
    assert(grpo(11L) < 0 && grpo(10L) > 0)
  }

  test("alignment eval catalog jobs: kto, majority-vote, pass-at-k, curve, conversation-stats") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-aeval-jobs").toString
    Seq(
      (1L, 10L, "a", 3.0, Some(true), "x"), (1L, 11L, "b", 9.0, Some(true), "x"),
      (1L, 12L, "c", 5.0, Some(false), "y"),
      (2L, 20L, "d", 7.0, None, "z"), (2L, 21L, "e", 1.0, Some(false), "z"))
      .toDF("prompt_id", "response_id", "response", "score", "feedback", "answer")
      .write.mode("overwrite").parquet(s"$work/responses")
    Seq((1L, 0, "user", "hi"), (1L, 1, "assistant", "hello"))
      .toDF("conv_id", "turn_no", "role", "content")
      .write.mode("overwrite").parquet(s"$work/turns")
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Map("jobs" -> List(
        Map("name" -> "alignment", "fail_fast" -> true, "stages" -> List(
          Map("name" -> "eval", "tasks" -> List(
            Map("name" -> "kto-rows",
              "params" -> Map("input" -> "raw.responses", "label_col" -> "feedback")),
            Map("name" -> "majority-vote",
              "params" -> Map("input" -> "raw.responses")),
            Map("name" -> "pass-at-k",
              "params" -> Map("input" -> "raw.responses",
                "correct_col" -> "feedback", "ks" -> "1,2")),
            Map("name" -> "best-of-n-curve",
              "params" -> Map("ks" -> "1,2")),
            Map("name" -> "conversation-stats"))))))),
      "data_catalog" -> Map(
        "raw" -> Map(
          "responses" -> s"$work/responses",
          "conversations" -> s"$work/turns"),
        "processed" -> Map(
          "kto_rows" -> s"$work/kto",
          "majority_vote" -> s"$work/mv",
          "pass_at_k" -> s"$work/pak",
          "best_of_n_curve" -> s"$work/curve",
          "conversation_stats" -> s"$work/cstats")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(Context(cfg, spark), "alignment").isEmpty)
    // kto: 4 labeled rows (the None drops), desirable weight 4/(2*2) = 1
    val kto = spark.read.parquet(s"$work/kto")
      .select("response_id", "weight").as[(Long, Double)].collect().toMap
    assert(kto.size === 4 && !kto.contains(20L) && kto(10L) === 1.0)
    // majority vote: prompt 1's mode is "x"
    val mv = spark.read.parquet(s"$work/mv")
      .select("prompt_id", "answer").as[(Long, String)].collect().toMap
    assert(mv(1L) === "x" && mv(2L) === "z")
    // pass@k at k=1 for prompt 1: c=2 of n=3 -> 2/3
    val pak = spark.read.parquet(s"$work/pak")
      .select("prompt_id", "k", "pass_at_k").as[(Long, Int, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(pak((1L, 1)) === 0.666667)
    // curve at k=1 = mean; k=2 between mean and max
    val curve = spark.read.parquet(s"$work/curve")
      .select("prompt_id", "k", "expected_max").as[(Long, Int, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(curve((2L, 1)) === 4.0 && curve((2L, 2)) === 7.0)
    // conversation stats: the clean 2-turn dialog
    val cs = spark.read.parquet(s"$work/cstats").head()
    assert(cs.getAs[Long]("n_turns") === 2 && cs.getAs[Boolean]("ends_with_assistant"))
  }

  test("curation retrieval-neighbors + decontaminate-semantic catalog jobs") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-rn-jobs").toString
    Seq(
      (0L, 0L, Array(1.0f, 0.0f)), (1L, 0L, Array(0.99f, 0.01f)),
      (2L, 1L, Array(0.9f, 0.1f)), (3L, 1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "doc_id", "embedding")
      .write.mode("overwrite").parquet(s"$work/emb")
    Seq((100L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$work/bench")
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Map("jobs" -> List(
        Map("name" -> "corpus-curation", "fail_fast" -> true, "stages" -> List(
          Map("name" -> "retrieval", "tasks" -> List(
            Map("name" -> "retrieval-neighbors",
              "params" -> Map("k" -> "1", "nlist" -> "2", "nprobe" -> "2")),
            Map("name" -> "decontaminate-semantic",
              "params" -> Map("threshold" -> "0.999")))))))),
      "data_catalog" -> Map(
        "raw" -> Map(
          "embeddings" -> s"$work/emb",
          "bench_embeddings" -> s"$work/bench"),
        "processed" -> Map("retrieval_neighbors" -> s"$work/rn"),
        "clean" -> Map("embeddings_decontaminated" -> s"$work/clean")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(Context(cfg, spark), "corpus-curation").isEmpty)
    // neighbors: every query's top-1 is cross-document (0 and 1 share doc 0)
    val rn = spark.read.parquet(s"$work/rn")
      .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
    assert(rn(0L) === 2L && rn(1L) === 2L)
    // decontamination: vec 3 is the bench twin and dies, the rest survive
    val kept = spark.read.parquet(s"$work/clean")
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(0L, 1L, 2L))
  }

  test("alignment rater-agreement catalog job: all three metric switches") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-agree-jobs").toString
    Seq(
      (1L, "r1", "y"), (1L, "r2", "y"),
      (2L, "r1", "y"), (2L, "r2", "n"),
      (3L, "r1", "n"), (3L, "r2", "n"))
      .toDF("item_id", "rater", "label")
      .write.mode("overwrite").parquet(s"$work/ratings")
    def cfgFor(metric: String, out: String) = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Map("jobs" -> List(
        Map("name" -> "alignment", "fail_fast" -> true, "stages" -> List(
          Map("name" -> "qa", "tasks" -> List(
            Map("name" -> "rater-agreement",
              "params" -> Map("metric" -> metric)))))))),
      "data_catalog" -> Map(
        "raw" -> Map("ratings" -> s"$work/ratings"),
        "processed" -> Map("rater_agreement" -> s"$work/$out")))
    graft.pipeline.Production.registerAll()
    for ((m, out) <- Seq("cohen" -> "c", "fleiss" -> "f", "krippendorff" -> "k"))
      assert(graft.pipeline.Jobs.run(Context(cfgFor(m, out), spark), "alignment").isEmpty)
    assert(spark.read.parquet(s"$work/c").columns.contains("kappa"))
    assert(spark.read.parquet(s"$work/f").columns.contains("kappa"))
    assert(spark.read.parquet(s"$work/k").columns.contains("alpha"))
    // unknown metric fails loudly
    assert(graft.pipeline.Jobs.run(
      Context(cfgFor("nonsense", "x"), spark), "alignment").nonEmpty)
  }

  test("alignment dpo-render-conversation catalog job: prefix + branch, branch-only mask") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-dpoconv-jobs").toString
    Seq((1L, 0, "user", "q"), (1L, 1, "assistant", "call"), (1L, 2, "tool", "{}"))
      .toDF("conv_id", "turn_no", "role", "content")
      .write.mode("overwrite").parquet(s"$work/convs")
    Seq((1L, "good", "bad")).toDF("conv_id", "chosen", "rejected")
      .write.mode("overwrite").parquet(s"$work/pairs")
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Map("jobs" -> List(
        Map("name" -> "alignment", "fail_fast" -> true, "stages" -> List(
          Map("name" -> "render", "tasks" -> List(
            Map("name" -> "dpo-render-conversation"))))))),
      "data_catalog" -> Map(
        "raw" -> Map("conversations" -> s"$work/convs"),
        "processed" -> Map(
          "preference_pairs" -> s"$work/pairs",
          "dpo_conv_rows" -> s"$work/out")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(Context(cfg, spark), "alignment").isEmpty)
    val r = spark.read.parquet(s"$work/out").head()
    val ct = r.getAs[String]("chosen_text")
    assert(ct ===
      "<|im_start|>user\nq<|im_end|>\n" +
      "<|im_start|>assistant\ncall<|im_end|>\n" +
      "<|im_start|>tool\n{}<|im_end|>\n" +
      "<|im_start|>assistant\ngood<|im_end|>\n")
    assert(ct.substring(
      r.getAs[Long]("chosen_mask_start").toInt,
      r.getAs[Long]("chosen_mask_end").toInt) === "good<|im_end|>")
  }

  test("tokenizer materialize-masked catalog jobs: masks ride through both layouts") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-maskmat-jobs").toString
    // doc 0 wraps the ctx-4 sequence boundary; its mask must split with it
    Seq(
      (0L, Seq(1, 2, 3, 4, 5, 6), Seq(false, false, true, true, true, true)),
      (1L, Seq(7, 8), Seq(true, false)))
      .toDF("conv_id", "token_ids", "loss_mask")
      .write.mode("overwrite").parquet(s"$work/masked")
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Map("jobs" -> List(
        Map("name" -> "tokenizer", "fail_fast" -> true, "stages" -> List(
          Map("name" -> "mat", "tasks" -> List(
            Map("name" -> "materialize-masked",
              "params" -> Map("ctx_tokens" -> "4", "n_shards" -> "1")),
            Map("name" -> "materialize-no-split-masked",
              "params" -> Map("ctx_tokens" -> "4", "n_shards" -> "1")))))))),
      "data_catalog" -> Map(
        "processed" -> Map(
          "chat_masked" -> s"$work/masked",
          "packed_masked_sequences" -> s"$work/seqs",
          "packed_masked_bins" -> s"$work/bins")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(Context(cfg, spark), "tokenizer").isEmpty)
    val seqs = spark.read.parquet(s"$work/seqs").orderBy("seq_id").collect()
      .map(r => (r.getAs[scala.collection.Seq[Int]]("token_ids"),
        r.getAs[scala.collection.Seq[Boolean]]("loss_mask")))
    assert(seqs.toSeq === Seq(
      (Seq(1, 2, 3, 4), Seq(false, false, true, true)),
      (Seq(5, 6, 7, 8), Seq(true, true, true, false))))
    val bins = spark.read.parquet(s"$work/bins").orderBy("bin_id").collect()
      .map(r => (r.getAs[scala.collection.Seq[Int]]("token_ids"),
        r.getAs[scala.collection.Seq[Boolean]]("loss_mask")))
    assert(bins.toSeq === Seq(
      (Seq(1, 2, 3, 4), Seq(false, false, true, true)), // truncated prefix
      (Seq(7, 8), Seq(true, false))))
  }

  test("alignment align-data-card catalog job: hand-computed release card") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-card-jobs").toString
    // pairs: margins [4, 2, 1]; length gaps 7 (longer chosen), 0 (tie),
    // 15 (shorter chosen)
    Seq(
      (1L, "longerchosen", "short", 4.0),
      (1L, "aa", "bb", 2.0),
      (2L, "x", "yyyyyyyyyyyyyyyy", 1.0))
      .toDF("prompt_id", "chosen", "rejected", "margin")
      .write.mode("overwrite").parquet(s"$work/pairs")
    // ratings: item 1 unanimous (3 raters), item 2 split (2), item 3
    // single-rated (excluded from both agreement stats)
    Seq((1L, "l0"), (1L, "l0"), (1L, "l0"), (2L, "l0"), (2L, "l1"), (3L, "l1"))
      .toDF("item_id", "label")
      .write.mode("overwrite").parquet(s"$work/ratings")
    Seq(("tA", true), ("tA", false), ("tB", true))
      .toDF("task", "correct")
      .write.mode("overwrite").parquet(s"$work/evalr")
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Map("jobs" -> List(
        Map("name" -> "alignment", "fail_fast" -> true, "stages" -> List(
          Map("name" -> "card", "tasks" -> List(
            Map("name" -> "align-data-card"))))))),
      "data_catalog" -> Map(
        "raw" -> Map("ratings" -> s"$work/ratings", "eval_results" -> s"$work/evalr"),
        "processed" -> Map(
          "preference_pairs" -> s"$work/pairs",
          "align_data_card" -> s"$work/card")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(Context(cfg, spark), "alignment").isEmpty)
    val card = spark.read.parquet(s"$work/card")
      .select("section", "key", "n", "value")
      .as[(String, String, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(card(("pairs", "n_pairs")) === ((3L, Some(3.0))))
    assert(card(("pairs", "n_prompts")) === ((2L, Some(2.0))))
    assert(card(("pairs", "margin_mean"))._2 === Some(2.333333))
    assert(card(("pairs", "margin_p50"))._2 === Some(2.0))
    // exact interpolated p90 of [1,2,4]: 2 + 0.8*(4-2) = 3.6
    assert(card(("pairs", "margin_p90"))._2 === Some(3.6))
    assert(card(("length_bias", "1-10")) === ((1L, Some(1.0))))
    assert(card(("length_bias", "0")) === ((1L, Some(0.5))))
    assert(card(("length_bias", "11-50")) === ((1L, Some(0.0))))
    assert(card(("length_bias", "all")) === ((3L, Some(0.5))))
    // fleiss over retained items {1, 2}: P̄ = (1 + 0)/2, p_e = (16+1)/25
    assert(card(("agreement", "fleiss_kappa")) === ((2L, Some(-0.5625))))
    // krippendorff: d_o = 1 - 3/5 = 0.4 = d_e -> alpha 0
    assert(card(("agreement", "krippendorff_alpha")) === ((2L, Some(0.0))))
    assert(card(("eval", "tA")) === ((2L, Some(0.5))))
    assert(card(("eval", "tB")) === ((1L, Some(1.0))))
    assert(card(("eval", "__micro__")) === ((3L, Some(0.666667))))
    assert(card(("eval", "__macro__")) === ((3L, Some(0.75))))
  }

  test("pretraining-release e2e: raw WARC bytes to training shards + data cards through the catalog") {
    // The full chain as ONE catalog run (r16 verdict #5): crawl-ingest →
    // url-dedup → extract-html → assign-ids → lang-classify →
    // gopher-filter → c4-filter → dedup-corpus → quality-filter →
    // redact-pii → decontaminate → perplexity-bucket → sample-mix →
    // corpus data card, then (second config, the training deployment:
    // its "raw" zone IS the curated corpus) tokenizer train → encode →
    // tokenizer data card → pack → materialize → export-tfrecord. Every
    // stage already has its own test; THIS one proves the zone contracts
    // compose, with a final-artifact oracle predicted from the fixture.
    //
    // Fixture arithmetic: texts draw from a CLOSED 13-word vocabulary
    // (12 lexicon words + the terminal "batch."), so 400 BPE merges
    // saturate and every word is ONE token — the shard token totals are
    // hand-computable. Planted attrition, one doc per gate:
    //   13 WARC records = 11 html pages + 1 stale refetch (url-dedup)
    //                   + 1 pdf (mime gate at ingest)
    //   doc 10 is 5 words      -> gopher-filter (min_words 12)
    //   doc 9 = doc 1's text   -> dedup-corpus (exact hash)
    //   doc 11 embeds the held-out eval doc verbatim -> decontaminate
    //   => 8 surviving docs × 13 tokens = 104 training tokens.
    // The "Page <i>" html chrome line has no terminal punctuation, so
    // c4-filter strips it — token totals count lexicon words only.
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft-release-e2e").toString
    val lex = Seq("the", "data", "and", "that", "have", "with",
      "table", "rows", "value", "spans", "align", "batch")
    def rot(i: Int): String =
      (lex.drop(i % 12) ++ lex.take(i % 12)).mkString(" ") + " batch."
    // reversed order shares no 8-gram with any forward rotation, so only
    // the doc that EMBEDS it trips the decontamination gate
    val evalText = lex.reverse.mkString(" ") + " batch."
    val texts: Seq[(Int, String)] =
      (1 to 8).map(i => i -> rot(i)) ++ Seq(
        9 -> rot(1),                                  // exact dup of doc 1
        10 -> "the data batch.",                      // too short for gopher
        11 -> (evalText + " data table align rows.")) // contaminated
    val crawl = (texts.map { case (i, t) =>
      (s"http://c.test/$i",
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + i)),
        s"<urn:c:$i>", "text/html",
        s"<html><body><h1>Page $i</h1><p>$t</p><script>x()</script></body></html>"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } :+ ("http://c.test/1?utm_source=x",
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1600000000L)),
      "<urn:c:1b>", "text/html",
      "<html><body>STALE</body></html>".getBytes("UTF-8")) :+
      ("http://c.test/pdf",
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1600000001L)),
        "<urn:c:pdf>", "application/pdf", "%PDF".getBytes("UTF-8")))
      .toDF("uri", "ts", "rid", "mime", "payload")
    graft.io.Warc.writeWarc(crawl, s"$work/crawl", "uri", "ts", "rid", "mime", "payload")
    Seq((0L, evalText, "xx")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$work/evalset")
    def task(name: String, params: (String, Any)*) =
      Map("name" -> name, "params" -> params.toMap)
    val curationCfg = Map(
      "core" -> Map("seed" -> 7, "audit_plans" -> true),
      "job_catalog" -> Map("jobs" -> List(Map(
        "name" -> "corpus-curation", "fail_fast" -> true,
        "stages" -> List(Map("name" -> "release", "tasks" -> List(
          task("crawl-ingest", "input_paths" -> s"$work/crawl"),
          task("url-dedup"),
          task("extract-html", "input" -> "raw.html_pages_deduped"),
          task("assign-ids"),
          task("lang-train", "num_features" -> (1 << 14).toString),
          task("lang-classify", "input" -> "raw.documents_ids",
            "output_col" -> "lang"),
          task("gopher-filter", "input" -> "processed.documents_lang",
            "min_words" -> "12"),
          task("c4-filter", "input" -> "clean.documents_gopher",
            "min_line_words" -> "3", "min_sentences" -> "1"),
          task("dedup-corpus", "input" -> "clean.documents_c4"),
          task("quality-filter", "min_quality" -> "0.0"),
          task("redact-pii"),
          task("decontaminate", "eval_input" -> "raw.eval_corpus",
            "gram_k" -> "8", "max_eval_coverage" -> "0.5"),
          task("perplexity-bucket", "input" -> "clean.documents_decontaminated",
            "reference" -> "raw.documents_ids", "group_col" -> "lang",
            "exact" -> "true"),
          task("sample-mix", "input" -> "clean.documents_ppl",
            "budget" -> "1000"),
          task("data-card", "input" -> "clean.documents_mixed"))))))),
      "data_catalog" -> Map(
        "raw" -> Map(
          "html_pages" -> s"$work/pages",
          "html_pages_deduped" -> s"$work/pages_dedup",
          "documents" -> s"$work/extracted",
          "documents_ids" -> s"$work/docs_ids",
          "eval_corpus" -> s"$work/evalset"),
        "models" -> Map("lang_classifier" -> s"$work/lang_model"),
        "processed" -> Map(
          "documents_lang" -> s"$work/docs_lang",
          "mix_plan" -> s"$work/mix_plan",
          "data_card" -> s"$work/data_card"),
        "clean" -> Map(
          "documents_gopher" -> s"$work/gopher",
          "documents_c4" -> s"$work/c4",
          "documents" -> s"$work/dedup",
          "documents_filtered" -> s"$work/filtered",
          "documents_redacted" -> s"$work/redacted",
          "documents_decontaminated" -> s"$work/decontam",
          "documents_ppl" -> s"$work/ppl",
          "documents_mixed" -> s"$work/mixed")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(Context(curationCfg, spark), "corpus-curation").isEmpty)
    // gate-by-gate attrition, each number forced by exactly one planted doc
    assert(spark.read.parquet(s"$work/pages").count() === 12)       // pdf gone
    assert(spark.read.parquet(s"$work/pages_dedup").count() === 11) // refetch folded
    assert(spark.read.parquet(s"$work/docs_ids").count() === 11)
    assert(spark.read.parquet(s"$work/gopher").count() === 10)      // short doc gone
    val c4 = spark.read.parquet(s"$work/c4")
    assert(c4.count() === 10)
    assert(c4.filter(col("text").contains("Page")).count() === 0,
      "c4 must strip the unpunctuated chrome line")
    assert(spark.read.parquet(s"$work/dedup").count() === 9)        // exact dup folded
    assert(spark.read.parquet(s"$work/filtered").count() === 9)
    assert(spark.read.parquet(s"$work/decontam").count() === 8)     // eval leak gone
    val ppl = spark.read.parquet(s"$work/ppl")
    assert(ppl.count() === 8 && ppl.columns.contains("ppl_bucket"))
    val mixed = spark.read.parquet(s"$work/mixed")
    assert(mixed.count() === 8, "budget >= corpus: the mix keeps everything")
    // the corpus card totals the mixed zone exactly
    val cCard = spark.read.parquet(s"$work/data_card")
    assert(cCard.agg(sum("n_docs")).head().getLong(0) === 8L)
    // ---- phase 2: the training deployment — its raw zone IS the mix
    val trainCfg = Map(
      "core" -> Map("seed" -> 7, "audit_plans" -> true),
      "job_catalog" -> Map("jobs" -> List(Map(
        "name" -> "tokenizer", "fail_fast" -> true,
        "stages" -> List(Map("name" -> "train-pack-ship", "tasks" -> List(
          task("train", "num_merges" -> "400"),
          task("encode", "ids" -> "true"),
          task("data-card"),
          task("pack", "ctx_tokens" -> "32", "n_shards" -> "2"),
          task("materialize", "ctx_tokens" -> "32", "n_shards" -> "2"),
          task("export-tfrecord", "input" -> "processed.packed_sequences",
            "content_cols" -> List("seq_id", "seq_len", "token_ids"),
            "rows_per_shard" -> "4", "output" -> "processed.tfrecord"))))))),
      "data_catalog" -> Map(
        "raw" -> Map("documents" -> s"$work/mixed"),
        "models" -> Map(
          "bpe_merges" -> s"$work/bpe_merges",
          "bpe_vocab" -> s"$work/bpe_vocab"),
        "processed" -> Map(
          "tokenized" -> s"$work/tokenized",
          "packing_plan" -> s"$work/plan",
          "packing_shards" -> s"$work/shards",
          "packed_sequences" -> s"$work/seqs",
          "tokenizer_data_card" -> s"$work/tok_card",
          "tfrecord" -> s"$work/tfrecord")))
    assert(graft.pipeline.Jobs.run(Context(trainCfg, spark), "tokenizer").isEmpty)
    // the final-artifact oracle: 8 docs × 13 closed-vocab words, BPE
    // saturated -> exactly 104 tokens, conserved through plan, shards,
    // and the materialized sequences
    val tokenized = spark.read.parquet(s"$work/tokenized")
    assert(tokenized.count() === 8)
    assert(tokenized.filter(col("n_tokens") =!= 13L).count() === 0,
      "closed-vocab saturation: every doc is exactly its 13 words")
    val total = tokenized.agg(sum("n_tokens")).head().getLong(0)
    assert(total === 104L)
    assert(spark.read.parquet(s"$work/plan")
      .agg(sum("n_tokens")).head().getLong(0) === 104L)
    val shards = spark.read.parquet(s"$work/shards")
    assert(shards.count() === 2)
    assert(shards.agg(sum("n_tokens")).head().getLong(0) === 104L)
    val seqs = spark.read.parquet(s"$work/seqs")
    assert(seqs.agg(sum("seq_len")).head().getLong(0) === 104L)
    assert(seqs.filter(col("seq_len") > 32).count() === 0)
    // tokenizer release card over the REAL artifacts: zero OOV (trained
    // on this corpus), both byte-token surfaces counted (r17 fix),
    // fertility exactly 1.0 everywhere (saturation)
    val tCard = spark.read.parquet(s"$work/tok_card")
    assert(tCard.filter(col("key") === "oov_token_rate")
      .head().getAs[Double]("value") === 0.0)
    assert(tCard.filter(col("key") === "byte_fallback_tokens")
      .head().getAs[Double]("value") === 512.0)
    tCard.filter(col("section") === "fertility").collect()
      .foreach(r => assert(r.getAs[Double]("value") === 1.0,
        s"fertility != 1 for ${r.getAs[String]("key")}"))
    assert(tCard.filter(col("key") === "vocab_size")
      .head().getAs[Double]("value")
      === spark.read.parquet(s"$work/bpe_vocab").count().toDouble)
    // the shipped TFRecord shards replay the materialized zone exactly —
    // including the token_ids themselves as whole Int64Lists (the r17
    // array-feature support: a trainer reads actual sequences, not just
    // their lengths)
    val shipped = graft.io.TfRecord.readExamples(spark, Seq(s"$work/tfrecord"),
      Seq("seq_id" -> "long", "seq_len" -> "long", "token_ids" -> "longs"))
    assert(shipped.count() === seqs.count())
    assert(shipped.agg(sum("seq_len")).head().getLong(0) === 104L)
    assert(shipped.agg(sum(size(col("token_ids")))).head().getLong(0) === 104L)
    assert(shipped.filter(size(col("token_ids")) =!= col("seq_len")).count() === 0,
      "every shipped record's list length equals its declared seq_len")
  }

  test("incremental release: release 2 dedups against release 1's PERSISTED indexes — corpus never re-scanned") {
    // r17 verdict #6: the release chain ran one-shot dedup/decontam
    // operators; this proves the SERVING lifecycle composes in the
    // declarative catalog — release 1 builds the MinHash + sharded ANN
    // indexes from its accepted rows, release 2 dedups against them with
    // release 1's raw AND accepted tables DELETED FROM DISK (the
    // strongest no-re-scan assertion: any corpus re-read would throw),
    // then appends and compacts (the in-line maintenance cadence).
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft-incr-release").toString
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    docs.filter(col("doc_id") < 100).write.parquet(s"$work/docs_r1")
    emb.filter(col("vec_id") < 300).write.parquet(s"$work/emb_r1")
    // release 2: near-dups of RELEASE-1 docs (must drop via the index),
    // fresh docs (survive); exact clones of release-1 vectors under new
    // ids (must drop via the index), fresh vectors (survive iff nothing
    // accepted sits at 0.97+ — computed below BEFORE deleting release 1)
    docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 700000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+", "graftmutated").as("text"))
      .unionByName(docs.filter(col("doc_id") >= 100 && col("doc_id") < 150))
      .write.parquet(s"$work/docs_r2")
    emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 700000).as("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") >= 300 && col("vec_id") < 400))
      .write.parquet(s"$work/emb_r2")
    def task(name: String, params: (String, Any)*) =
      Map("name" -> name, "params" -> params.toMap)
    def cfg(rel: Int, compact: Boolean) = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Map("jobs" -> List(Map(
        "name" -> "corpus-curation", "fail_fast" -> true,
        "stages" -> List(Map("name" -> "release", "tasks" -> List(
          task("dedup-corpus-index", "input" -> "raw.documents",
            "threshold" -> "0.6", "compact" -> compact.toString),
          task("semantic-dedup-index", "input" -> "raw.embeddings",
            "threshold" -> "0.97", "n_shards" -> "2",
            "compact" -> compact.toString))))))),
      "data_catalog" -> Map(
        "raw" -> Map(
          "documents" -> s"$work/docs_r$rel",
          "embeddings" -> s"$work/emb_r$rel"),
        "models" -> Map(
          "neardup_index" -> s"$work/neardup_index",
          "semantic_index" -> s"$work/semantic_index"),
        "clean" -> Map(
          "documents" -> s"$work/accepted_docs_r$rel",
          "embeddings" -> s"$work/accepted_emb_r$rel")))
    graft.pipeline.Production.registerAll()
    assert(graft.pipeline.Jobs.run(Context(cfg(1, compact = false), spark),
      "corpus-curation").isEmpty)
    val r1Docs = spark.read.parquet(s"$work/accepted_docs_r1").count()
    val r1Vecs = spark.read.parquet(s"$work/accepted_emb_r1").count()
    assert(r1Docs > 0 && r1Vecs > 0)
    assert(graft.dedup.MinHashIndex.exists(spark, s"$work/neardup_index"))
    assert(graft.similarity.AnnIndex.kindOf(spark, s"$work/semantic_index")
      === "ivf_sharded")
    // the doc-side expected set, computed BEFORE release 1 leaves disk
    // with the one-shot incremental operator over release 1's ACCEPTED
    // rows — the testdata has ORGANIC near-dups, so the expectation
    // can't be a hand-picked range ("the index changes where the corpus
    // side lives, never the answer", MinHashIndexSpec)
    val expectedR2Docs = graft.dedup.Dedup.incrementalNearDupDedup(
        spark.read.parquet(s"$work/docs_r2"),
        spark.read.parquet(s"$work/accepted_docs_r1"), "doc_id", "text", 0.6)
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet
    // the vector-side expected set, mirrored brute-force: in-batch
    // semantic dedup (lowest id of each 0.97+ twin chain), then drop
    // rows whose exact nearest ACCEPTED release-1 neighbor is at 0.97+
    val r2v = spark.read.parquet(s"$work/emb_r2")
    val inBatchV = r2v.join(
      graft.similarity.Similarity
        .embeddingNearDupPairs(r2v, "vec_id", "embedding", 0.97)
        .select(col("id_b").as("vec_id")).distinct(),
      Seq("vec_id"), "left_anti")
    val expectedR2Vecs = inBatchV.join(
        graft.similarity.Similarity.cosineTopK(
            spark.read.parquet(s"$work/accepted_emb_r1"), inBatchV,
            "vec_id", "embedding", "vec_id", k = 1)
          .filter(col("cosine") >= 0.97)
          .select(col("query_id").as("vec_id")),
        Seq("vec_id"), "left_anti")
      .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    // the no-re-scan proof: release 1's raw AND accepted tables are GONE
    // before release 2 runs — only the indexes remain
    Seq("docs_r1", "emb_r1", "accepted_docs_r1", "accepted_emb_r1").foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$work/$p")))
    assert(graft.pipeline.Jobs.run(Context(cfg(2, compact = true), spark),
      "corpus-curation").isEmpty)
    // near-dups of release-1 docs dropped THROUGH the index; fresh docs kept
    val r2Docs = spark.read.parquet(s"$work/accepted_docs_r2")
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet
    assert(r2Docs.forall(_ < 700000),
      s"release-1 near-dups must drop via the index: ${r2Docs.filter(_ >= 700000)}")
    assert(r2Docs === expectedR2Docs)
    // clones of release-1 vectors dropped THROUGH the sharded ANN index
    val r2Vecs = spark.read.parquet(s"$work/accepted_emb_r2")
      .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    assert(r2Vecs.forall(_ < 700000),
      s"release-1 vector clones must drop via the index: ${r2Vecs.filter(_ >= 700000)}")
    assert(r2Vecs === expectedR2Vecs)
    // release 2's accepted rows are IN the indexes now (a third release
    // would dedup against them), and the compaction cadence ran (the
    // publish marker is planted by the staged rewrite)
    val indexedR2 = spark.read.parquet(s"$work/neardup_index/shingles.parquet")
      .filter(col("doc_id") >= 100).select(col("doc_id").cast("long"))
      .collect().map(_.getLong(0)).toSet
    assert(indexedR2 === r2Docs,
      "every accepted release-2 doc (and nothing else) must join the index")
    assert(new java.io.File(
      s"$work/neardup_index/shingles.parquet/_graft_published").exists(),
      "compact=true must run the maintenance rewrite")
    // RETRACTION through the catalog: a decontamination hit against an
    // already-shipped doc/vector is retracted from both indexes; a
    // release-3-shaped near-dup of the retracted doc now SURVIVES, and
    // the retracted vector stops suppressing its clone
    val keepDoc = r2Docs.min
    val keepVec = r2Vecs.min
    Seq((keepDoc, keepVec)).toDF("doc_id", "vec_id")
      .write.parquet(s"$work/retract_ids")
    val retractCfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Map("jobs" -> List(Map(
        "name" -> "corpus-curation", "fail_fast" -> true,
        "stages" -> List(Map("name" -> "retract", "tasks" -> List(
          task("index-retract", "index" -> "both", "compact" -> "true"))))))),
      "data_catalog" -> Map(
        "raw" -> Map("retracted_ids" -> s"$work/retract_ids"),
        "models" -> Map(
          "neardup_index" -> s"$work/neardup_index",
          "semantic_index" -> s"$work/semantic_index")))
    assert(graft.pipeline.Jobs.run(Context(retractCfg, spark),
      "corpus-curation").isEmpty)
    // fold happened (compact = true): the retracted doc left the layers
    assert(spark.read.parquet(s"$work/neardup_index/shingles.parquet")
      .filter(col("doc_id") === keepDoc).count() === 0)
    // a near-dup of the retracted doc is no longer suppressed
    val probe = docs.filter(col("doc_id") === keepDoc)
      .select((col("doc_id") + 800000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+", "graftmutated").as("text"))
    val probeSurvivors = graft.dedup.MinHashIndex
      .dedupBatch(spark, s"$work/neardup_index", probe, "text", 0.6)
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet
    assert(probeSurvivors === Set(keepDoc + 800000),
      "the retracted doc must stop suppressing its near-dups")
    // and the retracted vector no longer surfaces from the ANN index
    val vecProbe = emb.filter(col("vec_id") === keepVec)
      .select((col("vec_id") + 800000).as("vec_id"), col("embedding"))
    val nn = graft.similarity.AnnIndex.searchIvfSharded(spark,
      s"$work/semantic_index", vecProbe, "vec_id", "embedding", k = 1)
      .collect()
    assert(nn.isEmpty || nn.head.getLong(1) != keepVec,
      "the retracted vector must not be served as a neighbor")
  }

  test("replayed release is a no-op: same accepted set republished, no duplicate index rows") {
    // the destructive-retry trap (r18 advice): re-running a release whose
    // accepted docs were already appended used to match every doc against
    // its OWN index entry at jaccard 1.0 and overwrite clean.documents
    // with an empty table; the semantic twin re-appended duplicate
    // vec_ids. Now: identical outputs, byte-identical index row counts.
    val spark = SparkSpec.session
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft-replay-release").toString
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 100).write.parquet(s"$work/docs_r1")
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 300).write.parquet(s"$work/emb_r1")
    def task(name: String, params: (String, Any)*) =
      Map("name" -> name, "params" -> params.toMap)
    val cfg = Map(
      "core" -> Map("seed" -> 7),
      "job_catalog" -> Map("jobs" -> List(Map(
        "name" -> "corpus-curation", "fail_fast" -> true,
        "stages" -> List(Map("name" -> "release", "tasks" -> List(
          task("dedup-corpus-index", "input" -> "raw.documents",
            "threshold" -> "0.6", "compact" -> "false"),
          task("semantic-dedup-index", "input" -> "raw.embeddings",
            "threshold" -> "0.97", "n_shards" -> "2",
            "compact" -> "false"))))))),
      "data_catalog" -> Map(
        "raw" -> Map(
          "documents" -> s"$work/docs_r1",
          "embeddings" -> s"$work/emb_r1"),
        "models" -> Map(
          "neardup_index" -> s"$work/neardup_index",
          "semantic_index" -> s"$work/semantic_index"),
        "clean" -> Map(
          "documents" -> s"$work/accepted_docs",
          "embeddings" -> s"$work/accepted_emb")))
    graft.pipeline.Production.registerAll()
    def acceptedDocs() = spark.read.parquet(s"$work/accepted_docs")
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet
    def acceptedVecs() = spark.read.parquet(s"$work/accepted_emb")
      .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    def indexCounts() = (
      spark.read.parquet(s"$work/neardup_index/buckets.parquet").count(),
      spark.read.parquet(s"$work/neardup_index/shingles.parquet").count(),
      graft.similarity.AnnIndex.stats(spark, s"$work/semantic_index")
        .head().getAs[Long]("n_rows"))
    assert(graft.pipeline.Jobs.run(Context(cfg, spark), "corpus-curation").isEmpty)
    val (docs1, vecs1, counts1) = (acceptedDocs(), acceptedVecs(), indexCounts())
    assert(docs1.nonEmpty && vecs1.nonEmpty)
    // THE REPLAY — a routine retry after a downstream failure
    assert(graft.pipeline.Jobs.run(Context(cfg, spark), "corpus-curation").isEmpty)
    assert(acceptedDocs() === docs1,
      "a replayed release must republish the identical accepted doc set")
    assert(acceptedVecs() === vecs1,
      "a replayed release must republish the identical accepted vector set")
    assert(indexCounts() === counts1,
      "a replayed release must append nothing to either index")
    // no duplicate ids in the served ANN index's stored rows either
    val stored = (0 until 2)
      .map(sh => spark.read
        .parquet(s"$work/semantic_index/shard=$sh/corpus.parquet")
        .select("vec_id"))
      .reduce(_ unionByName _)
    assert(stored.count() === stored.distinct().count(),
      "replays must not accumulate duplicate vec_ids in the stored layout")
  }

  test("Params: one coercion, list and choice rule; every mistake reported with the known keys") {
    val p = new graft.pipeline.Params(Map(
      "a" -> 50, "b" -> "7", "xs" -> List("x", " y "), "ys" -> "1, 2,,3",
      "bad" -> "abc", "algo" -> "nope", "typo" -> 1))
    assert(p.int("a", 0) == 50 && p.long("b", 0L) == 7L && p.double("b", 0.0) == 7.0)
    assert(p.strs("xs", Nil) == Seq("x", "y") && p.ints("ys", Nil) == Seq(1, 2, 3))
    assert(p.int("absent", 9) == 9 && p.optStr("absent2").isEmpty)
    assert(p.int("bad", 5) == 5, "a bad value reads as its default until check() reports it")
    assert(p.choice("algo", "bpe", Seq("bpe", "unigram")) == "bpe")
    val e = intercept[IllegalArgumentException](p.check())
    Seq("bad: expected an int, got 'abc'", "algo: expected one of bpe | unigram, got 'nope'",
      "typo: unknown param", "known params: a (0), b (0), xs (), ys (), absent (9)")
      .foreach(m => assert(e.getMessage.contains(m), e.getMessage))
    // a YAML list or mapping is not a scalar
    val q = new graft.pipeline.Params(Map("n" -> List(1), "m" -> Map("k" -> 1)))
    q.int("n", 0); q.str("m", "")
    assert(intercept[IllegalArgumentException](q.check()).getMessage.contains("n: expected an int"))
    // a missing required key stops the parse
    val r = new graft.pipeline.Params(Map.empty)
    assert(intercept[IllegalArgumentException](r.required("n_shards")(r.optInt))
      .getMessage == "n_shards: required")
  }

  test("a typo'd key, a bad value and an unknown choice fail at plan time: no task runs, each error names the stage") {
    val spark = SparkSpec.session
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-plan-errors").toString
    Seq((1L, "the cat sat on the mat and that was that")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$work/docs")
    val log = s"$work/run_log.jsonl"
    val yml = java.nio.file.Files.createTempFile("graft-plan-errors", ".yml")
    java.nio.file.Files.writeString(yml,
      """jobs:
        |  - name: corpus-curation
        |    stages:
        |      - name: valid
        |        tasks:
        |          - name: gopher-filter
        |            params: {min_words: 5}
        |      - name: typo
        |        tasks:
        |          - name: gopher-filter
        |            params: {min_word: 5}
        |      - name: bad-value
        |        tasks:
        |          - name: gopher-filter
        |            params: {min_words: abc}
        |  - name: model-gen
        |    stages:
        |      - name: training
        |        tasks:
        |          - name: train
        |            params: {model: logistic_regresion}
        |""".stripMargin)
    val cfg = Map(
      "job_catalog" -> Context.loadYaml(yml.toString),
      "log_catalog" -> Map("tracking" -> Map("path" -> log)),
      "data_catalog" -> Map(
        "raw" -> Map("documents" -> s"$work/docs"),
        "clean" -> Map("documents_gopher" -> s"$work/kept")))
    graft.pipeline.Production.registerAll()
    val failures = graft.pipeline.Jobs.run(Context(cfg, spark), "all")
    assert(failures == Seq(
      ("corpus-curation", "typo", "gopher-filter"),
      ("corpus-curation", "bad-value", "gopher-filter"),
      ("model-gen", "training", "train")), failures.toString)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$work/kept")),
      "the valid first task must not run when a later task fails to plan")
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(log))
    assert(lines.size() == 3 && !lines.toString.contains("\"status\":\"ok\""), lines.toString)
    val errors = (0 until 3).map(i =>
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(lines.get(i)).get("error").asText())
    assert(errors(0).contains("min_word: unknown param"), errors(0))
    assert(errors(1).contains("min_words: expected an int, got 'abc'"), errors(1))
    assert(errors(2).startsWith("model-gen/train: model: expected one of " +
      "aft_survival_regression | decision_tree_classifier"), errors(2))
    errors.take(2).foreach { e =>
      assert(e.startsWith("corpus-curation/gopher-filter: "), e)
      assert(e.contains("known params: input (raw.documents), min_words (50), " +
        "max_words (100000), repetition (false), output (clean.documents_gopher)"), e)
    }
  }

  test("a missing required key fails at plan time naming the stage and the key") {
    val cfg = Map("job_catalog" -> Map("jobs" -> List(
      Map("name" -> "ann-serving", "stages" -> List(Map("name" -> "grow", "tasks" -> List(
        Map("name" -> "reshard", "params" -> Map("nlist" -> 4)))))),
      Map("name" -> "corpus-curation", "stages" -> List(Map("name" -> "crawl", "tasks" -> List(
        Map("name" -> "crawl-ingest"))))))))
    graft.pipeline.Production.registerAll()
    val e = intercept[graft.pipeline.Jobs.PlanException](
      graft.pipeline.Jobs.plan(Context(cfg, null), "all"))
    assert(e.errors.map(_.message) == Seq(
      "ann-serving/reshard: n_shards: required",
      "corpus-curation/crawl-ingest: input_paths: required"), e.getMessage)
  }

  test("the shipped catalog plans without Spark, and every registered stage parses on empty params") {
    graft.pipeline.Production.registerAll()
    val plans = graft.pipeline.Jobs.plan(Context(Context.loadConfig("conf/config.yml"), null), "all")
    assert(plans.flatMap(_.stages).flatMap(_.tasks).size == 23)
    // the stages no catalog test runs are covered here: each parse phase
    // succeeds on empty params, or names its required key
    val required = graft.pipeline.Jobs.registered.flatMap { case (job, task) =>
      try { graft.pipeline.Jobs.parse(job, task, Map.empty); None }
      catch { case e: IllegalArgumentException => Some(e.getMessage) }
    }
    assert(required.toSet == Set(
      "ann-serving/reshard: n_shards: required",
      "corpus-curation/crawl-ingest: input_paths: required"), required.toString)
    assert(graft.pipeline.Jobs.registered.size >= 85)
  }
}
