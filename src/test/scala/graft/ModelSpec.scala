package graft

import graft.eval.Metrics
import graft.model.{Features, Registry, Training}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class ModelSpec extends SparkSpec {
  import spark.implicits._

  private def trainFrame = {
    // learnable binary target: y = x1 + noise-ish x2 threshold
    (1 to 400).map { i =>
      val x1 = (i % 20).toDouble
      val x2 = (i % 7).toDouble
      val y = if (x1 + 0.5 * x2 > 10) 1.0 else 0.0
      (x1, x2, y)
    }.toDF("x1", "x2", "label")
  }

  test("registry resolves all 14 model names and rejects unknown") {
    (Registry.regressionModels ++ Registry.classificationModels).foreach { name =>
      assert(Registry.estimator(name) != null, name)
    }
    intercept[IllegalArgumentException](Registry.estimator("nope"))
  }

  test("t1 smoke: fit -> save -> load -> score -> AUC > 0.5 (deterministic)") {
    val df = trainFrame
    val model = Training.train(df, "label", Seq("x1", "x2"))
    val dir = Files.createTempDirectory("graft-model").toString
    Training.saveModel(model, s"$dir/lr")
    val loaded = Training.loadModel(s"$dir/lr")
    val scored = Training.score(loaded, df)
    val (auroc, aupr) = Metrics.aucMetrics(scored, "score", "label")
    assert(auroc > 0.95, s"auROC $auroc")
    assert(aupr > 0.9, s"auPR $aupr")
    // loaded model reproduces in-memory model's scores exactly
    val direct = Training.score(model, df).select("score").as[Double].collect().toSeq
    val viaDisk = scored.select("score").as[Double].collect().toSeq
    assert(direct == viaDisk)
  }

  test("score falls back to prediction for multiclass models") {
    // 3-class target: P(class 1) is not a ranking score there
    val df = (1 to 300).map { i =>
      val x1 = (i % 30).toDouble
      (x1, (i % 7).toDouble, (x1 / 10).floor)
    }.toDF("x1", "x2", "label")
    val model = Training.train(df, "label", Seq("x1", "x2"), "decision_tree_classifier")
    val scored = Training.score(model, df)
    val distinct = scored.select("score").distinct().as[Double].collect().toSet
    assert(distinct.subsetOf(Set(0.0, 1.0, 2.0)), s"multiclass score must be the class index, got $distinct")
    // binary model still scores with P(class 1): continuous values in (0,1)
    val bin = Training.score(Training.train(trainFrame, "label", Seq("x1", "x2")), trainFrame)
    val s = bin.select("score").as[Double].collect()
    assert(s.exists(v => v > 0.0 && v < 1.0))
  }

  test("generate_features_vector picks numeric non-label columns") {
    val df = Seq((1.0, 2.0, "a", 0.0)).toDF("x1", "x2", "c", "label")
    val out = Features.generateFeaturesVector(df, "label")
    assert(out.columns.contains("features"))
    val v = out.select("features").head().getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(v.size == 2)
  }

  test("onehot pipeline + scaler + pca fit and persist") {
    val df = Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("c", "x")
    val ohe = Features.fitOneHotPipeline(df, Seq("c"))
    assert(ohe.transform(df).columns.contains("c_ohe"))
    val assembled = Features.generateFeaturesVector(df, "none", Seq("x"))
    val scaler = Features.fitScaler(assembled, "minmax")
    assert(scaler.transform(assembled).columns.contains("features_scaled"))
    val pca = Features.fitPca(Features.generateFeaturesVector(
      Seq((1.0, 2.0), (2.0, 1.0), (3.0, 3.0)).toDF("a", "b"), "none"), 1)
    assert(pca.transform(Features.generateFeaturesVector(
      Seq((1.0, 2.0)).toDF("a", "b"), "none")).columns.contains("pca_features"))
  }

  test("lasso drives useless coefficients to zero") {
    val df = (1 to 300).map { i =>
      val x1 = (i % 20).toDouble
      val junk = 0.0 // constant column carries no signal
      (x1, junk, if (x1 > 10) 1.0 else 0.0)
    }.toDF("x1", "junk", "label")
    val dropped = Training.byLasso(df, "label", Seq("x1", "junk"), regParam = 0.05)
    assert(dropped.contains("junk"))
    assert(!dropped.contains("x1"))
  }

  test("feature importance ranks the signal feature first") {
    val df = trainFrame
    val imp = Training.featureImportance(df, "label", Seq("x1", "x2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(imp("x1") > imp("x2"))
  }

  test("grid search returns a best model with sane AUC") {
    val cv = Training.gridSearchLogistic(trainFrame, "label", Seq("x1", "x2"),
      regParams = Seq(0.0, 0.1), elasticNetParams = Seq(0.0), numFolds = 2)
    assert(cv.avgMetrics.max > 0.9)
  }

  test("quality classifier separates held-out clean text from junk, persists") {
    import graft.text.QualityClassifier
    val clean = (0 until 60).map(i =>
      (i.toLong, s"the quiet library on elm street number $i keeps rare maps and old letters", 1.0))
    val junk = (0 until 60).map(i =>
      (i + 1000L, s"!!! ??? buy now click here spam spam winner $i !!! ???", 0.0))
    val all = (clean ++ junk).toDF("doc_id", "text", "label")
    val train = all.filter($"doc_id" % 3 =!= 0)
    val holdout = all.filter($"doc_id" % 3 === 0)
    val model = QualityClassifier.train(train, "text", "label", numFeatures = 1 << 14)
    val scored = QualityClassifier.score(holdout, model)
    // held-out accuracy at 0.5: perfect on this separable frame
    val acc = scored.agg(avg(when(($"quality_prob" >= 0.5) === ($"label" === 1.0), 1.0)
      .otherwise(0.0))).head().getDouble(0)
    assert(acc == 1.0, s"held-out accuracy $acc")
    // scoring adds quality_prob and leaves no intermediate columns behind
    assert(scored.columns.toSet === Set("doc_id", "text", "label", "quality_prob"))
    // enforcement keeps exactly the clean side
    val kept = QualityClassifier.filterByModel(holdout, model, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.forall(_ < 1000L) && kept.nonEmpty)
    // persist -> reload -> identical scores
    val dir = Files.createTempDirectory("graft-qc").toString
    QualityClassifier.saveModel(model, dir)
    val reloaded = QualityClassifier.loadModel(dir)
    val a = scored.select("doc_id", "quality_prob").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = QualityClassifier.score(holdout, reloaded)
      .select("doc_id", "quality_prob").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a === b)
  }

  test("stratified CV folds keep a rare class in every training fold") {
    // 2 positives in 42 rows, 2 folds: a random split orphans the rare
    // class from one training fold with p=~0.5 (the fit then throws
    // 'rawPredictionCol vectors must have length=2'); stratified fold
    // assignment must place one positive in EACH fold, so this never fails
    val rare = ((1 to 40).map(i => ((i % 13).toDouble, 0.0)) ++
      Seq((20.0, 1.0), (21.0, 1.0))).toDF("x1", "label")
    val cv = Training.gridSearch(rare, "label", Seq("x1"),
      "logistic_regression", Map("regParam" -> Seq(0.0, 0.1)), numFolds = 2)
    assert(cv.avgMetrics.nonEmpty && cv.bestModel != null)
  }

  // ---- driver-local logistic path ≡ spark.ml (CrossValidator / Pipeline.fit)

  import org.apache.spark.ml.PipelineModel
  import org.apache.spark.ml.classification.LogisticRegressionModel
  import org.apache.spark.ml.tuning.CrossValidatorModel

  /** Seeded learnable frame: `n` rows of gaussian features, label from a
    * noisy linear score, optionally with a constant column. */
  private def seeded(seed: Int, n: Int, constant: Boolean = false) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val (a, b, c) = (rnd.nextGaussian(), rnd.nextGaussian() * 3.0, rnd.nextGaussian() + 2.0)
      val y = if (1.2 * a - 0.4 * b + 0.3 * c + rnd.nextGaussian() > 0.6) 1.0 else 0.0
      (i.toLong, a, b, c, if (constant) 3.0 else rnd.nextGaussian(), y)
    }.toDF("id", "x1", "x2", "x3", "x4", "label")
  }

  private def lrStage(m: PipelineModel) = m.stages(1).asInstanceOf[LogisticRegressionModel]

  /** Stage classes and explicitly set params of a fitted pipeline (uids
    * are fresh per estimator, so params compare by name). */
  private def stageParams(m: PipelineModel) = m.stages.toSeq.map { st =>
    (st.getClass, st.params.filter(st.isSet).map { p =>
      p.name -> (st.getOrDefault(p) match {
        case a: Array[_] => a.toSeq
        case v           => v
      })
    }.toMap)
  }

  private def scoresOf(m: PipelineModel, df: org.apache.spark.sql.DataFrame) =
    Training.score(m, df).orderBy("id").select("score").as[Double].collect().toSeq

  private def relClose(a: Double, b: Double) =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  /** Local vs CrossValidator on one input: the same best point, metrics,
    * stages and params, coefficients (bit-identical when `onePartition`),
    * and scores after a save → load round trip. */
  private def assertCvParity(df: org.apache.spark.sql.DataFrame, features: Seq[String],
      grid: Map[String, Seq[Any]], folds: Int, onePartition: Boolean): Unit = {
    def run(bound: Int): CrossValidatorModel =
      Training.gridSearchImpl(df, "label", features, "logistic_regression", grid, folds, bound)
    val local = run(Training.LocalFitMaxCells)
    val dist = run(0) // 0 forces the unchanged CrossValidator
    val (lm, dm) = (local.bestModel.asInstanceOf[PipelineModel], dist.bestModel.asInstanceOf[PipelineModel])
    // the local path ran (spark.ml's fit attaches a training summary)
    assert(!lrStage(lm).hasSummary && lrStage(dm).hasSummary)
    def bestOf(cv: CrossValidatorModel) =
      cv.getEstimatorParamMaps(cv.avgMetrics.indexOf(cv.avgMetrics.max))
        .toSeq.map(pp => pp.param.name -> pp.value).toMap
    assert(bestOf(local) === bestOf(dist))
    assert(local.avgMetrics.length === dist.avgMetrics.length)
    local.avgMetrics.zip(dist.avgMetrics).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-9, s"avgMetrics ${local.avgMetrics.toSeq} vs ${dist.avgMetrics.toSeq}")
    }
    assert(stageParams(lm) === stageParams(dm))
    assert(local.getNumFolds === dist.getNumFolds && local.getFoldCol === dist.getFoldCol)
    val (lc, dc) = (lrStage(lm).coefficients.toArray, lrStage(dm).coefficients.toArray)
    val (li, di) = (lrStage(lm).intercept, lrStage(dm).intercept)
    if (onePartition) {
      assert(lc.toSeq === dc.toSeq && li === di, s"$lc/$li vs $dc/$di")
      assert(lrStage(lm).coefficientMatrix === lrStage(dm).coefficientMatrix)
    } else {
      lc.zip(dc).foreach { case (a, b) => assert(relClose(a, b), s"${lc.toSeq} vs ${dc.toSeq}") }
      assert(relClose(li, di), s"$li vs $di")
    }
    val dir = Files.createTempDirectory("graft-cv-parity").toString
    Training.saveModel(lm, s"$dir/local")
    Training.saveModel(dm, s"$dir/dist")
    val (ls, ds) = (scoresOf(PipelineModel.load(s"$dir/local"), df), scoresOf(PipelineModel.load(s"$dir/dist"), df))
    assert(ls === scoresOf(lm, df))
    if (onePartition) assert(ls === ds)
    else ls.zip(ds).foreach { case (a, b) => assert(relClose(a, b), s"score $a vs $b") }
  }

  test("local CV ≡ CrossValidator: multi-partition input, catalog grid") {
    val df = seeded(7, 240).repartition(5)
    assert(df.rdd.getNumPartitions === 5)
    assertCvParity(df, Seq("x1", "x2", "x3", "x4"),
      Map("regParam" -> Seq(0.0, 0.1), "elasticNetParam" -> Seq("0.0")), 2, onePartition = false)
  }

  test("local CV ≡ CrossValidator: rare class (2 of 42 rows), catalog grid, bit-identical") {
    val rare = ((1 to 40).map(i => (i.toLong, (i % 13).toDouble, (i % 5).toDouble, 0.0)) ++
      Seq((41L, 20.0, 1.0, 1.0), (42L, 21.0, 4.0, 1.0))).toDF("id", "x1", "x2", "label").coalesce(1)
    assertCvParity(rare, Seq("x1", "x2"), Map("regParam" -> Seq(0.0, 0.1)), 2, onePartition = true)
  }

  test("local CV ≡ CrossValidator: constant feature, 3-point grid, 3 folds, bit-identical") {
    val df = seeded(11, 300, constant = true).coalesce(1)
    assertCvParity(df, Seq("x1", "x2", "x3", "x4"),
      Map("regParam" -> Seq(0.0, 0.01, 0.1)), 3, onePartition = true)
    // spark.ml zeroes the constant column's coefficient; so does the replay
    val cv = Training.gridSearch(df, "label", Seq("x1", "x2", "x3", "x4"),
      "logistic_regression", Map("regParam" -> Seq(0.0, 0.01, 0.1)), 3)
    assert(lrStage(cv.bestModel.asInstanceOf[PipelineModel]).coefficients(3) === 0.0)
  }

  test("local single fit ≡ Pipeline.fit: one and many partitions, degenerate 14/1 label") {
    val many = seeded(3, 200).repartition(4)
    val one = seeded(5, 150).coalesce(1)
    val degenerate = ((1 to 14).map(i => (i.toLong, i.toDouble, 0.0)) :+ ((15L, 9.5, 1.0)))
      .toDF("id", "x1", "label").coalesce(1)
    Seq((many, Seq("x1", "x2", "x3", "x4"), false), (one, Seq("x1", "x2", "x3", "x4"), true),
        (degenerate, Seq("x1"), true)).foreach { case (df, features, onePartition) =>
      val lm = Training.trainImpl(df, "label", features, "logistic_regression", Training.LocalFitMaxCells)
      val dm = Training.trainImpl(df, "label", features, "logistic_regression", 0)
      assert(!lrStage(lm).hasSummary && lrStage(dm).hasSummary)
      assert(stageParams(lm) === stageParams(dm))
      val pairs = (lrStage(lm).coefficients.toArray :+ lrStage(lm).intercept)
        .zip(lrStage(dm).coefficients.toArray :+ lrStage(dm).intercept)
      if (onePartition) assert(pairs.forall { case (a, b) => a == b }, pairs.toSeq)
      else assert(pairs.forall { case (a, b) => relClose(a, b) }, pairs.toSeq)
    }
  }

  test("CV fall-through: random forest, elastic-net grid, an over-bound frame and a 2·numBins validation fold take the CrossValidator") {
    val df = seeded(13, 120).coalesce(1)
    // 4,000 rows over 2 stratified folds: validation folds of 2,000 rows,
    // 2 · numBins of the default evaluator, where spark.ml down-samples
    val wide = seeded(17, 4000).coalesce(1)
    val features = Seq("x1", "x2", "x3")
    val cases = Seq(
      (df, "random_forest_classifier", Map[String, Seq[Any]]("numTrees" -> Seq(3)), Training.LocalFitMaxCells),
      (df, "logistic_regression", Map[String, Seq[Any]]("elasticNetParam" -> Seq(0.5)), Training.LocalFitMaxCells),
      // 120 rows × (3 features + 2) = 600 cells: one cell over a 599 bound
      (df, "logistic_regression", Map[String, Seq[Any]]("regParam" -> Seq(0.1)), 599),
      (wide, "logistic_regression", Map[String, Seq[Any]]("regParam" -> Seq(0.1)), Training.LocalFitMaxCells))
    cases.foreach { case (in, model, grid, bound) =>
      val gated = Training.gridSearchImpl(in, "label", features, model, grid, 2, bound)
      val forced = Training.gridSearchImpl(in, "label", features, model, grid, 2, 0)
      assert(gated.avgMetrics.toSeq === forced.avgMetrics.toSeq, model)
      val (gm, fm) = (gated.bestModel.asInstanceOf[PipelineModel], forced.bestModel.asInstanceOf[PipelineModel])
      assert(stageParams(gm) === stageParams(fm))
      assert(scoresOf(gm, in) === scoresOf(fm, in))
      gm.stages(1) match {
        case m: LogisticRegressionModel => assert(m.hasSummary, s"$model $grid took the local path")
        case m                          => assert(m.getClass.getSimpleName === "RandomForestClassificationModel")
      }
    }
    // one cell more of bound, or two rows fewer, and the same grid runs locally
    def runsLocally(in: org.apache.spark.sql.DataFrame, bound: Int) =
      !lrStage(Training.gridSearchImpl(in, "label", features, "logistic_regression",
        Map("regParam" -> Seq(0.1)), 2, bound).bestModel.asInstanceOf[PipelineModel]).hasSummary
    assert(runsLocally(df, 600))
    assert(runsLocally(seeded(17, 3996).coalesce(1), Training.LocalFitMaxCells))
  }

  test("gridSearchOrTrain: a class under 2 rows degrades to train's fit, on the local path and after the count") {
    val degenerate = ((1 to 14).map(i => (i.toLong, i.toDouble, (i % 3).toDouble, 0.0)) :+ ((15L, 9.5, 1.0, 1.0)))
      .toDF("id", "x1", "x2", "label").coalesce(1)
    val features = Seq("x1", "x2")
    val lrGrid = Map[String, Seq[Any]]("regParam" -> Seq(0.0, 0.1))
    // local path: the class count comes from the probe rows
    val lm = Training.gridSearchOrTrain(degenerate, "label", features, "logistic_regression", lrGrid, 2)
    val tm = Training.train(degenerate, "label", features)
    assert(!lrStage(lm).hasSummary)
    assert(stageParams(lm) === stageParams(tm))
    assert(scoresOf(lm, degenerate) === scoresOf(tm, degenerate))
    // fall-through: a random forest counts the classes with an aggregate
    val rfGrid = Map[String, Seq[Any]]("numTrees" -> Seq(3))
    val rf = Training.gridSearchOrTrain(degenerate, "label", features, "random_forest_classifier", rfGrid, 2)
    val rfTrain = Training.train(degenerate, "label", features, "random_forest_classifier")
    assert(scoresOf(rf, degenerate) === scoresOf(rfTrain, degenerate))
    // every class with 2+ rows: the search's best model
    val df = seeded(13, 120).coalesce(1)
    val best = Training.gridSearch(df, "label", Seq("x1", "x2", "x3"), "logistic_regression", lrGrid, 2)
      .bestModel.asInstanceOf[PipelineModel]
    val got = Training.gridSearchOrTrain(df, "label", Seq("x1", "x2", "x3"), "logistic_regression", lrGrid, 2)
    assert(stageParams(got) === stageParams(best))
    assert(scoresOf(got, df) === scoresOf(best, df))
  }
}
