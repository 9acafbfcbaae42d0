package graft.model

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.graft.LocalLogistic
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.{BooleanParam, DoubleParam, FloatParam, IntParam, LongParam, Param, ParamMap}
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, ParamGridBuilder}
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

import graft.LocalGate

/** Train / score / persist (reference: production/training.py:23-107,
  * scoring.py:21-123, utils.py:45-57 grid search, utils.py:212-222
  * save_model).
  *
  * The whole prep + estimator chain is ONE PipelineModel, persisted with
  * the standard MLWritable layout — scoring loads it instead of refitting
  * encoders from train data (the reference refits at scoring time,
  * scoring.py:62-83; behavior-equivalent, mechanism better).
  */
object Training {

  /** Assembler + estimator pipeline, fit on train. A binary
    * `logistic_regression` fit on a driver-sized frame runs on the driver
    * (see [[LocalFitMaxCells]]); everything else is `Pipeline.fit`. */
  def train(
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      modelName: String = "logistic_regression"): PipelineModel =
    trainImpl(df, labelCol, featureCols, modelName, LocalFitMaxCells)

  /** Cell bound of the driver-local logistic-regression path shared by
    * [[train]] and [[gridSearch]] (the [[graft.graph.Graphs]] /
    * [[graft.align.Preference]] hybrid-gate precedent, one
    * [[graft.LocalGate]] probe): when the assembled frame provably holds
    * at most this many cells — rows × (features + 2) — every fit, the
    * fold × grid search and its areaUnderROC evaluation run as driver
    * arithmetic through [[org.apache.spark.ml.graft.LocalLogistic]], which
    * replays spark.ml's own L-BFGS fit, instead of a Spark job per L-BFGS
    * iteration, summarizer pass, metrics pass and fold scan. 2^20 cells
    * is ~8 MB of doubles collected; the bound is the largest size timed
    * (SCALE.md, ML / eval), never cores. A cross-validated search is
    * further capped by its evaluator's `numBins` (see [[gridSearchImpl]]).
    * Bigger frames, other estimators, L1/elastic-net, bounded, weighted
    * or multinomial fits and non-binary labels take spark.ml's
    * distributed path unchanged. */
  private[graft] val LocalFitMaxCells: Int = 1 << 20

  private[graft] def trainImpl(
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      modelName: String,
      localMaxCells: Int): PipelineModel = {
    val assembler = assemblerOf(featureCols)
    val est = Registry.estimator(modelName, "features", labelCol)
    val pipeline = new Pipeline().setStages(Array(assembler, est))
    val local = est match {
      case lr: LogisticRegression if LocalLogistic.plainBinomial(lr) =>
        val maxRows = localMaxCells / (featureCols.size + 2)
        probeBinary(assembler.transform(df), labelCol, maxRows, localMaxCells, None).map { p =>
          LocalLogistic.pipelineModel(pipeline, Array(assembler, LocalLogistic.fit(lr, p.labels, p.features)))
        }
      case _ => None
    }
    local.getOrElse(pipeline.fit(df))
  }

  private def assemblerOf(featureCols: Seq[String]): VectorAssembler =
    new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("features").setHandleInvalid("keep")

  /** Rows of the local logistic path in the source frame's order: labels,
    * assembled features and, for a cross-validation, each row's fold-order
    * key. */
  private final case class Probed(labels: Array[Double], features: Array[Vector], keys: Array[String]) {
    def at(idx: Array[Int]): (Array[Double], Array[Vector]) = (idx.map(labels), idx.map(features))
  }

  /** The bounded probe of the local logistic path: (label, features[,
    * key]) of the assembled frame in one narrow `limit(maxRows + 1)` job,
    * or None when it is over `maxRows` rows or `localMaxCells` cells or
    * holds what spark.ml would reject or fit differently — a non-numeric
    * or null label, a label outside {0, 1} or a single class, label
    * metadata declaring other than two classes, a null, NaN or infinite
    * feature. */
  private def probeBinary(
      assembled: DataFrame,
      labelCol: String,
      maxRows: Int,
      localMaxCells: Int,
      key: Option[Column]): Option[Probed] = {
    val label = assembled.schema(labelCol)
    if (!label.dataType.isInstanceOf[NumericType] || !LocalLogistic.binaryLabel(label)) return None
    val cols = Seq(col(labelCol).cast("double"), col("features")) ++ key
    LocalGate.probe(assembled.select(cols: _*), maxRows).flatMap { rows =>
      val valid = rows.forall(r =>
        !r.isNullAt(0) && (r.getDouble(0) == 0.0 || r.getDouble(0) == 1.0) &&
          !r.isNullAt(1) && r.getAs[Vector](1).toArray.forall(java.lang.Double.isFinite))
      // -0.0 reads as 0.0, as the fold window's normalized label does
      val labels = rows.map(r => if (valid && r.getDouble(0) == 1.0) 1.0 else 0.0)
      val features = rows.map(_.getAs[Vector](1))
      val dim = features.headOption.map(_.size).getOrElse(0)
      val fits = valid && labels.contains(0.0) && labels.contains(1.0) &&
        features.forall(_.size == dim) && rows.length.toLong * (dim + 2) <= localMaxCells
      Option.when(fits)(Probed(labels, features, if (key.isEmpty) Array.empty else rows.map(_.getString(2))))
    }
  }

  def saveModel(model: PipelineModel, path: String): Unit =
    model.write.overwrite().save(path)

  def loadModel(path: String): PipelineModel = PipelineModel.load(path)

  /** Score: model.transform + positive-class probability as `score`
    * (replaces the reference's _get_label UDF chain with vector_to_array).
    *
    * P(class 1) is only meaningful as a ranking score for BINARY
    * probabilistic models — for multiclass estimators (naive_bayes, MLP)
    * element 2 of the probability vector is just one arbitrary class, and
    * one_vs_rest emits no probability column at all. Those models fall back
    * to `score` = raw prediction (the predicted class index). */
  def score(model: PipelineModel, df: DataFrame): DataFrame = {
    val scored = model.transform(df)
    val isBinaryProb = model.stages.collectFirst {
      case m: org.apache.spark.ml.classification.ProbabilisticClassificationModel[_, _] =>
        m.numClasses
    }.contains(2)
    if (isBinaryProb && scored.columns.contains("probability"))
      scored.withColumn("score", element_at(vector_to_array(col("probability")), 2))
    else scored.withColumn("score", col("prediction"))
  }

  /** Grid search with ParamGridBuilder + CrossValidator (fixes the
    * reference's never-imported ParameterGrid, utils.py:45-57). */
  def gridSearchLogistic(
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      regParams: Seq[Double] = Seq(0.0, 0.01, 0.1),
      elasticNetParams: Seq[Double] = Seq(0.0, 0.5, 1.0),
      numFolds: Int = 3): CrossValidatorModel =
    gridSearch(df, labelCol, featureCols, "logistic_regression",
      Map("regParam" -> regParams, "elasticNetParam" -> elasticNetParams), numFolds)

  /** Grid search over ANY registry estimator with a declaratively named
    * grid (`"regParam" -> Seq(0.0, 0.1)`), the form a YAML job catalog can
    * declare (reference intended this via config, utils.py:45-57, but the
    * ParameterGrid it builds is never imported — broken there, closed
    * here). Param names resolve against the estimator by string — an
    * unknown name is a loud config error, not a silently ignored knob —
    * and values coerce to each param's declared primitive type, so YAML
    * scalars arriving as strings or ints both work. Classification models
    * select by area-under-ROC, regression models by RMSE. */
  def gridSearch(
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      modelName: String,
      grid: Map[String, Seq[Any]],
      numFolds: Int = 3): CrossValidatorModel =
    gridSearchImpl(df, labelCol, featureCols, modelName, grid, numFolds, LocalFitMaxCells)

  /** [[gridSearch]]'s best model when every label class has at least 2
    * rows — stratified folds then hand every training fold every class —
    * else one [[train]] fit, announced on stderr: a tiny or degenerate
    * label (14/1 at sf0.001) degrades loudly instead of failing. A search
    * whose local probe holds the frame counts the classes in those rows
    * (and a single fit reuses them); only one without runs a class-count
    * aggregate first. */
  def gridSearchOrTrain(
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      modelName: String,
      grid: Map[String, Seq[Any]],
      numFolds: Int = 3): PipelineModel = {
    val search = new GridSearch(df, labelCol, featureCols, modelName, grid, numFolds, LocalFitMaxCells)
    val counts = search.probed.map(_.labels.groupBy(identity).values.map(_.length.toLong).toSeq)
      .getOrElse(df.groupBy(col(labelCol)).count().limit(1000).collect().map(_.getLong(1)).toSeq)
    if (counts.size >= 2 && counts.min >= 2) search.fit().bestModel.asInstanceOf[PipelineModel]
    else {
      System.err.println(
        "[graft] gridSearch: a label class has < 2 examples — CV infeasible, single fit")
      search.singleFit()
    }
  }

  /** [[gridSearch]] with its local bound as a parameter (0 forces the
    * CrossValidator). A `logistic_regression` grid whose every point stays
    * on the plain binomial L-BFGS path, over a binary label and a frame
    * within `localMaxCells` cells and under `2 · numBins` rows (the
    * evaluator's) per validation fold, runs every fold × grid-point fit,
    * the areaUnderROC evaluations and the refit on the driver and returns the
    * CrossValidatorModel `cv.fit` would: the same fold-averaged
    * `avgMetrics` in grid order, the first maximum as best, and a
    * `bestModel` of the same stages and params. */
  private[graft] def gridSearchImpl(
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      modelName: String,
      grid: Map[String, Seq[Any]],
      numFolds: Int,
      localMaxCells: Int): CrossValidatorModel =
    new GridSearch(df, labelCol, featureCols, modelName, grid, numFolds, localMaxCells).fit()

  /** One grid search, set up: the CrossValidator over the registry
    * estimator's pipeline and, for a logistic grid the local path can
    * replay, that path's probe, run at most once. */
  private final class GridSearch(
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      modelName: String,
      grid: Map[String, Seq[Any]],
      numFolds: Int,
      localMaxCells: Int) {
    require(grid.nonEmpty && grid.values.forall(_.nonEmpty),
      "gridSearch needs a non-empty param_grid with non-empty value lists")
    private val assembler = assemblerOf(featureCols)
    private val est = Registry.estimator(modelName, "features", labelCol)
    private val paramMaps = {
      val builder = new ParamGridBuilder()
      grid.toSeq.sortBy(_._1).foreach { case (name, values) =>
        require(est.hasParam(name),
          s"model '$modelName' has no param '$name'; known: ${est.params.map(_.name).sorted.mkString(", ")}")
        val p = est.getParam(name)
        builder.addGrid(p.asInstanceOf[Param[Any]], values.map(coerce(p, _)))
      }
      builder.build()
    }
    private val regression = Registry.regressionModels.contains(modelName)
    private val evaluator =
      if (regression) new RegressionEvaluator().setLabelCol(labelCol)
      else new BinaryClassificationEvaluator().setLabelCol(labelCol)
    private val pipeline = new Pipeline().setStages(Array(assembler, est))
    private val cv = new CrossValidator()
      .setEstimator(pipeline)
      .setEvaluator(evaluator)
      .setEstimatorParamMaps(paramMaps)
      .setNumFolds(numFolds)
      .setParallelism(4)
      .setSeed(0L)
    private val order = md5(concat_ws("\u0000", df.columns.map(c => col(c).cast("string")): _*))

    /** The local path's estimator and its evaluator's `numBins`: a
      * classification grid whose every point is plain binomial L-BFGS. */
    private val localLr: Option[(LogisticRegression, Int)] = (est, evaluator) match {
      case (lr: LogisticRegression, auc: BinaryClassificationEvaluator)
          if paramMaps.forall(pm => LocalLogistic.plainBinomial(lr.copy(pm))) =>
        Some((lr, auc.getNumBins))
      case _ => None
    }

    /** The local path's rows, or None when it does not apply or the frame
      * is over its bound. The probe stays narrow (md5 is a projection): a
      * frame over the bound costs one early-stopping scan, never the
      * window's shuffle. */
    lazy val probed: Option[Probed] = localLr.flatMap { case (_, numBins) =>
      val maxRows = math.min(localMaxCells / (featureCols.size + 2),
        if (numBins > 0) 2L * numBins * numFolds else Long.MaxValue).toInt
      probeBinary(assembler.transform(df), labelCol, maxRows, localMaxCells, Some(order))
    }

    /** The cross-validated search, on the driver when [[probed]] holds
      * the frame and its folds replay. */
    def fit(): CrossValidatorModel =
      if (regression) cv.fit(df)
      else {
        // Stratified folds for classification: spark.ml's random split can
        // hand a training fold ZERO examples of a rare class (the fit then
        // fails, or silently learns a one-class model). Deterministic
        // md5-ordered row_number per class mod folds gives every fold a
        // proportional share of each class — every training fold sees every
        // class whenever each class has >= 2 examples. The window partitions
        // by label (bounded cardinality for classification), not globally.
        import org.apache.spark.sql.expressions.Window
        cv.setFoldCol("__fold")
        probed.zip(localLr)
          .flatMap { case (p, (lr, numBins)) =>
            localCrossValidate(p, lr, assembler, pipeline, cv, paramMaps, numFolds, numBins)
          }
          .getOrElse {
            val w = Window.partitionBy(col(labelCol)).orderBy(order)
            cv.fit(df.withColumn("__fold", ((row_number().over(w) - lit(1)) % numFolds).cast("int")))
          }
      }

    /** [[train]]'s fit: from the probed rows when they are held (the
      * registry's estimator is plain binomial), else [[trainImpl]]. */
    def singleFit(): PipelineModel =
      probed.zip(localLr.map(_._1).filter(LocalLogistic.plainBinomial))
        .map { case (p, lr) =>
          LocalLogistic.pipelineModel(pipeline, Array(assembler, LocalLogistic.fit(lr, p.labels, p.features)))
        }
        .getOrElse(trainImpl(df, labelCol, featureCols, modelName, localMaxCells))
  }

  /** CrossValidator.fit over probed rows. The `__fold` window is replayed:
    * per label, rows in key order (source order among equal keys, as the
    * window's stable sort reads one coalesced partition), row number mod
    * `numFolds`. Fold fits read that order and the refit the source
    * order, as spark.ml's do (column pruning drops the window from the
    * refit). Per fold, every grid point is fit on the other folds and
    * scored by areaUnderROC on this one; metrics average over folds; the
    * first best point is refit on every row. None when a fold would leave
    * spark.ml an empty or one-class split (its own error or one-class
    * model stays the answer), or when a validation fold has `2 · numBins`
    * rows or more: there BinaryClassificationMetrics down-samples its
    * curve per range partition, which the local AUC does not replay. */
  private def localCrossValidate(
      p: Probed,
      lr: LogisticRegression,
      assembler: VectorAssembler,
      pipeline: Pipeline,
      cv: CrossValidator,
      paramMaps: Array[ParamMap],
      numFolds: Int,
      numBins: Int): Option[CrossValidatorModel] = {
    val windowOrder = p.labels.indices.sortBy(i => (p.labels(i) == 1.0, p.keys(i))).toArray
    val firstPositive = windowOrder.indexWhere(p.labels(_) == 1.0)
    val folds = new Array[Int](windowOrder.length)
    windowOrder.indices.foreach { k =>
      folds(windowOrder(k)) = (if (k < firstPositive) k else k - firstPositive) % numFolds
    }
    val splits = (0 until numFolds).map(f => windowOrder.partition(folds(_) != f))
    def bothClasses(idx: Array[Int]) =
      idx.exists(p.labels(_) == 0.0) && idx.exists(p.labels(_) == 1.0)
    if (!splits.forall { case (train, valid) =>
          bothClasses(train) && valid.nonEmpty && (numBins == 0 || valid.length < 2 * numBins)
        }) return None
    val avgMetrics = splits.map { case (train, valid) =>
      val (trainLabels, trainFeatures) = p.at(train)
      val (validLabels, validFeatures) = p.at(valid)
      paramMaps.map { pm =>
        val model = LocalLogistic.fit(lr.copy(pm), trainLabels, trainFeatures)
        LocalLogistic.areaUnderRoc(model, validLabels, validFeatures)
      }
    }.transpose.map(_.sum / numFolds).toArray
    val best = paramMaps(avgMetrics.zipWithIndex.maxBy(_._1)._2)
    val bestModel = LocalLogistic.pipelineModel(pipeline.copy(best),
      Array(assembler.copy(best), LocalLogistic.fit(lr.copy(best), p.labels, p.features)))
    Some(LocalLogistic.crossValidatorModel(cv, bestModel, avgMetrics))
  }

  /** YAML/config scalars → the param's declared type (unparseable value =
    * loud error at grid build, not a mid-CV ClassCastException). */
  private def coerce(p: Param[_], v: Any): Any = p match {
    case _: DoubleParam  => java.lang.Double.valueOf(v.toString.toDouble)
    case _: FloatParam   => java.lang.Float.valueOf(v.toString.toFloat)
    case _: IntParam     => java.lang.Integer.valueOf(v.toString.toInt)
    case _: LongParam    => java.lang.Long.valueOf(v.toString.toLong)
    case _: BooleanParam => java.lang.Boolean.valueOf(v.toString.toBoolean)
    case _               => v.toString
  }

  /** L1 (lasso) feature elimination: features whose logistic-regression
    * coefficient is driven to zero under L1 regularization
    * (reference: features.py:704-749). */
  def byLasso(
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      regParam: Double = 0.1): Seq[String] = {
    val assembler = assemblerOf(featureCols)
    val lr = new LogisticRegression()
      .setFeaturesCol("features").setLabelCol(labelCol)
      .setElasticNetParam(1.0).setRegParam(regParam)
    val model = lr.fit(assembler.transform(df))
    val coefs = model.coefficients.toArray
    featureCols.zip(coefs).collect { case (c, w) if w == 0.0 => c }
  }

  /** Random-forest feature importances as a small table
    * (reference: eda.py:830-891 `feature_importance`). */
  def featureImportance(
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      numTrees: Int = 3,
      maxDepth: Int = 2): DataFrame = {
    import org.apache.spark.ml.classification.RandomForestClassifier
    val assembler = assemblerOf(featureCols)
    val rf = new RandomForestClassifier()
      .setFeaturesCol("features").setLabelCol(labelCol)
      .setNumTrees(numTrees).setMaxDepth(maxDepth).setSeed(0L)
    val model = rf.fit(assembler.transform(df))
    val spark = df.sparkSession
    import spark.implicits._
    featureCols.zip(model.featureImportances.toArray)
      .toDF("feature", "importance")
      .withColumn("importance", round(col("importance"), 6))
  }
}
