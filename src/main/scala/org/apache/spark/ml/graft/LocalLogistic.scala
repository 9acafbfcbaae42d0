package org.apache.spark.ml.graft

import java.util.Locale

import scala.reflect.ClassTag

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{CachedDiffFunction, DiffFunction, LBFGS => BreezeLBFGS}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.{Model, Pipeline, PipelineModel, Transformer}
import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.{Instance, InstanceBlock, StandardScalerModel}
import org.apache.spark.ml.linalg.{BLAS, DenseMatrix, Vector, Vectors}
import org.apache.spark.ml.optim.aggregator.BinaryLogisticBlockAggregator
import org.apache.spark.ml.optim.loss.L2Regularization
import org.apache.spark.ml.param.{Param, ParamMap, ParamPair, Params}
import org.apache.spark.ml.stat.Summarizer
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel}
import org.apache.spark.ml.util.MetadataUtils
import org.apache.spark.sql.types.StructField

/** spark.ml's binary logistic-regression fit and its areaUnderROC, run on
  * driver-held rows (the driver-local side of graft.model.Training's size
  * gate). Nothing here re-derives the arithmetic: the fit calls the same
  * `Summarizer` buffer, `InstanceBlock` blocking, `BinaryLogisticBlockAggregator`,
  * `L2Regularization` and breeze `LBFGS(maxIter, 10, tol)` that
  * `LogisticRegression.train` runs, with its initial intercept and its
  * virtual centering, and builds the model through the same
  * constructors. On rows spark.ml would see as ONE partition the
  * coefficients are bit-identical; a multi-partition fit merges partial
  * sums in a different order and agrees to rounding noise.
  *
  * This file lives under `org.apache.spark.ml` only to reach those
  * `private[ml]`/`private[spark]` members (the
  * [[org.apache.spark.sql.graft.Bridge]] precedent); no Spark internals
  * are modified. */
object LocalLogistic {

  /** True when fitting `lr` takes spark.ml's plain binomial L-BFGS path:
    * no L1 term, intercept fitted, standardized L2, no coefficient bounds,
    * no instance weights, no multinomial family or class thresholds. Any
    * other setting falls through to spark.ml itself. */
  def plainBinomial(lr: LogisticRegression): Boolean = {
    val bounds = Seq(lr.lowerBoundsOnCoefficients, lr.upperBoundsOnCoefficients,
      lr.lowerBoundsOnIntercepts, lr.upperBoundsOnIntercepts)
    lr.getElasticNetParam == 0.0 && lr.getFitIntercept && lr.getStandardization &&
      Set("auto", "binomial").contains(lr.getFamily.toLowerCase(Locale.ROOT)) &&
      !bounds.exists(p => lr.isSet(p)) && !lr.isSet(lr.thresholds) &&
      (!lr.isDefined(lr.weightCol) || lr.getWeightCol.isEmpty)
  }

  /** A label column whose ML attribute metadata (if any) declares two
    * classes — otherwise spark.ml sizes the model from the metadata. */
  def binaryLabel(field: StructField): Boolean =
    MetadataUtils.getNumClasses(field).forall(_ == 2)

  /** `lr.fit` on rows with labels in {0, 1} (both present), unit weights
    * and finite features, in row order — `LogisticRegression.train`'s
    * binomial branch step for step. The model carries `lr`'s explicitly
    * set params and `lr` as its parent, as `Predictor.fit` leaves them;
    * it has no training summary. */
  def fit(lr: LogisticRegression, labels: Array[Double], features: Array[Vector]): LogisticRegressionModel = {
    require(plainBinomial(lr), "LocalLogistic.fit only replays the plain binomial L-BFGS path")
    val n = labels.length
    val summarizer = Summarizer.createSummarizerBuffer("mean", "std", "count")
    val histogram = new Array[Double](2)
    var i = 0
    while (i < n) {
      summarizer.add(features(i), 1.0)
      histogram(labels(i).toInt) += 1.0
      i += 1
    }
    require(histogram(0) > 0 && histogram(1) > 0, "LocalLogistic.fit needs both classes")
    val numFeatures = summarizer.mean.size
    val featuresMean = summarizer.mean.toArray
    val featuresStd = summarizer.std.toArray

    val regParamL2 = (1.0 - lr.getElasticNetParam) * lr.getRegParam
    val regularization =
      if (regParamL2 != 0.0) Some(new L2Regularization(regParamL2, (j: Int) => j >= 0 && j < numFeatures, None))
      else None
    val solution0 = new Array[Double](numFeatures + 1)
    solution0(numFeatures) = math.log(histogram(1) / histogram(0))

    // trainImpl: scale by 1/std, block, center virtually through scaledMean
    val inverseStd = featuresStd.map(std => if (std != 0) 1.0 / std else 0.0)
    val scaledMean = Array.tabulate(numFeatures)(j => inverseStd(j) * featuresMean(j))
    val scale = StandardScalerModel.getTransformFunc(Array.empty, inverseStd, false, true)
    val blockMb =
      if (lr.getMaxBlockSizeInMB == 0.0) InstanceBlock.DefaultBlockSizeInMB else lr.getMaxBlockSizeInMB
    val blocks = InstanceBlock.blokifyWithMaxMemUsage(
      Iterator.tabulate(n)(k => Instance(labels(k), 1.0, scale(features(k)))),
      (blockMb * 1024L * 1024L).ceil.toLong).toArray
    val bcInverseStd = new Held(inverseStd)
    val bcScaledMean = new Held(scaledMean)
    // RDDLossFunction over one partition: one aggregator folds every
    // block, and treeAggregate merges it into a zero aggregator
    val loss = new DiffFunction[BDV[Double]] {
      override def calculate(x: BDV[Double]): (Double, BDV[Double]) = {
        val coefficients = Vectors.fromBreeze(x)
        def aggregator() =
          new BinaryLogisticBlockAggregator(bcInverseStd, bcScaledMean, true, true)(new Held(coefficients))
        val part = aggregator()
        blocks.foreach(part.add)
        val agg = aggregator().merge(part)
        val gradient = agg.gradient
        val regLoss = regularization.map { reg =>
          val (l, g) = reg.calculate(coefficients)
          BLAS.axpy(1.0, g, gradient)
          l
        }.getOrElse(0.0)
        (agg.loss + regLoss, gradient.asBreeze.toDenseVector)
      }
    }
    solution0(numFeatures) += BLAS.javaBLAS.ddot(numFeatures, solution0, 1, scaledMean, 1)
    val optimizer = new BreezeLBFGS[BDV[Double]](lr.getMaxIter, 10, lr.getTol)(BDV.space_Double)
    val states = optimizer.iterations(new CachedDiffFunction(loss), new BDV[Double](solution0))
    var state: optimizer.State = null
    while (states.hasNext) state = states.next()
    require(state != null, s"${optimizer.getClass.getName} failed.")
    val solution = state.x.toArray
    solution(numFeatures) -= BLAS.javaBLAS.ddot(numFeatures, solution, 1, scaledMean, 1)

    // back to the original feature space (train's foreachActive)
    val coefficientMatrix = new DenseMatrix(1, numFeatures, new Array[Double](numFeatures), isTransposed = true)
    var j = 0
    while (j < numFeatures) {
      if (featuresStd(j) != 0.0) coefficientMatrix.update(0, j, solution(j) / featuresStd(j))
      j += 1
    }
    val interceptVector = Vectors.dense(solution(numFeatures))
    new LogisticRegressionModel(lr.uid, coefficientMatrix.compressed, interceptVector.compressed, 2, false)
      .copy(explicitParams(lr)).setParent(lr)
  }

  /** BinaryClassificationEvaluator's areaUnderROC over (label, features)
    * scored by `model.predictRaw(_)(1)` (its rawPrediction score), by
    * BinaryClassificationMetrics' rule when it does not down-sample (fewer
    * than `2 · numBins` distinct scores, which the caller ensures): one
    * bin per distinct score in descending `Double` order, cumulative
    * (FPR, recall) points framed by (0, 0) and (1, 1), trapezoids summed
    * in curve order. */
  def areaUnderRoc(model: LogisticRegressionModel, labels: Array[Double], features: Array[Vector]): Double = {
    val scores = features.map(v => model.predictRaw(v)(1))
    val order = scores.indices.sortWith((a, b) => java.lang.Double.compare(scores(a), scores(b)) > 0)
    // (score, positives, negatives) per distinct score
    val binned = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double)]
    order.foreach { k =>
      val (pos, neg) = if (labels(k) > 0.5) (1.0, 0.0) else (0.0, 1.0)
      if (binned.nonEmpty && java.lang.Double.compare(binned.last._1, scores(k)) == 0) {
        val (s, p, q) = binned.last
        binned(binned.length - 1) = (s, p + pos, q + neg)
      } else binned += ((scores(k), pos, neg))
    }
    val totalPos = binned.map(_._2).sum
    val totalNeg = binned.map(_._3).sum
    var cumPos = 0.0
    var cumNeg = 0.0
    val points = binned.toSeq.map { case (_, p, q) =>
      cumPos += p
      cumNeg += q
      (if (totalNeg == 0) 0.0 else cumNeg / totalNeg, if (totalPos == 0) 0.0 else cumPos / totalPos)
    }
    val curve = (0.0, 0.0) +: points :+ ((1.0, 1.0))
    curve.sliding(2).foldLeft(0.0) { case (area, Seq(x, y)) =>
      area + (y._1 - x._1) * (y._2 + x._2) / 2.0
    }
  }

  /** The PipelineModel `pipeline.fit` returns for these fitted stages. */
  def pipelineModel(pipeline: Pipeline, stages: Array[Transformer]): PipelineModel =
    new PipelineModel(pipeline.uid, stages).setParent(pipeline)

  /** The CrossValidatorModel `cv.fit` returns for this best model and
    * these fold-averaged metrics (no sub-models). */
  def crossValidatorModel(cv: CrossValidator, bestModel: Model[_], avgMetrics: Array[Double]): CrossValidatorModel =
    new CrossValidatorModel(cv.uid, bestModel, avgMetrics).copy(explicitParams(cv)).setParent(cv)

  /** The params explicitly set on `p` — what `copyValues` carries over. */
  private def explicitParams(p: Params): ParamMap =
    ParamMap(p.params.toSeq.filter(p.isSet).map(q =>
      ParamPair(q.asInstanceOf[Param[Any]], p.getOrDefault(q))): _*)

  /** A driver-held value behind the `Broadcast` interface the
    * aggregators read; nothing is registered with the block manager. */
  private final class Held[T: ClassTag](v: T) extends Broadcast[T](-1L) {
    override protected def getValue(): T = v
    override protected def doUnpersist(blocking: Boolean): Unit = ()
    override protected def doDestroy(blocking: Boolean): Unit = ()
  }
}
