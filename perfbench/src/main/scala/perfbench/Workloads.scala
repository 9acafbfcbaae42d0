package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

import graft.dp.Cleaning
import graft.eval.Metrics
import graft.io.Tables
import graft.model.Training
import graft.pipeline.FeatureEngineering
import graft.plans.PlanAudit
import graft.SparkEntry
import graft.queries._
import graft.similarity.AnnIndex

import Main.{Ctx, Workload}

/** Materialise every column of a result: the `noop` sink runs the whole
  * plan and reads every output column, where `.count()` would let Spark
  * prune the columns the result does not need. */
object Sink {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** propensity-ref: the calls the four propensity stage bodies of
  * `graft.pipeline.Production` make (clean-tables, build-features, train,
  * score-and-report), with the catalog's parameters, on generated
  * customer / orders / events. Every result is written to a scratch zone
  * under the run's work directory. One op is one whole pass. */
final class Propensity extends Workload {
  def warmTable: String = "customer"

  // Production.featureCols and the catalog's core config / train params
  private val featureCols = Seq(
    "c_acctbal", "last_click_date_diff", "total_click_value",
    "last_view_date_diff", "total_view_value",
    "last_purchase_date_diff", "total_purchase_value")
  private val refDate = "2024-01-15"
  private val labelRef = "1997-06-30"
  private val windowDays = 90
  private val grid = Map[String, Seq[Any]]("regParam" -> Seq(0.0, 0.1), "elasticNetParam" -> Seq("0.0"))
  private val folds = 2

  private def zone(c: Ctx, name: String) = s"${c.work}/zone/$name"
  private def read(c: Ctx, path: String) = Tables.readData(c.spark, Seq(path))
  /** Production's `save` with `core.audit_plans: true`. */
  private def save(df: DataFrame, path: String, allow: Set[String] = Set.empty): Unit = {
    PlanAudit.assertScaleSafe(df, allow = allow)
    Tables.saveData(df, path)
  }

  /** clean-tables reads `ts` with `timestamp_micros(ts div 1000)`, which
    * assumes a TIMESTAMP(NANOS) file read as a long; a TIMESTAMP(MICROS)
    * file reads as TIMESTAMP_NTZ and the stage throws DATATYPE_MISMATCH.
    * The pass uses the registry's own normalisation (queries.Support.events)
    * instead, so it can run on the testdata's physical types. */
  private def normalizeTs(ev: DataFrame): DataFrame =
    if (ev.schema("ts").dataType == TimestampNTZType) ev.withColumn("ts", col("ts").cast("timestamp"))
    else ev.withColumn("ts", timestamp_micros(expr("ts div 1000")))

  def cold(c: Ctx): Unit = pass(c)
  def op(c: Ctx, i: Int): Unit = pass(c)

  private def pass(c: Ctx): Unit = {
    val s = c.spark
    val t = c.trace
    t.span("dp.clean") {
      Seq("customer", "orders").foreach { name =>
        save(Cleaning.dropDuplicateRows(Cleaning.cleanColumns(read(c, s"${c.data}/$name.parquet"))),
          zone(c, s"clean_$name"))
      }
      val ev = normalizeTs(read(c, s"${c.data}/events.parquet"))
      save(Cleaning.dropDuplicateRows(Cleaning.cleanColumns(ev)), zone(c, "clean_events"))
    }
    t.span("pipeline.features") {
      val ev = read(c, zone(c, "clean_events")).withColumnRenamed("user_id", "c_custkey")
      def src(tpe: String) = FeatureEngineering.recencyTotals(
        ev.filter(col("event_type") === tpe), "c_custkey", "ts", "value", refDate, tpe)
      val label = FeatureEngineering.labelTable(
        read(c, zone(c, "clean_orders")), "o_custkey", "o_orderdate", labelRef, windowDays)
      val merged = FeatureEngineering.merge(
        read(c, zone(c, "clean_customer")).select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment")),
        "c_custkey", Seq(src("click"), src("view"), src("purchase")), label, "o_custkey")
      save(merged.na.fill(0), zone(c, "features"))
    }
    val model = t.span("model.cv_fit") {
      val df = read(c, zone(c, "features"))
      val counts = df.groupBy(col("target_var")).count().limit(1000).collect().map(_.getLong(1))
      require(counts.length >= 2 && counts.min >= 2, "label has a class with < 2 rows: CV infeasible")
      Training.gridSearch(df, "target_var", featureCols, "logistic_regression", grid, folds)
        .bestModel.asInstanceOf[org.apache.spark.ml.PipelineModel]
    }
    val loaded = t.span("model.persist") {
      Training.saveModel(model, zone(c, "model"))
      Training.loadModel(zone(c, "model"))
    }
    t.span("model.score") {
      val scored = Training.score(loaded, read(c, zone(c, "features")))
      save(scored.select("c_custkey", "target_var", "score"), zone(c, "predictions"))
    }
    t.span("eval.metrics") {
      val preds = read(c, zone(c, "predictions"))
      save(Metrics.binaryMetricsAtThreshold(preds, "score", "target_var", 0.5), zone(c, "metrics"))
      save(Metrics.rocPrCurve(preds, "score", "target_var"), zone(c, "roc_curve"),
        allow = Set("GLOBAL_WINDOW"))
    }
  }

  override def finish(c: Ctx): Map[String, Any] =
    Map("features" -> zone(c, "features"), "predictions" -> zone(c, "predictions"))
}

/** query-mix: a fixed panel drawn from `SparkEntry.queries ++
  * SparkEntry.benchQueries`, one query from every family, the first in
  * MD5-of-name order, so every run times the same queries, plus one IVF
  * search slot (family `similarity`), over the sf0.1 testdata tables.
  * The run seed orders the loop.
  * Read-only: every timed query result goes to the `noop` sink.
  *
  * Output checks: `prepare` builds every panel query's frame in oracle
  * mode (untimed; this is also where the ANN family's
  * ensureIvf/ensureIvfPq index builds happen, so no timed span includes
  * one). The cold op then runs each query once (span `first`), writes the
  * result to parquet and compares its plan with the oracle-mode plan: a
  * query whose plan is semantically the same is exact outside oracle
  * mode, and run.py hash-compares its result with `SparkEntry.oracleSql`;
  * the others get a row-count check.
  *
  * The similarity slot builds an IVF index over the 2,000-vector
  * `embeddings` table in the cold op (span `similarity.build`; the k-means
  * sample is below the local-fit bound) and searches the first 32 vectors
  * once per cycle (span `similarity.search`; the answer is written out for
  * the answer check and the `quality` recall), at the library's default
  * (auto nlist / nprobe) operating point. The recall bound is checked
  * where tools/Recall sets it (`ann_ivf_search`): an untimed build and
  * search of the same 32 queries over the 500-vector sf0.01 embeddings
  * in `finish`. */
final class QueryMix extends Workload {
  def warmTable: String = "region"

  private val families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "relational" -> RelationalQueries.queries,
    "profile" -> ProfileQueries.queries,
    "features" -> FeatureQueries.queries,
    "eval" -> EvalQueries.queries,
    "pipeline" -> PipelineQueries.queries,
    "llm" -> (LlmQueries.queries ++ LlmQueries.benchQueries),
    "align" -> AlignQueries.queries)
  private val registry = SparkEntry.queries ++ SparkEntry.benchQueries
  require(families.map(_._2.size).sum == registry.size &&
    families.flatMap(_._2.keys).toSet == registry.keySet,
    "query families do not partition the registry")

  val panel: Seq[(String, String)] = families.map { case (fam, qs) => fam -> qs.keys.minBy(md5) }
  private def md5(s: String): String = java.security.MessageDigest.getInstance("MD5")
    .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private val searchSlot = ("similarity", "ivf_search")
  private val searchQueries = 32
  private val k = 10
  private var order: IndexedSeq[(String, String)] = IndexedSeq.empty
  private var oracleFrames = Map.empty[String, Either[String, DataFrame]]
  private var checks = Seq.empty[Map[String, Any]]

  private def index(c: Ctx) = s"${c.work}/index"
  private def embeddings(c: Ctx) = c.spark.read.parquet(s"${c.data}/embeddings.parquet")
  private def search(c: Ctx): DataFrame = AnnIndex.searchIvf(c.spark, index(c),
    embeddings(c).filter(col("vec_id") < searchQueries), "vec_id", "embedding", k)
  /** tools/Recall's `ann_ivf_search` corpus: the sf0.01 embeddings, beside
    * the sf0.1 tables. */
  private def refData(c: Ctx) = new java.io.File(c.data).getParentFile.toString + "/sf0.01"

  override def prepare(c: Ctx): Unit = {
    order = new Random(c.seed).shuffle(panel :+ searchSlot).toIndexedSeq
    oracleFrames = panel.map { case (_, name) =>
      Support.oracleMode = true
      name -> (try Right(registry(name)(c.spark, c.data)) catch {
        case e: Throwable => Left(String.valueOf(e.getMessage).take(300))
      } finally Support.oracleMode = false)
    }.toMap
  }

  def cold(c: Ctx): Unit = {
    checks = order.filter(_ != searchSlot).map { case (fam, name) =>
      val rec = Map[String, Any]("query" -> name, "family" -> fam,
        "result" -> s"${c.work}/results/$name", "oracle_sql" -> SparkEntry.oracleSql.get(name))
      try {
        val oracleFrame = oracleFrames(name).fold(e => sys.error(s"oracle-mode build: $e"), identity)
        val df = c.trace.span("first", "query" -> name, "family" -> fam) {
          val df = registry(name)(c.spark, c.data)
          df.write.mode("overwrite").parquet(s"${c.work}/results/$name")
          df
        }
        // same canonical plan, local relations' rows included; a plan
        // holding a UDF closure never compares equal, so such a query is
        // checked by row count only (never wrongly as exact)
        rec + ("exact" -> df.sameSemantics(oracleFrame))
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] check pass: $name failed: ${e.getMessage}")
          rec + ("error" -> String.valueOf(e.getMessage).take(300))
      }
    }
    c.trace.span("similarity.build") {
      AnnIndex.buildIvf(embeddings(c), "vec_id", "embedding", index(c))
    }
  }

  override def cycle: Int = order.size

  override def opAttrs(i: Int): Seq[(String, Any)] = {
    val (fam, name) = order(i % order.size)
    Seq("query" -> name, "family" -> fam)
  }

  def op(c: Ctx, i: Int): Unit = order(i % order.size) match {
    // the slot writes its 320-row answer (every column) for the recall check
    case `searchSlot` => c.trace.span("similarity.search") {
      search(c).write.mode("overwrite").parquet(s"${c.work}/results/${searchSlot._2}")
    }
    case (_, name) => Sink.noop(registry(name)(c.spark, c.data))
  }

  override def finish(c: Ctx): Map[String, Any] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(c.spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(index(c))).getLength
    val refEmb = c.spark.read.parquet(s"${refData(c)}/embeddings.parquet")
    AnnIndex.buildIvf(refEmb, "vec_id", "embedding", s"${c.work}/index_ref")
    AnnIndex.searchIvf(c.spark, s"${c.work}/index_ref", refEmb.filter(col("vec_id") < searchQueries),
      "vec_id", "embedding", k).write.mode("overwrite").parquet(s"${c.work}/results/ref_search")
    val facts = Map[String, Any]("checks" -> checks,
      "search_results" -> s"${c.work}/results/${searchSlot._2}", "search_queries" -> searchQueries,
      "ref_data" -> refData(c), "ref_search_results" -> s"${c.work}/results/ref_search",
      "index_bytes_per_vector" -> bytes.toDouble / embeddings(c).count())
    if (!c.traced) facts
    else facts + ("candidates_per_query" -> AnnIndex.candidateVolume(c.spark, index(c),
      embeddings(c).filter(col("vec_id") < searchQueries), "vec_id", "embedding", k))
  }
}
