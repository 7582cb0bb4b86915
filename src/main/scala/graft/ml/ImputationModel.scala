package graft.ml

import java.util.concurrent.{Callable, CopyOnWriteArrayList, ExecutionException, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.attribute.{Attribute, AttributeGroup, NumericAttribute}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** K6 — gradient-boosted-tree training with grouped cross-validation and
  * hard R² quality gates (ref: src/pm25ml/training/imputation_model_pipeline
  * .py:47-241, setup/training.py:68-139, training_full.py:11-91).
  *
  * The reference trains XGBoost/LightGBM; the engine uses MLlib's
  * `GBTRegressor` (the Spark-native estimator) with the hyperparameters
  * mapped, and keeps the reference's *acceptance contract* — mean CV R²
  * within declared bounds — rather than chasing bit-parity with another
  * library's trees (SURVEY.md §7 risk 4).
  *
  * Group k-fold: every group (50 km cell) lands in exactly one fold, so
  * spatially-correlated rows never straddle train/validation — fold =
  * xxhash64(group) mod k, deterministic and cluster-stable (no RNG state,
  * no collect of group lists).
  *
  * Training shape:
  *  - the feature vector is assembled ONCE, before the fold frame is
  *    cached, by a uid-free expression ([[assembled]]) that reproduces
  *    `VectorAssembler(handleInvalid = "keep")` value for value. A
  *    `VectorAssembler` renames each non-double input with its random
  *    uid and generated code quotes those names, so every call compiled
  *    fresh classes; the expression's code is the same on every call
  *    and hits Spark's codegen cache;
  *  - fold sizes come from one `groupBy(__fold).count()` job; a fold
  *    with an empty train or validation side is skipped, and with no
  *    usable fold `train` fails before any fit starts;
  *  - the usable fold fits (each with its validation R²) and the final
  *    fit (with its test R²) run concurrently on a driver thread pool of
  *    min(usable folds + 1, defaultParallelism) threads — Spark ML's
  *    `CrossValidator.setParallelism` pattern: one fit's small jobs
  *    leave most task slots idle, and the scheduler fills them with the
  *    other fits' tasks.
  *
  * Every fit reads the same cached partitions as it would alone, so fold
  * R², test R² and the trees are identical to fitting the folds one
  * after another (pinned in MlSpec). Fold scores keep fold order.
  */
object ImputationModel {

  /** Mapped subset of the reference's GBT hyperparameters
    * (ref: setup/training.py:68-139).
    */
  final case class Hyperparams(
      maxDepth: Int = 6,
      maxIter: Int = 50,
      stepSize: Double = 0.1,
      subsamplingRate: Double = 0.8,
      minInstancesPerNode: Int = 10,
      seed: Long = 42L)

  final case class CvMetrics(foldR2: Seq[Double], meanR2: Double, stdR2: Double)

  final case class Trained(model: GBTRegressionModel, features: Seq[String],
                           target: String, cv: CvMetrics, testR2: Double)

  final case class QualityGate(minR2: Double, maxR2: Double) {
    /** Hard assertion like the reference's
      * (ref: regression_model_predictor.py:104-130).
      */
    def check(meanR2: Double): Unit =
      require(meanR2 >= minR2 && meanR2 <= maxR2,
        f"mean CV R² $meanR2%.4f outside gate [$minR2, $maxR2]")
  }

  /** `df` plus `__features`: the `features` columns as one dense vector,
    * null → NaN and -0.0 → 0.0, value for value what
    * `VectorAssembler(handleInvalid = "keep")` yields over numeric
    * columns (its sparse form drops the sign of a zero), with the same
    * attribute metadata (so a fit reads the vector size from the schema
    * instead of a job) and no uid in the plan.
    */
  private[ml] def assembled(df: DataFrame, features: Seq[String]): DataFrame = {
    val attrs = features.map(f => NumericAttribute.defaultAttr.withName(f): Attribute)
    val meta = new AttributeGroup("__features", attrs.toArray).toMetadata()
    df.withColumn("__features", array_to_vector(array(features.map(c =>
      coalesce(col(c).cast("double") + 0.0, lit(Double.NaN))): _*)).as("__features", meta))
  }

  private def gbt(target: String, hp: Hyperparams) = new GBTRegressor()
    .setLabelCol(target)
    .setFeaturesCol("__features")
    .setMaxDepth(hp.maxDepth)
    .setMaxIter(hp.maxIter)
    .setStepSize(hp.stepSize)
    .setSubsamplingRate(hp.subsamplingRate)
    .setMinInstancesPerNode(hp.minInstancesPerNode)
    .setSeed(hp.seed)

  def r2(predictions: DataFrame, target: String): Double =
    new RegressionEvaluator()
      .setLabelCol(target).setPredictionCol("__prediction")
      .setMetricName("r2")
      .evaluate(predictions)

  /** Deterministic group fold assignment. */
  def withFold(df: DataFrame, groupCol: String, k: Int): DataFrame =
    df.withColumn("__fold", pmod(xxhash64(col(groupCol)), lit(k.toLong)).cast("int"))

  /** Grouped k-fold CV + final fit on all of `train`, evaluated on `test`.
    * Feature columns must be numeric; rows with null/NaN target are the
    * caller's to filter ([[graft.operators.Sampling.filterTargetPresent]]).
    *
    * `stratifyCol` switches fold assignment from hash-grouped folds to
    * [[StratifiedGroupKFold]] (the reference's full-model CV: stratify by
    * `grid__k_region`, group by `grid__id_50km` —
    * ref: training/full_model_pipeline.py:126-172).
    */
  def train(train: DataFrame, test: DataFrame, features: Seq[String],
            target: String, groupCol: String, k: Int = 10,
            hp: Hyperparams = Hyperparams(),
            stratifyCol: Option[String] = None): Trained = {
    val withFeatures = assembled(train, features)
    val folded = stratifyCol match {
      case Some(s) => StratifiedGroupKFold.withStratifiedFold(withFeatures, groupCol, s, k).cache()
      case None    => withFold(withFeatures, groupCol, k).cache()
    }
    try {
      val sizes = folded.groupBy("__fold").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val total = sizes.values.sum
      val usable = (0 until k).filter { f =>
        val n = sizes.getOrElse(f, 0L)
        n > 0 && n < total
      }
      require(usable.nonEmpty,
        s"no usable CV fold: fewer distinct $groupCol groups than folds " +
          s"produce non-empty train and validation splits (k=$k)")

      def fitAndScore(tr: DataFrame, va: DataFrame): (GBTRegressionModel, Double) = {
        val m = gbt(target, hp).setPredictionCol("__prediction").fit(tr)
        (m, r2(m.transform(va), target))
      }
      val fits = usable.map(f => () =>
        fitAndScore(folded.filter(col("__fold") =!= f), folded.filter(col("__fold") === f))
      ) :+ (() => fitAndScore(folded, assembled(test, features)))
      val threads = math.min(fits.size, train.sparkSession.sparkContext.defaultParallelism)
      val results = runConcurrently(fits, threads)

      val foldScores = results.init.map(_._2)
      val mean = foldScores.sum / foldScores.size
      val std = math.sqrt(
        foldScores.map(s => (s - mean) * (s - mean)).sum / foldScores.size)
      val (finalModel, testR2) = results.last
      Trained(finalModel, features, target, CvMetrics(foldScores, mean, std), testR2)
    } finally folded.unpersist()
  }

  /** Runs every task on a pool of `threads` daemon threads and returns
    * the results in task order. Waits for ALL tasks before returning or
    * throwing, so no task still reads cached data its caller is about to
    * release; a failure rethrows the first failed task's own exception
    * (in task order). Every pool thread has ended when this returns.
    */
  private def runConcurrently[A](tasks: Seq[() => A], threads: Int): Seq[A] = {
    val started = new CopyOnWriteArrayList[Thread]()
    val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(r, s"imputation-fit-${started.size + 1}")
      t.setDaemon(true)
      started.add(t)
      t
    })
    try {
      pool.invokeAll(tasks.map(t => (() => t()): Callable[A]).asJava).asScala.toSeq
        .map(f => try f.get() catch { case e: ExecutionException => throw e.getCause })
    } finally {
      pool.shutdownNow()
      started.forEach(t => t.join())
    }
  }

  /** Score a frame: adds `outCol` with the model's prediction. */
  def predict(df: DataFrame, trained: Trained, outCol: String): DataFrame = {
    trained.model.setPredictionCol("__prediction")
    trained.model.transform(assembled(df, trained.features))
      .withColumn(outCol, col("__prediction").cast("float"))
      .drop("__features", "__prediction")
  }
}
