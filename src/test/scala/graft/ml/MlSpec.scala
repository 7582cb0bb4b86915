package graft.ml

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TestSpark

class MlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // learnable synthetic target: y = 3*x1 - 2*x2 + small deterministic noise
  private def synth(n: Int) = {
    val rnd = new scala.util.Random(42)
    (1 to n).map { i =>
      val x1 = rnd.nextDouble() * 10
      val x2 = rnd.nextDouble() * 10
      val y = 3 * x1 - 2 * x2 + rnd.nextGaussian() * 0.1
      (i.toLong, (i % 20).toLong, x1, x2, y)
    }.toDF("id", "group50km", "x1", "x2", "y")
  }

  test("grouped CV train reaches high R² and respects fold grouping") {
    val df = synth(2000)
    val trained = ImputationModel.train(
      df.filter(col("id") % 5 =!= 0), df.filter(col("id") % 5 === 0),
      features = Seq("x1", "x2"), target = "y", groupCol = "group50km",
      k = 5, ImputationModel.Hyperparams(maxIter = 20))
    assert(trained.cv.meanR2 > 0.9, s"cv=${trained.cv.meanR2}")
    assert(trained.testR2 > 0.9, s"test=${trained.testR2}")
    // every group hashes to exactly one fold
    val folds = ImputationModel.withFold(df, "group50km", 5)
      .groupBy("group50km").agg(countDistinct("__fold").as("nf"))
      .select(max("nf")).as[Long].head()
    assert(folds === 1L)
    // quality gate: passes in range, throws outside
    ImputationModel.QualityGate(0.8, 1.0).check(trained.cv.meanR2)
    assertThrows[IllegalArgumentException] {
      ImputationModel.QualityGate(0.99999, 1.0).check(0.5)
    }
  }

  test("stratified group k-fold: disjoint groups, balanced strata, stable") {
    // 60 groups across 3 strata with skewed sizes: stratum A groups are
    // 4× bigger than C's, so naive hash folds would imbalance strata.
    val rows = (0 until 60).flatMap { g =>
      val stratum = g % 3
      val size = Seq(40, 20, 10)(stratum)
      (0 until size).map(i => (g.toLong, s"region_$stratum", g * 1000L + i))
    }
    val df = rows.toDF("group50km", "k_region", "id")

    val folded = StratifiedGroupKFold.withStratifiedFold(df, "group50km", "k_region", 5)
    // grouping contract: every group in exactly one fold
    val nf = folded.groupBy("group50km").agg(countDistinct("__fold").as("nf"))
      .select(max("nf")).as[Long].head()
    assert(nf === 1L)
    // all rows kept, all folds used
    assert(folded.count() === rows.size.toLong)
    assert(folded.select(countDistinct("__fold")).as[Long].head() === 5L)

    // stratification contract: each fold's per-stratum row share is close
    // to the global share (each stratum splits ~evenly across 5 folds)
    val shares = folded.groupBy("k_region", "__fold").count()
      .groupBy("k_region").agg(
        (max("count") - min("count")).cast("double").as("spread"),
        avg("count").as("m"))
      .select((col("spread") / col("m")).as("rel")).as[Double].collect()
    assert(shares.forall(_ <= 0.55), s"per-stratum fold spread too wide: ${shares.toSeq}")

    // determinism: identical folds regardless of partition layout — the
    // distributed count agg collects in layout-dependent order, which
    // must not leak into the greedy assignment (advisor round-2 finding)
    val first = StratifiedGroupKFold.groupFolds(df, "group50km", "k_region", 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val again = StratifiedGroupKFold
      .groupFolds(df.repartition(7, col("id")), "group50km", "k_region", 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val third = StratifiedGroupKFold
      .groupFolds(df.repartition(1).sortWithinPartitions(col("id").desc),
        "group50km", "k_region", 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again === first)
    assert(third === first)
  }

  test("stratified CV wired through ImputationModel.train") {
    val df = synth(1500).withColumn("k_region",
      concat(lit("r"), (col("group50km") % 4).cast("string")))
    val trained = ImputationModel.train(
      df.filter(col("id") % 5 =!= 0), df.filter(col("id") % 5 === 0),
      features = Seq("x1", "x2"), target = "y", groupCol = "group50km",
      k = 4, ImputationModel.Hyperparams(maxIter = 10),
      stratifyCol = Some("k_region"))
    assert(trained.cv.foldR2.size === 4)
    assert(trained.cv.meanR2 > 0.85, s"cv=${trained.cv.meanR2}")
  }

  test("predictor stats columns (K7) incl. per-date share and rolling") {
    val df = Seq(
      (1L, "2023-01-01", Some(10.0), 11.0f),
      (1L, "2023-01-02", None, 12.0f),      // imputed
      (1L, "2023-01-03", Some(14.0), 13.0f),
      (2L, "2023-01-01", None, 20.0f),      // imputed
      (2L, "2023-01-02", Some(21.0), 22.0f),
      (2L, "2023-01-03", Some(23.0), 24.0f)
    ).toDF("grid_id", "date", "aod", "pred")
    val out = PredictorStats.attach(df, "aod", "pred", meanCvR2 = 0.85)
      .orderBy("grid_id", "date").collect()

    def f(r: org.apache.spark.sql.Row, c: String) = r.getAs[Float](c)
    val r12 = out(1) // grid 1, day 2 (imputed)
    assert(r12.getAs[Int]("aod__imputed_flag") === 1)
    assert(f(r12, "aod__imputed") === 12.0f)
    assert(math.abs(f(r12, "aod__score") - 12.0f * 0.85f) < 1e-4)
    val r11 = out(0) // grid 1 day 1 (original)
    assert(r11.getAs[Int]("aod__imputed_flag") === 0)
    assert(f(r11, "aod__imputed") === 10.0f)
    assert(f(r11, "aod__score") === 10.0f)
    // share imputed on 01-01: grids {1:orig, 2:imputed} → 0.5
    assert(f(r11, "aod__share_imputed_across_all_grids") === 0.5f)
    // rolling 7d of __imputed for grid 1 day 3: mean(10, 12, 14)
    assert(math.abs(f(out(2), "aod__imputed_r7d") - 12.0f) < 1e-4)
  }

  // W5 golden — the reference predicts month-at-a-time and hand-carries
  // the previous month into the 7-day rolling window (concat previous +
  // current, sort, rolling_mean(7, min_samples=1) over grid_id, filter
  // current — ref: imputation/from_model/regression_model_predictor.py:
  // 187-229). Over a multi-month frame the same carry must fall out of
  // the plain window: the first days of February average the January tail.
  test("W5: rolling imputed mean carries across the month boundary") {
    // grid 1, Jan 26–31 then Feb 1–3; values 10,20,...,90; target present
    // only on Jan 28 (value 30) — everything else imputed from pred.
    val days = Seq(
      "2023-01-26", "2023-01-27", "2023-01-28", "2023-01-29", "2023-01-30",
      "2023-01-31", "2023-02-01", "2023-02-02", "2023-02-03")
    val df = days.zipWithIndex.map { case (d, i) =>
      val v = (i + 1) * 10.0
      (1L, d, if (d == "2023-01-28") Some(v) else None, v.toFloat)
    }.toDF("grid_id", "date", "aod", "pred")
    val out = PredictorStats.attach(df, "aod", "pred", meanCvR2 = 1.0)
      .orderBy("date").collect()
    def r7d(i: Int) = out(i).getAs[Float]("aod__imputed_r7d")
    // Feb 1 (index 6): full 7-row window Jan 26..Feb 1 → mean(10..70) = 40
    assert(math.abs(r7d(6) - 40.0f) < 1e-4)
    // Feb 2: Jan 27..Feb 2 → mean(20..80) = 50
    assert(math.abs(r7d(7) - 50.0f) < 1e-4)
    // Feb 3: Jan 28..Feb 3 → mean(30..90) = 60
    assert(math.abs(r7d(8) - 60.0f) < 1e-4)
    // min_samples=1 at the head: Jan 26 window is just itself
    assert(math.abs(r7d(0) - 10.0f) < 1e-4)
    // and Jan 31: 6-row partial window mean(10..60) = 35
    assert(math.abs(r7d(5) - 35.0f) < 1e-4)
  }

  test("model store: save, latest-run resolution, round-trip load") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-models").toString
    val store = new ModelStore(spark, tmp)
    val df = synth(300)
    val trained = ImputationModel.train(df, df, Seq("x1", "x2"), "y",
      "group50km", k = 3, ImputationModel.Hyperparams(maxIter = 5))
    store.save("aod", "2023-01-01+00-00-00", trained)
    store.save("aod", "2023-06-01+00-00-00", trained)
    assert(store.latestRun("aod") === Some("2023-06-01+00-00-00"))
    assert(store.latestRun("nope") === None)
    val loaded = store.loadModel("aod", "2023-06-01+00-00-00")
    assert(loaded.getNumTrees === trained.model.getNumTrees)
    assert(store.loadMetricsJson("aod", "2023-06-01+00-00-00").contains("mean_r2"))
    // reference layout parity: per-fold cv_results.parquet sidecar
    // (ref: training/model_storage.py:113-120)
    val cv = store.loadCvResults("aod", "2023-06-01+00-00-00")
    assert(cv.columns.toSeq === Seq("fold", "r2"))
    assert(cv.count() === trained.cv.foldR2.size)
    val stored = cv.orderBy("fold").collect().map(_.getDouble(1)).toSeq
    assert(stored === trained.cv.foldR2)
  }

  /** The one-fit-at-a-time form of [[ImputationModel.train]]: folds
    * fitted in order over a `VectorAssembler(handleInvalid = "keep")`
    * applied per fit, each fold probed for emptiness on its own.
    */
  private def sequentialTrain(train: DataFrame, test: DataFrame,
                              features: Seq[String], target: String,
                              groupCol: String, k: Int,
                              hp: ImputationModel.Hyperparams,
                              stratifyCol: Option[String])
      : (Seq[Double], Double, GBTRegressionModel) = {
    val asm = new VectorAssembler().setInputCols(features.toArray)
      .setOutputCol("__features").setHandleInvalid("keep")
    val est = new GBTRegressor().setLabelCol(target)
      .setFeaturesCol("__features").setPredictionCol("__prediction")
      .setMaxDepth(hp.maxDepth).setMaxIter(hp.maxIter)
      .setStepSize(hp.stepSize).setSubsamplingRate(hp.subsamplingRate)
      .setMinInstancesPerNode(hp.minInstancesPerNode).setSeed(hp.seed)
    val folded = (stratifyCol match {
      case Some(s) => StratifiedGroupKFold.withStratifiedFold(train, groupCol, s, k)
      case None    => ImputationModel.withFold(train, groupCol, k)
    }).cache()
    try {
      val scores = (0 until k).flatMap { f =>
        val tr = folded.filter(col("__fold") =!= f)
        val va = folded.filter(col("__fold") === f)
        if (va.isEmpty || tr.isEmpty) None
        else Some(ImputationModel.r2(
          est.fit(asm.transform(tr)).transform(asm.transform(va)), target))
      }
      val model = est.fit(asm.transform(folded))
      (scores, ImputationModel.r2(model.transform(asm.transform(test)), target), model)
    } finally folded.unpersist()
  }

  /** synth plus an int and a float feature (a fit rejects NaN features,
    * so nulls and NaNs are the assembly spec's). */
  private def synthMixed(n: Int) = synth(n)
    .withColumn("xi", (col("id") % 13).cast("int"))
    .withColumn("xf", (col("x1") - col("x2")).cast("float"))
    .withColumn("k_region", concat(lit("r"), (col("group50km") % 3).cast("string")))

  private def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToLongBits)

  private def treesOf(m: GBTRegressionModel) =
    m.toDebugString.linesIterator.drop(1).toList // line 1 carries the uid

  test("concurrent train is bit-identical to the sequential assembler path") {
    val df = synthMixed(900)
    val tr = df.filter(col("id") % 5 =!= 0)
    val te = df.filter(col("id") % 5 === 0)
    val features = Seq("x1", "x2", "xi", "xf")
    val hp = ImputationModel.Hyperparams(maxIter = 5, maxDepth = 4)
    for (strat <- Seq(None, Some("k_region"))) {
      val got = ImputationModel.train(tr, te, features, "y", "group50km",
        k = 4, hp, stratifyCol = strat)
      val (folds, testR2, model) =
        sequentialTrain(tr, te, features, "y", "group50km", 4, hp, strat)
      assert(folds.size === 4, s"$strat")
      assert(bits(got.cv.foldR2) === bits(folds), s"$strat fold R² (in fold order)")
      assert(bits(Seq(got.testR2)) === bits(Seq(testR2)), s"$strat test R²")
      assert(treesOf(got.model) === treesOf(model), s"$strat trees")
    }
  }

  test("uid-free assembly equals VectorAssembler keep; predict reuses its code") {
    val df = Seq[(Long, Option[Int], Option[Double], Option[Float], Long)](
      (1L, Some(3), Some(1.5), Some(2.5f), 7L),
      (2L, None, Some(Double.NaN), None, 0L),
      (3L, Some(-4), None, Some(Float.NaN), -2L),
      (4L, Some(0), Some(-0.0), Some(1e-3f), Long.MaxValue),
      (5L, None, None, None, 1L)
    ).toDF("id", "i", "d", "f", "l")
    val features = Seq("i", "d", "f", "l")
    def vectors(out: DataFrame) = out.orderBy("id").select("__features")
      .collect().map(_.getAs[Vector](0).toArray.toSeq).toSeq
    val ours = vectors(ImputationModel.assembled(df, features))
    val ref = vectors(new VectorAssembler().setInputCols(features.toArray)
      .setOutputCol("__features").setHandleInvalid("keep").transform(df))
    assert(ours.map(bits) === ref.map(bits))

    // repartitioned, so the optimizer cannot fold the projections into a
    // local relation and the plan goes through generated code; the int
    // and float features are the ones VectorAssembler renames with its uid
    val data = synthMixed(400).repartition(2)
    val trained = ImputationModel.train(data, data, Seq("x1", "xi", "xf"), "y",
      "group50km", k = 2, ImputationModel.Hyperparams(maxIter = 3))
    ImputationModel.predict(data, trained, "p").collect()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    ImputationModel.predict(data, trained, "p").collect()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles === 0L)
  }

  test("train edge cases: empty folds skipped, no usable fold, failing fit") {
    // 3 groups over 10 folds: the empty folds are skipped, as are none
    // of the populated ones
    val few = synth(600).withColumn("group50km", col("group50km") % 3)
    val populated = ImputationModel.withFold(few, "group50km", 10)
      .select(countDistinct("__fold")).as[Long].head()
    assume(populated >= 2L)
    val trained = ImputationModel.train(few, few, Seq("x1", "x2"), "y",
      "group50km", k = 10, ImputationModel.Hyperparams(maxIter = 3))
    assert(trained.cv.foldR2.size.toLong === populated)

    // one group: no usable fold, and the check runs before any fit — the
    // string label would fail the first fit with a different message
    val stringLabel = synth(200).withColumn("y", col("y").cast("string"))
    val noFold = intercept[IllegalArgumentException] {
      ImputationModel.train(stringLabel.withColumn("group50km", lit(1L)),
        stringLabel, Seq("x1", "x2"), "y", "group50km", k = 4)
    }
    assert(noFold.getMessage.contains("no usable CV fold"), noFold.getMessage)

    // a fit that throws: train rethrows its exception, leaves no fit
    // thread alive and releases the fold cache
    def fitThreads = Thread.getAllStackTraces.keySet.toArray
      .map(_.asInstanceOf[Thread]).filter(_.getName.startsWith("imputation-fit-"))
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val fitError = intercept[IllegalArgumentException] {
      ImputationModel.train(stringLabel, stringLabel, Seq("x1", "x2"), "y",
        "group50km", k = 4)
    }
    assert(fitError.getMessage.contains("numeric"), fitError.getMessage)
    assert(fitThreads.isEmpty, fitThreads.map(_.getName).toSeq)
    assert(spark.sparkContext.getPersistentRDDs.size === persisted)
  }
}
