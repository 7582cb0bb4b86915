package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{StageRef, StageStorage}
import graft.features.FeatureGenerator
import graft.ml.{ImputationModel, ModelStore}
import graft.operators.CombinePlanner
import graft.pipeline.Pm25Pipeline

/** One production month through every `Pm25Pipeline` stage, combine to
  * the NetCDF output, on a `cells`-cell grid laid out row-major
  * `width` cells wide like the production grid (33,074 cells, 182 wide,
  * 50 cells of the last row off the grid).
  *
  * Inputs: ERA5 temperature is a plane over (x, y) plus a daily drift
  * with ~12% of cell-days missing, so spatial imputation has work and
  * its interior results are exact; the AOD target is a smooth function
  * of elevation and day, so the imputation model has signal to fit.
  */
final class MonthE2e(spark: SparkSession, seed: Long, cells: Int) extends Workload {
  import MonthE2e._

  private val width = math.ceil(math.sqrt(cells.toDouble)).toInt
  private val height = (cells + width - 1) / width
  private val offGrid = width * height - cells
  private val days = 31
  private val month = "2023-01"

  private val t0 = 275.0 + 10 * Gen.u01(seed, 1)
  private val tx = (1 + Gen.u01(seed, 2)) * 1e-5
  private val ty = (1 + Gen.u01(seed, 3)) * 1e-5
  private val tDay = 0.05 + 0.1 * Gen.u01(seed, 4)

  def items: Long = cells.toLong * days

  private def px(id: Column) = (id % width) * 10000.0
  private def py(id: Column) = floor(id / width) * 10000.0

  private def plane(id: Column, day: Column) =
    lit(t0) + px(id) * tx + py(id) * ty + day * tDay

  private def grid: DataFrame =
    spark.range(cells.toLong).select(col("id").as("grid_id"),
      px(col("id")).as("original_x"), py(col("id")).as("original_y"))

  def setup(dir: String): Unit = {
    val base = spark.range(cells.toLong * days).select(
      (col("id") % cells).as("grid_id"),
      (floor(col("id") / cells) + 1).cast("int").as("day"))
      .withColumn("date", format_string("2023-01-%02d", col("day")))
    val missing = Gen.u01Col(seed, 1, col("grid_id"), col("day")) < 0.12
    base.select(col("grid_id"), col("date"),
        when(missing, lit(null)).otherwise(plane(col("grid_id"), col("day")))
          .as("temperature_2m"))
      .write.parquet(s"$dir/era5_land")
    base.select(col("grid_id"), col("date"),
        (lit(0.2) + elevation(col("grid_id")) * 8e-4 + col("day") * 0.01 +
          Gen.u01Col(seed, 2, col("grid_id"), col("day")) * 0.02).as("aot"))
      .write.parquet(s"$dir/merra_aot")
    spark.range(cells.toLong).select(col("id").as("grid_id"),
        elevation(col("id")).as("elevation"))
      .write.parquet(s"$dir/srtm")
    spark.range(cells.toLong).select(col("id").as("grid_id"),
        (floor((col("id") % width) / 4) + floor(col("id") / (width * 4)) * 1000)
          .as("id_50km"),
        (floor(col("id") / width) * 0.09 + 8.0).as("lat"),
        ((col("id") % width) * 0.09 + 68.0).as("lon"))
      .write.parquet(s"$dir/grid")
  }

  private def elevation(id: Column) =
    lit(100.0) + Gen.u01Col(seed, 3, id) * 900.0

  def pass(in: String, root: String, tr: Tracer): Pass = {
    val storage = new StageStorage(spark, root)
    val pipe = new Pm25Pipeline(spark, storage, grid, cells.toLong)
    val months = Seq(month)
    val specs = Seq(
      CombinePlanner.DatasetSpec("era5_land", CombinePlanner.Monthly),
      CombinePlanner.DatasetSpec("merra_aot", CombinePlanner.Monthly),
      CombinePlanner.DatasetSpec("srtm", CombinePlanner.Static),
      CombinePlanner.DatasetSpec("grid", CombinePlanner.Static))
    val available = Map("era5_land" -> months, "merra_aot" -> months,
      "srtm" -> Seq("static"), "grid" -> Seq("static"))
    tr.span("combine") {
      pipe.runCombine(months, specs, available,
        (name, _) => spark.read.parquet(s"$in/$name"))
    }
    tr.span("spatial_impute") { pipe.runSpatialImpute(months, "^era5_land__.*$") }
    tr.span("recombine") { pipe.runRecombine(months) }
    tr.span("feature_gen") {
      pipe.runGenerateFeatures(Seq(2023), FeatureGenerator.Config(
        baseColumns = Seq("merra_aot__aot", "era5_land__temperature_2m")))
    }
    val gate = ImputationModel.QualityGate(MinR2, 1.0)
    val hp = ImputationModel.Hyperparams(maxDepth = 3, maxIter = 3)
    tr.span("sample") { pipe.runSample("aod", "merra_aot__aot", fraction = 0.05) }
    val store = new ModelStore(spark, s"$root/models")
    val trained = tr.span("train") {
      pipe.runTrain(store, "aod", Features, "merra_aot__aot", gate, hp, k = 2)
    }
    tr.span("impute") { pipe.runImpute("aod", trained, "merra_aot__aot") }
    tr.span("recombine_imputed") { pipe.runRecombineImputed(months, Seq("aod")) }
    tr.span("full_sample") {
      pipe.runFullModelSample("merra_aot__aot__imputed", fraction = 0.05,
        imputedModels = Seq("aod"))
    }
    val full = tr.span("full_train") {
      pipe.trainFromSample(
        spark.read.parquet(storage.stagePath(StageRef("full_model_sample"))),
        Features, "merra_aot__aot__imputed", gate, hp, k = 2)
    }
    tr.span("final_predict") { pipe.runFinalPredict(full, "pm25") }
    tr.span("outputs") { pipe.runOutputs(months, "pm25__predicted", s"$root/raster") }

    new Pass {
      def outputDir: String = root
      def check(): Seq[String] =
        rowCounts(storage) ++ interiorPlane(storage) ++
          Seq(trained, full).collect {
            case t if !(t.cv.meanR2 >= MinR2) =>
              s"${t.target}: CV R² ${t.cv.meanR2} below $MinR2"
          } ++ cube(s"$root/raster")
    }
  }

  private def rowCounts(storage: StageStorage): Seq[String] =
    Seq(Pm25Pipeline.CombinedMonthly, Pm25Pipeline.Era5SpatiallyImputed,
        Pm25Pipeline.CombinedWithSpatial, Pm25Pipeline.GeneratedFeatures,
        StageRef("imputed", Some("aod")), StageRef("imputed"),
        Pm25Pipeline.FinalPrediction).flatMap { ref =>
      val n = storage.rowCount(ref, month)
      if (n == items) None else Some(s"stage ${ref.name}: $n rows, expected $items")
    }

  /** Interior cells (two cells in from every edge, so inside the hull of
    * the observed cells on every day) must sit on the generator's plane,
    * the imputed ones included.
    */
  private def interiorPlane(storage: StageStorage): Seq[String] = {
    val v = col("era5_land__temperature_2m")
    val id = col("grid_id")
    val x = id % width
    val y = floor(id / width)
    val interior = storage.readMonth(Pm25Pipeline.Era5SpatiallyImputed, month)
      .filter(x.between(2, width - 3) && y.between(2, height - 3))
      .withColumn("plane", plane(id, dayofmonth(to_date(col("date")))))
    val row = interior.agg(count(lit(1)),
      sum(when(v.isNull || abs(v - col("plane")) > abs(col("plane")) * 1e-6, 1)
        .otherwise(0))).head()
    val expected = (width - 4).toLong * (height - 4) * days
    val bad = if (row.isNullAt(1)) 0L else row.getLong(1)
    if (row.getLong(0) != expected)
      Seq(s"spatial impute: ${row.getLong(0)} interior cell-days, expected $expected")
    else if (bad != 0) Seq(s"spatial impute: $bad interior cell-days off the plane")
    else Nil
  }

  /** The cube is days × height × width; NaN exactly on the off-grid cells. */
  private def cube(dir: String): Seq[String] = {
    val df = spark.read.parquet(s"$dir/data.parquet")
    val nan = isnan(col("value"))
    val cellId = round(col("y") / 10000.0) * width + round(col("x") / 10000.0)
    val r = df.agg(count(lit(1)), countDistinct(col("time")),
      sum(when(nan, 1).otherwise(0)),
      sum(when(nan && cellId < cells, 1).otherwise(0)),
      sum(when(col("value").isNull, 1).otherwise(0))).head()
    val nc = new java.io.File(s"$dir/pm25.nc")
    Seq(
      (r.getLong(0) == days.toLong * height * width,
        s"cube: ${r.getLong(0)} values, expected $days × $height × $width"),
      (r.getLong(1) == days, s"cube: ${r.getLong(1)} time steps"),
      (r.getLong(2) == days.toLong * offGrid,
        s"cube: ${r.getLong(2)} NaN values, expected ${days.toLong * offGrid}"),
      (r.getLong(3) == 0, s"cube: ${r.getLong(3)} NaN values on grid cells"),
      (r.getLong(4) == 0, s"cube: ${r.getLong(4)} null values"),
      (nc.length() > 0, "cube: no NetCDF file")
    ).collect { case (false, msg) => msg }
  }
}

object MonthE2e {
  val Spans: Seq[String] = Seq("combine", "spatial_impute", "recombine",
    "feature_gen", "sample", "train", "impute", "recombine_imputed",
    "full_sample", "full_train", "final_predict", "outputs")
  val Features: Seq[String] = Seq("era5_land__temperature_2m", "day_of_year",
    "srtm__elevation")
  /** CV R² gate of both models; the generator's AOD is a smooth function
    * of the features, so a correct fit clears it on every seed.
    */
  val MinR2 = 0.6
}
