package graft.ml

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class CorrelationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(rows: Seq[(Long, Long)], parts: Int = 3)
      : org.apache.spark.sql.Row =
    Correlation.spearman(rows.toDF("x", "y").repartition(parts), "x", "y")
      .head()

  /** Reference Spearman: Pearson over midranks, straight doubles. */
  private def ref(rows: Seq[(Long, Long)]): Double = {
    def mid(vs: Seq[Long]): Map[Long, Double] = {
      val sorted = vs.sorted
      vs.distinct.map { v =>
        val first = sorted.indexOf(v) + 1
        val last = sorted.lastIndexOf(v) + 1
        v -> (first + last) / 2.0
      }.toMap
    }
    val mx = mid(rows.map(_._1)); val my = mid(rows.map(_._2))
    val xs = rows.map(r => mx(r._1)); val ys = rows.map(r => my(r._2))
    val n = rows.size.toDouble
    val sx = xs.sum; val sy = ys.sum
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val sxx = xs.map(a => a * a).sum; val syy = ys.map(a => a * a).sum
    (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
  }

  test("monotone data is 1; reversed is -1; constant side is NULL") {
    val mono = (1L to 20L).map(i => (i, i * 7 + 3))
    assert(run(mono).getAs[Double]("spearman") === 1.0)
    val rev = (1L to 20L).map(i => (i, 100L - i))
    assert(run(rev).getAs[Double]("spearman") === -1.0)
    val const = (1L to 10L).map(i => (i, 5L))
    val r = run(const)
    assert(r.isNullAt(r.fieldIndex("spearman")))
  }

  test("tied ranks match the midrank reference within 1e-12") {
    val rows = Seq((1L, 10L), (2L, 10L), (2L, 30L), (3L, 20L), (4L, 20L),
      (4L, 40L), (5L, 50L), (5L, 50L))
    val got = run(rows).getAs[Double]("spearman")
    assert(math.abs(got - ref(rows)) < 1e-12, s"got $got want ${ref(rows)}")
  }

  test("pseudo-random data matches the reference; layout-invariant") {
    val rows = (1 to 500).map { i =>
      val h = i * 2654435761L
      ((h >>> 8) % 60, ((h >>> 8) % 60 + (h >>> 40) % 25))
    }
    val want = ref(rows)
    val a = run(rows, parts = 1).getAs[Double]("spearman")
    val b = run(rows.reverse, parts = 17).getAs[Double]("spearman")
    assert(math.abs(a - want) < 1e-12)
    assert(a === b)
  }

  test("grouped spearman equals the per-group filtered global computation") {
    val rows = (1 to 600).map { i =>
      val g = s"g${i % 5}"
      (g, ((i * 37) % 83).toLong, ((i * 53 + (i % 5) * 7) % 61).toLong)
    }
    val df = rows.toDF("g", "x", "y").repartition(9)
    val grouped = Correlation.spearmanByGroup(df, Seq("g"), "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getAs[Double]("spearman")))).toMap
    (0 until 5).map(i => s"g$i").foreach { g =>
      val solo = Correlation
        .spearman(df.filter(org.apache.spark.sql.functions.col("g") === g),
          "x", "y").head()
      assert(grouped(g)._1 === solo.getAs[Long]("n"), s"n for $g")
      assert(grouped(g)._2 === solo.getAs[Double]("spearman"),
        s"spearman for $g")
    }
    // a constant side inside ONE group nulls only that group
    val withConst = rows.map { case (g, x, y) =>
      if (g == "g0") (g, x, 7L) else (g, x, y) }
    val gc = Correlation.spearmanByGroup(
        withConst.toDF("g", "x", "y"), Seq("g"), "x", "y")
      .collect().map(r => r.getString(0) ->
        Option(r.getAs[java.lang.Double]("spearman"))).toMap
    assert(gc("g0") === None)
    assert(gc("g1").isDefined)
  }

  test("rank products are exact past the 64-bit range") {
    // ranks of ~4·10⁹ (n ≈ 2·10⁹ rows): their product passes
    // Long.MaxValue ≈ 9.2·10¹⁸, where a LONG multiply wraps
    val a = 4000000001L
    val b = 3999999999L
    val got = spark.range(1)
      .select(Correlation.exactProduct(lit(a), lit(b)).as("p"),
        Correlation.exactProduct(lit(a), lit(a)).as("sq"))
      .head()
    assert(BigDecimal(got.getDecimal(0)) === BigDecimal(a) * BigDecimal(b))
    assert(BigDecimal(got.getDecimal(1)) === BigDecimal(a) * BigDecimal(a))
    assert(BigDecimal(a) * BigDecimal(b) > BigDecimal(Long.MaxValue))
  }
}
