package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact Spearman rank correlation — "do two scorers RANK the corpus
  * the same way": the scale-free agreement measure between quality
  * signals (a heuristic vs a learned classifier, two judges' scores)
  * that Pearson on raw values conflates with their marginal shapes.
  *
  * Spearman = Pearson over midranks. Midranks are computed exactly by
  * the [[Auc]] construction (per-value groups + an ordered prefix sum
  * over the DISTINCT-VALUE frame — value cardinality, not corpus
  * cardinality), DOUBLED so ties stay integers. All five sums
  * (Σx, Σy, Σxy, Σx², Σy²) accumulate as DECIMAL(38,0) — rank sums
  * grow as N³, past 64 bits around N ≈ 1.3M, and the decimal lane is
  * exact to 10³⁸ (DuckDB's HUGEINT mirror to 1.7·10³⁸). The
  * correlation is then the pinned
  * `(n·Σxy − Σx·Σy) / (√(n·Σx² − Σx²) · √(n·Σy² − Σy²))`
  * tree with the difference terms still EXACT (decimal arithmetic) and
  * only the final sqrt/divide in IEEE doubles — gate queries round per
  * the transcendental convention. Zero-variance sides (a constant
  * scorer) report NULL rather than 0/0.
  */
object Correlation {

  /** Doubled midrank (2·cum_before + cnt + 1, an exact BIGINT) per
    * DISTINCT value of `valueCol`: `(valueCol, __cnt, outCol)`.
    */
  private def midrank2Ranks(df: DataFrame, valueCol: String,
                            outCol: String): DataFrame = {
    val groups = df.groupBy(col(valueCol)).agg(count(lit(1)).as("__cnt"))
    // decomposed prefix sum: the distinct-value frame is not provably
    // bounded (a raw continuous score's distinct frame ≈ the corpus),
    // so no single-task Window.orderBy — see [[graft.operators.PrefixSum]]
    graft.operators.PrefixSum.exclusive(
        groups, Seq(col(valueCol)), col("__cnt"), "__cum")
      .select(col(valueCol), col("__cnt"),
        (col("__cum") * 2 + col("__cnt") + 1).as(outCol))
  }

  /** `a · b` over two BIGINT rank columns as an exact DECIMAL(38,0):
    * each factor is cast before the multiply, so the product never
    * passes through a 64-bit LONG (which wraps once a rank passes
    * ~3·10⁹, i.e. n ≈ 1.5·10⁹ rows).
    */
  private[ml] def exactProduct(a: Column, b: Column): Column =
    a.cast("decimal(38,0)") * b.cast("decimal(38,0)")

  /** One row: `(n, spearman)`; null x or y rows are excluded.
    *
    * Sufficient-statistics form (r14): the five rank sums are computed
    * from the per-distinct-value frames instead of joining midranks
    * back onto every row — rx depends only on x and ry only on y, so
    * Σrx = Σₓ rx·cnt(x) and Σrx² = Σₓ rx²·cnt(x) come from the x-group
    * frame, the y-moments from the y-group frame, and only the cross
    * term needs the joint distribution: Σ rx·ry over rows =
    * Σ_{(x,y)} rx·ry·cnt(x,y). The corpus is scanned three times
    * (cheap, checkpointed) but never carried through a join or a wide
    * decimal aggregation: all decimal arithmetic runs over the
    * distinct-value/pair frames. Every sum is an exact DECIMAL(38,0)
    * (addition is associative and commutative exactly), so the result
    * is bit-identical to the per-row form — pinned in CorrelationSpec.
    */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val rows = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).as("__x"), col(yCol).as("__y"))
      .localCheckpoint()
    val d = "decimal(38,0)"
    val rx = midrank2Ranks(rows, "__x", "rx")
    val ry = midrank2Ranks(rows, "__y", "ry")
    // per-side moments from the distinct-value frames, every product in
    // exact decimal. n = Σcnt — the same count the row-level agg produced,
    // coalesced so an empty input still yields the single (0, null) row.
    val xs = rx.agg(
      coalesce(sum(col("__cnt")), lit(0L)).as("n"),
      sum(exactProduct(col("rx"), col("__cnt"))).as("sx"),
      sum(exactProduct(col("rx"), col("rx")) * col("__cnt").cast(d)).as("sxx"))
    val ys = ry.agg(
      sum(exactProduct(col("ry"), col("__cnt"))).as("sy"),
      sum(exactProduct(col("ry"), col("ry")) * col("__cnt").cast(d)).as("syy"))
    // cross moment over the joint (x, y) distribution; the rank frames
    // are distinct-value-sized, so these joins never move the corpus
    val xys = rows.groupBy(col("__x"), col("__y"))
      .agg(count(lit(1)).as("__cxy"))
      .join(rx.select(col("__x"), col("rx")), Seq("__x"))
      .join(ry.select(col("__y"), col("ry")), Seq("__y"))
      .agg(sum(exactProduct(col("rx"), col("ry")) * col("__cxy").cast(d))
        .as("sxy"))
    val sums = xs.crossJoin(ys).crossJoin(xys)
    val num = (col("n").cast(d) * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val vx = (col("n").cast(d) * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val vy = (col("n").cast(d) * col("syy") - col("sy") * col("sy"))
      .cast("double")
    sums.select(col("n"),
      when(vx > 0 && vy > 0, num / (sqrt(vx) * sqrt(vy))).as("spearman"))
  }

  /** Per-group Spearman — "do the two scorers still agree INSIDE each
    * source/domain": the per-domain eval slice, mirroring
    * [[Auc.rocAucByGroup]]. Every step of the midrank construction is
    * keyed by `groupCols`: per-(group, value) counts, a prefix sum
    * PARTITIONED by group (no partition-less window at any value
    * cardinality — the grouped form never needs the [[
    * graft.operators.PrefixSum]] decomposition), rank re-attach joins
    * on (group, value), and one DECIMAL(38,0) rollup per group.
    * Groups with a constant side report NULL.
    */
  def spearmanByGroup(df: DataFrame, groupCols: Seq[String], xCol: String,
                      yCol: String): DataFrame = {
    require(groupCols.nonEmpty, "use spearman for the ungrouped form")
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val rows = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select((g :+ col(xCol).as("__x") :+ col(yCol).as("__y")): _*)
      .localCheckpoint()
    def midrank2(in: DataFrame, valueCol: String, outCol: String): DataFrame = {
      val keys = groupCols :+ valueCol
      val groups = in.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__cnt"))
      val w = Window.partitionBy(g: _*).orderBy(col(valueCol))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = groups
        .withColumn("__cum", coalesce(sum(col("__cnt")).over(w), lit(0L)))
        .select((keys.map(col) :+
          (col("__cum") * 2 + col("__cnt") + 1).as(outCol)): _*)
      in.join(ranked, keys)
    }
    val withRanks = midrank2(midrank2(rows, "__x", "rx"), "__y", "ry")
    val d = "decimal(38,0)"
    val sums = withRanks.groupBy(g: _*).agg(
      count(lit(1)).as("n"),
      sum(col("rx").cast(d)).as("sx"), sum(col("ry").cast(d)).as("sy"),
      sum(exactProduct(col("rx"), col("ry"))).as("sxy"),
      sum(exactProduct(col("rx"), col("rx"))).as("sxx"),
      sum(exactProduct(col("ry"), col("ry"))).as("syy"))
    val num = (col("n").cast(d) * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val vx = (col("n").cast(d) * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val vy = (col("n").cast(d) * col("syy") - col("sy") * col("sy"))
      .cast("double")
    sums.select((g :+ col("n") :+
      when(vx > 0 && vy > 0, num / (sqrt(vx) * sqrt(vy))).as("spearman")): _*)
  }

  /** DuckDB replay of [[spearmanByGroup]] for `rowsSql` yielding
    * `(groupCols…, x, y)`.
    */
  def groupedOracleSql(rowsSql: String, groupCols: Seq[String]): String = {
    val g = groupCols.mkString(", ")
    s"""WITH rows_in AS (SELECT $g, x, y FROM ($rowsSql)
         WHERE x IS NOT NULL AND y IS NOT NULL),
       gx AS (SELECT $g, x, COUNT(*) AS c FROM rows_in GROUP BY $g, x),
       rx AS (SELECT $g, x,
                2 * COALESCE(SUM(c) OVER (PARTITION BY $g ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + c + 1 AS rx
              FROM gx),
       gy AS (SELECT $g, y, COUNT(*) AS c FROM rows_in GROUP BY $g, y),
       ry AS (SELECT $g, y,
                2 * COALESCE(SUM(c) OVER (PARTITION BY $g ORDER BY y
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + c + 1 AS ry
              FROM gy),
       wr AS (SELECT r.*, rx.rx, ry.ry FROM rows_in r
              JOIN rx ON ${groupCols.map(c => s"rx.$c = r.$c").mkString(" AND ")}
                AND rx.x = r.x
              JOIN ry ON ${groupCols.map(c => s"ry.$c = r.$c").mkString(" AND ")}
                AND ry.y = r.y),
       s AS (SELECT $g, CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(CAST(rx AS HUGEINT)) AS sx,
               SUM(CAST(ry AS HUGEINT)) AS sy,
               SUM(CAST(rx AS HUGEINT) * ry) AS sxy,
               SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
               SUM(CAST(ry AS HUGEINT) * ry) AS syy
             FROM wr GROUP BY $g)
       SELECT $g, CAST(n AS BIGINT) AS n,
         CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
              THEN CAST(n * sxy - sx * sy AS DOUBLE)
                   / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                      * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
              END AS spearman
       FROM s"""
  }

  /** DuckDB replay of [[spearman]] for `rowsSql` yielding (x, y). */
  def oracleSql(rowsSql: String): String =
    s"""WITH rows_in AS (SELECT x, y FROM ($rowsSql)
         WHERE x IS NOT NULL AND y IS NOT NULL),
       gx AS (SELECT x, COUNT(*) AS c FROM rows_in GROUP BY x),
       rx AS (SELECT x,
                2 * COALESCE(SUM(c) OVER (ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + c + 1 AS rx
              FROM gx),
       gy AS (SELECT y, COUNT(*) AS c FROM rows_in GROUP BY y),
       ry AS (SELECT y,
                2 * COALESCE(SUM(c) OVER (ORDER BY y
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + c + 1 AS ry
              FROM gy),
       wr AS (SELECT rx.rx, ry.ry FROM rows_in r
              JOIN rx ON rx.x = r.x JOIN ry ON ry.y = r.y),
       s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(CAST(rx AS HUGEINT)) AS sx,
               SUM(CAST(ry AS HUGEINT)) AS sy,
               SUM(CAST(rx AS HUGEINT) * ry) AS sxy,
               SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
               SUM(CAST(ry AS HUGEINT) * ry) AS syy
             FROM wr)
       SELECT CAST(n AS BIGINT) AS n,
         CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
              THEN CAST(n * sxy - sx * sy AS DOUBLE)
                   / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                      * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
              END AS spearman
       FROM s"""
}
