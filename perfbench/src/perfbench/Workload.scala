package perfbench

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** One benchmark workload: inputs made from the seed, one pass of the
  * program over them, and the checks a correct pass must satisfy.
  */
trait Workload {
  /** Cell-days or documents one pass completes. */
  def items: Long

  /** Untimed: writes the pass inputs under `dir`. */
  def setup(dir: String): Unit

  /** One pass over the inputs in `in`, writing under `root` or into
    * the directory its result names as output. The result checks the
    * pass's outputs (untimed); both directories are deleted after it.
    */
  def pass(in: String, root: String, tracer: Tracer): Pass

  /** Per-layer counts a traced pass adds to its span metrics. */
  def counters(pass: Pass): Map[String, Double] = Map.empty

  /** Drops the catalog tables a pass registered. */
  def cleanup(pass: Pass): Unit = ()
}

/** What one pass leaves for its checks: `check` returns the failed
  * checks (empty when the pass is correct).
  */
trait Pass {
  /** Where the pass's output lives; its bytes are `output_mb`. */
  def outputDir: String
  def check(): Seq[String]
}

/** Seeded pseudo-random values, in plain Scala and as Spark columns. */
object Gen {
  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, keys: Long*): Long =
    keys.foldLeft(mix(seed))((h, k) => mix(h ^ k))

  /** Uniform in [0, 1) from the seed and keys. */
  def u01(seed: Long, keys: Long*): Double =
    (hash(seed, keys: _*) >>> 11) * (1.0 / (1L << 53))

  /** Uniform in [0, 1) per row, from the seed, a stream tag and columns. */
  def u01Col(seed: Long, stream: Int, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(stream) +: keys): _*), lit(1L << 24))
      .cast("double") / (1L << 24).toDouble
}
