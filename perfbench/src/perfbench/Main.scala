package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Runs one workload on one closed-loop client: untimed setup (repeated,
  * its median is `setup_s`), a warm-up pass on the same input as the
  * timed passes, then timed passes for the requested seconds (at least
  * one); the end-to-end metrics are their medians. Every pass's outputs
  * are checked; a pass that throws or fails a check counts as failed.
  * Prints one JSON result line.
  *
  * With tracing on, timed passes alternate untraced and traced; the
  * per-span metrics are medians over the traced passes, and the tracing
  * overhead is the traced minus the untraced median wall time. Each
  * traced pass follows an untraced one, so JIT warm-up still in progress
  * biases that difference down; `trace.listener_s`, the time the
  * listener spends on events, is the direct cost.
  */
object Main {

  /** Workload sizes. The benchmark's budget is 22 runs of each workload
    * (setup, a warm-up pass and a timed pass each) in under an hour. The
    * warm-up pass runs at full size: a pass after a smaller warm-up still
    * generates and JIT-compiles the code of the plans that only the full
    * size chooses, and its time then swings with how busy the cores are.
    */
  val MonthCells = 2975
  val DedupDocs = 64000

  val Setups = 3
  val WarmupPasses = 1

  /** Spark keeps 100 generated classes by default, fewer than one pass
    * generates (~250 for `month_e2e`, ~155 for `dedup_corpus`), so every
    * pass would compile them all again and time Janino and HotSpot rather
    * than the program. The cap changes no plan.
    */
  val CodegenCacheEntries = 4000

  val EndToEnd: Seq[(String, String)] = Seq("items_per_s" -> "1/s",
    "wall_s" -> "s", "cpu_s" -> "s", "retained_heap_mb" -> "MB",
    "output_mb" -> "MB", "setup_s" -> "s")

  /** Every span of every workload, so every traced run prints one name set. */
  val AllSpans: Seq[String] = MonthE2e.Spans ++ DedupCorpus.Spans

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, scratch: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--scratch"))
  }

  final case class Sample(wall: Double, cpu: Double, heapMb: Double,
                          outMb: Double, traced: Boolean,
                          spans: Map[String, Double], ok: Boolean)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.core.GraftSession.builder(cores.toString)
      .appName("perfbench")
      .config("spark.sql.warehouse.dir", s"${a.scratch}/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .getOrCreate()
    try println(run(spark, a, cores))
    finally spark.stop()
  }

  private def run(spark: SparkSession, a: Args, cores: Int): String = {
    val tag = s"${ProcessHandle.current().pid()}_${java.lang.Long.toHexString(System.nanoTime())}"
    val w: Workload = a.workload match {
      case "month_e2e" => new MonthE2e(spark, a.seed, MonthCells)
      case "dedup_corpus" => new DedupCorpus(spark, a.seed, DedupDocs, tag)
      case other => sys.error(s"unknown workload $other")
    }
    val tracer = new Tracer(spark.sparkContext, cores)

    // the first setup also takes the run's first-time class loading and
    // JIT; the median leaves it out. The last one is the passes' input.
    val setups = (1 to Setups).map { k =>
      val t0 = System.nanoTime()
      w.setup(s"${a.scratch}/in-$k")
      val s = (System.nanoTime() - t0) / 1e9
      if (k < Setups) delete(Paths.get(s"${a.scratch}/in-$k"))
      s
    }
    val in = s"${a.scratch}/in-$Setups"

    var passNo = 0
    def onePass(traced: Boolean): Sample = {
      passNo += 1
      val root = s"${a.scratch}/pass-$passNo"
      tracer.setTraced(traced)
      val bean = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val c0 = bean.getProcessCpuTime
      val jit0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
      val codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val gc0 = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
      val t0 = System.nanoTime()
      val pass = try Right(w.pass(in, root, tracer))
                 catch { case NonFatal(e) => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (bean.getProcessCpuTime - c0) / 1e9
      val jit = (ManagementFactory.getCompilationMXBean.getTotalCompilationTime - jit0) / 1e3
      val codegen = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0
      val gcs = (ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum - gc0) / 1e3
      // heap the pass leaves live, its results still referenced; the
      // second collection frees what Spark's cleaner thread let go of
      // after the first
      System.gc()
      Thread.sleep(500)
      System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      tracer.setTraced(false)
      val spans =
        if (traced) tracer.take() ++
          Map("pass.jit_s" -> jit, "pass.codegen_compiles" -> codegen.toDouble)
        else Map.empty[String, Double]
      val (failures, outMb, counters) = pass match {
        case Left(e) => (Seq(s"pass threw: $e"), 0.0, Map.empty[String, Double])
        case Right(p) =>
          val f = try p.check() catch { case NonFatal(e) => Seq(s"check threw: $e") }
          val c = if (traced) w.counters(p) else Map.empty[String, Double]
          val mb = dirBytes(Paths.get(p.outputDir)) / 1e6
          w.cleanup(p)
          (f, mb, c)
      }
      pass.foreach(p => delete(Paths.get(p.outputDir)))
      delete(Paths.get(root))
      failures.foreach(f => System.err.println(s"perfbench: pass $passNo FAILED: $f"))
      System.err.println(f"perfbench: pass $passNo%d traced=$traced wall=$wall%.3f s " +
        f"cpu=$cpu%.2f s jit=$jit%.2f s codegen=$codegen%d gc=$gcs%.2f s heap=$heapMb%.0f MB out=$outMb%.2f MB")
      Sample(wall, cpu, heapMb, outMb, traced, spans ++ counters, failures.isEmpty)
    }

    val warm = (1 to WarmupPasses).map(_ => onePass(traced = false))
    val timed = mutable.ArrayBuffer.empty[Sample]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (timed.isEmpty || elapsed < a.seconds) {
      timed += onePass(traced = false)
      if (a.trace) timed += onePass(traced = true)
    }
    val untraced = timed.filterNot(_.traced).toSeq
    val attempted = warm.size + timed.size
    val failed = (warm ++ timed).count(!_.ok)

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val wall = median(untraced.map(_.wall))
        Seq(w.items / wall, wall, median(untraced.map(_.cpu)),
          median(untraced.map(_.heapMb)), median(untraced.map(_.outMb)),
          median(setups)).zip(EndToEnd).map { case (v, (n, u)) => (n, v, u) }
      } else {
        val traced = timed.filter(_.traced).toSeq
        def med(name: String) = median(traced.map(_.spans.getOrElse(name, 0.0)))
        val spanMetrics = for (s <- AllSpans; suffix <- Tracer.Suffixes)
          yield (s"$s.$suffix", med(s"$s.$suffix"), unitOf(suffix))
        spanMetrics ++ Seq(
          ("dedup.pairs.verify_yield", med("dedup.pairs.verify_yield"), "ratio"),
          ("pass.jit_s", med("pass.jit_s"), "s"),
          ("pass.codegen_compiles", med("pass.codegen_compiles"), "count"),
          ("trace.listener_s", med("trace.listener_s"), "s"),
          ("trace.overhead_s",
            median(traced.map(_.wall)) - median(untraced.map(_.wall)), "s"))
      }
    System.err.println(s"perfbench: ${a.workload} seed=${a.seed} " +
      s"${untraced.size} timed untraced passes, setups=${setups.mkString(",")}, " +
      s"JVM up ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3} s")
    json(failed == 0, attempted, failed, metrics)
  }

  private def unitOf(suffix: String): String = suffix match {
    case "shuffle_mb" | "written_mb" => "MB"
    case "task_skew" => "ratio"
    case _ => "s"
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def json(correct: Boolean, attempted: Int, failed: Int,
                   metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
