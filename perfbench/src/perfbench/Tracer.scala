package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the program's layers.
  *
  * A span is a named interval on the calling thread. While tracing is on,
  * the span's name rides the Spark local property [[Tracer.Key]], so every
  * job the call submits (including AQE stage jobs and broadcast jobs,
  * which inherit local properties) is attributed to it, and a
  * [[SparkListener]] sums the task metrics of its stages. While tracing is
  * off a span is the bare call, and the listener is registered only when
  * tracing is first turned on, so untraced runs time the program alone.
  */
final class Tracer(sc: SparkContext, cores: Int) {
  import Tracer._

  private var traced = false
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val walls = mutable.Map.empty[String, Double]
  private val gcs = mutable.Map.empty[String, Double]

  private var listening = false
  private val listenerNs = new AtomicLong
  private val listener = new SparkListener {
    override def onJobStart(job: SparkListenerJobStart): Unit = timed {
      val span = Option(job.properties).map(_.getProperty(Key)).orNull
      if (span != null) job.stageIds.foreach(stageSpan.put(_, span))
    }
    override def onTaskEnd(task: SparkListenerTaskEnd): Unit = timed {
      val span = stageSpan.get(task.stageId)
      if (span != null && task.taskMetrics != null)
        accs.computeIfAbsent(span, _ => new Acc).add(task)
    }
  }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    listenerNs.addAndGet(System.nanoTime() - t0)
  }

  /** Turns tracing on or off for the spans of the next pass. */
  def setTraced(on: Boolean): Unit = {
    if (on && !listening) {
      sc.addSparkListener(listener)
      listening = true
    }
    traced = on
  }

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      sc.setLocalProperty(Key, name)
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        walls(name) = walls.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
        gcs(name) = gcs.getOrElse(name, 0.0) + (gcMillis() - gc0) / 1e3
        sc.setLocalProperty(Key, null)
      }
    }

  /** The per-span metrics of the pass traced since the last call, keyed
    * `<span>.<suffix>`, and the time the listener spent handling events
    * (`trace.listener_s`); resets the collector.
    */
  def take(): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val out = walls.keys.toSeq.flatMap { span =>
      val wall = walls(span)
      val acc = Option(accs.get(span)).getOrElse(new Acc)
      Seq(
        s"$span.wall_s" -> wall,
        s"$span.cpu_s" -> acc.cpuNs / 1e9,
        s"$span.gc_s" -> gcs(span),
        s"$span.shuffle_mb" -> acc.shuffleBytes / 1e6,
        s"$span.written_mb" -> acc.writtenBytes / 1e6,
        s"$span.task_skew" -> acc.skew,
        s"$span.idle_core_s" -> (cores * wall - acc.runMs / 1e3))
    }.toMap + ("trace.listener_s" -> listenerNs.getAndSet(0L) / 1e9)
    walls.clear(); gcs.clear(); accs.clear(); stageSpan.clear()
    out
  }
}

object Tracer {
  val Key = "perfbench.span"
  val Suffixes: Seq[String] = Seq("wall_s", "cpu_s", "gc_s", "shuffle_mb",
    "written_mb", "task_skew", "idle_core_s")

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Task totals of one span. Task skew is max/median task run time per
    * stage, averaged over the span's stages weighted by their task time,
    * so a span of many small stages reads the skew of the stages that
    * hold its time.
    */
  private final class Acc {
    var cpuNs = 0L
    var runMs = 0L
    var shuffleBytes = 0L
    var writtenBytes = 0L
    private val stageTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    def add(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      writtenBytes += m.outputMetrics.bytesWritten
      stageTimes.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) +=
        math.max(1L, m.executorRunTime)
    }

    def skew: Double = synchronized {
      val perStage = stageTimes.values.map { ts =>
        val sorted = ts.sorted
        val median = (sorted((sorted.length - 1) / 2) + sorted(sorted.length / 2)) / 2.0
        (sorted.last / median, sorted.sum.toDouble)
      }
      val total = perStage.map(_._2).sum
      if (total == 0) 1.0 else perStage.map { case (s, w) => s * w }.sum / total
    }
  }
}
