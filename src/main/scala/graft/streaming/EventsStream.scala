package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming over the events table.
  *
  * The reference has no unbounded sources (SURVEY.md §2.10) — its
  * incremental behavior is idempotent batch re-entrancy, reproduced by
  * [[graft.orchestration.StageRunner]]. This module covers the engine's
  * streaming surface for event-log workloads: watermarked windowed
  * aggregation and stateful sessionization, the two canonical shapes.
  * `Trigger.AvailableNow` turns any of these into an incremental batch
  * job over a growing directory — the streaming-native equivalent of the
  * reference's skip logic.
  */
object EventsStream {

  /** File-streaming source over a directory of events parquet files.
    * Streaming sources need an explicit schema, so probe it from the
    * already-present files with a batch read, then normalize `ts` exactly
    * as the batch loader does ([[graft.core.Tables.normalizeEventsTs]]):
    * legacy nanos-as-long files convert, native timestamp files pass
    * through — the stream and its batch twin see identical types either way.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir).schema
    graft.core.Tables.normalizeEventsTs(
      spark.readStream.schema(schema).parquet(dir))
  }

  /** Watermarked tumbling-window aggregation: per (window, event_type)
    * counts and exact decimal sums. Late events beyond the watermark are
    * dropped; state is bounded by watermark horizon × window count.
    */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** Streaming exact deduplication: drop re-deliveries of the same event id
    * within the watermark horizon. `dropDuplicatesWithinWatermark` is the
    * form whose state actually evicts — plain `dropDuplicates(id)` without
    * the event-time column among the keys keeps one state entry per
    * distinct id forever. The streaming twin of [[graft.dedup.Dedup.exact]]
    * for at-least-once ingest feeds (re-deliveries are assumed to arrive
    * within the watermark of the first delivery).
    */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  // ------------------------------------------------------- sessionization

  final case class SessionUpdate(userId: Long, sessionStart: Long,
                                 sessionEnd: Long, nEvents: Int, closed: Boolean)
  /** Per-user session accumulator (public: the state encoder's generated
    * code must reach the constructor/accessors).
    */
  final case class SessionState(start: Long, last: Long, n: Int)

  /** Gap-based sessionization with explicit state: a user's session closes
    * after `gapMs` of inactivity (processing-time timeout drives closure
    * between batches). Demonstrates KeyValueGroupedDataset +
    * flatMapGroupsWithState for semantics windows can't express.
    */
  def sessionize(events: DataFrame, gapMs: Long): Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").as[Long],
        (col("ts").cast("double") * 1000).cast("long").as[Long])
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, rows: Iterator[(Long, Long)], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionUpdate(userId, s.start, s.last, s.n, closed = true))
          } else {
            val ts = rows.map(_._2).toArray.sorted
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionUpdate]
            var cur = state.getOption
            ts.foreach { t =>
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessionState(s.start, t, s.n + 1))
                case Some(s) =>
                  out += SessionUpdate(userId, s.start, s.last, s.n, closed = true)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutDuration(gapMs)
              out += SessionUpdate(userId, s.start, s.last, s.n, closed = false)
            }
            out.iterator
          }
      }
  }

  // ------------------------------------------------------ as-of attach

  final case class AsOfAttach(eventId: Long, userId: Long, ts: Long,
                              purchaseTs: Option[Long],
                              purchaseValue: Option[Double])
  /** Per-user carried right-side state (latest purchase seen). */
  final case class LastPurchase(ts: Long, value: Double)

  /** Streaming twin of [[graft.operators.AsOfJoin.backward]] over a
    * single event stream: every `click` emits with the latest `purchase`
    * at-or-before it by the same user, the purchase carried as explicit
    * per-user state across batches. In-batch ordering is restored by a
    * per-group sort (micro-batches deliver a group's rows unordered);
    * cross-batch ordering holds when the source respects the watermark
    * (late purchases older than an already-emitted click are a
    * fundamental stream-order limit, same as any streaming join).
    */
  def asOfAttach(events: DataFrame): Dataset[AsOfAttach] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_id").as[Long], col("user_id").as[Long],
        (col("ts").cast("double") * 1000000).cast("long").as[Long],
        col("event_type").as[String], col("value").as[Double])
      .as[(Long, Long, Long, String, Double)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[LastPurchase, AsOfAttach](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[(Long, Long, Long, String, Double)],
         state: GroupState[LastPurchase]) =>
          // right rows sort before left rows at equal ts — the inclusive
          // semantics of the batch operator
          val ordered = rows.toArray.sortBy(r =>
            (r._3, if (r._4 == "purchase") 0 else 1, r._1))
          var last = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[AsOfAttach]
          ordered.foreach {
            case (_, _, ts, "purchase", v) => last = Some(LastPurchase(ts, v))
            case (id, _, ts, "click", _) =>
              out += AsOfAttach(id, userId, ts, last.map(_.ts), last.map(_.value))
            case _ => ()
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  // ------------------------------------------------- mergeable KMV sketch

  final case class KmvUpdate(key: String, kmv: Array[Long])

  /** Streaming twin of [[graft.operators.KmvSketch]]: per-key bottom-k
    * avalanche-hash state carried across batches with
    * `mapGroupsWithState`. The sketch is mergeable (bottom-k of a union
    * is associative), so each micro-batch folds its new hashes into the
    * k-value state and the final state equals the batch sketch of
    * everything ever seen — distinct-counts over an unbounded stream
    * with O(k) state per key and engine-portable estimates, where a
    * streaming `COUNT(DISTINCT)` would keep the whole distinct set.
    */
  def kmvSketchStream(events: DataFrame, keyCol: String, valueCol: String,
                      k: Int): Dataset[KmvUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col(keyCol).cast("string").as[String],
        graft.operators.Sampling.avalancheKey(col(valueCol)).as[Long])
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], KmvUpdate](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long)],
         state: GroupState[Array[Long]]) =>
          val merged = (state.getOption.getOrElse(Array.empty[Long]) ++
            rows.map(_._2)).distinct.sorted.take(k)
          state.update(merged)
          KmvUpdate(key, merged)
      }
  }

  // -------------------------------------------------- mergeable CMS sketch

  final case class CmsUpdate(key: String, cells: Array[Long])

  /** Streaming twin of [[graft.operators.CmsSketch]]: a per-key d×w
    * count-min table carried across batches with `mapGroupsWithState`.
    * Cell-wise addition is the CMS merge, so each micro-batch adds its
    * occurrence counts into the flat d·w state array and the final
    * state equals the batch sketch of everything ever seen — answer
    * "how often has ANY value occurred under this key, ever" from
    * O(d·w) state per key, where a streaming exact count would keep one
    * state entry per distinct value forever. `cells(i*width + b)` is
    * row i, bucket b, under the same salted avalanche hash as the batch
    * operator, so estimates agree engine-for-engine.
    */
  def cmsSketchStream(events: DataFrame, keyCol: String, valueCol: String,
                      depth: Int, width: Int): Dataset[CmsUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val buckets = array((0 until depth).map(i =>
      pmod(graft.operators.Sampling.avalancheKey(
        concat(col(valueCol).cast("string"), lit(s":$i"))),
        lit(width.toLong)).cast("int")): _*)
    events
      .filter(col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as[String], buckets.as[Array[Int]])
      .as[(String, Array[Int])]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], CmsUpdate](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Array[Int])],
         state: GroupState[Array[Long]]) =>
          val cells = state.getOption.getOrElse(new Array[Long](depth * width))
          rows.foreach { case (_, bs) =>
            var i = 0
            while (i < depth) { cells(i * width + bs(i)) += 1L; i += 1 }
          }
          state.update(cells)
          // defensive copy: the live state array must not escape — a
          // caller mutating or retaining the emitted cells would
          // corrupt every later batch's state
          CmsUpdate(key, cells.clone())
      }
  }

  // -------------------------------------- mergeable Misra–Gries candidates

  final case class MgUpdate(key: String, items: Array[String],
                            counts: Array[Long], evicted: Boolean,
                            nTotal: Long)

  /** Streaming twin of
    * [[graft.text.HeavyHitters.candidatesByGroup]]: a per-key bounded
    * Misra–Gries counter map carried across batches with
    * `mapGroupsWithState` — the last sketch family member without a
    * stream form. Each micro-batch folds its rows through the classic
    * MG update ([[graft.functions.expressions.MisraGriesCore.add]],
    * the exact logic the batch `TypedImperativeAggregate` runs), so
    * after any number of batches the state is a valid MG summary of
    * everything ever seen: at most `counters` slots per key, any item
    * whose true stream count exceeds N_key/(counters+1) is GUARANTEED
    * present, and each reported count understates the true count by at
    * most that bound. Candidate CONTENT below the guarantee line is
    * merge-tree-dependent (exactly as the batch aggregate's is
    * partition-dependent) — callers needing provable exact top-k run
    * the batch confirm pass over the stream's candidate union.
    *
    * Emits `(key, items, counts, evicted, nTotal)` per key per batch:
    * the sorted candidate items, their MG counts, whether any
    * decrement has EVER run for this key (cumulative — `evicted =
    * false` certifies the counts are exact, the same certificate the
    * batch aggregate carries), and the total rows ever folded for the
    * key. `nTotal` is monotone, so the final state is the emission
    * with the largest `nTotal` (MG totals themselves can SHRINK on a
    * decrement, unlike the CMS twin's cells), and
    * `nTotal / (counters + 1)` is the count-error / survival bound.
    */
  def mgHeavyHittersStream(events: DataFrame, keyCol: String, valueCol: String,
                           counters: Int): Dataset[MgUpdate] = {
    require(counters >= 1, s"counters must be >= 1: $counters")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as[String],
        col(valueCol).cast("string").as[String])
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Map[String, Long], Boolean, Long), MgUpdate](
        GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[(Map[String, Long], Boolean, Long)]) =>
          val (m0, ev0, n0) = state.getOption
            .getOrElse((Map.empty[String, Long], false, 0L))
          val buf = scala.collection.mutable.HashMap.empty[String, Long]
          buf ++= m0
          var evicted = ev0
          var n = n0
          rows.foreach { case (_, v) =>
            n += 1
            if (graft.functions.expressions.MisraGriesCore
                .add(buf, v, counters, identity[String])) evicted = true
          }
          state.update((buf.toMap, evicted, n))
          val items = buf.keys.toArray.sorted
          MgUpdate(key, items, items.map(buf), evicted, n)
      }
  }

  // ------------------------------------------- mergeable quantile sketch

  final case class DqUpdate(key: String, cells: Array[Long])

  /** Streaming twin of [[graft.operators.QuantileSketch]]: a per-key
    * dyadic count-min table carried across batches with
    * `mapGroupsWithState` — completing the stream forms of the sketch
    * family (KMV distincts, CMS frequencies, MG heavy hitters, and now
    * ranks/quantiles). Each value adds 1 to one cell per (level, CMS
    * row) under the same salted avalanche hash as the batch operator,
    * and cell-wise addition IS the dyadic-sketch merge, so after any
    * number of batches the state equals the batch sketch of everything
    * ever seen — "what is the running p99 of this key's values" from
    * O(levels·d·w) state per key, where an exact streaming quantile
    * would keep every value forever. `cells(((l*depth)+i)*width + b)`
    * is level l, row i, bucket b; feed the emission into
    * [[graft.operators.QuantileSketch.Dq]] (exploded back to cell rows)
    * for rank/quantile answers that agree with the batch path
    * cell-for-cell. Values must lie in `[0, 2^levels)` — out-of-domain
    * rows fail the query loudly rather than aliasing, like the batch
    * build.
    */
  def dqSketchStream(events: DataFrame, keyCol: String, valueCol: String,
                     levels: Int, depth: Int, width: Int): Dataset[DqUpdate] = {
    require(levels >= 1 && levels <= 24,
      s"levels out of streaming-state range: $levels")
    require(depth >= 1 && depth <= 16, s"depth out of range: $depth")
    require(width >= 2, s"width out of range: $width")
    val spark = events.sparkSession
    import spark.implicits._
    val v = {
      val c = col(valueCol).cast("long")
      when(c < 0 || c >= (1L << levels),
          raise_error(concat(
            lit(s"quantile-sketch value outside [0, 2^$levels): "),
            c.cast("string"))))
        .otherwise(c)
    }
    val buckets = array((for (l <- 0 until levels; i <- 0 until depth) yield
      pmod(graft.operators.Sampling.avalancheKey(
        concat(shiftright(v, l).cast("string"), lit(s":$l:$i"))),
        lit(width.toLong)).cast("int")): _*)
    events
      .filter(col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as[String], buckets.as[Array[Int]])
      .as[(String, Array[Int])]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], DqUpdate](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Array[Int])],
         state: GroupState[Array[Long]]) =>
          val cells = state.getOption
            .getOrElse(new Array[Long](levels * depth * width))
          rows.foreach { case (_, bs) =>
            var j = 0
            while (j < levels * depth) { cells(j * width + bs(j)) += 1L; j += 1 }
          }
          state.update(cells)
          // defensive copy — the live state array must not escape
          DqUpdate(key, cells.clone())
      }
  }

  // ----------------------------------------------- mergeable HLL registers

  final case class HllUpdate(key: String, regs: Array[Int])

  /** Streaming twin of [[graft.operators.HllSketch]]: per-key dense
    * `m = 2^p` register array carried across batches with
    * `mapGroupsWithState`. Register-wise MAX is the HLL merge —
    * idempotent as well as associative, so re-delivered rows cannot
    * move the state (the strongest re-delivery posture of any sketch
    * here) — and after any number of batches the state equals the
    * batch registers of everything ever seen: running cardinality per
    * key from O(2^p) ints of state. `regs(b)` is bucket b under the
    * same avalanche-hash trailing-zero rank as the batch operator;
    * absent values hold 0 (an empty register).
    */
  def hllSketchStream(events: DataFrame, keyCol: String, valueCol: String,
                      p: Int): Dataset[HllUpdate] = {
    require(p >= 4 && p <= 16, s"precision out of range: $p")
    val m = 1 << p
    val capRho = 61 - p
    val spark = events.sparkSession
    import spark.implicits._
    val h = graft.operators.Sampling.avalancheKey(col(valueCol).cast("string"))
    val w = expr(s"__h div $m")
    events
      .filter(col(valueCol).isNotNull)
      .withColumn("__h", h)
      .select(col(keyCol).cast("string").as[String],
        graft.operators.HllSketch.bucketOf(col("__h"), p).cast("int").as[Int],
        graft.operators.HllSketch.rhoOf(w, capRho).as[Int])
      .as[(String, Int, Int)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Int], HllUpdate](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Int, Int)],
         state: GroupState[Array[Int]]) =>
          val regs = state.getOption.getOrElse(new Array[Int](m))
          rows.foreach { case (_, b, rho) =>
            if (rho > regs(b)) regs(b) = rho
          }
          state.update(regs)
          // defensive copy — the live state array must not escape
          HllUpdate(key, regs.clone())
      }
  }

  // ------------------------------------------------ mergeable moment sums

  final case class MomentsUpdate(key: String, n: Long, s1: Long, s2: Long,
                                 s3: Long, s4: Long)

  /** Streaming twin of [[graft.operators.Moments]]: per-key exact power
    * sums carried across batches — five longs of state, merged by plain
    * addition, so the running state equals the batch summary of
    * everything ever seen and feeds the same derived mean/var/skew/kurt
    * formulas. Values are cast to long (the quantized-grid convention);
    * overflow of the fourth-power sum throws rather than wrapping.
    */
  def momentsStream(events: DataFrame, keyCol: String,
                    valueCol: String): Dataset[MomentsUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as[String],
        graft.operators.Quantized
          .checkedLong(col(valueCol), "momentsStream").as[Long])
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[MomentsUpdate, MomentsUpdate](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long)],
         state: GroupState[MomentsUpdate]) =>
          var acc = state.getOption.getOrElse(
            MomentsUpdate(key, 0L, 0L, 0L, 0L, 0L))
          rows.foreach { case (_, v) =>
            val v2 = java.lang.Math.multiplyExact(v, v)
            val v3 = java.lang.Math.multiplyExact(v2, v)
            val v4 = java.lang.Math.multiplyExact(v3, v)
            acc = MomentsUpdate(key, acc.n + 1L,
              java.lang.Math.addExact(acc.s1, v),
              java.lang.Math.addExact(acc.s2, v2),
              java.lang.Math.addExact(acc.s3, v3),
              java.lang.Math.addExact(acc.s4, v4))
          }
          state.update(acc)
          acc
      }
  }

  // ------------------------------------------------- AMS F2 counters

  final case class AmsUpdate(key: String, z: Array[Long], n: Long)

  /** Streaming twin of [[graft.operators.AmsSketch]]: per-key signed
    * tug-of-war counters carried across batches — `depth` longs of
    * state merged by plain addition (a shard's z adds linearly), so
    * the running state equals the batch counters of everything ever
    * seen and the lower-median-of-squares F₂ estimate can be taken at
    * any batch boundary. `n` counts absorbed values (monotone — the
    * batch-ordering handle the signed counters themselves can't give,
    * since z moves both ways). Same salted avalanche sign as the batch
    * operator, so counters agree engine-for-engine.
    */
  def amsSketchStream(events: DataFrame, keyCol: String, valueCol: String,
                      depth: Int): Dataset[AmsUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val signs = array((0 until depth).map(i =>
      (pmod(graft.operators.Sampling.avalancheKey(
        concat(col(valueCol).cast("string"), lit(s":$i"))),
        lit(2L)) * 2L - 1L).cast("long")): _*)
    events
      .filter(col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as[String], signs.as[Array[Long]])
      .as[(String, Array[Long])]
      .groupByKey(_._1)
      .mapGroupsWithState[AmsUpdate, AmsUpdate](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Array[Long])],
         state: GroupState[AmsUpdate]) =>
          val prev = state.getOption.getOrElse(
            AmsUpdate(key, new Array[Long](depth), 0L))
          val z = prev.z.clone()
          var n = prev.n
          rows.foreach { case (_, ss) =>
            var i = 0
            while (i < depth) { z(i) += ss(i); i += 1 }
            n += 1L
          }
          val next = AmsUpdate(key, z, n)
          state.update(next)
          // the state object holds its own array; emit a copy so a
          // caller can't corrupt later batches (the cmsSketchStream
          // lesson)
          AmsUpdate(key, z.clone(), n)
      }
  }

  // ------------------------------------------------- CUSUM level monitor

  final case class CusumUpdate(key: String, t: Long, v: Long,
                               cusumPos: Long, cusumNeg: Long, alarm: Int)
  /** Carried per-key CUSUM state: both sides + the last absorbed order
    * key (the monotonicity handle).
    */
  final case class CusumState(sp: Long, sn: Long, lastT: Long)

  /** Streaming twin of [[graft.operators.Changepoint.cusum]]: the
    * textbook recursion `S⁺ = max(0, S⁺ + (x − k))` run as an explicit
    * per-key fold — two longs of state — emitting one update per
    * absorbed row, so the alarm fires in the micro-batch where the
    * level shift crosses `threshold`, not at job end. The batch
    * operator's closed prefix form and this fold are the same
    * function; StreamingSpec pins them row-for-row.
    *
    * Order contract: in-batch rows are sorted by `orderCol` per key
    * (micro-batches deliver a group unordered); ACROSS batches the
    * recursion is order-sensitive and cannot be merged, so a row whose
    * order key is ≤ the last absorbed one ABORTS loudly (an unordered
    * or re-delivered feed breaks a fold where it merely double-counts
    * a mergeable sketch — pair with [[dedupEvents]] and a
    * time-ordered source, the same posture as [[asOfAttach]]).
    */
  def cusumStream(events: DataFrame, keyCol: String, orderCol: String,
                  valueCol: String, driftK: Long,
                  threshold: Long): Dataset[CusumUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as[String],
        graft.operators.Quantized
          .checkedLong(col(orderCol), "cusumStream order").as[Long],
        graft.operators.Quantized
          .checkedLong(col(valueCol), "cusumStream value").as[Long])
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, CusumUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[CusumState]) =>
          var s = state.getOption.getOrElse(
            CusumState(0L, 0L, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[CusumUpdate]
          rows.toArray.sortBy(_._2).foreach { case (_, t, v) =>
            if (t <= s.lastT)
              throw new IllegalStateException(
                s"cusumStream: order key $t arrived at or before the last " +
                  s"absorbed ${s.lastT} for key $key — the CUSUM fold needs " +
                  "a deduplicated, time-ordered feed (dedupEvents upstream)")
            val sp = math.max(0L, s.sp + (v - driftK))
            val sn = math.max(0L, s.sn + (driftK - v))
            s = CusumState(sp, sn, t)
            out += CusumUpdate(key, t, v, sp, sn,
              if (sp > threshold || sn > threshold) 1 else 0)
          }
          state.update(s)
          out.iterator
      }
  }

  // --------------------------------------------- Markov transitions

  final case class TransitionUpdate(key: String, prev: String, next: String,
                                    cnt: Long)
  /** Carried per-key state: running (prev→next) counts plus the last
    * absorbed (order, state) — the cross-batch lag cell.
    */
  final case class TransitionState(counts: Map[String, Long], lastT: Long,
                                   lastState: String)

  /** Streaming twin of [[graft.operators.Transitions]]: per-key
    * transition counts accumulated across batches, the lag cell
    * carried as explicit state so a pair spanning a batch boundary is
    * counted exactly once. Emits the UPDATED (prev, next) counts each
    * batch (update-mode semantics: fold the latest row per
    * (key, prev, next) downstream). The count map is
    * |states|²-bounded per key, and that bound is ENFORCED: a
    * free-text state column would grow the map without limit inside
    * the state store, so crossing `maxStates²` distinct pairs aborts
    * loudly (a Markov matrix over unbounded states is a modeling
    * error, not a bigger map).
    *
    * Same order contract as [[cusumStream]]: in-batch rows sort by
    * the order key; an order key at or before the last absorbed one
    * aborts loudly (the lag fold cannot merge re-deliveries).
    */
  def transitionsStream(events: DataFrame, keyCol: String, orderCol: String,
                        stateCol: String,
                        maxStates: Int = 1000): Dataset[TransitionUpdate] = {
    require(maxStates >= 2, s"maxStates too small: $maxStates")
    val maxPairs = maxStates.toLong * maxStates
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col(stateCol).isNotNull)
      .select(col(keyCol).cast("string").as[String],
        graft.operators.Quantized
          .checkedLong(col(orderCol), "transitionsStream order").as[Long],
        col(stateCol).cast("string").as[String])
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TransitionState, TransitionUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long, String)],
         state: GroupState[TransitionState]) =>
          var s = state.getOption.getOrElse(
            TransitionState(Map.empty, Long.MinValue, null))
          val touched = scala.collection.mutable.Set.empty[String]
          rows.toArray.sortBy(_._2).foreach { case (_, t, st) =>
            if (t <= s.lastT)
              throw new IllegalStateException(
                s"transitionsStream: order key $t arrived at or before the " +
                  s"last absorbed ${s.lastT} for key $key — the lag fold " +
                  "needs a deduplicated, time-ordered feed")
            // the pair key below is NUL-packed, so a state VALUE that
            // itself contains NUL would collide two distinct pairs into
            // one key (prev="a·b", next="c" vs prev="a", next="b·c" for
            // · = NUL) and the 2-limited split on emission would then
            // mis-attribute the remainder — reject it loudly, like the
            // stream's other feed contracts
            if (st.indexOf('\u0000') >= 0)
              throw new IllegalStateException(
                s"transitionsStream: state value for key $key contains a " +
                  "NUL character, which the (prev, next) pair encoding " +
                  "reserves — sanitize the state column upstream")
            val counts =
              if (s.lastState == null) s.counts
              else {
                // NUL-packed pair key — states are arbitrary strings,
                // any printable delimiter could collide with content;
                // NUL itself is rejected from state values above, so
                // the packing is unambiguous
                val pair = s.lastState + "\u0000" + st
                touched += pair
                s.counts.updated(pair, s.counts.getOrElse(pair, 0L) + 1L)
              }
            if (counts.size > maxPairs)
              throw new IllegalStateException(
                s"transitionsStream: ${counts.size} distinct (prev, next) " +
                  s"pairs for key $key exceed maxStates²=$maxPairs — the " +
                  "state column must be a bounded vocabulary")
            s = TransitionState(counts, t, st)
          }
          state.update(s)
          touched.iterator.map { pair =>
            val Array(p, n) = pair.split("\u0000", 2)
            TransitionUpdate(key, p, n, s.counts(pair))
          }.toSeq.iterator
      }
  }

  // ------------------------------------------- rolling-PSI daily counts

  /** Per-day bucket-count snapshot: `counts(b)` = rows of this day in
    * grid bucket b so far; `total` their sum (monotone — the
    * latest-emission handle, like MG's `nTotal`).
    */
  final case class PsiDayUpdate(day: String, counts: Array[Long],
                                total: Long)

  /** Streaming twin of [[graft.operators.Drift.rollingPsi]]'s corpus
    * reduction: the per-(day, bucket) count table — the ONLY
    * corpus-sized work in the batch operator — maintained as keyed
    * state with `mapGroupsWithState`, one `nBuckets`-long array per
    * observed day (counting is order-insensitive and mergeable, so
    * unlike the CUSUM/transitions folds there is no order contract —
    * but it IS additive: re-deliveries double-count, so pair with
    * [[dedupEvents]] upstream, and StreamingSpec pins that composition
    * as idempotent). Values bucket on the same fixed grid as the batch
    * operator, with the same clamp; NULL timestamps abort loudly, NULL
    * values leave the distribution — the [[graft.operators.Drift.psi]]
    * posture throughout.
    *
    * Each batch emits the day's full updated snapshot (update-mode
    * semantics: keep the row with the largest `total` per day
    * downstream). Feed the final snapshots — exploded to `(day,
    * bucket, n)` — through [[graft.operators.Drift
    * .rollingPsiFromDailyCounts]] and the result is row-identical to
    * the batch [[graft.operators.Drift.rollingPsi]] over the replayed
    * corpus: the window assembly is literally shared code.
    *
    * The grid is the state bound (one long per bucket per day), so it
    * is ENFORCED: `nBuckets` past `maxBuckets` aborts at plan time — a
    * 10⁶-bucket grid inside a state store is a modeling error, not a
    * bigger array (the [[transitionsStream]] cap posture).
    */
  def psiDailyCountsStream(events: DataFrame, tsCol: String,
                           valueCol: String, nBuckets: Int, lo: Double,
                           hi: Double,
                           maxBuckets: Int = 65536): Dataset[PsiDayUpdate] = {
    require(nBuckets > 0 && hi > lo, s"bad grid [$lo, $hi) x $nBuckets")
    require(nBuckets <= maxBuckets,
      s"psiDailyCountsStream: $nBuckets buckets exceed maxBuckets=" +
        s"$maxBuckets of per-day stream state — coarsen the grid")
    val w = (hi - lo) / nBuckets
    val bucket =
      least(greatest(floor((col(valueCol).cast("double") - lo) / w),
        lit(0.0)), lit((nBuckets - 1).toDouble)).cast("int")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col(valueCol).isNotNull)
      .select(
        when(col(tsCol).isNull, raise_error(lit(
            s"psiDailyCountsStream: NULL $tsCol — filter or repair null " +
              "timestamps upstream")))
          .otherwise(date_format(to_date(col(tsCol)), "yyyy-MM-dd"))
          .as[String],
        bucket.as[Int])
      .as[(String, Int)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], PsiDayUpdate](
        GroupStateTimeout.NoTimeout) {
        (day: String, rows: Iterator[(String, Int)],
         state: GroupState[Array[Long]]) =>
          val counts = state.getOption.getOrElse(new Array[Long](nBuckets))
          rows.foreach { case (_, b) => counts(b) += 1L }
          state.update(counts)
          // defensive copy — the live state array must not escape
          PsiDayUpdate(day, counts.clone(), counts.sum)
      }
  }

  /** Per-day categorical count snapshot: `counts(i)` = rows of this
    * day in category `categories(i)` (the pinned order the stream was
    * planned with; the last slot is `__other__`); `total` their sum.
    */
  final case class PsiCatDayUpdate(day: String, counts: Array[Long],
                                   total: Long)

  /** Streaming twin of [[graft.operators.Drift.rollingPsiCat]]'s
    * corpus reduction: per-(day, category) counts over a PINNED
    * category set (the reference's categories — collected once when
    * the monitor deploys, exactly what the batch operator's eager cap
    * materializes), values outside the set folding into the trailing
    * `__other__` slot. Keyed state is one `(categories + 1)`-long
    * array per observed day; the set size is the state bound, so it is
    * ENFORCED at plan time (`maxCategories`, the [[psiDailyCountsStream]]
    * cap posture). Counting is additive — pair with [[dedupEvents]]
    * upstream for re-delivery idempotence, like the numeric twin.
    *
    * Explode the final snapshots to `(day, category, n)` (dropping
    * zero slots or not — the assembly grids zeros either way) and feed
    * [[graft.operators.Drift.rollingPsiCatFromDailyCounts]] with the
    * SAME reference: the result is row-identical to the batch
    * [[graft.operators.Drift.rollingPsiCat]] over the replayed corpus
    * (StreamingSpec pins it). NULL timestamps abort loudly; NULL
    * categories leave the distribution; a category VALUE equal to the
    * reserved `__other__` is rejected from the pinned set.
    */
  def psiCatDailyCountsStream(events: DataFrame, tsCol: String,
                              catCol: String, categories: Seq[String],
                              maxCategories: Int = 100000)
      : Dataset[PsiCatDayUpdate] = {
    require(categories.nonEmpty, "categories must be non-empty")
    require(categories.size <= maxCategories,
      s"psiCatDailyCountsStream: ${categories.size} categories exceed " +
        s"maxCategories=$maxCategories of per-day stream state — collapse " +
        "or hash high-cardinality keys first")
    require(!categories.contains("__other__"),
      "psiCatDailyCountsStream: the pinned set contains the reserved " +
        "'__other__' category")
    require(categories.distinct.size == categories.size,
      "psiCatDailyCountsStream: duplicate categories in the pinned set")
    val idx = categories.zipWithIndex.toMap
    val nSlots = categories.size + 1 // trailing __other__
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col(catCol).isNotNull)
      .select(
        when(col(tsCol).isNull, raise_error(lit(
            s"psiCatDailyCountsStream: NULL $tsCol — filter or repair " +
              "null timestamps upstream")))
          .otherwise(date_format(to_date(col(tsCol)), "yyyy-MM-dd"))
          .as[String],
        col(catCol).cast("string").as[String])
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], PsiCatDayUpdate](
        GroupStateTimeout.NoTimeout) {
        (day: String, rows: Iterator[(String, String)],
         state: GroupState[Array[Long]]) =>
          val counts = state.getOption.getOrElse(new Array[Long](nSlots))
          rows.foreach { case (_, v) =>
            counts(idx.getOrElse(v, nSlots - 1)) += 1L
          }
          state.update(counts)
          // defensive copy — the live state array must not escape
          PsiCatDayUpdate(day, counts.clone(), counts.sum)
      }
  }

  /** Per-day quantized-value count snapshot: `values(i)` holds count
    * `counts(i)` of that day's rows at value `values(i)` (ascending);
    * `total` their sum.
    */
  final case class KsDayUpdate(day: String, values: Array[Long],
                               counts: Array[Long], total: Long)

  /** Streaming twin of [[graft.operators.Drift.rollingKs]]'s corpus
    * reduction: the per-(day, quantized-value) count table — the ONLY
    * corpus-sized work in the batch operator — maintained as keyed
    * state with `mapGroupsWithState`, one value→count map per observed
    * day. Values ride the [[graft.operators.Quantized]] integer
    * contract (quantize floats upstream, exactly the batch posture —
    * here enforced as a LongType input column). Counting is additive:
    * pair with [[dedupEvents]] upstream for re-delivery idempotence,
    * like the PSI twins.
    *
    * Unlike PSI's fixed grid, the KS state bound is the per-day
    * DISTINCT-value count — a property of the quantization, so it is
    * ENFORCED per update: a day growing past `maxSupport` distinct
    * values aborts the query (a finer-than-planned quantizer is a
    * modeling error, not a bigger map — the cap posture of the PSI
    * twins).
    *
    * Explode the final snapshots to `(day, v, n)` and feed
    * [[graft.operators.Drift.rollingKsFromDailyCounts]] with the SAME
    * reference: the result is row-identical to the batch
    * [[graft.operators.Drift.rollingKs]] over the replayed corpus —
    * the window assembly is literally shared code (StreamingSpec pins
    * it).
    */
  def ksDailyCountsStream(events: DataFrame, tsCol: String,
                          valueCol: String,
                          maxSupport: Int = 65536): Dataset[KsDayUpdate] = {
    require(maxSupport >= 1, s"maxSupport too small: $maxSupport")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col(valueCol).isNotNull)
      .select(
        when(col(tsCol).isNull, raise_error(lit(
            s"ksDailyCountsStream: NULL $tsCol — filter or repair null " +
              "timestamps upstream")))
          .otherwise(date_format(to_date(col(tsCol)), "yyyy-MM-dd"))
          .as[String],
        graft.operators.Quantized
          .checkedLong(col(valueCol), "ksDailyCountsStream").as[Long])
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Map[Long, Long], KsDayUpdate](
        GroupStateTimeout.NoTimeout) {
        (day: String, rows: Iterator[(String, Long)],
         state: GroupState[Map[Long, Long]]) =>
          var counts = state.getOption.getOrElse(Map.empty[Long, Long])
          rows.foreach { case (_, v) =>
            counts = counts.updated(v, counts.getOrElse(v, 0L) + 1L)
            if (counts.size > maxSupport)
              throw new IllegalStateException(
                s"ksDailyCountsStream: day $day exceeds maxSupport=" +
                  s"$maxSupport distinct quantized values — coarsen the " +
                  "quantization upstream")
          }
          state.update(counts)
          val vs = counts.keys.toArray.sorted
          KsDayUpdate(day, vs, vs.map(counts), counts.valuesIterator.sum)
      }
  }

  /** Run a streaming frame over currently-available data and return the
    * result: Trigger.AvailableNow processes everything then terminates the
    * query itself — the streaming-native incremental batch run (stateful
    * operators with processing-time timeouts never settle under
    * processAllAvailable, which would block forever).
    *
    * Queries that register processing-time timers (sessionize) never
    * terminate even under AvailableNow — the engine keeps scheduling
    * empty batches to fire the timers, so a plain
    * `awaitTermination(300000)` burns the FULL five minutes per call
    * (observed: epoch 1688 reached before the timeout; two such calls
    * put the whole suite past the driver's budget and its kill left the
    * in-flight state-store commit blocked in
    * ChecksumCheckpointFileManager.awaitResult). Every data-driven
    * emission is committed as soon as one batch runs with zero input
    * rows, so detect that drained state from the progress stream and
    * stop there; self-terminating queries exit the poll via !isActive
    * and still surface their failure through awaitTermination. Having
    * seen a data batch is sticky across polls: `recentProgress` keeps
    * only the last 100 batches, and a burst of empty timer batches
    * between two polls can push the data batch out of it.
    */
  def runToMemory(df: DataFrame, name: String,
                  mode: String = "append"): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
      var sawData = false
      var drained = false
      while (!drained && q.isActive && System.nanoTime() < deadline) {
        val ps = q.recentProgress
        sawData ||= ps.exists(_.numInputRows > 0)
        drained = sawData && ps.lastOption.exists(_.numInputRows == 0)
        if (!drained) Thread.sleep(20)
      }
      // propagate a failed query's exception; a timer-driven query that
      // drained is still active and is stopped by the finally
      if (!q.isActive) q.awaitTermination()
    } finally q.stop()
    df.sparkSession.table(name)
  }
}
