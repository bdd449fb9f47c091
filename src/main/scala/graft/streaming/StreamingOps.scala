package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface. The reference has zero streaming
  * operators (its "streaming" is an io.Pipe for backpressure,
  * chiv.go:127–143; SURVEY.md §2.6) — this package supplies the
  * streaming capabilities a continuous ingest pipeline needs, using
  * the same `window`/`session_window` expressions as the batch
  * operators in [[graft.operators.EventWindows]], so batch and
  * streaming results agree by construction.
  *
  * All transforms below take a DataFrame/Dataset and work identically
  * on a batch read or a `readStream` source — the streaming-specific
  * pieces (watermark, output mode, state timeout) are declared here,
  * planning stays with Catalyst/IncrementalExecution.
  */
object StreamingOps {

  /** Timestamp → exact epoch microseconds, shared by every stateful
    * twin so the streaming and batch ts_us contracts can never drift
    * apart one copy at a time (a static method on the object — safe
    * to reference from serialized state functions).
    */
  private def us(t: java.sql.Timestamp): Long =
    (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)

  final case class UserState(user_id: Long, n_events: Long, total_value: Double)

  /** Tumbling 10-minute counts with a 15-minute watermark: late rows
    * beyond the watermark are dropped, windows finalize and emit once
    * (Append). The aggregation itself is e01's.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "15 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Per-user session windows (5-minute gap), e03's streaming twin. */
  def sessionize(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "15 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Streaming exact dedup by event_id within the watermark horizon —
    * the streaming face of d01: state is one key per id, expired by
    * the watermark (bounded state at any rate).
    */
  def dedupe(events: DataFrame): DataFrame =
    events.withWatermark("ts", "15 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Arbitrary stateful aggregation via mapGroupsWithState: running
    * per-user totals emitted on every update (Update mode). The state
    * is O(users), each entry constant-size.
    */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserState] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserState](GroupStateTimeout.NoTimeout()) {
        (user, it, state) =>
          val prev = state.getOption.getOrElse(UserState(user, 0L, 0.0))
          var n = prev.n_events
          var total = prev.total_value
          it.foreach { e => n += 1; total += e.value }
          val next = UserState(user, n, total)
          state.update(next)
          next
      }
  }

  final case class DistinctEstimate(event_type: String, approx_users: Double)

  /** Streaming approximate distinct-count via the graft-native HLL
    * ([[graft.functions.HllAgg]]): per event_type, the state is ONE
    * fixed 1024-byte register array — merged with each micro-batch's
    * keys, never a per-key set — and the running estimate is emitted
    * on every update. This is the streaming face of q35, and the
    * reason mergeable sketches matter on a stream: exact streaming
    * count-distinct needs O(distinct keys) state, this needs O(types).
    * Batch/stream agreement: the state fold IS the batch Aggregator's
    * reduce/finish, so a stream's final estimate equals q35's batch
    * estimate over the same rows (pinned in StreamingSpec).
    */
  def streamingApproxDistinct(events: Dataset[Event]): Dataset[DistinctEstimate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[Array[Byte], DistinctEstimate](GroupStateTimeout.NoTimeout()) {
        (tpe, it, state) =>
          val agg = new graft.functions.HllAgg
          val regs = state.getOption.getOrElse(agg.zero)
          it.foreach(e => agg.reduce(regs, e.user_id))
          state.update(regs)
          DistinctEstimate(tpe, agg.finish(regs))
      }
  }

  final case class FrequencyEstimate(event_type: String, probe_key: Long,
      est_count: Long)

  /** Streaming per-key frequency estimation via the graft-native
    * Count-Min sketch ([[graft.functions.CountMinAgg]]) — the
    * frequency member of the streaming sketch set next to
    * [[streamingApproxDistinct]] (HLL) and `streamingQuantiles`
    * (KLL): per event_type, the state is ONE fixed d×w counter array
    * merged with each micro-batch's user ids, and the running
    * estimates for a caller-fixed probe set are re-emitted every
    * update. Counters are plain sums — order-independent and
    * mergeable — so a stream's final estimates equal the batch
    * sketch's over the same rows EXACTLY, under any micro-batch split
    * (pinned in StreamingSpec). Exact streaming per-key counts need
    * O(distinct keys) state; this needs O(types)·24 KiB.
    */
  def streamingFrequency(events: Dataset[Event], probes: Seq[Long],
      w: Int = graft.functions.CountMinAgg.W): Dataset[FrequencyEstimate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[Array[Long], FrequencyEstimate](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) { (tpe, it, state) =>
        val agg = new graft.functions.CountMinAgg(w)
        val buf = state.getOption.getOrElse(agg.zero)
        it.foreach(e => agg.reduce(buf, e.user_id))
        state.update(buf)
        probes.iterator.map { k =>
          var est = Long.MaxValue
          var j = 0
          while (j < graft.functions.CountMinAgg.D) {
            val c = buf(j * w + graft.functions.CountMinAgg.bucketW(j, k, w))
            if (c < est) est = c
            j += 1
          }
          FrequencyEstimate(tpe, k, est)
        }
      }
  }

  final case class WindowEstimate(win_start_us: Long, approx_users: Double)

  /** The streaming face of e16's hierarchical sketch rollup: per
    * sliding 3-hour window, an HLL register array held as
    * `mapGroupsWithState` state keyed by window start, updated
    * incrementally as events arrive — each event feeds its 3 covering
    * windows (the same explode e16 applies to hourly partials; here
    * the fan-out happens before keying, state stays one 1 KiB sketch
    * per live window). [[HllAgg.update]]/[[HllAgg.mergeRegs]] are
    * order-independent and idempotent-per-key, so the final estimate
    * per window is bit-identical to e16's batch merge regardless of
    * micro-batch boundaries (StreamingSpec pins this against the e16
    * registry query itself).
    */
  def streamingSketchRollup(events: Dataset[Event]): Dataset[WindowEstimate] = {
    import events.sparkSession.implicits._
    val HourUs = 3600000000L
    events
      .flatMap { e =>
        val hour = { val u = us(e.ts); u - java.lang.Math.floorMod(u, HourUs) }
        Seq(hour - 2 * HourUs, hour - HourUs, hour).map(ws => (ws, e.user_id))
      }
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Byte], WindowEstimate](GroupStateTimeout.NoTimeout()) {
        (ws, it, state) =>
          val regs = state.getOption.getOrElse(new Array[Byte](graft.functions.HllAgg.M))
          it.foreach(r => graft.functions.HllAgg.update(regs, r._2))
          state.update(regs)
          WindowEstimate(ws, graft.functions.HllAgg.estimate(regs))
      }
  }

  final case class StickinessEstimate(day_us: Long, role: String,
      approx_users: Double)

  /** The streaming face of e28's DAU/WAU stickiness — its scaladoc's
    * documented approximate path made real: exact sliding COUNT
    * DISTINCT is un-streamable (O(distinct users) state per live
    * window), so each event fans out to its OWN day (role "dau") and
    * the 7 week-ending days it covers (role "wau" — the
    * [[streamingSketchRollup]] fan-out generalized to a week), and
    * the state per (day, role) key is ONE 1 KiB HLL register array.
    * [[graft.functions.HllAgg.update]] is order-independent and
    * idempotent per key, so final estimates are bit-identical to a
    * batch HLL fold over the same rows under ANY micro-batch split
    * (StreamingSpec pins both). Downstream, stickiness(day) =
    * latest dau estimate / latest wau estimate for days that have a
    * dau row — the division stays with the consumer because the two
    * roles complete at different watermarks on a live stream.
    */
  def stickinessStream(events: Dataset[Event]): Dataset[StickinessEstimate] = {
    import events.sparkSession.implicits._
    val DayUs = 86400000000L
    events
      .flatMap { e =>
        val day = { val u = us(e.ts); u - java.lang.Math.floorMod(u, DayUs) }
        (day, "dau", e.user_id) +:
          (0 to 6).map(k => (day + k * DayUs, "wau", e.user_id))
      }
      .groupByKey(r => (r._1, r._2))
      .mapGroupsWithState[Array[Byte], StickinessEstimate](
        GroupStateTimeout.NoTimeout()) { (key, it, state) =>
        val regs = state.getOption.getOrElse(
          new Array[Byte](graft.functions.HllAgg.M))
        it.foreach(r => graft.functions.HllAgg.update(regs, r._3))
        state.update(regs)
        StickinessEstimate(key._1, key._2,
          graft.functions.HllAgg.estimate(regs))
      }
  }

  /** File-source entry: tail a parquet events directory as a stream
    * (the production pattern for continuous ingest of landed files).
    * Normalizes `ts` the same way as [[graft.Tables.events]] — both
    * vintages (BIGINT nanos under the legacy flag, timestamp[us]) —
    * so batch and stream read identical values. File streams need an
    * explicit schema, so the landed files' ts vintage is sniffed with
    * one batch footer read (metadata only, no data scan); an empty
    * directory defaults to the current timestamp[us] vintage.
    */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // default only on the documented empty-directory case (schema
    // inference fails with AnalysisException); any OTHER sniff
    // failure (corrupt file, IO error) must surface here, not
    // reappear later as a baffling per-microbatch type mismatch
    val tsDdl =
      try spark.read.parquet(dir).schema("ts").dataType.sql
      catch {
        case _: org.apache.spark.sql.AnalysisException => "TIMESTAMP_NTZ"
      }
    graft.Tables.normalizeEventTs(
      spark.readStream
        .schema(s"event_id BIGINT, ts $tsDdl, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
        .parquet(dir))
  }

  final case class QuantileEstimate(event_type: String,
      p50: Double, p90: Double, p99: Double, sample_m: Long, lvl: Long)

  /** Streaming quantiles via the graft-native KLL-style sampler
    * ([[graft.functions.KllSampleAgg]]): per event_type the state is
    * ONE bounded buffer (≤ 4096 kept rows + header), folded with each
    * micro-batch and re-estimated on every update — q38's streaming
    * face, exactly as [[streamingApproxDistinct]] is q35's. Because
    * the sketch's final state is a pure function of the input multiset
    * (level sampling, not compaction coins), the stream's estimate
    * after N batches EQUALS the batch aggregation over the same rows —
    * not approximately, bit-for-bit (pinned in StreamingSpec); a
    * Datasketches-style KLL could not make that promise.
    */
  def streamingQuantiles(events: Dataset[Event]): Dataset[QuantileEstimate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[Array[Long], QuantileEstimate](GroupStateTimeout.NoTimeout()) {
        (tpe, it, state) =>
          val agg = new graft.functions.KllSampleAgg
          var buf = state.getOption.getOrElse(agg.zero)
          // value in integer cents (the sketch's exact fixed-point
          // door); key = event_id, the row identity. Cents via the SAME
          // rounding as SQL round()/Spark's Round on DOUBLE — HALF_UP,
          // half away from zero — NOT math.round (half toward +inf),
          // which diverges on negative exact halves (-0.125 → -12 vs
          // -13) and would break the documented q38 bit-for-bit parity.
          it.foreach { e =>
            val cents = java.math.BigDecimal.valueOf(e.value * 100)
              .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
            buf = agg.reduce(buf, (cents, e.event_id))
          }
          state.update(buf)
          val out = agg.finish(buf)
          QuantileEstimate(tpe, out(0) / 100.0, out(1) / 100.0,
            out(2) / 100.0, out(3), out(4))
      }
  }

  final case class Anomaly(event_id: Long, user_id: Long, ts_us: Long,
      cents: Long, win_sum: Long, win_sumsq: Long)

  /** e18's streaming face: the per-user trailing-W z-score flag as a
    * flatMapGroupsWithState RING BUFFER — state per user is the last
    * W=20 cent values (the exact O(W) bound the batch operator's
    * scaladoc promises), never the history. Each micro-batch folds its
    * group's events in (ts, event_id) order with the same
    * cross-multiplied BIGINT test as the batch plan — `(W·x − Σ)² >
    * 9·(W·Σx² − Σ²)` — and the same HALF_UP cent rounding as SQL
    * round() (the [[streamingQuantiles]] lesson), so a stream whose
    * batches respect time order reproduces e18's flags ROW-FOR-ROW
    * (pinned in StreamingSpec). Emits only anomalies (Append).
    */
  def rollingZscore(events: Dataset[Event]): Dataset[Anomaly] = {
    import events.sparkSession.implicits._
    val W = 20
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Vector[Long], Anomaly](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) { (user, it, state) =>
        var ring = state.getOption.getOrElse(Vector.empty[Long])
        val out = Vector.newBuilder[Anomaly]
        it.toVector.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
          val cents = java.math.BigDecimal.valueOf(e.value * 100)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
          if (ring.length == W) {
            val s = ring.sum
            val ss = ring.foldLeft(0L)((a, v) => a + v * v)
            val dev = W * cents - s
            if (dev * dev > 9L * (W * ss - s * s))
              out += Anomaly(e.event_id, user, us(e.ts), cents, s, ss)
          }
          ring = (if (ring.length == W) ring.tail else ring) :+ cents
        }
        state.update(ring)
        out.result().iterator
      }
  }

  final case class TrendState(minTs: Long, n: Long, sx: Long, sy: Long,
      sxy: Long, sxx: Long)
  final case class TrendEstimate(event_type: String, n: Long,
      slope_num: Long, slope_den: Long, slope_cents_per_min: Double)

  /** e19's streaming face: the regression SUFFICIENT STATISTICS
    * (n, Σx, Σy, Σxy, Σx²) folded per event_type in
    * mapGroupsWithState — six longs of state per key, re-emitted with
    * the updated slope every micro-batch. x is minutes since the
    * type's FIRST event; on a stream whose batches respect time
    * order, first = min, so the final estimate equals the batch e19
    * row exactly (pinned in StreamingSpec). This is why e19's
    * scaladoc insists on sufficient statistics: they are the form
    * that streams — a per-key sorted-scan formulation would have no
    * incremental face at all.
    */
  def trendSlope(events: Dataset[Event]): Dataset[TrendEstimate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[TrendState, TrendEstimate](GroupStateTimeout.NoTimeout()) {
        (tpe, it, state) =>
          var st = state.getOption.getOrElse(
            TrendState(Long.MinValue, 0L, 0L, 0L, 0L, 0L))
          // time-ordered fold within the batch (the rollingZscore
          // discipline); the first event anchors minTs
          it.toVector.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
            val ts = us(e.ts)
            if (st.minTs == Long.MinValue) st = st.copy(minTs = ts)
            val x = (ts - st.minTs) / 60000000L
            val y = java.math.BigDecimal.valueOf(e.value * 100)
              .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
            st = TrendState(st.minTs, st.n + 1, st.sx + x, st.sy + y,
              st.sxy + x * y, st.sxx + x * x)
          }
          state.update(st)
          val num = st.n * st.sxy - st.sx * st.sy
          val den = st.n * st.sxx - st.sx * st.sx
          TrendEstimate(tpe, st.n, num, den,
            if (den == 0L) 0.0 else num.toDouble / den.toDouble)
      }
  }

  final case class Smoothed(event_id: Long, user_id: Long, ts_us: Long,
      cents: Long, ewma_num: Long, ewma_cents: Double)

  /** e20's streaming face: truncated EWMA (α = 1/2, 16 observations)
    * per user as a flatMapGroupsWithState ring buffer — state per user
    * is the 15 PRECEDING cent values (oldest first), so each arrival
    * with a full frame emits num = cents·2¹⁵ + Σᵢ ring(i)·2ⁱ — exactly
    * the batch plan's 16-lag weighted sum — and the single IEEE
    * division num/65535.0. Same HALF_UP cent rounding as SQL round()
    * (the [[streamingQuantiles]] lesson); a stream whose batches
    * respect time order reproduces e20 ROW-FOR-ROW (StreamingSpec).
    */
  def ewmaSmooth(events: Dataset[Event]): Dataset[Smoothed] = {
    import events.sparkSession.implicits._
    val W = 16
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Vector[Long], Smoothed](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) { (user, it, state) =>
        var ring = state.getOption.getOrElse(Vector.empty[Long])
        val out = Vector.newBuilder[Smoothed]
        it.toVector.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
          val cents = java.math.BigDecimal.valueOf(e.value * 100)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
          if (ring.length == W - 1) {
            var num = cents << (W - 1)
            var i = 0
            while (i < ring.length) { num += ring(i) << i; i += 1 }
            out += Smoothed(e.event_id, user, us(e.ts), cents, num,
              num.toDouble / 65535.0)
          }
          ring = (if (ring.length == W - 1) ring.tail else ring) :+ cents
        }
        state.update(ring)
        out.result().iterator
      }
  }

  final case class Doc(doc_id: Long, text: String)
  final case class DupMatch(doc_id: Long, dup_of: Long, est_jaccard: Double)

  /** Streaming near-duplicate detection: MinHash-LSH with per-bucket
    * state. Each arriving document's 32-hash signature fans out to 16
    * band buckets; `flatMapGroupsWithState` keeps the signatures seen
    * per bucket and emits a match when a new signature agrees with a
    * stored one on ≥ `minEstJaccard` of the permutations — the
    * streaming twin of batch d02, with state sharded by bucket (each
    * entry is one fixed 32×8-byte signature; a TTL/watermark policy
    * would bound it in production).
    */
  def streamingNearDup(docs: Dataset[Doc],
      minEstJaccard: Double = 0.5): Dataset[DupMatch] = {
    import docs.sparkSession.implicits._
    import graft.functions.MinHashAgg
    val shingled = docs.flatMap { doc =>
      // same native shingle kernel as batch d02 → identical signatures
      val grams = graft.functions.ShinglePolyHashes.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(doc.text), 3).toLongArray()
      if (grams.isEmpty) Seq.empty // <3 tokens: no signature (batch d02 parity)
      else {
        val sig = grams.foldLeft(new MinHashAgg().zero)(new MinHashAgg().reduce)
        // fan out to 16 bands of 2 rows; key = (band, both minhashes)
        (0 until 16).map(b => (s"$b:${sig(2 * b)}:${sig(2 * b + 1)}", doc.doc_id, sig))
      }
    }
    shingled
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Array[Long])], DupMatch](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) { (_, rows, state) =>
        var seen = state.getOption.getOrElse(Nil)
        val out = scala.collection.mutable.ListBuffer[DupMatch]()
        rows.toSeq.sortBy(_._2).foreach { case (_, id, sig) =>
          if (!seen.exists(_._1 == id)) {
            seen.foreach { case (prevId, prevSig) =>
              if (prevId != id) {
                val matches = sig.zip(prevSig).count { case (a, b) => a == b }
                val est = matches.toDouble / MinHashAgg.P
                if (est >= minEstJaccard)
                  out += DupMatch(math.max(id, prevId), math.min(id, prevId), est)
              }
            }
            seen = (id, sig) :: seen
          }
        }
        state.update(seen)
        out.iterator
      }
      // a pair agreeing on several bands reports once per band → dedup
      .dropDuplicates("doc_id", "dup_of")
  }

  final case class FunnelState(t1: Long, clicks: List[Long], purchases: List[Long])
  final case class FunnelProgress(user_id: Long, step: Int, t_us: Long)

  /** Streaming funnel — e11's streaming face: per-user
    * `flatMapGroupsWithState` tracking the earliest completion of
    * signup → click → purchase (each strictly after the previous,
    * within 7 days of funnel start) and emitting an updated
    * (user, step, time) row whenever a step completes or its
    * completion time improves (Update mode; latest row per
    * (user, step) is current).
    *
    * The state is ORDER-INDEPENDENT by construction — the same
    * property that makes streaming KLL equal its batch sketch: t1 is
    * a running min, and enough click/purchase candidates are retained
    * to re-derive (t2, t3) exactly when a LATE EARLIER signup shifts
    * the funnel start left. The retention rule is the pruning
    * fixed point: t1 only ever decreases, so the feasibility window
    * (t1', t1'+7d] for any future t1' ≤ t1 never admits an event
    * above t1+7d — candidates beyond the current horizon are dropped,
    * and the rest are bounded by the 7-day funnel window per user
    * (before the first signup arrives nothing can be pruned; a
    * production deployment adds a watermark TTL exactly like
    * streamingNearDup's note). StreamingSpec pins arrival-order
    * invariance: any batch split/permutation converges to the batch
    * e11 fixed point.
    */
  final case class CusumState(pf: Long, minPf: Long, lastS: Long)
  final case class CusumAlarm(event_id: Long, user_id: Long, ts_us: Long,
      cents: Long, s_cents: Long)

  /** e23's streaming face: the CUSUM closed form S_i = P_i − min(0,
    * min_{j≤i} P_j) carried as THREE longs of per-user state (prefix
    * sum, its running min, last S for onset detection) — exactly the
    * state the batch scaladoc promised, proof the prefix
    * reformulation streams. The allowance (user mean + slack) is a
    * TRAINED parameter here, passed in from a baseline corpus — a
    * live detector cannot know the stream's own final mean, which is
    * the honest operational difference from the batch retrospective;
    * StreamingSpec feeds the batch-computed means and pins the alarm
    * onsets row-for-row equal to e23 under any batch split.
    */
  def cusumAlarms(events: Dataset[Event], meanCents: Map[Long, Long],
      slackCents: Long, thresholdCents: Long): Dataset[CusumAlarm] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CusumState, CusumAlarm](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) { (user, it, state) =>
        var st = state.getOption.getOrElse(CusumState(0L, 0L, 0L))
        val k = meanCents.getOrElse(user, 0L) + slackCents
        val out = Vector.newBuilder[CusumAlarm]
        it.toVector.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
          val cents = java.math.BigDecimal.valueOf(e.value * 100)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
          val pf = st.pf + (cents - k)
          val minPf = math.min(st.minPf, pf)
          val s = pf - math.min(0L, minPf)
          if (s > thresholdCents && st.lastS <= thresholdCents)
            out += CusumAlarm(e.event_id, user, us(e.ts), cents, s)
          st = CusumState(pf, minPf, s)
        }
        state.update(st)
        out.result().iterator
      }
  }

  final case class Transition(user_id: Long, from_type: String, to_type: String)

  /** e21's streaming face: per-user LAST-EVENT state turns the event
    * stream into first-order transition pairs as they happen — the
    * live feed a next-action model or anomalous-flow monitor consumes,
    * where batch e21 computes the same pairs with one lag window. The
    * state is THREE fields per user (last ts_us, event_id, type) —
    * O(users), not O(events); each micro-batch sorts only its own
    * per-user slice by the family's total order, chains it onto the
    * stored last event, emits the pairs, and stores the new tail. On
    * a stream whose batches respect per-user time order (the family's
    * split-invariance contract — e18/e19/e20's), the emitted pair
    * multiset equals batch e21's lag exactly under ANY batch split,
    * pinned in StreamingSpec against e21's own counts.
    */
  def transitionPairs(events: Dataset[Event]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, String), Transition](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) { (user, it, state) =>
        var last = state.getOption
        val out = Vector.newBuilder[Transition]
        it.toVector.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
          last.foreach { case (_, _, t) => out += Transition(user, t, e.event_type) }
          last = Some((us(e.ts), e.event_id, e.event_type))
        }
        last.foreach(state.update)
        out.result().iterator
      }
  }

  def funnelSteps(events: Dataset[Event]): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    val weekUs = 604800000000L
    // (t1, t2, t3) from a state — the e11 definition, recomputed from
    // retained candidates (cheap: candidates live within one window)
    def resolve(st: FunnelState): (Long, Long, Long) = {
      val t1 = st.t1
      if (t1 == Long.MaxValue) (Long.MaxValue, Long.MaxValue, Long.MaxValue)
      else {
        val t2 = st.clicks.filter(c => c > t1 && c <= t1 + weekUs)
          .foldLeft(Long.MaxValue)(math.min)
        val t3 =
          if (t2 == Long.MaxValue) Long.MaxValue
          else st.purchases.filter(p => p > t2 && p <= t1 + weekUs)
            .foldLeft(Long.MaxValue)(math.min)
        (t1, t2, t3)
      }
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) { (user, rows, state) =>
        val prev = state.getOption.getOrElse(FunnelState(Long.MaxValue, Nil, Nil))
        val before = resolve(prev)
        var st = prev
        rows.foreach { e =>
          val t = us(e.ts)
          e.event_type match {
            case "signup" if t < st.t1 => st = st.copy(t1 = t)
            case "click" => st = st.copy(clicks = t :: st.clicks)
            case "purchase" => st = st.copy(purchases = t :: st.purchases)
            case _ => ()
          }
        }
        // prune to the horizon of the CURRENT t1 (safe for any future
        // smaller t1 — see scaladoc), dedup candidate lists
        if (st.t1 != Long.MaxValue) {
          val hi = st.t1 + weekUs
          st = FunnelState(st.t1,
            st.clicks.filter(_ <= hi).distinct,
            st.purchases.filter(_ <= hi).distinct)
        }
        state.update(st)
        val after = resolve(st)
        Seq(1, 2, 3).iterator.flatMap { k =>
          val (b, a) = (k match {
            case 1 => (before._1, after._1)
            case 2 => (before._2, after._2)
            case 3 => (before._3, after._3)
          })
          // t_us = −1 RETRACTS a previously emitted step: a late
          // earlier signup can shift the window so a step completed
          // under the old t1 is incomplete under the new one — the
          // latest row per (user, step) is always the current truth
          if (a != b) Some(FunnelProgress(user, k,
            if (a == Long.MaxValue) -1L else a))
          else None
        }
      }
  }

  /** Stream-stream interval join — e07's streaming twin: click →
    * purchase by the same user within [0, 10 min). Both sides carry
    * watermarks and the join condition time-bounds the match, which is
    * exactly what lets Structured Streaming bound its join state: a
    * buffered click can be dropped once the purchase-side watermark
    * passes click-time + 10 min (state is O(events in the horizon),
    * not O(stream)). Works identically on a batch DataFrame — the
    * watermark is a no-op there — so batch/stream parity is pinned in
    * StreamingSpec against the same rows.
    */
  def intervalJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "15 minutes")
    val buys = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "15 minutes")
    clicks.join(buys,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") < col("c_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("user_id"), col("c_ts"), col("p_ts"))
  }

  /** Stream-static enrichment join: a stream of events joined against
    * a static dimension table (the classic fact-stream × dimension
    * shape). The static side is planned per micro-batch with the
    * normal batch strategies — the planner broadcasts it while it fits
    * the threshold (stream side never shuffles) and falls back to a
    * shuffled join when it doesn't, the same no-forced-broadcast
    * policy as Dedup.jaccardFrom's count lookups; no watermark is
    * needed because the static side never grows stale mid-query
    * (re-ingest to refresh). Works identically on a batch events
    * DataFrame.
    */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(dim, Seq(key), "left")

  /** `dir`'s Hadoop FileSystem under the session's Hadoop
    * configuration: every storage call below goes through it, so the
    * sinks work on any scheme the session can reach (file, hdfs, s3a).
    */
  private def fsOf(s: SparkSession, dir: Path): FileSystem =
    dir.getFileSystem(s.sessionState.newHadoopConf())

  /** The one `foreachBatch` sink every batch-writing stream below starts
    * through: `checkpoint` (when given) is the query's
    * `checkpointLocation`, and `body` runs for each non-empty
    * micro-batch with its batch id.
    */
  private def eachBatch[T](ds: Dataset[T], checkpoint: Option[String] = None)(
      body: (Dataset[T], Long) => Unit): StreamingQuery =
    checkpoint.foldLeft(ds.writeStream)((w, c) => w.option("checkpointLocation", c))
      .foreachBatch { (batch: Dataset[T], batchId: Long) =>
        if (!batch.isEmpty) body(batch, batchId)
      }
      .start()

  /** The delta ledger in `dir` that [[diffStream]], [[burstStream]],
    * [[dataCardStream]] and [[lifecycleStream]] keep, and their
    * `*Ledger` readers fold. Every measure these ledgers hold merges
    * additively (sum, or XOR — its own inverse), so each micro-batch
    * lands only its own delta and the readout is a fold of all of them.
    *
    * - Naming: a batch's delta is `delta-<batchId>`; a stream with a
    *   static baseline lands it ONCE as `delta-base` before it starts.
    *   Both are written with overwrite.
    * - Replay: foreachBatch is at-least-once. The name derives from the
    *   batch id and the write overwrites, so a replayed batch re-writes
    *   the same delta instead of double-counting, and a restart
    *   re-derives an identical `delta-base`.
    * - Restart: idempotent naming covers same-batchId replays within
    *   one checkpointed run; a restart is consistent only if batch ids
    *   continue. With `checkpoint` the restarted query resumes its
    *   offsets and the prior deltas stay. Without one Spark starts
    *   again from batch 0 with possibly different boundaries, so
    *   [[stream]] first deletes the dead run's numeric deltas (never
    *   `delta-base`) and the fresh run re-derives the ledger.
    * - Readout: [[deltas]] reads every delta; a ledger with none yet
    *   (only empty batches so far) is a valid state whose readout is
    *   empty, not a path error.
    */
  private final class DeltaLedger(dir: String) {
    private val root = new Path(dir)

    private def entries(fs: FileSystem): Seq[Path] =
      if (fs.exists(root)) fs.listStatus(root).toSeq.map(_.getPath) else Seq.empty

    /** Lands `delta` as `delta-<name>` (a batch id, or `base`). */
    def write(name: Any, delta: DataFrame): Unit =
      delta.write.mode("overwrite").parquet(s"$dir/delta-$name")

    /** Starts `ds` through [[eachBatch]], after the restart guard. */
    def stream[T](ds: Dataset[T], checkpoint: Option[String])(
        body: (Dataset[T], Long) => Unit): StreamingQuery = {
      if (checkpoint.isEmpty) {
        val fs = fsOf(ds.sparkSession, root)
        entries(fs).filter(_.getName.matches("delta-\\d+")).foreach(fs.delete(_, true))
      }
      eachBatch(ds, checkpoint)(body)
    }

    /** Every delta landed so far, or no rows of `schema` (DDL) before
      * the first one. The listed deltas are read by name: a `delta-*`
      * glob makes Spark log a FileNotFoundException while it probes the
      * glob as a streaming sink's metadata dir.
      */
    def deltas(s: SparkSession, schema: String): DataFrame =
      entries(fsOf(s, root)).filter(_.getName.startsWith("delta-")) match {
        case Seq() => s.createDataFrame(java.util.List.of[Row](), StructType.fromDDL(schema))
        case paths => s.read.parquet(paths.map(_.toString): _*)
      }
  }

  /** True once `table` holds micro-batch `batchId`: the replay guard of
    * the batch_id-tagged index appends. A crash between an append
    * committing and the offset log committing makes Spark re-send the
    * batch, and a blind append would duplicate it permanently, so a
    * replayed id is skipped whole. The probe is a batch_id = N point
    * filter that parquet row-group stats prune to near-zero IO at any
    * index size.
    */
  private def landed(s: SparkSession, table: String, batchId: Long): Boolean =
    s.catalog.tableExists(table) &&
      !s.table(table).where(col("batch_id") === batchId).isEmpty

  /** Continuous CDC apply — q43's streaming face: maintain a parquet
    * snapshot at `snapshotDir` from a stream of changelog rows
    * (key, seq, op 'U'/'D', value). Every micro-batch is compacted to
    * its latest operation per key (q41's partial-aggregating `max_by`,
    * pick order total over the emitted values) and merged onto the
    * current snapshot with q43's upsert/delete/insert semantics in one
    * full-outer join; the new snapshot is then committed by
    * write-temp → swap (materialized BEFORE the old snapshot is
    * touched — the join reads it lazily).
    *
    * Exactly-once: foreachBatch replays a failed batch from the
    * checkpoint, and latest-per-key merge is IDEMPOTENT — re-applying
    * the same compacted batch to the post-swap snapshot upserts the
    * same values and re-deletes absent keys, converging to the same
    * state. (The swap itself has the Engine single-object caveat: a
    * delete+rename window a concurrent reader can observe; a table
    * format with atomic commit closes it in production.)
    */
  def applyChangelog(changes: DataFrame, snapshotDir: String): StreamingQuery =
    eachBatch(changes) { (batch, batchId) =>
      val s = batch.sparkSession
      val comp = batch.groupBy("key")
        .agg(max_by(struct(col("op"), col("value")),
          struct(col("seq"), col("value"), col("op"))).as("m"))
        .select(col("key"), col("m.op").as("op"), col("m.value").as("cvalue"))
      val snap = new Path(snapshotDir)
      val fs = fsOf(s, snap)
      val hasSnap = fs.exists(snap)
      val cur =
        if (hasSnap) s.read.parquet(snapshotDir)
        else s.emptyDataFrame.select(lit(0L).as("key"), lit(0.0).as("value")).limit(0)
      val next = cur.join(comp, Seq("key"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(col("key"),
          when(col("op").isNull, col("value")).otherwise(col("cvalue")).as("value"))
      val tmp = new Path(s"$snapshotDir.tmp-$batchId")
      next.write.mode("overwrite").parquet(tmp.toString) // materialize FIRST
      if (hasSnap) fs.delete(snap, true)
      if (!fs.rename(tmp, snap))
        throw new IllegalStateException(s"graft: snapshot swap failed for $snapshotDir")
    }

  /** q60's STREAMING face — [[applyChangelog]]'s dual: q43-apply
    * REPLAYS a kept changelog onto a snapshot; this RECOVERS one
    * live, maintaining q60's added/removed/changed/unchanged ledger
    * continuously as micro-batches of the NEW snapshot land against
    * a static OLD baseline.
    *
    * Scale shape — per-batch work ∝ BATCH size, never a re-diff:
    * every ledger measure q60 emits is group-mergeable (count: add;
    * key_checksum: XOR, its own inverse; cent totals: add), so a
    * landing key is a pure DELTA — out of `removed` (where the
    * baseline starts every old key) and into its real class, or into
    * `added` when the baseline never held it. One stream-static
    * left join of the batch against the baseline classifies the
    * moves (the batch side is micro-batch-sized — AQE broadcasts
    * it); the 4-row class delta lands in the [[DeltaLedger]] at
    * `ledgerDir`, whose naming, replay and restart contract
    * (`checkpoint`) this stream keeps; the baseline's aggregate is its
    * `delta-base`. [[diffLedger]] folds baseline + deltas back into
    * q60's exact output shape — a ≤(4 × batches)-row aggregate.
    */
  def diffStream(newRows: DataFrame, old: DataFrame, ledgerDir: String,
      checkpoint: Option[String] = None): StreamingQuery = {
    val ledger = new DeltaLedger(ledgerDir)
    // baseline: every old key opens in 'removed' (nothing has arrived)
    ledger.write("base", old.groupBy()
      .agg(count(lit(1)).as("dn"), expr("bit_xor(key)").as("dkx"),
        sum(col("cents")).as("doc"), sum(lit(0L)).as("dnc"))
      .select(lit("removed").as("diff_class"), col("dn"), col("dkx"),
        col("doc"), col("dnc"))
      .where(col("dn") > 0))
    ledger.stream(newRows, checkpoint) { (batch, batchId) =>
      val moves = batch.as("b")
        .join(old.as("o"), col("b.key") === col("o.key"), "left_outer")
        .select(col("b.key").as("key"), col("o.cents").as("old_cents"),
          col("b.cents").as("new_cents"))
        .withColumn("cls",
          when(col("old_cents").isNull, "added")
            .when(col("old_cents") =!= col("new_cents"), "changed")
            .otherwise("unchanged"))
      // +1 into the landing class; −1 out of 'removed' for keys
      // the baseline held (XOR cancels the baseline's checksum
      // contribution, negation cancels its cent total)
      val pos = moves.select(col("cls").as("diff_class"), lit(1L).as("dn"),
        col("key"), coalesce(col("old_cents"), lit(0L)).as("doc"),
        col("new_cents").as("dnc"))
      val neg = moves.where(col("old_cents").isNotNull)
        .select(lit("removed").as("diff_class"), lit(-1L).as("dn"),
          col("key"), (-col("old_cents")).as("doc"), lit(0L).as("dnc"))
      ledger.write(batchId, pos.unionAll(neg)
        .groupBy("diff_class")
        .agg(sum("dn").as("dn"), expr("bit_xor(key)").as("dkx"),
          sum("doc").as("doc"), sum("dnc").as("dnc")))
    }
  }

  /** The current q60 ledger from a [[diffStream]] directory: fold the
    * baseline + per-batch deltas per class (sum / XOR / sum / sum —
    * the mergeability diffStream's scaladoc argues), drop classes no
    * key currently occupies (q60 emits no zero-count rows). Once the
    * full new snapshot has arrived this equals batch q60 row-for-row
    * (StreamingSpec pins 1-batch ≡ 3-batch ≡ batch).
    */
  def diffLedger(s: SparkSession, ledgerDir: String): DataFrame =
    new DeltaLedger(ledgerDir)
      .deltas(s, "diff_class STRING, dn BIGINT, dkx BIGINT, doc BIGINT, dnc BIGINT")
      .groupBy("diff_class")
      .agg(sum("dn").as("n"), expr("bit_xor(dkx)").as("key_checksum"),
        sum("doc").as("old_cents_total"), sum("dnc").as("new_cents_total"))
      .where(col("n") > 0)
      .orderBy("diff_class")

  /** e25's STREAMING face, part 1 — maintain the per-(user, hour)
    * event-count ledger continuously as micro-batches land: each batch
    * reduces to its own (user_id, hour_us, cnt) delta in the
    * [[DeltaLedger]] at `ledgerDir` (its replay and restart contract).
    * Hour counts merge ADDITIVELY across deltas, which is the whole
    * reason the ledger is count-shaped: the burst predicate itself (a
    * variance test) is not mergeable, but its sufficient statistics
    * are.
    *
    * Scale shape: per batch ONE partial+final count aggregation of
    * the batch's own rows (never the history) and one delta-sized
    * write; the ledger grows by touched (user, hour) keys only. A
    * production deployment would periodically compact `delta-*` into
    * a base (K1e's compactArchive shape).
    */
  def burstStream(events: Dataset[Event], ledgerDir: String,
      checkpoint: Option[String] = None): StreamingQuery = {
    val hourUs = graft.operators.EventWindows.HourUs
    val ledger = new DeltaLedger(ledgerDir)
    ledger.stream(events, checkpoint) { (batch, batchId) =>
      ledger.write(batchId, batch
        .select(col("user_id"),
          (unix_micros(col("ts")) - unix_micros(col("ts")) % hourUs)
            .as("hour_us"))
        .groupBy("user_id", "hour_us")
        .agg(count(lit(1)).as("cnt")))
    }
  }

  /** e25's STREAMING face, part 2 — the current burst readout from a
    * [[burstStream]] ledger: fold the per-batch deltas additively per
    * (user, hour), then apply the SHIPPED e25 predicate
    * ([[graft.operators.EventWindows.burstFlags]] — the same exact-
    * BIGINT variance test, never a twin). Once all events have
    * arrived this equals batch e25 row-for-row under ANY batch split
    * (counts are order-independent; StreamingSpec pins 1-batch ≡
    * 3-batch ≡ batch). No delta yet → no bursts.
    */
  def burstLedger(s: SparkSession, ledgerDir: String): DataFrame =
    graft.operators.EventWindows.burstFlags(new DeltaLedger(ledgerDir)
        .deltas(s, "user_id BIGINT, hour_us BIGINT, cnt BIGINT")
        .groupBy("user_id", "hour_us")
        .agg(sum("cnt").as("cnt")))
      .orderBy("user_id", "hour_us")

  /** [[maintainIndex]]'s arrival row — the [[graft.Vec.withNorm]]
    * projection as a streaming-encodable shape.
    */
  final case class ArrivalVec(vec_id: Long, label: Int, v: Seq[Double], nrm: Double)

  /** s14's STREAMING face: continuous vector-index maintenance — an
    * arrival stream of normed embeddings (the [[graft.Vec.withNorm]]
    * shape: vec_id, label, v, nrm) folds into a bucketed index
    * catalog table with FROZEN centroids. Per micro-batch: the same
    * narrow baked-literal argmin assignment the batch operators use
    * ([[graft.operators.Similarity.cellOf]] — the shipped kernel,
    * never a twin), then an APPEND to the bucketed table (first batch
    * creates it; Spark enforces the matching bucket spec on every
    * later append), so probe queries (s05/s06/s17) see arrivals as
    * soon as their batch commits and keep their bucket-pruned plans.
    * No retraining, no base reshuffle — the s14/d09 incremental
    * contract; the retrain-policy readout stays with batch s14.
    *
    * Determinism: assignment is per-row and centroids are frozen, so
    * the final table CONTENTS are a pure function of the arrival SET —
    * invariant to micro-batch splits, arrival order, AND replays:
    * each append carries its batch_id and a replayed id is skipped
    * whole ([[landed]]). StreamingSpec pins 1-batch ≡ 3-batch
    * ingestion row-for-row, a replayed batch landing nothing, and
    * per-cell counts against s14's own batch assignment.
    */
  def maintainIndex(arrivals: DataFrame,
      centroids: Seq[(Long, Array[Double], Double)],
      tableName: String): StreamingQuery = {
    val buckets = graft.operators.Similarity.ivfBuckets(centroids)
    eachBatch(arrivals) { (batch, batchId) =>
      // the micro-batch runs in a cloned session: the native
      // kernel must be registered THERE for the argmin call
      val s = batch.sparkSession
      graft.functions.GraftFunctions.register(s)
      if (!landed(s, tableName, batchId))
        batch
          .withColumn("cell", graft.operators.Similarity.cellOf(centroids))
          .select(col("vec_id"), col("cell"), col("label"), col("v"),
            col("nrm"), lit(batchId).as("batch_id"))
          .write.format("parquet").mode("append")
          .bucketBy(buckets, "cell").sortBy("cell")
          .saveAsTable(tableName)
    }
  }

  /** c03: CONTINUOUS CURATION — c01's pipeline shape lifted to the
    * stream, every stage the SHIPPED rule: each micro-batch of
    * documents is (1) gated by x03's quality score (the one shared
    * `qualityScored` implementation, so stream and batch can never
    * drift), (2) exact-dedup'd within the batch (keep-lowest doc_id
    * per text — d01's election), (3) anti-joined against the
    * PERSISTENT text index (d09's stored-index shape as a bucketed
    * catalog table — the re-crawl filter a live crawler needs), and
    * (4) survivors landed as one chiv-format object per batch
    * (archiveStream's contract) while their fingerprints APPEND to
    * the index so the next batch sees them. Replay-safe under
    * foreachBatch's at-least-once contract: index appends carry
    * batch_id and a replayed batch is skipped whole ([[landed]]);
    * landing runs BEFORE the index append and its object key derives
    * from the batch id, so the only replayable window re-writes the
    * same object rather than duplicating rows. At 100 TB the
    * per-batch cost is the batch × index bucket-local anti join plus
    * a narrow append — the index is never rewritten.
    */
  def curateStream(docs: DataFrame, engine: graft.engine.Engine,
      indexTable: String, destDir: String): StreamingQuery =
    eachBatch(docs) { (batch, batchId) =>
      val s = batch.sparkSession
      val gated = graft.operators.TextAnalysis.qualityScored(batch)
        .where(col("quality") =!= "low")
        .select(col("doc_id"), col("text"))
      val inBatch = gated.groupBy("text").agg(min("doc_id").as("doc_id"))
      if (!landed(s, indexTable, batchId)) {
        val novel = (if (s.catalog.tableExists(indexTable))
            inBatch.join(s.table(indexTable), Seq("text"), "left_anti")
          else inBatch)
          .select(col("doc_id"), col("text"))
          .cache()
        if (!novel.isEmpty) {
          engine.archiveDF(novel, destDir, s"docs-$batchId", _.copy(key = None))
          novel.select(col("text"), col("doc_id"), lit(batchId).as("batch_id"))
            .write.format("parquet").mode("append")
            .bucketBy(8, "text").saveAsTable(indexTable)
        }
        novel.unpersist(blocking = false)
      }
    }

  /** c05's STREAMING face, part 1 — maintain the corpus DATA CARD
    * continuously as document micro-batches land. Per batch: the
    * SHIPPED fused scoring pass (qualityScored ∘ langidScoredDf — the
    * same one-scan attribute projection batch c05 runs), duplicate
    * classification against a PERSISTENT bucketed text index (the
    * d09/curateStream discipline: a text already indexed is a dup of
    * an earlier arrival; within the batch the min id keeps), then ONE
    * per-language sufficient-statistics delta in the [[DeltaLedger]]
    * at `ledgerDir` (every card measure is an additive count, so
    * deltas merge) and the batch's novel texts APPENDED to the index
    * batch_id-guarded ([[landed]]).
    *
    * Replay safety (at-least-once foreachBatch): the delta write
    * precedes the index append — a replay after a crash BETWEEN them
    * recomputes against an index that does not yet hold this batch
    * (identical delta, overwritten in place, then the append); a
    * replay AFTER the append sees its batch_id in the index and skips
    * entirely (the delta is already on disk from the first attempt).
    *
    * Equality contract: on a stream whose batches respect doc-id
    * order (the family's split-invariance contract), the ledger
    * equals batch c05 over the arrived docs — first arrival = min id,
    * so index-based dup flags reproduce d01's min-id rule exactly
    * (StreamingSpec pins 1-batch ≡ 3-batch ≡ batch c05).
    */
  def dataCardStream(docs: DataFrame, indexTable: String, ledgerDir: String,
      checkpoint: Option[String] = None): StreamingQuery = {
    val ledger = new DeltaLedger(ledgerDir)
    ledger.stream(docs, checkpoint) { (batch, batchId) =>
      val s = batch.sparkSession
      if (!landed(s, indexTable, batchId)) {
        val scored = graft.operators.TextAnalysis.langidScoredDf(
            graft.operators.TextAnalysis.qualityScored(batch))
          .select(col("doc_id"), col("text"), col("pred_lang"),
            col("n_chars"), col("n_tokens"), col("quality"))
          .cache()
        val keep = scored.groupBy("text").agg(min("doc_id").as("keep_id"))
        val seen =
          if (s.catalog.tableExists(indexTable))
            s.table(indexTable).select(col("text")).distinct()
              .withColumn("seen", lit(true))
          else scored.limit(0).select(col("text"), lit(true).as("seen"))
        val flagged = scored.join(keep, Seq("text"))
          .join(seen, Seq("text"), "left")
          .withColumn("is_dup",
            when(col("seen").isNotNull || col("doc_id") =!= col("keep_id"), 1L)
              .otherwise(0L))
        ledger.write(batchId, flagged
          .groupBy("pred_lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").as("n_tokens"),
            sum("n_chars").as("n_chars"),
            sum(when(col("quality") === "high", 1L).otherwise(0L)).as("n_high"),
            sum(when(col("quality") === "medium", 1L).otherwise(0L)).as("n_medium"),
            sum(when(col("quality") === "low", 1L).otherwise(0L)).as("n_low"),
            sum("is_dup").as("n_dup")))
        // novel texts (in-batch keepers not previously indexed)
        // enter the index so the NEXT batch sees them
        val novel = flagged
          .where(col("seen").isNull && col("doc_id") === col("keep_id"))
          .select(col("text"), col("doc_id"), lit(batchId).as("batch_id"))
        if (!novel.isEmpty)
          novel.write.format("parquet").mode("append")
            .bucketBy(8, "text").saveAsTable(indexTable)
        scored.unpersist(blocking = false)
      }
    }
  }

  /** c05's STREAMING face, part 2 — the current data card from a
    * [[dataCardStream]] ledger: fold the per-batch deltas additively
    * per language and emit batch c05's exact readout (dup_rate as the
    * same guarded single division). Empty ledger → empty card.
    */
  def dataCardLedger(s: SparkSession, ledgerDir: String): DataFrame =
    new DeltaLedger(ledgerDir)
      .deltas(s, "pred_lang STRING, n_docs BIGINT, n_tokens BIGINT, n_chars BIGINT, " +
        "n_high BIGINT, n_medium BIGINT, n_low BIGINT, n_dup BIGINT")
      .groupBy("pred_lang")
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum("n_chars").as("n_chars"), sum("n_high").as("n_high"),
        sum("n_medium").as("n_medium"), sum("n_low").as("n_low"),
        sum("n_dup").as("n_dup"))
      .select(col("pred_lang"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_high"), col("n_medium"), col("n_low"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_docs")).as("dup_rate"))
      .orderBy("pred_lang")

  /** c06's STREAMING face, part 1 — the INDEX LIFECYCLE as a stream:
    * the BASE index's per-cell ledger lands ONCE as `delta-base`; each
    * micro-batch of ARRIVALS is assigned its cell under the FROZEN
    * centroids (s14's incremental-insert rule — the caller passes the
    * trained centroid literals, so training never reruns per batch)
    * and folds ADDITIVELY into the occupancy ledger with s23's
    * tombstone verdict (vec_id ≡ 0 mod 9) applied per row. Every c06
    * measure is additive — counts and an id-sum checksum — which is
    * exactly what makes the lifecycle streamable as a
    * [[DeltaLedger]] (its replay and restart contract): no per-cell
    * state store, just one grouped SUM per batch. [[lifecycleLedger]]
    * folds base + deltas back into batch c06's per-cell rows
    * (StreamingSpec pins 1-batch ≡ 3-batch ≡ batch c06).
    */
  def lifecycleStream(arrivals: DataFrame, base: DataFrame,
      centroids: Seq[(Long, Array[Double], Double)], ledgerDir: String,
      checkpoint: Option[String] = None): StreamingQuery = {
    require(centroids.nonEmpty, "graft: lifecycleStream needs trained centroids")
    def cellLedger(rows: DataFrame, arrived: Boolean): DataFrame =
      rows.withColumn("cell", graft.operators.Similarity.cellOf(centroids))
        .groupBy("cell")
        .agg(
          sum(lit(if (arrived) 0L else 1L)).as("n_base"),
          sum(lit(if (arrived) 1L else 0L)).as("n_arrived"),
          sum(when(col("vec_id") % 9 === 0, 1L).otherwise(0L)).as("n_tombstoned"),
          sum(when(col("vec_id") % 9 =!= 0, 1L).otherwise(0L)).as("n_live"),
          sum(when(col("vec_id") % 9 =!= 0, col("vec_id")).otherwise(0L))
            .as("live_checksum"))
    val ledger = new DeltaLedger(ledgerDir)
    ledger.write("base", cellLedger(base, arrived = false))
    ledger.stream(arrivals, checkpoint) { (batch, batchId) =>
      ledger.write(batchId, cellLedger(batch, arrived = true))
    }
  }

  /** c06's STREAMING face, part 2 — the current lifecycle ledger from
    * a [[lifecycleStream]] directory: fold base + per-batch deltas
    * per cell (every measure additive by construction) into batch
    * c06's exact per-cell output shape.
    */
  def lifecycleLedger(s: SparkSession, ledgerDir: String): DataFrame =
    new DeltaLedger(ledgerDir)
      .deltas(s, "cell BIGINT, n_base BIGINT, n_arrived BIGINT, n_tombstoned BIGINT, " +
        "n_live BIGINT, live_checksum BIGINT")
      .groupBy("cell")
      .agg(sum("n_base").as("n_base"), sum("n_arrived").as("n_arrived"),
        sum("n_tombstoned").as("n_tombstoned"), sum("n_live").as("n_live"),
        sum("live_checksum").as("live_checksum"))
      .orderBy("cell")

  /** Continuous archiving: the reference's whole purpose (archive
    * query results to object storage) lifted to a stream — every
    * micro-batch becomes one archived object
    * `<table>-<batchId>.<ext>` via [[graft.engine.Engine]], giving
    * chiv-format output with exactly-once-per-batch semantics from
    * the checkpoint.
    */
  def archiveStream(events: DataFrame, engine: graft.engine.Engine,
      destDir: String, table: String): StreamingQuery =
    eachBatch(events) { (batch, batchId) =>
      // clear any fixed key from the engine's base config — a fixed
      // key would make every batch overwrite the same object
      engine.archiveDF(batch, destDir, s"$table-$batchId", _.copy(key = None))
      ()
    }
}
