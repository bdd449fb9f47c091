package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import java.sql.Timestamp
import java.time.Instant

/** Streaming semantics through MemoryStream micro-batches. */
class StreamingSpec extends SparkSpec {
  import StreamingOps._

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.from(Instant.parse(f"2024-01-01T00:$minute%02d:$sec%02dZ"))

  private def ev(id: Long, minute: Int, user: Long, v: Double = 1.0,
      sec: Int = 0): Event =
    Event(id, ts(minute, sec), user, "click", v)

  test("tumblingCounts finalizes windows past the watermark (Append)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Event]
    val q = tumblingCounts(input.toDF())
      .writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(ev(1, 1, 10), ev(2, 5, 11), ev(3, 12, 10))
      q.processAllAvailable()
      // watermark still at 0 → nothing finalized yet
      assert(spark.table("tumbling").count() == 0)
      // push event time far ahead → first windows close
      input.addData(ev(4, 59, 12))
      q.processAllAvailable()
      input.addData(ev(5, 59, 13))
      q.processAllAvailable()
      val rows = spark.table("tumbling").collect()
        .map(r => (r.getTimestamp(0).toInstant.toString, r.getLong(2)))
        .toSet
      assert(rows.contains(("2024-01-01T00:00:00Z", 2L))) // minutes 1 & 5
      assert(rows.contains(("2024-01-01T00:10:00Z", 1L))) // minute 12
    } finally q.stop()
  }

  test("dedupe drops repeated event ids within the watermark") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Event]
    val q = dedupe(input.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(ev(1, 1, 10), ev(1, 1, 10), ev(2, 2, 10))
      q.processAllAvailable()
      input.addData(ev(1, 3, 10), ev(3, 4, 10))
      q.processAllAvailable()
      assert(spark.table("dedup").select("event_id").collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("runningUserTotals keeps per-user state across micro-batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Event]
    val q = runningUserTotals(input.toDS())
      .writeStream.format("memory").queryName("running")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(ev(1, 1, 10, v = 2.0), ev(2, 2, 10, v = 3.0))
      q.processAllAvailable()
      input.addData(ev(3, 3, 10, v = 5.0), ev(4, 3, 20, v = 7.0))
      q.processAllAvailable()
      val last = spark.table("running").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (u, rows) => rows.maxBy(_._2) }
      assert(last.toSet == Set((10L, 3L, 10.0), (20L, 1L, 7.0)))
    } finally q.stop()
  }

  test("streamingNearDup flags near-duplicate docs across micro-batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 45).map(i => s"tok$i") ++ Seq("x1", "x2", "x3", "x4", "x5")).mkString(" ")
    val unrelated = (1 to 50).map(i => s"other$i").mkString(" ")
    val input = MemoryStream[StreamingOps.Doc]
    val q = StreamingOps.streamingNearDup(input.toDS())
      .writeStream.format("memory").queryName("neardup")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(StreamingOps.Doc(1, base), StreamingOps.Doc(2, unrelated))
      q.processAllAvailable()
      assert(spark.table("neardup").count() == 0) // nothing similar yet
      input.addData(StreamingOps.Doc(3, nearDup)) // later batch, matches doc 1
      // two short (<3 tokens) docs must NOT match each other (their
      // gram set is empty — no signature, not an all-MaxValue one)
      input.addData(StreamingOps.Doc(4, "hi there"), StreamingOps.Doc(5, "bye now"))
      q.processAllAvailable()
      val matches = spark.table("neardup").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(matches == Set((3L, 1L)))
    } finally q.stop()
  }

  test("streamingApproxDistinct's final estimate equals the batch HLL over the same rows") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.streamingApproxDistinct(input.toDS())
      .writeStream.format("memory").queryName("hllstream")
      .outputMode(OutputMode.Update()).start()
    try {
      // two micro-batches with overlapping users, over TWO event types
      // with disjoint user ranges: state must merge across batches AND
      // stay isolated per type
      def typed(id: Int, user: Long, tpe: String) =
        Event(id.toLong, ts(1), user, tpe, 1.0)
      input.addData((1 to 400).map(i => typed(i, i % 250, "click")) ++
        (1 to 100).map(i => typed(1000 + i, 100000L + i % 60, "view")): _*)
      q.processAllAvailable()
      input.addData((401 to 800).map(i => typed(i, i % 350, "click")): _*)
      q.processAllAvailable()
      val streamed = spark.table("hllstream").as[DistinctEstimate].collect()
        .groupBy(_.event_type).map { case (t, rows) => t -> rows.last.approx_users }
      // batch twin: fold every user_id through the same Aggregator
      val agg = new graft.functions.HllAgg
      val batch = agg.finish(
        ((1 to 400).map(i => (i % 250).toLong) ++ (401 to 800).map(i => (i % 350).toLong))
          .foldLeft(agg.zero)(agg.reduce))
      assert(streamed("click") == batch)
      // sanity: 350 true distinct click users / 60 view users; the
      // small view sketch must not absorb click's keys
      assert(math.abs(streamed("click") / 350.0 - 1.0) < 0.15)
      assert(math.abs(streamed("view") / 60.0 - 1.0) < 0.15)
    } finally q.stop()
  }

  test("streamingSketchRollup's final window estimates equal e16's batch merge bit-for-bit") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamingOps.Event].collect()
    val input = MemoryStream[StreamingOps.Event]
    val q = StreamingOps.streamingSketchRollup(input.toDS())
      .writeStream.format("memory").queryName("sketchroll")
      .outputMode(OutputMode.Update()).start()
    try {
      // arbitrary micro-batch split: order independence is the claim
      val (a, b) = evs.splitAt(evs.length / 3)
      input.addData(a.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("sketchroll")
        .as[StreamingOps.WindowEstimate].collect()
        .groupBy(_.win_start_us)
        .map { case (w, rows) => w -> rows.last.approx_users }
      val batch = graft.Registry.byName("e16_sketch_rollup").fn(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(streamed.keySet == batch.keySet, "window sets diverged")
      batch.foreach { case (w, v) =>
        assert(streamed(w) == v, s"window $w: streaming ${streamed(w)} != batch $v")
      }
    } finally q.stop()
  }

  test("stickinessStream's final estimates equal a batch HLL fold per day and per trailing week") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val DayUs = 86400000000L
    def ev(id: Long, day: Long, user: Long) =
      Event(id, Timestamp.from(Instant.ofEpochSecond(day * 86400 + 1)),
        user, "view", 1.0)
    // three active days: day 0 (users 1,2), day 1 (user 3), day 8
    // (user 1) — day 8's trailing week excludes day 0/1 entirely
    val evs = Seq(ev(1, 0, 1), ev(2, 0, 1), ev(3, 0, 2),
      ev(4, 1, 3), ev(5, 8, 1))
    val input = MemoryStream[Event]
    val q = StreamingOps.stickinessStream(input.toDS())
      .writeStream.format("memory").queryName("stick")
      .outputMode(OutputMode.Update()).start()
    try {
      // arbitrary split: order independence is the claim
      input.addData(evs.take(2): _*)
      q.processAllAvailable()
      input.addData(evs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("stick")
        .as[StreamingOps.StickinessEstimate].collect()
        .groupBy(e => (e.day_us, e.role))
        .map { case (k, rows) => k -> rows.last.approx_users }
      def hll(users: Seq[Long]): Double = {
        val agg = new graft.functions.HllAgg
        agg.finish(users.foldLeft(agg.zero)(agg.reduce))
      }
      // dau rows exist exactly for the active days, bit-equal to the
      // batch fold over that day's users
      assert(streamed((0L, "dau")) == hll(Seq(1L, 1L, 2L)))
      assert(streamed((1L * DayUs, "dau")) == hll(Seq(3L)))
      assert(streamed((8L * DayUs, "dau")) == hll(Seq(1L)))
      // wau at day 1 covers days 0..1; at day 8 only day 8 (days 2..8)
      assert(streamed((1L * DayUs, "wau")) == hll(Seq(1L, 1L, 2L, 3L)))
      assert(streamed((8L * DayUs, "wau")) == hll(Seq(1L)))
      // fan-out emits week-ending keys for 7 days after an active day
      assert(streamed.keys.count(_._2 == "wau") == 7 + 7 + 7 - 6) // days 0-7, 1-7 overlap, 8-14
    } finally q.stop()
  }

  test("streaming signature fold equals batch MinHashAgg over the same shingle kernel") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs today"))
    // batch side: shingle_polyhashes → MinHashAgg, exactly d02's pipeline
    val batch = texts.toDF("doc_id", "text")
      .select(col("doc_id"), explode(expr("shingle_polyhashes(text, 3)")).as("g"))
      .groupBy("doc_id")
      .agg(graft.functions.MinHashAgg.minhash(col("g")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    // streaming side: the per-document fold streamingNearDup uses
    val agg = new graft.functions.MinHashAgg
    val stream = texts.map { case (id, t) =>
      val grams = graft.functions.ShinglePolyHashes.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), 3).toLongArray()
      id -> grams.foldLeft(agg.zero)(agg.reduce).toVector
    }.toMap
    assert(batch == stream)
  }

  test("readEventsStream normalizes the events source ts to µs like the batch loader") {
    // the file stream source needs a directory of landed files
    val dir = java.nio.file.Files.createTempDirectory("graft-events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    val out = StreamingOps.readEventsStream(spark, dir.toString)
      .writeStream.format("memory").queryName("rawevents").start()
    try {
      out.processAllAvailable()
      val t = spark.table("rawevents")
      assert(t.count() > 0)
      assert(t.schema("ts").dataType.typeName == "timestamp")
      // same values as the batch loader
      val batchMin = graft.Tables.events(spark, "/root/testdata/sf0.001")
        .agg(org.apache.spark.sql.functions.min("ts_us")).head().getLong(0)
      val streamMin = t.agg(org.apache.spark.sql.functions.min("ts_us")).head().getLong(0)
      assert(batchMin == streamMin)
    } finally out.stop()
  }

  test("archiveStream archives each micro-batch as a chiv-format object") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-archive").toString
    val input = MemoryStream[Event]
    val engine = new graft.engine.Engine(spark)
    val q = StreamingOps.archiveStream(input.toDF(), engine, dir, "events")
    try {
      input.addData(ev(1, 1, 10), ev(2, 2, 11))
      q.processAllAvailable()
      input.addData(ev(3, 3, 12))
      q.processAllAvailable()
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .toArray.map(_.toString).filter(_.endsWith(".csv")).sorted
      assert(files.length == 2)
      val first = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(files.head)))
      assert(first.startsWith("event_id,ts,user_id,event_type,value"))
      assert(first.linesIterator.size == 3) // header + 2 rows
    } finally q.stop()
  }

  test("sessionize works on the batch events table with identical semantics") {
    // same expression tree as e03; smoke the streaming-shaped API on batch
    val batch = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val out = StreamingOps.sessionize(batch.drop("ts_us"))
    assert(out.count() > 0)
  }

  test("intervalJoin pairs click→purchase within 10 min across micro-batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def typed(id: Int, minute: Int, user: Long, tpe: String) =
      Event(id.toLong, ts(minute), user, tpe, 1.0)
    val input = MemoryStream[Event]
    val q = StreamingOps.intervalJoin(input.toDF())
      .writeStream.format("memory").queryName("ijoin")
      .outputMode(OutputMode.Append()).start()
    try {
      // clicks arrive first; purchases in a LATER micro-batch must
      // still match buffered clicks (that buffering is the join state)
      input.addData(typed(1, 1, 10, "click"), typed(2, 6, 11, "click"))
      q.processAllAvailable()
      input.addData(
        typed(3, 5, 10, "purchase"), // pairs with click@1 (gap 4 min)
        typed(4, 20, 10, "purchase"), // > 10 min after click@1: no pair
        typed(5, 9, 11, "purchase"), // pairs with click@6 (gap 3 min)
        typed(6, 5, 99, "purchase")) // user with no click: no pair
      q.processAllAvailable()
      val pairs = spark.table("ijoin").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toInstant.toString,
          r.getTimestamp(2).toInstant.toString)).toSet
      assert(pairs == Set(
        (10L, "2024-01-01T00:01:00Z", "2024-01-01T00:05:00Z"),
        (11L, "2024-01-01T00:06:00Z", "2024-01-01T00:09:00Z")))
    } finally q.stop()
  }

  test("streamingQuantiles' estimate after N batches equals the batch sketch bit-for-bit") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def priced(id: Int, v: Double, tpe: String) = Event(id.toLong, ts(1), 1L, tpe, v)
    val batch1 = (1 to 3000).map(i => priced(i, (i * 37 % 1000) / 10.0, "click"))
    val batch2 = (3001 to 9000).map(i => priced(i, (i * 91 % 5000) / 10.0, "click")) ++
      (1 to 500).map(i => priced(20000 + i, i / 10.0, "view"))
    val input = MemoryStream[Event]
    val q = StreamingOps.streamingQuantiles(input.toDS())
      .writeStream.format("memory").queryName("kllstream")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("kllstream")
        .as[StreamingOps.QuantileEstimate].collect()
        .groupBy(_.event_type).map { case (t, rows) => t -> rows.last }
      // batch twin: fold every (cents, event_id) through the Aggregator,
      // converting to cents with the SAME HALF_UP rule as the operator
      // (math.round here would mask a negative-half divergence)
      val agg = new graft.functions.KllSampleAgg
      def cents(v: Double): Long = java.math.BigDecimal.valueOf(v * 100)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      assert(cents(-0.125) == -13L) // away from zero, like SQL round()
      def batchOf(evs: Seq[StreamingOps.Event]): Array[Long] =
        agg.finish(evs.foldLeft(agg.zero) { (b, e) =>
          agg.reduce(b, (cents(e.value), e.event_id)) })
      val clickBatch = batchOf((batch1 ++ batch2).filter(_.event_type == "click"))
      assert(streamed("click").p50 == clickBatch(0) / 100.0)
      assert(streamed("click").p99 == clickBatch(2) / 100.0)
      assert(streamed("click").sample_m == clickBatch(3))
      assert(streamed("click").lvl == clickBatch(4))
      assert(streamed("click").lvl >= 1L) // 9000 rows > K: sketch path engaged
      assert(streamed("view").lvl == 0L) // 500 rows <= K: exact
      assert(streamed("view").p50 == 25.0) // exact median of 0.1..50.0
    } finally q.stop()
  }

  test("rollingZscore reproduces batch e18's anomaly rows over the real events table") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sql = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val expected = graft.operators.EventWindows.e18.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    // feed the same rows in event-time order across three micro-batches
    val evs = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("ts_us"))
      .collect()
      .sortBy(r => (r.getLong(5), r.getLong(0)))
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val input = MemoryStream[Event]
    val q = StreamingOps.rollingZscore(input.toDS())
      .writeStream.format("memory").queryName("zstream")
      .outputMode(OutputMode.Append()).start()
    try {
      evs.grouped(evs.length / 3 + 1).foreach { b =>
        input.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("zstream").as[StreamingOps.Anomaly].collect()
        .map(a => (a.event_id, a.user_id, a.ts_us, a.cents, a.win_sum,
          a.win_sumsq)).toSet
      assert(expected.nonEmpty, "batch e18 found no anomalies — corpus degenerate")
      assert(streamed == expected,
        s"stream/batch divergence: ${streamed.diff(expected).take(3)} vs ${expected.diff(streamed).take(3)}")
    } finally q.stop()
  }

  test("dataCardStream recovers c05's card: 1-batch ≡ 3-batch ≡ batch c05") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val expect = graft.operators.Pipeline.c05.fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(expect.nonEmpty)
    // ascending-id arrival (the family's ordered-split contract):
    // first arrival = min id, so the index dup rule ≡ d01's min-id rule
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").orderBy("doc_id").collect()
      .map(r => StreamingOps.Doc(r.getLong(0), r.getString(1))).toSeq
    def run(splits: Seq[Seq[StreamingOps.Doc]]): Seq[Seq[Any]] = {
      val ledger = java.nio.file.Files
        .createTempDirectory("graft-card").toString + "/ledger"
      val idx = s"graft_card_idx_${System.nanoTime}"
      val input = MemoryStream[StreamingOps.Doc]
      val q = StreamingOps.dataCardStream(input.toDF(), idx, ledger)
      try splits.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      StreamingOps.dataCardLedger(spark, ledger).collect().map(_.toSeq).toSeq
    }
    assert(run(Seq(docs)) == expect,
      "1-batch data-card ledger diverges from batch c05")
    val m = docs.length
    assert(m >= 3)
    assert(run(Seq(docs.slice(0, m / 3), docs.slice(m / 3, 2 * m / 3),
      docs.slice(2 * m / 3, m))) == expect,
      "3-batch data-card ledger diverges from batch c05")
  }

  test("curateStream: gate + dedup + index + landing across batches, re-crawls dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, min => fmin}
    implicit val sql = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => StreamingOps.Doc(r.getLong(0), r.getString(1)))
    val evens = docs.filter(_.doc_id % 2 == 0)
    val odds = docs.filter(_.doc_id % 2 == 1)
    // expected survivors: the batch rules replayed in ARRIVAL order —
    // quality-gated, then per text the FIRST batch it appears in wins
    // (min doc_id within that batch). Evens stream first, so a
    // duplicate-text group spanning both parities elects its min EVEN
    // id, not the corpus-global min.
    val gatedRows = graft.operators.TextAnalysis
      .qualityScored(graft.Tables.documents(spark, sf).select("doc_id", "text"))
      .where(col("quality") =!= "low")
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = gatedRows.groupBy(_._2).values.map { grp =>
      val ids = grp.map(_._1)
      val evenIds = ids.filter(_ % 2 == 0)
      if (evenIds.nonEmpty) evenIds.min else ids.min
    }.toSet

    val dest = java.nio.file.Files.createTempDirectory("graft-curate").toString
    val idx = s"graft_curate_idx_${System.nanoTime}"
    val input = MemoryStream[StreamingOps.Doc]
    val q = StreamingOps.curateStream(
      input.toDF(), new graft.engine.Engine(spark,
        graft.engine.ArchiveConfig(format = graft.engine.Format.Parquet)),
      idx, dest)
    try {
      input.addData(evens.toIndexedSeq: _*)
      q.processAllAvailable()
      // batch 2: the odds, PLUS re-crawls of the evens under fresh ids
      input.addData((odds ++ evens.map(d =>
        StreamingOps.Doc(d.doc_id + 10000, d.text))).toIndexedSeq: _*)
      q.processAllAvailable()
      // batch 3: pure re-crawls — must land nothing
      input.addData(docs.map(d =>
        StreamingOps.Doc(d.doc_id + 20000, d.text)).toIndexedSeq: _*)
      q.processAllAvailable()
      val landed = spark.read.parquet(dest).select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(landed.nonEmpty && landed == expected,
        s"landed ${landed.size} vs expected ${expected.size}: " +
          s"extra=${(landed -- expected).take(5)} missing=${(expected -- landed).take(5)}")
      // the index saw exactly the landed fingerprints
      val idxRows = spark.table(idx).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(idxRows == expected)
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS `$idx`")
    }
  }

  test("cusumAlarms reproduces batch e23's alarm onsets with trained means, 3-way split") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sql = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val expected = graft.operators.EventWindows.e23.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // the trained allowance: per-user integer means from the same corpus
    val means = graft.Tables.events(spark, sf)
      .selectExpr("user_id", "CAST(round(value * 100) AS BIGINT) AS cents")
      .groupBy("user_id").agg(org.apache.spark.sql.functions.expr(
        "sum(cents) div count(1)").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val evs = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("ts_us"))
      .collect()
      .sortBy(r => (r.getLong(5), r.getLong(0)))
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val input = MemoryStream[Event]
    val q = StreamingOps.cusumAlarms(input.toDS(), means, 500L, 5000L)
      .writeStream.format("memory").queryName("cusumstream")
      .outputMode(OutputMode.Append()).start()
    try {
      evs.grouped(evs.length / 3 + 1).foreach { b =>
        input.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("cusumstream").as[StreamingOps.CusumAlarm].collect()
        .map(a => (a.event_id, a.user_id, a.ts_us, a.cents, a.s_cents)).toSet
      assert(expected.nonEmpty, "batch e23 found no alarms — corpus degenerate")
      assert(streamed == expected,
        s"stream/batch divergence: ${streamed.diff(expected).take(3)} vs ${expected.diff(streamed).take(3)}")
    } finally q.stop()
  }

  test("transitionPairs reproduces batch e21's transition counts under a 3-way split") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sql = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val expected = graft.operators.EventWindows.e21.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val evs = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("ts_us"))
      .collect()
      .sortBy(r => (r.getLong(5), r.getLong(0)))
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val input = MemoryStream[Event]
    val q = StreamingOps.transitionPairs(input.toDS())
      .writeStream.format("memory").queryName("transtream")
      .outputMode(OutputMode.Append()).start()
    try {
      evs.grouped(evs.length / 3 + 1).foreach { b =>
        input.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("transtream").as[StreamingOps.Transition].collect()
        .groupBy(t => (t.from_type, t.to_type))
        .view.mapValues(_.length.toLong).toMap
      assert(expected.nonEmpty, "batch e21 found no transitions — corpus degenerate")
      assert(streamed == expected,
        s"stream/batch divergence over ${streamed.size} vs ${expected.size} pairs")
    } finally q.stop()
  }

  test("streamingFrequency's final estimates equal the batch CMS under any micro-batch split") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sql = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("ts_us"))
      .collect()
      .sortBy(r => (r.getLong(5), r.getLong(0)))
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val probes = Seq(1L, 2L, 3L, 41L, 999999L) // incl. an absent key
    val input = MemoryStream[Event]
    val q = StreamingOps.streamingFrequency(input.toDS(), probes)
      .writeStream.format("memory").queryName("freqstream")
      .outputMode(OutputMode.Update()).start()
    try {
      evs.grouped(evs.length / 3 + 1).foreach { b =>
        input.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      // counters only grow, so the FINAL estimate per (type, probe)
      // is the max across the accumulated update emissions
      val streamed = spark.table("freqstream")
        .as[StreamingOps.FrequencyEstimate].collect()
        .groupBy(f => (f.event_type, f.probe_key))
        .view.mapValues(_.map(_.est_count).max).toMap
      val W = graft.functions.CountMinAgg.W
      val batch = evs.groupBy(_.event_type).flatMap { case (tpe, es) =>
        val agg = new graft.functions.CountMinAgg(W)
        val buf = es.foldLeft(agg.zero)((b, e) => agg.reduce(b, e.user_id))
        probes.map { k =>
          val est = (0 until graft.functions.CountMinAgg.D)
            .map(j => buf(j * W + graft.functions.CountMinAgg.bucketW(j, k, W))).min
          (tpe, k) -> est
        }
      }.toMap
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"stream/batch CMS divergence: ${streamed.toSet.diff(batch.toSet).take(3)}")
    } finally q.stop()
  }

  test("ewmaSmooth reproduces batch e20's smoothed rows over the real events table") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sql = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val expected = graft.operators.EventWindows.e20.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    val evs = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("ts_us"))
      .collect()
      .sortBy(r => (r.getLong(5), r.getLong(0)))
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val input = MemoryStream[Event]
    val q = StreamingOps.ewmaSmooth(input.toDS())
      .writeStream.format("memory").queryName("ewmastream")
      .outputMode(OutputMode.Append()).start()
    try {
      evs.grouped(evs.length / 3 + 1).foreach { b =>
        input.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("ewmastream").as[StreamingOps.Smoothed].collect()
        .map(s => (s.event_id, s.user_id, s.ts_us, s.cents, s.ewma_num,
          s.ewma_cents)).toSet
      assert(expected.nonEmpty, "batch e20 emitted no full frames — corpus degenerate")
      assert(streamed == expected,
        s"stream/batch divergence: ${streamed.diff(expected).take(3)} vs ${expected.diff(streamed).take(3)}")
    } finally q.stop()
  }

  test("trendSlope's final estimate equals batch e19 over the real events table") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sql = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val expected = graft.operators.EventWindows.e19.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    val evs = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("ts_us"))
      .collect()
      .sortBy(r => (r.getLong(5), r.getLong(0)))
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val input = MemoryStream[Event]
    val q = StreamingOps.trendSlope(input.toDS())
      .writeStream.format("memory").queryName("trendstream")
      .outputMode(OutputMode.Update()).start()
    try {
      evs.grouped(evs.length / 3 + 1).foreach { b =>
        input.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      // n grows monotonically — max-n update per type is the final state
      val streamed = spark.table("trendstream")
        .as[StreamingOps.TrendEstimate].collect()
        .groupBy(_.event_type).map { case (_, rows) => rows.maxBy(_.n) }
        .map(t => (t.event_type, t.n, t.slope_num, t.slope_den,
          t.slope_cents_per_min)).toSet
      assert(streamed == expected,
        s"stream/batch divergence: ${streamed.diff(expected)} vs ${expected.diff(streamed)}")
    } finally q.stop()
  }

  test("applyChangelog maintains a parquet snapshot with upsert/delete/insert semantics") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc").toString + "/snap"
    val input = MemoryStream[(Long, Long, String, Double)]
    val q = StreamingOps.applyChangelog(
      input.toDS().toDF("key", "seq", "op", "value"), dir)
    try {
      // batch 1: three inserts, one of them updated within the batch
      // (seq 2 must win over seq 1 for key 10)
      input.addData((10L, 1L, "U", 1.0), (10L, 2L, "U", 1.5), (20L, 1L, "U", 2.0), (30L, 1L, "U", 3.0))
      q.processAllAvailable()
      val s1 = spark.read.parquet(dir).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(s1 == Map(10L -> 1.5, 20L -> 2.0, 30L -> 3.0))
      // batch 2: update 10, delete 20, insert 40; 30 untouched (kept)
      input.addData((10L, 3L, "U", 9.0), (20L, 3L, "D", 0.0), (40L, 1L, "U", 4.0))
      q.processAllAvailable()
      val s2 = spark.read.parquet(dir).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(s2 == Map(10L -> 9.0, 30L -> 3.0, 40L -> 4.0))
    } finally q.stop()
  }

  test("diffStream recovers q60's ledger: 1-batch ≡ 3-batch ≡ batch q60") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val expect = graft.operators.Relational.q60.fn(spark, dir)
      .collect().map(_.toSeq).toSeq
    // q60's two deterministic snapshots, re-derived with its own rules
    def snap(missMod: Long, missRes: Long) = graft.Tables.orders(spark, dir)
      .filter(col("o_orderkey") % missMod =!= missRes)
      .select(col("o_orderkey").as("key"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val oldS = snap(89L, 3L)
    val newRows = snap(97L, 5L)
      .select(col("key"),
        (col("cents") + when(col("key") % 11 === 0, 100L).otherwise(0L))
          .as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def run(splits: Seq[Seq[(Long, Long)]]): Seq[Seq[Any]] = {
      val ledger = java.nio.file.Files
        .createTempDirectory("graft-diff").toString + "/ledger"
      val input = MemoryStream[(Long, Long)]
      val q = StreamingOps.diffStream(
        input.toDS().toDF("key", "cents"), oldS, ledger)
      try splits.foreach { s => input.addData(s); q.processAllAvailable() }
      finally q.stop()
      StreamingOps.diffLedger(spark, ledger).collect().map(_.toSeq).toSeq
    }
    val one = run(Seq(newRows))
    assert(one == expect, s"1-batch ledger diverges from batch q60:\n$one\nvs\n$expect")
    // arrival-order/split invariance: the same rows over three batches
    val n = newRows.length
    assert(n >= 3)
    val three = run(Seq(newRows.slice(0, n / 3),
      newRows.slice(n / 3, 2 * n / 3), newRows.slice(2 * n / 3, n)))
    assert(three == expect)
    // all four reconciliation classes genuinely live on this corpus
    assert(expect.map(_.head).toSet ==
      Set("added", "removed", "changed", "unchanged"))
    // un-checkpointed RESTART on the SAME ledger dir: batch ids start
    // over with different boundaries, so setup must clear the dead
    // run's numeric deltas — the ledger equals batch q60 again rather
    // than double-counting delta-1/delta-2 of the first numbering
    val ledger = java.nio.file.Files
      .createTempDirectory("graft-diff-restart").toString + "/ledger"
    def runOn(splits: Seq[Seq[(Long, Long)]]): Seq[Seq[Any]] = {
      val input = MemoryStream[(Long, Long)]
      val q = StreamingOps.diffStream(
        input.toDS().toDF("key", "cents"), oldS, ledger)
      try splits.foreach { s => input.addData(s); q.processAllAvailable() }
      finally q.stop()
      StreamingOps.diffLedger(spark, ledger).collect().map(_.toSeq).toSeq
    }
    runOn(Seq(newRows.slice(0, n / 3),
      newRows.slice(n / 3, 2 * n / 3), newRows.slice(2 * n / 3, n)))
    assert(runOn(Seq(newRows)) == expect,
      "restart over a stale 3-batch ledger must re-derive, not double-count")
  }

  test("lifecycleStream recovers c06's ledger: 1-batch ≡ 3-batch ≡ batch c06 per cell") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val expect = graft.operators.Pipeline.c06.fn(spark, dir)
      .collect().map(_.toSeq).toSeq
    // the SAME base/arrival split and the SAME memoized training c06
    // uses (tag "base37"), so the stream maintains the identical index
    val e = graft.Vec.withNorm(graft.Tables.embeddings(spark, dir))
    val base = e.where(pmod(col("vec_id"), lit(37)) =!= 0)
    val centroids = graft.operators.Similarity
      .trainCoarse(spark, dir, base, "base37")
    assert(centroids.nonEmpty)
    val arrivals = e.where(pmod(col("vec_id"), lit(37)) === 0)
      .select(col("vec_id"), col("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    def run(splits: Seq[Seq[(Long, Array[Double])]]): Seq[Seq[Any]] = {
      val ledger = java.nio.file.Files
        .createTempDirectory("graft-lifecycle").toString + "/ledger"
      val input = MemoryStream[(Long, Array[Double])]
      val q = StreamingOps.lifecycleStream(
        input.toDS().toDF("vec_id", "v"),
        base.select(col("vec_id"), col("v")), centroids, ledger)
      try splits.foreach { s => input.addData(s); q.processAllAvailable() }
      finally q.stop()
      StreamingOps.lifecycleLedger(spark, ledger).collect().map(_.toSeq).toSeq
    }
    val one = run(Seq(arrivals))
    assert(one == expect, s"1-batch ledger diverges from batch c06:\n$one\nvs\n$expect")
    val n = arrivals.length
    assert(n >= 3)
    val three = run(Seq(arrivals.slice(0, n / 3),
      arrivals.slice(n / 3, 2 * n / 3), arrivals.slice(2 * n / 3, n)))
    assert(three == expect,
      "3-batch ledger must fold to the same per-cell rows — every c06 measure is additive")
  }

  test("burstStream recovers e25's flags: 1-batch ≡ 3-batch ≡ batch e25") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sql = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val expect = graft.operators.EventWindows.e25.fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(expect.nonEmpty, "batch e25 found no bursts — corpus degenerate")
    val evs = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
      .toSeq
    def run(splits: Seq[Seq[Event]]): Seq[Seq[Any]] = {
      val ledger = java.nio.file.Files
        .createTempDirectory("graft-burst").toString + "/ledger"
      val input = MemoryStream[Event]
      val q = StreamingOps.burstStream(input.toDS(), ledger)
      try splits.foreach { s => input.addData(s: _*); q.processAllAvailable() }
      finally q.stop()
      StreamingOps.burstLedger(spark, ledger).collect().map(_.toSeq).toSeq
    }
    assert(run(Seq(evs)) == expect,
      "1-batch burst ledger diverges from batch e25")
    // split invariance: counts merge additively across batch boundaries
    val n = evs.length
    assert(n >= 3)
    val three = run(Seq(evs.slice(0, n / 3), evs.slice(n / 3, 2 * n / 3),
      evs.slice(2 * n / 3, n)))
    assert(three == expect,
      "3-batch burst ledger diverges from batch e25")
  }

  test("enrich broadcasts a small static dimension on batch (plan-asserted)") {
    import spark.implicits._
    val dim = Seq((10L, "gold")).toDF("user_id", "tier")
    val batch = graft.Tables.events(spark, "/root/testdata/sf0.001").drop("ts_us")
    val plan = StreamingOps.enrich(batch, dim, "user_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small dim should broadcast; got:\n${plan.take(800)}")
  }

  test("enrich joins a stream against a static dimension (left-preserving)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dim = Seq((10L, "gold"), (11L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[Event]
    val q = StreamingOps.enrich(input.toDF(), dim, "user_id")
      .select("event_id", "tier")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(ev(1, 1, 10), ev(2, 2, 11), ev(3, 3, 99))
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(rows == Map(1L -> Some("gold"), 2L -> Some("basic"), 3L -> None))
    } finally q.stop()
  }

  test("intervalJoin on the batch events table equals e07's join semantics") {
    val batch = graft.Tables.events(spark, "/root/testdata/sf0.001").drop("ts_us")
    val streamShaped = StreamingOps.intervalJoin(batch).count()
    val e07Pairs = graft.operators.EventWindows.e07
      .fn(spark, "/root/testdata/sf0.001")
      .agg(org.apache.spark.sql.functions.sum("n_pairs")).head().getLong(0)
    assert(streamShaped == e07Pairs)
    assert(streamShaped > 0)
  }

  test("funnelSteps converges to the batch e11 fixed point in any arrival order") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val weekUs = 604800000000L
    // synthetic per-user histories covering every funnel corner:
    //  u1 full funnel in order; u2 click before signup (never counts);
    //  u3 purchase before click (never counts); u4 click past the
    //  7-day horizon; u5 LATE EARLIER signup arriving last — shifts
    //  the window left and RETRACTS the previously completed click
    def e(id: Long, u: Long, tpe: String, minute: Int) =
      Event(id, ts(minute), u, tpe, 1.0)
    val history = Seq(
      e(1, 1, "signup", 1), e(2, 1, "click", 5), e(3, 1, "purchase", 9),
      e(4, 2, "click", 1), e(5, 2, "signup", 5), e(6, 2, "purchase", 9),
      e(7, 3, "signup", 1), e(8, 3, "purchase", 5), e(9, 3, "click", 9),
      e(10, 4, "signup", 1), e(11, 5, "click", 30), e(12, 5, "signup", 40))
    val lateSignup = e(13, 5, "signup", 10) // 30 - 10 min ≪ 7 d: u5 click VALID after this
    // plain-Scala e11 reference (the batch fixed point)
    def ref(evs: Seq[Event]): Map[(Long, Int), Long] = {
      evs.groupBy(_.user_id).flatMap { case (u, es) =>
        def us(t: Timestamp) = (t.getTime / 1000) * 1000000L + t.getNanos / 1000
        val t1 = es.filter(_.event_type == "signup").map(e => us(e.ts))
          .minOption.getOrElse(Long.MaxValue)
        val t2 = es.filter(e => e.event_type == "click" && us(e.ts) > t1
          && us(e.ts) <= t1 + weekUs).map(e => us(e.ts))
          .minOption.getOrElse(Long.MaxValue)
        val t3 = es.filter(e => e.event_type == "purchase" && us(e.ts) > t2
          && us(e.ts) <= t1 + weekUs).map(e => us(e.ts))
          .minOption.getOrElse(Long.MaxValue)
        Seq((u, 1) -> t1, (u, 2) -> t2, (u, 3) -> t3)
          .filter(_._2 != Long.MaxValue)
      }
    }
    val orders = Seq(
      history :+ lateSignup, // in order
      (history :+ lateSignup).reverse, // fully reversed
      scala.util.Random.shuffle(history :+ lateSignup)) // arbitrary
    orders.zipWithIndex.foreach { case (evs, i) =>
      val input = MemoryStream[Event]
      val q = StreamingOps.funnelSteps(input.toDS())
        .writeStream.format("memory").queryName(s"funnel$i")
        .outputMode(OutputMode.Update()).start()
      try {
        evs.grouped(4).foreach { b => input.addData(b: _*); q.processAllAvailable() }
        // latest row per (user, step) is current; -1 retracts
        val got = spark.table(s"funnel$i")
          .as[StreamingOps.FunnelProgress].collect().zipWithIndex
          .groupBy(r => (r._1.user_id, r._1.step))
          .map { case (k, rs) => k -> rs.maxBy(_._2)._1.t_us }
          .filter(_._2 != -1L)
        assert(got == ref(evs), s"order $i")
      } finally q.stop()
    }
    // the retraction path itself: without the late signup u5's click
    // is invalid (signup at minute 40 is AFTER the click at 30), with
    // it the click completes — reversed order exercises complete →
    // retract inside one run (spot-checked above via the fixed point)
    assert(!ref(history).contains((5L, 2)) && ref(history :+ lateSignup).contains((5L, 2)))
  }

  test("withWatermark drops sit exactly inside e14's audit classes") {
    // e14's batch audit (wm lag 5 min + allowed lateness 10 min) maps
    // to Structured Streaming's single knob withWatermark(15 min):
    // Spark drops a row iff its WINDOW END ≤ wm-at-arrival-batch, and
    // since the batch wm lags e14's per-row wm, the stream's kept set
    // is sandwiched between e14's classes — per window:
    //   n_ontime + n_late  ≤  stream count  ≤  total.
    // The crafted arrival order makes the sandwich tight on both ends
    // (real drops AND a fully-kept window).
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, window => win}
    implicit val sql = spark.sqlContext
    def tm(minute: Int): Timestamp =
      Timestamp.from(Instant.parse("2024-01-01T00:00:00Z")
        .plusSeconds(minute * 60L))
    def e(id: Long, minute: Int): Event =
      Event(id, tm(minute), 1L, "click", 1.0)
    // arrival batches: on-time opening, wm advance, two genuinely-late
    // rows whose 1-hour window has closed, then a flush
    val batches = Seq(
      Seq(e(1, 1), e(2, 5), e(3, 62), e(4, 70)),
      Seq(e(5, 80)),        // wm after this batch: 80 − 15 = 65 > 60
      Seq(e(6, 3), e(7, 58)), // window [0,60) closed → Spark drops both
      Seq(e(8, 600)))       // flush: finalizes every real window
    val input = MemoryStream[Event]
    val q = input.toDF()
      .withWatermark("ts", "15 minutes")
      .groupBy(win(col("ts"), "1 hour")).count()
      .writeStream.format("memory").queryName("wmaudit")
      .outputMode(OutputMode.Append()).start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val streamCounts = spark.table("wmaudit").collect()
        .map(r => (r.getStruct(0).getTimestamp(0).toInstant.toString,
          r.getLong(1))).toMap
      // inline e14 audit over the same arrival order (per-row wm)
      val lagUs = 300000000L; val latenessUs = 600000000L
      var hi = Long.MinValue
      val classed = batches.flatten.dropRight(1).map { ev =>
        val ts = ev.ts.getTime * 1000L
        val cls =
          if (hi == Long.MinValue || ts >= hi - lagUs) 0
          else if (ts >= hi - lagUs - latenessUs) 1 else 2
        hi = math.max(hi, ts)
        (Instant.ofEpochMilli(ev.ts.getTime)
          .truncatedTo(java.time.temporal.ChronoUnit.HOURS).toString, cls)
      }
      val byWin = classed.groupBy(_._1)
      byWin.foreach { case (w, cs) =>
        val kept = cs.count(_._2 != 2); val total = cs.size
        val got = streamCounts.getOrElse(w, 0L)
        assert(got >= kept && got <= total,
          s"window $w: stream=$got outside audit sandwich [$kept, $total]")
      }
      // both ends are live: window 0 really dropped its two late rows,
      // window 1 kept everything
      assert(streamCounts("2024-01-01T00:00:00Z") == 2L)
      assert(streamCounts("2024-01-01T01:00:00Z") == 3L)
      assert(byWin("2024-01-01T00:00:00Z").count(_._2 == 2) == 2)
    } finally q.stop()
  }

  test("maintainIndex: batch splits land the identical bucketed index; cells match s14's assignment") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val e = graft.Vec.withNorm(graft.Tables.embeddings(spark, dir))
    val base = e.where(pmod(col("vec_id"), lit(37)) =!= 0)
    val centroids = graft.operators.Similarity.trainCoarse(spark, dir, base, "base37")
    assert(centroids.nonEmpty)
    val arrivals = e.where(pmod(col("vec_id"), lit(37)) === 0)
      .collect().map(r => StreamingOps.ArrivalVec(
        r.getLong(0), r.getInt(1), r.getSeq[Double](2), r.getDouble(3)))
      .sortBy(_.vec_id).toSeq
    assert(arrivals.size >= 3)

    def ingest(name: String, waves: Seq[Seq[StreamingOps.ArrivalVec]]): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      val input = MemoryStream[StreamingOps.ArrivalVec]
      val q = StreamingOps.maintainIndex(input.toDF(), centroids, name)
      try {
        waves.foreach { w => input.addData(w: _*); q.processAllAvailable() }
      } finally q.stop()
    }
    // one wave vs three waves of the same arrival set
    ingest("graft_stream_idx_one", Seq(arrivals))
    val (a, b) = arrivals.splitAt(arrivals.size / 3)
    val (b1, b2) = b.splitAt(b.size / 2)
    ingest("graft_stream_idx_three", Seq(a, b1, b2))

    def rows(t: String): Set[(Long, Long, Int)] =
      spark.table(t).select("vec_id", "cell", "label").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val one = rows("graft_stream_idx_one")
    assert(one == rows("graft_stream_idx_three"),
      "final index must be a pure function of the arrival set")
    assert(one.size == arrivals.size)
    // the landed assignment IS s14's: per-arrival cells equal the
    // batch operator's own acell output
    val batchCells = graft.operators.Similarity.s14.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    one.foreach { case (id, cell, _) =>
      assert(batchCells(id) == cell, s"vec $id: stream cell $cell, batch ${batchCells(id)}")
    }
    // appends preserved the bucketed layout the probe path needs
    val cat = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("graft_stream_idx_three"))
    assert(cat.bucketSpec.exists(_.bucketColumnNames == Seq("cell")))
    // at-least-once replay: a fresh query re-delivering the same data
    // re-uses batch ids already landed in the table — the idempotence
    // guard must land NOTHING (no drop before this ingest!)
    val input2 = MemoryStream[StreamingOps.ArrivalVec]
    val q2 = StreamingOps.maintainIndex(
      input2.toDF(), centroids, "graft_stream_idx_one")
    try {
      input2.addData(arrivals: _*) // becomes batch 0 again
      q2.processAllAvailable()
    } finally q2.stop()
    assert(rows("graft_stream_idx_one") == one,
      "a replayed batch id must not duplicate index rows")
    assert(spark.table("graft_stream_idx_one").count() == arrivals.size)
  }

  // ---- ledger and snapshot dirs given as Hadoop FileSystem URIs ----

  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  private def thirds[A](xs: Seq[A]): Seq[Seq[A]] = {
    val n = xs.length
    assert(n >= 3)
    Seq(xs.slice(0, n / 3), xs.slice(n / 3, 2 * n / 3), xs.slice(2 * n / 3, n))
  }

  /** The `delta-*` entries of a ledger on the local disk. */
  private def deltaNames(localDir: String): Set[String] =
    Option(new java.io.File(localDir).list()).toSeq.flatten
      .filter(_.startsWith("delta-")).toSet

  /** Batch e25 and the events it reads, as burstStream arrivals. */
  private def burstCase(): (Seq[Seq[Any]], Seq[Event]) = {
    import org.apache.spark.sql.functions.col
    val expect = graft.operators.EventWindows.e25.fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(expect.nonEmpty, "batch e25 found no bursts — corpus degenerate")
    val evs = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
      .toSeq
    (expect, evs)
  }

  /** burstStream over `splits` into `ledger`, then its readout. */
  private def burstRun(ledger: String, splits: Seq[Seq[Event]]): Seq[Seq[Any]] = {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.burstStream(input.toDS(), ledger)
    try splits.foreach { s => input.addData(s: _*); q.processAllAvailable() }
    finally q.stop()
    StreamingOps.burstLedger(spark, ledger).collect().map(_.toSeq).toSeq
  }

  /** The applyChangelog test's two batches against `dir`: upsert with
    * an in-batch update, then update/delete/insert.
    */
  private def checkChangelog(dir: String): Unit = {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, Long, String, Double)]
    val q = StreamingOps.applyChangelog(
      input.toDS().toDF("key", "seq", "op", "value"), dir)
    def snapshot = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    try {
      input.addData((10L, 1L, "U", 1.0), (10L, 2L, "U", 1.5), (20L, 1L, "U", 2.0), (30L, 1L, "U", 3.0))
      q.processAllAvailable()
      assert(snapshot == Map(10L -> 1.5, 20L -> 2.0, 30L -> 3.0))
      input.addData((10L, 3L, "U", 9.0), (20L, 3L, "D", 0.0), (40L, 1L, "U", 4.0))
      q.processAllAvailable()
      assert(snapshot == Map(10L -> 9.0, 30L -> 3.0, 40L -> 4.0))
    } finally q.stop()
  }

  test("file: URIs: burst ledger, its un-checkpointed restart and the changelog snapshot") {
    val (expect, evs) = burstCase()
    val ledger = "file:" + java.nio.file.Files.createTempDirectory("graft-burst-uri") + "/ledger"
    assert(burstRun(ledger, thirds(evs)) == expect,
      "3-batch burst ledger under a file: URI diverges from batch e25")
    // restart without a checkpoint: batch ids start over, so the dead
    // run's delta-1/delta-2 must go rather than double-count
    assert(burstRun(ledger, Seq(evs)) == expect,
      "restart over a stale file: URI ledger must re-derive, not double-count")
    checkChangelog("file:" + java.nio.file.Files.createTempDirectory("graft-cdc-uri") + "/snap")
  }

  test("diffStream and applyChangelog run on a non-file: Hadoop FileSystem") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    val expect = graft.operators.Relational.q60.fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    def snap(missMod: Long, missRes: Long) = graft.Tables.orders(spark, sf)
      .filter(col("o_orderkey") % missMod =!= missRes)
      .select(col("o_orderkey").as("key"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val oldS = snap(89L, 3L)
    val newRows = snap(97L, 5L)
      .select(col("key"),
        (col("cents") + when(col("key") % 11 === 0, 100L).otherwise(0L))
          .as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.ledgerfs.impl", classOf[LedgerFileSystem].getName)
    try {
      val local = java.nio.file.Files.createTempDirectory("graft-ledgerfs").toString
      val ledger = s"ledgerfs://$local/ledger"
      def run(splits: Seq[Seq[(Long, Long)]]): Seq[Seq[Any]] = {
        val input = MemoryStream[(Long, Long)]
        val q = StreamingOps.diffStream(
          input.toDS().toDF("key", "cents"), oldS, ledger)
        try splits.foreach { s => input.addData(s); q.processAllAvailable() }
        finally q.stop()
        StreamingOps.diffLedger(spark, ledger).collect().map(_.toSeq).toSeq
      }
      assert(run(thirds(newRows)) == expect, "3-batch ledger on ledgerfs diverges from batch q60")
      assert(deltaNames(s"$local/ledger") ==
        Set("delta-base", "delta-0", "delta-1", "delta-2"))
      // the restart guard deletes the numeric deltas only
      assert(run(Seq(newRows)) == expect,
        "restart over a stale ledgerfs ledger must re-derive, not double-count")
      assert(deltaNames(s"$local/ledger") == Set("delta-base", "delta-0"))
      checkChangelog(s"ledgerfs://$local/snap")
    } finally conf.unset("fs.ledgerfs.impl")
  }

  test("burstStream's checkpointed restart keeps the prior run's deltas and folds to e25") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val (expect, evs) = burstCase()
    val root = java.nio.file.Files.createTempDirectory("graft-burst-ckpt").toString
    val ledger = s"$root/ledger"
    val checkpoint = Some(s"$root/checkpoint")
    val Seq(a, b, c) = thirds(evs)
    // one source across both runs, so the restart resumes its offsets
    val input = MemoryStream[Event]
    val q1 = StreamingOps.burstStream(input.toDS(), ledger, checkpoint)
    try Seq(a, b).foreach { s => input.addData(s: _*); q1.processAllAvailable() }
    finally q1.stop()
    assert(deltaNames(ledger) == Set("delta-0", "delta-1"))
    val q2 = StreamingOps.burstStream(input.toDS(), ledger, checkpoint)
    try {
      assert(deltaNames(ledger) == Set("delta-0", "delta-1"),
        "a checkpointed restart must keep the prior run's deltas")
      input.addData(c: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(deltaNames(ledger) == Set("delta-0", "delta-1", "delta-2"),
      "batch ids must continue from the checkpoint")
    assert(StreamingOps.burstLedger(spark, ledger).collect().map(_.toSeq).toSeq == expect,
      "checkpointed 2 + 1 batch burst ledger diverges from batch e25")
  }
}

/** The local filesystem under the `ledgerfs:` scheme: a Hadoop
  * FileSystem that is not `file:`, so a sink that reaches its
  * directory any other way fails.
  */
class LedgerFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("ledgerfs:///")
}
