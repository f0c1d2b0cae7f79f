package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamQueries

/** events-shaped row for MemoryStream tests (top-level: Spark encoders
  * cannot capture inner classes). */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** documents-shaped row for the stored-model scoring stream test. */
case class DocRow(doc_id: Long, text: String, lang: String,
    source: String, n_chars: Long)

/** Streaming semantics — SURVEY §5.2-3: batch/stream equivalence for the
  * windowed aggregations, watermark-based dedup and late-data drop, and
  * arbitrary per-key state. All inputs are MemoryStream batches driven
  * per-trigger (deterministic replay). */
class StreamingSpec extends SparkSpec {

  private def tsOf(minutes: Int, seconds: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minutes / 60}%02d:${minutes % 60}%02d:$seconds%02d")

  private def runToCompletion(stream: DataFrame, mode: OutputMode): DataFrame = {
    val name = s"mem_${System.nanoTime()}"
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode(mode)
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("tumbling-window streaming agg equals the batch window() query") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val events = (0 until 120).map(i =>
      Ev(i, tsOf(i / 2), i % 7, if (i % 3 == 0) "click" else "view", i * 1.5))
    val input = MemoryStream[Ev]
    // three triggers, time-ordered thirds (inside watermark)
    val chunks = events.grouped(40).toSeq
    val stream = StreamQueries.tumblingCounts(input.toDF())
    val name = "tumbling_out"
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    chunks.foreach { c => input.addData(c); q.processAllAvailable() }
    // advance watermark far enough to flush all windows, then finalize
    input.addData(Ev(9999, tsOf(600), 0, "view", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name)
      .filter(col("wstart") < unix_micros(lit(tsOf(300))))
      .orderBy("wstart", "event_type").collect().toSeq
    val batch = events.toDF()
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_micros(col("window.start")).as("wstart"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("wstart", "event_type").collect().toSeq
    assert(streamed == batch)
  }

  test("dropDuplicatesWithinWatermark drops in-watermark duplicates") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = StreamQueries.dedupEvents(input.toDF())
    val name = "dedup_out"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    input.addData((0 until 20).map(i => Ev(i, tsOf(i), i, "view", 1.0)))
    q.processAllAvailable()
    // same event_ids again (duplicates), ts still within watermark
    input.addData((0 until 20).map(i => Ev(i, tsOf(i), i, "view", 1.0)))
    q.processAllAvailable()
    q.stop()
    assert(spark.table(name).count() == 20)
  }

  test("late events beyond the watermark are dropped by windowed agg") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val stream = StreamQueries.tumblingCounts(input.toDF())
    val name = "late_out"
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    input.addData((0 until 10).map(i => Ev(i, tsOf(100 + i), i, "view", 1.0)))
    q.processAllAvailable()
    // watermark is now ~(109min − 10min); this event at minute 5 is late
    input.addData(Ev(100, tsOf(5), 1, "view", 1.0))
    q.processAllAvailable()
    // flush every window
    input.addData(Ev(101, tsOf(900), 1, "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val total = spark.table(name).agg(sum("n")).collect()(0).getLong(0)
    assert(total == 10, s"late event should be dropped, counted=$total")
  }

  test("mapGroupsWithState per-user totals converge to batch groupBy") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val events = (0 until 90).map(i => Ev(i, tsOf(i), i % 5, "view", i * 0.5))
    val input = MemoryStream[Ev]
    val out = StreamQueries.userTotals(input.toDF())
    val name = "totals_out"
    val q = out.toDF().writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    events.grouped(30).foreach { c => input.addData(c); q.processAllAvailable() }
    q.stop()
    // last update per user wins
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    val finalState = spark.table(name)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"), round(col("total"), 2).as("total"))
      .orderBy("user_id").collect().toSeq
    val batch = events.toDF()
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total"))
      .orderBy("user_id").collect().toSeq
    assert(finalState == batch)
  }

  test("windowed agg state survives a stop/restart from checkpoint") {
    import spark.implicits._
    // file source so the restart replays from the offset WAL (MemoryStream
    // does not persist its contents across queries)
    val inDir = Files.createTempDirectory("agg_in").toString
    val ckpt = Files.createTempDirectory("agg_ckpt").toString
    val outDir = Files.createTempDirectory("agg_out").toString
    def writeChunk(evs: Seq[Ev], file: String): Unit =
      evs.toDF().coalesce(1).write.mode("overwrite").parquet(s"$inDir/$file")
    def startQuery() = {
      val in = spark.readStream.schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
        .parquet(s"$inDir/*")
      StreamQueries.tumblingCounts(in)
        .writeStream.format("parquet") // file sink: supports WAL recovery
        .option("path", outDir)
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .start()
    }
    val all = (0 until 60).map(i => Ev(i, tsOf(i), i % 3, "view", 1.0))
    // phase 1: first half, including a window that stays OPEN at stop time
    writeChunk(all.take(30), "part1")
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    // phase 2: restart; second half lands in open + new windows; flush
    writeChunk(all.drop(30), "part2")
    writeChunk(Seq(Ev(999, tsOf(500), 0, "view", 0.0)), "flush")
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val streamed = spark.read.parquet(outDir)
      .filter(col("wstart") < unix_micros(lit(tsOf(300))))
      .orderBy("wstart", "event_type").collect().toSeq
    val batch = all.toDF()
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_micros(col("window.start")).as("wstart"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("wstart", "event_type").collect().toSeq
    assert(streamed == batch,
      "restarted stream must produce exactly the batch result (no loss, no dupes)")
  }

  test("stream-stream interval join equals the batch join") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // clicks every minute per 3 users; purchases every 7 minutes
    val events = (0 until 120).map { i =>
      val kind = if (i % 7 == 0) "purchase" else "click"
      Ev(i, tsOf(i), i % 3, kind, i * 2.0)
    }
    val input = MemoryStream[Ev]
    val out = StreamQueries.clickPurchaseJoin(input.toDF())
    val name = "ssj_out"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    events.grouped(40).foreach { c => input.addData(c); q.processAllAvailable() }
    // push watermark far ahead so all joinable pairs flush
    input.addData(Ev(9999, tsOf(999), 0, "view", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name)
      .orderBy("click_id", "purchase_id").collect().toSeq
    // the batch side is the REGISTRY twin (q30_interval_join), not a batch
    // run of the streaming code — this is the assertion that pins the two
    // implementations (shared projections/condition in JourneyOps) together
    val batch = graft.operators.JourneyOps.clickPurchaseAttribution(events.toDF())
      .collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("transformWithState per-user totals (RocksDB store) converge to batch groupBy") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = (0 until 90).map(i => Ev(i, tsOf(i), i % 5, "view", i * 0.5))
      val input = MemoryStream[Ev]
      val out = StreamQueries.userTotalsTws(input.toDF())
      val name = "totals_tws_out"
      val q = out.toDF().writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
        .start()
      events.grouped(30).foreach { c => input.addData(c); q.processAllAvailable() }
      q.stop()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n_events").desc)
      val finalState = spark.table(name)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("n_events"), round(col("total"), 2).as("total"))
        .orderBy("user_id").collect().toSeq
      val batch = events.toDF()
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total"))
        .orderBy("user_id").collect().toSeq
      assert(finalState == batch)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming PSI drift monitor equals batch psiDrift on the same data") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.operators.ProfileOps
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (lo, hi, k) = (0.0, 100.0, 5)
      // ref snapshot: uniform; cur stream: mass shifted to the upper half
      val refVals = (0 until 100).map(_.toDouble)
      val curVals = (0 until 100).map(i => (i % 50) + 50.0)
      val events = curVals.zipWithIndex.map { case (v, i) =>
        Ev(i.toLong, tsOf(i % 60), i.toLong % 7, "view", v) }

      val input = MemoryStream[Ev]
      val out = StreamQueries.psiCountsStream(input.toDF(), "value", lo, hi, k)
      val name = "psi_counts_out"
      val q = out.toDF().writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
        .start()
      events.grouped(40).foreach { c => input.addData(c); q.processAllAvailable() }
      q.stop()

      // the monitor's view: latest emission per bucket = the running counts
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("bucket").orderBy(col("n_cur").desc)
      val streamCounts = spark.table(name)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("bucket"), col("n_cur"))
      val ref = ProfileOps.refBucketCounts(refVals.toDF("v"), "v", lo, hi, k)
      val streamPsi = ProfileOps.psiFromCounts(
        ref.join(streamCounts, Seq("bucket"), "full"), k)

      // batch twin over the identical snapshots, one conditional-count scan
      val both = refVals.map(v => (v, "r")).union(curVals.map(v => (v, "c")))
        .toDF("v", "snap")
      val batchPsi = ProfileOps.psiDrift(both, "v",
        col("snap") === "r", col("snap") === "c", lo, hi, k)
      assert(streamPsi.collect().toSeq == batchPsi.collect().toSeq)
      // and the drifted stream trips the canonical 0.2 line
      val total = streamPsi.agg(sum(col("psi_term"))).collect()(0).getDouble(0)
      assert(total > 0.2, s"expected drift, psi=$total")

      // the SAME streamed counts + ref serve the JS divergence monitor
      val streamJs = ProfileOps.jsFromCounts(
        ref.join(streamCounts, Seq("bucket"), "full"), k)
      val batchJs = ProfileOps.jsDrift(both, "v",
        col("snap") === "r", col("snap") === "c", lo, hi, k)
      assert(streamJs.collect().toSeq == batchJs.collect().toSeq)
      // and the stored-reference form (the ingest drift gate's call)
      // agrees with both: its one (psi, js) row is the sum of the same
      // per-bucket terms. Summation order differs between the plans, so
      // the totals agree to rounding, not bit for bit.
      val gate = ProfileOps.divergenceAgainstRef(curVals.toDF("v"), "v",
        ref, lo, hi, k).collect()
      assert(gate.length == 1)
      val psiSum = batchPsi.collect().map(_.getAs[Double]("psi_term")).sum
      val jsSum = batchJs.collect().map(_.getAs[Double]("js_term")).sum
      assert(math.abs(gate(0).getAs[Double]("psi") - psiSum) < 1e-12,
        s"gate psi=${gate(0).getAs[Double]("psi")} vs $psiSum")
      assert(math.abs(gate(0).getAs[Double]("js") - jsSum) < 1e-12,
        s"gate js=${gate(0).getAs[Double]("js")} vs $jsSum")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming segmented PSI monitor equals batch segmentedDrift") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.operators.ProfileOps
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (lo, hi, k) = (0.0, 100.0, 5)
      // reference: both segments uniform. current stream: 'view' shifts
      // to the upper half, 'click' stays put — exactly the mix-shift
      // case the aggregate monitor hides and the segmented sweep flags
      val refRows = (0 until 100).flatMap(i =>
        Seq(("view", i.toDouble), ("click", i.toDouble)))
      val curView = (0 until 100).map(i => ("view", (i % 50) + 50.0))
      val curClick = (0 until 100).map(i => ("click", i.toDouble))
      val events = (curView ++ curClick).zipWithIndex.map {
        case ((seg, v), i) => Ev(i.toLong, tsOf(i % 60), i.toLong % 7, seg, v) }

      val input = MemoryStream[Ev]
      val out = StreamQueries.segmentedPsiCountsStream(
        input.toDF(), "value", "event_type", lo, hi, k)
      val name = "seg_psi_out"
      val q = out.toDF().writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
        .start()
      // out-of-order chunks: interleave the two segments
      events.grouped(35).foreach { c => input.addData(c); q.processAllAvailable() }
      q.stop()

      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("segment", "bucket").orderBy(col("n_cur").desc)
      val streamCounts = spark.table(name)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("segment"), col("bucket"), col("n_cur"))
      val ref = ProfileOps.segmentedRefCounts(
        refRows.toDF("seg", "v"), "v", "seg", lo, hi, k)
      val streamPsi = ProfileOps.segmentedPsiFromCounts(
        ref.join(streamCounts, Seq("segment", "bucket"), "full"), k)

      val both = refRows.map { case (s, v) => (s, v, "r") } ++
        (curView ++ curClick).map { case (s, v) => (s, v, "c") }
      val batchPsi = ProfileOps.segmentedDrift(
        both.toDF("seg", "v", "snap"), "v", "seg",
        col("snap") === "r", col("snap") === "c", lo, hi, k)
      assert(streamPsi.collect().toSeq == batchPsi.collect().toSeq)
      val psiBySeg = streamPsi.collect()
        .map(r => r.getString(0) -> r.getDouble(3)).toMap
      assert(psiBySeg("view") > 0.2, s"view must trip the gate: $psiBySeg")
      assert(psiBySeg("click") < 0.05, s"click must stay quiet: $psiBySeg")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("flatMapGroupsWithState emits only changed users, converging to batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // batch 1 touches users 0/1, batch 2 only user 2 — trigger-2 output
    // must not re-emit idle users
    val b1 = Seq(Ev(0, tsOf(0), 0, "view", 1.0), Ev(1, tsOf(1), 1, "view", 2.0),
      Ev(2, tsOf(2), 0, "view", 3.0))
    val b2 = Seq(Ev(3, tsOf(3), 2, "view", 5.0))
    val input = MemoryStream[Ev]
    val out = StreamQueries.userTotalsDeltas(input.toDF())
    val name = "deltas_out"
    val q = out.toDF().writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    input.addData(b1); q.processAllAvailable()
    val afterB1 = spark.table(name).count()
    input.addData(b2); q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Double]("total"))).toSeq
    assert(afterB1 == 2, s"trigger 1 must emit users 0 and 1, got $afterB1")
    assert(rows.size == 3, s"trigger 2 must add only user 2: $rows")
    assert(rows.toSet == Set((0L, 2L, 4.0), (1L, 1L, 2.0), (2L, 1L, 5.0)))
  }

  test("session windows close after the gap and match batch session_window") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val events = Seq(
      Ev(1, tsOf(0), 1, "view", 1.0), Ev(2, tsOf(10), 1, "view", 1.0),
      Ev(3, tsOf(60), 1, "view", 1.0), // gap 50min → new session
      Ev(4, tsOf(0), 2, "view", 1.0))
    val input = MemoryStream[Ev]
    val out = StreamQueries.sessionCounts(input.toDF())
    val name = "session_out"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    input.addData(events)
    q.processAllAvailable()
    input.addData(Ev(99, tsOf(600), 9, "view", 0.0)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).filter(col("user_id") < 9)
      .select("user_id", "session_start", "n").orderBy("user_id", "session_start")
      .collect().toSeq
    val batch = events.toDF()
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("session_start"), col("n"))
      .orderBy("user_id", "session_start").collect().toSeq
    assert(got == batch)
  }

  test("streaming heavy hitters (transformWithState sketch) equal batch q31") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the real corpus, streamed as (lang, term) observations in chunks —
      // the same input the batch q31 explodes from documents
      val docs = graft.core.Tables.documents(spark, sf0001)
      val terms = docs
        .select(col("lang"), explode(graft.llm.Text.tokens(col("text"))).as("term"))
        .as[StreamQueries.LangTerm].collect().toSeq
      val input = MemoryStream[StreamQueries.LangTerm]
      val out = StreamQueries.heavyHittersStream(input.toDS())
      val name = "hh_stream_out"
      val q = out.toDF().writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
        .start()
      terms.grouped(20000).foreach { c => input.addData(c); q.processAllAvailable() }
      q.stop()
      // counts grow monotonically (capacity >= vocabulary: no decrements),
      // so the final sketch per (lang, term) is the max emitted count; the
      // last trigger's top-k per lang is then the max-count top-k
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("n").desc, col("term"))
      val streamed = spark.table(name)
        .groupBy("lang", "term").agg(max("n").as("n"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 15)
        .select("lang", "term", "n")
        .orderBy(col("lang"), col("n").desc, col("term")).collect().toSeq
      val batch = graft.llm.SketchOps.heavyHittersPerLang(docs)
        .collect().toSeq
      assert(streamed == batch,
        s"stream/batch heavy hitters diverged:\n$streamed\nvs\n$batch")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming funnel (event-time timers, RocksDB) converges to batch funnelStages") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rnd = new scala.util.Random(31)
      val types = Seq("view", "click", "purchase", "error", "signup")
      val events = (0 until 240).map { i =>
        Ev(i, tsOf(i / 2, rnd.nextInt(60)), rnd.nextInt(12),
          types(rnd.nextInt(types.size)), 1.0)
      }
      // arrival order: time-ordered chunks, each shuffled internally —
      // out-of-order WITHIN the watermark, which the buffer must absorb.
      // Users in late chunks never appear again: only their event-time
      // timers can finalize them once the sentinel advances the watermark.
      val chunks = events.grouped(80).map(c => rnd.shuffle(c)).toSeq
      val input = MemoryStream[Ev]
      val out = StreamQueries.funnelStages(input.toDF())
      val name = "funnel_out"
      val q = out.toDF().writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
        .start()
      chunks.foreach { c => input.addData(c); q.processAllAvailable() }
      input.addData(Ev(9999, tsOf(2000), 999L, "error", 0.0)) // watermark push
      q.processAllAvailable()
      q.stop()
      // latest row per user = the one with the most stages reached (stage
      // state only ever grows); ties broken by emission being cumulative
      val stageCount = coalesce(
        when(col("tp").isNotNull, 3), when(col("tc").isNotNull, 2),
        when(col("tv").isNotNull, 1), lit(0))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(stageCount.desc)
      val got = spark.table(name).filter(col("user_id") =!= 999L)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("user_id", "tv", "tc", "tp")
        .orderBy("user_id").collect().toSeq
      val batch = graft.operators.JourneyOps.funnelStages(events.toDF())
        .select(col("user_id"), unix_micros(col("tv")).as("tv"),
          unix_micros(col("tc")).as("tc"), unix_micros(col("tp")).as("tp"))
        .orderBy("user_id").collect().toSeq
      assert(got == batch)
      assert(got.exists(r => !r.isNullAt(3)), "no user converted — fixture too thin")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming interval coverage (transformWithState, RocksDB) converges to batch q79") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rnd = new scala.util.Random(47)
      // bursty per-user traffic: islands form where bursts cluster
      val events = (0 until 200).map { i =>
        Ev(i, tsOf(rnd.nextInt(8) * 30 + rnd.nextInt(12), rnd.nextInt(60)),
          rnd.nextInt(10), "view", 1.0)
      }
      // time-ordered chunks, shuffled internally (out-of-order within
      // the watermark); late-chunk users drain via event-time timers
      val chunks = events.sortBy(e => e.ts.getTime).grouped(70)
        .map(c => rnd.shuffle(c)).toSeq
      val input = MemoryStream[Ev]
      val out = StreamQueries.intervalCoverage(input.toDF())
      val name = "coverage_out"
      val q = out.toDF().writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
        .start()
      chunks.foreach { c => input.addData(c); q.processAllAvailable() }
      input.addData(Ev(9999, tsOf(5000), 999L, "view", 0.0)) // watermark push
      q.processAllAvailable()
      q.stop()
      // n_events grows monotonically → the latest row per user is the
      // one with the largest n_events
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n_events").desc)
      val got = spark.table(name).filter(col("user_id") =!= 999L)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("user_id", "n_events", "n_islands", "covered_us")
        .orderBy("user_id").collect().toSeq
      val batch = graft.operators.JourneyOps.intervalCoverage(events.toDF())
        .collect().toSeq
      assert(got == batch)
      assert(batch.exists(_.getLong(2) > 1), "fixture produced no multi-island user")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming interval coverage survives a stop/restart from checkpoint") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val inDir = Files.createTempDirectory("cov_in").toString
      val ckpt = Files.createTempDirectory("cov_ckpt").toString
      val outDir = Files.createTempDirectory("cov_out").toString
      def writeChunk(evs: Seq[Ev], file: String): Unit =
        evs.toDF().coalesce(1).write.mode("overwrite").parquet(s"$inDir/$file")
      def startQuery() = {
        val in = spark.readStream
          .schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
          .parquet(s"$inDir/*")
        StreamQueries.intervalCoverage(in).toDF()
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            df.write.mode("append").parquet(outDir): Unit
          }
          .outputMode(OutputMode.Update())
          .option("checkpointLocation", ckpt)
          .start()
      }
      // every user active in BOTH phases, so each re-emits after restart;
      // phase-1 tail events are still inside the watermark at stop time —
      // the restart must recover the per-user buffer, not just offsets
      val all = (0 until 80).map(i => Ev(i, tsOf(i), i % 4, "view", 1.0))
      writeChunk(all.take(40), "part1")
      val q1 = startQuery()
      q1.processAllAvailable()
      q1.stop()
      writeChunk(all.drop(40), "part2")
      writeChunk(Seq(Ev(9999, tsOf(5000), 999L, "view", 0.0)), "flush")
      val q2 = startQuery()
      q2.processAllAvailable()
      q2.stop()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n_events").desc)
      val got = spark.read.parquet(outDir).filter(col("user_id") =!= 999L)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("user_id", "n_events", "n_islands", "covered_us")
        .orderBy("user_id").collect().toSeq
      val batch = graft.operators.JourneyOps.intervalCoverage(all.toDF())
        .collect().toSeq
      assert(got == batch,
        "restarted stream must converge to the batch sweep (no loss, no dupes)")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("segmented PSI running counts survive a stop/restart from checkpoint") {
    import spark.implicits._
    import graft.operators.ProfileOps
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val inDir = Files.createTempDirectory("segpsi_in").toString
      val ckpt = Files.createTempDirectory("segpsi_ckpt").toString
      val outDir = Files.createTempDirectory("segpsi_out").toString
      val (lo, hi, k) = (0.0, 100.0, 5)
      def writeChunk(evs: Seq[Ev], file: String): Unit =
        evs.toDF().coalesce(1).write.mode("overwrite").parquet(s"$inDir/$file")
      def startQuery() = {
        val in = spark.readStream
          .schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
          .parquet(s"$inDir/*")
        StreamQueries.segmentedPsiCountsStream(in, "value", "event_type",
            lo, hi, k).toDF()
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            df.write.mode("append").parquet(outDir): Unit
          }
          .outputMode(OutputMode.Update())
          .option("checkpointLocation", ckpt)
          .start()
      }
      // both segments drift mid-stream; the running counts must pick up
      // phase-1 state after the restart, not restart from zero
      val all = (0 until 120).map { i =>
        Ev(i, tsOf(i), i % 5, if (i % 2 == 0) "view" else "click",
          ((i * 7) % 100).toDouble)
      }
      writeChunk(all.take(60), "part1")
      val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
      writeChunk(all.drop(60), "part2")
      val q2 = startQuery(); q2.processAllAvailable(); q2.stop()

      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("segment", "bucket").orderBy(col("n_cur").desc)
      val streamCounts = spark.read.parquet(outDir)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("segment"), col("bucket"), col("n_cur"))
      // the final running counts must equal a batch bucketing of the
      // WHOLE stream — i.e. the restart resumed phase-1 counts
      val batchCounts = all.toDF()
        .select(col("event_type").as("segment"),
          ProfileOps.psiBucket(col("value"), lo, hi, k).as("bucket"))
        .groupBy("segment", "bucket").agg(count(lit(1)).as("n_cur"))
      assert(streamCounts.orderBy("segment", "bucket").collect().toSeq ==
        batchCounts.orderBy("segment", "bucket").collect().toSeq,
        "restarted monitor must carry phase-1 counts forward")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming CDC materialization (transformWithState, RocksDB) equals batch q36") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the real events feed as a change stream, delivered OUT OF ORDER
      // (shuffled deterministically) across several triggers — latest
      // (ts, event_id) must win regardless of arrival order
      val events = graft.core.Tables.events(spark, sf0001)
      val changes = events
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"),
          when(col("event_type") === "error", "delete")
            .otherwise("upsert").as("op"),
          col("event_type"), col("value"))
        .as[StreamQueries.CdcChange].collect().toSeq
      val shuffled = new scala.util.Random(7).shuffle(changes)
      val input = MemoryStream[StreamQueries.CdcChange]
      val out = StreamQueries.cdcStream(input.toDS())
      val name = "cdc_stream_out"
      val q = out.toDF().writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
        .start()
      shuffled.grouped(300).foreach { c => input.addData(c); q.processAllAvailable() }
      q.stop()
      // the LAST emission per key is the materialized state; live=false
      // keys were tombstoned away
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us").desc, col("last_event_id").desc)
      val streamed = spark.table(name)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .filter(col("live"))
        .select(col("user_id"), col("last_event_id"), col("event_type"),
          round(col("value"), 4).as("value"))
        .orderBy("user_id").collect().toSeq
      val batch = graft.operators.CdcOps.userStateCdc(events).collect().toSeq
      assert(streamed == batch,
        s"stream/batch CDC state diverged (${streamed.size} vs ${batch.size})")
      // tombstones actually fired: some users' latest change is a delete
      assert(streamed.size < events.select("user_id").distinct().count(),
        "no tombstoned user — fixture too thin for the delete path")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming volume-anomaly monitor equals batch q62 on finalized days") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def dayTs(day: Int, hour: Int, minute: Int = 0): Timestamp =
      Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:$minute%02d:00")
    // 12 days × 2 types: "click" trends up with a day-10 spike (the
    // anomaly the monitor must flag); "view" is constant (zero-variance
    // history — the sd>0 filter must drop every view row)
    var id = 0L
    val events = (1 to 12).flatMap { d =>
      val clicks = (if (d == 10) 60 else 10 + d)
      val perDay =
        (0 until clicks).map { i =>
          id += 1; Ev(id, dayTs(d, i % 20, i % 50), i % 5, "click", i * 1.0)
        } ++ (0 until 20).map { i =>
          id += 1; Ev(id, dayTs(d, i % 20, (i * 7) % 50), i % 5, "view", i * 1.0)
        }
      perDay
    }
    val input = MemoryStream[Ev]
    val stream = StreamQueries.dailyCountsStream(input.toDF())
    val name = "daily_counts_out"
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    // feed day-grouped but intra-day shuffled (out-of-order inside the
    // watermark), two days per trigger
    events.grouped(events.size / 6 + 1).foreach { c =>
      input.addData(scala.util.Random.shuffle(c)); q.processAllAvailable()
    }
    input.addData(Ev(999999, dayTs(25, 0), 0, "flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val finalized = spark.table(name)
      .filter(col("event_type") =!= "flush")
    // every real day finalized exactly once
    assert(finalized.count() == 24)
    val streamScored = graft.operators.StatsOps.scoreDailyCounts(finalized)
      .collect().toSeq
    val batchScored = graft.operators.StatsOps
      .volumeAnomalies(events.toDF()).collect().toSeq
    assert(streamScored == batchScored,
      s"stream/batch anomaly rows diverged (${streamScored.size} vs ${batchScored.size})")
    // the fixture exercises both interesting paths: day-10 spike flagged,
    // zero-variance view days absent
    assert(streamScored.exists(r =>
      r.getString(0) == "click" && r.getInt(5) == 1))
    assert(!streamScored.exists(_.getString(0) == "view"))
  }

  test("DSIR stored-model scoring streams statelessly and equals batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.llm.TextOps
    // model trained on a reference corpus (tgt speaks alpha/beta)
    val ref = (
      (1 to 4).map(i => DocRow(i.toLong, "alpha beta alpha", "en", "tgt", 15L)) ++
        (5 to 12).map(i => DocRow(i.toLong, "gamma delta", "en", "bg", 11L)))
    val model = TextOps.dsirWeightTable(ref.toDF(), targetSource = "tgt")
      .collect().toSeq // freeze, as a stored parquet model would be
    val modelDf = model.map(r => (r.getLong(0), r.getDouble(1)))
      .toDF("b", "lw")
    // arrivals scored against the frozen model across multiple triggers —
    // the scoring is a pure projection, so Append mode needs no watermark
    val arrivals = Seq(
      DocRow(101L, "alpha beta", "en", "crawl", 10L),
      DocRow(102L, "gamma delta gamma", "en", "crawl", 17L),
      DocRow(103L, "zzq zzr", "en", "crawl", 7L)) // unseen vocabulary
    val input = MemoryStream[DocRow]
    val scored = TextOps.dsirScoreWithModel(input.toDF(), modelDf)
    val name = "dsir_scored"
    val q = scored.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt").toString)
      .start()
    arrivals.foreach { d => input.addData(d); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table(name)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val batch = TextOps.dsirScoreWithModel(arrivals.toDF(), modelDf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed(101L) > streamed(102L)) // target-like outscores bg
  }
}
