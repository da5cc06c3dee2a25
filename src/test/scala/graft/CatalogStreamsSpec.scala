package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.similarity.Similarity
import graft.sources.{Catalog, FsUtils}
import graft.streaming.Streams
import graft.streaming.Streams.{Event, Session}

class CatalogStreamsSpec extends SparkSpec {
  import spark.implicits._

  test("catalog: create-if-not-exists, list, exists, drop") {
    val cat = new Catalog(spark, tmpDir("cat"))
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    cat.tableExists("t1") shouldBe false
    cat.createIfNotExists("t1", df)
    cat.createIfNotExists("t1", Seq((9, "z")).toDF("k", "v")) // no-op
    cat.read("t1").count() shouldBe 2
    cat.createIfNotExists("t2", df, partitionCols = Seq("v"))
    cat.listTables() shouldBe Seq("t1", "t2")
    cat.registerView("t1")
    spark.sql("SELECT count(*) AS n FROM t1").collect()(0).getLong(0) shouldBe 2
    cat.dropTable("t1")
    cat.tableExists("t1") shouldBe false
  }

  test("export: partitioned full refresh with derived day column") {
    val out = tmpDir("exp") + "/t"
    val df = Seq(("2024-01-01 10:00:00", 1), ("2024-01-02 11:00:00", 2))
      .toDF("ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    graft.pipeline.FlatView.export(df, out, partitionFromTs = Some("ts"))
    FsUtils.listSubdirs(spark, out) shouldBe
      Seq("_export_date=2024-01-01", "_export_date=2024-01-02")
    spark.read.parquet(out).count() shouldBe 2
    graft.pipeline.FlatView.export(df.limit(1), out, Some("ts")) // WRITE_TRUNCATE
    spark.read.parquet(out).count() shouldBe 1
  }

  test("fs listing finds partition subdirectories") {
    // a bronze-style plain dir, as topic autodetection lists it
    val t = tmpDir("cat2") + "/t"
    Seq((1, "x"), (2, "y")).toDF("k", "part").write.partitionBy("part")
      .parquet(t)
    FsUtils.listSubdirs(spark, t) shouldBe Seq("part=x", "part=y")
  }

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("streaming windowed counts with watermark over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val out = Streams.windowedEventCounts(events, "10 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("wincounts")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((ts(1), "click", 1.0), (ts(4), "click", 2.0), (ts(11), "view", 5.0))
      q.processAllAvailable()
      // advance event time far enough to close the first windows
      mem.addData((ts(59), "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("wincounts")
        .select("window_start", "event_type", "n", "revenue")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      rows should contain("2024-01-01 10:00:00.0", "click", 2L, 3.0)
      rows should contain("2024-01-01 10:10:00.0", "view", 1L, 5.0)
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered keys across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val out = Streams.streamingDedup(
      mem.toDF().toDF("event_id", "ts", "payload"), Seq("event_id"), "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L, ts(0), "a"), (2L, ts(1), "b"), (1L, ts(2), "a-dup"))
      q.processAllAvailable()
      mem.addData((1L, ts(3), "a-redelivery"), (3L, ts(4), "c"))
      q.processAllAvailable()
      // assert key-idempotency only — WHICH duplicate's payload survives is
      // processing-order-dependent and not part of the contract
      val rows = spark.table("dedup_stream").select("event_id", "payload")
        .as[(Long, String)].collect()
      rows.map(_._1).sorted shouldBe Array(1L, 2L, 3L)
      rows.length shouldBe 3
    } finally q.stop()
  }

  test("streaming sessionization matches the batch replay") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val gap = 10 * 60 * 1000L
    val out = Streams.sessionize(spark, mem.toDS(), gap, withTimeout = false)
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: two bursts 30 min apart → 2 sessions; user 2: one session
      mem.addData(
        Event(1L, ts(0), "click", 1.0), Event(1L, ts(5), "click", 2.0),
        Event(2L, ts(2), "view", 4.0))
      q.processAllAvailable()
      mem.addData(Event(1L, ts(40), "click", 8.0))
      q.processAllAvailable()
      val streamed = spark.table("sessions").as[Session].collect()
      // first session of user 1 closed by the 40-minute event arriving
      streamed.map(s => (s.user_id, s.n_events, s.total_value)) should
        contain((1L, 2, 3.0))

      val batch = Streams.sessionizeBatch(
        Seq((1L, ts(0), 1.0), (1L, ts(5), 2.0), (1L, ts(40), 8.0), (2L, ts(2), 4.0))
          .toDF("user_id", "ts", "value"), gap)
      batch.count() shouldBe 3 // u1 ×2 sessions + u2 ×1
      batch.where($"user_id" === 1 && $"n_events" === 2)
        .select("total_value").collect()(0).getDouble(0) shouldBe 3.0
    } finally q.stop()
  }

  test("event-time-timeout sessionization closes on watermark, not wall clock") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = Streams.sessionizeEventTime(spark, mem.toDS(),
      gapMs = 10 * 60 * 1000L, lateness = "5 minutes")
    val q = out.writeStream.format("memory").queryName("et_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Event(1L, ts(0), "click", 1.0), Event(1L, ts(5), "click", 2.0))
      q.processAllAvailable()
      // nothing closes yet: the watermark hasn't passed :05 + 10 min
      spark.table("et_sessions").count() shouldBe 0
      // a later event advances the watermark to :59 − 5 min = :54 > :15 …
      mem.addData(Event(2L, ts(59), "view", 4.0))
      q.processAllAvailable()
      // … and the timeout fires on the following trigger
      mem.addData(Event(2L, ts(59), "view", 0.0))
      q.processAllAvailable()
      val sessions = spark.table("et_sessions").as[Session].collect()
      sessions.map(_.user_id) should contain(1L)
      val s1 = sessions.find(_.user_id == 1L).get
      s1.n_events shouldBe 2
      s1.total_value shouldBe 3.0
      s1.session_end.toString shouldBe ts(5).toString
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch replay") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Long, Timestamp)]
    val buys = MemoryStream[(Long, Long, Timestamp)]
    val out = Streams.intervalJoin(
      views.toDF().toDF("user_id", "view_id", "ts"),
      buys.toDF().toDF("user_id", "buy_id", "ts"),
      "user_id", after = "10 minutes", lateness = "5 minutes")
      .select(col("l.user_id"), col("view_id"), col("buy_id"))
    val q = out.writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Append()).start()
    try {
      // u1 views at :00 and :20; buys at :05 (within both? only :00+10)
      // and :25 (within :20+10). u2 buys with no view. Cross-batch arrival.
      views.addData((1L, 100L, ts(0)), (1L, 101L, ts(20)))
      buys.addData((1L, 200L, ts(5)), (2L, 201L, ts(6)))
      q.processAllAvailable()
      buys.addData((1L, 202L, ts(25)))
      // advance both watermarks so all joinable state resolves
      views.addData((9L, 999L, ts(59)))
      buys.addData((9L, 998L, ts(59)))
      q.processAllAvailable()
      val streamed = spark.table("funnel")
        .as[(Long, Long, Long)].collect().toSet
      val batch = Streams.intervalJoin(
        Seq((1L, 100L, ts(0)), (1L, 101L, ts(20)), (9L, 999L, ts(59)))
          .toDF("user_id", "view_id", "ts"),
        Seq((1L, 200L, ts(5)), (2L, 201L, ts(6)), (1L, 202L, ts(25)),
          (9L, 998L, ts(59)))
          .toDF("user_id", "buy_id", "ts"),
        "user_id", after = "10 minutes")
        .select(col("l.user_id"), col("view_id"), col("buy_id"))
        .as[(Long, Long, Long)].collect().toSet
      streamed shouldBe batch
      batch shouldBe Set((1L, 100L, 200L), (1L, 101L, 202L), (9L, 999L, 998L))
    } finally q.stop()
  }

  test("interval join as a real AvailableNow file stream over sf0.01 events == oracle-checked batch twin") {
    val sfDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sfDir/events.parquet").exists())
    // the batch twin is the exact plan the driver value-checks against
    // DuckDB (q52) — matching it transitively oracle-verifies the stream
    val batch = Queries.q52IntervalJoin(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().sorted
    batch.length should be > 0

    // the file stream source lists a DIRECTORY — stage the (read-only)
    // testdata file into one; the bytes streamed are the real sf0.01 table
    val streamDir = tmpDir("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$streamDir/events.parquet"))
    val sch = spark.read.parquet(s"$sfDir/events.parquet").schema
    def eventStream() = {
      val raw = spark.readStream.schema(sch).parquet(streamDir)
      // same nanos→micros conversion the batch reader applies (events.ts
      // is TIMESTAMP(NANOS), surfaced as long under nanosAsLong)
      if (sch("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      else raw
    }
    val views = eventStream().where($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts")
    val buys = eventStream().where($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("buy_id"), $"ts")
    val out = Streams.intervalJoin(views, buys, "user_id",
        before = "0 minutes", after = "4 hours")
      .select(col("l.user_id").as("user_id"), col("view_id"), col("buy_id"),
        (unix_micros(col("r.ts")) - unix_micros(col("l.ts"))).as("lag_us"))
    val q = out.writeStream.format("memory").queryName("funnel_sf")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val streamed = spark.table("funnel_sf")
      .as[(Long, Long, Long, Long)].collect().sorted
    streamed shouldBe batch
  }

  test("windowed counts as a real AvailableNow file stream == oracle-checked batch twin") {
    val sfDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sfDir/events.parquet").exists())
    val batch = Queries.q36WindowedCounts(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val streamDir = tmpDir("events_stream_win")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$streamDir/events.parquet"))
    val sch = spark.read.parquet(s"$sfDir/events.parquet").schema
    val raw = spark.readStream.schema(sch).parquet(streamDir)
    val ev =
      if (sch("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      else raw
    val out = Streams.windowedEventCounts(ev, "1 hour", "30 minutes")
    // Complete mode: append would withhold windows the final watermark
    // hasn't closed — the full-table result is the batch-equivalent view
    val q = out.writeStream.format("memory").queryName("win_sf")
      .outputMode(OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    spark.table("win_sf").collect().map(_.toSeq).toSet shouldBe batch
    batch.size should be > 0
  }

  test("as-of join picks the latest right row at-or-before each left row") {
    import graft.operators.AsOfJoin
    def ts(min: Int) = new Timestamp(3600L * 1000 + min * 60000L)
    val buys = Seq((1L, 100L, ts(10)), (1L, 101L, ts(30)), (1L, 102L, ts(5)),
      (2L, 103L, ts(10)), (3L, 104L, ts(0)))
      .toDF("user_id", "buy_id", "ts")
    val views = Seq((1L, 200L, ts(8)), (1L, 201L, ts(10)), (1L, 202L, ts(25)),
      (2L, 203L, ts(9)), (2L, 204L, ts(9)), // tie on (user, ts) → max id wins
      (3L, 205L, ts(1))) // after user 3's only buy → no match
      .toDF("user_id", "view_id", "ts")
    val out = AsOfJoin.asOf(buys, views, "user_id", "ts",
        rightCols = Seq("view_id"), tieBreak = "view_id")
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    out shouldBe Map(
      100L -> 201L, // equal-ts view is visible (ts <= ts)
      101L -> 202L, // latest prior, not first
      103L -> 204L) // (user,ts) tie resolved to greatest view_id
    // 102 (buy before any view) and 104 (user 3) drop — inner semantics
  }

  test("as-of join carries every right field from the SAME right row, nulls included") {
    import graft.operators.AsOfJoin
    def ts(min: Int) = new Timestamp(3600L * 1000 + min * 60000L)
    // the LATEST matching view has a NULL referrer while an OLDER view has
    // a value: the buy must see (view_id=301, referrer=NULL) — per-column
    // forward-fill would splice 300's "search" into 301's row
    val buys = Seq((1L, 100L, ts(20))).toDF("user_id", "buy_id", "ts")
    val views = Seq(
      (1L, 300L, ts(5), "search"),
      (1L, 301L, ts(10), null.asInstanceOf[String]))
      .toDF("user_id", "view_id", "ts", "referrer")
    val out = AsOfJoin.asOf(buys, views, "user_id", "ts",
      rightCols = Seq("view_id", "referrer"), tieBreak = "view_id").collect()
    out.length shouldBe 1 // a null payload field must not drop the match
    out(0).getLong(3) shouldBe 301L
    out(0).isNullAt(4) shouldBe true // the matched row's own NULL survives
  }

  test("binned range join: exact containment, loud fan-out guard, no nested loop") {
    import graft.operators.RangeJoin
    val points = Seq((1L, 5.0), (2L, 10.0), (3L, 10.5), (4L, 99.0))
      .toDF("pid", "x")
    val intervals = Seq((100, 0.0, 10.0), (200, 10.0, 20.0), (300, 50.0, 60.0))
      .toDF("iid", "lo", "hi")
    val out = RangeJoin.pointInInterval(points, "x", intervals, "lo", "hi",
        binWidth = 5.0)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // inclusive both edges: x=10 matches [0,10] AND [10,20]
    out shouldBe Set((1L, 100), (2L, 100), (2L, 200), (3L, 200))
    // plan is a hash/broadcast equi-join on the bin, never a nested loop
    val df = RangeJoin.pointInInterval(points, "x", intervals, "lo", "hi", 5.0)
    df.collect()
    df.queryExecution.executedPlan.toString() should not include "NestedLoop"
    // an interval wider than the fan-out cap fails loudly at runtime
    val wide = Seq((1, 0.0, 1e9)).toDF("iid", "lo", "hi")
    val e = intercept[Exception] {
      RangeJoin.pointInInterval(points, "x", wide, "lo", "hi", 5.0,
        maxBinsPerInterval = 100).collect()
    }
    e.getMessage should include("range join")
    // an inverted interval (lo > hi) contains nothing: zero rows, no
    // error, and no |fanOut| explosion even when it would dwarf the cap
    val inverted = Seq((9, 1e9, 0.0)).toDF("iid", "lo", "hi")
    RangeJoin.pointInInterval(points, "x", inverted, "lo", "hi", 5.0,
      maxBinsPerInterval = 100).count() shouldBe 0
    // null-bounded intervals likewise match nothing instead of erroring
    val nullLo = Seq((9, Option.empty[Double], Option(10.0)))
      .toDF("iid", "lo", "hi")
    RangeJoin.pointInInterval(points, "x", nullLo, "lo", "hi", 5.0)
      .count() shouldBe 0
  }

  test("multi-probe LSH finds at least the single-probe results, still exact-subset") {
    val emb = (0L until 80L).map { i =>
      (i, Seq.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val q = emb.where($"vec_id" < 4)
    val brute = Similarity.bruteForceTopK(emb, q, k = 80).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val single = Similarity.lshTopK(emb, q, k = 80, planes = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val multi = Similarity.lshTopK(emb, q, k = 80, planes = 4, multiProbe = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    single.subsetOf(multi) shouldBe true  // recall only grows
    multi.size should be > single.size    // Hamming-1 probes add candidates
    multi.subsetOf(brute) shouldBe true   // every hit is a genuine exact score
  }

  test("trained IVF centroids: exhaustive probing still equals brute force") {
    val emb = (0L until 90L).map { i =>
      (i, Seq.tabulate(8)(d => math.cos(i * 7 + d * 11).toFloat))
    }.toDF("vec_id", "embedding")
    val q = emb.where($"vec_id" < 3)
    val cents = Similarity.trainCentroids(emb, nlist = 6, iters = 4)
    cents.length shouldBe 6
    // same corpus → same centroids (deterministic training)
    Similarity.trainCentroids(emb, nlist = 6, iters = 4) shouldBe cents
    val exhaustive = Similarity.ivfTopK(emb, q, k = 5, nlist = 6, nprobe = 6,
        centroids = cents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val brute = Similarity.bruteForceTopK(emb, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    exhaustive shouldBe brute
  }

  test("ivf topk probes nearest cells and is a subset of brute force") {
    val emb = (0L until 60L).map { i =>
      (i, Seq.tabulate(8)(d => math.cos(i * 17 + d * 3).toFloat))
    }.toDF("vec_id", "embedding")
    val q = emb.where($"vec_id" < 3)
    val brute = Similarity.bruteForceTopK(emb, q, k = 60).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ivf = Similarity.ivfTopK(emb, q, k = 5, nlist = 8, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    ivf.length should be > 0
    ivf.toSet.subsetOf(brute) shouldBe true
    // with nprobe = nlist (exhaustive probing) IVF == brute force exactly
    val exhaustive = Similarity.ivfTopK(emb, q, k = 5, nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val bruteTop5 = Similarity.bruteForceTopK(emb, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    exhaustive.toSet shouldBe bruteTop5.toSet
  }

  test("writeDirAtomic: batch dirs are complete-or-absent, replace is a rename swap") {
    import spark.implicits._
    val root = tmpDir("atomicdir")
    val dest = s"$root/batch=7"
    FsUtils.writeDirAtomic(spark, Seq((1, "a"), (2, "b")).toDF("k", "v"), dest)
    spark.read.parquet(dest).count() shouldBe 2L
    // replace (the at-least-once redelivery path): new content, and the
    // swap leaves no staging or trash debris behind
    FsUtils.writeDirAtomic(spark, Seq((1, "a2")).toDF("k", "v"), dest)
    spark.read.parquet(dest).collect().map(r => (r.getInt(0), r.getString(1))) shouldBe
      Array((1, "a2"))
    new java.io.File(root).listFiles().map(_.getName)
      .filter(n => n.startsWith(".staging-") || n.startsWith(".trash-")) shouldBe empty
    // a crashed attempt leaves only HIDDEN staging debris -- the visible
    // dir set is untouched -- and a cold leftover is reaped on the next call
    val stale = new java.io.File(s"$root/.staging-deadbeef")
    stale.mkdirs() shouldBe true
    stale.setLastModified(System.currentTimeMillis() - 16 * 60 * 1000L) shouldBe true
    FsUtils.writeDirAtomic(spark, Seq((9, "z")).toDF("k", "v"), s"$root/batch=8")
    stale.exists() shouldBe false
    spark.read.parquet(root).count() shouldBe 2L // batch=7 (1 row) + batch=8 (1 row)
  }

  test("changelog stream: per-commit CDC feed, restart, history replay") {
    import graft.operators.Upsert
    import graft.sources.PartitionSnapshots
    val path = tmpDir("clogtbl") + "/t"
    val ckpt = tmpDir("clogckpt")
    // v1: seed
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // memory sink refuses checkpoint recovery; foreachBatch is the
    // recoverable collector (the production shape anyway)
    def run(rounds: (() => Unit)*): Seq[(Int, Int, String, Long)] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, String, Long)]
      val feed = Streams.changelogStream(spark, path)
      val q = feed.writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("k", "v", "change_type", "_commit_version").collect()
            .foreach(r => buf.add(
              (r.getInt(0), r.getInt(1), r.getString(2), r.getLong(3))))
        }
        .option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        rounds.foreach { r => r(); q.processAllAvailable() }
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq.sorted
    }
    // default start = current version: the seed itself never streams
    val got = run(
      // v2: fast append — two inserts
      () => Upsert.append(spark, path,
        Seq((3, "p1", 30), (4, "p2", 40)).toDF("k", "part", "v"), Seq("part")),
      // v3: update k=1 — its delete+insert pair
      () => Upsert.upsert(spark, path, Seq((1, "p1", 11)).toDF("k", "part", "v"),
        Seq("k"), partitionCols = Seq("part")))
    got shouldBe Seq((1, 10, "delete", 3L), (1, 11, "insert", 3L),
      (3, 30, "insert", 2L), (4, 40, "insert", 2L))
    // restart on the SAME checkpoint: already-served commits never replay
    val afterRestart = run(
      // v4: equality delete of k=4 — streams as a delete row
      () => { PartitionSnapshots.deleteKeys(spark, path,
        Seq(4).toDF("k")) shouldBe true })
    afterRestart shouldBe Seq((4, 40, "delete", 4L))
    // startingVersion = 1 on a FRESH checkpoint: full history replay,
    // each commit at its own _commit_version (v1 = the seed as inserts)
    val replay = Streams.changelogStream(spark, path, startingVersion = Some(1L))
    val q2 = replay.writeStream.format("memory").queryName("clogall")
      .option("checkpointLocation", tmpDir("clogckpt2")).start()
    try q2.processAllAvailable() finally q2.stop()
    val all = spark.table("clogall")
      .select("k", "v", "change_type", "_commit_version").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .toSeq.sorted
    all shouldBe Seq((1, 10, "delete", 3L), (1, 10, "insert", 1L),
      (1, 11, "insert", 3L), (2, 20, "insert", 1L), (3, 30, "insert", 2L),
      (4, 40, "delete", 4L), (4, 40, "insert", 2L))
    // net replay ≡ the table: inserts minus deletes at the end = read()
    val net = spark.table("clogall").groupBy("k", "v")
      .agg(sum(when(col("change_type") === "insert", 1)
        .otherwise(-1)).as("n")).where(col("n") > 0)
    net.select("k", "v").collect().map(r => (r.getInt(0), r.getInt(1)))
      .sorted shouldBe
      Upsert.read(spark, path).select("k", "v").collect()
        .map(r => (r.getInt(0), r.getInt(1))).sorted
  }

  test("changelog replay across additive schema evolution NULL-fills old commits") {
    import graft.operators.Upsert
    val path = tmpDir("clogevo") + "/t"
    // v1: pre-evolution seed (no 'tag' column)
    Upsert.upsert(spark, path, Seq((1, "p1", 10)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // v2: additive evolution commit — 'tag' appears
    Upsert.upsert(spark, path,
      Seq((2, "p1", 20, "x")).toDF("k", "part", "v", "tag"),
      Seq("k"), partitionCols = Seq("part"), evolveSchema = true)
    // v3: post-evolution append
    Upsert.append(spark, path,
      Seq((3, "p2", 30, "y")).toDF("k", "part", "v", "tag"), Seq("part"))
    // fresh checkpoint, full-history replay: micro-batch 0 SPANS the
    // evolution commit. The v1 feed is read at v1's pinned schema (no
    // 'tag') — it must conform to the stream's declared shape with
    // tag = NULL instead of wedging the checkpoint on a missing column.
    val q = Streams.changelogStream(spark, path, startingVersion = Some(1L))
      .writeStream.format("memory").queryName("clogevo")
      .option("checkpointLocation", tmpDir("clogevockpt")).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("clogevo")
      .select("k", "tag", "change_type", "_commit_version").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)), r.getString(2),
        r.getLong(3))).toSeq.sorted
    got shouldBe Seq(
      (1, None, "insert", 1L),
      (2, Some("x"), "insert", 2L),
      (3, Some("y"), "insert", 3L))
  }

  test("changelog stream serves a spec-evolved table across both layouts") {
    import graft.operators.Upsert
    import graft.sources.PartitionSnapshots
    val path = tmpDir("clogspec") + "/t"
    // v1 under spec (part); hour is a data column of the old files
    Upsert.upsert(spark, path,
      Seq((1, "p1", 3, 10), (2, "p1", 7, 20)).toDF("k", "part", "hour", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.evolvePartitionSpec(spark, path, Seq("part", "hour"))
    // v2 (new spec): insert + an update whose key lives in an OLD-spec
    // partition (lazy migration) — the feed must serve both layouts
    Upsert.upsert(spark, path,
      Seq((3, "p1", 9, 30), (2, "p1", 7, 21)).toDF("k", "part", "hour", "v"),
      Seq("k"), partitionCols = Seq("part", "hour"))
    val q = Streams.changelogStream(spark, path, startingVersion = Some(1L))
      .writeStream.format("memory").queryName("clogspec")
      .option("checkpointLocation", tmpDir("clogspecckpt")).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("clogspec")
      .select("k", "hour", "v", "change_type", "_commit_version").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3),
        r.getLong(4))).toSet
    got shouldBe Set(
      (1, 3, 10, "insert", 1L), (2, 7, 20, "insert", 1L),
      (2, 7, 20, "delete", 2L), (2, 7, 21, "insert", 2L),
      (3, 9, 30, "insert", 2L))
  }

  test("changelog stream drains pending commits under Trigger.AvailableNow") {
    import graft.operators.Upsert
    val path = tmpDir("clognow") + "/t"
    val ckpt = tmpDir("clognowckpt")
    Upsert.upsert(spark, path, Seq((1, "p1", 10)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Upsert.append(spark, path, Seq((2, "p2", 20)).toDF("k", "part", "v"),
      Seq("part"))
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    def drain(): Unit = {
      val q = Streams.changelogStream(spark, path, startingVersion = Some(1L))
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("k").collect().foreach(r => buf.add(r.getInt(0)))
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000)) // drains what EXISTS, then stops
    }
    import scala.jdk.CollectionConverters._
    drain()
    buf.asScala.toSeq.sorted shouldBe Seq(1, 2)
    // the incremental maintenance cadence: new commits land, the next
    // AvailableNow run serves exactly them and stops again
    Upsert.append(spark, path, Seq((3, "p1", 30)).toDF("k", "part", "v"),
      Seq("part"))
    drain()
    buf.asScala.toSeq.sorted shouldBe Seq(1, 2, 3)
  }

  test("changelog stream never serves branch-staged commits; fast-forward streams the published diff") {
    import graft.operators.Upsert
    import graft.sources.PartitionSnapshots
    val path = tmpDir("clogbr") + "/t"
    val ckpt = tmpDir("clogbrckpt")
    Upsert.upsert(spark, path, Seq((1, "p1", 10)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]
    val q = Streams.changelogStream(spark, path).writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("k", "_commit_version").collect()
          .foreach(r => buf.add((r.getInt(0), r.getLong(1))))
      }
      .option("checkpointLocation", ckpt).start()
    import scala.jdk.CollectionConverters._
    try {
      q.processAllAvailable()
      // branch staging creates root slots ABOVE main's pointer — the
      // feed must not serve them (they are unpublished)
      PartitionSnapshots.createBranch(spark, path, "stage")
      Upsert.upsert(spark, path, Seq((2, "p1", 20)).toDF("k", "part", "v"),
        Seq("k"), partitionCols = Seq("part"), branch = Some("stage"))
      Upsert.append(spark, path, Seq((3, "p2", 30)).toDF("k", "part", "v"),
        Seq("part"), branch = Some("stage"))
      q.processAllAvailable()
      buf.asScala.toSeq shouldBe empty
      // fast-forward publishes: the feed emits the whole staged line as
      // one net diff stamped with the published head's version
      val head = PartitionSnapshots.fastForwardRoot(spark, path, "stage")
      q.processAllAvailable()
      buf.asScala.toSeq.sorted shouldBe Seq((2, head), (3, head))
      // and ordinary main commits keep streaming per-commit after it
      Upsert.append(spark, path, Seq((4, "p2", 40)).toDF("k", "part", "v"),
        Seq("part"))
      q.processAllAvailable()
      buf.asScala.toSeq.map(_._1).sorted shouldBe Seq(2, 3, 4)
    } finally q.stop()
  }

  test("changelog stream batch-0 window survives crash-replay (persisted base)") {
    import graft.operators.Upsert
    val path = tmpDir("clogbase") + "/t"
    val meta = tmpDir("clogbasemeta")
    Upsert.upsert(spark, path, Seq((1, "p1", 10)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // source created while the table sits at v1: base=1 is PERSISTED
    val s1 = new graft.streaming.ChangelogSource(spark, path, None, meta)
    Upsert.append(spark, path, Seq((2, "p2", 20)).toDF("k", "part", "v"),
      Seq("part"))
    // crash before batch 0 commits; the engine replays getBatch(None, 2)
    // on a RE-CREATED source — which must re-read the recorded window,
    // not restart empty from the table's new head
    val s2 = new graft.streaming.ChangelogSource(spark, path, None, meta)
    s2.batchFeed(None, 2L).select("k").collect()
      .map(_.getInt(0)) shouldBe Array(2)
  }

  test("branch changelog stream: staged commits per-commit, other lines invisible") {
    import graft.operators.Upsert
    import graft.sources.PartitionSnapshots
    val path = tmpDir("clogbrfeed") + "/t"
    Upsert.upsert(spark, path, Seq((1, "p1", 10)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.createBranch(spark, path, "etl")
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]
    val q = Streams.changelogStream(spark, path, branch = Some("etl"))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("k", "_commit_version").collect()
          .foreach(r => buf.add((r.getInt(0), r.getLong(1))))
      }
      .option("checkpointLocation", tmpDir("clogbrfeedckpt")).start()
    import scala.jdk.CollectionConverters._
    try {
      q.processAllAvailable()
      // two branch commits: the branch consumer sees each per-commit
      Upsert.upsert(spark, path, Seq((2, "p1", 20)).toDF("k", "part", "v"),
        Seq("k"), partitionCols = Seq("part"), branch = Some("etl")) // v2
      Upsert.append(spark, path, Seq((3, "p2", 30)).toDF("k", "part", "v"),
        Seq("part"), branch = Some("etl")) // v3
      q.processAllAvailable()
      buf.asScala.toSeq.sorted shouldBe Seq((2, 2L), (3, 3L))
      // a MAIN commit (and another branch's commit) stay invisible to it
      Upsert.upsert(spark, path, Seq((4, "p2", 40)).toDF("k", "part", "v"),
        Seq("k"), partitionCols = Seq("part"))
      PartitionSnapshots.createBranch(spark, path, "other", v = 4L)
      Upsert.append(spark, path, Seq((5, "p1", 50)).toDF("k", "part", "v"),
        Seq("part"), branch = Some("other"))
      q.processAllAvailable()
      buf.asScala.toSeq.map(_._1).sorted shouldBe Seq(2, 3)
    } finally q.stop()
  }

  test("changelog never re-serves commits a rollback abandoned") {
    import graft.operators.Upsert
    import graft.sources.PartitionSnapshots
    val path = tmpDir("clogroll") + "/t"
    val meta = tmpDir("clogrollmeta")
    Upsert.upsert(spark, path, Seq((1, "p1", 10)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val s = new graft.streaming.ChangelogSource(spark, path, None, meta)
    Upsert.upsert(spark, path, Seq((2, "p1", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part")) // v2
    Upsert.upsert(spark, path, Seq((3, "p1", 30)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part")) // v3 — consumed through here
    PartitionSnapshots.rollbackRoot(spark, path, 1L)
    Upsert.upsert(spark, path, Seq((4, "p1", 40)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part")) // v4, forked off v1
    // the resumed window (3 → 4] walks v4's LINEAGE: the abandoned v2/v3
    // never re-emit per-commit; the feed is the net diff across the fork
    val got = s.batchFeed(Some(3L), 4L)
      .select("k", "change_type", "_commit_version").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sorted
    got.map(_._3).distinct shouldBe Array(4L)
    got shouldBe Array((2, "delete", 4L), (3, "delete", 4L),
      (4, "insert", 4L))
  }

  test("changelog → append stream: exactly-once table-to-table mirror") {
    import graft.operators.Upsert
    val src = tmpDir("mirsrc") + "/t"
    val dst = tmpDir("mirdst") + "/t"
    Upsert.upsert(spark, src, Seq((1, "p1", 10)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val inserts = Streams.changelogStream(spark, src,
        startingVersion = Some(1L))
      .where(col("change_type") === "insert").select("k", "part", "v")
    val q = Streams.manifestedAppendStream(spark, inserts, dst, Seq("part"),
      tmpDir("mirckpt"))
    try {
      q.processAllAvailable()
      Upsert.append(spark, src, Seq((2, "p2", 20), (3, "p1", 30))
        .toDF("k", "part", "v"), Seq("part"))
      q.processAllAvailable()
    } finally q.stop()
    // the mirror converges to the source: offsets pin which commits
    // streamed, txn stamps make each append idempotent
    Upsert.read(spark, dst).select("k", "v").collect()
      .map(r => (r.getInt(0), r.getInt(1))).sorted shouldBe
      Upsert.read(spark, src).select("k", "v").collect()
        .map(r => (r.getInt(0), r.getInt(1))).sorted
  }

  test("manifested append stream: exactly-once micro-batch ingest") {
    import graft.operators.Upsert
    import graft.sources.PartitionSnapshots
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, String, Int)]
    val path = tmpDir("ingesttbl") + "/t"
    val ckpt = tmpDir("ingestckpt")
    val q = Streams.manifestedAppendStream(spark,
      mem.toDF().toDF("k", "part", "v"), path, Seq("part"), ckpt,
      appId = Some("ingest-e2e"))
    try {
      mem.addData((1, "p1", 10), (2, "p2", 20))
      q.processAllAvailable()
      mem.addData((3, "p1", 30))
      q.processAllAvailable()
    } finally q.stop()
    Upsert.read(spark, path).count() shouldBe 3L
    // each micro-batch committed as an O(new data) append: batch 1's p1
    // rows landed as a second PART, batch 0's version dir untouched
    PartitionSnapshots.rootManifest(spark, path)
      .get("part=p1") should include("&")
    // crash-redelivery: foreachBatch re-runs the LAST batch id with the
    // same data — the txn stamp absorbs it, nothing commits twice
    Upsert.append(spark, path, Seq((3, "p1", 30)).toDF("k", "part", "v"),
      Seq("part"), txn = Some(("ingest-e2e", 1L)))
    Upsert.read(spark, path).count() shouldBe 3L
    PartitionSnapshots.lastTxnVersion(spark, path,
      "graft.txn.ingest-e2e") shouldBe Some(1L)
    // restart on the SAME checkpoint: the query resumes past committed
    // offsets and only NEW data appends
    val q2 = Streams.manifestedAppendStream(spark,
      mem.toDF().toDF("k", "part", "v"), path, Seq("part"), ckpt,
      appId = Some("ingest-e2e"))
    try {
      mem.addData((4, "p2", 40))
      q2.processAllAvailable()
    } finally q2.stop()
    Upsert.read(spark, path).collect()
      .map(r => r.getAs[Int]("k")).sorted shouldBe Array(1, 2, 3, 4)
  }

  test("streaming ingest coexists with a concurrent batch writer (optimistic appends)") {
    import graft.operators.Upsert
    import graft.sources.PartitionSnapshots
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, String, Int)]
    val path = tmpDir("coextbl") + "/t"
    val ckpt = tmpDir("coexckpt")
    // seed so the batch writer has something to MERGE into
    Upsert.upsert(spark, path, Seq((1, "p1", 10)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // a batch maintenance job is MID-COMMIT (holds the lease) when the
    // stream's first micro-batch arrives: the foreachBatch append must
    // WAIT it out and land, not kill the query (the fail-fast append
    // would throw ConcurrentWriteException into the stream)
    val token = Upsert.acquireLock(spark, path, Upsert.DefaultLockTtlMs)
    mem.addData((2, "p1", 20), (3, "p2", 30))
    val q = Streams.manifestedAppendStream(spark,
      mem.toDF().toDF("k", "part", "v"), path, Seq("part"), ckpt,
      appId = Some("coex"), availableNow = true)
    try {
      Thread.sleep(1500) // the micro-batch is now waiting on the lease
      Upsert.releaseLock(spark, path, token)
      q.awaitTermination(60000) shouldBe true
    } finally q.stop()
    Upsert.read(spark, path).count() shouldBe 3L
    // a batch MERGE lands BETWEEN stream batches; both lines visible
    Upsert.upsert(spark, path, Seq((1, "p1", 11)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    mem.addData((4, "p2", 40))
    val q2 = Streams.manifestedAppendStream(spark,
      mem.toDF().toDF("k", "part", "v"), path, Seq("part"), ckpt,
      appId = Some("coex"), availableNow = true)
    try q2.awaitTermination(60000) shouldBe true finally q2.stop()
    Upsert.read(spark, path).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[Int]("v"))).toSet shouldBe
      Set((1, 11), (2, 20), (3, 30), (4, 40))
    // exactly-once across the concurrency: redelivering the last batch
    // id commits nothing twice
    val head = PartitionSnapshots.currentRootVersion(spark, path).get
    Upsert.appendOptimistic(spark, path,
      Seq((4, "p2", 40)).toDF("k", "part", "v"), Seq("part"),
      txn = Some(("coex", 1L)))
    PartitionSnapshots.currentRootVersion(spark, path).get shouldBe head
    Upsert.read(spark, path).count() shouldBe 4L
  }

  test("changelog initial-snapshot bootstrap: fresh consumer after retention expiry") {
    import graft.operators.Upsert
    import graft.sources.PartitionSnapshots
    val path = tmpDir("clogboot") + "/t"
    // enough history that the head sits on a fresh FULL manifest (the
    // RebaseEvery cadence) — chain closure then pins nothing below it
    // and time-based expiry can really drop the early roots
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    for (i <- 0 until 8)
      Upsert.append(spark, path,
        Seq((100 + i, "p1", i)).toDF("k", "part", "v"), Seq("part"))
    Upsert.upsert(spark, path, Seq((1, "p1", 11)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // retention expires the early roots — full-history replay is gone
    Thread.sleep(100)
    val expired = PartitionSnapshots.expireRoots(spark, path, olderThanMs = 0)
    expired should not be empty
    val bootV = PartitionSnapshots.currentRootVersion(spark, path).get
    // a fresh startingVersion = 1 replay refuses LOUDLY (the
    // expire-snapshots contract — never a silent partial history)
    val refuse = Streams.changelogStream(spark, path,
        startingVersion = Some(1L))
      .writeStream.format("memory").queryName("clogboot_refuse")
      .option("checkpointLocation", tmpDir("clogbootr")).start()
    an[Exception] should be thrownBy {
      try refuse.processAllAvailable() finally refuse.stop()
    }
    // the supported fresh-consumer path: initial-snapshot bootstrap —
    // batch 0 = the current image as inserts stamped with the bootstrap
    // version, then ordinary per-commit tailing
    val ckpt = tmpDir("clogbootck")
    def run(rounds: (() => Unit)*): Seq[(Int, Int, String, Long)] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, String, Long)]
      val q = Streams.changelogStream(spark, path, initialSnapshot = true)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("k", "v", "change_type", "_commit_version").collect()
            .foreach(r => buf.add(
              (r.getInt(0), r.getInt(1), r.getString(2), r.getLong(3))))
        }
        .option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        rounds.foreach { r => r(); q.processAllAvailable() }
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq.sorted
    }
    val imageRows = Upsert.read(spark, path).select("k", "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), "insert", bootV)).toSeq
    val got = run(
      () => Upsert.append(spark, path,
        Seq((4, "p2", 40)).toDF("k", "part", "v"), Seq("part")),
      () => { PartitionSnapshots.deleteKeys(spark, path,
        Seq(2).toDF("k")) shouldBe true })
    // batch 0: every live row as an insert at bootV; then the tail
    got shouldBe (imageRows ++ Seq((2, 20, "delete", bootV + 2),
      (4, 40, "insert", bootV + 1))).sorted
    // accumulated feed nets to the final table image
    val net = got.groupBy(r => (r._1, r._2)).view
      .mapValues(_.map(r => if (r._3 == "insert") 1 else -1).sum)
      .filter(_._2 > 0).keys.toSeq.sorted
    net shouldBe Upsert.read(spark, path).select("k", "v").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
    // restart on the SAME checkpoint: the image never re-serves
    val after = run(() => Upsert.append(spark, path,
      Seq((5, "p1", 50)).toDF("k", "part", "v"), Seq("part")))
    after shouldBe Seq((5, 50, "insert", bootV + 3))

    // adding initial-snapshot to an ESTABLISHED checkpoint that was
    // created WITHOUT the option refuses loudly: writing the marker at
    // the persisted base would make a crash-replay of its uncommitted
    // batch 0 suddenly carry a full-table image the original batch
    // never contained — replayed batches must be byte-stable
    val ckptPlain = tmpDir("clogbootplain")
    def startOn(initSnap: Boolean) =
      Streams.changelogStream(spark, path, initialSnapshot = initSnap)
        .writeStream
        .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ())
        .option("checkpointLocation", ckptPlain).start()
    val plain = startOn(false)
    try plain.processAllAvailable() finally plain.stop()
    an[Exception] should be thrownBy {
      val est = startOn(true)
      try est.processAllAvailable() finally est.stop()
    }
  }
}
