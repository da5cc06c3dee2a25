package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{BronzeToSilver, FlatView, SilverToGold}

/** End-to-end medallion pipeline: bronze JSON fixtures → silver → gold →
  * flat view, batch and streaming, with idempotent re-runs. */
class PipelineSpec extends SparkSpec {

  private def writeFixtures(root: String): Unit = {
    def put(rel: String, json: String): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, json)
    }
    put("vnexpress/the-thao/2025/10/10/a1.json",
      """{"title":"Bai 1","url":"https://e.vn/a1 ","author":" An ","topic":"ignored","sub_topic":"bong-da","publish_date":"Thứ sáu, 10/10/2025, 14:27 (GMT+7)","description":"d1","main_content":"một hai ba bốn năm","keywords":["k1","k2"],"references":["r1"],"comment_count":3,"top_comments":[{"commenter_name":"C1","comment_content":"hay","total_likes":5,"interaction_details":"{\"like\": \"5\", \"love\": \"2\"}"}],"ingested_at":"2025-10-10T15:00:00","year":2025,"month":10,"day":10}""")
    put("vnexpress/kinh-doanh/2025/10/11/a2.json",
      """{"title":"Bai 2","url":"https://e.vn/a2","author":"Binh","topic":"x","sub_topic":null,"publish_date":"1760197020000","description":"d2","main_content":"sáu bảy","keywords":["k2","k3"],"references":[],"comment_count":0,"top_comments":[],"ingested_at":"2025-10-11T15:00:00","year":2025,"month":10,"day":11}""")
    put("vnexpress/the-thao/2025/10/10/bad1.json",
      """{"title":"No url","url":null,"author":"X","topic":"x","sub_topic":null,"publish_date":"1760110620","description":null,"main_content":null,"keywords":[],"references":[],"comment_count":0,"top_comments":[],"ingested_at":null,"year":2025,"month":10,"day":10}""")
    put("vnexpress/the-thao/2025/10/10/bad2.json",
      """{"title":"No date","url":"https://e.vn/bad2","author":"X","topic":"x","sub_topic":null,"publish_date":"not a date","description":null,"main_content":null,"keywords":[],"references":[],"comment_count":0,"top_comments":[],"ingested_at":null,"year":2025,"month":10,"day":10}""")
    // malformed JSON: PERMISSIVE mode must null it out, not kill the read
    put("vnexpress/the-thao/2025/10/10/corrupt.json",
      """{"title": "broken", "url": "https://e.vn/corrupt", INVALID!!}""")
  }

  private def silver(wh: String, name: String): DataFrame =
    graft.operators.Upsert.read(spark, s"$wh/$name")

  test("batch bronze→silver→gold→flat view end to end") {
    val root = tmpDir("bronze")
    val wh = tmpDir("silver")
    val gold = tmpDir("gold")
    writeFixtures(root)

    BronzeToSilver.runBatch(spark, root, wh)

    val articles = silver(wh, "articles")
    articles.count() shouldBe 2 // bad1 (no url) + bad2 (no ts) filtered
    // topic derived from the file path, not the JSON body
    val a1 = articles.where(col("URL") === "https://e.vn/a1").collect()(0)
    a1.getAs[java.sql.Date]("date").toString shouldBe "2025-10-10"
    a1.getAs[Int]("hour") shouldBe 7 // 14:27 GMT+7 → 07:27 UTC
    silver(wh, "topics").select("TopicName").collect().map(_.getString(0)).toSet shouldBe
      Set("the-thao", "kinh-doanh")
    silver(wh, "keywords").count() shouldBe 3
    silver(wh, "article_keywords").count() shouldBe 4
    silver(wh, "comments").count() shouldBe 1
    val ci = silver(wh, "comment_interactions")
    ci.count() shouldBe 2
    ci.select(sum(col("InteractionCount"))).collect()(0).getLong(0) shouldBe 7

    // re-run: byte-stable row sets (idempotence — the reference's invariant)
    val before = silver(wh, "articles").collect().map(_.toSeq).toSet
    BronzeToSilver.runBatch(spark, root, wh)
    silver(wh, "articles").collect().map(_.toSeq).toSet shouldBe before

    SilverToGold.run(spark, wh, gold)
    val fact = graft.operators.Upsert.read(spark, s"$gold/fact_article_publication")
    fact.count() shouldBe 2
    val f1 = fact.where(col("PublicationDateKey") === 20251010).collect()(0)
    f1.getAs[Int]("WordCountInMainContent") shouldBe 5
    graft.operators.Upsert.read(spark, s"$gold/dim_date").count() shouldBe 2
    // UNKNOWN members seeded for sentinel FKs
    graft.operators.Upsert.read(spark, s"$gold/dim_author")
      .where(col("AuthorKey") === -1L).count() shouldBe 1

    val flat = FlatView.vwArticlesFlat(
      fact,
      graft.operators.Upsert.read(spark, s"$gold/dim_author"),
      graft.operators.Upsert.read(spark, s"$gold/dim_topic"),
      graft.operators.Upsert.read(spark, s"$gold/dim_sub_topic"))
    flat.count() shouldBe 2
    flat.where(col("ArticleTitle") === "Bai 1")
      .select("AuthorName").collect()(0).getString(0) shouldBe "An"

    // gold re-run idempotent too
    SilverToGold.run(spark, wh, gold)
    graft.operators.Upsert.read(spark, s"$gold/fact_article_publication")
      .count() shouldBe 2
  }

  test("schema evolution end to end: new bronze column flows to silver and gold with NULL backfill") {
    val root = tmpDir("bronzeE")
    val wh = tmpDir("silverE")
    val gold = tmpDir("goldE")
    writeFixtures(root)

    // day 0: pipeline runs before the column exists
    BronzeToSilver.runBatch(spark, root, wh)
    SilverToGold.run(spark, wh, gold)
    silver(wh, "articles").columns should not contain "read_time_secs"

    // the crawler starts emitting read_time_secs; a new bronze doc carries it
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(root, "vnexpress/so-hoa/2025/10/12"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "vnexpress/so-hoa/2025/10/12/a3.json"),
      """{"title":"Bai 3","url":"https://e.vn/a3","author":"Chi","topic":"x","sub_topic":null,"publish_date":"1760283420000","description":"d3","main_content":"tám chín mười","keywords":["k9"],"references":[],"comment_count":1,"top_comments":[],"ingested_at":"2025-10-12T15:00:00","year":2025,"month":10,"day":12,"read_time_secs":42}""")

    // re-run with the extended reader schema + passthrough config
    val evolved = graft.core.Schemas.bronzeArticle
      .add("read_time_secs", org.apache.spark.sql.types.IntegerType)
    BronzeToSilver.runBatch(spark, root, wh,
      bronzeSchema = evolved, extraArticleCols = Seq("read_time_secs"))

    // silver: column exists, old rows NULL-backfilled, new row carries 42
    val arts = silver(wh, "articles")
    arts.columns should contain("read_time_secs")
    arts.count() shouldBe 3
    arts.where(col("URL") === "https://e.vn/a3")
      .select("read_time_secs").collect()(0).getInt(0) shouldBe 42
    arts.where(col("URL") === "https://e.vn/a1")
      .select("read_time_secs").collect()(0).isNullAt(0) shouldBe true

    // gold: the publication fact evolves through the same align path
    SilverToGold.run(spark, wh, gold, extraArticleCols = Seq("read_time_secs"))
    val fact = graft.operators.Upsert.read(spark, s"$gold/fact_article_publication")
    fact.columns should contain("read_time_secs")
    fact.count() shouldBe 3
    fact.where(col("PublicationDateKey") === 20251012)
      .select("read_time_secs").collect()(0).getInt(0) shouldBe 42
    fact.where(col("PublicationDateKey") === 20251010)
      .select("read_time_secs").collect()(0).isNullAt(0) shouldBe true

    // a plain re-run without the config fails LOUDLY (no silent schema loss)
    an[Exception] should be thrownBy BronzeToSilver.runBatch(spark, root, wh)
  }

  test("rejected rows land in quarantine with their reason") {
    val root = tmpDir("bronzeQ")
    val wh = tmpDir("silverQ")
    val q = tmpDir("quarantine") + "/rejects"
    writeFixtures(root)

    BronzeToSilver.runBatch(spark, root, wh, quarantineDir = Some(q))
    silver(wh, "articles").count() shouldBe 2

    val rejects = spark.read.parquet(q)
    // bad1 (null url), bad2 (unparseable date), corrupt.json (PERMISSIVE
    // nulls every field incl. url)
    rejects.count() shouldBe 3
    rejects.where(col("_reject_reason") === "unparseable_publish_date")
      .select("title").collect().map(_.getString(0)) shouldBe Array("No date")
    rejects.where(col("_reject_reason") === "blank_url").count() shouldBe 2
    // quarantine is an append-only audit trail: a re-run appends
    BronzeToSilver.runBatch(spark, root, wh, quarantineDir = Some(q))
    spark.read.parquet(q).count() shouldBe 6
  }

  test("incremental gold run for one date equals the full run and leaves other partitions untouched") {
    val root = tmpDir("bronzeI")
    val wh = tmpDir("silverI")
    val goldFull = tmpDir("goldF")
    val goldInc = tmpDir("goldI")
    writeFixtures(root)
    BronzeToSilver.runBatch(spark, root, wh)

    // reference result: one full run over both days
    SilverToGold.run(spark, wh, goldFull)

    // incremental: day 1 first, then ONLY day 2
    val d1 = java.sql.Date.valueOf("2025-10-10")
    val d2 = java.sql.Date.valueOf("2025-10-11")
    SilverToGold.runIncremental(spark, wh, goldInc, Seq(d1))
    val factDir = s"$goldInc/fact_article_publication"
    val day1Part = new java.io.File(factDir).listFiles()
      .filter(_.getName.startsWith("PublicationDateKey=20251010")).head
    val mtime = day1Part.lastModified()
    Thread.sleep(1100)
    SilverToGold.runIncremental(spark, wh, goldInc, Seq(d2))

    // same gold state as the full run, for every dim and fact
    for (t <- Seq("dim_date", "dim_author", "dim_topic", "dim_sub_topic",
        "fact_article_publication", "fact_article_keyword",
        "fact_top_comment_activity", "fact_top_comment_interaction_detail")) {
      val full = graft.operators.Upsert.read(spark, s"$goldFull/$t").collect().map(_.toSeq).toSet
      val inc = graft.operators.Upsert.read(spark, s"$goldInc/$t").collect().map(_.toSeq).toSet
      withClue(t) { inc shouldBe full }
    }
    // the day-2 run never rewrote day 1's fact partition
    day1Part.lastModified() shouldBe mtime
  }

  test("missingDates lists exactly the silver dates absent from gold") {
    val root = tmpDir("bronzeM")
    val wh = tmpDir("silverM")
    val gold = tmpDir("goldM")
    writeFixtures(root)
    BronzeToSilver.runBatch(spark, root, wh)

    val d1 = java.sql.Date.valueOf("2025-10-10")
    val d2 = java.sql.Date.valueOf("2025-10-11")
    // empty gold → both days pending
    SilverToGold.missingDates(spark, wh, gold) shouldBe Seq(d1, d2)
    SilverToGold.runIncremental(spark, wh, gold, Seq(d1))
    SilverToGold.missingDates(spark, wh, gold) shouldBe Seq(d2)

    // a crashed write of day 2: complete data sealed into a version slot
    // (with _SUCCESS) that no root manifest ever published must NOT mark
    // its date done
    val fact = s"$gold/fact_article_publication"
    graft.operators.Upsert.read(spark, fact).drop("PublicationDateKey")
      .write.parquet(s"$fact/PublicationDateKey=20251011/_versions/v00000001")
    SilverToGold.missingDates(spark, wh, gold) shouldBe Seq(d2)

    // catch-up loop: run what's missing, then nothing is
    SilverToGold.runIncremental(spark, wh, gold,
      SilverToGold.missingDates(spark, wh, gold))
    SilverToGold.missingDates(spark, wh, gold) shouldBe Nil
    graft.operators.Upsert.read(spark, fact).count() shouldBe 2
  }

  test("changelog-driven gold derives its day work-list from silver's root manifests") {
    val day12Root = tmpDir("bronzeCL1") // first ingest: days 1+2
    val day3Root = tmpDir("bronzeCL2")  // second ingest: new day 3 + day-2 update
    val wh = tmpDir("silverCL")
    val goldInc = tmpDir("goldCLI")
    val goldRef = tmpDir("goldCLR")
    def put(root: String, rel: String, json: String): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, json)
    }
    writeFixtures(day12Root)
    BronzeToSilver.runBatch(spark, day12Root, wh)
    val articles = s"$wh/articles"
    val v1 = graft.sources.PartitionSnapshots.rootVersions(spark, articles).last
    SilverToGold.run(spark, wh, goldInc) // gold current as of silver root v1

    // the next ingest batch: a brand-new day PLUS an update to an existing
    // day's article — the update is invisible to missingDates (20251011
    // already exists in gold) but the manifest diff names both days
    put(day3Root, "vnexpress/the-thao/2025/10/12/a3.json",
      """{"title":"Bai 3","url":"https://e.vn/a3","author":"Cuc","topic":"x","sub_topic":null,"publish_date":"1760270400000","description":"d3","main_content":"tám chín mười","keywords":["k1"],"references":["r2"],"comment_count":0,"top_comments":[],"ingested_at":"2025-10-12T15:00:00","year":2025,"month":10,"day":12}""")
    put(day3Root, "vnexpress/kinh-doanh/2025/10/11/a2.json",
      """{"title":"Bai 2 sua","url":"https://e.vn/a2","author":"Binh","topic":"x","sub_topic":null,"publish_date":"1760197020000","description":"d2 updated","main_content":"sáu bảy tám","keywords":["k2","k3"],"references":[],"comment_count":0,"top_comments":[],"ingested_at":"2025-10-12T15:00:00","year":2025,"month":10,"day":11}""")
    BronzeToSilver.runBatch(spark, day3Root, wh)
    val v2 = graft.sources.PartitionSnapshots.rootVersions(spark, articles).last
    v2 should be > v1

    val day1Part = new java.io.File(s"$goldInc/fact_article_publication")
      .listFiles().filter(_.getName.startsWith("PublicationDateKey=20251010")).head
    val mtime = day1Part.lastModified()
    Thread.sleep(1100)
    // the work-list comes from the articles table's own commit history —
    // no scheduler bookkeeping, no full-table scan
    SilverToGold.runFromChangelog(spark, wh, goldInc, v1, v2) shouldBe
      Seq(java.sql.Date.valueOf("2025-10-11"), java.sql.Date.valueOf("2025-10-12"))
    // the untouched day's gold fact partition was never rewritten
    day1Part.lastModified() shouldBe mtime

    // ≡ a full rebuild from the current silver, for every dim and fact
    SilverToGold.run(spark, wh, goldRef)
    for (t <- Seq("dim_date", "dim_author", "dim_topic", "dim_sub_topic",
        "dim_keyword", "fact_article_publication", "fact_article_keyword",
        "fact_article_reference", "fact_top_comment_activity",
        "fact_top_comment_interaction_detail")) {
      val ref = graft.operators.Upsert.read(spark, s"$goldRef/$t").collect().map(_.toSeq).toSet
      val inc = graft.operators.Upsert.read(spark, s"$goldInc/$t").collect().map(_.toSeq).toSet
      withClue(t) { inc shouldBe ref }
    }
    // and the updated article's new image is what gold carries
    graft.operators.Upsert.read(spark, s"$goldInc/fact_article_publication")
      .where(col("ArticleDescription") === "d2 updated").count() shouldBe 1L
  }

  test("streaming availableNow reaches the same silver state as batch") {
    val root = tmpDir("bronzeS")
    val whStream = tmpDir("silverS")
    val whBatch = tmpDir("silverB")
    val ckpt = tmpDir("ckpt")
    writeFixtures(root)

    BronzeToSilver.runBatch(spark, root, whBatch)
    val q = BronzeToSilver.runStream(spark, root, whStream, ckpt,
      maxFilesPerTrigger = 2, availableNow = true)
    q.awaitTermination(120000) shouldBe true

    for (name <- graft.core.Schemas.silverTables) {
      val b = silver(whBatch, name).collect().map(_.toSeq).toSet
      val s = silver(whStream, name).collect().map(_.toSeq).toSet
      withClue(name) { s shouldBe b }
    }
  }

  test("streaming ingest with manifested commits equals the flat-layout run") {
    val root = tmpDir("bronzeM")
    val whBatch = tmpDir("silverMF")
    val whMan = tmpDir("silverMM")
    val ckpt = tmpDir("ckptM")
    writeFixtures(root)

    // there is no flat route left: the batch reference is manifested too,
    // and the by-name partitionManifests flag still compiles and is ignored
    BronzeToSilver.runBatch(spark, root, whBatch)
    // the Iceberg-MERGE shape: micro-batch MERGEs committed per date
    // partition as version slots + a root manifest per batch
    val q = BronzeToSilver.runStream(spark, root, whMan, ckpt,
      maxFilesPerTrigger = 2, availableNow = true, partitionManifests = false)
    q.awaitTermination(120000) shouldBe true

    for (name <- graft.core.Schemas.silverTables) {
      val b = silver(whBatch, name).collect().map(_.toSeq).toSet
      val m = silver(whMan, name).collect().map(_.toSeq).toSet
      withClue(name) { m shouldBe b }
    }
    // articles (the partitioned table) committed through the manifests:
    // one root manifest per micro-batch that touched it, every partition
    // pinned; the unpartitioned tables commit through the same route,
    // as one implicit partition with no partition columns
    import graft.sources.PartitionSnapshots
    for (wh <- Seq(whBatch, whMan)) withClue(wh) {
      PartitionSnapshots.isManifested(spark, s"$wh/articles") shouldBe true
      PartitionSnapshots.isManifested(spark, s"$wh/authors") shouldBe true
      PartitionSnapshots.partitionCols(spark, s"$wh/authors") shouldBe Nil
    }
    PartitionSnapshots.rootVersions(spark, s"$whMan/articles")
      .nonEmpty shouldBe true
    PartitionSnapshots.rootManifest(spark, s"$whMan/articles").get.values
      .foreach(_ should fullyMatch regex "v\\d{8,}|EMPTY")
  }

  test("gold merge that loses its lease mid-merge aborts at assertHeld; successor's output survives") {
    import spark.implicits._
    import graft.operators.Upsert
    val path = tmpDir("goldlease") + "/dim_author" // the SilverToGold dim-upsert call site
    val keys = Seq("AuthorID_NK")
    Upsert.upsert(spark, path,
      Seq((1L, "An"), (2L, "Binh")).toDF("AuthorID_NK", "AuthorName"), keys)
    val lock = new java.io.File(path + "__lock")
    // empty ⇒ None: acquireLock creates the file and THEN stamps the token,
    // so a read in that gap must count as "not acquired yet", not as a token
    def lockToken(): Option[String] =
      if (!lock.exists()) None
      else scala.util.Try(Files.readString(lock.toPath)).toOption
        .flatMap(_.split("\\s+").headOption).filter(_.nonEmpty)
    def awaitTrue(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(2)
      withClue(what) { cond shouldBe true }
    }

    // writer A: a slow incremental gold run — every source row passes a
    // freezable gate (test-side UDF; the engine itself stays UDF-free)
    LeaseDrill.blockedA = false; LeaseDrill.blockedB = false
    val gateA = udf((v: Long) => LeaseDrill.gate('A', v)).asNondeterministic()
    val gateB = udf((v: Long) => LeaseDrill.gate('B', v)).asNondeterministic()
    @volatile var aFailure: Throwable = null
    @volatile var bFailure: Throwable = null
    val a = new Thread(() => {
      try Upsert.upsert(spark, path,
        Seq((2L, "Binh-stale"), (3L, "Cuong-stale")).toDF("AuthorID_NK", "AuthorName")
          .withColumn("AuthorID_NK", gateA($"AuthorID_NK")).coalesce(1), keys)
      catch { case t: Throwable => aFailure = t }
    }, "lease-drill-A")
    a.start()
    // A holds the lease → freeze its merge mid-stage, then age the lease
    // past TTL (the UpsertSpec aging technique: a merge that outlived it)
    awaitTrue("A acquired")(lockToken().nonEmpty)
    val tokenA = lockToken()
    LeaseDrill.blockedA = true
    lock.setLastModified(System.currentTimeMillis() - 10000) shouldBe true
    // successor B: the retried gold run — legitimately takes the stale
    // lease over and starts ITS merge, also gated so we can sequence A's
    // abort before B's destructive swap
    val b = new Thread(() => {
      try Upsert.upsert(spark, path,
        Seq((2L, "Binh-v2"), (4L, "Dung")).toDF("AuthorID_NK", "AuthorName")
          .withColumn("AuthorID_NK", gateB($"AuthorID_NK")).coalesce(1), keys,
        lockTtlMs = 1000)
      catch { case t: Throwable => bFailure = t }
    }, "lease-drill-B")
    b.start()
    awaitTrue("B took over")(lockToken().exists(t => !tokenA.contains(t)))
    LeaseDrill.blockedB = true
    // un-freeze A: its staging completes against the intact table, and the
    // pre-swap assertHeld must abort it — B now owns the lease
    LeaseDrill.blockedA = false
    a.join(120000)
    a.isAlive shouldBe false
    aFailure should not be null
    aFailure.getMessage should include("taken over mid-merge")
    // un-freeze B: the successor's merge lands
    LeaseDrill.blockedB = false
    b.join(120000)
    b.isAlive shouldBe false
    withClue(String.valueOf(bFailure)) { bFailure shouldBe null }
    val out = Upsert.read(spark, path).as[(Long, String)].collect().toSet
    out shouldBe Set((1L, "An"), (2L, "Binh-v2"), (4L, "Dung"))
    lock.exists() shouldBe false // B released; A's no-op release didn't resurrect it
  }

  test("3 concurrent incremental gold runs on overlapping dates converge to the full-run state") {
    import graft.operators.Upsert
    val root = tmpDir("bronzeC")
    val wh = tmpDir("silverC")
    val goldRef = tmpDir("goldRef")
    val gold = tmpDir("goldRace")
    writeFixtures(root)
    BronzeToSilver.runBatch(spark, root, wh)
    SilverToGold.run(spark, wh, goldRef) // single-writer reference state

    // the Airflow shape: concurrent daily tasks with overlapping work-lists,
    // each retrying the WHOLE run when it loses a table lease mid-run (the
    // per-table merges are idempotent, so a rerun over already-committed
    // tables is a no-op)
    val d1 = java.sql.Date.valueOf("2025-10-10")
    val d2 = java.sql.Date.valueOf("2025-10-11")
    val dateSets = Seq(Seq(d1), Seq(d2), Seq(d1, d2))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = dateSets.zipWithIndex.map { case (ds, i) =>
      new Thread(() => {
        var done = false
        var attempts = 0
        while (!done && attempts < 120) {
          try {
            SilverToGold.runIncremental(spark, wh, gold, ds)
            done = true
          } catch {
            case _: Upsert.ConcurrentWriteException =>
              attempts += 1; Thread.sleep(100)
            case t: Throwable =>
              failures.add(s"writer$i: ${t.getClass.getSimpleName}: ${t.getMessage}")
              done = true
          }
        }
        if (!done) failures.add(s"writer$i: never converged")
      }, s"gold-writer-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(600000))
    failures.toArray shouldBe empty

    // converged: every dim and fact equals the single-writer reference —
    // exactly one writer's (idempotent-identical) output per table/partition
    for (t <- Seq("dim_date", "dim_author", "dim_topic", "dim_sub_topic",
        "dim_keyword", "dim_reference_source", "dim_interaction_type",
        "fact_article_publication", "fact_article_keyword",
        "fact_article_reference", "fact_top_comment_activity",
        "fact_top_comment_interaction_detail")) {
      val ref = Upsert.read(spark, s"$goldRef/$t").collect().map(_.toSeq).toSet
      val raced = Upsert.read(spark, s"$gold/$t").collect().map(_.toSeq).toSet
      withClue(t) { raced shouldBe ref }
    }
    // and no partial-write debris or stranded leases anywhere in the raced
    // warehouse
    val leftovers = java.nio.file.Files.walk(java.nio.file.Paths.get(gold))
      .iterator()
    val bad = new scala.collection.mutable.ArrayBuffer[String]()
    while (leftovers.hasNext) {
      val n = leftovers.next().getFileName.toString
      if (n.contains("__stage") || n.contains("__lock") ||
          n.contains("_temporary") || n.startsWith(".staging-"))
        bad += n
    }
    bad shouldBe empty
  }

  test("branch-staged silver→gold: WAP across two layers, one publish") {
    import graft.operators.Upsert
    import graft.sources.PartitionSnapshots
    val root = tmpDir("bronzeWap")
    val wh = tmpDir("silverWap")
    val gold = tmpDir("goldWap")
    val goldRef = tmpDir("goldWapRef")
    writeFixtures(root)
    BronzeToSilver.runBatch(spark, root, wh)
    SilverToGold.run(spark, wh, gold) // baseline gold from silver main
    val articles = s"$wh/articles"
    val factPath = s"$gold/fact_article_publication"
    val v1 = PartitionSnapshots.rootVersions(spark, articles).last
    // stage the next ingest on a SILVER branch: one updated day-2
    // article + one brand-new day-3 article; main silver untouched
    PartitionSnapshots.createBranch(spark, articles, "staging")
    val day2 = Upsert.read(spark, articles)
      .where(col("date") === lit(java.sql.Date.valueOf("2025-10-11")))
    val updated = day2.limit(1)
      .withColumn("Description", lit("d2 staged"))
    val day3 = day2.limit(1)
      .withColumn("ArticleID", sha2(lit("staged-a3"), 256))
      .withColumn("Title", lit("Bai 3 staged"))
      .withColumn("URL", lit("https://e.vn/a3s"))
      .withColumn("PublicationDate",
        to_timestamp(lit("2025-10-12 10:00:00")))
      .withColumn("date", lit(java.sql.Date.valueOf("2025-10-12")))
    Upsert.upsert(spark, articles, updated.unionByName(day3),
      Seq("ArticleID"), partitionCols = Seq("date"),
      branch = Some("staging"))
    val factMainBefore = Upsert.read(spark, factPath)
      .collect().map(_.toSeq).toSet
    // derive gold FROM the silver branch ONTO a gold branch
    SilverToGold.runFromChangelogBranched(spark, wh, gold, fromRootV = v1,
      silverBranch = Some("staging"),
      goldBranch = Some("staging")) should not be empty
    // MAIN is untouched on both layers until publish
    Upsert.read(spark, articles)
      .where(col("Description") === "d2 staged").count() shouldBe 0L
    Upsert.read(spark, factPath).collect().map(_.toSeq)
      .toSet shouldBe factMainBefore
    // the gold BRANCH already carries the staged line (validation read)
    val branchFact = PartitionSnapshots.readBranch(spark, factPath, "staging")
    branchFact.where(col("ArticleDescription") === "d2 staged")
      .count() shouldBe 1L
    branchFact.where(col("PublicationDateKey") === 20251012)
      .count() shouldBe 1L
    val branchImage = branchFact.collect().map(_.toSeq).toSet
    // ONE publish step fast-forwards silver and gold together
    SilverToGold.publishStaged(spark, wh, gold, "staging")
    Upsert.read(spark, articles)
      .where(col("Description") === "d2 staged").count() shouldBe 1L
    Upsert.read(spark, factPath).collect().map(_.toSeq)
      .toSet shouldBe branchImage
    // published gold ≡ a full rebuild from the published silver
    SilverToGold.run(spark, wh, goldRef)
    Upsert.read(spark, s"$goldRef/fact_article_publication")
      .collect().map(_.toSeq).toSet shouldBe branchImage
  }

  test("incremental export mirror rewrites only touched partition dirs") {
    import spark.implicits._
    import graft.operators.Upsert
    import graft.sources.PartitionSnapshots
    val path = tmpDir("mirrorsrc") + "/t"
    val mirror = tmpDir("mirrordst") + "/m"
    Upsert.upsert(spark,
      path, Seq((1, "p1", 10), (2, "p2", 20), (3, "p3", 30))
        .toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // first run = full refresh
    FlatView.exportMirror(spark, path, mirror).sorted shouldBe
      Seq("part=p1", "part=p2", "part=p3")
    def mirrorRows() = spark.read.parquet(mirror).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("part"),
        r.getAs[Int]("v"))).toSet
    def tableRows() = Upsert.read(spark, path).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("part"),
        r.getAs[Int]("v"))).toSet
    mirrorRows() shouldBe tableRows()
    val p3mtime = new java.io.File(s"$mirror/part=p3").lastModified()
    // N mixed commits: append into p1, keyed merge updating p2, equality
    // delete in p1, partition drop of p2's neighbor… then one mirror run
    Upsert.append(spark, path, Seq((4, "p1", 40)).toDF("k", "part", "v"),
      Seq("part"))
    Upsert.upsert(spark, path, Seq((2, "p2", 21)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.deleteKeys(spark, path, Seq(1).toDF("k")) shouldBe true
    val touched = FlatView.exportMirror(spark, path, mirror)
    // only the partitions those commits touched were rewritten
    touched.sorted shouldBe Seq("part=p1", "part=p2")
    mirrorRows() shouldBe tableRows()
    new java.io.File(s"$mirror/part=p3").lastModified() shouldBe p3mtime
    // idempotent: already-current mirror is a no-op
    FlatView.exportMirror(spark, path, mirror) shouldBe Nil
    // a partition emptied at the source disappears from the mirror
    PartitionSnapshots.dropPartitions(spark, path,
      m => m("part") == "p3") shouldBe Seq("part=p3")
    FlatView.exportMirror(spark, path, mirror) shouldBe Seq("part=p3")
    new java.io.File(s"$mirror/part=p3").exists() shouldBe false
    mirrorRows() shouldBe tableRows()
  }

  test("export mirror refuses a table holding mixed partition specs") {
    import spark.implicits._
    import graft.operators.Upsert
    import graft.sources.PartitionSnapshots
    val path = tmpDir("mirrorevo") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 3, 10)).toDF("k", "part", "hour", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.evolvePartitionSpec(spark, path, Seq("part", "hour"))
    Upsert.upsert(spark, path,
      Seq((2, "p1", 7, 20)).toDF("k", "part", "hour", "v"),
      Seq("k"), partitionCols = Seq("part", "hour"))
    // replacing mirror/part=p1 atomically would destroy a nested
    // mirror/part=p1/hour=7 — refuse loudly instead
    an[IllegalArgumentException] should be thrownBy
      FlatView.exportMirror(spark, path, tmpDir("mirrorevodst") + "/m")
  }

  test("gold facts commit through manifests: a fact's export mirror equals the table") {
    import graft.operators.Upsert
    import graft.sources.PartitionSnapshots
    val root = tmpDir("bronzeGM")
    val wh = tmpDir("silverGM")
    val gold = tmpDir("goldGM")
    writeFixtures(root)
    BronzeToSilver.runBatch(spark, root, wh)
    SilverToGold.run(spark, wh, gold)
    for (t <- Seq("fact_article_publication", "fact_article_keyword",
        "fact_article_reference", "fact_top_comment_activity",
        "fact_top_comment_interaction_detail"))
      withClue(t) {
        PartitionSnapshots.currentRootVersion(spark, s"$gold/$t") shouldBe defined
      }
    val fact = s"$gold/fact_article_publication"
    val mirror = tmpDir("goldMirror") + "/m"
    FlatView.exportMirror(spark, fact, mirror).sorted shouldBe
      Seq("PublicationDateKey=20251010", "PublicationDateKey=20251011")
    val cols = Upsert.read(spark, fact).columns.toSeq.map(col)
    spark.read.parquet(mirror).select(cols: _*).collect().map(_.toSeq).toSet shouldBe
      Upsert.read(spark, fact).select(cols: _*).collect().map(_.toSeq).toSet
  }

  test("each UNKNOWN member lands in its dimension's one metered upsert") {
    import graft.operators.Upsert
    val root = tmpDir("bronzeGU")
    val wh = tmpDir("silverGU")
    val gold = tmpDir("goldGU")
    writeFixtures(root)
    BronzeToSilver.runBatch(spark, root, wh)
    val reg = new graft.metrics.MetricsRegistry(spark)
    try SilverToGold.run(spark, wh, gold, Some(reg)) finally reg.close()
    // 7 dimensions + 5 facts, each one metered scope: no unmetered
    // side commits
    val scopes = reg.report().filter(_.jobName == "silver_to_gold")
    scopes.size shouldBe 12
    scopes.map(_.taskId).distinct.size shouldBe 12
    for (dim <- Seq("dim_date", "dim_author", "dim_topic", "dim_sub_topic",
        "dim_keyword", "dim_reference_source", "dim_interaction_type"))
      withClue(dim) {
        graft.sources.Snapshots.versions(spark, s"$gold/$dim").size shouldBe 1
      }
    SilverToGold.unknownRows(spark).foreach { case (dim, row) =>
      withClue(dim) {
        Upsert.read(spark, s"$gold/$dim")
          .where(col(row.columns.head) === -1L).count() shouldBe 1
      }
    }
  }
}

/** Freezable gates for the lease-takeover drill. A top-level Scala object:
  * closure serialization resolves it back to the JVM singleton, so flag
  * flips from the test thread are visible inside local-mode tasks. The
  * unconditional sleep widens every race window the sequencing relies on
  * (a gated row can never outrun the 2 ms polling loops). */
object LeaseDrill {
  @volatile var blockedA = false
  @volatile var blockedB = false
  def gate(which: Char, v: Long): Long = {
    Thread.sleep(100)
    while (if (which == 'A') blockedA else blockedB) Thread.sleep(5)
    v
  }
}
