package graft

import scala.jdk.CollectionConverters._

import graft.operators.Upsert

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def target = Seq((1, "a", 10), (2, "b", 20)).toDF("k", "name", "v")
  private def source = Seq((2, "b2", 99), (3, "c", 30)).toDF("k", "name", "v")

  test("merge: matched rows updated, unmatched inserted") {
    val out = Upsert.merge(target, source, Seq("k"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    out shouldBe Set((1, "a", 10), (2, "b2", 99), (3, "c", 30))
  }

  test("merge insertOnly: matched rows preserved") {
    val out = Upsert.merge(target, source, Seq("k"), insertOnly = true)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    out shouldBe Set((1, "a", 10), (2, "b", 20), (3, "c", 30))
  }

  test("merge dedupes source on keys") {
    val dup = Seq((3, "c", 1), (3, "c", 1)).toDF("k", "name", "v")
    Upsert.merge(target, dup, Seq("k")).count() shouldBe 3
  }

  test("file upsert is idempotent") {
    val path = tmpDir("upsert") + "/t"
    Upsert.upsert(spark, path, target, Seq("k"))
    Upsert.upsert(spark, path, source, Seq("k"))
    val once = Upsert.read(spark, path).collect().map(_.toSeq).toSet
    Upsert.upsert(spark, path, source, Seq("k"))   // replay the same batch
    val twice = Upsert.read(spark, path).collect().map(_.toSeq).toSet
    twice shouldBe once
    once.map(s => (s(0), s(2))) shouldBe Set((1, 10), (2, 99), (3, 30))
  }

  test("partitioned upsert moves a key whose partition value changed") {
    val path = tmpDir("upsertm") + "/t"
    val t0 = Seq((1, "2025-10-09", 10), (2, "2025-10-09", 20)).toDF("k", "date", "v")
    Upsert.upsert(spark, path, t0, Seq("k"), partitionCols = Seq("date"))
    // key 1 re-arrives with a corrected date: must not survive in the old partition
    val src = Seq((1, "2025-10-10", 99)).toDF("k", "date", "v")
    Upsert.upsert(spark, path, src, Seq("k"), partitionCols = Seq("date"))
    val out = Upsert.read(spark, path)
    out.where($"k" === 1).collect().map(r =>
      (r.getAs[Any]("date").toString, r.getAs[Int]("v"))).toSeq shouldBe
      Seq(("2025-10-10", 99))
    out.count() shouldBe 2
  }

  test("partitioned upsert drops a partition that lost all its rows") {
    val path = tmpDir("upserte") + "/t"
    val t0 = Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v")
    Upsert.upsert(spark, path, t0, Seq("k"), partitionCols = Seq("part"))
    // the only p1 row migrates to p2 → partition p1 must disappear from
    // the current snapshot (its dir survives for readers pinned on v1)
    Upsert.upsert(spark, path, Seq((1, "p2", 11)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Upsert.read(spark, path).count() shouldBe 2
    Upsert.read(spark, path).where($"part" === "p1").count() shouldBe 0
    graft.sources.PartitionSnapshots.stateHasData(
      graft.sources.PartitionSnapshots.rootManifest(spark, path).get(
        "part=p1")) shouldBe false
  }

  test("a plain hive dir is never marked by columns its layout lacks") {
    val base = tmpDir("upsertlayout")
    def plain(name: String): String = {
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "p", "v").write
        .partitionBy("p").parquet(s"$base/$name")
      s"$base/$name"
    }
    def rows(path: String) = Upsert.read(spark, path).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[Any]("p").toString,
        r.getAs[Int]("v"))).toSet
    // unpartitioned upsert into a partitionBy("p") dir: marked as is,
    // its p=… dirs would stop being read — refused, the dir untouched
    val api = plain("api")
    an[IllegalArgumentException] should be thrownBy Upsert.upsert(spark, api,
      Seq((3, "p1", 30)).toDF("k", "p", "v"), Seq("k"))
    rows(api) shouldBe Set((1, "p1", 10), (2, "p2", 20))
    // and the reverse: a flat dir is not keyed by a column it lacks
    val flat = s"$base/flat"
    Seq((1, "p1", 10)).toDF("k", "p", "v").write.parquet(flat)
    an[IllegalArgumentException] should be thrownBy Upsert.upsert(spark, flat,
      Seq((3, "p1", 30)).toDF("k", "p", "v"), Seq("k"),
      partitionCols = Seq("p"))
    // SQL MERGE migrates the dir keyed by its own layout: no row lost
    val viaSql = plain("viasql")
    Seq((3, "p1", 30), (2, "p2", 21)).toDF("k", "p", "v")
      .createOrReplaceTempView("upsert_layout_src")
    new graft.sources.Catalog(spark, base).sql(
      """MERGE INTO viasql t USING upsert_layout_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    rows(viaSql) shouldBe Set((1, "p1", 10), (2, "p2", 21), (3, "p1", 30))
  }

  test("merge picks a deterministic winner among duplicate source keys") {
    val dup = Seq((3, "a", 1), (3, "b", 2), (3, "c", 3)).toDF("k", "name", "v")
    val r1 = Upsert.merge(target, dup, Seq("k")).where($"k" === 3).collect()
    val r2 = Upsert.merge(target, dup.repartition(7), Seq("k"))
      .where($"k" === 3).collect()
    r1.length shouldBe 1
    r1.map(_.toSeq).toSeq shouldBe r2.map(_.toSeq).toSeq // partitioning-independent
  }

  test("partitioned upsert rewrites only touched partitions") {
    val path = tmpDir("upsertp") + "/t"
    val t0 = Seq((1, "p1", 10), (2, "p1", 20), (3, "p2", 30)).toDF("k", "part", "v")
    Upsert.upsert(spark, path, t0, Seq("k"), partitionCols = Seq("part"))
    val before = new java.io.File(s"$path/part=p2").lastModified()
    Thread.sleep(1100)
    val src = Seq((2, "p1", 99)).toDF("k", "part", "v")
    Upsert.upsert(spark, path, src, Seq("k"), partitionCols = Seq("part"))
    val after = Upsert.read(spark, path)
    after.count() shouldBe 3
    after.where($"k" === 2).select("v").collect()(0).getInt(0) shouldBe 99
    // untouched partition directory was not rewritten
    new java.io.File(s"$path/part=p2").lastModified() shouldBe before
  }

  test("upsert evolves the schema additively when asked, fails loudly when not") {
    val path = tmpDir("upserte") + "/t"
    Upsert.upsert(spark, path, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"))

    // drifted source without opt-in → loud failure, table untouched
    val drifted = Seq((2L, "B", 7)).toDF("k", "v", "extra")
    an[Exception] should be thrownBy
      Upsert.upsert(spark, path, drifted, Seq("k"))
    Upsert.read(spark, path).columns.sorted shouldBe Array("k", "v")

    // with evolveSchema: new column appears, pre-evolution rows read NULL
    Upsert.upsert(spark, path, drifted, Seq("k"), evolveSchema = true)
    val t = Upsert.read(spark, path)
    t.columns.sorted shouldBe Array("extra", "k", "v")
    t.where($"k" === 2L).select("extra").collect()(0).getInt(0) shouldBe 7
    t.where($"k" === 1L).select("extra").collect()(0).isNullAt(0) shouldBe true

    // a source missing a known column NULL-fills it for replaced rows
    Upsert.upsert(spark, path,
      Seq((1L, 11)).toDF("k", "extra"), Seq("k"), evolveSchema = true)
    val t2 = Upsert.read(spark, path)
    t2.where($"k" === 1L).select("v").collect()(0).isNullAt(0) shouldBe true
    t2.where($"k" === 2L).select("v").collect()(0).getString(0) shouldBe "B"

    // type change is never silently cast
    an[IllegalArgumentException] should be thrownBy
      Upsert.upsert(spark, path, Seq((1L, 1.5)).toDF("k", "v"), Seq("k"),
        evolveSchema = true)
  }

  test("second concurrent writer fails loudly; table unchanged") {
    val path = tmpDir("upsertlk") + "/t"
    Upsert.upsert(spark, path, target, Seq("k"))
    // writer A holds the lease mid-merge…
    val tokenA = Upsert.acquireLock(spark, path, Upsert.DefaultLockTtlMs)
    try {
      // …so writer B must raise, not interleave with A's staged swap
      val ex = the[Upsert.ConcurrentWriteException] thrownBy
        Upsert.upsert(spark, path, source, Seq("k"))
      ex.getMessage should include("locked by another writer")
      Upsert.read(spark, path).count() shouldBe 2 // B wrote nothing
    } finally Upsert.releaseLock(spark, path, tokenA)
    // A released → B's retry wins
    Upsert.upsert(spark, path, source, Seq("k"))
    Upsert.read(spark, path).count() shouldBe 3
  }

  test("stale lease past TTL is taken over") {
    val path = tmpDir("upsertstale") + "/t"
    Upsert.upsert(spark, path, target, Seq("k"))
    Upsert.acquireLock(spark, path, Upsert.DefaultLockTtlMs)
    val lock = new java.io.File(path + "__lock")
    lock.exists() shouldBe true
    // age the lease past the 1s TTL we pass below → crashed-writer takeover
    lock.setLastModified(System.currentTimeMillis() - 10000) shouldBe true
    Upsert.upsert(spark, path, source, Seq("k"), lockTtlMs = 1000)
    Upsert.read(spark, path).count() shouldBe 3
    lock.exists() shouldBe false // takeover released its own lease
  }

  test("TTL-expired writer cannot release its successor's lease or swap") {
    val path = tmpDir("upserttok") + "/t"
    Upsert.upsert(spark, path, target, Seq("k"))
    // writer A acquires, then its merge outlives the TTL…
    val tokenA = Upsert.acquireLock(spark, path, Upsert.DefaultLockTtlMs)
    val lock = new java.io.File(path + "__lock")
    lock.setLastModified(System.currentTimeMillis() - 10000) shouldBe true
    // …writer B legitimately takes the stale lease over
    val tokenB = Upsert.acquireLock(spark, path, 1000)
    tokenA should not be tokenB
    // A's finally-release is a NO-OP against B's lease (the round-5 advice
    // scenario: an unconditional delete here re-opens the table to a third
    // writer while B is mid-swap)
    Upsert.releaseLock(spark, path, tokenA)
    lock.exists() shouldBe true
    // and a third writer still bounces off B's live lease
    val ex = the[Upsert.ConcurrentWriteException] thrownBy
      Upsert.upsert(spark, path, source, Seq("k"))
    ex.getMessage should include("locked by another writer")
    // B's own release works
    Upsert.releaseLock(spark, path, tokenB)
    lock.exists() shouldBe false
  }

  test("lock is released after a failed merge") {
    val path = tmpDir("upsertfail") + "/t"
    Upsert.upsert(spark, path, Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    // schema drift without evolveSchema → merge throws mid-flight
    an[Exception] should be thrownBy
      Upsert.upsert(spark, path, Seq((2L, "b", 7)).toDF("k", "v", "extra"), Seq("k"))
    new java.io.File(path + "__lock").exists() shouldBe false
    // and the table is immediately writable again
    Upsert.upsert(spark, path, Seq((2L, "b")).toDF("k", "v"), Seq("k"))
    Upsert.read(spark, path).count() shouldBe 2
  }

  test("whole-table upserts commit snapshots: versioned layout, retention, time travel") {
    import graft.sources.Snapshots
    val path = tmpDir("upsertver") + "/t"
    Upsert.upsert(spark, path, target, Seq("k"))
    // manifested from birth: data lives under hidden _versions, pointer set
    graft.sources.PartitionSnapshots.isManifested(spark, path) shouldBe true
    new java.io.File(s"$path/_versions").isDirectory shouldBe true
    Snapshots.currentVersion(spark, path) shouldBe Some(1L)
    // a plain parquet read sees no data files — the loud failure mode, not
    // silent stale data
    an[Exception] should be thrownBy spark.read.parquet(path).count()
    Upsert.upsert(spark, path, source, Seq("k"))
    Snapshots.currentVersion(spark, path) shouldBe Some(2L)
    // time travel: the pre-merge state is still readable
    Snapshots.read(spark, path, asOf = 1L).count() shouldBe 2
    Upsert.read(spark, path).count() shouldBe 3
    // retention: versions are vacuumed down to DefaultRetainVersions
    (3 to 8).foreach { i =>
      Upsert.upsert(spark, path, Seq((1, s"n$i", i)).toDF("k", "name", "v"), Seq("k"))
    }
    val vs = Snapshots.versions(spark, path)
    vs.size shouldBe Upsert.DefaultRetainVersions
    vs.max shouldBe 8L
  }

  test("a legacy flat table is migrated to the versioned layout on its next merge") {
    val path = tmpDir("upsertmig") + "/t"
    target.write.parquet(path) // pre-existing flat table, written out-of-band
    Upsert.upsert(spark, path, source, Seq("k"))
    graft.sources.PartitionSnapshots.isManifested(spark, path) shouldBe true
    val out = Upsert.read(spark, path)
    out.count() shouldBe 3
    out.where($"k" === 2).select("v").collect()(0).getInt(0) shouldBe 99
    // flat files were cleaned after the pointer swap — nothing serves the
    // frozen pre-migration state
    new java.io.File(path).listFiles().map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")) shouldBe empty
  }

  test("readers racing 50 concurrent upserts never see a missing or mixed table") {
    val path = tmpDir("upsertrace") + "/t"
    val keys = (1 to 100)
    def state(v: Int) = keys.map(k => (k, v)).toDF("k", "v")
    Upsert.upsert(spark, path, state(0), Seq("k"))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val rows = Upsert.read(spark, path).collect()
          // atomicity invariant: a snapshot is ALL of one upsert's rows —
          // never a partial file set, never a mix of two versions
          if (rows.length != keys.size)
            failures.add(s"saw ${rows.length} rows")
          val vals = rows.map(_.getInt(1)).distinct
          if (vals.length != 1)
            failures.add(s"mixed versions: ${vals.toSeq.sorted}")
        } catch {
          case e: Exception =>
            failures.add(s"reader error: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    })
    reader.start()
    try {
      // 4 writer threads × shared counter to 50 merges, retrying lease
      // contention — the multi-writer shape the lease serializes
      val next = new java.util.concurrent.atomic.AtomicInteger(1)
      val writers = (1 to 4).map { _ =>
        new Thread(() => {
          var i = next.getAndIncrement()
          while (i <= 50) {
            try {
              Upsert.upsert(spark, path, state(i), Seq("k"))
              i = next.getAndIncrement()
            } catch {
              case _: Upsert.ConcurrentWriteException => Thread.sleep(20)
            }
          }
        })
      }
      writers.foreach(_.start())
      writers.foreach(_.join(300000))
    } finally {
      stop.set(true)
      reader.join(30000)
    }
    failures.toArray shouldBe empty
    // the final state is SOME single writer's complete output (threads
    // claim version numbers before racing for the lease, so the last
    // commit is not necessarily #50 — atomicity, not ordering, is the
    // contract under test)
    val end = Upsert.read(spark, path).collect()
    end.length shouldBe keys.size
    val endVals = end.map(_.getInt(1)).distinct
    endVals.length shouldBe 1
    endVals(0) should (be >= 1 and be <= 50)
  }

  /** Relative path → (bytes, mtime) of every parquet file under `dir`. */
  private def parquetFiles(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val st = java.nio.file.Files.walk(root)
    try st.iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => root.relativize(f.toPath).toString -> (f.length, f.lastModified))
      .toMap
    finally st.close()
  }

  test("a whole-table _versions table migrates with no data file opened or moved") {
    import graft.sources.{PartitionSnapshots, Snapshots}
    val path = tmpDir("upsertwt") + "/t"
    // the layout a whole-table snapshot commit wrote: sealed slots and the
    // pointer at the root, no partition-manifest marker
    Seq((1, "x", 1)).toDF("k", "name", "v").write
      .parquet(s"$path/_versions/v00000001")
    target.write.parquet(s"$path/_versions/v00000002")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/_current"), "v00000002")
    val rows = Upsert.read(spark, path).collect().map(_.toSeq).toSet
    rows shouldBe target.collect().map(_.toSeq).toSet
    val before = parquetFiles(path)
    // the migration every commit starts with: one marker write, through
    // a file system that records each file it opens
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.opencount.impl", classOf[OpenCountingFs].getName)
    conf.setBoolean("fs.opencount.impl.disable.cache", true)
    OpenCountingFs.opened.clear()
    PartitionSnapshots.ensureManifested(spark, s"opencount://$path", Nil)
    OpenCountingFs.opened.asScala.filter(_.endsWith(".parquet")) shouldBe empty
    new java.io.File(s"$path/_partition_manifests").isFile shouldBe true
    parquetFiles(path) shouldBe before
    Upsert.read(spark, path).collect().map(_.toSeq).toSet shouldBe rows
    // its next upsert seals a new slot; the legacy slots stay in place
    Upsert.upsert(spark, path, source, Seq("k"))
    Snapshots.currentVersion(spark, path) shouldBe Some(3L)
    PartitionSnapshots.rootManifest(spark, path) shouldBe Some(Map("" -> "v00000003"))
    before.foreach { case (f, st) => parquetFiles(path).get(f) shouldBe Some(st) }
    Upsert.read(spark, path).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet shouldBe
      Set((1, "a", 10), (2, "b2", 99), (3, "c", 30))
  }

  test("a legacy flat unpartitioned table drops its root parquet at its first rewrite") {
    import graft.sources.PartitionSnapshots
    val path = tmpDir("upsertflat") + "/t"
    target.write.parquet(path) // pre-existing flat table, written out-of-band
    parquetFiles(path) should not be empty
    // the first rewrite supersedes the whole table: no root parquet left
    Upsert.upsert(spark, path, source, Seq("k"))
    PartitionSnapshots.rootManifest(spark, path).get("") shouldBe "v00000001"
    parquetFiles(path).keys.filterNot(_.contains("/")) shouldBe empty
    Upsert.read(spark, path).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet shouldBe
      Set((1, "a", 10), (2, "b2", 99), (3, "c", 30))
  }

  test("a fast append onto a legacy flat table keeps its flat files while a root names them") {
    import graft.sources.PartitionSnapshots
    val path = tmpDir("upsertflatapp") + "/t"
    target.write.parquet(path)
    val flat = parquetFiles(path)
    // a fast append names FLAT beside its new part and keeps the files
    Upsert.upsert(spark, path, Seq((7, "g", 70)).toDF("k", "name", "v"),
      Seq("k"), insertOnly = true)
    PartitionSnapshots.rootManifest(spark, path).get("") shouldBe
      "FLAT&v00000001"
    flat.foreach { case (f, st) => parquetFiles(path).get(f) shouldBe Some(st) }
    Upsert.read(spark, path).count() shouldBe 3
    // a rewrite after it leaves that root readable, flat files included
    Upsert.upsert(spark, path, source, Seq("k"))
    PartitionSnapshots.rootManifest(spark, path).get("") shouldBe "v00000002"
    PartitionSnapshots.read(spark, path, asOf = 1L).count() shouldBe 3
    Upsert.read(spark, path).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet shouldBe
      Set((1, "a", 10), (2, "b2", 99), (3, "c", 30), (7, "g", 70))
  }

  test("a read resolves its root once; a keyed upsert reads the root " +
      "pointer once to plan and once to commit") {
    import graft.sources.PartitionSnapshots
    val path = tmpDir("upsertroot") + "/t"
    Upsert.upsert(spark, path, Seq((1, "p1", 10), (2, "p2", 20))
      .toDF("k", "part", "v"), Seq("k"), partitionCols = Seq("part"))
    Upsert.upsert(spark, path, Seq((3, "p1", 30)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // the current root is a delta folding onto a full manifest
    val chain = Seq(s"$path/_root/_versions/v00000001/manifest",
      s"$path/_root/_versions/v00000002/delta")
    chain.foreach(new java.io.File(_).isFile shouldBe true)
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.opencount.impl", classOf[OpenCountingFs].getName)
    conf.setBoolean("fs.opencount.impl.disable.cache", true)
    val counted = s"opencount://$path"
    /** The root-chain files `op` opened, once per open. */
    def rootOpens(op: => Unit): Seq[String] = {
      OpenCountingFs.opened.clear()
      op
      OpenCountingFs.opened.asScala.toSeq
        .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath)
        .filter(_.contains("/_root/"))
    }
    val read = rootOpens(PartitionSnapshots.read(spark, counted).collect())
    read.count(_ == s"$path/_root/_current") shouldBe 1
    read.filter(p => p.endsWith("/manifest") || p.endsWith("/delta"))
      .sorted shouldBe chain
    val upsert = rootOpens(Upsert.upsert(spark, counted,
      Seq((1, "p1", 11)).toDF("k", "part", "v"), Seq("k"),
      partitionCols = Seq("part")))
    upsert.count(_ == s"$path/_root/_current") should be <= 2
    Upsert.read(spark, path).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[Int]("v"))).toSet shouldBe
      Set((1, 11), (2, 20), (3, 30))
  }

  test("append and insert-only commits open no prior part; a file-scoped " +
      "merge opens only its survivors' sidecars") {
    import graft.sources.PartitionSnapshots
    import org.apache.spark.sql.functions.col
    val path = tmpDir("upsertcost") + "/t"
    // p1: three appended parts of two files each (disjoint key ranges);
    // p2: one part
    def batch(lo: Int, part: String) = (lo until lo + 10)
      .map(k => (k, part, k * 1.0)).toDF("k", "part", "v")
      .repartitionByRange(2, col("k"))
    Seq((0, "p1"), (10, "p1"), (20, "p1"), (100, "p2")).foreach {
      case (lo, part) => Upsert.append(spark, path, batch(lo, part), Seq("part"))
    }
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.opencount.impl", classOf[OpenCountingFs].getName)
    conf.setBoolean("fs.opencount.impl.disable.cache", true)
    val counted = s"opencount://$path"
    /** The table's data files and sidecars that `op` opened, of those
      * that existed before it ran. */
    def priorOpened(op: => Unit): Set[String] = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      val prior = try st.iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".parquet") || p.endsWith("/_filestats"))
        .toSet
      finally st.close()
      OpenCountingFs.opened.clear()
      op
      OpenCountingFs.opened.asScala
        .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet
        .intersect(prior)
    }
    priorOpened(Upsert.append(spark, counted, batch(30, "p1"),
      Seq("part"))) shouldBe empty
    // new keys outside every recorded bound: the lookup prunes to nothing
    priorOpened(Upsert.upsert(spark, counted, batch(200, "p1"), Seq("k"),
      insertOnly = true, partitionCols = Seq("part"))) shouldBe empty
    // key 3 lives in the first part's first file: that file rewrites, its
    // sibling and every later part survive in place
    val merged = priorOpened(Upsert.upsert(spark, counted,
      Seq((3, "p1", -3.0)).toDF("k", "part", "v"), Seq("k"),
      partitionCols = Seq("part")))
    val parts = PartitionSnapshots.parseParts(
      PartitionSnapshots.rootManifest(spark, path).get("part=p1")).map(_._1)
    parts.head should startWith("v00000001/part-")
    val survivorSidecars = parts.dropRight(1).map(b =>
      s"$path/part=p1/_versions/${b.takeWhile(_ != '/')}/_filestats").toSet
    val sidecars = merged.filter(_.endsWith("/_filestats"))
    sidecars should not be empty
    sidecars.subsetOf(survivorSidecars) shouldBe true
    Upsert.read(spark, path).where(col("k") === 3).select("v").head()
      .getDouble(0) shouldBe -3.0
    Upsert.read(spark, path).count() shouldBe 60L
  }
}

/** The local file system under the `opencount:` scheme, recording every
  * path it opens for reading. */
class OpenCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("opencount:///")
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    OpenCountingFs.opened.add(f.toString)
    super.open(f, bufferSize)
  }
}

object OpenCountingFs {
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
