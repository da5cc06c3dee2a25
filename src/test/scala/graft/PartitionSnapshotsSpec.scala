package graft

import graft.operators.Upsert
import graft.sources.PartitionSnapshots

class PartitionSnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def byKey(path: String): Map[Int, (String, Int)] =
    Upsert.read(spark, path).collect()
      .map(r => r.getAs[Int]("k") ->
        ((r.getAs[Any]("part").toString, r.getAs[Int]("v")))).toMap

  test("manifested table: round-trip, typed partition column, loud plain read") {
    val path = tmpDir("pmansnap") + "/t"
    val t0 = Seq((1, "2024-01-01", 10), (2, "2024-01-02", 20))
      .toDF("k", "date", "v")
    Upsert.upsert(spark, path, t0, Seq("k"), partitionCols = Seq("date"))
    val out = Upsert.read(spark, path)
    // partition column recovered from the k=v path segment, DATE-typed
    // exactly as a flat hive read would type it
    out.schema("date").dataType shouldBe org.apache.spark.sql.types.DateType
    out.collect().map(r => (r.getAs[Int]("k"), r.getAs[Any]("date").toString,
      r.getAs[Int]("v"))).toSet shouldBe
      Set((1, "2024-01-01", 10), (2, "2024-01-02", 20))
    // data lives under _versions — a plain parquet read fails loudly
    // instead of silently serving a frozen or partial state
    an[Exception] should be thrownBy spark.read.parquet(path).collect()
  }

  test("manifests are sticky and commits are partition-scoped") {
    val path = tmpDir("pmansticky") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // every later upsert commits through the manifests too
    Upsert.upsert(spark, path, Seq((2, "p2", 99)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    byKey(path) shouldBe Map(1 -> (("p1", 10)), 2 -> (("p2", 99)))
    // untouched partition still at v1; touched partition advanced
    graft.sources.Snapshots.versions(spark, s"$path/part=p1") shouldBe Seq(1L)
    graft.sources.Snapshots.versions(spark, s"$path/part=p2").max should be >= 2L
  }

  test("a key moving partitions publishes an EMPTY version, not a delete") {
    val path = tmpDir("pmanmove") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Upsert.upsert(spark, path, Seq((1, "p2", 11)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // no stale row in p1, both rows in p2
    byKey(path) shouldBe Map(1 -> (("p2", 11)), 2 -> (("p2", 20)))
    // p1's directory SURVIVES with a newer, empty, committed version — a
    // reader pinned on v1 keeps its files (the Iceberg expire contract)
    val p1 = s"$path/part=p1"
    val vs = graft.sources.Snapshots.versions(spark, p1)
    vs.size should be >= 2
    graft.sources.Snapshots.read(spark, p1, asOf = vs.head).count() shouldBe 1L
  }

  test("flat hive table migrates with zero IO: flat files are the implicit v0") {
    val path = tmpDir("pmanmig") + "/t"
    // a pre-existing flat hive-layout table (the old default commit path)
    Seq((1, "p1", 10), (2, "p2", 20), (3, "p2", 30)).toDF("k", "part", "v")
      .write.partitionBy("part").parquet(path)
    val flatFiles = new java.io.File(s"$path/part=p2").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    Upsert.upsert(spark, path, Seq((3, "p2", 99)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    byKey(path) shouldBe
      Map(1 -> (("p1", 10)), 2 -> (("p2", 20)), 3 -> (("p2", 99)))
    // untouched p1 was never rewritten, listed into staging, or repointed:
    // its flat files still serve as the implicit v0
    new java.io.File(s"$path/part=p1/_versions").exists() shouldBe false
    // touched p2 committed v1; its flat v0 files are RETAINED for pinned
    // readers (default retention) — nothing was copied or deleted
    graft.sources.Snapshots.versions(spark, s"$path/part=p2") shouldBe Seq(1L)
    new java.io.File(s"$path/part=p2").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet shouldBe flatFiles
  }

  test("implicit v0 flat files expire once retention is covered by real versions") {
    val path = tmpDir("pmanexp") + "/t"
    Seq((1, "p1", 10)).toDF("k", "part", "v").write.partitionBy("part").parquet(path)
    Upsert.upsert(spark, path, Seq((1, "p1", 11)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"),
      retainVersions = 2)
    // one real version: v0 still inside the retention window
    new java.io.File(s"$path/part=p1").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet")) should be > 0
    Upsert.upsert(spark, path, Seq((1, "p1", 12)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"), retainVersions = 2)
    // two real versions cover retain=2: the implicit v0 ages out
    new java.io.File(s"$path/part=p1").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet")) shouldBe 0
    byKey(path) shouldBe Map(1 -> (("p1", 12)))
  }

  test("a crash between slot rename and publish never serves partial data") {
    val path = tmpDir("pmancrash") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // simulate a writer that died after renaming its staged dir into the
    // v2 slot but before _SUCCESS/publish: complete data, unpublished
    Seq((1, 99)).toDF("k", "v").write
      .parquet(s"$path/part=p1/_versions/.staging-sim")
    new java.io.File(s"$path/part=p1/_versions/.staging-sim")
      .renameTo(new java.io.File(s"$path/part=p1/_versions/v00000002")) shouldBe true
    new java.io.File(s"$path/part=p1/_versions/v00000002/_SUCCESS").delete()
    // the pointer still names v1 → readers stay on the committed snapshot
    byKey(path) shouldBe Map(1 -> (("p1", 10)))
    // even with the pointer lost too (crash during a later swap), readers
    // fall back to the newest COMMITTED version, not the unpublished slot
    new java.io.File(s"$path/part=p1/_current").delete()
    byKey(path) shouldBe Map(1 -> (("p1", 10)))
  }

  test("a crashed FIRST commit serves the complete unpublished slot, never partial") {
    val path = tmpDir("pmancrash0") + "/t"
    // migrated flat table (implicit v0), first real commit dies after the
    // slot rename but before _SUCCESS/publish
    Seq((1, "p1", 10)).toDF("k", "part", "v").write.partitionBy("part").parquet(path)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_partition_manifests"), "part")
    Seq((1, 99)).toDF("k", "v").write
      .parquet(s"$path/part=p1/_versions/.staging-sim")
    new java.io.File(s"$path/part=p1/_versions/.staging-sim")
      .renameTo(new java.io.File(s"$path/part=p1/_versions/v00000001")) shouldBe true
    new java.io.File(s"$path/part=p1/_versions/v00000001/_SUCCESS").delete()
    // no committed version exists: the slot's whole-dir rename guarantees
    // it is complete — bounded staleness (an almost-committed merge),
    // never a partial file set
    byKey(path) shouldBe Map(1 -> (("p1", 99)))
  }

  test("per-partition retention vacuums old versions") {
    val path = tmpDir("pmanvac") + "/t"
    (0 to 6).foreach { i =>
      Upsert.upsert(spark, path, Seq((1, "p1", i)).toDF("k", "part", "v"),
        Seq("k"), partitionCols = Seq("part"),
        retainVersions = 2)
    }
    val vs = graft.sources.Snapshots.versions(spark, s"$path/part=p1")
    vs.size shouldBe 2
    vs.max shouldBe 7L
    byKey(path) shouldBe Map(1 -> (("p1", 6)))
  }

  test("readers racing concurrent partition upserts never see a partial partition") {
    val path = tmpDir("pmanrace") + "/t"
    val keys = 1 to 40 // one partition's full content per version
    def state(part: String, v: Int) =
      keys.map(k => (s"$part-$k", part, v)).toDF("k", "part", "v")
    Upsert.upsert(spark, path,
      state("p1", 0).unionByName(state("p2", 0)), Seq("k"),
      partitionCols = Seq("part"))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val rows = Upsert.read(spark, path)
            .collect().map(r => (r.getAs[String]("part"), r.getAs[Int]("v")))
          // PER-PARTITION atomicity: each partition is ALL of one commit's
          // rows at one version — never a partial file set, never a mix
          rows.groupBy(_._1).foreach { case (p, rs) =>
            if (rs.length != keys.size)
              failures.add(s"$p: ${rs.length} rows")
            if (rs.map(_._2).distinct.length != 1)
              failures.add(s"$p: mixed versions ${rs.map(_._2).distinct.toSeq}")
          }
        } catch {
          case e: Exception =>
            failures.add(s"reader error: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    })
    reader.start()
    try {
      val next = new java.util.concurrent.atomic.AtomicInteger(1)
      val writers = (1 to 3).map { _ =>
        new Thread(() => {
          var i = next.getAndIncrement()
          while (i <= 24) {
            val part = if (i % 2 == 0) "p1" else "p2"
            try {
              Upsert.upsert(spark, path, state(part, i), Seq("k"),
                partitionCols = Seq("part"))
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
    Upsert.read(spark, path).count() shouldBe keys.size * 2L
    // no staging debris under the table root
    new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("_staging-")) shouldBe empty
  }

  test("every commit publishes a root manifest naming each partition's state") {
    val path = tmpDir("pmanroot") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.rootManifest(spark, path) shouldBe
      Some(Map("part=p1" -> "v00000001", "part=p2" -> "v00000001"))
    // a key moves: touched partitions advance, the emptied one goes EMPTY.
    // p2's existing file provably holds no source key (bounds [2,2] vs
    // source [1,1]), so the file-scoped MERGE keeps it as a surviving
    // part and the moved row lands as a new part — no rewrite of p2.
    Upsert.upsert(spark, path, Seq((1, "p2", 11)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.rootManifest(spark, path) shouldBe
      Some(Map("part=p1" -> "EMPTY", "part=p2" -> "v00000001&v00000002"))
    PartitionSnapshots.rootVersions(spark, path) shouldBe Seq(1L, 2L)
    Upsert.read(spark, path).select("k", "part", "v").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
      .toSet shouldBe Set((1, "p2", 11), (2, "p2", 20))
  }

  test("root manifests give whole-table time travel") {
    val path = tmpDir("pmanroottt") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Upsert.upsert(spark, path, Seq((1, "p2", 11)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // current: the key moved; asOf the first root version: the seed state,
    // consistently across BOTH partitions
    byKey(path) shouldBe Map(1 -> (("p2", 11)), 2 -> (("p2", 20)))
    PartitionSnapshots.read(spark, path, asOf = 1L).collect()
      .map(r => r.getAs[Int]("k") ->
        ((r.getAs[Any]("part").toString, r.getAs[Int]("v")))).toMap shouldBe
      Map(1 -> (("p1", 10)), 2 -> (("p2", 20)))
    an[Exception] should be thrownBy
      PartitionSnapshots.read(spark, path, asOf = 99L)
  }

  test("migration seeds the first root manifest: FLAT for untouched partitions") {
    val path = tmpDir("pmanrootmig") + "/t"
    Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v")
      .write.partitionBy("part").parquet(path)
    Upsert.upsert(spark, path, Seq((2, "p2", 99)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // untouched p1 pinned at its implicit flat v0; touched p2 at v1
    PartitionSnapshots.rootManifest(spark, path) shouldBe
      Some(Map("part=p1" -> "FLAT", "part=p2" -> "v00000001"))
    byKey(path) shouldBe Map(1 -> (("p1", 10)), 2 -> (("p2", 99)))
  }

  test("reads resolve through the manifest, not directory listing") {
    val path = tmpDir("pmanrootlist") + "/t"
    Upsert.upsert(spark, path, Seq((1, "p1", 10)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // files dropped into the table dir OUTSIDE a manifest commit (a
    // half-done distcp, a rogue writer) are invisible until committed —
    // the Iceberg contract, and the proof reads never list-and-guess
    Seq((9, 90)).toDF("k", "v").write.parquet(s"$path/part=rogue")
    byKey(path) shouldBe Map(1 -> (("p1", 10)))
  }

  test("table-level readers see multi-partition commits atomically") {
    val path = tmpDir("pmanrootatomic") + "/t"
    def state(v: Int) = Seq((1, "p1", v), (2, "p2", v)).toDF("k", "part", "v")
    Upsert.upsert(spark, path, state(0), Seq("k"),
      partitionCols = Seq("part"))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          // every commit rewrites BOTH partitions with one v: a consistent
          // snapshot has exactly one distinct v across the whole table.
          // Per-partition pointers alone cannot give this (p1 may publish
          // before p2); the root manifest must.
          val vs = Upsert.read(spark, path)
            .collect().map(_.getAs[Int]("v")).distinct
          if (vs.length != 1)
            failures.add(s"torn snapshot: versions ${vs.toSeq.sorted}")
        } catch {
          case e: Exception =>
            failures.add(s"reader error: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    })
    reader.start()
    try (1 to 12).foreach { i =>
      Upsert.upsert(spark, path, state(i), Seq("k"),
        partitionCols = Seq("part"))
    } finally {
      stop.set(true)
      reader.join(30000)
    }
    failures.toArray shouldBe empty
    byKey(path) shouldBe Map(1 -> (("p1", 12)), 2 -> (("p2", 12)))
  }

  private def dataFileCount(dir: String): Int = {
    val d = new java.io.File(dir)
    if (!d.isDirectory) 0
    else d.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))
  }

  test("compaction rewrites fragmented partitions as a new version, reader-safe") {
    val path = tmpDir("pmancompact") + "/t"
    // a migrated stream-fragmented table: p1's flat (implicit v0) files
    // split across 8 writer tasks — explicit repartition(8) survives AQE
    // coalescing, unlike the merge shuffle inside Upsert
    (1 to 80).map(i => (i, "p1", i)).toDF("k", "part", "v").repartition(8)
      .unionByName(Seq((1000, "p2", 0)).toDF("k", "part", "v").coalesce(1))
      .write.partitionBy("part").parquet(path)
    Upsert.upsert(spark, path, Seq((1000, "p2", 1)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val before = PartitionSnapshots.rootManifest(spark, path).get
    before("part=p1") shouldBe "FLAT"
    dataFileCount(s"$path/part=p1") should be >= 8
    val report = PartitionSnapshots.compact(spark, path, minFiles = 4)
    report.keySet shouldBe Set("part=p1") // p2's single-file v1: under minFiles
    report("part=p1")._1 should be >= 8
    report("part=p1")._2 shouldBe 1
    val after = PartitionSnapshots.rootManifest(spark, path).get
    after("part=p2") shouldBe before("part=p2") // untouched partition unmoved
    after("part=p1") shouldBe "v00000001" // FLAT fragments became a real version
    dataFileCount(s"$path/part=p1/_versions/v00000001") shouldBe 1
    // rows preserved exactly
    Upsert.read(spark, path).count() shouldBe 81L
    // a reader pinned on the pre-compaction root still resolves the old
    // state: p1's flat fragments are retained until real versions cover
    // the retention window
    PartitionSnapshots.read(spark, path, asOf = 1L).count() shouldBe 81L
  }

  test("changelog diffs manifests first: same-state partitions are never read") {
    val path = tmpDir("pmanchanges") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20), (3, "p2", 30)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Upsert.upsert(spark, path, Seq((2, "p2", 21)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // poison the untouched partition's pinned data dir: if the changelog
    // scanned p1 at all, the corrupt file would kill the read
    val p1v = PartitionSnapshots.rootManifest(spark, path).get("part=p1")
    val poison = new java.io.File(s"$path/part=p1/_versions/$p1v/zz-poison.parquet")
    java.nio.file.Files.writeString(poison.toPath, "not parquet")
    try {
      val feed = PartitionSnapshots.changes(spark, path, 1L, 2L)
        .collect().map(r => (r.getAs[String]("change_type"),
          r.getAs[Int]("k"), r.getAs[Any]("part").toString, r.getAs[Int]("v")))
        .toSet
      // only the rewritten row pair shows; k=3 was carried over unchanged
      // and cancels out; k=1's partition was never touched (or read)
      feed shouldBe Set(("insert", 2, "p2", 21), ("delete", 2, "p2", 20))
    } finally poison.delete()
  }

  test("a compaction-only commit yields an empty changelog") {
    val path = tmpDir("pmanchangesc") + "/t"
    // p1 stream-fragmented flat (implicit v0); the manifested upsert
    // touches only p2, so p1 stays FLAT across 8 files at root v1
    (1 to 40).map(i => (i, "p1", i)).toDF("k", "part", "v").repartition(8)
      .unionByName(Seq((100, "p2", 0)).toDF("k", "part", "v").coalesce(1))
      .write.partitionBy("part").parquet(path)
    Upsert.upsert(spark, path, Seq((100, "p2", 1)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.compact(spark, path, minFiles = 2)
      .keySet shouldBe Set("part=p1")
    // the rewrite changed bytes-on-disk, not content: the feed is empty
    PartitionSnapshots.changes(spark, path, 1L, 2L).count() shouldBe 0L
  }

  test("write-audit-publish: a failed audit publishes nothing, table unchanged") {
    import graft.operators.Expectations
    val path = tmpDir("pmanwap") + "/t"
    val gate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => Expectations.check(df, Seq(
        Expectations.InRange("v", 0, 100),
        Expectations.NotNull("k")))
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"),
      audit = Some(gate))
    byKey(path) shouldBe Map(1 -> (("p1", 10)), 2 -> (("p2", 20)))
    // the rejected merge: v=999 breaks the range rule over the WOULD-BE
    // post-merge snapshot
    val bad = Seq((1, "p1", 999)).toDF("k", "part", "v")
    a[graft.sources.PartitionSnapshots.AuditFailedException] should be thrownBy
      Upsert.upsert(spark, path, bad, Seq("k"), partitionCols = Seq("part"),
        audit = Some(gate))
    // nothing published: same data, same root version, no stray slots
    byKey(path) shouldBe Map(1 -> (("p1", 10)), 2 -> (("p2", 20)))
    PartitionSnapshots.rootVersions(spark, path) shouldBe Seq(1L)
    graft.sources.Snapshots.versions(spark, s"$path/part=p1") shouldBe Seq(1L)
    new java.io.File(s"$path/part=p1/_versions").listFiles()
      .map(_.getName).sorted shouldBe Array("v00000001")
    // a compliant merge against the SAME gate commits normally afterwards
    Upsert.upsert(spark, path, Seq((1, "p1", 42)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"), audit = Some(gate))
    byKey(path) shouldBe Map(1 -> (("p1", 42)), 2 -> (("p2", 20)))
    PartitionSnapshots.rootVersions(spark, path) shouldBe Seq(1L, 2L)
  }

  test("whole-table commit paths refuse a manifested table, history intact") {
    val path = tmpDir("pmanguard") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // an unpartitioned commit (an upsert without partitionCols, or a
    // whole-table replace) into a partitioned table would stage rows
    // with no partition dirs — the marker's partition columns make both
    // refuse loudly before anything is staged
    an[IllegalArgumentException] should be thrownBy
      Upsert.upsert(spark, path, Seq((1, "p1", 99)).toDF("k", "part", "v"),
        Seq("k")) // partitionCols forgotten
    an[IllegalArgumentException] should be thrownBy
      Upsert.replace(spark, path, Seq((1, "p1", 99)).toDF("k", "part", "v"))
    // nothing was touched: same data, same versions, same root
    byKey(path) shouldBe Map(1 -> (("p1", 10)), 2 -> (("p2", 20)))
    graft.sources.Snapshots.versions(spark, s"$path/part=p1") shouldBe Seq(1L)
    PartitionSnapshots.rootVersions(spark, path) shouldBe Seq(1L)
    // and the lease was released on the refusal — the next valid commit runs
    Upsert.upsert(spark, path, Seq((1, "p1", 11)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    byKey(path) shouldBe Map(1 -> (("p1", 11)), 2 -> (("p2", 20)))
  }

  test("an audit that itself throws deletes its claimed slots (nothing leaks)") {
    import graft.operators.Expectations
    val path = tmpDir("pmanwapthrow") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // a rule naming a column the table does not have: the audit plan
    // throws AnalysisException — not a clean failed-rules report
    val broken: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => Expectations.check(df, Seq(Expectations.NotNull("no_such_column")))
    an[Exception] should be thrownBy
      Upsert.upsert(spark, path, Seq((1, "p1", 99)).toDF("k", "part", "v"),
        Seq("k"), partitionCols = Seq("part"), audit = Some(broken))
    // the claimed-but-unaudited slots were deleted on the failure path:
    // no stray version dirs, no markers, table byte-for-byte unchanged
    byKey(path) shouldBe Map(1 -> (("p1", 10)), 2 -> (("p2", 20)))
    new java.io.File(s"$path/part=p1/_versions").listFiles()
      .map(_.getName).sorted shouldBe Array("v00000001")
    PartitionSnapshots.rootVersions(spark, path) shouldBe Seq(1L)
  }

  test("a crashed audit's marked slot never serves and is reaped on the next claim") {
    import graft.operators.Expectations
    val path = tmpDir("pmanwapcrash") + "/t"
    // migrated flat table: NO committed version, NO root manifest — the
    // exact partition state where an abandoned unaudited slot would be
    // served by the crash-recovery fallback and baked into the first
    // manifest, violating 'readers never saw the rejected data'
    Seq((1, "p1", 10)).toDF("k", "part", "v").write.partitionBy("part").parquet(path)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_partition_manifests"), "part")
    // simulate a writer that died mid-audit: claimed slot, data complete,
    // WAP marker still present, no _SUCCESS, no pointer
    val slot = s"$path/part=p1/_versions/v00000001"
    Seq((1, 999)).toDF("k", "v").write.parquet(slot)
    new java.io.File(s"$slot/_SUCCESS").delete()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(slot, ".wap-pending"), "")
    // the unaudited data never serves — the flat v0 does
    byKey(path) shouldBe Map(1 -> (("p1", 10)))
    // a cold marked slot (older than the writer-lease TTL) is reaped when
    // the partition is next claimed; the new audited commit then lands
    new java.io.File(slot).setLastModified(
      System.currentTimeMillis() - 16 * 60 * 1000L) shouldBe true
    val gate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => Expectations.check(df, Seq(Expectations.InRange("v", 0, 100)))
    Upsert.upsert(spark, path, Seq((1, "p1", 11)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"),
      audit = Some(gate))
    byKey(path) shouldBe Map(1 -> (("p1", 11)))
    // no marker survives anywhere under the partition
    new java.io.File(s"$path/part=p1/_versions").listFiles().flatMap(d =>
      Option(d.listFiles()).toSeq.flatten.map(_.getName))
      .count(_ == ".wap-pending") shouldBe 0
  }

  private def rootFile(path: String, v: Long, name: String): java.io.File =
    new java.io.File(f"$path/_root/_versions/v$v%08d/$name")

  test("root commits write O(touched) deltas, rebasing a full manifest periodically") {
    val path = tmpDir("pmandelta") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 0), (2, "p2", 0), (3, "p3", 0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // first commit: a FULL manifest naming all three partitions
    rootFile(path, 1, "manifest").isFile shouldBe true
    // touching 1 of 3 partitions writes a DELTA: parent line + ONE entry,
    // not a map of every partition — commit metadata is O(touched)
    Upsert.upsert(spark, path, Seq((2, "p2", 1)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    rootFile(path, 2, "manifest").isFile shouldBe false
    val delta = java.nio.file.Files.readString(rootFile(path, 2, "delta").toPath)
      .split("\n").filter(_.nonEmpty)
    delta.head shouldBe "v00000001"
    delta.tail.length shouldBe 1
    // state \t rel \t footer-stats — the O(touched) line carries its
    // partition's record count and bounds alongside the state
    delta.tail.head should startWith("v00000002\tpart=p2\trows=1;")
    // the folded view is still the complete table state
    PartitionSnapshots.rootManifest(spark, path) shouldBe
      Some(Map("part=p1" -> "v00000001", "part=p2" -> "v00000002",
        "part=p3" -> "v00000001"))
    byKey(path) shouldBe
      Map(1 -> (("p1", 0)), 2 -> (("p2", 1)), 3 -> (("p3", 0)))
    // the delta chain is bounded: by the RebaseEvery-th commit a full
    // manifest is rebased, so reads never fold more than that many files
    (2 to PartitionSnapshots.RebaseEvery).foreach { i =>
      Upsert.upsert(spark, path, Seq((2, "p2", i)).toDF("k", "part", "v"),
        Seq("k"), partitionCols = Seq("part"))
    }
    val rebased = PartitionSnapshots.RebaseEvery + 1
    rootFile(path, rebased - 1, "delta").isFile shouldBe true
    rootFile(path, rebased, "manifest").isFile shouldBe true
    byKey(path) shouldBe Map(1 -> (("p1", 0)),
      2 -> (("p2", PartitionSnapshots.RebaseEvery)), 3 -> (("p3", 0)))
    // time travel folds the chain at any pinned version whose data is
    // still inside the per-partition retention window (the documented
    // reader-vs-expiration contract: older pins age out with their data)
    val pin = PartitionSnapshots.RebaseEvery - 2L
    PartitionSnapshots.read(spark, path, asOf = pin).collect()
      .map(r => r.getAs[Int]("k") -> r.getAs[Int]("v")).toMap shouldBe
      Map(1 -> 0, 2 -> (pin - 1).toInt, 3 -> 0)
  }

  test("rollback forks the root chain: the next commit rebases a full manifest") {
    val path = tmpDir("pmandeltafork") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Upsert.upsert(spark, path, Seq((2, "p2", 21)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    rootFile(path, 2, "delta").isFile shouldBe true
    PartitionSnapshots.rollbackRoot(spark, path, 1L)
    // committing forward from the fork may NOT extend v2's delta chain —
    // folding by version order would resurrect the rolled-back state
    Upsert.upsert(spark, path, Seq((1, "p1", 11)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    rootFile(path, 3, "manifest").isFile shouldBe true
    byKey(path) shouldBe Map(1 -> (("p1", 11)), 2 -> (("p2", 20)))
    // the abandoned branch stays pinnable until retention takes it
    PartitionSnapshots.read(spark, path, asOf = 2L).collect()
      .map(r => r.getAs[Int]("k") -> r.getAs[Int]("v")).toMap shouldBe
      Map(1 -> 10, 2 -> 21)
  }

  test("root vacuum is chain-aware: a kept delta keeps its parents") {
    val path = tmpDir("pmandeltavac") + "/t"
    // retain=1 is the adversarial setting: naive retention would keep only
    // the newest root version — a delta whose parents it just deleted
    (0 to 3).foreach { i =>
      Upsert.upsert(spark, path, Seq((1, "p1", i)).toDF("k", "part", "v"),
        Seq("k"), partitionCols = Seq("part"),
        retainVersions = 1)
    }
    // v4 is a delta; its chain v1(full)..v3 must have survived vacuum
    rootFile(path, 4, "delta").isFile shouldBe true
    rootFile(path, 1, "manifest").isFile shouldBe true
    byKey(path) shouldBe Map(1 -> (("p1", 3)))
    // after a rebase, one more delta commit lets vacuum finally drop the
    // old chain: only the new full + its one delta remain
    (4 to PartitionSnapshots.RebaseEvery).foreach { i =>
      Upsert.upsert(spark, path, Seq((1, "p1", i)).toDF("k", "part", "v"),
        Seq("k"), partitionCols = Seq("part"), retainVersions = 1)
    }
    val rebased = PartitionSnapshots.RebaseEvery + 1
    rootFile(path, rebased, "manifest").isFile shouldBe true
    Upsert.upsert(spark, path,
      Seq((1, "p1", 99)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"), retainVersions = 1)
    PartitionSnapshots.rootVersions(spark, path) shouldBe
      Seq(rebased.toLong, rebased + 1L)
    byKey(path) shouldBe Map(1 -> (("p1", 99)))
  }

  test("a crash between slot seal and root publish is a clean abort") {
    val path = tmpDir("pmansealcrash") + "/t"
    Upsert.upsert(spark, path, Seq((1, "p1", 10)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // simulate a writer that died AFTER sealing its new slot (_SUCCESS)
    // but BEFORE the root manifest publish — the commit point was never
    // reached, so this must read as if the commit never happened
    Seq((1, 99)).toDF("k", "v").write
      .parquet(s"$path/part=p1/_versions/.staging-sim")
    new java.io.File(s"$path/part=p1/_versions/.staging-sim")
      .renameTo(new java.io.File(s"$path/part=p1/_versions/v00000002")) shouldBe true
    byKey(path) shouldBe Map(1 -> (("p1", 10)))
    // the next commit folds forward from the ROOT manifest, never from
    // the orphan slot: no later state ever names v2's data
    Upsert.upsert(spark, path, Seq((2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    byKey(path) shouldBe Map(1 -> (("p1", 10)), 2 -> (("p2", 20)))
    PartitionSnapshots.rootManifest(spark, path).get
      .apply("part=p1") shouldBe "v00000001"
  }

  test("a lagging partition pointer heals on the partition's next commit") {
    val path = tmpDir("pmanptrlag") + "/t"
    Upsert.upsert(spark, path, Seq((1, "p1", 10)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Upsert.upsert(spark, path, Seq((1, "p1", 11)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // simulate a crash between the root publish and the pointer swap:
    // the pointer still names v1 while the root manifest pins v2
    // (written through the Hadoop FS so the checksum sidecar stays valid)
    val ptr = new org.apache.hadoop.fs.Path(s"$path/part=p1/_current")
    val pfs = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pout = pfs.create(ptr, true)
    pout.write("v00000001".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    pout.close()
    // table-level readers are on the root — the commit point — unaffected
    byKey(path) shouldBe Map(1 -> (("p1", 11)))
    // partition-level resolution serves the complete PREVIOUS version
    // (bounded staleness), and the next commit heals the pointer
    graft.sources.Snapshots.currentVersion(spark, s"$path/part=p1") shouldBe Some(1L)
    Upsert.upsert(spark, path, Seq((1, "p1", 12)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    graft.sources.Snapshots.currentVersion(spark, s"$path/part=p1") shouldBe Some(3L)
    byKey(path) shouldBe Map(1 -> (("p1", 12)))
  }

  test("readers pinned mid-compaction+vacuum never error and see complete snapshots") {
    val path = tmpDir("pmancompactrace") + "/t"
    val keys = 1 to 30 // one partition's full content per version
    def state(v: Int) =
      Seq("p1", "p2").flatMap(p => keys.map(k => (s"$p-$k", p, v)))
        .toDF("k", "part", "v").repartition(4) // fragmented: compactable
    Upsert.upsert(spark, path, state(0), Seq("k"),
      partitionCols = Seq("part"),
      retainVersions = 2)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          // pin whatever root version is current, then read THROUGH the
          // pin twice while compaction + vacuum churn underneath: the
          // retention contract says a pinned version within the retain
          // window resolves to complete immutable files; a version
          // vacuumed out from under a too-slow reader fails LOUDLY
          // (acceptable aging), never partially
          val pin = PartitionSnapshots.rootVersions(spark, path).last
          (1 to 2).foreach { _ =>
            val rows = PartitionSnapshots.read(spark, path, asOf = pin)
              .collect().map(r => (r.getAs[String]("part"), r.getAs[Int]("v")))
            rows.groupBy(_._1).foreach { case (p, rs) =>
              if (rs.length != keys.size)
                failures.add(s"pin=$pin $p: ${rs.length} rows")
              if (rs.map(_._2).distinct.length != 1)
                failures.add(s"pin=$pin $p: mixed ${rs.map(_._2).distinct.toSeq}")
            }
          }
        } catch {
          case e: IllegalArgumentException
            if e.getMessage != null && e.getMessage.contains("root manifest") =>
            () // pinned version aged out of retention: the documented contract
          case e: Exception =>
            failures.add(s"reader error: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    })
    reader.start()
    try (1 to 6).foreach { i =>
      Upsert.upsert(spark, path, state(i), Seq("k"),
        partitionCols = Seq("part"), retainVersions = 2)
      PartitionSnapshots.compact(spark, path, minFiles = 2,
        retainVersions = 2)
    } finally {
      stop.set(true)
      reader.join(60000)
    }
    failures.toArray shouldBe empty
    Upsert.read(spark, path).count() shouldBe keys.size * 2L
  }

  test("append commits are O(new data): old version dirs untouched, union state") {
    val path = tmpDir("pmanappend") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val v1Files = new java.io.File(s"$path/part=p1/_versions/v00000001")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap
    Upsert.append(spark, path, Seq((3, "p1", 30)).toDF("k", "part", "v"),
      Seq("part"))
    // the read is the union of both parts; the manifest state says so
    byKey(path) shouldBe
      Map(1 -> (("p1", 10)), 2 -> (("p2", 20)), 3 -> (("p1", 30)))
    PartitionSnapshots.rootManifest(spark, path)
      .get("part=p1") shouldBe "v00000001&v00000002"
    // the prior version dir was not rewritten, touched, or relisted
    new java.io.File(s"$path/part=p1/_versions/v00000001")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap shouldBe v1Files
    // stats merged monotonically: metadata count stays exact
    PartitionSnapshots.rowCount(spark, path) shouldBe Some(3L)
    PartitionSnapshots.rootStats(spark, path)("part=p1")
      .cols("k") shouldBe (("1", "3"))
    // retention never expires an old part the live state references:
    // churn past the retain window with more appends, v1 must survive
    (1 to 4).foreach { i =>
      Upsert.append(spark, path, Seq((10 + i, "p1", i)).toDF("k", "part", "v"),
        Seq("part"), retainVersions = 2)
    }
    new java.io.File(s"$path/part=p1/_versions/v00000001")
      .exists() shouldBe true
    Upsert.read(spark, path).count() shouldBe 7L
    // compaction folds the union back to ONE version dir
    PartitionSnapshots.compact(spark, path, minFiles = 100)
    PartitionSnapshots.rootManifest(spark, path)
      .get("part=p1") should fullyMatch regex "v\\d{8}"
    Upsert.read(spark, path).count() shouldBe 7L
  }

  test("insert-only MERGE on a manifested table appends, never rewrites") {
    val path = tmpDir("pmaninsapp") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // k=1 exists (kept as-is, its partition NOT rewritten); k=3 is new
    Upsert.upsert(spark, path,
      Seq((1, "p1", 99), (3, "p1", 30)).toDF("k", "part", "v"),
      Seq("k"), insertOnly = true, partitionCols = Seq("part"))
    byKey(path) shouldBe
      Map(1 -> (("p1", 10)), 2 -> (("p2", 20)), 3 -> (("p1", 30)))
    // append, not rewrite: p1's state is a two-part union
    PartitionSnapshots.rootManifest(spark, path)
      .get("part=p1") should include("&")
    // deletes before an append never suppress the appended data
    PartitionSnapshots.deleteKeys(spark, path, Seq(Tuple1(3)).toDF("k"))
    Upsert.upsert(spark, path, Seq((3, "p1", 31)).toDF("k", "part", "v"),
      Seq("k"), insertOnly = true, partitionCols = Seq("part"))
    byKey(path)(3) shouldBe (("p1", 31))
    // exactly once: the deleted old image stays suppressed (its part
    // carries the ref), the new part serves the re-inserted row
    Upsert.read(spark, path).count() shouldBe 3L
  }

  test("idempotent txn appends: same (appId, version) never commits twice") {
    val path = tmpDir("ptxn") + "/t"
    Upsert.upsert(spark, path, Seq((1, "p1", 10)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val b0 = Seq((2, "p1", 20)).toDF("k", "part", "v")
    Upsert.append(spark, path, b0, Seq("part"), txn = Some(("ingest", 0L)))
    // props recorded on the committing root (Iceberg snapshot summary)
    PartitionSnapshots.rootProps(spark, path) shouldBe
      Map("graft.txn.ingest" -> "0")
    // redelivery of the same (appId, version): skipped wholesale
    Upsert.append(spark, path, b0, Seq("part"), txn = Some(("ingest", 0L)))
    Upsert.read(spark, path).count() shouldBe 2L
    // an unrelated commit landing between crash and redelivery doesn't
    // blind the probe (it scans the retained root chain, not the head)
    Upsert.upsert(spark, path, Seq((3, "p2", 30)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Upsert.append(spark, path, b0, Seq("part"), txn = Some(("ingest", 0L)))
    Upsert.read(spark, path).count() shouldBe 3L
    // the NEXT version under the same app commits normally
    Upsert.append(spark, path, Seq((4, "p1", 40)).toDF("k", "part", "v"),
      Seq("part"), txn = Some(("ingest", 1L)))
    Upsert.read(spark, path).count() shouldBe 4L
    PartitionSnapshots.lastTxnVersion(spark, path, "graft.txn.ingest") shouldBe
      Some(1L)
  }

  test("sorted compaction: disjoint per-file key ranges, rows preserved") {
    val path = tmpDir("psortcomp") + "/t"
    // interleaved appends: every file spans nearly the full key range,
    // so footer min/max can prune nothing
    val stripes = Seq(0, 1, 2, 3).map(i =>
      spark.range(10000).selectExpr(s"id * 4 + $i AS k", "'p1' AS part",
        "CAST(id AS INT) AS v"))
    Upsert.upsert(spark, path, stripes.head, Seq("k"),
      partitionCols = Seq("part"))
    stripes.tail.foreach(df => Upsert.append(spark, path, df, Seq("part")))
    val res = PartitionSnapshots.compact(spark, path,
      targetFileBytes = 16L * 1024, sortWithin = Seq("k"))
    res.keySet shouldBe Set("part=p1")
    res("part=p1")._2 should be > 1 // multiple sorted output files
    // every output file covers a DISJOINT k slice
    val ranges = Upsert.read(spark, path).inputFiles.toSeq.map { f =>
      val r = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min("k"),
          org.apache.spark.sql.functions.max("k")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sorted
    ranges.size shouldBe res("part=p1")._2
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => hi should be < lo
      case _ =>
    }
    // row-preserving: same multiset before and after
    Upsert.read(spark, path).groupBy().sum("k", "v").collect()(0) match {
      case r => (r.getLong(0), r.getLong(1)) shouldBe
        ((0L until 40000L).sum, 4L * (0L until 10000L).sum)
    }
    Upsert.read(spark, path).count() shouldBe 40000L
  }

  test("sorted compaction restores prunable manifest bounds: point MERGE re-engages the file-scoped fast path") {
    val path = tmpDir("psortprune") + "/t"
    // 4 range-correlated partitions (part = k/1000 — the time-
    // partitioned-fact shape), seeded by 4 INTERLEAVED appends: every
    // file of every partition spans ~the partition's whole key range,
    // so per-FILE bounds can prune nothing inside a touched partition
    val stripes = Seq(0, 1, 2, 3).map(i =>
      spark.range(1000).selectExpr(s"id * 4 + $i AS k",
        "CAST((id * 4 + " + i + ") / 1000 AS INT) AS part",
        "CAST(id AS INT) AS v"))
    Upsert.upsert(spark, path, stripes.head, Seq("k"),
      partitionCols = Seq("part"))
    stripes.tail.foreach(df => Upsert.append(spark, path, df, Seq("part")))
    val res = PartitionSnapshots.compact(spark, path,
      targetFileBytes = 8L * 1024, sortWithin = Seq("k"))
    res.keySet.size shouldBe 4
    // (1) partition-level MANIFEST bounds are exact and DISJOINT across
    // partitions post-compact — the stats-pruned matched-key lookup can
    // exclude every partition but the key's own
    val stats = PartitionSnapshots.rootStats(spark, path)
    val pRanges = stats.toSeq.sortBy(_._1).map(_._2.cols("k"))
      .map { case (mn, mx) => (mn.toDouble, mx.toDouble) }.sortBy(_._1)
    pRanges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => hi should be < lo
      case _ =>
    }
    // (2) a point-key MERGE now touches ONE partition and rewrites
    // exactly ONE file of it — the others survive by token (per-file
    // sidecar bounds are disjoint after the sorted rewrite)
    val before = PartitionSnapshots.currentRootVersion(spark, path).get
    Upsert.upsert(spark, path, Seq((1500L, 1, -1)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val after = PartitionSnapshots.currentRootVersion(spark, path).get
    val changed = PartitionSnapshots.changedPartitions(spark, path,
      before, after)
    changed shouldBe Seq("part=1")
    val state = PartitionSnapshots.rootManifest(spark, path).get("part=1")
    assert(state.contains("/"),
      s"expected file-scoped survivor tokens in part=1's state, got $state")
    // rows intact (merge replaced one, the survivors held the rest)
    Upsert.read(spark, path).count() shouldBe 4000L
    Upsert.read(spark, path)
      .where(org.apache.spark.sql.functions.col("k") === 1500)
      .select("v").head().getInt(0) shouldBe -1
  }

  test("inspection tables: $snapshots, $partitions, $files describe the live state") {
    val path = tmpDir("pmeta") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Upsert.append(spark, path, Seq((3, "p1", 30)).toDF("k", "part", "v"),
      Seq("part"), txn = Some(("meta", 0L)))
    PartitionSnapshots.deleteKeys(spark, path, Seq(2).toDF("k")) shouldBe true
    val snaps = PartitionSnapshots.snapshotsMeta(spark, path).collect()
    snaps.map(_.getAs[Long]("root_version")).sorted shouldBe Array(1L, 2L, 3L)
    snaps.count(_.getAs[Boolean]("is_current")) shouldBe 1
    snaps.find(_.getAs[Long]("root_version") == 3L).get
      .getAs[Boolean]("is_current") shouldBe true
    // v2 was the txn append: a delta touching ONE partition, props kept
    val v2 = snaps.find(_.getAs[Long]("root_version") == 2L).get
    v2.getAs[Boolean]("is_delta") shouldBe true
    v2.getAs[Long]("parent_version") shouldBe 1L
    v2.getAs[Int]("touched_partitions") shouldBe 1
    v2.getAs[Int]("total_partitions") shouldBe 2
    v2.getAs[Map[String, String]]("props") shouldBe Map("graft.txn.meta" -> "0")
    val parts = PartitionSnapshots.partitionsMeta(spark, path).collect()
      .map(r => r.getAs[String]("partition") -> r).toMap
    parts("part=p1").getAs[Int]("n_parts") shouldBe 2 // seed + append
    parts("part=p1").getAs[Int]("n_delete_refs") shouldBe 0
    parts("part=p1").getAs[Any]("row_count") shouldBe 2L
    parts("part=p2").getAs[Int]("n_delete_refs") shouldBe 1 // pending delete
    Option(parts("part=p2").getAs[Any]("row_count")) shouldBe None // honest
    // $files lists exactly the file set a read of this root opens:
    // data files plus the referenced equality-delete files
    val files = PartitionSnapshots.filesMeta(spark, path).collect()
    files.foreach(_.getAs[Long]("size_bytes") should be > 0L)
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    files.map(r => norm(r.getAs[String]("path"))).sorted shouldBe
      Upsert.read(spark, path).inputFiles.map(norm).sorted
    // delete rows are table-scoped: one row per delete FILE
    files.filter(_.getAs[String]("content") == "eq_deletes")
      .map(_.getAs[String]("partition")) shouldBe Array("")
  }

  test("time-based expiry: old roots drop, tags and chains survive, data reaped") {
    val path = tmpDir("pexpire") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 0), (2, "p2", 0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // v2..v12: enough commits that the delta chain rebases and old
    // chains become droppable
    (1 to 11).foreach { i =>
      Upsert.upsert(spark, path, Seq((1, "p1", i)).toDF("k", "part", "v"),
        Seq("k"), partitionCols = Seq("part"), retainVersions = 20)
    }
    PartitionSnapshots.tagRoot(spark, path, "audit2026", v = 2L)
    val before = PartitionSnapshots.rootVersions(spark, path)
    before.size shouldBe 12
    val dataBefore = new java.io.File(s"$path/part=p1/_versions").list().length
    // nothing is an hour old yet: no-op
    PartitionSnapshots.expireRoots(spark, path, 3600L * 1000) shouldBe Nil
    // expire everything not pinned: current + tag + delta parents survive
    val expired = PartitionSnapshots.expireRoots(spark, path, 0L,
      retainVersions = 1)
    expired should not be empty
    expired should not contain 12L // current
    expired should not contain 2L  // tagged
    PartitionSnapshots.rootVersions(spark, path) shouldBe
      before.filterNot(expired.contains)
    // every surviving root still resolves end-to-end
    Upsert.read(spark, path).count() shouldBe 2L
    Upsert.read(spark, path).where($"k" === 1)
      .select("v").collect()(0).getInt(0) shouldBe 11
    PartitionSnapshots.readTag(spark, path, "audit2026")
      .where($"k" === 1).select("v").collect()(0).getInt(0) shouldBe 1
    // an expired root is gone LOUDLY
    intercept[IllegalArgumentException] {
      PartitionSnapshots.read(spark, path, asOf = expired.max)
    }
    // data versions only expired roots named were reaped
    val dataAfter = new java.io.File(s"$path/part=p1/_versions").list().length
    dataAfter should be < dataBefore
  }

  test("branches: isolated commits, fast-forward, conflict, retention exemption") {
    val path = tmpDir("pbranch") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.createBranch(spark, path, "etl")
    // two commits to the branch: a merge, then a fast append
    Upsert.upsert(spark, path, Seq((1, "p1", 11)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"), branch = Some("etl"))
    Upsert.append(spark, path, Seq((3, "p1", 30)).toDF("k", "part", "v"),
      Seq("part"), branch = Some("etl"))
    def img(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v").collect().map(r => (r.getInt(0), r.getInt(1))).sorted
    // main is untouched; the branch carries the staged line
    img(Upsert.read(spark, path)) shouldBe Array((1, 10), (2, 20))
    img(PartitionSnapshots.readBranch(spark, path, "etl")) shouldBe
      Array((1, 11), (2, 20), (3, 30))
    PartitionSnapshots.rootBranches(spark, path)("etl") shouldBe 3L
    // fast-forward: main flips to the branch head in one pointer swap
    PartitionSnapshots.fastForwardRoot(spark, path, "etl") shouldBe 3L
    img(Upsert.read(spark, path)) shouldBe Array((1, 11), (2, 20), (3, 30))
    // the pre-publish state is still time-travelable
    PartitionSnapshots.read(spark, path, asOf = 1L).count() shouldBe 2L
    // conflict: main advances while a second branch stages → refuse loudly
    PartitionSnapshots.createBranch(spark, path, "etl2")
    Upsert.upsert(spark, path, Seq((4, "p2", 40)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"), branch = Some("etl2"))
    Upsert.upsert(spark, path, Seq((5, "p2", 50)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    intercept[IllegalArgumentException] {
      PartitionSnapshots.fastForwardRoot(spark, path, "etl2")
    }
    img(Upsert.read(spark, path)) shouldBe
      Array((1, 11), (2, 20), (3, 30), (5, 50))
    // retention churn well past retainVersions: the dangling branch's
    // head AND the data versions it pins stay readable
    (1 to 6).foreach { i =>
      Upsert.upsert(spark, path, Seq((1, "p1", 100 + i)).toDF("k", "part", "v"),
        Seq("k"), partitionCols = Seq("part"))
    }
    img(PartitionSnapshots.readBranch(spark, path, "etl2")) shouldBe
      Array((1, 11), (2, 20), (3, 30), (4, 40))
    // aggressive age-based expiry also exempts the branch head
    PartitionSnapshots.expireRoots(spark, path, 0L)
    img(PartitionSnapshots.readBranch(spark, path, "etl2")) shouldBe
      Array((1, 11), (2, 20), (3, 30), (4, 40))
    // $refs lists every pinned name: main + the surviving branch ("etl"
    // was re-based onto its own head by the fast-forward)
    val refs = PartitionSnapshots.refsMeta(spark, path).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
    refs.map(_._1).toSet shouldBe Set("main", "etl", "etl2")
    refs.find(_._1 == "etl2").get._2 shouldBe "branch"
    // dropping the branch re-enters retention; main serves on
    PartitionSnapshots.dropBranch(spark, path, "etl2")
    img(Upsert.read(spark, path)) shouldBe
      Array((1, 106), (2, 20), (3, 30), (5, 50))
  }

  test("interleaved main and branch writers stay isolated under lease contention") {
    val path = tmpDir("pbrcon") + "/t"
    Upsert.upsert(spark, path, Seq((0, "p1", 0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.createBranch(spark, path, "side")
    def loop(n: Int)(body: Int => Unit): Thread = new Thread(() => {
      var i = 1
      while (i <= n) {
        try { body(i); i += 1 }
        catch { case _: Upsert.ConcurrentWriteException => Thread.sleep(20) }
      }
    })
    // a main writer and a branch writer race for the same lease: the
    // lease serializes commits, the ref split keeps the LINES apart
    val tm = loop(5)(i => Upsert.upsert(spark, path,
      Seq((100 + i, "p1", i)).toDF("k", "part", "v"), Seq("k"),
      partitionCols = Seq("part")))
    val tb = loop(5)(i => Upsert.upsert(spark, path,
      Seq((200 + i, "p1", i)).toDF("k", "part", "v"), Seq("k"),
      partitionCols = Seq("part"), branch = Some("side")))
    tm.start(); tb.start(); tm.join(300000); tb.join(300000)
    Upsert.read(spark, path).select("k").collect().map(_.getInt(0)).sorted shouldBe
      (Seq(0) ++ (101 to 105)).toArray
    PartitionSnapshots.readBranch(spark, path, "side")
      .select("k").collect().map(_.getInt(0)).sorted shouldBe
      (Seq(0) ++ (201 to 205)).toArray
    // and the diverged branch can NOT fast-forward silently
    intercept[IllegalArgumentException] {
      PartitionSnapshots.fastForwardRoot(spark, path, "side")
    }
  }

  test("branch slots above main never force rebases nor recycle version numbers") {
    val path = tmpDir("pbrdelta") + "/t"
    Upsert.upsert(spark, path, Seq((1, "p1", 10)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.createBranch(spark, path, "b")
    Upsert.upsert(spark, path, Seq((2, "p1", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"), branch = Some("b")) // v2
    // main commit with a branch slot above it: still an O(touched) DELTA
    Upsert.upsert(spark, path, Seq((3, "p2", 30)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part")) // v3
    rootFile(path, 3, "delta").isFile shouldBe true
    // branch commit after main interleaved: a delta off ITS OWN parent
    Upsert.upsert(spark, path, Seq((4, "p1", 40)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"), branch = Some("b")) // v4
    rootFile(path, 4, "delta").isFile shouldBe true
    PartitionSnapshots.readBranch(spark, path, "b").select("k").collect()
      .map(_.getInt(0)).sorted shouldBe Array(1, 2, 4)
    // orphan the branch above main's pointer (cur = 3 < 4), expire hard:
    // slots above the pointer must survive, else the next commit would
    // RECYCLE their version numbers
    PartitionSnapshots.dropBranch(spark, path, "b")
    PartitionSnapshots.expireRoots(spark, path, 0L)
    PartitionSnapshots.rootVersions(spark, path) should contain(4L)
    Upsert.upsert(spark, path, Seq((5, "p2", 50)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.currentRootVersion(spark, path) shouldBe Some(5L)
  }

  test("schema evolution staged on a branch publishes with the fast-forward") {
    val path = tmpDir("pbrevo") + "/t"
    Upsert.upsert(spark, path, Seq((1, "p1", 10)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.createBranch(spark, path, "evo")
    // the branch adds a column; main's pinned schema is untouched
    Upsert.upsert(spark, path,
      Seq((2, "p1", 20, "x")).toDF("k", "part", "v", "tag"),
      Seq("k"), partitionCols = Seq("part"), evolveSchema = true,
      branch = Some("evo"))
    Upsert.read(spark, path).columns should not contain "tag"
    PartitionSnapshots.readBranch(spark, path, "evo")
      .where($"k" === 1).select("tag").collect()(0).isNullAt(0) shouldBe true
    // publish: main now reads the evolved union schema, old rows NULL
    PartitionSnapshots.fastForwardRoot(spark, path, "evo")
    val rows = Upsert.read(spark, path).select("k", "tag").collect()
      .map(r => r.getInt(0) -> Option(r.getString(1))).toMap
    rows shouldBe Map(1 -> None, 2 -> Some("x"))
  }

  test("published branch heads: txn stamps reach main, pointer loss resolves to them") {
    val path = tmpDir("pbrpub") + "/t"
    Upsert.upsert(spark, path, Seq((1, "p1", 10)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.createBranch(spark, path, "in")
    Upsert.append(spark, path, Seq((2, "p1", 20)).toDF("k", "part", "v"),
      Seq("part"), txn = Some(("app", 7L)), branch = Some("in")) // v2
    // staged: the branch's stamp must NOT suppress a main delivery
    PartitionSnapshots.lastTxnVersion(spark, path, "graft.txn.app") shouldBe
      None
    PartitionSnapshots.fastForwardRoot(spark, path, "in") shouldBe 2L
    // published: the stamp now counts for main — a post-publish
    // redelivery of the same (appId, version) commits nothing
    PartitionSnapshots.lastTxnVersion(spark, path, "graft.txn.app") shouldBe
      Some(7L)
    Upsert.append(spark, path, Seq((2, "p1", 20)).toDF("k", "part", "v"),
      Seq("part"), txn = Some(("app", 7L)))
    Upsert.read(spark, path).count() shouldBe 2L
    // pointer loss (crash mid-swap): resolution falls back to the
    // newest PUBLISHED slot — the fast-forwarded head, never the fork
    // base (which would silently un-publish v2's data)
    new java.io.File(s"$path/_root/_current").delete() shouldBe true
    PartitionSnapshots.currentRootVersion(spark, path) shouldBe Some(2L)
    Upsert.read(spark, path).count() shouldBe 2L
  }

  test("filesMeta lists a delete file shared across parts AND partitions once") {
    val path = tmpDir("pfdedup") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (3, "p2", 30)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Upsert.append(spark, path, Seq((2, "p1", 20)).toDF("k", "part", "v"),
      Seq("part")) // p1 now a two-part union
    // one delete commit hitting BOTH partitions: the ref lands on every
    // part of p1 and on p2 — still one file set
    PartitionSnapshots.deleteKeys(spark, path,
      Seq(1, 3).toDF("k")) shouldBe true
    val files = PartitionSnapshots.filesMeta(spark, path).collect()
    val paths = files.map(_.getAs[String]("path"))
    paths.distinct.length shouldBe paths.length // the shared ref: ONE row
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    paths.map(norm).sorted shouldBe
      Upsert.read(spark, path).inputFiles.map(norm).sorted
  }

  test("manifests carry footer stats: metadata row count, honest None under deletes") {
    val path = tmpDir("pmanstats") + "/t"
    Upsert.upsert(spark, path,
      (1 to 20).map(k => (k, if (k <= 10) "p1" else "p2", k * 1.5))
        .toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // count(*) answered from the manifest alone — and exactly
    PartitionSnapshots.rowCount(spark, path) shouldBe Some(20L)
    // per-partition bounds harvested from the footers Spark already wrote
    val st = PartitionSnapshots.rootStats(spark, path)
    st("part=p1").rows shouldBe 10L
    st("part=p1").cols("k") shouldBe (("1", "10"))
    st("part=p2").cols("k") shouldBe (("11", "20"))
    // a pending equality delete makes the metadata count an upper bound
    // → the honest answer is None (scan required)...
    PartitionSnapshots.deleteKeys(spark, path, Seq(Tuple1(3)).toDF("k"))
    PartitionSnapshots.rowCount(spark, path) shouldBe None
    // ...until a rewrite materializes it and the count is exact again
    PartitionSnapshots.compact(spark, path, minFiles = 1)
    PartitionSnapshots.rowCount(spark, path) shouldBe Some(19L)
    // stats survive delta folding: commits touching ONE partition keep
    // the other's stats resolvable through the chain
    Upsert.upsert(spark, path, Seq((30, "p2", 4.5)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.rootStats(spark, path)("part=p1").rows shouldBe 9L
    PartitionSnapshots.rowCount(spark, path) shouldBe Some(20L)
  }

  test("stats-pruned range scan never lists non-intersecting partitions") {
    val path = tmpDir("pmanprune") + "/t"
    Upsert.upsert(spark, path,
      (1 to 30).map(k => (k, s"p${(k - 1) / 10 + 1}", k * 10))
        .toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val out = PartitionSnapshots.readWhereBetween(spark, path, "k", 12, 18)
    out.collect().map(_.getAs[Int]("k")).sorted shouldBe (12 to 18).toArray
    // the scan was planned from manifest bounds: only p2's files appear
    all(out.inputFiles.toSeq) should include("part=p2")
    // a range matching nothing reads nothing and keeps the shape
    val none = PartitionSnapshots.readWhereBetween(spark, path, "k", 500, 600)
    none.count() shouldBe 0L
    none.columns should contain allOf ("k", "part", "v")
  }

  test("readers racing delete commits and compaction see whole snapshots only") {
    val path = tmpDir("pmandelrace") + "/t"
    val n = 40
    Upsert.upsert(spark, path,
      (1 to n).map(k => (k, if (k % 2 == 0) "p1" else "p2", k * 10))
        .toDF("k", "part", "v").repartition(4),
      Seq("k"), partitionCols = Seq("part"),
      retainVersions = 2)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          // current-state read while equality-delete commits + delete-
          // materializing compactions churn: deletes land one key at a
          // time in order, so any WHOLE snapshot shows exactly the keys
          // {m+1..n} for some prefix length m — a torn read (half a
          // delete, a partition mid-rewrite) shows anything else
          val ks = Upsert.read(spark, path)
            .collect().map(_.getAs[Int]("k")).sorted
          if (ks.distinct.length != ks.length)
            failures.add(s"dup keys: ${ks.length} vs ${ks.distinct.length}")
          val missing = (1 to n).toSet -- ks.toSet
          val m = missing.size
          if (missing != (1 to m).toSet)
            failures.add(s"non-prefix missing set: ${missing.toSeq.sorted}")
        } catch {
          case e: Exception =>
            failures.add(s"reader error: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    })
    reader.start()
    try (1 to 6).foreach { i =>
      PartitionSnapshots.deleteKeys(spark, path, Seq(Tuple1(i)).toDF("k"),
        retainVersions = 2)
      if (i % 2 == 0)
        PartitionSnapshots.compact(spark, path, minFiles = 1,
          retainVersions = 2)
    } finally {
      stop.set(true)
      reader.join(60000)
    }
    failures.toArray shouldBe empty
    Upsert.read(spark, path).count() shouldBe (n - 6).toLong
  }

  test("root rollback repoints the whole table in one swap") {
    val path = tmpDir("pmanrollback") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Upsert.upsert(spark, path, Seq((1, "p2", 11)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    byKey(path) shouldBe Map(1 -> (("p2", 11)), 2 -> (("p2", 20)))
    PartitionSnapshots.rollbackRoot(spark, path, 1L)
    // every partition snapped back: the moved key is home again, the
    // EMPTY version p1 got in root v2 no longer shows
    byKey(path) shouldBe Map(1 -> (("p1", 10)), 2 -> (("p2", 20)))
    // the next merge commits FORWARD from the rolled-back state
    Upsert.upsert(spark, path, Seq((2, "p2", 99)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    byKey(path) shouldBe Map(1 -> (("p1", 10)), 2 -> (("p2", 99)))
  }

  test("dropPartitions is metadata-only: EMPTY states, pinned readers keep files") {
    val path = tmpDir("pmandrop") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20), (3, "p3", 30)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val preDrop = PartitionSnapshots.rootVersions(spark, path).max
    // values arrive unescaped; the predicate picks two of three
    PartitionSnapshots.dropPartitions(spark, path,
      m => m("part") != "p2") shouldBe Seq("part=p1", "part=p3")
    byKey(path) shouldBe Map(2 -> (("p2", 20)))
    // dropped partitions are EMPTY in the new root; untouched pinned as-is
    val states = PartitionSnapshots.rootManifest(spark, path).get
    states("part=p1") shouldBe "EMPTY"
    states("part=p3") shouldBe "EMPTY"
    // the data survives for time travel until retention expires it
    PartitionSnapshots.read(spark, path, asOf = preDrop).count() shouldBe 3L
    // a second identical drop is a no-op: no new root committed
    val v = PartitionSnapshots.rootVersions(spark, path).max
    PartitionSnapshots.dropPartitions(spark, path,
      m => m("part") != "p2") shouldBe Nil
    PartitionSnapshots.rootVersions(spark, path).max shouldBe v
  }

  test("a tagged root survives retention end-to-end until the tag drops") {
    val path = tmpDir("pmantag") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"),
      retainVersions = 1)
    PartitionSnapshots.tagRoot(spark, path, "train-2024.06")
    PartitionSnapshots.rootTags(spark, path) shouldBe Map("train-2024.06" -> 1L)
    // churn far past both root retention and the rebase window
    (1 to PartitionSnapshots.RebaseEvery + 2).foreach { i =>
      Upsert.upsert(spark, path, Seq((1, "p1", 10 + i)).toDF("k", "part", "v"),
        Seq("k"), partitionCols = Seq("part"), retainVersions = 1)
    }
    // the tagged whole-table state still reads exactly as tagged: the
    // root manifest AND p1's v1 data files were retention-exempt
    PartitionSnapshots.readTag(spark, path, "train-2024.06")
      .collect().map(r => (r.getAs[Int]("k"), r.getAs[Int]("v")))
      .toSet shouldBe Set((1, 10), (2, 20))
    // current state unaffected
    byKey(path)(1)._2 shouldBe 10 + PartitionSnapshots.RebaseEvery + 2
    // dropping the tag re-enters retention: the next commit vacuums it
    PartitionSnapshots.dropRootTag(spark, path, "train-2024.06")
    Upsert.upsert(spark, path, Seq((1, "p1", 99)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"), retainVersions = 1)
    an[Exception] should be thrownBy
      PartitionSnapshots.readTag(spark, path, "train-2024.06")
  }

  test("schema evolution: untouched partitions read the manifest-pinned schema") {
    val path = tmpDir("pmanevo") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // evolving merge touches ONLY p2 — p1's files never learn the column
    Upsert.upsert(spark, path,
      Seq((2, "p2", 21, "x")).toDF("k", "part", "v", "extra"),
      Seq("k"), partitionCols = Seq("part"), evolveSchema = true)
    val out = Upsert.read(spark, path)
    // the union schema comes from the manifest's pinned schema, NOT from
    // whichever partition's footer Spark samples first — pre-evolution
    // rows read NULL, exactly as the whole-table snapshot path promises
    out.columns.toSet shouldBe Set("k", "part", "v", "extra")
    out.collect().map(r => (r.getAs[Int]("k"), r.getAs[String]("extra")))
      .toSet shouldBe Set((1, null), (2, "x"))
    // time travel to the pre-evolution root reads the OLD schema
    PartitionSnapshots.read(spark, path, asOf = 1L)
      .columns.toSet shouldBe Set("k", "part", "v")
  }

  test("equality delete hides rows without touching data files; time travel serves them") {
    val path = tmpDir("pmandel") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p1", 20), (3, "p2", 30)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val preDelete = PartitionSnapshots.rootVersions(spark, path).max
    val p1Files = new java.io.File(s"$path/part=p1/_versions/v00000001")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    PartitionSnapshots.deleteKeys(spark, path,
      Seq(Tuple1(2)).toDF("k")) shouldBe true
    // the delete is merge-on-read: visible rows shrink, no data file moved
    byKey(path) shouldBe Map(1 -> (("p1", 10)), 3 -> (("p2", 30)))
    new java.io.File(s"$path/part=p1/_versions/v00000001")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      .toSet shouldBe p1Files
    // only the touched partition carries the ref; the untouched one is
    // pinned at its old state byte-for-byte
    val states = PartitionSnapshots.rootManifest(spark, path).get
    states("part=p1") should include("+d")
    states("part=p2") should not include "+d"
    // time travel to the pre-delete root still serves the deleted key
    PartitionSnapshots.read(spark, path, asOf = preDelete)
      .where($"k" === 2).count() shouldBe 1L
  }

  test("a rewrite materializes pending deletes; a re-upserted key is visible again") {
    val path = tmpDir("pmandelseq") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p1", 20), (3, "p2", 30)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.deleteKeys(spark, path, Seq(Tuple1(2)).toDF("k"))
    // MERGE re-inserting the deleted key: the touched partition's rewrite
    // reads delete-applied data, commits a PLAIN state, and the new row
    // is NOT re-suppressed (Iceberg's sequence rule: an equality delete
    // applies only to data sequenced before it)
    Upsert.upsert(spark, path, Seq((2, "p1", 21)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    byKey(path) shouldBe
      Map(1 -> (("p1", 10)), 2 -> (("p1", 21)), 3 -> (("p2", 30)))
    PartitionSnapshots.rootManifest(spark, path)
      .get("part=p1") should not include "+d"
  }

  test("compaction always rewrites delete-pending partitions and reaps dead delete files") {
    val path = tmpDir("pmandelcmp") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p1", 20), (3, "p2", 30)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"),
      retainVersions = 1)
    PartitionSnapshots.deleteKeys(spark, path, Seq(Tuple1(1)).toDF("k"),
      retainVersions = 1)
    new java.io.File(s"$path/_deletes/d00000001").exists() shouldBe true
    // p1 holds ONE file (<= minFiles) yet compaction must rewrite it —
    // that is what materializes the delete and frees the delete file
    val report = PartitionSnapshots.compact(spark, path, minFiles = 4,
      retainVersions = 1)
    report.keySet shouldBe Set("part=p1")
    byKey(path) shouldBe Map(2 -> (("p1", 20)), 3 -> (("p2", 30)))
    PartitionSnapshots.rootManifest(spark, path)
      .get("part=p1") should not include "+d"
    // the delete file SURVIVES the compaction: the post-compaction root is
    // a delta whose retained parent chain still references it — a delete
    // id is never reaped while any resolvable root version names it
    new java.io.File(s"$path/_deletes/d00000001").exists() shouldBe true
    // (with retainVersions=1 the PARTITION retention already expired the
    // version that old root pins, so resolving it fails LOUDLY — the
    // expire-snapshots contract a too-slow reader gets everywhere here)
    an[Exception] should be thrownBy
      PartitionSnapshots.read(spark, path, asOf = 2L).count()
    // drive the chain past a full-manifest rebase so retention drops the
    // referencing parents — only then is the delete file reapable
    (1 to PartitionSnapshots.RebaseEvery).foreach { i =>
      Upsert.upsert(spark, path, Seq((3, "p2", 30 + i)).toDF("k", "part", "v"),
        Seq("k"), partitionCols = Seq("part"), retainVersions = 1)
    }
    PartitionSnapshots.vacuumDeletes(spark, path)
    new java.io.File(s"$path/_deletes/d00000001").exists() shouldBe false
    // a second compaction finds nothing to do
    PartitionSnapshots.compact(spark, path, minFiles = 4,
      retainVersions = 1) shouldBe Map.empty
  }

  test("changelog between pre- and post-delete roots is exactly the deleted rows") {
    val path = tmpDir("pmandelcdc") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p1", 20), (3, "p2", 30)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val v1 = PartitionSnapshots.rootVersions(spark, path).max
    PartitionSnapshots.deleteKeys(spark, path, Seq(Tuple1(2)).toDF("k"))
    val v2 = PartitionSnapshots.rootVersions(spark, path).max
    val feed = PartitionSnapshots.changes(spark, path, v1, v2)
      .select("change_type", "k").as[(String, Int)].collect().toSet
    feed shouldBe Set(("delete", 2))
  }

  test("deleteKeys guards: partition-column keys refused, unmatched keys a no-op") {
    val path = tmpDir("pmandelguard") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.deleteKeys(spark, path, Seq(Tuple1("p1")).toDF("part"))
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.deleteKeys(spark, path, Seq(Tuple1(9)).toDF("nope"))
    val before = PartitionSnapshots.rootVersions(spark, path)
    // keys matching nothing publish nothing — no new root, no delete file
    PartitionSnapshots.deleteKeys(spark, path,
      Seq(Tuple1(999)).toDF("k")) shouldBe false
    PartitionSnapshots.rootVersions(spark, path) shouldBe before
    new java.io.File(s"$path/_deletes").listFiles() match {
      case null  => succeed
      case files => files.count(!_.getName.startsWith(".")) shouldBe 0
    }
  }

  test("WAP audits validate the delete-applied would-be snapshot") {
    import graft.operators.Expectations
    val path = tmpDir("pmandelwap") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10), (2, "p1", -5)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.deleteKeys(spark, path, Seq(Tuple1(2)).toDF("k"))
    // the rule rejects negative v; the only negative row is DELETED, so
    // the audit must pass — it validates what readers would actually scan
    Upsert.upsert(spark, path, Seq((3, "p2", 30)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"),
      audit = Some(df => Expectations.check(df, Seq(
        Expectations.Satisfies("v_nonneg",
          org.apache.spark.sql.functions.col("v") >= 0)))))
    byKey(path) shouldBe Map(1 -> (("p1", 10)), 3 -> (("p2", 30)))
  }

  test("partition-spec evolution: old layout stays readable, new commits use the new spec") {
    val path = tmpDir("pspecevo") + "/t"
    // spec (date): hour is an ordinary DATA column of the old files
    val seed = Seq((1, "2024-01-01", 3, 10), (2, "2024-01-01", 7, 20),
      (3, "2024-01-02", 5, 30)).toDF("k", "date", "hour", "v")
    Upsert.upsert(spark, path, seed, Seq("k"), partitionCols = Seq("date"))
    PartitionSnapshots.evolvePartitionSpec(spark, path, Seq("date", "hour"))
    PartitionSnapshots.partitionCols(spark, path) shouldBe Seq("date", "hour")
    // the old layout is still the whole table; hour comes from the files
    val v1rows = Upsert.read(spark, path)
      .select("k", "hour", "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    v1rows shouldBe Set((1, 3, 10), (2, 7, 20), (3, 5, 30))
    // new-spec commit: inserts land under date=…/hour=… dirs
    Upsert.upsert(spark, path,
      Seq((4, "2024-01-02", 9, 40)).toDF("k", "date", "hour", "v"),
      Seq("k"), partitionCols = Seq("date", "hour"))
    val m2 = PartitionSnapshots.rootManifest(spark, path).get
    m2.keySet should contain("date=2024-01-02/hour=9")
    m2.keySet should contain("date=2024-01-01") // old-spec state in place
    // union read across layouts: every row, hour correct on both sides
    val got = Upsert.read(spark, path).select("k", "hour", "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    got shouldBe Set((1, 3, 10), (2, 7, 20), (3, 5, 30), (4, 9, 40))
    // time travel BEFORE the evolution still resolves
    PartitionSnapshots.read(spark, path, asOf = 1L).count() shouldBe 3L
    // post-evolution MERGE of a key living in an OLD-spec partition:
    // its old row must not survive as a duplicate — it migrates to the
    // new spec (lazy migration); untouched old partitions stay in place
    Upsert.upsert(spark, path,
      Seq((2, "2024-01-01", 7, 21)).toDF("k", "date", "hour", "v"),
      Seq("k"), partitionCols = Seq("date", "hour"))
    val after = Upsert.read(spark, path).select("k", "hour", "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    after shouldBe Set((1, 3, 10), (2, 7, 21), (3, 5, 30), (4, 9, 40))
    val m3 = PartitionSnapshots.rootManifest(spark, path).get
    m3.keySet should contain("date=2024-01-01/hour=7")
    // k=3's old-spec partition was never touched by the merge
    m3("date=2024-01-02") shouldBe m2("date=2024-01-02")
    // changelog across the evolution boundary serves both layouts
    val feed = PartitionSnapshots.changes(spark, path, 2L, 3L)
      .select("k", "v", "change_type").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    feed shouldBe Set((2, 20, "delete"), (2, 21, "insert"))
    // compaction folds old-spec partitions in their own layout
    PartitionSnapshots.compact(spark, path, minFiles = 0)
    Upsert.read(spark, path).select("k", "hour", "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
      .toSet shouldBe after
  }

  test("file-scoped MERGE rewrites only intersecting files; survivors keep bytes") {
    val path = tmpDir("pfilescope") + "/t"
    // seed ONE partition as three range-disjoint files (k slices)
    val seed = (1 to 300).map(i => (i, "p1", i * 10)).toDF("k", "part", "v")
      .repartitionByRange(3, $"k")
    Upsert.upsert(spark, path, seed, Seq("k"), partitionCols = Seq("part"))
    val v1 = new java.io.File(s"$path/part=p1/_versions/v00000001")
    val before = v1.listFiles().filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => f.getName -> f.lastModified()).toMap
    before.size shouldBe 3
    // MERGE one key: exactly one file's range contains it
    Upsert.upsert(spark, path, Seq((5, "p1", 999)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val state = PartitionSnapshots.rootManifest(spark, path).get("part=p1")
    // two survivors as file-scoped tokens + the freshly sealed part
    val parts = state.split("&").toSeq
    parts.count(_.startsWith("v00000001/")) shouldBe 2
    parts.count(_.startsWith("v00000002")) shouldBe 1
    // the surviving files' paths AND mtimes are byte-untouched
    val after = v1.listFiles().filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => f.getName -> f.lastModified()).toMap
    parts.filter(_.startsWith("v00000001/")).foreach { tok =>
      val name = tok.stripPrefix("v00000001/")
      after(name) shouldBe before(name)
    }
    // full-partition replay semantics: the merged view is exact
    val got = Upsert.read(spark, path).select("k", "v").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    got.size shouldBe 300
    got(5) shouldBe 999
    got(4) shouldBe 40
    got(300) shouldBe 3000
    // metadata row count stays exact across the file-scoped commit
    PartitionSnapshots.rowCount(spark, path) shouldBe Some(300L)
    // $files parity: the listed data files are exactly the survivors +
    // the new part's files, and time travel to v1 still resolves
    val files = PartitionSnapshots.filesMeta(spark, path)
      .where($"content" === "data").select("part").collect()
      .map(_.getString(0))
    files.count(_.startsWith("v00000001/")) shouldBe 2
    files.exists(_.startsWith("v00000002")) shouldBe true
    PartitionSnapshots.read(spark, path, asOf = 1L).count() shouldBe 300L
    // changelog between the roots is exactly the one changed row
    val feed = PartitionSnapshots.changes(spark, path, 1L, 2L)
      .select("k", "v", "change_type").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    feed shouldBe Set((5, 50, "delete"), (5, 999, "insert"))
    // stats-pruned reads keep working over the mixed file/dir state
    PartitionSnapshots.readWhereBetween(spark, path, "k", 4.0, 6.0)
      .count() shouldBe 3L
    // equality delete over a survivor file's key range: merge-on-read
    PartitionSnapshots.deleteKeys(spark, path,
      Seq(250).toDF("k")) shouldBe true
    Upsert.read(spark, path).count() shouldBe 299L
    // and a later file-scoped MERGE materializes it only where it rewrites
    Upsert.upsert(spark, path, Seq((251, "p1", -1)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val end = Upsert.read(spark, path).select("k", "v").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    end.get(250) shouldBe None
    end(251) shouldBe -1
    end.size shouldBe 299
  }

  test("file-scoped MERGE point-set pruning keeps files in key gaps") {
    val path = tmpDir("pfsgap") + "/t"
    val seed = (1 to 300).map(i => (i, "p1", i * 10)).toDF("k", "part", "v")
      .repartitionByRange(3, $"k")
    Upsert.upsert(spark, path, seed, Seq("k"), partitionCols = Seq("part"))
    // merge the two EXTREMES: the interval [2, 299] covers every file,
    // but the point set {2, 299} leaves the middle file's range in a
    // gap — it must survive untouched
    Upsert.upsert(spark, path,
      Seq((2, "p1", -2), (299, "p1", -299)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val state = PartitionSnapshots.rootManifest(spark, path).get("part=p1")
    val parts = state.split("&").toSeq
    parts.count(_.startsWith("v00000001/")) shouldBe 1 // the middle file
    val got = Upsert.read(spark, path).select("k", "v").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    got.size shouldBe 300
    got(2) shouldBe -2
    got(299) shouldBe -299
    got(150) shouldBe 1500
  }

  test("file-scoped MERGE prunes on STRING keys (sha-style ids)") {
    val path = tmpDir("pfsstr") + "/t"
    // string surrogate ids — the reference's key scheme (sha-256 hex)
    val seed = (1 to 300)
      .map(i => (f"id$i%05d", "p1", i)).toDF("k", "part", "v")
      .repartitionByRange(3, $"k")
    Upsert.upsert(spark, path, seed, Seq("k"), partitionCols = Seq("part"))
    // one key in the FIRST lexicographic slice: the other two files'
    // string bounds provably exclude it and must survive by token
    Upsert.upsert(spark, path,
      Seq(("id00005", "p1", -5)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val parts = PartitionSnapshots.rootManifest(spark, path)
      .get("part=p1").split("&").toSeq
    parts.count(_.startsWith("v00000001/")) shouldBe 2
    val got = Upsert.read(spark, path).select("k", "v").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    got.size shouldBe 300
    got("id00005") shouldBe -5
    got("id00300") shouldBe 300
    // a NON-ASCII source key disables string pruning (byte-vs-char
    // order risk) — whole-partition fallback, still exact
    Upsert.upsert(spark, path,
      Seq(("idééx", "p1", 999)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val after = Upsert.read(spark, path).select("k", "v").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    after.size shouldBe 301
    after("idééx") shouldBe 999
    after("id00005") shouldBe -5
  }

  test("file-scoped survivors protect their version dirs from retention") {
    val path = tmpDir("pfsretain") + "/t"
    val seed = (1 to 300).map(i => (i, "p1", i)).toDF("k", "part", "v")
      .repartitionByRange(3, $"k")
    Upsert.upsert(spark, path, seed, Seq("k"), partitionCols = Seq("part"))
    // churn many single-key merges well past retainVersions: v00000001
    // still holds live survivor files and must never be vacuumed
    (1 to 6).foreach { i =>
      Upsert.upsert(spark, path, Seq((i, "p1", -i)).toDF("k", "part", "v"),
        Seq("k"), partitionCols = Seq("part"), retainVersions = 2)
    }
    val got = Upsert.read(spark, path).select("k", "v").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    got.size shouldBe 300
    (1 to 6).foreach(i => got(i) shouldBe -i)
    got(300) shouldBe 300
    // compaction folds the accumulated file tokens back to one dir
    PartitionSnapshots.compact(spark, path)
    val state = PartitionSnapshots.rootManifest(spark, path).get("part=p1")
    state.split("&").length shouldBe 1
    Upsert.read(spark, path).count() shouldBe 300L
  }

  test("small-file compaction folds only files under the threshold") {
    val path = tmpDir("psmallfc") + "/t"
    // one big base file + three KB-sized appended parts
    val big = (1 to 5000).map(i => (i, "p1", i)).toDF("k", "part", "v")
      .coalesce(1)
    Upsert.append(spark, path, big, Seq("part"))
    (1 to 3).foreach(i => Upsert.append(spark, path,
      Seq((100000 + i, "p1", i)).toDF("k", "part", "v"), Seq("part")))
    val v1 = new java.io.File(s"$path/part=p1/_versions/v00000001")
    val bigFile = v1.listFiles().filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .head
    bigFile.length() should be > 8000L
    val mtime = bigFile.lastModified()
    val res = PartitionSnapshots.compact(spark, path, minFiles = 0,
      smallFileBytes = 8000L)
    // three small parts folded to one; the big part SURVIVED whole (its
    // dir holds no small file — original token, zero state churn)
    res("part=p1") shouldBe ((4, 2))
    val state = PartitionSnapshots.rootManifest(spark, path).get("part=p1")
    state should startWith("v00000001&")
    bigFile.lastModified() shouldBe mtime
    Upsert.read(spark, path).count() shouldBe 5003L
    // steady state: nothing small remains, the next run is a no-op
    PartitionSnapshots.compact(spark, path, minFiles = 0,
      smallFileBytes = 8000L) shouldBe Map.empty
    // a 1-key MERGE into the SMALL part leaves the big part surviving
    // whole; the next selective run has one lone small file — churn,
    // not a fold — and stays a no-op (steady state holds post-merge)
    Upsert.upsert(spark, path,
      Seq((100001, "p1", -1)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.rootManifest(spark, path)
      .get("part=p1") should startWith("v00000001&")
    bigFile.lastModified() shouldBe mtime
    // the merge staged its part as two small files → one more genuine
    // fold (3 files → big + 1), then steady state: a lone small file is
    // churn, not a fold, and stays untouched
    PartitionSnapshots.compact(spark, path, minFiles = 0,
      smallFileBytes = 8000L) shouldBe Map("part=p1" -> ((3, 2)))
    bigFile.lastModified() shouldBe mtime
    PartitionSnapshots.compact(spark, path, minFiles = 0,
      smallFileBytes = 8000L) shouldBe Map.empty
    Upsert.read(spark, path).count() shouldBe 5003L
    Upsert.read(spark, path).where($"k" === 100001)
      .select("v").collect()(0).getInt(0) shouldBe -1
  }

  test("stats encoding survives a data column literally named 'rows'") {
    val path = tmpDir("prowscol") + "/t"
    // before the c.-namespace fix, the column's min,max entry collided
    // with the row-count key and decodeStats threw NumberFormatException
    Upsert.upsert(spark, path,
      Seq((1, "p1", 5L), (2, "p2", 7L)).toDF("k", "part", "rows"),
      Seq("k"), partitionCols = Seq("part"))
    // fast append exercises the stats-MERGE path (decode prior + encode)
    Upsert.append(spark, path,
      Seq((3, "p1", 9L)).toDF("k", "part", "rows"), Seq("part"))
    PartitionSnapshots.rowCount(spark, path) shouldBe Some(3L)
    val stats = PartitionSnapshots.rootStats(spark, path)
    stats.values.map(_.rows).sum shouldBe 3L
    stats("part=p1").cols.keySet should contain("rows")
    // stats-pruned range scan on the colliding column still answers
    PartitionSnapshots.readWhereBetween(spark, path, "rows", 6.0, 10.0)
      .select("k").collect().map(_.getInt(0)).sorted shouldBe Array(2, 3)
    PartitionSnapshots.partitionsMeta(spark, path).count() shouldBe 2L
  }

  test("branch append aligns against the branch head's evolved schema") {
    val path = tmpDir("pbrappevo") + "/t"
    Upsert.upsert(spark, path, Seq((1, "p1", 10)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.createBranch(spark, path, "evo")
    Upsert.upsert(spark, path,
      Seq((2, "p1", 20, "x")).toDF("k", "part", "v", "tag"),
      Seq("k"), partitionCols = Seq("part"), evolveSchema = true,
      branch = Some("evo"))
    // a later branch append WITH the evolved column must validate
    // against the branch head (main lacks 'tag' — aligning against main
    // would reject this append or silently drop the column)
    Upsert.append(spark, path,
      Seq((3, "p2", 30, "y")).toDF("k", "part", "v", "tag"),
      Seq("part"), branch = Some("evo"))
    val rows = PartitionSnapshots.readBranch(spark, path, "evo")
      .select("k", "tag").collect()
      .map(r => r.getInt(0) -> Option(r.getString(1))).toMap
    rows shouldBe Map(1 -> None, 2 -> Some("x"), 3 -> Some("y"))
    // main stays untouched and un-evolved until the fast-forward
    Upsert.read(spark, path).columns should not contain "tag"
    PartitionSnapshots.fastForwardRoot(spark, path, "evo")
    Upsert.read(spark, path).where($"k" === 3)
      .select("tag").collect()(0).getString(0) shouldBe "y"
  }

  test("overwritePartitions: a subset-schema df never shrinks the pinned " +
      "union; type change refuses") {
    val path = tmpDir("ovrpin") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 1.0, "a"), (2, "p2", 2.0, "b"))
        .toDF("k", "part", "v", "extra"),
      Seq("k"), partitionCols = Seq("part"))
    // direct API overwrite of p1 with a df LACKING `extra`
    PartitionSnapshots.overwritePartitions(spark, path,
      Seq((10, "p1", 10.0)).toDF("k", "part", "v"))
    val out = Upsert.read(spark, path)
    // the untouched partition still serves its column; the overwritten
    // one reads it as NULL through the pinned union
    out.columns.toSet shouldBe Set("k", "part", "v", "extra")
    out.where($"k" === 2).head().getAs[String]("extra") shouldBe "b"
    out.where($"k" === 10).head().getAs[String]("extra") shouldBe null
    // a NEW column rides the union additively
    PartitionSnapshots.overwritePartitions(spark, path,
      Seq((20, "p2", 20.0, 7L)).toDF("k", "part", "v", "n"))
    val out2 = Upsert.read(spark, path)
    out2.columns.toSet shouldBe Set("k", "part", "v", "extra", "n")
    assert(out2.where($"k" === 10).head().isNullAt(
      out2.columns.indexOf("n")))
    // a TYPE change on a shared column fails loudly
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.overwritePartitions(spark, path,
        Seq((30, "p1", "oops")).toDF("k", "part", "v"))
  }

  test("tableRowSchema partition typing matches the read frame " +
      "(decimal-wide and timestamp dirs included)") {
    val path = tmpDir("rowschema") + "/t"
    // dir values: one beyond-long integer (decimal inference) per
    // Spark's partition discovery, plus ordinary string partitions
    Upsert.upsert(spark, path,
      Seq(("99999999999999999999", 1, 1.0), ("12345678901234567890123", 2, 2.0))
        .toDF("big", "k", "v"),
      Seq("k"), partitionCols = Seq("big"))
    val meta = PartitionSnapshots.tableRowSchema(spark, path).get
    val frame = Upsert.read(spark, path).schema
    meta("big").dataType shouldBe frame("big").dataType
    meta("big").dataType.typeName should startWith("decimal")
    // timestamp-shaped dirs type as TIMESTAMP, same as discovery
    val tp = tmpDir("rowschemats") + "/t"
    Upsert.upsert(spark, tp,
      Seq(("2024-01-01 10:11:12", 1, 1.0)).toDF("ts", "k", "v"),
      Seq("k"), partitionCols = Seq("ts"))
    val metaT = PartitionSnapshots.tableRowSchema(spark, tp).get
    metaT("ts").dataType shouldBe
      Upsert.read(spark, tp).schema("ts").dataType
  }

  test("evolvePartitionSpec takes the writer lease: refused while held, marker unchanged") {
    val path = tmpDir("pspeclease") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "2024-01-01", 3, 10)).toDF("k", "date", "hour", "v"),
      Seq("k"), partitionCols = Seq("date"))
    val marker = java.nio.file.Paths.get(s"$path/_partition_manifests")
    val before = java.nio.file.Files.readString(marker)
    val token = Upsert.acquireLock(spark, path, Upsert.DefaultLockTtlMs)
    try {
      an[Upsert.ConcurrentWriteException] should be thrownBy
        PartitionSnapshots.evolvePartitionSpec(spark, path, Seq("date", "hour"))
      java.nio.file.Files.readString(marker) shouldBe before
      new java.io.File(s"$path/_partition_specs").exists() shouldBe false
    } finally Upsert.releaseLock(spark, path, token)
    // once the lease is free the evolution goes through
    PartitionSnapshots.evolvePartitionSpec(spark, path, Seq("date", "hour"))
    PartitionSnapshots.partitionCols(spark, path) shouldBe Seq("date", "hour")
  }
}
