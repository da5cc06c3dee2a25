package graft

import org.apache.spark.sql.functions._

import graft.operators.Upsert
import graft.sources.PartitionSnapshots

/** Optimistic multi-writer commits — Iceberg's CAS loop over the
  * manifested root chain: writers touching DISJOINT partitions both
  * commit (the second rebases onto the winner's head); writers whose
  * partitions overlap conflict LOUDLY instead of silently losing one
  * side's rows. Covers [[Upsert.upsertOptimistic]] and
  * [[PartitionSnapshots.fastForwardRoot]]'s `rebase = true` leg. */
class OptimisticCommitSpec extends SparkSpec {
  import spark.implicits._

  private def seedTable(dir: String): String = {
    val path = s"$dir/t"
    Upsert.upsert(spark,
      path,
      Seq((1, "p1", 10.0), (2, "p2", 20.0), (3, "p3", 30.0))
        .toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    path
  }

  private def rows(path: String): Set[(Int, String, Double)] =
    Upsert.read(spark, path).collect().map(r =>
      (r.getAs[Int]("k"), r.getAs[String]("part"), r.getAs[Double]("v"))).toSet

  test("two CONCURRENT writers to disjoint partitions both commit") {
    val path = seedTable(tmpDir("optc"))
    val base = PartitionSnapshots.currentRootVersion(spark, path).get
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(df: org.apache.spark.sql.DataFrame): Thread = {
      val t = new Thread(() =>
        try Upsert.upsertOptimistic(spark, path, df, Seq("k"),
          partitionCols = Seq("part"), baseVersion = Some(base))
        catch { case e: Throwable => errs.add(e) })
      t.start(); t
    }
    // A updates p1's key, B inserts a new key into p2 — disjoint rels.
    // Both race the lease from the same base snapshot; the loser must
    // wait, validate disjointness against the winner's commit, and land.
    val a = writer(Seq((1, "p1", 11.0)).toDF("k", "part", "v"))
    val b = writer(Seq((4, "p2", 40.0)).toDF("k", "part", "v"))
    a.join(60000); b.join(60000)
    errs.isEmpty shouldBe (true)
    rows(path) shouldBe Set((1, "p1", 11.0), (2, "p2", 20.0),
      (3, "p3", 30.0), (4, "p2", 40.0))
    // linearizable root chain: exactly two commits on top of the base,
    // and the combined changelog is exactly the two writers' rows
    val head = PartitionSnapshots.currentRootVersion(spark, path).get
    head shouldBe base + 2
    val feed = PartitionSnapshots.changes(spark, path, base, head)
      .where(col("change_type") === "insert")
      .collect().map(r => (r.getAs[Int]("k"), r.getAs[Double]("v"))).toSet
    feed shouldBe Set((1, 11.0), (4, 40.0))
  }

  test("overlapping optimistic writer conflicts loudly, table intact") {
    val path = seedTable(tmpDir("optx"))
    val base = PartitionSnapshots.currentRootVersion(spark, path).get
    // a winner advances p1 past this writer's base
    Upsert.upsert(spark, path, Seq((1, "p1", 12.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val before = rows(path)
    // same-partition second writer: must refuse, not silently replace
    // the winner's row with one derived from a stale snapshot
    an[Upsert.CommitConflictException] should be thrownBy
      Upsert.upsertOptimistic(spark, path,
        Seq((9, "p1", 90.0)).toDF("k", "part", "v"), Seq("k"),
        partitionCols = Seq("part"), baseVersion = Some(base))
    rows(path) shouldBe before
    // a MATCHED key counts as touching the partition it lives in even
    // when the source row targets another partition (the key migrates)
    an[Upsert.CommitConflictException] should be thrownBy
      Upsert.upsertOptimistic(spark, path,
        Seq((1, "p3", 13.0)).toDF("k", "part", "v"), Seq("k"),
        partitionCols = Seq("part"), baseVersion = Some(base))
    // disjoint partitions from the same stale base still commit fine
    Upsert.upsertOptimistic(spark, path,
      Seq((5, "p2", 50.0)).toDF("k", "part", "v"), Seq("k"),
      partitionCols = Seq("part"), baseVersion = Some(base))
    rows(path) shouldBe before + ((5, "p2", 50.0))
  }

  test("branch rebase-and-publish: disjoint partitions graft onto advanced main") {
    val path = seedTable(tmpDir("optb"))
    PartitionSnapshots.createBranch(spark, path, "staging")
    // branch stages p2; main advances on p1 meanwhile
    Upsert.upsert(spark, path, Seq((4, "p2", 40.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"), branch = Some("staging"))
    Upsert.upsert(spark, path, Seq((1, "p1", 11.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val mainBefore = PartitionSnapshots.currentRootVersion(spark, path).get
    // the plain fast-forward still refuses a diverged main
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.fastForwardRoot(spark, path, "staging")
    // the rebase leg validates disjointness and publishes ONE new commit
    val newMain =
      PartitionSnapshots.fastForwardRoot(spark, path, "staging", rebase = true)
    newMain shouldBe mainBefore + 1
    PartitionSnapshots.currentRootVersion(spark, path).get shouldBe newMain
    rows(path) shouldBe Set((1, "p1", 11.0), (2, "p2", 20.0),
      (3, "p3", 30.0), (4, "p2", 40.0))
    // provenance props on the rebased commit; branch re-pointed and usable
    val props = PartitionSnapshots.rootProps(spark, path)
    props.get("graft.rebase.branch") shouldBe Some("staging")
    PartitionSnapshots.rootBranches(spark, path)("staging") shouldBe newMain
    // the changelog of the rebased commit is exactly the branch's delta
    PartitionSnapshots.changes(spark, path, mainBefore, newMain)
      .where(col("change_type") === "insert")
      .collect().map(_.getAs[Int]("k")).toSet shouldBe Set(4)
    // time travel to the pre-rebase main still serves main's own line
    Upsert.read(spark, path).count() shouldBe 4
    PartitionSnapshots.read(spark, path, asOf = mainBefore)
      .collect().map(_.getAs[Int]("k")).toSet shouldBe Set(1, 2, 3)
  }

  test("serializable validation: a winner's DELETE of the matched key conflicts a stale writer") {
    val path = seedTable(tmpDir("optdel"))
    val base = PartitionSnapshots.currentRootVersion(spark, path).get
    // the winner ERASES key 1 from p1 (equality-delete commit)
    PartitionSnapshots.deleteKeys(spark, path,
      Seq(1).toDF("k")) shouldBe true
    // a stale-based writer MIGRATES key 1 into p3: at the CURRENT head
    // the key matches nothing (own partitions = {p3}, disjoint from the
    // winner's p1), so head-only validation would commit — silently
    // re-inserting the row the winner just erased. Locating the matched
    // key at the writer's BASE snapshot puts p1 in the touched set,
    // where the winner's change conflicts (Iceberg's delete-conflict
    // check: serializable, not just snapshot isolation).
    an[Upsert.CommitConflictException] should be thrownBy
      Upsert.upsertOptimistic(spark, path,
        Seq((1, "p3", 99.0)).toDF("k", "part", "v"), Seq("k"),
        partitionCols = Seq("part"), baseVersion = Some(base))
    // the erased key stays erased
    Upsert.read(spark, path).where(col("k") === 1).count() shouldBe 0L
  }

  test("two CONCURRENT optimistic appenders to the SAME partition both commit") {
    val path = seedTable(tmpDir("optapp"))
    val base = PartitionSnapshots.currentRootVersion(spark, path).get
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def appender(df: org.apache.spark.sql.DataFrame): Thread = {
      val t = new Thread(() =>
        try Upsert.appendOptimistic(spark, path, df, Seq("part"))
        catch { case e: Throwable => errs.add(e) })
      t.start(); t
    }
    // same partition AND a disjoint one — appends compose everywhere
    val a = appender(Seq((10, "p1", 100.0)).toDF("k", "part", "v"))
    val b = appender(Seq((11, "p1", 110.0), (12, "p2", 120.0))
      .toDF("k", "part", "v"))
    a.join(60000); b.join(60000)
    errs.isEmpty shouldBe true
    rows(path) shouldBe Set((1, "p1", 10.0), (2, "p2", 20.0),
      (3, "p3", 30.0), (10, "p1", 100.0), (11, "p1", 110.0),
      (12, "p2", 120.0))
    // linearizable root chain: two commits, each folded onto the prior
    val head = PartitionSnapshots.currentRootVersion(spark, path).get
    head shouldBe base + 2
    // p1 carries the seed part plus BOTH appended parts
    PartitionSnapshots.rootManifest(spark, path).get
      .apply("part=p1").split("&").length shouldBe 3
    // the combined changelog nets exactly the appended rows
    PartitionSnapshots.changes(spark, path, base, head)
      .where(col("change_type") === "insert")
      .collect().map(_.getAs[Int]("k")).toSet shouldBe Set(10, 11, 12)
  }

  test("optimistic appender waits out a live lease holder instead of failing") {
    val path = seedTable(tmpDir("optwait"))
    // simulate a batch MERGE mid-commit: hold the lease for a moment
    val token = Upsert.acquireLock(spark, path, Upsert.DefaultLockTtlMs)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val t = new Thread(() =>
      try Upsert.appendOptimistic(spark, path,
        Seq((10, "p1", 100.0)).toDF("k", "part", "v"), Seq("part"))
      catch { case e: Throwable => errs.add(e) })
    t.start()
    // the plain append fails fast on the same live lease
    an[Upsert.ConcurrentWriteException] should be thrownBy
      Upsert.append(spark, path,
        Seq((11, "p2", 110.0)).toDF("k", "part", "v"), Seq("part"))
    Thread.sleep(1500)
    Upsert.releaseLock(spark, path, token)
    t.join(60000)
    errs.isEmpty shouldBe true
    Upsert.read(spark, path).where(col("k") === 10).count() shouldBe 1L
  }

  test("branch rebase refuses overlapping partitions loudly") {
    val path = seedTable(tmpDir("optbx"))
    PartitionSnapshots.createBranch(spark, path, "staging")
    // both lines touch p1
    Upsert.upsert(spark, path, Seq((9, "p1", 90.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"), branch = Some("staging"))
    Upsert.upsert(spark, path, Seq((1, "p1", 11.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val before = rows(path)
    an[Upsert.CommitConflictException] should be thrownBy
      PartitionSnapshots.fastForwardRoot(spark, path, "staging", rebase = true)
    // main is untouched; the branch survives for re-fork-and-re-apply
    rows(path) shouldBe before
    PartitionSnapshots.readBranch(spark, path, "staging")
      .collect().map(_.getAs[Int]("k")).toSet shouldBe Set(1, 2, 3, 9)
  }
}
