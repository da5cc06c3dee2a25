package graft

import graft.operators.Upsert
import graft.sources.{PartitionSnapshots, Snapshots}

/** Snapshot versioning of an unpartitioned table: commit, time travel,
  * rollback, vacuum, crash fallback — the Iceberg-claimed features the
  * reference never exercises (reference README.md:100-106), native on the
  * parquet warehouse. Commits go through the one manifested route; the
  * table's data slots are the [[Snapshots]] version dirs at its root. */
class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  test("commit, read, time travel, rollback, vacuum") {
    val t = tmpDir("snap") + "/t"
    Upsert.replace(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val v1 = Snapshots.currentVersion(spark, t).get
    v1 shouldBe 1L
    Upsert.upsert(spark, t, Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
    val v2 = Snapshots.currentVersion(spark, t).get
    v2 shouldBe 2L

    // current = merged
    Snapshots.read(spark, t).orderBy("k").as[(Long, String)].collect() shouldBe
      Array((1L, "a"), (2L, "B"), (3L, "c"))
    // time travel = the pre-merge world, untouched
    Snapshots.read(spark, t, asOf = 1L).orderBy("k").as[(Long, String)].collect() shouldBe
      Array((1L, "a"), (2L, "b"))
    Snapshots.versions(spark, t) shouldBe Seq(1L, 2L)

    // rollback repoints without rewriting; a later commit continues the log
    PartitionSnapshots.rollbackRoot(spark, t, 1L)
    Upsert.read(spark, t).count() shouldBe 2
    Upsert.replace(spark, t, Seq((9L, "z")).toDF("k", "v"))
    val v3 = Snapshots.currentVersion(spark, t).get
    v3 shouldBe 3L
    Upsert.read(spark, t).count() shouldBe 1

    // vacuum keeps current + newest others; time travel to evicted fails loudly
    Snapshots.vacuum(spark, t, keep = 2)
    Snapshots.versions(spark, t) shouldBe Seq(2L, 3L)
    an[IllegalArgumentException] should be thrownBy
      Snapshots.read(spark, t, asOf = 1L)
  }

  test("reader survives a missing pointer and a crashed write") {
    val t = tmpDir("snapc") + "/t"
    Upsert.replace(spark, t, Seq((1L, "a")).toDF("k", "v"))
    Upsert.replace(spark, t, Seq((1L, "a2")).toDF("k", "v"))

    // crashed writer: version dir without _SUCCESS is invisible
    val orphan = new java.io.File(s"$t/_versions/v00000007")
    orphan.mkdirs()
    java.nio.file.Files.writeString(orphan.toPath.resolve("part-junk.parquet"), "x")
    Snapshots.versions(spark, t) shouldBe Seq(1L, 2L)
    Snapshots.read(spark, t).as[(Long, String)].collect() shouldBe Array((1L, "a2"))

    // lost pointer (crash between delete and rename): newest snapshot wins
    new java.io.File(s"$t/_current").delete() shouldBe true
    Snapshots.currentVersion(spark, t) shouldBe Some(2L)
    Snapshots.read(spark, t).as[(Long, String)].collect() shouldBe Array((1L, "a2"))

    // vacuum collects the orphan too
    Snapshots.vacuum(spark, t, keep = 1)
    new java.io.File(s"$t/_versions").listFiles().map(_.getName).sorted shouldBe
      Array("v00000002")
  }

  test("versionAt resolves along the recorded lineage, not the pointer ceiling") {
    val t = tmpDir("snapl") + "/t"
    def commit(v: Long, s: String): Long = {
      Upsert.replace(spark, t, Seq((v, s)).toDF("k", "v"))
      PartitionSnapshots.currentRootVersion(spark, t).get
    }
    commit(1L, "a") shouldBe 1L
    commit(2L, "b") shouldBe 2L
    PartitionSnapshots.rollbackRoot(spark, t, 1L)
    // the post-rollback commit allocates max+1 = 3: the abandoned v2
    // now sits BELOW the pointer, and only the lineage (3 → 1) keeps a
    // mid-window timestamp from serving the rolled-back snapshot
    commit(3L, "c") shouldBe 3L
    val now = System.currentTimeMillis()
    def pin(v: Long, ts: Long) =
      new java.io.File(s"$t/_root/_versions/v0000000$v")
        .setLastModified(ts) shouldBe true
    pin(1, now - 30000); pin(2, now - 20000); pin(3, now - 10000)
    def versionAt(ts: Long) = PartitionSnapshots.rootVersionAt(spark, t, ts)
    versionAt(now - 25000) shouldBe 1L // v1 current era
    versionAt(now - 15000) shouldBe 1L // v2's era — abandoned
    versionAt(now - 5000) shouldBe 3L
    an[IllegalArgumentException] should be thrownBy
      versionAt(now - 35000) // pre-history stays loud
    // pre-upgrade roots (no recorded parent) keep the legacy resolution
    new java.io.File(s"$t/_root/_versions/v00000003/parent").delete() shouldBe true
    versionAt(now - 15000) shouldBe 2L
  }

  test("a crashed write's orphan dir never wedges the next commit") {
    val t = tmpDir("snapw") + "/t"
    Upsert.replace(spark, t, Seq((1L, "a")).toDF("k", "v"))
    Snapshots.currentVersion(spark, t) shouldBe Some(1L)
    // crashed v2: directory exists, no _SUCCESS → invisible to readers,
    // but its number is occupied and must be skipped, not collided with
    val orphan = new java.io.File(s"$t/_versions/v00000002")
    orphan.mkdirs()
    java.nio.file.Files.writeString(orphan.toPath.resolve("part-junk.parquet"), "x")
    Upsert.replace(spark, t, Seq((1L, "b")).toDF("k", "v"))
    Snapshots.currentVersion(spark, t) shouldBe Some(3L)
    Upsert.read(spark, t).as[(Long, String)].collect() shouldBe Array((1L, "b"))
    Snapshots.versions(spark, t) shouldBe Seq(1L, 3L)
  }
}
