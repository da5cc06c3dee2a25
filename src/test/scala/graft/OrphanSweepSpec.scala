package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.Upsert
import graft.sources.{PartitionSnapshots, Snapshots}

/** Orphan-file sweep ([[PartitionSnapshots.removeOrphans]] — Iceberg's
  * remove_orphan_files): a writer that dies between STAGING and COMMIT
  * leaves never-referenced version dirs and tmp files the commit-path
  * cleanups can't reach (they only run for partitions later commits
  * touch). The sweep must remove exactly those — and nothing any
  * retained root, tag, or branch still resolves. */
class OrphanSweepSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(p: String) = new Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Age a path below the sweep's TTL cutoff. */
  private def makeCold(p: String): Unit = {
    val f = fsOf(p)
    f.setTimes(new Path(p), System.currentTimeMillis() - 48L * 3600 * 1000, -1)
  }

  /** Inject the debris of a writer that crashed between sealing its
    * partition slots and publishing the root: a sealed-but-unrooted
    * version slot in p1, a staged `_staging-*` root, and a stray
    * root-chain staging dir. Returns their table-relative paths. */
  private def injectCrashDebris(path: String): Seq[String] = {
    val f = fsOf(path)
    // sealed-but-unrooted slot (complete data + _SUCCESS, no root names it)
    val orphanSlot = s"part=p1/_versions/v00000077"
    Seq((99, "p1", 9.9)).toDF("k", "part", "v").coalesce(1)
      .write.parquet(s"$path/$orphanSlot")
    f.create(new Path(s"$path/$orphanSlot/_SUCCESS"), true).close()
    // abandoned staging root
    val staging = "_staging-deadbeef"
    f.mkdirs(new Path(s"$path/$staging"))
    // root-chain staging debris
    val rootStaging = "_root/_versions/.staging-deadbeef"
    f.mkdirs(new Path(s"$path/$rootStaging"))
    val all = Seq(orphanSlot, staging, rootStaging)
    all.foreach(rel => makeCold(s"$path/$rel"))
    all
  }

  test("sweep removes exactly the crashed writer's debris; table content unchanged") {
    val path = tmpDir("orph") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 1.0), (2, "p2", 2.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val before = Upsert.read(spark, path).collect().toSet
    val debris = injectCrashDebris(path)
    // dry run lists the debris, deletes nothing
    val dry = PartitionSnapshots.removeOrphans(spark, path, dryRun = true)
    dry.toSet shouldBe debris.toSet
    debris.foreach(rel =>
      assert(fsOf(path).exists(new Path(s"$path/$rel")), s"dryRun deleted $rel"))
    // real sweep removes exactly the debris
    val swept = PartitionSnapshots.removeOrphans(spark, path)
    swept.toSet shouldBe debris.toSet
    debris.foreach(rel =>
      assert(!fsOf(path).exists(new Path(s"$path/$rel")), s"sweep missed $rel"))
    Upsert.read(spark, path).collect().toSet shouldBe before
    // idempotent: nothing left to sweep
    PartitionSnapshots.removeOrphans(spark, path) shouldBe Nil
  }

  test("young debris survives the TTL guard") {
    val path = tmpDir("orphy") + "/t"
    Upsert.upsert(spark, path, Seq((1, "p1", 1.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val f = fsOf(path)
    f.mkdirs(new Path(s"$path/_staging-young"))
    PartitionSnapshots.removeOrphans(spark, path) shouldBe Nil
    assert(f.exists(new Path(s"$path/_staging-young")))
  }

  test("tagged and branch-pinned versions are never orphans") {
    val path = tmpDir("orphtag") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 1.0), (2, "p2", 2.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.tagRoot(spark, path, "train-v1")
    // a branch commit stages a slot only the branch's root names
    PartitionSnapshots.createBranch(spark, path, "wip")
    Upsert.upsert(spark, path, Seq((3, "p1", 3.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"), branch = Some("wip"))
    // advance main so the tagged root is no longer current
    Upsert.upsert(spark, path, Seq((2, "p2", 2.5)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // age EVERYTHING: only genuinely unreferenced artifacts may go
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
      .foreach(p => makeCold(p.toString))
    PartitionSnapshots.removeOrphans(spark, path) shouldBe Nil
    // the pinned states still read
    PartitionSnapshots.readTag(spark, path, "train-v1")
      .count() shouldBe 2L
    PartitionSnapshots.readBranch(spark, path, "wip").count() shouldBe 3L
    Upsert.read(spark, path).where(col("k") === 2)
      .select("v").head().getDouble(0) shouldBe 2.5
  }

  test("slots only EXPIRED roots named are reclaimed; retained history still reads") {
    val path = tmpDir("orphexp") + "/t"
    // low retention so old roots (and the slots only they name) expire
    for (i <- 1 to 6)
      Upsert.upsert(spark, path, Seq((1, "p1", i * 1.0)).toDF("k", "part", "v"),
        Seq("k"), partitionCols = Seq("part"),
        retainVersions = 2)
    import scala.jdk.CollectionConverters._
    // which roots resolve END-TO-END before the sweep? (commit-time
    // count retention may already have expired old roots' data — the
    // documented expire-snapshots contract: old roots fail LOUDLY)
    val roots = Snapshots.versions(spark, s"$path/_root")
    def resolvable(): Set[Long] = roots.filter { v =>
      scala.util.Try(
        PartitionSnapshots.read(spark, path, asOf = v).count()).isSuccess
    }.toSet
    val before = resolvable()
    java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
      .foreach(p => makeCold(p.toString))
    val swept = PartitionSnapshots.removeOrphans(spark, path)
    // the sweep never shrinks what resolves: every root that read
    // before still reads, the head still serves the latest value
    resolvable() shouldBe before
    Upsert.read(spark, path).select("v").head().getDouble(0) shouldBe 6.0
    // and re-sweeping finds nothing
    PartitionSnapshots.removeOrphans(spark, path) shouldBe Nil
    assert(swept.forall(_.contains("_versions")), s"unexpected sweeps: $swept")
  }
}
