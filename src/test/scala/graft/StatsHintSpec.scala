package graft

import graft.operators.Upsert
import graft.sources.PartitionSnapshots

/** Manifest-stats → planner plumbing: the recorded on-disk bytes must
  * FLOOR the deferred scan's size estimate (a rows × default-width
  * estimate counts a string as 20 bytes, so a wide-string table could
  * slip under autoBroadcastJoinThreshold and broadcast itself into a
  * driver OOM), and keyed statement scans must narrow candidate
  * PARTITIONS to candidate FILES through the per-file sidecars. */
class StatsHintSpec extends SparkSpec {
  import spark.implicits._

  private def dataFileBytes(table: String): Long = {
    val root = java.nio.file.Paths.get(table)
    val s = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet") &&
          p.toString.contains("_versions") &&
          !p.toString.contains("_deletes"))
        .map(_.toFile.length()).sum
    } finally s.close()
  }

  test("recorded file bytes floor the planner size estimate for wide strings") {
    val t = tmpDir("bfloor") + "/t"
    val rnd = new scala.util.Random(7)
    // ~4 KB of incompressible text per row: the default-width estimate
    // (20 bytes/string) undercounts real size by ~200×
    val rows = (1 to 300).map(i =>
      (i, "p1", rnd.alphanumeric.take(4096).mkString))
    Upsert.upsert(spark, t, rows.toDF("k", "part", "txt"),
      Seq("k"), partitionCols = Seq("part"))

    val onDisk = dataFileBytes(t)
    onDisk should be > 500000L // sanity: the strings really are wide

    val df = Upsert.read(spark, t)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // the estimate must never sit below what the eager listing-based
    // path would have served (the on-disk bytes)
    est.toLong should be >= onDisk
    // and the floor really engaged: the pure default-width estimate is
    // tiny next to the data
    val defaultWidthEst = 300L * (8 + 4 + 20 + 20)
    est.toLong should be > defaultWidthEst * 10
  }

  test("bytes fold through stats merges and survive untouched-partition carry") {
    val t = tmpDir("bfold") + "/t"
    Upsert.upsert(spark, t,
      (1 to 50).map(i => (i, s"p${i % 2}", s"v$i")).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // a second commit touches ONE partition; the other's stats (incl.
    // bytes) carry forward as the encoded string
    Upsert.upsert(spark, t, Seq((1, "p0", "V1")).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val stats = PartitionSnapshots.rootStats(spark, t)
    stats.keySet shouldBe Set("part=p0", "part=p1")
    stats.values.foreach(_.bytes should be > 0L)
  }

  test("keyed statement scans narrow candidate partitions to candidate files") {
    val wh = tmpDir("fprune")
    val t = s"$wh/t"
    // two APPEND parts per partition with DISJOINT key ranges — the
    // partition-level bounds admit any key in [1, 400], but per-file
    // sidecars prove one part free of any single probe key
    Upsert.upsert(spark, t,
      (1 to 200).map(i => (i, "p1", i * 1.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Upsert.append(spark, t,
      (201 to 400).map(i => (i, "p1", i * 1.0)).toDF("k", "part", "v"),
      Seq("part"))

    val entries = PartitionSnapshots.rootManifest(spark, t).get
    entries("part=p1") should include("&") // really a two-part state
    val pred = PartitionSnapshots.keyExclusion(spark,
      Seq(50).toDF("k"), "k", org.apache.spark.sql.types.IntegerType).get
    val pruned = PartitionSnapshots.filePruneEntries(spark, t, entries, pred)
    // key 50 lives in the first part alone: the second part (and any
    // file in it) must be gone from the scan view
    pruned.keySet shouldBe Set("part=p1")
    val parts = pruned("part=p1").split("&")
    parts.length shouldBe 1
    // the file-scoped merge plan keeps the other side of the same split:
    // the part the scan dropped survives whole, under its own token
    val (survivors, _) = PartitionSnapshots.planFileScoped(spark, t, entries,
      Set("part=p1"), pred, None)
    survivors("part=p1").map(_._1) should contain(
      entries("part=p1").split("&")(1))
    survivors("part=p1").map(_._1) should not contain parts.head

    // a key in NO part prunes the rel away entirely
    val none = PartitionSnapshots.keyExclusion(spark,
      Seq(9999).toDF("k"), "k", org.apache.spark.sql.types.IntegerType).get
    PartitionSnapshots.filePruneEntries(spark, t, entries, none) shouldBe
      Map.empty

    // e2e: the pruned scan serves the routed statements unchanged
    val cat = new graft.sources.Catalog(spark, wh)
    cat.sql("DELETE FROM t WHERE k IN (50, 350)")
    val left = Upsert.read(spark, t)
    left.count() shouldBe 398
    left.where($"k" === 50 || $"k" === 350).count() shouldBe 0
    cat.sql("UPDATE t SET v = -1.0 WHERE k = 7")
    Upsert.read(spark, t).where($"v" === -1.0).select("k")
      .as[Int].collect() shouldBe Array(7)
  }

  test("string bounds outside printable ASCII are not recorded") {
    val t = tmpDir("asciibounds") + "/t"
    Upsert.upsert(spark, t, Seq(
      (1, "p1", "https://vnexpress.net/a-1.html", "Giá vàng tăng"),
      (2, "p1", "https://vnexpress.net/a-2.html", "Thời sự"))
      .toDF("k", "part", "url", "title"),
      Seq("k"), partitionCols = Seq("part"))
    // no pruning path accepts a non-ASCII bound, so neither the root
    // manifest nor the per-file sidecar carries the title's
    val part = PartitionSnapshots.rootStats(spark, t)("part=p1")
    part.rows shouldBe 2L
    part.cols.keySet shouldBe Set("k", "url")
    val slot = graft.sources.Snapshots.versionPath(s"$t/part=p1", 1L)
    PartitionSnapshots.fileStats(spark, slot).map(_._2.cols.keySet).toSet shouldBe
      Set(Set("k", "url"))
  }
}
