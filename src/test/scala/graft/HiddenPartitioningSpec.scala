package graft

import org.apache.spark.sql.functions._

import graft.operators.Upsert
import graft.sources.PartitionSnapshots

/** Hidden-partitioning transforms (Iceberg's bucket/days/truncate):
  * [[PartitionSnapshots.evolvePartitionSpec]] accepts `bucket(N, col)` /
  * `days(col)` / `truncate(W, col)` entries; the derived dir column is
  * computed at write time and stripped from every public read. The skew
  * tool for 100 TB: a hot key space hash-spreads over N bucket dirs,
  * and a point-key MERGE touches exactly one of them. */
class HiddenPartitioningSpec extends SparkSpec {
  import spark.implicits._

  test("bucket(4, k): point-key MERGE touches one bucket dir, others pinned") {
    val path = tmpDir("hpbkt") + "/t"
    Upsert.upsert(spark, path,
      Seq((0, "p1", 0.0)).toDF("k", "part", "v"), Seq("k"),
      partitionCols = Seq("part"))
    PartitionSnapshots.evolvePartitionSpec(spark, path,
      Seq("part", "bucket(4, k)"))
    PartitionSnapshots.partitionCols(spark, path) shouldBe
      Seq("part", "k__bucket4")
    // bulk-load 40 new keys post-evolution: they land in bucket dirs the
    // caller never named (the derived column is engine-computed)
    val bulk = (1 to 40).map(i => (i, "p1", i * 1.0)).toDF("k", "part", "v")
    Upsert.upsert(spark, path, bulk, Seq("k"),
      partitionCols = PartitionSnapshots.partitionCols(spark, path))
    // the READ hides the derived column and serves every row
    val df = Upsert.read(spark, path)
    df.columns.toSet shouldBe Set("k", "part", "v")
    df.count() shouldBe 41
    // bucket dirs exist on disk, keyed by the hash the writer derived
    val bucketRels = PartitionSnapshots.rootManifest(spark, path).get
      .keySet.filter(_.contains("k__bucket4="))
    bucketRels.size should be > 1
    // point-key MERGE: exactly ONE bucket rel changes; the other bucket
    // dirs' bytes stay byte-identical in place (mtimes pinned)
    val before = PartitionSnapshots.currentRootVersion(spark, path).get
    import scala.jdk.CollectionConverters._
    def dataFiles(): Map[String, Long] =
      java.nio.file.Files.walk(java.nio.file.Paths.get(path))
        .iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          p.toString.contains("k__bucket4="))
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    val filesBefore = dataFiles()
    Upsert.upsert(spark, path, Seq((7, "p1", 700.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = PartitionSnapshots.partitionCols(spark, path))
    val after = PartitionSnapshots.currentRootVersion(spark, path).get
    val changed = PartitionSnapshots.changedPartitions(spark, path,
      before, after)
    changed.size shouldBe 1
    assert(changed.head.contains("k__bucket4="),
      s"expected a bucket rel, got $changed")
    // every pre-merge file OUTSIDE the touched bucket survives untouched
    val touchedRel = changed.head
    val filesAfter = dataFiles()
    filesBefore.filterNot(_._1.contains(touchedRel)).foreach {
      case (f, mtime) => filesAfter.get(f) shouldBe Some(mtime)
    }
    Upsert.read(spark, path).where(col("k") === 7)
      .collect().map(_.getAs[Double]("v")).toSeq shouldBe Seq(700.0)
  }

  test("days(ts): rows land in per-day dirs; reads keep ts, hide the dir col") {
    val path = tmpDir("hpday") + "/t"
    Upsert.upsert(spark, path,
      Seq((0, "a", "2024-03-01 10:00:00")).toDF("k", "part", "ts")
        .withColumn("ts", col("ts").cast("timestamp")),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.evolvePartitionSpec(spark, path, Seq("part", "days(ts)"))
    val batch = Seq((1, "a", "2024-03-01 11:00:00"),
      (2, "a", "2024-03-02 09:30:00"))
      .toDF("k", "part", "ts").withColumn("ts", col("ts").cast("timestamp"))
    Upsert.append(spark, path, batch,
      PartitionSnapshots.partitionCols(spark, path))
    val rels = PartitionSnapshots.rootManifest(spark, path).get.keySet
    rels should contain("part=a/ts__day=2024-03-01")
    rels should contain("part=a/ts__day=2024-03-02")
    val df = Upsert.read(spark, path)
    df.columns.toSet shouldBe Set("k", "part", "ts")
    df.count() shouldBe 3
    // the changelog feed also hides the derived column
    val head = PartitionSnapshots.currentRootVersion(spark, path).get
    val feed = PartitionSnapshots.changes(spark, path, head - 1, head)
    feed.columns should not contain "ts__day"
    feed.where(col("change_type") === "insert").count() shouldBe 2
  }

  test("mixed old-spec + bucket dirs read as one table; deleteKeys works on bucketed data") {
    val path = tmpDir("hpmix") + "/t"
    // three rows predate the evolution (flat part= dirs)
    Upsert.upsert(spark, path,
      Seq((1, "p1", 1.0), (2, "p2", 2.0), (3, "p1", 3.0))
        .toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.evolvePartitionSpec(spark, path,
      Seq("part", "bucket(4, k)"))
    Upsert.upsert(spark, path,
      Seq((10, "p1", 10.0), (11, "p2", 11.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = PartitionSnapshots.partitionCols(spark, path))
    val df = Upsert.read(spark, path)
    df.columns.toSet shouldBe Set("k", "part", "v")
    df.collect().map(_.getAs[Int]("k")).toSet shouldBe Set(1, 2, 3, 10, 11)
    // a keyed MERGE matching an OLD-spec row migrates it lazily into its
    // bucket dir; untouched old rows stay in place
    Upsert.upsert(spark, path, Seq((1, "p1", 100.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = PartitionSnapshots.partitionCols(spark, path))
    Upsert.read(spark, path).where(col("k") === 1)
      .collect().map(_.getAs[Double]("v")).toSeq shouldBe Seq(100.0)
    Upsert.read(spark, path).count() shouldBe 5
    // equality delete by data key against bucket-dir rows: the derived
    // dir value comes off the path, so the touched-rel rendering holds
    PartitionSnapshots.deleteKeys(spark, path, Seq(10).toDF("k")) shouldBe true
    Upsert.read(spark, path).collect().map(_.getAs[Int]("k"))
      .toSet shouldBe Set(1, 2, 3, 11)
  }

  test("routed SQL UPDATE / MERGE work on a transform-evolved table " +
      "(rowSchema must exclude the hidden dir column)") {
    val wh = tmpDir("hpsql")
    val path = s"$wh/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 1.0), (2, "p2", 2.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.evolvePartitionSpec(spark, path,
      Seq("part", "bucket(4, k)"))
    Upsert.upsert(spark, path,
      Seq((3, "p1", 3.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = PartitionSnapshots.partitionCols(spark, path))
    // the metadata-only row schema equals the read frame's schema —
    // hidden transform dir columns (k__bucket4) appear in neither
    val meta = PartitionSnapshots.tableRowSchema(spark, path).get
    meta.fieldNames.toSet shouldBe Set("k", "part", "v")
    meta.fieldNames.toSet shouldBe Upsert.read(spark, path).columns.toSet
    val cat = new graft.sources.Catalog(spark, wh)
    cat.sql("UPDATE t SET v = v * 10 WHERE k = 2")
    Upsert.read(spark, path).where(col("k") === 2)
      .head().getAs[Double]("v") shouldBe 20.0
    cat.sql(
      """MERGE INTO t USING (SELECT 3 AS k, 'p1' AS part, 33.0 AS v,
        |  'x' AS note) s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, part, v) VALUES (s.k, s.part, s.v)
        |""".stripMargin)
    Upsert.read(spark, path).where(col("k") === 3)
      .head().getAs[Double]("v") shouldBe 33.0
  }

  test("transform evolution validates loudly") {
    val path = tmpDir("hpbad") + "/t"
    Upsert.upsert(spark, path, Seq((1, "p1", 1.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // unknown source column
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.evolvePartitionSpec(spark, path,
        Seq("part", "bucket(8, nope)"))
    // days() over a non-temporal column
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.evolvePartitionSpec(spark, path,
        Seq("part", "days(v)"))
    // spec must still extend the existing prefix
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.evolvePartitionSpec(spark, path,
        Seq("bucket(8, k)"))
  }
}
