package graft

import org.apache.spark.sql.functions._

import graft.operators.Upsert
import graft.sources.PartitionSnapshots

/** Stats-pruned matched-key lookup + deferred full-frame construction
  * (the round-11 merge-planning fix): these specs pin the edges where
  * pruning MUST NOT lose a matched key — absent stats, key migration,
  * baseline manifests, NULL keys — and that the fast paths still
  * produce exactly the document-replace semantics. */
class MergePruningSpec extends SparkSpec {
  import spark.implicits._

  private def rows(path: String): Set[(Int, String, Double)] =
    Upsert.read(spark, path).collect().map(r =>
      (r.getAs[Int]("k"), r.getAs[String]("part"), r.getAs[Double]("v"))).toSet

  test("partitions with ABSENT stats are always lookup-scanned") {
    // a BASELINE manifest (ensureRootManifest over legacy flat dirs)
    // records states without stats — pruning must keep such partitions
    val path = tmpDir("mpnostats") + "/t"
    Seq((1, "p1", 10.0), (2, "p2", 20.0)).toDF("k", "part", "v")
      .write.partitionBy("part").parquet(path)
    // marker flip + metadata-only baseline: FLAT states, no stats
    Upsert.append(spark, path, Seq((3, "p3", 30.0)).toDF("k", "part", "v"),
      Seq("part"))
    val stats = PartitionSnapshots.rootStats(spark, path)
    assert(!stats.contains("part=p1"),
      s"test setup: expected NO stats for the flat-migrated p1, got $stats")
    // the matched key lives in a stats-less partition: the pruned lookup
    // must still find it (absent stats ⇒ kept), or the key would
    // duplicate into its new partition
    Upsert.upsert(spark, path, Seq((1, "p1", 11.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    rows(path) shouldBe Set((1, "p1", 11.0), (2, "p2", 20.0), (3, "p3", 30.0))
  }

  test("key MIGRATION across partitions survives the pruned lookup") {
    val path = tmpDir("mpmigrate") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10.0), (2, "p2", 20.0), (3, "p3", 30.0))
        .toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // key 2 moves p2 → p1: the lookup must identify p2 as touched (its
    // bounds contain key 2) so the old row is deleted, not duplicated
    Upsert.upsert(spark, path, Seq((2, "p1", 21.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    rows(path) shouldBe Set((1, "p1", 10.0), (2, "p1", 21.0), (3, "p3", 30.0))
    PartitionSnapshots.rootManifest(spark, path)
      .get("part=p2") should startWith("EMPTY")
  }

  test("insert-only merge drops matched keys and keeps new ones under pruning") {
    val path = tmpDir("mpinsonly") + "/t"
    Upsert.upsert(spark, path,
      Seq((1, "p1", 10.0), (500, "p2", 20.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // source holds: a matched key (500 — its partition's bounds contain
    // it, so the anti-join sees it), and a key (900) inside NO
    // partition's bounds (pruned away — provably unmatched, inserted)
    Upsert.upsert(spark, path,
      Seq((500, "p2", 99.0), (900, "p1", 90.0)).toDF("k", "part", "v"),
      Seq("k"), insertOnly = true, partitionCols = Seq("part"))
    rows(path) shouldBe Set((1, "p1", 10.0), (500, "p2", 20.0),
      (900, "p1", 90.0))
  }

  test("all-NULL and string keys: pruning degrades safely, never wrongly") {
    val path = tmpDir("mpnull") + "/t"
    Upsert.upsert(spark, path,
      Seq(("a", "p1", 1.0), ("b", "p2", 2.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // string keys prune through byte-order bounds; a matched ASCII key
    // updates in place
    Upsert.upsert(spark, path, Seq(("b", "p2", 22.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Upsert.read(spark, path).where(col("k") === "b")
      .collect().map(_.getAs[Double]("v")).toSeq shouldBe Seq(22.0)
    // NON-ASCII source key: string pruning must disable (fall back to
    // the full lookup), not exclude the wrong partition
    Upsert.upsert(spark, path, Seq(("bé", "p2", 5.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Upsert.read(spark, path).count() shouldBe 3
    Upsert.upsert(spark, path, Seq(("bé", "p2", 6.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Upsert.read(spark, path).where(col("k") === "bé")
      .collect().map(_.getAs[Double]("v")).toSeq shouldBe Seq(6.0)
  }

  test("conditional BY SOURCE classification scans only stats-admitting files") {
    val wh = tmpDir("mpbysrc")
    val t = s"$wh/t"
    // three partitions with disjoint v ranges: the BY SOURCE condition
    // v >= 200 can only fire in p2/p3 — p1's files are provably exempt
    Upsert.upsert(spark, t,
      ((1 to 50).map(i => (i, "p1", i * 1.0)) ++
       (51 to 100).map(i => (i, "p2", 200.0 + i)) ++
       (101 to 150).map(i => (i, "p3", 400.0 + i))).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))

    // unit: the compiled condition keeps p2/p3 and refutes p1
    val pinned = PartitionSnapshots.rootStats(spark, t)
    val cond = spark.sessionState.sqlParser.parseExpression("v >= 200.0")
    val possible = PartitionSnapshots.condPossible(
      Upsert.read(spark, t).schema, cond).get
    possible(pinned("part=p1")) shouldBe false
    possible(pinned("part=p2")) shouldBe true
    possible(pinned("part=p3")) shouldBe true
    // AND composition: a range inside p2 keeps p2 and refutes both others
    val both = PartitionSnapshots.condPossible(Upsert.read(spark, t).schema,
      spark.sessionState.sqlParser.parseExpression(
        "v >= 260.0 AND v < 270.0")).get
    both(pinned("part=p1")) shouldBe false
    both(pinned("part=p2")) shouldBe true
    both(pinned("part=p3")) shouldBe false
    // unsupported shapes refuse to prune rather than guess
    PartitionSnapshots.condPossible(Upsert.read(spark, t).schema,
      spark.sessionState.sqlParser.parseExpression("v IS NULL")) shouldBe None

    // e2e WITH an engagement pin: physically remove p1's data files —
    // the source keys and the clause bounds both exempt p1, so a merge
    // whose scans really prune never touches it; an unpruned scan
    // would fail loudly on the vanished dir
    val fsys = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(s"$t/part=p1/_versions"),
      true) shouldBe true
    val cat = new graft.sources.Catalog(spark, wh)
    Seq((60, "p2", 99.0), (999, "p2", 9.0)).toDF("k", "part", "v")
      .createOrReplaceTempView("src_bysrc")
    cat.sql(
      """MERGE INTO t USING src_bysrc s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE AND t.v >= 500.0 THEN DELETE
        |""".stripMargin)
    // p1 is gone from disk but untouched by the commit: scans of the
    // OTHER partitions still serve (scoped read below), the matched key
    // updated, the insert landed, and every v >= 500 row died
    val after = Upsert.read(spark, t).where(col("part") =!= "p1")
    after.where(col("k") === 60).select("v").head().getDouble(0) shouldBe 99.0
    after.where(col("k") === 999).count() shouldBe 1
    after.where(col("v") >= 500.0).count() shouldBe 0
    // survivors beyond p1: 50 p2 rows (incl. updated k=60) + insert;
    // p3's 400+i for i=101..150 all exceeded 500 and died
    after.count() shouldBe 51
  }

  test("empty-table probe answers from the manifest, first commit still lands") {
    val path = tmpDir("mpempty") + "/t"
    Upsert.upsert(spark, path, Seq((1, "p1", 1.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // drop the only partition: every state is EMPTY — the next merge
    // must see an empty table (metadata probe) and seed it fresh
    PartitionSnapshots.dropPartitions(spark, path,
      _ => true) shouldBe Seq("part=p1")
    // an all-EMPTY table reads as None (the loud-throw read contract)
    Upsert.readOption(spark, path).map(_.count()).getOrElse(0L) shouldBe 0L
    Upsert.upsert(spark, path, Seq((2, "p2", 2.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    rows(path) shouldBe Set((2, "p2", 2.0))
  }
}
