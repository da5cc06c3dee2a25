package graft

import org.apache.spark.sql.functions._

import graft.operators.Upsert
import graft.sources.{Catalog, PartitionSnapshots}

/** SQL `MERGE INTO` statement surface ([[graft.sources.Catalog.sql]]):
  * the reference phrases every write as MERGE text
  * (gcs_bronze_to_silver.py:469-490, gcs_silver_to_gold.py:329-541) —
  * these specs pin that the parsed statement routes to the SAME commit
  * machinery as the API calls, including the fast-append path for
  * insert-only merges, and that unsupported shapes fail loudly. */
class MergeSqlSpec extends SparkSpec {
  import spark.implicits._

  private def parquetFiles(dir: String): Set[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => (p.toString, java.nio.file.Files.getLastModifiedTime(p).toMillis))
      .toSet
  }

  test("MERGE text: UPDATE SET * / INSERT * lands through the manifested upsert") {
    val wh = tmpDir("msqlwh")
    val seed = Seq((1, "p1", 10.0), (2, "p1", 20.0), (3, "p2", 30.0))
      .toDF("k", "part", "v")
    Upsert.upsert(spark, s"$wh/t", seed, Seq("k"),
      partitionCols = Seq("part"))
    Seq((2, "p1", 21.0), (4, "p2", 40.0)).toDF("k", "part", "v")
      .createOrReplaceTempView("msql_src")
    val cat = new Catalog(spark, wh)
    // the reference's exact statement shape, modulo names
    val out = cat.sql(
      """MERGE INTO t t
        |USING msql_src s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = out.collect().map(r =>
      (r.getAs[Int]("k"), r.getAs[String]("part"), r.getAs[Double]("v"))).toSet
    got shouldBe Set((1, "p1", 10.0), (2, "p1", 21.0), (3, "p2", 30.0),
      (4, "p2", 40.0))
    // still a manifested table, still committed through its machinery
    PartitionSnapshots.isManifested(spark, s"$wh/t") shouldBe true
    // re-running the SAME statement is idempotent on content
    cat.sql(
      """MERGE INTO t t
        |USING msql_src s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .collect().map(r =>
        (r.getAs[Int]("k"), r.getAs[String]("part"), r.getAs[Double]("v")))
      .toSet shouldBe got
  }

  test("insert-only MERGE text routes to fast-append: no existing file rewritten") {
    val wh = tmpDir("msqlfa")
    val seed = Seq((1, "p1", 10.0), (2, "p1", 20.0), (3, "p2", 30.0))
      .toDF("k", "part", "v")
    Upsert.upsert(spark, s"$wh/t", seed, Seq("k"),
      partitionCols = Seq("part"))
    val before = parquetFiles(s"$wh/t")
    // source holds one matched key (2) and one new one (5): insert-only
    // semantics must drop the matched row and append only the new one
    Seq((2, "p1", 99.0), (5, "p2", 50.0)).toDF("k", "part", "v")
      .createOrReplaceTempView("msql_ins")
    val cat = new Catalog(spark, wh)
    val out = cat.sql(
      """MERGE INTO t t
        |USING msql_ins s
        |ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    out.collect().map(r =>
      (r.getAs[Int]("k"), r.getAs[String]("part"), r.getAs[Double]("v")))
      .toSet shouldBe Set((1, "p1", 10.0), (2, "p1", 20.0), (3, "p2", 30.0),
      (5, "p2", 50.0))
    // the fast-append contract: every pre-existing data file survives
    // byte-for-byte in place (path + mtime) — an upsert-style partition
    // rewrite would have replaced p2's file
    val after = parquetFiles(s"$wh/t")
    before.subsetOf(after) shouldBe true
    // and the touched partition's manifest state now carries BOTH parts
    val state = PartitionSnapshots.rootManifest(spark, s"$wh/t").get
    assert(state("part=p2").contains("&"),
      s"expected appended part alongside the seed part, got ${state("part=p2")}")
  }

  test("MERGE text: USING subquery, multi-part target name, case-folded ON") {
    val wh = tmpDir("msqlsub")
    Upsert.upsert(spark,
      s"$wh/dim", Seq((1, "a"), (2, "b")).toDF("ID", "name"), Seq("ID"))
    Seq((2, "b2"), (3, "c")).toDF("ID", "name")
      .createOrReplaceTempView("msql_sub_src")
    val cat = new Catalog(spark, wh)
    // target via namespace-qualified name (reference: bronze.bronze_db.t);
    // ON uses a different case than the stored column; USING is a subquery
    val out = cat.sql(
      """MERGE INTO silver.silver_db.dim t
        |USING (SELECT * FROM msql_sub_src WHERE name <> 'zzz') s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    out.collect().map(r => (r.getAs[Int]("ID"), r.getAs[String]("name")))
      .toSet shouldBe Set((1, "a"), (2, "b2"), (3, "c"))
  }

  test("unsupported MERGE shapes fail loudly, not silently degrade") {
    val wh = tmpDir("msqlbad")
    // a plain parquet dir: every upsert table is manifested
    Seq((1, 1.0)).toDF("k", "v").write.parquet(s"$wh/t")
    Seq((1, 2.0)).toDF("k", "v").createOrReplaceTempView("msql_bad_src")
    val cat = new Catalog(spark, wh)
    // non-equi ON
    an[IllegalArgumentException] should be thrownBy cat.sql(
      """MERGE INTO t USING msql_bad_src s ON t.k < s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // BY SOURCE, matched DELETE and ON-key assignments work on a plain
    // dir too: the statement migrates it to a manifested table first
    def onPlain(name: String, merge: String): Set[(Int, Double)] = {
      Seq((1, 1.0), (3, 3.0)).toDF("k", "v").write.parquet(s"$wh/$name")
      cat.sql(merge.replace("<t>", name))
      PartitionSnapshots.isManifested(spark, s"$wh/$name") shouldBe true
      cat.read(name).collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
    }
    onPlain("bys",
      """MERGE INTO <t> t USING msql_bad_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin) shouldBe
      Set((1, 2.0))
    onPlain("del",
      """MERGE INTO <t> t USING msql_bad_src s ON t.k = s.k
        |WHEN MATCHED AND s.v > 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin) shouldBe
      Set((3, 3.0))
    onPlain("rekey",
      """MERGE INTO <t> t USING msql_bad_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET k = s.k + 100""".stripMargin) shouldBe
      Set((101, 1.0), (3, 3.0))
    // assignment to a column the target does not have
    an[IllegalArgumentException] should be thrownBy cat.sql(
      """MERGE INTO t USING msql_bad_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET nope = s.v""".stripMargin)
    // missing target table
    an[IllegalArgumentException] should be thrownBy cat.sql(
      """MERGE INTO nope USING msql_bad_src s ON nope.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // the table is untouched by all of the above
    cat.read("t").collect().map(r => (r.getInt(0), r.getDouble(1)))
      .toSet shouldBe Set((1, 1.0))
  }

  test("assignment-list MERGE: only assigned columns change, values see both sides") {
    val wh = tmpDir("msqlasg")
    Upsert.upsert(spark, s"$wh/t",
      Seq((1, "p1", 10.0, "a"), (2, "p1", 20.0, "b"), (3, "p2", 30.0, "c"))
        .toDF("k", "part", "v", "tag"),
      Seq("k"), partitionCols = Seq("part"))
    // source deliberately lacks `tag` and carries an EXTRA column the
    // assignments read — legal without evolution for assignment lists
    Seq((2, "p1", 5.0), (4, "p2", 7.0)).toDF("k", "part", "bump")
      .createOrReplaceTempView("msql_asg_src")
    val cat = new Catalog(spark, wh)
    val pre = PartitionSnapshots.currentRootVersion(spark, s"$wh/t").get
    val out = cat.sql(
      """MERGE INTO t t USING msql_asg_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = t.v + s.bump
        |WHEN NOT MATCHED THEN INSERT (k, part, v) VALUES (s.k, s.part, s.bump)""".stripMargin)
    out.collect().map(r => (r.getAs[Int]("k"), r.getAs[String]("part"),
      r.getAs[Double]("v"), Option(r.getAs[String]("tag")))).toSet shouldBe
      Set((1, "p1", 10.0, Some("a")),
        (2, "p1", 25.0, Some("b")), // v updated, tag KEPT (not replaced)
        (3, "p2", 30.0, Some("c")),
        (4, "p2", 7.0, None)) // insert list omits tag → NULL
    // the whole statement was ONE commit
    PartitionSnapshots.currentRootVersion(spark, s"$wh/t").get shouldBe pre + 1
  }

  test("WHEN NOT MATCHED clauses refuse target references instead of inserting NULL") {
    val wh = tmpDir("msqlnmt")
    Upsert.upsert(spark, s"$wh/t", Seq((1, 10.0)).toDF("k", "v"), Seq("k"))
    Seq((1, 1.0), (2, 2.0)).toDF("k", "v")
      .createOrReplaceTempView("msql_nmt_src")
    val cat = new Catalog(spark, wh)
    def rows = cat.read("t").collect()
      .map(r => (r.getInt(0), Option(r.get(1)))).toSet
    // an unmatched source row has no target row to read
    an[IllegalArgumentException] should be thrownBy cat.sql(
      """MERGE INTO t t USING msql_nmt_src s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, t.v)""".stripMargin)
    an[IllegalArgumentException] should be thrownBy cat.sql(
      """MERGE INTO t t USING msql_nmt_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED AND t.v IS NULL THEN INSERT *""".stripMargin)
    rows shouldBe Set((1, Some(10.0)))
    // source references (and names Spark resolves itself) still insert
    cat.sql(
      """MERGE INTO t t USING msql_nmt_src s ON t.k = s.k
        |WHEN NOT MATCHED AND s.v > 0 AND current_date IS NOT NULL
        |  THEN INSERT (k, v) VALUES (s.k, s.v * 10)""".stripMargin)
    rows shouldBe Set((1, Some(10.0)), (2, Some(20.0)))
  }

  test("assignment-list MERGE on a FLAT table lands through one keyed upsert") {
    val wh = tmpDir("msqlasgf")
    Upsert.upsert(spark, s"$wh/t",
      Seq((1, 10.0, "a"), (2, 20.0, "b")).toDF("k", "v", "tag"), Seq("k"))
    Seq((2, 1.0), (5, 50.0)).toDF("k", "v").createOrReplaceTempView("msql_asgf_src")
    val cat = new Catalog(spark, wh)
    cat.sql(
      """MERGE INTO t t USING msql_asgf_src s ON t.k = s.k
        |WHEN MATCHED AND s.v < 5 THEN UPDATE SET v = t.v * s.v, tag = upper(t.tag)
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
      .collect().map(r => (r.getAs[Int]("k"), r.getAs[Double]("v"),
        Option(r.getAs[String]("tag")))).toSet shouldBe
      Set((1, 10.0, Some("a")), (2, 20.0, Some("B")), (5, 50.0, None))
  }

  test("WHEN NOT MATCHED BY SOURCE: the sync idiom, one atomic commit with the matched legs") {
    val wh = tmpDir("msqlbys")
    Upsert.upsert(spark, s"$wh/t",
      Seq((1, "p1", 10.0), (2, "p1", 20.0), (3, "p2", 30.0), (4, "p2", 40.0),
        (5, "p2", 50.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Seq((1, "p1", 11.0), (6, "p2", 60.0)).toDF("k", "part", "v")
      .createOrReplaceTempView("msql_bys_src")
    val cat = new Catalog(spark, wh)
    val pre = PartitionSnapshots.currentRootVersion(spark, s"$wh/t").get
    // full sync: matched update, unmatched-source insert, and BY SOURCE
    // rows either flagged (v small) or deleted — first-match-wins
    val out = cat.sql(
      """MERGE INTO t t USING msql_bys_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE AND t.v < 35 THEN UPDATE SET v = -t.v
        |WHEN NOT MATCHED BY SOURCE AND t.v > 45 THEN DELETE""".stripMargin)
    out.collect().map(r => (r.getAs[Int]("k"), r.getAs[Double]("v")))
      .toSet shouldBe Set((1, 11.0), (2, -20.0), (3, -30.0), (4, 40.0),
        (6, 60.0)) // 5 deleted; 4 matched neither BY SOURCE condition
    // ONE root swap for the whole statement — updates, the delete, the
    // BY SOURCE flips, and the insert are a single atomic commit
    PartitionSnapshots.currentRootVersion(spark, s"$wh/t").get shouldBe pre + 1
  }

  test("conditional multi-clause MERGE: first-match-wins, one atomic positional commit") {
    val wh = tmpDir("msqlcond")
    val seed = Seq((1, "p1", 10.0), (2, "p1", 20.0), (3, "p2", 30.0),
      (4, "p2", 40.0)).toDF("k", "part", "v")
    Upsert.upsert(spark, s"$wh/t", seed, Seq("k"),
      partitionCols = Seq("part"))
    // k=1: matched, new v negative → first clause (DELETE) wins
    // k=2: matched, new v positive → falls to the UPDATE clause
    // k=3: matched but BOTH conditions false → target row keeps
    // k=5: not matched, insert condition true → inserted
    // k=6: not matched, insert condition false → dropped
    Seq((1, "p1", -5.0), (2, "p1", 21.0), (3, "p2", -30.0),
      (5, "p2", 50.0), (6, "p2", -60.0)).toDF("k", "part", "v")
      .createOrReplaceTempView("msql_cond_src")
    val before = PartitionSnapshots.currentRootVersion(spark, s"$wh/t").get
    val cat = new Catalog(spark, wh)
    val out = cat.sql(
      """MERGE INTO t t
        |USING msql_cond_src s
        |ON t.k = s.k
        |WHEN MATCHED AND s.v < 0 AND t.v < 25 THEN DELETE
        |WHEN MATCHED AND s.v > 0 THEN UPDATE SET *
        |WHEN NOT MATCHED AND s.v > 0 THEN INSERT *""".stripMargin)
    out.collect().map(r =>
      (r.getAs[Int]("k"), r.getAs[String]("part"), r.getAs[Double]("v")))
      .toSet shouldBe Set((2, "p1", 21.0), (3, "p2", 30.0),
        (4, "p2", 40.0), (5, "p2", 50.0))
    // the WHOLE statement is ONE commit (delete + update + insert in a
    // single root swap), and the retired rows are positional refs —
    // merge-on-read, no whole-partition rewrite
    val rt = s"$wh/t"
    val head = PartitionSnapshots.currentRootVersion(spark, rt).get
    head shouldBe before + 1
    assert(PartitionSnapshots.rootManifest(spark, rt, head).get
      .values.exists(_.matches(""".*[+,]p\d+.*""")),
      "expected a positional-delete ref from the atomic MERGE commit")
  }

  test("unaliased USING table: conditions qualified by the table's own name resolve") {
    val wh = tmpDir("msqlnoal")
    Upsert.upsert(spark, s"$wh/t",
      Seq((1, "p1", 10.0), (2, "p1", 20.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Seq((1, "p1", -1.0), (2, "p1", 21.0)).toDF("k", "part", "v")
      .createOrReplaceTempView("msql_noal_src")
    val cat = new Catalog(spark, wh)
    // neither side aliased: conditions address them by their own names
    cat.sql(
      """MERGE INTO t
        |USING msql_noal_src
        |ON t.k = msql_noal_src.k
        |WHEN MATCHED AND msql_noal_src.v < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
      .collect().map(r => (r.getAs[Int]("k"), r.getAs[Double]("v")))
      .toSet shouldBe Set((2, 21.0))
  }

  test("clause ORDER is semantics: swapping UPDATE/DELETE flips the outcome") {
    val wh = tmpDir("msqlord")
    Upsert.upsert(spark, s"$wh/t",
      Seq((1, "p1", 10.0)).toDF("k", "part", "v"), Seq("k"),
      partitionCols = Seq("part"))
    Seq((1, "p1", 99.0)).toDF("k", "part", "v")
      .createOrReplaceTempView("msql_ord_src")
    val cat = new Catalog(spark, wh)
    // both conditions hold — the FIRST clause must win each time (the
    // parser requires every non-last matched clause to carry a condition)
    cat.sql(
      """MERGE INTO t t USING msql_ord_src s ON t.k = s.k
        |WHEN MATCHED AND s.v > 0 THEN UPDATE SET *
        |WHEN MATCHED THEN DELETE""".stripMargin)
      .collect().map(_.getAs[Double]("v")).toSeq shouldBe Seq(99.0)
    // DELETE first on the same state: the row dies instead
    cat.sql(
      """MERGE INTO t t USING msql_ord_src s ON t.k = s.k
        |WHEN MATCHED AND s.v > 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
      .count() shouldBe 0L
  }

  test("DELETE FROM: IN-list routes to deleteKeys, partition equality to dropPartitions, predicate to positional") {
    val wh = tmpDir("msqldel")
    val seed = (1 to 40).map(i => (i, if (i % 2 == 0) "p1" else "p2",
      i * 1.0)).toDF("k", "part", "v")
    Upsert.upsert(spark, s"$wh/t", seed, Seq("k"),
      partitionCols = Seq("part"))
    val cat = new Catalog(spark, wh)
    val rt = s"$wh/t"
    // (1) data-column IN list → equality-delete commit (no rewrite)
    cat.sql("DELETE FROM t WHERE k IN (2, 4, 6)").count() shouldBe 37L
    assert(PartitionSnapshots.rootManifest(spark, rt).get
      .values.exists(_.contains("+d")), "expected an equality-delete ref")
    // (1b) type-coercion honesty: `int_col = 5.5` matches NOTHING (SQL
    // coerces the column UP — a bare down-cast would delete k=5), while
    // a round-tripping widened literal (7.0) deletes exactly k=7
    cat.sql("DELETE FROM t WHERE k = 5.5").count() shouldBe 37L
    cat.sql("DELETE FROM t WHERE k = 7.0").count() shouldBe 36L
    // (2) arbitrary predicate → positional-delete commit
    cat.sql("DELETE FROM t WHERE v > 35.5 AND part = 'p1'")
      .count() shouldBe 33L // 36, 38, 40 die
    // the p-ref may stack AFTER the earlier equality ref (`+d…,p…`)
    assert(PartitionSnapshots.rootManifest(spark, rt).get
      .values.exists(_.matches(""".*[+,]p\d+.*""")),
      "expected a positional-delete ref")
    // (3) partition-column equality → metadata-only partition drop
    // (20 odd-k rows lived in p2)
    cat.sql("DELETE FROM t WHERE part = 'p2'").count() shouldBe 14L
    PartitionSnapshots.rootManifest(spark, rt).get
      .apply("part=p2") shouldBe "EMPTY"
    // a plain parquet dir is migrated to a manifested table first
    Seq((1, 1.0), (2, 2.0)).toDF("k", "v").write.parquet(s"$wh/flat")
    cat.sql("DELETE FROM flat WHERE k = 1")
      .collect().map(r => (r.getInt(0), r.getDouble(1))) shouldBe
      Array((2, 2.0))
  }

  test("UPDATE statement: cross-column assignment, partition migration, loud refusals") {
    val wh = tmpDir("msqlupd")
    val seed = (1 to 10).map(i => (i, if (i <= 5) "p1" else "p2", i * 1.0))
      .toDF("k", "part", "v")
    Upsert.upsert(spark, s"$wh/t", seed, Seq("k"),
      partitionCols = Seq("part"))
    val cat = new Catalog(spark, wh)
    val preHead = PartitionSnapshots.currentRootVersion(spark, s"$wh/t").get
    // assignment referencing another column, filtered
    cat.sql("UPDATE t SET v = v + k WHERE k <= 3")
      .collect().map(r => (r.getAs[Int]("k"), r.getAs[Double]("v")))
      .toMap shouldBe (1 to 10).map(i =>
        i -> (if (i <= 3) i * 2.0 else i * 1.0)).toMap
    // ATOMIC: the delete of the old rows and the append of the new ones
    // are ONE root commit — no intermediate state a crash could strand
    PartitionSnapshots.currentRootVersion(spark, s"$wh/t")
      .get shouldBe preHead + 1
    // merge-on-read: the commit is a positional delete + append, not a
    // whole-partition rewrite
    assert(PartitionSnapshots.rootManifest(spark, s"$wh/t").get
      .values.exists(_.matches(""".*[+,]p\d+.*""")),
      "expected a positional-delete ref after UPDATE")
    // partition-migrating assignment: the row MOVES dirs
    cat.sql("UPDATE t SET part = 'p2' WHERE k = 1")
    Upsert.read(spark, s"$wh/t").where(col("k") === 1)
      .select("part").head().getString(0) shouldBe "p2"
    Upsert.read(spark, s"$wh/t").count() shouldBe 10L
    // no matching rows: a clean no-op, no new commit
    val head = PartitionSnapshots.currentRootVersion(spark, s"$wh/t").get
    cat.sql("UPDATE t SET v = 0.0 WHERE k = 999").count() shouldBe 10L
    PartitionSnapshots.currentRootVersion(spark, s"$wh/t").get shouldBe head
    // an unknown assigned column refuses loudly
    an[IllegalArgumentException] should be thrownBy
      cat.sql("UPDATE t SET nope = 1 WHERE k = 1")
    // a plain parquet dir is migrated to a manifested table first
    Seq((1, 1.0), (2, 2.0)).toDF("k", "v").write.parquet(s"$wh/flat")
    cat.sql("UPDATE flat SET v = 5.0 WHERE k = 1")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSet shouldBe
      Set((1, 5.0), (2, 2.0))
  }

  test("point UPDATE/DELETE: stats-pruned scan, ONE touched file, O(affected) commit") {
    val wh = tmpDir("msqlprune")
    // 4 partitions, range-split files -> disjoint per-partition k bounds
    val seed = (1 to 400).map(i => (i, s"p${(i - 1) / 100}", i * 1.0))
      .toDF("k", "part", "v").repartitionByRange(4, col("k"))
    Upsert.upsert(spark, s"$wh/t", seed, Seq("k"),
      partitionCols = Seq("part"))
    val cat = new Catalog(spark, wh)
    // the pruned row-pos read constructs ONLY the candidate partition
    val pruned = PartitionSnapshots.readWithRowPosPruned(spark, s"$wh/t",
      "k", Seq(250).toDF("k"))
    val full = PartitionSnapshots.readWithRowPos(spark, s"$wh/t")
    pruned.inputFiles.length should be < full.inputFiles.length
    pruned.inputFiles.foreach(f => assert(f.contains("part=p2"), f))
    // a 1-row UPDATE commits exactly ONE touched file's positional ref
    cat.sql("UPDATE t SET v = 0.5 WHERE k = 250")
    spark.read.parquet(s"$wh/t/_deletes/p00000001")
      .select("_del_path").distinct().count() shouldBe 1L
    // pruned-to-nothing key: clean no-op, no commit
    val head = PartitionSnapshots.currentRootVersion(spark, s"$wh/t").get
    cat.sql("UPDATE t SET v = 9.9 WHERE k = 5000").count() shouldBe 400L
    PartitionSnapshots.currentRootVersion(spark, s"$wh/t").get shouldBe head
    // positional DELETE route prunes the same way and stays correct
    cat.sql("DELETE FROM t WHERE k = 17 AND v > 0").count() shouldBe 399L
    Upsert.read(spark, s"$wh/t").where(col("k") === 250)
      .head().getAs[Double]("v") shouldBe 0.5
  }

  test("MERGE WITH SCHEMA EVOLUTION adds the new source column") {
    val wh = tmpDir("msqlevo")
    Upsert.upsert(spark, s"$wh/t", Seq((1, "p1", 10.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Seq((2, "p1", 20.0, "x")).toDF("k", "part", "v", "extra")
      .createOrReplaceTempView("msql_evo_src")
    val cat = new Catalog(spark, wh)
    val out = cat.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO t
        |USING msql_evo_src s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    out.columns should contain("extra")
    out.collect().map(r => (r.getAs[Int]("k"),
      Option(r.getAs[String]("extra")))).toSet shouldBe
      Set((1, None), (2, Some("x")))
  }

  test("WITH SCHEMA EVOLUTION through the GENERAL leg: union schema rides the atomic commit") {
    val wh = tmpDir("msqlevog")
    Upsert.upsert(spark, s"$wh/t",
      Seq((1, "p1", 10.0), (2, "p1", 20.0), (3, "p2", 30.0))
        .toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Seq((1, "p1", -1.0, "gone"), (2, "p1", 21.0, "x"), (4, "p2", 40.0, "y"))
      .toDF("k", "part", "v", "extra")
      .createOrReplaceTempView("msql_evog_src")
    val cat = new Catalog(spark, wh)
    val pre = PartitionSnapshots.currentRootVersion(spark, s"$wh/t").get
    // conditional DELETE forces the general (replaceRows) leg; the new
    // `extra` column must land in the SAME commit, old rows reading NULL
    val out = cat.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO t t USING msql_evog_src s
        |ON t.k = s.k
        |WHEN MATCHED AND s.v < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    out.columns should contain("extra")
    out.collect().map(r => (r.getAs[Int]("k"), r.getAs[Double]("v"),
      Option(r.getAs[String]("extra")))).toSet shouldBe
      Set((2, 21.0, Some("x")), (3, 30.0, None), (4, 40.0, Some("y")))
    PartitionSnapshots.currentRootVersion(spark, s"$wh/t").get shouldBe pre + 1
  }

  test("WITH SCHEMA EVOLUTION never NULL-fills a partition column: " +
      "UPDATE * keeps the target's pcol; INSERT * refuses") {
    val wh = tmpDir("msqlpcol")
    Upsert.upsert(spark, s"$wh/t",
      Seq((1, "p1", 10.0), (2, "p2", 20.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    // the source LACKS the partition column entirely
    Seq((1, 11.0, "x")).toDF("k", "v", "extra")
      .createOrReplaceTempView("msql_pcol_src")
    val cat = new Catalog(spark, wh)
    // matched-only star update: the row must STAY in p1, not migrate to
    // the null partition
    val out = cat.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO t USING msql_pcol_src s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    out.where(col("k") === 1).head().getAs[String]("part") shouldBe "p1"
    Upsert.read(spark, s"$wh/t").where(col("k") === 1)
      .head().getAs[String]("part") shouldBe "p1"
    // INSERT * with a pcol-less source refuses loudly even under
    // evolution — NULL-partition inserts are corruption, not evolution
    Seq((9, 90.0, "y")).toDF("k", "v", "extra")
      .createOrReplaceTempView("msql_pcol_ins")
    val e = intercept[IllegalArgumentException] {
      cat.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO t USING msql_pcol_ins s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    e.getMessage should include("partition column")
  }
}
