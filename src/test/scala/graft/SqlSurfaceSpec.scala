package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Upsert
import graft.sources.{Catalog, PartitionSnapshots}

/** The FULL SQL text surface beyond SELECT/MERGE/UPDATE/DELETE
  * ([[graft.sources.Catalog.sql]] round 13): INSERT INTO / INSERT
  * OVERWRITE (fast-append / one-commit dynamic partition overwrite),
  * ALTER TABLE ADD/RENAME/DROP/ALTER COLUMN (metadata-only schema-DDL
  * commits), CREATE TABLE (+ PARTITIONED BY, IF NOT EXISTS), CTAS,
  * DROP TABLE, TRUNCATE (metadata-only EMPTY flip). An Iceberg user's
  * whole session can now be SQL text. */
class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  test("INSERT INTO: fast-append on manifested tables; column list and static partition") {
    val wh = tmpDir("sqlins")
    Upsert.upsert(spark, s"$wh/t",
      Seq((1, "p1", 10.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val cat = new Catalog(spark, wh)
    val pre = PartitionSnapshots.currentRootVersion(spark, s"$wh/t").get
        // positional VALUES follow the table's column order — partition
    // columns LAST, exactly as SELECT * serves them (the hive contract)
    cat.sql("INSERT INTO t VALUES (2, 20.0, 'p2')")
    // column list: v omitted -> NULL
    cat.sql("INSERT INTO t (k, part) VALUES (3, 'p1')")
    // static partition value
    cat.sql("INSERT INTO t PARTITION (part='p2') (k, v) VALUES (4, 40.0)")
    // INSERT ... SELECT
    Seq((5, "p1", 50.0)).toDF("a", "b", "c").createOrReplaceTempView("ins_src")
    cat.sql("INSERT INTO t SELECT a, c, b FROM ins_src")
    val got = cat.read("t").collect().map(r => (r.getAs[Int]("k"),
      r.getAs[String]("part"), Option(r.getAs[java.lang.Double]("v")))).toSet
    got shouldBe Set((1, "p1", Some(10.0)), (2, "p2", Some(20.0)),
      (3, "p1", None), (4, "p2", Some(40.0)), (5, "p1", Some(50.0)))
    // four INSERTs = four fast-append commits; the seed file never moved
    PartitionSnapshots.currentRootVersion(spark, s"$wh/t")
      .get shouldBe pre + 4
    assert(PartitionSnapshots.rootManifest(spark, s"$wh/t").get
      .apply("part=p1").contains("&"), "expected appended parts, not rewrites")
    // width mismatch and unknown columns refuse
    an[IllegalArgumentException] should be thrownBy
      cat.sql("INSERT INTO t VALUES (9, 'p1')")
    an[IllegalArgumentException] should be thrownBy
      cat.sql("INSERT INTO t (k, nope) VALUES (9, 1)")
  }

  test("INSERT OVERWRITE: dynamic partition overwrite in ONE commit") {
    val wh = tmpDir("sqlovr")
    Upsert.upsert(spark, s"$wh/t",
      Seq((1, "p1", 10.0), (2, "p1", 20.0), (3, "p2", 30.0))
        .toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val cat = new Catalog(spark, wh)
    val pre = PartitionSnapshots.currentRootVersion(spark, s"$wh/t").get
    cat.sql("INSERT OVERWRITE t VALUES (9, 90.0, 'p1')")
      .collect().map(r => (r.getAs[Int]("k"), r.getAs[Double]("v")))
      .toSet shouldBe Set((9, 90.0), (3, 30.0)) // p1 replaced, p2 untouched
    PartitionSnapshots.currentRootVersion(spark, s"$wh/t").get shouldBe pre + 1
    // time travel to the pre-overwrite root still serves the old p1
    PartitionSnapshots.read(spark, s"$wh/t", asOf = pre)
      .count() shouldBe 3L
  }

  test("ALTER TABLE: ADD, RENAME, ALTER TYPE, DROP — metadata-only commits") {
    val wh = tmpDir("sqlddl")
    Upsert.upsert(spark, s"$wh/t",
      Seq((1, "p1", 10), (2, "p2", 20)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val cat = new Catalog(spark, wh)
    cat.sql("ALTER TABLE t ADD COLUMN note STRING")
      .columns should contain("note")
    cat.sql("ALTER TABLE t RENAME COLUMN v TO amount")
      .where(col("k") === 2).head().getAs[Int]("amount") shouldBe 20
    cat.sql("ALTER TABLE t ALTER COLUMN amount TYPE BIGINT")
      .schema("amount").dataType shouldBe LongType
    cat.sql("ALTER TABLE t DROP COLUMN note")
      .columns should not contain "note"
    // the whole DDL session was metadata-only: still two partitions,
    // original data intact under the final shape
    cat.read("t").agg(sum("amount")).head().getLong(0) shouldBe 30L
    an[IllegalArgumentException] should be thrownBy
      cat.sql("ALTER TABLE t ALTER COLUMN amount TYPE INT") // narrowing
    an[IllegalArgumentException] should be thrownBy
      cat.sql("ALTER TABLE t RENAME COLUMN part TO seg") // partition col
  }

  test("CREATE TABLE / CTAS / DROP TABLE / TRUNCATE as text") {
    val wh = tmpDir("sqlcrt")
    val cat = new Catalog(spark, wh)
    cat.sql("CREATE TABLE dim (id INT, name STRING) PARTITIONED BY (region STRING)")
    // readable as schema-typed empty before first data
    val empty = cat.read("dim")
    empty.count() shouldBe 0L
    empty.schema.fieldNames.toSet shouldBe Set("id", "name", "region")
    cat.sql("CREATE TABLE IF NOT EXISTS dim (id INT) ") // no-op, no clobber
    an[IllegalArgumentException] should be thrownBy
      cat.sql("CREATE TABLE dim (id INT)")
    // CTAS from a query over another table
    Seq((1, "a"), (2, "b")).toDF("id", "name").createOrReplaceTempView("ctas_src")
    cat.sql("CREATE TABLE copy AS SELECT id, upper(name) AS name FROM ctas_src")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet shouldBe
      Set((1, "A"), (2, "B"))
    // TRUNCATE: metadata-only EMPTY flip on a manifested table
    Upsert.upsert(spark, s"$wh/m", Seq((1, "p1", 1.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val pre = PartitionSnapshots.currentRootVersion(spark, s"$wh/m").get
    cat.sql("TRUNCATE TABLE m").count() shouldBe 0L
    PartitionSnapshots.read(spark, s"$wh/m", asOf = pre).count() shouldBe 1L
    // a TRUNCATEd table is still a table: refill it through SQL
    cat.sql("INSERT INTO m VALUES (2, 2.0, 'p2')").count() shouldBe 1L
    // DROP TABLE
    cat.sql("SELECT count(*) FROM copy") // registers the temp view
    cat.sql("DROP TABLE copy")
    cat.tableExists("copy") shouldBe false
    cat.sql("DROP TABLE IF EXISTS copy") // idempotent
    an[IllegalArgumentException] should be thrownBy cat.sql("DROP TABLE copy")
    // ... and the stale temp view died with it: a later SELECT fails
    // with a clean resolution error, not a plan over deleted files
    an[Exception] should be thrownBy cat.sql("SELECT * FROM copy").collect()
    // DROP VIEW still falls through to spark.sql untouched
    cat.sql("DROP VIEW IF EXISTS ctas_src")
  }

  test("coercion safety: string column vs numeric literal never silently misses rows") {
    val wh = tmpDir("sqlcoer")
    // string key '05': SQL coerces the COLUMN up, so k = 5 MATCHES it —
    // a keyed/pruned route built from the round-tripped literal '5'
    // would miss it; these shapes must take the full-predicate route
    Upsert.upsert(spark, s"$wh/t",
      Seq(("05", "p1", 1.0), ("5", "p1", 2.0), ("7", "p2", 3.0))
        .toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val cat = new Catalog(spark, wh)
    cat.sql("UPDATE t SET v = 9.0 WHERE k = 5")
      .where(col("v") === 9.0).count() shouldBe 2L // BOTH '05' and '5'
    cat.sql("DELETE FROM t WHERE k = 5").count() shouldBe 1L
    // string-literal comparisons keep the cheap keyed routes (exact)
    cat.sql("DELETE FROM t WHERE k = '7'").count() shouldBe 0L
  }

  test("a PARTITIONED table is born manifested: SQL-only lifecycle end-to-end") {
    val wh = tmpDir("sqllife")
    val cat = new Catalog(spark, wh)
    cat.sql("CREATE TABLE t (k INT, v DOUBLE) PARTITIONED BY (part STRING)")
    PartitionSnapshots.isManifested(spark, s"$wh/t") shouldBe true
    cat.sql("INSERT INTO t VALUES (1, 10.0, 'p1')")
    cat.sql("INSERT INTO t VALUES (2, 20.0, 'p2')")
    // the full row-level surface works from the first commit
    cat.sql("UPDATE t SET v = v + 1 WHERE k = 1")
    cat.sql("ALTER TABLE t RENAME COLUMN v TO val")
    cat.sql("DELETE FROM t WHERE k = 2")
    cat.read("t").collect().map(r => (r.getAs[Int]("k"),
      r.getAs[Double]("val"))).toSeq shouldBe Seq((1, 11.0))
    // partitioned CTAS is manifested too
    cat.sql("CREATE TABLE c PARTITIONED BY (part) AS SELECT * FROM t")
    PartitionSnapshots.isManifested(spark, s"$wh/c") shouldBe true
    cat.read("c").count() shouldBe 1L
    // a hive-partitioned plain dir is migrated keyed by its own layout:
    // the INSERT lands as a new partition beside the old files
    Seq((1, "p1", 1.0)).toDF("k", "part", "v").write
      .partitionBy("part").parquet(s"$wh/flatp")
    cat.sql("INSERT INTO flatp VALUES (2, 2.0, 'p2')")
      .collect().map(r => (r.getAs[Int]("k"), r.getAs[String]("part"),
        r.getAs[Double]("v"))).toSet shouldBe
      Set((1, "p1", 1.0), (2, "p2", 2.0))
    PartitionSnapshots.partitionCols(spark, s"$wh/flatp") shouldBe Seq("part")
  }

  test("TRUNCATE an unpartitioned table: schema-typed empty, then refilled by INSERT") {
    val wh = tmpDir("sqltrunc")
    Upsert.upsert(spark, s"$wh/u", Seq((1, 1.0), (2, 2.0)).toDF("k", "v"),
      Seq("k"))
    val cat = new Catalog(spark, wh)
    val empty = cat.sql("TRUNCATE TABLE u")
    empty.count() shouldBe 0L
    cat.read("u").count() shouldBe 0L
    cat.read("u").schema.map(f => (f.name, f.dataType)) shouldBe
      Seq(("k", IntegerType), ("v", DoubleType))
    cat.sql("INSERT INTO u VALUES (3, 3.0)")
      .collect().map(r => (r.getInt(0), r.getDouble(1))) shouldBe
      Array((3, 3.0))
  }

  test("every Catalog write leaves a manifested table") {
    val wh = tmpDir("sqlmanif")
    val cat = new Catalog(spark, wh)
    Seq((1, "a"), (2, "b")).toDF("id", "region").createOrReplaceTempView("mf_src")
    // (table, statement, expected (id, region) rows); every table reads
    // as (id INT, region STRING), the partition column last
    val cases: Seq[(String, () => Any, Set[(Int, String)])] = Seq(
      ("c_flat", () => cat.sql("CREATE TABLE c_flat (id INT, region STRING)"),
        Set()),
      ("c_part", () => cat.sql(
        "CREATE TABLE c_part (id INT) PARTITIONED BY (region STRING)"), Set()),
      ("ctas_flat", () => cat.sql(
        "CREATE TABLE ctas_flat AS SELECT * FROM mf_src"),
        Set((1, "a"), (2, "b"))),
      ("ctas_part", () => cat.sql(
        "CREATE TABLE ctas_part PARTITIONED BY (region) AS SELECT * FROM mf_src"),
        Set((1, "a"), (2, "b"))),
      ("api", () => cat.createIfNotExists("api",
        Seq((1, "a")).toDF("id", "region"), Seq("region")), Set((1, "a"))),
      ("ddl", () => cat.createTableDdl("ddl", "id INT, region STRING"), Set()),
      ("merge_new", () => {
        // the general MERGE leg over a created, still empty table
        cat.sql("CREATE TABLE merge_new (id INT) PARTITIONED BY (region STRING)")
        cat.sql("""MERGE INTO merge_new t USING mf_src s ON t.id = s.id
                  |WHEN MATCHED AND t.region = 'a' THEN DELETE
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }, Set((1, "a"), (2, "b"))),
      ("ins_plain", () => {
        Seq((1, "a")).toDF("id", "region").write.parquet(s"$wh/ins_plain")
        cat.sql("INSERT INTO ins_plain VALUES (2, 'b')")
      }, Set((1, "a"), (2, "b"))),
      ("merge_plain", () => {
        Seq((1, "x")).toDF("id", "region").write.parquet(s"$wh/merge_plain")
        cat.sql("""MERGE INTO merge_plain t USING mf_src s ON t.id = s.id
                  |WHEN MATCHED THEN UPDATE SET *
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }, Set((1, "a"), (2, "b"))))
    cases.foreach { case (name, run, rows) =>
      withClue(s"$name: ") {
        run()
        val path = s"$wh/$name"
        PartitionSnapshots.isManifested(spark, path) shouldBe true
        PartitionSnapshots.currentRootVersion(spark, path) should not be empty
        new java.io.File(s"$path/_graft_schema.json").exists() shouldBe false
        val df = cat.read(name)
        df.schema.map(f => (f.name, f.dataType)) shouldBe
          Seq(("id", IntegerType), ("region", StringType))
        df.collect().map(r => (r.getAs[Int]("id"), r.getAs[String]("region")))
          .toSet shouldBe rows
      }
    }
    // an empty partitioned table types its partition column as declared
    cat.sql("CREATE TABLE c_day (id INT) PARTITIONED BY (day DATE)")
      .schema("day").dataType shouldBe DateType
  }

  test("a DDL-declared partition column keeps its declared type across commits") {
    val wh = tmpDir("sqlpintype")
    val cat = new Catalog(spark, wh)
    val t = s"$wh/t"
    cat.sql("CREATE TABLE t (k INT) PARTITIONED BY (region STRING)")
    cat.sql("INSERT INTO t VALUES (1, '7')")
    cat.read("t").schema("region").dataType shouldBe StringType
    // typed by its dir value '7', region would cast 'x' to INT and fail
    cat.sql("INSERT INTO t VALUES (2, 'x')")
    cat.sql("INSERT INTO t VALUES (3, '7')")
    def rows: Set[(Int, String)] = cat.read("t").collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("region"))).toSet
    rows shouldBe Set((1, "7"), (2, "x"), (3, "7"))
    // the pin's readers: row-position reads (a positional DELETE, an
    // UPDATE), the change feed, and compaction's fold read
    val before = PartitionSnapshots.currentRootVersion(spark, t).get
    cat.sql("DELETE FROM t WHERE k >= 3")
    cat.sql("UPDATE t SET k = 20 WHERE k = 2")
    rows shouldBe Set((1, "7"), (20, "x"))
    val after = PartitionSnapshots.currentRootVersion(spark, t).get
    PartitionSnapshots.changes(spark, t, before, after).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("region"),
        r.getAs[String]("change_type"))).toSet shouldBe
      Set((3, "7", "delete"), (2, "x", "delete"), (20, "x", "insert"))
    PartitionSnapshots.compact(spark, t, minFiles = 1).keySet shouldBe
      Set("region=7", "region=x")
    rows shouldBe Set((1, "7"), (20, "x"))
    cat.read("t").schema("region").dataType shouldBe StringType
    // the folded files hold data columns only; the dir carries region
    val state = PartitionSnapshots.rootManifest(spark, t).get("region=7")
    spark.read.parquet(s"$t/region=7/_versions/$state").columns shouldBe
      Array("k")
  }

  test("snapshot and flat tables: INSERT routes through their own commit flavors") {
    val wh = tmpDir("sqlinsf")
    val cat = new Catalog(spark, wh)
    // snapshot (whole-table versioned: an unpartitioned manifested table)
    Upsert.replace(spark, s"$wh/s", Seq((1, 1.0)).toDF("k", "v"))
    cat.sql("INSERT INTO s VALUES (2, 2.0)").count() shouldBe 2L
    cat.sql("INSERT OVERWRITE s VALUES (9, 9.0)").count() shouldBe 1L
    // flat unpartitioned dir
    Seq((1, 1.0)).toDF("k", "v").write.parquet(s"$wh/f")
    cat.sql("INSERT INTO f VALUES (2, 2.0)").count() shouldBe 2L
    cat.sql("INSERT OVERWRITE f VALUES (9, 9.0)").count() shouldBe 1L
  }

  test("CALL system.*: maintenance procedures as SQL text") {
    val wh = tmpDir("sqlcall")
    val t = s"$wh/t"
    // fragment two partitions with several appends
    Upsert.upsert(spark, t, Seq((1, "p1", 1.0), (2, "p2", 2.0))
      .toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    for (i <- 3 to 10)
      Upsert.append(spark, t,
        Seq((i, if (i % 2 == 0) "p2" else "p1", i.toDouble))
          .toDF("k", "part", "v"), Seq("part"))
    val cat = new Catalog(spark, wh)
    val preRows = cat.read("t").collect().map(_.toSeq).toSet
    val preFiles = PartitionSnapshots.filesMeta(spark, t).count()
    // CALL-driven compaction: row-preserving, file count drops
    val out = cat.sql(
      "CALL graft.system.rewrite_data_files(table => 't', min_files => 2)")
    out.columns.toSeq shouldBe Seq("partition", "files_before", "files_after")
    out.count() should be > 0L
    val postFiles = PartitionSnapshots.filesMeta(spark, t).count()
    postFiles should be < preFiles
    cat.read("t").collect().map(_.toSeq).toSet shouldBe preRows
    // dry-run orphan sweep: reports, deletes nothing
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(s"$t/_staging-crashed")
    fs.mkdirs(orphan)
    fs.setTimes(orphan, System.currentTimeMillis() - 48L * 3600 * 1000, -1)
    val dry = cat.sql(
      "CALL system.remove_orphan_files(table => 't', dry_run => true)")
    dry.collect().map(_.getString(0)) should contain("_staging-crashed")
    assert(fs.exists(orphan), "dry run must not delete")
    cat.sql("CALL system.remove_orphan_files('t')")
    assert(!fs.exists(orphan), "real sweep removes the aged debris")
    // branch lifecycle + fast-forward as text
    val v0 = PartitionSnapshots.currentRootVersion(spark, t).get
    cat.sql("CALL system.create_branch(table => 't', branch => 'wip')")
      .head().getString(0) shouldBe "wip"
    Upsert.upsert(spark, t, Seq((99, "p1", 99.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"), branch = Some("wip"))
    cat.read("t").where(col("k") === 99).count() shouldBe 0L // staged only
    val ff = cat.sql("CALL system.fast_forward(table => 't', branch => 'wip')")
    ff.head().getLong(1) should be > v0
    cat.read("t").where(col("k") === 99).count() shouldBe 1L
    cat.sql("CALL system.drop_branch('t', 'wip')")
    // expire_snapshots: old roots die, current survives
    Thread.sleep(100)
    val expired = cat.sql(
      "CALL system.expire_snapshots(table => 't', older_than_ms => 0)")
    expired.count() should be > 0L
    cat.read("t").collect().length shouldBe preRows.size + 1
    // tags + rollback as text
    val cur = PartitionSnapshots.currentRootVersion(spark, t).get
    cat.sql(s"CALL system.create_tag('t', 'audit', $cur)")
      .head().getLong(1) shouldBe cur
    cat.sql("CALL system.drop_tag('t', 'audit')")
    // refusals are loud: unknown procedure, missing arg, unknown table
    an[IllegalArgumentException] should be thrownBy
      cat.sql("CALL system.no_such_proc('t')")
    an[IllegalArgumentException] should be thrownBy
      cat.sql("CALL system.rewrite_data_files(min_files => 2)")
    an[IllegalArgumentException] should be thrownBy
      cat.sql("CALL system.expire_snapshots('nope')")
    // a positional arg AFTER a named one would bind by leading-parameter
    // index (64 → target_file_size_bytes here, not what was written) —
    // SQL forbids the order; refuse rather than silently mis-bind
    an[IllegalArgumentException] should be thrownBy
      cat.sql("CALL system.rewrite_data_files('t', min_files => 2, 64)")
  }

  test("SHOW TABLES and DESCRIBE answer from metadata only") {
    val wh = tmpDir("sqlshow")
    val cat = new Catalog(spark, wh)
    Upsert.upsert(spark, s"$wh/dim",
      Seq((1, "p1", 1.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Seq((1, 2)).toDF("a", "b").write.parquet(s"$wh/flat")
    val st = cat.sql("SHOW TABLES")
    st.columns.toSeq shouldBe Seq("namespace", "tableName", "isTemporary")
    st.collect().map(_.getString(1)).sorted shouldBe Array("dim", "flat")
    val desc = cat.sql("DESCRIBE TABLE dim").collect()
      .map(r => (r.getString(0), r.getString(1)))
    desc.take(3).toSeq shouldBe Seq(("k", "int"), ("v", "double"),
      ("part", "string"))
    desc.map(_._1) should contain("# Partition Information")
    // METADATA-ONLY pin: physically remove the partition's data files —
    // DESCRIBE still answers (zero listings/opens), a scan would not
    val fs = new org.apache.hadoop.fs.Path(s"$wh/dim")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$wh/dim/part=p1/_versions"),
      true)
    val desc2 = cat.sql("DESCRIBE dim").collect()
    desc2.map(r => r.getString(0)) should contain("k")
    an[Exception] should be thrownBy cat.sql("SELECT * FROM dim").collect()
    // unknown table refuses (through Spark's own resolution — the
    // warehouse miss falls back rather than require-failing, so …)
    an[Exception] should be thrownBy cat.sql("DESCRIBE nope")
    // … a caller-registered TEMP VIEW answers through spark.sql again
    Seq((1, "x")).toDF("id", "s").createOrReplaceTempView("caller_view")
    val dtv = cat.sql("DESCRIBE caller_view").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    dtv should contain allOf (("id", "int"), ("s", "string"))
    // SHOW CREATE TABLE: the recreate statement, round-trippable
    val stmt = cat.sql("SHOW CREATE TABLE dim").head().getString(0)
    stmt should include("PARTITIONED BY (part STRING)")
    stmt should include("k INT")
    val wh2 = tmpDir("sqlshow2")
    val cat2 = new Catalog(spark, wh2)
    cat2.sql(stmt.replace("CREATE TABLE dim", "CREATE TABLE dim2"))
    cat2.sql("DESCRIBE dim2").collect().map(_.getString(0)) should
      contain("part")
  }

  test("inspection tables as SQL: t.files / t.snapshots / t.partitions / t.refs") {
    val wh = tmpDir("sqlmeta")
    val t = s"$wh/t"
    Upsert.upsert(spark, t,
      Seq((1, "p1", 1.0), (2, "p2", 2.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Upsert.append(spark, t, Seq((3, "p1", 3.0)).toDF("k", "part", "v"),
      Seq("part"))
    PartitionSnapshots.tagRoot(spark, t, "audit")
    val cat = new Catalog(spark, wh)
    // snapshots: two commits, head current; composes with WHERE/ORDER BY
    val snaps = cat.sql(
      "SELECT root_version, is_current FROM t.snapshots ORDER BY root_version")
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    snaps.map(_._1).toSeq shouldBe Seq(1L, 2L)
    snaps.last._2 shouldBe true
    // files: aggregate over the live file set, qualified by the meta name
    cat.sql("SELECT count(*) AS n FROM t.files WHERE files.content = 'data'")
      .head().getLong(0) should be >= 2L
    // partitions: manifest-recorded row counts, no scan
    cat.sql(
      """SELECT partition, row_count FROM t.partitions
        |ORDER BY partition""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe
      Seq(("part=p1", 2L), ("part=p2", 1L))
    // refs: main + the tag
    cat.sql("SELECT name, type FROM t.refs ORDER BY name").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq shouldBe
      Seq(("audit", "tag"), ("main", "main"))
    // a metadata table JOINS with a data table in one statement
    cat.sql(
      """SELECT p.partition, count(*) AS rows_scanned
        |FROM t JOIN t.partitions p
        |  ON concat('part=', t.part) = p.partition
        |GROUP BY p.partition ORDER BY p.partition""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe
      Seq(("part=p1", 2L), ("part=p2", 1L))
    // history: Iceberg's column shape; a branch-staged slot is NOT a
    // current ancestor, the published line is
    PartitionSnapshots.createBranch(spark, t, "wip")
    Upsert.upsert(spark, t, Seq((9, "p1", 9.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"), branch = Some("wip"))
    val hist = cat.sql(
      """SELECT snapshot_id, is_current_ancestor FROM t.history
        |ORDER BY snapshot_id""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getBoolean(1)))
    hist.map(_._1).toSeq shouldBe Seq(1L, 2L, 3L)
    hist.toSeq shouldBe Seq((1L, true), (2L, true), (3L, false))
    PartitionSnapshots.dropBranch(spark, t, "wip")
    // unknown meta name / non-manifested table keep the ordinary error
    an[Exception] should be thrownBy cat.sql("SELECT * FROM t.nosuchmeta")
    Seq((1, 2)).toDF("a", "b").write.parquet(s"$wh/flat")
    an[Exception] should be thrownBy cat.sql("SELECT * FROM flat.files")
  }
}
