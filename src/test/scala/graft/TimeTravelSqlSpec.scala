package graft

import org.apache.spark.sql.functions._

import graft.operators.Upsert
import graft.sources.{Catalog, PartitionSnapshots}

/** SQL time-travel read surface ([[graft.sources.Catalog.sql]] routing
  * `FROM t VERSION AS OF v / <tag>` and `TIMESTAMP AS OF ts` through the
  * engine's pinned snapshot reads): an Iceberg/Delta user's first
  * debugging query, as text. Pins that pinned reads serve the HISTORIC
  * answer (post-pin commits invisible), that tags resolve, that
  * timestamps resolve to the newest commit at-or-before, and that
  * expired versions / unknown tags / pre-history timestamps fail
  * loudly instead of silently serving current data. */
class TimeTravelSqlSpec extends SparkSpec {
  import spark.implicits._

  test("VERSION AS OF: number and tag pin a manifested root; later commits invisible") {
    val wh = tmpDir("ttsql")
    Upsert.upsert(spark, s"$wh/t",
      Seq((1, "p1", 10.0), (2, "p2", 20.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val v1 = PartitionSnapshots.currentRootVersion(spark, s"$wh/t").get
    PartitionSnapshots.tagRoot(spark, s"$wh/t", "audit2026", v1)
    Upsert.upsert(spark, s"$wh/t",
      Seq((2, "p2", 99.0), (3, "p1", 30.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val cat = new Catalog(spark, wh)
    // current sees the second commit
    cat.sql("SELECT sum(v) AS s FROM t").head().getDouble(0) shouldBe 139.0
    // pinned number serves the historic answer
    cat.sql(s"SELECT sum(v) AS s FROM t VERSION AS OF $v1")
      .head().getDouble(0) shouldBe 30.0
    // pinned TAG resolves through rootTags
    cat.sql("SELECT k, v FROM t VERSION AS OF 'audit2026' ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq shouldBe
      Seq((1, 10.0), (2, 20.0))
    // the pinned relation composes with the rest of the statement —
    // a self-join of two pinned versions in ONE statement
    cat.sql(
      s"""SELECT cur.k, cur.v - old.v AS dv
         |FROM t cur JOIN t VERSION AS OF $v1 old ON cur.k = old.k
         |ORDER BY cur.k""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq shouldBe
      Seq((1, 0.0), (2, 79.0))
  }

  test("TIMESTAMP AS OF: newest commit at-or-before; pre-history refuses") {
    val wh = tmpDir("ttts")
    Upsert.upsert(spark, s"$wh/t",
      Seq((1, "p1", 1.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Thread.sleep(1100) // distinct commit mtimes at 1s FS granularity
    val between = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(1100)
    Upsert.upsert(spark, s"$wh/t",
      Seq((1, "p1", 2.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val cat = new Catalog(spark, wh)
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    cat.sql(s"SELECT v FROM t TIMESTAMP AS OF '${fmt.format(between)}'")
      .head().getDouble(0) shouldBe 1.0 // the v1 answer
    // a future timestamp resolves to the current head
    cat.sql("SELECT v FROM t TIMESTAMP AS OF '2099-01-01 00:00:00'")
      .head().getDouble(0) shouldBe 2.0
    // pre-history fails loudly — never a silent fallback
    an[IllegalArgumentException] should be thrownBy cat.sql(
      "SELECT v FROM t TIMESTAMP AS OF '2000-01-01 00:00:00'")
  }

  test("snapshot (whole-table) versioned tables travel by number; refusals are loud") {
    val wh = tmpDir("ttsnap")
    Upsert.replace(spark, s"$wh/s", Seq((1, 1.0)).toDF("k", "v"))
    val v1 = PartitionSnapshots.currentRootVersion(spark, s"$wh/s").get
    Upsert.replace(spark, s"$wh/s", Seq((1, 1.0), (2, 2.0)).toDF("k", "v"))
    val cat = new Catalog(spark, wh)
    cat.sql(s"SELECT count(*) AS n FROM s VERSION AS OF $v1")
      .head().getLong(0) shouldBe 1L
    // an unknown tag fails loudly
    an[IllegalArgumentException] should be thrownBy
      cat.sql("SELECT * FROM s VERSION AS OF 'sometag'")
    // nonexistent (or expired) version fails loudly
    an[IllegalArgumentException] should be thrownBy
      cat.sql("SELECT * FROM s VERSION AS OF 99")
    // a FLAT table has no history at all
    Seq((1, 1.0)).toDF("k", "v").write.parquet(s"$wh/flat")
    an[IllegalArgumentException] should be thrownBy
      cat.sql("SELECT * FROM flat VERSION AS OF 1")
    // unknown tag on a manifested table names the tags it has
    Upsert.upsert(spark, s"$wh/m", Seq((1, "p1", 1.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    an[IllegalArgumentException] should be thrownBy
      cat.sql("SELECT * FROM m VERSION AS OF 'nosuchtag'")
    // expired manifested root fails loudly too
    an[IllegalArgumentException] should be thrownBy
      cat.sql("SELECT * FROM m VERSION AS OF 12345")
  }

  test("TIMESTAMP AS OF never serves branch-staged slots") {
    val wh = tmpDir("ttbr")
    val t = s"$wh/t"
    Upsert.upsert(spark, t, Seq((1, "p1", 1.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.createBranch(spark, t, "wip")
    Thread.sleep(1100)
    // the branch commit creates the NEWEST root slot — but it was never
    // the published state, so a now-timestamp must resolve past it
    Upsert.upsert(spark, t, Seq((1, "p1", 99.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"),
      branch = Some("wip"))
    val cat = new Catalog(spark, wh)
    cat.sql("SELECT v FROM t TIMESTAMP AS OF '2099-01-01 00:00:00'")
      .head().getDouble(0) shouldBe 1.0
  }

  test("TIMESTAMP AS OF never serves a rolled-back line (manifested and flat)") {
    val wh = tmpDir("ttrb")
    val t = s"$wh/t"
    Upsert.upsert(spark, t, Seq((1, "p1", 1.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    val v1 = PartitionSnapshots.currentRootVersion(spark, t).get
    Thread.sleep(1100)
    Upsert.upsert(spark, t, Seq((1, "p1", 2.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    PartitionSnapshots.rollbackRoot(spark, t, v1)
    val cat = new Catalog(spark, wh)
    // the abandoned v2 slot is newer on disk but off the published line
    cat.sql("SELECT v FROM t TIMESTAMP AS OF '2099-01-01 00:00:00'")
      .head().getDouble(0) shouldBe 1.0
    // a post-rollback commit forks a NEW line; the abandoned slot stays
    // invisible to timestamps between the old and new commits
    Thread.sleep(1100)
    Upsert.upsert(spark, t, Seq((2, "p1", 3.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    cat.sql("SELECT sum(v) AS s FROM t TIMESTAMP AS OF '2099-01-01 00:00:00'")
      .head().getDouble(0) shouldBe 4.0
    // unpartitioned (whole-table) tables: the pointer bounds the candidates
    val s = s"$wh/s"
    def commit(df: org.apache.spark.sql.DataFrame): Long = {
      Upsert.replace(spark, s, df)
      PartitionSnapshots.currentRootVersion(spark, s).get
    }
    val sv1 = commit(Seq((1, 1.0)).toDF("k", "v"))
    Thread.sleep(1100)
    commit(Seq((1, 1.0), (2, 2.0)).toDF("k", "v"))
    PartitionSnapshots.rollbackRoot(spark, s, sv1)
    cat.sql("SELECT count(*) AS n FROM s TIMESTAMP AS OF '2099-01-01 00:00:00'")
      .head().getLong(0) shouldBe 1L
    // flat rollback THEN a new commit: v3 = max(existing)+1 repoints
    // ABOVE the abandoned v2, so a pointer ceiling alone would serve v2
    // to a timestamp between v2's and v3's mtimes — the recorded
    // lineage (v3 → v1) must keep it invisible
    Thread.sleep(1100)
    commit(Seq((1, 1.0), (9, 9.0), (10, 10.0)).toDF("k", "v")) shouldBe 3L
    val f2 = new java.io.File(s"$s/_root/_versions/v00000002")
    val f3 = new java.io.File(s"$s/_root/_versions/v00000003")
    val betweenFlat = new java.sql.Timestamp(
      (f2.lastModified() + f3.lastModified()) / 2)
    cat.sql(s"SELECT count(*) AS n FROM s TIMESTAMP AS OF " +
        s"'${fmtTs(betweenFlat)}'").head().getLong(0) shouldBe 1L
    cat.sql("SELECT count(*) AS n FROM s TIMESTAMP AS OF '2099-01-01 00:00:00'")
      .head().getLong(0) shouldBe 3L
  }

  private def fmtTs(ts: java.sql.Timestamp): String =
    new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS").format(ts)
}
