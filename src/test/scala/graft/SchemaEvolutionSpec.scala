package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Upsert
import graft.sources.PartitionSnapshots

/** Non-additive schema evolution ([[PartitionSnapshots.renameColumn]] /
  * [[PartitionSnapshots.dropColumn]] / [[PartitionSnapshots.widenColumn]]
  * — Iceberg's rename/drop/widen, via per-version field-metadata
  * aliases instead of field ids): each op is ONE metadata-only root
  * commit; no data file is touched. Pins the read-side coalesce of
  * alias columns, delete-file conforming, time travel to pre-evolution
  * names, merge pruning through aliases, widened reads of narrow files,
  * and the loud refusals. */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def seed(wh: String): String = {
    val t = s"$wh/t"
    Upsert.upsert(spark, t,
      Seq((1, "p1", 10, "a"), (2, "p1", 20, "b"), (3, "p2", 30, "c"))
        .toDF("k", "part", "v", "tag"),
      Seq("k"), partitionCols = Seq("part"))
    t
  }

  test("rename: old files serve the new name; writes land; time travel keeps the old name") {
    val wh = tmpDir("sevo1"); val t = seed(wh)
    val preRename = PartitionSnapshots.currentRootVersion(spark, t).get
    PartitionSnapshots.renameColumn(spark, t, "v", "amount")
    // metadata-only: ONE root commit, zero data files rewritten
    PartitionSnapshots.currentRootVersion(spark, t).get shouldBe preRename + 1
    val cur = Upsert.read(spark, t)
    cur.columns should contain("amount")
    cur.columns should not contain "v"
    cur.where(col("k") === 2).head().getAs[Int]("amount") shouldBe 20
    // a MERGE under the NEW name rewrites the old-named file's row
    Upsert.upsert(spark, t, Seq((2, "p1", 99, "b2")).toDF("k", "part", "amount", "tag"),
      Seq("k"), partitionCols = Seq("part"))
    Upsert.read(spark, t).where(col("k") === 2).head()
      .getAs[Int]("amount") shouldBe 99
    // an APPEND under the new name coexists with pre-rename files in one read
    Upsert.append(spark, t, Seq((4, "p2", 40, "d")).toDF("k", "part", "amount", "tag"),
      Seq("part"))
    Upsert.read(spark, t).select(col("k"), col("amount")).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet shouldBe
      Set((1, 10), (2, 99), (3, 30), (4, 40))
    // time travel BEFORE the rename resolves the era's own name
    val old = PartitionSnapshots.read(spark, t, asOf = preRename)
    old.columns should contain("v")
    old.columns should not contain "amount"
    old.where(col("k") === 2).head().getAs[Int]("v") shouldBe 20
  }

  test("rename: pre-rename equality AND positional deletes still apply after the rename") {
    val wh = tmpDir("sevo2"); val t = seed(wh)
    // equality delete keyed on k=1 (file written under the current names)
    PartitionSnapshots.deleteKeys(spark, t, Seq(1).toDF("k"))
    // positional delete of k=3 via row positions
    val doomed = PartitionSnapshots.readWithRowPos(spark, t)
      .where(col("k") === 3).select(col("_pos_path"), col("_pos_ordinal"))
    PartitionSnapshots.deletePositions(spark, t, doomed)
    // rename the DELETE-KEY column itself: the old delete file's `k`
    // must conform to `id` at load
    PartitionSnapshots.renameColumn(spark, t, "k", "id")
    Upsert.read(spark, t).select("id").collect().map(_.getInt(0))
      .toSeq shouldBe Seq(2)
  }

  test("rename: stats-pruned merge on the renamed key still prunes via the alias") {
    // unit pin of the alias-aware exclusion: bounds recorded under the
    // OLD name exclude through the new name's aliases
    val st = PartitionSnapshots.PartStats(10L, Map("k" -> ("100", "200")))
    PartitionSnapshots.numericKeyExcluded("id", 5.0, 9.0, None,
      aliases = Seq("k"))(st) shouldBe true
    PartitionSnapshots.numericKeyExcluded("id", 150.0, 150.0, None,
      aliases = Seq("k"))(st) shouldBe false
    // absent under both names -> cannot prune
    PartitionSnapshots.numericKeyExcluded("id", 5.0, 9.0, None,
      aliases = Seq("z"))(st) shouldBe false
    // end-to-end: rename the key, merge a key far outside every
    // partition's bounds — the commit lands and content is right
    val wh = tmpDir("sevo3"); val t = seed(wh)
    PartitionSnapshots.renameColumn(spark, t, "k", "id")
    Upsert.upsert(spark, t,
      Seq((1000, "p1", 5, "z")).toDF("id", "part", "v", "tag"),
      Seq("id"), partitionCols = Seq("part"))
    Upsert.read(spark, t).count() shouldBe 4
  }

  test("drop: column disappears now, survives in time travel; delete-keyed drop refuses") {
    val wh = tmpDir("sevo4"); val t = seed(wh)
    val preDrop = PartitionSnapshots.currentRootVersion(spark, t).get
    PartitionSnapshots.dropColumn(spark, t, "tag")
    val cur = Upsert.read(spark, t)
    cur.columns should not contain "tag"
    cur.count() shouldBe 3
    PartitionSnapshots.read(spark, t, asOf = preDrop)
      .columns should contain("tag")
    // a live equality delete keying on a column blocks its drop
    PartitionSnapshots.deleteKeys(spark, t, Seq(2).toDF("k"))
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.dropColumn(spark, t, "k")
    // the table still reads (drop refused, nothing half-applied)
    Upsert.read(spark, t).count() shouldBe 2
  }

  test("drop tombstone: re-adding a dropped name refuses; old bytes never resurface") {
    val wh = tmpDir("sevo4t"); val t = seed(wh)
    PartitionSnapshots.dropColumn(spark, t, "tag")
    // re-adding the dropped name would re-serve the old files' bytes
    // under it (name-based mapping, no field ids) — refused LOUDLY at
    // the commit choke point, whatever surface attempts it
    val e1 = intercept[IllegalArgumentException] {
      PartitionSnapshots.addColumn(spark, t, "tag", StringType)
    }
    e1.getMessage should include("DROPPED")
    // … including different case and the SQL ALTER surface
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.addColumn(spark, t, "TAG", StringType)
    val cat = new graft.sources.Catalog(spark, wh)
    an[IllegalArgumentException] should be thrownBy
      cat.sql("ALTER TABLE t ADD COLUMN tag STRING")
    // … and a rename ONTO the tombstoned name
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.renameColumn(spark, t, "v", "tag")
    // the tombstone survives UNRELATED commits (carried slot to slot)
    Upsert.append(spark, t, Seq((7, "p1", 70))
      .toDF("k", "part", "v"), Seq("part"))
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.addColumn(spark, t, "tag", StringType)
    // rename-then-drop tombstones the whole alias graph
    PartitionSnapshots.renameColumn(spark, t, "v", "val2")
    PartitionSnapshots.dropColumn(spark, t, "val2")
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.addColumn(spark, t, "v", IntegerType)
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.addColumn(spark, t, "val2", IntegerType)
    // a FRESH name still adds fine, reads NULL over old files, and the
    // dropped columns stay invisible
    PartitionSnapshots.addColumn(spark, t, "tag2", StringType)
    val cur = Upsert.read(spark, t)
    cur.columns.toSet shouldBe Set("k", "part", "tag2")
    cur.where(col("tag2").isNotNull).count() shouldBe 0
    cur.count() shouldBe 4
  }

  test("widen int->long: narrow old files read wide; beyond-int appends land") {
    val wh = tmpDir("sevo5"); val t = seed(wh)
    PartitionSnapshots.widenColumn(spark, t, "v", LongType)
    val cur = Upsert.read(spark, t)
    cur.schema("v").dataType shouldBe LongType
    cur.where(col("k") === 3).head().getAs[Long]("v") shouldBe 30L
    Upsert.append(spark, t,
      Seq((9, "p2", 5000000000L, "w")).toDF("k", "part", "v", "tag"),
      Seq("part"))
    Upsert.read(spark, t).agg(sum("v")).head().getLong(0) shouldBe
      (10L + 20L + 30L + 5000000000L)
    // time travel pre-widen serves the narrow type
    PartitionSnapshots.read(spark, t, asOf = 1L)
      .schema("v").dataType shouldBe IntegerType
  }

  test("compaction folds MIXED pre/post-rename files without losing the renamed column") {
    val wh = tmpDir("sevocmp"); val t = seed(wh)
    // stack an old-named equality delete, rename, append under the new
    // name into the SAME partition — the fold must coalesce both eras
    // and still apply the old-named delete file
    PartitionSnapshots.deleteKeys(spark, t, Seq(1).toDF("k"))
    PartitionSnapshots.renameColumn(spark, t, "v", "amount")
    Upsert.append(spark, t,
      Seq((4, "p1", 40, "d"), (5, "p2", 50, "e")).toDF("k", "part", "amount", "tag"),
      Seq("part"))
    PartitionSnapshots.compact(spark, t, minFiles = 1).size should be > 0
    // post-compact state: one part per partition, no refs, VALUES intact
    val got = Upsert.read(spark, t).select("k", "amount").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    got shouldBe Set((2, 20), (3, 30), (4, 40), (5, 50))
    assert(!PartitionSnapshots.rootManifest(spark, t).get.values
      .exists(s => s.contains("+") || s.contains("&")),
      "compaction should fold parts and materialize the delete")
    // the fold REWROTE the files: values must live under the new name
    // in the new footers too (a raw re-read shows no NULLs)
    Upsert.read(spark, t).where(col("amount").isNull).count() shouldBe 0L
  }

  test("refusals: partition column, collisions, transform sources, narrowing") {
    val wh = tmpDir("sevo6"); val t = seed(wh)
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.renameColumn(spark, t, "part", "segment")
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.renameColumn(spark, t, "v", "tag") // live collision
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.renameColumn(spark, t, "nope", "x")
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.dropColumn(spark, t, "part")
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.widenColumn(spark, t, "v", StringType) // not widening
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.widenColumn(spark, t, "v", IntegerType) // same type
    // a renamed-away name stays reserved (alias collision)
    PartitionSnapshots.renameColumn(spark, t, "v", "amount")
    an[IllegalArgumentException] should be thrownBy
      PartitionSnapshots.renameColumn(spark, t, "tag", "v")
    // rename chain: amount -> val still serves the ORIGINAL files
    PartitionSnapshots.renameColumn(spark, t, "amount", "val")
    Upsert.read(spark, t).agg(sum("val")).head().getLong(0) shouldBe 60L
  }
}
