package graft

import org.apache.spark.sql.functions._

import graft.operators.Upsert
import graft.sources.PartitionSnapshots
import graft.streaming.Streams

/** STRUCTURAL-COMMIT REPLAY MATRIX — the regression class behind the
  * round-10 changelog fix, generalized: a full-history changelog replay
  * (stream from version 1) must NET to the table's current image across
  * EVERY structural commit kind the engine can put in a root chain. A
  * new structural feature that breaks replay (wedged checkpoint, missing
  * column, phantom/lost rows) fails HERE, not in production.
  *
  * Registration is compiler-checked: `StructuralKind` is sealed and
  * [[ChangelogReplayMatrixSpec.stageOf]] matches on it exhaustively —
  * adding a kind without staging logic trips the non-exhaustive-match
  * warning and the `AllKinds` size pin below. */
object ReplayMatrix {
  sealed trait StructuralKind { def id: String }
  case object SchemaEvolution extends StructuralKind { val id = "schemaevo" }
  case object SpecEvolution extends StructuralKind { val id = "specevo" }
  case object HiddenBucketEvolution extends StructuralKind { val id = "hidbkt" }
  case object DropPartitions extends StructuralKind { val id = "dropparts" }
  case object BranchFastForward extends StructuralKind { val id = "branchff" }
  case object BranchRebase extends StructuralKind { val id = "branchrb" }
  case object Compaction extends StructuralKind { val id = "compact" }
  case object EqualityDelete extends StructuralKind { val id = "eqdel" }
  case object PositionalDelete extends StructuralKind { val id = "posdel" }
  case object FileScopedMerge extends StructuralKind { val id = "fscope" }
  case object OptimisticAppend extends StructuralKind { val id = "optapp" }
  case object ColumnRename extends StructuralKind { val id = "colrename" }
  case object ColumnWidenDrop extends StructuralKind { val id = "colwdrop" }
  case object InsertOverwrite extends StructuralKind { val id = "insovr" }

  val AllKinds: Seq[StructuralKind] = Seq(SchemaEvolution, SpecEvolution,
    HiddenBucketEvolution, DropPartitions, BranchFastForward, BranchRebase,
    Compaction, EqualityDelete, PositionalDelete, FileScopedMerge,
    OptimisticAppend, ColumnRename, ColumnWidenDrop, InsertOverwrite)
}

class ChangelogReplayMatrixSpec extends SparkSpec {
  import spark.implicits._
  import ReplayMatrix._

  /** v1 seed every kind starts from: two partitions, `hour` as a data
    * column (so spec evolution has something to promote). */
  private def seed(path: String): Unit =
    Upsert.upsert(spark, path,
      Seq((1, "p1", 3, 10), (2, "p2", 7, 20)).toDF("k", "part", "hour", "v"),
      Seq("k"), partitionCols = Seq("part"))

  /** The kind's structural commit plus surrounding data commits — the
    * EXHAUSTIVE match that forces every new StructuralKind to register
    * staging logic here. */
  private def stageOf(kind: StructuralKind, path: String): Unit = kind match {
    case SchemaEvolution =>
      Upsert.upsert(spark, path,
        Seq((3, "p1", 9, 30, "x")).toDF("k", "part", "hour", "v", "tag"),
        Seq("k"), partitionCols = Seq("part"), evolveSchema = true)
      Upsert.append(spark, path,
        Seq((4, "p2", 5, 40, "y")).toDF("k", "part", "hour", "v", "tag"),
        Seq("part"))
    case SpecEvolution =>
      PartitionSnapshots.evolvePartitionSpec(spark, path, Seq("part", "hour"))
      // new-spec insert + an update whose key lives in an old-spec dir
      Upsert.upsert(spark, path,
        Seq((3, "p1", 9, 30), (1, "p1", 3, 11)).toDF("k", "part", "hour", "v"),
        Seq("k"), partitionCols = Seq("part", "hour"))
    case HiddenBucketEvolution =>
      PartitionSnapshots.evolvePartitionSpec(spark, path,
        Seq("part", "bucket(4, k)"))
      Upsert.upsert(spark, path,
        Seq((3, "p1", 9, 30), (2, "p2", 7, 21)).toDF("k", "part", "hour", "v"),
        Seq("k"), partitionCols = PartitionSnapshots.partitionCols(spark, path))
    case DropPartitions =>
      Upsert.append(spark, path,
        Seq((3, "p3", 1, 30)).toDF("k", "part", "hour", "v"), Seq("part"))
      PartitionSnapshots.dropPartitions(spark, path,
        m => m("part") == "p2") shouldBe Seq("part=p2")
    case BranchFastForward =>
      PartitionSnapshots.createBranch(spark, path, "stage")
      Upsert.upsert(spark, path,
        Seq((3, "p1", 9, 30)).toDF("k", "part", "hour", "v"),
        Seq("k"), partitionCols = Seq("part"), branch = Some("stage"))
      PartitionSnapshots.fastForwardRoot(spark, path, "stage")
    case BranchRebase =>
      PartitionSnapshots.createBranch(spark, path, "stage")
      Upsert.upsert(spark, path,
        Seq((3, "p2", 9, 30)).toDF("k", "part", "hour", "v"),
        Seq("k"), partitionCols = Seq("part"), branch = Some("stage"))
      Upsert.upsert(spark, path,
        Seq((1, "p1", 3, 11)).toDF("k", "part", "hour", "v"),
        Seq("k"), partitionCols = Seq("part"))
      PartitionSnapshots.fastForwardRoot(spark, path, "stage", rebase = true)
    case Compaction =>
      Upsert.append(spark, path,
        Seq((3, "p1", 9, 30)).toDF("k", "part", "hour", "v"), Seq("part"))
      PartitionSnapshots.compact(spark, path, minFiles = 1)
        .keySet should not be empty
    case EqualityDelete =>
      PartitionSnapshots.deleteKeys(spark, path, Seq(2).toDF("k")) shouldBe true
      Upsert.append(spark, path,
        Seq((3, "p1", 9, 30)).toDF("k", "part", "hour", "v"), Seq("part"))
    case PositionalDelete =>
      val doomed = PartitionSnapshots.readWithRowPos(spark, path)
        .where(col("k") === 2).select("_pos_path", "_pos_ordinal")
      PartitionSnapshots.deletePositions(spark, path, doomed) shouldBe true
      Upsert.append(spark, path,
        Seq((3, "p1", 9, 30)).toDF("k", "part", "hour", "v"), Seq("part"))
    case FileScopedMerge =>
      // range-split files so the keyed merge leaves survivor tokens
      Upsert.append(spark, path,
        (10 to 29).map(i => (i, "p1", i % 24, i)).toDF("k", "part", "hour", "v")
          .repartitionByRange(3, col("k")),
        Seq("part"))
      Upsert.upsert(spark, path,
        Seq((12, "p1", 12, 120)).toDF("k", "part", "hour", "v"),
        Seq("k"), partitionCols = Seq("part"))
    case OptimisticAppend =>
      // two RACING appenders to the same partition — both must commit
      // (fast-append parts compose) and the changelog must net both
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = Seq(
        Seq((10, "p1", 1, 100)).toDF("k", "part", "hour", "v"),
        Seq((11, "p1", 2, 110), (12, "p2", 3, 120))
          .toDF("k", "part", "hour", "v")).map { df =>
        val t = new Thread(() =>
          try Upsert.appendOptimistic(spark, path, df, Seq("part"))
          catch { case e: Throwable => errs.add(e) })
        t.start(); t
      }
      ts.foreach(_.join(60000))
      assert(errs.isEmpty, s"optimistic appenders failed: $errs")
    case ColumnRename =>
      // rename the VALUE column mid-chain, then commit under the new
      // name and stack an equality delete — replay must serve the
      // pre-rename commits' rows under the stream's declared (current)
      // name, and the old-named delete file must still subtract
      PartitionSnapshots.renameColumn(spark, path, "v", "val")
      Upsert.upsert(spark, path,
        Seq((1, "p1", 3, 11)).toDF("k", "part", "hour", "val"),
        Seq("k"), partitionCols = Seq("part"))
      PartitionSnapshots.deleteKeys(spark, path, Seq(2).toDF("k")) shouldBe true
      Upsert.append(spark, path,
        Seq((3, "p1", 9, 30)).toDF("k", "part", "hour", "val"), Seq("part"))
    case ColumnWidenDrop =>
      // widen v to long (pre-widen feeds arrive int and must cast),
      // append beyond int range, then drop `hour` (pre-drop feeds carry
      // it and must conform away)
      PartitionSnapshots.widenColumn(spark, path, "v",
        org.apache.spark.sql.types.LongType)
      Upsert.append(spark, path,
        Seq((3, "p1", 9, 5000000000L)).toDF("k", "part", "hour", "v"),
        Seq("part"))
      PartitionSnapshots.dropColumn(spark, path, "hour")
      Upsert.append(spark, path,
        Seq((4, "p2", 7L)).toDF("k", "part", "v"), Seq("part"))
    case InsertOverwrite =>
      // a pending equality delete, then a partition REPLACE on top of
      // it (the overwrite retires the ref with the state swap), plus an
      // untouched partition and a post-overwrite append
      PartitionSnapshots.deleteKeys(spark, path, Seq(1).toDF("k")) shouldBe true
      PartitionSnapshots.overwritePartitions(spark, path,
        Seq((5, "p1", 2, 50)).toDF("k", "part", "hour", "v"))
      Upsert.append(spark, path,
        Seq((6, "p1", 4, 60)).toDF("k", "part", "hour", "v"), Seq("part"))
  }

  /** The invariant: inserts minus deletes of the FULL-history feed equal
    * the table's final image, whatever structural commits the chain holds. */
  private def assertNetReplay(kind: StructuralKind, path: String): Unit = {
    val name = s"replaymx_${kind.id}"
    val q = Streams.changelogStream(spark, path, startingVersion = Some(1L))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmpDir(name + "ck")).start()
    try q.processAllAvailable() finally q.stop()
    val feed = spark.table(name)
    val dataCols = feed.columns
      .filterNot(Set("change_type", "_commit_version").contains).toSeq
    val net = feed.groupBy(dataCols.map(col): _*)
      .agg(sum(when(col("change_type") === "insert", 1).otherwise(-1))
        .as("__n"))
      .where(col("__n") > 0).drop("__n")
    val expected = Upsert.read(spark, path)
    expected.columns.toSet shouldBe dataCols.toSet
    val gotRows = net.select(expected.columns.map(col).toSeq: _*)
      .collect().map(_.toSeq).toSet
    val expRows = expected.collect().map(_.toSeq).toSet
    assert(gotRows == expRows,
      s"[${kind.id}] net replay != table image\n  net: $gotRows\n  " +
        s"table: $expRows")
  }

  AllKinds.foreach { kind =>
    test(s"full-history replay nets to the table image across: ${kind.id}") {
      val path = tmpDir(s"rmx${kind.id}") + "/t"
      seed(path)
      stageOf(kind, path)
      assertNetReplay(kind, path)
    }
  }

  test("matrix registration pin: every structural kind is staged") {
    // AllKinds and stageOf's sealed match must cover the same set — a
    // new case object that skips either trips this (or the compiler's
    // exhaustiveness warning on stageOf)
    AllKinds.map(_.id).distinct.size shouldBe 14
  }

  test("root expiry cannot wedge a live changelog stream") {
    val path = tmpDir("rmxexpiry") + "/t"
    val ckpt = tmpDir("rmxexpiryck")
    seed(path)
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    def drain(): Unit = {
      val q = Streams.changelogStream(spark, path)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("k").collect().foreach(r => buf.add(r.getInt(0)))
        }
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    drain() // floor pinned at the seed head
    // commits, then expire everything older than the newest root
    Upsert.append(spark, path,
      Seq((3, "p1", 9, 30)).toDF("k", "part", "hour", "v"), Seq("part"))
    Upsert.append(spark, path,
      Seq((4, "p2", 5, 40)).toDF("k", "part", "hour", "v"), Seq("part"))
    drain()
    PartitionSnapshots.expireRoots(spark, path, olderThanMs = 0L)
    Upsert.append(spark, path,
      Seq((5, "p1", 2, 50)).toDF("k", "part", "hour", "v"), Seq("part"))
    drain() // must serve the post-expiry commit, not wedge on lost roots
    import scala.jdk.CollectionConverters._
    buf.asScala.toSeq.sorted shouldBe Seq(3, 4, 5)
  }
}
