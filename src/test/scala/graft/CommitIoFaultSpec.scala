package graft

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.operators.Upsert
import graft.sources.{CommitIo, PartitionSnapshots, Snapshots}

/** Fault injection over the [[CommitIo]] seam: simulate the object-store
  * world where rename is COPY + DELETE (and can die between any two
  * object operations), and prove the reader contract holds at every torn
  * point — a crashed commit is INVISIBLE (readers serve the pre-commit
  * table; the debris is unpublished or hidden) or LOUD (the lease
  * refuses the next writer until TTL), never a partially-visible commit.
  * The clean [[CommitIo.MarkerClaim]] pass doubles as the proof that the
  * documented conditional-PUT strategy needs NO atomic rename at all. */
class CommitIoFaultSpec extends SparkSpec {
  import spark.implicits._

  private class InjectedCrash(at: String)
    extends RuntimeException(s"injected crash: $at")

  /** Crash at the `n`th call of the named primitive, at the requested
    * phase INSIDE the marker-claim copy protocol. */
  private class TornIo(primitive: String, phase: String, n: Int = 1)
      extends CommitIo {
    private var calls = 0
    private def boom(at: String): Nothing = throw new InjectedCrash(at)

    override def swapPointer(fs: FileSystem, pointer: Path,
                             bytes: Array[Byte]): Unit = {
      if (primitive == "pointer" && { calls += 1; calls == n }) phase match {
        case "before" => boom("pointer before swap")
        case "torn" =>
          // the local-FS delete→rename window: pointer GONE mid-swap
          fs.delete(pointer, false)
          boom("pointer deleted, replacement not renamed")
      }
      CommitIo.LocalFs.swapPointer(fs, pointer, bytes)
    }

    override def claimSlot(fs: FileSystem, staged: Path,
                           target: Path): Boolean = {
      if (primitive == "claim" && { calls += 1; calls == n }) {
        // marker-claim protocol, crashed at the requested phase
        fs.mkdirs(target.getParent)
        fs.mkdirs(target)
        require(CommitIo.LocalFs.createExclusive(fs,
          new Path(target, CommitIo.MarkerClaim.ClaimMarker),
          Array.emptyByteArray), "test: slot unexpectedly contested")
        if (phase == "after-marker") boom("claim marker only, no data")
        val files = fs.listStatus(staged).filter(_.isFile)
          .sortBy(_.getPath.getName != "_SUCCESS") // _SUCCESS last
          .reverse // data files first
        val upTo = if (phase == "mid-copy") math.max(1, files.length / 2)
                   else files.length
        files.take(upTo).foreach { st =>
          val in = fs.open(st.getPath)
          val data = try in.readAllBytes() finally in.close()
          val out = fs.create(new Path(target, st.getPath.getName), true)
          try out.write(data) finally out.close()
        }
        if (phase == "mid-copy") boom("half the slot's objects copied")
        boom("copied, staged dir not yet deleted") // "before-delete"
      }
      CommitIo.MarkerClaim.claimSlot(fs, staged, target)
    }

    override def createExclusive(fs: FileSystem, path: Path,
                                 bytes: Array[Byte]): Boolean =
      CommitIo.LocalFs.createExclusive(fs, path, bytes)
  }

  private def seed(wh: String): String = {
    val t = s"$wh/t"
    Upsert.upsert(spark, t,
      Seq((1, "p1", 10.0), (2, "p2", 20.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    t
  }

  private def rows(t: String): Set[(Int, String, Double)] =
    Upsert.read(spark, t).collect().map(r =>
      (r.getAs[Int]("k"), r.getAs[String]("part"),
        r.getAs[Double]("v"))).toSet

  test("clean marker-claim protocol: a full commit cycle without any rename") {
    val wh = tmpDir("ciomc")
    CommitIo.withIo(CommitIo.MarkerClaim) {
      val t = seed(wh)
      Upsert.upsert(spark, t, Seq((2, "p2", 21.0), (3, "p1", 30.0))
        .toDF("k", "part", "v"), Seq("k"), partitionCols = Seq("part"))
      PartitionSnapshots.deleteKeys(spark, t, Seq(1).toDF("k")) shouldBe true
      rows(t) shouldBe Set((2, "p2", 21.0), (3, "p1", 30.0))
      // time travel across the no-rename commits still serves
      val v1 = 1L
      PartitionSnapshots.read(spark, t, asOf = v1).count() shouldBe 2
    }
    // and the table remains fully readable under the default io
    rows(s"$wh/t") shouldBe Set((2, "p2", 21.0), (3, "p1", 30.0))
  }

  test("torn DATA-slot claims are invisible and the next commit renumbers past them") {
    for (phase <- Seq("after-marker", "mid-copy", "before-delete")) {
      val wh = tmpDir(s"ciod$phase")
      val t = seed(wh)
      val before = rows(t)
      an[InjectedCrash] should be thrownBy {
        CommitIo.withIo(new TornIo("claim", phase)) {
          Upsert.upsert(spark, t, Seq((1, "p1", 99.0)).toDF("k", "part", "v"),
            Seq("k"), partitionCols = Seq("part"))
        }
      }
      withClue(s"phase=$phase: ") {
        // the torn slot is unpublished (no _SUCCESS): readers serve the
        // pre-commit table exactly
        rows(t) shouldBe before
        // and a CLEAN retry lands, renumbering past the orphan slot
        Upsert.upsert(spark, t, Seq((1, "p1", 99.0)).toDF("k", "part", "v"),
          Seq("k"), partitionCols = Seq("part"))
        rows(t) shouldBe Set((1, "p1", 99.0), (2, "p2", 20.0))
      }
    }
  }

  test("a torn ROOT-manifest claim leaves the published root untouched") {
    val wh = tmpDir("cior")
    val t = seed(wh)
    val before = rows(t)
    val rootBefore = PartitionSnapshots.currentRootVersion(spark, t).get
    // claim #1 = the partition's data slot, claim #2 = the root slot
    an[InjectedCrash] should be thrownBy {
      CommitIo.withIo(new TornIo("claim", "mid-copy", n = 2)) {
        Upsert.upsert(spark, t, Seq((1, "p1", 77.0)).toDF("k", "part", "v"),
          Seq("k"), partitionCols = Seq("part"))
      }
    }
    rows(t) shouldBe before
    PartitionSnapshots.currentRootVersion(spark, t).get shouldBe rootBefore
    // retry: clean commit supersedes the orphaned data slot too
    Upsert.upsert(spark, t, Seq((1, "p1", 77.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    rows(t) shouldBe Set((1, "p1", 77.0), (2, "p2", 20.0))
  }

  test("a torn root-pointer swap serves a COMPLETE snapshot and self-heals") {
    val wh = tmpDir("ciop")
    val t = seed(wh)
    // the swap dies in the local-FS delete→rename window: _current gone
    an[InjectedCrash] should be thrownBy {
      CommitIo.withIo(new TornIo("pointer", "torn")) {
        Upsert.upsert(spark, t, Seq((2, "p2", 22.0)).toDF("k", "part", "v"),
          Seq("k"), partitionCols = Seq("part"))
      }
    }
    // every slot the crashed commit sealed is COMPLETE (_SUCCESS'd), so
    // the pointer-corrupt fallback serves a complete snapshot — the new
    // one here (bounded staleness forward, never partial data)
    val served = rows(t)
    served should (equal(Set((1, "p1", 10.0), (2, "p2", 20.0))) or
      equal(Set((1, "p1", 10.0), (2, "p2", 22.0))))
    // the next clean commit repairs the pointer and the world converges
    Upsert.upsert(spark, t, Seq((3, "p1", 30.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    rows(t) should contain((3, "p1", 30.0))
    PartitionSnapshots.currentRootVersion(spark, t) should not be empty
  }

  test("lease CAS: a torn (empty) lease file refuses writers until TTL, then takes over") {
    val wh = tmpDir("ciol")
    val t = seed(wh)
    // simulate a holder that crashed between create and token write
    val lp = new Path(s"$t" + "__lock")
    val f = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.create(lp, false).close()
    // within TTL: the next writer is refused LOUDLY
    an[Upsert.ConcurrentWriteException] should be thrownBy
      Upsert.upsert(spark, t, Seq((9, "p1", 9.0)).toDF("k", "part", "v"),
        Seq("k"), partitionCols = Seq("part"))
    // past TTL: the stale lease is taken over and the commit lands
    new java.io.File(lp.toUri.getPath)
      .setLastModified(System.currentTimeMillis() - 16 * 60 * 1000L) shouldBe
      true
    Upsert.upsert(spark, t, Seq((9, "p1", 9.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    rows(t) should contain((9, "p1", 9.0))
  }
}
