package graft

import graft.operators.Upsert
import graft.sources.PartitionSnapshots

/** Small-file compaction through PartitionSnapshots.compact: micro-batch
  * parts fold to one file per leaf with rows preserved exactly; partitioned
  * tables compact per leaf. */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def rows(t: String): Set[Seq[Any]] =
    Upsert.read(spark, t).collect().map(_.toSeq).toSet

  /** Compacts `t`, checks every leaf in `leaves` folded its `batches`
    * parts to one file with the rows unchanged, and that a rerun is a
    * no-op (folded leaves sit under the minFiles floor). */
  private def compactsTo(t: String, leaves: Set[String], batches: Int): Unit = {
    val before = rows(t)
    val report = PartitionSnapshots.compact(spark, t, minFiles = 2)
    report.keySet shouldBe leaves
    report.values.foreach { case (nb, na) =>
      nb shouldBe batches
      na shouldBe 1
    }
    rows(t) shouldBe before
    PartitionSnapshots.compact(spark, t, minFiles = 2) shouldBe Map.empty
  }

  test("compaction merges many small files and preserves rows exactly") {
    val t = tmpDir("compact") + "/t"
    // simulate 12 micro-batch appends
    for (b <- 0 until 12)
      Upsert.append(spark, t, (b * 100 until (b + 1) * 100)
        .map(i => (i.toLong, s"v$i")).toDF("k", "v").coalesce(1), Nil)
    compactsTo(t, Set(""), 12)
    Upsert.read(spark, t).inputFiles.length shouldBe 1
  }

  test("multi-level partitioned tables compact their leaf directories") {
    val t = tmpDir("compactml") + "/t"
    for (b <- 0 until 5)
      Upsert.append(spark, t,
        Seq((b.toLong, "p1", 10, b * 1.0), (b.toLong, "p2", 20, b * 2.0))
          .toDF("k", "a", "b", "v").coalesce(1), Seq("a", "b"))
    compactsTo(t, Set("a=p1/b=10", "a=p2/b=20"), 5)
  }

  test("partitioned compaction rewrites each partition independently") {
    val t = tmpDir("compactp") + "/t"
    for (b <- 0 until 6)
      Upsert.append(spark, t,
        Seq((b.toLong, "p1", b * 1.0), (b.toLong, "p2", b * 2.0))
          .toDF("k", "part", "v").coalesce(1), Seq("part"))
    compactsTo(t, Set("part=p1", "part=p2"), 6)
    // the partition column survives (it lives in the leaf path)
    Upsert.read(spark, t).where($"part" === "p1").count() shouldBe 6
  }
}
