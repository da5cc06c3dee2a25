package graft

import org.apache.spark.sql.functions._

import graft.operators.Upsert
import graft.sources.PartitionSnapshots

/** Write-side target file sizing (`graft.write.targetFileSizeBytes` —
  * Iceberg's write.target-file-size-bytes, see
  * [[graft.operators.Upsert.packForWrite]]): with the knob ON, a staged
  * hive write produces Σ ⌈dir bytes / target⌉ files — one per dir when
  * dirs are small (instead of one per task × dir, the 65k-tiny-file
  * seed shape), split at the byte target when a dir is big. With the
  * knob OFF (default), writes are byte-for-byte the old behavior. */
class FileSizingSpec extends SparkSpec {
  import spark.implicits._

  private def dataFiles(table: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(table)).iterator()
      .asScala.filter(_.toString.endsWith(".parquet")).toSeq
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val olds = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("seed with target sizing: one file per small dir, not one per task x dir") {
    val wh = tmpDir("fsz1")
    // 8 tasks x 4 dirs would stage up to 32 files without packing
    val df = spark.range(4000).select(
      col("id").as("k"), (col("id") % 4).cast("int").as("part"),
      (col("id") * 2).as("v")).repartition(8)
    withConf("graft.write.targetFileSizeBytes" -> (128L * 1024 * 1024).toString) {
      Upsert.upsert(spark, s"$wh/t", df, Seq("k"),
        partitionCols = Seq("part"))
    }
    dataFiles(s"$wh/t").size shouldBe 4 // exactly one per dir
    Upsert.read(spark, s"$wh/t").count() shouldBe 4000L
    // manifest machinery unaffected: stats present, merge still lands
    PartitionSnapshots.rootManifest(spark, s"$wh/t").get.size shouldBe 4
  }

  test("a big dir splits at the byte target: ceil(bytes/target) files") {
    val wh = tmpDir("fsz2")
    // hint 100 B/row, target 25 kB -> maxRecordsPerFile = 250;
    // 1000 rows in ONE dir -> exactly 4 rolled files
    val df = spark.range(1000).select(
      col("id").as("k"), lit("p1").as("part"), col("id").as("v"))
      .repartition(8)
    withConf(
      "graft.write.targetFileSizeBytes" -> "25600",
      "graft.write.bytesPerRowHint" -> "100") {
      Upsert.upsert(spark, s"$wh/t", df, Seq("k"),
        partitionCols = Seq("part"))
    }
    dataFiles(s"$wh/t").size shouldBe 4
    Upsert.read(spark, s"$wh/t").count() shouldBe 1000L
  }

  test("knob off: the write is untouched (per-task files persist)") {
    val wh = tmpDir("fsz3")
    val df = spark.range(400).select(
      col("id").as("k"), (col("id") % 2).cast("int").as("part"),
      col("id").as("v")).repartition(4)
    Upsert.upsert(spark, s"$wh/t", df, Seq("k"),
      partitionCols = Seq("part"))
    // knob-off pin: WE added nothing to the write — the fast-append of
    // an 8-task frame keeps its per-task fan-out (8 files into one dir),
    // exactly the layout the knob-on append test collapses to 1
    val one = spark.range(1000).select(col("id").as("k"),
      lit("p9").as("part"), col("id").as("v")).repartition(8)
    Upsert.append(spark, s"$wh/t", one, Seq("part"))
    dataFiles(s"$wh/t").count(_.toString.contains("part=p9")) shouldBe 8
  }

  test("append and fast-append route through the pack too; measured bytes/row path") {
    val wh = tmpDir("fsz4")
    val seed = spark.range(100).select(
      col("id").as("k"), (col("id") % 2).cast("int").as("part"),
      col("id").as("v"))
    Upsert.upsert(spark, s"$wh/t", seed, Seq("k"),
      partitionCols = Seq("part"))
    val before = dataFiles(s"$wh/t").size
    // NO bytesPerRowHint: the sampled-measure leg runs
    withConf("graft.write.targetFileSizeBytes" -> (128L * 1024 * 1024).toString) {
      Upsert.append(spark, s"$wh/t",
        spark.range(1000, 1400).select(col("id").as("k"),
          (col("id") % 2).cast("int").as("part"), col("id").as("v"))
          .repartition(8), Seq("part"))
    }
    // the append added exactly one file per touched dir
    dataFiles(s"$wh/t").size shouldBe before + 2
    Upsert.read(spark, s"$wh/t").count() shouldBe 500L
  }
}
