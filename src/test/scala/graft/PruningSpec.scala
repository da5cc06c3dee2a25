package graft

import org.apache.spark.sql.functions._

import graft.operators.Pruning

/** Scan-pruning at the plan level: DPP on the partitioned fact⋈dim path,
  * runtime bloom-filter injection on shuffle joins, and parquet bloom
  * footers on point-lookup keys. These assert the PLAN, because at 100 TB
  * "the optimizer probably pruned" is not evidence. */
class PruningSpec extends SparkSpec {
  import spark.implicits._

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partitioned fact joined to a filtered dim gets dynamic partition pruning") {
    val dir = tmpDir("dpp")
    val fact = (1 to 5000).map(i => (i.toLong, i % 20, i * 1.5))
      .toDF("id", "k", "v")
    fact.write.partitionBy("k").parquet(s"$dir/fact")
    val dim = (0 until 20).map(k => (k, s"name$k")).toDF("k", "name")
    dim.write.parquet(s"$dir/dim")

    val joined = spark.read.parquet(s"$dir/fact")
      .join(spark.read.parquet(s"$dir/dim").where($"name" === "name3"), "k")
    val filters = Pruning.runtimeFilters(joined)
    withClue(joined.queryExecution.executedPlan.toString()) {
      filters should contain("dpp")
    }
    // and the pruned plan still computes the right answer
    joined.count() shouldBe 250
  }

  test("selective shuffle join injects a runtime bloom filter on the big side") {
    val dir = tmpDir("bloom")
    (1 to 50000).map(i => (i.toLong, s"u${i % 1000}", i * 2.0))
      .toDF("id", "user", "v").write.parquet(s"$dir/big")
    (0 until 1000).map(k => (s"u$k", k % 7)).toDF("user", "seg")
      .write.parquet(s"$dir/small")

    withConf(
      // force the shuffle-join shape (bloom injection targets it) and
      // zero the size thresholds that gate the rule at toy scale
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val joined = spark.read.parquet(s"$dir/big")
        .join(spark.read.parquet(s"$dir/small").where($"seg" === 3), "user")
      val filters = Pruning.runtimeFilters(joined)
      withClue(joined.queryExecution.executedPlan.toString()) {
        filters should contain("bloom")
      }
      joined.count() shouldBe (1 to 50000).count(i => (i % 1000) % 7 == 3)
    }
  }

  test("bloom-filter parquet writes skip row groups on point lookups") {
    val dir = tmpDir("pqbloom")
    val df = (1 to 20000).map(i => (i.toLong, s"key${i}", i * 1.0))
      .toDF("id", "nk", "v")
    Pruning.writeWithBloomFilters(df.repartition(4), s"$dir/t",
      bloomCols = Seq("nk"), sortCols = Seq("id"))
    val back = spark.read.parquet(s"$dir/t")
    back.where($"nk" === "key777").count() shouldBe 1
    back.count() shouldBe 20000
    // footers really carry the bloom filter for nk
    val file = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file.toURI), conf))
    try {
      val rg = reader.getFooter.getBlocks.get(0)
      val nkCol = rg.getColumns.asScala.find(_.getPath.toDotString == "nk").get
      // offset > 0 <=> a bloom filter was written for this column chunk
      assert(nkCol.getBloomFilterOffset > 0,
        s"no bloom filter offset for nk in ${file.getName}")
    } finally reader.close()
  }

  test("bloom filters are sized to each file's distinct values, not the 1 MB cap") {
    val dir = tmpDir("bloomsmall")
    // ten rows: an unsized filter would take parquet's whole 1 MB budget
    val df = (1 to 10).map(i => (i.toLong, s"key$i")).toDF("id", "nk")
    Pruning.writeWithBloomFilters(df.coalesce(1), s"$dir/t",
      bloomCols = Seq("nk"), sortCols = Seq("id"))
    val files = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    files should not be empty
    files.foreach(f => withClue(f.getName) { f.length() should be < 64L * 1024 })
    spark.read.parquet(s"$dir/t").where($"nk" === "key7").count() shouldBe 1
  }

  test("z-order clustering bounds every z-column's range per file") {
    val dir = tmpDir("zorder")
    val n = 40000
    // deterministic 200x200 grid walk, shuffled by a hash so input order
    // carries no accidental locality
    val grid = (0 until n).map { i =>
      val h = (i * 2654435761L) & 0x7fffffff
      ((h % 200).toInt, ((h / 200) % 200).toInt, i.toLong)
    }.toDF("x", "y", "id")

    Pruning.zOrderWrite(grid, s"$dir/z", Seq("x", "y"), numFiles = 16)
    // baseline: linear sort by x only
    grid.repartitionByRange(16, $"x").sortWithinPartitions("x")
      .write.parquet(s"$dir/linear")

    def perFileExtents(path: String): Seq[(Double, Double)] =
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
          val s = spark.read.parquet(f.getPath)
            .agg(min("x"), max("x"), min("y"), max("y")).head()
          ((s.getInt(1) - s.getInt(0)) / 200.0, (s.getInt(3) - s.getInt(2)) / 200.0)
        }

    val zExt = perFileExtents(s"$dir/z")
    val linExt = perFileExtents(s"$dir/linear")
    val (zx, zy) = (zExt.map(_._1).sum / zExt.size, zExt.map(_._2).sum / zExt.size)
    val (lx, ly) = (linExt.map(_._1).sum / linExt.size, linExt.map(_._2).sum / linExt.size)
    // linear sort: x tightly bounded, y spans everything
    lx should be < 0.2
    ly should be > 0.8
    // z-order: BOTH dims bounded well below global range
    zx should be < 0.5
    zy should be < 0.5
    // and rows survive the rewrite exactly
    spark.read.parquet(s"$dir/z").collect().map(_.toSeq).toSet shouldBe
      grid.collect().map(_.toSeq).toSet
  }

  test("clustered export bounds cluster-column extents per file and writes blooms") {
    val dir = tmpDir("export")
    // hash-shuffled (topic, id, ts): input order carries no topic locality,
    // so any per-file tightness must come from the export's clustering
    val rows = (0 until 20000).map { i =>
      val h = (i * 2654435761L) & 0x7fffffff
      ((h % 50).toInt, i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-${(i % 5) + 1}%02d 12:00:00"))
    }.toDF("topic", "id", "ts").repartition(8)

    graft.pipeline.FlatView.export(rows, s"$dir/plain", Some("ts"))
    // explicit clusterFiles: range clustering must subdivide within each
    // date (5 dates × 50 topics over 64 ranges ≈ 4-topic slices); an
    // AQE-sized shuffle would coalesce these toy-sized ranges right back
    graft.pipeline.FlatView.export(rows, s"$dir/clustered", Some("ts"),
      clusterBy = Seq("topic", "id"), clusterFiles = 64)

    // per-file topic extent, averaged across all date partitions
    def avgExtent(path: String): Double = {
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("_export_date="))
        .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet"))).toSeq
      val exts = files.map { f =>
        val s = spark.read.parquet(f.getPath).agg(min("topic"), max("topic")).head()
        (s.getInt(1) - s.getInt(0)) / 50.0
      }
      exts.sum / exts.size
    }
    // unclustered: every task holds a hash-mix of all topics → full span
    avgExtent(s"$dir/plain") should be > 0.8
    // clustered: each file covers a narrow disjoint topic slice
    avgExtent(s"$dir/clustered") should be < 0.3
    // rows survive the clustered rewrite exactly
    spark.read.parquet(s"$dir/clustered").select("topic", "id")
      .collect().map(_.toSeq).toSet shouldBe
      rows.select("topic", "id").collect().map(_.toSeq).toSet
    // and the high-cardinality cluster key's footer carries a bloom filter
    // (the ~4-distinct-value topic column is fully dictionary-encoded per
    // file, so parquet-mr intentionally omits its bloom — the dictionary
    // itself already gives exact row-group skipping)
    val file = new java.io.File(s"$dir/clustered").listFiles()
      .filter(_.getName.startsWith("_export_date=")).head
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toURI),
      spark.sparkContext.hadoopConfiguration))
    try {
      val idCol = reader.getFooter.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == "id").get
      assert(idCol.getBloomFilterOffset > 0,
        s"no bloom filter offset for id in ${file.getName}")
    } finally reader.close()
  }

  private implicit class JListOps[A](l: java.util.List[A]) {
    def asScala: scala.collection.mutable.Buffer[A] =
      scala.jdk.CollectionConverters.ListHasAsScala(l).asScala
  }

  test("manifested reads: partition filters prune the LISTING, not just the scan") {
    import graft.operators.Upsert
    val path = tmpDir("listprune") + "/t"
    val df = (1 to 5000).map(i => (i.toLong, i % 50, i * 1.5))
      .toDF("k", "part", "v")
    Upsert.upsert(spark, path, df, Seq("k"), partitionCols = Seq("part"))
    // a point-partition filter lists exactly ONE of the 50 dirs
    val one = Upsert.read(spark, path).where(col("part") === 7)
    one.count() shouldBe 100L
    org.apache.spark.sql.graft.LazyScan.lastListedRootCount(one) shouldBe
      Some(1)
    // a range filter lists its matching dirs only
    val range = Upsert.read(spark, path)
      .where(col("part") >= 40 && col("part") < 45)
    range.agg(sum("v")).head().getDouble(0) shouldBe
      df.where(col("part") >= 40 && col("part") < 45)
        .agg(sum("v")).head().getDouble(0)
    org.apache.spark.sql.graft.LazyScan.lastListedRootCount(range) shouldBe
      Some(5)
    // no partition filter -> every dir listed, full answer
    val all = Upsert.read(spark, path)
    all.count() shouldBe 5000L
    org.apache.spark.sql.graft.LazyScan.lastListedRootCount(all) shouldBe
      Some(50)
    // a DATA-column filter must not prune the listing (conservative)
    val dataF = Upsert.read(spark, path).where(col("k") === 1)
    dataF.count() shouldBe 1L
    org.apache.spark.sql.graft.LazyScan.lastListedRootCount(dataF) shouldBe
      Some(50)
    // results under pruned listing match the unpruned answer exactly
    one.collect().map(_.getLong(0)).sorted shouldBe
      df.where(col("part") === 7).collect().map(_.getLong(0)).sorted
  }

  test("listing pruning edges: IN-lists, null partitions, date-typed dirs") {
    import graft.operators.Upsert
    import org.apache.spark.sql.graft.LazyScan
    val path = tmpDir("listprune2") + "/t"
    // a NULL partition value alongside real dates
    val df = Seq((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0),
      (3L, null, 3.0), (4L, "2024-01-03", 4.0))
      .toDF("k", "day", "v")
      .withColumn("day", col("day").cast("date"))
    Upsert.upsert(spark, path, df, Seq("k"), partitionCols = Seq("day"))
    // IN-list on the date pcol lists exactly its two dirs
    val in2 = Upsert.read(spark, path)
      .where(col("day").isin("2024-01-01", "2024-01-03"))
    in2.collect().map(_.getLong(0)).sorted shouldBe Array(1L, 4L)
    LazyScan.lastListedRootCount(in2) shouldBe Some(2)
    // isNull finds the null partition only
    val nul = Upsert.read(spark, path).where(col("day").isNull)
    nul.collect().map(_.getLong(0)) shouldBe Array(3L)
    LazyScan.lastListedRootCount(nul) shouldBe Some(1)
    // isNotNull excludes it
    val notNul = Upsert.read(spark, path).where(col("day").isNotNull)
    notNul.count() shouldBe 3L
    LazyScan.lastListedRootCount(notNul) shouldBe Some(3)
    // a range over the typed pcol
    val rng = Upsert.read(spark, path)
      .where(col("day") >= "2024-01-02")
    rng.collect().map(_.getLong(0)).sorted shouldBe Array(2L, 4L)
    LazyScan.lastListedRootCount(rng) shouldBe Some(2)
  }
}
