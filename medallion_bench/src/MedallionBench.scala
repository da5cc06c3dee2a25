package medallionbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.Schemas
import graft.operators.Upsert
import graft.pipeline.{BronzeToSilver, FlatView, SilverToGold}

/** One cold round of one workload of the medallion pipeline benchmark.
  *
  * Usage: MedallionBench <workload> <corpusDir> <workDir> <resultJson> <trace 0|1>
  *
  * `corpusDir` holds the generator's inputs (`silver/`, and `bronze/` for
  * stream_ingest), `tally.json` and `expected_articles.jsonl`. The round
  * builds a session, calls the pipeline's public entry points in order (the
  * timed part), then reads the outputs back for the checks, and writes one
  * JSON object to `resultJson`. Any failure exits 1.
  * With trace 1 every layer call is wrapped in a span and the per-layer
  * counters are collected from outside the program (see [[Tracer]]).
  */
object MedallionBench {

  /** Files per micro-batch; gen.py orders the backlog for this value. */
  val MaxFilesPerTrigger = 60

  def main(args: Array[String]): Unit =
    // Spark's non-daemon threads would keep a failed JVM alive
    try round(args)
    catch { case t: Throwable => t.printStackTrace(); Runtime.getRuntime.halt(1) }

  private def round(args: Array[String]): Unit = {
    val Array(workload, corpus, work, resultPath, traceFlag) = args
    val trace = traceFlag == "1"
    // two task threads: with the driver thread, the JIT and the collector
    // they stay within a 4-vCPU host instead of queueing on it
    val cpus = math.min(2, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"medallion-bench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    val result = mutable.LinkedHashMap[String, Any]()
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val w = new Workdirs(corpus, work, workload)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // CPU time since the JVM started: JVM, class loading, session start
    val setupCpuNs = os.getProcessCpuTime
    val setupWallS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = System.nanoTime()
    val timed = workload match {
      case "daily_load" => dailyLoad(spark, w, tracer)
      case "stream_ingest" => streamIngest(spark, w, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val runS = (System.nanoTime() - t0) / 1e9
    result("run_cpu_s") = (os.getProcessCpuTime - setupCpuNs) / 1e9
    result("run_s") = runS
    result("jvm_setup_cpu_s") = setupCpuNs / 1e9
    result("jvm_setup_s") = setupWallS
    result("operations") = timed.operations()
    val (bytes, files) = storage(w.outputs)
    result("stored_bytes") = bytes
    result("data_files") = files
    tracer.foreach { t =>
      result("layers") = t.layerMetrics()
      t.writeSpans(s"$work/spans.jsonl", runS)
    }
    val c0 = System.nanoTime()
    result("observed") = Checks.observe(spark, w, workload) ++
      (if (workload == "stream_ingest") Map("stream.batches" -> timed.batches.toDouble)
       else Map.empty)
    result("check_s") = (System.nanoTime() - c0) / 1e9
    Files.writeString(Paths.get(resultPath), Json.render(result), UTF_8)
    // everything is written: skip Spark's shutdown, the caller removes the
    // round's directory
    Runtime.getRuntime.halt(0)
  }

  final class Workdirs(corpus: String, work: String, workload: String) {
    val bronze = s"$corpus/bronze"
    val expected = s"$corpus/expected_articles.jsonl"
    // the silver warehouse the generator wrote: the gold build's input, the
    // stream's target
    val silver = s"$corpus/silver"
    val gold = s"$work/gold"
    val export = s"$work/export"
    val checkpoint = s"$work/checkpoint"
    def outputs: Seq[String] =
      if (workload == "daily_load") Seq(gold, export) else Seq(silver, export)
  }

  /** What the timed part hands to the report. `operations` is counted
    * after the timing ends. */
  final case class Timed(operations: () => Int, batches: Int)

  private def span[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  /** SilverToGold.run into an empty gold warehouse, then the flat view's
    * export. The traced run passes its metrics registry to time each
    * table upsert. */
  def dailyLoad(spark: SparkSession, w: Workdirs, tracer: Option[Tracer]): Timed = {
    span(tracer, "silver_to_gold") {
      tracer match {
        case Some(t) =>
          t.tableCalls(w.gold)(SilverToGold.run(spark, w.silver, w.gold, metrics = Some(t.registry)))
        case None => SilverToGold.run(spark, w.silver, w.gold)
      }
    }
    span(tracer, "flat_view") {
      def g(t: String) = Upsert.read(spark, s"${w.gold}/$t")
      FlatView.export(
        FlatView.vwArticlesFlat(g("fact_article_publication"), g("dim_author"),
          g("dim_topic"), g("dim_sub_topic")),
        s"${w.export}/vw_articles_flat",
        partitionFromTs = Some("ArticlePublicationTimestamp"))
    }
    // operations: the 7 dimension and 5 fact upserts, the UNKNOWN-row
    // upserts, the export
    Timed(operations = () => Schemas.goldDims.size + Schemas.goldFacts.size +
      SilverToGold.unknownRows(spark).size + 1, batches = 0)
  }

  /** The backlog drained by runStream(availableNow, partitionManifests) into
    * the silver warehouse, then the incremental mirror of `articles`. */
  def streamIngest(spark: SparkSession, w: Workdirs, tracer: Option[Tracer]): Timed = {
    val progress = span(tracer, "bronze_to_silver") {
      val q: StreamingQuery = tracer match {
        // the traced run builds runStream's query itself so that each
        // micro-batch's upserts go through the metrics registry, which
        // runStream does not pass on
        case Some(t) =>
          val raw = spark.readStream.schema(Schemas.bronzeArticle)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", MaxFilesPerTrigger)
            .option("mode", "PERMISSIVE")
            .json(w.bronze)
          BronzeToSilver.normalize(raw).writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              t.tableCalls(w.silver) {
                BronzeToSilver.upsertBatch(spark, batch, w.silver,
                  metrics = Some(t.registry), partitionManifests = true)
              }
            }
            .option("checkpointLocation", w.checkpoint)
            .trigger(Trigger.AvailableNow())
            .start()
        case None =>
          BronzeToSilver.runStream(spark, w.bronze, w.silver, w.checkpoint,
            maxFilesPerTrigger = MaxFilesPerTrigger, availableNow = true,
            partitionManifests = true)
      }
      q.awaitTermination()
      q.recentProgress.toSeq.filter(_.numInputRows > 0)
    }
    span(tracer, "flat_view") {
      FlatView.exportMirror(spark, s"${w.silver}/articles", s"${w.export}/articles_mirror")
    }
    // operations: each micro-batch, its upsert into every silver table, the
    // mirror export
    Timed(operations = () => progress.size * (1 + Schemas.silverTables.size) + 1,
      batches = progress.size)
  }

  /** Bytes of every file, and the number of parquet data files, under the
    * output directories. */
  def storage(dirs: Seq[String]): (Long, Long) = {
    var bytes = 0L
    var files = 0L
    dirs.map(Paths.get(_)).filter(Files.exists(_)).foreach { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
        bytes += Files.size(p)
        if (p.getFileName.toString.endsWith(".parquet")) files += 1
      } finally s.close()
    }
    (bytes, files)
  }

  /** Data files under a table directory, as relative paths. */
  def dataFiles(table: Path): Set[String] =
    if (!Files.exists(table)) Set.empty
    else {
      val s = Files.walk(table)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(p => table.relativize(p).toString).toSet
      finally s.close()
    }
}

/** Reads the pipeline's outputs back and reduces them to numbers: row
  * counts and sums named like the generator's tally, and property
  * violations (`violation.*`, each must be 0). The checks are independent
  * Spark queries and run four at a time. */
object Checks {

  type Check = (String, () => Double)

  def observe(spark: SparkSession, w: MedallionBench.Workdirs,
              workload: String): Map[String, Double] = {
    val checks =
      if (workload == "daily_load") goldChecks(spark, w) else silverChecks(spark, w)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = checks.map { case (name, f) =>
        name -> pool.submit(new java.util.concurrent.Callable[Double] {
          def call(): Double = f()
        })
      }
      futures.map { case (name, fu) => name -> fu.get() }.toMap
    } finally pool.shutdown()
  }

  private def expected(spark: SparkSession, w: MedallionBench.Workdirs) =
    spark.read.schema("ArticleID STRING, URL STRING, Title STRING, AuthorName STRING")
      .json(w.expected)

  /** Row counts of `tables` under `warehouse`, one Spark job for all. */
  private def rowCounts(spark: SparkSession, warehouse: String, prefix: String,
                        tables: Seq[String]): Seq[Check] = {
    lazy val counts = tables
      .map(t => Upsert.read(spark, s"$warehouse/$t").select(lit(t).as("t")))
      .reduce(_ unionByName _).groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    tables.map(t => s"$prefix.$t" -> (() => counts.getOrElse(t, 0.0)))
  }

  private def silverChecks(spark: SparkSession, w: MedallionBench.Workdirs): Seq[Check] = {
    def silver(t: String) = Upsert.read(spark, s"${w.silver}/$t")
    rowCounts(spark, w.silver, "silver", Schemas.silverTables) ++ Seq(
      "silver.interaction_count_sum" -> (() => silver("comment_interactions")
        .agg(coalesce(sum("InteractionCount"), lit(0L))).head().getLong(0).toDouble),
      // each URL exactly once, at the version the generator made last
      "violation.articles_duplicate_url" -> (() => silver("articles")
        .groupBy("URL").count().where(col("count") > 1).count().toDouble),
      "violation.articles_not_newest" -> (() => expected(spark, w).as("e")
        .join(silver("articles").as("a"), col("e.ArticleID") === col("a.ArticleID"), "full")
        .where(!(col("a.URL") <=> col("e.URL")) || !(col("a.Title") <=> col("e.Title")))
        .count().toDouble),
      // the articles mirror holds exactly the table's rows
      "violation.mirror_rows" -> { () =>
        val table = silver("articles")
        val mirror = spark.read.option("recursiveFileLookup", "true")
          .parquet(s"${w.export}/articles_mirror")
          .select(table.columns.map(col).toIndexedSeq: _*)
        (table.exceptAll(mirror).count() + mirror.exceptAll(table).count()).toDouble
      })
  }

  private val dimKey = Map(
    "AuthorKey" -> ("dim_author", "AuthorKey"),
    "TopicKey" -> ("dim_topic", "TopicKey"),
    "SubTopicKey" -> ("dim_sub_topic", "SubTopicKey"),
    "KeywordKey" -> ("dim_keyword", "KeywordKey"),
    "ReferenceSourceKey" -> ("dim_reference_source", "ReferenceSourceKey"),
    "InteractionTypeKey" -> ("dim_interaction_type", "InteractionTypeKey"),
    "PublicationDateKey" -> ("dim_date", "DateKey"),
    "ArticlePublicationDateKey" -> ("dim_date", "DateKey"))

  private def goldChecks(spark: SparkSession, w: MedallionBench.Workdirs): Seq[Check] = {
    def gold(t: String) = Upsert.read(spark, s"${w.gold}/$t")
    // every fact foreign key resolves to a dimension row: the key sets are
    // small, so they are collected and compared on the driver
    val dimKeys = scala.collection.concurrent.TrieMap[String, Set[Long]]()
    def keysOf(dim: String, pk: String): Set[Long] = dimKeys.getOrElseUpdate(dim,
      gold(dim).select(col(pk).cast("long")).collect().map(_.getLong(0)).toSet)
    val fkChecks = Schemas.goldFacts.flatMap { f =>
      val fks = gold(f).columns.filter(dimKey.contains).toSeq
      lazy val rows = gold(f).select(fks.map(col(_).cast("long")): _*).distinct().collect()
      fks.zipWithIndex.map { case (fk, i) =>
        val (dim, pk) = dimKey(fk)
        s"violation.fk.$f.$fk" -> { () =>
          val have = keysOf(dim, pk)
          rows.count(r => !have.contains(r.getLong(i))).toDouble
        }
      }
    }
    def flat = spark.read.parquet(s"${w.export}/vw_articles_flat")
    rowCounts(spark, w.gold, "gold", Schemas.goldDims ++ Schemas.goldFacts) ++
      fkChecks ++ Seq(
      "gold.word_count_sum" -> (() => gold("fact_article_publication")
        .agg(sum("WordCountInMainContent")).head().getLong(0).toDouble),
      // the flat export: one row per fact row, carrying the generator's author
      "export.vw_articles_flat" -> (() => flat.count().toDouble),
      "violation.export_author" -> (() => expected(spark, w).as("e")
        .join(flat.as("f"), col("e.ArticleID") === col("f.ArticleID_NK"), "full")
        .where(!(col("e.AuthorName") <=> col("f.AuthorName")))
        .count().toDouble))
  }
}

/** Minimal JSON rendering for the result file (numbers, strings, maps,
  * sequences of maps). */
object Json {
  def render(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(render).mkString("[", ",", "]")
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case null => "null"
    case other => str(other.toString)
  }
  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }.mkString("\"", "", "\"")
}
