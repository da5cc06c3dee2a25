package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.Schemas
import graft.functions.Cols._
import graft.operators.Upsert

/** Bronze JSON documents → 10 normalized silver tables.
  *
  * Capability parity with reference: spark_jobs/gcs_bronze_to_silver.py
  * (streaming) and its batch twin. Each `make*` is a pure
  * `DataFrame => DataFrame` so the same plan serves batch, streaming
  * micro-batches, and unit tests.
  */
object BronzeToSilver {

  /** Normalize raw bronze batch: topic from file path, blank→NULL hygiene,
    * polymorphic publish_date → publish_ts/date/hour
    * (reference: gcs_bronze_to_silver.py:511-564). */
  def normalize(raw: DataFrame, topicFromPath: Boolean = true): DataFrame = {
    val withTopic =
      if (topicFromPath)
        raw.withColumn("topic",
          regexp_extract(input_file_name(), "/vnexpress/([^/]+)/", 1))
      else raw
    withTopic
      .withColumn("topic", blankToNull(col("topic")))
      .withColumn("sub_topic", blankToNull(col("sub_topic")))
      .withColumn("publish_ts", parsePublishTs(col("publish_date")))
      .withColumn("date", to_date(col("publish_ts")))
      .withColumn("hour", hour(col("publish_ts")))
  }

  /** Hygiene gate: must have non-blank URL + parsed timestamp
    * (reference: gcs_bronze_to_silver.py:396-403 — which trims before the
    * emptiness check, so whitespace-only URLs are dropped too). */
  def validArticles(df: DataFrame): DataFrame =
    df.filter(col("url").isNotNull && (trim(col("url")) =!= "") &&
      col("publish_ts").isNotNull)

  /** The complement of [[validArticles]], each row tagged with the first
    * reason it failed — the dead-letter side of the gate. */
  def rejectedArticles(df: DataFrame): DataFrame =
    df.filter(col("url").isNull || (trim(col("url")) === "") ||
        col("publish_ts").isNull)
      .withColumn("_reject_reason",
        when(col("url").isNull || (trim(col("url")) === ""), lit("blank_url"))
          .otherwise(lit("unparseable_publish_date")))

  // ---- entity transforms (reference: gcs_bronze_to_silver.py:242-387) ----

  def makeAuthors(dfb: DataFrame): DataFrame =
    dfb.select(trim(col("author")).as("AuthorName"))
      .filter(col("AuthorName").isNotNull && (col("AuthorName") =!= ""))
      .dropDuplicates("AuthorName")
      .withColumn("AuthorID", stableId(col("AuthorName")))
      .select("AuthorID", "AuthorName")

  def makeTopics(dfb: DataFrame): DataFrame =
    dfb.select(trim(col("topic")).as("TopicName"))
      .filter(col("TopicName").isNotNull && (col("TopicName") =!= ""))
      .dropDuplicates("TopicName")
      .withColumn("TopicID", stableId(col("TopicName")))
      .select("TopicID", "TopicName")

  def makeSubtopics(dfb: DataFrame): DataFrame =
    dfb.select(
        blankToNull(col("sub_topic")).as("SubTopicName"),
        blankToNull(col("topic")).as("topic_name"))
      .filter(col("SubTopicName").isNotNull)
      .dropDuplicates("SubTopicName", "topic_name")
      .withColumn("TopicID", stableId(col("topic_name")))
      .withColumn("SubTopicID",
        stableId(concat_ws("||", col("SubTopicName"), col("TopicID"))))
      .select("SubTopicID", "SubTopicName", "TopicID")

  def makeKeywords(dfb: DataFrame): DataFrame =
    dfb.select(explode_outer(col("keywords")).as("KeywordText"))
      .filter(col("KeywordText").isNotNull && (col("KeywordText") =!= ""))
      .withColumn("KeywordText", trim(col("KeywordText")))
      .dropDuplicates("KeywordText")
      .withColumn("KeywordID", stableId(col("KeywordText")))
      .select("KeywordID", "KeywordText")

  def makeReferences(dfb: DataFrame): DataFrame =
    dfb.select(explode_outer(col("references")).as("ReferenceText"))
      .filter(col("ReferenceText").isNotNull && (col("ReferenceText") =!= ""))
      .withColumn("ReferenceText", trim(col("ReferenceText")))
      .dropDuplicates("ReferenceText")
      .withColumn("ReferenceID", stableId(col("ReferenceText")))
      .select("ReferenceID", "ReferenceText")

  /** `extraCols`: additional bronze columns carried through verbatim — the
    * schema-evolution path (an upstream crawler added a field; list it here
    * plus in the reader schema and it flows into silver, where
    * `evolveSchema` NULL-backfills pre-existing rows). */
  def makeArticles(dfb: DataFrame, extraCols: Seq[String] = Nil): DataFrame = {
    val d = dfb
      .withColumn("trimmed_url", trim(col("url")))
      .withColumn("ArticleID", stableId(col("trimmed_url")))
      .withColumn("AuthorID", stableId(trim(col("author"))))
      .withColumn("TopicID", stableId(trim(col("topic"))))
      .withColumn("trimmed_subtopic", blankToNull(col("sub_topic")))
      .withColumn("SubTopicID",
        stableId(concat_ws("||", col("trimmed_subtopic"), col("TopicID"))))
    d.select(Seq(
      col("ArticleID"), col("title").as("Title"), col("trimmed_url").as("URL"),
      col("description").as("Description"), col("publish_ts").as("PublicationDate"),
      col("main_content").as("MainContent"),
      col("comment_count").cast("int").as("OpinionCount"),
      col("AuthorID"), col("TopicID"), col("SubTopicID"),
      to_date(col("publish_ts")).as("date"), hour(col("publish_ts")).as("hour")) ++
      extraCols.map(col): _*)
  }

  def makeArticleKeywords(dfb: DataFrame): DataFrame =
    dfb.withColumn("ArticleID", stableId(trim(col("url"))))
      .select(col("ArticleID"), explode_outer(col("keywords")).as("kw"))
      .filter(col("kw").isNotNull && (col("kw") =!= ""))
      .withColumn("KeywordText", trim(col("kw")))
      .dropDuplicates("ArticleID", "KeywordText")
      .withColumn("KeywordID", stableId(col("KeywordText")))
      .select("ArticleID", "KeywordID")

  def makeArticleReferences(dfb: DataFrame): DataFrame =
    dfb.withColumn("ArticleID", stableId(trim(col("url"))))
      .select(col("ArticleID"), explode_outer(col("references")).as("ref"))
      .filter(col("ref").isNotNull && (col("ref") =!= ""))
      .withColumn("ReferenceText", trim(col("ref")))
      .dropDuplicates("ArticleID", "ReferenceText")
      .withColumn("ReferenceID", stableId(col("ReferenceText")))
      .select("ArticleID", "ReferenceID")

  def makeComments(dfb: DataFrame): DataFrame =
    dfb.withColumn("ArticleID", stableId(trim(col("url"))))
      .select(col("ArticleID"), explode_outer(col("top_comments")).as("c"))
      // explode_outer emits a NULL struct for empty arrays; without this
      // guard concat_ws would skip the null fields and mint a phantom
      // CommentID from the ArticleID alone.
      .where(col("c").isNotNull)
      .select(
        stableId(concat_ws("||", col("ArticleID"),
          trim(col("c.commenter_name")), trim(col("c.comment_content")))).as("CommentID"),
        col("ArticleID"),
        trim(col("c.commenter_name")).as("CommenterName"),
        trim(col("c.comment_content")).as("CommentContent"),
        col("c.total_likes").cast("int").as("TotalLikes"))
      .filter(col("CommentID").isNotNull)

  def makeCommentInteractions(dfb: DataFrame): DataFrame = {
    val withIds = dfb.withColumn("ArticleID", stableId(trim(col("url"))))
      .select(col("ArticleID"), explode_outer(col("top_comments")).as("c"))
      .select(
        stableId(concat_ws("||", col("ArticleID"),
          trim(col("c.commenter_name")), trim(col("c.comment_content")))).as("CommentID"),
        col("c.interaction_details").as("interaction_raw"))
      .filter(col("interaction_raw").isNotNull && length(col("interaction_raw")) > 0)
      .withColumn("interaction_map",
        from_json(col("interaction_raw"), MapType(StringType, StringType)))
      .filter(col("interaction_map").isNotNull)
      // ANSI-safe value cast: non-numeric → 0 (Spark 3.5 non-ANSI cast gave
      // NULL then coalesce 0; try_cast preserves that)
      .withColumn("interaction_map",
        transform_values(col("interaction_map"),
          (_, v) => coalesce(try_cast_int(v), lit(0))))
    withIds
      .select(col("CommentID"),
        explode_outer(map_entries(col("interaction_map"))).as("kv"))
      .select(
        stableId(concat_ws("||", col("CommentID"), col("kv.key"))).as("CommentInteractionID"),
        col("CommentID"),
        col("kv.key").as("InteractionType"),
        col("kv.value").as("InteractionCount"))
      .filter(col("InteractionCount").isNotNull)
  }

  /** Non-ANSI int-cast semantics: signed/decimal numeric strings truncate
    * into int range ('12.9' → 12, '+5' → 5, like UTF8String.toInt);
    * everything else — including int overflow — is NULL, matching Spark
    * 3.5's non-ANSI cast. */
  private def try_cast_int(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val l = graft.functions.Cols.tryLong(c)
    when(l.between(Int.MinValue.toLong, Int.MaxValue.toLong), l.cast("int"))
  }

  /** All 10 silver tables from one normalized+filtered bronze batch. */
  def silverTables(base: DataFrame,
                   extraArticleCols: Seq[String] = Nil): Map[String, DataFrame] = Map(
    "authors" -> makeAuthors(base),
    "topics" -> makeTopics(base),
    "subtopics" -> makeSubtopics(base),
    "keywords" -> makeKeywords(base),
    "references_table" -> makeReferences(base),
    "articles" -> makeArticles(base, extraArticleCols),
    "article_keywords" -> makeArticleKeywords(base),
    "article_references" -> makeArticleReferences(base),
    "comments" -> makeComments(base),
    "comment_interactions" -> makeCommentInteractions(base))

  /** Upsert keys per silver table (reference MERGE ON clauses,
    * gcs_bronze_to_silver.py:457-496). Link tables are insert-only. */
  val upsertKeys: Map[String, (Seq[String], Boolean)] = Map(
    "authors" -> (Seq("AuthorID"), false),
    "topics" -> (Seq("TopicID"), false),
    "subtopics" -> (Seq("SubTopicID"), false),
    "keywords" -> (Seq("KeywordID"), false),
    "references_table" -> (Seq("ReferenceID"), false),
    "articles" -> (Seq("ArticleID"), false),
    "article_keywords" -> (Seq("ArticleID", "KeywordID"), true),
    "article_references" -> (Seq("ArticleID", "ReferenceID"), true),
    "comments" -> (Seq("CommentID"), false),
    "comment_interactions" -> (Seq("CommentInteractionID"), false))

  /** One micro-batch (or the whole corpus in batch mode) → silver upserts.
    * Articles table is date-partitioned, so its commit is a manifested
    * per-partition snapshot (the reference's Iceberg MERGE semantics for
    * streaming ingest) that rewrites only the touched dates.
    * With `metrics`, each table's upsert is metered (duration + records
    * written/read) under job_name "bronze_to_silver" — the analogue of the
    * reference's per-task pushgateway gauges
    * (airflow/config/metrics_utils.py:58-106). */
  def upsertBatch(spark: SparkSession, batch: DataFrame, warehouse: String,
                  metrics: Option[graft.metrics.MetricsRegistry] = None,
                  quarantineDir: Option[String] = None,
                  extraArticleCols: Seq[String] = Nil,
                  // ignored, kept for by-name callers: partitioned tables are manifested
                  partitionManifests: Boolean = true): Unit = {
    if (batch.isEmpty) return
    val base = validArticles(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Dead-letter path: rows failing the hygiene gate land in an
      // append-only quarantine with their reject reason — dropped data a
      // 100 TB ingest can audit/replay instead of losing silently. Append
      // mode (not upsert): quarantine rows have no reliable key by
      // definition, and redelivered duplicates are harmless in an audit
      // trail. Written before the silver upserts so a mid-run crash never
      // loses the batch's rejects.
      quarantineDir.foreach { qd =>
        graft.metrics.MetricsRegistry.timed(metrics, "bronze_to_silver", "quarantine") {
          val rejected = rejectedArticles(batch)
          if (!rejected.isEmpty)
            rejected.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(qd)
        }
      }
      silverTables(base, extraArticleCols).foreach { case (name, df) =>
        val (keys, insertOnly) = upsertKeys(name)
        val parts = if (name == "articles") Seq("date") else Nil
        // evolution is opt-in per run: an extra-column config turns the
        // articles upsert into an align-merge (NULL backfill for rows
        // written before the column existed)
        val evolve = name == "articles" && extraArticleCols.nonEmpty
        graft.metrics.MetricsRegistry.timed(metrics, "bronze_to_silver", name) {
          Upsert.upsert(spark, s"$warehouse/$name", df, keys, insertOnly, parts,
            evolveSchema = evolve)
        }
      }
    } finally base.unpersist()
  }

  /** Batch run (reference batch twin gcs_bronze_to_silver_batch.py).
    * `bronzeSchema`/`extraArticleCols` together are the schema-evolution
    * knob: extend the reader schema with the new field(s) and name them in
    * `extraArticleCols`, and the articles table evolves additively (old
    * rows read NULL). */
  def runBatch(spark: SparkSession, bronzeDir: String, warehouse: String,
               topicFromPath: Boolean = true,
               quarantineDir: Option[String] = None,
               bronzeSchema: org.apache.spark.sql.types.StructType = Schemas.bronzeArticle,
               extraArticleCols: Seq[String] = Nil): Unit = {
    val raw = spark.read.schema(bronzeSchema)
      .option("recursiveFileLookup", "true").option("mode", "PERMISSIVE")
      .json(bronzeDir)
    upsertBatch(spark, normalize(raw, topicFromPath), warehouse,
      quarantineDir = quarantineDir, extraArticleCols = extraArticleCols)
  }

  /** Streaming run: file-arrival source, stateless, exactly-once via
    * checkpoint + idempotent keyed upsert (reference:
    * gcs_bronze_to_silver.py:501-573). `availableNow=true` drains the
    * backlog and stops — deterministic for tests. */
  def runStream(spark: SparkSession, bronzeDir: String, warehouse: String,
                checkpoint: String, maxFilesPerTrigger: Int = 500,
                availableNow: Boolean = false,
                topicFromPath: Boolean = true,
                // ignored, kept for by-name callers: partitioned tables are manifested
                partitionManifests: Boolean = true): StreamingQuery = {
    val raw = spark.readStream.schema(Schemas.bronzeArticle)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("mode", "PERMISSIVE")
      .json(bronzeDir)
    val normalized = normalize(raw, topicFromPath)
    val writer = normalized.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(spark, batch, warehouse)
      }
      .option("checkpointLocation", checkpoint)
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}
