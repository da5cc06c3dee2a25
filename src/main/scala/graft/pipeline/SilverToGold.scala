package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Cols._
import graft.operators.Upsert

/** Silver tables → Kimball star schema (7 dims + 5 facts).
  *
  * Capability parity with reference: spark_jobs/gcs_silver_to_gold.py
  * :329-829, using the "full-safe" semantics of gcs_silver_to_gold_1.py
  * (NULL natural keys → -1 sentinel + seeded UNKNOWN dimension rows), which
  * strictly subsumes the plain variant.
  *
  * All builders are pure `DataFrame => DataFrame`. Dim lookups are
  * broadcast-sized by construction (distinct authors/topics), fact joins
  * shuffle once on ArticleID; facts are written partitioned by their date
  * key, so every fact commit is a manifested per-partition snapshot that
  * rewrites only the touched partitions.
  */
object SilverToGold {

  // ---- dimensions (reference: gcs_silver_to_gold.py:347-541) ----

  def dimDate(articles: DataFrame): DataFrame =
    articles.select(col("PublicationDate").cast("timestamp").as("ts"))
      .where(col("ts").isNotNull)
      .select(
        col("ts").cast("date").as("FullDateAlternateKey"),
        date_format(col("ts"), "EEEE").as("DayNameOfWeek"),
        dayofmonth(col("ts")).as("DayNumberOfMonth"),
        dayofyear(col("ts")).as("DayNumberOfYear"),
        date_format(col("ts"), "MMMM").as("MonthName"),
        month(col("ts")).as("MonthNumberOfYear"),
        quarter(col("ts")).as("CalendarQuarter"),
        year(col("ts")).as("CalendarYear"),
        dateKey(col("ts")).as("DateKey"))
      .dropDuplicates("DateKey")

  /** Full-safe dim_author: authors ∪ articles' AuthorIDs
    * (reference: gcs_silver_to_gold_1.py:498-516) — an article whose author
    * never appeared in the authors table still gets a dim row (name NULL
    * until the authors table catches up). `max(AuthorName)` ignores NULLs,
    * so the named row wins deterministically when both legs carry the key —
    * unlike the reference's partition-order-dependent dropDuplicates. */
  def dimAuthor(authors: DataFrame, articles: DataFrame = null): DataFrame = {
    val src =
      if (articles == null) authors.select(col("AuthorID"), col("AuthorName"))
      else authors.select(col("AuthorID"), col("AuthorName"))
        .unionByName(articles.select(col("AuthorID")), allowMissingColumns = true)
    src.where(col("AuthorID").isNotNull && (col("AuthorID") =!= ""))
      .groupBy(col("AuthorID").as("AuthorID_NK"))
      .agg(max(col("AuthorName")).as("AuthorName"))
      .withColumn("AuthorKey", surrogateKey(col("AuthorID_NK")))
      .select("AuthorKey", "AuthorID_NK", "AuthorName")
  }

  def dimTopic(topics: DataFrame): DataFrame =
    topics.withColumn("TopicKey", surrogateKey(col("TopicID")))
      .withColumnRenamed("TopicID", "TopicID_NK")
      .dropDuplicates("TopicID_NK")
      .select("TopicKey", "TopicID_NK", "TopicName")

  /** Subtopic dim enriched with parent topic via a broadcast left join
    * (topics is a small dim — never shuffle the subtopic side for it). */
  def dimSubTopic(subtopics: DataFrame, topics: DataFrame): DataFrame =
    subtopics.as("st")
      .join(broadcast(topics.as("tp")), col("st.TopicID") === col("tp.TopicID"), "left")
      .select(
        surrogateKey(col("st.SubTopicID")).as("SubTopicKey"),
        col("st.SubTopicID").as("SubTopicID_NK"),
        col("st.SubTopicName").as("SubTopicName"),
        surrogateKey(col("st.TopicID")).as("ParentTopicKey"),
        col("tp.TopicName").as("ParentTopicName"))
      .dropDuplicates("SubTopicID_NK")

  def dimKeyword(keywords: DataFrame): DataFrame =
    keywords.withColumn("KeywordKey", surrogateKey(col("KeywordID")))
      .withColumnRenamed("KeywordID", "KeywordID_NK")
      .dropDuplicates("KeywordID_NK")
      .select("KeywordKey", "KeywordID_NK", "KeywordText")

  def dimReferenceSource(references: DataFrame): DataFrame =
    references.withColumn("ReferenceSourceKey", surrogateKey(col("ReferenceID")))
      .withColumnRenamed("ReferenceID", "ReferenceID_NK")
      .dropDuplicates("ReferenceID_NK")
      .select("ReferenceSourceKey", "ReferenceID_NK", "ReferenceText")

  def dimInteractionType(commentInteractions: DataFrame): DataFrame =
    commentInteractions
      .select(lower(trim(col("InteractionType"))).as("InteractionType"))
      .where(col("InteractionType").isNotNull && (col("InteractionType") =!= ""))
      .dropDuplicates("InteractionType")
      .withColumn("InteractionTypeKey", surrogateKey(col("InteractionType")))
      .select("InteractionTypeKey", "InteractionType")

  // ---- facts (reference: gcs_silver_to_gold.py:548-829) ----

  /** fact_article_publication: agg-enrichment left joins + text metrics.
    * kw/ref counts are pre-aggregated before the join (map-side partial agg
    * first, then a key-colocated join — never join-then-aggregate). */
  def factArticlePublication(articles: DataFrame, articleKeywords: DataFrame,
                             articleReferences: DataFrame,
                             extraCols: Seq[String] = Nil): DataFrame = {
    val kwCnt = articleKeywords.groupBy("ArticleID").count().withColumnRenamed("count", "kw_cnt")
    val rfCnt = articleReferences.groupBy("ArticleID").count().withColumnRenamed("count", "ref_cnt")
    articles.as("a")
      .join(kwCnt.as("k"), col("k.ArticleID") === col("a.ArticleID"), "left")
      .join(rfCnt.as("r"), col("r.ArticleID") === col("a.ArticleID"), "left")
      .withColumn("ts", col("a.PublicationDate").cast("timestamp"))
      .where(col("ts").isNotNull)
      .select(Seq(
        dateKey(col("ts")).as("PublicationDateKey"),
        col("ts").as("ArticlePublicationTimestamp"),
        keyOrSentinel(col("a.AuthorID")).as("AuthorKey"),
        keyOrSentinel(col("a.TopicID")).as("TopicKey"),
        keyOrSentinel(col("a.SubTopicID")).as("SubTopicKey"),
        col("a.ArticleID").as("ArticleID_NK"),
        col("a.Title").as("ArticleTitle"),
        col("a.Description").as("ArticleDescription"),
        lit(1).as("PublishedArticleCount"),
        coalesce(col("a.OpinionCount").cast("int"), lit(0)).as("OpinionCount"),
        wordCount(col("a.MainContent")).as("WordCountInMainContent"),
        charCount(col("a.MainContent")).as("CharacterCountInMainContent"),
        estimatedReadTimeMinutes(col("a.MainContent")).as("EstimatedReadTimeMinutes"),
        coalesce(col("kw_cnt"), lit(0L)).as("TaggedKeywordCountInArticle"),
        coalesce(col("ref_cnt"), lit(0L)).as("ReferenceSourceCountInArticle")) ++
        extraCols.map(c => col(s"a.$c").as(c)): _*)
      .dropDuplicates("PublicationDateKey", "ArticleID_NK")
  }

  private def factLink(link: DataFrame, articles: DataFrame,
                       idCol: String, keyName: String, flagName: String): DataFrame =
    link.as("l").join(articles.as("a"), col("l.ArticleID") === col("a.ArticleID"), "inner")
      .withColumn("ts", col("a.PublicationDate").cast("timestamp"))
      .where(col("ts").isNotNull)
      .select(
        dateKey(col("ts")).as("ArticlePublicationDateKey"),
        col("a.ArticleID").as("ArticleID_NK"),
        surrogateKey(col(s"l.$idCol")).as(keyName),
        keyOrSentinel(col("a.AuthorID")).as("AuthorKey"),
        keyOrSentinel(col("a.TopicID")).as("TopicKey"),
        keyOrSentinel(col("a.SubTopicID")).as("SubTopicKey"),
        lit(1).as(flagName))
      .dropDuplicates("ArticlePublicationDateKey", "ArticleID_NK", keyName)

  def factArticleKeyword(articleKeywords: DataFrame, articles: DataFrame): DataFrame =
    factLink(articleKeywords, articles, "KeywordID", "KeywordKey", "IsKeywordTaggedToArticle")

  def factArticleReference(articleReferences: DataFrame, articles: DataFrame): DataFrame =
    factLink(articleReferences, articles, "ReferenceID", "ReferenceSourceKey", "IsReferenceUsedInArticle")

  def factTopCommentActivity(comments: DataFrame, articles: DataFrame): DataFrame =
    comments.as("c").join(articles.as("a"), col("c.ArticleID") === col("a.ArticleID"), "inner")
      .withColumn("ts", col("a.PublicationDate").cast("timestamp"))
      .where(col("ts").isNotNull)
      .select(
        dateKey(col("ts")).as("ArticlePublicationDateKey"),
        dateKey(col("ts")).as("CommentDateKey"),
        col("a.ArticleID").as("ArticleID_NK"),
        col("c.CommentID").as("CommentID_NK"),
        keyOrSentinel(col("a.AuthorID")).as("AuthorKey"),
        keyOrSentinel(col("a.TopicID")).as("TopicKey"),
        keyOrSentinel(col("a.SubTopicID")).as("SubTopicKey"),
        col("c.CommenterName").as("CommenterName"),
        lit(1).as("IsTopComment"),
        coalesce(col("c.TotalLikes").cast("int"), lit(0)).as("LikesOnTopComment"))
      .dropDuplicates("ArticlePublicationDateKey", "ArticleID_NK", "CommentID_NK")

  def factTopCommentInteractionDetail(commentInteractions: DataFrame,
                                      comments: DataFrame, articles: DataFrame): DataFrame =
    commentInteractions.as("ci")
      .join(comments.as("c"), col("ci.CommentID") === col("c.CommentID"), "inner")
      .join(articles.as("a"), col("c.ArticleID") === col("a.ArticleID"), "inner")
      .withColumn("ts", col("a.PublicationDate").cast("timestamp"))
      .where(col("ts").isNotNull)
      .select(
        dateKey(col("ts")).as("ArticlePublicationDateKey"),
        dateKey(col("ts")).as("InteractionDateKey"),
        col("a.ArticleID").as("ArticleID_NK"),
        col("c.CommentID").as("CommentID_NK"),
        surrogateKey(lower(trim(col("ci.InteractionType")))).as("InteractionTypeKey"),
        keyOrSentinel(col("a.AuthorID")).as("AuthorKey"),
        keyOrSentinel(col("a.TopicID")).as("TopicKey"),
        keyOrSentinel(col("a.SubTopicID")).as("SubTopicKey"),
        lit(1).as("InteractionInstanceCount"),
        coalesce(col("ci.InteractionCount").cast("int"), lit(0)).as("InteractionValue"))
      .dropDuplicates("ArticlePublicationDateKey", "ArticleID_NK", "CommentID_NK", "InteractionTypeKey")

  // ---- UNKNOWN dimension seeding (reference: gcs_silver_to_gold_1.py:301-423) ----

  /** Seed a -1/UNKNOWN member so sentinel FKs always resolve. */
  def unknownRows(spark: SparkSession): Map[String, DataFrame] = {
    import spark.implicits._
    Map(
      "dim_author" -> Seq((-1L, "UNKNOWN", "UNKNOWN"))
        .toDF("AuthorKey", "AuthorID_NK", "AuthorName"),
      "dim_topic" -> Seq((-1L, "UNKNOWN", "UNKNOWN"))
        .toDF("TopicKey", "TopicID_NK", "TopicName"),
      "dim_sub_topic" -> Seq((-1L, "UNKNOWN", "UNKNOWN", -1L, "UNKNOWN"))
        .toDF("SubTopicKey", "SubTopicID_NK", "SubTopicName", "ParentTopicKey", "ParentTopicName"),
      "dim_keyword" -> Seq((-1L, "UNKNOWN", "UNKNOWN"))
        .toDF("KeywordKey", "KeywordID_NK", "KeywordText"),
      "dim_reference_source" -> Seq((-1L, "UNKNOWN", "UNKNOWN"))
        .toDF("ReferenceSourceKey", "ReferenceID_NK", "ReferenceText"),
      "dim_interaction_type" -> Seq((-1L, "UNKNOWN"))
        .toDF("InteractionTypeKey", "InteractionType"))
  }

  /** Full silver→gold run against Parquet warehouses. A silver table that
    * was never materialized (e.g. a corpus with zero comments) reads as a
    * schema-typed empty DataFrame — the reference's CREATE TABLE IF NOT
    * EXISTS guarantees the same. */
  def run(spark: SparkSession, silverWarehouse: String, goldWarehouse: String,
          metrics: Option[graft.metrics.MetricsRegistry] = None,
          extraArticleCols: Seq[String] = Nil): Unit =
    runCore(spark, silverWarehouse, goldWarehouse, metrics, dates = Nil,
      extraArticleCols)

  /** Incremental silver→gold: process ONLY the given article dates. The
    * articles scan partition-prunes on `date` (silver articles are
    * date-partitioned), link/comment tables shrink by left-semi joins
    * through the day's ArticleIDs, and the keyed upserts then rewrite only
    * the touched gold partitions — a daily run over a 100 TB warehouse
    * moves one day's rows, not the table. Dim upserts stay whole-table
    * (dims are small, silver-side deduped, and the merge is idempotent);
    * authors/topics have no date notion to filter by. */
  def runIncremental(spark: SparkSession, silverWarehouse: String,
                     goldWarehouse: String, dates: Seq[java.sql.Date],
                     metrics: Option[graft.metrics.MetricsRegistry] = None): Unit = {
    require(dates.nonEmpty, "runIncremental needs at least one date")
    runCore(spark, silverWarehouse, goldWarehouse, metrics, dates)
  }

  /** Changelog-driven incremental gold — the Iceberg incremental-read
    * pattern over a MANIFESTED silver articles table: diff the articles
    * root manifests between `fromRootV` and `toRootV`
    * ([[graft.sources.PartitionSnapshots.changedPartitions]] — two
    * manifest files, zero data files, O(touched partitions)), turn the
    * differing `date=...` partitions into the day work-list, and run the
    * ordinary incremental rebuild over exactly those days. Where
    * [[runIncremental]] needs the caller to KNOW which dates changed
    * (and [[missingDates]] only finds wholly-absent ones — an update to
    * an existing day is invisible to it), this derives the list from
    * what the silver commits actually rewrote — the daily-merge cadence
    * driven by the table's own history instead of a scheduler's guess.
    * Idempotent and compaction-safe: a partition rewritten with
    * identical rows (compaction) re-derives identical gold. Same merge
    * semantics as every incremental path: gold rows whose silver
    * source rows were DELETED (not replaced) survive until a full
    * rebuild, exactly as with [[runIncremental]]. Returns the processed
    * dates (empty when the commits touched nothing). */
  def runFromChangelog(spark: SparkSession, silverWarehouse: String,
                       goldWarehouse: String, fromRootV: Long, toRootV: Long,
                       metrics: Option[graft.metrics.MetricsRegistry] = None)
      : Seq[java.sql.Date] =
    runFromChangelogBranched(spark, silverWarehouse, goldWarehouse,
      fromRootV, Some(toRootV), metrics, None, None)

  /** BRANCH-AWARE changelog gold — the write-audit-publish pattern END TO
    * END across two layers: silver ingest staged on a branch of the
    * articles table, gold derived from THAT branch onto a branch of the
    * gold fact tables, both validated, then [[publishStaged]] fast-
    * forwards silver and gold together. Until publish, MAIN readers of
    * both layers see nothing.
    *
    * `silverBranch` names the articles branch the work-list and the
    * article reads pin to (its head is the diff's `toRootV`);
    * `goldBranch` routes every FACT upsert onto that branch of the
    * (manifested) gold facts. The conformed DIMENSIONS publish to main
    * immediately — they are idempotent, additive lookups keyed by
    * deterministic surrogate hashes (Kimball practice: dims land before
    * facts), so an aborted staging leaves at most unused dim rows,
    * never a visible fact. Legacy flat gold facts are zero-IO migrated
    * to manifests on first branched run. */
  def runFromChangelogBranched(spark: SparkSession, silverWarehouse: String,
                               goldWarehouse: String, fromRootV: Long,
                               toRootV: Option[Long] = None,
                               metrics: Option[graft.metrics.MetricsRegistry] = None,
                               silverBranch: Option[String] = None,
                               goldBranch: Option[String] = None)
      : Seq[java.sql.Date] = {
    import graft.sources.PartitionSnapshots
    val articles = s"$silverWarehouse/articles"
    require(PartitionSnapshots.isManifested(spark, articles),
      s"runFromChangelog needs partition manifests on $articles " +
        "(any BronzeToSilver ingest creates them)")
    val toV = toRootV.orElse(silverBranch.map(n =>
      PartitionSnapshots.rootBranches(spark, articles).getOrElse(n,
        throw new IllegalArgumentException(
          s"runFromChangelog: no branch '$n' at $articles"))))
      .getOrElse(PartitionSnapshots.currentRootVersion(spark, articles).get)
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val dates = PartitionSnapshots
      .changedPartitions(spark, articles, fromRootV, toV)
      .map(_.split("=", 2)(1))
      .map(ExternalCatalogUtils.unescapePathName)
      .filter(_ != ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      .map(java.sql.Date.valueOf)
      .sortBy(_.getTime)
    if (dates.nonEmpty)
      runCore(spark, silverWarehouse, goldWarehouse, metrics, dates,
        articlesAsOf = if (silverBranch.nonEmpty) Some(toV) else None,
        goldBranch = goldBranch)
    dates
  }

  /** Publish a staged silver+gold line in one place: fast-forward the
    * silver articles branch, then each gold fact table carrying the
    * branch (facts whose staging touched nothing have no branch ref and
    * are skipped). Silver first — a crash between the two publishes
    * leaves silver ahead and gold lagging, which is ordinary pipeline
    * lag, never a gold state main's silver cannot explain. */
  def publishStaged(spark: SparkSession, silverWarehouse: String,
                    goldWarehouse: String, branch: String): Unit = {
    import graft.sources.PartitionSnapshots
    val articles = s"$silverWarehouse/articles"
    if (PartitionSnapshots.rootBranches(spark, articles).contains(branch)) {
      PartitionSnapshots.fastForwardRoot(spark, articles, branch)
      PartitionSnapshots.dropBranch(spark, articles, branch)
    }
    factTables.foreach { t =>
      val p = s"$goldWarehouse/$t"
      if (PartitionSnapshots.rootBranches(spark, p).contains(branch)) {
        PartitionSnapshots.fastForwardRoot(spark, p, branch)
        PartitionSnapshots.dropBranch(spark, p, branch)
      }
    }
  }

  private val factTables = Seq("fact_article_publication",
    "fact_article_keyword", "fact_article_reference",
    "fact_top_comment_activity", "fact_top_comment_interaction_detail")

  /** Dates present in silver articles but missing from the gold fact —
    * the backfill work-list. METADATA ONLY: the silver side lists the
    * hive-style `date=...` dirs, the gold side reads the publication
    * fact's root manifest and keeps the partitions whose pinned state
    * holds data, so no data file — not even a footer — is opened. Cheap
    * on a 100 TB warehouse, and immune to a crashed write: staged slots
    * the root never published name no date, so the date stays missing.
    * `runIncremental(missingDates(...))` is the idempotent catch-up loop
    * after downtime. */
  def missingDates(spark: SparkSession, silverWarehouse: String,
                   goldWarehouse: String): Seq[java.sql.Date] = {
    import graft.sources.PartitionSnapshots
    val silverDates = graft.sources.FsUtils
      .listSubdirs(spark, s"$silverWarehouse/articles")
      .filter(_.startsWith("date="))
      .map(_.stripPrefix("date="))
      .filter(_ != "__HIVE_DEFAULT_PARTITION__")
      .map(java.sql.Date.valueOf)
    val goldKeys = PartitionSnapshots
      .rootManifest(spark, s"$goldWarehouse/fact_article_publication")
      .getOrElse(Map.empty).collect {
        case (rel, state) if PartitionSnapshots.stateHasData(state) =>
          rel.stripPrefix("PublicationDateKey=").toInt
      }.toSet
    silverDates.filter { d =>
      val ld = d.toLocalDate
      !goldKeys.contains(ld.getYear * 10000 + ld.getMonthValue * 100 + ld.getDayOfMonth)
    }.sortBy(_.getTime)
  }

  private def runCore(spark: SparkSession, silverWarehouse: String,
                      goldWarehouse: String,
                      metrics: Option[graft.metrics.MetricsRegistry],
                      dates: Seq[java.sql.Date],
                      extraArticleCols: Seq[String] = Nil,
                      articlesAsOf: Option[Long] = None,
                      goldBranch: Option[String] = None): Unit = {
    def metered[T](table: String)(body: => T): T =
      graft.metrics.MetricsRegistry.timed(metrics, "silver_to_gold", table)(body)
    def silverFull(name: String): DataFrame =
      graft.operators.Upsert.readOption(spark, s"$silverWarehouse/$name")
        .getOrElse(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          graft.core.Schemas.silverSchemas(name)))
    // a branched run pins articles at the SILVER BRANCH head — main
    // readers of silver are reading a different (older) root
    val articlesAll = articlesAsOf match {
      case Some(v) => graft.sources.PartitionSnapshots
        .readOption(spark, s"$silverWarehouse/articles", asOf = v)
        .getOrElse(silverFull("articles").limit(0))
      case None => silverFull("articles")
    }
    val articlesScoped =
      if (dates.isEmpty) articlesAll
      else articlesAll.where(col("date").isin(dates: _*)) // partition-pruned
    // Article-scoped tables shrink through the day's ArticleIDs; the semi
    // join's build side is one day of keys — broadcast-sized. Memoized so
    // the scoped comments plan is built once — comment_interactions reuses
    // it as its CommentID build side instead of re-running the scoped scan.
    val scopedCache = scala.collection.mutable.Map[String, DataFrame]()
    def articleScoped(name: String): DataFrame =
      scopedCache.getOrElseUpdate(name, {
        val full = silverFull(name)
        if (dates.isEmpty) full
        else full.join(
          broadcast(articlesScoped.select("ArticleID").distinct()),
          Seq("ArticleID"), "left_semi")
      })
    def silver(name: String): DataFrame = name match {
      case "articles" => articlesScoped
      case "article_keywords" | "article_references" | "comments" =>
        articleScoped(name)
      case "comment_interactions" =>
        val full = silverFull(name)
        if (dates.isEmpty) full
        else full.join(
          broadcast(articleScoped("comments").select("CommentID").distinct()),
          Seq("CommentID"), "left_semi")
      case other => silverFull(other)
    }
    val articles = silver("articles").cache()
    // the scoped comments feed three consumers (comment facts + the
    // comment_interactions semi-join build side) — cache so the scoped
    // scan runs once per incremental day, not per consumer
    if (dates.nonEmpty) articleScoped("comments").cache()
    try {
      val dims: Map[String, (DataFrame, Seq[String])] = Map(
        "dim_date" -> (dimDate(articles), Seq("DateKey")),
        "dim_author" -> (dimAuthor(silver("authors"), articles), Seq("AuthorID_NK")),
        "dim_topic" -> (dimTopic(silver("topics")), Seq("TopicID_NK")),
        "dim_sub_topic" -> (dimSubTopic(silver("subtopics"), silver("topics")), Seq("SubTopicID_NK")),
        "dim_keyword" -> (dimKeyword(silver("keywords")), Seq("KeywordID_NK")),
        "dim_reference_source" -> (dimReferenceSource(silver("references_table")), Seq("ReferenceID_NK")),
        "dim_interaction_type" -> (dimInteractionType(silver("comment_interactions")), Seq("InteractionTypeKey")))
      // each dimension's -1/UNKNOWN member rides in that dimension's one
      // upsert (one commit per dimension); its key ("UNKNOWN" / -1) never
      // collides with a real row's hashed key
      val unknown = unknownRows(spark)
      dims.foreach { case (name, (df, keys)) =>
        metered(name) {
          Upsert.upsert(spark, s"$goldWarehouse/$name",
            unknown.get(name).fold(df)(df.unionByName(_)), keys)
        }
      }
      val ak = silver("article_keywords"); val ar = silver("article_references")
      val facts: Map[String, (DataFrame, Seq[String], Seq[String])] = Map(
        "fact_article_publication" -> (
          factArticlePublication(articles, ak, ar, extraArticleCols),
          Seq("PublicationDateKey", "ArticleID_NK"), Seq("PublicationDateKey")),
        "fact_article_keyword" -> (
          factArticleKeyword(ak, articles),
          Seq("ArticlePublicationDateKey", "ArticleID_NK", "KeywordKey"),
          Seq("ArticlePublicationDateKey")),
        "fact_article_reference" -> (
          factArticleReference(ar, articles),
          Seq("ArticlePublicationDateKey", "ArticleID_NK", "ReferenceSourceKey"),
          Seq("ArticlePublicationDateKey")),
        "fact_top_comment_activity" -> (
          factTopCommentActivity(silver("comments"), articles),
          Seq("ArticlePublicationDateKey", "ArticleID_NK", "CommentID_NK"),
          Seq("ArticlePublicationDateKey")),
        "fact_top_comment_interaction_detail" -> (
          factTopCommentInteractionDetail(silver("comment_interactions"), silver("comments"), articles),
          Seq("ArticlePublicationDateKey", "ArticleID_NK", "CommentID_NK", "InteractionTypeKey"),
          Seq("ArticlePublicationDateKey")))
      facts.foreach { case (name, (df, keys, parts)) =>
        // extra-column runs evolve the publication fact additively, same
        // opt-in contract as the silver articles table
        val evolve = name == "fact_article_publication" && extraArticleCols.nonEmpty
        val p = s"$goldWarehouse/$name"
        goldBranch.foreach { b =>
          // branch staging needs a manifested fact with the branch ref:
          // migrate a legacy flat fact zero-IO (marker flip + baseline
          // root manifest, no data touched) and fork the branch at the
          // current main head on this table's first branched commit
          import graft.sources.PartitionSnapshots
          require(graft.operators.Upsert.readOption(spark, p).nonEmpty,
            s"branched gold run needs an existing baseline at $p")
          PartitionSnapshots.ensureManifested(spark, p, parts)
          PartitionSnapshots.ensureRootManifest(spark, p)
          if (!PartitionSnapshots.rootBranches(spark, p).contains(b))
            PartitionSnapshots.createBranch(spark, p, b)
        }
        metered(name) {
          Upsert.upsert(spark, p, df, keys,
            insertOnly = false, parts, evolveSchema = evolve,
            branch = goldBranch)
        }
      }
    } finally {
      articles.unpersist()
      if (dates.nonEmpty) articleScoped("comments").unpersist()
    }
  }
}
