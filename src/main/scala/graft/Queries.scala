package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

import graft.dedup.Dedup
import graft.functions.Cols
import graft.multimodal.Multimodal
import graft.operators.Upsert
import graft.pipeline.FlatView
import graft.similarity.Similarity
import graft.text.TextAnalysis

/** The driver-facing query catalog: one entry per operator family from
  * SURVEY.md §2 plus the training-data-pipeline operators (dedup,
  * similarity, text analysis, multimodal), each phrased over the
  * /root/testdata tables so the DuckDB oracle can replay it.
  *
  * Conventions that keep the oracle hash-stable:
  *  - every computed column is aliased identically here and in the SQL;
  *  - money sums go through decimal (exact, order-independent) and are cast
  *    back to double;
  *  - surrogate keys in oracle-checked queries use sha2-256 (portable);
  *    xxhash64 stays in the pipeline paths (unit-tested, not oracle-able);
  *  - double-valued derivations mirror the exact expression tree so IEEE
  *    arithmetic agrees bit-for-bit.
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.parquet carries TIMESTAMP(NANOS) which Spark's parquet reader
    * only surfaces as nanos-since-epoch longs
    * (spark.sql.legacy.parquet.nanosAsLong, set in Verify/Bench); convert
    * back to a micros timestamp with integer division — a double round-trip
    * would lose precision above 2^53 ns. */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // floor division, not `div` (which truncates toward zero): for
        // pre-1970 timestamps truncation rounds opposite to the oracle's
        // epoch_us; pmod makes the remainder nonnegative so the quotient
        // floors for any sign
        df.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // regenerated testdata writes TIMESTAMP_MICROS with isAdjustedToUTC=0;
        // the session builders set inferTimestampNTZ=false so this arm should
        // not fire, but if a future session misses the conf, normalize here:
        // session TZ is pinned UTC, so the NTZ→LTZ cast is value-preserving
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  // ---- relational core -------------------------------------------------

  /** A1/P1: TPC-H Q1-style pricing summary (partial agg + single shuffle). */
  def q01PricingAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(28,10)"))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** P1/P2: filter + projection, pushdown-friendly. */
  def q02FilterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 150000)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").as("total"),
        upper(col("o_orderpriority")).as("priority"))

  /** P3: blank→NULL hygiene projection. */
  def q03BlankToNull(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(col("doc_id"), Cols.blankToNull(col("source")).as("src_clean"))

  /** P4: NULL/blank natural key → sentinel, else portable surrogate. */
  def q04SentinelKey(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_orderkey"),
      when(col("o_orderpriority").isNull || col("o_orderpriority") === "", lit("-1"))
        .otherwise(sha2(col("o_orderpriority"), 256)).as("priority_key"))

  /** J2/A1: aggregate-then-join enrichment (pre-agg before the join, so the
    * join input is one row per key — never join-then-aggregate). */
  def q05JoinEnrich(s: SparkSession, dir: String): DataFrame = {
    val cnt = t(s, dir, "lineitem").groupBy("l_orderkey")
      .agg(count(lit(1)).as("line_cnt"), sum(col("l_quantity")).as("qty"))
    t(s, dir, "orders").join(cnt, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"),
        coalesce(col("line_cnt"), lit(0L)).as("line_cnt"),
        coalesce(col("qty"), lit(0.0)).as("total_qty"))
  }

  /** J7 flagship: fact ⟕ 3 dims flat denormalization; dims broadcast. */
  def q06FlatView(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").as("o")
      .join(broadcast(t(s, dir, "customer").as("c")),
        col("o.o_custkey") === col("c.c_custkey"), "left")
      .join(broadcast(t(s, dir, "nation").as("n")),
        col("c.c_nationkey") === col("n.n_nationkey"), "left")
      .join(broadcast(t(s, dir, "region").as("r")),
        col("n.n_regionkey") === col("r.r_regionkey"), "left")
      .select(col("o_orderkey"), col("o_totalprice").as("total"),
        col("o.o_orderdate").cast("date").as("order_date"),
        col("c.c_name").as("customer_name"), col("n.n_name").as("nation_name"),
        col("r.r_name").as("region_name"))

  /** §2.5: windowed top-k (top 3 orders per customer). */
  def q07TopkWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("total").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice").as("total"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
  }

  /** dim_date calendar derivations (date function family). */
  def q08Calendar(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_orderdate").cast("date").as("d")).distinct()
      .select(
        Cols.dateKey(col("d")).cast("int").as("date_key"),
        col("d").as("full_date"),
        date_format(col("d"), "EEEE").as("day_name"),
        dayofmonth(col("d")).cast("int").as("day_of_month"),
        dayofyear(col("d")).cast("int").as("day_of_year"),
        date_format(col("d"), "MMMM").as("month_name"),
        month(col("d")).cast("int").as("month_num"),
        quarter(col("d")).cast("int").as("quarter"),
        year(col("d")).cast("int").as("year"))

  /** J9: unionByName of heterogeneous sources (column order differs). */
  def q09Union(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_name").as("name"), lit("customer").as("src"))
      .unionByName(
        t(s, dir, "supplier").select(lit("supplier").as("src"), col("s_name").as("name")))

  /** S5 algebra: anti join (customers with no high-value orders — the
    * filtered right side keeps the result non-empty at every SF). */
  def q10AntiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  /** S6 algebra: semi join (customers having at least one order). */
  def q11SemiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))

  /** A2: distinct-by-key. */
  def q12Distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()

  /** S5: keyed MERGE (update+insert) as pure DataFrame algebra. */
  def q13MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val target = t(s, dir, "customer")
    val source = target.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + lit(1000.0))
    Upsert.merge(target, source, Seq("c_custkey"))
      .select(col("c_custkey"), col("c_acctbal"))
  }

  /** S6: insert-only MERGE (append-if-absent). */
  def q14MergeInsertOnly(s: SparkSession, dir: String): DataFrame = {
    val target = t(s, dir, "customer").filter(col("c_custkey") <= 100)
    val source = t(s, dir, "customer").withColumn("c_acctbal", lit(0.0))
    Upsert.merge(target, source, Seq("c_custkey"), insertOnly = true)
      .select(col("c_custkey"), col("c_acctbal"))
  }

  /** Map/JSON family: from_json → element_at → agg. Every event row counts
    * toward `n` (a row whose props lacks "k" or fails to parse contributes
    * a NULL k) — the same row universe as the oracle's regexp extraction. */
  def q15EventsJson(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("m", from_json(col("props"), MapType(StringType, StringType)))
      .select(col("event_type"),
        Cols.tryLong(element_at(col("m"), "k")).as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"))

  /** Event-time bucketing: per (day, hour, type) counts + exact revenue. */
  def q16EventsHourly(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("ts").cast("date").as("d"), hour(col("ts")).cast("int").as("hr"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("revenue"))

  /** Array explode family: token frequencies over documents. */
  def q17ExplodeTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))

  // ---- text analysis ---------------------------------------------------

  def q18TextMetrics(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("int").as("token_count"),
      TextAnalysis.bpeishTokenCount(col("text")).cast("int").as("bpeish_token_count"),
      length(col("text")).cast("int").as("char_count"))

  def q19TextRatios(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
      TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
      TextAnalysis.meanWordLength(col("text")).as("mean_word_length"))

  def q20LangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang_guess"))

  def q21QualityScore(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("quality_score"))

  // ---- dedup -----------------------------------------------------------

  def q22ExactDedupGroups(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(s, dir, "documents")).select("keep_id", "dup_count")

  def q23ExactDedupRows(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(t(s, dir, "documents")).select("doc_id", "lang")

  /** MinHash-LSH near-dup with exact Jaccard verification. Portable hash
    * family so the DuckDB oracle replays the banded-bucket join exactly;
    * the at-scale bucket cap is disabled here because the oracle enumerates
    * every band-equal pair (a capped bucket would silently diverge). */
  def q24MinHashDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashDedup(t(s, dir, "documents"), threshold = 0.5, portable = true,
        maxBucketSize = Int.MaxValue)
      .select(col("id1"), col("id2"))

  def q25SimHashGroups(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashGroups(t(s, dir, "documents"))

  /** Near-dup pairs resolved to dedup clusters by distributed connected
    * components (min-label propagation over the pair graph) — turns q24's
    * pair list into one canonical keeper per transitive template family. */
  def q58DedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minHashDedup(docs, threshold = 0.5, portable = true,
      maxBucketSize = Int.MaxValue)
    Dedup.dedupClusters(docs, pairs)
  }

  /** n-gram Jaccard similarity over a deterministic candidate pair set. */
  def q26NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = docs.select(col("doc_id").as("id1"))
      .where(col("id1") < 50)
      .join(docs.select(col("doc_id").as("id2")).where(col("id2") < 50),
        col("id1") < col("id2"))
    Dedup.jaccardVerify(docs, pairs).where(col("jaccard") > 0)
  }

  // ---- similarity search ----------------------------------------------

  def q27KnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5), k = 10)
      .select(col("query_id"), col("corpus_id"), col("rank"))
  }

  def q28EmbeddingNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDup(t(s, dir, "embeddings"), threshold = 0.3, cap = 300)
      .select(col("id1"), col("id2"), col("cos_sim"))

  /** LSH-bucketed ANN (scale path; oracle replays the md5-plane buckets in SQL). */
  def q29LshTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.lshTopK(emb, emb.where(col("vec_id") < 5), k = 5, planes = 4)
      .select(col("query_id"), col("corpus_id"), col("rank"))
  }

  // ---- multimodal ------------------------------------------------------

  def q30MultimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.documentsAsMedia(t(s, dir, "documents"))
      .select(col("media_id"), col("media_type"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.sample_rate").as("sample_rate"), col("meta.n_frames").as("n_frames"))

  def q31MultimodalFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(s,
        Multimodal.documentsAsMedia(t(s, dir, "documents")))
      .toDF().select(col("media_id"), col("byte_len"), col("checksum"))

  def q32FrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
        Multimodal.documentsAsMedia(t(s, dir, "documents")))
      .groupBy("media_id").agg(count(lit(1)).as("n_frames_sampled"))

  /** Document fingerprint (rolling hash; oracle replays the fold with a
    * list_reduce over per-token portable hashes). */
  def q33Fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fingerprint"))

  /** IVF ANN scale path (oracle replays assignment + probing in SQL). */
  def q34IvfTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.similarity.Similarity.ivfTopK(emb, emb.where(col("vec_id") < 5),
        k = 10, nlist = 16, nprobe = 4)
      .select(col("query_id"), col("corpus_id"), col("rank"))
  }

  /** Gap-based sessionization, batch replay (window-function family).
    * Emitted timestamps truncate to seconds: Spark reads the ns parquet at
    * micros precision, the oracle at nanos — sub-second digits would
    * spuriously mismatch. */
  def q35Sessionize(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.sessionizeBatch(
        events(s, dir).select("user_id", "ts", "value"), gapMs = 10 * 60 * 1000L)
      .select(col("user_id"),
        date_trunc("second", col("session_start")).as("session_start"),
        date_trunc("second", col("session_end")).as("session_end"),
        col("n_events"), col("total_value"))

  /** Event-time tumbling windows (batch run of the streaming transform). */
  def q36WindowedCounts(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.windowedEventCounts(events(s, dir), "1 hour", "30 minutes")

  /** Deterministic stratified hash-sampling by language (reproducible
    * across engines/partitionings — rand() sampling is neither). */
  def q37StratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedHashSample(
        t(s, dir, "documents"), col("doc_id"), col("lang"),
        Map("en" -> 0.5, "zh" -> 0.2), default = 0.1)
      .select("doc_id", "lang")

  /** Training-set curation compose: quality gate ∧ exact-dedup survivor ∧
    * 50% hash sample, joined to embeddings. */
  def q38Curation(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val gated = docs
      .withColumn("qs", TextAnalysis.qualityScore(col("text")))
      .where(col("qs") >= 0.5)
    graft.operators.Sampling.hashSample(gated, col("doc_id"), 0.5)
      .join(Dedup.exactDedup(docs).select("doc_id"), Seq("doc_id"), "left_semi")
      .join(t(s, dir, "embeddings"), col("doc_id") === col("vec_id"), "inner")
      .select(col("doc_id"), col("lang"), col("label"))
  }

  /** Rollup with grouping id — hierarchical subtotals in one pass
    * (a capability superset of the reference, which has no grouping sets). */
  def q39Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(grouping_id().cast("int").as("gid"),
        sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))

  /** Pivot: per-day event counts spread across event-type columns. */
  def q40Pivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    val p = events(s, dir)
      .groupBy(col("ts").cast("date").as("d"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    // pivot yields NULL for absent combinations; the oracle's FILTER
    // counts yield 0 — align on 0
    p.select(col("d") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
  }

  /** Exact interpolated percentiles per group (Spark `percentile` ==
    * DuckDB `quantile_cont`, both linear interpolation). */
  def q41Percentile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        expr("percentile(l_extendedprice, 0.5)").as("median_price"))

  /** §2.6 superset: INTERSECT / EXCEPT (distinct set semantics). */
  def q42SetOps(s: SparkSession, dir: String): DataFrame = {
    val building = t(s, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val bigSpenders = t(s, dir, "orders")
      .where(col("o_totalprice") > 200000)
      .select(col("o_custkey").as("c_custkey"))
    building.intersect(bigSpenders).withColumn("set_op", lit("intersect"))
      .unionByName(building.except(bigSpenders).withColumn("set_op", lit("except")))
  }

  /** §2.7 string-function family over `part`. */
  def q43StringFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_head"),
      split(col("p_name"), " ").getItem(0).as("first_word"),
      concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
      substring(col("p_name"), 1, 5).as("name5"),
      lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
      replace(col("p_type"), lit(" "), lit("_")).as("type_underscored"),
      length(col("p_name")).cast("int").as("name_len"))

  /** §2.7 array-function family (scalar outputs — sorted-join, slicing,
    * membership, distinct count). */
  def q44ArrayFuncs(s: SparkSession, dir: String): DataFrame = {
    val words = split(col("p_name"), " ")
    t(s, dir, "part").select(
      col("p_partkey"),
      size(words).cast("int").as("n_words"),
      concat_ws(",", array_sort(words)).as("sorted_words"),
      concat_ws(",", slice(words, 1, 2)).as("first_two"),
      array_contains(words, "green").as("has_green"),
      size(array_distinct(words)).cast("int").as("n_distinct_words"))
  }

  /** PII-style scrub pass (email/URL/long-number redaction). */
  def q45Redact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.redact(col("text")).as("redacted"))

  /** Gopher/RefinedWeb-style repetition signal: fraction of repeated
    * 2-grams per document. */
  def q46Repetition(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.repetitionRatio(col("text"), 2).as("rep_2gram"),
      TextAnalysis.repetitionRatio(col("text"), 3).as("rep_3gram"))

  /** Date-arithmetic family: ship lag, due dates, month distance. */
  def q47DateArith(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").as("l")
      .join(t(s, dir, "orders").as("o"), col("l.l_orderkey") === col("o.o_orderkey"))
      .select(
        col("l.l_orderkey"), col("l.l_linenumber"),
        datediff(col("l.l_shipdate").cast("date"), col("o.o_orderdate").cast("date"))
          .cast("int").as("ship_lag_days"),
        date_add(col("o.o_orderdate").cast("date"), 30).as("due_date"),
        last_day(col("o.o_orderdate").cast("date")).as("month_end"),
        (year(col("l.l_shipdate")) * 12 + month(col("l.l_shipdate"))
          - year(col("o.o_orderdate")) * 12 - month(col("o.o_orderdate")))
          .cast("int").as("month_distance"))

  /** Constant text for q48's synthetic oversized bucket — 30 clone rows
    * share it, so every one of their LSH buckets exceeds the cap. */
  private val CloneText =
    "graft synthetic clone row shared text for capped bucket verification"

  /** The 100 TB MinHash configuration: bucket-size cap ACTIVE. The corpus
    * is salted with 30 identical clone docs, forcing a bucket of ≥30 that
    * the cap (10) must drop — so this query value-verifies the exact
    * guard q24 disables (its naive pair-enumerating oracle can't see
    * caps; this one banding-explodes and mirrors the cap with QUALIFY). */
  def q48MinHashCapped(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val clones = t(s, dir, "documents").where(col("doc_id") < 30)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"), lit(CloneText).as("text"))
    Dedup.minHashDedup(base.unionByName(clones), threshold = 0.5, portable = true,
        maxBucketSize = 10)
      .select(col("id1"), col("id2"))
  }

  /** SimHash near-dup at Hamming ≤ 3 via pigeonhole banding (4 bands of
    * 8 bits; any equal band → candidate → exact bit_count verify). */
  def q49SimHashNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashNearDup(t(s, dir, "documents"), maxHamming = 3)
      .select(col("id1"), col("id2"), col("hamming"))

  /** The SQL-string entry point under the oracle gate: the identical text
    * runs as Spark SQL here and as the DuckDB oracle — both engines parse
    * the same ANSI statement over the same tables (the reference drives its
    * lifecycle through spark.sql strings; gcs_bronze_to_silver.py:73-158,
    * gold_to_bigquery.py:185-209). */
  val SqlSurfaceText: String =
    """SELECT o.o_orderpriority,
      |       count(*) AS order_count,
      |       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
      |                     AS DECIMAL(28,10))) AS DOUBLE) AS revenue
      |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderstatus <> 'F'
      |GROUP BY o.o_orderpriority""".stripMargin

  def q50SqlSurface(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders")
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql(SqlSurfaceText)
  }

  /** Batch twin of the stream-stream interval join (funnel attribution):
    * per user, every view followed by a purchase within 10 minutes. Same
    * `Streams.intervalJoin` plan runs on two watermarked streams — the
    * streaming spec proves stream==batch on a shared fixture. */
  def q52IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts"))
    val buys = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("buy_id"), col("ts"))
    graft.streaming.Streams.intervalJoin(views, buys, "user_id",
        before = "0 minutes", after = "4 hours")
      .select(col("l.user_id").as("user_id"), col("view_id"), col("buy_id"),
        (unix_micros(col("r.ts")) - unix_micros(col("l.ts"))).as("lag_us"))
  }

  /** Deterministic sharded corpus shuffle (epoch salt "ep1", 8 shards):
    * the pretraining-order randomization — reproducible on any engine,
    * no global sort (one hash exchange, independent per-shard ranks). */
  def q59ShardedShuffle(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.shardedShuffle(
        t(s, dir, "documents").select(col("doc_id")), col("doc_id"), "ep1", 8)
      .select(col("doc_id"), col("shard"), col("pos"))

  /** Sequence packing: documents in shuffle order packed into 512-token
    * context bins per shard (concat-then-chunk; bin = window the doc's
    * first token lands in). */
  def q60TokenPacking(s: SparkSession, dir: String): DataFrame = {
    val shuffled = graft.operators.Sampling.shardedShuffle(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      col("doc_id"), "ep1", 8)
    graft.operators.Sampling.packByTokenBudget(shuffled,
        graft.text.TextAnalysis.tokenCount(col("text")), budget = 512)
      .select(col("doc_id"), col("shard"), col("pos"), col("bin"))
  }

  /** As-of join (point-in-time attribution): each purchase picks the
    * latest view by the same user at or before it — the merge-encoded
    * single-shuffle plan ([[graft.operators.AsOfJoin]]); DuckDB replays it
    * with its native ASOF JOIN. Comparisons and outputs in epoch micros
    * (events.parquet is nanos; both engines compare at micros). */
  def q61AsOfJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val buys = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("buy_id"), col("ts"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts"))
    graft.operators.AsOfJoin.asOf(buys, views, "user_id", "ts",
        rightCols = Seq("view_id"), tieBreak = "view_id")
      .select(col("user_id"), col("buy_id"),
        unix_micros(col("ts")).as("buy_us"), col("view_id"),
        (unix_micros(col("ts")) - unix_micros(col("as_of_ts"))).as("gap_us"))
  }

  /** Binned range join: orders tagged with every overlapping price band
    * (10 bands, 50k stride, 75k width → most orders match two). The
    * inequality join becomes a bin equi-join + exact containment filter —
    * no BroadcastNestedLoopJoin ([[graft.operators.RangeJoin]]). */
  def q62RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val bands = s.range(10).select(
      col("id").cast("int").as("band_id"),
      (col("id") * 50000.0).as("lo"),
      (col("id") * 50000.0 + 75000.0).as("hi"))
    graft.operators.RangeJoin.pointInInterval(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice", bands, "lo", "hi", binWidth = 25000.0)
      .select(col("o_orderkey"), col("band_id"))
  }

  /** BPE-training pair statistics: the 100 most frequent adjacent token
    * pairs corpus-wide (one merge round's candidate table). Global top-k
    * plans as TakeOrderedAndProject — per-partition k, no full sort. */
  def q63BpePairs(s: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.topPairs(t(s, dir, "documents"), "text", 100)

  /** Materialized packed sequences: the (shard, bin) training rows a
    * pretraining loader reads — q60's assignment turned into actual
    * concatenated text, order pinned by the in-sequence sort. */
  def q64PackedSequences(s: SparkSession, dir: String): DataFrame = {
    val shuffled = graft.operators.Sampling.shardedShuffle(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      col("doc_id"), "ep1", 8)
    val packed = graft.operators.Sampling.packByTokenBudget(shuffled,
      graft.text.TextAnalysis.tokenCount(col("text")), budget = 512)
    graft.operators.Sampling.packedSequences(packed, "text")
  }

  /** KMV (bottom-k) approximate distinct: per-language distinct-text
    * estimate via the custom sketch aggregate
    * ([[graft.functions.KMinValues]]). Exact COUNT DISTINCT shuffles every
    * distinct value between partial and final aggregates; the sketch's
    * partial state is ≤ k longs per group per partition. Deterministic (k
    * smallest distinct hashes are partitioning-invariant), so DuckDB
    * replays it with a row_number window over the distinct hashes. */
  def q65KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sketches
    val k = 64
    t(s, dir, "documents").where(col("text").isNotNull)
      .groupBy(col("lang"))
      .agg(Sketches.kmvSketch(Sketches.hash63(col("text")), k).as("sk"))
      .select(col("lang"), size(col("sk")).as("sketch_n"),
        Sketches.kmvEstimate(col("sk"), k).as("est_distinct"))
  }

  /** Fuzzy key self-join (edit distance ≤ 1) over one market segment's
    * customer names: deletion-neighborhood equi-join + exact levenshtein
    * verify ([[graft.operators.FuzzyJoin]]) — the DuckDB oracle pays the
    * quadratic cross product the encoding exists to avoid. The
    * maxBucketSize guard (10 000, orders of magnitude above any variant
    * bucket the testdata produces — the join stays oracle-exact) is the
    * corpus-scale bound: a hot near-identical key family can otherwise
    * make the candidate join quadratic on its own (see the operator's
    * recall contract). */
  def q66FuzzyJoin(s: SparkSession, dir: String): DataFrame =
    graft.operators.FuzzyJoin.selfJoinEdit1(
        t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING"),
        "c_custkey", "c_name", maxBucketSize = 10000)
      .select(col("id1"), col("id2"))

  /** Deterministic Vietnamese sample phrases (public news-section names —
    * the reference's corpus domain) cycled over doc_id for q67. */
  val VnPhrases: Seq[String] = Seq("Thời sự trong nước", "Đường phố Hà Nội",
    "Giáo dục – Đào tạo", "Thể thao bóng đá", "Kinh doanh quốc tế",
    "Sức khỏe đời sống", "Du lịch Đà Nẵng")

  /** Diacritic folding + URL slugs over Vietnamese text — the reference
    * crawler's topic-slug derivation as a scan-side codegen'd translate()
    * (zero UDF); the identical fold map drives DuckDB's translate(). */
  def q67VnSlug(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val phrase = element_at(array(VnPhrases.map(lit): _*),
      (col("doc_id") % 7 + 1).cast("int"))
    t(s, dir, "documents").select(col("doc_id"), phrase.as("phrase"))
      .select(col("doc_id"), col("phrase"),
        TextAnalysis.foldDiacritics(col("phrase")).as("folded"),
        TextAnalysis.slug(col("phrase")).as("slug"))
  }

  /** One-scan length histogram: 20 equal-width bins of documents.n_chars
    * over [0, 600), edges clamped — the distribution profile behind any
    * length-filter decision ([[graft.operators.Profile.histogram]]). */
  def q68Histogram(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.histogram(t(s, dir, "documents"), "n_chars",
      lo = 0.0, hi = 600.0, bins = 20)

  /** One-scan numeric profile (count/nulls/min/max/sum/mean per column)
    * over three orders columns: a single wide partial→final aggregate,
    * sums routed through DECIMAL so the values are addition-order-
    * independent ([[graft.operators.Profile.summarize]]). */
  def q69Profile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.summarize(t(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_totalprice"))

  /** SCD type-2 build: each customer's order-status change log collapsed
    * into versioned dimension rows with effective ranges — one hash
    * exchange on the key; lag, run numbering, per-run agg, and the
    * effective_to lead all reuse it ([[graft.operators.Scd]]). Range
    * bounds exported as epoch micros. */
  def q70Scd2(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scd.scd2(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_orderstatus")),
        key = "o_custkey", tsCol = "o_orderdate", tieBreak = "o_orderkey",
        attrCols = Seq("o_orderstatus"))
      .select(col("o_custkey"), col("o_orderstatus"), col("version"),
        // o_orderdate surfaces as TIMESTAMP_NTZ; session tz is UTC, so the
        // cast is a pure reinterpretation and matches DuckDB's epoch_us
        unix_micros(col("effective_from").cast("timestamp"))
          .as("effective_from_us"),
        unix_micros(col("effective_to").cast("timestamp"))
          .as("effective_to_us"),
        col("is_current"))

  /** Unpivot/melt (wide→long): the four lineitem measures as
    * (metric, value) rows — Spark's native `unpivot`, a pure per-row
    * Generate: no shuffle, 4× row fan-out scan-side. */
  def q71Unpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").unpivot(
      Array(col("l_orderkey"), col("l_linenumber")),
      Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax")),
      "metric", "value")

  /** Ordered funnel (signup→view→click→purchase): per-user first
    * completion time of each stage in order — cascaded running-window
    * projections sharing ONE exchange on user_id
    * ([[graft.operators.Funnel]]). */
  def q72Funnel(s: SparkSession, dir: String): DataFrame = {
    val stages = Seq("signup", "view", "click", "purchase")
    graft.operators.Funnel.funnel(events(s, dir), "user_id", "ts",
        "event_type", "event_id", stages)
      .select(col("user_id") +: stages.map(st =>
        unix_micros(col(s"${st}_ts")).as(s"${st}_us")) :+
        col("stages_completed"): _*)
  }

  /** PageRank (damping 0.85, 5 fixed iterations, fixed-point integer
    * ranks) over the co-purchase item graph: within each order, an edge
    * links consecutive lineitems' parts. Integer floor-division arithmetic
    * makes every iteration bit-identical across engines and partition
    * orders ([[graft.operators.Graph.pageRank]]); the oracle unrolls the
    * same five iterations in SQL. */
  def q73PageRank(s: SparkSession, dir: String): DataFrame = {
    // l_linenumber is NOT unique per order in the testdata; adding
    // l_partkey makes ties carry the same part, so the part SEQUENCE the
    // lead() walks is deterministic even though row order among ties isn't
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"))
    val edges = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .withColumn("dst", lead(col("l_partkey"), 1).over(w))
      .where(col("dst").isNotNull && col("dst") =!= col("l_partkey"))
      .select(col("l_partkey").as("src"), col("dst"))
    val ranks = graft.operators.Graph.pageRank(edges, "src", "dst",
      iterations = 5)
    // pin the result before releasing the checkpoint the plan reads from
    val out = ranks.select(col("node"), col("rank")).localCheckpoint()
    graft.operators.Graph.unpersist(ranks)
    out
  }

  private val CmsDepth = 4
  private val CmsWidth = 64

  /** Count-Min heavy hitters: tokens whose sketch estimate ≥ 500 under a
    * deliberately tight 4×64 sketch (collisions visible, estimates ≥
    * truth). Counter build shuffles ≤ depth·width rows regardless of
    * corpus size; probes broadcast-join the counter table
    * ([[graft.operators.CountMin]]). */
  def q74CmsHeavy(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val toks = t(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
      .where(col("tok") =!= "")
    val counters = CountMin.build(toks, col("tok"), CmsDepth, CmsWidth)
    CountMin.heavyHitters(counters, toks, col("tok"), CmsDepth, CmsWidth,
      threshold = 500L)
  }

  private val MixtureWeights =
    Seq("en" -> 5L, "de" -> 2L, "es" -> 1L, "fr" -> 1L, "zh" -> 1L)
  private val MixtureN = 300L

  /** Data-mixture resampling: a deterministic 300-doc sample whose
    * language composition follows 5:2:1:1:1 target weights —
    * largest-remainder quotas + salted-hash rank per language
    * ([[graft.operators.Sampling.mixtureSample]]). */
  def q75Mixture(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.mixtureSample(t(s, dir, "documents"),
        col("lang"), col("doc_id"), MixtureWeights, MixtureN, salt = "mix1")
      .select(col("doc_id"), col("lang"), col("sample_rank"))

  /** Inverted-index build: token → document frequency + sorted posting
    * list (comma-joined), capped at 1000 ids per token with a truncation
    * flag ([[graft.text.TextAnalysis.invertedIndex]]). */
  def q76InvertedIndex(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
      minDf = 20L, maxPostings = 1000)

  /** Bigram-LM fluency scoring (CCNet-style quality filter): train bigram
    * conditional frequencies on the corpus in one scan, score every
    * document as the integer mean of its bigrams' scaled conditionals —
    * fixed-point arithmetic, bit-identical across engines
    * ([[graft.text.TextAnalysis.bigramLmScore]]). */
  def q77BigramLm(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model = TextAnalysis.bigramModel(docs, "text")
    TextAnalysis.bigramLmScore(docs, "doc_id", "text", model)
      .select(col("id").as("doc_id"), col("n_bigrams"), col("lm_score"))
  }

  /** CDC apply-changes: an I/U/D changelog (inserts for all orders,
    * updates for keys %7, deletes for keys %13, a seq-4 re-insert for
    * keys %26 proving deletes don't shadow later inserts) collapsed to
    * final state — one exchange, latest-wins then tombstone filter
    * ([[graft.operators.Cdc]]). */
  def q78CdcApply(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
    val ins = o.select(col("o_orderkey"), col("o_totalprice"),
      lit(1L).as("seq"), lit("I").as("op"))
    val upd = o.where(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") * 1.1).as("o_totalprice"),
        lit(2L).as("seq"), lit("U").as("op"))
    val del = o.where(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey"), lit(null).cast("double").as("o_totalprice"),
        lit(3L).as("seq"), lit("D").as("op"))
    val res = o.where(col("o_orderkey") % 26 === 0)
      .select(col("o_orderkey"), lit(0.0).as("o_totalprice"),
        lit(4L).as("seq"), lit("I").as("op"))
    graft.operators.Cdc.applyChanges(
      ins.unionByName(upd).unionByName(del).unionByName(res),
      Seq("o_orderkey"), "seq", "op")
  }

  /** KMV sketch set algebra: per-status distinct-customer sketches for
    * 'O' and 'F' orders, merged WITHOUT revisiting the data — union
    * distinct estimate and Jaccard similarity straight from the two
    * 64-long arrays ([[graft.functions.Sketches.kmvUnion]]/`kmvJaccard`).
    * The oracle rebuilds the same bottom-k sets with windows. */
  def q79KmvSetops(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sketches
    val k = 64
    val sk = t(s, dir, "orders").where(col("o_orderstatus").isin("O", "F"))
      .groupBy(col("o_orderstatus"))
      .agg(Sketches.kmvSketch(
        Sketches.hash63(col("o_custkey").cast("string")), k).as("sk"))
    val a = sk.where(col("o_orderstatus") === "O").select(col("sk").as("ska"))
    val b = sk.where(col("o_orderstatus") === "F").select(col("sk").as("skb"))
    a.crossJoin(b).select(
      Sketches.kmvEstimate(col("ska"), k).as("est_o"),
      Sketches.kmvEstimate(col("skb"), k).as("est_f"),
      Sketches.kmvEstimate(Sketches.kmvUnion(col("ska"), col("skb"), k), k)
        .as("est_union"),
      Sketches.kmvJaccard(col("ska"), col("skb"), k).as("jaccard"))
  }

  /** Per-label embedding centroids via the element-wise vector-sum
    * aggregate ([[graft.functions.VectorSumLong]]): partial state is one
    * 64-long array per label per partition — never the n·d exploded rows.
    * Output long-form (label, dim, sum_q, mean) so the oracle can replay
    * it with unnest + groupBy. */
  def q80Centroids(s: SparkSession, dir: String): DataFrame =
    graft.similarity.Similarity.groupCentroids(
        t(s, dir, "embeddings"), "label", "embedding", dim = 64)
      .select(col("label"), col("n"), posexplode(col("sum_q")))
      .select(col("label"), col("n"), col("pos").as("dim"),
        col("col").as("sum_q"),
        (col("col").cast("double") / (col("n") * 1000L).cast("double"))
          .as("mean"))

  /** Trailing 1-hour sliding aggregate per user (RANGE frame over epoch
    * seconds): moving event count and value sum — the continuous-metrics
    * view of the events stream. Sum routed through DECIMAL (exact,
    * order-independent) then cast back, the repo's money-sum discipline. */
  def q81MovingWindow(s: SparkSession, dir: String): DataFrame = {
    val byUserTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_s"))
      .rangeBetween(-3600L, Window.currentRow)
    events(s, dir)
      .select(col("event_id"), col("user_id"),
        (unix_micros(col("ts")) / lit(1000000L)).cast("long").as("ts_s"),
        col("value"))
      .withColumn("mov_cnt", count(lit(1)).over(byUserTime))
      .withColumn("mov_sum",
        sum(col("value").cast("decimal(20,6)")).over(byUserTime)
          .cast("double"))
      .select(col("event_id"), col("user_id"), col("ts_s"), col("mov_cnt"),
        col("mov_sum"))
  }

  /** Ranking-function family (rank, dense_rank, percent_rank, cume_dist,
    * ntile) over each customer's orders by price — the §2.5 window surface
    * beyond plain row_number, tie-broken deterministically. */
  def q82RankFamily(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("prnk", percent_rank().over(w))
      .withColumn("cdist", cume_dist().over(w))
      .withColumn("quartile", ntile(4).over(w))
  }

  /** Grouped correlation + OLS fit (quantity vs extended price per return
    * flag) from exact quantized sufficient statistics — one scan,
    * order-independent DECIMAL sums, bit-portable final doubles
    * ([[graft.operators.Profile.corrRegression]]). */
  def q84CorrRegression(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.corrRegression(t(s, dir, "lineitem"),
      "l_returnflag", "l_quantity", "l_extendedprice", scale = 100)

  /** Point-in-time dimension enrichment — the lookup SCD2 exists FOR:
    * each order picks the customer-status version effective at its date,
    * via [[graft.operators.Scd]] history + the single-shuffle
    * [[graft.operators.AsOfJoin]] (ties at one effective_from resolve to
    * the highest version, matching the oracle's pre-ASOF dedup). */
  def q85Scd2PointInTime(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val dim = graft.operators.Scd.scd2(
        o.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_orderstatus")),
        key = "o_custkey", tsCol = "o_orderdate", tieBreak = "o_orderkey",
        attrCols = Seq("o_orderstatus"))
      .select(col("o_custkey"),
        col("effective_from").as("o_orderdate"),
        col("o_orderstatus").as("status_at_order"), col("version"))
    graft.operators.AsOfJoin.asOf(
        o.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate")),
        dim, key = "o_custkey", tsCol = "o_orderdate",
        rightCols = Seq("status_at_order", "version"), tieBreak = "version")
      .select(col("o_orderkey"), col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("order_us"),
        col("status_at_order"), col("version"))
  }

  /** Calendar-spine generation (the dim_date seed): one row per day of
    * 1995 from a pure `sequence` generator — no source table, the
    * date-dimension bootstrap every warehouse needs
    * (reference: spark_jobs/gcs_silver_to_gold.py:355-371 builds the same
    * fields from observed dates; a spine covers gaps too). */
  def q86DateSpine(s: SparkSession, dir: String): DataFrame =
    s.range(1)
      .select(explode(expr(
        "sequence(to_date('1995-01-01'), to_date('1995-12-31'), interval 1 day)"))
        .as("d"))
      .select(
        (year(col("d")) * 10000 + month(col("d")) * 100 + dayofmonth(col("d")))
          .as("date_key"),
        col("d"), dayofweek(col("d")).as("dow"),
        dayofyear(col("d")).as("doy"), quarter(col("d")).as("qtr"),
        weekofyear(col("d")).as("iso_week"))

  private val Bm25Terms = Seq("join", "filter", "scan")

  /** BM25 relevance scores (log-free rational idf — rankings identical,
    * arithmetic engine-portable) for a 3-term query over the corpus;
    * scan-side term filter, broadcast stats, fixed-order term combine
    * ([[graft.text.TextAnalysis.bm25Scores]]). */
  def q87Bm25(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25Scores(t(s, dir, "documents"), "doc_id", "text",
        Bm25Terms)
      .select(col("id").as("doc_id"), col("score"), col("n_matched"))

  /** Event-path mining: the 25 most-travelled length-3 event-type
    * sequences — the discovery complement to q72's fixed funnel (what
    * paths exist vs does THIS path convert). One exchange on user for the
    * lead windows; the global top-k plans as TakeOrderedAndProject. */
  def q88EventPaths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .where(col("e2").isNotNull && col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(25)
  }

  /** Exact integer floor division (matches DuckDB `//` / Java
    * `Math.floorDiv` for negative operands, unlike `/`+cast which
    * truncates toward zero). Subtracting `pmod` first keeps the quotient
    * exactly divisible, so the intermediate double division is exact —
    * no rounding risk at bucket boundaries. */
  private[graft] def floorDiv(x: Column, y: Long): Column =
    ((x - pmod(x, lit(y))) / lit(y)).cast("long")

  /** Cohort retention: users bucketed by first-activity week, counted
    * distinct per (cohort_week, weeks-since) — the standard retention
    * triangle. First-seen is a running window over the same user
    * partitioning the activity dedup then reuses; all week arithmetic is
    * integer FLOOR division ([[floorDiv]] — pre-1970 timestamps bucket
    * correctly, identical to the oracle's DuckDB `//`). */
  def q89CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val perUser = Window.partitionBy(col("user_id"))
    events(s, dir)
      .select(col("user_id"),
        floorDiv(unix_micros(col("ts")), 86400000000L).as("day"))
      .select(col("user_id"), floorDiv(col("day"), 7L).as("week"))
      .withColumn("cohort_week", min(col("week")).over(perUser))
      .dropDuplicates("user_id", "week")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("age_weeks"))
      .agg(count(lit(1)).as("active_users"))
  }

  // ---- round-5 additions ----------------------------------------------

  /** Per-part-node triangle counts over the q73 co-occurrence graph —
    * local clustering via degree-oriented wedge join
    * ([[graft.operators.Graph.triangleCounts]]); hubs never enumerate
    * their own wedges, so the shape survives web-graph skew. */
  def q90Triangles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"))
    val edges = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .withColumn("dst", lead(col("l_partkey"), 1).over(w))
      .where(col("dst").isNotNull && col("dst") =!= col("l_partkey"))
      .select(col("l_partkey").as("src"), col("dst"))
    graft.operators.Graph.triangleCounts(edges)
  }

  /** Robust per-segment outlier profile: median/MAD of account balances +
    * count beyond 3·MAD ([[graft.operators.Profile.madOutlierCounts]]) —
    * the mean-free outlier gate; q83's histogram quantiles are its
    * bounded-memory scale path. */
  def q91MadOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.madOutlierCounts(
      t(s, dir, "customer"), "c_mktsegment", "c_acctbal", k = 3.0)

  /** Last-touch attribution: each purchase credits the user's most recent
    * preceding non-purchase event type; revenue DECIMAL-routed so the
    * report reconciles bit-for-bit across engines
    * ([[graft.operators.Funnel.lastTouchAttribution]]). */
  def q92Attribution(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.lastTouchAttribution(events(s, dir),
      "user_id", "ts", "event_type", "event_id", "purchase", "value")

  /** Declarative data-quality report over orders: row-local rules share
    * ONE scan, uniqueness adds one groupBy, the FK check one anti-join
    * ([[graft.operators.Expectations.check]]). */
  def q93Expectations(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Expectations._
    check(t(s, dir, "orders"), Seq(
      NotNull("o_custkey"),
      AcceptedValues("o_orderstatus", Seq("O", "F", "P")),
      InRange("o_totalprice", 0.0, 600000.0),
      Satisfies("date_not_future",
        col("o_orderdate") <= lit("1998-12-31").cast("timestamp")),
      UniqueKey(Seq("o_orderkey")),
      RefIntegrity("o_custkey", t(s, dir, "customer"), "c_custkey")))
  }

  /** Incremental aggregation: monthly revenue stats derived by MERGING
    * stored daily partial states, never rescanning raw rows — and the
    * oracle recomputes from raw, proving merge(partials) ≡ recompute
    * exactly (DECIMAL states; [[graft.operators.PartialAgg]]). */
  def q94IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PartialAgg
    val daily = PartialAgg.partials(t(s, dir, "lineitem"),
      Seq(to_date(col("l_shipdate")).as("d")), col("l_extendedprice"))
    PartialAgg.merge(daily,
        Seq((year(col("d")) * 100 + month(col("d"))).as("ym")))
      .select(col("ym").cast("int").as("ym"), col("n"),
        col("v_sum").cast("double").as("sum_price"),
        col("v_min").as("min_price"), col("v_max").as("max_price"),
        col("v_mean").as("mean_price"))
  }

  /** Quality-aware canonical selection: near-dup clusters (q58's pipeline)
    * each keep their HIGHEST-quality member — the "which duplicate
    * survives" policy of a curation pipeline, not just cluster ids. The
    * member count reuses the pick window's partitioning. */
  def q95CanonicalPick(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minHashDedup(docs, threshold = 0.5, portable = true,
      maxBucketSize = Int.MaxValue)
    val clusters = Dedup.dedupClusters(docs, pairs)
    val byCluster = Window.partitionBy(col("cluster_id"))
    clusters
      .join(docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("best_quality")), Seq("doc_id"))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .withColumn("__rn", row_number().over(
        byCluster.orderBy(col("best_quality").desc, col("doc_id"))))
      .where(col("__rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("canonical_id"),
        col("n_members"), col("best_quality"))
  }

  /** Deterministic leakage-free train/val/test split (80/10/10) by key
    * hash: membership is a pure row-local function of doc_id, so the
    * split is stable under corpus growth, reshuffling, and engine moves —
    * a doc NEVER migrates between train and test. */
  def q96Split(s: SparkSession, dir: String): DataFrame = {
    val b = graft.operators.Sampling.sampleBucket(col("doc_id"))
    t(s, dir, "documents").select(col("doc_id"), b.as("bucket"),
      when(b < 8000, "train").when(b < 9000, "val").otherwise("test")
        .as("split"))
  }

  /** RFM segmentation: per-customer recency/frequency/monetary + 1–4
    * scores by comparison against broadcast quartile cutoffs — a
    * row-local bucketing, NOT a global ntile sort (which would funnel
    * every customer through one partition at scale). */
  def q97Rfm(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val per = o.groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("monetary"))
      .crossJoin(broadcast(o.agg(max(to_date(col("o_orderdate"))).as("__maxd"))))
      .withColumn("recency_days",
        datediff(col("__maxd"), col("last_order")).cast("long"))
    val qs = array(lit(0.25), lit(0.5), lit(0.75))
    val cuts = per.agg(
      percentile(col("recency_days").cast("double"), qs).as("rq"),
      percentile(col("frequency").cast("double"), qs).as("fq"),
      percentile(col("monetary"), qs).as("mq"))
    def above(x: Column, arr: Column) = (0 to 2)
      .map(i => when(x > arr.getItem(i), 1).otherwise(0)).reduce(_ + _)
    per.crossJoin(broadcast(cuts))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary"),
        (lit(4) - above(col("recency_days").cast("double"), col("rq"))).as("r_score"),
        (lit(1) + above(col("frequency").cast("double"), col("fq"))).as("f_score"),
        (lit(1) + above(col("monetary"), col("mq"))).as("m_score"))
  }

  /** Systematic weighted resampling of orders by integer price weight —
    * all-integer positions over an exact sharded prefix sum (no global
    * sort, no float boundary): [[graft.operators.Sampling
    * .systematicWeightedSample]]. */
  def q98WeightedSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.systematicWeightedSample(
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          floor(col("o_totalprice")).cast("long").as("w")),
      "o_orderkey", "w", k = 101)

  /** Bloom prefilter as semi-join reduction: a position-set filter built
    * from high-balance customers, broadcast and probed scan-side by
    * orders — true members always pass, false positives are the (few,
    * deterministic) hash collisions; the report quantifies both
    * ([[graft.operators.BloomFilter]]). */
  def q99BloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.BloomFilter
    val cust = t(s, dir, "customer").where(col("c_acctbal") > 9000)
    val filter = BloomFilter.build(cust, col("c_custkey"))
    // ONE orders scan: the bloom probe is a row-local flag and the truth
    // check a broadcast join, so pass/true/false-positive counts come
    // from a single aggregate pass
    t(s, dir, "orders")
      .crossJoin(broadcast(filter))
      .join(broadcast(cust.select(col("c_custkey").as("o_custkey"))
          .distinct().withColumn("__member", lit(1))),
        Seq("o_custkey"), "left")
      .agg(
        sum(when(BloomFilter.mightContain(col("o_custkey")), 1L)
          .otherwise(0L)).as("n_pass"),
        sum(when(col("__member") === 1, 1L).otherwise(0L)).as("n_true"))
      .select(col("n_pass"), col("n_true"),
        (col("n_pass") - col("n_true")).as("n_false_pos"))
  }

  /** Event-sequence regex (MATCH_RECOGNIZE-lite): each user's ordered
    * event-initial string, matched against signup→views→click. The path
    * build is one user exchange; order inside the aggregate comes from
    * sorting the collected (ts, id, char) structs — collect_list arrival
    * order is retry-unstable, array_sort makes it deterministic. Paths
    * are bounded by events/user (cap upstream for adversarial users). */
  def q100EventRegex(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("user_id"),
        struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("c")).as("st"))
      .groupBy("user_id")
      .agg(array_join(
        transform(array_sort(collect_list(col("st"))), x => x.getField("c")),
        "").as("path"))
      .select(col("user_id"), col("path"),
        col("path").rlike("sv*c").as("matched"))

  /** CUBE over (returnflag, linestatus) with grouping_id — all four
    * grouping-set combinations in one pass (Spark expands the cube into
    * one Expand + one aggregate, not four scans). */
  def q101Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        grouping_id().cast("int").as("gid"))

  /** Per-user daily revenue densified over each user's own day range:
    * missing days linearly interpolated between surrounding observations,
    * carried at the edges, flagged `is_observed`
    * ([[graft.operators.GapFill.fill]]). */
  def q102GapFill(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir).where(col("user_id") < 30)
      .select(col("user_id"),
        floorDiv(unix_micros(col("ts")), 86400000000L).as("day"),
        col("value"))
      .groupBy("user_id", "day")
      .agg(sum(col("value").cast("decimal(28,10)")).cast("double").as("v"))
    graft.operators.GapFill.fill(daily, "user_id", "day", "v")
  }

  /** Parametric outlier report: per-priority order totals beyond 3σ, with
    * mean/σ from exact DECIMAL sufficient statistics
    * ([[graft.operators.Profile.zscoreOutlierCounts]]; q91 is the robust
    * MAD companion). */
  def q103ZscoreOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.zscoreOutlierCounts(
      t(s, dir, "orders"), "o_orderpriority", "o_totalprice")

  /** Per-language bounded-memory quantiles — the grouped scale path for
    * percentiles (groups × bins state; the exact grouped percentile is a
    * holistic sort PER group)
    * ([[graft.operators.Profile.histogramQuantilesBy]]). */
  def q104GroupedQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.histogramQuantilesBy(
      t(s, dir, "documents"), "lang", "n_chars",
      lo = 0.0, hi = 600.0, bins = 20, qs = HistQs)

  /** Tokenize-to-ids under a frequency-ranked 1000-token vocabulary
    * (deterministic tie-break; OOV → 0) — the reproducible text→ids step
    * ([[TextAnalysis.vocabulary]] / [[TextAnalysis.encodeIds]]). The id
    * array is emitted CSV-joined (pure integers, so the string form is
    * canonical) — the oracle harness compares scalar columns. */
  def q105TokenizeIds(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.encodeIds(docs, "doc_id", "text",
        TextAnalysis.vocabulary(docs, "text", size = 1000))
      .select(col("doc_id"),
        array_join(col("token_ids").cast("array<string>"), ",").as("token_ids"),
        col("n_oov"))
  }

  /** Distribution drift gate: English documents' length histogram vs the
    * full corpus — exact-integer total-variation distance, one double at
    * the end ([[graft.operators.Profile.histogramDrift]]). */
  def q106Drift(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // candidate = a predicate slice of ref ⇒ one conditional-count scan
    // (histogramDriftWithin) instead of two corpus scans + full-outer join
    graft.operators.Profile.histogramDriftWithin(docs,
      col("lang") === "en", "n_chars", lo = 0.0, hi = 600.0, bins = 20)
  }

  /** ANALYZE TABLE surface: one-scan per-column stats over orders — row/
    * null counts, numeric min/max, KMV distinct estimates (≤64 longs of
    * state per column) ([[graft.operators.Profile.tableStats]]). */
  def q107TableStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.tableStats(t(s, dir, "orders"),
      numericCols = Seq("o_orderkey", "o_custkey"),
      stringCols = Seq("o_orderstatus", "o_orderpriority"))

  /** EXACT shingle-set similarity self-join at Jaccard ≥ 1/2 via
    * rare-first prefix filtering — the hard-contract companion to
    * MinHash's recall target (q24 is the probabilistic path over the
    * same sets); rational threshold keeps the verify pure integer
    * ([[graft.dedup.Dedup.setSimJoin]]). */
  def q108SetSimJoin(s: SparkSession, dir: String): DataFrame =
    Dedup.setSimJoin(t(s, dir, "documents"))

  /** Johnson–Lindenstrauss sign projection 64 → 16 dims over quantized
    * embeddings — the scan-side compaction that turns TB-scale vectors
    * into a cheap prefilter ([[graft.similarity.Projection.jlProject]];
    * deterministic-LCG ±1 matrix, pure integer sums). */
  def q109JlProjection(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .where(col("embedding").isNotNull)
      .select(col("vec_id"),
        // CSV-join the integer projection so the output is scalar-typed
        // for the oracle harness (the operator itself stays array-valued)
        array_join(graft.similarity.Projection.jlProject(
            Dedup.quantize(col("embedding")), inDim = 64, outDim = 16)
          .cast("array<string>"), ",").as("proj"))

  /** Product-quantization encode (4 subspaces × 16 centroids over 64
    * dims): per-vector code bytes + total reconstruction error
    * ([[graft.similarity.Projection.pqEncode]]; arithmetic codebooks, so
    * the encode is shuffle-and-broadcast-free). */
  def q110PqEncode(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .where(col("embedding").isNotNull)
      .select(col("vec_id"),
        graft.similarity.Projection.pqEncode(
          Dedup.quantize(col("embedding")), inDim = 64, nSub = 4, nCent = 16).as("enc"))
      .select(col("vec_id"),
        array_join(transform(col("enc"), e => e.getField("code"))
          .cast("array<string>"), ",").as("codes"),
        aggregate(col("enc"), lit(0L), (acc, e) => acc + e.getField("dist"))
          .as("recon_err"))

  /** TF-IDF keyword extraction: top-5 terms per document by rational-idf
    * score, df ≥ 2 ([[graft.text.TextAnalysis.tfIdfTopK]]). */
  def q111TfidfTopk(s: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.tfIdfTopK(t(s, dir, "documents"), topK = 5, minDf = 2)

  /** Token co-occurrence lift (exp-PMI) with the double cap that keeps the
    * pair join linear: df-pruned vocabulary (≥ 5 docs) and at most 20
    * tokens per document ([[graft.text.TextAnalysis.cooccurLift]]). */
  def q112CooccurLift(s: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.cooccurLift(t(s, dir, "documents"),
      minDf = 5, maxTokensPerDoc = 20, minPairDocs = 3)

  /** Boilerplate removal: 10-token windows shared by ≥ 2 distinct
    * documents are dropped from EVERY document (the complement of q56's
    * keep-first segment dedup) and documents reassemble from what
    * survives ([[graft.dedup.Dedup.boilerplateRemove]]). */
  def q113Boilerplate(s: SparkSession, dir: String): DataFrame =
    Dedup.boilerplateRemove(t(s, dir, "documents"), segTokens = 10, minDocs = 2)

  /** Incremental MinHash near-dup: documents with id ≥ 30 arrive as a NEW
    * BATCH and dedup against the band index of the existing corpus (id <
    * 30) plus earlier batch rows — the nightly-ingest shape where the
    * corpus is never re-banded ([[graft.dedup.Dedup.incrementalNearDup]]).
    * Portable hash family + uncapped buckets so the oracle can enumerate
    * every band-equal pair, as in q24. */
  def q114IncrementalNeardup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val index = Dedup.minHashBuckets(docs.where(col("doc_id") < 30), portable = true)
    Dedup.incrementalNearDup(index, docs.where(col("doc_id") >= 30), docs,
      minJaccard = 0.5, portable = true, maxBucketSize = Int.MaxValue)
  }

  /** Per-dimension min-max scaling of quantized embeddings to [0, 10000]:
    * bounds from ONE corpus scan (native element-wise min/max aggregates,
    * d longs of state — [[graft.functions.VectorAgg]]), then a scan-side
    * integer rescale ([[graft.similarity.Projection.minMaxScale]]). */
  def q115MinmaxScale(s: SparkSession, dir: String): DataFrame = {
    val q = t(s, dir, "embeddings")
      .where(col("embedding").isNotNull)
      .select(col("vec_id"), Dedup.quantize(col("embedding")).as("qv"))
    val bounds = q.agg(
      graft.functions.VectorAgg.vectorMin(col("qv"), 64).as("mn"),
      graft.functions.VectorAgg.vectorMax(col("qv"), 64).as("mx"))
    q.crossJoin(broadcast(bounds))
      .select(col("vec_id"),
        array_join(
          graft.similarity.Projection.minMaxScale(col("qv"), col("mn"), col("mx"))
            .cast("array<string>"), ",").as("scaled"))
  }

  /** 3-core of the lineitem part-sequence graph (same edges as q73/q90):
    * full-round iterative peeling, ≤ 6 rounds
    * ([[graft.operators.Graph.kCore]]); surviving nodes with their
    * in-core degree. */
  def q116Kcore(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"))
    val edges = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .withColumn("dst", lead(col("l_partkey"), 1).over(w))
      .where(col("dst").isNotNull && col("dst") =!= col("l_partkey"))
      .select(col("l_partkey").as("src"), col("dst"))
    graft.operators.Graph.kCore(edges, k = 3, maxRounds = 6)
  }

  /** ADC top-20 over PQ codes: the query quantizes ONCE into a 4×16
    * lookup table (driver-side, shipped as a literal); each stored vector
    * costs 4 table lookups — never a decode
    * ([[graft.similarity.Projection.adcDistance]]). One scan +
    * TakeOrderedAndProject. */
  def q117AdcTopk(s: SparkSession, dir: String): DataFrame = {
    import graft.similarity.Projection
    val codes = t(s, dir, "embeddings")
      .where(col("embedding").isNotNull)
      .select(col("vec_id"),
        transform(Projection.pqEncode(Dedup.quantize(col("embedding")),
          inDim = 64, nSub = 4, nCent = 16), e => e.getField("code")).as("codes"))
    val lut = Projection.adcLut(Projection.demoQuery(64), nSub = 4, nCent = 16)
    codes.select(col("vec_id"), Projection.adcDistance(col("codes"), lut).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id")).limit(20)
  }

  /** Blocked entity resolution on customers: same-nation pairs whose name
    * trigram sets reach Jaccard ≥ 4/5 — the blocking key lives inside the
    * set elements, so [[graft.dedup.Dedup.blockedErJoin]] rides the exact
    * prefix-filter engine (no per-block nested loop exists anywhere). */
  def q118ErBlocking(s: SparkSession, dir: String): DataFrame =
    Dedup.blockedErJoin(t(s, dir, "customer"), "c_custkey", "c_nationkey",
      "c_name", tNum = 4, tDen = 5)

  /** Unicode corpus normalization: lowercase + accent fold + NFC in one
    * codegen pass ([[graft.functions.NormalizeTextExpr]]), plus a changed
    * flag — the standard first stage of web-corpus cleaning. */
  def q119Normalize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        graft.functions.FastExprs.normalizeText(col("text")).as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        (col("norm_text") =!= col("text")).as("changed"))

  /** Per-nation top-5 customers by balance via the native bounded top-k
    * aggregate ([[graft.functions.TopKAgg]]): a k-element heap per group
    * per partition, so the exchange carries groups × k rows — the window
    * row_number() idiom this replaces shuffles and sorts EVERY row.
    * Balances route through DECIMAL cents (exact on both engines). */
  def q120GroupedTopk(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_nationkey"),
        struct((col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("v"),
          col("c_custkey").as("id")).as("p"))
      .groupBy("c_nationkey")
      .agg(graft.functions.TopKAgg.topK(col("p"), 5).as("top"))
      .select(col("c_nationkey"), posexplode(col("top")))
      .select(col("c_nationkey"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("c_custkey"), col("col.v").as("bal_cents"))

  /** Community detection: 3 synchronous label-propagation rounds over the
    * lineitem part-sequence graph (deterministic most-frequent-neighbor
    * label, ties to the smallest — [[graft.operators.Graph
    * .labelPropagation]]). */
  def q121Communities(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"))
    val edges = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .withColumn("dst", lead(col("l_partkey"), 1).over(w))
      .where(col("dst").isNotNull && col("dst") =!= col("l_partkey"))
      .select(col("l_partkey").as("src"), col("dst"))
    graft.operators.Graph.labelPropagation(edges, rounds = 3)
  }

  /** Market-basket lift over orders × parts — the SAME engine as q112's
    * token lift ([[graft.text.TextAnalysis.cooccurLiftOn]]): baskets are
    * documents, items are tokens, co-purchase lift is co-occurrence lift. */
  def q122BasketLift(s: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.cooccurLiftOn(
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("id"),
          col("l_partkey").cast("string").as("tok"))
        .distinct(),
      minDf = 2, maxPerGroup = 15, minPairCount = 2)
      .select(col("tok_a").as("part_a"), col("tok_b").as("part_b"),
        col("n_ab"), col("n_a"), col("n_b"), col("lift"))

  private val SlidingKmvK = 4096

  /** Trailing-3-hour distinct users per hour bucket via MERGEABLE KMV
    * sketches: one sketch per bucket (the only pass over events), then a
    * sliding union over BUCKET rows — at 100 TB the window runs over
    * hours-in-a-year rows, never events, and yesterday's sketches never
    * recompute ([[graft.functions.Sketches]]; exact below k=4096, which
    * covers the test scales — at higher cardinality the value degrades
    * gracefully to the (k−1)/R estimate, which is the point of the
    * sketch). */
  def q123SlidingDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sketches
    val k = SlidingKmvK
    val perBucket = events(s, dir)
      .select(floorDiv(unix_micros(col("ts")), 3600000000L).as("bucket"),
        col("user_id"))
      .groupBy("bucket")
      .agg(Sketches.kmvSketch(Sketches.hash63(col("user_id").cast("string")), k)
        .as("sk"))
    val w = Window.orderBy("bucket").rangeBetween(-2, 0)
    perBucket
      .withColumn("sks", collect_list(col("sk")).over(w))
      .select(col("bucket"),
        // one codegen'd k-way merge per row (value-identical to the
        // kmvUnion fold — see kmvUnionAll) instead of an interpreted
        // aggregate lambda re-sorting 4096-long arrays per window step
        Sketches.kmvEstimate(Sketches.kmvUnionAll(col("sks"), k), k)
          .as("distinct_users"))
  }

  /** RefinedWeb/C4-style source-level curation: one rollup scan computes
    * per-source volume and mean length (mean expressed as the exact
    * cross-multiplication `sum_chars vs n_docs·bound` — no division, so the
    * gate is integer-exact on every engine), the tiny surviving-source list
    * broadcasts back as a semi-join, and the corpus itself never shuffles —
    * at 100 TB both passes are scan-shaped and the gate list is a handful
    * of rows. */
  def q124SourceCuration(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val stats = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    val kept = stats.where(col("n_docs") >= 10 &&
        col("sum_chars") >= col("n_docs") * 280 &&
        col("sum_chars") <= col("n_docs") * 330)
      .select("source")
    docs.join(broadcast(kept), Seq("source"), "left_semi")
      .groupBy("source", "lang").agg(count(lit(1)).as("n_kept"))
  }

  /** Per-language length floor (Gopher/CCNet-style quality gate): keep the
    * top 90% of each language's length distribution. The cut is defined on
    * `percent_rank` — (rank−1)/(n−1), pure long arithmetic divided once —
    * so the survivor set is bit-identical across engines, unlike an
    * interpolated-percentile threshold whose last-ulp rounding is
    * implementation-defined. One window exchange partitioned by lang; the
    * bounded-memory alternative for a 100 TB corpus is the histogram-
    * quantile path (q83/q104) — this is the exactness contract. */
  def q125LangFloor(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val w = Window.partitionBy("lang").orderBy("n_chars")
    docs.withColumn("pr", percent_rank().over(w))
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pr") >= 0.1, 1L).otherwise(0L)).as("n_kept"),
        min(when(col("pr") >= 0.1, col("n_chars"))).as("floor_chars"))
  }

  /** Equi-depth quartile binning (feature discretization) per language:
    * ntile over the fully deterministic (n_chars, doc_id) order — both
    * engines implement SQL-standard NTILE (front-loaded remainder), so the
    * binning is reproducible, not tie-arbitrary. Output is the per-bin
    * profile (count + value range), the shape a feature-bucketizer stores.
    * Single window exchange by lang. */
  def q126EquidepthBins(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
    docs.withColumn("bin", ntile(4).over(w))
      .groupBy("lang", "bin").agg(
        count(lit(1)).as("n_docs"),
        min("n_chars").as("lo_chars"), max("n_chars").as("hi_chars"))
  }

  /** Contrastive hard-negative mining: for each query embedding, the top-5
    * most-similar vectors with a DIFFERENT label
    * ([[graft.similarity.Similarity.hardNegatives]] — broadcast queries,
    * corpus never shuffles, integer-quantized cosine so ranking is
    * partition-invariant). */
  def q127HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.hardNegatives(emb, emb.where(col("vec_id") < 5), k = 5)
      .select(col("query_id"), col("corpus_id"),
        col("c_label").as("neg_label"), col("rank"))
  }

  /** Corpus mixture diversity: Gini–Simpson index 1 − Σp² of the source
    * and language distributions, computed as (total² − Σcnt²)/total² —
    * exact long arithmetic until one final division, so the index is
    * bit-identical across engines and partitionings (no logs, no
    * order-dependent float sums). Two tiny rollups over one scan shape;
    * at 100 TB each is a map-side-combined groupBy on a low-cardinality
    * key. */
  def q128Diversity(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    def giniOf(keyCol: String): DataFrame =
      docs.groupBy(keyCol).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_groups"), sum(col("c")).as("n_docs"),
          sum(col("c") * col("c")).as("sum_sq"))
        .select(lit(keyCol).as("dimension"), col("n_groups"), col("n_docs"),
          ((col("n_docs") * col("n_docs") - col("sum_sq")).cast("double") /
            (col("n_docs") * col("n_docs")).cast("double"))
            .as("gini_simpson"))
    giniOf("source").unionByName(giniOf("lang"))
  }

  private val ChunkW = 50
  private val ChunkS = 25

  /** RAG-style document chunking: fixed token windows of W=50 with stride
    * S=25, final partial chunk kept only if it adds tokens the previous
    * chunk didn't cover (`start + S < n_toks`). Pure scan + explode —
    * zero shuffles, so at 100 TB it's embarrassingly parallel and the
    * chunk table inherits the corpus's partitioning. */
  def q129DocChunks(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    docs
      .withColumn("toks", split(trim(regexp_replace(col("text"), "\\s+", " ")), " "))
      .withColumn("n_toks", size(col("toks")))
      .select(col("doc_id"), col("toks"), col("n_toks"),
        explode(filter(
          sequence(lit(0), greatest(col("n_toks") - 1, lit(0)), lit(ChunkS)),
          st => st === 0 || st + lit(ChunkW - ChunkS) < col("n_toks")))
          .as("start"))
      .select(col("doc_id"),
        (col("start") / ChunkS).cast("int").as("chunk_no"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(ChunkW)))
          .as("chunk_text"),
        least(lit(ChunkW), col("n_toks") - col("start")).cast("bigint")
          .as("chunk_toks"))
  }

  private val KAnonK = 100

  /** k-anonymity with a two-level generalization hierarchy over the
    * quasi-identifier (event_type, hour): cells below k report at the
    * 6-hour band if the band clears k, else are suppressed — the standard
    * release-decision table a governance pass emits. Two rollups (the
    * band rollup runs over CELL rows, not events) + a broadcast join of
    * the tiny band table. */
  def q130KAnonymity(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), hour(col("ts")).as("hr"))
    val hourCnt = ev.groupBy("event_type", "hr").agg(count(lit(1)).as("n_rows"))
    val bandCnt = hourCnt.withColumn("band", expr("hr div 6"))
      .groupBy("event_type", "band").agg(sum("n_rows").as("band_rows"))
    hourCnt.withColumn("band", expr("hr div 6"))
      .join(broadcast(bandCnt), Seq("event_type", "band"))
      .select(col("event_type"), col("hr"), col("n_rows"),
        when(col("n_rows") >= KAnonK, "hour")
          .when(col("band_rows") >= KAnonK, "band")
          .otherwise("suppressed").as("level"))
  }

  /** Entity snapshot from an event log (golden-record survivorship): per
    * user, the value of the LATEST event of each type — deterministic
    * pick (ts desc, event_id desc), pivoted to one wide row per user.
    * The first exchange carries (user, type) groups; the pivot exchange
    * carries only one row per surviving (user, type) — output-sized, so
    * the second shuffle is free at any corpus scale. */
  def q131EntitySnapshot(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    val latest = ev.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
    latest.groupBy("user_id").agg(
      max(when(col("event_type") === "signup", col("value"))).as("signup_value"),
      max(when(col("event_type") === "click", col("value"))).as("click_value"),
      max(when(col("event_type") === "view", col("value"))).as("view_value"),
      max(when(col("event_type") === "purchase", col("value"))).as("purchase_value"),
      max(when(col("event_type") === "error", col("value"))).as("error_value"),
      date_trunc("second", max(col("ts"))).as("last_seen"))
  }

  private val DecayCapDays = 20

  /** Recency-weighted user value (EWMA-style feature): each event weighs
    * 2^(cap − age_days), so the score halves per day of age. All
    * arithmetic is exact until the final division — values route through
    * floor(value·1e6) longs, weights are powers of two, sums through
    * DECIMAL(38,0) — so the score is bit-identical across engines and
    * partitionings (float sums are order-dependent; long/decimal sums are
    * not). The anchor date is one tiny agg broadcast to the scan. */
  def q132DecayedValue(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val anchor = ev.agg(max(to_date(col("ts"))).as("anchor_d"))
    ev.crossJoin(broadcast(anchor))
      .withColumn("age",
        least(datediff(col("anchor_d"), to_date(col("ts"))), lit(DecayCapDays)))
      .withColumn("wt",
        expr(s"shiftleft(CAST(1 AS BIGINT), $DecayCapDays - age)"))
      .withColumn("contrib", floor(col("value") * 1e6).cast("long") * col("wt"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("contrib").cast("decimal(38,0)")).as("sc"),
        sum(col("wt").cast("decimal(38,0)")).as("sw"))
      .select(col("user_id"), col("n_events"),
        (col("sc").cast("double") / col("sw").cast("double") / 1e6)
          .as("decayed_value"))
  }

  /** Per-document sentence-level quality metrics, entirely scan-side: the
    * sentence split, per-sentence word counts, and all four metrics run
    * as array algebra inside one projection — no explode, no shuffle, so
    * at 100 TB this is free riding on whatever scan produced it. */
  def q133SentenceStats(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sents = filter(
      transform(split(col("text"), "[.!?]+"), x => trim(x)), x => x =!= lit(""))
    docs
      .select(col("doc_id"),
        transform(sents, sn => size(split(sn, "\\s+"))).as("wc"))
      .select(col("doc_id"),
        size(col("wc")).cast("bigint").as("n_sentences"),
        aggregate(col("wc"), lit(0L), (acc, x) => acc + x).as("n_words"),
        when(size(col("wc")) > 0,
          aggregate(col("wc"), lit(0L), (acc, x) => acc + x).cast("double") /
            size(col("wc")))
          .as("avg_sent_words"),
        array_max(col("wc")).cast("bigint").as("max_sent_words"),
        when(size(col("wc")) > 0,
          size(filter(col("wc"), x => x < 4)).cast("double") / size(col("wc")))
          .as("frac_short"))
  }

  /** Containment join (asymmetric Jaccard |A∩B|/|A|): catches the
    * subset-duplicate a symmetric threshold misses — a page embedded
    * whole inside a larger page scores low Jaccard but containment ≈ 1.
    * Same deterministic candidate-pair frame as q26; shingles computed
    * once per doc on the semi-joined subset. */
  def q134ContainmentJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sh = docs.where(col("doc_id") < 50)
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
    val pairs = sh.select(col("doc_id").as("id1"), col("sh").as("sh1"))
      .join(sh.select(col("doc_id").as("id2"), col("sh").as("sh2")),
        col("id1") < col("id2"))
    pairs
      .withColumn("n_common",
        size(array_intersect(col("sh1"), col("sh2"))).cast("bigint"))
      .where(col("n_common") > 0)
      .select(col("id1"), col("id2"), col("n_common"),
        (col("n_common").cast("double") / size(col("sh1"))).as("cont_1"),
        (col("n_common").cast("double") / size(col("sh2"))).as("cont_2"))
  }

  /** Class-balanced resampling: downsample every label to the minority
    * class's count, picking survivors by portable hash so the subset is
    * deterministic and engine-replayable (the balanced-training-set pass;
    * quota comes from the DATA, unlike q75's config-driven mixture). The
    * per-label window is the only exchange; the min-count scalar
    * broadcasts. */
  def q135LabelBalance(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val minc = emb.groupBy("label").agg(count(lit(1)).as("n"))
      .agg(min("n").as("min_n"))
    val w = Window.partitionBy("label").orderBy(col("bucket"), col("vec_id"))
    emb.select(col("vec_id"), col("label"))
      .withColumn("bucket",
        pmod(TextAnalysis.portableHash(col("vec_id").cast("string")), lit(10000L)))
      .withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(minc))
      .where(col("rn") <= col("min_n"))
      .select(col("vec_id"), col("label"))
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * transition counts plus row-normalized probabilities (long/long
    * division — exact on every engine). One user-partitioned window for
    * the lead, then a types×types-sized agg; the normalizing window runs
    * over MATRIX rows, not events. */
  def q136MarkovTransitions(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = ev.withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_trans"))
    val wf = Window.partitionBy("from_type")
    trans.withColumn("n_from", sum("n_trans").over(wf))
      .select(col("from_type"), col("to_type"), col("n_trans"),
        (col("n_trans").cast("double") / col("n_from")).as("prob"))
  }

  /** Contingency table + per-cell chi-square contribution for the
    * lang×source mixture (the independence check a corpus audit runs
    * before trusting a stratified split). All counts and the deviation
    * o·N − row·col stay exact longs (sound below ~3·10⁹ docs — beyond
    * that the audit runs per shard); each cell does ONE double division,
    * so values are bit-identical across engines. The marginal windows
    * run over CELL rows (langs×sources), never documents. */
  def q137Contingency(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val byLang = Window.partitionBy("lang")
    val bySource = Window.partitionBy("source")
    val all = Window.partitionBy()
    cells
      .withColumn("row_n", sum("o").over(byLang))
      .withColumn("col_n", sum("o").over(bySource))
      .withColumn("tot", sum("o").over(all))
      .withColumn("dev_d",
        (col("o") * col("tot") - col("row_n") * col("col_n")).cast("double"))
      .select(col("lang"), col("source"), col("o"),
        ((col("row_n") * col("col_n")).cast("double") / col("tot").cast("double"))
          .as("expected"),
        (col("dev_d") * col("dev_d") /
          ((col("row_n") * col("col_n")).cast("double") * col("tot").cast("double")))
          .as("chi2_cell"))
  }

  /** Per-user engagement rollup over gap-sessionization: session count,
    * bounce rate (single-event sessions), and mean session duration —
    * built ON [[graft.streaming.Streams.sessionizeBatch]] so the session
    * definition can never drift from the streaming twin. Durations sum
    * as exact micros longs; the two ratios are single double divisions. */
  def q138SessionMetrics(s: SparkSession, dir: String): DataFrame = {
    val sess = graft.streaming.Streams
      .sessionizeBatch(events(s, dir), gapMs = 10 * 60 * 1000L)
    sess.groupBy("user_id").agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events").cast("long")).as("n_events"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"),
        sum(unix_micros(col("session_end")) - unix_micros(col("session_start")))
          .as("dur_us"))
      .select(col("user_id"), col("n_sessions"), col("n_events"),
        (col("n_bounces").cast("double") / col("n_sessions")).as("bounce_rate"),
        (col("dur_us").cast("double") / col("n_sessions") / 1e6)
          .as("avg_session_secs"))
  }

  /** Day-over-day change per event type: daily counts with the previous
    * day's count and the growth ratio (long/long division — exact).
    * The lag window runs over DAY rows per type, not events; the daily
    * rollup is the only scan-sized exchange. */
  def q139PeriodOverPeriod(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily.withColumn("prev_n", lag("n", 1).over(w))
      .select(col("event_type"), col("day"), col("n"), col("prev_n"),
        ((col("n") - col("prev_n")).cast("double") / col("prev_n"))
          .as("growth"))
  }

  /** Cluster-quality report (k-means inertia per label) in EXACT
    * arithmetic: with s = Σv and per-member deviation n·v − s, the
    * member's squared distance to the centroid is Σ_d(n·v−s)²/n² — longs
    * until one double division, so the report is bit-identical across
    * engines and partitionings (float centroids would make it
    * order-dependent). One VectorSumLong agg (64 longs of state per
    * label) + a broadcast-back probe scan. Long-exact for clusters below
    * ~10⁵ members at this quantization; beyond that the audit shards or
    * accepts float centroids. */
  def q140ClusterQuality(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.select(col("vec_id"), col("label"),
      Dedup.quantize(col("embedding")).as("qv"))
    val sums = q.groupBy("label").agg(
      graft.functions.VectorAgg.vectorSum(col("qv"), 64).as("svec"),
      count(lit(1)).as("n"))
    q.join(broadcast(sums), Seq("label"))
      .withColumn("contrib",
        aggregate(zip_with(col("qv"), col("svec"),
            (v, sv) => (v * col("n") - sv) * (v * col("n") - sv)),
          lit(0L), (acc, x) => acc + x))
      .groupBy("label")
      .agg(max(col("n")).as("n"),
        sum(col("contrib").cast("decimal(38,0)")).as("sc"))
      .select(col("label"), col("n"),
        (col("sc").cast("double") / (col("n") * col("n")).cast("double") / 1e6)
          .as("inertia"),
        (col("sc").cast("double") /
          (col("n") * col("n") * col("n")).cast("double") / 1e6)
          .as("mean_sq_dist"))
  }

  /** Language-ID confusion matrix: the labeled `lang` column vs the
    * n-gram-marker classifier's prediction, with per-actual-language
    * recall shares — the eval table a curation pipeline publishes before
    * trusting automatic language routing. ONE scan (label and prediction
    * come from the same row); the share window runs over matrix cells. */
  def q141LangConfusion(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "documents")
      .select(col("lang").as("actual"),
        TextAnalysis.langId(col("text")).as("predicted"))
      .groupBy("actual", "predicted").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("actual")
    m.withColumn("row_share",
      col("n").cast("double") / sum("n").over(w))
  }

  private val TempQuotaN = 1000L

  /** Temperature-flattened mixture quotas (UniMax-style, τ = 1/2):
    * per-language sampling quotas ∝ √n with largest-remainder rounding to
    * exactly N=1000. √ is IEEE-exact on every engine, and the share
    * denominator folds a SORTED array sequentially — the one float sum in
    * the engine that must be order-deterministic, made so explicitly
    * (`aggregate` over `array_sort`, mirrored by DuckDB `list_reduce`).
    * All windows run over LANGUAGE rows. */
  def q142TemperatureQuotas(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n"))
    val all = Window.partitionBy()
    counts
      .withColumn("sq", sqrt(col("n").cast("double")))
      .withColumn("ssum",
        aggregate(array_sort(collect_list(col("sq")).over(all)),
          lit(0d), (a, x) => a + x))
      .withColumn("rawq", col("sq") / col("ssum") * TempQuotaN)
      .withColumn("base", floor(col("rawq")).cast("long"))
      .withColumn("leftover", lit(TempQuotaN) - sum("base").over(all))
      .withColumn("rk", row_number().over(
        Window.orderBy((col("rawq") - col("base")).desc, col("lang"))))
      .select(col("lang"), col("n"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("quota"))
  }

  /** Pair-feature extraction for training an entity-resolution /
    * dedup-classifier model: per candidate pair, exact n-gram Jaccard,
    * length ratio, and language agreement. The candidate frame is the
    * deterministic bounded block (id < 40); features join the per-doc
    * attributes once per side. */
  def q143PairFeatures(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sub = docs.where(col("doc_id") < 40)
    val pairs = sub.select(col("doc_id").as("id1"))
      .join(sub.select(col("doc_id").as("id2")), col("id1") < col("id2"))
    val jac = Dedup.jaccardVerify(docs, pairs)
    val attrs = sub.select(col("doc_id"), col("n_chars"), col("lang"))
    jac
      .join(attrs.select(col("doc_id").as("id1"), col("n_chars").as("c1"),
        col("lang").as("l1")), Seq("id1"))
      .join(attrs.select(col("doc_id").as("id2"), col("n_chars").as("c2"),
        col("lang").as("l2")), Seq("id2"))
      .select(col("id1"), col("id2"), col("jaccard"),
        (least(col("c1"), col("c2")).cast("double") /
          greatest(col("c1"), col("c2"))).as("len_ratio"),
        (col("l1") === col("l2")).as("same_lang"))
  }

  /** Flesch-style readability per document, one scan and zero shuffles:
    * words, sentences (same non-empty-split contract as q133), and a
    * vowel-run syllable heuristic — the score is fixed constants times
    * two long/long divisions, deterministic on every engine. */
  def q144Readability(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = split(trim(regexp_replace(col("text"), "\\s+", " ")), " ")
    val sents = filter(
      transform(split(col("text"), "[.!?]+"), x => trim(x)), x => x =!= lit(""))
    docs.select(col("doc_id"),
        size(toks).cast("bigint").as("n_words"),
        size(sents).cast("bigint").as("n_sentences"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
          .cast("bigint").as("n_syllables"))
      .where(col("n_words") > 0 && col("n_sentences") > 0)
      .withColumn("flesch",
        lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")))
  }

  /** Per-source language purity: majority-language share and Gini–Simpson
    * impurity per source — the grouped version of q128's corpus-level
    * index, the table a router consults before assuming a source is
    * monolingual. Exact long arithmetic to one division per source; two
    * nested rollups, both map-side combined, cells never exceed
    * sources×langs. */
  def q145SourcePurity(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "documents")
      .groupBy("source", "lang").agg(count(lit(1)).as("c"))
    cells.groupBy("source").agg(
        count(lit(1)).as("n_langs"),
        sum("c").as("n_docs"),
        max("c").as("top_c"),
        sum(col("c") * col("c")).as("ss"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        (col("top_c").cast("double") / col("n_docs")).as("majority_share"),
        ((col("n_docs") * col("n_docs") - col("ss")).cast("double") /
          (col("n_docs") * col("n_docs")).cast("double")).as("gini_impurity"))
  }

  /** Referential-integrity audit across the star schema: child row counts
    * and orphan counts per FK relationship, one row each — the
    * conformance report a warehouse load publishes. ONE scan per child:
    * a left join against the broadcast parent KEY set marks hits, and a
    * single map-side-combined aggregate reads both counts off it (the
    * count + anti-join formulation scanned every child twice). A child
    * key that is NULL never matches, so it counts as an orphan — the
    * same semantics the anti-join had. */
  def q146FkAudit(s: SparkSession, dir: String): DataFrame = {
    def rel(name: String, child: DataFrame, childKey: String,
            parent: DataFrame, parentKey: String): DataFrame =
      child.select(col(childKey))
        .join(broadcast(parent.select(col(parentKey).as(childKey)).distinct()
          .withColumn("__hit", lit(1))), Seq(childKey), "left")
        .agg(count(lit(1)).as("child_rows"),
          count(when(col("__hit").isNull, 1)).as("orphans"))
        .select(lit(name).as("relationship"), col("child_rows"),
          col("orphans"), (col("orphans") === 0L).as("ok"))
    rel("lineitem->orders", t(s, dir, "lineitem"), "l_orderkey",
        t(s, dir, "orders"), "o_orderkey")
      .unionByName(rel("orders->customer", t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer"), "c_custkey"))
      .unionByName(rel("customer->nation", t(s, dir, "customer"), "c_nationkey",
        t(s, dir, "nation"), "n_nationkey"))
      .unionByName(rel("supplier->nation", t(s, dir, "supplier"), "s_nationkey",
        t(s, dir, "nation"), "n_nationkey"))
  }

  /** Dedup impact report: the cluster-size distribution and docs-removed
    * count a near-dup pass publishes before anyone signs off on deleting
    * data — built on the same MinHash→verify→connected-components chain
    * as q58, then two rollups over CLUSTER rows (distribution cardinality
    * is max cluster size, a handful of rows at any corpus scale). */
  def q147DedupImpact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minHashDedup(docs, threshold = 0.5, portable = true,
      maxBucketSize = Int.MaxValue)
    Dedup.dedupClusters(docs, pairs)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("docs_removed"))
  }

  /** Packing-efficiency report over the q64 token-packing chain: per
    * shard, bin count and fill statistics against the 512-token budget —
    * the utilization table that decides whether a packing budget wastes
    * context-window space. Both report rollups run over BIN rows; the
    * packing chain itself is the only scan-sized work. */
  def q148PackingReport(s: SparkSession, dir: String): DataFrame = {
    val shuffled = graft.operators.Sampling.shardedShuffle(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      col("doc_id"), "ep1", 8)
    val packed = graft.operators.Sampling.packByTokenBudget(shuffled,
      graft.text.TextAnalysis.tokenCount(col("text")), budget = 512)
    packed
      .groupBy("shard", "bin")
      .agg(sum(graft.text.TextAnalysis.tokenCount(col("text"))).as("bin_tokens"),
        count(lit(1)).as("n_docs"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_bins"),
        sum("bin_tokens").as("total_tokens"),
        max("bin_tokens").as("max_bin_tokens"),
        min("bin_tokens").as("min_bin_tokens"))
      .select(col("shard"), col("n_bins"), col("total_tokens"),
        col("max_bin_tokens"), col("min_bin_tokens"),
        (col("total_tokens").cast("double") / col("n_bins")).as("mean_fill"))
  }

  private val VocabCuts = Seq(100, 500, 1000)

  /** Vocabulary-coverage curve: what fraction of all token OCCURRENCES the
    * top-k most frequent tokens cover, at k ∈ {100, 500, 1000} — the
    * table that sizes a tokenizer's vocabulary. One token rollup over the
    * scan (map-side combined); ranking and cumulative sums run over
    * DISTINCT-token rows; the three cut rows are the output. Deterministic
    * rank ties on (count desc, token). */
  def q149VocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " "))
        .as("tok"))
      .where(col("tok") =!= "")
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("c").desc, col("tok"))
    val ranked = counts
      .withColumn("rk", row_number().over(w))
      .withColumn("cum", sum("c").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val stats = counts.agg(sum("c").as("total_occurrences"),
      count(lit(1)).as("n_distinct"))
    import s.implicits._
    VocabCuts.toDF("vocab_size")
      .crossJoin(broadcast(stats))
      .withColumn("target_rk", least(col("vocab_size"), col("n_distinct").cast("int")))
      .join(ranked, col("target_rk") === col("rk"))
      .select(col("vocab_size"), col("rk").cast("bigint").as("tokens_used"),
        col("cum").as("occurrences_covered"),
        (col("cum").cast("double") / col("total_occurrences")).as("coverage"))
  }

  /** Burst detection over per-minute event volumes: a minute is a burst
    * when its count exceeds 3× the trailing median of the previous 10
    * minutes (exact interpolated percentile — the window runs over MINUTE
    * rows, so the holistic median is over ≤10 values). The per-minute
    * rollup is the only scan-sized exchange. */
  def q150BurstDetection(s: SparkSession, dir: String): DataFrame = {
    val perMin = events(s, dir)
      .groupBy(floorDiv(unix_micros(col("ts")), 60000000L).as("minute"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy("minute").rowsBetween(-10, -1)
    perMin
      .withColumn("trail_med", expr("percentile(n, 0.5)").over(w))
      .select(col("minute"), col("n"), col("trail_med"),
        (col("trail_med").isNotNull &&
          col("n").cast("double") > lit(3.0) * col("trail_med")).as("burst"))
  }

  /** Dedup-aware sampling weights (soft dedup): every document gets
    * weight 1/|its near-dup cluster|, so a training sampler sees each
    * CONTENT once in expectation instead of once per copy — the
    * alternative to hard deletion when provenance must survive. Rational
    * weights (1/size as one double division) on the q58 cluster chain;
    * the weight join broadcasts CLUSTER-size rows. */
  def q151DedupWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minHashDedup(docs, threshold = 0.5, portable = true,
      maxBucketSize = Int.MaxValue)
    val clusters = Dedup.dedupClusters(docs, pairs)
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    clusters.join(broadcast(sizes), Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("sz").as("cluster_size"),
        (lit(1.0) / col("sz")).as("sample_weight"))
  }

  /** Full BPE: train 8 merges on the corpus word-frequency table
    * ([[graft.text.Bpe.trainMergesWithTable]] — each round one pair
    * aggregation over WORD rows + a single-row collect), then read the
    * subword histogram straight off the trained table (each word row
    * carries its corpus frequency — zero extra corpus passes).
    * Value-checked: the oracle unrolls the 8 merge rounds as chained
    * CTEs (pair counts → best pair → positional greedy merge), and the
    * merge sequence is additionally pinned against a single-node
    * reference implementation in the spec. */
  def q152BpeSubwords(s: SparkSession, dir: String): DataFrame =
    graft.text.Bpe.subwordStats(t(s, dir, "documents"), "text",
        nMerges = 8, maxWords = 10000)
      .orderBy(col("n").desc, col("subword")).limit(50)

  /** MinHash banding quality evaluation: the banded pipeline's RECALL
    * against exact all-pairs ground truth on the bounded frame (id<50) —
    * the tuning table for band geometry (bands×rows trades recall for
    * candidate volume). Precision is 1 by construction (candidates are
    * Jaccard-verified before emission), so recall is the number that
    * moves; the quadratic truth join is affordable only on the bounded
    * frame, which is exactly how the estimate is made at corpus scale —
    * on a sample, never the corpus. */
  def q153MinhashRecall(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").where(col("doc_id") < 50)
    val pred = Dedup.minHashDedup(docs, threshold = 0.5, portable = true,
      maxBucketSize = Int.MaxValue).select("id1", "id2")
    val allPairs = docs.select(col("doc_id").as("id1"))
      .join(docs.select(col("doc_id").as("id2")), col("id1") < col("id2"))
    val truth = Dedup.jaccardVerify(docs, allPairs)
      .where(col("jaccard") >= 0.5).select("id1", "id2")
    val hit = truth.join(pred, Seq("id1", "id2"), "left_semi")
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(pred.agg(count(lit(1)).as("n_pred")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_truth"), col("n_pred"), col("n_hit"),
        when(col("n_truth") > 0,
          col("n_hit").cast("double") / col("n_truth")).as("recall"))
  }

  /** Number of buckets for the q154 co-located join (both sides). */
  private val JoinBuckets = 8

  /** One staged layout per (purpose, sfDir) per JVM, under a unique temp
    * dir deleted on exit. Memoizing keeps repeated invocations (Bench's
    * run1/run2, Verify after tests) from re-writing the layout — the
    * query then times the JOIN the staging exists to demonstrate, not the
    * staging itself — and the per-process unique root means two sessions
    * sharing one host tmpdir (Verify racing Bench) can never overwrite
    * each other's staged files mid-query. */
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def stagedOnce(purpose: String, dir: String)
                        (write: String => Unit): String =
    stagedDirs.computeIfAbsent(s"$purpose:$dir", { _ =>
      val p = java.nio.file.Files.createTempDirectory(s"graft_$purpose")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        scala.util.Try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(f => java.nio.file.Files.deleteIfExists(f))
        }))
      write(p.toString)
      p.toString
    })

  /** Catalog-safe table name suffix for staged bucketed tables: unique per
    * (JVM, sfDir) so a test session at sf0.001 and a bench session at
    * sf0.1 can never resolve each other's layout. */
  private def stagedSuffix(dir: String): String =
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xffffffffL) +
      "_" + ProcessHandle.current().pid()

  /** Bucketed co-located join — the 100 TB "prepare once, join many
    * times" pattern. Both sides are written `bucketBy(8)` on the join key
    * (one file per bucket via an up-front repartition on the same hash,
    * sorted within), so the join itself needs NO exchange on either side:
    * the plan is two bucketed scans feeding a sort-merge join (the
    * `merge` hint keeps AQE from substituting a broadcast at toy SF —
    * at 100 TB neither side broadcasts), and the only shuffle in the
    * whole query is the final 4-row status rollup. PlanGoldSpec pins
    * exactly that profile. The rewrite cost is paid once per table, not
    * once per join — on a cluster this is the bucketed-table layout the
    * warehouse maintains continuously. */
  def q154BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val suf = stagedSuffix(dir)
    val liName = s"graft_bkt_lineitem_$suf"
    val ordName = s"graft_bkt_orders_$suf"
    stagedOnce("bucketed", dir) { base =>
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val ord = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      // repartition on the bucket key = Spark's bucket hash → each writer
      // task owns exactly one bucket: one file per bucket, sorted, so the
      // scan reports both partitioning AND ordering to the join planner
      li.repartition(JoinBuckets, col("l_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(JoinBuckets, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/lineitem").saveAsTable(liName)
      ord.repartition(JoinBuckets, col("o_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(JoinBuckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/orders").saveAsTable(ordName)
    }
    s.table(liName).hint("merge")
      .join(s.table(ordName),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(28,10)")).cast("double").as("revenue"))
  }

  /** Salt replicas for the q155 skew-mitigated join. */
  private val SaltBuckets = 8

  /** Skew-salted equi-join: the fact side's hot keys are spread over
    * [[SaltBuckets]] deterministic salt values (pmod of the row id — no
    * rand(), so replays and retries land identically) and the dim side is
    * exploded into one replica per salt, so the join key becomes
    * (key, salt) and no single reducer owns a hot key's whole partition.
    * The `merge` hint keeps the shuffle visible at toy SF — the POINT of
    * salting is the shuffled case; when the dim broadcasts, skew is moot.
    * Result is provably identical to the unsalted join (the oracle runs
    * the plain join). At 100 TB this is the manual fallback when AQE's
    * skew-join split can't help (e.g. a skewed build side). */
  def q155SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("salt", pmod(col("event_id"), lit(SaltBuckets.toLong)).cast("int"))
    val dim = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("salt", explode(array((0 until SaltBuckets).map(i => lit(i)): _*)))
    fact.hint("merge")
      .join(dim, fact("user_id") === dim("c_custkey") && fact("salt") === dim("salt"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,10)")).cast("double").as("total_value"))
  }

  /** q156 tier cut-points on the fixed-point lm_score (scale 1e6). */
  private[graft] val PerplexityKeep = 35000L
  private[graft] val PerplexityReview = 34000L

  /** CCNet-style LM-fluency quality filter: score every document under
    * the corpus bigram model ([[TextAnalysis.bigramLmScore]], fixed-point
    * — bit-identical on any partitioning) and cut into keep / review /
    * drop tiers on the score. The decision column rides WITH the corpus
    * (no docs dropped here) so downstream mixtures can weight rather than
    * hard-filter; documents under 2 tokens have no bigrams and are absent,
    * same universe as q77. One corpus scan feeds both the model and the
    * scoring join; the model side shuffles (pair, counts) longs only. */
  def q156PerplexityTiers(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model = TextAnalysis.bigramModel(docs, "text")
    TextAnalysis.bigramLmScore(docs, "doc_id", "text", model)
      .select(col("id").as("doc_id"), col("n_bigrams"), col("lm_score"),
        when(col("lm_score") >= PerplexityKeep, lit("keep"))
          .when(col("lm_score") >= PerplexityReview, lit("review"))
          .otherwise(lit("drop")).as("tier"))
  }

  /** IVF-ANN recall against exact brute force on a bounded query sample
    * (the q153 banding-recall technique applied to the vector path):
    * per query, |IVF top-k ∩ exact top-k| / k. Both sides use identical
    * (cos desc, corpus_id) tie-breaks, so the intersection — and the
    * recall — is deterministic and hash-comparable. This is the query a
    * platform runs before trusting nprobe at production scale; the exact
    * leg stays bounded (20 queries × corpus), never all-pairs. */
  def q157IvfRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val qs = emb.where(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, qs, k = 10)
      .select("query_id", "corpus_id")
    val approx = Similarity.ivfTopK(emb, qs, k = 10, nlist = 16, nprobe = 4)
      .select("query_id", "corpus_id")
    val hits = exact.join(approx, Seq("query_id", "corpus_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_exact"))
          .as("recall"))
  }

  /** Dynamic partition pruning over a date-partitioned fact: the fact
    * (events) is laid out `partitionBy(d)` — the layout every event
    * warehouse uses — and joined to a date dim carrying a selective
    * predicate (`day(d) % 7 = 1` → 5 of 30 partitions). The predicate's
    * date set is only known at RUNTIME (it lives on the dim side), so
    * static pruning can't help; Spark's DPP broadcasts the filtered dim
    * and injects `dynamicpruningexpression(d IN subquery)` into the scan's
    * PartitionFilters — the fact reads 5/30 partitions, verified by
    * ScaleOpsSpec. At 100 TB this is the difference between scanning a
    * week and scanning three years. Oracle = the same join on the
    * unpartitioned parquet: layout changes bytes read, never the answer. */
  def q158DynamicPruning(s: SparkSession, dir: String): DataFrame = {
    val base = stagedOnce("dpp", dir) { p =>
      events(s, dir).withColumn("d", col("ts").cast("date"))
        .write.mode("overwrite").partitionBy("d").parquet(p)
    }
    val fact = s.read.parquet(base)
    val dim = s.range(1).select(explode(sequence(
        to_date(lit("2024-01-01")), to_date(lit("2024-01-30")))).as("d"))
      .where(dayofmonth(col("d")) % 7 === 1)
    fact.join(dim, Seq("d"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,10)")).cast("double").as("total_value"))
  }

  /** Oracle-checked media decode: each document renders a deterministic
    * 8×8 grayscale raster (gray(x,y) = (doc_id·31 + 8x + y) mod 256),
    * PNG-encodes it with the JDK's ImageIO, decodes it back with
    * [[Multimodal.decodePixels]], and reports the 8-bin luma histogram
    * (for gray pixels luma ≡ gray exactly: (299g+587g+114g)/1000 = g).
    * The oracle computes the SAME histogram arithmetically from the
    * rendering formula — a hash match proves the whole encode → decode →
    * feature path is lossless and bit-exact, cross-engine. The encode/
    * decode runs inside mapPartitions (the per-partition codec batch
    * shape); nothing but (id, 11 ints) ever leaves the executor. */
  def q159MediaDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val img = new java.awt.image.BufferedImage(8, 8,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var x = 0
          while (x < 8) {
            var y = 0
            while (y < 8) {
              // floorMod: total over Long ids — a negative doc_id after a
              // testdata regeneration must yield a gray in [0,256), not a
              // negative that overruns the histogram
              val g = java.lang.Math.floorMod(id * 31 + x * 8 + y, 256L).toInt
              img.setRGB(x, y, (g << 16) | (g << 8) | g)
              y += 1
            }
            x += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          val pf = Multimodal.decodePixels(bos.toByteArray).getOrElse(
            throw new IllegalStateException(s"decode failed for doc $id"))
          val h = pf.lumaHist.map(_.toLong)
          (id, pf.width, pf.height,
            h(0), h(1), h(2), h(3), h(4), h(5), h(6), h(7))
        }
      }.toDF("doc_id", "width", "height",
        "b0", "b1", "b2", "b3", "b4", "b5", "b6", "b7")
  }

  /** The ORACLE-visible schema pin, one row per (table, column): the
    * Spark side is this literal expectation table; the oracle side runs
    * live `DESCRIBE` over the registered parquet views. SchemaProbeSpec
    * already fails loudly when a testdata regeneration changes what SPARK
    * sees; this is the missing twin for the DuckDB lens — the round-6 q152
    * failure mode, where a physical-type change broke only the oracle,
    * now fails this one named row instead of a mystery query downstream.
    * (DuckDB reads annotation-less INT32/INT64 as INTEGER/BIGINT and maps
    * TIMESTAMP_MICROS→TIMESTAMP; a regeneration to NANOS would read
    * TIMESTAMP_NS here and hash-mismatch immediately.) */
  private[graft] val OracleVisibleSchema: Seq[(String, String, String)] = Seq(
    "region" -> Seq("r_regionkey" -> "INTEGER", "r_name" -> "VARCHAR"),
    "nation" -> Seq("n_nationkey" -> "INTEGER", "n_name" -> "VARCHAR",
      "n_regionkey" -> "INTEGER"),
    "customer" -> Seq("c_custkey" -> "BIGINT", "c_name" -> "VARCHAR",
      "c_nationkey" -> "INTEGER", "c_acctbal" -> "DOUBLE",
      "c_mktsegment" -> "VARCHAR"),
    "supplier" -> Seq("s_suppkey" -> "BIGINT", "s_name" -> "VARCHAR",
      "s_nationkey" -> "INTEGER", "s_acctbal" -> "DOUBLE"),
    "part" -> Seq("p_partkey" -> "BIGINT", "p_name" -> "VARCHAR",
      "p_brand" -> "VARCHAR", "p_type" -> "VARCHAR", "p_size" -> "INTEGER",
      "p_retailprice" -> "DOUBLE"),
    "orders" -> Seq("o_orderkey" -> "BIGINT", "o_custkey" -> "BIGINT",
      "o_orderstatus" -> "VARCHAR", "o_totalprice" -> "DOUBLE",
      "o_orderdate" -> "TIMESTAMP", "o_orderpriority" -> "VARCHAR"),
    "lineitem" -> Seq("l_orderkey" -> "BIGINT", "l_partkey" -> "BIGINT",
      "l_suppkey" -> "BIGINT", "l_linenumber" -> "INTEGER",
      "l_quantity" -> "DOUBLE", "l_extendedprice" -> "DOUBLE",
      "l_discount" -> "DOUBLE", "l_tax" -> "DOUBLE",
      "l_returnflag" -> "VARCHAR", "l_linestatus" -> "VARCHAR",
      "l_shipdate" -> "TIMESTAMP"),
    "events" -> Seq("event_id" -> "BIGINT", "ts" -> "TIMESTAMP",
      "user_id" -> "BIGINT", "event_type" -> "VARCHAR",
      "value" -> "DOUBLE", "props" -> "VARCHAR"),
    "documents" -> Seq("doc_id" -> "BIGINT", "text" -> "VARCHAR",
      "lang" -> "VARCHAR", "source" -> "VARCHAR", "n_chars" -> "BIGINT"),
    "embeddings" -> Seq("vec_id" -> "BIGINT", "embedding" -> "FLOAT[]",
      "label" -> "INTEGER")
  ).flatMap { case (tbl, cols) => cols.map { case (c, ty) => (tbl, c, ty) } }

  /** See [[OracleVisibleSchema]]: the probe's Spark side never touches the
    * data — it IS the expectation; the oracle side describes the live
    * views, so only a testdata change can break the row set. */
  def q160OracleTypes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    OracleVisibleSchema.toDF("tbl", "col_name", "col_type")
  }

  /** S5 at the FILE level, through per-partition manifests
    * ([[graft.sources.PartitionSnapshots]]): seed a hive-partitioned
    * table once, MERGE a delta that also MOVES keys across partitions
    * (the hardest partitioned-merge case), commit via per-partition
    * version slots + pointer swaps, read back through the pointer-aware
    * reader. Touched partitions re-version; untouched ones stay at their
    * implicit v0 — the read mixes both layouts, which is exactly the
    * migrated-table steady state at 100 TB. Replay-idempotent: the delta
    * derives from the immutable source table, so every rerun commits the
    * same content and the bench's second run times the steady-state merge,
    * not table creation. The oracle replays the merge algebra in SQL —
    * durability layout changes bytes on disk, never the answer. */
  def q163ManifestedMerge(s: SparkSession, dir: String): DataFrame = {
    val path = stagedOnce("pman", dir) { base =>
      t(s, dir, "customer").where(col("c_custkey") <= 300)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        .write.partitionBy("c_mktsegment").parquet(s"$base/t")
    } + "/t"
    val delta = t(s, dir, "customer")
      .where(col("c_custkey") <= 300 && col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), (col("c_acctbal") + lit(500.0)).as("c_acctbal"),
        lit("MOVED").as("c_mktsegment"))
    Upsert.upsert(s, path, delta, Seq("c_custkey"),
      partitionCols = Seq("c_mktsegment"))
    Upsert.read(s, path)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** Whole-table TIME TRAVEL through the root manifest
    * ([[graft.sources.PartitionSnapshots.read]] `asOf`): the staged table
    * commits two manifested merges — root v1 doubles the balance of every
    * fifth key, root v2 then MOVES every third key across partitions —
    * and the query pins root v1, reading the table exactly as it stood
    * between the merges. One pointer + one manifest file resolve the
    * whole multi-partition snapshot (no directory walk, no interference
    * from v2's partition rewrites) — the Iceberg `VERSION AS OF` read
    * path at metadata cost. Staging is memoized per session, so reruns
    * read the same frozen history and the bench times the
    * manifest-resolved scan. The oracle replays the v1 merge algebra
    * over the immutable source table. */
  def q164RootTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val path = stagedOnce("proot", dir) { base =>
      t(s, dir, "customer").where(col("c_custkey") <= 200)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        .write.partitionBy("c_mktsegment").parquet(s"$base/t")
      val d1 = t(s, dir, "customer")
        .where(col("c_custkey") <= 200 && col("c_custkey") % 5 === 0)
        .select(col("c_custkey"), (col("c_acctbal") * 2).as("c_acctbal"),
          col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", d1, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      val d2 = t(s, dir, "customer")
        .where(col("c_custkey") <= 200 && col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + lit(1000.0)).as("c_acctbal"),
          lit("MOVED").as("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", d2, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
    } + "/t"
    graft.sources.PartitionSnapshots.read(s, path, asOf = 1L)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** Row-level CHANGELOG between two root snapshots
    * ([[graft.sources.PartitionSnapshots.changes]]) of q164's staged
    * table: the feed from root v1 → v2 is exactly merge 2's effect —
    * an insert of every moved row's new image and a delete of its old
    * one, while rows the rewrite carried over unchanged cancel out.
    * Metadata-first: partitions pinned at the same state in both
    * manifests are never read, so between consecutive commits the scan
    * is O(touched partitions), not O(table) — the property that makes a
    * daily CDC feed off a 100 TB table cheap. The oracle replays both
    * snapshot states in SQL and diffs them. */
  def q165RootChangelog(s: SparkSession, dir: String): DataFrame = {
    q164RootTimeTravel(s, dir) // ensures the staged history exists
    val path = stagedOnce("proot", dir)(_ => ()) + "/t"
    graft.sources.PartitionSnapshots.changes(s, path, fromV = 1L, toV = 2L)
      .select(col("change_type"), col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** WRITE-AUDIT-PUBLISH merge (Iceberg's WAP pattern,
    * [[Upsert.upsert]] `audit` → [[graft.operators.Expectations.check]]):
    * q163's cross-partition MERGE, but the commit stages its version
    * slots, runs a declarative expectations gate (key not-null + unique,
    * segment non-empty) against the complete WOULD-BE snapshot — the
    * real files at their final paths — and only then seals the slots and
    * swaps the pointers. A failed rule publishes nothing (spec'd in
    * PartitionSnapshotsSpec); here the gate passes, so the read-back
    * equals the plain merge algebra the oracle replays. The audit costs
    * one extra scan of the touched data, the price Iceberg WAP pays for
    * never publishing a bad snapshot. */
  def q166AuditedMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Expectations
    val path = stagedOnce("pwap", dir) { base =>
      t(s, dir, "customer").where(col("c_custkey") <= 300)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        .write.partitionBy("c_mktsegment").parquet(s"$base/t")
    } + "/t"
    val delta = t(s, dir, "customer")
      .where(col("c_custkey") <= 300 && col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), (col("c_acctbal") + lit(500.0)).as("c_acctbal"),
        lit("MOVED").as("c_mktsegment"))
    Upsert.upsert(s, path, delta, Seq("c_custkey"),
      partitionCols = Seq("c_mktsegment"),
      audit = Some(df => Expectations.check(df, Seq(
        Expectations.NotNull("c_custkey"),
        Expectations.UniqueKey(Seq("c_custkey")),
        Expectations.Satisfies("segment_nonempty",
          col("c_mktsegment").isNotNull)))))
    Upsert.read(s, path)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** Shared staging for q167/q168 — a two-commit manifested "silver"
    * history plus a gold aggregate built from root v1:
    * root v1 seeds customers ≤ 400 partitioned by segment; gold =
    * per-segment (count, balance sum) from that state; root v2 then
    * merges every 97th key (+100 balance) with every 194th MOVING
    * segment — a narrow commit touching a handful of partitions, the
    * daily-merge shape. Returns the staging base. */
  private def changelogGoldStage(s: SparkSession, dir: String): String =
    stagedOnce("pincgold", dir) { base =>
      val seed = t(s, dir, "customer").where(col("c_custkey") <= 400)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/silver", seed, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      val g1 = graft.sources.PartitionSnapshots.read(s, s"$base/silver")
        .groupBy(col("c_mktsegment").cast("string").as("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
      Upsert.upsert(s, s"$base/gold", g1, Seq("c_mktsegment"))
      val delta = t(s, dir, "customer")
        .where(col("c_custkey") <= 400 && col("c_custkey") % 97 === 0)
        .select(col("c_custkey"),
          (col("c_acctbal") + lit(100.0)).as("c_acctbal"),
          when(col("c_custkey") % 194 === 0, lit("MOVED"))
            .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      Upsert.upsert(s, s"$base/silver", delta, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
    }

  /** CHANGELOG-DRIVEN INCREMENTAL MAINTENANCE (the Iceberg
    * incremental-read pattern, [[graft.sources.PartitionSnapshots
    * .changedPartitions]] + [[graft.pipeline.SilverToGold
    * .runFromChangelog]]'s algebra on a staged table): the gold
    * aggregate built at silver root v1 is brought up to v2 by diffing
    * the two ROOT MANIFESTS — two metadata files name exactly the
    * partitions the merge rewrote, zero data files opened for the
    * work-list — then rescanning ONLY those partitions and merging their
    * re-derived rows into gold. Untouched segments keep their v1-built
    * gold rows without a byte read; at a 30 000-partition daily cadence
    * that is the whole difference between O(day) and O(table) per run.
    * The oracle is the FULL REBUILD of the v2 state — equality IS the
    * incremental-maintenance correctness claim. */
  def q167ChangelogIncremental(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.PartitionSnapshots
    val base = changelogGoldStage(s, dir)
    val segs = PartitionSnapshots
      .changedPartitions(s, s"$base/silver", fromV = 1L, toV = 2L)
      .map(_.split("=", 2)(1))
      .map(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName)
    val gNew = Upsert.read(s, s"$base/silver")
      .where(col("c_mktsegment").isin(segs: _*)) // partition-pruned rescan
      .groupBy(col("c_mktsegment").cast("string").as("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
    Upsert.upsert(s, s"$base/gold", gNew, Seq("c_mktsegment"))
    Upsert.read(s, s"$base/gold")
  }

  /** The changelog WORK-LIST itself ([[graft.sources.PartitionSnapshots
    * .changedPartitions]]): which partitions did the v1→v2 merge rewrite?
    * Answered from the two root manifests alone — the O(touched)
    * metadata read that makes q167's maintenance (and a daily 100 TB
    * merge cadence) cheap. The oracle re-derives the same list from the
    * merge algebra: the segments the touched keys lived in (matched keys
    * rewrite their home partition) plus the segment they moved to. */
  def q168ChangelogWorklist(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.PartitionSnapshots
    import s.implicits._
    val base = changelogGoldStage(s, dir)
    PartitionSnapshots
      .changedPartitions(s, s"$base/silver", fromV = 1L, toV = 2L)
      .map(_.split("=", 2)(1))
      .map(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName)
      .toDF("part_value").orderBy("part_value")
  }

  /** Fixed create-once table for q169: the oracle's DuckDB side must
    * name the path in static SQL, so the table lives at a well-known
    * location and is claimed by an ATOMIC whole-dir rename (first
    * session wins; losers discard their staging and read the winner's).
    * Existence implies completeness, and the table is never mutated
    * after the claim — so the value-equality of q169 is
    * content-independent: both engines read the SAME staged bytes, and
    * what is being checked is that they RESOLVE the layout identically. */
  private val Q169Table = "/tmp/graft_q169_table"
  private def ensureQ169Table(s: SparkSession, dir: String): String = {
    if (!new java.io.File(Q169Table).exists()) {
      val stage = java.nio.file.Files
        .createTempDirectory("graft_q169_stage").toString
      val t0 = s"$stage/t"
      val seed = t(s, dir, "customer").where(col("c_custkey") <= 200)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, t0, seed, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      val delta = t(s, dir, "customer")
        .where(col("c_custkey") <= 200 && col("c_custkey") % 6 === 0)
        .select(col("c_custkey"),
          (col("c_acctbal") + lit(250.0)).as("c_acctbal"),
          when(col("c_custkey") % 12 === 0, lit("MOVED"))
            .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      Upsert.upsert(s, t0, delta, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      // atomic claim; a lost race just means another session staged it
      new java.io.File(t0).renameTo(new java.io.File(Q169Table))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
    }
    Q169Table
  }

  /** EXTERNAL-ENGINE STORAGE PORTABILITY of the
    * [[graft.sources.PartitionSnapshots]] layout: the staged table holds
    * a two-commit manifested history (root v1 = full manifest, root v2 =
    * an O(touched) DELTA naming its parent), and the DuckDB oracle
    * resolves it WITHOUT this engine — pure SQL walks
    * `_root/_current` → the delta chain (recursive CTE over the
    * manifest/delta files, nearest-override fold) → the pinned
    * `rel/_versions/vNNN` data dirs, and reads exactly those parquet
    * files. Equality with this side's pointer-aware read proves a
    * foreign engine can resolve the snapshot layout from the bytes
    * alone — the storage half of the portability story (q50 is the SQL
    * half). The read itself is the metadata path a 30 000-partition
    * table needs: one pointer, ≤ RebaseEvery manifest files, no
    * directory listing. */
  def q169ExternalManifestRead(s: SparkSession, dir: String): DataFrame = {
    val path = ensureQ169Table(s, dir)
    graft.sources.PartitionSnapshots.read(s, path)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** EQUALITY DELETE, merge-on-read
    * ([[graft.sources.PartitionSnapshots.deleteKeys]] — Iceberg v2's
    * equality-delete files): q163's manifested merge history, then a
    * key-list delete (every 11th key) committed as ONE small delete file
    * plus an O(touched) root delta — no data file rewritten. The read
    * applies the delete file as a broadcast anti-join over exactly the
    * partitions whose manifest state carries the ref. At 100 TB this is
    * the GDPR-erasure path: a thousand-key delete against a 30 000-
    * partition fact costs one key-lookup scan and a metadata commit, not
    * a partition rewrite — compaction materializes it later
    * ([[graft.sources.PartitionSnapshots.compact]]). Staging is memoized
    * per session (the delete of already-deleted keys is a no-op), so the
    * bench times the merge-on-read READ, not table creation. The oracle
    * replays merge + delete algebra in SQL. */
  def q170EqualityDelete(s: SparkSession, dir: String): DataFrame = {
    val path = stagedOnce("pdel", dir) { base =>
      t(s, dir, "customer").where(col("c_custkey") <= 300)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        .write.partitionBy("c_mktsegment").parquet(s"$base/t")
      val delta = t(s, dir, "customer")
        .where(col("c_custkey") <= 300 && col("c_custkey") % 7 === 0)
        .select(col("c_custkey"),
          (col("c_acctbal") + lit(500.0)).as("c_acctbal"),
          lit("MOVED").as("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", delta, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      graft.sources.PartitionSnapshots.deleteKeys(s, s"$base/t",
        t(s, dir, "customer")
          .where(col("c_custkey") <= 300 && col("c_custkey") % 11 === 0)
          .select(col("c_custkey")))
    } + "/t"
    Upsert.read(s, path)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** ADDITIVE SCHEMA EVOLUTION on a manifested table (manifest-pinned
    * schema — [[graft.sources.PartitionSnapshots.pinnedSchema]], the
    * Iceberg schema-from-metadata read): an evolving MERGE adds a
    * `priority` column while touching ONLY the BUILDING partition; the
    * other partitions' files never learn the column, yet the read fills
    * it as NULL because every commit pins the union DATA schema in its
    * root slot and readers apply it instead of sampling parquet footers —
    * which at 30 000 partitions is both the correctness fix (footer
    * inference silently drops the new column when it samples an old
    * file first) and the metadata-speed path (zero footers opened for
    * schema). Time travel reads each root at ITS schema. The oracle
    * replays the evolution in SQL. */
  def q171SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val path = stagedOnce("pevo", dir) { base =>
      val seed = t(s, dir, "customer").where(col("c_custkey") <= 300)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", seed, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      val delta = t(s, dir, "customer")
        .where(col("c_custkey") <= 300 && col("c_custkey") % 7 === 0 &&
          col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"),
          (col("c_acctbal") + lit(500.0)).as("c_acctbal"),
          col("c_mktsegment"), lit("HIGH").as("priority"))
      Upsert.upsert(s, s"$base/t", delta, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"), evolveSchema = true)
    } + "/t"
    Upsert.read(s, path)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"),
        col("priority"))
  }

  /** Metadata-only PARTITION DROP
    * ([[graft.sources.PartitionSnapshots.dropPartitions]] — Iceberg's
    * `DROP PARTITION`): the retention-pipeline operation. Dropping the
    * MACHINERY segment of the staged manifested table commits an EMPTY
    * version per dropped partition and ONE root manifest — no data
    * scanned or rewritten, O(dropped) directory metadata however big the
    * table; pinned readers and time travel keep the dropped files until
    * retention expires them. Staging memoized; the re-drop on rerun is a
    * no-op (already EMPTY), so the bench times the post-drop read. The
    * oracle replays the drop as a filter. */
  def q173DropPartitions(s: SparkSession, dir: String): DataFrame = {
    val path = stagedOnce("pdrop", dir) { base =>
      val seed = t(s, dir, "customer").where(col("c_custkey") <= 300)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", seed, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      graft.sources.PartitionSnapshots.dropPartitions(s, s"$base/t",
        m => m("c_mktsegment") == "MACHINERY")
    } + "/t"
    graft.sources.PartitionSnapshots.dropPartitions(s, path,
      m => m("c_mktsegment") == "MACHINERY") // idempotent no-op on rerun
    Upsert.read(s, path)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** Root TAGS ([[graft.sources.PartitionSnapshots.tagRoot]] — Iceberg's
    * snapshot tags): the seed state is tagged `baseline`, a merge then
    * advances the table, and the query reads THROUGH the tag — the
    * audit/reproducibility primitive ("the corpus exactly as train-run X
    * read it") that survives retention indefinitely at metadata cost:
    * the tag pins the root manifest, its delta parents, and every data
    * version they name, none of it copied. The oracle is the untouched
    * seed state. */
  def q174TaggedRead(s: SparkSession, dir: String): DataFrame = {
    val path = stagedOnce("ptag", dir) { base =>
      val seed = t(s, dir, "customer").where(col("c_custkey") <= 200)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", seed, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      graft.sources.PartitionSnapshots.tagRoot(s, s"$base/t", "baseline")
      val delta = t(s, dir, "customer")
        .where(col("c_custkey") <= 200 && col("c_custkey") % 5 === 0)
        .select(col("c_custkey"), (col("c_acctbal") * 2).as("c_acctbal"),
          col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", delta, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
    } + "/t"
    graft.sources.PartitionSnapshots.readTag(s, path, "baseline")
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** METADATA-ONLY COUNT(*) (Iceberg's count pushdown —
    * [[graft.sources.PartitionSnapshots.rowCount]]): every commit
    * harvests its sealed partitions' parquet-footer record counts into
    * the root manifest (zero extra Spark jobs — the writer's footers
    * already hold them), so counting a 30 000-partition table is one
    * manifest resolution, no data file opened. The fixture seeds ≤400
    * and merges in 401–430 (inserts) plus every-9th updates — updates
    * keep, inserts grow the count. `rowCount` answers Some(n) only when
    * exact (no pending equality deletes, stats on every live
    * partition); the oracle counts the replayed final state. */
  def q175MetadataCount(s: SparkSession, dir: String): DataFrame = {
    val path = stagedOnce("pcount", dir) { base =>
      val seed = t(s, dir, "customer").where(col("c_custkey") <= 400)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", seed, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      val delta = t(s, dir, "customer")
        .where(col("c_custkey") <= 430 &&
          (col("c_custkey") > 400 || col("c_custkey") % 9 === 0))
        .select(col("c_custkey"),
          (col("c_acctbal") + lit(50.0)).as("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", delta, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
    } + "/t"
    val n = graft.sources.PartitionSnapshots.rowCount(s, path)
      .getOrElse(sys.error("q175: metadata count unexpectedly unavailable"))
    import s.implicits._
    Seq(n).toDF("n_rows")
  }

  /** STATS-PRUNED range scan (Iceberg scan planning —
    * [[graft.sources.PartitionSnapshots.readWhereBetween]]): customers
    * bucketed into 100-key partitions; `c_custkey BETWEEN 120 AND 250`
    * plans its scan from the manifest's per-partition min/max bounds, so
    * only buckets 1 and 2 are ever listed or read — pruning on a
    * NON-partition column's value range, decided before any file or
    * footer is touched. At 30 000 partitions this is the difference
    * between metadata planning and a listing storm. The spec pins the
    * pruning via inputFiles; the oracle checks values. */
  def q176StatsPrunedRead(s: SparkSession, dir: String): DataFrame = {
    val path = stagedOnce("pprune", dir) { base =>
      val seed = t(s, dir, "customer").where(col("c_custkey") <= 500)
        .select(col("c_custkey"), col("c_acctbal"),
          ((col("c_custkey") - 1) / lit(100)).cast("int").as("bucket"))
      Upsert.upsert(s, s"$base/t", seed, Seq("c_custkey"),
        partitionCols = Seq("bucket"))
    } + "/t"
    graft.sources.PartitionSnapshots
      .readWhereBetween(s, path, "c_custkey", 120, 250)
      .select(col("c_custkey"), col("c_acctbal"),
        col("bucket").cast("int").as("bucket"))
  }

  /** FAST APPEND + insert-only MERGE as append ([[Upsert.append]] /
    * [[graft.sources.PartitionSnapshots.commitStaged]] — Iceberg's
    * fast-append at version-dir granularity): the seed is appended to
    * twice — a plain append of late arrivals, then an insert-only MERGE
    * whose overlap is skipped and whose new keys land as a new PART of
    * each touched partition's state (`v0001&v0002`), no existing file
    * read or rewritten. THE streaming-ingest commit shape at 100 TB:
    * cost is the new rows + one root delta, however big the partitions
    * already are. Stats merge monotonically so the metadata count stays
    * exact. The oracle is the plain union of the surviving images. */
  def q177FastAppend(s: SparkSession, dir: String): DataFrame = {
    val path = stagedOnce("pappend", dir) { base =>
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", cust.where(col("c_custkey") <= 300),
        Seq("c_custkey"), partitionCols = Seq("c_mktsegment"))
      Upsert.append(s, s"$base/t",
        cust.where(col("c_custkey") > 300 && col("c_custkey") <= 350),
        Seq("c_mktsegment"))
      Upsert.upsert(s, s"$base/t",
        cust.where(col("c_custkey") > 330 && col("c_custkey") <= 380),
        Seq("c_custkey"), insertOnly = true,
        partitionCols = Seq("c_mktsegment"))
    } + "/t"
    Upsert.read(s, path)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** IDEMPOTENT TRANSACTIONAL APPEND ([[Upsert.append]] with `txn` —
    * Delta's txnAppId/txnVersion, Iceberg's snapshot-summary pattern):
    * micro-batch 0 is appended, then REDELIVERED verbatim (the
    * foreachBatch crash-retry shape), then batch 1 commits normally.
    * Each commit stamps `graft.txn.<appId> → version` into the root
    * manifest's props; under the writer lease a version ≤ the highest
    * already committed is skipped wholesale, so the redelivery commits
    * NOTHING — exactly-once ingest without reading any data file. The
    * oracle is the plain final image: a duplicated batch would double
    * keys 301–340 and hash-mismatch. */
  def q178TxnAppend(s: SparkSession, dir: String): DataFrame = {
    val path = stagedOnce("ptxnq", dir) { base =>
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", cust.where(col("c_custkey") <= 300),
        Seq("c_custkey"), partitionCols = Seq("c_mktsegment"))
      val b0 = cust.where(col("c_custkey") > 300 && col("c_custkey") <= 340)
      Upsert.append(s, s"$base/t", b0, Seq("c_mktsegment"),
        txn = Some(("q178", 0L)))
      // crash redelivery of batch 0 — absorbed by the txn stamp
      Upsert.append(s, s"$base/t", b0, Seq("c_mktsegment"),
        txn = Some(("q178", 0L)))
      Upsert.append(s, s"$base/t",
        cust.where(col("c_custkey") > 340 && col("c_custkey") <= 380),
        Seq("c_mktsegment"), txn = Some(("q178", 1L)))
    } + "/t"
    Upsert.read(s, path)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** `$partitions` METADATA TABLE
    * ([[graft.sources.PartitionSnapshots.partitionsMeta]] — Iceberg's
    * inspection tables): q175's staged table (seed + overlapping merge,
    * so counts reflect upserts, not raw inserts) read as one metadata
    * row per partition; the manifest-recorded row counts must equal
    * what a full GROUP BY count of the replayed data computes — the
    * exactness contract that makes the inspection surface trustworthy.
    * Zero data files opened on the engine side. */
  def q180PartitionsMeta(s: SparkSession, dir: String): DataFrame = {
    val path = stagedOnce("pcount", dir) { base =>
      val seed = t(s, dir, "customer").where(col("c_custkey") <= 400)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", seed, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      val delta = t(s, dir, "customer")
        .where(col("c_custkey") <= 430 &&
          (col("c_custkey") > 400 || col("c_custkey") % 9 === 0))
        .select(col("c_custkey"),
          (col("c_acctbal") + lit(50.0)).as("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", delta, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
    } + "/t"
    graft.sources.PartitionSnapshots.partitionsMeta(s, path)
      .select(substring_index(col("partition"), "=", -1).as("c_mktsegment"),
        col("row_count").cast("long").as("n_rows"))
  }

  /** BRANCH STAGE → VALIDATE → FAST-FORWARD
    * ([[graft.sources.PartitionSnapshots.createBranch]]/`fastForwardRoot`
    * — Iceberg branch refs): two commits land on a branch (a keyed merge
    * of 301–370, then a fast append of 371–400) while MAIN still serves
    * the 300-customer seed; the staged line is validated via
    * `readBranch` (the multi-commit generalization of q166's
    * single-commit WAP) and published to main in ONE pointer swap. The
    * oracle is the post-publish image — and would catch a branch commit
    * leaking into main early just as surely as a lost one. */
  def q182BranchPublish(s: SparkSession, dir: String): DataFrame = {
    val path = stagedOnce("pbranq", dir) { base =>
      import graft.sources.PartitionSnapshots
      val cust = t(s, dir, "customer").where(col("c_custkey") <= 400)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", cust.where(col("c_custkey") <= 300),
        Seq("c_custkey"), partitionCols = Seq("c_mktsegment"))
      PartitionSnapshots.createBranch(s, s"$base/t", "staging")
      Upsert.upsert(s, s"$base/t",
        cust.where(col("c_custkey") > 300 && col("c_custkey") <= 370),
        Seq("c_custkey"), partitionCols = Seq("c_mktsegment"),
        branch = Some("staging"))
      Upsert.append(s, s"$base/t", cust.where(col("c_custkey") > 370),
        Seq("c_mktsegment"), branch = Some("staging"))
      // the validation read a publisher gates on (q166's audit, but over
      // the whole multi-commit staged line)
      require(PartitionSnapshots.readBranch(s, s"$base/t", "staging")
        .where(col("c_custkey").isNull).isEmpty, "branch audit failed")
      PartitionSnapshots.fastForwardRoot(s, s"$base/t", "staging")
    } + "/t"
    Upsert.read(s, path)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** FILE-SCOPED MERGE ([[graft.operators.Upsert.upsert]] over
    * [[graft.sources.PartitionSnapshots.planFileScoped]] — Iceberg's
    * file-level rewrite, selected from the per-file manifest sidecars
    * each commit writes): the seed is fast-appended as four
    * range-disjoint files per partition (`repartitionByRange` on the
    * key — appends preserve the writer's file layout), so a keyed MERGE
    * of the narrow band 50–70 rewrites ONLY the files whose recorded
    * key bounds intersect the band; every other file survives by
    * manifest token with its bytes, path, and mtime untouched. The
    * builder REQUIRES survivor tokens in the committed state — a silent
    * fallback to whole-partition rewriting fails the query — and the
    * oracle replays full-partition MERGE semantics over the immutable
    * source: file-level granularity changes write amplification, never
    * the answer. At 100 TB this is the difference between a 1-row
    * update costing one file and costing a multi-GB partition. */
  def q183FileScopedMerge(s: SparkSession, dir: String): DataFrame = {
    val path = stagedOnce("pfscope", dir) { base =>
      val seed = t(s, dir, "customer").where(col("c_custkey") <= 600)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        .repartitionByRange(4, col("c_custkey"))
      Upsert.append(s, s"$base/t", seed, Seq("c_mktsegment"))
    } + "/t"
    val delta = t(s, dir, "customer")
      .where(col("c_custkey").between(50, 70))
      .select(col("c_custkey"),
        (col("c_acctbal") + lit(100.0)).as("c_acctbal"), col("c_mktsegment"))
    Upsert.upsert(s, path, delta, Seq("c_custkey"),
      partitionCols = Seq("c_mktsegment"))
    val state = graft.sources.PartitionSnapshots.rootManifest(s, path).get
    require(state.values.exists(_.contains("/")),
      "q183: file-scoped MERGE left no survivor file tokens — " +
        "whole-partition fallback engaged unexpectedly")
    Upsert.read(s, path)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** PARTITION-SPEC EVOLUTION
    * ([[graft.sources.PartitionSnapshots.evolvePartitionSpec]] —
    * Iceberg's spec evolution): the table seeds under spec
    * `(c_mktsegment)`, evolves to `(c_mktsegment, c_nationkey)` with NO
    * data rewrite (the promoted column's values live in the old files;
    * new commits stage two-level dirs), then takes a post-evolution
    * insert batch and a keyed MERGE whose matched keys live in
    * OLD-spec partitions — those rows migrate lazily to the new layout
    * while untouched old partitions stay in place. The builder REQUIRES
    * both layouts in the committed manifest and that time travel to the
    * pre-evolution root still resolves; the oracle replays the commit
    * algebra over the immutable source — the partition layout is a
    * write-side concern, never the answer. */
  def q184SpecEvolution(s: SparkSession, dir: String): DataFrame = {
    val path = stagedOnce("pspecq", dir) { base =>
      import graft.sources.PartitionSnapshots
      val cust = t(s, dir, "customer").where(col("c_custkey") <= 300)
        .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"),
          col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", cust, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      val seedCount = PartitionSnapshots.read(s, s"$base/t").count()
      PartitionSnapshots.evolvePartitionSpec(s, s"$base/t",
        Seq("c_mktsegment", "c_nationkey"))
      val ins = t(s, dir, "customer")
        .where(col("c_custkey") > 300 && col("c_custkey") <= 340)
        .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"),
          col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", ins, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment", "c_nationkey"))
      val upd = cust.where(col("c_custkey") % 11 === 0)
        .select(col("c_custkey"),
          (col("c_acctbal") + lit(250.0)).as("c_acctbal"),
          col("c_nationkey"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", upd, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment", "c_nationkey"))
      val m = PartitionSnapshots.rootManifest(s, s"$base/t").get
      require(m.keySet.exists(!_.contains("/")) &&
        m.keySet.exists(_.contains("/")),
        "q184: expected OLD- and NEW-spec partitions side by side")
      require(PartitionSnapshots.read(s, s"$base/t", asOf = 1L)
        .count() == seedCount,
        "q184: pre-evolution time travel must still resolve the seed")
    } + "/t"
    Upsert.read(s, path)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_nationkey").cast("int").as("c_nationkey"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  private val Q185Wh = "/tmp/graft_q185_wh"
  // The oracle reads the warehouse at a fixed path: it is built once per
  // JVM in a staged dir, then replaces whatever an earlier run (perhaps
  // of an older build) left there, so no run serves a stale layout.
  private def ensureQ185Warehouse(s: SparkSession, dir: String): String = {
    stagedOnce("q185", dir) { stage =>
      val wh = s"$stage/wh"
      // one table per layout: flat, unpartitioned manifested, partitioned
      t(s, dir, "region").write.parquet(s"$wh/region") // flat
      Upsert.upsert(s, s"$wh/nation", t(s, dir, "nation"),
        Seq("n_nationkey")) // one implicit partition: slots + pointer at the root
      // manifested, with a FILE-SCOPED history: range-disjoint seed
      // files, then a narrow-band merge → survivor file tokens in the
      // state the foreign resolver must honor
      val cust = t(s, dir, "customer").where(col("c_custkey") <= 200)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.append(s, s"$wh/cust",
        cust.repartitionByRange(3, col("c_custkey")), Seq("c_mktsegment"))
      val delta = t(s, dir, "customer")
        .where(col("c_custkey").between(40, 60))
        .select(col("c_custkey"),
          (col("c_acctbal") + lit(75.0)).as("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$wh/cust", delta, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      new graft.sources.Catalog(s, wh).writeCatalogManifest()
      // retire the old dir into the stage (deleted on exit), then
      // publish; a lost race leaves another JVM's fresh build in place
      val live = new java.io.File(Q185Wh)
      if (live.exists() && !live.renameTo(new java.io.File(s"$stage/old")) &&
          live.exists())
        throw new IllegalStateException(
          s"q185: could not retire the old warehouse $Q185Wh")
      if (!new java.io.File(wh).renameTo(live) && !live.isDirectory)
        throw new IllegalStateException(
          s"q185: could not publish staged warehouse $wh -> $Q185Wh " +
            "— check parent dir and permissions")
    }
    Q185Wh
  }

  /** EXTERNAL CATALOG MANIFEST ([[graft.sources.Catalog
    * .writeCatalogManifest]] — the engine-external enumeration point,
    * Iceberg's catalog file reduced to one `_catalog` manifest): the
    * staged warehouse holds one table per layout (flat parquet, an
    * unpartitioned manifested table whose root-level slot pointer the
    * oracle follows, per-partition manifests with a file-scoped state),
    * and BOTH sides enumerate and resolve it from
    * the catalog file alone — the Spark side through
    * [[graft.sources.Catalog.tablesFromManifest]]/`readFromManifest`
    * (zero directory listing), the DuckDB oracle in pure SQL: read_text
    * the catalog, then per recorded kind walk the snapshot pointer or
    * the root-manifest delta chain, honoring the FULL state grammar
    * ('&'-joined parts, file-scoped survivor tokens). Extends q169's
    * storage portability from one table to catalog level: a fresh
    * foreign session needs only the warehouse path. */
  def q185CatalogManifest(s: SparkSession, dir: String): DataFrame = {
    val wh = ensureQ185Warehouse(s, dir)
    val cat = new graft.sources.Catalog(s, wh)
    val rows = cat.tablesFromManifest().map { case (n, _, _) =>
      (n, cat.readFromManifest(n).count())
    }
    val state = graft.sources.PartitionSnapshots
      .rootManifest(s, s"$wh/cust").get
    require(state.values.exists(_.contains("/")),
      "q185: expected a file-scoped survivor token in cust's state")
    import s.implicits._
    rows.toDF("name", "n_rows")
  }

  /** FILE-SCOPED MERGE ON A STRING KEY (q183's mechanism over the
    * reference's actual key scheme — unique string surrogate IDs):
    * the seed fast-appends four files per partition range-disjoint in
    * `c_name`, and a keyed MERGE of a narrow NAME band rewrites only
    * the files whose string footer bounds intersect it — parquet
    * string stats are exact-or-widened, and pure-ASCII bounds compare
    * byte-identically in the engine, the footer, and the oracle. The
    * builder REQUIRES survivor tokens (a silent whole-partition
    * fallback fails the query); the oracle replays the merge over the
    * immutable source. */
  def q187StringKeyMerge(s: SparkSession, dir: String): DataFrame = {
    val path = stagedOnce("pfsname", dir) { base =>
      val seed = t(s, dir, "customer").where(col("c_custkey") <= 600)
        .select(col("c_name"), col("c_acctbal"), col("c_mktsegment"))
        .repartitionByRange(4, col("c_name"))
      Upsert.append(s, s"$base/t", seed, Seq("c_mktsegment"))
    } + "/t"
    val delta = t(s, dir, "customer")
      .where(col("c_custkey").between(50, 70))
      .select(col("c_name"),
        (col("c_acctbal") + lit(100.0)).as("c_acctbal"), col("c_mktsegment"))
    Upsert.upsert(s, path, delta, Seq("c_name"),
      partitionCols = Seq("c_mktsegment"))
    val state = graft.sources.PartitionSnapshots.rootManifest(s, path).get
    require(state.values.exists(_.contains("/")),
      "q187: string-keyed file-scoped MERGE left no survivor tokens — " +
        "whole-partition fallback engaged unexpectedly")
    Upsert.read(s, path)
      .select(col("c_name").cast("string").as("c_name"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** SQL `MERGE INTO` STATEMENT SURFACE ([[graft.sources.Catalog.sql]]
    * routing a parsed
    * [[org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable]] to
    * [[graft.operators.Upsert.upsert]]): the reference phrases EVERY
    * write as MERGE text — `MERGE INTO t USING global_temp.v s ON
    * t.K = s.K WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
    * INSERT *` (gcs_bronze_to_silver.py:469-476, 12 more in
    * gcs_silver_to_gold.py:329-541) — so a user porting those jobs
    * verbatim hits this entry point on day one. The statement here is
    * the reference's own shape (modulo table names): the target is a
    * MANIFESTED partitioned table, the USING side a global temp view,
    * and the routed merge lands through the manifested commit path
    * (partition manifests + per-file sidecars), exactly as the API
    * call would. The oracle replays MERGE semantics over the immutable
    * source. Re-running the same statement is idempotent — same
    * source, same keys, same document-replace result. */
  def q188MergeSql(s: SparkSession, dir: String): DataFrame = {
    val wh = stagedOnce("pmsql", dir) { base =>
      val cust = t(s, dir, "customer").where(col("c_custkey") <= 500)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/articles", cust, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
    }
    t(s, dir, "customer")
      .where(col("c_custkey").between(100, 150) ||
        col("c_custkey").between(501, 550))
      .select(col("c_custkey"),
        (col("c_acctbal") + lit(200.0)).as("c_acctbal"), col("c_mktsegment"))
      .createOrReplaceGlobalTempView("graft_q188_delta")
    val cat = new graft.sources.Catalog(s, wh)
    cat.sql(
      """MERGE INTO articles t
        |USING global_temp.graft_q188_delta s
        |ON t.c_custkey = s.c_custkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** HIDDEN BUCKET PARTITIONING
    * ([[graft.sources.PartitionSnapshots.evolvePartitionSpec]] with a
    * `bucket(16, c_custkey)` entry — Iceberg's hidden partitioning, the
    * skew tool for 100 TB): the derived dir column is computed by the
    * WRITER (xxhash64 mod 16) and stripped from every read; the caller
    * never names it in data. The table seeds under `(c_mktsegment)`,
    * evolves to `(c_mktsegment, bucket(16, c_custkey))`, bulk-loads
    * post-evolution (all rows land in bucket dirs), and then a
    * POINT-KEY MERGE must touch exactly ONE bucket dir — the builder
    * REQUIRES `changedPartitions` between the two roots to be a single
    * bucket rel, which is the whole point: a hot-key update into a
    * 100 TB fact rewrites 1/16th of one segment, not the segment. The
    * oracle replays full merge semantics over the immutable source —
    * bucketing changes write amplification, never the answer. */
  def q189HiddenBucket(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.PartitionSnapshots
    val path = stagedOnce("pbkthid", dir) { base =>
      val cust = t(s, dir, "customer").where(col("c_custkey") <= 400)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", cust.where(col("c_custkey") <= 5),
        Seq("c_custkey"), partitionCols = Seq("c_mktsegment"))
      PartitionSnapshots.evolvePartitionSpec(s, s"$base/t",
        Seq("c_mktsegment", "bucket(16, c_custkey)"))
      Upsert.upsert(s, s"$base/t", cust.where(col("c_custkey") > 5),
        Seq("c_custkey"),
        partitionCols = PartitionSnapshots.partitionCols(s, s"$base/t"))
    } + "/t"
    val delta = t(s, dir, "customer").where(col("c_custkey") === 100)
      .select(col("c_custkey"),
        (col("c_acctbal") + lit(300.0)).as("c_acctbal"), col("c_mktsegment"))
    val before = PartitionSnapshots.currentRootVersion(s, path).get
    Upsert.upsert(s, path, delta, Seq("c_custkey"),
      partitionCols = PartitionSnapshots.partitionCols(s, path))
    val after = PartitionSnapshots.currentRootVersion(s, path).get
    val changed = PartitionSnapshots.changedPartitions(s, path, before, after)
    require(changed.size == 1 && changed.head.contains("c_custkey__bucket16="),
      s"q189: point-key MERGE must touch exactly ONE bucket dir, got " +
        s"$changed")
    Upsert.read(s, path)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** POSITIONAL DELETE ([[graft.sources.PartitionSnapshots
    * .deletePositions]] — Iceberg v2's position deletes, the second
    * merge-on-read delete flavor beside q170's equality deletes): the
    * seed fast-appends as range-disjoint files, row handles come from
    * [[graft.sources.PartitionSnapshots.readWithRowPos]] (file +
    * in-file ordinal via parquet `_metadata`), and the commit removes
    * the 20–40 key band WITHOUT rewriting any data file — reads apply
    * one broadcast anti-join on (file name, ordinal). The builder
    * REQUIRES a `+p` ref in the committed state; the oracle replays the
    * delete as a plain predicate over the immutable source — the
    * delete's physical encoding never changes the answer. Where an
    * equality delete costs O(keys) per read, the positional file is the
    * cheaper read path for large enumerable doomed sets. */
  def q190PositionalDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.PartitionSnapshots
    val path = stagedOnce("pposdel", dir) { base =>
      val seed = t(s, dir, "customer").where(col("c_custkey") <= 300)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        .repartitionByRange(4, col("c_custkey"))
      Upsert.append(s, s"$base/t", seed, Seq("c_mktsegment"))
      val doomed = PartitionSnapshots.readWithRowPos(s, s"$base/t")
        .where(col("c_custkey").between(20, 40))
        .select(col("_pos_path"), col("_pos_ordinal"))
      require(PartitionSnapshots.deletePositions(s, s"$base/t", doomed),
        "q190: positional delete committed nothing")
    } + "/t"
    val state = graft.sources.PartitionSnapshots.rootManifest(s, path).get
    require(state.values.exists(_.contains("+p")),
      "q190: expected a positional delete ref in the committed state")
    Upsert.read(s, path)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** ROW-LEVEL SQL BEYOND THE REFERENCE'S TWO MERGE SHAPES
    * ([[graft.sources.Catalog.sql]]'s general routing — the Iceberg-user
    * surface the reference's own runtime accepts,
    * /root/reference/Dockerfile:19-21): ONE statement with a
    * conditional DELETE clause, a fall-through UPDATE clause, and a
    * conditional INSERT clause — first-match-wins per row — followed by
    * a standalone `DELETE FROM t WHERE k IN (…)` (the GDPR-erasure
    * shape). The whole MERGE commits as ONE atomic snapshot
    * ([[graft.sources.PartitionSnapshots.replaceRows]]): updated and
    * deleted rows retire as positional refs, replacements and inserts
    * append, one root swap — merge-on-read, O(affected), no file
    * rewritten; the IN-list delete routes to
    * [[graft.sources.PartitionSnapshots.deleteKeys]] without scanning a
    * row outside its stats-pruned lookup. The oracle replays the full
    * clause semantics over the immutable source — the commit plumbing
    * never changes the answer. Re-running both statements is
    * idempotent. */
  def q191ConditionalMergeSql(s: SparkSession, dir: String): DataFrame = {
    val wh = stagedOnce("pcmsql", dir) { base =>
      val cust = t(s, dir, "customer").where(col("c_custkey") <= 500)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", cust, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
    }
    t(s, dir, "customer").where(col("c_custkey").between(100, 160))
      .select(col("c_custkey"),
        (col("c_acctbal") - lit(2000.0)).as("c_acctbal"), col("c_mktsegment"))
      .unionByName(t(s, dir, "customer")
        .where(col("c_custkey").between(501, 540))
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment")))
      .createOrReplaceGlobalTempView("graft_q191_src")
    val cat = new graft.sources.Catalog(s, wh)
    cat.sql(
      """MERGE INTO t t
        |USING global_temp.graft_q191_src s
        |ON t.c_custkey = s.c_custkey
        |WHEN MATCHED AND s.c_acctbal < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED AND s.c_acctbal > 1000 THEN INSERT *""".stripMargin)
    cat.sql("DELETE FROM t WHERE c_custkey IN (7, 11, 13)")
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** ORPHAN-FILE SWEEP ([[graft.sources.PartitionSnapshots
    * .removeOrphans]] — Iceberg's `remove_orphan_files`): a writer that
    * crashes between STAGING and COMMIT leaks never-referenced version
    * dirs and tmp files forever (commit-path retention only runs for
    * partitions later commits touch). The builder stages a manifested
    * table, INJECTS a crashed writer's debris — a sealed-but-unrooted
    * version slot, an abandoned `_staging-*` root, root-chain staging
    * litter — then sweeps and REQUIRES exactly that debris gone. The
    * oracle confirms the one thing a storage-reclamation op must
    * guarantee: table content is byte-identical to the immutable
    * source's replay — a sweep that ever changed an answer would be a
    * data-loss bug, not maintenance. */
  def q192OrphanSweep(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.PartitionSnapshots
    val path = stagedOnce("porphan", dir) { base =>
      val seed = t(s, dir, "customer").where(col("c_custkey") <= 300)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", seed, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      // a crashed writer's never-referenced debris, aged past the TTL
      val tp = s"$base/t"
      val fs = new org.apache.hadoop.fs.Path(tp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val orphanSlot = s"$tp/c_mktsegment=BUILDING/_versions/v00000099"
      seed.limit(3).coalesce(1).write.parquet(orphanSlot)
      fs.create(new org.apache.hadoop.fs.Path(s"$orphanSlot/_SUCCESS"),
        true).close()
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$tp/_staging-crashed"))
      val old = System.currentTimeMillis() - 48L * 3600 * 1000
      Seq(orphanSlot, s"$tp/_staging-crashed").foreach(p =>
        fs.setTimes(new org.apache.hadoop.fs.Path(p), old, -1))
      val swept = PartitionSnapshots.removeOrphans(s, tp)
      require(swept.size == 2 && swept.exists(_.contains("v00000099")),
        s"q192: sweep must remove exactly the injected debris, got $swept")
      require(!fs.exists(new org.apache.hadoop.fs.Path(orphanSlot)),
        "q192: orphan slot survived the sweep")
    } + "/t"
    // idempotent: re-sweeping a clean table removes nothing
    require(PartitionSnapshots.removeOrphans(s, path).isEmpty,
      "q192: re-sweep of a clean table must be empty")
    Upsert.read(s, path)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** STANDALONE SQL `UPDATE` ([[graft.sources.Catalog.sql]] routing a
    * parsed UpdateTable — the last refused row-level statement): `UPDATE
    * t SET c = <expr of other columns> WHERE <pred>` commits as ONE
    * positional delete of the affected rows plus ONE fast-append of
    * their transformed replacements — O(affected) merge-on-read, no
    * file outside the predicate rewritten, assignments evaluated
    * against the pre-update snapshot. The statement runs inside the
    * staged-once block (UPDATE is not idempotent — `bal = bal + 50`
    * twice is +100); the oracle replays the assignment declaratively
    * over the immutable source. */
  def q193UpdateSql(s: SparkSession, dir: String): DataFrame = {
    val wh = stagedOnce("pupsql", dir) { base =>
      val seed = t(s, dir, "customer").where(col("c_custkey") <= 400)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", seed, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      val cat = new graft.sources.Catalog(s, base)
      cat.sql(
        """UPDATE t
          |SET c_acctbal = c_acctbal + 50.0
          |WHERE c_custkey <= 120""".stripMargin)
      // the affected rows committed merge-on-read: a positional ref in
      // the state, not a whole-partition rewrite
      val state = graft.sources.PartitionSnapshots
        .rootManifest(s, s"$base/t").get
      require(state.values.exists(_.matches(""".*[+,]p\d+.*""")),
        "q193: expected a positional-delete ref after UPDATE")
    }
    Upsert.read(s, s"$wh/t")
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** ASSIGNMENT-LIST MERGE + `WHEN NOT MATCHED BY SOURCE` — the two
    * Iceberg-user MERGE shapes beyond star actions (round-12 verdict
    * ask; the reference's own runtime accepts both,
    * /root/reference/Dockerfile:19-21): `UPDATE SET col = expr` touches
    * ONLY the assigned column (values read both sides through the
    * statement aliases), `INSERT (cols) VALUES (exprs)` NULL-fills the
    * omitted columns, and BY SOURCE clauses — the sync-job idiom —
    * update or delete target rows the source no longer carries. All
    * five clauses of the statement land as ONE atomic commit
    * ([[graft.sources.Catalog]] runGeneralMerge →
    * [[graft.sources.PartitionSnapshots.replaceRows]]): every
    * updated/deleted row is a positional delete ref, every
    * replacement/insert an appended part, one root swap — a crash can
    * only leave the pre-merge snapshot. The oracle replays the clause
    * algebra declaratively over the immutable source. */
  def q194MergeAssignSql(s: SparkSession, dir: String): DataFrame = {
    val wh = stagedOnce("pmasql", dir) { base =>
      val seed = t(s, dir, "customer").where(col("c_custkey") <= 500)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", seed, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      t(s, dir, "customer").where(col("c_custkey").between(200, 260))
        .select(col("c_custkey"),
          when(col("c_custkey") % 3 === 0, lit(-100.0)).otherwise(lit(50.0))
            .as("delta"),
          col("c_mktsegment").as("seg"))
        .unionByName(t(s, dir, "customer")
          .where(col("c_custkey").between(501, 530))
          .select(col("c_custkey"), col("c_acctbal").as("delta"),
            col("c_mktsegment").as("seg")))
        .createOrReplaceGlobalTempView("graft_q194_src")
      val cat = new graft.sources.Catalog(s, base)
      val pre = graft.sources.PartitionSnapshots
        .currentRootVersion(s, s"$base/t").get
      cat.sql(
        """MERGE INTO t t
          |USING global_temp.graft_q194_src s
          |ON t.c_custkey = s.c_custkey
          |WHEN MATCHED AND s.delta < 0
          |  THEN UPDATE SET c_acctbal = t.c_acctbal - s.delta
          |WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal + s.delta
          |WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal, c_mktsegment)
          |  VALUES (s.c_custkey, s.delta, s.seg)
          |WHEN NOT MATCHED BY SOURCE AND t.c_custkey BETWEEN 490 AND 500
          |  THEN DELETE
          |WHEN NOT MATCHED BY SOURCE AND t.c_custkey < 5
          |  THEN UPDATE SET c_acctbal = 0.0""".stripMargin)
      require(graft.sources.PartitionSnapshots
        .currentRootVersion(s, s"$base/t").get == pre + 1,
        "q194: the five-clause MERGE must be ONE atomic commit")
    }
    Upsert.read(s, s"$wh/t")
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** SQL TIME TRAVEL ([[graft.sources.Catalog.sql]] routing `FROM t
    * VERSION AS OF <v|'tag'>` / `TIMESTAMP AS OF ts` — an Iceberg user's
    * first debugging query, as text; round-12 verdict ask): the builder
    * stages two commits, tags the first, and the QUERY ITSELF is a
    * current-vs-pinned self-join in one statement — per key, the balance
    * delta the second commit applied, read through the tag. Post-pin
    * commits are invisible to the pinned side by construction: inserted
    * keys drop out of the inner join, updated keys show exactly the
    * applied delta. An expired version is REQUIRED (in-builder) to fail
    * loudly rather than silently serving current data. The oracle
    * replays the delta declaratively over the immutable source. */
  def q195TimeTravelSql(s: SparkSession, dir: String): DataFrame = {
    val wh = stagedOnce("pttsql", dir) { base =>
      val seed = t(s, dir, "customer").where(col("c_custkey") <= 300)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", seed, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      val v1 = graft.sources.PartitionSnapshots
        .currentRootVersion(s, s"$base/t").get
      graft.sources.PartitionSnapshots.tagRoot(s, s"$base/t", "q195tag", v1)
      val upd = t(s, dir, "customer")
        .where(col("c_custkey") <= 300 && col("c_custkey") % 7 === 0)
        .select(col("c_custkey"),
          (col("c_acctbal") + lit(500.0)).as("c_acctbal"), col("c_mktsegment"))
        .unionByName(t(s, dir, "customer")
          .where(col("c_custkey").between(301, 320))
          .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment")))
      Upsert.upsert(s, s"$base/t", upd, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      // an expired/unknown version must refuse loudly, never fall back
      val cat = new graft.sources.Catalog(s, base)
      val loud = try { cat.sql("SELECT * FROM t VERSION AS OF 99999"); false }
        catch { case _: IllegalArgumentException => true }
      require(loud, "q195: expired version must fail loudly")
    }
    val cat = new graft.sources.Catalog(s, wh)
    cat.sql(
      """SELECT cur.c_custkey,
        |       cur.c_acctbal - old.c_acctbal AS dv,
        |       CAST(old.c_mktsegment AS STRING) AS c_mktsegment
        |FROM t cur JOIN t VERSION AS OF 'q195tag' old
        |  ON cur.c_custkey = old.c_custkey""".stripMargin)
  }

  /** NON-ADDITIVE SCHEMA EVOLUTION ([[graft.sources.PartitionSnapshots
    * .renameColumn]] — Iceberg's rename without field ids; round-12
    * verdict ask): the builder renames BOTH the value column and the
    * MERGE KEY mid-history (each one metadata-only root commit, zero
    * data files touched), then lands a keyed MERGE under the new names
    * — the stats-pruned planner finds the old files' bounds through the
    * field's recorded aliases, and reads COALESCE the alias column into
    * the current name. In-builder requires pin that time travel to the
    * pre-rename root still resolves the OLD names (the mapping is
    * per-version: each era's pinned schema carries its own). The oracle
    * replays the rename + merge declaratively: physical naming never
    * changes the answer. */
  def q196SchemaEvolutionSql(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.PartitionSnapshots
    val wh = stagedOnce("pschevo", dir) { base =>
      val t = s"$base/t"
      val seed = Queries.t(s, dir, "customer").where(col("c_custkey") <= 400)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, t, seed, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      val pre = PartitionSnapshots.currentRootVersion(s, t).get
      PartitionSnapshots.renameColumn(s, t, "c_acctbal", "balance")
      PartitionSnapshots.renameColumn(s, t, "c_custkey", "cust_id")
      // MERGE keyed on the RENAMED key, values under the renamed name
      val upd = Queries.t(s, dir, "customer")
        .where(col("c_custkey").between(50, 80))
        .select(col("c_custkey").as("cust_id"),
          (col("c_acctbal") + lit(100.0)).as("balance"), col("c_mktsegment"))
      Upsert.upsert(s, t, upd, Seq("cust_id"),
        partitionCols = Seq("c_mktsegment"))
      // time travel BEFORE the renames resolves that era's own names
      val old = PartitionSnapshots.read(s, t, asOf = pre)
      require(old.columns.contains("c_acctbal") &&
        old.columns.contains("c_custkey") && !old.columns.contains("balance"),
        s"q196: pre-rename root must serve the old names, got " +
          old.columns.mkString(", "))
    }
    Upsert.read(s, s"$wh/t")
      .select(col("cust_id"), col("balance"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** SQL-ONLY TABLE LIFECYCLE ([[graft.sources.Catalog.sql]] round-13
    * surface): an entire session as statements — `CREATE TABLE …
    * PARTITIONED BY` (born MANIFESTED: fast-appends, row-level SQL and
    * maintenance work from commit one), `INSERT INTO … SELECT`
    * (fast-append), `ALTER TABLE RENAME COLUMN` (metadata-only, alias
    * mapping), `UPDATE` under the renamed name (atomic positional
    * replace), `DELETE FROM` (equality route), `ALTER TABLE ADD COLUMN`
    * (metadata-only NULL fill). The oracle replays the whole session
    * declaratively over the immutable source: six commits of plumbing,
    * zero answer drift. */
  def q197SqlSession(s: SparkSession, dir: String): DataFrame = {
    val wh = stagedOnce("psqlsess", dir) { base =>
      t(s, dir, "customer").createOrReplaceGlobalTempView("graft_q197_cust")
      val cat = new graft.sources.Catalog(s, base)
      cat.sql(
        """CREATE TABLE t (c_custkey BIGINT, c_acctbal DOUBLE)
          |PARTITIONED BY (c_mktsegment STRING)""".stripMargin)
      require(graft.sources.PartitionSnapshots.isManifested(s, s"$base/t"),
        "q197: a PARTITIONED create must be born manifested")
      cat.sql(
        """INSERT INTO t
          |SELECT c_custkey, c_acctbal, c_mktsegment
          |FROM global_temp.graft_q197_cust WHERE c_custkey <= 300""".stripMargin)
      cat.sql("ALTER TABLE t RENAME COLUMN c_acctbal TO balance")
      cat.sql("UPDATE t SET balance = balance * 2 WHERE c_custkey <= 50")
      cat.sql("DELETE FROM t WHERE c_custkey BETWEEN 290 AND 300")
      cat.sql("ALTER TABLE t ADD COLUMN note STRING")
    }
    new graft.sources.Catalog(s, wh).sql(
      """SELECT c_custkey, balance, note,
        |       CAST(c_mktsegment AS STRING) AS c_mktsegment
        |FROM t""".stripMargin)
  }

  /** SQL `INSERT OVERWRITE` — DYNAMIC partition overwrite in ONE commit
    * (Iceberg's semantics; [[graft.sources.PartitionSnapshots
    * .overwritePartitions]] behind [[graft.sources.Catalog.sql]]): the
    * statement's output partitions are REPLACED by fresh version parts
    * in a single root swap, untouched partitions keep their states
    * byte-for-byte, and prior roots keep time travel. The builder
    * overwrites ONE segment with recomputed balances and REQUIRES one
    * commit + untouched sibling states; the oracle replays the
    * overwrite declaratively. */
  def q198InsertOverwrite(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.PartitionSnapshots
    val wh = stagedOnce("pinsovr", dir) { base =>
      val tb = s"$base/t"
      val seed = t(s, dir, "customer").where(col("c_custkey") <= 400)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, tb, seed, Seq("c_custkey"),
        partitionCols = Seq("c_mktsegment"))
      val pre = PartitionSnapshots.currentRootVersion(s, tb).get
      val preState = PartitionSnapshots.rootManifest(s, tb).get
      t(s, dir, "customer")
        .where(col("c_custkey") <= 400 && col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), (col("c_acctbal") + lit(1000.0))
          .as("c_acctbal"), col("c_mktsegment"))
        .createOrReplaceGlobalTempView("graft_q198_src")
      val cat = new graft.sources.Catalog(s, base)
      cat.sql(
        """INSERT OVERWRITE t
          |SELECT c_custkey, c_acctbal, c_mktsegment
          |FROM global_temp.graft_q198_src""".stripMargin)
      require(PartitionSnapshots.currentRootVersion(s, tb).get == pre + 1,
        "q198: the overwrite must be ONE commit")
      val post = PartitionSnapshots.rootManifest(s, tb).get
      val untouched = preState.keySet - "c_mktsegment=BUILDING"
      require(untouched.forall(rel => post(rel) == preState(rel)),
        "q198: untouched partitions' states must be byte-identical")
      require(post("c_mktsegment=BUILDING") != preState("c_mktsegment=BUILDING"),
        "q198: the overwritten partition's state must have swapped")
    }
    Upsert.read(s, s"$wh/t")
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** SQL `CALL` MAINTENANCE PROCEDURES ([[graft.sources.Catalog.sql]]
    * routing Iceberg's `CALL catalog.system.<proc>` surface onto the
    * ops APIs): the builder fragments a manifested table with three
    * fast-appends, runs a CALL-driven compaction
    * (`rewrite_data_files`), and REQUIRES the file count to drop while
    * every row survives; a dry-run `remove_orphan_files` over the
    * healthy table must report nothing. The oracle replays row
    * preservation declaratively — maintenance is plumbing that never
    * changes the answer. */
  def q199CallMaintenance(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.PartitionSnapshots
    val wh = stagedOnce("pcallmaint", dir) { base =>
      val tb = s"$base/t"
      // SF-independent fragmentation: seed one key-residue class, then
      // three fast-appends of the others — every partition ends with
      // several small files whatever the scale factor
      val rows = t(s, dir, "customer").where(col("c_custkey") <= 390)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, tb, rows.where(col("c_custkey") % 4 === 0),
        Seq("c_custkey"), partitionCols = Seq("c_mktsegment"))
      for (i <- 1 to 3)
        Upsert.append(s, tb, rows.where(col("c_custkey") % 4 === i),
          Seq("c_mktsegment"))
      val cat = new graft.sources.Catalog(s, base)
      val preFiles = PartitionSnapshots.filesMeta(s, tb).count()
      val report = cat.sql(
        "CALL graft.system.rewrite_data_files(table => 't', min_files => 2)")
      require(report.count() > 0,
        "q199: compaction must report rewritten partitions")
      val postFiles = PartitionSnapshots.filesMeta(s, tb).count()
      require(postFiles < preFiles,
        s"q199: compaction must drop the file count ($preFiles -> $postFiles)")
      require(cat.sql(
        "CALL system.remove_orphan_files(table => 't', dry_run => true)")
        .isEmpty, "q199: a healthy table has no orphans to sweep")
    }
    Upsert.read(s, s"$wh/t")
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** INSPECTION TABLES AS SQL ([[graft.sources.Catalog.sql]] routing
    * `FROM <t>.partitions/.files/.snapshots/.refs` onto the metadata
    * frames): the builder stages a manifested table and asks the
    * PARTITIONS inspection table for per-partition manifest row counts
    * — METADATA-ONLY, no data file opened — while the oracle recomputes
    * the same counts declaratively from the source. The engine's
    * manifest bookkeeping must agree with a full recount, exactly. */
  def q200InspectionSql(s: SparkSession, dir: String): DataFrame = {
    val wh = stagedOnce("pinspect", dir) { base =>
      Upsert.upsert(s, s"$base/t",
        t(s, dir, "customer").where(col("c_custkey") <= 400)
          .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment")),
        Seq("c_custkey"), partitionCols = Seq("c_mktsegment"))
    }
    new graft.sources.Catalog(s, wh).sql(
      """SELECT p.partition AS partition, p.row_count AS row_count
        |FROM t.partitions p ORDER BY partition""".stripMargin)
  }

  /** §2.7 Misc family's FILE-LINEAGE shape as an oracle row (round-14
    * verdict ask 6): the reference derives each record's TOPIC from the
    * GCS object path it was read from (input_file_name + regexp,
    * gcs_bronze_to_silver.py:216-237; the engine's port is
    * BronzeToSilver.scala:28) — here the same derivation runs over the
    * events parquet and aggregates per derived topic, so the
    * input_file_name → regexp_extract → groupBy pipeline is pinned by
    * the DuckDB replay (which knows the expected topic statically). */
  def q201FileLineage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, input_file_name, regexp_extract}
    t(s, dir, "events")
      .select(regexp_extract(input_file_name(),
        "([a-z]+)\\.parquet", 1).as("topic"))
      .groupBy("topic").agg(count("*").as("n"))
  }

  /** P5 parse-success filter as an oracle row: a raw string column with
    * a KNOWN invalid tail (days 32..40 of a synthetic date) runs the
    * bronze layer's parse-then-drop discipline — try_to_timestamp keeps
    * exactly the parseable rows (ANSI-safe; a naked cast would throw),
    * the count per language replays in DuckDB via try_strptime. */
  def q202ParseFilter(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, count, lit, lpad, try_to_timestamp}
    t(s, dir, "documents")
      .withColumn("raw_day",
        concat(lit("2024-01-"),
          lpad((col("doc_id") % 40 + 1).cast("string"), 2, "0")))
      .where(try_to_timestamp(col("raw_day"), lit("yyyy-MM-dd")).isNotNull)
      .groupBy("lang").agg(count("*").as("n_ok"))
  }

  /** A3 count action + A4 isEmpty probe as an oracle row: both are
    * driver-side ACTIONS in the reference (merge guards,
    * gcs_silver_to_gold.py empty-source checks), so the row materializes
    * their results — a filtered count and two existence probes — into
    * one declaratively-replayable record. */
  def q203CountExists(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val nHigh = t(s, dir, "orders")
      .where(col("o_totalprice") > 100000.0).count()
    val hasQ50 = !t(s, dir, "lineitem")
      .where(col("l_quantity") >= 50.0).isEmpty
    val hasNegative = !t(s, dir, "lineitem")
      .where(col("l_quantity") < 0.0).isEmpty
    Seq((nHigh, hasQ50, hasNegative))
      .toDF("n_high", "has_q50", "has_negative")
  }

  /** FUZZY-JOIN RECALL EVALUATION under the hot-bucket guard — retires
    * the q66 caveat with MEASUREMENT (round-9 verdict ask): a 36-member
    * near-identical family ("PLANTEDNAME" + one tail character; every
    * intra-family pair is a last-character substitution, so the ONLY
    * deletion variant each pair shares is the 36-hot "PLANTEDNAME") is
    * planted next to real customer names, and
    * [[graft.operators.FuzzyJoin.selfJoinEdit1]] runs with
    * `maxBucketSize = 30`. The documented contract — "a pair is lost
    * only if EVERY variant it shares is hot" — is pinned as numbers:
    * recall INSIDE the planted family is exactly 0 (its pairs live only
    * in the capped bucket, and emitting that quadratic set is what the
    * guard exists to refuse), recall OUTSIDE is exactly 1 (real-name
    * buckets stay under the cap, nothing else is touched). The oracle
    * replays both the quadratic levenshtein truth AND the
    * variant/hot-bucket pipeline in SQL. */
  def q186FuzzyRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val real = t(s, dir, "customer").where(col("c_custkey") <= 120)
      .select(col("c_custkey").cast("long").as("id"), col("c_name").as("k"))
    val tails = (('0' to '9') ++ ('a' to 'z')).map(_.toString)
    val planted = tails.zipWithIndex
      .map { case (c, i) => (1000000L + i, s"PLANTEDNAME$c") }
      .toDF("id", "k")
    val names = real.unionByName(planted)
    val pred = graft.operators.FuzzyJoin
      .selfJoinEdit1(names, "id", "k", maxBucketSize = 30)
      .select("id1", "id2")
    val truth = names.as("a").join(names.as("b"), col("a.id") < col("b.id"))
      .where(levenshtein(col("a.k"), col("b.k")) <= 1)
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
    def inFamily(side: String) = col(side) >= 1000000L
    val marked = truth
      .withColumn("fam", inFamily("id1") && inFamily("id2"))
      .join(pred.withColumn("hit", lit(1)), Seq("id1", "id2"), "left")
    marked.groupBy("fam").agg(
        count(lit(1)).as("n_truth"),
        count(col("hit")).as("n_hit"))
      .select(col("fam").as("in_family"), col("n_truth"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_truth")).as("recall"))
  }

  /** TIME-BASED SNAPSHOT EXPIRY
    * ([[graft.sources.PartitionSnapshots.expireRoots]] — Iceberg's
    * expire_snapshots): seed + append + overlapping merge build a
    * 3-root history, then `expireRoots(olderThanMs = 0, retain = 1)`
    * drops every root age allows (current + delta parents survive) and
    * reaps the data versions only expired roots named. The oracle is
    * the live state: expiry bounds TIME TRAVEL and storage, never the
    * current read — the invariant a daily maintenance job relies on. */
  def q181ExpireSnapshots(s: SparkSession, dir: String): DataFrame = {
    val path = stagedOnce("pexpq", dir) { base =>
      val cust = t(s, dir, "customer").where(col("c_custkey") <= 400)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", cust.where(col("c_custkey") <= 300),
        Seq("c_custkey"), partitionCols = Seq("c_mktsegment"))
      Upsert.append(s, s"$base/t",
        cust.where(col("c_custkey") > 300 && col("c_custkey") <= 350),
        Seq("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", cust.where(col("c_custkey") > 330),
        Seq("c_custkey"), partitionCols = Seq("c_mktsegment"))
      graft.sources.PartitionSnapshots.expireRoots(s, s"$base/t",
        olderThanMs = 0L, retainVersions = 1)
    } + "/t"
    Upsert.read(s, path)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** SORTED COMPACTION ([[graft.sources.PartitionSnapshots.compact]]
    * with `sortWithin` — Iceberg's rewrite_data_files with a sort
    * order): even and odd customer keys land as two interleaved parts
    * (each file spanning the whole key range, footer stats useless),
    * then the sorted rewrite range-partitions every partition on
    * c_custkey so each output file covers a disjoint key slice. Layout
    * only — the oracle pins that the rewrite preserved every row. */
  def q179SortedCompaction(s: SparkSession, dir: String): DataFrame = {
    val path = stagedOnce("psortq", dir) { base =>
      val cust = t(s, dir, "customer").where(col("c_custkey") <= 400)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.upsert(s, s"$base/t", cust.where(col("c_custkey") % 2 === 0),
        Seq("c_custkey"), partitionCols = Seq("c_mktsegment"))
      Upsert.append(s, s"$base/t", cust.where(col("c_custkey") % 2 === 1),
        Seq("c_mktsegment"))
      graft.sources.PartitionSnapshots.compact(s, s"$base/t",
        sortWithin = Seq("c_custkey"))
    } + "/t"
    Upsert.read(s, path)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment").cast("string").as("c_mktsegment"))
  }

  /** SNAPSHOT DRIFT between two root versions
    * ([[graft.operators.Profile.snapshotDrift]]) of q164's staged table:
    * the v1→v2 merge added 1000 to every third key's balance, so the
    * c_acctbal mean shifts well past the 5% tolerance and the monitor
    * flags it — the pre-promotion data-quality diff a daily snapshot
    * pipeline runs (complementing q166's absolute WAP rules with a
    * relative "valid but different" gate). Two manifest-resolved scans
    * of ONE projected column + a col_name join; both states replay in
    * the oracle. */
  def q172SnapshotDrift(s: SparkSession, dir: String): DataFrame = {
    q164RootTimeTravel(s, dir) // ensures the staged two-version history
    val path = stagedOnce("proot", dir)(_ => ()) + "/t"
    import graft.sources.PartitionSnapshots
    graft.operators.Profile.snapshotDrift(
      PartitionSnapshots.read(s, path, asOf = 1L),
      PartitionSnapshots.read(s, path, asOf = 2L),
      Seq("c_acctbal"), relTol = 0.05)
  }

  /** SemDeDup over the embedding corpus ([[Dedup.semanticDedup]],
    * arXiv:2303.09540): 16 seeded coarse cells (the q34/q157 quantizer),
    * drop a vector when a lower-id cell-mate has cosine ≥ 0.3 — the
    * threshold sits at the ~99th pairwise-cosine percentile of this
    * synthetic corpus, so kept/dropped splits meaningfully (real corpora
    * near-dup much higher; the threshold is the caller's knob). Pair work
    * never crosses cells — the paper's point, and why this survives
    * scales where q28's capped all-pairs can't. */
  def q161SemanticDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(t(s, dir, "embeddings"), threshold = 0.3, nlist = 16)

  /** Approximate triangle count via DOULION edge sparsification
    * ([[graft.operators.Graph.triangleEstimate]], KDD 2009) on q90's
    * co-purchase graph at p = 1/2: the sampled wedge join does ~a quarter
    * of q90's superlinear work while the estimate lands within ~1% of the
    * exact count at this SF (15504 vs 15413 at sf0.01) — the 100 TB path
    * q90's scaladoc promises. The hash-derived sample makes the "coin
    * flips" replayable in the oracle. */
  def q162TrianglesApprox(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"))
    val edges = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .withColumn("dst", lead(col("l_partkey"), 1).over(w))
      .where(col("dst").isNotNull && col("dst") =!= col("l_partkey"))
      .select(col("l_partkey").as("src"), col("dst"))
    graft.operators.Graph.triangleEstimate(edges, num = 1, den = 2)
  }

  private val HistQs = Seq(0.5, 0.9, 0.99)

  /** Bounded-memory approximate quantiles (P50/P90/P99 of document
    * length) interpolated from the q68 histogram — 20 bins of state vs
    * q41's holistic sort aggregate; error ≤ bin width
    * ([[graft.operators.Profile.histogramQuantiles]]). */
  def q83HistQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.histogramQuantiles(t(s, dir, "documents"),
      "n_chars", lo = 0.0, hi = 600.0, bins = 20, qs = HistQs)

  /** Segment-level exact dedup (10-token windows): every repeated window
    * keeps only its first corpus occurrence; docs reassemble from
    * surviving segments. The oracle groups by segment TEXT where the
    * engine groups by its 64-bit digest — identical semantics, but only
    * hashes shuffle engine-side. */
  def q56SegmentDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.segmentDedup(t(s, dir, "documents"), segTokens = 10)

  /** Decontamination: corpus docs sharing a 3-shingle with the "benchmark"
    * probe (docs 0-4), probe docs themselves excluded from the report. */
  def q57Contamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.contamination(docs.where(col("doc_id") >= 5),
      docs.where(col("doc_id") < 5))
  }

  private val ChecksumCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")

  /** Cross-engine table checksum (migration validation): DuckDB computes
    * the same Σ portableHash(row) on its side of the compare. */
  def q54Checksum(s: SparkSession, dir: String): DataFrame =
    graft.operators.Reconcile.checksum(t(s, dir, "orders"), ChecksumCols)

  /** Keyed table diff against a deterministically perturbed replica:
    * drop keys ≡0 (mod 97) [removed], flip status for ≡0 (mod 101)
    * [changed], append key+10⁹ clones for ≡0 (mod 103) [added]. */
  def q55TableDiff(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    val replica = orders
      .where(pmod(col("o_orderkey"), lit(97L)) =!= 0)
      .withColumn("o_orderstatus",
        when(pmod(col("o_orderkey"), lit(101L)) === 0, lit("X"))
          .otherwise(col("o_orderstatus")))
      .unionByName(orders.where(pmod(col("o_orderkey"), lit(103L)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L)))
    graft.operators.Reconcile.diff(orders, replica, Seq("o_orderkey"))
  }

  /** TF-IDF-style salient terms: top-3 tokens per document by
    * tf · (N+1)/(df+1). Log-free inverse-frequency weighting on purpose:
    * tf·(N+1) is exact integer arithmetic and the single double division
    * rounds once, so the score is bit-identical across engines (ln() is
    * libm-dependent and would break hash-compare); the ranking is the same
    * monotone order as the ln form for fixed doc. Plan shape: ONE corpus
    * scan → explode → tf agg → df as a count-window over tf keyed on tok
    * (an agg+self-join would re-scan and re-tokenize the corpus for the
    * df leg — the window reuses tf rows) → 1-row corpus count broadcast. */
  def q53TfIdf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tf = docs
      .select(col("doc_id"),
        explode(graft.text.TextAnalysis.tokens(lower(col("text")))).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy("tok")
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.withColumn("df", count(lit(1)).over(wTok))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        ((col("tf") * (col("n") + lit(1L))).cast("double") / (col("df") + lit(1L)))
          .as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= 3)
  }

  /** Embedding near-dup via sign-LSH buckets (the scale path q28's capped
    * brute force documents): candidates = bucket Hamming ≤ 1, verify =
    * exact quantized cosine. Unlike q28 this runs over the WHOLE corpus —
    * no id cap — because the candidate count is bounded by bucket geometry,
    * not corpus². */
  def q51CosineNearDupLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.cosineNearDupLsh(t(s, dir, "embeddings"), threshold = 0.3, planes = 8)
      .select(col("id1"), col("id2"), col("cos_sim"))

  // ---- oracle SQL ------------------------------------------------------

  /** Shared DuckDB fragments mirroring the Column builders above.
    * Tokenization mirrors TextAnalysis.tokens exactly: collapse \s+ to a
    * single space FIRST, then trim, then split on ' ' — DuckDB's trim
    * strips only spaces, so trimming before collapsing would leave an
    * empty token for text edged with tabs/newlines. */
  private val ToksSql =
    "string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')"
  private val ToksLowerSql =
    "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
  private def quantSql(src: String) =
    s"list_transform($src, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT))"

  /** TextAnalysis.portableHash of lambda variable `t`: md5 hex → decimal
    * digits → first 8 of zero-padded → BIGINT. */
  private val PortableHashSqlT =
    "CAST(substr(regexp_replace(md5(t), '[a-f]', '', 'g') || '00000000', 1, 8) AS BIGINT)"

  /** TextAnalysis.portableHash64 of lambda variable `t`: first 16 hex chars
    * of md5 as an unsigned 64-bit value. Kept unsigned (UBIGINT) through
    * the sketch algebra; [[signed64Sql]] reinterprets for output. */
  private val PortableHash64SqlT =
    "('0x' || substr(md5(t), 1, 16))::UBIGINT"

  /** 64-bit SimHash majority vote over `hs` (list of UBIGINT token
    * hashes): Σ over bits j of 2^j when more hashes have bit j set than
    * clear. Power-of-two literals, not `1 << j` — DuckDB range-checks
    * `1::UBIGINT << 63` as an overflow. */
  private lazy val SimHash64Sql: String =
    (0 until 64).map { j =>
      s"(CASE WHEN 2 * len(list_filter(hs, x -> ((x >> $j) & 1) = 1)) > len(hs) " +
        s"THEN ${(BigInt(1) << j).toString}::UBIGINT ELSE 0::UBIGINT END)"
    }.mkString(" + ")

  /** Two's-complement reinterpretation UBIGINT → BIGINT (Spark longs are
    * signed; the driver hashes rendered values, so widths must agree). */
  private def signed64Sql(u: String): String =
    s"CAST(CAST($u AS HUGEINT) - (CASE WHEN $u >= 9223372036854775808::UBIGINT " +
      s"THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END) AS BIGINT)"

  /** DuckDB mirror of Reconcile.rowDigest: portable hash of values joined
    * by chr(1) with chr(2)-marked NULLs — byte-identical input to md5 on
    * both engines. */
  private def digestSql(cols: Seq[String]): String = {
    val parts = cols
      .map(c => s"coalesce(CAST($c AS VARCHAR), chr(2) || 'NULL')").mkString(", ")
    s"CAST(substr(regexp_replace(md5(concat_ws(chr(1), $parts)), " +
      "'[a-f]', '', 'g') || '00000000', 1, 8) AS BIGINT)"
  }

  /** Shared WITH-body of the MinHash oracles: documents → whitespace
    * tokens → distinct 3-shingles → portable hashes → 16 affine min-hash
    * signature columns (CTEs toks, sh, hs, sig). */
  private lazy val minHashSigCtes: String = {
    import graft.functions.MinHashSignatureExpr.{coeffA, coeffB, Prime}
    val shingleSql =
      """list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 2, 1)),
        |    i -> CASE WHEN len(tk) >= 3
        |              THEN tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |              ELSE array_to_string(tk, ' ') END))""".stripMargin
    val sigCols = (0 until 16).map { i =>
      s"list_min(list_transform(hs, h -> (h * ${coeffA(i)} + ${coeffB(i)}) % $Prime)) AS s$i"
    }.mkString(",\n    ")
    s"""toks AS (
       |  SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS tk FROM documents),
       |sh AS (SELECT doc_id, $shingleSql AS sh FROM toks),
       |hs AS (SELECT doc_id, sh,
       |         list_transform(sh, t -> $PortableHashSqlT) AS hs FROM sh),
       |sig AS (SELECT doc_id, sh,
       |    $sigCols
       |  FROM hs)""".stripMargin
  }

  /** "any band (4 rows of the signature) fully equal" LSH candidate
    * condition between sig aliases a and b. */
  private lazy val minHashBandEq: String =
    (0 until 4).map { b =>
      (0 until 4).map(r => s"a.s${b * 4 + r} = b.s${b * 4 + r}").mkString("(", " AND ", ")")
    }.mkString(" OR ")

  /** Dedup.minHashDedup(portable=true) mirrored into SQL: distinct
    * 3-shingles → 16 portable min-hashes → 4 bands of 4 → intra-bucket
    * pairs (any band fully equal) → exact Jaccard ≥ 0.5. */
  private lazy val minHashOracle: String =
    s"""WITH $minHashSigCtes,
       |pairs AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.sh AS sh1, b.sh AS sh2
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($minHashBandEq))
       |SELECT id1, id2 FROM pairs
       |WHERE CAST(len(list_intersect(sh1, sh2)) AS DOUBLE)
       |        / len(list_distinct(sh1 || sh2)) >= 0.5""".stripMargin

  /** q58's oracle: the verified MinHash pairs (as [[minHashOracle]]) →
    * symmetric edge set → transitive closure by recursive CTE → per-node
    * min reachable id = the cluster representative; unpaired docs keep
    * themselves. Mirrors Graph.connectedComponents exactly (min label over
    * the component, fixed point ≡ closure). */
  /** Shared CTE chain for q58/q95: MinHash candidates → Jaccard-verified
    * pairs → recursive reachability → min-label components (`cc`). */
  private lazy val dedupClusterCtes: String =
    s"""$minHashSigCtes,
       |cand AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.sh AS sh1, b.sh AS sh2
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($minHashBandEq)),
       |pairs AS (
       |  SELECT id1, id2 FROM cand
       |  WHERE CAST(len(list_intersect(sh1, sh2)) AS DOUBLE)
       |          / len(list_distinct(sh1 || sh2)) >= 0.5),
       |edges AS (
       |  SELECT id1 AS a, id2 AS b FROM pairs
       |  UNION SELECT id2, id1 FROM pairs),
       |reach AS (
       |  SELECT a AS node, a AS lab FROM edges
       |  UNION
       |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node),
       |cc AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node)""".stripMargin

  private lazy val dedupClustersOracle: String =
    s"""WITH RECURSIVE $dedupClusterCtes
       |SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
       |FROM documents d LEFT JOIN cc c ON c.node = d.doc_id""".stripMargin

  /** q95: same cluster chain, then each cluster keeps its highest-quality
    * member (ties to the lowest doc_id — the Spark window's order). */
  private lazy val canonicalPickOracle: String =
    s"""WITH RECURSIVE $dedupClusterCtes,
       |qual AS (
       |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       |    $QualitySql AS q
       |  FROM documents d LEFT JOIN cc c ON c.node = d.doc_id)
       |SELECT cluster_id, doc_id AS canonical_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS n_members,
       |  q AS best_quality
       |FROM qual
       |QUALIFY row_number() OVER
       |  (PARTITION BY cluster_id ORDER BY q DESC, doc_id) = 1""".stripMargin

  /** q48's oracle: same signature pipeline as [[minHashOracle]] but over
    * the clone-salted corpus and banding-exploded, so the bucket-size cap
    * is expressible as QUALIFY count(*) OVER (PARTITION BY band, slice)
    * BETWEEN 2 AND cap — the exact guard minHashCandidates applies. */
  private lazy val minHashCappedOracle: String = {
    import graft.functions.MinHashSignatureExpr.{coeffA, coeffB, Prime}
    val shingleSql =
      """list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 2, 1)),
        |    i -> CASE WHEN len(tk) >= 3
        |              THEN tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |              ELSE array_to_string(tk, ' ') END))""".stripMargin
    val sigCols = (0 until 16).map { i =>
      s"list_min(list_transform(hs, h -> (h * ${coeffA(i)} + ${coeffB(i)}) % $Prime)) AS s$i"
    }.mkString(",\n    ")
    val bandLegs = (0 until 4).map { b =>
      val vs = (0 until 4).map(r => s"s${b * 4 + r} AS v$r").mkString(", ")
      s"SELECT doc_id, $b AS band, $vs FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, '$CloneText' FROM documents WHERE doc_id < 30),
       |toks AS (
       |  SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS tk FROM docs),
       |sh AS (SELECT doc_id, $shingleSql AS sh FROM toks),
       |hs AS (SELECT doc_id, sh,
       |         list_transform(sh, t -> $PortableHashSqlT) AS hs FROM sh),
       |sig AS (SELECT doc_id, sh,
       |    $sigCols
       |  FROM hs),
       |banded AS (
       |  $bandLegs),
       |guarded AS (
       |  SELECT * FROM banded
       |  QUALIFY count(*) OVER (PARTITION BY band, v0, v1, v2, v3) BETWEEN 2 AND 10),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM guarded a JOIN guarded b USING (band, v0, v1, v2, v3)
       |  WHERE a.doc_id < b.doc_id)
       |SELECT id1, id2 FROM pairs p
       |JOIN sig a ON a.doc_id = p.id1 JOIN sig b ON b.doc_id = p.id2
       |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |        / len(list_distinct(a.sh || b.sh)) >= 0.5""".stripMargin
  }

  /** q49's oracle: 64-bit SimHash sketch (as [[simHashOracle]]) → 4 bands
    * of 16 bits → bucket-join on any equal band → exact Hamming ≤ 3 via
    * bit_count(xor). All sketch algebra stays UBIGINT (logical shifts);
    * only value-compared outputs are reinterpreted signed. */
  private lazy val simHashNearDupOracle: String = {
    val bandLegs = (0 until 4).map { b =>
      s"SELECT doc_id, simhash, $b AS band, ((simhash >> ${b * 16}) & 65535) AS key FROM sk"
    }.mkString("\n  UNION ALL ")
    s"""WITH sk AS (
       |  SELECT doc_id, $SimHash64Sql AS simhash FROM (
       |    SELECT doc_id, list_transform(
       |      list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')),
       |      t -> $PortableHash64SqlT) AS hs
       |    FROM documents)),
       |banded AS (
       |  $bandLegs),
       |guarded AS (
       |  SELECT * FROM banded
       |  QUALIFY count(*) OVER (PARTITION BY band, key) BETWEEN 2 AND 10000),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |  FROM guarded a JOIN guarded b USING (band, key)
       |  WHERE a.doc_id < b.doc_id)
       |SELECT id1, id2, hamming FROM cand WHERE hamming <= 3""".stripMargin
  }

  /** Dedup.simHash mirrored into SQL: 64 per-bit majority votes over the
    * portable 64-bit hashes of distinct lowercased tokens (bit j set iff
    * more than half the token hashes have bit j set). */
  private lazy val simHashOracle: String =
    s"""SELECT min(doc_id) AS keep_id, count(*) AS dup_count,
       |  ${signed64Sql("sku")} AS simhash FROM (
       |  SELECT doc_id, $SimHash64Sql AS sku FROM (
       |    SELECT doc_id, list_transform(
       |      list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')),
       |      t -> $PortableHash64SqlT) AS hs
       |    FROM documents))
       |GROUP BY sku""".stripMargin

  val oracle: Map[String, String] = Map(
    // bucketing is a layout property, not a semantic one: the oracle runs
    // the plain join — identical output proves the bucketed path changes
    // the plan, never the answer
    "q154_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10)))
        |   AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    // DPP is a scan-layout optimization: the oracle joins the
    // unpartitioned parquet directly
    "q158_dynamic_pruning" ->
      """WITH dim AS (
        |  SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
        |    INTERVAL 1 DAY))::DATE AS d)
        |SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS total_value
        |FROM events JOIN dim ON CAST(ts AS DATE) = dim.d
        |WHERE day(dim.d) % 7 = 1
        |GROUP BY 1""".stripMargin,
    // the DuckDB twin of SchemaProbeSpec: the Spark side is a literal
    // expectation table, the oracle DESCRIBEs the live parquet views — a
    // testdata regeneration that changes only what the ORACLE sees (the
    // round-6 q152 mode) hash-mismatches this named row set immediately
    "q160_oracle_types" ->
      OracleVisibleSchema.map(_._1).distinct.map(t =>
        s"SELECT '$t' AS tbl, column_name AS col_name, " +
          s"column_type AS col_type FROM (DESCRIBE $t)")
        .mkString("\nUNION ALL\n"),
    // the oracle never touches PNG bytes: it computes the histogram the
    // decode MUST produce from the rendering formula — matching hashes
    // prove the engine's encode→decode→feature path is lossless
    "q159_media_decode" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    CAST((((doc_id * 31 + x.i * 8 + y.i) % 256 + 256) % 256) // 32 AS INT) AS bin
        |  FROM documents
        |  CROSS JOIN generate_series(0, 7) x(i)
        |  CROSS JOIN generate_series(0, 7) y(i))
        |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CAST(sum(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
        |  CAST(sum(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
        |  CAST(sum(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
        |  CAST(sum(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
        |  CAST(sum(CASE WHEN bin = 4 THEN 1 ELSE 0 END) AS BIGINT) AS b4,
        |  CAST(sum(CASE WHEN bin = 5 THEN 1 ELSE 0 END) AS BIGINT) AS b5,
        |  CAST(sum(CASE WHEN bin = 6 THEN 1 ELSE 0 END) AS BIGINT) AS b6,
        |  CAST(sum(CASE WHEN bin = 7 THEN 1 ELSE 0 END) AS BIGINT) AS b7
        |FROM px GROUP BY 1""".stripMargin,
    // salting likewise: the oracle is the UNsalted join
    "q155_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1""".stripMargin,
    "q156_perplexity_tiers" -> {
      val scale = TextAnalysis.LmScale
      s"""WITH p AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
         |    i -> tk[i] || ' ' || tk[i+1])) AS pair
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents)),
         |m AS (SELECT pair, count(*) AS c2 FROM p GROUP BY 1),
         |m2 AS (SELECT pair, c2, string_split(pair, ' ')[1] AS w1 FROM m),
         |m3 AS (SELECT pair,
         |    (c2 * $scale) // CAST(sum(c2) OVER (PARTITION BY w1) AS BIGINT)
         |      AS pts
         |  FROM m2),
         |d AS (SELECT doc_id, count(*) AS n_bigrams,
         |    CAST(sum(coalesce(pts, 0)) AS BIGINT) AS s
         |  FROM p LEFT JOIN m3 USING (pair) GROUP BY 1)
         |SELECT doc_id, n_bigrams, s // n_bigrams AS lm_score,
         |  CASE WHEN s // n_bigrams >= $PerplexityKeep THEN 'keep'
         |       WHEN s // n_bigrams >= $PerplexityReview THEN 'review'
         |       ELSE 'drop' END AS tier
         |FROM d""".stripMargin
    },
    // IVF replay (q34's oracle with 20 probes) ∩ brute force (q27's) →
    // per-query recall; identical tie-breaks make the intersection exact
    "q157_ivf_recall" ->
      s"""WITH e AS (SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings),
         |cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v
         |          FROM e ORDER BY vec_id LIMIT 16),
         |sims AS (SELECT e.vec_id, cents.cell,
         |           list_dot_product(e.v, cents.v)
         |             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cents.v, cents.v))) AS cs
         |         FROM e, cents),
         |assign AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cs DESC, cell DESC) AS rn FROM sims) WHERE rn = 1),
         |probe AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cs DESC, cell DESC) AS rn FROM sims WHERE vec_id < 20) WHERE rn <= 4),
         |iv AS (SELECT p.vec_id AS query_id, a.vec_id AS corpus_id,
         |        list_dot_product(q.v, c.v)
         |          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
         |      FROM probe p JOIN assign a ON p.cell = a.cell
         |      JOIN e q ON q.vec_id = p.vec_id JOIN e c ON c.vec_id = a.vec_id
         |      WHERE p.vec_id <> a.vec_id),
         |ivf AS (SELECT query_id, corpus_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cos DESC, corpus_id) AS rn FROM iv)
         |  WHERE rn <= 10),
         |bf0 AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |        list_dot_product(q.v, c.v)
         |          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
         |      FROM e q, e c WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
         |bf AS (SELECT query_id, corpus_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cos DESC, corpus_id) AS rn FROM bf0)
         |  WHERE rn <= 10),
         |hit AS (SELECT query_id, count(*) AS n_hit
         |        FROM bf JOIN ivf USING (query_id, corpus_id) GROUP BY 1),
         |ex AS (SELECT query_id, count(*) AS n_exact FROM bf GROUP BY 1)
         |SELECT ex.query_id, ex.n_exact,
         |  CAST(coalesce(hit.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(coalesce(hit.n_hit, 0) AS DOUBLE) / ex.n_exact AS recall
         |FROM ex LEFT JOIN hit USING (query_id)""".stripMargin,
    // SemDeDup replay: q157's seeded cells + assignment, then the paper's
    // upper-triangular within-cell drop at cosine >= 0.3
    "q161_semantic_dedup" ->
      s"""WITH e AS (SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings),
         |cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v
         |          FROM e ORDER BY vec_id LIMIT 16),
         |sims AS (SELECT e.vec_id, cents.cell,
         |           list_dot_product(e.v, cents.v)
         |             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cents.v, cents.v))) AS cs
         |         FROM e, cents),
         |assign AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cs DESC, cell DESC) AS rn FROM sims) WHERE rn = 1),
         |av AS (SELECT a.vec_id, a.cell, e.v FROM assign a JOIN e USING (vec_id)),
         |dup AS (SELECT DISTINCT b.vec_id FROM av a JOIN av b
         |        ON a.cell = b.cell AND a.vec_id < b.vec_id
         |        WHERE list_dot_product(a.v, b.v)
         |          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3)
         |SELECT av.vec_id, av.cell, d.vec_id IS NULL AS kept
         |FROM av LEFT JOIN dup d USING (vec_id)""".stripMargin,
    // DOULION replay: q90's canonical edge set, hash-sampled at p=1/2
    // (portableHash of "a_b" — the engine's deterministic coin), exact
    // triangle count on the sample, scaled by 2^3
    "q162_triangles_approx" ->
      """WITH adj AS (
        |  SELECT l_partkey AS src, lead(l_partkey) OVER
        |      (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT src, dst FROM adj
        |       WHERE dst IS NOT NULL AND dst <> src),
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |      FROM e0),
        |s AS (SELECT a, b FROM e WHERE
        |  CAST(substr(regexp_replace(md5(CAST(a AS VARCHAR) || '_' || CAST(b AS VARCHAR)),
        |    '[a-f]', '', 'g') || '00000000', 1, 8) AS BIGINT) % 2 = 0),
        |tri AS (SELECT count(*) AS tri_sampled
        |        FROM s e1 JOIN s e2 ON e2.a = e1.b
        |             JOIN s e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT (SELECT count(*) FROM e) AS n_edges,
        |  (SELECT count(*) FROM s) AS n_sampled,
        |  tri_sampled, tri_sampled * 8 AS tri_est FROM tri""".stripMargin,
    // q163's merge algebra replayed over the immutable source table: the
    // manifested layout changes durability, never the answer
    "q163_manifested_merge" ->
      """WITH base AS (SELECT c_custkey, c_acctbal, c_mktsegment
        |              FROM customer WHERE c_custkey <= 300),
        |src AS (SELECT c_custkey, c_acctbal + 500.0 AS c_acctbal,
        |               'MOVED' AS c_mktsegment
        |        FROM customer WHERE c_custkey <= 300 AND c_custkey % 7 = 0)
        |SELECT c_custkey, c_acctbal, c_mktsegment FROM src
        |UNION ALL
        |SELECT c_custkey, c_acctbal, c_mktsegment FROM base
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM src)""".stripMargin,
    // q164's pinned root v1 = the seed with merge 1 (double every fifth
    // key's balance) applied and merge 2 NOT yet applied
    "q164_root_time_travel" ->
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 5 = 0 THEN c_acctbal * 2
        |       ELSE c_acctbal END AS c_acctbal,
        |  c_mktsegment
        |FROM customer WHERE c_custkey <= 200""".stripMargin,
    // q166 = q163's merge algebra, committed through the WAP gate (the
    // gate passes, so durability ceremony never changes the answer)
    "q166_audited_merge" ->
      """WITH base AS (SELECT c_custkey, c_acctbal, c_mktsegment
        |              FROM customer WHERE c_custkey <= 300),
        |src AS (SELECT c_custkey, c_acctbal + 500.0 AS c_acctbal,
        |               'MOVED' AS c_mktsegment
        |        FROM customer WHERE c_custkey <= 300 AND c_custkey % 7 = 0)
        |SELECT c_custkey, c_acctbal, c_mktsegment FROM src
        |UNION ALL
        |SELECT c_custkey, c_acctbal, c_mktsegment FROM base
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM src)""".stripMargin,
    // q165's feed = merge 2's effect on q164's v1 state: every third key
    // inserts its new image (orig balance + 1000, segment MOVED) and
    // deletes its v1 image (balance doubled only for every fifteenth key)
    "q165_root_changelog" ->
      """WITH v1 AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal * 2
        |         ELSE c_acctbal END AS c_acctbal,
        |    c_mktsegment
        |  FROM customer WHERE c_custkey <= 200)
        |SELECT 'insert' AS change_type, c_custkey,
        |  c_acctbal + 1000.0 AS c_acctbal, 'MOVED' AS c_mktsegment
        |FROM customer WHERE c_custkey <= 200 AND c_custkey % 3 = 0
        |UNION ALL
        |SELECT 'delete' AS change_type, c_custkey, c_acctbal, c_mktsegment
        |FROM v1 WHERE c_custkey % 3 = 0""".stripMargin,
    // q167: the oracle is the FULL REBUILD of the v2 silver state — the
    // changelog-driven incremental maintenance must equal it exactly
    "q167_changelog_incremental" ->
      """WITH v2 AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 97 = 0 THEN c_acctbal + 100.0
        |         ELSE c_acctbal END AS bal,
        |    CASE WHEN c_custkey % 194 = 0 THEN 'MOVED'
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer WHERE c_custkey <= 400)
        |SELECT c_mktsegment, count(*) AS n_rows,
        |  CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM v2 GROUP BY c_mktsegment""".stripMargin,
    // q168: the merge rewrote the touched keys' home partitions plus the
    // partition they moved into (which exists only when a moving key does)
    "q168_changelog_worklist" ->
      """SELECT DISTINCT c_mktsegment AS part_value
        |FROM customer WHERE c_custkey <= 400 AND c_custkey % 97 = 0
        |UNION
        |SELECT 'MOVED' AS part_value
        |WHERE EXISTS (SELECT 1 FROM customer
        |              WHERE c_custkey <= 400 AND c_custkey % 194 = 0)
        |ORDER BY part_value""".stripMargin,
    // q169: DuckDB resolves the PartitionSnapshots layout itself — pure
    // SQL walks the root pointer, folds the delta chain onto its parent
    // manifest (nearest override wins), and reads exactly the pinned
    // version dirs. No engine code involved: storage portability.
    "q169_external_manifest_read" ->
      """WITH RECURSIVE
        |cur AS (SELECT trim(content) AS vname
        |        FROM read_text('/tmp/graft_q169_table/_root/_current')),
        |mfiles AS (
        |  SELECT regexp_extract(filename, 'v(\d+)/manifest$', 1) AS v,
        |         TRUE AS is_full, content
        |  FROM read_text('/tmp/graft_q169_table/_root/_versions/*/manifest')
        |  UNION ALL
        |  SELECT regexp_extract(filename, 'v(\d+)/delta$', 1) AS v,
        |         FALSE AS is_full, content
        |  FROM read_text('/tmp/graft_q169_table/_root/_versions/*/delta')),
        |chain(v, is_full, content, depth) AS (
        |  SELECT m.v, m.is_full, m.content, 0
        |  FROM mfiles m, cur c WHERE 'v' || m.v = c.vname
        |  UNION ALL
        |  SELECT m.v, m.is_full, m.content, c.depth + 1
        |  FROM chain c JOIN mfiles m
        |    ON (NOT c.is_full)
        |   AND ('v' || m.v = trim(string_split(c.content, chr(10))[1]))),
        |manifest_lines AS (
        |  SELECT depth, unnest(string_split(content, chr(10))) AS line
        |  FROM chain),
        |entries AS (
        |  SELECT depth, string_split(line, chr(9))[1] AS state,
        |         string_split(line, chr(9))[2] AS rel
        |  FROM manifest_lines WHERE contains(line, chr(9))),
        |resolved AS (
        |  SELECT rel, state FROM (
        |    SELECT rel, state,
        |           row_number() OVER (PARTITION BY rel ORDER BY depth) AS pick
        |    FROM entries) WHERE pick = 1),
        |data_files AS (
        |  SELECT c_custkey, c_acctbal,
        |    regexp_extract(filename,
        |      '/([^/]+=[^/]+)/_versions/v\d+/[^/]+$', 1) AS rel,
        |    regexp_extract(filename, '/(v\d+)/[^/]+$', 1) AS vslot
        |  FROM read_parquet('/tmp/graft_q169_table/*/_versions/*/*.parquet',
        |                    filename=true))
        |SELECT f.c_custkey, f.c_acctbal,
        |       string_split(f.rel, '=')[2] AS c_mktsegment
        |FROM data_files f
        |JOIN resolved r ON f.rel = r.rel AND f.vslot = r.state""".stripMargin,
    // q170: q163's merge algebra minus the equality-deleted key list —
    // merge-on-read durability (delete file + anti-join) never changes
    // the answer, only who pays the rewrite and when
    "q170_equality_delete" ->
      """WITH base AS (SELECT c_custkey, c_acctbal, c_mktsegment
        |              FROM customer WHERE c_custkey <= 300),
        |src AS (SELECT c_custkey, c_acctbal + 500.0 AS c_acctbal,
        |               'MOVED' AS c_mktsegment
        |        FROM customer WHERE c_custkey <= 300 AND c_custkey % 7 = 0),
        |merged AS (
        |  SELECT c_custkey, c_acctbal, c_mktsegment FROM src
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal, c_mktsegment FROM base
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM src))
        |SELECT c_custkey, c_acctbal, c_mktsegment FROM merged
        |WHERE c_custkey % 11 <> 0""".stripMargin,
    // q171: the evolving merge replayed in SQL — rows the evolved commit
    // never touched read the added column as NULL (manifest-pinned union
    // schema), matched rows carry the merged image
    "q171_schema_evolution" ->
      """SELECT c_custkey,
        |  CASE WHEN c_mktsegment = 'BUILDING' AND c_custkey % 7 = 0
        |       THEN c_acctbal + 500.0 ELSE c_acctbal END AS c_acctbal,
        |  c_mktsegment,
        |  CASE WHEN c_mktsegment = 'BUILDING' AND c_custkey % 7 = 0
        |       THEN 'HIGH' END AS priority
        |FROM customer WHERE c_custkey <= 300""".stripMargin,
    // q172: both root states replayed, same summarize algebra per side
    // (DECIMAL(28,10) sums for order-independence), relative mean shift
    // flagged at 5%
    "q172_snapshot_drift" ->
      """WITH v1 AS (
        |  SELECT CASE WHEN c_custkey % 5 = 0 THEN c_acctbal * 2
        |              ELSE c_acctbal END AS b
        |  FROM customer WHERE c_custkey <= 200),
        |v2 AS (
        |  SELECT CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 1000.0
        |              WHEN c_custkey % 5 = 0 THEN c_acctbal * 2
        |              ELSE c_acctbal END AS b
        |  FROM customer WHERE c_custkey <= 200),
        |sa AS (SELECT count(b) AS n_from, count(*) - count(b) AS nulls_from,
        |         CAST(min(b) AS DOUBLE) AS min_from,
        |         CAST(max(b) AS DOUBLE) AS max_from,
        |         CAST(SUM(CAST(b AS DECIMAL(28,10))) AS DOUBLE)
        |           / count(b) AS mean_from FROM v1),
        |sb AS (SELECT count(b) AS n_to, count(*) - count(b) AS nulls_to,
        |         CAST(min(b) AS DOUBLE) AS min_to,
        |         CAST(max(b) AS DOUBLE) AS max_to,
        |         CAST(SUM(CAST(b AS DECIMAL(28,10))) AS DOUBLE)
        |           / count(b) AS mean_to FROM v2)
        |SELECT 'c_acctbal' AS col_name, n_from, nulls_from, min_from,
        |  max_from, mean_from, n_to, nulls_to, min_to, max_to, mean_to,
        |  abs(mean_to - mean_from) / abs(mean_from) AS mean_rel_delta,
        |  abs(mean_to - mean_from) / abs(mean_from) > 0.05 AS mean_drift
        |FROM sa, sb""".stripMargin,
    // q173: the metadata-only drop replayed as a filter
    "q173_drop_partitions" ->
      """SELECT c_custkey, c_acctbal, c_mktsegment
        |FROM customer
        |WHERE c_custkey <= 300 AND c_mktsegment <> 'MACHINERY'""".stripMargin,
    // q174: the tag pins the seed state; the later merge never shows
    "q174_tagged_read" ->
      """SELECT c_custkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey <= 200""".stripMargin,
    // q175: the metadata count must equal the real count of the merged
    // state (seed <=400 plus inserted 401-430; updates don't change it)
    "q175_metadata_count" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows
        |FROM customer WHERE c_custkey <= 430""".stripMargin,
    // q176: the stats-pruned scan replayed as a plain filter — pruning
    // changes which files are LISTED, never the answer
    "q176_stats_pruned_read" ->
      """SELECT c_custkey, c_acctbal,
        |  CAST((c_custkey - 1) // 100 AS INT) AS bucket
        |FROM customer
        |WHERE c_custkey BETWEEN 120 AND 250""".stripMargin,
    // q177: seed <=300 + append 301-350 + insert-only 331-380 (overlap
    // skipped) = the plain <=380 state; append durability never changes
    // the answer, only the commit cost
    "q177_fast_append" ->
      """SELECT c_custkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey <= 380""".stripMargin,
    // q178: seed <=300 + txn-append 301-340 (delivered TWICE; the
    // redelivery is skipped by the (appId, version) stamp) + 341-380 =
    // the plain <=380 state; a duplicated batch would hash-mismatch
    "q178_txn_append" ->
      """SELECT c_custkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey <= 380""".stripMargin,
    // q179: even + odd interleaved appends then a sorted rewrite — a
    // pure layout change; the oracle is the untouched row set
    "q179_sorted_compaction" ->
      """SELECT c_custkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey <= 400""".stripMargin,
    // q180: the $partitions metadata table's recorded row counts must
    // equal a real GROUP BY count of the staged table's final state
    "q180_partitions_meta" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows
        |FROM customer WHERE c_custkey <= 430 GROUP BY 1""".stripMargin,
    // q181: seed <=300 + append 301-350 + merge >330, then aggressive
    // snapshot expiry — history is gone, the live state is untouched
    "q181_expire_snapshots" ->
      """SELECT c_custkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey <= 400""".stripMargin,
    // q182: seed <=300 on main + branch merge 301-370 + branch append
    // 371-400, fast-forwarded — the published image is the plain union
    "q182_branch_publish" ->
      """SELECT c_custkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey <= 400""".stripMargin,
    // q187: q183's replay over the string key — file granularity and
    // the pruning key's type never change the answer
    "q187_string_key_merge" ->
      """WITH base AS (SELECT c_name, c_acctbal, c_mktsegment
        |              FROM customer WHERE c_custkey <= 600),
        |src AS (SELECT c_name, c_acctbal + 100.0 AS c_acctbal,
        |               c_mktsegment
        |        FROM customer WHERE c_custkey BETWEEN 50 AND 70)
        |SELECT c_name, c_acctbal, c_mktsegment FROM src
        |UNION ALL
        |SELECT c_name, c_acctbal, c_mktsegment FROM base
        |WHERE c_name NOT IN (SELECT c_name FROM src)""".stripMargin,
    // q186: the quadratic levenshtein truth AND the deletion-variant /
    // hot-bucket pipeline both replayed in SQL — recall inside the
    // planted hot family is exactly 0, outside exactly 1
    "q186_fuzzy_recall" ->
      """WITH
        |realn AS (SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS k
        |          FROM customer WHERE c_custkey <= 120),
        |planted AS (SELECT 1000000 + i AS id,
        |    'PLANTEDNAME' ||
        |    substr('0123456789abcdefghijklmnopqrstuvwxyz',
        |           CAST(i AS INT) + 1, 1) AS k
        |  FROM (SELECT unnest(range(36)) AS i)),
        |names AS (SELECT * FROM realn UNION ALL SELECT * FROM planted),
        |variants AS (
        |  SELECT id, k, unnest(list_distinct(list_prepend(k,
        |    list_transform(range(1, length(k) + 1),
        |      i -> substr(k, 1, CAST(i AS INT) - 1) ||
        |           substr(k, CAST(i AS INT) + 1))))) AS v
        |  FROM names),
        |hot AS (SELECT v FROM variants GROUP BY v HAVING count(*) > 30),
        |surv AS (SELECT * FROM variants
        |         WHERE v NOT IN (SELECT v FROM hot)),
        |pred AS (SELECT DISTINCT a.id AS id1, b.id AS id2
        |         FROM surv a JOIN surv b ON a.v = b.v AND a.id < b.id
        |         WHERE levenshtein(a.k, b.k) <= 1),
        |truth AS (SELECT a.id AS id1, b.id AS id2,
        |                 (a.id >= 1000000 AND b.id >= 1000000) AS fam
        |          FROM names a JOIN names b ON a.id < b.id
        |          WHERE levenshtein(a.k, b.k) <= 1)
        |SELECT fam AS in_family, count(*) AS n_truth,
        |       count(p.id1) AS n_hit,
        |       CAST(count(p.id1) AS DOUBLE) / count(*) AS recall
        |FROM truth t LEFT JOIN pred p
        |  ON t.id1 = p.id1 AND t.id2 = p.id2
        |GROUP BY fam""".stripMargin,
    // q185: DuckDB enumerates the warehouse from the catalog manifest
    // alone and resolves each table by its layout — flat files, the
    // root-level slot pointer, or the root-manifest chain with the full state
    // grammar (multi-part unions + file-scoped survivor tokens)
    "q185_catalog_manifest" ->
      """WITH RECURSIVE
        |catlines AS (SELECT unnest(string_split(content, chr(10))) AS line
        |             FROM read_text('/tmp/graft_q185_wh/_catalog')),
        |tables AS (SELECT string_split(line, chr(9))[1] AS name,
        |                  string_split(line, chr(9))[2] AS kind
        |           FROM catlines WHERE contains(line, chr(9))),
        |flat_n AS (SELECT count(*) AS n
        |           FROM read_parquet('/tmp/graft_q185_wh/region/*.parquet')),
        |snap_cur AS (SELECT trim(content) AS v
        |             FROM read_text('/tmp/graft_q185_wh/nation/_current')),
        |snap_n AS (SELECT count(*) AS n
        |  FROM read_parquet('/tmp/graft_q185_wh/nation/_versions/*/*.parquet',
        |                    filename=true) f, snap_cur c
        |  WHERE regexp_extract(f.filename, '/(v\d+)/[^/]+$', 1) = c.v),
        |cur AS (SELECT trim(content) AS vname
        |        FROM read_text('/tmp/graft_q185_wh/cust/_root/_current')),
        |mfiles AS (
        |  SELECT regexp_extract(filename, 'v(\d+)/manifest$', 1) AS v,
        |         TRUE AS is_full, content
        |  FROM read_text('/tmp/graft_q185_wh/cust/_root/_versions/*/manifest')
        |  UNION ALL
        |  SELECT regexp_extract(filename, 'v(\d+)/delta$', 1) AS v,
        |         FALSE AS is_full, content
        |  FROM read_text('/tmp/graft_q185_wh/cust/_root/_versions/*/delta')),
        |chain(v, is_full, content, depth) AS (
        |  SELECT m.v, m.is_full, m.content, 0
        |  FROM mfiles m, cur c WHERE 'v' || m.v = c.vname
        |  UNION ALL
        |  SELECT m.v, m.is_full, m.content, c.depth + 1
        |  FROM chain c JOIN mfiles m
        |    ON (NOT c.is_full)
        |   AND ('v' || m.v = trim(string_split(c.content, chr(10))[1]))),
        |manifest_lines AS (
        |  SELECT depth, unnest(string_split(content, chr(10))) AS line
        |  FROM chain),
        |entries AS (
        |  SELECT depth, string_split(line, chr(9))[1] AS state,
        |         string_split(line, chr(9))[2] AS rel
        |  FROM manifest_lines WHERE contains(line, chr(9))),
        |resolved AS (
        |  SELECT rel, state FROM (
        |    SELECT rel, state,
        |           row_number() OVER (PARTITION BY rel ORDER BY depth) AS pick
        |    FROM entries) WHERE pick = 1),
        |parts AS (
        |  SELECT rel,
        |         string_split(unnest(string_split(state, '&')), '+')[1] AS base
        |  FROM resolved),
        |man_files AS (
        |  SELECT regexp_extract(filename,
        |           '/([^/]+=[^/]+)/_versions/v\d+/[^/]+$', 1) AS rel,
        |         regexp_extract(filename, '/(v\d+)/[^/]+$', 1) AS vslot,
        |         regexp_extract(filename, '/([^/]+)$', 1) AS fname
        |  FROM read_parquet('/tmp/graft_q185_wh/cust/*/_versions/*/*.parquet',
        |                    filename=true)),
        |man_n AS (
        |  SELECT count(*) AS n FROM man_files f JOIN parts p
        |    ON f.rel = p.rel
        |   AND (p.base = f.vslot OR p.base = f.vslot || '/' || f.fname))
        |SELECT t.name, CAST(CASE t.name
        |  WHEN 'region' THEN (SELECT n FROM flat_n)
        |  WHEN 'nation' THEN (SELECT n FROM snap_n)
        |  WHEN 'cust'   THEN (SELECT n FROM man_n) END AS BIGINT) AS n_rows
        |FROM tables t""".stripMargin,
    // q184: the commit algebra replayed over the immutable source — the
    // partition layout (and its evolution) never changes the answer
    "q184_spec_evolution" ->
      """WITH seed AS (SELECT c_custkey, c_acctbal, c_nationkey, c_mktsegment
        |              FROM customer WHERE c_custkey <= 300),
        |ins AS (SELECT c_custkey, c_acctbal, c_nationkey, c_mktsegment
        |        FROM customer WHERE c_custkey > 300 AND c_custkey <= 340),
        |upd AS (SELECT c_custkey, c_acctbal + 250.0 AS c_acctbal,
        |               c_nationkey, c_mktsegment
        |        FROM customer WHERE c_custkey <= 300 AND c_custkey % 11 = 0)
        |SELECT c_custkey, c_acctbal, c_nationkey, c_mktsegment FROM upd
        |UNION ALL
        |SELECT c_custkey, c_acctbal, c_nationkey, c_mktsegment FROM seed
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
        |UNION ALL
        |SELECT c_custkey, c_acctbal, c_nationkey, c_mktsegment
        |FROM ins""".stripMargin,
    // q183: full-partition MERGE semantics replayed over the immutable
    // source — file-level rewrite granularity never changes the answer
    // q193: the physical UPDATE encoding (positional delete + append)
    // never changes the answer — pure declarative replay
    "q193_update_sql" ->
      """SELECT c_custkey,
        |       CASE WHEN c_custkey <= 120 THEN c_acctbal + 50.0
        |            ELSE c_acctbal END AS c_acctbal,
        |       c_mktsegment
        |FROM customer WHERE c_custkey <= 400""".stripMargin,
    // q201: the derived topic is static knowledge to the oracle — the
    // Spark side must reach the same answer through input_file_name
    "q201_file_lineage" ->
      "SELECT 'events' AS topic, count(*) AS n FROM events GROUP BY 1",
    // q202: the parse-success filter replayed with DuckDB's try_strptime
    // (days 32..40 of the synthetic date fail on both engines)
    "q202_parse_filter" ->
      """SELECT lang, count(*) AS n_ok FROM documents
        |WHERE try_strptime(concat('2024-01-',
        |        lpad(CAST(doc_id % 40 + 1 AS VARCHAR), 2, '0')),
        |      '%Y-%m-%d') IS NOT NULL
        |GROUP BY lang""".stripMargin,
    // q203: count action + existence probes, declaratively
    "q203_count_exists" ->
      """SELECT (SELECT count(*) FROM orders WHERE o_totalprice > 100000.0)
        |         AS n_high,
        |       EXISTS(SELECT 1 FROM lineitem WHERE l_quantity >= 50.0)
        |         AS has_q50,
        |       EXISTS(SELECT 1 FROM lineitem WHERE l_quantity < 0.0)
        |         AS has_negative""".stripMargin,
    // q200: the partitions inspection table's manifest row counts must
    // equal a declarative recount of the source
    "q200_inspection_sql" ->
      """SELECT concat('c_mktsegment=', c_mktsegment) AS partition,
        |       count(*) AS row_count
        |FROM customer WHERE c_custkey <= 400
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q199: CALL-driven compaction + dry-run sweep replayed
    // declaratively — maintenance preserves every row
    "q199_call_maintenance" ->
      """SELECT c_custkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey <= 390""".stripMargin,
    // q198: the dynamic partition overwrite replayed declaratively —
    // replaced-partition rows recompute, untouched partitions pass
    "q198_insert_overwrite" ->
      """SELECT c_custkey,
        |       CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 1000.0
        |            ELSE c_acctbal END AS c_acctbal,
        |       c_mktsegment
        |FROM customer WHERE c_custkey <= 400""".stripMargin,
    // q197: the whole SQL session replayed declaratively — create,
    // insert-select, rename, update, delete, add-column are six commits
    // of plumbing that never change the answer
    "q197_sql_session" ->
      """SELECT c_custkey,
        |       CASE WHEN c_custkey <= 50 THEN c_acctbal * 2
        |            ELSE c_acctbal END AS balance,
        |       CAST(NULL AS VARCHAR) AS note,
        |       c_mktsegment
        |FROM customer
        |WHERE c_custkey <= 300
        |  AND c_custkey NOT BETWEEN 290 AND 300""".stripMargin,
    // q196: rename + keyed merge replayed declaratively — physical
    // column naming (and the alias machinery serving it) never changes
    // the answer
    "q196_schema_evolution_sql" ->
      """SELECT c_custkey AS cust_id,
        |       CASE WHEN c_custkey BETWEEN 50 AND 80 THEN c_acctbal + 100.0
        |            ELSE c_acctbal END AS balance,
        |       c_mktsegment
        |FROM customer WHERE c_custkey <= 400""".stripMargin,
    // q195: current-vs-pinned self-join replayed declaratively — the
    // pinned side is the seed, the current side the seed plus the
    // second commit's delta; inserted keys drop from the inner join
    "q195_time_travel_sql" ->
      """SELECT c_custkey,
        |       CASE WHEN c_custkey % 7 = 0 THEN 500.0 ELSE 0.0 END AS dv,
        |       c_mktsegment
        |FROM customer WHERE c_custkey <= 300""".stripMargin,
    // q194: the five-clause MERGE (assignment lists, insert column list,
    // BY SOURCE update+delete) replayed declaratively — first-match-wins
    // per row set, the atomic commit plumbing never changes the answer
    "q194_merge_assign_sql" ->
      """WITH base AS (SELECT c_custkey, c_acctbal, c_mktsegment
        |              FROM customer WHERE c_custkey <= 500),
        |src AS (SELECT c_custkey,
        |               CASE WHEN c_custkey % 3 = 0 THEN -100.0
        |                    ELSE 50.0 END AS delta,
        |               c_mktsegment AS seg
        |        FROM customer WHERE c_custkey BETWEEN 200 AND 260
        |        UNION ALL
        |        SELECT c_custkey, c_acctbal AS delta, c_mktsegment AS seg
        |        FROM customer WHERE c_custkey BETWEEN 501 AND 530),
        |merged AS (
        |  SELECT b.c_custkey,
        |         CASE WHEN s.delta < 0 THEN b.c_acctbal - s.delta
        |              ELSE b.c_acctbal + s.delta END AS c_acctbal,
        |         b.c_mktsegment
        |  FROM base b JOIN src s ON b.c_custkey = s.c_custkey
        |  UNION ALL
        |  SELECT s.c_custkey, s.delta AS c_acctbal, s.seg AS c_mktsegment
        |  FROM src s WHERE s.c_custkey NOT IN (SELECT c_custkey FROM base)
        |  UNION ALL
        |  SELECT b.c_custkey,
        |         CASE WHEN b.c_custkey < 5 THEN 0.0
        |              ELSE b.c_acctbal END AS c_acctbal,
        |         b.c_mktsegment
        |  FROM base b
        |  WHERE b.c_custkey NOT IN (SELECT c_custkey FROM src)
        |    AND b.c_custkey NOT BETWEEN 490 AND 500)
        |SELECT c_custkey, c_acctbal, c_mktsegment FROM merged""".stripMargin,
    // q192: storage reclamation never changes an answer — the table
    // reads exactly as the immutable source's replay after the sweep
    "q192_orphan_sweep" ->
      """SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
        |WHERE c_custkey <= 300""".stripMargin,
    // q191: first-match-wins clause semantics replayed declaratively —
    // matched & negative new balance dies (DELETE clause), other matched
    // rows document-replace (UPDATE), unmatched source rows insert only
    // past the condition, and the trailing IN-list delete applies last
    "q191_conditional_merge_sql" ->
      """WITH base AS (SELECT c_custkey, c_acctbal, c_mktsegment
        |              FROM customer WHERE c_custkey <= 500),
        |src AS (SELECT c_custkey, c_acctbal - 2000.0 AS c_acctbal,
        |               c_mktsegment
        |        FROM customer WHERE c_custkey BETWEEN 100 AND 160
        |        UNION ALL
        |        SELECT c_custkey, c_acctbal, c_mktsegment
        |        FROM customer WHERE c_custkey BETWEEN 501 AND 540),
        |merged AS (
        |  SELECT s.c_custkey, s.c_acctbal, s.c_mktsegment
        |  FROM src s JOIN base b ON s.c_custkey = b.c_custkey
        |  WHERE s.c_acctbal >= 0
        |  UNION ALL
        |  SELECT b.c_custkey, b.c_acctbal, b.c_mktsegment FROM base b
        |  WHERE b.c_custkey NOT IN (SELECT c_custkey FROM src)
        |  UNION ALL
        |  SELECT s.c_custkey, s.c_acctbal, s.c_mktsegment FROM src s
        |  WHERE s.c_custkey NOT IN (SELECT c_custkey FROM base)
        |    AND s.c_acctbal > 1000)
        |SELECT c_custkey, c_acctbal, c_mktsegment FROM merged
        |WHERE c_custkey NOT IN (7, 11, 13)""".stripMargin,
    "q190_positional_delete" ->
      """SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
        |WHERE c_custkey <= 300
        |  AND c_custkey NOT BETWEEN 20 AND 40""".stripMargin,
    "q189_hidden_bucket" ->
      """WITH base AS (SELECT c_custkey, c_acctbal, c_mktsegment
        |              FROM customer WHERE c_custkey <= 400),
        |src AS (SELECT c_custkey, c_acctbal + 300.0 AS c_acctbal,
        |               c_mktsegment
        |        FROM customer WHERE c_custkey = 100)
        |SELECT c_custkey, c_acctbal, c_mktsegment FROM src
        |UNION ALL
        |SELECT c_custkey, c_acctbal, c_mktsegment FROM base
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM src)""".stripMargin,
    "q188_merge_sql" ->
      """WITH base AS (SELECT c_custkey, c_acctbal, c_mktsegment
        |              FROM customer WHERE c_custkey <= 500),
        |src AS (SELECT c_custkey, c_acctbal + 200.0 AS c_acctbal,
        |               c_mktsegment
        |        FROM customer WHERE c_custkey BETWEEN 100 AND 150
        |           OR c_custkey BETWEEN 501 AND 550)
        |SELECT c_custkey, c_acctbal, c_mktsegment FROM src
        |UNION ALL
        |SELECT c_custkey, c_acctbal, c_mktsegment FROM base
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM src)""".stripMargin,
    "q183_file_scoped_merge" ->
      """WITH base AS (SELECT c_custkey, c_acctbal, c_mktsegment
        |              FROM customer WHERE c_custkey <= 600),
        |src AS (SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal,
        |               c_mktsegment
        |        FROM customer WHERE c_custkey BETWEEN 50 AND 70)
        |SELECT c_custkey, c_acctbal, c_mktsegment FROM src
        |UNION ALL
        |SELECT c_custkey, c_acctbal, c_mktsegment FROM base
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM src)""".stripMargin,
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,10))) AS DOUBLE) AS sum_disc_price,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin,
    "q02_filter_project" ->
      """SELECT o_orderkey, o_custkey, o_totalprice AS total,
        | upper(o_orderpriority) AS priority
        |FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 150000""".stripMargin,
    "q03_blank_to_null" ->
      """SELECT doc_id,
        | CASE WHEN length(trim(source)) > 0 THEN trim(source) END AS src_clean
        |FROM documents WHERE text IS NOT NULL AND text <> ''""".stripMargin,
    "q04_sentinel_key" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderpriority IS NULL OR o_orderpriority = '' THEN '-1'
        |      ELSE sha256(o_orderpriority) END AS priority_key
        |FROM orders""".stripMargin,
    "q05_join_enrich" ->
      """SELECT o_orderkey, coalesce(c.cnt, 0) AS line_cnt,
        | coalesce(c.qty, 0.0) AS total_qty
        |FROM orders LEFT JOIN (
        |  SELECT l_orderkey, count(*) AS cnt, sum(l_quantity) AS qty
        |  FROM lineitem GROUP BY 1) c ON o_orderkey = c.l_orderkey""".stripMargin,
    "q06_flat_view" ->
      """SELECT o_orderkey, o_totalprice AS total, CAST(o_orderdate AS DATE) AS order_date,
        | c_name AS customer_name, n_name AS nation_name, r_name AS region_name
        |FROM orders
        |LEFT JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "q07_topk_window" ->
      """SELECT o_custkey, o_orderkey, total, CAST(rn AS INT) AS rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice AS total,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "q08_calendar" ->
      """SELECT CAST(year(d)*10000 + month(d)*100 + day(d) AS INT) AS date_key,
        | d AS full_date, dayname(d) AS day_name,
        | CAST(day(d) AS INT) AS day_of_month, CAST(dayofyear(d) AS INT) AS day_of_year,
        | monthname(d) AS month_name, CAST(month(d) AS INT) AS month_num,
        | CAST(quarter(d) AS INT) AS quarter, CAST(year(d) AS INT) AS year
        |FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)""".stripMargin,
    "q09_union" ->
      """SELECT c_name AS name, 'customer' AS src FROM customer
        |UNION ALL SELECT s_name, 'supplier' FROM supplier""".stripMargin,
    "q10_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin,
    "q11_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q12_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q13_merge_upsert" ->
      """WITH src AS (SELECT c_custkey, c_acctbal + 1000.0 AS c_acctbal
        |             FROM customer WHERE c_custkey % 10 = 0)
        |SELECT c_custkey, c_acctbal FROM src
        |UNION ALL
        |SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM src)""".stripMargin,
    "q14_merge_insert_only" ->
      """SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey <= 100
        |UNION ALL
        |SELECT c_custkey, 0.0 AS c_acctbal FROM customer WHERE c_custkey > 100""".stripMargin,
    // json_extract_string(TRY_CAST(... AS JSON)) mirrors from_json exactly:
    // malformed JSON → NULL, nested keys invisible; the CASE mirrors
    // Cols.tryLong (sign + optional truncating fraction)
    "q15_events_json" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(k) AS BIGINT) AS k_sum, CAST(min(k) AS BIGINT) AS k_min,
        | CAST(max(k) AS BIGINT) AS k_max
        |FROM (SELECT event_type,
        |        CASE WHEN trim(v) SIMILAR TO '[+-]?[0-9]{1,18}(\.[0-9]*)?'
        |             THEN CAST(regexp_extract(trim(v), '^[+-]?[0-9]{1,18}') AS BIGINT)
        |        END AS k
        |      FROM (SELECT event_type,
        |              json_extract_string(TRY_CAST(props AS JSON), '$.k') AS v
        |            FROM events))
        |GROUP BY 1""".stripMargin,
    "q56_segment_dedup" ->
      s"""WITH base AS (SELECT doc_id, $ToksSql AS tk FROM documents),
         |seg0 AS (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, CAST(ceil(len(tk)/10.0) AS INT)),
         |    i -> struct_pack(seg_no := i - 1,
         |           seg := array_to_string(tk[(i-1)*10+1 : least(len(tk), i*10)], ' ')))) AS s
         |  FROM base),
         |seg AS (SELECT doc_id, s.seg_no AS seg_no, s.seg AS seg FROM seg0),
         |keep AS (SELECT doc_id, seg_no, seg FROM (
         |  SELECT *, row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_no) AS rn
         |  FROM seg) WHERE rn = 1)
         |SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_no) AS kept_text,
         |       CAST(count(*) AS INT) AS n_kept
         |FROM keep GROUP BY doc_id""".stripMargin,
    "q57_contamination" -> {
      val shingleSql =
        """list_distinct(list_transform(
          |    generate_series(1, greatest(len(tk) - 2, 1)),
          |    i -> CASE WHEN len(tk) >= 3
          |              THEN tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
          |              ELSE array_to_string(tk, ' ') END))""".stripMargin
      s"""WITH probe AS (
         |  SELECT DISTINCT unnest($shingleSql) AS s
         |  FROM (SELECT $ToksSql AS tk FROM documents WHERE doc_id < 5)),
         |hits AS (
         |  SELECT doc_id, unnest($shingleSql) AS s
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents WHERE doc_id >= 5))
         |SELECT doc_id, CAST(count(*) AS INT) AS n_hits
         |FROM hits JOIN probe USING (s)
         |GROUP BY doc_id""".stripMargin
    },
    "q54_checksum" ->
      s"""SELECT count(*) AS n_rows,
         |  CAST(sum(${digestSql(ChecksumCols)}) AS BIGINT) AS checksum
         |FROM orders""".stripMargin,
    "q55_table_diff" -> {
      val nonKey = Seq("o_custkey", "o_orderstatus", "o_orderpriority")
      s"""WITH base AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM orders),
         |replica AS (
         |  SELECT o_orderkey, o_custkey,
         |    CASE WHEN o_orderkey % 101 = 0 THEN 'X' ELSE o_orderstatus END
         |      AS o_orderstatus,
         |    o_orderpriority
         |  FROM base WHERE o_orderkey % 97 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus, o_orderpriority
         |  FROM base WHERE o_orderkey % 103 = 0),
         |l AS (SELECT o_orderkey, ${digestSql(nonKey)} AS lh FROM base),
         |r AS (SELECT o_orderkey, ${digestSql(nonKey)} AS rh FROM replica)
         |SELECT * FROM (
         |  SELECT o_orderkey,
         |    CASE WHEN rh IS NULL THEN 'removed'
         |         WHEN lh IS NULL THEN 'added'
         |         WHEN lh <> rh THEN 'changed'
         |         ELSE 'same' END AS status
         |  FROM l FULL OUTER JOIN r USING (o_orderkey))
         |WHERE status <> 'same'""".stripMargin
    },
    "q53_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
        |       WHERE tok <> '' GROUP BY 1, 2),
        |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, tok, tf, df,
        |  CAST(tf * (n + 1) AS DOUBLE) / (df + 1) AS score,
        |  CAST(row_number() OVER (
        |    PARTITION BY doc_id
        |    ORDER BY CAST(tf * (n + 1) AS DOUBLE) / (df + 1) DESC, tok) AS INT)
        |    AS rank
        |FROM tf JOIN dfreq USING (tok) CROSS JOIN n
        |QUALIFY rank <= 3""".stripMargin,
    "q64_packed_sequences" -> {
      val hashSql = "CAST(substr(regexp_replace(md5(CAST(doc_id AS VARCHAR) || 'ep1'), " +
        "'[a-f]', '', 'g') || '00000000', 1, 8) AS BIGINT)"
      s"""WITH h AS (
         |  SELECT doc_id, text, len($ToksSql) AS toks, $hashSql AS h FROM documents),
         |s AS (
         |  SELECT doc_id, text, CAST(h % 8 AS INT) AS shard,
         |    CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INT) AS pos,
         |    toks
         |  FROM h),
         |p AS (
         |  SELECT text, shard, pos,
         |    CAST(floor(coalesce(sum(toks) OVER (PARTITION BY shard ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0) AS BIGINT) AS bin
         |  FROM s)
         |SELECT shard, bin, string_agg(text, ' ' ORDER BY pos) AS packed_text,
         |  count(*) AS n_docs
         |FROM p GROUP BY shard, bin""".stripMargin
    },
    "q63_bpe_pairs" ->
      s"""WITH p AS (
         |  SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
         |    i -> tk[i] || ' ' || tk[i+1])) AS pair
         |  FROM (SELECT $ToksSql AS tk FROM documents))
         |SELECT pair, count(*) AS n FROM p
         |GROUP BY pair ORDER BY n DESC, pair LIMIT 100""".stripMargin,
    "q65_kmv_distinct" ->
      // the sketch is deterministic, so SQL replays it: distinct 63-bit
      // hashes, rank per group, kth value feeds the same estimator algebra
      """WITH h AS (SELECT DISTINCT lang,
        |    CAST(('0x' || substr(md5(text), 1, 16))::UBIGINT >> 1 AS BIGINT) AS h63
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT lang, h63,
        |    row_number() OVER (PARTITION BY lang ORDER BY h63) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM h),
        |a AS (SELECT lang, max(n) AS n, max(CASE WHEN rn = 64 THEN h63 END) AS kth
        |  FROM r GROUP BY lang)
        |SELECT lang,
        |  CAST(CASE WHEN n < 64 THEN n ELSE 64 END AS INT) AS sketch_n,
        |  CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
        |       ELSE 63.0 * 9223372036854775808.0 / CAST(kth AS DOUBLE) END
        |    AS est_distinct
        |FROM a""".stripMargin,
    "q66_fuzzy_join" ->
      // the oracle pays the quadratic levenshtein cross product the
      // deletion-neighborhood encoding avoids
      """SELECT a.c_custkey AS id1, b.c_custkey AS id2
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey AND levenshtein(a.c_name, b.c_name) <= 1
        |WHERE a.c_mktsegment = 'BUILDING' AND b.c_mktsegment = 'BUILDING'""".stripMargin,
    "q67_vn_slug" -> {
      val from = TextAnalysis.VnFrom
      val to = TextAnalysis.VnTo
      val list = VnPhrases.map(p => s"'$p'").mkString(", ")
      s"""WITH p AS (SELECT doc_id,
         |    ([$list])[CAST(doc_id % 7 + 1 AS INT)] AS phrase
         |  FROM documents),
         |f AS (SELECT doc_id, phrase,
         |    translate(lower(phrase), '$from', '$to') AS folded FROM p)
         |SELECT doc_id, phrase, folded,
         |  regexp_replace(regexp_replace(folded, '[^a-z0-9]+', '-', 'g'),
         |    '^-+|-+$$', '', 'g') AS slug
         |FROM f""".stripMargin
    },
    "q68_histogram" ->
      """WITH b AS (SELECT CAST(least(greatest(floor((n_chars - 0.0) / 30.0), 0), 19) AS INT) AS bin
        |  FROM documents WHERE n_chars IS NOT NULL)
        |SELECT bin, 0.0 + bin * 30.0 AS bin_lo, 0.0 + (bin + 1) * 30.0 AS bin_hi,
        |  count(*) AS cnt
        |FROM b GROUP BY bin""".stripMargin,
    "q69_profile" -> {
      def leg(c: String) =
        s"""SELECT '$c' AS col_name, count($c) AS n,
           |  count(*) - count($c) AS nulls,
           |  CAST(min($c) AS DOUBLE) AS col_min,
           |  CAST(max($c) AS DOUBLE) AS col_max,
           |  CAST(sum(CAST($c AS DECIMAL(28,10))) AS DOUBLE) AS col_sum,
           |  CAST(sum(CAST($c AS DECIMAL(28,10))) AS DOUBLE)
           |    / CAST(count($c) AS DOUBLE) AS col_mean
           |FROM orders""".stripMargin
      Seq("o_orderkey", "o_custkey", "o_totalprice").map(leg)
        .mkString("\nUNION ALL\n")
    },
    "q70_scd2" ->
      """WITH w AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
        |    lag(o_orderstatus) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev,
        |    row_number() OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders),
        |v AS (
        |  SELECT *, sum(CASE WHEN rn = 1
        |        OR o_orderstatus IS DISTINCT FROM prev THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |            ROWS UNBOUNDED PRECEDING) AS version
        |  FROM w),
        |g AS (
        |  SELECT o_custkey, version, max(o_orderstatus) AS o_orderstatus,
        |    min(o_orderdate) AS eff_from
        |  FROM v GROUP BY 1, 2)
        |SELECT o_custkey, o_orderstatus, CAST(version AS INT) AS version,
        |  epoch_us(eff_from) AS effective_from_us,
        |  epoch_us(lead(eff_from) OVER
        |    (PARTITION BY o_custkey ORDER BY version)) AS effective_to_us,
        |  lead(eff_from) OVER (PARTITION BY o_custkey ORDER BY version)
        |    IS NULL AS is_current
        |FROM g""".stripMargin,
    "q71_unpivot" ->
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(m =>
        s"""SELECT l_orderkey, l_linenumber, '$m' AS metric, $m AS value
           |FROM lineitem""".stripMargin).mkString("\nUNION ALL\n"),
    "q73_pagerank" -> {
      // the same five fixed-point iterations, unrolled: rᵢ₊₁(v) =
      // 150000 + Σ incoming ((rᵢ(u)·17)//20)//deg(u); sums cast back to
      // BIGINT (DuckDB sum(BIGINT) widens to HUGEINT)
      val iters = (1 to 5).map { i =>
        s"""c$i AS (SELECT e.dst AS node,
           |    CAST(sum(((r.rank * 17) // 20) // deg.d) AS BIGINT) AS s
           |  FROM e JOIN r${i - 1} r ON r.node = e.src
           |         JOIN deg ON deg.src = e.src
           |  GROUP BY e.dst),
           |r$i AS (SELECT n.node, 150000 + coalesce(c$i.s, 0) AS rank
           |  FROM n LEFT JOIN c$i USING (node))""".stripMargin
      }.mkString(",\n")
      s"""WITH adj AS (
         |  SELECT l_partkey AS src, lead(l_partkey) OVER
         |      (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem),
         |e AS (SELECT DISTINCT src, dst FROM adj
         |      WHERE dst IS NOT NULL AND dst <> src),
         |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM n),
         |$iters
         |SELECT node, rank FROM r5""".stripMargin
    },
    "q74_cms_heavy" -> {
      // identical sketch geometry: ONE md5 per token occurrence, the two
      // 64-bit halves (>>1) give Kirsch-Mitzenmacher double hashing
      // bucket_d = (h1 mod w + d*(h2 mod (w-1) + 1)) mod w
      val w = CmsWidth
      s"""WITH t AS (SELECT unnest($ToksLowerSql) AS tok FROM documents),
         |h AS (SELECT tok,
         |    CAST(('0x' || substr(md5(tok), 1, 16))::UBIGINT >> 1 AS BIGINT)
         |      % $w AS h1m,
         |    CAST(('0x' || substr(md5(tok), 17, 16))::UBIGINT >> 1 AS BIGINT)
         |      % ${w - 1} + 1 AS step
         |  FROM t WHERE tok <> ''),
         |f AS (SELECT tok, d, (h1m + d * step) % $w AS bucket
         |      FROM h CROSS JOIN
         |        (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS d)),
         |counters AS (SELECT d, bucket, count(*) AS cnt FROM f GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT tok, d, bucket FROM f),
         |est AS (SELECT cand.tok AS item, min(cnt) AS est
         |  FROM cand JOIN counters USING (d, bucket) GROUP BY 1)
         |SELECT item, est FROM est WHERE est >= 500""".stripMargin
    },
    "q75_mixture" -> {
      val hashSql = "CAST(substr(regexp_replace(md5(CAST(doc_id AS VARCHAR) " +
        "|| 'mix1'), '[a-f]', '', 'g') || '00000000', 1, 8) AS BIGINT)"
      val quotas = graft.operators.Sampling.apportion(MixtureWeights, MixtureN)
      val langs = MixtureWeights.map { case (g, _) => s"'$g'" }.mkString(", ")
      val keep = quotas.map { case (g, q) => s"(lang = '$g' AND r <= $q)" }
        .mkString("\n  OR ")
      s"""WITH ranked AS (
         |  SELECT doc_id, lang, row_number() OVER
         |      (PARTITION BY lang ORDER BY $hashSql, doc_id) AS r
         |  FROM documents WHERE lang IN ($langs))
         |SELECT doc_id, lang, CAST(r AS INT) AS sample_rank
         |FROM ranked WHERE $keep""".stripMargin
    },
    "q85_scd2_point_in_time" ->
      // same dim derivation as q70, deduped to the highest version per
      // (custkey, effective_from) — the engine's tieBreak=version — then
      // DuckDB's native ASOF JOIN resolves each order's effective version
      """WITH w AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
        |    lag(o_orderstatus) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev,
        |    row_number() OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders),
        |v AS (
        |  SELECT *, sum(CASE WHEN rn = 1
        |        OR o_orderstatus IS DISTINCT FROM prev THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |            ROWS UNBOUNDED PRECEDING) AS version
        |  FROM w),
        |g AS (
        |  SELECT o_custkey, version, max(o_orderstatus) AS status,
        |    min(o_orderdate) AS eff_from
        |  FROM v GROUP BY 1, 2),
        |d AS (
        |  SELECT o_custkey AS ck, eff_from, status, version FROM g
        |  QUALIFY row_number() OVER
        |    (PARTITION BY o_custkey, eff_from ORDER BY version DESC) = 1)
        |SELECT o.o_orderkey, o.o_custkey, epoch_us(o.o_orderdate) AS order_us,
        |  d.status AS status_at_order, CAST(d.version AS INT) AS version
        |FROM orders o ASOF JOIN d
        |  ON o.o_custkey = d.ck AND d.eff_from <= o.o_orderdate""".stripMargin,
    "q86_date_spine" ->
      """SELECT
        |  CAST(year(d) * 10000 + month(d) * 100 + day(d) AS INT) AS date_key,
        |  d, CAST(dayofweek(d) + 1 AS INT) AS dow,
        |  CAST(dayofyear(d) AS INT) AS doy,
        |  CAST(quarter(d) AS INT) AS qtr,
        |  CAST(weekofyear(d) AS INT) AS iso_week
        |FROM (SELECT unnest(generate_series(DATE '1995-01-01',
        |    DATE '1995-12-31', INTERVAL 1 DAY))::DATE AS d)""".stripMargin,
    "q88_event_paths" ->
      """WITH o AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id
        |  FROM events),
        |l AS (SELECT event_type AS e1, lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |p AS (SELECT e1 || '>' || e2 || '>' || e3 AS path FROM l
        |  WHERE e2 IS NOT NULL AND e3 IS NOT NULL)
        |SELECT path, count(*) AS n FROM p
        |GROUP BY path ORDER BY n DESC, path LIMIT 25""".stripMargin,
    "q89_cohort_retention" ->
      """WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |w AS (SELECT user_id, day // 7 AS week FROM d),
        |c AS (SELECT user_id, week,
        |    min(week) OVER (PARTITION BY user_id) AS cohort_week FROM w),
        |u AS (SELECT DISTINCT user_id, week, cohort_week FROM c)
        |SELECT cohort_week, week - cohort_week AS age_weeks,
        |  count(*) AS active_users
        |FROM u GROUP BY 1, 2""".stripMargin,
    "q90_triangles" ->
      """WITH adj AS (
        |  SELECT l_partkey AS src, lead(l_partkey) OVER
        |      (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT src, dst FROM adj
        |       WHERE dst IS NOT NULL AND dst <> src),
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |      FROM e0),
        |tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |       JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT node, count(*) AS triangles FROM corners GROUP BY 1""".stripMargin,
    "q91_mad_outliers" ->
      """WITH m AS (
        |  SELECT c_mktsegment, quantile_cont(c_acctbal, 0.5) AS median
        |  FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1),
        |s AS (
        |  SELECT c.c_mktsegment, count(*) AS n, min(m.median) AS median,
        |    quantile_cont(abs(c.c_acctbal - m.median), 0.5) AS mad
        |  FROM customer c JOIN m USING (c_mktsegment)
        |  WHERE c.c_acctbal IS NOT NULL GROUP BY 1)
        |SELECT s.c_mktsegment, min(s.n) AS n, min(s.median) AS median,
        |  min(s.mad) AS mad,
        |  count(*) FILTER (WHERE abs(c.c_acctbal - s.median) > 3.0 * s.mad)
        |    AS n_outliers
        |FROM customer c JOIN s USING (c_mktsegment)
        |WHERE c.c_acctbal IS NOT NULL
        |GROUP BY 1""".stripMargin,
    "q92_attribution" ->
      """WITH e AS (SELECT user_id, event_type, value, epoch_us(ts) AS t,
        |    event_id FROM events),
        |a AS (SELECT *,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |               IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY t, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ch
        |  FROM e)
        |SELECT coalesce(ch, 'direct') AS channel, count(*) AS conversions,
        |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS revenue
        |FROM a WHERE event_type = 'purchase' GROUP BY 1""".stripMargin,
    "q93_expectations" ->
      """SELECT CAST(rule_no AS INT) AS rule_no, rule, violations,
        |  violations = 0 AS passed FROM (
        |  SELECT 0 AS rule_no, 'not_null(o_custkey)' AS rule,
        |    CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
        |      AS violations FROM orders
        |  UNION ALL
        |  SELECT 1, 'accepted_values(o_orderstatus)',
        |    CAST(count(*) FILTER (WHERE o_orderstatus IS NULL
        |      OR o_orderstatus NOT IN ('O','F','P')) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 2, 'in_range(o_totalprice)',
        |    CAST(count(*) FILTER (WHERE o_totalprice IS NOT NULL
        |      AND (o_totalprice < 0.0 OR o_totalprice > 600000.0)) AS BIGINT)
        |    FROM orders
        |  UNION ALL
        |  SELECT 3, 'satisfies(date_not_future)',
        |    CAST(count(*) FILTER (WHERE NOT coalesce(
        |      o_orderdate <= TIMESTAMP '1998-12-31 00:00:00', false)) AS BIGINT)
        |    FROM orders
        |  UNION ALL
        |  SELECT 4, 'unique(o_orderkey)',
        |    CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM
        |    (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
        |  UNION ALL
        |  SELECT 5, 'ref_integrity(o_custkey)',
        |    CAST(count(*) AS BIGINT) FROM orders
        |    WHERE o_custkey IS NOT NULL
        |      AND o_custkey NOT IN (SELECT c_custkey FROM customer))""".stripMargin,
    "q94_incremental_agg" ->
      """SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT) AS ym,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS DOUBLE)
        |    AS sum_price,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS mean_price
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q95_canonical_pick" -> canonicalPickOracle,
    "q96_split" ->
      s"""SELECT doc_id, $IdBucketSql AS bucket,
         |  CASE WHEN $IdBucketSql < 8000 THEN 'train'
         |       WHEN $IdBucketSql < 9000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin,
    "q97_rfm" ->
      """WITH per AS (
        |  SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_order,
        |    count(*) AS frequency,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS monetary
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT per.*, CAST(date_diff('day', last_order,
        |    (SELECT max(last_order) FROM per)) AS BIGINT) AS recency_days
        |  FROM per),
        |c AS (SELECT
        |    quantile_cont(CAST(recency_days AS DOUBLE), [0.25, 0.5, 0.75]) AS rq,
        |    quantile_cont(CAST(frequency AS DOUBLE), [0.25, 0.5, 0.75]) AS fq,
        |    quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mq
        |  FROM r)
        |SELECT o_custkey, recency_days, frequency, monetary,
        |  4 - ((CASE WHEN CAST(recency_days AS DOUBLE) > rq[1] THEN 1 ELSE 0 END)
        |     + (CASE WHEN CAST(recency_days AS DOUBLE) > rq[2] THEN 1 ELSE 0 END)
        |     + (CASE WHEN CAST(recency_days AS DOUBLE) > rq[3] THEN 1 ELSE 0 END))
        |    AS r_score,
        |  1 + ((CASE WHEN CAST(frequency AS DOUBLE) > fq[1] THEN 1 ELSE 0 END)
        |     + (CASE WHEN CAST(frequency AS DOUBLE) > fq[2] THEN 1 ELSE 0 END)
        |     + (CASE WHEN CAST(frequency AS DOUBLE) > fq[3] THEN 1 ELSE 0 END))
        |    AS f_score,
        |  1 + ((CASE WHEN monetary > mq[1] THEN 1 ELSE 0 END)
        |     + (CASE WHEN monetary > mq[2] THEN 1 ELSE 0 END)
        |     + (CASE WHEN monetary > mq[3] THEN 1 ELSE 0 END)) AS m_score
        |FROM r, c""".stripMargin,
    "q108_setsim_join" ->
      // the oracle pays the quadratic all-pairs cost prefix filtering
      // avoids; the integer threshold (2·|∩| ≥ 1·|∪|) is shared
      """WITH toks AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ',
        |    'g')), ' ') AS tk FROM documents),
        |sets AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 2, 1)),
        |    i -> CASE WHEN len(tk) >= 3
        |              THEN tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |              ELSE array_to_string(tk, ' ') END)) AS s
        |  FROM toks)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
        |    AS jaccard
        |FROM sets a JOIN sets b ON a.doc_id < b.doc_id
        |WHERE 2 * len(list_intersect(a.s, b.s))
        |  >= 1 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))""".stripMargin,
    "q109_jl_projection" ->
      // same ±1 LCG matrix, unnest-with-ordinality replay; sums cast back
      // to BIGINT (DuckDB sum(BIGINT) widens to HUGEINT)
      s"""WITH q AS (SELECT vec_id, ${quantSql("embedding")} AS qv
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |x AS (SELECT vec_id, unnest(qv) AS v,
         |    unnest(generate_series(1, len(qv))) AS j FROM q),
         |s AS (SELECT vec_id, p.p AS p,
         |    CAST(sum(v * (CASE WHEN ((CAST(1103515245 AS BIGINT)
         |        * (p.p * 64 + (j - 1)) + 12345) % 2147483648) % 2 = 0
         |      THEN 1 ELSE -1 END)) AS BIGINT) AS o
         |  FROM x CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS p) p
         |  GROUP BY 1, 2)
         |SELECT vec_id, array_to_string(list(o ORDER BY p), ',') AS proj
         |FROM s GROUP BY vec_id""".stripMargin,
    "q110_pq_encode" ->
      // identical arithmetic codebooks; argmin via row_number(dist, k)
      s"""WITH q AS (SELECT vec_id, ${quantSql("embedding")} AS qv
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |d AS (SELECT vec_id, s.s AS s, k.k AS k,
         |    CAST(list_sum(list_transform(
         |      list_transform(generate_series(0, 15), dd ->
         |        qv[s.s * 16 + dd + 1]
         |          - (((CAST(69069 AS BIGINT) * ((CAST(s.s AS BIGINT) * 16
         |               + k.k) * 16 + dd) + 362437) % 2147483648) % 401 - 200)),
         |      z -> z * z)) AS BIGINT) AS dist
         |  FROM q
         |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) s
         |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS k) k),
         |pick AS (SELECT vec_id, s, k, dist,
         |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, k) AS rn
         |  FROM d)
         |SELECT vec_id, array_to_string(list(k ORDER BY s), ',') AS codes,
         |  CAST(sum(dist) AS BIGINT) AS recon_err
         |FROM pick WHERE rn = 1 GROUP BY vec_id""".stripMargin,
    "q111_tfidf_topk" ->
      s"""WITH tk AS (SELECT doc_id, unnest($ToksLowerSql) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1
         |  HAVING count(*) >= 2),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df, score
         |FROM (
         |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    CAST(tf.tf AS DOUBLE)
         |      * ((CAST(n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
         |         / (CAST(df.df AS DOUBLE) + 0.5)) AS score,
         |    row_number() OVER (PARTITION BY tf.doc_id ORDER BY
         |      CAST(tf.tf AS DOUBLE)
         |        * ((CAST(n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
         |           / (CAST(df.df AS DOUBLE) + 0.5)) DESC, tf.term) AS rank
         |  FROM tf JOIN df USING (term), n)
         |WHERE rank <= 5""".stripMargin,
    "q112_cooccur_lift" ->
      s"""WITH tk0 AS (SELECT doc_id, unnest($ToksLowerSql) AS tok
         |  FROM documents),
         |tk AS (SELECT DISTINCT doc_id, tok FROM tk0),
         |df AS (SELECT tok, count(*) AS n_t FROM tk GROUP BY 1
         |  HAVING count(*) >= 5),
         |cap AS (SELECT doc_id, tok FROM (
         |    SELECT tk.doc_id, tk.tok,
         |      row_number() OVER (PARTITION BY tk.doc_id ORDER BY tk.tok) AS rn
         |    FROM tk JOIN df USING (tok)) WHERE rn <= 20),
         |na AS (SELECT tok, count(*) AS n_tok FROM cap GROUP BY 1),
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM cap),
         |p AS (SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_ab
         |  FROM cap a JOIN cap b ON a.doc_id = b.doc_id AND a.tok < b.tok
         |  GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT tok_a, tok_b, n_ab, na1.n_tok AS n_a, na2.n_tok AS n_b,
         |  CAST(n_ab * n_docs AS DOUBLE)
         |    / CAST(na1.n_tok * na2.n_tok AS DOUBLE) AS lift
         |FROM p JOIN na na1 ON na1.tok = p.tok_a
         |       JOIN na na2 ON na2.tok = p.tok_b, nd""".stripMargin,
    "q113_boilerplate" ->
      // q56's segmentation, but segments in >= 2 DISTINCT docs are removed
      // from every copy (anti-join) instead of keeping the first
      s"""WITH base AS (SELECT doc_id, $ToksSql AS tk FROM documents),
         |seg0 AS (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, CAST(ceil(len(tk)/10.0) AS INT)),
         |    i -> struct_pack(seg_no := i - 1,
         |           seg := array_to_string(tk[(i-1)*10+1 : least(len(tk), i*10)], ' ')))) AS s
         |  FROM base),
         |seg AS (SELECT doc_id, s.seg_no AS seg_no, s.seg AS seg FROM seg0),
         |boiler AS (SELECT seg FROM (
         |    SELECT seg, count(DISTINCT doc_id) AS c FROM seg GROUP BY 1)
         |  WHERE c >= 2),
         |keep AS (SELECT * FROM seg ANTI JOIN boiler USING (seg)),
         |tot AS (SELECT doc_id, CAST(ceil(len(tk)/10.0) AS INT) AS n_total
         |  FROM base)
         |SELECT k.doc_id, string_agg(seg, ' ' ORDER BY seg_no) AS kept_text,
         |  CAST(count(*) AS INT) AS n_kept,
         |  CAST(any_value(n_total) - count(*) AS INT) AS n_dropped
         |FROM keep k JOIN tot USING (doc_id) GROUP BY k.doc_id""".stripMargin,
    "q114_incremental_neardup" ->
      // q24's band-equal enumeration, restricted to batch-side (id >= 30)
      // right legs — every pair has its newer doc as doc_id
      s"""WITH $minHashSigCtes,
         |pairs AS (
         |  SELECT a.doc_id AS match_id, b.doc_id AS doc_id,
         |    a.sh AS sh1, b.sh AS sh2
         |  FROM sig a JOIN sig b
         |    ON a.doc_id < b.doc_id AND b.doc_id >= 30 AND ($minHashBandEq))
         |SELECT doc_id, match_id,
         |  CAST(len(list_intersect(sh1, sh2)) AS DOUBLE)
         |    / len(list_distinct(sh1 || sh2)) AS jaccard
         |FROM pairs
         |WHERE CAST(len(list_intersect(sh1, sh2)) AS DOUBLE)
         |    / len(list_distinct(sh1 || sh2)) >= 0.5""".stripMargin,
    "q115_minmax_scale" ->
      // per-dimension bounds over the unnested corpus; `//` floors like
      // the engine's pmod-then-divide (operands non-negative)
      s"""WITH q AS (SELECT vec_id, ${quantSql("embedding")} AS qv
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |x AS (SELECT vec_id, unnest(qv) AS v,
         |    unnest(generate_series(1, len(qv))) AS j FROM q),
         |b AS (SELECT j, min(v) AS mn, max(v) AS mx FROM x GROUP BY 1),
         |s AS (SELECT vec_id, j,
         |    CASE WHEN mx > mn THEN ((v - mn) * 10000) // (mx - mn)
         |         ELSE 0 END AS sv
         |  FROM x JOIN b USING (j))
         |SELECT vec_id, array_to_string(list(CAST(sv AS BIGINT) ORDER BY j), ',')
         |  AS scaled
         |FROM s GROUP BY vec_id""".stripMargin,
    "q117_adc_topk" ->
      // q110's codes chain + a LUT of query→centroid distances; the query
      // vector is the same LCG the Scala side ships as a literal
      s"""WITH q AS (SELECT vec_id, ${quantSql("embedding")} AS qv
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |d AS (SELECT vec_id, s.s AS s, k.k AS k,
         |    CAST(list_sum(list_transform(
         |      list_transform(generate_series(0, 15), dd ->
         |        qv[s.s * 16 + dd + 1]
         |          - (((CAST(69069 AS BIGINT) * ((CAST(s.s AS BIGINT) * 16
         |               + k.k) * 16 + dd) + 362437) % 2147483648) % 401 - 200)),
         |      z -> z * z)) AS BIGINT) AS dist
         |  FROM q
         |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) s
         |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS k) k),
         |codes AS (SELECT vec_id, s, k FROM (
         |  SELECT vec_id, s, k,
         |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, k) AS rn
         |  FROM d) WHERE rn = 1),
         |lut AS (SELECT s.s AS s, k.k AS k,
         |    CAST(list_sum(list_transform(
         |      list_transform(generate_series(0, 15), dd ->
         |        (((CAST(7919 AS BIGINT) * (s.s * 16 + dd) + 104729)
         |           % 2147483648) % 801 - 400)
         |          - (((CAST(69069 AS BIGINT) * ((CAST(s.s AS BIGINT) * 16
         |               + k.k) * 16 + dd) + 362437) % 2147483648) % 401 - 200)),
         |      z -> z * z)) AS BIGINT) AS qdist
         |  FROM (SELECT unnest(generate_series(0, 3)) AS s) s
         |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS k) k)
         |SELECT vec_id, CAST(sum(qdist) AS BIGINT) AS adc_dist
         |FROM codes c JOIN lut l USING (s, k)
         |GROUP BY vec_id
         |ORDER BY adc_dist, vec_id LIMIT 20""".stripMargin,
    "q118_er_blocking" ->
      // quadratic within-the-SQL oracle; the engine's prefix filter must
      // return the identical pair set (chr(1) = the element separator)
      """WITH g AS (SELECT c_custkey AS id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(c_name) - 2, 1)),
        |    i -> CAST(c_nationkey AS VARCHAR) || chr(1) || substr(c_name, i, 3))) AS s
        |  FROM customer)
        |SELECT a.id AS id1, b.id AS id2,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |FROM g a JOIN g b ON a.id < b.id
        |WHERE 5 * len(list_intersect(a.s, b.s))
        |  >= 4 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))""".stripMargin,
    "q119_normalize" ->
      """SELECT doc_id,
        |  nfc_normalize(strip_accents(lower(text))) AS norm_text,
        |  nfc_normalize(strip_accents(lower(text))) <> text AS changed
        |FROM documents""".stripMargin,
    "q123_sliding_distinct" ->
      // exact sliding count-distinct: valid because every 3-hour window's
      // cardinality is far below k, where the sketch IS the distinct set
      """WITH b AS (SELECT DISTINCT epoch_us(ts) // 3600000000 AS bucket,
        |    user_id FROM events),
        |bk AS (SELECT DISTINCT bucket FROM b)
        |SELECT bk.bucket,
        |  CAST(count(DISTINCT b.user_id) AS DOUBLE) AS distinct_users
        |FROM bk JOIN b ON b.bucket BETWEEN bk.bucket - 2 AND bk.bucket
        |GROUP BY 1""".stripMargin,
    "q124_source_curation" ->
      """WITH stats AS (
        |  SELECT source, count(*) AS n_docs, sum(n_chars) AS sum_chars
        |  FROM documents GROUP BY 1),
        |kept AS (
        |  SELECT source FROM stats
        |  WHERE n_docs >= 10 AND sum_chars >= n_docs * 280
        |    AND sum_chars <= n_docs * 330)
        |SELECT d.source, d.lang, count(*) AS n_kept
        |FROM documents d JOIN kept USING (source)
        |GROUP BY 1, 2""".stripMargin,
    "q125_lang_floor" ->
      """WITH r AS (
        |  SELECT lang, n_chars,
        |    percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS pr
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN pr >= 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  min(CASE WHEN pr >= 0.1 THEN n_chars END) AS floor_chars
        |FROM r GROUP BY 1""".stripMargin,
    "q126_equidepth_bins" ->
      """WITH b AS (
        |  SELECT lang, n_chars,
        |    CAST(ntile(4) OVER (PARTITION BY lang
        |                        ORDER BY n_chars, doc_id) AS INT) AS bin
        |  FROM documents)
        |SELECT lang, bin, count(*) AS n_docs,
        |  min(n_chars) AS lo_chars, max(n_chars) AS hi_chars
        |FROM b GROUP BY 1, 2""".stripMargin,
    "q127_hard_negatives" ->
      s"""WITH c AS (SELECT vec_id AS corpus_id, label AS c_label,
         |             ${quantSql("embedding")} AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, label AS q_label,
         |        ${quantSql("embedding")} AS v FROM embeddings
         |      WHERE vec_id < 5),
         |s AS (SELECT query_id, corpus_id, c_label,
         |        list_dot_product(q.v, c.v)
         |          / (sqrt(list_dot_product(q.v, q.v))
         |             * sqrt(list_dot_product(c.v, c.v))) AS cos
         |      FROM q, c WHERE c_label <> q_label)
         |SELECT query_id, corpus_id, c_label AS neg_label,
         |  CAST(rn AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cos DESC, corpus_id) AS rn
         |  FROM s)
         |WHERE rn <= 5""".stripMargin,
    "q128_diversity" ->
      """WITH s AS (SELECT source AS k, count(*) AS c FROM documents GROUP BY 1),
        |l AS (SELECT lang AS k, count(*) AS c FROM documents GROUP BY 1),
        |g AS (
        |  SELECT 'source' AS dimension, CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(c) AS BIGINT) AS n_docs, CAST(sum(c*c) AS BIGINT) AS sum_sq
        |  FROM s
        |  UNION ALL
        |  SELECT 'lang', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT),
        |    CAST(sum(c*c) AS BIGINT)
        |  FROM l)
        |SELECT dimension, n_groups, n_docs,
        |  CAST(n_docs*n_docs - sum_sq AS DOUBLE)
        |    / CAST(n_docs*n_docs AS DOUBLE) AS gini_simpson
        |FROM g""".stripMargin,
    "q129_doc_chunks" ->
      s"""WITH d AS (
         |  SELECT doc_id, $ToksSql AS toks FROM documents),
         |n AS (SELECT doc_id, toks, len(toks) AS n_toks FROM d),
         |e AS (SELECT doc_id, toks, n_toks,
         |        unnest(range(0, greatest(n_toks, 1), 25)) AS start FROM n)
         |SELECT doc_id, CAST(start // 25 AS INT) AS chunk_no,
         |  array_to_string(toks[start+1 : start+50], ' ') AS chunk_text,
         |  CAST(least(50, n_toks - start) AS BIGINT) AS chunk_toks
         |FROM e WHERE start = 0 OR start + 25 < n_toks""".stripMargin,
    "q130_k_anonymity" ->
      """WITH h AS (
        |  SELECT event_type, CAST(hour(ts) AS INT) AS hr,
        |    count(*) AS n_rows
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, hr // 6 AS band,
        |    CAST(sum(n_rows) AS BIGINT) AS band_rows
        |  FROM h GROUP BY 1, 2)
        |SELECT h.event_type, h.hr, h.n_rows,
        |  CASE WHEN h.n_rows >= 100 THEN 'hour'
        |       WHEN b.band_rows >= 100 THEN 'band'
        |       ELSE 'suppressed' END AS level
        |FROM h JOIN b ON h.event_type = b.event_type AND h.hr // 6 = b.band""".stripMargin,
    "q131_entity_snapshot" ->
      """WITH r AS (
        |  SELECT user_id, event_type, value, ts,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events),
        |l AS (SELECT * FROM r WHERE rn = 1)
        |SELECT user_id,
        |  max(CASE WHEN event_type = 'signup' THEN value END) AS signup_value,
        |  max(CASE WHEN event_type = 'click' THEN value END) AS click_value,
        |  max(CASE WHEN event_type = 'view' THEN value END) AS view_value,
        |  max(CASE WHEN event_type = 'purchase' THEN value END) AS purchase_value,
        |  max(CASE WHEN event_type = 'error' THEN value END) AS error_value,
        |  date_trunc('second', max(ts)) AS last_seen
        |FROM l GROUP BY 1""".stripMargin,
    "q132_decayed_value" ->
      """WITH a AS (SELECT max(CAST(ts AS DATE)) AS anchor_d FROM events),
        |e AS (SELECT user_id, value,
        |        least(date_diff('day', CAST(ts AS DATE), a.anchor_d), 20) AS age
        |      FROM events, a),
        |c AS (SELECT user_id,
        |        (CAST(1 AS BIGINT) << (20 - age)) AS wt,
        |        CAST(floor(value * 1e6) AS BIGINT)
        |          * (CAST(1 AS BIGINT) << (20 - age)) AS contrib
        |      FROM e)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(contrib AS DECIMAL(38,0))) AS DOUBLE)
        |    / CAST(sum(CAST(wt AS DECIMAL(38,0))) AS DOUBLE) / 1e6
        |    AS decayed_value
        |FROM c GROUP BY 1""".stripMargin,
    "q133_sentence_stats" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_transform(
        |      list_filter(
        |        list_transform(string_split_regex(text, '[.!?]+'), x -> trim(x)),
        |        x -> x <> ''),
        |      sn -> len(string_split_regex(sn, '\s+'))) AS wc
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(wc) AS BIGINT) AS n_sentences,
        |  CAST(coalesce(list_sum(wc), 0) AS BIGINT) AS n_words,
        |  CASE WHEN len(wc) > 0
        |       THEN CAST(list_sum(wc) AS DOUBLE) / len(wc) END AS avg_sent_words,
        |  CAST(list_max(wc) AS BIGINT) AS max_sent_words,
        |  CASE WHEN len(wc) > 0
        |       THEN CAST(len(list_filter(wc, x -> x < 4)) AS DOUBLE) / len(wc)
        |       END AS frac_short
        |FROM w""".stripMargin,
    "q134_containment_join" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 2, 1)),
        |    i -> CASE WHEN len(tk) >= 3
        |              THEN tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |              ELSE array_to_string(tk, ' ') END)) AS sh
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
        |        FROM documents WHERE doc_id < 50))
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) AS cont_1,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh) AS cont_2
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh)) > 0""".stripMargin,
    "q135_label_balance" ->
      """WITH m AS (
        |  SELECT min(n) AS min_n FROM (
        |    SELECT label, count(*) AS n FROM embeddings GROUP BY 1)),
        |r AS (
        |  SELECT vec_id, label,
        |    row_number() OVER (PARTITION BY label ORDER BY
        |      (CAST(substr(regexp_replace(md5(CAST(vec_id AS VARCHAR)),
        |         '[a-f]', '', 'g') || '00000000', 1, 8) AS BIGINT) % 10000),
        |      vec_id) AS rn
        |  FROM embeddings)
        |SELECT vec_id, label FROM r, m WHERE rn <= min_n""".stripMargin,
    "q136_markov_transitions" ->
      """WITH t AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n_trans
        |      FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_trans,
        |  CAST(n_trans AS DOUBLE)
        |    / sum(n_trans) OVER (PARTITION BY from_type) AS prob
        |FROM c""".stripMargin,
    "q137_contingency" ->
      """WITH cells AS (
        |  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        |m AS (
        |  SELECT lang, source, o,
        |    CAST(sum(o) OVER (PARTITION BY lang) AS BIGINT) AS row_n,
        |    CAST(sum(o) OVER (PARTITION BY source) AS BIGINT) AS col_n,
        |    CAST(sum(o) OVER () AS BIGINT) AS tot
        |  FROM cells),
        |d AS (SELECT *, CAST(o*tot - row_n*col_n AS DOUBLE) AS dev_d FROM m)
        |SELECT lang, source, o,
        |  CAST(row_n*col_n AS DOUBLE) / CAST(tot AS DOUBLE) AS expected,
        |  dev_d * dev_d
        |    / (CAST(row_n*col_n AS DOUBLE) * CAST(tot AS DOUBLE)) AS chi2_cell
        |FROM d""".stripMargin,
    "q138_session_metrics" ->
      """WITH sess AS (
        |  SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |    count(*) AS n_events
        |  FROM (
        |    SELECT user_id, ts,
        |      sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                             ROWS UNBOUNDED PRECEDING) AS session_id
        |    FROM (
        |      SELECT user_id, ts,
        |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |               OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
        |                  > 600000000
        |             THEN 1 ELSE 0 END AS new_session
        |      FROM events))
        |  GROUP BY user_id, session_id)
        |SELECT user_id,
        |  count(*) AS n_sessions,
        |  CAST(sum(n_events) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS bounce_rate,
        |  CAST(sum(epoch_us(session_end) - epoch_us(session_start)) AS DOUBLE)
        |    / count(*) / 1e6 AS avg_session_secs
        |FROM sess GROUP BY 1""".stripMargin,
    "q139_period_over_period" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, n,
        |  lag(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev_n,
        |  CAST(n - lag(n, 1) OVER (PARTITION BY event_type ORDER BY day)
        |       AS DOUBLE)
        |    / lag(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS growth
        |FROM daily""".stripMargin,
    "q140_cluster_quality" ->
      s"""WITH q AS (SELECT vec_id, label, ${quantSql("embedding")} AS qv
         |           FROM embeddings),
         |nn AS (SELECT label, count(*) AS n FROM q GROUP BY 1),
         |e AS (SELECT label, vec_id, unnest(qv) AS v,
         |        unnest(range(1, len(qv)+1)) AS d FROM q),
         |m AS (SELECT label, d, CAST(sum(v) AS BIGINT) AS sv
         |      FROM e GROUP BY 1, 2),
         |c AS (SELECT e.label, e.vec_id,
         |        CAST(sum((nn.n * e.v - m.sv) * (nn.n * e.v - m.sv))
         |             AS BIGINT) AS contrib
         |      FROM e JOIN m ON e.label = m.label AND e.d = m.d
         |      JOIN nn ON nn.label = e.label
         |      GROUP BY 1, 2)
         |SELECT c.label, nn.n AS n,
         |  CAST(sum(CAST(contrib AS DECIMAL(38,0))) AS DOUBLE)
         |    / CAST(nn.n * nn.n AS DOUBLE) / 1e6 AS inertia,
         |  CAST(sum(CAST(contrib AS DECIMAL(38,0))) AS DOUBLE)
         |    / CAST(nn.n * nn.n * nn.n AS DOUBLE) / 1e6 AS mean_sq_dist
         |FROM c JOIN nn ON nn.label = c.label
         |GROUP BY 1, 2""".stripMargin,
    "q141_lang_confusion" ->
      s"""WITH g AS ($langIdOracle),
         |m AS (SELECT d.lang AS actual, g.lang_guess AS predicted,
         |        count(*) AS n
         |      FROM documents d JOIN g USING (doc_id) GROUP BY 1, 2)
         |SELECT actual, predicted, n,
         |  CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY actual) AS row_share
         |FROM m""".stripMargin,
    "q142_temperature_quotas" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |s AS (SELECT lang, n, sqrt(CAST(n AS DOUBLE)) AS sq,
        |        list_reduce(list_sort(list(sqrt(CAST(n AS DOUBLE))) OVER ()),
        |                    (a, x) -> a + x) AS ssum
        |      FROM c),
        |b AS (SELECT lang, n, sq / ssum * 1000 AS rawq,
        |        CAST(floor(sq / ssum * 1000) AS BIGINT) AS base
        |      FROM s),
        |f AS (SELECT lang, n, base,
        |        1000 - CAST(sum(base) OVER () AS BIGINT) AS leftover,
        |        row_number() OVER (ORDER BY rawq - base DESC, lang) AS rk
        |      FROM b)
        |SELECT lang, n,
        |  base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota
        |FROM f""".stripMargin,
    "q143_pair_features" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars, lang,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
        |  FROM documents WHERE doc_id < 40),
        |sh AS (
        |  SELECT doc_id, n_chars, lang, list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 2, 1)),
        |    i -> CASE WHEN len(tk) >= 3
        |              THEN tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |              ELSE array_to_string(tk, ' ') END)) AS sh
        |  FROM d)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(a.sh || b.sh)) AS jaccard,
        |  CAST(least(a.n_chars, b.n_chars) AS DOUBLE)
        |    / greatest(a.n_chars, b.n_chars) AS len_ratio,
        |  a.lang = b.lang AS same_lang
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id""".stripMargin,
    "q144_readability" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))
        |         AS BIGINT) AS n_words,
        |    CAST(len(list_filter(
        |      list_transform(string_split_regex(text, '[.!?]+'), x -> trim(x)),
        |      x -> x <> '')) AS BIGINT) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |         AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) AS flesch
        |FROM m WHERE n_words > 0 AND n_sentences > 0""".stripMargin,
    "q149_vocab_coverage" ->
      s"""WITH tk AS (SELECT unnest($ToksLowerSql) AS tok FROM documents),
         |t2 AS (SELECT tok FROM tk WHERE tok <> ''),
         |c AS (SELECT tok, count(*) AS c FROM t2 GROUP BY 1),
         |r AS (SELECT tok, c,
         |        row_number() OVER (ORDER BY c DESC, tok) AS rk,
         |        sum(c) OVER (ORDER BY c DESC, tok
         |                     ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM c),
         |st AS (SELECT CAST(sum(c) AS BIGINT) AS total_occ,
         |         count(*) AS n_distinct FROM c),
         |k AS (SELECT unnest([100, 500, 1000]) AS vocab_size)
         |SELECT CAST(k.vocab_size AS INT) AS vocab_size,
         |  CAST(least(k.vocab_size, st.n_distinct) AS BIGINT) AS tokens_used,
         |  CAST(r.cum AS BIGINT) AS occurrences_covered,
         |  CAST(r.cum AS DOUBLE) / st.total_occ AS coverage
         |FROM k CROSS JOIN st
         |JOIN r ON r.rk = least(k.vocab_size, st.n_distinct)""".stripMargin,
    "q150_burst_detection" ->
      """WITH m AS (
        |  SELECT epoch_us(ts) // 60000000 AS minute, count(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT minute, n,
        |  quantile_cont(n, 0.5) OVER (ORDER BY minute
        |    ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS trail_med,
        |  (quantile_cont(n, 0.5) OVER (ORDER BY minute
        |     ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) IS NOT NULL
        |   AND CAST(n AS DOUBLE) > 3.0 * quantile_cont(n, 0.5) OVER (
        |     ORDER BY minute ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
        |    AS burst
        |FROM m""".stripMargin,
    "q148_packing_report" -> {
      val hashSql = "CAST(substr(regexp_replace(md5(CAST(doc_id AS VARCHAR) || 'ep1'), " +
        "'[a-f]', '', 'g') || '00000000', 1, 8) AS BIGINT)"
      s"""WITH h AS (
         |  SELECT doc_id, len($ToksSql) AS toks, $hashSql AS h FROM documents),
         |s AS (
         |  SELECT doc_id, CAST(h % 8 AS INT) AS shard,
         |    CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INT) AS pos,
         |    toks
         |  FROM h),
         |p AS (
         |  SELECT shard, toks,
         |    CAST(floor(coalesce(sum(toks) OVER (PARTITION BY shard ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0)
         |      AS BIGINT) AS bin
         |  FROM s),
         |b AS (SELECT shard, bin, CAST(sum(toks) AS BIGINT) AS bin_tokens,
         |        count(*) AS n_docs
         |      FROM p GROUP BY 1, 2)
         |SELECT shard, count(*) AS n_bins,
         |  CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
         |  max(bin_tokens) AS max_bin_tokens, min(bin_tokens) AS min_bin_tokens,
         |  CAST(sum(bin_tokens) AS DOUBLE) / count(*) AS mean_fill
         |FROM b GROUP BY 1""".stripMargin
    },
    "q153_minhash_recall" ->
      s"""WITH $minHashSigCtes,
         |cand AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.sh AS sh1, b.sh AS sh2
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($minHashBandEq)
         |  WHERE b.doc_id < 50),
         |pred AS (
         |  SELECT id1, id2 FROM cand
         |  WHERE CAST(len(list_intersect(sh1, sh2)) AS DOUBLE)
         |          / len(list_distinct(sh1 || sh2)) >= 0.5),
         |truth AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE b.doc_id < 50
         |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |          / len(list_distinct(a.sh || b.sh)) >= 0.5),
         |hit AS (SELECT t.id1 FROM truth t JOIN pred p
         |        ON t.id1 = p.id1 AND t.id2 = p.id2)
         |SELECT (SELECT count(*) FROM truth) AS n_truth,
         |  (SELECT count(*) FROM pred) AS n_pred,
         |  (SELECT count(*) FROM hit) AS n_hit,
         |  CASE WHEN (SELECT count(*) FROM truth) > 0 THEN
         |    CAST((SELECT count(*) FROM hit) AS DOUBLE)
         |      / (SELECT count(*) FROM truth) END AS recall""".stripMargin,
    // The 8 BPE merge rounds unrolled as chained CTEs (the q73/q116
    // technique applied to Sennrich'16): each round re-derives the
    // exploded (word, pos, symbol) frame after picking the best pair by
    // (count desc, pair) and applying the greedy left-fold merge. The
    // fold is expressed POSITIONALLY: a position matches when it starts
    // the best pair; within a run of CONSECUTIVE matches (which only
    // arises when a = b, e.g. "eeee"), greedy merging takes the even
    // offsets from the run start — exactly the accumulator-tail fold the
    // engine's Bpe.applyMerge computes, since a merged token a||b can
    // never re-match a within the same round (a||b ≠ a).
    "q152_bpe_subwords" -> {
      def round(r: Int): String = {
        val p = r - 1
        s"""e$r AS MATERIALIZED (SELECT word, wcount, i, s,
           |  lead(s) OVER (PARTITION BY word ORDER BY i) AS nxt FROM x$p),
           |b$r AS MATERIALIZED (SELECT a, b FROM (
           |    SELECT s AS a, nxt AS b, sum(wcount) AS c FROM e$r
           |    WHERE nxt IS NOT NULL GROUP BY 1, 2)
           |  ORDER BY c DESC, a, b LIMIT 1),
           |m$r AS MATERIALIZED (SELECT word, wcount, i, s,
           |    (coalesce(s = (SELECT a FROM b$r), FALSE)
           |     AND coalesce(nxt = (SELECT b FROM b$r), FALSE)) AS m
           |  FROM e$r),
           |g$r AS (SELECT *, count(CASE WHEN NOT m THEN 1 END) OVER
           |    (PARTITION BY word ORDER BY i) AS grp FROM m$r),
           |y$r AS (SELECT *, m AND ((i - min(CASE WHEN m THEN i END) OVER
           |    (PARTITION BY word, grp)) % 2 = 0) AS st FROM g$r),
           |c$r AS (SELECT *, coalesce(lag(st) OVER
           |    (PARTITION BY word ORDER BY i), FALSE) AS consumed FROM y$r),
           |x$r AS MATERIALIZED (SELECT word, wcount,
           |    row_number() OVER (PARTITION BY word ORDER BY i) AS i,
           |    CASE WHEN st THEN (SELECT a || b FROM b$r) ELSE s END AS s
           |  FROM c$r WHERE NOT consumed)""".stripMargin
      }
      s"""WITH w0 AS MATERIALIZED (
         |  SELECT word, count(*) AS wcount FROM (
         |    SELECT unnest(string_split(trim(regexp_replace(lower(text),
         |      '\\s+', ' ', 'g')), ' ')) AS word FROM documents)
         |  WHERE word <> '' GROUP BY 1
         |  ORDER BY wcount DESC, word LIMIT 10000),
         |x0 AS MATERIALIZED (SELECT word, wcount,
         |    unnest(generate_series(1, length(word))) AS i,
         |    unnest(list_transform(generate_series(1, length(word)),
         |      j -> substr(word, j, 1))) AS s
         |  FROM w0),
         |${(1 to 8).map(round).mkString(",\n")}
         |SELECT s AS subword, CAST(sum(wcount) AS BIGINT) AS n
         |FROM x8 GROUP BY 1 ORDER BY n DESC, subword LIMIT 50""".stripMargin
    },
    "q151_dedup_weights" ->
      s"""WITH RECURSIVE $dedupClusterCtes,
         |asgn AS (
         |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN cc c ON c.node = d.doc_id),
         |sizes AS (SELECT cluster_id, count(*) AS cluster_size
         |          FROM asgn GROUP BY 1)
         |SELECT a.doc_id, a.cluster_id, s.cluster_size,
         |  CAST(1.0 AS DOUBLE) / s.cluster_size AS sample_weight
         |FROM asgn a JOIN sizes s USING (cluster_id)""".stripMargin,
    "q147_dedup_impact" ->
      s"""WITH RECURSIVE $dedupClusterCtes,
         |asgn AS (
         |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN cc c ON c.node = d.doc_id),
         |sizes AS (SELECT cluster_id, count(*) AS cluster_size
         |          FROM asgn GROUP BY 1)
         |SELECT cluster_size, count(*) AS n_clusters,
         |  CAST((cluster_size - 1) * count(*) AS BIGINT) AS docs_removed
         |FROM sizes GROUP BY 1""".stripMargin,
    "q145_source_purity" ->
      """WITH cells AS (
        |  SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
        |g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_langs,
        |    CAST(sum(c) AS BIGINT) AS n_docs, CAST(max(c) AS BIGINT) AS top_c,
        |    CAST(sum(c*c) AS BIGINT) AS ss
        |  FROM cells GROUP BY 1)
        |SELECT source, n_docs, n_langs,
        |  CAST(top_c AS DOUBLE) / n_docs AS majority_share,
        |  CAST(n_docs*n_docs - ss AS DOUBLE)
        |    / CAST(n_docs*n_docs AS DOUBLE) AS gini_impurity
        |FROM g""".stripMargin,
    "q146_fk_audit" ->
      """SELECT 'lineitem->orders' AS relationship,
        |  (SELECT count(*) FROM lineitem) AS child_rows,
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS orphans,
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0 AS ok
        |UNION ALL
        |SELECT 'orders->customer',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) = 0
        |UNION ALL
        |SELECT 'customer->nation',
        |  (SELECT count(*) FROM customer),
        |  (SELECT count(*) FROM customer c WHERE NOT EXISTS
        |    (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)),
        |  (SELECT count(*) FROM customer c WHERE NOT EXISTS
        |    (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) = 0
        |UNION ALL
        |SELECT 'supplier->nation',
        |  (SELECT count(*) FROM supplier),
        |  (SELECT count(*) FROM supplier s WHERE NOT EXISTS
        |    (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)),
        |  (SELECT count(*) FROM supplier s WHERE NOT EXISTS
        |    (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)) = 0""".stripMargin,
    "q120_grouped_topk" ->
      """SELECT c_nationkey, CAST(rn AS INT) AS rank, c_custkey, bal_cents
        |FROM (
        |  SELECT c_nationkey, c_custkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents,
        |    row_number() OVER (PARTITION BY c_nationkey ORDER BY
        |      CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) DESC,
        |      c_custkey) AS rn
        |  FROM customer)
        |WHERE rn <= 5""".stripMargin,
    "q121_communities" -> {
      // three synchronous LPA rounds unrolled; MATERIALIZED (each lᵢ/e is
      // referenced twice per round — default inlining re-expands the chain)
      val rounds = (1 to 3).map { i =>
        s"""c$i AS MATERIALIZED (SELECT e.a AS node, l.label AS label,
           |    count(*) AS c
           |  FROM e JOIN l${i - 1} l ON l.node = e.b GROUP BY 1, 2),
           |l$i AS MATERIALIZED (SELECT node, label FROM (
           |  SELECT node, label,
           |    row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
           |  FROM c$i) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH adj AS (
         |  SELECT l_partkey AS src, lead(l_partkey) OVER
         |      (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem),
         |d AS (SELECT DISTINCT src, dst FROM adj
         |      WHERE dst IS NOT NULL AND dst <> src),
         |e AS MATERIALIZED (
         |  SELECT src AS a, dst AS b FROM d UNION SELECT dst, src FROM d),
         |l0 AS MATERIALIZED (
         |  SELECT DISTINCT a AS node, a AS label FROM e),
         |$rounds
         |SELECT node, label FROM l3""".stripMargin
    },
    "q122_basket_lift" ->
      """WITH tk AS (SELECT DISTINCT l_orderkey AS id,
        |    CAST(l_partkey AS VARCHAR) AS tok FROM lineitem),
        |df AS (SELECT tok, count(*) AS n_t FROM tk GROUP BY 1
        |  HAVING count(*) >= 2),
        |cap AS (SELECT id, tok FROM (
        |    SELECT tk.id, tk.tok,
        |      row_number() OVER (PARTITION BY tk.id ORDER BY tk.tok) AS rn
        |    FROM tk JOIN df USING (tok)) WHERE rn <= 15),
        |na AS (SELECT tok, count(*) AS n_tok FROM cap GROUP BY 1),
        |nd AS (SELECT count(DISTINCT id) AS n_docs FROM cap),
        |p AS (SELECT a.tok AS part_a, b.tok AS part_b, count(*) AS n_ab
        |  FROM cap a JOIN cap b ON a.id = b.id AND a.tok < b.tok
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT part_a, part_b, n_ab, na1.n_tok AS n_a, na2.n_tok AS n_b,
        |  CAST(n_ab * n_docs AS DOUBLE)
        |    / CAST(na1.n_tok * na2.n_tok AS DOUBLE) AS lift
        |FROM p JOIN na na1 ON na1.tok = p.part_a
        |       JOIN na na2 ON na2.tok = p.part_b, nd""".stripMargin,
    "q116_kcore" -> {
      // six full peel rounds unrolled (the engine early-exits at the fixed
      // point, which by construction equals the round-6 edge set)
      // MATERIALIZED: each eᵢ is referenced three times by round i+1 —
      // DuckDB's default CTE inlining would expand e0 3^6 times
      val rounds = (1 to 6).map { i =>
        s"""k$i AS MATERIALIZED (SELECT node FROM (
           |    SELECT node, count(*) AS c FROM (
           |      SELECT u AS node FROM e${i - 1}
           |      UNION ALL SELECT v FROM e${i - 1}) GROUP BY 1) WHERE c >= 3),
           |e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
           |  JOIN k$i a ON a.node = e.u JOIN k$i b ON b.node = e.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH adj AS (
         |  SELECT l_partkey AS src, lead(l_partkey) OVER
         |      (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM adj WHERE dst IS NOT NULL AND dst <> src),
         |$rounds,
         |df AS (SELECT node, count(*) AS c FROM (
         |    SELECT u AS node FROM e6 UNION ALL SELECT v FROM e6) GROUP BY 1)
         |SELECT node, CAST(c AS BIGINT) AS core_deg FROM df WHERE c >= 3""".stripMargin
    },
    "q106_drift" ->
      """WITH br AS (SELECT CAST(least(greatest(floor((n_chars - 0.0) / 30.0),
        |      0), 19) AS INT) AS bin, count(*) AS cr
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |bc AS (SELECT CAST(least(greatest(floor((n_chars - 0.0) / 30.0),
        |      0), 19) AS INT) AS bin, count(*) AS cc
        |  FROM documents WHERE n_chars IS NOT NULL AND lang = 'en'
        |  GROUP BY 1),
        |j AS (SELECT coalesce(br.bin, bc.bin) AS bin, coalesce(cr, 0) AS cr,
        |    coalesce(cc, 0) AS cc
        |  FROM br FULL OUTER JOIN bc ON br.bin = bc.bin),
        |t AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
        |    CAST(sum(cc) AS BIGINT) AS nc FROM j),
        |g AS (SELECT bin, abs(CAST(cr AS HUGEINT) * nc
        |      - CAST(cc AS HUGEINT) * nr) AS gap FROM j, t),
        |w AS (SELECT *, row_number() OVER (ORDER BY gap DESC, bin) AS rn
        |  FROM g)
        |SELECT t.nr AS n_ref, t.nc AS n_cand,
        |  CAST((SELECT sum(gap) FROM g) AS DOUBLE)
        |    / (2.0 * CAST(t.nr AS DOUBLE) * CAST(t.nc AS DOUBLE))
        |    AS tv_distance,
        |  (SELECT bin FROM w WHERE rn = 1) AS worst_bin,
        |  CAST((SELECT gap FROM w WHERE rn = 1) AS DOUBLE)
        |    / (CAST(t.nr AS DOUBLE) * CAST(t.nc AS DOUBLE)) AS worst_bin_gap
        |FROM t""".stripMargin,
    "q107_table_stats" -> {
      def colSql(c: String, numeric: Boolean) = {
        val mn = if (numeric) s"CAST(min($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val mx = if (numeric) s"CAST(max($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        s"""SELECT '$c' AS col_name, count($c) AS n,
           |  count(*) - count($c) AS nulls, $mn AS col_min, $mx AS col_max,
           |  (SELECT CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
           |          ELSE 63.0 * 9223372036854775808.0 / CAST(kth AS DOUBLE)
           |          END
           |   FROM (SELECT max(n) AS n,
           |       max(CASE WHEN rn = 64 THEN h63 END) AS kth
           |     FROM (SELECT h63, row_number() OVER (ORDER BY h63) AS rn,
           |         count(*) OVER () AS n
           |       FROM (SELECT DISTINCT CAST(('0x' ||
           |           substr(md5(CAST($c AS VARCHAR)), 1, 16))::UBIGINT >> 1
           |           AS BIGINT) AS h63
           |         FROM orders WHERE $c IS NOT NULL)))) AS ndv_est
           |FROM orders""".stripMargin
      }
      (Seq("o_orderkey" -> true, "o_custkey" -> true,
        "o_orderstatus" -> false, "o_orderpriority" -> false)
        .map { case (c, num) => colSql(c, num) })
        .mkString("", "\nUNION ALL\n", "")
    },
    "q105_tokenize_ids" ->
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(tks) AS tok,
         |    unnest(generate_series(1, len(tks))) AS pos
         |  FROM (SELECT doc_id, $ToksLowerSql AS tks FROM documents)),
         |v AS (
         |  SELECT tok, CAST(row_number() OVER
         |      (ORDER BY count(*) DESC, tok) AS INT) AS id
         |  FROM tk GROUP BY tok
         |  QUALIFY id <= 1000),
         |e AS (SELECT t.doc_id, t.pos, coalesce(v.id, 0) AS tid
         |  FROM tk t LEFT JOIN v USING (tok))
         |SELECT doc_id, array_to_string(list(tid ORDER BY pos), ',')
         |  AS token_ids,
         |  CAST(count(*) FILTER (WHERE tid = 0) AS BIGINT) AS n_oov
         |FROM e GROUP BY doc_id""".stripMargin,
    "q101_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q102_gap_fill" ->
      """WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS v
        |  FROM events WHERE user_id < 30 GROUP BY 1, 2),
        |sp AS (SELECT user_id, unnest(generate_series(min(day), max(day)))
        |    AS period
        |  FROM d GROUP BY user_id),
        |j AS (SELECT sp.user_id, sp.period, d.v FROM sp LEFT JOIN d
        |  ON d.user_id = sp.user_id AND d.day = sp.period),
        |w AS (SELECT *,
        |  last_value(v IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY period
        |     ROWS UNBOUNDED PRECEDING) AS pv,
        |  last_value(CASE WHEN v IS NOT NULL THEN period END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY period
        |     ROWS UNBOUNDED PRECEDING) AS pd,
        |  first_value(v IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY period
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |  first_value(CASE WHEN v IS NOT NULL THEN period END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY period
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        |  FROM j)
        |SELECT user_id, period,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |         pv + (nv - pv) * CAST(period - pd AS DOUBLE)
        |           / CAST(nd - pd AS DOUBLE)
        |       WHEN pv IS NOT NULL THEN pv
        |       ELSE nv END AS value_filled,
        |  v IS NOT NULL AS is_observed
        |FROM w""".stripMargin,
    "q103_zscore_outliers" ->
      """WITH v AS (SELECT o_orderpriority AS g,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS xq FROM orders
        |  WHERE o_totalprice IS NOT NULL),
        |s AS (SELECT g, count(*) AS n, CAST(sum(xq) AS DOUBLE) AS sx,
        |    CAST(sum(xq * xq) AS DOUBLE) AS sxx FROM v GROUP BY 1),
        |m AS (SELECT *, sx / CAST(n AS DOUBLE) AS meanq,
        |    sqrt(sxx / CAST(n AS DOUBLE)
        |      - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE))) AS stdq
        |  FROM s)
        |SELECT g AS o_orderpriority, min(m.n) AS n,
        |  min(m.meanq / 100) AS mean, min(m.stdq / 100) AS std,
        |  CAST(count(*) FILTER (WHERE abs(CAST(v.xq AS DOUBLE) - m.meanq)
        |    > 3.0 * m.stdq) AS BIGINT) AS n_outliers
        |FROM v JOIN m USING (g) GROUP BY 1""".stripMargin,
    "q104_grouped_quantiles" -> {
      val qList = HistQs.map(q => s"CAST($q AS DOUBLE)").mkString(", ")
      s"""WITH b AS (SELECT lang,
         |    CAST(least(greatest(floor((n_chars - 0.0) / 30.0), 0), 19)
         |      AS INT) AS bin
         |  FROM documents WHERE n_chars IS NOT NULL),
         |h AS (SELECT lang, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
         |c AS (SELECT lang, bin, 0.0 + bin * 30.0 AS bin_lo, cnt,
         |    sum(cnt) OVER (PARTITION BY lang ORDER BY bin
         |      ROWS UNBOUNDED PRECEDING) AS cum,
         |    sum(cnt) OVER (PARTITION BY lang) AS total FROM h),
         |x AS (SELECT c.*, q FROM c CROSS JOIN (SELECT unnest([$qList]) AS q)),
         |f AS (SELECT *, row_number() OVER
         |    (PARTITION BY lang, q ORDER BY bin) AS rn
         |  FROM x WHERE CAST(cum AS DOUBLE) >= q * CAST(total AS DOUBLE))
         |SELECT lang, q, bin_lo + 30.0 *
         |    ((q * CAST(total AS DOUBLE) - CAST(cum - cnt AS DOUBLE))
         |      / CAST(cnt AS DOUBLE)) AS value
         |FROM f WHERE rn = 1""".stripMargin
    },
    "q99_bloom_prefilter" -> {
      def h(x: String, i: Int) =
        s"CAST(substr(regexp_replace(md5(CAST($x AS VARCHAR) || '#$i'), " +
          s"'[a-f]', '', 'g') || '00000000', 1, 8) AS BIGINT) % 4096"
      s"""WITH b AS (SELECT c_custkey FROM customer WHERE c_acctbal > 9000),
         |pos AS (SELECT DISTINCT p FROM (
         |  SELECT ${h("c_custkey", 0)} AS p FROM b
         |  UNION ALL SELECT ${h("c_custkey", 1)} FROM b)),
         |pl AS (SELECT list(p) AS ps FROM pos),
         |passed AS (
         |  SELECT count(*) AS n FROM orders, pl
         |  WHERE o_custkey IS NOT NULL
         |    AND list_contains(ps, ${h("o_custkey", 0)})
         |    AND list_contains(ps, ${h("o_custkey", 1)})),
         |truth AS (SELECT count(*) AS n FROM orders
         |  WHERE o_custkey IN (SELECT c_custkey FROM b))
         |SELECT passed.n AS n_pass, truth.n AS n_true,
         |  passed.n - truth.n AS n_false_pos
         |FROM passed, truth""".stripMargin
    },
    "q100_event_regex" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id,
        |    substr(event_type, 1, 1) AS c FROM events),
        |p AS (SELECT user_id, string_agg(c, '' ORDER BY t, event_id) AS path
        |  FROM e GROUP BY 1)
        |SELECT user_id, path, regexp_matches(path, 'sv*c') AS matched
        |FROM p""".stripMargin,
    "q98_weighted_sample" ->
      """WITH w AS (
        |  SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS weight,
        |    CAST(substr(regexp_replace(md5(CAST(o_orderkey AS VARCHAR)),
        |      '[a-f]', '', 'g') || '00000000', 1, 8) AS BIGINT) % 32 AS sh
        |  FROM orders),
        |w2 AS (SELECT * FROM w WHERE weight > 0),
        |c AS (SELECT o_orderkey, weight,
        |    sum(weight) OVER (ORDER BY sh, o_orderkey
        |      ROWS UNBOUNDED PRECEDING) AS hi
        |  FROM w2),
        |c2 AS (SELECT *, hi - weight AS lo FROM c),
        |p AS (SELECT (2 * j + 1) * (SELECT max(hi) FROM c2) // 202 AS pos
        |  FROM generate_series(0, 100) AS g(j))
        |SELECT c2.o_orderkey, c2.weight, count(*) AS n_picks
        |FROM c2 JOIN p ON p.pos >= c2.lo AND p.pos < c2.hi
        |GROUP BY 1, 2""".stripMargin,
    "q87_bm25" -> {
      val (k1, b) = (1.2, 0.75)
      val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      val perTerm = Bm25Terms.zipWithIndex.flatMap { case (t, i) => Seq(
        s"max(CASE WHEN tok = '$t' THEN tf END) AS tf_$i",
        s"max(CASE WHEN tok = '$t' THEN df END) AS df_$i")
      }.mkString(",\n    ")
      val scores = Bm25Terms.indices.map { i =>
        s"""CASE WHEN tf_$i IS NULL THEN 0.0 ELSE
           |    ((CAST(nn AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5)
           |      / (CAST(df_$i AS DOUBLE) + 0.5))
           |    * (CAST(tf_$i AS DOUBLE) * ${k1 + 1.0})
           |    / (CAST(tf_$i AS DOUBLE) + $k1 * (${1.0 - b}
           |       + $b * (CAST(len AS DOUBLE)
           |               / (CAST(sumlen AS DOUBLE) / CAST(nn AS DOUBLE)))))
           |  END""".stripMargin
      }.mkString("\n  + ")
      val matched = Bm25Terms.indices
        .map(i => s"CASE WHEN tf_$i IS NOT NULL THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH t AS (
         |  SELECT doc_id, tok FROM
         |    (SELECT doc_id, unnest($ToksLowerSql) AS tok FROM documents)
         |  WHERE tok IN ($termList)),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
         |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         |lens AS (SELECT doc_id, len($ToksSql) AS len FROM documents),
         |stats AS (SELECT count(*) AS nn, CAST(sum(len) AS BIGINT) AS sumlen
         |          FROM lens),
         |p AS (SELECT doc_id,
         |    $perTerm,
         |    max(len) AS len, max(nn) AS nn, max(sumlen) AS sumlen
         |  FROM tf JOIN dft USING (tok) JOIN lens USING (doc_id)
         |       CROSS JOIN stats
         |  GROUP BY 1)
         |SELECT doc_id,
         |  $scores AS score,
         |  CAST($matched AS INT) AS n_matched
         |FROM p""".stripMargin
    },
    "q84_corr_regression" ->
      // identical sufficient-statistics algebra: ×100 quantized longs,
      // DECIMAL(38,0) sums cast to double, same final expression tree
      """WITH q AS (SELECT l_returnflag,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS xq,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS yq
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |g AS (SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(xq AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(yq AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(xq * xq AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(yq * yq AS DECIMAL(38,0))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(xq * yq AS DECIMAL(38,0))) AS DOUBLE) AS sxy
        |  FROM q GROUP BY 1)
        |SELECT l_returnflag, n,
        |  (CAST(n AS DOUBLE) * sxy - sx * sy)
        |    / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
        |       * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS corr,
        |  (CAST(n AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
        |  ((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
        |      / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
        |    / CAST(n AS DOUBLE)) / 100 AS intercept
        |FROM g""".stripMargin,
    "q83_hist_quantiles" -> {
      val qList = HistQs.map(q => s"CAST($q AS DOUBLE)").mkString(", ")
      s"""WITH b AS (SELECT CAST(least(greatest(floor((n_chars - 0.0) / 30.0),
         |      0), 19) AS INT) AS bin
         |  FROM documents WHERE n_chars IS NOT NULL),
         |h AS (SELECT bin, count(*) AS cnt FROM b GROUP BY bin),
         |c AS (SELECT bin, 0.0 + bin * 30.0 AS bin_lo, cnt,
         |    sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
         |    sum(cnt) OVER () AS total FROM h),
         |x AS (SELECT c.*, q FROM c CROSS JOIN (SELECT unnest([$qList]) AS q)),
         |f AS (SELECT *, row_number() OVER (PARTITION BY q ORDER BY bin) AS rn
         |  FROM x WHERE CAST(cum AS DOUBLE) >= q * CAST(total AS DOUBLE))
         |SELECT q, bin_lo + 30.0 *
         |    ((q * CAST(total AS DOUBLE) - CAST(cum - cnt AS DOUBLE))
         |      / CAST(cnt AS DOUBLE)) AS value
         |FROM f WHERE rn = 1""".stripMargin
    },
    "q80_centroids" ->
      """WITH q AS (SELECT label, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |x AS (SELECT label, unnest(qv) AS v,
        |    unnest(generate_series(1, len(qv))) AS i FROM q),
        |g AS (SELECT label, CAST(i - 1 AS INT) AS dim,
        |    CAST(sum(v) AS BIGINT) AS sum_q FROM x GROUP BY 1, 2),
        |n AS (SELECT label, count(*) AS n FROM embeddings
        |  WHERE embedding IS NOT NULL GROUP BY 1)
        |SELECT label, n, dim, sum_q,
        |  CAST(sum_q AS DOUBLE) / CAST(n * 1000 AS DOUBLE) AS mean
        |FROM g JOIN n USING (label)""".stripMargin,
    "q81_moving_window" ->
      """SELECT event_id, user_id, epoch_us(ts) // 1000000 AS ts_s,
        |  count(*) OVER w AS mov_cnt,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE) AS mov_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q82_rank_family" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  percent_rank() OVER w AS prnk,
        |  cume_dist() OVER w AS cdist,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin,
    "q78_cdc_apply" ->
      """WITH c AS (
        |  SELECT o_orderkey, o_totalprice, 1 AS seq, 'I' AS op FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice * 1.1, 2, 'U' FROM orders
        |  WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, NULL, 3, 'D' FROM orders WHERE o_orderkey % 13 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 0.0, 4, 'I' FROM orders WHERE o_orderkey % 26 = 0),
        |l AS (SELECT *, row_number() OVER
        |    (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn FROM c)
        |SELECT o_orderkey, o_totalprice FROM l WHERE rn = 1 AND op <> 'D'""".stripMargin,
    "q79_kmv_setops" -> {
      val h63 = "CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 16))" +
        "::UBIGINT >> 1 AS BIGINT)"
      def est(t: String) =
        s"""(SELECT CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
           |  ELSE 63.0 * 9223372036854775808.0 / CAST(max(h63) AS DOUBLE) END
           |  FROM $t)""".stripMargin
      s"""WITH h AS (SELECT DISTINCT o_orderstatus AS s, $h63 AS h63
         |  FROM orders WHERE o_orderstatus IN ('O', 'F')),
         |a AS (SELECT h63 FROM h WHERE s = 'O' ORDER BY h63 LIMIT 64),
         |b AS (SELECT h63 FROM h WHERE s = 'F' ORDER BY h63 LIMIT 64),
         |u AS (SELECT DISTINCT h63 FROM
         |    (SELECT h63 FROM a UNION ALL SELECT h63 FROM b)
         |  ORDER BY h63 LIMIT 64)
         |SELECT
         |  ${est("a")} AS est_o,
         |  ${est("b")} AS est_f,
         |  ${est("u")} AS est_union,
         |  CAST((SELECT count(*) FROM u
         |      WHERE h63 IN (SELECT h63 FROM a) AND h63 IN (SELECT h63 FROM b))
         |    AS DOUBLE)
         |    / CAST((SELECT least(count(*), 64) FROM u) AS DOUBLE) AS jaccard""".stripMargin
    },
    "q76_inverted_index" ->
      s"""WITH toks AS (SELECT doc_id, $ToksSql AS tok FROM documents),
         |t AS (SELECT doc_id, unnest(tok) AS token FROM toks),
         |g AS (SELECT token, count(DISTINCT doc_id) AS df,
         |    array_to_string(list_sort(list(DISTINCT doc_id))[1:1000], ',')
         |      AS postings
         |  FROM t WHERE token <> '' GROUP BY token)
         |SELECT token, df, postings, df > 1000 AS truncated
         |FROM g WHERE df >= 20""".stripMargin,
    "q77_bigram_lm" -> {
      val scale = TextAnalysis.LmScale
      s"""WITH p AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
         |    i -> tk[i] || ' ' || tk[i+1])) AS pair
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents)),
         |m AS (SELECT pair, count(*) AS c2 FROM p GROUP BY 1),
         |m2 AS (SELECT pair, c2, string_split(pair, ' ')[1] AS w1 FROM m),
         |m3 AS (SELECT pair,
         |    (c2 * $scale) // CAST(sum(c2) OVER (PARTITION BY w1) AS BIGINT)
         |      AS pts
         |  FROM m2),
         |d AS (SELECT doc_id, count(*) AS n_bigrams,
         |    CAST(sum(coalesce(pts, 0)) AS BIGINT) AS s
         |  FROM p LEFT JOIN m3 USING (pair) GROUP BY 1)
         |SELECT doc_id, n_bigrams, s // n_bigrams AS lm_score FROM d""".stripMargin
    },
    "q72_funnel" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t
        |  FROM events),
        |c1 AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN t END)
        |    OVER (PARTITION BY user_id ORDER BY t, event_id
        |          ROWS UNBOUNDED PRECEDING) AS s0 FROM e),
        |c2 AS (SELECT *, min(CASE WHEN event_type = 'view'
        |      AND s0 IS NOT NULL THEN t END)
        |    OVER (PARTITION BY user_id ORDER BY t, event_id
        |          ROWS UNBOUNDED PRECEDING) AS s1 FROM c1),
        |c3 AS (SELECT *, min(CASE WHEN event_type = 'click'
        |      AND s1 IS NOT NULL THEN t END)
        |    OVER (PARTITION BY user_id ORDER BY t, event_id
        |          ROWS UNBOUNDED PRECEDING) AS s2 FROM c2),
        |g AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN t END) AS signup_us,
        |    min(CASE WHEN event_type = 'view' AND s0 IS NOT NULL THEN t END)
        |      AS view_us,
        |    min(CASE WHEN event_type = 'click' AND s1 IS NOT NULL THEN t END)
        |      AS click_us,
        |    min(CASE WHEN event_type = 'purchase' AND s2 IS NOT NULL THEN t END)
        |      AS purchase_us
        |  FROM c3 GROUP BY user_id)
        |SELECT user_id, signup_us, view_us, click_us, purchase_us,
        |  CAST((signup_us IS NOT NULL)::INT + (view_us IS NOT NULL)::INT
        |    + (click_us IS NOT NULL)::INT + (purchase_us IS NOT NULL)::INT
        |    AS INT) AS stages_completed
        |FROM g WHERE signup_us IS NOT NULL""".stripMargin,
    "q62_range_join" ->
      """WITH bands AS (
        |  SELECT CAST(i AS INT) AS band_id, i*50000.0 AS lo, i*50000.0+75000.0 AS hi
        |  FROM generate_series(0, 9) t(i))
        |SELECT o_orderkey, band_id
        |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice <= hi""".stripMargin,
    "q61_asof_join" ->
      // right side deduped per (user, micros-ts) exactly as the engine does,
      // then DuckDB's native ASOF JOIN picks the latest view ≤ purchase
      """WITH v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS t
        |           FROM events WHERE event_type = 'view'
        |           QUALIFY row_number()
        |             OVER (PARTITION BY user_id, epoch_us(ts)
        |                   ORDER BY event_id DESC) = 1),
        |     b AS (SELECT user_id, event_id AS buy_id, epoch_us(ts) AS t
        |           FROM events WHERE event_type = 'purchase')
        |SELECT b.user_id, buy_id, b.t AS buy_us, view_id, b.t - v.t AS gap_us
        |FROM b ASOF JOIN v ON b.user_id = v.user_id AND v.t <= b.t""".stripMargin,
    "q52_interval_join" ->
      // comparisons on epoch_us mirror Spark's micros-precision timestamps
      // (events.parquet is TIMESTAMP_NS; DuckDB would otherwise compare at
      // nanos and diverge on sub-microsecond edges)
      """WITH v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS t
        |           FROM events WHERE event_type = 'view'),
        |     b AS (SELECT user_id, event_id AS buy_id, epoch_us(ts) AS t
        |           FROM events WHERE event_type = 'purchase')
        |SELECT v.user_id, view_id, buy_id, b.t - v.t AS lag_us
        |FROM v JOIN b ON v.user_id = b.user_id
        | AND b.t >= v.t AND b.t <= v.t + 14400000000""".stripMargin,
    "q16_events_hourly" ->
      """SELECT CAST(ts AS DATE) AS d, CAST(hour(ts) AS INT) AS hr, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "q17_explode_tokens" ->
      s"""SELECT tok, count(*) AS cnt
         |FROM (SELECT unnest($ToksSql) AS tok FROM documents)
         |WHERE tok <> '' GROUP BY 1""".stripMargin,
    "q18_text_metrics" ->
      s"""SELECT doc_id,
         | CAST(len($ToksSql) AS INT) AS token_count,
         | CAST(len(regexp_extract_all(text,
         |   '\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]')) AS INT) AS bpeish_token_count,
         | CAST(length(text) AS INT) AS char_count
         |FROM documents""".stripMargin,
    "q19_text_ratios" ->
      s"""SELECT doc_id,
         | CASE WHEN length(text) > 0 THEN
         |   CAST(len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]')) AS DOUBLE) / length(text)
         | ELSE 0.0 END AS punct_ratio,
         | CASE WHEN len(lt) > 0 THEN
         |   CAST(len(list_filter(lt, x -> x IN ('the','a','and','of','is','to','in'))) AS DOUBLE) / len(lt)
         | ELSE 0.0 END AS stopword_ratio,
         | CASE WHEN len(tk) > 0 THEN
         |   CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk)
         | ELSE 0.0 END AS mean_word_length
         |FROM (SELECT doc_id, text, $ToksSql AS tk,
         |        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS lt
         |      FROM documents)""".stripMargin,
    "q20_lang_id" -> langIdOracle,
    "q24_minhash_dedup" -> minHashOracle,
    "q58_dedup_clusters" -> dedupClustersOracle,
    "q59_sharded_shuffle" -> {
      val hashSql = "CAST(substr(regexp_replace(md5(CAST(doc_id AS VARCHAR) || 'ep1'), " +
        "'[a-f]', '', 'g') || '00000000', 1, 8) AS BIGINT)"
      s"""WITH h AS (SELECT doc_id, $hashSql AS h FROM documents)
         |SELECT doc_id, CAST(h % 8 AS INT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INT) AS pos
         |FROM h""".stripMargin
    },
    "q60_token_packing" -> {
      val hashSql = "CAST(substr(regexp_replace(md5(CAST(doc_id AS VARCHAR) || 'ep1'), " +
        "'[a-f]', '', 'g') || '00000000', 1, 8) AS BIGINT)"
      s"""WITH h AS (
         |  SELECT doc_id, len($ToksSql) AS toks, $hashSql AS h FROM documents),
         |s AS (
         |  SELECT doc_id, CAST(h % 8 AS INT) AS shard,
         |    CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INT) AS pos,
         |    toks
         |  FROM h)
         |SELECT doc_id, shard, pos,
         |  CAST(floor(coalesce(sum(toks) OVER (PARTITION BY shard ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0) AS BIGINT) AS bin
         |FROM s""".stripMargin
    },
    "q25_simhash_groups" -> simHashOracle,
    "q48_minhash_capped" -> minHashCappedOracle,
    "q49_simhash_neardup" -> simHashNearDupOracle,
    "q50_sql_surface" -> SqlSurfaceText,
    "q51_cosine_neardup_lsh" ->
      s"""WITH planes AS (
         |  SELECT p, list_transform(generate_series(0, 63), d ->
         |    CAST(substr(regexp_replace(md5('plane_' || p || '_' || d),
         |      '[a-f]', '', 'g') || '00000000', 1, 8) AS BIGINT) % 2001 - 1000) AS pv
         |  FROM generate_series(0, 7) t(p)),
         |e AS (SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings),
         |b AS (SELECT vec_id, v,
         |        (SELECT sum(CASE WHEN list_dot_product(e.v, planes.pv) > 0
         |                         THEN (1::BIGINT << CAST(p AS INT)) ELSE 0 END)
         |         FROM planes) AS bucket
         |      FROM e)
         |SELECT a.vec_id AS id1, b2.vec_id AS id2,
         |  list_dot_product(a.v, b2.v)
         |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))) AS cos_sim
         |FROM b a JOIN b b2
         |  ON a.vec_id < b2.vec_id AND bit_count(xor(a.bucket, b2.bucket)) <= 1
         |WHERE list_dot_product(a.v, b2.v)
         |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))) >= 0.3""".stripMargin,
    "q33_fingerprint" ->
      s"""SELECT doc_id,
         | list_reduce(list_prepend(0::BIGINT, list_transform($ToksSql,
         |   t -> $PortableHashSqlT)), (acc, x) -> (acc * 131 + x) % 1000000007)
         |   AS fingerprint
         |FROM documents""".stripMargin,
    "q21_quality_score" ->
      s"""SELECT doc_id,
         | greatest(0.0,
         |   least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0) * 0.5
         |   + least(sw * 5.0, 1.0) * 0.3
         |   + (1.0 - least(pr * 4.0, 1.0)) * 0.2) AS quality_score
         |FROM (
         |  SELECT doc_id, $ToksSql AS tk,
         |    CASE WHEN length(text) > 0 THEN
         |      CAST(len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]')) AS DOUBLE) / length(text)
         |    ELSE 0.0 END AS pr,
         |    CASE WHEN len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) > 0 THEN
         |      CAST(len(list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
         |        x -> x IN ('the','a','and','of','is','to','in'))) AS DOUBLE)
         |        / len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
         |    ELSE 0.0 END AS sw
         |  FROM documents)""".stripMargin,
    "q22_exact_dedup_groups" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents
        |GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))""".stripMargin,
    "q23_exact_dedup_rows" ->
      """SELECT doc_id, lang FROM documents
        |WHERE doc_id IN (
        |  SELECT min(doc_id) FROM documents
        |  GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))""".stripMargin,
    "q26_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 2, 1)),
        |    i -> CASE WHEN len(tk) >= 3
        |              THEN tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |              ELSE array_to_string(tk, ' ') END)) AS sh
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
        |        FROM documents))
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        | CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(a.sh || b.sh)) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE a.doc_id < 50 AND b.doc_id < 50
        |  AND len(list_intersect(a.sh, b.sh)) > 0""".stripMargin,
    // IVF replayed in SQL: centroids = first 16 corpus vectors; corpus rows
    // assign to their max-cosine cell (ties to larger cell id, matching the
    // struct-max semantics), queries probe their 4 nearest cells
    "q34_ivf_topk" ->
      s"""WITH e AS (SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings),
         |cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v
         |          FROM e ORDER BY vec_id LIMIT 16),
         |sims AS (SELECT e.vec_id, cents.cell,
         |           list_dot_product(e.v, cents.v)
         |             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cents.v, cents.v))) AS cs
         |         FROM e, cents),
         |assign AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cs DESC, cell DESC) AS rn FROM sims) WHERE rn = 1),
         |probe AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cs DESC, cell DESC) AS rn FROM sims WHERE vec_id < 5) WHERE rn <= 4),
         |s AS (SELECT p.vec_id AS query_id, a.vec_id AS corpus_id,
         |        list_dot_product(q.v, c.v)
         |          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
         |      FROM probe p JOIN assign a ON p.cell = a.cell
         |      JOIN e q ON q.vec_id = p.vec_id JOIN e c ON c.vec_id = a.vec_id
         |      WHERE p.vec_id <> a.vec_id)
         |SELECT query_id, corpus_id, CAST(rn AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cos DESC, corpus_id) AS rn FROM s)
         |WHERE rn <= 10""".stripMargin,
    // sign-LSH bucketing replayed in SQL: same md5-digit plane derivation,
    // integer dot products, 4 planes over the 64-dim embeddings
    "q29_lsh_topk" ->
      s"""WITH planes AS (
         |  SELECT p, list_transform(generate_series(0, 63), d ->
         |    CAST(substr(regexp_replace(md5('plane_' || p || '_' || d),
         |      '[a-f]', '', 'g') || '00000000', 1, 8) AS BIGINT) % 2001 - 1000) AS pv
         |  FROM generate_series(0, 3) t(p)),
         |e AS (SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings),
         |b AS (SELECT vec_id, v,
         |        (SELECT sum(CASE WHEN list_dot_product(e.v, planes.pv) > 0
         |                         THEN (1::BIGINT << CAST(p AS INT)) ELSE 0 END)
         |         FROM planes) AS bucket
         |      FROM e),
         |s AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |        list_dot_product(q.v, c.v)
         |          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
         |      FROM b q JOIN b c ON q.bucket = c.bucket
         |      WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
         |SELECT query_id, corpus_id, CAST(rn AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cos DESC, corpus_id) AS rn FROM s)
         |WHERE rn <= 5""".stripMargin,
    "q27_knn_brute_force" ->
      s"""WITH c AS (SELECT vec_id AS corpus_id, ${quantSql("embedding")} AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, ${quantSql("embedding")} AS v FROM embeddings
         |      WHERE vec_id < 5),
         |s AS (SELECT query_id, corpus_id,
         |        list_dot_product(q.v, c.v)
         |          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
         |      FROM q, c WHERE query_id <> corpus_id)
         |SELECT query_id, corpus_id, CAST(rn AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cos DESC, corpus_id) AS rn FROM s)
         |WHERE rn <= 10""".stripMargin,
    "q28_embedding_near_dup" ->
      s"""WITH e AS (SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings
         |           WHERE vec_id < 300)
         |SELECT a.vec_id AS id1, b.vec_id AS id2,
         | list_dot_product(a.v, b.v)
         |   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_sim
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE list_dot_product(a.v, b.v)
         |   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3""".stripMargin,
    "q35_sessionize" ->
      """SELECT user_id,
        | date_trunc('second', min(ts)) AS session_start,
        | date_trunc('second', max(ts)) AS session_end,
        | CAST(count(*) AS INT) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM (
        |    SELECT user_id, ts, value,
        |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |             OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
        |                > 600000000
        |           THEN 1 ELSE 0 END AS new_session
        |    FROM events))
        |GROUP BY user_id, session_id""".stripMargin,
    "q36_windowed_counts" ->
      """SELECT date_trunc('hour', ts) AS window_start,
        | date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    // documents are pure ASCII (verified), so per-char unicode == per-byte
    // value and the checksum folds identically to the JVM byte loop
    "q31_multimodal_features" ->
      """SELECT doc_id AS media_id,
        | CAST(octet_length(encode(text)) AS INT) AS byte_len,
        | list_reduce(list_prepend(0::BIGINT,
        |   list_transform(generate_series(1, length(text)),
        |     i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
        |   (acc, x) -> (acc + x) % 1000000007) AS checksum
        |FROM documents""".stripMargin,
    "q32_frame_sample" ->
      """SELECT doc_id AS media_id,
        | CAST(floor((greatest(floor(octet_length(encode(text)) / 16), 1) - 1) / 4)
        |   + 1 AS BIGINT) AS n_frames_sampled
        |FROM documents""".stripMargin,
    "q47_date_arith" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS INT)
        |   AS ship_lag_days,
        | CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
        | last_day(CAST(o_orderdate AS DATE)) AS month_end,
        | CAST(year(l_shipdate)*12 + month(l_shipdate)
        |   - year(o_orderdate)*12 - month(o_orderdate) AS INT) AS month_distance
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,
    "q45_redact" ->
      """SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   'https?://[^\s]+', '<URL>', 'g'),
        |   '\d{9,}', '<NUM>', 'g') AS redacted
        |FROM documents""".stripMargin,
    "q46_repetition" ->
      s"""SELECT doc_id,
         | CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2) AS rep_2gram,
         | CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3) AS rep_3gram
         |FROM (
         |  SELECT doc_id,
         |    CASE WHEN len(tk) >= 2 THEN list_transform(
         |      generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1])
         |    ELSE [array_to_string(tk, ' ')] END AS g2,
         |    CASE WHEN len(tk) >= 3 THEN list_transform(
         |      generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         |    ELSE [array_to_string(tk, ' ')] END AS g3
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents))""".stripMargin,
    "q42_set_ops" ->
      """SELECT c_custkey, 'intersect' AS set_op FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
        |UNION ALL
        |SELECT c_custkey, 'except' AS set_op FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 200000)""".stripMargin,
    "q43_string_funcs" ->
      """SELECT p_partkey,
        | regexp_extract(p_type, '^(\w+)', 1) AS type_head,
        | string_split(p_name, ' ')[1] AS first_word,
        | p_brand || '|' || p_type AS brand_type,
        | substring(p_name, 1, 5) AS name5,
        | lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        | replace(p_type, ' ', '_') AS type_underscored,
        | CAST(length(p_name) AS INT) AS name_len
        |FROM part""".stripMargin,
    "q44_array_funcs" ->
      """SELECT p_partkey,
        | CAST(len(w) AS INT) AS n_words,
        | array_to_string(list_sort(w), ',') AS sorted_words,
        | array_to_string(w[1:2], ',') AS first_two,
        | list_contains(w, 'green') AS has_green,
        | CAST(len(list_distinct(w)) AS INT) AS n_distinct_words
        |FROM (SELECT p_partkey, string_split(p_name, ' ') AS w FROM part)""".stripMargin,
    "q39_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        | sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q40_pivot" ->
      """SELECT CAST(ts AS DATE) AS d,
        | count(*) FILTER (WHERE event_type = 'click') AS click,
        | count(*) FILTER (WHERE event_type = 'view') AS view,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'signup') AS signup,
        | count(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY 1""".stripMargin,
    "q41_percentile" ->
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.5) AS median_qty,
        | quantile_cont(l_quantity, 0.9) AS p90_qty,
        | quantile_cont(l_extendedprice, 0.5) AS median_price
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q37_stratified_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE $IdBucketSql <
         |  CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2000 ELSE 1000 END""".stripMargin,
    "q38_curation" ->
      s"""SELECT d.doc_id, d.lang, e.label
         |FROM documents d
         |JOIN embeddings e ON e.vec_id = d.doc_id
         |WHERE $QualitySql >= 0.5
         |  AND $IdBucketSql < 5000
         |  AND d.doc_id IN (
         |    SELECT min(doc_id) FROM documents
         |    GROUP BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))""".stripMargin,
    "q30_multimodal_meta" ->
      """SELECT doc_id AS media_id,
        | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS media_type,
        | CAST(n_chars % 640 + 16 AS INT) AS width,
        | CAST(n_chars % 480 + 16 AS INT) AS height,
        | 16000 AS sample_rate,
        | CAST(n_chars % 300 + 1 AS INT) AS n_frames
        |FROM documents""".stripMargin
  )

  /** Sampling.sampleBucket of a BIGINT id, as SQL. */
  private lazy val IdBucketSql =
    "(CAST(substr(regexp_replace(md5(CAST(doc_id AS VARCHAR)), '[a-f]', '', 'g')" +
      " || '00000000', 1, 8) AS BIGINT) % 10000)"

  /** TextAnalysis.qualityScore over `documents`, as a SQL scalar (mirrors
    * the q21 oracle formula). */
  private lazy val QualitySql =
    s"""greatest(0.0,
       |   least(CAST(len($ToksSql) AS DOUBLE) / 100.0, 1.0) * 0.5
       |   + least((CASE WHEN len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) > 0 THEN
       |       CAST(len(list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
       |         x -> x IN ('the','a','and','of','is','to','in'))) AS DOUBLE)
       |         / len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
       |     ELSE 0.0 END) * 5.0, 1.0) * 0.3
       |   + (1.0 - least((CASE WHEN length(text) > 0 THEN
       |       CAST(len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]')) AS DOUBLE) / length(text)
       |     ELSE 0.0 END) * 4.0, 1.0)) * 0.2)""".stripMargin

  /** Marker-count language ID mirrored into SQL: per-language score =
    * Σ occurrences(marker); argmax with ties to the lexicographically
    * greatest code (= array_max struct semantics in the Spark impl). */
  private lazy val langIdOracle: String = {
    def score(ms: Seq[String]): String = ms.map { m =>
      val esc = m.replace("'", "''")
      s"CAST((length(p) - length(replace(p, '$esc', ''))) / ${m.length} AS BIGINT)"
    }.mkString(" + ")
    val cases = TextAnalysis.langMarkers.sortBy(_._1).reverse.map { case (code, _) =>
      s"WHEN s_$code = m THEN '$code'"
    }.mkString(" ")
    val scores = TextAnalysis.langMarkers
      .map { case (code, ms) => s"${score(ms)} AS s_$code" }.mkString(", ")
    val names = TextAnalysis.langMarkers.map("s_" + _._1).mkString(", ")
    s"""SELECT doc_id, CASE WHEN m = 0 THEN 'und' $cases ELSE 'und' END AS lang_guess
       |FROM (SELECT doc_id, greatest($names) AS m, *
       |      FROM (SELECT doc_id, $scores
       |            FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents)))""".stripMargin
  }

  /** name → builder, names sorted = execution order in Verify/Bench. */
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_agg" -> (q01PricingAgg _),
    "q02_filter_project" -> (q02FilterProject _),
    "q03_blank_to_null" -> (q03BlankToNull _),
    "q04_sentinel_key" -> (q04SentinelKey _),
    "q05_join_enrich" -> (q05JoinEnrich _),
    "q06_flat_view" -> (q06FlatView _),
    "q07_topk_window" -> (q07TopkWindow _),
    "q08_calendar" -> (q08Calendar _),
    "q09_union" -> (q09Union _),
    "q10_anti_join" -> (q10AntiJoin _),
    "q11_semi_join" -> (q11SemiJoin _),
    "q12_distinct" -> (q12Distinct _),
    "q13_merge_upsert" -> (q13MergeUpsert _),
    "q14_merge_insert_only" -> (q14MergeInsertOnly _),
    "q15_events_json" -> (q15EventsJson _),
    "q16_events_hourly" -> (q16EventsHourly _),
    "q17_explode_tokens" -> (q17ExplodeTokens _),
    "q18_text_metrics" -> (q18TextMetrics _),
    "q19_text_ratios" -> (q19TextRatios _),
    "q20_lang_id" -> (q20LangId _),
    "q21_quality_score" -> (q21QualityScore _),
    "q22_exact_dedup_groups" -> (q22ExactDedupGroups _),
    "q23_exact_dedup_rows" -> (q23ExactDedupRows _),
    "q24_minhash_dedup" -> (q24MinHashDedup _),
    "q58_dedup_clusters" -> (q58DedupClusters _),
    "q59_sharded_shuffle" -> (q59ShardedShuffle _),
    "q61_asof_join" -> (q61AsOfJoin _),
    "q62_range_join" -> (q62RangeJoin _),
    "q63_bpe_pairs" -> (q63BpePairs _),
    "q64_packed_sequences" -> (q64PackedSequences _),
    "q60_token_packing" -> (q60TokenPacking _),
    "q25_simhash_groups" -> (q25SimHashGroups _),
    "q26_ngram_jaccard" -> (q26NgramJaccard _),
    "q27_knn_brute_force" -> (q27KnnBruteForce _),
    "q28_embedding_near_dup" -> (q28EmbeddingNearDup _),
    "q29_lsh_topk" -> (q29LshTopK _),
    "q30_multimodal_meta" -> (q30MultimodalMeta _),
    "q31_multimodal_features" -> (q31MultimodalFeatures _),
    "q32_frame_sample" -> (q32FrameSample _),
    "q33_fingerprint" -> (q33Fingerprint _),
    "q34_ivf_topk" -> (q34IvfTopK _),
    "q35_sessionize" -> (q35Sessionize _),
    "q36_windowed_counts" -> (q36WindowedCounts _),
    "q37_stratified_sample" -> (q37StratifiedSample _),
    "q38_curation" -> (q38Curation _),
    "q39_rollup" -> (q39Rollup _),
    "q40_pivot" -> (q40Pivot _),
    "q41_percentile" -> (q41Percentile _),
    "q42_set_ops" -> (q42SetOps _),
    "q43_string_funcs" -> (q43StringFuncs _),
    "q44_array_funcs" -> (q44ArrayFuncs _),
    "q45_redact" -> (q45Redact _),
    "q46_repetition" -> (q46Repetition _),
    "q47_date_arith" -> (q47DateArith _),
    "q48_minhash_capped" -> (q48MinHashCapped _),
    "q49_simhash_neardup" -> (q49SimHashNearDup _),
    "q50_sql_surface" -> (q50SqlSurface _),
    "q51_cosine_neardup_lsh" -> (q51CosineNearDupLsh _),
    "q52_interval_join" -> (q52IntervalJoin _),
    "q53_tfidf" -> (q53TfIdf _),
    "q54_checksum" -> (q54Checksum _),
    "q55_table_diff" -> (q55TableDiff _),
    "q56_segment_dedup" -> (q56SegmentDedup _),
    "q57_contamination" -> (q57Contamination _),
    "q65_kmv_distinct" -> (q65KmvDistinct _),
    "q66_fuzzy_join" -> (q66FuzzyJoin _),
    "q67_vn_slug" -> (q67VnSlug _),
    "q68_histogram" -> (q68Histogram _),
    "q69_profile" -> (q69Profile _),
    "q70_scd2" -> (q70Scd2 _),
    "q71_unpivot" -> (q71Unpivot _),
    "q72_funnel" -> (q72Funnel _),
    "q73_pagerank" -> (q73PageRank _),
    "q74_cms_heavy" -> (q74CmsHeavy _),
    "q75_mixture" -> (q75Mixture _),
    "q76_inverted_index" -> (q76InvertedIndex _),
    "q77_bigram_lm" -> (q77BigramLm _),
    "q78_cdc_apply" -> (q78CdcApply _),
    "q79_kmv_setops" -> (q79KmvSetops _),
    "q80_centroids" -> (q80Centroids _),
    "q81_moving_window" -> (q81MovingWindow _),
    "q82_rank_family" -> (q82RankFamily _),
    "q83_hist_quantiles" -> (q83HistQuantiles _),
    "q84_corr_regression" -> (q84CorrRegression _),
    "q85_scd2_point_in_time" -> (q85Scd2PointInTime _),
    "q86_date_spine" -> (q86DateSpine _),
    "q87_bm25" -> (q87Bm25 _),
    "q88_event_paths" -> (q88EventPaths _),
    "q89_cohort_retention" -> (q89CohortRetention _),
    "q90_triangles" -> (q90Triangles _),
    "q91_mad_outliers" -> (q91MadOutliers _),
    "q92_attribution" -> (q92Attribution _),
    "q93_expectations" -> (q93Expectations _),
    "q94_incremental_agg" -> (q94IncrementalAgg _),
    "q95_canonical_pick" -> (q95CanonicalPick _),
    "q96_split" -> (q96Split _),
    "q97_rfm" -> (q97Rfm _),
    "q98_weighted_sample" -> (q98WeightedSample _),
    "q99_bloom_prefilter" -> (q99BloomPrefilter _),
    "q100_event_regex" -> (q100EventRegex _),
    "q101_cube" -> (q101Cube _),
    "q102_gap_fill" -> (q102GapFill _),
    "q103_zscore_outliers" -> (q103ZscoreOutliers _),
    "q104_grouped_quantiles" -> (q104GroupedQuantiles _),
    "q105_tokenize_ids" -> (q105TokenizeIds _),
    "q106_drift" -> (q106Drift _),
    "q107_table_stats" -> (q107TableStats _),
    "q108_setsim_join" -> (q108SetSimJoin _),
    "q109_jl_projection" -> (q109JlProjection _),
    "q110_pq_encode" -> (q110PqEncode _),
    "q111_tfidf_topk" -> (q111TfidfTopk _),
    "q112_cooccur_lift" -> (q112CooccurLift _),
    "q113_boilerplate" -> (q113Boilerplate _),
    "q114_incremental_neardup" -> (q114IncrementalNeardup _),
    "q115_minmax_scale" -> (q115MinmaxScale _),
    "q116_kcore" -> (q116Kcore _),
    "q117_adc_topk" -> (q117AdcTopk _),
    "q118_er_blocking" -> (q118ErBlocking _),
    "q119_normalize" -> (q119Normalize _),
    "q120_grouped_topk" -> (q120GroupedTopk _),
    "q121_communities" -> (q121Communities _),
    "q122_basket_lift" -> (q122BasketLift _),
    "q123_sliding_distinct" -> (q123SlidingDistinct _),
    "q124_source_curation" -> (q124SourceCuration _),
    "q125_lang_floor" -> (q125LangFloor _),
    "q126_equidepth_bins" -> (q126EquidepthBins _),
    "q127_hard_negatives" -> (q127HardNegatives _),
    "q128_diversity" -> (q128Diversity _),
    "q129_doc_chunks" -> (q129DocChunks _),
    "q130_k_anonymity" -> (q130KAnonymity _),
    "q131_entity_snapshot" -> (q131EntitySnapshot _),
    "q132_decayed_value" -> (q132DecayedValue _),
    "q133_sentence_stats" -> (q133SentenceStats _),
    "q134_containment_join" -> (q134ContainmentJoin _),
    "q135_label_balance" -> (q135LabelBalance _),
    "q136_markov_transitions" -> (q136MarkovTransitions _),
    "q137_contingency" -> (q137Contingency _),
    "q138_session_metrics" -> (q138SessionMetrics _),
    "q139_period_over_period" -> (q139PeriodOverPeriod _),
    "q140_cluster_quality" -> (q140ClusterQuality _),
    "q141_lang_confusion" -> (q141LangConfusion _),
    "q142_temperature_quotas" -> (q142TemperatureQuotas _),
    "q143_pair_features" -> (q143PairFeatures _),
    "q144_readability" -> (q144Readability _),
    "q145_source_purity" -> (q145SourcePurity _),
    "q146_fk_audit" -> (q146FkAudit _),
    "q147_dedup_impact" -> (q147DedupImpact _),
    "q148_packing_report" -> (q148PackingReport _),
    "q149_vocab_coverage" -> (q149VocabCoverage _),
    "q150_burst_detection" -> (q150BurstDetection _),
    "q151_dedup_weights" -> (q151DedupWeights _),
    "q152_bpe_subwords" -> (q152BpeSubwords _),
    "q153_minhash_recall" -> (q153MinhashRecall _),
    "q154_bucketed_join" -> (q154BucketedJoin _),
    "q155_salted_join" -> (q155SaltedJoin _),
    "q156_perplexity_tiers" -> (q156PerplexityTiers _),
    "q157_ivf_recall" -> (q157IvfRecall _),
    "q158_dynamic_pruning" -> (q158DynamicPruning _),
    "q159_media_decode" -> (q159MediaDecode _),
    "q160_oracle_types" -> (q160OracleTypes _),
    "q161_semantic_dedup" -> (q161SemanticDedup _),
    "q162_triangles_approx" -> (q162TrianglesApprox _),
    "q163_manifested_merge" -> (q163ManifestedMerge _),
    "q164_root_time_travel" -> (q164RootTimeTravel _),
    "q165_root_changelog" -> (q165RootChangelog _),
    "q166_audited_merge" -> (q166AuditedMerge _),
    "q167_changelog_incremental" -> (q167ChangelogIncremental _),
    "q168_changelog_worklist" -> (q168ChangelogWorklist _),
    "q169_external_manifest_read" -> (q169ExternalManifestRead _),
    "q170_equality_delete" -> (q170EqualityDelete _),
    "q171_schema_evolution" -> (q171SchemaEvolution _),
    "q172_snapshot_drift" -> (q172SnapshotDrift _),
    "q173_drop_partitions" -> (q173DropPartitions _),
    "q174_tagged_read" -> (q174TaggedRead _),
    "q175_metadata_count" -> (q175MetadataCount _),
    "q176_stats_pruned_read" -> (q176StatsPrunedRead _),
    "q177_fast_append" -> (q177FastAppend _),
    "q178_txn_append" -> (q178TxnAppend _),
    "q179_sorted_compaction" -> (q179SortedCompaction _),
    "q180_partitions_meta" -> (q180PartitionsMeta _),
    "q181_expire_snapshots" -> (q181ExpireSnapshots _),
    "q182_branch_publish" -> (q182BranchPublish _),
    "q183_file_scoped_merge" -> (q183FileScopedMerge _),
    "q184_spec_evolution" -> (q184SpecEvolution _),
    "q185_catalog_manifest" -> (q185CatalogManifest _),
    "q186_fuzzy_recall" -> (q186FuzzyRecall _),
    "q187_string_key_merge" -> (q187StringKeyMerge _),
    "q188_merge_sql" -> (q188MergeSql _),
    "q189_hidden_bucket" -> (q189HiddenBucket _),
    "q190_positional_delete" -> (q190PositionalDelete _),
    "q191_conditional_merge_sql" -> (q191ConditionalMergeSql _),
    "q192_orphan_sweep" -> (q192OrphanSweep _),
    "q193_update_sql" -> (q193UpdateSql _),
    "q194_merge_assign_sql" -> (q194MergeAssignSql _),
    "q195_time_travel_sql" -> (q195TimeTravelSql _),
    "q196_schema_evolution_sql" -> (q196SchemaEvolutionSql _),
    "q197_sql_session" -> (q197SqlSession _),
    "q198_insert_overwrite" -> (q198InsertOverwrite _),
    "q199_call_maintenance" -> (q199CallMaintenance _),
    "q200_inspection_sql" -> (q200InspectionSql _),
    "q201_file_lineage" -> (q201FileLineage _),
    "q202_parse_filter" -> (q202ParseFilter _),
    "q203_count_exists" -> (q203CountExists _)
  )
}
