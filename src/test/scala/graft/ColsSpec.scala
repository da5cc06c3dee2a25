package graft

import org.apache.spark.sql.functions._
import graft.functions.Cols

class ColsSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, input: String): Any =
    Seq(Option(input)).toDF("v").select(c.as("r")).collect()(0).get(0)

  test("normalizeVnDatetime strips weekday and formats tz") {
    one(Cols.normalizeVnDatetime(col("v")), "Thứ sáu, 10/10/2025, 14:27 (GMT+7)") shouldBe
      "10/10/2025 14:27 +07:00"
    one(Cols.normalizeVnDatetime(col("v")), "Chủ nhật, 1/2/2025, 9:05 (GMT+7)") shouldBe
      "01/02/2025 09:05 +07:00"
    one(Cols.normalizeVnDatetime(col("v")), "10/10/2025, 14:27 (GMT-10:30)") shouldBe
      "10/10/2025 14:27 -10:30"
    // no date → null
    assert(one(Cols.normalizeVnDatetime(col("v")), "garbage") == null)
    assert(one(Cols.normalizeVnDatetime(col("v")), null) == null)
  }

  test("parsePublishTs handles epoch seconds, millis, ISO, VN display") {
    def ts(s: String): String =
      Option(one(Cols.parsePublishTs(col("v")), s)).map(_.toString).orNull
    ts("1700000000") shouldBe "2023-11-14 22:13:20.0"          // epoch seconds
    ts("1700000000000") shouldBe "2023-11-14 22:13:20.0"       // epoch millis
    ts("2025-10-10T14:27:00") shouldBe "2025-10-10 14:27:00.0" // ISO local
    ts("2025-10-10T14:27:00Z") shouldBe "2025-10-10 14:27:00.0"
    ts("Thứ sáu, 10/10/2025, 14:27 (GMT+7)") shouldBe "2025-10-10 07:27:00.0" // UTC shift
    ts("not a date") shouldBe null
    ts(null) shouldBe null
  }

  test("normalize + validArticles compile under whole-stage codegen, no fallback") {
    import graft.pipeline.BronzeToSilver
    val raw = spark.read.schema(graft.core.Schemas.bronzeArticle).json(Seq(
      """{"url": "https://vnexpress.net/a-1.html", "title": "t",
        |"publish_date": "Thứ sáu, 10/10/2025, 14:27 (GMT+7)"}""".stripMargin,
      """{"url": "https://vnexpress.net/a-2.html", "title": "t",
        |"publish_date": "1700000000"}""".stripMargin,
      """{"url": "", "publish_date": "2025-10-10T14:27:00Z"}""").toDS())
    // a generated method over 64 KB fails to compile; with the fallback
    // off that failure surfaces instead of a silent interpreted re-run
    val key = "spark.sql.codegen.fallback"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val out = BronzeToSilver.validArticles(
        BronzeToSilver.normalize(raw, topicFromPath = false))
        .select("url", "publish_ts").orderBy("url").collect()
      out.map(_.getString(0)).toSeq shouldBe Seq(
        "https://vnexpress.net/a-1.html", "https://vnexpress.net/a-2.html")
      out.map(_.getTimestamp(1).toString).toSeq shouldBe Seq(
        "2025-10-10 07:27:00.0", "2023-11-14 22:13:20.0")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("dateKey and safeDateKey") {
    val df = Seq("2025-10-10").toDF("v").select(
      Cols.dateKey(col("v").cast("timestamp")).as("k"),
      Cols.safeDateKey(lit(null).cast("timestamp")).as("s"))
    df.collect()(0).getInt(0) shouldBe 20251010
    df.collect()(0).getInt(1) shouldBe -1
  }

  test("tryLong matches non-ANSI cast semantics") {
    one(Cols.tryLong(col("v")), "12345") shouldBe 12345L
    one(Cols.tryLong(col("v")), "+5") shouldBe 5L                  // plus sign
    one(Cols.tryLong(col("v")), "1696156800.5") shouldBe 1696156800L // fraction truncates
    one(Cols.tryLong(col("v")), " -7 ") shouldBe -7L
    assert(one(Cols.tryLong(col("v")), "12a") == null)
    assert(one(Cols.tryLong(col("v")), "999999999999999999999") == null) // >18 digits
  }

  test("blankToNull and keyOrSentinel") {
    one(Cols.blankToNull(col("v")), "  x ") shouldBe "x"
    assert(one(Cols.blankToNull(col("v")), "   ") == null)
    one(Cols.keyOrSentinel(col("v")), "") shouldBe -1L
    one(Cols.keyOrSentinel(col("v")), "k") should not be -1L
  }

  test("text metrics match reference composition") {
    val r = Seq("hello  world\n foo").toDF("v").select(
      Cols.wordCount(col("v")).as("w"),
      Cols.charCount(col("v")).as("c"),
      Cols.estimatedReadTimeMinutes(col("v")).as("m")).collect()(0)
    r.getInt(0) shouldBe 3
    r.getInt(1) shouldBe 17
    r.getDouble(2) shouldBe (3.0 / 220.0)
  }
}
