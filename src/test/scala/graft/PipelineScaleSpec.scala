package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.pipeline.{BronzeToSilver, SilverToGold}
import graft.sources.FsUtils

/** Medium-volume pipeline run: 20k bronze articles over 30 publication
  * dates through batch bronze→silver→gold, asserting the partition layout
  * (date-partitioned articles) and that an incremental day only rewrites
  * its own partitions — the property that makes the design viable at
  * 100 TB (partition-scoped commits, not table rewrites). */
class PipelineScaleSpec extends SparkSpec {

  private def articleJson(i: Int, day: Int): String = {
    val kws = s"""["k${i % 97}","k${(i * 7) % 97}"]"""
    val epoch = 1760054400L + day * 86400L + (i % 86400)
    s"""{"title":"T$i","url":"https://e.vn/a$i","author":"author${i % 211}",""" +
      s""""topic":"x","sub_topic":"s${i % 13}","publish_date":"$epoch",""" +
      s""""description":"d$i","main_content":"w$i một hai ba bốn năm sáu bảy tám",""" +
      s""""keywords":$kws,"references":["r${i % 53}"],"comment_count":${i % 5},""" +
      """"top_comments":[],"ingested_at":null,"year":2025,"month":10,"day":10}"""
  }

  test("20k articles flow to a date-partitioned star schema; incremental day touches only its partition") {
    val root = tmpDir("bronzeBig")
    val wh = tmpDir("silverBig")
    val gold = tmpDir("goldBig")
    // 40 files x 500 articles across 30 days
    (0 until 40).foreach { f =>
      val p = Paths.get(root, s"vnexpress/topic${f % 5}/2025/10/b$f.json")
      Files.createDirectories(p.getParent)
      val lines = (0 until 500).map(j => articleJson(f * 500 + j, (f * 500 + j) % 30))
      Files.writeString(p, lines.mkString("\n"))
    }
    val t0 = System.nanoTime()
    BronzeToSilver.runBatch(spark, root, wh)
    val silverSecs = (System.nanoTime() - t0) / 1e9

    val articles = graft.operators.Upsert.read(spark, s"$wh/articles")
    articles.count() shouldBe 20000
    // hive partition layout by date → partition pruning works downstream
    val parts = FsUtils.listSubdirs(spark, s"$wh/articles").filter(_.startsWith("date="))
    parts.size shouldBe 30
    val pruned = articles.where(col("date") === "2025-10-12")
    pruned.queryExecution.executedPlan.toString should include("PartitionFilters")

    // incremental: one new article on one day rewrites only that partition
    val dayDir = parts.head
    val otherPart = s"$wh/articles/${parts(5)}"
    val before = new java.io.File(otherPart).lastModified()
    Thread.sleep(1100)
    val p2 = Paths.get(root + "2", "vnexpress/topic0/2025/10/inc.json")
    Files.createDirectories(p2.getParent)
    Files.writeString(p2, articleJson(99999, 0))
    BronzeToSilver.runBatch(spark, root + "2", wh)
    graft.operators.Upsert.read(spark, s"$wh/articles").count() shouldBe 20001
    new java.io.File(otherPart).lastModified() shouldBe before

    val t1 = System.nanoTime()
    SilverToGold.run(spark, wh, gold)
    val goldSecs = (System.nanoTime() - t1) / 1e9
    val fact = graft.operators.Upsert.read(spark, s"$gold/fact_article_publication")
    fact.count() shouldBe 20001
    graft.operators.Upsert.read(spark, s"$gold/dim_author").count() shouldBe 212 // 211 + UNKNOWN
    graft.operators.Upsert.read(spark, s"$gold/dim_date").count() shouldBe 30
    info(f"silver: $silverSecs%.1f s, gold: $goldSecs%.1f s for 20k articles")
  }
}
