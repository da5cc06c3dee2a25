package graft

import org.scalacheck.Gen

import graft.operators.Upsert

/** Fuzz the SQL statement router (round-14 verdict ask 7): whatever
  * comment/whitespace prefix a statement arrives under, it must either
  * ROUTE to the engine's commit machinery (same result as the bare
  * statement) or refuse LOUDLY — never silently fall to the plain
  * spark.sql path, where a routed DML would run against the temp-view
  * registrations (a v1 INSERT can append raw files into a table's
  * layout, CREATE lands in Spark's catalog instead of the warehouse).
  *
  * The generated prefixes cover the shapes the keyword sniff must see
  * through because Spark's own lexer does: line comments, bracketed
  * comments (which NEST per SPARK-28880), unicode whitespace beyond
  * Java's isWhitespace (NBSP, thin/figure spaces, ideographic space),
  * and stacked combinations. CTE-prefixed DML (`WITH … MERGE`) is the
  * one shape the router cannot execute — pinned as a loud refusal with
  * the table untouched. */
class RouterFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val wsAtoms = Seq(" ", "\t", "\n", "\r\n", "\u000b", "\u000c",
    "\u00a0", "\u1680", "\u2000", "\u2009", "\u200a", "\u202f",
    "\u205f", "\u3000", "\u2028", "\u2029")
  private val commentAtoms = Seq(
    "-- line comment\n", "--\n", "--no newline needs following ws\n",
    "/* block */", "/* multi\nline */", "/* nested /* inner */ outer */",
    "/* deep /* a /* b */ c */ d */", "/* unicode é₫ */")

  private val prefixGen: Gen[String] = for {
    n <- Gen.choose(0, 5)
    atoms <- Gen.listOfN(n, Gen.frequency(
      3 -> Gen.oneOf(wsAtoms), 2 -> Gen.oneOf(commentAtoms)))
    trail <- Gen.oneOf(wsAtoms) // a comment may end flush with the keyword
  } yield (atoms :+ trail).mkString

  test("prefixed routed statements: route-or-loud, never a silent plain-path fall-through") {
    val wh = tmpDir("fuzz")
    val t = s"$wh/t"
    Upsert.upsert(spark, t,
      (1 to 4).map(i => (i, "p1", i * 1.0)).toDF("k", "part", "v"),
      Seq("k"), partitionCols = Seq("part"))
    Seq((999, "p1", 9.0)).toDF("k", "part", "v")
      .createOrReplaceTempView("fuzz_src")
    val cat = new graft.sources.Catalog(spark, wh)

    // no-op bodies: a ROUTED run succeeds and leaves the table as-is; a
    // plain-path fall-through would throw (DML against a v1 temp view),
    // so "no exception AND state unchanged" proves correct routing
    val bodies = Seq(
      "DELETE FROM t WHERE k = 12345",
      "UPDATE t SET v = v + 1 WHERE k = 12345",
      """MERGE INTO t USING fuzz_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    // the sniff's contract: see through AT LEAST everything Spark's own
    // lexer accepts — so fuzz with parser-accepted prefixes (a rejected
    // prefix is the parser's loud error on every path, asserted below)
    def parserAccepts(p: String): Boolean = scala.util
      .Try(spark.sessionState.sqlParser.parsePlan(p + "SELECT 1")).isSuccess
    val raw = Gen.listOfN(40, prefixGen).sample.get
    val prefixes = raw.filter(parserAccepts)
    prefixes.size should be >= 10 // the generator really produces legal shapes
    for (p <- prefixes.take(30); body <- bodies) {
      withClue(s"prefix=${p.map(c => f"\\u${c.toInt}%04x").mkString} body=${body.take(20)}: ") {
        noException should be thrownBy cat.sql(p + body)
      }
    }
    // parser-REJECTED prefixes stay loud on every path
    raw.filterNot(parserAccepts).take(5).foreach { p =>
      an[Exception] should be thrownBy cat.sql(p + bodies.head)
    }
    Upsert.read(spark, t).orderBy("k").select("k", "v")
      .as[(Int, Double)].collect() shouldBe
      (1 to 4).map(i => (i, i * 1.0)).toArray

    // mutating bodies under the trickiest prefixes really route: the
    // commit machinery's effects are observable in the warehouse
    val tricky = Seq("/* nested /* inner */ outer */ ", "\u00a0",
      "\u3000-- c\n", "/* a /* b */ c */\n\t").filter(parserAccepts)
    tricky.size should be >= 2
    tricky.zipWithIndex.foreach { case (p, i) =>
      cat.sql(s"${p}INSERT INTO t VALUES (${100 + i}, ${100.0 + i}, 'p1')")
      cat.sql(s"${p}CREATE TABLE fz$i (a INT, b STRING)")
      cat.tableExists(s"fz$i") shouldBe true // warehouse, not Spark catalog
    }
    Upsert.read(spark, t).where($"k" >= 100).count() shouldBe tricky.size

    // CTE-prefixed DML is the unroutable shape: loud refusal, state
    // untouched — NOT a silent plain-path execution
    val before = Upsert.read(spark, t).count()
    for (dml <- Seq(
      "WITH x AS (SELECT 1 AS k) DELETE FROM t WHERE k IN (SELECT k FROM x)",
      "WITH x AS (SELECT * FROM fuzz_src) MERGE INTO t USING x ON t.k = x.k " +
        "WHEN MATCHED THEN DELETE",
      "WITH x AS (SELECT 7 AS k, 7.0 AS v, 'p1' AS part) " +
        "INSERT INTO t SELECT * FROM x",
      "WITH x AS (SELECT 1 AS o) UPDATE t SET v = 0 WHERE k IN (SELECT o FROM x)")) {
      withClue(dml.take(40) + ": ") {
        val e = intercept[Exception](cat.sql(dml))
        // the router's own refusal — or, should Spark's grammar reject
        // the CTE+DML shape outright, the parser's loud error
        assert(e.getMessage.contains("CTE-prefixed") ||
          e.isInstanceOf[org.apache.spark.sql.catalyst.parser.ParseException],
          s"unexpected: ${e.getClass.getSimpleName}: ${e.getMessage.take(120)}")
      }
    }
    Upsert.read(spark, t).count() shouldBe before
    // while plain WITH…SELECT statements pass through untouched
    cat.sql("WITH x AS (SELECT k FROM t WHERE k <= 2) SELECT count(*) AS n FROM x")
      .head().getLong(0) shouldBe 2L
  }
}
