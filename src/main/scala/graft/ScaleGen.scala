package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize a k×-scaled bench corpus from an existing SF dir (sf0.1 × 10
  * ≈ "sf1") so the round's perf gate can be checked one decade above the
  * driver's largest testdata — the VERDICT's "would this curve survive a
  * scale-up" probe. Never used for correctness (oracles run on the
  * driver-generated data only).
  *
  * Replication strategy: k id-shifted copies with join-key offsets applied
  * consistently (fact and dim sides shift together, so join cardinalities
  * scale linearly and key skew is preserved). Text columns get a per-replica
  * token suffix — every shingle differs across replicas, so near-dup
  * structure scales linearly (k× the pairs), not quadratically (every doc
  * suddenly a k-clone); embeddings get a tiny per-replica additive shift for
  * the same reason. region/nation stay single-copy (true dims).
  *
  * Usage: ScaleGen <srcSfDir> <outDir> <k>
  */
object ScaleGen {

  private val Off = 10_000_000_000L // beyond any driver-generated id

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, kStr) = args
    val k = kStr.toInt
    require(k >= 1, "k must be >= 1")
    val spark = LocalSession()

    def src(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")

    /** k replicas: long id columns in `ids` shifted by i·Off; `salt` maps
      * (df, i) to replica-specific perturbations for i > 0. */
    def replicate(df: DataFrame, ids: Seq[String],
                  salt: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until k).map { i =>
        val shifted = ids.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(i * Off)))
        if (i == 0) shifted else salt(shifted, i)
      }.reduce(_ unionByName _)

    def saltText(cols: Seq[String])(d: DataFrame, i: Int): DataFrame =
      cols.foldLeft(d)((acc, c) => acc.withColumn(c,
        array_join(transform(split(col(c), " "), t => concat(t, lit(s"r$i"))), " ")))

    /** Vector salt: a per-replica SIGNED CIRCULAR SHIFT — an orthogonal
      * transform, so every within-replica cosine (the corpus's match
      * structure) is preserved EXACTLY while cross-replica pairs
      * decorrelate to ~N(0, 1/√d) cosine: replicas never collapse into
      * angular clones. The previous tiny additive shift left every
      * replica's DIRECTION unchanged, so k replicas made each source
      * near-dup pair k² pairs — the same corpus artifact as unsalted
      * names; the round-10 sf10 audit measured it as 1366× answer
      * growth for 10× data. i = 0 is the identity (the source). */
    def saltVec(c: String)(d: DataFrame, i: Int): DataFrame =
      if (i == 0) d
      else d.withColumn(c, {
        val n = size(col(c))
        transform(col(c), (_, j) =>
          when(pmod(hash(lit(i), j), lit(2)) === 0, lit(1.0f))
            .otherwise(lit(-1.0f)) *
            element_at(col(c), (pmod(j + lit(i), n) + lit(1)).cast("int")))
      })

    /** Name-key salt: append the SAME `#i#i` suffix to every name in
      * replica i. Appending an identical suffix to both sides of any
      * pair preserves its edit distance exactly, so each replica's fuzzy-
      * match structure is the source's, while any two replicas differ in
      * ≥ 2 positions (the doubled index) and can never cross-match at
      * edit distance 1. Without this, k unsalted replicas make every name
      * k exact copies and a fuzzy self-join's TRUE answer grows k² per
      * name — a corpus artifact masquerading as operator superlinearity
      * (round-9 sf10 audit measured q66 at 35× for 10× data from exactly
      * this; with the salt the answer scales k×). */
    def saltName(c: String)(d: DataFrame, i: Int): DataFrame =
      d.withColumn(c, concat(col(c), lit(s"#$i#$i")))

    val out: Seq[(String, DataFrame)] = Seq(
      "region" -> src("region"),
      "nation" -> src("nation"),
      "customer" -> replicate(src("customer"), Seq("c_custkey"),
        saltName("c_name")),
      "supplier" -> replicate(src("supplier"), Seq("s_suppkey")),
      "part" -> replicate(src("part"), Seq("p_partkey")),
      "orders" -> replicate(src("orders"), Seq("o_orderkey", "o_custkey")),
      "lineitem" -> replicate(src("lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey")),
      "events" -> replicate(src("events"), Seq("event_id", "user_id")),
      "documents" -> replicate(src("documents"), Seq("doc_id"),
        saltText(Seq("text"))),
      "embeddings" -> replicate(src("embeddings"), Seq("vec_id"),
        saltVec("embedding")))

    out.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scalegen] $name done")
    }
    spark.stop()
  }
}
