package graft


/** Print formatted physical plans for selected queries (plan audit tool).
  * Usage: runMain graft.Explain [queryName ...] (default: a representative set) */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = LocalSession("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q01_pricing_agg", "q02_filter_project", "q05_join_enrich",
        "q06_flat_view", "q07_topk_window", "q24_minhash_dedup", "q27_knn_brute_force")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
