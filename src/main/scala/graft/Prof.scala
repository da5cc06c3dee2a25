package graft
/** Dev profiling harness: run named queries N times in ONE warm JVM to
  * separate real plan cost from JIT/GC/bench-order noise (the per-round
  * Bench runs everything sequentially in one JVM, where one quadratic
  * query's GC pressure pollutes its neighbors' timings).
  *
  * With `-o <file>` it also emits a per-query JSON artifact
  * (`{"query": min-of-3-sec, ...}` on one line) — the isolated-number
  * regression record rounds compare against, so a loaded bench JVM can
  * never masquerade as a plan regression again (round 5 showed unchanged
  * code "regressing" up to 12× from bench-order storage pressure alone;
  * Bench's total remains only the gate vs BASELINE). Storage state is
  * released between queries exactly like Bench.releaseState, so each
  * min-of-3 starts from a clean storage pool.
  *
  * Usage: runMain graft.Prof <sfDir> [-o prof.json] <query>...|ALL */
object Prof {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val (outFile, rest) = args.drop(1) match {
      case Array("-o", f, qs @ _*) => (Some(f), qs)
      case qs                      => (None, qs.toSeq)
    }
    val names =
      if (rest == Seq("ALL")) SparkEntry.queries.keys.toSeq.sorted
      else rest
    val spark = LocalSession("ERROR")
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (q <- names) {
      for (r <- 1 to 3) {
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.foreach(_ => ())
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[prof] $q run$r $sec%.2f s")
        best(q) = math.min(best.getOrElse(q, Double.MaxValue), sec)
        // same hygiene as Bench.releaseState: drop localCheckpoint blocks
        // so the next run (and the next query) starts storage-clean
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        spark.catalog.clearCache()
      }
    }
    outFile.foreach { f =>
      val json = best.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }
        .mkString("{", ",", "}")
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        json.getBytes("UTF-8"))
      println(s"[prof] wrote ${best.size} queries to $f")
    }
    spark.stop()
  }
}
