package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
object Bench {

  /** Fully materialize every output row (all columns). A `count()` action
    * lets Catalyst's ColumnPruning delete deterministic project expressions
    * — projection-only queries would be timed as row-count scans, skipping
    * the very regexp/HOF/codegen work under measurement. Iterating the
    * physical plan's InternalRows forces each UnsafeRow (hence every output
    * expression) to be produced, with no driver-side collection. */
  private def materialize(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreach(_ => ())

  /** Release per-query executor state between measurements. Several
    * queries return `localCheckpoint`ed DataFrames (graph iterations,
    * dedup snapshots, cooccur caps) whose backing RDD blocks survive the
    * DataFrame reference — 153 queries × 2 runs in one JVM otherwise
    * accumulate gigabytes of storage blocks, and late-alphabet queries
    * inherit the memory pressure of everything before them (round-5 bench
    * showed unchanged code regressing up to 12× from exactly this).
    * Unpersisting every persistent RDD + clearing the table cache after
    * each query makes each measurement start from a clean storage pool,
    * the same state a fresh job on a cluster would see. */
  private def releaseState(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
  }

  /** Fixed CPU calibration: 400M deterministic xorshift steps per
    * thread, timed. Cross-round bench ratios divide by this to separate
    * host-speed drift (frequency scaling, steal, VM migration) from
    * plan regressions — round 12's 40% "regression" was exactly such a
    * host change, re-adjudicated an expensive round later. The checksum
    * fold defeats dead-code elimination. */
  private def calibrate(threads: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { i =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i; var n = 0L
        while (n < 400000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; n += 1 }
        sink.addAndGet(x)
      })
      t.start(); t
    }
    ts.foreach(_.join())
    if (sink.get() == 42L) println("calibration checksum collision")
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus
    val spark = LocalSession()
    // warm the JIT / codegen / shuffle paths so the first timed query isn't
    // charged with session startup
    spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_name").count().count()
    // min of N runs per query: steady-state compute is what scales to a
    // 100 TB corpus — first-run codegen/JIT cost amortizes to zero there
    // and would dominate these sub-second toy-SF timings.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // every run is a metered scope: per-query duration + records read/
    // written land in bench_metrics.jsonl, so a plan regression shows up
    // in DATA volumes round-over-round, not just in plan shape
    val metrics = new graft.metrics.MetricsRegistry(spark)
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
    // INTERLEAVED passes: run the WHOLE suite once per pass and keep each
    // query's per-pass minimum. Back-to-back repeats of one query share
    // the same few-second noise window, so a transient host stall (GC,
    // co-tenant, page-cache churn) poisons both samples and shows up as
    // a contiguous riser block in the report (rounds 8–10 each burned an
    // adjudication on exactly that signature). Separating a query's two
    // samples by a full suite pass (~minutes) makes the min noise-robust
    // while measuring the same steady-state compute.
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    // Per-pass adjudication markers: wall time plus host 1-min loadavg
    // sampled after every query. A same-binary riser block with loadavg
    // far above this JVM's own thread count means co-tenant contention in
    // the measurement window, not a plan regression — rounds 8/10/12 each
    // burned a verdict adjudication re-deriving exactly that; now the
    // number self-adjudicates from bench.json alone.
    def loadavg(): Double =
      try new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
        .split(" ")(0).toDouble
      catch { case _: Exception => -1.0 }
    val passStats = scala.collection.mutable.ArrayBuffer[String]()
    for (r <- 1 to runs) {
      val p0 = System.nanoTime()
      val loads = scala.collection.mutable.ArrayBuffer[Double](loadavg())
      for ((name, fn) <- named) {
        val t0 = System.nanoTime()
        try {
          metrics.timed("bench", s"$name/run$r") { materialize(fn(spark, sfDir)) }
          val t = (System.nanoTime() - t0) / 1e9
          best(name) = best.get(name).filter(_ >= 0).fold(t)(math.min(_, t))
        } catch {
          case e: Throwable =>
            failures.getOrElseUpdate(name,
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
            // a failed query reports -1 unless another pass succeeded
            if (!best.contains(name)) best(name) = -1.0
        } finally {
          // outside the timed window: state release is harness hygiene,
          // not query cost
          releaseState(spark)
        }
        loads += loadavg()
      }
      val ld = loads.filter(_ >= 0)
      def f(d: Double) = f"$d%.2f"
      passStats += s"""{"pass":$r,"wall_sec":${f((System.nanoTime() - p0) / 1e9)},""" +
        s""""loadavg_min":${f(if (ld.isEmpty) -1 else ld.min)},""" +
        s""""loadavg_mean":${f(if (ld.isEmpty) -1 else ld.sum / ld.size)},""" +
        s""""loadavg_max":${f(if (ld.isEmpty) -1 else ld.max)}}"""
    }
    val results = named.map { case (name, _) => name -> best(name) }
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
                  case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fj = failures.map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val ok = results.filter(_._2 >= 0)
    val total = if (ok.nonEmpty) ok.map(_._2).sum else 0.0
    // calibrate AFTER the measured passes (the warm JVM is the state the
    // queries ran in; running it first would charge JIT warmup to the host)
    val calib1 = calibrate(1)
    val calibW = calibrate(cpus.toInt)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failures":$fj,""" +
        s""""passes":${passStats.mkString("[", ",", "]")},""" +
        f""""cpu_calib_1t":$calib1%.3f,"cpu_calib_${cpus}t":$calibW%.3f,""" +
        s""""cpus":"$cpus","sf":"$sfDir"}"""
    // the driver parses the last stdout line; also drop a file so the
    // number survives even if a build tool prefixes/logs stdout
    Files.writeString(Paths.get("bench.json"), json + "\n")
    metrics.dump("bench_metrics.jsonl")
    metrics.close()
    spark.stop()
    println(json)
  }
}
