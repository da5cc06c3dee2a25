package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev measurement harness (guide §1.5/§7.3): per-JOB accounting for one
  * query invocation. Statement-style queries (MERGE/DELETE SQL, commit
  * protocol) cost is dominated by the NUMBER of tiny driver-submitted
  * jobs, not any stage — this prints every job a query submits (duration,
  * task count, call site) plus the driver-parked gap since the previous
  * job, so "collapse the per-statement job count" work has an executable
  * before/after number.
  *
  * Usage: runMain graft.JobProf <sfDir> <query>... — each query runs
  * twice; the SECOND run (staged tables warm, JIT warm) is profiled. */
object JobProf {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1).toSeq
    val spark = LocalSession("ERROR")
    case class Job(id: Int, start: Long, var end: Long = -1L,
                   var tasks: Int = 0, var site: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Int]())
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = Job(e.jobId, e.time)
        j.tasks = e.stageInfos.map(_.numTasks).sum
        j.site = e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n'))
          .getOrElse("") + " | " +
          Option(e.properties.getProperty("spark.job.description"))
            .orElse(Option(e.properties.getProperty("callSite.short")))
            .getOrElse("")
        jobs.put(e.jobId, j); order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
    }
    for (q <- names) {
      // run 1: stage fixtures, warm codegen
      SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.foreach(_ => ())
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
      jobs.clear(); order.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.foreach(_ => ())
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain the tail events
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val seq = order.asScala.flatMap(id => Option(jobs.get(id))).toSeq
      println(f"\n===== $q: ${seq.size} jobs, wall $wall%.2f s =====")
      var prevEnd = -1L
      var busySum = 0L; var gapSum = 0L
      for (j <- seq) {
        val dur = if (j.end >= 0) j.end - j.start else -1
        val gap = if (prevEnd >= 0) j.start - prevEnd else 0
        busySum += math.max(0, dur); gapSum += math.max(0, gap)
        println(f"  job ${j.id}%4d dur ${dur}%5d ms gap ${gap}%5d ms tasks ${j.tasks}%4d  ${j.site}")
        prevEnd = math.max(prevEnd, j.end)
      }
      println(f"  [sum] jobs=${seq.size} busy=${busySum} ms gaps=${gapSum} ms wall=${wall * 1000}%.0f ms")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
