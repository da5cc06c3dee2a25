package medallionbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.core.Schemas
import graft.metrics.MetricsRegistry

/** Per-layer accounting from outside the program.
  *
  * A span is recorded around each layer call the benchmark makes. Inside a
  * span, Spark's own events say what ran: a [[SparkListener]] collects job
  * intervals, task counts and task I/O, and the written-file counts of SQL
  * write commands; a [[StreamingQueryListener]] collects micro-batch
  * progress; the pipeline's `metrics` argument ([[MetricsRegistry]]) times
  * each table upsert. Process-wide counters (code generation, JIT, the
  * CodeGenerator's compile errors) are read at span boundaries. Spans stay
  * in memory and are written as JSON lines at the end of the round.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  val registry = new MetricsRegistry(spark)

  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds on the monotonic clock, comparable to event times. */
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(id: Int, name: String, start: Double, end: Double,
                        parent: Int, deltas: Map[String, Double])
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List(0) // 0 = the root span of the whole timed run
  private var nextId = 1

  private val codegenErrors = new AtomicLong()
  private val jit = ManagementFactory.getCompilationMXBean

  private def counters(): Map[String, Double] = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    // the histogram's reservoir holds every sample up to its size; beyond
    // that its mean times the count is the best total it can give
    val compileMs =
      if (h.getCount <= snap.size) snap.getValues.sum.toDouble
      else snap.getMean * h.getCount
    Map("codegen_compile_ms" -> compileMs,
      "codegen_fallbacks" -> codegenErrors.get().toDouble,
      "jit_compile_ms" -> jit.getTotalCompilationTime.toDouble)
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.head
    open = id :: open
    val before = counters()
    val start = nowMs
    try body
    finally {
      val end = nowMs
      val after = counters()
      open = open.tail
      spans += Span(id, name, start, end, parent,
        after.map { case (k, v) => k -> (v - before(k)) })
    }
  }

  // ---- data files added and removed by the table layer ----

  private val filesAdded = new AtomicLong()
  private val filesRemoved = new AtomicLong()

  /** Run `body` (calls that upsert into tables under `warehouse`) and count
    * the data files that appeared and disappeared under it. */
  def tableCalls[T](warehouse: String)(body: => T): T = {
    def listing(): Set[String] = {
      val root = Paths.get(warehouse)
      if (!Files.exists(root)) Set.empty
      else MedallionBench.dataFiles(root)
    }
    val before = listing()
    val r = body
    val after = listing()
    filesAdded.addAndGet((after -- before).size)
    filesRemoved.addAndGet((before -- after).size)
    r
  }

  // ---- Spark events ----

  private final class JobRec(val start: Long) {
    @volatile var end: Long = -1L
    val tasks, shuffleBytes, spillBytes, rowsOut, bytesWritten = new AtomicLong()
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val execStart = new ConcurrentHashMap[Long, Long]()
  private val execFiles = new ConcurrentHashMap[Long, AtomicLong]()
  private val fileMetricIds = ConcurrentHashMap.newKeySet[Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, new JobRec(e.time))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.spillBytes.addAndGet(m.diskBytesSpilled)
        j.rowsOut.addAndGet(m.outputMetrics.recordsWritten)
        j.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      }
    }

  private def collectFileMetrics(p: SparkPlanInfo): Unit = {
    p.metrics.filter(_.name == "number of written files")
      .foreach(m => fileMetricIds.add(m.accumulatorId))
    p.children.foreach(collectFileMetrics)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execStart.put(s.executionId, s.time)
      collectFileMetrics(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      collectFileMetrics(u.sparkPlanInfo)
    case d: SparkListenerDriverAccumUpdates =>
      d.accumUpdates.foreach { case (id, v) =>
        if (fileMetricIds.contains(id))
          execFiles.computeIfAbsent(d.executionId, _ => new AtomicLong()).addAndGet(v)
      }
    case _ =>
  }

  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val codegenAppender =
    new AbstractAppender("medallion-bench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.ERROR) codegenErrors.incrementAndGet()
    }

  spark.sparkContext.addSparkListener(this)
  spark.streams.addListener(streamListener)
  codegenAppender.start()
  LogManager.getContext(false).asInstanceOf[LoggerContext]
    .getLogger("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
    .addAppender(codegenAppender)

  // ---- reports ----

  private def batches(): Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter(_.numInputRows > 0)

  /** Every per-layer metric, by the names BENCHMARK.json lists. */
  def layerMetrics(): Map[String, Double] = {
    org.apache.spark.graft.SparkInternals.flushListenerBus(spark.sparkContext)
    val out = mutable.LinkedHashMap[String, Double]()
    val jobList = jobs.asScala.values.toSeq
    Seq("bronze_to_silver", "silver_to_gold", "flat_view").foreach { layer =>
      val ss = spans.filter(s => s.name == layer && s.parent == 0).toSeq
      def in(t: Long) = ss.exists(s => t >= s.start && t <= s.end)
      val js = jobList.filter(j => in(j.start))
      val busy = ss.map { s =>
        // the part of the span covered by at least one running job
        val iv = jobList.filter(j => j.end >= s.start && j.start <= s.end)
          .map(j => (math.max(j.start.toDouble, s.start), math.min(j.end.toDouble, s.end)))
          .sortBy(_._1)
        var covered = 0.0
        var reach = s.start
        iv.foreach { case (a, b) =>
          val from = math.max(a, reach)
          if (b > from) { covered += b - from; reach = b }
        }
        covered
      }.sum
      val wall = ss.map(s => s.end - s.start).sum
      def tot(f: JobRec => AtomicLong) = js.map(f(_).get()).sum.toDouble
      def delta(k: String) = ss.map(_.deltas(k)).sum
      out(s"$layer.s") = wall / 1000
      out(s"$layer.off_job_s") = (wall - busy) / 1000
      out(s"$layer.jobs") = js.size.toDouble
      out(s"$layer.tasks") = tot(_.tasks)
      out(s"$layer.shuffle_bytes") = tot(_.shuffleBytes)
      out(s"$layer.spill_bytes") = tot(_.spillBytes)
      out(s"$layer.rows_out") = tot(_.rowsOut)
      out(s"$layer.bytes_written") = tot(_.bytesWritten)
      out(s"$layer.files_written") = execStart.asScala
        .collect { case (id, t) if in(t) => Option(execFiles.get(id)).map(_.get()).getOrElse(0L) }
        .sum.toDouble
      out(s"$layer.codegen_compile_ms") = delta("codegen_compile_ms")
      out(s"$layer.codegen_fallbacks") = delta("codegen_fallbacks")
      out(s"$layer.jit_compile_ms") = delta("jit_compile_ms")
    }
    val bs = batches()
    def med(k: String) = {
      val v = bs.map(_.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)).sorted
      if (v.isEmpty) 0.0
      else if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
    }
    out("streaming.batches") = bs.size.toDouble
    out("streaming.rows_per_batch") =
      if (bs.isEmpty) 0.0 else bs.map(_.numInputRows).sum.toDouble / bs.size
    out("streaming.latest_offset_ms") = med("latestOffset")
    out("streaming.query_planning_ms") = med("queryPlanning")
    out("streaming.add_batch_ms") = med("addBatch")
    out("streaming.wal_commit_ms") = med("walCommit")
    val report = registry.report()
    (Schemas.silverTables ++ Schemas.goldDims ++ Schemas.goldFacts).foreach { t =>
      out(s"upsert.$t.s") = report.filter(_.taskId == t).map(_.durationSec).sum
    }
    out("upsert.commits") = report.count(_.success).toDouble
    out("upsert.files_added") = filesAdded.get().toDouble
    out("upsert.files_removed") = filesRemoved.get().toDouble
    out.toMap
  }

  /** The spans as JSON lines: the root run span, each layer call, and each
    * micro-batch (from its progress event) under the call that ran it. */
  def writeSpans(path: String, runS: Double): Unit = {
    val top = spans.filter(_.parent == 0)
    val rootStart = if (top.isEmpty) nowMs else top.map(_.start).min
    def line(id: Int, name: String, start: Double, end: Double, parent: Any) =
      Json.render(mutable.LinkedHashMap("id" -> id, "name" -> name,
        "start_ms" -> start, "end_ms" -> end, "parent" -> parent))
    val lines = mutable.ArrayBuffer(line(0, "run", rootStart, rootStart + runS * 1000, null))
    spans.sortBy(_.id).foreach(s => lines += line(s.id, s.name, s.start, s.end, s.parent))
    var id = nextId
    batches().foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val parent = top.find(s => start >= s.start - 1 && start <= s.end).map(_.id).getOrElse(0)
      lines += line(id, "streaming.batch", start, start + p.batchDuration, parent)
      id += 1
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"), UTF_8)
  }
}
