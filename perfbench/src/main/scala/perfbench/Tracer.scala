package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval of one operation's trace. Times are epoch ms; `exec`
  * is the Spark SQL execution id of an execution or job span, else -1.
  */
final case class Span(name: String, trace: Int, start: Double, end: Double,
    parent: String = "", exec: Long = -1L) {
  def iv: (Double, Double) = (start, end)
  def ms: Double = end - start
}

/** Work counters summed over one operation's tasks. */
final class TaskSums {
  var tasks, runMs, cpuMs, gcMs, waitMs = 0.0
  var shuffleWrite, shuffleRead, shuffleRecords, spill = 0.0
  var peakMem, readBytes, readRecords, written = 0.0
}

/** Per-operation record. `changed` counts rows a write changed. */
final case class OpRecord(trace: Int, kind: String, start: Double, end: Double,
    statements: Int, rowsOut: Long, changed: Long, compiles: Long,
    compileMs: Double, filesDiscovered: Long, allocBytes: Long, gcMs: Long)

/** The traced run's instrumentation. It stands outside the engine: spans
  * around the public calls the workloads make, plus Spark's own public
  * observation points (a QueryExecutionListener for the planning phases,
  * a SparkListener for executions, jobs, stages and tasks, and the
  * codegen and catalog metric sources). Listener events arrive on
  * Spark's bus threads; they are kept with their timestamps and assigned
  * to operations by time once the run is over.
  */
final class Tracer(spark: SparkSession) {
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble
  def now(): Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e6

  private val userSpans = mutable.ArrayBuffer.empty[Span]
  private val ops = mutable.ArrayBuffer.empty[OpRecord]
  private var trace = -1

  // filled from listener threads; every access holds `lock`
  private val lock = new Object
  private val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
  private val seenTrackers = mutable.HashSet.empty[(Int, String)]
  private val execStart = mutable.HashMap.empty[Long, Double]
  private val execs = mutable.ArrayBuffer.empty[(Long, Double, Double)]
  private val jobStart = mutable.HashMap.empty[Int, (Double, Long)]
  private val jobs = mutable.ArrayBuffer.empty[(Int, Double, Double, Long)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[(Int, Double, Double)]
  private val jobSums = mutable.HashMap.empty[Int, TaskSums]
  private var events = 0L

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      events += 1
      val id = System.identityHashCode(qe.tracker)
      qe.tracker.phases.foreach { case (name, p) =>
        if (seenTrackers.add((id, name)))
          phases += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val busListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        events += 1; execStart(s.executionId) = s.time.toDouble
      }
      case x: SparkListenerSQLExecutionEnd => lock.synchronized {
        events += 1
        execStart.remove(x.executionId).foreach(s =>
          execs += ((x.executionId, s, x.time.toDouble)))
      }
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = lock.synchronized {
      events += 1
      val exec = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobStart(j.jobId) = (j.time.toDouble, exec)
      j.stageIds.foreach(stageJob(_) = j.jobId)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = lock.synchronized {
      events += 1
      jobStart.remove(j.jobId).foreach { case (s, exec) =>
        jobs += ((j.jobId, s, j.time.toDouble, exec))
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = lock.synchronized {
      events += 1
      val i = s.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime)
        stages += ((i.stageId, a.toDouble, b.toDouble))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = lock.synchronized {
      events += 1
      val m = t.taskMetrics
      if (m != null) {
        val job = stageJob.getOrElse(t.stageId, -1)
        val a = jobSums.getOrElseUpdate(job, new TaskSums)
        val info = t.taskInfo
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        val delay = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuMs += m.executorCpuTime / 1e6
        a.gcMs += m.jvmGCTime
        a.waitMs += delay + m.executorDeserializeTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        a.spill += m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory.toDouble)
        a.readBytes += m.inputMetrics.bytesRead
        a.readRecords += m.inputMetrics.recordsRead
        a.written += m.outputMetrics.bytesWritten
      }
    }
  }

  spark.listenerManager.register(planListener)
  spark.sparkContext.addSparkListener(busListener)

  // --- synchronous counters, read at operation boundaries --------------
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocBytes(): Long = threads.getTotalThreadAllocatedBytes
  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  /** Compile count and summed compile ms. The histogram keeps every sample
    * until it holds 1028, so the sum is exact below that; past it the sum
    * is the count times the sampled mean.
    */
  private def compileState(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    (n, if (n <= 1028) snap.getValues.map(_.toDouble).sum else n * snap.getMean)
  }
  private def filesDiscovered(): Long = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount

  /** Runs one operation as a new trace. `f` returns (result rows, rows
    * changed); both feed the per-row ratios.
    */
  def op(kind: String, statements: Int)(f: => (Long, Long)): (Long, Long) = {
    trace += 1
    val (c0, cms0) = compileState()
    val fd0 = filesDiscovered(); val al0 = allocBytes(); val gc0 = gcMillis()
    val s = now()
    val r = f
    val e = now()
    val (c1, cms1) = compileState()
    ops += OpRecord(trace, kind, s, e, statements, r._1, r._2, c1 - c0,
      cms1 - cms0, filesDiscovered() - fd0, allocBytes() - al0, gcMillis() - gc0)
    r
  }

  /** A span around one public engine call inside the current operation. */
  def span[T](name: String)(f: => T): T = {
    val s = now()
    try f finally userSpans += Span(name, trace, s, now())
  }

  /** Waits until the listener bus has delivered every event of the run:
    * no job or execution still open and no new event for a while.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 15000000000L
    var last = -1L
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      val (n, open) = lock.synchronized((events, jobStart.size + execStart.size))
      if (n != last) { last = n; quietSince = System.nanoTime() }
      else if (open == 0 && System.nanoTime() - quietSince > 300000000L) return
      Thread.sleep(20)
    }
  }

  def stop(): Unit = {
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(busListener)
  }

  /** Assigns every recorded interval to the operation it started in. Spark
    * stamps events in whole ms, so an operation's window is widened by
    * 1 ms on each side.
    */
  private def opOf(t: Double): Option[OpRecord] =
    ops.find(o => t >= o.start - 1 && t <= o.end + 1)

  /** A job belongs to the operation of its SQL execution, found through
    * the job's `spark.sql.execution.id`; a job outside any execution
    * belongs to the operation it started in.
    */
  private def jobOp(start: Double, exec: Long): Option[OpRecord] =
    execs.find(_._1 == exec).flatMap(x => opOf(x._2)).orElse(opOf(start))

  /** Every span of the run with its parent: operation → engine call →
    * planning phase / execution → job → stage, nested by time.
    */
  def spans(): Seq[Span] = lock.synchronized {
    val raw = mutable.ArrayBuffer.empty[Span]
    ops.foreach(o => raw += Span(s"op.${o.kind}", o.trace, o.start, o.end))
    raw ++= userSpans
    def add(name: String, s: Double, e: Double, exec: Long = -1L,
        op: Option[OpRecord] = None): Unit =
      op.orElse(opOf(s)).foreach(o => raw += Span(name, o.trace, s, e, exec = exec))
    phases.foreach { case (p, s, e) => add(s"catalyst.$p", s, e) }
    execs.foreach { case (x, s, e) => add("sql.execution", s, e, x) }
    jobs.foreach { case (_, s, e, x) => add("exec.job", s, e, x, jobOp(s, x)) }
    stages.foreach { case (_, s, e) => add("exec.stage", s, e) }
    val rank = Map("op" -> 0, "operators" -> 1, "frontend" -> 1, "sql" -> 2,
      "catalyst" -> 3, "exec" -> 4)
    def level(s: Span): Int =
      if (s.name == "exec.stage") 5 else rank(s.name.takeWhile(_ != '.'))
    raw.groupBy(_.trace).values.flatMap { ss =>
      val sorted = ss.sortBy(s => (s.start, level(s), -s.end))
      sorted.map { s =>
        val linked = if (s.name == "exec.job" && s.exec >= 0)
          sorted.find(p => p.name == "sql.execution" && p.exec == s.exec) else None
        val parent = linked.orElse(sorted.filter(p => p ne s).filter(p => level(p) < level(s) &&
          p.start <= s.start && s.end <= p.end + 1).sortBy(p => -level(p)).headOption)
        s.copy(parent = parent.map(_.name).getOrElse(""))
      }
    }.toSeq.sortBy(s => (s.trace, s.start))
  }

  /** Mean-per-operation layer metrics, in the order BENCHMARK.json lists
    * them, plus the spans they were computed from.
    */
  def layers(cores: Int, tableFiles: Long, liveBytes: Long, liveRows: Long,
      suiteSeconds: Double): (Seq[(String, Double, String)], Seq[Span]) = {
    val all = spans()
    val byTrace = all.groupBy(_.trace)
    val n = math.max(1, ops.size).toDouble
    def sumOver(f: OpRecord => Double): Double = ops.map(f).sum
    val jobsByOp = lock.synchronized(jobs.toSeq.flatMap { case (id, s, e, exec) =>
      jobOp(s, exec).map(o => (o.trace, id, s, e, exec))
    })
    val sums = jobsByOp.groupBy(_._1).map { case (t, js) =>
      t -> js.flatMap(j => lock.synchronized(jobSums.get(j._2)))
    }
    def taskSum(f: TaskSums => Double): Double =
      sums.values.flatten.map(f).sum
    def perOpMax(f: TaskSums => Double): Double =
      sums.values.map(ss => if (ss.isEmpty) 0.0 else ss.map(f).max).sum
    def spansOf(t: Int, p: String => Boolean) =
      byTrace.getOrElse(t, Nil).filter(s => p(s.name))
    // self time of the spans called `name`, net of everything nested in them
    def selfOf(name: String): Double = ops.map { o =>
      val ss = byTrace.getOrElse(o.trace, Nil)
      ss.filter(_.name == name).map { p =>
        Stats.selfTime(p.iv, ss.filter(c => c.name != name && !c.name.startsWith("op.") &&
          c.start >= p.start - 1 && c.end <= p.end + 1).map(_.iv))
      }.sum
    }.sum
    def phase(p: String) = all.filter(_.name == s"catalyst.$p").map(_.ms).sum
    val jobWall = ops.map(o => Stats.unionLength(
      spansOf(o.trace, _ == "exec.job").map(_.iv))).sum
    val execsInBuild = ops.map { o =>
      val builds = spansOf(o.trace, _ == "operators.build")
      spansOf(o.trace, _ == "sql.execution")
        .count(x => builds.exists(b => x.start >= b.start - 1 && x.start <= b.end + 1))
    }.sum
    val statements = math.max(1.0, sumOver(_.statements.toDouble))
    val untraced = ops.map { o =>
      Stats.selfTime((o.start, o.end),
        spansOf(o.trace, x => !x.startsWith("op.")).map(_.iv))
    }.sum
    val changed = sumOver(_.changed.toDouble)
    val rowsOut = sumOver(_.rowsOut.toDouble) + changed
    val mb = 1e6
    val metrics = Seq(
      ("frontend.self_ms", selfOf("frontend.execute") / n, "ms"),
      ("frontend.sql_execs", all.count(_.name == "sql.execution") / statements, "count"),
      ("operators.build_ms", selfOf("operators.build") / n, "ms"),
      ("operators.eager_execs", execsInBuild / n, "count"),
      ("catalyst.parse_ms", phase("parsing") / n, "ms"),
      ("catalyst.analyze_ms", phase("analysis") / n, "ms"),
      ("catalyst.optimize_ms", phase("optimization") / n, "ms"),
      ("catalyst.plan_ms", phase("planning") / n, "ms"),
      ("codegen.compile_ms", sumOver(_.compileMs) / n, "ms"),
      ("codegen.compiles", sumOver(_.compiles.toDouble) / n, "count"),
      ("exec.ms", jobWall / n, "ms"),
      ("exec.jobs", jobsByOp.size / n, "count"),
      ("exec.stages", all.count(_.name == "exec.stage") / n, "count"),
      ("exec.tasks", taskSum(_.tasks) / n, "count"),
      ("exec.task_run_ms", taskSum(_.runMs) / n, "ms"),
      ("exec.task_cpu_ms", taskSum(_.cpuMs) / n, "ms"),
      ("exec.task_gc_ms", taskSum(_.gcMs) / n, "ms"),
      ("exec.task_wait_ms", taskSum(_.waitMs) / n, "ms"),
      ("exec.slot_util", if (jobWall > 0) taskSum(_.runMs) / (jobWall * cores) else 0.0, "ratio"),
      ("exec.shuffle_write_mb", taskSum(_.shuffleWrite) / mb / n, "MB"),
      ("exec.shuffle_read_mb", taskSum(_.shuffleRead) / mb / n, "MB"),
      ("exec.shuffle_records", taskSum(_.shuffleRecords) / n, "count"),
      ("exec.spill_mb", taskSum(_.spill) / mb / n, "MB"),
      ("exec.peak_task_mem_mb", perOpMax(_.peakMem) / mb / n, "MB"),
      ("exec.rows_in_per_row_out", if (rowsOut > 0) taskSum(_.readRecords) / rowsOut else 0.0, "ratio"),
      ("storage.read_mb", taskSum(_.readBytes) / mb / n, "MB"),
      ("storage.files_discovered", sumOver(_.filesDiscovered.toDouble) / n, "count"),
      ("storage.written_mb", taskSum(_.written) / mb / n, "MB"),
      ("storage.written_kb_per_row_changed",
        if (changed > 0) taskSum(_.written) / 1e3 / changed else 0.0, "kB"),
      ("storage.table_files", tableFiles.toDouble, "count"),
      ("storage.bytes_per_live_row", if (liveRows > 0) liveBytes.toDouble / liveRows else 0.0, "B"),
      ("jvm.alloc_mb", sumOver(_.allocBytes.toDouble) / mb / n, "MB"),
      ("jvm.gc_ms", sumOver(_.gcMs.toDouble) / n, "ms"),
      ("trace.untraced_ms", untraced / n, "ms"),
      ("trace.op_ms", sumOver(o => o.end - o.start) / n, "ms"),
      ("trace.suite_s", suiteSeconds, "s"))
    (metrics, all)
  }
}
