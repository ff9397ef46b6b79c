package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

/** Benchmark main: times every declared query at SPARK_GRAFT_SF_DIR, in
  * name order, after an untimed warmup. Each result is fully
  * materialized through a noop-format write (a `count()` would let
  * Catalyst prune unused projections), and the cache is cleared and a
  * full GC run between queries, outside the timed window.
  *
  * Output contract, for a caller that keeps only the last 2000 bytes
  * of stdout and json-parses the LAST line:
  *   - each query prints `{"q":name,"sec":N}` as it finishes
  *     (`"fail":1` added when it threw);
  *   - the last line is the total record: `metric`, `value` (the sum
  *     over ALL queries), `unit`, `n`, `fails`, `sched`, `sf`, and a
  *     `queries` map listing the heaviest queries first, cut so the
  *     whole line stays within [[MaxLineBytes]];
  *   - target/bench.json (override: SPARK_GRAFT_BENCH_OUT) holds the
  *     full record: every query's seconds plus the counted work inside
  *     its timed window ([[Work]]).
  * `sched` is the median and max of five runs of one fixed, trivial
  * shuffle job, taken after warmup (`pre`) and after the suite
  * (`post`): the host's task-dispatch overhead, independent of this
  * repo's code.
  */
object Bench {

  /** Bytes the last stdout line may take: a 2000-byte stdout tail less
    * room for the newline and a margin. */
  private[graft] val MaxLineBytes = 1900

  /** Locale-pinned seconds formatting: a comma-decimal default locale
    * would corrupt the JSON the driver parses. */
  private[graft] def fmt(sec: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(sec))

  /** JSON string escape for the one externally-controlled field (sfDir
    * comes from the environment). Query names are code-controlled and
    * need none of this. */
  private[graft] def jstr(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }

  private[graft] def schedJson(
      preP50: Double, preMax: Double,
      postP50: Double, postMax: Double): String =
    s""""sched":{"pre_p50":${fmt(preP50)},"pre_max":${fmt(preMax)},"post_p50":${fmt(postP50)},"post_max":${fmt(postMax)}}"""

  /** Counted work inside one query's timed window. gc_ms, io_mb and
    * alloc_mb are -1 when the JVM or OS exposes no such counter. */
  private[graft] final case class Work(gcMs: Long, ioMb: Long,
      allocMb: Long, tasks: Long, inRows: Long, spillMb: Long,
      peakMb: Long) {
    def values: Seq[Long] =
      Seq(gcMs, ioMb, allocMb, tasks, inRows, spillMb, peakMb)
  }
  private[graft] object Work {
    val keys: Seq[String] = Seq("gc_ms", "io_mb", "alloc_mb", "tasks",
      "in_rows", "spill_mb", "peak_mb")
  }

  private def entry(name: String, sec: Double): String =
    "\"" + name + "\":" + fmt(sec)

  private def utf8Len(s: String): Int =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length

  /** The last stdout line. `queries` takes the heaviest queries (ties
    * by name) for as long as the line fits [[MaxLineBytes]]; `value`
    * and `n` always cover the whole suite. */
  private[graft] def renderTotal(results: Seq[(String, Double)],
      sched: String, sfDir: String, fails: Int = 0): String = {
    val head = s"""{"metric":"total","value":${fmt(results.map(_._2).sum)},"unit":"sec","n":${results.size},"fails":$fails,$sched,"sf":"${jstr(sfDir)}","queries":{"""
    val entries = results.sortBy { case (n, s) => (-s, n) }
      .map { case (n, s) => entry(n, s) }
    // line bytes after k entries: head + entries + (k - 1) commas + "}}"
    val used = entries.scanLeft(utf8Len(head) + 1) {
      (acc, e) => acc + e.length + 1 }.tail
    val shown = entries.zip(used).takeWhile(_._2 <= MaxLineBytes).map(_._1)
    shown.mkString(head, ",", "}}")
  }

  /** The file record: every query's seconds in suite order and one map
    * per [[Work.keys]] counter. */
  private[graft] def renderFullRecord(results: Seq[(String, Double)],
      work: Seq[(String, Work)], sched: String, sfDir: String, fails: Int,
      cpus: String): String = {
    val qs = results.map { case (n, s) => entry(n, s) }.mkString("{", ",", "}")
    val maps = Work.keys.zipWithIndex.map { case (k, i) =>
      work.map { case (n, w) => "\"" + n + "\":" + w.values(i) }
        .mkString("\"" + k + "\":{", ",", "}")
    }.mkString(",")
    s"""{"metric":"total","value":${fmt(results.map(_._2).sum)},"unit":"sec","fails":$fails,"cpus":"${jstr(cpus)}","queries":$qs,$maps,$sched,"sf":"${jstr(sfDir)}"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    // memoryPins: plan-neutral per-task allocation-footprint pins (page
    // size, sort-path shuffle writer) — see Engine.memoryPins.
    val spark = Engine.memoryPins(Engine.semanticPins(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")))
      .getOrCreate()
    // log4j shares stdout in this harness: keep harmless WARN lines out
    // of the bounded tail. Query failures still reach stderr below.
    spark.sparkContext.setLogLevel("ERROR")

    // Cumulative stop-the-world GC ms across collectors; -1 readings
    // (undefined) clamp to 0 so one exotic collector cannot poison it.
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }

    // Bytes this process fetched from the storage layer (post page
    // cache); -1 when /proc/self/io is unavailable.
    def ioReadBytes(): Long =
      try {
        val src = scala.io.Source.fromFile("/proc/self/io")
        try src.getLines().collectFirst {
          case l if l.startsWith("read_bytes:") => l.split(":")(1).trim.toLong
        }.getOrElse(-1L)
        finally src.close()
      } catch { case scala.util.control.NonFatal(_) => -1L }
    def ioDelta(before: Long, after: Long): Long =
      if (before < 0 || after < 0) -1L else (after - before) / 1000000L

    // Bytes allocated across all live JVM threads; -1 when the JVM has
    // no allocation counters. A thread that exits inside the window
    // takes its count with it (the delta clamps at 0); Spark's
    // local-mode executor pool lives for the whole suite.
    val threadMx: Option[com.sun.management.ThreadMXBean] =
      java.lang.management.ManagementFactory.getThreadMXBean match {
        case t: com.sun.management.ThreadMXBean
            if t.isThreadAllocatedMemorySupported =>
          if (!t.isThreadAllocatedMemoryEnabled)
            t.setThreadAllocatedMemoryEnabled(true)
          Some(t)
        case _ => None
      }
    def allocBytes(): Long = threadMx.fold(-1L) { t =>
      // dead ids yield -1 entries; filter so they cannot shrink the sum
      t.getThreadAllocatedBytes(t.getAllThreadIds).filter(_ > 0).sum
    }
    def allocDelta(before: Long, after: Long): Long =
      if (before < 0 || after < 0) -1L
      else math.max(0L, (after - before) / 1000000L)

    // Completed tasks, input records and spilled bytes (cumulative), and
    // the max per-task peak execution memory (reset per window). An
    // identical plan over identical data completes identical task and
    // record counts, so these separate more work from slower work.
    val taskCnt = new java.util.concurrent.atomic.AtomicLong(0L)
    val recCnt = new java.util.concurrent.atomic.AtomicLong(0L)
    val spillCnt = new java.util.concurrent.atomic.AtomicLong(0L)
    val peakMem = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          taskCnt.incrementAndGet()
          // metrics can be null for a task that died before launch
          Option(te.taskMetrics).foreach { m =>
            recCnt.addAndGet(m.inputMetrics.recordsRead)
            spillCnt.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
            peakMem.accumulateAndGet(m.peakExecutionMemory,
              (a, b) => math.max(a, b))
          }
        }
      })
    // Listener events post asynchronously: wait for two stable 10 ms
    // reads (cap ~1 s), untimed — the seconds are already captured.
    def volumes(): (Long, Long, Long) = {
      var t = taskCnt.get(); var r = recCnt.get(); var s = spillCnt.get()
      var stable = 0; var spins = 0
      while (stable < 2 && spins < 100) {
        Thread.sleep(10L)
        val t1 = taskCnt.get(); val r1 = recCnt.get()
        val s1 = spillCnt.get()
        if (t1 == t && r1 == r && s1 == s) stable += 1
        else { stable = 0; t = t1; r = r1; s = s1 }
        spins += 1
      }
      if (stable < 2)
        System.err.println("[bench] volume counters did not quiesce " +
          "within the spin cap; the adjacent tasks/in_rows are approximate")
      (t, r, s)
    }
    // Each window opens on the previous window's quiesced close reading.
    var lastVol = (0L, 0L, 0L)

    // hoisted: SparkEntry.queries rebuilds the full map on every call
    val queryFns = SparkEntry.queries

    var failCount = 0
    var lastFailed = false
    def materialize(name: String): (Double, Work) = {
      val (tk0, rec0, sp0) = lastVol
      peakMem.set(0L)
      val g0 = gcMillis()
      val io0 = ioReadBytes()
      val al0 = allocBytes()
      val t0 = System.nanoTime()
      lastFailed = false
      // NonFatal ONLY (the Verify rule): an OOM must abort the suite
      // loudly, not keep timing queries on a JVM in an undefined state
      try queryFns(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(e) =>
        failCount += 1
        lastFailed = true
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // read before the inter-query System.gc() below, which must not be
      // charged to the query it follows
      val gcMs = gcMillis() - g0
      val ioMb = ioDelta(io0, ioReadBytes())
      val alMb = allocDelta(al0, allocBytes())
      val (tk1, rec1, sp1) = volumes()
      lastVol = (tk1, rec1, sp1)
      val work = Work(gcMs, ioMb, alMb, tk1 - tk0, rec1 - rec0,
        (sp1 - sp0) / 1000000L, peakMem.get() / 1000000L)
      // Queries persist shared subtrees; freeing them keeps one query's
      // cache from squeezing the next one's execution memory.
      spark.catalog.clearCache()
      // Untimed full GC: otherwise each timed run pays its predecessors'
      // old-gen garbage (profiled: decontaminate 4.8 s mid-suite vs
      // 1.5 s isolated with identical plans).
      System.gc()
      (sec, work)
    }

    // Fixed-shape scheduler probe (see scaladoc): collect() of a 1-row
    // aggregate over pinned partition counts (32 slices, an explicit
    // repartition(32) exchange), so readings compare across CPUS values
    // and measure dispatch overhead only. One untimed first run pays
    // the probe's own codegen/JIT.
    val schedShape = spark.range(0, 1024, 1, 32)
      .repartition(32, col("id") % 7)
      .select(sum(col("id")))
    def schedProbe(): (Double, Double) = {
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); schedShape.collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      (ts(2), ts.last)
    }
    schedShape.collect()

    // Untimed warmup of the one-off JIT/codegen/parquet-footer costs.
    // scan_bucketed_join's warmup also builds the session-cached
    // bucketed tables, so its timed run measures the exchange-free
    // probe; sql_dml_lifecycle's pays the metastore first-touch that
    // would otherwise land on the first sql_* query.
    materialize("scan_pruned")
    materialize("scan_bucketed_join")
    materialize("sql_dml_lifecycle")
    // Text-pipeline first-touch is paid by neutral probes over a
    // 256-doc sample, not by running a timed dedup_* query untimed.
    try graft.operators.Dedup.warmupProbe(spark, sfDir)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] warmup probe failed: ${e.getMessage}")
    }
    // ImageIO plugin-registry + PNG codec first-touch
    try graft.operators.Multimodal.warmupCodec()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] codec warmup failed: ${e.getMessage}")
    }
    spark.catalog.clearCache()
    val (preP50, preMax) = schedProbe()
    // the probe's and warmups' task-end events charge backwards, not to
    // the first timed query
    lastVol = volumes()

    // Optional name filter for local profiling (comma-separated);
    // unset = the full suite, as the driver runs it.
    val names = SparkEntry.selectNames(sys.env.get("SPARK_GRAFT_ONLY"))
    val timed = names.map { n =>
      val (sec, work) = materialize(n)
      // the marker keeps a time-until-failure from reading as a result
      println(s"""{"q":"$n","sec":${fmt(sec)}${
        if (lastFailed) ",\"fail\":1" else ""}}""")
      (n, sec, work)
    }
    val results = timed.map(t => t._1 -> t._2)
    val (postP50, postMax) = schedProbe()
    val sched = schedJson(preP50, preMax, postP50, postMax)
    println(renderTotal(results, sched, sfDir, failCount))
    try {
      val outFile = new java.io.File(benchOut)
      Option(outFile.getParentFile).foreach(_.mkdirs())
      val w = new java.io.PrintWriter(outFile, "UTF-8")
      try w.println(renderFullRecord(results,
        timed.map(t => t._1 -> t._3), sched, sfDir, failCount, cpus))
      finally w.close()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $benchOut: ${e.getMessage}")
    }
    spark.stop()
  }
}
