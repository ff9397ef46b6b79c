package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

/** Runs one workload for one seed and prints one JSON result line.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --data <fixture dir> --run-dir <scratch dir> --out <dir>
  *                [--record <dir>]
  * }}}
  *
  * The engine is reached only through its public entry points:
  * `SparkEntry.queries` (the `Q.fn` builders), `GraftSession.execute`,
  * `Meta.registerAll` and the `Engine` session pins.
  */
object Main {

  val Relational: Seq[String] = Seq(
    "scan_pruned", "scan_dual", "projection_exprs", "filter_selection",
    "join_inner", "join_left_outer", "join_right_outer", "join_full_outer",
    "join_semi_anti", "join_cross", "join_merge", "join_multiway",
    "agg_group", "agg_global", "agg_empty_input", "agg_distinct",
    "agg_firstrow", "sort_multi", "topn", "limit_offset",
    "expr_arith", "expr_compare", "expr_logic", "expr_control",
    "expr_predicates", "expr_string", "expr_coercion",
    "dml_insert_select", "dml_delete", "dml_replace",
    "window_funcs", "set_ops", "orders_cube", "events_rollup",
    "scan_bucketed_join")

  val PipelineHeavy: Seq[String] = Seq(
    "dedup_components", "pipeline_corpus", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "ann_ivf", "dedup_semantic")

  /** Untimed first-touch before the analytic passes. Relational runs the
    * engine bench's first two warm-up queries (scan_bucketed_join's first
    * run builds the bucketed copies, so the timed runs measure the probe);
    * the pipeline pays the text and embedding first-touch with one
    * untimed query of each kind, since the engine's text probe is not
    * public.
    */
  val WarmUp: Map[String, Seq[String]] = Map(
    "relational" -> Seq("scan_pruned", "scan_bucketed_join"),
    "pipeline_heavy" -> Seq("dedup_exact", "ann_cosine_topk"))

  val Workloads: Seq[String] = Seq("relational", "pipeline_heavy", "sql_session")

  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, runDir: String, out: String, record: Option[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), need("run-dir"), need("out"), m.get("record"))
  }

  /** One operation's outcome. */
  final case class Done(kind: String, write: Boolean, ms: Double, ok: Boolean)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    var spark: SparkSession = null
    var rep = 0
    def newSession(): SparkSession = {
      rep += 1
      val s = graft.Engine.memoryPins(graft.Engine.semanticPins(SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-${args.workload}")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.ui.enabled", "false")
        // a fresh warehouse for every setup, inside the run's scratch dir
        .config("spark.sql.warehouse.dir", s"${args.runDir}/warehouse-$rep")
        .config("spark.local.dir", s"${args.runDir}/local")))
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    val workload: Workload =
      if (args.workload == "sql_session") new SessionWorkload(args)
      else if (args.workload == "relational") new AnalyticWorkload(args, Relational, 10)
      else new AnalyticWorkload(args, PipelineHeavy, 30)

    // set-up, several times: each builds a fresh session and the
    // workload's starting state; the last one is kept for the pass
    val setups = (1 to SetupReps).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = newSession()
      graft.operators.Meta.registerAll(spark, args.data, prefix = "")
      workload.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    workload.warmUp(spark)
    System.err.println(f"[perfbench] set-ups ${setups.map(x => f"$x%.2f").mkString(" ")} s, " +
      f"warm-up ${(System.nanoTime() - w0) / 1e9}%.2f s")

    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val t0 = System.nanoTime()
    val done = workload.run(spark, tracer)
    System.err.println(f"[perfbench] ${workload.passes} pass(es) ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val finalFailures = workload.finalCheck(spark)
    args.record.foreach(dir => workload.record(spark, dir))

    val okMs = done.filter(_.ok).map(_.ms)
    val failed = done.count(!_.ok) + finalFailures
    val attempted = done.size + workload.finalChecks
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None =>
        Seq(
          ("setup_s", Stats.median(setups), "s"),
          ("suite_s", okMs.sum / 1e3 / workload.passes, "s"),
          ("op_p50_ms", if (okMs.isEmpty) 0.0 else Stats.median(okMs), "ms"),
          ("op_geomean_ms", if (okMs.isEmpty) 0.0 else Stats.geomean(okMs), "ms"))
      case Some(t) =>
        t.drain()
        val (files, bytes, rows) = workload.tableState(spark)
        val (layers, spans) = t.layers(cores, files, bytes, rows, okMs.sum / 1e3 / workload.passes)
        t.stop()
        writeSpans(Paths.get(args.out, s"${args.workload}-seed${args.seed}.spans.jsonl"), spans)
        def p50(w: Boolean) = {
          val xs = done.filter(d => d.ok && d.write == w).map(_.ms)
          if (xs.isEmpty) 0.0 else Stats.median(xs)
        }
        layers ++ Seq(("trace.op_tail_ms", if (okMs.isEmpty) 0.0 else Stats.tail(okMs), "ms"),
          ("jvm.rss_peak_mb", rssPeakMb(), "MB"),
          ("session.read_p50_ms", p50(false), "ms"),
          ("session.write_p50_ms", p50(true), "ms"))
    }
    System.err.println("[perfbench] ops " + done.map(d =>
      f"${d.kind}=${d.ms}%.0f${if (d.ok) "" else "!"}").mkString(" "))
    spark.stop()
    println(result(failed == 0, attempted, failed, metrics))
  }

  def rssPeakMb(): Double =
    try {
      val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).get
      hwm.split("\\s+")(1).toDouble / 1024
    } catch { case NonFatal(_) => 0.0 }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")

  def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, spans.map { s =>
      s"""{"name": "${s.name}", "trace": ${s.trace}, "start": ${num(s.start)}, """ +
        s""""end": ${num(s.end)}, "parent": "${s.parent}"""" +
        (if (s.exec >= 0) s""", "execution": ${s.exec}}""" else "}")
    }.asJava)
  }

  /** Order-insensitive digest of a result: columns by name, rows sorted. */
  def digest(df: org.apache.spark.sql.DataFrame, rows: Array[Row]): String = {
    val cols = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    def cell(v: Any): Any = v match {
      case s: scala.collection.Seq[_] => s.map(Render.value).mkString("[", ",", "]")
      case o => o
    }
    val lines = rows.toSeq.map(r => Render.row(cols.toSeq.map(i => cell(r.get(i))))).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}

/** A workload: set-up state, an untimed warm-up, then the measured
  * passes of fixed work.
  */
trait Workload {
  def setup(spark: SparkSession): Unit
  def warmUp(spark: SparkSession): Unit
  def passes: Int = 1
  def run(spark: SparkSession, tracer: Option[Tracer]): Seq[Main.Done]
  def finalChecks: Int = 0
  def finalCheck(spark: SparkSession): Int = 0
  /** (data files, their bytes, live rows) of the tables the pass writes. */
  def tableState(spark: SparkSession): (Long, Long, Long) = (0L, 0L, 0L)
  def record(spark: SparkSession, dir: String): Unit = ()

  protected def timed[T](tracer: Option[Tracer], kind: String, statements: Int)(
      f: => (T, Long, Long)): (T, Double) = {
    var out: Option[T] = None
    val t0 = System.nanoTime()
    def body = { val (v, rows, changed) = f; out = Some(v); (rows, changed) }
    tracer match {
      case Some(t) => t.op(kind, statements)(body)
      case None => body
    }
    (out.get, (System.nanoTime() - t0) / 1e6)
  }
  protected def span[T](tracer: Option[Tracer], name: String)(f: => T): T =
    tracer.fold(f)(_.span(name)(f))
}

/** Passes over a fixed query list, each pass in its own seeded order;
  * one pass per `secondsPerPass` of --seconds. Each query is built
  * through `Q.fn` and collected, with the cache cleared before it, and
  * checked against the stored row count and digest.
  */
final class AnalyticWorkload(args: Main.Args, names: Seq[String], secondsPerPass: Int)
    extends Workload {
  override val passes: Int = math.max(1, args.seconds / secondsPerPass)
  private val expected: Map[String, (Long, String)] = Expectations.load()
  private val digests = scala.collection.mutable.LinkedHashMap.empty[String, (Long, String)]

  def setup(spark: SparkSession): Unit = ()

  def warmUp(spark: SparkSession): Unit = {
    val qs = graft.SparkEntry.queries
    Main.WarmUp(args.workload).foreach { n =>
      qs(n)(spark, args.data).collect()
      spark.catalog.clearCache()
    }
  }

  def run(spark: SparkSession, tracer: Option[Tracer]): Seq[Main.Done] = {
    val qs = graft.SparkEntry.queries
    val rng = new scala.util.Random(args.seed)
    (1 to passes).flatMap(_ => rng.shuffle(names)).map { n =>
      spark.catalog.clearCache()
      try {
        val ((df, rows), ms) = timed(tracer, n, 1) {
          val df = span(tracer, "operators.build")(qs(n)(spark, args.data))
          val rows = df.collect()
          ((df, rows), rows.length.toLong, 0L)
        }
        val got = (rows.length.toLong, Main.digest(df, rows))
        digests(n) = got
        val ok = args.record.isDefined || expected.get(n).contains(got)
        if (!ok) System.err.println(s"[perfbench] $n: got $got, want ${expected.get(n)}")
        Main.Done(n, write = false, ms, ok)
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $n: ${e.getMessage}")
        Main.Done(n, write = false, 0.0, ok = false)
      }
    }
  }

  /** Writes the observed row counts and digests, plus each result in the
    * layout `tools/compare.py` grades against DuckDB.
    */
  override def record(spark: SparkSession, dir: String): Unit = {
    val qs = graft.SparkEntry.queries
    Files.createDirectories(Paths.get(dir))
    names.foreach { n =>
      qs(n)(spark, args.data).coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
    }
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    Files.writeString(Paths.get(dir, "oracle_sql.json"), graft.SparkEntry.oracleSql
      .filter(e => names.contains(e._1)).map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",\n", "}"))
    Files.write(Paths.get(dir, "expected.tsv"),
      digests.toSeq.sortBy(_._1).map { case (n, (r, d)) => s"$n\t$r\t$d" }.asJava)
  }
}

/** The stored per-query expectations (perfbench/expected.tsv, on the
  * classpath as a resource).
  */
object Expectations {
  def load(): Map[String, (Long, String)] = {
    val in = getClass.getResourceAsStream("/perfbench/expected.tsv")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.trim.nonEmpty).map(_.split("\t")).map(f => f(0) -> (f(1).toLong, f(2))).toMap
    finally in.close()
  }
}

/** One `GraftSession` client in a closed loop over a managed table with a
  * PRIMARY KEY and a secondary index, loaded from the `orders` fixture.
  * Every read is checked against the generator's model of the table.
  */
final class SessionWorkload(args: Main.Args) extends Workload {
  /** Whole blocks of [[Op.Block]], one per 6 s of --seconds. */
  val ops: Int = Op.Block.size * math.max(1, args.seconds / 6)
  private var gs: graft.GraftSession = _
  private var model: TableModel = _

  def setup(spark: SparkSession): Unit = {
    gs = new graft.GraftSession(spark)
    Seq("CREATE DATABASE IF NOT EXISTS pb", "USE pb",
      s"""CREATE TABLE ${Op.Table} (o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT,
         |  o_orderstatus VARCHAR(1), o_totalprice DOUBLE, o_orderpriority VARCHAR(15))""".stripMargin,
      s"CREATE INDEX ocust ON ${Op.Table} (o_custkey)",
      s"INSERT INTO ${Op.Table} SELECT ${Op.Cols} FROM orders"
    ).foreach(s => gs.execute(s).collect())
  }

  private def loadModel(spark: SparkSession): TableModel =
    new TableModel(graft.Tables.load(spark, args.data, "orders")
      .selectExpr(Op.Cols.split(", ").toSeq: _*).collect().toSeq.map(r =>
        OrderRow(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4))))

  /** One op of each kind, drawn from a fixed seed of its own, untimed. */
  def warmUp(spark: SparkSession): Unit = {
    model = loadModel(spark)
    val warm = new OpStream(-1L, model)
    val ops = Iterator.continually(warm.next()).take(Op.Block.size).toSeq
    ops.groupBy(_.kind).values.map(_.head).toSeq.sortBy(_.kind).foreach(runOp(_, None))
  }

  private def runOp(op: Op, tracer: Option[Tracer]): Main.Done =
    try {
      val (res, ms) = timed(tracer, op.kind, op.statements.size) {
        val results = op.statements.map { sql =>
          span(tracer, "frontend.execute")(gs.execute(sql)).collect()
        }
        val last = results.last.toSeq.map(_.toSeq)
        (last, last.size.toLong, if (op.isWrite) model.apply(op).toLong else 0L)
      }
      val bad = if (op.isWrite) None else model.check(op, res)
      bad.foreach(m => System.err.println(s"[perfbench] wrong read: $m"))
      Main.Done(op.kind, op.isWrite, ms, bad.isEmpty)
    } catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] ${op.kind}: ${e.getMessage}")
      Main.Done(op.kind, op.isWrite, 0.0, ok = false)
    }

  def run(spark: SparkSession, tracer: Option[Tracer]): Seq[Main.Done] = {
    val stream = new OpStream(args.seed, model)
    (1 to ops).map(_ => runOp(stream.next(), tracer))
  }

  override def finalChecks: Int = 1
  override def finalCheck(spark: SparkSession): Int = {
    val r = gs.execute(s"SELECT count(*) AS n, sum(o_orderkey) AS s FROM ${Op.Table}")
      .collect().head.toSeq
    val want = Seq(model.size.toLong, model.keyChecksum)
    if (Render.row(r) == Render.row(want)) 0
    else { System.err.println(s"[perfbench] final table: got $r, want $want"); 1 }
  }

  override def tableState(spark: SparkSession): (Long, Long, Long) = {
    val wh = Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val files = Files.walk(wh).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
    (files.size.toLong, files.map(Files.size).sum, model.size.toLong)
  }
}
