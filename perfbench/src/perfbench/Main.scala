package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.{BenchConfs, SparkEntry}
import graft.streaming.{Stateful, Watermark, Windows}

/** One benchmark run in one JVM: a closed loop with a single client, so
  * the next query starts only when the previous one has returned.
  *
  * Pass 0 is the cold pass of a fresh session; warm passes follow until
  * `--seconds` have elapsed. Every query execution is timed as build
  * (the graft DSL call) → plan (Catalyst, forced through
  * `queryExecution.executedPlan`) → execute (`collect()` of that same
  * plan). With `--trace 1`, traced executions attach a [[Recorder]] and
  * record spans; warm passes trace every other query, so the record holds
  * both sides of the tracing overhead. Everything measured is
  * written as one JSON record (`--record`); the caller derives metrics
  * and checks results. */
object Main {

  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def parse(args: Array[String]): Args = {
    require(args.length % 2 == 0, s"expected --key value pairs: ${args.mkString(" ")}")
    new Args(args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** The stream-replay queries: graft's windowed aggregation and its
    * stateful funnel, each fed the same watermarked backlog. */
  val streamQueries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "tumble" -> (ev => Windows.tumble(ev, col("ts"), "1 hour", Seq(col("event_type")),
      Seq(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("sum_cents")))),
    "funnel" -> (ev => Stateful.funnelPairs(ev, "user_id", "event_type", "ts",
      "click", "purchase", "1 day")))

  def session(a: Args): (SparkSession, Seq[(String, String)]) = {
    val cores = a("cores")
    val work = new File(a("out")).getAbsoluteFile
    val confs = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.app.name" -> "perfbench",
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.shuffle.partitions" -> cores,
      "spark.sql.files.maxPartitionBytes" -> "4m",
      "spark.sql.files.openCostInBytes" -> "64k",
      "spark.local.dir" -> new File(work, "local").getPath,
      "spark.sql.warehouse.dir" -> new File(work, "warehouse").getPath,
      "spark.sql.streaming.numRecentProgressUpdates" -> "100000") ++
      BenchConfs.planConfs ++ BenchConfs.aggConfsFor(a("data"))
    val b = SparkSession.builder().withExtensions(new graft.exts.GraftExtensions)
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    // sessionState (and with it the extension rules) is built lazily
    spark.range(1).queryExecution.optimizedPlan
    (spark, confs)
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val (spark, confs) = session(a)
    val setupS = System.currentTimeMillis() / 1e3 - a("t0").toDouble
    if (a.get("setup-only").contains("1")) {
      println(f"""{"setup_s":$setupS%.6f}""")
      System.out.flush()
      // the sample is taken; tearing the context down would only add wall
      Runtime.getRuntime.halt(0)
    }
    val run = new Run(spark, a)
    try {
      if (a("mode") == "stream") run.stream() else run.batch(a("queries").split(",").toSeq)
      val anchor = run.anchor(a("anchor-data"))
      json.writeValue(new File(a("record")), Map(
        "setup_s" -> setupS,
        "confs" -> confs.toMap,
        "spark_version" -> spark.version,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "cores" -> Runtime.getRuntime.availableProcessors,
        "peak_rss_mb" -> peakRssMb,
        "q01_warm_s" -> anchor,
        "passes" -> run.passes.toSeq,
        "executions" -> run.executions.toSeq,
        "spans" -> run.spans.toSeq.map(_.toMap),
        "oracle_sql" -> run.oracle.toMap))
    } finally spark.stop()
  }

  private def peakRssMb: Double = {
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    hwm / 1024.0
  }
}

/** One run's loop state: passes, executions and spans, kept in memory and
  * written out when the run ends. */
final class Run(spark: SparkSession, a: Main.Args) {
  import Main._

  private val sc = spark.sparkContext
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val warmup = a("warmup-passes").toInt
  private val traceRun = a("trace") == "1"
  private val out = new File(a("out")).getAbsoluteFile
  private val recorder = new Recorder
  private val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nowNs: Long = System.nanoTime() + clockOffsetNs

  val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  val executions = mutable.ArrayBuffer.empty[Map[String, Any]]
  val spans = mutable.ArrayBuffer.empty[Span]
  val oracle = mutable.Map.empty[String, String]
  private val runStartNs = nowNs

  /** Cold pass, then `warmup` unmeasured passes, then measured warm passes
    * while another one, as long as the last, still fits in `seconds` (at
    * least two). Every pass runs the queries in the one order the seed
    * draws, so the query that ends a pass and the one that starts the next,
    * and with them the codegen cache hits at the boundary, are the same in
    * every pass. In a traced run the cold pass is traced, and each query is
    * traced in every other warm pass, so every query has a traced and an
    * untraced warm execution to compare. */
  private def loop(items: Seq[String])(one: (String, String, Int, Boolean) => Map[String, Any]): Unit = {
    // SplittableRandom mixes the seed: java.util.Random's first draws of
    // nearby seeds are alike
    val order = new scala.util.Random(new java.util.SplittableRandom(seed).nextLong()).shuffle(items)
    var warmS = 0.0
    var lastS = 0.0
    var pass = 0
    while (pass <= warmup + 2 || warmS + lastS <= seconds) {
      val start = nowNs
      val lat = order.map { name =>
        val traced = traceRun && (pass == 0 || (items.indexOf(name) + pass) % 2 == 0)
        if (traced) sc.addSparkListener(recorder)
        val e = one(name, s"p$pass.$name", pass, traced)
        if (traced) sc.removeSparkListener(recorder)
        executions += e
        e("latency_ms").asInstanceOf[Double]
      }
      if (traceRun) spans += Span(s"p$pass", "run", "pass", start, nowNs)
      lastS = lat.sum / 1e3
      if (pass > warmup) warmS += lastS
      val kind = if (pass == 0) "cold" else if (pass <= warmup) "warmup" else "warm"
      passes += Map("pass" -> pass, "kind" -> kind, "wall_s" -> lastS)
      pass += 1
    }
    if (traceRun) {
      spans += Span("run", "", "run", runStartNs, nowNs)
      spans ++= recorder.spans
    }
  }

  private def setPhase(p: String): Unit = sc.setLocalProperty(Recorder.PhaseKey, p)

  private def timed[T](span: String, parent: String, traced: Boolean)(f: => T): (T, Double) = {
    setPhase(span)
    val s = nowNs
    val r = f
    val e = nowNs
    if (traced) spans += Span(s"$parent.$span", parent, span, s, e)
    (r, (e - s) / 1e6)
  }

  private def codegenNow = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def batch(names: Seq[String]): Unit = {
    val dir = a("data")
    names.foreach(n => SparkEntry.oracleSql.get(n).foreach(oracle(n) = _))
    val results = mutable.ArrayBuffer.empty[(String, DataFrame, Array[org.apache.spark.sql.Row])]
    loop(names) { (name, id, pass, traced) =>
      sc.setLocalProperty(Recorder.ExecKey, id)
      val (cg0, cgNs0) = codegenNow
      val s = nowNs
      var ok = true
      var error = ""
      var build, plan, exec = 0.0
      var df: DataFrame = null
      var rows = Array.empty[org.apache.spark.sql.Row]
      try {
        val (d, b) = timed("build", id, traced)(SparkEntry.queries(name)(spark, dir))
        df = d; build = b
        plan = timed("plan", id, traced)(df.queryExecution.executedPlan)._2
        val (r, x) = timed("execute", id, traced)(df.collect())
        rows = r; exec = x
      } catch { case NonFatal(t) => ok = false; error = s"${t.getClass.getName}: ${t.getMessage}".take(500) }
      val e = nowNs
      if (traced) spans += Span(id, s"p$pass", "query", s, e)
      val (cg1, cgNs1) = codegenNow
      if (pass == 0 && ok) results += ((name, df, rows))
      val m = mutable.Map[String, Any](
        "exec" -> id, "q" -> name, "pass" -> pass, "traced" -> traced, "ok" -> ok, "error" -> error,
        "build_ms" -> build, "plan_ms" -> plan, "exec_ms" -> exec, "latency_ms" -> (e - s) / 1e6,
        "result_rows" -> rows.length,
        "codegen_compiles" -> (cg1 - cg0), "codegen_ms" -> (cgNs1 - cgNs0) / 1e6)
      if (ok) {
        val ph = df.queryExecution.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          m(s"${p}_ms") = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        }
        m ++= Plans.count(df.queryExecution.executedPlan).toMap
      }
      if (traced) {
        PerfbenchBus.drain(sc)
        m("sched") = recorder.countsOf(id)
        m("replans") = recorder.replansOf(id)
      }
      m.toMap
    }
    // untimed: the cold pass's results, for the caller's oracle check
    results.foreach { case (name, df, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(new File(out, s"results/$name").getPath)
    }
  }

  def stream(): Unit = {
    val backlog = a("backlog")
    val delay = a("watermark")
    val perBatch = a("files-per-batch")
    val fns = streamQueries.toMap
    loop(streamQueries.map(_._1)) { (name, id, pass, traced) =>
      sc.setLocalProperty(Recorder.ExecKey, id)
      val (cg0, cgNs0) = codegenNow
      val sink = s"${name}_p$pass"
      val s = nowNs
      var error = ""
      var build, plan, exec = 0.0
      var df: DataFrame = null
      var progress = Array.empty[StreamingQueryProgress]
      try {
        val (d, b) = timed("build", id, traced) {
          val src = spark.readStream.schema(eventSchema)
            .option("maxFilesPerTrigger", perBatch).parquet(backlog)
          fns(name)(Windows.withWatermark(src, Watermark("ts", delay)))
        }
        df = d; build = b
        // analysis ran when the DataFrame was built, and each micro-batch
        // optimizes and plans its own increment: this phase is near zero
        plan = timed("plan", id, traced)(df.queryExecution.analyzed)._2
        exec = timed("execute", id, traced) {
          val q = df.writeStream.format("memory").queryName(sink).outputMode("append")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", new File(out, s"ckpt/$id").getPath)
            .start()
          try q.awaitTermination()
          finally progress = q.recentProgress
          q.exception.foreach(x => error = x.getMessage)
        }._2
      } catch { case NonFatal(t) => error = s"${t.getClass.getName}: ${t.getMessage}" }
      val e = nowNs
      val (cg1, cgNs1) = codegenNow
      if (traced) {
        spans += Span(id, s"p$pass", "query", s, e)
        progress.foreach { p =>
          val bStart = java.time.Instant.parse(p.timestamp)
          val bs = bStart.getEpochSecond * 1000000000L + bStart.getNano
          val bid = s"$id.mb${p.batchId}"
          val total = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)
          spans += Span(bid, s"$id.execute", "micro-batch", bs, bs + total * 1000000L)
          // durationMs parts carry no start times: lay them end to end in
          // the order a micro-batch runs them. addBatch takes the id the
          // Recorder gives as parent to the batch's jobs.
          var at = bs
          Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
            .foreach { k =>
              Option(p.durationMs.get(k)).map(_.toLong).filter(_ > 0).foreach { d =>
                val part = if (k == "addBatch") s"$id.batch${p.batchId}" else s"$bid.$k"
                spans += Span(part, bid, k, at, at + d * 1000000L)
                at += d * 1000000L
              }
            }
        }
        PerfbenchBus.drain(sc)
      }
      if (pass == 0 && error.isEmpty)
        spark.table(sink).coalesce(1).write.mode("overwrite")
          .parquet(new File(out, s"results/$name").getPath)
      spark.catalog.dropTempView(sink)
      val analysis = Option(df).flatMap(_.queryExecution.tracker.phases.get("analysis"))
      Map("exec" -> id, "q" -> name, "pass" -> pass, "traced" -> traced, "ok" -> error.isEmpty,
        "error" -> error, "build_ms" -> build, "plan_ms" -> plan, "exec_ms" -> exec,
        "latency_ms" -> (e - s) / 1e6,
        "analysis_ms" -> analysis.map(_.durationMs.toDouble).getOrElse(0.0),
        "codegen_compiles" -> (cg1 - cg0), "codegen_ms" -> (cgNs1 - cgNs0) / 1e6,
        "batches" -> progress.toSeq.map(progressMap),
        "sched" -> (if (traced) recorder.countsOf(id) else Map.empty))
    }
  }

  private def progressMap(p: StreamingQueryProgress): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    Map("batch" -> p.batchId, "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap,
      "state" -> p.stateOperators.toSeq.map(o => Map(
        "rows" -> o.numRowsTotal, "memory_bytes" -> o.memoryUsedBytes,
        "rows_removed" -> o.numRowsRemoved, "commit_ms" -> o.commitTimeMs)))
  }

  /** q01 warm seconds on `dir`, after one warm-up: the host-window anchor. */
  def anchor(dir: String): Double = {
    def once(): Double = {
      val t = System.nanoTime()
      SparkEntry.queries("q01_agg")(spark, dir).collect()
      (System.nanoTime() - t) / 1e9
    }
    once()
    once()
  }
}

/** Counts over the final physical plan, after execution: with AQE on,
  * the stages that actually ran. */
object Plans {
  import org.apache.spark.sql.execution._
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
  import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

  def count(root: SparkPlan): Map[String, Any] = {
    var nodes, exchanges, codegenStages, nonCodegen = 0
    var scanRows = 0L
    def rows(p: SparkPlan) = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    def visit(p: SparkPlan, inCodegen: Boolean): Unit = p match {
      case x: AdaptiveSparkPlanExec => visit(x.executedPlan, inCodegen)
      case x: QueryStageExec => visit(x.plan, inCodegen)
      case _: ReusedExchangeExec | _: ReusedSubqueryExec => ()
      case x: WholeStageCodegenExec => codegenStages += 1; visit(x.child, inCodegen = true)
      case x: InputAdapter => visit(x.child, inCodegen = false)
      case x =>
        nodes += 1
        x match {
          case _: Exchange => exchanges += 1
          case _ => if (!inCodegen) nonCodegen += 1
        }
        x match {
          case s: DataSourceScanExec => scanRows += rows(s)
          case s: BatchScanExec => scanRows += rows(s)
          case _ =>
        }
        x.children.foreach(visit(_, inCodegen))
        x.subqueries.foreach(visit(_, inCodegen = false))
    }
    visit(root, inCodegen = false)
    Map("plan_nodes" -> nodes, "plan_exchanges" -> exchanges,
      "plan_codegen_stages" -> codegenStages, "plan_non_codegen_nodes" -> nonCodegen,
      "scan_rows" -> scanRows)
  }
}
