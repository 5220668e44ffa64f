package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SharedFrames, SparkEntry, Tables}
import graft.functions.GraftFunctions
import graft.sources._

/** One timed operation of a workload. `rows` is filled from the
  * listener after the window; `ok` is false when the operation threw. */
final case class Op(qid: String, instance: String, kind: String,
                    startNs: Long, endNs: Long, ok: Boolean, error: String,
                    traced: Boolean, var rows: Long = 0L)

/** The benchmark's JVM side. It runs one workload against tables
  * `run.py` generated, writes every timed operation, the results to
  * verify and the layer measurements to `<out>/result.json`, and the
  * trace spans to `<out>/spans.jsonl`. `run.py` computes the reported
  * metrics and runs the DuckDB checks from those files.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --data <dir> --out <dir> --launched-ms <epoch ms>
  *   [--wrong scan|entry]   (self-test: corrupt the scan checksum or
  *   the first pipeline entry's output)
  */
object Main {
  val Cores = 4
  val WarmupSeconds = 10.0
  /** The driver-bound iterative entries with the most jobs or leaks,
    * in the order one pass runs them. */
  val PipelineEntries: Seq[String] = Seq(
    "graph_pagerank_dist_converged", "text_tokens_bpe_learned", "stream_dedup_neardup")
  /** The tables each entry takes as input. A pass's rate is their rows
    * over its wall time: rows the tasks read would count every re-read of
    * an iteration, so a run that converged in more rounds, or a change
    * that stops re-reading, would move it the wrong way. */
  val EntryTables: Map[String, Seq[String]] = Map(
    "graph_pagerank_dist_converged" -> Seq("lineitem", "orders"),
    "text_tokens_bpe_learned" -> Seq("documents"),
    "stream_dedup_neardup" -> Seq("documents"))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = new Trace(args("trace") == "1")
    val dir = args("data")
    val out = args("out")
    val wrong = args.get("wrong")

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stats = new SparkStats(trace)
    spark.sparkContext.addSparkListener(stats)
    GraftFunctions.register(spark)
    val sessionReadyS = (System.currentTimeMillis() - args("launched-ms").toLong) / 1e3

    val run = new Run(spark, stats, trace, workload, seed, seconds, dir, out, wrong)
    val result = try run.execute(sessionReadyS)
    finally GraftHttpServers.stopAll()
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(out, "result.json"), json.writeValueAsString(result))
    if (trace.enabled) {
      val lines = trace.spans.asScala.toSeq.sortBy(_.start).map { s =>
        json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "qid" -> s.qid,
          "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end))
      }
      Files.write(Paths.get(out, "spans.jsonl"), lines.asJava)
    }
    spark.stop()
    sys.exit(0)
  }
}

final class Run(spark: SparkSession, stats: SparkStats, trace: Trace,
                workload: String, seed: Long, seconds: Double, dir: String,
                out: String, wrong: Option[String]) {
  import Main._

  private val sc = spark.sparkContext
  private val ops = new ConcurrentLinkedQueue[Op]()
  private val entryFacts = mutable.LinkedHashMap.empty[String, Map[String, Double]]
  private val checkDir = new File(out, "check")
  private lazy val server = GraftHttpServers.sharedServer(dir)
  private lazy val url = server.url

  // jobs a traced span launches become its children in the trace
  trace.onEnter = id =>
    sc.setLocalProperty(SparkStats.ParentKey, if (id == 0L) null else id.toString)

  private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def median(xs: Seq[Double]): Double = { val s = xs.sorted; s((s.size - 1) / 2) }

  /** Run one operation in its own job group, timed, traced when the
    * run is traced and `traced` is set. */
  private def op(qid: String, instance: String, kind: String,
                 traced: Boolean)(body: => Unit): Unit = {
    sc.setJobGroup(qid, instance, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val err = trace.withActive(traced) {
      trace.span("query", qid) {
        try { body; "" }
        catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500) }
      }
    }
    val t1 = System.nanoTime()
    sc.clearJobGroup()
    ops.add(Op(qid, instance, kind, t0, t1, err.isEmpty, err, trace.isActive && traced))
  }

  /** Self-test hook: change one value so the DuckDB check must fail. */
  private def corrupt(rows: Seq[Row]): Seq[Row] =
    if (rows.isEmpty) Seq(Row(1L))
    else rows.updated(0, Row.fromSeq(rows.head.toSeq.map {
      case l: Long => l + 1
      case i: Int => i + 1
      case d: Double => d + 1
      case s: String => s + "x"
      case v => v
    }))

  // ---------------------------------------------------------- setup
  /** The endpoint set-up a client pays, timed three times on fresh
    * servers (served_scan) or fresh sessions (pipeline_ops). */
  private def endpointSetupS(): Double = median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    if (workload == "pipeline_ops") {
      val s = spark.newSession()
      GraftFunctions.register(s)
      Tables.all.filter(t => new File(s"$dir/$t.parquet").exists())
        .foreach(t => Tables(s, dir, t).schema)
    } else {
      val srv = new GraftHttpServer(dir).start()
      try {
        val token = HttpEndpoint.login(srv.url, "admin", "admin")
        val ep = new HttpEndpoint(srv.url, Some(token))
        val schema = ep.schema("lineitem")
        ep.plan("lineitem", QuerySpec("lineitem", schema.fieldNames, Array.empty),
          128L * 1024 * 1024)
      } finally srv.stop()
    }
    elapsed(t0)
  })

  private lazy val maxOrderKey: Long =
    spark.read.parquet(s"$dir/orders.parquet").agg(max(col("o_orderkey"))).head().getLong(0) + 1

  private def scanDf(token: String): DataFrame =
    GraftArrow.readHttp(spark, url, "lineitem", Some(token))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // ------------------------------------------------------ workloads
  private def servedScan(deadline: Double, phase: String): Unit = {
    val token = HttpEndpoint.login(url, "admin", "admin")
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || elapsed(t0) < deadline) {
      val qid = s"$phase-scan-$i"
      op(qid, "scan", "scan", traced = i % 2 == 1) {
        val df = trace.span("plan", qid)(scanDf(token))
        trace.span("action", qid)(noop(df))
      }
      i += 1
    }
  }

  private def tmpEntries(): Set[String] = {
    val root = new File(System.getProperty("java.io.tmpdir"))
    def walk(f: File): Iterator[File] =
      Iterator.single(f) ++ Option(f.listFiles()).iterator.flatMap(_.iterator.flatMap(walk))
    walk(root).filterNot(_ == root).map(_.getPath)
      .filterNot(_.startsWith(SqlEndpoint.cacheRoot)).toSet
  }

  private def pipelineOps(deadline: Double): Unit = {
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || elapsed(t0) < deadline) {
      PipelineEntries.foreach { name =>
        val qid = s"$name-$pass"
        val before = sc.getPersistentRDDs.keySet
        val tmpBefore = tmpEntries()
        op(qid, name, "entry", traced = true) {
          val df = trace.span("plan", qid)(SparkEntry.queries(name)(spark, dir))
          // self-test: the first entry writes one row twice
          val written =
            if (wrong.contains("entry") && name == PipelineEntries.head) df.union(df.limit(1))
            else df
          trace.span("action", qid)(
            written.write.mode("overwrite").parquet(new File(checkDir, name).getPath))
        }
        // what the entry left behind, read before any clean-up
        val leaked = sc.getPersistentRDDs.filter { case (id, _) =>
          !before.contains(id) && !SharedFrames.contains(id) }
        val tmpLeft = (tmpEntries() -- tmpBefore).size
        if (pass == 0) entryFacts(name) = Map(
          "leaked_rdds" -> leaked.size.toDouble, "tmp_files_left" -> tmpLeft.toDouble)
        leaked.values.foreach(_.unpersist(blocking = true))
      }
      pass += 1
    }
  }

  // --------------------------------------------------------- checks
  private def typeName(t: DataType): String = t match {
    case LongType => "int64"
    case IntegerType => "int32"
    case ShortType => "int16"
    case DoubleType => "float64"
    case FloatType => "float32"
    case BooleanType => "bool"
    case StringType => "string"
    case other => other.simpleString
  }

  private def checks(): Seq[Map[String, Any]] = workload match {
    case "pipeline_ops" =>
      PipelineEntries.map(n => Map[String, Any]("id" -> n, "sql" -> SparkEntry.oracleSql(n),
        "parquet" -> new File(checkDir, n).getPath))
    case _ => try scanChecks() catch {
      case e: Exception => Seq(Map("id" -> "scan:checksum", "error" -> e.toString.take(500)))
    }
  }

  /** The scan is checked twice: a checksum of every column computed over
    * the served rows against DuckDB, and the row count every timed scan
    * delivered. COUNT(DISTINCT) cannot be pushed, and pushdown is all
    * or nothing, so the whole checksum is computed from the rows the
    * scan delivers rather than by the endpoint. */
  private def scanChecks(): Seq[Map[String, Any]] = {
    val token = HttpEndpoint.login(url, "admin", "admin")
    val df = scanDf(token).agg(
      count(lit(1)).as("n"), countDistinct(col("l_linenumber")).as("linenumbers"),
      sum(col("l_orderkey")).as("sum_orderkey"),
      sum(col("l_partkey")).as("sum_partkey"), sum(col("l_suppkey")).as("sum_suppkey"),
      sum(col("l_linenumber")).as("sum_linenumber"), sum(col("l_quantity")).as("sum_qty"),
      sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
      sum(col("l_discount").cast("decimal(18,2)")).cast("double").as("sum_disc"),
      sum(col("l_tax").cast("decimal(18,2)")).cast("double").as("sum_tax"),
      min(concat(col("l_returnflag"), col("l_linestatus"))).as("min_flags"),
      max(concat(col("l_returnflag"), col("l_linestatus"))).as("max_flags"),
      min(col("l_shipdate").cast("date").cast("string")).as("min_ship"),
      max(col("l_shipdate").cast("date").cast("string")).as("max_ship"))
    val pushed = Layers.aggPushed(df)
    val rows = df.collect().toSeq
    val expect = wrong.filter(_ == "scan").fold(rows)(_ => corrupt(rows))
    val rowCounts = ops.asScala.map(o => o.qid -> o.rows).toMap
    Seq(
      rowsCheck("scan:checksum",
        """SELECT count(*) AS n, count(DISTINCT l_linenumber) AS linenumbers,
          |  CAST(sum(l_orderkey) AS BIGINT) AS sum_orderkey,
          |  CAST(sum(l_partkey) AS BIGINT) AS sum_partkey,
          |  CAST(sum(l_suppkey) AS BIGINT) AS sum_suppkey,
          |  CAST(sum(l_linenumber) AS BIGINT) AS sum_linenumber,
          |  sum(l_quantity) AS sum_qty,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
          |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc,
          |  CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_tax,
          |  min(l_returnflag || l_linestatus) AS min_flags,
          |  max(l_returnflag || l_linestatus) AS max_flags,
          |  CAST(min(CAST(l_shipdate AS DATE)) AS VARCHAR) AS min_ship,
          |  CAST(max(CAST(l_shipdate AS DATE)) AS VARCHAR) AS max_ship
          |FROM lineitem""".stripMargin, df.schema, expect) +
        ("local_aggregate" -> !pushed),
      Map[String, Any]("id" -> "scan:rows", "sql" -> "SELECT count(*) AS n FROM lineitem",
        "row_counts" -> rowCounts))
  }

  private def rowsCheck(id: String, sql: String, schema: StructType,
                        rows: Seq[Row]): Map[String, Any] = Map(
    "id" -> id, "sql" -> sql,
    "columns" -> schema.fields.map(f => Seq(f.name, typeName(f.dataType))).toSeq,
    "rows" -> rows.map(_.toSeq))

  // ------------------------------------------------------------ run
  def execute(sessionReadyS: Double): Map[String, Any] = {
    val setup0 = System.nanoTime()
    val endpointS = endpointSetupS()
    // warm-up: served_scan runs its own load so the window does not open
    // while the JIT is still compiling the decode paths; pipeline_ops
    // runs one small SQL query so its first entry does not absorb the
    // session's first job. Set-up counts only the time to the first
    // answer, which a user of a fresh session waits for; the rest of
    // the warm-up is discarded.
    val warm0 = System.nanoTime()
    workload match {
      case "served_scan" => servedScan(WarmupSeconds, "warm")
      case _ => op("warm-q1", "q1", "warm", traced = false)(
        noop(SparkEntry.queries("q1_pricing_summary")(spark, dir)))
    }
    val warmS = elapsed(warm0)
    val firstAnswerS =
      if (ops.isEmpty) 0.0 else ops.asScala.map(_.endNs - warm0).min / 1e9
    val warmFailures = ops.asScala.count(!_.ok)
    ops.clear()
    val setupInJvmS = elapsed(setup0)

    val gc0 = gcMs()
    stats.drain()
    trace.spans.clear()
    val before = stats.snapshot()
    val w0 = System.nanoTime()
    workload match {
      case "served_scan" => servedScan(seconds, "run")
      case "pipeline_ops" => pipelineOps(seconds)
    }
    val windowS = elapsed(w0)
    stats.drain()
    val window = stats.snapshot().minus(before)
    val gcWindow = gcMs() - gc0
    val opsSeq = ops.asScala.toSeq.sortBy(_.startNs)
    opsSeq.foreach(o => o.rows = stats.group(o.qid).recordsRead)
    val peakRssMb = rssMb("VmHWM")
    val mem = ManagementFactory.getMemoryMXBean
    val memory = Map[String, Any](
      "rss" -> rssMb("VmRSS"),
      "heap_used" -> mem.getHeapMemoryUsage.getUsed / 1048576.0,
      "heap_committed" -> mem.getHeapMemoryUsage.getCommitted / 1048576.0,
      "non_heap_committed" -> mem.getNonHeapMemoryUsage.getCommitted / 1048576.0,
      "direct" -> ManagementFactory.getPlatformMXBeans(
        classOf[java.lang.management.BufferPoolMXBean]).asScala
        .map(_.getMemoryUsed).sum / 1048576.0)

    val env = Map[String, Any](
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "master" -> sc.master, "default_parallelism" -> sc.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "clients" -> 1)

    val checkList = checks()
    val passInputRows =
      if (workload == "pipeline_ops")
        PipelineEntries.flatMap(EntryTables)
          .map(t => spark.read.parquet(s"$dir/$t.parquet").count()).sum
      else 0L
    val opsJson = opsSeq.map(o => Map[String, Any](
      "qid" -> o.qid, "instance" -> o.instance, "kind" -> o.kind,
      "start_ms" -> (o.startNs - w0) / 1e6, "latency_ms" -> (o.endNs - o.startNs) / 1e6,
      "ok" -> o.ok, "error" -> o.error, "traced" -> o.traced, "rows" -> o.rows))

    val layerMetrics = if (trace.enabled) layerReplay(opsSeq, window, windowS, gcWindow) else Nil
    // the server counts scans a client abandoned and cancels it was sent;
    // every stream here is drained, so they are error signals for the
    // report, not metrics
    val serverErrors =
      if (workload == "served_scan" || trace.enabled)
        Map("aborted_scans" -> server.abortedScans, "cancels_received" -> server.cancelsReceived)
      else Map.empty
    Map(
      "workload" -> workload, "seed" -> seed, "env" -> env,
      "setup" -> Map("session_ready_s" -> sessionReadyS, "endpoint_setup_s" -> endpointS,
        "first_answer_s" -> firstAnswerS, "warmup_s" -> warmS,
        "warmup_failures" -> warmFailures, "in_jvm_s" -> setupInJvmS),
      "window_s" -> windowS, "peak_rss_mb" -> peakRssMb, "memory_mb" -> memory,
      "records_read" -> window.recordsRead, "pass_input_rows" -> passInputRows,
      "server_errors" -> serverErrors,
      "ops" -> opsJson, "checks" -> checkList,
      "layers" -> layerMetrics.toMap)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def rssMb(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  // ---------------------------------------------------------- trace
  private def layerReplay(opsSeq: Seq[Op], window: SparkStats.Totals, windowS: Double,
                          gcWindow: Long): Seq[(String, Any)] = {
    val layers = new Layers(spark, dir, url, trace)
    val probe = new Probes(seed, maxOrderKey)
    val scan = Probe(filtered = false, aggregated = false,
      (s, u, t) => GraftArrow.readHttp(s, u, "lineitem", Some(t)))
    // fixed probes so every layer is measured on every workload
    val probes = Seq(probe.agg(), probe.aggAll(), probe.lookup(), probe.sqlJoin(), probe.bloom())
    (scan +: probes).zipWithIndex.foreach { case (inst, i) =>
      layers.replay(inst, s"replay-$i")
    }
    layers.materialize("replay-materialize", seed)
    layers.functions("replay-functions")

    val nOps = math.max(1, opsSeq.size).toDouble
    val windowMs = windowS * 1e3
    val spark_ = Seq(
      "spark.jobs_per_query" -> window.jobs / nOps,
      "spark.tasks_per_query" -> window.tasks / nOps,
      "spark.executor_run_ms" -> window.runMs.toDouble,
      "spark.executor_cpu_ms" -> window.cpuNs / 1e6,
      "spark.core_utilization" -> window.runMs / (windowMs * Cores),
      "spark.shuffle_write_bytes" -> window.shuffleWrite.toDouble,
      "spark.spill_bytes" -> window.spill.toDouble,
      "spark.driver_idle_ms" -> math.max(0.0, windowMs - window.busyNs / 1e6),
      "spark.gc_ms" -> gcWindow.toDouble)
    val ops_ = PipelineEntries.flatMap { name =>
      val mine = opsSeq.filter(_.instance == name)
      val facts = entryFacts.getOrElse(name, Map.empty)
      Seq(
        s"operators.$name.wall_s" ->
          (if (mine.isEmpty) 0.0 else median(mine.map(o => (o.endNs - o.startNs) / 1e9))),
        s"operators.$name.jobs" ->
          (if (mine.isEmpty) 0.0 else stats.group(mine.head.qid).jobs.toDouble),
        s"operators.$name.leaked_rdds" -> facts.getOrElse("leaked_rdds", 0.0),
        s"operators.$name.tmp_files_left" -> facts.getOrElse("tmp_files_left", 0.0))
    }
    val self = trace.selfTimesMs
    val selfM = Trace.SelfNames.map(n => s"trace.self_${n}_ms" -> self.getOrElse(n, 0.0))
    val tracedLat = opsSeq.filter(_.traced).map(o => (o.endNs - o.startNs) / 1e6)
    val plainLat = opsSeq.filterNot(_.traced).map(o => (o.endNs - o.startNs) / 1e6)
    // A/B within the run where operations alternate; otherwise the
    // recording cost of the spans this run wrote
    val overhead =
      if (tracedLat.nonEmpty && plainLat.nonEmpty) median(tracedLat) - median(plainLat)
      else trace.spans.size * Trace.recordCostMs()
    layers.metrics ++ spark_ ++
      ops_ ++ selfM ++ Seq("trace.overhead_ms" -> overhead,
        "trace.spans" -> trace.spans.size.toDouble)
  }
}
