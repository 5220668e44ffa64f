package graftbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.channels.Channels

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ArrowBridge
import org.apache.spark.sql.types.StructType

import graft.functions.{GraftAuth, GraftFunctions, Jwt}
import graft.sources._

/** The traced run's layer replay: for each query it takes the scan the
  * planner built (projection, pushed filters and aggregate, split
  * size) and issues the same calls layer by layer, timing each one
  * from outside the program:
  * login → schema → plan → per split HttpEndpoint.scan (time to first
  * batch, then drain) against LocalParquetEndpoint.scan/scanAgg on
  * the same files → ArrowBridge decode, re-encode and stream framing.
  * The difference between the HTTP drain and the local scan is the
  * socket and server cost; decode is the client's share. */
final class Layers(spark: SparkSession, dir: String, url: String, trace: Trace) {
  private val m = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private def add(k: String, v: Double): Unit = m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  private def all(k: String): Seq[Double] = m.getOrElse(k, mutable.ArrayBuffer.empty[Double]).toSeq
  private def sum(k: String): Double = all(k).sum

  private def timed[T](name: String, qid: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = trace.span(name, qid)(body)
    (r, (System.nanoTime() - t0) / 1e6)
  }

  import Layers.{field, scans}

  def replay(inst: Probe, qid: String): Unit = trace.span("replay", qid) {
    val token = HttpEndpoint.login(url, "admin", "admin")
    val df = inst.build(spark, url, token)
    val (_, planMs) = timed("plan", qid)(df.queryExecution.executedPlan)
    add("source.plan_ms", planMs)
    scans(df).foreach { b =>
      val scan = b.scan
      val query = field[QuerySpec](scan, "query")
      val agg = field[Option[AggSpec]](scan, "aggSpec")
      val splitSize = field[Long](scan, "splitSize")
      val sql = field[Endpoint](scan, "endpoint") match {
        case h: HttpEndpoint => field[Option[String]](h, "sql")
        case _ => None
      }
      if (inst.aggregated) add("source.agg_pushed", if (agg.isDefined) 1 else 0)
      if (inst.filtered) add("source.filters_pushed", if (query.filters.nonEmpty) 1 else 0)
      replayScan(qid, query, agg, splitSize, sql)
    }
  }

  private def replayScan(qid: String, query: QuerySpec, agg: Option[AggSpec],
                         splitSize: Long, sql: Option[String]): Unit = {
    val (token, loginMs) = timed("login", qid)(HttpEndpoint.login(url, "admin", "admin"))
    add("http.login_ms", loginMs)
    val http = new HttpEndpoint(url, Some(token), sql)
    val (full, schemaMs) = timed("schema", qid)(http.schema(query.table))
    add("http.schema_ms", schemaMs)
    val (splits, planMs) = timed("http_plan", qid)(http.plan(query.table, query, splitSize))
    add("http.plan_ms", planMs)
    add("source.input_partitions", splits.size)
    add("local.splits", splits.size)
    val local: Endpoint = sql.map(new SqlEndpoint(dir, _)).getOrElse(new LocalParquetEndpoint(dir))
    val localSplits = local.plan(query.table, query, splitSize)
    val outSchema: StructType = agg.map(_.outputSchema(full))
      .getOrElse(StructType(query.requiredColumns.map(c => full(c))))
    var rowsOut = 0L
    var examined = 0L
    splits.zip(localSplits).foreach { case (split, lsplit) =>
      examined += lsplit.rowCount
      val stream = agg.fold(http.scan(split, query))(a => http.scanAgg(split, query, a))
      val batches = mutable.ArrayBuffer.empty[Array[Byte]]
      try {
        val (_, ttfb) = timed("ttfb", qid)(if (stream.hasNext) batches += stream.next())
        add("http.ttfb_ms", ttfb)
        val (_, drain) = timed("drain", qid)(stream.foreach(batches += _))
        val bytes = batches.map(_.length.toLong).sum
        add("http.bytes", bytes)
        add("http.batches", batches.size)
        add("http.transfer_ms", ttfb + drain)
      } finally stream.close()
      val (_, localMs) = timed("local_scan", qid) {
        val s = agg.fold(local.scan(lsplit, query))(a => local.scanAgg(lsplit, query, a))
        try s.foreach(_ => ()) finally s.close()
      }
      add(if (agg.isDefined) "local.scan_agg_ms" else "local.scan_ms", localMs)
      val (rows, decodeMs) = timed("decode", qid)(
        ArrowBridge.fromIpc(batches.iterator, outSchema).map(_.copy()).toVector)
      add("arrow.decode_ms", decodeMs)
      rowsOut += rows.size
      val (_, encodeMs) = timed("encode", qid)(
        ArrowBridge.toIpc(rows.iterator: Iterator[InternalRow], outSchema).foreach(_ => ()))
      add("arrow.encode_ms", encodeMs)
      val wire = new ByteArrayOutputStream()
      ArrowBridge.writeIpcStream(outSchema, batches.iterator, wire)
      val (_, frameMs) = timed("frame", qid)(
        ArrowBridge.strictBatchesFromStream(
          Channels.newChannel(new ByteArrayInputStream(wire.toByteArray))).foreach(_ => ()))
      add("arrow.frame_ms", frameMs)
    }
    add("http.rows", rowsOut)
    add("local.rows_examined", examined)
    add("local.rows_returned", rowsOut)
    if (agg.isDefined) {
      add("local.partial_rows", rowsOut)
      add("local.agg_rows_examined", examined)
    }
  }

  /** Cost of one `sql :=` result materialization on a cache miss (the
    * statement text is unique, so it is never cached). */
  def materialize(qid: String, seed: Long): Unit = {
    val sql = Probes.SqlTemplates(1)(seed % 1000) + s" -- replay $qid ${System.nanoTime()}"
    val (_, ms) = timed("materialize", qid)(SqlEndpoint.materialize(dir, sql))
    add("sql.materialize_ms", ms)
  }

  /** Per-row cost of the dd_* functions over the documents tokens, held
    * in memory so the timing is the function's, and of one JWT check. */
  def functions(qid: String): Unit = trace.span("functions", qid) {
    def median3(f: => Unit): Double = {
      val ts = (1 to 3).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e3 }
      ts.sorted.apply(1)
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(split(col("text"), " ").as("toks")).cache()
    val n = math.max(1L, toks.count()).toDouble
    val blooms = toks.select(col("toks"),
      GraftFunctions.dd_bloom_filter_create(col("toks")).as("bloom")).cache()
    blooms.count()
    add("fn.bloom_us_per_row",
      median3(noop(toks.select(GraftFunctions.dd_bloom_filter_create(col("toks"))))) / n)
    add("fn.contains_us_per_row", median3(noop(blooms.select(
      GraftFunctions.dd_array_contains_all(col("toks"), array(lit("data"), lit("the")),
        col("bloom"))))) / n)
    val token = HttpEndpoint.login(url, "admin", "admin")
    val calls = 2000
    add("fn.jwt_us", median3 {
      var i = 0
      while (i < calls) { Jwt.verify(token, GraftAuth.DefaultSecret, GraftAuth.nowSec()); i += 1 }
    } / calls)
    blooms.unpersist(blocking = true)
    toks.unpersist(blocking = true)
  }

  private def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s((s.size - 1) / 2) }
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def metrics: Seq[(String, Double)] = Seq(
    "GraftHttp.login_ms" -> med(all("http.login_ms")),
    "GraftHttp.schema_ms" -> med(all("http.schema_ms")),
    "GraftHttp.plan_ms" -> med(all("http.plan_ms")),
    "GraftHttp.ttfb_ms" -> med(all("http.ttfb_ms")),
    "GraftHttp.stream_mb_per_s" -> ratio(sum("http.bytes") / 1e6, sum("http.transfer_ms") / 1e3),
    "GraftHttp.wire_bytes_per_row" -> ratio(sum("http.bytes"), sum("http.rows")),
    "GraftHttp.batches" -> sum("http.batches"),
    "LocalParquetEndpoint.scan_ms" -> sum("local.scan_ms"),
    "LocalParquetEndpoint.splits" -> mean(all("local.splits")),
    "LocalParquetEndpoint.scan_agg_ms" -> sum("local.scan_agg_ms"),
    "LocalParquetEndpoint.rows_examined_per_returned" ->
      ratio(sum("local.rows_examined"), sum("local.rows_returned")),
    "LocalParquetEndpoint.partial_rows_per_input_row" ->
      ratio(sum("local.partial_rows"), sum("local.agg_rows_examined")),
    "ArrowBridge.encode_ms" -> sum("arrow.encode_ms"),
    "ArrowBridge.decode_ms" -> sum("arrow.decode_ms"),
    "ArrowBridge.frame_ms" -> sum("arrow.frame_ms"),
    "GraftArrowSource.plan_ms" -> med(all("source.plan_ms")),
    "GraftArrowSource.agg_pushed_ratio" -> mean(all("source.agg_pushed")),
    "GraftArrowSource.filters_pushed_ratio" -> mean(all("source.filters_pushed")),
    "GraftArrowSource.input_partitions" -> mean(all("source.input_partitions")),
    "SqlEndpoint.materialize_ms" -> med(all("sql.materialize_ms")),
    "functions.bloom_create_us_per_row" -> med(all("fn.bloom_us_per_row")),
    "functions.contains_all_us_per_row" -> med(all("fn.contains_us_per_row")),
    "functions.jwt_verify_us" -> med(all("fn.jwt_us")))
}

object Layers {
  /** The graft-arrow scans of a DataFrame's physical plan. */
  def scans(df: DataFrame): Seq[BatchScanExec] =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }

  /** Read a private constructor field of a program class by name. */
  def field[T](o: AnyRef, name: String): T = {
    val f = Iterator.iterate[Class[_]](o.getClass)(_.getSuperclass)
      .takeWhile(_ != null).flatMap(_.getDeclaredFields)
      .find(f => f.getName == name || f.getName.endsWith("$$" + name))
      .getOrElse(throw new NoSuchFieldException(s"${o.getClass.getName}.$name"))
    f.setAccessible(true)
    f.get(o).asInstanceOf[T]
  }

  def aggPushed(df: DataFrame): Boolean =
    scans(df).exists(b => field[Option[AggSpec]](b.scan, "aggSpec").isDefined)
}
