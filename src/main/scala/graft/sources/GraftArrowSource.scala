package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.graft.ArrowBridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** DataSource V2 "graft-arrow" (SURVEY.md §2 A1–A5): the Spark-native
  * re-expression of `dd_read_arrow` (reference
  * /root/reference/src/scanner/read_arrow_dd.cpp — bind/named-params at
  * :29-49, parallel split scan; optimizer extension
  * aggregation_pushdown.cpp).
  *
  * Options: `dir` (endpoint root), exactly one of `table` or `sql`
  * (free-form server-executed query — reference `sql :=` named
  * parameter, read_arrow_dd.cpp:313-345), `split_size` (bytes, default
  * 128 MiB — reference's split_size named parameter), and `split`
  * (boolean, default false like the reference's `split` named
  * parameter, read_arrow_dd.cpp:318: false = one split covering all
  * row groups per file — the reference's single-stream scan; true =
  * row-group-aligned `split_size`-byte splits). The raw option default
  * mirrors the reference; the [[graft.sources.GraftArrow]] helpers
  * default to `split=true` because partitioned scans are the right
  * Spark contract — a 1000-executor cluster wants N splits, not 1.
  *
  * Scale design: `planInputPartitions` emits one partition per endpoint
  * split (row-group aligned byte ranges), so a 1000-executor cluster
  * scans 1000 splits concurrently and each split decodes only the
  * projected columns of its own byte range. Projection and filters are
  * pushed through the endpoint to the parquet layer; aggregation
  * pushdown ships one partial row per split — or per (split, group)
  * for plain-column GROUP BY (r8, exceeding the reference's
  * local-fallback contract; SURVEY §2/A4) — instead of the data
  * (COUNT-DISTINCT and expression group keys are NOT pushed — the
  * same all-or-nothing fallback as the reference optimizer).
  */
class GraftArrowTableProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-arrow"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (endpoint, table) = GraftArrowTableProvider.endpoint(options)
    endpoint.schema(table)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val (endpoint, table) = GraftArrowTableProvider.endpoint(options)
    new GraftArrowTable(
      endpoint,
      table,
      schema,
      options.getLong("split_size", 128L * 1024 * 1024),
      options.getBoolean("split", false),
      splitDefaulted = !options.containsKey("split"))
  }

  override def supportsExternalMetadata(): Boolean = true
}

object GraftArrowTableProvider {
  /** `auth=required` models the remote server's policy locally; `token`
    * is the reference's `auth_token` named parameter (a dd_login JWT),
    * verified by the endpoint on every request.
    *
    * The verification secret comes from the `secret` option or the
    * `spark.graft.auth.secret` Spark conf; the compiled-in
    * [[graft.functions.GraftAuth.DefaultSecret]] is ONLY the documented
    * local-demo default (this in-process endpoint models the remote
    * server's contract — anyone holding the jar can read the constant,
    * so the default provides demo semantics, not protection).
    *
    * Resolve options to (endpoint, scanned-relation name). Exactly one
    * of `table` / `sql` must be given — same both/neither validation as
    * the reference (read_arrow_dd.cpp:327-335, error texts asserted by
    * test/sql/dd_read_arrow.test:12-24). In sql mode the scanned
    * relation is the server-executed query's result set and the wire
    * query names it as a derived table. */
  private def endpoint(options: CaseInsensitiveStringMap): (Endpoint, String) = {
    val dir = options.get("dir")
    val url = options.get("url")
    require(dir != null || url != null,
      "graft-arrow requires a 'dir' (in-process) or 'url' (HTTP) option")
    val table = options.get("table")
    val sql = options.get("sql")
    if (table == null && sql == null) throw new IllegalArgumentException(
      "graft-arrow requires either 'table' or 'sql' option")
    if (table != null && sql != null) throw new IllegalArgumentException(
      "graft-arrow accepts either 'table' or 'sql' option, not both")
    val name = if (sql != null) s"($sql)" else table
    // HTTP mode (r13): the reference's native deployment —
    // dd_read_arrow(url, …) with the auth token attached to every
    // request. The server enforces auth; the client just carries the
    // Bearer token, so no AuthEndpoint wrapper here.
    if (url != null)
      return (new HttpEndpoint(url, Option(options.get("token")),
        Option(sql)), name)
    val base = if (sql != null) new SqlEndpoint(dir, sql)
      else new LocalParquetEndpoint(dir)
    val wrapped = if (options.getBoolean("auth", false)) {
      val secret = Option(options.get("secret"))
        .orElse(org.apache.spark.sql.SparkSession.active.conf
          .getOption("spark.graft.auth.secret"))
        .getOrElse(graft.functions.GraftAuth.DefaultSecret)
      new AuthEndpoint(base, secret, Option(options.get("token")))
    } else base
    (wrapped, name)
  }
}

class GraftArrowTable(endpoint: Endpoint, table: String, tschema: StructType,
                      splitSize: Long, split: Boolean,
                      splitDefaulted: Boolean = false)
    extends Table with SupportsRead {
  override def name(): String = s"graft-arrow:$table"
  override def schema(): StructType = tschema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  // split=false ⇒ an unbounded per-file byte budget: the endpoint packs
  // every row group of a file into one split (splits never span files),
  // which is exactly the reference's non-split single-stream contract
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftArrowScanBuilder(endpoint, table, tschema,
      if (split) splitSize else Long.MaxValue, splitDefaulted && !split)
}

class GraftArrowScanBuilder(endpoint: Endpoint, table: String,
                            fullSchema: StructType, splitSize: Long,
                            splitDefaulted: Boolean = false)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownAggregates
    with org.apache.spark.internal.Logging {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggSpec: Option[AggSpec] = None
  private var aggSchema: Option[StructType] = None

  // A2: projection pushdown → endpoint SELECT list
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // A3: filter pushdown. We accept every filter the SQL serializer can
  // express (that's what goes over the wire / prunes row groups) but
  // return them all for Spark re-evaluation — the endpoint's record
  // filter covers the translated subset only, so correctness never
  // depends on pushdown (same safety net as Spark's parquet source).
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => FilterSql.toSql(f).isDefined)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  // A4: aggregation pushdown — COUNT(*)/COUNT/SUM/MIN/MAX, partial per
  // split with Spark merging (the reference's split-safe contract),
  // all-or-nothing (one unsupported aggregate ⇒ nothing pushed).
  // r8: GROUP BY on plain columns is pushed too — one partial row per
  // group per split instead of the raw data. This EXCEEDS the
  // reference optimizer (local fallback on any grouped agg); the
  // divergence is recorded in SURVEY §2/A4.
  override def supportCompletePushDown(aggregation: Aggregation): Boolean = false
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // an aggregate pushes only over a plain single-name column: its
    // argument must BE the reference, not merely contain one —
    // sum(l_quantity * 2) is not sum(l_quantity)
    def colName(arg: Expression): Option[String] = arg match {
      case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames()(0))
      case _ => None
    }
    // group-by columns: plain single-name references over groupable
    // types only; anything fancier (expressions, nested fields)
    // declines the whole pushdown
    val groupCols = aggregation.groupByExpressions().toSeq.map {
      case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames()(0))
      case _ => None
    }
    if (groupCols.exists(_.isEmpty)) return false
    val calls = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(AggCall("count_star", ""))
      case c: Count if !c.isDistinct =>
        colName(c.column).map(AggCall("count", _))
      case s: Sum if !s.isDistinct =>
        colName(s.column).map(AggCall("sum", _))
      case m: Min => colName(m.column).map(AggCall("min", _))
      case m: Max => colName(m.column).map(AggCall("max", _))
      case _ => None // AVG, COUNT(DISTINCT), UDAFs… ⇒ whole query local
    }
    if (calls.exists(_.isEmpty)) return false
    // endpoint-side group cap (r9): resolved from the session conf at
    // plan time (driver-side) and shipped with the spec, so executors
    // never read a conf. Validated HERE, not on executors: a malformed
    // value warns and falls back; a parseable value < 1 would otherwise
    // pass plan time and abort mid-query in computeGrouped's require —
    // clamp it to 1 with a warning instead (r10, per ADVICE)
    val maxGroups = org.apache.spark.sql.SparkSession.active.conf
      .getOption(AggSpec.MaxGroupsConfKey) match {
      case None => AggSpec.DefaultMaxGroupsPerSplit
      case Some(raw) => raw.toIntOption match {
        case None =>
          logWarning(s"${AggSpec.MaxGroupsConfKey}='$raw' is not an int; " +
            s"using default ${AggSpec.DefaultMaxGroupsPerSplit}")
          AggSpec.DefaultMaxGroupsPerSplit
        case Some(n) if n < 1 =>
          logWarning(s"${AggSpec.MaxGroupsConfKey}=$n is < 1; clamping to 1")
          1
        case Some(n) => n
      }
    }
    val spec = AggSpec(calls.flatten, groupCols.flatten, maxGroups)
    val fieldsByName = fullSchema.fields.map(f => f.name -> f).toMap
    // decline the WHOLE pushdown if any aggregate folds a type the
    // partial-aggregator can't handle, or any group key isn't
    // hash-groupable (all-or-nothing, like the reference optimizer) —
    // never silently compute a wrong partial
    if (!spec.calls.forall(c => c.op == "count_star" ||
        (fieldsByName.contains(c.column) &&
          PartialAgg.supports(c.op, fieldsByName(c.column).dataType)))) return false
    if (!spec.groupBy.forall(g => fieldsByName.contains(g) &&
        PartialAgg.groupable(fieldsByName(g).dataType))) return false
    aggSpec = Some(spec)
    aggSchema = Some(spec.outputSchema(fullSchema))
    true
  }

  override def build(): Scan =
    new GraftArrowScan(endpoint, table, required, pushed, aggSpec, aggSchema,
      splitSize, splitDefaulted)
}

object GraftArrowScan {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftArrowScan])

  /** The notice text for a raw `format("graft-arrow")` read that fell
    * back to the reference-parity default (`split` absent ⇒ one
    * partition per file) on a file that HAS more parallelism to give.
    * Pure function of the planned splits so the spec can pin it; the
    * scan logs it once per plan. */
  private[sources] def singleSplitNotice(table: String,
                                         splits: Seq[SplitInfo]): Option[String] =
    if (splits.exists(_.rowGroups.length > 1))
      Some(s"graft-arrow: scan of '$table' uses the reference-parity " +
        s"default split=false (option absent) — ${splits.length} partition(s) " +
        "covering multi-row-group files scan single-stream. Set " +
        "split=true (as the GraftArrow helpers do) for row-group-aligned " +
        "parallel splits.")
    else None
}

class GraftArrowScan(endpoint: Endpoint, table: String, required: StructType,
                     filters: Array[Filter], aggSpec: Option[AggSpec],
                     aggSchema: Option[StructType], splitSize: Long,
                     splitDefaulted: Boolean = false)
    extends Scan with Batch {

  private val query = QuerySpec(table, required.fieldNames, filters)

  override def readSchema(): StructType = aggSchema.getOrElse(required)
  override def toBatch: Batch = this
  override def description(): String = {
    val aggDesc = aggSpec.map(a => s", PushedAggregates: ${a.toSql(table, filters)}").getOrElse("")
    s"graft-arrow ${query.toSql}$aggDesc"
  }

  // A5: one InputPartition per endpoint split
  override def planInputPartitions(): Array[InputPartition] = {
    val splits = endpoint.plan(table, query, splitSize)
    if (splitDefaulted)
      GraftArrowScan.singleSplitNotice(table, splits)
        .foreach(GraftArrowScan.log.warn)
    splits.map(s => GraftArrowPartition(s): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftArrowReaderFactory(endpoint, query, aggSpec, readSchema())

  /** Micro-batch read over the endpoint snapshot: the offset space is
    * the split ordinal, so each split is delivered exactly once and the
    * stream idles at the end — the streaming-file-source contract over
    * an arrow endpoint. */
  override def toMicroBatchStream(checkpointLocation: String): streaming.MicroBatchStream =
    new GraftArrowMicroBatchStream(endpoint, table, query, required, splitSize)
}

case class GraftArrowOffset(split: Int) extends streaming.Offset {
  override def json(): String = split.toString
}

class GraftArrowMicroBatchStream(endpoint: Endpoint, table: String,
                                 query: QuerySpec, required: StructType,
                                 splitSize: Long)
    extends streaming.MicroBatchStream {
  private lazy val splits = endpoint.plan(table, query, splitSize)

  override def initialOffset(): streaming.Offset = GraftArrowOffset(0)
  override def latestOffset(): streaming.Offset = GraftArrowOffset(splits.length)
  override def deserializeOffset(json: String): streaming.Offset =
    GraftArrowOffset(json.trim.toInt)
  override def commit(end: streaming.Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: streaming.Offset,
                                   end: streaming.Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftArrowOffset].split
    val e = end.asInstanceOf[GraftArrowOffset].split
    splits.slice(s, e).map(x => GraftArrowPartition(x): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftArrowReaderFactory(endpoint, query, None, required)
}

case class GraftArrowPartition(split: SplitInfo) extends InputPartition

class GraftArrowReaderFactory(endpoint: Endpoint, query: QuerySpec,
                              aggSpec: Option[AggSpec], schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val split = partition.asInstanceOf[GraftArrowPartition].split
    // the wire: endpoint streams Arrow IPC record batches; the reader
    // decodes them through the A14 bridge
    val ipc = aggSpec match {
      case Some(a) => endpoint.scanAgg(split, query, a)
      case None => endpoint.scan(split, query)
    }
    val rows = ArrowBridge.fromIpc(ipc, schema)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      private var exhausted = false
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true }
        else { exhausted = true; false }
      override def get(): InternalRow = current
      // Spark calls close() on task completion whether or not the scan
      // was exhausted — this is what releases the endpoint's parquet
      // reader on limit/take/cancelled tasks. An EARLY close over the
      // HTTP transport additionally fires the reference's best-effort
      // server-side cancel (cancel_monitor.cpp): the disconnect alone
      // stops the stream at the server's next write, but an explicit
      // /v1/cancel releases it at the next FRAME even if the socket
      // buffers would have absorbed more (r14, verdict slate #2b).
      override def close(): Unit = {
        ipc.close()
        if (!exhausted) endpoint match {
          case h: HttpEndpoint =>
            h.cancelQuery(split.queryId, split.nonce)
          case _ =>
        }
      }
    }
  }
}
