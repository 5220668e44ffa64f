package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.sources.GraftArrow

/** One query the layer replay issues: how the client builds it over the
  * served path (session, url, token). `filtered` marks a pushable filter
  * and `aggregated` a pushable aggregate, the denominators of the
  * pushed-ratio layer metrics. */
final case class Probe(filtered: Boolean, aggregated: Boolean,
                       build: (SparkSession, String, String) => DataFrame)

/** The traced run's probe queries: one of each interactive shape over
  * the served path, so every layer is measured on every workload. The
  * parameters come from the seeded generator. */
final class Probes(seed: Long, maxOrderKey: Long) {
  private val rng = new java.util.Random(seed * 1000003L - 2)

  private def lineitem(s: SparkSession, url: String, token: String) =
    GraftArrow.readHttp(s, url, "lineitem", Some(token))

  private def keyFilter(lo: Long, hi: Long) =
    col("l_orderkey") >= lo && col("l_orderkey") < hi

  /** Grouped COUNT/SUM/MIN/MAX over 15% of the `l_orderkey` range. */
  def agg(): Probe = {
    val width = math.max(1L, (maxOrderKey * 0.15).toLong)
    val lo = (rng.nextDouble() * math.max(1L, maxOrderKey - width)).toLong
    Probe(filtered = true, aggregated = true,
      (s, u, t) => lineitem(s, u, t).filter(keyFilter(lo, lo + width))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_discount")).as("max_disc")))
  }

  /** Grouped COUNT/SUM/MIN/MAX over the whole table: the one aggregate
    * shape with no residual filter, so the endpoint computes partials. */
  def aggAll(): Probe =
    Probe(filtered = false, aggregated = true,
      (s, u, t) => lineitem(s, u, t).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
          min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok")))

  /** A range of 25 `l_orderkey` values, rows collected to the driver. */
  def lookup(): Probe = {
    val lo = (rng.nextDouble() * maxOrderKey).toLong
    Probe(filtered = true, aggregated = false,
      (s, u, t) => lineitem(s, u, t).filter(keyFilter(lo, lo + 25))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"), col("l_extendedprice")))
  }

  /** A `sql :=` join-aggregate on a fresh parameter: a result-cache
    * miss, which the endpoint materializes. */
  def sqlJoin(): Probe = {
    val text = Probes.SqlTemplates(0)((rng.nextDouble() * maxOrderKey).toLong)
    Probe(filtered = false, aggregated = false,
      (s, u, t) => GraftArrow.readHttpSql(s, u, text, Some(t)))
  }

  /** `dd_bloom_filter_create` + `dd_array_contains_all` over documents. */
  def bloom(): Probe = {
    val a = Probes.Needles(rng.nextInt(Probes.Needles.length))
    val b = Probes.Needles(rng.nextInt(Probes.Needles.length))
    Probe(filtered = false, aggregated = false,
      (s, u, t) => {
        val toks = GraftArrow.readHttp(s, u, "documents", Some(t))
          .select(col("lang"), split(col("text"), " ").as("toks"))
          .withColumn("bloom", GraftFunctions.dd_bloom_filter_create(col("toks")))
        toks.filter(GraftFunctions.dd_array_contains_all(
            col("toks"), array(lit(a), lit(b)), col("bloom")))
          .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      })
  }
}

object Probes {
  val Needles: Seq[String] = Seq("data", "the", "spark", "join", "query", "scan", "zzz")

  val SqlTemplates: Seq[Long => String] = Seq(
    p => s"""SELECT n.n_name AS nation, count(*) AS n_orders,
            |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            |JOIN nation n ON c.c_nationkey = n.n_nationkey
            |WHERE o.o_orderkey < $p GROUP BY n.n_name""".stripMargin,
    p => s"""SELECT p.p_type AS p_type, count(*) AS n_lines, sum(l.l_quantity) AS qty
            |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            |WHERE l.l_orderkey >= $p AND l.l_orderkey < ${p + 2000}
            |GROUP BY p.p_type""".stripMargin)
}
