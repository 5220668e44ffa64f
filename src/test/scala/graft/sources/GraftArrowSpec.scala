package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end spec for the graft-arrow DSv2 source: scan parity with
  * spark.read.parquet, projection/filter pushdown visible in the plan
  * and effective at the endpoint, split planning, and aggregation
  * pushdown partial-merge parity. Mirrors the reference's
  * test/sql/dd_read_arrow*.test coverage. */
class GraftArrowSpec extends SparkSpec {
  private val dir = sf("sf0.001")

  private def arrow(table: String) = GraftArrow.read(spark, dir, table)
  private def plain(table: String) = spark.read.parquet(s"$dir/$table.parquet")

  // repo-owned TIMESTAMP(NANOS) table (driver testdata is micros since
  // r10 — see NanosFixture scaladoc); one write shared across tests
  private lazy val nanosDir = NanosFixture.write()

  test("full scan parity with the native parquet reader (all tables)") {
    Seq("region", "nation", "customer", "orders", "documents", "embeddings")
      .foreach { t =>
        val a = arrow(t)
        val p = plain(t)
        assert(a.schema === p.schema, s"$t schema")
        assert(a.count() === p.count(), s"$t count")
        assert(a.exceptAll(p).count() === 0, s"$t rows differ")
        assert(p.exceptAll(a).count() === 0, s"$t rows differ (reverse)")
      }
  }

  test("reads TIMESTAMP(NANOS) parquet that Spark's native reader rejects") {
    // the reference engine reads nanos timestamps; Spark's parquet
    // reader throws PARQUET_TYPE_ILLEGAL — graft-arrow handles them
    intercept[Exception] {
      spark.read.parquet(s"$nanosDir/events_ns.parquet").collect()
    }
    val ev = GraftArrow.read(spark, nanosDir, "events_ns")
    import org.apache.spark.sql.types.TimestampNTZType
    assert(ev.schema("ts").dataType === TimestampNTZType)
    assert(ev.count() === NanosFixture.Rows)
    val mx = ev.agg(max(col("ts"))).head.getAs[java.time.LocalDateTime](0)
    assert(mx.getYear >= 2020 && mx.getYear <= 2030, s"sane timestamp range, got $mx")
    // the micros rescale truncates sub-microsecond nanos (ts of row i
    // carries i % 1000 nanos) — values must land on exact micros
    assert(ev.select(col("ts")).limit(3).collect()
      .forall(_.getAs[java.time.LocalDateTime](0).getNano % 1000 === 0))
  }

  test("projection pushdown reaches the scan (A2)") {
    val df = arrow("lineitem").select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    // BatchScan prints ReadSchema; unprojected columns must be absent
    assert(scan.contains("l_orderkey"))
    assert(!scan.contains("l_comment"))
    val rows = df.limit(5).collect()
    assert(rows.length === 5 && rows.head.length === 2)
  }

  test("filter pushdown: serialized to SQL, effective at endpoint, result exact (A3)") {
    val df = arrow("lineitem").filter(col("l_quantity") < 3)
    val expected = plain("lineitem").filter(col("l_quantity") < 3)
    assert(df.count() === expected.count())
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("graft-arrow") && desc.contains("l_quantity < 3.0"),
      s"pushed filter should appear in scan description:\n$desc")
  }

  test("timestamp filters translate to parquet predicates (micros and nanos)") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    // the time range is THE pruning predicate at scale — it must reach
    // the parquet layer (row-group stats skipping), not just Spark's
    // local re-filter
    def schemaOf(table: String) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/$table.parquet"), new Configuration()))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    assert(ParquetFilters.translatable(
      GreaterThanOrEqual("l_shipdate", java.sql.Timestamp.valueOf("1996-01-01 00:00:00")),
      schemaOf("lineitem")), "micros timestamp filter must translate")
    def nanosSchema = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$nanosDir/events_ns.parquet"), new Configuration()))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    assert(ParquetFilters.translatable(
      GreaterThanOrEqual("ts", java.time.LocalDateTime.of(2024, 1, 1, 0, 0)),
      nanosSchema), "nanos timestamp filter must translate")
    // correctness through the source, micros column
    val cut = lit("1996-06-01").cast("timestamp")
    assert(arrow("lineitem").filter(col("l_shipdate") >= cut).count() ===
      plain("lineitem").filter(col("l_shipdate") >= cut).count())
    // nanos column (fixture is graft-arrow-only): range filter vs manual
    val ev = GraftArrow.read(spark, nanosDir, "events_ns")
      .select(col("event_id"), col("ts"))
    val evCut = ev.agg(max(col("ts"))).head.getAs[java.time.LocalDateTime](0).minusDays(1)
    val filtered = ev.filter(col("ts") > lit(evCut)).count()
    val expected = ev.collect()
      .count(_.getAs[java.time.LocalDateTime]("ts").isAfter(evCut))
    assert(filtered === expected && filtered > 0)
  }

  test("lossy timestamp conversions decline translation (stay Spark-side)") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    def schemaOf(path: String) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), new Configuration()))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    // MILLIS column: a sub-millisecond bound cannot be rescaled without
    // truncation — us/1000 would push `ts < 1.5ms` as lt(1ms) and drop
    // the 1ms rows BEFORE Spark's re-filter could see them
    val tmp = java.nio.file.Files.createTempDirectory("graft-millis").toString
    import spark.implicits._
    val prevOut = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try Seq(java.sql.Timestamp.valueOf("2024-01-01 00:00:00.001"),
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00.002"))
      .toDF("ts").repartition(1)
      .write.mode("overwrite").parquet(s"$tmp/millis.parquet")
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevOut)
    val millisSchema = schemaOf(java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$tmp/millis.parquet"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get().toString)
    val subMs = java.sql.Timestamp.valueOf("2024-01-01 00:00:00.0015")
    val wholeMs = java.sql.Timestamp.valueOf("2024-01-01 00:00:00.002")
    assert(!ParquetFilters.translatable(LessThan("ts", subMs), millisSchema),
      "sub-ms bound on MILLIS column must decline")
    assert(ParquetFilters.translatable(LessThan("ts", wholeMs), millisSchema),
      "whole-ms bound on MILLIS column is lossless and must translate")
    // NANOS column: us*1000 overflows Long past ~2262 — the negative
    // bound would silently exclude every row
    val eventsSchema = schemaOf(s"$nanosDir/events_ns.parquet")
    assert(!ParquetFilters.translatable(
      GreaterThanOrEqual("ts", java.time.LocalDateTime.of(2300, 1, 1, 0, 0)),
      eventsSchema), "overflowing nanos bound must decline")
    assert(ParquetFilters.translatable(
      GreaterThanOrEqual("ts", java.time.LocalDateTime.of(2024, 1, 1, 0, 0)),
      eventsSchema), "in-range nanos bound still translates")
    // end-to-end: the declined filter still evaluates correctly Spark-side
    val got = GraftArrow.read(spark, tmp, "millis").filter(col("ts") < lit(subMs)).count()
    assert(got === 1L, "the 1ms row must survive (sub-ms bound not truncated away)")
  }

  test("string and in-list filters push and stay exact") {
    val a = arrow("documents").filter(col("lang").isin("en", "fr") && col("n_chars") > 100)
    val p = plain("documents").filter(col("lang").isin("en", "fr") && col("n_chars") > 100)
    assert(a.count() === p.count())
    assert(a.exceptAll(p).count() === 0)
  }

  test("split planning is row-group aligned and exhaustive (A5)") {
    // write a multi-row-group file: small block size forces several groups
    val tmp = java.nio.file.Files.createTempDirectory("graft-split").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 64 * 1024)
    try plain("lineitem").repartition(1).write.mode("overwrite").parquet(s"$tmp/out")
    finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
    }
    // the endpoint serves single files like the testdata layout
    val part = new java.io.File(s"$tmp/out").listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$tmp/li.parquet"))
    val endpoint = new LocalParquetEndpoint(tmp)
    // splitSize=1 byte → one split per row group
    val plan = endpoint.plan("li", QuerySpec("li", Array("l_orderkey"), Array.empty), 1L)
    assert(plan.length > 1, s"expected multiple splits, got ${plan.length}")
    assert(plan.map(_.rowCount).sum === plain("lineitem").count())
    // byte ranges must not overlap
    val sorted = plan.sortBy(_.startByte)
    sorted.sliding(2).foreach {
      case Seq(x, y) => assert(x.endByte <= y.startByte)
      case _ =>
    }
    // a large split budget packs multiple row groups per split
    val packed = endpoint.plan("li", QuerySpec("li", Array("l_orderkey"), Array.empty), 1L << 30)
    assert(packed.length < plan.length)
    // and the scan through the source sees every row exactly once
    val viaSource = GraftArrow.read(spark, tmp, "li", splitSize = 1L)
    assert(viaSource.rdd.getNumPartitions === plan.length)
    assert(viaSource.count() === plain("lineitem").count())
  }

  test("split option: false = one partition per file (reference default), true = split scan") {
    // multi-row-group single file, as in the A5 test
    val tmp = java.nio.file.Files.createTempDirectory("graft-splitopt").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 64 * 1024)
    try plain("lineitem").repartition(1).write.mode("overwrite").parquet(s"$tmp/out")
    finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
    }
    val part = new java.io.File(s"$tmp/out").listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$tmp/li.parquet"))
    // split=true with a tiny budget: one partition per row group
    val split = GraftArrow.read(spark, tmp, "li", splitSize = 1L, split = true)
    assert(split.rdd.getNumPartitions > 1)
    // split=false: ONE partition covering all row groups of the file,
    // regardless of split_size — the reference's non-split scan
    // (read_arrow_dd.cpp:318); also the raw option's default
    val noSplit = GraftArrow.read(spark, tmp, "li", splitSize = 1L, split = false)
    assert(noSplit.rdd.getNumPartitions === 1)
    val rawDefault = spark.read.format("graft-arrow")
      .option("dir", tmp).option("table", "li").option("split_size", 1L).load()
    assert(rawDefault.rdd.getNumPartitions === 1)
    // identical data either way, and pushdown still applies per file
    assert(noSplit.count() === split.count())
    assert(noSplit.filter(col("l_orderkey") < 100).count() ===
      split.filter(col("l_orderkey") < 100).count())
  }

  test("raw scan with split option ABSENT warns when files have more parallelism to give") {
    // multi-row-group single file, as in the A5 test
    val tmp = java.nio.file.Files.createTempDirectory("graft-splitwarn").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 64 * 1024)
    try plain("lineitem").repartition(1).write.mode("overwrite").parquet(s"$tmp/out")
    finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
    }
    val part = new java.io.File(s"$tmp/out").listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$tmp/li.parquet"))
    // capture the scan's log4j output
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val captured = scala.collection.mutable.ArrayBuffer.empty[String]
    val appender = new AbstractAppender("graft-test-capture", null, null, false,
      Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(e: LogEvent): Unit =
        captured.synchronized { captured += e.getMessage.getFormattedMessage }
    }
    appender.start()
    val logger = LogManager.getLogger(classOf[GraftArrowScan].getName)
      .asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try {
      // option ABSENT → reference-parity default + the degradation notice
      spark.read.format("graft-arrow")
        .option("dir", tmp).option("table", "li").load().count()
      assert(captured.exists(m => m.contains("split=false") && m.contains("li")),
        s"expected single-split notice, got: $captured")
      captured.clear()
      // option EXPLICITLY false → the user chose it; no warning
      spark.read.format("graft-arrow")
        .option("dir", tmp).option("table", "li").option("split", false).load().count()
      assert(!captured.exists(_.contains("split=false")),
        s"explicit split=false must not warn, got: $captured")
    } finally logger.removeAppender(appender)
    // the notice is a pure function of the planned splits: single-row-
    // group files have no parallelism to lose, so no notice
    val single = SplitInfo("local://x", 0L, "p", "q", "c", 0, Seq(0), 0L, 10L, 1L)
    assert(GraftArrowScan.singleSplitNotice("t", Seq(single)).isEmpty)
    val multi = single.copy(rowGroups = Seq(0, 1, 2))
    assert(GraftArrowScan.singleSplitNotice("t", Seq(multi)).nonEmpty)
  }

  test("multi-file table: a directory of part files scans as one table with per-file splits") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-multi").toString
    // the realistic at-scale layout: <table>.parquet/ is a directory
    plain("documents").repartition(4)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val endpoint = new LocalParquetEndpoint(tmp)
    val plan = endpoint.plan("documents",
      QuerySpec("documents", Array("doc_id"), Array.empty), 128L * 1024 * 1024)
    assert(plan.length === 4, s"one split per part file, got ${plan.length}")
    assert(plan.map(_.endpoint).distinct.length === 4, "splits carry per-file locators")
    assert(plan.map(_.splitId).toSet === (0 until 4).toSet)
    val a = GraftArrow.read(spark, tmp, "documents")
    val p = plain("documents")
    assert(a.count() === p.count())
    assert(a.exceptAll(p).count() === 0 && p.exceptAll(a).count() === 0)
    // pushdowns still reach each part file; agg partials merge across files
    assert(a.filter(col("lang") === "en").count() ===
      p.filter(col("lang") === "en").count())
    assert(a.agg(sum(col("n_chars")), count(lit(1))).head ===
      p.agg(sum(col("n_chars")), count(lit(1))).head)
    // and the SQL catalog lists + reads directory tables
    spark.conf.set("spark.sql.catalog.graft_multi", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_multi.dir", tmp)
    assert(spark.sql("SELECT count(*) FROM graft_multi.documents").head.getLong(0)
      === p.count())
    // streaming over a directory table: every per-file split delivered
    // exactly once
    val stream = spark.readStream.format("graft-arrow")
      .option("dir", tmp).option("table", "documents").load()
    val name = s"arrow_multi_stream_${System.nanoTime()}"
    val q = stream.writeStream.format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table(name).count() === p.count())
  }

  test("dd_splits surface (A6)") {
    val s = GraftArrow.splits(spark, dir, "lineitem")
    val row = s.head()
    assert(s.columns.toSeq === Seq("endpoints", "query_id", "query", "producer_id",
      "split_size", "query_checksum", "split_id", "split_rows"))
    assert(row.getAs[String]("query").startsWith("SELECT "))
    assert(row.getAs[String]("endpoints").startsWith("local://"))
    assert(s.select(sum(col("split_rows"))).head.getLong(0) === plain("lineitem").count())
  }

  test("aggregation pushdown: partials per split merge to exact totals (A4)") {
    val df = arrow("lineitem").agg(
      count(lit(1)).as("n"),
      sum(col("l_quantity")).as("sq"),
      min(col("l_orderkey")).as("mn"),
      max(col("l_orderkey")).as("mx"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates") || plan.contains("count(*)"),
      s"aggregation should be pushed:\n$plan")
    val expected = plain("lineitem").agg(
      count(lit(1)), sum(col("l_quantity")), min(col("l_orderkey")), max(col("l_orderkey"))).head
    assert(df.head === expected)
  }

  test("aggregates over an expression stay local and match the native reader (A4)") {
    // an aggregate whose argument merely CONTAINS a column must not be
    // pushed as an aggregate of that column
    Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      _.agg(sum(col("l_quantity") * 2).as("v")),
      _.agg(min(concat(col("l_returnflag"), col("l_linestatus"))).as("v"))
    ).foreach { q =>
      val df = q(arrow("lineitem"))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("PushedAggregates"), s"expression aggregate pushed:\n$plan")
      assert(df.head === q(plain("lineitem")).head)
    }
  }

  test("AVG pushes as decomposed SUM+COUNT; grouped aggs push partials per group (A4+)") {
    // the reference computes AVG locally in split mode; Spark goes one
    // better and decomposes it into pushable SUM+COUNT partials
    val avg = arrow("lineitem").agg(org.apache.spark.sql.functions.avg(col("l_quantity")))
    val avgPlan = avg.queryExecution.executedPlan.toString
    assert(avgPlan.contains("sum(l_quantity)") && avgPlan.contains("count(l_quantity)"),
      s"AVG should decompose into pushed sum+count:\n$avgPlan")
    // r8: GROUP BY on plain columns pushes too — one partial row per
    // (split, group) crosses the wire. Exceeds the reference optimizer
    // (local fallback on any GROUP BY); SURVEY §2/A4 records it.
    val grouped = arrow("lineitem").groupBy(col("l_returnflag")).count()
    val gPlan = grouped.queryExecution.executedPlan.toString
    assert(gPlan.contains("PushedAggregates"), s"grouped agg should push:\n$gPlan")
    assert(gPlan.contains("GROUP BY"), s"pushed SQL should carry the GROUP BY:\n$gPlan")
    val a = avg.head.getDouble(0)
    val e = plain("lineitem").agg(org.apache.spark.sql.functions.avg(col("l_quantity"))).head.getDouble(0)
    assert(math.abs(a - e) < 1e-9)
    assert(grouped.collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
      plain("lineitem").groupBy(col("l_returnflag")).count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet)
  }

  test("grouped pushdown parity: multi-key, multi-agg, filtered (A4+)") {
    def both(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = (
      f(arrow("lineitem")).collect().map(_.toSeq).toSet,
      f(plain("lineitem")).collect().map(_.toSeq).toSet)
    val (g1, e1) = both(_.filter(col("l_discount") > 0.02)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sq"),
        min(col("l_orderkey")).as("mn"), max(col("l_orderkey")).as("mx")))
    assert(g1 === e1 && g1.nonEmpty)
    // group-by an EXPRESSION must decline cleanly and stay correct
    val (g2, e2) = both(_.groupBy((col("l_orderkey") % 7).as("k")).count())
    assert(g2 === e2)
  }

  test("grouped pushdown caps the endpoint hash map and stays exact (A4+, r9)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.LongType
    // unit level: 6 rows over 3 keys, cap 1 — only the first key maps;
    // the other keys' rows stream through as singleton partials
    def rows = Iterator(
      InternalRow(1L, 10L), InternalRow(2L, 20L), InternalRow(1L, 30L),
      InternalRow(3L, 40L), InternalRow(2L, 50L), InternalRow(1L, 60L))
    val calls = Seq(AggCall("count_star", ""), AggCall("sum", "v"))
    def run(cap: Int) = PartialAgg.computeGrouped(
      rows, calls, Seq(-1, 1), Seq(LongType, LongType),
      Seq(0), Seq(LongType), cap).toVector
    val capped = run(1)
    val uncapped = run(Int.MaxValue)
    assert(uncapped.size === 3)
    assert(capped.size === 4, "cap 1: key 1 combines (3 rows -> 1), keys 2/3 stream as 3 singletons")
    // merging the partials per key (what Spark's final agg does) must
    // agree exactly with the uncapped result
    def merged(v: Vector[InternalRow]) = v.groupBy(_.getLong(0)).view.mapValues(rs =>
      (rs.map(_.getLong(1)).sum, rs.map(_.getLong(2)).sum)).toMap
    assert(merged(capped) === merged(uncapped))
    assert(merged(capped) === Map(1L -> ((3L, 100L)), 2L -> ((2L, 70L)), 3L -> ((1L, 40L))))

    // end-to-end: a near-unique group key under a tiny conf'd cap still
    // answers exactly, and the pushdown stays on (the cap changes the
    // partial SHAPE, never the plan or the merged answer)
    val key = AggSpec.MaxGroupsConfKey
    spark.conf.set(key, "4")
    try {
      val g = arrow("lineitem").groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sq"),
          max(col("l_extendedprice")).as("mx"))
      assert(g.queryExecution.executedPlan.toString.contains("PushedAggregates"),
        "capped grouped agg should still push")
      val e = plain("lineitem").groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sq"),
          max(col("l_extendedprice")).as("mx"))
      assert(g.collect().map(_.toSeq).toSet === e.collect().map(_.toSeq).toSet)
    } finally spark.conf.unset(key)
  }

  test("grouped pushdown overflow run-merges: adversarial key order stays sublinear (r10)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.LongType
    val calls = Seq(AggCall("count_star", ""), AggCall("sum", "v"))
    def run(rows: Iterator[InternalRow], cap: Int) = PartialAgg.computeGrouped(
      rows, calls, Seq(-1, 1), Seq(LongType, LongType),
      Seq(0), Seq(LongType), cap).toVector
    def merged(v: Vector[InternalRow]) = v.groupBy(_.getLong(0)).view.mapValues(rs =>
      (rs.map(_.getLong(1)).sum, rs.map(_.getLong(2)).sum)).toMap

    // the r9 degenerate case: primary (cap 2) fills on keys 1/2, then
    // TWO hot keys alternate 100 times — the r9 singleton path emitted
    // one wire row per input row (100); the bounded secondary run
    // combines both hot keys, so the wire carries 4 rows total
    val adversarial = Iterator(InternalRow(1L, 1L), InternalRow(2L, 1L)) ++
      Iterator.tabulate(100)(i => InternalRow(3L + (i % 2), 1L))
    val out = run(adversarial, 2)
    assert(out.size === 4,
      s"2 primary + 2 run-merged rows expected, got ${out.size} — overflow must combine")
    assert(merged(out) === Map(
      1L -> ((1L, 1L)), 2L -> ((1L, 1L)), 3L -> ((50L, 50L)), 4L -> ((50L, 50L))))

    // past 2×cap distinct overflow keys the run MUST flush (memory
    // bound) — exactness holds under any flush pattern, and the wire
    // volume stays below one-row-per-input-row even here
    val wide = Iterator.tabulate(300)(i => InternalRow((i % 10).toLong, 1L))
    val capped = run(wide, 2)
    val uncapped = run(Iterator.tabulate(300)(i => InternalRow((i % 10).toLong, 1L)), Int.MaxValue)
    assert(merged(capped) === merged(uncapped))
    assert(capped.size < 300,
      s"wire rows ${capped.size} must stay below input rows under flushing")
  }

  test("filter + aggregation pushdown compose") {
    val df = arrow("lineitem").filter(col("l_quantity") < 10)
      .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("s"))
    val expected = plain("lineitem").filter(col("l_quantity") < 10)
      .agg(count(lit(1)), sum(col("l_extendedprice"))).head
    assert(df.head === expected)
  }

  test("grouped pushdown handles NULL group keys as one group (A4+)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-nullgrp").toString
    Seq((Option("a"), 1L), (Option("a"), 2L), (Option.empty[String], 10L),
        (Option.empty[String], 20L), (Option("b"), 5L))
      .toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(s"$tmp/out")
    val part = new java.io.File(s"$tmp/out").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$tmp/grp.parquet"))
    val g = GraftArrow.read(spark, tmp, "grp")
      .groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    assert(g.queryExecution.executedPlan.toString.contains("PushedAggregates"),
      "nullable-key grouped agg should still push")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (if (r.isNullAt(0)) "<null>" else r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val exp = rows(spark.read.parquet(s"$tmp/grp.parquet")
      .groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("v")).as("s")))
    assert(rows(g) === exp)
    assert(exp.contains(("<null>", 2L, 30L)), "null keys must fold into ONE group")
  }

  test("all-types scan + aggregation parity (tiny/small/decimal/date, like the reference all_types suite)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft-alltypes").toString
    val src = Seq(
      (1, 10, 100, 1000L, 1.5f, 2.5, "3.25", "123.456789", "2024-01-05", "a", true),
      (2, -20, -200, -2000L, -0.5f, 0.25, "10.75", "0.000001", "2023-06-30", "b", false),
      (3, 30, 300, 3000L, 2.0f, 4.0, "99.99", "7777.125000", "2025-12-31", "c", true))
      .toDF("tiny0", "small0", "int_col", "big_col", "float_col", "double_col",
        "dec0", "bigdec0", "date0", "str_col", "bool_col")
      .select(
        col("tiny0").cast(ByteType).as("tiny_col"),
        col("small0").cast(ShortType).as("small_col"),
        col("int_col"), col("big_col"), col("float_col"), col("double_col"),
        col("dec0").cast(DecimalType(9, 2)).as("dec_small"),
        col("bigdec0").cast(DecimalType(24, 6)).as("dec_big"),
        col("date0").cast(DateType).as("date_col"),
        col("str_col"), col("bool_col"))
    src.coalesce(1).write.mode("overwrite").parquet(s"$tmp/out")
    val part = new java.io.File(s"$tmp/out").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$tmp/all_types.parquet"))
    val a = GraftArrow.read(spark, tmp, "all_types")
    val p = spark.read.parquet(s"$tmp/all_types.parquet")
    assert(a.schema === p.schema)
    assert(a.exceptAll(p).count() === 0 && p.exceptAll(a).count() === 0)
    // aggregation pushdown over every numeric repertoire member
    val agg = a.agg(
      sum(col("tiny_col")).as("st"), sum(col("small_col")).as("ss"),
      sum(col("dec_small")).as("sd"), sum(col("dec_big")).as("sb"),
      min(col("date_col")).as("mnd"), max(col("str_col")).as("mxs"),
      min(col("bool_col")).as("mnb"), max(col("dec_big")).as("mxd"))
    assert(agg.queryExecution.executedPlan.toString.contains("PushedAggregates"),
      "all-types aggregates should push")
    val exp = p.agg(
      sum(col("tiny_col")), sum(col("small_col")),
      sum(col("dec_small")), sum(col("dec_big")),
      min(col("date_col")), max(col("str_col")),
      min(col("bool_col")), max(col("dec_big"))).head
    assert(agg.head === exp)
    // date and small-int range filters translate and stay exact
    val dcut = lit("2024-01-01").cast("date")
    assert(a.filter(col("date_col") >= dcut).count() ===
      p.filter(col("date_col") >= dcut).count())
    assert(a.filter(col("tiny_col") > 0).count() ===
      p.filter(col("tiny_col") > 0).count())
  }

  test("registered under the short name graft-arrow (DataSourceRegister)") {
    val df = spark.read.format("graft-arrow")
      .option("dir", dir).option("table", "nation").load()
    assert(df.count() === plain("nation").count())
  }

  test("micro-batch streaming read delivers every split exactly once") {
    val stream = spark.readStream.format("graft-arrow")
      .option("dir", dir).option("table", "documents").load()
    val name = s"arrow_stream_${System.nanoTime()}"
    val q = stream.writeStream.format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(name)
    assert(streamed.count() === plain("documents").count())
    assert(streamed.exceptAll(plain("documents")).count() === 0)
  }

  test("auth_token surface: dd_login JWT admits the scan, absent/garbage rejected") {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    val token = spark.sql("SELECT dd_login('local://auth', 'admin', 'admin', '{}')")
      .head.getString(0)
    val authed = spark.read.format("graft-arrow")
      .option("dir", dir).option("table", "nation")
      .option("auth", "true").option("token", token).load()
    assert(authed.count() === plain("nation").count())
    intercept[SecurityException] {
      spark.read.format("graft-arrow")
        .option("dir", dir).option("table", "nation")
        .option("auth", "true").load().collect()
    }
    intercept[SecurityException] {
      spark.read.format("graft-arrow")
        .option("dir", dir).option("table", "nation")
        .option("auth", "true").option("token", "not.a.jwt").load().collect()
    }
    // a deployment-supplied secret replaces the compiled-in demo
    // default: tokens minted against the default no longer verify, and
    // tokens minted against the custom secret do
    intercept[SecurityException] {
      spark.read.format("graft-arrow")
        .option("dir", dir).option("table", "nation")
        .option("auth", "true").option("secret", "deployment-secret")
        .option("token", token).load().collect()
    }
    val custom = graft.functions.Jwt.mint("admin", Seq.empty, "deployment-secret",
      System.currentTimeMillis() / 1000)
    val authed2 = spark.read.format("graft-arrow")
      .option("dir", dir).option("table", "nation")
      .option("auth", "true").option("secret", "deployment-secret")
      .option("token", custom).load()
    assert(authed2.count() === plain("nation").count())
  }

  test("sql := mode: both/neither validation errors (reference dd_read_arrow.test:12-24)") {
    val neither = intercept[Exception] {
      spark.read.format("graft-arrow").option("dir", dir).load()
    }
    assert(neither.getMessage.contains("requires either 'table' or 'sql'"),
      s"got: ${neither.getMessage}")
    val both = intercept[Exception] {
      spark.read.format("graft-arrow").option("dir", dir)
        .option("table", "nation").option("sql", "SELECT 1").load()
    }
    assert(both.getMessage.contains("either 'table' or 'sql' option, not both"),
      s"got: ${both.getMessage}")
  }

  test("sql := mode: server-side join+agg result scans exactly (A1)") {
    val q =
      """SELECT n.n_name AS nation, count(*) AS n_nations
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY n.n_name""".stripMargin
    val viaEndpoint = GraftArrow.readSql(spark, dir, q)
    val n = plain("nation"); val r = plain("region")
    val expected = n.join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name").as("nation")).agg(count(lit(1)).as("n_nations"))
      .select(col("nation"), col("n_nations"))
    assert(viaEndpoint.schema.fieldNames.toSeq === Seq("nation", "n_nations"))
    assert(viaEndpoint.count() === expected.count())
    assert(viaEndpoint.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(viaEndpoint).count() === 0)
  }

  test("sql := mode: client pushdown applies over the server result set") {
    val q = "SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem"
    val df = GraftArrow.readSql(spark, dir, q)
      .filter(col("l_quantity") < 5).select("l_orderkey", "l_quantity")
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("graft-arrow") && desc.contains("l_quantity < 5.0"),
      s"filter should push into the sql-result scan:\n$desc")
    val expected = plain("lineitem").filter(col("l_quantity") < 5)
      .select("l_orderkey", "l_quantity")
    assert(df.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(df).count() === 0)
  }

  test("dd_splits over sql: plan covers the result set exactly") {
    val q = "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity < 10"
    val plan = GraftArrow.splitsSql(spark, dir, q)
    val expected = plain("lineitem").filter(col("l_quantity") < 10).count()
    assert(plan.count() >= 1)
    assert(plan.agg(sum(col("split_rows"))).head.getLong(0) === expected)
    assert(plan.head.getAs[String]("query").contains(q))
  }

  test("sql := mode: shipped query can call dd_* extension functions (server has them loaded)") {
    // dd_search is the always-true pushdown marker; dd_version a scalar
    val df = GraftArrow.readSql(spark, dir,
      "SELECT n_name, dd_version() AS v FROM nation WHERE dd_search(n_name, 'x')")
    assert(df.count() === plain("nation").count())
    assert(df.select("v").head.getString(0).nonEmpty)
  }

  test("sql := mode streams: micro-batches over the server result set") {
    val stream = spark.readStream.format("graft-arrow")
      .option("dir", dir)
      .option("sql", "SELECT doc_id, source FROM documents WHERE doc_id < 100")
      .load()
    val name = s"arrow_sql_stream_${System.nanoTime()}"
    val q = stream.writeStream.format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val expected = plain("documents").filter(col("doc_id") < 100)
      .select("doc_id", "source")
    assert(spark.table(name).count() === expected.count())
    assert(spark.table(name).exceptAll(expected).count() === 0)
  }

  test("sql := mode: empty result sets and timestamp columns round-trip") {
    val empty = GraftArrow.readSql(spark, dir,
      "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 0")
    assert(empty.schema.fieldNames.toSeq === Seq("n_nationkey", "n_name"))
    assert(empty.count() === 0)
    // timestamps materialize as INT64 micros (the endpoint's repertoire)
    val ts = GraftArrow.readSql(spark, dir,
      "SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderkey < 50")
    val expected = plain("orders").filter(col("o_orderkey") < 50)
      .select("o_orderkey", "o_orderdate")
    assert(ts.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(ts).count() === 0)
  }

  test("sql := mode honors auth: no token, no server execution") {
    intercept[SecurityException] {
      spark.read.format("graft-arrow").option("dir", dir)
        .option("sql", "SELECT count(*) AS n FROM nation")
        .option("auth", "true").load().collect()
    }
  }

  test("FilterSql serializes the reference's WHERE surface") {
    import org.apache.spark.sql.sources._
    assert(FilterSql.toSql(EqualTo("a", 1)) === Some("a = 1"))
    assert(FilterSql.toSql(In("s", Array("x", "y'z"))) === Some("s IN ('x', 'y''z')"))
    assert(FilterSql.toSql(And(GreaterThan("a", 1), LessThan("a", 9)))
      === Some("(a > 1 AND a < 9)"))
    assert(FilterSql.toSql(Or(IsNull("a"), StringStartsWith("s", "pre")))
      === Some("(a IS NULL OR s LIKE 'pre%')"))
    assert(FilterSql.toWhere(Array(EqualTo("a", 1), IsNotNull("b")))
      === " WHERE a = 1 AND b IS NOT NULL")
  }
}
