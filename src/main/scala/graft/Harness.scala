package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place a graft driver session is configured. Bench, Verify,
  * ProbeJobs, ExplainDump and the spec fixture build their session
  * here; the mains that run entries share its entry filter, scoped
  * leaked-persist sweep and JSON writer. */
object Harness {
  type Entry = (SparkSession, String) => DataFrame

  /** `local[cpus]` with shuffle width = cpus, UTC session time zone,
    * UI off and WARN logging. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Core count from SPARK_GRAFT_CPUS, else the main's own default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** SparkEntry.queries sorted by name, narrowed by the optional
    * comma-separated SPARK_GRAFT_ONLY filter (for focused iteration;
    * the gate runs unfiltered). */
  def entries: Seq[(String, Entry)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
  }

  /** Runs `body`, then releases every persistent RDD it leaked.
    *
    * The sweep is SCOPED to ids created during `body`: a blanket
    * unpersist would also destroy a pre-existing localCheckpoint'd
    * frame, whose truncated lineage makes it unrecomputable. The
    * blocking unpersist frees localCheckpoint blocks deterministically
    * (they are persistent RDDs outside the CacheManager, otherwise
    * freed only when the async ContextCleaner reacts to GC), so one
    * entry's leaks neither inflate a later entry's timing nor turn
    * into eviction pressure at large SFs. With `spareShared`, ids
    * registered in [[SharedFrames]] survive (Bench: the shared decode
    * is built once per run); without it they are released too
    * (Verify: every gated entry recomputes its standalone form). */
  def sweeping[A](spark: SparkSession, spareShared: Boolean)(body: => A): A = {
    val sc = spark.sparkContext
    val preexisting = sc.getPersistentRDDs.keySet
    try body
    finally sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!preexisting.contains(id) && !(spareShared && SharedFrames.contains(id)))
        rdd.unpersist(blocking = true)
    }
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Compact JSON for Scala maps, sequences and primitives. Ordered
    * input (ListMap, Seq) keeps its order in the output. */
  def json(value: Any): String = mapper.writeValueAsString(value)
}
