package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(Harness.cpus(default = 4))
    new java.io.File(outDir).mkdirs()
    // shared frames are released too, so every gated entry recomputes
    // its standalone form
    for ((name, fn) <- Harness.entries)
      Harness.sweeping(spark, spareShared = false) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Harness.json(SparkEntry.oracleSql))
    spark.stop()
    // explicit exit: entries may have started shared loopback HTTP
    // servers (daemon threads by construction, but belt-and-braces —
    // a hung gate JVM silently zeroes the round's correctness)
    sys.exit(0)
  }
}
