package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // same session as Bench, so correctness runs exercise the exact
    // write path the bench times
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // A failing query must be LOUD in the artifact, not just stderr:
    // round 11's testdata regeneration broke 23 queries and the only
    // trace was a silently smaller correctness file (r11 verdict #2).
    // Every failure is recorded in _errors.json; the file is written
    // even when empty so its absence means "Verify did not finish".
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // SPARK_GRAFT_ONLY narrows a local iteration run; unset, every
    // registered query is dumped
    SparkEntry.selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v.take(500))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    spark.stop()
  }
}
