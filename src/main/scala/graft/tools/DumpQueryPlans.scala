package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool for the optimization rounds: write the `explain("formatted")`
  * plan of each named registered query to `<outDir>/<name>_<tag>.txt`.
  *
  * Usage: `runMain graft.tools.DumpQueryPlans <outDir> <tag> <name>[,...]`
  *
  * Multi-stage operators (stage→commit→read ladders) truncate their
  * public plan at a localCheckpoint scan; the file still pins the final
  * frame's shape, and OPTIMIZATION_r*.md carries the mechanism-stage
  * excerpts for those. Not part of the driver contract — local tooling
  * like [[Profile]].
  */
object DumpQueryPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), plan)
      println(s"DUMPED $name -> $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
