package graft

import org.apache.spark.sql.SparkSession

/** The one place the programs' local session defaults are set. */
object GraftSession {

  /** Worker threads: `SPARK_GRAFT_CPUS`, default 4. */
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** A local session on [[cpus]] threads with shuffle partitions equal
    * to the thread count, UTC (the events TIMESTAMP_NTZ→TIMESTAMP
    * normalization in [[Tables.normalizeTs]] is value-identity only in
    * UTC), FileOutputCommitter v2, no UI and WARN logging. `extra`
    * settings are applied last and override these defaults.
    *
    * The v2 committer renames task output straight to the destination
    * instead of through the job commit's single-threaded merge on the
    * Spark driver, so many-partition fan-out writes (a23's ~240
    * day×bucket dirs) do not serialize their commit there. Its
    * tradeoff, partial task output visible on job failure, does not
    * matter for scratch stagings.
    */
  def local(extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        "2")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
