package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the Spark implementation over a
  * testdata directory, and the DuckDB SQL that must return the same
  * rows on the same tables. Name, run and oracle live in one value, so
  * a query without an oracle cannot be registered.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String)

object QueryDef {

  /** Index `defs` by name; a repeated name throws instead of silently
    * replacing its twin. */
  def byName(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> d).toMap
  }
}
