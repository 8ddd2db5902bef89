package graft.queries

/** SQL text fragments shared by the oracle queries (DuckDB) and, for
  * [[uq]], by Spark SQL expressions that must round the same way. */
private[queries] object OracleSql {

  /** Strict left fold `0.0 + x1 + x2 + ...` over a DOUBLE list, the same
    * association as Spark's `aggregate(arr, 0.0, (acc, x) -> acc + x)`. */
  private def fold(items: String): String =
    s"list_reduce(list_prepend(0.0, $items), (acc, x) -> acc + x)"

  /** Dot product of two list columns, folded like [[fold]]. */
  def dot(a: String, b: String): String =
    fold(s"list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)")

  /** DuckDB rendering of [[Similarity.cosineHof]]'s strict-left-fold
    * cosine. */
  def cos(a: String, b: String): String =
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"

  /** Integer micro-unit quantizer: bit-identical across engines at the
    * element level, so products and sums of its values stay exact
    * BIGINTs. Valid in both Spark SQL and DuckDB. */
  def uq(x: String): String =
    s"CAST(floor(CAST($x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
}
