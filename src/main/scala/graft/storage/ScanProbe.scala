package graft.storage

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit, try_element_at}

/** Everything a store scan may prune on, pushed down from one WHERE
  * (the reference's single by-id scan with the time range pushed down,
  * `/root/reference/src/sydra/query/operator.zig`, widened to every
  * dimension the skip manifest indexes):
  *
  *  - `lo`/`hi`: inclusive time bounds;
  *  - `vlo`/`vhi`: value bounds — an absent bound never touches the value
  *    column (a `value >= -∞` residual would drop null-valued rows);
  *  - `seriesId` (`by_id(N)`) or `series` (a name selector);
  *  - `tags`: tag-equality CNF — an AND of groups, each an OR of `k=v`
  *    pairs (a plain `tag.k = 'v'` conjunct is a singleton group).
  *
  * Every field must be implied by the caller's true predicate: pruning
  * on it is then a superset, and [[residual]] — the exact filter of the
  * probe itself — never drops a row the predicate keeps.
  */
final case class ScanProbe(
    lo: Option[Long] = None,
    hi: Option[Long] = None,
    vlo: Option[Double] = None,
    vhi: Option[Double] = None,
    seriesId: Option[Long] = None,
    series: Option[String] = None,
    tags: Seq[Seq[(String, String)]] = Nil) {

  def isEmpty: Boolean = this == ScanProbe()

  def startTs: Long = lo.getOrElse(Long.MinValue)
  def endTs: Long = hi.getOrElse(Long.MaxValue)

  /** The probe as an exact row filter over the store's columns (a
    * missing tag key compares NULL → false, like the compiler's
    * `try_element_at` equality).
    */
  def residual: Column =
    (lo.map(col("time") >= _) ++ hi.map(col("time") <= _) ++
      seriesId.map(col("series_id") === _) ++ series.map(col("series") === _) ++
      vlo.map(col("value") >= _) ++ vhi.map(col("value") <= _) ++
      tags.map(_.map { case (k, v) => try_element_at(col("tags"), lit(k)) === v }
        .reduce(_ || _)))
      .foldLeft(lit(true))(_ && _)
}
