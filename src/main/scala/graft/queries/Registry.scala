package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One correctness-gated query: a Spark implementation plus (when SQL can
  * express it) an equivalent DuckDB oracle over the same parquet tables.
  *
  * Conventions that keep the driver's hash-compare stable:
  *  - every computed/aggregated double is `round(x, 4)` on BOTH sides;
  *  - no raw TIMESTAMP outputs — epoch seconds (BIGINT) or formatted strings;
  *  - column names identical on both sides (the compare sorts by name);
  *  - a total ORDER BY on both sides so row order is deterministic.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Oracle,
    bench: Boolean = false,
    // timed by Bench under "extra_queries" — outside the
    // baseline-comparable total, watched for per-op regressions
    benchExtra: Boolean = false)

/** A gate's DuckDB oracle SQL, built on first read: an oracle embedding
  * a repo artifact (`q_ann_opq`'s frozen rotation) must not make listing
  * the registry, or reading another gate's oracle, depend on that file.
  * Every `Q(..., Some(sql), ...)` converts implicitly, unevaluated.
  */
final class Oracle(sql0: => Option[String]) {
  lazy val sql: Option[String] = sql0
}

object Oracle {
  import scala.language.implicitConversions
  implicit def fromOption(sql: => Option[String]): Oracle = new Oracle(sql)
}

object Registry {
  def all: Seq[Q] =
    Relational.qs ++ TimeSeries.qs ++ SydraQlQueries.qs ++ Pipeline.qs

  lazy val byName: Map[String, Q] = {
    val m = all.map(q => q.name -> q).toMap
    require(m.size == all.size, "duplicate query names in Registry")
    m
  }
}
