package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: the Spark plan plus (when SQL-expressible) the
  * DuckDB oracle the driver replays on the same parquet tables.
  *
  * Determinism contract (what makes the driver's hash compare stable):
  *   - every query ends in a total ORDER BY (tie-broken down to a unique key),
  *   - output column names are lowercase and identical to the oracle's,
  *   - output types match the oracle's (month/day cast to INT, counts BIGINT),
  *   - doubles are either summed exactly and rounded at a digit position
  *     with proven margin, or replaced by exact integer arithmetic.
  *
  * `tier` and `core` are the query's [[Bench]] policy: how it is warmed
  * and timed, and whether it counts toward `core_total` (the reference
  * surface: the t1..t10 task analogs and the events analogs).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    tier: Tier = Tier.Steady,
    core: Boolean = false)

/** How [[Bench]] warms and times a query. `stored` tiers probe a
  * ModelStore artifact that is built on the first run against a data
  * dir.
  */
sealed abstract class Tier(val stored: Boolean)

object Tier {
  /** Warmed twice at sf0.001 in the concurrent pool, then N timed runs;
    * N more when the runs disagree by more than 2x and the fastest
    * exceeds 0.3 s.
    */
  case object Steady extends Tier(stored = false)

  /** No warmup, one timed run, never widened: the query retrains a
    * model or pays a brute-force truth leg on every run, so there is
    * no steady state for best-of-N to probe.
    */
  case object Once extends Tier(stored = false)

  /** Warmed twice at sf0.001 one at a time (queries may share an
    * artifact dir), then once at the timed dir so the artifact build
    * lands outside the measurement; timed as [[Steady]].
    */
  case object Stored extends Tier(stored = true)

  /** As [[Stored]], but always 3N timed runs: the first run builds the
    * artifact, so the wide sample keeps the reported min a probe.
    */
  case object StoredWide extends Tier(stored = true)
}

object Registry {
  /** Every registered query, in SURVEY.md §2 inventory order. */
  lazy val all: Seq[Q] =
    graft.analog.CoreAnalogs.queries ++ graft.analog.ExtraAnalogs.queries ++
      graft.analog.DecontamAnalogs.queries ++
      graft.analog.SemanticAnalogs.queries ++
      graft.analog.CorpusAnalogs.queries ++
      graft.analog.QualityAnalogs.queries ++ graft.analog.WebAnalogs.queries
}
