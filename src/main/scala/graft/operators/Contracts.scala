package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The shared fail-before-execute contract checker behind every CHECKED
  * operator bound in this package (the `connectedComponents` discipline:
  * verify the assumption, don't just document it).
  *
  * Shape: the caller hands in an (ideally already-materialized /
  * localCheckpoint'ed) frame plus one or more named long-valued
  * aggregate bounds; ONE aggregation job evaluates them all, each bound
  * predicate is enforced with a loud, operator-named message, and the
  * aggregate values come back so adaptive callers (pageRank's
  * driver-vs-distributed fork) can reuse the same job's output instead
  * of paying a second scan. Consolidating the shape keeps every future
  * checked contract to one line and one job — previously each operator
  * grew a slightly different eager-check idiom.
  *
  * One pass per operator: an operator that checkpoints the frame it
  * guards hands its leading global bounds to [[checkpoint]], which
  * evaluates them on the `localCheckpoint` job itself through an
  * `Observation` and judges them before it returns the frame — no
  * second job over the same rows. Several bounds over one frame, or
  * over one per-key grouping of it, go into ONE [[enforce]]: group by
  * the key once and state the global stats as per-key partials (sum of
  * sums, max of maxes), in the original bound order, so the first
  * failing bound still throws the same message. Never fold a bound into
  * a pass behind an eager step it guards, nor next to a stat that can
  * raise an ANSI error on rows an earlier bound rejects. `observe`
  * rejects DISTINCT aggregates; such bounds stay on [[enforce]].
  */
private[graft] object Contracts {

  /** One long-valued aggregate bound: `stat` is evaluated over the
    * guarded frame, `ok` judges it, `msg` names the violation. A NULL
    * aggregate (empty input) passes vacuously and reads back as 0. */
  final case class Bound(stat: Column, ok: Long => Boolean,
                         msg: Long => String)

  /** An unchecked read-through: the aggregate is evaluated in the same
    * single job (for caller reuse) but never rejected. */
  def read(stat: Column): Bound = Bound(stat, _ => true, _ => "")

  /** Evaluates every bound's aggregate over `df` in ONE job, enforces
    * each predicate (fail-before-execute), and returns the values in
    * bound order (NULL cells read as 0 after passing vacuously). */
  def enforce(df: DataFrame, bounds: Bound*): IndexedSeq[Long] = {
    require(bounds.nonEmpty, "Contracts.enforce needs at least one bound")
    val row = df.agg(bounds.head.stat, bounds.tail.map(_.stat): _*).head()
    judge(bounds, i => if (row.isNullAt(i)) None else Some(row.getLong(i)))
  }

  /** `df.localCheckpoint()` whose job also evaluates the global `bounds`
    * over the checkpointed rows, through an `Observation` on that same
    * job. Each predicate is judged in bound order before the frame is
    * returned; a missing metric (an input the optimizer proved empty)
    * or a NULL one reads as 0, as in [[enforce]]. Returns the
    * checkpointed frame and the values in bound order. */
  def checkpoint(df: DataFrame, bounds: Bound*): (DataFrame, IndexedSeq[Long]) = {
    require(bounds.nonEmpty, "Contracts.checkpoint needs at least one bound")
    val obs = Observation()
    val stats = bounds.indices.map(i => bounds(i).stat.as(s"__b$i"))
    val done = df.observe(obs, stats.head, stats.tail: _*).localCheckpoint()
    val metrics = obs.get
    (done, judge(bounds, i =>
      metrics.get(s"__b$i").flatMap(Option(_)).map(_.asInstanceOf[Long])))
  }

  /** The values of `bounds` in order, each judged as it is read: the
    * first failing predicate throws its message. */
  private def judge(bounds: Seq[Bound], value: Int => Option[Long]): IndexedSeq[Long] =
    bounds.indices.map { i =>
      value(i).fold(0L) { v =>
        require(bounds(i).ok(v), bounds(i).msg(v))
        v
      }
    }

  /** The bounded-per-key-histogram bound: `stat`, the heaviest key's
    * size, must be at most `limit`. [[boundedPerKey]] and the fused
    * per-key passes share this message. */
  def perKey(stat: Column, limit: Long, op: String, what: String,
             hint: String, contract: String = "bounded-histogram"): Bound =
    Bound(stat, _ <= limit, m =>
      s"$op: a key holds $m $what, exceeding the $contract " +
        s"contract (limit=$limit). $hint")

  /** The bounded-per-key-histogram contract shared by the exact
    * median / CDF / KS / mode family: the heaviest key of `df` (usually
    * a localCheckpoint'ed per-(key, value) histogram, so the guard
    * reuses materialized rows) must hold at most `limit` rows. `what`
    * names the bounded quantity in the error ("distinct values",
    * "rows"); `hint` points the caller at the turnkey alternative. */
  def boundedPerKey(df: DataFrame, keyCol: String, limit: Long, op: String,
                    what: String, hint: String,
                    contract: String = "bounded-histogram"): Long =
    boundedPerKeyWithCount(df, keyCol, limit, op, what, hint, contract)._1

  /** [[boundedPerKey]] variant that ALSO returns the distinct key count
    * from the SAME single aggregation job — for callers whose final
    * query would otherwise pay a second distinct-count pass over the
    * same rows just to learn it (the q208/q214 basket total).
    * Returns (maxPerKey, nKeys). */
  def boundedPerKeyWithCount(df: DataFrame, keyCol: String, limit: Long,
                             op: String, what: String, hint: String,
                             contract: String = "bounded-histogram"): (Long, Long) = {
    val r = enforce(df.groupBy(col(keyCol)).agg(count(lit(1)).as("__k")),
      perKey(max(col("__k")), limit, op, what, hint, contract),
      read(count(lit(1))))
    (r(0), r(1))
  }
}
