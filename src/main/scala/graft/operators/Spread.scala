package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Scale-adaptive fan-out repartition for work-amplifying stages
  * (optimization guide §2.5 "input skew: one huge unsplittable file" /
  * §6 input split sizing).
  *
  * The problem it fixes: an operator whose FIRST stage multiplies work
  * per input row — a pair join (n rows → n² pairs), a d²-cell
  * pair-explode, an n-gram explode, per-row text kernels — inherits the
  * scan's partitioning. A small input table (one parquet file, one row
  * group) scans as ONE partition, so the whole amplified stage runs on
  * one core no matter how many the session has. At production scale the
  * scan arrives already split into many partitions and nothing should
  * move; the fix must therefore be conditional, not a constant.
  *
  * `fanOut` round-robin-repartitions up to the session's default
  * parallelism ONLY when the frame currently has fewer partitions —
  * at scale (partitions ≥ cores) it is the identity and costs nothing.
  * Round-robin repartition is deterministic under retries (Spark sorts
  * before round-robin, SPARK-23207) and every downstream consumer here
  * is partitioning-agnostic (equi-joins, commutative aggregates,
  * partial-combining top-k), so results are bit-identical.
  *
  * The precondition ("call it on frames whose physical partitioning is
  * already decided — a scan, a localCheckpoint, a staged fixture") is
  * ENFORCED, not documented: the narrowness probe
  * (`.rdd.getNumPartitions`) only runs when the analyzed plan is narrow
  * transforms over such a leaf — on any other shape (pending shuffles,
  * whose RDD materialization under AQE would eagerly EXECUTE those
  * stages and then discard the work) fanOut is the identity. A
  * post-shuffle frame is `spark.sql.shuffle.partitions` wide already,
  * so identity is also the right answer there.
  */
private[graft] object Spread {

  /** The probe may only run on plans that are narrow (exchange-free)
    * transforms over a materialized/leaf source: building such a plan's
    * RDD is pure planning (~50–100 ms), never stage execution. */
  private def probeSafe(plan: LogicalPlan): Boolean = plan match {
    case p: Project       => probeSafe(p.child)
    case f: Filter        => probeSafe(f.child)
    case s: SubqueryAlias => probeSafe(s.child)
    case g: Generate      => probeSafe(g.child)
    case _: LogicalRDD | _: LocalRelation | _: Range => true
    case _: LogicalRelation => true
    case _ => false
  }

  // The probe costs ~50-100 ms of planning per call, which adds up in
  // gates that fan out several inputs and in the bench's repeated
  // sweeps. The answer is a pure function of the (immutable) source
  // layout, so cache it per (session, canonicalized logical plan):
  // the outer map weakly references the session (a closed session's
  // entries become collectable), the inner map keys on the full
  // canonicalized plan (structural equality — probe-safe plans are
  // leaf-ish and small) and is cleared wholesale past a bound rather
  // than growing without limit over a long-lived JVM.
  private val decisions =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[LogicalPlan, java.lang.Boolean]]()

  private val maxCachedPlans = 1024

  private def cacheFor(session: SparkSession) = decisions.synchronized {
    var m = decisions.get(session)
    if (m == null) {
      m = new java.util.concurrent.ConcurrentHashMap[LogicalPlan, java.lang.Boolean]()
      decisions.put(session, m)
    }
    m
  }

  def fanOut(df: DataFrame): DataFrame = fanOut(df, df)

  /** `fanOut` of `df`, decided on `layout`: the frame `df` is a narrow,
    * layout-preserving transform of. Probing `layout` instead of `df`
    * keeps the probe away from an `observe` placed in `df` — building an
    * observed frame's RDD fills its `Observation` with an empty result. */
  def fanOut(df: DataFrame, layout: DataFrame): DataFrame = {
    val p = layout.sparkSession.sparkContext.defaultParallelism
    val plan = layout.queryExecution.analyzed
    if (!probeSafe(plan)) df
    else {
      val cache = cacheFor(layout.sparkSession)
      val key = plan.canonicalized
      // probe OUTSIDE the map (get, then putIfAbsent): computeIfAbsent
      // would hold the bin lock across the Spark probe and serialize
      // unrelated callers whose keys share the bin — a rare duplicate
      // probe is cheaper than that.
      var narrow = cache.get(key)
      if (narrow == null) {
        narrow = java.lang.Boolean.valueOf(layout.rdd.getNumPartitions < p)
        if (cache.size >= maxCachedPlans) cache.clear()
        cache.putIfAbsent(key, narrow)
      }
      if (narrow.booleanValue()) df.repartition(p) else df
    }
  }
}
