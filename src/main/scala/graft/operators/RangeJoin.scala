package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range (interval) join via time binning — the scale-safe form of
  * `probe.ts BETWEEN w.start AND w.end`. A naive θ-join on the range
  * predicate degenerates to broadcast-nested-loop (quadratic per key);
  * here both sides are hashed into fixed-width bins of the time axis, the
  * window side replicated to every bin it overlaps, and the θ-condition
  * becomes a shuffled **equi-join** on (key, bin) plus a residual filter.
  * With bin width >= the max window length each window lands in at most
  * ceil(len/bin)+1 bins, so replication is bounded and the shuffle
  * partitions by (key, bin) — skew on hot keys is spread across bins and
  * AQE's skew-join splitter handles the rest.
  *
  * Reference analogue: the audio->video temporal alignment is a range
  * lookup of feature timestamps into frame intervals
  * (`dpl/wav2vec/utils.py:5-21`); this operator is its relational form.
  */
object RangeJoin {

  // caller column names ride into expr() strings: backtick-quote them
  // (with the standard doubled-backtick escape) so names carrying dots,
  // spaces or hyphens parse as one identifier instead of failing or
  // resolving a different column
  private def bq(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** Join probe rows (keyed, instant `tsCol`, in the same units as the
    * window bounds) to windows (keyed, [startCol, endCol) half-open) whose
    * interval contains the instant. All columns of both inputs survive. */
  def binnedRangeJoin(probe: DataFrame, probeKey: String, tsCol: String,
                      windows: DataFrame, winKey: String,
                      startCol: String, endCol: String,
                      binSize: Long): DataFrame = {
    require(binSize > 0, "binSize must be positive")
    // integer `div`, not floating `/`: nanosecond epochs (~1.7e18) lose
    // precision in double arithmetic
    val wb = windows.withColumn("__bin",
      explode(sequence(expr(s"${bq(startCol)} div ${binSize}L"),
        expr(s"(${bq(endCol)} - 1) div ${binSize}L"))))
    val pb = probe.withColumn("__bin", expr(s"${bq(tsCol)} div ${binSize}L"))
    // bq inside Dataset.apply too: an unquoted dotted name parses as a
    // nested-field path there, not a column
    pb.join(wb,
        pb(bq(probeKey)) === wb(bq(winKey)) && pb("__bin") === wb("__bin") &&
          pb(bq(tsCol)) >= wb(bq(startCol)) && pb(bq(tsCol)) < wb(bq(endCol)))
      .drop("__bin")
  }

  /** Interval×interval overlap join — the two-sided generalization of
    * [[binnedRangeJoin]]: emit (left, right) when the CLOSED intervals
    * [startL, endL] and [startR, endR] share a point and the keys
    * match. Both sides replicate to every bin their interval touches
    * (bounded by ceil(len/bin)+1 rows when binSize >= typical interval
    * length), and the θ-condition runs as a shuffled equi-join on
    * (key, bin) plus the residual overlap filter. An overlapping pair
    * co-occurs in EVERY bin their intervals share, so each pair is
    * emitted exactly once by the responsibility rule — only the FIRST
    * shared bin (the later of the two start bins) produces the row —
    * instead of a distinct pass over the join output (a second full
    * shuffle at scale). Column names must not collide across sides
    * (rename before calling, as with any self-join). */
  def intervalOverlapJoin(left: DataFrame, leftKey: String,
                          startL: String, endL: String,
                          right: DataFrame, rightKey: String,
                          startR: String, endR: String,
                          binSize: Long): DataFrame = {
    require(binSize > 0, "binSize must be positive")
    val lb = left
      .withColumn("__sbin_l", expr(s"${bq(startL)} div ${binSize}L"))
      .withColumn("__bin",
        explode(sequence(col("__sbin_l"), expr(s"${bq(endL)} div ${binSize}L"))))
    val rb = right
      .withColumn("__sbin_r", expr(s"${bq(startR)} div ${binSize}L"))
      .withColumn("__bin",
        explode(sequence(col("__sbin_r"), expr(s"${bq(endR)} div ${binSize}L"))))
    lb.join(rb,
        lb(bq(leftKey)) === rb(bq(rightKey)) && lb("__bin") === rb("__bin") &&
          lb(bq(startL)) <= rb(bq(endR)) && rb(bq(startR)) <= lb(bq(endL)) &&
          lb("__bin") === greatest(lb("__sbin_l"), rb("__sbin_r")))
      .drop("__bin", "__sbin_l", "__sbin_r")
  }
  /** Per-key UNION-OF-INTERVALS coverage: total covered length and
    * merged-segment count of a set of [start, end) intervals — "how much
    * wall-clock was this user/sensor/speaker actually active", the
    * de-overlapped denominator every utilization or speech-coverage
    * metric needs (a plain sum(end-start) double-counts overlaps).
    * Touching intervals (start == previous end) merge.
    *
    * The classic sweep as relational ops: per key, a running max of
    * previous ends marks segment starts (`start > max(prev ends)`), a
    * running sum numbers segments, two map-side-combining groupBys
    * collapse to per-segment extents then per-key totals. The windows
    * partition by key (bounded by one key's intervals — the sessionize
    * discipline); all integer arithmetic, engine-exact. Segment
    * structure is invariant to tie order among equal starts (a tied
    * row's predecessor has end > start, so the later tie can never open
    * a segment), so the per-key result is deterministic. */
  def intervalCoverage(df: DataFrame, keyCol: String, startCol: String,
                       endCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(startCol), col(endCol))
    val prevMax = max(col(endCol))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    df
      .withColumn("__new",
        when(prevMax.isNull || col(startCol) > prevMax, 1L).otherwise(0L))
      .withColumn("__seg", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(keyCol), col("__seg"))
      .agg(min(col(startCol)).as("__s"), max(col(endCol)).as("__e"))
      .groupBy(col(keyCol))
      .agg(sum(col("__e") - col("__s")).as("covered"),
        count(lit(1)).as("n_segments"))
  }

  /** PEAK CONCURRENCY per key — the sweep-line max-overlap statistic
    * ([[intervalCoverage]] answers "how much time was covered",
    * this answers "how many intervals were open AT ONCE at the
    * worst moment"): capacity planning (peak open shipments per
    * supplier, peak concurrent sessions per host, peak in-flight
    * transcodes per worker). Half-open [start, end) semantics: an
    * interval ending at p and one starting at p never overlap —
    * closes apply before opens at an equal boundary, which the
    * (point, delta ASC) sort encodes (delta −1 < +1).
    *
    * Exact integer sweep: each interval emits (+1 at start, −1 at
    * end), the per-key running sum over the boundary sequence is the
    * live count, and the peak plus its EARLIEST onset fall out of one
    * more aggregation. The windows partition by key (bounded by one
    * key's intervals — the sessionize discipline); engine-exact.
    * Zero-length intervals (start >= end) are rejected up front.
    * Output: (key, peak, peak_at). */
  def peakConcurrency(df: DataFrame, keyCol: String, startCol: String,
                      endCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pin the projected input ONCE: the guard observes exactly the rows
    // the checkpoint materializes and the sweep reads — a
    // non-deterministic or concurrently-mutated source can no longer
    // pass the check yet feed different intervals to the sweep (the
    // Contracts.checkpoint discipline the rest of the module uses); NULL
    // boundaries are rejected in the same job (a NULL start or end
    // would silently vanish from the half-open comparison)
    val (iv, _) = Contracts.checkpoint(
      df.select(col(keyCol), col(startCol).as("__s"),
        col(endCol).as("__e")),
      Contracts.Bound(sum(when(col("__s").isNull || col("__e").isNull ||
        col("__s") >= col("__e"), 1L).otherwise(0L)), _ == 0L, b =>
        s"peakConcurrency: $b intervals with NULL boundaries or " +
          "start >= end (half-open [start, end) needs start < end) — " +
          "filter or repair first"))
    val pts = iv.select(col(keyCol), col("__s").as("__p"),
        lit(1L).as("__d"))
      .unionByName(iv.select(col(keyCol), col("__e").as("__p"),
        lit(-1L).as("__d")))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__p"), col("__d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    pts
      .withColumn("__live", sum(col("__d")).over(w))
      .groupBy(col(keyCol))
      .agg(max(col("__live")).as("peak"),
        min_by(col("__p"), struct((-col("__live")).as("n"),
          col("__p").as("p"))).as("peak_at"))
  }
}
