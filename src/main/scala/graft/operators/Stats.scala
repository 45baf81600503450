package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-scale evaluation / statistics operators.
  *
  * Every operator here reduces data-sized inputs to EXACT integer
  * sufficient statistics before any floating-point math, so results are
  * engine-exact (one or two IEEE ops over int64 values at the very end)
  * and the shuffled volume is bounded by group/score/state cardinality,
  * never row count.
  */
object Stats {

  /** ROC-AUC of an integer score column against a boolean label, computed
    * exactly from the SCORE HISTOGRAM — the Mann–Whitney U statistic with
    * midrank tie handling, kept integral by doubling:
    *
    *   U2  = Σ_s  nPos(s) · (2·cumNegBelow(s) + nNeg(s))
    *   AUC = U2 / (2 · nPos · nNeg)
    *
    * (each positive beats every lower-scored negative once and splits
    * ties in half — the 2· keeps the tie term integral, so U2 is an
    * exact long and the single final division is the only floating-point
    * op).
    *
    * This is how classifier evaluation survives corpus scale: the rows
    * collapse to one map-side-combining groupBy(score) — the shuffle
    * carries per-score (nPos, nNeg) pairs, bounded by SCORE RESOLUTION
    * (micro-quantized scores: at most ~1e6 distinct values, typically far
    * fewer), never corpus size. The cumulative pass runs on that bounded
    * histogram (an unpartitioned running-sum window — single partition by
    * design, sized by score cardinality, the sources×bins collect
    * discipline), and a global sort of raw scores never happens.
    *
    * Output: one row (n_pos, n_neg, u2, auc). AUC follows the usual
    * convention: 1.0 = scores perfectly rank positives above negatives,
    * 0.5 = no signal.
    *
    * The bounded-score contract is CHECKED, not just documented (the
    * `connectedComponents` discipline): the histogram is materialized
    * and counted BEFORE the single-partition cumulative window can run,
    * so a continuous score column (histogram ≈ row count — the window
    * degenerates into a global sort) fails loudly at plan-build time
    * with a pointer to the sketch-quantile path instead of melting an
    * executor. Raise `maxDistinctScores` only with a deliberate
    * quantization argument.
    */
  def rankAuc(df: DataFrame, scoreCol: String, labelCol: String,
              maxDistinctScores: Long = 2000000L): DataFrame = {
    // U2 ≤ 2n² must stay int64-exact: CHECKED row bound in the same
    // sizing job (n ≤ 2e9 keeps 2n² ≤ 8e18)
    val (hist, _) = Contracts.checkpoint(scoreHist(df, scoreCol, labelCol),
      Contracts.Bound(
      sum(col("np") + col("nn")), _ <= 2000000000L, n =>
        s"rankAuc: $n rows exceed the exact-U2 int64 contract " +
          "(n <= 2e9 keeps U2 <= 2n^2 exact) — sample the scored rows " +
          "or stratify by source first"),
      Contracts.Bound(count(lit(1)),
      _ <= maxDistinctScores, n =>
        s"rankAuc: $n distinct scores exceeds the bounded-histogram " +
          s"contract (maxDistinctScores=$maxDistinctScores). Quantize the " +
          "score column (e.g. micro-units), or use the mergeable rank " +
          "sketch (rq_sketch / rq_quantile, q192 path) or the sketch " +
          "quantiles (Sketches, q66 path) for continuous scores."))
    val below = Window.orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("below", coalesce(sum(col("nn")).over(below), lit(0L)))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("np") * (lit(2L) * col("below") + col("nn"))).as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        (col("u2").cast("double") /
          (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"))
  }

  /** The lazy per-score (nPos, nNeg) histogram behind [[rankAuc]] — kept
    * separate so PlanAuditSpec can still pin its map-side-combining
    * shape (the checked guard in rankAuc materializes it, which hides
    * the aggregation from the serving plan). */
  private[graft] def scoreHist(df: DataFrame, scoreCol: String,
                               labelCol: String): DataFrame =
    df.groupBy(col(scoreCol).as("__s"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("np"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("nn"))

  /** PER-GROUP ROC-AUC — [[rankAuc]] evaluated independently for every
    * key (per-source / per-language / per-segment classifier quality:
    * a global AUC hides a source where the classifier is blind). Same
    * exact Mann–Whitney construction: per-(key, score) (nPos, nNeg)
    * histogram (map-side combining, shuffle bounded by key×score
    * cardinality), the cumulative-negatives window partitioned BY KEY
    * (never the single-partition global window [[rankAuc]] is allowed
    * because its histogram is one bounded table), U2 exact with
    * midrank-tie doubling, ONE division per key. Same CHECKED
    * bounded-histogram contract. Keys missing a label class drop
    * (AUC undefined). Output: (key, n_pos, n_neg, u2, auc). */
  def rankAucByKey(df: DataFrame, keyCol: String, scoreCol: String,
                   labelCol: String,
                   maxDistinctPerKey: Long = 2000000L): DataFrame = {
    val hist = df.groupBy(col(keyCol), col(scoreCol).as("__s"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("np"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("nn"))
      .localCheckpoint()
    // per-key U2 ≤ 2n² must stay int64-exact (the rankAuc contract,
    // applied per key on the already-materialized histogram)
    Contracts.enforce(
      hist.groupBy(col(keyCol)).agg(count(lit(1)).as("__k"),
        sum(col("np") + col("nn")).as("__n")),
      distinctPerKey(max(col("__k")), maxDistinctPerKey, "rankAucByKey"),
      Contracts.Bound(max(col("__n")), _ <= 2000000000L, n =>
        s"rankAucByKey: a key holds $n rows, exceeding the exact-U2 " +
          "int64 contract (n <= 2e9 per key keeps U2 <= 2n^2 exact) — " +
          "sample the scored rows per key first"))
    val below = Window.partitionBy(col(keyCol)).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("below", coalesce(sum(col("nn")).over(below), lit(0L)))
      .groupBy(col(keyCol))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("np") * (lit(2L) * col("below") + col("nn"))).as("u2"))
      .where(col("n_pos") > 0L && col("n_neg") > 0L)
      .select(col(keyCol), col("n_pos"), col("n_neg"), col("u2"),
        (col("u2").cast("double") /
          (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"))
  }

  /** PRECISION–RECALL THRESHOLD SWEEP per key — the operating-curve
    * companion of [[rankAucByKey]] (AUC ranks the classifier, this
    * picks its cutoff): for every distinct score t, classify
    * score ≥ t positive and report the exact confusion counts with
    * precision / recall / F1 — per source or language, because the
    * threshold that curates one slice well can gut another.
    *
    * Same machinery and contracts as rankAucByKey: a per-(key, score)
    * histogram (map-side combining, CHECKED ≤ maxDistinctPerKey —
    * quantize continuous scores first), ONE descending cumulative
    * window partitioned by key for TP(t)/PP(t), total positives from
    * the same pass; counts exact longs, the three ratios fixed-shape
    * IEEE divisions (F1 = 2TP/(2TP+FP+FN) — one division, never a
    * harmonic mean of already-rounded ratios). NULL score/label rows
    * are rejected loudly; keys with zero positives drop (recall
    * undefined). Output: (key, threshold, tp, fp, fn, precision,
    * recall, f1), one row per distinct per-key score. */
  def prCurve(df: DataFrame, keyCol: String, scoreCol: String,
              labelCol: String,
              maxDistinctPerKey: Long = 2000000L): DataFrame =
    prCurveFromHist(prHist(df, keyCol, scoreCol, labelCol, "prCurve"),
      keyCol, maxDistinctPerKey)

  /** The validated per-(key, score) (np, nw) histogram behind
    * [[prCurve]] — NULL-checked in the same aggregation; exposed so
    * the streaming maintainer folds the SAME shape the batch operator
    * consumes. */
  private[graft] def prHist(df: DataFrame, keyCol: String,
                            scoreCol: String, labelCol: String,
                            op: String): DataFrame = {
    val (hist, _) = Contracts.checkpoint(df
      .groupBy(col(keyCol), col(scoreCol).cast("long").as("__s"))
      .agg(sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
        .as("np"),
        count(lit(1)).as("nw"),
        sum(when(col(scoreCol).isNull || col(labelCol).isNull, 1L)
          .otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L,
      b => s"$op: $b NULL score/label rows — every row needs a " +
        "score and a label; filter explicitly first"))
    hist.drop("__bad")
  }

  /** Serve [[prCurve]] from an already-folded histogram — the shared
    * tail the batch operator and [[graft.streaming.Streaming.PrCurveMaintainer]]
    * both read, so streamed == batch is structural. */
  private[graft] def prCurveFromHist(hist: DataFrame, keyCol: String,
                                     maxDistinctPerKey: Long): DataFrame = {
    requireBoundedPerKey(hist, keyCol, maxDistinctPerKey, "prCurve")
    val atOrAbove = Window.partitionBy(col(keyCol))
      .orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val whole = Window.partitionBy(col(keyCol))
    hist
      .select(col(keyCol), col("__s").as("threshold"),
        sum(col("np")).over(atOrAbove).as("tp"),
        sum(col("nw")).over(atOrAbove).as("__pp"),
        sum(col("np")).over(whole).as("__pos"))
      .where(col("__pos") > 0L)
      .select(col(keyCol), col("threshold"), col("tp"),
        (col("__pp") - col("tp")).as("fp"),
        (col("__pos") - col("tp")).as("fn"),
        (col("tp").cast("double") / col("__pp").cast("double"))
          .as("precision"),
        (col("tp").cast("double") / col("__pos").cast("double"))
          .as("recall"),
        ((lit(2L) * col("tp")).cast("double") /
          (col("__pp") + col("__pos")).cast("double")).as("f1"))
  }

  /** TWO-PROPORTION z-test per group: is side A's hit rate different
    * from side B's — the A/B conversion-rate significance primitive
    * (and the cohort-vs-cohort quality-pass-rate comparison):
    *
    *   z = (p̂a − p̂b) / √( p̂·(1−p̂)·(1/na + 1/nb) ),  p̂ pooled
    *
    * All four cells (na, xa, nb, xb) reduce to ONE map-side-combining
    * aggregation of exact longs (four longs per key cross the
    * shuffle); the z tail is a fixed shape of IEEE divisions and one
    * sqrt over them — engine-exact. Degenerate pools (p̂ = 0 or 1 —
    * zero variance) and keys missing a side report NaN/drop.
    * Output: (key, n_a, x_a, n_b, x_b, p_a, p_b, z). */
  def twoProportionZ(df: DataFrame, keyCol: String, sideCol: String,
                     hitCol: String): DataFrame = {
    val side = col(sideCol).cast("boolean")
    val hit = col(hitCol).cast("boolean")
    // a NULL side would silently drop the row from BOTH cohorts and a
    // NULL hit would silently count as a miss — validated in the SAME
    // aggregation as the four cells via a raise_error branch, so the
    // checked contract costs zero extra jobs (the lazy twin of the
    // eager Contracts guards)
    val agg = df.groupBy(col(keyCol))
      .agg(sum(when(side, 1L).otherwise(0L)).as("n_a"),
        sum(when(side && hit, 1L).otherwise(0L)).as("x_a"),
        sum(when(!side, 1L).otherwise(0L)).as("n_b"),
        sum(when(!side && hit, 1L).otherwise(0L)).as("x_b"),
        sum(when(side.isNull || hit.isNull, 1L).otherwise(0L)).as("__bad"))
      .where(when(col("__bad") > 0L,
        raise_error(concat(
          lit("twoProportionZ: NULL side/hit rows under key "),
          col(keyCol).cast("string"),
          lit(" — assign every row a cohort and an outcome, or filter " +
            "explicitly before calling"))).isNotNull)
        .otherwise(lit(true)))
      .where(col("n_a") > 0L && col("n_b") > 0L)
    twoProportionZFromCells(agg, keyCol)
  }

  /** The z-tail of [[twoProportionZ]] over an already-reduced cells
    * table (key, n_a, x_a, n_b, x_b) — factored out so the STREAMED
    * cell state ([[graft.streaming.Streaming.streamingAbCells]]) serves
    * the identical fixed IEEE shape: parity between the live monitor
    * and the batch readout is then structural, not coincidental. Keys
    * missing an arm drop here too (idempotent on batch output). */
  def twoProportionZFromCells(cells: DataFrame, keyCol: String): DataFrame = {
    val pa = col("x_a").cast("double") / col("n_a").cast("double")
    val pb = col("x_b").cast("double") / col("n_b").cast("double")
    val pool = (col("x_a") + col("x_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    cells
      .where(col("n_a") > 0L && col("n_b") > 0L)
      .select(col(keyCol), col("n_a"), col("x_a"), col("n_b"), col("x_b"),
      pa.as("p_a"), pb.as("p_b"),
      // pooled rate 0 or 1: zero variance -> explicit NaN (ANSI parity)
      when(col("x_a") + col("x_b") === 0L ||
        col("x_a") + col("x_b") === col("n_a") + col("n_b"),
        lit(Double.NaN)).otherwise(
        (pa - pb) / sqrt(pool * (lit(1.0) - pool) *
          (lit(1.0) / col("n_a").cast("double")
            + lit(1.0) / col("n_b").cast("double")))).as("z"))
  }

  /** Per-group ordinary-least-squares trend (y = slope·x + intercept)
    * from integer sufficient statistics: ONE map-side-combining
    * aggregation collects (n, Σx, Σy, Σxy, Σx²) as exact longs per
    * group, then
    *
    *   slope     = (n·Σxy − Σx·Σy) / (n·Σx² − Σx·Σx)
    *   intercept = (Σy − slope·Σx) / n
    *
    * with numerator and denominator formed in decimal(38,0) — exact
    * integers to 10³⁸, no silent int64 wrap, no ANSI mid-query throw
    * (the pearsonByKey discipline) — and ONE division each; the
    * intercept reuses the already-divided slope (mirrorable op order,
    * engine-exact on identical doubles vs a HUGEINT-summing oracle).
    * The decimal envelope (n²·B² ≤ 10³⁸, B = max(|x|, |y|)) is
    * CHECKED in the SAME aggregation: the max magnitude rides beside
    * the sums and a raise_error branch rejects any key with
    * n·B > 10¹⁸ (margin 10×) — zero extra jobs. Groups with zero
    * x-variance (all observations at one x) have no defined slope and
    * are dropped.
    *
    * The classic decomposable-aggregation shape: six values per group
    * cross the shuffle regardless of group size — per-entity drift/trend
    * extraction (sensor drift, user spend trajectory, QPS growth) at any
    * scale.
    */
  def groupOls(df: DataFrame, keyCol: String, xCol: String,
               yCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    val xD = x.cast("decimal(38,0)")
    val yD = y.cast("decimal(38,0)")
    // an OLS observation needs BOTH coordinates: a row with a NULL x or
    // y drops here, explicitly — otherwise count(1) would keep it in n
    // while the NULL-skipping sums lose it, silently skewing the fit
    val agg = df.where(x.isNotNull && y.isNotNull).groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(xD).as("sx"), sum(yD).as("sy"),
        sum(xD * yD).as("sxy"), sum(xD * xD).as("sxx"),
        greatest(max(abs(x)), max(abs(y))).as("__m"))
      .where(when(col("n").cast("decimal(38,0)")
          * col("__m").cast("decimal(38,0)")
          > lit("1000000000000000000").cast("decimal(38,0)"),
        raise_error(concat(
          lit("groupOls: rows x maxAbs(x, y) exceeds the decimal(38,0) " +
            "exactness contract (n*B <= 1e18) under key "),
          col(keyCol).cast("string"),
          lit(" — rescale the axes to coarser integer units"))).isNotNull)
        .otherwise(lit(true)))
    val nDec = col("n").cast("decimal(38,0)")
    val den = nDec * col("sxx") - col("sx") * col("sx")
    val slope = (nDec * col("sxy") - col("sx") * col("sy"))
      .cast("double") / den.cast("double")
    agg
      .where(den =!= 0L)
      .withColumn("slope", slope)
      .select(col(keyCol), col("n"), col("slope"),
        ((col("sy").cast("double") - col("slope") * col("sx").cast("double"))
          / col("n").cast("double")).as("intercept"))
  }

  /** First-order Markov transition matrix of a state sequence: counts
    * and exact conditional probabilities of src→dst steps, where a step
    * is two CONSECUTIVE rows inside one group (a session, a clip, a
    * device trace) — next-action prediction features, UX path analysis,
    * corpus curriculum statistics.
    *
    * The lead() window partitions by the GROUP columns, so window state
    * is bounded by the longest single group (the q30 sessionize
    * discipline — never an unpartitioned window); transition pairs then
    * collapse through one map-side-combining groupBy(src, dst), and the
    * per-src totals table (state-cardinality sized) broadcasts back.
    * The probability is one long→double cast per operand and one
    * divide — engine-exact.
    *
    * `orderCols` must totally order rows within each group or the lead
    * is nondeterministic (pass a tie-breaking id).
    */
  def markovTransitions(df: DataFrame, groupCols: Seq[String],
                        orderCols: Seq[org.apache.spark.sql.Column],
                        stateCol: String): DataFrame = {
    require(groupCols.nonEmpty, "markovTransitions needs group columns")
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(orderCols: _*)
    val pairs = df
      .withColumn("__next", lead(col(stateCol), 1).over(w))
      .where(col("__next").isNotNull)
      .groupBy(col(stateCol).as("src"), col("__next").as("dst"))
      .agg(count(lit(1)).as("cnt"))
    val totals = pairs.groupBy(col("src")).agg(sum(col("cnt")).as("total"))
    pairs.join(broadcast(totals), "src")
      .select(col("src"), col("dst"), col("cnt"),
        (col("cnt").cast("double") / col("total").cast("double")).as("prob"))
  }

  /** Time-weighted average of a piecewise-constant integer signal per
    * key (TWAP): each observation's value holds until the NEXT
    * observation, so
    *
    *   twap = Σ_i v_i · (t_{i+1} − t_i)  /  (t_last − t_first)
    *
    * — the honest mean of an irregular series (a plain AVG over-weights
    * bursts of closely-spaced points; TWAP weights by how long each
    * value was actually in force). The financial/telemetry standard.
    *
    * The weighted numerator accumulates in decimal(38,0) — each
    * value·gap product forms decimal×decimal, so a cents×micros term
    * can never silently wrap int64 (the pearsonByKey discipline) —
    * and the magnitude envelope is CHECKED in the SAME aggregation:
    * max |v| and max gap ride beside the sums and a raise_error
    * branch rejects any key whose rows·maxAbs(v)·maxGap tops 10³⁷
    * (decimal headroom, 10× margin). The single division is the only
    * float op, so the result is engine-exact. The lead() window
    * partitions by key (bounded by one key's history, the sessionize
    * discipline); the roll-up is one map-side-combining aggregation.
    * Keys with a single observation span zero time and are dropped.
    *
    * `tsCol` must be an integer time axis (epoch micros) and `orderCol`
    * a tie-breaking id for simultaneous observations (dt = 0 rows are
    * harmless but the lead must be deterministic).
    */
  def timeWeightedAvg(df: DataFrame, keyCol: String, tsCol: String,
                      orderCol: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(orderCol))
    val stepped = df
      .withColumn("__nt", lead(col(tsCol), 1).over(w))
      .where(col("__nt").isNotNull)
    val vD = col(valueCol).cast("decimal(38,0)")
    val gapD = (col("__nt") - col(tsCol)).cast("decimal(38,0)")
    stepped
      .groupBy(col(keyCol))
      .agg(sum(vD * gapD).as("wv"),
        (max(col("__nt")) - min(col(tsCol))).as("span"),
        count(lit(1)).as("__n"),
        max(abs(col(valueCol).cast("long"))).as("__mv"),
        max(col("__nt") - col(tsCol)).as("__mg"))
      .where(when(col("__n").cast("double") * col("__mv").cast("double")
          * col("__mg").cast("double") > 1e37,
        raise_error(concat(
          lit("timeWeightedAvg: rows x maxAbs(v) x maxGap exceeds the " +
            "decimal(38,0) exactness contract (n*B*G <= 1e37) under key "),
          col(keyCol).cast("string"),
          lit(" — rescale values or coarsen the time axis"))).isNotNull)
        .otherwise(lit(true)))
      .where(col("span") > 0L)
      .select(col(keyCol), col("span"),
        (col("wv").cast("double") / col("span").cast("double")).as("twap"))
  }

  /** Retention cohort table: users grouped by their FIRST-activity day
    * (the cohort), counted on each later day they return —
    * `(cohort_day, day_offset) -> distinct users` — the standard
    * product-analytics retention triangle, and the data-freshness
    * diagnostic of a crawl (how much of day-0's source set still
    * appears k days later).
    *
    * Two map-side-combining aggregations: per-user first day (one long
    * per user crosses the shuffle), then distinct (cohort, offset,
    * user) roll-up; the cohort table broadcasts back onto events. All
    * integer counts — engine-exact.
    */
  def retentionCohorts(df: DataFrame, keyCol: String,
                       dayCol: String): DataFrame = {
    val cohorts = df.groupBy(col(keyCol))
      .agg(min(col(dayCol)).as("cohort_day"))
    // plain co-partitioned join on the key (the exactGroupMadX4
    // discipline): the cohort table is ONE ROW PER DISTINCT USER —
    // row-count-sized, not cardinality-bounded — so forcing a broadcast
    // would OOM at scale; AQE still broadcasts when it actually fits
    df.select(col(keyCol), col(dayCol))
      .join(cohorts, keyCol)
      .select(col("cohort_day"),
        (col(dayCol) - col("cohort_day")).as("day_offset"), col(keyCol))
      .distinct()
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Per-group distribution moments (mean, population variance/stddev,
    * population skewness g1) from EXACT integer power sums: one
    * map-side-combining aggregation collects (n, Σx, Σx², Σx³) as
    * longs, then
    *
    *   var  = (n·Σx² − Σx²₁) / n²            (Σx²₁ = (Σx)²)
    *   skew = (n²Σx³ − 3nΣxΣx² + 2(Σx)³) / (n³·σ³)
    *
    * — five values per group cross the shuffle regardless of group
    * size, the power sums and skew numerator form in decimal(38,0)
    * (n³·B³ and (Σx)³ live far past int64 even at modest scales — the
    * pearsonByKey discipline), and the float tail is a fixed shape of
    * casts, products and one sqrt, so values are engine-exact vs a
    * HUGEINT-summing oracle. The decimal envelope (n³·B³ ≤ 10³⁸, i.e.
    * n·maxAbs(x) ≤ 4·10¹²) is CHECKED in the SAME aggregation: max |x|
    * rides beside the sums and a raise_error branch rejects violating
    * groups loudly — zero extra jobs. Zero-variance groups yield NaN
    * skew (0/0) in every engine. The distribution-drift profiling pass
    * (is this source's quality-score distribution shifting/
    * asymmetric?) at any scale.
    */
  def groupMoments(df: DataFrame, keyCol: String, xCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val xD = x.cast("decimal(38,0)")
    // NULL observations drop explicitly: n must count exactly the rows
    // the NULL-skipping power sums saw, or mean/variance/skew silently
    // disagree with each other on dirty input
    val agg = df.where(x.isNotNull).groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(xD).as("s1"),
        sum(xD * xD).as("s2"), sum((xD * xD) * xD).as("s3"),
        max(abs(x)).as("__m"))
      .where(when(col("n").cast("double") * col("__m").cast("double")
          > 4e12,
        raise_error(concat(
          lit("groupMoments: rows x maxAbs(x) exceeds the decimal(38,0) " +
            "exactness contract (n*B <= 4e12 keeps n^3*B^3 <= 1e38) " +
            "under key "),
          col(keyCol).cast("string"),
          lit(" — rescale the metric to coarser integer units"))).isNotNull)
        .otherwise(lit(true)))
    val nD = col("n").cast("double")
    val nDec = col("n").cast("decimal(38,0)")
    agg
      .withColumn("mean", col("s1").cast("double") / nD)
      .withColumn("variance",
        (nDec * col("s2") - col("s1") * col("s1")).cast("double")
          / (nD * nD))
      .withColumn("std", sqrt(col("variance")))
      .select(col(keyCol), col("n"), col("mean"), col("variance"), col("std"),
        // zero variance -> no shape: explicit NaN (ANSI Spark raises on
        // the 0/0 double division DuckDB would fold to NaN)
        when(col("std") === 0.0, lit(Double.NaN)).otherwise(
          (nDec * nDec * col("s3")
            - lit(3L).cast("decimal(38,0)") * nDec * col("s1") * col("s2")
            + lit(2L).cast("decimal(38,0)") * col("s1") * col("s1")
              * col("s1")).cast("double")
            / (nD * nD * nD * col("std") * col("std") * col("std")))
          .as("skew"))
  }

  /** Trailing-window active entities (the DAU/WAU/MAU family): for each
    * day, the count of distinct keys seen in the trailing `windowDays`
    * days (inclusive). Exact — no sketch — via the replication trick:
    * each distinct (key, day) contributes itself to days
    * d..d+windowDays−1, so the count is a plain groupBy after a BOUNDED
    * ×windowDays explode of the distinct-activity table (already
    * collapsed to one row per key-day, NOT per event). Never a sliding
    * window over raw events, never per-day set state. Days beyond the
    * stream's last day are clipped; days with no active key in the
    * window don't appear (inner semantics). */
  def trailingActives(df: DataFrame, keyCol: String, dayCol: String,
                      windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val activity = df.select(col(keyCol), col(dayCol).cast("long").as("__d"))
      .distinct()
    // the clip bound joins in as a ONE-ROW aggregate (broadcast nested
    // loop) instead of an eager .head(): the whole operator stays lazy,
    // one fewer job per call, and an EMPTY input falls out naturally as
    // an empty cross join — no null-cell NPE branch needed
    val bound = activity.agg(max(col("__d")).as("__maxd"))
    activity.crossJoin(bound)
      .select(col(keyCol),
        explode(sequence(col("__d"),
          least(col("__d") + lit(windowDays - 1L), col("__maxd")))).as("day"))
      .distinct()
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** EXACT exponentially-decayed popularity per key: each event aged
    * `age` days (relative to the stream's newest day) weighs
    * 2^(horizon − age), events older than `horizon` days weigh 0, and
    *
    *   score = Σ weights / 2^horizon   ∈ (0, n]
    *
    * — the freshness-weighted ranking (trending sources, recency-biased
    * sampling quotas) with NO floating-point accumulation: powers of
    * two make the decay EXACT in int64 (a multiplicative 0.97^age decay
    * cannot be summed exactly in any order-independent way), the sum is
    * an order-independent long total, and the single final division by
    * a power of two is lossless in IEEE — engine-exact by construction.
    * Per-day halving; choose coarser decay by bucketing dayCol first.
    *
    * Scale: the newest-day bound rides a one-row cross join (lazy — the
    * [[trailingActives]] discipline), weights are computed row-local
    * (variable shiftleft), and ONE map-side-combining groupBy(key)
    * carries two longs per key. `horizon` ≤ 62 keeps 2^horizon in
    * int64; the Σ ≤ 2^horizon · rows int64 envelope is CHECKED in the
    * SAME aggregation (a raise_error branch on the per-key event
    * count — horizon 30 leaves room for 8 billion same-day events per
    * key before it fires), not documented. */
  def decayedCounts(df: DataFrame, keyCol: String, dayCol: String,
                    horizonDays: Int): DataFrame = {
    require(horizonDays >= 0 && horizonDays <= 62,
      s"horizonDays must be in [0, 62], got $horizonDays")
    // exact per-key capacity: n·2^horizon ≤ Long.MaxValue
    val maxRowsPerKey = Long.MaxValue >> horizonDays
    val ev = df.select(col(keyCol), col(dayCol).cast("long").as("__d"))
    val bound = ev.agg(max(col("__d")).as("__maxd"))
    ev.crossJoin(bound)
      .withColumn("__age", col("__maxd") - col("__d"))
      .withColumn("__w",
        when(col("__age") <= horizonDays,
          expr(s"shiftleft(1L, cast(${horizonDays}L - __age as int))"))
          .otherwise(lit(0L)))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col("__w")).as("decayed"))
      .where(when(col("n_events") > maxRowsPerKey,
        raise_error(concat(
          lit("decayedCounts: "), col("n_events").cast("string"),
          lit(s" events under key "), col(keyCol).cast("string"),
          lit(s" exceed the int64 weight-sum capacity " +
            s"($maxRowsPerKey at horizon $horizonDays) — bucket days " +
            "coarser or lower the horizon"))).isNotNull)
        .otherwise(lit(true)))
      .withColumn("score",
        col("decayed").cast("double") / lit(math.pow(2.0, horizonDays)))
  }

  /** EXACT per-group median of an integer column, reported DOUBLED
    * (lower middle + upper middle) so the even-count midpoint stays an
    * integer — no floating point anywhere, engine-exact by
    * construction (2·median is lo+hi in every engine's interpolating
    * definition).
    *
    * Shape: rows collapse to a per-group VALUE HISTOGRAM (one
    * map-side-combining groupBy — the shuffle carries (group, value,
    * count) rows bounded by value cardinality, never row count), a
    * cumulative window runs per group over that bounded histogram, and
    * the two middle order statistics are picked with conditional sums.
    * The exact-median twin of the q66 sketch quantiles: use this when
    * values are discrete (cents, token counts) and exactness matters;
    * the sketch when they're continuous. The discreteness assumption is
    * CHECKED (per-key distinct-value bound, fails loudly), not just
    * documented. */
  def exactGroupMedianX2(df: DataFrame, keyCol: String, xCol: String,
                         maxDistinctPerKey: Long = 2000000L): DataFrame = {
    val hist = df.groupBy(col(keyCol), col(xCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c")).localCheckpoint()
    requireBoundedPerKey(hist, keyCol, maxDistinctPerKey,
      "exactGroupMedianX2")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__n", sum(col("__c"))
        .over(Window.partitionBy(col(keyCol))))
    // 1-based middle ranks (integer division — `/` on longs is double)
    val k1 = expr("(__n + 1) div 2")
    val k2 = expr("(__n + 2) div 2")
    cum
      .groupBy(col(keyCol))
      .agg(first(col("__n")).as("n"),
        sum(when(col("__cum") - col("__c") < k1 && k1 <= col("__cum"),
          col("__v")).otherwise(0L)).as("__lo"),
        sum(when(col("__cum") - col("__c") < k2 && k2 <= col("__cum"),
          col("__v")).otherwise(0L)).as("__hi"))
      .select(col(keyCol), col("n"),
        (col("__lo") + col("__hi")).as("median_x2"))
  }

  /** WEIGHTED exact per-group median, doubled to stay integral — the
    * order statistic where each row counts `wCol` times (token-weighted
    * document medians, duration-weighted session medians): lo = the
    * smallest v with 2·cumW(v) >= W, hi = the smallest v with
    * 2·cumW(v) > W, output lo+hi (reduces exactly to
    * [[exactGroupMedianX2]] at w = 1). Same shape and CHECKED
    * bounded-histogram contract: rows collapse to a per-(group, value)
    * WEIGHT histogram (map-side combining — the shuffle carries weight
    * sums bounded by value cardinality), the cumulative window runs
    * over that bounded histogram, and both middle picks are conditional
    * sums. Weights must be >= 0; groups with zero total weight drop. */
  def exactGroupWeightedMedianX2(df: DataFrame, keyCol: String,
                                 xCol: String, wCol: String,
                                 maxDistinctPerKey: Long = 2000000L): DataFrame = {
    val hist = df.groupBy(col(keyCol), col(xCol).cast("long").as("__v"))
      .agg(sum(col(wCol).cast("long")).as("__c")).localCheckpoint()
    // a negative weight breaks cumW monotonicity and silently corrupts
    // the order statistic — check on the materialized histogram (the
    // pageRank w-contract discipline: validate, don't document)
    Contracts.enforce(
      hist.groupBy(col(keyCol))
        .agg(count(lit(1)).as("__k"), min(col("__c")).as("__m")),
      distinctPerKey(max(col("__k")), maxDistinctPerKey,
        "exactGroupWeightedMedianX2"),
      Contracts.Bound(min(col("__m")), _ >= 0L, _ =>
        "exactGroupWeightedMedianX2 requires non-negative weights"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    hist
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__W", sum(col("__c"))
        .over(Window.partitionBy(col(keyCol))))
      .where(col("__W") > 0L)
      .groupBy(col(keyCol))
      .agg(first(col("__W")).as("w_total"),
        sum(when(lit(2L) * (col("__cum") - col("__c")) < col("__W") &&
          col("__W") <= lit(2L) * col("__cum"), col("__v")).otherwise(0L))
          .as("__lo"),
        sum(when(lit(2L) * (col("__cum") - col("__c")) <= col("__W") &&
          col("__W") < lit(2L) * col("__cum"), col("__v")).otherwise(0L))
          .as("__hi"))
      .select(col(keyCol), col("w_total"),
        (col("__lo") + col("__hi")).as("wmedian_x2"))
  }

  /** EXACT per-group median absolute deviation, ×4 to stay integral:
    * dev_i = |2·x_i − median_x2| is twice the absolute deviation (an
    * integer), and its doubled median is 4·MAD — so the whole robust
    * location+scale pair (median, MAD) computes with NO floating point
    * at all. Two [[exactGroupMedianX2]] passes; the per-group median
    * table joins back co-partitioned on the key (NOT broadcast —
    * group cardinality is unbounded at scale). The exact twin of the
    * q124 sketch-based robust outlier machinery for discrete columns.
    * Output: (key, n, median_x2, mad_x4). */
  def exactGroupMadX4(df: DataFrame, keyCol: String, xCol: String,
                      maxDistinctPerKey: Long = 2000000L): DataFrame = {
    val med = exactGroupMedianX2(df, keyCol, xCol, maxDistinctPerKey)
      .select(col(keyCol), col("median_x2"))
    val dev = df.join(med, keyCol)
      .select(col(keyCol), col("median_x2"),
        abs(lit(2L) * col(xCol).cast("long") - col("median_x2")).as("__dev"))
    exactGroupMedianX2(dev, keyCol, "__dev", maxDistinctPerKey)
      .withColumnRenamed("median_x2", "mad_x4")
      .join(med, keyCol)
      .select(col(keyCol), col("n"), col("median_x2"), col("mad_x4"))
  }

  /** EXACT per-group Gini concentration from the value histogram — the
    * inequality measure of a distribution (how skewed is the crawl
    * across domains, spend across users, quantity across suppliers):
    *
    *   mad_sum = Σ_i Σ_j |x_i − x_j| = 2·Σ_k c_k·(v_k·N_<k − S_<k)
    *   gini    = mad_sum / (2·n·Σx)
    *
    * with N_<k / S_<k the cumulative count/sum strictly below value
    * v_k — all EXACT longs off one map-side-combining histogram (the
    * [[exactGroupMedianX2]] shape, same CHECKED bounded-histogram
    * contract: the cumulative window runs over value cardinality, never
    * rows), and the single division is the only float op. Values must
    * be non-negative (checked — Gini is undefined below zero) with a
    * positive group sum (zero-sum groups drop). The int64 envelope
    * (mad_sum ≤ n²·maxV, and every c·(v·N − S) term under it) is
    * CHECKED before execution, not documented: one extra aggregation
    * over the already-materialized histogram verifies
    * maxRowsPerKey² · maxValue ≤ 4·10¹⁸ and fails loudly with a
    * rescale hint.
    * Output: (key, n, sum_x, mad_sum, gini), gini ∈ [0, 1). */
  def exactGroupGini(df: DataFrame, keyCol: String, xCol: String,
                     maxDistinctPerKey: Long = 2000000L): DataFrame = {
    val hist = df.groupBy(col(keyCol), col(xCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c")).localCheckpoint()
    // int64 exactness envelope: the pairwise |x_i − x_j| double sum is
    // ≤ n²·maxV per key, and every cumulative term stays under it —
    // sized on the materialized histogram (per-key row count = Σ c)
    val Seq(_, _, maxN, maxV) = Contracts.enforce(
      hist.groupBy(col(keyCol)).agg(count(lit(1)).as("__k"),
        min(col("__v")).as("__lo"), sum(col("__c")).as("__n"),
        max(col("__v")).as("__b")),
      distinctPerKey(max(col("__k")), maxDistinctPerKey, "exactGroupGini"),
      Contracts.Bound(min(col("__lo")), _ >= 0L, _ =>
        "exactGroupGini requires non-negative values (Gini is undefined " +
          "for mixed-sign data); shift or absolute-value the column first"),
      Contracts.read(max(col("__n"))), Contracts.read(max(col("__b"))))
    require(BigInt(maxN) * BigInt(maxN) * BigInt(maxV) <=
      BigInt("4000000000000000000"),
      s"exactGroupGini: rowsPerKey^2 x maxValue = $maxN^2 x $maxV " +
        "exceeds the int64 exactness contract (n^2*V <= 4e18) — " +
        "rescale the values to coarser integer units")
    val below = Window.partitionBy(col(keyCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("__nlt", coalesce(sum(col("__c")).over(below), lit(0L)))
      .withColumn("__slt",
        coalesce(sum(col("__v") * col("__c")).over(below), lit(0L)))
      .groupBy(col(keyCol))
      .agg(sum(col("__c")).as("n"),
        sum(col("__v") * col("__c")).as("sum_x"),
        (lit(2L) * sum(col("__c") *
          (col("__v") * col("__nlt") - col("__slt")))).as("mad_sum"))
      .where(col("sum_x") > 0L)
      .select(col(keyCol), col("n"), col("sum_x"), col("mad_sum"),
        (col("mad_sum").cast("double") /
          (lit(2L) * col("n") * col("sum_x")).cast("double")).as("gini"))
  }

  /** Per-group MODE (most frequent value; ties break to the smallest
    * value): histogram groupBy + the partial-combining `top_k_by`
    * argmax — never a per-group sort or window over raw rows. Exact
    * integer counts. */
  def groupMode(df: DataFrame, keyCol: String, xCol: String,
                maxDistinctPerKey: Long = 2000000L): DataFrame = {
    import graft.functions.top_k_by
    val hist = df.groupBy(col(keyCol), col(xCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c")).localCheckpoint()
    requireBoundedPerKey(hist, keyCol, maxDistinctPerKey, "groupMode")
    hist
      .groupBy(col(keyCol))
      .agg(top_k_by(struct(col("__c"), (-col("__v")).as("__negv")), 1)
        .as("top"))
      .select(col(keyCol), (-col("top")(0)("__negv")).as("mode"),
        col("top")(0)("__c").as("n_mode"))
  }

  /** EXACT per-group order statistic at an arbitrary rational quantile
    * p = pNum/pDen — the generalization of [[exactGroupMedianX2]] to
    * p90/p99 tail latencies, length cutoffs, quality-score thresholds.
    * Type-1 (lower) quantile: the smallest value v whose cumulative
    * count k satisfies k·pDen ≥ pNum·n, i.e. the element at 1-based
    * rank ⌈pNum·n/pDen⌉ — a pure integer rank comparison, so the
    * result is an exact long with NO floating point anywhere.
    *
    * Same shape and CHECKED bounded-histogram contract as the median
    * family: rows collapse to a per-(group, value) count histogram
    * (map-side combining — the shuffle is bounded by value
    * cardinality, never row count), the cumulative window runs over
    * that bounded histogram, and the pick is one conditional sum.
    * Output: (key, n, q_value). */
  def exactGroupQuantile(df: DataFrame, keyCol: String, xCol: String,
                         pNum: Long, pDen: Long,
                         maxDistinctPerKey: Long = 2000000L): DataFrame = {
    require(pDen >= 1 && pNum >= 1 && pNum <= pDen,
      s"exactGroupQuantile needs 1 <= pNum <= pDen, got $pNum/$pDen")
    val hist = df.groupBy(col(keyCol), col(xCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c")).localCheckpoint()
    requireBoundedPerKey(hist, keyCol, maxDistinctPerKey,
      "exactGroupQuantile")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__n", sum(col("__c"))
        .over(Window.partitionBy(col(keyCol))))
    // 1-based target rank ⌈pNum·n/pDen⌉ (positive operands — div floors)
    val k = expr(s"(${pNum}L * __n + ${pDen - 1}L) div ${pDen}L")
    cum
      .groupBy(col(keyCol))
      .agg(first(col("__n")).as("n"),
        sum(when(col("__cum") - col("__c") < k && k <= col("__cum"),
          col("__v")).otherwise(0L)).as("q_value"))
  }

  /** Longest consecutive-day streak per key (gaps-and-islands): the
    * classic engagement statistic — "this user's longest unbroken run
    * of active days" — and, over crawl sources, "this domain's longest
    * unbroken coverage window". Islands form by the day − row_number
    * trick: within a key, consecutive days share (day − rank), so one
    * window partitioned BY KEY (never global) plus two integer
    * aggregations produce per-island lengths and the per-key argmax.
    * Ties break to the EARLIEST streak. All exact longs.
    * Output: (key, n_active_days, longest_streak, streak_start). */
  def longestStreak(df: DataFrame, keyCol: String,
                    dayCol: String): DataFrame = {
    val act = df.select(col(keyCol), col(dayCol).cast("long").as("__d"))
      .distinct()
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__d"))
    act
      .withColumn("__rn", row_number().over(w).cast("long"))
      .groupBy(col(keyCol), (col("__d") - col("__rn")).as("__island"))
      .agg(count(lit(1)).as("__len"), min(col("__d")).as("__start"))
      .groupBy(col(keyCol))
      .agg(sum(col("__len")).as("n_active_days"),
        // lexicographic struct max: longest run, then smallest start
        max(struct(col("__len"), (-col("__start")).as("__negs")))
          .as("__top"))
      .select(col(keyCol), col("n_active_days"),
        col("__top")("__len").as("longest_streak"),
        (-col("__top")("__negs")).as("streak_start"))
  }

  /** Growth accounting: per-day counts of NEW (first-ever activity),
    * RETAINED (also active the previous day), RESURRECTED (returning
    * after a gap) and CHURNED (active the previous day but not this
    * one — attributed to the first inactive day) keys — the standard
    * DAU decomposition, and for a continuously re-crawled corpus the
    * per-day "sources appearing / persisting / returning / dropping
    * out" freshness report. Two windows, both partitioned BY KEY
    * (lag/lead over one key's activity — never a global sort); the
    * day-level rollup is bounded by the number of distinct days. All
    * exact integer counts.
    * Output: (day, n_new, n_retained, n_resurrected, n_churned),
    * covering every day carrying at least one transition (a final
    * max-day + 1 churn row included, by definition). */
  def growthAccounting(df: DataFrame, keyCol: String,
                       dayCol: String): DataFrame = {
    val act = df.select(col(keyCol), col(dayCol).cast("long").as("__d"))
      .distinct().localCheckpoint() // two window scans read it
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__d"))
    val states = act
      .withColumn("__prev", lag(col("__d"), 1).over(w))
      .groupBy(col("__d").as("day"))
      .agg(
        sum(when(col("__prev").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("__prev") === col("__d") - 1L, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("__prev").isNotNull &&
          col("__prev") < col("__d") - 1L, 1L).otherwise(0L))
          .as("n_resurrected"))
    val churn = act
      .withColumn("__next", lead(col("__d"), 1).over(w))
      .where(col("__next").isNull || col("__next") > col("__d") + 1L)
      .groupBy((col("__d") + 1L).as("day"))
      .agg(count(lit(1)).as("n_churned"))
    states.join(churn, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
  }

  /** Per-group strict INVERSION COUNT — the Kendall-tau disorder
    * numerator: among a key's rows ordered by `ordCols`, how many pairs
    * have their `xCol` values out of ascending order? 0 = the series is
    * already sorted (a quality score monotone in crawl time), n(n−1)/2
    * = perfectly reversed; the exact "how shuffled is this ordering"
    * statistic behind rank-churn and trend-direction diagnostics.
    *
    * Each key's rows collect into ONE sorted array (sort_array over the
    * (ord…, x) struct — ties in the sort key order ascending by x, so
    * equal-key pairs can never count as inversions) and a merge-sort
    * kernel ([[graft.functions.InversionCount]]) counts in O(n log n)
    * — never the O(n²) pair join. Per-key rows must fit one executor
    * (the trajectory/series kernel contract), CHECKED against
    * `maxRowsPerKey` before the collect can run. `disorder` =
    * inversions / C(n,2) is the one final double division (NaN for
    * single-row groups, both engines).
    * Output: (key, n, inversions, disorder). */
  def groupInversions(df: DataFrame, keyCol: String, ordCols: Seq[String],
                      xCol: String,
                      maxRowsPerKey: Long = 5000000L): DataFrame = {
    require(ordCols.nonEmpty, "groupInversions needs at least one order column")
    import graft.functions.inversion_count
    val proj = df.select(
      (col(keyCol) +: ordCols.map(col)) :+ col(xCol).cast("long").as("__x"): _*)
      .localCheckpoint()
    Contracts.boundedPerKey(proj, keyCol, maxRowsPerKey, "groupInversions",
      "rows", "Pre-aggregate or sub-split the key before counting " +
        "inversions.", contract = "per-key kernel")
    val sortKey = struct(ordCols.map(col) :+ col("__x"): _*)
    proj
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(sortKey)).as("__s"))
      .withColumn("__inv",
        inversion_count(transform(col("__s"), s => s("__x"))))
      .select(col(keyCol), col("n"), col("__inv").as("inversions"),
        when(col("n") < 2L, lit(Double.NaN)).otherwise(
          col("__inv").cast("double") /
            expr("(n * (n - 1L)) div 2L").cast("double"))
          .as("disorder"))
  }

  /** Per-group lag-k AUTOCORRELATION from exact integer sufficient
    * statistics: Pearson r between each key's series and itself k
    * steps later (walked in `ordCols` order) — the periodicity /
    * trend-persistence diagnostic (does yesterday's quality predict
    * today's; is there a weekly crawl cycle). One lag window per key
    * (never global) pairs x_t with x_{t+k}; the pairs collapse to SIX
    * integer sufficient statistics per key (m, Σa, Σb, Σa², Σb², Σab
    * — map-side combining in decimal(38,0), the pearsonByKey
    * discipline: no silent int64 wrap, no ANSI mid-query throw), and
    * the float tail is a fixed shape of casts, two IEEE sqrts and one
    * division, so r is engine-exact vs a HUGEINT-summing oracle. The
    * exactness envelope is CHECKED in the SAME aggregation, not
    * documented: max |x| rides beside the sums and a raise_error
    * branch rejects any key with m·maxAbs² > 4·10¹⁸ — the bound the
    * int64 OUTPUT column Σab itself dictates (under it, every decimal
    * intermediate m·Σa² ≤ m²B² ≤ 3.6·10³⁷ is exact with 10× headroom).
    * Zero variance on either side → NaN (explicit — ANSI Spark vs
    * DuckDB 0/0 parity). Keys with fewer than k+1 rows are absent (no
    * pairs).
    * Output: (key, m, s_ab, r). */
  def groupAutocorr(df: DataFrame, keyCol: String, ordCols: Seq[String],
                    xCol: String, k: Int): DataFrame = {
    require(k >= 1, s"groupAutocorr needs lag k >= 1, got $k")
    require(ordCols.nonEmpty, "groupAutocorr needs at least one order column")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(ordCols.map(col): _*)
    val pairs = df
      .select(col(keyCol) +: ordCols.map(col)
        :+ col(xCol).cast("long").as("__a"): _*)
      // NULL observations leave the series BEFORE the lag pairs form —
      // a NULL __a would otherwise occupy a lead slot and silently
      // desync the six sufficient statistics from each other
      .where(col("__a").isNotNull)
      .withColumn("__b", lead(col("__a"), k).over(w))
      .where(col("__b").isNotNull)
    val aD = col("__a").cast("decimal(38,0)")
    val bD = col("__b").cast("decimal(38,0)")
    val agg = pairs.groupBy(col(keyCol))
      .agg(count(lit(1)).as("m"),
        sum(aD).as("sa"), sum(bD).as("sb"),
        sum(aD * aD).as("saa"),
        sum(bD * bD).as("sbb"),
        sum(aD * bD).as("s_ab"),
        greatest(max(abs(col("__a"))), max(abs(col("__b")))).as("__mx"))
      .where(when(col("m").cast("double") * col("__mx").cast("double")
          * col("__mx").cast("double") > 4e18,
        raise_error(concat(
          lit("groupAutocorr: pairs x maxAbs(x)^2 exceeds the int64 " +
            "exactness contract (m*B^2 <= 4e18) under key "),
          col(keyCol).cast("string"),
          lit(" — rescale the series to coarser integer units"))).isNotNull)
        .otherwise(lit(true)))
    val mDec = col("m").cast("decimal(38,0)")
    val va = mDec * col("saa") - col("sa") * col("sa")
    val vb = mDec * col("sbb") - col("sb") * col("sb")
    agg
      .select(col(keyCol), col("m"), col("s_ab").cast("long").as("s_ab"),
        when(va === lit(0) || vb === lit(0), lit(Double.NaN)).otherwise(
          (mDec * col("s_ab") - col("sa") * col("sb")).cast("double")
            / (sqrt(va.cast("double")) * sqrt(vb.cast("double"))))
          .as("r"))
  }

  /** RUN-LENGTH encoding of a per-key state sequence: walk each key's
    * rows in `ordCols` order and collapse consecutive equal `stateCol`
    * values into numbered runs — the behavioral-sequence compression
    * (browse-browse-buy → two runs) and the state-dwell profile
    * (how long does a crawl source stay in each health state) behind
    * session labeling and sequence mining.
    *
    * Two windows, both partitioned BY KEY (lag to flag run starts,
    * running sum to number them — never a global sort), then one
    * map-side-combining rollup per (key, run). `ordCols` must totally
    * order each key's rows; states must be non-null. All exact longs.
    * Output: (key, run_idx, state, run_len), run_idx 1-based in walk
    * order. */
  def stateRuns(df: DataFrame, keyCol: String, ordCols: Seq[String],
                stateCol: String): DataFrame = {
    require(ordCols.nonEmpty, "stateRuns needs at least one order column")
    val w = Window.partitionBy(col(keyCol)).orderBy(ordCols.map(col): _*)
    val wc = w.rowsBetween(Window.unboundedPreceding, 0)
    df
      .withColumn("__nf",
        when(!(lag(col(stateCol), 1).over(w) <=> col(stateCol)), 1L)
          .otherwise(0L))
      .withColumn("__run", sum(col("__nf")).over(wc))
      .groupBy(col(keyCol), col("__run").as("run_idx"),
        col(stateCol).as("state"))
      .agg(count(lit(1)).as("run_len"))
  }

  /** BENFORD first-digit profile per group: the distribution of leading
    * decimal digits of a positive integer column vs Benford's law — the
    * classic fabricated-data / synthetic-source detector (organic
    * magnitudes follow log-uniform leading digits; generated or
    * copy-pasted numbers don't). The leading digit comes from pure
    * integer floor-division (v div 10^⌊log10 v⌋ — spelled as a chain of
    * comparisons, no float log), so counts are exact longs; expected
    * Benford shares and the chi-squared distance are a fixed shape of
    * IEEE log10/divisions over those longs (engine-exact). One
    * map-side-combining digit histogram (shuffle bounded by groups×9)
    * plus a group rollup. Zero/negative values are excluded by
    * definition. Output: one row per (group, digit 1..9) present —
    * (group, digit, n, share, benford_share), plus the per-group n. */
  def benfordProfile(df: DataFrame, keyCol: String,
                     xCol: String): DataFrame = {
    val v = col(xCol).cast("long")
    // largest power of ten <= v: 18 integer comparisons, exact over the
    // full int64 range (no float log10 anywhere near the digit)
    val pow10 = (1 to 18).foldLeft(lit(1L)) { (acc, i) =>
      when(v >= lit(BenfordPow10(i)), lit(BenfordPow10(i))).otherwise(acc)
    }
    val hist = df.where(v > 0L)
      .withColumn("__v", v).withColumn("__p", pow10)
      .withColumn("__digit", expr("__v div __p"))
      .groupBy(col(keyCol), col("__digit").as("digit"))
      .agg(count(lit(1)).as("n"))
    // expected shares ship as PRE-COMPUTED double literals (the LSH
    // fixed-plane discipline): both engines compare against the same
    // 17-digit constants instead of racing libm log10 implementations
    val expected = (1 to 9).foldLeft(lit(Double.NaN)) { (acc, d) =>
      when(col("digit") === d.toLong, lit(BenfordShare(d - 1))).otherwise(acc)
    }
    val wk = Window.partitionBy(col(keyCol))
    hist
      .withColumn("n_group", sum(col("n")).over(wk))
      .select(col(keyCol), col("digit"), col("n"), col("n_group"),
        (col("n").cast("double") / col("n_group").cast("double"))
          .as("share"),
        expected.as("benford_share"))
  }

  /** 10^0 .. 10^18 as exact longs. */
  val BenfordPow10: Array[Long] =
    Iterator.iterate(1L)(_ * 10L).take(19).toArray

  /** Benford's-law expected share of leading digit d = log10(1 + 1/d),
    * computed ONCE here and shipped as literals to both engines. */
  val BenfordShare: Array[Double] =
    (1 to 9).map(d => math.log10(1.0 + 1.0 / d)).toArray

  /** Classifier CALIBRATION (reliability) table: fixed-width score bins
    * over the observed [min, max] range, each reporting how often the
    * label actually fires vs the bin's mean score — the reliability
    * diagram behind "can I trust this quality classifier's 0.9 as a
    * 90%?", and the drift monitor between scoring runs.
    *
    * Bin index is pure integer arithmetic over micro-quantized scores
    * — ⌊(s − min)·nBins / (max − min + 1)⌋ with the observed bounds
    * joined in as a ONE-ROW aggregate (the trailingActives discipline,
    * lazy, no driver action) — so bin membership and every count are
    * exact longs; mean score and empirical rate are fixed-shape double
    * divisions at the end. One map-side-combining rollup; the shuffle
    * carries nBins rows. Output: (bin, n, n_pos, sum_score, mean_score,
    * frac_pos), bins 0..nBins−1, empty bins absent. */
  def calibrationTable(df: DataFrame, scoreCol: String, labelCol: String,
                       nBins: Int): DataFrame = {
    require(nBins >= 1, s"calibrationTable needs nBins >= 1, got $nBins")
    val s = col(scoreCol).cast("long")
    val ev = df.select(s.as("__s"), col(labelCol).cast("boolean").as("__l"))
    val bounds = ev.agg(min(col("__s")).as("__min"), max(col("__s")).as("__max"))
    ev.crossJoin(bounds)
      .withColumn("__bin",
        expr(s"((__s - __min) * ${nBins}L) div (__max - __min + 1L)"))
      .groupBy(col("__bin").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__l"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("__s")).as("sum_score"))
      .select(col("bin"), col("n"), col("n_pos"), col("sum_score"),
        (col("sum_score").cast("double") / col("n").cast("double"))
          .as("mean_score"),
        (col("n_pos").cast("double") / col("n").cast("double"))
          .as("frac_pos"))
  }

  /** EXACT two-sample Kolmogorov–Smirnov statistic per group: the
    * maximum CDF gap between the `sideCol`=true and =false samples of
    * an integer column — THE distribution-drift detector (did this
    * source's quality scores shift between snapshots; does segment A's
    * spend distribute like segment B's) with no binning error.
    *
    * Kept exact by cross-multiplication: at every observed value,
    * |F_a − F_b| = |cumA·nB − cumB·nA| / (nA·nB) — the numerator is an
    * exact long, so the maximum is found by INTEGER comparisons and
    * the single division happens once, after the argmax. The int64
    * envelope (cum·n ≤ nA·nB) is CHECKED before execution, not
    * documented: one aggregation over the materialized histogram
    * verifies the heavier side of every key holds ≤ 2·10⁹ rows (so
    * nA·nB ≤ 4·10¹⁸) and fails loudly with the rank-sketch pointer.
    *
    * Same shape and CHECKED bounded-histogram contract as the exact
    * median family: rows collapse to a per-(group, value) pair of side
    * counts (map-side combining — the shuffle is bounded by value
    * cardinality), one cumulative window runs per group over that
    * bounded histogram, and the max is one more integer aggregation.
    * Groups missing either side drop (KS undefined).
    * Output: (key, n_a, n_b, d_num, d) with d = d_num/(nA·nB). */
  def ksStatistic(df: DataFrame, keyCol: String, sideCol: String,
                  xCol: String,
                  maxDistinctPerKey: Long = 2000000L,
                  maxRowsPerSide: Long = 2000000000L): DataFrame = {
    require(maxRowsPerSide <= 2000000000L,
      s"ksStatistic: maxRowsPerSide $maxRowsPerSide exceeds the " +
        "cross-multiplied int64 capacity (2e9 keeps nA*nB <= 4e18)")
    val hist = df
      .groupBy(col(keyCol), col(xCol).cast("long").as("__v"))
      .agg(sum(when(col(sideCol).cast("boolean"), 1L).otherwise(0L))
          .as("__ca"),
        sum(when(col(sideCol).cast("boolean"), 0L).otherwise(1L))
          .as("__cb"))
      .localCheckpoint()
    Contracts.enforce(
      hist.groupBy(col(keyCol)).agg(count(lit(1)).as("__k"),
        sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb")),
      distinctPerKey(max(col("__k")), maxDistinctPerKey, "ksStatistic"),
      Contracts.Bound(max(greatest(col("__na"), col("__nb"))),
        _ <= maxRowsPerSide, m =>
          s"ksStatistic: a key's heavier side holds $m rows, exceeding " +
            "the cross-multiplied int64 exactness contract (limit " +
            s"$maxRowsPerSide; 2e9 keeps nA*nB <= 4e18). Sample the " +
            "sides, or use the rank-sketch two-sample KS (rq_ks, q202 " +
            "path) at this scale."))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wk = Window.partitionBy(col(keyCol))
    hist
      .withColumn("__cuma", sum(col("__ca")).over(w))
      .withColumn("__cumb", sum(col("__cb")).over(w))
      .withColumn("__na", sum(col("__ca")).over(wk))
      .withColumn("__nb", sum(col("__cb")).over(wk))
      .where(col("__na") > 0L && col("__nb") > 0L)
      .groupBy(col(keyCol))
      .agg(first(col("__na")).as("n_a"), first(col("__nb")).as("n_b"),
        max(abs(col("__cuma") * col("__nb") - col("__cumb") * col("__na")))
          .as("d_num"))
      .select(col(keyCol), col("n_a"), col("n_b"), col("d_num"),
        (col("d_num").cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("d"))
  }

  /** χ² independence test + CRAMÉR'S V between two categorical columns:
    * is the (a, b) contingency independent (V ≈ 0) or associated
    * (V → 1)? The "does event type depend on weekday", "does language
    * depend on source" coupling detector a profiling pass runs over
    * every categorical pair.
    *
    * Shape: ONE map-side-combining contingency aggregation (shuffle
    * bounded by |A|·|B| cells), marginals by two key-partitioned window
    * sums over the bounded cell table, the total as a window over all
    * cells of the SAME bounded table (never the raw rows). Cell counts
    * and marginals are exact longs; χ² sums (observed − expected)²/
    * expected over cells with the expected value formed in double
    * (fixed IEEE shape: (n·o − ra·cb)² / (n·ra·cb) summed in one
    * aggregation — engine-exact given DuckDB replays the same shape;
    * the sum order across cells is made deterministic by summing the
    * PER-CELL doubles with Kahan-free plain addition in BOTH engines
    * over the same grouped aggregation — Spark and DuckDB both reduce
    * unordered, so the gate sums per-cell terms to one row via an
    * order-independent EXACT route instead: terms are micro-quantized
    * to integer nano-units first, making the sum order-free).
    * Output: one row (n, n_cells, chi2_nano, v) with
    * chi2 = chi2_nano/1e9 folded into v's fixed-shape tail. */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o")).localCheckpoint()
    // the FULL category grid (marginals cross-joined, zero cells kept):
    // χ² sums over every (a, b) combination — dropping unobserved cells
    // would silently understate the statistic by Σ ra·cb/n
    val ra = cells.groupBy(col("__a")).agg(sum(col("__o")).as("__ra"))
    val cb = cells.groupBy(col("__b")).agg(sum(col("__o")).as("__cb"))
    val tot = cells.agg(sum(col("__o")).as("__n"))
    val grid = ra.crossJoin(cb)
      .join(cells, Seq("__a", "__b"), "left")
      .withColumn("__oc", coalesce(col("__o"), lit(0L)))
      .crossJoin(tot)
    // per-cell χ² term (n·o − ra·cb)² / (n·ra·cb), micro-quantized to
    // integer nano-units so the cross-cell sum is order-independent and
    // engine-exact (the perplexity-gate discipline)
    val term = (col("__n") * col("__oc") - col("__ra") * col("__cb"))
      .cast("double")
    val termNano = floor(
      term * term /
        (col("__n").cast("double") * col("__ra").cast("double")
          * col("__cb").cast("double")) * lit(1e9)).cast("long")
    grid
      .withColumn("__t", termNano)
      .groupBy()
      .agg(first(col("__n")).as("n"), count(lit(1)).as("n_cells"),
        countDistinct(col("__a")).as("k_a"),
        countDistinct(col("__b")).as("k_b"),
        sum(col("__t")).as("chi2_nano"))
      .select(col("n"), col("n_cells"), col("chi2_nano"),
        // one-category side: V undefined (0/0) -> explicit NaN (the
        // groupMoments ANSI-vs-DuckDB parity discipline)
        when(least(col("k_a"), col("k_b")) <= 1L, lit(Double.NaN))
          .otherwise(sqrt(col("chi2_nano").cast("double") / lit(1e9)
            / (col("n") * (least(col("k_a"), col("k_b")) - lit(1L)))
              .cast("double"))).as("v"))
  }

  /** Volume BURST detection against an integer-EWMA baseline: a key's
    * day is a burst when its event count exceeds num/den × the trailing
    * EWMA of its PREVIOUS days' counts — the traffic-spike / crawl-storm
    * / hot-source detector with zero floating point: counts are exact,
    * the baseline is the order-stable `ewma_shift` kernel
    * (s' = s + ((x−s) >> shift)), and the threshold comparison
    * c·den > num·baseline is pure int64.
    *
    * Shape: rows collapse to per-(key, day) counts (map-side combining);
    * each key's day series packs into ONE sorted array (bounded by the
    * key's ACTIVE days — the series-kernel contract) and the EWMA kernel
    * runs once per key; a first-day row has no baseline and is never a
    * burst. Output: (key, day, n_events, baseline, burst). */
  def burstDays(df: DataFrame, keyCol: String, dayCol: String,
                shift: Int, num: Long, den: Long): DataFrame = {
    require(num >= 1 && den >= 1,
      s"burstDays needs positive num/den, got $num/$den")
    import graft.functions.ewma_shift
    val counts = df
      .select(col(keyCol), col(dayCol).cast("long").as("__d"))
      .groupBy(col(keyCol), col("__d"))
      .agg(count(lit(1)).as("__c"))
    counts
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("__d"), col("__c"))))
        .as("__s"))
      .withColumn("__days", transform(col("__s"), s => s("__d")))
      .withColumn("__cs", transform(col("__s"), s => s("__c")))
      .withColumn("__ew", ewma_shift(col("__cs"), shift))
      .select(col(keyCol),
        posexplode(arrays_zip(col("__days"), col("__cs"))).as(Seq("__i", "__z")),
        col("__ew"))
      .select(col(keyCol), col("__z.__days").as("day"),
        col("__z.__cs").as("n_events"),
        // baseline = the EWMA BEFORE this day folds in: __ew[i-1]
        // (element_at is 1-based, so index __i reads the previous slot)
        when(col("__i") >= 1, element_at(col("__ew"), col("__i").cast("int")))
          .as("baseline"))
      .withColumn("burst",
        col("baseline").isNotNull &&
          col("n_events") * lit(den) > lit(num) * col("baseline"))
  }

  /** EXACT per-group CDF / midrank-percentile table: for every
    * (group, value), the counts strictly below, equal, and total — and
    * the midrank percentile numerator pct_x2 = 2·below + equal (the
    * percentile is pct_x2 / 2n, but the table stays PURE INTEGER so
    * joins against it stay engine-exact). This is the exact
    * percentile-normalization lookup (map any score to its within-
    * group quantile by one co-partitioned join — the exact twin of the
    * q80 sketch percentile-norm for discrete columns), and the
    * building block under rankAuc / KS / median already in this
    * module, exposed as a first-class table.
    *
    * Same shape and CHECKED bounded-histogram contract as the median
    * family: one map-side-combining histogram, one key-partitioned
    * cumulative window over it. Output: (key, v, n_below, n_equal, n,
    * pct_x2). */
  def exactGroupCdf(df: DataFrame, keyCol: String, xCol: String,
                    maxDistinctPerKey: Long = 2000000L): DataFrame = {
    val hist = df.groupBy(col(keyCol), col(xCol).cast("long").as("v"))
      .agg(count(lit(1)).as("n_equal")).localCheckpoint()
    requireBoundedPerKey(hist, keyCol, maxDistinctPerKey, "exactGroupCdf")
    val below = Window.partitionBy(col(keyCol)).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wk = Window.partitionBy(col(keyCol))
    hist
      .withColumn("n_below",
        coalesce(sum(col("n_equal")).over(below), lit(0L)))
      .withColumn("n", sum(col("n_equal")).over(wk))
      .select(col(keyCol), col("v"), col("n_below"), col("n_equal"),
        col("n"),
        (lit(2L) * col("n_below") + col("n_equal")).as("pct_x2"))
  }

  /** EXACT per-group SPEARMAN rank correlation with midrank ties:
    * Pearson over the doubled midranks (pct_x2 from
    * [[exactGroupCdf]] — Pearson is affine-invariant, so the ×2
    * scaling cancels and no half-ranks ever materialize). The
    * monotone-association detector (does quality rise with length;
    * does spend rank track activity rank) that Pearson-on-values gets
    * wrong under outliers and nonlinearity.
    *
    * Shape: two CDF joins back onto the rows (co-partitioned on
    * (key, value) — the exactGroupMadX4 join-back discipline), then
    * SIX integer sums per key (map-side combining) and the
    * fixed-shape float tail (two IEEE sqrts, one division) — rho is
    * engine-exact. The sums and the variance products are formed in
    * decimal(38,0) — EXACT integers to 10³⁸ — because doubled midranks
    * are ≤ 2n and the variance terms grow as ~n⁴/3, which silently
    * overflows int64 at n ≈ 73k rows per key (long sums would cap
    * "document-scale" keys far below honest corpus sizes; decimal
    * pushes the exact bound to ~10⁹ rows per key). DuckDB replays
    * the same integers via its int128 sums, and both engines cast the
    * identical exact integer to double once, so rho stays bit-exact.
    * The per-key ROW bound (4n⁴ ≤ 10³⁸ → n ≤ 2·10⁹) is CHECKED
    * explicitly — one map-side-combining count over the checkpointed
    * base — on top of the CDF's own distinct-value contract (which
    * bounds ties' cardinality, NOT rows: a hot low-cardinality key
    * passes it trivially). Zero variance on
    * either side → NaN. Output: (key, n, rho). */
  def spearmanByKey(df: DataFrame, keyCol: String, xCol: String,
                    yCol: String,
                    maxDistinctPerKey: Long = 2000000L,
                    maxRowsPerKey: Long = 2000000000L): DataFrame = {
    val base = df.select(col(keyCol), col(xCol).cast("long").as("__x"),
      col(yCol).cast("long").as("__y")).localCheckpoint()
    // the row-count contract: one map-side-combining count over the
    // checkpointed base (the groupInversions shape — cheaper than
    // replaying the CDF's cumulative window just to read its n column)
    Contracts.boundedPerKey(base, keyCol, maxRowsPerKey, "spearmanByKey",
      "rows", "The variance products grow as ~4n^4; sub-split or sample " +
        "the key.", contract = "decimal(38,0) exactness")
    val cdfx = exactGroupCdf(base, keyCol, "__x", maxDistinctPerKey)
      .select(col(keyCol), col("v").as("__x"), col("pct_x2").as("__rx"))
    val cdfy = exactGroupCdf(base, keyCol, "__y", maxDistinctPerKey)
      .select(col(keyCol), col("v").as("__y"), col("pct_x2").as("__ry"))
    val ranked = base
      .join(cdfx, Seq(keyCol, "__x"))
      .join(cdfy, Seq(keyCol, "__y"))
    // decimal(38,0) term-and-sum: each product is exact (ranks ≤ 2n),
    // each sum is exact to 10^38 — no silent int64 wrap, no ANSI throw
    val rx = col("__rx").cast("decimal(38,0)")
    val ry = col("__ry").cast("decimal(38,0)")
    val agg = ranked.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(rx).as("sx"), sum(ry).as("sy"),
        sum(rx * rx).as("sxx"),
        sum(ry * ry).as("syy"),
        sum(rx * ry).as("sxy"))
    val nDec = col("n").cast("decimal(38,0)")
    val vx = nDec * col("sxx") - col("sx") * col("sx")
    val vy = nDec * col("syy") - col("sy") * col("sy")
    agg.select(col(keyCol), col("n"),
      when(vx === lit(0) || vy === lit(0), lit(Double.NaN)).otherwise(
        (nDec * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
        .as("rho"))
  }

  /** EXACT per-group KENDALL TAU-B rank correlation with full tie
    * corrections — the pair-concordance twin of [[spearmanByKey]] (tau
    * answers "how often does a later event also rank higher", which is
    * the robust monotone-trend statistic under heavy ties; it is also
    * the Mann–Kendall trend test when x is time):
    *
    *   C − D = (n0 − n1 − n2 + n11) − 2D
    *   tau_b = (C − D) / (√(n0−n1) · √(n0−n2))
    *
    * with n0 = C(n,2), n1/n2/n11 = same-x / same-y / same-both tied
    * pair counts, and D (discordant pairs) counted EXACTLY by the
    * merge-sort inversion kernel over each key's y-sequence sorted by
    * (x, y) — x-tied pairs order ascending by y so they can never count,
    * making the count precisely the strict-discordance D. O(n log n)
    * per key, never the O(n²) pair join (that shape is the ORACLE's
    * job).
    *
    * Shape: the tie terms are three map-side-combining histogram
    * aggregations (shuffles keyed by (key, value) — hash groupBys,
    * never windows, so cardinality is scale-safe); D rides the
    * series-kernel contract (per-key rows CHECKED against
    * `maxRowsPerKey`, the groupInversions discipline); the float tail
    * is two IEEE sqrts and one division over exact longs —
    * engine-exact. Keys with zero x- or y-variance → NaN.
    * Output: (key, n, concordant, discordant, tau_b). */
  def kendallTauB(df: DataFrame, keyCol: String, xCol: String, yCol: String,
                  maxRowsPerKey: Long = 5000000L): DataFrame = {
    import graft.functions.inversion_count
    val base = df.select(col(keyCol), col(xCol).cast("long").as("__x"),
      col(yCol).cast("long").as("__y")).localCheckpoint()
    Contracts.boundedPerKey(base, keyCol, maxRowsPerKey, "kendallTauB",
      "rows", "Pre-aggregate or sub-split the key before correlating.",
      contract = "per-key kernel")
    def tiePairs(cols: Seq[String], out: String) =
      base.groupBy(col(keyCol) +: cols.map(col): _*)
        .agg(count(lit(1)).as("__c"))
        .groupBy(col(keyCol))
        .agg(sum(expr("(__c * (__c - 1)) div 2")).as(out))
    val d = base.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        inversion_count(transform(
          sort_array(collect_list(struct(col("__x"), col("__y")))),
          s => s("__y"))).as("discordant"))
    val joined = d
      .join(tiePairs(Seq("__x"), "__n1"), Seq(keyCol))
      .join(tiePairs(Seq("__y"), "__n2"), Seq(keyCol))
      .join(tiePairs(Seq("__x", "__y"), "__n11"), Seq(keyCol))
      .withColumn("__n0", expr("(n * (n - 1)) div 2"))
    val c = col("__n0") - col("__n1") - col("__n2") + col("__n11") -
      col("discordant")
    val dx = col("__n0") - col("__n1")
    val dy = col("__n0") - col("__n2")
    joined.select(col(keyCol), col("n"), c.as("concordant"),
      col("discordant"),
      when(dx === 0L || dy === 0L, lit(Double.NaN)).otherwise(
        (c - col("discordant")).cast("double")
          / (sqrt(dx.cast("double")) * sqrt(dy.cast("double"))))
        .as("tau_b"))
  }

  /** WELCH'S UNEQUAL-VARIANCE t-TEST per group: is side A's mean metric
    * different from side B's — the continuous-metric twin of
    * [[twoProportionZ]] (revenue per user, latency, tokens per document):
    *
    *   t  = (m̄a − m̄b) / √(s²a/na + s²b/nb)
    *   ν  = (ra + rb)² / ( ra²/(na−1) + rb²/(nb−1) ),  r = s²/n
    *
    * with the unbiased variances formed from EXACT integer sufficient
    * statistics — s² = (n·Σx² − (Σx)²) / (n·(n−1)) forms its numerator
    * in decimal(38,0) (the [[pearsonByKey]] discipline: no silent
    * int64 wrap, no ANSI mid-query throw) with ONE division — so the
    * t/ν tail is a fixed shape of IEEE divisions, one sqrt, and
    * products of already-divided doubles: engine-exact vs a
    * HUGEINT-summing oracle.
    *
    * Seven values per key cross the shuffle regardless of group size
    * (ONE map-side-combining aggregation). The decimal(38,0)
    * exactness bound (n²·B² ≤ 10³⁸ for the variance numerator) is
    * CHECKED, not documented, in the SAME aggregation: max |x| is
    * collected beside the sums and a raise_error branch rejects any
    * key with n·maxAbs(x) > 10¹⁸ (margin 10×) — zero extra jobs, the
    * [[twoProportionZ]] lazy-checked shape. NULL side or x rows are
    * rejected the same way: a NULL side would silently vanish from
    * both arms and a NULL x would desync n from the NULL-skipping
    * sums. Keys with an arm of fewer than 2 rows drop (no variance);
    * zero pooled standard error → NaN.
    * Output: (key, n_a, n_b, mean_a, mean_b, t, df). */
  def welchT(df: DataFrame, keyCol: String, sideCol: String,
             xCol: String): DataFrame = {
    val side = col(sideCol).cast("boolean")
    val x = col(xCol).cast("long")
    val xD = x.cast("decimal(38,0)")
    val zeroD = lit(0L).cast("decimal(38,0)")
    val agg = df.groupBy(col(keyCol))
      .agg(sum(when(side, 1L).otherwise(0L)).as("n_a"),
        sum(when(side, xD).otherwise(zeroD)).as("s_a"),
        sum(when(side, xD * xD).otherwise(zeroD)).as("ss_a"),
        sum(when(!side, 1L).otherwise(0L)).as("n_b"),
        sum(when(!side, xD).otherwise(zeroD)).as("s_b"),
        sum(when(!side, xD * xD).otherwise(zeroD)).as("ss_b"),
        max(abs(x)).as("__m"),
        sum(when(side.isNull || x.isNull, 1L).otherwise(0L)).as("__bad"))
      .where(when(col("__bad") > 0L,
        raise_error(concat(
          lit("welchT: NULL side/x rows under key "),
          col(keyCol).cast("string"),
          lit(" — assign every row an arm and a metric, or filter " +
            "explicitly before calling"))).isNotNull)
        .otherwise(lit(true)))
      .where(when((col("n_a") + col("n_b")).cast("decimal(38,0)")
          * col("__m").cast("decimal(38,0)")
          > lit("1000000000000000000").cast("decimal(38,0)"),
        raise_error(concat(
          lit("welchT: rows x maxAbs(x) exceeds the decimal(38,0) " +
            "exactness contract (n*B <= 1e18) under key "),
          col(keyCol).cast("string"),
          lit(" — rescale the metric to coarser integer units"))).isNotNull)
        .otherwise(lit(true)))
      .where(col("n_a") > 1L && col("n_b") > 1L)
    def nD(c: String) = col(c).cast("decimal(38,0)")
    val ma = col("s_a").cast("double") / col("n_a").cast("double")
    val mb = col("s_b").cast("double") / col("n_b").cast("double")
    val va = (nD("n_a") * col("ss_a") - col("s_a") * col("s_a"))
      .cast("double") /
      (nD("n_a") * (col("n_a") - 1L).cast("decimal(38,0)")).cast("double")
    val vb = (nD("n_b") * col("ss_b") - col("s_b") * col("s_b"))
      .cast("double") /
      (nD("n_b") * (col("n_b") - 1L).cast("decimal(38,0)")).cast("double")
    val ra = va / col("n_a").cast("double")
    val rb = vb / col("n_b").cast("double")
    val se2 = ra + rb
    agg.select(col(keyCol), col("n_a"), col("n_b"),
      ma.as("mean_a"), mb.as("mean_b"),
      when(se2 === 0.0, lit(Double.NaN))
        .otherwise((ma - mb) / sqrt(se2)).as("t"),
      when(se2 === 0.0, lit(Double.NaN))
        .otherwise((se2 * se2) /
          (ra * ra / (col("n_a") - 1L).cast("double")
            + rb * rb / (col("n_b") - 1L).cast("double"))).as("df"))
  }

  /** CUPED variance-reduced experiment readout per key: adjust each
    * arm's metric mean by the pooled pre-period covariate regression
    * (Deng et al., WSDM'13 — the industry-standard sensitivity boost):
    *
    *   θ       = cov(x, y) / var(x)          (pooled, both arms)
    *   adj_arm = m̄y(arm) − θ·(m̄x(arm) − m̄x(pool))
    *
    * The pre-period covariate x is unaffected by treatment, so the
    * adjustment removes the x-explained variance from the delta without
    * biasing it. θ's numerator/denominator form in decimal(38,0) from
    * exact sums (n·Σxy − Σx·Σy over n·Σx² − (Σx)² — the
    * [[pearsonByKey]] discipline: no silent int64 wrap, no ANSI
    * mid-query throw) with ONE division; the adjusted means are
    * fixed-shape products/differences of already-divided doubles —
    * engine-exact vs a HUGEINT-summing oracle.
    *
    * ONE map-side-combining aggregation; eleven values per key cross
    * the shuffle (n/Σx/Σy/Σxy/Σx² per arm plus max magnitude — the
    * pooled sums are their exact decimal totals). The decimal(38,0)
    * exactness bound (n²·B² ≤ 10³⁸ for θ's numerator/denominator) is
    * CHECKED in the SAME aggregation: max(|x|, |y|) is collected
    * beside the sums and a raise_error branch rejects any key with
    * n·maxAbs > 10¹⁸ (margin 10×) — zero extra jobs. NULL side/x/y
    * rows are rejected the same way (the [[twoProportionZ]]
    * lazy-checked contract). Keys missing an arm drop; zero pooled
    * x-variance → θ has no definition → NaN columns (the raw delta
    * stays valid).
    * Output: (key, n_a, n_b, theta, raw_delta, adj_a, adj_b, adj_delta). */
  def cupedAdjust(df: DataFrame, keyCol: String, sideCol: String,
                  yCol: String, xCol: String): DataFrame = {
    val side = col(sideCol).cast("boolean")
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    val xD = x.cast("decimal(38,0)")
    val yD = y.cast("decimal(38,0)")
    val zeroD = lit(0L).cast("decimal(38,0)")
    def arm(p: org.apache.spark.sql.Column, suf: String) = Seq(
      sum(when(p, 1L).otherwise(0L)).as(s"n_$suf"),
      sum(when(p, xD).otherwise(zeroD)).as(s"sx_$suf"),
      sum(when(p, yD).otherwise(zeroD)).as(s"sy_$suf"),
      sum(when(p, xD * yD).otherwise(zeroD)).as(s"sxy_$suf"),
      sum(when(p, xD * xD).otherwise(zeroD)).as(s"sxx_$suf"))
    val cells = arm(side, "a") ++ arm(!side, "b") :+
      greatest(max(abs(x)), max(abs(y))).as("__m") :+
      sum(when(side.isNull || x.isNull || y.isNull, 1L).otherwise(0L))
        .as("__bad")
    val agg = df.groupBy(col(keyCol))
      .agg(cells.head, cells.tail: _*)
      .where(when(col("__bad") > 0L,
        raise_error(concat(
          lit("cupedAdjust: NULL side/x/y rows under key "),
          col(keyCol).cast("string"),
          lit(" — assign every row an arm, a covariate and a metric, " +
            "or filter explicitly before calling"))).isNotNull)
        .otherwise(lit(true)))
      .where(when((col("n_a") + col("n_b")).cast("decimal(38,0)")
          * col("__m").cast("decimal(38,0)")
          > lit("1000000000000000000").cast("decimal(38,0)"),
        raise_error(concat(
          lit("cupedAdjust: rows x maxAbs(x, y) exceeds the " +
            "decimal(38,0) exactness contract (n*B <= 1e18) under key "),
          col(keyCol).cast("string"),
          lit(" — rescale the covariate/metric to coarser integer " +
            "units"))).isNotNull)
        .otherwise(lit(true)))
      .where(col("n_a") > 0L && col("n_b") > 0L)
    val n = (col("n_a") + col("n_b")).cast("decimal(38,0)")
    val sx = col("sx_a") + col("sx_b")
    val sy = col("sy_a") + col("sy_b")
    val sxy = col("sxy_a") + col("sxy_b")
    val sxx = col("sxx_a") + col("sxx_b")
    val den = n * sxx - sx * sx
    val theta = (n * sxy - sx * sy).cast("double") / den.cast("double")
    val mxPool = sx.cast("double") / n.cast("double")
    val mya = col("sy_a").cast("double") / col("n_a").cast("double")
    val myb = col("sy_b").cast("double") / col("n_b").cast("double")
    val mxa = col("sx_a").cast("double") / col("n_a").cast("double")
    val mxb = col("sx_b").cast("double") / col("n_b").cast("double")
    val adjA = mya - theta * (mxa - mxPool)
    val adjB = myb - theta * (mxb - mxPool)
    agg.select(col(keyCol), col("n_a"), col("n_b"),
      when(den === 0L, lit(Double.NaN)).otherwise(theta).as("theta"),
      (mya - myb).as("raw_delta"),
      when(den === 0L, lit(Double.NaN)).otherwise(adjA).as("adj_a"),
      when(den === 0L, lit(Double.NaN)).otherwise(adjB).as("adj_b"),
      when(den === 0L, lit(Double.NaN)).otherwise(adjA - adjB)
        .as("adj_delta"))
  }

  /** EXACT TRIMMED and WINSORIZED means per key — the robust central
    * tendencies that ignore/clamp each tail's k = ⌊n·num/den⌋ rank
    * positions (the outlier-resistant spend/latency/quality mean;
    * trimming DROPS the tails, winsorizing CLAMPS them to the surviving
    * extremes, preserving n):
    *
    * Rows collapse to the per-(key, value) HISTOGRAM first (the
    * [[exactGroupCdf]] shape — shuffle bounded by value cardinality
    * under the CHECKED bounded-histogram contract, never row count);
    * each value's kept multiplicity inside the open rank window
    * (k, n−k] is pure integer interval arithmetic over the cumulative
    * counts, the boundary values v_lo = value at rank k+1 and
    * v_hi = value at rank n−k fall out of the same cumulative pass, and
    * both means are ONE division of exact int64 sums:
    *
    *   trimmed  = Σ v·kept(v) / (n − 2k)
    *   winsor   = (Σ v·kept(v) + k·v_lo + k·v_hi) / n
    *
    * Keys where the trim swallows everything (n ≤ 2k) drop.
    * Output: (key, n, k, v_lo, v_hi, trimmed_mean, winsor_mean). */
  def trimmedMeans(df: DataFrame, keyCol: String, xCol: String,
                   trimNum: Long, trimDen: Long,
                   maxDistinctPerKey: Long = 2000000L): DataFrame = {
    require(trimDen > 0 && trimNum >= 0 && trimNum * 2 < trimDen,
      s"trimmedMeans needs 0 <= num/den < 1/2, got $trimNum/$trimDen")
    val cdf = exactGroupCdf(df, keyCol, xCol, maxDistinctPerKey)
    val k = expr(s"(n * ${trimNum}L) div ${trimDen}L")
    // kept copies of v inside ranks (k, n-k]: overlap of the value's
    // rank interval (below, below+cnt] with the kept interval
    val keptLo = greatest(col("n_below"), k)
    val keptHi = least(col("n_below") + col("n_equal"), col("n") - k)
    val kept = greatest(keptHi - keptLo, lit(0L))
    val isLo = col("n_below") < k + 1L &&
      col("n_below") + col("n_equal") >= k + 1L
    val isHi = col("n_below") < col("n") - k &&
      col("n_below") + col("n_equal") >= col("n") - k
    cdf
      .withColumn("__k", k)
      .groupBy(col(keyCol))
      .agg(first(col("n")).as("n"), first(col("__k")).as("k"),
        sum(col("v") * kept).as("__ts"),
        max(when(isLo, col("v"))).as("v_lo"),
        max(when(isHi, col("v"))).as("v_hi"))
      .where(col("n") > lit(2L) * col("k"))
      .select(col(keyCol), col("n"), col("k"), col("v_lo"), col("v_hi"),
        (col("__ts").cast("double")
          / (col("n") - lit(2L) * col("k")).cast("double")).as("trimmed_mean"),
        ((col("__ts") + col("k") * col("v_lo") + col("k") * col("v_hi"))
          .cast("double") / col("n").cast("double")).as("winsor_mean"))
  }

  /** THEIL–SEN robust slope per key: the MEDIAN of all pairwise slopes
    * (yj − yi)/(xj − xi) over observation pairs with distinct x — the
    * breakdown-point-0.29 trend estimator that shrugs off outliers the
    * [[groupOls]] least-squares fit chases (sensor drift, spend
    * trajectories, rate trends over dirty telemetry).
    *
    * Shape: each key's series rides the CHECKED per-key kernel contract
    * (the [[kendallTauB]] discipline — this kernel is O(n²) in time AND
    * memory, so the default bound is deliberately small); the slope
    * multiset is materialized and median-picked inside ONE
    * [[graft.functions.ArrayExprs]] long-array kernel over the
    * (x, y)-sorted series, so no pair join and no window ever touch the
    * cluster. The pair count m = C(n,2) − Σx C(cx,2) (x-tied pairs have
    * no slope) comes from a histogram aggregation, never the kernel.
    * Each slope is ONE IEEE division of exact long differences; the
    * median is element m/2 (odd) or the mean of the two central
    * elements (even) of the sorted multiset — engine-exact, replayable
    * by a literal O(n²) pair join (the oracle's job, not ours). Keys
    * with zero x-variance (m = 0) drop.
    * Output: (key, n, m_slopes, slope). */
  def theilSen(df: DataFrame, keyCol: String, xCol: String, yCol: String,
               maxRowsPerKey: Long = 2000L): DataFrame = {
    import graft.functions.theil_sen_slope
    val base = df.select(col(keyCol), col(xCol).cast("long").as("__x"),
      col(yCol).cast("long").as("__y")).localCheckpoint()
    Contracts.boundedPerKey(base, keyCol, maxRowsPerKey, "theilSen",
      "rows", "The slope multiset is O(n²) per key — pre-aggregate " +
        "(e.g. daily sums) or sub-split the key before fitting.",
      contract = "per-key O(n²) kernel")
    val xTies = base.groupBy(col(keyCol), col("__x"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(keyCol))
      .agg(sum(expr("(__c * (__c - 1)) div 2")).as("__tx"))
    val sorted = sort_array(collect_list(struct(col("__x"), col("__y"))))
    val fitted = base.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        theil_sen_slope(transform(sorted, s => s("__x")),
          transform(sorted, s => s("__y"))).as("slope"))
    fitted.join(xTies, Seq(keyCol))
      .where(col("slope").isNotNull)
      .select(col(keyCol), col("n"),
        (expr("(n * (n - 1)) div 2") - col("__tx")).as("m_slopes"),
        col("slope"))
  }

  /** SIMPSON DIVERSITY per key — the behavioral/source-mix concentration
    * profile that needs NO logarithm (Shannon entropy's ln has no
    * bit-reproducible cross-engine story; the Gini–Simpson index is
    * pure rational arithmetic over exact counts):
    *
    *   simpson      = 1 − Σ c_i² / n²     (P(two draws differ))
    *   inv_simpson  = n² / Σ c_i²         (effective number of categories)
    *
    * Rows collapse to the per-(key, category) histogram (ONE map-side
    * combining aggregation, then ONE more to fold Σc² — both shuffles
    * bounded by category cardinality per key, never rows); Σc_i² ≤ n²
    * keeps int64 exact to n ≈ 3·10⁹ rows per key (the ksStatistic
    * bound). NULL categories drop explicitly — n must count exactly
    * the categorized rows or the index silently lies on dirty input
    * (the [[groupMoments]] discipline). Keys with n = 0 vanish.
    * Output: (key, n, n_cats, sumsq, simpson, inv_simpson). */
  def simpsonDiversity(df: DataFrame, keyCol: String,
                       catCol: String): DataFrame = {
    val hist = df.where(col(catCol).isNotNull)
      .groupBy(col(keyCol), col(catCol))
      .agg(count(lit(1)).as("__c"))
    hist.groupBy(col(keyCol))
      .agg(sum(col("__c")).as("n"), count(lit(1)).as("n_cats"),
        sum(col("__c") * col("__c")).as("sumsq"))
      .select(col(keyCol), col("n"), col("n_cats"), col("sumsq"),
        (lit(1.0) - col("sumsq").cast("double")
          / (col("n") * col("n")).cast("double")).as("simpson"),
        ((col("n") * col("n")).cast("double")
          / col("sumsq").cast("double")).as("inv_simpson"))
  }

  /** WILSON SCORE INTERVAL per key: the rate confidence interval that
    * behaves at small n and extreme rates (where the naive Wald
    * interval escapes [0, 1]) — the per-segment error-bar column for
    * every rate readout ([[twoProportionZ]]'s reporting companion):
    *
    *   (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
    *
    * ONE map-side-combining aggregation reduces each key to (n, x)
    * exact longs; the interval is a FIXED IEEE shape over them (the
    * plan-literal z is the same double constant in both engines), so
    * bounds replay bit-for-bit. NULL hit rows are rejected in the same
    * aggregation (the [[twoProportionZ]] lazy-checked contract).
    * Output: (key, n, x, p, lo, hi). */
  def wilsonInterval(df: DataFrame, keyCol: String, hitCol: String,
                     z: Double = 1.96): DataFrame = {
    require(z > 0.0 && z.isFinite, s"wilsonInterval needs z > 0, got $z")
    val hit = col(hitCol).cast("boolean")
    val agg = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(when(hit, 1L).otherwise(0L)).as("x"),
        sum(when(hit.isNull, 1L).otherwise(0L)).as("__bad"))
      .where(when(col("__bad") > 0L,
        raise_error(concat(
          lit("wilsonInterval: NULL hit rows under key "),
          col(keyCol).cast("string"),
          lit(" — assign every row an outcome, or filter explicitly " +
            "before calling"))).isNotNull)
        .otherwise(lit(true)))
    val nD = col("n").cast("double")
    val p = col("x").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nD
    val center = p + z2 / (lit(2.0) * nD)
    val margin = lit(z) * sqrt(p * (lit(1.0) - p) / nD
      + z2 / (lit(4.0) * nD * nD))
    agg.select(col(keyCol), col("n"), col("x"), p.as("p"),
      ((center - margin) / denom).as("lo"),
      ((center + margin) / denom).as("hi"))
  }

  /** MURPHY DECOMPOSITION of the Brier score over micro-quantized
    * forecasts — calibration diagnostics beyond [[calibrationTable]]'s
    * reliability diagram: with forecasts grouped by their EXACT
    * micro-prob value q ∈ [0, 10⁶] (bounded-histogram contract — a
    * forecast column is score-resolution bounded, the [[rankAuc]]
    * argument),
    *
    *   brier = REL − RES + UNC
    *   REL = Σ n_k(p_k − o_k)²/N   RES = Σ n_k(o_k − ō)²/N
    *   UNC = ō(1 − ō)
    *
    * The TOTAL Brier score is kept fully exact: Σ(q_i − 10⁶·o_i)² is
    * an integer sum (≤ 10¹² per row — decimal(38,0) accumulated, the
    * spearman discipline) with ONE division by N·10¹². REL and RES
    * sum per-GROUP double terms, so each term is floor-quantized to
    * integer nano-units first, making the cross-group sums order-free
    * (the [[cramersV]] discipline) — rel/res carry that explicit
    * 1e-9 resolution, brier does not. NULL forecast/label rows are
    * rejected in the aggregation (the lazy-checked contract).
    * Output: one row (n, n_groups, brier, rel_nano, res_nano, rel,
    * res, unc). */
  def brierDecomposition(df: DataFrame, microProbCol: String,
                         labelCol: String,
                         maxDistinctScores: Long = 2000000L): DataFrame = {
    val q = col(microProbCol).cast("long")
    val l = col(labelCol).cast("boolean")
    val (hist, _) = Contracts.checkpoint(df
      .select(q.as("__q"), l.as("__l"))
      .groupBy(col("__q"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__l"), 1L).otherwise(0L)).as("__x"),
        sum(when(col("__l"),
            (col("__q") - lit(1000000L)) * (col("__q") - lit(1000000L)))
          .otherwise(col("__q") * col("__q")).cast("decimal(38,0)"))
          .as("__se"),
        sum(when(col("__q").isNull || col("__l").isNull, 1L).otherwise(0L))
          .as("__bad"))
      .where(when(col("__bad") > 0L,
        raise_error(lit("brierDecomposition: NULL forecast/label rows — " +
          "assign every row a micro-prob and an outcome, or filter " +
          "explicitly before calling")).isNotNull)
        .otherwise(lit(true)))
      // a forecast is a probability: micro-prob outside [0, 1e6] means
      // the feed is mis-scaled and every REL/RES term would be parity-
      // exact but statistically meaningless — reject loudly in the
      // same aggregation (the histogram key IS the forecast, so this
      // is one comparison per distinct score, not per row)
      .where(when(col("__q") < 0L || col("__q") > 1000000L,
        raise_error(concat(lit("brierDecomposition: forecast "),
          col("__q").cast("string"),
          lit(" outside [0, 1000000] micro-prob — clamp or rescale " +
            "the forecast column to probabilities first"))).isNotNull)
        .otherwise(lit(true))),
      Contracts.Bound(count(lit(1)),
      _ <= maxDistinctScores, m =>
        s"brierDecomposition: $m distinct forecast values exceeds the " +
          s"bounded-histogram contract (maxDistinctScores=" +
          s"$maxDistinctScores). Quantize the forecast (micro-probs)."))
    val tot = hist.agg(sum(col("__n")).as("__nt"), sum(col("__x")).as("__xt"))
    val pk = col("__q").cast("double") / lit(1e6)
    val ok = col("__x").cast("double") / col("__n").cast("double")
    val obar = col("__xt").cast("double") / col("__nt").cast("double")
    val relTerm = floor(col("__n").cast("double") * (pk - ok) * (pk - ok)
      * lit(1e9)).cast("long")
    val resTerm = floor(col("__n").cast("double") * (ok - obar) * (ok - obar)
      * lit(1e9)).cast("long")
    hist.crossJoin(tot)
      .groupBy()
      .agg(first(col("__nt")).as("n"), count(lit(1)).as("n_groups"),
        sum(col("__se")).as("__set"),
        sum(relTerm).as("rel_nano"), sum(resTerm).as("res_nano"),
        first(col("__xt")).as("__x"))
      .select(col("n"), col("n_groups"),
        (col("__set").cast("double")
          / (col("n").cast("decimal(38,0)") * lit(1000000000000L)
              .cast("decimal(38,0)")).cast("double")).as("brier"),
        col("rel_nano"), col("res_nano"),
        (col("rel_nano").cast("double")
          / (col("n").cast("double") * lit(1e9))).as("rel"),
        (col("res_nano").cast("double")
          / (col("n").cast("double") * lit(1e9))).as("res"),
        ((col("__x").cast("double") / col("n").cast("double"))
          * (lit(1.0) - col("__x").cast("double") / col("n").cast("double")))
          .as("unc"))
  }

  /** EXPECTED CALIBRATION ERROR per key (Naeini 2015's ECE + the max
    * gap MCE) — the one-number companion to the reliability table
    * (q182) and Brier decomposition (q205): bucket forecasts into
    * equal-width probability bins, compare each bin's mean confidence
    * to its empirical accuracy, and mass-weight the gaps:
    *
    *   ECE = Σ_b (n_b/N) · |acc_b − conf_b|
    *       = Σ_b |10⁶·y_b − Σq_b|  /  (N·10⁶)
    *
    * — the numerator is EXACT integer arithmetic (micro-probs sum
    * exactly; the absolute gap per bin is one integer |·|), so the
    * whole statistic is one double division; MCE takes the same
    * per-bin gap over each bin's own mass (fixed IEEE shape per bin).
    * Forecasts outside [0, 10⁶] are rejected loudly in the same
    * aggregation (the [[brierDecomposition]] domain discipline), as
    * are NULL forecast/label rows. q = 10⁶ lands in the top bin
    * (clamped). Shape: ONE hash agg over ≤ nBuckets·keys rows.
    * Output: (key, n, n_bins_used, ece, mce). */
  def expectedCalibrationError(df: DataFrame, keyCol: String,
                               microProbCol: String, labelCol: String,
                               nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 100000,
      s"expectedCalibrationError: nBuckets in [2, 1e5], got $nBuckets")
    val q = col(microProbCol).cast("long")
    val l = col(labelCol).cast("boolean")
    val d = "decimal(38,0)"
    // exact integer floor division (q >= 0 by the domain check):
    // (a - a mod m) / m is exact in double below 2^53, matching the
    // oracle's `//`
    val qk = q * nBuckets
    val bucket = least(((qk - pmod(qk, lit(1000000L))) / lit(1000000L))
      .cast("long"), lit(nBuckets - 1L).cast("long"))
    val (hist, _) = Contracts.checkpoint(df
      .groupBy(col(keyCol), bucket.as("__b"))
      .agg(count(lit(1)).as("__n"),
        sum(when(l, 1L).otherwise(0L)).as("__y"),
        sum(q.cast(d)).as("__sq"),
        sum(when(q.isNull || l.isNull || q < 0L || q > 1000000L, 1L)
          .otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"expectedCalibrationError: $b NULL or out-of-range rows — " +
          "every row needs a label and a forecast in [0, 1000000] " +
          "micro-prob; clamp or rescale first"))
    val gap = col("__y").cast(d) * lit(1000000L).cast(d) - col("__sq")
    val gapAbs = when(gap < lit(0L).cast(d), -gap).otherwise(gap)
    hist
      .withColumn("__gap", gapAbs)
      .groupBy(col(keyCol))
      .agg(sum(col("__n")).as("n"), count(lit(1)).as("n_bins_used"),
        sum(col("__gap")).as("__e"),
        max(col("__gap").cast("double") /
          (col("__n").cast("double") * lit(1000000.0))).as("mce"))
      .select(col(keyCol), col("n"), col("n_bins_used"),
        (col("__e").cast("double") /
          (col("n").cast("double") * lit(1000000.0))).as("ece"),
        col("mce"))
  }

  /** CUSUM changepoint alarms per key (Page 1954, one-sided upper):
    * the sequential mean-shift detector that the trailing EWMA
    * baseline ([[graft.functions.ewma_shift]]) complements — CUSUM
    * accumulates evidence S_t = max(0, S_{t-1} + x_t − ref) so a
    * SUSTAINED drift above the reference fires even when every single
    * observation looks innocent, and a lone spike barely moves it.
    * The accumulator resets after each alarm (S ≥ h), so repeated
    * shifts each fire once.
    *
    * Shape: per-key series kernel (the [[kendallTauB]] CHECKED
    * row-bound discipline) — one sort-free hash aggregation collects
    * each key's (order, x) rows, ONE
    * [[graft.functions.ArrayExprs]] integer kernel replays the
    * recurrence, and a posexplode hands back per-observation rows. All
    * arithmetic is exact int64 (order-stable, engine-replayable by a
    * recursive CTE — no IEEE state crosses a step). Ties in the order
    * columns break by x (sort_array lexicographic), mirrorable.
    * Output: (key, rn, x, s, alarm). */
  def cusumAlarms(df: DataFrame, keyCol: String, ordCols: Seq[String],
                  xCol: String, ref: Long, h: Long,
                  maxRowsPerKey: Long = 5000000L): DataFrame = {
    import graft.functions.cusum_longs
    require(ordCols.nonEmpty, "cusumAlarms needs at least one order column")
    val base = df.select(col(keyCol) +: (ordCols.map(col) :+
      col(xCol).cast("long").as("__x")): _*).localCheckpoint()
    Contracts.boundedPerKey(base, keyCol, maxRowsPerKey, "cusumAlarms",
      "rows", "Pre-aggregate (e.g. hourly sums) or sub-split the key.",
      contract = "per-key kernel")
    val sorted = array_sort(collect_list(struct(
      ordCols.map(col) :+ col("__x"): _*)))
    base.groupBy(col(keyCol))
      .agg(transform(sorted, r => r("__x")).as("__xs"))
      .select(col(keyCol), col("__xs"),
        posexplode(cusum_longs(col("__xs"), ref, h)).as(Seq("__p", "s")))
      .select(col(keyCol), (col("__p") + 1).cast("long").as("rn"),
        element_at(col("__xs"), col("__p") + 1).as("x"), col("s"),
        (col("s") >= h).as("alarm"))
  }

  /** SEASONAL-NAIVE forecastability per key — the MASE denominator
    * pair (Hyndman & Koehler 2006) computed EXACTLY: how much better
    * does "same slot last season" predict the series than "previous
    * observation"?
    *
    *   sad_season = Σ_{t>m} |x_t − x_{t−m}|     (season lag m)
    *   sad_naive  = Σ_{t>1} |x_t − x_{t−1}|
    *   mase_x     = (sad_season/(n−m)) / (sad_naive/(n−1))
    *
    * mase_x ≪ 1 ⟹ strong seasonality (the seasonal naive forecast
    * dominates); ≈ 1 ⟹ no seasonal structure. Integer SADs are exact
    * int64 sums; the ratio is two divisions and one quotient of
    * already-divided doubles — engine-exact. Two lag windows
    * PARTITIONED BY KEY over the key's ordered rows (bounded by the
    * key's own cardinality — the stateRuns discipline, never a global
    * sort); keys with n ≤ m drop; a flat series (sad_naive = 0) → NaN.
    * Output: (key, n, sad_season, sad_naive, mase_x). */
  def seasonalNaiveError(df: DataFrame, keyCol: String,
                         ordCols: Seq[String], xCol: String,
                         season: Int): DataFrame = {
    require(season >= 1, s"seasonalNaiveError needs season >= 1, got $season")
    require(ordCols.nonEmpty,
      "seasonalNaiveError needs at least one order column")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(ordCols.map(col) :+ col("__x"): _*)
    val base = df.select(col(keyCol) +: (ordCols.map(col) :+
      col(xCol).cast("long").as("__x")): _*)
      .withColumn("__lag1", lag(col("__x"), 1).over(w))
      .withColumn("__lagm", lag(col("__x"), season).over(w))
    base.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(abs(col("__x") - col("__lagm"))).as("sad_season"),
        sum(abs(col("__x") - col("__lag1"))).as("sad_naive"))
      .where(col("n") > season.toLong)
      .select(col(keyCol), col("n"), col("sad_season"), col("sad_naive"),
        when(col("sad_naive") === 0L, lit(Double.NaN)).otherwise(
          (col("sad_season").cast("double")
            / (col("n") - season.toLong).cast("double"))
            / (col("sad_naive").cast("double")
              / (col("n") - 1L).cast("double"))).as("mase_x"))
  }

  /** EXACT QUANTILE MAPPING (CDF matching) per key: translate every
    * value of a TARGET distribution onto the REFERENCE distribution
    * occupying the same rank — the distribution-alignment primitive
    * (harmonize a drifted feature across sources/instruments, map a
    * new scorer's outputs onto the calibrated scale of the old one):
    *
    *   mapped(v) = min { va : 2·cumA(va)·nB ≥ pct_x2_B(v)·nA }
    *
    * i.e. the smallest reference value whose CDF reaches the target
    * value's midrank percentile — the comparison is CROSS-MULTIPLIED
    * so both sides stay exact integers. The [[ksStatistic]] bound
    * (2·nA·nB must fit int64) is CHECKED before execution, not
    * documented: one aggregation per side over the CDF tables
    * verifies every key holds ≤ 1.5·10⁹ rows per side and fails
    * loudly with the rank-sketch pointer.
    *
    * Shape: two [[exactGroupCdf]] tables (CHECKED bounded-histogram
    * contract each), per-key totals joined across sides, and the
    * monotone min-threshold search rides the FORWARD MERGE AS-OF exec
    * ([[AsOf.asofJoinForward]]) — one shuffle+sort per side on the
    * integer axis, never a |VA|×|VB| pair join. The axis always
    * resolves (max S = max T = 2·nA·nB), so no target value drops.
    * Output: (key, v, v_mapped), nondecreasing in v per key. */
  def quantileMap(ref: DataFrame, tgt: DataFrame, keyCol: String,
                  xCol: String,
                  maxDistinctPerKey: Long = 2000000L,
                  maxRowsPerSide: Long = 1500000000L): DataFrame = {
    require(maxRowsPerSide <= 1500000000L,
      s"quantileMap: maxRowsPerSide $maxRowsPerSide exceeds the " +
        "cross-multiplied int64 capacity (1.5e9 keeps 2*nA*nB in int64)")
    val cdfA = exactGroupCdf(ref, keyCol, xCol, maxDistinctPerKey)
      .select(col(keyCol), col("v").as("__va"),
        (col("n_below") + col("n_equal")).as("__cumA"),
        col("n").as("__nA"))
    val cdfB = exactGroupCdf(tgt, keyCol, xCol, maxDistinctPerKey)
      .select(col(keyCol), col("v"), col("pct_x2").as("__pxB"),
        col("n").as("__nB"))
    val nAtab = cdfA.groupBy(col(keyCol)).agg(max(col("__nA")).as("__nAk"))
    val nBtab = cdfB.groupBy(col(keyCol)).agg(max(col("__nB")).as("__nBk"))
    // cross-multiplied int64 envelope: axes reach 2·nA·nB per key —
    // each side's per-key rows must stay ≤ 1.5e9 (2·(1.5e9)² ≈ 4.5e18)
    def sideBound(tab: DataFrame, c: String, side: String): Unit =
      Contracts.enforce(tab, Contracts.Bound(max(col(c)),
        _ <= maxRowsPerSide, m =>
          s"quantileMap: a key's $side sample holds $m rows, exceeding " +
            "the cross-multiplied int64 exactness contract (limit " +
            s"$maxRowsPerSide; 1.5e9 keeps 2*nA*nB in int64). Sample " +
            "the sides, or map through rank-sketch quantiles " +
            "(rq_quantile, q193 path) at this scale."))
    sideBound(nAtab, "__nAk", "reference")
    sideBound(nBtab, "__nBk", "target")
    val aRows = cdfA.join(nBtab, Seq(keyCol))
      .select(col(keyCol),
        (col("__cumA") * lit(2L) * col("__nBk")).as("__axis"),
        col("__va"))
    val bRows = cdfB.join(nAtab, Seq(keyCol))
      .select(col(keyCol), col("v"),
        (col("__pxB") * col("__nAk")).as("__axis"))
    AsOf.asofJoinForward(bRows, aRows, keyCol, "__axis", inner = true)
      .select(col(keyCol), col("v"), col("__va").as("v_mapped"))
  }

  /** EXACT per-group PEARSON correlation on raw integer values — the
    * linear-association member of the per-key correlation triple
    * ([[spearmanByKey]] ranks it, [[kendallTauByKey]] counts pair
    * concordance; Pearson answers "how linear is the relationship in
    * the original units", the only one of the three that sees
    * magnitude, not just order):
    *
    *   r = (n·Σxy − Σx·Σy) / (√(n·Σx² − (Σx)²) · √(n·Σy² − (Σy)²))
    *
    * ONE map-side-combining aggregation collects the six sufficient
    * statistics per key; five values per key cross the shuffle
    * regardless of group size. The sums and variance products are
    * formed in decimal(38,0) — exact integers to 10³⁸ — so there is no
    * silent int64 wrap and no ANSI mid-query throw; DuckDB replays the
    * identical integers via HUGEINT and both engines cast the same
    * exact value to double once (two sqrts + one division, fixed IEEE
    * shape → bit-exact r).
    *
    * The exactness contract is CHECKED, not documented (the
    * connectedComponents discipline): n²·B⁴ must stay under 10³⁸ for
    * the variance products (B = max |value| on either axis), which one
    * Contracts job verifies as maxRows·maxAbs² ≤ 10¹⁹ conservatively
    * (per-key row count paired with the GLOBAL max magnitude — looser
    * than per-key pairing but one aggregation cheaper, and honest: a
    * violation means SOME key may be inexact). Rows with a NULL on
    * either axis drop explicitly — count(1) must count exactly the
    * rows the NULL-skipping sums saw (the groupOls rule). Zero
    * variance on either axis → NaN. Output: (key, n, r). */
  def pearsonByKey(df: DataFrame, keyCol: String, xCol: String,
                   yCol: String): DataFrame = {
    val base = df
      .select(col(keyCol), col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
      .localCheckpoint()
    // one job sizes the contract: per-key n and global max|value| —
    // n^2 B^4 <= 1e38 <=> n·B^2 <= 1e19; enforced conservatively on
    // the max row count x the squared global magnitude bound
    val perKey = base.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"),
      greatest(max(abs(col("__x"))), max(abs(col("__y")))).as("__b"))
    val Seq(maxN, maxB) = Contracts.enforce(perKey,
      Contracts.read(max(col("__n"))), Contracts.read(max(col("__b"))))
    require(maxB <= 3000000000L &&
      BigInt(maxN) * BigInt(maxB) * BigInt(maxB) <= BigInt(10).pow(19),
      s"pearsonByKey: rows-per-key x maxAbs^2 = $maxN x $maxB^2 exceeds " +
        "the decimal(38,0) exactness contract (n*B^2 <= 1e19). Rescale " +
        "the values to coarser integer units, or rank-correlate instead " +
        "(spearmanByKey / kendallTauByKey are magnitude-free).")
    val x = col("__x").cast("decimal(38,0)")
    val y = col("__y").cast("decimal(38,0)")
    val agg = base.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
    val nDec = col("n").cast("decimal(38,0)")
    val vx = nDec * col("sxx") - col("sx") * col("sx")
    val vy = nDec * col("syy") - col("sy") * col("sy")
    agg.select(col(keyCol), col("n"),
      when(vx === lit(0) || vy === lit(0), lit(Double.NaN)).otherwise(
        (nDec * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
        .as("r"))
  }

  /** DIFFERENCE-IN-DIFFERENCES per key — the workhorse quasi-
    * experimental lift estimator when assignment wasn't randomized
    * (feature rollouts by region, supplier policy changes, crawl-
    * source interventions): the treated group's pre→post change minus
    * the control group's pre→post change cancels shared time trends,
    *
    *   did = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre)
    *
    * ONE map-side-combining aggregation collects the 2×2 cell counts
    * and exact long value sums (eight longs per key cross the
    * shuffle); each mean is one double division and the two
    * subtractions are a fixed IEEE shape — engine-exact. NULL
    * treated/post/value rows are REJECTED inside the same aggregation
    * via the raise_error branch (the [[twoProportionZ]] lazy checked
    * contract — a NULL cell assignment silently moving mass between
    * cells is the classic way a DiD readout lies). Keys missing any
    * of the four cells drop (no counterfactual → no estimate).
    * Output: (key, n_t_pre, n_t_post, n_c_pre, n_c_post, did). */
  def diffInDiff(df: DataFrame, keyCol: String, treatedCol: String,
                 postCol: String, valueCol: String): DataFrame = {
    val tr = col(treatedCol).cast("boolean")
    val po = col(postCol).cast("boolean")
    val v = col(valueCol).cast("long")
    // cell sums accumulate in decimal(38,0): the only integer
    // expressions here are the four Σv (no squares, no cross
    // products), so exactness to 10³⁸ needs no checked bound — a
    // plain long Σv could wrap silently past n·B ≈ 9·10¹⁸ in
    // non-ANSI Spark (the pearsonByKey discipline, sum-only case)
    val vD = v.cast("decimal(38,0)")
    val zeroD = lit(0L).cast("decimal(38,0)")
    def cell(p: Column, n: String, s: String) = Seq(
      sum(when(p, 1L).otherwise(0L)).as(n),
      sum(when(p, vD).otherwise(zeroD)).as(s))
    val cols = cell(tr && po, "n_t_post", "s_t_post") ++
      cell(tr && !po, "n_t_pre", "s_t_pre") ++
      cell(!tr && po, "n_c_post", "s_c_post") ++
      cell(!tr && !po, "n_c_pre", "s_c_pre") :+
      sum(when(tr.isNull || po.isNull || v.isNull, 1L).otherwise(0L))
        .as("__bad")
    def m(s: String, n: String) =
      col(s).cast("double") / col(n).cast("double")
    df.groupBy(col(keyCol))
      .agg(cols.head, cols.tail: _*)
      .where(when(col("__bad") > 0L,
        raise_error(concat(
          lit("diffInDiff: NULL treated/post/value rows under key "),
          col(keyCol).cast("string"),
          lit(" — assign every row a cell and an outcome, or filter " +
            "explicitly before calling"))).isNotNull)
        .otherwise(lit(true)))
      .where(col("n_t_post") > 0L && col("n_t_pre") > 0L &&
        col("n_c_post") > 0L && col("n_c_pre") > 0L)
      .select(col(keyCol), col("n_t_pre"), col("n_t_post"),
        col("n_c_pre"), col("n_c_post"),
        ((m("s_t_post", "n_t_post") - m("s_t_pre", "n_t_pre"))
          - (m("s_c_post", "n_c_post") - m("s_c_pre", "n_c_pre")))
          .as("did"))
  }

  /** KAPLAN–MEIER survival curve per cohort — the time-to-event
    * workhorse (user churn, supplier attrition, document staleness)
    * with RIGHT-CENSORING handled correctly: a subject still alive at
    * observation end ("censored") leaves the risk set without counting
    * as an event, which a naive "fraction churned by day t" silently
    * gets wrong. At each distinct event time t (ascending):
    *
    *   S(t) = Π_{s ≤ t} (n_s − d_s) / n_s
    *
    * with d_s = events at s and n_s = subjects still at risk
    * (duration ≥ s). Exactness: durations collapse to a CHECKED
    * bounded per-key histogram (one row per distinct duration — the
    * exact-median discipline), the risk set is integer window
    * arithmetic over it, each step factor is ONE double division of
    * exact longs, and the running product folds STRICTLY left-to-
    * right in the [[graft.functions.PrefixProd]] kernel — the same
    * sequential fold a SQL `list_reduce` replays, so the whole curve
    * is engine-exact. NULL duration/event rows are rejected before
    * anything runs (checked contract, one Contracts job on the
    * checkpointed base). Censoring-only times don't step the curve
    * (d = 0 rows drop — standard KM). Per-key curve length is bounded
    * by the histogram contract, so the collect_list rides the
    * documented series-kernel bound (the burstDays shape).
    * Output: (key, t, d, n_at_risk, survival). */
  def kaplanMeier(df: DataFrame, keyCol: String, durationCol: String,
                  eventCol: String,
                  maxDistinctPerKey: Long = 100000L): DataFrame = {
    val (base, _) = Contracts.checkpoint(
      df.select(col(keyCol), col(durationCol).cast("long").as("__t"),
        col(eventCol).cast("boolean").as("__e")),
      Contracts.Bound(sum(when(col("__t").isNull || col("__t") < 0L ||
        col("__e").isNull, 1L).otherwise(0L)), _ == 0L, b =>
        s"kaplanMeier: $b rows with NULL/negative duration or NULL " +
          "event flag — every subject needs a non-negative duration " +
          "and an observed/censored outcome"))
    val hist = base.groupBy(col(keyCol), col("__t"))
      .agg(sum(when(col("__e"), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("__c"))
      .localCheckpoint()
    Contracts.boundedPerKey(hist, keyCol, maxDistinctPerKey,
      "kaplanMeier", "distinct durations",
      "Quantize the duration axis (days, not micros) so the per-key " +
        "histogram stays bounded.")
    val wAll = Window.partitionBy(col(keyCol))
    val wBefore = Window.partitionBy(col(keyCol)).orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val steps = hist
      .withColumn("n_at_risk", sum(col("__c")).over(wAll)
        - coalesce(sum(col("__c")).over(wBefore), lit(0L)))
      .where(col("d") > 0L)
    steps.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("__t"), col("d"),
        col("n_at_risk")))).as("__s"))
      .withColumn("__surv", graft.functions.prefix_prod(
        transform(col("__s"), x =>
          (x("n_at_risk") - x("d")).cast("double")
            / x("n_at_risk").cast("double"))))
      .select(col(keyCol), col("__surv"), posexplode(col("__s")))
      .select(col(keyCol), col("col.__t").as("t"), col("col.d").as("d"),
        col("col.n_at_risk").as("n_at_risk"),
        element_at(col("__surv"), col("pos") + 1).as("survival"))
  }

  /** LEAVE-ONE-OUT TARGET ENCODING — the leakage-safe categorical
    * feature every tabular trainer wants: each row's category is
    * encoded as the mean outcome of all OTHER rows in that category,
    *
    *   loo_i = (Σ_cat y − y_i) / (n_cat − 1)
    *
    * (plain target-mean encoding leaks each row's own label into its
    * feature, which a tree model exploits into fake validation lift).
    * Exact: ONE map-side-combining aggregation collapses categories to
    * (Σy, n) integer pairs — category-cardinality-sized, broadcast
    * back — and each row pays one exact long subtraction + ONE double
    * division, engine-exact. Singleton categories have no "others" →
    * NULL (the caller decides the fallback prior; silently emitting
    * the global mean would hide the leak this encoder exists to
    * avoid). NULL outcomes are rejected up front (checked contract —
    * a NULL y skipped by Σ but counted by n would shift every
    * sibling's encoding). The join-back carries NO broadcast hint:
    * target encoding gets reached for exactly when the categorical is
    * high-cardinality (domains, user segments, near-ID columns), where
    * a forced broadcast of the unbounded (Σy, n) table OOMs the
    * driver — AQE picks broadcast at runtime when the table actually
    * fits, and falls back to a shuffle join when it doesn't (the
    * retentionCohorts discipline). Output: input key/cat/y + loo. */
  def looTargetEncoding(df: DataFrame, idCol: String, catCol: String,
                        yCol: String): DataFrame = {
    val (base, _) = Contracts.checkpoint(df.select(col(idCol), col(catCol),
      col(yCol).cast("long").as("__y")),
      Contracts.Bound(sum(when(col("__y").isNull, 1L).otherwise(0L)),
        _ == 0L, b => s"looTargetEncoding: $b rows with NULL outcome — " +
          "encode only labeled rows (filter or impute first)"))
    val cats = base.groupBy(col(catCol))
      .agg(sum(col("__y")).as("__s"), count(lit(1)).as("__n"))
    base.join(cats, Seq(catCol))
      .select(col(idCol), col(catCol), col("__y").as(yCol),
        when(col("__n") > 1L,
          (col("__s") - col("__y")).cast("double")
            / (col("__n") - lit(1L)).cast("double"))
          .as("loo"))
  }

  /** ROLLING OLS TREND per key — [[groupOls]]'s windowed sibling: at
    * every observation, the least-squares slope over the TRAILING
    * `window` points (x = the observation's per-key sequence index,
    * y = the value), i.e. "how fast is this entity's metric moving
    * RIGHT NOW" — the telemetry/spend drift monitor that a whole-
    * history slope smears out. Only rows with a full window emit (a
    * partial window's slope isn't comparable to its neighbors').
    *
    * Exactness shape: the OLS slope is invariant under x-translation
    * (n·Σ(x−c)y − Σ(x−c)Σy = n·Σxy − Σx·Σy and likewise the
    * denominator, in EXACT arithmetic), so every full frame is
    * rebased to x' = 1..w: Σx' = w(w+1)/2 and Σx'² = w(w+1)(2w+1)/6
    * become driver-side constants, the denominator w·Σx'² − (Σx')² is
    * ONE exact BigInt literal shared by every row, and the rebased
    * cross sum Σx'y = Σxy − (x_now − w)·Σy is formed from the frame's
    * decimal(38,0) Σxy (rowsBetween −(w−1)..0 — Spark's sliding-frame
    * aggregation, order-pinned by the (orderCol, idCol) sort). After
    * rebasing, every magnitude depends on the WINDOW and the value
    * scale — never on the key's row count, which is what sank the
    * previous all-long form (x = row_number grows with key history, so
    * Σx² ≈ w·n² wrapped int64 near n ≈ 10⁹/√w). The one n-dependent
    * intermediate left (the unrebased decimal Σxy ≤ w·n·B) is CHECKED
    * before execution: one Contracts job verifies
    * maxRowsPerKey · w · maxAbs(y) ≤ 10³⁷ (decimal(38,0) headroom with
    * a 10× margin — int64 row counts can never violate it alone, the
    * guard exists for the magnitude product). The slope is ONE double
    * division of the same exact integers the unrebased formula yields,
    * so identical SQL window frames over true x replay it bit-for-bit.
    * The windows partition by key (bounded by one key's history — the
    * sessionize discipline, never a global sort). Output: every
    * full-window row (key, orderCol, idCol, n, slope). */
  def rollingOlsSlope(df: DataFrame, keyCol: String, orderCol: String,
                      idCol: String, yCol: String,
                      window: Int): DataFrame = {
    require(window >= 2, s"rollingOlsSlope needs window >= 2, got $window")
    val w = window.toLong
    // rebased-x closed forms (x' = 1..w in every full frame)
    val sxC = BigInt(w) * (w + 1) / 2
    val sxxC = BigInt(w) * (w + 1) * (2 * w + 1) / 6
    val denC = BigInt(w) * sxxC - sxC * sxC
    val base0 = df.select(col(keyCol), col(orderCol), col(idCol),
      col(yCol).cast("long").as("__y")).localCheckpoint()
    val perKey = base0.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__n"), max(abs(col("__y"))).as("__b"))
    val Seq(maxN, maxB) = Contracts.enforce(perKey,
      Contracts.read(max(col("__n"))), Contracts.read(max(col("__b"))))
    require(BigInt(maxN) * BigInt(w) * BigInt(maxB) <= BigInt(10).pow(37),
      s"rollingOlsSlope: rows-per-key x window x maxAbs(y) = " +
        s"$maxN x $w x $maxB exceeds the decimal(38,0) exactness " +
        "contract (n*w*B <= 1e37). Rescale the values to coarser " +
        "integer units.")
    val wSeq = Window.partitionBy(col(keyCol))
      .orderBy(col(orderCol), col(idCol))
    val wFrame = wSeq.rowsBetween(-(window - 1L), 0L)
    val y = col("__y")
    val base = base0
      .withColumn("__x", row_number().over(wSeq).cast("long"))
      .withColumn("__n", count(lit(1)).over(wFrame))
      .withColumn("__sy", sum(y.cast("decimal(38,0)")).over(wFrame))
      .withColumn("__sxy", sum(col("__x").cast("decimal(38,0)")
        * y.cast("decimal(38,0)")).over(wFrame))
      .where(col("__n") === w)
    // rebase: c = x_now − w;  Σx'y = Σxy − c·Σy  (exact)
    val c = (col("__x") - lit(w)).cast("decimal(38,0)")
    val sxyR = col("__sxy") - c * col("__sy")
    val num = lit(w).cast("decimal(38,0)") * sxyR -
      lit(sxC.toString).cast("decimal(38,0)") * col("__sy")
    base.select(col(keyCol), col(orderCol), col(idCol),
      col("__n").as("n"),
      (num.cast("double") / lit(denC.toDouble)).as("slope"))
  }

  /** EQUAL-FREQUENCY BUCKETS per key — exact quantile discretization
    * (the feature-binning prep step before WOE/monotonic encodings
    * and per-segment reporting): every distinct value maps to the
    * bucket its MIDRANK percentile falls in,
    *
    *   bucket(v) = 1 + (pct_x2(v) · nBuckets) div (2n)   ∈ [1, nBuckets]
    *
    * with pct_x2 = 2·below + equal from [[exactGroupCdf]] — pure
    * integer arithmetic (pct_x2 < 2n always, so the div lands in
    * 0..nBuckets−1), no float percentile and no ntile window over raw
    * rows. Ties share one value row and therefore one bucket — the
    * honest behavior ntile fakes by splitting equal values across
    * bucket boundaries. Output is the VALUE-level table
    * (key, v, n_equal, bucket) — row-level assignment is one
    * co-partitioned (key, v) equi-join away; inherits the CHECKED
    * bounded-histogram contract. */
  def equalFrequencyBuckets(df: DataFrame, keyCol: String,
                            valueCol: String, nBuckets: Int,
                            maxDistinctPerKey: Long = 2000000L): DataFrame = {
    require(nBuckets >= 2, s"equalFrequencyBuckets needs nBuckets >= 2")
    exactGroupCdf(df, keyCol, valueCol, maxDistinctPerKey)
      .select(col(keyCol), col("v"), col("n_equal"),
        (lit(1L) + expr(s"(pct_x2 * $nBuckets) div (2 * n)")).as("bucket"))
  }

  /** CHECKS the per-key bounded-histogram contract the exact
    * median/MAD/mode family depends on (the `connectedComponents`
    * discipline: verify the assumption, don't just document it). The
    * histogram arrives already localCheckpoint'ed, so the guard
    * aggregation reuses the materialized rows and the main plan pays
    * nothing extra. On a continuous column the per-key histogram
    * degenerates to the key's row count — the cumulative window then
    * sorts data-sized partitions — so we fail loudly with a pointer at
    * the turnkey continuous-column routes: the mergeable rank sketch
    * (rq_sketch, no bounds guessing), the bounded-bin sketch quantiles
    * (q66), and the robust outliers (q124). One line, one job — the
    * shared [[Contracts]] shape. */
  private def requireBoundedPerKey(hist: DataFrame, keyCol: String,
                                   limit: Long, op: String): Unit =
    Contracts.boundedPerKey(hist, keyCol, limit, op, "distinct values",
      distinctHint)

  /** The [[requireBoundedPerKey]] bound over `stat` (the heaviest key's
    * distinct-value count), for passes that fuse it with other bounds. */
  private def distinctPerKey(stat: Column, limit: Long,
                             op: String): Contracts.Bound =
    Contracts.perKey(stat, limit, op, "distinct values", distinctHint)

  private val distinctHint =
    "Quantize the column to discrete units, or use the mergeable rank " +
      "sketch (rq_sketch / rq_quantile, q192 path — no bin bounds needed) " +
      "or the sketch quantiles / robust outliers (Sketches, q66/q124 " +
      "paths) for continuous values."

  /** K-ANONYMITY / L-DIVERSITY corpus profile — the pre-publication
    * privacy gate for a training corpus (Sweeney 2002; Machanavajjhala
    * 2007): rows group into EQUIVALENCE CLASSES by their
    * quasi-identifier combination, and a corpus is k-anonymous iff
    * every class holds ≥ k rows (a smaller class re-identifies its
    * members by linkage) and l-diverse iff every class spans ≥ l
    * distinct sensitive values (a 1-diverse class leaks the sensitive
    * attribute even at k-anonymity — everyone in it shares the value).
    * One summary row:
    *
    *   (n_rows, n_classes, min_class_size, rows_below_k,
    *    classes_below_k, min_l_diversity, frac_below_k)
    *
    * NULL semantics, pinned: a NULL quasi-identifier is its own
    * equivalence-class value (groupBy semantics — NULL-linked rows DO
    * link to each other); NULL sensitive values are excluded from the
    * diversity count (count-distinct semantics — an all-NULL-sensitive
    * class has l = 0, surfaced, not hidden). All counts are exact
    * integers; frac_below_k is the single double division.
    *
    * Scale shape: ONE aggregation to the class table and ONE global
    * reduction over it — no window, no sort, no collect. The honest
    * shuffle bound: the exact count-distinct's intermediate is the
    * DISTINCT (class, sensitive) pair set (map-side partial distinct
    * dedups within partitions, but the pair set itself can approach
    * row count when the sensitive column is near-unique — which is
    * precisely when the corpus is at its safest and an approximate
    * answer would also do). Where that shuffle is too heavy at 100 TB,
    * the streaming twin's capped formulation
    * ([[graft.streaming.Streaming.streamingKAnonymityClasses]] —
    * least(l, lCap+1), exact for every at-risk class) bounds the
    * per-class state instead. */
  def kAnonymityProfile(df: DataFrame, quasiCols: Seq[String],
                        sensitiveCol: String, k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymityProfile needs quasi columns")
    require(k >= 2, s"kAnonymityProfile needs k >= 2, got $k")
    val classes = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        countDistinct(col(sensitiveCol)).as("__l"))
    classes
      .agg(sum(col("__n")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("__n")).as("min_class_size"),
        sum(when(col("__n") < k, col("__n")).otherwise(0L))
          .as("rows_below_k"),
        sum(when(col("__n") < k, 1L).otherwise(0L)).as("classes_below_k"),
        min(col("__l")).as("min_l_diversity"))
      .withColumn("frac_below_k",
        col("rows_below_k").cast("double") / col("n_rows").cast("double"))
  }

  /** The ACTIONABLE side of [[kAnonymityProfile]]: the topN WORST
    * equivalence classes (smallest first — the most re-identifiable
    * rows) below the k threshold, with their sizes and sensitive-value
    * diversity, so the curation pass knows exactly which
    * quasi-identifier combinations to generalize or drop. Ordered
    * (size ASC, quasi values ASC — total, since class keys are
    * unique) and LIMITed — TakeOrderedAndProject, never a global
    * sort. Same NULL semantics as the profile. */
  def kAnonymityViolations(df: DataFrame, quasiCols: Seq[String],
                           sensitiveCol: String, k: Long,
                           topN: Int): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymityViolations needs quasi columns")
    require(k >= 2 && topN >= 1,
      s"kAnonymityViolations needs k >= 2 and topN >= 1")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col(sensitiveCol)).as("l_diversity"))
      .where(col("class_size") < k)
      .orderBy(col("class_size").asc +: quasiCols.map(col(_).asc): _*)
      .limit(topN)
  }

  /** T-CLOSENESS PROFILE — the third rung of the release-privacy
    * ladder (Li, Li & Venkatasubramanian 2007; [[kAnonymityProfile]]
    * guards class SIZE, its l-diversity guards value COUNT, this
    * guards the value DISTRIBUTION: an attacker who knows the class
    * learns little iff the class's sensitive distribution stays close
    * to the global one). Distance is total variation — the paper's
    * choice for categorical sensitive attributes:
    *
    *   TV(class) = ½ Σ_v | p_class(v) − p_global(v) |
    *
    * Exactness: cross-multiplied integers — per class,
    * TV·(2·n·N) = Σ_{v present} |c_v·N − n·G_v| + n·(N − Σ_present G_v)
    * (the absent-value tail in closed form — no class×value cross
    * join), formed in decimal(38,0) and floored ONCE to micro units
    * by integral division. NULL sensitive values are REJECTED loudly
    * (a NULL category silently drops from the distribution joins —
    * encode explicitly first); NULL quasi values keep groupBy
    * semantics END TO END — the cells↔sizes join is NULL-SAFE (`<=>`
    * per quasi column), so a class keyed by a NULL quasi value is
    * audited like any other instead of silently dropping. Sensitive
    * cardinality is CHECKED ≤ 10⁶ (the global value table
    * broadcasts).
    *
    * Scale shape: one aggregation to the (class, value) cell table,
    * one bounded global-value rollup broadcast back, one per-class
    * reduction — no window, no collect, no cross join.
    * Output one row: (n_rows, n_classes, n_values, max_tv_micro,
    * classes_above_t, rows_above_t). */
  def tClosenessProfile(df: DataFrame, quasiCols: Seq[String],
                        sensitiveCol: String, tMicro: Long): DataFrame = {
    require(quasiCols.nonEmpty, "tClosenessProfile needs quasi columns")
    require(tMicro >= 0L && tMicro <= 1000000L,
      s"tClosenessProfile: tMicro must be in [0, 1e6], got $tMicro")
    val dec = "decimal(38,0)"
    val (cells, _) = Contracts.checkpoint(df
      .groupBy((quasiCols.map(col) :+ col(sensitiveCol).as("__v")): _*)
      .agg(count(lit(1)).as("__c")),
      Contracts.Bound(sum(when(col("__v").isNull, 1L).otherwise(0L)),
        _ == 0L, b =>
          s"tClosenessProfile: $b cells carry a NULL sensitive value " +
            "— encode it explicitly first (NULL drops from the " +
            "distribution joins)"))
    val (glob, _) = Contracts.checkpoint(
      cells.groupBy(col("__v")).agg(sum(col("__c")).as("__g")),
      Contracts.Bound(count(lit(1)), _ <= 1000000L, v =>
        s"tClosenessProfile: $v distinct sensitive values exceed the " +
          "broadcastable global-table contract (1e6)"))
    val nRow = glob.agg(sum(col("__g")).as("__tot"))
    // NULL-SAFE class-size join: usingColumns equality would drop any
    // class with a NULL quasi value (groupBy kept it; the join must
    // too) — rename the size side and join on <=> per quasi column,
    // which Catalyst still plans as a hash-join key.
    val sizes = cells.groupBy(quasiCols.map(col): _*)
      .agg(sum(col("__c")).as("__n"))
      .select((quasiCols.zipWithIndex.map { case (c, i) =>
        col(c).as(s"__k$i") } :+ col("__n")): _*)
    val sizeCond = quasiCols.zipWithIndex
      .map { case (c, i) => col(c) <=> col(s"__k$i") }.reduce(_ && _)
    val perClass = cells
      .join(sizes, sizeCond)
      .drop(quasiCols.indices.map(i => s"__k$i"): _*)
      .join(broadcast(glob), "__v")
      .crossJoin(broadcast(nRow))
      .groupBy(quasiCols.map(col): _*)
      .agg(max(col("__n")).as("__n"), max(col("__tot")).as("__tot"),
        sum(abs(col("__c").cast(dec) * col("__tot").cast(dec) -
          col("__n").cast(dec) * col("__g").cast(dec))).as("__numP"),
        sum(col("__g").cast(dec)).as("__gP"))
      .select(col("__n"),
        call_function("div",
          lit(1000000L).cast(dec) * (col("__numP") +
            col("__n").cast(dec) *
              (col("__tot").cast(dec) - col("__gP"))),
          lit(2L).cast(dec) * col("__n").cast(dec) *
            col("__tot").cast(dec)).as("__tv"))
    perClass
      .crossJoin(broadcast(glob.agg(count(lit(1)).as("n_values"))))
      .agg(sum(col("__n")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        max(col("n_values")).as("n_values"),
        max(col("__tv")).as("max_tv_micro"),
        sum(when(col("__tv") > tMicro, 1L).otherwise(0L))
          .as("classes_above_t"),
        sum(when(col("__tv") > tMicro, col("__n")).otherwise(0L))
          .as("rows_above_t"))
  }

  /** ORDERED T-CLOSENESS (EMD) PROFILE — [[tClosenessProfile]]'s
    * companion for ORDERED sensitive attributes (Li, Li &
    * Venkatasubramanian 2007 §4.2: for salary bands, a class
    * concentrated one band away is FAR less exposed than one
    * concentrated at the extreme — total variation can't tell them
    * apart; the ordered-distance EMD can):
    *
    *   EMD(class) = (1/(m−1)) Σ_{i<m} | Σ_{j≤i} (p_class(j) − p_glob(j)) |
    *
    * over the m global values in ascending order. Exactness: the
    * cumulative term Σ_{j≤i}(c_j·N − n·G_j) forms in decimal(38,0)
    * over exact integers and the profile floors ONCE per class:
    * emd_micro = ⌊10⁶·Σ|cum| / (n·N·(m−1))⌋. The final cumulative is
    * identically 0 (both sides sum to n·N), so summing all m ranks
    * equals the i<m definition exactly. NULL or non-integral
    * sensitive values are REJECTED loudly — non-integral by a CAST
    * ROUNDTRIP check (ANSI cast("long") TRUNCATES fractional numerics
    * rather than erroring, so 2.7 would silently band as 2; the
    * contract compares value == cast(cast(value as long) as
    * original-type) and raises on any mismatch). NULL quasi values
    * keep groupBy semantics END TO END: the grid's cells join is
    * NULL-SAFE (`<=>` per quasi column), so a NULL-keyed class scores
    * with its true counts instead of an all-zero (EMD-inflating) row.
    * m is CHECKED ≤ 64 (the class×rank grid and the broadcast value
    * list stay bounded); m ≥ 2 required (EMD over one value is
    * undefined).
    *
    * Scale shape: one aggregation to the (class, value) cells, a
    * broadcast of the ≤64-row global value table to build the
    * class×rank grid, ONE window cumsum over that BOUNDED grid
    * (64·classes rows — never raw rows), one per-class reduction.
    * Output one row: (n_rows, n_classes, n_values, max_emd_micro,
    * classes_above_t, rows_above_t). */
  def tClosenessOrdered(df: DataFrame, quasiCols: Seq[String],
                        sensitiveCol: String, tMicro: Long): DataFrame = {
    require(quasiCols.nonEmpty, "tClosenessOrdered needs quasi columns")
    require(tMicro >= 0L && tMicro <= 1000000L,
      s"tClosenessOrdered: tMicro must be in [0, 1e6], got $tMicro")
    val dec = "decimal(38,0)"
    // Non-integral detection must be a ROUNDTRIP, not a cast: ANSI
    // cast(2.7 as long) truncates to 2 (only overflow errors), so a
    // fractional band would silently merge into the wrong rank.
    // Integral-typed inputs roundtrip by construction; for the rest,
    // value != cast(cast(value as long) as T) is exact (an integral
    // double d has (double)(long)d == d bit-for-bit).
    val sT = df.schema(sensitiveCol).dataType
    val nonIntegral = sT match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => lit(false)
      case _ => col(sensitiveCol).isNotNull &&
        !(col(sensitiveCol).cast("long").cast(sT) <=> col(sensitiveCol))
    }
    val (cells, _) = Contracts.checkpoint(df
      .groupBy((quasiCols.map(col) :+
        col(sensitiveCol).cast("long").as("__v")): _*)
      .agg(count(lit(1)).as("__c"),
        sum(when(col(sensitiveCol).isNull || nonIntegral, 1L)
          .otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")) +
        sum(when(col("__v").isNull, 1L).otherwise(0L)), _ == 0L, b =>
        s"tClosenessOrdered: $b cells carry NULL or non-integral " +
          "sensitive values (fractional values do NOT truncate-band; " +
          "they reject) — band/encode them explicitly first"))
    val (glob, Seq(m)) = Contracts.checkpoint(
      cells.groupBy(col("__v")).agg(sum(col("__c")).as("__g")),
      Contracts.Bound(count(lit(1)), v => v >= 2L && v <= 64L, v =>
        s"tClosenessOrdered: $v distinct sensitive values outside " +
          "[2, 64] — EMD needs an order and a bounded band grid"))
    val nRow = glob.agg(sum(col("__g")).as("__tot"))
    val sizes = cells.groupBy(quasiCols.map(col): _*)
      .agg(sum(col("__c")).as("__n"))
    // class × rank grid: every class meets every global value. The
    // cells join is NULL-SAFE on the quasi columns — a usingColumns
    // left join would never match a NULL quasi key, leaving that
    // class with all-zero counts (a falsely extreme EMD).
    val cellsR = cells.select((quasiCols.zipWithIndex.map { case (c, i) =>
      col(c).as(s"__k$i") } :+ col("__v").as("__vv") :+ col("__c")): _*)
    val gridCond = (quasiCols.zipWithIndex
      .map { case (c, i) => col(c) <=> col(s"__k$i") } :+
      (col("__v") === col("__vv"))).reduce(_ && _)
    val grid = sizes
      .crossJoin(broadcast(glob))
      .join(cellsR, gridCond, "left")
      .drop((quasiCols.indices.map(i => s"__k$i") :+ "__vv"): _*)
      .crossJoin(broadcast(nRow))
      .select((quasiCols.map(col) :+ col("__n") :+ col("__tot") :+
        col("__v") :+
        (coalesce(col("__c"), lit(0L)).cast(dec) *
          col("__tot").cast(dec) -
          col("__n").cast(dec) * col("__g").cast(dec)).as("__d")): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(quasiCols.map(col): _*).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val perClass = grid
      .withColumn("__cum", sum(col("__d")).over(w))
      .groupBy(quasiCols.map(col): _*)
      .agg(max(col("__n")).as("__n"), max(col("__tot")).as("__tot"),
        sum(abs(col("__cum"))).as("__acc"))
      .select(col("__n"),
        call_function("div",
          lit(1000000L).cast(dec) * col("__acc"),
          col("__n").cast(dec) * col("__tot").cast(dec) *
            lit(m - 1L).cast(dec)).as("__emd"))
    perClass
      .crossJoin(broadcast(glob.agg(count(lit(1)).as("n_values"))))
      .agg(sum(col("__n")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        max(col("n_values")).as("n_values"),
        max(col("__emd")).as("max_emd_micro"),
        sum(when(col("__emd") > tMicro, 1L).otherwise(0L))
          .as("classes_above_t"),
        sum(when(col("__emd") > tMicro, col("__n")).otherwise(0L))
          .as("rows_above_t"))
  }

  /** MANN–WHITNEY U z-TEST per key — the nonparametric two-sample
    * significance readout (Mann & Whitney 1947): does side A's metric
    * DISTRIBUTION sit above/below side B's, without [[welchT]]'s
    * normality assumption (the right test for heavy-tailed spend /
    * latency metrics). Completes the rank family: [[rankAucByKey]] is
    * the EFFECT SIZE (AUC = U/(na·nb)); this is its z-scored
    * significance with the exact tie correction:
    *
    *   U2_a = Σ_v na_v · (2·cumNbBelow(v) + nb_v)      (doubled U, exact)
    *   σ²_U = na·nb/12 · [ (n+1) − Σ_t(t³−t) / (n(n−1)) ]
    *   z    = (U2_a − na·nb) / (2·σ_U)
    *
    * (E[U2] = na·nb; the tie term sums t³−t over every tie group of
    * size t — groups of 1 contribute 0, so it reduces over the SAME
    * per-(key, value) histogram that carries the counts.)
    *
    * Scale shape: the [[rankAucByKey]] machinery verbatim — rows
    * collapse to a per-(key, value) (na, nb) histogram (map-side
    * combining; shuffle bounded by key×value cardinality, never row
    * count), the cumulative window partitions BY KEY over the bounded
    * histogram, and the z tail is a fixed IEEE shape over exact
    * integers. U2 stays int64 under the same CHECKED n ≤ 2e9 per-key
    * row bound (U2 ≤ 2·na·nb ≤ n²/2); the tie cubes form in
    * decimal(38,0) (t³ ≤ 8e27 at the bound — int64 would wrap past
    * t ≈ 2e6). NULL side/value rows are rejected via the lazy
    * raise_error contract ([[twoProportionZ]] discipline, zero extra
    * jobs beyond the histogram's own guards). Keys missing a side
    * drop (U undefined); an all-tied key has σ_U = 0 exactly
    * ((n³−n)/(n(n−1)) = n+1 in exact arithmetic; bit-exact in double
    * up to n³ < 2⁵³, mirrored by the oracle) → z = NaN.
    * Output: (key, n_a, n_b, u2_a, z). */
  def mannWhitneyZ(df: DataFrame, keyCol: String, sideCol: String,
                   xCol: String,
                   maxDistinctPerKey: Long = 2000000L): DataFrame = {
    val side = col(sideCol).cast("boolean")
    val x = col(xCol).cast("long")
    val (hist, _) = Contracts.checkpoint(df.groupBy(col(keyCol), x.as("__x"))
      .agg(sum(when(side, 1L).otherwise(0L)).as("na"),
        sum(when(!side, 1L).otherwise(0L)).as("nb"),
        sum(when(side.isNull || x.isNull, 1L).otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"mannWhitneyZ: $b NULL side/value rows — assign every row an " +
          "arm and a metric, or filter explicitly before calling"))
    // per-key n ≤ 2e9 keeps U2 ≤ n²/2 int64-exact (the rankAuc bound)
    Contracts.enforce(
      hist.groupBy(col(keyCol)).agg(count(lit(1)).as("__k"),
        sum(col("na") + col("nb")).as("__n")),
      distinctPerKey(max(col("__k")), maxDistinctPerKey, "mannWhitneyZ"),
      Contracts.Bound(max(col("__n")), _ <= 2000000000L, n =>
        s"mannWhitneyZ: a key holds $n rows, exceeding the exact-U2 " +
          "int64 contract (n <= 2e9 per key) — sample the rows per " +
          "key first"))
    val below = Window.partitionBy(col(keyCol)).orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val t = col("na") + col("nb")
    val tD = t.cast("decimal(38,0)")
    val agg = hist
      .withColumn("blw", coalesce(sum(col("nb")).over(below), lit(0L)))
      .groupBy(col(keyCol))
      .agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"),
        sum(col("na") * (lit(2L) * col("blw") + col("nb"))).as("u2_a"),
        sum(tD * tD * tD - tD).as("__t3"))
      .where(col("n_a") > 0L && col("n_b") > 0L)
    val nn = col("n_a") + col("n_b")
    val varU = col("n_a").cast("double") * col("n_b").cast("double") /
      lit(12.0) * ((nn + 1L).cast("double") -
        col("__t3").cast("double") /
          (nn.cast("double") * (nn - 1L).cast("double")))
    agg.select(col(keyCol), col("n_a"), col("n_b"), col("u2_a"),
      when(varU === 0.0, lit(Double.NaN))
        .otherwise((col("u2_a") - col("n_a") * col("n_b")).cast("double") /
          (lit(2.0) * sqrt(varU))).as("z"))
  }

  /** CONFORMAL ANOMALY DETECTION with BENJAMINI–HOCHBERG FDR control —
    * the distribution-free outlier gate for a data feed (Vovk 2005;
    * BH 1995; the composition is Bates et al. 2023's outlier-FDR
    * recipe): each test row gets an EXACT conformal p-value against a
    * held-out calibration sample,
    *
    *   p_i = (1 + #{calibration scores ≥ s_i}) / (n_cal + 1)
    *
    * (a rational — num/den integers, NO floating point), and BH keeps
    * the largest rank k with p_(k) ≤ k·α/m, guaranteeing expected
    * false-discovery rate ≤ α when test rows are exchangeable with the
    * calibration. Returns the discoveries: (id, score, p_num, p_den).
    *
    * Everything is integer-exact: p is monotone nonincreasing in
    * score, so the ascending-p rank order IS the descending-score
    * order — both the per-row p numerators and the BH rank sweep
    * reduce over ONE merged (score → n_cal, n_test) histogram
    * (map-side combining; shuffle bounded by score resolution, the
    * [[rankAuc]] bounded-histogram discipline, CHECKED). The BH
    * predicate compares cross-multiplied int64 products
    * (p_num·m·10⁶ ≤ r·α_micro·(n_cal+1)) whose magnitude contract
    * ((n_cal+1)·m·10⁶ ≤ 9e18) is CHECKED in the same sizing job —
    * never a floating-point threshold. Within a tie block only the
    * LARGEST rank can certify (p constant, bound loosest there), so
    * the sweep runs per distinct score, and the selection threshold
    * comes back as one plan literal (bounded collect): discoveries
    * are exactly the test rows with score ≥ s*. NULL scores are
    * rejected in the sizing job. Zero discoveries → empty frame,
    * schema preserved. */
  def conformalBh(cal: DataFrame, test: DataFrame, idCol: String,
                  scoreCol: String, alphaMicro: Long,
                  maxDistinctScores: Long = 2000000L): DataFrame = {
    require(alphaMicro > 0 && alphaMicro < 1000000L,
      s"conformalBh: alphaMicro must be in (0, 1e6), got $alphaMicro")
    val s = col(scoreCol).cast("long")
    val calH = cal.groupBy(s.as("__s")).agg(count(lit(1)).as("nc"))
    val testH = test.groupBy(s.as("__s")).agg(count(lit(1)).as("nt"))
    val (merged, Seq(ncal, m, _, _)) = Contracts.checkpoint(
      calH.join(testH, Seq("__s"), "full_outer")
        .select(col("__s"), coalesce(col("nc"), lit(0L)).as("nc"),
          coalesce(col("nt"), lit(0L)).as("nt")),
      Contracts.read(sum(col("nc"))),
      Contracts.read(sum(col("nt"))),
      Contracts.Bound(count(lit(1)), _ <= maxDistinctScores, n =>
        s"conformalBh: $n distinct scores exceeds the bounded-histogram " +
          s"contract (maxDistinctScores=$maxDistinctScores) — quantize " +
          "the score (e.g. micro-units) before calling"),
      Contracts.Bound(sum(when(col("__s").isNull, 1L).otherwise(0L)),
        _ == 0L, b =>
          s"conformalBh: $b NULL scores — score every row or filter " +
            "explicitly before calling"))
    require(ncal > 0 && m > 0,
      s"conformalBh: needs non-empty calibration ($ncal) and test ($m)")
    // cross-multiplied BH predicate must stay int64-exact: p_num ≤
    // ncal+1 and r ≤ m, so both sides are ≤ (ncal+1)·m·1e6 — CHECKED
    // here against 9e18 (margin ~2%) using the sizes the sizing job
    // already returned
    require((ncal + 1).toDouble * m.toDouble * 1e6 <= 9e18,
      s"conformalBh: (n_cal+1)*m = ${(ncal + 1) * m} exceeds the " +
        "cross-multiplied int64 exactness contract " +
        "((n_cal+1)*m*1e6 <= 9e18) — sample the calibration or shard " +
        "the test set by key first")
    val top = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val swept = merged
      .withColumn("ge_cal", sum(col("nc")).over(top))
      .withColumn("r_max", sum(col("nt")).over(top))
      .where(col("nt") > 0L)
      .localCheckpoint()
    val thrRow = swept
      .where((col("ge_cal") + 1L) * lit(m) * lit(1000000L) <=
        col("r_max") * lit(alphaMicro) * lit(ncal + 1L))
      .agg(min(col("__s"))).head()
    val out = test.select(col(idCol), s.as(scoreCol))
      .join(swept.select(col("__s"), (col("ge_cal") + 1L).as("p_num")),
        col(scoreCol) === col("__s"))
      .select(col(idCol), col(scoreCol), col("p_num"),
        lit(ncal + 1L).as("p_den"))
    if (thrRow.isNullAt(0)) out.where(lit(false))
    else out.where(col(scoreCol) >= lit(thrRow.getLong(0)))
  }

  /** KRUSKAL–WALLIS H per key — the k-SAMPLE extension of
    * [[mannWhitneyZ]] (Kruskal & Wallis 1952): do ANY of the k groups'
    * metric distributions differ, without assuming normality — the
    * multi-arm experiment / multi-source drift omnibus. With midrank
    * ties and the tie correction:
    *
    *   H = [ 12/(n(n+1)) · Σ_j R_j²/n_j − 3(n+1) ] / C
    *   C = 1 − Σ_t(t³−t) / (n³−n)
    *
    * Scale shape: rows collapse to a per-(key, group, value) histogram
    * (map-side combining); the cumulative-below and tie counts come
    * from RANGE windows over that bounded histogram partitioned BY KEY
    * (value semantics, so co-grouped rows of different groups see the
    * same below/tie counts); each group's DOUBLED rank sum R2_j is an
    * exact int64 under the same CHECKED n ≤ 2e9 per-key bound as
    * [[mannWhitneyZ]], and tie cubes form in decimal(38,0). The
    * cross-group Σ R_j²/n_j is a SORTED SEQUENTIAL FOLD over the
    * per-key group array (group order fixed by sorting — the
    * list_reduce parity discipline), so the double-precision sum is
    * bit-reproducible and the oracle replays it. Keys degenerate to
    * IEEE NaN (n = 1, or every value tied → C = 0) rather than
    * throwing. Output: (key, n, n_groups, h). */
  def kruskalWallisH(df: DataFrame, keyCol: String, grpCol: String,
                     xCol: String,
                     maxDistinctPerKey: Long = 2000000L): DataFrame = {
    val x = col(xCol).cast("long")
    val (hist, _) = Contracts.checkpoint(
      df.groupBy(col(keyCol), col(grpCol), x.as("__x"))
        .agg(count(lit(1)).as("c"),
          sum(when(col(grpCol).isNull || x.isNull, 1L).otherwise(0L))
            .as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"kruskalWallisH: $b NULL group/value rows — assign every row " +
          "a group and a metric, or filter explicitly before calling"))
    Contracts.enforce(
      hist.groupBy(col(keyCol))
        .agg(count(lit(1)).as("__k"), sum(col("c")).as("__n")),
      distinctPerKey(max(col("__k")), maxDistinctPerKey, "kruskalWallisH"),
      Contracts.Bound(max(col("__n")), _ <= 2000000000L, n =>
        s"kruskalWallisH: a key holds $n rows, exceeding the exact " +
          "doubled-rank-sum int64 contract (n <= 2e9 per key) — sample " +
          "the rows per key first"))
    // RANGE windows give VALUE semantics over the (key, group, value)
    // histogram: all groups sharing a value see the same below/tie mass
    val below = Window.partitionBy(col(keyCol)).orderBy(col("__x"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val at = Window.partitionBy(col(keyCol)).orderBy(col("__x"))
      .rangeBetween(0, 0)
    val perGrp = hist
      .withColumn("blw", coalesce(sum(col("c")).over(below), lit(0L)))
      .withColumn("tv", sum(col("c")).over(at))
      .groupBy(col(keyCol), col(grpCol))
      .agg(sum(col("c")).as("nj"),
        sum(col("c") * (lit(2L) * col("blw") + col("tv") + 1L)).as("r2"))
    val tD = col("__t").cast("decimal(38,0)")
    val ties = hist.groupBy(col(keyCol), col("__x"))
      .agg(sum(col("c")).as("__t"))
      .groupBy(col(keyCol))
      .agg(sum(tD * tD * tD - tD).as("__t3"))
    val agg = perGrp
      .groupBy(col(keyCol))
      .agg(sum(col("nj")).as("n"), count(lit(1)).as("n_groups"),
        sort_array(collect_list(struct(col(grpCol), col("r2"),
          col("nj")))).as("__gs"))
      .join(ties, Seq(keyCol))
    val nD = col("n").cast("double")
    val sumTerm = aggregate(col("__gs"), lit(0.0), (acc, g) =>
      acc + (g.getField("r2").cast("double") *
        g.getField("r2").cast("double")) /
        (lit(4.0) * g.getField("nj").cast("double")))
    val hRaw = lit(12.0) / (nD * (nD + 1.0)) * sumTerm -
      lit(3.0) * (nD + 1.0)
    val corr = lit(1.0) - col("__t3").cast("double") /
      (nD * nD * nD - nD)
    agg.select(col(keyCol), col("n"), col("n_groups"),
      when(corr === 0.0, lit(Double.NaN))
        .otherwise(hRaw / corr).as("h"))
  }

  /** DETERMINISTIC STRATIFIED SAMPLE with exact largest-remainder
    * allocation (Hamilton apportionment) — the reproducible
    * downsampling pass a corpus-curation pipeline runs per source /
    * language / shard: a total budget of `sampleSize` rows is split
    * across strata EXACTLY proportionally (base = ⌊size·n_h/N⌋, the
    * leftover seats go to the largest remainders, stratum-key
    * tie-break — Σ alloc_h == sampleSize always, never a
    * rounding-drift row), and WITHIN a stratum rows are picked by a
    * deterministic pseudo-random total order — a MINSTD hop
    * (x·48271 mod 2³¹−1 over id mod 2³¹−1, id tie-break), so the
    * sample is a pure function of the input (re-runs, retries and
    * engines agree; no rand() seed drift) while staying uncorrelated
    * with id order. All arithmetic is int64-safe by construction
    * (the hop operands are < 2³¹; budget·n_h ≤ budget·N is CHECKED).
    *
    * Scale shape: the strata table is aggregation-bounded (CHECKED
    * ≤ maxStrata) so the apportionment runs on it alone — its one
    * single-partition rank is over strata, never rows (the rankAuc
    * bounded-table discipline); the data-sized side pays one
    * key-partitioned rank window (per-stratum top-alloc) and one
    * equi-join against the bounded allocation table (AQE broadcasts
    * it when it fits — no forced hint). A stratum never receives more
    * than it holds: base < n_h whenever its remainder can win a
    * leftover seat. Output: the sampled (stratum, id) rows. */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
                       sampleSize: Long,
                       maxStrata: Long = 1000000L): DataFrame = {
    require(sampleSize > 0, s"stratifiedSample: sampleSize $sampleSize")
    val (cnt, Seq(n, _, _)) = Contracts.checkpoint(df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("__nh"),
        sum(when(col(stratumCol).isNull || col(idCol).isNull, 1L)
          .otherwise(0L)).as("__bad")),
      Contracts.read(sum(col("__nh"))),
      Contracts.Bound(count(lit(1)), _ <= maxStrata, c =>
        s"stratifiedSample: $c strata exceed the bounded-strata " +
          s"contract (maxStrata=$maxStrata) — coarsen the stratum key"),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"stratifiedSample: $b NULL stratum/id rows — assign every row " +
          "a stratum and an id, or filter explicitly before calling"))
    require(sampleSize <= n,
      s"stratifiedSample: sampleSize $sampleSize exceeds population $n")
    require(sampleSize.toDouble * n.toDouble <= 9e18,
      s"stratifiedSample: sampleSize*N = ${sampleSize * n} exceeds the " +
        "int64 apportionment contract (<= 9e18) — shard the population " +
        "and sample per shard")
    val (quota, Seq(baseSum)) = Contracts.checkpoint(cnt
      .withColumn("__base", expr(s"(${sampleSize}L * __nh) div ${n}L"))
      .withColumn("__rem", (lit(sampleSize) * col("__nh")) % lit(n)),
      Contracts.read(sum(col("__base"))))
    val give = sampleSize - baseSum
    // single-partition rank over the BOUNDED strata table only
    val remRank = Window.orderBy(col("__rem").desc, col(stratumCol).asc)
    val alloc = quota
      .withColumn("__alloc", col("__base") +
        when(row_number().over(remRank) <= lit(give), 1L).otherwise(0L))
      .where(col("__alloc") > 0L)
      .select(col(stratumCol), col("__alloc"))
    val hop = pmod(pmod(col(idCol).cast("long"), lit(2147483647L)) *
      lit(48271L), lit(2147483647L))
    val rk = Window.partitionBy(col(stratumCol))
      .orderBy(hop.asc, col(idCol).asc)
    df.select(col(stratumCol), col(idCol))
      .withColumn("__rn", row_number().over(rk))
      .join(alloc, Seq(stratumCol))
      .where(col("__rn") <= col("__alloc"))
      .select(col(stratumCol), col(idCol))
  }

  /** EXACT-SIZE WEIGHTED SAMPLE WITHOUT REPLACEMENT (Efraimidis–
    * Spirakis 2006): draw exactly `n` rows where row i's inclusion
    * pressure is proportional to its weight — the quota-free
    * counterpart of [[stratifiedSample]] and the exact-n upgrade of
    * the Bernoulli keep (q67) / temperature quotas (q116), which
    * cannot hit a size target in one pass. E–S keys: k_i = u_i^(1/w_i)
    * with u_i uniform; the top-n keys ARE a weighted sample without
    * replacement. Taking logs, k-order equals ln(u_i)/w_i order, so
    * no pow() ever runs.
    *
    * Determinism/engine-parity: u_i = (md5(id)+1)/2⁶⁰ — the q67/q91
    * deterministic per-id uniform, reproducible across runs, engines
    * and partitionings — quantized once per row to integer micro-nats
    * (round(ln·10⁶), the corpus-wide transcendental discipline), then
    * ONE fixed-shape double division by the weight. |ln u·10⁶| ≤
    * 4.2·10⁷ is double-exact, and weights are CHECKED ≤ 10¹⁵ so the
    * divisor is too: both engines divide identical bits. Ties break
    * id-descending (ids are CHECKED distinct — a duplicate id would
    * reuse a uniform and silently correlate draws; weights are
    * CHECKED > 0 — w ≤ 0 has no E–S key).
    *
    * Scale shape: ONE partial-combining top-n aggregate
    * ([[graft.functions.top_k_by]] — each partition forwards at most
    * n candidates, never a global sort or a row_number window over
    * the population). Populations smaller than n return entirely.
    * Constant weights degrade to a uniform deterministic sample
    * (property-pinned). Output: (rank, id, w, es_key), rank 1..n by
    * (es_key, id) descending. */
  def weightedSampleExact(df: DataFrame, idCol: String, weightCol: String,
                          n: Int): DataFrame = {
    require(n >= 1 && n <= 4096,
      s"weightedSampleExact: n must be in [1, 4096], got $n")
    val proj = df.select(col(idCol).as("__id"),
      col(weightCol).cast("long").as("__w"),
      // a fractional weight (1.9) would silently truncate to 1 and
      // distort inclusion pressure — compare the original against its
      // integral cast and reject loudly
      when(col(weightCol) =!= col(weightCol).cast("long")
        .cast(df.schema(weightCol).dataType), 1L).otherwise(0L)
        .as("__frac")).localCheckpoint()
    Contracts.enforce(proj,
      Contracts.Bound(sum(when(col("__id").isNull || col("__w").isNull ||
        col("__w") <= 0L, 1L).otherwise(0L) + col("__frac")),
        _ == 0L, b =>
        s"weightedSampleExact: $b rows with NULL id, weight <= 0 or a " +
          "FRACTIONAL weight — every row needs a positive integer " +
          "weight (only ratios matter: rescale, don't truncate)"),
      Contracts.Bound(max(col("__w")), _ <= 1000000000000000L, m =>
        s"weightedSampleExact: max weight $m exceeds the double-exact " +
          "divisor contract (w <= 1e15) — only weight RATIOS matter, " +
          "rescale to coarser units"),
      Contracts.Bound(count(lit(1)) - countDistinct(col("__id")),
        _ == 0L, d =>
          s"weightedSampleExact: $d duplicate ids — each id draws ONE " +
            "deterministic uniform, duplicates would correlate draws; " +
            "dedup or disambiguate ids first"))
    val lnuQ = round(log(
      (graft.functions.md5_long(col("__id").cast("string")) + 1L)
        .cast("double") / lit(1152921504606846976.0)) * 1e6, 0)
      .cast("long")
    val key = lnuQ.cast("double") / col("__w").cast("double")
    proj.select(col("__id"), col("__w"), key.as("__key"))
      .agg(graft.functions.top_k_by(struct(col("__key"),
        col("__id").as("__i"), col("__w").as("__wv")), n).as("__top"))
      .select(posexplode(col("__top")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("col.__i").as(idCol), col("col.__wv").as("w"),
        col("col.__key").as("es_key"))
  }

  /** DETERMINISTIC TRAIN/VAL/TEST SPLIT ASSIGNMENT — the hash-split
    * every training-data pipeline runs before anything else: each id
    * lands in exactly one named split with probability equal to its
    * micro-fraction, decided by the id's OWN hash bucket (pure
    * function of id + salt — rows join their split from any engine,
    * any partitioning, any rerun; new data arrives pre-assigned with
    * no coordination, which is why hash splits beat exact-count
    * splits at corpus scale: no global state, no shuffle, a row never
    * migrates when the corpus grows). Duplicate ids deliberately
    * co-assign (all shards of one document stay on one side of the
    * train/eval wall — the contamination guarantee). The salt redraws
    * the whole assignment when a fresh split is wanted.
    *
    * bucket = md5(id ‖ ':' ‖ salt) mod 10⁶ walks the cumulative
    * micro-fraction thresholds — all integer arithmetic, zero
    * shuffles, engine-exact. Fractions are validated to sum to
    * exactly 10⁶ (a drifting ladder would silently starve the last
    * split). Output: input columns + `split`. */
  def splitAssign(df: DataFrame, idCol: String,
                  splits: Seq[(String, Long)],
                  salt: String = "v1"): DataFrame = {
    require(splits.nonEmpty && splits.size <= 100,
      s"splitAssign: need 1..100 splits, got ${splits.size}")
    require(splits.forall(_._2 > 0L),
      s"splitAssign: every micro-fraction must be positive: $splits")
    require(splits.map(_._2).sum == 1000000L,
      s"splitAssign: micro-fractions must sum to exactly 1000000, got " +
        s"${splits.map(_._2).sum}")
    require(splits.map(_._1).distinct.size == splits.size,
      s"splitAssign: split names must be distinct: ${splits.map(_._1)}")
    val b = pmod(graft.functions.md5_long(
      concat(col(idCol).cast("string"), lit(":" + salt))), lit(1000000L))
    val cum = splits.scanLeft(0L)(_ + _._2).tail
    val ladder = splits.zip(cum).dropRight(1)
      .foldRight(lit(splits.last._1): Column) {
        case (((name, _), hi), acc) => when(b < hi, lit(name)).otherwise(acc)
      }
    // a NULL id hashes to NULL, every `b < hi` is falsy, and the row
    // would silently land in the LAST split — reject it loudly instead
    // (the map-only raise_error twin of the family's eager contracts)
    val assign = when(col(idCol).isNull,
      raise_error(lit("splitAssign: NULL id — every row needs an id; " +
        "filter or fill explicitly first"))).otherwise(ladder)
    df.withColumn("split", assign)
  }

  /** DETERMINISTIC POISSON-BOOTSTRAP CONFIDENCE INTERVAL per key — the
    * bootstrap that actually runs at corpus scale (Chamandy et al.
    * 2012, "Estimating uncertainty for massive data streams"): true
    * resampling needs the whole key in one place, but Poisson(1) row
    * weights approximate multinomial resampling in ONE pass — each row
    * contributes weight w ~ Poisson(1) to each replica, replicas are
    * plain weighted means, and the percentile spread of the R replica
    * means is the CI. Everything is deterministic: the per-(row,
    * replica) uniform is the q67 md5 hash of (id ‖ ':' ‖ r), inverted
    * through the Poisson(1) CDF as a literal threshold ladder (the
    * [[splitAssign]] bucket walk — thresholds are Scala-computed
    * doubles the oracle re-states verbatim, capped at w = 8 where the
    * CDF tail < 10⁻⁸), so reruns and engines agree bit-for-bit.
    *
    * Exactness: replica sums Σw·x and Σw are exact longs — a replica
    * sum is bounded by rows·8·max|x|, so the CHECKED per-key contract
    * rows × max|x| ≤ 10¹⁷ keeps every sum inside int64 (w ≤ 8 by the
    * ladder cap); each replica mean is ONE double division;
    * the CI picks order statistics (sorted by (mean, replica) — a
    * total order) at ceil(0.05·R′) and ceil(0.95·R′) over the R′
    * replicas that drew any weight (a 90% percentile CI; empty
    * replicas drop). Scale shape: one R-way explode (R ≤ 64 CHECKED)
    * into a map-side-combining (key, replica) aggregation, then a
    * key-cardinality rollup — no window over raw rows, no per-key
    * collection beyond R means. Output:
    * (key, n, mean, n_replicas, ci_lo, ci_hi). */
  def poissonBootstrapCI(df: DataFrame, keyCol: String, idCol: String,
                         xCol: String, replicas: Int = 40): DataFrame = {
    require(replicas >= 8 && replicas <= 64,
      s"poissonBootstrapCI: replicas must be in [8, 64], got $replicas")
    // fanOut: the replica explode multiplies every row `replicas`-fold
    // and md5-hashes each copy — spread a narrow scan before that
    val (proj, _) = Contracts.checkpoint(Spread.fanOut(df.select(col(keyCol),
      col(idCol).cast("string").as("__id"),
      col(xCol).cast("long").as("__x"))),
      Contracts.Bound(sum(when(col("__id").isNull || col("__x").isNull,
        1L).otherwise(0L)), _ == 0L, b =>
        s"poissonBootstrapCI: $b NULL id/metric rows — filter " +
          "explicitly first"))
    val d38 = "decimal(38,0)"
    Contracts.enforce(
      proj.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"),
        max(abs(col("__x"))).as("__mx")),
      Contracts.Bound(sum(when(col("__n").cast(d38) *
          col("__mx").cast(d38) >
          lit(100000000000000000L).cast(d38), 1L).otherwise(0L)),
        _ == 0L, v =>
          s"poissonBootstrapCI: $v keys exceed the int64 replica-sum " +
            "contract (rows x max|x| <= 1e17 per key, weights <= 8) — " +
            "rescale the metric to coarser units or shard the key"))
    // Poisson(1) CDF ladder; the oracle restates these exact doubles
    val cdf: Array[Double] = {
      val e = math.exp(-1.0)
      var term = e
      val a = new Array[Double](8)
      a(0) = e
      (1 until 8).foreach { k => term = term / k; a(k) = a(k - 1) + term }
      a // term after loop: e/k! accumulated stepwise
    }
    val u = (graft.functions.md5_long(concat(col("__id"), lit(":"),
      col("__r").cast("string"))) + 1L).cast("double") /
      lit(1152921504606846976.0)
    val w = cdf.zipWithIndex.foldRight(lit(8L)) { case ((t, k), acc) =>
      when(u < lit(t), lit(k.toLong)).otherwise(acc)
    }
    val rep = proj
      .select(col(keyCol), col("__id"), col("__x"),
        explode(sequence(lit(0), lit(replicas - 1))).as("__r"))
      .select(col(keyCol), col("__r"), col("__x"), w.as("__w"))
      .groupBy(col(keyCol), col("__r"))
      .agg(sum(col("__w") * col("__x")).as("__swx"),
        sum(col("__w")).as("__sw"))
      .where(col("__sw") > 0L)
      .select(col(keyCol), col("__r"),
        (col("__swx").cast("double") / col("__sw").cast("double"))
          .as("__m"))
    val base = proj.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        (sum(col("__x")).cast("double") / count(lit(1)).cast("double"))
          .as("mean"))
    val ci = rep.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_replicas"),
        array_sort(collect_list(struct(col("__m"), col("__r"))))
          .as("__ms"))
      .select(col(keyCol), col("n_replicas"),
        element_at(col("__ms"),
          ceil(col("n_replicas") * 0.05).cast("int"))("__m").as("ci_lo"),
        element_at(col("__ms"),
          ceil(col("n_replicas") * 0.95).cast("int"))("__m").as("ci_hi"))
    base.join(ci, Seq(keyCol), "left")
      .select(col(keyCol), col("n"), col("mean"),
        coalesce(col("n_replicas"), lit(0L)).as("n_replicas"),
        col("ci_lo"), col("ci_hi"))
  }

  /** DETERMINISTIC DP NOISY-COUNT RELEASE — the publish half of the
    * privacy family (q235/q236 profile k-anonymity; this releases the
    * counts): per-key counts plus Laplace(1/ε) noise, the classic
    * ε-differentially-private counting query (Dwork et al. 2006,
    * sensitivity-1: each individual may contribute at most ONE row
    * per key — the CALLER pre-dedups to user level, pinned in spec).
    *
    * The noise is drawn by INVERSE CDF over a deterministic md5
    * uniform of the key — Laplace⁻¹(u) = −sign(u−½)·ln(1−2|u−½|)/ε —
    * so a re-run, a retry, or the DuckDB oracle releases the SAME
    * value (no rand() seed drift; operationally this is seeded DP:
    * the guarantee holds against adversaries who don't hold the
    * seed, and repeated releases of the same key spend no extra
    * budget because they are the same release). Engine-exactness:
    * u = (md5(key)+1)/2⁶⁰ (the q67 uniform), ONE ln micro-quantized
    * (round(ln·10⁶)); the 1/ε scale applies in pure integer
    * arithmetic — noise_micro = lap_micro·10⁶ div ε_micro (Spark
    * `div` and DuckDB `//` both truncate toward zero) — and the
    * released value stays an exact integer micro-count. The ln
    * argument is clamped to 2⁻⁶⁰ so the 2⁻⁵³-probability u = 1.0
    * corner releases a large-but-finite noise instead of ±inf.
    *
    * Scale shape: ONE map-side-combining count aggregation; noise is
    * a per-key scalar expression on the aggregated (key-cardinality)
    * table. NULL keys are rejected loudly (they would silently merge
    * under the hash concat). Output:
    * (keys…, n, noise_micro, released_micro = n·10⁶ + noise_micro). */
  def noisyCounts(df: DataFrame, keyCols: Seq[String],
                  epsilonMicro: Long): DataFrame =
    noisyCountsFromHist(countHist(df, keyCols, "noisyCounts"), keyCols,
      epsilonMicro)

  /** The validated per-key count table behind [[noisyCounts]] — NULL
    * keys rejected in the same aggregation; exposed so the streaming
    * maintainer folds the SAME shape the batch release consumes. */
  private[graft] def countHist(df: DataFrame, keyCols: Seq[String],
                               op: String): DataFrame = {
    require(keyCols.nonEmpty, s"$op needs at least one key column")
    val (agg, _) = Contracts.checkpoint(df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(keyCols.map(c => col(c).isNull).reduce(_ || _), 1L)
          .otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L,
      b => s"$op: $b rows with a NULL key — NULL keys would " +
        "silently merge under the hash; filter or fill explicitly"))
    agg.drop("__bad")
  }

  /** Release an already-folded count table with deterministic Laplace
    * noise — the shared tail of [[noisyCounts]] and
    * [[graft.streaming.Streaming.NoisyCountsMaintainer]], so the live
    * release IS the batch release of the accumulated rows by
    * construction (the noise is a pure function of the KEY, so it
    * does not re-randomize as counts grow — one draw per key per
    * epsilon, exactly the seeded-DP budget argument). */
  private[graft] def noisyCountsFromHist(agg: DataFrame,
                                         keyCols: Seq[String],
                                         epsilonMicro: Long): DataFrame = {
    require(epsilonMicro >= 1L && epsilonMicro <= 100000000L,
      s"noisyCounts: epsilonMicro must be in [1, 1e8], got $epsilonMicro")
    // the \u0001 separator keeps ("ab","c") and ("a","bc") apart
    val u = (graft.functions.md5_long(concat_ws("\u0001",
      keyCols.map(c => col(c).cast("string")): _*)) + 1L).cast("double") /
      lit(1152921504606846976.0)
    // |u − ½| folds the uniform; the greatest() clamp keeps the one
    // representable u = 1.0 corner finite (ln arg ≥ 2⁻⁶⁰)
    val lnArg = greatest(lit(1.0) - lit(2.0) * abs(u - lit(0.5)),
      lit(8.673617379884035e-19))
    val lapMicro = (-signum(u - lit(0.5)) *
      round(log(lnArg) * 1e6, 0)).cast("long")
    agg
      .withColumn("__lap", lapMicro)
      .withColumn("noise_micro",
        expr(s"(__lap * 1000000L) div ${epsilonMicro}L"))
      .select(keyCols.map(col) ++ Seq(col("n"), col("noise_micro"),
        (col("n") * 1000000L + col("noise_micro"))
          .as("released_micro")): _*)
  }

  /** LOG-RANK TEST per key — does arm A's survival curve differ from
    * arm B's (Mantel 1966; the significance companion to the
    * Kaplan–Meier estimate, q221): churn/retention A-B readouts,
    * time-to-failure comparisons. At each distinct EVENT time the
    * hypergeometric expectation and variance accumulate:
    *
    *   O1 = Σ_j d1j            E1 = Σ_j d_j·n1j/n_j
    *   V  = Σ_j d_j·(n1j/n_j)·(1−n1j/n_j)·(n_j−d_j)/(n_j−1)
    *   z  = (O1 − E1) / √V
    *
    * (n·j = at-risk counts — subjects with time ≥ t_j, censored or
    * not; d·j = events AT t_j.)
    *
    * Scale shape: subjects collapse to a per-(key, time) histogram
    * (map-side combining, bounded by time resolution — CHECKED, the
    * [[rankAucByKey]] discipline); at-risk counts come from ONE
    * descending cumulative window partitioned by key; O1 is an exact
    * long; E1 and V are SORTED SEQUENTIAL FOLDS over the per-key
    * event-time array ([[kruskalWallisH]]'s list_reduce parity
    * discipline — bit-reproducible double sums the oracle replays).
    * Zero variance (no events, or an empty arm at every event time
    * with d = n) → z = NaN. NULL side/time/event rows are rejected in
    * the histogram aggregation. Censoring: event = false rows leave
    * the risk set at their time without contributing an event — the
    * standard right-censoring semantics.
    * Output: (key, o1, e1, v, z). */
  def logRank(df: DataFrame, keyCol: String, sideCol: String,
              timeCol: String, eventCol: String,
              maxDistinctPerKey: Long = 2000000L): DataFrame = {
    val side = col(sideCol).cast("boolean")
    val tcol = col(timeCol).cast("long")
    val ev = col(eventCol).cast("boolean")
    val (hist, _) = Contracts.checkpoint(df.groupBy(col(keyCol), tcol.as("__t"))
      .agg(sum(when(side, 1L).otherwise(0L)).as("a1"),
        count(lit(1)).as("atot"),
        sum(when(side && ev, 1L).otherwise(0L)).as("d1"),
        sum(when(ev, 1L).otherwise(0L)).as("d"),
        sum(when(side.isNull || tcol.isNull || ev.isNull, 1L)
          .otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"logRank: $b NULL side/time/event rows — assign every subject " +
          "an arm, a time and an event flag, or filter explicitly"))
    requireBoundedPerKey(hist, keyCol, maxDistinctPerKey, "logRank")
    val atRisk = Window.partitionBy(col(keyCol)).orderBy(col("__t").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val eventsOnly = hist
      .withColumn("n1", sum(col("a1")).over(atRisk))
      .withColumn("n", sum(col("atot")).over(atRisk))
      .where(col("d") > 0L)
    val agg = eventsOnly
      .groupBy(col(keyCol))
      .agg(sum(col("d1")).as("o1"),
        sort_array(collect_list(struct(col("__t"), col("d1"), col("d"),
          col("n1"), col("n")))).as("__l"))
    def dD(g: Column) = g.getField("d").cast("double")
    def n1D(g: Column) = g.getField("n1").cast("double")
    def nD(g: Column) = g.getField("n").cast("double")
    val e1 = aggregate(col("__l"), lit(0.0), (acc, g) =>
      acc + dD(g) * n1D(g) / nD(g))
    val v = aggregate(col("__l"), lit(0.0), (acc, g) =>
      acc + when(g.getField("n") > 1L,
        dD(g) * (n1D(g) / nD(g)) * (lit(1.0) - n1D(g) / nD(g)) *
          ((nD(g) - dD(g)) / (nD(g) - lit(1.0))))
        .otherwise(lit(0.0)))
    agg.select(col(keyCol), col("o1"), e1.as("e1"), v.as("v"),
        col("o1").cast("double").as("__o1d"))
      .select(col(keyCol), col("o1"), col("e1"), col("v"),
        when(col("v") === 0.0, lit(Double.NaN))
          .otherwise((col("__o1d") - col("e1")) / sqrt(col("v"))).as("z"))
  }

  /** NELSON–AALEN CUMULATIVE HAZARD per key (Nelson 1972, Aalen 1978)
    * — the hazard-scale view of the survival family: [[logRank]] tests
    * whether two arms differ, Kaplan–Meier (q221) estimates survival,
    * this estimates the cumulative hazard H(t) = Σ_{tⱼ≤t} dⱼ/nⱼ with
    * its Poisson-type variance Σ dⱼ/nⱼ² — the curve churn/failure
    * dashboards plot on the log scale (and exp(−H) is the
    * Breslow survival estimate, a free by-product).
    *
    * Scale shape: subjects collapse to the per-(key, time) histogram
    * (CHECKED bounded); at-risk counts come from ONE descending
    * cumulative window; the running sums are SORTED SEQUENTIAL FOLDS
    * ([[graft.functions.PrefixSum]] — the Kaplan–Meier `prefix_prod`
    * parity discipline: each dⱼ/nⱼ is one IEEE division of exact
    * longs, each prefix is the same left-to-right fold the oracle
    * replays with list_reduce). Censoring: event = false rows hold the
    * risk set without contributing events. NULL time/event rows are
    * rejected in the histogram aggregation. Output: one row per
    * (key, event time) — (key, t, n_at_risk, d, h, var_h). */
  def nelsonAalen(df: DataFrame, keyCol: String, timeCol: String,
                  eventCol: String,
                  maxDistinctPerKey: Long = 2000000L): DataFrame = {
    val tcol = col(timeCol).cast("long")
    val ev = col(eventCol).cast("boolean")
    val (hist, _) = Contracts.checkpoint(df.groupBy(col(keyCol), tcol.as("__t"))
      .agg(count(lit(1)).as("__atot"),
        sum(when(ev, 1L).otherwise(0L)).as("__d"),
        sum(when(tcol.isNull || ev.isNull, 1L).otherwise(0L))
          .as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"nelsonAalen: $b NULL time/event rows — assign every subject " +
          "a time and an event flag, or filter explicitly"))
    requireBoundedPerKey(hist, keyCol, maxDistinctPerKey, "nelsonAalen")
    val atRisk = Window.partitionBy(col(keyCol)).orderBy(col("__t").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val agg = hist
      .withColumn("__n", sum(col("__atot")).over(atRisk))
      .where(col("__d") > 0L)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("__t"), col("__d"),
        col("__n")))).as("__l"))
    def dD(g: Column) = g.getField("__d").cast("double")
    def nD(g: Column) = g.getField("__n").cast("double")
    val withSums = agg
      .withColumn("__h", graft.functions.prefix_sum(
        transform(col("__l"), g => dD(g) / nD(g))))
      .withColumn("__vh", graft.functions.prefix_sum(
        transform(col("__l"), g => dD(g) / (nD(g) * nD(g)))))
    withSums
      .select(col(keyCol), col("__h"), col("__vh"),
        posexplode(col("__l")).as(Seq("__p", "__g")))
      .select(col(keyCol), col("__g.__t").as("t"),
        col("__g.__n").as("n_at_risk"), col("__g.__d").as("d"),
        element_at(col("__h"), col("__p") + 1).as("h"),
        element_at(col("__vh"), col("__p") + 1).as("var_h"))
  }

  /** GINI CONCENTRATION per key — the inequality / concentration
    * profile of a nonnegative metric (spend per priority class, token
    * mass per source, sample weight per shard): 0 = perfectly even,
    * →1 = one row holds everything. From the sorted-rank identity,
    * kept integral by doubling:
    *
    *   G = ( 2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx ) / ( n·Σx )
    *
    * with ties contributing x·(2·c·below + c² + c) to the doubled
    * rank-weighted sum — rank order within a tie block is immaterial
    * (equal x), so the statistic reduces over the per-(key, value)
    * histogram with NO per-row window: map-side-combining histogram,
    * key-partitioned cumulative window over the bounded histogram
    * ([[rankAucByKey]] discipline, CHECKED), one final division. The
    * rank-weighted sum forms in decimal(38,0) (x·n² breaches int64
    * long before real corpora do — S2 ≤ 2n·Σx ≤ 2e9·2·(n·B) ≤ 4e27 at
    * the contract bounds, exact in decimal); Σx itself returns as an
    * int64 column under the same CHECKED n·maxAbs ≤ 1e18 contract as
    * [[welchT]], enforced lazily in the histogram aggregation together
    * with the x ≥ 0 domain check (Gini is undefined over mixed-sign
    * mass). Σx = 0 (all zeros) → NaN. Output: (key, n, sum_x, gini). */
  def giniByKey(df: DataFrame, keyCol: String, xCol: String,
                maxDistinctPerKey: Long = 2000000L): DataFrame = {
    val x = col(xCol).cast("long")
    val (hist, _) = Contracts.checkpoint(df.groupBy(col(keyCol), x.as("__x"))
      .agg(count(lit(1)).as("c"),
        sum(when(x.isNull || x < 0L, 1L).otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"giniByKey: $b NULL/negative values — Gini needs a " +
          "nonnegative metric on every row; clamp or filter first"))
    // n·maxAbs ≤ 1e18 keeps Σx int64-exact per key (the welchT
    // contract) and bounds the decimal rank-weighted sum at ≤ 4e27
    Contracts.enforce(
      hist.groupBy(col(keyCol)).agg(count(lit(1)).as("__k"),
        sum(col("c")).as("__n"), max(col("__x")).as("__m")),
      distinctPerKey(max(col("__k")), maxDistinctPerKey, "giniByKey"),
      Contracts.Bound(
        sum(when(col("__n").cast("decimal(38,0)") *
            col("__m").cast("decimal(38,0)") >
            lit("1000000000000000000").cast("decimal(38,0)"),
          1L).otherwise(0L)), _ == 0L, v =>
          s"giniByKey: $v keys exceed the int64 exactness contract " +
            "(rows x maxValue <= 1e18 per key keeps sum_x exact) — " +
            "rescale the metric to coarser integer units"))
    val below = Window.partitionBy(col(keyCol)).orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val xD = col("__x").cast("decimal(38,0)")
    val cD = col("c").cast("decimal(38,0)")
    val bD = col("blw").cast("decimal(38,0)")
    val agg = hist
      .withColumn("blw", coalesce(sum(col("c")).over(below), lit(0L)))
      .groupBy(col(keyCol))
      .agg(sum(col("c")).as("n"),
        sum(xD * cD).cast("long").as("sum_x"),
        sum(xD * (lit(2L).cast("decimal(38,0)") * cD * bD + cD * cD + cD))
          .as("__s2"))
    val nD = col("n").cast("decimal(38,0)")
    val sxD = col("sum_x").cast("decimal(38,0)")
    agg.select(col(keyCol), col("n"), col("sum_x"),
      when(col("sum_x") === 0L, lit(Double.NaN))
        .otherwise((col("__s2") - (nD + 1) * sxD).cast("double") /
          (nD * sxD).cast("double")).as("gini"))
  }

  /** POPULATION STABILITY INDEX per key between two categorical
    * snapshots (the standard model-monitoring drift readout: <0.1
    * stable, 0.1–0.25 moderate shift, >0.25 broken feed) — "did the
    * event-type mix / language mix / source mix move between baseline
    * and current?", answered per segment:
    *
    *   PSI = Σ_b (p_b − q_b) · ln(p_b / q_b)
    *
    * over the UNION of both sides' buckets with add-one (Laplace)
    * smoothing — c' = c + 1 per bucket, N' = N + K per side — so empty
    * buckets are well-defined and the statistic is a total function of
    * the two multisets (no ε knob, no dropped buckets). A key present
    * in only ONE snapshot still gets a PSI (all its baseline buckets
    * smooth to 1/N'), which is exactly the "brand-new distribution"
    * alarm a monitor wants.
    *
    * Exactness/engine-parity: rows collapse to per-(key, cat) integer
    * histograms (map-side combining, bucket cardinality CHECKED);
    * p − q forms as the exact integer cross term c_a·N_b − c_b·N_a in
    * decimal(38,0); the single transcendental per bucket is
    * micro-quantized — lnq = round(ln((c_a·N_b)/(c_b·N_a))·10⁶) as
    * int64, the corpus-wide log discipline — so the per-key sum
    * Σ (c_a·N_b − c_b·N_a)·lnq is an exact decimal the oracle replays
    * in HUGEINT, and only the final division is floating point.
    * Identical distributions ⟹ every cross term is exactly 0 ⟹
    * psi == 0.0 bit-exactly. NULL categories are rejected in the
    * histogram aggregation. Shape: two hash aggs + ONE co-partitioned
    * full-outer join on (key, cat) + key-partitioned windows over the
    * bounded histogram — no driver collect, shuffle bounded by
    * keys × buckets. Output: (key, n_a, n_b, n_buckets, psi). */
  def psiByKey(a: DataFrame, b: DataFrame, keyCol: String, catCol: String,
               maxDistinctPerKey: Long = 2000000L): DataFrame =
    psiFromHists(catHist(a, keyCol, catCol, "__c", "psiByKey"),
      catHist(b, keyCol, catCol, "__c", "psiByKey"), keyCol,
      maxDistinctPerKey)

  /** [[psiByKey]] served directly from two per-(key, category) count
    * histograms (columns: keyCol, `__cat`, `__c` — the [[catHist]]
    * shape). This is the state-level entry point the streaming
    * maintainer rides: histograms are additive over disjoint row sets,
    * so a live monitor folds counts and serves THIS exact code path —
    * streamed == batch is structural, not tested-into-existence. */
  def psiFromHists(ha: DataFrame, hb: DataFrame, keyCol: String,
                   maxDistinctPerKey: Long = 2000000L): DataFrame = {
    val joined = ha.select(col(keyCol), col("__cat"),
        col("__c").as("__ca0"))
      .join(hb.select(col(keyCol), col("__cat"), col("__c").as("__cb0")),
        Seq(keyCol, "__cat"), "full_outer")
      .select(col(keyCol), col("__cat"),
        (coalesce(col("__ca0"), lit(0L)) + 1L).as("__ca"),
        (coalesce(col("__cb0"), lit(0L)) + 1L).as("__cb"))
      .localCheckpoint()
    requireBoundedPerKey(joined, keyCol, maxDistinctPerKey, "psiByKey")
    val perKey = Window.partitionBy(col(keyCol))
    val withTot = joined
      .withColumn("__na", sum(col("__ca")).over(perKey))
      .withColumn("__nb", sum(col("__cb")).over(perKey))
      .withColumn("__k", count(lit(1)).over(perKey))
    val d = "decimal(38,0)"
    val pa = col("__ca").cast(d) * col("__nb").cast(d)
    val qb = col("__cb").cast(d) * col("__na").cast(d)
    val lnq = round(log(pa.cast("double") / qb.cast("double"))
      * lit(1000000.0), 0).cast("long")
    val agg = withTot
      .withColumn("__term", (pa - qb) * lnq.cast(d))
      .groupBy(col(keyCol))
      .agg(first(col("__na")).as("__na"), first(col("__nb")).as("__nb"),
        first(col("__k")).as("n_buckets"), sum(col("__term")).as("__s"))
    agg.select(col(keyCol),
      (col("__na") - col("n_buckets")).as("n_a"),
      (col("__nb") - col("n_buckets")).as("n_b"),
      col("n_buckets"),
      (col("__s").cast("double") /
        (col("__na").cast("double") * col("__nb").cast("double")) /
        lit(1000000.0)).as("psi"))
  }

  /** Per-(key, category) count histogram with a loud NULL-category
    * contract — the shared first stage of the categorical drift family
    * ([[psiByKey]], [[jsdByKey]]). */
  private[graft] def catHist(df: DataFrame, keyCol: String, catCol: String,
                             out: String, op: String): DataFrame = {
    val (h, _) = Contracts.checkpoint(
      df.groupBy(col(keyCol), col(catCol).as("__cat"))
        .agg(count(lit(1)).as(out),
          sum(when(col(catCol).isNull, 1L).otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, n =>
        s"$op: $n NULL category rows — bucket every row explicitly " +
          "(e.g. an 'unknown' category) before calling"))
    h.drop("__bad")
  }

  /** Micro-quantized natural log — the corpus-wide transcendental
    * discipline: one IEEE ln over an exactly-representable integer,
    * rounded to int64 micro-nats, so downstream sums stay exact and
    * engine-replayable. */
  private def lnMicro(x: Column): Column =
    round(log(x) * lit(1000000.0), 0).cast("long")

  /** JENSEN–SHANNON DIVERGENCE per key between two categorical
    * snapshots, with both sides' Shannon entropies — the bounded,
    * symmetric, smoothing-free companion to [[psiByKey]] (JSD is
    * finite on disjoint support, ∈ [0, ln 2] nats, the metric's
    * square): topic-mix drift, language-mix drift, vocabulary-shift
    * scoring where PSI's smoothing knob is unwanted.
    *
    *   JSD(p, q) = H((p+q)/2) − (H(p) + H(q)) / 2
    *
    * Exactness/engine-parity: with mixture numerators
    * u_b = c_a·N_b + c_b·N_a over denominator D = 2·N_a·N_b, every
    * entropy unrolls to integer-weighted micro-log sums —
    * H(m)·D·10⁶ = Σ u_b·(lnq(D) − lnq(u_b)) and
    * H(p)·N_a·10⁶ = Σ c_a·(lnq(N_a) − lnq(c_a)) — formed in
    * decimal(38,0) (per-side rows ≤ 2·10⁹ per key CHECKED keeps
    * u ≤ 8·10¹⁸, terms ≤ 10²⁷; the oracle replays in HUGEINT), so the
    * only floating point is one ln per distinct integer and the final
    * three divisions. 0·ln 0 terms drop exactly (c = 0 buckets skip);
    * identical distributions ⟹ u_b ∝ c_a ⟹ jsd == 0.0 up to the
    * micro-log quantum. A key empty on either side → NaN (no mixture
    * exists — [[psiByKey]] is the alarm for that case). NULL
    * categories are rejected in the histogram aggregation. Shape: two
    * hash aggs + ONE co-partitioned full-outer join +
    * key-partitioned windows over the CHECKED bounded histogram.
    * Output: (key, n_a, n_b, n_buckets, h_a, h_b, jsd). */
  def jsdByKey(a: DataFrame, b: DataFrame, keyCol: String, catCol: String,
               maxDistinctPerKey: Long = 2000000L): DataFrame = {
    val joined = catHist(a, keyCol, catCol, "__ca0", "jsdByKey")
      .join(catHist(b, keyCol, catCol, "__cb0", "jsdByKey"),
        Seq(keyCol, "__cat"), "full_outer")
      .select(col(keyCol), col("__cat"),
        coalesce(col("__ca0"), lit(0L)).as("__ca"),
        coalesce(col("__cb0"), lit(0L)).as("__cb"))
      .localCheckpoint()
    Contracts.enforce(
      joined.groupBy(col(keyCol)).agg(count(lit(1)).as("__k"),
        sum(col("__ca")).as("__n1"), sum(col("__cb")).as("__n2")),
      distinctPerKey(max(col("__k")), maxDistinctPerKey, "jsdByKey"),
      Contracts.Bound(max(greatest(col("__n1"), col("__n2"))),
        _ <= 2000000000L, n =>
          s"jsdByKey: a key holds $n rows on one side, exceeding the " +
            "exact mixture-numerator int64 contract (n <= 2e9 per key " +
            "per side) — sample the rows per key first"))
    val perKey = Window.partitionBy(col(keyCol))
    val d = "decimal(38,0)"
    val withTot = joined
      .withColumn("__na", sum(col("__ca")).over(perKey))
      .withColumn("__nb", sum(col("__cb")).over(perKey))
      .withColumn("__k", count(lit(1)).over(perKey))
    val naD = col("__na").cast(d)
    val nbD = col("__nb").cast(d)
    val u = col("__ca").cast(d) * nbD + col("__cb").cast(d) * naD
    val dd = lit(2L).cast(d) * naD * nbD
    val zero = lit(0L).cast(d)
    val hmTerm = when(col("__na") > 0L && col("__nb") > 0L,
      u * (lnMicro(dd.cast("double")) - lnMicro(u.cast("double"))).cast(d))
      .otherwise(zero)
    def sideTerm(c: Column, n: Column) = when(c > 0L,
      c.cast(d) * (lnMicro(n.cast("double")) -
        lnMicro(c.cast("double"))).cast(d)).otherwise(zero)
    val agg = withTot
      .withColumn("__thm", hmTerm)
      .withColumn("__tha", sideTerm(col("__ca"), col("__na")))
      .withColumn("__thb", sideTerm(col("__cb"), col("__nb")))
      .groupBy(col(keyCol))
      .agg(first(col("__na")).as("__na"), first(col("__nb")).as("__nb"),
        first(col("__k")).as("n_buckets"),
        sum(col("__thm")).as("__hm"), sum(col("__tha")).as("__ha"),
        sum(col("__thb")).as("__hb"))
    val naDbl = col("__na").cast("double")
    val nbDbl = col("__nb").cast("double")
    val hA = when(col("__na") === 0L, lit(Double.NaN))
      .otherwise(col("__ha").cast("double") / (naDbl * lit(1000000.0)))
    val hB = when(col("__nb") === 0L, lit(Double.NaN))
      .otherwise(col("__hb").cast("double") / (nbDbl * lit(1000000.0)))
    val hM = when(col("__na") === 0L || col("__nb") === 0L,
      lit(Double.NaN))
      .otherwise(col("__hm").cast("double") /
        (lit(2.0) * naDbl * nbDbl * lit(1000000.0)))
    agg.select(col(keyCol), col("__na").as("n_a"), col("__nb").as("n_b"),
        col("n_buckets"), hA.as("h_a"), hB.as("h_b"), hM.as("__hmv"))
      .select(col(keyCol), col("n_a"), col("n_b"), col("n_buckets"),
        col("h_a"), col("h_b"),
        (col("__hmv") - (col("h_a") + col("h_b")) / lit(2.0)).as("jsd"))
  }

  /** POST-STRATIFIED TREATMENT EFFECT per key — the
    * covariate-adjusted A/B readout when the covariate is CATEGORICAL
    * (device class, country, source; the discrete sibling of q198's
    * CUPED, which handles a continuous pre-metric): within each
    * stratum the arms compare like-for-like, and strata combine
    * weighted by their total mass,
    *
    *   ATE = Σ_s ((n_as + n_bs) / N) · (ȳ_bs − ȳ_as)
    *
    * which removes the bias a shifted stratum mix injects into the raw
    * diff-in-means (also reported, over the SAME kept strata, so the
    * gap between the two columns IS the mix bias). Strata missing an
    * arm carry no comparison and drop, counted in n_dropped.
    *
    * Exactness: rows collapse to per-(key, stratum, arm) exact counts
    * and decimal(38,0) sums; the stratum fold is a SORTED SEQUENTIAL
    * FOLD over the per-key stratum array (the list_reduce parity
    * discipline — fixed IEEE shape per stratum, same left-to-right
    * order in the oracle). NULL stratum/side/y rows are rejected in
    * the cell aggregation; strata per key are CHECKED bounded. Keys
    * with zero two-armed strata report NaN. Output:
    * (key, n, n_strata, n_dropped, ate, raw_diff). */
  def stratifiedAte(df: DataFrame, keyCol: String, stratumCol: String,
                    sideCol: String, yCol: String,
                    maxDistinctPerKey: Long = 2000000L): DataFrame = {
    val side = col(sideCol).cast("boolean")
    val y = col(yCol).cast("long")
    val d = "decimal(38,0)"
    val (cells, _) = Contracts.checkpoint(
      df.groupBy(col(keyCol), col(stratumCol).as("__st"))
        .agg(sum(when(!side, 1L).otherwise(0L)).as("__na"),
          sum(when(side, 1L).otherwise(0L)).as("__nb"),
          sum(when(!side, y).otherwise(0L).cast(d)).as("__sya"),
          sum(when(side, y).otherwise(0L).cast(d)).as("__syb"),
          sum(when(col(stratumCol).isNull || side.isNull || y.isNull,
            1L).otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"stratifiedAte: $b NULL stratum/side/metric rows — assign " +
          "every row an arm, a stratum and a metric, or filter " +
          "explicitly"))
    requireBoundedPerKey(cells, keyCol, maxDistinctPerKey,
      "stratifiedAte")
    val kept = col("__na") > 0L && col("__nb") > 0L
    val zero = lit(0L).cast(d)
    val agg = cells.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__tot"),
        sum(when(kept, 1L).otherwise(0L)).as("n_strata"),
        sum(when(kept, col("__na") + col("__nb")).otherwise(0L))
          .as("n"),
        sum(when(kept, col("__na")).otherwise(0L)).as("__nat"),
        sum(when(kept, col("__nb")).otherwise(0L)).as("__nbt"),
        sum(when(kept, col("__sya")).otherwise(zero)).as("__syat"),
        sum(when(kept, col("__syb")).otherwise(zero)).as("__sybt"),
        sort_array(collect_list(when(kept, struct(col("__st"),
          col("__na"), col("__nb"), col("__sya"), col("__syb")))))
          .as("__l"))
    val nD = col("n").cast("double")
    def f(s: Column, field: String) = s.getField(field).cast("double")
    val ate = aggregate(col("__l"), lit(0.0), (acc, s) =>
      acc + ((f(s, "__na") + f(s, "__nb")) / nD) *
        (f(s, "__syb") / f(s, "__nb") - f(s, "__sya") / f(s, "__na")))
    agg.select(col(keyCol), col("n"), col("n_strata"),
      (col("__tot") - col("n_strata")).as("n_dropped"),
      when(col("n_strata") === 0L, lit(Double.NaN)).otherwise(ate)
        .as("ate"),
      when(col("n_strata") === 0L, lit(Double.NaN))
        .otherwise(col("__sybt").cast("double") /
          col("__nbt").cast("double") -
          col("__syat").cast("double") / col("__nat").cast("double"))
        .as("raw_diff"))
  }

  /** TRANSITION ENTROPY per key — how predictable is the next state
    * given the current one, for every segment's behavioral stream (the
    * information-theoretic readout over [[markovTransitions]]' counts,
    * in the [[jsdByKey]] micro-log discipline):
    *
    *   H(next | cur) = Σ_ij (c_ij/N) · ln(c_i·/c_ij)     (conditional)
    *   H(next)       = Σ_j (c_·j/N) · ln(N/c_·j)         (marginal)
    *   MI            = H(next) − H(next | cur)            (≥ 0)
    *
    * Low H(next|cur) = deterministic flows (bots, scripted crawlers,
    * funnel rails); MI near 0 = the current state tells you nothing
    * (noise). Input is transition ROWS (key, src, dst) — build them
    * with one lead() window inside the sequence group (the
    * [[markovTransitions]] shape), so the operator composes with any
    * sequence definition.
    *
    * Exactness: rows collapse to the per-(key, src, dst) count
    * histogram (CHECKED bounded); every entropy unrolls to
    * integer-weighted micro-log sums in decimal(38,0) — the only
    * floating point is one ln per distinct integer and the final
    * divisions, so the oracle replays in HUGEINT bit-for-bit. NULL
    * src/dst rows are rejected in the histogram aggregation. Shape:
    * one hash agg + key-partitioned windows over the bounded histogram
    * + ONE co-partitioned join of the two per-key sums. Output:
    * (key, n_transitions, n_pairs, n_dst, h_cond, h_next, mi). */
  def transitionEntropy(df: DataFrame, keyCol: String, srcCol: String,
                        dstCol: String,
                        maxDistinctPerKey: Long = 2000000L): DataFrame =
    transitionEntropyFromHist(
      pairHist(df, keyCol, srcCol, dstCol, "transitionEntropy"),
      keyCol, maxDistinctPerKey)

  /** Per-(key, src, dst) transition count histogram with a loud
    * NULL-state contract — the shared first stage of
    * [[transitionEntropy]] and its streaming maintainer. */
  private[graft] def pairHist(df: DataFrame, keyCol: String,
                              srcCol: String, dstCol: String,
                              op: String): DataFrame = {
    val (h, _) = Contracts.checkpoint(
      df.groupBy(col(keyCol), col(srcCol).as("__src"),
          col(dstCol).as("__dst"))
        .agg(count(lit(1)).as("__c"),
          sum(when(col(srcCol).isNull || col(dstCol).isNull, 1L)
            .otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"$op: $b NULL src/dst transition rows — every transition " +
          "needs both states; filter explicitly first"))
    h.drop("__bad")
  }

  /** [[transitionEntropy]] served directly from the per-(key, src,
    * dst) count histogram (the [[pairHist]] shape) — the state-level
    * entry point the streaming maintainer rides: transition counts
    * are additive over disjoint row sets, so a live monitor folds
    * counts and serves THIS exact code path. */
  def transitionEntropyFromHist(hist: DataFrame, keyCol: String,
                                maxDistinctPerKey: Long = 2000000L): DataFrame = {
    requireBoundedPerKey(hist, keyCol, maxDistinctPerKey,
      "transitionEntropy")
    val d = "decimal(38,0)"
    val perKey = Window.partitionBy(col(keyCol))
    val perSrc = Window.partitionBy(col(keyCol), col("__src"))
    val withTot = hist
      .withColumn("__n", sum(col("__c")).over(perKey))
      .withColumn("__st", sum(col("__c")).over(perSrc))
    val hc = withTot
      .withColumn("__term", col("__c").cast(d) *
        (lnMicro(col("__st").cast("double")) -
          lnMicro(col("__c").cast("double"))).cast(d))
      .groupBy(col(keyCol))
      .agg(first(col("__n")).as("__n"), count(lit(1)).as("n_pairs"),
        sum(col("__term")).as("__hc"))
    val hn = hist
      .groupBy(col(keyCol), col("__dst"))
      .agg(sum(col("__c")).as("__dt"))
      .join(hc.select(col(keyCol), col("__n").as("__nn")), Seq(keyCol))
      .withColumn("__term", col("__dt").cast(d) *
        (lnMicro(col("__nn").cast("double")) -
          lnMicro(col("__dt").cast("double"))).cast(d))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_dst"), sum(col("__term")).as("__hn"))
    val nDbl = col("__n").cast("double")
    hc.join(hn, Seq(keyCol))
      .select(col(keyCol), col("__n").as("n_transitions"),
        col("n_pairs"), col("n_dst"),
        (col("__hc").cast("double") / (nDbl * lit(1000000.0)))
          .as("h_cond"),
        (col("__hn").cast("double") / (nDbl * lit(1000000.0)))
          .as("h_next"))
      .withColumn("mi", col("h_next") - col("h_cond"))
  }

  /** IMPORTANCE-WEIGHT DIAGNOSTICS per key — the health check every
    * weighted pipeline (DSIR resampling, mixture reweighting,
    * inverse-propensity estimates) needs before trusting a weighted
    * mean: Kish effective sample size ESS = (Σw)²/Σw², the efficiency
    * ESS/n (→1 uniform weights, →1/n one row dominates), and the
    * largest single-row weight share. A low ESS says the weighted
    * estimate rides on a handful of rows no matter how big n is.
    *
    * Exactness: weights micro-quantize (w·scale, banker-rounded — the
    * [[Similarity.embeddingDimProfile]] argument: float×10⁶ is exact
    * in double), Σw and Σw² form in decimal(38,0), and scale cancels
    * in both ESS and the share, so every output is a pure function of
    * the quantized multiset; the ESS numerator squares in DOUBLE
    * (S₁² would breach decimal38 at the contract edge — two exact
    * doubles multiply instead). NULL and negative weights are rejected
    * in the same aggregation (negative w makes ESS meaningless);
    * n·maxw² ≤ 10³⁷ per key is CHECKED so Σw² can never silently
    * saturate decimal38. One hash agg, shuffle = key cardinality.
    * Σw = 0 → NaN diagnostics. Output:
    * (key, n, sum_w, ess, efficiency, max_w_share). */
  def weightDiagnostics(df: DataFrame, keyCol: String, wCol: String,
                        scale: Long = 1000000L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    val wq = bround(col(wCol).cast("double") * scale.toDouble, 0)
      .cast("long")
    val d = "decimal(38,0)"
    val (agg, _) = Contracts.checkpoint(df
      .select(col(keyCol), wq.as("__w"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col("__w").cast(d)).as("__s1"),
        sum(col("__w").cast(d) * col("__w").cast(d)).as("__s2"),
        max(col("__w")).as("__mw"),
        sum(when(col("__w").isNull || col("__w") < 0L, 1L)
          .otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"weightDiagnostics: $b NULL or negative weights — weights " +
          "must be nonnegative; filter or clamp first"),
      Contracts.Bound(
        sum(when(col("n").cast(d) * col("__mw").cast(d) *
            col("__mw").cast(d) >
            lit("1" + "0" * 37).cast(d), 1L).otherwise(0L)), _ == 0L,
        v => s"weightDiagnostics: $v keys exceed the decimal(38,0) " +
          "power-sum contract (rows x maxWeight^2 <= 1e37 per key at " +
          "the chosen scale) — lower scale or rescale the weights"))
    val s1D = col("__s1").cast("double")
    agg.select(col(keyCol), col("n"),
      (s1D / lit(scale.toDouble)).as("sum_w"),
      when(col("__s1") === lit(0L).cast(d), lit(Double.NaN))
        .otherwise(s1D * s1D / col("__s2").cast("double")).as("ess"),
      when(col("__s1") === lit(0L).cast(d), lit(Double.NaN))
        .otherwise(s1D * s1D / col("__s2").cast("double") /
          col("n").cast("double")).as("efficiency"),
      when(col("__s1") === lit(0L).cast(d), lit(Double.NaN))
        .otherwise(col("__mw").cast("double") / s1D).as("max_w_share"))
  }

  /** ISOTONIC CALIBRATION per key (pool-adjacent-violators —
    * Zadrozny–Elkan 2002): the monotone recalibration map the Brier
    * decomposition (q205) and reliability table (q182) diagnose the
    * need for. Scores collapse to a per-(key, score) histogram
    * (CHECKED bounded — the [[rankAucByKey]] discipline), the sorted
    * histogram runs the O(n) PAVA stack kernel
    * ([[graft.functions.PavaPools]]) with EXACT integer cross-product
    * rate comparisons (per-key rows ≤ 2·10⁹ CHECKED keeps y·w inside
    * int64 — no division ever happens), and the unique non-decreasing
    * blocks explode back to rows. Uniqueness of the squared-error
    * isotonic fit means ANY correct engine produces these exact
    * blocks — the oracle replays with a leftmost-merge recursive CTE
    * and agrees bit-for-bit. NULL score/label rows are rejected in the
    * histogram aggregation. To calibrate a new score: range-join it
    * into [score_min, score_max] (the q41 interval machinery) and
    * serve `rate`. Output:
    * (key, pool, score_min, score_max, w, y, rate). */
  def isotonicCalibration(df: DataFrame, keyCol: String, scoreCol: String,
                          labelCol: String,
                          maxDistinctPerKey: Long = 2000000L): DataFrame = {
    val s = col(scoreCol).cast("long")
    val l = col(labelCol).cast("boolean")
    val (hist, _) = Contracts.checkpoint(
      df.groupBy(col(keyCol), s.as("__s"))
        .agg(count(lit(1)).as("__w"),
          sum(when(l, 1L).otherwise(0L)).as("__y"),
          sum(when(s.isNull || l.isNull, 1L).otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"isotonicCalibration: $b NULL score/label rows — every row " +
          "needs a score and an outcome; filter explicitly first"))
    Contracts.enforce(
      hist.groupBy(col(keyCol))
        .agg(count(lit(1)).as("__k"), sum(col("__w")).as("__n")),
      distinctPerKey(max(col("__k")), maxDistinctPerKey,
        "isotonicCalibration"),
      Contracts.Bound(max(col("__n")), _ <= 2000000000L, n =>
        s"isotonicCalibration: a key holds $n rows, exceeding the " +
          "exact cross-product int64 contract (n <= 2e9 per key) — " +
          "sample the rows per key first"))
    val agg = hist.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("__s"), col("__w"),
        col("__y")))).as("__l"))
    agg.select(col(keyCol),
        posexplode(graft.functions.pava_pools(col("__l")))
          .as(Seq("__p", "__pool")))
      .select(col(keyCol), (col("__p") + 1).cast("long").as("pool"),
        col("__pool.score_min").as("score_min"),
        col("__pool.score_max").as("score_max"),
        col("__pool.w").as("w"), col("__pool.y").as("y"),
        (col("__pool.y").cast("double") / col("__pool.w").cast("double"))
          .as("rate"))
  }

  /** SEASONAL PROFILE per key (classical decomposition's seasonal
    * component, period-aligned): detrend by a centered moving sum and
    * average the residual per calendar position — "what does
    * day-of-week do to this metric, net of trend?" (period 7 over
    * epoch-days gives the weekly shape; 24 over hours the daily one).
    * The additive companion to [[holtSmooth]] (trend) and
    * [[changepointMeanShift]] (level breaks).
    *
    * Exactness: with ODD period p, the centered window SUM S_i is an
    * exact int64 (CHECKED n·max|x| ≤ 10¹⁸ — the prefix-sum
    * discipline), so the p-scaled residual p·x_i − S_i is an exact
    * integer and each position's seasonal mean is ONE double division
    * Σ(p·x − S) / (p·n_pos) — no floating-point accumulation anywhere.
    * Edge rows without a full window carry no residual (classical
    * decomposition's NA edges) but still count toward n. Positions
    * align to the VALUE of t (pos = t mod p), not the row number, so
    * gaps keep calendar alignment; the window itself is row-based —
    * give the operator a dense series (the LOCF/grid operators fill
    * gaps first). NULL t/x rejected; per-key rows CHECKED. Output:
    * (key, pos, n, n_windowed, seasonal). */
  def seasonalProfile(df: DataFrame, keyCol: String, tCol: String,
                      xCol: String, period: Int = 7,
                      maxRowsPerKey: Long = 2000000L): DataFrame = {
    require(period >= 3 && period % 2 == 1 && period <= 10001,
      s"seasonalProfile: period must be odd, in [3, 10001], got $period")
    val (proj, _) = Contracts.checkpoint(
      df.select(col(keyCol), col(tCol).cast("long").as("__t"),
        col(xCol).cast("long").as("__x")),
      Contracts.Bound(sum(when(col("__t").isNull || col("__x").isNull,
        1L).otherwise(0L)), _ == 0L, b =>
        s"seasonalProfile: $b NULL order/value rows — every row needs " +
          "a position and a metric; filter explicitly first"))
    Contracts.boundedPerKey(proj, keyCol, maxRowsPerKey,
      "seasonalProfile", "rows",
      "Pre-aggregate the series to coarser steps before profiling.",
      contract = "per-key window")
    val d = "decimal(38,0)"
    Contracts.enforce(
      proj.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"),
        max(abs(col("__x"))).as("__m")),
      Contracts.Bound(sum(when(col("__n").cast(d) * col("__m").cast(d) >
          lit("1000000000000000000").cast(d), 1L).otherwise(0L)),
        _ == 0L, v =>
          s"seasonalProfile: $v keys exceed the int64 window-sum " +
            "contract (rows x max|x| <= 1e18 per key) — rescale the " +
            "metric to coarser integer units"))
    val h = period / 2
    val win = Window.partitionBy(col(keyCol))
      .orderBy(col("__t"), col("__x")).rowsBetween(-h, h)
    val resid = proj
      .withColumn("__s", sum(col("__x")).over(win))
      .withColumn("__w", count(lit(1)).over(win))
      // decimal residual: p·x could pass int64 on a discarded branch
      // of a short key's row (ANSI would throw before when() filters)
      .withColumn("__r", when(col("__w") === period.toLong,
        lit(period.toLong).cast(d) * col("__x").cast(d) -
          col("__s").cast(d)))
    resid
      .groupBy(col(keyCol), pmod(col("__t"), lit(period.toLong))
        .as("pos"))
      .agg(count(lit(1)).as("n"), count(col("__r")).as("n_windowed"),
        sum(col("__r")).as("__rs"))
      .select(col(keyCol), col("pos"), col("n"), col("n_windowed"),
        when(col("n_windowed") === 0L, lit(Double.NaN))
          .otherwise(col("__rs").cast("double") /
            (lit(period.toDouble) * col("n_windowed").cast("double")))
          .as("seasonal"))
  }

  /** EMPIRICAL-BAYES RATE SHRINKAGE per key (beta-binomial, method of
    * moments — Robbins 1956 / the "smoothed CTR" standard): each
    * item's raw rate y/n shrinks toward its key's prior mean with
    * strength learned FROM the key's own rate spread,
    *
    *   m = mean(rᵢ),  v = var(rᵢ),  s = m(1−m)/v − 1,
    *   α = m·s,  β = (1−m)·s,  shrunk = (y + α)/(n + s)
    *
    * — low-traffic items land near the prior, high-traffic items keep
    * their own rate; the ranking-safe fix for "1/1 = 100%" items.
    * [[looTargetEncoding]]'s shrinkage sibling (that one excludes the
    * row, this one learns the strength).
    *
    * Exactness: items collapse to exact (n, y) cells (CHECKED bounded
    * per key); each rate is ONE division of exact longs, and Σr / Σr²
    * are SORTED SEQUENTIAL FOLDS over the item array (the list_reduce
    * parity discipline), so m, v, s and every shrunk rate are fixed
    * IEEE shapes both engines replay. Degenerate keys (v ≤ 0 — all
    * rates equal — or s ≤ 0) shrink nothing: shrunk = raw, strength
    * reported 0. NULL item/hit rows are rejected loudly. Output:
    * (key, item, n, y, rate, shrunk, prior_mean, strength). */
  def ebShrinkRates(df: DataFrame, keyCol: String, itemCol: String,
                    hitCol: String,
                    maxItemsPerKey: Long = 2000000L): DataFrame = {
    val hit = col(hitCol).cast("boolean")
    val (cells, _) = Contracts.checkpoint(
      df.groupBy(col(keyCol), col(itemCol).as("__i"))
        .agg(count(lit(1)).as("n"),
          sum(when(hit, 1L).otherwise(0L)).as("y"),
          sum(when(col(itemCol).isNull || hit.isNull, 1L).otherwise(0L))
            .as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"ebShrinkRates: $b NULL item/hit rows — every row needs an " +
          "item and an outcome; filter explicitly first"))
    requireBoundedPerKey(cells, keyCol, maxItemsPerKey, "ebShrinkRates")
    val rate = col("y").cast("double") / col("n").cast("double")
    val withRate = cells.withColumn("rate", rate)
    val folded = withRate.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__cnt"),
        sort_array(collect_list(struct(col("__i"), col("rate"))))
          .as("__l"))
    val sr = aggregate(col("__l"), lit(0.0),
      (acc, g) => acc + g.getField("rate"))
    val srr = aggregate(col("__l"), lit(0.0),
      (acc, g) => acc + g.getField("rate") * g.getField("rate"))
    val iD = col("__cnt").cast("double")
    val priors = folded
      .withColumn("__m", sr / iD)
      .withColumn("__v", srr / iD - col("__m") * col("__m"))
      .withColumn("__s", when(col("__v") > 0.0,
        col("__m") * (lit(1.0) - col("__m")) / col("__v") - 1.0)
        .otherwise(lit(0.0)))
      .select(col(keyCol), col("__m").as("prior_mean"),
        when(col("__s") > 0.0, col("__s")).otherwise(lit(0.0))
          .as("strength"))
    withRate.join(priors, Seq(keyCol))
      .select(col(keyCol), col("__i").as("item"), col("n"), col("y"),
        col("rate"),
        when(col("strength") > 0.0,
          (col("y").cast("double") + col("prior_mean") * col("strength"))
            / (col("n").cast("double") + col("strength")))
          .otherwise(col("rate")).as("shrunk"),
        col("prior_mean"), col("strength"))
  }

  /** LEAD–LAG CROSS-CORRELATION per key between two aligned series —
    * "does metric X LEAD metric Y, and by how many steps?" (signups →
    * purchases, crawl volume → index size, error rate → churn): for
    * every index lag k ∈ [−maxLag, maxLag], the Pearson correlation of
    * the overlapped pairs (x_i, y_{i+k}), one row per (key, lag); the
    * argmax row is the detected lead. The cross-series companion to
    * [[groupAutocorr]] (one series vs itself).
    *
    * Exactness/scale: each key's two series collect once (CHECKED
    * ≤ maxRowsPerKey — the [[theilSen]] kernel discipline) and ONE
    * O(n·L) BigInt kernel ([[graft.functions.LeadLagCorr]]) produces
    * all 2L+1 exact sufficient-statistic sets — overflow-free at any
    * magnitude, no per-lag shuffle, no self-join; each r is the fixed
    * IEEE shape num/(√d1·√d2) an engine replaying HUGEINT sums
    * reproduces. Series pair by index in (t, x, y)-sorted order —
    * give the operator a DENSE series (grid-fill gaps first). Rows
    * need both metrics; NULL t/x/y rejected loudly. Lags with fewer
    * than 2 overlapped pairs or zero variance → NaN. Output:
    * (key, lag, n_pairs, r). */
  def leadLagCorrelation(df: DataFrame, keyCol: String, tCol: String,
                         xCol: String, yCol: String, maxLag: Int = 7,
                         maxRowsPerKey: Long = 2000000L): DataFrame = {
    val (proj, _) = Contracts.checkpoint(
      df.select(col(keyCol), col(tCol).cast("long").as("__t"),
        col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y")),
      Contracts.Bound(sum(when(col("__t").isNull || col("__x").isNull ||
        col("__y").isNull, 1L).otherwise(0L)), _ == 0L, b =>
        s"leadLagCorrelation: $b NULL order/metric rows — every row " +
          "needs a position and both metrics; filter explicitly first"))
    Contracts.boundedPerKey(proj, keyCol, maxRowsPerKey,
      "leadLagCorrelation", "rows",
      "Pre-aggregate the series to coarser steps before correlating.",
      contract = "per-key series kernel")
    val series = proj.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("__t"), col("__x"),
        col("__y")))).as("__srt"))
      .select(col(keyCol),
        graft.functions.lead_lag_corr(
          transform(col("__srt"), g => g("__x")),
          transform(col("__srt"), g => g("__y")), maxLag).as("__ll"))
    series
      .select(col(keyCol), explode(col("__ll")).as("__g"))
      .select(col(keyCol), col("__g.lag").as("lag"),
        col("__g.n").as("n_pairs"), col("__g.r").as("r"))
  }

  /** COCHRAN–ARMITAGE TREND TEST per key — "does the success rate
    * move MONOTONICALLY with an ordered dose?" (exposure bucket,
    * quality band, spend tier): the ordered-categories sibling of
    * [[twoProportionZ]] (two arms) and [[kruskalWallisH]] (unordered
    * arms), scoring each dose by its integer value w:
    *
    *   T   = Σ_j w_j · (y_j·N − n_j·Y)          (N-scaled, exact)
    *   Var = Y(N−Y)(N·Σn w² − (Σn w)²) / N      (scaled to match)
    *   z   = T / √Var
    *
    * Exactness: rows collapse to the per-(key, dose) (n, y) cells
    * (CHECKED bounded); T and the variance pieces form in
    * decimal(38,0) — exact integers until the one fixed-shape
    * sqrt + divide the oracle replays in HUGEINT. NULL dose/hit rows
    * are rejected in the cell aggregation. Degenerate keys (all hits,
    * no hits, or a single dose) have zero variance → NaN. Output:
    * (key, n, y, n_doses, t_scaled, z). */
  def cochranArmitage(df: DataFrame, keyCol: String, doseCol: String,
                      hitCol: String,
                      maxDistinctPerKey: Long = 2000000L): DataFrame = {
    val w = col(doseCol).cast("long")
    val hit = col(hitCol).cast("boolean")
    val d = "decimal(38,0)"
    val (cells, _) = Contracts.checkpoint(df.groupBy(col(keyCol), w.as("__w"))
      .agg(count(lit(1)).as("__n"),
        sum(when(hit, 1L).otherwise(0L)).as("__y"),
        sum(when(w.isNull || hit.isNull, 1L).otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"cochranArmitage: $b NULL dose/hit rows — every row needs an " +
          "ordered dose and an outcome; filter explicitly first"))
    requireBoundedPerKey(cells, keyCol, maxDistinctPerKey,
      "cochranArmitage")
    val wD = col("__w").cast(d)
    val agg = cells.groupBy(col(keyCol))
      .agg(sum(col("__n")).as("n"), sum(col("__y")).as("y"),
        count(lit(1)).as("n_doses"),
        sum(col("__n").cast(d) * wD).as("__s1"),
        sum(col("__n").cast(d) * wD * wD).as("__s2"),
        sum(wD * col("__y").cast(d)).as("__wy"))
    val nD = col("n").cast(d)
    val yD = col("y").cast(d)
    val tScaled = col("__wy") * nD - col("__s1") * yD
    val varScaled = yD * (nD - yD) * (nD * col("__s2") -
      col("__s1") * col("__s1"))
    agg
      .withColumn("t_scaled", tScaled.cast("double"))
      .withColumn("__v", varScaled)
      .select(col(keyCol), col("n"), col("y"), col("n_doses"),
        col("t_scaled"),
        when(col("__v") <= lit(0L).cast(d), lit(Double.NaN))
          .otherwise(col("t_scaled") /
            sqrt(col("__v").cast("double") / col("n").cast("double")))
          .as("z"))
  }

  /** RANK-BIASED OVERLAP per key between two rankings (Webber 2010,
    * p = 0.9, truncated) — "did my top-k change, weighted toward the
    * top?" for search serving, recommendation slates and leaderboard
    * drift (set overlap ignores rank; Kendall needs conjoint lists;
    * RBO is THE serving-quality standard for indefinite rankings).
    * Inputs are two (key, item, rank) tables with ranks 1..k; rows
    * outside [1, k] are ignored; keys present in both sides emit.
    *
    * Exactness: p = 9/10 makes every depth weight rational — each
    * term is two exact int64 products and one IEEE division, summed
    * in depth order ([[graft.functions.RboOverlap]]; the oracle
    * replays with exact integer power literals + list_intersect).
    * k ≤ 19 (the 10^d int64 weight contract). Output:
    * (key, depth_a, depth_b, rbo) with rbo ∈ [0, 1]. */
  def rankingOverlap(a: DataFrame, b: DataFrame, keyCol: String,
                     itemCol: String, rankCol: String,
                     k: Int = 10): DataFrame = {
    require(k >= 1 && k <= 19,
      s"rankingOverlap: k must be in [1, 19], got $k")
    def arr(df: DataFrame, out: String) = df
      .where(col(rankCol) >= 1L && col(rankCol) <= k.toLong)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(rankCol).cast("long"),
        col(itemCol).cast("long").as("__i")))).as("__s"))
      .select(col(keyCol),
        transform(col("__s"), g => g("__i")).as(out))
    arr(a, "__a").join(arr(b, "__b"), Seq(keyCol))
      .select(col(keyCol), size(col("__a")).cast("long").as("depth_a"),
        size(col("__b")).cast("long").as("depth_b"),
        graft.functions.rbo_overlap(col("__a"), col("__b")).as("rbo"))
  }

  /** MANN–KENDALL TREND TEST per key (Mann 1945, Kendall 1975) — "is
    * this series monotonically drifting, without assuming linearity or
    * a distribution?": the nonparametric significance companion to
    * [[theilSen]]'s robust slope (the two are the standard pairing)
    * and the omnibus sibling of [[changepointMeanShift]]'s single
    * break. S = Σ_{i<j} sign(x_j − x_i) over time-ordered pairs, with
    * the tie-corrected variance
    * Var = [n(n−1)(2n+5) − Σ_t c_t(c_t−1)(2c_t+5)] / 18 and the
    * continuity-corrected z.
    *
    * Exactness/scale: S computes WITHOUT the O(n²) pair walk —
    * 2S = n(n−1) − Σ c(c−1) − 4·inversions, with inversions from the
    * O(n log n) merge-sort kernel over the (t, x)-sorted series
    * ([[groupInversions]]' machinery; rows per key CHECKED ≤
    * maxRowsPerKey) and tie masses from the per-(key, value)
    * histogram. Everything is exact integer/decimal until the one
    * fixed-shape z (sqrt + divide). Rows sharing a time sort ascending
    * by x (pre-aggregate to one observation per time for textbook MK).
    * NULL order/value rows are rejected loudly. Zero variance
    * (constant series or n < 2) → z = NaN. Output: (key, n, s, z). */
  def mannKendall(df: DataFrame, keyCol: String, tCol: String,
                  xCol: String,
                  maxRowsPerKey: Long = 1000000L): DataFrame = {
    val (proj, _) = Contracts.checkpoint(
      df.select(col(keyCol), col(tCol).cast("long").as("__t"),
        col(xCol).cast("long").as("__x")),
      Contracts.Bound(sum(when(col("__t").isNull || col("__x").isNull,
        1L).otherwise(0L)), _ == 0L, b =>
        s"mannKendall: $b NULL order/value rows — every row needs a " +
          "position and a metric; filter explicitly first"))
    Contracts.boundedPerKey(proj, keyCol, maxRowsPerKey, "mannKendall",
      "rows", "Pre-aggregate the series to coarser steps (e.g. daily " +
        "buckets) before testing.", contract = "per-key series kernel")
    val d = "decimal(38,0)"
    val series = proj.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col("__t"), col("__x"))))
          .as("__srt"))
      .select(col(keyCol), col("n"),
        coalesce(graft.functions.inversion_count(
          transform(col("__srt"), g => g("__x"))), lit(0L)).as("__inv"))
    val cD = col("__c").cast(d)
    val ties = proj.groupBy(col(keyCol), col("__x"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(keyCol))
      .agg(sum(cD * (cD - 1)).as("__tp2"),
        sum(cD * (cD - 1) * (lit(2L).cast(d) * cD + 5)).as("__tv"))
    val nD = col("n").cast(d)
    val s2 = nD * (nD - 1) - col("__tp2") -
      lit(4L).cast(d) * col("__inv").cast(d)
    val varNum = nD * (nD - 1) * (lit(2L).cast(d) * nD + 5) - col("__tv")
    val joined = series.join(ties, Seq(keyCol))
      // 2S is always even, so halve it EXACTLY with integral division
      // on the decimal (a double round-trip loses exactness once
      // |2S| > 2^53, i.e. n ≳ 9.5e7 — reachable through the tunable
      // maxRowsPerKey even though the default 1e6 is safe)
      .withColumn("__s2", s2)
      .withColumn("s", expr("__s2 div 2"))
      .drop("__s2")
      .withColumn("__vn", varNum)
    val sd = col("s").cast("double")
    val root = sqrt(col("__vn").cast("double") / lit(18.0))
    joined.select(col(keyCol), col("n"), col("s"),
      when(col("__vn") === lit(0L).cast(d), lit(Double.NaN))
        .when(col("s") > 0L, (sd - 1.0) / root)
        .when(col("s") < 0L, (sd + 1.0) / root)
        .otherwise(lit(0.0)).as("z"))
  }

  /** HOLT LEVEL+TREND SMOOTHING per key (double exponential smoothing,
    * Holt 1957) with power-of-two gains — the trend-aware upgrade of
    * the integer EWMA (q162) and the forecasting companion to the
    * seasonal-naive MASE readout (q207): per ordered step the
    * one-step-ahead forecast pred = level + trend, then both states
    * update by floor-divided residual fractions. EXACT integer
    * arithmetic end to end ([[graft.functions.HoltShiftLongs]]), so
    * the full series is a pure function of the input multiset and the
    * oracle replays it with the q162 positive-mod floor-division
    * trick. Per-key rows are CHECKED ≤ maxRowsPerKey (the series
    * collects per key — the [[theilSen]] kernel discipline) and
    * max|x| ≤ 10¹⁵ is CHECKED (floor updates contract the residual,
    * so level/trend stay within a small multiple of max|x| — far
    * inside int64 with that headroom). NULL order/value rows are
    * rejected loudly. Output:
    * (key, rn, t, x, pred, level, trend). */
  def holtSmooth(df: DataFrame, keyCol: String, tCol: String,
                 xCol: String, aShift: Int = 2, gShift: Int = 3,
                 maxRowsPerKey: Long = 2000000L): DataFrame = {
    val (proj, _) = Contracts.checkpoint(
      df.select(col(keyCol), col(tCol).cast("long").as("__t"),
        col(xCol).cast("long").as("__x")),
      Contracts.Bound(sum(when(col("__t").isNull || col("__x").isNull,
        1L).otherwise(0L)), _ == 0L, b =>
        s"holtSmooth: $b NULL order/value rows — every row needs a " +
          "position and a metric; filter explicitly first"),
      Contracts.Bound(max(abs(col("__x"))), _ <= 1000000000000000L, m =>
        s"holtSmooth: max|x| = $m exceeds the int64 headroom contract " +
          "(|x| <= 1e15) — rescale the metric to coarser integer units"))
    Contracts.boundedPerKey(proj, keyCol, maxRowsPerKey, "holtSmooth",
      "rows", "Pre-aggregate the series to coarser steps (e.g. daily " +
        "buckets) before smoothing.", contract = "per-key series")
    val series = proj.groupBy(col(keyCol))
      .agg(array_sort(collect_list(struct(col("__t"), col("__x"))))
        .as("__srt"))
      .select(col(keyCol),
        transform(col("__srt"), g => g("__t")).as("__ts"),
        transform(col("__srt"), g => g("__x")).as("__xs"))
    series.select(col(keyCol), col("__ts"), col("__xs"),
        posexplode(graft.functions.holt_shift(col("__xs"), aShift,
          gShift)).as(Seq("__p", "__h")))
      .select(col(keyCol), (col("__p") + 1).cast("long").as("rn"),
        element_at(col("__ts"), col("__p") + 1).as("t"),
        element_at(col("__xs"), col("__p") + 1).as("x"),
        col("__h.pred").as("pred"), col("__h.level").as("level"),
        col("__h.trend").as("trend"))
  }

  /** Serve an [[isotonicCalibration]] map onto new scores — the
    * deployment half of the calibration loop: each row finds its pool
    * by backward as-of on the pool's score_min (the merge-exec as-of,
    * [[AsOf.asofJoinMerge]] — one shuffle + sort per side, NEVER a
    * per-row range scan), and scores below the first pool clamp to its
    * rate (the standard isotonic out-of-range rule; above-range scores
    * land in the last pool naturally). The per-key first-pool table is
    * key-cardinality sized and joins back co-partitioned. Adds a
    * `calibrated` column; every other input column passes through. */
  def calibrateScores(pools: DataFrame, df: DataFrame, keyCol: String,
                      scoreCol: String): DataFrame = {
    val right = pools.select(col(keyCol),
      col("score_min").cast("long").as("__smin"),
      col("rate").as("calibrated"))
    val left = df.withColumn("__smin", col(scoreCol).cast("long"))
    val joined = AsOf.asofJoinMerge(left, right, keyCol, "__smin",
      inner = false)
    val firstPool = pools.where(col("pool") === 1L)
      .select(col(keyCol), col("rate").as("__r0"))
    joined.join(firstPool, Seq(keyCol), "left")
      .withColumn("calibrated", coalesce(col("calibrated"), col("__r0")))
      .drop("__r0", "__smin")
  }

  /** SINGLE BEST MEAN-SHIFT CHANGEPOINT per key (the classic "at most
    * one changepoint" least-squares scan — Hinkley 1970 / the first
    * split of binary segmentation): where does splitting the ordered
    * series into a left and right mean reduce the squared error most?
    * The [[cusumAlarms]] sibling: CUSUM streams "has it drifted past
    * h yet", this answers "WHERE did the level shift, and by how
    * much" in one retrospective pass. Minimizing SSE over splits s
    * equals maximizing f(s) = A²/n_L + B²/n_R (A, B = exact left and
    * right sums), and `gain` = f(s*) − (Σx)²/n is the between-segment
    * sum of squares the split explains (≥ 0).
    *
    * Exactness/engine-parity: rows order by (t, x) — a deterministic
    * total order up to interchangeable identical rows — and prefix
    * sums form exactly in int64 under a CHECKED n·max|x| ≤ 10¹⁸
    * per-key contract; the squares cross into decimal(38,0) before the
    * ONE double cast per candidate, so f is the same IEEE value on
    * both engines and the argmax (f desc, earliest split tie-break)
    * replays bit-exactly. Per-key rows are CHECKED ≤ maxRowsPerKey
    * (the [[theilSen]] window discipline — all windows key-partitioned,
    * never global). Keys with fewer than 2 rows have no candidate
    * split and drop. NULL t/x rows are rejected loudly. Output:
    * (key, n, cp_idx, cp_t, mean_l, mean_r, gain) — the split is
    * AFTER cp_idx rows; cp_t is the last left-segment t. */
  def changepointMeanShift(df: DataFrame, keyCol: String, tCol: String,
                           xCol: String,
                           maxRowsPerKey: Long = 2000000L): DataFrame = {
    val (proj, _) = Contracts.checkpoint(
      df.select(col(keyCol), col(tCol).cast("long").as("__t"),
        col(xCol).cast("long").as("__x")),
      Contracts.Bound(sum(when(col("__t").isNull || col("__x").isNull,
        1L).otherwise(0L)), _ == 0L, b =>
        s"changepointMeanShift: $b NULL order/value rows — every row " +
          "needs a position and a metric; filter explicitly first"))
    Contracts.boundedPerKey(proj, keyCol, maxRowsPerKey,
      "changepointMeanShift", "rows",
      "Pre-aggregate the series to coarser steps (e.g. daily buckets) " +
        "before scanning for the shift.", contract = "per-key window")
    val d = "decimal(38,0)"
    Contracts.enforce(
      proj.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"),
        max(abs(col("__x"))).as("__m")),
      Contracts.Bound(sum(when(col("__n").cast(d) * col("__m").cast(d) >
          lit("1000000000000000000").cast(d), 1L).otherwise(0L)),
        _ == 0L, v =>
          s"changepointMeanShift: $v keys exceed the int64 prefix-sum " +
            "contract (rows x max|x| <= 1e18 per key) — rescale the " +
            "metric to coarser integer units"))
    val ord = Window.partitionBy(col(keyCol))
      .orderBy(col("__t"), col("__x"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, 0)
    val whole = Window.partitionBy(col(keyCol))
    val aD = col("__a").cast(d)
    val bD = (col("__tot") - col("__a")).cast(d)
    val f = (aD * aD).cast("double") / col("__rn").cast("double") +
      (bD * bD).cast("double") /
        (col("__n") - col("__rn")).cast("double")
    val cands = proj
      .withColumn("__rn", row_number().over(ord).cast("long"))
      .withColumn("__a", sum(col("__x")).over(cum))
      .withColumn("__tot", sum(col("__x")).over(whole))
      .withColumn("__n", count(lit(1)).over(whole))
      .where(col("__rn") < col("__n"))
      .withColumn("__f", f)
    val pick = Window.partitionBy(col(keyCol))
      .orderBy(col("__f").desc, col("__rn").asc)
    val totD = col("__tot").cast(d)
    cands
      .withColumn("__pick", row_number().over(pick))
      .where(col("__pick") === 1)
      .select(col(keyCol), col("__n").as("n"), col("__rn").as("cp_idx"),
        col("__t").as("cp_t"),
        (col("__a").cast("double") / col("__rn").cast("double"))
          .as("mean_l"),
        ((col("__tot") - col("__a")).cast("double") /
          (col("__n") - col("__rn")).cast("double")).as("mean_r"),
        (col("__f") - (totD * totD).cast("double") /
          col("__n").cast("double")).as("gain"))
  }

  /** COHEN'S KAPPA inter-annotator agreement per key (Cohen 1960) —
    * the label-QA gate a human-annotated training corpus needs before
    * its labels are trusted: chance-corrected agreement between two
    * raters over the same items,
    *
    *   κ = (p_o − p_e) / (1 − p_e)
    *
    * with p_o the observed agreement rate and p_e the agreement
    * expected from the raters' marginal label distributions alone.
    *
    * Exactness: everything reduces to integers — n rows, A agreeing
    * rows, and P = Σ_c a_c·b_c the marginal-product sum over the two
    * raters' per-category counts — and κ unrolls to ONE division of
    * exact decimal(38,0) operands: κ = (n·A − P) / (n² − P) (multiply
    * p_o − p_e and 1 − p_e through by n²). n ≤ 2·10⁹ per key CHECKED
    * keeps n² ≤ 4·10¹⁸; the oracle replays in HUGEINT. A constant,
    * identical pair of raters (p_e = 1) yields 0/0 → NaN, surfaced,
    * not hidden. NULL ratings are rejected loudly (bucket them
    * explicitly — an 'unlabeled' category — before calling).
    *
    * Scale shape: three map-side-combining hash aggregations (rows →
    * per-key (n, A); rows → per-(key, category) counts per rater) and
    * ONE co-partitioned full-outer join of the two bounded category
    * histograms — no window, no sort, nothing data-sized past the
    * first aggregation. Output: (key, n, n_agree, po, pe, kappa). */
  def cohenKappa(df: DataFrame, keyCol: String, r1Col: String,
                 r2Col: String,
                 maxDistinctPerKey: Long = 2000000L): DataFrame = {
    val d = "decimal(38,0)"
    val (base, _) = Contracts.checkpoint(df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(r1Col) === col(r2Col), 1L).otherwise(0L))
          .as("n_agree")),
      Contracts.Bound(max(col("n")), _ <= 2000000000L, n =>
        s"cohenKappa: a key holds $n rows, exceeding the exact n^2 " +
          "int64 contract (n <= 2e9 per key) — sample the rows per " +
          "key first"))
    val marg = catHist(df, keyCol, r1Col, "__a", "cohenKappa")
      .join(catHist(df, keyCol, r2Col, "__b", "cohenKappa"),
        Seq(keyCol, "__cat"), "full_outer")
      .select(col(keyCol), col("__cat"),
        coalesce(col("__a"), lit(0L)).as("__a"),
        coalesce(col("__b"), lit(0L)).as("__b"))
      .localCheckpoint()
    requireBoundedPerKey(marg, keyCol, maxDistinctPerKey, "cohenKappa")
    val p = marg.groupBy(col(keyCol))
      .agg(sum(col("__a").cast(d) * col("__b").cast(d)).as("__p"))
    val nD = col("n").cast(d)
    val num = nD * col("n_agree").cast(d) - col("__p")
    val den = nD * nD - col("__p")
    base.join(p, keyCol)
      .select(col(keyCol), col("n"), col("n_agree"),
        (col("n_agree").cast("double") / col("n").cast("double"))
          .as("po"),
        (col("__p").cast("double") / (nD * nD).cast("double")).as("pe"),
        when(den === lit(0L).cast(d), lit(Double.NaN))
          .otherwise(num.cast("double") / den.cast("double"))
          .as("kappa"))
  }

  /** FLEISS' KAPPA multi-rater agreement per key (Fleiss 1971) — the
    * [[cohenKappa]] generalization for r > 2 raters per item (a
    * labeling campaign where each document gets r independent
    * judgments): chance-corrected mean pairwise agreement across all
    * items, from the per-(item, category) rating counts n_ic alone.
    *
    * With N items, r ratings each, S = Σ_ic n_ic² and T_c = Σ_i n_ic:
    *
    *   P̄  = (S − N·r) / (N·r·(r−1))      mean observed agreement
    *   P̄e = Σ_c T_c² / (N·r)²            chance agreement
    *   κ  = (P̄ − P̄e) / (1 − P̄e)
    *      = ((S − Nr)·(Nr)² − Nr(r−1)·ΣT²)
    *        / (Nr(r−1)·((Nr)² − ΣT²))     — exact integers throughout.
    *
    * The rating-count contract is CHECKED, not assumed: every item
    * within a key must carry the SAME number of ratings r ≥ 2 (Fleiss'
    * formula is undefined otherwise — filter to complete items first),
    * and N·r ≤ 10⁹ with r ≤ 10⁴ keeps the κ numerator ≤ (Nr)³·r ≤ 10³¹
    * inside decimal(38,0) (oracle: HUGEINT). NULL items/categories are
    * rejected loudly. P̄e = 1 (every rating in one category) → 0/0 →
    * NaN, surfaced.
    *
    * Scale shape: rows → per-(key, item, category) counts in ONE
    * map-side-combining aggregation, then two bounded reductions (per
    * item, per category) — no window, no sort, no collect.
    * Output: (key, n_items, n_raters, pbar, pe, kappa). */
  def fleissKappa(df: DataFrame, keyCol: String, itemCol: String,
                  catCol: String): DataFrame = {
    val d = "decimal(38,0)"
    val (nic, _) = Contracts.checkpoint(
      df.groupBy(col(keyCol), col(itemCol).as("__item"),
          col(catCol).as("__cat"))
        .agg(count(lit(1)).as("__c"),
          sum(when(col(itemCol).isNull || col(catCol).isNull, 1L)
            .otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"fleissKappa: $b rating rows carry a NULL item or category — " +
          "bucket them explicitly before calling"))
    val perItem = nic.groupBy(col(keyCol), col("__item"))
      .agg(sum(col("__c")).as("__r"),
        sum(col("__c").cast(d) * col("__c").cast(d)).as("__s2"))
      .localCheckpoint()
    // the fixed-r contract, per key: min == max and r >= 2
    Contracts.enforce(
      perItem.groupBy(col(keyCol))
        .agg(min(col("__r")).as("__rmin"), max(col("__r")).as("__rmax"),
          count(lit(1)).as("__ni")),
      Contracts.Bound(sum(when(col("__rmin") =!= col("__rmax"), 1L)
        .otherwise(0L)), _ == 0L, k =>
        s"fleissKappa: $k keys mix items with differing rating counts " +
          "— Fleiss' kappa needs the same r per item; filter to " +
          "complete items first"),
      Contracts.Bound(min(col("__rmin")), _ >= 2L, r =>
        s"fleissKappa: items carry r=$r ratings — agreement needs " +
          "r >= 2"),
      Contracts.Bound(max(col("__ni") * col("__rmax")),
        _ <= 1000000000L, v =>
          s"fleissKappa: a key holds N*r=$v ratings, exceeding the " +
            "decimal(38,0) kappa contract (N*r <= 1e9) — sample items"),
      Contracts.Bound(max(col("__rmax")), _ <= 10000L, r =>
        s"fleissKappa: r=$r raters per item exceeds the r <= 1e4 " +
          "contract"))
    val byKey = perItem.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_items"), max(col("__r")).as("n_raters"),
        sum(col("__s2")).as("__s"))
    val tc = nic.groupBy(col(keyCol), col("__cat"))
      .agg(sum(col("__c")).as("__t"))
      .groupBy(col(keyCol))
      .agg(sum(col("__t").cast(d) * col("__t").cast(d)).as("__t2"))
    val nr = col("n_items").cast(d) * col("n_raters").cast(d)
    val rm1 = (col("n_raters") - 1L).cast(d)
    val num = (col("__s") - nr) * nr * nr - nr * rm1 * col("__t2")
    val den = nr * rm1 * (nr * nr - col("__t2"))
    byKey.join(tc, keyCol)
      .select(col(keyCol), col("n_items"), col("n_raters"),
        ((col("__s") - nr).cast("double") / (nr * rm1).cast("double"))
          .as("pbar"),
        (col("__t2").cast("double") / (nr * nr).cast("double")).as("pe"),
        when(den === lit(0L).cast(d), lit(Double.NaN))
          .otherwise(num.cast("double") / den.cast("double"))
          .as("kappa"))
  }

  /** GROUP FAIRNESS AUDIT of a binary classifier — the bias gate an
    * ML training/eval pipeline runs before a labeled or model-scored
    * corpus ships: per-group confusion counts plus the three standard
    * group-fairness rates and their gaps to the ALL-rows baseline —
    * true-positive rate (equal opportunity), false-positive rate
    * (equalized odds' second half), and selection rate (demographic
    * parity).
    *
    * Exactness: counts are exact longs; every rate is the micro-scaled
    * TRUNCATING integer division 10⁶·num div den (Spark `div` ==
    * DuckDB `//` on non-negatives), so rates and gaps are exact
    * integers — no IEEE anywhere. A group with an empty denominator
    * (no positives / no negatives / no rows) reports NULL for that
    * rate and its gap rather than a fake 0. Labels and predictions
    * are CHECKED ∈ {0, 1} and non-NULL — fail loudly, don't guess.
    *
    * Scale shape: ONE map-side-combining aggregation to the bounded
    * per-group confusion table, one single-row global reduction over
    * it, one broadcast-sized cross join back — no window, no sort.
    * Output: (group, n, tp, fp, fn, tn, tpr_micro, fpr_micro,
    * sel_micro, tpr_gap_micro, fpr_gap_micro, sel_gap_micro). */
  def fairnessAudit(df: DataFrame, groupCol: String, labelCol: String,
                    predCol: String): DataFrame =
    fairnessFromConf(
      confusionHist(df, groupCol, labelCol, predCol, "fairnessAudit"),
      groupCol)

  /** The validated per-group confusion table behind [[fairnessAudit]]
    * and the streaming twin — counts are additive over disjoint row
    * sets, so maintainers fold these histograms directly. */
  private[graft] def confusionHist(df: DataFrame, groupCol: String,
                                   labelCol: String, predCol: String,
                                   op: String): DataFrame = {
    val bad = (c: String) => when(col(c).isNull ||
      (col(c) =!= 0L && col(c) =!= 1L), 1L).otherwise(0L)
    val (conf, _) = Contracts.checkpoint(df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol) === 1L && col(predCol) === 1L, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col(labelCol) === 0L && col(predCol) === 1L, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col(labelCol) === 1L && col(predCol) === 0L, 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col(labelCol) === 0L && col(predCol) === 0L, 1L)
          .otherwise(0L)).as("tn"),
        sum(bad(labelCol) + bad(predCol)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"$op: $b NULL or non-binary label/prediction " +
          "values — encode both columns as {0, 1} longs first"),
      Contracts.Bound(sum(col("n")), _ <= 1000000000000L, n =>
        s"$op: $n rows exceed the micro-rate int64 " +
          "contract (1e12 rows)"))
    conf.drop("__bad")
  }

  /** The metric tail over a validated confusion table (see
    * [[fairnessAudit]] for semantics). */
  private[graft] def fairnessFromConf(conf: DataFrame,
                                      groupCol: String): DataFrame = {
    def rate(num: Column, den: Column): Column =
      when(den === 0L, lit(null).cast("long"))
        .otherwise(call_function("div", num * 1000000L, den))
    val overall = conf.agg(sum(col("tp")).as("__otp"),
      sum(col("fp")).as("__ofp"), sum(col("fn")).as("__ofn"),
      sum(col("tn")).as("__otn"), sum(col("n")).as("__on"))
    conf.crossJoin(broadcast(overall))
      .select(col(groupCol), col("n"), col("tp"), col("fp"), col("fn"),
        col("tn"),
        rate(col("tp"), col("tp") + col("fn")).as("tpr_micro"),
        rate(col("fp"), col("fp") + col("tn")).as("fpr_micro"),
        rate(col("tp") + col("fp"), col("n")).as("sel_micro"),
        (rate(col("tp"), col("tp") + col("fn")) -
          rate(col("__otp"), col("__otp") + col("__ofn")))
          .as("tpr_gap_micro"),
        (rate(col("fp"), col("fp") + col("tn")) -
          rate(col("__ofp"), col("__ofp") + col("__otn")))
          .as("fpr_gap_micro"),
        (rate(col("tp") + col("fp"), col("n")) -
          rate(col("__otp") + col("__ofp"), col("__on")))
          .as("sel_gap_micro"))
  }

  /** MUTUAL INFORMATION between two categorical columns per key —
    * the feature-relevance / leakage audit (does the source predict
    * the label? does a metadata field leak the split?): I(X; Y) in
    * nats plus both marginal entropies and the min-normalized NMI.
    *
    *   I(X;Y) = Σ_xy p_xy · ln( p_xy / (p_x·p_y) )
    *          = (1/n)  Σ_xy c_xy · (ln c_xy + ln n − ln r_x − ln c_y)
    *
    * Exactness/engine-parity: the micro-log discipline ([[jsdByKey]])
    * — each ln runs ONCE over an exact integer (counts ≤ 2·10⁹ per
    * key CHECKED, so every operand is an exactly-representable
    * double), quantizes to int64 micro-nats, and the weighted sums
    * form in decimal(38,0) (terms ≤ 2·10⁹·8·10⁷ ≤ 1.6·10¹⁷ per cell);
    * the only remaining IEEE ops are the final divisions. Marginal
    * entropies fall out of the SAME per-cell pass (Σ_y c_xy = r_x, so
    * H(X)·n·10⁶ = Σ_xy c_xy·(lnq n − lnq r_x)). NMI = I/min(H_X, H_Y)
    * (NaN when either marginal is constant — no information exists to
    * normalize by). NULL categories are rejected loudly.
    *
    * Scale shape: ONE map-side-combining aggregation to the bounded
    * per-(key, x, y) cell table (CHECKED ≤ maxDistinctPerKey cells
    * per key), then key-partitioned windows over that bounded table
    * for the marginals — never over raw rows — and one final per-key
    * reduction. Output: (key, n, n_cells, mi, h_x, h_y, nmi). */
  def mutualInfoByKey(df: DataFrame, keyCol: String, xCol: String,
                      yCol: String,
                      maxDistinctPerKey: Long = 2000000L): DataFrame =
    miFromCells(miCells(df, keyCol, xCol, yCol, "mutualInfoByKey"),
      keyCol, maxDistinctPerKey)

  /** The validated per-(key, x, y) cell table behind
    * [[mutualInfoByKey]] and its streaming twin — counts are additive
    * over disjoint row sets, so maintainers fold these directly. */
  private[graft] def miCells(df: DataFrame, keyCol: String, xCol: String,
                             yCol: String, op: String): DataFrame = {
    val (cells, _) = Contracts.checkpoint(
      df.groupBy(col(keyCol), col(xCol).as("__x"),
          col(yCol).as("__y"))
        .agg(count(lit(1)).as("__c"),
          sum(when(col(xCol).isNull || col(yCol).isNull, 1L)
            .otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"$op: $b rows carry a NULL category — bucket " +
          "them explicitly (e.g. an 'unknown' value) before calling"))
    cells.drop("__bad")
  }

  /** The micro-nat tail over a validated cell table (see
    * [[mutualInfoByKey]] for semantics). */
  private[graft] def miFromCells(cells: DataFrame, keyCol: String,
                                 maxDistinctPerKey: Long): DataFrame = {
    val d = "decimal(38,0)"
    Contracts.enforce(
      cells.groupBy(col(keyCol))
        .agg(count(lit(1)).as("__k"), sum(col("__c")).as("__n")),
      distinctPerKey(max(col("__k")), maxDistinctPerKey, "mutualInfoByKey"),
      Contracts.Bound(max(col("__n")), _ <= 2000000000L, n =>
        s"mutualInfoByKey: a key holds $n rows, exceeding the exact " +
          "micro-log contract (n <= 2e9 per key) — sample first"))
    val perKey = Window.partitionBy(col(keyCol))
    val withM = cells
      .withColumn("__n", sum(col("__c")).over(perKey))
      .withColumn("__rx", sum(col("__c"))
        .over(Window.partitionBy(col(keyCol), col("__x"))))
      .withColumn("__cy", sum(col("__c"))
        .over(Window.partitionBy(col(keyCol), col("__y"))))
    val cD = col("__c").cast(d)
    val lnN = lnMicro(col("__n").cast("double"))
    val agg = withM.groupBy(col(keyCol))
      .agg(max(col("__n")).as("n"), count(lit(1)).as("n_cells"),
        sum(cD * (lnMicro(col("__c").cast("double")) + lnN -
          lnMicro(col("__rx").cast("double")) -
          lnMicro(col("__cy").cast("double"))).cast(d)).as("__mi"),
        sum(cD * (lnN - lnMicro(col("__rx").cast("double"))).cast(d))
          .as("__hx"),
        sum(cD * (lnN - lnMicro(col("__cy").cast("double"))).cast(d))
          .as("__hy"))
    val scale = (col("n").cast(d) * lit(1000000L).cast(d))
      .cast("double")
    val mi = col("__mi").cast("double") / scale
    val hx = col("__hx").cast("double") / scale
    val hy = col("__hy").cast("double") / scale
    agg.select(col(keyCol), col("n"), col("n_cells"), mi.as("mi"),
      hx.as("h_x"), hy.as("h_y"),
      when(least(hx, hy) > 0.0, mi / least(hx, hy))
        .otherwise(lit(Double.NaN)).as("nmi"))
  }

  /** WINSORIZED MEAN per key — the robust companion to the trimmed
    * means (q199): instead of DROPPING the tails, values CLAMP to the
    * α / (1−α) order statistics, so n stays the full count (the
    * estimator metrics teams prefer when row counts must reconcile
    * downstream). With r_lo = ⌈α·n⌉ and r_hi = n + 1 − r_lo (1-based
    * order-statistic ranks), every x below x₍r_lo₎ becomes x₍r_lo₎ and
    * every x above x₍r_hi₎ becomes x₍r_hi₎.
    *
    * Exactness: the winsorized sum decomposes over the per-(key, x)
    * histogram into three exact integer pieces —
    * below·lo + Σ_{lo≤x≤hi} c·x + above·hi — in decimal(38,0), and the
    * mean is the single final division (the [[exactGroupQuantile]]
    * rank discipline picks lo/hi from the same cumulative window).
    * α is the exact rational pNum/pDen, CHECKED < 1/2.
    *
    * Scale shape: one map-side-combining histogram aggregation +
    * key-partitioned windows over the CHECKED bounded histogram —
    * never raw rows. Output:
    * (key, n, lo, hi, winsorized_mean, raw_mean). */
  def winsorizedMean(df: DataFrame, keyCol: String, xCol: String,
                     pNum: Long, pDen: Long,
                     maxDistinctPerKey: Long = 2000000L): DataFrame = {
    require(pDen >= 2 && pNum >= 1 && 2 * pNum < pDen,
      s"winsorizedMean needs 0 < pNum/pDen < 1/2, got $pNum/$pDen")
    val d = "decimal(38,0)"
    val hist = df.groupBy(col(keyCol), col(xCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c")).localCheckpoint()
    requireBoundedPerKey(hist, keyCol, maxDistinctPerKey,
      "winsorizedMean")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__n", sum(col("__c"))
        .over(Window.partitionBy(col(keyCol))))
    val rLo = expr(s"(${pNum}L * __n + ${pDen - 1}L) div ${pDen}L")
    val rHi = col("__n") + 1L - rLo
    def pick(r: Column): Column =
      sum(when(col("__cum") - col("__c") < r && r <= col("__cum"),
        col("__v")).otherwise(0L))
    // clamp needs lo/hi, which only exist after the pick — second pass
    // over the SAME bounded histogram joined back to (lo, hi)
    val bounds = cum.groupBy(col(keyCol))
      .agg(first(col("__n")).as("n"), pick(rLo).as("lo"),
        pick(rHi).as("hi"),
        sum(col("__c").cast(d) * col("__v").cast(d)).as("__raw"))
    hist.join(bounds, keyCol)
      .groupBy(col(keyCol))
      .agg(first(col("n")).as("n"), first(col("lo")).as("lo"),
        first(col("hi")).as("hi"),
        sum(greatest(least(col("__v"), col("hi")), col("lo")).cast(d) *
          col("__c").cast(d)).as("__ws"),
        first(col("__raw")).as("__raw"))
      .select(col(keyCol), col("n"), col("lo"), col("hi"),
        (col("__ws").cast("double") / col("n").cast("double"))
          .as("winsorized_mean"),
        (col("__raw").cast("double") / col("n").cast("double"))
          .as("raw_mean"))
  }

  /** LABEL-NOISE JOINT ESTIMATE by confident learning (Northcutt,
    * Jiang & Chuang 2021 — the public "cleanlab" recipe): given each
    * row's ASSIGNED label and per-class model scores, a row counts
    * into joint cell (given, guessed) when `guessed` is the
    * highest-scoring class whose score clears that class's confidence
    * threshold t_j = mean score of class j among rows GIVEN label j;
    * rows clearing no threshold are abstentions (guessed = −1). The
    * off-diagonal mass estimates the label-noise rate per class pair —
    * the relabel-audit a labeled training corpus runs before training.
    *
    * Exactness: scores are caller-quantized integers, and the
    * threshold comparison s_j ≥ t_j cross-multiplies to the EXACT
    * integer test s_j·n_j ≥ Σ_j (no division ever happens); the argmax
    * over passing classes breaks ties to the SMALLER class index. The
    * per-class (n_j, Σ_j) pairs are collected once (≤ 16 classes
    * CHECKED) and embedded as literals, so the scan stays map-only.
    * CHECKED: labels ∈ [0, m), scores ∈ [0, 10⁹], class sizes ≤ 10⁹
    * (keeps s·n ≤ 10¹⁸ in int64). A class with NO given rows never
    * passes (its threshold is undefined — CL's convention).
    *
    * Scale shape: one aggregation for the thresholds (m rows), one
    * map-only fold over the m-class literal grid per row, one final
    * (given, guessed) count — bounded by m² + m cells.
    * Output: (given_label, guessed_label, n) — guessed −1 rows carry
    * the abstentions. */
  def labelNoiseJoint(df: DataFrame, labelCol: String,
                      scoreCols: Seq[String]): DataFrame = {
    val m = scoreCols.length
    require(m >= 2 && m <= 16,
      s"labelNoiseJoint needs 2..16 classes, got $m")
    val scoreNull = scoreCols.map(c => col(s"__s$c").isNull ||
      col(s"__s$c") < 0L || col(s"__s$c") > 1000000000L)
      .reduce(_ || _)
    val (base, _) = Contracts.checkpoint(
      df.select(col(labelCol).cast("long").as("__y") +:
        scoreCols.map(c => col(c).cast("long").as(s"__s$c")): _*),
      Contracts.Bound(sum(when(col("__y").isNull || col("__y") < 0L ||
        col("__y") >= m.toLong || scoreNull, 1L).otherwise(0L)),
        _ == 0L, b =>
          s"labelNoiseJoint: $b rows carry a label outside [0, $m) or " +
            "a NULL / negative / oversized score (scores must be " +
            "integers in [0, 1e9]) — quantize and bucket first"))
    val sums = scoreCols.zipWithIndex.map { case (c, j) =>
      sum(when(col("__y") === j.toLong, col(s"__s$c"))
        .otherwise(0L)).as(s"__sum$j")
    }
    val thr = base.groupBy(col("__y"))
      .agg(count(lit(1)).as("__n"), sums: _*)
      .collect()
    val nJ = Array.fill(m)(0L)
    val sumJ = Array.fill(m)(0L)
    thr.foreach { r =>
      val j = r.getLong(0).toInt
      nJ(j) = r.getLong(1)
      sumJ(j) = r.getLong(2 + j)
    }
    require(nJ.forall(_ <= 1000000000L),
      s"labelNoiseJoint: a class holds over 1e9 rows — the exact " +
        "cross-multiplied threshold contract (s*n <= 1e18) fails; " +
        "sample first")
    // fold over the literal class grid: argmax score among classes
    // clearing their threshold, ties to the smaller index
    val best = scoreCols.zipWithIndex.foldLeft(
      struct(lit(-1L).as("s"), lit(-1L).as("j"))) { case (acc, (c, j)) =>
      val s = col(s"__s$c")
      val passes = lit(nJ(j)) > 0L && s * lit(nJ(j)) >= lit(sumJ(j))
      when(passes && s > acc.getField("s"),
        struct(s.as("s"), lit(j.toLong).as("j"))).otherwise(acc)
    }
    base.withColumn("__g", best.getField("j"))
      .groupBy(col("__y").as("given_label"),
        col("__g").as("guessed_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** KRIPPENDORFF'S ALPHA (nominal) per key — the agreement
    * coefficient for the labeling campaigns [[fleissKappa]] cannot
    * touch: items may carry DIFFERENT rater counts (missing
    * judgments, adaptive re-review). Items with fewer than two
    * ratings carry no pairable information and are excluded
    * (Krippendorff's own convention); a key with no pairable items
    * drops.
    *
    *   α = 1 − D_o / D_e,  computed from the coincidence matrix:
    *   O_off = Σ_i (r_i² − Σ_c n_ic²) / (r_i − 1)   (off-diagonal
    *           observed coincidences), n_c = Σ_i n_ic, n = Σ_i r_i,
    *   P_off = n² − Σ_c n_c²,
    *   α = 1 − (n − 1) · O_off / P_off.
    *
    * Exactness: the only fractions are the per-item /(r_i − 1), and
    * r_i ≤ 25 is CHECKED, so multiplying through by the FIXED
    * L = lcm(1..24) = 5 354 228 880 makes every term an exact integer:
    * OL = Σ_i (L/(r_i−1))·(r_i² − Σn_ic²) in decimal(38,0), and
    * α = (L·P_off − (n−1)·OL) / (L·P_off) is ONE division of exact
    * operands (n ≤ 10⁹ per key CHECKED keeps L·P_off ≤ ~5·10²⁸).
    * All-one-category keys give 0/0 → NaN, surfaced. NULLs rejected.
    *
    * Scale shape: identical to [[fleissKappa]] — one aggregation to
    * the per-(key, item, category) counts, two bounded reductions.
    * Output: (key, n_items, n_pairable, do_rate, de_rate, alpha). */
  def krippendorffAlpha(df: DataFrame, keyCol: String, itemCol: String,
                        catCol: String): DataFrame = {
    val d = "decimal(38,0)"
    val L = 5354228880L // lcm(1..24)
    val (nic, _) = Contracts.checkpoint(
      df.groupBy(col(keyCol), col(itemCol).as("__item"),
          col(catCol).as("__cat"))
        .agg(count(lit(1)).as("__c"),
          sum(when(col(itemCol).isNull || col(catCol).isNull, 1L)
            .otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"krippendorffAlpha: $b rating rows carry a NULL item or " +
          "category — bucket them explicitly before calling"))
    val perItem = nic.groupBy(col(keyCol), col("__item"))
      .agg(sum(col("__c")).as("__r"),
        sum(col("__c").cast(d) * col("__c").cast(d)).as("__s2"))
      .where(col("__r") >= 2L) // unpairable items carry no information
      .localCheckpoint()
    Contracts.enforce(
      perItem.groupBy(col(keyCol))
        .agg(max(col("__r")).as("__rmax"), sum(col("__r")).as("__n")),
      Contracts.Bound(max(col("__rmax")), _ <= 25L, r =>
        s"krippendorffAlpha: an item carries r=$r ratings, exceeding " +
          "the exact lcm(1..24) contract (r <= 25) — sample judgments " +
          "per item first"),
      Contracts.Bound(max(col("__n")), _ <= 1000000000L, n =>
        s"krippendorffAlpha: a key holds n=$n pairable ratings, " +
          "exceeding the decimal(38,0) contract (n <= 1e9)"))
    val rD = col("__r").cast(d)
    val byKey = perItem.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_items"), sum(col("__r")).as("__n"),
        sum(call_function("div", lit(L), col("__r") - 1L).cast(d) *
          (rD * rD - col("__s2"))).as("__ol"))
    // category marginals over PAIRABLE items only
    val nc = nic.join(perItem.select(col(keyCol), col("__item")),
        Seq(keyCol, "__item"))
      .groupBy(col(keyCol), col("__cat"))
      .agg(sum(col("__c")).as("__nc"))
      .groupBy(col(keyCol))
      .agg(sum(col("__nc").cast(d) * col("__nc").cast(d)).as("__nc2"))
    val nD = col("__n").cast(d)
    val pOff = nD * nD - col("__nc2")
    val num = lit(L).cast(d) * pOff - (nD - lit(1L).cast(d)) * col("__ol")
    val den = lit(L).cast(d) * pOff
    byKey.join(nc, keyCol)
      .select(col(keyCol), col("n_items"), col("__n").as("n_pairable"),
        (col("__ol").cast("double") /
          (lit(L).cast(d) * nD).cast("double")).as("do_rate"),
        (pOff.cast("double") / (nD * (nD - lit(1L).cast(d)))
          .cast("double")).as("de_rate"),
        when(den === lit(0L).cast(d), lit(Double.NaN))
          .otherwise(num.cast("double") / den.cast("double"))
          .as("alpha"))
  }

  /** PER-RATER ACCURACY AGAINST MAJORITY-VOTE GOLD — the labeling-ops
    * companion to the agreement family ([[cohenKappa]] says "do raters
    * agree"; this says WHICH rater to retrain): each item's gold label
    * is the majority vote over its ratings (ties break to the
    * lexicographically smallest tied category — deterministic in both
    * engines), and every rater scores (ratings given, matches with
    * gold, micro-scaled accuracy).
    *
    * Exactness: counts are exact longs; the majority is two bounded
    * aggregations over the per-(item, category) count table (max
    * count, then MIN category among rows holding it — no comparator
    * ambiguity); accuracy is the micro-scaled truncating division
    * (Spark div == DuckDB //). NULL items/raters/categories are
    * rejected loudly. Items with a single rating still vote (their
    * rating IS the gold) — exclude upstream if unwanted.
    *
    * Scale shape: one aggregation to (item, category) counts, two
    * bounded reductions for the gold table, one equi-join of ratings
    * back to gold on the item key, one final per-rater aggregation —
    * everything partial-combining, no window, no collect.
    * Output: (rater, n_ratings, n_matches, acc_micro). */
  def raterAccuracy(df: DataFrame, itemCol: String, raterCol: String,
                    catCol: String): DataFrame = {
    val (nic, _) = Contracts.checkpoint(df.groupBy(col(itemCol).as("__item"),
        col(catCol).as("__cat"))
      .agg(count(lit(1)).as("__c"),
        sum(when(col(itemCol).isNull || col(raterCol).isNull ||
          col(catCol).isNull, 1L).otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"raterAccuracy: $b rating rows carry a NULL item, rater or " +
          "category — bucket them explicitly before calling"),
      Contracts.Bound(sum(col("__c")), _ <= 1000000000000L, n =>
        s"raterAccuracy: $n ratings exceed the micro-rate int64 " +
          "contract (1e12)"))
    val maxc = nic.groupBy(col("__item")).agg(max(col("__c")).as("__mx"))
    val gold = nic.join(maxc, "__item")
      .where(col("__c") === col("__mx"))
      .groupBy(col("__item"))
      .agg(min(col("__cat")).as("__gold"))
    df.select(col(itemCol).as("__item"), col(raterCol).as("__rater"),
        col(catCol).as("__cat"))
      .join(gold, "__item")
      .groupBy(col("__rater").as("rater"))
      .agg(count(lit(1)).as("n_ratings"),
        sum(when(col("__cat") === col("__gold"), 1L).otherwise(0L))
          .as("n_matches"))
      .select(col("rater"), col("n_ratings"), col("n_matches"),
        call_function("div", col("n_matches") * 1000000L,
          col("n_ratings")).as("acc_micro"))
  }

  /** OFF-POLICY VALUE ESTIMATE (IPS + SNIPS) per key — counterfactual
    * evaluation of a NEW policy from logged decisions (Horvitz–
    * Thompson / self-normalized importance sampling; the standard
    * recsys/ads/router readout "what would the new policy have
    * earned"): rows where the target policy agrees with the logged
    * action are up-weighted by the inverse logged propensity,
    *
    *   IPS   = (1/n) Σ r·𝟙[π = a] / p
    *   SNIPS = Σ r·w / Σ w,  w = 𝟙[π = a]/p
    *
    * plus the matched-row effective sample size ESS = (Σw)²/Σw² — the
    * honesty meter (a tiny ESS means the estimate rides on a few
    * lucky matches).
    *
    * Exactness: propensities arrive micro-quantized (CHECKED ∈
    * [1, 10⁶] — a zero propensity has infinite weight and is rejected,
    * not imputed); weights are the exact truncating integer division
    * w = 10¹² div p_micro; rewards are integer units; every sum forms
    * in decimal(38,0) under a CHECKED n·max|r| ≤ 10¹⁵ contract, and
    * the three estimates are single divisions of exact operands.
    *
    * Scale shape: ONE map-side-combining aggregation per key — no
    * join, no window. Output: (key, n, n_matched, ips_value,
    * snips_value, ess). Empty-match keys report NaN estimates. */
  def ipsEstimate(df: DataFrame, keyCol: String, actionCol: String,
                  targetCol: String, propMicroCol: String,
                  rewardCol: String,
                  weightCap: Long = 1000000000000L): DataFrame = {
    require(weightCap >= 1L && weightCap <= 1000000000000L,
      s"ipsEstimate: weightCap must be in [1, 1e12], got $weightCap")
    val d = "decimal(38,0)"
    // greatest(p, 1) keeps the division total so a bad propensity row
    // reaches the LOUD __bad contract instead of a div-by-zero crash
    // mid-aggregation (the contract rejects before anything is served);
    // least(·, cap) is the standard clipped-IPS variance control
    // (cap = 1e12 — the max possible weight — means no clipping)
    val w = least(call_function("div", lit(1000000000000L),
      greatest(col(propMicroCol), lit(1L))), lit(weightCap))
    val matched = col(actionCol) === col(targetCol)
    val (base, _) = Contracts.checkpoint(df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(when(matched, 1L).otherwise(0L)).as("n_matched"),
        sum(when(matched, w).otherwise(0L).cast(d)).as("__sw"),
        // widen BEFORE the square: w reaches 1e12 at p = 1 micro, so
        // w*w = 1e24 overflows int64
        sum(when(matched, w.cast(d) * w.cast(d))
          .otherwise(lit(0L).cast(d))).as("__sw2"),
        sum(when(matched, col(rewardCol).cast(d) * w.cast(d))
          .otherwise(lit(0L).cast(d))).as("__srw"),
        max(abs(col(rewardCol))).as("__maxr"),
        sum(when(col(propMicroCol).isNull ||
          col(propMicroCol) < 1L || col(propMicroCol) > 1000000L ||
          col(rewardCol).isNull || col(actionCol).isNull ||
          col(targetCol).isNull, 1L).otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"ipsEstimate: $b rows carry NULLs or a propensity outside " +
          "[1, 1e6] micro — a zero/NULL propensity has unbounded " +
          "weight; fix the logging, don't impute"),
      Contracts.Bound(max(col("n") * col("__maxr")),
        _ <= 1000000000000000L, v =>
          s"ipsEstimate: n x max|reward| = $v exceeds the exact " +
            "decimal contract (1e15) — rescale rewards to coarser " +
            "integer units"))
    val nD = col("n").cast(d) * lit(1000000000000L).cast(d)
    base.select(col(keyCol), col("n"), col("n_matched"),
      when(col("n_matched") === 0L, lit(Double.NaN))
        .otherwise(col("__srw").cast("double") / nD.cast("double"))
        .as("ips_value"),
      when(col("__sw") === lit(0L).cast(d), lit(Double.NaN))
        .otherwise(col("__srw").cast("double") /
          col("__sw").cast("double")).as("snips_value"),
      // square in DOUBLE: a decimal(38,0) square of Σw can overflow
      // the decimal lane when rewards are tiny but rows are many;
      // the IEEE shape replays identically in the oracle
      when(col("__sw2") === lit(0L).cast(d), lit(Double.NaN))
        .otherwise(col("__sw").cast("double") *
          col("__sw").cast("double") /
          col("__sw2").cast("double")).as("ess"))
  }

  /** QUANTILE TREATMENT EFFECTS per key — the distributional view a
    * mean-difference A/B readout ([[stratifiedAte]], welchT) hides:
    * at each requested quantile, the treatment arm's exact order
    * statistic minus control's (did the experiment move the median?
    * the p90 tail? only the outliers?).
    *
    * Exactness: both arms' order statistics come off the same bounded
    * per-(key, arm, value) histogram via the ⌈p·n⌉ rank pick (the
    * [[exactGroupQuantile]] discipline) — all integers, zero IEEE.
    * Arms are CHECKED ∈ {0, 1} and both present per emitted key (a
    * key missing an arm drops — no one-armed "effect").
    *
    * Scale shape: one map-side-combining histogram aggregation +
    * key×arm-partitioned windows over the CHECKED bounded histogram;
    * the quantile grid explodes per (key, arm) — never per row.
    * Output: (key, p_num, p_den, n_treat, n_ctrl, q_treat, q_ctrl,
    * qte). */
  def quantileTreatmentEffects(df: DataFrame, keyCol: String,
                               armCol: String, xCol: String,
                               quantiles: Seq[(Long, Long)],
                               maxDistinctPerKey: Long = 2000000L)
    : DataFrame = {
    require(quantiles.nonEmpty && quantiles.forall(q =>
      q._2 >= 1 && q._1 >= 1 && q._1 <= q._2),
      "quantileTreatmentEffects needs proper quantile rationals")
    val (hist, _) = Contracts.checkpoint(
      df.groupBy(col(keyCol), col(armCol).as("__arm"),
          col(xCol).cast("long").as("__v"))
        .agg(count(lit(1)).as("__c"),
          sum(when(col(armCol).isNull ||
            (col(armCol) =!= 0L && col(armCol) =!= 1L), 1L)
            .otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"quantileTreatmentEffects: $b rows carry a NULL or non-binary " +
          "arm — encode treatment as {0, 1} longs first"))
    requireBoundedPerKey(hist, keyCol, maxDistinctPerKey,
      "quantileTreatmentEffects")
    val w = Window.partitionBy(col(keyCol), col("__arm"))
      .orderBy(col("__v")).rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__n", sum(col("__c"))
        .over(Window.partitionBy(col(keyCol), col("__arm"))))
    val qLit = array(quantiles.map { case (pn, pd) =>
      struct(lit(pn).as("pn"), lit(pd).as("pd"))
    }: _*)
    val perArm = cum
      .select(col(keyCol), col("__arm"), col("__v"), col("__c"),
        col("__cum"), col("__n"), explode(qLit).as("__q"))
      .withColumn("__k", expr(
        "(__q.pn * __n + __q.pd - 1L) div __q.pd"))
      .groupBy(col(keyCol), col("__arm"), col("__q.pn").as("p_num"),
        col("__q.pd").as("p_den"))
      .agg(first(col("__n")).as("__n"),
        sum(when(col("__cum") - col("__c") < col("__k") &&
          col("__k") <= col("__cum"), col("__v")).otherwise(0L))
          .as("__qv"))
    val t = perArm.where(col("__arm") === 1L)
      .select(col(keyCol), col("p_num"), col("p_den"),
        col("__n").as("n_treat"), col("__qv").as("q_treat"))
    val cArm = perArm.where(col("__arm") === 0L)
      .select(col(keyCol), col("p_num"), col("p_den"),
        col("__n").as("n_ctrl"), col("__qv").as("q_ctrl"))
    t.join(cArm, Seq(keyCol, "p_num", "p_den"))
      .select(col(keyCol), col("p_num"), col("p_den"), col("n_treat"),
        col("n_ctrl"), col("q_treat"), col("q_ctrl"),
        (col("q_treat") - col("q_ctrl")).as("qte"))
  }

  /** COVARIATE BALANCE (standardized mean difference) per key — the
    * pre-experiment hygiene check ([[quantileTreatmentEffects]] and
    * welchT read EFFECTS; this reads whether the assignment was fair
    * to begin with): for each covariate key,
    *
    *   SMD = (μ_treat − μ_ctrl) / √((s²_treat + s²_ctrl) / 2)
    *
    * — |SMD| > 0.1 is the conventional imbalance alarm.
    *
    * Exactness: per-arm (n, Σx, Σx²) form as exact decimal(38,0)
    * sufficient statistics under a CHECKED n·max|x| ≤ 10¹⁸ contract
    * (keeps S² inside the decimal lane), and the tail is the fixed
    * IEEE sequence mean = S/n, s² = (n·S2 − S²)/(n(n−1)), one sqrt —
    * identical in the oracle. Arms are CHECKED ∈ {0, 1}; an arm with
    * fewer than 2 rows has no sample variance and drops its key.
    * Zero variance in both arms → NaN, surfaced.
    *
    * Scale shape: ONE map-side-combining aggregation to the per-
    * (key, arm) stats + one co-partitioned self-join — no window.
    * Output: (key, n_treat, n_ctrl, mean_treat, mean_ctrl, var_treat,
    * var_ctrl, smd). */
  def covariateBalance(df: DataFrame, keyCol: String, armCol: String,
                       xCol: String): DataFrame = {
    val d = "decimal(38,0)"
    val (a, _) = Contracts.checkpoint(
      df.groupBy(col(keyCol), col(armCol).as("__arm"))
        .agg(count(lit(1)).as("__n"),
          sum(col(xCol).cast(d)).as("__s"),
          sum(col(xCol).cast(d) * col(xCol).cast(d)).as("__s2"),
          max(abs(col(xCol))).as("__mx"),
          sum(when(col(armCol).isNull ||
            (col(armCol) =!= 0L && col(armCol) =!= 1L) ||
            col(xCol).isNull, 1L).otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"covariateBalance: $b rows carry a NULL value or a NULL/" +
          "non-binary arm — encode treatment as {0, 1} longs first"),
      Contracts.Bound(max(col("__n") * col("__mx")),
        _ <= 1000000000000000000L, v =>
          s"covariateBalance: n x max|x| = $v exceeds the exact " +
            "decimal sufficient-statistic contract (1e18) — rescale " +
            "to coarser integer units"))
    val withM = a.where(col("__n") >= 2L)
      .select(col(keyCol), col("__arm"), col("__n"),
        (col("__s").cast("double") / col("__n").cast("double"))
          .as("__mean"),
        ((col("__n").cast(d) * col("__s2") - col("__s") * col("__s"))
          .cast("double") /
          (col("__n").cast(d) * (col("__n") - 1L).cast(d))
            .cast("double")).as("__var"))
    val t = withM.where(col("__arm") === 1L)
      .select(col(keyCol), col("__n").as("n_treat"),
        col("__mean").as("mean_treat"), col("__var").as("var_treat"))
    val c = withM.where(col("__arm") === 0L)
      .select(col(keyCol), col("__n").as("n_ctrl"),
        col("__mean").as("mean_ctrl"), col("__var").as("var_ctrl"))
    t.join(c, keyCol)
      .select(col(keyCol), col("n_treat"), col("n_ctrl"),
        col("mean_treat"), col("mean_ctrl"), col("var_treat"),
        col("var_ctrl"),
        when(col("var_treat") + col("var_ctrl") === 0.0,
          lit(Double.NaN))
          .otherwise((col("mean_treat") - col("mean_ctrl")) /
            sqrt((col("var_treat") + col("var_ctrl")) / 2.0))
          .as("smd"))
  }

  /** CLUSTER PURITY against a label column — the clustering-quality /
    * label-noise audit for any cluster assignment in the engine (exact
    * dedup clusters, LSH components, IVF cells, k-means cells):
    * purity = Σ_cluster max_label_count / n, plus the pure-cluster
    * count — identical text carrying two different labels (an impure
    * dedup cluster) is an annotation bug; an IVF cell spanning many
    * labels is a retrieval-quality warning. Pairs with
    * [[mutualInfoByKey]] (cluster vs label) for the NMI view.
    *
    * Exactness: counts are exact longs; purity is the micro-scaled
    * truncating division (Spark div == DuckDB //). NULLs rejected.
    * Scale shape: one map-side-combining aggregation to the
    * (cluster, label) count table, one bounded per-cluster max, one
    * single-row reduction — no window, no collect.
    * Output one row: (n_rows, n_clusters, n_pure, purity_micro). */
  def clusterPurity(df: DataFrame, clusterCol: String,
                    labelCol: String): DataFrame = {
    val (cl, _) = Contracts.checkpoint(df.groupBy(col(clusterCol).as("__cl"),
        col(labelCol).as("__lb"))
      .agg(count(lit(1)).as("__c"),
        sum(when(col(clusterCol).isNull || col(labelCol).isNull, 1L)
          .otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"clusterPurity: $b rows carry a NULL cluster or label — " +
          "bucket them explicitly before calling"),
      Contracts.Bound(sum(col("__c")), _ <= 1000000000000L, n =>
        s"clusterPurity: $n rows exceed the micro-rate contract (1e12)"))
    cl.groupBy(col("__cl"))
      .agg(sum(col("__c")).as("__n"), max(col("__c")).as("__mx"))
      .agg(sum(col("__n")).as("n_rows"),
        count(lit(1)).as("n_clusters"),
        sum(when(col("__mx") === col("__n"), 1L).otherwise(0L))
          .as("n_pure"),
        call_function("div", sum(col("__mx")) * 1000000L,
          sum(col("__n"))).as("purity_micro"))
  }

  /** DAWID–SKENE LABEL AGGREGATION by fixed-round hard EM (Dawid &
    * Skene 1979; the one-coin variant) — the principled successor to
    * [[raterAccuracy]]'s majority vote: raters are WEIGHTED by their
    * estimated accuracy, so two reliable annotators outvote three
    * careless ones. Hard EM (the q233 unigram-trainer discipline):
    * gold starts at the majority vote, then each round re-estimates
    * per-rater accuracies and class priors (M) and re-assigns every
    * item to its maximum-score class (E), `rounds` times.
    *
    * Per-item class score, all integer micro-nats:
    *
    *   score(c) = lnq(g_c + 1) − lnq(N + C)                (prior)
    *     + Σ_ratings  cat == c ? lnq(m_r + 1) − lnq(n_r + 2)
    *                : lnq(n_r − m_r + 1) − lnq(n_r + 2) − lnq(C − 1)
    *
    * (Laplace-smoothed rater accuracy (m+1)/(n+2); errors spread
    * uniformly over the C − 1 wrong classes — the one-coin model.)
    * Ties take the lexicographically smallest class; every logarithm
    * is ONE IEEE ln over an exact integer (the [[jsdByKey]] lnMicro
    * discipline), so rounds replay bit-for-bit in the oracle's
    * unrolled CTEs. The class universe is CHECKED 2 ≤ C ≤ 16 and
    * collected once; per-round class priors are C-row driver collects
    * (the bpeTrain bounded-stats pattern). NULLs rejected; row counts
    * ≤ 10⁹ per rater CHECKED keep every lnq operand exact.
    *
    * Scale shape per round: ratings ⋈ gold (co-partitioned on item) →
    * per-rater stats (bounded by rater cardinality, broadcast back) →
    * C-way literal explode → per-(item, class) map-side-combining sum
    * → two bounded argmax aggregations. No window over raw rows.
    * Output: (item, gold_majority, gold_em, score_micro). */
  def dawidSkeneHardEm(df: DataFrame, itemCol: String, raterCol: String,
                       catCol: String, rounds: Int = 2): DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      s"dawidSkeneHardEm: rounds must be in [1, 8], got $rounds")
    val ratings = df.select(col(itemCol).as("__item"),
      col(raterCol).as("__rater"), col(catCol).as("__cat"))
      .localCheckpoint()
    // nItems rides the SAME contract job as the bounds (a
    // Contracts.read) — it was a separate distinct-count pass before
    val nItems = Contracts.enforce(ratings,
      Contracts.Bound(sum(when(col("__item").isNull ||
        col("__rater").isNull || col("__cat").isNull, 1L)
        .otherwise(0L)), _ == 0L, b =>
        s"dawidSkeneHardEm: $b rating rows carry NULLs — bucket them " +
          "explicitly before calling"),
      Contracts.Bound(count(lit(1)), _ <= 1000000000L, n =>
        s"dawidSkeneHardEm: $n ratings exceed the exact micro-nat " +
          "contract (1e9)"),
      // The class bound is CHECKED as an aggregate BEFORE the distinct
      // collect below — a miscalled cat column (a free-text field)
      // must fail loudly here, not drive an unbounded driver collect
      // first (the bradleyTerryStrengths discipline).
      Contracts.Bound(countDistinct(col("__cat")),
        n => n >= 2L && n <= 16L, n =>
          s"dawidSkeneHardEm: needs 2..16 distinct classes, got $n — " +
            "is the category column really a class label?"),
      Contracts.read(countDistinct(col("__item")))).last
    val cats = ratings.select(col("__cat")).distinct()
      .collect().map(_.getString(0)).sorted
    val c = cats.length
    val lnqC1 = BigDecimal.valueOf(math.log((c - 1).toDouble) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    // round 0: majority vote, smallest-category tie-break
    val nic = ratings.groupBy(col("__item"), col("__cat"))
      .agg(count(lit(1)).as("__c"))
    val maxc = nic.groupBy(col("__item")).agg(max(col("__c")).as("__mx"))
    val majority = nic.join(maxc, "__item")
      .where(col("__c") === col("__mx"))
      .groupBy(col("__item")).agg(min(col("__cat")).as("__gold"))
      .localCheckpoint()
    val catsLit = array(cats.map(lit(_)): _*)
    var gold = majority.withColumn("__score", lit(0L))
    (1 to rounds).foreach { _ =>
      // M-step: per-rater (n, matches) vs the current gold
      val rw = ratings
        .join(gold.select(col("__item"), col("__gold")), "__item")
        .groupBy(col("__rater"))
        .agg(count(lit(1)).as("__n"),
          sum(when(col("__cat") === col("__gold"), 1L).otherwise(0L))
            .as("__m"))
        .select(col("__rater"),
          (lnMicro((col("__m") + 1L).cast("double")) -
            lnMicro((col("__n") + 2L).cast("double"))).as("__a"),
          (lnMicro((col("__n") - col("__m") + 1L).cast("double")) -
            lnMicro((col("__n") + 2L).cast("double")) - lit(lnqC1))
            .as("__b"))
      // class priors: C bounded rows, collected (bpeTrain pattern)
      val gc = gold.groupBy(col("__gold")).agg(count(lit(1)).as("__g"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      def lnq(x: Long): Long =
        BigDecimal.valueOf(math.log(x.toDouble) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val priors = cats.map(ct => ct ->
        (lnq(gc.getOrElse(ct, 0L) + 1L) - lnq(nItems + c))).toMap
      val priorCol = cats.tail.foldLeft(
        when(col("__c2") === cats.head, lit(priors(cats.head)))) {
        (acc, ct) => acc.when(col("__c2") === ct, lit(priors(ct)))
      }.otherwise(lit(0L))
      // E-step: per-(item, class) micro-nat scores, argmax re-assign
      val scored = ratings.join(broadcast(rw), "__rater")
        .select(col("__item"), col("__cat"), col("__a"), col("__b"),
          explode(catsLit).as("__c2"))
        .select(col("__item"), col("__c2"),
          when(col("__cat") === col("__c2"), col("__a"))
            .otherwise(col("__b")).as("__t"))
        .groupBy(col("__item"), col("__c2"))
        .agg(sum(col("__t")).as("__s0"))
        .select(col("__item"), col("__c2"),
          (col("__s0") + priorCol).as("__s"))
      val best = scored.groupBy(col("__item"))
        .agg(max(col("__s")).as("__smax"))
      gold = scored.join(best, "__item")
        .where(col("__s") === col("__smax"))
        .groupBy(col("__item"))
        .agg(min(col("__c2")).as("__gold"), max(col("__s")).as("__score"))
        .localCheckpoint()
    }
    majority.select(col("__item").as("item"),
        col("__gold").as("gold_majority"))
      .join(gold.select(col("__item").as("item"),
        col("__gold").as("gold_em"), col("__score").as("score_micro")),
        "item")
  }

  /** WALD SPRT sequential test per key (Wald 1945) — the
    * experimentation monitor that reads off "stop now" instead of a
    * fixed-horizon p-value: for Bernoulli outcomes under
    * H0: p = p0 vs H1: p = p1, the log-likelihood ratio after s
    * successes and f failures is
    *
    *   LLR = s·ln(p1/p0) + f·ln((1−p1)/(1−p0))
    *
    * and the test accepts H1 when LLR ≥ ln((1−β)/α), accepts H0 when
    * LLR ≤ ln(β/(1−α)), else continues. Hypotheses and error rates
    * arrive as exact rationals (numerator/denominator pairs).
    *
    * Exactness: the micro-nat discipline — each distinct logarithm is
    * ONE IEEE ln over an exact integer (ln(a/b) = lnq(a) − lnq(b)),
    * the per-key LLR is s·w1 + f·w0 over int64 micro-nat weights in
    * decimal(38,0) (s, f ≤ 2·10⁹ CHECKED), and the stop decision is
    * an exact integer comparison against the micro-nat thresholds.
    * Output: (key, n, successes, llr_micro, lna_micro, lnb_micro,
    * decision ∈ {accept_h1, accept_h0, continue}). */
  def sprtBernoulli(df: DataFrame, keyCol: String, successCol: String,
                    p0: (Long, Long), p1: (Long, Long),
                    alpha: (Long, Long) = (5L, 100L),
                    beta: (Long, Long) = (5L, 100L)): DataFrame =
    sprtFromCounts(sprtCounts(df, keyCol, successCol, "sprtBernoulli"),
      keyCol, p0, p1, alpha, beta)

  /** The validated per-key (n, successes) table behind
    * [[sprtBernoulli]] and its streaming twin — additive over disjoint
    * row sets, so maintainers fold these directly. */
  private[graft] def sprtCounts(df: DataFrame, keyCol: String,
                                successCol: String,
                                op: String): DataFrame = {
    val (base, _) = Contracts.checkpoint(df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(successCol) === 1L, 1L).otherwise(0L))
          .as("successes"),
        sum(when(col(successCol).isNull ||
          (col(successCol) =!= 0L && col(successCol) =!= 1L), 1L)
          .otherwise(0L)).as("__bad")),
      Contracts.Bound(sum(col("__bad")), _ == 0L, b =>
        s"$op: $b NULL or non-binary outcome values — " +
          "encode the outcome as {0, 1} longs first"),
      Contracts.Bound(max(col("n")), _ <= 2000000000L, n =>
        s"$op: a key holds $n rows, exceeding the exact " +
          "micro-nat LLR contract (n <= 2e9 per key)"))
    base.drop("__bad")
  }

  /** The decision tail over a validated (key, n, successes) table
    * (see [[sprtBernoulli]] for semantics). */
  private[graft] def sprtFromCounts(counts: DataFrame, keyCol: String,
                                    p0: (Long, Long), p1: (Long, Long),
                                    alpha: (Long, Long),
                                    beta: (Long, Long)): DataFrame = {
    def okRat(r: (Long, Long)): Boolean =
      r._2 >= 1 && r._1 >= 1 && r._1 < r._2
    require(okRat(p0) && okRat(p1) && okRat(alpha) && okRat(beta),
      "sprtBernoulli: p0, p1, alpha, beta must be proper rationals " +
        "num/den with 0 < num < den")
    require(p0._1 * p1._2 != p1._1 * p0._2,
      "sprtBernoulli: p0 == p1 — the SPRT is undefined")
    // micro-nat weights: ONE ln per distinct exact integer operand,
    // rounded in the SAME HALF_UP shape as Spark's round / DuckDB round
    def lnq(x: Long): Long =
      BigDecimal.valueOf(math.log(x.toDouble) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val w1 = lnq(p1._1 * p0._2) - lnq(p0._1 * p1._2)
    val w0 = lnq((p1._2 - p1._1) * p0._2) - lnq((p0._2 - p0._1) * p1._2)
    val lnA = lnq((beta._2 - beta._1) * alpha._2) -
      lnq(beta._2 * alpha._1)
    val lnB = lnq(beta._1 * alpha._2) -
      lnq(beta._2 * (alpha._2 - alpha._1))
    val d = "decimal(38,0)"
    val llr = col("successes").cast(d) * lit(w1).cast(d) +
      (col("n") - col("successes")).cast(d) * lit(w0).cast(d)
    counts
      .withColumn("llr_micro", llr.cast("long"))
      .select(col(keyCol), col("n"), col("successes"), col("llr_micro"),
        lit(lnA).as("lna_micro"), lit(lnB).as("lnb_micro"),
        when(col("llr_micro") >= lnA, lit("accept_h1"))
          .when(col("llr_micro") <= lnB, lit("accept_h0"))
          .otherwise(lit("continue")).as("decision"))
  }

  /** NDCG@k — the graded ranking-quality metric the search/retrieval
    * family reports against ground-truth relevance (Järvelin &
    * Kekäläinen 2002; [[rankingOverlap]] compares two rankings to
    * each other, this scores ONE ranking against graded truth):
    *
    *   DCG@k = Σ_{i≤k} rel_i / log₂(i+1),   NDCG = DCG / IDCG
    *
    * with IDCG the same sum over the query's relevance grades sorted
    * descending (tie order is irrelevant — the multiset determines
    * the sum).
    *
    * Exactness: the k discount weights quantize ONCE to micro units —
    * w_i = round(10⁶·ln 2 / ln(i+1)), the identical IEEE expression
    * in both engines — so DCG and IDCG are exact integer weighted
    * sums (grades CHECKED ≤ 1000, so terms ≤ 10⁹ and sums ≤ k·10⁹)
    * and NDCG is one division. Ranks are CHECKED distinct, ≥ 1 and
    * ≤ k rows per query; rows ranked beyond k are ignored (that is
    * the @k semantics). All-zero-relevance queries → NaN, surfaced.
    *
    * Scale shape: one filter + one map-side-combining groupBy per
    * query collecting ≤ k (rank, rel) pairs; the fold runs over that
    * bounded array — no window, no join.
    * Output: (query, n_ranked, dcg_mw, idcg_mw, ndcg). */
  def ndcgAtK(df: DataFrame, queryCol: String, rankCol: String,
              relCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 100, s"ndcgAtK: k must be in [1, 100], got $k")
    val weights = (1 to k).map(i =>
      BigDecimal.valueOf(1e6 * math.log(2.0) /
        math.log((i + 1).toDouble))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    // Validity is CHECKED on the UNFILTERED projection: a NULL rank
    // compared against k is NULL, so filtering first would silently
    // drop exactly the rows this contract promises to reject loudly.
    val (all, _) = Contracts.checkpoint(
      df.select(col(queryCol), col(rankCol).cast("long")
          .as("__r"), col(relCol).cast("long").as("__rel")),
      Contracts.Bound(sum(when(col("__r").isNull || col("__r") < 1L ||
        col("__rel").isNull || col("__rel") < 0L ||
        col("__rel") > 1000L, 1L).otherwise(0L)), _ == 0L, b =>
        s"ndcgAtK: $b rows carry a NULL/non-positive rank or a " +
          "relevance grade outside [0, 1000] — grade and rank " +
          "explicitly first"))
    val rows = all.where(col("__r") <= k.toLong)
    Contracts.enforce(
      rows.groupBy(col(queryCol)).agg(count(lit(1)).as("__n"),
        countDistinct(col("__r")).as("__nd")),
      Contracts.Bound(sum(when(col("__n") =!= col("__nd"), 1L)
        .otherwise(0L)), _ == 0L, q =>
        s"ndcgAtK: $q queries carry duplicate ranks — a ranking has " +
          "one row per position"))
    val wLit = array(weights.map(lit(_)): _*)
    val packed = rows.groupBy(col(queryCol))
      .agg(collect_list(struct(col("__r"), col("__rel"))).as("__e"))
    val rels = transform(col("__e"), _.getField("__rel"))
    val sortedDesc = reverse(array_sort(rels))
    def fold(vals: Column, byRank: Boolean): Column =
      aggregate(sequence(lit(1), size(col("__e"))), lit(0L),
        (acc, i) => acc + (if (byRank)
          element_at(vals, i).getField("__rel") *
            element_at(wLit, element_at(vals, i).getField("__r")
              .cast("int"))
        else element_at(vals, i) * element_at(wLit, i)))
    packed
      .select(col(queryCol), size(col("__e")).cast("long")
        .as("n_ranked"),
        fold(col("__e"), byRank = true).as("dcg_mw"),
        fold(sortedDesc, byRank = false).as("idcg_mw"))
      .select(col(queryCol), col("n_ranked"), col("dcg_mw"),
        col("idcg_mw"),
        when(col("idcg_mw") === 0L, lit(Double.NaN))
          .otherwise(col("dcg_mw").cast("double") /
            col("idcg_mw").cast("double")).as("ndcg"))
  }

  /** PREFERENCE TRANSITIVITY AUDIT — the structural integrity check
    * on pairwise preference data (the [[bradleyTerryStrengths]] model
    * ASSUMES a consistent latent order; this measures how badly the
    * data violates it): among item triads whose three pairs all have
    * a strict majority direction, count the CYCLES (a beats b beats c
    * beats a) — a high cyclic rate means the comparisons are noise or
    * multi-dimensional and a scalar reward model will fight itself.
    *
    * Exactness: all integers — per-ordered-pair win counts, strict-
    * majority directions (ties = undecided, excluded), triangle
    * enumeration by the ordered wedge join (a < b < c — each triad
    * once), cyclic iff dir(ab) == dir(bc) == ¬dir(ac); the rate is
    * the micro truncating division. Items are compared AS STRINGS
    * (the [[bradleyTerryStrengths]] convention); the universe is
    * CHECKED ≤ 4096 items so the decided-pair table (≤ n²/2) and its
    * wedge join stay bounded. NULL/self contests rejected.
    *
    * Scale shape: one aggregation to ordered-pair counts, one
    * canonical merge, two co-partitioned self-joins for the triangle
    * closure (the q135 ordered-wedge discipline), one single-row
    * reduction. Output: (n_items, n_contest_pairs, n_decided_pairs,
    * n_triads, n_cycles, cycle_rate_micro). */
  def preferenceCycles(contests: DataFrame, winCol: String,
                       loseCol: String): DataFrame = {
    val (c, _) = Contracts.checkpoint(
      contests.select(col(winCol).cast("string").as("__w"),
        col(loseCol).cast("string").as("__l")),
      Contracts.Bound(sum(when(col("__w").isNull || col("__l").isNull ||
        col("__w") === col("__l"), 1L).otherwise(0L)), _ == 0L, b =>
        s"preferenceCycles: $b NULL or self-beating contests — filter " +
          "them explicitly first"))
    Contracts.enforce(
      c.select(col("__w").as("__it"))
        .unionByName(c.select(col("__l").as("__it"))).distinct(),
      Contracts.Bound(count(lit(1)), _ <= 4096L, k =>
        s"preferenceCycles: $k distinct items exceed the bounded " +
          "pair-table contract (<= 4096) — bucket items first"))
    val pair = c.groupBy(least(col("__w"), col("__l")).as("__a"),
        greatest(col("__w"), col("__l")).as("__b"))
      .agg(sum(when(col("__w") < col("__l"), 1L).otherwise(0L))
        .as("__nab"),
        sum(when(col("__w") > col("__l"), 1L).otherwise(0L))
          .as("__nba"))
      .localCheckpoint()
    val decided = pair.where(col("__nab") =!= col("__nba"))
      .select(col("__a"), col("__b"),
        (col("__nab") > col("__nba")).as("__fab"))
      .localCheckpoint()
    val tri = decided.select(col("__a"), col("__b").as("__x"),
        col("__fab").as("__f1"))
      .join(decided.select(col("__a"), col("__b").as("__y"),
        col("__fab").as("__f2")), "__a")
      .where(col("__x") < col("__y"))
      .join(decided.select(col("__a").as("__x"), col("__b").as("__y"),
        col("__fab").as("__f3")), Seq("__x", "__y"))
    // triad (a < x < y): f1 = a beats x, f3 = x beats y, f2 = a beats y
    // cyclic iff a->x->y->a or reverse: f1 == f3 and f1 == !f2
    val counts = tri.agg(count(lit(1)).as("n_triads"),
      coalesce(sum(when(col("__f1") === col("__f3") &&
        col("__f1") =!= col("__f2"), 1L).otherwise(0L)), lit(0L))
        .as("n_cycles"))
    val base = c.select(col("__w").as("__it"))
      .unionByName(c.select(col("__l").as("__it"))).distinct()
      .agg(count(lit(1)).as("n_items"))
      .crossJoin(broadcast(pair.agg(
        count(lit(1)).as("n_contest_pairs"))))
      .crossJoin(broadcast(decided.agg(
        count(lit(1)).as("n_decided_pairs"))))
    base.crossJoin(broadcast(counts))
      .select(col("n_items"), col("n_contest_pairs"),
        col("n_decided_pairs"), col("n_triads"), col("n_cycles"),
        when(col("n_triads") === 0L, lit(null).cast("long"))
          .otherwise(call_function("div", col("n_cycles") * 1000000L,
            col("n_triads"))).as("cycle_rate_micro"))
  }

  /** BRADLEY–TERRY STRENGTHS from pairwise preference contests
    * (Bradley–Terry 1952; MM fit per Hunter 2004) — the
    * preference-data operator an RLHF-style pipeline needs: given
    * (winner, loser) comparison rows, fit each item's latent strength
    * p_i under P(i beats j) = p_i / (p_i + p_j), by the standard
    * minorization–maximization recurrence
    *
    *   p_i ← W_i / Σ_j n_ij / (p_i + p_j)
    *
    * run a FIXED `rounds` times from the uniform start. One virtual
    * win in each direction is added per OBSERVED pair (the standard
    * connectivity smoothing: keeps never-losing items finite and
    * never-winning items positive without changing the argmax order).
    *
    * Exactness/engine-parity: the [[graft.operators.Similarity]]
    * topPrincipalComponent discipline — the data-sized pass is two
    * map-side-combining aggregations (unordered-pair counts n_ij and
    * per-item win counts), both bounded by the CHECKED item universe
    * (≤ 256 distinct items, so ≤ 32 640 pairs); the recurrence then
    * runs DRIVER-SIDE as an exact BigInt iteration with truncating
    * integer divisions at fixed scales — per-pair term
    * n_ij·10¹² div max(p_i + p_j, 1), per-item raw = W_i·10¹⁸ div D_i,
    * then L∞ re-normalization to p ∈ [0, 10⁶] — every step replayable
    * by the oracle's unrolled round CTEs in HUGEINT `//`. Items are
    * compared AS STRINGS (cast once at entry; deterministic across
    * engines, no comparator ambiguity). NULL or self-contests are
    * rejected loudly. Output one row per item:
    * (item, n_contests, n_wins, strength_micro) — counts are the raw
    * observed totals (pre-smoothing), strength L∞-normalized so the
    * strongest item reads exactly 10⁶. */
  def bradleyTerryStrengths(contests: DataFrame, winCol: String,
                            loseCol: String,
                            rounds: Int = 10): DataFrame = {
    require(rounds >= 1 && rounds <= 32,
      s"bradleyTerryStrengths: rounds must be in [1, 32], got $rounds")
    val (c, _) = Contracts.checkpoint(
      contests.select(col(winCol).cast("string").as("__w"),
        col(loseCol).cast("string").as("__l")),
      Contracts.Bound(sum(when(col("__w").isNull || col("__l").isNull ||
        col("__w") === col("__l"), 1L).otherwise(0L)), _ == 0L, b =>
        s"bradleyTerryStrengths: $b NULL or self-beating contests — " +
          "filter them explicitly first"),
      Contracts.Bound(count(lit(1)), _ <= 2000000000L, n =>
        s"bradleyTerryStrengths: $n contests exceed the exact-count " +
          "contract (2e9)"))
    val (items, _) = Contracts.checkpoint(c.select(col("__w").as("__it"))
      .unionByName(c.select(col("__l").as("__it")))
      .groupBy(col("__it")).agg(count(lit(1)).as("__c")),
      Contracts.Bound(count(lit(1)), _ <= 256L, k =>
        s"bradleyTerryStrengths: $k distinct items exceed the " +
          "driver-recurrence contract (<= 256) — bucket items first"))
    val pairRows = c.groupBy(least(col("__w"), col("__l")).as("__a"),
        greatest(col("__w"), col("__l")).as("__b"))
      .agg(count(lit(1)).as("__n")).collect()
    val winRows = c.groupBy(col("__w").as("__it"))
      .agg(count(lit(1)).as("__wins")).collect()
    val itemRows = items.collect()
    val ids = itemRows.map(_.getString(0)).sorted
    val idx = ids.zipWithIndex.toMap
    val k = ids.length
    val nContests = Array.fill(k)(0L)
    itemRows.foreach(r => nContests(idx(r.getString(0))) = r.getLong(1))
    val obsWins = Array.fill(k)(0L)
    winRows.foreach(r => obsWins(idx(r.getString(0))) = r.getLong(1))
    // smoothing: +2 on each observed pair, +1 win each side
    val pairN = pairRows.map(r => (idx(r.getString(0)),
      idx(r.getString(1)), BigInt(r.getLong(2)) + 2))
    val w = Array.tabulate(k)(i => BigInt(obsWins(i)))
    pairN.foreach { case (a, b, _) => w(a) += 1; w(b) += 1 }
    val sc12 = BigInt(10).pow(12)
    val sc18 = BigInt(10).pow(18)
    var p = Array.fill(k)(BigInt(1000000))
    (1 to rounds).foreach { _ =>
      val d = Array.fill(k)(BigInt(0))
      pairN.foreach { case (a, b, n) =>
        val t = n * sc12 / (p(a) + p(b)).max(BigInt(1))
        d(a) += t; d(b) += t
      }
      val raw = Array.tabulate(k)(i => w(i) * sc18 / d(i).max(BigInt(1)))
      val mx = raw.max
      p = raw.map(r => r * 1000000 / mx)
    }
    val spark = contests.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType}
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until k).map(i => Row(ids(i), nContests(i), obsWins(i),
          p(i).toLong)).toIndexedSeq, 1),
      StructType(Seq(StructField("item", StringType),
        StructField("n_contests", LongType),
        StructField("n_wins", LongType),
        StructField("strength_micro", LongType))))
  }
}
