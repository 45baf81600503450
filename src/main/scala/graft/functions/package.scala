package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-level function library: the reference's per-row / per-frame math
  * re-expressed as codegen-friendly Spark column expressions (built-in
  * `functions._` compositions wherever possible, custom Catalyst
  * expressions from [[graft.functions.ArrayExprs]] where Spark lacks the
  * semantics).
  *
  * Conventions shared with the reference (`dpl/processor/utils.py`):
  *  - a bbox is `struct<x1,y1,x2,y2,conf: double>`;
  *  - Python `round` / `np.rint` = round-half-to-even = Spark `bround`;
  *  - Python `int()` = truncate toward zero = Spark `cast(long)` on double.
  */
package object functions {

  private def col2expr(c: Column) = ExprBridge.expression(c)

  // ---------------------------------------------------------------------
  // Custom-expression wrappers (frame-axis series ops)
  // ---------------------------------------------------------------------

  /** scipy-compatible `savgol_filter(x, window, polyorder)` (mode="interp");
    * ref `dpl/processor/nodes/bboxes.py:159-162`. */
  def savgol_smooth(x: Column, window: Int, polyorder: Int): Column =
    ExprBridge.column(SavitzkyGolay(col2expr(x), window, polyorder))

  /** Linear resample with half-sample phase offsets; ref `dpl/wav2vec/utils.py:5-21`. */
  def linear_resample(y: Column, num: Column, sourceFps: Column): Column =
    ExprBridge.column(LinearResample(col2expr(y), col2expr(num), col2expr(sourceFps)))

  /** Vector-series variant (array<array<double>>, lerped per component). */
  def linear_resample_vec(y: Column, num: Column, sourceFps: Column): Column =
    ExprBridge.column(LinearResampleVec(col2expr(y), col2expr(num), col2expr(sourceFps)))

  /** Edge-replicated moving average; ref `dpl/processor/utils.py:68-98`. */
  def edge_moving_avg(x: Column, window: Int): Column =
    ExprBridge.column(EdgeMovingAvg(col2expr(x), window))

  /** Exponentially-weighted moving average of a double series:
    * s(0) = x(0), s(i) = alpha·x(i) + (1−alpha)·s(i−1) — the standard
    * low-pass smoother (pandas `ewm(adjust=False)`) alongside
    * [[savgol_smooth]] and [[edge_moving_avg]]. A SEQUENTIAL fold
    * (`aggregate` HOF), so the IEEE op sequence is deterministic and
    * replays exactly as DuckDB's `list_reduce` (the Queries-header
    * discipline). The array-append accumulation is O(n²) per clip,
    * bounded by frames-per-clip like every frame-axis kernel. */
  def ewma_smooth(series: Column, alpha: Double): Column = {
    require(alpha > 0 && alpha <= 1, s"ewma alpha must be in (0, 1], got $alpha")
    aggregate(series, array().cast("array<double>"),
      (acc, x) => concat(acc, array(
        when(size(acc) === 0, x)
          .otherwise(lit(alpha) * x + lit(1 - alpha) * element_at(acc, -1)))))
  }

  /** Per-dimension edge-replicated moving average over a (T, dim) matrix;
    * ref `dpl/processor/nodes/h5.py:235-237` (`average_features`). */
  def edge_moving_avg_vec(x: Column, window: Int): Column =
    ExprBridge.column(EdgeMovingAvgVec(col2expr(x), window))

  /** Audio volume: mean |amplitude| per `hop`-sample frame; ref
    * `dpl/wav2vec/inference.py:94-106` (hop = floor(sample_rate / 50)). */
  def bucket_mean_abs(x: Column, hop: Int): Column =
    ExprBridge.column(BucketMeanAbs(col2expr(x), hop))

  /** Polynomial rolling-hash document fingerprint (base 31, Mersenne-prime
    * modulus keeps the accumulator in a Long). */
  def rolling_hash(text: Column, base: Long = 31L, modulus: Long = 2147483647L): Column =
    ExprBridge.column(RollingHash(col2expr(text), base, modulus))

  // ---------------------------------------------------------------------
  // Bbox geometry (ref dpl/processor/utils.py:7-50) — pure built-ins
  // ---------------------------------------------------------------------

  def bbox(x1: Column, y1: Column, x2: Column, y2: Column, conf: Column): Column =
    struct(x1.cast("double").as("x1"), y1.cast("double").as("y1"),
           x2.cast("double").as("x2"), y2.cast("double").as("y2"),
           conf.cast("double").as("conf"))

  /** Expand to square keeping the center; ref `utils.py:27-39`. */
  def bbox_to_square(b: Column): Column = {
    val width = b("x2") - b("x1")
    val height = b("y2") - b("y1")
    val size = greatest(width, height)
    val dx = (size - width) / 2
    val dy = (size - height) / 2
    bbox(b("x1") - dx, b("y1") - dy, b("x2") + dx, b("y2") + dy, b("conf"))
  }

  /** Pad by a fraction of the max side (Python `round` = half-even); ref `utils.py:42-50`. */
  def bbox_pad_frac(b: Column, frac: Double): Column = {
    val size = greatest(b("x2") - b("x1"), b("y2") - b("y1"))
    val pad = bround(size * lit(frac), 0)
    bbox(b("x1") - pad, b("y1") - pad, b("x2") + pad, b("y2") + pad, b("conf"))
  }

  /** Pad by absolute pixels; ref `utils.py:42-50` (int branch). */
  def bbox_pad_abs(b: Column, pad: Column): Column =
    bbox(b("x1") - pad, b("y1") - pad, b("x2") + pad, b("y2") + pad, b("conf"))

  /** Integerize preserving width/height; conf -> round(conf*100); ref `utils.py:7-24`.
    * Returns struct<x1,y1,x2,y2,conf: long>. */
  def bbox_to_integer(b: Column): Column = {
    val width = bround(b("x2") - b("x1"), 0)
    val height = bround(b("y2") - b("y1"), 0)
    val xl = bround(b("x1"), 0)
    val yt = bround(b("y1"), 0)
    struct(
      xl.cast("long").as("x1"), yt.cast("long").as("y1"),
      (xl + width).cast("long").as("x2"), (yt + height).cast("long").as("y2"),
      bround(b("conf") * 100, 0).cast("long").as("conf"))
  }

  /** The reference's standard bbox transform chain
    * (`bboxes.py:75-81` TransformRawBboxesNode): to_square -> pad -> to_integer.
    * Each step's struct is bound once (a one-element `transform`) before
    * the next step reads its fields: composed directly, every field
    * reference copies the whole upstream expression, so the tree — and
    * its analysis time, seconds per use — grows exponentially. */
  def bbox_transform(b: Column, extendFactor: Double): Column = {
    def let(c: Column)(f: Column => Column): Column = element_at(transform(array(c), f), 1)
    let(let(bbox_to_square(b))(bbox_pad_frac(_, extendFactor)))(bbox_to_integer)
  }

  /** Fixed-bbox head math (`bboxes.py:67-81`): given scalar min/max coords,
    * emit the (xc-r, yc-r, xc+r, yc+r) square as struct<x1,y1,x2,y2: long>.
    * Python `int()` truncation = cast to long. */
  def fixed_bbox(left: Column, right: Column, top: Column, bottom: Column,
                 scale: Double): Column = {
    val size = (right - left + bottom - top) / 2 * 1.1
    val radius = (lit(scale) * size / 2.0).cast("long")
    val xc = ((right + left) / 2.0).cast("long")
    val yc = ((bottom + top) / 2.0).cast("long")
    struct((xc - radius).as("x1"), (yc - radius).as("y1"),
           (xc + radius).as("x2"), (yc + radius).as("y2"))
  }

  // ---------------------------------------------------------------------
  // Landmark analytics (ref dpl/processor/utils.py:53-65)
  // ---------------------------------------------------------------------

  /** L2 distance between two struct<x,y> points. */
  def point_l2(a: Column, b: Column): Column =
    sqrt(pow(a("x") - b("x"), 2) + pow(a("y") - b("y"), 2))

  /** Blink features for one frame's 68-point landmarks
    * (array<struct<x,y: double>>, iBUG indexing, 0-based indices as in
    * `utils.py:57-65`); returns struct<left_blink,right_blink,average_blink>. */
  def blink_features(frame: Column): Column = {
    def p(i: Int): Column = element_at(frame, i + 1) // 0-based -> 1-based
    val left = (point_l2(p(37), p(41)) + point_l2(p(38), p(40))) / (point_l2(p(36), p(39)) * 2)
    val right = (point_l2(p(43), p(47)) + point_l2(p(44), p(46))) / (point_l2(p(42), p(45)) * 2)
    struct(left.as("left_blink"), right.as("right_blink"),
           ((left + right) / 2).as("average_blink"))
  }

  /** Blink features for one frame's 68x3 landmark matrix, flattened
    * row-major into one `array<double>` (x0, y0, z0, x1, ...) — the layout
    * `FlameNode` emits per frame — with full 3-D point distances, matching
    * `np.linalg.norm(points[:, a] - points[:, b], axis=1)` over 3-vectors
    * (`utils.py:51-65` on landmarks3d, `a2en.py:33-34`). */
  def blink_features_xyz(frame: Column): Column = {
    // coordinate k of 0-based point i; element_at is 1-based
    def c(i: Int, k: Int): Column = element_at(frame, 3 * i + k + 1)
    def d(a: Int, b: Int): Column =
      sqrt(pow(c(a, 0) - c(b, 0), 2) + pow(c(a, 1) - c(b, 1), 2)
        + pow(c(a, 2) - c(b, 2), 2))
    val left = (d(37, 41) + d(38, 40)) / (d(36, 39) * 2)
    val right = (d(43, 47) + d(44, 46)) / (d(42, 45) * 2)
    struct(left.as("left_blink"), right.as("right_blink"),
           ((left + right) / 2).as("average_blink"))
  }

  // ---------------------------------------------------------------------
  // Vector math over array<float|double> embedding columns
  // ---------------------------------------------------------------------

  /** Sequential-order dot product of two array columns (single-pass
    * expression; same IEEE fold order as `aggregate(zip_with(...))`). */
  def vec_dot(a: Column, b: Column): Column =
    ExprBridge.column(VecDot(col2expr(a), col2expr(b)))

  def vec_norm(a: Column): Column = sqrt(vec_dot(a, a))

  /** Cosine similarity (dot / (|a| |b|)). */
  def cosine_sim(a: Column, b: Column): Column = vec_dot(a, b) / (vec_norm(a) * vec_norm(b))

  /** Nearest-centroid cell id for an IVF index (earliest index on cosine
    * ties); the centroid matrix is a plan-time literal scanned in one
    * primitive loop per row. */
  def ivf_assign(v: Column, centroids: Array[Array[Double]]): Column =
    ExprBridge.column(IvfAssign(col2expr(v), centroids.map(_.toSeq).toSeq))

  /** The `nProbe` nearest centroid cell ids, (cosine desc, index desc). */
  def ivf_probes(v: Column, centroids: Array[Array[Double]], nProbe: Int): Column =
    ExprBridge.column(IvfProbes(col2expr(v), centroids.map(_.toSeq).toSeq, nProbe))

  /** Product-quantization code of a vector: the M nearest-centroid
    * indices, one per subspace (see [[PqEncode]]). */
  def pq_encode(v: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    ExprBridge.column(PqEncode(col2expr(v), codebooks))

  /** A query's M x ks squared-L2 lookup table against the PQ codebooks
    * (see [[PqDistTable]]). */
  def pq_dist_table(v: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    ExprBridge.column(PqDistTable(col2expr(v), codebooks))

  /** Deterministic HyperLogLog distinct-count aggregate (2^p registers,
    * md5-based, partial-aggregating; see [[HllDistinct]]). The estimate
    * is identical under any partitioning and exactly reproducible by a
    * SQL oracle. */
  def hll_distinct(c: Column, p: Int = 10): Column =
    ExprBridge.column(HllDistinct(col2expr(c), p).toAggregateExpression())

  /** Mergeable HLL: emit the raw register buffer (pre-aggregate per fine
    * grain, persist, roll up later without rescanning; see
    * [[HllSketchAgg]]). */
  def hll_sketch(c: Column, p: Int = 10): Column =
    ExprBridge.column(HllSketchAgg(col2expr(c), p).toAggregateExpression())

  /** Combine `hll_sketch` buffers by register byte-max — a merge of
    * merges equals the sketch of the union, bit-for-bit. */
  def hll_merge(c: Column, p: Int = 10): Column =
    ExprBridge.column(HllMergeAgg(col2expr(c), p).toAggregateExpression())

  /** Read the distinct-count estimate out of a sketch buffer. */
  def hll_estimate(c: Column): Column =
    ExprBridge.column(HllEstimate(col2expr(c)))

  /** Mergeable equi-width histogram over a double column: nBins exact
    * counters covering [lo, hi), the distributed/streaming quantile
    * sketch (see [[HistAgg]]). */
  def hist_agg(c: Column, lo: Double, hi: Double, nBins: Int): Column =
    ExprBridge.column(HistAgg(col2expr(c), lo, hi, nBins).toAggregateExpression())

  /** Merge `hist_agg` bin-count arrays by elementwise sum (exact). */
  def hist_merge(c: Column, nBins: Int): Column =
    ExprBridge.column(CmsMergeAgg(col2expr(c), 1, nBins).toAggregateExpression())

  /** Quantile estimate from a `hist_agg` array (within-bin linear
    * interpolation; error bounded by the bin width). */
  def hist_quantile(bins: Column, q: Double, lo: Double, hi: Double, nBins: Int): Column =
    ExprBridge.column(HistQuantile(col2expr(bins), q, lo, hi, nBins))

  /** Percentile (CDF) of a point under a `hist_agg` array — the inverse
    * of `hist_quantile`; the sketch-based per-group normalization
    * primitive (see [[HistCdf]]). */
  def hist_cdf(bins: Column, x: Column, lo: Double, hi: Double, nBins: Int): Column =
    ExprBridge.column(HistCdf(col2expr(bins), col2expr(x), lo, hi, nBins))

  /** Deterministic mergeable RANK-QUANTILE sketch over a long column —
    * the continuous-column quantile route with NO pre-chosen bin
    * bounds: hash-level value sampling with exact per-value counts,
    * merge == one-shot byte-for-byte (see [[RqSketch]]). */
  def rq_sketch(c: Column, budget: Int): Column =
    ExprBridge.column(RqSketchAgg(col2expr(c), budget).toAggregateExpression())

  /** Combine persisted `rq_sketch` bytes — a merge of merges equals the
    * one-shot sketch of the union, byte-for-byte. */
  def rq_merge(c: Column, budget: Int): Column =
    ExprBridge.column(RqMergeAgg(col2expr(c), budget).toAggregateExpression())

  /** Type-1 quantile estimate at p = pNum/pDen from `rq_sketch` bytes —
    * a pure integer pick of an actual data value (see [[RqQuantile]]). */
  def rq_quantile(sketch: Column, pNum: Long, pDen: Long): Column =
    ExprBridge.column(RqQuantile(col2expr(sketch), pNum, pDen))

  /** Sketch diagnostics: (level, n_sample, n_est) — n_est is the
    * Horvitz-Thompson row-count estimate (see [[RqInfo]]). */
  def rq_info(sketch: Column): Column =
    ExprBridge.column(RqInfo(col2expr(sketch)))

  /** WEIGHTED `rq_sketch`: each row adds `w` to its value's exact count
    * (non-positive/NULL weights skip); `rq_quantile` then picks
    * weighted quantiles and `rq_info`'s n_est estimates total weight
    * (see [[RqSketchWAgg]]). */
  def rq_sketch_w(v: Column, w: Column, budget: Int): Column =
    ExprBridge.column(RqSketchWAgg(
      col2expr(org.apache.spark.sql.functions.struct(v, w)), budget)
      .toAggregateExpression())

  /** Two-sample KS drift statistic estimated from two `rq_sketch`
    * bytes — the sketch-scale twin of `Stats.ksStatistic` for
    * continuous columns (see [[RqKs]]). */
  def rq_ks(a: Column, b: Column): Column =
    ExprBridge.column(RqKs(col2expr(a), col2expr(b)))

  /** Estimated CDF (percentile) of a point under `rq_sketch` bytes —
    * the bounds-free percentile-normalization primitive (see
    * [[RqCdf]]). */
  def rq_cdf(sketch: Column, x: Column): Column =
    ExprBridge.column(RqCdf(col2expr(sketch), col2expr(x)))

  /** Partial-combining per-group top-k: the k largest structs under the
    * struct's field-wise order, descending — the aggregate form of
    * `row_number over (partition by g order by ...) <= k` (see
    * [[TopKByAgg]]; put the primary key first, negate fields whose
    * tiebreak runs ascending). */
  def top_k_by(s: Column, k: Int): Column =
    ExprBridge.column(TopKByAgg(col2expr(s), k).toAggregateExpression())

  /** Bottom-k (KMV) aggregate over a struct<h: long, id: long> column:
    * the k smallest DISTINCT pairs by (h, id), ascending — the
    * partial-combining form of per-group consistent sampling (see
    * [[BottomKAgg]]). */
  def bottom_k(pair: Column, k: Int): Column =
    ExprBridge.column(BottomKAgg(col2expr(pair), k).toAggregateExpression())

  /** Theta-sketch-style union/Jaccard/intersection estimates from two
    * `bottom_k` samples built with the same k (see [[KmvSetOps]]). */
  def kmv_set_ops(a: Column, b: Column, k: Int): Column =
    ExprBridge.column(KmvSetOps(col2expr(a), col2expr(b), k))

  /** Quantized elementwise vector sum over fixed-`dim` float/double
    * arrays: exact Long sums of `floor(x*1e6)` per component — the
    * partial-combining per-group embedding-centroid aggregate (see
    * [[VecSumQAgg]]; one dim-length row per group per partition crosses
    * the shuffle, vs n*dim rows for posexplode+groupBy). */
  def vec_sum_q(c: Column, dim: Int): Column =
    ExprBridge.column(VecSumQAgg(col2expr(c), dim).toAggregateExpression())

  /** Deterministic Bloom filter build over a string key column — the
    * broadcastable semi-join-pruning sketch (see [[BloomAgg]]). */
  def bloom_agg(c: Column, numBits: Int, numHashes: Int): Column =
    ExprBridge.column(BloomAgg(col2expr(c), numBits, numHashes).toAggregateExpression())

  /** Membership probe against a `bloom_agg` filter (no false negatives;
    * deterministic, oracle-replayable false positives). */
  def bloom_contains(filter: Column, c: Column, numBits: Int, numHashes: Int): Column =
    ExprBridge.column(BloomContains(col2expr(filter), col2expr(c), numBits, numHashes))

  /** Deterministic count-min sketch build over a string column
    * (`depth x width` exact counters; see [[CmsAgg]]). */
  def cms_agg(c: Column, depth: Int, width: Int): Column =
    ExprBridge.column(CmsAgg(col2expr(c), depth, width).toAggregateExpression())

  /** Point-frequency estimate from a `cms_agg` sketch (min over rows;
    * over-count-only error). */
  def cms_query(sketch: Column, c: Column, depth: Int, width: Int): Column =
    ExprBridge.column(CmsQuery(col2expr(sketch), col2expr(c), depth, width))

  /** Combine `cms_agg` counter matrices by elementwise sum — a merge of
    * merges equals the sketch of the union, exactly (see [[CmsMergeAgg]]). */
  def cms_merge(sketch: Column, depth: Int, width: Int): Column =
    ExprBridge.column(CmsMergeAgg(col2expr(sketch), depth, width).toAggregateExpression())

  // ---------------------------------------------------------------------
  // Text analytics
  // ---------------------------------------------------------------------

  /** Lower-cased whitespace tokens, empties dropped (single-pass expr,
    * precompiled pattern). */
  def ws_tokens(text: Column): Column =
    ExprBridge.column(Tokenize(col2expr(text)))

  /** Character-unigram Shannon entropy in integer micro-nats — one
    * pass per row (see [[graft.functions.CharEntropyMicro]]). */
  def char_entropy_micro(text: Column): Column =
    ExprBridge.column(CharEntropyMicro(col2expr(text)))

  /** Unicode NFC canonical composition — one Normalizer pass per row
    * (see [[graft.functions.NfcNormalize]]). */
  def nfc_normalize(text: Column): Column =
    ExprBridge.column(NfcNormalize(col2expr(text)))

  /** UAX-29-subset Unicode word tokens — CJK/Thai char-unigrams,
    * letter/digit/mark/underscore runs, mid-word apostrophes — one
    * pass per row (rule set: [[graft.functions.Uax29Kernels]]). */
  def uax29_tokens(text: Column): Column =
    ExprBridge.column(Uax29Tokens(col2expr(text)))

  /** UAX-29-subset sentences: terminal-run segmentation with trailing
    * closers, trimmed, empties dropped — one pass per row (rule set:
    * [[graft.functions.Uax29Kernels]]). */
  def uax29_sentences(text: Column): Column =
    ExprBridge.column(Uax29Sentences(col2expr(text)))

  /** Gale–Church length-based sentence-alignment beads over two
    * sentence-octet-length arrays — one bounded integral DP per row
    * (see [[graft.functions.GaleChurchBeads]]). */
  def gale_church_beads(aLens: Column, bLens: Column,
                        ratioMicro: Long = 1000000L,
                        maxSentences: Int = 64): Column =
    ExprBridge.column(GaleChurchBeads(col2expr(aLens), col2expr(bLens),
      ratioMicro, maxSentences))

  /** Per-term non-overlapping dictionary match counts in one
    * Aho–Corasick pass over the text (see [[DictMatchCounts]]). */
  def dict_match_counts(text: Column, terms: Seq[String]): Column =
    ExprBridge.column(DictMatchCounts(col2expr(text), terms))

  /** Word n-gram shingles joined with single spaces. */
  def word_shingles(tokens: Column, n: Int, distinct: Boolean = false): Column =
    ExprBridge.column(WordShingles(col2expr(tokens), n, distinct))

  /** Per-position order-`n` LM scoring keys: the up-to-`n`-gram ending
    * at each token position, doc-start ramp included (see
    * [[NgramContextKeys]]). */
  def ngram_context_keys(tokens: Column, n: Int): Column =
    ExprBridge.column(NgramContextKeys(col2expr(tokens), n))

  /** Greedy MMR selection over one query's candidate array (see
    * [[MmrSelect]]): picks `m` indices maximizing
    * λ·rel − (1−λ)·max-sim-to-selected. */
  def mmr_select(cands: Column, lambdaMicro: Long, m: Int): Column =
    ExprBridge.column(MmrSelect(col2expr(cands), lambdaMicro, m))

  /** Sliding token-window chunk spans (start, end, hash) in one pass
    * over the token array (see [[ChunkSpans]]). */
  def chunk_spans(tokens: Column, chunkTokens: Int, overlap: Int): Column =
    ExprBridge.column(ChunkSpans(col2expr(tokens), chunkTokens, overlap))

  /** First-fit-decreasing bin ids for a pre-sorted token-count array —
    * one O(n·bins) pass per row (see [[FfdPack]]). */
  def ffd_pack(tokens: Column, capacity: Long): Column =
    ExprBridge.column(FfdPack(col2expr(tokens), capacity))

  /** Content-defined chunk spans (start, len, hash) by the md5 cut
    * rule — one pass per row (see [[CdcChunks]]). */
  def cdc_chunks(text: Column, window: Int, modulus: Long): Column =
    ExprBridge.column(CdcChunks(col2expr(text), window, modulus))

  /** One BPE merge application over a symbol array: every adjacent
    * (a, b) becomes a+b in one greedy left-to-right pass (see
    * [[MergeAdjacentPair]]). */
  def merge_adjacent_pair(syms: Column, a: String, b: String): Column =
    ExprBridge.column(MergeAdjacentPair(col2expr(syms), a, b))

  /** Portable 60-bit hash: first 15 hex chars of md5 as a long. The same
    * value is computable in any engine with md5 (the DuckDB oracle uses
    * `('0x' || substr(md5(s),1,15))::bigint`). */
  def md5_long(s: Column): Column =
    ExprBridge.column(Md5Long(col2expr(s)))

  /** dHash perceptual fingerprint of a gray matrix as eight byte-band
    * values, ready for the banded-Hamming LSH join (see [[DHashBands]]). */
  def dhash_bands(matrix: Column): Column =
    ExprBridge.column(DHashBands(col2expr(matrix)))

  /** MinHash base hash: md5_long reduced mod the Mersenne prime 2^31-1. */
  val MinhashPrime = 2147483647L
  def minhash_base(s: Column): Column = pmod(md5_long(s), lit(MinhashPrime))

  /** Deterministic permutation constants (a, b) for minhash; fixed seed so
    * Spark and the SQL oracle agree. */
  def minhashPerms(numPerms: Int): Array[(Long, Long)] = {
    val rnd = new java.util.Random(42)
    Array.fill(numPerms)((1L + rnd.nextInt(Int.MaxValue - 1).toLong,
                          rnd.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signature over a shingle array column: one pass, one md5 per
    * shingle, `numPerms` permutation mins (single expression — immune to
    * CollapseProject re-inlining). */
  def minhash_signature(shingles: Column, numPerms: Int): Column =
    ExprBridge.column(
      MinHashSignature(col2expr(shingles), minhashPerms(numPerms).toSeq, MinhashPrime))

  /** MinHash signature from pre-hashed shingles (raw md5Long values) —
    * bit-identical to [[minhash_signature]] over the strings the hashes
    * came from; lets one scan feed both banding and verification. */
  def minhash_sig_from_hashes(hashes: Column, numPerms: Int): Column =
    ExprBridge.column(
      MinHashSignatureFromHashes(col2expr(hashes), minhashPerms(numPerms).toSeq,
        MinhashPrime))

  /** All token-derived quality-classifier features in one pass (see
    * [[QualityFeatures]]). */
  def quality_features(text: Column, stopwords: Seq[String]): Column =
    ExprBridge.column(QualityFeatures(col2expr(text), stopwords))

  /** Hashing-trick bucket histogram of a document in one pass (see
    * [[HashBucketCounts]]). */
  def hash_bucket_counts(text: Column, dim: Int): Column =
    ExprBridge.column(HashBucketCounts(col2expr(text), dim))

  /** Drop the tokens covered by any [start, end) span in one sorted
    * sweep (see [[RemoveTokenSpans]]). */
  def remove_token_spans(tokens: Column, spans: Column): Column =
    ExprBridge.column(RemoveTokenSpans(col2expr(tokens), col2expr(spans)))

  /** Best fixed-width token window by hit count: (start, cnt) of the
    * hit-anchored window covering the most hit positions, smallest
    * start on ties — one O(hits) two-pointer sweep (see
    * [[BestTokenWindow]]). */
  def best_token_window(hits: Column, width: Column): Column =
    ExprBridge.column(BestTokenWindow(col2expr(hits), col2expr(width)))

  /** Minimum token gap between two hit-position lists (unordered
    * |a-b|, or ordered b-after-a) in one O(m+n) merge sweep (see
    * [[MinPosGap]]). */
  def min_pos_gap(a: Column, b: Column, ordered: Boolean = false): Column =
    ExprBridge.column(MinPosGap(col2expr(a), col2expr(b), ordered))

  /** 32-bit SimHash over a token array column (multiplicity counts). */
  def simhash32(tokens: Column): Column =
    ExprBridge.column(SimHash32(col2expr(tokens)))

  /** Jaccard of two SORTED distinct array<long> columns (merge scan). */
  def jaccard_sorted(a: Column, b: Column): Column =
    ExprBridge.column(JaccardSortedLongs(col2expr(a), col2expr(b)))

  /** Jaccard of two SORTED distinct array<long> columns, null below the
    * threshold (exact upper-bound early exit — see JaccardThresholdLongs). */
  def jaccard_threshold(a: Column, b: Column, t: Double): Column =
    ExprBridge.column(JaccardThresholdLongs(col2expr(a), col2expr(b), t))

  /** Containment |a∩b|/|a| of sorted distinct long array `a` in `b`,
    * null below the threshold (exact early exit — see
    * ContainmentThresholdLongs). */
  def containment_threshold(a: Column, b: Column, t: Double): Column =
    ExprBridge.column(ContainmentThresholdLongs(col2expr(a), col2expr(b), t))

  /** Hamming distance between two long bit-patterns. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Consecutive k-slices of an array<long> column (single-pass; child
    * evaluated exactly once). */
  def array_chunks(arr: Column, k: Int): Column =
    ExprBridge.column(ArrayChunksLong(col2expr(arr), k))

  /** Z-order (Morton) key over N long columns, `bitsPer` bits each —
    * sort/partition by it before a write for multi-dimensional data
    * skipping (see [[ZOrderKey]]). */
  def zorder_key(bitsPer: Int, cols: Column*): Column =
    ExprBridge.column(ZOrderKey(cols.map(col2expr), bitsPer))

  /** Hilbert-curve key over two long columns, `bits` bits each — the
    * stronger-locality layout key (see [[HilbertKey]]). */
  def hilbert_key(bits: Int, x: Column, y: Column): Column =
    ExprBridge.column(HilbertKey(col2expr(x), col2expr(y), bits))

  /** Discrete symmetric Hausdorff distance between two integer
    * trajectories, L1 on (position, value) (see [[HausdorffL1]]). */
  def hausdorff_l1(a: Column, b: Column, posWeight: Long): Column =
    ExprBridge.column(HausdorffL1(col2expr(a), col2expr(b), posWeight))

  /** Strict inversion count of a long sequence — the Kendall-tau
    * disorder numerator, merge-sort counted (see [[InversionCount]]). */
  def inversion_count(xs: Column): Column =
    ExprBridge.column(InversionCount(col2expr(xs)))

  /** Longest strictly-increasing chain over sorted packed (a·2³²+b)
    * index pairs — the order-consistency vote of the video near-dup
    * family (see [[LisPairs]]). */
  def lis_pairs(xs: Column): Column =
    ExprBridge.column(LisPairs(col2expr(xs)))

  /** Running left-to-right product of a double sequence — the
    * Kaplan–Meier survival accumulator (see [[PrefixProd]]). */
  def prefix_prod(xs: Column): Column =
    ExprBridge.column(PrefixProd(col2expr(xs)))

  /** Running left-to-right sum of a double sequence — the Nelson–Aalen
    * cumulative-hazard accumulator (see [[PrefixSum]]). */
  def prefix_sum(xs: Column): Column =
    ExprBridge.column(PrefixSum(col2expr(xs)))

  /** Max-probability (Viterbi) segmentation of a `len`-char word under
    * a unigram piece model — candidates as paired (start·100+length,
    * probability) arrays; see [[UnigramViterbi]]. */
  def unigram_viterbi(len: Column, encs: Column, ps: Column): Column =
    ExprBridge.column(UnigramViterbi(col2expr(len), col2expr(encs),
      col2expr(ps)))

  /** Median of pairwise slopes over an (x, y)-sorted integer series —
    * the Theil–Sen robust trend kernel (see [[TheilSenSlope]]). */
  def theil_sen_slope(xs: Column, ys: Column): Column =
    ExprBridge.column(TheilSenSlope(col2expr(xs), col2expr(ys)))

  /** Token-bucket rate-limit replay over a sorted epoch-micros array
    * (see [[TokenBucket]]). */
  def token_bucket(ts: Column, capacityMilli: Long, refillMilliPerSec: Long,
                   costMilli: Long, ticksPerSecond: Long = 1000000L): Column =
    ExprBridge.column(TokenBucket(col2expr(ts), capacityMilli,
      refillMilliPerSec, costMilli, ticksPerSecond))

  /** Integer EWMA (alpha = 1/2^shift) over an ordered long series —
    * exact floor arithmetic, full smoothed series out (see
    * [[EwmaShiftLongs]]). */
  def ewma_shift(series: Column, shift: Int): Column =
    ExprBridge.column(EwmaShiftLongs(col2expr(series), shift))

  /** One-sided upper CUSUM changepoint accumulator over an ordered
    * long series — exact integers, reset after each alarm (see
    * [[CusumLongs]]). */
  def cusum_longs(series: Column, ref: Long, h: Long): Column =
    ExprBridge.column(CusumLongs(col2expr(series), ref, h))

  /** Pool-adjacent-violators isotonic pooling over a sorted
    * (score, w, y) histogram — exact integer cross-product
    * comparisons, unique blocks out (see [[PavaPools]]). */
  def pava_pools(hist: Column): Column =
    ExprBridge.column(PavaPools(col2expr(hist)))

  /** Truncated rank-biased overlap (p = 9/10, exact rational weights)
    * between two item-id rankings (see [[RboOverlap]]). */
  def rbo_overlap(a: Column, b: Column): Column =
    ExprBridge.column(RboOverlap(col2expr(a), col2expr(b)))

  /** Lead–lag Pearson cross-correlation between two aligned long
    * series, one struct per index lag in [−maxLag, maxLag] (see
    * [[LeadLagCorr]]). */
  def lead_lag_corr(xs: Column, ys: Column, maxLag: Int): Column =
    ExprBridge.column(LeadLagCorr(col2expr(xs), col2expr(ys), maxLag))

  /** Integer Holt level+trend smoothing (α = 1/2^aShift,
    * β = 1/2^gShift) over an ordered long series — exact floor
    * arithmetic, (pred, level, trend) series out (see
    * [[HoltShiftLongs]]). */
  def holt_shift(series: Column, aShift: Int, gShift: Int): Column =
    ExprBridge.column(HoltShiftLongs(col2expr(series), aShift, gShift))
}
