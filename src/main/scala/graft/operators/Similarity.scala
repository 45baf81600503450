package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * `bruteForceTopK` is the exact baseline: broadcast the (small) query set
  * against the corpus — a broadcast nested-loop that scales linearly in the
  * corpus and never shuffles it. `lshTopK` is the scale path: random-
  * hyperplane LSH buckets both sides, so each query only scans its bucket —
  * an equi-join on bucket id instead of a full scan.
  */
object Similarity {

  /** Rank `(query_id, cand_id, cos_sim)` candidate rows to per-query top-k
    * (cos_sim desc, cand_id asc tiebreak) via the partial-combining
    * `top_k_by` aggregate — NOT a `row_number().over(partitionBy(query_id))`
    * window, which would drag every candidate row of a query onto one
    * partition and SORT it. The aggregate partial-combines: at most k rows
    * per query per partition cross the shuffle and nothing is globally
    * sorted — at corpus scale that is the difference between a sort and a
    * map-side combine. cand_id rides negated so its tiebreak runs
    * ascending under the descending struct order (the q65 pattern).
    * Output matches the window form: (query_id, cand_id, cos_sim, rank). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(top_k_by(struct(col("cos_sim"), (-col("cand_id")).as("neg_cand")), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (-col("col.neg_cand")).as("cand_id"),
        col("col.cos_sim").as("cos_sim"), (col("pos") + 1).as("rank"))

  /** Exact top-k by cosine: every query row against the whole corpus.
    * Similarities are rounded to 6 dp before ranking (with id tiebreak) so
    * rank boundaries are stable across engines. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // Norms staged per row BEFORE the pair join: recomputing them inside
    // the pair-level cosine would fold each vector |corpus| times.
    // fanOut: the corpus side streams through the pair join, amplifying
    // each input row |queries|-fold — a single-file scan would run the
    // whole pair scan on one core (identity at scale, guide §2.5).
    val c = Spread.fanOut(corpus
        .select(col("vec_id").as("cand_id"), col("embedding").as("cand_v")))
      .withColumn("cand_norm", vec_norm(col("cand_v")))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("query_v"))
      .withColumn("query_norm", vec_norm(col("query_v")))
    val scored = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(vec_dot(col("query_v"), col("cand_v"))
          / (col("query_norm") * col("cand_norm")), 6).as("cos_sim"))
    rankTopK(scored, k)
  }

  /** MUTUAL nearest-neighbor pairs from any ranked top-k table
    * ([[bruteForceTopK]], [[ivfTopK]], …): keep each vector's rank-1
    * neighbor and return the pairs where the relation is RECIPROCAL —
    * a is b's closest and b is a's. Reciprocity is the classic
    * high-precision near-duplicate / record-linkage filter: one-sided
    * top-1 hits are often hub artifacts (one popular vector absorbs
    * everything), while mutual top-1 pairs survive as genuine twins.
    *
    * Scale shape: one co-partitioned self-equi-join on the (query,
    * cand) id pair over a ONE-ROW-PER-VECTOR table — the expensive part
    * is whichever top-k source feeds it (brute for bounded sets, the
    * IVF path at corpus scale), not this composition. Canonical a < b
    * output, cos_sim carried from the a-side row.
    * Output: (id_a, id_b, cos_sim). */
  def reciprocalPairs(topk: DataFrame): DataFrame = {
    val t1 = topk.where(col("rank") === 1)
      .select(col("query_id"), col("cand_id"), col("cos_sim"))
      .localCheckpoint() // both sides of the self-join read it
    t1.as("a").join(t1.as("b"),
        col("a.query_id") === col("b.cand_id") &&
          col("a.cand_id") === col("b.query_id"))
      .where(col("a.query_id") < col("a.cand_id"))
      .select(col("a.query_id").as("id_a"), col("a.cand_id").as("id_b"),
        col("a.cos_sim").as("cos_sim"))
  }

  /** Trajectory similarity search (the REPOSE/trajectory-search family,
    * ICDE'21 shape): exact top-k nearest entities to each query entity
    * by the discrete symmetric Hausdorff distance over integer
    * time-series trajectories (L1 on (position, value) — see
    * [[graft.functions.HausdorffL1]]).
    *
    * The distance kernel runs once per (query, candidate) pair with an
    * early-exit expanding-ring inner scan; the pair set is queries ×
    * corpus with the BOUNDED query side broadcast (the bruteForceTopK
    * stance: exact baseline for a bounded query set — at corpus×corpus
    * scale, block candidates first by length bucket / coarse trajectory
    * signature, the banded-dedup discipline). Ranking is the
    * partial-combining `top_k_by` ascending on (distance, cand_id) — no
    * window. All-long arithmetic: rank boundaries are engine-exact. */
  def trajectoryTopK(series: DataFrame, queries: DataFrame, k: Int,
                     posWeight: Long): DataFrame = {
    val c = series.select(col("user_id").as("cand_id"),
      col("series").as("cand_t"))
    val q = queries.select(col("user_id").as("query_id"),
      col("series").as("query_t"))
    val scored = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        hausdorff_l1(col("query_t"), col("cand_t"), posWeight).as("hd"))
      .where(col("hd").isNotNull)
    scored.groupBy("query_id")
      .agg(top_k_by(struct((-col("hd")).as("neg_hd"),
        (-col("cand_id")).as("neg_cand")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (-col("col.neg_cand")).as("cand_id"),
        (-col("col.neg_hd")).as("hd"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** Deterministic random hyperplanes (numPlanes x dim), fixed seed. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 7L): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(numPlanes, dim)(rnd.nextDouble() * 2 - 1)
  }

  /** Sign-bucket id: bit p set iff dot(v, plane_p) > 0. */
  def lshBucket(v: org.apache.spark.sql.Column, planes: Array[Array[Double]]) = {
    val bits = planes.zipWithIndex.map { case (plane, p) =>
      val planeCol = array(plane.toIndexedSeq.map(lit): _*)
      when(vec_dot(v, planeCol) > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Deterministic seed centroids: the `nCells` lowest-id corpus vectors.
    * A bounded driver-side collect (nCells rows), standing in for — or
    * seeding — a trained k-means codebook. */
  def seedCentroids(corpus: DataFrame, nCells: Int): Array[Array[Double]] =
    corpus.orderBy("vec_id").limit(nCells)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** Lloyd's k-means training of the IVF coarse quantizer, DataFrame-
    * iterative: each round assigns every vector to its nearest centroid
    * (`ivf_assign`, one primitive scan per row), then recomputes per-cell
    * per-dimension means through a (cell, dim) partial aggregation — the
    * shuffle carries only nCells x dim partially-combined rows per
    * partition, and the driver collects the bounded (cell, dim) sum table
    * to rebuild the codebook.
    *
    * Means are computed over 1e-6-quantized coordinates with INTEGER
    * summation, so the trained centroids are bit-identical regardless of
    * partition count or aggregation order — floating-point summation
    * would make the codebook depend on the physical plan. Empty cells
    * keep their previous centroid. Train on a bounded sample at corpus
    * scale (`corpus.sample(...)` upstream); the iteration cost is one
    * corpus scan per round.
    */
  def kmeansCentroids(corpus: DataFrame, nCells: Int, iters: Int,
                      vecCol: String = "embedding"): Array[Array[Double]] = {
    var centroids = seedCentroids(corpus, nCells)
    for (_ <- 1 to iters) {
      val sums = corpus
        .select(ivf_assign(col(vecCol), centroids).as("cell"),
          col(vecCol).as("v"))
        .select(col("cell"), posexplode(col("v")))
        .groupBy("cell", "pos")
        .agg(sum(round(col("col").cast("double") * 1e6).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        val (cell, pos) = (r.getInt(0), r.getInt(1))
        next(cell)(pos) = r.getLong(2).toDouble / (r.getLong(3).toDouble * 1e6)
      }
      centroids = next
    }
    centroids
  }

  /** IVF (inverted-file) top-k: corpus vectors are assigned to their
    * nearest centroid cell once; each query probes only its `nProbe`
    * nearest cells. The scale path when LSH's recall/cost curve is too
    * coarse — cells partition the corpus, and the candidate join is an
    * equi-join on cell id.
    *
    * `centroids` defaults to the deterministic first-`nCells` seed (the
    * exact-oracle configuration); pass `kmeansCentroids(...)` for a
    * trained codebook — nothing structural changes. Cell assignment and
    * probe selection are single-pass expressions over a literal centroid
    * matrix; norms are staged once per row before the candidate join.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 8, nProbe: Int = 2,
              centroids: Array[Array[Double]] = null): DataFrame = {
    val cents = if (centroids != null) centroids else seedCentroids(corpus, nCells)
    val c = corpus.select(col("vec_id").as("cand_id"), col("embedding").as("cand_v"))
      .withColumn("cand_norm", vec_norm(col("cand_v")))
      .withColumn("cell", ivf_assign(col("cand_v"), cents))
    // queries probe their nProbe nearest cells
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("query_v"))
      .withColumn("query_norm", vec_norm(col("query_v")))
      .select(col("query_id"), col("query_v"), col("query_norm"),
        explode(ivf_probes(col("query_v"), cents, nProbe)).as("cell"))
    val scored = c.join(broadcast(probes), Seq("cell"))
      .where(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(vec_dot(col("query_v"), col("cand_v"))
          / (col("query_norm") * col("cand_norm")), 6).as("cos_sim"))
    rankTopK(scored, k)
  }

  /** LSH-bucketed top-k: candidates restricted to the query's sign bucket.
    * Recall < 1 by construction; bucket count tunes the recall/cost trade.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              numPlanes: Int = 4, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val c = corpus.select(col("vec_id").as("cand_id"), col("embedding").as("cand_v"),
      lshBucket(col("embedding"), planes).as("bucket"))
      .withColumn("cand_norm", vec_norm(col("cand_v")))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("query_v"),
      lshBucket(col("embedding"), planes).as("bucket"))
      .withColumn("query_norm", vec_norm(col("query_v")))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(vec_dot(col("query_v"), col("cand_v"))
          / (col("query_norm") * col("cand_norm")), 6).as("cos_sim"))
    rankTopK(scored, k)
  }

  /** PQ codebooks from the `ks` lowest-id corpus vectors, each split
    * into `m` contiguous subvectors — deterministic (the seedCentroids
    * stance; per-subspace kmeansCentroids-style training drops into the
    * same shape). Bounded driver collect: ks x dim doubles. */
  def pqCodebooks(corpus: DataFrame, m: Int, ks: Int): Seq[Seq[Seq[Double]]] = {
    val seeds = seedCentroids(corpus, ks)
    val dim = seeds(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    (0 until m).map(mi =>
      seeds.toSeq.map(v => v.slice(mi * sub, (mi + 1) * sub).toSeq))
  }

  /** ADC score of a candidate against a query's distance table: M
    * integer table lookups, each per-subspace squared-L2 floor-quantized
    * to micro-units BEFORE the M-way sum, so the total is order-free and
    * bit-stable across engines and partitionings. */
  private def adcMicro(dtable: Column, codes: Column, m: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0L), (acc, mi) =>
      acc + floor(element_at(element_at(dtable, mi + 1),
        element_at(codes, mi + 1) + 1) * 1e6))

  /** Rank `(query_id, cand_id, adc_micro)` rows to per-query top-k by
    * ascending distance — the ADC twin of [[rankTopK]]. Malformed
    * vectors (length != dim) NULL their pq_encode / pq_dist_table, so
    * adc_micro is NULL — dropped BEFORE ranking, or ascending
    * NULLS-FIRST order would seat every malformed corpus row at rank 1
    * of every query instead of degrading it out of the join (the
    * DHashBands posture). top_k_by keeps the LARGEST structs: adc_micro
    * rides negated for the ascending distance order, cand_id negated for
    * its asc tiebreak. */
  private def rankAdcTopK(scored: DataFrame, k: Int): DataFrame =
    scored.where(col("adc_micro").isNotNull)
      .groupBy("query_id")
      .agg(top_k_by(struct((-col("adc_micro")).as("neg_adc"),
        (-col("cand_id")).as("neg_cand")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (-col("col.neg_cand")).as("cand_id"),
        (-col("col.neg_adc")).as("adc_micro"), (col("pos") + 1).as("rank"))

  /** Product-quantization ANN top-k by asymmetric distance computation
    * (Jegou et al. 2011): the corpus is encoded ONCE into M small codes
    * per vector (`pq_encode` — the localCheckpoint stands in for the
    * persisted index [[buildPqIndex]] maintains; use [[ivfPqTopK]] for
    * the build-once/query-many serving shape), each query precomputes
    * its M x ks squared-L2 lookup table (`pq_dist_table`, broadcast with
    * the query row), and scoring a candidate is M integer table lookups
    * instead of a dim-length float fold — dim/M times less per-candidate
    * work than bruteForceTopK, on a code table ~dim/M times smaller than
    * the raw vectors. This is the flat-scan ADC kernel; [[ivfPqTopK]]
    * composes it with the IVF cell restriction to scan only probed
    * cells — IVFADC. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 4, ks: Int = 8): DataFrame = {
    val cb = pqCodebooks(corpus, m, ks)
    // materialized attribute: the ADC lambda below reads `codes` per
    // subspace, and a staged pq_encode expression would be re-inlined
    // (and re-run) once per lookup by CollapseProject
    val codes = corpus.select(col("vec_id").as("cand_id"),
      pq_encode(col("embedding"), cb).as("codes")).localCheckpoint()
    val qt = queries.select(col("vec_id").as("query_id"),
      pq_dist_table(col("embedding"), cb).as("dtable"))
    val scored = codes.join(broadcast(qt), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        adcMicro(col("dtable"), col("codes"), m).as("adc_micro"))
    rankAdcTopK(scored, k)
  }

  /** A persisted IVF-PQ index loaded for serving: the parquet-backed
    * code table (one row per corpus vector: id, coarse cell, M PQ codes)
    * plus the bounded coarse-quantizer centroids and per-subspace
    * codebooks collected to the driver (nCells x dim + M x ks x dim/M
    * doubles — plan-literal size, the q48 codebook stance). */
  case class PqIndex(codes: DataFrame, centroids: Array[Array[Double]],
                     codebooks: Seq[Seq[Seq[Double]]])

  /** Build the persisted IVF-PQ index — the build-once/query-many half
    * of the IVFADC serving shape (Jegou et al. 2011 §V: inverted file +
    * asymmetric distance). One corpus scan encodes every vector to its
    * coarse cell (`ivf_assign`) and M PQ codes (`pq_encode`); the code
    * table lands in parquet PARTITIONED BY cell, so a query probing
    * nProbe cells prunes every other cell's files at the scan (static
    * partition pruning — the on-disk analogue of the inverted lists).
    * Codes are plain-vector PQ (not residual-to-centroid): the index
    * then serves flat ADC and IVFADC interchangeably and full-probe
    * IVFADC is EXACTLY flat ADC (the q97 oracle gate); residual
    * encoding drops in by swapping the pq_encode input. Centroids and
    * codebooks persist alongside as two tiny parquet tables.
    *
    * `centroids` defaults to the deterministic first-`nCells` seed (the
    * exact-oracle configuration); pass [[kmeansCentroids]] for a trained
    * coarse quantizer — nothing structural changes. */
  def buildPqIndex(corpus: DataFrame, dir: String, m: Int = 4, ks: Int = 8,
                   nCells: Int = 8,
                   centroids: Array[Array[Double]] = null): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = if (centroids != null) centroids else seedCentroids(corpus, nCells)
    val cb = pqCodebooks(corpus, m, ks)
    corpus.select(col("vec_id"),
        ivf_assign(col("embedding"), cents).as("cell"),
        pq_encode(col("embedding"), cb).as("codes"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
    cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/centroids")
    cb.zipWithIndex.flatMap { case (codebook, sub) =>
      codebook.zipWithIndex.map { case (cv, j) => (sub, j, cv) } }
      .toDF("sub", "code", "cv")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  /** Load a [[buildPqIndex]] directory for serving. The code table stays
    * a lazy parquet frame (partition-prunable); centroids and codebooks
    * are bounded driver collects. */
  def loadPqIndex(spark: SparkSession, dir: String): PqIndex = {
    val cents = spark.read.parquet(s"$dir/centroids").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    val cbRows = spark.read.parquet(s"$dir/codebooks").collect()
    val m = cbRows.map(_.getInt(0)).max + 1
    val cb = (0 until m).map(sub => cbRows.filter(_.getInt(0) == sub)
      .sortBy(_.getInt(1)).map(_.getSeq[Double](2)).toSeq)
    PqIndex(spark.read.parquet(s"$dir/codes"), cents, cb)
  }

  /** Cluster-balanced deterministic sampling — the embedding-space
    * curation move of DataComp/MetaCLIP-style corpus balancing: assign
    * every vector to its nearest centroid cell, then keep at most
    * `quota` vectors per cell, chosen by a deterministic per-id hash
    * order (md5 — reproducible across runs, engines and partitionings,
    * the q67 discipline). Hot clusters (duplicated web boilerplate,
    * over-represented topics) are trimmed to the quota; rare clusters
    * survive whole — flattening the cluster histogram without a global
    * sort. Selection runs through the partial-combining `top_k_by`
    * aggregate: at most `quota` rows per cell per partition cross the
    * shuffle (hash and id ride negated so the keep-largest aggregate
    * selects the SMALLEST hashes, rank ascending).
    *
    * `centroids` defaults to the deterministic first-`nCells` seed (the
    * exact-oracle configuration); pass [[kmeansCentroids]] for trained
    * cells. Output: one row per KEPT vector — (vec_id, cell, rank). */
  def clusterBalancedSample(corpus: DataFrame, quota: Int, nCells: Int = 8,
                            centroids: Array[Array[Double]] = null): DataFrame = {
    val cents = if (centroids != null) centroids else seedCentroids(corpus, nCells)
    corpus.select(col("vec_id"),
        ivf_assign(col("embedding"), cents).as("cell"),
        md5_long(col("vec_id").cast("string")).as("h"))
      .groupBy("cell")
      .agg(top_k_by(struct((-col("h")).as("neg_h"),
        (-col("vec_id")).as("neg_id")), quota).as("top"))
      // malformed vectors (length != dim) NULL their cell assignment and
      // collect into a NULL-cell group — drop it HERE, on the aggregate
      // output attribute (a pre-aggregation filter on the projected cell
      // would re-inline ivf_assign into the predicate and score every
      // row against the centroids twice)
      .where(col("cell").isNotNull)
      .select(col("cell"), posexplode(col("top")))
      .select((-col("col.neg_id")).as("vec_id"), col("cell"),
        (col("pos") + 1).as("rank"))
  }

  /** IVFADC top-k over a persisted index (Jegou et al. 2011 §V): each
    * query probes its `nProbe` nearest coarse cells and ADC-scores ONLY
    * the code-table rows in those cells — the actual 100 TB ANN serving
    * shape ([[pqTopK]] is the flat-scan kernel; [[ivfTopK]] the
    * uncompressed cell restriction).
    *
    * Probe restriction happens TWICE, deliberately: the distinct probed
    * cells (a bounded driver collect — at most nCells values) become a
    * LITERAL `isin` predicate on the code table's partition column, so
    * the parquet scan statically prunes every unprobed cell's files
    * (PartitionFilters at the scan, pinned by ScaleSpec); the per-query
    * assignment then rides the broadcast equi-join on cell id. With
    * nProbe = nCells the result is EXACTLY [[pqTopK]]'s flat ADC — the
    * q97 oracle gate. */
  /** Incremental maintenance of a persisted PQ code table (the q98
    * discipline applied to the ANN index): given the previous index and
    * a [[Snapshot.delta]] classification over the embedding corpus
    * (fingerprint via [[Snapshot.vecFingerprint]]), re-encode ONLY
    * `added`/`changed` vectors — against the index's EXISTING centroids
    * and codebooks, which a delta never retrains — and retire `removed`
    * ones; `unchanged` rows keep their code-table rows untouched, so the
    * per-re-embed cost is O(|delta|) encodes, not O(|corpus|).
    * Deterministic encoding makes the result exactly the full re-encode
    * of the current snapshot with the same codebooks (the q100 oracle
    * gate). Returns the updated (vec_id, cell, codes) table; land it
    * with a cell-partitioned write (dynamic partition overwrite touches
    * only the cells the delta reached). */
  def updatePqIndex(index: PqIndex, delta: DataFrame, cur: DataFrame,
                    idCol: String = "vec_id"): DataFrame = {
    val retire = delta.where(col("status").isin("removed", "changed"))
      .select(col("doc_id").as("vec_id"))
    val refresh = delta.where(col("status").isin("added", "changed"))
      .select(col("doc_id").as(idCol))
    val kept = index.codes.join(retire, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"), col("codes"))
    val fresh = cur.join(refresh, Seq(idCol), "left_semi")
      .select(col(idCol).as("vec_id"),
        ivf_assign(col("embedding"), index.centroids).as("cell"),
        pq_encode(col("embedding"), index.codebooks).as("codes"))
    kept.unionByName(fresh)
  }

  /** Per-DIMENSION health profile of an embedding column — the embedding
    * quality monitor a 100 TB multimodal corpus needs before any ANN /
    * dedup pass trusts the vectors: a COLLAPSED dimension (zero
    * variance — the encoder died or the dim was never trained), a
    * DEAD dimension (all-zero — padding/truncation bugs), or SCALE
    * DRIFT between ingest batches (mean/std shifting per dim) all read
    * straight off this table.
    *
    * Exactness: each float element is micro-quantized
    * (bround(x·10⁶) as long — float→double widening is value-exact),
    * so per-dim n / n_zero / q_min / q_max and the Σq / Σq² sufficient
    * statistics are integers; the sums accumulate as decimal(38,0)
    * (q² ≈ 3·10¹¹ per element — int64 would wrap near 3·10⁷ rows per
    * dim, decimal is exact to 10³⁸ — the spearmanByKey discipline) and
    * mean/variance are the usual one-division tails over exact
    * operands: engine-exact vs a HUGEINT-summing oracle. The divisions
    * DESCALE back to raw embedding units — mean = Σq/(n·scale) and
    * variance = (n·Σq² − (Σq)²)/(n·scale)², both denominators formed
    * as exact decimal integers before the single double cast — so
    * downstream drift thresholds are written against the column's own
    * units, not a ×10⁶/×10¹² internal quantization (q_min/q_max stay
    * micro-quantized longs: they're exact by construction and keeping
    * them integral preserves ordering without a lossy division).
    *
    * Scale shape: posexplode then ONE map-side-combining hash
    * aggregation on the dim ordinal — the shuffle carries at most
    * (#partitions × d) partial rows, never (n × d); no window, no
    * sort. NULL vectors drop at the explode; NULL elements are counted
    * (n_null) and excluded from every statistic rather than silently
    * poisoning the sums.
    * Output: (dim, n, n_null, n_zero, q_min, q_max, mean, variance). */
  /** TOP PRINCIPAL COMPONENT by fixed-round power iteration — the
    * anisotropy audit on an embedding corpus ([[embeddingDimProfile]]
    * reads each dimension alone; this reads their joint structure):
    * embedding spaces that collapse toward one direction (the known
    * "anisotropic embedding" failure; a generator fingerprint and a
    * retrieval-quality killer) show a dominant eigenvector whose
    * `top_share` — the Rayleigh quotient's share of the covariance
    * trace — approaches 1, where a healthy space sits near 1/d.
    *
    * Exactness/engine-parity: embeddings micro-quantize ONCE
    * (bround·10⁶, the [[embeddingDimProfile]] discipline); the
    * n²-scaled covariance C_ij = n·Σq_iq_j − Σq_i·Σq_j forms in exact
    * decimal(38,0) from ONE pair-explode scan (d² values per row,
    * map-side-combined to a d²-row cell table — the only data-sized
    * pass); the FIXED `rounds` of C·v then run DRIVER-SIDE over the
    * collected cells (≤ d² ≤ 16384 rows by the CHECKED contract — no
    * adaptive fork needed, the table is bounded by construction) as
    * an exact BigInt recurrence, re-normalizing by L∞ each round
    * (divide by max|w| and re-quantize to micro — L2 would square a
    * ~10²⁸ value out of decimal range, and any norm works for power
    * iteration), ONE double division per dim per round in the same
    * IEEE shape the oracle's unrolled round CTEs replay. Start vector:
    * all-ones (deterministic; orthogonality to the top eigenvector is
    * measure-zero and detectable via top_share ≈ the second share).
    * Growth is CHECKED before any round: n²·maxq²·10⁶·d ≤ 10³⁶ keeps
    * every C·v sum inside decimal(38,0). Output one row per dim:
    * (dim, v_micro, rayleigh, top_share) — v L∞-normalized to ±10⁶,
    * rayleigh in the n²·micro² covariance scale, top_share unitless.
    * d ≤ 128 CHECKED; NULL/ragged vectors rejected. */
  /** The CHECKED d×d micro-quantized covariance cell table behind
    * [[topPrincipalComponent]] and [[topTwoComponents]], collected to
    * the driver as exact BigInt cells: C_ij = n·ΣqᵢqⱼΣ − Sᵢ·Sⱼ from ONE
    * pair-explode pass (see topPrincipalComponent's scaladoc for the
    * full exactness story). ≤ d² ≤ 16384 rows by contract. */
  private def covarianceCells(df: DataFrame, vecCol: String,
                              op: String): Array[Array[BigInt]] = {
    val d38 = "decimal(38,0)"
    // NULL/empty vectors would vanish UNIFORMLY at the explode (every
    // per-dim count drops together, so the ragged check alone cannot
    // see them) — reject them explicitly first
    Contracts.enforce(df,
      Contracts.Bound(sum(when(col(vecCol).isNull ||
        size(col(vecCol)) === 0, 1L).otherwise(0L)), _ == 0L, b =>
        s"$op: $b NULL/empty vectors — filter explicitly first"))
    // fanOut BEFORE the d- and d²-fold explodes: a one-file corpus scan
    // would push the whole quantize+outer-product pass onto one core
    val dfS = Spread.fanOut(df)
    val q = dfS.select(posexplode(col(vecCol)).as(Seq("__i", "__e")))
      .select(col("__i").cast("long").as("__i"),
        bround(col("__e").cast("double") * 1e6, 0).cast("long").as("__q"))
      .localCheckpoint()
    val Seq(n, dDim, maxq, _) = Contracts.enforce(
      q.groupBy(col("__i")).agg(count(lit(1)).as("__n"),
        max(abs(col("__q"))).as("__m"),
        sum(when(col("__q").isNull, 1L).otherwise(0L)).as("__bad")),
      Contracts.read(max(col("__n"))),
      Contracts.Bound(count(lit(1)), _ <= 128L, d =>
        s"$op: $d dims exceed the d <= 128 bounded " +
          "cell-table contract — reduce the embedding first"),
      Contracts.read(max(col("__m"))),
      Contracts.Bound(sum(col("__bad")) +
        (max(col("__n")) - min(col("__n"))), _ == 0L, b =>
        s"$op: NULL elements or ragged vector lengths " +
          "— every row needs the same complete dimensionality"))
    require(BigInt(n) * n * BigInt(maxq).pow(2) * 1000000L *
      math.max(dDim, 1L) <= BigInt(10).pow(36),
      s"$op: n^2 * maxq^2 * 1e6 * d exceeds the " +
        s"decimal(38,0) C*v contract (n=$n, maxq=$maxq, d=$dDim) — " +
        "rescale or sample the corpus")
    // C_ij = n*P_ij − S_i*S_j from ONE pair-explode pass
    val pairs = dfS
      .select(transform(col(vecCol),
        e => bround(e.cast("double") * 1e6, 0).cast("long")).as("__qv"))
      .select(posexplode(col("__qv")).as(Seq("__i", "__qi")),
        col("__qv"))
      .select(col("__i").cast("long").as("__i"), col("__qi"),
        posexplode(col("__qv")).as(Seq("__j", "__qj")))
      .select(col("__i"), col("__j").cast("long").as("__j"),
        (col("__qi").cast(d38) * col("__qj").cast(d38)).as("__pp"))
      .groupBy(col("__i"), col("__j"))
      .agg(sum(col("__pp")).as("__p"))
    val sums = q.groupBy(col("__i")).agg(sum(col("__q")).as("__s"))
    val cTab = pairs
      .join(sums.select(col("__i"), col("__s").as("__si")), "__i")
      .join(sums.select(col("__i").as("__j"), col("__s").as("__sj")),
        "__j")
      .select(col("__i"), col("__j"),
        (lit(n).cast(d38) * col("__p") -
          col("__si").cast(d38) * col("__sj").cast(d38)).as("__c"))
    // the covariance table is ALWAYS ≤ d² ≤ 16384 rows — the rounds
    // are driver-sized by construction (no adaptive fork needed,
    // unlike the graph family), so the BigInt recurrence runs here
    // instead of paying 12 × (join + agg + lineage cut) distributed
    // jobs; long adds/multiplies commute, so this is value-identical
    // to the decimal DataFrame rounds (ScaleSpec pins the replay)
    val d = dDim.toInt
    val cArr = Array.fill(d, d)(BigInt(0))
    cTab.collect().foreach { r =>
      cArr(r.getLong(0).toInt)(r.getLong(1).toInt) =
        BigInt(r.getDecimal(2).toBigInteger)
    }
    cArr
  }

  def topPrincipalComponent(df: DataFrame, vecCol: String,
                            rounds: Int = 12): DataFrame = {
    require(rounds >= 1 && rounds <= 32,
      s"topPrincipalComponent: rounds must be in [1, 32], got $rounds")
    val cArr = covarianceCells(df, vecCol, "topPrincipalComponent")
    val d = cArr.length
    var v = Array.fill(d)(1000000L)
    def mul(): Array[BigInt] = Array.tabulate(d)(i =>
      (0 until d).iterator.map(j => cArr(i)(j) * v(j)).sum)
    (1 to rounds).foreach { _ =>
      val w = mul()
      val mx = w.map(_.abs).max
      v = w.map { wi =>
        if (mx == 0) 0L
        // the SAME IEEE shape as the oracle: double(w) * 1e6 /
        // double(mx), rounded HALF_UP (Spark round semantics)
        else BigDecimal(wi.toDouble * 1e6 / mx.toDouble)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
    }
    val wf = mul()
    val num = (0 until d).iterator.map(i => BigInt(v(i)) * wf(i)).sum
    val den = (0 until d).iterator.map(i => BigInt(v(i)) * v(i)).sum
    val tr = (0 until d).iterator.map(i => cArr(i)(i)).sum
    val rayleigh = num.toDouble / den.toDouble
    val share = rayleigh / tr.toDouble
    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField,
      StructType}
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until d).map(i =>
          Row(i.toLong, v(i), rayleigh, share)).toIndexedSeq, 1),
      StructType(Seq(StructField("dim", LongType),
        StructField("v_micro", LongType),
        StructField("rayleigh", DoubleType),
        StructField("top_share", DoubleType))))
  }

  /** ALL-BUT-THE-TOP embedding transform — the FIX the
    * [[topPrincipalComponent]] / [[topTwoComponents]] anisotropy
    * audits point at (Mu & Viswanath 2018: subtract the corpus mean
    * and remove the dominant direction(s); retrieval quality on
    * anisotropic embedding spaces improves immediately). D = 1 here —
    * the top direction, exactly the audit's v₁.
    *
    * Exactness: everything stays integral at scale n·10⁶ — per
    * coordinate the CENTERED residual is rᵢ = n·qᵢ − Sᵢ (qᵢ the
    * bround-micro-quantized coordinate, Sᵢ the corpus dim sum, both
    * exact), the projection coefficient is t = Σⱼ v₁ⱼ·rⱼ in
    * decimal(38,0), and the deflated coordinate is
    *
    *   pᵢ = rᵢ − (v₁ᵢ·t) div (Σⱼ v₁ⱼ²)
    *
    * — the [[topTwoComponents]] deflation form verbatim (truncating
    * integer division; BigInt and DuckDB HUGEINT agree toward zero),
    * so the oracle replays v₁'s twelve rounds and then this exact
    * arithmetic. `abt_scaled` is SCALED by n·10⁶ relative to the
    * input units and is the canonical bit-exact value; the companion
    * `abt` column carries the same coordinate descaled to input units
    * (one exactly-rounded double division — emitted so a downstream
    * consumer can never silently mix units).
    *
    * Scale shape: the v₁/S/n statistics are the audit's own bounded
    * driver collects (d ≤ 128 by the covariance contract); the
    * transform is then ONE map-only pass — per row, r and t bind
    * through a lambda (the langIdWide CollapseProject discipline) and
    * the deflated coordinates explode to (id, dim, abt_scaled).
    * Output: (id, dim, abt_scaled) — dim 0-based. */
  def allButTheTop(df: DataFrame, idCol: String, vecCol: String,
                   rounds: Int = 12): DataFrame = {
    val top = topPrincipalComponent(df, vecCol, rounds)
      .select(col("dim"), col("v_micro")).collect()
    val v1 = top.sortBy(_.getLong(0)).map(_.getLong(1))
    val den = v1.map(x => BigInt(x) * BigInt(x)).sum
    require(den > 0,
      "allButTheTop: the top component is the zero vector — nothing " +
        "to deflate (degenerate corpus)")
    val d38 = "decimal(38,0)"
    // fanOut: the deflation map pass explodes d coordinates per row and
    // runs off this checkpoint's partitioning (one file ⇒ one core)
    val q = Spread.fanOut(df.select(col(idCol).as("__id"),
        transform(col(vecCol),
          e => bround(e.cast("double") * 1e6, 0).cast("long")).as("__qv")))
      .localCheckpoint()
    val st = q.select(posexplode(col("__qv")).as(Seq("__i", "__q")))
      .groupBy(col("__i"))
      .agg(sum(col("__q")).as("__s"), count(lit(1)).as("__n"))
      .collect().sortBy(_.getInt(0))
    val n = st.head.getLong(2)
    val sArr = st.map(_.getLong(1))
    val v1Lit = array(v1.map(x => lit(x).cast(d38)): _*)
    val sLit = array(sArr.map(x => lit(x).cast(d38)): _*)
    val denLit = lit(den.toString).cast(d38)
    // r and t computed ONCE per row behind a lambda binding — aliased
    // columns would re-inline the zip/aggregate per exploded element
    val rExpr = zip_with(col("__qv"), sLit,
      (qe, se) => lit(n).cast(d38) * qe.cast(d38) - se)
    val rt = element_at(transform(array(rExpr), rv =>
      struct(rv.as("r"),
        aggregate(zip_with(rv, v1Lit, (re, ve) => re * ve),
          lit(0).cast(d38), (acc, x) => acc + x).as("t"))), 1)
    q.select(col("__id"), rt.as("__rt"))
      .select(col("__id"), col("__rt.t").as("__t"),
        posexplode(col("__rt.r")).as(Seq("__i", "__r")))
      .select(col("__id").as(idCol), col("__i").cast("long").as("dim"),
        (col("__r") - call_function("div",
          element_at(v1Lit, (col("__i") + 1).cast("int")) * col("__t"),
          denLit)).cast("long").as("abt_scaled"))
      // companion DESCALED coordinate (input units): one double
      // division of the exact integer by the exact n*1e6 — IEEE
      // division is exactly rounded, so even this column replays
      // bit-for-bit, but treat abt_scaled as the canonical value
      .withColumn("abt", col("abt_scaled").cast("double")
        / lit(n.toDouble * 1e6))
  }

  /** TOP TWO PRINCIPAL COMPONENTS by deflated power iteration — the
    * "all-but-the-top" audit (Mu & Viswanath 2018: embedding corpora
    * concentrate in a few top directions; removing them repairs
    * retrieval): alongside [[topPrincipalComponent]]'s dominant
    * direction this reports the SECOND component and its trace share,
    * so `share1 vs share2` reads directly as "how much anisotropy
    * would the all-but-the-top projection remove" — share2 is the
    * residual anisotropy after deflating the top direction.
    *
    * Exactness/engine-parity: the covariance cells, v₁ rounds,
    * Rayleigh quotients and trace are IDENTICAL to
    * [[topPrincipalComponent]] (same helper, same quantization).
    * v₂ then runs `rounds` of power iteration with explicit
    * deflation, all exact integers: w = C·u (BigInt); quantize to
    * ±10⁶ by L∞ (the v₁ round shape); project out v₁ by truncating
    * integer division — u′ᵢ = wqᵢ − (v₁ᵢ·Σⱼv₁ⱼwqⱼ) div (Σⱼv₁ⱼ²) —
    * (BigInt and DuckDB `//` both truncate toward zero, verified);
    * re-quantize to ±10⁶. Start vector alternates ±10⁶ by dim parity
    * (deterministic; not parallel to the all-ones v₁ start). The
    * oracle unrolls both phases' rounds as HUGEINT CTEs. A rank-1
    * corpus deflates to the zero vector: v₂ = 0 and ray₂/share₂ are
    * NaN (no second direction exists — surfaced, not hidden).
    *
    * Scale shape: identical to [[topPrincipalComponent]] — ONE
    * pair-explode scan to the ≤ d² CHECKED cell table, driver-side
    * exact rounds. Output one row per dim:
    * (dim, v1_micro, v2_micro, rayleigh1, rayleigh2, share1, share2). */
  def topTwoComponents(df: DataFrame, vecCol: String,
                       rounds: Int = 12): DataFrame = {
    require(rounds >= 1 && rounds <= 32,
      s"topTwoComponents: rounds must be in [1, 32], got $rounds")
    val cArr = covarianceCells(df, vecCol, "topTwoComponents")
    val d = cArr.length
    def mulBy(x: Array[Long]): Array[BigInt] = Array.tabulate(d)(i =>
      (0 until d).iterator.map(j => cArr(i)(j) * x(j)).sum)
    def quant(w: Array[BigInt]): Array[Long] = {
      val mx = w.map(_.abs).max
      w.map { wi =>
        if (mx == 0) 0L
        else BigDecimal(wi.toDouble * 1e6 / mx.toDouble)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
    }
    def rayOf(x: Array[Long]): (Double, Double) = {
      val wf = mulBy(x)
      val num = (0 until d).iterator.map(i => BigInt(x(i)) * wf(i)).sum
      val den = (0 until d).iterator.map(i => BigInt(x(i)) * x(i)).sum
      val tr = (0 until d).iterator.map(i => cArr(i)(i)).sum
      if (den == 0) (Double.NaN, Double.NaN)
      else (num.toDouble / den.toDouble,
        num.toDouble / den.toDouble / tr.toDouble)
    }
    // phase 1: v1 — byte-identical to topPrincipalComponent's rounds
    var v1 = Array.fill(d)(1000000L)
    (1 to rounds).foreach(_ => v1 = quant(mulBy(v1)))
    val (ray1, share1) = rayOf(v1)
    // phase 2: deflated rounds for v2
    val den1 = (0 until d).iterator.map(i => BigInt(v1(i)) * v1(i)).sum
    var v2 = Array.tabulate(d)(i => if (i % 2 == 0) 1000000L else -1000000L)
    (1 to rounds).foreach { _ =>
      val wq = quant(mulBy(v2))
      val tn = (0 until d).iterator.map(j => BigInt(v1(j)) * wq(j)).sum
      val proj = Array.tabulate(d)(i =>
        BigInt(wq(i)) - (BigInt(v1(i)) * tn) /
          (if (den1 == 0) BigInt(1) else den1))
      v2 = quant(proj)
    }
    val (ray2, share2) = rayOf(v2)
    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField,
      StructType}
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until d).map(i =>
          Row(i.toLong, v1(i), v2(i), ray1, ray2, share1, share2))
          .toIndexedSeq, 1),
      StructType(Seq(StructField("dim", LongType),
        StructField("v1_micro", LongType),
        StructField("v2_micro", LongType),
        StructField("rayleigh1", DoubleType),
        StructField("rayleigh2", DoubleType),
        StructField("share1", DoubleType),
        StructField("share2", DoubleType))))
  }

  /** MMR-DIVERSIFIED TOP-K (Carbonell–Goldstein 1998): re-rank each
    * query's brute-force candidates by maximal marginal relevance —
    * greedily pick `m` of `kCand` maximizing
    * λ·rel(c) − (1−λ)·max_{s∈picked} sim(c, s) — so a near-duplicate
    * cluster can't fill the whole result list (retrieval for eval-set
    * construction, dedup-aware few-shot example picking, diverse
    * negative mining). λ = 10⁶ degrades to the plain top-k order
    * (property-pinned); λ = 0 is pure anti-similarity.
    *
    * Scale shape: candidate generation IS [[bruteForceTopK]] (queries
    * broadcast, partial-combining top-k per query); the greedy loop
    * then runs per query INSIDE one [[graft.functions.mmr_select]]
    * expression over the collected ≤ kCand candidates (k is CHECKED
    * ≤ 64, so the packed row and the O(k²) pair cosines are bounded) —
    * never a cross-row iterative plan. Relevance and pair cosines
    * micro-quantize once each (the q22/q23 fold discipline); scores
    * are exact int64 (≤ 10¹²); ties pick the lower brute rank.
    * Output: (query_id, mmr_rank, cand_id, rel_micro, mmr_score). */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, kCand: Int, m: Int,
              lambdaMicro: Long): DataFrame = {
    require(kCand >= 1 && kCand <= 64,
      s"mmrTopK: kCand must be in [1, 64], got $kCand")
    require(m >= 1 && m <= kCand,
      s"mmrTopK: m must be in [1, kCand], got $m")
    val cands = bruteForceTopK(corpus, queries, kCand)
      .select(col("query_id"), col("cand_id"), col("rank"),
        round(col("cos_sim") * 1e6, 0).cast("long").as("rel_micro"))
    val packed = cands
      .join(corpus.select(col("vec_id").as("cand_id"),
        col("embedding").cast("array<double>").as("__v")), "cand_id")
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(col("rank"), col("rel_micro"),
        col("cand_id"), col("__v")))).as("__c"))
    packed
      .select(col("query_id"), col("__c"),
        posexplode(mmr_select(transform(col("__c"),
          x => struct(x("rel_micro").as("rel"), x("__v").as("vec"))),
          lambdaMicro, m)).as(Seq("__p", "__g")))
      .select(col("query_id"),
        (col("__p") + 1).cast("long").as("mmr_rank"),
        element_at(col("__c"), col("__g.pick") + 1)("cand_id")
          .as("cand_id"),
        element_at(col("__c"), col("__g.pick") + 1)("rel_micro")
          .as("rel_micro"),
        col("__g.mmr").as("mmr_score"))
  }

  /** NEIGHBOR-COSINE SELF-SIMILARITY PROFILE per key — the
    * mode-collapse / template-farm audit on an embedding corpus: pair
    * every vector with the NEXT vector of its key (id order — a
    * deterministic, content-independent pairing, so the profile is a
    * pure function of the table) and histogram the pair cosines. A
    * healthy diverse source spreads across mid bins; a source whose
    * neighbor cosines pile into the top bins is near-duplicate mass or
    * generator output (the cheap corpus-level smell test BEFORE paying
    * for SemDeDup/LSH on that slice).
    *
    * Exactness: cosine as the sequential-fold dot/norms (the q22
    * discipline — bit-identical doubles in both engines), quantized
    * once to micro units; bin = (micro + 10⁶) div 2·10⁵ clamped to
    * [0, 9] and the per-key mean an integral division — all integer
    * arithmetic after the one quantization. Scale shape: ONE lead
    * window partitioned by key (linear, no self-join) + one
    * map-side-combining rollup; keys with a single vector have no
    * pair and drop. Output: (key, bin, bin_lo_micro, n, n_pairs,
    * mean_micro) — one row per occupied bin, per-key totals repeated
    * for threshold-free reading. */
  def neighborCosineProfile(df: DataFrame, idCol: String, vecCol: String,
                            keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val proj = df.select(col(keyCol), col(idCol), col(vecCol).as("__v"))
      .localCheckpoint()
    // a duplicate (key, id) would make the lead() pairing depend on
    // partition order — the documented pure-function-of-the-table
    // contract requires a total order, so duplicates fail loudly
    graft.operators.Contracts.enforce(proj,
      graft.operators.Contracts.Bound(
        count(lit(1)) - countDistinct(col(keyCol), col(idCol)),
        _ == 0L, d =>
          s"neighborCosineProfile: $d duplicate (key, id) rows — the " +
            "neighbor pairing needs a total order; dedup or " +
            "disambiguate ids first"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col(idCol))
    val paired = proj
      .withColumn("__nv", lead(col("__v"), 1).over(w))
      .where(col("__nv").isNotNull)
      .select(col(keyCol),
        round(cosine_sim(col("__v"), col("__nv")) * 1e6, 0)
          .cast("long").as("__cm"))
    val binned = paired
      .select(col(keyCol), col("__cm"),
        least(greatest(expr("(__cm + 1000000L) div 200000L"), lit(0L)),
          lit(9L)).as("bin"))
      .groupBy(col(keyCol), col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__cm")).as("__s"))
    val tot = binned.groupBy(col(keyCol))
      .agg(sum(col("n")).as("n_pairs"), sum(col("__s")).as("__ts"))
    binned.join(tot, Seq(keyCol))
      .select(col(keyCol), col("bin"),
        (col("bin") * 200000L - 1000000L).as("bin_lo_micro"),
        col("n"), col("n_pairs"),
        expr("__ts div n_pairs").as("mean_micro"))
  }

  def embeddingDimProfile(df: DataFrame, vecCol: String,
                          scale: Long = 1000000L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    val q = bround(col("__e").cast("double") * scale.toDouble, 0)
      .cast("long")
    val qd = q.cast("decimal(38,0)")
    val agg = df
      .select(posexplode(col(vecCol)).as(Seq("dim", "__e")))
      .select(col("dim").cast("long").as("dim"), col("__e"))
      .groupBy(col("dim"))
      .agg(count(col("__e")).as("n"),
        sum(when(col("__e").isNull, 1L).otherwise(0L)).as("n_null"),
        sum(when(q === 0L, 1L).otherwise(0L)).as("n_zero"),
        min(q).as("q_min"), max(q).as("q_max"),
        sum(qd).as("__s"), sum(qd * qd).as("__ss"))
    val nDec = col("n").cast("decimal(38,0)")
    val nScale = nDec * lit(scale).cast("decimal(38,0)")
    agg.select(col("dim"), col("n"), col("n_null"), col("n_zero"),
      col("q_min"), col("q_max"),
      (col("__s").cast("double") / nScale.cast("double")).as("mean"),
      ((nDec * col("__ss") - col("__s") * col("__s")).cast("double")
        / (nScale * nScale).cast("double")).as("variance"))
  }

  /** CENTROID DRIFT between two embedding snapshots, per key — "did the
    * encoder (or the corpus mix) move?" for every source/label slice,
    * answered as the cosine between the two slices' mean vectors. The
    * scale-relevant identity: cosine of the SUM vectors equals cosine
    * of the means (the 1/n factors cancel), so no per-key division ever
    * happens and everything stays exact integer arithmetic until the
    * final two sqrts and one division.
    *
    * Exactness: elements micro-quantize (the [[embeddingDimProfile]]
    * argument — float×10⁶ is exact in double), per-(key, dim) sums and
    * the dot/norm accumulations run in decimal(38,0) (s ≈ 5·10⁶·n per
    * dim ⟹ s² ≈ 2.5·10³¹ at a billion vectors — far past int64, well
    * inside decimal38; the oracle sums HUGEINT). Shape: one posexplode
    * + hash agg per side (shuffle ≤ partitions × keys × d), ONE
    * co-partitioned (key, dim) equi-join, one final per-key fold —
    * no window, no driver collect. Keys missing from either side drop;
    * a zero-norm side → NaN. Output: (key, n_a, n_b, dot, cos). */
  def centroidDrift(a: DataFrame, b: DataFrame, keyCol: String,
                    vecCol: String, scale: Long = 1000000L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    def dimSums(df: DataFrame, out: String) = df
      .select(col(keyCol), posexplode(col(vecCol)).as(Seq("__dim", "__e")))
      .select(col(keyCol), col("__dim").cast("long").as("__dim"),
        bround(col("__e").cast("double") * scale.toDouble, 0)
          .cast("long").cast("decimal(38,0)").as("__q"))
      .groupBy(col(keyCol), col("__dim"))
      .agg(sum(col("__q")).as(out))
    def counts(df: DataFrame, out: String) = df
      .where(col(vecCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as(out))
    val joined = dimSums(a, "__sa").join(dimSums(b, "__sb"),
      Seq(keyCol, "__dim"))
    val folded = joined.groupBy(col(keyCol))
      .agg(sum(col("__sa") * col("__sb")).as("__dot"),
        sum(col("__sa") * col("__sa")).as("__nx"),
        sum(col("__sb") * col("__sb")).as("__ny"))
    folded
      .join(counts(a, "n_a"), Seq(keyCol))
      .join(counts(b, "n_b"), Seq(keyCol))
      .select(col(keyCol), col("n_a"), col("n_b"),
        col("__dot").cast("double").as("dot"),
        when(col("__nx") === lit(0) || col("__ny") === lit(0),
          lit(Double.NaN)).otherwise(
          col("__dot").cast("double") /
            (sqrt(col("__nx").cast("double"))
              * sqrt(col("__ny").cast("double")))).as("cos"))
  }

  def ivfPqTopK(index: PqIndex, queries: DataFrame, k: Int,
                nProbe: Int = 2): DataFrame = {
    val m = index.codebooks.length
    val probes = queries.select(col("vec_id").as("query_id"),
      pq_dist_table(col("embedding"), index.codebooks).as("dtable"),
      explode(ivf_probes(col("embedding"), index.centroids, nProbe)).as("cell"))
    val probedCells = probes.select("cell").distinct()
      .collect().toIndexedSeq.map(_.getInt(0): Any)
    val codes = index.codes.where(col("cell").isin(probedCells: _*))
    val scored = codes.join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        adcMicro(col("dtable"), col("codes"), m).as("adc_micro"))
    rankAdcTopK(scored, k)
  }

  /** DETERMINISTIC NEGATIVE SAMPLING on a consistent hash ring — the
    * contrastive-pairs primitive: every anchor gets k pseudo-random but
    * REPRODUCIBLE negatives (rerun → byte-identical pairs; new corpus
    * members perturb only the ring arcs they land on, the classic
    * consistent-hashing stability argument — a random sample would
    * reshuffle every epoch's negatives and poison caching/debugging).
    *
    * Rule: each id sits on a ring at `rolling_hash(id)` (position
    * collisions collapse to the smallest id — larger colliders just
    * never get picked); probe j of an anchor hashes `id + "#" + j` and
    * takes the first ring member at-or-after that position, wrapping
    * to the ring's global minimum. An anchor that draws itself yields
    * that probe nothing (k−1 negatives, deterministic, rare).
    *
    * Scale shape — the wrap-around lookup never becomes a global
    * sort: positions bucket by their high bits, so "first member ≥ q"
    * decomposes into (a) a per-bucket FORWARD MERGE AS-OF
    * ([[AsOf.asofJoinForward]] — co-partitioned by bucket, sorted
    * within), (b) for probes that exhaust their bucket, a suffix-min
    * successor table over the BOUNDED bucket axis (`buckets` rows —
    * its unpartitioned window sorts a fixed-size frame, never data),
    * and (c) the one-row global minimum for the wrap. Everything else
    * is equi-joins. Output: (anchor_id, probe, neg_id). */
  def hashRingNegatives(df: DataFrame, idCol: String, k: Int,
                        buckets: Int = 1024): DataFrame = {
    require(k >= 1 && k <= 64, s"hashRingNegatives needs k in [1,64], got $k")
    require(buckets >= 1 && buckets <= (1 << 20),
      s"hashRingNegatives needs buckets in [1, 2^20], got $buckets")
    import org.apache.spark.sql.expressions.Window
    val width = (2147483647L / buckets) + 1L
    // ring: one member per distinct position (smallest id wins)
    val ring = df.select(col(idCol).as("__rid"),
        rolling_hash(col(idCol).cast("string")).as("__ax"))
      .groupBy(col("__ax")).agg(min(col("__rid")).as("__rid"))
      .withColumn("__b", expr(s"__ax div ${width}L"))
      .localCheckpoint() // feeds the as-of, the bucket mins and the wrap
    val probes = df.select(col(idCol).as("anchor_id"),
        explode(sequence(lit(1), lit(k))).as("probe"))
      .withColumn("__ax", rolling_hash(concat(
        col("anchor_id").cast("string"), lit("#"),
        col("probe").cast("string"))))
      .withColumn("__b", expr(s"__ax div ${width}L"))
    // (a) in-bucket: earliest ring position at-or-after the probe
    val inBucket = AsOf.asofJoinForward(
      probes,
      ring.select(col("__b"), col("__ax"), col("__rid").as("__hit"),
        col("__ax").as("__hp")),
      "__b", "__ax", inner = false)
    // (b) bucket exhausted: first position of the next non-empty bucket,
    // read off a suffix-min over the DENSE bounded bucket axis
    val bmin = ring.groupBy(col("__b")).agg(min(col("__ax")).as("__bp"))
    val wS = Window.orderBy(col("__b").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val succ = df.sparkSession.range(buckets).select(col("id").as("__b"))
      .join(bmin, Seq("__b"), "left")
      .select(col("__b"), min(col("__bp")).over(wS).as("__sp"))
    // (c) wrap: the ring's global minimum, one row
    val wrap = ring.agg(min(col("__ax")).as("__gp"))
    inBucket
      .join(broadcast(succ), Seq("__b"))
      .crossJoin(broadcast(wrap))
      .select(col("anchor_id"), col("probe"),
        coalesce(col("__hp"), col("__sp"), col("__gp")).as("__pos"))
      .join(ring.select(col("__ax").as("__pos"), col("__rid")), Seq("__pos"))
      .where(col("__rid") =!= col("anchor_id"))
      .select(col("anchor_id"), col("probe"), col("__rid").as("neg_id"))
  }

  /** ANN RECALL@K AUDIT — the quality readout every approximate index
    * here ([[ivfTopK]], [[lshTopK]], [[ivfPqTopK]]) needs before it
    * can be TRUSTED for dedup or retrieval at scale (the r13 verdict's
    * #3 gap: the indexes are oracle-exact for determinism, but nothing
    * measured how much of the TRUE neighborhood they return): per
    * query, recall = |ANN hits ∩ brute-force top-k| / |brute top-k|.
    *
    * Takes two ranked tables in the [[bruteForceTopK]] schema
    * (query_id, cand_id, …). The truth side is the base — a query the
    * index returned NOTHING for scores 0, not a dropped row. Duplicate
    * (query, cand) rows on either side are REJECTED loudly (they would
    * double-count hits). Recall is integral micro-division — exact.
    *
    * Scale shape: one co-partitioned equi-join on (query_id, cand_id)
    * over two k-rows-per-query tables + one map-side-combining groupBy
    * — the expensive part is producing the inputs, not the audit.
    * Output: (query_id, n_truth, n_hit, recall_micro). */
  def annRecallAudit(ann: DataFrame, truth: DataFrame): DataFrame = {
    def dedupCheck(df: DataFrame, side: String): DataFrame = {
      val sel = df.select(col("query_id"), col("cand_id"))
        .localCheckpoint()
      Contracts.enforce(
        sel.groupBy(col("query_id"), col("cand_id"))
          .agg(count(lit(1)).as("__c")),
        Contracts.Bound(max(col("__c")), _ <= 1L, m =>
          s"annRecallAudit: the $side table repeats a (query, cand) " +
            s"pair $m times — hits would double-count"))
      sel
    }
    val a = dedupCheck(ann, "ANN").withColumn("__a", lit(1L))
    dedupCheck(truth, "truth")
      .join(a, Seq("query_id", "cand_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("__a"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_truth"), col("n_hit"),
        call_function("div", col("n_hit") * 1000000L, col("n_truth"))
          .as("recall_micro"))
  }

  /** The shared audit tail of the recall sweeps: every grid point's
    * ranked candidate table rides ONE grid-tagged union — ONE
    * checkpoint and ONE dedup contract ((grid, query, cand) must be
    * unique — the [[annRecallAudit]] double-count guard, enforced over
    * all grid points in one aggregation job) instead of a checkpoint +
    * contract pair per grid point; the truth side is likewise checked
    * ONCE instead of once per grid point. Each output row then
    * reproduces exactly the per-grid-point
    * annRecallAudit-then-aggregate form (same integral micro-division,
    * same integer sufficient statistics), reading the two materialized
    * tables. */
  private def sweepAudit(truth: DataFrame, gridCol: String,
                         points: Seq[(Long, DataFrame)]): DataFrame = {
    val truthSel = truth.select(col("query_id"), col("cand_id"))
      .localCheckpoint()
    Contracts.enforce(
      truthSel.groupBy(col("query_id"), col("cand_id"))
        .agg(count(lit(1)).as("__c")),
      Contracts.Bound(max(col("__c")), _ <= 1L, m =>
        s"recall sweep: the truth table repeats a (query, cand) " +
          s"pair $m times — hits would double-count"))
    val annAll = points.map { case (g, df) =>
        df.select(lit(g).as("__g"), col("query_id"), col("cand_id"))
      }.reduce(_.unionByName(_)).localCheckpoint()
    Contracts.enforce(
      annAll.groupBy(col("__g"), col("query_id"), col("cand_id"))
        .agg(count(lit(1)).as("__c")),
      Contracts.Bound(max(col("__c")), _ <= 1L, m =>
        s"recall sweep: an ANN table repeats a (query, cand) pair " +
          s"$m times — hits would double-count"))
    points.map { case (g, _) =>
      truthSel
        .join(annAll.where(col("__g") === g)
          .select(col("query_id"), col("cand_id"), lit(1L).as("__a")),
          Seq("query_id", "cand_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("__a"), lit(0L))).as("n_hit"))
        .select(col("query_id"), col("n_truth"), col("n_hit"),
          call_function("div", col("n_hit") * 1000000L, col("n_truth"))
            .as("recall_micro"))
        .agg(count(lit(1)).as("n_queries"),
          sum(col("n_truth")).as("n_truth"),
          sum(col("n_hit")).as("n_hit"),
          min(col("recall_micro")).as("min_recall_micro"))
        .select(lit(g).as(gridCol), col("n_queries"),
          col("n_truth"), col("n_hit"),
          call_function("div", col("n_hit") * 1000000L, col("n_truth"))
            .as("recall_micro"), col("min_recall_micro"))
    }.reduce(_.unionByName(_))
  }

  /** IVF TUNING READOUT — recall@k vs nProbe over ONE shared
    * brute-force truth: the grid a user reads before fixing the
    * probe budget of an IVF dedup/retrieval pass (each probe setting
    * trades one more cell scan per query for recall; this prints the
    * actual curve on a query SAMPLE instead of folklore). The truth
    * side is computed once and checkpointed; the index path is ALSO
    * computed once, at the LARGEST probe budget: [[graft.functions.IvfExprs
    * ivf_probes]] orders cells by (score desc, index desc), so grid
    * point np's candidate set is exactly the probe_rank < np PREFIX of
    * the max-budget scored table — one corpus cell-assign scan and one
    * candidate join serve every grid point, and each point is a
    * filter + partial-combining re-rank over the materialized scores
    * (bit-identical to re-running [[ivfTopK]] at np, which re-derives
    * the same prefix).
    *
    * Per grid point the audit micro-averages ([[annRecallAudit]] on
    * integer sufficient statistics): recall_micro = Σhits/Σtruth and
    * the per-query minimum as the worst case.
    * Output: (n_probe, n_queries, n_truth, n_hit, recall_micro,
    * min_recall_micro) — one row per grid point, ordered by n_probe. */
  def ivfRecallSweep(corpus: DataFrame, queries: DataFrame, k: Int,
                     nCells: Int, nProbes: Seq[Int],
                     centroids: Array[Array[Double]] = null): DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(p => p >= 1 && p <= nCells),
      s"ivfRecallSweep: nProbes must be non-empty and within " +
        s"[1, nCells=$nCells], got $nProbes")
    val cents = if (centroids != null) centroids
      else seedCentroids(corpus, nCells)
    val truth = bruteForceTopK(corpus, queries, k) // sweepAudit checkpoints its projection
    val maxNp = nProbes.max
    val c = corpus.select(col("vec_id").as("cand_id"),
        col("embedding").as("cand_v"))
      .withColumn("cand_norm", vec_norm(col("cand_v")))
      .withColumn("cell", ivf_assign(col("cand_v"), cents))
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("query_v"))
      .withColumn("query_norm", vec_norm(col("query_v")))
      .select(col("query_id"), col("query_v"), col("query_norm"),
        posexplode(ivf_probes(col("query_v"), cents, maxNp)))
      .withColumnRenamed("pos", "probe_rank").withColumnRenamed("col", "cell")
    val scored = c.join(broadcast(probes), Seq("cell"))
      .where(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"), col("probe_rank"),
        round(vec_dot(col("query_v"), col("cand_v"))
          / (col("query_norm") * col("cand_norm")), 6).as("cos_sim"))
      .localCheckpoint()
    sweepAudit(truth, "n_probe", nProbes.map(np => np.toLong ->
      rankTopK(scored.where(col("probe_rank") < np)
        .select(col("query_id"), col("cand_id"), col("cos_sim")), k)))
  }

  /** LSH TUNING READOUT — the [[ivfRecallSweep]] companion for the
    * sign-bucket index: recall@k vs numPlanes over ONE shared brute
    * truth. More planes → exponentially smaller buckets → cheaper
    * scans and LOWER recall (the opposite trade direction from IVF's
    * nProbe); this prints where the curve falls off. Plane sets are
    * prefix-stable ([[hyperplanes]] draws rows sequentially from one
    * seeded stream), so grid points share geometry — each adds one
    * more cutting plane to the previous point's buckets.
    * Output: (n_planes, n_queries, n_truth, n_hit, recall_micro,
    * min_recall_micro) — one row per grid point. */
  def lshRecallSweep(corpus: DataFrame, queries: DataFrame, k: Int,
                     dim: Int, planeGrid: Seq[Int]): DataFrame = {
    require(planeGrid.nonEmpty && planeGrid.forall(p => p >= 1 && p <= 62),
      s"lshRecallSweep: planeGrid must be non-empty within [1, 62], " +
        s"got $planeGrid")
    val truth = bruteForceTopK(corpus, queries, k) // sweepAudit checkpoints its projection
    // shared index staging (the ivfRecallSweep stance): plane sets are
    // prefix-stable, so grid point np's bucket is the max-planes bucket
    // masked to its low np bits, and its candidate pairs are exactly
    // the masked-bucket-equality SUBSET of the coarsest grid point's
    // pairs — one bucket scan and one candidate join at minPlanes serve
    // every point; each point filters + re-ranks the materialized
    // scores (bit-identical to re-running lshTopK at np).
    val maxNp = planeGrid.max
    val minNp = planeGrid.min
    val planes = hyperplanes(maxNp, dim)
    def msk(np: Int) = lit((1L << np) - 1L)
    val c = corpus.select(col("vec_id").as("cand_id"),
        col("embedding").as("cand_v"),
        lshBucket(col("embedding"), planes).as("cand_bucket"))
      .withColumn("cand_norm", vec_norm(col("cand_v")))
    val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("query_v"),
        lshBucket(col("embedding"), planes).as("query_bucket"))
      .withColumn("query_norm", vec_norm(col("query_v")))
    val scored = c.join(broadcast(q),
        c("cand_bucket").bitwiseAND(msk(minNp)) ===
          q("query_bucket").bitwiseAND(msk(minNp)))
      .where(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        col("query_bucket"), col("cand_bucket"),
        round(vec_dot(col("query_v"), col("cand_v"))
          / (col("query_norm") * col("cand_norm")), 6).as("cos_sim"))
      .localCheckpoint()
    sweepAudit(truth, "n_planes", planeGrid.map(np => np.toLong ->
      rankTopK(scored.where(col("cand_bucket").bitwiseAND(msk(np)) ===
          col("query_bucket").bitwiseAND(msk(np)))
        .select(col("query_id"), col("cand_id"), col("cos_sim")), k)))
  }

  /** MARGIN-BASED BITEXT MINING — the CCMatrix/LASER parallel-pair
    * miner (Artetxe & Schwenk 2019 §3: absolute cosine is uncalibrated
    * across embedding neighborhoods, so candidates score by how much
    * they stand out ABOVE their own neighborhoods):
    *
    *   margin(x, y) = cos(x, y) / ((avg_k(x) + avg_k(y)) / 2)
    *
    * with avg_k the mean top-k cosine of each side's own neighborhood
    * in the OTHER set. Pairs are the MUTUAL rank-1 matches (x's best
    * y and y's best x — the high-precision gate), mined when margin ≥
    * threshold. Margins > 1 mean "closer than either side's typical
    * neighbor" — the hub-vector antidote [[reciprocalPairs]] alone
    * lacks.
    *
    * Exactness: the 6-dp-rounded cosines quantize to exact micro
    * integers, neighborhood sums/counts are integer aggregates, and
    * the margin is ONE integral micro-division of cross-multiplied
    * int64 terms (2·c·n_x·n_y·10⁶ / (s_x·n_y + s_y·n_x)); a
    * non-positive denominator or negative best-cosine yields NULL
    * margin (the criterion is meaningless there, and floor-vs-trunc
    * integer division diverges across engines on negatives).
    *
    * Scale shape: the miner is PARAMETERIZED over its kNN source — it
    * consumes two pre-ranked top-k tables in the [[bruteForceTopK]]
    * schema (query_id, cand_id, cos_sim, rank), so the same
    * composition runs over brute passes on bounded sides
    * ([[marginBitextMine]], the audit form) or over [[ivfTopK]] /
    * [[lshTopK]] ranked tables at corpus×corpus scale (the
    * [[reciprocalPairs]] stance: "any ranked top-k table"). The miner
    * itself is two bounded groupBys over ≤1000-row neighborhoods
    * (CHECKED — the cross-multiplied margin stays int64-exact) plus
    * one mutual-best equi-join; rank-1 uniqueness per query is
    * CHECKED on both sides (a duplicated rank 1 would fabricate
    * pairs).
    * Output: (x_id, y_id, cos_micro, margin_micro, mined). */
  def marginBitextMineFromTopK(xy0: DataFrame, yx0: DataFrame,
                               thresholdMicro: Long): DataFrame = {
    def micro(df: DataFrame, side: String) = {
      val m = df.select(col("query_id"), col("cand_id"), col("rank"),
          round(col("cos_sim") * 1000000.0).cast("long").as("c"))
        .localCheckpoint()
      Contracts.enforce(
        m.groupBy(col("query_id")).agg(count(lit(1)).as("__k"),
          sum(when(col("rank") === 1, 1L).otherwise(0L)).as("__r1")),
        Contracts.Bound(max(col("__r1")), _ <= 1L, n =>
          s"marginBitextMineFromTopK: a $side query carries $n rank-1 " +
            "rows — the kNN source must rank uniquely per query"),
        Contracts.Bound(max(col("__k")), _ <= 1000L, n =>
          s"marginBitextMineFromTopK: a $side query carries $n ranked " +
            "rows — neighborhoods are bounded at 1000 so the " +
            "cross-multiplied margin stays int64-exact"))
      m
    }
    val xy = micro(xy0, "x-side")
    val yx = micro(yx0, "y-side")
    val sx = xy.groupBy(col("query_id").as("x_id"))
      .agg(sum(col("c")).as("sx"), count(lit(1)).as("nx"))
    val sy = yx.groupBy(col("query_id").as("y_id"))
      .agg(sum(col("c")).as("sy"), count(lit(1)).as("ny"))
    val bestXy = xy.where(col("rank") === 1)
      .select(col("query_id").as("x_id"), col("cand_id").as("y_id"),
        col("c"))
    val bestYx = yx.where(col("rank") === 1)
      .select(col("query_id").as("y_id"), col("cand_id").as("x_id"))
    val num = lit(2L) * col("c") * col("nx") * col("ny") * lit(1000000L)
    val den = col("sx") * col("ny") + col("sy") * col("nx")
    bestXy.join(bestYx, Seq("x_id", "y_id"))
      .join(sx, "x_id").join(sy, "y_id")
      .select(col("x_id"), col("y_id"), col("c").as("cos_micro"),
        when(den > 0L && col("c") >= 0L,
          call_function("div", num, den))
          .otherwise(lit(null).cast("long")).as("margin_micro"))
      .withColumn("mined",
        coalesce(col("margin_micro") >= thresholdMicro, lit(false)))
  }

  /** The brute-backed form of [[marginBitextMineFromTopK]]: two
    * [[bruteForceTopK]] passes feed the miner — the honest audit shape
    * for BOUNDED sides. Both sides are broadcast once each (xs as the
    * x→y query set, ys as the y→x query set), so BOTH are CHECKED
    * ≤ maxBroadcastRows in one job alongside the id-disjointness
    * contract (brute search excludes cand_id == query_id, so a shared
    * id would silently mask its own best match). At corpus×corpus
    * bitext scale, neither side is broadcastable — rank with
    * [[ivfTopK]] (or any index producing the (query_id, cand_id,
    * cos_sim, rank) schema) and call the FromTopK form directly. */
  def marginBitextMine(xs: DataFrame, ys: DataFrame, k: Int,
                       thresholdMicro: Long,
                       maxBroadcastRows: Long = 1000000L): DataFrame = {
    require(k >= 1 && k <= 100,
      s"marginBitextMine: k must be in [1, 100], got $k")
    val (tagged, _) = Contracts.checkpoint(
      xs.select(col("vec_id"), lit(1L).as("__x"), lit(0L).as("__y"))
        .unionByName(
          ys.select(col("vec_id"), lit(0L).as("__x"), lit(1L).as("__y")))
        .groupBy(col("vec_id"))
        .agg(sum(col("__x")).as("__nx"), sum(col("__y")).as("__ny")),
      Contracts.Bound(sum(when(col("__nx") > 0L && col("__ny") > 0L, 1L)
        .otherwise(0L)), _ == 0L, n =>
        s"marginBitextMine: $n vec_ids appear in BOTH sets — brute " +
          "search would silently mask their own best matches; re-key " +
          "one side"),
      Contracts.Bound(sum(col("__nx")), _ <= maxBroadcastRows, n =>
        s"marginBitextMine: the x side holds $n rows, exceeding the " +
          s"broadcast contract (maxBroadcastRows=$maxBroadcastRows) — " +
          "rank with ivfTopK and call marginBitextMineFromTopK"),
      Contracts.Bound(sum(col("__ny")), _ <= maxBroadcastRows, n =>
        s"marginBitextMine: the y side holds $n rows, exceeding the " +
          s"broadcast contract (maxBroadcastRows=$maxBroadcastRows) — " +
          "rank with ivfTopK and call marginBitextMineFromTopK"))
    marginBitextMineFromTopK(bruteForceTopK(ys, xs, k),
      bruteForceTopK(xs, ys, k), thresholdMicro)
  }

  /** HARD-NEGATIVE MINING from any ranked kNN source — the
    * contrastive-curation step between retrieval and training
    * (DPR/SimCSE practice: random negatives are too easy; the
    * informative negatives are the nearest neighbors that are NOT the
    * anchor's class): consume a ranked top-k table in the
    * [[bruteForceTopK]] schema plus an (id, label) table, drop
    * candidates sharing the anchor's label (NULL-safe — an unlabeled
    * candidate never silently matches an unlabeled anchor), and keep
    * each anchor's `n` nearest survivors.
    *
    * The [[marginBitextMineFromTopK]] stance: the kNN source is a
    * PARAMETER (brute for bounded audits, [[ivfTopK]]/[[lshTopK]] at
    * corpus scale), so the miner itself is two label equi-joins plus
    * the partial-combining `top_k_by` re-rank — at most n rows per
    * anchor per partition cross the shuffle, no window, no sort.
    * Survivor order is (cos_sim DESC, cand_id ASC) — the [[rankTopK]]
    * tiebreak, so re-ranking is deterministic and engine-replayable.
    * Output: (query_id, neg_id, cos_sim, neg_rank). */
  def hardNegatives(topk: DataFrame, labels: DataFrame, idCol: String,
                    labelCol: String, n: Int): DataFrame = {
    require(n >= 1 && n <= 1000,
      s"hardNegatives: n must be in [1, 1000], got $n")
    // a repeated (query, cand) pair in the kNN source would mine the
    // same negative twice — reject loudly (the annRecallAudit dedup
    // discipline)
    val tk = topk.select(col("query_id"), col("cand_id"), col("cos_sim"))
      .localCheckpoint()
    Contracts.enforce(
      tk.groupBy(col("query_id"), col("cand_id"))
        .agg(count(lit(1)).as("__c")),
      Contracts.Bound(max(col("__c")), _ <= 1L, m =>
        s"hardNegatives: the kNN source repeats a (query, cand) pair " +
          s"$m times — negatives would duplicate"))
    // the label table joins BOTH sides — a repeated id fans out each
    // join and silently duplicates mined negatives (the same dedup
    // discipline as the kNN-pair check above); ids ABSENT from labels
    // drop by inner-join semantics, documented, so only duplication
    // is a loud failure
    val lbl = labels.select(col(idCol).as("__lid"),
      col(labelCol).as("__ll")).localCheckpoint()
    Contracts.enforce(
      lbl.groupBy(col("__lid")).agg(count(lit(1)).as("__c")),
      Contracts.Bound(max(col("__c")), _ <= 1L, m =>
        s"hardNegatives: the labels table repeats an id $m times — " +
          "both label joins would fan out and duplicate negatives"))
    val anch = lbl.select(col("__lid").as("query_id"),
      col("__ll").as("__al"))
    val cand = lbl.select(col("__lid").as("cand_id"),
      col("__ll").as("__cl"))
    tk.join(anch, "query_id").join(cand, "cand_id")
      .where(!(col("__cl") <=> col("__al")))
      .groupBy(col("query_id"))
      .agg(top_k_by(struct(col("cos_sim"),
        (-col("cand_id")).as("neg_cand")), n).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (-col("col.neg_cand")).as("neg_id"),
        col("col.cos_sim").as("cos_sim"),
        (col("pos") + 1).cast("long").as("neg_rank"))
  }

  /** DIMENSION-BUDGET RECALL SWEEP — the Matryoshka-truncation audit
    * (Kusupati et al. 2022: retrieval systems keep a dim PREFIX of
    * each embedding to cut index size; this measures what that budget
    * costs): recall@k of exact search over the first `d` dimensions
    * vs the full-dimension truth, per d in the grid. The full-dim
    * grid point closes the loop at recall 1.0 exactly.
    *
    * Scale shape: the truth is ONE brute pass, checkpointed; each
    * grid point re-runs the broadcast-query scan over a NARROWER
    * projection (the scan cost at scale is dominated by the corpus
    * read, which column pruning already bounds to the vector column).
    * Output: (dim, n_queries, n_truth, n_hit, recall_micro,
    * min_recall_micro). */
  def dimRecallSweep(corpus: DataFrame, queries: DataFrame, k: Int,
                     dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1),
      s"dimRecallSweep: dims must be non-empty positive, got $dims")
    val truth = bruteForceTopK(corpus, queries, k) // sweepAudit checkpoints its projection
    // shared pair staging (the ivfRecallSweep stance): every grid point
    // scores the SAME query × corpus pair set, so ONE broadcast pair
    // join carries a per-budget cosine column per d — each side stages
    // its truncated vectors and norms once per row (exactly what the
    // per-point bruteForceTopK did), the pair scan runs once instead of
    // once per d, and each point re-ranks its cosine column off the
    // materialized scores (bit-identical to the per-point brute pass).
    def staged(df: DataFrame, idName: String, vName: String) = {
      val base = df.select(col("vec_id").as(idName),
        col("embedding").as(vName))
      dims.foldLeft(base) { (acc, d) =>
        acc.withColumn(s"${vName}_$d", slice(col(vName), 1, d))
          .withColumn(s"${vName}_norm_$d", vec_norm(col(s"${vName}_$d")))
      }
    }
    val c = Spread.fanOut(corpus.select(col("vec_id"), col("embedding")))
    val cs = staged(c, "cand_id", "cand_v")
    val qs = staged(queries, "query_id", "query_v")
    val scored = cs.join(broadcast(qs), col("cand_id") =!= col("query_id"))
      .select(col("query_id") +: col("cand_id") +: dims.map(d =>
        round(vec_dot(col(s"query_v_$d"), col(s"cand_v_$d"))
          / (col(s"query_v_norm_$d") * col(s"cand_v_norm_$d")), 6)
          .as(s"cos_$d")): _*)
      .localCheckpoint()
    sweepAudit(truth, "dim", dims.map(d => d.toLong ->
      rankTopK(scored.select(col("query_id"), col("cand_id"),
        col(s"cos_$d").as("cos_sim")), k)))
  }
}
