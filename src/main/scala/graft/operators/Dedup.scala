package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import graft.functions._

/** Document deduplication for LLM-scale corpora. Four families:
  * exact (hash groupBy), MinHash+LSH (shingle -> signature -> band ->
  * bucket self-join -> verified Jaccard), SimHash (bit-vote fingerprint +
  * banded Hamming candidates), and exact n-gram Jaccard within blocks.
  *
  * Scale posture: every pairwise step is blocked (LSH bands / hash bands /
  * explicit block keys) so the self-join never goes quadratic in the corpus
  * — candidates are generated by an equi-join on band keys, which Spark
  * shuffles by key and AQE handles skewed buckets.
  */
object Dedup {

  /** Exact duplicate clusters: canonical (min) id + cluster size per
    * distinct text hash. */
  def exactClusters(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"),
           count(lit(1)).as("cluster_size"))

  /** Salted two-phase variant for HOT keys (a near-dup cluster holding a
    * measurable fraction of a 100 TB corpus would skew a plain groupBy):
    * phase 1 aggregates (hash, salt) partials, phase 2 merges per hash.
    * min/count both decompose, so the result is identical to
    * [[exactClusters]]. */
  def exactClustersSalted(df: DataFrame, idCol: String, textCol: String,
                          salts: Int = 16): DataFrame =
    df.select(md5(col(textCol).cast("binary")).as("text_hash"),
        col(idCol).as("id"),
        pmod(col(idCol), lit(salts.toLong)).as("_salt"))
      .groupBy("text_hash", "_salt")
      .agg(min(col("id")).as("partial_min"), count(lit(1)).as("partial_n"))
      .groupBy("text_hash")
      .agg(min(col("partial_min")).as("canonical_id"),
           sum(col("partial_n")).as("cluster_size"))

  /** Distinct word n-gram shingle set per document (chain of single-pass
    * expressions — each evaluates its child exactly once per row).
    * `tokens` swaps the tokenizer: the default whitespace split is
    * right for spaced scripts, [[graft.functions.uax29_tokens]] makes
    * the SAME shingle machinery see CJK/Thai text (a space-free
    * passage whitespace-tokenizes to ONE token — zero shingles, so
    * near-dups there are INVISIBLE to the default path). */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int,
                  extraCols: Seq[String] = Nil,
                  tokens: Column => Column = ws_tokens): DataFrame =
    df.select(col(idCol).as("doc_id") +:
      word_shingles(tokens(col(textCol)), n, distinct = true).as("shingles") +:
      extraCols.map(col): _*)

  /** Exact Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Banded minhash signatures: (doc_id, band, band_sig) — the LSH bucket
    * keys. Band keys in ONE pass: array_chunks evaluates the signature
    * exactly once (a transform(sequence..., slice(sig)) lambda would
    * re-inline the minhash under CollapseProject, recomputing it per
    * band). Stateless, so the same call runs on a streaming frame. */
  def bandedSignatures(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, bands: Int = 8,
                       rowsPerBand: Int = 2,
                       extraCols: Seq[String] = Nil): DataFrame =
    shingleSets(df, idCol, textCol, shingleN, extraCols)
      .select(col("doc_id") +:
        posexplode(array_chunks(minhash_signature(col("shingles"), bands * rowsPerBand),
          rowsPerBand)) +: extraCols.map(col): _*)
      // a doc with NO shingles minhashes every permutation to
      // Long.MaxValue (real hashes are < 2^31), so filtering the
      // generator OUTPUT excludes it exactly like the former
      // `size(shingles) > 0` — WITHOUT a second `shingles` reference
      // that CollapseProject would turn into a second tokenizer run
      .where(col("col") =!= typedLit(Seq.fill(rowsPerBand)(Long.MaxValue)))
      .select(col("doc_id") +: col("pos").as("band") +: col("col").as("band_sig") +:
        extraCols.map(col): _*)

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
                      threshold: Double = 0.5,
                      tokens: Column => Column = ws_tokens): DataFrame = {
    // ONE tokenize+shingle+hash scan feeds the whole pipeline: the
    // banded signatures derive from the SAME sorted hash sets used for
    // Jaccard verification (minhash_sig_from_hashes is bit-identical to
    // minhash_signature over the strings the hashes came from), and the
    // scan is localCheckpointed because its four consumers — hsets
    // joined twice for (id_a, id_b) verification, banded self-joined for
    // candidates — would each re-derive it (plan-audited 4 tokenizer
    // runs per doc before this staging). The materialized (doc_id,
    // hashes) table is COMPARABLE to the text in size (8 bytes per
    // distinct shingle ≈ the tokens' UTF-8 bytes): the trade is one
    // corpus-sized spill-backed materialization against three repeated
    // tokenize+shingle+hash scans. On a cluster, swap the checkpoint
    // for an explicit parquet stage — Snapshot.updateSignatureIndex IS
    // that persisted form, maintained incrementally per re-crawl. Only
    // (doc_id, band, band_sig) flows through the self-join shuffle —
    // hash sets stay out of the quadratic step entirely. No empty-shingle filter here: shingle-less
    // docs minhash every permutation to Long.MaxValue, the banding
    // filter below drops them, and the inner join against candidate ids
    // keeps them out of verification.
    val hsets = shingleSets(df, idCol, textCol, shingleN, tokens = tokens)
      .select(col("doc_id"),
        array_sort(transform(col("shingles"), s => md5_long(s))).as("hashes"))
      .localCheckpoint()
    val banded = hsets
      .select(col("doc_id"),
        posexplode(array_chunks(
          minhash_sig_from_hashes(col("hashes"), bands * rowsPerBand),
          rowsPerBand)))
      .where(col("col") =!= typedLit(Seq.fill(rowsPerBand)(Long.MaxValue)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("band_sig"))
    // distinct candidate ids BEFORE verification: a pair colliding in m
    // bands would otherwise be Jaccard-verified m times
    val cand = banded.select(col("band"), col("band_sig"), col("doc_id").as("id_a"))
      .join(banded.select(col("band"), col("band_sig"), col("doc_id").as("id_b")),
        Seq("band", "band_sig"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(hsets.select(col("doc_id").as("id_a"), col("hashes").as("h_a")), Seq("id_a"))
      .join(hsets.select(col("doc_id").as("id_b"), col("hashes").as("h_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard_threshold(col("h_a"), col("h_b"), threshold).as("jaccard"))
      .where(col("jaccard").isNotNull)
  }

  /** MinHash-LSH fuzzy decontamination: flag TRAINING documents that are
    * near-duplicates of any held-out EVAL document — the fuzzy
    * complement of the exact n-gram Bloom decontamination (q69/q88),
    * which misses lightly-paraphrased eval leakage; near-dup matching is
    * the eval-hygiene pass used by the large corpus builds (GPT-3,
    * Brown et al. 2020 §C; Llama). Candidates come from the SAME banded
    * MinHash equi-join as document dedup ([[minhashLshPairs]] — never
    * all-pairs, eval and train sides bucket together), verified by exact
    * shingle-set Jaccard; every surviving pair is then oriented
    * train→eval through one broadcast-size side lookup. Output keeps row
    * parity with the training set: (doc_id, n_eval_matches, max_jaccard,
    * contaminated). */
  def fuzzyDecontaminate(docs: DataFrame, idCol: String, textCol: String,
                         isEval: Column, shingleN: Int = 3, bands: Int = 8,
                         rowsPerBand: Int = 2, threshold: Double = 0.5): DataFrame = {
    val side = docs.select(col(idCol).as("doc_id"), isEval.as("is_eval"))
    // the union below consumes the pairs twice; without materialization
    // each branch re-derives the candidate+verification joins (the
    // tokenize scan itself is already staged once inside minhashLshPairs)
    val pairs = minhashLshPairs(docs, idCol, textCol, shingleN, bands,
      rowsPerBand, threshold).localCheckpoint()
    // orient each undirected pair both ways, then keep train→eval edges
    val oriented = pairs
      .select(col("id_a").as("t_id"), col("id_b").as("e_id"), col("jaccard"))
      .union(pairs.select(col("id_b"), col("id_a"), col("jaccard")))
    val crossed = oriented
      .join(side.select(col("doc_id").as("t_id"), col("is_eval").as("t_ev")),
        Seq("t_id"))
      .join(side.select(col("doc_id").as("e_id"), col("is_eval").as("e_ev")),
        Seq("e_id"))
      .where(!col("t_ev") && col("e_ev"))
      .groupBy("t_id")
      .agg(count(lit(1)).as("n_eval_matches"), max(col("jaccard")).as("mj"))
    side.where(!col("is_eval")).select(col("doc_id"))
      .join(crossed, col("doc_id") === col("t_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_eval_matches"), lit(0L)).as("n_eval_matches"),
        round(coalesce(col("mj"), lit(0.0)), 6).as("max_jaccard"),
        (coalesce(col("n_eval_matches"), lit(0L)) > 0).as("contaminated"))
  }

  /** SimHash near-duplicate pairs: 32-bit fingerprints, banded into 4 bytes;
    * pairs sharing any byte-band are verified by Hamming distance. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("doc_id"),
      simhash32(ws_tokens(col(textCol))).as("simhash"))
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => pmod(call_function("shiftright", col("simhash"), b * 8), lit(256L)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_val")
    val l = banded.select(col("band"), col("band_val"),
      col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val r = banded.select(col("band"), col("band_val"),
      col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    l.join(r, Seq("band", "band_val"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming64(col("sh_a"), col("sh_b")).as("hamming"))
      .groupBy("id_a", "id_b").agg(first("hamming").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Perceptual-hash (dHash) near-duplicate image pairs: each gray
    * matrix collapses to a 64-bit difference hash emitted as 8 byte
    * bands ([[graft.functions.DHashBands]]); candidate pairs are images
    * sharing any band value (equi-join, never all-pairs — a pair at
    * Hamming distance <= 7 is GUARANTEED to share a clean band), then
    * verified by exact Hamming distance over the full fingerprint
    * (sum of per-band popcount-of-xor). The image analogue of
    * [[simhashPairs]], content-based where the exact byte hash is not:
    * recompressed/re-noised copies land within a few bits.
    *
    * Scale posture: the shuffle key is (band, band_val) — 8 x 256
    * buckets here; for corpora where byte-band buckets get hot, raise
    * `bandBytes` to 2 (4 bands x 65536 buckets, recall guaranteed to
    * Hamming <= 3, probabilistic above) — the standard LSH
    * bands/rows recall-vs-bucket-size dial. */
  def dhashPairs(df: DataFrame, idCol: String, matrixCol: String,
                 maxHamming: Int = 6, bandBytes: Int = 1,
                 freshIds: Option[DataFrame] = None): DataFrame = {
    // posexplode of the expression output: dhash_bands evaluates ONCE
    // per row in the generate node (a NULL fingerprint from a malformed
    // matrix explodes to zero rows and drops out of the join).
    // localCheckpoint materializes the tiny fingerprint table (8 longs
    // per image) so the candidate join's two sides and the Hamming
    // verify don't each re-decode/re-hash the image column — at scale
    // the matrix side is the expensive scan, the fingerprints are not.
    // fanOut: dhash_bands decodes/hashes a full gray matrix per row —
    // the work-amplifying stage; a one-file image table would hash the
    // whole corpus on one core (identity at scale, guide §2.5)
    val byByte = Spread.fanOut(df.select(col(idCol), col(matrixCol)))
      .select(col(idCol).as("img_id"),
        posexplode(dhash_bands(col(matrixCol))))
      .withColumnRenamed("pos", "byte_idx").withColumnRenamed("col", "byte_val")
      .localCheckpoint()
    dhashPairsFromBytes(byByte, maxHamming, bandBytes, freshIds)
  }

  /** The band-join + Hamming-verify tail of [[dhashPairs]] over an
    * ALREADY-MATERIALIZED per-image dhash byte table
    * (img_id, byte_idx 0..7, byte_val) — exposed separately because the
    * byte table is exactly the state an incremental maintainer persists
    * (the ppJoinFrom discipline: everything the pair math needs derives
    * from it; no image is ever re-decoded). */
  private[graft] def dhashPairsFromBytes(byByte: DataFrame, maxHamming: Int,
                                         bandBytes: Int,
                                         freshIds: Option[DataFrame]): DataFrame = {
    require(bandBytes == 1 || bandBytes == 2, s"bandBytes must be 1 or 2: $bandBytes")
    // ONE aggregation packs each image's 8 byte-bands into a single
    // 64-bit fingerprint (bit_or of disjoint shifted byte fields —
    // each band_val is 8 bits by the dhash_bands kernel contract).
    // Bands then derive MAP-SIDE by shifting the fingerprint (the old
    // shape paid a second (img_id, band) groupBy for bandBytes = 2),
    // and the Hamming verify is ONE bit_count(xor) over a
    // one-row-per-image join per side — popcount distributes over
    // disjoint byte fields, so it equals the old per-byte
    // sum-of-popcounts EXACTLY while shuffling 8x fewer rows through
    // the two verify joins and skipping their (id_a, id_b)
    // re-aggregation entirely. Checkpointed: four consumers (the
    // candidate join's two sides, the verify's two sides) each read
    // the materialized one-row-per-image table.
    val fp = byByte.groupBy(col("img_id"))
      .agg(expr("bit_or(shiftleft(byte_val, cast(byte_idx * 8 as int)))")
        .as("__fp"))
      .localCheckpoint()
    val nBands = 8 / bandBytes
    val bandVal =
      if (bandBytes == 1) expr("shiftright(__fp, __band * 8) & 255")
      else expr("(shiftright(__fp, __band * 16) & 255) * 256 + " +
        "(shiftright(__fp, __band * 16 + 8) & 255)")
    val banded = fp.select(col("img_id"),
        explode(sequence(lit(0), lit(nBands - 1))).as("__band"),
        col("__fp"))
      .select(col("img_id"), col("__band").as("band"),
        bandVal.as("band_val"))
    // with freshIds, candidates anchor on the FRESH side only (the
    // ppJoinFrom delta discipline): fresh fingerprints x full band
    // table, each unordered pair normalized once — O(|fresh| x bucket)
    // instead of a full self-join
    val cand = freshIds match {
      case None =>
        banded.select(col("band"), col("band_val"), col("img_id").as("id_a"))
          .join(banded.select(col("band"), col("band_val"), col("img_id").as("id_b")),
            Seq("band", "band_val"))
          .where(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
      case Some(fresh) =>
        val fb = banded.join(
          fresh.toDF("img_id").select(col("img_id")), Seq("img_id"))
        fb.select(col("band"), col("band_val"), col("img_id").as("__f"))
          .join(banded.select(col("band"), col("band_val"),
            col("img_id").as("__o")), Seq("band", "band_val"))
          .where(col("__f") =!= col("__o"))
          .select(least(col("__f"), col("__o")).as("id_a"),
            greatest(col("__f"), col("__o")).as("id_b"))
          .distinct()
    }
    val a = fp.select(col("img_id").as("id_a"), col("__fp").as("__fp_a"))
    val b = fp.select(col("img_id").as("id_b"), col("__fp").as("__fp_b"))
    cand.join(a, Seq("id_a")).join(b, Seq("id_b"))
      // cast: the old shape's sum(bit_count) was a LONG — keep the
      // output schema (and every oracle dtype gate) unchanged
      .select(col("id_a"), col("id_b"),
        hamming64(col("__fp_a"), col("__fp_b")).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** VIDEO-level near-duplicate clip detection — the composition the
    * reference's talking-head corpus (`dpl/processor/datatype.py:64`
    * `IMAGES` FolderType: a clip is a directory of frames) actually
    * needs: find clips that are re-encodes / temporal shifts of one
    * another by matching their shots' KEYFRAME fingerprints, never
    * their byte hashes and never frame-by-frame.
    *
    * Chain (each stage an already-proven operator):
    *   1. scene cuts over each clip's per-frame feature series
    *      ([[Multimodal.cutPositions]]) → shots with mid-shot keyframes
    *      ([[Multimodal.shotsFromCuts]]) — O(frames) per clip, zero
    *      shuffle, and the reason the whole pipeline never fingerprints
    *      more than ~one frame per shot;
    *   2. keyframe images pulled from the frames table by ONE equi-join
    *      on (clip, frame_idx) — at 100 TB the frame store is the big
    *      scan and this join is exactly the prune that keeps it to
    *      keyframes;
    *   3. perceptual-hash near-dup pairs over the keyframe images
    *      ([[dhashPairs]] on a composite (clip, keyframe) id — banded
    *      Hamming equi-join, never all-pairs);
    *   4. clip-level VOTE: a clip pair is near-dup when its matched
    *      keyframe pairs contain an ORDER-CONSISTENT chain (strictly
    *      increasing in both clips' frame indexes — one LIS kernel on
    *      the grouped pair list) of length >= `minVotes` — one matching
    *      frame (an intro card, a shared logo) must not merge two
    *      clips, and neither may k matching frames in SCRAMBLED order
    *      (shared intro + outro + slate packaging);
    *   5. [[connectedComponents]] over the voted clip graph → cluster
    *      labels, min-id canonical.
    *
    * The cuts list and frame count ride ONE Generate stage (the q90 /
    * q112 idiom) so cutPositions' O(frames) scan evaluates once per
    * clip, not once per downstream reference.
    *
    * `clips`: (idCol, seriesCol) one row per clip, seriesCol the
    * per-frame scalar feature channel. `frames`: (idCol, frameIdxCol,
    * matrixCol) gray matrices, any superset of the keyframes.
    * Output: (idCol, cluster_id, is_canonical, n_dup_neighbors,
    * max_votes) — one row per clip. */
  def videoNearDupClips(clips: DataFrame, frames: DataFrame, idCol: String,
                        seriesCol: String, frameIdxCol: String,
                        matrixCol: String, cutThreshold: Double,
                        maxHamming: Int = 6, minVotes: Int = 2,
                        bandBytes: Int = 2): DataFrame = {
    val edges = videoNearDupEdges(clips, frames, idCol, seriesCol,
      frameIdxCol, matrixCol, cutThreshold, maxHamming, minVotes,
      bandBytes).localCheckpoint() // two consumers: neighbor stats, CC
    val nb = edges.select(col("clip_a").as("__cid"), col("n_votes"))
      .union(edges.select(col("clip_b").as("__cid"), col("n_votes")))
      .groupBy("__cid")
      .agg(count(lit(1)).as("n_dup_neighbors"), max("n_votes").as("max_votes"))
    connectedComponents(edges.select(col("clip_a"), col("clip_b")),
        clips.select(col(idCol)))
      .select(col("id").as(idCol), col("cluster_id"))
      .join(nb.withColumnRenamed("__cid", idCol), Seq(idCol), "left")
      .select(col(idCol), col("cluster_id"),
        (col(idCol) === col("cluster_id")).as("is_canonical"),
        coalesce(col("n_dup_neighbors"), lit(0L)).as("n_dup_neighbors"),
        col("max_votes"))
  }

  /** The voted clip-pair EDGE derivation behind [[videoNearDupClips]]
    * — exposed separately because it is the unit the incremental form
    * maintains (cluster labels are global, edges are local: an edge's
    * votes depend ONLY on its two clips' keyframes, which is what makes
    * O(delta) maintenance sound). With `freshClips` (one id column),
    * candidates anchor on fresh clips' keyframes against the full
    * keyframe band table — the delta form. Output:
    * (clip_a, clip_b, n_votes), clip_a < clip_b, n_votes >= minVotes;
    * n_votes is the longest ORDER-CONSISTENT matched-keyframe chain
    * (strictly increasing in both clips), not the raw match count. */
  def videoNearDupEdges(clips: DataFrame, frames: DataFrame, idCol: String,
                        seriesCol: String, frameIdxCol: String,
                        matrixCol: String, cutThreshold: Double,
                        maxHamming: Int = 6, minVotes: Int = 2,
                        bandBytes: Int = 2,
                        freshClips: Option[DataFrame] = None): DataFrame = {
    val kfBytes = clipKeyframeBytes(clips, frames, idCol, seriesCol,
      frameIdxCol, matrixCol, cutThreshold).localCheckpoint()
    videoEdgesFromBytes(kfBytes, maxHamming, minVotes, bandBytes, freshClips)
  }

  /** Stages 1–3a of the video chain as a PERSISTABLE table: scene cuts →
    * mid-shot keyframes → keyframe images pruned from the frame store by
    * ONE (clip, frame) equi-join → per-keyframe dHash bytes. Output:
    * (clip, kf, byte_idx 0..7, byte_val) — ~8 longs per shot, the ONLY
    * state the edge math needs (frames are never re-read), which is what
    * the streaming maintainer checkpoints instead of the frame corpus. */
  def clipKeyframeBytes(clips: DataFrame, frames: DataFrame, idCol: String,
                        seriesCol: String, frameIdxCol: String,
                        matrixCol: String, cutThreshold: Double): DataFrame = {
    val staged = clips.select(col(idCol).as("__cid"),
        explode(array(struct(
          Multimodal.cutPositions(col(seriesCol), lit(cutThreshold)).as("cuts"),
          size(col(seriesCol)).as("nf")))).as("g"))
    val kfs = staged.select(col("__cid"),
        explode(Multimodal.shotsFromCuts(col("g.cuts"), col("g.nf")))
          .as("shot"))
      .select(col("__cid"), col("shot.keyframe").as("__kf"))
    kfs.join(
        frames.select(col(idCol).as("__cid"),
          col(frameIdxCol).cast("long").as("__kf"), col(matrixCol).as("__mat")),
        Seq("__cid", "__kf"))
      .select(col("__cid").as("clip"), col("__kf").as("kf"),
        posexplode(dhash_bands(col("__mat"))))
      .withColumnRenamed("pos", "byte_idx").withColumnRenamed("col", "byte_val")
  }

  /** The banded-Hamming + order-consistent-vote tail of
    * [[videoNearDupEdges]] over an already-materialized
    * [[clipKeyframeBytes]] table — the unit the streaming maintainer
    * re-runs per micro-batch (fresh clips' keyframes × the full band
    * table, the dhashPairsFromBytes delta discipline). */
  private[graft] def videoEdgesFromBytes(kfBytes: DataFrame, maxHamming: Int,
                                         minVotes: Int, bandBytes: Int,
                                         freshClips: Option[DataFrame]): DataFrame = {
    require(minVotes >= 1, s"minVotes must be >= 1, got $minVotes")
    val byByte = kfBytes.select(
      struct(col("clip"), col("kf")).as("img_id"),
      col("byte_idx"), col("byte_val"))
    val freshKids = freshClips.map(f =>
      byByte.join(f.toDF("clip").select(col("clip")),
          col("img_id.clip") === col("clip"))
        .select(col("img_id")).distinct())
    val kfPairs = dhashPairsFromBytes(byByte, maxHamming, bandBytes, freshKids)
    // orient every matched keyframe pair by CLIP order (dhashPairs
    // orders by the composite (clip, kf) id, which already implies
    // clip_a <= clip_b only when clips differ in the first field — a
    // same-clip pair is self-similarity, not dup evidence, and drops)
    val aFirst = col("id_a.clip") < col("id_b.clip")
    // ORDER-CONSISTENT vote: n_votes is the longest chain of matched
    // keyframe pairs strictly increasing in BOTH clips' frame indexes
    // (lis_pairs over (kf_a·2³²+kf_b) packed pairs, sorted), not the
    // raw match count — two clips sharing k UNORDERED packaging frames
    // (intro card + outro + slate, standard broadcast wrapping) must
    // not merge; a real near-dup's matches align temporally in both.
    // Matched-pair lists are bounded by keyframes per clip (~one per
    // shot), so the per-pair kernel is tiny by construction.
    kfPairs
      .where(col("id_a.clip") =!= col("id_b.clip"))
      .select(when(aFirst, col("id_a.clip")).otherwise(col("id_b.clip")).as("clip_a"),
        when(aFirst, col("id_b.clip")).otherwise(col("id_a.clip")).as("clip_b"),
        (shiftleft(when(aFirst, col("id_a.kf")).otherwise(col("id_b.kf")), 32)
          + when(aFirst, col("id_b.kf")).otherwise(col("id_a.kf"))).as("__pk"))
      .groupBy("clip_a", "clip_b")
      .agg(graft.functions.lis_pairs(sort_array(collect_list(col("__pk"))))
        .as("n_votes"))
      .where(col("n_votes") >= minVotes)
  }

  /** Two-long content fingerprint per clip — xxhash64 of the series
    * plus an order-independent XOR-fold of per-frame (idx, matrix)
    * hashes (bit_xor: commutative, associative, and can never overflow
    * where an ANSI-mode long sum of full-range hashes throws) — the
    * classification key the incremental video-dedup form uses to decide
    * which clips' edges must be re-derived (the Snapshot.delta
    * fingerprint-not-payload discipline at clip granularity). */
  def clipFingerprints(clips: DataFrame, frames: DataFrame, idCol: String,
                       seriesCol: String, frameIdxCol: String,
                       matrixCol: String): DataFrame = {
    val ffp = frames
      .select(col(idCol), xxhash64(col(frameIdxCol), col(matrixCol)).as("__fh"))
      .groupBy(col(idCol))
      .agg(expr("bit_xor(__fh)").as("__ffp"))
    clips.select(col(idCol), xxhash64(col(seriesCol)).as("__sfp"))
      .join(ffp, Seq(idCol), "left")
      .select(col(idCol), col("__sfp"),
        coalesce(col("__ffp"), lit(0L)).as("__ffp"))
  }

  /** Incremental [[videoNearDupEdges]] (the q157 ppJoinDelta invariant
    * applied to the multimodal family): given the PREVIOUS corpus, its
    * edge set, and the CURRENT corpus,
    *
    *   edges(cur) == survivors(prevEdges) ∪ delta
    *
    * where survivors are previous edges whose BOTH clips are unchanged
    * (edge votes are local to the pair — no global state like PPJoin's
    * df order — so an untouched pair's votes cannot move), and delta
    * re-derives only edges touching an added/changed clip (fresh
    * keyframes × full band table). Changed/removed clips are detected
    * by [[clipFingerprints]]; cost is O(|delta| × bucket), never a
    * corpus re-fingerprint of unchanged pairs. */
  def videoNearDupEdgesDelta(prevClips: DataFrame, prevFrames: DataFrame,
                             prevEdges: DataFrame, curClips: DataFrame,
                             curFrames: DataFrame, idCol: String,
                             seriesCol: String, frameIdxCol: String,
                             matrixCol: String, cutThreshold: Double,
                             maxHamming: Int = 6, minVotes: Int = 2,
                             bandBytes: Int = 2): DataFrame = {
    val pf = clipFingerprints(prevClips, prevFrames, idCol, seriesCol,
      frameIdxCol, matrixCol)
    val cf = clipFingerprints(curClips, curFrames, idCol, seriesCol,
      frameIdxCol, matrixCol)
    val joined = pf.select(col(idCol), col("__sfp").as("__psfp"),
        col("__ffp").as("__pffp"), lit(true).as("__inp"))
      .join(cf.select(col(idCol), col("__sfp"), col("__ffp"),
        lit(true).as("__inc")), Seq(idCol), "full_outer")
    // gone: in prev but removed or content-changed — their edges die
    val gone = joined.where(coalesce(col("__inp"), lit(false)) &&
        (!coalesce(col("__inc"), lit(false)) ||
          col("__psfp") =!= col("__sfp") || col("__pffp") =!= col("__ffp")))
      .select(col(idCol)).localCheckpoint()
    // fresh: in cur and new or content-changed — their edges re-derive
    val fresh = joined.where(coalesce(col("__inc"), lit(false)) &&
        (!coalesce(col("__inp"), lit(false)) ||
          col("__psfp") =!= col("__sfp") || col("__pffp") =!= col("__ffp")))
      .select(col(idCol)).localCheckpoint()
    val survivors = prevEdges
      .join(gone.withColumnRenamed(idCol, "clip_a"), Seq("clip_a"),
        "left_anti")
      .join(gone.withColumnRenamed(idCol, "clip_b"), Seq("clip_b"),
        "left_anti")
      .select(col("clip_a"), col("clip_b"), col("n_votes"))
    survivors.unionByName(
      videoNearDupEdges(curClips, curFrames, idCol, seriesCol, frameIdxCol,
        matrixCol, cutThreshold, maxHamming, minVotes, bandBytes,
        Some(fresh)))
  }

  /** Exact n-gram Jaccard pairs within a blocking key (e.g. language):
    * the quadratic step stays bounded per block, and Jaccard runs over
    * shingle HASH sets (longs), not strings. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, shingleN: Int = 3,
                        threshold: Double = 0.5): DataFrame = {
    // with a positive threshold, jaccard_threshold already nulls every
    // pair involving an empty shingle set, so an explicit
    // `size(shingles) > 0` filter would only add a second `shingles`
    // reference for CollapseProject to re-run the tokenizer through
    require(threshold > 0.0, s"ngramJaccardPairs needs threshold > 0, got $threshold")
    val sh = df.select(col(blockCol).as("block"), col(idCol).as("doc_id"),
      word_shingles(ws_tokens(col(textCol)), shingleN, distinct = true).as("shingles"))
      .select(col("block"), col("doc_id"),
        array_sort(transform(col("shingles"), s => md5_long(s))).as("hashes"))
    // spread the probe side across partitions: with a handful of block
    // values the scan is one partition, and a broadcast pair join would
    // otherwise run the whole quadratic step on one core
    val l = sh.repartition(col("doc_id"))
      .select(col("block"), col("doc_id").as("id_a"), col("hashes").as("h_a"))
    val r = sh.select(col("block"), col("doc_id").as("id_b"), col("hashes").as("h_b"))
    l.join(r, Seq("block"))
      .where(col("id_a") < col("id_b"))
      // threshold-pruned kernel: exact bail-out keeps non-dup pairs O(gap);
      // the null-below-threshold contract makes filter re-evaluation cheap
      .select(col("block"), col("id_a"), col("id_b"),
        jaccard_threshold(col("h_a"), col("h_b"), threshold).as("jaccard"))
      .where(col("jaccard").isNotNull)
  }

  /** EXACT set-similarity join with prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    * WWW'08): every pair of docs with token-set Jaccard >= threshold,
    * NO false negatives and no blocking column needed — the exact
    * complement to MinHash-LSH (probabilistic recall) and the
    * block-quadratic [[ngramJaccardPairs]] (needs a block key).
    *
    * Candidate generation: each doc exposes only its PREFIX — the
    * (|s| − ⌈t·|s|⌉ + 1) RAREST tokens under the global (df, token)
    * order — and two docs become a candidate pair only if their
    * prefixes share a token. Guarantee: a pair with J >= t overlaps in
    * >= ⌈t·|s|⌉ tokens on each side, more than either suffix holds, so
    * the globally-smallest common token sits in BOTH prefixes (the
    * classic prefix-filter argument; a random-corpus property test
    * pins recall == brute force). Verification is the O(m+n)
    * early-exit merge kernel over sorted hashes.
    *
    * Scale: ONE tokenize scan (checkpointed) feeds the df table, the
    * prefixes and the verification sets; candidate volume is bounded
    * by prefix-token posting products — rarest-first ordering keeps
    * the exploding tokens the low-df ones — never |docs|²; the df
    * table joins by token (shuffle bounded by distinct (doc, token)
    * pairs). */
  def ppJoin(df: DataFrame, idCol: String, textCol: String,
             threshold: Double, shingleN: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"ppJoin needs threshold in (0, 1], got $threshold")
    // n-gram shingle sets (n = 1 degrades to plain token sets): on
    // corpora with a narrow vocabulary, token-set granularity makes
    // near-all pairs similar — measured 92k pairs at t=0.5 on the
    // synthetic corpus vs 25 at shingle granularity — so shingles are
    // the default, exactly as in the MinHash family this join is the
    // exact counterpart of
    ppJoinFrom(ppSets(df, idCol, textCol, shingleN), threshold, None)
  }

  /** Incremental [[ppJoin]] (the snapshot-delta discipline applied to
    * set-similarity maintenance): only pairs touching an ADDED or
    * CHANGED doc of the new snapshot are recomputed — candidates pair a
    * FRESH prefix against the full prefix table, so the work is
    * O(delta × matched postings), not a full re-join. The maintained
    * invariant (the q157 gate proves it over the re-crawl fixture):
    *
    *   ppJoin(cur) == survivors(prevPairs) ∪ ppJoinDelta(prev, cur)
    *
    * where survivors are previous pairs whose BOTH endpoints are
    * unchanged (their shingle sets, hence their Jaccard, are
    * untouched; pairs with a removed or changed endpoint die or are
    * re-derived). Fresh-fresh pairs surface once (pair normalized). */
  def ppJoinDelta(prev: DataFrame, cur: DataFrame, idCol: String,
                  textCol: String, threshold: Double,
                  shingleN: Int = 3): DataFrame = {
    val fresh = Snapshot.delta(prev, cur, idCol, textCol)
      .where(col("status").isin("added", "changed"))
      .select(col("doc_id"))
    ppJoinFrom(ppSets(cur, idCol, textCol, shingleN), threshold,
      Some(fresh))
  }

  /** Cross-corpus [[ppJoin]]: every pair with Jaccard >= threshold
    * touching a doc of `fresh` — the "dedup the new crawl batch against
    * the existing corpus" front door (and the batch form of what
    * [[graft.streaming.Streaming.SimilarityMaintainer]] runs per
    * micro-batch). Candidates pair fresh prefixes against the FULL
    * prefix table, so cost is O(|fresh| × matched postings), never a
    * corpus self-join; fresh-fresh pairs surface once. `fresh` and
    * `corpus` must carry disjoint ids (a re-sent id belongs in the
    * [[ppJoinDelta]] re-crawl form instead). */
  def ppJoinAgainst(fresh: DataFrame, corpus: DataFrame, idCol: String,
                    textCol: String, threshold: Double,
                    shingleN: Int = 3): DataFrame = {
    val all = fresh.select(col(idCol), col(textCol))
      .unionByName(corpus.select(col(idCol), col(textCol)))
    ppJoinFrom(ppSets(all, idCol, textCol, shingleN), threshold,
      Some(fresh.select(col(idCol).as("doc_id"))))
  }

  // reuses the shared shingleSets scan (renamed column + empty filter +
  // checkpoint: one scan feeds df table, prefixes and verify sets). A
  // 4-arg private overload of `shingleSets` here once hijacked the
  // minhash/jaccard call sites via exact-match resolution — keep the
  // distinct name.
  private[graft] def ppSets(df: DataFrame, idCol: String, textCol: String,
                            shingleN: Int): DataFrame =
    shingleSets(df, idCol, textCol, shingleN)
      .select(col("doc_id"), col("shingles").as("ts"))
      .where(size(col("ts")) > 0)
      .localCheckpoint()

  /** Shared PPJoin core over pre-built shingle sets; with `freshIds`
    * set, candidate pairs must touch a fresh doc (the delta form).
    * Package-visible so [[graft.streaming.Streaming.SimilarityMaintainer]]
    * can run the delta form over its MAINTAINED sets table (text is
    * gone by then — the fingerprint-not-payload discipline). */
  private[graft] def ppJoinFrom(toks: DataFrame, threshold: Double,
                                freshIds: Option[DataFrame]): DataFrame = {
    val dfreq = toks.select(explode(col("ts")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val ordered = toks.select(col("doc_id"), explode(col("ts")).as("token"))
      .join(dfreq, "token")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("token"))))
        .as("arr"))
    val prefixLen = (size(col("arr"))
      - ceil(size(col("arr")) * lit(threshold)) + 1).cast("int")
    val pfx = ordered.select(col("doc_id"),
        explode(slice(col("arr"), lit(1), prefixLen)).as("pt"))
      .select(col("doc_id"), col("pt.token").as("token"))
    val cand = freshIds match {
      case None =>
        pfx.select(col("token"), col("doc_id").as("id_a"))
          .join(pfx.select(col("token"), col("doc_id").as("id_b")), "token")
          .where(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b")).distinct()
      case Some(fresh) =>
        // fresh side × full table; normalize so each pair surfaces once
        val fp = pfx.join(fresh, "doc_id")
        fp.select(col("token"), col("doc_id").as("__f"))
          .join(pfx.select(col("token"), col("doc_id").as("__o")), "token")
          .where(col("__f") =!= col("__o"))
          .select(least(col("__f"), col("__o")).as("id_a"),
            greatest(col("__f"), col("__o")).as("id_b"))
          .distinct()
    }
    val hs = toks.select(col("doc_id"),
      array_sort(transform(col("ts"), t => md5_long(t))).as("hashes"))
    cand
      .join(hs.select(col("doc_id").as("id_a"), col("hashes").as("h_a")),
        "id_a")
      .join(hs.select(col("doc_id").as("id_b"), col("hashes").as("h_b")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard_threshold(col("h_a"), col("h_b"), threshold).as("jaccard"))
      .where(col("jaccard").isNotNull)
  }

  /** Directed CONTAINMENT join (the asymmetric sibling of [[ppJoin]]):
    * every ordered pair (a, b) with |Sₐ∩S_b| / |Sₐ| >= threshold over
    * word-shingle sets — "doc a is (mostly) contained in doc b". The
    * curation signal symmetric Jaccard structurally misses: a short doc
    * wrapped in boilerplate (quote pages, syndicated articles inside
    * templates, chunk-of-a-longer-doc) has tiny Jaccard against its
    * superset but containment ≈ 1, and the right dedup action is to
    * drop the contained copy.
    *
    * Prefix filter, asymmetric form: only the CONTAINED side needs a
    * prefix — if a and b share none of a's (|Sₐ| − ⌈t·|Sₐ|⌉ + 1) rarest
    * shingles (global (df, token) order, the [[ppJoin]] order), the
    * intersection is at most ⌈t·|Sₐ|⌉ − 1 < t·|Sₐ|, so candidates pair
    * a-prefix tokens against the FULL posting list — bounded by
    * prefix-token dfs (rarest-first keeps them low-df), never |docs|².
    * Verification runs the O(m+n) early-exit merge kernel
    * ([[graft.functions.containment_threshold]]). ONE checkpointed
    * shingle scan feeds df table, prefixes, postings and verify sets.
    * Output: (id_a, id_b, n_a, n_b, containment), a→b directed; mutual
    * containment (near-equal docs) emits both directions. */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, shingleN: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containmentJoin needs threshold in (0, 1], got $threshold")
    val toks = ppSets(df, idCol, textCol, shingleN)
    val dfreq = toks.select(explode(col("ts")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val ordered = toks.select(col("doc_id"), explode(col("ts")).as("token"))
      .join(dfreq, "token")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("token"))))
        .as("arr"))
    val prefixLen = (size(col("arr"))
      - ceil(size(col("arr")) * lit(threshold)) + 1).cast("int")
    val pfx = ordered.select(col("doc_id").as("id_a"),
        explode(slice(col("arr"), lit(1), prefixLen)).as("pt"))
      .select(col("id_a"), col("pt.token").as("token"))
    val postings = toks.select(col("doc_id").as("id_b"),
      explode(col("ts")).as("token"))
    val cand = pfx.join(postings, "token")
      .where(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val hs = toks.select(col("doc_id"), size(col("ts")).as("n"),
      array_sort(transform(col("ts"), t => md5_long(t))).as("hashes"))
    cand
      .join(hs.select(col("doc_id").as("id_a"), col("n").as("n_a"),
        col("hashes").as("h_a")), "id_a")
      .join(hs.select(col("doc_id").as("id_b"), col("n").as("n_b"),
        col("hashes").as("h_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        containment_threshold(col("h_a"), col("h_b"), threshold)
          .as("containment"))
      .where(col("containment").isNotNull)
  }

  /** Embedding-cosine near-duplicate pairs within a blocking key.
    * Norms staged per row before the pair join (see Similarity). */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        blockCol: String, threshold: Double): DataFrame = {
    val e = df.select(col(blockCol).as("block"), col(idCol).as("vid"), col(vecCol).as("v"))
      .withColumn("nrm", vec_norm(col("v")))
    // see ngramJaccardPairs: spread the probe side of the blocked pair join
    val l = e.repartition(col("vid"))
      .select(col("block"), col("vid").as("id_a"), col("v").as("v_a"),
      col("nrm").as("n_a"))
    val r = e.select(col("block"), col("vid").as("id_b"), col("v").as("v_b"),
      col("nrm").as("n_b"))
    l.join(r, Seq("block"))
      .where(col("id_a") < col("id_b"))
      .select(col("block"), col("id_a"), col("id_b"),
        (vec_dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b"))).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** Semantic (embedding-cluster) deduplication, the SemDeDup shape:
    * cluster the corpus with a trained coarse quantizer (`ivf_assign`
    * against a k-means codebook), then drop, within each cluster, the
    * higher-id member of every pair whose cosine similarity clears
    * `threshold`. Output: (id, cell, keep) for every input row.
    *
    * Scale posture: the quadratic kernel only ever runs WITHIN a cell —
    * the candidate join is an equi-join on cell id (AQE handles skewed
    * cells), norms are staged per row before the pair join, and the
    * codebook is a plan-time literal. Cells bound the pair blow-up the
    * same way LSH bands do for MinHash. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Double]], threshold: Double): DataFrame = {
    val withCell = df.withColumn("__cell", ivf_assign(col(vecCol), centroids))
    val dropped = embeddingNearDups(withCell, idCol, vecCol, "__cell", threshold)
      .select(col("id_b").as("id")).distinct()
      .withColumn("__dup", lit(true))
    withCell.select(col(idCol).as("id"), col("__cell").cast("long").as("cell"))
      .join(dropped, Seq("id"), "left")
      .select(col("id"), col("cell"), col("__dup").isNull.as("keep"))
  }

  /** Connected components by alternating large-star/small-star edge
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"): each round rewrites every edge toward its neighborhood
    * minimum, halving component depth — O(log n) rounds on ANY graph
    * shape, vs label propagation's O(diameter). Each star is one
    * groupBy + join on the (shrinking) edge set; at the fixed point every
    * component is a star centered on its minimum node, which is the
    * cluster label.
    *
    * Convergence is detected structurally, not by comparing edge sets:
    * the fixed point is exactly "the canonical edge set is a disjoint
    * union of stars" — every larger endpoint has out-degree 1 and no
    * node is both a star center and a star root. That is ONE aggregation
    * job per round over the checkpointed edges (node tagged with its
    * center/root occurrence counts), deterministic, and needs no extra
    * confirmation round — a clique converges in a single round and is
    * recognized immediately, where an except-based check pays a full
    * extra contraction round plus two anti-joins to notice. Both star
    * operations preserve components and only move edges toward smaller
    * ids, and canonical edges always point larger→smaller, so a disjoint
    * star's root IS its component minimum. */
  def connectedComponentsStar(edges: DataFrame, nodes: DataFrame,
                              maxIter: Int = 30): DataFrame =
    starContraction(canonEdges(edges.toDF("u", "v")).localCheckpoint(),
      nodes, maxIter)

  /** Undirected edge set in canonical form: self-loops dropped, each pair
    * pointing larger→smaller, deduplicated. */
  private def canonEdges(df: DataFrame): DataFrame =
    df.where(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()

  /** The distributed star-contraction loop over an already-canonicalized,
    * already-materialized edge set. */
  private def starContraction(edges0: DataFrame, nodes: DataFrame,
                              maxIter: Int): DataFrame = {
    def canon(df: DataFrame): DataFrame = canonEdges(df)
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val sym = e.select(col("u").as("ctr"), col("v").as("nbr"))
        .union(e.select(col("v").as("ctr"), col("u").as("nbr")))
      val m = sym.groupBy("ctr").agg(min(col("nbr")).as("mn"))
        .select(col("ctr"), least(col("mn"), col("ctr")).as("m"))
      val joined = sym.join(m, "ctr")
      val kept =
        if (large) // strictly larger neighbors link to the minimum
          joined.where(col("nbr") > col("ctr"))
            .select(col("nbr").as("u"), col("m").as("v"))
        else {
          // smaller-or-equal neighbors AND the center itself link to the
          // minimum — dropping the (ctr, m) edge disconnects the graph
          val smaller = joined.where(col("nbr") <= col("ctr"))
          smaller.select(col("nbr").as("u"), col("m").as("v"))
            .union(smaller.select(col("ctr").as("u"), col("m").as("v")))
        }
      canon(kept)
    }
    // fixpoint test: disjoint stars ⇔ no center with 2 distinct roots and
    // no node appearing as both center and root (a path still to contract)
    def isStarForest(e: DataFrame): Boolean =
      e.select(col("u").as("n"), lit(1L).as("c"), lit(0L).as("r"))
        .union(e.select(col("v").as("n"), lit(0L).as("c"), lit(1L).as("r")))
        .groupBy("n").agg(sum("c").as("c"), sum("r").as("r"))
        .where(col("c") > 1 || (col("c") > 0 && col("r") > 0))
        .isEmpty
    var e = edges0
    var done = e.isEmpty
    var i = 0
    while (!done && i < maxIter) {
      e = star(star(e, large = true), large = false).localCheckpoint()
      done = isStarForest(e)
      i += 1
    }
    // groupBy-min instead of a bare join: at the fixpoint each u carries
    // exactly one root, but a maxIter cutoff must still emit one row per
    // node (best-effort label) rather than duplicates
    nodes.toDF("id")
      .join(e.groupBy(col("u").as("id")).agg(min("v").as("cluster_id")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** Entity-resolution fuzzy join: candidate pairs from an equi-join on
    * a blocking key (lowercased `blockPrefix`-char name prefix), then
    * verified by character-level Levenshtein distance <= `maxEdit` —
    * the record-linkage shape (dirty catalog vs reference) that the
    * token-set families (MinHash/SimHash) cannot express: a one-char
    * typo flips a whole token, but moves edit distance by 1. Blocking
    * makes it scale-safe — candidates are bounded by block sizes and
    * the θ-predicate (an O(len²) dynamic program) runs only inside
    * blocks, never all-pairs. A single prefix pass bounds RECALL too
    * (an edit inside the prefix escapes the block); production linkage
    * runs multiple passes (prefix, suffix, phonetic) and unions —
    * each pass is this operator with a different key expression.
    * Output: probe/ref ids and names with `edit_dist`. */
  def editBlockedJoin(probe: DataFrame, probeId: String, probeName: String,
                      ref: DataFrame, refId: String, refName: String,
                      blockPrefix: Int, maxEdit: Int): DataFrame = {
    require(blockPrefix >= 1, s"blockPrefix must be >= 1, got $blockPrefix")
    editBlockedJoin(probe, probeId, probeName, ref, refId, refName,
      n => lower(substring(n, 1, blockPrefix)), maxEdit)
  }

  /** [[editBlockedJoin]] with a caller-supplied blocking-key expression
    * over the name column — the general form: the key CHOOSES the
    * recall/cost point (prefix, suffix, length-banded prefix, phonetic
    * code, …) and must be edit-stable for the perturbations the pass
    * should catch. A key too coarse for the name distribution is the
    * scale failure mode (measured: a 4-char prefix over a catalog with
    * 64 distinct base names put every row in a handful of blocks —
    * 60M+ in-block Levenshtein pairs, 79 s; a key carrying the
    * discriminating suffix ran the same linkage in under a second). */
  def editBlockedJoin(probe: DataFrame, probeId: String, probeName: String,
                      ref: DataFrame, refId: String, refName: String,
                      blockKey: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                      maxEdit: Int): DataFrame = {
    require(maxEdit >= 0, s"maxEdit must be >= 0, got $maxEdit")
    val p = probe.select(col(probeId).as("probe_id"),
      col(probeName).as("probe_name"),
      blockKey(col(probeName)).as("__blk"))
    val r = ref.select(col(refId).as("ref_id"),
      col(refName).as("ref_name"),
      blockKey(col(refName)).as("__blk"))
    // the distance rides a Generate: as a plain projection column the
    // filter would re-inline it and run the O(len²) DP twice per pair
    p.join(r, Seq("__blk"))
      .select(col("probe_id"), col("ref_id"), col("probe_name"),
        col("ref_name"),
        explode(array(levenshtein(col("probe_name"), col("ref_name"))
          .cast("long"))).as("edit_dist"))
      .where(col("edit_dist") <= maxEdit)
  }

  /** Duplicate-cluster assignment: connected components over the near-dup
    * pair graph, labelling every node with the minimum id reachable from
    * it (the cluster's canonical document).
    *
    * Adaptive, on the MATERIALIZED edge count (the canonical edge set is
    * localCheckpointed first regardless — every strategy needs that, or
    * each round re-executes the upstream pair derivation; measured
    * 58 s → ~3 s on the q40 gate):
    *
    *  - edge set ≤ `driverEdgeLimit` (default 1M pairs ≈ 16 MB of longs):
    *    union-find on the driver over the collected pairs, labels shipped
    *    back as a BROADCAST map keyed only by non-singleton nodes (≤ 2|E|
    *    entries — bounded by the limit, independent of corpus size) and
    *    attached to `nodes` with a broadcast join. Near-dup graphs after
    *    banded LSH are pair-sparse: even a 60k-doc slice yields a few
    *    hundred edges, where ANY distributed loop pays per-round shuffle
    *    floor for nothing. Same bounded-driver-stats pattern as k-means
    *    centroids and Bloom rosters — the bound is checked, not assumed.
    *  - larger: [[connectedComponentsStar]]'s large-star/small-star
    *    contraction — O(log n) shuffle rounds on any graph shape (vs
    *    min-label propagation's O(diameter)), the right plan for a 100 TB
    *    corpus with billions of pairs and possibly long dup chains.
    *
    * `edges`: two id columns (undirected pairs); `nodes`: one id column —
    * singletons come out labelled with themselves.
    * Returns (id, cluster_id). */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
                          maxIter: Int = 30,
                          driverEdgeLimit: Long = 1L << 20): DataFrame = {
    val e = canonEdges(edges.toDF("u", "v")).localCheckpoint()
    if (e.count() <= driverEdgeLimit) {
      val pairs = e.collect()
      // union-find with path compression; roots resolved to the component
      // MINIMUM at the end so labels match the distributed variants
      val parent = new java.util.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x
        while (c != r) { val nxt = parent.get(c); parent.put(c, r); c = nxt }
        r
      }
      def lt(a: Any, b: Any): Boolean =
        a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
      pairs.foreach { row =>
        val (ra, rb) = (find(row.get(0)), find(row.get(1)))
        if (ra != rb) { if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
      }
      val members = pairs.iterator.flatMap(r => Iterator(r.get(0), r.get(1)))
        .toArray.distinct
      val labels = members.map(m => Row(m, find(m)))
      val idType = e.schema.fields(1).dataType
      val spark = nodes.sparkSession
      val labelDf = spark.createDataFrame(
        spark.sparkContext.parallelize(labels.toIndexedSeq, 1),
        StructType(Seq(StructField("id", idType), StructField("cluster_id", idType))))
      nodes.toDF("id")
        .join(broadcast(labelDf), Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    } else starContraction(e, nodes, maxIter)
  }

  /** Reference variant: iterative min-label propagation — each round
    * pushes labels one hop (symmetric edges joined to current labels,
    * union, groupBy-min), so rounds needed = graph diameter. Kept as the
    * independently-derived oracle for the property test pinning
    * [[connectedComponentsStar]]'s star contraction, and as the simpler
    * plan when components are KNOWN shallow (cliques from banded LSH):
    * one join per round vs the star round's two groupBy+join passes. */
  def connectedComponentsMinLabel(edges: DataFrame, nodes: DataFrame,
                                  maxIter: Int = 50): DataFrame = {
    val e = edges.toDF("a", "b")
    // materialize the symmetric edge set ONCE: without this every round
    // re-executes the whole upstream pair derivation (e.g. the full
    // minhash-LSH pipeline) — measured 58 s -> ~3 s on the q40 gate
    val sym = e.union(e.select(col("b"), col("a"))).distinct()
      .localCheckpoint()
    var labels = nodes.toDF("id")
      .select(col("id"), col("id").as("cluster_id"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val pushed = sym.join(labels, sym("a") === labels("id"))
        .select(col("b").as("id"), col("cluster_id"))
      val next = labels.union(pushed)
        .groupBy("id").agg(min("cluster_id").as("cluster_id"))
        .localCheckpoint()
      changed = next.join(labels.withColumnRenamed("cluster_id", "prev"), "id")
        .where(col("cluster_id") =!= col("prev")).count()
      labels = next
      iter += 1
    }
    labels
  }

  /** NEAR-DUP LABEL-CONFLICT AUDIT — near-identical documents carrying
    * DIFFERENT labels are annotation bugs (or leakage across a label
    * boundary), and the near-dup pair table the dedup family already
    * produces is exactly where they surface: join any (id_a, id_b)
    * pair table to the label column twice and tabulate the ordered
    * label-pair counts. The off-diagonal rows ARE the conflict report.
    *
    * Exactness: pure joins + exact counts; the label pair is
    * canonicalized (least, greatest) so (en, fr) and (fr, en) collapse
    * deterministically. Pairs whose ids miss from the label table are
    * REJECTED loudly (a silent inner-join drop would hide exactly the
    * rows being audited). Scale shape: two co-partitioned equi-joins
    * on the pair ids + one map-side-combining count.
    * Output: (label_a, label_b, n_pairs, is_conflict). */
  def pairLabelConflicts(pairs: DataFrame, labels: DataFrame,
                         idCol: String, labelCol: String): DataFrame = {
    val lab = labels.select(col(idCol).as("__id"),
      col(labelCol).as("__lb"))
    val (joined, _) = Contracts.checkpoint(
      pairs.select(col("id_a"), col("id_b"))
        .join(lab.select(col("__id").as("id_a"), col("__lb").as("__la")),
          Seq("id_a"), "left")
        .join(lab.select(col("__id").as("id_b"), col("__lb").as("__lbb")),
          Seq("id_b"), "left"),
      Contracts.Bound(sum(when(col("__la").isNull || col("__lbb").isNull,
        1L).otherwise(0L)), _ == 0L, b =>
        s"pairLabelConflicts: $b pairs reference ids missing from the " +
          "label table — audit inputs must cover every paired id"))
    joined
      .groupBy(least(col("__la"), col("__lbb")).as("label_a"),
        greatest(col("__la"), col("__lbb")).as("label_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_conflict", col("label_a") =!= col("label_b"))
  }

  /** MINHASH BANDING S-CURVE SWEEP — the dedup-side tuning readout
    * ([[graft.operators.Similarity.ivfRecallSweep]]'s companion):
    * at a FIXED signature budget, how the (bands × rowsPerBand) split
    * trades candidate recall against verification load. Truth is the
    * EXACT threshold pair set from [[ppJoin]] (prefix-filtered — the
    * scalable exact path, not a quadratic scan), computed once;
    * each grid point derives its banding from ONE staged hash-set
    * table and counts (a) candidates generated — the verification
    * bill — and (b) true pairs captured. 16×1 catches nearly all
    * pairs but floods verification; 4×4 is surgical but leaks — the
    * standard S-curve the banding parameters move along.
    *
    * Exactness: pure set counts and ONE integral micro-division per
    * grid point.
    * Output: (n_bands, rows_per_band, n_perms, n_truth, n_cand,
    * n_hit, recall_micro) — one row per grid point. */
  def minhashBandRecallSweep(df: DataFrame, idCol: String,
                             textCol: String, shingleN: Int = 3,
                             threshold: Double = 0.5,
                             grid: Seq[(Int, Int)] =
                               Seq((16, 1), (8, 2), (4, 4))): DataFrame = {
    require(grid.nonEmpty && grid.forall { case (b, r) =>
      b >= 1 && r >= 1 && b * r <= 64 },
      s"minhashBandRecallSweep: grid entries must have bands, rows " +
        s">= 1 and bands*rows <= 64, got $grid")
    // fanOut: shingling + 64 minhash permutations per doc are the
    // work-amplifying first stage (one-file corpus ⇒ one core otherwise)
    val dfS = Spread.fanOut(df)
    val truth = ppJoin(dfS, idCol, textCol, threshold, shingleN)
      .select(col("id_a"), col("id_b")).localCheckpoint()
    val nTruth = truth.count()
    // Tried and REVERTED (r17, two paired A/Bs: 4.15-4.17 s vs
    // 3.81-3.91 s solo): materializing ONE maxPerms signature in the
    // checkpoint and slicing prefixes per grid point (minhashPerms is a
    // sequential seeded fill, so prefixes are exact — the ivfRecallSweep
    // trick) is bit-identical but measurably slower here: the per-grid
    // sig kernel runs inside the busy 32-core final job and overlaps the
    // band joins, while the staged form serializes it into the blocking
    // checkpoint. Revisit only if the grid grows distinct perm budgets.
    val hsets = shingleSets(dfS, idCol, textCol, shingleN)
      .select(col("doc_id"),
        array_sort(transform(col("shingles"), s => md5_long(s)))
          .as("hashes"))
      .localCheckpoint()
    grid.map { case (b, r) =>
      val banded = hsets
        .select(col("doc_id"), posexplode(array_chunks(
          minhash_sig_from_hashes(col("hashes"), b * r), r)))
        .where(col("col") =!= typedLit(Seq.fill(r)(Long.MaxValue)))
        .select(col("doc_id"), col("pos").as("band"),
          col("col").as("band_sig"))
      val cand = banded
        .select(col("band"), col("band_sig"), col("doc_id").as("id_a"))
        .join(banded.select(col("band"), col("band_sig"),
          col("doc_id").as("id_b")), Seq("band", "band_sig"))
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      val hit = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
      cand.agg(count(lit(1)).as("n_cand"))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(lit(b.toLong).as("n_bands"),
          lit(r.toLong).as("rows_per_band"),
          lit((b * r).toLong).as("n_perms"),
          lit(nTruth).as("n_truth"), col("n_cand"), col("n_hit"),
          when(lit(nTruth) > 0L, call_function("div",
            col("n_hit") * 1000000L, lit(nTruth)))
            .otherwise(lit(null).cast("long")).as("recall_micro"))
    }.reduce(_.unionByName(_))
  }

  /** CONTENT-DEFINED-CHUNKING DEDUP PROFILE — the storage-level dedup
    * estimate a 100 TB corpus owner runs before paying for another
    * copy: documents split at content-defined cut points (the
    * [[graft.functions.CdcChunks]] md5 rule: cuts depend only on a
    * local window, so chunk identity SURVIVES inserts/deletes upstream
    * — the property fixed-size blocks lack), and the corpus-wide
    * distinct-chunk mass vs total mass is the achievable dedup ratio.
    *
    * Exactness: chunk spans and 60-bit hashes are deterministic pure
    * functions of each document (one single-pass expression per row);
    * counts and char masses are exact longs (chunk identity is the
    * md5Long — collisions are negligible at 2⁻⁶⁰ and deterministic;
    * colliding lengths resolve by MIN, mirrored in the oracle).
    *
    * Scale shape: one map-only chunking scan + explode, one map-side-
    * combining groupBy(hash) whose shuffle carries (hash, len, count)
    * partials — bounded by distinct-chunk count — and one single-row
    * reduction. No window, no join, no collect.
    * Output one row: (n_docs, n_chunks, n_distinct, total_chars,
    * distinct_chars, dedup_ratio). */
  def cdcDedupProfile(df: DataFrame, idCol: String, textCol: String,
                      window: Int, modulus: Long): DataFrame = {
    val chunks = df
      .select(col(idCol).as("__id"),
        explode(cdc_chunks(coalesce(col(textCol), lit("")), window,
          modulus)).as("__ch"))
      .select(col("__id"), col("__ch").getField("len").as("__l"),
        col("__ch").getField("hash").as("__h"))
    val perHash = chunks.groupBy(col("__h"))
      .agg(count(lit(1)).as("__c"), min(col("__l")).as("__l"))
    val docs = df.select(countDistinct(col(idCol)).as("n_docs"))
    // The copies×length mass forms in decimal(38,0) — a plain int64
    // sum could wrap silently at extreme corpus scale — and the fit
    // back into the long output columns is CHECKED loudly.
    val dec = "decimal(38,0)"
    val (masses, _) = Contracts.checkpoint(perHash
      .agg(sum(col("__c")).as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum(col("__c").cast(dec) * col("__l").cast(dec))
          .as("__tc_dec"),
        sum(col("__l").cast(dec)).as("__dc_dec")),
      Contracts.Bound(max(when(
        col("__tc_dec") > lit(Long.MaxValue).cast(dec), 1L)
        .otherwise(0L)), _ == 0L, _ =>
        "cdcDedupProfile: the corpus chunk mass (copies × length) " +
          "exceeds int64 — profile per-source partitions instead"))
    masses
      .select(col("n_chunks"), col("n_distinct"),
        col("__tc_dec").cast("long").as("total_chars"),
        col("__dc_dec").cast("long").as("distinct_chars"))
      .crossJoin(broadcast(docs))
      .select(col("n_docs"), col("n_chunks"), col("n_distinct"),
        col("total_chars"), col("distinct_chars"),
        when(col("total_chars") > 0L,
          col("distinct_chars").cast("double") /
            col("total_chars").cast("double"))
          .otherwise(lit(Double.NaN)).as("dedup_ratio"))
  }
  /** CANONICAL KEEP-LIST per duplicate cluster — the dedup
    * KEEP-POLICY step (finding near-dup clusters is half the job; a
    * curation pass must then pick WHICH copy survives, and "the
    * highest-quality member" beats "arbitrary first" for training
    * data): every id is labelled with its cluster's canonical member
    * — argmax by (score DESC, id ASC), so ties resolve to the
    * smallest id — and whether IT is the keeper.
    *
    * Determinism/exactness: selection is `max(struct(score, −id))` —
    * the lexicographic struct max IS the (score DESC, id ASC) argmax,
    * computed as a partial-combining aggregate (one row per cluster
    * per partition crosses the shuffle — no window over members).
    * NULL scores and ids are REJECTED loudly (a NULL inside the
    * ordering struct would sort implementation-defined); singleton
    * clusters keep themselves.
    *
    * Scale shape: one equi-join to attach scores, one map-side-
    * combining groupBy to the per-cluster argmax (cluster-cardinality
    * rows), one broadcast-or-hash join back. No window, no sort.
    * Output: (id, cluster_id, canonical_id, keep). */
  def canonicalKeepList(clusters: DataFrame, scores: DataFrame,
                        idCol: String, clusterCol: String,
                        scoreCol: String): DataFrame = {
    // a repeated id in the scores table would fan the left join out
    // and hand one member two rows (one of them possibly the keeper
    // twice) — reject loudly, same discipline as hardNegatives' label
    // contract
    val sc = scores.select(col(idCol).as("__id"),
      col(scoreCol).as("__s")).localCheckpoint()
    Contracts.enforce(
      sc.groupBy(col("__id")).agg(count(lit(1)).as("__cnt")),
      Contracts.Bound(max(col("__cnt")), _ <= 1L, m =>
        s"canonicalKeepList: the scores table repeats an id $m times " +
          "— the score join would fan cluster members out"))
    val (j, _) = Contracts.checkpoint(clusters.select(col(idCol).as("__id"),
        col(clusterCol).as("__c"))
      .join(sc, Seq("__id"), "left"),
      Contracts.Bound(sum(when(col("__id").isNull || col("__c").isNull ||
        col("__s").isNull, 1L).otherwise(0L)), _ == 0L, b =>
        s"canonicalKeepList: $b rows carry a NULL id, cluster or " +
          "score — score every member (or default explicitly) before " +
          "picking keepers"))
    val best = j.groupBy(col("__c"))
      .agg(max(struct(col("__s"), (-col("__id")).as("__ni"))).as("__b"))
      .select(col("__c"), (-col("__b.__ni")).as("canonical_id"))
    j.join(best, "__c")
      .select(col("__id").as(idCol), col("__c").as(clusterCol),
        col("canonical_id"),
        (col("__id") === col("canonical_id")).as("keep"))
  }
}
