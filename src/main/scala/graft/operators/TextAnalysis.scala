package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._

/** Text analytics for training-data pipelines: token counting, language ID
  * (stopword heuristic), quality scoring, and document fingerprinting. All
  * pure column expressions — whole-stage-codegen friendly, no UDFs.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(ws_tokens(text))

  /** BPE-ish subword count: alphanumeric runs + individual non-space
    * symbol characters each count as one token. */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "[^A-Za-z0-9]+"), t => t =!= "")) +
      length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))

  /** Stopword profiles for the language-ID heuristic. Deterministic;
    * priority order on ties is the declaration order below. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "pour", "dans", "qui"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不", "人", "这"))

  /** Per-language stopword-hit count over the token multiset. */
  def langScore(tokens: Column, stopwords: Seq[String]): Column = {
    val sw = array(stopwords.map(lit): _*)
    size(filter(tokens, t => array_contains(sw, t)))
  }

  /** Adds per-language score columns, `best` and `lang_pred` to a frame
    * that already has a staged `toks` column. Scores are real columns —
    * a single-Column formulation would duplicate every score expression
    * once per `when` branch (2^5 blowup). */
  private def langScored(dfWithToks: DataFrame): DataFrame = {
    val scoreCols = LangProfiles.map { case (lang, _) => s"score_$lang" }
    val scored = LangProfiles.foldLeft(dfWithToks) {
      case (acc, (lang, sw)) => acc.withColumn(s"score_$lang", langScore(col("toks"), sw))
    }.withColumn("best", greatest(scoreCols.map(col): _*))
    val pred = LangProfiles.foldLeft(lit(null).cast("string")) {
      case (acc, (lang, _)) =>
        when(acc.isNull && (col(s"score_$lang") === col("best")), lit(lang)).otherwise(acc)
    }
    scored.withColumn("lang_pred", pred)
  }

  /** Predicted language per row: argmax of stopword-hit scores,
    * first-declared wins ties. */
  def langIdTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    langScored(df.select(col(idCol), ws_tokens(col(textCol)).as("toks")))
      .select(col(idCol), col("lang_pred"))

  /** WIDENED stopword profiles — 24 languages, 10 public high-frequency
    * function words each (the classic stopword lists every IR stack
    * ships; for the scripts the UAX-29 segmenter char-unigrams — Han,
    * Hiragana, Thai — the profile is the top single-character function
    * morphemes, since those ARE the tokens). Declaration order is the
    * deterministic tie/priority order. Used by [[langIdWide]]; the
    * original 5-language [[LangProfiles]] table and [[langIdTable]]
    * are UNTOUCHED (their gates pin zero regressions). */
  val WideLangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "that", "for", "was"),
    "de" -> Seq("der", "die", "und", "nicht", "das", "mit", "sich", "des", "auf", "für"),
    "es" -> Seq("que", "los", "una", "por", "con", "para", "del", "las", "este", "como"),
    "fr" -> Seq("les", "des", "est", "dans", "qui", "pour", "une", "sur", "pas", "vous"),
    "it" -> Seq("che", "di", "il", "per", "non", "sono", "una", "con", "del", "gli"),
    "pt" -> Seq("não", "uma", "com", "para", "por", "mais", "dos", "como", "mas", "foi"),
    "nl" -> Seq("het", "een", "van", "dat", "niet", "zijn", "voor", "met", "als", "maar"),
    "sv" -> Seq("och", "att", "det", "som", "den", "för", "med", "var", "inte", "han"),
    "da" -> Seq("og", "det", "at", "der", "til", "ikke", "med", "han", "af", "var"),
    "no" -> Seq("og", "det", "som", "til", "ikke", "han", "av", "var", "meg", "noe"),
    "fi" -> Seq("on", "ja", "että", "ei", "se", "oli", "hän", "mutta", "kun", "niin"),
    "pl" -> Seq("nie", "się", "jest", "był", "tym", "jak", "przez", "jego", "czy", "tego"),
    "cs" -> Seq("je", "se", "není", "byl", "jako", "tak", "ale", "což", "před", "této"),
    "ro" -> Seq("și", "este", "nu", "cu", "pentru", "din", "care", "mai", "fost", "dar"),
    "tr" -> Seq("bir", "ve", "bu", "için", "ile", "olarak", "daha", "çok", "ama", "gibi"),
    "id" -> Seq("yang", "dan", "di", "untuk", "dengan", "dari", "ini", "pada", "adalah", "tidak"),
    "vi" -> Seq("của", "và", "là", "có", "trong", "được", "cho", "những", "với", "này"),
    "ru" -> Seq("и", "не", "на", "что", "он", "как", "это", "всё", "она", "так"),
    "ar" -> Seq("في", "من", "على", "أن", "إلى", "عن", "مع", "كان", "هذا", "التي"),
    "hi" -> Seq("के", "है", "में", "की", "एक", "और", "से", "को", "पर", "नहीं"),
    "ja" -> Seq("の", "に", "は", "を", "が", "と", "で", "た", "し", "て"),
    "ko" -> Seq("수", "있다", "그", "것", "및", "등", "이", "를", "에", "은"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不", "人", "这"),
    "th" -> Seq("า", "น", "ร", "ก", "เ", "อ", "ง", "ม", "ี", "ย"))

  /** WIDENED LANGUAGE ID with margin abstention — the web-scale
    * upgrade of [[langIdTable]] (the r14 verdict's breadth gap): 24
    * [[WideLangProfiles]] scored over UAX-29 tokens of the LOWERCASED
    * text (the segmenter makes space-free CJK/Thai scorable — a
    * whitespace tokenizer is structurally blind there), argmax
    * first-declared on ties, and a RELATIVE-MARGIN abstention class:
    *
    *   margin_micro = ⌊10⁶·(best − second) / best⌋   (NULL if best = 0)
    *   lang_pred    = "und" when best = 0 or margin_micro < marginMicro
    *
    * — real web text is full of boilerplate/code/number soup that a
    * bare argmax would confidently mislabel; the margin names exactly
    * how confidently the winner separated from the runner-up (ties
    * abstain by construction). Scores are real columns (the
    * [[langScored]] 2^n-blowup lesson), so the plan stays one
    * projection.
    *
    * Scale shape: map-only — one segmenter pass, 24 bounded
    * profile-array filters, no shuffle/join/window.
    * Output: (id, lang_pred, best_hits, second_hits, margin_micro). */
  def langIdWide(df: DataFrame, idCol: String, textCol: String,
                 marginMicro: Long = 200000L): DataFrame = {
    require(marginMicro >= 0L && marginMicro <= 1000000L,
      s"langIdWide: marginMicro must be in [0, 1e6], got $marginMicro")
    // ONE segmenter pass bound through a lambda variable: a plain
    // aliased toks column would be re-inlined by CollapseProject into
    // every one of the 24 score filters (and then the argmax/greatest
    // tree would copy THOSE — the plan explodes combinatorially; the
    // 24-language fold version OOM'd codegen). Lambda-bound values
    // are opaque to the optimizer, so the token array is computed
    // once per row and the scores land as one bounded array column.
    val toks = uax29_tokens(lower(coalesce(col(textCol), lit(""))))
    val scores = element_at(
      transform(array(toks), tk =>
        array(WideLangProfiles.map { case (_, sw) =>
          val swLit = array(sw.map(lit): _*)
          size(filter(tk, t => array_contains(swLit, t))).cast("long")
        }: _*)), 1)
    val staged = df.select(col(idCol), scores.as("scores"))
    val langsLit = array(WideLangProfiles.map(p => lit(p._1)): _*)
    val best = array_max(col("scores"))
    val second = element_at(sort_array(col("scores"), asc = false), 2)
    val margin = when(best > 0L,
      call_function("div",
        (best - second) * 1000000L, best))
      .otherwise(lit(null).cast("long"))
    staged.select(col(idCol),
      when(best === 0L || margin < marginMicro, lit("und"))
        .otherwise(element_at(langsLit,
          array_position(col("scores"), best).cast("int")))
        .as("lang_pred"),
      best.as("best_hits"), second.as("second_hits"),
      margin.as("margin_micro"))
  }

  /** Stages tokens and the four quality features as real columns on top
    * of (idCol, text): every feature is referenced several times
    * downstream (score + output), and inlining would re-tokenize per
    * reference. */
  private def qualityStaged(df: DataFrame, idCol: String, textCol: String,
                            passthrough: Seq[String] = Nil): DataFrame = {
    val allStops = array(LangProfiles.flatMap(_._2).map(lit): _*)
    df.select(col(idCol) +: passthrough.map(col) :+ col(textCol).as("text")
        :+ ws_tokens(col(textCol)).as("toks"): _*)
      .withColumn("ntok", size(col("toks")).cast("double"))
      .withColumn("mean_tok_len",
        when(col("ntok") > 0,
          aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).cast("double")
            / col("ntok")).otherwise(lit(0.0)))
      .withColumn("alnum_ratio",
        when(length(col("text")) > 0,
          length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", "")).cast("double")
            / length(col("text"))).otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(col("ntok") > 0,
          size(filter(col("toks"), t => array_contains(allStops, t))).cast("double")
            / col("ntok")).otherwise(lit(0.0)))
  }

  /** Composite quality score in [0,1] over the staged feature columns:
    * length band [20, 400] tokens, mean token length band [2, 12],
    * alnum-heavy, some stopwords. */
  private def qualityScoreCol: Column = {
    val lengthOk = when(col("ntok") >= 20 && col("ntok") <= 400, lit(1.0)).otherwise(lit(0.0))
    val tokLenOk = when(col("mean_tok_len") >= 2 && col("mean_tok_len") <= 12, lit(1.0))
      .otherwise(lit(0.0))
    round((lengthOk + tokLenOk + col("alnum_ratio")
      + least(col("stopword_ratio") * 5, lit(1.0))) / 4, 6)
  }

  /** Quality features + a composite score in [0,1]: token count, mean
    * token length, alnum ratio, stopword ratio. `passthrough` columns of
    * the input ride along in the output, so callers needing extra
    * attributes (q67's lang) don't pay a second scan + self-join to
    * reattach them. */
  def qualityFeatures(df: DataFrame, idCol: String, textCol: String,
                      passthrough: Seq[String] = Nil): DataFrame =
    qualityStaged(df, idCol, textCol, passthrough)
      .select(col(idCol) +: passthrough.map(col)
        :+ col("ntok").cast("long").as("n_tokens")
        :+ round(col("mean_tok_len"), 6).as("mean_tok_len")
        :+ round(col("alnum_ratio"), 6).as("alnum_ratio")
        :+ round(col("stopword_ratio"), 6).as("stopword_ratio")
        :+ qualityScoreCol.as("quality_score"): _*)

  /** The same quality features computed through ONE tokenize -> explode
    * -> groupBy(doc) aggregation instead of per-row array expressions —
    * bit-identical output (integer token-length/stopword sums divided by
    * integer counts, same IEEE order), different plan shape. Use this
    * variant when the caller references the score/features several times
    * (a filter predicate, a sampling probability): per-row staged arrays
    * get re-inlined by CollapseProject into EVERY reference, re-running
    * the tokenizer each time (q67's sampling predicate measured 13
    * tokenizer runs per row), while aggregate outputs are real
    * attributes that cannot be inlined. Costs one doc-keyed join. */
  def qualityFeaturesAgg(df: DataFrame, idCol: String, textCol: String,
                         passthrough: Seq[String] = Nil): DataFrame = {
    val allStops = array(LangProfiles.flatMap(_._2).map(lit): _*)
    val aggs = df
      .select(col(idCol), explode(ws_tokens(col(textCol))).as("__t"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__ntokl"),
        sum(length(col("__t"))).as("__sumlen"),
        sum(when(array_contains(allStops, col("__t")), 1L).otherwise(0L)).as("__stop"))
    df.select(col(idCol) +: passthrough.map(col) :+ col(textCol).as("text"): _*)
      .join(aggs, Seq(idCol), "left")
      .withColumn("ntok", coalesce(col("__ntokl"), lit(0L)).cast("double"))
      .withColumn("mean_tok_len",
        when(col("ntok") > 0,
          col("__sumlen").cast("double") / col("ntok")).otherwise(lit(0.0)))
      .withColumn("alnum_ratio",
        when(length(col("text")) > 0,
          length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", "")).cast("double")
            / length(col("text"))).otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(col("ntok") > 0,
          col("__stop").cast("double") / col("ntok")).otherwise(lit(0.0)))
      .select(col(idCol) +: passthrough.map(col)
        // NULL text: the per-row variant reports n_tokens NULL (size of a
        // NULL array); mirror that here despite the coalesce-to-0 above
        :+ when(col("text").isNotNull, coalesce(col("__ntokl"), lit(0L)))
          .as("n_tokens")
        :+ round(col("mean_tok_len"), 6).as("mean_tok_len")
        :+ round(col("alnum_ratio"), 6).as("alnum_ratio")
        :+ round(col("stopword_ratio"), 6).as("stopword_ratio")
        :+ qualityScoreCol.as("quality_score"): _*)
  }

  private val AsciiUpper = ('A' to 'Z').mkString
  private val AsciiLower = ('a' to 'z').mkString

  /** CCNet-style text canonicalization as pure codegen'd built-ins:
    * ASCII case-fold (translate, not lower() — engines disagree on
    * Unicode edge-case lowering, translate is deterministic by
    * construction), strip everything but letters/digits/spaces
    * (Unicode classes), collapse whitespace runs, trim. The standard
    * pre-dedup normalization: trivially different copies ("The  cat." /
    * "the cat") canonicalize to the same string. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(
      translate(text, AsciiUpper, AsciiLower),
      "[^\\p{L}\\p{N} ]", ""), "\\s+", " "))

  /** Normalization-aware exact dedup: canonical id = the smallest doc id
    * sharing the same normalized-text hash. Zero-shuffle normalization +
    * one hash-keyed partial-aggregated groupBy (only (hash, min_id)
    * pairs cross the shuffle) joined back by hash. */
  def normalizedDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val normed = df.select(col(idCol),
      md5_long(normalizeText(col(textCol))).as("norm_hash"),
      length(normalizeText(col(textCol))).cast("long").as("norm_len"))
    val canon = normed.groupBy("norm_hash").agg(min(col(idCol)).as("canon_id"))
    normed.join(canon, Seq("norm_hash"))
      .select(col(idCol), col("norm_hash"), col("norm_len"), col("canon_id"),
        (col(idCol) === col("canon_id")).as("is_canonical"))
  }

  /** Hashing-trick document vectorizer (the model-free featurization
    * primitive): each token hashes into one of `dim` buckets, per-doc
    * bucket counts form a sparse term-count vector — no vocabulary to
    * build or broadcast, deterministic across engines/runs, and the
    * output feeds the LSH/IVF ANN stack without any trained embedding.
    * Emitted sparse ((id, dim, cnt) rows, zero-count buckets absent);
    * one explode + one partial-aggregated groupBy. */
  def hashingVectorizer(df: DataFrame, idCol: String, textCol: String,
                        dim: Int): DataFrame = {
    require(dim >= 2 && dim <= (1 << 24), s"hashingVectorizer dim out of range: $dim")
    df.select(col(idCol), explode(ws_tokens(col(textCol))).as("__t"))
      .select(col(idCol), pmod(md5_long(col("__t")), lit(dim.toLong)).as("dim"))
      .groupBy(col(idCol), col("dim"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** One BM25 term contribution in integer micro-units (k1=1.2,
    * b=0.75) — the EXACT op sequence shared by the corpus scorer (q77)
    * and the index server ([[searchTopK]]), so the two can never drift:
    * the only libm call (ln) floors to micro-idf once, and the
    * contribution floors to integer micro-units before any summing
    * (Long addition commutes — partitioning cannot change a score). */
  def bm25ContribMicro(tf: Column, df: Column, n: Column,
                       dl: Column, sumdl: Column): Column = {
    val avgdl = sumdl.cast("double") / n
    val idfQ = floor(log((n - df + lit(0.5)) / (df + lit(0.5)) + lit(1))
      * lit(1000000.0)).cast("long")
    floor(idfQ * (tf * lit(2.2)
      / (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dl / avgdl)))).cast("long")
  }

  /** The persisted full-text serving artifact: term-sharded postings
    * WITH per-posting term frequencies, plus the per-doc length table —
    * everything query-time BM25 needs, so serving touches NO corpus
    * text at all (cf. [[Similarity.buildPqIndex]], the ANN sibling).
    * Persist `postings` with `Sinks.writeRangeSorted` on `token` and a
    * query's `isin` probe prunes to the terms' files. */
  case class SearchIndex(postings: DataFrame, docmeta: DataFrame)

  /** Sentinel for `nShards`: derive the shard count from the corpus
    * size at build time (ceil(nDocs / maxDocsPerShard)), so the unsafe
    * configuration — a stopword's postings row holding the ENTIRE
    * corpus in one array — cannot be reached by forgetting the dial.
    * A shard holds at most ~maxDocsPerShard docs in expectation, so
    * the worst-case postings row (a token in every doc) is bounded by
    * the shard's doc count, not the corpus. */
  val AutoShards: Int = 0

  /** The one [[AutoShards]] denominator — shared with the streaming
    * maintainer so the batch builder and the incremental path can never
    * disagree on how a corpus size maps to a shard count. */
  val DefaultMaxDocsPerShard: Int = 65536

  private def resolveShards(nShards: Int, nDocs: => Long,
                            maxDocsPerShard: Int): Int = {
    require(nShards >= 0,
      s"nShards must be >= 1 or AutoShards (0), got $nShards")
    require(maxDocsPerShard >= 1,
      s"maxDocsPerShard must be >= 1, got $maxDocsPerShard")
    if (nShards > 0) nShards
    else math.max(1L, (nDocs + maxDocsPerShard - 1) / maxDocsPerShard).toInt
  }

  /** Build the [[SearchIndex]]: one tokenize scan for the (doc, token,
    * tf) counts (partial-aggregated), sharded into bounded posting rows
    * exactly like [[invertedIndex]]; a second scan for doc lengths.
    * Both tables are materialized (localCheckpoint — standing in for
    * the parquet write a deployment lands them with): an index is built
    * once and probed many times, and [[searchTopK]] alone consumes each
    * table twice (tf pivot + df row; scoring join + stats). The default
    * shard count is [[AutoShards]]: one count-only scan sizes the
    * corpus and shards derive as ceil(nDocs / maxDocsPerShard) — an
    * index build is a once-per-corpus job, and the count is the price
    * of never shipping an unsharded 100 TB stopword row. Query results
    * are shard-count-invariant (df sums over shards; tf rides per
    * doc). */
  def buildSearchIndex(docs: DataFrame, idCol: String, textCol: String,
                       nShards: Int = AutoShards,
                       maxDocsPerShard: Int = DefaultMaxDocsPerShard,
                       knownDocs: Long = -1L): SearchIndex = {
    // a caller that already counted the corpus (or builds several indexes
    // over the same snapshot) passes knownDocs so AutoShards doesn't pay
    // a count-only scan per build
    val shards = resolveShards(nShards,
      if (knownDocs >= 0) knownDocs else docs.count(), maxDocsPerShard)
    // ONE tokenize scan feeds BOTH tables (postings and docmeta used to
    // re-tokenize the corpus independently — guide §2.3 "project before
    // the exchange" / §1.2 don't compute things twice): the staged
    // per-doc token arrays materialize once (fanned out — a one-file
    // corpus would tokenize on one core), dl rides along, and the tf
    // explode + docmeta projection both read the checkpoint.
    val toks = Spread.fanOut(docs)
      .select(col(idCol).as("doc_id"), ws_tokens(col(textCol)).as("__t"))
      .select(col("doc_id"),
        coalesce(size(col("__t")), lit(0)).cast("long").as("dl"),
        col("__t"))
      .localCheckpoint()
    val tf = toks.select(col("doc_id"), explode(col("__t")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val postings = tf
      .withColumn("shard", md5_long(col("doc_id").cast("string")) % shards)
      .groupBy("token", "shard")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("tf"))))
        .as("postings"),
        count(lit(1)).as("df_shard"))
      .localCheckpoint()
    SearchIndex(postings, toks.select(col("doc_id"), col("dl")))
  }

  /** The per-doc length table of a [[SearchIndex]] on its own — for
    * servers that need BM25's docmeta but not the postings (the q139
    * phrase-ranked reader serves occurrences from the POSITIONAL index
    * and only needs dl/avgdl from this side; building the full BM25
    * postings for it checkpoints an index nothing ever reads). */
  def docMeta(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      coalesce(size(ws_tokens(col(textCol))), lit(0)).cast("long").as("dl"))
      .localCheckpoint()

  /** Persist a [[SearchIndex]] first-class — the same directory shape as
    * [[savePositionalIndex]]: `dir/postings` token-range-sorted (a
    * query's literal `isin` probe prunes to the terms' files via parquet
    * footer min/max), `dir/docmeta` range-sorted on doc_id (point
    * lookups prune; the serving stats aggregate reads it whole either
    * way). No meta table: [[compactSearchIndex]] re-derives
    * [[AutoShards]] from the docmeta count it materializes anyway. */
  def saveSearchIndex(index: SearchIndex, dir: String): Unit = {
    Sinks.writeRangeSorted(index.postings, s"$dir/postings",
      Seq(col("token")))
    Sinks.writeRangeSorted(index.docmeta, s"$dir/docmeta",
      Seq(col("doc_id")))
  }

  /** Load a [[saveSearchIndex]] directory for serving: both tables stay
    * lazy parquet frames — [[searchTopK]]'s probe reaches the postings
    * scan as a pushed token filter (pinned in ScaleSpec on the loaded
    * form). */
  def loadSearchIndex(spark: SparkSession, dir: String): SearchIndex =
    SearchIndex(spark.read.parquet(s"$dir/postings"),
      spark.read.parquet(s"$dir/docmeta"))

  /** Query-time BM25 top-k over a [[SearchIndex]] — the end-to-end
    * search serving shape: the postings probe is a literal `isin` on
    * the token key (file-skipping against a token-range-sorted layout),
    * per-term document frequencies derive from the probed rows
    * themselves (`isin` selects every shard of each term, and df =
    * Σ df_shard), corpus stats are a two-long aggregate of the docmeta
    * table, and ranking is the partial-combining global `top_k_by` —
    * at most k rows per partition cross the final shuffle and NOTHING
    * rescans or re-tokenizes the corpus. Retrievable set = documents
    * containing at least one query term (standard IR: only posted docs
    * rank; note a stopword-heavy doc can score NEGATIVE micro-units —
    * idf goes negative past df > n/2 — and still outrank nothing
    * outside the posting lists by construction). Ties break by doc_id
    * ascending. Output: (doc_id, dl, score_micro, rank). */
  def searchTopK(index: SearchIndex, terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "searchTopK needs at least one term")
    val probed = index.postings.where(col("token").isin(terms: _*))
    val cand = probed.select(col("token"), explode(col("postings")).as("p"))
      .select(col("token"), col("p.doc_id").as("doc_id"), col("p.tf").as("tf"))
    val dfRow = probed.agg(
      sum(when(col("token") === terms.head, col("df_shard")).otherwise(0L))
        .as("df_0"),
      terms.zipWithIndex.tail.map { case (t, i) =>
        sum(when(col("token") === t, col("df_shard")).otherwise(0L)).as(s"df_$i")
      }: _*)
    bm25TopK(cand, dfRow, index.docmeta, terms, k)
  }

  /** The shared query-time BM25 scoring core: (token, doc_id, tf)
    * candidate rows, one broadcast per-term document-frequency row
    * (df_0..df_n), and the doc-length table. Pivot tf per doc, attach
    * the two-long corpus stats, sum the micro-unit contributions
    * ([[bm25ContribMicro]]), rank with the partial-combining global
    * `top_k_by`. Both the single-index server ([[searchTopK]]) and the
    * segmented server ([[searchSegmentsTopK]]) end here, so base and
    * incremental serving can never drift. */
  private def bm25TopK(cand: DataFrame, dfRow: DataFrame, docmeta: DataFrame,
                       terms: Seq[String], k: Int): DataFrame = {
    val tfPivot = cand.groupBy("doc_id")
      .agg(sum(when(col("token") === terms.head, col("tf")).otherwise(0L))
          .as("tf_0"),
        terms.zipWithIndex.tail.map { case (t, i) =>
          sum(when(col("token") === t, col("tf")).otherwise(0L)).as(s"tf_$i")
        }: _*)
    val stats = docmeta.agg(count(lit(1)).as("n"),
      sum(col("dl")).as("sumdl"))
    val scored = tfPivot.join(docmeta, Seq("doc_id"))
      .crossJoin(broadcast(stats)).crossJoin(broadcast(dfRow))
      .select(col("doc_id"), col("dl"),
        terms.indices.map(i => bm25ContribMicro(col(s"tf_$i"), col(s"df_$i"),
          col("n"), col("dl"), col("sumdl"))).reduce(_ + _).as("score_micro"))
    // global top-k: doc_id rides negated so its tiebreak runs ascending
    // under the keep-largest struct order; dl rides third (never
    // consulted — (score, doc_id) is already unique)
    scored.agg(top_k_by(struct(col("score_micro"),
        (-col("doc_id")).as("neg_id"), col("dl")), k).as("top"))
      .select(posexplode(col("top")))
      .select((-col("col.neg_id")).as("doc_id"), col("col.dl").as("dl"),
        col("col.score_micro").as("score_micro"), (col("pos") + 1).as("rank"))
  }

  /** Probe an index's postings for the query terms and explode to
    * (token, doc_id, tf) candidate rows — the literal `isin` reaches
    * the scan (file skipping on a token-range-sorted layout). */
  private def probeCand(postings: DataFrame, terms: Seq[String]): DataFrame =
    postings.where(col("token").isin(terms: _*))
      .select(col("token"), explode(col("postings")).as("p"))
      .select(col("token"), col("p.doc_id").as("doc_id"), col("p.tf").as("tf"))

  /** The incremental-maintenance unit of the search index: a delta
    * SEGMENT (a complete [[SearchIndex]] over only the re-crawled
    * added/changed docs) plus the tombstone list of doc ids whose BASE
    * entries are dead (removed docs, and the OLD versions of changed
    * docs — their fresh postings live in the segment). This is the
    * LSM / Lucene-segment model Spark-shaped: a re-crawl costs
    * O(|delta|) tokenize + index work, never O(|corpus|); the base
    * index's files are never rewritten. Serve with
    * [[searchSegmentsTopK]]; fold segments back into one index with
    * [[compactSearchIndex]] when they accumulate. */
  case class SearchDelta(segment: SearchIndex, tombstones: DataFrame)

  /** Diff two corpus snapshots ([[Snapshot.delta]] — two longs per doc
    * cross the join, never the text) and build the [[SearchDelta]]:
    * only `added`/`changed` docs are tokenized (semi-join before the
    * tokenizer), `removed`+`changed` ids become tombstones. The
    * tombstone table is materialized: it is broadcast-probed by every
    * query and compaction. */
  def searchIndexDelta(prev: DataFrame, cur: DataFrame, idCol: String,
                       textCol: String,
                       nShards: Int = AutoShards): SearchDelta = {
    val d = Snapshot.delta(prev, cur, idCol, textCol)
    val refresh = d.where(col("status").isin("added", "changed"))
      .select(col("doc_id").as(idCol))
    val segment = buildSearchIndex(
      cur.join(refresh, Seq(idCol), "left_semi"), idCol, textCol, nShards)
    val tombstones = d.where(col("status").isin("removed", "changed"))
      .select(col("doc_id")).localCheckpoint()
    SearchDelta(segment, tombstones)
  }

  /** BM25 top-k over base index + delta segment — the query-time merge
    * of the segment model: base candidates drop tombstoned docs (a
    * broadcast anti-join against the small tombstone list — the base
    * postings scan stays map-only), segment candidates union in, and
    * per-term document frequencies are recounted from the MERGED
    * candidate rows instead of the now-stale base `df_shard` sums (the
    * probe retrieves every posting of each query term, so the recount
    * is exact and stays bounded by the probed postings — no corpus
    * work). A doc appears on exactly one side (changed docs are
    * tombstoned in base and re-indexed in the segment), so (token,
    * doc_id) stays unique after the union. Doc lengths and corpus
    * stats merge the same way. Must equal [[searchTopK]] over a full
    * rebuild of the current snapshot — deterministic scoring makes the
    * equality exact (the q105 gate). */
  def searchSegmentsTopK(base: SearchIndex, delta: SearchDelta,
                         terms: Seq[String], k: Int): DataFrame =
    searchSegmentsTopK(base, Seq(delta), terms, k)

  /** Drop a level's rows for docs superseded by NEWER deltas: a delta's
    * tombstones name docs whose entries in every OLDER level (base and
    * earlier segments) are dead — a changed doc's fresh postings live
    * in that delta's own segment, which its own tombstone must not
    * touch. Tombstone lists are small (delta-sized) and materialized,
    * so the union broadcasts and each level's scan stays map-only. */
  private def dropSuperseded(level: DataFrame,
                             newer: Seq[DataFrame]): DataFrame =
    if (newer.isEmpty) level
    else level.join(broadcast(newer.reduce(_ unionByName _)),
      Seq("doc_id"), "left_anti")

  /** BM25 top-k over base index + N accumulated delta segments (oldest
    * first) — the general LSM read path: each level's candidates drop
    * docs tombstoned by any STRICTLY NEWER delta (base drops all
    * tombstones; segment i drops deltas i+1..N's — its own delta
    * tombstoned the older copies, not the fresh rows it carries), so
    * every live doc surfaces from exactly one level and (token, doc_id)
    * stays unique after the union. Per-term document frequencies are
    * recounted from the merged candidates (exact: the probe retrieves
    * every posting of each query term), doc lengths merge level-wise
    * the same way, and scoring is the shared [[bm25TopK]] core — so an
    * N-segment serve must equal [[searchTopK]] over a full rebuild of
    * the current snapshot (the q108 gate). Query cost is bounded by the
    * probed postings of base + segments; the base postings are never
    * regrouped (no compaction work hides in the read path — pinned by
    * ScaleSpec). */
  def searchSegmentsTopK(base: SearchIndex, deltas: Seq[SearchDelta],
                         terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "searchSegmentsTopK needs at least one term")
    val (cand, docmeta) = segmentCandidates(base, deltas, terms)
    val dfRow = cand.agg(
      sum(when(col("token") === terms.head, 1L).otherwise(0L)).as("df_0"),
      terms.zipWithIndex.tail.map { case (t, i) =>
        sum(when(col("token") === t, 1L).otherwise(0L)).as(s"df_$i")
      }: _*)
    bm25TopK(cand, dfRow, docmeta, terms, k)
  }

  /** The LSM candidate merge every segmented BM25-side server runs:
    * probe each level for `terms`, drop rows tombstoned by any strictly
    * newer delta, union — (token, doc_id) stays unique because each
    * live doc surfaces from exactly one level. Docmeta merges
    * level-wise by the same rule. */
  private def segmentCandidates(base: SearchIndex, deltas: Seq[SearchDelta],
                                terms: Seq[String]): (DataFrame, DataFrame) = {
    val levels = base +: deltas.map(_.segment)
    val cand = levels.zipWithIndex.map { case (idx, lvl) =>
      dropSuperseded(probeCand(idx.postings, terms),
        deltas.drop(lvl).map(_.tombstones))
    }.reduce(_ unionByName _)
    val docmeta = levels.zipWithIndex.map { case (idx, lvl) =>
      dropSuperseded(idx.docmeta, deltas.drop(lvl).map(_.tombstones))
    }.reduce(_ unionByName _)
    (cand, docmeta)
  }

  /** Inclusion/exclusion term filter served from a [[SearchIndex]] —
    * the corpus-SELECTION predicate ("every doc mentioning ALL of
    * `mustHave` and NONE of `mustNot`", the topic-subsetting /
    * blocklist move a training-data build runs before scoring) answered
    * entirely from the index: one literal probe for both term sets, a
    * per-doc candidate count (each (token, doc) pairs once across
    * shards, so count == distinct required terms), and the exclusion as
    * a predicate on the SAME aggregate — no second scan, no anti-join,
    * zero corpus rescan or tokenize. Candidates are bounded by the
    * probed postings: docs posting none of the terms never enter.
    * Output: (doc_id, dl) for selected docs. */
  def termFilter(index: SearchIndex, mustHave: Seq[String],
                 mustNot: Seq[String] = Nil): DataFrame =
    termFilterFrom(
      probeCand(index.postings, (mustHave ++ mustNot).distinct),
      index.docmeta, mustHave, mustNot)

  /** [[termFilter]] over base + N delta segments — the same level-aware
    * candidate merge as [[searchSegmentsTopK]], so a re-crawled corpus
    * serves selection predicates incrementally; must equal
    * [[termFilter]] over a full rebuild (ScaleSpec random histories). */
  def termFilterSegments(base: SearchIndex, deltas: Seq[SearchDelta],
                         mustHave: Seq[String],
                         mustNot: Seq[String] = Nil): DataFrame = {
    val (cand, docmeta) =
      segmentCandidates(base, deltas, (mustHave ++ mustNot).distinct)
    termFilterFrom(cand, docmeta, mustHave, mustNot)
  }

  /** Prefix (wildcard `pre*`) search served from a [[SearchIndex]]:
    * the probe is a `startsWith` RANGE predicate on the token key — on
    * the token-range-sorted on-disk layout it prunes to the prefix's
    * contiguous file run exactly like a literal probe (StringStartsWith
    * pushes to the parquet scan), and candidates stay bounded by the
    * matching postings. Returns per doc the distinct matching terms and
    * total occurrences: (doc_id, n_terms, n_hits) — the morphological /
    * vocabulary-family selection (`data*` covering data, dataset,
    * datasets…) a corpus query layer needs beyond exact terms. */
  def prefixSearch(index: SearchIndex, prefix: String): DataFrame = {
    require(prefix.nonEmpty, "prefixSearch needs a non-empty prefix")
    prefixAgg(prefixCand(index.postings, prefix))
  }

  /** One level's prefix-probe candidates: (token, doc_id, tf) rows for
    * tokens matching the range predicate. */
  private def prefixCand(postings: DataFrame, prefix: String): DataFrame =
    postings.where(col("token").startsWith(prefix))
      .select(col("token"), explode(col("postings")).as("p"))
      .select(col("token"), col("p.doc_id").as("doc_id"), col("p.tf").as("tf"))

  private def prefixAgg(cand: DataFrame): DataFrame =
    cand.groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("n_hits"))

  /** [[prefixSearch]] over base + N delta segments — the same
    * level-aware candidate merge as [[searchSegmentsTopK]] (each
    * level's range probe drops docs tombstoned by any strictly newer
    * delta, so (token, doc_id) stays unique after the union and the
    * per-doc aggregate needs no dedup); a re-crawled corpus serves
    * wildcard selection incrementally, equal to a full rebuild. */
  def prefixSearchSegments(base: SearchIndex, deltas: Seq[SearchDelta],
                           prefix: String): DataFrame = {
    require(prefix.nonEmpty, "prefixSearchSegments needs a non-empty prefix")
    val levels = base +: deltas.map(_.segment)
    val cand = levels.zipWithIndex.map { case (idx, lvl) =>
      dropSuperseded(prefixCand(idx.postings, prefix),
        deltas.drop(lvl).map(_.tombstones))
    }.reduce(_ unionByName _)
    prefixAgg(cand)
  }

  private def termFilterFrom(cand: DataFrame, docmeta: DataFrame,
                             mustHave: Seq[String],
                             mustNot: Seq[String]): DataFrame = {
    require(mustHave.nonEmpty, "termFilter needs at least one required term")
    val have = mustHave.distinct
    val nots = mustNot.distinct
    val notPred =
      if (nots.isEmpty) lit(false) else col("token").isin(nots: _*)
    cand.groupBy("doc_id")
      .agg(sum(when(col("token").isin(have: _*), 1L).otherwise(0L))
          .as("n_have"),
        sum(when(notPred, 1L).otherwise(0L)).as("n_not"))
      .where(col("n_have") === have.size && col("n_not") === 0L)
      .join(docmeta, Seq("doc_id"))
      .select(col("doc_id"), col("dl"))
  }

  /** Fold a [[SearchDelta]] back into a single [[SearchIndex]] (the
    * Lucene segment merge): every base posting entry of a live doc plus
    * every segment entry, re-grouped into (token, shard) rows with
    * fresh df_shard counts; doc lengths merge the same way. The
    * postings arrays re-sort, so the result is BIT-IDENTICAL to a full
    * rebuild of the current snapshot (pinned by ScaleSpec) — run it
    * when accumulated segments start to dominate query-time merge
    * cost. One shuffle over the index tables; the corpus text is never
    * touched. */
  def compactSearchIndex(base: SearchIndex, delta: SearchDelta,
                         nShards: Int): SearchIndex =
    compactSearchIndex(base, Seq(delta), nShards)

  /** Fold N accumulated [[SearchDelta]]s (oldest first) back into a
    * single [[SearchIndex]] (the Lucene multi-segment merge): every
    * level's posting entries survive unless a strictly newer delta
    * tombstoned the doc ([[dropSuperseded]] — the same level rule the
    * segmented read path uses, so compaction can never disagree with
    * serving), then one regroup into (token, shard) rows with fresh
    * df_shard counts. The postings arrays re-sort, so the result is
    * BIT-IDENTICAL to a full rebuild of the current snapshot (pinned by
    * ScaleSpec) — run it every K batches / when accumulated segments
    * start to dominate query-time merge cost, NOT per delta: the
    * regroup is O(live postings), and amortizing it over K deltas is
    * what makes frequent small re-crawls affordable. One shuffle over
    * the index tables; the corpus text is never touched. [[AutoShards]]
    * re-derives the shard count from the merged doc count (the docmeta
    * table is materialized first, so the count is a cheap local
    * scan). */
  def compactSearchIndex(base: SearchIndex, deltas: Seq[SearchDelta],
                         nShards: Int = AutoShards,
                         maxDocsPerShard: Int = DefaultMaxDocsPerShard): SearchIndex = {
    val levels = base +: deltas.map(_.segment)
    val docmeta = levels.zipWithIndex.map { case (idx, lvl) =>
      dropSuperseded(idx.docmeta, deltas.drop(lvl).map(_.tombstones))
    }.reduce(_ unionByName _)
      .localCheckpoint()
    val shards = resolveShards(nShards, docmeta.count(), maxDocsPerShard)
    def entries(postings: DataFrame): DataFrame = postings
      .select(col("token"), explode(col("postings")).as("p"))
      .select(col("token"), col("p.doc_id").as("doc_id"), col("p.tf").as("tf"))
    val tf = levels.zipWithIndex.map { case (idx, lvl) =>
      dropSuperseded(entries(idx.postings), deltas.drop(lvl).map(_.tombstones))
    }.reduce(_ unionByName _)
    val postings = tf
      .withColumn("shard", md5_long(col("doc_id").cast("string")) % shards)
      .groupBy("token", "shard")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("tf"))))
        .as("postings"),
        count(lit(1)).as("df_shard"))
      .localCheckpoint()
    SearchIndex(postings, docmeta)
  }

  /** Build the POSITIONAL index: term-sharded postings where each
    * (doc, token) entry carries the token's sorted occurrence
    * positions — the artifact that serves phrase (and proximity)
    * predicates with ZERO corpus rescan, where [[proximityFilter]] /
    * [[searchSnippets]] re-scan the corpus per query. Same build shape
    * as [[buildSearchIndex]] (one tokenize scan, partial-aggregated
    * per-(doc, token) rows, [[AutoShards]]-bounded posting arrays,
    * range-sort on `token` for file-skipping probes); positions add
    * one long per token occurrence — the standard Lucene-style space
    * trade for positional queries. Returns the postings table:
    * (token, shard, postings: array of (doc_id, positions),
    * df_shard). */
  def buildPositionalIndex(docs: DataFrame, idCol: String, textCol: String,
                           nShards: Int = AutoShards,
                           maxDocsPerShard: Int = DefaultMaxDocsPerShard,
                           knownDocs: Long = -1L): DataFrame = {
    val shards = resolveShards(nShards,
      if (knownDocs >= 0) knownDocs else docs.count(), maxDocsPerShard)
    // fanOut: the tokenize + posexplode is the work-amplifying first
    // stage of the build (one-file corpus ⇒ one core otherwise);
    // identity at scale and on non-leaf inputs (the delta path's
    // semi-joined refresh set keeps its own partitioning)
    val occ = Spread.fanOut(docs).select(col(idCol).as("doc_id"),
        posexplode(ws_tokens(col(textCol))).as(Seq("pos", "token")))
      .groupBy("doc_id", "token")
      .agg(sort_array(collect_list(col("pos").cast("long"))).as("positions"))
    occ.withColumn("shard", md5_long(col("doc_id").cast("string")) % shards)
      .groupBy("token", "shard")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("positions"))))
        .as("postings"),
        count(lit(1)).as("df_shard"))
      .localCheckpoint()
  }

  /** Exact phrase search served from a [[buildPositionalIndex]] table —
    * the query-time form of a phrase predicate: probe the phrase's
    * distinct terms (a literal `isin` that reaches the scan), pivot
    * each doc's per-term position arrays, and intersect the
    * position sets shifted by each term's phrase offset
    * (`array_intersect`, hash-based O(total positions)): a surviving
    * value p means tokens p, p+1, …, p+len-1 spell the phrase.
    * Candidates are bounded by the probed postings — docs missing any
    * phrase term never pivot a full row and NULL-propagate out; the
    * corpus text is never touched (pinned by ScaleSpec, the q103
    * discipline). Output: (doc_id, n_phrase, first_pos) for docs with
    * at least one occurrence. A repeated term ("the data the") probes
    * once and reuses its positions at both offsets. */
  def phraseSearch(postings: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs at least one term")
    phraseFromOccurrences(
      probePositions(postings, phrase.distinct), phrase)
  }

  /** KWIC concordance: every occurrence of `term` with `window` tokens
    * of context on each side — the corpus-linguistics keyword-in-context
    * view (and the human audit surface for a curation rule: "show me
    * how this token is actually used before I filter on it").
    *
    * Serving shape: occurrences come from the POSITIONAL INDEX (the
    * `isin` literal probe reaches the postings scan — zero corpus
    * rescan to find matches); only the MATCHED doc ids then join back
    * to the docs table to fetch text for context (an index-pruned
    * lookup join — AQE broadcasts the matched side when small, and the
    * join never touches unmatched documents' text). Slicing is pure
    * fixed-shape array math over the same tokenizer the index was
    * built with. Output: (doc_id, pos, left_ctx, keyword, right_ctx),
    * one row per occurrence; `keyword` re-read from the document
    * (== term by construction of the index). */
  def kwic(postings: DataFrame, docs: DataFrame, idCol: String,
           textCol: String, term: String, window: Int): DataFrame = {
    require(window >= 0, s"kwic needs window >= 0, got $window")
    val occ = probePositions(postings, Seq(term))
      .select(col("doc_id"), explode(col("positions")).as("pos"))
    val toks = docs.select(col(idCol).as("doc_id"),
      ws_tokens(col(textCol)).as("__toks"))
    val start = greatest(col("pos") - window, lit(0L))
    occ.join(toks, "doc_id")
      .select(col("doc_id"), col("pos"),
        array_join(slice(col("__toks"), (start + 1L).cast("int"),
          (col("pos") - start).cast("int")), " ").as("left_ctx"),
        element_at(col("__toks"), (col("pos") + 1L).cast("int"))
          .as("keyword"),
        array_join(slice(col("__toks"), (col("pos") + 2L).cast("int"),
          lit(window)), " ").as("right_ctx"))
  }

  /** Probe a positional postings table for `terms` and explode to
    * (token, doc_id, positions) occurrence rows — the literal `isin`
    * reaches the scan, same as [[probeCand]]. */
  private def probePositions(postings: DataFrame,
                             terms: Seq[String]): DataFrame =
    postings.where(col("token").isin(terms: _*))
      .select(col("token"), explode(col("postings")).as("p"))
      .select(col("token"), col("p.doc_id").as("doc_id"),
        col("p.positions").as("positions"))

  /** Pivot occurrence rows to one row per doc with each distinct
    * term's position array in column tp_i — one row per (doc, term)
    * exists, so max() just selects the single value. */
  private def pivotPositions(occ: DataFrame, terms: Seq[String]): DataFrame =
    occ.groupBy("doc_id").agg(
      max(when(col("token") === terms.head, col("positions"))).as("tp_0"),
      terms.zipWithIndex.tail.map { case (t, i) =>
        max(when(col("token") === t, col("positions"))).as(s"tp_$i")
      }: _*)

  /** The shared phrase-match core over (token, doc_id, positions)
    * occurrence rows: pivot per doc, intersect offset-shifted position
    * sets. Both the single-index ([[phraseSearch]]) and the segmented
    * ([[phraseSearchSegments]]) server end here. */
  private def phraseFromOccurrences(occ: DataFrame,
                                    phrase: Seq[String]): DataFrame = {
    val terms = phrase.distinct
    val piv = pivotPositions(occ, terms)
    val starts = phrase.zipWithIndex.map { case (t, j) =>
      val tp = col(s"tp_${terms.indexOf(t)}")
      if (j == 0) tp else transform(tp, p => p - j)
    }.reduce(array_intersect)
    // stage the intersection through a Generate so the filter and both
    // output columns read ONE evaluation (the q90 idiom); a doc
    // missing a term has a NULL side and NULL-propagates
    piv.select(col("doc_id"), explode(array(starts)).as("starts"))
      .where(col("starts").isNotNull && size(col("starts")) > 0)
      .select(col("doc_id"),
        size(col("starts")).cast("long").as("n_phrase"),
        array_min(col("starts")).as("first_pos"))
  }

  /** RANKED phrase search: the phrase scored as one virtual BM25 term —
    * tf = per-doc phrase occurrences (from the positional probe), df =
    * docs containing the phrase, dl/avgdl from the BM25 index's
    * docmeta — so multi-word queries rank like Lucene's PhraseQuery
    * instead of returning an unscored match set. Reuses
    * [[phraseSearch]] (zero corpus rescan; candidates bounded by the
    * probed postings) and [[bm25ContribMicro]]'s integer-micro scoring;
    * corpus stats and the phrase df are one-row broadcasts; ranking is
    * the partial-combining `top_k_by` (per-partition heaps, no
    * window). */
  def phraseRankedTopK(postings: DataFrame, docmeta: DataFrame,
                       phrase: Seq[String], k: Int): DataFrame = {
    val matches = phraseSearch(postings, phrase)
    val corpus = docmeta.agg(count(lit(1)).as("n"),
      sum(col("dl")).as("sumdl"))
    val dfp = matches.agg(count(lit(1)).as("dfp"))
    val scored = matches.join(docmeta, "doc_id")
      .crossJoin(broadcast(corpus)).crossJoin(broadcast(dfp))
      .select(col("doc_id"), col("n_phrase"), col("dl"),
        bm25ContribMicro(col("n_phrase"), col("dfp"), col("n"),
          col("dl"), col("sumdl")).as("score_micro"))
    scored
      .agg(top_k_by(struct(col("score_micro"), (-col("doc_id")).as("neg_id"),
        col("n_phrase"), col("dl")), k).as("top"))
      .select(posexplode(col("top")))
      .select((-col("col.neg_id")).as("doc_id"),
        col("col.n_phrase").as("n_phrase"), col("col.dl").as("dl"),
        col("col.score_micro").as("score_micro"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Proximity predicate served from a [[buildPositionalIndex]] table —
    * [[proximityFilter]]'s semantics (min token gap between an A-term
    * and a B-term occurrence, unordered |a-b| or ordered A-then-B)
    * without touching the corpus: probe both sides' terms, merge each
    * side's per-term position arrays (tiny sorted concat per doc), and
    * run the O(m+n) `min_pos_gap` kernel. Retrievable set = docs
    * posting at least one term on EACH side (a one-sided doc cannot
    * satisfy any gap — the q103 retrievable-set stance); an ordered
    * query where every B precedes every A keeps the doc with NULL
    * min_gap and keep = false. Output: (doc_id, n_a, n_b, min_gap,
    * keep). */
  def proximitySearch(postings: DataFrame, termsA: Seq[String],
                      termsB: Seq[String], maxGap: Long,
                      ordered: Boolean = false): DataFrame = {
    require(termsA.nonEmpty && termsB.nonEmpty,
      "proximitySearch needs terms on both sides")
    require(maxGap >= 0, s"proximitySearch needs maxGap >= 0, got $maxGap")
    val terms = (termsA ++ termsB).distinct
    proximityFromOccurrences(probePositions(postings, terms),
      termsA, termsB, maxGap, ordered)
  }

  /** The shared proximity core over (token, doc_id, positions)
    * occurrence rows: pivot per doc, union each side's position arrays,
    * run the O(m+n) `min_pos_gap` kernel. Both the single-index
    * ([[proximitySearch]]) and the segmented
    * ([[proximitySearchSegments]]) server end here. */
  private def proximityFromOccurrences(occ: DataFrame, termsA: Seq[String],
                                       termsB: Seq[String], maxGap: Long,
                                       ordered: Boolean): DataFrame = {
    val terms = (termsA ++ termsB).distinct
    val piv = pivotPositions(occ, terms)
    def side(ts: Seq[String]) = sort_array(ts.map(t =>
      coalesce(col(s"tp_${terms.indexOf(t)}"), array().cast("array<long>")))
      .reduce(concat(_, _)))
    // stage both side unions once (Generate) — n_a/n_b/kernel would
    // otherwise re-run the concat+sort per reference
    val staged = piv.select(col("doc_id"),
        explode(array(struct(side(termsA).as("pa"), side(termsB).as("pb"))))
          .as("s"))
      .select(col("doc_id"), col("s.pa").as("pa"), col("s.pb").as("pb"))
    staged.select(col("doc_id"),
        size(col("pa")).cast("long").as("n_a"),
        size(col("pb")).cast("long").as("n_b"),
        min_pos_gap(col("pa"), col("pb"), ordered).as("min_gap"))
      .where(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("keep", coalesce(col("min_gap") <= maxGap, lit(false)))
  }

  /** The positional index's delta unit — same LSM model as
    * [[SearchDelta]]: a segment postings table over only the
    * added/changed docs plus the tombstone list. */
  case class PositionalDelta(segment: DataFrame, tombstones: DataFrame)

  /** Diff two corpus snapshots and build the [[PositionalDelta]]:
    * O(|delta|) tokenize, base files never rewritten (the
    * [[searchIndexDelta]] discipline, positions included). */
  def positionalIndexDelta(prev: DataFrame, cur: DataFrame, idCol: String,
                           textCol: String,
                           nShards: Int = AutoShards): PositionalDelta = {
    val d = Snapshot.delta(prev, cur, idCol, textCol)
    val refresh = d.where(col("status").isin("added", "changed"))
      .select(col("doc_id").as(idCol))
    val segment = buildPositionalIndex(
      cur.join(refresh, Seq(idCol), "left_semi"), idCol, textCol, nShards)
    val tombstones = d.where(col("status").isin("removed", "changed"))
      .select(col("doc_id")).localCheckpoint()
    PositionalDelta(segment, tombstones)
  }

  /** Phrase search over base positional index + N accumulated delta
    * segments (oldest first): the [[searchSegmentsTopK]] level rule —
    * each level drops docs tombstoned by any strictly newer delta, so
    * every live doc's positions surface from exactly one level — then
    * the shared phrase core. No regroup in the read path; must equal
    * [[phraseSearch]] over a full rebuild (the q111 gate). */
  def phraseSearchSegments(base: DataFrame, deltas: Seq[PositionalDelta],
                           phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearchSegments needs at least one term")
    phraseFromOccurrences(segmentOccurrences(base, deltas, phrase.distinct),
      phrase)
  }

  /** The level-aware occurrence merge every segmented positional server
    * runs: probe each level (base, then deltas oldest-first) for the
    * query terms, drop rows tombstoned by any strictly NEWER delta, and
    * union — each live doc's positions surface from exactly one level.
    * No regroup, no corpus touch; candidates stay bounded by the probed
    * postings. */
  private def segmentOccurrences(base: DataFrame,
                                 deltas: Seq[PositionalDelta],
                                 terms: Seq[String]): DataFrame = {
    val levels = base +: deltas.map(_.segment)
    levels.zipWithIndex.map { case (p, lvl) =>
      dropSuperseded(probePositions(p, terms),
        deltas.drop(lvl).map(_.tombstones))
    }.reduce(_ unionByName _)
  }

  /** Proximity predicate served from base positional index + N
    * accumulated delta segments (oldest first) — [[proximitySearch]]'s
    * semantics over the [[phraseSearchSegments]] level rule, so a
    * re-crawled corpus serves proximity incrementally instead of
    * rebuilding: the level-aware occurrence merge is shared
    * ([[segmentOccurrences]]), the gap kernel is the single-index one,
    * and the result must equal [[proximitySearch]] over a full rebuild
    * (the q117 gate). */
  def proximitySearchSegments(base: DataFrame, deltas: Seq[PositionalDelta],
                              termsA: Seq[String], termsB: Seq[String],
                              maxGap: Long,
                              ordered: Boolean = false): DataFrame = {
    require(termsA.nonEmpty && termsB.nonEmpty,
      "proximitySearchSegments needs terms on both sides")
    require(maxGap >= 0,
      s"proximitySearchSegments needs maxGap >= 0, got $maxGap")
    val terms = (termsA ++ termsB).distinct
    proximityFromOccurrences(segmentOccurrences(base, deltas, terms),
      termsA, termsB, maxGap, ordered)
  }

  /** Fold N positional deltas into one postings table, bit-identical
    * to a full rebuild (the [[compactSearchIndex]] merge with
    * positions). `nShards` is explicit: the positional index carries
    * no docmeta table to derive [[AutoShards]] from — pass the
    * builder's resolved count. */
  def compactPositionalIndex(base: DataFrame, deltas: Seq[PositionalDelta],
                             nShards: Int): DataFrame = {
    require(nShards >= 1,
      s"compactPositionalIndex needs nShards >= 1, got $nShards")
    def entries(postings: DataFrame): DataFrame = postings
      .select(col("token"), explode(col("postings")).as("p"))
      .select(col("token"), col("p.doc_id").as("doc_id"),
        col("p.positions").as("positions"))
    val levels = base +: deltas.map(_.segment)
    val occ = levels.zipWithIndex.map { case (p, lvl) =>
      dropSuperseded(entries(p), deltas.drop(lvl).map(_.tombstones))
    }.reduce(_ unionByName _)
    occ.withColumn("shard", md5_long(col("doc_id").cast("string")) % nShards)
      .groupBy("token", "shard")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("positions"))))
        .as("postings"),
        count(lit(1)).as("df_shard"))
      .localCheckpoint()
  }

  /** A loaded on-disk positional index: the lazy postings frame plus the
    * shard count it was built with ([[compactPositionalIndex]] needs the
    * count explicitly — the on-disk form carries no docmeta to re-derive
    * [[AutoShards]] from). */
  case class PositionalIndex(postings: DataFrame, nShards: Int)

  /** Persist a [[buildPositionalIndex]] table first-class, mirroring the
    * PQ index's directory shape ([[Similarity.buildPqIndex]]): the
    * postings land under `dir/postings` RANGE-SORTED on `token`
    * ([[Sinks.writeRangeSorted]] — non-overlapping token ranges per
    * file, so a query's literal `isin` probe prunes to the terms' files
    * via parquet footer min/max instead of scanning the index), and a
    * one-row `dir/meta` table records the shard count so a later
    * compaction reproduces the builder's layout bit-identically.
    * `nShards` defaults to [[AutoShards]] = derive from the table itself
    * (max shard id + 1 — one bounded aggregate over the index, not the
    * corpus). */
  def savePositionalIndex(postings: DataFrame, dir: String,
                          nShards: Int = AutoShards): Unit = {
    val spark = postings.sparkSession
    import spark.implicits._
    val resolved =
      if (nShards > 0) nShards
      else postings.agg(coalesce(max("shard"), lit(0L)))
        .head().getLong(0).toInt + 1
    Sinks.writeRangeSorted(postings, s"$dir/postings", Seq(col("token")))
    Seq(resolved).toDF("n_shards")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a [[savePositionalIndex]] directory for serving. The postings
    * stay a lazy parquet frame — [[phraseSearch]] / [[proximitySearch]]
    * probes reach the scan as pushed token filters and prune to the
    * probed terms' files (asserted in ScaleSpec); only the one-row meta
    * is read eagerly. */
  def loadPositionalIndex(spark: SparkSession, dir: String): PositionalIndex =
    PositionalIndex(spark.read.parquet(s"$dir/postings"),
      spark.read.parquet(s"$dir/meta").head().getInt(0))

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of N
    * ranked retrieval lists — the standard hybrid-search combiner for a
    * sparse (BM25) and a dense (embedding ANN) ranker over the same
    * corpus. Each list contributes floor(1e6 / (rrfK + rank)) integer
    * micro-units per doc (rank-only: raw scores from different systems
    * are not comparable, ranks always are); per-doc contributions SUM
    * (Long addition commutes — partitioning cannot change a fused
    * score) through one partial-aggregated groupBy over the unioned
    * lists, and the global top-k is the partial-combining `top_k_by`.
    * Input lists carry (doc_id, rank); sizes are top-k lists, so the
    * whole fusion is bounded by Σ|lists| — no corpus work. Ties break
    * by doc_id ascending. Output: (doc_id, rrf_micro, n_systems,
    * rank). */
  def rrfFuse(ranked: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(ranked.nonEmpty, "rrfFuse needs at least one ranked list")
    require(rrfK >= 0, s"rrfFuse needs rrfK >= 0, got $rrfK")
    // integral `div`, not double `/`+cast: keeps the impl/oracle op
    // sequences identical (the repo's integral-division discipline —
    // q30 / packingOffsets) even though both round the same way for
    // every reachable positive rank
    val contribs = ranked.map(df => df.select(col("doc_id"),
      expr(s"1000000L div (${rrfK}L + cast(rank as bigint))")
        .as("rrf_micro")))
    val fused = contribs.reduce(_ unionByName _)
      .groupBy("doc_id")
      .agg(sum(col("rrf_micro")).as("rrf_micro"),
        count(lit(1)).as("n_systems"))
    fused.agg(top_k_by(struct(col("rrf_micro"),
        (-col("doc_id")).as("neg_id"), col("n_systems")), k).as("top"))
      .select(posexplode(col("top")))
      .select((-col("col.neg_id")).as("doc_id"),
        col("col.rrf_micro").as("rrf_micro"),
        col("col.n_systems").as("n_systems"), (col("pos") + 1).as("rank"))
  }

  /** Search-result snippet extraction — the serving step after
    * retrieval: for each document, the `width`-token window (anchored
    * at a query-term hit) covering the most query-term hits, emitted as
    * (n_hits, best_start, best_cnt, snippet text). ONE tokenize per doc,
    * staged through a Generate (the q90 idiom) so the hit scan and the
    * snippet slice cannot re-inline it; the window search is the O(hits)
    * `best_token_window` two-pointer kernel (a term-spammy doc would go
    * quadratic in the HOF count-per-anchor form). Zero shuffle —
    * embarrassingly parallel; at scale run it on the retrieved top-k ids
    * (semi-join first), never the whole corpus. Hitless docs keep row
    * parity with (0, NULL, 0, NULL); ties break to the earliest
    * window. */
  def searchSnippets(docs: DataFrame, idCol: String, textCol: String,
                     terms: Seq[String], width: Int): DataFrame = {
    require(terms.nonEmpty, "searchSnippets needs at least one term")
    require(width > 0, s"searchSnippets needs width > 0, got $width")
    // three Generate stages (the q90 idiom): toks, the O(tokens) hit
    // scan, and the kernel output each materialize ONCE — as plain
    // projection columns, CollapseProject would re-inline the hit scan
    // into every downstream reference (n_hits + the kernel + the slice
    // guard: 3-5 evaluations per row, the exact blowup PlanAuditSpec
    // pins against)
    val staged = docs.select(col(idCol),
        explode(array(struct(ws_tokens(col(textCol)).as("toks")))).as("g"))
      .select(col(idCol), col("g.toks").as("toks"))
    val withHits = staged.select(col(idCol), col("toks"),
        explode(array(filter(
          transform(col("toks"), (x, i) =>
            when(x.isin(terms: _*), i.cast("long")).otherwise(lit(-1L))),
          h => h >= 0))).as("hits"))
    val withBest = withHits.select(col(idCol), col("toks"), col("hits"),
      explode(array(best_token_window(col("hits"), lit(width)))).as("bw"))
    withBest.select(col(idCol),
      coalesce(size(col("hits")), lit(0)).cast("long").as("n_hits"),
      col("bw.start").as("best_start"),
      coalesce(col("bw.cnt"), lit(0L)).as("best_cnt"),
      when(col("bw").isNotNull, array_join(
        slice(col("toks"), (col("bw.start") + 1).cast("int"), lit(width)), " "))
        .as("snippet"))
  }

  /** Proximity / phrase filtering — the positional predicate of a
    * search stack: per document, the minimum token gap between any
    * occurrence of an A-term and any occurrence of a B-term (unordered
    * |a-b|, or ordered A-then-B for phrase-like queries), kept when
    * min_gap <= maxGap. ONE staged tokenize; both hit scans ride a
    * Generate so their O(tokens) transforms evaluate once; the gap is
    * the O(m+n) `min_pos_gap` merge kernel (the pairwise HOF form is
    * O(m*n) — quadratic on a doc dense in both terms). Docs missing
    * either term emit NULL min_gap and keep = false — row parity
    * kept. */
  def proximityFilter(docs: DataFrame, idCol: String, textCol: String,
                      termsA: Seq[String], termsB: Seq[String],
                      maxGap: Long, ordered: Boolean = false): DataFrame = {
    require(termsA.nonEmpty && termsB.nonEmpty,
      "proximityFilter needs terms on both sides")
    require(maxGap >= 0, s"proximityFilter needs maxGap >= 0, got $maxGap")
    def hitsOf(terms: Seq[String]) = filter(
      transform(col("toks"), (x, i) =>
        when(x.isin(terms: _*), i.cast("long")).otherwise(lit(-1L))),
      h => h >= 0)
    val staged = docs.select(col(idCol),
        explode(array(struct(ws_tokens(col(textCol)).as("toks")))).as("g"))
      .select(col(idCol), col("g.toks").as("toks"))
    val withHits = staged.select(col(idCol),
      explode(array(struct(hitsOf(termsA).as("ha"),
        hitsOf(termsB).as("hb")))).as("h"))
    withHits.select(col(idCol),
      coalesce(size(col("h.ha")), lit(0)).cast("long").as("n_a"),
      coalesce(size(col("h.hb")), lit(0)).cast("long").as("n_b"),
      min_pos_gap(col("h.ha"), col("h.hb"), ordered).as("min_gap"))
      .withColumn("keep", coalesce(col("min_gap") <= maxGap, lit(false)))
  }

  /** Rolling-hash fingerprint per document. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), rolling_hash(col(textCol)).as("fingerprint"))

  /** Gopher-style within-document repetition: the fraction of duplicate
    * tokens and duplicate token-trigrams — high values flag boilerplate /
    * degenerate documents for corpus filtering. */
  def repetitionFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val staged = df.select(col(idCol), ws_tokens(col(textCol)).as("toks"))
      .withColumn("ntok", size(col("toks")))
      .withColumn("tris",
        when(col("ntok") >= 3,
          transform(sequence(lit(0), col("ntok") - 3),
            i => concat_ws(" ", element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2), element_at(col("toks"), i + 3))))
          .otherwise(array().cast("array<string>")))
    staged.select(col(idCol), col("ntok").cast("long").as("n_tokens"),
      round(when(col("ntok") > 0,
        lit(1.0) - size(array_distinct(col("toks"))).cast("double") / col("ntok"))
        .otherwise(lit(0.0)), 6).as("dup_token_frac"),
      round(when(size(col("tris")) > 0,
        lit(1.0) - size(array_distinct(col("tris"))).cast("double") / size(col("tris")))
        .otherwise(lit(0.0)), 6).as("dup_trigram_frac"))
  }

  /** Gopher-style composite document-quality rules (Rae et al. 2021,
    * arXiv:2112.11446 Appendix A1.1, thresholds adapted to this corpus):
    * token-count band, mean-token-length band, minimum fraction of
    * tokens containing a letter, maximum fraction of bullet-point /
    * ellipsis lines, and a minimum count of distinct stopwords. Each
    * failed rule sets one bit of `fail_mask` (bit 0 = token count,
    * 1 = mean length, 2 = alpha words, 3 = bullets, 4 = ellipses,
    * 5 = stopwords); `keep = 1` iff no rule failed. One projection of
    * pure column expressions over the staged token/line arrays — zero
    * shuffle, embarrassingly parallel, the standard pre-training
    * rule-filter pass. NULL text: the count features (n_tokens, nline,
    * n_stop_distinct) are NULL (matching SQL `len(NULL)`, not Spark's
    * legacy `size(NULL) = -1`), the ratio features fall to their 0.0
    * default, and every NULL-comparing rule fails — identically in
    * Spark and the SQL oracle. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minTokens: Int = 30, maxTokens: Int = 100000): DataFrame = {
    val allStops = array(LangProfiles.flatMap(_._2).map(lit): _*)
    val staged = df
      .select(col(idCol), col(textCol).as("text"),
        ws_tokens(col(textCol)).as("toks"),
        split(col(textCol), "\n").as("lines"))
      .withColumn("ntok", when(col("text").isNotNull, size(col("toks"))))
      .withColumn("nline", when(col("text").isNotNull, size(col("lines"))))
      .withColumn("mean_tok_len",
        when(col("ntok") > 0,
          aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).cast("double")
            / col("ntok")).otherwise(lit(0.0)))
      .withColumn("alpha_word_frac",
        when(col("ntok") > 0,
          size(filter(col("toks"), t => t.rlike("\\p{L}"))).cast("double")
            / col("ntok")).otherwise(lit(0.0)))
      .withColumn("bullet_line_frac",
        when(col("nline") > 0,
          size(filter(col("lines"), l =>
            ltrim(l).startsWith("-") || ltrim(l).startsWith("*")))
            .cast("double") / col("nline")).otherwise(lit(0.0)))
      .withColumn("ellipsis_line_frac",
        when(col("nline") > 0,
          size(filter(col("lines"), l => rtrim(l).endsWith("...")))
            .cast("double") / col("nline")).otherwise(lit(0.0)))
      .withColumn("n_stop_distinct",
        when(col("text").isNotNull,
          size(array_distinct(filter(col("toks"), t => array_contains(allStops, t))))))
    val mask =
      when(col("ntok") >= minTokens && col("ntok") <= maxTokens, lit(0L)).otherwise(lit(1L)) +
        when(col("mean_tok_len") >= 2 && col("mean_tok_len") <= 12, lit(0L)).otherwise(lit(2L)) +
        when(col("alpha_word_frac") >= 0.6, lit(0L)).otherwise(lit(4L)) +
        when(col("bullet_line_frac") <= 0.9, lit(0L)).otherwise(lit(8L)) +
        when(col("ellipsis_line_frac") <= 0.3, lit(0L)).otherwise(lit(16L)) +
        when(col("n_stop_distinct") >= 2, lit(0L)).otherwise(lit(32L))
    staged.withColumn("fail_mask", mask)
      .select(col(idCol),
        col("ntok").cast("long").as("n_tokens"),
        round(col("mean_tok_len"), 6).as("mean_tok_len"),
        round(col("alpha_word_frac"), 6).as("alpha_word_frac"),
        round(col("bullet_line_frac"), 6).as("bullet_line_frac"),
        round(col("ellipsis_line_frac"), 6).as("ellipsis_line_frac"),
        col("n_stop_distinct").cast("long").as("n_stop_distinct"),
        col("fail_mask"),
        when(col("fail_mask") === 0, lit(1L)).otherwise(lit(0L)).as("keep"))
  }

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumRe = "[0-9]{7,}"

  /** PII scrubbing: count and redact email addresses and long digit runs
    * (phone-ish). Pure regexp expressions — codegen'd, embarrassingly
    * parallel, the standard pre-training scrub pass. */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(LongNumRe), lit(0)))
        .cast("long").as("n_long_numbers"),
      regexp_replace(regexp_replace(col(textCol), lit(EmailRe), lit("<EMAIL>")),
        lit(LongNumRe), lit("<NUM>")).as("redacted"))

  /** BPE-training pair statistics: the frequency of each adjacent
    * character pair across the corpus, weighted by token frequency — the
    * inner counting step of byte-pair-encoding tokenizer training. The
    * corpus collapses to the distinct-token table FIRST (one shuffle with
    * map-side combine); pair explosion runs over distinct tokens only, so
    * the quadratic-ish character work never touches corpus-sized data.
    * Top-k via the same TakeOrderedAndProject + array-fold rank as
    * [[vocabTopK]]. */
  def bpePairStats(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val tokenFreq = df.select(explode(ws_tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val pairs = tokenFreq
      .where(length(col("token")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("token")) - 1),
        i => concat(col("token").substr(i, lit(1)),
          col("token").substr(i + 1, lit(1))))).as("pair"),
        col("freq"))
      .groupBy("pair").agg(sum(col("freq")).as("cnt"))
    pairs.orderBy(col("cnt").desc, col("pair").asc).limit(k)
      .agg(array_sort(collect_list(struct((-col("cnt")).as("neg_cnt"),
        col("pair").as("pair"), col("cnt").as("cnt")))).as("arr"))
      .select(posexplode(col("arr")))
      .select(col("col.pair").as("pair"), col("col.cnt").as("cnt"),
        (col("pos") + 1).as("rank"))
  }

  /** Distributed BPE tokenizer TRAINING (Sennrich et al. 2016 — the
    * full iterative loop, where [[bpePairStats]] is one round's scoring
    * step): ONE corpus scan builds the distinct-word frequency table,
    * words become character-symbol arrays, and every merge round runs
    * over that word table only — pair counts are a freq-weighted
    * explode+groupBy (partial-aggregated), the winning pair is a
    * bounded ONE-ROW driver collect (TakeOrdered, never a full sort),
    * and the merge applies as the single-pass `merge_adjacent_pair`
    * kernel with the pair as plan literals, re-checkpointed per round.
    * This is the textbook scale shape: a 100 TB corpus pays one
    * tokenize scan; the loop's working set is the vocabulary (millions
    * of rows, not billions), exactly like subword-nmt's dictionary-
    * based trainer. Ties break (count DESC, left ASC, right ASC) —
    * deterministic across engines (both compare UTF-8 bytes). Stops
    * early when no pair remains. Returns the merge table:
    * (merge_rank, lhs, rhs, pair_cnt). */
  def bpeTrain(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1, s"bpeTrain needs nMerges >= 1, got $nMerges")
    val spark = df.sparkSession
    import spark.implicits._
    var words = df.select(explode(ws_tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      // drop the zero-width trailing empty Spark's limit=-1 regex split
      // can emit (DuckDB's string_split never does)
      .select(filter(split(col("token"), ""), s => s =!= "").as("syms"),
        col("freq"))
      .localCheckpoint()
    val merges = Vector.newBuilder[(Long, String, String, Long)]
    var round = 1
    var dry = false
    while (round <= nMerges && !dry) {
      val best = words.where(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("a"),
            element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty) dry = true
      else {
        val (a, b, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((round.toLong, a, b, cnt))
        words = words
          .select(merge_adjacent_pair(col("syms"), a, b).as("syms"),
            col("freq"))
          .localCheckpoint()
        round += 1
      }
    }
    merges.result().toDF("merge_rank", "lhs", "rhs", "pair_cnt")
  }

  /** Apply a trained BPE merge sequence to the corpus VOCABULARY — the
    * encoding half of [[bpeTrain]], in the efficient shape: segment
    * each distinct word once (merges staged in rank order, each a
    * single [[graft.functions.merge_adjacent_pair]] pass — on the
    * training corpus this reproduces the trainer's own word evolution
    * exactly), then let callers join the tiny vocab table back to the
    * corpus instead of re-segmenting every occurrence. Returns
    * (token, syms). */
  def bpeVocab(df: DataFrame, textCol: String,
               merges: Seq[(String, String)]): DataFrame = {
    val syms0 = filter(split(col("token"), ""), s => s =!= "")
    val enc = merges.foldLeft(syms0) { case (c, (a, b)) =>
      merge_adjacent_pair(c, a, b)
    }
    df.select(explode(ws_tokens(col(textCol))).as("token")).distinct()
      .select(col("token"), enc.as("syms"))
  }

  /** Per-document TF-IDF top terms: tf = in-doc count / doc length,
    * idf = ln(N / docfreq), top-k terms per document. Three partial-
    * aggregated shuffles (doc-term counts, doc lengths, doc frequencies)
    * and one per-doc window — the document-frequency side is the small
    * distinct-token table and broadcasts when it fits. The corpus size N
    * is the standard |corpus| INCLUDING token-free documents, computed
    * as an aggregation branch over the input and broadcast as a
    * single-row cross join: one action, no separate driver-side
    * `df.count()` job (the branch does re-read a derived input's
    * lineage, the price of the standard idf base). */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(ws_tokens(col(textCol))).as("token"))
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val ntok = toks.groupBy("doc_id").agg(count(lit(1)).as("ntok"))
    // N = |corpus| (the standard idf denominator base, INCLUDING
    // token-free documents) as an aggregation branch of the same plan —
    // one action, no separate df.count() job; deriving N from the ntok
    // aggregate instead would silently shrink idf for corpora with
    // empty documents
    val n = df.agg(count(lit(1)).cast("double").as("n"))
    val scored = tf.join(ntok, "doc_id")
      .join(tf.groupBy("token").agg(count(lit(1)).as("df")), "token")
      .join(broadcast(n))
      .select(col("doc_id"), col("token"),
        round((col("tf").cast("double") / col("ntok").cast("double"))
          * log(col("n") / col("df").cast("double")), 6).as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("token").asc)
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("doc_id"), col("token"), col("tfidf"),
        col("rk").cast("long").as("rank"))
  }

  /** Line-level exact deduplication (the CCNet / Dolma paragraph-dedup
    * shape): across the whole corpus, keep only the globally FIRST
    * occurrence of each distinct line — earliest (doc id, position) —
    * and reassemble every document from its surviving lines in order.
    * Input is (id, array-of-lines); output is (id, n_kept, dedup_text)
    * with lines rejoined by newline, one row per input document (a doc
    * whose every line was seen earlier survives with empty text).
    *
    * Scale posture: the only corpus-sized shuffles are equi-shuffles on
    * the 60-bit line hash (first-occurrence argmin, partial-aggregated)
    * and on doc id (reassembly); the full line text never keys a
    * shuffle. min(struct(doc, pos)) decomposes, so the argmin combines
    * map-side. */
  def dedupLines(df: DataFrame, idCol: String, linesCol: String): DataFrame = {
    val lines = df.select(col(idCol).as("doc_id"),
      posexplode(col(linesCol)).as(Seq("pos", "line")))
      .withColumn("h", md5_long(col("line")))
    val first = lines.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val kept = lines.join(first, "h")
      .where(col("doc_id") === col("first.doc_id") && col("pos") === col("first.pos"))
    val packed = kept.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("line")))).as("ls"))
      .select(col("doc_id"), size(col("ls")).cast("long").as("n_kept"),
        array_join(transform(col("ls"), x => x("line")), "\n").as("dedup_text"))
    df.select(col(idCol).as("doc_id")).join(packed, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  /** URL canonicalization + domain-level curation — the C4/RefinedWeb
    * front-door pass (Raffel et al. 2020 §2.2; Penedo et al. 2023 §3.1):
    * web-crawl corpora dedup and filter BY URL before any text is
    * touched. Canonicalization: strip scheme and fragment, lowercase the
    * host, drop a leading `www.` and a default `:80`/`:443` port, drop
    * tracking query params (`utm_*`, `fbclid`, `gclid`, `ref`), trim
    * trailing slashes. The registrable domain (last two host labels —
    * a public-suffix-list lookup in production) drives blocklist
    * filtering; the canonical URL drives exact URL dedup (first doc_id
    * per canonical URL survives, q81's groupBy-min shape).
    *
    * Everything is codegen'd string built-ins over one projection —
    * zero shuffle except the canon_url groupBy. `blockedDomains` is an
    * IN-list here; a production-sized blocklist becomes a broadcast
    * semi-join or the q54 Bloom probe.
    *
    * Output: (doc_id, canon_url, domain, is_canonical, blocked,
    * kept = is_canonical AND NOT blocked). */
  def urlCurate(df: DataFrame, idCol: String, urlCol: String,
                blockedDomains: Seq[String]): DataFrame = {
    val staged = df
      .select(col(idCol).as("doc_id"),
        regexp_replace(regexp_replace(col(urlCol), "(?i)^https?://", ""),
          "#.*$", "").as("u"))
      .withColumn("hostport", lower(regexp_extract(col("u"), "^[^/?]*", 0)))
      .withColumn("rest", expr("substring(u, length(hostport) + 1)"))
      .withColumn("host", regexp_replace(
        regexp_replace(col("hostport"), "^www\\.", ""), ":(80|443)$", ""))
      .withColumn("path",
        regexp_replace(substring_index(col("rest"), "?", 1), "/+$", ""))
      .withColumn("q", when(instr(col("rest"), "?") > 0,
        expr("substring(rest, instr(rest, '?') + 1)")).otherwise(lit("")))
      .withColumn("cleanq", array_join(filter(split(col("q"), "&"),
        p => p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid|ref)=")), "&"))
      .withColumn("canon_url", concat(col("host"), col("path"),
        when(col("cleanq") =!= "", concat(lit("?"), col("cleanq")))
          .otherwise(lit(""))))
      .withColumn("domain", regexp_extract(col("host"), "[^.]+\\.[^.]+$", 0))
    val canon = staged.groupBy("canon_url")
      .agg(min(col("doc_id")).as("canon_doc"))
    staged.join(canon, Seq("canon_url"))
      .withColumn("is_canonical", col("doc_id") === col("canon_doc"))
      .withColumn("blocked", col("domain").isin(blockedDomains: _*))
      .select(col("doc_id"), col("canon_url"), col("domain"),
        col("is_canonical"), col("blocked"),
        (col("is_canonical") && !col("blocked")).as("kept"))
  }

  /** Classifier-based quality filtering — the model-based gate that
    * replaced pure rule filters in recent corpus builds (DCLM, Li et al.
    * 2024, arXiv:2406.11794; FineWeb-Edu, Penedo et al. 2024): a linear
    * scorer over cheap per-doc features, thresholded at zero. Weights
    * are supplied by the caller (in production: logistic-regression /
    * fastText-distilled weights; the math here is the full serving path,
    * the training loop is offline — the same stub-weights stance as the
    * §2.9 model operators).
    *
    * Features (all exact IEEE ratios of integer counts, so any engine
    * replays them bit-for-bit): mean token length, alpha-word fraction,
    * stopword fraction, digit-character fraction. The score is a
    * left-associated multiply-add of literal weights — no libm anywhere
    * — floored to integer micro-units; keep = score_micro >= 0. One
    * zero-shuffle projection, embarrassingly parallel.
    *
    * All token-derived counts come from ONE [[graft.functions.QualityFeatures]]
    * pass routed through a Generate (explode of a one-element array, the
    * scriptProfile idiom): the four ratio features each reference the
    * counts struct, and a staged token array would be re-inlined — and
    * the tokenizer re-run — per reference by CollapseProject (plan-audited
    * 4x per doc before this shape; PlanAuditSpec now pins tokenize = 0 and
    * quality_features = 1 in the q90 plan). NULL text explodes as a NULL
    * struct (array(null) still has one element), keeping row parity: every
    * feature is 0.0 and the score is exactly the bias, as before. */
  def classifierQualityFilter(df: DataFrame, idCol: String, textCol: String,
                              bias: Double, wMeanLen: Double, wAlpha: Double,
                              wStop: Double, wDigit: Double): DataFrame = {
    val staged = df
      .select(col(idCol),
        explode(array(quality_features(col(textCol),
          LangProfiles.flatMap(_._2)))).as("f"))
      .select(col(idCol),
        when(col("f.n_tok") > 0,
          col("f.sum_tok_len").cast("double") / col("f.n_tok"))
          .otherwise(lit(0.0)).as("mean_tok_len"),
        when(col("f.n_tok") > 0,
          col("f.n_alpha").cast("double") / col("f.n_tok"))
          .otherwise(lit(0.0)).as("alpha_frac"),
        when(col("f.n_tok") > 0,
          col("f.n_stop").cast("double") / col("f.n_tok"))
          .otherwise(lit(0.0)).as("stop_frac"),
        when(col("f.n_chars") > 0,
          col("f.n_digit").cast("double") / col("f.n_chars"))
          .otherwise(lit(0.0)).as("digit_frac"))
    // left-associated multiply-add, mirrored exactly in the SQL oracle
    val z = lit(bias) + lit(wMeanLen) * col("mean_tok_len") +
      lit(wAlpha) * col("alpha_frac") + lit(wStop) * col("stop_frac") +
      lit(wDigit) * col("digit_frac")
    staged.select(col(idCol),
      round(col("mean_tok_len"), 6).as("mean_tok_len"),
      round(col("alpha_frac"), 6).as("alpha_frac"),
      round(col("stop_frac"), 6).as("stop_frac"),
      round(col("digit_frac"), 6).as("digit_frac"),
      floor(z * 1e6).cast("long").as("score_micro"),
      (floor(z * 1e6) >= 0).as("keep"))
  }

  /** DSIR-style importance sampling (Xie et al. 2023, arXiv:2302.03169):
    * select pretraining data that resembles a target domain by the
    * log-likelihood ratio of two add-one-smoothed unigram LMs (target
    * vs whole corpus), then Bernoulli-sample each doc with
    * p = exp(doc-level log importance) — the SUM of per-token ratios,
    * as in the paper (a per-token mean washes the signal out to p ~ 1;
    * measured 98% acceptance before this fix).
    *
    * Everything stays engine-exact: per-token log-probs quantize to
    * integer micro-units at the vocabulary table (q58's pattern — ln of
    * a double ratio, rounded once, summed as integers), and the
    * exp-free sampling trick runs in LOG space — keep iff
    * ln(u) * 1e6 < summed log-ratio, with u = (md5(id)+1)/2^60 the
    * deterministic per-doc uniform (reproducible across runs, engines
    * and partitionings, q67's discipline; +1 keeps u in (0,1] so ln is
    * finite). Two corpus-wide shuffles (vocab build, doc roll-up), the
    * LM totals ride as one broadcast row. */
  def dsirSample(docs: DataFrame, idCol: String, textCol: String,
                 isTarget: Column): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), isTarget.as("is_t"),
      explode(ws_tokens(col(textCol))).as("tok"))
    // the vocab table feeds BOTH the LM totals and the per-token ratios;
    // without materialization each consumer re-derives it from a full
    // tokenized corpus scan (the q73 double-scan trap — plan-audited)
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("c_all"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("c_t"))
      .localCheckpoint()
    val tot = freq.agg(count(lit(1)).as("V"), sum(col("c_all")).as("N"),
      sum(col("c_t")).as("Nt"))
    val ratio = freq.crossJoin(broadcast(tot))
      .select(col("tok"),
        (round(log((col("c_t") + 1).cast("double") / (col("Nt") + col("V")))
          * 1e6, 0).cast("long") -
          round(log((col("c_all") + 1).cast("double") / (col("N") + col("V")))
            * 1e6, 0).cast("long")).as("lr_q"))
    val scored = toks.join(ratio, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("lr_q")).as("slr"))
    val lnuQ = round(
      log((md5_long(col("doc_id").cast("string")) + 1).cast("double")
        / lit(1152921504606846976.0)) * 1e6, 0).cast("long")
    docs.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("slr"), lit(0L)).as("log_importance_micro"),
        (lnuQ < coalesce(col("slr"), lit(0L))).as("sampled"))
  }

  /** Bigram-LM perplexity quality filter — the CCNet shape (Wenzek et
    * al. 2020, arXiv:1911.00359 §3.3: score every document by a language
    * model's perplexity and gate on a threshold; CCNet uses a 5-gram
    * KenLM, here the LM is an add-one-smoothed conditional bigram model
    * trained on the corpus itself — the serving path is identical and a
    * higher-order/externally-trained table drops into the same join).
    *
    * ONE corpus scan builds the bigram count table (the only
    * token-level shuffle); prefix totals c(w1·) = Σ_w2 c(w1 w2) and the
    * suffix vocabulary size V both derive from that AGGREGATED table,
    * not from extra corpus scans, and the per-bigram negative log-prob
    * -ln((c12+1)/(c1+V)) is quantized to integer micro-nats AT THE
    * VOCABULARY TABLE (q58/q91's discipline: ln once per distinct
    * bigram, rounded once, summed as integers — order-free and
    * engine-exact). A second scan joins documents' bigrams against the
    * table and sums. Per-doc mean NLL uses integral division
    * (micro-nat sum // n_bigrams — a terminating ratio must never meet
    * round-half, q71's lesson). Docs with fewer than two tokens have no
    * bigrams: they keep row parity with n_bigrams = 0 and keep = false
    * (the CCNet head/tail buckets drop degenerate docs too). */
  /** The trained LM artifact behind [[ccnetPerplexityFilter]]: one row
    * per distinct corpus bigram with its add-one-smoothed negative
    * log-prob in integer micro-nats. ONE corpus scan builds the bigram
    * count table (the only token-level shuffle); prefix totals
    * c(w1·) = Σ_w2 c(w1 w2) and the suffix vocabulary size V both
    * derive from that AGGREGATED table, not from extra corpus scans,
    * and ln runs once per distinct bigram, rounded once (q58/q91's
    * discipline: quantize at the vocabulary table, sum as integers —
    * order-free and engine-exact). Persist it and serve it to the batch
    * filter or the streaming gate ([[graft.streaming.Streaming]]). */
  def bigramNllTable(docs: DataFrame, textCol: String): DataFrame = {
    val bg = docs.select(
      explode(word_shingles(ws_tokens(col(textCol)), 2)).as("bg"))
    // vocab-sized; feeds prefix totals, V, and the nll table — without
    // materialization each consumer re-derives it from a full tokenized
    // corpus scan (the q73/q91 double-scan trap)
    val c12 = bg.groupBy("bg").agg(count(lit(1)).as("c12")).localCheckpoint()
    val pre = c12.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("c12")).as("c1"))
    val vocab = c12.agg(
      countDistinct(substring_index(col("bg"), " ", -1)).as("V"))
    c12.join(pre, substring_index(col("bg"), " ", 1) === col("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("bg"),
        (-round(log((col("c12") + 1).cast("double") / (col("c1") + col("V")))
          * 1e6, 0).cast("long")).as("nll_micro"))
  }

  def ccnetPerplexityFilter(docs: DataFrame, idCol: String, textCol: String,
                            thresholdMicro: Long): DataFrame = {
    val bg = docs.select(col(idCol).as("doc_id"),
      explode(word_shingles(ws_tokens(col(textCol)), 2)).as("bg"))
    val scored = bg.join(bigramNllTable(docs, textCol), "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_micro")).as("nll_sum"))
    docs.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_sum"), lit(0L)).as("nll_sum_micro"),
        when(col("n_bigrams") > 0, expr("nll_sum div n_bigrams"))
          .otherwise(lit(0L)).as("nll_avg_micro"),
        (coalesce(col("n_bigrams"), lit(0L)) > 0 &&
          when(col("n_bigrams") > 0, expr("nll_sum div n_bigrams"))
            .otherwise(lit(0L)) <= thresholdMicro).as("keep"))
  }

  /** ORDER-N STUPID-BACKOFF PERPLEXITY FILTER — the production CCNet /
    * RedPajama shape ([[ccnetPerplexityFilter]] is the order-2
    * add-one teaching model; real curation uses a 5-gram KenLM —
    * Heafield 2011 — and the standard web-scale smoothing is stupid
    * backoff, Brants et al. 2007 §4: no normalization, just
    *   S(w | ctx_k) = c(ctx_k·w) / c(ctx_k)        if c(ctx_k·w) > 0
    *                = 0.4 · S(w | ctx_{k-1})       otherwise,
    * grounded in an add-one unigram (c(w)+1)/(N+V) so unseen tokens
    * stay finite). The LM trains on the `isTrain` slice and scores
    * EVERY document — the held-out slice is where backoff actually
    * fires (a self-trained corpus contains all of its own n-grams).
    *
    * Per token the scoring key is the up-to-`order`-gram ending at its
    * position (doc-start ramp-up uses the shorter available context
    * with NO penalty, the KenLM convention; the penalty 0.4^j applies
    * only to the j backoff steps the counts force). Everything
    * engine-exact by the q58/q91/q99 discipline:
    *
    *  - ONE count table C holds ALL gram orders 1..N (a gram string
    *    knows its own order), built from one train-side scan: each
    *    position's context key explodes into its ≤ N suffixes and
    *    map-side-combines straight to (gram, count) — the shuffle is
    *    vocabulary-bounded, never token-bounded.
    *  - backoff resolves PER DISTINCT KEY, not per token, and the
    *    2N−1 count lookups a key needs (gram + context per order)
    *    melt into rows and hit C through ONE equi-join, rolled back
    *    up as a per-key slot→count map — two shuffles total, where
    *    separate per-slot joins would shuffle the key table 2N−1
    *    times (distinct high-order grams approach token cardinality,
    *    so C is NOT broadcastable at scale). The chain then collapses
    *    to ratio·0.4^j with ONE ln, rounded once to integer
    *    micro-nats at the key table.
    *  - per-doc scores are integer sums of those micro-nats joined
    *    through ONE token-level equi-join; the mean is integral
    *    division (never a rounded ratio).
    *
    * Docs with zero tokens keep row parity (n_tokens = 0,
    * keep = false). Output: (doc_id, is_train, n_tokens,
    * nll_sum_micro, nll_avg_micro, keep). */
  def stupidBackoffPerplexity(docs: DataFrame, idCol: String,
                              textCol: String, isTrain: Column,
                              order: Int = 5,
                              thresholdMicro: Long = 0L): DataFrame = {
    require(order >= 2 && order <= 8,
      s"stupidBackoffPerplexity: order must be in [2, 8], got $order")
    // fanOut: tokenization + the per-position context-key explode
    // amplify each doc row ~|tokens|·order-fold — a one-file corpus
    // would run that whole stage on one core (identity at scale).
    // Checkpointed: FOUR consumers (gram counts, eval keys, token
    // scoring, the final join-back) each re-ran the tokenizer scan;
    // one materialized token table trades storage for three full
    // corpus re-tokenizations (guide §5 caching-when-reused).
    val toks = Spread.fanOut(docs)
      .select(col(idCol).as("doc_id"), isTrain.as("__tr"),
        ws_tokens(col(textCol)).as("__tk"))
      .localCheckpoint()
    // per-position context keys: the up-to-`order`-gram ending at each
    // position (single-pass expression — a transform() lambda over a
    // staged token column would re-tokenize per element under
    // CollapseProject)
    def keys(tk: Column) = ngram_context_keys(tk, order)
    // ONE gram-count table for every order 1..N: each train position's
    // key contributes its suffixes (the k-gram ending there for each
    // k ≤ key length); splitting the ≤N-word key per suffix is bounded
    // work, unlike re-tokenizing the document
    val grams = toks.where(col("__tr"))
      .select(explode(keys(col("__tk"))).as("__key"))
      .select(col("__key"), split(col("__key"), " ").as("__w"))
      .select(explode(transform(sequence(lit(1), size(col("__w"))),
        j => array_join(slice(col("__w"), size(col("__w")) - j + 1, j),
          " "))).as("g"))
    val cTab = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds 2N-1 resolution joins + the totals
    val tot = cTab
      .where(size(split(col("g"), " ")) === 1)
      .agg(sum(col("c")).as("N"), count(lit(1)).as("V"))
    // distinct eval keys resolve the backoff chain once each
    val dk0 = toks.select(explode(keys(col("__tk"))).as("__key"))
      .distinct()
      .select(col("__key"), split(col("__key"), " ").as("__w"))
      .withColumn("__L", size(col("__w")))
    // suffix_k = last k words; ctx_k = the k−1 words before the last
    // greatest(…, 1) only shields evaluation for keys shorter than k —
    // the join condition __L >= k already excludes those rows, but the
    // equi-key expression still evaluates on every row
    def sfx(k: Int) = array_join(
      slice(col("__w"), greatest(col("__L") - k + 1, lit(1)), lit(k)), " ")
    def ctx(k: Int) = array_join(
      slice(col("__w"), greatest(col("__L") - k + 1, lit(1)), lit(k - 1)),
      " ")
    // melt each key's ≤ 2N−1 lookup slots (gram s_k + context x_k per
    // order, only where the key is long enough) into rows, resolve
    // them against C in ONE join, and roll back up as a slot→count map
    val lookups = (2 to order).foldLeft(
      array(struct(lit("s1").as("slot"), sfx(1).as("g")))) { (acc, k) =>
      concat(acc, when(col("__L") >= k,
        array(struct(lit(s"s$k").as("slot"), sfx(k).as("g")),
          struct(lit(s"x$k").as("slot"), ctx(k).as("g"))))
        .otherwise(array().cast("array<struct<slot:string,g:string>>")))
    }
    val melted = dk0
      .select(col("__key"), col("__L"), explode(lookups).as("__lk"))
      .select(col("__key"), col("__L"), col("__lk.slot").as("__slot"),
        col("__lk.g").as("g"))
    val res = melted.join(cTab, Seq("g"), "left")
      .groupBy(col("__key"), col("__L"))
      .agg(map_from_entries(collect_list(when(col("c").isNotNull,
        struct(col("__slot"), col("c"))))).as("__m"))
      .crossJoin(broadcast(tot))
    def slot(name: String): Column = element_at(col("__m"), lit(name))
    // backoff penalty 0.4^j as a literal per branch — the double chain
    // is evaluated HERE (Scala) and in the oracle as the same IEEE
    // product sequence, so both engines multiply by the identical bits
    val pen: Array[Double] = {
      val a = new Array[Double](order)
      a(0) = 1.0
      (1 until order).foreach(j => a(j) = a(j - 1) * 0.4)
      a
    }
    def penalty(j: Column): Column =
      (order - 1 to 1 by -1).foldLeft(lit(pen(0)))((acc, v) =>
        when(j === v, lit(pen(v))).otherwise(acc))
    val uni = (coalesce(slot("s1"), lit(0L)) + 1L).cast("double") /
      (col("N") + col("V")).cast("double")
    val arg = (2 to order).foldLeft(
      uni * penalty(col("__L") - 1)) { (acc, k) =>
      when(col("__L") >= k && slot(s"s$k").isNotNull,
        slot(s"s$k").cast("double") / slot(s"x$k").cast("double")
          * penalty(col("__L") - k))
        .otherwise(acc)
    }
    val nll = res.select(col("__key"),
      (-round(log(arg) * 1e6, 0)).cast("long").as("__nll"))
      .localCheckpoint() // vocab-sized; serves the token-level join
    val scored = toks
      .select(col("doc_id"), explode(keys(col("__tk"))).as("__key"))
      .join(nll, "__key")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__nll")).as("nll_sum"))
    toks.select(col("doc_id"), col("__tr").as("is_train"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_train"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("nll_sum"), lit(0L)).as("nll_sum_micro"),
        when(col("n_tokens") > 0, expr("nll_sum div n_tokens"))
          .otherwise(lit(0L)).as("nll_avg_micro"),
        (coalesce(col("n_tokens"), lit(0L)) > 0 &&
          when(col("n_tokens") > 0, expr("nll_sum div n_tokens"))
            .otherwise(lit(0L)) <= thresholdMicro).as("keep"))
  }

  /** INTERPOLATED MODIFIED KNESER–NEY PERPLEXITY — the smoothing the
    * CCNet-style quality filter actually ships (Heafield 2011; Chen &
    * Goodman 1998 §3.3.2): where [[stupidBackoffPerplexity]] is the
    * unnormalized web-scale shortcut, this is the proper probability
    * model — per level k the conditional is
    *
    *   p_k(w|ctx) = (cnt_k(ctx·w) − D_k(cnt))⁺ / den_k(ctx)
    *              + γ_k(ctx) · p_{k−1}(w|ctx′)
    *
    * with RAW counts at the top order and CONTINUATION counts below
    * (cnt_k(g) = # distinct (k+1)-gram types ending in g — the KN
    * insight: "how many contexts has this gram completed", not "how
    * often"), den_k(ctx) = Σ_w cnt_k(ctx·w) (so each level normalizes
    * EXACTLY: Σ_w p_k = 1), modified discounts D1/D2/D3+ per level
    * from that level's count-of-counts (Y = n1/(n1+2n2); D1 = 1−2Y·
    * n2/n1, D2 = 2−3Y·n3/n2, D3 = 3−4Y·n4/n3), γ the leaked discount
    * mass (D1·N1(ctx·)+D2·N2(ctx·)+D3·N3+(ctx·))/den, and the base
    * case the uniform 1/V. A level whose context was never observed
    * passes through (a = 0, γ = 1 — the KenLM shorter-context rule);
    * the doc-start ramp scores with the available shorter key.
    *
    * Engine parity (the q264 discipline): every count is an exact
    * integer; the discounts are ONE driver-side IEEE chain over exact
    * count-of-count integers (a level CHECKED invalid — n1/n2/n3
    * empty or a discount outside its count class, the saturated-
    * continuation shape small-vocab corpora hit — takes the explicit
    * `discountFallback`, KenLM's --discount_fallback recipe, or
    * rejects loudly); the per-key chain
    * a + γ·p evaluates the identical double op sequence in both
    * engines and takes ONE ln, rounded once to integer micro-nats.
    *
    * Scale shape: the [[stupidBackoffPerplexity]] melt extended to KN
    * — ONE gram-count table from one train scan; level tables (raw
    * top, continuation below) from vocabulary-bounded regroupings;
    * den + all three γ type-counts per (level, ctx) from ONE groupBy
    * of the level table; count-of-counts a bounded ≤ order-row
    * collect; and each distinct eval key resolves its ≤ 2·order slots
    * (gram + context per level) through ONE equi-join against ONE
    * tagged union lookup (never broadcast — high-order gram types
    * approach token cardinality). Two token-scale shuffles total.
    * Output: (doc_id, is_train, n_tokens, nll_sum_micro,
    * nll_avg_micro, keep). */
  def kneserNeyPerplexity(docs: DataFrame, idCol: String,
                          textCol: String, isTrain: Column,
                          order: Int = 3,
                          thresholdMicro: Long = 0L,
                          discountFallback: Option[(Double, Double, Double)]
                            = None): DataFrame = {
    require(order >= 2 && order <= 5,
      s"kneserNeyPerplexity: order must be in [2, 5], got $order")
    // fanOut + checkpoint: same work-amplifying first stage and same
    // four-consumer re-tokenization as stupidBackoff (see there)
    val toks = Spread.fanOut(docs)
      .select(col(idCol).as("doc_id"), isTrain.as("__tr"),
        ws_tokens(col(textCol)).as("__tk"))
      .localCheckpoint()
    def keys(tk: Column) = ngram_context_keys(tk, order)
    val grams = toks.where(col("__tr"))
      .select(explode(keys(col("__tk"))).as("__key"))
      .select(col("__key"), split(col("__key"), " ").as("__w"))
      .select(explode(transform(sequence(lit(1), size(col("__w"))),
        j => array_join(slice(col("__w"), size(col("__w")) - j + 1, j),
          " "))).as("g"))
    val cTab = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .withColumn("__L", size(split(col("g"), " ")))
      .localCheckpoint() // feeds every level table + the vocab size
    // level tables: raw counts at the top order, continuation-type
    // counts below (each (k+1)-gram row is one distinct type, so the
    // suffix regroup COUNTS ROWS — no distinct needed)
    val tTop = cTab.where(col("__L") === order)
      .select(lit(order).as("lev"), col("g"), col("c").as("cnt"))
    val tTab = (1 until order).map { k =>
      cTab.where(col("__L") === k + 1)
        .select(lit(k).as("lev"),
          array_join(slice(split(col("g"), " "), 2, k), " ").as("g"))
        .groupBy(col("lev"), col("g")).agg(count(lit(1)).as("cnt"))
    }.foldLeft(tTop)(_.unionByName(_)).localCheckpoint()
    // per-(level, ctx): denominator AND the three gamma type-counts
    // from ONE groupBy (Σ_w cnt(ctx·w) == den by construction)
    val aTab = tTab
      .select(col("lev"), array_join(slice(split(col("g"), " "),
        lit(1), col("lev") - 1), " ").as("ctx"), col("cnt"))
      .groupBy(col("lev"), col("ctx"))
      .agg(sum(col("cnt")).as("den"),
        sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("cnt") === 2L, 1L).otherwise(0L)).as("n2"),
        sum(when(col("cnt") >= 3L, 1L).otherwise(0L)).as("n3p"))
    // count-of-counts -> modified discounts: <= order rows, driver-side
    val coc = tTab.groupBy(col("lev"))
      .agg(sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("m1"),
        sum(when(col("cnt") === 2L, 1L).otherwise(0L)).as("m2"),
        sum(when(col("cnt") === 3L, 1L).otherwise(0L)).as("m3"),
        sum(when(col("cnt") === 4L, 1L).otherwise(0L)).as("m4"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // A level is VALID when its count-of-counts carry mass (m1, m2,
    // m3 > 0) and the computed discounts land in their count classes;
    // an invalid level takes `discountFallback` (pass KenLM's
    // --discount_fallback default (0.5, 1.0, 1.5) for corpora whose
    // low-order continuation counts saturate) or rejects loudly.
    val disc: Map[Int, (Double, Double, Double)] = (1 to order).map { k =>
      val (m1, m2, m3, m4) = coc.getOrElse(k, (0L, 0L, 0L, 0L))
      val computed: Option[(Double, Double, Double)] =
        if (m1 > 0 && m2 > 0 && m3 > 0) {
          val y = m1.toDouble / (m1 + 2 * m2).toDouble
          val d1 = 1.0 - 2.0 * y * m2 / m1
          val d2 = 2.0 - 3.0 * y * m3 / m2
          val d3 = 3.0 - 4.0 * y * m4 / m3
          if (d1 >= 0 && d1 <= 1 && d2 >= 0 && d2 <= 2 &&
            d3 >= 0 && d3 <= 3) Some((d1, d2, d3)) else None
        } else None
      k -> computed.orElse(discountFallback).getOrElse(
        throw new IllegalArgumentException(
          s"kneserNeyPerplexity: level $k count-of-counts ($m1, $m2, " +
            s"$m3, $m4) yield no valid modified-KN discounts and no " +
            "discountFallback was given — pass KenLM's default " +
            "(0.5, 1.0, 1.5) or use stupidBackoffPerplexity"))
    }.toMap
    val vSize = cTab.where(col("__L") === 1).count()
    require(vSize >= 1L,
      "kneserNeyPerplexity: the training slice holds no tokens")
    // tagged union lookup: s<k> gram counts, d<k> (den, n1, n2, n3p)
    val lk = tTab
      .select(concat(lit("s"), col("lev")).as("__slot"), col("g"),
        col("cnt").as("v1"), lit(null).cast("long").as("n1"),
        lit(null).cast("long").as("n2"), lit(null).cast("long").as("n3p"))
      .unionByName(aTab.select(
        concat(lit("d"), col("lev")).as("__slot"), col("ctx").as("g"),
        col("den").as("v1"), col("n1"), col("n2"), col("n3p")))
      .localCheckpoint()
    val dk0 = toks.select(explode(keys(col("__tk"))).as("__key"))
      .distinct()
      .select(col("__key"), split(col("__key"), " ").as("__w"))
      .withColumn("__L", size(col("__w")))
    def sfx(k: Int) = array_join(
      slice(col("__w"), greatest(col("__L") - k + 1, lit(1)), lit(k)), " ")
    def ctxOf(k: Int) = array_join(
      slice(col("__w"), greatest(col("__L") - k + 1, lit(1)), lit(k - 1)),
      " ")
    val lookups = (2 to order).foldLeft(
      array(struct(lit("s1").as("slot"), sfx(1).as("g")),
        struct(lit("d1").as("slot"), lit("").as("g")))) { (acc, k) =>
      concat(acc, when(col("__L") >= k,
        array(struct(lit(s"s$k").as("slot"), sfx(k).as("g")),
          struct(lit(s"d$k").as("slot"), ctxOf(k).as("g"))))
        .otherwise(array().cast("array<struct<slot:string,g:string>>")))
    }
    val resolved = dk0
      .select(col("__key"), col("__L"), explode(lookups).as("__lk"))
      .select(col("__key"), col("__L"), col("__lk.slot").as("__slot"),
        col("__lk.g").as("g"))
      .join(lk, Seq("g", "__slot"), "left")
      .groupBy(col("__key"), col("__L"))
      .agg(map_from_entries(collect_list(when(col("v1").isNotNull,
        struct(col("__slot"), struct(col("v1").as("v1"),
          col("n1").as("n1"), col("n2").as("n2"),
          col("n3p").as("n3p")))))).as("__m"))
    def slot(name: String): Column = element_at(col("__m"), lit(name))
    val p = (1 to order).foldLeft(lit(1.0 / vSize): Column) { (acc, k) =>
      val d = slot(s"d$k")
      val sCnt = coalesce(slot(s"s$k").getField("v1"), lit(0L))
      val (d1, d2, d3) = disc(k)
      val dd = when(sCnt === 1L, lit(d1)).when(sCnt === 2L, lit(d2))
        .when(sCnt >= 3L, lit(d3)).otherwise(lit(0.0))
      val den = d.getField("v1").cast("double")
      val a = (sCnt.cast("double") - dd) / den
      val gamma = (lit(d1) * d.getField("n1").cast("double") +
        lit(d2) * d.getField("n2").cast("double") +
        lit(d3) * d.getField("n3p").cast("double")) / den
      when(col("__L") >= k && d.isNotNull, a + gamma * acc)
        .otherwise(acc)
    }
    val nll = resolved.select(col("__key"),
      (-round(log(p) * 1e6, 0)).cast("long").as("__nll"))
      .localCheckpoint() // vocab-sized; serves the token-level join
    val scored = toks
      .select(col("doc_id"), explode(keys(col("__tk"))).as("__key"))
      .join(nll, "__key")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__nll")).as("nll_sum"))
    toks.select(col("doc_id"), col("__tr").as("is_train"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_train"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("nll_sum"), lit(0L)).as("nll_sum_micro"),
        when(col("n_tokens") > 0, expr("nll_sum div n_tokens"))
          .otherwise(lit(0L)).as("nll_avg_micro"),
        (coalesce(col("n_tokens"), lit(0L)) > 0 &&
          when(col("n_tokens") > 0, expr("nll_sum div n_tokens"))
            .otherwise(lit(0L)) <= thresholdMicro).as("keep"))
  }

  /** Unicode-script profiling: per-document counts of Latin / Cyrillic /
    * Han / digit characters, an integer-micro Latin fraction, and the
    * dominant script — the multilingual-curation complement of langId
    * (script detection catches mixed-script spam and routes docs to
    * script-specific pipelines before any language model runs). Four
    * codegen'd single-pass regex counts; the counts struct goes through
    * a Generate (explode of a one-element array) so it materializes ONCE
    * per row — the dominant-script chain below references each count
    * several times, and staged projection columns would be re-inlined
    * (and the regexes re-run) per reference. The Latin fraction uses
    * integral `div`, never a rounded ratio (a count ratio can terminate
    * at 7 decimals ending in 5, where Spark and SQL round differently).
    * NULL text: counts and dominant are NULL, latin_micro is 0 —
    * identically in both engines. */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def cnt(cls: String) =
      (length(col(textCol)) - length(regexp_replace(col(textCol), cls, "")))
        .cast("long")
    val feats = struct(
      length(col(textCol)).cast("long").as("n_chars"),
      cnt("\\p{IsLatin}").as("n_latin"),
      cnt("\\p{IsCyrillic}").as("n_cyrillic"),
      cnt("\\p{IsHan}").as("n_han"),
      cnt("[0-9]").as("n_digit"))
    df.select(col(idCol), explode(array(feats)).as("f"))
      .select(col(idCol), col("f.n_chars").as("n_chars"),
        col("f.n_latin").as("n_latin"), col("f.n_cyrillic").as("n_cyrillic"),
        col("f.n_han").as("n_han"), col("f.n_digit").as("n_digit"))
      .select(col(idCol), col("n_chars"), col("n_latin"), col("n_cyrillic"),
        col("n_han"), col("n_digit"),
        when(col("n_chars") > 0, expr("(n_latin * 1000000) div n_chars"))
          .otherwise(lit(0L)).as("latin_micro"),
        when(col("n_chars").isNull, lit(null).cast("string"))
          .when(col("n_latin") >= col("n_cyrillic") &&
            col("n_latin") >= col("n_han") &&
            col("n_latin") >= col("n_digit"), lit("latin"))
          .when(col("n_cyrillic") >= col("n_han") &&
            col("n_cyrillic") >= col("n_digit"), lit("cyrillic"))
          .when(col("n_han") >= col("n_digit"), lit("han"))
          .otherwise(lit("digit")).as("dominant"))
  }

  /** Cross-document paragraph dedup (the Dolma rule — Soldaini et al.
    * 2024, arXiv:2402.00159 §4.1.2: a paragraph that appears in more
    * than one document is boilerplate and is dropped from EVERY
    * document, unlike [[dedupLines]] which keeps the first occurrence).
    *
    * "Seen in >= 2 distinct docs" needs no distinct-count: per paragraph
    * hash, min(doc_id) != max(doc_id) — two fully decomposable
    * aggregates, so the build pass is ONE partial-combined shuffle on
    * the 60-bit hash (no count-distinct expand), and the filter pass is
    * a hash semi-join back onto the exploded paragraphs (Dolma itself
    * uses a Bloom filter here; the q54/q69 machinery swaps in when the
    * dup-hash set outgrows a join side). Within-doc repeats of a
    * paragraph survive — only cross-doc boilerplate dies.
    *
    * Input: (id, array-of-paragraphs); output one row per input doc:
    * (doc_id, n_paras, n_dropped, kept_text) with survivors rejoined by
    * newline in original order. */
  def dropCrossDocParagraphs(df: DataFrame, idCol: String,
                             parasCol: String): DataFrame = {
    val paras = df.select(col(idCol).as("doc_id"),
        posexplode(col(parasCol)).as(Seq("pos", "para")))
      .withColumn("h", md5_long(col("para")))
    val dup = paras.groupBy("h")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .where(col("mn") =!= col("mx"))
      .select(col("h"), lit(true).as("__dup"))
    val packed = paras.join(dup, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("__dup").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(array_sort(collect_list(
          when(col("__dup").isNull, struct(col("pos"), col("para"))))),
          x => x("para")), "\n").as("kept_text"))
    df.select(col(idCol).as("doc_id")).join(packed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Exact-substring (position-level) dedup signal — the Spark-shaped
    * approximation of Lee et al. 2022's suffix-array exact-substring
    * dedup ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 §4.1), which removes repeated spans BELOW document
    * and line granularity. Every sliding `windowTokens`-token window
    * (stride = windowTokens - overlap) is fingerprinted in ONE pass over
    * the token array (chunk_spans — a composed slice/hash formulation
    * would re-run the tokenizer per window under CollapseProject); the
    * globally first occurrence (minimum (doc_id, start), a decomposable
    * map-side argmin exactly like [[dedupLines]]) owns each fingerprint,
    * and every later occurrence marks its span as duplicated text.
    *
    * Output per document: `n_spans`, `n_dup_spans`, `dup_span_tokens`
    * (token positions inside duplicated spans, counted per span — an
    * upper bound on duplicated text since adjacent windows overlap), and
    * `first_dup_start` (earliest duplicated token offset, NULL when the
    * document is clean — where a position-level trimmer would cut).
    *
    * Scale posture: the only corpus-sized shuffles key on the 60-bit
    * span hash (partial-aggregated argmin) and on doc_id (the stats
    * roll-up); window text never crosses a shuffle.
    *
    * MEASURED recall bound (the q346 planted-grid audit, defaults
    * windowTokens = 16 / overlap = 8, i.e. stride 8): a copy of an
    * L-token span from source offset o to destination offset p is
    * caught iff some window start i ≡ −o ≡ −p (mod 8) fits,
    * i + 16 ≤ L. Concretely: RELATIVE stride misalignment
    * (o ≢ p mod 8) is never caught at ANY length (q346 cases 4/5:
    * recall 0 even at L = 24); aligned copies need
    * L ≥ 16 + ((−o) mod 8) (case 10 catches at the exact boundary
    * L = 23, o = 1; case 11 misses at L = 22); sub-window copies
    * (L < 16) are invisible. Corpus-real duplication (near-identical
    * documents, boilerplate paragraphs) aligns at offset 0 and spans
    * many windows, which is why the pass works in practice — but a
    * recall-critical deployment should stride 1 (overlap =
    * windowTokens − 1) and pay the 8× span-table cost. */
  /** Shared span-flagging pass of [[substringDedupSpans]] /
    * [[substringDedupRemove]]: every sliding window span, marked
    * `is_dup` unless it is the globally first (minimum (doc_id, start))
    * occurrence of its fingerprint. */
  private def flaggedSpans(df: DataFrame, idCol: String, textCol: String,
                           windowTokens: Int, overlap: Int): DataFrame = {
    // the span table feeds BOTH the global argmin and the join back —
    // without materialization each consumer re-runs the tokenize+hash
    // scan (the q19 staging discipline). At ~32 bytes per
    // windowTokens-token span (~4 bytes/token at the default stride)
    // the materialized table is an order of magnitude smaller than the
    // text it summarizes.
    val flat = df.select(col(idCol).as("doc_id"),
        posexplode_outer(chunk_spans(ws_tokens(col(textCol)), windowTokens, overlap))
          .as(Seq("k", "sp")))
      .select(col("doc_id"), col("sp.start").as("start"),
        col("sp.end").as("end"), col("sp.hash").as("h"))
      .localCheckpoint()
    val first = flat.where(col("h").isNotNull)
      .groupBy("h").agg(min(struct(col("doc_id"), col("start"))).as("first"))
    flat.join(first, Seq("h"), "left")
      .withColumn("is_dup", col("h").isNotNull &&
        !(col("doc_id") === col("first.doc_id") && col("start") === col("first.start")))
  }

  def substringDedupSpans(df: DataFrame, idCol: String, textCol: String,
                          windowTokens: Int = 16, overlap: Int = 8): DataFrame = {
    flaggedSpans(df, idCol, textCol, windowTokens, overlap)
      .groupBy("doc_id")
      .agg(count(col("h")).as("n_spans"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_spans"),
        sum(when(col("is_dup"), col("end") - col("start")).otherwise(0L))
          .as("dup_span_tokens"),
        min(when(col("is_dup"), col("start"))).as("first_dup_start"))
  }

  /** The REMOVAL pass Lee et al. 2022 run after flagging (§4.1: "we
    * remove the duplicated substring, keeping one occurrence"): every
    * token inside any duplicated span is cut, the globally-first
    * occurrence of each fingerprint survives, and the remaining tokens
    * rejoin in order. Span flagging is [[substringDedupSpans]]'s
    * derivation verbatim (shared code); each doc's duplicate spans
    * collect to ONE row (collect_list is partition-order-dependent, so
    * the single-pass [[graft.functions.remove_token_spans]] kernel
    * sorts spans internally — the output is partitioning-independent),
    * and the cut is a sorted sweep, O(tokens + spans), never the
    * per-token exists() HOF that would go quadratic. The kept array is
    * routed through a Generate so the two output projections cannot
    * re-inline the kernel. Docs without duplicate spans (NULL spans
    * after the left join) keep every token; NULL-text docs emit
    * n_kept_tokens = 0, kept_text = ''. */
  def substringDedupRemove(df: DataFrame, idCol: String, textCol: String,
                           windowTokens: Int = 16, overlap: Int = 8): DataFrame = {
    val dupSpans = flaggedSpans(df, idCol, textCol, windowTokens, overlap)
      .where(col("is_dup"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("start"), col("end"))).as("spans"))
    df.select(col(idCol).as("doc_id"), ws_tokens(col(textCol)).as("toks"))
      .join(dupSpans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        explode(array(remove_token_spans(col("toks"), col("spans")))).as("kept"))
      .select(col("doc_id"),
        coalesce(size(col("kept")), lit(0)).cast("long").as("n_kept_tokens"),
        coalesce(array_join(col("kept"), " "), lit("")).as("kept_text"))
  }

  /** Sharded inverted index: token -> sorted posting list of the doc ids
    * containing it. `nShards` splits each token's postings by doc-id
    * hash, so no single output row can exceed ~|corpus|/nShards ids —
    * without it a stopword's posting list IS the whole corpus in one row
    * (the bounded-row discipline real posting systems use; lookups read
    * all nShards rows of a token, an equi-join on the token key).
    * `df_shard` counts THIS shard's postings only — the token's total
    * document frequency is the sum of `df_shard` over its shards. One
    * distinct + one groupBy, both partial-aggregated; the doc-id hash
    * is the engine-stable md5. */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    nShards: Int = 1): DataFrame = {
    require(nShards >= 1, s"invertedIndex needs nShards >= 1, got $nShards")
    df.select(col(idCol).as("doc_id"), explode(ws_tokens(col(textCol))).as("token"))
      .distinct()
      .withColumn("shard", md5_long(col("doc_id").cast("string")) % nShards)
      .groupBy("token", "shard")
      .agg(sort_array(collect_list(col("doc_id"))).as("postings"),
        count(lit(1)).as("df_shard"))
  }

  /** Deterministic weighted (Bernoulli) sampling: keep a row iff
    * md5(id)/2^60 < probability, where the probability is any per-row
    * column (e.g. quality-score-proportional — the data-mixing /
    * upsampling primitive). Unlike rand()-based sampling the decision is
    * a pure function of the row id, so the sample is reproducible across
    * runs, engines and partitionings, and a re-run with a higher rate is
    * a SUPERSET of the lower-rate sample (nested samples — the property
    * that makes mixing-ratio sweeps comparable). Zero shuffle. */
  def weightedSample(df: DataFrame, idCol: String, probability: Column): DataFrame =
    df.where(
      md5_long(col(idCol).cast("string")).cast("double")
        < probability * lit(1152921504606846976.0)) // 2^60

  /** Sequence-packing offsets (the GPT-style concat-then-chunk layout):
    * within each of `nBuckets` id-hash shards, documents concatenate in
    * id order and the token stream is cut into fixed `blockTokens`
    * training blocks; each document gets its bucket, its token start
    * offset, and the block range it spans. The prefix sum runs per
    * bucket — a bucket-partitioned window, never global — so at corpus
    * scale the bucket count IS the packing parallelism, and the layout
    * is deterministic (hash buckets + id order), reproducible across
    * runs and engines. */
  def packingOffsets(df: DataFrame, idCol: String, textCol: String,
                     blockTokens: Int, nBuckets: Int): DataFrame = {
    require(blockTokens >= 1 && nBuckets >= 1,
      s"packingOffsets needs positive sizes, got $blockTokens/$nBuckets")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy(col(idCol))
    df.select(col(idCol), tokenCount(col(textCol)).cast("long").as("ntok"),
        (md5_long(col(idCol).cast("string")) % nBuckets).as("bucket"))
      .withColumn("start_tok", sum(col("ntok")).over(w) - col("ntok"))
      // integral `div`, not `/`: double division loses exactness past
      // 2^53 cumulative tokens, where the floor can land one block off
      .select(col(idCol), col("bucket"), col("ntok"), col("start_tok"),
        expr(s"start_tok div $blockTokens").as("start_block"),
        expr(s"(start_tok + greatest(ntok - 1, 0)) div $blockTokens").as("end_block"))
  }

  /** Sliding token-window chunking (the RAG / long-context training
    * chunker): each document's token stream is cut into windows of
    * `chunkTokens` tokens advancing by `chunkTokens - overlap`, the last
    * window truncated at the document end; a trailing start that would
    * only re-cover the previous window's overlap region (start >=
    * ntok - overlap) is dropped. Emits one scalar row per chunk with
    * the token span and a 60-bit hash of the joined chunk text (chunk
    * identity for downstream dedup). Pure per-row expressions + one
    * posexplode — zero shuffle, embarrassingly parallel; empty/NULL
    * documents produce no chunks. */
  def chunkOffsets(df: DataFrame, idCol: String, textCol: String,
                   chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens >= 1 && overlap >= 0 && overlap < chunkTokens,
      s"chunkOffsets needs 0 <= overlap < chunkTokens, got $overlap/$chunkTokens")
    // chunk_spans walks the token array ONCE: the earlier composed
    // sequence/filter/slice form referenced the staged tokens from four
    // columns and CollapseProject re-ran the tokenizer for each
    // (measured 8x in the plan)
    df.select(col(idCol),
        posexplode(chunk_spans(ws_tokens(col(textCol)), chunkTokens, overlap)))
      .select(col(idCol),
        (col("pos") + 1).cast("long").as("chunk_idx"),
        col("col.start").as("start_tok"),
        col("col.end").as("end_tok"),
        col("col.hash").as("chunk_hash"))
  }

  private def splitCol(bucket: Column, trainPct: Int, validPct: Int): Column =
    when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + validPct, lit("validation"))
      .otherwise(lit("test"))

  /** Deterministic train/validation/test assignment: a content-
    * independent rolling hash of the document id modulo 100 buckets —
    * the standard reproducible corpus split (stable across runs,
    * partitionings and engines, unlike rand()-based splits). Zero
    * shuffle, codegen'd hash. */
  def hashSplit(df: DataFrame, idCol: String,
                trainPct: Int = 80, validPct: Int = 10): DataFrame =
    df.select(col(idCol),
        (rolling_hash(col(idCol).cast("string")) % 100).as("bucket"))
      .select(col(idCol), col("bucket"),
        splitCol(col("bucket"), trainPct, validPct).as("split"))

  /** Leakage-safe (dedup-aware) corpus split: [[hashSplit]]'s
    * deterministic bucketing applied at near-dup CLUSTER granularity —
    * every doc buckets by the rolling hash of its cluster's canonical
    * (minimum) id, so transitively-near-duplicate documents always land
    * in the SAME split and the eval split can never hold a near-copy of
    * a training document (the contamination a doc-level split bakes in:
    * with an 80/10/10 doc split, a pair of near-dups straddles
    * train/eval with ~34% probability). `edges` is any near-dup pair
    * table (MinHash-LSH, SimHash, dHash — two id columns); clustering is
    * [[Dedup.connectedComponents]], so singletons bucket by their own
    * id, which makes the operator degrade EXACTLY to [[hashSplit]] on a
    * dup-free corpus. Deterministic across runs, engines and
    * partitionings; one broadcast label join + a zero-shuffle hash
    * beyond the clustering itself.
    * Output: (id, cluster_id, bucket, split). */
  def clusterSafeSplit(docs: DataFrame, idCol: String, edges: DataFrame,
                       trainPct: Int = 80, validPct: Int = 10): DataFrame =
    Dedup.connectedComponents(edges, docs.select(col(idCol)))
      .select(col("id").as(idCol), col("cluster_id"),
        (rolling_hash(col("cluster_id").cast("string")) % 100).as("bucket"))
      .select(col(idCol), col("cluster_id"), col("bucket"),
        splitCol(col("bucket"), trainPct, validPct).as("split"))

  /** End-to-end corpus curation — the DataComp/Dolma pipeline shape:
    * quality gate + language ID + deterministic split + exact-dedup
    * canonicalization in one operator. The token statistics (count, total
    * length, stopword hits, per-language hits) come from a SINGLE
    * tokenize-explode-aggregate — one pass over every token, partial-
    * aggregated per doc before the exchange. Composing the per-row
    * builders instead would let CollapseProject re-inline the tokenizer
    * into every one of the ~15 downstream references, exploding the
    * expression tree (measured 7x the runtime of the pieces); here every
    * expression stays small and the tokenizer runs exactly once.
    * Output: one row per surviving document with
    * (id, lang_pred, n_tokens, quality_score, split). */
  def curate(df: DataFrame, idCol: String, textCol: String,
             minQuality: Double = 0.8,
             trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    val allStops = array(LangProfiles.flatMap(_._2).map(lit): _*)
    val hits = LangProfiles.map { case (lang, sw) =>
      val swArr = array(sw.map(lit): _*)
      sum(when(array_contains(swArr, col("__t")), 1L).otherwise(0L)).as(s"score_$lang")
    }
    val scoreCols = LangProfiles.map { case (lang, _) => s"score_$lang" }
    val aggs = df
      .select(col(idCol), explode(ws_tokens(col(textCol))).as("__t"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__ntokl"),
        (sum(length(col("__t"))).as("__sumlen") ::
          sum(when(array_contains(allStops, col("__t")), 1L).otherwise(0L)).as("__stop") ::
          hits.toList): _*)
    val pred = LangProfiles.foldLeft(lit(null).cast("string")) {
      case (acc, (lang, _)) =>
        when(acc.isNull && (col(s"score_$lang") === col("best")), lit(lang)).otherwise(acc)
    }
    df.select(col(idCol), col(textCol).as("text"))
      .join(aggs, Seq(idCol), "left")
      // token-free docs have no aggregate row: zero the counts so the
      // features and the argmax match the per-row builders' semantics
      .withColumns(scoreCols.map(c => c -> coalesce(col(c), lit(0L))).toMap)
      .withColumn("ntok", coalesce(col("__ntokl"), lit(0L)).cast("double"))
      .withColumn("mean_tok_len",
        when(col("ntok") > 0,
          col("__sumlen").cast("double") / col("ntok")).otherwise(lit(0.0)))
      .withColumn("alnum_ratio",
        when(length(col("text")) > 0,
          length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", "")).cast("double")
            / length(col("text"))).otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(col("ntok") > 0,
          col("__stop").cast("double") / col("ntok")).otherwise(lit(0.0)))
      .withColumn("best", greatest(scoreCols.map(c => coalesce(col(c), lit(0L))): _*))
      .withColumn("lang_pred", pred)
      .withColumn("quality_score", qualityScoreCol)
      .withColumn("split",
        splitCol(rolling_hash(col(idCol).cast("string")) % 100, trainPct, validPct))
      .withColumn("text_hash", md5(col("text").cast("binary")))
      .transform { staged =>
        // the canonical-id aggregate reads only (hash, id) — it must not
        // recompute the feature projection
        val canon = df
          .select(md5(col(textCol).cast("binary")).as("text_hash"), col(idCol).as("__cid"))
          .groupBy("text_hash").agg(min(col("__cid")).as("keep_id"))
        staged.where(col("quality_score") >= minQuality)
          .join(canon, Seq("text_hash"))
          .where(col(idCol) === col("keep_id"))
      }
      .select(col(idCol), col("lang_pred"), col("ntok").cast("long").as("n_tokens"),
        col("quality_score"), col("split"))
  }

  /** Corpus vocabulary: global token counts, top-k by (count desc, token).
    * One shuffle with map-side partial aggregation; the top-k itself is
    * `orderBy(...).limit(k)` which compiles to TakeOrderedAndProject —
    * per-partition bounded heaps merged on the driver — so the distinct-
    * token table is never globally sorted or moved to one partition (an
    * unpartitioned row_number window would do exactly that). Rank is then
    * assigned over the k surviving rows by folding them into one sorted
    * array and positionally exploding — no WindowExec anywhere in the
    * plan. */
  def vocabTopK(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val topk = df.select(explode(ws_tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(k)
    // Struct field order (negated count, token) makes the ascending
    // array_sort reproduce the (cnt desc, token asc) ranking; tokens are
    // distinct after the groupBy, so the order is total.
    topk
      .agg(array_sort(collect_list(struct((-col("cnt")).as("neg_cnt"),
        col("token").as("token"), col("cnt").as("cnt")))).as("arr"))
      .select(posexplode(col("arr")))
      .select(col("col.token").as("token"), col("col.cnt").as("cnt"),
        (col("pos") + 1).as("rank"))
  }

  /** ZIPF RANK–FREQUENCY SLOPE per group — the log-log fit of the
    * top-k token frequency spectrum (Zipf 1949: natural language runs
    * near slope −1): the one-number spectral quality signal that
    * separates natural prose (≈ −1) from template/boilerplate farms
    * (flat head, slope → 0) and keyword-stuffed spam (cliff, slope
    * ≪ −1) — the spectrum-shape complement to [[lexicalDiversity]]'s
    * type-counting view.
    *
    * Scale shape: ONE tokenize scan → per-(group, token) counts
    * (map-side combining, shuffle bounded by per-group vocabulary) →
    * the PARTIAL-COMBINING top-k aggregate
    * ([[graft.functions.top_k_by]] — never a row_number window over
    * the data-sized vocabulary), ranks read off the descending array,
    * and the fit reuses [[Stats.groupOls]]'s exact decimal machinery
    * over micro-quantized logs (round(ln·10⁶) — the corpus-wide
    * transcendental discipline; x = ln rank, y = ln count). Ties
    * break (count, token) descending — the aggregate's natural struct
    * order, replayed verbatim by the oracle. Groups with fewer than 2
    * distinct ranks drop (no fit exists). Output:
    * (group, n, slope, intercept) with n ≤ k ranked points. */
  def zipfSlope(df: DataFrame, groupCol: String, textCol: String,
                k: Int = 100): DataFrame = {
    require(k >= 3 && k <= 4096, s"zipfSlope: k must be in [3, 4096], got $k")
    val counts = df
      .select(col(groupCol), explode(ws_tokens(col(textCol))).as("__tok"))
      .groupBy(col(groupCol), col("__tok"))
      .agg(count(lit(1)).as("__cnt"))
    def lnq(c: Column): Column =
      round(log(c.cast("double")) * lit(1000000.0), 0).cast("long")
    val ranked = counts.groupBy(col(groupCol))
      .agg(top_k_by(struct(col("__cnt"), col("__tok")), k).as("__top"))
      .select(col(groupCol), posexplode(col("__top")).as(Seq("__p", "__g")))
      .select(col(groupCol), lnq(col("__p") + 1).as("__x"),
        lnq(col("__g.__cnt")).as("__y"))
    Stats.groupOls(ranked, groupCol, "__x", "__y")
  }

  /** TOKEN BURSTINESS over the top-k vocabulary (Church–Gale 1995):
    * the variance-to-mean ratio of per-document counts, zeros
    * included — Poisson-distributed function words sit near 1, bursty
    * content words run far above, and a vocabulary whose head shows NO
    * overdispersion is a template-generation fingerprint (every doc
    * repeats the same words the same number of times). The
    * dispersion complement to [[zipfSlope]]'s spectrum shape.
    *
    * With N docs, per-token collection frequency cf = Σ c_d and
    * square mass m2 = Σ c_d² (absent docs contribute 0 to both
    * exactly), VMR = Var/Mean = (N·m2 − cf²)/(N·cf) — exact integer
    * arithmetic in decimal(38,0) until ONE double division (HUGEINT in
    * the oracle). Shape: one tokenize scan → per-(doc, token) counts →
    * per-token exact moments (map-side combining, shuffle bounded by
    * vocabulary) → the PARTIAL-COMBINING global top-k aggregate
    * ((cf, token) descending ties) → the one-row doc count broadcasts
    * in. Output: (token, cf, df, n_docs, vmr). */
  def tokenBurstiness(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 50): DataFrame = {
    require(k >= 1 && k <= 4096,
      s"tokenBurstiness: k must be in [1, 4096], got $k")
    val d = "decimal(38,0)"
    val n = df.agg(count(lit(1)).as("__n"))
    val pc = df
      .select(col(idCol), explode(ws_tokens(col(textCol))).as("__tok"))
      .groupBy(col(idCol), col("__tok"))
      .agg(count(lit(1)).as("__c"))
    val pt = pc.groupBy(col("__tok"))
      .agg(sum(col("__c")).as("cf"), count(lit(1)).as("df"),
        sum(col("__c").cast(d) * col("__c").cast(d)).as("__m2"))
    val top = pt
      .agg(top_k_by(struct(col("cf"), col("__tok"), col("df"),
        col("__m2")), k).as("__top"))
      .select(explode(col("__top")).as("__g"))
      .select(col("__g.__tok").as("token"), col("__g.cf").as("cf"),
        col("__g.df").as("df"), col("__g.__m2").as("__m2"))
    val nD = col("__n").cast(d)
    top.crossJoin(broadcast(n))
      .select(col("token"), col("cf"), col("df"),
        col("__n").as("n_docs"),
        ((nD * col("__m2") - col("cf").cast(d) * col("cf").cast(d))
          .cast("double") /
          (nD * col("cf").cast(d)).cast("double")).as("vmr"))
  }

  /** Per-group lexical-diversity profile: token count, type (distinct
    * token) count, hapax legomena (types occurring exactly once in the
    * group), type–token ratio and hapax share — the vocabulary-richness
    * fingerprint that separates natural prose from template/boilerplate
    * farms (low TTR, few hapax) and from gibberish (TTR → 1) in a crawl
    * quality pass.
    *
    * Scale shape: ONE tokenize scan → a (group, token) count histogram
    * (map-side combining — the shuffle is bounded by per-group
    * vocabulary, never token count) → one group rollup. All counts are
    * exact longs; the two ratios are fixed-shape double divisions over
    * them (engine-exact). Groups whose text yields zero tokens are
    * absent (inner semantics). Output: (group, n_tokens, n_types,
    * n_hapax, ttr, hapax_ratio). */
  def lexicalDiversity(df: DataFrame, groupCol: String,
                       textCol: String): DataFrame = {
    val hist = df
      .select(col(groupCol), explode(ws_tokens(col(textCol))).as("__t"))
      .groupBy(col(groupCol), col("__t"))
      .agg(count(lit(1)).as("__c"))
    hist
      .groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col(groupCol), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"),
        (col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_ratio"))
  }

  /** χ²-DISTINCTIVE terms per group: which tokens are over-represented
    * in this source vs the rest of the corpus — the classic
    * chi-squared keyword/feature-selection statistic over the 2×2
    * token-occurrence contingency (a = t in s, b = t elsewhere,
    * c = other tokens in s, d = other tokens elsewhere):
    *
    *   χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))
    *
    * restricted to positive association (ad > bc). The vocabulary
    * fingerprint of each crawl source (what language does this domain
    * over-use), and the drift detector between two corpus snapshots.
    *
    * Scale shape: ONE tokenize scan → a (group, token) histogram
    * bounded by vocabulary, then two co-partitioned joins against the
    * token and group marginals and a one-row corpus total cross-joined
    * in lazily (the trailingActives discipline). Counts are exact
    * longs; the χ² tail casts the four cells to double FIRST and runs
    * one fixed shape of products and a division (a·d can exceed int64
    * at corpus scale — the double products are deterministic IEEE,
    * engine-exact). Output: (group, token, a, chi2), filtered to
    * a ≥ minCount and χ² ≥ minChi2. */
  def distinctiveTerms(df: DataFrame, groupCol: String, textCol: String,
                       minCount: Long, minChi2: Double): DataFrame = {
    val cell = df
      .select(col(groupCol), explode(ws_tokens(col(textCol))).as("token"))
      .groupBy(col(groupCol), col("token"))
      .agg(count(lit(1)).as("a")).localCheckpoint() // three readers below
    val tokTotal = cell.groupBy(col("token")).agg(sum(col("a")).as("__tt"))
    val grpTotal = cell.groupBy(col(groupCol)).agg(sum(col("a")).as("__gt"))
    val total = cell.agg(sum(col("a")).as("__n"))
    val aD = col("a").cast("double")
    val bD = (col("__tt") - col("a")).cast("double")
    val cD = (col("__gt") - col("a")).cast("double")
    val dD = (col("__n") - col("__tt") - col("__gt") + col("a"))
      .cast("double")
    val diff = aD * dD - bD * cD
    cell
      .join(tokTotal, "token")
      .join(grpTotal, groupCol)
      .crossJoin(total)
      .withColumn("chi2",
        col("__n").cast("double") * diff * diff
          / ((aD + bD) * (cD + dD) * (aD + cD) * (bD + dD)))
      .where(col("a") >= minCount && diff > 0.0 &&
        col("chi2") >= minChi2)
      .select(col(groupCol), col("token"), col("a"), col("chi2"))
  }

  /** Pairwise VOCABULARY Jaccard between groups: |V_a ∩ V_b| /
    * |V_a ∪ V_b| over each group's distinct-token set — the
    * source-similarity matrix behind mirror detection ("these two
    * domains publish the same language") and dedup-aware sampling
    * across a bounded roster of sources.
    *
    * Scale shape: one tokenize scan → per-group distinct vocabulary →
    * a token-equi self-join whose pair fan-out is Σ_t s_t² with s_t =
    * groups containing token t — bounded by the GROUP ROSTER squared,
    * which is this operator's contract (named sources / languages /
    * shards, not per-document groups; for doc-level near-dup use the
    * MinHash/PPJoin family, which bounds candidates by bands and
    * prefixes instead). Counts are exact longs; Jaccard is the one
    * fixed-shape double division. Canonical g_a < g_b rows.
    * Output: (g_a, g_b, n_a, n_b, n_inter, jaccard). */
  def vocabJaccard(df: DataFrame, groupCol: String,
                   textCol: String): DataFrame = {
    val vocab = df
      .select(col(groupCol).as("g"),
        explode(ws_tokens(col(textCol))).as("token"))
      .distinct().localCheckpoint() // sizes + both join sides read it
    val sizes = vocab.groupBy(col("g")).agg(count(lit(1)).as("nv"))
    vocab.select(col("g").as("g_a"), col("token"))
      .join(vocab.select(col("g").as("g_b"), col("token")), "token")
      .where(col("g_a") < col("g_b"))
      .groupBy(col("g_a"), col("g_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("g").as("g_a"), col("nv").as("n_a")), "g_a")
      .join(sizes.select(col("g").as("g_b"), col("nv").as("n_b")), "g_b")
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        col("n_inter"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
          .as("jaccard"))
  }

  /** Vocabulary HEAVY-CHANGE report between two corpus snapshots: the
    * top-k tokens by absolute occurrence-count change — "what language
    * appeared or vanished between yesterday's crawl and today's" (the
    * heavy-change detection problem over term frequencies; the exact
    * small-k companion to sketch-based change detection). One count
    * histogram per side (map-side combining, bounded by vocabulary), a
    * full-outer merge on token, and a TakeOrdered top-k on
    * (|Δ| desc, token asc) — per-partition heaps, no global sort, no
    * window. All exact longs. Output: (token, n_a, n_b, delta,
    * abs_delta), the k largest movers. */
  def vocabDrift(dfA: DataFrame, dfB: DataFrame, textCol: String,
                 k: Int): DataFrame = {
    require(k >= 1, s"vocabDrift needs k >= 1, got $k")
    def counts(df: DataFrame, out: String) = df
      .select(explode(ws_tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as(out))
    counts(dfA, "n_a")
      .join(counts(dfB, "n_b"), Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .withColumn("delta", col("n_b") - col("n_a"))
      .withColumn("abs_delta", abs(col("delta")))
      .orderBy(col("abs_delta").desc, col("token").asc)
      .limit(k)
  }

  /** Data-derived gazetteer: the top-k tokens of length >= minLen by
    * DOCUMENT frequency (count of distinct docs containing the token),
    * ranked (df desc, token asc) — a deterministic stand-in for a curated
    * dictionary in the tagging/collocation operators below. Returns the
    * ranked term list as a driver-side Seq: the dictionary is bounded by
    * k (the Bloom-roster/centroid pattern), never data-sized.
    *
    * Scale shape: one tokenize scan -> per-doc distinct -> token groupBy
    * (both map-side combining), then TakeOrderedAndProject for the top-k
    * (per-partition heaps, no global sort). */
  def buildDictionary(df: DataFrame, idCol: String, textCol: String,
                      topK: Int, minLen: Int): Seq[String] =
    // fanOut tried and REVERTED (r17 paired A/B: every collocation-family
    // gate +0.3-0.6 s): the probe + extra shuffle stage cost more than
    // the ~0.25 s single-core tokenize of a 5k-doc corpus saves
    df.select(col(idCol), explode(ws_tokens(col(textCol))).as("__t"))
      .where(length(col("__t")) >= minLen)
      .distinct()
      .groupBy(col("__t")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("__t").asc)
      .limit(topK)
      .select(col("__t"))
      .collect().map(_.getString(0)).toSeq

  /** Gazetteer tagging: for every (doc, dictionary term) with at least
    * one hit, the number of non-overlapping occurrences of the term as a
    * SUBSTRING of the lower-cased text — entity/keyword annotation over
    * a corpus. ONE Aho–Corasick pass per document regardless of
    * dictionary size (see [[graft.functions.DictMatchCounts]]), where
    * the naive plan — and the DuckDB oracle — pays a docs x dictionary
    * nested loop of `replace` scans. Map-only: no shuffle, no join; the
    * dictionary rides the plan as a literal. */
  def dictTag(df: DataFrame, idCol: String, textCol: String,
              terms: Seq[String]): DataFrame =
    df.select(col(idCol),
        explode(dict_match_counts(lower(col(textCol)), terms)).as("m"))
      .select(col(idCol), col("m.term").as("term"), col("m.cnt").as("cnt"))

  /** Collocation mining over a bounded vocabulary: for every unordered
    * vocab-term pair co-occurring in at least `minPairDocs` documents,
    * the document co-occurrence count and the PMI-style lift
    * N * df(a,b) / (df(a) * df(b)) (> 1 = the pair co-occurs more than
    * independence predicts). All counts are exact longs; the lift is ONE
    * int64 multiply per side cast to double and ONE divide, so the
    * floating-point value is engine-exact.
    *
    * Scale shape: the vocabulary bounds everything — presence rows are
    * docs x |vocab| at most (literal `isin` filter pushed into the
    * tokenize scan's output before the distinct), the self-join is
    * co-partitioned on doc_id (one shuffle feeds both sides), and the
    * pair space is |vocab|^2/2 regardless of corpus size. Per-term
    * document frequencies are a vocab-sized broadcast; N is one
    * count scan collapsing to a plan literal. Never all-pairs over
    * documents, never a global window. */
  def collocations(df: DataFrame, idCol: String, textCol: String,
                   vocab: Seq[String], minPairDocs: Int): DataFrame =
    collocationsWithN(df, idCol, textCol, vocab, minPairDocs).drop("__n")

  /** [[collocations]] plus the distinct-doc count as a rider column
    * `__n` — the count rides a ONE-ROW broadcast into the final plan
    * (the trailingActives pattern) instead of an EAGER count job per
    * call: a dozen collocation-graph gates each paid that job before
    * building anything, and [[collocationNpmi]] reads the same column
    * instead of a driver-side constant. Values are bit-identical: the
    * lift/npmi arithmetic runs the same ops over the same integers
    * whether n arrives as a literal or a broadcast column. */
  private def collocationsWithN(df: DataFrame, idCol: String,
                                textCol: String, vocab: Seq[String],
                                minPairDocs: Int): DataFrame = {
    val presence = df.select(col(idCol),
        explode(ws_tokens(col(textCol))).as("__t"))
      .where(col("__t").isin(vocab: _*))
      .distinct()
      .localCheckpoint() // one tokenize scan feeds both join sides + df
    val nd = df.select(col(idCol)).distinct()
      .agg(count(lit(1)).as("__n"))
    val termDf = presence.groupBy(col("__t")).agg(count(lit(1)).as("df"))
    val pairs = presence.as("a")
      .join(presence.as("b"), Seq(idCol))
      .where(col("a.__t") < col("b.__t"))
      .groupBy(col("a.__t").as("term_a"), col("b.__t").as("term_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minPairDocs)
    pairs
      .join(broadcast(termDf.select(col("__t").as("term_a"),
        col("df").as("__dfa"))), "term_a")
      .join(broadcast(termDf.select(col("__t").as("term_b"),
        col("df").as("__dfb"))), "term_b")
      .crossJoin(broadcast(nd))
      .select(col("term_a"), col("term_b"), col("n_ab"),
        ((col("n_ab") * col("__n")).cast("double") /
          (col("__dfa") * col("__dfb")).cast("double")).as("lift"),
        col("__n"))
  }

  /** NPMI-scored collocations (Bouma 2009) — [[collocations]]' lift
    * put on the calibrated [−1, 1] scale the curation literature
    * actually thresholds: npmi = pmi / −ln p(a,b), where +1 means the
    * terms only occur together, 0 independence, −1 never together.
    * Lift alone inflates rare pairs (two singletons co-occurring once
    * get a huge lift); the normalization divides that away, which is
    * why phrase-mining pipelines rank by npmi.
    *
    * Exactness: pmi and −ln p(a,b) quantize to integer micro-nats
    * INDEPENDENTLY (one ln each per distinct pair, rounded once — the
    * q58/q91 vocabulary-table discipline), and npmi is their ONE
    * double ratio, so both engines divide identical longs. A pair in
    * EVERY document has −ln p = 0: npmi is +1 there by convention
    * (the pmi numerator is necessarily 0 too). Same scale shape as
    * [[collocations]]: presence explode, doc-key self-join bounded by
    * the dictionary, broadcast df joins. Output: (term_a, term_b,
    * n_ab, lift, pmi_micro, npmi). */
  def collocationNpmi(df: DataFrame, idCol: String, textCol: String,
                      vocab: Seq[String], minPairDocs: Int): DataFrame = {
    val lifted = collocationsWithN(df, idCol, textCol, vocab, minPairDocs)
    val pmiQ = round(log(col("lift")) * 1e6, 0).cast("long")
    val denQ = (-round(log(col("n_ab").cast("double") /
      col("__n").cast("double")) * 1e6, 0)).cast("long")
    lifted
      .select(col("term_a"), col("term_b"), col("n_ab"), col("lift"),
        pmiQ.as("pmi_micro"), denQ.as("__den"))
      .select(col("term_a"), col("term_b"), col("n_ab"), col("lift"),
        col("pmi_micro"),
        when(col("__den") === 0L, lit(1.0))
          .otherwise(col("pmi_micro").cast("double") /
            col("__den").cast("double")).as("npmi"))
  }

  /** RAKE-style KEYWORD PHRASES (Rose et al. 2010): candidate phrases
    * are maximal runs of non-stopword tokens (the classic gaps-and-
    * islands split — a stopword ends a phrase), each word scores
    * deg(w)/freq(w) over the candidate set (deg = Σ lengths of the
    * phrases containing w — long phrases boost their members; freq =
    * w's occurrence count — ubiquity damps), and a phrase scores the
    * sum of its word scores. The top-k phrases by (score DESC, phrase
    * ASC) are the corpus keyword profile — multi-word terminology that
    * unigram TF-IDF (q50) and PMI pairs (q129) both miss.
    *
    * Exactness: deg and freq are exact longs, each word score is ONE
    * double division, and the phrase sum folds STRICTLY left-to-right
    * in word order (functions.aggregate with a 0.0 seed — IEEE-
    * identical to the oracle's list_reduce over the 0.0-prepended
    * ordered list), so scores are engine-exact. Scale shape: one
    * tokenize scan; islands from a per-doc window (bounded by one
    * document's tokens); word stats are a vocabulary-sized aggregate;
    * the final top-k is a TakeOrdered, never a global sort. The
    * stopword roster rides the plan as a literal (the dictTag
    * discipline) — derive it with [[buildDictionary]]. */
  def rakePhrases(df: DataFrame, idCol: String, textCol: String,
                  stopwords: Seq[String], k: Int): DataFrame = {
    require(k >= 1, s"rakePhrases needs k >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("__doc"),
      posexplode(ws_tokens(col(textCol))).as(Seq("__pos", "__t")))
    val ns = if (stopwords.isEmpty) toks
      else toks.where(!col("__t").isin(stopwords: _*))
    val w = Window.partitionBy(col("__doc")).orderBy(col("__pos"))
    val phrases = ns
      .withColumn("__isl", col("__pos") - row_number().over(w))
      .groupBy(col("__doc"), col("__isl"))
      .agg(sort_array(collect_list(struct(col("__pos"), col("__t"))))
        .as("__ws"))
      .select(col("__doc"), col("__isl"),
        transform(col("__ws"), x => x("__t")).as("__words"))
      .localCheckpoint() // feeds word stats AND phrase scoring
    val stats = phrases
      .select(explode(col("__words")).as("__t"),
        size(col("__words")).cast("long").as("__len"))
      .groupBy(col("__t"))
      .agg(count(lit(1)).as("__freq"), sum(col("__len")).as("__deg"))
    phrases
      .withColumn("__phrase", concat_ws(" ", col("__words")))
      .select(col("__doc"), col("__isl"), col("__phrase"),
        posexplode(col("__words")).as(Seq("__wp", "__t")))
      .join(stats, "__t")
      .groupBy(col("__doc"), col("__isl"), col("__phrase"))
      .agg(sort_array(collect_list(struct(col("__wp"),
        (col("__deg").cast("double") / col("__freq").cast("double"))
          .as("__sc")))).as("__scs"))
      .select(col("__phrase"),
        aggregate(transform(col("__scs"), x => x("__sc")),
          lit(0.0), (acc, x) => acc + x).as("__score"))
      .groupBy(col("__phrase").as("phrase"))
      .agg(count(lit(1)).as("n_occurrences"), max(col("__score")).as("score"))
      .orderBy(col("score").desc, col("phrase").asc)
      .limit(k)
  }

  /** VOCABULARY GROWTH CURVE over an ordered ingestion axis (the Heaps
    * law profile): per batch, the token volume, the number of NEVER-
    * SEEN-BEFORE types, and the running vocabulary size against the
    * running token total. The curve is the corpus-curation saturation
    * dial — a healthy growing crawl adds types roughly ∝ tokens^β
    * (β ≈ 0.5); a flat new-type line means the source is exhausted
    * (more tokens, nothing new), a spike means a domain/language mix
    * shift (or an encoding bug minting fake types).
    *
    * Scale shape: everything data-sized stays in TWO map-side-combining
    * hash aggregations — per-token FIRST batch (one row per vocabulary
    * type, the q187 vocabulary-bounded discipline) and per-batch token
    * volume; only the per-batch table (CHECKED ≤ maxBatches rows — an
    * ingestion axis is days/dumps, never data-sized) flows into the
    * cumulative windows, so the unpartitioned running sums sort a
    * bounded-stats frame, not the corpus. Exact longs throughout.
    * Output: (batch, n_tokens, cum_tokens, new_types, vocab_size). */
  def vocabGrowth(df: DataFrame, textCol: String, batchCol: String,
                  maxBatches: Long = 100000L): DataFrame =
    vocabCurve(vocabBatchTokens(df, textCol, batchCol),
      vocabFirstSeen(df, textCol, batchCol), maxBatches)

  /** The [[vocabGrowth]] STATE, exposed for incremental maintenance:
    * per-token FIRST batch (one row per vocabulary type — the
    * vocabulary-bounded half). */
  def vocabFirstSeen(df: DataFrame, textCol: String,
                     batchCol: String): DataFrame =
    df.select(col(batchCol).cast("long").as("batch"),
        explode(ws_tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(min(col("batch")).as("batch"))

  /** The other [[vocabGrowth]] state half: token volume per batch. */
  def vocabBatchTokens(df: DataFrame, textCol: String,
                       batchCol: String): DataFrame =
    df.select(col(batchCol).cast("long").as("batch"),
        explode(ws_tokens(col(textCol))).as("token"))
      .groupBy(col("batch")).agg(count(lit(1)).as("n_tokens"))

  /** O(delta) INCREMENTAL [[vocabGrowth]] — the q214 fold discipline
    * applied to the Heaps curve: both state halves are MERGEABLE
    * (first-seen under min — a token's first batch can only move
    * earlier, and an append-only fresh slice can never move it at
    * all; per-batch volumes under sum over disjoint batch sets), so a
    * new ingestion slice folds into persisted state by tokenizing
    * ONLY the fresh rows — the historical corpus is never rescanned —
    * and the refreshed curve is provably equal to the full rebuild
    * (the gate's oracle IS the rebuild). The merge is vocabulary- and
    * batch-bounded work, not corpus-bounded. */
  def vocabGrowthDelta(prevFirstSeen: DataFrame, prevBatchTokens: DataFrame,
                       fresh: DataFrame, textCol: String, batchCol: String,
                       maxBatches: Long = 100000L): DataFrame = {
    val mergedFirst = prevFirstSeen.toDF("token", "batch")
      .unionByName(vocabFirstSeen(fresh, textCol, batchCol))
      .groupBy(col("token")).agg(min(col("batch")).as("batch"))
    val mergedCounts = prevBatchTokens.toDF("batch", "n_tokens")
      .unionByName(vocabBatchTokens(fresh, textCol, batchCol))
      .groupBy(col("batch")).agg(sum(col("n_tokens")).as("n_tokens"))
    vocabCurve(mergedCounts, mergedFirst, maxBatches)
  }

  /** Curve assembly shared by [[vocabGrowth]] and [[vocabGrowthDelta]]:
    * new-type counts off the first-seen table, then the cumulative
    * windows over the CHECKED bounded batch table only. */
  private def vocabCurve(perBatch: DataFrame, firstSeen: DataFrame,
                         maxBatches: Long): DataFrame = {
    val newTypes = firstSeen.groupBy(col("batch"))
      .agg(count(lit(1)).as("new_types"))
    val (curve, _) = Contracts.checkpoint(
      perBatch.join(newTypes, Seq("batch"), "left")
        .select(col("batch"), col("n_tokens"),
          coalesce(col("new_types"), lit(0L)).as("new_types")),
      Contracts.Bound(count(lit(1)),
      _ <= maxBatches, b =>
        s"vocabGrowth: $b batches exceed maxBatches=$maxBatches — the " +
          "cumulative windows sort the batch table, which must stay " +
          "bounded (coarsen the batch axis)."))
    import org.apache.spark.sql.expressions.Window
    // unpartitioned by design: runs over the CHECKED bounded batch table
    val w = Window.orderBy(col("batch"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    curve.select(col("batch"), col("n_tokens"),
      sum(col("n_tokens")).over(w).as("cum_tokens"),
      col("new_types"),
      sum(col("new_types")).over(w).as("vocab_size"))
  }

  // --------------------------------------------------------------------
  // Unigram-LM (SentencePiece-style) tokenizer training — Viterbi EM
  // --------------------------------------------------------------------

  /** The corpus word table every unigram stage runs over: lower-cased
    * whitespace tokens collapsed to (word, freq, len) — vocabulary-
    * bounded (CHECKED), the [[bpeTrain]] discipline. Words longer than
    * `maxWordLen` drop EXPLICITLY (deterministic, the oracle replays
    * the same filter) — they would blow the DP bound and the enc
    * packing (start·100 + length needs len ≤ 99). */
  private def unigramWords(df: DataFrame, textCol: String,
                           maxWordLen: Int,
                           maxDistinctWords: Long): DataFrame = {
    require(maxWordLen >= 1 && maxWordLen <= 99,
      s"unigram: maxWordLen must be in [1, 99] (enc packing), got " +
        s"$maxWordLen")
    val (words, _) = Contracts.checkpoint(df
      .select(explode(ws_tokens(col(textCol))).as("word"))
      .where(length(col("word")) <= maxWordLen)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("len", length(col("word"))),
      Contracts.Bound(count(lit(1)),
      _ <= maxDistinctWords, m =>
        s"unigram: $m distinct words exceed the vocabulary-bounded " +
          s"contract (maxDistinctWords=$maxDistinctWords) — normalize " +
          "or pre-filter the corpus"))
    words
  }

  /** Every (start, length) substring of every distinct word up to
    * `maxPieceLen`, with its enc = start·100 + length packing (the
    * lis_pairs discipline): the candidate grid both seeding and each
    * EM round's segmentation join run over. One flatten(transform(
    * sequence)) HOF per word — no self-join, no window. */
  private def unigramGrid(words: DataFrame, maxPieceLen: Int): DataFrame =
    words.select(col("word"), col("freq"), col("len"),
        explode(flatten(transform(
          sequence(lit(1), col("len")),
          s => transform(
            sequence(lit(1), least(lit(maxPieceLen), col("len") - s + 1)),
            l => (s * 100 + l).cast("long"))))).as("enc"))
      .withColumn("piece", substring(col("word"),
        (col("enc") / 100L).cast("int"), (col("enc") % 100L).cast("int")))

  /** Viterbi-segments every distinct word under a scored vocabulary
    * (piece, p): candidates joined from the grid, packed into paired
    * (enc, p) arrays via ONE deterministic sort_array, and the
    * [[graft.functions.UnigramViterbi]] kernel returns the chosen
    * pieces' encodings. Output: (word, freq, segs array<long>). */
  private def unigramViterbiWords(grid: DataFrame,
                                  vocabP: DataFrame): DataFrame =
    grid.join(vocabP, Seq("piece"))
      .groupBy(col("word"), col("freq"), col("len"))
      .agg(sort_array(collect_list(struct(col("enc"), col("p"))))
        .as("__c"))
      .select(col("word"), col("freq"),
        unigram_viterbi(col("len"),
          transform(col("__c"), c => c("enc")),
          transform(col("__c"), c => c("p"))).as("segs"))

  /** UNIGRAM-LM TOKENIZER TRAINER (Kudo 2018's SentencePiece setting,
    * hard-EM / Viterbi variant) — the other production tokenizer shape
    * beside [[bpeTrain]]'s BPE: instead of greedy merges, a PROBABILITY
    * over a piece vocabulary is fit by EM and the vocabulary pruned,
    * which is what T5/mT5-style corpora were budgeted with.
    *
    *   seed   : every substring (≤ maxPieceLen chars) of the bounded
    *            word table, weighted by occurrence·word-freq; vocab₀ =
    *            ALL single characters ∪ top `seedSize` multi-char
    *            pieces by (count DESC, piece ASC)
    *   E-step : Viterbi-segment every distinct word under the current
    *            smoothed piece probabilities p = (cnt+1)/(N+V)
    *            (+1 smoothing keeps every p strictly positive, so the
    *            DP never multiplies by zero)
    *   M-step : new counts = Σ word-freq over chosen pieces
    *   prune  : single characters ALWAYS stay (coverage — the kernel
    *            throws on an uncoverable position otherwise); multi-
    *            char pieces keep only cnt > 0, top `vocabSize` by
    *            (cnt DESC, piece ASC)
    *
    * Exactness: counts are exact integers; each probability is ONE
    * correctly-rounded IEEE division of integers; each Viterbi product
    * is a fixed-order chain of correctly-rounded multiplications
    * (see [[graft.functions.UnigramViterbi]] — no logs, no exp), and
    * every tie-break is total (count DESC then piece ASC; product then
    * smallest start) — so a DuckDB oracle unrolling the same rounds
    * with a recursive-CTE DP replays the trainer BIT-FOR-BIT (q233).
    *
    * Scale shape: everything runs over the CHECKED vocabulary-bounded
    * word table (never raw tokens — the one-tokenize discipline); each
    * round is two hash joins + two hash aggregations + one bounded
    * TakeOrdered, localCheckpoint'ed (the bpeTrain round discipline);
    * the only driver state is the two-long (N, V) total per round.
    * Output: (piece, cnt, prob) of the final vocabulary. */
  def unigramLmTrain(df: DataFrame, textCol: String, seedSize: Int,
                     rounds: Int, maxPieceLen: Int, vocabSize: Int,
                     maxWordLen: Int = 16,
                     maxDistinctWords: Long = 2000000L): DataFrame = {
    require(seedSize >= 1 && rounds >= 1 && maxPieceLen >= 1 &&
      vocabSize >= 1,
      s"unigramLmTrain needs seedSize/rounds/maxPieceLen/vocabSize >= 1")
    val spark = df.sparkSession
    val words = unigramWords(df, textCol, maxWordLen, maxDistinctWords)
    val grid = unigramGrid(words, maxPieceLen).localCheckpoint()
    // seed vocabulary: all chars + top multi-char substrings
    val seedCounts = grid.groupBy(col("piece"))
      .agg(sum(col("freq")).as("cnt"))
    val chars = seedCounts.where(length(col("piece")) === 1)
    val multis = seedCounts.where(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece").asc).limit(seedSize)
    var vocab = chars.unionByName(multis).localCheckpoint()
    def withProbs(v: DataFrame): DataFrame = {
      val tot = v.agg(sum(col("cnt")), count(lit(1))).head()
      if (tot.isNullAt(1) || tot.getLong(1) == 0L)
        return v.withColumn("p", lit(0.0))
      val nv = (if (tot.isNullAt(0)) 0L else tot.getLong(0)) +
        tot.getLong(1)
      v.withColumn("p",
        (col("cnt") + 1L).cast("double") / lit(nv.toDouble))
    }
    var round = 1
    while (round <= rounds) {
      val vp = withProbs(vocab).select(col("piece"), col("p"))
      val segged = unigramViterbiWords(grid, vp)
      val newCounts = segged
        .select(col("freq"), col("word"), explode(col("segs")).as("enc"))
        .select(col("freq"), substring(col("word"),
          (col("enc") / 100L).cast("int"),
          (col("enc") % 100L).cast("int")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      val refreshed = vocab.select(col("piece"))
        .join(newCounts, Seq("piece"), "left_outer")
        .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      val keptChars = refreshed.where(length(col("piece")) === 1)
      val keptMultis = refreshed
        .where(length(col("piece")) >= 2 && col("cnt") > 0L)
        .orderBy(col("cnt").desc, col("piece").asc).limit(vocabSize)
      vocab = keptChars.unionByName(keptMultis).localCheckpoint()
      round += 1
    }
    withProbs(vocab).select(col("piece"), col("cnt"),
      col("p").as("prob"))
  }

  /** Corpus token budgeting under a TRAINED unigram vocabulary (the
    * q123 join-back shape for q234): Viterbi-segments every distinct
    * word once under the vocab's probabilities and joins the per-word
    * piece counts back onto the documents — per doc, the whitespace
    * word count and the unigram piece (token) count a trainer would
    * pay for it. Output: (doc_id, n_words, n_pieces). */
  def unigramTokenCounts(df: DataFrame, idCol: String, textCol: String,
                         vocab: DataFrame, maxPieceLen: Int,
                         maxWordLen: Int = 16,
                         maxDistinctWords: Long = 2000000L): DataFrame = {
    val words = unigramWords(df, textCol, maxWordLen, maxDistinctWords)
    val grid = unigramGrid(words, maxPieceLen)
    val vp = vocab.select(col("piece"), col("prob").as("p"))
    val perWord = unigramViterbiWords(grid, vp)
      .select(col("word"), size(col("segs")).as("__np"))
    df.select(col(idCol), explode(ws_tokens(col(textCol))).as("word"))
      .where(length(col("word")) <= maxWordLen)
      .join(perWord, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__np")).as("n_pieces"))
  }

  /** FIRST-FIT-DECREASING SEQUENCE PACKING per key — the padding-
    * minimizing alternative to [[packingOffsets]]' concat-then-chunk
    * layout: whole documents (never split) pack into fixed-capacity
    * context windows, longest first, each into the first bin it fits
    * (Johnson 1973 — FFD wastes ≤ 11/9·OPT + 1 bins; the standard
    * LLM-pretraining "sequence packing" recipe when document
    * integrity matters, e.g. contrastive or instruction data).
    *
    * Determinism: docs order by (tokens DESC, id ASC) — ties broken by
    * id — and the greedy fold is a pure function of that order, so the
    * assignment is reproducible across runs, engines and
    * partitionings (the oracle replays the identical fold as a
    * recursive CTE). Token counts are CHECKED ∈ [1, capacity] (an
    * oversize doc cannot pack — chunk it first with [[chunkOffsets]])
    * and NULL ids are rejected.
    *
    * Scale shape: packing is inherently sequential WITHIN a key, so
    * the fold runs inside ONE [[graft.functions.FfdPack]] expression
    * over the key's collected doc list — bounded by the CHECKED
    * maxDocsPerKey contract — and keys pack in parallel: at corpus
    * scale the key (a hash shard, a source, a language) IS the packing
    * parallelism, exactly like [[packingOffsets]]' buckets. The fold
    * is a custom single-pass expression, NOT an `aggregate` HOF:
    * CollapseProject re-inlines the first-fit scan into the
    * load-update lambda where it re-runs per array element (measured
    * 163 s vs <1 s at sf0.1). O(docs·bins) comparisons per key — the
    * ADVERSARIAL shape is every doc near capacity (one bin per doc →
    * docs²/2 comparisons in one task), which is why the default
    * maxDocsPerKey is 20k (≤ 2·10⁸ comparisons worst case, bounded
    * seconds); raise it only when the size distribution is known to
    * pack densely. No shuffle beyond the one groupBy.
    * Output: (key, id, tokens, bin) — bin ids dense from 0 per key.
    *
    * @note BREAKING DEFAULT CHANGE (round 14): maxDocsPerKey's default
    *       TIGHTENED from 100000 to 20000 because of the docs²/2
    *       adversarial shape above — a caller who previously packed
    *       20k–100k docs per key under the old default now trips the
    *       bounded-fold contract. That failure is LOUD and carries
    *       the remedy: shard the key, or pass
    *       `maxDocsPerKey = 100000L` explicitly to accept the old
    *       worst case (≤ 5·10⁹ comparisons in one task). */
  def packFirstFitDecreasing(df: DataFrame, keyCol: String, idCol: String,
                             tokCol: String, capacity: Long,
                             maxDocsPerKey: Long = 20000L): DataFrame = {
    require(capacity >= 1L,
      s"packFirstFitDecreasing: capacity must be >= 1, got $capacity")
    val (rows, _) = Contracts.checkpoint(
      df.select(col(keyCol), col(idCol).as("__id"),
        col(tokCol).cast("long").as("__tok")),
      Contracts.Bound(sum(when(col("__id").isNull || col("__tok").isNull ||
        col("__tok") < 1L || col("__tok") > capacity, 1L).otherwise(0L)),
        _ == 0L, b =>
          s"packFirstFitDecreasing: $b rows carry a NULL id or a token " +
            s"count outside [1, capacity=$capacity] — chunk oversize " +
            "docs first (chunkOffsets) and drop empties"))
    Contracts.boundedPerKey(rows, keyCol, maxDocsPerKey,
      "packFirstFitDecreasing", "documents",
      "Pack within finer keys (add a hash-shard column) to bound the " +
        "per-key sequential fold — worst case (every doc near " +
        "capacity) costs docs^2/2 comparisons inside ONE task.",
      "bounded-fold")
    val sorted = rows.groupBy(col(keyCol))
      .agg(array_sort(collect_list(struct(
        (-col("__tok")).as("s1"), col("__id").as("s2"),
        col("__tok").as("tok")))).as("__sorted"))
    val folded = sorted.withColumn("__asg",
      ffd_pack(transform(col("__sorted"), _.getField("tok")), capacity))
    folded
      .select(col(keyCol), posexplode(zip_with(col("__sorted"),
        col("__asg"), (d, b) => struct(
          d.getField("s2").as("id"), d.getField("tok").as("tokens"),
          b.cast("long").as("bin")))))
      .select(col(keyCol), col("col.id").as(idCol),
        col("col.tokens").as("tokens"), col("col.bin").as("bin"))
  }

  /** READABILITY PROFILE per document — Flesch reading ease and
    * Flesch–Kincaid grade (Kincaid et al. 1975; the classic curation
    * signal: too-hard and too-trivial documents both correlate with
    * low training value, and per-source readability drift flags a
    * scraper regression): whitespace words, sentence-mark sentences
    * ([.!?]+ runs, floored at 1), and the standard vowel-group
    * syllable heuristic (runs of [aeiouy] per word, floored at 1 —
    * the public approximation every readability library uses).
    *
    * Exactness: W, S, Y are exact integer counts, and both scores
    * unroll to ONE division of exact int64 operands over the common
    * denominator W·S (coefficients ×100 / ×1000 clear the decimals):
    *
    *   grade·(100·W·S) = 39·W² + 1180·Y·S − 1559·W·S
    *   ease·(1000·W·S) = 206835·W·S − 1015·W² − 84600·Y·S
    *
    * W ≤ 10⁶, S ≤ 10⁶ and Y ≤ 10⁷ per doc are ALL CHECKED — S is
    * bounded by punctuation runs and Y by vowel runs, neither by W,
    * so bounding W alone would let a punctuation- or vowel-dense doc
    * wrap 206835·W·S / 84600·Y·S past int64 silently. Under the three
    * bounds the largest product is 84600·Y·S ≤ 8.5·10¹⁷ < 2⁶³.
    * Empty/NULL text is rejected loudly (a 0-word doc has no
    * readability — filter first).
    *
    * Scale shape: pure per-row column expressions (map-only, one
    * codegen stage, no shuffle, no UDF) — the regex work runs inside
    * whole-stage codegen next to the scan.
    * Output: (id, words, sentences, syllables, fk_grade, flesch_ease). */
  def readabilityProfile(df: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    Contracts.enforce(df,
      Contracts.Bound(sum(when(col(textCol).isNull ||
        length(trim(col(textCol))) === 0, 1L).otherwise(0L)), _ == 0L,
        b => s"readabilityProfile: $b NULL/empty documents — filter " +
          "them out first (a 0-word doc has no readability)"))
    val words = ws_tokens(col(textCol))
    val w = size(words).cast("long")
    val s = greatest(lit(1L),
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0)))
        .cast("long"))
    val y = aggregate(words, lit(0L), (acc, t) => acc +
      greatest(lit(1L),
        size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0)))
          .cast("long")))
    val (out, _) = Contracts.checkpoint(
      df.select(col(idCol), w.as("words"), s.as("sentences"),
        y.as("syllables")),
      Contracts.Bound(max(col("words")), _ <= 1000000L, m =>
        s"readabilityProfile: a document holds $m words, exceeding " +
          "the exact int64 score contract (1e6 words per doc) — " +
          "chunk it first"),
      Contracts.Bound(max(col("sentences")), _ <= 1000000L, m =>
        s"readabilityProfile: a document holds $m sentence marks, " +
          "exceeding the exact int64 score contract (1e6 sentences " +
          "per doc — sentence count rides punctuation runs, not the " +
          "word bound) — chunk it first"),
      Contracts.Bound(max(col("syllables")), _ <= 10000000L, m =>
        s"readabilityProfile: a document holds $m syllable groups, " +
          "exceeding the exact int64 score contract (1e7 per doc) — " +
          "chunk it first"))
    val ws = col("words") * col("sentences")
    out.select(col(idCol), col("words"), col("sentences"),
      col("syllables"),
      ((lit(39L) * col("words") * col("words") +
        lit(1180L) * col("syllables") * col("sentences") -
        lit(1559L) * ws).cast("double") /
        (lit(100L) * ws).cast("double")).as("fk_grade"),
      ((lit(206835L) * ws - lit(1015L) * col("words") * col("words") -
        lit(84600L) * col("syllables") * col("sentences"))
        .cast("double") / (lit(1000L) * ws).cast("double"))
        .as("flesch_ease"))
  }

  /** HTML BOILERPLATE STRIP with per-line link-density filtering (the
    * jusText/trafilatura-class cleanup every web-scraped corpus runs
    * before dedup or quality scoring): tags are stripped per LINE, and
    * a line is boilerplate — dropped — when over half its visible
    * characters sit inside <a> anchors (nav bars, footers, "related
    * links" blocks) or when nothing visible remains after tag removal.
    *
    * Deterministic by construction: anchor content length and
    * stripped-line length are exact integer counts from the same two
    * regexes on both engines (RE2 and Java regex agree on these
    * patterns — no backreferences, lazy quantifiers only), and the
    * keep rule is the exact integer comparison 2·link_chars ≤
    * text_chars. Cleaned text is the kept lines' stripped forms
    * joined by one space with runs of whitespace collapsed — so the
    * output hash pins the entire pipeline.
    *
    * Scale shape: pure per-row column expressions (explode-free —
    * lines are processed inside array HOFs), map-only, no UDF.
    * Output: (id, n_lines, n_kept, clean_chars, clean_text). */
  def stripBoilerplate(df: DataFrame, idCol: String,
                       htmlCol: String): DataFrame = {
    val lines = split(coalesce(col(htmlCol), lit("")), "\n")
    val strippedOf = (l: Column) => trim(regexp_replace(
      regexp_replace(l, "<[^>]*>", " "), "\\s+", " "))
    val linkCharsOf = (l: Column) => aggregate(
      regexp_extract_all(l, lit("(?s)<a[^>]*>(.*?)</a>"), lit(1)),
      lit(0L), (acc, a) => acc + length(strippedOf(a)).cast("long"))
    val kept = filter(lines, l => {
      val t = length(strippedOf(l)).cast("long")
      t > 0L && lit(2L) * linkCharsOf(l) <= t
    })
    val clean = array_join(transform(kept, strippedOf), " ")
    df.select(col(idCol), size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      length(clean).cast("long").as("clean_chars"),
      clean.as("clean_text"))
  }

  /** UNICODE WORD-SEGMENTATION PROFILE per document — the UAX-29-subset
    * upgrade path for mixed-script web text (the r13 verdict's #1 gap:
    * [[graft.functions.ws_tokens]] whitespace splitting is wrong for
    * CJK/Thai, and the script-profile operator only DETECTS the problem;
    * this segments correctly). Tokens come from ONE pass of
    * [[graft.functions.Uax29Kernels]]: CJK/Thai char-unigrams,
    * letter/digit/mark/underscore runs, mid-word apostrophes joined.
    *
    * Determinism: the rule set is exactly a two-step regex program that
    * RE2 and java.util.regex evaluate identically (PropertySpec pins
    * expression == regex program; the oracle replays the program), and
    * the md5 of the U+0001-joined token list pins the ENTIRE
    * segmentation bit-for-bit — not just the counts.
    *
    * Scale shape: pure per-row column expressions (map-only, no
    * shuffle, no UDF); the classification filters run over the bounded
    * token array, never re-scan the text.
    * Output: (id, n_tokens, n_cjk, n_apos, tokens_hash). */
  def unicodeWordProfile(df: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val toks = uax29_tokens(coalesce(col(textCol), lit("")))
    val cjkRe = "^[\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsThai}]$"
    df.select(col(idCol), size(toks).cast("long").as("n_tokens"),
      size(filter(toks, t => t.rlike(cjkRe))).cast("long").as("n_cjk"),
      size(filter(toks, t => instr(t, "'") > 0 ||
        instr(t, "’") > 0)).cast("long").as("n_apos"),
      md5(array_join(toks, "\u0001")).as("tokens_hash"))
  }

  /** TOKENIZER FERTILITY AUDIT per group — the budget readout a
    * multilingual corpus owner needs before trusting whitespace token
    * counts (mixing weights, packing capacity, price-per-token all
    * ride them, and space-free scripts undercount CATASTROPHICALLY:
    * a CJK document whitespace-counts as ~1 token per line): per
    * group, both tokenizations of the same text plus the exact
    * integral ratios —
    *
    *   fertility_micro   = 10⁶ · Σ uax29_tokens / Σ ws_tokens
    *   chars_per_tok_micro = 10⁶ · Σ token chars / Σ uax29_tokens
    *
    * A fertility near 10⁶ says whitespace counting is fine for this
    * group; far above says re-budget with the segmenter.
    *
    * Scale shape: one map-only projection (both tokenizers run in the
    * same codegen stage) + one map-side-combining groupBy; ratios are
    * integral micro-division over exact sums.
    * Output: (group, n_docs, ws_tokens, uax_tokens, token_chars,
    * fertility_micro, chars_per_tok_micro). */
  def tokenFertility(df: DataFrame, groupCol: String,
                     textCol: String): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    val ux = uax29_tokens(text)
    df.select(col(groupCol),
        size(ws_tokens(text)).cast("long").as("__w"),
        size(ux).cast("long").as("__u"),
        length(array_join(ux, "")).cast("long").as("__ch"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("ws_tokens"),
        sum(col("__u")).as("uax_tokens"),
        sum(col("__ch")).as("token_chars"))
      .select(col(groupCol), col("n_docs"), col("ws_tokens"),
        col("uax_tokens"), col("token_chars"),
        when(col("ws_tokens") > 0L, call_function("div",
          col("uax_tokens") * 1000000L, col("ws_tokens")))
          .otherwise(lit(null).cast("long")).as("fertility_micro"),
        when(col("uax_tokens") > 0L, call_function("div",
          col("token_chars") * 1000000L, col("uax_tokens")))
          .otherwise(lit(null).cast("long")).as("chars_per_tok_micro"))
  }

  /** CODE-QUALITY PROFILE per file — the StarCoder/SantaCoder-class
    * source-file filters (Li et al. 2023 §3.1; code corpora are
    * curated by LINE SHAPE long before any model scores them): line
    * counts, the max/mean line length that flags minified or
    * data-blob files, the alphanumeric fraction that flags binary
    * spill, comment-prefix line counts, and the auto-generated-file
    * marker ("generated, do not edit" headers) — plus the standard
    * keep rule over caller thresholds.
    *
    * Exactness: every count is an exact integer (line chars = total
    * chars minus newlines — no per-line re-sum); ratios are integral
    * micro-divisions; the comment test is prefix-of-space-trimmed
    * (regexes in the RE2 ∩ java.util.regex common subset).
    *
    * Scale shape: pure per-row column expressions, map-only, no UDF.
    * Output: (id, n_lines, max_line_len, avg_line_len_micro,
    * alnum_micro, comment_lines, autogen, keep). */
  def codeQualityProfile(df: DataFrame, idCol: String, textCol: String,
                         maxLineLen: Long = 1000L,
                         avgLineLenMax: Long = 100L,
                         minAlnumMicro: Long = 250000L): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    val lines = split(text, "\n", -1)
    val nLines = size(lines).cast("long")
    val lineChars = length(text).cast("long") - (nLines - 1L)
    val maxLine = coalesce(array_max(transform(lines,
      l => length(l).cast("long"))), lit(0L))
    val avgMicro = call_function("div", lineChars * 1000000L, nLines)
    val alnumMicro = call_function("div",
      length(regexp_replace(text, "[^A-Za-z0-9]", "")).cast("long")
        * 1000000L, greatest(length(text).cast("long"), lit(1L)))
    val commentLines = size(filter(lines,
      l => ltrim(l).rlike("^(#|//|\\*|/\\*|--)"))).cast("long")
    val autogen = text.rlike(
      "(?i)(auto-generated|autogenerated|do not edit)")
    df.select(col(idCol), nLines.as("n_lines"),
        maxLine.as("max_line_len"), avgMicro.as("avg_line_len_micro"),
        alnumMicro.as("alnum_micro"), commentLines.as("comment_lines"),
        autogen.as("autogen"))
      .withColumn("keep",
        col("max_line_len") <= maxLineLen &&
          col("avg_line_len_micro") <= avgLineLenMax * 1000000L &&
          col("alnum_micro") >= minAlnumMicro && !col("autogen"))
  }

  /** FILL-IN-THE-MIDDLE TRANSFORM per document — the FIM data prep
    * for code/infilling training (Bavarian et al. 2022: a fraction of
    * training docs are split prefix/middle/suffix and re-serialized
    * PSM as `<PRE>p<SUF>s<MID>m`, teaching the model to infill):
    * both cut points derive from the document's OWN md5 (deterministic
    * and engine-replayable — no RNG), c1 = h1 mod (len+1),
    * c2 = c1 + (h2 mod (len−c1+1)) with h2 the md5 of the text plus a
    * salt, so re-runs and engines agree bit-for-bit.
    *
    * Scale shape: pure per-row string arithmetic, map-only.
    * Output: (id, len, prefix_len, middle_len, suffix_len, fim_hash). */
  def fimTransform(df: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    val len = length(text).cast("long")
    val c1 = pmod(md5_long(text), len + 1L)
    val c2 = c1 + pmod(md5_long(concat(text, lit("#fim2"))),
      len - c1 + 1L)
    val prefix = text.substr(lit(1L), c1)
    val middle = text.substr(c1 + 1L, c2 - c1)
    val suffix = text.substr(c2 + 1L, len - c2)
    val psm = concat(lit("<PRE>"), prefix, lit("<SUF>"), suffix,
      lit("<MID>"), middle)
    df.select(col(idCol), len.as("len"),
      length(prefix).cast("long").as("prefix_len"),
      length(middle).cast("long").as("middle_len"),
      length(suffix).cast("long").as("suffix_len"),
      md5(psm.cast("binary")).as("fim_hash"))
  }

  /** LUHN-VALIDATED PAYMENT-CARD AUDIT per document — the precision
    * upgrade over regex-only PII scanning (q44's digit patterns
    * flag every 16-digit number; the Luhn mod-10 checksum separates
    * real card numbers from order ids and timestamps, cutting the
    * false-positive flood that makes naive PII reports unusable):
    * maximal digit runs of card length (13–19) are candidates, and a
    * candidate counts as a card iff its Luhn checksum passes —
    *
    *   Σ_j f(d_j) ≡ 0 (mod 10),  f doubling every second digit from
    *   the right and folding > 9 to d−9.
    *
    * Pure integer arithmetic over bounded runs — identical in both
    * engines (maximal greedy digit runs need no lookaround, so the
    * RE2 ∩ java.util.regex subset holds).
    *
    * Scale shape: per-row regex + bounded HOFs, map-only, no UDF.
    * Output: (id, n_digit_runs, n_candidates, n_luhn_valid,
    * has_card). */
  /** Luhn mod-10 check of a digit-run column — shared by
    * [[luhnCardAudit]] and [[redactPii]]. */
  private[operators] def luhnOk(c: Column): Column = {
    val total = aggregate(sequence(lit(1), length(c)), lit(0L),
      (acc, j) => {
        val d = c.substr(length(c) - j + 1, lit(1)).cast("long")
        val dd = when(pmod(j, lit(2)) === 0,
          when(d * 2L > 9L, d * 2L - 9L).otherwise(d * 2L))
          .otherwise(d)
        acc + dd
      })
    pmod(total, lit(10L)) === 0L
  }

  /** ISO 13616 rearranged mod-97 check of an upper-alnum-run column —
    * shared by [[ibanAudit]] and [[redactPii]]. */
  private[operators] def mod97Ok(c: Column): Column = {
    val rearranged = concat(c.substr(lit(5), length(c) - 4),
      c.substr(lit(1), lit(4)))
    // per-char substr fold (the luhnOk shape) — split(s, "") can
    // emit empty-string fragments whose ascii() is 0
    val acc = aggregate(sequence(lit(1), length(rearranged)), lit(0L),
      (a, j) => {
        val code = ascii(rearranged.substr(j, lit(1))).cast("long")
        when(code >= 48L && code <= 57L,
          pmod(a * 10L + code - 48L, lit(97L)))
          .otherwise(pmod(a * 100L + code - 55L, lit(97L)))
      })
    acc === 1L
  }

  def luhnCardAudit(df: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val runs = regexp_extract_all(coalesce(col(textCol), lit("")),
      lit("[0-9]+"), lit(0))
    val cands = filter(runs, r =>
      length(r) >= 13 && length(r) <= 19)
    val valid = filter(cands, luhnOk(_))
    df.select(col(idCol), size(runs).cast("long").as("n_digit_runs"),
      size(cands).cast("long").as("n_candidates"),
      size(valid).cast("long").as("n_luhn_valid"),
      (size(valid) > 0).as("has_card"))
  }

  /** MOD-97-VALIDATED IBAN AUDIT per document — [[luhnCardAudit]]'s
    * bank-account sibling (ISO 13616: an IBAN is CC KK BBAN, and the
    * whole string rearranged (BBAN ∥ CC ∥ KK), letters mapped A→10 …
    * Z→35, must be ≡ 1 mod 97 — the checksum that separates real
    * account numbers from the upper-alnum soup PII regexes drown in):
    * maximal [A-Z0-9] runs shaped `[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}`
    * are candidates; each validates by the incremental remainder fold
    *
    *   acc' = (acc·10 + digit) mod 97       for a digit
    *   acc' = (acc·100 + 10 + letter) mod 97 for a letter
    *
    * over the rearranged string's character codes — pure bounded
    * int64 arithmetic (acc < 97, so acc·100 + 35 < 10⁴), identical in
    * both engines.
    *
    * Scale shape: per-row regex + bounded HOF folds, map-only, no
    * UDF. Output: (id, n_upper_runs, n_candidates, n_mod97_valid,
    * has_iban). */
  def ibanAudit(df: DataFrame, idCol: String,
                textCol: String): DataFrame = {
    val runs = regexp_extract_all(coalesce(col(textCol), lit("")),
      lit("[A-Z0-9]+"), lit(0))
    val cands = filter(runs, r =>
      r.rlike("^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$"))
    val valid = filter(cands, mod97Ok(_))
    df.select(col(idCol), size(runs).cast("long").as("n_upper_runs"),
      size(cands).cast("long").as("n_candidates"),
      size(valid).cast("long").as("n_mod97_valid"),
      (size(valid) > 0).as("has_iban"))
  }

  /** PACKED-SPAN OFFSETS over an FFD assignment — the step that
    * turns [[packFirstFitDecreasing]]'s (key, id, tokens, bin) into
    * the artifact a trainer actually consumes: each document's
    * [start, end) token span inside its packed bin, in the PACK
    * ORDER (tokens DESC, id ASC — exactly the FFD insertion order, so
    * offsets are reproducible from the assignment alone). Together
    * with [[graft.operators.Validate]].lossMaskSpans this closes the
    * packing loop: bins → per-doc boundaries → per-turn loss masks.
    *
    * Scale shape: one groupBy to the per-(key, bin) member list
    * (bounded by the bin capacity — the FFD contract already bounds
    * members), one array_sort + ONE sequential offset fold inside the
    * aggregate HOF (bounded append), explode back to rows. No raw-row
    * window. Output: (key, bin, id, start, end). */
  def packSpans(ffd: DataFrame, keyCol: String, idCol: String,
                tokCol: String, binCol: String): DataFrame = {
    val g = ffd.groupBy(col(keyCol), col(binCol))
      .agg(array_sort(collect_list(struct(
        (-col(tokCol).cast("long")).as("nt"),
        col(idCol).cast("long").as("id"),
        col(tokCol).cast("long").as("tok")))).as("__ds"))
    val spanT = "array<struct<id:bigint,start:bigint,end:bigint>>"
    val spans = aggregate(col("__ds"),
      struct(array().cast(spanT).as("sp"), lit(0L).as("cum")),
      (acc, d) => struct(
        concat(acc.getField("sp"), array(struct(
          d.getField("id").as("id"),
          acc.getField("cum").as("start"),
          (acc.getField("cum") + d.getField("tok")).as("end"))))
          .as("sp"),
        (acc.getField("cum") + d.getField("tok")).as("cum")),
      acc => acc.getField("sp"))
    g.select(col(keyCol), col(binCol), posexplode(spans))
      .select(col(keyCol), col(binCol), col("col.id").as(idCol),
        col("col.start").as("start"), col("col.end").as("end"))
  }

  /** CHECKSUM-AWARE PII REDACTION per document — the precision
    * upgrade of [[redactPii]] (whose `<NUM>` rule mangles every 7+
    * digit run) in the audit family's validated form
    * ([[luhnCardAudit]] / [[ibanAudit]] COUNT violations; a curation
    * pass must then actually remove them without destroying benign
    * numbers): emails redact
    * unconditionally; maximal digit runs redact ONLY when they are
    * card-length AND Luhn-valid; maximal upper-alnum runs redact ONLY
    * when IBAN-shaped AND mod-97-valid. Everything else passes
    * byte-for-byte.
    *
    * Mechanics: each layer decomposes the text into the alternating
    * (segments, maximal-runs) structure — `split(text, P, -1)` yields
    * exactly len(runs)+1 segments including leading/trailing empties
    * in BOTH engines — and rebuilds it with validated runs swapped
    * for their placeholder; layers chain email → IBAN → card — email
    * first (a card number inside an address redacts as the email it
    * is), then the MORE SPECIFIC shape: if the card layer ran before
    * the IBAN layer, a Luhn-valid card-length digit run INSIDE an
    * IBAN would chew the account number before its own layer saw it;
    * the placeholders themselves match neither later pattern, so
    * layers cannot chew each other's output. The chain nests inside
    * lambda bindings (the [[langIdWide]] CollapseProject discipline)
    * so each intermediate text materializes once per row.
    *
    * Scale shape: pure per-row regex + bounded HOFs, map-only, no
    * UDF. Output: (id, n_emails, n_cards, n_ibans, redacted). */
  def redactPiiChecked(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    // fanOut: the layered regex splits + per-run Luhn/mod-97 kernels are
    // a heavy work-amplifying map stage — a one-file corpus scan would
    // run every row on one core (guide §2.5); identity at scale and on
    // non-leaf inputs (streaming twins never reach the probe)
    val dfS = Spread.fanOut(df)
    val emailP = EmailRe
    def rebuild(txt: Column, pat: String, f: Column => Column): Column = {
      val segs = split(txt, pat, -1)
      val runs = regexp_extract_all(txt, lit(pat), lit(0))
      when(size(runs) > 0,
        concat(element_at(segs, 1),
          array_join(transform(sequence(lit(1), size(runs)), i =>
            concat(f(element_at(runs, i.cast("int"))),
              element_at(segs, (i + 1).cast("int")))), "")))
        .otherwise(txt)
    }
    def cardF(r: Column): Column =
      when(length(r) >= 13 && length(r) <= 19 && luhnOk(r),
        lit("<CARD>")).otherwise(r)
    def ibanF(r: Column): Column =
      when(r.rlike("^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$") && mod97Ok(r),
        lit("<IBAN>")).otherwise(r)
    val raw = coalesce(col(textCol), lit(""))
    val nEmails = size(regexp_extract_all(raw, lit(emailP), lit(0)))
      .cast("long")
    def nValid(txt: Column, pat: String, ok: Column => Column): Column =
      size(filter(regexp_extract_all(txt, lit(pat), lit(0)), ok))
        .cast("long")
    // nested lambda bindings: t1 (emails gone) feeds the IBAN layer
    // and its count; t2 (IBANs gone) feeds the card layer and its
    // count
    val out = element_at(transform(
      array(regexp_replace(raw, emailP, "<EMAIL>")), t1 =>
        element_at(transform(array(rebuild(t1, "[A-Z0-9]+", ibanF)),
          t2 => struct(
            nValid(t1, "[A-Z0-9]+",
              r => r.rlike("^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$") &&
                mod97Ok(r)).as("n_ibans"),
            nValid(t2, "[0-9]+",
              r => length(r) >= 13 && length(r) <= 19 && luhnOk(r))
              .as("n_cards"),
            rebuild(t2, "[0-9]+", cardF).as("redacted"))), 1)), 1)
    dfS.select(col(idCol), nEmails.as("n_emails"),
      out.getField("n_cards").as("n_cards"),
      out.getField("n_ibans").as("n_ibans"),
      out.getField("redacted").as("redacted"))
  }

  /** BINARY-SPILL / GIBBERISH AUDIT per document — the entropy-band
    * filter web and code corpora run to drop what the line-shape
    * rules miss (base64 blobs, minified bundles, key dumps score HIGH
    * char entropy; repeated-char spam and padding score LOW; natural
    * language sits in a stable band), plus an explicit base64-run
    * mass meter for blobs embedded in otherwise-normal text:
    *
    *   entropy_micro = ⌊Σ_c cnt_c·(lnq n − lnq cnt_c)/n⌋  (one pass)
    *   blob_micro    = 10⁶·(chars inside [A-Za-z0-9+/=]{runLen,}
    *                   runs) / chars
    *
    * keep = entropy within [min, max] AND blob mass ≤ maxBlobMicro.
    * Empty docs carry NULL entropy and never keep. All integer
    * micro-quantities (the jsdByKey micro-log discipline) — the
    * oracle replays from per-char counts bit-for-bit.
    *
    * Scale shape: one single-pass entropy expression + codegen'd
    * regex mass per row, map-only, no shuffle.
    * Output: (id, n_chars, entropy_micro, blob_chars, blob_micro,
    * keep). */
  def binarySpillAudit(df: DataFrame, idCol: String, textCol: String,
                       minEntropyMicro: Long = 1500000L,
                       maxEntropyMicro: Long = 4200000L,
                       blobRunLen: Int = 40,
                       maxBlobMicro: Long = 50000L): DataFrame = {
    require(blobRunLen >= 8,
      s"binarySpillAudit: blobRunLen must be >= 8, got $blobRunLen")
    val text = coalesce(col(textCol), lit(""))
    val ent = char_entropy_micro(text)
    val blobChars = aggregate(
      regexp_extract_all(text,
        lit(s"[A-Za-z0-9+/=]{$blobRunLen,}"), lit(0)),
      lit(0L), (acc, r) => acc + length(r).cast("long"))
    df.select(col(idCol), length(text).cast("long").as("n_chars"),
        ent.as("entropy_micro"), blobChars.as("blob_chars"))
      .withColumn("blob_micro", call_function("div",
        col("blob_chars") * 1000000L,
        greatest(col("n_chars"), lit(1L))))
      .withColumn("keep",
        coalesce(col("entropy_micro") >= minEntropyMicro &&
          col("entropy_micro") <= maxEntropyMicro &&
          col("blob_micro") <= maxBlobMicro, lit(false)))
  }

  /** UNICODE NFC NORMALIZATION AUDIT per document — the dedup-hygiene
    * check multilingual corpora need BEFORE any hash-based dedup
    * (UAX-15: "café" ships both precomposed and as e+◌́; the byte
    * hashes differ, so exact dedup silently misses every such twin):
    * per doc, whether the text is already NFC, both lengths, and the
    * md5 of the NFC form — the hash exact dedup SHOULD key on.
    *
    * Determinism: conformant NFC is implementation-independent, so
    * the JDK normalizer here and the oracle's utf8proc agree
    * byte-for-byte on assigned codepoints; lengths are codepoint
    * counts in both engines.
    *
    * Scale shape: one single-pass expression per row, map-only.
    * Output: (id, is_nfc, len_raw, len_nfc, nfc_hash). */
  def nfcAudit(df: DataFrame, idCol: String,
               textCol: String): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    val nfc = nfc_normalize(text)
    df.select(col(idCol), (text === nfc).as("is_nfc"),
      length(text).cast("long").as("len_raw"),
      length(nfc).cast("long").as("len_nfc"),
      md5(nfc.cast("binary")).as("nfc_hash"))
  }

  /** UNICODE SENTENCE-SEGMENTATION PROFILE per document — the sentence
    * half of the UAX-29-subset segmenter ([[unicodeWordProfile]]):
    * sentences end at a [.!?]+ run plus trailing closing quotes/
    * brackets, the unterminated tail is a sentence, segments trim to
    * {space, tab, CR, LF} and empties drop (rule set:
    * [[graft.functions.Uax29Kernels]] — leftmost-first, lookaround-free,
    * so the DuckDB oracle replays it with one RE2 regexp_extract_all).
    *
    * Determinism: the md5 of the U+0001-joined sentence list pins the
    * whole segmentation; counts and char masses are exact longs.
    *
    * Scale shape: pure per-row column expressions (map-only, no
    * shuffle, no UDF).
    * Output: (id, n_sentences, sent_chars, sents_hash). */
  def unicodeSentenceProfile(df: DataFrame, idCol: String,
                             textCol: String): DataFrame = {
    val sents = uax29_sentences(coalesce(col(textCol), lit("")))
    df.select(col(idCol),
      size(sents).cast("long").as("n_sentences"),
      length(array_join(sents, "")).cast("long").as("sent_chars"),
      md5(array_join(sents, "\u0001")).as("sents_hash"))
  }
  /** GALE–CHURCH SENTENCE ALIGNMENT per mined doc pair — the bitext
    * step AFTER margin mining ([[graft.operators.Similarity]]):
    * mining yields parallel DOCUMENT pairs, but the training artifact
    * is aligned SENTENCE pairs, and the classic length-based DP (Gale
    * & Church 1993) recovers them with no lexical model at all — the
    * relative octet lengths of 1–1 / 1–0 / 0–1 / 2–1 / 1–2 / 2–2
    * "beads" are evidence enough on real bitext.
    *
    * The recurrence, the integral match cost, the frozen bead
    * penalties and the first-in-order tie-break live in
    * [[graft.functions.GaleChurchBeads]] — ONE bounded DP per pair,
    * bit-replayable by any engine (the gate's DuckDB oracle walks the
    * identical cell fill and backtrack).
    *
    * Contracts (fail-before-execute): sentence arrays and their
    * elements non-NULL, at most `maxSentences` (≤ 64) sentences a
    * side, every sentence ≤ 10⁵ octets (int64-exact match cost) —
    * chunk longer documents first ([[chunkOffsets]] /
    * [[packFirstFitDecreasing]] territory).
    *
    * Scale shape: map-only — the DP is O(maxSentences²) inside one
    * expression per pair, beads explode in place; no shuffle, no
    * window, no join. Doc pairs are the parallelism unit, exactly
    * like the miner that produced them.
    * Output: (id, bead, a_start, a_len, b_start, b_len, cost_micro) —
    * bead 1-based in reading order, starts 1-based sentence indexes
    * (NULL on the empty side of a deletion/insertion bead). */
  def galeChurchAlign(df: DataFrame, idCol: String, aCol: String,
                      bCol: String, ratioMicro: Long = 1000000L,
                      maxSentences: Int = 64): DataFrame = {
    require(maxSentences >= 1 && maxSentences <= 64,
      s"galeChurchAlign: maxSentences must be in [1, 64], got $maxSentences")
    def olens(c: String) =
      transform(col(c), s => octet_length(s).cast("long"))
    val staged = df.select(col(idCol), olens(aCol).as("__la"),
        olens(bCol).as("__lb"))
      .localCheckpoint()
    def badSide(c: String) =
      sum(when(col(c).isNull ||
        exists(col(c), v => v.isNull || v > 100000L), 1L).otherwise(0L))
    Contracts.enforce(staged,
      Contracts.Bound(badSide("__la") + badSide("__lb"), _ == 0L, b =>
        s"galeChurchAlign: $b rows carry a NULL sentence array, a NULL " +
          "sentence, or a sentence over 1e5 octets — clean and chunk " +
          "first (the int64-exact match-cost bound)"),
      Contracts.Bound(
        greatest(max(size(col("__la"))), max(size(col("__lb"))))
          .cast("long"),
        _ <= maxSentences, n =>
          s"galeChurchAlign: a side holds $n sentences, exceeding the " +
            s"bounded-DP contract (maxSentences=$maxSentences) — chunk " +
            "documents before aligning"))
    staged
      .select(col(idCol), posexplode(gale_church_beads(col("__la"),
        col("__lb"), ratioMicro, maxSentences)))
      .select(col(idCol), (col("pos") + 1).cast("long").as("bead"),
        col("col.a_start").as("a_start"), col("col.a_len").as("a_len"),
        col("col.b_start").as("b_start"), col("col.b_len").as("b_len"),
        col("col.cost_micro").as("cost_micro"))
  }
}
