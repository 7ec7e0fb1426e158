package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzers

/** Text-analysis operators for training-data pipelines: language ID
  * (stop-word-hit heuristic), quality scoring, token counting, and document
  * fingerprinting. All pure column expressions (codegen'd, oracle-checkable).
  */
object TextAnalysis {

  private val enStops: Seq[String] = Analyzers.EnglishStopWords.toSeq.sorted

  /** Native codegen'd run-scan over Spark's own `lower` (round 6) — the old
    * `filter(split(...))` regex + interpreted-lambda pair; identical array
    * ([[graft.functions.TextKernels.alnumRuns]]).
    */
  def rawTokens(text: Column): Column = Kernels.alnumRuns(lower(text))

  /** n-gram-heuristic language ID: ratio of tokens hitting the English
    * function-word list; `en` above threshold, `und` otherwise. (The corpus
    * `lang` column is synthetic noise — the op verifies the computation, not
    * linguistics.)
    */
  def langId(docs: DataFrame, idCol: String, textCol: String, threshold: Double = 0.05): DataFrame = {
    // tokens (then the ratio) materialized in their own projections
    // (round 6): inline, CollapseProject substituted the tokenize expression
    // into each reference and the ratio into both output columns
    val toks = col("toks")
    // native stop-hit count (round 6): `size(filter(t.isin(...)))` walked
    // the array through an interpreted lambda evaluating a ~30-literal In
    // per element; the kernel is one loop over a prebuilt hash set
    val hits = Kernels.countIn(toks, enStops).cast("double")
    // arithmetic floor rounding (not round()): the ratio is an exact
    // rational that can land on the grid — same hardening as quality()
    val ratio = floor(hits / greatest(size(toks), lit(1)).cast("double") * 1000000.0 + 0.5) / 1000000.0
    docs.select(col(idCol).cast("long").as("doc_id"), rawTokens(col(textCol)).as("toks"))
      .select(col("doc_id"), ratio.as("en_ratio"))
      .select(col("doc_id"), col("en_ratio"),
        when(col("en_ratio") > threshold, lit("en")).otherwise(lit("und")).as("lang_guess"))
  }

  /** The composite quality score as a standalone column — the identical
    * expression [[quality]] emits as its `quality` output (0.4·min(n,100)/100
    * + 0.3·(1−stop_ratio) + 0.3·ttr as one exact integer-rational division,
    * floor-rounded to 4 places; see the notes in [[quality]]). Shared with
    * [[Sampling.topKPerGroup]] so selection ranks by exactly the gated score.
    */
  def qualityCol(text: Column): Column = qualityColOf(rawTokens(text))

  /** [[qualityCol]] over an already-materialized token-array column —
    * callers that can project the tokens first (quality, topKPerGroup)
    * should, so CollapseProject can't substitute the tokenize expression
    * into each of the four token references.
    */
  def qualityColOf(toks: Column): Column = {
    val n = size(toks).cast("double")
    val nz = greatest(size(toks), lit(1)).cast("double")
    val stops = Kernels.countIn(toks, enStops).cast("double") // see langId
    val uniq = size(array_distinct(toks)).cast("double")
    val score = (lit(4.0) * least(n, lit(100.0)) * nz +
      lit(300.0) * (nz - stops) + lit(300.0) * uniq) / (lit(1000.0) * nz)
    floor(score * 10000.0 + 0.5) / 10000.0
  }

  /** Quality scoring: length, mean token length, stop-word ratio, type-token
    * ratio, and a composite score — the length/punct/stopword-ratio family
    * of heuristic quality filters.
    */
  def quality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = col("toks") // materialized below — see langId
    val n = size(toks).cast("double")
    val nz = greatest(size(toks), lit(1)).cast("double")
    // native kernels (round 6): the length fold and stop-hit count each
    // walked the array through an interpreted HOF lambda per row
    val meanLen = Kernels.sumLen(toks) / nz
    val stops = Kernels.countIn(toks, enStops).cast("double")
    val stopRatio = stops / nz
    val uniq = size(array_distinct(toks)).cast("double")
    val ttr = uniq / nz
    // composite score: see qualityCol — ONE exact integer-rational division,
    // because a multi-term double sum can land exactly on a .00005 rounding
    // boundary where 1-ulp engine differences flip round(·,4) (observed vs
    // DuckDB at sf0.1)
    // arithmetic rounding floor(x*1e4+0.5)/1e4: these are rational values
    // that can land exactly on the rounding grid, where Spark's decimal-
    // string HALF_UP and DuckDB's binary rounding disagree; floor-based
    // rounding is the same pure double pipeline in both engines
    def r4(c: Column): Column = floor(c * 10000.0 + 0.5) / 10000.0
    docs.select(col(idCol).cast("long").as("doc_id"), rawTokens(col(textCol)).as("toks"))
      .select(
        col("doc_id"),
        n.cast("long").as("n_tokens"),
        r4(meanLen).as("mean_token_len"),
        r4(stopRatio).as("stop_ratio"),
        r4(ttr).as("ttr"),
        qualityColOf(toks).as("quality"))
  }

  /** Token counting: whitespace tokens, regex word tokens, and a BPE-ish
    * segmentation count (letter runs / digit runs / single other symbols).
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      size(filter(split(col(textCol), "\\s+"), t => length(t) > 0)).cast("long").as("ws_tokens"),
      size(rawTokens(col(textCol))).cast("long").as("word_tokens"),
      size(regexp_extract_all(lower(col(textCol)), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
        .cast("long").as("bpeish_tokens"),
      length(col(textCol)).cast("long").as("n_chars"))

  /** Document fingerprint: md5 over the sorted distinct token set — the
    * canonical-form (rolling-hash family) dedup fingerprint.
    */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      md5(array_join(array_sort(array_distinct(rawTokens(col(textCol)))), " ")).as("fingerprint"))

  /** Intra-document repetition score: the fraction of a document's word-w-gram
    * shingles that are repeats of an earlier shingle in the same document
    * (1 − distinct/total) — the "remove documents that loop" filter. Pure
    * per-row arithmetic on one materialized shingle array: map-only, and the
    * ratio is an exact integer rational, so the floor rounding is stable in
    * any engine. Documents with < w tokens have no shingles and are absent.
    */
  def repetition(docs: DataFrame, idCol: String, textCol: String, w: Int = 3): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        Dedup.tokens(col(textCol)).as("toks"))
      // one-tokenize guard + materialized tokens (round 6): a doc has a
      // shingle iff it has ≥ w tokens — the old size(sh) > 0 filter
      // re-evaluated the whole inlined shingle chain below the projection
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"), Dedup.shinglesOf(col("toks"), w).as("sh"))
      .select(col("doc_id"),
        (floor((size(col("sh")) - size(array_distinct(col("sh")))).cast("double")
          / size(col("sh")).cast("double") * 1000000.0 + 0.5) / 1000000.0).as("rep_ratio"))

  /** Corpus-frequency scoring: each document's mean document-frequency over
    * its token instances — low means rare/garbled vocabulary, high means
    * function-word soup; both tails get filtered in real pipelines. A
    * document's tokens all live in one input row, so the per-doc
    * re-aggregation combines map-side to one row per document before its
    * only shuffle. Mean df is an exact integer rational (floor-rounded).
    *
    * `broadcastVocab`: a curated-corpus vocabulary is Zipf-small and should
    * broadcast; a raw web crawl's typo-ridden vocabulary can reach 10⁸⁻⁹
    * terms and must shuffle. By default (None) the vocabulary is counted
    * once and broadcast iff its measured size fits
    * `spark.sql.autoBroadcastJoinThreshold` ([[Broadcast.side]]); an
    * explicit value overrides.
    *
    * PRECONDITION (shared with the whole file — see Dedup's header): one
    * row per doc_id. The vocab df counts one hit per input ROW's distinct
    * token set; with duplicated doc_id rows it would diverge from the
    * documented per-DOCUMENT frequency (ADVICE r5).
    */
  def tokenFrequency(docs: DataFrame, idCol: String, textCol: String,
      broadcastVocab: Option[Boolean] = None): DataFrame = {
    val vocab = docs.select(explode(array_distinct(rawTokens(col(textCol)))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    docs.select(col(idCol).cast("long").as("doc_id"), explode(rawTokens(col(textCol))).as("term"))
      .join(Broadcast.side(vocab, broadcastVocab), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("double").as("n"), sum(col("df")).cast("double").as("sdf"))
      .select(col("doc_id"),
        (floor(col("sdf") / col("n") * 10000.0 + 0.5) / 10000.0).as("mean_df"))
  }

  /** Boilerplate detection: the `k` word-w-gram shingles appearing in the
    * most documents (headers, footers, license blurbs, templated spam —
    * repeated verbatim across a web corpus). One narrow scan (per-row
    * distinct shingles, exploded), a map-side-combined count on the shingle
    * key, and a TakeOrdered top-k — no corpus-sized sort. Ties break on the
    * shingle string so the top-k boundary is a total order in any engine.
    */
  def boilerplate(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 3, k: Int = 20): DataFrame =
    docs.select(Dedup.tokens(col(textCol)).as("toks")) // materialized once — see repetition
      .select(explode(array_distinct(Dedup.shinglesOf(col("toks"), w))).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("shingle").asc)
      .limit(k)

  /** Per-document boilerplate contamination: the fraction of a document's
    * distinct shingles that land in the corpus-global top-k boilerplate set
    * (the usual "drop docs that are mostly template" filter). The top-k set
    * is tiny by construction, so it joins back `broadcast()` — the corpus
    * side stays one narrow scan + broadcast hash join, like [[Decontam]].
    * Emits only documents with ≥1 boilerplate shingle (absent docs have
    * ratio 0 — the overwhelming majority of a clean corpus never shuffles).
    */
  def boilerplateRatio(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 3, k: Int = 20): DataFrame = {
    val top = broadcast(boilerplate(docs, idCol, textCol, w, k).select(col("shingle")))
    val perDoc = docs.select(col(idCol).cast("long").as("doc_id"),
        Dedup.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= w) // one-tokenize guard — see repetition
      .select(col("doc_id"), array_distinct(Dedup.shinglesOf(col("toks"), w)).as("sh"))
    perDoc.select(col("doc_id"), size(col("sh")).cast("double").as("n_shingles"),
        explode(col("sh")).as("shingle"))
      .join(top, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).cast("double").as("hits"))
      .select(col("doc_id"),
        (floor(col("hits") / col("n_shingles") * 1000000.0 + 0.5) / 1000000.0)
          .as("bp_ratio"))
  }
}
