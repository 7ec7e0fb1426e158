package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the last gate before a corpus becomes
  * training data: find (and drop) documents that overlap an evaluation
  * benchmark by shared word-w-gram shingles, so the model is never trained
  * on its own test set.
  *
  * Scale shape: the benchmark side is an eval suite — thousands to a few
  * million shingles, microscopic next to a 100 TB corpus — so its distinct
  * shingle-hash set is explicitly `broadcast()`. The corpus side is then one
  * narrow scan: per-row distinct shingle hashes, explode, broadcast-hash
  * semi/inner join, map-side partial count. No corpus-sized shuffle exists
  * in either operator; the only aggregation key is `doc_id` over rows that
  * already matched a benchmark shingle (a vanishing fraction of the corpus).
  *
  * Hashing is md5-derived ([[Dedup.hash64]]) like every gated op, so the
  * DuckDB oracle reproduces hit counts bit-for-bit.
  */
object Decontam {

  /** Distinct shingle hashes per doc, exploded to (doc_id, shash) rows.
    * Tokens materialized in their own projection first — inline,
    * CollapseProject substitutes the tokenize expression into every
    * slice/size reference of the shingle chain (see Dedup.minhashSignatures).
    */
  private def shingleHashes(docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        Dedup.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        // native per-shingle hash64 (round 6): one fused loop per row — the
        // interpreted `transform(…, s => Dedup.hash64(s))` re-derived md5
        // through a fresh MessageDigest + hex parse per shingle
        explode(array_distinct(Kernels.hashArray(
          Dedup.shinglesOf(col("toks"), w), 15))).as("shash"))

  /** Per-document contamination hits: the number of distinct word-w-gram
    * shingles a corpus document shares with the UNION of all benchmark
    * documents' shingles. Emits only documents with ≥1 hit, flagged
    * `contaminated` when hits ≥ `minHits` (single-shingle collisions on
    * short boilerplate are common; real pipelines set a threshold).
    */
  def contaminationHits(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      w: Int = 3,
      minHits: Int = 2): DataFrame = {
    val benchSh = broadcast(
      shingleHashes(bench, benchIdCol, benchTextCol, w).select(col("shash")).distinct())
    shingleHashes(docs, idCol, textCol, w)
      .join(benchSh, Seq("shash"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("hits"))
      .withColumn("contaminated", col("hits") >= minHits)
  }

  /** The clean corpus: documents with FEWER than `minHits` benchmark-shingle
    * overlaps, as an anti-join against the contaminated id set. Emits
    * surviving doc ids (join back to the source for full rows).
    *
    * `broadcastBad`: the contaminated id set is bounded by the benchmark's
    * blast radius, which for a clean eval suite is tiny — broadcast, the
    * corpus side never shuffles. But a benchmark containing common phrasing
    * can contaminate 0.1–1% of a web corpus, 10⁸⁺ ids at 10¹¹ docs, past
    * any driver/broadcast limit. By default (None) the id set is counted
    * once and broadcast iff its measured size fits
    * `spark.sql.autoBroadcastJoinThreshold` ([[Broadcast.side]]); an
    * explicit value overrides.
    */
  def decontaminate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      w: Int = 3,
      minHits: Int = 2,
      broadcastBad: Option[Boolean] = None): DataFrame = {
    val bad = contaminationHits(docs, idCol, textCol, bench, benchIdCol, benchTextCol, w, minHits)
      .filter(col("contaminated")).select(col("doc_id"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(Broadcast.side(bad, broadcastBad), Seq("doc_id"), "left_anti")
  }
}
