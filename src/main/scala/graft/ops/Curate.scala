package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composition a training-data pipeline
  * actually runs, as one operator: benchmark-decontaminate, exact-dedup,
  * select the quality top-k per group, and assign train/val/test splits.
  * Nothing here is new semantics; it is [[Decontam]]'s hit rule,
  * [[Dedup.exact]]'s min-id-canonical rule, [[Sampling.topKPerGroup]], and
  * [[Sampling.splitAssign]] chained — the point (and what the gate proves)
  * is that the stages COMPOSE with both engines still agreeing bit-for-bit.
  *
  * Scale shape: one broadcast join against the benchmark shingle set plus a
  * broadcast anti-join of the (blast-radius-bounded) contaminated ids, one
  * content-digest window exchange for dedup, one group-key shuffle for
  * selection, and a map-only split assignment over the k·|groups|-bounded
  * selection. The corpus is never joined against a corpus-sized side.
  */
object Curate {

  /** Returns (doc_id, groupCol, quality, rk, split) for the curated corpus:
    * documents outside the benchmark slice, not contaminated by it, exact-
    * duplicate-free (min-id canonical), within the quality top-`k` of their
    * group, each with its deterministic split label.
    */
  def curate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      benchMod: Int = 17,
      minHits: Int = 2,
      k: Int = 50,
      fractions: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      salt: String = "graft",
      broadcastBad: Option[Boolean] = None): DataFrame = {
    val norm = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"), col(groupCol))
    val corpus = norm.filter(col("doc_id") % benchMod =!= 0)
    val bench = norm.filter(col("doc_id") % benchMod === 0)
    // the CONTAMINATED id set is bounded by the benchmark's blast radius —
    // anti-join it away (joining the corpus-sized SURVIVOR set back instead
    // would be a corpus x corpus shuffle), broadcast when its measured size
    // fits (see Decontam.decontaminate)
    val bad = Decontam.contaminationHits(
        corpus, "doc_id", "text", bench, "doc_id", "text", minHits = minHits)
      .filter(col("contaminated")).select(col("doc_id"))
    val kept = corpus.join(Broadcast.side(bad, broadcastBad), Seq("doc_id"), "left_anti")
    // exact dedup, [[Dedup.exact]]'s min-id-canonical rule, re-expressed as
    // ONE content-digest window exchange (groupBy + join-back would shuffle
    // the corpus twice); a degenerate duplicate mega-cluster sorts in one
    // task — the same documented O(cluster log cluster) caveat as every
    // bucket window in graft.ops
    val undup = kept.withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn")
    val sel = Sampling.topKPerGroup(undup, "doc_id", "text", groupCol, k)
    // split is a pure function of (doc_id, salt) — a withColumn, not a
    // self-join back through the whole curation lineage
    sel.withColumn("split",
      Sampling.splitLabel(Sampling.hashBucket(col("doc_id"), salt), fractions))
  }
}
