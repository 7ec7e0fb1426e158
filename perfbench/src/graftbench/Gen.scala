package graftbench

import graft.data.{TranscriptGen, Turn}
import graft.data.TranscriptGen.Rng

/** Seeded inputs. Every generator is a pure function of the run's seed, so
  * the same seed gives the same corpus, query stream and NRT batches.
  */
object Gen {

  /** Query classes of the serve workload, in phase order. */
  val Classes: Seq[String] = Seq("topk", "multiterm", "sorted", "catalyst")

  private def mix(a: Long, b: Long): Long = {
    var z = a ^ (b * 0x9e3779b97f4a7c15L)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long): Rng = new Rng(mix(mix(seed, 0x5eedL), stream))

  // Document-frequency tiers over TranscriptGen's vocabulary: its words are
  // drawn with P(rank r) ~ 1/(r+1), so the rank fixes the df tier. Ranks
  // 0-9 are stop words and never indexed. Each tier spans about a 2x range
  // of df.
  private val Hot = 10 until 20
  private val Mid = 150 until 300
  private val Tail = 2000 until 4000
  private val Tiers = Seq(Hot, Mid, Tail)
  private def pick(r: Rng, tier: Range): String = TranscriptGen.vocab(tier(r.nextInt(tier.size)))
  private val Phrases = Seq("paxos made simple", "hello world", "quorum lost retry")

  // A query's shape (kind and df tier) comes from its pool slot, and only
  // its terms from the seed: the popular slots have the same shape under
  // every seed.

  /** One `topk` query: hot/mid/tail terms, AND/OR/NOT, phrases with and
    * without slop, role:/tool: filters.
    */
  def topkQuery(r: Rng, slot: Int): String = {
    val tier = Tiers((slot / 9) % 3)
    slot % 9 match {
      case 0 => pick(r, tier)
      case 1 => s"${pick(r, Hot)} AND ${pick(r, Mid)}"
      case 2 => s"${pick(r, Mid)} OR ${pick(r, Tail)}"
      case 3 => s"${pick(r, Hot)} AND NOT ${pick(r, Hot)}"
      case 4 => "\"" + Phrases(slot / 9 % Phrases.size) + "\""
      case 5 => "\"" + pick(r, Hot) + " " + pick(r, Hot) + "\"~" + (1 + slot / 9 % 4)
      case 6 => s"role:${TranscriptGen.Roles(slot / 9 % TranscriptGen.Roles.size)} AND ${pick(r, tier)}"
      case 7 => s"tool:${TranscriptGen.Tools(slot / 9 % TranscriptGen.Tools.size)} AND ${pick(r, Mid)}"
      case _ => s"${pick(r, Mid)} ${pick(r, Mid)} ${pick(r, Tail)}"
    }
  }

  /** One `multiterm` query: prefix, wildcard or fuzzy over a vocabulary word. */
  def multitermQuery(r: Rng, slot: Int): String = {
    val w = pick(r, if ((slot / 3) % 2 == 0) Mid else Tail)
    slot % 3 match {
      case 0 => w.substring(0, 4) + "*" // about two syllables: tens of expansions
      case 1 => w.substring(0, 2) + "?" + w.substring(3)
      case _ => w + "~1"
    }
  }

  /** One `sorted` query: a single term or a conjunction (sort, include and
    * highlight options live on the searcher).
    */
  def sortedQuery(r: Rng, slot: Int): String =
    if (slot % 2 == 0) pick(r, if ((slot / 2) % 2 == 0) Hot else Mid)
    else s"${pick(r, Hot)} AND ${pick(r, Mid)}"

  /** Zipf(1) popularity over `n` pool slots (slot i has weight 1/(i+1)),
    * drawn at golden-ratio points offset by the seed: a low-discrepancy
    * sequence, so every prefix of the stream has close to the Zipf shares
    * and the repeat share hardly depends on the seed.
    */
  final class Zipf(n: Int, seed: Long) {
    private val cdf = {
      val w = (1 to n).map(1.0 / _)
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    private val offset = rng(seed, 7).nextDouble()
    def slot(k: Int): Int = {
      val u = (offset + k * 0.6180339887498949) % 1.0
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** A class's query stream: a seeded pool of `poolSize` queries, drawn with
    * Zipf popularity, so part of the stream repeats. `catalyst` draws from
    * the `topk` generator with a pool of its own.
    */
  def stream(seed: Long, cls: String, length: Int, poolSize: Int): IndexedSeq[String] = {
    val ci = Classes.indexOf(cls)
    val gen: (Rng, Int) => String = cls match {
      case "topk" | "catalyst" => topkQuery
      case "multiterm" => multitermQuery
      case "sorted" => sortedQuery
    }
    val r = rng(seed, 100 + ci)
    val pool = IndexedSeq.tabulate(poolSize)(gen(r, _))
    val zipf = new Zipf(poolSize, seed + ci)
    IndexedSeq.tabulate(length)(k => pool(zipf.slot(k)))
  }

  /** Share of the queries that repeat an earlier (class, text). */
  def repeatShare(qs: Seq[(String, String)]): Double =
    if (qs.isEmpty) 0.0 else 1.0 - qs.distinct.size.toDouble / qs.size

  // ---- NRT feed ----------------------------------------------------------

  /** One micro-batch of the changes feed: `rows` re-sends earlier keys with
    * new text, then adds new keys (whole new conversations); `marker` is
    * the token carried by the first new row.
    */
  final case class Batch(id: Long, rows: Seq[Turn], marker: String)

  def marker(seed: Long, batch: Long): String = f"mkr${seed & 0xffff}%dq$batch%05d"

  /** Conversations [from, until) generated by TranscriptGen under `seed`. */
  def convs(seed: Long, from: Long, until: Long): Seq[Turn] =
    (from until until).flatMap { c =>
      (0 until TranscriptGen.turnsPerConv(seed, c)).map(t => TranscriptGen.genTurn(seed, c, t))
    }

  /** Batch `id` (≥ 1) after `baseConvs` base conversations and
    * `convsPerBatch` new conversations per batch; re-sent rows are drawn
    * from every key written before this batch and make up `resendShare` of
    * the batch's rows.
    */
  def nrtBatch(
      seed: Long, id: Long, baseConvs: Long, convsPerBatch: Long, resendShare: Double,
      keysBefore: IndexedSeq[(Long, Int)]): Batch = {
    val lo = baseConvs + (id - 1) * convsPerBatch
    val fresh0 = convs(seed, lo, lo + convsPerBatch)
    val mk = marker(seed, id)
    val fresh = fresh0.head.copy(text = fresh0.head.text + " " + mk) +: fresh0.tail
    val r = rng(seed, 1000 + id)
    val nResend = math.round(fresh.size * resendShare / (1 - resendShare)).toInt
    val picks = Iterator.continually(keysBefore(r.nextInt(keysBefore.size)))
      .distinct.take(math.min(nResend, keysBefore.size)).toSeq
    // same key, new text: TranscriptGen under a batch-derived seed
    val resent = picks.map { case (c, t) => TranscriptGen.genTurn(mix(seed, id), c, t) }
    Batch(id, resent ++ fresh, mk)
  }
}
