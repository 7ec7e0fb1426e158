package graft.index

import graft.index.Codec.Block

/** Doc-at-a-time scorers over compressed posting runs — the per-shard query
  * kernel of the segment path (SURVEY.md §3.1 "our Spark lifecycle"): each
  * shard evaluates the whole query tree locally over its decoded blocks and
  * emits a local top-k; the driver merges. Skip data (`Block.lastDoc`) makes
  * `advance(target)` sub-linear; block-max metadata (`Block.maxTfNorm`)
  * powers WAND pruning (Ding & Suel 2011; north-rule requirement).
  */
object Scorers {

  val NoMoreDocs: Long = Long.MaxValue

  /** Cursor over one term's blocks within a shard. Blocks are decoded
    * lazily — advancing past a block via its skip entry never decodes it —
    * and in two tiers: docIds/tf decode when the cursor enters a block,
    * POSITIONS only on the first [[curPositions]] call for that block.
    * Term/boolean queries therefore never decode positions at all, and a
    * phrase query skips them for every block its feasibility check prunes.
    * The current doc's field length comes from the shard's `norms`.
    */
  final class TermIterator(blocks: IndexedSeq[Block], norms: Codec.Norms) {
    private var bi = 0
    private var decoded: Codec.BlockDocs = _
    private var positions: Array[Array[Int]] = _
    private var di = 0

    /** Observability: how many blocks were actually doc-decoded — WAND's
      * skip effectiveness is (decodedBlocks / totalBlocks).
      */
    var decodedBlocks: Int = 0

    /** How many blocks had their positions decoded (phrase-path cost). */
    var decodedPosBlocks: Int = 0
    def totalBlocks: Int = blocks.length

    advanceBlock()

    private def advanceBlock(): Unit = {
      decoded = null
      positions = null
      di = 0
      if (bi < blocks.length) {
        decoded = Codec.decodeDocs(blocks(bi))
        decodedBlocks += 1
      }
    }

    def doc: Long = if (decoded == null) NoMoreDocs else decoded.docIds(di)
    def curTf: Int = decoded.tfs(di)
    def curDl: Int = norms.dl(decoded.docIds(di))
    def curPositions: Array[Int] = {
      if (positions == null) {
        positions = Codec.decodePositions(blocks(bi), decoded.tfs)
        decodedPosBlocks += 1
      }
      positions(di)
    }

    /** Position-range bounds of the CURRENT block (encode-time metadata). */
    def blockMinPos: Int = blocks(bi).minPos
    def blockMaxPos: Int = blocks(bi).maxPos

    def next(): Unit = {
      if (decoded != null) {
        di += 1
        if (di >= decoded.docIds.length) { bi += 1; advanceBlock() }
      }
    }

    /** First doc >= target, skipping whole blocks via lastDoc. */
    def advance(target: Long): Unit = {
      if (decoded != null && decoded.docIds(decoded.docIds.length - 1) < target) {
        // skip blocks without decoding
        decoded = null
        bi += 1
        while (bi < blocks.length && blocks(bi).lastDoc < target) bi += 1
        advanceBlock()
        di = 0
      }
      while (decoded != null && decoded.docIds(di) < target) next()
    }

    /** Upper bound of the tf-norm over the remaining blocks under the live
      * avgdl q: per-block encode-time bound inflated by max(1, q/encAvgdl)
      * (see [[Codec.Block.encAvgdl]]). Served from a suffix-max array
      * computed ONCE per (iterator, q) — O(1) per call where the round-2
      * version re-scanned every block inside WAND's per-pivot loop
      * (O(pivots × blocks) for hot terms) — and it tightens as blocks are
      * consumed: the bound only covers blocks the cursor hasn't passed.
      */
    def maxTfNorm(qAvgdl: Double): Double = {
      if (blocks.isEmpty) return 0.0
      if (qAvgdl != boundAvgdl) {
        val n = blocks.length
        val s = new Array[Double](n + 1)
        var i = n - 1
        while (i >= 0) {
          val b = blocks(i)
          val v = b.maxTfNorm * math.max(1.0, qAvgdl / b.encAvgdl)
          s(i) = math.max(v, s(i + 1))
          i -= 1
        }
        suffixMaxTfNorm = s
        boundAvgdl = qAvgdl
      }
      suffixMaxTfNorm(math.min(bi, blocks.length))
    }
    private var boundAvgdl: Double = Double.NaN
    private var suffixMaxTfNorm: Array[Double] = _

    /** Block-local bound for the current block under the live avgdl. */
    def blockMaxTfNorm(qAvgdl: Double): Double =
      if (bi < blocks.length) {
        val b = blocks(bi)
        b.maxTfNorm * math.max(1.0, qAvgdl / b.encAvgdl)
      } else 0.0

    /** Skip bound: last doc of the current block (callers may jump past). */
    def blockLastDoc: Long = if (bi < blocks.length) blocks(bi).lastDoc else NoMoreDocs
  }

  /** Query-tree scorer: a cursor with scores. */
  sealed trait DocScorer {
    def doc: Long
    def next(): Unit
    def advance(target: Long): Unit
    /** Score of the current doc (only valid when doc != NoMoreDocs). */
    def score: Double
    /** Upper bound on any future score. */
    def maxScore: Double
  }

  /** BM25 term scorer: weight = idf (times boost). */
  final class TermScorer(it: TermIterator, weight: Double) extends DocScorer {
    def doc: Long = it.doc
    def next(): Unit = it.next()
    def advance(target: Long): Unit = it.advance(target)
    def score: Double = {
      val tf = it.curTf
      weight * tf * (IndexBuilder.K1 + 1.0) /
        (tf + IndexBuilder.K1 * ((1.0 - IndexBuilder.B) + bOverAvgdl * it.curDl))
    }
    def maxScore: Double = weight * it.maxTfNorm(qAvgdl)
    def blockMaxScore: Double = weight * it.blockMaxTfNorm(qAvgdl)
    def blockLastDoc: Long = it.blockLastDoc
    private var bOverAvgdl: Double = 0.0
    private var qAvgdl: Double = 1.0
    def withAvgdl(avgdl: Double): TermScorer = {
      qAvgdl = avgdl
      bOverAvgdl = IndexBuilder.B / avgdl
      this
    }
  }

  /** Exact-phrase scorer: conjunction of the terms' iterators + consecutive
    * position check; tf = phrase frequency, weight = Σ idf.
    */
  final class PhraseScorer(its: IndexedSeq[TermIterator], slop: Int, weight: Double, avgdl: Double)
      extends DocScorer {
    private var curDoc: Long = -1L
    private var curFreq: Double = 0.0
    private var curDl: Int = 0
    findNext(0L)

    private def alignAll(target0: Long): Long = {
      // leapfrog all iterators to a common doc
      var target = target0
      var aligned = false
      while (!aligned) {
        its.foreach(_.advance(target))
        if (its.exists(_.doc == NoMoreDocs)) return NoMoreDocs
        val max = its.map(_.doc).max
        if (its.forall(_.doc == max)) { aligned = true; target = max }
        else target = max
      }
      target
    }

    private def phraseFreq(): Double =
      graft.query.PhraseMatch.weightedFreq(its.map(_.curPositions).toArray, slop)

    /** Per-block phrase feasibility (COVERAGE round-4): term i contributes
      * an ADJUSTED position adj_i = p_i − i from its current block's range
      * [minPos−i, maxPos−i]; a sloppy window needs max(adj) − min(adj) ≤
      * slop, which is achievable iff max_i(lo_i) − min_i(hi_i) ≤ slop.
      * When the current blocks fail this, NO doc can match while every
      * cursor stays inside its block — so positions stay undecoded and the
      * per-doc window scan is skipped for the whole block overlap.
      */
    private def blocksFeasible(): Boolean = {
      var maxLo = Int.MinValue
      var minHi = Int.MaxValue
      var i = 0
      while (i < its.length) {
        val lo = its(i).blockMinPos - i
        val hi = its(i).blockMaxPos - i
        if (lo > maxLo) maxLo = lo
        if (hi < minHi) minHi = hi
        i += 1
      }
      maxLo - minHi <= slop
    }

    private def findNext(target: Long): Unit = {
      var t = target
      curDoc = NoMoreDocs
      var done = false
      while (!done) {
        val d = alignAll(t)
        if (d == NoMoreDocs) { done = true }
        else if (!blocksFeasible()) {
          // jump past the earliest current-block end: feasibility can only
          // change once some iterator leaves its block
          var minBlockEnd = NoMoreDocs
          its.foreach(it => if (it.blockLastDoc < minBlockEnd) minBlockEnd = it.blockLastDoc)
          t = minBlockEnd + 1
        } else {
          val f = phraseFreq()
          if (f > 0) {
            curDoc = d
            curFreq = f
            curDl = its.head.curDl
            done = true
          } else t = d + 1
        }
      }
    }

    def doc: Long = curDoc
    def next(): Unit = if (curDoc != NoMoreDocs) findNext(curDoc + 1)
    def advance(target: Long): Unit = if (curDoc < target) findNext(target)
    def score: Double =
      weight * curFreq * (IndexBuilder.K1 + 1.0) /
        (curFreq + IndexBuilder.K1 * ((1.0 - IndexBuilder.B) + (IndexBuilder.B / avgdl) * curDl))
    /** Block-derived phrase bound (round-3, COVERAGE "phrase-under-WAND"):
      * an exact-phrase occurrence consumes a distinct position of EVERY
      * member term, so pf ≤ min over terms of that term's tf in the doc and
      * tfNorm(pf, dl) ≤ min over terms of their remaining-block tf-norm
      * bounds. A sloppy anchor may reuse non-anchor positions across
      * matches, so only term 0's bound (pf ≤ tf₀ · 1, weights ≤ 1 per
      * anchor) applies. Clamped by the k1+1 asymptote; tightens as the
      * member iterators consume blocks.
      */
    def maxScore: Double = {
      val tfBound =
        if (slop <= 0) its.iterator.map(_.maxTfNorm(avgdl)).min
        else its.head.maxTfNorm(avgdl)
      weight * math.min(IndexBuilder.K1 + 1.0, tfBound)
    }
  }

  /** Constant-score disjunction over expanded terms (prefix/wildcard/fuzzy/
    * range rewrites) — Lucene CONSTANT_SCORE_REWRITE.
    */
  final class ConstScorer(its: IndexedSeq[TermIterator], weight: Double = 1.0) extends DocScorer {
    def doc: Long = if (its.isEmpty) NoMoreDocs else its.map(_.doc).min
    def next(): Unit = { val d = doc; its.foreach(it => if (it.doc == d) it.next()) }
    def advance(target: Long): Unit = its.foreach(_.advance(target))
    def score: Double = weight
    def maxScore: Double = weight
  }

  /** Constant-score cursor over an explicit sorted docId set — the shard's
    * doc-value predicate matches (typed point/range/match-all queries),
    * materialized from the stored sidecar's columnar scan. The Lucene
    * analog is a doc-values iterator wrapped in a ConstantScoreQuery.
    */
  final class DocIdSetScorer(docs: Array[Long], weight: Double = 1.0) extends DocScorer {
    private var i = 0
    def doc: Long = if (i < docs.length) docs(i) else NoMoreDocs
    def next(): Unit = if (i < docs.length) i += 1
    def advance(target: Long): Unit = {
      // galloping search: phrase/bool leapfrogging advances by small steps
      var step = 1
      while (i + step < docs.length && docs(i + step) < target) step <<= 1
      var hi = math.min(i + step, docs.length)
      var lo = i
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (docs(mid) < target) lo = mid + 1 else hi = mid
      }
      i = lo
    }
    def score: Double = weight
    def maxScore: Double = weight
  }

  final class BoostScorer(inner: DocScorer, boost: Double) extends DocScorer {
    def doc: Long = inner.doc
    def next(): Unit = inner.next()
    def advance(target: Long): Unit = inner.advance(target)
    def score: Double = inner.score * boost
    def maxScore: Double = inner.maxScore * boost
  }

  /** General boolean scorer: MUST leapfrog conjunction, SHOULD sum-if-
    * present, MUST_NOT exclusion. With no MUSTs it is a plain disjunction
    * (use [[wandTopK]] for the pruned pure-term case).
    */
  final class BoolScorer(
      musts: IndexedSeq[DocScorer],
      shoulds: IndexedSeq[DocScorer],
      nots: IndexedSeq[DocScorer]) extends DocScorer {
    private var curDoc: Long = -1L
    findNext(0L)

    private def findNext(target0: Long): Unit = {
      var target = target0
      curDoc = NoMoreDocs
      var done = false
      while (!done) {
        val cand: Long =
          if (musts.nonEmpty) {
            // leapfrog conjunction
            musts.foreach(_.advance(target))
            if (musts.exists(_.doc == NoMoreDocs)) NoMoreDocs
            else {
              val max = musts.map(_.doc).max
              if (musts.forall(_.doc == max)) max else { target = max; -1L }
            }
          } else {
            shoulds.foreach(s => if (s.doc < target) s.advance(target))
            val m = shoulds.map(_.doc).min
            m
          }
        if (cand == NoMoreDocs) done = true
        else if (cand >= 0) {
          // excluded?
          val excluded = nots.exists { n =>
            n.advance(cand); n.doc == cand
          }
          if (!excluded) { curDoc = cand; done = true }
          else target = cand + 1
        }
        // cand == -1 → musts not aligned yet, loop with new target
      }
    }

    def doc: Long = curDoc
    def next(): Unit = if (curDoc != NoMoreDocs) findNext(curDoc + 1)
    def advance(target: Long): Unit = if (curDoc < target) findNext(target)
    def score: Double = {
      var s = 0.0
      musts.foreach(m => s += m.score)
      shoulds.foreach { sh =>
        if (sh.doc < curDoc) sh.advance(curDoc)
        if (sh.doc == curDoc) s += sh.score
      }
      s
    }
    def maxScore: Double = (musts ++ shoulds).map(_.maxScore).sum
  }

  /** Bounded top-k heap ordered by (score desc, docId asc): the worst entry
    * is the head. Inserting docs in ascending docId order means equal-score
    * later docs correctly lose ties.
    */
  final class TopKHeap(k: Int) {
    private val ord = Ordering.by[(Long, Double), (Double, Long)] { case (d, s) => (s, -d) }
    private val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord.reverse)
    def threshold: Double = if (heap.size < k) -1.0 else heap.head._2
    def offer(doc: Long, score: Double): Unit = {
      if (heap.size < k) heap.enqueue((doc, score))
      else if (score > heap.head._2) { heap.dequeue(); heap.enqueue((doc, score)) }
    }
    def result: Seq[(Long, Double)] = heap.toSeq.sortBy { case (d, s) => (-s, d) }
  }

  /** Exhaustive top-k evaluation of any scorer tree; `excluded` docs
    * (tombstones) never enter the heap.
    */
  def exhaustiveTopK(root: DocScorer, k: Int, excluded: Long => Boolean = _ => false): Seq[(Long, Double)] = {
    val heap = new TopKHeap(k)
    while (root.doc != NoMoreDocs) {
      if (!excluded(root.doc)) heap.offer(root.doc, root.score)
      root.next()
    }
    heap.result
  }

  /** MAXSCORE pruning (Turtle & Flood 1995) over a general disjunction —
    * terms, phrases, constant-score rewrites, boosts. Scorers are split by
    * upper bound: the maximal prefix (ascending maxScore) whose bounds sum
    * to ≤ the current kth score is NON-ESSENTIAL — a doc appearing only in
    * non-essential lists cannot reach the top-k, so candidates are drawn
    * from the essential lists alone and non-essential cursors only ever
    * `advance` (skip) to candidates, never enumerate. This is the pruned
    * path for mixed term+phrase disjunctions where block-max WAND
    * (term-only) doesn't apply. Scores sum in the caller's clause order
    * (float-determinism invariant shared with wandTopK/BoolScorer).
    */
  def maxscoreTopK(scorers: IndexedSeq[DocScorer], k: Int,
      excluded: Long => Boolean = _ => false): Seq[(Long, Double)] = {
    val heap = new TopKHeap(k)
    if (scorers.isEmpty) return heap.result
    val clauseOrd: Map[DocScorer, Int] = scorers.zipWithIndex.toMap
    val sorted = scorers.sortBy(_.maxScore).toArray
    val prefix = new Array[Double](sorted.length + 1)
    var i = 0
    while (i < sorted.length) { prefix(i + 1) = prefix(i) + sorted(i).maxScore; i += 1 }
    var done = false
    while (!done) {
      // non-essential prefix under the live threshold
      val threshold = heap.threshold
      var ness = 0
      while (ness < sorted.length && prefix(ness + 1) <= threshold) ness += 1
      if (ness >= sorted.length) done = true // no scorer set can beat the kth score
      else {
        var cand = NoMoreDocs
        var j = ness
        while (j < sorted.length) { if (sorted(j).doc < cand) cand = sorted(j).doc; j += 1 }
        if (cand == NoMoreDocs) done = true
        else {
          if (!excluded(cand)) {
            // actual essential score + non-essential bound: only if that can
            // beat the threshold do the non-essential cursors advance
            var essScore = 0.0
            j = ness
            while (j < sorted.length) { if (sorted(j).doc == cand) essScore += sorted(j).score; j += 1 }
            if (essScore + prefix(ness) > threshold) {
              val matching = scala.collection.mutable.ArrayBuffer[DocScorer]()
              j = 0
              while (j < sorted.length) {
                if (j < ness && sorted(j).doc < cand) sorted(j).advance(cand)
                if (sorted(j).doc == cand) matching += sorted(j)
                j += 1
              }
              val ordered = matching.sortBy(clauseOrd)
              var s = 0.0
              ordered.foreach(t => s += t.score)
              heap.offer(cand, s)
            }
          }
          j = ness
          while (j < sorted.length) { if (sorted(j).doc == cand) sorted(j).next(); j += 1 }
        }
      }
    }
    heap.result
  }

  /** Block-max WAND over a pure disjunction of term scorers: skip any doc
    * whose summed term upper bounds cannot beat the current kth score; on a
    * pivot, re-check with the (tighter) current-block bounds before scoring
    * (Ding & Suel 2011). `excluded` docs (tombstones) are dropped at
    * heap-offer time — the threshold only ever reflects kept docs, so it
    * stays a valid lower bound and every skip remains sound.
    */
  def wandTopK(terms: IndexedSeq[TermScorer], k: Int,
      excluded: Long => Boolean = _ => false): Seq[(Long, Double)] = {
    val heap = new TopKHeap(k)
    // canonical clause order for the float sum: scores are accumulated in
    // the caller's term order regardless of cursor order, so results are
    // bit-identical to clause-ordered summation (SURVEY.md §7 hard parts:
    // "fix float summation order")
    val clauseOrd: Map[TermScorer, Int] = terms.zipWithIndex.toMap
    val its = terms.toArray
    var live = its.filter(_.doc != NoMoreDocs)
    while (live.nonEmpty) {
      java.util.Arrays.sort(live, Ordering.by((s: TermScorer) => s.doc))
      val threshold = heap.threshold
      // find pivot: smallest prefix whose Σ maxScore can beat threshold
      var acc = 0.0
      var p = -1
      var i = 0
      while (p < 0 && i < live.length) {
        acc += live(i).maxScore
        if (acc > threshold) p = i
        i += 1
      }
      if (p < 0) return heap.result // no combination can beat threshold
      val pivotDoc = live(p).doc
      if (live(0).doc == pivotDoc) {
        // all candidates aligned on pivotDoc. Block-max refinement over ALL
        // iterators positioned on pivotDoc (not just the pivot prefix — a
        // later iterator sharing the doc contributes too).
        val matching = live.takeWhile(_.doc == pivotDoc)
        var blockBound = 0.0
        matching.foreach(t => blockBound += t.blockMaxScore)
        if (blockBound > threshold) {
          if (!excluded(pivotDoc)) {
            val ordered = matching.sortBy(clauseOrd)
            var s = 0.0
            ordered.foreach(t => s += t.score)
            heap.offer(pivotDoc, s)
          }
          matching.foreach(_.next())
        } else {
          // These blocks can't beat the threshold anywhere: jump past the
          // nearest matching-block end, but never past the first
          // non-matching iterator's doc (it would raise the bound).
          var minBlockEnd = NoMoreDocs
          matching.foreach(t => if (t.blockLastDoc < minBlockEnd) minBlockEnd = t.blockLastDoc)
          val cap =
            if (matching.length < live.length) live(matching.length).doc else NoMoreDocs
          val target = math.min(math.min(minBlockEnd, NoMoreDocs - 1) + 1, cap)
          matching.foreach(_.advance(target))
        }
      } else {
        // advance the leading iterators to the pivot
        var n = 0
        while (live(n).doc < pivotDoc) { live(n).advance(pivotDoc); n += 1 }
      }
      live = live.filter(_.doc != NoMoreDocs)
    }
    heap.result
  }
}
