package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.index.IndexBuilder
import graft.index.Scorers._

/** WAND ≡ exhaustive scoring on random corpora (SURVEY.md §5.2 item 4;
  * north rule mandates block-max WAND).
  */
class WandSpec extends AnyFunSuite with GenSamples {

  private val avgdl = 40.0

  /** Random mini-corpus: up to 4 terms, each with a random posting list over
    * docIds < 3000, dl shared per doc.
    */
  private val corpusGen: Gen[Seq[(Double, Vector[Decoded])]] = for {
    nTerms <- Gen.choose(1, 4)
    terms <- Gen.listOfN(nTerms, for {
      idf <- Gen.choose(0.1, 5.0)
      n <- Gen.choose(1, 400)
      ids <- Gen.listOfN(n, Gen.choose(0L, 3000L))
      tfs <- Gen.listOfN(n, Gen.choose(1, 8))
    } yield {
      val docs = ids.distinct.sorted
      val run = docs.zip(tfs).map { case (d, tf) =>
        Decoded(d, tf, dl = 20 + (d % 40).toInt, positions = Array.range(0, tf))
      }.toVector
      (idf, run)
    })
  } yield terms

  private def scorers(corpus: Seq[(Double, Vector[Decoded])]): IndexedSeq[TermScorer] =
    corpus.map { case (idf, run) =>
      new TermScorer(iterOf(run, avgdl), idf).withAvgdl(avgdl)
    }.toIndexedSeq

  private def bruteForce(corpus: Seq[(Double, Vector[Decoded])], k: Int): Seq[(Long, Double)] = {
    val byDoc = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
    corpus.foreach { case (idf, run) =>
      run.foreach { d =>
        byDoc(d.docId) += idf * d.tf * (IndexBuilder.K1 + 1.0) /
          (d.tf + IndexBuilder.K1 * ((1.0 - IndexBuilder.B) + (IndexBuilder.B / avgdl) * d.dl))
      }
    }
    byDoc.toSeq.sortBy { case (d, s) => (-s, d) }.take(k)
  }

  test("block-max WAND top-k ≡ exhaustive disjunction scoring") {
    forAll(corpusGen, Gen.oneOf(1, 3, 10, 50)) { (corpus, k) =>
      val wand = wandTopK(scorers(corpus), k)
      val want = bruteForce(corpus, k)
      assert(wand.map(_._1) === want.map(_._1))
      wand.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-12) }
    }
  }

  test("WAND over BLOCK-LOCAL encAvgdl blocks ≡ exhaustive under any live avgdl (round 5)") {
    // the single-pass build encodes block-max bounds against each block's
    // own mean dl (Codec.RunEncoder.encodeLocal) — the scorers' per-block
    // max(1, q/encAvgdl) inflation must keep pruning sound for live avgdls
    // both above and below every block's local reference point
    forAll(corpusGen, Gen.zip(Gen.oneOf(1, 3, 10, 50), Gen.choose(5.0, 120.0))) { case (corpus, (k, liveAvgdl)) =>
      val localScorers = corpus.map { case (idf, run) =>
        new TermScorer(new TermIterator(Decoded.encodeLocal(run), normsOf(run)), idf).withAvgdl(liveAvgdl)
      }.toIndexedSeq
      val wand = wandTopK(localScorers, k)
      val byDoc = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      corpus.foreach { case (idf, run) =>
        run.foreach { d =>
          byDoc(d.docId) += idf * d.tf * (IndexBuilder.K1 + 1.0) /
            (d.tf + IndexBuilder.K1 * ((1.0 - IndexBuilder.B) + (IndexBuilder.B / liveAvgdl) * d.dl))
        }
      }
      val want = byDoc.toSeq.sortBy { case (d, s) => (-s, d) }.take(k)
      assert(wand.map(_._1) === want.map(_._1))
      wand.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-12) }
    }
  }

  test("WAND with exclusions ≡ exhaustive with exclusions (tombstones keep pruning sound)") {
    forAll(corpusGen, Gen.oneOf(1, 3, 10)) { (corpus, k) =>
      // tombstone every 3rd docId — exclusion at heap-offer time must yield
      // exactly the brute-force ranking over the kept docs
      val excluded: Long => Boolean = _ % 3 == 0
      val wand = wandTopK(scorers(corpus), k, excluded)
      val want = bruteForce(corpus, Int.MaxValue).filterNot(p => excluded(p._1)).take(k)
      assert(wand.map(_._1) === want.map(_._1))
      wand.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-12) }
    }
  }

  test("MAXSCORE ≡ exhaustive on mixed term+phrase disjunctions") {
    def phraseOf(c: Seq[(Double, Vector[Decoded])]): PhraseScorer =
      new PhraseScorer(c.take(2).map { case (_, run) =>
        iterOf(run, avgdl)
      }.toIndexedSeq, 1, 3.0, avgdl)
    forAll(Gen.zip(corpusGen, corpusGen), Gen.oneOf(1, 5, 10)) { case ((c1, c2), k) =>
      whenever(c2.length >= 2) {
        val got = maxscoreTopK(scorers(c1) ++ IndexedSeq[DocScorer](phraseOf(c2)), k)
        val want = exhaustiveTopK(
          new BoolScorer(IndexedSeq.empty,
            scorers(c1) ++ IndexedSeq[DocScorer](phraseOf(c2)), IndexedSeq.empty), k)
        assert(got.map(_._1) === want.map(_._1))
        got.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-12) }
      }
    }
    // pure-term sanity vs brute force, with and without exclusions
    forAll(corpusGen, Gen.oneOf(1, 3, 10)) { (corpus, k) =>
      val got = maxscoreTopK(scorers(corpus).map(s => s: DocScorer), k, _ % 7 == 0)
      val want = bruteForce(corpus, Int.MaxValue).filterNot(_._1 % 7 == 0).take(k)
      assert(got.map(_._1) === want.map(_._1))
      got.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-12) }
    }
  }

  test("exhaustive BoolScorer disjunction agrees too") {
    forAll(corpusGen) { corpus =>
      val root = new BoolScorer(IndexedSeq.empty, scorers(corpus), IndexedSeq.empty)
      val got = exhaustiveTopK(root, 10)
      assert(got === bruteForce(corpus, 10))
    }
  }

  test("TermIterator.advance skips blocks correctly") {
    forAll(corpusGen) { corpus =>
      corpus.foreach { case (_, run) =>
        whenever(run.nonEmpty) {
          val targets = Seq(run.head.docId, run(run.length / 2).docId,
            run.last.docId, run.last.docId + 1)
          targets.foreach { t =>
            val it = iterOf(run, avgdl)
            it.advance(t)
            val expected = run.find(_.docId >= t).map(_.docId)
            assert((if (it.doc == NoMoreDocs) None else Some(it.doc)) === expected)
          }
        }
      }
    }
  }

  test("phrase block-max bound makes a hot phrase NON-essential under MAXSCORE (fewer decoded blocks)") {
    // Rare term scores ≈ 1.58; phrase real score ≈ its new tf-derived bound
    // ≈ 1.11 (every doc tf=1). The round-2 loose bound weight·(k1+1) = 2.2
    // kept the phrase essential forever (full enumeration); the min-over-
    // member-blocks bound drops below the threshold once the heap holds the
    // rare docs, so the phrase cursors only advance() to candidates.
    val hotA = (0L until 1000000L by 2L).map(d => Decoded(d, 1, 30, Array(0))).toVector
    val hotB = (0L until 1000000L by 2L).map(d => Decoded(d, 1, 30, Array(1))).toVector
    val rare = Vector(1L, 3L, 5L, 7L, 9L).map(d => Decoded(d, 5, 30, Array(0, 1, 2, 3, 4)))
    val itA = iterOf(hotA, avgdl)
    val itB = iterOf(hotB, avgdl)
    val phrase = new PhraseScorer(IndexedSeq(itA, itB), 0, 1.0, avgdl)
    val rareScorer = new TermScorer(iterOf(rare, avgdl), 1.0)
      .withAvgdl(avgdl)
    assert(phrase.maxScore < 1.2) // the tightened bound (loose bound was 2.2)
    val got = maxscoreTopK(IndexedSeq[DocScorer](rareScorer, phrase), 5)
    assert(got.map(_._1) === Seq(1L, 3L, 5L, 7L, 9L)) // rare docs outrank every phrase hit
    val frac = (itA.decodedBlocks + itB.decodedBlocks).toDouble / (itA.totalBlocks + itB.totalBlocks)
    assert(frac < 0.05, f"expected <5%% of phrase member blocks decoded, got ${frac * 100}%.1f%%")
  }

  test("phrase block position bounds skip position decodes; results ≡ exhaustive (round-4)") {
    // A at pos 0 in every even doc. B co-occurs everywhere but sits at pos
    // 500 — except docs in [50000, 50512) where it is adjacent (pos 1). The
    // per-block [minPos, maxPos] feasibility check must confine position
    // decoding to the few blocks overlapping that range; every other block
    // pair is provably un-matchable without looking at a single position.
    val aRun = (0L until 200000L by 2L).map(d => Decoded(d, 1, 30, Array(0))).toVector
    val bRun = (0L until 200000L by 2L).map { d =>
      val p = if (d >= 50000L && d < 50512L) 1 else 500
      Decoded(d, 1, 30, Array(p))
    }.toVector
    val itA = iterOf(aRun, avgdl)
    val itB = iterOf(bRun, avgdl)
    val phrase = new PhraseScorer(IndexedSeq(itA, itB), 0, 1.0, avgdl)
    val got = exhaustiveTopK(phrase, 1000)
    assert(got.map(_._1).sorted === (50000L until 50512L by 2L).toVector)
    val posFrac = (itA.decodedPosBlocks + itB.decodedPosBlocks).toDouble /
      (itA.totalBlocks + itB.totalBlocks)
    assert(posFrac < 0.05, f"expected <5%% of position blocks decoded, got ${posFrac * 100}%.1f%%")
  }

  test("phrase feasibility pruning never changes results (random offsets and slops)") {
    val runGen = for {
      n <- Gen.choose(5, 200)
      ids <- Gen.listOfN(n, Gen.choose(0L, 2000L))
      offs <- Gen.listOfN(n, Gen.oneOf(0, 1, 2, 7, 40))
      tfs <- Gen.listOfN(n, Gen.choose(1, 3))
    } yield ids.distinct.sorted.zip(offs.zip(tfs)).map { case (d, (off, tf)) =>
      Decoded(d, tf, 25, Array.tabulate(tf)(j => off + 2 * j))
    }.toVector
    forAll(Gen.zip(runGen, runGen, Gen.choose(0, 3), Gen.oneOf(2, 10))) { case (ra, rb, slop, k) =>
      val phrase = new PhraseScorer(IndexedSeq(
        iterOf(ra, avgdl),
        iterOf(rb, avgdl)), slop, 1.5, avgdl)
      val got = exhaustiveTopK(phrase, k)
      // brute force straight off the raw runs through the same kernel
      val byA = ra.map(d => d.docId -> d).toMap
      val want = rb.flatMap { db =>
        byA.get(db.docId).flatMap { da =>
          val pf = graft.query.PhraseMatch.weightedFreq(Array(da.positions, db.positions), slop)
          if (pf > 0)
            Some(db.docId -> 1.5 * pf * (IndexBuilder.K1 + 1.0) /
              (pf + IndexBuilder.K1 * ((1.0 - IndexBuilder.B) + (IndexBuilder.B / avgdl) * da.dl)))
          else None
        }
      }.sortBy { case (d, s) => (-s, d) }.take(k)
      assert(got.map(_._1) === want.map(_._1))
      got.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-12) }
    }
  }

  test("WAND actually skips blocks: rare term + hot term decodes a fraction of the hot postings") {
    // hot term: every 2nd doc over 2M ids (many blocks); rare term: 5 docs.
    // The rare term's high idf dominates: once the heap holds rare-doc
    // scores, hot-only blocks can't beat the threshold and are skipped.
    val hot = (0L until 2000000L by 2L).map(d => Decoded(d, 1, 30, Array(0))).toVector
    val rare = Vector(100001L, 500001L, 900001L, 1300001L, 1700001L)
      .map(d => Decoded(d, 5, 30, Array(0, 1, 2, 3, 4)))
    val hotIt = iterOf(hot, avgdl)
    val rareIt = iterOf(rare, avgdl)
    val scorers = IndexedSeq(
      new TermScorer(hotIt, 0.05).withAvgdl(avgdl),   // low idf
      new TermScorer(rareIt, 12.0).withAvgdl(avgdl))  // high idf
    val got = wandTopK(scorers, 5)
    assert(got.map(_._1).toSet === rare.map(_.docId).toSet) // rare docs win
    val frac = hotIt.decodedBlocks.toDouble / hotIt.totalBlocks
    assert(frac < 0.05, f"expected <5%% of hot blocks decoded, got ${frac * 100}%.1f%% " +
      s"(${hotIt.decodedBlocks}/${hotIt.totalBlocks})")
  }
}
