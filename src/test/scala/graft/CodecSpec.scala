package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.index.Codec

/** Compression round-trip + property tests (SURVEY.md §5.2 item 4). */
class CodecSpec extends AnyFunSuite with GenSamples {

  private val postingGen: Gen[Vector[Decoded]] = for {
    n <- Gen.choose(0, 600)
    gaps <- Gen.listOfN(n, Gen.choose(1L, 5000L))
    tfs <- Gen.listOfN(n, Gen.choose(1, 20))
    // up to 70,000: runs whose norms need 1, 2 and 4 bytes per doc
    maxDl <- Gen.oneOf(255, 65535, 70000)
    dls <- Gen.listOfN(n, Gen.choose(1, maxDl))
  } yield {
    val docIds = gaps.scanLeft(10L)(_ + _).tail
    docIds.lazyZip(tfs).lazyZip(dls).map { (d, tf, dl) =>
      val positions = (0 until tf).scanLeft(0)((p, _) => p + 1 + (d % 7).toInt).tail.toArray
      Decoded(d, tf, dl max tf, positions)
    }.toVector
  }

  test("vlong round-trip") {
    forAll(Gen.choose(0L, Long.MaxValue / 2)) { v =>
      val buf = new Codec.ByteWriter()
      Codec.writeVLong(buf, v)
      val (got, n) = Codec.readVLong(buf.toArray, 0)
      assert(got === v && n === buf.size)
    }
  }

  private def decode(b: Codec.Block): Seq[(Long, Int, Seq[Int])] = {
    val docs = Codec.decodeDocs(b)
    val poss = Codec.decodePositions(b, docs.tfs)
    (0 until b.count).map(i => (docs.docIds(i), docs.tfs(i), poss(i).toSeq))
  }

  test("block encode/decode identity over arbitrary sorted posting runs") {
    forAll(postingGen) { run =>
      val blocks = Decoded.encode(run, avgdl = 57.3)
      assert(blocks.flatMap(decode) === run.map(d => (d.docId, d.tf, d.positions.toSeq)))
    }
  }

  test("norms round-trip every dl at the least width; docs outside the rows read 0") {
    val widths = scala.collection.mutable.Set.empty[Int]
    forAll(postingGen) { run =>
      whenever(run.nonEmpty) {
        val norms = normsOf(run)
        run.foreach(d => assert(norms.dl(d.docId) === d.dl))
        assert(norms.dl(run.head.docId - 1) === 0 && norms.dl(run.last.docId + 1) === 0)
        val span = (run.last.docId - run.head.docId + 1).toInt
        val dls = new Array[Int](span)
        run.foreach(d => dls((d.docId - run.head.docId).toInt) = d.dl)
        val w = Codec.encodeNorms(dls, 0, span).length / span
        val max = run.map(_.dl).max
        assert(w === (if (max < 256) 1 else if (max < 65536) 2 else 4))
        widths += w
        // gaps between postings read 0 (the doc has no posting in the field)
        run.sliding(2).foreach {
          case Seq(a, b) if b.docId > a.docId + 1 => assert(norms.dl(a.docId + 1) === 0)
          case _ =>
        }
      }
    }
    assert(widths === Set(1, 2, 4))
    // several rows (one per generation): lookups in any order hit the right row
    val a = Array(3, 0, 5)
    val b = Array(70000, 1)
    val multi = new Codec.Norms(Seq(
      (200L, 201L, Codec.encodeNorms(b, 0, 2)), (100L, 102L, Codec.encodeNorms(a, 0, 3))))
    assert(Seq(201L, 100L, 102L, 150L, 200L, 101L, 99L, 202L).map(multi.dl) ===
      Seq(1, 3, 5, 0, 70000, 0, 0, 0))
  }

  test("block metadata: bounds, sizes, block-max is an upper bound") {
    forAll(postingGen) { run =>
      whenever(run.nonEmpty) {
        val avgdl = 57.3
        val blocks = Decoded.encode(run, avgdl)
        assert(blocks.map(_.count).sum === run.length)
        assert(blocks.forall(_.count <= Codec.BlockSize))
        assert(blocks.head.firstDoc === run.head.docId)
        assert(blocks.last.lastDoc === run.last.docId)
        // firstDoc/lastDoc ordered and disjoint
        blocks.sliding(2).foreach {
          case Seq(a, b) => assert(a.lastDoc < b.firstDoc)
          case _ =>
        }
        val dlOf = run.map(d => d.docId -> d.dl).toMap
        blocks.foreach { b =>
          decode(b).foreach { case (doc, tf, _) =>
            val norm = tf * 2.2 / (tf + 1.2 * (0.25 + (0.75 / avgdl) * dlOf(doc)))
            assert(norm <= b.maxTfNorm + 1e-12)
            assert(tf <= b.maxTf)
          }
        }
      }
    }
  }
}
