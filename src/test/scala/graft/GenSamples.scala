package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Deterministic property-test driver: replays each Gen over fixed seeds
  * (scalatestplus bridge is not on the offline classpath).
  */
trait GenSamples {
  def forAll[A](g: Gen[A], n: Int = 60)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  def forAll[A, B](g1: Gen[A], g2: Gen[B])(body: (A, B) => Unit): Unit =
    forAll(Gen.zip(g1, g2))(t => body(t._1, t._2))

  def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body

  /** The norms a docId-sorted run's own dls give: one dense row over the
    * run's doc range (the layout a dl-marker row stores).
    */
  def normsOf(run: Seq[Decoded]): graft.index.Codec.Norms =
    if (run.isEmpty) new graft.index.Codec.Norms(Nil)
    else {
      val lo = run.head.docId
      val dls = new Array[Int]((run.last.docId - lo + 1).toInt)
      run.foreach(d => dls((d.docId - lo).toInt) = d.dl)
      new graft.index.Codec.Norms(
        Seq((lo, run.last.docId, graft.index.Codec.encodeNorms(dls, 0, dls.length))))
    }

  /** A term cursor over a run: its blocks plus its own norms. */
  def iterOf(run: Seq[Decoded], avgdl: Double): graft.index.Scorers.TermIterator =
    new graft.index.Scorers.TermIterator(Decoded.encode(run, avgdl), normsOf(run))
}

/** One posting as the codec specs write runs (`dl` feeds the block-max
  * bound and the run's norms).
  */
final case class Decoded(docId: Long, tf: Int, dl: Int, positions: Array[Int])

object Decoded {
  /** Encode a docId-sorted run, block-max bounds against a fixed `avgdl`. */
  def encode(run: Seq[Decoded], avgdl: Double): Vector[graft.index.Codec.Block] =
    new graft.index.Codec.RunEncoder().encode(run.map(_.docId).toArray, run.map(_.tf).toArray,
      run.map(_.dl).toArray, run.map(_.positions).toArray, run.length, avgdl)

  /** Encode a docId-sorted run against each block's own mean dl. */
  def encodeLocal(run: Seq[Decoded]): Vector[graft.index.Codec.Block] =
    new graft.index.Codec.RunEncoder().encodeLocal(run.map(_.docId).toArray, run.map(_.tf).toArray,
      run.map(_.dl).toArray, run.map(_.positions).toArray, run.length)
}
