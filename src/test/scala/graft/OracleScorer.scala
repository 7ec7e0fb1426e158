package graft

import graft.analysis.Analyzer
import graft.index.{FieldDef, IndexBuilder, StringField, TextField}
import graft.query._

/** Single-threaded, in-memory reference scorer — the executable spec for the
  * distributed engine (SURVEY.md §5.2). Implements exact BM25 (k1=1.2,
  * b=0.75, Lucene 6.4.1 default similarity), the same boolean / phrase /
  * multi-term semantics as [[graft.query.Searcher]], and the (score desc,
  * docId asc) tie-break. The distributed engine must match it
  * rank-identically with scores equal to float tolerance.
  */
final class OracleScorer(docs: Seq[(Long, Map[String, String])], fields: Seq[FieldDef]) {
  import IndexBuilder.{B, K1}

  private val kinds: Map[String, graft.index.FieldKind] =
    fields.map(f => f.indexField -> f.kind).toMap

  // (field, term) -> docId -> (tf, positions)
  private val postings = scala.collection.mutable.Map[(String, String), scala.collection.mutable.Map[Long, (Int, Array[Int])]]()
  private val dl = scala.collection.mutable.Map[(Long, String), Int]()
  private val fieldDocCount = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
  private val fieldLenSum = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)

  docs.foreach { case (docId, fvs) =>
    fields.foreach { f =>
      fvs.get(f.indexField).filter(_ != null).foreach { v =>
        val toks = f.kind match {
          case TextField(a) => a.tokens(v)
          case StringField => Vector(graft.analysis.Token(v, 0))
        }
        if (toks.nonEmpty) {
          dl((docId, f.indexField)) = toks.length
          fieldDocCount(f.indexField) += 1
          fieldLenSum(f.indexField) += toks.length
          toks.groupBy(_.term).foreach { case (t, occ) =>
            postings.getOrElseUpdate((f.indexField, t), scala.collection.mutable.Map())
              .put(docId, (occ.length, occ.map(_.pos).toArray))
          }
        }
      }
    }
  }

  private def avgdl(field: String): Double =
    fieldLenSum(field).toDouble / fieldDocCount(field)

  private def idf(field: String, term: String): Double = {
    val df = postings.get((field, term)).map(_.size.toLong).getOrElse(0L)
    IndexBuilder.idf(df, fieldDocCount(field))
  }

  private def bm25(tf: Double, theIdf: Double, docLen: Int, avg: Double): Double =
    theIdf * tf * (K1 + 1.0) / (tf + K1 * ((1.0 - B) + (B / avg) * docLen))

  private def analyzerFor(f: String): Analyzer = kinds.get(f) match {
    case Some(TextField(a)) => a
    case _ => graft.analysis.Analyzers.Keyword
  }

  private def isText(f: String): Boolean = kinds.get(f).exists(_.isInstanceOf[TextField])

  /** Same query-time binding as QueryFrontEnd.parse (QueryBind.bind). */
  def bind(q: Query): Query = q match {
    case TermQ(f, t) if isText(f) =>
      analyzerFor(f).queryTerms(t) match {
        case Seq() => EmptyQ
        case Seq(one) => TermQ(f, one)
        case many => BoolQ(many.map(m => Clause(Occur.Should, TermQ(f, m))))
      }
    case PhraseQ(f, terms, slop) if isText(f) =>
      val analyzed = terms.flatMap(analyzerFor(f).queryTerms(_))
      if (analyzed.isEmpty) EmptyQ
      else if (analyzed.length == 1) TermQ(f, analyzed.head)
      else PhraseQ(f, analyzed, slop)
    case BoolQ(cs) =>
      val bound = cs.map(c => c.copy(q = bind(c.q))).filter(_.q != EmptyQ)
      if (bound.isEmpty) EmptyQ
      else if (bound.length == 1 && bound.head.occur != Occur.MustNot) bound.head.q
      else BoolQ(bound)
    case BoostQ(inner, b) => val bi = bind(inner); if (bi == EmptyQ) EmptyQ else BoostQ(bi, b)
    case PrefixQ(f, p) if isText(f) => PrefixQ(f, p.toLowerCase)
    case WildcardQ(f, p) if isText(f) => WildcardQ(f, p.toLowerCase)
    case FuzzyQ(f, t, e) if isText(f) => FuzzyQ(f, t.toLowerCase, e)
    case other => other
  }

  /** docId -> score for a bound query. */
  def score(q: Query): Map[Long, Double] = q match {
    case EmptyQ => Map.empty
    case MatchAllQ => docs.map(d => d._1 -> 1.0).toMap

    case TermQ(f, t) =>
      postings.get((f, t)) match {
        case None => Map.empty
        case Some(pl) =>
          val theIdf = idf(f, t)
          val avg = avgdl(f)
          pl.map { case (d, (tf, _)) => d -> bm25(tf.toDouble, theIdf, dl((d, f)), avg) }.toMap
      }

    case PhraseQ(f, terms, slop) =>
      val pls = terms.map(t => postings.getOrElse((f, t), scala.collection.mutable.Map.empty[Long, (Int, Array[Int])]))
      if (pls.exists(_.isEmpty)) return Map.empty
      val sumIdf = terms.map(idf(f, _)).sum
      val avg = avgdl(f)
      val candidates = pls.map(_.keySet).reduce(_ intersect _)
      candidates.iterator.flatMap { d =>
        val freq = graft.query.PhraseMatch.weightedFreq(pls.map(_(d)._2).toArray, slop)
        if (freq > 0) Some(d -> bm25(freq, sumIdf, dl((d, f)), avg)) else None
      }.toMap

    case BoolQ(clauses) =>
      val pos = clauses.filter(_.occur != Occur.MustNot)
      val neg = clauses.filter(_.occur == Occur.MustNot)
      if (pos.isEmpty) return Map.empty
      val musts = pos.filter(_.occur == Occur.Must).map(c => score(c.q))
      val shoulds = pos.filter(_.occur == Occur.Should).map(c => score(c.q))
      val candidateIds: Set[Long] =
        if (musts.nonEmpty) musts.map(_.keySet).reduce(_ intersect _)
        else shoulds.map(_.keySet).foldLeft(Set.empty[Long])(_ union _)
      val negIds = neg.map(c => score(c.q).keySet).foldLeft(Set.empty[Long])(_ union _)
      (candidateIds -- negIds).iterator.map { d =>
        d -> (musts ++ shoulds).flatMap(_.get(d)).sum
      }.toMap

    case BoostQ(inner, b) => score(inner).map { case (d, s) => d -> s * b }

    case PrefixQ(f, p) => constScore(f, _.startsWith(p))
    case WildcardQ(f, pat) =>
      val regex = ("^" + pat.flatMap {
        case '*' => ".*"
        case '?' => "."
        case c if "\\.[]{}()^$|+".contains(c) => "\\" + c
        case c => c.toString
      } + "$").r
      constScore(f, t => regex.findFirstIn(t).isDefined)
    case FuzzyQ(f, t, e) => constScore(f, cand => OracleScorer.levenshtein(cand, t) <= e)
    case TermRangeQ(f, lo, hi, incLo, incHi) =>
      constScore(f, t =>
        lo.forall(v => if (incLo) t >= v else t > v) && hi.forall(v => if (incHi) t <= v else t < v))
    case _: NumRangeQ | _: NumTermQ =>
      throw new UnsupportedOperationException("oracle covers text queries; numeric via DuckDB")
  }

  private def constScore(f: String, pred: String => Boolean): Map[Long, Double] =
    postings.keysIterator
      .filter { case (fld, t) => fld == f && pred(t) }
      .flatMap(k => postings(k).keysIterator)
      .toSet.iterator.map((d: Long) => d -> 1.0).toMap

  /** Top-k (docId, score), ties by docId asc. */
  def topK(q: String, k: Int, defaultField: String = "default", defaultAnd: Boolean = false): Seq[(Long, Double)] = {
    val ast = bind(new QueryParser(defaultField, defaultAnd).parse(q))
    score(ast).toSeq.sortBy { case (d, s) => (-s, d) }.take(k)
  }
}

object OracleScorer {
  def levenshtein(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) => if (i == 0) j else if (j == 0) i else 0 }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }
}
