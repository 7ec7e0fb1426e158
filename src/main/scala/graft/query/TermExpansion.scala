package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-term expansion shared by BOTH executors: the predicate is pushed
  * into the distributed termStats scan (never "collect the dictionary and
  * filter on the driver" — at 100 TB the term dictionary itself is a big
  * table), and the driver receives at most MaxClauseCount+1 matching terms.
  * Exceeding the cap throws, like Lucene's BooleanQuery.TooManyClauses
  * (reference QueryPlan.java:52-62 shows these rewrites; the reference
  * inherits Lucene's 1024 default).
  */
object TermExpansion {

  /** Matching terms of `field`, capped. `pred` is a predicate over `term`. */
  def expand(termStats: DataFrame, field: String, pred: Column): Seq[String] = {
    val cap = QueryLimits.MaxClauseCount
    val terms = termStats
      .filter(col("field") === field && pred)
      .select(col("term"))
      .limit(cap + 1)
      .collect().map(_.getString(0)).toSeq
    if (terms.length > cap) throw new QueryLimits.TooManyClauses(field, cap)
    terms
  }

  /** Field and term predicate of a multi-term query node, None for any
    * other node — one definition so the DataFrame and segment paths can't
    * diverge.
    */
  def unapply(q: Query): Option[(String, Column)] = q match {
    case PrefixQ(f, p) => Some((f, col("term").startsWith(p)))
    case WildcardQ(f, pat) => Some((f, col("term").rlike(QueryBind.wildcardRegex(pat))))
    case FuzzyQ(f, t, maxEdits) => Some((f, levenshtein(col("term"), lit(t)) <= maxEdits))
    case TermRangeQ(f, lo, hi, incLo, incHi) =>
      val conds = Seq(
        lo.map(v => if (incLo) col("term") >= v else col("term") > v),
        hi.map(v => if (incHi) col("term") <= v else col("term") < v)).flatten
      Some((f, conds.reduceOption(_ && _).getOrElse(lit(true))))
    case _ => None
  }
}
