package graft

import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

import graft.analysis.Analyzers
import graft.data.TranscriptGen
import graft.index._
import graft.query.{SearchOptions, Searcher}

/** `TextIndex.cached()` fills its cache in one pass — docs cached first,
  * term-ordered postings persisted as tokenized, one stats aggregation —
  * and serves exactly what the uncached build serves.
  */
class IndexCacheSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val fields = Bench.Fields ++ Seq(
    FieldDef("tag", "tag", StringField),
    FieldDef("word", "words", StringField),
    FieldDef("wtext", "words", TextField(Analyzers.Standard)))

  /** A TranscriptGen corpus plus HygieneSpec's rows: an empty STRING value
    * and an array source with an empty element (doubled space).
    */
  private lazy val turns = DocIds.assign(TranscriptGen.transcripts(spark, 40).toDF(),
    Seq("conv_id", "turn_idx"), "docId", 4)
    .select(col("docId"), col("text"), col("role"), col("tool"),
      when(col("docId") % 5 === 0, lit("")).otherwise(col("role")).as("tag"))

  /** First docId past the corpus: HygieneSpec's rows take n, n+1, n+2. */
  private lazy val n = turns.count()

  private lazy val docs = {
    import spark.implicits._
    val hygiene = Seq[(Long, String, String, String, String, String)](
      (n, "alpha gamma", "user", null, "alpha", "x y"),
      (n + 1, "beta", "user", "grep", "", "x  y"),
      (n + 2, "gamma", "tool", null, "beta", "z")).toDF("docId", "text", "role", "tool", "tag", "w")
    turns.withColumn("w", col("text"))
      .unionByName(hygiene)
      .withColumn("words", split(col("w"), " "))
      .drop("w")
  }

  private def postingKeys(ps: Array[Posting]) =
    ps.toSeq.map(p => (p.field, p.term, p.docId, p.tf, p.positions.toSeq, p.dl))
      .groupBy(identity).view.mapValues(_.size).toMap

  test("cached() ≡ uncached build: postings, term stats, bit-identical field stats") {
    import spark.implicits._
    val plain = IndexBuilder.build(docs, "docId", fields)
    val cached = IndexBuilder.build(docs, "docId", fields).cached()

    val want = plain.postings.collect()
    assert(want.nonEmpty && want.forall(_.term.nonEmpty))
    assert(postingKeys(cached.postings.collect()) === postingKeys(want))

    // term stats ≡ a plain aggregation over the postings
    val ref = plain.postings.groupBy($"field", $"term")
      .agg(count(lit(1)).as("df"), sum($"tf").as("cf")).as[TermStats].collect().toSet
    assert(cached.termStats.collect().toSet === ref)
    assert(plain.termStats.collect().toSet === ref)
    assert(!ref.exists(_.term == IndexBuilder.DlMarker))

    // field stats ≡ Spark's avg over one dl row per (doc, field), bit for bit
    val refFs = plain.postings.select($"field", $"docId", $"dl").distinct()
      .groupBy($"field")
      .agg(count(lit(1)).as("docCount"), avg($"dl").as("avgdl"), sum($"dl").cast("long").as("sumDl"))
      .as[FieldStats].collect().map(f => f.field -> f).toMap
    Seq(plain, cached).foreach { idx =>
      assert(idx.fieldStats.keySet === refFs.keySet)
      idx.fieldStats.foreach { case (f, fs) =>
        val r = refFs(f)
        assert(fs.docCount === r.docCount && fs.sumDl === r.sumDl, f)
        assert(java.lang.Double.doubleToLongBits(fs.avgdl) ===
          java.lang.Double.doubleToLongBits(r.avgdl), f)
      }
    }
    // the hygiene rows: empty STRING value and empty array element are absent
    assert(cached.fieldStats("tag").docCount === docs.filter($"tag" =!= "").count())
    assert(cached.postings.filter($"docId" === n + 1 && $"field" === "word").collect()
      .map(p => (p.term, p.tf, p.dl)).toSet === Set(("x", 1, 2), ("y", 1, 2)))
    assert(cached.postings.filter($"docId" === n + 1 && $"field" === "tag").count() === 0L)

    // and both executors of the Catalyst path answer alike
    Seq("hello", "role:assistant AND consensus", "tag:alpha", "word:x", "\"hello world\"").foreach { q =>
      def run(idx: TextIndex) = new Searcher(idx, SearchOptions(limit = 10)).search(q)
        .select("docId", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val (a, b) = (run(cached), run(plain))
      assert(a.nonEmpty && a.map(_._1) === b.map(_._1), q)
      a.zip(b).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) <= 1e-9, q) }
    }
  }

  test("cached() fill: term-ordered postings with no sort, docs read from the cache") {
    val plain = IndexBuilder.build(docs, "docId", fields)
    val idx = plain.cached()
    // the uncached index's lazily persisted postings are released
    assert(cachedData(plain.withMarkers).isEmpty)
    assert(cachedData(idx.docs).isDefined && cachedData(idx.statsWithMarkers).isDefined)
    val entry = cachedData(idx.withMarkers)
    assert(entry.isDefined)
    val plan = entry.get.cachedRepresentation.cacheBuilder.cachedPlan
    assert(collect(plan) { case s: SortExec => s }.isEmpty, plan.treeString)
    assert(collect(plan) { case s: InMemoryTableScanExec => s }.nonEmpty, plan.treeString)

    // every task's rows come out (field, term, docId)-ordered, markers included
    val ordered = idx.withMarkers.mapPartitions { it =>
      val keys = it.map(p => (p.field, p.term, p.docId)).toVector
      Iterator(keys == keys.sorted)
    }(org.apache.spark.sql.Encoders.scalaBoolean).collect()
    assert(ordered.nonEmpty && ordered.forall(identity))
    assert(idx.withMarkers.filter(col("term") === IndexBuilder.DlMarker).count() > 0)
  }
}
