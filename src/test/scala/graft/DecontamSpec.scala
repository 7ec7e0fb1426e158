package graft

import org.apache.spark.sql.functions._

import graft.ops.{Decontam, Sampling}

/** Behavior + plan-shape specs for the split-assignment and benchmark-
  * decontamination operators (the subset of the pipeline family added in
  * late round 5).
  */
class DecontamSpec extends SparkSpec {

  // ---- splitAssign -------------------------------------------------------

  test("splitAssign labels every row, consistent with its bucket cuts") {
    val d = docsFixture((0L until 200L).map(i => (i, s"doc $i")): _*)
    val out = Sampling.splitAssign(d, "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == 200)
    out.foreach { case (_, bucket, split) =>
      val expected =
        if (bucket < 800000L) "train" else if (bucket < 900000L) "val" else "test"
      assert(split == expected, s"bucket $bucket labeled $split")
    }
    // all three labels appear at n=200 with these cuts (deterministic corpus)
    assert(out.map(_._3).distinct.sorted.toSeq == Seq("test", "train", "val"))
  }

  test("splitAssign is stable under corpus growth: a row's split never moves") {
    val small = Sampling.splitAssign(docsFixture((0L until 50L).map(i => (i, "x")): _*),
      "doc_id", Seq("train" -> 0.9, "test" -> 0.1))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val big = Sampling.splitAssign(docsFixture((0L until 500L).map(i => (i, "x")): _*),
      "doc_id", Seq("train" -> 0.9, "test" -> 0.1))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    small.foreach { case (id, s) => assert(big(id) == s, s"doc $id moved splits") }
  }

  test("splitAssign is a narrow map: no exchange") {
    val d = docsFixture((0L until 10L).map(i => (i, "x")): _*)
    val plan = Sampling.splitAssign(d, "doc_id", Seq("train" -> 0.8, "test" -> 0.2))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  // ---- decontamination ---------------------------------------------------

  private val benchText = "alpha beta gamma delta epsilon"
  private val bench = () => docsFixture((1000L, benchText))
  // doc 1: exact benchmark copy (3 shared shingles); doc 2: shares exactly
  // one 3-gram; doc 3: disjoint vocabulary
  private val corpus = () => docsFixture(
    (1L, benchText),
    (2L, "zulu alpha beta gamma yankee"),
    (3L, "one two three four five"))

  test("contaminationHits counts distinct shared shingles; minHits flags") {
    val hits = Decontam.contaminationHits(corpus(), "doc_id", "text",
        bench(), "doc_id", "text", minHits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(hits.toSeq == Seq((1L, 3L, true), (2L, 1L, false)))
  }

  test("decontaminate drops only documents at or above the hit threshold") {
    val kept = Decontam.decontaminate(corpus(), "doc_id", "text",
        bench(), "doc_id", "text", minHits = 2)
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(2L, 3L))
    // at minHits = 1 the single-shingle overlap is dropped too
    val strict = Decontam.decontaminate(corpus(), "doc_id", "text",
        bench(), "doc_id", "text", minHits = 1)
      .collect().map(_.getLong(0)).sorted
    assert(strict.toSeq == Seq(3L))
  }

  test("duplicate shingles in one doc count once") {
    val rep = docsFixture((7L, s"$benchText $benchText"))
    val hits = Decontam.contaminationHits(rep, "doc_id", "text",
        bench(), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the doubled text adds bridge shingles but each DISTINCT shared shingle
    // counts once: the 3 benchmark shingles appear in both halves yet hits
    // stays bounded by the benchmark's own distinct-shingle count
    assert(hits.length == 1 && hits.head._1 == 7L)
    assert(hits.head._2 == 3L, s"expected 3 distinct shared shingles, got ${hits.head._2}")
  }

  test("decontaminate broadcastBad picks the anti-join strategy; results identical") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def clean(bc: Boolean) = Decontam.decontaminate(
      d.filter(col("doc_id") % 17 =!= 0), "doc_id", "text",
      d.filter(col("doc_id") % 17 === 0), "doc_id", "text", broadcastBad = Some(bc))
    // default: the contaminated-id set is force-broadcast — the corpus side
    // of the anti-join never shuffles
    val bPlan = clean(true).queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin") && bPlan.contains("LeftAnti"), bPlan.take(3000))
    // opt-out: the ANTI-JOIN carries no broadcast hint (the inner benchmark-
    // shingle-set broadcast stays — that side really is tiny); the planner/
    // AQE is free to shuffle the id anti-join when the blast radius is large
    def hintCount(df: org.apache.spark.sql.DataFrame): Int =
      "broadcast".r.findAllIn(df.queryExecution.optimizedPlan.toString).size
    val optOut = clean(false)
    assert(hintCount(clean(true)) == hintCount(optOut) + 1,
      s"expected exactly the anti-join's own broadcast hint to disappear: " +
        s"${hintCount(clean(true))} vs ${hintCount(optOut)}")
    // same survivors either way
    assert(clean(true).collect().map(_.getLong(0)).sorted.toSeq ==
      optOut.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("decontaminate by default broadcasts the contaminated ids iff their measured size fits") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def clean(bc: Option[Boolean]) = Decontam.decontaminate(
      d.filter(col("doc_id") % 17 =!= 0), "doc_id", "text",
      d.filter(col("doc_id") % 17 === 0), "doc_id", "text", broadcastBad = bc)
    def antiJoin(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString.linesIterator
        .find(l => l.contains("LeftAnti")).getOrElse("")
    val auto = clean(None)
    val want = auto.collect().map(_.getLong(0)).sorted.toSeq
    // a few contaminated ids: far under the default 10 MB threshold
    assert(antiJoin(auto).contains("BroadcastHashJoin"), antiJoin(auto))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    try {
      // a threshold under the measured size (8 bytes per contaminated id): shuffled
      assert(want.length < d.filter(col("doc_id") % 17 =!= 0).count(), "no contaminated ids")
      spark.conf.set(key, "1")
      val over = clean(None)
      assert(antiJoin(over).contains("SortMergeJoin"), antiJoin(over))
      assert(over.collect().map(_.getLong(0)).sorted.toSeq === want)
      // an explicit value still overrides the measurement
      assert(antiJoin(clean(Some(true))).contains("BroadcastHashJoin"))
      spark.conf.set(key, "-1")
      assert(antiJoin(clean(None)).contains("SortMergeJoin"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("benchmark side joins broadcast: no shuffle of corpus shingles into a sort-merge join") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Decontam.contaminationHits(
        d.filter(col("doc_id") % 17 =!= 0), "doc_id", "text",
        d.filter(col("doc_id") % 17 === 0), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }
}
