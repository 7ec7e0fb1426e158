package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.data.TranscriptGen
import graft.index._
import graft.query.SearchOptions
import graft.streaming.IncrementalIndexer

/** The compact index format: document lengths stored once per
  * (shard, field) as norms on the dl-marker rows, every table zstd.
  */
class NormsSpec extends SparkSpec {

  private val fields = Bench.Fields
  private val keys = Seq("conv_id", "turn_idx")
  private val dps = 257L

  private def turnsDF(from: Long, until: Long) = {
    import spark.implicits._
    TranscriptGen.transcripts(spark, until).filter(t => t.conv_id.stripPrefix("conv-").toLong >= from).toDF()
  }

  private def topK(idx: SegmentIndex, q: String): Seq[(Long, Double)] =
    new SegmentSearcher(idx, SearchOptions(limit = 10)).topK(q)

  /** Segment rows minus their encoding partition, in a fixed order. */
  private def canon(idx: SegmentIndex) = idx.segments.collect().toSeq
    .map(r => (r.shard, r.field, r.term, r.df, r.cf, r.minDoc, r.maxDoc, r.bytes, r.norms.toSeq,
      r.blocks.map(b => (b.docBytes.toSeq, b.tfBytes.toSeq, b.posBytes.toSeq, b.maxTfNorm))))
    .sortBy(r => (r._1, r._2, r._3, r._6))

  private val queries = Seq("hello", "paxos", "hello world", "hello AND world",
    "\"paxos made simple\"", "role:assistant AND consensus", "consensus OR leader~1")

  test("each (shard, field) marker row's norms hold the tokenizer's dl for every doc") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-norms").toString
    val docs = DocIds.assign(turnsDF(0, 60), keys, "docId", 8).persist()
    SegmentStore.build(docs, "docId", fields, dir, docsPerShard = dps)
    // the tokenizer's own dl per (field, doc): its marker postings carry tf = dl
    val want = IndexBuilder.tokenizePostingsWithMarkers(docs, "docId", fields)
      .filter(col("term") === IndexBuilder.DlMarker).collect().toSeq
      .groupBy(p => ((p.docId / dps).toInt, p.field))
    val markers = SegmentStore.open(spark, dir).segments
      .filter(col("term") === IndexBuilder.DlMarker).collect().toSeq
    assert(markers.map(m => (m.shard, m.field)).sorted === want.keys.toSeq.sorted,
      "one marker row per (shard, field) with postings")
    markers.foreach { m =>
      val dls = want((m.shard, m.field)).map(p => p.docId -> p.tf).toMap
      assert(m.minDoc === dls.keys.min && m.maxDoc === dls.keys.max)
      assert(m.df === dls.size.toLong && m.cf === dls.values.map(_.toLong).sum)
      assert(m.bytes === m.norms.length.toLong && m.blocks.isEmpty)
      val norms = new Codec.Norms(Seq((m.minDoc, m.maxDoc, m.norms)))
      (m.minDoc to m.maxDoc).foreach { d =>
        assert(norms.dl(d) === dls.getOrElse(d, 0), s"shard ${m.shard} field ${m.field} doc $d")
      }
    }
    docs.unpersist()
  }

  test("two generations with tombstones, then optimizeInPlace, ≡ a one-shot build: same topK") {
    val dir = Files.createTempDirectory("graft-norms-gen").toString
    IncrementalIndexer.appendBatch(turnsDF(0, 40), 0L, dir, keys, fields, dps)
    IncrementalIndexer.appendBatch(turnsDF(40, 80), 1L, dir, keys, fields, dps)
    // victims in both generations
    val victims = topK(SegmentStore.openMerged(spark, dir), "hello world").map(_._1)
      .filter(_ % 2 == 0)
    assert(victims.nonEmpty)
    SegmentStore.deleteDocs(spark, dir, victims)
    SegmentStore.optimizeInPlace(spark, dir)
    val opt = SegmentStore.open(spark, dir)
    val refDir = Files.createTempDirectory("graft-norms-ref").toString
    val all = DocIds.assign(turnsDF(0, 80), keys, "docId", 8)
    SegmentStore.build(all.filter(!col("docId").isin(victims: _*)), "docId", fields, refDir,
      docsPerShard = dps)
    val ref = SegmentStore.open(spark, refDir)
    assert(opt.fieldStats === ref.fieldStats)
    queries.foreach { q =>
      val (a, b) = (topK(opt, q), topK(ref, q))
      assert(a.nonEmpty, s"q=$q")
      assert(a === b, s"q=$q") // bit-identical scores: norms hold the exact dl
    }
    // the optimized segments are the one-shot build's, norms included
    assert(canon(opt) === canon(ref))
  }

  test("optimize into a different shard size ≡ a one-shot build at that size") {
    val dir = Files.createTempDirectory("graft-norms-reshard").toString
    val out = Files.createTempDirectory("graft-norms-reshard-out").toString
    val all = DocIds.assign(turnsDF(0, 60), keys, "docId", 8).persist()
    SegmentStore.build(all, "docId", fields, dir, docsPerShard = dps)
    val victims = Seq(3L, 300L, 301L)
    SegmentStore.deleteDocs(spark, dir, victims)
    SegmentStore.optimize(spark, dir, out, docsPerShard = 100)
    val refDir = Files.createTempDirectory("graft-norms-reshard-ref").toString
    SegmentStore.build(all.filter(!col("docId").isin(victims: _*)), "docId", fields, refDir,
      docsPerShard = 100)
    val (opt, ref) = (SegmentStore.open(spark, out), SegmentStore.open(spark, refDir))
    assert(opt.docsPerShard === 100L)
    queries.foreach(q => assert(topK(opt, q) === topK(ref, q), s"q=$q"))
    assert(canon(opt) === canon(ref))
    all.unpersist()
  }

  test("info reports bytes per table and per field, generations and the tombstone ratio") {
    val dir = Files.createTempDirectory("graft-norms-info").toString
    val stored = Seq("text", "role")
    IncrementalIndexer.upsertBatch(turnsDF(0, 30), 0L, dir, keys, fields, dps, storedColumns = stored)
    IncrementalIndexer.upsertBatch(turnsDF(20, 40), 1L, dir, keys, fields, dps, storedColumns = stored)
    val info = SegmentStore.info(spark, dir)
    val docCount = info("doc_count").asInstanceOf[Long]
    val deleted = info("deleted_count").asInstanceOf[Long]
    assert(deleted === turnsDF(20, 30).count()) // the re-sent keys' old versions
    assert(info("generations") === 2)
    assert(info("tombstone_ratio") === deleted.toDouble / docCount)
    val tables = info("table_bytes").asInstanceOf[Map[String, Long]]
    assert(tables.keySet === Set("segments", "stored", "termstats", "keys", "tombstones"))
    assert(tables.values.forall(_ > 0), tables)
    val seg = SegmentStore.openMerged(spark, dir).segments.collect().toSeq
    val perField = info("field_bytes").asInstanceOf[Map[String, Map[String, Long]]]
    assert(perField.keySet === seg.map(_.field).toSet)
    perField.foreach { case (f, b) =>
      val rows = seg.filter(_.field == f)
      val (markers, terms) = rows.partition(_.term == IndexBuilder.DlMarker)
      assert(b("postings") === terms.map(r =>
        r.blocks.map(x => x.docBytes.length + x.tfBytes.length + x.posBytes.length).sum.toLong).sum)
      assert(b("norms") === markers.map(_.norms.length.toLong).sum)
      assert(b("norms") > 0 && b("postings") > 0, s"$f: $b")
      // one marker row per shard and generation
      assert(markers.map(m => (m.shard, m.minDoc)).distinct.length === markers.length)
    }
    assert(info("disk_bytes") === perField.values.map(b => b("postings") + b("norms")).sum)
    // after optimize: one generation, no tombstones
    SegmentStore.optimizeInPlace(spark, dir)
    val after = SegmentStore.info(spark, dir)
    assert(after("generations") === 1 && after("deleted_count") === 0L)
    assert(after("tombstone_ratio") === 0.0)
    assert(after("table_bytes").asInstanceOf[Map[String, Long]]("tombstones") === 0L)
  }

  test("every index table is written with zstd") {
    val dir = Files.createTempDirectory("graft-norms-zstd").toString
    IncrementalIndexer.upsertBatch(turnsDF(0, 20), 0L, dir, keys, fields, dps, storedColumns = Seq("text"))
    IncrementalIndexer.upsertBatch(turnsDF(10, 30), 1L, dir, keys, fields, dps, storedColumns = Seq("text"))
    def codecs(table: String): Set[String] = {
      val files = scala.util.Using.resource(Files.list(Paths.get(s"$dir/$table")))(
        _.toArray.map(_.toString).filter(_.endsWith(".parquet")).toSeq)
      assert(files.nonEmpty, table)
      files.flatMap { f =>
        val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
          new org.apache.hadoop.conf.Configuration(), new org.apache.hadoop.fs.Path(f))
        import scala.jdk.CollectionConverters._
        footer.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name))
      }.toSet
    }
    val tables = Seq("segments", "termstats", "stored", "keys", "tombstones")
    tables.foreach(t => assert(codecs(t) === Set("ZSTD"), t))
    SegmentStore.optimizeInPlace(spark, dir)
    Seq("segments", "termstats", "stored", "keys").foreach(t => assert(codecs(t) === Set("ZSTD"), t))
  }

  test("size guard: a built index with stored text takes at most 0.75 bytes per text byte") {
    val dir = Files.createTempDirectory("graft-norms-size").toString
    val docs = DocIds.assign(TranscriptGen.transcripts(spark, 1500, seed = 101L).toDF(),
      keys, "docId", 4).persist()
    SegmentStore.build(docs, "docId", fields, dir, docsPerShard = 1L << 14,
      storedColumns = Seq("conv_id", "turn_idx", "role", "tool", "ts", "text"))
    val textBytes = docs.agg(sum(octet_length(col("text")))).head().getLong(0)
    val indexBytes = scala.util.Using.resource(Files.walk(Paths.get(dir)))(
      _.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum())
    val ratio = indexBytes.toDouble / textBytes
    assert(ratio <= 0.75, f"index bytes per text byte $ratio%.3f ($indexBytes / $textBytes)")
    docs.unpersist()
  }
}
