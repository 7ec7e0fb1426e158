package graft.index

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

/** The in-memory (DataFrame-level) form of an index over one corpus:
  * postings + stats + the stored-document table. This is the Catalyst-native
  * query surface; the compressed segment form (delta+VByte+skip, for the
  * 100 TB path) is built from `postings` by [[SegmentWriter]].
  *
  * Two relations back it: `withMarkers`, the tokenize output (real postings
  * plus one [[IndexBuilder.DlMarker]] row per (doc, field)), and
  * `statsWithMarkers`, ONE (field, term) aggregation over it. Postings, term
  * stats and field stats are all views of those two.
  */
final case class TextIndex(
    withMarkers: Dataset[Posting],
    statsWithMarkers: Dataset[TermStats],
    docs: DataFrame, // stored fields, includes docIdCol
    docIdCol: String,
    fields: Seq[FieldDef]) {

  /** Real postings: a filter over `withMarkers`, not a copy — on a cached
    * index the scan keeps the columnar cache's per-batch min/max term
    * pruning.
    */
  val postings: Dataset[Posting] = withMarkers.filter(col("term") =!= IndexBuilder.DlMarker)

  val termStats: Dataset[TermStats] =
    statsWithMarkers.filter(col("term") =!= IndexBuilder.DlMarker)

  /** Per-field corpus stats, computed on FIRST use (round 6): a doc-value
    * query (typed point/range over the stored table) touches neither
    * postings nor stats — eager stats forced a full tokenize+collect of the
    * corpus at build for queries that never score a term.
    *
    * They are the marker rows of the stats table: a marker carries tf = dl,
    * so its df is the field's doc count and its cf the field's Σdl. avgdl is
    * one division of the exact long sum — the same double Spark's `avg(dl)`
    * gives, whose double-typed sum of ints below 2^53 is exact too.
    */
  @transient lazy val fieldStats: Map[String, FieldStats] =
    statsWithMarkers.filter(col("term") === IndexBuilder.DlMarker).collect()
      .map(s => s.field -> FieldStats(s.field, s.df, s.cf.toDouble / s.df, s.cf)).toMap

  /** Driver-side memo of term statistics: each distinct query term costs one
    * filtered scan of the (cached) stats table once, then is served from the
    * map — the analog of Lucene's per-reader TermStates cache. LRU-bounded
    * so an open-ended query vocabulary can't grow driver memory forever.
    */
  @transient lazy val statsCache: LruCache[(String, String), Option[TermStats]] =
    new LruCache(65536)

  /** Pin the index in memory for repeated queries (search service mode),
    * filled in one pass over the documents:
    *  1. `docs` is persisted FIRST, so the tokenize that fills the postings
    *     cache reads the cached docs instead of evaluating the docs plan
    *     (e.g. the [[DocIds.assign]] exchange) a second time;
    *  2. the postings relation, re-planned over the cached docs, is
    *     persisted as it comes out of tokenize: already (field, term, docId)
    *     ordered per flush window, like a flushed Lucene segment, so the
    *     columnar cache's per-batch min/max stats give every term query
    *     batch-level pruning with no sort at fill;
    *  3. the one stats aggregation over it is persisted.
    * The uncached index's own (lazily persisted) postings are released.
    */
  def cached(): TextIndex = {
    withMarkers.unpersist(blocking = false)
    val idx = IndexBuilder.assemble(docs.persist(), docIdCol, fields)
    idx.withMarkers.persist()
    idx.statsWithMarkers.persist()
    idx
  }
}

/** Builds the inverted index from a document table — the Spark-first
  * re-expression of the reference's indexing dataflow (SURVEY.md §2.2/§2.5;
  * reference loop: DatabaseIndexer.java:293-384 feeding Lucene's
  * IndexWriter).
  *
  * Plan shape (scale notes):
  *  - tf/positions/dl are computed *inside the tokenize flatMap* — each
  *    (field, term, docId) posting comes from exactly one source row, so
  *    posting construction needs NO shuffle at all; the only wide exchanges
  *    in the whole build are the one small stats aggregation and the
  *    range-partitioned term shuffle when writing compressed segments.
  *  - term and field stats are ONE (field, term) aggregation over the
  *    postings and dl markers. Its partial aggregation collapses each map
  *    task's rows per key before the shuffle, so a hot term (role:/tool:
  *    values, stop-adjacent words) reaches its reducer as one row per task,
  *    never as its full posting stream (north rule: skew handled
  *    explicitly).
  */
object IndexBuilder {

  val K1 = 1.2
  val B = 0.75

  /** BM25 idf, Lucene 6.4.1 default similarity (SURVEY.md §2.7):
    * ln(1 + (N - df + 0.5) / (df + 0.5)).
    */
  def idf(df: Long, n: Long): Double =
    math.log(1.0 + (n - df + 0.5) / (df + 0.5))

  /** BM25 term score for one posting — the expression shape (association
    * order) is kept identical across the DataFrame path (Searcher.bm25Col),
    * the segment scorer, and the test oracle so all paths produce
    * bit-identical doubles.
    */
  def bm25(tf: Double, idf: Double, dl: Double, avgdl: Double): Double =
    idf * tf * (K1 + 1.0) / (tf + K1 * ((1.0 - B) + (B / avgdl) * dl))

  /** Synthetic per-(doc, field) marker row carrying the field length — lets
    * field stats fall out of the same tokenize pass with a #fields-row
    * shuffle instead of a doc-level one. The empty term is unreachable by
    * any analyzer, so markers can never collide with a real posting.
    */
  val DlMarker = ""

  /** The tokenize input: docId as a long, then one column per field.
    *
    * Multi-valued sources (ArrayType columns): the reference folds repeated
    * `add()`s of one field into a single multi-valued Lucene field whose
    * positions continue across values (DatabaseIndexer.java:571-584,
    * rhino/RhinoDocument.java:64-117; Lucene's default position-increment
    * gap is 0). TEXT fields therefore analyze the values as one
    * space-joined stream (done in the `select` — the hot tokenize loop is
    * untouched); STRING fields index each element as an exact term with
    * tf = equal-element count and dl = element count. Returns the indexes
    * of those array-STRING fields alongside.
    */
  private def tokenizeInput(
      docs: DataFrame,
      docIdCol: String,
      fields: Seq[FieldDef]): (DataFrame, Set[Int]) = {
    val schema = docs.schema
    def isArraySource(f: FieldDef): Boolean =
      schema.fields.find(_.name == f.source).exists(_.dataType.isInstanceOf[ArrayType])
    val arrayString: Set[Int] = fields.zipWithIndex.collect {
      case (f, i) if f.kind == StringField && isArraySource(f) => i
    }.toSet
    val cols = col(docIdCol).cast(LongType) +: fields.zipWithIndex.map { case (f, i) =>
      if (isArraySource(f)) {
        val arr = col(f.source).cast(ArrayType(StringType))
        // empty-string elements are dropped like nulls: term "" would collide
        // with the DlMarker sentinel, double-counting the doc in field stats
        // and vanishing from termstats (ADVICE r3) — empty means absent
        if (arrayString(i)) filter(arr, x => x.isNotNull && x =!= lit(""))
        else array_join(arr, " ") // null elements skipped, like null scalars
      } else col(f.source).cast(StringType)
    }
    (docs.select(cols: _*), arrayString)
  }

  /** The ONE per-document tokenize loop, one instance per task: each
    * document's fields are analyzed and their term runs appended straight
    * into per-(field, term) [[SegmentStore.RunBuf]]s — no per-posting
    * object, no per-document output buffer. With `markers`, each non-empty
    * (doc, field) also appends a [[DlMarker]] run entry (tf = dl, no
    * positions). `nBuffered` counts buffered entries for the caller's
    * [[SegmentStore.FlushPostings]] bound; `clear()` starts a new window.
    */
  private final class RunTokenizer(fields: Seq[FieldDef], arrayString: Set[Int], markers: Boolean) {
    private val analyzers: Array[graft.analysis.Analyzer] = fields.map {
      case FieldDef(_, _, TextField(a), _) => a
      case _ => null // STRING field
    }.toArray
    // one reusable (term, pos) buffer: no Token objects, no ArrayBuffer
    // growth, no TimSort scratch in the build's hottest loop (per-doc
    // allocation was the 4-core scaling limiter — see analysis.TokenBuffer)
    private val buf = new graft.analysis.TokenBuffer(256)
    val bufs: Array[java.util.HashMap[String, SegmentStore.RunBuf]] =
      Array.fill(analyzers.length)(new java.util.HashMap[String, SegmentStore.RunBuf]())
    var nBuffered = 0

    private def add(i: Int, term: String, docId: Long, tf: Int, dl: Int, p: Array[Int]): Unit = {
      val m = bufs(i)
      var b = m.get(term)
      if (b == null) { b = new SegmentStore.RunBuf(); m.put(term, b) }
      b.add(docId, tf, dl, p)
      nBuffered += 1
    }

    private def mark(i: Int, docId: Long, dl: Int): Unit =
      if (markers) add(i, DlMarker, docId, dl, dl, Array.emptyIntArray)

    def addDoc(row: Row): Unit = {
      val docId = row.getLong(0)
      var i = 0
      while (i < analyzers.length) {
        if (!row.isNullAt(i + 1)) {
          if (arrayString(i)) {
            val elems = row.getSeq[String](i + 1)
            val m = elems.length
            if (m > 0) {
              val byTerm = elems.zipWithIndex.groupBy(_._1).toSeq.sortBy(_._1)
              byTerm.foreach { case (term, occ) =>
                add(i, term, docId, occ.length, m, occ.map(_._2).toArray)
              }
              mark(i, docId, m)
            }
          } else analyzers(i) match {
            case null => // STRING scalar
              val v = row.getString(i + 1)
              // empty string ≡ absent (it IS the DlMarker sentinel — see the
              // array note in tokenizeInput); a doc with an empty STRING
              // value simply has no term in this field
              if (!v.isEmpty) {
                add(i, v, docId, 1, 1, Array(0))
                mark(i, docId, 1)
              }
            case analyzer =>
              buf.clear()
              analyzer.tokensInto(row.getString(i + 1), buf)
              val dl = buf.len
              if (dl > 0) {
                // sort-based run grouping (no per-doc HashMap churn)
                buf.sort()
                val terms = buf.terms
                val poss = buf.poss
                var s = 0
                while (s < dl) {
                  var e = s + 1
                  while (e < dl && terms(e) == terms(s)) e += 1
                  add(i, terms(s), docId, e - s, dl, java.util.Arrays.copyOfRange(poss, s, e))
                  s = e
                }
                mark(i, docId, dl)
              }
          }
        }
        i += 1
      }
    }

    def clear(): Unit = {
      bufs.foreach(_.clear())
      nBuffered = 0
    }
  }

  /** One corpus scan emitting real postings AND dl marker rows, in
    * (field, term, docId) order per flush window — the order a Lucene
    * segment is flushed in, and the one a cached relation needs for
    * batch-level term pruning, so no sort pass ever runs over it.
    *
    * Each task feeds its documents through the shared [[RunTokenizer]]
    * until [[SegmentStore.FlushPostings]] entries are buffered (a document
    * is never split across windows), then emits the window field by field
    * (by name), term by term, each run docId-ascending.
    */
  def tokenizePostingsWithMarkers(docs: DataFrame, docIdCol: String, fields: Seq[FieldDef]): Dataset[Posting] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (input, arrayString) = tokenizeInput(docs, docIdCol, fields)
    val fieldNames = fields.map(_.indexField).toArray
    val fieldOrder = fields.indices.sortBy(fieldNames(_)).toArray
    input.mapPartitions { rows =>
      val tok = new RunTokenizer(fields, arrayString, markers = true)
      def window(): Iterator[Posting] = {
        while (rows.hasNext && tok.nBuffered < SegmentStore.FlushPostings) tok.addDoc(rows.next())
        // snapshot the window's runs, term-sorted per field, before the
        // buffers are reused for the next one
        val runs = fieldOrder.map { i =>
          val m = tok.bufs(i)
          val terms = m.keySet.toArray(new Array[String](m.size)).sorted
          (fieldNames(i), terms, terms.map(m.get))
        }
        tok.clear()
        runs.iterator.flatMap { case (field, terms, runBufs) =>
          terms.iterator.zip(runBufs.iterator).flatMap { case (term, b) =>
            val (d, t, l, ps) = b.result()
            Iterator.tabulate(d.length)(j => Posting(field, term, d(j), t(j), ps(j), l(j)))
          }
        }
      }
      new Iterator[Posting] {
        private var out: Iterator[Posting] = Iterator.empty
        def hasNext: Boolean = {
          while (!out.hasNext && rows.hasNext) out = window()
          out.hasNext
        }
        def next(): Posting = out.next()
      }
    }
  }

  def tokenizePostings(docs: DataFrame, docIdCol: String, fields: Seq[FieldDef]): Dataset[Posting] = {
    import docs.sparkSession.implicits._
    tokenizePostingsWithMarkers(docs, docIdCol, fields).filter(_.term != DlMarker)
  }

  /** FUSED tokenize → map-side posting combine: the shared [[RunTokenizer]]
    * loop per partition, without marker entries, emitting each window's
    * term runs as [[SegmentStore.MiniRun]] rows per shard — the input to
    * [[SegmentStore.encodeRuns]].
    *
    * Encodes to the same segment rows as one docId-ordered run per
    * (shard, field, term) of the posting stream (property-pinned by
    * SegmentSpec's fused-≡-streamed case), with no `(shard, field, term)`
    * tuple key per map lookup and no per-posting object stream. Emits NO
    * dl-marker rows: the encode tasks derive markers and norms from the
    * postings.
    *
    * Flush granularity: a mini-run window closes at a shard boundary (docs
    * arrive docId-ascending from [[DocIds.assign]], so shards are monotonic
    * per partition) or at [[SegmentStore.FlushPostings]] buffered runs —
    * the Lucene flush-by-RAM bound. Unordered input stays CORRECT (the
    * encode merge handles any mini-run split; RunBuf index-sorts the rare
    * unsorted run) but flushes more often.
    */
  def tokenizeMiniRuns(
      docs: DataFrame,
      docIdCol: String,
      fields: Seq[FieldDef],
      docsPerShard: Long): Dataset[SegmentStore.MiniRun] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (input, arrayString) = tokenizeInput(docs, docIdCol, fields)
    val fieldNames = fields.map(_.indexField).toArray
    input.mapPartitions { rows =>
      val src = rows.buffered
      val tok = new RunTokenizer(fields, arrayString, markers = false)
      new Iterator[SegmentStore.MiniRun] {
        private var curShard = -1
        private var out: Iterator[SegmentStore.MiniRun] = Iterator.empty

        private def drain(): Iterator[SegmentStore.MiniRun] = {
          val acc = new ArrayBuffer[SegmentStore.MiniRun](tok.bufs.iterator.map(_.size).sum)
          var i = 0
          while (i < fieldNames.length) {
            val it = tok.bufs(i).entrySet().iterator()
            while (it.hasNext) {
              val e = it.next()
              val (d, t, l, ps) = e.getValue.result()
              acc += ((curShard, fieldNames(i), e.getKey, d(0), d, t, l, ps))
            }
            i += 1
          }
          tok.clear()
          acc.iterator
        }

        private def refill(): Unit = {
          curShard = (src.head.getLong(0) / docsPerShard).toInt
          while (src.hasNext && tok.nBuffered < SegmentStore.FlushPostings &&
            (src.head.getLong(0) / docsPerShard).toInt == curShard) {
            tok.addDoc(src.next())
          }
          out = drain()
        }

        def hasNext: Boolean = {
          while (!out.hasNext && src.hasNext) refill()
          out.hasNext
        }
        def next(): SegmentStore.MiniRun = out.next()
      }
    }
  }

  /** The index over `docs` with nothing persisted: the tokenize output and
    * ONE (field, term) aggregation over it, marker rows included (df =
    * count, cf = Σtf — see [[TextIndex.fieldStats]] for the marker rows).
    */
  private[index] def assemble(docs: DataFrame, docIdCol: String, fields: Seq[FieldDef]): TextIndex = {
    import docs.sparkSession.implicits._
    val withMarkers = tokenizePostingsWithMarkers(docs, docIdCol, fields)
    val stats = withMarkers.groupBy($"field", $"term")
      .agg(count(lit(1)).as("df"), sum($"tf").as("cf"))
      .as[TermStats]
    TextIndex(withMarkers, stats, docs, docIdCol, fields)
  }

  /** Build the full index over `docs`. `docs` must already carry a stable
    * Long doc id (use [[DocIds.assign]] when the source has none).
    *
    * One corpus scan: postings are tokenized once and persisted; the one
    * stats aggregation reads the cached postings. [[TextIndex.cached]] also
    * pins the docs and the stats.
    */
  def build(docs: DataFrame, docIdCol: String, fields: Seq[FieldDef]): TextIndex = {
    val idx = assemble(docs, docIdCol, fields)
    idx.withMarkers.persist()
    idx
  }
}
