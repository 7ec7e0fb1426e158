package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.data.{TranscriptGen, Turn}
import graft.index._
import graft.query.{Searcher, SearchOptions, SortField}
import graft.streaming.IncrementalIndexer

import graftbench.Main.{Ctx, DocsPerShard, Fields, Outcome, StoredColumns}
import graftbench.Trace.Call

/** The benchmark's workloads. Each runs in its own JVM; see
  * perfbench/README.md for why each exists and what every metric means.
  */
object Workloads {

  /** Input sizes (conversations; TranscriptGen averages ~20 turns each). */
  object Sizes {
    val ServeConvs = 1000L
    val NrtBaseConvs = 400L
    val NrtConvsPerBatch = 20L
    val NrtResendShare = 0.2
    val NrtPeriodS = 4.0
    val NrtClients = 2
    val ServeSetupReps = 2 // a serve set-up costs ~20 s cold, ~6 s warm
    val NrtSetupReps = 3
    val QueryPool = 40 // distinct queries per class pool
    val NrtCheckQueries = 6
  }

  val KeyCols: Seq[String] = Seq("conv_id", "turn_idx")
  val TopkOpts: SearchOptions = SearchOptions(limit = 10)
  /** The `sorted` class: newest first by `ts`, two include fields, one
    * highlight fragment: the exhaustive path of the segment executor.
    */
  val SortedOpts: SearchOptions = SearchOptions(limit = 10,
    sort = Seq(SortField("ts", Some("date"), ascending = false)),
    includeFields = Seq("conv_id", "role"), highlights = 1)

  private def now: Long = System.nanoTime()
  private def secsSince(t0: Long): Double = (now - t0) / 1e9
  private def r4(d: Double): Double = math.round(d * 10000.0) / 10000.0

  private def dirBytes(dir: String): Long =
    scala.util.Using.resource(Files.walk(Paths.get(dir)))(
      _.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum())

  private def utf8Bytes(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(octet_length(col("text")))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def turnsDF(ctx: Ctx, rows: Seq[Turn]): DataFrame = {
    import ctx.spark.implicits._
    ctx.spark.createDataset(rows).toDF()
  }

  /** Median of `f` over calls (NaN when there are none). */
  private def med(cs: Seq[Call])(f: Call => Double): Double = Stats.median(cs.map(f))

  /** Executor busy fraction (task run time over wall × cores) and GC
    * fraction (GC time over task run time) for a window.
    */
  private def executorFracs(ctx: Ctx, before: TaskSums, after: TaskSums, wallS: Double)
      : Seq[(String, Double, String)] = {
    val run = (after.runNs - before.runNs) / 1e9
    val gc = (after.gcNs - before.gcNs) / 1e9
    Seq("executor.busy_frac" -> run / (wallS * ctx.cpus), "executor.gc_frac" -> (if (run > 0) gc / run else 0.0))
      .map { case (n, v) => (n, v, "ratio") }
  }

  private def check(name: String, ok: Boolean, detail: => String) = (name, ok, if (ok) "" else detail)

  // ---- serve -----------------------------------------------------------

  /** A serving set-up: one corpus, the segment index over it and the
    * Catalyst index over the same docIds, with the bulk build's own timing.
    */
  private final case class Served(seg: SegmentIndex, cat: TextIndex, dir: String,
      inputTurns: Long, inputBytes: Long, indexed: Long, buildS: Double) {
    def release(): Unit = {
      seg.segments.unpersist(); seg.termStats.unpersist(); seg.stored.foreach(_.unpersist())
      cat.postings.unpersist(); cat.docs.unpersist(); cat.termStats.unpersist()
    }
  }

  /** Corpus to parquet, bulk build (DocIds.assign + SegmentStore.build with
    * stored columns), cached segment index, cached Catalyst index.
    */
  private def serveSetup(ctx: Ctx, convs: Long): Served = {
    import ctx.{spark, span}
    span("setup") {
      val corpus = ctx.dir("corpus")
      TranscriptGen.transcripts(spark, convs, ctx.args.seed).write.parquet(corpus)
      val docs = spark.read.parquet(corpus)
      val (inputTurns, inputBytes) = utf8Bytes(docs)
      val dir = ctx.dir("idx")
      val ((withIds, indexed), buildS) = Stats.time(span("build") {
        val w = span("DocIds.assign")(DocIds.assign(docs, KeyCols, "docId"))
        (w, span("SegmentStore.build")(
          SegmentStore.build(w, "docId", Fields, dir, DocsPerShard, storedColumns = StoredColumns)))
      })
      val seg = span("SegmentStore.open.cached") {
        val s = SegmentStore.open(spark, dir).cached()
        s.segments.count(); s.termStats.count(); s.stored.foreach(_.count())
        s
      }
      val cat = span("IndexBuilder.build.cached") {
        val t = IndexBuilder.build(withIds, "docId", Fields).cached()
        t.postings.count(); t.docs.count(); t.termStats.count(); t.fieldStats
        t
      }
      Served(seg, cat, dir, inputTurns, inputBytes, indexed, buildS)
    }
  }

  /** (docId, score) rows of a result frame, in result order. */
  private def hits(rows: Array[Row]): Seq[(Long, Double)] =
    rows.toSeq.map(r => (r.getAs[Long]("docId"), r.getAs[Double]("score")))

  def serve(ctx: Ctx): Outcome = {
    import ctx.span
    val tracer = ctx.tracer
    // set-up twice: the first holds the JVM's cold build, the second a warm
    // one; the second is served
    var served: Served = null
    val builds = mutable.ArrayBuffer.empty[Served]
    val setupS = (1 to Sizes.ServeSetupReps).map { _ =>
      val (s, secs) = Stats.time(serveSetup(ctx, Sizes.ServeConvs))
      if (served != null) { served.release(); Fs.rm(served.dir) }
      served = s
      builds += s
      secs
    }
    val warmBuildS = Stats.median(builds.drop(1).map(_.buildS).toSeq)
    val seg = new SegmentSearcher(served.seg, TopkOpts)
    val segSorted = new SegmentSearcher(served.seg, SortedOpts)
    val cat = new Searcher(served.cat, TopkOpts)
    val catSorted = new Searcher(served.cat, SortedOpts)

    // first result of every distinct query, per class: the output check
    // compares topk with catalyst and sorted with Catalyst's sorted search
    val results = new ConcurrentHashMap[(String, String), Seq[(Long, Double)]]()
    def run(cls: String)(q: String): Unit = span("query." + cls) {
      cls match {
        case "topk" | "multiterm" | "sorted" =>
          val s = if (cls == "sorted") segSorted else seg
          if (tracer.enabled) {
            val parsed = span("SegmentSearcher.parse")(s.parse(q))
            val sq = span("SegmentSearcher.plan")(s.plan(parsed))
            tracer.note("SegmentSearcher.plan.leaf_terms", SegmentSearcher.leafTerms(sq).size)
          }
          val res =
            if (cls == "sorted") hits(span("SegmentSearcher.searchEnvelope")(s.searchEnvelope(q).collect()))
            else span("SegmentSearcher.topK")(s.topK(q))
          if (cls != "multiterm") results.putIfAbsent((cls, q), res)
        case "catalyst" =>
          if (tracer.enabled) span("Searcher.parse")(cat.parse(q))
          results.putIfAbsent((cls, q), hits(span("Searcher.search")(cat.search(q).collect())))
      }
    }

    val tWarm = now
    // warm-up: one query of each class at once, from streams of their own,
    // so the measured streams' memos start cold
    Gen.Classes.map { c =>
      val t = new Thread(() => run(c)(Gen.stream(ctx.args.seed ^ 0x7fffL, c, 1, Sizes.QueryPool).head))
      t.start()
      t
    }.foreach(_.join())
    // One phase per class: all clients send the same class, so a latency
    // does not hinge on which other classes happen to be in flight. `topk`
    // gets 40% of the time, the others 20% each. The catalyst phase replays
    // the topk stream, so both executors answer the same queries.
    val streams = Gen.Classes.map(c =>
      c -> Gen.stream(ctx.args.seed, if (c == "catalyst") "topk" else c, 100000, Sizes.QueryPool)).toMap
    val warmS = secsSince(tWarm)
    val before = tracer.allTasksNow
    val loops = Gen.Classes.map { c =>
      c -> closedLoop(streams(c), ctx.cpus, ctx.args.seconds * (if (c == "topk") 0.4 else 0.2))(run(c))
    }.toMap
    val after = tracer.allTasksNow
    val windowS = loops.values.map(_.windowS).sum
    val (ok, failed) = (loops.values.map(_.ok).sum, loops.values.map(_.failed).sum)
    val issued = Gen.Classes.flatMap(c => streams(c).take(loops(c).issued).map(q => (c, q)))

    // output check: every distinct topk/sorted query once against Catalyst;
    // topk queries the catalyst phase answered are not sent again
    val tCheck = now
    val mismatches = new ConcurrentLinkedQueue[String]()
    val pool = Executors.newFixedThreadPool(ctx.cpus)
    val toCheck = results.asScala.toSeq.filter(_._1._1 != "catalyst")
    toCheck.foreach { case ((cls, q), segRes) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val other = Option(results.get(("catalyst", q))).filter(_ => cls == "topk")
            .getOrElse(hits((if (cls == "sorted") catSorted else cat).search(q).collect()))
          val (a, b) = (segRes.map(x => (x._1, r4(x._2))), other.map(x => (x._1, r4(x._2))))
          if (a != b) mismatches.add(s"$cls '$q': segment $a catalyst $b")
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.MINUTES)
    val checkS = secsSince(tCheck)
    val checks = Seq(
      check("serve.indexed_count", builds.forall(b => b.indexed == b.inputTurns),
        "indexed/input turns per build: " + builds.map(b => s"${b.indexed}/${b.inputTurns}").mkString(", ")),
      check("serve.executors_agree", mismatches.isEmpty,
        s"${mismatches.size} of ${toCheck.size} distinct queries differ: " + mismatches.asScala.take(3).mkString("; ")),
      check("serve.no_failures", failed == 0,
        s"$failed queries threw: " + loops.values.map(_.firstError).filter(_.nonEmpty).mkString("; ")))

    def lat(cls: String) = loops(cls).latMs
    val e2e = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("failed_frac", failed.toDouble / (ok + failed), "ratio"),
      ("build_turns_per_s", served.inputTurns / warmBuildS, "turns/s"),
      ("build_cold_s", builds.head.buildS, "s"),
      ("write_p50_s", warmBuildS, "s"),
      ("qps", ok / windowS, "1/s"),
      ("topk_p50_ms", Stats.pct(lat("topk"), 0.5), "ms"),
      ("topk_p90_ms", Stats.pct(lat("topk"), 0.9), "ms"),
      ("multiterm_p50_ms", Stats.pct(lat("multiterm"), 0.5), "ms"),
      ("sorted_p50_ms", Stats.pct(lat("sorted"), 0.5), "ms"),
      ("sorted_p90_ms", Stats.pct(lat("sorted"), 0.9), "ms"),
      ("catalyst_p50_ms", Stats.pct(lat("catalyst"), 0.5), "ms"),
      ("catalyst_p90_ms", Stats.pct(lat("catalyst"), 0.9), "ms"),
      ("index_bytes_per_input_byte", dirBytes(served.dir).toDouble / served.inputBytes, "ratio"))

    val layers = if (!ctx.args.trace) Nil else {
      tracer.drain()
      val cs = Trace.calls(tracer.recorded)
      def of(name: String, roots: String*) =
        cs.filter(c => c.span.name == name && (roots.isEmpty || roots.contains(c.root)))
      buildLayers(of("DocIds.assign", "setup"), of("SegmentStore.build", "setup"), served.dir) ++
      queryLayers(of, tracer.noted("SegmentSearcher.plan.leaf_terms")) ++ Seq(
        ("SegmentSearcher.searchEnvelope.exec_ms", med(of("SegmentSearcher.searchEnvelope"))(_.selfMs), "ms"),
        ("SegmentSearcher.searchEnvelope.shuffle_read_bytes",
          med(of("SegmentSearcher.searchEnvelope"))(_.t.shuffleReadBytes.toDouble), "bytes"),
        ("SegmentSearcher.searchEnvelope.shuffle_records",
          med(of("SegmentSearcher.searchEnvelope"))(_.t.shuffleReadRecords.toDouble), "count"),
        ("Searcher.parse.wall_ms", med(of("Searcher.parse", "query.catalyst"))(_.selfMs), "ms"),
        ("Searcher.search.exec_ms", med(of("Searcher.search", "query.catalyst"))(_.selfMs), "ms"),
        ("Searcher.search.cpu_ms", med(of("Searcher.search", "query.catalyst"))(_.t.cpuNs / 1e6), "ms"),
        ("Searcher.search.tasks", med(of("Searcher.search", "query.catalyst"))(_.t.tasks.toDouble), "count"),
        ("Searcher.search.shuffle_read_bytes",
          med(of("Searcher.search", "query.catalyst"))(_.t.shuffleReadBytes.toDouble), "bytes"),
        ("SegmentStore.build.cold_extra_s", of("SegmentStore.build", "setup").head.selfS -
          med(of("SegmentStore.build", "setup").drop(1))(_.selfS), "s"),
        ("SegmentStore.open.cached_s", med(of("SegmentStore.open.cached", "setup"))(_.selfS), "s"),
        ("IndexBuilder.build.cached_s", med(of("IndexBuilder.build.cached", "setup"))(_.selfS), "s")) ++
        executorFracs(ctx, before, after, windowS)
    }
    Outcome(ok + failed, failed, checks, e2e, layers, Seq(
      "corpus" -> Map("convs" -> Sizes.ServeConvs, "turns" -> served.inputTurns,
        "text_bytes" -> served.inputBytes),
      "setup_runs_s" -> setupS, "build_runs_s" -> builds.map(_.buildS).toSeq,
      "phases_s" -> Map("warmup" -> warmS, "window" -> windowS, "check" -> checkS),
      "repeat_share" -> Gen.repeatShare(issued),
      "samples" -> Gen.Classes.map(c => c -> lat(c).size).toMap,
      "queries" -> issued.map(q => Seq(q._1, q._2))))
  }

  /** Layer metrics of the bulk build: `assign` and `build` calls in order,
    * the first one cold; medians over the warm calls.
    */
  private def buildLayers(assign: Seq[Call], build: Seq[Call], dir: String): Seq[(String, Double, String)] = {
    val (aw, sw) = (if (assign.size > 1) assign.drop(1) else assign, if (build.size > 1) build.drop(1) else build)
    def stage(k: String) = SegmentStore.stageMetric(dir, "segments", k).getOrElse(0L).toDouble
    Seq(
      ("DocIds.assign.wall_s", med(aw)(_.selfS), "s"),
      ("DocIds.assign.cpu_s", med(aw)(_.t.cpuNs / 1e9), "s"),
      ("DocIds.assign.shuffle_write_bytes", med(aw)(_.t.shuffleWriteBytes.toDouble), "bytes"),
      ("SegmentStore.build.wall_s", med(sw)(_.selfS), "s"),
      ("SegmentStore.build.map_cpu_s", med(sw)(_.t.mapCpuNs / 1e9), "s"),
      ("SegmentStore.build.result_cpu_s", med(sw)(_.t.resultCpuNs / 1e9), "s"),
      ("SegmentStore.build.gc_s", med(sw)(_.t.gcNs / 1e9), "s"),
      ("SegmentStore.build.sched_wait_s", med(sw)(_.t.schedWaitNs / 1e9), "s"),
      ("SegmentStore.build.shuffle_write_bytes", med(sw)(_.t.shuffleWriteBytes.toDouble), "bytes"),
      ("SegmentStore.build.shuffle_records", med(sw)(_.t.shuffleWriteRecords.toDouble), "count"),
      ("SegmentStore.build.jobs", med(sw)(_.t.jobs.toDouble), "count"),
      ("SegmentStore.build.tasks", med(sw)(_.t.tasks.toDouble), "count"),
      ("SegmentStore.build.posting_bytes", stage("postingBytes"), "bytes"),
      ("SegmentStore.build.segment_rows", stage("segmentRows"), "count"),
      ("SegmentStore.build.postings_in", stage("postingsIn"), "count"))
  }

  /** Layer metrics of the segment query path shared by serve and nrt. */
  private def queryLayers(of: (String, Seq[String]) => Seq[Call], leafTerms: Seq[Double])
      : Seq[(String, Double, String)] = {
    val plans = of("SegmentSearcher.plan", Nil)
    val topk = of("SegmentSearcher.topK", Seq("query.topk"))
    Seq(
      ("SegmentSearcher.parse.wall_ms", med(of("SegmentSearcher.parse", Nil))(_.selfMs), "ms"),
      ("SegmentSearcher.plan.wall_ms", med(plans)(_.selfMs), "ms"),
      ("SegmentSearcher.plan.jobs", med(plans)(_.t.jobs.toDouble), "count"),
      ("SegmentSearcher.plan.leaf_terms", Stats.median(leafTerms), "count"),
      ("SegmentSearcher.plan.memo_hit_ratio",
        if (plans.isEmpty) Double.NaN else plans.count(_.t.jobs == 0).toDouble / plans.size, "ratio"),
      ("SegmentSearcher.topK.exec_ms", med(topk)(_.selfMs), "ms"),
      ("SegmentSearcher.topK.cpu_ms", med(topk)(_.t.cpuNs / 1e6), "ms"),
      ("SegmentSearcher.topK.tasks", med(topk)(_.t.tasks.toDouble), "count"),
      ("SegmentSearcher.topK.sched_wait_ms", med(topk)(_.t.schedWaitNs / 1e6), "ms"),
      ("SegmentSearcher.topK.bytes_read", med(topk)(_.t.bytesRead.toDouble), "bytes"))
  }

  /** What a closed loop measured: `latMs` per completed query; `issued`
    * is how many stream entries the clients took.
    */
  final case class Loop(issued: Int, ok: Long, failed: Long, windowS: Double, latMs: Seq[Double],
      firstError: String)

  /** `clients` threads, each sending the next stream entry once its previous
    * query returned, until `seconds` have passed or the stream is used up.
    */
  private def closedLoop(stream: IndexedSeq[String], clients: Int, seconds: Double)(run: String => Unit): Loop = {
    val next = new AtomicInteger()
    val lat = new ConcurrentLinkedQueue[Double]()
    val failed = new AtomicLong()
    val firstError = new java.util.concurrent.atomic.AtomicReference[String]("")
    val t0 = now
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < stream.size && now < deadline) {
          val a = now
          try {
            run(stream(i))
            lat.add((now - a) / 1e6)
          } catch {
            case e: Throwable =>
              failed.incrementAndGet()
              firstError.compareAndSet("", s"'${stream(i)}': $e")
          }
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val ls = lat.asScala.toSeq
    Loop(math.min(next.get() - clients, stream.size) max 0, ls.size, failed.get(), secsSince(t0), ls,
      firstError.get())
  }

  // ---- nrt -------------------------------------------------------------

  /** The benchmark's own model of the index's docIds: which key each docId
    * holds and which batch superseded it, so results can be checked
    * independently of the engine's tombstones.
    */
  private final class Model {
    var nextDocId = 0L
    val keyOf = mutable.ArrayBuffer.empty[(String, Int)] // docId -> key
    val supersededAt = mutable.HashMap.empty[Long, Long] // docId -> batch that re-sent its key
    val latest = mutable.LinkedHashMap.empty[(String, Int), (Long, Turn)] // key -> (docId, row)
    val convTurns = mutable.ArrayBuffer.empty[(Long, Int)] // every key ever written

    /** Apply a committed batch: the engine numbers its rows after the
      * current maximum in (conv_id, turn_idx) order.
      */
    def apply(batch: Long, rows: Seq[Turn]): Unit = {
      rows.sortBy(t => (t.conv_id, t.turn_idx)).foreach { t =>
        val key = (t.conv_id, t.turn_idx)
        latest.get(key) match {
          case Some((old, _)) => supersededAt(old) = batch
          case None => convTurns += ((t.conv_id.stripPrefix("conv-").toLong, t.turn_idx))
        }
        latest(key) = (nextDocId, t)
        keyOf += key
        nextDocId += 1
      }
    }

    /** True when `docId` is a superseded version as of snapshot `batch`. */
    def stale(docId: Long, batch: Long): Boolean = supersededAt.get(docId).exists(_ <= batch)
  }

  /** What clients query: the searcher over the reader snapshot after batch
    * `batch`, with that snapshot's tombstones.
    */
  private final case class Snap(batch: Long, searcher: SegmentSearcher)

  def nrt(ctx: Ctx): Outcome = {
    import ctx.{spark, span}
    val tracer = ctx.tracer
    val seed = ctx.args.seed

    // Defect workaround: maybeRefresh persists the new snapshot, which Spark
    // dedups into the old snapshot's cache entry (same source path), and
    // then unpersists the old one, so the installed snapshot is left
    // uncached: every query re-reads the generation files, and queries fail
    // once optimizeInPlace deletes them. Re-pin it; returns whether it was
    // still cached (the count is reported as nrt.uncached_refreshes).
    def pinSnapshot(si: SegmentIndex): Boolean = {
      val cm = spark.sharedState.cacheManager
      val cached = Seq(si.segments, si.termStats).forall(d =>
        cm.lookupCachedData(d.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined)
      if (!cached) { si.segments.persist(); si.termStats.persist() }
      cached
    }
    var uncachedRefreshes = 0

    // the snapshot's tombstones, read once from the engine's log at refresh
    // and held as a local relation: a frame over the log dir would re-read
    // it per query and fail once optimizeInPlace deletes it
    def pinTombstones(dir: String): DataFrame = {
      import spark.implicits._
      SegmentStore.deletedDocs(spark, dir).toSeq.toDF("docId")
    }

    // set-up: base corpus as batch 0, then the reader manager, several times
    var dir = ""
    var mgr: IndexReaderManager = null
    var model: Model = null
    val baseRows = Gen.convs(seed, 0, Sizes.NrtBaseConvs)
    val setupS = (1 to Sizes.NrtSetupReps).map { _ =>
      val d = ctx.dir("nrt")
      val (m, s) = Stats.time(span("setup") {
        span("IncrementalIndexer.upsertBatch")(
          IncrementalIndexer.upsertBatch(turnsDF(ctx, baseRows), 0, d, KeyCols, Fields, DocsPerShard))
        span("IndexReaderManager.open") {
          val m = new IndexReaderManager(spark, d)
          m.acquire().segments.count(); m.acquire().termStats.count()
          m
        }
      })
      if (mgr != null) { mgr.acquire().segments.unpersist(); Fs.rm(dir) }
      dir = d
      mgr = m
      s
    }
    model = new Model
    model.apply(0, baseRows)

    @volatile var snap = Snap(0, new SegmentSearcher(mgr.acquire(), TopkOpts, Some(pinTombstones(dir))))

    // clients: closed loop over the topk stream against the current snapshot
    val stream = Gen.stream(seed, "topk", 100000, Sizes.QueryPool)
    val next = new AtomicInteger()
    val stop = new AtomicBoolean(false)
    val lat = new ConcurrentLinkedQueue[(Long, Long)]() // (start, end) ns
    val resultsSeen = new ConcurrentLinkedQueue[(Long, String, Seq[Long])]() // (snapshot batch, q, docIds)
    val failed = new AtomicLong()
    val firstError = new java.util.concurrent.atomic.AtomicReference[String]("")
    val clients = (0 until Sizes.NrtClients).map { _ =>
      new Thread(() => {
        while (!stop.get()) {
          val q = stream(next.getAndIncrement() % stream.size)
          val s = snap
          val a = now
          try {
            val res = span("query.topk") {
              if (tracer.enabled) {
                val sq = span("SegmentSearcher.plan")(s.searcher.plan(span("SegmentSearcher.parse")(s.searcher.parse(q))))
                tracer.note("SegmentSearcher.plan.leaf_terms", SegmentSearcher.leafTerms(sq).size)
              }
              span("SegmentSearcher.topK")(s.searcher.topK(q))
            }
            lat.add((a, now))
            resultsSeen.add((s.batch, q, res.map(_._1)))
          } catch {
            case e: Throwable =>
              failed.incrementAndGet()
              firstError.compareAndSet("", s"'$q': $e")
          }
        }
      })
    }

    // writer: open loop, one batch due every period whatever the indexer does
    val appendS = mutable.ArrayBuffer.empty[Double]
    val freshS = mutable.ArrayBuffer.empty[Double]
    val lateS = mutable.ArrayBuffer.empty[Double]
    val markerFails = mutable.ArrayBuffer.empty[String]
    val metaFails = mutable.ArrayBuffer.empty[String]
    val before = tracer.allTasksNow
    clients.foreach(_.start())
    val t0 = now
    var id = 1L
    while ((id - 1) * Sizes.NrtPeriodS < ctx.args.seconds) {
      val b = Gen.nrtBatch(seed, id, Sizes.NrtBaseConvs, Sizes.NrtConvsPerBatch, Sizes.NrtResendShare,
        model.convTurns.toIndexedSeq)
      val due = t0 + ((id - 1) * Sizes.NrtPeriodS * 1e9).toLong
      while (now < due) Thread.sleep(math.max(1L, (due - now) / 1000000L))
      lateS += (now - due) / 1e9
      span("nrt.batch") {
        val (_, a) = Stats.time(span("IncrementalIndexer.upsertBatch")(
          IncrementalIndexer.upsertBatch(turnsDF(ctx, b.rows), id, dir, KeyCols, Fields, DocsPerShard)))
        appendS += a
        span("IndexReaderManager.maybeRefresh")(mgr.maybeRefresh())
        if (!pinSnapshot(mgr.acquire())) uncachedRefreshes += 1
        val tomb = span("tombstones.pin")(pinTombstones(dir))
        val searcher = new SegmentSearcher(mgr.acquire(), TopkOpts, Some(tomb))
        val found = span("SegmentSearcher.topK")(searcher.topK(b.marker)).map(_._1)
        freshS += (now - due) / 1e9
        val expect = model.nextDocId + b.rows.sortBy(t => (t.conv_id, t.turn_idx))
          .indexWhere(_.text.endsWith(" " + b.marker))
        if (found != Seq(expect)) markerFails += s"batch $id marker ${b.marker}: found $found, expected $expect"
        model.apply(id, b.rows)
        val meta = IncrementalIndexer.readMeta(dir)
        if (meta.nextDocId != model.nextDocId || meta.lastBatch != id)
          metaFails += s"batch $id: meta $meta, model nextDocId ${model.nextDocId}"
        snap = Snap(id, searcher)
      }
      id += 1
    }
    val writerS = secsSince(t0)
    val batches = id - 1
    val tombCount = SegmentStore.deletedDocsDF(spark, dir).count()

    // optimize while the clients keep querying
    val optStart = now
    span("SegmentStore.optimizeInPlace")(SegmentStore.optimizeInPlace(spark, dir))
    val optEnd = now
    val optimizeS = (optEnd - optStart) / 1e9
    stop.set(true)
    clients.foreach(_.join())
    val after = tracer.allTasksNow
    val lats = lat.asScala.toSeq
    val latMs = lats.filter(_._2 <= optStart).map(x => (x._2 - x._1) / 1e6)
    val latOptMs = lats.filter(x => x._2 > optStart && x._1 < optEnd).map(x => (x._2 - x._1) / 1e6)
    val qps = latMs.size / ((optStart - t0) / 1e9)

    // checks: markers, superseded versions, and optimize against a one-shot build
    val staleHits = resultsSeen.asScala.toSeq.flatMap { case (b, q, ids) =>
      ids.filter(model.stale(_, b)).map(d => s"'$q' on snapshot $b returned superseded docId $d")
    }
    mgr.maybeRefresh()
    val live = model.latest.values.toSeq
    val liveRows = live.map(_._2)
    val (liveTurns, liveBytes) = utf8Bytes(turnsDF(ctx, liveRows))
    val indexBytes = dirBytes(dir)
    val oneDir = ctx.dir("oneshot")
    val withIds = span("check") {
      val w = span("DocIds.assign")(DocIds.assign(turnsDF(ctx, liveRows), KeyCols, "docId")).persist()
      span("SegmentStore.build")(SegmentStore.build(w, "docId", Fields, oneDir, DocsPerShard))
      w
    }
    val oneKey = withIds.select("docId", "conv_id", "turn_idx").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    val optSearcher = new SegmentSearcher(mgr.acquire(), TopkOpts)
    val oneSearcher = new SegmentSearcher(SegmentStore.open(spark, oneDir), TopkOpts)
    val checkQs = resultsSeen.asScala.map(_._2).toSeq.distinct.take(Sizes.NrtCheckQueries)
    // compare (key, score) above the k-th score: docId order differs
    // between the two indexes, so ties at the cut may pick different keys
    def keyed(res: Seq[(Long, Double)], key: Long => (String, Int)) = {
      val cut = if (res.size < TopkOpts.limit) Double.NegativeInfinity else r4(res.last._2)
      res.map(x => (key(x._1), r4(x._2))).filter(_._2 > cut).sortBy(x => (-x._2, x._1))
    }
    val optMismatch = {
      import scala.collection.parallel.CollectionConverters._
      checkQs.par.flatMap { q =>
        val a = keyed(optSearcher.topK(q), d => model.keyOf(d.toInt))
        val b = keyed(oneSearcher.topK(q), oneKey)
        if (a == b) None else Some(s"'$q': optimized $a one-shot $b")
      }.seq
    }
    val checks = Seq(
      check("nrt.markers_visible", markerFails.isEmpty, markerFails.take(3).mkString("; ")),
      check("nrt.meta_matches_model", metaFails.isEmpty, metaFails.take(3).mkString("; ")),
      check("nrt.no_superseded_hits", staleHits.isEmpty, s"${staleHits.size}: " + staleHits.take(3).mkString("; ")),
      check("nrt.live_count", liveTurns == oneKey.size && oneKey.size == model.latest.size,
        s"live $liveTurns one-shot ${oneKey.size} model ${model.latest.size}"),
      check("nrt.optimized_equals_oneshot", optMismatch.isEmpty && checkQs.nonEmpty,
        s"${optMismatch.size} of ${checkQs.size}: " + optMismatch.take(2).mkString("; ")),
      check("nrt.no_failures", failed.get() == 0, s"${failed.get()} queries threw: ${firstError.get()}"))

    val attempted = lats.size + failed.get() + batches
    val e2e = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("failed_frac", failed.get().toDouble / attempted, "ratio"),
      ("qps", qps, "1/s"),
      ("topk_p50_ms", Stats.pct(latMs, 0.5), "ms"),
      ("topk_p90_ms", Stats.pct(latMs, 0.9), "ms"),
      ("append_p50_s", Stats.median(appendS.toSeq), "s"),
      ("write_p50_s", Stats.median(appendS.toSeq), "s"),
      ("freshness_p50_s", Stats.median(freshS.toSeq), "s"),
      ("optimize_s", optimizeS, "s"),
      ("index_bytes_per_input_byte", indexBytes.toDouble / liveBytes, "ratio"))

    val layers = if (!ctx.args.trace) Nil else {
      tracer.drain()
      val cs = Trace.calls(tracer.recorded)
      def of(name: String, roots: String*) =
        cs.filter(c => c.span.name == name && (roots.isEmpty || roots.contains(c.root)))
      val up = of("IncrementalIndexer.upsertBatch", "nrt.batch")
      val rf = of("IndexReaderManager.maybeRefresh", "nrt.batch")
      val opt = of("SegmentStore.optimizeInPlace")
      buildLayers(of("DocIds.assign", "check"), of("SegmentStore.build", "check"), oneDir) ++
      queryLayers((n, roots) => of(n, (if (roots.isEmpty) Seq("query.topk") else roots): _*),
        tracer.noted("SegmentSearcher.plan.leaf_terms")) ++ Seq(
        ("IncrementalIndexer.upsertBatch.wall_s", med(up)(_.selfS), "s"),
        ("IncrementalIndexer.upsertBatch.cpu_s", med(up)(_.t.cpuNs / 1e9), "s"),
        ("IncrementalIndexer.upsertBatch.jobs", med(up)(_.t.jobs.toDouble), "count"),
        ("IncrementalIndexer.upsertBatch.shuffle_write_bytes", med(up)(_.t.shuffleWriteBytes.toDouble), "bytes"),
        ("IndexReaderManager.maybeRefresh.wall_s", med(rf)(_.selfS), "s"),
        ("IndexReaderManager.maybeRefresh.jobs", med(rf)(_.t.jobs.toDouble), "count"),
        ("nrt.generator_late_s", Stats.median(lateS.toSeq), "s"),
        ("nrt.generations", (batches + 1).toDouble, "count"),
        ("nrt.uncached_refreshes", uncachedRefreshes.toDouble, "count"),
        ("nrt.tombstone_ratio", tombCount.toDouble / model.nextDocId, "ratio"),
        ("SegmentStore.optimizeInPlace.wall_s", med(opt)(_.selfS), "s"),
        ("SegmentStore.optimizeInPlace.cpu_s", med(opt)(_.t.cpuNs / 1e9), "s"),
        ("SegmentStore.optimizeInPlace.bytes_rewritten", med(opt)(_.t.bytesWritten.toDouble), "bytes"),
        ("nrt.topk_p90_during_optimize_ms", Stats.pct(latOptMs, 0.9), "ms")) ++
        executorFracs(ctx, before, after, (optEnd - t0) / 1e9)
    }
    val issued = stream.take(math.min(next.get(), stream.size))
    Outcome(attempted, failed.get(), checks, e2e, layers, Seq(
      "base" -> Map("convs" -> Sizes.NrtBaseConvs, "turns" -> baseRows.size),
      "batches" -> batches, "writer_s" -> writerS, "uncached_refreshes" -> uncachedRefreshes, "setup_runs_s" -> setupS,
      "append_s" -> appendS.toSeq, "freshness_s" -> freshS.toSeq, "late_s" -> lateS.toSeq,
      "samples" -> Map("topk" -> latMs.size, "during_optimize" -> latOptMs.size),
      "repeat_share" -> Gen.repeatShare(issued.map(q => ("topk", q))),
      "queries" -> issued))
  }
}
