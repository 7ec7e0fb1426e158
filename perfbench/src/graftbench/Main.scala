package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.analysis.Analyzers
import graft.index.{FieldDef, StringField, TextField}

/** Entry point of the repository benchmark: one workload per JVM.
  *
  * {{{
  *   Main --workload serve|nrt --seed N --seconds S --trace 0|1
  *        --scratch DIR --out DIR
  * }}}
  *
  * Prints its run record as a `RECORD {...}` line and the result as a
  * `RESULT {...}` line (see perfbench/README.md); exits 1 when an output
  * check fails.
  */
object Main {

  /** The index fields of the repo's own bench: text plus the role/tool
    * string fields the `role:`/`tool:` filters hit.
    */
  val Fields: Seq[FieldDef] = Seq(
    FieldDef("default", "text", TextField(Analyzers.Standard)),
    FieldDef("role", "role", StringField),
    FieldDef("tool", "tool", StringField))

  /** Stored sidecar columns: sort key, include fields and highlight text. */
  val StoredColumns: Seq[String] = Seq("conv_id", "turn_idx", "role", "tool", "ts", "text")

  val DocsPerShard: Long = 1L << 14

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean, scratch: Path, out: Path)

  /** Context handed to a workload. */
  final class Ctx(val spark: SparkSession, val tracer: Tracer, val args: Args) {
    val cpus: Int = spark.sparkContext.defaultParallelism
    private val n = new java.util.concurrent.atomic.AtomicInteger()
    def dir(prefix: String): String = args.scratch.resolve(s"$prefix-${n.incrementAndGet()}").toString
    def span[A](name: String)(body: => A): A = tracer.span(name)(body)
  }

  /** A finished workload: its end-to-end metrics, the layer
    * metrics (traced run only) and the extra record fields.
    */
  final case class Outcome(
      attempted: Long,
      failed: Long,
      checks: Seq[(String, Boolean, String)], // (check, passed, detail)
      e2e: Seq[(String, Double, String)], // (name, value, unit)
      layers: Seq[(String, Double, String)],
      record: Seq[(String, Any)]) {
    def correct: Boolean = checks.forall(_._2)
  }

  private def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("scratch")), Paths.get(need("out")))
  }

  def session(scratch: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", (4 * cpus).toString)
      .config("spark.sql.inMemoryColumnarStorage.batchSize", "1000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    Files.createDirectories(args.scratch)
    Files.createDirectories(args.out)
    val spark = session(args.scratch)
    val ok =
      try {
        val ctx = new Ctx(spark, new Tracer(spark.sparkContext, args.trace), args)
        val o = args.workload match {
          case "serve" => Workloads.serve(ctx)
          case "nrt" => Workloads.nrt(ctx)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        report(ctx, o)
        o.correct
      } finally {
        spark.stop()
        Fs.rm(args.scratch.toString)
      }
    // Spark leaves non-daemon threads behind; exit explicitly
    System.exit(if (ok) 0 else 1)
  }

  private def report(ctx: Ctx, o: Outcome): Unit = {
    val a = ctx.args
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    def metricMap(xs: Seq[(String, Double, String)]) =
      Json.Raw(xs.map { case (n, v, u) => Json.str(n) + ":" + Json.obj("value" -> v, "unit" -> u) }
        .mkString("{", ",", "}"))
    if (a.trace) {
      ctx.tracer.drain()
      val lines = Trace.toJsonLines(ctx.tracer.recorded)
      Files.write(a.out.resolve(s"$tag-spans.jsonl"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val record = Json.obj(Seq[(String, Any)](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "cpus" -> ctx.cpus, "correct" -> o.correct, "attempted" -> o.attempted, "failed" -> o.failed,
      "checks" -> Json.Raw(o.checks.map { case (n, p, d) =>
        Json.obj("check" -> n, "passed" -> p, "detail" -> d) }.mkString("[", ",", "]")),
      "end_to_end" -> metricMap(o.e2e),
      "per_layer" -> metricMap(o.layers)) ++ o.record: _*)
    Files.write(a.out.resolve(s"$tag.json"), record.getBytes("UTF-8"))
    println("RECORD " + record)
    o.checks.filterNot(_._2).foreach { case (n, _, d) => System.err.println(s"[perfbench] CHECK FAILED $n: $d") }
    println("RESULT " + Json.obj(
      "correct" -> o.correct, "attempted" -> o.attempted, "failed" -> o.failed,
      "end_to_end" -> metricMap(o.e2e), "per_layer" -> metricMap(o.layers)))
  }
}
