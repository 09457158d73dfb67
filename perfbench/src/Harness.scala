package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** The JVM half of the benchmark: drives one workload through the engine's
  * public functions in a closed loop (one client thread, the next
  * operation starts when the previous one returns) and writes the raw
  * samples, failure count and per-layer counters to `result.json` in the
  * work directory. `run.py` generates the inputs and turns the result into
  * metrics.
  *
  * {{{
  * perfbench.Harness --workload etl_refresh --work <dir> --seconds 15 \
  *   --trace 0 --check 1 --cores 4
  * }}}
  */
object Harness {

  final case class Args(
      workload: String, work: Path, seconds: Double, trace: Boolean,
      check: Boolean, cores: Int)

  def parse(args: List[String], a: Args): Args = args match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--work" :: v :: rest => parse(rest, a.copy(work = Paths.get(v)))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--check" :: v :: rest => parse(rest, a.copy(check = v == "1"))
    case "--cores" :: v :: rest => parse(rest, a.copy(cores = v.toInt))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList, Args("", Paths.get("."), 10, trace = false, check = true, 4))
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, a, secondsSince(t0))
    try {
      a.workload match {
        case "etl_refresh" => Workloads.etlRefresh(ctx)
        case "tx_upsert" => Workloads.txUpsert(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      }
      ctx.writeResult()
    } finally spark.stop()
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  val json = new ObjectMapper()
}

/** Shared state of one run: session, samples, failures and the tracer. */
final class Ctx(val spark: SparkSession, val args: Harness.Args, sessionS: Double) {
  val work: Path = args.work
  val inputs: Path = work.resolve("inputs")
  lazy val expected: JsonNode = Harness.json.readTree(inputs.resolve("expected.json").toFile)
  val tracer = new Tracer(spark.sparkContext)

  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val setupRounds = ArrayBuffer.empty[Double]
  var warmupS = 0.0
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, AnyRef]
  /** Rounds whose counters the per-layer metrics are computed from. */
  val tracedRounds = ArrayBuffer.empty[Int]

  def sample(kind: String, v: Double): Unit =
    samples.getOrElseUpdate(kind, ArrayBuffer.empty) += v

  /** A measured value other than a latency, kept from loop rounds only. */
  def gauge(kind: String, v: Double): Unit = if (measuring) sample(kind, v)

  /** True inside [[loop]]. Set-up and warm-up operations are not timed,
    * and an exception there aborts the run. */
  private var measuring = false

  /** One timed operation: its wall time lands in `kind` when it returns;
    * an exception counts as a failed operation and yields None. */
  def op[T](kind: String)(body: => T): Option[T] = if (!measuring) Some(body) else {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      sample(if (tracer.tracing) s"$kind@traced" else kind, (System.nanoTime() - t0) / 1e6)
      Some(r)
    } catch {
      case scala.util.control.NonFatal(e) =>
        fail(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg.take(500)
  }

  /** Output check of the operation just run (skipped with `--check 0`). */
  def check(what: String)(ok: => Boolean): Unit =
    if (args.check) scala.util.Try(ok) match {
      case scala.util.Success(true) =>
      case scala.util.Success(false) => fail(s"$what: output differs from the reference model")
      case scala.util.Failure(e) => fail(s"$what: check threw $e")
    }

  def setupRound[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    setupRounds += Harness.secondsSince(t0)
    r
  }

  /** Untimed rounds on scratch state before the loop, so the JIT, Spark's
    * code generator and the page cache have seen every operation kind. */
  def warmup(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    warmupS += Harness.secondsSince(t0)
  }

  /** Closed loop over rounds until `--seconds` have passed and at least
    * `minRounds` ran (capped by `maxRounds`, the inputs generated). In a
    * traced run even rounds are traced and odd ones are not, so the
    * run also measures the tracer's own overhead. */
  def loop(minRounds: Int, maxRounds: Int)(round: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    measuring = true
    var r = 0
    val need = if (args.trace) math.max(minRounds, 2 * tracedWanted) else minRounds
    while (r < maxRounds && (r < need || System.nanoTime() < deadline)) {
      val traced = args.trace && r % 2 == 0
      if (traced) tracer.start(r)
      round(r)
      if (traced) {
        tracer.stop()
        if (tracedRounds.size < tracedWanted) tracedRounds += r
      }
      r += 1
    }
    measuring = false
    extra.put("rounds", Long.box(r))
  }

  /** How many traced rounds the deterministic counters are taken from. */
  var tracedWanted = 1

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.delete)
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith("."))
      .map(Files.size).sum

  def writeResult(): Unit = {
    val out = new java.util.LinkedHashMap[String, AnyRef]()
    out.put("session_s", Double.box(sessionS))
    out.put("setup_rounds_s", setupRounds.map(Double.box).asJava)
    out.put("warmup_s", Double.box(warmupS))
    out.put("samples", samples.map { case (k, v) => k -> v.map(Double.box).asJava }.asJava)
    out.put("attempted", Long.box(attempted))
    out.put("failed", Long.box(failed))
    out.put("failures", failures.asJava)
    out.put("per_layer", layer.map { case (k, v) => k -> Double.box(v) }.asJava)
    out.put("per_layer_units", Layers.Units.toMap.asJava)
    out.put("traced_rounds", tracedRounds.map(Int.box).asJava)
    extra.foreach { case (k, v) => out.put(k, v) }
    Harness.json.writerWithDefaultPrettyPrinter()
      .writeValue(work.resolve("result.json").toFile, out)
    if (args.trace)
      Harness.json.writeValue(work.resolve("trace.json").toFile, tracer.toJson)
  }
}
