package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one measured window.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --data <dir> --work <dir> --expected <file> [--smoke]
  *   perfbench.Main --dump-oracles <file>
  *
  * The engine is called only through its public entry points
  * (`Pipeline.run`, `SparkEntry.queries`, `sources.Snapshots`) on the generated inputs under `--data`. Every timed op
  * runs to its full result; outputs are checked off the clock. The last
  * stdout line is the result JSON: with `--trace 0` the end-to-end
  * metrics, with `--trace 1` the per-layer ones. */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L,
      seconds: Double = 10.0, trace: Boolean = false, data: String = "",
      work: String = "", expected: String = "", smoke: Boolean = false,
      dumpOracles: Option[String] = None)

  /** Set-ups per run; `setup_s` is their median. One takes about 1 s, so
    * nine spread the median over a window long enough to ride out a
    * short burst of load from other processes on the host. */
  val SetupRounds = 9

  def parse(argv: Seq[String]): Args = argv match {
    case Seq() => Args()
    case "--smoke" +: rest => parse(rest).copy(smoke = true)
    case k +: v +: rest =>
      val a = parse(rest)
      k match {
        case "--workload" => a.copy(workload = v)
        case "--seed" => a.copy(seed = v.toLong)
        case "--seconds" => a.copy(seconds = v.toDouble)
        case "--trace" => a.copy(trace = v == "1")
        case "--data" => a.copy(data = v)
        case "--work" => a.copy(work = v)
        case "--expected" => a.copy(expected = v)
        case "--dump-oracles" => a.copy(dumpOracles = Some(v))
        case _ => throw new IllegalArgumentException(s"unknown option $k")
      }
    case other => throw new IllegalArgumentException(s"bad arguments $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    a.dumpOracles match {
      case Some(out) => dumpOracles(out)
      case None => println(run(a))
    }
  }

  /** Oracle SQL of every query the benchmark checks, for expected.py. */
  def dumpOracles(out: String): Unit = {
    val names = (Workloads.RegistryQueries :+ Workloads.GoldReadback).distinct.sorted
    val sql = graft.SparkEntry.oracleSql
    val body = names.map(n => s"  ${Json.str(n)}: ${Json.str(sql(n))}")
      .mkString("{\n", ",\n", "\n}\n")
    Files.write(Paths.get(out), body.getBytes("UTF-8"))
    ()
  }

  /** Starts the run's one SparkContext; every set-up round then opens
    * its own session on it (`newSession`: fresh SQL conf, catalog and
    * session-keyed engine caches). */
  def startSpark(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(a: Args): String = {
    val wl = Workloads(a.workload)
    val work = Paths.get(a.work).toAbsolutePath
    Files.createDirectories(work)
    val expected = Json.readStringMap(Paths.get(a.expected))
    val host = Calibration.probe(work)
    val rec = new Record
    val root = startSpark(work)
    rec.add("bench.start_s", (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    var ctx: Ctx = null
    // set-up: a fresh session brought to where the workload's first op
    // can run, several times; the last one stays up for the window
    (0 until (if (a.smoke) 1 else SetupRounds)).foreach { i =>
      val t0 = System.nanoTime()
      ctx = new Ctx(root.newSession(), a, work.resolve(s"setup$i"), expected, rec)
      wl.setup(ctx)
      rec.setupS += (System.nanoTime() - t0) / 1e9
    }
    val tw = System.nanoTime()
    wl.check(ctx)
    if (!a.smoke) wl.warmup(ctx)
    rec.add("bench.warmup_s", (System.nanoTime() - tw) / 1e9)
    // the meter sees exactly the window's tasks: the bus is drained of
    // warm-up events before it is added and of the window's before it is read
    val sc = ctx.spark.sparkContext
    val meter = new CpuMeter
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    sc.addSparkListener(meter)
    val t0 = System.nanoTime()
    wl.measure(ctx, if (a.smoke) 0.0 else a.seconds)
    val windowS = (System.nanoTime() - t0) / 1e9
    ctx.stopTracing()
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    sc.removeSparkListener(meter)
    rec.cpuNs = meter.cpuNs.get
    val cacheMb = ctx.spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1e6
    val tracer = ctx.tracer
    root.stop()

    val runName = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    tracer.foreach(_.writeSpans(work.resolve(s"$runName.spans.jsonl")))
    val metrics =
      if (a.trace) Report.perLayer(rec, tracer, host, cacheMb)
      else Report.endToEnd(rec)
    if (rec.attempted == 0)
      throw new IllegalStateException(s"no op attempted in ${a.workload}'s window")
    val out = Json.result(rec.failed.isEmpty, rec.attempted, rec.failedOps,
      metrics)
    Files.write(work.resolve(s"$runName.json"),
      Json.record(a, rec, host, windowS, cacheMb, out).getBytes("UTF-8"))
    rec.failed.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    out
  }
}

/** Everything a workload touches during one set-up + window. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val dir: Path,
    val expected: Map[String, String], val rec: Record) {
  Files.createDirectories(dir)
  val rng = new scala.util.Random(args.seed)
  @volatile private var active: Option[Tracer] = None
  /** The run's tracer (traced runs only), live or not. */
  val tracer: Option[Tracer] =
    if (args.trace) Some(new Tracer(spark)) else None

  def tracing: Boolean = active.nonEmpty
  def startTracing(): Unit =
    if (active.isEmpty) { tracer.foreach(_.register()); active = tracer }
  def stopTracing(): Unit = { active.foreach(_.unregister()); active = None }

  /** A span around a call into `layer` when tracing, else just the call. */
  def span[A](layer: String, name: String)(body: => A): A = active match {
    case Some(t) => t.span(layer, name)(body)
    case None => body
  }

  /** Checks one output, the result of `ops` ops; a mismatch fails each.
    * Returns whether the output was right. */
  def check(what: String, key: String, got: => String, ops: Int = 1): Boolean = {
    val want = expected.getOrElse(key, "<missing>")
    val g = try got catch { case e: Throwable => s"<error: $e>" }
    if (g != want) rec.fail(s"$what: got $g want $want", ops)
    g == want
  }
}

/** Raw samples of one run. Op and pass times are seconds; `traced`
  * marks samples taken with the tracer attached. */
final class Record {
  val setupS = mutable.ArrayBuffer[Double]()
  val ops = mutable.ArrayBuffer[(String, Double, Boolean)]()
  val passes = mutable.ArrayBuffer[(Double, Boolean)]()
  /** What went wrong, once per cause; `failedOps` counts the ops. */
  val failed = mutable.ArrayBuffer[String]()
  var failedOps = 0
  var attempted = 0
  /** Task CPU over the window. */
  var cpuNs = 0L
  def fail(msg: String, ops: Int = 1): Unit = { failed += msg; failedOps += ops }
  /** Extra per-layer figures a workload measures itself. */
  val extra = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  def add(k: String, v: Double): Unit =
    extra.getOrElseUpdate(k, mutable.ArrayBuffer[Double]()) += v
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  def str(s: String): String = mapper.writeValueAsString(s)

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  /** Reads a flat JSON object of string values (the expected file). */
  def readStringMap(p: Path): Map[String, String] = {
    val node = mapper.readTree(p.toFile).get("fingerprints")
    node.fieldNames.asScala.map(k => k -> node.get(k).asText).toMap
  }

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) =>
        s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
        .mkString(", ") + "}}"

  def record(a: Main.Args, rec: Record, host: Calibration.Host,
             windowS: Double, cacheMb: Double, result: String): String = {
    def arr(xs: Iterable[Double]) = xs.map(num).mkString("[", ",", "]")
    s"""{"workload": ${str(a.workload)}, "seed": ${a.seed}, "trace": ${a.trace},
       | "window_s": ${num(windowS)}, "cache_mb": ${num(cacheMb)},
       | "host": {"single_spin_s": ${num(host.singleS)}, "all_core_spin_s": ${num(host.allS)},
       |   "effective_cores": ${num(host.effectiveCores)}, "io_probe_s": ${num(host.ioS)}},
       | "setup_s": ${arr(rec.setupS)},
       | "ops": [${rec.ops.map { case (k, s, t) => s"[${str(k)},${num(s)},$t]" }.mkString(",")}],
       | "passes": [${rec.passes.map { case (s, t) => s"[${num(s)},$t]" }.mkString(",")}],
       | "extra": {${rec.extra.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${arr(v)}" }.mkString(", ")}},
       | "failed": [${rec.failed.map(str).mkString(",")}],
       | "result": $result}
       |""".stripMargin
  }
}
