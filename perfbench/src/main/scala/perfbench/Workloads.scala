package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One workload. Set-up (repeated, timed as `setup_s`) brings a fresh
  * session to where the workload's first op can run; `check` then tests
  * outputs the timed ops do not materialise, and warm-up runs every op
  * kind, both off the clock; the measured window follows. Outputs are
  * checked off the clock, in `check` or after each op. */
trait Workload {
  def name: String
  def setup(ctx: Ctx): Unit
  def check(ctx: Ctx): Unit = ()
  def warmup(ctx: Ctx): Unit
  def measure(ctx: Ctx, seconds: Double): Unit
}

object Workloads {
  /** Read-only registry queries, one or two per engine module: a gold
    * rollup, TPC-H-shaped OLAP, the lake-format reads (Delta pruning,
    * stats skipping, DSv2 pushdown) and the two heaviest `ext` corpus
    * operators. Each repeated call redoes the same work. */
  val RegistryQueries: Seq[String] = Seq(
    "q01_order_items_rollup", "q113_pricing_summary",
    "q145_delta_pruned_read", "q162_delta_stats_pruned", "q219_dsv2_pushdown",
    "q97_bigram_familiarity", "q108_repeated_spans")

  /** The gold table the medallion refresh reads back; its oracle is q03. */
  val GoldReadback = "q03_daily_sales_summary"

  /** Engine module (layer) that owns each registry query. */
  def layerOf(q: String): String = {
    val n = q.takeWhile(_ != '_').drop(1).toInt
    if (Set(1, 3)(n)) "gold"
    else if (n == 113) "ops"
    else if (Set(145, 162)(n)) "sources"
    else if (n == 219) "streaming"
    else "ext"
  }

  val all: Map[String, Workload] = Seq[Workload](
    Medallion,
    new QueryWorkload("registry_reads", RegistryQueries)
  ).map(w => w.name -> w).toMap

  def apply(name: String): Workload =
    all.getOrElse(name, throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.keys.toSeq.sorted.mkString(", ")})"))

  /** Resolves every input table, as a session's first query would. */
  def loadTables(ctx: Ctx): Unit =
    graft.Tables.names.foreach(graft.Tables.load(ctx.spark, ctx.args.data, _))

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def du(p: Path): Long =
    if (!Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) 0L
    else if (Files.isSymbolicLink(p)) 0L
    else if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator.asScala.map(du).sum finally s.close()
    } else Files.size(p)

  /** Runs closed-loop passes until `seconds` have elapsed (at least one
    * pass). In a traced run odd passes carry the tracer and even ones do
    * not, so the traced and untraced medians come from one window. */
  def passes(ctx: Ctx, seconds: Double)(pass: Boolean => Unit): Unit = {
    val t0 = System.nanoTime()
    var k = 0
    do {
      val traced = ctx.args.trace && k % 2 == 1
      if (traced) ctx.startTracing()
      try pass(traced) finally ctx.stopTracing()
      k += 1
    } while (secs(t0) < seconds || (ctx.args.trace && k < 2))
  }
}

import Workloads._

/** Closed loop, one caller: passes over read-only registry queries, each
  * timed to its full result through the `noop` sink; the seed shuffles
  * the order of every pass. */
final class QueryWorkload(val name: String, val queries: Seq[String])
    extends Workload {
  private def registry = graft.SparkEntry.queries
  /** Queries whose checked result was wrong; each of their window ops fails. */
  private val wrong = mutable.Set[String]()

  private def runQuery(ctx: Ctx, q: String): Double = {
    val t0 = System.nanoTime()
    ctx.span("bench", q) {
      val tb = System.nanoTime()
      val df = ctx.span(layerOf(q), q)(registry(q)(ctx.spark, ctx.args.data))
      val build = secs(tb)
      val ta = System.nanoTime()
      ctx.span("action", "noop") {
        df.write.format("noop").mode("overwrite").save()
      }
      if (ctx.tracing) {
        // the Dataset analyses its plan eagerly inside the registry call;
        // the action's own phases arrive through the listener
        ctx.tracer.foreach(_.addPhases(df.queryExecution))
        ctx.rec.add("query.build_ms", build * 1000)
        ctx.rec.add("query.action_ms", secs(ta) * 1000)
      }
    }
    secs(t0)
  }

  def setup(ctx: Ctx): Unit = loadTables(ctx)

  /** Runs every query to its full result on the driver and fingerprints
    * it against the oracle's. A read-only query redoes the same work on
    * every call, so this one result stands for the window's; the pass
    * is also the queries' first, cold, warm-up. */
  override def check(ctx: Ctx): Unit = queries.foreach { q =>
    if (!ctx.check(q, q, Fingerprint.of(registry(q)(ctx.spark, ctx.args.data)), ops = 0))
      wrong += q
  }

  /** One untimed pass down the timed path (the `noop` write compiles
    * code the collect in `check` does not). */
  def warmup(ctx: Ctx): Unit = queries.foreach(runQuery(ctx, _))

  def measure(ctx: Ctx, seconds: Double): Unit =
    passes(ctx, seconds) { traced =>
      val order = ctx.rng.shuffle(queries)
      var total = 0.0
      (if (ctx.args.smoke) order.take(1) else order).foreach { q =>
        ctx.rec.attempted += 1
        try {
          val s = runQuery(ctx, q)
          ctx.rec.ops += ((q, s, traced))
          if (wrong(q)) ctx.rec.failedOps += 1
          total += s
        } catch { case e: Throwable => ctx.rec.fail(s"$q: $e") }
      }
      ctx.rec.passes += ((total, traced))
    }
}

/** Closed loop, one caller: `Pipeline.run` into a fresh directory, then
  * the gold daily sales summary read back from its committed snapshot as
  * a dashboard would. A pass is refresh + read-back. */
object Medallion extends Workload {
  val name = "medallion_refresh"
  /** Stage timings `Pipeline` publishes in `lastRunMetrics` (`<stage>_ms`). */
  val PipelineStages = Seq("bronze", "silver", "gold", "warehouse", "mv",
    "fact_commit", "fact_sidecars")

  private var count = 0

  /** One refresh and its read-back; returns their times and the
    * read-back's fingerprint. */
  private def refresh(ctx: Ctx, traced: Boolean): (Double, Double, String) = {
    count += 1
    val out = ctx.dir.resolve(s"refresh$count")
    val t0 = System.nanoTime()
    ctx.span("bench", "refresh") {
      ctx.span("pipeline", "Pipeline.run") {
        graft.Pipeline.run(ctx.spark, ctx.args.data, out.toString)
      }
    }
    val refreshS = secs(t0)
    if (traced) {
      val m = graft.Pipeline.lastRunMetrics
      PipelineStages.foreach(s => m.get(s"${s}_ms").foreach(v =>
        ctx.rec.add(s"pipeline.${s}_ms", v.toDouble)))
    }
    val t1 = System.nanoTime()
    val (cols, rows) = ctx.span("bench", "readback") {
      val df = ctx.span("sources", "Snapshots.read") {
        graft.sources.Snapshots.read(ctx.spark,
          out.resolve("gold/daily_sales_summary").toString)
      }
      (df.columns.toSeq, df.collect())
    }
    val readS = secs(t1)
    val input = du(java.nio.file.Paths.get(ctx.args.data))
    ctx.rec.add("pipeline.lake_space_amp", du(out).toDouble / input)
    graft.util.Fs.deleteRecursively(out.toFile)
    (refreshS, readS, Fingerprint.of(cols, rows.iterator))
  }

  def setup(ctx: Ctx): Unit = loadTables(ctx)

  /** One refresh: a cold one takes about twice a warm one. */
  def warmup(ctx: Ctx): Unit = { refresh(ctx, traced = false); () }

  /** Every window refresh's read-back must equal q03 (the q84 gate). */
  def measure(ctx: Ctx, seconds: Double): Unit =
    passes(ctx, seconds) { traced =>
      ctx.rec.attempted += 1
      try {
        val (r, rb, fp) = refresh(ctx, traced)
        ctx.rec.ops += (("refresh", r, traced))
        ctx.rec.passes += ((r + rb, traced))
        ctx.check("medallion gold read-back", GoldReadback, fp)
      } catch { case e: Throwable => ctx.rec.fail(s"refresh: $e") }
    }
}
