package graft.extensions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions.{BoundedTopK, PairCombinations, Shingles, VecDot}

/** SQL surface for the library's native Catalyst expressions — the
  * `SparkSessionExtensions` injection point (SURVEY §2.10): a session
  * built with `spark.sql.extensions=graft.extensions.GraftExtensions`
  * can call every custom expression from plain SQL, so the engine's
  * hot-path primitives are first-class library functions, not
  * Scala-only helpers:
  *
  *  - `vec_dot(a, b)` — codegen'd sequential-fold dot product
  *    ([[graft.functions.VecDot]]);
  *  - `shingles(text[, n])` — distinct word n-grams (n defaults to 3)
  *    in one imperative pass ([[graft.functions.Shingles]]);
  *  - `pair_combinations(sorted_ids)` — C(n,2) pair generator
  *    ([[graft.functions.PairCombinations]]);
  *  - `top_k_min(score, id, k)` — k-bounded ranking aggregate
  *    ([[graft.functions.BoundedTopK]]).
  *
  * Literal-only parameters (`n`, `k`) are enforced at resolution time
  * with a clear error, matching how Spark's own `approx_percentile`
  * treats its accuracy argument. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
  }
}

object GraftExtensions {

  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  private def fn(name: String, usage: String)(builder: FunctionBuilder)
    : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), info(name, usage), builder)

  /** The injected (identifier, info, builder) triples — exposed so
    * specs can register the identical surface on a plain session. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    Seq(
      fn("vec_dot", "vec_dot(a, b) - sequential-fold dot product") {
        case Seq(a, b) => VecDot(a, b)
        case args => throw new IllegalArgumentException(
          s"vec_dot expects 2 arguments, got ${args.size}")
      },
      fn("shingles", "shingles(text[, n]) - distinct word n-grams (n = 3)") {
        case Seq(t) => Shingles(t, 3)
        case Seq(t, n) => Shingles(t, litInt(n, "shingles", "n"))
        case args => throw new IllegalArgumentException(
          s"shingles expects 1 or 2 arguments, got ${args.size}")
      },
      fn("pair_combinations",
        "pair_combinations(ids) - all C(n,2) ordered pairs") {
        case Seq(a) => PairCombinations(a)
        case args => throw new IllegalArgumentException(
          s"pair_combinations expects 1 argument, got ${args.size}")
      },
      fn("top_k_min",
        "top_k_min(score, id, k) - k smallest (score, id) pairs") {
        case Seq(s, i, k) => BoundedTopK(s, i, litInt(k, "top_k_min", "k"))
        case args => throw new IllegalArgumentException(
          s"top_k_min expects 3 arguments, got ${args.size}")
      })

  // ---------------------------------------------------------------
  // Table-valued functions: the open-format scans as plain SQL — the
  // DuckDB-parity spelling (`delta_scan`, `iceberg_scan`), so a SQL
  // user reads a lakehouse table (optionally time-traveled) with no
  // Scala at all. The builder runs at ANALYSIS time on the active
  // session: it replays the log/metadata and splices the resulting
  // scan's logical plan into the query — the same driver-side
  // planning cost as the programmatic read.
  // ---------------------------------------------------------------

  private def litString(e: Expression, fn: String, arg: String): String =
    e match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String,
        org.apache.spark.sql.types.StringType) => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a string literal, got $other")
    }

  private def litLong(e: Expression, fn: String, arg: String): Long =
    e match {
      case Literal(v: Int, IntegerType) => v.toLong
      case Literal(v: Long, org.apache.spark.sql.types.LongType) => v
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be an integer literal, got $other")
    }

  private def plan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.logical

  private def active = org.apache.spark.sql.SparkSession.active

  private def tfn(name: String, usage: String)(
      builder: Seq[Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : (FunctionIdentifier, ExpressionInfo,
         Seq[Expression] =>
           org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    (FunctionIdentifier(name), info(name, usage), builder)

  /** `delta_scan`'s plan: the DSv2 connector (pushdown-capable)
    * when the table's types fit its reader, else the DataFrame
    * reader (the connector refuses complex types at schema
    * inference, which is the catchable seam). */
  private def deltaScanPlan(path: String, version: Option[Long])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    try {
      var r = active.read.format("graft-delta").option("path", path)
      version.foreach(v => r = r.option("versionAsOf", v.toString))
      plan(r.load())
    } catch {
      case e: IllegalArgumentException
          if e.getMessage != null &&
            e.getMessage.contains("unsupported column type") =>
        plan(version match {
          case Some(v) => graft.sources.DeltaLog.readVersion(active, path, v)
          case None => graft.sources.DeltaLog.read(active, path)
        })
    }

  /** `iceberg_scan`'s plan: the connector unless the pinned snapshot
    * carries non-primitive columns, or an equality delete keyed on a
    * hive-stripped identity partition column (the one eq-delete
    * shape the connector's mask derivation cannot match row-wise) —
    * those refuse at EXECUTION inside the connector (too late for
    * SQL), so the probe here is a driver-side manifest walk deciding
    * the path up front. Ordinary equality-delete snapshots stay on
    * the connector: they fold to position masks at planning. */
  private def icebergScanPlan(path: String, snap: Option[Long],
      ref: Option[String])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val dataframe = () => (snap, ref) match {
      case (Some(s), _) => graft.sources.Iceberg.readSnapshot(active, path, s)
      case (_, Some(r)) => graft.sources.Iceberg.readRef(active, path, r)
      case _ => graft.sources.Iceberg.read(active, path)
    }
    val fits = scala.util.Try {
      val snapId = ref.map(graft.sources.Iceberg.refSnapshot(path, _))
        .orElse(snap)
        .getOrElse(graft.sources.Iceberg.mainSnapshotId(path))
      val p = graft.sources.Iceberg.batchPlan(path, snapId)
      (p.filesCarryPartCols || p.eqDeletes.forall(
        _.keyCols.forall(c => !p.partCols.contains(c)))) &&
      p.schema.fields.forall(f => f.dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType |
             org.apache.spark.sql.types.BooleanType |
             org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType |
             org.apache.spark.sql.types.DateType => true
        case _ => false
      })
    }.getOrElse(false)
    if (!fits) plan(dataframe())
    else {
      var r = active.read.format("graft-iceberg").option("path", path)
      snap.foreach(s => r = r.option("snapshotAsOf", s.toString))
      ref.foreach(b => r = r.option("branch", b))
      plan(r.load())
    }
  }

  /** The injected table functions — `delta_scan(path[, version])`,
    * `iceberg_scan(path[, snapshot_id])`. */
  val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] =
    Seq(
      // delta_scan / iceberg_scan resolve to the DSv2 BATCH
      // connectors (round 14), so a SQL WHERE over them prunes files
      // inside the optimizer and `SELECT count(*)` collapses to the
      // metadata-only LocalScan — exactly what the DataFrame spelling
      // gets. Shapes the connector declines (complex column types;
      // Iceberg equality-delete snapshots) fall back to the library's
      // DataFrame readers, keeping every previously-readable table
      // readable.
      tfn("delta_scan",
        "delta_scan(path[, version]) - read an open Delta table") {
        case Seq(p) =>
          deltaScanPlan(litString(p, "delta_scan", "path"), None)
        case Seq(p, v) =>
          deltaScanPlan(litString(p, "delta_scan", "path"),
            Some(litLong(v, "delta_scan", "version")))
        case args => throw new IllegalArgumentException(
          s"delta_scan expects (path[, version]), got ${args.size} args")
      },
      tfn("iceberg_scan",
        "iceberg_scan(path[, snapshot_id | ref_name]) - read an " +
          "Iceberg table, optionally AS OF a snapshot id or a named " +
          "tag/branch") {
        case Seq(p) =>
          icebergScanPlan(litString(p, "iceberg_scan", "path"),
            None, None)
        // a STRING second argument is a named ref — `VERSION AS OF
        // '<tag|branch>'`: the audit step of write-audit-publish
        // queries its staged branch by name through exactly this arm
        case Seq(p, Literal(s: org.apache.spark.unsafe.types.UTF8String,
            org.apache.spark.sql.types.StringType)) =>
          icebergScanPlan(litString(p, "iceberg_scan", "path"),
            None, Some(s.toString))
        case Seq(p, s) =>
          icebergScanPlan(litString(p, "iceberg_scan", "path"),
            Some(litLong(s, "iceberg_scan", "snapshot_id")), None)
        case args => throw new IllegalArgumentException(
          s"iceberg_scan expects (path[, snapshot_id | ref_name]), " +
            s"got ${args.size}")
      },
      // metadata tables — the `DESCRIBE HISTORY` / `table$snapshots`
      // surface real lakehouse clients query for auditing; pure
      // driver-side metadata walks, no data scanned
      tfn("delta_history",
        "delta_history(path) - one row per commit: version, operation") {
        case Seq(p) =>
          plan(graft.sources.DeltaLog.history(active,
            litString(p, "delta_history", "path")))
        case args => throw new IllegalArgumentException(
          s"delta_history expects (path), got ${args.size} args")
      },
      tfn("iceberg_snapshots",
        "iceberg_snapshots(path) - one row per snapshot: id, operation") {
        case Seq(p) =>
          plan(graft.sources.Iceberg.snapshotsTable(active,
            litString(p, "iceberg_snapshots", "path")))
        case args => throw new IllegalArgumentException(
          s"iceberg_snapshots expects (path), got ${args.size} args")
      },
      // the `table$files` audit surface: per-file rows (path,
      // partition, records, size, bounds, DV/content) straight off
      // the replayed state / manifest walk — what an operator asks
      // first when a 100 TB scan does not prune
      tfn("delta_file_stats",
        "delta_file_stats(path[, version]) - one row per live file: " +
          "path, partition, records, live_records, size_bytes, " +
          "has_dv, min/max stats JSON") {
        case Seq(p) =>
          plan(graft.sources.DeltaLog.fileStats(active,
            litString(p, "delta_file_stats", "path")))
        case Seq(p, v) =>
          plan(graft.sources.DeltaLog.fileStats(active,
            litString(p, "delta_file_stats", "path"),
            litLong(v, "delta_file_stats", "version")))
        case args => throw new IllegalArgumentException(
          s"delta_file_stats expects (path[, version]), got " +
            s"${args.size} args")
      },
      tfn("iceberg_files",
        "iceberg_files(path[, snapshot_id]) - one row per manifest " +
          "entry: path, partition, spec_id, content, records, " +
          "size_bytes, long-decoded bounds") {
        case Seq(p) =>
          plan(graft.sources.Iceberg.filesTable(active,
            litString(p, "iceberg_files", "path")))
        case Seq(p, v) =>
          plan(graft.sources.Iceberg.filesTable(active,
            litString(p, "iceberg_files", "path"),
            litLong(v, "iceberg_files", "snapshot_id")))
        case args => throw new IllegalArgumentException(
          s"iceberg_files expects (path[, snapshot_id]), got " +
            s"${args.size} args")
      },
      // the CDF SQL face (round 17) — the `table_changes` spelling
      // real Delta users query over the open log: row-level changes
      // tagged _change_type/_commit_version between two versions,
      // served by the SAME reader the CDF stream and the MERGE
      // silver consume (DV diffs, position-delta verdict files,
      // mapped tables — everything readChanges speaks)
      tfn("delta_changes",
        "delta_changes(path, from_version[, to_version]) - " +
          "row-level CDF rows tagged _change_type/_commit_version") {
        case Seq(p, f) =>
          val path = litString(p, "delta_changes", "path")
          plan(graft.sources.DeltaLog.readChanges(active, path,
            litLong(f, "delta_changes", "from_version"),
            graft.sources.DeltaLog.versions(path).last))
        case Seq(p, f, t) =>
          plan(graft.sources.DeltaLog.readChanges(active,
            litString(p, "delta_changes", "path"),
            litLong(f, "delta_changes", "from_version"),
            litLong(t, "delta_changes", "to_version")))
        case args => throw new IllegalArgumentException(
          s"delta_changes expects (path, from_version[, " +
            s"to_version]), got ${args.size} args")
      },
      // Iceberg's incremental append scan as SQL — rows of data
      // files added in (from, to], tagged _snapshot_id; refuses
      // overwrites in range exactly as the library read does
      tfn("iceberg_appends",
        "iceberg_appends(path, from_snapshot_exclusive" +
          "[, to_snapshot]) - incremental append rows tagged " +
          "_snapshot_id") {
        case Seq(p, f) =>
          val path = litString(p, "iceberg_appends", "path")
          plan(graft.sources.Iceberg.readIncremental(active, path,
            litLong(f, "iceberg_appends", "from_snapshot_exclusive"),
            graft.sources.Iceberg.mainSnapshotId(path)))
        case Seq(p, f, t) =>
          plan(graft.sources.Iceberg.readIncremental(active,
            litString(p, "iceberg_appends", "path"),
            litLong(f, "iceberg_appends", "from_snapshot_exclusive"),
            litLong(t, "iceberg_appends", "to_snapshot")))
        case args => throw new IllegalArgumentException(
          s"iceberg_appends expects (path, from_snapshot_exclusive" +
            s"[, to_snapshot]), got ${args.size} args")
      })

  /** Runtime registration on a pre-built session (the driver contract
    * hands us sessions — same pattern as VectorExprs.register). */
  def registerTableFunctions(spark: org.apache.spark.sql.SparkSession)
      : Unit =
    tableFunctions.foreach { case (id, inf, b) =>
      spark.sessionState.tableFunctionRegistry
        .registerFunction(id, inf, b)
    }
}
