package graft

import org.apache.spark.sql.functions._
import graft.ops.Scale

/** The scale utilities must be result-identical to the plain operators
  * they replace, bucketed tables must join without an exchange, the
  * df-cap must bound hot-shingle pair expansion, and AQE's skew-join
  * split must demonstrably engage on a planted hot key. */
class ScaleSpec extends SparkSuite {
  import spark.implicits._

  test("df-capped pair generation bounds a planted hot shingle") {
    // 60 docs share one boilerplate 5-token run → 3 shingles with
    // document frequency 60 > DfCap=50; every pair of them co-occurs
    // in exactly those 3 shingles → the UNCAPPED expansion emits
    // C(60,2)=1770 boilerplate pairs from those groups. Two more docs
    // share 3 RARE shingles (df=2) → one genuine near-dup pair.
    val hot = (1 to 60).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon u${i}a u${i}b u${i}c"))
    val rare = Seq(
      (101L, "red orange yellow green blue q1"),
      (102L, "red orange yellow green blue q2"))
    val tmp = java.nio.file.Files.createTempDirectory("hotshingle").toString
    (hot ++ rare).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    val capped = graft.ext.Dedup.cappedNearDupPairs(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((101L, 102L)),
      s"df-cap must keep only the rare-shingle pair, got: $capped")

    // the uncapped exact baseline really would emit the M² blowup —
    // this is the behavior the cap exists to bound
    val uncapped = graft.ext.Dedup.ngramJaccardPairs(spark, tmp).count()
    assert(uncapped == 60L * 59 / 2 + 1,
      s"expected 1771 uncapped pairs, got $uncapped")

    // ...and the bound must HOLD THROUGH CLUSTERING (q83): the capped
    // labels merge only the genuine rare-shingle pair, while every
    // hot-boilerplate doc stays its own singleton cluster — whereas
    // the uncapped clustering (q50) welds all 60 hot docs into one
    // component. This is the q57/q81 lineage contract.
    val cappedLabels = graft.ext.Dedup.cappedDedupClusters(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = ((hot.map(_._1) :+ 101L).map(id => id -> id) :+
      (102L -> 101L)).toMap
    assert(cappedLabels == expected,
      s"capped clustering must keep hot docs singleton, got: $cappedLabels")
    val uncappedLabels = graft.ext.Dedup.dedupClusters(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1 to 60).forall(i => uncappedLabels(i.toLong) == 1L),
      "uncapped clustering welds the hot-shingle docs into one component")
  }

  test("AQE splits the planted hot key; salted join matches its result") {
    // 80% of the big side lands on key 0 → one reducer partition ~5 MB
    // vs tiny siblings. With the skew threshold lowered to test scale,
    // AQE must re-plan the sort-merge join with skew=true — the
    // no-code-change first answer to skew the 100 TB posture relies
    // on. The manual salted path must agree exactly; its niche is
    // aggregation-key skew and single keys beyond AQE's split
    // granularity (ops/Scale.scala scaladoc).
    val big = spark.range(0, 500000)
      .select(when(col("id") % 5 =!= 0, lit(0L)).otherwise(col("id") % 1000)
        .as("k"), col("id").as("v"))
    val small = spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") * 2).as("attr"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256k")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
    try {
      val joined = big.join(small, Seq("k"))
      def timed[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime(); val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      }
      // collect() (not count()) so THIS Dataset's adaptive plan is the
      // one executed — count() compiles a separate aggregate query and
      // the inspected plan would never finalize
      val (nAqe, tAqe) = timed(joined.collect().length.toLong)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$finalPlan")
      val (nSalted, tSalted) = timed(
        Scale.saltedJoin(big, small, "k", 8).count())
      assert(nAqe == 500000L && nSalted == nAqe)
      info(f"planted-skew join: AQE split $tAqe%.2fs vs salted $tSalted%.2fs")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    }
  }

  test("q134 gate fires its internal requires at the smallest SF") {
    // the gate self-checks (skew=true in the executed plan + salted
    // parity) before returning; surviving at sf0.001 proves the
    // data-derived thresholds scale DOWN as well as up
    val rows = Scale.skewJoinGate(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // the planted hot key dominates: key 0 carries ~80% of lineitem
    val hot = rows.find(_.getLong(0) == 0L).get.getLong(1)
    assert(hot > rows.map(_.getLong(1)).sum / 2,
      s"hot key carries $hot of ${rows.map(_.getLong(1)).sum} joined rows")
  }

  test("salted join equals plain inner join") {
    val events = Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "value")
    val users = Tables.load(spark, sfDir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n_total"))
    val plain = events.join(users, Seq("user_id"), "inner")
    val salted = Scale.saltedJoin(events, users, "user_id", 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("salted two-phase aggregation equals plain groupBy") {
    val events = Tables.load(spark, sfDir, "events")
    val plain = events.groupBy(col("user_id"))
      .agg(sum(col("value")).as("sum_value"), count(lit(1)).as("n_rows"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    val salted = Scale.saltedSumCount(events, "user_id", "value", 8)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    assert(salted.keySet == plain.keySet)
    // double sums may differ in fold order across the extra phase —
    // compare within float tolerance, counts exactly
    salted.foreach { case (k, (s, n)) =>
      assert(n == plain(k)._2)
      assert(math.abs(s - plain(k)._1) < 1e-9 * math.max(1.0, math.abs(s)))
    }
  }

  test("stats-manifest pruning collects O(files) rows, never data") {
    // the skipping decision reads the replayed log's add.stats — one
    // entry per data file, driver-side metadata with NO Spark job and
    // no collect: the input to the decision is exactly one stats
    // record per file, and that must scale with files, not data
    val table = ops.Scale.zorderStatsSnapshot(spark, sfDir)
    sources.DeltaLog.readWhereStats(spark, table,
      Seq(("o_custkey", 0L, 50L))).count()
    val st = sources.DeltaLog.replay(table,
      sources.DeltaLog.versions(table).last)
    assert(st.adds.values.forall(_.longBounds.contains("o_custkey")),
      "every file must carry the bounds the decision reads")
    assert(sources.DeltaLog.lastFilesScanned <= st.adds.size)
    val dataRows = Tables.load(spark, sfDir, "orders").count()
    assert(st.adds.size * 10 < dataRows,
      s"decided over ${st.adds.size} stats records vs $dataRows data " +
        "rows — the decision must scale with files, not data")
  }

  test("q110 layout: bucket count derives from data size, builder cached") {
    // one bucket per 256 MB, clamped [8, 4096]
    assert(ops.Scale.bucketCountFor(1L) == 8)
    assert(ops.Scale.bucketCountFor(10L << 30) == 40)
    assert(ops.Scale.bucketCountFor(100L << 40) == 4096)
    // the layout builder is session-cached: same tables back, so the
    // gated query (and bench run 2) measures the join, not the write
    val t1 = ops.Scale.bucketedTables(spark, sfDir)
    val t2 = ops.Scale.bucketedTables(spark, sfDir)
    assert(t1 == t2)
  }

  test("bucketed tables join with zero exchanges") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Tables.load(spark, sfDir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders")
      Tables.load(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() ==
        Tables.load(spark, sfDir, "lineitem").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("z-order layout shrinks per-file spans in BOTH dimensions (q100)") {
    // the min/max-stats pruning argument measured on real files: split
    // the table into 16 files three ways and compare each file's value
    // span per dimension. A single-column sort gives perfect locality
    // on that column and none on the other; the z-layout (16 files =
    // 4 high curve bits = a 4×4 grid over the normalized plane) must
    // beat the single-sort layout on its BLIND dimension by a wide
    // margin while staying well under the unsorted span on both.
    val base = java.nio.file.Files.createTempDirectory("zorder").toString
    val z = graft.ops.Scale.zOrderedOrders(spark, sfDir)
      .select("o_custkey", "day_no", "z_value")
    def spans(df: org.apache.spark.sql.DataFrame, sortCols: Seq[String],
              path: String): (Double, Double) = {
      val sorted = if (sortCols.isEmpty) df
        else df.repartitionByRange(16, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      sorted.write.mode("overwrite").parquet(path)
      val perFile = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max("o_custkey") - min("o_custkey")).as("cs"),
          (max("day_no") - min("day_no")).as("ds"))
        .collect()
      (perFile.map(_.getAs[Long]("cs")).sum.toDouble / perFile.length,
        perFile.map(_.getAs[Long]("ds")).sum.toDouble / perFile.length)
    }
    val (cRand, dRand) = spans(z.repartition(16), Seq.empty, s"$base/rand")
    val (cCust, dCust) = spans(z, Seq("o_custkey"), s"$base/cust")
    val (cZ, dZ) = spans(z, Seq("z_value"), s"$base/z")
    info(f"avg per-file span custkey/day: random $cRand%.0f/$dRand%.0f, " +
      f"custkey-sort $cCust%.0f/$dCust%.0f, z-order $cZ%.0f/$dZ%.0f")
    // single-column sort: near-perfect on custkey, blind on day
    assert(cCust < cRand / 4)
    // z-order: materially better than random on BOTH dimensions…
    assert(cZ < cRand / 2 && dZ < dRand / 2)
    // …and far better than the single-sort layout on ITS blind dim
    assert(dZ < dCust / 2)
  }

  test("stats manifest prunes a 2-D range query to a small file fraction (q104)") {
    // the payoff step of the z-order layout: commit 16 z-range files
    // to a Delta table whose add.stats carry per-file (o_custkey,
    // day_no) min/max, then ask which files a 2-D box can touch. On a
    // 16-file layout (4 curve bits = a 4x4 grid over the normalized
    // plane) the q104 box (~7% of customers x ~21% of days) must scan
    // well under half the files — the part correct-but-useless stats
    // would fail — while the pruned+filtered rows stay EQUAL to the
    // unpruned filter.
    val base = java.nio.file.Files.createTempDirectory("prunedscan").toString
    val table = s"$base/orders_z"
    val z = Scale.zOrderedOrders(spark, sfDir)
      .repartitionByRange(16, col("z_value"))
      .sortWithinPartitions("z_value")
    sources.DeltaLog.commitOverwrite(z, table)
    val st = sources.DeltaLog.replay(table,
      sources.DeltaLog.versions(table).last)
    val total = st.adds.size
    def kept(ranges: Seq[(String, Long, Long)]): Int =
      sources.DeltaLog.statsPruned(st, ranges).adds.size
    val ranges = Seq(
      ("o_custkey", Scale.PruneCustLo, Scale.PruneCustHi),
      ("day_no", Scale.PruneDayLo, Scale.PruneDayHi))
    val boxKept = kept(ranges)
    info(s"pruned 2-D box scan: $boxKept of $total files")
    assert(total == 16, s"expected 16 data files, the log holds $total")
    assert(boxKept > 0, "the box matches rows; pruning must keep files")
    assert(boxKept <= total / 3,
      s"z-layout + stats should prune hard: kept $boxKept/$total")

    val predicate = col("o_custkey").between(Scale.PruneCustLo, Scale.PruneCustHi) &&
      col("day_no").between(Scale.PruneDayLo, Scale.PruneDayHi)
    val pruned = sources.DeltaLog.readWhereStats(spark, table, ranges)
      .filter(predicate)
    assert(sources.DeltaLog.lastFilesScanned == boxKept)
    val full = sources.DeltaLog.read(spark, table).filter(predicate)
    assert(pruned.count() == full.count() && full.count() > 0)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)

    // single-dimension boxes prune too (the both-dims-at-once promise):
    // each one-sided range must still skip files
    val cOnly = kept(Seq(("o_custkey", Scale.PruneCustLo, Scale.PruneCustHi)))
    val dOnly = kept(Seq(("day_no", Scale.PruneDayLo, Scale.PruneDayHi)))
    assert(cOnly < total && dOnly < total,
      s"each single dim must prune: cust $cOnly, day $dOnly")
  }

  test("per-file blooms prune point lookups the min/max manifest cannot") {
    // a high-cardinality key over a layout NOT sorted by it: every
    // file's (min,max) span covers nearly the whole key domain, so
    // range stats keep everything — the bloom is what prunes. 16
    // hash-scattered files of o_orderkey, then point probes.
    val base = java.nio.file.Files.createTempDirectory("bloomprune").toString
    val table = s"$base/orders_b"
    val o = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey")
      .repartition(16, col("o_custkey")) // scatters orderkeys everywhere
    sources.DeltaLog.createTable(table, o.schema, Seq.empty,
      Map(sources.DeltaLog.BloomColsProp -> "o_orderkey"))
    sources.DeltaLog.commitOverwrite(o, table)

    // writer/reader hash agreement: the driver-side probe positions
    // must replicate the engine's xxhash64 fold bit-for-bit, at BOTH
    // the floor geometry and a data-scaled one
    val keys = Seq(1L, 77L, 424242L, Long.MaxValue, -5L)
    for (m <- Seq(sources.DeltaLog.BloomMinBits, 1 << 19)) {
      val engine = keys.toDF("k").select(
        (0 until sources.DeltaLog.BloomHashes).map(i =>
          pmod(xxhash64(col("k"), lit(i.toLong)),
            lit(m.toLong)).as(s"p$i")): _*)
        .collect().map(r => (0 until sources.DeltaLog.BloomHashes)
          .map(r.getLong(_).toInt))
      keys.zip(engine).foreach { case (k, want) =>
        assert(sources.DeltaLog.bloomPositions(k, m) == want,
          s"driver bloom positions diverge from xxhash64 for key $k, m=$m")
      }
    }
    // the size rule: floor for small files, ~20 bits/row beyond it,
    // clamped at the ceiling — 47k-row files (the 10x bench shape
    // that saturated a fixed 16k-bit filter) get 2^20 bits
    assert(sources.DeltaLog.sidecarBloomBits(100) ==
      sources.DeltaLog.BloomMinBits)
    assert(sources.DeltaLog.sidecarBloomBits(47000) == (1 << 20))
    assert(sources.DeltaLog.sidecarBloomBits(Long.MaxValue / 16) ==
      sources.DeltaLog.BloomMaxBits)

    // present keys CHOSEN FAR APART (first/middle/last of the domain):
    // their min..max range spans ~everything, so min/max stats keep
    // ~all files while the bloom still skips most
    val allKeys = o.select("o_orderkey").distinct()
      .orderBy("o_orderkey").collect().map(_.getLong(0))
    val probe = Seq(allKeys.head, allKeys(allKeys.length / 2), allKeys.last)
    val pruned = sources.DeltaLog.readWherePoint(
        spark, table, "o_orderkey", probe)
      .filter(col("o_orderkey").isin(probe: _*))
    val kept = sources.DeltaLog.lastFilesScanned
    val st = sources.DeltaLog.replay(table,
      sources.DeltaLog.versions(table).last)
    val total = st.adds.size
    info(s"bloom point probe kept $kept of $total files")
    assert(total == 16)
    // the round-7 scale flag: the probe must collect O(files) tiny
    // rows, never full per-file blooms. Upper bound = one (file,
    // m_bits) row per bloomed file and geometry plus one row per hit
    // file. A full-bloom collect would be ≥ BloomMinBits/64 words per
    // file — orders of magnitude over this bound.
    val geoms = sources.DeltaLog.bloomManifest(spark, table).get
      .filter(col("colname") === "o_orderkey")
      .select("m_bits").distinct().count()
    val probeBound = total.toLong * geoms + total
    assert(sources.DeltaLog.lastBloomRowsCollected >= 0 &&
      sources.DeltaLog.lastBloomRowsCollected <= probeBound,
      s"driver collected ${sources.DeltaLog.lastBloomRowsCollected} " +
        s"bloom rows; bound is $probeBound (files × geometries + " +
        "files) — the collect is scaling with bloom size, not files")
    assert(probeBound <
      total.toLong * sources.DeltaLog.BloomMinBits / 64,
      "bound sanity: probe bound must sit far under a full-bloom collect")
    assert(kept < total / 2,
      s"bloom should skip most hash-scattered files: $kept/$total")
    val lo = probe.min; val hi = probe.max
    val rangeKept = sources.DeltaLog.statsPruned(st,
      Seq(("o_orderkey", lo, hi))).adds.size
    assert(rangeKept > kept,
      s"min/max ($rangeKept) should be useless next to the " +
        s"bloom ($kept) on this layout")
    val full = sources.DeltaLog.read(spark, table)
      .filter(col("o_orderkey").isin(probe: _*))
    assert(pruned.count() == full.count() && full.count() > 0)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)

    // absent key: nothing (or almost nothing — FPR) survives, and the
    // read returns empty rows, not an error
    assert(sources.DeltaLog.readWherePoint(
        spark, table, "o_orderkey", Seq(-987654321L))
      .filter(col("o_orderkey") === -987654321L).count() == 0)
    assert(sources.DeltaLog.lastFilesScanned <= 1,
      s"ghost key kept ${sources.DeltaLog.lastFilesScanned} files")

    // a table that does not bloom the column refuses point pruning
    // loudly
    val plain = s"$base/orders_plain"
    sources.DeltaLog.commitOverwrite(o, plain)
    val e = intercept[IllegalArgumentException] {
      sources.DeltaLog.readWherePoint(spark, plain, "o_orderkey", probe)
    }
    assert(e.getMessage.contains("bloom"))
  }

  test("q104's snapshot builder is session-cached and mtime-evicted") {
    // the compaction write is paid once per session (the q111→q112
    // discipline): a second call returns the SAME committed table,
    // and rewriting the source table evicts it (old temp dir deleted)
    val src = java.nio.file.Files.createTempDirectory("zcache").toString
    Tables.load(spark, sfDir, "orders").write
      .parquet(s"$src/orders.parquet")
    val a = Scale.zorderStatsSnapshot(spark, src)
    val b = Scale.zorderStatsSnapshot(spark, src)
    assert(a == b, "second call must reuse the cached snapshot")
    assert(new java.io.File(a).isDirectory)
    // q104's measured body reproduces the full filter from the cache
    val q = Scale.zorderPrunedScan(spark, src)
    assert(q.count() > 0)
    // a table rewrite must evict: new snapshot dir, old one reclaimed
    // — the round-5 sketch-cache eviction contract. The cache key is a
    // fingerprint over every part FILE's (path, size, mtime) (a
    // directory-mtime key misses rewrites that replace file contents
    // in place), so bump a part file's stamp, not the directory's.
    val part = new java.io.File(s"$src/orders.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(part.setLastModified(part.lastModified + 10000))
    val c = Scale.zorderStatsSnapshot(spark, src)
    assert(c != a, "superseded snapshot must not be served")
    assert(!new java.io.File(a).exists,
      "evicted snapshot's temp dir must be reclaimed")
  }

  test("null stats never prune (superset contract) and empty boxes read empty") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val base = java.nio.file.Files.createTempDirectory("nullstats").toString
    val table = s"$base/t"
    // two single-partition halves → two files: one with k=1..10, one
    // all-null; the all-null file records no k bounds and must survive
    // every box, because "no stats" can never prove "no match".
    // (Built at the RDD level: a DataFrame coalesce(1)-union would be
    // collapsed back to one partition by the optimizer.)
    val schema = StructType(Seq(StructField("k", LongType, nullable = true),
      StructField("s", StringType, nullable = true)))
    val rdd = spark.sparkContext
      .parallelize((1L to 10L).map(k => Row(k, s"v$k")), 1)
      .union(spark.sparkContext.parallelize(
        Seq(Row(null, "n1"), Row(null, "n2")), 1))
    sources.DeltaLog.commitOverwrite(spark.createDataFrame(rdd, schema), table)
    val st = sources.DeltaLog.replay(table,
      sources.DeltaLog.versions(table).last)
    val far = sources.DeltaLog.statsPruned(st, Seq(("k", 100L, 200L)))
    assert(st.adds.size == 2 && far.adds.size == 1,
      s"box misses the valued file but must keep the null-stats file: " +
        s"${far.files}")
    // the superset then filters to empty — correct, just unprunable
    val rows = sources.DeltaLog.readWhereStats(spark, table,
      Seq(("k", 100L, 200L))).filter(col("k").between(100, 200))
    assert(rows.count() == 0)
    // a box over the data keeps both files (valued + unprunable null)
    assert(sources.DeltaLog.statsPruned(st, Seq(("k", 5L, 6L)))
      .adds.size == 2)
  }

  test("stats pruning is exact under random layouts and boxes (property)") {
    val rnd = new scala.util.Random(97)
    val base = java.nio.file.Files.createTempDirectory("pruneprop").toString
    (1 to 2).foreach { trial =>
      val table = s"$base/t$trial"
      val data = (1 to 200).map(_ =>
        (rnd.nextInt(1000).toLong, rnd.nextInt(100).toLong))
      sources.DeltaLog.commitOverwrite(
        data.toDF("k", "w").repartitionByRange(8, col("k")), table)
      (1 to 4).foreach { _ =>
        val lo = rnd.nextInt(1000).toLong; val hi = lo + rnd.nextInt(300)
        val wlo = rnd.nextInt(100).toLong; val whi = wlo + rnd.nextInt(40)
        val ranges = Seq(("k", lo, hi), ("w", wlo, whi))
        val pred = col("k").between(lo, hi) && col("w").between(wlo, whi)
        val pruned = sources.DeltaLog
          .readWhereStats(spark, table, ranges).filter(pred)
        val full = sources.DeltaLog.read(spark, table).filter(pred)
        assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty,
          s"pruning changed the result for k∈[$lo,$hi], w∈[$wlo,$whi]")
      }
    }
  }

  /** Run `body` with [[sources.DeltaLog.commitClaimHook]] crashing the
    * first claim on `table` after `atClaim` inspected the staged
    * commit; the hook is restored afterwards. */
  private def crashingClaim(table: String)(atClaim: => Unit)
      (body: => Unit): Unit = {
    sources.DeltaLog.commitClaimHook = (dir, _) =>
      if (dir == table) {
        sources.DeltaLog.commitClaimHook = (_, _) => ()
        atClaim
        throw new RuntimeException("planted crash before publish")
      }
    try {
      val e = intercept[RuntimeException](body)
      assert(e.getMessage.contains("planted crash"))
    } finally sources.DeltaLog.commitClaimHook = (_, _) => ()
  }

  test("a writer crashing before publish leaves no reader-visible version") {
    val table = java.nio.file.Files.createTempDirectory("crashstats")
      .toString + "/t"
    val df = (1L to 10L).map(k => (k, k * 2)).toDF("k", "w")
    sources.DeltaLog.createTable(table, df.schema, Seq.empty,
      Map(sources.DeltaLog.BloomColsProp -> "k"))
    crashingClaim(table) {
      // data, add.stats and the bloom sidecar are fully staged at the
      // claim, yet no reader primitive may see the version
      assert(new java.io.File(table, sources.DeltaLog.BloomSidecarDir)
        .list().nonEmpty, "bloom sidecar not staged before the claim")
      assert(sources.DeltaLog.versions(table) == Seq(0L),
        "version visible before the log claim")
    } {
      sources.DeltaLog.commitOverwrite(df, table)
    }
    assert(sources.DeltaLog.versions(table) == Seq(0L))
    assert(sources.DeltaLog.read(spark, table).count() == 0)
    // a later clean commit claims the NEXT slot and is fully readable
    sources.DeltaLog.commitOverwrite(df, table)
    assert(sources.DeltaLog.versions(table) == Seq(0L, 1L))
    assert(sources.DeltaLog.read(spark, table).count() == 10)
  }

  test("a writer crashing between data job and stats job is also invisible") {
    // Delta publishes at exactly one point — the log claim — so a
    // writer dying anywhere after its data job (before, during or
    // after the footer-stats job) leaves only orphan part files. This
    // spec crashes with the data on disk and proves no reader, and no
    // LATER commit, ever serves those orphans.
    val table = java.nio.file.Files.createTempDirectory("crashdata")
      .toString + "/t"
    def dataDirs = Option(new java.io.File(table).listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("part-"))
    crashingClaim(table) {
      assert(dataDirs == 1, "the data job should have landed its files")
      assert(sources.DeltaLog.versions(table).isEmpty,
        "version visible after the data job, before the claim")
    } {
      sources.DeltaLog.commitOverwrite(
        (1L to 10L).map(k => (k, k * 2)).toDF("k", "w"), table)
    }
    assert(sources.DeltaLog.versions(table).isEmpty)
    // recovery: the next clean commit works, readWhereStats serves it,
    // and the crashed writer's orphan files stay out of every read
    sources.DeltaLog.commitOverwrite(
      (1L to 10L).map(k => (k, k * 2)).toDF("k", "w"), table)
    assert(dataDirs == 2)
    assert(sources.DeltaLog.read(spark, table).count() == 10)
    assert(sources.DeltaLog.readWhereStats(spark, table,
      Seq(("k", 3L, 5L))).count() > 0)
  }

  test("q133 OPTIMIZE: packs files, restores clustering, refreshes stats") {
    val (table, vFrag, vOpt, nFrag, nOpt) =
      Scale.optimizedSnapshot(spark, sfDir)
    // file-count collapse: 64 fragments -> a handful of packed files
    assert(nFrag == 64 && nOpt < nFrag / 4,
      s"OPTIMIZE left $nOpt of $nFrag files")
    // fresh stats: every packed file's add carries o_orderkey bounds,
    // and its key span is NARROW — the re-clustering payoff. The
    // fragmented version's hash-scattered files each span ~the whole
    // key domain; the packed files must not.
    def bounds(v: Long) = sources.DeltaLog.replay(table, v).adds.values
      .toSeq.flatMap(_.longBounds.get("o_orderkey"))
    val opt = bounds(vOpt)
    assert(opt.size == nOpt, "add.stats must cover every packed file")
    val frag = bounds(vFrag)
    def span(b: (Long, Long)) = b._2 - b._1
    val globalSpan = frag.map(_._2).max - frag.map(_._1).min
    assert(opt.map(span).max <= globalSpan / 2,
      "packed files must carry narrow key spans (clustering restored)")
    assert(frag.map(span).min > globalSpan / 2,
      "precondition: fragmented files were hash-scattered (wide spans)")
    // bloom refreshed: a point probe against the OPTIMIZED version
    // prunes to ~one file
    val key = sources.DeltaLog.read(spark, table)
      .agg(org.apache.spark.sql.functions.min("o_orderkey")).head.getLong(0)
    assert(sources.DeltaLog.readWherePoint(spark, table, "o_orderkey",
      Seq(key)).filter(col("o_orderkey") === key).count() == 1)
    assert(sources.DeltaLog.lastFilesScanned <= 2,
      s"fresh bloom should prune the point probe: kept " +
        s"${sources.DeltaLog.lastFilesScanned}/$nOpt")
    // reader pinning: the fragmented version is untouched and equal
    val a = sources.DeltaLog.readVersion(spark, table, vFrag)
    val b = sources.DeltaLog.readVersion(spark, table, vOpt)
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("small-file compaction: size-targeted rewrite preserves data") {
    // the OPTIMIZE/bin-packing pattern: a streaming sink leaves many
    // tiny files; the compactor rewrites each partition's data into
    // ceil(bytes / target) files. (q12 is the ROW-level compaction;
    // this is the FILE-level companion.)
    def parquetFiles(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val base = java.nio.file.Files.createTempDirectory("compact").toString
    val events = Tables.load(spark, sfDir, "events")
    events.repartition(64).write.mode("overwrite").parquet(s"$base/small")
    assert(parquetFiles(s"$base/small") == 64)
    val small = spark.read.parquet(s"$base/small")
    val bytes = new java.io.File(s"$base/small").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val target = 4L * 1024 * 1024 // 4 MB target files for the test
    val nOut = math.max(1, math.ceil(bytes.toDouble / target).toInt)
    small.repartition(nOut).write.mode("overwrite").parquet(s"$base/compact")
    val compact = spark.read.parquet(s"$base/compact")
    assert(parquetFiles(s"$base/compact") == nOut)
    assert(nOut < 64)
    assert(compact.count() == events.count())
    assert(compact.exceptAll(small).isEmpty && small.exceptAll(compact).isEmpty)
  }
}
