package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.cdc.Cdc

/** Property-based invariants (SURVEY §5.3): CDC compaction is
  * arrival-order-independent and idempotent; aggregation partials are
  * consistent with totals. Generators are ScalaCheck `Gen`s driven by
  * fixed seeds (reproducible; one Spark job per case) and adversarial:
  * duplicate keys, colliding sequence numbers, skewed distributions. */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private val logGen: Gen[List[(String, Long, String)]] =
    Gen.chooseNum(1, 80).flatMap { n =>
      Gen.listOfN(n, for {
        k <- Gen.frequency(4 -> Gen.const("hot"),
          1 -> Gen.oneOf("a", "b", "c", "d"))
        seq <- Gen.chooseNum(0L, 30L) // deliberate seq collisions
        v <- Gen.oneOf("u", "v", "w", "x", "y", "z")
      } yield (k, seq, v))
    }

  /** Reproducible sample stream: fixed base seed, one per case. */
  private def cases(n: Int): Seq[List[(String, Long, String)]] =
    (1 to n).flatMap(i =>
      logGen.apply(Gen.Parameters.default, Seed(42L + i)))

  private val ord = Seq(col("seq").desc, col("v").desc) // total tie-break

  test("CDC compaction: any arrival order converges to the same state") {
    cases(8).foreach { entries =>
      val shuffled = new scala.util.Random(7).shuffle(entries)
      val sa = Cdc.latestPerKey(entries.toDF("k", "seq", "v"), Seq("k"), ord)
        .select("k", "seq", "v").collect().toSet
      val sb = Cdc.latestPerKey(shuffled.toDF("k", "seq", "v"), Seq("k"), ord)
        .select("k", "seq", "v").collect().toSet
      assert(sa == sb, s"order-dependent compaction on $entries")
    }
  }

  test("CDC compaction is idempotent on generated logs") {
    cases(8).foreach { entries =>
      val once = Cdc.latestPerKey(entries.toDF("k", "seq", "v"), Seq("k"), ord)
      val twice = Cdc.latestPerKey(once, Seq("k"), ord)
      assert(once.collect().toSet == twice.collect().toSet)
    }
  }

  test("splitting a log and merging halves equals one-shot compaction") {
    cases(8).zipWithIndex.foreach { case (entries, i) =>
      val cut = entries.size * (i + 1) / 10
      val (first, second) = entries.splitAt(cut)
      val oneShot = Cdc.latestPerKey(entries.toDF("k", "seq", "v"),
        Seq("k"), ord).select("k", "seq", "v").collect().toSet
      // MERGE semantics: compact the first half (prior silver state),
      // union the raw second half (new CDC batch), recompact
      val target =
        if (first.isEmpty) second.toDF("k", "seq", "v")
        else Cdc.latestPerKey(first.toDF("k", "seq", "v"), Seq("k"), ord)
          .unionByName(second.toDF("k", "seq", "v"))
      val merged = Cdc.latestPerKey(target, Seq("k"), ord)
        .select("k", "seq", "v").collect().toSet
      assert(merged == oneShot, s"merge divergence at cut=$cut")
    }
  }

  test("sum of per-group counts equals total count") {
    cases(8).foreach { entries =>
      val df = entries.toDF("k", "seq", "v")
      val perGroup = df.groupBy("k").count().agg(sum("count")).head.getLong(0)
      assert(perGroup == df.count())
    }
  }

  test("z-value interleave roundtrips both dimensions exactly") {
    // deinterleaving the Morton value must recover the inputs for the
    // full 16-bit domain — generated adversarially: bit-edge values,
    // powers of two, random interior points
    val edge = Seq(0L, 1L, 2L, 3L, 255L, 256L, 32767L, 32768L, 65535L)
    val rnd = new scala.util.Random(13)
    val dims = (edge ++ Seq.fill(40)(rnd.nextInt(65536).toLong))
      .flatMap(a => (edge ++ Seq.fill(3)(rnd.nextInt(65536).toLong))
        .map(b => (a, b)))
    val out = dims.toDF("a", "b")
      .select(col("a"), col("b"),
        graft.ops.Scale.zValue(col("a"), col("b")).as("z"))
      .collect()
    out.foreach { r =>
      val (a, b, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      var (da, db) = (0L, 0L)
      (0 until graft.ops.Scale.ZBits).foreach { i =>
        da |= ((z >> (2 * i)) & 1L) << i
        db |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert(da == a && db == b, s"roundtrip failed for ($a,$b): z=$z")
    }
    // interleave is injective over the generated set
    assert(out.map(_.getLong(2)).distinct.length == dims.length)
  }

  test("distributed CC converges on long path graphs (driver path disabled)") {
    // the distributed min-label loop moves a label ONE hop per round,
    // so a path graph of diameter d needs exactly d rounds — diameter
    // 20 exercises real multi-round convergence (ExtSpec's graphs are
    // shallow) while staying under the 50-round loud-failure cap. Two
    // disjoint paths + isolated nodes pin the label semantics: every
    // member gets its component's MIN doc_id, singletons label
    // themselves.
    val pathA = (0L until 21L).map(i => (100L + i, 100L + i + 1)) // 101..121 -> min 100
    val pathB = (0L until 15L).map(i => (300L + i, 300L + i + 1))
    val docs = ((100L to 121L) ++ (300L to 315L) ++ Seq(900L, 901L))
      .toDF("doc_id")
    val pairs = (pathA ++ pathB).toDF("a", "b")
    val labels = graft.ext.Dedup.distributedCc(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (100L to 121L).foreach(d => assert(labels(d) == 100L, s"doc $d"))
    (300L to 315L).foreach(d => assert(labels(d) == 300L, s"doc $d"))
    assert(labels(900L) == 900L && labels(901L) == 901L)
    // and the driver union-find agrees exactly on the same graph
    val viaDriver = graft.ext.Dedup.driverCc(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == labels)
  }

  test("repeated-span coverage equals brute force on adversarial corpora") {
    // 2-token alphabet makes 8-token windows collide constantly;
    // lengths 5..30 include docs too short to window at all — the
    // merged-interval arithmetic must match a position-marking brute
    // force on every doc
    val L = graft.ext.Dedup.SpanTokens
    val rnd = new scala.util.Random(41)
    val docs = (1 to 20).map { id =>
      val n = 5 + rnd.nextInt(26)
      (id.toLong, Seq.fill(n)(if (rnd.nextBoolean()) "a" else "b")
        .mkString(" "))
    }
    val tmp = java.nio.file.Files.createTempDirectory("spanprop").toString
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    // brute force: mark covered positions directly
    val wins = docs.map { case (id, text) =>
      val t = text.split("\\s+")
      id -> (0 to t.length - L).map(i => i -> t.slice(i, i + L).mkString(" "))
    }.toMap
    val repeated = wins.toSeq.flatMap { case (id, ws) =>
      ws.map(w => (w._2, id))
    }.groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2).keySet
    val expect = docs.map { case (id, text) =>
      val rep = wins(id).filter(w => repeated(w._2))
      val covered = rep.flatMap(w => w._1 until w._1 + L).distinct.size
      id -> (text.split("\\s+").length.toLong, rep.size.toLong, covered.toLong)
    }.toMap

    val got = graft.ext.Dedup.repeatedSpans(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (id, want) =>
      assert(got(id) == want, s"doc $id: got ${got(id)}, want $want")
    }
    // the fixture must actually exercise the merge path
    assert(expect.values.exists(_._2 > 1), "fixture has no overlapping spans")
  }

  test("monthsBack equals java.time over the full yyyymm domain") {
    // the round-7 year-boundary fix, held against an independent
    // implementation on 2000 generated (month, n) pairs
    val gen = for {
      y <- Gen.chooseNum(1990, 2030)
      m <- Gen.chooseNum(1, 12)
      n <- Gen.chooseNum(0, 60)
    } yield (y, m, n)
    (1 to 2000).foreach { i =>
      val (y, m, n) = gen.apply(Gen.Parameters.default, Seed(7L + i)).get
      val want = java.time.YearMonth.of(y, m).minusMonths(n)
      assert(Pipeline.monthsBack(y * 100L + m, n) ==
        want.getYear * 100L + want.getMonthValue,
        s"monthsBack($y$m%02d, $n)")
    }
  }

  test("bloom geometry: sizes are pow2-in-range, positions in [0, m)") {
    val sizes = Seq(0L, 1L, 2047L, 2048L, 2049L, 47000L, 1000000L,
      Long.MaxValue / 16)
    sizes.foreach { n =>
      val m = graft.sources.DeltaLog.sidecarBloomBits(n)
      assert(m >= graft.sources.DeltaLog.BloomMinBits &&
        m <= graft.sources.DeltaLog.BloomMaxBits)
      assert(Integer.bitCount(m) == 1, s"m=$m not a power of two (n=$n)")
      assert(m >= graft.sources.DeltaLog.BloomMaxBits ||
        m >= math.min(20L * n, graft.sources.DeltaLog.BloomMaxBits.toLong),
        s"m=$m undersized for n=$n")
    }
    val keyGen = Gen.chooseNum(Long.MinValue, Long.MaxValue)
    (1 to 500).foreach { i =>
      val k = keyGen.apply(Gen.Parameters.default, Seed(99L + i)).get
      Seq(graft.sources.DeltaLog.BloomMinBits, 1 << 19).foreach { m =>
        val ps = graft.sources.DeltaLog.bloomPositions(k, m)
        assert(ps.size == graft.sources.DeltaLog.BloomHashes)
        assert(ps.forall(p => p >= 0 && p < m), s"position out of range: $ps")
      }
    }
  }

  test("top_k_min equals sort-take(k) under any partitioning") {
    // the partial/merge path of the bounded aggregate must be
    // invisible: same result at 1, 7 and 32 partitions, equal to the
    // driver-side sort — including duplicate scores (tie on id) and
    // k larger than some groups
    val rnd = new scala.util.Random(29)
    val rows = (1 to 400).map { i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(20) / 2.0, i.toLong)
    }
    val expect = rows.groupBy(_._1).view.mapValues(
      _.map(r => (r._2, r._3)).sorted.take(7)).toMap
    Seq(1, 7, 32).foreach { parts =>
      val got = rows.toDF("g", "score", "id").repartition(parts)
        .groupBy(col("g"))
        .agg(graft.functions.AggExprs.topKMin(
          col("score"), col("id"), 7).as("tk"))
        .collect()
        .map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1)
            .map(s => (s.getDouble(0), s.getLong(1))))
        .toMap
      expect.foreach { case (g, want) =>
        assert(got(g).toSeq == want.toSeq, s"parts=$parts group=$g")
      }
    }
  }
}
