package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{ConditionalPutStore, DeltaLog, LogStore,
  PosixLogStore, Snapshots}

/** The commit-point seam: every CAS race shape the engine's protocol
  * rests on, green under BOTH stores — the POSIX hard-link CAS and
  * the object-store conditional PUT (the storage the reference's own
  * lake lives on: MinIO via S3A). The conditional-put runs prove the
  * protocol never needs hard links, atomic renames, or fresh
  * listings: mutual exclusion comes from put-if-absent alone. */
class LogStoreSpec extends SparkSuite {
  import spark.implicits._

  private val stores = Seq(PosixLogStore, ConditionalPutStore)

  /** Fault-injecting wrapper: the next `loseNext` WINNING version
    * claims report failure AFTER the put landed — the real
    * object-store failure where the PUT succeeds but the response
    * is lost (timeout, dropped connection). The commit loops must
    * recognize their own landed commit instead of bump-and-retrying
    * a duplicate. */
  private class FaultyStore(inner: LogStore)
    extends LogStore {
    val name = s"faulty-${inner.name}"
    val loseNext = new java.util.concurrent.atomic.AtomicInteger(0)
    def claimVersion(target: java.nio.file.Path,
                     tmp: java.nio.file.Path): Boolean = {
      val won = inner.claimVersion(target, tmp)
      if (won && loseNext.get() > 0) {
        loseNext.decrementAndGet()
        false
      } else won
    }
    def claimSlot(d: java.nio.file.Path): Boolean = inner.claimSlot(d)
    def claimMarker(f: java.nio.file.Path): Boolean =
      inner.claimMarker(f)
    def putPointer(t: java.nio.file.Path, b: Array[Byte]): Unit =
      inner.putPointer(t, b)
  }

  test("lost PUT response: Delta commits recognize their own version") {
    stores.foreach { store =>
      val faulty = new FaultyStore(store)
      val dir = Files.createTempDirectory(s"lost-${store.name}")
        .toString + "/t"
      LogStore.withStore(faulty) {
        sources.DeltaLog.commitOverwrite(
          Seq((0L, "base")).toDF("k", "s"), dir)
        faulty.loseNext.set(1)
        sources.DeltaLog.commitAppend(
          Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)
        assert(faulty.loseNext.get() == 0,
          s"[${store.name}] the fault never fired")
        // exactly TWO commits: the append that lost its response
        // re-claimed ownership by content instead of duplicating
        // itself at the next version
        assert(sources.DeltaLog.versions(dir) == Seq(0L, 1L),
          s"[${store.name}] lost response duplicated the commit")
        assert(sources.DeltaLog.read(spark, dir).count() == 3)
      }
    }
  }

  test("lost PUT response: idempotent epoch commit stays exactly-once") {
    stores.foreach { store =>
      val faulty = new FaultyStore(store)
      val dir = Files.createTempDirectory(s"lostep-${store.name}")
        .toString + "/t"
      LogStore.withStore(faulty) {
        sources.DeltaLog.commitOverwrite(
          Seq((0L, "base")).toDF("k", "s"), dir)
        faulty.loseNext.set(1)
        val first = sources.DeltaLog.commitAppendIdempotent(
          Seq((1L, "a")).toDF("k", "s"), dir, "lost-app", 7L)
        assert(first.isDefined,
          s"[${store.name}] the lost-response commit must report " +
            "its own landed version")
        val replay = sources.DeltaLog.commitAppendIdempotent(
          Seq((1L, "a")).toDF("k", "s"), dir, "lost-app", 7L)
        assert(replay.isEmpty,
          s"[${store.name}] epoch replay landed twice")
        assert(sources.DeltaLog.read(spark, dir).count() == 2)
      }
    }
  }

  test("lost PUT response: Iceberg metadata claim recognizes itself") {
    stores.foreach { store =>
      val faulty = new FaultyStore(store)
      val dir = Files.createTempDirectory(s"losti-${store.name}")
        .toString + "/t"
      LogStore.withStore(faulty) {
        sources.Iceberg.commitAppend(
          Seq((0L, "base")).toDF("k", "s"), dir)
        faulty.loseNext.set(1)
        sources.Iceberg.commitAppend(
          Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)
        assert(faulty.loseNext.get() == 0)
        assert(sources.Iceberg.versions(dir) == Seq(1, 2),
          s"[${store.name}] lost response duplicated the snapshot")
        assert(sources.Iceberg.read(spark, dir).count() == 3)
      }
    }
  }

  test("stale listing + lost response in ONE commit loop") {
    // a writer computes its version from a stale view (a racing
    // append lands between the version computation and the claim),
    // loses that claim GENUINELY (bytes differ — not its commit),
    // retries at the new head, wins there, and THAT response is
    // lost — the loop must end with both commits landed exactly
    // once, contiguous
    stores.foreach { store =>
      val faulty = new FaultyStore(store)
      val dir = Files.createTempDirectory(s"stale-${store.name}")
        .toString + "/t"
      LogStore.withStore(faulty) {
        sources.DeltaLog.commitOverwrite(
          Seq((0L, "base")).toDF("k", "s"), dir)
        @volatile var planted = false
        sources.DeltaLog.commitClaimHook = (d, v) =>
          if (d == dir && v == 1L && !planted) {
            planted = true
            // the racing append this writer's stale listing missed
            sources.DeltaLog.commitAppend(
              Seq((10L, "race")).toDF("k", "s"), dir)
            // and the retry's own claim will land but lose its
            // response
            faulty.loseNext.set(1)
          }
        try sources.DeltaLog.commitAppend(
          Seq((1L, "mine")).toDF("k", "s"), dir)
        finally sources.DeltaLog.commitClaimHook = (_, _) => ()
        assert(planted && faulty.loseNext.get() == 0)
        assert(sources.DeltaLog.versions(dir) == Seq(0L, 1L, 2L),
          s"[${store.name}] commit loop landed a duplicate or a gap")
        val rows = sources.DeltaLog.read(spark, dir)
          .collect().map(_.toString).sorted.toSeq
        assert(rows == Seq("[0,base]", "[10,race]", "[1,mine]").sorted,
          s"[${store.name}] rows wrong: $rows")
      }
    }
  }

  test("put-if-absent semantics: first claim wins, loser changes nothing") {
    stores.foreach { store =>
      val dir = Files.createTempDirectory(s"ls-${store.name}")
      val target = dir.resolve("00000000000000000001.json")
      def tmpWith(s: String) = {
        val t = Files.createTempFile(dir, ".w-", ".tmp")
        Files.write(t, s.getBytes("UTF-8"))
        t
      }
      val t1 = tmpWith("winner")
      assert(store.claimVersion(target, t1), s"[${store.name}] first claim")
      assert(!Files.exists(t1), s"[${store.name}] tmp consumed on win")
      val t2 = tmpWith("loser")
      assert(!store.claimVersion(target, t2), s"[${store.name}] second claim loses")
      assert(!Files.exists(t2), s"[${store.name}] tmp consumed on loss")
      assert(new String(Files.readAllBytes(target), "UTF-8") == "winner",
        s"[${store.name}] the published object is the winner's, complete")
      // slot + marker: create-if-absent, losing changes nothing
      val slot = dir.resolve("v=0")
      assert(store.claimSlot(slot) && !store.claimSlot(slot))
      val marker = slot.resolve("_SUCCESS")
      assert(store.claimMarker(marker) && !store.claimMarker(marker))
      // pointer: replaceable, readers see old-or-new never partial
      val hint = dir.resolve("version-hint.text")
      store.putPointer(hint, "1".getBytes("UTF-8"))
      store.putPointer(hint, "2".getBytes("UTF-8"))
      assert(new String(Files.readAllBytes(hint), "UTF-8") == "2")
    }
  }

  test("racing Delta appenders land contiguously under both stores") {
    stores.foreach { store =>
      LogStore.withStore(store) {
        val dir = Files.createTempDirectory(s"dlrace-${store.name}")
          .toString + "/t"
        sources.DeltaLog.commitOverwrite(
          Seq((0L, "base")).toDF("k", "s"), dir)
        val attempted = store.claimsAttempted.get
        val n = 4
        val barrier = new java.util.concurrent.CyclicBarrier(n)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
        try {
          val futures = (1 to n).map { i =>
            pool.submit(new java.util.concurrent.Callable[Long] {
              def call(): Long = {
                barrier.await()
                sources.DeltaLog.commitAppend(
                  Seq((i.toLong, s"w$i")).toDF("k", "s"), dir)
              }
            })
          }
          val versions = futures.map(
            _.get(180, java.util.concurrent.TimeUnit.SECONDS))
          assert(versions.toSet.size == n,
            s"[${store.name}] each appender owns a distinct version")
        } finally pool.shutdown()
        assert(sources.DeltaLog.versions(dir) == (0L to n.toLong),
          s"[${store.name}] contiguous versions — no torn/skipped commit")
        assert(sources.DeltaLog.read(spark, dir)
          .collect().map(_.getLong(0)).sorted.toSeq == (0L to n.toLong),
          s"[${store.name}] every append lands exactly once")
        (0L to n.toLong).foreach(v => sources.DeltaLog.replay(dir, v))
        // routing proof: the commits above went through THIS store
        assert(store.claimsAttempted.get >= attempted + n,
          s"[${store.name}] commit CAS must route through the store")
      }
    }
  }

  test("Delta planted-loser race retries internally under both stores") {
    stores.foreach { store =>
      LogStore.withStore(store) {
        val dir = Files.createTempDirectory(s"dlplant-${store.name}")
          .toString + "/t"
        sources.DeltaLog.commitOverwrite(
          Seq((0L, "base")).toDF("k", "s"), dir)
        val before = sources.DeltaLog.commitCasRetries.get
        val planted = new java.util.concurrent.atomic.AtomicBoolean(false)
        sources.DeltaLog.commitClaimHook = (d, _) =>
          if (planted.compareAndSet(false, true))
            sources.DeltaLog.commitAppend(
              Seq((100L, "racer")).toDF("k", "s"), d)
        try sources.DeltaLog.commitAppend(
          Seq((200L, "loser")).toDF("k", "s"), dir)
        finally sources.DeltaLog.commitClaimHook = (_, _) => ()
        assert(sources.DeltaLog.commitCasRetries.get >= before + 1,
          s"[${store.name}] the lost CAS must surface in the retry seam")
        assert(sources.DeltaLog.versions(dir) == (0L to 2L))
        assert(sources.DeltaLog.read(spark, dir)
          .collect().map(_.getLong(0)).sorted.toSeq ==
          Seq(0L, 100L, 200L),
          s"[${store.name}] racer and loser both land exactly once")
      }
    }
  }

  test("Iceberg planted-loser race and stale hint under both stores") {
    stores.foreach { store =>
      LogStore.withStore(store) {
        val dir = Files.createTempDirectory(s"iceplant-${store.name}")
          .toString + "/t"
        sources.Iceberg.commitOverwrite(
          Seq((0L, "base")).toDF("k", "s"), dir)
        val before = sources.Iceberg.commitCasRetries.get
        val planted = new java.util.concurrent.atomic.AtomicBoolean(false)
        sources.Iceberg.commitClaimHook = (d, _) =>
          if (planted.compareAndSet(false, true))
            sources.Iceberg.commitAppend(
              Seq((100L, "racer")).toDF("k", "s"), d)
        try sources.Iceberg.commitAppend(
          Seq((200L, "loser")).toDF("k", "s"), dir)
        finally sources.Iceberg.commitClaimHook = (_, _) => ()
        assert(sources.Iceberg.commitCasRetries.get >= before + 1,
          s"[${store.name}] the lost CAS must surface in the retry seam")
        assert(sources.Iceberg.versions(dir) == (1 to 3),
          s"[${store.name}] contiguous metadata versions")
        assert(sources.Iceberg.read(spark, dir)
          .collect().map(_.getLong(0)).sorted.toSeq ==
          Seq(0L, 100L, 200L))
        // crash-between-claim-and-hint: rewind the advisory hint —
        // currentVersion takes max(hint, disk), nothing hides
        Files.write(Paths.get(s"$dir/metadata/version-hint.text"),
          "1".getBytes("UTF-8"))
        assert(sources.Iceberg.read(spark, dir).count() == 3,
          s"[${store.name}] a stale hint must not hide committed state")
      }
    }
  }

  test("Snapshots racing mergeCommits publish exactly one under both stores") {
    stores.foreach { store =>
      LogStore.withStore(store) {
        val t = Files.createTempDirectory(s"snrace-${store.name}")
          .toString + "/t"
        Snapshots.mergeCommit(spark,
          Seq((1, "a", 1L)).toDF("k", "s", "ver"), t, Seq("k"), "ver")
        var innerV = -1
        Snapshots.onMergeBeforeClaim = () => {
          Snapshots.onMergeBeforeClaim = () => ()
          innerV = Snapshots.mergeCommit(spark,
            Seq((2, "winner", 1L)).toDF("k", "s", "ver"),
            t, Seq("k"), "ver")
        }
        try {
          intercept[java.util.ConcurrentModificationException] {
            Snapshots.mergeCommit(spark,
              Seq((1, "loser", 2L)).toDF("k", "s", "ver"),
              t, Seq("k"), "ver")
          }
        } finally Snapshots.onMergeBeforeClaim = () => ()
        assert(innerV == 1, s"[${store.name}] the planted racer wins v1")
        assert(Snapshots.versions(t) == Seq(0, 1))
        val leftovers = new java.io.File(t).listFiles()
          .map(_.getName).toSet
        assert(leftovers == Set("v=0", "v=1"),
          s"[${store.name}] loser fully reclaimed, got $leftovers")
        assert(Snapshots.read(spark, t).collect()
          .map(r => r.getInt(0) -> r.getString(1)).toMap ==
          Map(1 -> "a", 2 -> "winner"))
      }
    }
  }

  test("Delta stats commit + Snapshots torn-claim heal under conditional-put") {
    LogStore.withStore(ConditionalPutStore) {
      val posixBefore = PosixLogStore.claimsAttempted.get
      val t = Files.createTempDirectory("lssnap").toString + "/t"
      // a stats + bloom Delta commit publishes through the store's
      // claim: the sidecar and add.stats are staged before the log
      // entry lands, exactly as under posix, and prune on read
      val df = (1L to 100L).map(i => (i, s"s$i")).toDF("k", "s")
        .repartitionByRange(4, col("k"))
      DeltaLog.createTable(t, df.schema, Seq.empty,
        Map(DeltaLog.BloomColsProp -> "k"))
      DeltaLog.commitOverwrite(df, t)
      assert(DeltaLog.readWhereStats(spark, t, Seq(("k", 1L, 10L)))
        .filter(col("k") <= 10L).count() == 10)
      assert(DeltaLog.lastFilesScanned < 4,
        s"stats committed under the store must prune: scanned " +
          s"${DeltaLog.lastFilesScanned} of 4")
      assert(DeltaLog.readWherePoint(spark, t, "k", Seq(42L))
        .filter(col("k") === 42L).count() == 1)
      assert(DeltaLog.lastFilesScanned < 4)
      assert(DeltaLog.read(spark, t).count() == 100)
      // exactly-once commitIfAbsent + torn-claim heal: claim the slot
      // without completing it (a crashed writer), then the owning
      // retry must rewrite and publish through the store
      val t2 = Files.createTempDirectory("lssnap2").toString + "/t"
      Files.createDirectories(Paths.get(t2))
      assert(ConditionalPutStore.claimSlot(Paths.get(s"$t2/v=0")))
      assert(Snapshots.commitIfAbsent(
        Seq((1, "a")).toDF("k", "s"), t2, 0),
        "the owning writer heals a torn claim")
      assert(!Snapshots.commitIfAbsent(
        Seq((1, "dup")).toDF("k", "s"), t2, 0),
        "a replayed batch id is a no-op")
      assert(Snapshots.read(spark, t2).count() == 1)
      assert(PosixLogStore.claimsAttempted.get == posixBefore,
        "no Delta or Snapshots claim may fall back to the posix primitives")
    }
  }

  test("the streaming CDF-to-MERGE loop runs under conditional-put") {
    // the q199-shape CDC pipeline — bronze commits, CDF stream,
    // foreachBatch MERGE + key-delete into a silver — end to end
    // with object-store commit semantics: every commit of every
    // table (bronze, silver) claims via conditional PUT, including
    // the ones made from Spark's STREAMING thread
    LogStore.withStore(ConditionalPutStore) {
      val posixBefore = PosixLogStore.claimsAttempted.get
      val work = Files.createTempDirectory("lscdc").toString
      val bronze = s"$work/bronze"
      val silver = s"$work/silver"
      sources.DeltaLog.commitOverwrite(
        (1L to 20L).map(i => (i, s"v1-$i")).toDF("k", "s"), bronze)
      // row-level change fidelity for MERGE commits needs the CDF
      // property (the q199 discipline) — itself a conditional-put
      // commit here
      sources.DeltaLog.setTableProperties(bronze,
        Map("delta.enableChangeDataFeed" -> "true"))
      sources.DeltaLog.mergeInto(spark, bronze,
        (1L to 5L).map(i => (i, s"v2-$i")).toDF("k", "s"), Seq("k"))
      sources.DeltaLog.deleteWhere(spark, bronze,
        col("k") % 10L === 0L)
      val q = spark.readStream.format("graft-delta-cdf")
        .option("path", bronze).load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                         _: Long) =>
          val ups = batch
            .filter(col("_change_type").isin("insert",
              "update_postimage"))
            .select(col("k"), col("s"))
          if (!ups.isEmpty) {
            if (sources.DeltaLog.versions(silver).isEmpty)
              sources.DeltaLog.commitOverwrite(ups, silver)
            else
              sources.DeltaLog.mergeInto(spark, silver, ups, Seq("k"))
          }
          val dels = batch.filter(col("_change_type") === "delete")
            .select(col("k"))
          if (sources.DeltaLog.versions(silver).nonEmpty &&
              !dels.isEmpty)
            sources.DeltaLog.deleteWhereKeys(spark, silver, "k", dels)
          ()
        }
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = sources.DeltaLog.read(spark, silver)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = (1L to 20L).filterNot(_ % 10 == 0).map(i =>
        i -> (if (i <= 5) s"v2-$i" else s"v1-$i")).toMap
      assert(got == want, s"silver diverged: ${got.toSeq.sorted.take(5)}")
      assert(PosixLogStore.claimsAttempted.get == posixBefore,
        "no commit — including streaming-thread ones — may fall " +
          "back to the posix CAS under conditional-put")
    }
  }

  test("conditional-put commits never touch the posix primitives") {
    // by construction the CondPut impl calls no createLink/ATOMIC_MOVE;
    // this pins the complement: with CondPut active, a full Delta +
    // Iceberg commit lifecycle routes ZERO claims through PosixLogStore
    LogStore.withStore(ConditionalPutStore) {
      val posixBefore = PosixLogStore.claimsAttempted.get
      val condBefore = ConditionalPutStore.claimsAttempted.get
      val dir = Files.createTempDirectory("condonly").toString
      sources.DeltaLog.commitOverwrite(
        Seq((1L, "a")).toDF("k", "s"), s"$dir/d")
      sources.DeltaLog.commitAppend(
        Seq((2L, "b")).toDF("k", "s"), s"$dir/d")
      sources.Iceberg.commitOverwrite(
        Seq((1L, "a")).toDF("k", "s"), s"$dir/i")
      assert(sources.DeltaLog.read(spark, s"$dir/d").count() == 2)
      assert(sources.Iceberg.read(spark, s"$dir/i").count() == 1)
      assert(PosixLogStore.claimsAttempted.get == posixBefore,
        "no commit may fall back to the posix CAS under conditional-put")
      assert(ConditionalPutStore.claimsAttempted.get > condBefore)
    }
  }
}
