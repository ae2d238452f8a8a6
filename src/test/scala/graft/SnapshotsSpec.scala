package graft

import java.nio.file.Files

import graft.sources.Snapshots

/** Transaction-log semantics of the versioned-snapshot tables:
  * atomic visibility, time travel, crash isolation, concurrent
  * committers. */
class SnapshotsSpec extends SparkSuite {
  import spark.implicits._

  private def table() = Files.createTempDirectory("snap").toString

  test("commit/read round trip with time travel") {
    val t = table()
    val v0 = Snapshots.commit(Seq((1, "a"), (2, "b")).toDF("k", "s"), t)
    val v1 = Snapshots.commit(Seq((1, "a2"), (3, "c")).toDF("k", "s"), t)
    assert(v0 == 0 && v1 == 1)
    assert(Snapshots.read(spark, t).collect().map(_.getString(1)).sorted
      .sameElements(Array("a2", "c")))
    assert(Snapshots.readVersion(spark, t, 0).collect()
      .map(_.getString(1)).sorted.sameElements(Array("a", "b")))
    assert(Snapshots.versions(t) == Seq(0, 1))
  }

  test("a crashed (claimed but incomplete) version is invisible") {
    val t = table()
    Snapshots.commit(Seq((1, "a")).toDF("k", "s"), t)
    // simulate a writer that claimed v=1, wrote data, died before the
    // job's _SUCCESS marker
    Snapshots.commit(Seq((9, "torn")).toDF("k", "s"), t)
    assert(new java.io.File(s"$t/v=1/_SUCCESS").delete())
    assert(Snapshots.versions(t) == Seq(0))
    assert(Snapshots.read(spark, t).collect().map(_.getString(1))
      .sameElements(Array("a")))
    intercept[IllegalArgumentException] {
      Snapshots.readVersion(spark, t, 1)
    }
  }

  test("concurrent committers get distinct versions, both readable") {
    val t = table()
    val dfs = Seq(Seq((1, "x")).toDF("k", "s"), Seq((2, "y")).toDF("k", "s"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val committed = Await.result(
      Future.sequence(dfs.map(df => Future(Snapshots.commit(df, t)))),
      2.minutes).sorted
    assert(committed == List(0, 1))
    assert(Snapshots.versions(t) == Seq(0, 1))
    val latest = Snapshots.read(spark, t).collect()
    assert(latest.length == 1) // one of the two single-row commits won
  }

  test("commitIfAbsent is exactly-once per batch id and heals a torn claim") {
    val t = table()
    assert(Snapshots.commitIfAbsent(Seq((1, "a")).toDF("k", "s"), t, 0))
    // replay of the same batch id after restart: no-op
    assert(!Snapshots.commitIfAbsent(Seq((1, "dup")).toDF("k", "s"), t, 0))
    assert(Snapshots.read(spark, t).collect().head.getString(1) == "a")
    // a crashed writer claimed batch 1 and died mid-write
    assert(new java.io.File(s"$t/v=1").mkdir())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$t/v=1/part-torn.parquet"), "garbage")
    assert(Snapshots.versions(t) == Seq(0))
    // the restarted query rewrites its own batch
    assert(Snapshots.commitIfAbsent(Seq((2, "b")).toDF("k", "s"), t, 1))
    assert(Snapshots.versions(t) == Seq(0, 1))
    assert(Snapshots.read(spark, t).collect().head.getString(1) == "b")
  }

  test("mergeCommit upserts into the latest snapshot as a new version") {
    val t = table()
    val v0 = Snapshots.mergeCommit(spark,
      Seq((1, "a", 1L), (2, "b", 1L)).toDF("k", "s", "ver"),
      t, Seq("k"), "ver")
    val v1 = Snapshots.mergeCommit(spark,
      Seq((2, "b2", 2L), (3, "c", 2L)).toDF("k", "s", "ver"),
      t, Seq("k"), "ver")
    assert(v0 == 0 && v1 == 1)
    val latest = Snapshots.read(spark, t).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(latest == Map(1 -> "a", 2 -> "b2", 3 -> "c"))
    // time travel still shows the pre-merge state
    val old = Snapshots.readVersion(spark, t, 0).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(old == Map(1 -> "a", 2 -> "b"))
  }

  test("mergeCommit rejects an interleaved writer without ever publishing") {
    val t = table()
    Snapshots.mergeCommit(spark,
      Seq((1, "a", 1L)).toDF("k", "s", "ver"), t, Seq("k"), "ver") // v=0
    // inject a racing commit into the window between the stale
    // merge's base read and its version claim — the two-writer race
    // the module's concurrency contract warns about
    val visibleInWindow = scala.collection.mutable.Buffer.empty[Seq[Int]]
    Snapshots.onMergeBeforeClaim = () => {
      visibleInWindow += Snapshots.versions(t) // staged merge invisible?
      Snapshots.commit(
        Seq((2, "racer", 1L)).toDF("k", "s", "ver"), t) // claims v=1
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        Snapshots.mergeCommit(spark,
          Seq((1, "stale", 2L)).toDF("k", "s", "ver"), t, Seq("k"), "ver")
      }
    } finally Snapshots.onMergeBeforeClaim = () => ()
    // inside the window only the base version was visible
    assert(visibleInWindow == Seq(Seq(0)))
    // after the rollback: base + racer only; the stale merge (claimed
    // v=2) left no committed version, no claimed dir, and no staging
    assert(Snapshots.versions(t) == Seq(0, 1))
    val leftovers = new java.io.File(t).listFiles().map(_.getName).toSet
    assert(leftovers == Set("v=0", "v=1"), s"orphan dirs: $leftovers")
    // the surviving state is exactly base ⊕ racer — nothing from the
    // rejected merge leaked into any reader path
    assert(Snapshots.read(spark, t).collect().map(_.getString(1))
      .sameElements(Array("racer")))
    // and a clean retry (new base read) succeeds as v=2
    val retry = Snapshots.mergeCommit(spark,
      Seq((1, "retry", 2L)).toDF("k", "s", "ver"), t, Seq("k"), "ver")
    assert(retry == 2)
  }

  test("two racing mergeCommits: exactly one publishes, loser fully reclaimed") {
    // both writers derive from the same base — the exact lost-update
    // race the concurrency contract exists for. The seam fires the
    // second (complete) mergeCommit inside the first's stage→claim
    // window, deterministically: the inner merge wins the version
    // race, the outer must detect it, publish NOTHING, and leave no
    // staging or claimed dir behind.
    val t = table()
    Snapshots.mergeCommit(spark,
      Seq((1, "a", 1L)).toDF("k", "s", "ver"), t, Seq("k"), "ver") // v=0
    var innerV = -1
    Snapshots.onMergeBeforeClaim = () => {
      Snapshots.onMergeBeforeClaim = () => () // inner run races no one
      innerV = Snapshots.mergeCommit(spark,
        Seq((2, "winner", 1L)).toDF("k", "s", "ver"), t, Seq("k"), "ver")
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        Snapshots.mergeCommit(spark,
          Seq((1, "loser", 2L)).toDF("k", "s", "ver"), t, Seq("k"), "ver")
      }
    } finally Snapshots.onMergeBeforeClaim = () => ()
    assert(innerV == 1)
    assert(Snapshots.versions(t) == Seq(0, 1))
    // loser left nothing: no claimed v=2 slot, no .merge-* staging
    val leftovers = new java.io.File(t).listFiles().map(_.getName).toSet
    assert(leftovers == Set("v=0", "v=1"), s"orphan dirs: $leftovers")
    // winner's merge is the visible state (base ⊕ winner, loser absent)
    val latest = Snapshots.read(spark, t).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(latest == Map(1 -> "a", 2 -> "winner"))
    // loser retries from the new base and lands cleanly as v=2
    assert(Snapshots.mergeCommit(spark,
      Seq((1, "retry", 2L)).toDF("k", "s", "ver"), t, Seq("k"), "ver") == 2)
    assert(Snapshots.read(spark, t).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap ==
      Map(1 -> "retry", 2 -> "winner"))
  }

  test("vacuum drops old versions and abandoned claims, keeps the frontier") {
    val t = table()
    (0 to 3).foreach(i =>
      Snapshots.commit(Seq((i, s"v$i")).toDF("k", "s"), t)) // v0..v3
    // torn claim BELOW the frontier (abandoned writer) — reclaimable
    assert(new java.io.File(s"$t/v=1/_SUCCESS").delete())
    // torn claim ABOVE the frontier (in-flight writer) — untouchable
    assert(new java.io.File(s"$t/v=9").mkdir())
    val gone = Snapshots.vacuum(t, keepLast = 2)
    assert(gone == Seq(0, 1)) // v0 by retention, v1 as abandoned claim
    assert(Snapshots.versions(t) == Seq(2, 3))
    val left = new java.io.File(t).listFiles().map(_.getName).toSet
    assert(left == Set("v=2", "v=3", "v=9"), s"got $left")
    // latest still reads; vacuumed version is gone for time travel
    assert(Snapshots.read(spark, t).collect().head.getString(1) == "v3")
    intercept[IllegalArgumentException] {
      Snapshots.readVersion(spark, t, 0)
    }
  }

  test("changesBetween classifies inserts, updates and deletes (CDF)") {
    val t = table()
    Snapshots.commit(
      Seq((1, "a", 10), (2, "b", 10), (4, "keep", 10)).toDF("k", "s", "x"), t)
    Snapshots.commit(
      Seq((2, "b2", 11), (3, "c", 11), (4, "keep", 10)).toDF("k", "s", "x"), t)
    val ch = Snapshots.changesBetween(spark, t, 0, 1, Seq("k")).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getInt(2), r.getString(3)))
      .toMap
    assert(ch == Map(
      1 -> (("a", 10, "delete")),          // pre-image on delete
      2 -> (("b2", 11, "update_postimage")),
      3 -> (("c", 11, "insert"))))         // unchanged key 4 absent
  }

  test("schema evolution: CDF serves the TO schema, padding pre with nulls") {
    val t = table()
    // v0: (k, s); v1 ADDS column x
    Snapshots.commit(Seq((1, "a"), (2, "b")).toDF("k", "s"), t)
    Snapshots.commit(
      Seq((2, "b", 20), (3, "c", 30)).toDF("k", "s", "x"), t)
    val ch = Snapshots.changesBetween(spark, t, 0, 1, Seq("k"))
    assert(ch.schema.fieldNames.toSeq == Seq("k", "s", "x", "_change_type"))
    val m = ch.collect().map(r => r.getInt(0) ->
      (r.getString(1), if (r.isNullAt(2)) None else Some(r.getInt(2)),
        r.getString(3))).toMap
    assert(m == Map(
      1 -> (("a", None, "delete")),            // never had x: null pre-image
      2 -> (("b", Some(20), "update_postimage")), // null -> 20 IS a change
      3 -> (("c", Some(30), "insert"))))
  }

  test("a reader pinned to a version is isolated from later commits") {
    val t = table()
    Snapshots.commit(Seq((1, "old")).toDF("k", "s"), t)
    val pinned = Snapshots.readVersion(spark, t, 0)
    Snapshots.commit(Seq((1, "new")).toDF("k", "s"), t)
    // the pinned plan re-executes against version 0's immutable files
    assert(pinned.collect().head.getString(1) == "old")
  }

}
