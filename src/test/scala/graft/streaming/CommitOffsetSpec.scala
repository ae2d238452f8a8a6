package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The stream sources' offset JSON is the checkpoint format: a query
  * restarted on a new build must resume from what an old build wrote.
  * Delta sources key the commit as `version`, Iceberg sources as
  * `snapshotId`; the oldest checkpoints wrote a bare commit id. */
class CommitOffsetSpec extends AnyFunSuite {

  test("offset JSON round-trips both keys; bare legacy longs parse as fully consumed") {
    val cases = Seq(
      ("version", 0L, 0L), ("version", 7L, 3L),
      ("version", -1L, Long.MaxValue),
      ("snapshotId", 1L, 0L), ("snapshotId", 42L, 5L),
      ("snapshotId", 0L, Long.MaxValue))
    for ((key, commit, index) <- cases) {
      val json = s"""{"$key":$commit,"index":$index}"""
      val o = CommitOffset(key, commit, index)
      assert(o.json() == json)
      val back = CommitOffset.parse(key, json)
      assert((back.key, back.commitId, back.index) == (key, commit, index))
      assert(back.json() == json)
    }
    // legacy checkpoints: the bare commit id, whole-commit batches
    for (key <- Seq("version", "snapshotId"); bare <- Seq("-1", "0", "12", " 9 ")) {
      val o = CommitOffset.parse(key, bare)
      assert(o.commitId == bare.trim.toLong && o.index == Long.MaxValue,
        s"legacy '$bare' under $key must parse as fully consumed")
      assert(o.json() == s"""{"$key":${bare.trim},"index":${Long.MaxValue}}""")
    }
  }
}
