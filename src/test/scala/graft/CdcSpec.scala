package graft

import org.apache.spark.sql.functions._
import graft.cdc.Cdc

/** Unit tests for the CDC core on hand-built frames (SURVEY §5.2):
  * out-of-order timestamps, tombstones, merge convergence.
  */
class CdcSpec extends SparkSuite {
  import spark.implicits._

  // (key, seq, op, payload) — seq plays the CDC timestamp
  private val log = Seq(
    ("a", 3L, "u", "a-v3"),
    ("a", 1L, "c", "a-v1"),
    ("a", 2L, "u", "a-v2"), // out of order: arrives after seq 3
    ("b", 1L, "c", "b-v1"),
    ("b", 2L, "d", "b-dead"), // tombstone is the latest for b
    ("c", 5L, "c", "c-v5")
  ).toDF("k", "seq", "op", "v")

  test("latestPerKey keeps the max-seq row regardless of arrival order") {
    val got = Cdc.latestPerKey(log, Seq("k"), Seq(col("seq").desc))
      .orderBy("k").collect()
    assert(got.map(r => (r.getString(0), r.getString(3))).toSeq ==
      Seq(("a", "a-v3"), ("b", "b-dead"), ("c", "c-v5")))
  }

  test("latestPerKey is idempotent") {
    val once = Cdc.latestPerKey(log, Seq("k"), Seq(col("seq").desc))
    val twice = Cdc.latestPerKey(once, Seq("k"), Seq(col("seq").desc))
    assert(once.orderBy("k", "seq").collect().toSeq ==
      twice.orderBy("k", "seq").collect().toSeq)
  }

  test("soft-delete filter drops tombstoned keys after compaction") {
    val state = Cdc.latestPerKey(log, Seq("k"), Seq(col("seq").desc))
      .filter(col("op") =!= "d")
    assert(state.select("k").as[String].collect().sorted.toSeq == Seq("a", "c"))
  }

  test("merge convergence: any split of the log yields the same state") {
    val full = Cdc.latestPerKey(log, Seq("k"), Seq(col("seq").desc))
      .orderBy("k").collect().toSeq
    for (cut <- 1L to 4L) {
      val target = Cdc.latestPerKey(log.filter(col("seq") < cut),
        Seq("k"), Seq(col("seq").desc))
      val source = log.filter(col("seq") >= cut)
      val merged = Cdc.latestPerKey(target.unionByName(source),
        Seq("k"), Seq(col("seq").desc))
      assert(merged.orderBy("k").collect().toSeq == full, s"cut=$cut")
    }
  }

  test("tie on the order column is broken deterministically by extra key") {
    val ties = Seq(("x", 1L, 10L, "first"), ("x", 1L, 20L, "second"))
      .toDF("k", "seq", "id", "v")
    val got = Cdc.latestPerKey(ties, Seq("k"),
      Seq(col("seq").desc, col("id").desc))
    assert(got.select("v").as[String].collect().toSeq == Seq("second"))
  }

  private def table() =
    java.nio.file.Files.createTempDirectory("cdcdiff").toString + "/t"

  test("changesBetween classifies inserts, updates and deletes (CDF)") {
    val t = table()
    sources.DeltaLog.commitOverwrite(
      Seq((1, "a", 10), (2, "b", 10), (4, "keep", 10)).toDF("k", "s", "x"), t)
    sources.DeltaLog.commitOverwrite(
      Seq((2, "b2", 11), (3, "c", 11), (4, "keep", 10)).toDF("k", "s", "x"), t)
    val ch = Cdc.changesBetween(spark, t, 0, 1, Seq("k")).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getInt(2), r.getString(3)))
      .toMap
    assert(ch == Map(
      1 -> (("a", 10, "delete")),          // pre-image on delete
      2 -> (("b2", 11, "update_postimage")),
      3 -> (("c", 11, "insert"))))         // unchanged key 4 absent
  }

  test("schema evolution: CDF serves the TO schema, padding pre with nulls") {
    import org.apache.spark.sql.types._
    val t = table()
    // v0: (k, s); v1 evolves the schema to add x; v2 writes x
    sources.DeltaLog.commitOverwrite(Seq((1, "a"), (2, "b")).toDF("k", "s"), t)
    sources.DeltaLog.evolveSchema(t, StructType(Seq(
      StructField("k", IntegerType), StructField("s", StringType),
      StructField("x", IntegerType))))
    sources.DeltaLog.commitOverwrite(
      Seq((2, "b", 20), (3, "c", 30)).toDF("k", "s", "x"), t)
    val ch = Cdc.changesBetween(spark, t, 0, 2, Seq("k"))
    assert(ch.schema.fieldNames.toSeq == Seq("k", "s", "x", "_change_type"))
    val m = ch.collect().map(r => r.getInt(0) ->
      (r.getString(1), if (r.isNullAt(2)) None else Some(r.getInt(2)),
        r.getString(3))).toMap
    assert(m == Map(
      1 -> (("a", None, "delete")),            // never had x: null pre-image
      2 -> (("b", Some(20), "update_postimage")), // null -> 20 IS a change
      3 -> (("c", Some(30), "insert"))))
  }
}
