package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

/** The open Delta-log protocol reader/writer: logs written BY HAND
  * (raw JSON strings, not our own writer) must replay correctly —
  * that's what makes this a format test, not a round-trip tautology. */
class DeltaLogSpec extends SparkSuite {
  import spark.implicits._

  private def writeLog(dir: String, v: Long, lines: String*): Unit = {
    Files.createDirectories(Paths.get(s"$dir/_delta_log"))
    Files.write(Paths.get(f"$dir/_delta_log/$v%020d.json"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private val schemaJson =
    """{"type":"struct","fields":[
      |{"name":"k","type":"long","nullable":true,"metadata":{}},
      |{"name":"s","type":"string","nullable":true,"metadata":{}}]}"""
      .stripMargin.replace("\n", "")

  private def protocol =
    """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  private def metaData(partCols: String = "[]") =
    s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},
       |"schemaString":"${schemaJson.replace("\"", "\\\"")}",
       |"partitionColumns":$partCols,"configuration":{}}}"""
      .stripMargin.replace("\n", "")

  private def stagePart(dir: String, sub: String,
                        rows: Seq[(Long, String)]): String = {
    val tmp = Files.createTempDirectory("dlpart").toString + "/w"
    rows.toDF("k", "s").coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(dir, sub).getParent)
    Files.move(part.toPath, Paths.get(dir, sub))
    sub
  }

  test("hand-written log: adds, removes, version replay, time travel") {
    val dir = Files.createTempDirectory("dlog").toString
    val a = stagePart(dir, "a.parquet", Seq((1L, "one"), (2L, "two")))
    val b = stagePart(dir, "b.parquet", Seq((3L, "three")))
    val c = stagePart(dir, "c.parquet", Seq((4L, "four")))
    writeLog(dir, 0, protocol, metaData(),
      s"""{"add":{"path":"$a","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""",
      s"""{"add":{"path":"$b","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    // commit 1 removes file a, adds file c (and carries a commitInfo
    // the reader must ignore)
    writeLog(dir, 1,
      """{"commitInfo":{"operation":"WRITE"}}""",
      s"""{"remove":{"path":"$a","dataChange":true}}""",
      s"""{"add":{"path":"$c","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")

    assert(sources.DeltaLog.versions(dir) == Seq(0L, 1L))
    val v0 = sources.DeltaLog.readVersion(spark, dir, 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(v0 == Set((1L, "one"), (2L, "two"), (3L, "three")))
    val v1 = sources.DeltaLog.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(v1 == Set((3L, "three"), (4L, "four")),
      "remove action not honored or add missed")
    // schema comes from metaData, not footers
    assert(sources.DeltaLog.read(spark, dir).schema.fieldNames.toSeq ==
      Seq("k", "s"))
  }

  test("partition columns reconstruct from the log's partitionValues") {
    val dir = Files.createTempDirectory("dlogp").toString
    // data files carry ONLY k — s is a partition column whose value
    // exists nowhere but the log
    val tmp = Files.createTempDirectory("dlpart").toString + "/w"
    Seq(Tuple1(10L), Tuple1(11L)).toDF("k").coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(dir, "p0.parquet"))
    val tmp2 = Files.createTempDirectory("dlpart").toString + "/w"
    Seq(Tuple1(20L)).toDF("k").coalesce(1).write.parquet(tmp2)
    val part2 = new java.io.File(tmp2).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part2.toPath, Paths.get(dir, "p1.parquet"))

    writeLog(dir, 0, protocol, metaData("""["s"]"""),
      """{"add":{"path":"p0.parquet","partitionValues":{"s":"red"},"size":1,"modificationTime":0,"dataChange":true}}""",
      """{"add":{"path":"p1.parquet","partitionValues":{"s":"blue"},"size":1,"modificationTime":0,"dataChange":true}}""")
    val got = sources.DeltaLog.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((10L, "red"), (11L, "red"), (20L, "blue")))
    // declared column order: schema order, partition col restored last
    assert(sources.DeltaLog.read(spark, dir).schema.fieldNames.toSeq ==
      Seq("k", "s"))
  }

  test("identity columns (minWriterVersion 6): reads serve, ALL commits refuse") {
    // the r16 verdict's item 7, pinned as a PERMANENT refusal: this
    // engine does not implement identity-value high-water-mark
    // allocation, so a foreign identity-column table READS fine
    // (identity columns are ordinary data to a reader) but every
    // mutating commit — appends included, since the round-17 writer
    // gate — refuses loudly rather than corrupting the watermark.
    val dir = Files.createTempDirectory("dlogid").toString
    val a = stagePart(dir, "a.parquet", Seq((1L, "x"), (2L, "y")))
    val idSchema =
      """{"type":"struct","fields":[
        |{"name":"k","type":"long","nullable":true,"metadata":{
        |"delta.identity.start":1,"delta.identity.step":1,
        |"delta.identity.highWaterMark":2,
        |"delta.identity.allowExplicitInsert":false}},
        |{"name":"s","type":"string","nullable":true,"metadata":{}}]}"""
        .stripMargin.replace("\n", "")
    writeLog(dir, 0,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},
         |"schemaString":"${idSchema.replace("\"", "\\\"")}",
         |"partitionColumns":[],"configuration":{}}}"""
        .stripMargin.replace("\n", ""),
      s"""{"add":{"path":"$a","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    // reads serve
    assert(sources.DeltaLog.read(spark, dir).count() === 2)
    // appends refuse (blind add would skip watermark allocation)
    val ea = intercept[IllegalArgumentException](
      sources.DeltaLog.commitAppend(
        Seq((9L, "z")).toDF("k", "s"), dir))
    assert(ea.getMessage.contains("identity columns"))
    // row-removing commits refuse too
    val ed = intercept[IllegalArgumentException](
      sources.DeltaLog.deleteWhere(spark, dir, col("k") === 1))
    assert(ed.getMessage.contains("identity columns"))
  }

  test("unknown writerFeature refuses appends, known features append fine") {
    val dir = Files.createTempDirectory("dlogwf").toString
    val a = stagePart(dir, "a.parquet", Seq((1L, "x")))
    writeLog(dir, 0,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,
        |"writerFeatures":["rowTracking","appendOnly"]}}"""
        .stripMargin.replace("\n", ""),
      metaData(),
      s"""{"add":{"path":"$a","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    assert(sources.DeltaLog.read(spark, dir).count() === 1)
    val e = intercept[IllegalArgumentException](
      sources.DeltaLog.commitAppend(Seq((2L, "y")).toDF("k", "s"), dir))
    assert(e.getMessage.contains("rowTracking"))
    // a feature set this engine implements keeps appending
    val dir2 = Files.createTempDirectory("dlogwf2").toString
    val b = stagePart(dir2, "b.parquet", Seq((1L, "x")))
    writeLog(dir2, 0,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,
        |"writerFeatures":["invariants","changeDataFeed"]}}"""
        .stripMargin.replace("\n", ""),
      metaData(),
      s"""{"add":{"path":"$b","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    sources.DeltaLog.commitAppend(Seq((2L, "y")).toDF("k", "s"), dir2)
    assert(sources.DeltaLog.read(spark, dir2).count() === 2)
  }

  test("unsupported protocol version fails loudly, not silently wrong") {
    val dir = Files.createTempDirectory("dlogv").toString
    val a = stagePart(dir, "a.parquet", Seq((1L, "x")))
    writeLog(dir, 0,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}""",
      metaData(),
      s"""{"add":{"path":"$a","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    val e = intercept[IllegalArgumentException] {
      sources.DeltaLog.read(spark, dir)
    }
    assert(e.getMessage.contains("minReaderVersion"))
  }

  test("commitOverwrite commits replay as full table states") {
    // engine-written log: two overwrite commits
    val dir = Files.createTempDirectory("dlogw").toString + "/t"
    val v0 = sources.DeltaLog.commitOverwrite(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)
    val v1 = sources.DeltaLog.commitOverwrite(
      Seq((3L, "c")).toDF("k", "s"), dir)
    assert((v0, v1) == (0L, 1L))
    assert(sources.DeltaLog.readVersion(spark, dir, 0).count() == 2)
    assert(sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("empty table state (all files removed) reads as zero rows") {
    val dir = Files.createTempDirectory("dloge").toString
    val a = stagePart(dir, "a.parquet", Seq((1L, "x")))
    writeLog(dir, 0, protocol, metaData(),
      s"""{"add":{"path":"$a","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    writeLog(dir, 1, s"""{"remove":{"path":"$a","dataChange":true}}""")
    val df = sources.DeltaLog.read(spark, dir)
    assert(df.count() == 0)
    assert(df.schema.fieldNames.toSeq == Seq("k", "s"))
  }

  test("vacuum drops files outside the retention horizon, keeps the frontier") {
    val dir = Files.createTempDirectory("dlogvac").toString + "/t"
    sources.DeltaLog.commitOverwrite(Seq((1L, "a")).toDF("k", "s"), dir)
    sources.DeltaLog.commitOverwrite(Seq((2L, "b")).toDF("k", "s"), dir)
    sources.DeltaLog.commitOverwrite(Seq((3L, "c")).toDF("k", "s"), dir)
    // keep 2: version 0's files die, versions 1 and 2 stay readable
    val v0Files = sources.DeltaLog.replay(dir, 0).files.toSet
    val dead = sources.DeltaLog.vacuum(dir, 2)
    assert(dead.nonEmpty && dead.toSet == v0Files)
    dead.foreach(p => assert(!new java.io.File(dir, p).exists))
    assert(sources.DeltaLog.readVersion(spark, dir, 1)
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // the log itself survives (history auditable); a read past the
    // horizon fails on missing files, never silently returns wrong data
    assert(sources.DeltaLog.versions(dir) == Seq(0L, 1L, 2L))
    intercept[Exception] {
      sources.DeltaLog.readVersion(spark, dir, 0).collect()
    }
    // idempotent: nothing else to delete
    assert(sources.DeltaLog.vacuum(dir, 2).isEmpty)
  }

  test("racing commitOverwrites claim distinct versions, log replays clean") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = Files.createTempDirectory("dlograce").toString + "/t"
    sources.DeltaLog.commitOverwrite(Seq((0L, "base")).toDF("k", "s"), dir)
    // two writers race for version 1: the commit-file CAS must give
    // them DISTINCT versions (a rename-based publish would let one
    // silently clobber the other's commit file)
    val fa = Future(sources.DeltaLog.commitOverwrite(
      Seq((1L, "a")).toDF("k", "s"), dir))
    val fb = Future(sources.DeltaLog.commitOverwrite(
      Seq((2L, "b")).toDF("k", "s"), dir))
    val (va, vb) = (Await.result(fa, 120.seconds),
      Await.result(fb, 120.seconds))
    assert(Set(va, vb) == Set(1L, 2L), s"versions collided: $va, $vb")
    assert(sources.DeltaLog.versions(dir) == Seq(0L, 1L, 2L))
    // overwrite chain holds: the final state is exactly the LAST
    // committer's rows (the loser recomputed its removes against the
    // winner's state), and every version stays readable
    val last = sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    assert(last == Seq(if (va == 2L) 1L else 2L))
    (0L to 2L).foreach { v =>
      assert(sources.DeltaLog.readVersion(spark, dir, v).count() == 1)
    }
  }

  test("checkpoint seeds replay: only the JSON tail is read, answers equal") {
    val dir = Files.createTempDirectory("dlogc").toString + "/t"
    (1 to 8).foreach { i =>
      sources.DeltaLog.commitOverwrite(
        Seq((i.toLong, s"v$i")).toDF("k", "s"), dir)
    }
    // pure-JSON baseline: reading v7 replays all 8 commits
    val before = sources.DeltaLog.read(spark, dir).collect()
    assert(sources.DeltaLog.lastJsonCommitsRead == 8)
    val cv = sources.DeltaLog.checkpoint(spark, dir)
    assert(cv == 7L)
    // two more commits after the checkpoint
    sources.DeltaLog.commitOverwrite(Seq((9L, "v9")).toDF("k", "s"), dir)
    sources.DeltaLog.commitOverwrite(Seq((10L, "v10")).toDF("k", "s"), dir)
    val got = sources.DeltaLog.read(spark, dir).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(10L))
    assert(sources.DeltaLog.lastJsonCommitsRead == 2,
      s"checkpoint-seeded replay read ${sources.DeltaLog.lastJsonCommitsRead}" +
        " JSON commits; expected only the post-checkpoint tail")
    // state AT the checkpoint version equals the pure-JSON answer
    val atCkpt = sources.DeltaLog.readVersion(spark, dir, 7).collect()
    assert(atCkpt.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      before.map(r => (r.getLong(0), r.getString(1))).toSeq)
    assert(sources.DeltaLog.lastJsonCommitsRead == 0,
      "reading the checkpointed version itself needs no JSON commits")
    // driver-metadata bound: the seed collects one row per live
    // action (files + protocol + metaData), never data rows
    val liveFiles = sources.DeltaLog.replay(dir, 7).files.size
    assert(sources.DeltaLog.lastCheckpointRowsCollected == liveFiles + 2,
      s"checkpoint seed collected " +
        s"${sources.DeltaLog.lastCheckpointRowsCollected} rows for " +
        s"$liveFiles live files — must be O(files) metadata")
    // time travel BEFORE the checkpoint falls back to full JSON replay
    assert(sources.DeltaLog.readVersion(spark, dir, 2)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(sources.DeltaLog.lastJsonCommitsRead == 3)
    // the checkpoint parquet carries the spec's column shape
    val ckpt = spark.read.parquet(
      s"$dir/_delta_log/${"%020d".format(7)}.checkpoint.parquet")
    assert(ckpt.schema.fieldNames.toSet ==
      Set("protocol", "metaData", "add", "txn"))
    assert(ckpt.select("add.path").na.drop().count() == 1)
  }

  test("readWhere prunes files before the scan; unpartitioned fails loudly") {
    val dir = Files.createTempDirectory("dlogrw").toString
    val tmp = Files.createTempDirectory("dlpart").toString + "/w"
    Seq(Tuple1(10L), Tuple1(11L)).toDF("k").coalesce(1).write.parquet(tmp)
    Files.move(new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath,
      Paths.get(dir, "p0.parquet"))
    val tmp2 = Files.createTempDirectory("dlpart").toString + "/w"
    Seq(Tuple1(20L)).toDF("k").coalesce(1).write.parquet(tmp2)
    Files.move(new java.io.File(tmp2).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath,
      Paths.get(dir, "p1.parquet"))
    writeLog(dir, 0, protocol, metaData("""["s"]"""),
      """{"add":{"path":"p0.parquet","partitionValues":{"s":"red"},"size":1,"modificationTime":0,"dataChange":true}}""",
      """{"add":{"path":"p1.parquet","partitionValues":{"s":"blue"},"size":1,"modificationTime":0,"dataChange":true}}""")
    val got = sources.DeltaLog.readWhere(spark, dir)(
      pv => pv.get("s").contains("red"))
    assert(sources.DeltaLog.lastFilesScanned == 1,
      "pruning must drop the blue file before the scan is built")
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((10L, "red"), (11L, "red")))

    // unpartitioned: nothing to prune on — loud, never a silent full scan
    val dir2 = Files.createTempDirectory("dlogrw2").toString
    val a = stagePart(dir2, "a.parquet", Seq((1L, "x")))
    writeLog(dir2, 0, protocol, metaData(),
      s"""{"add":{"path":"$a","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    val e = intercept[IllegalArgumentException] {
      sources.DeltaLog.readWhere(spark, dir2)(_ => true)
    }
    assert(e.getMessage.contains("unpartitioned"))
  }

  test("JSON-null partition value reconstructs as NULL, not the string 'null'") {
    val dir = Files.createTempDirectory("dlognull").toString
    val tmp = Files.createTempDirectory("dlpart").toString + "/w"
    Seq(Tuple1(7L)).toDF("k").coalesce(1).write.parquet(tmp)
    Files.move(new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath,
      Paths.get(dir, "pn.parquet"))
    writeLog(dir, 0, protocol, metaData("""["s"]"""),
      """{"add":{"path":"pn.parquet","partitionValues":{"s":null},"size":1,"modificationTime":0,"dataChange":true}}""")
    val row = sources.DeltaLog.read(spark, dir).collect().head
    assert(row.getLong(0) == 7L)
    assert(row.isNullAt(1), "the spec encodes a NULL partition value " +
      "as JSON null; it must not round-trip to the string \"null\"")
  }

  test("append commits accumulate; compact rewrites layout, not rows") {
    val dir = Files.createTempDirectory("dlogac").toString + "/t"
    sources.DeltaLog.commitAppend(Seq((1L, "a")).toDF("k", "s"), dir)
    sources.DeltaLog.commitAppend(Seq((2L, "b")).toDF("k", "s"), dir)
    sources.DeltaLog.commitAppend(Seq((3L, "c")).toDF("k", "s"), dir)
    assert(sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    val preFiles = sources.DeltaLog.replay(dir, 2L).files
    assert(preFiles.size >= 3)
    val cv = sources.DeltaLog.compact(spark, dir, targetFiles = 1)
    assert(cv == 3L)
    // same rows, fewer files
    assert(sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(sources.DeltaLog.replay(dir, cv).files.size == 1)
    // the compaction commit is remove+add with dataChange=false
    val lines = Files.readAllLines(
      Paths.get(f"$dir/_delta_log/$cv%020d.json")).toArray.mkString("\n")
    assert(lines.contains("\"remove\"") && lines.contains("\"add\""))
    assert(!lines.contains("\"dataChange\":true"),
      "OPTIMIZE must mark every action dataChange=false")
    // pre-compaction version still time-travels; vacuum(1) reclaims it
    assert(sources.DeltaLog.readVersion(spark, dir, cv - 1)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    val dead = sources.DeltaLog.vacuum(dir, 1)
    assert(dead.toSet == preFiles.toSet)
    assert(sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("external-client checkpoint: by-name fields, multi-part, real tail") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("dlogx").toString
    val a = stagePart(dir, "a.parquet", Seq((1L, "one")))
    val b = stagePart(dir, "b.parquet", Seq((2L, "two")))
    val c = stagePart(dir, "c.parquet", Seq((3L, "three")))
    writeLog(dir, 0, protocol, metaData(),
      s"""{"add":{"path":"$a","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    writeLog(dir, 1,
      s"""{"add":{"path":"$b","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    // checkpoint at v1 in a REAL client's shape: metaData carries
    // name/description BEFORE schemaString (the ordinal trap), add
    // carries a stats field; split across TWO parts as _last_checkpoint
    // declares. An ordinal reader would parse "WRONG" as the schema.
    val metaT = StructType(Seq(
      StructField("id", StringType), StructField("name", StringType),
      StructField("description", StringType),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType))))
    val addT = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType)))
    val protoT = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType)))
    val ckptT = StructType(Seq(
      StructField("protocol", protoT, nullable = true),
      StructField("metaData", metaT, nullable = true),
      StructField("add", addT, nullable = true)))
    val schemaJsonPlain = schemaJson
    def writePart(rows: Seq[Row], name: String): Unit = {
      val tmp = Files.createTempDirectory("ckpt").toString + "/w"
      spark.createDataFrame(rows.asJava, ckptT).coalesce(1)
        .write.parquet(tmp)
      Files.move(new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath,
        Paths.get(s"$dir/_delta_log/$name"))
    }
    writePart(Seq(
      Row(Row(1, 2), null, null),
      Row(null, Row("id0", "WRONG", "ALSO WRONG", schemaJsonPlain,
        Seq.empty[String]), null)),
      f"${1L}%020d.checkpoint.${1}%010d.${2}%010d.parquet")
    writePart(Seq(
      Row(null, null, Row(a, Map.empty[String, String], 9L, 0L, true,
        """{"numRecords":1}""")),
      Row(null, null, Row(b, Map.empty[String, String], 9L, 0L, true,
        """{"numRecords":1}"""))),
      f"${1L}%020d.checkpoint.${2}%010d.${2}%010d.parquet")
    Files.write(Paths.get(s"$dir/_delta_log/_last_checkpoint"),
      """{"version":1,"size":4,"parts":2}""".getBytes("UTF-8"))
    // one post-checkpoint commit — the only JSON the read may touch
    writeLog(dir, 2,
      s"""{"add":{"path":"$c","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    val got = sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L))
    assert(sources.DeltaLog.lastJsonCommitsRead == 1,
      "multi-part checkpoint must seed the replay; only v2 JSON read")
  }

  test("unrecognized checkpoint shape falls back to pure-JSON replay") {
    val dir = Files.createTempDirectory("dlogbad").toString
    val a = stagePart(dir, "a.parquet", Seq((1L, "x")))
    writeLog(dir, 0, protocol, metaData(),
      s"""{"add":{"path":"$a","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    writeLog(dir, 1, """{"commitInfo":{"operation":"NOOP"}}""")
    // a checkpoint parquet with none of the spec's columns
    val tmp = Files.createTempDirectory("ckptbad").toString + "/w"
    Seq(Tuple1("garbage")).toDF("foo").coalesce(1).write.parquet(tmp)
    Files.move(new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath,
      Paths.get(s"$dir/_delta_log/${"%020d".format(1)}.checkpoint.parquet"))
    Files.write(Paths.get(s"$dir/_delta_log/_last_checkpoint"),
      """{"version":1,"size":1}""".getBytes("UTF-8"))
    val got = sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L), "bad checkpoint must not change the answer")
    assert(sources.DeltaLog.lastJsonCommitsRead == 2,
      "fallback replays the full JSON log")
  }

  test("engine checkpoints carry the log's real file sizes") {
    val dir = Files.createTempDirectory("dlogsz").toString + "/t"
    sources.DeltaLog.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)
    val cv = sources.DeltaLog.checkpoint(spark, dir)
    val sizes = spark.read.parquet(
        s"$dir/_delta_log/${"%020d".format(cv)}.checkpoint.parquet")
      .select("add.size").na.drop().collect().map(_.getLong(0))
    assert(sizes.nonEmpty && sizes.forall(_ > 0),
      "checkpoint add rows must carry the real sizes from the log, " +
        "not placeholder zeros")
  }

  test("CDF: inserts/deletes per commit, OPTIMIZE invisible, vacuum loud") {
    val dir = Files.createTempDirectory("dlogcdf").toString + "/t"
    sources.DeltaLog.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)
    sources.DeltaLog.commitAppend(Seq((3L, "c")).toDF("k", "s"), dir)
    sources.DeltaLog.commitOverwrite(Seq((4L, "d")).toDF("k", "s"), dir)
    sources.DeltaLog.compact(spark, dir, targetFiles = 1)
    def changes(from: Long, to: Long) =
      sources.DeltaLog.readChanges(spark, dir, from, to)
        .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
        .toSet
    // full history: every append/overwrite row, NOTHING from the
    // dataChange=false compaction at v3
    assert(changes(0, 3) == Set(
      (1L, "insert", 0L), (2L, "insert", 0L), (3L, "insert", 1L),
      (4L, "insert", 2L),
      (1L, "delete", 2L), (2L, "delete", 2L), (3L, "delete", 2L)))
    // a sub-range sees only its commits
    assert(changes(1, 1) == Set((3L, "insert", 1L)))
    assert(changes(3, 3) == Set.empty, "OPTIMIZE must contribute no changes")
    // change columns ride behind the table schema
    assert(sources.DeltaLog.readChanges(spark, dir, 0, 0)
      .schema.fieldNames.toSeq == Seq("k", "s", "_change_type", "_commit_version"))
    // vacuumed range: the delete's source file is gone — loud failure
    sources.DeltaLog.vacuum(dir, 1)
    val e = intercept[Exception] {
      sources.DeltaLog.readChanges(spark, dir, 0, 3).collect()
    }
    assert(e.getMessage.contains("vacuumed") ||
      e.getMessage.contains("gone"))
  }

  test("CDF attributes a removed file's partition values from the log") {
    val dir = Files.createTempDirectory("dlogcdfp").toString
    val tmp = Files.createTempDirectory("dlpart").toString + "/w"
    Seq(Tuple1(10L), Tuple1(11L)).toDF("k").coalesce(1).write.parquet(tmp)
    Files.move(new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath,
      Paths.get(dir, "p0.parquet"))
    val tmp2 = Files.createTempDirectory("dlpart").toString + "/w"
    Seq(Tuple1(20L)).toDF("k").coalesce(1).write.parquet(tmp2)
    Files.move(new java.io.File(tmp2).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath,
      Paths.get(dir, "p1.parquet"))
    writeLog(dir, 0, protocol, metaData("""["s"]"""),
      """{"add":{"path":"p0.parquet","partitionValues":{"s":"red"},"size":1,"modificationTime":0,"dataChange":true}}""")
    // the remove action carries NO partitionValues — they must come
    // from the replayed state at the removing commit
    writeLog(dir, 1,
      """{"remove":{"path":"p0.parquet","dataChange":true}}""",
      """{"add":{"path":"p1.parquet","partitionValues":{"s":"blue"},"size":1,"modificationTime":0,"dataChange":true}}""")
    val got = sources.DeltaLog.readChanges(spark, dir, 1, 1)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      (10L, "red", "delete", 1L), (11L, "red", "delete", 1L),
      (20L, "blue", "insert", 1L)))
  }

  test("changesSince: versions are offsets, each commit consumed exactly once") {
    val dir = Files.createTempDirectory("dlogcs").toString + "/t"
    sources.DeltaLog.commitAppend(Seq((1L, "a")).toDF("k", "s"), dir)
    sources.DeltaLog.commitAppend(Seq((2L, "b")).toDF("k", "s"), dir)
    // first poll from the beginning
    val (c1, off1) = sources.DeltaLog.changesSince(spark, dir, -1L)
    assert(off1 == 1L)
    assert(c1.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // nothing new: empty frame, offset unchanged, schema intact
    val (c2, off2) = sources.DeltaLog.changesSince(spark, dir, off1)
    assert(off2 == 1L && c2.count() == 0)
    assert(c2.schema.fieldNames.toSeq ==
      Seq("k", "s", "_change_type", "_commit_version"))
    // two more commits land; the next poll sees exactly those
    sources.DeltaLog.commitAppend(Seq((3L, "c")).toDF("k", "s"), dir)
    sources.DeltaLog.commitAppend(Seq((4L, "d")).toDF("k", "s"), dir)
    val (c3, off3) = sources.DeltaLog.changesSince(spark, dir, off2)
    assert(off3 == 3L)
    assert(c3.collect().map(r => (r.getLong(0), r.getLong(3))).toSet ==
      Set((3L, 2L), (4L, 3L)))
    // an offset ahead of the log is a consumer bug — loud
    intercept[IllegalArgumentException] {
      sources.DeltaLog.changesSince(spark, dir, 99L)
    }
  }

  test("consumeChanges: exactly-once across a planted crash at the offset window") {
    val dir = Files.createTempDirectory("dlogcc").toString + "/t"
    val work = Files.createTempDirectory("dlogccw").toString
    sources.DeltaLog.commitAppend(Seq((1L, "a")).toDF("k", "s"), dir)
    sources.DeltaLog.commitAppend(Seq((2L, "b")).toDF("k", "s"), dir)
    def sinkKeys: Seq[Long] = spark.read.parquet(s"$work/sink")
      .collect().map(_.getLong(0)).sorted.toSeq
    // first poll lands both commits, offset persists
    assert(sources.DeltaLog.consumeChanges(spark, dir, work) == 1L)
    assert(sinkKeys == Seq(1L, 2L))
    // two more commits; CRASH after the sink write, before the offset
    sources.DeltaLog.commitAppend(Seq((3L, "c")).toDF("k", "s"), dir)
    intercept[RuntimeException] {
      sources.DeltaLog.consumeChanges(spark, dir, work,
        _ => throw new RuntimeException("planted crash before offset"))
    }
    // the sink already holds commit 2's rows, but the offset is stale
    assert(sinkKeys == Seq(1L, 2L, 3L))
    // restart: commit 2 re-delivers and REPLACES its own partition —
    // no duplicates, offset advances
    assert(sources.DeltaLog.consumeChanges(spark, dir, work) == 2L)
    assert(sinkKeys == Seq(1L, 2L, 3L))
    // quiet poll is a no-op; a later commit flows incrementally
    assert(sources.DeltaLog.consumeChanges(spark, dir, work) == 2L)
    sources.DeltaLog.commitAppend(Seq((4L, "d")).toDF("k", "s"), dir)
    assert(sources.DeltaLog.consumeChanges(spark, dir, work) == 3L)
    assert(sinkKeys == Seq(1L, 2L, 3L, 4L))
  }

  test("compactPartitioned: one file per partition, rows and values kept") {
    val dir = Files.createTempDirectory("dlogcp").toString + "/t"
    val df = (1L to 40L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
      .toDF("k", "s").repartition(4)
    sources.DeltaLog.commitOverwritePartitioned(df, dir, Seq("s"))
    val pre = sources.DeltaLog.replay(dir, 0L)
    assert(pre.adds.size > 2, "need multiple files per partition to compact")
    val cv = sources.DeltaLog.compactPartitioned(spark, dir)
    val post = sources.DeltaLog.replay(dir, cv)
    // exactly one file per live partition, values preserved on the adds
    val byPart = post.addPartitionValues.groupBy(_._2("s"))
    assert(byPart.keySet == Set("even", "odd"))
    assert(byPart.values.forall(_.size == 1),
      s"per-partition file counts: ${byPart.view.mapValues(_.size).toMap}")
    // same rows, and a partition predicate prunes to the single file
    assert(sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == (1L to 40L))
    val odd = sources.DeltaLog.readWhere(spark, dir)(
      pv => pv.get("s").contains("odd"))
    assert(sources.DeltaLog.lastFilesScanned == 1)
    assert(odd.collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 40L).filter(_ % 2 == 1))
    // the commit is remove+add, all dataChange=false
    val lines = Files.readAllLines(
      Paths.get(f"$dir/_delta_log/$cv%020d.json")).toArray.mkString("\n")
    assert(lines.contains("\"remove\"") && !lines.contains("\"dataChange\":true"))
    // an unpartitioned commit on the partitioned table would write
    // adds without partitionValues — refused loudly
    val e = intercept[IllegalArgumentException] {
      sources.DeltaLog.commitOverwrite(
        (1L to 3L).map(i => (i, "x")).toDF("k", "s"), dir)
    }
    assert(e.getMessage.contains("PARTITIONED"))
  }

  test("mergeInto: matched keys update, new keys insert, rest untouched") {
    val dir = Files.createTempDirectory("dlogm").toString + "/t"
    sources.DeltaLog.commitOverwrite(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"), dir)
    val mv = sources.DeltaLog.mergeInto(spark, dir,
      Seq((2L, "B2"), (9L, "new")).toDF("k", "s"), Seq("k"))
    assert(mv == 1L)
    val got = sources.DeltaLog.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "B2"), (3L, "c"), (9L, "new")))
    // pre-merge state still time-travels
    assert(sources.DeltaLog.readVersion(spark, dir, 0).count() == 3)
  }

  test("deleteWhere/deleteWhereKeys prune the scan by stats bounds") {
    val dir = Files.createTempDirectory("dlogdp").toString + "/t"
    Seq(1L to 5L, 6L to 10L, 11L to 15L, 16L to 20L).foreach(r =>
      sources.DeltaLog.commitAppend(
        r.map(i => (i, s"s$i")).toDF("k", "s").coalesce(1), dir))
    // a range predicate provably misses three files — only the
    // intersecting one scans (and only it grows a deletion vector)
    sources.DeltaLog.deleteWhere(spark, dir,
      col("k") >= 7L && col("k") <= 8L)
    assert(sources.DeltaLog.lastDeleteFilesScanned == 1,
      s"expected 1 file scanned, got " +
        s"${sources.DeltaLog.lastDeleteFilesScanned}")
    // a key-set delete prunes by the keys' [min,max]
    sources.DeltaLog.deleteWhereKeys(spark, dir, "k",
      Seq(12L, 14L).toDF("k"))
    assert(sources.DeltaLog.lastDeleteFilesScanned == 1)
    val got = sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (1L to 20L).filterNot(Set(7L, 8L, 12L, 14L)),
      s"pruned deletes must still delete exactly their rows: $got")
    // an unprunable predicate scans everything (superset contract)
    sources.DeltaLog.deleteWhere(spark, dir,
      org.apache.spark.sql.functions.pmod(col("k"),
        org.apache.spark.sql.functions.lit(19L)) === 0)
    assert(sources.DeltaLog.lastDeleteFilesScanned == 4)
  }

  test("mergeInto is FILE-PRUNED: only files holding matched keys rewrite") {
    val dir = Files.createTempDirectory("dlogmp2").toString + "/t"
    // four appends = four disjoint-key files; the merge matches keys
    // in exactly ONE of them
    Seq(1L to 5L, 6L to 10L, 11L to 15L, 16L to 20L).foreach(r =>
      sources.DeltaLog.commitAppend(
        r.map(i => (i, s"s$i")).toDF("k", "s").coalesce(1), dir))
    val pre = sources.DeltaLog.replay(dir,
      sources.DeltaLog.versions(dir).last).files.toSet
    sources.DeltaLog.mergeInto(spark, dir,
      Seq((7L, "M7"), (9L, "M9"), (21L, "M21")).toDF("k", "s"),
      Seq("k"))
    assert(sources.DeltaLog.lastMergeFilesRewritten == 1 &&
      sources.DeltaLog.lastMergeFilesTotal == 4,
      s"expected 1/4 files rewritten, got " +
        s"${sources.DeltaLog.lastMergeFilesRewritten}/" +
        s"${sources.DeltaLog.lastMergeFilesTotal}")
    val post = sources.DeltaLog.replay(dir,
      sources.DeltaLog.versions(dir).last).files.toSet
    // the three untouched files carry over by IDENTITY — no rewrite
    assert((pre intersect post).size == 3,
      s"untouched files must survive: pre=$pre post=$post")
    val got = sources.DeltaLog.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = (1L to 20L).map(i => (i, s"s$i")).toMap ++
      Map(7L -> "M7", 9L -> "M9", 21L -> "M21")
    assert(got == want.toSet.map((kv: (Long, String)) => (kv._1, kv._2)))
    // and a merge into DV-masked files folds the mask: delete k=11,
    // then merge k=12 — the rewritten third file must NOT resurrect 11
    sources.DeltaLog.deleteWhere(spark, dir, col("k") === 11L)
    sources.DeltaLog.mergeInto(spark, dir,
      Seq((12L, "M12")).toDF("k", "s"), Seq("k"))
    assert(sources.DeltaLog.lastMergeFilesRewritten == 1)
    val got2 = sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(!got2.contains(11L) && got2.count(_ == 12L) == 1)
  }

  test("bloom sidecar prunes scattered-key deletes where min/max cannot") {
    val dir = Files.createTempDirectory("dlogbl").toString + "/t"
    // 8 interleaved files: file i holds keys ≡ i (mod 8), so every
    // file's [min,max] spans ~the whole domain and range pruning can
    // prove nothing — the exact shape a hash-distributed CDC key
    // batch meets at 100 TB
    def slice(i: Long) = (0L until 100L).map(j => i + 8 * j)
      .map(kk => (kk, s"s$kk")).toDF("k", "s").coalesce(1)
    sources.DeltaLog.commitAppend(slice(0), dir)
    sources.DeltaLog.setTableProperties(dir,
      Map(sources.DeltaLog.BloomColsProp -> "k"))
    (1L to 7L).foreach(i =>
      sources.DeltaLog.commitAppend(slice(i), dir))
    // file 0 predates the property — backfill blooms exactly it
    assert(sources.DeltaLog.bloomBackfill(spark, dir) == 1)
    assert(sources.DeltaLog.bloomBackfill(spark, dir) == 0)
    // scattered keys 3 and 11 live in ONE file (i=3); the bloom
    // probe must scan ~1 of 8 where min/max keeps all 8
    sources.DeltaLog.deleteWhereKeys(spark, dir, "k",
      Seq(3L, 11L).toDF("k"))
    assert(sources.DeltaLog.lastDeleteFilesScanned <= 2,
      s"bloom should prune to ~1 of 8 files, scanned " +
        s"${sources.DeltaLog.lastDeleteFilesScanned}")
    val got = sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(!got.contains(3L) && !got.contains(11L) &&
      got.size == 798,
      "bloom pruning must not change which rows delete")
    // point-equality deleteWhere on the bloomed column prunes too
    sources.DeltaLog.deleteWhere(spark, dir, col("k") === 19L)
    assert(sources.DeltaLog.lastDeleteFilesScanned <= 2,
      s"eq-conjunct bloom probe: scanned " +
        s"${sources.DeltaLog.lastDeleteFilesScanned}")
    assert(sources.DeltaLog.read(spark, dir).count() == 797)
    // a key NO file holds scans zero files and deletes nothing
    sources.DeltaLog.deleteWhereKeys(spark, dir, "k",
      Seq(123456789L).toDF("k"))
    assert(sources.DeltaLog.lastDeleteFilesScanned == 0)
    assert(sources.DeltaLog.read(spark, dir).count() == 797)
    // the MERGE probe rides the same bloom: a scattered upsert key
    // (27 ≡ 3 mod 8, file 3) scans ~1 of 8 where min/max keeps all
    sources.DeltaLog.mergeInto(spark, dir,
      Seq((27L, "M27")).toDF("k", "s"), Seq("k"))
    assert(sources.DeltaLog.lastMergeFilesScanned <= 2,
      s"merge bloom probe: scanned " +
        s"${sources.DeltaLog.lastMergeFilesScanned} of " +
        s"${sources.DeltaLog.lastMergeFilesTotal}")
    assert(sources.DeltaLog.read(spark, dir)
      .filter(col("k") === 27L).collect().map(_.getString(1)).toSeq ==
      Seq("M27"))
    // sidecar maintenance: the merge rewrote file 3, so its old
    // bloom rows are garbage — compact drops them, probes stay exact
    assert(sources.DeltaLog.bloomCompact(spark, dir) > 0L)
    sources.DeltaLog.deleteWhereKeys(spark, dir, "k",
      Seq(27L).toDF("k"))
    assert(sources.DeltaLog.lastDeleteFilesScanned <= 2)
    assert(sources.DeltaLog.read(spark, dir)
      .filter(col("k") === 27L).count() == 0)
  }

  test("bloom probe tolerates duplicated sidecar rows (compact crash window)") {
    // bloomCompact is stage-then-swap: a crash between the new part
    // landing and the old parts' delete leaves every live row
    // DUPLICATED. The probe's exact word-count filter must not read
    // a duplicate as a miss — a false negative silently UNdeletes.
    val dir = Files.createTempDirectory("dlbloomdup").toString + "/t"
    sources.DeltaLog.commitAppend(
      (0L until 100L by 2).map(i => (i, s"v$i")).toDF("k", "s")
        .coalesce(1), dir)
    sources.DeltaLog.setTableProperties(dir,
      Map("graft.bloomFilter.columns" -> "k"))
    sources.DeltaLog.commitAppend(
      (1L until 100L by 2).map(i => (i, s"v$i")).toDF("k", "s")
        .coalesce(1), dir)
    assert(sources.DeltaLog.bloomBackfill(spark, dir) == 1)
    // duplicate every sidecar part — the crash window's worst case
    val bloomDir = Paths.get(dir, "_bloom")
    Files.list(bloomDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .foreach { d =>
        val cp = bloomDir.resolve(d.getFileName.toString + "-dup")
        Files.createDirectories(cp)
        Files.list(d).toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(f => Files.copy(f, cp.resolve(f.getFileName)): Unit)
      }
    // key 3 lives in the odd file only: the probe must still HIT it
    // (delete lands) and still PRUNE the even file
    sources.DeltaLog.deleteWhereKeys(spark, dir, "k", Seq(3L).toDF("k"))
    assert(sources.DeltaLog.read(spark, dir)
      .filter(col("k") === 3L).count() == 0,
      "duplicated sidecar rows caused a FALSE NEGATIVE — row undeleted")
    assert(sources.DeltaLog.lastDeleteFilesScanned <= 1,
      s"scanned ${sources.DeltaLog.lastDeleteFilesScanned} of 2 — " +
        "pruning gone")
    assert(sources.DeltaLog.read(spark, dir).count() == 99)
  }

  test("mergeInto probe is STATS-BOUND: provably-missed files never scan") {
    val dir = Files.createTempDirectory("dlogmsb").toString + "/t"
    // four range-clustered files; the source's key [min,max] = [7,9]
    // intersects exactly one file's bounds
    Seq(1L to 5L, 6L to 10L, 11L to 15L, 16L to 20L).foreach(r =>
      sources.DeltaLog.commitAppend(
        r.map(i => (i, s"s$i")).toDF("k", "s").coalesce(1), dir))
    sources.DeltaLog.mergeInto(spark, dir,
      Seq((7L, "M7"), (9L, "M9")).toDF("k", "s"), Seq("k"))
    assert(sources.DeltaLog.lastMergeFilesTotal == 4 &&
      sources.DeltaLog.lastMergeFilesScanned == 1 &&
      sources.DeltaLog.lastMergeFilesRewritten == 1,
      s"expected probe ladder 4/1/1, got " +
        s"${sources.DeltaLog.lastMergeFilesTotal}/" +
        s"${sources.DeltaLog.lastMergeFilesScanned}/" +
        s"${sources.DeltaLog.lastMergeFilesRewritten}")
    val got = sources.DeltaLog.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == ((1L to 20L).map(i => (i, s"s$i")).toMap ++
      Map(7L -> "M7", 9L -> "M9")).toSet,
      "stats-bound pruning must not change the merge result")
    // an out-of-range insert-only source scans NOTHING and appends
    sources.DeltaLog.mergeInto(spark, dir,
      Seq((99L, "new")).toDF("k", "s"), Seq("k"))
    assert(sources.DeltaLog.lastMergeFilesScanned == 0 &&
      sources.DeltaLog.lastMergeFilesRewritten == 0)
    assert(sources.DeltaLog.read(spark, dir).count() == 21)
  }

  test("partitioned append + idempotent append carry partitionValues") {
    val dir = Files.createTempDirectory("dlogpa").toString + "/t"
    sources.DeltaLog.commitAppendPartitioned(
      Seq((1L, "a"), (2L, "b")).toDF("k", "p"), dir, Seq("p"))
    sources.DeltaLog.commitAppendPartitioned(
      Seq((3L, "a"), (4L, "c")).toDF("k", "p"), dir, Seq("p"))
    // partition columns reconstruct from the LOG across both commits
    assert(sources.DeltaLog.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "a"), (4L, "c")))
    // partition pruning composes with the appended files
    sources.DeltaLog.readWhere(spark, dir)(
      pv => pv.get("p").contains("a")).collect(): Unit
    assert(sources.DeltaLog.lastFilesScanned == 2)
    // the spec discipline: an UNPARTITIONED append (and a
    // wrong-spec one) refuses loudly instead of writing NULL adds
    intercept[IllegalArgumentException] {
      sources.DeltaLog.commitAppend(
        Seq((9L, "z")).toDF("k", "p"), dir)
    }
    intercept[IllegalArgumentException] {
      sources.DeltaLog.commitAppendPartitioned(
        Seq((9L, "z")).toDF("k", "p"), dir, Seq("k"))
    }
    // idempotent partitioned append: first lands, redelivery skips
    val v1 = sources.DeltaLog.commitAppendIdempotent(
      Seq((5L, "b")).toDF("k", "p"), dir, "app", 1L, Seq("p"))
    assert(v1.isDefined)
    assert(sources.DeltaLog.commitAppendIdempotent(
      Seq((5L, "b")).toDF("k", "p"), dir, "app", 1L, Seq("p")).isEmpty)
    assert(sources.DeltaLog.read(spark, dir)
      .filter(col("p") === "b").count() == 2)
  }

  test("partitioned mergeInto: prunes when keys cover partCols, never else") {
    val dir = Files.createTempDirectory("dlogpm").toString + "/t"
    // two partitions, two files each (disjoint key ranges per file)
    Seq(1L to 5L, 6L to 10L).foreach(r =>
      sources.DeltaLog.commitAppendPartitioned(
        r.flatMap(i => Seq((i, "x", s"s$i"), (i + 100, "y", s"t$i")))
          .toDF("k", "p", "s").repartition(1), dir, Seq("p")))
    // keys COVER partCols → only partition x's files are candidates
    sources.DeltaLog.mergeInto(spark, dir,
      Seq((3L, "x", "M3")).toDF("k", "p", "s"), Seq("k", "p"))
    assert(sources.DeltaLog.lastMergeFilesTotal == 2 &&
      sources.DeltaLog.lastMergeFilesScanned == 1 &&
      sources.DeltaLog.lastMergeFilesRewritten == 1,
      s"partition+stats pruning ladder: " +
        s"${sources.DeltaLog.lastMergeFilesTotal}/" +
        s"${sources.DeltaLog.lastMergeFilesScanned}/" +
        s"${sources.DeltaLog.lastMergeFilesRewritten}")
    val got = sources.DeltaLog.read(spark, dir)
      .filter(col("k") === 3L).collect()
      .map(r => (r.getString(1), r.getString(2))).toSet
    assert(got == Set(("x", "M3")),
      s"merged row must update in place with its partition: $got")
    // keys DON'T cover partCols: a matched key may live in any
    // partition — every file is a candidate, and a source row whose
    // partition value DIFFERS from the target's must MOVE the row
    // (update-all semantics), never duplicate the key
    val nFiles = sources.DeltaLog.replay(dir,
      sources.DeltaLog.versions(dir).last).files.size
    sources.DeltaLog.mergeInto(spark, dir,
      Seq((104L, "z", "moved")).toDF("k", "p", "s"), Seq("k"))
    assert(sources.DeltaLog.lastMergeFilesTotal == nFiles,
      "all partitions are candidates when keys don't cover partCols")
    val moved = sources.DeltaLog.read(spark, dir)
      .filter(col("k") === 104L).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(moved == Seq(("z", "moved")),
      s"key 104 must exist exactly once, in its new partition: $moved")
  }

  test("mergeInto whenMatchedDelete: tombstones retire, never insert") {
    val dir = Files.createTempDirectory("dlogwmd").toString + "/t"
    sources.DeltaLog.commitOverwrite(
      Seq((1L, "a", "live"), (2L, "b", "live"), (3L, "c", "live"))
        .toDF("k", "s", "op"), dir)
    sources.DeltaLog.setTableProperties(dir,
      Map("delta.enableChangeDataFeed" -> "true"))
    // one CDC batch: update k=1, tombstone k=2, tombstone for an
    // absent key (no-op), insert k=9
    val batch = Seq((1L, "A1", "u"), (2L, "b", "d"), (7L, "x", "d"),
      (9L, "n", "u")).toDF("k", "s", "op")
    val v = sources.DeltaLog.mergeInto(spark, dir, batch, Seq("k"),
      Some(col("op") === "d"))
    val got = sources.DeltaLog.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "A1"), (3L, "c"), (9L, "n")),
      s"one merge must apply upserts AND deletes: $got")
    // the change feed carries the delete pre-image alongside the
    // update pair and the insert
    val changes = sources.DeltaLog.readChanges(spark, dir, v, v)
      .select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(changes == Set((1L, "update_preimage"),
      (1L, "update_postimage"), (9L, "insert"), (2L, "delete")),
      s"CDF rows of the single-commit CDC batch: $changes")
  }

  test("add.stats data skipping: hand-written stats prune, statless never do") {
    val dir = Files.createTempDirectory("dlogst").toString
    val a = stagePart(dir, "a.parquet", Seq((1L, "x"), (5L, "y")))
    val b = stagePart(dir, "b.parquet", Seq((100L, "z")))
    val c = stagePart(dir, "c.parquet", Seq((7L, "w")))
    writeLog(dir, 0, protocol, metaData(),
      s"""{"add":{"path":"$a","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"stats":"{\\"numRecords\\":2,\\"minValues\\":{\\"k\\":1},\\"maxValues\\":{\\"k\\":5}}"}}""",
      s"""{"add":{"path":"$b","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"stats":"{\\"numRecords\\":1,\\"minValues\\":{\\"k\\":100},\\"maxValues\\":{\\"k\\":100}}"}}""",
      // file c carries NO stats — it must never prune
      s"""{"add":{"path":"$c","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    val got = sources.DeltaLog.readWhereStats(spark, dir,
      Seq(("k", 1L, 10L)))
    assert(sources.DeltaLog.lastFilesScanned == 2,
      "file b [100,100] must prune; statless c must survive")
    assert(got.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 5L, 7L))

    // engine round trip: commits record stats, pruning works, and a
    // checkpoint-seeded replay keeps them
    val dir2 = Files.createTempDirectory("dlogst2").toString + "/t"
    sources.DeltaLog.commitOverwrite(
      (1L to 80L).map(i => (i, s"s$i")).toDF("k", "s")
        .repartitionByRange(8, col("k")), dir2)
    sources.DeltaLog.readWhereStats(spark, dir2, Seq(("k", 1L, 10L)))
      .count()
    val scanned = sources.DeltaLog.lastFilesScanned
    assert(scanned < 8, s"range-clustered layout must prune, scanned $scanned")
    sources.DeltaLog.checkpoint(spark, dir2)
    sources.DeltaLog.commitAppend(Seq((1000L, "t")).toDF("k", "s"), dir2)
    val post = sources.DeltaLog.readWhereStats(spark, dir2,
      Seq(("k", 1L, 10L)))
    assert(sources.DeltaLog.lastFilesScanned == scanned,
      "stats must survive the checkpoint seed (new high-key file prunes)")
    assert(post.collect().map(_.getLong(0)).sorted.toSeq == (1L to 10L))
  }

  test("racing appenders: the log CAS decides order, every commit lands") {
    val dir = Files.createTempDirectory("dlograce").toString + "/t"
    sources.DeltaLog.commitOverwrite(
      Seq((0L, "base")).toDF("k", "s"), dir)
    val n = 4
    // all N appenders compute the same next version behind a barrier;
    // the hard-link CAS lets exactly one win each round and the
    // losers' retry loop re-claims until everyone lands
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
        s"each appender owns a distinct version, got $versions")
    } finally pool.shutdown()
    assert(sources.DeltaLog.versions(dir) == (0L to n.toLong),
      "versions must be contiguous — no torn or skipped commit")
    assert(sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == (0L to n.toLong),
      "every append lands exactly once")
    // no torn metadata: every version replays clean
    (0L to n.toLong).foreach(v => sources.DeltaLog.replay(dir, v))
  }

  test("partition-disjoint merges racing from one base both land internally") {
    import org.apache.spark.sql.functions.lit
    val dir = Files.createTempDirectory("dlconflict").toString + "/t"
    val base = (1L to 40L).map(i =>
      (i, s"s$i", if (i % 2 == 0) "a" else "b")).toDF("k", "s", "p")
    sources.DeltaLog.commitOverwritePartitioned(
      base.repartition(2), dir, Seq("p"))
    val srcA = (2L to 20L by 2).map(i => (i, "A", "a")).toDF("k", "s", "p")
    val srcB = (1L to 19L by 2).map(i => (i, "B", "b")).toDF("k", "s", "p")
    val retriesBefore = sources.DeltaLog.rowOpConflictRetries.get
    // plant merge-B inside merge-A's claim window: A loses the CAS,
    // must prove B disjoint (B's adds/removes live wholly in
    // partition b, A's source tuples name only a) and retry
    // INTERNALLY — the caller never sees the race
    val planted = new java.util.concurrent.atomic.AtomicBoolean(false)
    sources.DeltaLog.commitClaimHook = (d, _) =>
      if (planted.compareAndSet(false, true))
        sources.DeltaLog.mergeInto(spark, d, srcB, Seq("k", "p"))
    try sources.DeltaLog.mergeInto(spark, dir, srcA, Seq("k", "p"))
    finally sources.DeltaLog.commitClaimHook = (_, _) => ()
    assert(sources.DeltaLog.rowOpConflictRetries.get > retriesBefore,
      "the internal conflict-proving retry must surface in its seam")
    // BOTH merges' effects are visible — no lost update, no caller retry
    val got = sources.DeltaLog.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    (2L to 20L by 2).foreach(k => assert(got(k) == "A", s"k=$k"))
    (1L to 19L by 2).foreach(k => assert(got(k) == "B", s"k=$k"))
    (21L to 40L).foreach(k => assert(got(k) == s"s$k", s"k=$k"))
  }

  test("genuinely conflicting merges still abort loudly") {
    val dir = Files.createTempDirectory("dlconflict2").toString + "/t"
    val base = (1L to 40L).map(i =>
      (i, s"s$i", if (i % 2 == 0) "a" else "b")).toDF("k", "s", "p")
    sources.DeltaLog.commitOverwritePartitioned(
      base.repartition(2), dir, Seq("p"))
    // both touch partition a with overlapping keys: the winner's adds
    // can hold rows the loser matches — no disjointness proof exists
    val srcA = (2L to 20L by 2).map(i => (i, "A", "a")).toDF("k", "s", "p")
    val srcB = (2L to 12L by 2).map(i => (i, "B", "a")).toDF("k", "s", "p")
    val planted = new java.util.concurrent.atomic.AtomicBoolean(false)
    sources.DeltaLog.commitClaimHook = (d, _) =>
      if (planted.compareAndSet(false, true))
        sources.DeltaLog.mergeInto(spark, d, srcB, Seq("k", "p"))
    val e = try intercept[IllegalArgumentException] {
      sources.DeltaLog.mergeInto(spark, dir, srcA, Seq("k", "p"))
    } finally sources.DeltaLog.commitClaimHook = (_, _) => ()
    assert(e.getMessage.contains("recompute against the new state"),
      s"expected the loud conflict abort, got: ${e.getMessage}")
    // the winner's merge survives intact; the loser changed nothing
    val got = sources.DeltaLog.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    (2L to 12L by 2).foreach(k => assert(got(k) == "B", s"k=$k"))
    (14L to 20L by 2).foreach(k => assert(got(k) == s"s$k", s"k=$k"))
  }

  test("OPTIMIZE racing an append retries internally; racing delete aborts") {
    val dir = Files.createTempDirectory("dlconflict4").toString + "/t"
    sources.DeltaLog.commitOverwrite(
      (1L to 40L).map(i => (i, s"s$i")).toDF("k", "s")
        .repartition(4), dir)
    val retriesBefore = sources.DeltaLog.rowOpConflictRetries.get
    // an append landing inside the compaction's claim window never
    // conflicts: its files are not in the rewrite set — at 100 TB,
    // OPTIMIZE must not abort because ingest won a claim
    val planted = new java.util.concurrent.atomic.AtomicBoolean(false)
    sources.DeltaLog.commitClaimHook = (d, _) =>
      if (planted.compareAndSet(false, true))
        sources.DeltaLog.commitAppend(
          (41L to 45L).map(i => (i, s"w$i")).toDF("k", "s"), d)
    try sources.DeltaLog.compact(spark, dir, targetFiles = 1)
    finally sources.DeltaLog.commitClaimHook = (_, _) => ()
    assert(sources.DeltaLog.rowOpConflictRetries.get > retriesBefore)
    assert(sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == (1L to 45L),
      "compacted rows and the racing append both land exactly once")
    // a winner touching an INPUT file (DV delete) still aborts
    val planted2 = new java.util.concurrent.atomic.AtomicBoolean(false)
    sources.DeltaLog.commitClaimHook = (d, _) =>
      if (planted2.compareAndSet(false, true))
        sources.DeltaLog.deleteWhere(spark, d, col("k") === 3L)
    val e = try intercept[IllegalArgumentException] {
      sources.DeltaLog.compact(spark, dir, targetFiles = 1)
    } finally sources.DeltaLog.commitClaimHook = (_, _) => ()
    assert(e.getMessage.contains("recompute against the new state"))
    assert(sources.DeltaLog.read(spark, dir).count() == 44,
      "the winner's delete survives; the aborted OPTIMIZE changed " +
        "nothing")
  }

  test("range-disjoint DV deletes racing from one base both land internally") {
    val dir = Files.createTempDirectory("dlconflict3").toString + "/t"
    sources.DeltaLog.commitOverwrite(
      (1L to 100L).map(i => (i, s"s$i")).toDF("k", "s")
        .repartitionByRange(4, col("k")), dir)
    val retriesBefore = sources.DeltaLog.rowOpConflictRetries.get
    // range-clustered files: the low delete's predicate range and
    // the high delete's rewritten file stats provably miss each
    // other, so the lost CAS retries internally
    val planted = new java.util.concurrent.atomic.AtomicBoolean(false)
    sources.DeltaLog.commitClaimHook = (d, _) =>
      if (planted.compareAndSet(false, true))
        sources.DeltaLog.deleteWhere(spark, d, col("k") >= 91L)
    try sources.DeltaLog.deleteWhere(spark, dir, col("k") <= 10L)
    finally sources.DeltaLog.commitClaimHook = (_, _) => ()
    assert(sources.DeltaLog.rowOpConflictRetries.get > retriesBefore,
      "the internal conflict-proving retry must surface in its seam")
    assert(sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == (11L to 90L),
      "both deletes land exactly once, no lost update")
  }

  test("q190 gate shape: history classification covers the writer surface") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = Files.createTempDirectory("dloghist").toString + "/t"
    sources.DeltaLog.commitOverwrite(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)          // v0 CREATE
    sources.DeltaLog.commitAppend(
      Seq((3L, "c")).toDF("k", "s"), dir)                     // v1 WRITE
    sources.DeltaLog.commitOverwrite(
      (1L to 10L).map(i => (i, s"s$i")).toDF("k", "s"), dir)  // v2 OVERWRITE
    sources.DeltaLog.deleteWhere(spark, dir, col("k") % 2 === 0) // v3 DELETE
    sources.DeltaLog.compact(spark, dir, targetFiles = 1)     // v4 OPTIMIZE
    sources.DeltaLog.evolveSchema(dir, StructType(Seq(
      StructField("k", LongType), StructField("s", StringType),
      StructField("extra", LongType, nullable = true))))      // v5 SET SCHEMA
    val got = sources.DeltaLog.history(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq(0L -> "CREATE", 1L -> "WRITE", 2L -> "OVERWRITE",
      3L -> "DELETE", 4L -> "OPTIMIZE", 5L -> "SET SCHEMA"))
  }

  test("idempotent appends: the txn action makes redelivery invisible") {
    val dir = Files.createTempDirectory("dlogtxn").toString + "/t"
    def rows: Seq[Long] = sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    // first delivery of (app, 1) commits
    assert(sources.DeltaLog.commitAppendIdempotent(
      Seq((1L, "a")).toDF("k", "s"), dir, "app", 1L).contains(0L))
    // REDELIVERY of (app, 1) — a restarted micro-batch — is skipped:
    // no new version, no duplicate rows, no orphan data dirs
    assert(sources.DeltaLog.commitAppendIdempotent(
      Seq((1L, "a")).toDF("k", "s"), dir, "app", 1L).isEmpty)
    assert(sources.DeltaLog.versions(dir) == Seq(0L))
    assert(rows == Seq(1L))
    // the next batch and an unrelated app both land
    assert(sources.DeltaLog.commitAppendIdempotent(
      Seq((2L, "b")).toDF("k", "s"), dir, "app", 2L).contains(1L))
    assert(sources.DeltaLog.commitAppendIdempotent(
      Seq((3L, "c")).toDF("k", "s"), dir, "other", 1L).contains(2L))
    assert(rows == Seq(1L, 2L, 3L))
    assert(sources.DeltaLog.latestTxnVersion(dir, "app").contains(2L))
    assert(sources.DeltaLog.latestTxnVersion(dir, "other").contains(1L))
    assert(sources.DeltaLog.latestTxnVersion(dir, "nobody").isEmpty)
    // a STALE redelivery (version < watermark) is also skipped
    assert(sources.DeltaLog.commitAppendIdempotent(
      Seq((9L, "z")).toDF("k", "s"), dir, "app", 1L).isEmpty)
    assert(rows == Seq(1L, 2L, 3L))
    // RACING redelivery: the same transaction planted in the loser's
    // claim window — the loser must detect it on retry, clean its
    // orphan data files, and walk away with None
    val planted = new java.util.concurrent.atomic.AtomicBoolean(false)
    sources.DeltaLog.commitClaimHook = (d, _) =>
      if (planted.compareAndSet(false, true)) {
        val r = sources.DeltaLog.commitAppendIdempotent(
          Seq((4L, "d")).toDF("k", "s"), d, "app", 3L)
        assert(r.contains(3L))
      }
    try {
      assert(sources.DeltaLog.commitAppendIdempotent(
        Seq((4L, "d")).toDF("k", "s"), dir, "app", 3L).isEmpty)
    } finally sources.DeltaLog.commitClaimHook = (_, _) => ()
    assert(rows == Seq(1L, 2L, 3L, 4L), "exactly one copy of batch 3")
    // every data dir on disk is referenced by the log — the loser's
    // orphan was cleaned up
    val live = sources.DeltaLog.replay(dir,
      sources.DeltaLog.versions(dir).last).files
      .map(_.split('/').head).toSet
    val onDisk = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("part-"))
      .map(_.getName).toSet
    assert(onDisk == live, s"orphan data dirs: ${onDisk -- live}")
    // the txn watermark survives a checkpoint for EXTERNAL clients:
    // the checkpoint parquet carries one txn row per appId
    sources.DeltaLog.checkpoint(spark, dir)
    val ckpt = spark.read.parquet(
      f"$dir/_delta_log/${sources.DeltaLog.versions(dir).last}%020d.checkpoint.parquet")
    val txns = ckpt.filter(col("txn").isNotNull)
      .select(col("txn.appId"), col("txn.version"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(txns == Seq(("app", 3L), ("other", 1L)))
  }

  test("racing schema evolutions: the loser re-validates and refuses to clobber") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = Files.createTempDirectory("dlogevorace").toString + "/t"
    sources.DeltaLog.commitOverwrite(Seq((1L, "a")).toDF("k", "s"), dir)
    val base = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType)))
    // plant a competing evolution (adds column x) in the loser's
    // claim window; the loser (adds column y) must NOT blindly
    // rewrite the metaData — its schema lacks x, so committing it
    // would silently drop the racer's column
    val planted = new java.util.concurrent.atomic.AtomicBoolean(false)
    sources.DeltaLog.commitClaimHook = (d, _) =>
      if (planted.compareAndSet(false, true))
        sources.DeltaLog.evolveSchema(d, StructType(base.fields :+
          StructField("x", LongType, nullable = true)))
    try {
      val e = intercept[IllegalArgumentException] {
        sources.DeltaLog.evolveSchema(dir, StructType(base.fields :+
          StructField("y", LongType, nullable = true)))
      }
      assert(e.getMessage.contains("must keep column x"),
        s"the loser must refuse on the conflict, got: ${e.getMessage}")
    } finally sources.DeltaLog.commitClaimHook = (_, _) => ()
    // the racer's evolution survived untouched
    val st = sources.DeltaLog.replay(dir,
      sources.DeltaLog.versions(dir).last)
    assert(st.schema.fieldNames.toSeq == Seq("k", "s", "x"))
    // a COMPATIBLE retry (keeping x, adding y) then lands cleanly
    sources.DeltaLog.evolveSchema(dir, StructType(base.fields ++ Seq(
      StructField("x", LongType, nullable = true),
      StructField("y", LongType, nullable = true))))
    assert(sources.DeltaLog.replay(dir,
        sources.DeltaLog.versions(dir).last)
      .schema.fieldNames.toSeq == Seq("k", "s", "x", "y"))
  }

  test("losing the version CAS retries cleanly onto N+1 (deterministic planted race)") {
    val dir = Files.createTempDirectory("dlogplant").toString + "/t"
    sources.DeltaLog.commitOverwrite(
      Seq((0L, "base")).toDF("k", "s"), dir)
    val before = sources.DeltaLog.commitCasRetries.get
    // plant a competing commit in the exact window between the
    // loser's version computation and its CAS attempt — the hook is
    // reentrancy-guarded so the planted commit itself runs unraced
    val planted = new java.util.concurrent.atomic.AtomicBoolean(false)
    var plantedVersion = -1L
    sources.DeltaLog.commitClaimHook = (d, _) =>
      if (planted.compareAndSet(false, true))
        plantedVersion = sources.DeltaLog.commitAppend(
          Seq((100L, "racer")).toDF("k", "s"), d)
    try {
      val v = sources.DeltaLog.commitAppend(
        Seq((200L, "loser")).toDF("k", "s"), dir)
      assert(plantedVersion == 1L, "the planted racer claimed v1 first")
      assert(v == plantedVersion + 1,
        "the loser must recover onto exactly the next version")
    } finally sources.DeltaLog.commitClaimHook = (_, _) => ()
    assert(sources.DeltaLog.commitCasRetries.get >= before + 1,
      "the loser's lost CAS must be visible through the retry seam")
    assert(sources.DeltaLog.versions(dir) == (0L to 2L),
      "contiguous versions — no torn or skipped commit")
    assert(sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 100L, 200L),
      "both the racer's and the loser's rows land exactly once")
  }

  /** Every message down `t`'s cause chain (Spark wraps a driver-side
    * commit failure of a DSv2 write). */
  private def messages(t: Throwable): Seq[String] =
    if (t == null) Seq.empty
    else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("restore, drop and rename re-derive and retry after a lost claim") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    def keys(dir: String): Seq[Long] = sources.DeltaLog.read(spark, dir)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    // plant one blind append in the first claim window of `op` on
    // `dir`: the op loses the claim and must land right after it
    def raced(dir: String, racer: Seq[Long])(op: => Long): Long = {
      val before = sources.DeltaLog.commitCasRetries.get
      val racerV = sources.DeltaLog.versions(dir).last + 1
      val planted = new java.util.concurrent.atomic.AtomicBoolean(false)
      sources.DeltaLog.commitClaimHook = (d, _) =>
        if (d == dir && planted.compareAndSet(false, true))
          sources.DeltaLog.commitAppend(
            racer.map(k => (k, s"r$k", k)).toDF("k", "s", "x"), d)
      val v = try op finally sources.DeltaLog.commitClaimHook = (_, _) => ()
      assert(planted.get, "the op must reach the claim hook")
      assert(sources.DeltaLog.commitCasRetries.get >= before + 1,
        "the lost claim must surface in the retry seam")
      assert(v == racerV + 1, "the op lands right after the racer")
      assert(sources.DeltaLog.versions(dir) == (0L to v))
      v
    }
    val base = (1L to 4L).map(k => (k, s"s$k", k)).toDF("k", "s", "x")

    // RESTORE re-derives its removes from the new head: the table
    // equals the target version, the racer's commit stays in history
    val r = Files.createTempDirectory("dlretry").toString + "/r"
    sources.DeltaLog.commitOverwrite(base, r)
    sources.DeltaLog.commitAppend(Seq((5L, "s5", 5L)).toDF("k", "s", "x"), r)
    val rv = raced(r, Seq(9L))(sources.DeltaLog.restore(r, 0L))
    assert(keys(r) == (1L to 4L), "restored rows")
    assert(sources.DeltaLog.readVersion(spark, r, rv - 1)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L, 9L), "the racer's commit is history")

    // DROP and RENAME re-derive the schema from the new head: the
    // racer's rows survive under the changed schema
    val d = Files.createTempDirectory("dlretry").toString + "/d"
    sources.DeltaLog.commitOverwriteMapped(base, d)
    raced(d, Seq(9L))(sources.DeltaLog.dropColumnMapped(d, "x"))
    assert(sources.DeltaLog.read(spark, d).schema.fieldNames.toSeq ==
      Seq("k", "s"), "dropped schema")
    assert(keys(d) == Seq(1L, 2L, 3L, 4L, 9L), "racing rows kept")

    val n = Files.createTempDirectory("dlretry").toString + "/n"
    sources.DeltaLog.commitOverwriteMapped(base, n)
    raced(n, Seq(9L))(sources.DeltaLog.renameColumnMapped(n, "s", "name"))
    val renamed = sources.DeltaLog.read(spark, n)
    assert(renamed.schema == StructType(Seq(StructField("k", LongType),
      StructField("name", StringType), StructField("x", LongType))),
      "renamed schema")
    assert(renamed.filter(col("k") === 9L).select("name").head()
      .getString(0) == "r9", "racing rows kept, read by the new name")
    assert(keys(n) == Seq(1L, 2L, 3L, 4L, 9L))
  }

  test("crash matrix, claim step: a crash at the claim of every Delta commit entry point lands nothing") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val kv = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType)))
    def rows(ks: Seq[Long]) = ks.map(k => (k, s"s$k")).toDF("k", "s")
    def parted(ks: Seq[Long]) = rows(ks).withColumn("p", col("k") % 2)
    val work = Files.createTempDirectory("dlcrash").toString
    val ext = s"$work/external"
    rows(1L to 5L).coalesce(1).write.parquet(ext)
    val extFiles = new java.io.File(ext).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    val fresh: String => Unit = _ => ()
    val plain: String => Unit = d => {
      sources.DeltaLog.commitOverwrite(rows(1L to 20L).repartition(2), d)
      sources.DeltaLog.commitAppend(rows(21L to 30L), d): Unit
    }
    val partitioned: String => Unit = d =>
      sources.DeltaLog.commitOverwritePartitioned(parted(1L to 20L), d,
        Seq("p")): Unit
    val mapped: String => Unit = d =>
      sources.DeltaLog.commitOverwriteMapped(rows(1L to 20L), d): Unit
    def dsv2(mode: String): String => Unit = d =>
      rows(100L to 105L).write.format("graft-delta").mode(mode).save(d)
    // (entry point, table set-up, the commit under test)
    val cases: Seq[(String, String => Unit, String => Any)] = Seq(
      ("createTable", fresh,
        d => sources.DeltaLog.createTable(d, kv, Seq.empty)),
      ("commitOverwriteMapped", fresh,
        d => sources.DeltaLog.commitOverwriteMapped(rows(1L to 5L), d)),
      ("commitOverwriteMappedId", fresh,
        d => sources.DeltaLog.commitOverwriteMappedId(rows(1L to 5L), d)),
      ("registerFiles", fresh, d => sources.DeltaLog.registerFiles(d, kv,
        Seq.empty, extFiles.map(_ -> Map.empty[String, String]))),
      ("commitOverwrite", plain,
        d => sources.DeltaLog.commitOverwrite(rows(100L to 105L), d)),
      ("commitAppend", plain,
        d => sources.DeltaLog.commitAppend(rows(100L to 105L), d)),
      ("commitAppendPartitioned", partitioned,
        d => sources.DeltaLog.commitAppendPartitioned(
          parted(100L to 105L), d, Seq("p"))),
      ("commitAppendIdempotent", plain,
        d => sources.DeltaLog.commitAppendIdempotent(
          rows(100L to 105L), d, "app", 1L)),
      ("commitAppendIdempotent partitioned", partitioned,
        d => sources.DeltaLog.commitAppendIdempotent(
          parted(100L to 105L), d, "app", 1L, Seq("p"))),
      ("commitOverwritePartitioned", partitioned,
        d => sources.DeltaLog.commitOverwritePartitioned(
          parted(100L to 105L), d, Seq("p"))),
      ("restore", plain, d => sources.DeltaLog.restore(d, 0L)),
      ("dropColumnMapped", mapped,
        d => sources.DeltaLog.dropColumnMapped(d, "s")),
      ("renameColumnMapped", mapped,
        d => sources.DeltaLog.renameColumnMapped(d, "s", "name")),
      ("addCheckConstraint", plain, d => sources.DeltaLog
        .addCheckConstraint(spark, d, "pos", "k > 0")),
      ("addGenerationExpression", d => sources.DeltaLog.commitOverwrite(
          rows(1L to 5L).withColumn("k2", col("k") * 2), d): Unit,
        d => sources.DeltaLog.addGenerationExpression(spark, d, "k2",
          "k * 2")),
      ("evolveSchema", plain, d => sources.DeltaLog.evolveSchema(d,
        kv.add(StructField("x", LongType, nullable = true)))),
      ("setTableProperties", plain, d => sources.DeltaLog
        .setTableProperties(d, Map("owner" -> "etl"))),
      ("removeTableProperties", plain, d => sources.DeltaLog
        .removeTableProperties(d, Seq("owner"))),
      ("deleteWhere", plain,
        d => sources.DeltaLog.deleteWhere(spark, d, col("k") <= 5L)),
      ("deleteWhereKeys", plain, d => sources.DeltaLog.deleteWhereKeys(
        spark, d, "k", Seq(1L, 2L).toDF("k"))),
      ("mergeInto", plain, d => sources.DeltaLog.mergeInto(spark, d,
        rows(25L to 35L), Seq("k"))),
      ("mergeInto whenMatchedDelete", plain, d => sources.DeltaLog
        .mergeInto(spark, d, rows(25L to 35L), Seq("k"),
          Some(col("k") === 25L))),
      ("compact", plain, d => sources.DeltaLog.compact(spark, d, 1)),
      ("compactPartitioned", partitioned,
        d => sources.DeltaLog.compactPartitioned(spark, d)),
      ("compactZorder", plain, d => sources.DeltaLog.compactZorder(spark,
        d, Seq("k"), 1)),
      ("dsv2 append", plain, dsv2("append")),
      ("dsv2 overwrite", plain, dsv2("overwrite")))
    cases.zipWithIndex.foreach { case ((name, setup, op), i) =>
      val d = s"$work/t$i"
      setup(d)
      val vs0 = sources.DeltaLog.versions(d)
      def table(): Seq[String] =
        if (sources.DeltaLog.versions(d).isEmpty) Seq.empty
        else sources.DeltaLog.read(spark, d).collect()
          .map(_.toString).sorted.toSeq
      val rows0 = table()
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      sources.DeltaLog.commitClaimHook = (dir, _) =>
        if (dir == d && fired.compareAndSet(false, true))
          throw new RuntimeException("planted crash at the claim")
      val e = try withClue(s"$name: ")(intercept[Exception](op(d)))
        finally sources.DeltaLog.commitClaimHook = (_, _) => ()
      assert(messages(e).exists(_.contains("planted crash")),
        s"$name: expected the planted crash, got ${messages(e)}")
      assert(sources.DeltaLog.versions(d) == vs0,
        s"$name: a crash at the claim published a version")
      assert(table() == rows0, s"$name: a crash at the claim changed rows")
      op(d)
      assert(sources.DeltaLog.versions(d) == vs0 :+ vs0.size.toLong,
        s"$name: the retry must land exactly one version")
    }
  }

  test("commit stats ride the distributed footer job, driver opens none") {
    val dir = Files.createTempDirectory("dlogsj").toString + "/t"
    val df = (1L to 64L).map(i => (i, s"s$i")).toDF("k", "s")
      .repartitionByRange(8, col("k"))
    val before = sources.Iceberg.driverFooterOpens
    sources.DeltaLog.commitOverwrite(df, dir)
    assert(sources.Iceberg.driverFooterOpens == before,
      "a multi-file Delta commit must not open parquet footers on " +
        "the driver — stats come from ONE distributed job")
    // the distributed stats are REAL: per-file numRecords sum to the
    // table's rows, per-file bounds are tight enough to prune
    val st = sources.DeltaLog.replay(dir, 0L)
    val n = st.adds.values.flatMap(_.stats).map(s =>
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(s).get("numRecords").asLong).sum
    assert(n == 64L, s"numRecords must sum to the row count, got $n")
    sources.DeltaLog.readWhereStats(spark, dir, Seq(("k", 1L, 8L))).count()
    assert(sources.DeltaLog.lastFilesScanned < 8,
      "distributed bounds must prune a range read")
    // partitioned commits and OPTIMIZE ride the same job
    val dir2 = Files.createTempDirectory("dlogsj2").toString + "/t"
    val before2 = sources.Iceberg.driverFooterOpens
    sources.DeltaLog.commitOverwritePartitioned(
      (1L to 40L).map(i => (i, if (i % 2 == 0) "e" else "o"))
        .toDF("k", "s").repartition(4), dir2, Seq("s"))
    sources.DeltaLog.compactPartitioned(spark, dir2)
    assert(sources.Iceberg.driverFooterOpens == before2,
      "partitioned commit + OPTIMIZE must not open footers driver-side")
  }

  test("q162 gate shape: stats pruning bounded") {
    val got = sources.DeltaLog.deltaStatsPrunedRead(spark, sfDir)
    val n = got.count()
    assert(sources.DeltaLog.lastFilesScanned < 8,
      s"low-tail range must prune the range-clustered layout, " +
        s"scanned ${sources.DeltaLog.lastFilesScanned} of 8")
    val orders = Tables.load(spark, sfDir, "orders")
    assert(n == orders.filter(
      col("o_orderkey").between(100L, 999L)).count())
  }

  test("evolveSchema: metaData-only commit, old files read as NULL, guards") {
    val dir = Files.createTempDirectory("dlogev").toString + "/t"
    sources.DeltaLog.commitOverwrite(Seq(Tuple1(1L)).toDF("k"), dir)
    import org.apache.spark.sql.types._
    val wide = StructType(Seq(
      StructField("k", LongType),
      StructField("s", StringType, nullable = true)))
    val ev = sources.DeltaLog.evolveSchema(dir, wide)
    assert(ev == 1L)
    sources.DeltaLog.commitAppend(Seq((2L, "b")).toDF("k", "s"), dir)
    val got = sources.DeltaLog.read(spark, dir)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1))).toSet
    assert(got == Set((1L, null), (2L, "b")))
    // the evolution commit carries ONLY metaData (no add/remove)
    val lines = Files.readAllLines(
      Paths.get(f"$dir/_delta_log/${1L}%020d.json")).toArray.mkString
    assert(lines.contains("metaData") && !lines.contains("\"add\""))
    // time travel BEFORE the evolution keeps the narrow schema
    assert(sources.DeltaLog.readVersion(spark, dir, 0)
      .schema.fieldNames.toSeq == Seq("k"))
    // guards: dropping a column / non-nullable addition refuse
    intercept[IllegalArgumentException] {
      sources.DeltaLog.evolveSchema(dir, StructType(Seq(
        StructField("s", StringType))))
    }
    intercept[IllegalArgumentException] {
      sources.DeltaLog.evolveSchema(dir, StructType(wide.fields :+
        StructField("n", LongType, nullable = false)))
    }
  }

  test("q152/q154/q155 gate shape") {
    val orders = Tables.load(spark, sfDir, "orders")
    // q152: every order row appears exactly once as an insert at the
    // commit its key's mod-3 class was appended in
    val ch = sources.DeltaLog.deltaChanges(spark, sfDir)
    assert(ch.count() == orders.count())
    assert(ch.filter(col("_change_type") =!= "insert").count() == 0)
    assert(ch.filter(col("_commit_version") =!=
      org.apache.spark.sql.functions.pmod(col("o_orderkey"), org.apache.spark.sql.functions.lit(3L))).count() == 0)
    // q154: compacted partitioned read prunes to exactly one file
    val f = sources.DeltaLog.deltaPartitionedOptimize(spark, sfDir)
    val n = f.count()
    assert(sources.DeltaLog.lastFilesScanned == 1,
      s"compacted 'F' partition must be one file, scanned " +
        s"${sources.DeltaLog.lastFilesScanned}")
    assert(n == orders.filter(col("o_orderstatus") === "F").count())
    // q155: merged row count = evens ∪ mod-3 keys
    val m = sources.DeltaLog.deltaMergeRead(spark, sfDir)
    assert(m.count() == orders.filter(
      col("o_orderkey") % 2 === 0 || col("o_orderkey") % 3 === 0).count())
    assert(m.filter(col("o_orderkey") % 3 === 0)
      .filter(col("o_orderpriority") =!= "MERGED").count() == 0)
  }

  test("q145/q146 gate shape: pruned scan bounded, lifecycle readback") {
    // q145: files handed to the scan == files of the 'O' partition
    val got = sources.DeltaLog.deltaPrunedRead(spark, sfDir)
    val n = got.count()
    val scanned = sources.DeltaLog.lastFilesScanned
    val t = sources.DeltaLog.ordersPartitionedTable(spark, sfDir)
    val st = sources.DeltaLog.replay(t, sources.DeltaLog.versions(t).last)
    val oFiles = st.addPartitionValues
      .count(_._2.get("o_orderstatus").contains("O"))
    assert(scanned == oFiles,
      s"pruned read scanned $scanned files; 'O' partition holds $oFiles")
    assert(oFiles < st.adds.size,
      "test is vacuous unless other partitions exist to prune away")
    val orders = Tables.load(spark, sfDir, "orders")
    assert(n == orders.filter(col("o_orderstatus") === "O").count())
    // q146: three appends + compaction read back as the full table
    assert(sources.DeltaLog.deltaAppendCompactRead(spark, sfDir).count()
      == orders.count())
  }

  test("q128/q129 gate shape: overwrite honored, time travel pinned") {
    val latest = sources.DeltaLog.deltaRead(spark, sfDir)
    val pinned = sources.DeltaLog.deltaTimeTravel(spark, sfDir)
    val orders = Tables.load(spark, sfDir, "orders")
    assert(latest.count() ==
      orders.filter(col("o_orderkey") % 2 === 1).count())
    assert(pinned.count() ==
      orders.filter(col("o_orderkey") % 2 === 0).count())
    assert(latest.count() + pinned.count() == orders.count())
    // second call reuses the session cache (no rebuild)
    val t1 = sources.DeltaLog.ordersDeltaTable(spark, sfDir)
    val t2 = sources.DeltaLog.ordersDeltaTable(spark, sfDir)
    assert(t1 == t2)
  }

  test("column mapping: physical files, logical read, metadata-only rename") {
    val dir = Files.createTempDirectory("dlcm").toString + "/t"
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    sources.DeltaLog.commitOverwriteMapped(df, dir)
    // the data files must spell PHYSICAL names only
    val raw = spark.read.parquet(
      new java.io.File(dir).listFiles().filter(_.isDirectory)
        .filterNot(_.getName == "_delta_log").head.getPath)
    assert(raw.schema.fieldNames.forall(_.startsWith("col-")),
      s"data files carry ${raw.schema.fieldNames.mkString(",")} — " +
        "column mapping means physical names on disk")
    // the logical read resolves the mapping
    val got = sources.DeltaLog.read(spark, dir)
    assert(got.schema.fieldNames.toSeq == Seq("k", "s"))
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((1L, "a"), (2L, "b")))
    // rename: metadata-only — the commit carries NO add/remove
    val v = sources.DeltaLog.renameColumnMapped(dir, "s", "label")
    val commitTxt = new String(Files.readAllBytes(
      Paths.get(f"$dir/_delta_log/$v%020d.json")), "UTF-8")
    assert(!commitTxt.contains("\"add\"") &&
      !commitTxt.contains("\"remove\""),
      "a mapped rename must not touch data files")
    val renamed = sources.DeltaLog.read(spark, dir)
    assert(renamed.schema.fieldNames.toSeq == Seq("k", "label"))
    assert(renamed.filter(col("label") === "b").count() == 1)
    // checkpoint preserves protocol + mapping config: seeded replay
    // still resolves physical names
    sources.DeltaLog.checkpoint(spark, dir)
    val seeded = sources.DeltaLog.read(spark, dir)
    assert(sources.DeltaLog.lastJsonCommitsRead == 0,
      "read after checkpoint must seed from it")
    assert(seeded.schema.fieldNames.toSeq == Seq("k", "label"))
    assert(seeded.count() == 2)
  }

  test("q211 gate shape: mapped writes land physical files; CDC feed rename-safe") {
    val dir = Files.createTempDirectory("dlcmw").toString + "/t"
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    sources.DeltaLog.commitOverwriteMapped(df, dir)
    sources.DeltaLog.setTableProperties(dir,
      Map("delta.enableChangeDataFeed" -> "true"))
    // MERGE on the mapped table: update k=2, insert k=4
    sources.DeltaLog.mergeInto(spark, dir,
      Seq((2L, "B"), (4L, "d")).toDF("k", "s"), Seq("k"))
    // every data file under the table root must spell physical names
    new java.io.File(dir).listFiles().filter(_.isDirectory)
      .filterNot(f => Seq("_delta_log", "_change_data")
        .contains(f.getName))
      .foreach { d =>
        val raw = spark.read.parquet(d.getPath)
        assert(raw.schema.fieldNames.forall(_.startsWith("col-")),
          s"${d.getName} carries ${raw.schema.fieldNames.mkString(",")}")
      }
    // the change file too (physical data columns + literal ct)
    val cdcRaw = spark.read
      .option("recursiveFileLookup", "true")
      .parquet(s"$dir/_change_data")
    assert(cdcRaw.schema.fieldNames.count(_.startsWith("col-")) == 2 &&
      cdcRaw.schema.fieldNames.contains("_change_type"))
    // rename mid-history, then a DV delete with a mapped change file
    sources.DeltaLog.renameColumnMapped(dir, "s", "label")
    sources.DeltaLog.deleteWhere(spark, dir, col("k") === 1L)
    val st = sources.DeltaLog.read(spark, dir)
    assert(st.schema.fieldNames.toSeq == Seq("k", "label"))
    assert(st.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((2L, "B"), (3L, "c"), (4L, "d")))
    // the feed surfaces every version under the LATEST logical names
    val feed = sources.DeltaLog.readChanges(spark, dir, 0L,
      sources.DeltaLog.versions(dir).last)
    assert(feed.schema.fieldNames.toSeq ==
      Seq("k", "label", "_change_type", "_commit_version"))
    val got = feed.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, "a", "insert", 0L), (2L, "b", "insert", 0L),
      (3L, "c", "insert", 0L),
      (2L, "b", "update_preimage", 2L),
      (2L, "B", "update_postimage", 2L),
      (4L, "d", "insert", 2L),
      (1L, "a", "delete", 4L)), s"got $got")
  }

  test("mapping x containers: structs in arrays/map values write+read+rename") {
    import org.apache.spark.sql.functions.{map, struct}
    val dir = Files.createTempDirectory("dlcmarr").toString + "/t"
    val df = Seq((1L, Seq((10L, "a"), (11L, "b")), ("k1", 100L)),
        (2L, Seq((20L, "c")), ("k2", 200L)))
      .toDF("k", "arr0", "mv0")
      .select(col("k"),
        col("arr0").cast("array<struct<x:bigint,y:string>>").as("arr"),
        map(col("mv0._1"),
          struct(col("mv0._2").as("z"))).as("mv"))
    sources.DeltaLog.commitOverwriteMapped(df, dir)
    // inner struct fields INSIDE the array spell physical names in
    // the files (the raw read proves the disk layout)
    val rawDir = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).filterNot(_.getName == "_delta_log").head
    val raw = spark.read.parquet(rawDir.getPath)
    val arrPhys = raw.schema.fields.find(_.name.startsWith("col-")).get
    def innerNames(dt: org.apache.spark.sql.types.DataType): Seq[String] =
      dt match {
        case s: org.apache.spark.sql.types.StructType =>
          s.fieldNames.toSeq
        case a: org.apache.spark.sql.types.ArrayType =>
          innerNames(a.elementType)
        case m: org.apache.spark.sql.types.MapType =>
          innerNames(m.valueType)
        case _ => Seq.empty
      }
    raw.schema.fields.foreach { f =>
      assert(f.name.startsWith("col-"))
      assert(innerNames(f.dataType).forall(_.startsWith("col-")),
        s"inner fields of ${f.name}: ${innerNames(f.dataType)}")
    }
    assert(arrPhys != null)
    // logical read rebuilds both containers
    val got = sources.DeltaLog.read(spark, dir)
      .selectExpr("k", "arr[0].x", "arr[0].y", "map_values(mv)[0].z")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    assert(got == Set((1L, 10L, "a", 100L), (2L, 20L, "c", 200L)))
    // rename an inner field THROUGH the array: pure metadata
    val v = sources.DeltaLog.renameColumnMapped(dir, "arr.x", "xx")
    val commitTxt = new String(Files.readAllBytes(
      Paths.get(f"$dir/_delta_log/$v%020d.json")), "UTF-8")
    assert(!commitTxt.contains("\"add\""), "rename rewrote data files")
    assert(sources.DeltaLog.read(spark, dir)
      .selectExpr("arr[0].xx").collect().map(_.getLong(0)).toSet ==
      Set(10L, 20L))
    // appends keep spelling containers physically (transform rebuild)
    sources.DeltaLog.commitAppend(
      Seq((3L, Seq((30L, "e")), ("k3", 300L)))
        .toDF("k", "arr0", "mv0")
        .select(col("k"),
          col("arr0").cast("array<struct<xx:bigint,y:string>>")
            .as("arr"),
          map(col("mv0._1"),
            struct(col("mv0._2").as("z"))).as("mv")), dir)
    assert(sources.DeltaLog.read(spark, dir)
      .selectExpr("arr[0].xx").collect().map(_.getLong(0)).toSet ==
      Set(10L, 20L, 30L))
  }

  test("mapped evolveSchema + compact: fresh id, null-fill, physical rewrite") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = Files.createTempDirectory("dlcme").toString + "/t"
    sources.DeltaLog.commitOverwriteMapped(
      Seq((1L, "a")).toDF("k", "s"), dir)
    sources.DeltaLog.evolveSchema(dir, StructType(Seq(
      StructField("k", LongType), StructField("s", StringType),
      StructField("n", LongType, nullable = true))))
    // pre-evolution file null-fills the new column
    val r1 = sources.DeltaLog.read(spark, dir).collect()
    assert(r1.map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).toSet ==
      Set((1L, "a", -1L)))
    // the evolved column got a FRESH mapping id past the old max
    val st = sources.DeltaLog.replay(dir,
      sources.DeltaLog.versions(dir).last)
    def idOf(n: String): Long =
      st.schema(n).metadata.getLong("delta.columnMapping.id")
    assert(idOf("n") > idOf("s"))
    // writers pick the evolution up and spell it physically
    sources.DeltaLog.commitAppend(
      Seq((2L, "b", 5L)).toDF("k", "s", "n"), dir)
    val r2 = sources.DeltaLog.read(spark, dir).collect()
    assert(r2.map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).toSet ==
      Set((1L, "a", -1L), (2L, "b", 5L)))
    // a rename composes on top of the evolution
    sources.DeltaLog.renameColumnMapped(dir, "n", "m")
    assert(sources.DeltaLog.read(spark, dir)
      .filter(col("m") === 5L).count() == 1)
    // evolve-add the FREED name: its physical name must be fresh,
    // never the renamed column's (a deterministic path-derived mint
    // would collide and resurface m's historical data as n)
    sources.DeltaLog.evolveSchema(dir, StructType(Seq(
      StructField("k", LongType), StructField("s", StringType),
      StructField("m", LongType, nullable = true),
      StructField("n", LongType, nullable = true))))
    val stR = sources.DeltaLog.replay(dir,
      sources.DeltaLog.versions(dir).last)
    def physOf(c: String) = stR.schema(c).metadata
      .getString("delta.columnMapping.physicalName")
    assert(physOf("n") != physOf("m"),
      "freed-name evolve collided with the renamed column's physical")
    val rd = sources.DeltaLog.read(spark, dir)
    assert(rd.filter(col("n").isNull).count() == rd.count(),
      "re-added n must be all-NULL, not m's historical data")
    assert(rd.filter(col("m") === 5L).count() == 1)
    // compact rewrites physically: layout collapses, rows + logical
    // read unchanged, every new file spells col-<uuid>
    sources.DeltaLog.compact(spark, dir)
    val stC = sources.DeltaLog.replay(dir,
      sources.DeltaLog.versions(dir).last)
    assert(stC.files.size == 1)
    val rawC = spark.read.parquet(s"$dir/${stC.files.head}")
    assert(rawC.schema.fieldNames.forall(_.startsWith("col-")))
    val r3 = sources.DeltaLog.read(spark, dir).collect()
    assert(r3.map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).toSet ==
      Set((1L, "a", -1L), (2L, "b", 5L)))
  }

  test("mode=id map-KEY structs still refuse; flat rename intact") {
    // Round 14 turned the nested-under-id refusal into a feature
    // (physical-name resolution — see "nested mode=id" test); what
    // REMAINS refused is the shape with no sound physical spelling:
    // structs under map KEYS.
    import org.apache.spark.sql.functions.{map_from_arrays, array, struct}
    val dir = Files.createTempDirectory("dlcmidn").toString + "/t"
    val df = Seq((1L, 10L, "a")).toDF("k", "x", "y")
      .select(col("k"), map_from_arrays(
        array(struct(col("x").as("i"))),
        array(col("y"))).as("m"))
    val e = intercept[IllegalArgumentException] {
      sources.DeltaLog.commitOverwriteMappedId(df, dir)
    }
    assert(e.getMessage.contains("map KEYS"))
    // flat id-mode keeps working through the unified write path
    val dir2 = Files.createTempDirectory("dlcmidf").toString + "/t"
    sources.DeltaLog.commitOverwriteMappedId(
      Seq((1L, "a")).toDF("k", "s"), dir2)
    sources.DeltaLog.renameColumnMapped(dir2, "s", "label")
    assert(sources.DeltaLog.read(spark, dir2)
      .select(col("label")).collect().map(_.getString(0)).toSeq ==
      Seq("a"))
  }

  test("mapped guardrails: bloom property inert, schema-cover loud") {
    val dir = Files.createTempDirectory("dlcmg").toString + "/t"
    sources.DeltaLog.commitOverwriteMapped(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)
    // the bloom sidecar rereads files by LOGICAL name, which mapped
    // files cannot resolve — the property must be INERT (no sidecar
    // write attempt = no crash), and deletes fall back to full scan
    sources.DeltaLog.setTableProperties(dir,
      Map("graft.bloomFilter.columns" -> "k"))
    sources.DeltaLog.commitAppend(Seq((3L, "c")).toDF("k", "s"), dir)
    assert(!new java.io.File(s"$dir/_bloom").exists,
      "bloom sidecar must not be written for a mapped table")
    assert(sources.DeltaLog.bloomBackfill(spark, dir) == 0)
    sources.DeltaLog.deleteWhereKeys(spark, dir, "k",
      Seq(3L).toDF("k"))
    assert(sources.DeltaLog.read(spark, dir).count() == 2)
    // an append missing a logical column refuses loudly instead of
    // writing a file the mapped reader would null-fill silently
    val e = intercept[IllegalArgumentException] {
      sources.DeltaLog.commitAppend(Seq(9L).toDF("k"), dir)
    }
    assert(e.getMessage.contains("cover"))
  }

  test("mapped CDC in id mode; DV-diff CDF branch reads mapped files") {
    // mode=id: append + merge write field-id files; the feed resolves
    val dir = Files.createTempDirectory("dlcmid").toString + "/t"
    sources.DeltaLog.commitOverwriteMappedId(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)
    sources.DeltaLog.setTableProperties(dir,
      Map("delta.enableChangeDataFeed" -> "true"))
    sources.DeltaLog.commitAppend(
      Seq((3L, "c")).toDF("k", "s"), dir)
    sources.DeltaLog.mergeInto(spark, dir,
      Seq((3L, "C")).toDF("k", "s"), Seq("k"))
    val st = sources.DeltaLog.read(spark, dir)
    assert(st.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((1L, "a"), (2L, "b"), (3L, "C")))
    val feed = sources.DeltaLog.readChanges(spark, dir, 2L,
      sources.DeltaLog.versions(dir).last)
    val got = feed.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == Set(
      (3L, "c", "insert", 2L),
      (3L, "c", "update_preimage", 3L),
      (3L, "C", "update_postimage", 3L)), s"got $got")
    // DV-diff branch (no CDF property -> no change file): a mapped
    // table's bitmap-diff delete rows must read physically too
    val dir2 = Files.createTempDirectory("dlcmdv").toString + "/t"
    sources.DeltaLog.commitOverwriteMapped(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"), dir2)
    sources.DeltaLog.deleteWhere(spark, dir2, col("k") === 2L)
    val dv = sources.DeltaLog.readChanges(spark, dir2, 1L,
      sources.DeltaLog.versions(dir2).last)
    val gotDv = dv.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(gotDv == Set((2L, "b", "delete")), s"got $gotDv")
  }

  test("foreign MAPPED cdc commit: external physical names resolve in the feed") {
    // a foreign writer's mapped table (physical names it chose, not
    // this engine's col-<uuid>) with a cdc-action commit whose
    // change file spells those physical names — the feed must
    // resolve BOTH the derived creation inserts and the change
    // file's rows to the logical schema
    val dir = Files.createTempDirectory("dlcmfcdc").toString
    def stageAs(name: String, df: org.apache.spark.sql.DataFrame)
        : Unit = {
      val tmp = Files.createTempDirectory("dlcmf").toString + "/w"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.createDirectories(Paths.get(dir, name).getParent)
      Files.move(part.toPath, Paths.get(dir, name)): Unit
    }
    stageAs("d.parquet", Seq((7L, "x"), (8L, "y")).toDF("p_1", "p_2"))
    stageAs("d2.parquet", Seq((7L, "x")).toDF("p_1", "p_2"))
    stageAs("_change_data/cdc-0.parquet",
      Seq((8L, "y", "delete")).toDF("p_1", "p_2", "_change_type"))
    val mappedSchema =
      """{\"type\":\"struct\",\"fields\":[
        |{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":
        |{\"delta.columnMapping.id\":1,\"delta.columnMapping.physicalName\":\"p_1\"}},
        |{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":
        |{\"delta.columnMapping.id\":2,\"delta.columnMapping.physicalName\":\"p_2\"}}]}"""
        .stripMargin.replace("\n", "")
    writeLog(dir, 0,
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},
         |"schemaString":"$mappedSchema","partitionColumns":[],
         |"configuration":{"delta.columnMapping.mode":"name"}}}"""
        .stripMargin.replace("\n", ""),
      """{"add":{"path":"d.parquet","size":1,"dataChange":true,
        |"partitionValues":{}}}""".stripMargin.replace("\n", ""))
    writeLog(dir, 1,
      """{"cdc":{"path":"_change_data/cdc-0.parquet","partitionValues":{},"size":1,"dataChange":false}}""",
      """{"remove":{"path":"d.parquet","dataChange":true}}""",
      """{"add":{"path":"d2.parquet","size":1,"dataChange":true,
        |"partitionValues":{}}}""".stripMargin.replace("\n", ""))
    assert(sources.DeltaLog.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((7L, "x")))
    val changes = sources.DeltaLog.readChanges(spark, dir, 0L, 1L)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[String]("_change_type"),
        r.getAs[Long]("_commit_version"))).toSet
    assert(changes == Set(
      (7L, "x", "insert", 0L), (8L, "y", "insert", 0L),
      (8L, "y", "delete", 1L)),
      s"foreign mapped cdc mis-resolved: $changes")
    // the streaming source agrees (shared reader, physical-name
    // resolution on the executor)
    val out = Files.createTempDirectory("dlcmfcdcs").toString
    val q = spark.readStream.format("graft-delta-cdf")
      .option("path", dir).load()
      .writeStream.format("parquet")
      .option("path", s"$out/sink")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$out/sink")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[String]("_change_type"),
        r.getAs[Long]("_commit_version"))).toSet
    assert(streamed == changes,
      s"stream $streamed != batch $changes")
  }

  test("hand-written mapped log reads; id mode and bare v2 refuse") {
    val dir = Files.createTempDirectory("dlcmx").toString
    // stage a data file under arbitrary external physical names
    val tmp = Files.createTempDirectory("dlcmw").toString + "/w"
    Seq((7L, "x")).toDF("p_1", "p_2").coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(dir, "d.parquet"))
    val mappedSchema =
      """{\"type\":\"struct\",\"fields\":[
        |{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":
        |{\"delta.columnMapping.id\":1,\"delta.columnMapping.physicalName\":\"p_1\"}},
        |{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":
        |{\"delta.columnMapping.id\":2,\"delta.columnMapping.physicalName\":\"p_2\"}}]}"""
        .stripMargin.replace("\n", "")
    writeLog(dir, 0,
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},
         |"schemaString":"$mappedSchema","partitionColumns":[],
         |"configuration":{"delta.columnMapping.mode":"name"}}}"""
        .stripMargin.replace("\n", ""),
      """{"add":{"path":"d.parquet","size":1,"dataChange":true,
        |"partitionValues":{}}}""".stripMargin.replace("\n", ""))
    val got = sources.DeltaLog.read(spark, dir).collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((7L, "x")))
    // id mode over a data file WITHOUT parquet field ids: the
    // replay accepts the mode (q187 implements it), but the scan
    // must fail LOUDLY — Spark's field-id matcher refuses a file
    // with no ids rather than guessing a column by position/name
    val dir2 = Files.createTempDirectory("dlcmid").toString
    Files.copy(Paths.get(dir, "d.parquet"), Paths.get(dir2, "d.parquet"))
    writeLog(dir2, 0,
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},
         |"schemaString":"$mappedSchema","partitionColumns":[],
         |"configuration":{"delta.columnMapping.mode":"id"}}}"""
        .stripMargin.replace("\n", ""),
      """{"add":{"path":"d.parquet","size":1,"dataChange":true,
        |"partitionValues":{}}}""".stripMargin.replace("\n", ""))
    intercept[Exception] {
      sources.DeltaLog.read(spark, dir2).collect()
    }
    // reader v2 with NO mapping mode: some unknown feature — refuse
    val dir3 = Files.createTempDirectory("dlcmv2").toString
    writeLog(dir3, 0,
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaData())
    val e3 = intercept[IllegalArgumentException] {
      sources.DeltaLog.read(spark, dir3)
    }
    assert(e3.getMessage.contains("minReaderVersion 2"))
    // reader v3: never accepted
    val dir4 = Files.createTempDirectory("dlcmv3").toString
    writeLog(dir4, 0,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}""",
      metaData())
    val e4 = intercept[IllegalArgumentException] {
      sources.DeltaLog.read(spark, dir4)
    }
    assert(e4.getMessage.contains("minReaderVersion 3"))
  }

  test("timestampAsOf: monotonic adjustment, resolution, bounds") {
    import java.nio.file.attribute.FileTime
    val dir = Files.createTempDirectory("dlts").toString
    val a = stagePart(dir, "a.parquet", Seq((1L, "a")))
    val b = stagePart(dir, "b.parquet", Seq((2L, "b")))
    val c = stagePart(dir, "c.parquet", Seq((3L, "c")))
    writeLog(dir, 0, protocol, metaData(),
      s"""{"add":{"path":"$a","size":1,"dataChange":true,"partitionValues":{}}}""")
    writeLog(dir, 1,
      s"""{"add":{"path":"$b","size":1,"dataChange":true,"partitionValues":{}}}""")
    writeLog(dir, 2,
      s"""{"add":{"path":"$c","size":1,"dataChange":true,"partitionValues":{}}}""")
    // plant mtimes: commit 1 TIES commit 0, commit 2 REGRESSES — the
    // shapes same-millisecond commits and clock skew produce
    def mtime(v: Long, ms: Long) = Files.setLastModifiedTime(
      Paths.get(f"$dir/_delta_log/$v%020d.json"), FileTime.fromMillis(ms))
    mtime(0, 5000); mtime(1, 5000); mtime(2, 4000)
    assert(sources.DeltaLog.commitTimestamps(dir) ==
      Seq((0L, 5000L), (1L, 5001L), (2L, 5002L)))
    assert(sources.DeltaLog.versionAsOf(dir, 5000) == 0)
    assert(sources.DeltaLog.versionAsOf(dir, 5001) == 1)
    assert(sources.DeltaLog.versionAsOf(dir, 999999) == 2)
    val e = intercept[IllegalArgumentException] {
      sources.DeltaLog.versionAsOf(dir, 4999)
    }
    assert(e.getMessage.contains("precedes"))
    assert(sources.DeltaLog.readAsOfTimestamp(spark, dir, 5001)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("in-commit timestamps survive a copied log (mtimes reset)") {
    import java.nio.file.attribute.FileTime
    val dir = Files.createTempDirectory("dlict").toString + "/t"
    sources.DeltaLog.commitOverwrite(Seq((1L, "a")).toDF("k", "s"), dir)
    sources.DeltaLog.commitOverwrite(Seq((2L, "b")).toDF("k", "s"), dir)
    val before = sources.DeltaLog.commitTimestamps(dir)
    // simulate an rsync/copy: every commit file's mtime collapses
    sources.DeltaLog.versions(dir).foreach(v =>
      Files.setLastModifiedTime(
        Paths.get(f"$dir/_delta_log/$v%020d.json"),
        FileTime.fromMillis(1000)))
    assert(sources.DeltaLog.commitTimestamps(dir) == before,
      "commitInfo timestamps must win over (destroyed) mtimes")
    assert(sources.DeltaLog.versionAsOf(dir, before.head._2) == 0L)
    assert(sources.DeltaLog
      .readAsOfTimestamp(spark, dir, before.head._2)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("restore: new commit re-adds old files, history intact, no data written") {
    val dir = Files.createTempDirectory("dlrs").toString + "/t"
    val o = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    sources.DeltaLog.commitOverwrite(o.filter(col("k") <= 2), dir)
    sources.DeltaLog.commitOverwrite(o.filter(col("k") === 3), dir)
    def parquetCount = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir))
        .count(_.getName.endsWith(".parquet"))
    }
    val before = parquetCount
    val v = sources.DeltaLog.restore(dir, 0L)
    assert(v == 2L)
    // a restore is metadata: zero new data files
    assert(parquetCount == before, "restore must not write data files")
    assert(sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // history preserved: the overwritten middle version still reads
    assert(sources.DeltaLog.readVersion(spark, dir, 1L)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // and the restore itself can be rolled forward again
    sources.DeltaLog.restore(dir, 1L)
    assert(sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("q168/q170 gate shape: ts travel and restore equal version 0") {
    val orders = Tables.load(spark, sfDir, "orders")
    val evens = orders.filter(col("o_orderkey") % 2 === 0).count()
    assert(sources.DeltaLog.deltaAsOfRead(spark, sfDir).count() == evens)
    assert(sources.DeltaLog.deltaRestoreRead(spark, sfDir).count() == evens)
    // restore table: three commits, latest == v0, v1 still odd
    val t = sources.DeltaLog.ordersRestoreTable(spark, sfDir)
    assert(sources.DeltaLog.versions(t) == Seq(0L, 1L, 2L))
    assert(sources.DeltaLog.readVersion(spark, t, 1L).count() ==
      orders.count() - evens)
  }

  test("deletion vectors: wire format pinned (Z85 vector, magic, CRC)") {
    import sources.DeletionVectors
    // the Z85 reference vector (ZeroMQ RFC 32): "HelloWorld" encodes
    // 86 4F D2 6F B5 59 F7 5B
    val hello = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b)
      .map(_.toByte)
    assert(DeletionVectors.z85Encode(hello) == "HelloWorld")
    assert(DeletionVectors.z85Decode("HelloWorld").toSeq == hello.toSeq)
    // bitmap round-trip incl. a >32-bit row index (bucket split)
    val ps = Seq(0L, 1L, 63L, 4096L, (1L << 32) + 7L)
    val data = DeletionVectors.serializeBitmap(ps)
    // portable magic, little-endian, then 2 buckets
    val bb = java.nio.ByteBuffer.wrap(data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getInt == 1681511377, "portable RoaringBitmapArray magic")
    assert(bb.getLong == 2L, "row indexes above 2^32 need a second bucket")
    assert(DeletionVectors.deserializeBitmap(data) == ps)
    // file framing: version byte, BE size, data, BE CRC-32
    val dir = Files.createTempDirectory("dvfmt").toString
    val descs = DeletionVectors.writeDvFile(dir,
      Seq("f1" -> DeletionVectors.Bitmap64.fromPositions(Seq(2L, 5L))))
    val d = descs("f1")
    assert(d.storageType == "u" && d.cardinality == 2L)
    val path = d.resolvePath(dir)
    val all = Files.readAllBytes(Paths.get(path))
    assert(all(0) == 1, "DV file format version byte")
    assert(DeletionVectors.readPositions(dir, d) == Seq(2L, 5L))
    // corruption fails loudly, never resurrects rows
    all(12) = (all(12) ^ 0xff).toByte
    Files.write(Paths.get(path), all)
    intercept[IllegalArgumentException] {
      DeletionVectors.readPositions(dir, d)
    }
  }

  test("deletion vectors: MoR read, stacking union, files untouched") {
    val dir = Files.createTempDirectory("dldv").toString + "/t"
    val df = (1L to 100L).map(k => (k, s"s$k")).toDF("k", "s")
    sources.DeltaLog.commitOverwrite(df.repartition(4), dir)
    def dataFileBytes = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length()).toMap
    }
    val before = dataFileBytes
    sources.DeltaLog.deleteWhere(spark, dir, col("k") % 10 === 0)
    assert(sources.DeltaLog.read(spark, dir).count() == 90)
    // stacked delete: union with the first
    sources.DeltaLog.deleteWhere(spark, dir, col("k") % 7 === 0)
    val got = sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (1L to 100L).filter(k => k % 10 != 0 && k % 7 != 0))
    // the parquet files were never rewritten — that IS the feature
    assert(dataFileBytes == before,
      "deleteWhere must not touch data files")
    // time travel: pre-delete and first-delete states both addressable
    assert(sources.DeltaLog.readVersion(spark, dir, 0L).count() == 100)
    assert(sources.DeltaLog.readVersion(spark, dir, 1L).count() == 90)
    // a no-match delete commits nothing
    val vBefore = sources.DeltaLog.versions(dir).last
    assert(sources.DeltaLog.deleteWhere(spark, dir, col("k") > 999)
      == vBefore)
    // checkpoint carries protocol v3 + descriptors: seeded replay
    // still applies the bitmaps
    sources.DeltaLog.checkpoint(spark, dir)
    val seeded = sources.DeltaLog.read(spark, dir)
    assert(sources.DeltaLog.lastJsonCommitsRead == 0)
    assert(seeded.count() == got.size)
    // restore to the first-delete state: DV-aware (path presence
    // alone would keep the newer bitmap and lose the sevenths)
    sources.DeltaLog.restore(dir, 1L)
    assert(sources.DeltaLog.read(spark, dir).count() == 90)
    // vacuum keeps live DV files, reclaims expired ones
    val dvsBefore = sources.DeletionVectors.dvFiles(dir).size
    assert(dvsBefore >= 2)
    sources.DeltaLog.vacuum(dir, 1)
    assert(sources.DeletionVectors.dvFiles(dir).nonEmpty,
      "live DVs must survive vacuum")
    assert(sources.DeltaLog.read(spark, dir).count() == 90)
  }

  test("deleteWhere collects O(files) bitmap rows, not O(deleted rows)") {
    val dir = Files.createTempDirectory("dldvscale").toString + "/t"
    val df = (1L to 20000L).map(k => (k, s"s$k")).toDF("k", "s")
    sources.DeltaLog.commitOverwrite(df.repartition(8), dir)
    // planted LARGE delete — half the table, spread over every file;
    // the driver must receive one compressed-bitmap row per affected
    // file, never ten thousand (file, position) rows
    sources.DeltaLog.deleteWhere(spark, dir, col("k") % 2 === 0)
    assert(sources.DeltaLog.lastDeleteRowsCollected <= 8,
      s"driver collected ${sources.DeltaLog.lastDeleteRowsCollected} " +
        "rows for an 8-file table — bitmap construction must stay " +
        "executor-side")
    assert(sources.DeltaLog.read(spark, dir).count() == 10000)
    // stacked delete unions in bitmap space, still O(files)
    sources.DeltaLog.deleteWhere(spark, dir, col("k") % 3 === 0)
    assert(sources.DeltaLog.lastDeleteRowsCollected <= 8)
    val expect = (1L to 20000L).filter(k => k % 2 != 0 && k % 3 != 0)
    assert(sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == expect)
    // the read path applies DVs as a scan-stage FILTER (broadcast
    // bitmaps), not an anti-join materializing every deleted pair
    val plan = sources.DeltaLog.read(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"),
      s"DV application must be a filter, not a join:\n$plan")
  }

  test("DVs compose with partitioned tables: prune, delete, CDF, restore") {
    val dir = Files.createTempDirectory("dldvpart").toString + "/t"
    val df = (1L to 300L).map(k =>
      (k, if (k % 3 == 0) "A" else if (k % 3 == 1) "B" else "C"))
      .toDF("k", "st")
    // one writer task → exactly one file per partition value
    sources.DeltaLog.commitOverwritePartitioned(
      df.repartition(1), dir, Seq("st"))
    val filesBefore = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length()).toMap
    }
    // predicate mixes a data column and a PARTITION column — both
    // must resolve in the delete scan
    sources.DeltaLog.deleteWhere(spark, dir,
      col("k") % 10 === 0 && col("st") === "B")
    assert(sources.DeltaLog.lastDeleteRowsCollected <= 3,
      "one bitmap row per affected file")
    val expect = (1L to 300L).filterNot(k => k % 10 == 0 && k % 3 == 1)
    assert(sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == expect)
    // data files untouched — the deletions are bitmaps only
    val filesAfter = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length()).toMap
    }
    assert(filesAfter == filesBefore)
    // partition pruning composes with the bitmap filter: only the
    // B-partition file reaches the scan, deleted tenths stay gone
    val pruned = sources.DeltaLog.readFiltered(spark, dir,
      col("st") === "B")
    assert(sources.DeltaLog.lastFilesScanned == 1)
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 300L).filter(k => k % 3 == 1 && k % 10 != 0))
    // CDF: the DV update surfaces as row-level deletes WITH the
    // partition column restored from the re-add's partitionValues
    val cdf = sources.DeltaLog.readChanges(spark, dir, 0L, 1L)
      .filter(col("_change_type") === "delete").collect()
    assert(cdf.map(_.getLong(0)).sorted.toSeq ==
      (1L to 300L).filter(k => k % 10 == 0 && k % 3 == 1))
    assert(cdf.forall(_.getAs[String]("st") == "B"),
      "CDF delete rows must carry the restored partition value")
    // restore to v0 resurrects the tenths
    sources.DeltaLog.restore(dir, 0L)
    assert(sources.DeltaLog.read(spark, dir).count() == 300)
    // q183 gate shape on the real table
    val got = sources.DeltaLog.deltaPartitionedDvRead(spark, sfDir)
    val orders = Tables.load(spark, sfDir, "orders")
    assert(got.count() == orders.filter(
      col("o_orderstatus") === "O" && col("o_orderkey") % 10 =!= 0)
      .count())
    val oFiles = sources.DeltaLog.lastFilesScanned
    sources.DeltaLog.read(spark,
      sources.DeltaLog.ordersPartitionedDvTable(spark, sfDir))
    assert(oFiles < sources.DeltaLog.lastFilesScanned,
      "q183 must prune to the 'O' partition's files")
  }

  test("CDF over DV commits emits row-level deletes from bitmap diffs") {
    val dir = Files.createTempDirectory("dldvcdf").toString + "/t"
    val df = (1L to 100L).map(k => (k, s"s$k")).toDF("k", "s")
    sources.DeltaLog.commitOverwrite(df.repartition(3), dir)
    sources.DeltaLog.deleteWhere(spark, dir, col("k") % 10 === 0)
    sources.DeltaLog.deleteWhere(spark, dir, col("k") % 7 === 0)
    val cdf = sources.DeltaLog.readChanges(spark, dir, 0L, 2L)
      .collect()
      .map(r => (r.getLong(0), r.getAs[String]("_change_type"),
        r.getAs[Long]("_commit_version")))
    assert(cdf.count(_._2 == "insert") == 100)
    assert(cdf.filter(c => c._2 == "delete" && c._3 == 1L)
      .map(_._1).sorted.toSeq == (1L to 100L).filter(_ % 10 == 0),
      "v1's CDF must be exactly the tenth keys, row-level")
    // v2's deletes are the DIFF against v1's bitmap: sevenths that
    // were not already deleted as tenths (70 must NOT re-emit)
    assert(cdf.filter(c => c._2 == "delete" && c._3 == 2L)
      .map(_._1).sorted.toSeq ==
      (1L to 100L).filter(k => k % 7 == 0 && k % 10 != 0))
  }

  test("hand-written DV log reads; unknown reader feature refuses") {
    import sources.DeletionVectors
    val dir = Files.createTempDirectory("dldvx").toString
    val a = stagePart(dir, "a.parquet",
      Seq((1L, "one"), (2L, "two"), (3L, "three")))
    // hand-build the DV for row index 1 ("two") and spell the log raw
    val descs = DeletionVectors.writeDvFile(dir,
      Seq(a -> DeletionVectors.Bitmap64.fromPositions(Seq(1L))))
    val d = descs(a)
    writeLog(dir, 0,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,
        |"readerFeatures":["deletionVectors"],
        |"writerFeatures":["deletionVectors"]}}"""
        .stripMargin.replace("\n", ""),
      metaData(),
      s"""{"add":{"path":"$a","size":1,"dataChange":true,
         |"partitionValues":{},"deletionVector":{
         |"storageType":"u","pathOrInlineDv":"${d.pathOrInlineDv}",
         |"offset":${d.offset.get},"sizeInBytes":${d.sizeInBytes},
         |"cardinality":1}}}""".stripMargin.replace("\n", ""))
    val got = sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 3L), "row index 1 must be deleted")
    // v3 with a feature we do not speak: loud refusal
    val dir2 = Files.createTempDirectory("dldvy").toString
    writeLog(dir2, 0,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,
        |"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}"""
        .stripMargin.replace("\n", ""),
      metaData())
    val e = intercept[IllegalArgumentException] {
      sources.DeltaLog.read(spark, dir2)
    }
    assert(e.getMessage.contains("readerFeatures"))
    // DVs under reader 1: an inconsistent log — refuse
    val dir3 = Files.createTempDirectory("dldvz").toString
    val b = stagePart(dir3, "b.parquet", Seq((1L, "x")))
    val descs3 = DeletionVectors.writeDvFile(dir3,
      Seq(b -> DeletionVectors.Bitmap64.fromPositions(Seq(0L))))
    val d3 = descs3(b)
    writeLog(dir3, 0, protocol, metaData(),
      s"""{"add":{"path":"$b","size":1,"dataChange":true,
         |"partitionValues":{},"deletionVector":{
         |"storageType":"u","pathOrInlineDv":"${d3.pathOrInlineDv}",
         |"offset":${d3.offset.get},"sizeInBytes":${d3.sizeInBytes},
         |"cardinality":1}}}""".stripMargin.replace("\n", ""))
    val e3 = intercept[IllegalArgumentException] {
      sources.DeltaLog.read(spark, dir3)
    }
    assert(e3.getMessage.contains("minReaderVersion"))
  }

  test("checkpoint keeps the REPLAYED protocol across DV fold + restore") {
    // the review-found trap: deleteWhere upgrades to reader 3 (v1),
    // compact folds the DVs away (v2), a checkpoint at v2 that
    // INFERRED protocol from current features would write (1,2) —
    // then restore(1) re-adds DV files with no protocol action and
    // the seeded replay would refuse a perfectly valid log
    val dir = Files.createTempDirectory("dlproto").toString + "/t"
    val df = (1L to 20L).map(k => (k, s"s$k")).toDF("k", "s")
    sources.DeltaLog.commitOverwrite(df, dir)
    sources.DeltaLog.deleteWhere(spark, dir, col("k") % 5 === 0)
    sources.DeltaLog.compact(spark, dir, targetFiles = 1)
    assert(sources.DeltaLog.read(spark, dir).count() == 16)
    sources.DeltaLog.checkpoint(spark, dir)
    sources.DeltaLog.restore(dir, 1L)
    val got = sources.DeltaLog.read(spark, dir)
    assert(sources.DeltaLog.lastJsonCommitsRead == 1,
      "read must seed from the checkpoint and replay only the restore")
    assert(got.collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 20L).filter(_ % 5 != 0))
  }

  test("readFiltered equality pruning is type-aware, never drops rows") {
    // externally written logs may spell partition values
    // non-canonically; Spark's re-applied predicate casts ('05' = 5
    // holds), so pruning must compare through the declared type
    val dir = Files.createTempDirectory("dlteq").toString
    val a = stagePart(dir, "a.parquet", Seq((1L, "x")))
    val partSchema =
      """{\"type\":\"struct\",\"fields\":[
        |{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},
        |{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},
        |{\"name\":\"p\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}"""
        .stripMargin.replace("\n", "")
    writeLog(dir, 0, protocol,
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},
         |"schemaString":"$partSchema",
         |"partitionColumns":["p"],"configuration":{}}}"""
        .stripMargin.replace("\n", ""),
      s"""{"add":{"path":"$a","size":1,"dataChange":true,
         |"partitionValues":{"p":"05"}}}""".stripMargin.replace("\n", ""))
    // "05" must match the literal 5 through the long type
    val got = sources.DeltaLog.readFiltered(spark, dir,
      col("p") === 5L)
    assert(sources.DeltaLog.lastFilesScanned == 1,
      "'05' = 5 holds after the cast — the file must be kept")
    assert(got.count() == 1)
    // and a genuinely different value still prunes
    sources.DeltaLog.readFiltered(spark, dir, col("p") === 6L)
    assert(sources.DeltaLog.lastFilesScanned == 0)
    // a string literal against the long column is undecidable for the
    // pruner (kept) but still correct through the scan filter
    assert(sources.DeltaLog.readFiltered(spark, dir,
      col("p") === "5").count() == 1)
  }

  test("q185 gate shape: vacuum reclaims DV + originals, horizon enforced") {
    val got = sources.DeltaLog.deltaRetentionRead(spark, sfDir)
    val orders = Tables.load(spark, sfDir, "orders")
    assert(got.count() == orders.filter(col("o_orderkey") % 10 =!= 0).count())
    val t = sources.DeltaLog.ordersRetentionTable(spark, sfDir)
    // the current snapshot reads from the two compacted files alone
    val st = sources.DeltaLog.replay(t, sources.DeltaLog.versions(t).last)
    assert(st.files.size == 2, s"post-OPTIMIZE files: ${st.files}")
    assert(st.adds.values.forall(_.dv.isEmpty),
      "the compaction folded every DV — none may survive on the adds")
    // no DV file remains on disk anywhere under the table
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    assert(!walk(new java.io.File(t)).exists(
        _.getName.startsWith("deletion_vector_")),
      "vacuum must have reclaimed the expired DV file")
    // time travel PAST the horizon fails loudly on missing files,
    // never reads wrong data
    intercept[Exception] {
      sources.DeltaLog.readVersion(spark, t, 0L).collect()
    }
    // a second vacuum is a no-op, not a repeat report
    assert(sources.DeltaLog.vacuum(t, keepVersions = 1).isEmpty)
  }

  test("q172 gate shape: stacked DV deletes, data files unrewritten") {
    val got = sources.DeltaLog.deltaDvRead(spark, sfDir)
    val orders = Tables.load(spark, sfDir, "orders")
    assert(got.count() == orders.filter(
      col("o_orderkey") % 10 =!= 0 && col("o_orderkey") % 7 =!= 0).count())
  }

  test("readFiltered: predicate conjuncts drive partition + stats pruning") {
    // partition pruning from an equality conjunct (q176 gate shape)
    val t = sources.DeltaLog.ordersPartitionedTable(spark, sfDir)
    val got = sources.DeltaLog.readFiltered(spark, t,
      col("o_orderstatus") === "O" && col("o_custkey") <= 750L)
    val scanned = sources.DeltaLog.lastFilesScanned
    sources.DeltaLog.readWhere(spark, t)(
      pv => pv.get("o_orderstatus").contains("O"))
    assert(scanned <= sources.DeltaLog.lastFilesScanned,
      "pushdown must prune at least as hard as the explicit readWhere")
    val orders = Tables.load(spark, sfDir, "orders")
    assert(got.count() == orders.filter(
      col("o_orderstatus") === "O" && col("o_custkey") <= 750L).count())
    // stats skipping from a range conjunct, no explicit API call
    val rt = sources.DeltaLog.ordersRangeTable(spark, sfDir)
    val pruned = sources.DeltaLog.readFiltered(spark, rt,
      col("o_orderkey") >= 100L && col("o_orderkey") <= 999L)
    val prunedFiles = sources.DeltaLog.lastFilesScanned
    sources.DeltaLog.read(spark, rt)
    assert(prunedFiles < sources.DeltaLog.lastFilesScanned,
      s"range conjunct must data-skip ($prunedFiles files)")
    assert(pruned.count() == orders.filter(
      col("o_orderkey").between(100, 999)).count())
    // an unprunable conjunct costs nothing and loses nothing
    val all = sources.DeltaLog.readFiltered(spark, rt,
      col("o_orderpriority").isNotNull)
    assert(all.count() == orders.filter(
      col("o_orderpriority").isNotNull).count())
  }

  test("checkpoint protocol row carries writerFeatures at reader v3") {
    val dir = Files.createTempDirectory("dlwf").toString + "/t"
    val df = (1L to 50L).map(k => (k, s"s$k")).toDF("k", "s")
    sources.DeltaLog.commitOverwrite(df.repartition(2), dir)
    sources.DeltaLog.deleteWhere(spark, dir, col("k") % 5 === 0)
    sources.DeltaLog.checkpoint(spark, dir)
    val ckpt = new java.io.File(s"$dir/_delta_log").listFiles()
      .filter(_.getName.endsWith(".checkpoint.parquet")).head
    val proto = spark.read.parquet(ckpt.getPath)
      .select("protocol.*")
      .where(col("minReaderVersion").isNotNull)
      .collect().toSeq
    assert(proto.size == 1)
    assert(proto.head.getAs[Int]("minReaderVersion") == 3)
    assert(proto.head.getAs[Int]("minWriterVersion") == 7)
    assert(proto.head.getAs[scala.collection.Seq[String]](
      "readerFeatures").toSeq == Seq("deletionVectors"))
    // minWriterVersion 7 REQUIRES a writerFeatures list — a real
    // Delta client replaying from a checkpoint without it rejects
    // the table even though the JSON commits carried both lists
    assert(proto.head.getAs[scala.collection.Seq[String]](
      "writerFeatures").toSeq == Seq("deletionVectors"))
    // and the checkpoint still seeds a correct read
    assert(sources.DeltaLog.read(spark, dir).count() == 40)
    assert(sources.DeltaLog.lastJsonCommitsRead == 0)
  }

  test("DV commit listing its add BEFORE the paired remove replays same") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("dlreord").toString + "/t"
    val df = (1L to 60L).map(k => (k, s"s$k")).toDF("k", "s")
    sources.DeltaLog.commitOverwrite(df.repartition(2), dir)
    sources.DeltaLog.deleteWhere(spark, dir, col("k") % 6 === 0)
    // rewrite commit 1 with add actions FIRST — action order within
    // a commit is not pinned by the spec (file actions key on
    // (path, dvId) there), so an external writer may list the DV
    // re-add before its paired remove; a sequential path-keyed
    // replay would let the remove delete the just-updated add
    val cf = Paths.get(f"$dir/_delta_log/${1L}%020d.json")
    val lines = Files.readAllLines(cf).asScala.filter(_.nonEmpty).toSeq
    val adds = lines.filter(_.startsWith("""{"add""""))
    val removes = lines.filter(_.startsWith("""{"remove""""))
    val other = lines.filterNot(l => adds.contains(l) || removes.contains(l))
    assert(adds.nonEmpty && removes.nonEmpty)
    Files.delete(cf)
    Files.write(cf, (other ++ adds ++ removes)
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    val expect = (1L to 60L).filterNot(_ % 6 == 0)
    assert(sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == expect)
    // CDF diffs the same bitmaps regardless of intra-commit order
    val cdf = sources.DeltaLog.readChanges(spark, dir, 0L, 1L).collect()
      .map(r => (r.getLong(0), r.getAs[String]("_change_type")))
    assert(cdf.count(_._2 == "insert") == 60)
    assert(cdf.filter(_._2 == "delete").map(_._1).sorted.toSeq ==
      (1L to 60L).filter(_ % 6 == 0))
  }

  test("q167 gate shape: mapped readback post-rename") {
    val got = sources.DeltaLog.deltaMappedRead(spark, sfDir)
    val orders = Tables.load(spark, sfDir, "orders")
    assert(got.count() == orders.count())
    assert(got.schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "priority"))
    // mapping metadata is stripped from the surfaced schema
    assert(got.schema.fields.forall(
      !_.metadata.contains("delta.columnMapping.physicalName")))
  }

  test("q187 gate shape: mode=id resolves by field id, survives physicalName drift") {
    val got = sources.DeltaLog.deltaMappedIdRead(spark, sfDir)
    val orders = Tables.load(spark, sfDir, "orders")
    assert(got.count() == orders.count())
    assert(got.schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "priority"))
    val t = sources.DeltaLog.ordersMappedIdTable(spark, sfDir)
    // the data files genuinely spell physical names — a bare read
    // surfaces col-<uuid> columns, so logical-name matching CANNOT
    // be what resolved the table read
    val st = sources.DeltaLog.replay(t, sources.DeltaLog.versions(t).last)
    val bare = spark.read.parquet(s"$t/${st.files.head}")
    assert(bare.schema.fieldNames.forall(_.startsWith("col-")))
    // drift: commit a metaData whose physicalName annotations are
    // GARBAGE but whose ids are intact — id resolution must not
    // notice (this is the migration scenario id mode exists for);
    // name-mode resolution would read nothing but NULLs
    import org.apache.spark.sql.types.MetadataBuilder
    val drifted = org.apache.spark.sql.types.StructType(
      st.schema.fields.map { f =>
        f.copy(metadata = new MetadataBuilder()
          .putLong("delta.columnMapping.id",
            f.metadata.getLong("delta.columnMapping.id"))
          .putString("delta.columnMapping.physicalName",
            s"drifted-${f.name}")
          .build())
      })
    val v = sources.DeltaLog.versions(t).last + 1
    assert(sources.DeltaLog.writeActions(t, v, Seq(
      sources.DeltaLog.metaDataAction(drifted, Seq.empty,
        Map("delta.columnMapping.mode" -> "id",
          "delta.columnMapping.maxColumnId" ->
            st.schema.length.toString)))))
    try {
      val post = sources.DeltaLog.read(spark, t)
      assert(post.count() == orders.count())
      assert(post.select("o_orderkey").collect().map(_.getLong(0)).sorted
        .toSeq == orders.select("o_orderkey").collect()
        .map(_.getLong(0)).sorted.toSeq)
    } finally {
      // roll the drift commit back off the log so the session-cached
      // table serves q187 unchanged afterwards
      Files.delete(Paths.get(f"$t/_delta_log/$v%020d.json"))
    }
  }

  test("filters push through the mapped projection into the physical scan") {
    val t = sources.DeltaLog.ordersMappedTable(spark, sfDir)
    val st = sources.DeltaLog.replay(t, sources.DeltaLog.versions(t).last)
    val physKey = st.columnMapping("o_orderkey")
    // a LOGICAL-name filter over the mapped read must reach the
    // parquet scan as a PHYSICAL-name pushed filter — the rename is
    // an alias projection Catalyst pushes straight through; a
    // mapping built as an opaque UDF barrier would scan everything
    val df = sources.DeltaLog.read(spark, t)
      .filter(col("o_orderkey") === 42L)
    val pushed = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metadata("PushedFilters")
      }.get
    assert(pushed.contains(s"EqualTo(`$physKey`, 42)") ||
        pushed.contains(s"EqualTo(`$physKey`,42)") ||
        pushed.contains(s"EqualTo($physKey,42)"),
      s"expected a pushed physical-name equality in: $pushed")
  }

  test("checkpoint-seeded replay composes with mapping and DVs, both modes") {
    // mode=name + DV + checkpoint: the checkpoint must carry the
    // mapping config, both reader features, and the DV descriptors —
    // a replay seeded from it answers identically
    val dir = Files.createTempDirectory("dlogckm").toString + "/t"
    sources.DeltaLog.commitOverwriteMapped(
      (1L to 30L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    sources.DeltaLog.deleteWhere(spark, dir, col("k") % 3 === 0)
    sources.DeltaLog.checkpoint(spark, dir)
    // a post-checkpoint stacked delete rides the JSON tail
    sources.DeltaLog.deleteWhere(spark, dir, col("k") % 5 === 0)
    val got = sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (1L to 30L).filter(i => i % 3 != 0 && i % 5 != 0))
    assert(sources.DeltaLog.lastJsonCommitsRead == 1,
      "replay must seed from the checkpoint and read only the tail")
    // mode=id twin
    val dir2 = Files.createTempDirectory("dlogcki").toString + "/t"
    sources.DeltaLog.commitOverwriteMappedId(
      (1L to 20L).map(i => (i, s"s$i")).toDF("k", "s"), dir2)
    sources.DeltaLog.renameColumnMapped(dir2, "s", "label")
    sources.DeltaLog.checkpoint(spark, dir2)
    val post = sources.DeltaLog.read(spark, dir2)
    assert(post.schema.fieldNames.toSeq == Seq("k", "label"))
    assert(post.count() == 20)
    assert(sources.DeltaLog.lastJsonCommitsRead == 0,
      "the id-mode table replays entirely from its checkpoint")
  }

  test("q194 gate shape: nested mapping resolves every level, null structs stay null") {
    val got = sources.DeltaLog.deltaNestedMappedRead(spark, sfDir)
    val orders = Tables.load(spark, sfDir, "orders")
    assert(got.count() == orders.count())
    assert(got.schema.fieldNames.toSeq == Seq("o_orderkey", "o_custkey",
      "o_orderstatus", "o_totalprice", "priority"))
    // the data files spell physical names at EVERY nesting level
    val t = sources.DeltaLog.ordersNestedMappedTable(spark, sfDir)
    val st = sources.DeltaLog.replay(t, sources.DeltaLog.versions(t).last)
    val bare = spark.read.parquet(s"$t/${st.files.head}")
    assert(bare.schema.fieldNames.forall(_.startsWith("col-")))
    val inner = bare.schema.fields.collect {
      case f if f.dataType.isInstanceOf[
          org.apache.spark.sql.types.StructType] =>
        f.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
          .fieldNames.toSeq
    }.flatten
    assert(inner.nonEmpty && inner.forall(_.startsWith("col-")),
      s"inner fields must be physical too, got $inner")
    // NULL parents stay NULL through the logical reconstruction
    val dir2 = Files.createTempDirectory("dlognull").toString + "/t"
    import org.apache.spark.sql.functions.{struct, when}
    val df = (1L to 4L).map(i => (i, s"s$i")).toDF("k", "s")
      .select(col("k"),
        when(col("k") % 2 === 0,
          struct(col("s").as("a"), (col("k") * 10).as("b")))
          .as("nest"))
    sources.DeltaLog.commitOverwriteMapped(df, dir2)
    val back = sources.DeltaLog.read(spark, dir2)
    assert(back.filter(col("nest").isNull).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L),
      "a NULL struct must read back NULL, not a struct of NULLs")
    assert(back.filter(col("nest").isNotNull)
      .select(col("k"), col("nest.a"), col("nest.b")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq == Seq((2L, "s2", 20L), (4L, "s4", 40L)))
    // a nested rename on dir2 is metadata-only: zero add/remove
    val rv = sources.DeltaLog.renameColumnMapped(dir2, "nest.a", "alpha")
    val lines = Files.readAllLines(
      Paths.get(f"$dir2/_delta_log/$rv%020d.json")).toArray.mkString
    assert(!lines.contains("\"add\"") && !lines.contains("\"remove\""))
    assert(sources.DeltaLog.read(spark, dir2)
      .select("nest.alpha").na.drop().count() == 2)
    // SPEC INVARIANT: maxColumnId >= every assigned mapping id. Ids
    // are assigned depth-first across NESTED fields (k, nest, nest.a,
    // nest.b = 4 ids here), so a rename that recorded the top-level
    // field count (2) would regress below assigned ids and an
    // external writer adding a column would REUSE them
    val st2 = sources.DeltaLog.replay(dir2,
      sources.DeltaLog.versions(dir2).last)
    val recorded = st2.configuration("delta.columnMapping.maxColumnId")
      .toLong
    val assigned = sources.DeltaLog.maxMappedId(st2.schema)
    assert(assigned >= 4,
      s"nested ids should be depth-first (got max $assigned)")
    assert(recorded >= assigned,
      s"maxColumnId $recorded regressed below assigned id $assigned")
    // evolveSchema on a mapped table (round 13: refusal → feature)
    // keeps every existing annotation and mints the new column a
    // FRESH id PAST the recorded maxColumnId — id reuse would make
    // an external writer's files resolve to the wrong column
    sources.DeltaLog.evolveSchema(dir2,
      org.apache.spark.sql.types.StructType(st2.schema.fields :+
        org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.LongType)))
    val st3 = sources.DeltaLog.replay(dir2,
      sources.DeltaLog.versions(dir2).last)
    val extraId = st3.schema("extra").metadata
      .getLong("delta.columnMapping.id")
    assert(extraId > recorded,
      s"evolved id $extraId must mint past maxColumnId $recorded")
    assert(st3.configuration("delta.columnMapping.maxColumnId")
      .toLong >= extraId)
    assert(st3.schema("nest").metadata
      .getString("delta.columnMapping.physicalName") ==
      st2.schema("nest").metadata
        .getString("delta.columnMapping.physicalName"),
      "kept fields keep their annotations")
    // pre-evolution files null-fill the evolved column on read
    val evolvedRead = sources.DeltaLog.read(spark, dir2)
    assert(evolvedRead.schema.fieldNames.contains("extra"))
    assert(evolvedRead.filter(col("extra").isNull).count() ==
      evolvedRead.count())
  }

  test("nested mode=id: pruned single-field projections carry VALUES") {
    // the round-13 experiment shape: a projection of ONE nested
    // field makes Spark's nested schema pruning rebuild the struct
    // WITHOUT parquet.field.id metadata — a field-id read silently
    // NULLs. The physical-name resolution must return real values.
    import org.apache.spark.sql.functions.struct
    val dir = Files.createTempDirectory("dlognid").toString + "/t"
    val df = (1L to 50L).map(i => (i, s"s$i", i * 10L))
      .toDF("k", "s", "v")
      .select(col("k"),
        struct(col("s").as("a"), col("v").as("b")).as("nest"))
    sources.DeltaLog.commitOverwriteMappedId(df, dir)
    // single-nested-field projection — the pruning trigger
    val got = sources.DeltaLog.read(spark, dir)
      .select(col("k"), col("nest.a"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(7L) == "s7" && got.size == 50,
      s"nested id-mode projection must carry values, got ${got.take(3)}")
    assert(!got.values.exists(_ == null),
      "an all-NULL nested projection is the field-id-stripping bug")
    // nested rename stays metadata-only and resolves post-rename
    val rv = sources.DeltaLog.renameColumnMapped(dir, "nest.a", "alpha")
    val lines = Files.readAllLines(
      Paths.get(f"$dir/_delta_log/$rv%020d.json")).toArray.mkString
    assert(!lines.contains("\"add\"") && !lines.contains("\"remove\""))
    val post = sources.DeltaLog.read(spark, dir)
      .select(col("k"), col("nest.alpha"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(post(7L) == "s7" && post.size == 50)
    // DV delete composes: nested id-mode table, merge-on-read
    sources.DeltaLog.deleteWhere(spark, dir, col("k") % 5L === 0L)
    val afterDel = sources.DeltaLog.read(spark, dir)
    assert(afterDel.count() == 40)
    assert(afterDel.select(col("nest.alpha")).na.drop().count() == 40)
    // flat id-mode tables still ride the native field-id matcher
    // (q187's contract) — nothing regressed for them
    val flat = Files.createTempDirectory("dlognidf").toString + "/t"
    sources.DeltaLog.commitOverwriteMappedId(
      (1L to 5L).map(i => (i, s"x$i")).toDF("k", "s"), flat)
    assert(sources.DeltaLog.read(spark, flat)
      .collect().map(_.getString(1)).sorted.toSeq ==
      (1 to 5).map(i => s"x$i"))
  }

  test("CHECK constraints and generated columns refuse bad writes") {
    val dir = Files.createTempDirectory("dlconstraint").toString + "/t"
    sources.DeltaLog.commitOverwrite(
      (1L to 10L).map(i => (i, i % 5 + 1, i * 2)).toDF("k", "score", "dbl"),
      dir)
    // adding a constraint EXISTING data violates refuses
    val e0 = intercept[IllegalArgumentException] {
      sources.DeltaLog.addCheckConstraint(spark, dir,
        "score_low", "score <= 3")
    }
    assert(e0.getMessage.contains("existing rows already violate"))
    // the reference's own CHECK shape: score BETWEEN 1 AND 5
    sources.DeltaLog.addCheckConstraint(spark, dir,
      "score_range", "score BETWEEN 1 AND 5")
    sources.DeltaLog.addGenerationExpression(spark, dir, "dbl", "k * 2")
    // violating APPEND refuses, NAMING the constraint; nothing lands
    val vBefore = sources.DeltaLog.versions(dir).last
    val e1 = intercept[IllegalArgumentException] {
      sources.DeltaLog.commitAppend(
        Seq((11L, 9L, 22L)).toDF("k", "score", "dbl"), dir)
    }
    assert(e1.getMessage.contains("score_range") &&
      e1.getMessage.contains("BETWEEN"), e1.getMessage)
    // violating generated column refuses
    val e2 = intercept[IllegalArgumentException] {
      sources.DeltaLog.commitAppend(
        Seq((11L, 3L, 23L)).toDF("k", "score", "dbl"), dir)
    }
    assert(e2.getMessage.contains("generated column 'dbl'"))
    assert(sources.DeltaLog.versions(dir).last == vBefore,
      "a refused write must commit nothing")
    // NULL passes CHECK (SQL semantics: violation only on FALSE)
    sources.DeltaLog.commitAppend(Seq((11L, Option.empty[Long], 22L))
      .toDF("k", "score", "dbl"), dir)
    // compliant MERGE lands; violating MERGE refuses
    sources.DeltaLog.mergeInto(spark, dir,
      Seq((1L, 5L, 2L)).toDF("k", "score", "dbl"), Seq("k"))
    val e3 = intercept[IllegalArgumentException] {
      sources.DeltaLog.mergeInto(spark, dir,
        Seq((1L, 7L, 2L)).toDF("k", "score", "dbl"), Seq("k"))
    }
    assert(e3.getMessage.contains("score_range"))
    // metadata ROUND-TRIPS through the checkpoint: enforcement still
    // fires on a checkpoint-seeded replay
    sources.DeltaLog.checkpoint(spark, dir)
    val e4 = intercept[IllegalArgumentException] {
      sources.DeltaLog.commitAppend(
        Seq((12L, 0L, 24L)).toDF("k", "score", "dbl"), dir)
    }
    assert(e4.getMessage.contains("score_range"))
    // and through a foreign-shaped replay: the raw configuration
    // carries the constraint key for any real Delta client
    val st = sources.DeltaLog.replay(dir,
      sources.DeltaLog.versions(dir).last)
    assert(st.configuration("delta.constraints.score_range") ==
      "score BETWEEN 1 AND 5")
    assert(st.schema("dbl").metadata
      .getString("delta.generationExpression") == "k * 2")
    assert(sources.DeltaLog.read(spark, dir).count() == 11)
  }

  test("mapped evolveSchema survives a stale or garbled maxColumnId") {
    // a FOREIGN mapped table can carry a maxColumnId below its
    // actually-assigned ids (or plain garbage): minting from the
    // config alone would hand out ids that COLLIDE with existing
    // ones and id-keyed readers silently misresolve. The seed must
    // be max(schema's own max id, Try(config)).
    val dir = Files.createTempDirectory("dlogstale").toString + "/t"
    val df = (1L to 3L).map(i => (i, s"s$i")).toDF("k", "s")
    sources.DeltaLog.commitOverwriteMapped(df, dir)
    val st0 = sources.DeltaLog.replay(dir,
      sources.DeltaLog.versions(dir).last)
    val assigned = sources.DeltaLog.maxMappedId(st0.schema)
    // forge a STALE counter (0) — the foreign-writer failure mode
    sources.DeltaLog.setTableProperties(dir,
      Map("delta.columnMapping.maxColumnId" -> "0"))
    sources.DeltaLog.evolveSchema(dir,
      org.apache.spark.sql.types.StructType(st0.schema.fields :+
        org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.LongType)))
    val st1 = sources.DeltaLog.replay(dir,
      sources.DeltaLog.versions(dir).last)
    val extraId = st1.schema("extra").metadata
      .getLong("delta.columnMapping.id")
    assert(extraId > assigned,
      s"id $extraId minted under a stale counter collides with " +
        s"assigned ids <= $assigned")
    // and a NON-NUMERIC counter degrades to the schema seed instead
    // of a raw NumberFormatException
    sources.DeltaLog.setTableProperties(dir,
      Map("delta.columnMapping.maxColumnId" -> "not-a-number"))
    sources.DeltaLog.evolveSchema(dir,
      org.apache.spark.sql.types.StructType(st1.schema.fields :+
        org.apache.spark.sql.types.StructField("extra2",
          org.apache.spark.sql.types.LongType)))
    val st2 = sources.DeltaLog.replay(dir,
      sources.DeltaLog.versions(dir).last)
    assert(st2.schema("extra2").metadata
      .getLong("delta.columnMapping.id") > extraId)
  }

  test("q188 gate shape: DV x mapping composes, files unrewritten; id mode too") {
    val got = sources.DeltaLog.deltaMappedDvRead(spark, sfDir)
    val orders = Tables.load(spark, sfDir, "orders")
    assert(got.count() ==
      orders.filter(col("o_orderkey") % 10 =!= 0).count())
    assert(got.schema.fieldNames.last == "priority")
    val t = sources.DeltaLog.ordersMappedDvTable(spark, sfDir)
    // merge-on-read: the delete touched no data file — same paths
    // before and after, deletions live only in the bitmaps
    val pre = sources.DeltaLog.replay(t, 0L)
    val post = sources.DeltaLog.replay(t, sources.DeltaLog.versions(t).last)
    assert(post.files == pre.files)
    assert(post.adds.values.exists(_.dv.isDefined))
    // the protocol upgrade lists BOTH reader features
    val lines = Files.readAllLines(Paths.get(
      f"$t/_delta_log/${sources.DeltaLog.versions(t).last}%020d.json"))
      .toArray.mkString("\n")
    assert(lines.contains("deletionVectors") &&
      lines.contains("columnMapping"))
    // and the composition holds under mode=id as well
    val dir2 = Files.createTempDirectory("dlogiddv").toString + "/t"
    sources.DeltaLog.commitOverwriteMappedId(
      (1L to 20L).map(i => (i, s"s$i")).toDF("k", "s"), dir2)
    sources.DeltaLog.deleteWhere(spark, dir2, col("k") % 5 === 0)
    assert(sources.DeltaLog.read(spark, dir2)
      .collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 20L).filterNot(_ % 5 == 0))
  }

  test("multi-part checkpoint WRITING: spec names, parts pointer, seeded tail replay") {
    val dir = Files.createTempDirectory("dlogmp").toString + "/t"
    // 5 commits x 2 files; checkpoint at version 4 with a 4-action
    // cap -> protocol + metaData + 10 adds = 12 rows -> 3 parts
    (0 until 5).foreach(i =>
      sources.DeltaLog.commitAppend(
        Seq((i * 2L, s"a$i"), (i * 2 + 1L, s"b$i"))
          .toDF("k", "s").coalesce(2), dir))
    val v = sources.DeltaLog.checkpoint(spark, dir,
      maxActionsPerPart = 4L)
    assert(v == 4L)
    val log = new java.io.File(s"$dir/_delta_log")
    val parts = log.listFiles()
      .filter(_.getName.contains(".checkpoint."))
      .map(_.getName).sorted.toSeq
    assert(parts == Seq(
      f"$v%020d.checkpoint.${1}%010d.${3}%010d.parquet",
      f"$v%020d.checkpoint.${2}%010d.${3}%010d.parquet",
      f"$v%020d.checkpoint.${3}%010d.${3}%010d.parquet"),
      s"spec part names expected, got $parts")
    val lc = new String(Files.readAllBytes(
      Paths.get(s"$dir/_delta_log/_last_checkpoint")), "UTF-8")
    assert(lc.contains("\"parts\":3"), s"_last_checkpoint: $lc")
    // two commits after the checkpoint: a seeded read replays ONLY
    // the tail and the answer equals the full history's
    sources.DeltaLog.commitAppend(
      Seq((100L, "x")).toDF("k", "s").coalesce(1), dir)
    sources.DeltaLog.commitAppend(
      Seq((101L, "y")).toDF("k", "s").coalesce(1), dir)
    val got = sources.DeltaLog.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ((0L to 9L) ++ Seq(100L, 101L)))
    assert(sources.DeltaLog.lastJsonCommitsRead == 2,
      "a parts-seeded replay must read only the post-checkpoint tail")
  }

  test("foreign cdc actions are honored over add/remove derivation") {
    // a FOREIGN writer's MERGE commit (hand-spelled raw JSON): the
    // file churn is remove(a)+add(b) — whole-file — but the commit
    // carries a cdc action naming a _change_data file with the
    // writer's ROW-LEVEL truth. The protocol requires readers to use
    // the change file for that commit; deriving would report every
    // row of a deleted and every row of b inserted.
    val dir = Files.createTempDirectory("dlogcdc").toString
    val a = stagePart(dir, "a.parquet", Seq((1L, "one"), (2L, "two")))
    val b = stagePart(dir, "b.parquet",
      Seq((1L, "one"), (2L, "TWO-NEW"), (3L, "three")))
    // the change file carries the table columns + _change_type
    val tmp = Files.createTempDirectory("dlcdc").toString + "/w"
    Seq((2L, "two", "update_preimage"),
        (2L, "TWO-NEW", "update_postimage"),
        (3L, "three", "insert"))
      .toDF("k", "s", "_change_type").coalesce(1).write.parquet(tmp)
    val cdcPart = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(dir, "_change_data"))
    Files.move(cdcPart.toPath,
      Paths.get(dir, "_change_data/cdc-0.parquet"))
    writeLog(dir, 0, protocol, metaData(),
      s"""{"add":{"path":"$a","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    writeLog(dir, 1,
      """{"commitInfo":{"operation":"MERGE"}}""",
      """{"cdc":{"path":"_change_data/cdc-0.parquet","partitionValues":{},"size":1,"dataChange":false}}""",
      s"""{"remove":{"path":"$a","dataChange":true}}""",
      s"""{"add":{"path":"$b","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    // table state is unaffected by the cdc action
    assert(sources.DeltaLog.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "one"), (2L, "TWO-NEW"), (3L, "three")))
    val changes = sources.DeltaLog.readChanges(spark, dir, 0L, 1L)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[String]("_change_type"),
        r.getAs[Long]("_commit_version"))).toSet
    assert(changes == Set(
      (1L, "one", "insert", 0L),
      (2L, "two", "insert", 0L),
      (2L, "two", "update_preimage", 1L),
      (2L, "TWO-NEW", "update_postimage", 1L),
      (3L, "three", "insert", 1L)),
      s"cdc-action commit mis-derived: $changes")
    // and the streaming source agrees row-for-row (the change file's
    // own _change_type column, not a per-partition constant)
    val out = Files.createTempDirectory("dlogcdcs").toString
    val q = spark.readStream.format("graft-delta-cdf")
      .option("path", dir).load()
      .writeStream.format("parquet")
      .option("path", s"$out/sink")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$out/sink")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[String]("_change_type"),
        r.getAs[Long]("_commit_version"))).toSet
    assert(streamed == changes,
      "graft-delta-cdf must agree with batch readChanges on cdc commits")
  }

  test("CDF-enabled writers stamp cdc actions; readers round-trip them") {
    // this engine's own MERGE + DV delete under
    // delta.enableChangeDataFeed=true must serve a real Delta CDF
    // reader: change files on disk, cdc actions in the commits, and
    // our reader takes THEM (the q201 oracle proves values; here we
    // pin the protocol artifacts)
    val dir = Files.createTempDirectory("dlogcdcw").toString + "/t"
    sources.DeltaLog.commitOverwrite(
      (1L to 10L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    sources.DeltaLog.setTableProperties(dir,
      Map("delta.enableChangeDataFeed" -> "true"))
    sources.DeltaLog.mergeInto(spark, dir,
      Seq((2L, "m2"), (11L, "m11")).toDF("k", "s"), Seq("k"))
    sources.DeltaLog.deleteWhere(spark, dir, col("k") === 3L)
    val vs = sources.DeltaLog.versions(dir)
    assert(vs == Seq(0L, 1L, 2L, 3L))
    // both row-level commits carry cdc actions naming _change_data/
    Seq(2L, 3L).foreach { v =>
      val lines = Files.readAllLines(Paths.get(
        f"$dir/_delta_log/$v%020d.json")).toArray.mkString("\n")
      assert(lines.contains("\"cdc\"") &&
        lines.contains("_change_data/"),
        s"commit $v lacks a cdc action")
    }
    val changes = sources.DeltaLog.readChanges(spark, dir, 2L, 3L)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[String]("_change_type"),
        r.getAs[Long]("_commit_version"))).toSet
    assert(changes == Set(
      (2L, "s2", "update_preimage", 2L),
      (2L, "m2", "update_postimage", 2L),
      (11L, "m11", "insert", 2L),
      (3L, "s3", "delete", 3L)),
      s"CDF write round-trip mismatch: $changes")
    // a no-op merge (empty source) must not stamp a churn-only commit
    val v2 = sources.DeltaLog.mergeInto(spark, dir,
      Seq.empty[(Long, String)].toDF("k", "s"), Seq("k"))
    assert(v2 == 3L && sources.DeltaLog.versions(dir).last == 3L,
      "an empty merge on a CDF table must skip the commit")
  }

  test("protocol write fidelity: features activate the spec's versions") {
    def stOf(dir: String) =
      sources.DeltaLog.replay(dir, sources.DeltaLog.versions(dir).last)
    // plain table: the baseline (1, 2)
    val d1 = Files.createTempDirectory("proto1").toString + "/t"
    sources.DeltaLog.createTable(d1,
      new org.apache.spark.sql.types.StructType().add("k", "bigint"),
      Seq.empty)
    assert((stOf(d1).minReader, stOf(d1).minWriter) == (1, 2))
    // CDF declared at CREATE: writer 4 (the spec's changeDataFeed
    // legacy level) — a foreign writer that would not stamp cdc
    // actions must refuse; readers are untouched
    val d2 = Files.createTempDirectory("proto2").toString + "/t"
    sources.DeltaLog.createTable(d2,
      new org.apache.spark.sql.types.StructType().add("k", "bigint"),
      Seq.empty, Map("delta.enableChangeDataFeed" -> "true"))
    assert((stOf(d2).minReader, stOf(d2).minWriter) == (1, 4))
    // CHECK constraint added later: writer bumps to 3 in the SAME
    // commit that records the constraint
    sources.DeltaLog.commitAppend(
      Seq((1L, "a")).toDF("k", "s"), d1 + "c")
    sources.DeltaLog.addCheckConstraint(spark, d1 + "c", "kpos", "k > 0")
    assert(stOf(d1 + "c").minWriter == 3)
    // generated column: writer 4
    sources.DeltaLog.addGenerationExpression(spark, d1 + "c", "s",
      "concat('a', '')")
    assert(stOf(d1 + "c").minWriter == 4)
    // CDF enabled via properties post-hoc: writer 4 in one commit
    val d3 = Files.createTempDirectory("proto3").toString + "/t"
    sources.DeltaLog.commitAppend(Seq((1L, "x")).toDF("k", "s"), d3)
    sources.DeltaLog.setTableProperties(d3,
      Map("delta.enableChangeDataFeed" -> "true"))
    assert(stOf(d3).minWriter == 4)
    // DV delete on that table: (3, 7) feature lists — readerFeatures
    // carries deletionVectors only (CDF/constraints are WRITER
    // features; listing them reader-side would wrongly lock out
    // foreign readers), writerFeatures carries the full surface
    sources.DeltaLog.deleteWhere(spark, d3, col("k") === 99L) // no match
    sources.DeltaLog.commitAppend(Seq((2L, "y")).toDF("k", "s"), d3)
    sources.DeltaLog.deleteWhere(spark, d3, col("k") === 1L)
    val st3 = stOf(d3)
    assert((st3.minReader, st3.minWriter) == (3, 7))
    assert(st3.readerFeatures == Set("deletionVectors"),
      s"reader features must stay minimal, got ${st3.readerFeatures}")
    assert(Set("deletionVectors", "changeDataFeed", "appendOnly",
      "invariants").subsetOf(st3.writerFeatures),
      s"writer surface incomplete: ${st3.writerFeatures}")
    // and the CDF stream still reads its own post-upgrade commits
    assert(sources.DeltaLog.readChanges(spark, d3, 3L, 3L)
      .filter("_change_type = 'delete'").count() == 1)
    // a FOREIGN-authored feature-listed log still reads
    val d4 = Files.createTempDirectory("proto4").toString + "/t"
    val a4 = stagePart(d4, "a4.parquet", Seq((5L, "z")))
    writeLog(d4, 0,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,
        |"writerFeatures":["appendOnly","invariants","icebergCompatV2"]}}"""
        .stripMargin.replace("\n", ""),
      metaData(),
      s"""{"add":{"path":"$a4","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    assert(sources.DeltaLog.read(spark, d4).count() == 1,
      "unknown WRITER features must not block reading")
    assert(stOf(d4).writerFeatures.contains("icebergCompatV2"),
      "foreign writer features must be carried, not dropped")
    // ... but ALL commits refuse — appends included since the
    // round-17 writer gate (a blind add could corrupt whatever
    // icebergCompatV2 maintains per-file for foreign readers)
    val e4a = intercept[IllegalArgumentException] {
      sources.DeltaLog.commitAppend(Seq((6L, "w")).toDF("k", "s"), d4)
    }
    assert(e4a.getMessage.contains("icebergCompatV2"))
    val e4 = intercept[IllegalArgumentException] {
      sources.DeltaLog.deleteWhere(spark, d4, col("k") === 5L)
    }
    assert(e4.getMessage.contains("icebergCompatV2"))
    // legacy minWriterVersion 6 (identity columns): same refusal on
    // every mutating entry point
    val d5 = Files.createTempDirectory("proto5").toString + "/t"
    val a5 = stagePart(d5, "a5.parquet", Seq((1L, "a")))
    writeLog(d5, 0,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""",
      metaData(),
      s"""{"add":{"path":"$a5","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    val e5a = intercept[IllegalArgumentException] {
      sources.DeltaLog.commitAppend(Seq((2L, "b")).toDF("k", "s"), d5)
    }
    assert(e5a.getMessage.contains("minWriterVersion 6"))
    val e5 = intercept[IllegalArgumentException] {
      sources.DeltaLog.mergeInto(spark, d5,
        Seq((1L, "b")).toDF("k", "s"), Seq("k"))
    }
    assert(e5.getMessage.contains("minWriterVersion 6"))
  }

  test("delta.appendOnly forbids row-removing commits") {
    val dir = Files.createTempDirectory("aponly").toString + "/t"
    sources.DeltaLog.createTable(dir,
      new org.apache.spark.sql.types.StructType()
        .add("k", "bigint").add("s", "string"),
      Seq.empty, Map("delta.appendOnly" -> "true"))
    sources.DeltaLog.commitAppend(
      (1L to 6L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    sources.DeltaLog.commitAppend(
      Seq((7L, "s7")).toDF("k", "s"), dir) // appends stay free
    val e = intercept[IllegalArgumentException] {
      sources.DeltaLog.deleteWhere(spark, dir, col("k") === 3L)
    }
    assert(e.getMessage.contains("appendOnly"))
    val e2 = intercept[IllegalArgumentException] {
      sources.DeltaLog.mergeInto(spark, dir,
        Seq((3L, "x")).toDF("k", "s"), Seq("k"))
    }
    assert(e2.getMessage.contains("appendOnly"))
    // OPTIMIZE-class rewrites (same rows, dataChange=false) stay
    // allowed, as real Delta allows
    sources.DeltaLog.compact(spark, dir, targetFiles = 1)
    assert(sources.DeltaLog.read(spark, dir).count() == 7)
  }

  test("add.stats record INT32 bounds and prune on them; Iceberg keeps INT64 only") {
    // an INT column's footer bounds are INT32 statistics: Delta's
    // add.stats record them (min/max as JSON numbers) so readWhereStats
    // prunes on int keys; a DATE (INT32 + DATE annotation) is not an
    // integer and records none. Iceberg's manifest bound encoding here
    // is the 8-byte long form, so the SAME frame committed as Iceberg
    // must carry no INT32 bounds at all.
    val base = Files.createTempDirectory("dlint32").toString
    val df = (1 to 100).map(i => (i, i * 3L, java.sql.Date.valueOf(
        java.time.LocalDate.of(2020, 1, 1).plusDays(i.toLong))))
      .toDF("i", "l", "d").repartitionByRange(4, col("i"))
    val t = s"$base/delta"
    sources.DeltaLog.commitOverwrite(df, t)
    val adds = sources.DeltaLog.replay(t, 0L).adds.values.toSeq
    assert(adds.size == 4)
    assert(adds.forall(a => a.longBounds.contains("i") &&
      a.longBounds.contains("l") && !a.longBounds.contains("d")),
      s"add.stats bounds: ${adds.map(_.longBounds.keySet)}")
    assert(adds.map(_.longBounds("i")._1).min == 1L &&
      adds.map(_.longBounds("i")._2).max == 100L)
    assert(sources.DeltaLog.readWhereStats(spark, t, Seq(("i", 1L, 10L)))
      .filter(col("i").between(1, 10)).count() == 10)
    assert(sources.DeltaLog.lastFilesScanned > 0 &&
      sources.DeltaLog.lastFilesScanned < 4,
      s"INT32 bounds must prune: scanned " +
        s"${sources.DeltaLog.lastFilesScanned} of 4")
    val it = s"$base/iceberg"
    sources.Iceberg.commitOverwrite(df, it)
    val files = sources.Iceberg.filesTable(spark, it)
      .filter(col("content") === 0).collect()
    assert(files.length == 4)
    files.foreach { r =>
      val mins = r.getAs[scala.collection.Map[String, Long]]("min_values")
      assert(mins.contains("l") && !mins.contains("i") &&
        !mins.contains("d"),
        s"Iceberg manifest bounds must stay INT64-only, got ${mins.keySet}")
    }
  }

  test("a commit whose data dir lists empty refuses, never publishes zero adds") {
    // java.io cannot list a `file:` URI: the data job lands its files
    // but the listing comes back empty. Committing that listing would
    // publish a version with zero adds — silent data loss. The writer
    // must refuse descriptively and publish nothing.
    val local = Files.createTempDirectory("dluri").toString
    val uri = s"file:$local/t"
    val e = intercept[IllegalStateException] {
      sources.DeltaLog.commitOverwrite(
        (1L to 10L).map(k => (k, s"v$k")).toDF("k", "s"), uri)
    }
    assert(e.getMessage.contains("zero adds"), e.getMessage)
    assert(sources.DeltaLog.versions(uri).isEmpty &&
      sources.DeltaLog.versions(s"$local/t").isEmpty,
      "no version may be published for an unlisted data dir")
    // and a plain-path commit still publishes non-empty stats that
    // prune — the end-to-end contract the guard protects
    val t = s"$local/t2"
    sources.DeltaLog.commitOverwrite(
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "s")
        .repartitionByRange(4, col("k")), t)
    assert(sources.DeltaLog.replay(t, 0L).adds.size == 4)
    sources.DeltaLog.readWhereStats(spark, t, Seq(("k", 1L, 10L))).count()
    assert(sources.DeltaLog.lastFilesScanned > 0 &&
      sources.DeltaLog.lastFilesScanned < 4)
  }

  test("schema evolution: absent stats columns never prune (superset)") {
    import org.apache.spark.sql.types.LongType
    val t = Files.createTempDirectory("dlevostats").toString + "/t"
    // the first commit has stats on k only — column x does not exist
    sources.DeltaLog.commitOverwrite(
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "s")
        .repartitionByRange(4, col("k")), t)
    val st0 = sources.DeltaLog.replay(t, 0L)
    // a range over the FUTURE column x must keep every file: no stats
    // can never prove no match (and must not throw)
    assert(sources.DeltaLog.statsPruned(st0, Seq(("x", 0L, 10L)))
      .adds.size == 4, "absent-column range pruned files")
    // mixed box: the k half still prunes, the x half is ignored
    val mix = sources.DeltaLog.statsPruned(st0,
      Seq(("k", 1L, 10L), ("x", 0L, 10L))).adds.size
    assert(mix < 4 && mix > 0)
    // x arrives WITH stats: its files prune on x, the pre-x files
    // (no x bounds) are always kept
    sources.DeltaLog.evolveSchema(t, st0.schema.add("x", LongType))
    sources.DeltaLog.commitAppend(
      (1L to 100L).map(k => (k, s"v$k", k * 10))
        .toDF("k", "s", "x").repartitionByRange(4, col("x")), t)
    val evolved = sources.DeltaLog.readWhereStats(spark, t,
      Seq(("x", 10L, 100L)))
    val scanned = sources.DeltaLog.lastFilesScanned
    assert(scanned > 4 && scanned < 8,
      s"x range kept $scanned of 8: every pre-x file plus a strict " +
        "subset of the x-bearing ones")
    // and the evolved read-back is complete under the merged contract
    assert(evolved.filter(col("x").isNull).count() == 100)
  }

  /** Every sidecar row of `t` must be BIT-IDENTICAL to the
    * expression-only build — explode(pmod(xxhash64(key, i), m)) +
    * groupBy(file, word) over the live files — with each file's
    * filter sized from its OWN add.stats numRecords
    * (`sidecarBloomBits`), one geometry per (file, column); else
    * readers would probe a different filter than the writer built. */
  private def assertSidecarIsExpressionBuild(t: String,
      cols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    val st = sources.DeltaLog.replay(t, sources.DeltaLog.versions(t).last)
    def base(p: String) = p.substring(p.lastIndexOf('/') + 1)
    val rows: Map[String, Long] = st.adds.map { case (p, a) =>
      base(p) -> a.stats.flatMap(sources.DeltaLog.statsNumRecords).get }
    def parquetUnder(d: java.io.File): Seq[String] =
      if (d.isDirectory) d.listFiles().toSeq.flatMap(parquetUnder)
      else if (d.getName.endsWith(".parquet")) Seq(d.getPath)
      else Seq.empty
    val sidecar = spark.read.parquet(parquetUnder(
      new java.io.File(t, sources.DeltaLog.BloomSidecarDir)): _*)
    val geoms = sidecar.select("file", "colname", "m_bits").distinct()
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(geoms.map(g => (g._1, g._2)).distinct.length == geoms.length,
      s"a (file, column) carries two geometries: ${geoms.toSeq}")
    geoms.foreach { case (f, c, m) =>
      assert(m == sources.DeltaLog.sidecarBloomBits(rows(f)),
        s"$f.$c: m_bits $m must be sized from its own add.stats " +
          s"(${rows(f)} rows)")
    }
    val sizes = rows.toSeq.map { case (f, n) =>
      (f, sources.DeltaLog.sidecarBloomBits(n)) }.toDF("file", "m")
    val reread = spark.read.parquet(st.files.map(p => s"$t/$p"): _*)
      .withColumn("file", col("_metadata.file_name"))
      .join(broadcast(sizes), "file")
    val old = cols.map { c =>
      val positions = (0 until sources.DeltaLog.BloomHashes).map(i =>
        pmod(xxhash64(col(c).cast("long"), lit(i.toLong)),
          col("m").cast("long")))
      reread.filter(col(c).isNotNull)
        .select(col("file"), col("m"), explode(array(positions: _*)).as("pos"))
        .groupBy(col("file"), (col("pos") / 64).cast("int").as("word"),
          col("m").as("m_bits"))
        .agg(expr(
          "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))")
          .as("bits"))
        .withColumn("colname", lit(c))
    }.reduce(_.unionByName(_))
      .select("file", "word", "bits", "colname", "m_bits")
    val got = sidecar.select("file", "word", "bits", "colname", "m_bits")
    assert(got.exceptAll(old).isEmpty && old.exceptAll(got).isEmpty,
      s"$t: sidecar rows diverge from the expression build")
    assert(got.count() == old.count() && got.count() > 0)
  }

  test("BloomWords-built bloom sidecar equals the expression-built rows") {
    // both builders: the commit's write tasks (per-file words in the
    // commit messages) and bloomBackfill's BloomWords aggregate over
    // files committed before the property was set
    val dir = Files.createTempDirectory("dlbloomwords").toString
    val df = (1L to 5000L).map(k => (k * 7919L % 100000L, s"p$k"))
      .toDF("k", "s").repartition(4, col("k"))
    val t = s"$dir/t"
    sources.DeltaLog.createTable(t, df.schema, Seq.empty,
      Map(sources.DeltaLog.BloomColsProp -> "k"))
    sources.DeltaLog.commitOverwrite(df, t)
    assertSidecarIsExpressionBuild(t, Seq("k"))
    val u = s"$dir/u"
    sources.DeltaLog.commitOverwrite(df, u)
    sources.DeltaLog.setTableProperties(u,
      Map(sources.DeltaLog.BloomColsProp -> "k"))
    val live = sources.DeltaLog.replay(u, 1L).files.size
    assert(sources.DeltaLog.bloomBackfill(spark, u) == live)
    assertSidecarIsExpressionBuild(u, Seq("k"))
  }

  test("Delta commits take add.stats and bloom words from their write tasks") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions._
    // three files of 100 / 1000 / 5000 rows (three bloom geometries),
    // no shuffle: the commit's own data job is the caller's only job
    val df = spark.range(0, 15000, 1, 3)
      .filter(col("id") < 100 || col("id").between(5000, 5999) ||
        col("id") >= 10000)
      .select((col("id") * 7919L % 100003L).as("k"),
        when(col("id") % 10 === 0, lit(null))
          .otherwise((col("id") % 1000 - 500).cast("int")).as("i"),
        expr("CAST((id - 3000) * 1.25 AS DECIMAL(18,2))").as("d"),
        (col("id") % 2).cast("string").as("p"))
    val props = Map(sources.DeltaLog.BloomColsProp -> "k,i")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.name).mkString("; "))
    }
    /** Run one commit; assert its job budget and that the driver
      * opened no footer. */
    def committed(name: String)(commit: => Unit): Unit = {
      org.apache.spark.ListenerSync.drain(spark.sparkContext)
      jobs.clear()
      val opens = sources.Iceberg.driverFooterOpens
      commit
      org.apache.spark.ListenerSync.drain(spark.sparkContext)
      val seen = jobs.asScala.toSeq
      assert(seen.size <= 2, s"$name: ${seen.size} jobs: $seen")
      assert(!seen.exists(_.contains("Iceberg.scala")),
        s"$name: a footer-stats job ran: $seen")
      assert(sources.Iceberg.driverFooterOpens == opens,
        s"$name: the driver opened parquet footers")
    }
    /** Each add's stats are its file's footer stats — numRecords and
      * every INT64/INT32 bound — plus the decimal bounds the footer
      * path never recorded, exact against the file's rows. */
    def statsAreFooters(t: String): Unit = {
      val st = sources.DeltaLog.replay(t, sources.DeltaLog.versions(t).last)
      assert(st.adds.size >= 3, s"$t: ${st.adds.size} files")
      st.adds.foreach { case (rel, a) =>
        val foot = sources.Iceberg.parquetFooter(s"$t/$rel")
        assert(a.stats.flatMap(sources.DeltaLog.statsNumRecords)
          .contains(foot.numRecords), s"$rel: numRecords")
        assert(a.longBounds.filter(_._1 != "d") == foot.int64 ++ foot.int32,
          s"$rel: ${a.longBounds} vs footer ${foot.int64 ++ foot.int32}")
        val r = spark.read.parquet(s"$t/$rel")
          .agg(min("d"), max("d")).head()
        assert(a.boundsFor(st.schema).get("d") == Some(
          (r.getDecimal(0).unscaledValue.longValueExact,
            r.getDecimal(1).unscaledValue.longValueExact)), s"$rel: d bounds")
      }
    }
    val dir = Files.createTempDirectory("dltaskstats").toString
    spark.sparkContext.addSparkListener(listener)
    try {
      val t1 = s"$dir/overwrite"
      sources.DeltaLog.createTable(t1, df.schema, Seq.empty, props)
      committed("commitOverwrite")(sources.DeltaLog.commitOverwrite(df, t1))
      val t2 = s"$dir/partitioned"
      sources.DeltaLog.createTable(t2, df.schema, Seq("p"), props)
      committed("commitOverwritePartitioned")(
        sources.DeltaLog.commitOverwritePartitioned(df, t2, Seq("p")))
      val t3 = s"$dir/dsv2"
      sources.DeltaLog.createTable(t3, df.schema, Seq.empty, props)
      committed("graft-delta write")(
        df.write.format("graft-delta").mode("append").save(t3))
      for (t <- Seq(t1, t2, t3)) {
        statsAreFooters(t)
        assertSidecarIsExpressionBuild(t, Seq("k", "i"))
        val back = sources.DeltaLog.read(spark, t)
          .select(df.columns.map(col): _*)
        assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty,
          s"$t: rows differ from the source")
      }
      // the partitioned table's files hold 50 / 500 / 2500 rows: the
      // geometries differ per file
      val st2 = sources.DeltaLog.replay(t2, 1L)
      assert(st2.adds.values.map(_.partitionValues("p")).toSet == Set("0", "1"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
