package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter,
  GenericRecord}
import org.apache.spark.sql.functions.{col, lit}

/** The open Iceberg layout reader: metadata JSON + manifest avro
  * written BY HAND — with extra fields and client-specific field
  * order the reader must not depend on — must plan and read
  * correctly; that's what makes this a format test, not a round-trip
  * tautology. */
class IcebergSpec extends SparkSuite {
  import spark.implicits._

  // hand-authored avro shapes: SUPERSET of the fields our reader
  // needs, in a different order than our writer emits (an external
  // client's files look like this — by-name access is the contract)
  private val extManifestFile = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"added_snapshot_id","type":["null","long"],"default":null},
      |{"name":"manifest_length","type":"long"},
      |{"name":"added_data_files_count","type":"int"},
      |{"name":"manifest_path","type":"string"},
      |{"name":"partition_spec_id","type":"int"}
      |]}""".stripMargin)

  private val extManifestEntry = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |{"name":"file_size_in_bytes","type":"long"},
      |{"name":"file_path","type":"string"},
      |{"name":"record_count","type":"long"},
      |{"name":"file_format","type":"string"},
      |{"name":"sort_order_id","type":["null","int"],"default":null}
      |]}},
      |{"name":"status","type":"int"}
      |]}""".stripMargin)

  private def writeAvro(path: String, schema: Schema,
                        rs: Seq[GenericRecord]): Unit = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new java.io.File(path))
    try rs.foreach(w.append) finally w.close()
  }

  private def entry(path: String, status: Int): GenericRecord = {
    val df = new GenericData.Record(
      extManifestEntry.getField("data_file").schema())
    df.put("file_size_in_bytes", new java.io.File(path).length())
    df.put("file_path", path)
    df.put("record_count", 1L)
    df.put("file_format", "PARQUET")
    df.put("sort_order_id", null)
    val e = new GenericData.Record(extManifestEntry)
    e.put("snapshot_id", null)
    e.put("data_file", df)
    e.put("status", status)
    e
  }

  private def manifestRef(path: String, snapId: Long): GenericRecord = {
    val r = new GenericData.Record(extManifestFile)
    r.put("added_snapshot_id", snapId)
    r.put("manifest_length", new java.io.File(path).length())
    r.put("added_data_files_count", 1)
    r.put("manifest_path", path)
    r.put("partition_spec_id", 0)
    r
  }

  private def stagePart(dir: String, name: String,
                        rows: Seq[(Long, String)]): String = {
    val tmp = Files.createTempDirectory("icepart").toString + "/w"
    // spec-compliant external data files carry parquet FIELD IDS
    // (matching schemaJson's ids: k=1, s=2) — the reader resolves by
    // id, as Iceberg requires of tables without a name mapping
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.MetadataBuilder
    rows.toDF("k", "s")
      .select(
        col("k").as("k", new MetadataBuilder()
          .putLong("parquet.field.id", 1L).build()),
        col("s").as("s", new MetadataBuilder()
          .putLong("parquet.field.id", 2L).build()))
      .coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dest = Paths.get(dir, name)
    Files.createDirectories(dest.getParent)
    Files.move(part.toPath, dest)
    dest.toString
  }

  private val schemaJson =
    """{"type":"struct","schema-id":0,"fields":[
      |{"id":1,"name":"k","required":false,"type":"long"},
      |{"id":2,"name":"s","required":false,"type":"string"}]}"""
      .stripMargin.replace("\n", "")

  private def metadataJson(tableDir: String, currentSnap: Long,
                           snaps: Seq[(Long, String)]): String = {
    val list = snaps.map { case (id, ml) =>
      s"""{"snapshot-id":$id,"timestamp-ms":0,
         |"summary":{"operation":"append"},"manifest-list":"$ml"}"""
        .stripMargin.replace("\n", "")
    }.mkString(",")
    s"""{"format-version":1,"table-uuid":"t","location":"$tableDir",
       |"last-updated-ms":0,"last-column-id":2,
       |"schema":$schemaJson,
       |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
       |"properties":{},
       |"current-snapshot-id":$currentSnap,
       |"snapshots":[$list]}""".stripMargin.replace("\n", "")
  }

  test("hand-written layout: snapshot planning, time travel, by-name avro") {
    val dir = Files.createTempDirectory("ice").toString
    Files.createDirectories(Paths.get(s"$dir/metadata"))
    val a = stagePart(dir, "data/a.parquet", Seq((1L, "one")))
    val b = stagePart(dir, "data/b.parquet", Seq((2L, "two")))
    // snapshot 10: manifest m1 holds a; snapshot 11: m1 (a EXISTING)
    // + m2 (b ADDED) — an append's manifest-list shape
    val m1 = s"$dir/metadata/m1.avro"
    writeAvro(m1, extManifestEntry, Seq(entry(a, 1)))
    val m2 = s"$dir/metadata/m2.avro"
    writeAvro(m2, extManifestEntry, Seq(entry(b, 1)))
    val l10 = s"$dir/metadata/l10.avro"
    writeAvro(l10, extManifestFile, Seq(manifestRef(m1, 10L)))
    val l11 = s"$dir/metadata/l11.avro"
    writeAvro(l11, extManifestFile,
      Seq(manifestRef(m1, 10L), manifestRef(m2, 11L)))
    Files.write(Paths.get(s"$dir/metadata/v1.metadata.json"),
      metadataJson(dir, 11L, Seq((10L, l10), (11L, l11))).getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))

    val latest = sources.Iceberg.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(latest == Set((1L, "one"), (2L, "two")))
    assert(sources.Iceberg.lastManifestsRead == 2)
    val pinned = sources.Iceberg.readSnapshot(spark, dir, 10L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(pinned == Set((1L, "one")), "snapshot 10 must not see b")
    assert(sources.Iceberg.lastManifestsRead == 1)
    // schema comes from the metadata JSON, not parquet footers
    assert(sources.Iceberg.read(spark, dir).schema.fieldNames.toSeq ==
      Seq("k", "s"))
  }

  test("DELETED manifest entries are excluded from the scan") {
    val dir = Files.createTempDirectory("iced").toString
    Files.createDirectories(Paths.get(s"$dir/metadata"))
    val a = stagePart(dir, "data/a.parquet", Seq((1L, "live")))
    val b = stagePart(dir, "data/b.parquet", Seq((2L, "dead")))
    val m = s"$dir/metadata/m.avro"
    writeAvro(m, extManifestEntry, Seq(entry(a, 0), entry(b, 2)))
    val l = s"$dir/metadata/l.avro"
    writeAvro(l, extManifestFile, Seq(manifestRef(m, 5L)))
    Files.write(Paths.get(s"$dir/metadata/v1.metadata.json"),
      metadataJson(dir, 5L, Seq((5L, l))).getBytes("UTF-8"))
    val got = sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L), "status=2 (DELETED) entry leaked into the scan")
  }

  test("missing version-hint falls back to the highest metadata version") {
    val dir = Files.createTempDirectory("iceh").toString + "/t"
    sources.Iceberg.commitOverwrite(Seq((1L, "a")).toDF("k", "s"), dir)
    sources.Iceberg.commitOverwrite(Seq((2L, "b")).toDF("k", "s"), dir)
    Files.delete(Paths.get(s"$dir/metadata/version-hint.text"))
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("writer round-trip: overwrite replaces, append accumulates") {
    val dir = Files.createTempDirectory("icew").toString + "/t"
    val s1 = sources.Iceberg.commitOverwrite(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)
    val s2 = sources.Iceberg.commitAppend(
      Seq((3L, "c")).toDF("k", "s"), dir)
    val s3 = sources.Iceberg.commitOverwrite(
      Seq((9L, "z")).toDF("k", "s"), dir)
    assert(Seq(s1, s2, s3) == Seq(1L, 2L, 3L))
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(sources.Iceberg.readSnapshot(spark, dir, s2)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L),
      "append snapshot must keep the prior snapshot's files")
    assert(sources.Iceberg.readSnapshot(spark, dir, s1)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // metadata chain is immutable history: one file per commit
    assert(sources.Iceberg.versions(dir) == Seq(1, 2, 3))
  }

  test("format-version 3 fails loudly, not silently wrong") {
    // v1 and v2 are spoken (v2 = position deletes); anything newer
    // could carry features whose absence silently corrupts a read
    val dir = Files.createTempDirectory("icev3").toString
    Files.createDirectories(Paths.get(s"$dir/metadata"))
    Files.write(Paths.get(s"$dir/metadata/v1.metadata.json"),
      metadataJson(dir, 1L, Seq((1L, "nope.avro")))
        .replace("\"format-version\":1", "\"format-version\":3")
        .getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      sources.Iceberg.read(spark, dir)
    }
    assert(e.getMessage.contains("format-version"))
  }

  test("manifest value bounds prune range reads; boundless files never prune") {
    // hand-authored manifest with bounds in a FOREIGN shape: extra
    // fields, its own field order, bounds as the spec's field-id →
    // little-endian-long bytes pairs
    val boundedEntry = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry_b","fields":[
        |{"name":"status","type":"int"},
        |{"name":"data_file","type":{"type":"record","name":"data_file_b","fields":[
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"},
        |{"name":"upper_bounds","type":["null",{"type":"array","items":
        |{"type":"record","name":"kvb","fields":[
        |{"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],
        |"default":null},
        |{"name":"lower_bounds","type":["null",{"type":"array","items":"kvb"}],
        |"default":null}
        |]}}]}""".stripMargin)
    def le(v: Long): java.nio.ByteBuffer = {
      val b = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putLong(v); b.flip(); b
    }
    def boundedE(path: String, bounds: Option[(Long, Long)]): GenericRecord = {
      val dfT = boundedEntry.getField("data_file").schema()
      val kvT = dfT.getField("lower_bounds").schema()
        .getTypes.get(1).getElementType
      val df = new GenericData.Record(dfT)
      df.put("file_path", path)
      df.put("file_format", "PARQUET")
      df.put("record_count", 1L)
      df.put("file_size_in_bytes", new java.io.File(path).length())
      bounds.foreach { case (lo, hi) =>
        def kv(v: Long) = {
          val r = new GenericData.Record(kvT)
          r.put("key", 1); r.put("value", le(v)); r
        }
        df.put("lower_bounds", java.util.List.of(kv(lo)))
        df.put("upper_bounds", java.util.List.of(kv(hi)))
      }
      val e = new GenericData.Record(boundedEntry)
      e.put("status", 1)
      e.put("data_file", df)
      e
    }
    val dir = Files.createTempDirectory("iceb").toString
    Files.createDirectories(Paths.get(s"$dir/metadata"))
    val a = stagePart(dir, "data/a.parquet", Seq((5L, "in")))
    val b = stagePart(dir, "data/b.parquet", Seq((150L, "out")))
    val c = stagePart(dir, "data/c.parquet", Seq((7L, "nostats")))
    val m = s"$dir/metadata/m.avro"
    writeAvro(m, boundedEntry, Seq(
      boundedE(a, Some((1L, 10L))),    // intersects [1,50] — kept
      boundedE(b, Some((100L, 200L))), // excluded — pruned
      boundedE(c, None)))              // no bounds — must be kept
    val l = s"$dir/metadata/l.avro"
    writeAvro(l, extManifestFile, Seq(manifestRef(m, 3L)))
    Files.write(Paths.get(s"$dir/metadata/v1.metadata.json"),
      metadataJson(dir, 3L, Seq((3L, l))).getBytes("UTF-8"))
    val got = sources.Iceberg.readPrunedRange(spark, dir,
        Seq(("k", 1L, 50L)))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(5L, 7L),
      "kept set must be the intersecting file PLUS the boundless file")
    assert(sources.Iceberg.lastFilesPlanned == 2,
      s"planned ${sources.Iceberg.lastFilesPlanned} files; bounds " +
        "should prune b and keep boundless c (superset contract)")
  }

  test("an Iceberg commit is one data job; the driver opens no footer") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.concat
    val dir = Files.createTempDirectory("icesj").toString + "/t"
    // eight range partitions, no shuffle: the commit's own data job
    // is the only job it may run
    val df = spark.range(0, 64, 1, 8)
      .select((col("id") + 1).as("k"), concat(lit("s"), col("id")).as("s"))
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.name).mkString("; "))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.ListenerSync.drain(spark.sparkContext)
      jobs.clear()
      val opens = sources.Iceberg.driverFooterOpens
      sources.Iceberg.commitOverwrite(df, dir)
      org.apache.spark.ListenerSync.drain(spark.sparkContext)
      val seen = jobs.asScala.toSeq
      assert(seen.size == 1, s"${seen.size} jobs: $seen")
      assert(!seen.exists(_.contains("Iceberg.scala")),
        s"a footer-stats job ran: $seen")
      assert(sources.Iceberg.driverFooterOpens == opens,
        "the driver opened parquet footers")
    } finally spark.sparkContext.removeSparkListener(listener)
    // the task-side bounds are REAL: a low range prunes most files
    val got = sources.Iceberg.readPrunedRange(spark, dir,
      Seq(("k", 1L, 8L)))
    assert(got.collect().map(_.getLong(0)).sorted.toSeq == (1L to 8L))
    assert(sources.Iceberg.lastFilesPlanned < 8,
      s"planned ${sources.Iceberg.lastFilesPlanned} of 8 — the " +
        "task-side bounds must prune")
  }

  test("manifest stats from the write tasks equal the footers, per file") {
    import org.apache.spark.sql.functions.{expr, when}
    // three files; a long key, an int with nulls, a decimal (omitted
    // from manifests: the 8-byte bound form would misspell it) and
    // a string partition column
    val df = spark.range(0, 3000, 1, 3)
      .select((col("id") * 7919L % 100003L).as("k"),
        when(col("id") % 10 === 0, lit(null))
          .otherwise((col("id") % 1000 - 500).cast("int")).as("i"),
        expr("CAST((id - 1500) * 1.25 AS DECIMAL(18,2))").as("d"),
        (col("id") % 2).cast("string").as("p"))
    val work = Files.createTempDirectory("icestats").toString
    def statsAreFooters(t: String): Unit = {
      val plan = sources.Iceberg.batchPlan(t,
        sources.Iceberg.mainSnapshotId(t))
      assert(plan.files.size >= 3, s"$t: ${plan.files.size} files")
      plan.files.foreach { f =>
        val foot = sources.Iceberg.parquetFooter(f.path)
        assert(f.records.contains(foot.numRecords), s"${f.path}: records")
        assert(f.bounds.filter(_._1 == "k") == foot.int64,
          s"${f.path}: long bounds ${f.bounds} vs footer ${foot.int64}")
        assert(f.bounds.filter(_._1 == "i") == foot.int32,
          s"${f.path}: int bounds ${f.bounds} vs footer ${foot.int32}")
        assert(f.bounds.keySet.subsetOf(Set("k", "i")),
          s"${f.path}: ${f.bounds}")
      }
    }
    sources.Iceberg.commitOverwrite(df, s"$work/plain")
    statsAreFooters(s"$work/plain")
    sources.Iceberg.commitOverwritePartitioned(df, s"$work/identity",
      Seq("p"))
    statsAreFooters(s"$work/identity")
    sources.Iceberg.commitOverwriteHidden(df, s"$work/hidden",
      Seq("k" -> "bucket[4]"))
    statsAreFooters(s"$work/hidden")
  }

  test("q151 gate shape: range-clustered layout prunes most files") {
    val got = sources.Iceberg.icebergPrunedRead(spark, sfDir)
    val planned = sources.Iceberg.lastFilesPlanned
    val orders = Tables.load(spark, sfDir, "orders")
    assert(got.count() == orders.filter(
      col("o_orderkey").between(sources.Iceberg.PruneKeyLo,
        sources.Iceberg.PruneKeyHi)).count())
    assert(planned < 8,
      s"planned $planned of 8 range-clustered files — the low-tail " +
        "range must prune, or the bounds chain is inert")
  }

  test("identity partitions: round-trip, pruning, spec mismatch loud") {
    import spark.implicits._
    val dir = Files.createTempDirectory("icepartw").toString + "/t"
    val df = Seq((1L, "red"), (2L, "red"), (3L, "blue")).toDF("k", "s")
    sources.Iceberg.commitOverwritePartitioned(df, dir, Seq("s"))
    // full read reconstructs the stripped column from manifest tuples
    val got = sources.Iceberg.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "red"), (2L, "red"), (3L, "blue")))
    assert(sources.Iceberg.read(spark, dir).schema.fieldNames.toSeq ==
      Seq("k", "s"))
    val total = sources.Iceberg.lastFilesPlanned
    // pruned read: only red files reach the scan
    val red = sources.Iceberg.readWhere(spark, dir)(
      pv => pv.get("s").contains("red"))
    assert(sources.Iceberg.lastFilesPlanned < total,
      "pruning must drop the blue file before the scan")
    assert(red.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // an append must declare the same spec
    val e = intercept[IllegalArgumentException] {
      sources.Iceberg.commitAppend(Seq((9L, "z")).toDF("k", "s"), dir)
    }
    assert(e.getMessage.contains("partition spec"))
    // unpartitioned table: nothing to prune on — loud
    val dir2 = Files.createTempDirectory("icepartw2").toString + "/t"
    sources.Iceberg.commitOverwrite(Seq((1L, "x")).toDF("k", "s"), dir2)
    val e2 = intercept[IllegalArgumentException] {
      sources.Iceberg.readWhere(spark, dir2)(_ => true)
    }
    assert(e2.getMessage.contains("unpartitioned"))
  }

  test("external partitioned table whose data files carry the columns") {
    // standard Iceberg shape: partition columns are ordinary data
    // columns, the manifest tuple is derived metadata used for
    // pruning — the reader must NOT try to reconstruct
    val dir = Files.createTempDirectory("icepartx").toString
    Files.createDirectories(Paths.get(s"$dir/metadata"))
    val a = stagePart(dir, "data/a.parquet", Seq((1L, "red"), (2L, "red")))
    val b = stagePart(dir, "data/b.parquet", Seq((3L, "blue")))
    val entryT = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
        |{"name":"file_path","type":"string"},
        |{"name":"partition","type":{"type":"record","name":"r102","fields":[
        |{"name":"s","type":["null","string"],"default":null}]}},
        |{"name":"file_format","type":"string"},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"}
        |]}}]}""".stripMargin)
    def pentry(path: String, s: String): GenericRecord = {
      val df = new GenericData.Record(entryT.getField("data_file").schema())
      df.put("file_path", path)
      val p = new GenericData.Record(
        df.getSchema.getField("partition").schema())
      p.put("s", s)
      df.put("partition", p)
      df.put("file_format", "PARQUET")
      df.put("record_count", 1L)
      df.put("file_size_in_bytes", new java.io.File(path).length())
      val e = new GenericData.Record(entryT)
      e.put("status", 1)
      e.put("data_file", df)
      e
    }
    val m1 = s"$dir/metadata/m1.avro"
    writeAvro(m1, entryT, Seq(pentry(a, "red"), pentry(b, "blue")))
    val l1 = s"$dir/metadata/l1.avro"
    writeAvro(l1, extManifestFile, Seq(manifestRef(m1, 1L)))
    Files.write(Paths.get(s"$dir/metadata/v1.metadata.json"),
      s"""{"format-version":1,"table-uuid":"t","location":"$dir",
         |"last-updated-ms":0,"last-column-id":2,
         |"schema":$schemaJson,
         |"partition-specs":[{"spec-id":0,"fields":[
         |{"name":"s","transform":"identity","source-id":2,"field-id":1000}]}],
         |"default-spec-id":0,"properties":{},
         |"current-snapshot-id":1,
         |"snapshots":[{"snapshot-id":1,"timestamp-ms":0,
         |"summary":{"operation":"append"},"manifest-list":"$l1"}]}"""
        .stripMargin.replace("\n", "").getBytes("UTF-8"))
    val all = sources.Iceberg.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(all == Set((1L, "red"), (2L, "red"), (3L, "blue")))
    val red = sources.Iceberg.readWhere(spark, dir)(
      pv => pv.get("s").contains("red"))
    assert(sources.Iceberg.lastFilesPlanned == 1)
    assert(red.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // a non-identity transform is HIDDEN metadata: it never
    // substitutes for column values, so the read must come from the
    // data files alone — whole, with the tuple available to
    // readWhere but absent from the schema
    val v1 = new String(Files.readAllBytes(
      Paths.get(s"$dir/metadata/v1.metadata.json")), "UTF-8")
    Files.write(Paths.get(s"$dir/metadata/v2.metadata.json"),
      v1.replace("\"transform\":\"identity\"", "\"transform\":\"bucket[16]\"")
        .getBytes("UTF-8"))
    val hidden = sources.Iceberg.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(hidden == Set((1L, "red"), (2L, "red"), (3L, "blue")),
      "hidden-transform tuples must not be reconstructed into columns")
    // a transform OUTSIDE the supported set still refuses loudly —
    // pruning against an unknown tuple would silently full-scan
    Files.write(Paths.get(s"$dir/metadata/v3.metadata.json"),
      v1.replace("\"transform\":\"identity\"", "\"transform\":\"zorder\"")
        .getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      sources.Iceberg.read(spark, dir).collect()
    }
    assert(e.getMessage.contains("transform"))
  }

  test("q157 gate shape: manifest-tuple pruning bounded") {
    val got = sources.Iceberg.icebergPartitionPrunedRead(spark, sfDir)
    val n = got.count()
    val planned = sources.Iceberg.lastFilesPlanned
    val orders = Tables.load(spark, sfDir, "orders")
    assert(n == orders.filter(col("o_orderstatus") === "P").count())
    // full read plans strictly more files than the one pruned partition
    sources.Iceberg.read(spark,
      sources.Iceberg.ordersIcebergPartitionedTable(spark, sfDir)).count()
    assert(planned < sources.Iceberg.lastFilesPlanned,
      s"pruned $planned of ${sources.Iceberg.lastFilesPlanned} — other " +
        "partitions must exist to prune away")
  }

  test("v2 position deletes: merge-on-read, stacking, time travel, no-op") {
    import spark.implicits._
    val dir = Files.createTempDirectory("icedel").toString + "/t"
    sources.Iceberg.commitOverwrite(
      (1L to 10L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    // delete evens: data files untouched, one delete snapshot
    val s2 = sources.Iceberg.deleteWhere(spark, dir, col("k") % 2 === 0)
    assert(s2 == 2L)
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L, 5L, 7L, 9L))
    // pre-delete snapshot stays whole (merge-on-read, not rewrite)
    assert(sources.Iceberg.readSnapshot(spark, dir, 1L).count() == 10)
    // stacking: a second delete composes with the first
    val s3 = sources.Iceberg.deleteWhere(spark, dir, col("k") % 3 === 0)
    assert(s3 == 3L)
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 5L, 7L))
    // re-running a covered predicate matches no LIVE row: no commit
    assert(sources.Iceberg.deleteWhere(spark, dir, col("k") % 2 === 0) == 3L)
    assert(sources.Iceberg.snapshotIds(dir) == Seq(1L, 2L, 3L))
    // an append after deletes keeps them in force
    sources.Iceberg.commitAppend(Seq((100L, "new")).toDF("k", "s"), dir)
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 5L, 7L, 100L))
    // the delete parquet carries the spec's two columns
    val delFiles = new java.io.File(dir, "data").listFiles()
      .filter(_.getName.startsWith("delete-"))
    assert(delFiles.nonEmpty)
    val del = spark.read.parquet(delFiles.head.getPath)
    assert(del.schema.fieldNames.toSeq == Seq("file_path", "pos"))
  }

  test("deleteWhere prunes the position scan by manifest bounds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("icedelpr").toString + "/t"
    Seq(1L to 5L, 6L to 10L, 11L to 15L, 16L to 20L).foreach(r =>
      sources.Iceberg.commitAppend(
        r.map(i => (i, s"s$i")).toDF("k", "s").coalesce(1), dir))
    // a range predicate provably misses three files
    sources.Iceberg.deleteWhere(spark, dir,
      col("k") >= 7L && col("k") <= 8L)
    assert(sources.Iceberg.lastDeleteFilesScanned == 1,
      s"expected 1 file scanned, got " +
        s"${sources.Iceberg.lastDeleteFilesScanned}")
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 20L).filterNot(Set(7L, 8L)))
    // an unprunable predicate scans everything (superset contract)
    sources.Iceberg.deleteWhere(spark, dir,
      org.apache.spark.sql.functions.pmod(col("k"),
        org.apache.spark.sql.functions.lit(19L)) === 0)
    assert(sources.Iceberg.lastDeleteFilesScanned == 4)
    // a provably-empty range commits nothing
    val before = sources.Iceberg.snapshotIds(dir).last
    assert(sources.Iceberg.deleteWhere(spark, dir,
      col("k") >= 500L) == before)
  }

  test("v2 position deletes compose with identity-partition reconstruction") {
    import spark.implicits._
    val dir = Files.createTempDirectory("icedelp").toString + "/t"
    val df = Seq((1L, "red"), (2L, "red"), (3L, "blue"), (4L, "blue"))
      .toDF("k", "s")
    sources.Iceberg.commitOverwritePartitioned(df, dir, Seq("s"))
    sources.Iceberg.deleteWhere(spark, dir, col("k") % 2 === 0)
    // full read: deletes applied AND the stripped column reconstructed
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "red"), (3L, "blue")))
    // pruned read over the delete-bearing table
    val red = sources.Iceberg.readWhere(spark, dir)(
      pv => pv.get("s").contains("red"))
    assert(red.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("rewriteDataFiles folds deletes in; old snapshots stay addressable") {
    import spark.implicits._
    val dir = Files.createTempDirectory("icerw").toString + "/t"
    sources.Iceberg.commitOverwrite(
      (1L to 6L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    sources.Iceberg.deleteWhere(spark, dir, col("k") % 2 === 0)
    val s3 = sources.Iceberg.rewriteDataFiles(spark, dir)
    assert(s3 == 3L)
    // same rows, and the new snapshot carries no delete manifests:
    // a second deleteWhere of already-gone rows is a no-op commit
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L))
    assert(sources.Iceberg.deleteWhere(spark, dir, col("k") % 2 === 0) == s3)
    // MoR history stays addressable pre-expire
    assert(sources.Iceberg.readSnapshot(spark, dir, 1L).count() == 6)
    assert(sources.Iceberg.readSnapshot(spark, dir, 2L).count() == 3)
    // expire to the compacted frontier: delete files die with their
    // snapshots, the live read is untouched
    val dead = sources.Iceberg.expireSnapshots(dir, keepLast = 1)
    assert(dead.nonEmpty)
    assert(sources.Iceberg.read(spark, dir).count() == 3)
  }

  test("evolveSchema: schemas history kept, old files NULL, ids stable") {
    import spark.implicits._
    val dir = Files.createTempDirectory("iceev").toString + "/t"
    sources.Iceberg.commitOverwrite(Seq(Tuple1(1L)).toDF("k"), dir)
    import org.apache.spark.sql.types._
    val wide = StructType(Seq(
      StructField("k", LongType),
      StructField("s", StringType, nullable = true)))
    sources.Iceberg.evolveSchema(dir, wide)
    sources.Iceberg.commitAppend(Seq((2L, "b")).toDF("k", "s"), dir)
    val got = sources.Iceberg.read(spark, dir)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1))).toSet
    assert(got == Set((1L, null), (2L, "b")))
    // the post-evolution metadata keeps BOTH schema versions and the
    // append did not reset them
    val metaFiles = new java.io.File(s"$dir/metadata").listFiles()
      .filter(_.getName.endsWith(".metadata.json")).sortBy(_.getName)
    val lastMeta = new String(Files.readAllBytes(
      metaFiles.last.toPath), "UTF-8")
    assert(lastMeta.contains("\"schemas\""))
    assert(lastMeta.contains("\"current-schema-id\" : 1"))
    // guards: reorder/retype and non-nullable additions refuse
    intercept[IllegalArgumentException] {
      sources.Iceberg.evolveSchema(dir, StructType(Seq(
        StructField("s", StringType, nullable = true),
        StructField("k", LongType))))
    }
    intercept[IllegalArgumentException] {
      sources.Iceberg.evolveSchema(dir, StructType(wide.fields :+
        StructField("n", LongType, nullable = false)))
    }
  }

  test("external equality-delete manifest without equality_ids refuses") {
    import spark.implicits._
    val dir = Files.createTempDirectory("icedeq").toString + "/t"
    sources.Iceberg.commitOverwrite(Seq((1L, "a")).toDF("k", "s"), dir)
    sources.Iceberg.deleteWhere(spark, dir, col("k") === 99L) // no-op
    // hand-edit: flip the upgraded table's next delete to content=2
    val s = sources.Iceberg.deleteWhere(spark, dir, col("k") === 1L)
    assert(s == 2L)
    // rewrite the delete manifest claiming equality deletes
    val dm = new java.io.File(s"$dir/metadata")
      .listFiles().filter(_.getName.contains("-d0.avro")).head
    val entryT = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"}
        |]}}]}""".stripMargin)
    val df2 = new GenericData.Record(entryT.getField("data_file").schema())
    df2.put("content", 2) // equality deletes
    df2.put("file_path", "whatever.parquet")
    df2.put("file_format", "PARQUET")
    df2.put("record_count", 1L)
    df2.put("file_size_in_bytes", 1L)
    val e2 = new GenericData.Record(entryT)
    e2.put("status", 1)
    e2.put("data_file", df2)
    dm.delete()
    writeAvro(dm.getPath, entryT, Seq(e2))
    val err = intercept[IllegalArgumentException] {
      sources.Iceberg.read(spark, dir).collect()
    }
    assert(err.getMessage.contains("equality_ids"),
      "an equality delete whose match columns are unknown cannot be " +
        s"applied; got: ${err.getMessage}")
    // and a content value outside the spec's {1, 2} still refuses
    df2.put("content", 3)
    dm.delete()
    writeAvro(dm.getPath, entryT, Seq(e2))
    val err3 = intercept[IllegalArgumentException] {
      sources.Iceberg.read(spark, dir).collect()
    }
    assert(err3.getMessage.contains("content"))
  }

  test("q158 gate shape: deleted tenth absent, data files unrewritten") {
    val got = sources.Iceberg.icebergDeleteRead(spark, sfDir)
    val orders = Tables.load(spark, sfDir, "orders")
    assert(got.count() ==
      orders.filter(col("o_orderkey") % 10 =!= 0).count())
    // merge-on-read: the table still plans ALL original data files
    val t = sources.Iceberg.ordersIcebergDeleteTable(spark, sfDir)
    sources.Iceberg.read(spark, t).count()
    assert(sources.Iceberg.lastFilesPlanned >= 1)
  }

  test("expireSnapshots deletes only expired-snapshot files, keeps current") {
    import spark.implicits._
    val dir = Files.createTempDirectory("iceexp").toString + "/t"
    val s1 = sources.Iceberg.commitOverwrite(Seq((1L, "a")).toDF("k", "s"), dir)
    val s2 = sources.Iceberg.commitAppend(Seq((2L, "b")).toDF("k", "s"), dir)
    val s3 = sources.Iceberg.commitOverwrite(Seq((9L, "z")).toDF("k", "s"), dir)
    assert(Seq(s1, s2, s3) == Seq(1L, 2L, 3L))
    // keep 1: snapshots 1 and 2 expire; snapshot 2's manifest-list
    // references snapshot 1's manifest (append), but BOTH die because
    // the retained overwrite references neither
    val dead = sources.Iceberg.expireSnapshots(dir, keepLast = 1)
    assert(dead.nonEmpty)
    dead.foreach(p => assert(!new java.io.File(p).exists, s"$p survived"))
    assert(sources.Iceberg.snapshotIds(dir) == Seq(3L))
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).toSeq == Seq(9L))
    // time travel to an expired snapshot fails loudly (not in metadata)
    intercept[Exception] {
      sources.Iceberg.readSnapshot(spark, dir, 1L).collect()
    }
    // idempotent
    assert(sources.Iceberg.expireSnapshots(dir, 1).isEmpty)
  }

  test("expireSnapshots keeps files shared with a retained snapshot") {
    import spark.implicits._
    val dir = Files.createTempDirectory("iceexp2").toString + "/t"
    sources.Iceberg.commitOverwrite(Seq((1L, "a")).toDF("k", "s"), dir)
    sources.Iceberg.commitAppend(Seq((2L, "b")).toDF("k", "s"), dir)
    // keep the APPEND snapshot: it references snapshot 1's manifest,
    // so expiring snapshot 1 must delete only its manifest-LIST
    val dead = sources.Iceberg.expireSnapshots(dir, keepLast = 1)
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "shared manifest/data of the retained append must survive")
    assert(dead.forall(_.contains("manifest-list")),
      s"only the expired snapshot's manifest-list may die, got $dead")
  }

  test("readIncremental: appended rows only, tagged; overwrite in range refused") {
    import spark.implicits._
    val dir = Files.createTempDirectory("iceinc").toString + "/t"
    sources.Iceberg.commitAppend(Seq((1L, "a")).toDF("k", "s"), dir)
    sources.Iceberg.commitAppend(Seq((2L, "b")).toDF("k", "s"), dir)
    sources.Iceberg.commitAppend(Seq((3L, "c")).toDF("k", "s"), dir)
    // (1, 3]: snapshots 2 and 3 — snapshot 1's manifest rides in 3's
    // manifest-list but its rows must not appear
    val got = sources.Iceberg.readIncremental(spark, dir, 1L, 3L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got == Set((2L, 2L), (3L, 3L)))
    // empty range at the frontier
    assert(sources.Iceberg.readIncremental(spark, dir, 2L, 3L)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // an overwrite inside the range cannot be expressed as appends
    sources.Iceberg.commitOverwrite(Seq((9L, "z")).toDF("k", "s"), dir)
    val e = intercept[IllegalArgumentException] {
      sources.Iceberg.readIncremental(spark, dir, 2L, 4L)
    }
    assert(e.getMessage.contains("append"))
  }

  test("q153 gate shape: append readback plans over all three manifests") {
    val got = sources.Iceberg.icebergAppendRead(spark, sfDir)
    val orders = Tables.load(spark, sfDir, "orders")
    assert(got.count() == orders.count())
    assert(sources.Iceberg.lastManifestsRead == 3,
      s"third append's plan must see 3 manifests, saw " +
        s"${sources.Iceberg.lastManifestsRead}")
    // q156: the incremental diff plans over only the 2 in-range
    // manifests and returns exactly the non-mod-0 two-thirds
    val inc = sources.Iceberg.icebergIncrementalRead(spark, sfDir)
    assert(inc.count() ==
      orders.filter(col("o_orderkey") % 3 =!= 0).count())
    assert(sources.Iceberg.lastManifestsRead == 2,
      "snapshot-diff must plan only the manifests added in-range")
  }

  test("q147/q148 gate shape: overwrite honored, time travel pinned") {
    val latest = sources.Iceberg.icebergRead(spark, sfDir)
    val pinned = sources.Iceberg.icebergTimeTravel(spark, sfDir)
    val orders = Tables.load(spark, sfDir, "orders")
    assert(latest.count() ==
      orders.filter(col("o_orderkey") % 2 === 1).count())
    assert(pinned.count() ==
      orders.filter(col("o_orderkey") % 2 === 0).count())
    assert(latest.count() + pinned.count() == orders.count())
    // planning is metadata-bounded: manifests read, never data rows
    assert(sources.Iceberg.lastManifestsRead <= 2)
    // second call reuses the session cache (no rebuild)
    val t1 = sources.Iceberg.ordersIcebergTable(spark, sfDir)
    val t2 = sources.Iceberg.ordersIcebergTable(spark, sfDir)
    assert(t1 == t2)
  }

  test("bucket transform is pinned to the Iceberg spec vectors") {
    import graft.functions.IcebergTransforms
    // Iceberg spec, Appendix B (32-bit hash requirements): the
    // published murmur3_x86_32 vector for the 8-byte little-endian
    // form of 34 — int and long must agree
    assert(IcebergTransforms.murmur3Long(34L) == 2017239379,
      s"murmur3(34L) = ${IcebergTransforms.murmur3Long(34L)}, spec " +
        "says 2017239379 — bucket tables would not interop")
    assert(IcebergTransforms.bucketLong(34L, 16) == 2017239379 % 16)
    // negative values flow through the same LE-bytes path
    assert(IcebergTransforms.bucketLong(-34L, 16) ==
      (IcebergTransforms.murmur3Long(-34L) & Int.MaxValue) % 16)
    // truncate floors toward negative infinity, per spec
    assert(IcebergTransforms.truncateLong(17L, 10L) == 10L)
    assert(IcebergTransforms.truncateLong(-3L, 10L) == -10L)
    assert(IcebergTransforms.monthOrdinal(1970, 1) == 0)
    assert(IcebergTransforms.monthOrdinal(1995, 3) == 302)
    // the full transform vocabulary resolves names and tuple types
    for (tr <- Seq("hour", "day", "month", "year"))
      assert(IcebergTransforms.supported(tr) &&
        IcebergTransforms.tupleName(tr, "ts") == s"ts_$tr")
    assert(!IcebergTransforms.supported("void"))
  }

  test("hidden bucket partitioning: full schema kept, pruning bounded") {
    val t = sources.Iceberg.ordersIcebergBucketTable(spark, sfDir)
    val orders = Tables.load(spark, sfDir, "orders")
    // the derived bucket never leaks into the table schema, and the
    // unpruned read is whole — data files carry every source column
    val full = sources.Iceberg.read(spark, t)
    assert(full.schema.fieldNames.toSeq == orders.schema.fieldNames.toSeq)
    assert(full.count() == orders.count())
    val total = sources.Iceberg.lastFilesPlanned
    // prune with an sf-appropriate probe key (custkeys are dense from
    // 0 at every SF, so 42 has orders at sf0.001 too)
    val key = 42L
    val b = graft.functions.IcebergTransforms.bucketLong(
      key, sources.Iceberg.BucketCount)
    val pruned = sources.Iceberg.readWhere(spark, t)(
        pv => pv.get("o_custkey_bucket").contains(b.toString))
      .filter(col("o_custkey") === key)
    assert(pruned.count() ==
      orders.filter(col("o_custkey") === key).count())
    assert(pruned.count() > 0, "probe key must have orders at this SF")
    assert(sources.Iceberg.lastFilesPlanned < total,
      s"bucket pruning planned ${sources.Iceberg.lastFilesPlanned} of " +
        s"$total files — other buckets must be pruned away")
  }

  test("hidden month partitioning: q166 gate shape, range pruning bounded") {
    import graft.functions.IcebergTransforms.monthOrdinal
    val got = sources.Iceberg.icebergMonthPrunedRead(spark, sfDir)
    val planned = sources.Iceberg.lastFilesPlanned
    val orders = Tables.load(spark, sfDir, "orders")
    assert(got.count() == orders.filter(
      col("o_orderdate") >= "1995-03-01" &&
        col("o_orderdate") < "1995-06-01").count())
    // three months of a multi-year table: pruning must drop most files
    sources.Iceberg.read(spark,
      sources.Iceberg.ordersIcebergMonthTable(spark, sfDir)).count()
    val total = sources.Iceberg.lastFilesPlanned
    assert(planned * 4 < total,
      s"month pruning planned $planned of $total files — a 3-month " +
        "window of ~80 months should plan a small fraction")
    // the tuple ordinals the prune used are the spec's month ordinals
    assert(monthOrdinal(1995, 3) == 302 && monthOrdinal(1995, 5) == 304)
  }

  test("hidden-spec appends inherit clustering; spec mismatch is loud") {
    import spark.implicits._
    val dir = Files.createTempDirectory("icehid").toString + "/t"
    val df = (1L to 100L).map(k => (k, s"c$k")).toDF("k", "s")
    sources.Iceberg.commitOverwriteHidden(df, dir,
      Seq("k" -> "bucket[4]"))
    sources.Iceberg.commitAppendHidden(
      (101L to 120L).map(k => (k, s"c$k")).toDF("k", "s"), dir,
      Seq("k" -> "bucket[4]"))
    assert(sources.Iceberg.read(spark, dir).count() == 120)
    // a plain append cannot silently drop the clustering contract
    val e = intercept[IllegalArgumentException] {
      sources.Iceberg.commitAppend(Seq((9L, "z")).toDF("k", "s"), dir)
    }
    assert(e.getMessage.contains("partition spec"))
    // nor can an append declare a different transform
    val e2 = intercept[IllegalArgumentException] {
      sources.Iceberg.commitAppendHidden(
        Seq((9L, "z")).toDF("k", "s"), dir, Seq("k" -> "bucket[8]"))
    }
    assert(e2.getMessage.contains("partition spec"))
    // a point lookup after the append prunes across BOTH snapshots
    val b = graft.functions.IcebergTransforms.bucketLong(115L, 4)
    val hit = sources.Iceberg.readWhere(spark, dir)(
        pv => pv.get("k_bucket").contains(b.toString))
      .filter(col("k") === 115L)
    assert(hit.count() == 1)
  }

  test("snapshot timestamps: writer monotonic, resolver adjusts external ties") {
    import spark.implicits._
    val dir = Files.createTempDirectory("icets").toString + "/t"
    sources.Iceberg.commitOverwrite(Seq((1L, "a")).toDF("k", "s"), dir)
    sources.Iceberg.commitAppend(Seq((2L, "b")).toDF("k", "s"), dir)
    sources.Iceberg.commitAppend(Seq((3L, "c")).toDF("k", "s"), dir)
    val sts = sources.Iceberg.snapshotTimestamps(dir)
    assert(sts.map(_._1) == Seq(1L, 2L, 3L))
    assert(sts.map(_._2) == sts.map(_._2).sorted &&
      sts.map(_._2).distinct.size == 3,
      s"writer timestamps must be strictly increasing: $sts")
    // the spec's history logs ride the metadata: snapshot-log carries
    // one (timestamp, id) per snapshot, metadata-log the prior files
    val metaTxt = new String(Files.readAllBytes(
      Files.list(Paths.get(s"$dir/metadata")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".metadata.json"))
        .toSeq.maxBy(_.getFileName.toString.stripPrefix("v")
          .stripSuffix(".metadata.json").toInt)), "UTF-8")
    assert(metaTxt.contains("\"snapshot-log\""))
    assert(metaTxt.contains("\"metadata-log\""))
    assert("\"snapshot-id\"".r.findAllIn(metaTxt).size >= 3)
    // resolution: first snapshot's instant sees only snapshot 1
    assert(sources.Iceberg.snapshotAsOf(dir, sts.head._2) == 1L)
    assert(sources.Iceberg.readAsOfTimestamp(spark, dir, sts(1)._2)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val e = intercept[IllegalArgumentException] {
      sources.Iceberg.snapshotAsOf(dir, sts.head._2 - 1)
    }
    assert(e.getMessage.contains("precedes"))
    // external metadata with TIED timestamps still resolves in commit
    // order (the monotonic adjustment)
    val meta = Paths.get(s"$dir/metadata")
    val f = Files.list(meta).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".metadata.json"))
      .toSeq.maxBy(_.getFileName.toString.stripPrefix("v")
        .stripSuffix(".metadata.json").toInt)
    val txt = new String(Files.readAllBytes(f), "UTF-8")
      .replaceAll("\"timestamp-ms\" : \\d+", "\"timestamp-ms\" : 7000")
    Files.write(f, txt.getBytes("UTF-8"))
    assert(sources.Iceberg.snapshotTimestamps(dir).map(_._2) ==
      Seq(7000L, 7001L, 7002L))
    assert(sources.Iceberg.snapshotAsOf(dir, 7001) == 2L)
  }

  test("rollback: metadata-only rewind, later snapshots stay addressable") {
    import spark.implicits._
    val dir = Files.createTempDirectory("icerb").toString + "/t"
    sources.Iceberg.commitOverwrite(Seq((1L, "a")).toDF("k", "s"), dir)
    sources.Iceberg.commitOverwrite(Seq((2L, "b")).toDF("k", "s"), dir)
    val dataBefore = sources.Iceberg.snapshotIds(dir)
    sources.Iceberg.rollbackTo(dir, 1L)
    // current read serves the rolled-back-to snapshot
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // nothing dropped: both snapshots still listed and addressable
    assert(sources.Iceberg.snapshotIds(dir) == dataBefore)
    assert(sources.Iceberg.readSnapshot(spark, dir, 2L)
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // the rollback can itself be rolled back
    sources.Iceberg.rollbackTo(dir, 2L)
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // unknown snapshot refuses
    val e = intercept[IllegalArgumentException] {
      sources.Iceberg.rollbackTo(dir, 99L)
    }
    assert(e.getMessage.contains("not in metadata"))
  }

  test("q169/q171 gate shape: ts travel and rollback equal snapshot 1") {
    val orders = Tables.load(spark, sfDir, "orders")
    val evens = orders.filter(col("o_orderkey") % 2 === 0).count()
    assert(sources.Iceberg.icebergAsOfRead(spark, sfDir).count() == evens)
    assert(sources.Iceberg.icebergRollbackRead(spark, sfDir).count()
      == evens)
  }

  test("unknown partition transform in external metadata refuses loudly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("icehidx").toString + "/t"
    sources.Iceberg.commitOverwriteHidden(
      Seq((1L, "a")).toDF("k", "s"), dir, Seq("k" -> "bucket[4]"))
    // rewrite the metadata's transform to one we do not speak
    val meta = Paths.get(s"$dir/metadata")
    val f = Files.list(meta).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".metadata.json"))
      .toSeq.maxBy(_.getFileName.toString)
    val txt = new String(Files.readAllBytes(f), "UTF-8")
      .replace("\"bucket[4]\"", "\"zorder[k]\"")
    Files.write(f, txt.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      sources.Iceberg.readWhere(spark, dir)(_ => true).count()
    }
    assert(e.getMessage.contains("transform"))
    // `void`, by contrast, is READ-legal in any spec (real Iceberg
    // v1 replaces dropped partition fields with void in place): it
    // derives nothing and prunes nothing, the table stays readable
    Files.write(f, txt.replace("\"zorder[k]\"", "\"void\"")
      .getBytes("UTF-8"))
    assert(sources.Iceberg.read(spark, dir).count() == 1)
    assert(sources.Iceberg.readWhere(spark, dir)(_ => true).count() == 1)
  }

  test("equality deletes: value match, sequence scoping, null keys") {
    import spark.implicits._
    val dir = Files.createTempDirectory("iceeq").toString + "/t"
    val base = Seq((1L, "red"), (2L, "blue"), (3L, "red"),
      (4L, null.asInstanceOf[String])).toDF("k", "s")
    sources.Iceberg.commitOverwrite(base, dir)
    // delete by value: every 'red' row, no file or position named
    sources.Iceberg.deleteWhereEquality(spark, dir,
      Seq("red").toDF("s"))
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L))
    // sequence scoping: a 'red' row appended AFTER the delete survives
    sources.Iceberg.commitAppend(Seq((9L, "red")).toDF("k", "s"), dir)
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L, 9L),
      "rows appended after an equality delete must survive matching keys")
    // null-safe equality: deleting key NULL removes the null-keyed row
    sources.Iceberg.deleteWhereEquality(spark, dir,
      Seq(null.asInstanceOf[String]).toDF("s"))
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 9L),
      "a null key must match null values (spec's null-safe equality)")
    // time travel to the pre-delete snapshot stays whole
    assert(sources.Iceberg.readSnapshot(spark, dir, 1L).count() == 4)
    // rewriteDataFiles folds equality deletes into plain files
    sources.Iceberg.rewriteDataFiles(spark, dir)
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 9L))
    // a key column not in the schema refuses
    val e = intercept[IllegalArgumentException] {
      sources.Iceberg.deleteWhereEquality(spark, dir,
        Seq("x").toDF("nope"))
    }
    assert(e.getMessage.contains("not in table schema"))
  }

  test("equality + position deletes compose on one table") {
    import spark.implicits._
    val dir = Files.createTempDirectory("iceeqp").toString + "/t"
    sources.Iceberg.commitOverwrite(
      (1L to 10L).map(k => (k, if (k % 2 == 0) "even" else "odd"))
        .toDF("k", "s"), dir)
    sources.Iceberg.deleteWhere(spark, dir, col("k") === 1L) // position
    sources.Iceberg.deleteWhereEquality(spark, dir,
      Seq("even").toDF("s")) // value
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 5L, 7L, 9L))
  }

  test("upsert: delete+append per batch, repeated batches converge") {
    import spark.implicits._
    val dir = Files.createTempDirectory("iceups").toString + "/t"
    sources.Iceberg.commitOverwrite(
      Seq((1L, "v1"), (2L, "v1"), (3L, "v1")).toDF("k", "s"), dir)
    // batch 1: update k=2, insert k=9
    sources.Iceberg.upsert(spark, dir,
      Seq((2L, "v2"), (9L, "v2")).toDF("k", "s"), Seq("k"))
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "v1"), (2L, "v2"), (3L, "v1"), (9L, "v2")))
    // batch 2 re-updates k=2: the v2 row (itself an append) must be
    // retired by the NEWER delete — stacked upserts converge
    sources.Iceberg.upsert(spark, dir, Seq((2L, "v3")).toDF("k", "s"),
      Seq("k"))
    val got = sources.Iceberg.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "v1"), (2L, "v3"), (3L, "v1"), (9L, "v2")),
      s"second upsert must retire the first's row: $got")
    assert(sources.Iceberg.read(spark, dir)
      .groupBy(col("k")).count().filter(col("count") > 1).count() == 0,
      "no key may appear twice after upserts")
  }

  test("readFiltered: hidden transforms prune from raw predicates") {
    // bucket: equality on the raw key prunes to one bucket (q177)
    val bt = sources.Iceberg.ordersIcebergBucketTable(spark, sfDir)
    val key = 42L
    val viaPush = sources.Iceberg.readFiltered(spark, bt,
      col("o_custkey") === key)
    val pushPlanned = sources.Iceberg.lastFilesPlanned
    val b = graft.functions.IcebergTransforms.bucketLong(
      key, sources.Iceberg.BucketCount)
    sources.Iceberg.readWhere(spark, bt)(
      pv => pv.get("o_custkey_bucket").contains(b.toString))
    assert(pushPlanned == sources.Iceberg.lastFilesPlanned,
      "pushdown must reach the same bucket pruning as the explicit call")
    val orders = Tables.load(spark, sfDir, "orders")
    assert(viaPush.count() ==
      orders.filter(col("o_custkey") === key).count())
    // month: a raw timestamp range prunes to the ordinal window
    val mt = sources.Iceberg.ordersIcebergMonthTable(spark, sfDir)
    val lo = java.sql.Timestamp.valueOf("1995-03-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1995-05-31 23:59:59")
    val months = sources.Iceberg.readFiltered(spark, mt,
      col("o_orderdate") >= lit(lo) && col("o_orderdate") <= lit(hi))
    val monthsPlanned = sources.Iceberg.lastFilesPlanned
    sources.Iceberg.read(spark, mt)
    assert(monthsPlanned * 4 < sources.Iceberg.lastFilesPlanned,
      s"a 3-month raw range must prune most of ~80 months " +
        s"($monthsPlanned planned)")
    assert(months.count() == orders.filter(
      col("o_orderdate").between(lit(lo), lit(hi))).count())
    // manifest bounds: a raw key range data-skips the range table
    val rt = sources.Iceberg.ordersIcebergRangeTable(spark, sfDir)
    val ranged = sources.Iceberg.readFiltered(spark, rt,
      col("o_orderkey") >= 100L && col("o_orderkey") <= 999L)
    val rangedPlanned = sources.Iceberg.lastFilesPlanned
    sources.Iceberg.read(spark, rt)
    assert(rangedPlanned < sources.Iceberg.lastFilesPlanned)
    assert(ranged.count() ==
      orders.filter(col("o_orderkey").between(100, 999)).count())
  }

  test("external merged manifest: per-entry data_sequence_number wins") {
    // the unsound-surrogate trap: maintenance on a REAL table merges
    // manifests, so a data file originally added at sequence 1 rides
    // a manifest whose added_snapshot_id is 5 — scoping by the
    // manifest's adding snapshot would skip an equality delete at
    // sequence 3 and resurrect deleted rows; the entry's own
    // data_sequence_number must win
    val dir = Files.createTempDirectory("iceseq").toString
    Files.createDirectories(Paths.get(s"$dir/metadata"))
    val d = stagePart(dir, "data/d.parquet",
      Seq((1L, "red"), (2L, "blue")))
    val tmp = Files.createTempDirectory("iceseqw").toString + "/w"
    Seq("red").toDF("s").coalesce(1).write.parquet(tmp)
    val delFile = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    val seqEntryT = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"data_sequence_number","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
        |{"name":"content","type":"int","default":0},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"},
        |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],
        |"default":null}
        |]}}]}""".stripMargin)
    def seqEntry(path: String, content: Int, dataSeq: Long,
                 eqIds: Seq[Int]): GenericRecord = {
      val df = new GenericData.Record(
        seqEntryT.getField("data_file").schema())
      df.put("content", content)
      df.put("file_path", path)
      df.put("file_format", "PARQUET")
      df.put("record_count", 2L)
      df.put("file_size_in_bytes", new java.io.File(path).length())
      if (eqIds.nonEmpty)
        df.put("equality_ids", eqIds.map(Int.box).asJava)
      val e = new GenericData.Record(seqEntryT)
      e.put("status", 1)
      e.put("data_sequence_number", dataSeq)
      e.put("data_file", df)
      e
    }
    val seqListT = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"content","type":"int","default":0},
        |{"name":"sequence_number","type":["null","long"],"default":null},
        |{"name":"added_snapshot_id","type":["null","long"],"default":null}
        |]}""".stripMargin)
    def listRef(m: String, content: Int, seq: Long,
                addedBy: Long): GenericRecord = {
      val r = new GenericData.Record(seqListT)
      r.put("manifest_path", m)
      r.put("manifest_length", new java.io.File(m).length())
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("sequence_number", seq)
      r.put("added_snapshot_id", addedBy)
      r
    }
    // MERGED data manifest: added by snapshot 5 (seq 5), but the
    // entry's data sequence is 1 (its original add)
    val dm = s"$dir/metadata/m-data.avro"
    writeAvro(dm, seqEntryT, Seq(seqEntry(d, 0, 1L, Seq.empty)))
    // equality-delete manifest at sequence 3, matching s (field id 2)
    val em = s"$dir/metadata/m-del.avro"
    writeAvro(em, seqEntryT, Seq(seqEntry(delFile, 2, 3L, Seq(2))))
    val l = s"$dir/metadata/l5.avro"
    writeAvro(l, seqListT,
      Seq(listRef(dm, 0, 5L, 5L), listRef(em, 1, 3L, 3L)))
    Files.write(Paths.get(s"$dir/metadata/v1.metadata.json"),
      s"""{"format-version":2,"table-uuid":"t","location":"$dir",
         |"last-updated-ms":0,"last-column-id":2,"last-sequence-number":5,
         |"schema":$schemaJson,
         |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
         |"properties":{},"current-snapshot-id":5,
         |"snapshots":[{"snapshot-id":5,"sequence-number":5,"timestamp-ms":1,
         |"summary":{"operation":"append"},"manifest-list":"$l"}]}"""
        .stripMargin.replace("\n", "").getBytes("UTF-8"))
    val got = sources.Iceberg.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((2L, "blue")),
      s"delete at seq 3 must apply to data whose ENTRY seq is 1 even " +
        s"though its merged manifest was added at seq 5; got $got")
  }

  test("refs: tags hold snapshots through expiry, released on drop") {
    import spark.implicits._
    val dir = Files.createTempDirectory("iceref").toString + "/t"
    sources.Iceberg.commitOverwrite(Seq((1L, "a")).toDF("k", "s"), dir)
    sources.Iceberg.commitOverwrite(Seq((2L, "b")).toDF("k", "s"), dir)
    sources.Iceberg.commitOverwrite(Seq((3L, "c")).toDF("k", "s"), dir)
    sources.Iceberg.setRef(dir, "v1-audit", 1L)
    // the tag resolves and reads
    assert(sources.Iceberg.refSnapshot(dir, "v1-audit") == 1L)
    assert(sources.Iceberg.readRef(spark, dir, "v1-audit")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // expiry retains the tagged snapshot past the count horizon
    sources.Iceberg.expireSnapshots(dir, keepLast = 1)
    assert(sources.Iceberg.snapshotIds(dir).toSet == Set(1L, 3L),
      "tagged snapshot 1 must survive keepLast=1; untagged 2 expires")
    assert(sources.Iceberg.readRef(spark, dir, "v1-audit")
      .collect().map(_.getLong(0)).toSeq == Seq(1L),
      "the tagged snapshot's files must still read after expiry")
    // dropping the tag releases it to the next expiry
    sources.Iceberg.dropRef(dir, "v1-audit")
    sources.Iceberg.expireSnapshots(dir, keepLast = 1)
    assert(sources.Iceberg.snapshotIds(dir) == Seq(3L))
    val e = intercept[IllegalArgumentException] {
      sources.Iceberg.refSnapshot(dir, "v1-audit")
    }
    assert(e.getMessage.contains("no ref"))
    // unknown snapshot refuses; bad type refuses
    intercept[IllegalArgumentException] {
      sources.Iceberg.setRef(dir, "x", 99L)
    }
    intercept[IllegalArgumentException] {
      sources.Iceberg.setRef(dir, "x", 3L, "fork")
    }
  }

  test("write-audit-publish: branch stages, main frozen, publish atomic") {
    import spark.implicits._
    val dir = Files.createTempDirectory("icewap").toString + "/t"
    sources.Iceberg.commitOverwrite(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)
    // stage two appends on the audit branch
    sources.Iceberg.commitAppendToBranch(
      Seq((3L, "c")).toDF("k", "s"), dir, "audit")
    sources.Iceberg.commitAppendToBranch(
      Seq((4L, "d")).toDF("k", "s"), dir, "audit")
    // the AUDIT WINDOW: main still serves the published state while
    // the branch accumulates — the whole point of WAP
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "main must not move while the branch stages")
    assert(sources.Iceberg.readRef(spark, dir, "audit")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L),
      "the branch head must see base + both staged appends")
    // refs survive unrelated main commits (the carry-forward bug
    // class: a rebuilt metadata that dropped refs would lose the
    // staged branch silently) — note this commit also moves main
    sources.Iceberg.commitAppend(Seq((9L, "z")).toDF("k", "s"), dir)
    assert(sources.Iceberg.refSnapshot(dir, "audit") > 0)
    // publish: one atomic metadata step
    sources.Iceberg.fastForward(dir, "audit")
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // a tag cannot be fast-forwarded
    sources.Iceberg.setRef(dir, "pin", 1L)
    val e = intercept[IllegalArgumentException] {
      sources.Iceberg.fastForward(dir, "pin")
    }
    assert(e.getMessage.contains("not a branch"))
  }

  test("racing committers: one wins the metadata CAS, losers retry onto the next version") {
    import spark.implicits._
    val dir = Files.createTempDirectory("icerace").toString + "/t"
    sources.Iceberg.commitOverwrite(Seq((0L, "base")).toDF("k", "s"), dir)
    val n = 4
    // all N appenders snapshot the SAME base version behind a barrier,
    // so N-1 of them are guaranteed to lose the CAS and must recover
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val futures = (1 to n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            barrier.await()
            sources.Iceberg.commitAppend(
              Seq((i.toLong, s"w$i")).toDF("k", "s"), dir)
          }
        })
      }
      val snaps = futures.map(
        _.get(180, java.util.concurrent.TimeUnit.SECONDS))
      assert(snaps.toSet.size == n,
        s"each committer owns a distinct snapshot id, got $snaps")
    } finally pool.shutdown()
    // every append landed exactly once; versions are contiguous (no
    // torn or skipped metadata); every snapshot stays addressable
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == (0L to n.toLong))
    assert(sources.Iceberg.versions(dir) == (1 to (n + 1)))
    sources.Iceberg.snapshotIds(dir).foreach { id =>
      sources.Iceberg.readSnapshot(spark, dir, id).count()
    }
  }

  test("losing the metadata CAS retries cleanly onto N+1 (deterministic planted race)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("iceplant").toString + "/t"
    sources.Iceberg.commitOverwrite(Seq((0L, "base")).toDF("k", "s"), dir)
    val before = sources.Iceberg.commitCasRetries.get
    // plant a competing commit in the exact window between the
    // loser's metadata assembly and its hard-link CAS — the hook is
    // reentrancy-guarded so the planted commit itself runs unraced
    val planted = new java.util.concurrent.atomic.AtomicBoolean(false)
    sources.Iceberg.commitClaimHook = (d, _) =>
      if (planted.compareAndSet(false, true))
        sources.Iceberg.commitAppend(
          Seq((100L, "racer")).toDF("k", "s"), d)
    try {
      sources.Iceberg.commitAppend(
        Seq((200L, "loser")).toDF("k", "s"), dir)
    } finally sources.Iceberg.commitClaimHook = (_, _) => ()
    assert(sources.Iceberg.commitCasRetries.get >= before + 1,
      "the loser's lost CAS must be visible through the retry seam")
    assert(sources.Iceberg.versions(dir) == (1 to 3),
      "contiguous metadata versions — no torn or skipped commit")
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 100L, 200L),
      "both the racer's and the loser's rows land exactly once")
    // the loser's recovered snapshot parents onto the racer's: the
    // final snapshot's manifest list must carry all three data files
    sources.Iceberg.snapshotIds(dir).foreach { id =>
      sources.Iceberg.readSnapshot(spark, dir, id).count()
    }
  }

  test("q189 gate shape: two parquet names, one field id — resolution by id") {
    val got = sources.Iceberg.icebergRenameRead(spark, sfDir)
    val orders = Tables.load(spark, sfDir, "orders")
    assert(got.count() == orders.count())
    assert(got.schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "priority"))
    // the decisive check: a name-resolving reader would NULL the
    // renamed column for every PRE-rename file (half the table)
    assert(got.filter(col("priority").isNull).count() == 0)
    // the data files genuinely disagree on the column's parquet name
    val t = sources.Iceberg.ordersIcebergRenameTable(spark, sfDir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val names = walk(new java.io.File(s"$t/data"))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => spark.read.parquet(f.getPath).schema.fieldNames.last)
      .toSet
    assert(names == Set("o_orderpriority", "priority"),
      s"expected both spellings on disk, got $names")
    // the rename was metadata-only and recorded the schema history
    assert(sources.Iceberg.snapshotIds(t).size == 2)
  }

  test("rename refuses on a name-mapped table; mapping survives later commits") {
    import spark.implicits._
    // a migrated table: external parquet WITHOUT field ids
    val ext = Files.createTempDirectory("icenm").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1)
      .write.parquet(s"$ext/files")
    val parts = new java.io.File(s"$ext/files").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    val dir = s"$ext/t"
    sources.Iceberg.registerFiles(dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType))),
      Seq.empty, parts.map(_ -> Map.empty[String, String]))
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // a rename would orphan the id-less files — refused loudly
    val e = intercept[IllegalArgumentException] {
      sources.Iceberg.renameColumn(dir, "k", "key")
    }
    assert(e.getMessage.contains("name-mapped"))
    // the mapping property survives a later commit (properties are
    // table state) and the MIXED table still reads: id-less old
    // files by name, id-carrying new files alongside
    sources.Iceberg.commitAppend(Seq((3L, "c")).toDF("k", "s"), dir)
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    val e2 = intercept[IllegalArgumentException] {
      sources.Iceberg.renameColumn(dir, "k", "key")
    }
    assert(e2.getMessage.contains("name-mapped"),
      "the refusal must survive commits — mapping is table state")
  }

  test("q186 gate shape: expire reclaims the delete file, the tag pins its snapshot") {
    val got = sources.Iceberg.icebergRetentionRead(spark, sfDir)
    val orders = Tables.load(spark, sfDir, "orders")
    val nOrders = orders.count()
    val nTenths = orders.filter(col("o_orderkey") % 10 === 0).count()
    // main arm = orders minus tenths, tag arm = full pre-delete orders
    assert(got.filter(col("src") === "main").count() == nOrders - nTenths)
    assert(got.filter(col("src") === "tag").count() == nOrders)
    val t = sources.Iceberg.ordersIcebergRetentionTable(spark, sfDir)
    // only the tag-pinned snapshot and the current survive the expire
    assert(sources.Iceberg.snapshotIds(t) == Seq(2L, 4L))
    // no position-delete file remains on disk — main serves the
    // compacted copy-on-write state with zero MoR debt
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    assert(!walk(new java.io.File(s"$t/data")).exists(f =>
        f.getPath.contains("/delete-") && f.getName.endsWith(".parquet")),
      "expire must have reclaimed snapshot 3's position-delete file " +
        "(the write job's _SUCCESS/crc sidecars are unreferenced and stay)")
    // time travel to an EXPIRED snapshot fails loudly on its missing
    // manifest-list, never reads wrong data
    intercept[Exception] {
      sources.Iceberg.readSnapshot(spark, t, 3L).collect()
    }
    // (tag-drop releasing the pin is held by the expireSnapshots
    // retention spec — not repeated here on the session-cached table)
  }

  test("consumeIncremental: exactly-once across a planted crash at the offset window") {
    import spark.implicits._
    val dir = Files.createTempDirectory("icecc").toString + "/t"
    val work = Files.createTempDirectory("iceccw").toString
    sources.Iceberg.commitAppend(Seq((1L, "a")).toDF("k", "s"), dir)
    sources.Iceberg.commitAppend(Seq((2L, "b")).toDF("k", "s"), dir)
    def sinkKeys: Seq[Long] = spark.read.parquet(s"$work/sink")
      .collect().map(_.getLong(0)).sorted.toSeq
    // first poll lands both snapshots, offset persists
    assert(sources.Iceberg.consumeIncremental(spark, dir, work) == 2L)
    assert(sinkKeys == Seq(1L, 2L))
    // another append; CRASH after the sink write, before the offset
    sources.Iceberg.commitAppend(Seq((3L, "c")).toDF("k", "s"), dir)
    intercept[RuntimeException] {
      sources.Iceberg.consumeIncremental(spark, dir, work,
        _ => throw new RuntimeException("planted crash before offset"))
    }
    // the sink already holds snapshot 3's rows, but the offset is stale
    assert(sinkKeys == Seq(1L, 2L, 3L))
    // restart: snapshot 3 re-delivers and REPLACES its own partition —
    // no duplicates, offset advances
    assert(sources.Iceberg.consumeIncremental(spark, dir, work) == 3L)
    assert(sinkKeys == Seq(1L, 2L, 3L))
    // quiet poll is a no-op; a later append flows incrementally
    assert(sources.Iceberg.consumeIncremental(spark, dir, work) == 3L)
    sources.Iceberg.commitAppend(Seq((4L, "d")).toDF("k", "s"), dir)
    assert(sources.Iceberg.consumeIncremental(spark, dir, work) == 4L)
    assert(sinkKeys == Seq(1L, 2L, 3L, 4L))
    // an overwrite past the offset refuses loudly — the append-only
    // contract: silently missing the overwrite's removed rows would
    // corrupt every downstream consumer
    sources.Iceberg.commitOverwrite(Seq((9L, "z")).toDF("k", "s"), dir)
    val e = intercept[IllegalArgumentException] {
      sources.Iceberg.consumeIncremental(spark, dir, work)
    }
    assert(e.getMessage.contains("incremental read is defined only over appends"))
    // and the refusal left the offset untouched — no partial consume
    assert(sinkKeys == Seq(1L, 2L, 3L, 4L))
  }

  test("version-pinned ops refuse on a lost CAS instead of blind-retrying") {
    import spark.implicits._
    val dir = Files.createTempDirectory("icepin").toString + "/t"
    sources.Iceberg.commitOverwrite(Seq((1L, "a")).toDF("k", "s"), dir)
    sources.Iceberg.commitAppend(Seq((2L, "b")).toDF("k", "s"), dir)
    // plant a racing append in setRef's claim window: the pinned op
    // computed its next state against the OLD head, so a blind retry
    // would publish stale refs over the racer's commit — it must
    // refuse loudly and tell the caller to recompute
    val planted = new java.util.concurrent.atomic.AtomicBoolean(false)
    sources.Iceberg.commitClaimHook = (d, _) =>
      if (planted.compareAndSet(false, true))
        sources.Iceberg.commitAppend(Seq((3L, "c")).toDF("k", "s"), d)
    try {
      val e = intercept[IllegalArgumentException] {
        sources.Iceberg.setRef(dir, "audit", 2L)
      }
      assert(e.getMessage.contains("concurrent writer claimed"))
    } finally sources.Iceberg.commitClaimHook = (_, _) => ()
    // the racer's commit survived; a recomputed setRef then lands
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    sources.Iceberg.setRef(dir, "audit", 2L)
    assert(sources.Iceberg.readRef(spark, dir, "audit")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("crash between metadata link and hint move hides nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("icecrash").toString + "/t"
    sources.Iceberg.commitOverwrite(Seq((1L, "a")).toDF("k", "s"), dir)
    sources.Iceberg.commitAppend(Seq((2L, "b")).toDF("k", "s"), dir)
    // a writer crashed after hard-linking v2.metadata.json but before
    // moving version-hint.text: rewind the hint to simulate
    Files.write(Paths.get(s"$dir/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))
    // the LINK is the commit point — the reader must serve v2
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "a stale hint must not hide the committed v2")
    // and the next commit claims v3, never re-claims v2
    sources.Iceberg.commitAppend(Seq((3L, "c")).toDF("k", "s"), dir)
    assert(sources.Iceberg.versions(dir) == Seq(1, 2, 3))
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("iceberg_scan reads a ref by name: the WAP audit query is SQL") {
    import spark.implicits._
    val dir = Files.createTempDirectory("icewapsql").toString + "/t"
    sources.Iceberg.commitOverwrite(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)
    sources.Iceberg.commitAppendToBranch(
      Seq((3L, "c")).toDF("k", "s"), dir, "audit")
    graft.extensions.GraftExtensions.registerTableFunctions(spark)
    // the audit window, interrogated by NAME through plain SQL:
    // branch = base + stage, main unmoved
    assert(spark.sql(s"SELECT k FROM iceberg_scan('$dir', 'audit')")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(spark.sql(s"SELECT k FROM iceberg_scan('$dir')")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // tags resolve through the same arm; a long literal still means
    // snapshot id (the existing spelling is unchanged)
    sources.Iceberg.setRef(dir, "v1-pin", 1L)
    assert(spark.sql(s"SELECT k FROM iceberg_scan('$dir', 'v1-pin')")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(spark.sql(s"SELECT k FROM iceberg_scan('$dir', 1)")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // an unknown ref is loud, naming what exists
    val e = intercept[Exception] {
      spark.sql(s"SELECT k FROM iceberg_scan('$dir', 'nope')").collect()
    }
    assert(e.getMessage.contains("no ref"))
  }

  test("snapshot-log records only CURRENT-snapshot transitions") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val dir = Files.createTempDirectory("icbsl").toString + "/t"
    def meta = {
      val vs = new java.io.File(s"$dir/metadata").listFiles()
        .filter(_.getName.matches("v\\d+\\.metadata\\.json"))
        .map(_.getName.stripPrefix("v").stripSuffix(".metadata.json").toInt)
      mapper.readTree(new java.io.File(
        s"$dir/metadata/v${vs.max}.metadata.json"))
    }
    def logEntries = meta.get("snapshot-log").elements().asScala
      .map(e => (e.get("timestamp-ms").asLong,
        e.get("snapshot-id").asLong)).toSeq
    sources.Iceberg.commitOverwrite(Seq((1L, "a")).toDF("k", "s"), dir)
    assert(logEntries.map(_._2) == Seq(1L))
    // a BRANCH commit does not move current-snapshot-id: external
    // clients resolve FOR TIMESTAMP AS OF through snapshot-log, so an
    // entry here would leak the unpublished WAP stage into the audit
    // window
    sources.Iceberg.commitAppendToBranch(
      Seq((2L, "b")).toDF("k", "s"), dir, "audit")
    assert(logEntries.map(_._2) == Seq(1L),
      "branch commit must not append to snapshot-log")
    // publish IS a transition — and must be recorded, or a timestamp
    // reader misses the published state
    sources.Iceberg.fastForward(dir, "audit")
    assert(logEntries.map(_._2) == Seq(1L, 2L))
    // rollback is a transition too
    sources.Iceberg.rollbackTo(dir, 1L)
    assert(logEntries.map(_._2) == Seq(1L, 2L, 1L))
    // chronologically ordered — the binary-search contract
    assert(logEntries.map(_._1) == logEntries.map(_._1).sorted)
    assert(logEntries.map(_._1).distinct.size == logEntries.size)
  }

  test("truncate over an int source keeps an int partition tuple") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    import graft.functions.IcebergTransforms
    // the spec defines truncate as type-preserving
    assert(IcebergTransforms.tupleType("truncate[10]", IntegerType)
      == IntegerType)
    assert(IcebergTransforms.tupleType("truncate[10]", LongType)
      == LongType)
    val dir = Files.createTempDirectory("icbtrunc").toString + "/t"
    val df = (1 to 40).map(i => (i, s"v$i")).toDF("i", "s")
    sources.Iceberg.commitOverwriteHidden(df, dir,
      Seq("i" -> "truncate[10]"))
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getInt(0)).sorted.toSeq == (1 to 40))
    // the manifest's avro partition field must be typed int — an
    // external client derives the tuple type from spec+schema and
    // would mis-read a long-typed value
    val manifest = new java.io.File(s"$dir/metadata").listFiles()
      .filter(f => f.getName.startsWith("snap-") &&
        f.getName.endsWith("-m0.avro")).head
    val r = new org.apache.avro.file.DataFileReader[GenericRecord](
      manifest, new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
    try {
      val pSchema = r.getSchema.getField("data_file").schema()
        .getField("partition").schema()
      val union = pSchema.getField("i_trunc").schema()
      assert(union.getTypes.asScala.map(_.getType).toSet ==
        Set(Schema.Type.NULL, Schema.Type.INT))
      // and the tuple VALUES survived the long-widened scalar math
      val tuples = Iterator.continually(
        if (r.hasNext) Some(r.next()) else None)
        .takeWhile(_.isDefined).flatten
        .map(_.get("data_file").asInstanceOf[GenericRecord]
          .get("partition").asInstanceOf[GenericRecord].get("i_trunc"))
        .toSet
      assert(tuples == Set(0, 10, 20, 30, 40).map(Int.box))
    } finally r.close()
  }

  test("q173 gate shape: appended matches survive the equality delete") {
    val got = sources.Iceberg.icebergEqDeleteRead(spark, sfDir)
    val orders = Tables.load(spark, sfDir, "orders")
    val expect = orders.filter(
      (col("o_orderkey") % 2 === 1 && col("o_orderstatus") =!= "P") ||
        col("o_orderkey") % 2 === 0).count()
    assert(got.count() == expect)
    assert(got.filter(col("o_orderstatus") === "P").count() ==
      orders.filter(col("o_orderkey") % 2 === 0 &&
        col("o_orderstatus") === "P").count(),
      "every surviving 'P' row must be an even (post-delete) key")
  }

  test("row-level deletes racing disjoint appends retry internally") {
    import spark.implicits._
    val dir = Files.createTempDirectory("iceconflict").toString + "/t"
    sources.Iceberg.commitAppend(
      (1L to 100L).map(i => (i, s"s$i")).toDF("k", "s")
        .repartitionByRange(4, col("k")), dir) // snap 1
    val before = sources.Iceberg.rowOpConflictRetries.get
    // plant an append of PROVABLY-DISJOINT keys (manifest bounds
    // [1000,1010] vs the delete's k <= 10) in the delete's claim
    // window: the lost CAS must re-prove and retry INTERNALLY
    val planted = new java.util.concurrent.atomic.AtomicBoolean(false)
    sources.Iceberg.commitClaimHook = (d, _) =>
      if (planted.compareAndSet(false, true))
        sources.Iceberg.commitAppend(
          (1000L to 1010L).map(i => (i, s"w$i")).toDF("k", "s"), d)
    try sources.Iceberg.deleteWhere(spark, dir, col("k") <= 10L)
    finally sources.Iceberg.commitClaimHook = (_, _) => ()
    assert(sources.Iceberg.rowOpConflictRetries.get > before,
      "the internal conflict-proving retry must surface in its seam")
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq ==
      ((11L to 100L) ++ (1000L to 1010L)),
      "both the racing append and the delete land exactly once")
    // an OVERLAPPING racing append still aborts loudly
    val planted2 = new java.util.concurrent.atomic.AtomicBoolean(false)
    sources.Iceberg.commitClaimHook = (d, _) =>
      if (planted2.compareAndSet(false, true))
        sources.Iceberg.commitAppend(
          Seq((12L, "overlap")).toDF("k", "s"), d)
    val e = try intercept[IllegalArgumentException] {
      sources.Iceberg.deleteWhere(spark, dir,
        col("k") >= 11L && col("k") <= 20L)
    } finally sources.Iceberg.commitClaimHook = (_, _) => ()
    assert(e.getMessage.contains("recompute against the new state"),
      e.getMessage)
    // the winner's row survived; the aborted delete changed nothing
    assert(sources.Iceberg.read(spark, dir)
      .filter(col("k") <= 20L).count() == 11)
  }

  test("equality deletes racing appends: disjoint lands, overlap aborts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("iceconflict2").toString + "/t"
    sources.Iceberg.commitAppend(
      (1L to 100L).map(i => (i, s"s$i")).toDF("k", "s")
        .repartitionByRange(4, col("k")), dir)
    val before = sources.Iceberg.rowOpConflictRetries.get
    val planted = new java.util.concurrent.atomic.AtomicBoolean(false)
    sources.Iceberg.commitClaimHook = (d, _) =>
      if (planted.compareAndSet(false, true))
        sources.Iceberg.commitAppend(
          (2000L to 2005L).map(i => (i, s"w$i")).toDF("k", "s"), d)
    try sources.Iceberg.deleteWhereEquality(spark, dir,
      Seq(3L, 7L).toDF("k"))
    finally sources.Iceberg.commitClaimHook = (_, _) => ()
    assert(sources.Iceberg.rowOpConflictRetries.get > before)
    val got = sources.Iceberg.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ((1L to 100L).filterNot(Set(3L, 7L)) ++
      (2000L to 2005L)),
      "the re-sequenced equality delete must not swallow the " +
        "winner's disjoint rows")
    // overlap: the winner appends k=42 while the delete retires k=42
    // — re-sequencing would swallow the NEWER version; abort loudly
    val planted2 = new java.util.concurrent.atomic.AtomicBoolean(false)
    sources.Iceberg.commitClaimHook = (d, _) =>
      if (planted2.compareAndSet(false, true))
        sources.Iceberg.commitAppend(
          Seq((42L, "newer")).toDF("k", "s"), d)
    val e = try intercept[IllegalArgumentException] {
      sources.Iceberg.deleteWhereEquality(spark, dir, Seq(42L).toDF("k"))
    } finally sources.Iceberg.commitClaimHook = (_, _) => ()
    assert(e.getMessage.contains("recompute against the new state"))
    // a racing DELETE winner is never provably disjoint here
    val planted3 = new java.util.concurrent.atomic.AtomicBoolean(false)
    sources.Iceberg.commitClaimHook = (d, _) =>
      if (planted3.compareAndSet(false, true))
        sources.Iceberg.deleteWhereEquality(spark, d, Seq(90L).toDF("k"))
    val e2 = try intercept[IllegalArgumentException] {
      sources.Iceberg.deleteWhereEquality(spark, dir, Seq(91L).toDF("k"))
    } finally sources.Iceberg.commitClaimHook = (_, _) => ()
    assert(e2.getMessage.contains("only append winners"), e2.getMessage)
  }

  test("partition-spec evolution: per-spec pruning, stale-spec writes refuse") {
    import org.apache.spark.sql.functions.pmod
    val work = Files.createTempDirectory("icespecevo").toString
    val t = s"$work/t"
    // month decorrelated from key parity (i/2), so BOTH the even
    // (year-spec) and odd (month-spec) generations span all 12 months
    val df = (0L until 200L).map { i =>
      (i, java.sql.Timestamp.valueOf(
        f"1995-${(i / 2) % 12 + 1}%02d-0${i % 9 + 1} 00:00:00"))
    }.toDF("k", "ts")
    sources.Iceberg.commitOverwriteHidden(
      df.filter(pmod(col("k"), lit(2)) === 0).coalesce(1), t,
      Seq("ts" -> "year"))
    val newSpec = sources.Iceberg.evolvePartitionSpec(
      t, hiddenSpec = Seq("ts" -> "month"))
    assert(newSpec == 1)
    // a write still declaring the OLD spec refuses (the table's
    // default moved); the NEW spec lands
    val e = intercept[IllegalArgumentException] {
      sources.Iceberg.commitAppendHidden(
        df.filter(pmod(col("k"), lit(2)) === 1), t, Seq("ts" -> "year"))
    }
    assert(e.getMessage.contains("partition spec mismatch"))
    sources.Iceberg.commitAppendHidden(
      df.filter(pmod(col("k"), lit(2)) === 1).coalesce(1), t,
      Seq("ts" -> "month"))
    // full read sees both generations
    assert(sources.Iceberg.read(spark, t).count() == 200)
    // a range read prunes EACH generation under ITS OWN spec
    val got = sources.Iceberg.readFiltered(spark, t,
      col("ts") >= lit(java.sql.Timestamp.valueOf(
        "1995-03-01 00:00:00")) &&
        col("ts") < lit(java.sql.Timestamp.valueOf(
          "1995-05-01 00:00:00")))
    assert(got.count() == df.filter(col("ts") >=
      lit(java.sql.Timestamp.valueOf("1995-03-01 00:00:00")) &&
      col("ts") < lit(java.sql.Timestamp.valueOf(
        "1995-05-01 00:00:00"))).count())
    // year generation: single 1995 file (cannot prune to fewer);
    // month generation: exactly the Mar/Apr/May files of 12 (the
    // exclusive upper bound widens to May — superset contract)
    assert(sources.Iceberg.lastFilesPlannedBySpec.getOrElse(1, -1) == 3,
      s"month generation must plan 3 files, got " +
        s"${sources.Iceberg.lastFilesPlannedBySpec}")
    assert(sources.Iceberg.lastFilesTotalBySpec.getOrElse(1, -1) == 12)
    assert(sources.Iceberg.lastFilesPlannedBySpec.getOrElse(0, -1) == 1)
    // identity-set changes on THIS table are allowed: hidden-spec
    // files carry every column, so no generation can disagree
    // physically (the hive-stripped refusal is pinned in the
    // dedicated evolve-after-rewrite test)
  }

  test("identity spec evolution: refused stripped, allowed after rewrite") {
    import org.apache.spark.sql.functions.pmod
    val work = Files.createTempDirectory("icespecident").toString
    val t = s"$work/t"
    val df = (0L until 40L).map(i =>
      (i, s"s${i % 2}", s"b${i % 4}")).toDF("k", "s", "b")
    sources.Iceberg.commitOverwritePartitioned(
      df.filter(pmod(col("k"), lit(2)) === 0), t, Seq("s"))
    sources.Iceberg.commitAppendPartitioned(
      df.filter(pmod(col("k"), lit(2)) === 1), t, Seq("s"))
    // hive-stripped generations refuse identity-set changes loudly
    val e = intercept[IllegalArgumentException] {
      sources.Iceberg.evolvePartitionSpec(t, partCols = Seq("b"))
    }
    assert(e.getMessage.contains("rewriteDataFilesFullSchema"))
    // the rewrite makes every file carry every column ...
    sources.Iceberg.rewriteDataFilesFullSchema(spark, t)
    assert(sources.Iceberg.read(spark, t).count() === 40)
    // ... which unlocks the evolution
    val newSpec = sources.Iceberg.evolvePartitionSpec(
      t, partCols = Seq("b"))
    assert(newSpec === 1)
    // appends under the NEW spec stay standard-shape automatically
    val extra = (100L until 108L).map(i =>
      (i, s"s${i % 2}", s"b${i % 4}")).toDF("k", "s", "b")
    sources.Iceberg.commitAppendPartitioned(extra, t, Seq("b"))
    assert(sources.Iceberg.read(spark, t).count() === 48)
    // both generations serve a filtered read; the b generation
    // prunes on its identity tuple, the s generation keeps
    // (superset — its manifests never recorded b)
    val out = sources.Iceberg.readFiltered(spark, t,
      col("b") === "b1")
    assert(out.count() ===
      df.filter(col("b") === "b1").count() + 2)
    val planned = sources.Iceberg.lastFilesPlannedBySpec
    val total = sources.Iceberg.lastFilesTotalBySpec
    assert(planned.getOrElse(1, -1) < total.getOrElse(1, 0) &&
      planned.getOrElse(1, -1) >= 1,
      s"the new-spec generation must prune on b " +
        s"(planned $planned of $total)")
    assert(planned.getOrElse(0, -1) == total.getOrElse(0, 0),
      s"the old generation keeps all its files (superset): " +
        s"$planned vs $total")
  }

  /** Every live data file of `t` carries `s`, the library read and
    * the connector read agree, and no row reads `s` NULL. */
  private def keepsStandardShape(t: String, rows: Long): Unit = {
    sources.Iceberg.batchPlan(t, sources.Iceberg.mainSnapshotId(t))
      .files.foreach(f => assert(
        spark.read.parquet(f.path).columns.contains("s"),
        s"${f.path} dropped the partition column s"))
    val lib = sources.Iceberg.read(spark, t)
    val conn = spark.read.format("graft-iceberg").option("path", t).load()
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.select("k", "s").collect().map(_.toString).sorted.toSeq
    assert(sorted(lib) == sorted(conn))
    assert(lib.count() == rows)
    assert(lib.filter(col("s").isNull).count() == 0)
  }

  test("a DSv2 append after rewriteDataFilesFullSchema keeps the columns") {
    val t = Files.createTempDirectory("icestdapp").toString + "/t"
    val df = (1L to 28L).map(k => (k, if (k % 2 == 0) "e" else "o"))
      .toDF("k", "s")
    sources.Iceberg.commitOverwritePartitioned(
      df.filter(col("k") <= 20), t, Seq("s"))
    sources.Iceberg.rewriteDataFilesFullSchema(spark, t)
    df.filter(col("k") > 20)
      .write.format("graft-iceberg").mode("append").save(t)
    keepsStandardShape(t, 28)
  }

  test("foreign multi-spec metadata: unknown default spec stays readable") {
    import org.apache.spark.sql.functions.pmod
    val work = Files.createTempDirectory("icespecforeign").toString
    val t = s"$work/t"
    val df = (0L until 100L).map { i =>
      (i, java.sql.Timestamp.valueOf(
        f"1995-${(i / 2) % 12 + 1}%02d-03 00:00:00"))
    }.toDF("k", "ts")
    sources.Iceberg.commitOverwriteHidden(
      df.filter(pmod(col("k"), lit(2)) === 0).coalesce(1), t,
      Seq("ts" -> "year"))
    sources.Iceberg.evolvePartitionSpec(
      t, hiddenSpec = Seq("ts" -> "month"))
    sources.Iceberg.commitAppendHidden(
      df.filter(pmod(col("k"), lit(2)) === 1).coalesce(1), t,
      Seq("ts" -> "month"))
    // FOREIGN evolution this engine didn't make: a third spec
    // (bucket over k) appended by hand, default pointed at it — no
    // manifest references it yet. Reads must keep serving both
    // existing generations under THEIR specs.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val metaDir = Paths.get(t, "metadata")
    val v = new String(Files.readAllBytes(
      metaDir.resolve("version-hint.text")), "UTF-8").trim.toInt
    val meta = mapper.readTree(Files.readAllBytes(
        metaDir.resolve(s"v$v.metadata.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val specs = meta.withArray[
      com.fasterxml.jackson.databind.node.ArrayNode]("partition-specs")
    val s2 = specs.addObject()
    s2.put("spec-id", 2)
    val f2 = s2.putArray("fields")
    f2.addObject()
      .put("name", "k_bucket").put("transform", "bucket[4]")
      .put("source-id", 1).put("field-id", 1002)
    // a VOID field (real Iceberg v1's dropped-partition-field shape)
    // must be readable too — it derives nothing and prunes nothing
    f2.addObject()
      .put("name", "ts_old").put("transform", "void")
      .put("source-id", 2).put("field-id", 1003)
    meta.put("default-spec-id", 2)
    meta.put("last-partition-id", 1002)
    Files.write(metaDir.resolve(s"v${v + 1}.metadata.json"),
      mapper.writeValueAsString(meta).getBytes("UTF-8"))
    Files.write(metaDir.resolve("version-hint.text"),
      (v + 1).toString.getBytes("UTF-8"))
    assert(sources.Iceberg.read(spark, t).count() == 100,
      "a foreign default spec with no files must not break reads")
    val got = sources.Iceberg.readFiltered(spark, t,
      col("ts") >= lit(java.sql.Timestamp.valueOf(
        "1995-03-01 00:00:00")) &&
        col("ts") < lit(java.sql.Timestamp.valueOf(
          "1995-05-01 00:00:00")))
    assert(got.count() ==
      df.filter(col("ts") >= lit(java.sql.Timestamp.valueOf(
        "1995-03-01 00:00:00")) &&
        col("ts") < lit(java.sql.Timestamp.valueOf(
          "1995-05-01 00:00:00"))).count(),
      "per-spec pruning must keep serving the existing generations")
    assert(sources.Iceberg.lastFilesPlannedBySpec.getOrElse(1, -1) == 3)
  }
}
