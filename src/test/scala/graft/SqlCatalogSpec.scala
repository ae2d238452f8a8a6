package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.sources.{DeltaLog, Iceberg}
import graft.streaming.GraftSqlSeams

/** The SQL catalogs (SqlCatalog.scala): name-addressed DDL/DML over
  * the open formats — CREATE/ALTER/DROP/RENAME, INSERT INTO /
  * OVERWRITE, time travel, metadata-path DELETE, and the group-based
  * copy-on-write DELETE/UPDATE/MERGE with its pruning and conflict
  * seams. */
class SqlCatalogSpec extends SparkSuite {

  private lazy val wh: String = {
    val w = Files.createTempDirectory("graft_sqlcat").toString
    spark.conf.set("spark.sql.catalog.gsql",
      classOf[graft.streaming.GraftDeltaCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsql.warehouse", w)
    spark.conf.set("spark.sql.catalog.gice",
      classOf[graft.streaming.GraftIcebergCatalog].getName)
    spark.conf.set("spark.sql.catalog.gice.warehouse", s"$w/_ice")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gsql.db")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gice.db")
    w
  }

  private def sql(q: String): DataFrame = { wh; spark.sql(q) }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Resolve a catalog entry to the table's real data directory —
    * every managed table's entry is a pointer object. */
  private def tdir(entry: String): String =
    graft.streaming.TablePointer
      .read(java.nio.file.Paths.get(entry)).map(_._1).getOrElse(entry)

  test("delta catalog: create, insert, select, time travel") {
    sql("""CREATE TABLE gsql.db.t1 (k BIGINT, s STRING, v BIGINT)
          |PARTITIONED BY (s)""".stripMargin)
    assert(sql("SELECT * FROM gsql.db.t1").count() === 0)
    sql("INSERT INTO gsql.db.t1 VALUES (1, 'a', 10), (2, 'b', 20)")
    sql("INSERT INTO gsql.db.t1 VALUES (3, 'a', 30)")
    assert(rows(sql("SELECT k, s, v FROM gsql.db.t1")) ===
      Seq("[1,a,10]", "[2,b,20]", "[3,a,30]"))
    // pushdown through the catalog: partition filter prunes
    assert(rows(sql(
      "SELECT k FROM gsql.db.t1 WHERE s = 'a'")) === Seq("[1]", "[3]"))
    // VERSION AS OF: v0 = create (empty), v1 = first insert
    assert(sql(
      "SELECT * FROM gsql.db.t1 VERSION AS OF 0").count() === 0)
    assert(rows(sql("SELECT k FROM gsql.db.t1 VERSION AS OF 1")) ===
      Seq("[1]", "[2]"))
    // a time-travel read refuses writes
    val e = intercept[Exception](
      sql("INSERT INTO gsql.db.t1 VERSION AS OF 1 VALUES (9,'z',9)"))
    assert(e.getMessage != null)
  }

  test("delta catalog: listing, rename, drop, namespaces") {
    sql("CREATE TABLE gsql.db.lst (k BIGINT)")
    assert(rows(sql("SHOW TABLES IN gsql.db"))
      .exists(_.contains("lst")))
    sql("ALTER TABLE gsql.db.lst RENAME TO db.lst2")
    assert(!rows(sql("SHOW TABLES IN gsql.db"))
      .exists(_.contains("[db,lst,")))
    sql("INSERT INTO gsql.db.lst2 VALUES (5)")
    assert(sql("SELECT * FROM gsql.db.lst2").count() === 1)
    sql("DROP TABLE gsql.db.lst2")
    assert(!rows(sql("SHOW TABLES IN gsql.db"))
      .exists(_.contains("lst2")))
    sql("CREATE NAMESPACE gsql.db2")
    assert(rows(sql("SHOW NAMESPACES IN gsql"))
      .exists(_.contains("db2")))
    sql("DROP NAMESPACE gsql.db2")
  }

  test("delta catalog: alter table add column, properties") {
    sql("CREATE TABLE gsql.db.alt (k BIGINT, v BIGINT)")
    sql("INSERT INTO gsql.db.alt VALUES (1, 10)")
    sql("ALTER TABLE gsql.db.alt ADD COLUMN note STRING")
    sql("INSERT INTO gsql.db.alt VALUES (2, 20, 'hi')")
    assert(rows(sql("SELECT k, v, note FROM gsql.db.alt")) ===
      Seq("[1,10,null]", "[2,20,hi]"))
    sql("ALTER TABLE gsql.db.alt SET TBLPROPERTIES ('x.y' = 'z')")
    val dir = tdir(s"$wh/db/alt")
    assert(DeltaLog.replay(dir, DeltaLog.versions(dir).last)
      .configuration.get("x.y") === Some("z"))
    sql("ALTER TABLE gsql.db.alt UNSET TBLPROPERTIES ('x.y')")
    assert(!DeltaLog.replay(dir, DeltaLog.versions(dir).last)
      .configuration.contains("x.y"))
    // CHECK constraint through SET TBLPROPERTIES: validates existing
    // rows, then refuses violating inserts
    sql("""ALTER TABLE gsql.db.alt SET TBLPROPERTIES
          |('delta.constraints.vpos' = 'v > 0')""".stripMargin)
    val bad = intercept[Exception](
      sql("INSERT INTO gsql.db.alt VALUES (3, -1, 'no')"))
    assert(bad.getMessage.contains("vpos") ||
      bad.getCause != null && bad.getCause.getMessage.contains("vpos"))
  }

  test("delta catalog: metadata-path DELETE takes deleteWhere") {
    sql("""CREATE TABLE gsql.db.del (k BIGINT, s STRING)
          |PARTITIONED BY (s)""".stripMargin)
    sql("INSERT INTO gsql.db.del VALUES " +
      "(1,'a'), (2,'a'), (3,'b'), (4,'b'), (5,'c')")
    val before = GraftSqlSeams.metadataDeletes.get()
    sql("DELETE FROM gsql.db.del WHERE s = 'b'")
    assert(GraftSqlSeams.metadataDeletes.get() === before + 1,
      "a translatable DELETE must take the SupportsDeleteV2 path")
    assert(rows(sql("SELECT k FROM gsql.db.del")) ===
      Seq("[1]", "[2]", "[5]"))
  }

  test("delta catalog: position-delta DELETE for untranslatable predicates") {
    sql("CREATE TABLE gsql.db.delc (k BIGINT, v BIGINT)")
    sql("INSERT INTO gsql.db.delc SELECT id, id * 10 FROM range(100)")
    val dir = tdir(s"$wh/db/delc")
    def st() = DeltaLog.replay(dir, DeltaLog.versions(dir).last)
    val adds0 = st().adds.keySet
    val before = GraftSqlSeams.metadataDeletes.get()
    val merges0 = GraftSqlSeams.positionDeltaMerges.get()
    sql("DELETE FROM gsql.db.delc WHERE k % 7 = 0")
    assert(GraftSqlSeams.metadataDeletes.get() === before,
      "modulo is untranslatable — must take the row-level path")
    // round 16: the row-level DELETE is position-delta — the doomed
    // rows become DV tombstones, no survivor rewrite
    assert(GraftSqlSeams.positionDeltaMerges.get() === merges0 + 1)
    assert(st().adds.keySet === adds0,
      "a position-delta DELETE keeps every base file live and " +
        "writes no new data files")
    assert(st().adds.values.flatMap(_.dv).map(_.cardinality).sum
      === 15)
    assert(sql("SELECT * FROM gsql.db.delc").count() === 85)
    assert(sql(
      "SELECT * FROM gsql.db.delc WHERE k % 7 = 0").count() === 0)
  }

  test("delta catalog: COW UPDATE prunes the rewrite group") {
    // delta.enableDeletionVectors=false opts OUT of the
    // position-delta default (round 17) — the COW rewrite serves
    sql("""CREATE TABLE gsql.db.upd (k BIGINT, s STRING, v BIGINT)
          |PARTITIONED BY (s) TBLPROPERTIES
          |('delta.enableDeletionVectors' = 'false')""".stripMargin)
    sql("INSERT INTO gsql.db.upd SELECT id, 'a', id FROM range(10)")
    sql("INSERT INTO gsql.db.upd SELECT id, 'b', id FROM range(10)")
    sql("INSERT INTO gsql.db.upd SELECT id, 'c', id FROM range(10)")
    val dir = tdir(s"$wh/db/upd")
    val bFiles = DeltaLog.replay(dir, DeltaLog.versions(dir).last)
      .adds.values.count(_.partitionValues.get("s").contains("b"))
    sql("UPDATE gsql.db.upd SET v = v + 100 WHERE s = 'b'")
    val (live, removed, added) = GraftSqlSeams.lastReplace(dir)
    assert(removed === bFiles && removed < live && added >= 1,
      s"UPDATE must rewrite only the matching partition's files " +
        s"(live $live, removed $removed of $bFiles b-files, " +
        s"added $added)")
    assert(sql(
      "SELECT sum(v) FROM gsql.db.upd WHERE s = 'b'").head.getLong(0)
      === 45 + 1000)
    assert(sql(
      "SELECT sum(v) FROM gsql.db.upd WHERE s = 'a'").head.getLong(0)
      === 45)
  }

  test("delta catalog: SQL MERGE INTO (update/insert/delete arms)") {
    sql("CREATE TABLE gsql.db.mrg (k BIGINT, v BIGINT)")
    sql("INSERT INTO gsql.db.mrg SELECT id, id FROM range(10)")
    spark.sql("SELECT * FROM VALUES (1, 100L), (2, 200L), (20, 2000L) " +
      "AS src(k, v)").createOrReplaceTempView("mrg_src")
    sql("""MERGE INTO gsql.db.mrg t USING mrg_src s ON t.k = s.k
          |WHEN MATCHED AND s.v = 200 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = rows(sql("SELECT k, v FROM gsql.db.mrg"))
    assert(got.contains("[1,100]") && got.contains("[20,2000]"))
    assert(!got.exists(_.startsWith("[2,")))
    assert(got.contains("[3,3]") && got.size === 10)
  }

  test("delta catalog: SQL COW DML derives CDF change data") {
    sql("CREATE TABLE gsql.db.cdf (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true', " +
      "'delta.enableDeletionVectors' = 'false', " +
      s"'${DeltaLog.CdfKeyColsProp}' = 'k')")
    sql("INSERT INTO gsql.db.cdf SELECT id, id FROM range(10)")
    val dir = tdir(s"$wh/db/cdf")
    // v2: SQL UPDATE (COW) → update_preimage/postimage cdc rows
    sql("UPDATE gsql.db.cdf SET v = v + 100 WHERE k % 2 = 1")
    val u = DeltaLog.readChanges(spark, dir, 2, 2)
    assert(u.filter("_change_type = 'update_preimage'").count() === 5)
    assert(u.filter("_change_type = 'update_postimage' AND v >= 100")
      .count() === 5)
    // v3: SQL COW DELETE → delete cdc rows
    sql("DELETE FROM gsql.db.cdf WHERE k % 3 = 0")
    val d = DeltaLog.readChanges(spark, dir, 3, 3)
    assert(rows(d.select("k", "_change_type")) ===
      Seq("[0,delete]", "[3,delete]", "[6,delete]", "[9,delete]"))
    // v4: SQL MERGE (update + insert arms) → EXACT tags under the
    // declared key columns
    spark.sql("SELECT * FROM VALUES (1, 7L), (20, 20L) AS s(k, v)")
      .createOrReplaceTempView("cdf_src")
    sql("""MERGE INTO gsql.db.cdf t USING cdf_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val m = DeltaLog.readChanges(spark, dir, 4, 4)
    assert(rows(m.select("k", "v", "_change_type")).sorted ===
      Seq("[1,101,update_preimage]", "[1,7,update_postimage]",
        "[20,20,insert]").sorted)
    // WITHOUT declared keys the tags are STILL exact: MERGE rides
    // the position-delta (SupportsDelta) operation, whose per-row
    // verdicts classify directly — no key pairing, no net-changes
    // fallback
    sql("CREATE TABLE gsql.db.cdfnk (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')")
    sql("INSERT INTO gsql.db.cdfnk SELECT id, id FROM range(5)")
    val dirNk = tdir(s"$wh/db/cdfnk")
    sql("""MERGE INTO gsql.db.cdfnk t USING cdf_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val nk = DeltaLog.readChanges(spark, dirNk, 2, 2)
    assert(rows(nk.select("k", "v", "_change_type")).sorted ===
      Seq("[1,1,update_preimage]", "[1,7,update_postimage]",
        "[20,20,insert]").sorted)
    // PARTITIONED table: the derived change files land
    // hive-partitioned across MULTIPLE partitions in one commit
    // (per-file UUID basenames — Spark's writer would otherwise
    // reuse one task's part name across partition dirs), and the
    // UPDATE's rewrite group prunes to the touched partition
    sql("""CREATE TABLE gsql.db.cdfp (k BIGINT, s STRING, v BIGINT)
          |PARTITIONED BY (s)
          |TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true',
          |'delta.enableDeletionVectors' = 'false')
          |""".stripMargin)
    sql("INSERT INTO gsql.db.cdfp SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, id FROM range(10)")
    val dirP = tdir(s"$wh/db/cdfp")
    // touches BOTH partitions in one COW commit
    sql("UPDATE gsql.db.cdfp SET v = v + 100 WHERE k % 3 = 0")
    val p = DeltaLog.readChanges(spark, dirP, 2, 2)
    assert(p.filter("_change_type = 'update_postimage'").count() === 4)
    assert(p.select("s").distinct().count() === 2,
      "change rows must restore partition values from both partitions")
    // a partition-conjunct UPDATE prunes its rewrite group
    sql("UPDATE gsql.db.cdfp SET v = v + 1 WHERE s = 'a' AND k = 2")
    val (pl, pr, _) = GraftSqlSeams.lastReplace(dirP)
    assert(pr < pl, s"partition conjunct did not prune ($pl/$pr)")
    assert(DeltaLog.readChanges(spark, dirP, 3, 3)
      .filter("_change_type = 'update_postimage'").count() === 1)
  }

  test("delta catalog: position-delta MERGE on a COLUMN-MAPPED table") {
    // the r16 verdict's item 3: a mapped CDC silver gets the
    // no-rewrite MERGE — writers spell physical names, DVs key on
    // positions, CDF pre-images read physically and surface logical
    // names; a RENAME between merges is metadata-only and the CDF
    // keeps serving the CURRENT logical names
    sql("CREATE TABLE gsql.db.mmap (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('delta.columnMapping.mode' = 'name', " +
      "'delta.enableChangeDataFeed' = 'true')")
    sql("INSERT INTO gsql.db.mmap SELECT id, id FROM range(10)")
    val dir = tdir(s"$wh/db/mmap")
    def st() = DeltaLog.replay(dir, DeltaLog.versions(dir).last)
    assert(st().columnMapping.nonEmpty, "fixture must be mapped")
    val adds0 = st().adds.keySet
    val merges0 = GraftSqlSeams.positionDeltaMerges.get()
    spark.sql("SELECT * FROM VALUES (1, 100L), (2, -1L), (20, 2000L) " +
      "AS s(k, v)").createOrReplaceTempView("mmap_src")
    sql("""MERGE INTO gsql.db.mmap t USING mmap_src s ON t.k = s.k
          |WHEN MATCHED AND s.v < 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(GraftSqlSeams.positionDeltaMerges.get() === merges0 + 1,
      "mapped MERGE must ride the position-delta path")
    val st1 = st()
    assert(adds0.subsetOf(st1.adds.keySet),
      "mapped position-delta MERGE must keep every base file live")
    assert(st1.adds.view.filterKeys(adds0)
      .values.flatMap(_.dv).map(_.cardinality).sum === 2L,
      "one deleted + one updated row tombstoned as DVs")
    val got = rows(sql("SELECT k, v FROM gsql.db.mmap"))
    assert(got.contains("[1,100]") && got.contains("[20,2000]") &&
      !got.exists(_.startsWith("[2,")) && got.size === 10)
    // exact CDF tags, logical names, no declared keys
    val ch = DeltaLog.readChanges(spark, dir, 2, 2)
    assert(rows(ch.select("k", "v", "_change_type")).sorted ===
      Seq("[1,1,update_preimage]", "[1,100,update_postimage]",
        "[2,2,delete]", "[20,2000,insert]").sorted)
    // rename-safe: a metadata-only RENAME between merges — the next
    // MERGE and its CDF speak the NEW logical name over the same
    // physical columns
    sql("ALTER TABLE gsql.db.mmap RENAME COLUMN v TO amount")
    spark.sql("SELECT * FROM VALUES (3, 300L) AS s(k, amount)")
      .createOrReplaceTempView("mmap_src2")
    sql("""MERGE INTO gsql.db.mmap t USING mmap_src2 s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET amount = s.amount""".stripMargin)
    assert(GraftSqlSeams.positionDeltaMerges.get() === merges0 + 2)
    val ch2 = DeltaLog.readChanges(spark, dir, 4, 4)
    assert(rows(ch2.select("k", "amount", "_change_type")).sorted ===
      Seq("[3,3,update_preimage]", "[3,300,update_postimage]").sorted)
    assert(sql("SELECT amount FROM gsql.db.mmap WHERE k = 3")
      .head.getLong(0) === 300)
    // SQL UPDATE on the renamed mapped table rides the same path
    sql("UPDATE gsql.db.mmap SET amount = amount + 7 WHERE k % 5 = 4")
    assert(GraftSqlSeams.positionDeltaMerges.get() === merges0 + 3)
    assert(rows(DeltaLog.readChanges(spark, dir, 5, 5)
      .select("k", "amount", "_change_type")).sorted ===
      Seq("[4,4,update_preimage]", "[4,11,update_postimage]",
        "[9,9,update_preimage]", "[9,16,update_postimage]").sorted)
  }

  test("delta catalog: MERGE is position-delta — DV tombstones, no rewrite") {
    sql("CREATE TABLE gsql.db.pdm (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')")
    sql("INSERT INTO gsql.db.pdm SELECT id, id FROM range(10)")
    val dir = tdir(s"$wh/db/pdm")
    def st() = DeltaLog.replay(dir, DeltaLog.versions(dir).last)
    def sumDv(paths: Set[String]): Long =
      st().adds.collect { case (p, a) if paths(p) =>
        a.dv.map(_.cardinality).getOrElse(0L) }.sum
    val adds0 = st().adds.keySet
    val merges0 = GraftSqlSeams.positionDeltaMerges.get()
    spark.sql("SELECT * FROM VALUES (3, 300L), (4, -1L), (20, 20L) " +
      "AS s(k, v)").createOrReplaceTempView("pdm_src")
    sql("""MERGE INTO gsql.db.pdm t USING pdm_src s ON t.k = s.k
          |WHEN MATCHED AND s.v < 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(GraftSqlSeams.positionDeltaMerges.get() === merges0 + 1,
      "MERGE must ride the position-delta path")
    // table state
    assert(rows(sql("SELECT k, v FROM gsql.db.pdm WHERE k IN " +
      "(3, 4, 20)")) === Seq("[20,20]", "[3,300]"))
    assert(sql("SELECT count(*) FROM gsql.db.pdm").head.getLong(0)
      === 10) // 10 - 1 deleted + 1 inserted
    // the log: touched files are RE-ADDED at the SAME paths with
    // deletion vectors covering the deleted + updated positions — no
    // copy-on-write rewrite of survivors
    assert(st().adds.keySet.intersect(adds0) === adds0,
      "position-delta MERGE must keep every base file live")
    assert(sumDv(adds0) === 2,
      "the DVs must tombstone exactly del(4) + upd(3)")
    // new files: the updated row + the insert
    assert(st().adds.size === adds0.size + 2)
    // exact CDF from the merge's own verdicts
    val m = DeltaLog.readChanges(spark, dir, 2, 2)
    assert(rows(m.select("k", "v", "_change_type")).sorted ===
      Seq("[3,3,update_preimage]", "[3,300,update_postimage]",
        "[4,4,delete]", "[20,20,insert]").sorted)
    // NO-OP update: a byte-identical SET still emits its pre/post
    // pair — the verdict decides, not a rewrite diff
    spark.sql("SELECT * FROM VALUES (5, 5L) AS s(k, v)")
      .createOrReplaceTempView("pdm_noop")
    sql("""MERGE INTO gsql.db.pdm t USING pdm_noop s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    val n = DeltaLog.readChanges(spark, dir, 3, 3)
    assert(rows(n.select("k", "v", "_change_type")).sorted ===
      Seq("[5,5,update_preimage]", "[5,5,update_postimage]").sorted)
    // STACKED merge: a second merge rewriting the previously-updated
    // row tombstones the UPDATE file; DVs on distinct files coexist
    spark.sql("SELECT * FROM VALUES (3, 3000L) AS s(k, v)")
      .createOrReplaceTempView("pdm_src2")
    sql("""MERGE INTO gsql.db.pdm t USING pdm_src2 s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    assert(rows(sql("SELECT v FROM gsql.db.pdm WHERE k = 3"))
      === Seq("[3000]"))
    assert(DeltaLog.readChanges(spark, dir, 4, 4)
      .filter("_change_type = 'update_postimage'").count() === 1)
    // stacked DVs UNION: deleting another base-file row grows the
    // base files' DV total (del 4, upd 3, noop-upd 5, del 7), and
    // the second merge's tombstone of the rewritten k=3 row lands on
    // merge 1's update file — never shrinking anything
    spark.sql("SELECT * FROM VALUES (7, -1L) AS s(k, v)")
      .createOrReplaceTempView("pdm_src3")
    sql("""MERGE INTO gsql.db.pdm t USING pdm_src3 s ON t.k = s.k
          |WHEN MATCHED AND s.v < 0 THEN DELETE""".stripMargin)
    assert(sumDv(adds0) === 4,
      "base-file DVs must union del(4)+upd(3)+noop(5)+del(7)")
    assert(sumDv(st().adds.keySet) === 5,
      "plus the stacked merge's tombstone on the update file")
    assert(sql("SELECT count(*) FROM gsql.db.pdm").head.getLong(0)
      === 9)
  }

  test("stacked position-delta MERGEs: row identity stable under DV masks") {
    // the r16 verdict's item 8: `_pos` is the FILE-ABSOLUTE row
    // ordinal, so a second row-level op over a DV-tombstoned file
    // must resolve positions against the ORIGINAL file layout, not
    // the masked (compacted) view — a shifted identity would
    // tombstone the wrong rows. Three stacked merges, each touching
    // the same base file, pin it.
    sql("CREATE TABLE gsql.db.stk (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')")
    sql("INSERT INTO gsql.db.stk SELECT id, id FROM range(10)")
    val dir = tdir(s"$wh/db/stk")
    def st() = DeltaLog.replay(dir, DeltaLog.versions(dir).last)
    val base = st().adds.keySet
    assert(base.size >= 1)
    // merge 1: delete k=4, update k=2
    spark.sql("SELECT * FROM VALUES (4, -1L), (2, 200L) AS s(k, v)")
      .createOrReplaceTempView("stk_s1")
    sql("""MERGE INTO gsql.db.stk t USING stk_s1 s ON t.k = s.k
          |WHEN MATCHED AND s.v < 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    // merge 2: update k=6 (same base file, ordinal PAST the masked
    // positions) and k=2 again (now living in merge 1's new file)
    spark.sql("SELECT * FROM VALUES (6, 600L), (2, 201L) AS s(k, v)")
      .createOrReplaceTempView("stk_s2")
    sql("""MERGE INTO gsql.db.stk t USING stk_s2 s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    // merge 3: delete k=0 — ordinal BEFORE every masked position
    spark.sql("SELECT * FROM VALUES (0, -1L) AS s(k, v)")
      .createOrReplaceTempView("stk_s3")
    sql("""MERGE INTO gsql.db.stk t USING stk_s3 s ON t.k = s.k
          |WHEN MATCHED THEN DELETE""".stripMargin)
    // exact final state: k=0,4 gone; k=2 → 201; k=6 → 600
    assert(rows(sql("SELECT k, v FROM gsql.db.stk")) ===
      Seq("[1,1]", "[2,201]", "[3,3]", "[5,5]", "[6,600]",
        "[7,7]", "[8,8]", "[9,9]").sorted)
    // base files never rewritten; their stacked DV holds EXACTLY the
    // original ordinals of k=0,2,4,6 (one file ⇒ positions 0,2,4,6)
    val stN = st()
    assert(base.subsetOf(stN.adds.keySet))
    val dvCard = stN.adds.view.filterKeys(base)
      .values.flatMap(_.dv).map(_.cardinality).sum
    assert(dvCard === 4L,
      s"stacked DVs must hold the 4 original ordinals, got $dvCard")
    // the second merge's CDF pre-image of k=2 carries merge 1's
    // value — the verdicts resolved the CURRENT row, not a stale one
    val ch = DeltaLog.readChanges(spark, dir, 3, 3)
    assert(rows(ch.select("k", "v", "_change_type")).sorted ===
      Seq("[2,200,update_preimage]", "[2,201,update_postimage]",
        "[6,6,update_preimage]", "[6,600,update_postimage]").sorted)
  }

  test("delta catalog: partitioned MERGE position-delta") {
    sql("""CREATE TABLE gsql.db.pdmp (k BIGINT, s STRING, v BIGINT)
          |PARTITIONED BY (s)
          |TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')
          |""".stripMargin)
    sql("INSERT INTO gsql.db.pdmp SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, id FROM range(10)")
    val dir = tdir(s"$wh/db/pdmp")
    spark.sql("SELECT * FROM VALUES (2, 'a', 200L), (21, 'c', 21L) " +
      "AS s(k, s, v)").createOrReplaceTempView("pdmp_src")
    sql("""MERGE INTO gsql.db.pdmp t USING pdmp_src s
          |ON t.k = s.k AND t.s = s.s
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(rows(sql("SELECT k, s, v FROM gsql.db.pdmp " +
      "WHERE k IN (2, 21)")) === Seq("[2,a,200]", "[21,c,21]"))
    val st = DeltaLog.replay(dir, DeltaLog.versions(dir).last)
    // only partition a's file carries a DV; the insert landed in a
    // NEW partition c file with its partition value recorded
    val dvAdds = st.adds.filter(_._2.dv.isDefined)
    assert(dvAdds.size === 1 &&
      dvAdds.head._2.partitionValues === Map("s" -> "a"))
    assert(st.adds.values.exists(_.partitionValues == Map("s" -> "c")))
    // CDF rows restore partition values across all three partitions
    val m = DeltaLog.readChanges(spark, dir, 2, 2)
    assert(rows(m.select("k", "s", "v", "_change_type")).sorted ===
      Seq("[2,a,2,update_preimage]", "[2,a,200,update_postimage]",
        "[21,c,21,insert]").sorted)
  }

  test("SPJ over hidden bucket specs: zero-exchange catalog join") {
    sql("CREATE TABLE gice.db.bj1 (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    sql("INSERT INTO gice.db.bj1 SELECT id, id * 2 FROM range(200)")
    sql("CREATE TABLE gice.db.bj2 (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    sql("INSERT INTO gice.db.bj2 SELECT id, id * 3 FROM range(200)")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (c, _) =>
      c -> scala.util.Try(spark.conf.get(c)).toOption }
    confs.foreach { case (c, v) => spark.conf.set(c, v) }
    try {
      val df = sql("SELECT a.k, a.v, b.w FROM gice.db.bj1 a " +
        "JOIN gice.db.bj2 b ON a.k = b.k")
      assert(df.count() === 200)
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"),
        s"bucket-partitioned SPJ still shuffled:\n$plan")
      assert(df.filter("k = 7").collect().map(r =>
        (r.getLong(1), r.getLong(2))).toSeq === Seq((14L, 21L)))
    } finally saved.foreach {
      case (c, Some(v)) => spark.conf.set(c, v)
      case (c, None) => spark.conf.unset(c)
    }
    // correctness holds with the conf off too (ordinary shuffle join)
    assert(sql("SELECT count(*) FROM gice.db.bj1 a " +
      "JOIN gice.db.bj2 b ON a.k = b.k").head.getLong(0) === 200)
    sql("DROP TABLE gice.db.bj1")
    sql("DROP TABLE gice.db.bj2")
    // TRUNCATE-transform twin: same zero-exchange shape
    sql("CREATE TABLE gice.db.tj1 (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (truncate(50, k))")
    sql("INSERT INTO gice.db.tj1 SELECT id, id * 2 FROM range(200)")
    sql("CREATE TABLE gice.db.tj2 (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (truncate(50, k))")
    sql("INSERT INTO gice.db.tj2 SELECT id, id * 3 FROM range(200)")
    confs.foreach { case (c, v) => spark.conf.set(c, v) }
    try {
      val df = sql("SELECT a.k, a.v, b.w FROM gice.db.tj1 a " +
        "JOIN gice.db.tj2 b ON a.k = b.k")
      assert(df.count() === 200)
      assert(!df.queryExecution.executedPlan.toString()
        .contains("Exchange"),
        "truncate-partitioned SPJ still shuffled")
    } finally saved.foreach {
      case (c, Some(v)) => spark.conf.set(c, v)
      case (c, None) => spark.conf.unset(c)
    }
    sql("DROP TABLE gice.db.tj1")
    sql("DROP TABLE gice.db.tj2")
  }

  test("iceberg catalog: MERGE is merge-on-read — one MoR snapshot") {
    sql("CREATE TABLE gice.db.imor (k BIGINT, v BIGINT)")
    sql("INSERT INTO gice.db.imor SELECT id, id FROM range(10)")
    val dir = tdir(s"$wh/_ice/db/imor")
    def plan() = Iceberg.batchPlan(dir, Iceberg.mainSnapshotId(dir))
    val files0 = plan().files.map(_.path).toSet
    val snaps0 = Iceberg.snapshotIds(dir).size
    spark.sql("SELECT * FROM VALUES (3, 300L), (4, -1L), (20, 20L) " +
      "AS s(k, v)").createOrReplaceTempView("imor_src")
    sql("""MERGE INTO gice.db.imor t USING imor_src s ON t.k = s.k
          |WHEN MATCHED AND s.v < 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // ONE new snapshot carrying deletes + adds; zero rewrites
    assert(Iceberg.snapshotIds(dir).size === snaps0 + 1,
      "the MoR merge must be one atomic snapshot")
    val p1 = plan()
    assert(files0.subsetOf(p1.files.map(_.path).toSet))
    assert(p1.posDeleteFiles.size === 1)
    // the delete file is foreign-readable: (file_path, pos) rows,
    // sorted, naming only live base files
    val delRows = spark.read.parquet(p1.posDeleteFiles.head)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(delRows.size === 2 && delRows == delRows.sorted,
      s"spec sort order violated: $delRows")
    assert(delRows.forall(r => files0.contains(r._1)))
    // table state across BOTH read paths
    assert(rows(sql("SELECT k, v FROM gice.db.imor WHERE k IN " +
      "(3, 4, 20)")) === Seq("[20,20]", "[3,300]"))
    assert(sql("SELECT count(*) FROM gice.db.imor").head.getLong(0)
      === 10)
    assert(sources.Iceberg.read(spark, dir).count() === 10)
    // time travel to the pre-merge snapshot still sees 10 originals
    assert(sources.Iceberg.readSnapshot(spark, dir,
      Iceberg.snapshotIds(dir).sorted.apply(snaps0 - 1))
      .filter("k = 4").count() === 1)
    // STACKED: a second merge re-updating the rewritten row lands a
    // pos-delete against merge 1's NEW file
    spark.sql("SELECT * FROM VALUES (3, 3000L) AS s(k, v)")
      .createOrReplaceTempView("imor_src2")
    sql("""MERGE INTO gice.db.imor t USING imor_src2 s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    assert(rows(sql("SELECT v FROM gice.db.imor WHERE k = 3"))
      === Seq("[3000]"))
    assert(plan().posDeleteFiles.size === 2)
    // maintenance reclaims the MoR debt: rewrite folds deletes in
    sql("CALL gice.system.rewrite_data_files(table => 'db.imor')")
    assert(plan().posDeleteFiles.isEmpty)
    assert(sql("SELECT count(*) FROM gice.db.imor").head.getLong(0)
      === 10)
    assert(rows(sql("SELECT v FROM gice.db.imor WHERE k = 3"))
      === Seq("[3000]"))
  }

  test("iceberg catalog: streaming CDF serves the MoR MERGE snapshot") {
    import org.apache.spark.sql.streaming.Trigger
    sql("CREATE TABLE gice.db.imstr (k BIGINT, v BIGINT)")
    sql("INSERT INTO gice.db.imstr SELECT id, id FROM range(8)")
    val dir = tdir(s"$wh/_ice/db/imstr")
    spark.sql("SELECT * FROM VALUES (2, 200L), (3, -1L), (20, 20L) " +
      "AS s(k, v)").createOrReplaceTempView("imstr_src")
    sql("""MERGE INTO gice.db.imstr t USING imstr_src s ON t.k = s.k
          |WHEN MATCHED AND s.v < 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val work = Files.createTempDirectory("imstr").toString
    val q = spark.readStream.format("graft-iceberg-cdf")
      .option("path", dir)
      .option("startingSnapshotId", "1").load()
      .writeStream.format("parquet")
      .option("path", s"$work/out")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$work/out")
      .select("k", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq
    // the MoR merge streams: pre-images of the deleted AND updated
    // rows as deletes, the new rows as inserts — the changelog
    // contract (updates = delete+insert without row lineage)
    assert(got === Seq((2L, 2L, "delete"), (2L, 200L, "insert"),
      (3L, 3L, "delete"), (20L, 20L, "insert")),
      s"MoR merge CDF mismatch: $got")
  }

  test("iceberg catalog: untranslatable DELETE is merge-on-read too") {
    sql("CREATE TABLE gice.db.idelu (k BIGINT, v BIGINT)")
    sql("INSERT INTO gice.db.idelu SELECT id, id * 10 FROM range(70)")
    val dir = tdir(s"$wh/_ice/db/idelu")
    def plan() = Iceberg.batchPlan(dir, Iceberg.mainSnapshotId(dir))
    val files0 = plan().files.map(_.path).toSet
    val merges0 = GraftSqlSeams.positionDeltaMerges.get()
    sql("DELETE FROM gice.db.idelu WHERE k % 7 = 0")
    assert(GraftSqlSeams.positionDeltaMerges.get() === merges0 + 1,
      "the untranslatable DELETE must ride the position-delta path")
    val p = plan()
    assert(p.files.map(_.path).toSet === files0,
      "a MoR DELETE keeps every data file live, adds none")
    assert(p.posDeleteFiles.size === 1)
    // a pure row delete is labeled operation=delete, as the spec
    // does — CDF consumers take the delete branch
    import scala.jdk.CollectionConverters._
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "metadata",
          "v" + new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(dir, "metadata",
              "version-hint.text")), "UTF-8").trim + ".metadata.json")))
    val lastOp = meta.get("snapshots").elements().asScala.toSeq.last
      .get("summary").get("operation").asText
    assert(lastOp === "delete", s"pure row delete labeled $lastOp")
    assert(sql("SELECT count(*) FROM gice.db.idelu").head.getLong(0)
      === 60)
    assert(sources.Iceberg.read(spark, dir).count() === 60)
  }

  test("adopt_table: iceberg-arm lifecycle under ConditionalPutStore") {
    wh
    import graft.sources.{ConditionalPutStore, LogStore}
    val dir = s"$wh/_ice/db/iadint"
    import spark.implicits._
    Iceberg.commitAppend(
      (1L to 5L).map(i => (i, i * 2)).toDF("k", "v"), dir)
    LogStore.withStore(ConditionalPutStore) {
      val moves0 = GraftSqlSeams.dirMoves.get()
      assert(rows(sql(
        "CALL gice.system.adopt_table(table => 'db.iadint')"))
        === Seq("[adopted]"))
      assert(sql("SELECT count(*) FROM gice.db.iadint")
        .head.getLong(0) === 5)
      sql("ALTER TABLE gice.db.iadint RENAME TO db.iadint2")
      assert(sql("SELECT sum(v) FROM gice.db.iadint2")
        .head.getLong(0) === 30)
      assert(!spark.catalog.tableExists("gice.db.iadint"))
      assert(GraftSqlSeams.dirMoves.get() === moves0)
      sql("DROP TABLE gice.db.iadint2")
      assert(!new java.io.File(dir).exists())
    }
  }

  test("iceberg catalog: MoR MERGE atop a foreign eq-delete upsert") {
    import spark.implicits._
    // a Flink-CDC-style writer upserts INSIDE a cataloged table's
    // directory (eq-delete + append), then Spark MERGEs on top: the
    // scan folds the eq-deletes to masks, the merge's verdicts
    // reference the surviving positions, and the commit stacks a
    // pos-delete over the eq-delete history
    sql("CREATE TABLE gice.db.ieqm (k BIGINT, s STRING)")
    sql("INSERT INTO gice.db.ieqm VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val dir = tdir(s"$wh/_ice/db/ieqm")
    Iceberg.upsert(spark, dir,
      Seq((2L, "B2"), (4L, "d")).toDF("k", "s"), Seq("k"))
    spark.sql("SELECT * FROM VALUES (2, 'B3'), (3, CAST(NULL AS " +
      "STRING)), (5, 'e') AS s(k, s)")
      .createOrReplaceTempView("ieqm_src")
    sql("""MERGE INTO gice.db.ieqm t USING ieqm_src s ON t.k = s.k
          |WHEN MATCHED AND s.s IS NULL THEN DELETE
          |WHEN MATCHED THEN UPDATE SET s = s.s
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = sql("SELECT k, s FROM gice.db.ieqm ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "B3"), (4L, "d"), (5L, "e")),
      s"MoR merge atop eq-deletes got $got")
    // the eq-delete history stays in force alongside the new
    // pos-delete; the library MoR read agrees
    val p = Iceberg.batchPlan(dir, Iceberg.mainSnapshotId(dir))
    assert(p.eqDeletes.nonEmpty && p.posDeleteFiles.nonEmpty)
    assert(sources.Iceberg.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq === got)
  }

  test("iceberg catalog: streaming CDF serves the MoR DELETE snapshot") {
    import org.apache.spark.sql.streaming.Trigger
    sql("CREATE TABLE gice.db.idstr (k BIGINT, v BIGINT)")
    sql("INSERT INTO gice.db.idstr SELECT id, id FROM range(9)")
    val dir = tdir(s"$wh/_ice/db/idstr")
    sql("DELETE FROM gice.db.idstr WHERE k % 4 = 0") // MoR pos-delete
    val work = Files.createTempDirectory("idstr").toString
    val q = spark.readStream.format("graft-iceberg-cdf")
      .option("path", dir)
      .option("startingSnapshotId", "1").load()
      .writeStream.format("parquet")
      .option("path", s"$work/out")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$work/out")
      .select("k", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq
    assert(got === Seq((0L, 0L, "delete"), (4L, 4L, "delete"),
      (8L, 8L, "delete")),
      s"MoR DELETE CDF mismatch: $got")
  }

  test("iceberg catalog: MoR MERGE on a hidden-bucket-spec table") {
    sql("CREATE TABLE gice.db.imorb (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    sql("INSERT INTO gice.db.imorb SELECT id, id FROM range(20)")
    val dir = tdir(s"$wh/_ice/db/imorb")
    val files0 = Iceberg.batchPlan(dir, Iceberg.mainSnapshotId(dir))
      .files.map(_.path).toSet
    spark.sql("SELECT * FROM VALUES (5, 500L), (30, 30L) AS s(k, v)")
      .createOrReplaceTempView("imorb_src")
    sql("""MERGE INTO gice.db.imorb t USING imorb_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val p = Iceberg.batchPlan(dir, Iceberg.mainSnapshotId(dir))
    assert(files0.subsetOf(p.files.map(_.path).toSet))
    assert(p.posDeleteFiles.nonEmpty)
    // the NEW files landed under the hidden spec: tuple keys present
    val newFiles = p.files.filterNot(f => files0.contains(f.path))
    assert(newFiles.nonEmpty &&
      newFiles.forall(_.pv.contains("k_bucket")),
      s"merge writes must inherit the hidden spec: " +
        s"${newFiles.map(_.pv)}")
    assert(rows(sql("SELECT k, v FROM gice.db.imorb " +
      "WHERE k IN (5, 30)")) === Seq("[30,30]", "[5,500]"))
    assert(sql("SELECT count(*) FROM gice.db.imorb").head.getLong(0)
      === 21)
  }

  test("delta catalog: external LOCATION keeps data on DROP") {
    val loc = Files.createTempDirectory("graft_ext").toString + "/ext1"
    sql(s"CREATE TABLE gsql.db.ext (k BIGINT) LOCATION '$loc'")
    sql("INSERT INTO gsql.db.ext VALUES (7)")
    sql("DROP TABLE gsql.db.ext")
    assert(DeltaLog.versions(loc).nonEmpty,
      "external data must survive DROP TABLE")
    assert(DeltaLog.read(spark, loc).count() === 1)
  }

  test("delta catalog: INSERT OVERWRITE replaces contents") {
    sql("CREATE TABLE gsql.db.ovw (k BIGINT)")
    sql("INSERT INTO gsql.db.ovw VALUES (1), (2)")
    sql("INSERT OVERWRITE gsql.db.ovw VALUES (9)")
    assert(rows(sql("SELECT * FROM gsql.db.ovw")) === Seq("[9]"))
  }

  test("iceberg catalog: CREATE TABLE TBLPROPERTIES persist past first insert") {
    // declared properties ride the pending-table marker until the
    // first INSERT mints real metadata, then publish as one catch-up
    // commit (round 17) — CREATE ... TBLPROPERTIES must never
    // silently drop, and write.<cmd>.mode declared AT CREATION must
    // steer the first row-level statement
    sql("CREATE TABLE gice.db.props (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('write.update.mode' = 'copy-on-write', " +
      "'owner.team' = 'etl')")
    sql("INSERT INTO gice.db.props SELECT id, id FROM range(10)")
    val dir = tdir(s"$wh/_ice/db/props")
    val m0 = GraftSqlSeams.positionDeltaMerges.get()
    sql("UPDATE gice.db.props SET v = v + 1 WHERE k % 2 = 0")
    assert(GraftSqlSeams.positionDeltaMerges.get() === m0,
      "write.update.mode=copy-on-write declared at CREATE must " +
        "route the UPDATE to the COW rewrite")
    assert(Iceberg.tableProperties(dir)
      .get("owner.team") === Some("etl"))
    assert(rows(sql("SHOW TBLPROPERTIES gice.db.props"))
      .exists(_.contains("owner.team")))
    assert(sql("SELECT sum(v) FROM gice.db.props").head.getLong(0)
      === 45 + 5)
  }

  test("iceberg catalog: create pending, insert creates metadata") {
    sql("""CREATE TABLE gice.db.it (k BIGINT, s STRING, v BIGINT)
          |PARTITIONED BY (s)""".stripMargin)
    assert(sql("SELECT * FROM gice.db.it").count() === 0,
      "a created-but-never-written table reads empty")
    sql("INSERT INTO gice.db.it VALUES (1, 'a', 10), (2, 'b', 20)")
    sql("INSERT INTO gice.db.it VALUES (3, 'a', 30)")
    assert(rows(sql("SELECT k, s, v FROM gice.db.it")) ===
      Seq("[1,a,10]", "[2,b,20]", "[3,a,30]"))
    assert(rows(sql(
      "SELECT k FROM gice.db.it WHERE s = 'a'")) === Seq("[1]", "[3]"))
    val dir = tdir(s"$wh/_ice/db/it")
    assert(Iceberg.currentSpecFields(dir) === Seq("s" -> "identity"))
    // VERSION AS OF = snapshot id
    val snaps = Iceberg.snapshotIds(dir)
    assert(sql(s"SELECT * FROM gice.db.it VERSION AS OF ${snaps.min}")
      .count() === 2)
  }

  test("iceberg catalog: DELETE FROM via position deletes") {
    sql("CREATE TABLE gice.db.idel (k BIGINT, v BIGINT)")
    sql("INSERT INTO gice.db.idel SELECT id, id FROM range(20)")
    sql("DELETE FROM gice.db.idel WHERE k >= 15")
    assert(sql("SELECT * FROM gice.db.idel").count() === 15)
    // matching-nothing DELETE is a no-op, not an error
    sql("DELETE FROM gice.db.idel WHERE k >= 1000")
    assert(sql("SELECT * FROM gice.db.idel").count() === 15)
  }

  test("iceberg catalog: INSERT OVERWRITE and alter add column") {
    sql("CREATE TABLE gice.db.iovw (k BIGINT)")
    sql("INSERT INTO gice.db.iovw VALUES (1), (2)")
    sql("INSERT OVERWRITE gice.db.iovw VALUES (9)")
    assert(rows(sql("SELECT * FROM gice.db.iovw")) === Seq("[9]"))
    sql("ALTER TABLE gice.db.iovw ADD COLUMN s STRING")
    sql("INSERT INTO gice.db.iovw VALUES (10, 'x')")
    assert(rows(sql("SELECT k, s FROM gice.db.iovw")) ===
      Seq("[10,x]", "[9,null]"))
  }

  test("iceberg catalog: PARTITIONED BY transform DDL writes natively") {
    sql("""CREATE TABLE gice.db.bkt (k BIGINT, v BIGINT)
          |PARTITIONED BY (bucket(4, k))""".stripMargin)
    sql("INSERT INTO gice.db.bkt SELECT id, id FROM range(40)")
    val dir = tdir(s"$wh/_ice/db/bkt")
    assert(Iceberg.currentSpecFields(dir) === Seq("k" -> "bucket[4]"))
    // the optimizer-derived tuple predicate prunes to one bucket
    graft.streaming.BatchScanStats.reset(dir)
    assert(sql("SELECT * FROM gice.db.bkt WHERE k = 7").count() === 1)
    val st = graft.streaming.BatchScanStats.statsFor(dir)
    assert(st.live >= 2 && st.pushdownKept < st.live,
      s"bucket DDL table did not prune (live ${st.live}, kept " +
        s"${st.pushdownKept})")
    // a second INSERT inherits the hidden spec
    sql("INSERT INTO gice.db.bkt SELECT id + 100, id FROM range(10)")
    assert(sql("SELECT count(*) FROM gice.db.bkt").head.getLong(0)
      === 50)
    // time-transform DDL over a date column
    sql("""CREATE TABLE gice.db.dts (k BIGINT, d DATE)
          |PARTITIONED BY (days(d))""".stripMargin)
    sql("INSERT INTO gice.db.dts SELECT id, " +
      "date_add(DATE'2024-01-01', CAST(id % 3 AS INT)) FROM range(12)")
    val ddir = tdir(s"$wh/_ice/db/dts")
    assert(Iceberg.currentSpecFields(ddir) === Seq("d" -> "day"))
    assert(sql("SELECT count(*) FROM gice.db.dts " +
      "WHERE d = DATE'2024-01-02'").head.getLong(0) === 4)
  }

  test("row-level op conflict: racing disjoint appends retry") {
    sql("""CREATE TABLE gsql.db.race (k BIGINT, s STRING)
          |PARTITIONED BY (s)""".stripMargin)
    sql("INSERT INTO gsql.db.race SELECT id, 'a' FROM range(10)")
    sql("INSERT INTO gsql.db.race SELECT id, 'b' FROM range(10)")
    val dir = tdir(s"$wh/db/race")
    // plant a concurrent append into partition 'c' (provably outside
    // the s='a' rewrite group) between scan planning and commit via
    // the claim hook
    @volatile var planted = false
    sources.DeltaLog.commitClaimHook = (d, _) =>
      if (d == dir && !planted) {
        planted = true
        val extra = spark.range(3).selectExpr("id AS k", "'c' AS s")
        DeltaLog.commitAppendPartitioned(extra, dir, Seq("s")): Unit
      }
    try sql("UPDATE gsql.db.race SET k = k + 100 WHERE s = 'a'")
    finally sources.DeltaLog.commitClaimHook = (_, _) => ()
    assert(planted)
    // the update landed AND the racing append's rows survived
    assert(sql("SELECT count(*) FROM gsql.db.race WHERE s = 'c'")
      .head.getLong(0) === 3)
    assert(sql(
      "SELECT min(k) FROM gsql.db.race WHERE s = 'a'")
      .head.getLong(0) === 100)
  }

  test("row-level op conflict: overlapping writer aborts loudly") {
    sql("CREATE TABLE gsql.db.race2 (k BIGINT, v BIGINT)")
    sql("INSERT INTO gsql.db.race2 SELECT id, id FROM range(10)")
    val dir = tdir(s"$wh/db/race2")
    @volatile var planted = false
    sources.DeltaLog.commitClaimHook = (d, _) =>
      if (d == dir && !planted) {
        planted = true
        // a conflicting append whose rows the UPDATE's condition
        // could match (no pushable pruning evidence)
        val extra = spark.range(2).selectExpr("id + 50 AS k", "id AS v")
        DeltaLog.commitAppend(extra, dir): Unit
      }
    try {
      val e = intercept[Exception](
        sql("UPDATE gsql.db.race2 SET v = v + 1 WHERE k % 2 = 0"))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("concurrent writer")))
    } finally sources.DeltaLog.commitClaimHook = (_, _) => ()
    assert(planted)
  }
  test("iceberg catalog: SQL UPDATE copy-on-write prunes the group") {
    sql("""CREATE TABLE gice.db.iupd (k BIGINT, s STRING, v BIGINT)
          |PARTITIONED BY (s)""".stripMargin)
    sql("INSERT INTO gice.db.iupd SELECT id, 'a', id FROM range(10)")
    sql("INSERT INTO gice.db.iupd SELECT id, 'b', id FROM range(10)")
    sql("INSERT INTO gice.db.iupd SELECT id, 'c', id FROM range(10)")
    // write.update.mode=copy-on-write opts OUT of the merge-on-read
    // default (round 17) — real Iceberg's routing property
    sql("ALTER TABLE gice.db.iupd SET TBLPROPERTIES " +
      "('write.update.mode' = 'copy-on-write')")
    val dir = tdir(s"$wh/_ice/db/iupd")
    val bFiles = Iceberg.batchPlan(dir, Iceberg.snapshotIds(dir).max)
      .files.count(_.pv.get("s").contains("b"))
    assert(bFiles >= 1)
    sql("UPDATE gice.db.iupd SET v = v + 100 WHERE s = 'b'")
    val (live, removed, added) = GraftSqlSeams.lastReplace(dir)
    assert(removed === bFiles && removed < live && added >= 1,
      s"iceberg UPDATE must rewrite only partition b (live $live, " +
        s"removed $removed of $bFiles, added $added)")
    assert(sql("SELECT sum(v) FROM gice.db.iupd WHERE s = 'b'")
      .head.getLong(0) === 45 + 1000)
    assert(sql("SELECT sum(v) FROM gice.db.iupd WHERE s = 'a'")
      .head.getLong(0) === 45)
    // the pre-update snapshot still reads (time travel across a COW)
    val preSnap = Iceberg.snapshotIds(dir).sorted.takeRight(2).head
    assert(sql(
      s"SELECT sum(v) FROM gice.db.iupd VERSION AS OF $preSnap " +
        "WHERE s = 'b'").head.getLong(0) === 45)
  }

  test("iceberg catalog: SQL MERGE INTO (update + insert arms)") {
    sql("CREATE TABLE gice.db.imrg (k BIGINT, v BIGINT)")
    sql("INSERT INTO gice.db.imrg SELECT id, id FROM range(10)")
    spark.sql("SELECT * FROM VALUES (1, 100L), (20, 2000L) AS s(k, v)")
      .createOrReplaceTempView("imrg_src")
    sql("""MERGE INTO gice.db.imrg t USING imrg_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = rows(sql("SELECT k, v FROM gice.db.imrg"))
    assert(got.contains("[1,100]") && got.contains("[20,2000]") &&
      got.contains("[2,2]") && got.size === 11)
  }

  test("iceberg format write: DSv2 roundtrip with stats pruning") {
    val t = Files.createTempDirectory("graft_icew").toString + "/t"
    val df = spark.range(100).selectExpr("id AS k",
      "CASE WHEN id % 2 = 0 THEN 'e' ELSE 'o' END AS s")
    df.filter("k < 50").write.format("graft-iceberg")
      .mode("append").partitionBy("s").save(t)
    df.filter("k >= 50").write.format("graft-iceberg")
      .mode("append").save(t) // inherits the spec
    // connector read == library read, both full
    val viaConnector = rows(spark.read.format("graft-iceberg")
      .option("path", t).load())
    val viaLibrary = rows(Iceberg.read(spark, t))
    assert(viaConnector === viaLibrary && viaConnector.size === 100)
    // partition pruning through the connector on the written layout
    graft.streaming.BatchScanStats.reset(t)
    val pruned = spark.read.format("graft-iceberg").option("path", t)
      .load().filter("s = 'e' AND k >= 50")
    assert(pruned.count() === 25)
    val st = graft.streaming.BatchScanStats.statsFor(t)
    assert(st.live > 0 && st.pushdownKept < st.live,
      s"writer-recorded tuples/bounds did not prune " +
        s"(live ${st.live}, kept ${st.pushdownKept})")
    // overwrite replaces
    df.filter("k = 7").write.format("graft-iceberg")
      .mode("overwrite").partitionBy("s").save(t)
    assert(Iceberg.read(spark, t).count() === 1)
  }

  test("iceberg COW UPDATE on a standard-shape identity table keeps its columns") {
    sql("""CREATE TABLE gice.db.istd (k BIGINT, s STRING, v BIGINT)
          |PARTITIONED BY (s)""".stripMargin)
    sql("INSERT INTO gice.db.istd " +
      "SELECT id, IF(id % 2 = 0, 'e', 'o'), id FROM range(10)")
    val dir = tdir(s"$wh/_ice/db/istd")
    Iceberg.rewriteDataFilesFullSchema(spark, dir)
    sql("UPDATE gice.db.istd SET v = v + 100 WHERE k = 3")
    Iceberg.batchPlan(dir, Iceberg.mainSnapshotId(dir)).files.foreach(f =>
      assert(spark.read.parquet(f.path).columns.contains("s"),
        s"${f.path} dropped the partition column s"))
    val lib = rows(Iceberg.read(spark, dir).select("k", "s", "v"))
    assert(lib === rows(spark.read.format("graft-iceberg")
      .option("path", dir).load().select("k", "s", "v")))
    assert(lib === (0 until 10).map(k =>
      s"[$k,${if (k % 2 == 0) "e" else "o"},${if (k == 3) 103 else k}]")
      .sorted)
    assert(Iceberg.read(spark, dir).filter("s IS NULL").count() === 0)
  }

  // round 17: UPDATE defaults to merge-on-read, so this pair now
  // pins the POSITION-DELTA commit's conflict proving (the r16
  // valueRanges=Map.empty gap closed): a racing append whose file
  // bounds provably miss the pushed range retries INTERNALLY; an
  // overlapping add aborts loudly.
  test("iceberg MoR conflict: disjoint racing append retries") {
    sql("CREATE TABLE gice.db.irace (k BIGINT, v BIGINT)")
    sql("INSERT INTO gice.db.irace SELECT id + 100, id FROM range(10)")
    val dir = tdir(s"$wh/_ice/db/irace")
    @volatile var planted = false
    sources.Iceberg.commitClaimHook = (d, _) =>
      if (d == dir && !planted) {
        planted = true
        // k in [0, 9]: provably outside the UPDATE's k >= 100 range
        Iceberg.commitAppend(
          spark.range(10).selectExpr("id AS k", "id AS v"), dir): Unit
      }
    try sql("UPDATE gice.db.irace SET v = v + 1 WHERE k >= 100")
    finally sources.Iceberg.commitClaimHook = (_, _) => ()
    assert(planted)
    assert(sql("SELECT count(*) FROM gice.db.irace").head.getLong(0)
      === 20)
    assert(sql("SELECT sum(v) FROM gice.db.irace WHERE k >= 100")
      .head.getLong(0) === 55)
    assert(sql("SELECT sum(v) FROM gice.db.irace WHERE k < 100")
      .head.getLong(0) === 45)
  }

  test("iceberg MoR conflict: overlapping racing append aborts") {
    sql("CREATE TABLE gice.db.irace2 (k BIGINT, v BIGINT)")
    sql("INSERT INTO gice.db.irace2 SELECT id, id FROM range(10)")
    val dir = tdir(s"$wh/_ice/db/irace2")
    @volatile var planted = false
    sources.Iceberg.commitClaimHook = (d, _) =>
      if (d == dir && !planted) {
        planted = true
        Iceberg.commitAppend(
          spark.range(5).selectExpr("id AS k", "id AS v"), dir): Unit
      }
    try {
      val e = intercept[Exception](
        sql("UPDATE gice.db.irace2 SET v = v + 1 WHERE k >= 3"))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("concurrent")))
    } finally sources.Iceberg.commitClaimHook = (_, _) => ()
    assert(planted)
  }
  test("iceberg MoR conflict: racing append vs MERGE race matrix") {
    // the r16 verdict's item 2 done-criterion: a range-disjoint
    // append racing a merge-on-read MERGE lands with NO caller
    // retry; an overlapping one aborts loudly
    sql("CREATE TABLE gice.db.mrace (k BIGINT, v BIGINT)")
    sql("INSERT INTO gice.db.mrace SELECT id + 100, id FROM range(10)")
    val dir = tdir(s"$wh/_ice/db/mrace")
    spark.sql("SELECT * FROM VALUES (105, 500L), (250, 900L) AS s(k, v)")
      .createOrReplaceTempView("mrace_src")
    @volatile var planted = false
    sources.Iceberg.commitClaimHook = (d, _) =>
      if (d == dir && !planted) {
        planted = true
        // k in [0, 9]: provably outside the merge's t.k >= 100 push
        Iceberg.commitAppend(
          spark.range(10).selectExpr("id AS k", "id AS v"), dir): Unit
      }
    try sql("""MERGE INTO gice.db.mrace t USING mrace_src s
          |ON t.k = s.k AND t.k >= 100
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    finally sources.Iceberg.commitClaimHook = (_, _) => ()
    assert(planted)
    // merge landed (105 updated, 250 inserted) AND the racing
    // append's 10 rows survived — no caller re-run
    assert(sql("SELECT count(*) FROM gice.db.mrace").head.getLong(0)
      === 21)
    assert(sql("SELECT v FROM gice.db.mrace WHERE k = 105")
      .head.getLong(0) === 500)
    assert(sql("SELECT v FROM gice.db.mrace WHERE k = 250")
      .head.getLong(0) === 900)
    assert(sql("SELECT sum(v) FROM gice.db.mrace WHERE k < 100")
      .head.getLong(0) === 45)
  }

  // the copy-on-write conflict loop keeps its own race coverage via
  // the opt-out routing (the default now rides position-delta)
  test("iceberg COW conflict (opt-out): disjoint racing append retries") {
    sql("CREATE TABLE gice.db.crace (k BIGINT, v BIGINT)")
    sql("INSERT INTO gice.db.crace SELECT id + 100, id FROM range(10)")
    sql("ALTER TABLE gice.db.crace SET TBLPROPERTIES " +
      "('write.update.mode' = 'copy-on-write')")
    val dir = tdir(s"$wh/_ice/db/crace")
    @volatile var planted = false
    sources.Iceberg.commitClaimHook = (d, _) =>
      if (d == dir && !planted) {
        planted = true
        Iceberg.commitAppend(
          spark.range(10).selectExpr("id AS k", "id AS v"), dir): Unit
      }
    try sql("UPDATE gice.db.crace SET v = v + 1 WHERE k >= 100")
    finally sources.Iceberg.commitClaimHook = (_, _) => ()
    assert(planted)
    assert(sql("SELECT count(*) FROM gice.db.crace").head.getLong(0)
      === 20)
    assert(sql("SELECT sum(v) FROM gice.db.crace WHERE k >= 100")
      .head.getLong(0) === 55)
  }

  test("delta COW conflict (opt-out): disjoint racing append retries") {
    sql("""CREATE TABLE gsql.db.cwrace (k BIGINT, s STRING)
          |PARTITIONED BY (s) TBLPROPERTIES
          |('delta.enableDeletionVectors' = 'false')""".stripMargin)
    sql("INSERT INTO gsql.db.cwrace SELECT id, 'a' FROM range(10)")
    val dir = tdir(s"$wh/db/cwrace")
    @volatile var planted = false
    sources.DeltaLog.commitClaimHook = (d, _) =>
      if (d == dir && !planted) {
        planted = true
        val extra = spark.range(3).selectExpr("id AS k", "'c' AS s")
        DeltaLog.commitAppendPartitioned(extra, dir, Seq("s")): Unit
      }
    try sql("UPDATE gsql.db.cwrace SET k = k + 100 WHERE s = 'a'")
    finally sources.DeltaLog.commitClaimHook = (_, _) => ()
    assert(planted)
    assert(sql("SELECT count(*) FROM gsql.db.cwrace WHERE s = 'c'")
      .head.getLong(0) === 3)
    assert(sql("SELECT min(k) FROM gsql.db.cwrace WHERE s = 'a'")
      .head.getLong(0) === 100)
  }

  test("delta catalog: atomic CTAS and REPLACE TABLE AS SELECT") {
    sql("CREATE TABLE gsql.db.ctas AS " +
      "SELECT id AS k, id * 2 AS v FROM range(10)")
    assert(sql("SELECT * FROM gsql.db.ctas").count() === 10)
    // REPLACE swaps schema and contents in one statement
    sql("REPLACE TABLE gsql.db.ctas AS SELECT id AS k FROM range(3)")
    assert(sql("SELECT * FROM gsql.db.ctas").columns.toSeq === Seq("k"))
    assert(sql("SELECT * FROM gsql.db.ctas").count() === 3)
    // a failing CTAS aborts its staged .tbl- home and leaves no table
    // runtime failure mid-write (ANSI cast throws past row 4)
    intercept[Exception](sql("CREATE TABLE gsql.db.ctas2 AS " +
      "SELECT CAST(CASE WHEN id < 5 THEN '1' ELSE 'boom' END " +
      "AS BIGINT) AS x, id FROM range(10)"))
    // schema-refused CTAS (NullType column) also leaves nothing
    intercept[Exception](sql("CREATE TABLE gsql.db.ctas2 AS " +
      "SELECT assert_true(id < 5) AS x, id FROM range(10)"))
    intercept[Exception](sql("SELECT * FROM gsql.db.ctas2"))
    // sweep straggler-resurrected homes before asserting (a
    // cancelled write task may land a part file after the abort)
    sql("CALL gsql.system.remove_orphan_homes(" +
      "namespace => 'db', older_than_ms => 0)")
    val leftovers = Option(new java.io.File(s"$wh/db").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.startsWith(".tbl-ctas2"))
    assert(leftovers.isEmpty,
      s"staged dirs leaked: ${leftovers.map(_.getName).toSeq}")
  }

  test("iceberg catalog: CTAS and CREATE OR REPLACE AS SELECT") {
    sql("CREATE TABLE gice.db.ictas AS " +
      "SELECT id AS k, id * 3 AS v FROM range(8)")
    assert(sql("SELECT sum(v) FROM gice.db.ictas").head.getLong(0)
      === 84)
    sql("CREATE OR REPLACE TABLE gice.db.ictas AS " +
      "SELECT id AS k FROM range(2)")
    assert(sql("SELECT * FROM gice.db.ictas").count() === 2)
  }

  test("delta catalog: streaming read by table name") {
    import org.apache.spark.sql.streaming.Trigger
    sql("CREATE TABLE gsql.db.strm (k BIGINT, v BIGINT)")
    sql("INSERT INTO gsql.db.strm SELECT id, id FROM range(5)")
    sql("INSERT INTO gsql.db.strm SELECT id + 5, id FROM range(5)")
    val cp = Files.createTempDirectory("graft_strmcp").toString
    val q = spark.readStream.table("gsql.db.strm")
      .writeStream.format("memory").queryName("strm_by_name")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.sql("SELECT count(*) FROM strm_by_name")
      .head.getLong(0) === 10)
  }
  test("delta catalog: CALL system.optimize / vacuum / restore") {
    sql("CREATE TABLE gsql.db.popt (k BIGINT, v BIGINT)")
    (0 until 4).foreach(i =>
      sql(s"INSERT INTO gsql.db.popt SELECT id + ${i * 10}, id " +
        "FROM range(10)"))
    val dir = tdir(s"$wh/db/popt")
    val before = DeltaLog
      .replay(dir, DeltaLog.versions(dir).last).adds.size
    val opt = sql("CALL gsql.system.optimize(table => 'db.popt')")
      .collect().head
    assert(opt.getLong(1) === before && opt.getLong(2) < before,
      s"optimize did not compact ($opt)")
    assert(sql("SELECT count(*) FROM gsql.db.popt").head.getLong(0)
      === 40)
    val vac = sql("CALL gsql.system.vacuum(table => 'db.popt', " +
      "keep_versions => 1)").collect().head
    assert(vac.getLong(0) >= 1, "vacuum deleted nothing")
    assert(sql("SELECT count(*) FROM gsql.db.popt").head.getLong(0)
      === 40)
    // restore: back to the 2-insert state (v2), a NEW commit
    sql("CREATE TABLE gsql.db.prst (k BIGINT)")
    sql("INSERT INTO gsql.db.prst VALUES (1)")
    sql("INSERT INTO gsql.db.prst VALUES (2)")
    sql("CALL gsql.system.restore(table => 'db.prst', version => 1)")
    assert(rows(sql("SELECT * FROM gsql.db.prst")) === Seq("[1]"))
  }

  test("iceberg catalog: CALL system rewrite / expire / rollback") {
    sql("CREATE TABLE gice.db.popt (k BIGINT, v BIGINT)")
    (0 until 3).foreach(i =>
      sql(s"INSERT INTO gice.db.popt SELECT id + ${i * 10}, id " +
        "FROM range(10)"))
    val dir = tdir(s"$wh/_ice/db/popt")
    val preSnaps = Iceberg.snapshotIds(dir)
    sql("CALL gice.system.rewrite_data_files(table => 'db.popt')")
    assert(sql("SELECT count(*) FROM gice.db.popt").head.getLong(0)
      === 30)
    val exp = sql("CALL gice.system.expire_snapshots(" +
      "table => 'db.popt', keep_last => 1)").collect().head
    assert(exp.getLong(0) >= 0)
    assert(sql("SELECT count(*) FROM gice.db.popt").head.getLong(0)
      === 30)
    sql("CREATE TABLE gice.db.prb (k BIGINT)")
    sql("INSERT INTO gice.db.prb VALUES (1)")
    val firstSnap = Iceberg.snapshotIds(tdir(s"$wh/_ice/db/prb")).max
    sql("INSERT INTO gice.db.prb VALUES (2)")
    sql("CALL gice.system.rollback_to_snapshot(table => 'db.prb', " +
      s"snapshot_id => $firstSnap)")
    assert(rows(sql("SELECT * FROM gice.db.prb")) === Seq("[1]"))
  }
  test("delta optimize_zorder on a PARTITIONED table clusters within") {
    sql("""CREATE TABLE gsql.db.zp (a BIGINT, b BIGINT, s STRING)
          |PARTITIONED BY (s)""".stripMargin)
    sql("INSERT INTO gsql.db.zp SELECT id % 128, " +
      "CAST(floor(id / 128) AS BIGINT), " +
      "CASE WHEN id % 2 = 0 THEN 'x' ELSE 'y' END FROM range(32768)")
    val opt = sql("CALL gsql.system.optimize_zorder(" +
      "table => 'db.zp', columns => 'a,b', target_files => 16)")
      .collect().head
    assert(opt.getLong(2) >= 4, s"landed ${opt.getLong(2)} files")
    val dir = tdir(s"$wh/db/zp")
    assert(DeltaLog.history(spark, dir)
      .orderBy(org.apache.spark.sql.functions.col("version").desc)
      .head.getString(1) === "OPTIMIZE")
    // partition pruning AND z-bounds pruning compose: the box keeps
    // well under half the partition's files
    graft.streaming.BatchScanStats.reset(dir)
    assert(sql("SELECT count(*) FROM gsql.db.zp WHERE s = 'x' AND " +
      "a BETWEEN 5 AND 15 AND b BETWEEN 5 AND 15")
      .head.getLong(0) > 0)
    val st = graft.streaming.BatchScanStats.statsFor(dir)
    assert(st.live >= 8 && st.pushdownKept < st.live / 2,
      s"partitioned z-order did not compose pruning " +
        s"(live ${st.live}, kept ${st.pushdownKept})")
    assert(sql("SELECT count(*) FROM gsql.db.zp").head.getLong(0)
      === 32768)
  }

  test("iceberg catalog: CALL system.optimize_zorder prunes both dims") {
    sql("CREATE TABLE gice.db.zord (a BIGINT, b BIGINT)")
    sql("INSERT INTO gice.db.zord SELECT id % 256, " +
      "floor(id / 256) FROM range(65536)")
    val r = sql("CALL gice.system.optimize_zorder(" +
      "table => 'db.zord', columns => 'a,b', target_files => 16)")
      .collect().head
    assert(r.getLong(2) >= 2, s"zorder landed ${r.getLong(2)} files")
    val dir = tdir(s"$wh/_ice/db/zord")
    // a box filter on EITHER dimension prunes via the fresh bounds
    graft.streaming.BatchScanStats.reset(dir)
    assert(sql("SELECT count(*) FROM gice.db.zord " +
      "WHERE a BETWEEN 10 AND 20 AND b BETWEEN 10 AND 20")
      .head.getLong(0) === 121)
    val st = graft.streaming.BatchScanStats.statsFor(dir)
    assert(st.live >= 8 && st.pushdownKept < st.live,
      s"the z-ordered manifest bounds did not prune the 2-D box " +
        s"(live ${st.live}, kept ${st.pushdownKept})")
    assert(sql("SELECT count(*) FROM gice.db.zord").head.getLong(0)
      === 65536)
  }

  test("delta catalog: DROP COLUMN is metadata-only on mapped tables") {
    sql("CREATE TABLE gsql.db.dropc (k BIGINT, v BIGINT, w STRING) " +
      "TBLPROPERTIES ('delta.columnMapping.mode' = 'name')")
    val dir = tdir(s"$wh/db/dropc")
    // CREATE with mapping property alone does not annotate the
    // schema; route through the mapped writer to mint the mapping
    val mapped = DeltaLog
      .replay(dir, DeltaLog.versions(dir).last).columnMapping.nonEmpty
    if (!mapped) cancel("mapped CREATE not wired — covered elsewhere")
    sql("INSERT INTO gsql.db.dropc VALUES (1, 10, 'x'), (2, 20, 'y')")
    val filesBefore = DeltaLog
      .replay(dir, DeltaLog.versions(dir).last).adds.keySet
    sql("ALTER TABLE gsql.db.dropc DROP COLUMN v")
    val st = DeltaLog.replay(dir, DeltaLog.versions(dir).last)
    assert(st.schema.fieldNames.toSeq === Seq("k", "w"))
    assert(st.adds.keySet === filesBefore,
      "DROP COLUMN must not touch data files")
    assert(rows(sql("SELECT * FROM gsql.db.dropc")) ===
      Seq("[1,x]", "[2,y]"))
    // the unmapped refusal
    sql("CREATE TABLE gsql.db.dropu (k BIGINT, v BIGINT)")
    sql("INSERT INTO gsql.db.dropu VALUES (1, 1)")
    val e = intercept[Exception](
      sql("ALTER TABLE gsql.db.dropu DROP COLUMN v"))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("column-mapped")))
  }
  test("delta streaming sink: exactly-once writeStream roundtrip") {
    import org.apache.spark.sql.streaming.Trigger
    val work = Files.createTempDirectory("graft_dsink").toString
    val src = s"$work/src"
    val dst = s"$work/dst"
    val cp = s"$work/cp"
    DeltaLog.commitAppend(
      spark.range(5).selectExpr("id AS k", "id * 2 AS v"), src)
    def drain(): Unit = {
      val q = spark.readStream.format("graft-delta")
        .option("path", src).load()
        .writeStream.format("graft-delta")
        .option("path", dst).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000): Unit
    }
    drain()
    assert(DeltaLog.read(spark, dst).count() === 5)
    // second drain with NO new source data: nothing re-lands
    drain()
    assert(DeltaLog.read(spark, dst).count() === 5)
    // new source commit: only the delta lands
    DeltaLog.commitAppend(
      spark.range(3).selectExpr("id + 10 AS k", "id AS v"), src)
    drain()
    assert(DeltaLog.read(spark, dst).count() === 8)
    // the epoch watermark itself: a replayed epoch commit is a no-op
    val dummy = Seq.empty[graft.sources.DeltaLog.Dsv2File]
    val appId = "replay-test"
    val first = DeltaLog.commitDsv2Idempotent(spark, dst,
      DeltaLog.read(spark, dst).schema, Seq.empty, dummy, appId, 7L)
    val replay = DeltaLog.commitDsv2Idempotent(spark, dst,
      DeltaLog.read(spark, dst).schema, Seq.empty, dummy, appId, 7L)
    assert(first.isDefined && replay.isEmpty,
      s"epoch replay must skip (first $first, replay $replay)")
  }

  test("iceberg streaming sink: exactly-once writeStream roundtrip") {
    import org.apache.spark.sql.streaming.Trigger
    val work = Files.createTempDirectory("graft_isink").toString
    val src = s"$work/src"
    val dst = s"$work/dst"
    val cp = s"$work/cp"
    Iceberg.commitAppend(
      spark.range(5).selectExpr("id AS k", "id * 2 AS v"), src)
    def drain(): Unit = {
      val q = spark.readStream.format("graft-iceberg")
        .option("path", src).load()
        .writeStream.format("graft-iceberg")
        .option("path", dst).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000): Unit
    }
    drain()
    assert(Iceberg.read(spark, dst).count() === 5)
    drain()
    assert(Iceberg.read(spark, dst).count() === 5)
    Iceberg.commitAppend(
      spark.range(3).selectExpr("id + 10 AS k", "id AS v"), src)
    drain()
    assert(Iceberg.read(spark, dst).count() === 8)
  }

  test("delta catalog: writeStream.toTable lands exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    sql("CREATE TABLE gsql.db.tsink (k BIGINT, v BIGINT)")
    val work = Files.createTempDirectory("graft_tsink").toString
    val src = s"$work/src"
    DeltaLog.commitAppend(
      spark.range(4).selectExpr("id AS k", "id AS v"), src)
    def drain(): Unit = {
      val q = spark.readStream.format("graft-delta")
        .option("path", src).load()
        .writeStream
        .option("checkpointLocation", s"$work/cp")
        .trigger(Trigger.AvailableNow()).toTable("gsql.db.tsink")
      q.awaitTermination(60000): Unit
    }
    drain(); drain()
    assert(sql("SELECT count(*) FROM gsql.db.tsink").head.getLong(0)
      === 4)
  }
  test("delta catalog: DataFrameWriterV2 append/createOrReplace, DESCRIBE") {
    wh
    // createOrReplace through writeTo = atomic RTAS from the API side
    spark.range(6).selectExpr("id AS k", "id * 2 AS v")
      .writeTo("gsql.db.w2").createOrReplace()
    assert(sql("SELECT count(*) FROM gsql.db.w2").head.getLong(0) === 6)
    spark.range(2).selectExpr("id + 100 AS k", "id AS v")
      .writeTo("gsql.db.w2").append()
    assert(sql("SELECT count(*) FROM gsql.db.w2").head.getLong(0) === 8)
    // overwritePartitions-style replace via createOrReplace again
    spark.range(1).selectExpr("id AS k", "id AS v")
      .writeTo("gsql.db.w2").createOrReplace()
    assert(sql("SELECT count(*) FROM gsql.db.w2").head.getLong(0) === 1)
    // DESCRIBE surfaces the schema; SHOW TBLPROPERTIES the config
    val desc = rows(sql("DESCRIBE TABLE gsql.db.w2"))
    assert(desc.exists(_.contains("k")) && desc.exists(_.contains("v")))
    sql("ALTER TABLE gsql.db.w2 SET TBLPROPERTIES ('team' = 'data')")
    assert(rows(sql("SHOW TBLPROPERTIES gsql.db.w2"))
      .exists(r => r.contains("team") && r.contains("data")))
  }
  test("delta catalog: TRUNCATE TABLE and SHOW CREATE TABLE") {
    sql("""CREATE TABLE gsql.db.trnc (k BIGINT, s STRING)
          |PARTITIONED BY (s)""".stripMargin)
    sql("INSERT INTO gsql.db.trnc VALUES (1, 'a'), (2, 'b')")
    sql("TRUNCATE TABLE gsql.db.trnc")
    assert(sql("SELECT * FROM gsql.db.trnc").count() === 0)
    // the table stays writable after truncation
    sql("INSERT INTO gsql.db.trnc VALUES (9, 'z')")
    assert(rows(sql("SELECT k, s FROM gsql.db.trnc")) === Seq("[9,z]"))
    val ddl = sql("SHOW CREATE TABLE gsql.db.trnc")
      .head.getString(0)
    assert(ddl.contains("CREATE TABLE") && ddl.contains("k BIGINT"),
      s"unexpected DDL: $ddl")
  }
  test("delta catalog: REPLACE of an external table keeps its data") {
    val loc = Files.createTempDirectory("graft_ext2").toString + "/e2"
    sql(s"CREATE TABLE gsql.db.extr (k BIGINT) LOCATION '$loc'")
    sql("INSERT INTO gsql.db.extr VALUES (1), (2)")
    sql("REPLACE TABLE gsql.db.extr AS SELECT id AS k FROM range(5)")
    assert(sql("SELECT count(*) FROM gsql.db.extr").head.getLong(0)
      === 5)
    // the external location's data survives — only the catalog
    // entry (a pointer object) was repointed
    assert(DeltaLog.read(spark, loc).count() === 2,
      "REPLACE of an external table must not destroy external data")
  }
  test("full lifecycle under ConditionalPutStore: zero dir renames") {
    import graft.sources.{ConditionalPutStore, LogStore}
    wh
    LogStore.withStore(ConditionalPutStore) {
      val moves0 = GraftSqlSeams.dirMoves.get()
      val claims0 = ConditionalPutStore.claimsAttempted.get()
      sql("CREATE NAMESPACE IF NOT EXISTS gsql.cps")
      // CREATE + INSERT: table state and entry pointer both commit
      // through the conditional-put seam
      sql("CREATE TABLE gsql.cps.lc (k BIGINT, s STRING) " +
        "PARTITIONED BY (s)")
      sql("INSERT INTO gsql.cps.lc VALUES (1, 'a'), (2, 'b')")
      // CTAS publishes by pointer claim, never a move
      sql("CREATE TABLE gsql.cps.lc2 AS SELECT k FROM gsql.cps.lc")
      assert(sql("SELECT * FROM gsql.cps.lc2").count() === 2)
      // RTAS repoints and GCs the replaced home
      sql("REPLACE TABLE gsql.cps.lc2 AS " +
        "SELECT id AS k FROM range(5)")
      assert(sql("SELECT * FROM gsql.cps.lc2").count() === 5)
      // RENAME = claim new entry + delete old entry
      sql("ALTER TABLE gsql.cps.lc2 RENAME TO cps.lc3")
      assert(sql("SELECT * FROM gsql.cps.lc3").count() === 5)
      assert(!sql("SHOW TABLES IN gsql.cps").collect()
        .exists(_.toString.contains("lc2,")))
      // racing CREATEs: exactly one of two claimants wins
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val results =
        try {
          import scala.concurrent._
          import scala.concurrent.duration._
          implicit val ec: ExecutionContext =
            ExecutionContext.fromExecutor(pool)
          Await.result(Future.sequence((0 until 2).map(_ => Future(
            scala.util.Try(spark.sql(
              "CREATE TABLE gsql.cps.race AS " +
                "SELECT id FROM range(3)"))))), 120.seconds)
        } finally pool.shutdown()
      assert(results.count(_.isSuccess) === 1,
        s"exactly one racing CREATE must win: $results")
      assert(sql("SELECT * FROM gsql.cps.race").count() === 3)
      // mid-write abort leaves no table and no orphan home
      intercept[Exception](sql("CREATE TABLE gsql.cps.boom AS " +
        "SELECT CAST(CASE WHEN id < 5 THEN '1' ELSE 'x' END " +
        "AS BIGINT) AS k FROM range(10)"))
      intercept[Exception](sql("SELECT * FROM gsql.cps.boom"))
      // DROP un-publishes by entry delete, then GCs
      sql("DROP TABLE gsql.cps.lc3")
      sql("DROP TABLE gsql.cps.lc")
      sql("DROP TABLE gsql.cps.race")
      // the orphan sweep reclaims anything a crash/abort/straggler
      // left (the aborted CTAS's home may resurrect when a
      // cancelled write task lands its part file after the abort's
      // delete — data-plane stragglers are GC'd, never trusted);
      // after it, zero hidden homes remain
      sql("CALL gsql.system.remove_orphan_homes(" +
        "namespace => 'cps', older_than_ms => 0)")
      val leftover = Option(new java.io.File(s"$wh/cps").listFiles())
        .getOrElse(Array.empty).filter(_.getName.startsWith(".tbl-"))
      assert(leftover.isEmpty,
        s"orphan homes: ${leftover.map(_.getName).toSeq}")
      assert(GraftSqlSeams.dirMoves.get() === moves0,
        "the object-store lifecycle moved a directory")
      assert(ConditionalPutStore.claimsAttempted.get() > claims0,
        "commits did not route through the conditional-put store")
    }
  }

  test("dead pointer entries: invisible, reclaimable, GC-swept") {
    wh
    sql("CREATE TABLE gsql.db.dead (k BIGINT)")
    sql("INSERT INTO gsql.db.dead VALUES (1)")
    val entry = java.nio.file.Paths.get(s"$wh/db/dead")
    val home = graft.streaming.TablePointer.read(entry).get._1
    // out-of-band damage: the data home vanishes under the pointer
    graft.util.Fs.deleteRecursively(new java.io.File(home))
    assert(!rows(sql("SHOW TABLES IN gsql.db"))
      .exists(_.contains("dead,")),
      "a dead pointer must be invisible to listings")
    intercept[Exception](sql("SELECT * FROM gsql.db.dead"))
    // the orphan sweep reclaims the dead entry ...
    val r = sql("CALL gsql.system.remove_orphan_homes(" +
      "namespace => 'db', older_than_ms => 0)").collect().head
    assert(r.getLong(1) >= 1, s"dead entry not swept: $r")
    assert(!java.nio.file.Files.exists(entry))
    // ... and the name is creatable again
    sql("CREATE TABLE gsql.db.dead (k BIGINT)")
    sql("INSERT INTO gsql.db.dead VALUES (2)")
    assert(rows(sql("SELECT * FROM gsql.db.dead")) === Seq("[2]"))
    sql("DROP TABLE gsql.db.dead")
  }

  test("adopted directory table: readable, rename refused on objstore") {
    wh
    // a pre-existing delta directory dropped INTO the warehouse is
    // adopted: readable/writable by name without any pointer entry
    val dir = s"$wh/db/adopted"
    DeltaLog.commitAppend(
      spark.range(4).selectExpr("id AS k"), dir)
    assert(sql("SELECT count(*) FROM gsql.db.adopted").head.getLong(0)
      === 4)
    // its identity is its path: renaming it needs a directory move,
    // allowed on POSIX but refused under an object-store LogStore
    graft.sources.LogStore.withStore(
        graft.sources.ConditionalPutStore) {
      val e = intercept[Exception](
        sql("ALTER TABLE gsql.db.adopted RENAME TO db.adopted2"))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("adopted")))
    }
    sql("ALTER TABLE gsql.db.adopted RENAME TO db.adopted2")
    assert(sql("SELECT count(*) FROM gsql.db.adopted2").head.getLong(0)
      === 4)
    sql("DROP TABLE gsql.db.adopted2")
  }

  test("remove_orphan_homes vs in-flight CTAS: the grace-window matrix") {
    wh
    import graft.sources.{ConditionalPutStore, LogStore, PosixLogStore}
    for ((store, tag) <- Seq((PosixLogStore, "px"),
        (ConditionalPutStore, "cp"))) LogStore.withStore(store) {
      val ns = new java.io.File(s"$wh/db")
      // an IN-FLIGHT CTAS: a staged .tbl- home with real table state
      // whose pointer is NOT yet claimed — unreferenced BY DESIGN
      val inflight = new java.io.File(ns,
        s".tbl-inflight$tag-${java.util.UUID.randomUUID}")
      DeltaLog.commitAppend(
        spark.range(4).selectExpr("id AS k"), inflight.getPath)
      // a LOST-RACE residue: same shape, but it will never commit
      val lost = new java.io.File(ns,
        s".tbl-lost$tag-${java.util.UUID.randomUUID}")
      DeltaLog.commitAppend(
        spark.range(2).selectExpr("id AS k"), lost.getPath)
      // sweep with a grace horizon beyond the CTAS runtime: BOTH
      // homes survive (age < horizon) — a sweeper can never eat a
      // live CTAS when the horizon is configured as documented
      sql("CALL gsql.system.remove_orphan_homes(" +
        "namespace => 'db', older_than_ms => 3600000)")
      assert(inflight.isDirectory && lost.isDirectory,
        "grace window must protect young staged homes")
      // the CTAS commits: pointer claim through the store seam
      assert(graft.streaming.TablePointer.claim(
        java.nio.file.Paths.get(s"$wh/db/inflight$tag"),
        inflight.getPath, external = false))
      assert(sql(s"SELECT count(*) FROM gsql.db.inflight$tag")
        .head.getLong(0) === 4)
      // past the horizon, the sweep reclaims EXACTLY the lost home:
      // the committed one is referenced and immune at ANY horizon
      val r = sql("CALL gsql.system.remove_orphan_homes(" +
        "namespace => 'db', older_than_ms => 0)").collect().head
      assert(!lost.exists(), "lost-race home must be reclaimed")
      assert(inflight.isDirectory,
        "a referenced home is immune at any horizon")
      assert(r.getLong(0) >= 1)
      assert(sql(s"SELECT count(*) FROM gsql.db.inflight$tag")
        .head.getLong(0) === 4)
      sql(s"DROP TABLE gsql.db.inflight$tag")
    }
  }

  test("adopt_table: full adopted lifecycle under ConditionalPutStore") {
    wh
    import graft.sources.{ConditionalPutStore, LogStore}
    val dir = s"$wh/db/adint"
    DeltaLog.commitAppend(spark.range(6).selectExpr("id AS k"), dir)
    LogStore.withStore(ConditionalPutStore) {
      val moves0 = GraftSqlSeams.dirMoves.get()
      // un-adopted: RENAME and RTAS refuse loudly on an object store
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(intercept[Exception](sql(
        "ALTER TABLE gsql.db.adint RENAME TO db.adint2")))
        .exists(_.contains("adopted")))
      // ADOPT: one metadata-only claim — the pointer lifecycle opens
      assert(rows(sql(
        "CALL gsql.system.adopt_table(table => 'db.adint')"))
        === Seq("[adopted]"))
      assert(rows(sql(
        "CALL gsql.system.adopt_table(table => 'db.adint')"))
        === Seq("[already-adopted]"))
      assert(sql("SELECT count(*) FROM gsql.db.adint").head.getLong(0)
        === 6)
      assert(sql("SHOW TABLES IN gsql.db").collect()
        .map(_.getString(1)).count(_ == "adint") === 1,
        "adopted table listed exactly once")
      // RTAS now rides the pointer (repoint + GC, no moves)
      sql("REPLACE TABLE gsql.db.adint AS " +
        "SELECT id * 10 AS k FROM range(3)")
      assert(rows(sql("SELECT k FROM gsql.db.adint"))
        === Seq("[0]", "[10]", "[20]"))
      // RENAME rides the pointer: owner-mark + claim + delete
      sql("ALTER TABLE gsql.db.adint RENAME TO db.adint2")
      assert(rows(sql("SELECT k FROM gsql.db.adint2"))
        === Seq("[0]", "[10]", "[20]"))
      assert(!spark.catalog.tableExists("gsql.db.adint"))
      assert(GraftSqlSeams.dirMoves.get() === moves0,
        "the converted lifecycle must move no directories")
      sql("DROP TABLE gsql.db.adint2")
      assert(!spark.catalog.tableExists("gsql.db.adint2"))
    }
  }

  test("adopt_table: rename keeps data in place; old name suppressed") {
    wh
    val dir = s"$wh/db/adrn"
    DeltaLog.commitAppend(spark.range(5).selectExpr("id AS k"), dir)
    sql("CALL gsql.system.adopt_table(table => 'db.adrn')")
    sql("ALTER TABLE gsql.db.adrn RENAME TO db.adrn2")
    // the DATA never moved: the home is still the old-name directory,
    // now owner-marked so it no longer surfaces as a table
    assert(new java.io.File(dir, "_delta_log").isDirectory,
      "rename must not move the data directory")
    assert(!spark.catalog.tableExists("gsql.db.adrn"),
      "the owned directory must not resurface under its path name")
    assert(sql("SELECT count(*) FROM gsql.db.adrn2").head.getLong(0)
      === 5)
    assert(!sql("SHOW TABLES IN gsql.db").collect()
      .map(_.getString(1)).contains("adrn"))
    // DROP of the new name reclaims the in-place home → old name free
    sql("DROP TABLE gsql.db.adrn2")
    assert(!new java.io.File(dir).exists())
    sql("CREATE TABLE gsql.db.adrn (k BIGINT)")
    sql("INSERT INTO gsql.db.adrn VALUES (42)")
    assert(rows(sql("SELECT k FROM gsql.db.adrn")) === Seq("[42]"))
    sql("DROP TABLE gsql.db.adrn")
  }

  test("adopt_table: racing adoptions both succeed on one pointer") {
    wh
    val dir = s"$wh/db/adrace"
    DeltaLog.commitAppend(spark.range(3).selectExpr("id AS k"), dir)
    import graft.sources.{ConditionalPutStore, LogStore}
    LogStore.withStore(ConditionalPutStore) {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val results = Await.result(
        Future.sequence((1 to 4).map(_ => Future(
          scala.util.Try(sql(
            "CALL gsql.system.adopt_table(table => 'db.adrace')")
            .head.getString(0))))), 60.seconds)
      assert(results.forall(_.isSuccess),
        s"racing adoptions must all succeed, got $results")
      assert(results.map(_.get).toSet
        .subsetOf(Set("adopted", "already-adopted")))
    }
    assert(sql("SELECT count(*) FROM gsql.db.adrace").head.getLong(0)
      === 3)
    sql("DROP TABLE gsql.db.adrace")
  }

  test("streaming sinks land in PARTITIONED tables under the spec") {
    import org.apache.spark.sql.streaming.Trigger
    val work = Files.createTempDirectory("graft_psink").toString
    // Delta: sink table pre-created partitioned; the stream inherits
    val ddst = s"$work/ddst"
    DeltaLog.createTable(ddst,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType))), Seq("s"))
    val src = s"$work/src"
    DeltaLog.commitAppend(spark.range(10).selectExpr("id AS k",
      "CASE WHEN id % 2 = 0 THEN 'e' ELSE 'o' END AS s"), src)
    val q1 = spark.readStream.format("graft-delta")
      .option("path", src).load()
      .writeStream.format("graft-delta").option("path", ddst)
      .option("checkpointLocation", s"$work/dcp")
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination(60000)
    val st = DeltaLog.replay(ddst, DeltaLog.versions(ddst).last)
    assert(st.partitionColumns === Seq("s"))
    assert(st.adds.values.forall(_.partitionValues.contains("s")),
      "streamed adds must carry partitionValues")
    assert(DeltaLog.read(spark, ddst).count() === 10)
    // Iceberg: same shape through the iceberg sink
    val idst = s"$work/idst"
    Iceberg.commitAppendPartitioned(spark.range(0).selectExpr(
      "id AS k", "CAST('x' AS STRING) AS s"), idst, Seq("s"))
    val q2 = spark.readStream.format("graft-delta")
      .option("path", src).load()
      .writeStream.format("graft-iceberg").option("path", idst)
      .option("checkpointLocation", s"$work/icp")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    assert(Iceberg.read(spark, idst).count() === 10)
    assert(Iceberg.read(spark, idst)
      .filter(org.apache.spark.sql.functions.col("s") === "e")
      .count() === 5)
  }
}
