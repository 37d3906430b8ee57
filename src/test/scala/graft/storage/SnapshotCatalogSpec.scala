package graft.storage

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The namespace-managed (path-free) catalog: `spark.sql.catalog.graft`
  * over a warehouse of snapshot tables — DDL, DML (incl. row-level SQL),
  * ALTER evolution, and the `CALL graft.system.*` procedures. */
class SnapshotCatalogSpec extends SparkSpec {
  import spark.implicits._

  private val warehouse = Files.createTempDirectory("graft_wh").toString
  spark.conf.set("spark.sql.catalog.graft",
    "graft.storage.dsv2.SnapshotCatalog")
  spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)

  test("DDL + DML lifecycle: namespace, create, insert, select, drop") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.metrics")
    spark.sql("CREATE TABLE graft.metrics.cpu (k BIGINT, host STRING, v DOUBLE)")
    // an empty, typed, immediately-readable v1
    assert(spark.sql("SELECT * FROM graft.metrics.cpu").count() === 0)
    assert(SnapshotTable.versions(spark, s"$warehouse/metrics/cpu") === Seq(1L))
    spark.sql(
      "INSERT INTO graft.metrics.cpu VALUES (1, 'a', 0.5), (2, 'b', 0.7)")
    assert(spark.sql("SELECT sum(k) FROM graft.metrics.cpu")
      .head.getLong(0) === 3L)
    // SHOW TABLES sees it
    val listed = spark.sql("SHOW TABLES IN graft.metrics")
      .collect().map(_.getString(1)).toSet
    assert(listed.contains("cpu"))
    // the table dir is a full snapshot root: library API interoperates
    assert(SnapshotTable.read(spark, s"$warehouse/metrics/cpu").count() === 2)
    spark.sql("DROP TABLE graft.metrics.cpu")
    intercept[Exception] { spark.sql("SELECT * FROM graft.metrics.cpu").collect() }
  }

  test("row-level SQL works on catalog-managed tables") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.rl")
    spark.sql("CREATE TABLE graft.rl.t (k BIGINT, s STRING)")
    spark.sql("INSERT INTO graft.rl.t SELECT id, concat('v', id) FROM range(10)")
    spark.sql("DELETE FROM graft.rl.t WHERE k >= 8")
    spark.sql("UPDATE graft.rl.t SET s = 'X' WHERE k = 0")
    Seq((1L, "m1"), (20L, "m20")).toDF("k", "s")
      .createOrReplaceTempView("rl_src")
    spark.sql(
      """MERGE INTO graft.rl.t t USING rl_src u ON t.k = u.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql("SELECT k, s FROM graft.rl.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((0L, "X"), (1L, "m1"), (2L, "v2"), (3L, "v3"),
      (4L, "v4"), (5L, "v5"), (6L, "v6"), (7L, "v7"), (20L, "m20")))
    spark.catalog.dropTempView("rl_src")
    spark.sql("DROP TABLE graft.rl.t")
  }

  test("ALTER TABLE: add columns and lossless widening as atomic metadata versions") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ddl")
    spark.sql("CREATE TABLE graft.ddl.t (k INT, s STRING)")
    spark.sql("INSERT INTO graft.ddl.t VALUES (1, 'a')")
    spark.sql("ALTER TABLE graft.ddl.t ADD COLUMNS (x DOUBLE)")
    spark.sql("INSERT INTO graft.ddl.t VALUES (2, 'b', 1.5)")
    spark.sql("ALTER TABLE graft.ddl.t ALTER COLUMN k TYPE BIGINT")
    val got = spark.sql("SELECT k, s, x FROM graft.ddl.t ORDER BY k")
    assert(got.schema("k").dataType === org.apache.spark.sql.types.LongType)
    assert(got.collect().map(_.toString).toSeq ===
      Seq("[1,a,null]", "[2,b,1.5]"))
    // narrowing refused
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.ddl.t ALTER COLUMN k TYPE INT")
    }
    spark.sql("DROP TABLE graft.ddl.t")
  }

  test("CALL graft.system.compact and vacuum") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.maint")
    spark.sql("CREATE TABLE graft.maint.t (k BIGINT, v DOUBLE)")
    spark.range(4000).select(col("id").as("k"), (col("id") % 97).cast("double").as("v"))
      .repartition(16)
      .writeTo("graft.maint.t").append()
    val root = s"$warehouse/maint/t"
    assert(SnapshotTable.latest(spark, root).get.files.size === 16)
    val res = spark.sql(
      "CALL graft.system.compact('maint.t', 4, 'k')").collect().head
    assert(res.getLong(0) === 3L) // create + append + compact = v3
    assert(res.getInt(1) === 4)
    assert(SnapshotTable.latest(spark, root).get.files.size === 4)
    // compact re-collected stats on the tracked columns? (none tracked
    // here — the call is still a no-op-safe pass) and content survives
    assert(spark.sql("SELECT count(*), sum(k) FROM graft.maint.t")
      .head.toString === s"[4000,${(0L until 4000L).sum}]")
    // vacuum with grace 0 retires the pre-compact layout
    val deleted = spark.sql(
      "CALL graft.system.vacuum('maint.t', 1, 0L)").collect().head.getInt(0)
    assert(deleted >= 16, s"expected the 16 pre-compact files gone, got $deleted")
    assert(spark.sql("SELECT count(*) FROM graft.maint.t").head.getLong(0) === 4000)
    spark.sql("DROP TABLE graft.maint.t")
  }

  test("CALL compact with two columns Z-ORDERS: both dimensions stay prunable") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.z")
    spark.sql("CREATE TABLE graft.z.t (x BIGINT, y BIGINT, v DOUBLE)")
    // x and y vary independently — after a 1-D cluster on x, y-files
    // span the whole domain; after z-order BOTH prune
    spark.range(16000).select((col("id") % 128).as("x"),
        ((col("id") * 7919) % 128).as("y"),
        col("id").cast("double").as("v"))
      .repartition(8)
      .writeTo("graft.z.t").append()
    val root = s"$warehouse/z/t"
    spark.sql("CALL graft.system.compact('z.t', 16, 'x,y')")
    val v = SnapshotTable.latest(spark, root).get.version
    val st = SnapshotTable.stats(spark, root, v)
    assert(st.nonEmpty)
    // both dimensions recorded, and a corner query touches FEW files
    val (keepX, totX) = SnapshotTable.pruneFiles(spark, root, "x", 0, 15)
    val (keepY, totY) = SnapshotTable.pruneFiles(spark, root, "y", 0, 15)
    assert(totX === 16 && totY === 16)
    assert(keepX.size <= 8, s"x-band should prune z-ordered files: ${keepX.size}/16")
    assert(keepY.size <= 8, s"y-band should prune z-ordered files: ${keepY.size}/16")
    // content identical
    assert(spark.sql("SELECT count(*), sum(v) FROM graft.z.t").head.toString
      === s"[16000,${(0 until 16000).map(_.toDouble).sum}]")
    spark.sql("DROP TABLE graft.z.t")
  }

  test("rename moves the table inside the warehouse") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.rn")
    spark.sql("CREATE TABLE graft.rn.a (k BIGINT)")
    spark.sql("INSERT INTO graft.rn.a VALUES (7)")
    spark.sql("ALTER TABLE graft.rn.a RENAME TO rn.b")
    assert(spark.sql("SELECT k FROM graft.rn.b").head.getLong(0) === 7L)
    intercept[Exception] { spark.sql("SELECT * FROM graft.rn.a").collect() }
    spark.sql("DROP TABLE graft.rn.b")
  }

  test("atomic CTAS: commit publishes, failure leaves NO table, RTAS swaps") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ctas")
    val fs = new org.apache.hadoop.fs.Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stagingDirs() = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$warehouse/ctas"))
      .map(_.getPath.getName).filter(n => n.startsWith(".stage-") || n.startsWith(".drop-"))
    // plain CTAS
    spark.sql("CREATE TABLE graft.ctas.t AS SELECT id AS k, id * 2 AS v FROM range(100)")
    try {
      assert(spark.sql("SELECT count(*), sum(v) FROM graft.ctas.t").head.toString
        === s"[100,${(0L until 100L).map(_ * 2).sum}]")
      assert(stagingDirs().isEmpty, s"staging dirs linger: ${stagingDirs().toSeq}")
      // every manifest entry was re-anchored to the FINAL table root
      val snap = SnapshotTable.latest(spark, s"$warehouse/ctas/t").get
      snap.files.foreach(p => assert(p.contains("/ctas/t/"), s"unanchored $p"))
      // a FAILED CTAS must leave no table and no staging debris: the
      // row with id 5 fails its task inside the write job, after the
      // task's writer has already written rows
      val failed = intercept[Exception] {
        spark.sql("CREATE TABLE graft.ctas.bad AS " +
          "SELECT IF(id < 5, id, raise_error('boom')) AS a, id FROM range(10)")
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else String.valueOf(t.getMessage) +: chain(t.getCause)
      assert(chain(failed).exists(_.contains("boom")),
        s"expected the job's own failure, got: ${chain(failed)}")
      assert(!spark.catalog.tableExists("graft.ctas.bad"))
      intercept[Exception] { spark.sql("SELECT * FROM graft.ctas.bad").collect() }
      assert(stagingDirs().isEmpty, s"failed CTAS left debris: ${stagingDirs().toSeq}")
      // RTAS: the replacement lands as the table's NEXT VERSION — the
      // table is never absent mid-replace, and the old content still
      // time-travels
      val preReplace = SnapshotTable.latest(spark, s"$warehouse/ctas/t").get.version
      spark.sql("REPLACE TABLE graft.ctas.t AS SELECT id AS k FROM range(7)")
      assert(spark.sql("SELECT count(*) FROM graft.ctas.t").head.getLong(0) === 7)
      assert(spark.sql(
        s"SELECT count(*) FROM graft.ctas.t VERSION AS OF $preReplace")
        .head.getLong(0) === 100, "pre-replace content must time-travel")
      assert(stagingDirs().isEmpty)
      // an in-flight staging dir never appears in SHOW TABLES
      val fakeStage = new org.apache.hadoop.fs.Path(
        s"$warehouse/ctas/.stage-zz-x/_snapshots")
      fs.mkdirs(fakeStage)
      val listed = spark.sql("SHOW TABLES IN graft.ctas")
        .collect().map(_.getString(1)).toSet
      assert(!listed.exists(_.startsWith(".")), s"staging dir listed: $listed")
      fs.delete(fakeStage.getParent, true)
      // CTAS with PARTITIONED BY mints the partition spec
      spark.sql("CREATE TABLE graft.ctas.p PARTITIONED BY (g) AS " +
        "SELECT id AS k, CAST(id % 3 AS STRING) AS g FROM range(30)")
      val psnap = SnapshotTable.latest(spark, s"$warehouse/ctas/p").get
      assert(psnap.partitionSpecs === Seq("g"))
      assert(psnap.entries.forall(_.tuple.nonEmpty))
      assert(spark.sql("SELECT count(*) FROM graft.ctas.p WHERE g = '1'")
        .head.getLong(0) === 10)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft.ctas.t")
      spark.sql("DROP TABLE IF EXISTS graft.ctas.p")
    }
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF literal syntax") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt.t (k BIGINT, s STRING)")
    try {
      spark.sql("INSERT INTO graft.tt.t VALUES (1, 'a'), (2, 'b')") // v2
      val tsAfterV2 = System.currentTimeMillis()
      Thread.sleep(1100) // manifest mtime granularity is one second
      spark.sql("INSERT INTO graft.tt.t VALUES (3, 'c')") // v3
      assert(spark.sql("SELECT count(*) FROM graft.tt.t").head.getLong(0) === 3)
      assert(spark.sql("SELECT count(*) FROM graft.tt.t VERSION AS OF 2")
        .head.getLong(0) === 2)
      assert(spark.sql("SELECT count(*) FROM graft.tt.t VERSION AS OF 1")
        .head.getLong(0) === 0) // the empty typed v1
      val ts = new java.sql.Timestamp(tsAfterV2).toString
      assert(spark.sql(s"SELECT count(*) FROM graft.tt.t TIMESTAMP AS OF '$ts'")
        .head.getLong(0) === 2)
      // a pre-table timestamp resolves to nothing, loudly
      intercept[Exception] {
        spark.sql("SELECT * FROM graft.tt.t TIMESTAMP AS OF '1999-01-01 00:00:00'")
          .collect()
      }
      // row-level history stays visible through the SQL form after a delete
      spark.sql("DELETE FROM graft.tt.t WHERE k = 1")
      assert(spark.sql("SELECT count(*) FROM graft.tt.t").head.getLong(0) === 2)
      assert(spark.sql("SELECT count(*) FROM graft.tt.t VERSION AS OF 3")
        .head.getLong(0) === 3)
    } finally spark.sql("DROP TABLE IF EXISTS graft.tt.t")
  }

  test("CALL restore: rollback as a commit — history intact, vacuum keeps both") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.rst")
    spark.sql("CREATE TABLE graft.rst.t (k BIGINT)")                  // v1
    spark.sql("INSERT INTO graft.rst.t SELECT id FROM range(10)")     // v2
    spark.sql("INSERT INTO graft.rst.t SELECT id FROM range(10, 25)") // v3
    try {
      val root = s"$warehouse/rst/t"
      val got = spark.sql("CALL graft.system.restore('rst.t', 2)").head
      assert(got.getLong(0) === 2L && got.getLong(1) === 4L)
      // restore→read equals the time-travel read of v2
      assert(spark.sql("SELECT count(*), sum(k) FROM graft.rst.t").head.toString
        === spark.sql("SELECT count(*), sum(k) FROM graft.rst.t VERSION AS OF 2")
          .head.toString)
      assert(spark.sql("SELECT count(*) FROM graft.rst.t").head.getLong(0) === 10)
      // forward history intact: the rolled-back v3 still time-travels
      assert(SnapshotTable.versions(spark, root) === Seq(1L, 2L, 3L, 4L))
      assert(spark.sql("SELECT count(*) FROM graft.rst.t VERSION AS OF 3")
        .head.getLong(0) === 25)
      // a restore is undoable by another restore
      spark.sql("CALL graft.system.restore('rst.t', 3)")
      assert(spark.sql("SELECT count(*) FROM graft.rst.t").head.getLong(0) === 25)
      // vacuum keeping enough versions retires nothing the heads need
      SnapshotTable.vacuum(spark, root, keepVersions = 3, graceMs = 0L)
      assert(spark.sql("SELECT count(*) FROM graft.rst.t").head.getLong(0) === 25)
      // restoring a vacuumed-away version refuses loudly
      val e = intercept[IllegalArgumentException] {
        SnapshotTable.restore(spark, root, 1L)
      }
      assert(e.getMessage.contains("not retained"))
    } finally spark.sql("DROP TABLE IF EXISTS graft.rst.t")
  }

  test("refs: tags pin versions, branches fast-forward, WAP isolates consumers") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.wap")
    spark.sql("CREATE TABLE graft.wap.t (k BIGINT)")              // v1
    spark.sql("INSERT INTO graft.wap.t SELECT id FROM range(10)") // v2
    try {
      val root = s"$warehouse/wap/t"
      // publish pointer for production consumers
      assert(spark.sql("CALL graft.system.branch('wap.t', 'main')")
        .head.getLong(0) === 2L)
      assert(spark.sql("CALL graft.system.tag('wap.t', 'rel1', 2)")
        .head.getLong(0) === 2L)
      // ingest commits v3 — consumers on 'main' must NOT see it
      spark.sql("INSERT INTO graft.wap.t SELECT id FROM range(10, 30)") // v3
      assert(spark.sql("SELECT count(*) FROM graft.wap.t VERSION AS OF 'main'")
        .head.getLong(0) === 10, "unpublished data leaked to the branch reader")
      // the AUDIT reads the candidate head directly
      assert(spark.sql("SELECT count(*) FROM graft.wap.t").head.getLong(0) === 30)
      // publish = one atomic fast-forward; consumers now see v3
      assert(spark.sql("CALL graft.system.fast_forward('wap.t', 'main')")
        .head.getLong(0) === 3L)
      assert(spark.sql("SELECT count(*) FROM graft.wap.t VERSION AS OF 'main'")
        .head.getLong(0) === 30)
      // the connector option resolves refs too
      assert(spark.read.format("graft-snapshot").option("versionAsOf", "rel1")
        .load(root).count() === 10)
      // a FAILED audit: v4 lands, main is never moved — still at v3
      spark.sql("INSERT INTO graft.wap.t SELECT id FROM range(30, 31)") // v4
      assert(spark.sql("SELECT count(*) FROM graft.wap.t VERSION AS OF 'main'")
        .head.getLong(0) === 30)
      // tags are immutable; branches only move forward
      assert(intercept[Exception] {
        spark.sql("CALL graft.system.fast_forward('wap.t', 'rel1')")
      }.getMessage.contains("tags never move"))
      assert(intercept[Exception] {
        spark.sql("CALL graft.system.fast_forward('wap.t', 'main', 2)")
      }.getMessage.contains("forward"))
      // vacuum keeps ref-targeted versions outside the retention window
      SnapshotTable.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
      assert(spark.sql("SELECT count(*) FROM graft.wap.t VERSION AS OF 'rel1'")
        .head.getLong(0) === 10, "a tagged version must survive vacuum")
      assert(spark.sql("SELECT count(*) FROM graft.wap.t VERSION AS OF 'main'")
        .head.getLong(0) === 30)
      assert(SnapshotTable.versions(spark, root) === Seq(2L, 3L, 4L))
      // SHOW REFS: the connector lists tags and branches
      val listed = spark.read.format("graft-snapshot")
        .option("refs", true).load(root)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(listed === Set(("main", "branch", 3L), ("rel1", "tag", 2L)))
      // drop_ref releases the pin
      assert(spark.sql("CALL graft.system.drop_ref('wap.t', 'rel1')")
        .head.getBoolean(0))
      assert(SnapshotTable.refs(spark, root).keySet === Set("main"))
    } finally spark.sql("DROP TABLE IF EXISTS graft.wap.t")
  }

  test("partition spec evolution: metadata-only ALTER, per-era tuples, safe paths") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pse")
    spark.sql("CREATE TABLE graft.pse.t (k BIGINT, g STRING, h STRING) " +
      "PARTITIONED BY (g)")                                              // v1
    spark.sql("INSERT INTO graft.pse.t SELECT id, " +
      "CASE WHEN id < 50 THEN 'a' ELSE 'b' END, 'x' FROM range(100)")    // v2
    try {
      val root = s"$warehouse/pse/t"
      val era1 = SnapshotTable.latest(spark, root).get.entries.map(_.path).toSet
      // the ALTER is METADATA-ONLY: same entries, one new version
      spark.sql("ALTER TABLE graft.pse.t SET TBLPROPERTIES('partition'='h')") // v3
      val evolved = SnapshotTable.latest(spark, root).get
      assert(evolved.partitionSpecs === Seq("h"))
      assert(evolved.entries.map(_.path).toSet === era1, "spec change moved data")
      // era-1 tuples keep their OLD keys; new writes tuple by the new spec
      spark.sql("INSERT INTO graft.pse.t SELECT id, 'c', " +
        "CASE WHEN id % 2 = 0 THEN 'y' ELSE 'z' END FROM range(100, 200)") // v4
      val after = SnapshotTable.latest(spark, root).get
      val era2 = after.entries.filterNot(e => era1(e.path))
      assert(era2.nonEmpty && era2.forall(_.tuple.startsWith("h=")))
      assert(after.entries.filter(e => era1(e.path))
        .forall(_.tuple.startsWith("g=")))
      spark.sql("REFRESH TABLE graft.pse.t")
      // correctness across eras
      assert(spark.sql("SELECT count(*) FROM graft.pse.t").head.getLong(0) === 200)
      // a CURRENT-spec predicate prunes era-2 files exactly; era-1 files
      // degrade to kept (self-describing tuples, no false negatives)
      val planned = spark.read.format("graft-snapshot").load(root)
        .where(col("h") === "y")
      assert(planned.count() === 50)
      val desc = planned.queryExecution.executedPlan.toString
      val filesRe = """files=(\d+)/(\d+)""".r.findFirstMatchIn(desc).get
      assert(filesRe.group(1).toInt < filesRe.group(2).toInt,
        s"an h-predicate should prune some era-2 files:\n$desc")
      // dynamic overwrite refuses across eras with compact-first guidance
      val e = intercept[Exception] {
        spark.range(5).select(lit(7L).as("k"), lit("c").as("g"), lit("y").as("h"))
          .writeTo("graft.pse.t").overwritePartitions()
      }
      assert(e.getMessage.contains("older partition spec") ||
        Option(e.getCause).exists(_.getMessage.contains("older partition spec")))
      // compaction migrates every file to the current spec
      SnapshotTable.compact(spark, root, targetFiles = 2)
      val compacted = SnapshotTable.latest(spark, root).get
      assert(compacted.entries.forall(e => e.tuple.isEmpty ||
        e.tuple.startsWith("h=")))
      assert(spark.sql("SELECT count(*) FROM graft.pse.t").head.getLong(0) === 200)
    } finally spark.sql("DROP TABLE IF EXISTS graft.pse.t")
  }

  test("rename survives a warehouse path that itself contains /data/") {
    // re-anchoring must strip the EXACT old-root prefix; matching "the
    // first /data/ in the path" would rewrite every manifest entry to
    // <new>/data/graft/.../data/... and break the table after RENAME
    val wh = Files.createTempDirectory("graft_dwh").toString + "/data/graft"
    spark.conf.set("spark.sql.catalog.graftd", "graft.storage.dsv2.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.graftd.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftd.rn")
    spark.sql("CREATE TABLE graftd.rn.a (k BIGINT, s STRING)")
    spark.sql("INSERT INTO graftd.rn.a VALUES (1, 'x'), (2, 'y')")
    spark.sql("ALTER TABLE graftd.rn.a RENAME TO rn.b")
    try {
      assert(spark.sql("SELECT sum(k) FROM graftd.rn.b").head.getLong(0) === 3L)
      // every re-anchored manifest entry must resolve to a real file
      val snap = SnapshotTable.latest(spark, s"$wh/rn/b").get
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      snap.files.foreach(p => assert(
        fs.exists(new org.apache.hadoop.fs.Path(p)), s"unresolvable entry $p"))
    } finally spark.sql("DROP TABLE IF EXISTS graftd.rn.b")
  }
}
