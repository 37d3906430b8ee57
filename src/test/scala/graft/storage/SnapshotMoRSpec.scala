package graft.storage

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** MERGE-ON-READ row-level ops: deletion-vector sidecars instead of
  * copy-on-write rewrites for small DELETE/UPDATE/MERGE — commit cost
  * O(affected rows), zero data-file rewrites, readers subtract
  * positions, compaction materializes vectors away. */
class SnapshotMoRSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("snapmor").toString + "/t"
  private var n = 0
  private def newTable(): String = { n += 1; s"snap_mor_spec_$n" }

  private def hconf = spark.sparkContext.hadoopConfiguration

  test("deletion-vector codec round-trips, unions, delta-encodes") {
    val root = Files.createTempDirectory("dvcodec").toString
    val p = DeletionVectors.freshPath(root)
    val in = Array(7L, 3L, 3L, 4000000L, 0L)
    assert(DeletionVectors.write(hconf, p, in).toSeq === Seq(0L, 3L, 7L, 4000000L))
    assert(DeletionVectors.read(hconf, p).toSeq === Seq(0L, 3L, 7L, 4000000L))
    assert(DeletionVectors.union(Array(1L, 5L), Array(0L, 5L, 9L)).toSeq
      === Seq(0L, 1L, 5L, 9L))
    // dense consecutive ordinals encode ~1 byte each
    val p2 = DeletionVectors.freshPath(root)
    DeletionVectors.write(hconf, p2, (0L until 1000L).toArray)
    val len = new org.apache.hadoop.fs.Path(p2).getFileSystem(hconf)
      .getFileStatus(new org.apache.hadoop.fs.Path(p2)).getLen
    assert(len < 1200, s"1000 dense positions took $len bytes")
  }

  test("merge-on-read DELETE: vector sidecar, zero rewrites, exact reads, time travel") {
    val root = newRoot()
    val tbl = newTable()
    // two files with disjoint k ranges, stats on k
    spark.range(1000).select(col("id").as("k"), (col("id") % 7).as("x"))
      .coalesce(1).write.format("graft-snapshot").option("statsCols", "k")
      .mode("append").save(root)
    spark.range(1000, 2000).select(col("id").as("k"), (col("id") % 7).as("x"))
      .coalesce(1).write.format("graft-snapshot").option("statsCols", "k")
      .mode("append").save(root)
    val before = SnapshotTable.latest(spark, root).get
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` " +
      s"OPTIONS (path '$root', deleteMode 'merge-on-read')")
    try {
      // a MISALIGNED 3-row delete: metadata-only can't prove it, and
      // merge-on-read must NOT rewrite the file copy-on-write would
      spark.sql(s"DELETE FROM $tbl WHERE k IN (10, 500, 1500)")
      val after = SnapshotTable.latest(spark, root).get
      assert(after.version === before.version + 1)
      // every data file is an ORIGINAL file — nothing rewritten
      assert(after.files.toSet === before.files.toSet,
        s"merge-on-read delete must not rewrite files")
      // vectors attached exactly where rows died
      val dvd = after.entries.filter(_.dv.nonEmpty)
      assert(dvd.map(_.dvRows).sorted === Seq(1L, 2L))
      assert(after.rowCount === Some(1997L))
      spark.sql(s"REFRESH TABLE $tbl")
      // exact reads through the connector
      assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) === 1997)
      assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE k IN (10, 500, 1500)")
        .head.getLong(0) === 0)
      assert(spark.sql(s"SELECT sum(k) FROM $tbl").head.getLong(0)
        === (0L until 2000L).sum - 10 - 500 - 1500)
      // ...and through the library API (the same connector scan)
      assert(SnapshotTable.read(spark, root).count() === 1997)
      assert(SnapshotTable.read(spark, root).where(col("k") === 500).count() === 0)
      // pre-delete version time-travels intact
      assert(SnapshotTable.readVersion(spark, root, before.version).count() === 2000)
      assert(spark.read.format("graft-snapshot")
        .option("versionAsOf", before.version).load(root).count() === 2000)
      // a second delete UNIONS into a fresh immutable sidecar
      val oldDv = after.entries.filter(_.dv.nonEmpty).map(_.dv).toSet
      spark.sql(s"DELETE FROM $tbl WHERE k = 11")
      val v3 = SnapshotTable.latest(spark, root).get
      assert(v3.files.toSet === before.files.toSet)
      assert(v3.rowCount === Some(1996L))
      assert(v3.entries.filter(_.dv.nonEmpty).map(_.dv).toSet
        .intersect(oldDv).size === 1, "the untouched file keeps its sidecar")
      spark.sql(s"REFRESH TABLE $tbl")
      assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) === 1996)
      // the intermediate merge-on-read version itself time-travels
      assert(SnapshotTable.readVersion(spark, root, after.version).count() === 1997)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("metadata-only delete still outranks merge-on-read when provable") {
    val root = newRoot()
    val tbl = newTable()
    spark.range(1000).select(col("id").as("k")).coalesce(1)
      .write.format("graft-snapshot").option("statsCols", "k")
      .mode("append").save(root)
    spark.range(1000, 2000).select(col("id").as("k")).coalesce(1)
      .write.format("graft-snapshot").option("statsCols", "k")
      .mode("append").save(root)
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` " +
      s"OPTIONS (path '$root', deleteMode 'merge-on-read')")
    try {
      spark.sql(s"DELETE FROM $tbl WHERE k < 1000") // aligned: whole file
      val after = SnapshotTable.latest(spark, root).get
      assert(after.files.size === 1)
      assert(after.entries.forall(_.dv.isEmpty),
        "an aligned delete should drop files, not mint vectors")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("a fully-deleted file leaves the manifest instead of keeping a husk") {
    val root = newRoot()
    val tbl = newTable()
    spark.range(10).select(col("id").as("k"), lit("a").as("g")).coalesce(1)
      .write.format("graft-snapshot").mode("append").save(root)
    spark.range(10, 20).select(col("id").as("k"), lit("b").as("g")).coalesce(1)
      .write.format("graft-snapshot").mode("append").save(root)
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` " +
      s"OPTIONS (path '$root', deleteMode 'merge-on-read')")
    try {
      // no stats, no partitions: nothing provable — the delta path runs,
      // and the 'a' file's rows all die
      spark.sql(s"DELETE FROM $tbl WHERE g = 'a'")
      val after = SnapshotTable.latest(spark, root).get
      assert(after.files.size === 1)
      assert(after.entries.forall(_.dv.isEmpty))
      spark.sql(s"REFRESH TABLE $tbl")
      assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) === 10)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("compaction materializes vectors away and restores the columnar scan") {
    val root = newRoot()
    val tbl = newTable()
    spark.range(2000).select(col("id").as("k"), (col("id") * 2).as("v"))
      .coalesce(2).write.format("graft-snapshot").option("statsCols", "k")
      .mode("append").save(root)
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` " +
      s"OPTIONS (path '$root', deleteMode 'merge-on-read')")
    try {
      spark.sql(s"DELETE FROM $tbl WHERE k IN (3, 777)")
      // round 13: a DV-bearing scan STAYS COLUMNAR — the vector is
      // applied inside the vectorized reader (per-batch selection
      // remap), with plan-visible dv evidence; and the vectored rows
      // are gone from the columnar read
      val dvRead = spark.read.format("graft-snapshot").load(root)
      val scanDesc = dvRead.queryExecution.executedPlan.toString()
      assert(scanDesc.contains("mode=columnar") && scanDesc.contains("dv=") &&
        !scanDesc.contains("dv=0"),
        s"expected columnar dv evidence in:\n$scanDesc")
      assert(dvRead.count() === 1998)
      assert(dvRead.where(col("k").isin(3, 777)).count() === 0)
      SnapshotTable.compact(spark, root, targetFiles = 1, statsCols = Seq("k"))
      val after = SnapshotTable.latest(spark, root).get
      assert(after.entries.forall(_.dv.isEmpty), "compaction must clear vectors")
      assert(after.rowCount === Some(1998L))
      val desc2 = spark.read.format("graft-snapshot").load(root)
        .queryExecution.executedPlan.toString()
      assert(desc2.contains("mode=columnar"), s"columnar not restored:\n$desc2")
      spark.sql(s"REFRESH TABLE $tbl")
      assert(spark.sql(s"SELECT count(*), sum(v) FROM $tbl").head.toString
        === s"[1998,${(0L until 2000L).map(_ * 2).sum - 6 - 1554}]")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("copy-on-write rewrite of a vector-bearing file does not resurrect deleted rows") {
    val root = newRoot()
    val tbl = newTable()
    spark.range(100).select(col("id").as("k"), lit("old").as("s")).coalesce(1)
      .write.format("graft-snapshot").mode("append").save(root)
    // deleteMode MoR, updateMode stays copy-on-write (the default)
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` " +
      s"OPTIONS (path '$root', deleteMode 'merge-on-read')")
    try {
      spark.sql(s"DELETE FROM $tbl WHERE k = 42")
      assert(SnapshotTable.latest(spark, root).get.entries.exists(_.dv.nonEmpty))
      // the COW UPDATE rewrites the file: deleted row must stay dead
      spark.sql(s"UPDATE $tbl SET s = 'new' WHERE k = 7")
      val after = SnapshotTable.latest(spark, root).get
      assert(after.entries.forall(_.dv.isEmpty), "rewrite must retire the vector")
      spark.sql(s"REFRESH TABLE $tbl")
      assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) === 99)
      assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE k = 42").head.getLong(0) === 0)
      assert(spark.sql(s"SELECT s FROM $tbl WHERE k = 7").head.getString(0) === "new")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("merge-on-read UPDATE and MERGE: vectors for old rows, small files for new") {
    val root = newRoot()
    val tbl = newTable()
    spark.range(1000).select(col("id").as("k"), col("id").as("v")).coalesce(1)
      .write.format("graft-snapshot").option("statsCols", "k")
      .mode("append").save(root)
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root', " +
      "deleteMode 'merge-on-read', updateMode 'merge-on-read', mergeMode 'merge-on-read')")
    try {
      val baseFiles = SnapshotTable.latest(spark, root).get.files.toSet
      spark.sql(s"UPDATE $tbl SET v = -1 WHERE k = 13")
      val afterUpd = SnapshotTable.latest(spark, root).get
      // the original file is untouched (now vector-bearing); one small
      // file holds the updated row
      assert(baseFiles.subsetOf(afterUpd.files.toSet))
      assert(afterUpd.entries.count(_.dv.nonEmpty) === 1)
      assert(afterUpd.files.size === 2)
      assert(afterUpd.rowCount === Some(1000L))
      spark.sql(s"REFRESH TABLE $tbl")
      assert(spark.sql(s"SELECT v FROM $tbl WHERE k = 13").head.getLong(0) === -1L)
      assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) === 1000)

      // MERGE: one matched update, one matched delete, one insert
      Seq((13L, 130L, "U"), (77L, 0L, "D"), (5000L, 5L, "I"))
        .toDF("k", "nv", "op").createOrReplaceTempView("mor_updates")
      spark.sql(
        s"""MERGE INTO $tbl t USING mor_updates u ON t.k = u.k
           |WHEN MATCHED AND u.op = 'D' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET v = u.nv
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (u.k, u.nv)""".stripMargin)
      val afterMerge = SnapshotTable.latest(spark, root).get
      assert(baseFiles.subsetOf(afterMerge.files.toSet),
        "merge-on-read MERGE must not rewrite the base file")
      assert(afterMerge.rowCount === Some(1000L)) // -1 delete +1 insert
      spark.sql(s"REFRESH TABLE $tbl")
      assert(spark.sql(s"SELECT v FROM $tbl WHERE k = 13").head.getLong(0) === 130L)
      assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE k = 77").head.getLong(0) === 0)
      assert(spark.sql(s"SELECT v FROM $tbl WHERE k = 5000").head.getLong(0) === 5L)
      assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) === 1000)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("partitioned merge-on-read: vectors land per file, partition pruning intact") {
    val root = newRoot()
    val tbl = newTable()
    spark.range(300).select(col("id").as("k"), (col("id") % 3).cast("string").as("g"))
      .write.format("graft-snapshot").option("partitionBy", "g")
      .option("deleteMode", "merge-on-read")
      .mode("append").save(root)
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      // the first-write option minted the #rowlevel line: DELETE is MoR
      // without any table OPTION here
      spark.sql(s"DELETE FROM $tbl WHERE k IN (0, 3, 10)") // all in g='0' or g='1'
      val after = SnapshotTable.latest(spark, root).get
      assert(after.entries.forall(e => e.tuple.nonEmpty))
      val dvd = after.entries.filter(_.dv.nonEmpty)
      assert(dvd.nonEmpty && dvd.map(_.dvRows).sum === 3)
      spark.sql(s"REFRESH TABLE $tbl")
      assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) === 297)
      // partition-filtered manifest count subtracts vectors
      assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE g = '0'").head.getLong(0)
        === 100 - 2)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("ALTER TABLE SET TBLPROPERTIES flips an existing table to merge-on-read") {
    val wh = Files.createTempDirectory("moralter").toString
    spark.conf.set("spark.sql.catalog.gmalter", "graft.storage.dsv2.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.gmalter.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmalter.ns")
    spark.sql("CREATE TABLE gmalter.ns.t (k BIGINT)")
    try {
      spark.sql("INSERT INTO gmalter.ns.t SELECT id FROM range(100)")
      val root = s"$wh/ns/t"
      val preFiles = SnapshotTable.latest(spark, root).get.files.toSet
      // default copy-on-write: a small delete rewrites the file
      spark.sql("DELETE FROM gmalter.ns.t WHERE k = 1")
      assert(SnapshotTable.latest(spark, root).get.files.toSet
        .intersect(preFiles).isEmpty)
      // flip to merge-on-read as a metadata-only version
      spark.sql("ALTER TABLE gmalter.ns.t SET TBLPROPERTIES " +
        "('deleteMode'='merge-on-read')")
      assert(SnapshotTable.latest(spark, root).get
        .rowLevelModes === Map("delete" -> "merge-on-read"))
      val cowFiles = SnapshotTable.latest(spark, root).get.files.toSet
      spark.sql("DELETE FROM gmalter.ns.t WHERE k = 2")
      val afterMor = SnapshotTable.latest(spark, root).get
      assert(afterMor.files.toSet === cowFiles, "post-flip delete must be MoR")
      assert(afterMor.entries.exists(_.dv.nonEmpty))
      assert(spark.sql("SELECT count(*) FROM gmalter.ns.t").head.getLong(0) === 98)
      // ...and back: UNSET restores copy-on-write
      spark.sql("ALTER TABLE gmalter.ns.t UNSET TBLPROPERTIES ('deleteMode')")
      assert(SnapshotTable.latest(spark, root).get.rowLevelModes.isEmpty)
      spark.sql("DELETE FROM gmalter.ns.t WHERE k = 3")
      assert(SnapshotTable.latest(spark, root).get.files.toSet
        .intersect(cowFiles).isEmpty)
      assert(spark.sql("SELECT count(*) FROM gmalter.ns.t").head.getLong(0) === 97)
      // unknown properties refuse loudly
      intercept[Exception] {
        spark.sql("ALTER TABLE gmalter.ns.t SET TBLPROPERTIES ('foo'='bar')")
      }
    } finally spark.sql("DROP TABLE IF EXISTS gmalter.ns.t")
  }

  test("catalog TBLPROPERTIES persist merge-on-read in the manifest") {
    val wh = Files.createTempDirectory("morwh").toString
    spark.conf.set("spark.sql.catalog.gmor", "graft.storage.dsv2.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.gmor.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmor.ns")
    spark.sql("CREATE TABLE gmor.ns.t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('deleteMode'='merge-on-read')")
    try {
      spark.sql("INSERT INTO gmor.ns.t SELECT id, concat('v', id) FROM range(100)")
      val root = s"$wh/ns/t"
      assert(SnapshotTable.latest(spark, root).get
        .rowLevelModes === Map("delete" -> "merge-on-read"))
      val baseFiles = SnapshotTable.latest(spark, root).get.files.toSet
      spark.sql("DELETE FROM gmor.ns.t WHERE k = 50")
      val after = SnapshotTable.latest(spark, root).get
      assert(after.files.toSet === baseFiles, "TBLPROPERTIES mode not honored")
      assert(after.entries.exists(_.dv.nonEmpty))
      assert(spark.sql("SELECT count(*) FROM gmor.ns.t").head.getLong(0) === 99)
    } finally spark.sql("DROP TABLE IF EXISTS gmor.ns.t")
  }

  test("change feed refuses a merge-on-read delete version unless ignoreRewrites") {
    val root = newRoot()
    val tbl = newTable()
    spark.range(100).select(col("id").as("k")).coalesce(1)
      .write.format("graft-snapshot").option("deleteMode", "merge-on-read")
      .mode("append").save(root)
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      spark.sql(s"DELETE FROM $tbl WHERE k = 5")
      val e = intercept[UnsupportedOperationException] {
        SnapshotTable.changedEntries(spark, root, 1L, 2L)
      }
      assert(e.getMessage.contains("merge-on-read"))
      assert(SnapshotTable.changedEntries(spark, root, 1L, 2L,
        ignoreRewrites = true).isEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("concurrent merge-on-read commits to DIFFERENT files both land; same-file overlap serializes") {
    val root = newRoot()
    val tbl = newTable()
    spark.range(10).select(col("id").as("k")).coalesce(1)
      .write.format("graft-snapshot").option("deleteMode", "merge-on-read")
      .mode("append").save(root) // file A (rows 0-9)
    val fileA = SnapshotTable.latest(spark, root).get.files.head
    spark.range(10, 20).select(col("id").as("k")).coalesce(1)
      .write.format("graft-snapshot").mode("append").save(root) // file B (10-19)
    val stale = SnapshotTable.latest(spark, root).get // v2, both files
    val fileB = stale.files.filterNot(_ == fileA).head
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      // a racer vectors file B (k=15 lives in the second file) → v3
      spark.sql(s"DELETE FROM $tbl WHERE k = 15")
      val v3 = SnapshotTable.latest(spark, root).get
      assert(v3.version === 3L &&
        v3.entries.exists(e => e.path == fileB && e.dv.nonEmpty))
      val schema = SnapshotTable.tableSchema(spark, root, stale.version).get
      def staleWrite(target: String, pos: Long) = {
        val partial = new org.apache.hadoop.fs.Path(
          DeletionVectors.dir(root), s"partial-test/${java.util.UUID.randomUUID()}.dvp")
          .toString
        DeletionVectors.write(hconf, partial, Array(pos))
        val w = new graft.storage.dsv2.SnapshotDeltaBatchWrite(
          root, stale, schema, java.util.Optional.empty())
        w.commit(Array(graft.storage.dsv2.SnapshotDeltaCommitMessage(
          Seq.empty, Seq.empty,
          Seq((SnapshotTable.norm(target), partial, 1L)), Seq.empty)))
      }
      // a STALE (v2-based) delta commit touching file A rebases onto v3:
      // both writers' deletes land, one commit each
      staleWrite(fileA, 5L)
      val v4 = SnapshotTable.latest(spark, root).get
      assert(v4.version === 4L)
      assert(v4.entries.exists(e => e.path == fileA && e.dvRows === 1L))
      assert(v4.entries.exists(e => e.path == fileB && e.dvRows === 1L),
        "the racer's vector must survive the rebase")
      spark.sql(s"REFRESH TABLE $tbl")
      assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) === 18)
      assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE k IN (5, 15)")
        .head.getLong(0) === 0)
      // a stale commit touching the SAME file the racer re-vectored
      // must refuse (its ordinals may be stale relative to intent)
      intercept[java.util.ConcurrentModificationException] {
        staleWrite(fileB, 12L)
      }
      assert(SnapshotTable.latest(spark, root).get.version === 4L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("row-level change feed: inserts per version, deletes from vector diffs") {
    val root = newRoot()
    val tbl = newTable()
    spark.range(10).select(col("id").as("k")).coalesce(1)
      .write.format("graft-snapshot").option("deleteMode", "merge-on-read")
      .mode("append").save(root) // v1
    spark.range(10, 20).select(col("id").as("k")).coalesce(1)
      .write.format("graft-snapshot").mode("append").save(root) // v2
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      spark.sql(s"DELETE FROM $tbl WHERE k IN (3, 15)") // v3: two vectors
      spark.sql(s"DELETE FROM $tbl WHERE k = 4")        // v4: union on file A
      val feed = SnapshotTable.changeFeed(spark, root, 0L)
        .select("k", "_change_type", "_commit_version")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val expectedInserts =
        (0L until 10L).map(k => (k, "insert", 1L)).toSet ++
          (10L until 20L).map(k => (k, "insert", 2L))
      val expectedDeletes =
        Set((3L, "delete", 3L), (15L, "delete", 3L), (4L, "delete", 4L))
      assert(feed === expectedInserts ++ expectedDeletes)
      // a window past the inserts carries deletes only
      val tail = SnapshotTable.changeFeed(spark, root, 3L)
        .select("k", "_change_type", "_commit_version")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(tail === Set((4L, "delete", 4L)))
      // a copy-on-write rewrite still refuses, pointing at snapshotDiff
      SnapshotTable.compact(spark, root, targetFiles = 1)
      val e = intercept[UnsupportedOperationException] {
        SnapshotTable.changeFeed(spark, root, 0L).collect()
      }
      assert(e.getMessage.contains("snapshotDiff"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("connector change feed: batch windows and streaming micro-batches") {
    val root = newRoot()
    val tbl = newTable()
    spark.range(10).select(col("id").as("k")).coalesce(1)
      .write.format("graft-snapshot").option("deleteMode", "merge-on-read")
      .mode("append").save(root) // v1
    spark.range(10, 20).select(col("id").as("k")).coalesce(1)
      .write.format("graft-snapshot").mode("append").save(root) // v2
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      spark.sql(s"DELETE FROM $tbl WHERE k IN (3, 15)") // v3
      spark.sql(s"DELETE FROM $tbl WHERE k = 4")        // v4
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "_change_type", "_commit_version").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      // batch CDF over the full history
      val full = rows(spark.read.format("graft-snapshot")
        .option("changeFeed", true).load(root))
      val expected =
        (0L until 10L).map(k => (k, "insert", 1L)).toSet ++
          (10L until 20L).map(k => (k, "insert", 2L)) ++
          Set((3L, "delete", 3L), (15L, "delete", 3L), (4L, "delete", 4L))
      assert(full === expected)
      // a bounded window: (2, 3] carries only v3's deletes
      assert(rows(spark.read.format("graft-snapshot").option("changeFeed", true)
        .option("changesFrom", 2).option("changesTo", 3).load(root))
        === Set((3L, "delete", 3L), (15L, "delete", 3L)))
      // streaming CDF: one micro-batch per version under
      // maxVersionsPerTrigger=1, terminating with AvailableNow
      val seen = scala.collection.mutable.ArrayBuffer.empty[Set[(Long, String, Long)]]
      val q = spark.readStream.format("graft-snapshot")
        .option("changeFeed", true).option("maxVersionsPerTrigger", 1)
        .load(root)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { seen += rows(df) }; ()
        }
        .start()
      assert(q.awaitTermination(120000), "AvailableNow must terminate")
      assert(seen.map(_.size).toSeq === Seq(10, 10, 2, 1),
        s"one version per micro-batch: ${seen.map(_.size)}")
      assert(seen.reduce(_ ++ _) === expected)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("change feed types MERGE updates as update_preimage/update_postimage pairs") {
    val root = newRoot()
    val tbl = newTable()
    spark.range(10).select(col("id").as("k"), (col("id") * 10).as("v"))
      .coalesce(1).write.format("graft-snapshot").mode("append").save(root) // v1
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root', " +
      "mergeMode 'merge-on-read')")
    try {
      spark.createDataFrame(Seq((4L, -1L), (5L, -1L), (6L, -1L), (42L, -1L)))
        .toDF("k", "v").createOrReplaceTempView("mor_updates_src")
      // matched k=4,5: UPDATE; matched k=6: DELETE; k=42: INSERT
      spark.sql(
        s"""MERGE INTO $tbl t USING mor_updates_src s ON t.k = s.k
           |WHEN MATCHED AND t.k = 6 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin) // v2
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "v", "_change_type", "_commit_version").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
          .toSet
      val expected = Set(
        (4L, 40L, "update_preimage", 2L), (5L, 50L, "update_preimage", 2L),
        (4L, -1L, "update_postimage", 2L), (5L, -1L, "update_postimage", 2L),
        (6L, 60L, "delete", 2L), (42L, -1L, "insert", 2L))
      // library feed and connector CDF agree: exactly one pre+post pair
      // per updated key, plain deletes stay 'delete', plain inserts 'insert'
      assert(rows(SnapshotTable.changeFeed(spark, root, 1L)) === expected)
      assert(rows(spark.read.format("graft-snapshot").option("changeFeed", true)
        .option("changesFrom", 1).load(root)) === expected)
      // final table content is the merge result
      spark.sql(s"REFRESH TABLE $tbl")
      assert(spark.sql(s"SELECT sum(v) FROM $tbl WHERE k IN (4,5,42)")
        .head.getLong(0) === -3L)
      assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE k = 6")
        .head.getLong(0) === 0L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("change feed attributes fully-deleted files (MoR and metadata-aligned) as deletes") {
    val root = newRoot()
    val tbl = newTable()
    spark.range(10).select(col("id").as("k"), lit("a").as("g")).coalesce(1)
      .write.format("graft-snapshot").option("statsCols", "k")
      .mode("append").save(root) // v1: file A (k 0-9)
    spark.range(10, 20).select(col("id").as("k"), lit("b").as("g")).coalesce(1)
      .write.format("graft-snapshot").option("statsCols", "k")
      .mode("append").save(root) // v2: file B (k 10-19)
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` " +
      s"OPTIONS (path '$root', deleteMode 'merge-on-read')")
    try {
      spark.sql(s"DELETE FROM $tbl WHERE k = 3")    // v3: vector on file A
      spark.sql(s"DELETE FROM $tbl WHERE g = 'a'")  // v4: file A fully MoR-deleted
      assert(SnapshotTable.latest(spark, root).get.files.size === 1)
      spark.sql(s"DELETE FROM $tbl WHERE k >= 10")  // v5: file B metadata-dropped
      assert(SnapshotTable.latest(spark, root).get.files.isEmpty)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "_change_type", "_commit_version").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val expected =
        (0L until 10L).map(k => (k, "insert", 1L)).toSet ++
          (10L until 20L).map(k => (k, "insert", 2L)) ++
          Set((3L, "delete", 3L)) ++
          // v4: file A's REMAINING live rows (3 already dead) as deletes
          (0L until 10L).filterNot(_ == 3L).map(k => (k, "delete", 4L)) ++
          // v5: the metadata-aligned drop of file B, attributed too
          (10L until 20L).map(k => (k, "delete", 5L))
      assert(rows(SnapshotTable.changeFeed(spark, root, 0L)) === expected)
      assert(rows(spark.read.format("graft-snapshot").option("changeFeed", true)
        .load(root)) === expected)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("change feed refuses a restore that resurrects vectored rows") {
    val root = newRoot()
    val tbl = newTable()
    spark.range(10).select(col("id").as("k")).coalesce(1)
      .write.format("graft-snapshot").option("deleteMode", "merge-on-read")
      .mode("append").save(root) // v1
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      spark.sql(s"DELETE FROM $tbl WHERE k = 3") // v2: vector
      SnapshotTable.restore(spark, root, 1L)     // v3: vector CLEARED, row back
      assert(SnapshotTable.read(spark, root).count() === 10)
      val e = intercept[UnsupportedOperationException] {
        SnapshotTable.changeFeed(spark, root, 0L).collect()
      }
      assert(e.getMessage.contains("restore"), e.getMessage)
      // a window that does not cross the restore still works
      assert(SnapshotTable.changeFeed(spark, root, 0L, Some(2L))
        .where(col("_change_type") === "delete").count() === 1)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("ref names with tabs or newlines are refused, not silently dropped") {
    val root = newRoot()
    spark.range(5).select(col("id").as("k"))
      .write.format("graft-snapshot").mode("append").save(root)
    intercept[IllegalArgumentException] {
      SnapshotTable.tag(spark, root, "rel\t1")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.branch(spark, root, "a\nb")
    }
    intercept[IllegalArgumentException] { SnapshotTable.tag(spark, root, "") }
    assert(SnapshotTable.refs(spark, root).isEmpty)
  }

  test("CDF planning ships sidecar paths, never position arrays") {
    val root = newRoot()
    val tbl = newTable()
    spark.range(100000).select(col("id").as("k")).coalesce(1)
      .write.format("graft-snapshot").option("deleteMode", "merge-on-read")
      .mode("append").save(root) // v1
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      spark.sql(s"DELETE FROM $tbl WHERE k % 2 = 0") // v2: 50k-row vector
      val scan = new graft.storage.dsv2.SnapshotCdfScan(root,
        graft.storage.dsv2.SnapshotCdfTable.cdfSchema(
          SnapshotTable.tableSchema(spark, root, 2L).get),
        fromV = 1L, toV = Some(2L), startingVersion = None,
        maxVersionsPerTrigger = None)
      val parts = scan.planInputPartitions()
        .map(_.asInstanceOf[graft.storage.dsv2.SnapshotCdfPartition])
      assert(parts.length === 1 && parts.head.isDelete)
      // the partition payload is PATHS (driver state O(touched files)):
      // the old vector is empty (first delete), the new one is a sidecar
      // path — 50k ordinals are resolved executor-side, never planned
      assert(parts.head.oldDv.isEmpty && parts.head.newDv.endsWith(".dv"))
      val feed = spark.read.format("graft-snapshot").option("changeFeed", true)
        .option("changesFrom", 1).load(root)
      assert(feed.count() === 50000L)
      assert(feed.where(col("_change_type") === "delete").count() === 50000L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("purge_deletes rewrites ONLY vector-bearing files; clean files stay verbatim") {
    val wh = Files.createTempDirectory("morpurge").toString
    spark.conf.set("spark.sql.catalog.gmp", "graft.storage.dsv2.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.gmp.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmp.ns")
    spark.sql("CREATE TABLE gmp.ns.t (k BIGINT) " +
      "TBLPROPERTIES ('deleteMode'='merge-on-read')")
    try {
      spark.sql("INSERT INTO gmp.ns.t SELECT id FROM range(100)")       // file A
      spark.sql("INSERT INTO gmp.ns.t SELECT id FROM range(100, 200)")  // file B
      val root = s"$wh/ns/t"
      spark.sql("DELETE FROM gmp.ns.t WHERE k = 7") // vector on file A only
      val before = SnapshotTable.latest(spark, root).get
      val cleanFiles = before.entries.filter(_.dv.isEmpty).map(_.path).toSet
      assert(cleanFiles.nonEmpty && before.entries.exists(_.dv.nonEmpty))
      val got = spark.sql("CALL gmp.system.purge_deletes('ns.t')").head
      assert(got.getInt(1) === 1, "one vectored file to purge")
      val after = SnapshotTable.latest(spark, root).get
      assert(after.entries.forall(_.dv.isEmpty), "vectors must be gone")
      // the clean file is retained VERBATIM — only the vectored one rewrote
      assert(cleanFiles.subsetOf(after.files.toSet))
      assert(spark.sql("SELECT count(*) FROM gmp.ns.t").head.getLong(0) === 199)
      assert(spark.sql("SELECT count(*) FROM gmp.ns.t WHERE k = 7")
        .head.getLong(0) === 0)
      // idempotent: nothing vectored -> same version back, no junk commit
      val v = after.version
      assert(spark.sql("CALL gmp.system.purge_deletes('ns.t')")
        .head.getLong(0) === v)
      assert(SnapshotTable.latest(spark, root).get.version === v)
    } finally spark.sql("DROP TABLE IF EXISTS gmp.ns.t")
  }

  test("vacuum retires unreferenced vector sidecars with the grace window") {
    val root = newRoot()
    val tbl = newTable()
    spark.range(100).select(col("id").as("k")).coalesce(1)
      .write.format("graft-snapshot").option("deleteMode", "merge-on-read")
      .mode("append").save(root)
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      spark.sql(s"DELETE FROM $tbl WHERE k = 5")
      val dv = SnapshotTable.latest(spark, root).get.entries
        .find(_.dv.nonEmpty).get.dv
      SnapshotTable.compact(spark, root, targetFiles = 1)
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(hconf)
      assert(fs.exists(new org.apache.hadoop.fs.Path(dv)))
      // keep only the compacted version; zero grace retires the sidecar
      SnapshotTable.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(dv)),
        "unreferenced sidecar must retire with its versions")
      // the referenced state is intact
      assert(SnapshotTable.read(spark, root).count() === 99)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }
}
