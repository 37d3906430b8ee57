package graft.storage

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-14 CDF/equality-delete hardening:
  *  - SINGLE-PASS epoch resolution: a change-feed window spanning E
  *    upsert epochs reads each applicable file ONCE (one descriptor /
  *    one connector partition per file, not per (file, epoch)), with
  *    victims attributed to their EARLIEST matching epoch.
  *  - key-set change epochs refuse BEFORE committing (the table head
  *    must never become unreadable).
  *  - full-file removals of eq-bearing files do not double-emit the
  *    already-retired rows.
  *  - deletion vectors and stats still find their files on roots
  *    whose paths Spark percent-encodes (roots containing spaces). */
final class SnapshotCdfEpochSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot(): String =
    Files.createTempDirectory("cdfepoch").toString + "/t"

  private def feedRows(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "v", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet

  test("single-pass CDF: one read per file over a 3-epoch upsert window, earliest-epoch attribution") {
    implicit val sq = spark.sqlContext
    val root = newRoot()
    val ckpt = Files.createTempDirectory("cdfepoch_ckpt").toString
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "v")
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation", ckpt)
      .option("upsertKeys", "k")
      .start(root)
    try {
      in.addData((1L, "a1"), (2L, "b1"), (3L, "c1")); q.processAllAvailable() // v1
      in.addData((1L, "a2"), (4L, "d1")); q.processAllAvailable()             // v2
      in.addData((2L, "b2"), (1L, "a3")); q.processAllAvailable()             // v3
      in.addData((5L, "e1"), (3L, "c2")); q.processAllAvailable()             // v4
    } finally q.stop()
    val expected = Set(
      (1L, "a1", "insert", 1L), (2L, "b1", "insert", 1L), (3L, "c1", "insert", 1L),
      (1L, "a2", "insert", 2L), (4L, "d1", "insert", 2L),
      (2L, "b2", "insert", 3L), (1L, "a3", "insert", 3L),
      (5L, "e1", "insert", 4L), (3L, "c2", "insert", 4L),
      // victims at their EARLIEST matching epoch, live-then only:
      (1L, "a1", "delete", 2L), // v1's key 1 dies at the FIRST re-upsert
      (1L, "a2", "delete", 3L), // v2's key 1 dies at v3, not before/after
      (2L, "b1", "delete", 3L),
      (3L, "c1", "delete", 4L))
    assert(feedRows(SnapshotTable.changeFeed(spark, root, 0L)) === expected)
    val cdf = spark.read.format("graft-snapshot")
      .option("changeFeed", true).load(root)
    assert(feedRows(cdf) === expected)

    // reads-per-file probe: the window's equality exposure is ONE
    // descriptor per touched file (v1's file accrues THREE epochs),
    // and the connector plans inserts + one eq partition per file —
    // never one per (file, epoch)
    val to = SnapshotTable.latest(spark, root).get.version
    val (inserts, deletes, eqFiles) = SnapshotTable.changeSets(spark, root, 0L, to)
    assert(deletes.isEmpty)
    assert(eqFiles.map(f => SnapshotTable.norm(f.file)).distinct.size ===
      eqFiles.size, "one eq descriptor per file")
    assert(eqFiles.exists(_.epochs.size >= 3),
      s"v1's files must accrue all three later epochs: " +
        eqFiles.map(f => f.file -> f.epochs.map(_.version)).mkString(", "))
    assert(cdf.rdd.getNumPartitions === inserts.size + eqFiles.size,
      "connector CDF partitions = inserts + ONE per eq-touched file")

    // a mid-stream window attributes against ITS OWN baseline
    assert(feedRows(SnapshotTable.changeFeed(spark, root, 2L)) === Set(
      (2L, "b2", "insert", 3L), (1L, "a3", "insert", 3L),
      (5L, "e1", "insert", 4L), (3L, "c2", "insert", 4L),
      (1L, "a2", "delete", 3L), (2L, "b1", "delete", 3L),
      (3L, "c1", "delete", 4L)))
  }

  test("an upsert epoch with a CHANGED key set refuses before committing; compact unblocks") {
    implicit val sq = spark.sqlContext
    val root = newRoot()
    val ckpt1 = Files.createTempDirectory("cdfkeys_ckpt1").toString
    val in1 = MemoryStream[(Long, String)]
    val q1 = in1.toDF().toDF("k", "v")
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation", ckpt1)
      .option("upsertKeys", "k")
      .start(root)
    try {
      in1.addData((1L, "a1"), (2L, "b1")); q1.processAllAvailable()
      in1.addData((1L, "a2")); q1.processAllAvailable()
    } finally q1.stop()
    assert(SnapshotTable.latest(spark, root).get.eqDeletes.nonEmpty)

    // a NEW stream upserting on (k, v) must fail its first epoch with
    // compact-first guidance — BEFORE committing anything
    val versionsBefore = SnapshotTable.versions(spark, root)
    val ckpt2 = Files.createTempDirectory("cdfkeys_ckpt2").toString
    val in2 = MemoryStream[(Long, String)]
    val q2 = in2.toDF().toDF("k", "v")
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation", ckpt2)
      .option("upsertKeys", "k,v")
      .start(root)
    val err = intercept[Exception] {
      try { in2.addData((9L, "z1")); q2.processAllAvailable() }
      finally q2.stop()
    }
    assert(err.getMessage.contains("compact the table") ||
      Option(err.getCause).exists(_.getMessage.contains("compact the table")),
      s"expected compact-first guidance, got: ${err.getMessage}")
    assert(SnapshotTable.versions(spark, root) === versionsBefore,
      "the refused epoch must not commit")
    // the head stays readable (the very failure mode this gate prevents)
    assert(SnapshotTable.read(spark, root).count() === 2)

    // compact materializes the old deletes away; the new key set flows
    SnapshotTable.compact(spark, root, targetFiles = 1)
    val ckpt3 = Files.createTempDirectory("cdfkeys_ckpt3").toString
    val in3 = MemoryStream[(Long, String)]
    val q3 = in3.toDF().toDF("k", "v")
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation", ckpt3)
      .option("upsertKeys", "k,v")
      .start(root)
    try { in3.addData((1L, "a2")); q3.processAllAvailable() } finally q3.stop()
    // (1, a2) collides with the existing row under the NEW key set —
    // last-write-wins leaves exactly two rows
    assert(SnapshotTable.read(spark, root).count() === 2)
  }

  test("full-file removal of an eq-bearing file does not double-emit retired rows") {
    implicit val sq = spark.sqlContext
    val root = newRoot()
    val ckpt = Files.createTempDirectory("cdffull_ckpt").toString
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "v")
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation", ckpt)
      .option("upsertKeys", "k")
      .start(root)
    try {
      in.addData((1L, "a1"), (2L, "b1")); q.processAllAvailable() // v1
      in.addData((1L, "a2")); q.processAllAvailable()             // v2
    } finally q.stop()
    // drop EVERYTHING as a metadata delete: v1's file still carries an
    // in-force equality delete for key 1
    val snap = SnapshotTable.latest(spark, root).get
    graft.storage.dsv2.SnapshotMetadataDelete.commit(spark, root, snap, Seq.empty) // v3
    val expected = Set(
      (1L, "a1", "insert", 1L), (2L, "b1", "insert", 1L),
      (1L, "a2", "insert", 2L),
      (1L, "a1", "delete", 2L),           // retired by the upsert epoch
      (2L, "b1", "delete", 3L), (1L, "a2", "delete", 3L)) // the removal
      // and NOT (1, a1, delete, 3) again
    assert(feedRows(SnapshotTable.changeFeed(spark, root, 0L)) === expected)
    assert(feedRows(spark.read.format("graft-snapshot")
      .option("changeFeed", true).load(root)) === expected)
  }

  test("roots with URI-reserved characters: DV and eq join keys still match file_path") {
    val base = Files.createTempDirectory("cdfenc").toString
    val root = s"$base/sp ace/t"
    SnapshotTable.create(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1))
    // merge-on-read DELETE: a deletion vector keyed by the file's path
    val tbl = "enc_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(10)
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` " +
      s"OPTIONS (path '$root', deleteMode 'merge-on-read')")
    try {
      spark.sql(s"DELETE FROM $tbl WHERE k = 2")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val snap = SnapshotTable.latest(spark, root).get
    assert(snap.entries.exists(_.dv.nonEmpty), "expected a deletion vector")
    // the library read (the connector scan) must find the vector on this
    // root — a path-form mismatch would silently resurrect the row
    assert(SnapshotTable.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet === Set(1L, 3L))
    // ...and the change feed attributes the delete
    val feed = SnapshotTable.changeFeed(spark, root, 1L)
      .select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed === Set((2L, "delete")))
  }

  test("roots with URI-reserved characters: stats lines key in the decoded norm domain") {
    val base = Files.createTempDirectory("cdfencstats").toString
    val root = s"$base/sp ace/t"
    // the connector write collects stats keyed by input_file_name(),
    // which Spark reports percent-ENCODED — the line must still land on
    // the decoded norm(path) every consumer (pruning, NDV, metadata
    // delete, eq range skip) looks up
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("graft-snapshot").option("statsCols", "k")
      .mode("append").save(root)
    val snap = SnapshotTable.latest(spark, root).get
    val st = SnapshotTable.stats(spark, root, snap.version)
    val normPaths = snap.entries.map(e => SnapshotTable.norm(e.path)).toSet
    assert(st.nonEmpty, "expected a stats sidecar")
    assert(st.keySet.map(_._1) === normPaths,
      s"stats keys ${st.keySet.map(_._1)} must match norm paths $normPaths")
    assert(st((normPaths.head, "k")) === ((1.0, 2.0)))
    // ...and the keep-rule actually prunes on this root
    assert(SnapshotTable.keepByStats(snap.files, st,
      Map("k" -> (5.0, 9.0))).isEmpty)
  }

  test("change feed spans epochs on DIFFERENT key sets once the first set fully retired") {
    implicit val sq = spark.sqlContext
    val root = newRoot()
    // phase A: upserts keyed on k
    val inA = MemoryStream[(Long, String)]
    val qA = inA.toDF().toDF("k", "v")
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation",
        Files.createTempDirectory("cdfks_ckpt").toString)
      .option("upsertKeys", "k")
      .start(root)
    try {
      inA.addData((1L, "a1"), (2L, "b1")); qA.processAllAvailable() // v1
      inA.addData((1L, "a2")); qA.processAllAvailable()             // v2
    } finally qA.stop()
    // full metadata removal retires set A's sidecars with its files (v3)
    val snap = SnapshotTable.latest(spark, root).get
    graft.storage.dsv2.SnapshotMetadataDelete.commit(spark, root, snap, Seq.empty)
    assert(SnapshotTable.latest(spark, root).get.eqDeletes.isEmpty)
    // phase B: upserts keyed on v — legal now (nothing of set A in force)
    val inB = MemoryStream[(Long, String)]
    val qB = inB.toDF().toDF("k", "v")
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation",
        Files.createTempDirectory("cdfks_ckpt").toString)
      .option("upsertKeys", "v")
      .start(root)
    try {
      inB.addData((10L, "x"), (11L, "y")); qB.processAllAvailable() // v4
      inB.addData((12L, "x")); qB.processAllAvailable()             // v5
    } finally qB.stop()
    // ONE window over both key sets: per-file exposure is single-set
    // (the sink gate guarantees it), so the feed groups files by key
    // set and runs the single-pass plan per group — it must NOT refuse
    val expected = Set(
      (1L, "a1", "insert", 1L), (2L, "b1", "insert", 1L),
      (1L, "a2", "insert", 2L),
      (1L, "a1", "delete", 2L),                            // set A epoch
      (2L, "b1", "delete", 3L), (1L, "a2", "delete", 3L),  // full removal
      (10L, "x", "insert", 4L), (11L, "y", "insert", 4L),
      (12L, "x", "insert", 5L),
      (10L, "x", "delete", 5L))                            // set B epoch
    assert(feedRows(SnapshotTable.changeFeed(spark, root, 0L)) === expected)
    assert(feedRows(spark.read.format("graft-snapshot")
      .option("changeFeed", true).load(root)) === expected)
  }
}
