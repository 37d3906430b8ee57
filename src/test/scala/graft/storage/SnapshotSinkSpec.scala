package graft.storage

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec

class SnapshotSinkSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("snapsink").toString + "/t"

  test("replayed micro-batch commits exactly once (batch-id ledger)") {
    val root = newRoot()
    val b0 = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "s", "v")
    // batch 0 creates the table
    assert(SnapshotSink.commitBatch(spark, root, 0L, b0, Seq("k"), "v") === 1L)
    assert(SnapshotSink.lastCommittedBatch(spark, root) === 0L)
    // REPLAY of batch 0 (the post-failure redelivery Spark guarantees):
    // no new version, same content
    assert(SnapshotSink.commitBatch(spark, root, 0L, b0, Seq("k"), "v") === 1L)
    assert(SnapshotTable.versions(spark, root) === Seq(1L))
    // batch 1 merges; its replay is again a no-op
    val b1 = Seq((2L, "B", 2L), (3L, "c", 2L)).toDF("k", "s", "v")
    assert(SnapshotSink.commitBatch(spark, root, 1L, b1, Seq("k"), "v") === 2L)
    assert(SnapshotSink.commitBatch(spark, root, 1L, b1, Seq("k"), "v") === 2L)
    assert(SnapshotTable.versions(spark, root) === Seq(1L, 2L))
    val got = SnapshotTable.read(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "B"), (3L, "c")))
    // a LATE batch below the high-water mark (a re-run from an old
    // checkpoint) is also refused
    assert(SnapshotSink.commitBatch(spark, root, 0L, b0, Seq("k"), "v") === 2L)
    assert(SnapshotTable.versions(spark, root) === Seq(1L, 2L))
  }

  test("append-only sink: replay is a no-op, commits never rewrite old files") {
    val root = newRoot()
    val b0 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x")
    assert(SnapshotSink.commitBatchAppend(spark, root, 0L, b0) === 1L)
    val v1Files = SnapshotTable.latest(spark, root).get.files.toSet
    val b1 = Seq((3L, 30.0)).toDF("k", "x")
    assert(SnapshotSink.commitBatchAppend(spark, root, 1L, b1) === 2L)
    // replay of batch 1: no new version
    assert(SnapshotSink.commitBatchAppend(spark, root, 1L, b1) === 2L)
    assert(SnapshotTable.versions(spark, root) === Seq(1L, 2L))
    // append semantics: all rows present, v1 files untouched
    assert(SnapshotTable.read(spark, root).count() === 3)
    assert(v1Files.subsetOf(SnapshotTable.latest(spark, root).get.files.toSet))
  }

  test("ledger rides the manifest: HWM survives maintenance commits AND vacuum") {
    val root = newRoot()
    SnapshotSink.commitBatchAppend(spark, root, 0L,
      Seq((1L, 1.0)).toDF("k", "x"))
    SnapshotSink.commitBatchAppend(spark, root, 1L,
      Seq((2L, 2.0)).toDF("k", "x"))
    assert(SnapshotSink.lastCommittedBatch(spark, root) === 1L)
    // maintenance commits that write no txn of their own CARRY the HWM
    SnapshotTable.compact(spark, root, targetFiles = 1)
    SnapshotTable.append(spark, root, Seq((3L, 3.0)).toDF("k", "x"))
    assert(SnapshotSink.lastCommittedBatch(spark, root) === 1L)
    // vacuum away every version that committed a batch directly: the
    // retained compact/append versions still carry the ledger entry, so
    // a replayed old batch stays a no-op (no duplicate rows)
    SnapshotTable.vacuum(spark, root, keepVersions = 2, graceMs = 0)
    assert(SnapshotTable.versions(spark, root) === Seq(3L, 4L))
    assert(SnapshotSink.lastCommittedBatch(spark, root) === 1L)
    val before = SnapshotTable.read(spark, root).count()
    SnapshotSink.commitBatchAppend(spark, root, 1L, Seq((2L, 2.0)).toDF("k", "x"))
    assert(SnapshotTable.read(spark, root).count() === before)
    // and the ledger entry is atomic with its commit: the manifest of
    // the version batch 1 created carried `#txn 1` in the SAME rename
    assert(SnapshotTable.latest(spark, root).get.txn === Some(1L))
  }

  test("per-app ledger: two streams share one table without eating each other's batches") {
    val root = newRoot()
    // stream A (appId "a") commits batches 0 and 1
    assert(SnapshotSink.commitBatchAppend(spark, root, 0L,
      Seq((1L, 1.0)).toDF("k", "x"), appId = "a") === 1L)
    assert(SnapshotSink.commitBatchAppend(spark, root, 1L,
      Seq((2L, 2.0)).toDF("k", "x"), appId = "a") === 2L)
    // stream B's batchIds RESTART at 0 (fresh query, fresh checkpoint) —
    // with a global ledger these would silently no-op; per-app they commit
    assert(SnapshotSink.commitBatchAppend(spark, root, 0L,
      Seq((3L, 3.0)).toDF("k", "x"), appId = "b") === 3L)
    assert(SnapshotSink.commitBatchAppend(spark, root, 1L,
      Seq((4L, 4.0)).toDF("k", "x"), appId = "b") === 4L)
    assert(SnapshotTable.read(spark, root).count() === 4)
    // replays stay no-ops PER APP
    assert(SnapshotSink.commitBatchAppend(spark, root, 1L,
      Seq((2L, 2.0)).toDF("k", "x"), appId = "a") === 4L)
    assert(SnapshotSink.commitBatchAppend(spark, root, 1L,
      Seq((4L, 4.0)).toDF("k", "x"), appId = "b") === 4L)
    assert(SnapshotTable.versions(spark, root) === Seq(1L, 2L, 3L, 4L))
    // both high-water marks ride the latest manifest
    assert(SnapshotSink.lastCommittedBatch(spark, root, "a") === 1L)
    assert(SnapshotSink.lastCommittedBatch(spark, root, "b") === 1L)
    assert(SnapshotSink.lastCommittedBatch(spark, root) === -1L)
  }

  test("commit-time txn gate: a replayed batch id is refused atomically with the commit") {
    val root = newRoot()
    SnapshotTable.create(spark, root, Seq((1L, 1.0)).toDF("k", "x"),
      txn = Some(5L))
    // a direct append claiming batch 5 again (the zombie-writer shape,
    // bypassing the sink's pre-check) hits the gate against the base
    // snapshot's ledger — atomic with the version CAS
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.append(spark, root, Seq((2L, 2.0)).toDF("k", "x"),
        txn = Some(5L))
    }
    assert(SnapshotTable.versions(spark, root) === Seq(1L))
    // batch 6 passes
    SnapshotTable.append(spark, root, Seq((2L, 2.0)).toDF("k", "x"),
      txn = Some(6L))
    assert(SnapshotSink.lastCommittedBatch(spark, root) === 6L)
  }

  test("schema-mismatch append through the sink fails fast, not after maxAttempts") {
    val root = newRoot()
    SnapshotSink.commitBatchAppend(spark, root, 0L,
      Seq((1L, 1.0)).toDF("k", "x"))
    val t0 = System.nanoTime()
    val e = intercept[IllegalArgumentException] {
      SnapshotSink.commitBatchAppend(spark, root, 1L,
        Seq((2L, "oops")).toDF("k", "wrong"))
    }
    assert(e.getMessage.contains("append schema"))
    // fail-fast: one attempt, not five staged-and-refused appends
    assert((System.nanoTime() - t0) / 1e9 < 30.0)
    assert(SnapshotTable.versions(spark, root) === Seq(1L))
  }

  test("merge with a deleteCol name colliding with a table column is refused") {
    val root = newRoot()
    SnapshotTable.create(spark, root,
      Seq((1L, "a", true, 1L)).toDF("k", "s", "del", "v"))
    intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, root,
        Seq((1L, "x", true, 2L)).toDF("k", "s", "del", "v"),
        Seq("k"), "v", deleteCol = Some("del"))
    }
  }

  test("NATIVE streaming sink to a PARTITIONED table fans out tuple-pure files") {
    implicit val sq = spark.sqlContext
    val root = newRoot()
    val ckpt = Files.createTempDirectory("snapsink_pckpt").toString
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "g")
      .writeStream
      .format("graft-snapshot")
      .option("checkpointLocation", ckpt)
      .option("partitionBy", "g") // first epoch CREATES the partitioned table
      .start(root)
    try {
      in.addData((1L, "a"), (2L, "b"), (3L, "a"))
      q.processAllAvailable()
      val snap = SnapshotTable.latest(spark, root).get
      assert(snap.partitionSpecs === Seq("g"))
      snap.entries.foreach(e => assert(e.tuple.nonEmpty, s"tuple-less ${e.path}"))
      assert(snap.entries.map(e =>
        SnapshotPartition.decodeTuple(e.tuple)("g")).toSet ===
        Set(Some("a"), Some("b")))
      in.addData((4L, "c"))
      q.processAllAvailable()
      // the streamed partitioned table prunes like any other
      val df = spark.read.format("graft-snapshot").load(root)
        .where(org.apache.spark.sql.functions.col("g") === "a")
      assert(df.count() === 2)
      val scan = {
        df.collect()
        (df.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
        } ++ df.queryExecution.executedPlan.collect {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan.collect {
              case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan }
        }.flatten).collectFirst { case s: graft.storage.dsv2.SnapshotScan => s }.get
      }
      assert(scan.plannedFiles.size < scan.totalFileCount,
        s"partition pruning inactive: ${scan.plannedFiles.size}/${scan.totalFileCount}")
    } finally q.stop()
  }

  test("NATIVE streaming sink: writeStream.format(graft-snapshot) is exactly-once") {
    implicit val sq = spark.sqlContext
    val root = newRoot()
    val ckpt = Files.createTempDirectory("snapsink_ckpt").toString
    val in = MemoryStream[(Long, Double)]
    val q = in.toDF().toDF("k", "x")
      .writeStream
      .format("graft-snapshot")
      .option("checkpointLocation", ckpt)
      .option("statsCols", "k")
      .start(root)
    try {
      in.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      assert(SnapshotTable.read(spark, root).count() === 2)
      in.addData((3L, 3.0))
      q.processAllAvailable()
      assert(SnapshotTable.read(spark, root).count() === 3)
      // epoch ids ride the per-app ledger, keyed by the QUERY id
      val txns = SnapshotTable.latest(spark, root).get.txns
      assert(txns.keys.exists(_.startsWith("stream-")), s"ledger keys: $txns")
    } finally q.stop()
    // RESTART from the same checkpoint: the query id (ledger key) is
    // stable, so already-committed epochs replay as no-ops
    val vsBefore = SnapshotTable.versions(spark, root)
    val q2 = in.toDF().toDF("k", "x")
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation", ckpt).start(root)
    try {
      in.addData((4L, 4.0))
      q2.processAllAvailable()
      assert(SnapshotTable.read(spark, root).count() === 4)
      assert(SnapshotTable.versions(spark, root).size === vsBefore.size + 1)
    } finally q2.stop()
    // stats sidecars flowed through the streaming writes
    val latest = SnapshotTable.latest(spark, root).get
    assert(SnapshotTable.stats(spark, root, latest.version).nonEmpty)
  }

  test("STREAMING UPSERT via equality deletes: O(batch) epochs, last-write-wins, exactly-once") {
    implicit val sq = spark.sqlContext
    val root = newRoot()
    val ckpt = Files.createTempDirectory("snapupsert_ckpt").toString
    val in = MemoryStream[(Long, String)]
    def start() = in.toDF().toDF("k", "v")
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation", ckpt)
      .option("upsertKeys", "k")
      .start(root)
    def state(): Map[Long, String] =
      spark.read.format("graft-snapshot").load(root)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val q = start()
    try {
      in.addData((1L, "a1"), (2L, "b1"), (3L, "c1"))
      q.processAllAvailable()
      assert(state() === Map(1L -> "a1", 2L -> "b1", 3L -> "c1"))
      val filesAfterE0 = SnapshotTable.latest(spark, root).get.files.toSet
      // epoch 1 re-keys 1 and 3: OLD rows retire by KEY, no rewrite
      in.addData((1L, "a2"), (3L, "c2"), (4L, "d1"))
      q.processAllAvailable()
      assert(state() === Map(1L -> "a2", 2L -> "b1", 3L -> "c2", 4L -> "d1"))
      val snap = SnapshotTable.latest(spark, root).get
      assert(filesAfterE0.subsetOf(snap.files.toSet),
        "an upsert epoch must append, never rewrite")
      assert(snap.eqDeletes.nonEmpty, "the epoch's equality deletes must be in force")
      // plan-visible evidence + exact (scan-computed) count
      val df = spark.read.format("graft-snapshot").load(root)
      val desc = df.queryExecution.executedPlan.toString
      assert(desc.contains("eq=") && !desc.contains("eq=0"),
        s"expected eq evidence in:\n$desc")
      assert(df.count() === 4)
      assert(spark.read.format("graft-snapshot").load(root)
        .agg(count(lit(1))).head.getLong(0) === 4,
        "count(*) must not trust manifest counts under equality deletes")
      // library read agrees
      assert(SnapshotTable.read(spark, root).count() === 4)
    } finally q.stop()

    // RESTART from the checkpoint: committed epochs replay as no-ops,
    // new epochs keep upserting (exactly-once across restart)
    val vsBefore = SnapshotTable.versions(spark, root).size
    val q2 = start()
    try {
      in.addData((2L, "b2"), (5L, "e1"))
      q2.processAllAvailable()
      assert(state() === Map(1L -> "a2", 2L -> "b2", 3L -> "c2",
        4L -> "d1", 5L -> "e1"))
      assert(SnapshotTable.versions(spark, root).size === vsBefore + 1)
    } finally q2.stop()

    // the row-level CHANGE FEED represents upsert epochs: each epoch's
    // rows arrive as inserts, and the key-matched victims of its
    // equality deletes as 'delete' rows (live-before-the-epoch only —
    // a row already retired by an earlier epoch is not re-deleted)
    def feedRows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSet
    val expectedFeed = Set(
      (1L, "a1", "insert", 1L), (2L, "b1", "insert", 1L), (3L, "c1", "insert", 1L),
      (1L, "a2", "insert", 2L), (3L, "c2", "insert", 2L), (4L, "d1", "insert", 2L),
      (1L, "a1", "delete", 2L), (3L, "c1", "delete", 2L),
      (2L, "b2", "insert", 3L), (5L, "e1", "insert", 3L),
      (2L, "b1", "delete", 3L))
    assert(feedRows(SnapshotTable.changeFeed(spark, root, 0L)) === expectedFeed)
    assert(feedRows(spark.read.format("graft-snapshot")
      .option("changeFeed", true).load(root)) === expectedFeed)
    // ...and a window starting mid-stream carries only later epochs
    assert(feedRows(SnapshotTable.changeFeed(spark, root, 2L)) === Set(
      (2L, "b2", "insert", 3L), (5L, "e1", "insert", 3L),
      (2L, "b1", "delete", 3L)))

    // a row-level MoR DELETE on the upserted table must not resurrect
    // retired rows (the rewrite scan applies equality deletes too)
    val tbl = "upsert_eq_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(10)
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` " +
      s"OPTIONS (path '$root', deleteMode 'merge-on-read')")
    try {
      spark.sql(s"DELETE FROM $tbl WHERE k = 4")
      spark.sql(s"REFRESH TABLE $tbl")
      assert(state() === Map(1L -> "a2", 2L -> "b2", 3L -> "c2", 5L -> "e1"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")

    // COMPACTION materializes equality deletes away: the lines retire
    // from the manifest, content is unchanged, manifest counts are
    // exact again
    SnapshotTable.compact(spark, root, targetFiles = 1)
    val compacted = SnapshotTable.latest(spark, root).get
    assert(compacted.eqDeletes.isEmpty,
      "compaction must retire in-force equality deletes")
    assert(compacted.rowCount === Some(4L))
    assert(state() === Map(1L -> "a2", 2L -> "b2", 3L -> "c2", 5L -> "e1"))
    // ...and vacuum can now retire the unreferenced sidecars by age
    SnapshotTable.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    assert(state() === Map(1L -> "a2", 2L -> "b2", 3L -> "c2", 5L -> "e1"))
  }

  test("STREAMING UPSERT with hostile STRING keys: escape-sensitive renderers agree") {
    implicit val sq = spark.sqlContext
    val root = newRoot()
    val ckpt = Files.createTempDirectory("snapupsertstr_ckpt").toString
    // keys exercising every escaped character, the null token
    // lookalike, and a DATE second key (epoch-day rendering)
    val k1 = "tab\there"; val k2 = "pct%09literal"; val k3 = "nl\nhere"
    val k4 = "∅"; val k5 = ""
    val d = java.sql.Date.valueOf("2024-03-05")
    val in = MemoryStream[(String, java.sql.Date, Long)]
    val q = in.toDF().toDF("k", "day", "v")
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation", ckpt)
      .option("upsertKeys", "k,day")
      .start(root)
    try {
      in.addData((k1, d, 1L), (k2, d, 2L), (k3, d, 3L), (k4, d, 4L), (k5, d, 5L))
      q.processAllAvailable()
      in.addData((k1, d, 10L), (k3, d, 30L))
      q.processAllAvailable()
      val expect = Map(k1 -> 10L, k2 -> 2L, k3 -> 30L, k4 -> 4L, k5 -> 5L)
      // connector read = internal-value renderer
      val viaConnector = spark.read.format("graft-snapshot").load(root)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(viaConnector === expect)
      // library read = the same connector scan — must agree exactly
      val viaLibrary = SnapshotTable.read(spark, root)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(viaLibrary === expect)
    } finally q.stop()
  }

  test("STREAMING UPSERT into a PARTITIONED table: tuple-pure files, partition pruning intact") {
    implicit val sq = spark.sqlContext
    val root = newRoot()
    val ckpt = Files.createTempDirectory("snapupsertpart_ckpt").toString
    val in = MemoryStream[(Long, String, Double)]
    val q = in.toDF().toDF("k", "g", "x")
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation", ckpt)
      .option("partitionBy", "g")
      .option("upsertKeys", "k")
      .start(root)
    try {
      in.addData((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
      q.processAllAvailable()
      // re-key 1 (stays in a) and 3 (MOVES to partition b) + new 4
      in.addData((1L, "a", 10.0), (3L, "b", 30.0), (4L, "b", 4.0))
      q.processAllAvailable()
      val state = spark.read.format("graft-snapshot").load(root)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
        .toMap
      assert(state === Map(1L -> ("a", 10.0), 2L -> ("b", 2.0),
        3L -> ("b", 30.0), 4L -> ("b", 4.0)))
      // files stay tuple-pure across upsert epochs
      val snap = SnapshotTable.latest(spark, root).get
      assert(snap.entries.forall(_.tuple.startsWith("g=")))
      // a partition predicate still prunes (eq filtering is per-file,
      // not a pruning blocker) and the answer honors the key moves
      val aOnly = spark.read.format("graft-snapshot").load(root)
        .where(col("g") === "a")
      assert(aOnly.collect().map(_.getLong(0)).toSet === Set(1L))
    } finally q.stop()
  }

  test("snapshot-to-snapshot streaming: source table → native sink table") {
    val src = newRoot()
    val dst = newRoot()
    val ckpt = Files.createTempDirectory("snap2snap_ckpt").toString
    spark.range(20).select(col("id").as("k"))
      .write.format("graft-snapshot").mode("append").save(src)
    val q = spark.readStream.format("graft-snapshot").load(src)
      .withColumn("k2", col("k") * 2)
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation", ckpt)
      .start(dst)
    try {
      q.processAllAvailable()
      assert(SnapshotTable.read(spark, dst).count() === 20)
      // a new commit on the source flows through exactly once
      spark.range(20, 30).select(col("id").as("k"))
        .write.format("graft-snapshot").mode("append").save(src)
      q.processAllAvailable()
      val got = SnapshotTable.read(spark, dst)
      assert(got.count() === 30)
      assert(got.agg(sum("k2")).collect().head.getLong(0) ===
        (0L until 30L).map(_ * 2).sum)
    } finally q.stop()
  }

  test("end-to-end: readStream → foreachBatch → ACID snapshot table") {
    implicit val sq = spark.sqlContext
    val root = newRoot()
    val in = MemoryStream[(Long, String, Long)]
    val q = in.toDF().toDF("k", "s", "v")
      .writeStream
      .outputMode("update")
      .foreachBatch(SnapshotSink.foreachBatchMerge(root, Seq("k"), "v"))
      .start()
    try {
      in.addData((1L, "a", 1L), (2L, "b", 1L))
      q.processAllAvailable()
      in.addData((2L, "B", 2L), (3L, "c", 2L))
      q.processAllAvailable()
    } finally q.stop()
    val got = SnapshotTable.read(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "B"), (3L, "c")))
    assert(SnapshotTable.versions(spark, root) === Seq(1L, 2L))
    assert(SnapshotSink.lastCommittedBatch(spark, root) === 1L)
    // time travel into the stream's history still works
    assert(SnapshotTable.readVersion(spark, root, 1L).count() === 2)
  }
}
