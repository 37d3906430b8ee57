package graft.storage

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** WRITE BRANCHES: staged divergent commits on a virtual root
  * (`<root>/_branches/<name>`), invisible to main until an atomic
  * publish fast-forwards main's `_snapshots` over them. */
final class SnapshotBranchSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("snapbranch").toString + "/t"

  test("two staged commits on a branch; main unchanged; one publish; vacuum safe") {
    val root = newRoot()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format("graft-snapshot").mode("append").save(root)
    val base = SnapshotTable.createWriteBranch(spark, root, "audit")
    assert(base === 1L)
    // staged commits accumulate ON the branch (ordinary DSv2 writes)
    Seq((3L, "c")).toDF("k", "v")
      .write.format("graft-snapshot").option("branch", "audit")
      .mode("append").save(root)
    Seq((4L, "d")).toDF("k", "v")
      .write.format("graft-snapshot").option("branch", "audit")
      .mode("append").save(root)
    // main: untouched (version AND content)
    assert(SnapshotTable.versions(spark, root) === Seq(1L))
    assert(spark.read.format("graft-snapshot").load(root).count() === 2)
    // branch readers see the staged state
    assert(spark.read.format("graft-snapshot").option("branch", "audit")
      .load(root).count() === 4)
    // branch time travel works like any table
    assert(spark.read.format("graft-snapshot").option("branch", "audit")
      .option("versionAsOf", 2).load(root).count() === 3)
    // refs pin the fork version (vacuum safety) and SHOW REFS lists it
    val refs = spark.read.format("graft-snapshot").option("refs", true)
      .load(root).collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(refs.get("audit") === Some("wbranch"))
    // one atomic publish: main fast-forwards over the staged versions
    val head = SnapshotTable.publishBranch(spark, root, "audit")
    assert(head === 3L)
    assert(SnapshotTable.versions(spark, root) === Seq(1L, 2L, 3L))
    assert(spark.read.format("graft-snapshot").load(root)
      .orderBy("k").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    // the branch is gone (metadata); its refs entry retired
    assert(!SnapshotTable.writeBranchExists(spark, root, "audit"))
    assert(SnapshotTable.refs(spark, root).isEmpty)
    // published intermediate versions time-travel on main
    assert(spark.read.format("graft-snapshot").option("versionAsOf", 2)
      .load(root).count() === 3)
    // maintenance works across the published (branch-dir) data files
    SnapshotTable.compact(spark, root, targetFiles = 1)
    assert(SnapshotTable.read(spark, root).count() === 4)
  }

  test("publish refuses when main advanced past the fork; abandon cleans up") {
    val root = newRoot()
    Seq((1L, "a")).toDF("k", "v")
      .write.format("graft-snapshot").mode("append").save(root)
    SnapshotTable.createWriteBranch(spark, root, "wip")
    Seq((2L, "b")).toDF("k", "v")
      .write.format("graft-snapshot").option("branch", "wip")
      .mode("append").save(root)
    // main diverges
    Seq((9L, "z")).toDF("k", "v")
      .write.format("graft-snapshot").mode("append").save(root)
    val ex = intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.publishBranch(spark, root, "wip")
    }
    assert(ex.getMessage.contains("forked at"))
    // abandon: branch dir + refs entry go away; main intact
    assert(SnapshotTable.dropWriteBranch(spark, root, "wip"))
    assert(!SnapshotTable.writeBranchExists(spark, root, "wip"))
    assert(SnapshotTable.refs(spark, root).isEmpty)
    assert(SnapshotTable.read(spark, root).count() === 2)
    // reads of a dropped branch refuse with guidance
    val ex2 = intercept[IllegalArgumentException] {
      spark.read.format("graft-snapshot").option("branch", "wip")
        .load(root).count()
    }
    assert(ex2.getMessage.contains("create_branch"))
  }

  test("published branch versions keep their branch commit times for TIMESTAMP AS OF") {
    val root = newRoot()
    Seq((1L, "a")).toDF("k", "v")
      .write.format("graft-snapshot").mode("append").save(root)
    SnapshotTable.createWriteBranch(spark, root, "late")
    Seq((2L, "b")).toDF("k", "v")
      .write.format("graft-snapshot").option("branch", "late")
      .mode("append").save(root)
    Thread.sleep(300)
    val afterV2 = System.currentTimeMillis()
    Thread.sleep(300)
    Seq((3L, "c")).toDF("k", "v")
      .write.format("graft-snapshot").option("branch", "late")
      .mode("append").save(root)
    Thread.sleep(300)
    val beforePublish = System.currentTimeMillis()
    Thread.sleep(300)
    assert(SnapshotTable.publishBranch(spark, root, "late") === 3L)
    // the instant between the two branch commits resolves to v2 on main
    assert(SnapshotTable.versionAt(spark, root, afterV2) === Some(2L))
    assert(spark.read.format("graft-snapshot")
      .option("timestampAsOf", afterV2.toString).load(root).count() === 2)
    // both published versions read as committed before the publish
    val times = SnapshotTable.history(spark, root).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert(times(2L) < afterV2 && times(3L) < beforePublish, times)
    assert(SnapshotTable.versionAt(spark, root, beforePublish) === Some(3L))
  }

  test("SQL procedures: create_branch / publish_branch / drop_branch + branch MERGE") {
    val wh = Files.createTempDirectory("snapbranch_wh").toString
    spark.conf.set("spark.sql.catalog.gbr", "graft.storage.dsv2.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.gbr.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE gbr.ns")
      spark.sql("CREATE TABLE gbr.ns.t (k BIGINT, v STRING) USING `graft-snapshot`")
      spark.sql("INSERT INTO gbr.ns.t VALUES (1, 'a'), (2, 'b')")
      val forked = spark.sql("CALL gbr.system.create_branch('ns.t', 'wap')")
        .head.getLong(0)
      assert(forked === 2L) // CREATE was v1, INSERT v2
      val root = s"$wh/ns/t"
      // row-level SQL against the BRANCH via the path provider
      Seq((3L, "c")).toDF("k", "v")
        .write.format("graft-snapshot").option("branch", "wap")
        .mode("append").save(root)
      assert(spark.sql("SELECT count(*) FROM gbr.ns.t").head.getLong(0) === 2)
      spark.sql("CALL gbr.system.publish_branch('ns.t', 'wap')")
      spark.sql("REFRESH TABLE gbr.ns.t")
      assert(spark.sql("SELECT count(*) FROM gbr.ns.t").head.getLong(0) === 3)
      assert(spark.sql("CALL gbr.system.drop_branch('ns.t', 'wap')")
        .head.getBoolean(0) === false) // already published; nothing staged
    } finally {
      spark.sql("DROP TABLE IF EXISTS gbr.ns.t")
      spark.conf.unset("spark.sql.catalog.gbr")
      spark.conf.unset("spark.sql.catalog.gbr.warehouse")
    }
  }

  test("streaming sink onto a branch: exactly-once epochs stage without touching main") {
    implicit val sq = spark.sqlContext
    val root = newRoot()
    Seq((1L, "a")).toDF("k", "v")
      .write.format("graft-snapshot").mode("append").save(root)
    SnapshotTable.createWriteBranch(spark, root, "ingest")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "v")
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation",
        Files.createTempDirectory("snapbranch_ckpt").toString)
      .option("branch", "ingest")
      .start(root)
    try {
      in.addData((2L, "b")); q.processAllAvailable()
      in.addData((3L, "c")); q.processAllAvailable()
    } finally q.stop()
    assert(SnapshotTable.versions(spark, root) === Seq(1L))
    assert(spark.read.format("graft-snapshot").option("branch", "ingest")
      .load(root).count() === 3)
    SnapshotTable.publishBranch(spark, root, "ingest")
    assert(SnapshotTable.read(spark, root).count() === 3)
    // the published versions carry the stream's exactly-once ledger
    assert(SnapshotTable.latest(spark, root).get.txns.values.toSeq.contains(1L))
  }
}
