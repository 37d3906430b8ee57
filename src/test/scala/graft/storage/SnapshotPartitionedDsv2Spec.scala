package graft.storage

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.storage.dsv2.{SnapshotCountScan, SnapshotScan}

/** Partitioned snapshot tables through the DSv2 connector: fanout
  * writes produce tuple-pure files, partition predicates prune files
  * exactly AND are consumed (no post-scan re-evaluation), and a
  * partition-filtered `count(*)` is answered from the manifest alone. */
class SnapshotPartitionedDsv2Spec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("snappdsv2").toString + "/t"

  spark.conf.set("spark.sql.catalog.graftp", "graft.storage.dsv2.SnapshotCatalog")
  spark.conf.set("spark.sql.catalog.graftp.warehouse",
    Files.createTempDirectory("snappwh").toString)

  private def allScans(df: DataFrame) = {
    df.collect()
    (df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    } ++ df.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.collect { case b: BatchScanExec => b.scan }
    }.flatten)
  }

  private def filterNodes(df: DataFrame) =
    df.queryExecution.executedPlan.collect { case f: FilterExec => f } ++
      df.queryExecution.executedPlan.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.collect { case f: FilterExec => f }
      }.flatten

  private def writePartitioned(root: String): Unit =
    spark.range(9000).select(col("id").as("k"),
      (col("id") % 3).cast("string").as("g"), (col("id") % 97).as("x"))
      .write.format("graft-snapshot").option("partitionBy", "g")
      .mode("append").save(root)

  test("DSv2 create with option partitionBy: fanout writes one tuple-pure file per partition") {
    val root = newRoot()
    writePartitioned(root)
    val snap = SnapshotTable.latest(spark, root).get
    assert(snap.partitionCols === Seq("g"))
    // clustered distribution: each tuple in ONE task → one file per tuple
    assert(snap.entries.size === 3)
    snap.entries.foreach { e =>
      assert(e.tuple.nonEmpty)
      assert(SnapshotPartition.decodeTuple(e.tuple).keySet === Set("g"))
    }
    assert(snap.entries.map(e =>
      SnapshotPartition.decodeTuple(e.tuple)("g")).toSet ===
      Set(Some("0"), Some("1"), Some("2")))
    // read-back equality incl. the partition column
    val back = spark.read.format("graft-snapshot").load(root)
    assert(back.count() === 9000)
    assert(back.agg(sum("k")).head.getLong(0) === (0L until 9000L).sum)
  }

  test("a partition predicate prunes files exactly AND is consumed (no post-scan filter)") {
    val root = newRoot()
    writePartitioned(root)
    val df = spark.read.format("graft-snapshot").load(root).where(col("g") === "1")
    val scan = allScans(df).collectFirst { case s: SnapshotScan => s }.get
    assert(scan.totalFileCount === 3)
    assert(scan.plannedFiles.size === 1, s"expected 1/3 files, got ${scan.plannedFiles}")
    // consumed: Spark planned NO FilterExec — the manifest proof replaced it
    assert(filterNodes(df).isEmpty,
      s"partition filter not consumed:\n${df.queryExecution.executedPlan}")
    assert(df.count() === 3000)
    assert(df.select(countDistinct("g")).head.getLong(0) === 1)
    // IN over two partitions
    val two = spark.read.format("graft-snapshot").load(root)
      .where(col("g").isin("0", "2"))
    val scan2 = allScans(two).collectFirst { case s: SnapshotScan => s }.get
    assert(scan2.plannedFiles.size === 2)
    assert(filterNodes(two).isEmpty)
    assert(two.count() === 6000)
  }

  test("a MIXED predicate prunes partitions but keeps the other conjunct residual") {
    val root = newRoot()
    writePartitioned(root)
    val df = spark.read.format("graft-snapshot").load(root)
      .where(col("g") === "1" && col("x") < 10)
    val scan = allScans(df).collectFirst { case s: SnapshotScan => s }.get
    assert(scan.plannedFiles.size === 1)
    // the x-conjunct still needs exact row evaluation
    assert(filterNodes(df).nonEmpty)
    val expect = (0L until 9000L).count(i => i % 3 == 1 && i % 97 < 10)
    assert(df.count() === expect.toLong)
  }

  test("partition-filtered count(*) is answered from the manifest") {
    val root = newRoot()
    writePartitioned(root)
    val counted = spark.read.format("graft-snapshot").load(root)
      .where(col("g") === "2").groupBy().count()
    val meta = allScans(counted).collectFirst { case s: SnapshotCountScan => s }
    assert(meta.isDefined,
      s"expected metadata-count scan in:\n${counted.queryExecution}")
    assert(meta.get.count === 3000L)
  }

  test("IS NULL partitions prune and consume; null tuples round-trip the connector") {
    val root = newRoot()
    Seq((1L, Some("a")), (2L, None: Option[String]), (3L, Some("b")), (4L, None))
      .toDF("k", "g")
      .write.format("graft-snapshot").option("partitionBy", "g")
      .mode("append").save(root)
    val df = spark.read.format("graft-snapshot").load(root).where(col("g").isNull)
    val scan = allScans(df).collectFirst { case s: SnapshotScan => s }.get
    assert(scan.plannedFiles.size === 1)
    assert(filterNodes(df).isEmpty)
    assert(df.select("k").as[Long].collect().sorted.toSeq === Seq(2L, 4L))
    val nn = spark.read.format("graft-snapshot").load(root).where(col("g") === "a")
    assert(allScans(nn).collectFirst { case s: SnapshotScan => s }.get
      .plannedFiles.size === 1)
    assert(nn.select("k").as[Long].head === 1L)
  }

  test("SQL: CREATE TABLE PARTITIONED BY + INSERT + row-level ops keep tuple purity") {
    spark.sql("CREATE TABLE graftp.pt (k BIGINT, g STRING, v BIGINT) " +
      "USING `graft-snapshot` PARTITIONED BY (g)")
    try {
      spark.sql("INSERT INTO graftp.pt VALUES (1, 'a', 1), (2, 'b', 1), (3, 'a', 1)")
      val wh = spark.conf.get("spark.sql.catalog.graftp.warehouse")
      val root = s"$wh/pt"
      assert(SnapshotTable.latest(spark, root).get.partitionCols === Seq("g"))
      def tuplesOk(): Unit =
        SnapshotTable.latest(spark, root).get.entries.foreach(e =>
          assert(e.tuple.nonEmpty, s"tuple-less ${e.path}"))
      tuplesOk()
      // partition-aligned DELETE only touches matching partitions
      spark.sql("DELETE FROM graftp.pt WHERE g = 'b'")
      tuplesOk()
      assert(spark.sql("SELECT count(*) FROM graftp.pt").head.getLong(0) === 2)
      // UPDATE through the group rewrite keeps files tuple-pure
      spark.sql("UPDATE graftp.pt SET v = 9 WHERE k = 1")
      tuplesOk()
      assert(spark.sql("SELECT sum(v) FROM graftp.pt").head.getLong(0) === 10)
      // pruning still works after the rewrites
      val df = spark.sql("SELECT k FROM graftp.pt WHERE g = 'a'")
      assert(df.as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    } finally spark.sql("DROP TABLE IF EXISTS graftp.pt")
  }

  test("partition-aligned DELETE is METADATA-ONLY: surviving files untouched") {
    val root = newRoot()
    writePartitioned(root) // 3 partitions g ∈ {0,1,2}, no statsCols at all
    val before = SnapshotTable.latest(spark, root).get.files.toSet
    spark.sql("CREATE TABLE del_pt USING `graft-snapshot` " +
      s"OPTIONS (path '$root')")
    try {
      // a STRING partition predicate: the stats tier can't prove it,
      // the tuple tier must — and the kept files must be the ORIGINALS
      spark.sql("DELETE FROM del_pt WHERE g = '1'")
      val after = SnapshotTable.latest(spark, root).get
      assert(after.files.toSet.subsetOf(before),
        s"metadata delete rewrote files: ${after.files.toSet -- before}")
      assert(after.entries.size === 2)
      assert(spark.sql("SELECT count(*) FROM del_pt").head.getLong(0) === 6000)
      // IN — another shape only the tuple tier proves
      spark.sql("DELETE FROM del_pt WHERE g IN ('0')")
      val after2 = SnapshotTable.latest(spark, root).get
      assert(after2.files.toSet.subsetOf(before))
      assert(after2.entries.size === 1)
      assert(spark.sql("SELECT count(*) FROM del_pt").head.getLong(0) === 3000)
    } finally spark.sql("DROP TABLE IF EXISTS del_pt")
  }

  test("option partitions=true lists tuples with file/row/byte totals, zero data I/O") {
    val root = newRoot()
    writePartitioned(root) // 3 partitions × 3000 rows
    val parts = spark.read.format("graft-snapshot")
      .option("partitions", "true").load(root)
      .orderBy("partition")
      .collect()
    assert(parts.map(_.getString(0)).toSeq === Seq("g=0", "g=1", "g=2"))
    assert(parts.map(_.getLong(1)).toSeq === Seq(1L, 1L, 1L))
    assert(parts.map(_.getLong(2)).toSeq === Seq(3000L, 3000L, 3000L))
    parts.foreach(r => assert(r.getLong(3) > 0L))
    // the plan is a driver-side LocalScan — no executor scan of data
    val df = spark.read.format("graft-snapshot")
      .option("partitions", "true").load(root)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("LocalTableScan") ||
      df.queryExecution.executedPlan.toString.contains("driver-side"),
      s"expected a LocalScan:\n${df.queryExecution.executedPlan}")
  }

  test("dynamic partition overwrite replaces only the touched partitions") {
    spark.sql("CREATE TABLE graftp.dyn (k BIGINT, g STRING) " +
      "USING `graft-snapshot` PARTITIONED BY (g)")
    try {
      spark.sql("INSERT INTO graftp.dyn VALUES (1,'a'),(2,'b'),(3,'c'),(4,'a')")
      val wh = spark.conf.get("spark.sql.catalog.graftp.warehouse")
      val root = s"$wh/dyn"
      val before = SnapshotTable.latest(spark, root).get.entries
        .map(e => e.tuple -> e.path).toMap
      // overwritePartitions: only g=a is in the incoming frame → only
      // g=a is replaced; b and c files stay VERBATIM
      Seq((10L, "a"), (11L, "a")).toDF("k", "g")
        .writeTo("graftp.dyn").overwritePartitions()
      val after = SnapshotTable.latest(spark, root).get.entries
        .map(e => e.tuple -> e.path).toMap
      assert(after.keySet === before.keySet)
      assert(after.filterNot(_._1.contains("g=a")) ===
        before.filterNot(_._1.contains("g=a")), "untouched partitions rewritten")
      assert(after("g=a") !== before("g=a"))
      val got = spark.sql("SELECT k FROM graftp.dyn ORDER BY k")
        .as[Long].collect().toSeq
      assert(got === Seq(2L, 3L, 10L, 11L))
      // old content still time-travels
      assert(spark.read.format("graft-snapshot").option("versionAsOf", 2)
        .load(root).count() === 4)
      // empty incoming frame touches nothing: a no-op, not a truncate
      spark.emptyDataset[(Long, String)].toDF("k", "g")
        .writeTo("graftp.dyn").overwritePartitions()
      assert(spark.sql("SELECT count(*) FROM graftp.dyn").head.getLong(0) === 4)
    } finally spark.sql("DROP TABLE IF EXISTS graftp.dyn")
  }

  test("filter-scoped overwrite replaces provably-matching partitions, refuses unprovable cuts") {
    spark.sql("CREATE TABLE graftp.fow (k BIGINT, g STRING) " +
      "USING `graft-snapshot` PARTITIONED BY (g)")
    try {
      spark.sql("INSERT INTO graftp.fow VALUES (1,'a'),(2,'b'),(3,'c')")
      val wh = spark.conf.get("spark.sql.catalog.graftp.warehouse")
      val root = s"$wh/fow"
      val before = SnapshotTable.latest(spark, root).get.entries
        .map(e => e.tuple -> e.path).toMap
      // overwrite(g = 'b'): the b partition is replaced, a/c verbatim
      Seq((20L, "b"), (21L, "b")).toDF("k", "g")
        .writeTo("graftp.fow").overwrite(col("g") === "b")
      val after = SnapshotTable.latest(spark, root).get.entries
        .map(e => e.tuple -> e.path).toMap
      assert(after("g=a") === before("g=a") && after("g=c") === before("g=c"))
      assert(after("g=b") !== before("g=b"))
      assert(spark.sql("SELECT k FROM graftp.fow ORDER BY k")
        .as[Long].collect().toSeq === Seq(1L, 3L, 20L, 21L))
      // empty data + filter = partition DROP, not a no-op
      spark.emptyDataset[(Long, String)].toDF("k", "g")
        .writeTo("graftp.fow").overwrite(col("g") === "c")
      assert(spark.sql("SELECT count(*) FROM graftp.fow").head.getLong(0) === 3)
      // a NON-partition condition is not provable per file → refused
      val e = intercept[Exception] {
        Seq((9L, "a")).toDF("k", "g")
          .writeTo("graftp.fow").overwrite(col("k") === 1L)
      }
      assert(e.getMessage != null)
      assert(spark.sql("SELECT count(*) FROM graftp.fow").head.getLong(0) === 3)
    } finally spark.sql("DROP TABLE IF EXISTS graftp.fow")
  }

  test("dynamic overwrite refuses unpartitioned tables") {
    spark.sql("CREATE TABLE graftp.dyn2 (k BIGINT, g STRING) USING `graft-snapshot`")
    try {
      spark.sql("INSERT INTO graftp.dyn2 VALUES (1,'a')")
      intercept[Exception] {
        Seq((2L, "b")).toDF("k", "g").writeTo("graftp.dyn2").overwritePartitions()
      }
    } finally spark.sql("DROP TABLE IF EXISTS graftp.dyn2")
  }

  test("PARTITIONED BY refuses unknown transforms and bad columns") {
    intercept[Exception] { // years() is not in the evaluator's transform set
      spark.sql("CREATE TABLE graftp.badpt (k BIGINT, t TIMESTAMP) " +
        "USING `graft-snapshot` PARTITIONED BY (years(t))")
    }
    intercept[Exception] { // identity over a non-scalar type
      spark.sql("CREATE TABLE graftp.badpt2 (k BIGINT, a ARRAY<DOUBLE>) " +
        "USING `graft-snapshot` PARTITIONED BY (a)")
    }
    intercept[Exception] { // hours() needs a timestamp source
      spark.sql("CREATE TABLE graftp.badpt3 (k BIGINT, d DATE) " +
        "USING `graft-snapshot` PARTITIONED BY (hours(d))")
    }
  }

  test("dynamic overwrite refuses base files without partition tuples") {
    spark.sql("CREATE TABLE graftp.dynx (k BIGINT, g STRING) " +
      "USING `graft-snapshot` PARTITIONED BY (g)")
    try {
      spark.sql("INSERT INTO graftp.dynx VALUES (1, 'a'), (2, 'b')")
      val wh = spark.conf.get("spark.sql.catalog.graftp.warehouse")
      val root = s"$wh/dynx"
      val s = SnapshotTable.latest(spark, root).get
      // doctor a next version where one entry lost its tuple — the
      // latitude FileEntry documents for external rewrites; such a file
      // can hold rows of ANY partition, so retaining it verbatim would
      // leave stale rows of overwritten partitions alive
      SnapshotTable.publish(spark, root, s.version + 1,
        s.entries.head.copy(tuple = "") +: s.entries.tail, s.meta,
        SnapshotTable.tableSchema(spark, root, s.version))
      spark.sql("REFRESH TABLE graftp.dynx")
      val e = intercept[Exception] {
        Seq((10L, "a")).toDF("k", "g").writeTo("graftp.dynx").overwritePartitions()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
      assert(chain(e).exists(m => m != null && m.contains("partition membership")),
        s"expected a loud refusal, got: ${chain(e)}")
      // the table is untouched — stale-row retention did NOT commit
      assert(spark.sql("SELECT count(*) FROM graftp.dynx").head.getLong(0) === 2)
    } finally spark.sql("DROP TABLE IF EXISTS graftp.dynx")
  }
}
