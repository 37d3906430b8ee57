package graft.storage

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, WriteFiles, WriteFilesExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** One write path: library writes stage their files through the
  * connector's task writer (the one SQL writes use), so no library
  * write runs Spark's file writer or lays files out in Hive partition
  * directories, and every type in the writer's surface reads back as
  * written. */
final class SnapshotWritePathSpec extends SparkSpec {

  test("library create, append, merge, compact and purgeDeletes on a partitioned table plan no Spark file writer and stage no __gp_ directories") {
    val root = Files.createTempDirectory("writepath").toString + "/t"
    val sentinel = s"write-path-sentinel-${java.util.UUID.randomUUID()}"
    val writers = new ConcurrentLinkedQueue[String]()
    val drained = new CountDownLatch(1)
    def record(qe: QueryExecution): Unit = {
      val logical = Seq(qe.analyzed, qe.optimizedPlan).flatMap(_.collect {
        case c: InsertIntoHadoopFsRelationCommand => c.nodeName
        case w: WriteFiles => w.nodeName
      })
      val physical = qe.executedPlan.collect { case w: WriteFilesExec => w.nodeName }
      (logical ++ physical).foreach(writers.add)
      if (qe.analyzed.toString.contains(sentinel)) drained.countDown()
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    def rows(lo: Long, hi: Long, v: Long): DataFrame =
      spark.range(lo, hi, 1, 2).select(col("id").as("k"), lit(v).as("v"),
        concat(lit("g"), (col("id") % 3).cast("string")).as("g"))
    val tbl = "writepath_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(10)
    spark.listenerManager.register(listener)
    try {
      SnapshotTable.create(spark, root, rows(0, 40, 1),
        statsCols = Seq("k"), partitionBy = Seq("g", "bucket[4](k)"))
      SnapshotTable.append(spark, root, rows(40, 60, 1))
      spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` " +
        s"OPTIONS (path '$root', deleteMode 'merge-on-read')")
      spark.sql(s"DELETE FROM $tbl WHERE k IN (3, 33, 45)")
      // every partition source column is in the key: partition-scoped
      SnapshotTable.merge(spark, root, rows(10, 14, 2), Seq("k", "g"), "v")
      SnapshotTable.purgeDeletes(spark, root)
      SnapshotTable.compact(spark, root, 2)
      // the listener bus delivers in order: once the sentinel query is
      // seen, every write above has been seen
      spark.range(1).select(lit(sentinel)).collect()
      assert(drained.await(30, TimeUnit.SECONDS), "listener never saw the sentinel")
      assert(writers.isEmpty,
        s"a library write planned Spark's file writer: ${writers.asScala.toSeq.distinct}")
      val vs = SnapshotTable.versions(spark, root)
      assert(vs === (1L to 6L), "each write published one version")
      val gp = vs.flatMap(v => SnapshotTable.snapshot(spark, root, v).files)
        .filter(_.split("/").exists(_.startsWith("__gp_")))
      assert(gp.isEmpty, s"manifest paths with __gp_ segments: ${gp.take(3)}")
      val read = SnapshotTable.read(spark, root)
      assert(read.count() === 57)
      assert(read.where(col("v") === 2).count() === 4)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("every type in the writer's surface reads back as written after a library create and append, partitioned by SHORT and unpartitioned") {
    val src = spark.sql(
      """SELECT id AS k,
        |  CAST(id % 4 - 2 AS SMALLINT) AS sh,
        |  IF(id % 5 = 0, NULL, CAST(id % 7 - 3 AS TINYINT)) AS by,
        |  CAST(id * 1000 AS INT) AS i,
        |  CAST(id / 3.0 AS FLOAT) AS f,
        |  IF(id % 6 = 0, NULL, id / 7.0) AS d,
        |  id % 2 = 0 AS bo,
        |  IF(id % 4 = 0, NULL, concat('s', id)) AS s,
        |  CAST(concat('b', id) AS BINARY) AS bin,
        |  date_add(DATE'2024-02-27', CAST(id AS INT)) AS dt,
        |  TIMESTAMP'2024-02-28 23:00:00' + make_interval(0, 0, 0, 0, CAST(id AS INT), 0, 0) AS ts,
        |  TIMESTAMP_NTZ'2024-03-01 00:00:00' + make_interval(0, 0, 0, CAST(id AS INT), 0, 0, 0) AS ntz,
        |  CAST(id * 1.25 AS DECIMAL(10, 2)) AS dec,
        |  CAST(id * 12345678901.5 AS DECIMAL(30, 4)) AS decw,
        |  IF(id % 3 = 0, NULL, array(CAST(id AS INT), NULL, 7)) AS arr,
        |  map('a', concat('v', id), 'b', NULL) AS m
        |FROM range(0, 24, 1, 3)""".stripMargin)
    Seq(Seq.empty[String], Seq("sh")).foreach { parts =>
      val root = Files.createTempDirectory("writetypes").toString + "/t"
      SnapshotTable.create(spark, root, src.where(col("k") < 16), partitionBy = parts)
      SnapshotTable.append(spark, root, src.where(col("k") >= 16))
      val lib = SnapshotTable.read(spark, root)
      val sql = spark.read.format("graft-snapshot").load(root)
      Seq("library" -> lib, "SQL" -> sql).foreach { case (how, df) =>
        assert(df.schema === SnapshotTable.nullableSchema(src.schema),
          s"$how read schema, partitioned by $parts")
        assert(canon(df).sorted === canon(src).sorted,
          s"$how read rows, partitioned by $parts")
      }
    }
  }

  test("partitioned compact to one file stages one file per tuple from tuple-sorted rows") {
    val root = Files.createTempDirectory("writecompact").toString + "/t"
    val parts = 24
    def rows(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi, 1, 4).select(col("id").as("k"),
        (col("id") % parts).cast("string").as("g"))
    SnapshotTable.create(spark, root, rows(0, 480), partitionBy = Seq("g"))
    SnapshotTable.append(spark, root, rows(480, 960))
    val v = SnapshotTable.compact(spark, root, targetFiles = 1)
    val es = SnapshotTable.snapshot(spark, root, v).entries
    assert(es.size === parts)
    assert(es.map(_.tuple).distinct.size === parts)
    assert(es.map(_.rows).sum === 960L)
    val read = SnapshotTable.read(spark, root)
      .withColumn("file", col("_file")).groupBy("file")
      .agg(countDistinct("g").as("n")).collect()
    assert(read.length === parts && read.forall(_.getLong(1) == 1L))
  }

  test("a tuple-sorted fanout writer closes each tuple's file when the next tuple starts, and abort removes them all") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val schema = StructType(Seq(StructField("g", StringType), StructField("k", LongType)))
    val spec = dsv2.PartitionWriteSpec.of(schema, Seq("g")).get
    val dir = Files.createTempDirectory("fanout")
    def writer() = new dsv2.SnapshotFanoutDataWriter(s"$dir/part-00000-${System.nanoTime()}",
      schema, spark.sessionState.newHadoopConf(), spec, tupleSorted = true)
    def row(g: String, k: Long) = InternalRow(UTF8String.fromString(g), k)
    // a closed parquet file ends with its footer's magic
    def closed(f: java.nio.file.Path): Boolean = {
      val b = Files.readAllBytes(f)
      b.length > 8 && new String(b.takeRight(4), "US-ASCII") == "PAR1"
    }
    def files() = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    val w = writer()
    w.write(row("a", 1)); w.write(row("a", 2))
    assert(files().size === 1 && !closed(files().head))
    w.write(row("b", 3))
    assert(files().size === 2)
    assert(files().count(closed) === 1, "the a file closes when b starts")
    w.write(row("c", 4))
    assert(files().count(closed) === 2)
    val msg = w.commit().asInstanceOf[dsv2.SnapshotCommitMessage]
    assert(msg.files.map(e => (e.rows, e.tuple)) ===
      Seq((2L, "a"), (1L, "b"), (1L, "c")).map { case (n, g) => (n, spec.tupleOf(row(g, 0))) })
    assert(files().forall(closed))
    files().foreach(Files.delete)
    val failed = writer()
    failed.write(row("a", 1)); failed.write(row("b", 2))
    failed.abort()
    assert(files().isEmpty, "abort leaves no file, closed or open")
  }

  test("a library write that fails inside its job publishes nothing and leaves no staged file") {
    val root = Files.createTempDirectory("writefail").toString + "/t"
    SnapshotTable.create(spark, root,
      spark.range(0, 8, 1, 2).select(col("id").as("k"), col("id").as("v")))
    def dataFiles(): Seq[String] = {
      val d = new java.io.File(root, "data")
      Files.walk(d.toPath).iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.toString).toSeq.sorted
    }
    val before = dataFiles()
    // ids 8..11 write before id 12 fails its task
    val bad = spark.range(8, 16, 1, 2).select(
      expr("IF(id < 12, id, raise_error('boom'))").as("k"), col("id").as("v"))
    Seq[(String, () => Any)](
      "append" -> (() => SnapshotTable.append(spark, root, bad)),
      "merge" -> (() => SnapshotTable.merge(spark, root, bad, Seq("k"), "v"))
    ).foreach { case (op, write) =>
      val e = intercept[Exception](write())
      def chain(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else String.valueOf(t.getMessage) +: chain(t.getCause)
      assert(chain(e).exists(_.contains("boom")), s"$op: ${chain(e)}")
      assert(SnapshotTable.versions(spark, root) === Seq(1L), s"$op published")
      assert(dataFiles() === before, s"$op left staged files")
    }
    assert(SnapshotTable.read(spark, root).count() === 8)
  }
}
