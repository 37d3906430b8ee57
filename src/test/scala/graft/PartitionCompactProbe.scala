package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.storage.SnapshotTable

/** Memory probe for PARTITIONED compaction (test scope): a table of
  * incompressible rows spread over many tuples, compacted into ONE task
  * (`targetFiles = 1`). The staging write sorts each task's rows by
  * tuple, a sort that spills, and holds one open parquet writer at a
  * time, so the compaction fits a heap smaller than the table. A writer
  * that kept one open file per tuple would buffer the whole table's row
  * groups in the heap at once.
  *
  * Run with a small driver heap, e.g.
  * SPARK_DRIVER_MEM=1g sbt "Test/runMain graft.PartitionCompactProbe 6000000 256"
  * (about 780 MB of parquet over 256 tuples; expect "ok", 256 files). */
object PartitionCompactProbe {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(6000000L)
    val parts = args.lift(1).map(_.toInt).getOrElse(256)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the process's resident-set high-water mark (Linux; "n/a" elsewhere)
    def peakRss(): String = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).get.stripPrefix("VmHWM:").trim
      finally src.close()
    }.getOrElse("n/a")
    val dir = java.nio.file.Files.createTempDirectory("partcompact")
    val root = dir.toString + "/t"
    val t0 = System.nanoTime()
    // 128 incompressible bytes per row
    def hash(salt: String) =
      unhex(sha2(concat(lit(salt), col("id").cast("string")), 256))
    spark.range(0, rows, 1, 16).select(col("id").as("k"),
        (col("id") % parts).cast("string").as("g"),
        concat(hash("a"), hash("b"), hash("c"), hash("d")).as("pad"))
      .write.format("graft-snapshot").option("partitionBy", "g")
      .mode("append").save(root)
    val mb = SnapshotTable.latest(spark, root).get.entries.map(_.bytes).sum / 1048576
    println(f"create: ${(System.nanoTime() - t0) / 1e9}%.2f s, $mb%d MB over $parts%d tuples; " +
      s"peak RSS ${peakRss()}")
    val t1 = System.nanoTime()
    val r = scala.util.Try(SnapshotTable.compact(spark, root, targetFiles = 1))
    val files = SnapshotTable.latest(spark, root).get.entries.size
    println(f"compact(targetFiles=1): ${(System.nanoTime() - t1) / 1e9}%.2f s, " +
      s"${r.map(_ => "ok").recover { case e => s"FAILED $e" }.get}, $files files; " +
      s"peak RSS ${peakRss()}")
    spark.stop()
    java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    assert(r.isSuccess && files == parts, s"compaction failed or fragmented: $files files")
  }
}
