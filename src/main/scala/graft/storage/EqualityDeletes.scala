package graft.storage

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** EQUALITY-DELETE sidecars — the Iceberg-v2 half of merge-on-read
  * that POSITION vectors cannot serve: a streaming upsert must retire
  * the OLD row for each arriving key without locating it (a scan/join
  * per micro-batch would make per-batch cost O(table)). Instead the
  * batch commits its data files plus one sidecar listing the batch's
  * KEY TUPLES; readers drop any row whose key is listed by a sidecar
  * COMMITTED AFTER the row's file was added (`FileEntry.addV` <
  * sidecar version — same-commit files win over their own deletes,
  * which is exactly last-write-wins). Per-batch write cost is
  * O(batch); the read-side set lookup is bounded by keys upserted
  * since the last compaction, and any rewrite (compact) materializes
  * the deletes away and retires the sidecars.
  *
  * Wire format (version GEQ1, text):
  * {{{
  *   line 0: GEQ1<TAB>k1<TAB>k2...      (magic + key column names)
  *   line N: v1<TAB>v2...               (canonical-encoded key values)
  * }}}
  * Values are canonical strings (the same rendering for writer rows and
  * reader rows, so comparison is exact): numerics via toString,
  * timestamps as micros, strings escaped (%, TAB, LF, CR → %XX) with a
  * `v` prefix sentinel distinguishing empty string from NULL (`∅`). */
object EqualityDeletes {

  val Magic = "GEQ1"
  private val NullToken = "∅"

  /** A fresh sidecar path under `root`'s `_deletes` dir. */
  def freshPath(root: String): String =
    new Path(DeletionVectors.dir(root),
      s"${java.util.UUID.randomUUID()}.eqd").toString

  def encodeValue(v: String): String = {
    if (v == null) return NullToken
    val sb = new StringBuilder("v")
    v.foreach {
      case '%' => sb.append("%25")
      case '\t' => sb.append("%09")
      case '\n' => sb.append("%0A")
      case '\r' => sb.append("%0D")
      case c => sb.append(c)
    }
    sb.toString()
  }

  def decodeValue(s: String): String = {
    if (s == NullToken) return null
    val body = s.stripPrefix("v")
    val sb = new StringBuilder(body.length)
    var i = 0
    while (i < body.length) {
      if (body(i) == '%' && i + 2 < body.length) {
        sb.append(Integer.parseInt(body.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(body(i)); i += 1 }
    }
    sb.toString()
  }

  /** Write `rows` (each a canonical-string key tuple; nulls allowed) for
    * key columns `keys`. Deduplicates. Returns the distinct-row count. */
  def write(conf: Configuration, path: String, keys: Seq[String],
            rows: Iterator[Seq[String]]): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p.getParent)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    rows.foreach(r => seen += r.map(encodeValue).mkString("\t"))
    val out = new java.io.BufferedOutputStream(fs.create(p, false))
    try {
      out.write(((Magic +: keys).mkString("\t") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      seen.foreach(l => out.write((l + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    } finally out.close()
    seen.size.toLong
  }

  /** Read a sidecar: (key column names, encoded key-tuple set). The set
    * keeps values ENCODED — membership tests encode the probe the same
    * way, avoiding a decode per stored row. */
  def read(conf: Configuration, path: String): (Seq[String], Set[String]) = {
    val p = new Path(path)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      p.getFileSystem(conf).open(p), java.nio.charset.StandardCharsets.UTF_8))
    try {
      val header = in.readLine()
      require(header != null && header.startsWith(Magic + "\t"),
        s"not an equality-delete sidecar at $path")
      val keys = header.split("\t").toSeq.drop(1)
      val set = Set.newBuilder[String]
      var l = in.readLine()
      while (l != null) {
        if (l.nonEmpty) set += l
        l = in.readLine()
      }
      (keys, set.result())
    } finally in.close()
  }

  /** Canonical rendering of one key value from Spark's INTERNAL
    * representation (what a reader/writer sees per row), null-safe.
    * Must agree between the writer (sink) and every reader. */
  def canonical(dt: org.apache.spark.sql.types.DataType, v: Any): String =
    if (v == null) null
    else dt match {
      case org.apache.spark.sql.types.StringType => v.toString
      case org.apache.spark.sql.types.BooleanType | org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => v.toString
      case other => throw new UnsupportedOperationException(
        s"equality-delete key type $other is not supported (flat " +
          "integral/string/date/timestamp keys only — float keys are " +
          "not stable equality keys)")
    }
}
