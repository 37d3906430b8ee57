package graft.storage

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** The equality-delete sidecar codec: escaping, NULL-vs-empty, and the
  * two canonical renderers (internal and external values) agreeing —
  * a divergence between them silently corrupts streaming upserts. */
class EqualityDeletesSpec extends AnyFunSuite {

  private val conf = new Configuration(false)

  test("value codec: round-trips tabs, newlines, percent, empty, null") {
    val cases = Seq("plain", "", "has\ttab", "has\nnewline", "has\rcr",
      "pct%09literal", "%", "mixed\t%\n", "∅-lookalike", null)
    cases.foreach { v =>
      val enc = EqualityDeletes.encodeValue(v)
      assert(!enc.contains('\t') && !enc.contains('\n') && !enc.contains('\r'),
        s"encoded form must be line/field-safe: '$enc'")
      assert(EqualityDeletes.decodeValue(enc) === v)
    }
    // NULL and empty string encode DISTINCTLY
    assert(EqualityDeletes.encodeValue(null) !==
      EqualityDeletes.encodeValue(""))
  }

  test("sidecar round-trip deduplicates and preserves key tuples") {
    val path = java.nio.file.Files.createTempDirectory("eqd").toString + "/x.eqd"
    val rows = Seq(
      Seq("1", "a"), Seq("2", null), Seq("1", "a"), // dup
      Seq("3", "tab\there"))
    val n = EqualityDeletes.write(conf, path, Seq("k", "g"), rows.iterator)
    assert(n === 3L)
    val (keys, set) = EqualityDeletes.read(conf, path)
    assert(keys === Seq("k", "g"))
    assert(set.size === 3)
    def enc(r: Seq[String]) =
      r.map(EqualityDeletes.encodeValue).mkString("\t")
    assert(set.contains(enc(Seq("1", "a"))))
    assert(set.contains(enc(Seq("2", null))))
    assert(set.contains(enc(Seq("3", "tab\there"))))
    assert(!set.contains(enc(Seq("1", "b"))))
  }

  test("internal and external canonical renderers agree on date/timestamp/string") {
    import org.apache.spark.sql.types._
    // internal: days-int / micros-long / UTF8String; external: java.sql
    val day = java.time.LocalDate.of(2024, 3, 5)
    val internalDate = EqualityDeletes.canonical(DateType,
      day.toEpochDay.toInt)
    // java.sql.Date's epochDay must match the internal int
    assert(internalDate === day.toEpochDay.toString)
    val micros = 1709600000123456L
    assert(EqualityDeletes.canonical(TimestampType, micros) === micros.toString)
    assert(EqualityDeletes.canonical(StringType,
      org.apache.spark.unsafe.types.UTF8String.fromString("x")) === "x")
    assert(EqualityDeletes.canonical(LongType, 42L) === "42")
    assert(EqualityDeletes.canonical(StringType, null) === null)
    // float keys are refused (unstable equality)
    intercept[UnsupportedOperationException] {
      EqualityDeletes.canonical(DoubleType, 1.0d)
    }
  }
}
