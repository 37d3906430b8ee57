package graft.storage

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Model-based differential test of the snapshot table format. A fixed
  * seed draws a random history — create, library append, SQL `MERGE
  * INTO` and `DELETE` in merge-on-read mode, library (copy-on-write)
  * merge, rename and drop column, compaction — and an in-memory model
  * applies the same history to a list of rows. Every version is then
  * read four ways (`SnapshotTable.read` / `readVersion`, SQL `SELECT`
  * and `VERSION AS OF`) and must equal the model as a multiset; and for
  * every window made only of merge-on-read and append versions,
  * applying the change feed's inserts and deletes to the `from`
  * version must give the `to` version. */
final class SnapshotModelSpec extends SparkSpec {

  private sealed trait Op
  private final case class Append(n: Int) extends Op
  private final case class SqlMerge(updates: Int, inserts: Int) extends Op
  private final case class SqlDelete(mod: Int, rem: Int) extends Op
  private final case class LibMerge(updates: Int, inserts: Int) extends Op
  private final case class Rename(pick: Int) extends Op
  private final case class Drop(pick: Int) extends Op
  private final case class Compact(files: Int) extends Op
  private case object Purge extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    3 -> Gen.choose(1, 6).map(Append),
    3 -> Gen.zip(Gen.choose(1, 4), Gen.choose(0, 3)).map(SqlMerge.tupled),
    3 -> Gen.zip(Gen.choose(2, 5), Gen.choose(0, 4))
      .map { case (m, r) => SqlDelete(m, r % m) },
    2 -> Gen.zip(Gen.choose(1, 4), Gen.choose(0, 3)).map(LibMerge.tupled),
    1 -> Gen.choose(0, 9).map(Rename),
    1 -> Gen.choose(0, 9).map(Drop),
    1 -> Gen.choose(1, 3).map(Compact))

  /** Ten drawn ops after the create and the merge-on-read switch. */
  private def history(seed: Long): List[Op] =
    Gen.listOfN(10, opGen).pureApply(Gen.Parameters.default, Seed(seed))

  /** The partitioned table's ops: no column DDL (partition columns are
    * in every row), plus purging deletes. */
  private val partOpGen: Gen[Op] = Gen.frequency(
    3 -> Gen.choose(1, 6).map(Append),
    3 -> Gen.zip(Gen.choose(1, 4), Gen.choose(0, 3)).map(SqlMerge.tupled),
    3 -> Gen.zip(Gen.choose(2, 5), Gen.choose(0, 4))
      .map { case (m, r) => SqlDelete(m, r % m) },
    2 -> Gen.zip(Gen.choose(1, 4), Gen.choose(0, 3)).map(LibMerge.tupled),
    1 -> Gen.choose(1, 3).map(Compact),
    1 -> Gen.const(Purge))

  /** The model: the current columns (name, type) and rows. `k` is the
    * unique key and `v` the version column; `a` and `b` are the payload
    * columns that rename and drop act on. */
  private final case class State(cols: Vector[(String, DataType)],
                                 rows: Vector[Vector[Any]]) {
    def schema: StructType =
      StructType(cols.map { case (n, t) => StructField(n, t) })
    def names: Vector[String] = cols.map(_._1)
    def key(r: Vector[Any]): Long = r(0).asInstanceOf[Long]
  }

  private def canon(r: Seq[Any]): String = r.map {
    case null => "NULL"
    case s: String => s"'$s'"
    case x => x.toString
  }.mkString("|")

  private def bag(rows: Seq[Seq[Any]]): Map[String, Int] =
    rows.groupBy(canon).view.mapValues(_.size).toMap

  private def assertSame(what: String, df: DataFrame, m: State): Unit = {
    assert(df.columns.toSeq === m.names, s"$what: columns")
    val got = bag(df.collect().toSeq.map(_.toSeq))
    assert(got === bag(m.rows), s"$what: rows")
  }

  private def frame(m: State, rows: Seq[Vector[Any]], parts: Int): DataFrame =
    spark.createDataFrame(rows.map(r => Row.fromSeq(r)).asJava, m.schema)
      .repartition(parts)

  private val warehouse = Files.createTempDirectory("snapmodel_wh").toString
  spark.conf.set("spark.sql.catalog.gmodel", "graft.storage.dsv2.SnapshotCatalog")
  spark.conf.set("spark.sql.catalog.gmodel.warehouse", warehouse)

  override def afterAll(): Unit = {
    spark.conf.unset("spark.sql.catalog.gmodel")
    spark.conf.unset("spark.sql.catalog.gmodel.warehouse")
    super.afterAll()
  }

  private def run(seed: Long): Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmodel.ns")
    val tbl = s"gmodel.ns.t$seed"
    val root = s"$warehouse/ns/t$seed"
    val rnd = new scala.util.Random(seed)
    var nextKey = 0L
    var nextV = 0L
    var nextCol = 0
    def row(m: State, k: Long): Vector[Any] = {
      nextV += 1
      m.cols.map {
        case ("k", _) => k
        case ("v", _) => nextV
        case (_, StringType) =>
          if (rnd.nextInt(5) == 0) null else s"s${rnd.nextInt(50)}"
        case _ => if (rnd.nextInt(5) == 0) null else rnd.nextInt(1000).toLong
      }
    }
    def fresh(m: State, n: Int): Vector[Vector[Any]] =
      Vector.fill(n) { nextKey += 1; row(m, nextKey) }
    def updatesOf(m: State, n: Int): Vector[Vector[Any]] =
      rnd.shuffle(m.rows).take(n).map(r => row(m, m.key(r)))
    def upsert(m: State, ups: Vector[Vector[Any]]): State = {
      val byKey = ups.map(r => m.key(r) -> r).toMap
      m.copy(rows = m.rows.filterNot(r => byKey.contains(m.key(r))) ++ ups)
    }

    // version → (model, change-feed representable)
    val models = scala.collection.mutable.LinkedHashMap.empty[Long, (State, Boolean)]
    def latestV: Long = SnapshotTable.latest(spark, root).map(_.version).getOrElse(0L)
    def record(label: String, m: State, cdf: Boolean): Unit = {
      val v = latestV
      val prev = models.keys.lastOption.getOrElse(0L)
      assert(v == prev + 1, s"seed $seed: $label committed v$v after v$prev")
      models(v) = (m, cdf)
      assertSame(s"seed $seed v$v $label read", SnapshotTable.read(spark, root), m)
      assertSame(s"seed $seed v$v $label readVersion",
        SnapshotTable.readVersion(spark, root, v), m)
      assertSame(s"seed $seed v$v $label SQL", spark.sql(s"SELECT * FROM $tbl"), m)
      assertSame(s"seed $seed v$v $label VERSION AS OF",
        spark.sql(s"SELECT * FROM $tbl VERSION AS OF $v"), m)
    }

    var m = State(Vector("k" -> LongType, "v" -> LongType, "a" -> StringType,
      "b" -> LongType), Vector.empty)
    m = m.copy(rows = fresh(m, 8))
    SnapshotTable.create(spark, root, frame(m, m.rows, 2))
    record("create", m, cdf = true)
    spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES ('deleteMode'='merge-on-read', " +
      "'updateMode'='merge-on-read', 'mergeMode'='merge-on-read')")
    record("merge-on-read", m, cdf = true)

    history(seed).foreach { op =>
      val payload = m.names.filterNot(Set("k", "v"))
      // an op with nothing to act on becomes an append
      val eff = op match {
        case Rename(_) | Drop(_) if payload.isEmpty => Append(2)
        case other => other
      }
      eff match {
        case Append(n) =>
          val rows = fresh(m, n)
          SnapshotTable.append(spark, root, frame(m, rows, 2))
          m = m.copy(rows = m.rows ++ rows)
          record(s"append $n", m, cdf = true)
        case SqlMerge(u, i) =>
          val ups = updatesOf(m, u) ++ fresh(m, math.max(i, 1))
          frame(m, ups, 1).createOrReplaceTempView("model_src")
          spark.sql(s"MERGE INTO $tbl t USING model_src s ON t.k = s.k " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
          m = upsert(m, ups)
          record(s"SQL MERGE $u/$i", m, cdf = true)
        case SqlDelete(mod, rem) =>
          // keep the delete real: the first live key's residue class
          val r = m.rows.headOption.map(x => (m.key(x) % mod).toInt).getOrElse(rem)
          if (m.rows.isEmpty) {
            val rows = fresh(m, 3)
            SnapshotTable.append(spark, root, frame(m, rows, 1))
            m = m.copy(rows = rows)
            record("append 3", m, cdf = true)
          } else {
            spark.sql(s"DELETE FROM $tbl WHERE k % $mod = $r")
            m = m.copy(rows = m.rows.filterNot(x => m.key(x) % mod == r))
            record(s"SQL DELETE k%$mod=$r", m, cdf = true)
          }
        case LibMerge(u, i) =>
          val ups = updatesOf(m, u) ++ fresh(m, math.max(i, 1))
          SnapshotTable.merge(spark, root, frame(m, ups, 1), Seq("k"), "v")
          m = upsert(m, ups)
          record(s"library merge $u/$i", m, cdf = false)
        case Rename(pick) =>
          val old = payload(pick % payload.size)
          nextCol += 1
          val nw = s"c$nextCol"
          SnapshotTable.renameColumn(spark, root, old, nw)
          m = m.copy(cols = m.cols.map { case (n, t) => (if (n == old) nw else n, t) })
          record(s"rename $old->$nw", m, cdf = false)
        case Drop(pick) =>
          val gone = payload(pick % payload.size)
          val i = m.names.indexOf(gone)
          SnapshotTable.dropColumn(spark, root, gone)
          m = State(m.cols.patch(i, Nil, 1), m.rows.map(_.patch(i, Nil, 1)))
          record(s"drop $gone", m, cdf = false)
        case Compact(n) =>
          SnapshotTable.compact(spark, root, n)
          record(s"compact $n", m, cdf = false)
      }
    }

    // time travel over every version, after the whole history
    models.foreach { case (v, (mv, _)) =>
      assertSame(s"seed $seed readVersion($v) at end",
        SnapshotTable.readVersion(spark, root, v), mv)
      assertSame(s"seed $seed VERSION AS OF $v at end",
        spark.sql(s"SELECT * FROM $tbl VERSION AS OF $v"), mv)
    }

    // change-feed windows: (run start, to) and (to - 1, to) for every
    // version of a run of representable versions. The feed refuses, by
    // design, to read files under a column mapping, so a window counts
    // only while no version in it carries one
    val vs = models.keys.toVector
    def unmapped(v: Long): Boolean =
      v == 0L || SnapshotTable.snapshot(spark, root, v).colEvents.isEmpty
    vs.foreach { to =>
      val runStart = vs.reverse.dropWhile(_ > to).takeWhile(models(_)._2)
        .lastOption.map(_ - 1)
      runStart.toSeq.flatMap(s => Seq(s, to - 1).distinct)
        .filter(from => (from to to).forall(unmapped)).foreach { from =>
          val base = if (from == 0L) Vector.empty else models(from)._1.rows
          val target = models(to)._1
          val feed = SnapshotTable.changeFeed(spark, root, from, Some(to))
            .collect().toSeq
          val n = target.cols.size
          val counts = scala.collection.mutable.Map.empty[String, Int]
            .withDefaultValue(0)
          base.foreach(r => counts(canon(r)) += 1)
          feed.foreach { r =>
            val key = canon(r.toSeq.take(n))
            r.getString(n) match {
              case "insert" | "update_postimage" => counts(key) += 1
              case "delete" | "update_preimage" => counts(key) -= 1
            }
          }
          assert(counts.filter(_._2 != 0).toMap === bag(target.rows),
            s"seed $seed change feed ($from, $to]")
        }
    }
  }

  /** The partitioned history: the table is partitioned by `g`
    * (identity; a function of the key, NULL for every fifth key) and
    * `bucket[4](k)`, so a library merge keyed on (k, g) is
    * partition-scoped. After every version each read equals the model
    * and every manifest entry is tuple-pure: the tuple recomputed from
    * each live row of the file equals the one the manifest records. */
  private def runPartitioned(seed: Long): Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmodel.ns")
    val tbl = s"gmodel.ns.p$seed"
    val root = s"$warehouse/ns/p$seed"
    val specs = Seq("g", "bucket[4](k)")
    val fields = specs.map(SnapshotPartition.parseField)
    graft.functions.expressions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(seed)
    var nextKey = 0L
    var nextV = 0L
    def gOf(k: Long): String = if (k % 5 == 0) null else s"g${k % 3}"
    def row(k: Long): Vector[Any] = {
      nextV += 1
      Vector(k, nextV, gOf(k),
        if (rnd.nextInt(5) == 0) null else s"s${rnd.nextInt(50)}")
    }
    def fresh(n: Int): Vector[Vector[Any]] =
      Vector.fill(n) { nextKey += 1; row(nextKey) }
    var m = State(Vector("k" -> LongType, "v" -> LongType, "g" -> StringType,
      "a" -> StringType), Vector.empty)
    def updatesOf(n: Int): Vector[Vector[Any]] =
      rnd.shuffle(m.rows).take(n).map(r => row(m.key(r)))
    def upsert(ups: Vector[Vector[Any]]): Unit = {
      val byKey = ups.map(r => m.key(r) -> r).toMap
      m = m.copy(rows = m.rows.filterNot(r => byKey.contains(m.key(r))) ++ ups)
    }
    var last = 0L
    def record(label: String): Unit = {
      val snap = SnapshotTable.latest(spark, root).get
      assert(snap.version == last + 1, s"seed $seed: $label committed v${snap.version} after v$last")
      last = snap.version
      val what = s"seed $seed v$last $label"
      assertSame(s"$what read", SnapshotTable.read(spark, root), m)
      assertSame(s"$what readVersion", SnapshotTable.readVersion(spark, root, last), m)
      assertSame(s"$what SQL", spark.sql(s"SELECT * FROM $tbl"), m)
      assertSame(s"$what VERSION AS OF", spark.sql(s"SELECT * FROM $tbl VERSION AS OF $last"), m)
      val recorded = snap.entries.map(e => SnapshotTable.norm(e.path) -> e.tuple).toMap
      val seen = SnapshotTable.read(spark, root)
        .select(col("_file") +: fields.map(f =>
          expr(s"graft_part_field('${f.transform}', ${f.n}, `${f.col}`)")): _*)
        .distinct().collect().toSeq
        .groupBy(r => SnapshotTable.norm(r.getString(0)))
        .view.mapValues(_.map(r => SnapshotPartition.encodeTuple(fields.map(_.key),
          fields.indices.map(i => Option(r.getString(i + 1))))).distinct).toMap
      seen.foreach { case (file, tuples) =>
        assert(tuples === Seq(recorded(file)), s"$what: $file is not tuple-pure")
      }
    }

    m = m.copy(rows = fresh(8))
    SnapshotTable.create(spark, root, frame(m, m.rows, 2), partitionBy = specs)
    spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES ('deleteMode'='merge-on-read', " +
      "'updateMode'='merge-on-read', 'mergeMode'='merge-on-read')")
    last += 1
    record("create + merge-on-read")
    // a fixed tail after the drawn ops, so every history exercises each
    // write: a delete leaves vectors for the purge
    (Gen.listOfN(10, partOpGen).pureApply(Gen.Parameters.default, Seed(seed)) ++
        List(SqlDelete(3, 0), Purge, LibMerge(2, 1), Compact(2))).foreach {
      case Append(n) =>
        val rows = fresh(n)
        SnapshotTable.append(spark, root, frame(m, rows, 2))
        m = m.copy(rows = m.rows ++ rows)
        record(s"append $n")
      case SqlMerge(u, i) =>
        val ups = updatesOf(u) ++ fresh(math.max(i, 1))
        frame(m, ups, 1).createOrReplaceTempView("model_psrc")
        spark.sql(s"MERGE INTO $tbl t USING model_psrc s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
        upsert(ups)
        record(s"SQL MERGE $u/$i")
      case SqlDelete(mod, rem) if m.rows.nonEmpty =>
        val r = (m.key(m.rows.head) % mod).toInt
        spark.sql(s"DELETE FROM $tbl WHERE k % $mod = $r")
        m = m.copy(rows = m.rows.filterNot(x => m.key(x) % mod == r))
        record(s"SQL DELETE k%$mod=$r")
      case SqlDelete(_, _) =>
        val rows = fresh(3)
        SnapshotTable.append(spark, root, frame(m, rows, 1))
        m = m.copy(rows = rows)
        record("append 3")
      case LibMerge(u, i) =>
        val ups = updatesOf(u) ++ fresh(math.max(i, 1))
        SnapshotTable.merge(spark, root, frame(m, ups, 1), Seq("k", "g"), "v")
        upsert(ups)
        record(s"library merge $u/$i")
      case Compact(n) =>
        SnapshotTable.compact(spark, root, n)
        record(s"compact $n")
      case Purge =>
        if (SnapshotTable.latest(spark, root).get.entries.exists(_.dv.nonEmpty)) {
          SnapshotTable.purgeDeletes(spark, root)
          record("purgeDeletes")
        }
      case other => fail(s"unexpected op $other")
    }
  }

  Seq(11L, 23L, 37L).foreach { seed =>
    test(s"model history (seed $seed): library, SQL and time-travel reads and the change feed agree with the model") {
      run(seed)
    }
  }

  Seq(5L, 19L).foreach { seed =>
    test(s"partitioned model history (seed $seed): library create, append, partition-scoped merge, compact, purgeDeletes and SQL merge-on-read writes keep every file tuple-pure") {
      runPartitioned(seed)
    }
  }
}
