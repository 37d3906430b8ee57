package graft.storage.dsv2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.{Expression, FieldReference, GeneralScalarExpression, Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.{And, Predicate}

import graft.storage.SnapshotTable

/** METADATA-ONLY DELETE — the retention-delete fast path every table
  * format ships: when the stats sidecar PROVES each file is either
  * entirely inside the delete region (drop it from the manifest) or
  * entirely outside it (keep it verbatim), `DELETE FROM t WHERE ...`
  * commits one manifest with fewer entries — no scan, no rewrite, no
  * executor job. At 100 TB this is what turns "drop everything older
  * than the cutoff" from an O(table) rewrite into one rename.
  *
  * PROOF OBLIGATION (the inverse of scan pruning — an error here
  * deletes rows that should live, so every rule is exact, never
  * conservative-in-our-favor):
  *  - a file is DROPPABLE only if, for EVERY conjunct, all of [min,max]
  *    satisfies it AND the column's recorded null count is ZERO (null
  *    rows never satisfy a comparison, so a file with nulls can never
  *    be dropped whole);
  *  - a file is KEEPABLE (untouched) only if SOME conjunct is satisfied
  *    by none of [min,max];
  *  - any file that is neither — or has no stats for a referenced
  *    column, or any bound/stat magnitude beyond 2^51 (double-precision
  *    stats stop being exact for wider integers) — makes the whole
  *    delete ineligible, and Spark falls back to the group-based
  *    copy-on-write rewrite, which is always correct.
  *
  * Supported predicate shapes: conjunctions of `col {<,<=,>,>=,=} lit`
  * on numeric columns (either operand order). Anything else ⇒
  * ineligible, never wrong. */
object SnapshotMetadataDelete {

  /** Exactness guard: double-encoded stats and literals are trusted only
    * inside ±2^51 (integer-exact range with headroom). */
  private val ExactAbs = math.pow(2, 51)

  private final case class Leaf(col: String, op: String, value: Double)

  private def named(e: Expression): Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames()(0))
    case _ => None
  }

  /** A literal comparable against the stats sidecar. Stats record
    * `cast(col as double)`: plain numerics verbatim, timestamps as epoch
    * SECONDS — but a V2 TimestampType literal carries epoch MICROS (a
    * java.lang.Long), so it MUST be rescaled before any stats
    * comparison, or a retention `DELETE ... WHERE ts < TIMESTAMP'...'`
    * would compare micros against seconds and "prove" every file
    * droppable. Only types whose cast-to-double stats semantics are
    * known are accepted; anything else makes the leaf unsupported
    * (⇒ copy-on-write fallback, never wrong). */
  private def literal(e: Expression): Option[Double] = e match {
    case l: Literal[_] => (l.dataType(), l.value) match {
      case (org.apache.spark.sql.types.ByteType
            | org.apache.spark.sql.types.ShortType
            | org.apache.spark.sql.types.IntegerType
            | org.apache.spark.sql.types.LongType
            | org.apache.spark.sql.types.FloatType
            | org.apache.spark.sql.types.DoubleType, n: Number) =>
        Some(n.doubleValue())
      case (org.apache.spark.sql.types.TimestampType, n: Number) =>
        // micros → seconds, the same x/1e6 map cast-to-double stats use;
        // the pre-rescale 2^51 guard keeps distinct micros distinct
        // (ulp(2^51/1e6 seconds) < 1 micro), so '=' proofs stay exact
        Some(n.doubleValue()).filter(m => math.abs(m) <= ExactAbs).map(_ / 1e6)
      case _ => None
    }
    case _ => None
  }

  private val flip = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=",
    "=" -> "=")

  /** Predicate tree → conjunct leaves; None ⇒ an unsupported shape. */
  private def leaves(p: Predicate): Option[Seq[Leaf]] = p match {
    case a: And =>
      for (l <- leaves(a.left()); r <- leaves(a.right())) yield l ++ r
    case g: GeneralScalarExpression
        if flip.contains(g.name()) && g.children().length == 2 =>
      val Array(a, b) = g.children()
      (named(a), literal(b), named(b), literal(a)) match {
        case (Some(c), Some(v), _, _) => Some(Seq(Leaf(c, g.name(), v)))
        case (_, _, Some(c), Some(v)) => Some(Seq(Leaf(c, flip(g.name()), v)))
        case _ => None
      }
    case _ => None
  }

  /** The surviving entries after a provably-exact metadata delete, or
    * None when any file's membership cannot be proven. Two proof tiers,
    * tried per file:
    *  1. EXACT partition tuples (partitioned tables): the predicate
    *     conjunction evaluated in tri-state logic against the file's
    *     tuple — all conjuncts True ⇒ every row matches (drop whole
    *     file); any conjunct definitely non-True ⇒ no row matches
    *     (retain verbatim). This tier handles every shape the tuple
    *     evaluator does (strings, IN, IS NULL, OR, NOT), so a
    *     partition-aligned `DELETE FROM t WHERE day = '...'` is one
    *     manifest commit regardless of stats.
    *  2. The numeric stats proof above, for files tier 1 left open. */
  def plan(spark: SparkSession, root: String, snap: SnapshotTable.Snapshot,
           predicates: Array[Predicate]): Option[Seq[SnapshotTable.FileEntry]] = {
    if (predicates.isEmpty) return None // DELETE FROM t (no WHERE) is TRUNCATE

    // ---- tier 1 machinery: tuple tri-state over the predicate conjunction
    val partFields = SnapshotTable.tableSchema(spark, root, snap.version)
      .map(sch => graft.storage.SnapshotPartition.fieldsOf(snap.partitionSpecs, sch))
      .getOrElse(Seq.empty)
    val v1 = predicates.toSeq.map(graft.storage.SnapshotPartition.v2ToV1)

    /** Some(true)=drop whole file, Some(false)=retain verbatim, None=open. */
    def tupleVerdict(e: SnapshotTable.FileEntry): Option[Boolean] =
      if (partFields.isEmpty || e.tuple.isEmpty) None
      else {
        val domains = graft.storage.SnapshotPartition.fileDomains(partFields,
          graft.storage.SnapshotPartition.decodeTuple(e.tuple))
        val evals = v1.map(_.flatMap(f =>
          graft.storage.SnapshotPartition.evalFilter(f, domains)))
        import graft.storage.SnapshotPartition.TTrue
        if (evals.exists(_.exists(_ != TTrue))) Some(false)
        else if (evals.forall(_.contains(TTrue))) Some(true)
        else None
      }

    // ---- tier 2 machinery: the numeric [min,max] stats proof
    val lsOpt: Option[Seq[Leaf]] = {
      val conj = predicates.toSeq.map(leaves)
      if (conj.exists(_.isEmpty)) None
      else Some(conj.flatten.flatten)
        .filter(ls => ls.nonEmpty && !ls.exists(l => math.abs(l.value) > ExactAbs))
    }
    lazy val st = SnapshotTable.statsFull(spark, root, snap.version)

    def stat(e: SnapshotTable.FileEntry, c: String): Option[(Double, Double, Long)] =
      st.get((SnapshotTable.norm(e.path), c))
        .filter(t => math.abs(t._1) <= ExactAbs && math.abs(t._2) <= ExactAbs)

    def fullIn(l: Leaf, mn: Double, mx: Double): Boolean = l.op match {
      case "<" => mx < l.value
      case "<=" => mx <= l.value
      case ">" => mn > l.value
      case ">=" => mn >= l.value
      case "=" => mn == l.value && mx == l.value
    }
    def fullOut(l: Leaf, mn: Double, mx: Double): Boolean = l.op match {
      case "<" => mn >= l.value
      case "<=" => mn > l.value
      case ">" => mx <= l.value
      case ">=" => mx < l.value
      case "=" => l.value < mn || l.value > mx
    }

    def statsVerdict(e: SnapshotTable.FileEntry): Option[Boolean] =
      lsOpt.flatMap { ls =>
        val droppable = ls.forall { l =>
          stat(e, l.col).exists { case (mn, mx, nulls) =>
            nulls == 0L && fullIn(l, mn, mx)
          }
        }
        val keepable = ls.exists { l =>
          stat(e, l.col).exists { case (mn, mx, _) => fullOut(l, mn, mx) }
        }
        if (droppable) Some(true)
        else if (keepable) Some(false)
        else None
      }

    val kept = Seq.newBuilder[SnapshotTable.FileEntry]
    for (e <- snap.entries) {
      tupleVerdict(e).orElse(statsVerdict(e)) match {
        case Some(true) => () // dropped from the manifest
        case Some(false) => kept += e
        case None => return None // unprovable ⇒ fall back to the rewrite
      }
    }
    Some(kept.result())
  }

  /** Commit the metadata delete: survivors as version+1 (CAS on the base
    * version), stats lines of kept files carried, schema carried. Every
    * dropped file gets a `#removed` line — the proof says all its live
    * rows were deleted, so the row-level change feed can attribute the
    * removal as deletes (a retention delete stays CDF-representable). */
  def commit(spark: SparkSession, root: String,
             snap: SnapshotTable.Snapshot,
             kept: Seq[SnapshotTable.FileEntry]): Unit = {
    val keptNorm = kept.map(e => SnapshotTable.norm(e.path)).toSet
    val removed = snap.entries
      .filterNot(e => keptNorm(SnapshotTable.norm(e.path)))
      .map(e => s"#removed ${e.path}")
    val next = snap.version + 1
    SnapshotTable.publish(spark, root, next, kept,
      SnapshotTable.nextMeta(Some(snap), None) ++ removed,
      SnapshotTable.tableSchema(spark, root, snap.version),
      carryStatsFrom = Some(snap.version))
  }
}
