package graft.storage.dsv2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.RowLevelOperation
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.storage.{SnapshotPartition, SnapshotTable}

/** DataSource V2 surface for [[graft.storage.SnapshotTable]] — the
  * integration that makes the snapshot/manifest ACID layer reachable from
  * ORDINARY Spark reads instead of only the bespoke library API:
  *
  * {{{
  *   spark.read.format("graft-snapshot").load(root)                  // latest
  *   spark.read.format("graft-snapshot")
  *     .option("versionAsOf", 3).load(root)                          // time travel
  *   df.where($"k" between (1000, 1999))                             // ← pushed
  * }}}
  *
  * What the connector does with a pushed predicate (the part that matters
  * at 100 TB):
  *  1. FILE-LEVEL SKIPPING — numeric comparison filters are folded into
  *     per-column [lo, hi] intervals and tested against the version's
  *     stats sidecar ([[SnapshotTable.stats]]); files whose min/max range
  *     cannot intersect are never opened (no false negatives: a file
  *     without stats is kept). It fires from a plain `.where(...)` on a
  *     plain `spark.read`, and on every library read, which is this same
  *     scan; `SnapshotTable.readPruned` narrows the scan by the same
  *     keep-rule ([[SnapshotTable.keepByStats]]).
  *  2. ROW-GROUP SKIPPING — the same intervals become a parquet
  *     `FilterPredicate`, so row groups inside kept files prune on the
  *     footer min/max statistics.
  *  3. Everything stays BEST-EFFORT I/O reduction: every filter is also
  *     returned as a post-scan residual, so Spark re-evaluates exactly —
  *     a stats false positive costs I/O, never correctness (the contract
  *     every skipping layer in this engine follows).
  *
  * Column pruning flows through `SupportsPushDownRequiredColumns` into
  * the parquet requested-schema projection — a 2-column read of a
  * 20-column table decodes 2 columns.
  *
  * Snapshot isolation: the manifest is resolved ONCE, when the table
  * object is built; the file list is pinned for the query's lifetime
  * regardless of concurrent commits. The library API's reads
  * (`SnapshotTable.read`/`readVersion`, and the live-row reads of its
  * merge, compaction and purge) are this scan over a snapshot they
  * resolved themselves.
  *
  * Supported read schema: the flat analytic shapes this engine's tables
  * use — BOOLEAN/INT/LONG/FLOAT/DOUBLE/DATE/TIMESTAMP (INT96 and
  * INT64-annotated)/STRING/BINARY/DECIMAL plus one-level ARRAY of
  * primitives and MAP<STRING,STRING> (the Datapoint dimensions shape).
  * Deeper nesting fails fast with a clear message, never silent wrong
  * answers.
  *
  * DECODE PATH: flat-primitive scans are VECTORIZED
  * ([[SnapshotColumnarReader]] → `ColumnarBatch` → codegen'd
  * `ColumnarToRow`, ~2× the row materializer, on par with Spark's native
  * parquet scan — measured in SnapshotScaleProbe); nested/decimal scans
  * and `option("columnar","false")` use the row reader.
  */
class SnapshotDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  private def root(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-snapshot needs a table root: spark.read.format(\"graft-snapshot\").load(root)")
    // option("branch", name): every read/write/stream on this provider
    // resolves against the branch's VIRTUAL ROOT instead — staged
    // commits accumulate there and main stays untouched until
    // CALL system.publish_branch
    Option(options.get("branch")) match {
      case Some(b) =>
        val br = SnapshotTable.branchRoot(p, b)
        require(SnapshotTable.writeBranchExists(SparkSession.active, p, b),
          s"no write branch '$b' at $p — CALL system.create_branch(t, name) first")
        br
      case None => p
    }
  }

  /** Spark's load path calls [[inferSchema]] then [[getTable]] as TWO
    * separate provider calls on the same thread; a commit landing
    * between them would pin version N's schema over version N+1's
    * files. This thread-local pins ONE resolution across the pair:
    * inferSchema deposits it, getTable consumes it (and falls back to a
    * fresh resolve for direct getTable calls — the write path). */
  private val pinned =
    new ThreadLocal[Option[(String, String, SnapshotTable.Snapshot)]] {
      override def initialValue(): Option[(String, String, SnapshotTable.Snapshot)] = None
    }

  private def versionOpt(options: CaseInsensitiveStringMap): Option[String] =
    Option(options.get("versionAsOf"))

  /** Every option that changes WHICH snapshot/file-set a read resolves
    * to — the pin must key on all of them. */
  private def resolutionKey(options: CaseInsensitiveStringMap): String =
    Seq("versionAsOf", "timestampAsOf", "changesFrom", "changesTo",
      "ignoreRewrites", "branch")
      .map(k => Option(options.get(k)).getOrElse("")).mkString("/")

  /** `timestampAsOf` accepts epoch millis, `yyyy-MM-dd HH:mm:ss[.f]`,
    * or ISO-8601 instants. */
  private def parseTs(s: String): Long =
    try s.toLong
    catch { case _: NumberFormatException =>
      try java.sql.Timestamp.valueOf(s).getTime
      catch { case _: IllegalArgumentException =>
        java.time.Instant.parse(s).toEpochMilli }
    }

  private def resolve(options: CaseInsensitiveStringMap): SnapshotTable.Snapshot = {
    val spark = SparkSession.active
    val r = root(options)
    Option(options.get("changesFrom")).map(_.toLong) match {
      case Some(from) =>
        // CHANGE-FEED read: the "snapshot" is the files ADDED in
        // (changesFrom, changesTo|latest] — an append-only CDC view
        val to = Option(options.get("changesTo")).map(_.toLong)
          .orElse(SnapshotTable.latest(spark, r).map(_.version))
          .getOrElse(throw new IllegalStateException(
            s"no committed snapshot at $r"))
        SnapshotTable.Snapshot(to,
          SnapshotTable.changedEntries(spark, r, from, to,
            options.getBoolean("ignoreRewrites", false)))
      case None => (versionOpt(options), Option(options.get("timestampAsOf"))) match {
        case (Some(_), Some(_)) => throw new IllegalArgumentException(
          "versionAsOf and timestampAsOf are mutually exclusive")
        case (Some(v), None) =>
          // a non-numeric versionAsOf is a REF name (tag/branch)
          val ver =
            try v.toLong
            catch { case _: NumberFormatException =>
              SnapshotTable.resolveRef(spark, r, v).getOrElse(
                throw new IllegalArgumentException(
                  s"versionAsOf '$v' is neither a version nor a ref at $r"))
            }
          SnapshotTable.snapshot(spark, r, ver)
        case (None, Some(ts)) =>
          val cutoff = parseTs(ts)
          val v = SnapshotTable.versionAt(spark, r, cutoff).getOrElse(
            throw new IllegalArgumentException(
              s"timestampAsOf $ts predates the earliest retained version at $r"))
          SnapshotTable.snapshot(spark, r, v)
        case (None, None) => SnapshotTable.latest(spark, r).getOrElse(
          throw new IllegalStateException(s"no committed snapshot at $r"))
      }
    }
  }

  private def historyRead(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("history", false)

  private def partitionsRead(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("partitions", false)

  private def cdfRead(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("changeFeed", false)

  private def refsRead(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("refs", false)

  /** The CDF read's base schema: the table's columns at the window's
    * end (or latest), refusing name collisions with the change columns. */
  private def cdfBaseSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val r = root(options)
    val to = Option(options.get("changesTo")).map(_.toLong)
      .orElse(SnapshotTable.latest(spark, r).map(_.version))
      .getOrElse(throw new IllegalStateException(s"no committed snapshot at $r"))
    val sc = SnapshotTable.tableSchema(spark, r, to).getOrElse(
      throw new IllegalStateException(s"no schema sidecar at $r"))
    require(!sc.fieldNames.contains(SnapshotCdfTable.ChangeType) &&
      !sc.fieldNames.contains(SnapshotCdfTable.CommitVersion),
      s"change-feed reads reserve ${SnapshotCdfTable.ChangeType}/" +
        s"${SnapshotCdfTable.CommitVersion}; the table already has such a column")
    sc
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    if (historyRead(options)) return SnapshotHistoryTable.SCHEMA
    if (partitionsRead(options)) return SnapshotPartitionsTable.SCHEMA
    if (refsRead(options)) return SnapshotRefsTable.SCHEMA
    if (cdfRead(options))
      return SnapshotCdfTable.cdfSchema(cdfBaseSchema(options))
    val snap = resolve(options)
    pinned.set(Some((root(options), resolutionKey(options), snap)))
    // the version's schema sidecar wins (it can be WIDER than any one
    // file after add-column evolution); footer inference is the
    // fallback for pre-evolution tables (one footer, driver-side)
    schemaOf(options, snap)
      .getOrElse(throw new IllegalStateException(
        s"empty snapshot with no schema sidecar at ${root(options)}"))
  }

  private def schemaOf(options: CaseInsensitiveStringMap,
                       snap: SnapshotTable.Snapshot): Option[StructType] =
    SnapshotTable.schemaOf(SparkSession.active, root(options), snap)

  /** Writes hand us the frame's schema directly (that is how the first
    * ever write can CREATE the table — there is nothing to infer yet). */
  override def supportsExternalMetadata(): Boolean = true

  private def sameShape(a: StructType, b: StructType): Boolean =
    SnapshotTable.nullableSchema(a).fields.map(f => (f.name, f.dataType)).toSeq ==
      SnapshotTable.nullableSchema(b).fields.map(f => (f.name, f.dataType)).toSeq

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    if (historyRead(options)) return new SnapshotHistoryTable(root(options))
    if (partitionsRead(options))
      return new SnapshotPartitionsTable(root(options), resolve(options))
    if (refsRead(options)) return new SnapshotRefsTable(root(options))
    if (cdfRead(options))
      return new SnapshotCdfTable(root(options), cdfBaseSchema(options), options)
    // absent table ⇒ readable only after a first write commits. The
    // pinned resolution (from the inferSchema call that produced
    // `schema`) keeps both calls on ONE version; the passed-in schema is
    // kept verbatim — on the read path it IS this snapshot's schema, on
    // the write path it is the frame's schema and the write contract
    // validates it against the table at commit time.
    val hit = pinned.get() match {
      case Some((r, k, snap)) if r == root(options) && k == resolutionKey(options) =>
        pinned.remove(); Some(snap)
      case _ => pinned.remove(); None
    }
    val snapOpt =
      try {
        hit match {
          case Some(snap) => Some(snap)
          case None =>
            val snap = resolve(options)
            // PIN-MISS HARDENING: if Spark ever splits the inferSchema/
            // getTable pair across threads, this fresh resolve could land
            // on a version committed AFTER `schema` was inferred — pairing
            // version N's schema with version N+1's files. Detect the
            // drift (the passed schema differs from the resolved
            // version's) and re-pin to the newest version whose sidecar
            // MATCHES the passed schema, so the pair stays internally
            // consistent. No match ⇒ this is the WRITE path (the frame's
            // schema is arbitrary) and the resolved latest is correct.
            // versionAsOf and change-feed reads are exact by construction.
            if (versionOpt(options).isDefined ||
                options.containsKey("timestampAsOf") ||
                options.containsKey("changesFrom")) Some(snap)
            else {
              val spark = SparkSession.active
              val r = root(options)
              if (schemaOf(options, snap).forall(sameShape(_, schema))) Some(snap)
              else SnapshotTable.versions(spark, r).reverse.iterator
                .map(v => (v, SnapshotTable.tableSchema(spark, r, v)))
                .collectFirst { case (v, Some(s)) if sameShape(s, schema) =>
                  SnapshotTable.snapshot(spark, r, v) }
                .orElse(Some(snap))
            }
        }
      } catch { case _: IllegalStateException => None }
    new SnapshotTableV2(root(options), snapOpt, schema,
      modes = SnapshotTableV2.modesOf(options))
  }
}

object SnapshotTableV2 {
  /** Row-level mode overrides from table/read OPTIONS
    * (`deleteMode`/`updateMode`/`mergeMode` =
    * `copy-on-write`|`merge-on-read`). */
  def modesOf(options: CaseInsensitiveStringMap): Map[String, String] =
    Seq("delete" -> "deleteMode", "update" -> "updateMode",
        "merge" -> "mergeMode").flatMap { case (cmd, key) =>
      Option(options.get(key)).map(cmd -> _)
    }.toMap
}

/** A pinned snapshot version exposed as a V2 table (None until the first
  * write commits — write-created tables start unreadable).
  * `SupportsRowLevelOperations` is what routes `DELETE FROM` / `UPDATE` /
  * `MERGE INTO` SQL into [[SnapshotRowLevelOperation]]'s group-based
  * copy-on-write rewrite. */
final class SnapshotTableV2(root: String, snap: Option[SnapshotTable.Snapshot],
                            schema: StructType,
                            modes: Map[String, String] = Map.empty)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** Row-ID metadata columns (`_file` the data file's path, `_pos` the
    * row's ordinal within it) — what the MERGE-ON-READ delta path keys
    * deletion vectors on, and independently useful for debugging
    * (`SELECT _file, _pos, * FROM t`). Real table columns of the same
    * name shadow them (Spark hides conflicting metadata columns). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = Array(
    SnapshotMetaColumns.File, SnapshotMetaColumns.Pos)

  /** The command's effective write mode: explicit table OPTIONS >
    * the manifest's `#rowlevel` line > copy-on-write. */
  private def modeOf(cmd: RowLevelOperation.Command): String = {
    val key = cmd match {
      case RowLevelOperation.Command.DELETE => "delete"
      case RowLevelOperation.Command.UPDATE => "update"
      case RowLevelOperation.Command.MERGE => "merge"
    }
    modes.get(key)
      .orElse(snap.flatMap(_.rowLevelModes.get(key)))
      .getOrElse("copy-on-write")
  }

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val s = snap.getOrElse(throw new IllegalStateException(
      s"no committed snapshot at $root — nothing to ${info.command} yet"))
    modeOf(info.command) match {
      case "merge-on-read" =>
        () => new SnapshotDeltaOperation(root, s, schema, info.command)
      case "copy-on-write" =>
        () => new SnapshotRowLevelOperation(root, s, schema, info.command)
      case other => throw new IllegalArgumentException(
        s"unsupported row-level mode '$other' for ${info.command} " +
          "(copy-on-write | merge-on-read)")
    }
  }

  /** METADATA-ONLY DELETE: eligible when the stats sidecar proves every
    * file fully in or fully out of the delete region (see
    * [[SnapshotMetadataDelete]]) — then the delete is one manifest
    * commit with fewer entries. Ineligible deletes fall back to the
    * group-based copy-on-write rewrite above. */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    snap.exists(s => SnapshotMetadataDelete
      .plan(SparkSession.active, root, s, predicates).isDefined)

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val spark = SparkSession.active
    val s = snap.getOrElse(throw new IllegalStateException(
      s"no committed snapshot at $root"))
    val kept = SnapshotMetadataDelete.plan(spark, root, s, predicates)
      .getOrElse(throw new IllegalStateException(
        "deleteWhere called for an unprovable predicate — canDeleteWhere " +
          "should have refused it"))
    SnapshotMetadataDelete.commit(spark, root, s, kept)
  }

  override def truncateTable(): Boolean = {
    val spark = SparkSession.active
    val s = snap.getOrElse(throw new IllegalStateException(
      s"no committed snapshot at $root"))
    SnapshotMetadataDelete.commit(spark, root, s, Seq.empty)
    true
  }
  override def name(): String =
    s"graft-snapshot:$root@v${snap.map(_.version).getOrElse(0L)}"
  override def schema(): StructType = schema
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    snap.map(_.partitionFields).getOrElse(Seq.empty).map { f =>
      f.transform match {
        case "identity" => Expressions.identity(f.col)
        case "days" => Expressions.days(f.col)
        case "months" => Expressions.months(f.col)
        case "hours" => Expressions.hours(f.col)
        case "bucket" => Expressions.bucket(f.n, f.col)
        case other => throw new IllegalStateException(s"unknown transform $other")
      }
    }.toArray
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.OVERWRITE_BY_FILTER)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val s = snap.getOrElse(throw new IllegalStateException(
      s"no committed snapshot at $root"))
    new SnapshotScanBuilder(root, s, schema,
      columnar = options.getBoolean("columnar", true),
      startingVersion = Option(options.get("startingVersion")).map(_.toLong),
      ignoreRewrites = options.getBoolean("ignoreRewrites", false),
      maxVersionsPerTrigger =
        Option(options.get("maxVersionsPerTrigger")).map(_.toLong))
  }
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new SnapshotWriteBuilder(root, info.schema(),
      Option(info.options.get("statsCols"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty),
      Option(info.options.get("mergeSchema")).exists(_.equalsIgnoreCase("true")),
      queryId = info.queryId(),
      // partitioning/sort order are TABLE properties: an existing
      // table's spec always wins; these options only shape a table the
      // first write CREATES
      createPartitionBy = Option(info.options.get("partitionBy"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty),
      createSortBy = Option(info.options.get("sortBy"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty),
      createRowLevelModes = SnapshotTableV2.modesOf(info.options),
      upsertKeys = Option(info.options.get("upsertKeys"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty),
      maxUpsertDebt = Option(info.options.get("maxUpsertDebt"))
        .map(_.toDouble))
}

/** Scan builder: collects pushed filters + required columns, prunes the
  * file list through the stats sidecar at `build()`. A bare `count(*)`
  * (no filters, no grouping) short-circuits to the parquet footers'
  * record counts — the metadata-only answer every manifest format gives,
  * and the difference between a second and an hour on a 100 TB table. */
final class SnapshotScanBuilder(root: String, snap: SnapshotTable.Snapshot,
                                fullSchema: StructType,
                                columnar: Boolean = true,
                                startingVersion: Option[Long] = None,
                                ignoreRewrites: Boolean = false,
                                maxVersionsPerTrigger: Option[Long] = None)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var accepted: Array[Filter] = Array.empty
  private var consumedPart: Array[Filter] = Array.empty
  private var sawFilters = false
  private var allConsumed = false
  private var countStar = false

  /** The table's partition fields resolved against this read's schema
    * (empty when unpartitioned, or when a source column is missing — a
    * pre-partitioning time-travel version reads as unpartitioned). */
  private val partFields
      : Seq[(SnapshotPartition.PartitionField, org.apache.spark.sql.types.DataType)] =
    SnapshotPartition.fieldsOf(snap.partitionSpecs, fullSchema)

  /** Entries surviving exact partition pruning (all of them when the
    * table is unpartitioned or no partition predicate was pushed). */
  private var partKept: Seq[SnapshotTable.FileEntry] = snap.entries

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Two pushdown tiers. (1) Partition predicates over the manifest's
    * EXACT tuples: files whose tuple makes the predicate definitely
    * non-True are dropped, and a predicate decidable for EVERY file is
    * CONSUMED (not returned as residual — every surviving row satisfies
    * it by construction). (2) The numeric comparison shapes the stats
    * sidecar can use stay residual — stats pruning only cuts I/O, Spark
    * keeps exact post-scan evaluation (stats false positives cost reads,
    * never wrong rows). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    sawFilters = filters.nonEmpty
    accepted = filters.filter(f => SnapshotFilters.bound(f).isDefined)
    if (partFields.isEmpty) return filters
    val residual = Array.newBuilder[Filter]
    val consumed = Array.newBuilder[Filter]
    var entries = snap.entries
    filters.foreach { f =>
      if (SnapshotPartition.referencesOnlyPartitionCols(f, partFields)) {
        val (kept, decidableAll) =
          SnapshotPartition.pruneEntries[SnapshotTable.FileEntry](
            entries, _.tuple, f, partFields)
        entries = kept
        if (decidableAll) consumed += f else residual += f
      } else residual += f
    }
    partKept = entries
    consumedPart = consumed.result()
    val res = residual.result()
    allConsumed = res.isEmpty
    res
  }

  override def pushedFilters(): Array[Filter] = accepted ++ consumedPart

  /** Bare `count(*)`: no grouping, one CountStar, and no filter Spark
    * still needs evaluated — either none were pushed, or every one was a
    * consumed partition predicate (then the count is the PRUNED file
    * set's manifest row sum: a partition-filtered count(*) is still one
    * manifest read). */
  private def isBareCountStar(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    (!sawFilters || allConsumed) && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar] &&
      // equality deletes make manifest counts inexact (membership needs
      // the data): fall back to the real scan, which applies them
      snap.entries.forall(e => snap.eqDeletesFor(e).isEmpty)

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    isBareCountStar(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    countStar = isBareCountStar(agg)
    countStar
  }

  override def build(): Scan = {
    if (countStar) {
      // the manifest recorded each file's row count at commit time —
      // count(*) is ONE manifest read over the (partition-pruned) entry
      // set. Footers are the fallback for legacy path-only manifests
      // (still exact: immutable files).
      val total =
        if (partKept.forall(_.rows >= 0L)) partKept.map(_.liveRows).sum
        else {
          val conf = SparkSession.active.sessionState.newHadoopConf()
          partKept.map { e =>
            val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                new org.apache.hadoop.fs.Path(e.path), conf))
            // merge-on-read deletes subtract from the footer count too
            try fr.getRecordCount - e.dvRows finally fr.close()
          }.sum
        }
      return new SnapshotCountScan(root, snap.version, partKept.size, total)
    }
    buildRowScan()
  }

  /** STORAGE-PARTITIONED JOIN grouping: when the session opted into V2
    * bucketing, the spec is identity-only, and every planned file
    * carries a full tuple, group the planned files by tuple and report
    * `KeyGroupedPartitioning` — two snapshot tables partitioned alike
    * then join on their partition columns with NO shuffle on either
    * side. Gated on the conf (Iceberg's rule too) because grouping
    * collapses read parallelism to one task per partition — a cost only
    * worth paying when the planner can actually elide a shuffle. */
  private def spjGroups(keep: Seq[String])
      : Option[(Array[org.apache.spark.sql.connector.expressions.Expression],
                Seq[(org.apache.spark.sql.catalyst.InternalRow, Seq[String])])] = {
    val spark = SparkSession.active
    if (!spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
        .equalsIgnoreCase("true")) return None
    if (partFields.isEmpty || partFields.exists(_._1.transform != "identity"))
      return None
    val keepSet = keep.map(SnapshotTable.norm).toSet
    val entries = partKept.filter(e => keepSet(SnapshotTable.norm(e.path)))
    val keys = partFields.map(_._1.key)
    val decoded = entries.map(e => e -> SnapshotPartition.decodeTuple(e.tuple))
    if (decoded.exists { case (_, t) => !keys.forall(t.contains) }) return None
    val groups = decoded.groupBy { case (_, t) => keys.map(t(_)) }.toSeq
      .sortBy(_._1.map(_.getOrElse("\u0000")).mkString("\u0001"))
      .map { case (vals, es) =>
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          partFields.zip(vals).map { case ((_, dt), v) =>
            v.map(SnapshotPartition.internalOfCanonical(dt, _)).orNull
          }.toArray[Any])
        (row: org.apache.spark.sql.catalyst.InternalRow, es.map(_._1.path))
      }
    val exprs = partFields.map { case (f, _) =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(f.col)
        .asInstanceOf[org.apache.spark.sql.connector.expressions.Expression]
    }.toArray
    Some((exprs, groups))
  }

  private def buildRowScan(): Scan = {
    val spark = SparkSession.active
    val bounds = SnapshotFilters.intervals(accepted)
    // ONE read of the version's stats sidecar serves file pruning, the
    // equality-delete key-range skip and the CBO column stats below
    val statLines = SnapshotTable.statsRaw(spark, root, snap.version)
    val st = statLines.map(l => (l.file, l.col) -> (l.mn, l.mx)).toMap
    val keep = SnapshotTable.keepByStats(partKept.map(_.path), st, bounds)
    // size statistics so the join planner sees a REAL sizeInBytes —
    // without reported statistics a V2 table defaults to "huge" and
    // never wins a broadcast. The manifest recorded byte sizes at
    // commit time (zero RPCs); legacy path-only manifests fall back to
    // ONE listStatus per staging directory (O(dirs), not O(files)).
    val bytesByNorm = snap.entries.collect {
      case e if e.bytes >= 0L => SnapshotTable.norm(e.path) -> e.bytes
    }.toMap
    val keepSet = keep.map(SnapshotTable.norm).toSet
    val bytes =
      if (keepSet.forall(bytesByNorm.contains))
        keepSet.toSeq.map(bytesByNorm).sum
      else {
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        keep.map(f => new org.apache.hadoop.fs.Path(f).getParent)
          .distinct.flatMap { dir =>
            try fs.listStatus(dir).toSeq
            catch { case _: java.io.IOException => Seq.empty }
          }
          .filter(s => keepSet(SnapshotTable.norm(s.getPath.toString)))
          .map(_.getLen).sum
      }
    // merge-on-read: the planned files' deletion vectors ride the scan
    // so readers subtract deleted positions; `_file`/`_pos` metadata
    // columns are emitted only when requested AND not shadowed by real
    // table columns of the same name
    val dvByFile = partKept.collect {
      case e if e.dv.nonEmpty && keepSet(SnapshotTable.norm(e.path)) =>
        SnapshotTable.norm(e.path) -> e.dv
    }.toMap
    val metaNames = Set("_file", "_pos")
    val emitMeta = required.fieldNames.exists(metaNames) &&
      !fullSchema.fieldNames.exists(metaNames)
    // PLANNER STATISTICS from the manifest + NDV sketches: exact live
    // row counts (commit-time footer counts minus deletion vectors) and
    // per-column distinct/null counts (theta-sketch union over the
    // PLANNED files — pruning shrinks the estimate with the scan). With
    // CBO on, these are what let a selective filter flip a join to
    // broadcast that scan bytes alone never could.
    val keptEntries = partKept.filter(e => keepSet(SnapshotTable.norm(e.path)))
    // EQUALITY deletes (streaming upsert): per planned file, the
    // sidecars committed after it — readers drop matching-key rows
    val (eqByFile, eqKeys) = snap.eqPlanFor(keptEntries, st)
    val reportRows: Option[Long] =
      if (eqByFile.nonEmpty) None // key-matched rows are uncountable here
      else if (keptEntries.forall(_.rows >= 0L))
        Some(keptEntries.map(_.liveRows).sum)
      else None
    // column stats come from carried-forward sidecar lines that still
    // count merge-on-read-deleted rows, while numRows above is exact
    // LIVE rows — mixing the two can hand the CBO nullCount > numRows
    // after a large vectored delete. Skip the (advisory) column hint
    // for scans whose planned files carry vectors; compaction restores it.
    val colStats: Map[String, (Long, Long)] =
      if (dvByFile.nonEmpty || eqByFile.nonEmpty) Map.empty
      else statLines
        .filter(l => keepSet(l.file)).groupBy(_.col).flatMap { case (c, ls) =>
          // complete coverage only: every planned file must carry a
          // sketch + null count for the column, else no hint
          if (ls.size == keptEntries.size && ls.forall(_.ndv.isDefined) &&
              ls.forall(_.nulls >= 0L))
            SnapshotTable.ndvUnion(ls.flatMap(_.ndv))
              .map(nd => c -> (nd, ls.map(_.nulls).sum))
          else None
        }
    // per-file column mapping under rename/drop events (empty for the
    // common no-DDL table): pre-DDL files read their PHYSICAL names
    val colMap = SnapshotTable.colMapFor(snap,
      (required.fieldNames ++ fullSchema.fieldNames ++ eqKeys).distinct.toSeq)
    new SnapshotScan(root, snap.version, keep, snap.files.size, bytes, required,
      accepted, spark.sessionState.newHadoopConf(), columnar,
      startingVersion, ignoreRewrites, spj = spjGroups(keep),
      dvByFile = dvByFile, emitMeta = emitMeta,
      maxVersionsPerTrigger = maxVersionsPerTrigger,
      reportRows = reportRows, colStats = colStats,
      eqByFile = eqByFile, eqKeys = eqKeys, fullSchema = fullSchema,
      colMapByFile = colMap)
  }
}

/** Interval folding for v1 `Filter`s: the comparison shapes whose file /
  * row-group pruning is expressible as a per-column [lo, hi] band. */
object SnapshotFilters {

  private def num(v: Any): Option[Double] = v match {
    case n: Number => Some(n.doubleValue())
    case _ => None
  }

  /** (column, lo, hi) for one supported leaf filter; None ⇒ unsupported
    * (strict bounds widen to non-strict — conservative for min/max). */
  def bound(f: Filter): Option[(String, Double, Double)] = f match {
    case sources.EqualTo(c, v) => num(v).map(x => (c, x, x))
    case sources.GreaterThan(c, v) => num(v).map(x => (c, x, Double.PositiveInfinity))
    case sources.GreaterThanOrEqual(c, v) => num(v).map(x => (c, x, Double.PositiveInfinity))
    case sources.LessThan(c, v) => num(v).map(x => (c, Double.NegativeInfinity, x))
    case sources.LessThanOrEqual(c, v) => num(v).map(x => (c, Double.NegativeInfinity, x))
    case _ => None
  }

  /** Conjunction of the accepted leaves, folded per column. */
  def intervals(filters: Array[Filter]): Map[String, (Double, Double)] =
    filters.flatMap(bound).foldLeft(Map.empty[String, (Double, Double)]) {
      case (m, (c, lo, hi)) =>
        val (l0, h0) = m.getOrElse(c, (Double.NegativeInfinity, Double.PositiveInfinity))
        m.updated(c, (math.max(l0, lo), math.min(h0, hi)))
    }
}

/** The scan: a pinned, pruned file list. One input partition per data
  * file (snapshot files are write-sized; at 100 TB a file is one
  * executor-task-sized unit, the same granularity every manifest-format
  * reader schedules). */
final class SnapshotScan(root: String, version: Long, files: Seq[String],
                         totalFiles: Int, sizeBytes: Long, required: StructType,
                         pushed: Array[Filter], conf: Configuration,
                         columnar: Boolean = true,
                         startingVersion: Option[Long] = None,
                         ignoreRewrites: Boolean = false,
                         spj: Option[(Array[org.apache.spark.sql.connector.expressions.Expression],
                           Seq[(InternalRow, Seq[String])])] = None,
                         dvByFile: Map[String, String] = Map.empty,
                         emitMeta: Boolean = false,
                         maxVersionsPerTrigger: Option[Long] = None,
                         reportRows: Option[Long] = None,
                         colStats: Map[String, (Long, Long)] = Map.empty,
                         eqByFile: Map[String, Seq[String]] = Map.empty,
                         eqKeys: Seq[String] = Seq.empty,
                         fullSchema: StructType = new StructType(),
                         colMapByFile: Map[String, Map[String, Option[String]]] = Map.empty)
  extends Scan with Batch with SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Key-grouped when SPJ-eligible (see `spjGroups`), else unknown —
    * reporting the grouping is what lets Catalyst plan a co-located
    * join with no exchange on this side. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spj match {
      case Some((exprs, groups)) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(exprs, groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(files.size)
    }

  /** STREAMING read: the table as a stream of committed versions —
    * each micro-batch is the files APPENDED by the versions between two
    * offsets (offset = snapshot version). `startingVersion` 0 replays
    * the whole table first (the default); N starts after version N;
    * the special value -1 starts at the CURRENT latest (new commits
    * only). Rewrite versions mid-stream fail loudly unless
    * `ignoreRewrites` (see [[SnapshotTable.changedEntries]]). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val start = startingVersion match {
      case Some(-1L) => version // the pinned latest at stream start
      case Some(v) => v
      case None => 0L
    }
    new SnapshotMicroBatchStream(root, start, required,
      new SerializableHadoopConf(conf),
      columnar && SnapshotColumnar.supported(required), ignoreRewrites,
      maxVersionsPerTrigger)
  }

  /** Planner statistics: the pruned-file byte total (lets Catalyst
    * broadcast a small snapshot table, or a well-pruned read of a big
    * one), the EXACT live row count from the manifest (commit-time
    * footer counts minus deletion vectors), and per-column
    * distinct/null counts from the sidecar's theta-sketch union — with
    * `spark.sql.cbo.enabled`, `FilterEstimation` turns an equality on a
    * sketched column into rows/NDV, flipping selective joins to
    * broadcast where scan bytes alone would sort-merge. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(sizeBytes)
    override def numRows(): java.util.OptionalLong =
      reportRows.map(java.util.OptionalLong.of)
        .getOrElse(java.util.OptionalLong.empty())
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      colStats.foreach { case (c, (nd, nulls)) =>
        m.put(org.apache.spark.sql.connector.expressions.Expressions.column(c),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(nd)
            override def nullCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(nulls)
          })
      }
      m
    }
  }

  /** Plan-visible skipping evidence (`files=<kept>/<total>`), decode
    * mode (`mode=columnar|row`), and merge-on-read evidence (`dv=<n>`
    * planned files carrying deletion vectors). */
  override def description(): String =
    s"graft-snapshot root=$root version=$version " +
      s"files=${files.size}/$totalFiles " +
      s"mode=${if (columnarMode) "columnar" else "row"} " +
      s"dv=${dvByFile.size} eq=${eqByFile.size} " +
      s"pushed=[${pushed.mkString(", ")}] columns=${required.fieldNames.mkString(",")}"

  /** Columnar when enabled and the projected schema is the surface the
    * vectorized reader covers. Deletion vectors NO LONGER force row mode:
    * DV-bearing files decode vectorized and drop deleted ordinals via a
    * per-batch selection remap ([[DvApplyColumnarReader]]) — one small
    * delete must not de-vectorize a whole-table scan. Only scans emitting
    * the `_file`/`_pos` metadata columns stay row-based (ordinals are
    * materialized per row there). */
  def columnarMode: Boolean =
    columnar && SnapshotColumnar.supported(required) && !emitMeta

  /** Exposed for tests/tools asserting file-level skipping. */
  def plannedFiles: Seq[String] = files
  def totalFileCount: Int = totalFiles

  override def planInputPartitions(): Array[InputPartition] = spj match {
    case Some((_, groups)) =>
      groups.map { case (key, fs) =>
        SnapshotTupleGroupPartition(fs, key): InputPartition
      }.toArray
    case None => files.map(f => SnapshotFilePartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotReaderFactory(required, SnapshotFilters.intervals(pushed),
      new SerializableHadoopConf(conf), columnarMode,
      dvByFile = dvByFile, emitMeta = emitMeta,
      eqByFile = eqByFile, eqKeys = eqKeys, fullSchema = fullSchema,
      colMapByFile = colMapByFile)
}

final case class SnapshotFilePartition(file: String) extends InputPartition

/** One partition VALUE's whole file set as a single input partition —
  * the unit a storage-partitioned join aligns on. */
final case class SnapshotTupleGroupPartition(files: Seq[String],
                                             key: InternalRow)
  extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** DESCRIBE HISTORY through the connector:
  * `spark.read.format("graft-snapshot").option("history", true)
  * .load(root)` — one row per retained version, computed driver-side
  * from the manifests (a `LocalScan`: no executor work for metadata). */
object SnapshotHistoryTable {
  import org.apache.spark.sql.types._
  val SCHEMA: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("total_bytes", LongType, nullable = false),
    StructField("txn_batch", LongType, nullable = true),
    StructField("has_schema", BooleanType, nullable = false),
    StructField("total_rows", LongType, nullable = true),
    StructField("eq_keys_in_force", LongType, nullable = false),
    StructField("upsert_debt", DoubleType, nullable = true)))
}

/** SHOW PARTITIONS through the connector:
  * `spark.read.format("graft-snapshot").option("partitions", true)
  * .load(root)` — one row per distinct partition tuple with its file
  * count and manifest-recorded row/byte totals, computed driver-side
  * from ONE manifest read (a `LocalScan`: zero executor work, zero data
  * I/O — the observability face of exact-tuple partitioning). Respects
  * versionAsOf/timestampAsOf like any other read; files without a tuple
  * (an unpartitioned table, pre-partitioning legacy files) group under
  * the empty partition string. */
object SnapshotPartitionsTable {
  import org.apache.spark.sql.types._
  val SCHEMA: StructType = StructType(Seq(
    StructField("partition", StringType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("total_rows", LongType, nullable = true),
    StructField("total_bytes", LongType, nullable = true)))

  /** Human form of a stored tuple: `key=value/...` in spec order,
    * NULL spelled `null`. */
  def humanTuple(specs: Seq[String], tuple: String): String = {
    val decoded = SnapshotPartition.decodeTuple(tuple)
    val keys = specs.map(s => SnapshotPartition.parseField(s).key)
    keys.flatMap(k => decoded.get(k).map(v => s"$k=${v.getOrElse("null")}"))
      .mkString("/")
  }
}

final class SnapshotPartitionsTable(root: String, snap: SnapshotTable.Snapshot)
  extends Table with SupportsRead {
  override def name(): String = s"graft-snapshot-partitions:$root@v${snap.version}"
  override def schema(): StructType = SnapshotPartitionsTable.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new Scan with org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = SnapshotPartitionsTable.SCHEMA
          override def description(): String =
            s"graft-snapshot partitions root=$root v${snap.version} (driver-side metadata)"
          override def rows(): Array[InternalRow] = {
            val specs = snap.partitionSpecs
            snap.entries.groupBy(e =>
              SnapshotPartitionsTable.humanTuple(specs, e.tuple))
              .toSeq.sortBy(_._1)
              .map { case (part, es) =>
                new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                  Array[Any](
                    org.apache.spark.unsafe.types.UTF8String.fromString(part),
                    es.size.toLong,
                    // equality deletes make manifest counts inexact
                    // (key membership needs the data) — report unknown
                    if (es.forall(_.rows >= 0L) &&
                        es.forall(e => snap.eqDeletesFor(e).isEmpty))
                      Long.box(es.map(_.liveRows).sum)
                    else null,
                    if (es.forall(_.bytes >= 0L)) Long.box(es.map(_.bytes).sum)
                    else null))
              }.toArray
          }
        }
    }
}

final class SnapshotHistoryTable(root: String) extends Table with SupportsRead {
  override def name(): String = s"graft-snapshot-history:$root"
  override def schema(): StructType = SnapshotHistoryTable.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new Scan with org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = SnapshotHistoryTable.SCHEMA
          override def description(): String =
            s"graft-snapshot history root=$root (driver-side metadata)"
          override def rows(): Array[InternalRow] =
            SnapshotTable.historyRows(SparkSession.active, root).map {
              case (v, ts, nFiles, bytes, txn, hasSchema, rowsOpt, eqKeys,
                    debt) =>
                new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                  Array[Any](v, ts.getTime * 1000L, nFiles, bytes,
                    txn.map(Long.box).orNull, hasSchema,
                    rowsOpt.map(Long.box).orNull, eqKeys,
                    debt.map(Double.box).orNull))
            }.toArray
        }
    }
}

/** SHOW REFS: `option("refs", true)` lists the table's tags and
  * branches — (name, kind, version) from one refs-file read, a
  * driver-side LocalScan like SHOW PARTITIONS / DESCRIBE HISTORY. */
object SnapshotRefsTable {
  val SCHEMA: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("name",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("kind",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("version",
      org.apache.spark.sql.types.LongType, nullable = false)))
}

final class SnapshotRefsTable(root: String) extends Table with SupportsRead {
  override def name(): String = s"graft-snapshot-refs:$root"
  override def schema(): StructType = SnapshotRefsTable.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new Scan with org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = SnapshotRefsTable.SCHEMA
          override def description(): String =
            s"graft-snapshot refs root=$root (driver-side metadata)"
          override def rows(): Array[InternalRow] =
            SnapshotTable.refs(SparkSession.active, root).toSeq.sortBy(_._1)
              .map { case (n, (k, v)) =>
                new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                  Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(n),
                    org.apache.spark.unsafe.types.UTF8String.fromString(k), v))
                  : InternalRow
              }.toArray
        }
    }
}

/** Stream offset = committed snapshot version (monotone, exactly the
  * unit the manifest log already totally orders). */
final case class SnapshotOffset(version: Long)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

/** The snapshot table as a Structured Streaming source: offsets are
  * snapshot versions, a micro-batch reads the files APPENDED in
  * `(start, end]` (the same change-feed walk as
  * [[SnapshotTable.changedEntries]], so replays are deterministic: a
  * version range always names the same files). Exactly-once falls out
  * of immutable files + checkpointed offsets. Metadata work per batch
  * is a handful of manifest reads.
  *
  * ADMISSION CONTROL ([[SupportsTriggerAvailableNow]] ⊃
  * `SupportsAdmissionControl`): `option("maxVersionsPerTrigger", n)`
  * bounds each micro-batch to n committed versions, so a backfill from
  * version 0 of a big table drains as bounded batches instead of one
  * giant one; `Trigger.AvailableNow` pins the end offset at stream
  * start and terminates there — both composing with checkpointed
  * exactly-once (offsets are versions either way). */
final class SnapshotMicroBatchStream(root: String, startVersion: Long,
                                     required: StructType,
                                     conf: SerializableHadoopConf,
                                     columnar: Boolean,
                                     ignoreRewrites: Boolean,
                                     maxVersionsPerTrigger: Option[Long] = None)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def spark = SparkSession.active

  maxVersionsPerTrigger.foreach(n =>
    require(n >= 1, s"maxVersionsPerTrigger must be >= 1, got $n"))

  /** Trigger.AvailableNow's pinned end: set once at stream start. */
  @volatile private var availableNowEnd: Option[Long] = None

  private def newestCommitted: Long =
    SnapshotTable.latest(spark, root).map(_.version).getOrElse(startVersion)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(newestCommitted)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SnapshotOffset].version
    val newest = availableNowEnd.fold(newestCommitted)(math.min(newestCommitted, _))
    val capped = maxVersionsPerTrigger.fold(newest)(n => math.min(newest, s + n))
    SnapshotOffset(math.max(s, capped))
  }

  override def reportLatestOffset(): Offset = SnapshotOffset(newestCommitted)

  override def initialOffset(): Offset = SnapshotOffset(startVersion)

  override def latestOffset(): Offset = SnapshotOffset(newestCommitted)

  override def deserializeOffset(json: String): Offset =
    SnapshotOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SnapshotOffset].version
    val e = end.asInstanceOf[SnapshotOffset].version
    if (e <= s) Array.empty
    else {
      val ens = SnapshotTable.changedEntries(spark, root, s, e, ignoreRewrites)
      // the stream reads with the schema pinned at START: a replayed
      // file that predates an in-force column rename/drop would misread
      // under those (post-DDL) names — refuse loudly
      val evs = SnapshotTable.latest(spark, root).toSeq.flatMap(_.colEvents)
      ens.find(en => evs.exists(ev => en.addV < 0L || en.addV < ev._1))
        .foreach { en =>
          throw new UnsupportedOperationException(
            s"streaming read of $root replays ${en.path}, which predates " +
              "a column rename/drop — start the stream after the DDL " +
              "version (startingVersion), or compact the table first")
        }
      ens.map(en => SnapshotFilePartition(en.path): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotReaderFactory(required, Map.empty, conf, columnar)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def toString: String =
    s"graft-snapshot-stream root=$root from=v$startVersion"
}

/** The metadata-only `count(*)` scan: one partition, one row, the
  * footer-summed record count — no data file is ever opened. */
final class SnapshotCountScan(root: String, version: Long, nFiles: Int,
                              val count: Long) extends Scan with Batch {
  override def readSchema(): StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("count_star",
      org.apache.spark.sql.types.LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-snapshot metadata-count root=$root version=$version " +
      s"files=$nFiles count=$count (no data read)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(SnapshotCountPartition(count))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val c = p.asInstanceOf[SnapshotCountPartition].count
          private var emitted = false
          override def next(): Boolean = !emitted && { emitted = true; true }
          override def get(): InternalRow =
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](c))
          override def close(): Unit = ()
        }
    }
}

final case class SnapshotCountPartition(count: Long) extends InputPartition

/** Hadoop `Configuration` is not `Serializable`; ship it with its own
  * wire format (the standard connector-side wrapper pattern). */
final class SerializableHadoopConf(@transient var value: Configuration)
  extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit =
    value.write(out)
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    value = new Configuration(false)
    value.readFields(in)
  }
}

final class SnapshotReaderFactory(required: StructType,
                                  intervals: Map[String, (Double, Double)],
                                  conf: SerializableHadoopConf,
                                  columnar: Boolean = false,
                                  dvByFile: Map[String, String] = Map.empty,
                                  emitMeta: Boolean = false,
                                  eqByFile: Map[String, Seq[String]] = Map.empty,
                                  eqKeys: Seq[String] = Seq.empty,
                                  fullSchema: StructType = new StructType(),
                                  colMapByFile: Map[String, Map[String, Option[String]]] = Map.empty)
  extends PartitionReaderFactory {

  /** Per-file COLUMN-MAPPED read schema under rename/drop events:
    * fields rename IN PLACE to the file's physical names (ordinals —
    * what consumers key on — never move); a broken lineage renames to
    * an impossible name so the parquet readers null-fill it. Mapped
    * files also read with EMPTY pushed intervals: interval keys are
    * LOGICAL names, and a freed name reused by a new column could
    * otherwise row-group-skip against the WRONG column's pages. */
  private def mappedSchema(sc: StructType,
                           m: Map[String, Option[String]]): StructType =
    if (m.isEmpty) sc
    else StructType(sc.fields.map { f =>
      m.getOrElse(f.name, Some(f.name)) match {
        case Some(p) if p == f.name => f
        case Some(p) => f.copy(name = p)
        case None => f.copy(name = "__graft_absent__" + f.name)
      }
    })

  private def filesOf(partition: InputPartition): Seq[String] = partition match {
    case SnapshotFilePartition(f) => Seq(f)
    case SnapshotTupleGroupPartition(fs, _) => fs
    case other => throw new IllegalStateException(s"unexpected partition $other")
  }

  /** Per-file read schema: extended with the equality-delete key
    * columns the projection lacks (APPENDED, so consumer ordinals are
    * untouched), only for files with applicable sidecars. */
  private def schemaFor(eq: Seq[String]): StructType =
    if (eq.isEmpty) required
    else SnapshotEqRead.extend(required, eqKeys, fullSchema)

  private def eqOrdsTypes(sc: StructType): (Array[Int], Array[org.apache.spark.sql.types.DataType]) = {
    val ords = eqKeys.map(sc.fieldIndex).toArray
    (ords, ords.map(i => sc.fields(i).dataType))
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    ConcatReader(filesOf(partition))( f => {
      val eq = eqByFile.getOrElse(graft.storage.SnapshotTable.norm(f), Seq.empty)
      val sc = schemaFor(eq)
      val m = colMapByFile.getOrElse(graft.storage.SnapshotTable.norm(f),
        Map.empty[String, Option[String]])
      val base = new SnapshotPartitionReader(f, mappedSchema(sc, m),
        if (m.isEmpty) intervals else Map.empty, conf.value,
        dvPath = dvByFile.getOrElse(graft.storage.SnapshotTable.norm(f), ""),
        emitMeta = emitMeta)
      if (eq.isEmpty) base
      else {
        // ordinals/types come from the LOGICAL schema — mapping renames
        // fields in place, so positions are identical
        val (ords, types) = eqOrdsTypes(sc)
        new EqApplyRowReader(base,
          SnapshotEqRead.keys(conf.value, eq), ords, types)
      }
    })
  override def supportColumnarReads(partition: InputPartition): Boolean = columnar
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    ConcatReader(filesOf(partition))( f => {
      val dvPath = dvByFile.getOrElse(graft.storage.SnapshotTable.norm(f), "")
      val eq = eqByFile.getOrElse(graft.storage.SnapshotTable.norm(f), Seq.empty)
      val sc = schemaFor(eq)
      val m = colMapByFile.getOrElse(graft.storage.SnapshotTable.norm(f),
        Map.empty[String, Option[String]])
      val rsc = mappedSchema(sc, m)
      val iv = if (m.isEmpty) intervals else Map.empty[String, (Double, Double)]
      val base =
        if (dvPath.isEmpty)
          new SnapshotColumnarReader(f, rsc, iv, conf.value)
        else
          // DV coordinate discipline: no parquet row-group skipping for
          // a vector-bearing file (empty intervals), so batch rows map
          // to file ordinals by running offset; the wrapper then drops
          // the deleted ordinals per batch (still columnar downstream)
          new DvApplyColumnarReader(
            new SnapshotColumnarReader(f, rsc, Map.empty, conf.value),
            graft.storage.DeletionVectors.read(conf.value, dvPath))
      if (eq.isEmpty) base
      else {
        val (ords, types) = eqOrdsTypes(sc)
        new EqApplyColumnarReader(base,
          SnapshotEqRead.keys(conf.value, eq), ords, types)
      }
    })
}

/** Sequential concatenation of per-file readers — what a tuple-grouped
  * (SPJ) partition needs; opens one file at a time. */
object ConcatReader {
  def apply[A](files: Seq[String])(open: String => PartitionReader[A])
      : PartitionReader[A] =
    if (files.size == 1) open(files.head)
    else new PartitionReader[A] {
      private val it = files.iterator
      private var cur: PartitionReader[A] = _
      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            if (!it.hasNext) return false
            cur = open(it.next())
          }
          if (cur.next()) return true
          cur.close(); cur = null
        }
        false // unreachable
      }
      override def get(): A = cur.get()
      override def close(): Unit = if (cur != null) { cur.close(); cur = null }
    }
}

// ----------------------------------------------------------------- write

import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}

/** Write semantics:
  *  - `mode("append")` — stage files executor-side, then commit
  *    `latest.files ++ new` (or CREATE v1 on an empty root). Pure
  *    O(batch) metadata append, the [[SnapshotTable.append]] shape.
  *  - `mode("overwrite")` — same staging, commit ONLY the new files as
  *    the next version (truncate-and-append; old versions remain
  *    time-travel-readable until vacuum).
  * Commit races resolve with the standard optimistic retry; aborted
  * jobs delete their staged files (task attempts that never reach the
  * driver stay orphaned until vacuum — the same contract as every
  * manifest format's speculative-task story). Option `statsCols` keeps
  * data-skipping sidecars flowing through DSv2 writes. */
final class SnapshotWriteBuilder(root: String, schema: StructType,
                                 statsCols: Seq[String], mergeSchema: Boolean,
                                 queryId: String = "",
                                 createPartitionBy: Seq[String] = Seq.empty,
                                 createSortBy: Seq[String] = Seq.empty,
                                 createRowLevelModes: Map[String, String] = Map.empty,
                                 upsertKeys: Seq[String] = Seq.empty,
                                 maxUpsertDebt: Option[Double] = None)
  extends WriteBuilder with SupportsTruncate
  with org.apache.spark.sql.connector.write.SupportsOverwrite
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  private var overwrite = false
  private var dynamic = false
  private var byFilter: Option[Array[Filter]] = None
  override def truncate(): WriteBuilder = { overwrite = true; this }
  /** Filter-scoped overwrite (`writeTo(t).overwrite(cond)` / static
    * INSERT OVERWRITE): the condition must be DECIDABLE for every file
    * from its exact partition tuple — all-True files drop, all-False
    * files stay verbatim, anything else (an unpartitioned table, an
    * unaligned cut) is refused with guidance toward row-level DELETE +
    * append, which are always correct. AlwaysTrue degrades to
    * truncate. */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      overwrite = true
    else byFilter = Some(filters)
    this
  }
  /** INSERT OVERWRITE in dynamic mode: replace ONLY the partitions the
    * incoming data touches (decided at commit time from the staged
    * files' exact tuples), keep every other file verbatim — the
    * partition-backfill shape. Refused on unpartitioned tables (there
    * is no partition to scope the overwrite to). */
  override def overwriteDynamicPartitions(): WriteBuilder = { dynamic = true; this }
  override def build(): Write = new Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

    /** The table's partition field specs: an existing table's committed
      * spec (immutable after create), else the create option shaping a
      * table this write mints. Resolved once at plan time; validated
      * against the WRITE schema — a partitioned table's writes must
      * carry their partition source columns. */
    private val pspecs: Seq[String] = {
      val specs = SnapshotTable.latest(SparkSession.active, root)
        .map(_.partitionSpecs).getOrElse(createPartitionBy)
      SnapshotTable.validatePartitionSpecs(specs, schema)
      specs
    }
    private val pfields = pspecs.map(SnapshotPartition.parseField)

    /** The table's declared sort order (existing table wins, else the
      * create option) — requested from Spark as a per-task ordering so
      * every staged file covers a tight range of these columns. */
    private val sortCols: Seq[String] = {
      val cols = SnapshotTable.latest(SparkSession.active, root)
        .map(_.sortCols).getOrElse(createSortBy)
      cols.foreach(c => require(schema.fieldNames.contains(c),
        s"sortBy column '$c' not in write schema ${schema.simpleString}"))
      cols
    }

    /** Hash-cluster rows by partition source columns before the write
      * (Iceberg's hash distribution mode): for IDENTITY specs each
      * tuple lands in ONE task, so the fanout writer emits exactly one
      * file per tuple per write — the shuffle is the price of
      * tuple-purity, and only partitioned tables pay it. Vanilla Spark
      * cannot resolve transform expressions (days/bucket/...) in a
      * connector's required distribution without a FunctionCatalog, so
      * transformed specs take no distribution — the fanout writer stays
      * tuple-pure, merely more fragmented (compaction bin-packs, and
      * callers can pre-repartition by the transform). */
    override def requiredDistribution()
        : org.apache.spark.sql.connector.distributions.Distribution =
      if (pfields.isEmpty || pfields.exists(_.transform != "identity"))
        org.apache.spark.sql.connector.distributions.Distributions.unspecified()
      else org.apache.spark.sql.connector.distributions.Distributions.clustered(
        pfields.map(f =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(f.col)
            .asInstanceOf[org.apache.spark.sql.connector.expressions.Expression])
          .toArray)
    override def requiredOrdering()
        : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
      import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection}
      // only a DECLARED sort order asks Spark for a task sort (the
      // fanout writer needs no contiguity — an unsorted partitioned
      // write must not pay one); partition sources lead so each tuple's
      // file is itself sort-ordered
      if (sortCols.isEmpty) Array.empty
      else (pfields.map(_.col) ++ sortCols).distinct.map(c =>
        Expressions.sort(Expressions.column(c),
          SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray
    }

    override def toBatch: BatchWrite = {
      if (dynamic) require(pspecs.nonEmpty,
        s"dynamic partition overwrite needs a PARTITIONED table ($root is not)")
      if (byFilter.isDefined) require(pspecs.nonEmpty,
        s"filter-scoped overwrite needs a PARTITIONED table ($root is not); " +
          "use DELETE FROM + INSERT INTO instead")
      new SnapshotBatchWrite(root, schema, overwrite, statsCols, mergeSchema,
        PartitionWriteSpec.of(schema, pspecs), sortCols, dynamic, byFilter,
        rowLevelModes = createRowLevelModes)
    }
    /** `stream.writeStream.format("graft-snapshot").start(root)` — the
      * NATIVE exactly-once streaming sink (no foreachBatch adapter
      * needed): each epoch appends staged files with its epoch id in the
      * per-app `#txn` ledger, keyed by the STREAMING QUERY id (stable
      * across restarts of one checkpoint, fresh for a new checkpoint —
      * exactly the identity the ledger wants). Replayed epochs are
      * no-ops; the commit-time gate makes the check atomic with the
      * version CAS. Complete/overwrite output mode truncates per epoch. */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      upsertKeys.foreach { k =>
        require(schema.fieldNames.contains(k),
          s"upsertKeys column '$k' not in stream schema ${schema.simpleString}")
        // refuse unstable equality keys loudly at plan time
        graft.storage.EqualityDeletes.canonical(
          schema(schema.fieldIndex(k)).dataType, "probe")
      }
      require(upsertKeys.isEmpty || !overwrite,
        "upsertKeys and Complete/overwrite output are mutually exclusive")
      new SnapshotStreamingWrite(root, schema, overwrite, statsCols,
        mergeSchema, appId = s"stream-$queryId",
        part = PartitionWriteSpec.of(schema, pspecs),
        upsertKeys = upsertKeys, maxUpsertDebt = maxUpsertDebt)
    }
  }
}

/** Executor-shippable partition-write spec: the parsed fields, their
  * source types, and the sources' ordinals in the write schema —
  * everything [[SnapshotPartition.tupleOfRow]] needs per row. */
final case class PartitionWriteSpec(specs: Seq[String],
                                    fields: Seq[SnapshotPartition.PartitionField],
                                    types: Seq[org.apache.spark.sql.types.DataType],
                                    ordinals: Seq[Int]) extends Serializable {
  def tupleOf(row: InternalRow): String =
    SnapshotPartition.tupleOfRow(fields, types, ordinals, row)
}

object PartitionWriteSpec {
  /** None when unpartitioned (the writer then skips per-row keying). */
  def of(schema: StructType, specs: Seq[String]): Option[PartitionWriteSpec] =
    if (specs.isEmpty) None
    else {
      val fields = specs.map(SnapshotPartition.parseField)
      Some(PartitionWriteSpec(specs, fields,
        fields.map(f => schema.fields(schema.fieldIndex(f.col)).dataType),
        fields.map(f => schema.fieldIndex(f.col))))
    }
}

final case class SnapshotCommitMessage(
    files: Seq[SnapshotTable.FileEntry]) extends WriterCommitMessage

final class SnapshotBatchWrite(root: String, schema: StructType,
                               overwrite: Boolean, statsCols: Seq[String],
                               mergeSchema: Boolean,
                               part: Option[PartitionWriteSpec] = None,
                               sortCols: Seq[String] = Seq.empty,
                               dynamic: Boolean = false,
                               byFilter: Option[Array[Filter]] = None,
                               rowLevelModes: Map[String, String] = Map.empty)
  extends BatchWrite {

  private val stagingDir: String =
    SnapshotTable.stagingDir(SparkSession.active, root).toString

  private val conf = new SerializableHadoopConf(
    SparkSession.active.sessionState.newHadoopConf())

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new SnapshotWriterFactory(stagingDir, schema, conf, part)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = messages.flatMap {
      case SnapshotCommitMessage(fs) => fs
      case other => throw new IllegalStateException(s"unexpected commit message $other")
    }.sortBy(_.path).toSeq
    // a write that CREATES the table mints its partition spec and sort
    // order; on an existing table nextMeta carries both forward
    val createMeta =
      SnapshotTable.partitionMeta(part.map(_.specs).getOrElse(Seq.empty)) ++
        SnapshotTable.sortMeta(sortCols) ++
        SnapshotTable.rowLevelMeta(rowLevelModes)
    // an empty frame stages nothing: APPENDING it to an EXISTING table is
    // a no-op. Everything else commits: an empty overwrite of an existing
    // table is a TRUNCATE (zero-file manifest, old rows gone), and an
    // empty write to an ABSENT root CREATES an empty, typed v1 (zero-file
    // manifest + schema sidecar) — matching Spark's native writer, which
    // leaves an empty, readable table rather than nothing
    // (a FILTER-scoped overwrite with empty data is NOT a no-op: it
    // replaces the matching partitions with nothing — a partition drop)
    if (files.isEmpty && !overwrite && byFilter.isEmpty &&
        SnapshotTable.latest(spark, root).isDefined) {
      abortFiles(); return
    }
    val fresh = SnapshotTable.collectStats(spark, files.map(_.path), statsCols)
    var attempts = 0
    var done = false
    while (!done) {
      val cur = SnapshotTable.latest(spark, root)
      // kept base entries keep their stats lines (the publish step's
      // carry rule); the staged files add `fresh`
      val (v, all, nextSchema) = (cur, overwrite) match {
        case (None, _) => (1L, files, schema)
        case (Some(s), true) => (s.version + 1, files, schema)
        case (Some(s), false) if byFilter.isDefined =>
          // FILTER-scoped overwrite: each base file's membership must be
          // PROVEN from its exact tuple — all conjuncts tri-state True
          // drops the file (replaced), any conjunct definitely non-True
          // retains it verbatim; anything unprovable refuses the whole
          // statement (DELETE + INSERT are the always-correct fallback)
          val pf = SnapshotTable.tableSchema(spark, root, s.version)
            .map(sch => SnapshotPartition.fieldsOf(s.partitionSpecs, sch))
            .getOrElse(Seq.empty)
          val retained = s.entries.map { e =>
            val verdicts =
              if (pf.isEmpty || e.tuple.isEmpty) Seq(None)
              else {
                val doms = SnapshotPartition.fileDomains(pf,
                  SnapshotPartition.decodeTuple(e.tuple))
                byFilter.get.toSeq.map(f => SnapshotPartition.evalFilter(f, doms))
              }
            if (verdicts.exists(_.exists(_ != SnapshotPartition.TTrue)))
              Some(e) // definitely outside the overwrite region: keep
            else if (verdicts.forall(_.contains(SnapshotPartition.TTrue)))
              None // definitely inside: replaced
            else throw new IllegalArgumentException(
              s"overwrite condition ${byFilter.get.mkString(" AND ")} is not " +
                s"decidable from ${e.path}'s partition tuple '${e.tuple}' — " +
                "use DELETE FROM + INSERT INTO for row-level overwrites")
          }.flatten
          val base = SnapshotTable.tableSchema(spark, root, s.version)
            .getOrElse(schema)
          require(SnapshotTable.nullableSchema(schema).fields
            .map(f => (f.name, f.dataType)).toSeq ==
            SnapshotTable.nullableSchema(base).fields
              .map(f => (f.name, f.dataType)).toSeq,
            s"overwrite schema ${schema.simpleString} != table schema " +
              base.simpleString)
          (s.version + 1, retained ++ files, base)
        case (Some(s), false) if dynamic =>
          // DYNAMIC partition overwrite: the staged files' exact tuples
          // name the partitions being replaced; every other file is
          // retained verbatim — INSERT OVERWRITE
          // costs O(touched partitions), never O(table)
          val touched = files.map(_.tuple).toSet
          require(!touched.contains(""),
            "dynamic overwrite staged a tuple-less file — partitioned " +
              "writes must derive tuples")
          // a base file WITHOUT a tuple can hold rows of any partition —
          // retaining it verbatim would leave stale rows of overwritten
          // partitions alive. Refuse loudly (like the filter-scoped path)
          // rather than commit a silently-wrong table.
          s.entries.find(_.tuple.isEmpty).foreach { e =>
            throw new IllegalArgumentException(
              s"dynamic overwrite cannot prove partition membership of " +
                s"${e.path} (no partition tuple recorded) — compact the " +
                "table to re-derive tuples, or use overwrite(condition) / " +
                "DELETE FROM + INSERT INTO")
          }
          // after PARTITION SPEC EVOLUTION an old-era file's tuple is
          // keyed by the old fields: it can never string-match a
          // current-spec tuple, so "retain by tuple inequality" would
          // silently keep stale rows of an overwritten partition alive.
          // Refuse loudly; compaction migrates files to the current spec.
          val specKeys = s.partitionSpecs
            .map(sp => SnapshotPartition.parseField(sp).key).toSet
          s.entries.find(e =>
              SnapshotPartition.decodeTuple(e.tuple).keySet != specKeys)
            .foreach { e =>
              throw new IllegalArgumentException(
                s"dynamic overwrite cannot prove partition membership of " +
                  s"${e.path}: its tuple '${e.tuple}' was written under an " +
                  "older partition spec — compact the table to migrate " +
                  "files to the current spec first")
            }
          val retained = s.entries.filterNot(e => touched.contains(e.tuple))
          val base = SnapshotTable.tableSchema(spark, root, s.version)
            .getOrElse(schema)
          require(SnapshotTable.nullableSchema(schema).fields
            .map(f => (f.name, f.dataType)).toSeq ==
            SnapshotTable.nullableSchema(base).fields
              .map(f => (f.name, f.dataType)).toSeq,
            s"dynamic overwrite schema ${schema.simpleString} != table " +
              s"schema ${base.simpleString}")
          (s.version + 1, retained ++ files, base)
        case (Some(s), false) =>
          // append-side schema contract mirrors SnapshotTable.append:
          // same columns, or option mergeSchema=true for add-column
          val base = SnapshotTable.tableSchema(spark, root, s.version)
            .getOrElse(spark.read.parquet(s.files.head).schema)
          val ns =
            if (mergeSchema) SnapshotTable.evolveSchema(base, schema)
            else {
              require(SnapshotTable.nullableSchema(schema).fields
                .map(f => (f.name, f.dataType)).toSeq ==
                SnapshotTable.nullableSchema(base).fields
                  .map(f => (f.name, f.dataType)).toSeq,
                s"write schema ${schema.simpleString} != table schema " +
                  s"${base.simpleString}; set option mergeSchema=true " +
                  "for add-column evolution")
              base
            }
          (s.version + 1, s.entries ++ files, ns)
      }
      try {
        // maintenance commits carry the streaming sink's ledger forward
        SnapshotTable.publish(spark, root, v, all,
          (if (cur.isEmpty) createMeta else Seq.empty) ++
            SnapshotTable.nextMeta(cur, None),
          Some(nextSchema), carryStatsFrom = cur.map(_.version), newStats = fresh)
        done = true
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempts += 1
          if (attempts >= 5) { abortFiles(); throw e }
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = abortFiles()

  private def abortFiles(): Unit = {
    val spark = SparkSession.active
    val p = new org.apache.hadoop.fs.Path(stagingDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

/** The native exactly-once streaming sink. One staging dir per query
  * run; epoch ids are embedded in staged file names so concurrent /
  * retried epochs never collide. Commit per epoch:
  *  - replay pre-check against the per-app ledger (epoch ≤ high-water
  *    mark ⇒ delete the staged files, no-op) — re-run at the top of
  *    every retry iteration, so losing a version race to a racer that
  *    committed THIS epoch degrades to a no-op, never a duplicate;
  *  - first ever epoch CREATES the table, later epochs APPEND (O(batch)
  *    metadata commit), truncate/complete mode replaces content;
  *  - the epoch id rides the manifest (`#txn <appId> <epoch>`) — ledger
  *    entry and data commit are ONE atomic rename. */
/** CONTRACT: last-write-wins applies ACROSS epochs; WITHIN one
  * micro-batch keys must be unique (the standard CDC upsert batch
  * contract — deduplicate upstream with dropDuplicates/last-per-key if
  * the source can repeat a key per batch). In-batch duplicates are all
  * retained: the epoch's own files postdate its sidecar by design, so
  * nothing inside a batch can retire anything else inside it.
  *
  * `upsertKeys` nonEmpty turns each epoch into a STREAMING UPSERT: the
  * batch's data files append as usual, and ONE equality-delete sidecar
  * per task records the batch's key tuples — committed as `#eqdelete`
  * lines that retire older rows with those keys AT READ TIME
  * ([[graft.storage.EqualityDeletes]]). Per-epoch cost is O(batch):
  * no scan, no join, no rewrite. Readers pay a bounded key-set probe
  * until compaction materializes the deletes away. */
final class SnapshotStreamingWrite(root: String, schema: StructType,
                                   overwrite: Boolean, statsCols: Seq[String],
                                   mergeSchema: Boolean, appId: String,
                                   part: Option[PartitionWriteSpec] = None,
                                   upsertKeys: Seq[String] = Seq.empty,
                                   maxUpsertDebt: Option[Double] = None)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val stagingDir: String =
    SnapshotTable.stagingDir(SparkSession.active, root).toString

  private val conf = new SerializableHadoopConf(
    SparkSession.active.sessionState.newHadoopConf())

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new SnapshotStreamingWriterFactory(stagingDir, schema, conf, part,
      upsertKeys, root)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = messages.flatMap {
      case SnapshotCommitMessage(fs) => fs
      case SnapshotUpsertCommitMessage(fs, _, _, _) => fs
      case other => throw new IllegalStateException(s"unexpected commit message $other")
    }.sortBy(_.path).toSeq
    // per-task equality-delete sidecars of an upsert epoch (with the
    // optional key range the writer tracked)
    val eqSidecars: Seq[(String, Long, Option[(Double, Double)])] =
      messages.collect {
        case SnapshotUpsertCommitMessage(_, p, n, r) if n > 0L => (p, n, r)
      }.toSeq
    def dropStaged(): Unit = {
      val fs = new org.apache.hadoop.fs.Path(stagingDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      files.foreach(e => fs.delete(new org.apache.hadoop.fs.Path(e.path), false))
      eqSidecars.foreach(t => fs.delete(new org.apache.hadoop.fs.Path(t._1), false))
    }
    var attempt = 1
    while (true) {
      if (epochId <= graft.storage.SnapshotSink.lastCommittedBatch(spark, root, appId)) {
        dropStaged(); return
      }
      val cur = SnapshotTable.latest(spark, root)
      // replay gate on the exact CAS base: `cur`'s ledger and the version
      // CAS see the same snapshot, so a racer that committed THIS epoch
      // between the high-water pre-check and `latest` is caught here; a
      // racer landing after `latest` fails our CAS and we re-loop. The
      // pre-check alone leaves that window open (duplicate delivery).
      if (cur.exists(_.txns.get(appId).exists(epochId <= _))) {
        dropStaged(); return
      }
      // an empty epoch against an existing table is a no-op (no junk
      // versions); against an absent root there is nothing to type yet
      if (files.isEmpty && eqSidecars.isEmpty && !(overwrite && cur.isDefined))
        return
      // an upsert epoch needs every existing file's ADD VERSION (the
      // sequence number its deletes resolve against) — a pre-upgrade
      // table must be compacted once before streaming upserts
      if (eqSidecars.nonEmpty)
        cur.foreach(s => s.entries.find(_.addV < 0L).foreach { e =>
          throw new IllegalStateException(
            s"streaming upsert needs add-versions on every file; " +
              s"${e.path} predates them — compact the table once first")
        })
      // key-set gate BEFORE committing: an epoch whose upsertKeys differ
      // from the key set of still-in-force #eqdelete lines would make the
      // table head unreadable (every scan builder refuses mixed key
      // sets) — fail the epoch here instead, with actionable guidance
      if (eqSidecars.nonEmpty)
        cur.foreach { s =>
          val inForce = s.eqDeletes.map(_._4).distinct
          require(inForce.forall(_ == upsertKeys),
            s"upsert keys ${upsertKeys.mkString(",")} differ from the " +
              s"in-force equality-delete key set(s) " +
              s"${inForce.map(_.mkString(",")).mkString("[", "; ", "]")} — " +
              "compact the table to materialize the old deletes away, " +
              "then restart the stream with the new keys")
        }
      val fresh = SnapshotTable.collectStats(spark, files.map(_.path), statsCols)
      try {
        val (v, all, nextSchema) = (cur, overwrite) match {
          case (None, _) => (1L, files, schema)
          case (Some(s), true) => (s.version + 1, files, schema)
          case (Some(s), false) =>
            val base = SnapshotTable.tableSchema(spark, root, s.version)
              .getOrElse(spark.read.parquet(s.files.head).schema)
            val ns =
              if (mergeSchema) SnapshotTable.evolveSchema(base, schema)
              else {
                require(SnapshotTable.nullableSchema(schema).fields
                  .map(f => (f.name, f.dataType)).toSeq ==
                  SnapshotTable.nullableSchema(base).fields
                    .map(f => (f.name, f.dataType)).toSeq,
                  s"stream schema ${schema.simpleString} != table schema " +
                    s"${base.simpleString}; set option mergeSchema=true " +
                    "for add-column/widening evolution")
                base
              }
            (s.version + 1, s.entries ++ files, ns)
        }
        val eqMeta = eqSidecars.map { case (p, n, range) =>
          SnapshotTable.eqDeleteLine(p, v, n, upsertKeys, range)
        }
        // UPSERT-DEBT gauge: equality-delete keys accumulated since the
        // last compaction vs the table's recorded live rows — the key
        // sets every scan holds per executor and probes per row, i.e.
        // the one scale cliff of the MoR upsert path. Bounded by POLICY:
        // warn past 50%, refuse the epoch past option("maxUpsertDebt")
        // (the stream fails until a compact materializes the deletes
        // away). The same gauge is visible per version in DESCRIBE
        // HISTORY (`upsert_debt`).
        if (eqSidecars.nonEmpty && all.forall(_.rows >= 0L)) {
          val keysInForce = cur.toSeq.flatMap(_.eqDeletes).map(_._3).sum +
            eqSidecars.map(_._2).sum
          val live = all.map(_.liveRows).sum
          val debt =
            if (live > 0L) keysInForce.toDouble / live
            else Double.PositiveInfinity
          maxUpsertDebt.foreach { mx =>
            require(debt <= mx,
              f"upsert debt $debt%.2f ($keysInForce equality-delete keys " +
                f"in force / $live live rows) exceeds maxUpsertDebt=$mx — " +
                "compact the table to materialize the deletes away, then " +
                "resume the stream")
          }
          if (debt > 0.5 && maxUpsertDebt.forall(debt <= _))
            System.err.println(
              f"[graft-snapshot] WARN upsert debt $debt%.2f at $root " +
                f"($keysInForce keys in force / $live live rows) — " +
                "compact soon to keep equality-delete probe state bounded")
        }
        SnapshotTable.publish(spark, root, v, all,
          (if (cur.isEmpty)
            SnapshotTable.partitionMeta(part.map(_.specs).getOrElse(Seq.empty))
          else Seq.empty) ++
            SnapshotTable.nextMeta(cur, Some(epochId), appId) ++ eqMeta,
          Some(nextSchema), carryStatsFrom = cur.map(_.version), newStats = fresh)
        return
      } catch {
        case e: java.util.ConcurrentModificationException =>
          // lost the version race; the ledger re-check at the loop top
          // decides replay-no-op vs retry
          if (attempt >= 5) throw e
          attempt += 1
      }
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new org.apache.hadoop.fs.Path(stagingDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.foreach {
      case SnapshotCommitMessage(fsgs) => fsgs.foreach(e =>
        fs.delete(new org.apache.hadoop.fs.Path(e.path), false))
      case SnapshotUpsertCommitMessage(fsgs, eqd, _, _) =>
        fsgs.foreach(e =>
          fs.delete(new org.apache.hadoop.fs.Path(e.path), false))
        fs.delete(new org.apache.hadoop.fs.Path(eqd), false)
      case _ => ()
    }
  }
}

final class SnapshotStreamingWriterFactory(stagingDir: String,
                                           schema: StructType,
                                           conf: SerializableHadoopConf,
                                           part: Option[PartitionWriteSpec] = None,
                                           upsertKeys: Seq[String] = Seq.empty,
                                           root: String = "")
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] = {
    val prefix = f"$stagingDir%s/e$epochId%d-part-$partitionId%05d-$taskId%d"
    val inner = part match {
      case Some(spec) => new SnapshotFanoutDataWriter(prefix, schema, conf.value, spec)
      case None => new SnapshotDataWriter(s"$prefix.parquet", schema, conf.value)
    }
    if (upsertKeys.isEmpty) inner
    else new SnapshotUpsertDataWriter(inner, schema, upsertKeys, root, conf.value)
  }
}

final case class SnapshotUpsertCommitMessage(
    files: Seq[SnapshotTable.FileEntry],
    eqSidecar: String, eqRows: Long,
    keyRange: Option[(Double, Double)] = None) extends WriterCommitMessage

/** Task-side upsert writer: rows pass through to the ordinary parquet
  * writer while their KEY TUPLES accumulate (canonically encoded,
  * deduplicated); commit stages ONE equality-delete sidecar per task
  * alongside the data files. */
final class SnapshotUpsertDataWriter(inner: DataWriter[InternalRow],
                                     schema: StructType,
                                     upsertKeys: Seq[String],
                                     root: String,
                                     conf: org.apache.hadoop.conf.Configuration)
  extends DataWriter[InternalRow] {

  private val ords = upsertKeys.map(schema.fieldIndex).toArray
  private val types = ords.map(i => schema.fields(i).dataType)
  private val keys = scala.collection.mutable.LinkedHashSet.empty[Seq[String]]

  // KEY-RANGE tracking (single key column, numeric/timestamp only): the
  // sidecar's key min/max in the SAME cast-to-double domain the stats
  // sidecar records per file — what lets scans prove a file disjoint
  // from this epoch's keys and skip the per-row probe entirely. Both
  // sides use the identical (monotone) value→double map, so a rounded
  // comparison can never prove a TRUE overlap disjoint — no false
  // skips. NULL/NaN keys, multi-column keys, and magnitudes past 2^51
  // (where double-encoded integers stop being exact) disable the range
  // (no skipping, never a wrong skip).
  private val rangeFn: Option[Any => Double] = {
    import org.apache.spark.sql.types._
    if (upsertKeys.size != 1) None
    else types(0) match {
      case ByteType => Some(v => v.asInstanceOf[Byte].toDouble)
      case ShortType => Some(v => v.asInstanceOf[Short].toDouble)
      case IntegerType => Some(v => v.asInstanceOf[Int].toDouble)
      case LongType => Some(v => v.asInstanceOf[Long].toDouble)
      case FloatType => Some(v => v.asInstanceOf[Float].toDouble)
      case DoubleType => Some(v => v.asInstanceOf[Double])
      // internal micros; cast-to-double stats record SECONDS — rescale
      // exactly like Cast(ts as double) (Long→Double, /1e6)
      case TimestampType => Some(v => v.asInstanceOf[Long].toDouble / 1e6)
      case _ => None
    }
  }
  private val exactAbs: Double = types.headOption.collect {
    // guard the PRE-rescale magnitude for timestamps (micros), the
    // value itself for integrals — mirrors SnapshotMetadataDelete
    case org.apache.spark.sql.types.TimestampType => math.pow(2, 51) / 1e6
  }.getOrElse(math.pow(2, 51))
  private var rMin = Double.PositiveInfinity
  private var rMax = Double.NegativeInfinity
  private var rangeOk = rangeFn.isDefined

  override def write(row: InternalRow): Unit = {
    keys += ords.indices.map { i =>
      graft.storage.EqualityDeletes.canonical(types(i),
        if (row.isNullAt(ords(i))) null else row.get(ords(i), types(i)))
    }
    if (rangeOk) {
      if (row.isNullAt(ords(0))) rangeOk = false
      else {
        val d = rangeFn.get(row.get(ords(0), types(0)))
        if (d.isNaN || math.abs(d) > exactAbs) rangeOk = false
        else {
          if (d < rMin) rMin = d
          if (d > rMax) rMax = d
        }
      }
    }
    inner.write(row)
  }

  override def commit(): WriterCommitMessage = {
    val files = inner.commit() match {
      case SnapshotCommitMessage(fs) => fs
      case other => throw new IllegalStateException(s"unexpected message $other")
    }
    val eqd = graft.storage.EqualityDeletes.freshPath(root)
    val n = graft.storage.EqualityDeletes.write(conf, eqd, upsertKeys,
      keys.iterator)
    SnapshotUpsertCommitMessage(files, eqd, n,
      if (rangeOk && rMin <= rMax) Some((rMin, rMax)) else None)
  }

  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}

final class SnapshotWriterFactory(stagingDir: String, schema: StructType,
                                  conf: SerializableHadoopConf,
                                  part: Option[PartitionWriteSpec] = None,
                                  tupleSorted: Boolean = false)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    // taskId makes retried/speculative attempts write DISTINCT files;
    // only the committing attempt's path reaches the driver
    val prefix = f"$stagingDir%s/part-$partitionId%05d-$taskId%d"
    part match {
      case Some(spec) =>
        new SnapshotFanoutDataWriter(prefix, schema, conf.value, spec, tupleSorted)
      case None => new SnapshotDataWriter(s"$prefix.parquet", schema, conf.value)
    }
  }
}

/** The partitioned-table task writer: keys each row by its EXACT
  * partition tuple and fans out one parquet file per tuple seen
  * (Iceberg's fanout shape). Under the write's clustered distribution a
  * tuple reaches exactly one task, so a write emits one file per tuple;
  * without it (e.g. a row-level rewrite whose planner chose another
  * distribution) the output is merely more fragmented — never
  * tuple-impure. Files open lazily per tuple. Unsorted input keeps one
  * open writer per DISTINCT tuple the task sees until commit(), which
  * the clustering keeps small; with `tupleSorted` (each task's rows
  * arrive sorted by tuple, as library writes sort them) a tuple change
  * closes the open file, so the task holds one writer at a time however
  * many tuples it covers. */
final class SnapshotFanoutDataWriter(prefix: String, schema: StructType,
                                     conf: Configuration,
                                     spec: PartitionWriteSpec,
                                     tupleSorted: Boolean = false)
  extends DataWriter[InternalRow] {

  private final class Slot(val file: String) {
    val writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] =
      SnapshotParquetWrite.open(file, schema, conf)
    var rows = 0L
    def finish(tuple: String): SnapshotTable.FileEntry = {
      writer.close()
      val p = new org.apache.hadoop.fs.Path(file)
      val bytes =
        try p.getFileSystem(conf).getFileStatus(p).getLen
        catch { case _: java.io.IOException => -1L }
      SnapshotTable.FileEntry(file, rows, bytes, tuple)
    }
  }
  private val slots =
    scala.collection.mutable.LinkedHashMap.empty[String, Slot]
  private val closed = scala.collection.mutable.ArrayBuffer.empty[SnapshotTable.FileEntry]
  private var opened = 0

  override def write(record: InternalRow): Unit = {
    val tuple = spec.tupleOf(record)
    val slot = slots.getOrElse(tuple, {
      if (tupleSorted) { // sorted input: the open tuple is done
        slots.foreach { case (t, s) => closed += s.finish(t) }
        slots.clear()
      }
      val s = new Slot(s"$prefix-t$opened.parquet")
      opened += 1
      slots(tuple) = s
      s
    })
    slot.writer.write(record)
    slot.rows += 1
  }

  override def commit(): WriterCommitMessage =
    SnapshotCommitMessage(closed.toSeq ++
      slots.toSeq.map { case (tuple, slot) => slot.finish(tuple) })

  override def abort(): Unit = {
    slots.values.foreach(_.writer.close())
    (closed.map(_.path) ++ slots.values.map(_.file)).foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).delete(p, false)
    }
  }

  override def close(): Unit = ()
}

final class SnapshotDataWriter(file: String, schema: StructType,
                               conf: Configuration)
  extends DataWriter[InternalRow] {
  // LAZY open: a zero-row task (empty frame, filtered-out partition)
  // must contribute NO file — otherwise empty appends mint junk
  // versions full of empty parquet shells
  private var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _
  private var rows = 0L
  override def write(record: InternalRow): Unit = {
    if (writer == null) writer = SnapshotParquetWrite.open(file, schema, conf)
    writer.write(record)
    rows += 1
  }
  override def commit(): WriterCommitMessage = {
    if (writer == null) return SnapshotCommitMessage(Seq.empty)
    writer.close()
    val p = new org.apache.hadoop.fs.Path(file)
    val bytes =
      try p.getFileSystem(conf).getFileStatus(p).getLen
      catch { case _: java.io.IOException => -1L }
    SnapshotCommitMessage(Seq(SnapshotTable.FileEntry(file, rows, bytes)))
  }
  override def abort(): Unit = {
    if (writer == null) return
    writer.close()
    val p = new org.apache.hadoop.fs.Path(file)
    p.getFileSystem(conf).delete(p, false)
  }
  override def close(): Unit = ()
}
