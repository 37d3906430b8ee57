package graft.storage.dsv2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.storage.SnapshotTable

/** A V2 catalog over a warehouse of snapshot tables — the NAMESPACE-
  * MANAGED (path-free) front door:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.storage.dsv2.SnapshotCatalog
  *   spark.sql.catalog.graft.warehouse = /data/graft
  *
  *   CREATE NAMESPACE graft.metrics;
  *   CREATE TABLE graft.metrics.cpu (ts TIMESTAMP, host STRING, v DOUBLE);
  *   INSERT INTO graft.metrics.cpu SELECT ...;
  *   MERGE INTO graft.metrics.cpu ...;         -- row-level SQL works
  *   CALL graft.system.compact('metrics.cpu', 4, 'ts');
  *   CALL graft.system.vacuum('metrics.cpu', 2);
  * }}}
  *
  * Layout: `<warehouse>/<namespace…>/<table>` — each table directory is
  * a full [[SnapshotTable]] root (manifests + sidecars + data), so every
  * ACID/time-travel/stats capability and the row-level SQL surface come
  * along for free: `loadTable` returns the same [[SnapshotTableV2]] the
  * path-based provider builds, pinned to the latest version at load.
  *
  * `CREATE TABLE` commits a zero-file v1 manifest plus the schema
  * sidecar (an empty, typed, immediately-readable table — a real
  * version, so even "create" is an atomic rename). `ALTER TABLE ADD
  * COLUMNS` and lossless type widening commit a metadata-only next
  * version through [[SnapshotTable.evolveSchema]]. DROP deletes the
  * table directory; RENAME is one filesystem rename inside the
  * warehouse. Everything is metadata-scale except the data itself.
  *
  * The catalog is also a [[ProcedureCatalog]]: `graft.system.compact`
  * (OPTIMIZE — returns the new version and file count) and
  * `graft.system.vacuum` (retention — returns files deleted), each a
  * thin SQL wrapper over the library calls with a one-row LocalScan
  * result. */
class SnapshotCatalog extends TableCatalog with SupportsNamespaces
  with ProcedureCatalog with StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"catalog '$name' needs spark.sql.catalog.$name.warehouse")
    warehouse = new Path(w)
  }

  override def name(): String = catalogName

  private def spark = SparkSession.active
  private def fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def nsPath(ns: Array[String]): Path =
    ns.foldLeft(warehouse)((p, n) => new Path(p, n))
  private def tablePath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace), ident.name)
  private def isTableDir(p: Path): Boolean =
    fs.exists(new Path(p, "_snapshots"))

  // ------------------------------------------------------------- tables

  override def tableExists(ident: Identifier): Boolean =
    SnapshotTable.versions(spark, tablePath(ident).toString).nonEmpty

  override def loadTable(ident: Identifier): Table = {
    val root = tablePath(ident).toString
    val snap = SnapshotTable.latest(spark, root)
      .getOrElse(throw new NoSuchTableException(ident))
    val schema = SnapshotTable.schemaOf(spark, root, snap)
      .getOrElse(throw new IllegalStateException(
        s"table $ident has no schema sidecar and no data files"))
    new SnapshotTableV2(root, Some(snap), schema)
  }

  /** SQL time travel — `SELECT ... FROM t VERSION AS OF 3` or `VERSION
    * AS OF 'name'` (a TAG or BRANCH ref): Spark routes the literal
    * syntax here; the pinned snapshot resolves exactly like the reader
    * option `versionAsOf`, with THAT version's schema. Reading a branch
    * is the consumer half of write-audit-publish: `VERSION AS OF
    * 'main'` only ever sees fast-forwarded (published) versions. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = tablePath(ident).toString
    val v =
      try version.toLong
      catch { case _: NumberFormatException =>
        SnapshotTable.resolveRef(spark, root, version).getOrElse(
          throw new IllegalArgumentException(
            s"graft-snapshot VERSION AS OF takes a version number or a " +
              s"tag/branch name; '$version' is neither at $root"))
      }
    if (!SnapshotTable.versions(spark, root).contains(v))
      throw new NoSuchTableException(ident)
    pinned(ident, root, SnapshotTable.snapshot(spark, root, v))
  }

  /** `TIMESTAMP AS OF ts` — Spark hands epoch MICROSECONDS; resolved to
    * the newest version committed at or before the cutoff. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val root = tablePath(ident).toString
    val v = SnapshotTable.versionAt(spark, root, timestampMicros / 1000L)
      .getOrElse(throw new NoSuchTableException(ident))
    pinned(ident, root, SnapshotTable.snapshot(spark, root, v))
  }

  private def pinned(ident: Identifier, root: String,
                     snap: SnapshotTable.Snapshot): Table = {
    val schema = SnapshotTable.schemaOf(spark, root, snap)
      .getOrElse(throw new IllegalStateException(
        s"table $ident v${snap.version} has no schema sidecar and no data files"))
    new SnapshotTableV2(root, Some(snap), schema)
  }

  // -------------------------------------------------- staged CTAS / RTAS

  /** ATOMIC `CREATE TABLE ... AS SELECT`: the query writes into a HIDDEN
    * staging root inside the namespace; only `commitStagedChanges` makes
    * the table visible, via one directory rename (fail-if-exists — the
    * same primitive every snapshot commit uses) plus a manifest re-anchor.
    * A failed/killed CTAS leaves NO table — the staging dir is aborted
    * (or vacuumed by age if the driver died). RTAS (`REPLACE TABLE AS
    * SELECT`) swaps via rename-out/rename-in: the visible table is never
    * half-written, and the old content is deleted only after the new
    * table is in place. */
  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    staged(ident, info, replace = false, orCreate = false)

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    staged(ident, info, replace = true, orCreate = false)
  }

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    staged(ident, info, replace = true, orCreate = true)

  private def staged(ident: Identifier, info: TableInfo,
                     replace: Boolean, orCreate: Boolean): StagedTable = {
    if (ident.namespace.nonEmpty && !fs.exists(nsPath(ident.namespace)))
      throw new NoSuchNamespaceException(ident.namespace)
    if (!replace && tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val stagePath = new Path(nsPath(ident.namespace),
      s".stage-${java.util.UUID.randomUUID().toString.take(8)}-${ident.name}")
    val inner = mintTable(stagePath.toString, info)
    new StagedSnapshotTable(ident, inner, stagePath, replace)
  }

  /** The staged table: a fully-real snapshot table at a hidden root;
    * Table/write surface delegates to it, commit/abort move or drop it. */
  private final class StagedSnapshotTable(ident: Identifier,
                                          inner: SnapshotTableV2,
                                          stagePath: Path,
                                          replace: Boolean)
    extends StagedTable with SupportsWrite {

    override def name(): String = s"staged-${ident.name}"
    override def schema(): StructType = inner.schema()
    override def partitioning(): Array[Transform] = inner.partitioning()
    override def capabilities(): util.Set[TableCapability] = inner.capabilities()
    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder =
      inner.newWriteBuilder(info)

    override def commitStagedChanges(): Unit = {
      val target = tablePath(ident)
      if (replace && isTableDir(target)) {
        // RTAS over an EXISTING table commits as its NEXT VERSION: the
        // staged data dirs move under the target's data/, then one
        // ordinary manifest CAS publishes the replacement — the visible
        // table is never absent (no swap window), concurrent commits
        // lose the CAS loudly, and the pre-replace content keeps
        // time-traveling like any other version.
        SnapshotTable.adoptAsNextVersion(spark, stagePath.toString,
          target.toString)
        fs.delete(stagePath, true)
      } else {
        // CREATE: rename-if-absent IS the atomic commit point
        if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
        require(fs.rename(stagePath, target),
          s"staged CTAS commit failed: could not rename $stagePath to $target")
        // manifests carry ABSOLUTE data-file paths: re-anchor them
        SnapshotTable.rebaseMetadata(spark, stagePath.toString, target.toString)
      }
    }

    override def abortStagedChanges(): Unit = fs.delete(stagePath, true)
  }

  override def createTable(ident: Identifier, info: TableInfo): Table = {
    if (ident.namespace.nonEmpty && !fs.exists(nsPath(ident.namespace)))
      throw new NoSuchNamespaceException(ident.namespace)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    mintTable(tablePath(ident).toString, info)
  }

  /** Mint an empty, typed v1 snapshot table at `root` from DDL info —
    * shared by CREATE TABLE and the staged (CTAS/RTAS) path. */
  private def mintTable(root: String, info: TableInfo): SnapshotTableV2 = {
    // PARTITIONED BY (c, days(ts), months(d), hours(ts), bucket(16, k))
    // — the transform set the manifest's tuple evaluator defines
    val pspecs = info.partitions().toSeq.map { t =>
      def ref: String = {
        require(t.references.length == 1 && t.references()(0).fieldNames.length == 1,
          s"single-column transform expected, got $t")
        t.references()(0).fieldNames()(0)
      }
      t.name match {
        case "identity" => ref
        case "days" => s"days($ref)"
        case "months" => s"months($ref)"
        case "hours" => s"hours($ref)"
        case "bucket" =>
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value.isInstanceOf[Int] => l.value.asInstanceOf[Int]
          }.getOrElse(throw new IllegalArgumentException(
            s"bucket transform needs an INT bucket count: $t"))
          s"bucket[$n]($ref)"
        case other => throw new UnsupportedOperationException(
          s"graft-snapshot does not support PARTITIONED BY transform '$other'")
      }
    }
    SnapshotTable.validatePartitionSpecs(pspecs, info.schema())
    // TBLPROPERTIES('sortBy'='c1,c2') declares the table sort order
    val sortBy = Option(info.properties().get("sortBy"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    sortBy.foreach(c => require(info.schema().fieldNames.contains(c),
      s"sortBy column '$c' not in ${info.schema().fieldNames.mkString(",")}"))
    // TBLPROPERTIES('deleteMode'='merge-on-read', ...) pins the
    // row-level write modes in the manifest (`#rowlevel` line, carried
    // forward by every commit) — deletion vectors instead of
    // copy-on-write for the named commands
    val rlModes = Seq("delete" -> "deleteMode", "update" -> "updateMode",
        "merge" -> "mergeMode").flatMap { case (cmd, key) =>
      Option(info.properties().get(key)).map(cmd -> _)
    }.toMap
    // an empty, TYPED v1: zero-file manifest + schema sidecar, atomic
    val meta = SnapshotTable.partitionMeta(pspecs) ++
      SnapshotTable.sortMeta(sortBy) ++
      SnapshotTable.rowLevelMeta(rlModes)
    SnapshotTable.publish(spark, root, 1L, Seq.empty, meta, Some(info.schema()))
    new SnapshotTableV2(root, Some(SnapshotTable.Snapshot(1L, Seq.empty, meta)),
      SnapshotTable.nullableSchema(info.schema()))
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    isTableDir(p) && fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    if (newIdent.namespace.nonEmpty && !fs.exists(nsPath(newIdent.namespace)))
      throw new NoSuchNamespaceException(newIdent.namespace)
    require(fs.rename(tablePath(oldIdent), tablePath(newIdent)),
      s"rename $oldIdent -> $newIdent failed")
    // manifests carry ABSOLUTE data-file paths: re-anchor them
    SnapshotTable.rebaseMetadata(spark, tablePath(oldIdent).toString,
      tablePath(newIdent).toString)
  }

  /** ALTER TABLE: ADD COLUMNS and lossless type widening, committed as a
    * metadata-only next version (same files, evolved schema sidecar) —
    * the manifest rename keeps even DDL atomic. Everything else is
    * refused loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = tablePath(ident).toString
    // RENAME/DROP COLUMN route to the metadata-only lineage ops (they
    // commit their own version with the `#colmap` event + re-keyed
    // stats); SQL sends one change per ALTER statement
    if (changes.exists(c => c.isInstanceOf[TableChange.RenameColumn] ||
        c.isInstanceOf[TableChange.DeleteColumn])) {
      require(changes.length == 1,
        "RENAME/DROP COLUMN cannot combine with other table changes")
      changes.head match {
        case r: TableChange.RenameColumn =>
          require(r.fieldNames.length == 1,
            "nested RENAME COLUMN is not supported")
          SnapshotTable.renameColumn(spark, root, r.fieldNames()(0), r.newName())
        case d: TableChange.DeleteColumn =>
          require(d.fieldNames.length == 1,
            "nested DROP COLUMN is not supported")
          SnapshotTable.dropColumn(spark, root, d.fieldNames()(0))
        case _ => ()
      }
      return loadTable(ident)
    }
    val snap = SnapshotTable.latest(spark, root)
      .getOrElse(throw new NoSuchTableException(ident))
    val base = SnapshotTable.tableSchema(spark, root, snap.version)
      .getOrElse(throw new IllegalStateException(
        s"table $ident has no schema sidecar"))
    // ALTER TABLE ... SET/UNSET TBLPROPERTIES for the row-level write
    // modes: flips an existing table to merge-on-read (or back) as a
    // metadata-only version — the `#rowlevel` line is carried forward
    // by every later commit
    val rlKeys = Map("deleteMode" -> "delete", "updateMode" -> "update",
      "mergeMode" -> "merge")
    var modes = snap.rowLevelModes
    // ALTER TABLE ... SET TBLPROPERTIES('partition'='days(ts),host') is
    // PARTITION SPEC EVOLUTION: a metadata-only version — new writes
    // tuple by the new fields, old files keep their (self-describing)
    // old-era tuples and degrade to never-pruned until compaction
    var newSpecs: Option[Seq[String]] = None
    val schemaChanges = changes.filter {
      case s: TableChange.SetProperty =>
        rlKeys.get(s.property) match {
          case Some(cmd) => modes = modes + (cmd -> s.value); false
          case None if s.property == "partition" =>
            newSpecs = Some(s.value.split(",").map(_.trim)
              .filter(_.nonEmpty).toSeq)
            false
          case None => throw new UnsupportedOperationException(
            s"graft catalog supports TBLPROPERTIES " +
              s"${(rlKeys.keys.toSeq :+ "partition").mkString("/")}; " +
              s"got '${s.property}'")
        }
      case r: TableChange.RemoveProperty =>
        rlKeys.get(r.property) match {
          case Some(cmd) => modes = modes - cmd; false
          case None if r.property == "partition" =>
            newSpecs = Some(Seq.empty); false
          case None => throw new UnsupportedOperationException(
            s"graft catalog supports TBLPROPERTIES " +
              s"${(rlKeys.keys.toSeq :+ "partition").mkString("/")}; " +
              s"got '${r.property}'")
        }
      case _ => true
    }
    val next = schemaChanges.foldLeft(base) { (sc, ch) =>
      ch match {
        case add: TableChange.AddColumn =>
          require(add.fieldNames.length == 1,
            "nested ADD COLUMN is not supported")
          StructType(sc.fields :+
            StructField(add.fieldNames()(0), add.dataType(), nullable = true))
        case upd: TableChange.UpdateColumnType =>
          require(upd.fieldNames.length == 1,
            "nested column type changes are not supported")
          val name = upd.fieldNames()(0)
          val i = sc.fieldIndex(name)
          val cur = sc.fields(i).dataType
          require(SnapshotTable.widens(cur, upd.newDataType()),
            s"only lossless numeric widening is supported: " +
              s"$name $cur -> ${upd.newDataType()}")
          StructType(sc.fields.updated(i,
            sc.fields(i).copy(dataType = upd.newDataType())))
        case other => throw new UnsupportedOperationException(
          s"graft catalog supports ADD COLUMNS and type widening; got $other")
      }
    }
    newSpecs.foreach(SnapshotTable.validatePartitionSpecs(_, next))
    val v = snap.version + 1
    SnapshotTable.publish(spark, root, v, snap.entries,
      SnapshotTable.nextMeta(Some(snap), None, rowLevelOverride = Some(modes),
        partitionOverride = newSpecs),
      Some(next), carryStatsFrom = Some(snap.version))
    loadTable(ident)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(p).toSeq
      // dot-dirs are an in-flight CTAS's staging area — real snapshot
      // roots underneath, but not published tables
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith(".") &&
        isTableDir(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  // --------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(warehouse)) Array.empty
    else fs.listStatus(warehouse).toSeq
      .filter(st => st.isDirectory && !isTableDir(st.getPath))
      .map(st => Array(st.getPath.getName)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      if (!fs.exists(nsPath(namespace))) throw new NoSuchNamespaceException(namespace)
      Array.empty // single-level namespaces
    }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!fs.exists(nsPath(namespace))) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    if (fs.exists(nsPath(namespace)))
      throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(nsPath(namespace)): Unit
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) return false
    if (!cascade && listTables(namespace).nonEmpty)
      throw NonEmptyNamespaceException(namespace, "namespace holds tables", None)
    fs.delete(p, true)
  }

  // --------------------------------------------------------- procedures

  private def identOf(table: String): Identifier = {
    val parts = table.split("\\.")
    Identifier.of(parts.dropRight(1), parts.last)
  }

  private def oneRowScan(schema: StructType, values: Array[Any]): Scan =
    new Scan with LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] =
        Array(new GenericInternalRow(values))
      override def description(): String = "graft procedure result"
    }

  private abstract class GraftProcedure(procName: String,
                                        params: Seq[ProcedureParameter])
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
  }

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"procedures live in the 'system' namespace: $catalogName.system.<name>")
    ident.name match {
      case "compact" => new GraftProcedure("compact", Seq(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("target_files", IntegerType).build(),
        ProcedureParameter.in("cluster_by", StringType)
          .defaultValue("''").build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val root = tablePath(identOf(input.getUTF8String(0).toString)).toString
          // 'k' range-clusters one dimension; 'x,y' Z-ORDERS two (files
          // stay tight in both columns, 2-D predicates keep pruning)
          val cols = Option(input.getUTF8String(2)).map(_.toString)
            .filter(_.nonEmpty).toSeq
            .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
          // keep skipping alive across the rewrite: re-collect stats on
          // the columns the current version tracks PLUS the layout cols
          val statsCols = (SnapshotTable.stats(spark, root,
            SnapshotTable.latest(spark, root).map(_.version).getOrElse(0L))
            .keySet.map(_._2).toSeq ++ cols).distinct.sorted
          val v = SnapshotTable.compact(spark, root, input.getInt(1),
            clusterBy = if (cols.length == 1) Some(cols.head) else None,
            zorderBy = if (cols.length == 2) cols else Seq.empty,
            statsCols = statsCols)
          val n = SnapshotTable.latest(spark, root).get.files.size
          util.List.of(oneRowScan(
            StructType(Seq(StructField("new_version", LongType, false),
              StructField("n_files", IntegerType, false))),
            Array[Any](v, n))).iterator()
        }
      }
      case "vacuum" => new GraftProcedure("vacuum", Seq(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("keep_versions", IntegerType).build(),
        ProcedureParameter.in("grace_ms", LongType)
          .defaultValue("604800000").build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val ident = identOf(input.getUTF8String(0).toString)
          val root = tablePath(ident).toString
          val deleted = SnapshotTable.vacuum(spark, root,
            keepVersions = input.getInt(1), graceMs = input.getLong(2))
          // sweep ORPHANED CTAS/RTAS staging dirs in the table's
          // namespace: a driver that died mid-CTAS leaves a hidden
          // .stage-* dir no abort path will ever reclaim — same age
          // gate as the table's own orphans (an in-flight CTAS's
          // fresh staging dir is untouched)
          val cutoff = System.currentTimeMillis() - input.getLong(2)
          val ns = nsPath(ident.namespace)
          if (fs.exists(ns)) fs.listStatus(ns).foreach { st =>
            if (st.isDirectory && st.getPath.getName.startsWith(".stage-") &&
                st.getModificationTime < cutoff)
              fs.delete(st.getPath, true)
          }
          util.List.of(oneRowScan(
            StructType(Seq(StructField("files_deleted", IntegerType, false))),
            Array[Any](deleted))).iterator()
        }
      }
      case "restore" => new GraftProcedure("restore", Seq(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("version", LongType).build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val root = tablePath(identOf(input.getUTF8String(0).toString)).toString
          val v = SnapshotTable.restore(spark, root, input.getLong(1))
          util.List.of(oneRowScan(
            StructType(Seq(StructField("restored_from", LongType, false),
              StructField("new_version", LongType, false))),
            Array[Any](input.getLong(1), v))).iterator()
        }
      }
      case "purge_deletes" => new GraftProcedure("purge_deletes", Seq(
        ProcedureParameter.in("table", StringType).build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val root = tablePath(identOf(input.getUTF8String(0).toString)).toString
          val before = SnapshotTable.latest(spark, root)
            .map(_.entries.count(_.dv.nonEmpty)).getOrElse(0)
          val v = SnapshotTable.purgeDeletes(spark, root)
          util.List.of(oneRowScan(
            StructType(Seq(StructField("version", LongType, false),
              StructField("files_purged", IntegerType, false))),
            Array[Any](v, before))).iterator()
        }
      }
      // ---- refs: tags (immutable) and branches (fast-forward only) —
      // the write-audit-publish surface. version = -1 means "the
      // current head" (SQL CALL cannot pass NULL defaults portably).
      case "tag" => new GraftProcedure("tag", Seq(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build(),
        ProcedureParameter.in("version", LongType).defaultValue("-1").build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val root = tablePath(identOf(input.getUTF8String(0).toString)).toString
          val v = SnapshotTable.tag(spark, root,
            input.getUTF8String(1).toString,
            Some(input.getLong(2)).filter(_ >= 0))
          util.List.of(oneRowScan(
            StructType(Seq(StructField("version", LongType, false))),
            Array[Any](v))).iterator()
        }
      }
      // ---- write branches: staged divergent commits on a virtual
      // root, published by fast-forwarding main over them atomically
      case "create_branch" => new GraftProcedure("create_branch", Seq(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val root = tablePath(identOf(input.getUTF8String(0).toString)).toString
          val base = SnapshotTable.createWriteBranch(spark, root,
            input.getUTF8String(1).toString)
          util.List.of(oneRowScan(
            StructType(Seq(StructField("forked_at", LongType, false))),
            Array[Any](base))).iterator()
        }
      }
      case "publish_branch" => new GraftProcedure("publish_branch", Seq(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val root = tablePath(identOf(input.getUTF8String(0).toString)).toString
          val v = SnapshotTable.publishBranch(spark, root,
            input.getUTF8String(1).toString)
          util.List.of(oneRowScan(
            StructType(Seq(StructField("new_version", LongType, false))),
            Array[Any](v))).iterator()
        }
      }
      case "drop_branch" => new GraftProcedure("drop_branch", Seq(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val root = tablePath(identOf(input.getUTF8String(0).toString)).toString
          val dropped = SnapshotTable.dropWriteBranch(spark, root,
            input.getUTF8String(1).toString)
          util.List.of(oneRowScan(
            StructType(Seq(StructField("dropped",
              org.apache.spark.sql.types.BooleanType, false))),
            Array[Any](dropped))).iterator()
        }
      }
      case "branch" => new GraftProcedure("branch", Seq(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build(),
        ProcedureParameter.in("version", LongType).defaultValue("-1").build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val root = tablePath(identOf(input.getUTF8String(0).toString)).toString
          val v = SnapshotTable.branch(spark, root,
            input.getUTF8String(1).toString,
            Some(input.getLong(2)).filter(_ >= 0))
          util.List.of(oneRowScan(
            StructType(Seq(StructField("version", LongType, false))),
            Array[Any](v))).iterator()
        }
      }
      case "fast_forward" => new GraftProcedure("fast_forward", Seq(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build(),
        ProcedureParameter.in("version", LongType).defaultValue("-1").build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val root = tablePath(identOf(input.getUTF8String(0).toString)).toString
          val v = SnapshotTable.fastForward(spark, root,
            input.getUTF8String(1).toString,
            Some(input.getLong(2)).filter(_ >= 0))
          util.List.of(oneRowScan(
            StructType(Seq(StructField("version", LongType, false))),
            Array[Any](v))).iterator()
        }
      }
      case "drop_ref" => new GraftProcedure("drop_ref", Seq(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val root = tablePath(identOf(input.getUTF8String(0).toString)).toString
          val dropped = SnapshotTable.dropRef(spark, root,
            input.getUTF8String(1).toString)
          util.List.of(oneRowScan(
            StructType(Seq(StructField("dropped",
              org.apache.spark.sql.types.BooleanType, false))),
            Array[Any](dropped))).iterator()
        }
      }
      case other => throw new UnsupportedOperationException(
        s"unknown procedure $catalogName.system.$other " +
          "(available: compact, vacuum, purge_deletes, restore, tag, " +
          "branch, fast_forward, drop_ref)")
    }
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array("system"), "compact"),
      Identifier.of(Array("system"), "vacuum"),
      Identifier.of(Array("system"), "purge_deletes"),
      Identifier.of(Array("system"), "restore"),
      Identifier.of(Array("system"), "tag"),
      Identifier.of(Array("system"), "branch"),
      Identifier.of(Array("system"), "fast_forward"),
      Identifier.of(Array("system"), "drop_ref"))
}
