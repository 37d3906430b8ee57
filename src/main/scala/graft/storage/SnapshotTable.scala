package graft.storage

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal snapshot/manifest table format over plain parquet — the
  * Delta/Iceberg-class capabilities a 100 TB metrics store actually needs,
  * built from first principles on two primitives every HDFS-compatible
  * filesystem gives us: immutable data files and atomic single-file
  * rename.
  *
  * Layout:
  * {{{
  *   <root>/data/<uuid>/part-*.parquet     // immutable, append-only
  *   <root>/_snapshots/v<20-digit>.manifest // one line per data file
  * }}}
  *
  * Guarantees:
  *  - ATOMIC COMMIT: a snapshot becomes visible by renaming a staged
  *    manifest into its versioned name. Readers either see the whole
  *    snapshot or none of it — never a half-written file list.
  *  - OPTIMISTIC CONCURRENCY: two writers committing the same next
  *    version race on the rename; the filesystem lets exactly ONE win
  *    (rename-to-existing fails), the loser gets
  *    `ConcurrentModificationException` and its orphaned data files are
  *    removed. No locks, no coordination service.
  *  - SNAPSHOT ISOLATION / TIME TRAVEL: manifests and data files are
  *    immutable; a reader that resolved version N keeps a consistent view
  *    regardless of later commits, and [[readVersion]] reopens any
  *    retained version.
  *
  * Scale shape: a manifest is metadata (one line per FILE, not row); a
  * [[merge]] is one keyed shuffle over current∪updates plus a rewrite of
  * the merged files — the copy-on-write MERGE INTO. For partition-scoped
  * rewrites at 100 TB compose with `Layout.upsertPartitioned` (rewrite
  * only touched partitions) and keep this layer for the atomic visibility
  * flip; [[vacuum]] is the retention pass that unreferences old versions.
  */
object SnapshotTable {

  /** One manifest data-file entry: absolute path plus the file's row and
    * byte counts, recorded AT COMMIT TIME (the writer just produced the
    * file — its footer is hot) so `count(*)` and size statistics become
    * O(1) manifest reads instead of O(files) footer/listing RPCs at
    * query time. −1 = unknown (legacy path-only manifest lines).
    *
    * `tuple` is the file's EXACT partition tuple (Iceberg shape — see
    * [[SnapshotPartition]]): `""` means the file is not partition-scoped
    * (unpartitioned table, or a rewrite that did not re-derive tuples) —
    * such a file is never pruned by partition predicates, the usual
    * no-false-negative degradation. */
  /** `dv`/`dvRows` reference the file's DELETION VECTOR sidecar
    * ([[DeletionVectors]]) when merge-on-read deletes hit it: `dv` is
    * the sidecar's absolute path, `dvRows` its (exact) deleted-row
    * count. Empty/0 = no deletes. Readers subtract the positions; any
    * rewrite of the file drops the reference. */
  /** `addV` is the version that ADDED the file (stamped by [[commit]]
    * on entries that don't carry one yet; −1 = legacy/unknown): the
    * sequence number equality deletes resolve against — a sidecar
    * committed at version V deletes matching rows only from files with
    * `addV < V`, so a batch's own files win over its own deletes
    * (last-write-wins). Carried verbatim by every metadata-only
    * commit; any rewrite re-stamps with the rewriting version. */
  final case class FileEntry(path: String, rows: Long = -1L, bytes: Long = -1L,
                             tuple: String = "", dv: String = "",
                             dvRows: Long = 0L, addV: Long = -1L) {
    /** Live rows = recorded rows minus merge-on-read deletes; -1 when
      * the file's row count was never recorded. Does NOT account for
      * equality deletes (membership needs the data) — paths needing
      * exact counts must check [[Snapshot.eqDeletes]] applicability. */
    def liveRows: Long = if (rows < 0L) -1L else rows - dvRows
  }

  /** A resolved snapshot: version + data-file entries + metadata lines
    * ("#"-prefixed in the manifest — e.g. the streaming sink's
    * `#txn [<appId>] <batchId>` ledger entries, ATOMIC with the commit
    * because they ride the same manifest rename). */
  final case class Snapshot(version: Long, entries: Seq[FileEntry],
                            meta: Seq[String] = Seq.empty) {
    /** ABSOLUTE data-file paths. */
    def files: Seq[String] = entries.map(_.path)
    /** Total LIVE rows (merge-on-read deletes subtracted) when EVERY
      * entry carries a count; None otherwise — including when any
      * entry is subject to an EQUALITY delete (matching rows are only
      * countable by reading the data). */
    def rowCount: Option[Long] =
      if (entries.exists(e => eqDeletesFor(e).nonEmpty)) None
      else if (entries.nonEmpty && entries.forall(_.rows >= 0L))
        Some(entries.map(_.liveRows).sum)
      else if (entries.isEmpty) Some(0L)
      else None
    /** The batch-id ledger, keyed by app/query id: `#txn <id>` is the
      * default app's entry (appId = ""), `#txn <appId> <id>` is a named
      * stream's. Per-app keys are what let TWO streaming queries write
      * one table without one query's high-water mark silently no-op'ing
      * the other's batches (their batchIds are unrelated counters). */
    def txns: Map[String, Long] = meta.collect {
      case l if l.startsWith("#txn ") =>
        l.stripPrefix("#txn ").trim.split("\\s+") match {
          case Array(id) =>
            try Some("" -> id.toLong) catch { case _: NumberFormatException => None }
          case Array(app, id) =>
            try Some(app -> id.toLong) catch { case _: NumberFormatException => None }
          case _ => None
        }
    }.flatten.toMap
    /** The DEFAULT app's ledger entry, if any (compat surface). */
    def txn: Option[Long] = txns.get("")
    /** The table's partition field SPECS (`col`, `days(col)`,
      * `bucket[16](col)`), from the `#partition spec1,spec2` metadata
      * line every commit carries forward. Empty ⇒ unpartitioned. */
    def partitionSpecs: Seq[String] = meta.collectFirst {
      case l if l.startsWith("#partition ") =>
        l.stripPrefix("#partition ").trim.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
    }.getOrElse(Seq.empty)
    /** Parsed partition fields. */
    def partitionFields: Seq[SnapshotPartition.PartitionField] =
      partitionSpecs.map(SnapshotPartition.parseField)
    /** The fields' SOURCE columns (what writes must carry and the DSv2
      * write clusters on for identity specs). */
    def partitionCols: Seq[String] = partitionFields.map(_.col)
    /** The table's SORT ORDER columns (`#sort c1,c2` metadata line,
      * carried forward like the partition spec): every write path sorts
      * rows by these within each task/partition before staging, so each
      * data file covers a tight [min,max] range and `statsCols`
      * skipping keeps working across appends WITHOUT re-clustering
      * compaction — Iceberg's sortedBy, ascending. */
    /** Row-level SQL write modes (`#rowlevel delete=merge-on-read,...`
      * metadata line, carried forward like the partition spec): maps
      * `delete`/`update`/`merge` to `copy-on-write` (default) or
      * `merge-on-read` (deletion vectors). */
    def rowLevelModes: Map[String, String] = meta.collectFirst {
      case l if l.startsWith("#rowlevel ") =>
        l.stripPrefix("#rowlevel ").trim.split(",").toSeq
          .map(_.trim.split("=", 2)).collect {
            case Array(k, v) if k.nonEmpty && v.nonEmpty => k -> v
          }.toMap
    }.getOrElse(Map.empty)
    def sortCols: Seq[String] = meta.collectFirst {
      case l if l.startsWith("#sort ") =>
        l.stripPrefix("#sort ").trim.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
    }.getOrElse(Seq.empty)
    /** Files FULLY deleted by a merge-on-read commit in THIS version
      * (`#removed <path>` — per-version delta metadata, NOT carried
      * forward by [[nextMeta]]): lets the row-level change feed
      * attribute the manifest removal as deletes of the file's last
      * live rows instead of refusing it as an opaque rewrite.
      * Normalized paths. */
    def removedFiles: Set[String] = meta.collect {
      case l if l.startsWith("#removed ") =>
        norm(l.stripPrefix("#removed ").trim)
    }.toSet
    /** Per-file UPDATE-PREIMAGE ordinals of THIS version
      * (`#updv <file>\t<sidecar>`, per-version delta metadata): the
      * subset of the version's fresh deletes that were the delete-half
      * of an UPDATE — the change feed types them `update_preimage`.
      * Normalized file → sidecar path. */
    def updVectors: Map[String, String] = meta.collect {
      case l if l.startsWith("#updv ") =>
        l.stripPrefix("#updv ").split("\t") match {
          case Array(f, p) => Some(norm(f) -> p)
          case _ => None
        }
    }.flatten.toMap
    /** Data files added in THIS version holding only UPDATE POSTIMAGES
      * (`#updfile <path>`, per-version delta metadata): the change feed
      * types their rows `update_postimage` instead of `insert`.
      * Normalized paths. */
    def updFiles: Set[String] = meta.collect {
      case l if l.startsWith("#updfile ") =>
        norm(l.stripPrefix("#updfile ").trim)
    }.toSet
    /** EQUALITY-DELETE sidecars in force (`#eqdelete <path>\t<version>
      * \t<rows>\t<keyCols CSV>`, CARRIED FORWARD by every commit until
      * no retained file predates them): a sidecar deletes matching-key
      * rows from files with `addV < version` — the streaming-upsert
      * read contract ([[EqualityDeletes]]). */
    lazy val eqDeletes: Seq[(String, Long, Long, Seq[String])] = meta.collect {
      case l if l.startsWith("#eqdelete ") =>
        l.stripPrefix("#eqdelete ").split("\t") match {
          case arr if arr.length >= 4 =>
            (arr(1).toLongOption, arr(2).toLongOption) match {
              case (Some(ver), Some(rows)) =>
                Some((arr(0), ver, rows,
                  arr(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq))
              case _ => None
            }
          case _ => None
        }
    }.flatten
    /** Optional per-sidecar KEY RANGE (6-field `#eqdelete` form, fields
      * 5/6 = min/max of the single key column over the sink's
      * cast-to-double domain — the SAME domain the stats sidecar
      * records per file): sidecar → (min, max). What lets scans prove
      * a file's key range disjoint from an epoch's and skip the probe
      * entirely — the time-keyed-stream fast path. Absent for
      * multi-column or non-numeric keys (no skipping, no false
      * negatives). */
    lazy val eqDeleteRanges: Map[String, (Double, Double)] = meta.collect {
      case l if l.startsWith("#eqdelete ") =>
        l.stripPrefix("#eqdelete ").split("\t") match {
          case arr if arr.length >= 6 =>
            (arr(4).toDoubleOption, arr(5).toDoubleOption) match {
              case (Some(mn), Some(mx)) if !mn.isNaN && !mx.isNaN =>
                Some(arr(0) -> (mn, mx))
              case _ => None
            }
          case _ => None
        }
    }.flatten.toMap
    /** The eqdelete sidecars applying to `e` (committed after it). */
    def eqDeletesFor(e: FileEntry): Seq[(String, Long, Long, Seq[String])] =
      eqDeletes.filter { case (_, v, _, _) => e.addV < 0L || e.addV < v }
    /** Column RENAME/DROP events in force (`#colmap <version>\t<kind>\t
      * <a>[\t<b>]`, kind = rename|drop) — the per-version lineage that
      * lets readers resolve a logical column to each FILE's physical
      * name (files keep the names they were written with; see
      * [[SnapshotTable.physicalColumn]]). Carried forward until every
      * entry postdates them (compaction rewrites files under current
      * names, then commit() retires the lines). Sorted by version. */
    lazy val colEvents: Seq[(Long, String, String, String)] = meta.collect {
      case l if l.startsWith("#colmap ") =>
        l.stripPrefix("#colmap ").split("\t") match {
          case Array(v, "rename", old, nw) =>
            v.toLongOption.map(x => (x, "rename", old, nw))
          case Array(v, "drop", name) =>
            v.toLongOption.map(x => (x, "drop", name, ""))
          case _ => None
        }
    }.flatten.sortBy(_._1)
    /** Scan-planning view of the in-force equality deletes over a kept
      * entry set: (normalized file → applicable sidecar paths, the one
      * key set) — refusing mixed key sets with compact-first guidance.
      * THE shared helper for every scan builder (plain, delta rewrite,
      * group rewrite); changing applicability or the key-set rule
      * happens here once.
      *
      * `fileStats` (the version's stats map) enables KEY-RANGE
      * SKIPPING: a sidecar carrying a key range ([[eqDeleteRanges]])
      * stops applying to files whose recorded key-column min/max is
      * PROVABLY disjoint — on a time-keyed upsert stream that is most
      * of the table, which then pays ZERO per-row probe work. Missing
      * stats/range keep the probe (no false negatives). */
    def eqPlanFor(kept: Seq[FileEntry],
                  fileStats: Map[(String, String), (Double, Double)] = Map.empty)
        : (Map[String, Seq[String]], Seq[String]) = {
      // both bounds come through the SAME monotone cast-to-double map
      // (the writer tracks it, collectStats records it), so rounding can
      // never prove a true overlap disjoint; missing range or stats ⇒
      // the sidecar applies (probe kept — no false negatives)
      def rangeApplies(e: FileEntry, path: String, ks: Seq[String]): Boolean =
        (eqDeleteRanges.get(path),
          if (ks.size == 1) fileStats.get((norm(e.path), ks.head)) else None) match {
          case (Some((dmn, dmx)), Some((fmn, fmx))) => dmx >= fmn && dmn <= fmx
          case _ => true
        }
      val byFile = kept.flatMap { e =>
        val ds = eqDeletesFor(e).collect {
          case (p, _, _, ks) if rangeApplies(e, p, ks) => p
        }
        if (ds.isEmpty) None else Some(norm(e.path) -> ds)
      }.toMap
      // the key-set rule stays over the UNSKIPPED applicability (a
      // range-skipped sidecar still forbids a mixed-key-set table)
      val keySets = kept.flatMap(e => eqDeletesFor(e).map(_._4)).distinct
      require(keySets.size <= 1,
        s"equality deletes with differing key sets in force: $keySets " +
          "(compact the table before changing upsert keys)")
      (byFile, keySets.headOption.getOrElse(Seq.empty))
    }
  }

  /** Resolve a LOGICAL column of the head schema to the PHYSICAL name a
    * file added at `addV` was written with, by walking the rename/drop
    * events committed AFTER the file backwards from the head:
    *  - `rename old→new` at v: a column named `new` above v was named
    *    `old` below; a column named `old` above v is a DIFFERENT column
    *    (the name was freed at v) — files below v must not serve it;
    *  - `drop name` at v: a column named `name` above v was (re)created
    *    after the drop — files below v hold the DROPPED lineage and
    *    must not serve it.
    * None ⇒ the file has no physical column for this logical one (read
    * as null). Files with addV<0 (legacy) predate every event. */
  private[storage] def physicalColumn(events: Seq[(Long, String, String, String)],
                                      addV: Long, logical: String): Option[String] = {
    var phys = logical
    val it = events.filter(e => addV < 0L || e._1 > addV)
      .sortBy(-_._1).iterator
    while (it.hasNext) {
      it.next() match {
        case (_, "rename", old, nw) =>
          if (phys == nw) phys = old
          else if (phys == old) return None
        case (_, "drop", name, _) =>
          if (phys == name) return None
        case _ => ()
      }
    }
    Some(phys)
  }

  /** Per-file logical→physical resolution for `cols` under the
    * snapshot's rename/drop events — ONLY files needing a non-identity
    * mapping appear (the common, no-DDL table maps to an empty result
    * and pays nothing). Value: logical → Some(physical) | None (null). */
  private[storage] def colMapFor(snap: Snapshot, cols: Seq[String])
      : Map[String, Map[String, Option[String]]] = {
    if (snap.colEvents.isEmpty) return Map.empty
    snap.entries.flatMap { e =>
      val m = cols.map(c => c -> physicalColumn(snap.colEvents, e.addV, c)).toMap
      if (m.forall { case (c, p) => p.contains(c) }) None
      else Some(norm(e.path) -> m)
    }.toMap
  }

  /** THE `#eqdelete` manifest-line renderer — parsing lives in
    * [[Snapshot.eqDeletes]]/[[Snapshot.eqDeleteRanges]]; every writer
    * renders through here (nextMeta/restore carry lines RAW, so the
    * optional range survives untouched). `range` = the sidecar keys'
    * min/max in the cast-to-double stats domain, single numeric/
    * timestamp key columns only. */
  def eqDeleteLine(path: String, version: Long, rows: Long,
                   keys: Seq[String],
                   range: Option[(Double, Double)] = None): String =
    s"#eqdelete $path\t$version\t$rows\t${keys.mkString(",")}" +
      range.map { case (mn, mx) => s"\t$mn\t$mx" }.getOrElse("")

  /** The `#partition` manifest metadata line for field `specs` (empty ⇒
    * none). */
  private[storage] def partitionMeta(specs: Seq[String]): Seq[String] =
    if (specs.isEmpty) Seq.empty else Seq(s"#partition ${specs.mkString(",")}")

  /** The `#sort` manifest metadata line (empty ⇒ no declared order). */
  private[storage] def sortMeta(cols: Seq[String]): Seq[String] =
    if (cols.isEmpty) Seq.empty else Seq(s"#sort ${cols.mkString(",")}")

  /** The `#rowlevel` manifest metadata line (empty ⇒ all defaults). */
  private[storage] def rowLevelMeta(modes: Map[String, String]): Seq[String] = {
    modes.foreach { case (k, v) =>
      require(Set("delete", "update", "merge")(k) &&
        Set("copy-on-write", "merge-on-read")(v),
        s"unsupported row-level mode $k=$v (delete/update/merge = " +
          "copy-on-write|merge-on-read)")
    }
    if (modes.isEmpty) Seq.empty
    else Seq(s"#rowlevel ${modes.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString(",")}")
  }

  /** Refuse a bad partition spec loudly at create time: unknown source
    * column, transform/type mismatch, or two fields over one source
    * column (the pruner maps each source column to ONE domain). */
  private[storage] def validatePartitionSpecs(
      specs: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val fields = specs.map(SnapshotPartition.parseField)
    require(fields.map(_.col).distinct.length == fields.length,
      s"at most one partition field per source column: $specs")
    fields.foreach { f =>
      val sf = schema.fields.find(_.name == f.col).getOrElse(
        throw new IllegalArgumentException(
          s"partition column '${f.col}' not in ${schema.fieldNames.mkString(",")}"))
      require(SnapshotPartition.supportedField(f, sf.dataType),
        s"partition field '${f.key}' unsupported over type ${sf.dataType}")
    }
  }

  /** Age after which a fallback-path commit lock left by a crashed writer
    * is taken over (the commit-point flip it guards is milliseconds). */
  private val lockStaleMs = 60000L

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def snapDir(root: String) = new Path(root, "_snapshots")
  private def manifestPath(root: String, v: Long) =
    new Path(snapDir(root), f"v$v%020d.manifest")
  private def statsPath(root: String, v: Long) =
    new Path(snapDir(root), f"v$v%020d.stats")
  private def schemaPath(root: String, v: Long) =
    new Path(snapDir(root), f"v$v%020d.schema")

  /** Scheme-free normal form so stats keys match manifest paths whatever
    * prefix (`file:`, `file://`) each API layer used. */
  private[storage] def norm(p: String): String = new Path(p).toUri.getPath

  /** [[norm]] for strings Spark REPORTS (`input_file_name()`,
    * `_metadata.file_path`): those arrive percent-ENCODED, so they must
    * be URI-decoded before they can key anything that [[norm]]-keyed
    * manifest paths will look up — on a root with a space/`%`, keying
    * the raw string silently disconnects stats from every consumer
    * (data skipping, NDV, metadata-delete proofs all fail safe but
    * OFF). Non-URI input (no scheme, reserved chars unencoded) falls
    * back to [[norm]]. */
  private[storage] def decNorm(p: String): String =
    try {
      val u = new java.net.URI(p)
      Option(u.getPath).filter(_.nonEmpty).getOrElse(norm(p))
    } catch { case _: java.net.URISyntaxException => norm(p) }

  private def listParquetStatuses(f: FileSystem,
                                  dir: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val it = f.listFiles(dir, true)
    val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) out += st
    }
    out.result().sortBy(_.getPath.toString)
  }

  private def listParquet(f: FileSystem, dir: Path): Seq[String] =
    listParquetStatuses(f, dir).map(_.getPath.toString)

  /** Stage `df` as new immutable data files under `<root>/data/<uuid>`
    * through the connector's task writer ([[dsv2.SnapshotWriterFactory]],
    * the one SQL writes use): one writer per task attempt writes the
    * task's rows, `commit` returns each file's manifest entry (path,
    * row and byte counts, and on a partitioned table its exact tuple —
    * the fanout writer keeps every file tuple-pure), and `abort` deletes
    * the attempt's files. A zero-row task stages no file. Nothing is
    * visible until a publish; a failed job leaves no staged files.
    *
    * A partitioned write hash-clusters whole tuples first (Iceberg's
    * hash distribution, same as the SQL write) so each tuple lands in
    * ONE task → one file per tuple per write; callers that already
    * clustered (compaction's explicit repartition) skip that shuffle. */
  private def writeData(spark: SparkSession, root: String, df: DataFrame,
                        partitionSpecs: Seq[String] = Seq.empty,
                        sortCols: Seq[String] = Seq.empty,
                        clusterToTuples: Boolean = true): Seq[FileEntry] = {
    // every read of the table is a connector scan: refuse a column type
    // its readers cannot decode before any file is staged
    graft.storage.dsv2.SnapshotParquetWrite.requireWritable(df.schema)
    val keys = if (partitionSpecs.isEmpty) Nil else partitionKeys(spark, partitionSpecs)
    val clustered =
      if (keys.isEmpty || !clusterToTuples) df else df.repartition(keys: _*)
    // each task's rows sorted by tuple (a sort that spills), so the task
    // writer holds one open file at a time; then by the declared sort
    // order, so every file covers a tight range of the sort columns
    val order = keys ++ sortCols.map(col)
    val out = if (order.isEmpty) clustered else clustered.sortWithinPartitions(order: _*)
    val dir = stagingDir(spark, root)
    val factory = new graft.storage.dsv2.SnapshotWriterFactory(dir.toString,
      out.schema,
      new graft.storage.dsv2.SerializableHadoopConf(spark.sessionState.newHadoopConf()),
      graft.storage.dsv2.PartitionWriteSpec.of(out.schema, partitionSpecs),
      tupleSorted = true)
    val qe = out.queryExecution
    try {
      org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
          Some("graft-snapshot stage")) {
        qe.toRdd.mapPartitionsWithIndex { (pid, rows) =>
          val w = factory.createWriter(pid,
            org.apache.spark.TaskContext.get().taskAttemptId())
          try {
            while (rows.hasNext) w.write(rows.next())
            Iterator.single(w.commit())
          } catch { case t: Throwable =>
            try w.abort() catch { case s: Throwable => t.addSuppressed(s) }
            throw t
          } finally w.close()
        }.collect()
      }.toSeq.flatMap {
        case graft.storage.dsv2.SnapshotCommitMessage(files) => files
        case other => throw new IllegalStateException(s"unexpected commit message $other")
      }.sortBy(_.path)
    } catch { case t: Throwable => fs(spark, root).delete(dir, true); throw t }
  }

  /** A fresh staging directory `<root>/data/<uuid>` for one write job,
    * created and qualified on the driver so executors and the manifest
    * agree on the path form. */
  private[storage] def stagingDir(spark: SparkSession, root: String): Path = {
    val f = fs(spark, root)
    val p = f.makeQualified(
      new Path(new Path(root, "data"), java.util.UUID.randomUUID().toString))
    f.mkdirs(p)
    p
  }

  /** The partition tuple's field values as `graft_part_field`
    * expressions — what partitioned writes cluster and scope by. */
  private def partitionKeys(spark: SparkSession,
                            specs: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    graft.functions.expressions.GraftFunctions.register(spark)
    specs.map(SnapshotPartition.parseField).map(f =>
      expr(s"graft_part_field('${f.transform}', ${f.n}, `${f.col}`)"))
  }

  /** Atomically publish `files` as version `v`. The staged manifest is
    * fully written and flushed FIRST; an atomic fail-if-exists
    * publication is the commit point. Throws
    * `ConcurrentModificationException` when `v` already exists — i.e.
    * another writer won the race from the same base snapshot.
    *
    * The publication primitive is filesystem-specific because POSIX
    * `rename(2)` atomically REPLACES an existing destination (a plain
    * rename on the local filesystem would let BOTH racing committers
    * "succeed", silently losing one commit): on the LOCAL filesystem
    * (detected from the RESOLVED FileSystem's scheme — a scheme-less
    * path may resolve to HDFS via fs.defaultFS, so the raw URI must not
    * decide) the flip is `Files.createLink` — a hard link is
    * O_EXCL-atomic, exactly one linker wins — falling back to
    * exists+rename on mounts without hard-link support (some NFS/FUSE;
    * weaker, pre-checked). On HDFS-like stores `rename` is already
    * atomic-no-overwrite (returns false when the destination exists).
    * Object stores need a conditional-put LogStore, as every table
    * format documents. */
  private def commit(spark: SparkSession, root: String, v: Long,
                     entries0: Seq[FileEntry], meta0: Seq[String],
                     commitTime: Option[Long] = None): Unit = {
    require(meta0.forall(_.startsWith("#")),
      s"manifest metadata lines must be #-prefixed: $meta0")
    // stamp the ADD VERSION on entries that don't carry one (new files
    // of this commit, or a legacy table's first post-upgrade commit) —
    // the sequence number equality deletes resolve against
    val entries = entries0.map(e => if (e.addV < 0L) e.copy(addV = v) else e)
    // retire equality-delete lines that no longer apply to any entry
    // (every file now postdates them — e.g. after a compaction rewrote
    // the table): the sidecar itself retires through vacuum
    val meta = meta0.filter { l =>
      if (l.startsWith("#eqdelete "))
        l.stripPrefix("#eqdelete ").split("\t") match {
          case arr if arr.length >= 4 =>
            arr(1).toLongOption.exists(eqV => entries.exists(_.addV < eqV))
          case _ => false
        }
      // column rename/drop events retire by the same rule: once every
      // entry postdates the event (compaction rewrote the table under
      // current names), no file needs the mapping
      else if (l.startsWith("#colmap "))
        l.stripPrefix("#colmap ").split("\t").headOption
          .flatMap(_.toLongOption)
          .exists(ev => entries.exists(_.addV < ev))
      else true
    }
    val files = entries.map(entryLine)
    val f = fs(spark, root)
    f.mkdirs(snapDir(root))
    val target = manifestPath(root, v)
    if (f.exists(target)) throw new java.util.ConcurrentModificationException(
      s"snapshot v$v already committed by another writer at $root")
    val tmp = new Path(snapDir(root), s".tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write((meta ++ files).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // the commit time is the manifest's mtime; a hard link and a rename
    // both keep the staged file's, so it is set before the flip
    commitTime.foreach(f.setTimes(tmp, _, -1L))
    val local = f.getScheme == "file"
    val won =
      if (local) {
        val targetQ = f.makeQualified(target)
        val tmpQ = f.makeQualified(tmp)
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(targetQ.toUri.getPath),
            java.nio.file.Paths.get(tmpQ.toUri.getPath))
          f.delete(tmp, false)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            f.delete(tmp, false); false
          case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
            // no hard links on this mount (some NFS/FUSE): narrow the
            // exists+rename window with a best-effort O_EXCL lock file
            // (java.nio createFile is atomic on POSIX-compliant mounts;
            // on mounts where even THAT is emulated, concurrency is
            // weaker than advertised — documented). A crashed holder's
            // lock older than `lockStaleMs` is taken over.
            val lock = java.nio.file.Paths.get(
              f.makeQualified(new Path(snapDir(root), f".v$v%020d.lock")).toUri.getPath)
            def acquire(): Boolean =
              try { java.nio.file.Files.createFile(lock); true }
              catch {
                case _: java.nio.file.FileAlreadyExistsException =>
                  try {
                    val age = System.currentTimeMillis() -
                      java.nio.file.Files.getLastModifiedTime(lock).toMillis
                    age > lockStaleMs &&
                      java.nio.file.Files.deleteIfExists(lock) &&
                      { java.nio.file.Files.createFile(lock); true }
                  } catch { case _: Exception => false }
                case _: Exception => false
              }
            if (!acquire()) false
            else try !f.exists(target) && f.rename(tmp, target)
            finally java.nio.file.Files.deleteIfExists(lock)
        }
      } else f.rename(tmp, target)
    if (!won) {
      f.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"lost the commit race for snapshot v$v at $root")
    }
  }

  /** THE publish step — every version of every table, library or SQL,
    * becomes visible here, in one order: the manifest CAS ([[commit]],
    * the commit point; throws `ConcurrentModificationException` when
    * `v` is taken), then the stats sidecar, then the schema sidecar.
    *
    * Stats carry rule: with `carryStatsFrom = Some(b)`, every entry kept
    * from version `b` keeps its stats lines there (null counts and NDV
    * sketches included) and `newStats` adds the lines of the version's
    * new files; with None, `newStats` is the whole sidecar (column
    * rename/drop and table adoption pass rewritten lines). `schema`
    * None publishes no schema sidecar (a base that had none).
    * `commitTime` (epoch ms) stamps the manifest's mtime, the version's
    * commit time; None means now. Retry and rebase loops, and cleanup
    * after a lost CAS, stay with the callers. */
  private[storage] def publish(spark: SparkSession, root: String, v: Long,
                               entries: Seq[FileEntry], meta: Seq[String],
                               schema: Option[org.apache.spark.sql.types.StructType],
                               carryStatsFrom: Option[Long] = None,
                               newStats: Seq[String] = Seq.empty,
                               commitTime: Option[Long] = None): Unit = {
    // read the carried lines before the commit point, so the window in
    // which the new version has no sidecar stays as short as it can be
    val carried = carryStatsFrom.toSeq.flatMap { b =>
      val kept = entries.map(e => norm(e.path)).toSet
      statsRaw(spark, root, b).filter(l => kept(l.file)).map(_.line).sorted
    }
    commit(spark, root, v, entries, meta, commitTime)
    writeStats(spark, root, v, carried ++ newStats)
    schema.foreach(writeSchema(spark, root, v, _))
  }

  /** Data line: `path<TAB>rows<TAB>bytes[<TAB>tuple[<TAB>dv<TAB>dvRows
    * [<TAB>addV]]]` (−1 = unknown count; the tuple encoding escapes
    * TAB, so fields never split). Shorter legacy forms parse back with
    * unknown fields; the 7-field form is written whenever the add
    * version is known (every post-round-13 commit stamps it). */
  private def entryLine(e: FileEntry): String =
    if (e.addV >= 0L) // 7-field form; tuple/dv kept even when empty
      s"${e.path}\t${e.rows}\t${e.bytes}\t${e.tuple}\t${e.dv}\t${e.dvRows}\t${e.addV}"
    else if (e.dv.nonEmpty) // 6-field form; tuple kept even when empty
      s"${e.path}\t${e.rows}\t${e.bytes}\t${e.tuple}\t${e.dv}\t${e.dvRows}"
    else if (e.tuple.isEmpty) s"${e.path}\t${e.rows}\t${e.bytes}"
    else s"${e.path}\t${e.rows}\t${e.bytes}\t${e.tuple}"

  /** Manifest metadata for a new commit: the base snapshot's per-app txn
    * ledger AND partition spec CARRIED FORWARD, with this commit's txn
    * entry (if any) merged in under its app id — so non-stream commits
    * (compact, plain merges, DSv2 writes) never lower any stream's
    * batch-id high-water mark or drop the table's partitioning, and
    * vacuum can retire any old version without losing either. */
  private[storage] def nextMeta(base: Option[Snapshot], txn: Option[Long],
                                txnApp: String = "",
                                rowLevelOverride: Option[Map[String, String]] = None,
                                partitionOverride: Option[Seq[String]] = None)
      : Seq[String] = {
    val m = base.map(_.txns).getOrElse(Map.empty) ++ txn.map(txnApp -> _)
    partitionMeta(partitionOverride.getOrElse(
      base.map(_.partitionSpecs).getOrElse(Seq.empty))) ++
      sortMeta(base.map(_.sortCols).getOrElse(Seq.empty)) ++
      rowLevelMeta(rowLevelOverride.getOrElse(
        base.map(_.rowLevelModes).getOrElse(Map.empty))) ++
      // equality deletes AND column rename/drop events stay in force
      // across commits (commit() retires the ones every entry
      // postdates); carried RAW so optional fields (the key range)
      // survive verbatim
      base.toSeq.flatMap(_.meta.filter(l =>
        l.startsWith("#eqdelete ") || l.startsWith("#colmap "))) ++
      m.toSeq.sortBy(_._1).map {
        case ("", id) => s"#txn $id"
        case (app, id) => s"#txn $app $id"
      }
  }

  /** The exactly-once gate, ATOMIC with the commit: a writer that
    * resolved `base` and carries a batch id at-or-below base's ledger
    * entry for its app is REPLAYING an already-committed batch — refuse
    * before any data is staged. Atomicity holds because the subsequent
    * commit succeeds only if `base` is still the latest version (the
    * version rename is the CAS); a racer that slipped a commit in between
    * forces this writer back through a fresh resolve, where the gate
    * re-fires against the NEW ledger. Closes the check-then-act window a
    * sink-side pre-check alone would leave open (zombie driver + restarted
    * driver double-committing one batch). */
  private def txnGate(base: Snapshot, txn: Option[Long], txnApp: String): Unit = {
    require(!txnApp.exists(_.isWhitespace),
      s"txnApp must not contain whitespace: '$txnApp'")
    txn.foreach { id =>
      base.txns.get(txnApp).foreach { hw =>
        if (id <= hw) throw new java.util.ConcurrentModificationException(
          s"batch $id already committed for app '$txnApp' (high-water mark $hw)")
      }
    }
  }

  /** The base snapshot every library write resolves: the latest one
    * (refused when the table does not exist), pinned to
    * `expectedVersion` when the caller decided against a version
    * (compare-and-swap), behind the exactly-once [[txnGate]]. */
  private def writeBase(spark: SparkSession, root: String,
                        expectedVersion: Option[Long], txn: Option[Long],
                        txnApp: String): Snapshot = {
    val snap = latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no table at $root — create() first"))
    expectedVersion.foreach { v =>
      if (v != snap.version) throw new java.util.ConcurrentModificationException(
        s"expected base v$v but latest is v${snap.version} at $root")
    }
    txnGate(snap, txn, txnApp)
    snap
  }

  private def cleanupOrphans(spark: SparkSession, root: String,
                             files: Seq[String]): Unit = {
    val f = fs(spark, root)
    val dirs = files.map(p => new Path(p).getParent).distinct
    dirs.foreach(d => f.delete(d, true))
  }

  // -------------------------------------------- file-level min/max stats

  /** Per-file min/max for numeric `statsCols` over freshly staged files —
    * the Iceberg-manifest data-skipping metadata, one aggregate scan of
    * ONLY the new files (a commit's delta, never the table). */
  /** Sketch size for the per-file NDV theta sketches: lgK=9 caps a
    * sketch at ~4 KiB (512 retained hashes, ±4.6 % error) — accurate
    * enough for broadcast-vs-shuffle decisions, small enough that a
    * wide sidecar stays metadata. */
  private val NdvLgK = 9

  private[storage] def collectStats(spark: SparkSession, files: Seq[String],
                                    statsCols: Seq[String]): Seq[String] = {
    if (statsCols.isEmpty || files.isEmpty) return Seq.empty
    graft.functions.expressions.GraftFunctions.register(spark)
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"),
      max(col(c).cast("double")).as(s"__mx_$c"),
      // null count per (file, column): what lets METADATA DELETE prove a
      // file holds no null (= predicate-immune) rows — see deleteWhere
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nu_$c"),
      // mergeable NDV sketch per (file, column): unioned per scan by
      // estimateStatistics so the planner sees real distinct counts.
      // Sketched over the SAME cast-to-double domain the min/max use
      // (injective for the integral/timestamp range the 2^51 stats
      // guard already enforces), so one code path serves every
      // stats-eligible type; base64-encoded DRIVER-side (the sidecar is
      // TAB/newline-delimited — no MIME line breaks may enter a field)
      expr(s"graft_theta_agg(cast(`$c` as double), $NdvLgK)")
        .as(s"__th_$c")))
    spark.read.parquet(files: _*)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.flatMap { r =>
        // input_file_name() is percent-encoded; decode so the stats key
        // lands in the same [[norm]] domain every consumer looks up
        val file = decNorm(r.getString(0))
        statsCols.flatMap { c =>
          val (mn, mx) = (r.getAs[Any](s"__mn_$c"), r.getAs[Any](s"__mx_$c"))
          val nulls = Option(r.getAs[Any](s"__nu_$c"))
            .collect { case n: Long => n }
          val ndv = Option(r.getAs[Any](s"__th_$c"))
            .collect { case b: Array[Byte] if b.nonEmpty =>
              java.util.Base64.getEncoder.encodeToString(b) }
          // all-null OR NaN-touched files carry no stats line → always
          // kept. (Spark's max() ranks NaN above everything, and a NaN
          // bound would compare false against any range in pruneFiles —
          // a FALSE NEGATIVE, the one failure data skipping must never
          // have.)
          def bad(x: Any) = x == null ||
            (x.isInstanceOf[Double] && x.asInstanceOf[Double].isNaN)
          if (bad(mn) || bad(mx)) Nil
          else Seq(StatLine(file, c, mn.asInstanceOf[Double],
            mx.asInstanceOf[Double], nulls.getOrElse(-1L), ndv).line)
        }
      }
  }

  /** Stats publish uses the SAME staged-write+rename primitive as the
    * manifest: a reader resolving the just-committed version must never
    * observe a torn sidecar (it runs AFTER the commit point, so a
    * concurrent stats()/pruneFiles() is legal). A failed rename degrades
    * to no sidecar — the documented no-false-negative fallback (all
    * files kept). */
  private def writeStats(spark: SparkSession, root: String, v: Long,
                         lines: Seq[String]): Unit = {
    if (lines.isEmpty) return
    val f = fs(spark, root)
    val tmp = new Path(snapDir(root), s".tmp-stats-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!f.rename(tmp, statsPath(root, v))) f.delete(tmp, false)
  }

  /** Per-version SCHEMA sidecar — what makes ADD-COLUMN evolution work:
    * the version's logical schema can be WIDER than any individual data
    * file's (old files simply lack the new columns and read as null).
    * Published with the same staged-write+rename primitive; versions
    * without a sidecar (pre-evolution tables) fall back to
    * footer-inferred schemas, which is correct while all files agree. */
  /** File-backed tables are ALWAYS nullable in Spark (the reader cannot
    * prove non-nullness, and evolution makes old columns null in new
    * files anyway) — normalize before storing/comparing so a frame's
    * incidental nullable=false never causes spurious schema conflicts. */
  private[storage] def nullable(
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType =>
        StructType(st.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
      case at: ArrayType => ArrayType(nullable(at.elementType), containsNull = true)
      case mt: MapType =>
        MapType(nullable(mt.keyType), nullable(mt.valueType), valueContainsNull = true)
      case other => other
    }
  }
  private[storage] def nullableSchema(
      st: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    nullable(st).asInstanceOf[org.apache.spark.sql.types.StructType]

  private def writeSchema(spark: SparkSession, root: String, v: Long,
                          schema: org.apache.spark.sql.types.StructType): Unit = {
    val f = fs(spark, root)
    val tmp = new Path(snapDir(root), s".tmp-schema-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(nullableSchema(schema).json
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!f.rename(tmp, schemaPath(root, v))) f.delete(tmp, false)
  }

  /** The version's logical schema, when a sidecar exists. */
  def tableSchema(spark: SparkSession, root: String,
                  v: Long): Option[org.apache.spark.sql.types.StructType] = {
    val f = fs(spark, root)
    val p = schemaPath(root, v)
    if (!f.exists(p)) return None
    val in = f.open(p)
    val bytes = try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 65536, false)
      bos.toByteArray
    } finally in.close()
    try Some(org.apache.spark.sql.types.DataType
      .fromJson(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      .asInstanceOf[org.apache.spark.sql.types.StructType])
    catch { case _: Exception => None } // torn sidecar ⇒ footer fallback
  }

  /** Lossless numeric WIDENING lattice — the type changes evolution may
    * apply to an existing column. Older files keep their narrow physical
    * type and read through an upcast (Spark's parquet readers and both
    * connector readers decode INT32→long/double and FLOAT→double
    * natively); narrowing is always refused. */
  private[storage] def widens(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (ByteType | ShortType | IntegerType | FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** ADD-COLUMN + TYPE-WIDENING evolution: the union keeps `base`'s
    * column order, appends genuinely new columns (as nullable), widens a
    * matched column to the WIDER of the two types when the change is in
    * the lossless lattice ([[widens]] — either side may be the narrow
    * one: a widened table keeps accepting old narrow writers), and
    * REFUSES everything else — rename/retype is not evolution. */
  private[storage] def evolveSchema(
      base0: org.apache.spark.sql.types.StructType,
      incoming0: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val base = nullableSchema(base0)
    val incoming = nullableSchema(incoming0)
    val byName = incoming.fields.map(f => f.name -> f).toMap
    val merged = base.fields.map { bf =>
      byName.get(bf.name) match {
        case Some(inf) if inf.dataType == bf.dataType => bf
        case Some(inf) if widens(bf.dataType, inf.dataType) =>
          bf.copy(dataType = inf.dataType)
        case Some(inf) if widens(inf.dataType, bf.dataType) => bf
        case Some(inf) =>
          throw new IllegalArgumentException(
            s"schema evolution supports ADD COLUMN and lossless numeric " +
              s"widening only: column '${bf.name}' changes type " +
              s"${bf.dataType} -> ${inf.dataType}")
        case None => bf
      }
    }
    val known = base.fieldNames.toSet
    val added = incoming.fields.filterNot(f => known(f.name))
    org.apache.spark.sql.types.StructType(merged ++ added)
  }

  /** (normalized file, col) → (min, max, null count; -1 = unknown —
    * legacy 4-field lines); empty when the version carries no stats
    * sidecar. */
  /** One parsed stats-sidecar line: per-(file, column) min/max, null
    * count, and (6-field form, round-12+) an optional base64 theta
    * sketch of the column's distinct values — the MERGEABLE NDV metadata
    * `estimateStatistics` unions per scan so the optimizer sees real
    * cardinalities. Older 4/5-field lines parse with no sketch. */
  private[storage] final case class StatLine(file: String, col: String,
                                             mn: Double, mx: Double,
                                             nulls: Long, ndv: Option[String]) {
    def line: String =
      s"$file\t$col\t$mn\t$mx\t$nulls" + ndv.map(s => s"\t$s").getOrElse("")
  }

  private[storage] def statsRaw(spark: SparkSession, root: String,
                                v: Long): Seq[StatLine] = {
    val f = fs(spark, root)
    val p = statsPath(root, v)
    if (!f.exists(p)) return Seq.empty
    val in = f.open(p)
    val bytes = try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 65536, false)
      bos.toByteArray
    } finally in.close()
    // tolerate malformed/truncated lines (a torn sidecar from a pre-fix
    // writer, or a partial copy): a skipped line means that (file, col)
    // carries no stats and is always KEPT — degradation is no pruning,
    // never a wrong answer
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty).flatMap { line =>
        line.split("\t") match {
          case Array(file, c, mn, mx) =>
            try Some(StatLine(file, c, mn.toDouble, mx.toDouble, -1L, None))
            catch { case _: NumberFormatException => None }
          case Array(file, c, mn, mx, nu) =>
            try Some(StatLine(file, c, mn.toDouble, mx.toDouble, nu.toLong, None))
            catch { case _: NumberFormatException => None }
          case Array(file, c, mn, mx, nu, th) =>
            try Some(StatLine(file, c, mn.toDouble, mx.toDouble, nu.toLong,
              Some(th)))
            catch { case _: NumberFormatException => None }
          case _ => None
        }
      }
  }

  /** Union the base64 theta sketches into one NDV estimate (None on any
    * decode failure — degradation is "no cardinality hint", never a
    * wrong plan input). */
  private[storage] def ndvUnion(sketches: Seq[String]): Option[Long] = {
    if (sketches.isEmpty) return None
    try {
      val u = org.apache.datasketches.theta.SetOperation.builder()
        .setLogNominalEntries(NdvLgK).buildUnion()
      sketches.foreach { b64 =>
        u.union(org.apache.datasketches.memory.Memory.wrap(
          java.util.Base64.getDecoder.decode(b64)))
      }
      Some(math.max(1L, math.round(u.getResult.getEstimate)))
    } catch { case _: Exception => None }
  }

  private[storage] def statsFull(spark: SparkSession, root: String,
                                 v: Long): Map[(String, String), (Double, Double, Long)] =
    statsRaw(spark, root, v)
      .map(s => (s.file, s.col) -> (s.mn, s.mx, s.nulls)).toMap

  /** (normalized file, col) → (min, max); empty when the version carries
    * no stats sidecar. */
  def stats(spark: SparkSession, root: String,
            v: Long): Map[(String, String), (Double, Double)] =
    statsFull(spark, root, v).view.mapValues(t => (t._1, t._2)).toMap

  /** THE one keep-rule for file-level skipping — every pruning surface
    * (library pruneFiles/readPruned, the DSv2 scan) goes through it: a
    * file survives unless its stats PROVE no value can land in every
    * requested band. NO FALSE NEGATIVES: missing stats keep the file. */
  private[storage] def keepByStats(files: Seq[String],
                                   st: Map[(String, String), (Double, Double)],
                                   bounds: Map[String, (Double, Double)]): Seq[String] =
    files.filter { f =>
      bounds.forall { case (c, (lo, hi)) =>
        st.get((norm(f), c)) match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None => true
        }
      }
    }

  /** The latest snapshot's files that might hold `statCol` values in
    * [lo, hi], plus the total file count. NO FALSE NEGATIVES: files
    * without stats are kept. Driver-side over the stats sidecar
    * (metadata-scale — one line per file per column). */
  def pruneFiles(spark: SparkSession, root: String, statCol: String,
                 lo: Double, hi: Double): (Seq[String], Int) = {
    val snap = latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val st = stats(spark, root, snap.version)
    (keepByStats(snap.files, st, Map(statCol -> (lo, hi))), snap.files.size)
  }

  /** Range read through the stats sidecar: the scan is narrowed to the
    * candidate files ([[pruneFiles]]'s keep-rule), then the exact
    * predicate applies (stats false positives cost I/O, never
    * correctness) — the snapshot layer's half of data skipping; the
    * per-row-group half is parquet's own min/max pushdown inside each
    * kept file. The narrowing is explicit because the band compares in
    * the stats' double domain, and Spark pushes no filter over a
    * BIGINT-to-DOUBLE cast. */
  def readPruned(spark: SparkSession, root: String, statCol: String,
                 lo: Double, hi: Double): DataFrame = {
    // one snapshot resolution for files, stats AND schema — a commit
    // landing mid-call cannot mix versions
    val snap = latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val keep = keepByStats(snap.files, stats(spark, root, snap.version),
      Map(statCol -> (lo, hi))).map(norm).toSet
    scan(spark, root, snap, Some(snap.entries.filter(e => keep(norm(e.path)))))
      .where(col(statCol).cast("double") >= lo &&
        col(statCol).cast("double") <= hi)
  }

  /** One history row per retained version: (version, commit time = the
    * manifest's mtime, file count, total bytes, the streaming sink's
    * default-app batch id if carried, schema-sidecar presence, total
    * rows). Pure driver-side metadata — shared by [[history]] and the
    * connector's `option("history", true)` read. */
  private[storage] def historyRows(spark: SparkSession, root: String)
      : Seq[(Long, java.sql.Timestamp, Long, Long, Option[Long], Boolean,
             Option[Long], Long, Option[Double])] = {
    val f = fs(spark, root)
    val sizes: Map[String, Long] = {
      val dirs = versions(spark, root)
        .flatMap(v => snapshot(spark, root, v).files)
        .map(p => new Path(p).getParent).distinct
      dirs.flatMap { d =>
        try f.listStatus(d).toSeq.map(s => norm(s.getPath.toString) -> s.getLen)
        catch { case _: java.io.IOException => Seq.empty }
      }.toMap
    }
    versions(spark, root).map { v =>
      val snap = snapshot(spark, root, v)
      val bytes = snap.entries.map { e =>
        if (e.bytes >= 0L) e.bytes else sizes.getOrElse(norm(e.path), 0L)
      }.sum
      // UPSERT DEBT per version: equality-delete keys in force / recorded
      // file rows — the maintenance gauge ("compact when this grows")
      // whose bound the streaming sink's maxUpsertDebt option enforces.
      // Debt is measured against RAW recorded rows (not key-matched live
      // rows, which are uncountable without reading the data).
      val eqKeys = snap.eqDeletes.map(_._3).sum
      val debt: Option[Double] =
        if (eqKeys == 0L) Some(0.0)
        else if (snap.entries.nonEmpty && snap.entries.forall(_.rows >= 0L)) {
          val rows = snap.entries.map(_.liveRows).sum
          Some(if (rows > 0L) eqKeys.toDouble / rows else Double.PositiveInfinity)
        } else None
      (v, new java.sql.Timestamp(
          f.getFileStatus(manifestPath(root, v)).getModificationTime),
        snap.files.size.toLong,
        bytes,
        snap.txn,
        f.exists(schemaPath(root, v)),
        snap.rowCount,
        eqKeys,
        debt)
    }
  }

  /** DESCRIBE HISTORY: one row per retained version. Driver-side
    * metadata only. Also reachable as plain SQL through the connector:
    * `spark.read.format("graft-snapshot").option("history", true)
    * .load(root)`. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val sq = spark
    import sq.implicits._
    historyRows(spark, root)
      .toDF("version", "committed_at", "n_files", "total_bytes",
        "txn_batch", "has_schema", "total_rows", "eq_keys_in_force",
        "upsert_debt")
  }

  /** Change feeds emit rows under the WINDOW-END schema; a column
    * rename/drop inside the window would mean different versions'
    * entries disagree on what a name denotes — refuse with the
    * keyed-diff guidance instead of emitting rows whose columns
    * silently changed meaning mid-window. A window entirely AFTER the
    * DDL is fine (every in-window entry postdates the event). */
  private def refuseColDdlInWindow(spark: SparkSession, root: String,
                                   fromV: Long, toV: Long): Unit = {
    val retained = versions(spark, root).filter(_ <= toV)
    if (retained.isEmpty) return
    val crossed = snapshot(spark, root, retained.max).colEvents
      .filter(e => e._1 > fromV && e._1 <= toV)
    if (crossed.nonEmpty) throw new UnsupportedOperationException(
      s"change feed window ($fromV, $toV] crosses column " +
        s"rename/drop event(s) ${crossed.map(_._1).mkString(",")} at " +
        s"$root — start the feed after the DDL version, or diff the " +
        "versions with Cdc.snapshotDiff")
  }

  /** CHANGE FEED (file granularity): the data files ADDED by versions in
    * `(fromV, toV]` — the append-only change stream between two
    * snapshots. A version that REMOVED files (merge / compact / SQL
    * row-level rewrite / truncate) cannot be represented as appended
    * rows and throws, pointing at [[graft.operators.Cdc.snapshotDiff]]
    * for the row-level diff — unless `ignoreRewrites` is set, which
    * emits rewrite versions' ADDED files too (rewritten rows appear as
    * fresh inserts; the caller accepts duplicates, exactly the upstream
    * formats' ignoreChanges contract).
    *
    * `fromV = 0` means "from the beginning" (v1's files are the first
    * change). `fromV` must be 0 or a retained version — the diff is
    * anchored on its file set. Gaps from vacuumed intermediate versions
    * telescope correctly (net adds across the gap). Metadata-scale:
    * manifest reads only. */
  def changedEntries(spark: SparkSession, root: String, fromV: Long, toV: Long,
                     ignoreRewrites: Boolean = false): Seq[FileEntry] = {
    require(fromV >= 0 && toV >= fromV,
      s"need 0 <= fromV <= toV, got fromV=$fromV toV=$toV")
    val vs = versions(spark, root)
    require(fromV == 0 || vs.contains(fromV),
      s"change-feed base v$fromV is not a retained version at $root " +
        s"(retained: ${vs.mkString(",")})")
    refuseColDdlInWindow(spark, root, fromV, toV)
    var prev: Map[String, String] =
      if (fromV == 0) Map.empty
      else snapshot(spark, root, fromV).entries
        .map(e => norm(e.path) -> e.dv).toMap
    var prevEq: Set[String] =
      if (fromV == 0) Set.empty
      else snapshot(spark, root, fromV).eqDeletes.map(_._1).toSet
    vs.filter(v => v > fromV && v <= toV).flatMap { v =>
      val snapV = snapshot(spark, root, v)
      val cur = snapV.entries
      val curMap = cur.map(e => norm(e.path) -> e.dv).toMap
      val removed = prev.keySet -- curMap.keySet
      // a retained file whose DELETION VECTOR changed is a delete in
      // disguise — silently emitting nothing would hide it from the
      // feed, so it refuses exactly like a copy-on-write rewrite. A
      // NEW equality-delete sidecar is the same disguise (key-matching
      // rows of older files silently died this version).
      val dvDrift = curMap.count { case (p, dv) => prev.get(p).exists(_ != dv) } +
        (snapV.eqDeletes.map(_._1).toSet -- prevEq).size
      val added = cur.filterNot(e => prev.contains(norm(e.path)))
      prev = curMap
      prevEq = snapV.eqDeletes.map(_._1).toSet
      if ((removed.nonEmpty || dvDrift > 0) && !ignoreRewrites)
        throw new UnsupportedOperationException(
          s"version $v at $root removed/rewrote ${removed.size} file(s) and " +
            s"merge-on-read-deleted from $dvDrift; an append-only change " +
            "feed cannot represent a delete — diff the versions row-level " +
            "with Cdc.snapshotDiff(readVersion(prev), readVersion(v), keys), " +
            "or pass ignoreRewrites=true to stream rewrite versions' added " +
            "files (re-delivers rewritten rows, skips deletes)")
      added
    }
  }

  /** One CDF delete set: the rows of `file` newly deleted in `version`,
    * described by SIDECAR PATHS only — positions are never materialized
    * on the driver (a 100 TB curation sweep deleting 10⁹ rows must not
    * put ~8 GB of ordinals in CDF planning). Executors compute
    * `fresh = newDv \ oldDv` as a linear sorted-merge; `newDv` empty
    * with `fullRows >= 0` means the file was FULLY deleted (the entry
    * left the manifest; fresh = `[0, fullRows) \ oldDv`). `updDv` names
    * the version's update-preimage ordinals for the file (a subset of
    * the fresh deletes) — rows at those ordinals type as
    * `update_preimage`, the rest as `delete`. */
  /** `priorEq`/`eqKeys` (full-file removals only): equality-delete
    * sidecars already in force against the file BEFORE its removal —
    * rows they had retired were already emitted as deletes at their
    * upsert epoch, so the removal's complement must filter them out or
    * the feed double-emits. */
  final case class CdfDeleteSet(file: String, oldDv: String, newDv: String,
                                fullRows: Long, updDv: String, version: Long,
                                priorEq: Seq[String] = Seq.empty,
                                eqKeys: Seq[String] = Seq.empty)

  /** One in-window EQUALITY-delete epoch as it applies to one file:
    * version `version` committed the `newEq` sidecars over key columns
    * `keys`; `dvAtPrev` is the file's deletion vector at version−1
    * (rows position-dead before the epoch are not its victims). */
  final case class CdfEqEpoch(version: Long, newEq: Seq[String],
                              keys: Seq[String], dvAtPrev: String)

  /** One file's FULL in-window equality-delete exposure — the unit the
    * CDF planner ships so the file is read ONCE however many upsert
    * epochs the window holds: `epochs` is the ordered list of epochs
    * applying to the file (committed after its addV, while it was
    * live), `priorEq` the sidecars already in force at the first of
    * them (their victims predate the window). Executors attribute each
    * row to the EARLIEST epoch whose keys match it, gated on the row
    * being live (not in that epoch's `dvAtPrev`, not prior-retired).
    * Paths only — no positions or keys in driver memory. */
  final case class CdfEqFile(file: String, priorEq: Seq[String],
                             epochs: Seq[CdfEqEpoch])

  /** The row-level change sets in `(fromV, toV]`: per-version appended
    * entries (inserts, with the `update_postimage` flag from the
    * version's `#updfile` lines) and per-(file, version) delete-set
    * DESCRIPTORS (paths, not positions) — the shared walk behind
    * [[changeFeed]] and the connector's CDF scan. Driver state is
    * O(touched files). A file REMOVED by a version is attributable only
    * when that version's `#removed` line marks it as a full
    * merge-on-read delete; any other removal (a rewrite) throws. */
  private[storage] def changeSets(spark: SparkSession, root: String,
                                  fromV: Long, to: Long)
      : (Seq[(Long, FileEntry, Boolean)], Seq[CdfDeleteSet],
         Seq[CdfEqFile]) = {
    require(fromV >= 0 && to >= fromV,
      s"need 0 <= fromV <= toV, got fromV=$fromV toV=$to")
    val vs = versions(spark, root)
    require(fromV == 0 || vs.contains(fromV),
      s"change-feed base v$fromV is not a retained version at $root " +
        s"(retained: ${vs.mkString(",")})")
    var prevSnap: Option[Snapshot] =
      if (fromV == 0) None else Some(snapshot(spark, root, fromV))
    var prev: Map[String, FileEntry] =
      prevSnap.map(_.entries.map(e => norm(e.path) -> e).toMap)
        .getOrElse(Map.empty)
    val inserts = Seq.newBuilder[(Long, FileEntry, Boolean)]
    val deletes = Seq.newBuilder[CdfDeleteSet]
    // file → (original path, prior sidecars at first touch, epoch list):
    // ONE accumulated descriptor per touched file, however many upsert
    // epochs the window holds — each applicable file is read ONCE by
    // the feed, with victims attributed to their earliest matching
    // epoch executor-side (O(table + keys), not O(epochs × table))
    val eqFiles = scala.collection.mutable.LinkedHashMap
      .empty[String, (String, Seq[String],
        scala.collection.mutable.ArrayBuffer[CdfEqEpoch])]
    // the feed reads touched files with the WINDOW-END schema: refuse
    // (a) column rename/drop DDL inside the window, and (b) descriptors
    // over files PREDATING an in-force rename/drop (their physical
    // names differ from the head's — the change readers read every
    // file under the window-end names and would silently misread them)
    def colDdlGuard(e: FileEntry, events: Seq[(Long, String, String, String)],
                    v: Long): Unit =
      if (events.exists(ev => e.addV < 0L || e.addV < ev._1))
        throw new UnsupportedOperationException(
          s"change feed at v$v touches ${e.path}, which predates a " +
            s"column rename/drop at $root — compact the table to " +
            "materialize current names, or diff the versions with " +
            "Cdc.snapshotDiff")
    vs.filter(v => v > fromV && v <= to).foreach { v =>
      val snapV = snapshot(spark, root, v)
      if (snapV.colEvents.exists(_._1 == v))
        throw new UnsupportedOperationException(
          s"version $v at $root renamed/dropped a column; a row-level " +
            "change feed cannot span column DDL — start the feed after " +
            "it, or diff the versions with Cdc.snapshotDiff")
      // EQUALITY-delete commits (streaming-upsert epochs) ARE
      // representable row-level: the victims are the matching-key rows
      // of every file the new sidecars apply to, restricted to rows
      // live just before this version. The per-file descriptor only
      // ACCRUES the epoch here; reads happen once per file, later.
      val prevEqSet = prevSnap.map(_.eqDeletes.map(_._1).toSet)
        .getOrElse(Set.empty)
      val newEq = snapV.eqDeletes.filterNot(t => prevEqSet(t._1))
      if (newEq.nonEmpty) {
        val keySets = newEq.map(_._4).distinct
        require(keySets.size == 1,
          s"one upsert key set per version expected, got $keySets")
        val newEqPaths = newEq.map(_._1)
        prev.valuesIterator
          .filter(e => newEq.exists { case (_, ev, _, _) =>
            e.addV < 0L || e.addV < ev })
          .toSeq.sortBy(_.path).foreach { e =>
            colDdlGuard(e, snapV.colEvents, v)
            val slot = eqFiles.getOrElseUpdate(norm(e.path), {
              // prior sidecars at the file's FIRST in-window epoch:
              // everything already in force against it then — those
              // victims predate the window and must not re-emit
              (e.path, prevSnap.toSeq.flatMap(_.eqDeletesFor(e)).map(_._1),
                scala.collection.mutable.ArrayBuffer.empty[CdfEqEpoch])
            })
            slot._3 += CdfEqEpoch(v, newEqPaths, keySets.head, e.dv)
          }
      }
      val cur = snapV.entries
      val curMap = cur.map(e => norm(e.path) -> e).toMap
      val updv = snapV.updVectors
      val updf = snapV.updFiles
      val removed = prev.keySet -- curMap.keySet
      val fullDeletes = snapV.removedFiles
      val unattributed = removed -- fullDeletes
      if (unattributed.nonEmpty) throw new UnsupportedOperationException(
        s"version $v at $root removed/rewrote ${unattributed.size} file(s); a " +
          "row-level change feed cannot attribute a file replacement — " +
          "diff the versions with Cdc.snapshotDiff(readVersion(prev), " +
          "readVersion(v), keys)")
      removed.intersect(fullDeletes).toSeq.sorted.foreach { key =>
        val old = prev(key)
        prevSnap.foreach(ps => colDdlGuard(old, ps.colEvents, v))
        require(old.rows >= 0L,
          s"cannot attribute the full merge-on-read delete of $key at " +
            s"v$v: the entry never recorded a row count")
        // rows already retired by in-force equality deletes were emitted
        // at their upsert epoch — the complement must skip them
        val prior = prevSnap.toSeq.flatMap(_.eqDeletesFor(old))
        val priorKeySets = prior.map(_._4).distinct
        require(priorKeySets.size <= 1,
          s"full delete of $key at v$v under mixed equality-delete key " +
            s"sets $priorKeySets — compact before changing upsert keys")
        deletes += CdfDeleteSet(old.path, old.dv, "", old.rows,
          updv.getOrElse(key, ""), v, prior.map(_._1),
          priorKeySets.headOption.getOrElse(Seq.empty))
      }
      cur.foreach { e =>
        val key = norm(e.path)
        prev.get(key) match {
          case None => inserts += ((v, e, updf(key)))
          case Some(old) if old.dv != e.dv =>
            // a vector that DISAPPEARS while the file stays (a
            // restore() to a pre-delete version) resurrects rows — an
            // un-attributable change for a forward feed; refuse with
            // the keyed-diff guidance (a GROWN vector diffs normally;
            // resolveDeleteSet asserts old is a subset of new executor-side)
            if (e.dv.isEmpty) throw new UnsupportedOperationException(
              s"version $v at $root cleared the deletion vector of " +
                s"${e.path} (a restore/rollback): a row-level change " +
                "feed cannot represent resurrected rows - diff the " +
                "versions with Cdc.snapshotDiff(readVersion(prev), " +
                "readVersion(v), keys)")
            colDdlGuard(e, snapV.colEvents, v)
            deletes += CdfDeleteSet(e.path, old.dv, e.dv, -1L,
              updv.getOrElse(key, ""), v)
          case _ => ()
        }
      }
      prev = curMap
      prevSnap = Some(snapV)
    }
    (inserts.result(), deletes.result(),
      eqFiles.valuesIterator.map { case (p, prior, eps) =>
        CdfEqFile(p, prior, eps.toSeq)
      }.toSeq)
  }

  /** Executor-side resolution of one [[CdfDeleteSet]]: (fresh ordinals,
    * per-ordinal update-preimage flags) — both sidecar reads and the
    * sorted diff happen where the rows will be read. */
  def resolveDeleteSet(conf: Configuration, oldDv: String, newDv: String,
                       fullRows: Long, updDv: String)
      : (Array[Long], Array[Boolean]) = {
    val old =
      if (oldDv.isEmpty) Array.emptyLongArray
      else DeletionVectors.read(conf, oldDv)
    val fresh =
      if (newDv.nonEmpty) {
        val nw = DeletionVectors.read(conf, newDv)
        // old must be a subset of new (vectors only grow); a SHRUNK
        // vector (restore to an earlier state) resurrects rows, which
        // a forward change feed cannot represent
        val resurrected = DeletionVectors.diff(old, nw)
        require(resurrected.isEmpty,
          s"deletion vector shrank by ${resurrected.length} position(s) " +
            "(a restore/rollback?): the change feed cannot represent " +
            "resurrected rows - use Cdc.snapshotDiff for this window")
        DeletionVectors.diff(nw, old)
      } else DeletionVectors.complement(old, fullRows)
    val upd =
      if (updDv.isEmpty) Array.emptyLongArray
      else DeletionVectors.read(conf, updDv)
    val isUpd = new Array[Boolean](fresh.length)
    var i = 0
    var j = 0
    while (i < fresh.length && j < upd.length) {
      if (upd(j) < fresh(i)) j += 1
      else {
        if (upd(j) == fresh(i)) { isUpd(i) = true; j += 1 }
        i += 1
      }
    }
    (fresh, isUpd)
  }

  /** The ROW-LEVEL change feed (CDF): every change in `(fromV, toV]` as
    * a typed row — the table's columns (under `toV`'s schema, `toV`
    * defaulting to latest) plus `_change_type` ('insert' | 'delete' |
    * 'update_preimage' | 'update_postimage') and `_commit_version`. A
    * connector read (`option("changeFeed", true)`) pinned to the
    * resolved window: [[changeSets]] plans it from manifests, the
    * connector's change readers resolve vectors and equality-delete
    * epochs executor-side. Copy-on-write rewrites refuse with guidance;
    * [[graft.operators.Cdc.snapshotDiff]] is the keyed diff for those. */
  def changeFeed(spark: SparkSession, root: String, fromV: Long,
                 toV: Option[Long] = None): DataFrame =
    changeRead(spark, root, fromV, toV).option("changeFeed", true).load(root)

  /** The append-only change feed as a DataFrame: the rows of the files
    * [[changedEntries]] names in `(fromV, toV]`, read with `toV`'s schema
    * (`toV` defaults to latest) — the connector's `changesFrom` read. */
  def changes(spark: SparkSession, root: String, fromV: Long,
              toV: Option[Long] = None,
              ignoreRewrites: Boolean = false): DataFrame =
    changeRead(spark, root, fromV, toV)
      .option("ignoreRewrites", ignoreRewrites).load(root)

  /** A connector change read of `(fromV, toV]` with the window's end
    * PINNED to the version resolved now (latest when `toV` is None), so
    * later commits never widen the frame. */
  private def changeRead(spark: SparkSession, root: String, fromV: Long,
                         toV: Option[Long]): org.apache.spark.sql.DataFrameReader = {
    val to = toV.orElse(latest(spark, root).map(_.version)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    spark.read.format("graft-snapshot")
      .option("changesFrom", fromV).option("changesTo", to)
  }

  /** Rewrite every retained version's manifest and stats sidecar onto a
    * NEW table root — the metadata half of a table RENAME/move (the data
    * directory was already moved wholesale; manifests carry ABSOLUTE
    * paths, so each `<oldRoot>/data/...` entry is re-anchored under the
    * new root). Per-version rewrites are staged-then-swapped; a rename
    * is not expected to race live writers (standard DDL contract). */
  private[storage] def rebaseMetadata(spark: SparkSession, oldRoot: String,
                                      newRoot: String): Unit = {
    val f = fs(spark, newRoot)
    // re-anchor by stripping the EXACT old-root prefix — matching "the
    // first /data/ in the path" breaks any warehouse whose own path
    // contains /data/ (e.g. warehouse=/data/graft would rewrite every
    // entry to <new>/data/graft/.../data/..., an unresolvable manifest)
    val oldBase = norm(oldRoot).stripSuffix("/")
    def reanchorUnder(p: String, sub: String): Option[String] = {
      val prefix = s"$oldBase/$sub/"
      val n = norm(p)
      if (!n.startsWith(prefix)) None
      else Some(f.makeQualified(new Path(new Path(newRoot, sub),
        n.substring(prefix.length))).toString)
    }
    def reanchor(p: String): String =
      reanchorUnder(p, "data").orElse(reanchorUnder(p, "_deletes"))
        .orElse(reanchorUnder(p, "_branches")).getOrElse(p)
    versions(spark, newRoot).foreach { v =>
      val snap = snapshot(spark, newRoot, v)
      val entries = snap.entries.map(e => e.copy(path = reanchor(e.path),
        dv = if (e.dv.isEmpty) "" else reanchor(e.dv)))
      // meta lines carrying sidecar/file PATHS re-anchor too
      val meta = snap.meta.map { l =>
        if (l.startsWith("#updv ")) l.stripPrefix("#updv ").split("\t") match {
          case Array(file, p) => s"#updv ${reanchor(file)}\t${reanchor(p)}"
          case _ => l
        }
        else if (l.startsWith("#eqdelete "))
          l.stripPrefix("#eqdelete ").split("\t") match {
            case arr if arr.length >= 4 =>
              "#eqdelete " +
                (reanchor(arr(0)) +: arr.tail.toSeq).mkString("\t")
            case _ => l
          }
        else if (l.startsWith("#removed "))
          s"#removed ${reanchor(l.stripPrefix("#removed ").trim)}"
        else l
      }
      val tmp = new Path(snapDir(newRoot), s".tmp-rb-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try out.write((meta ++ entries.map(entryLine))
        .mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      f.delete(manifestPath(newRoot, v), false)
      require(f.rename(tmp, manifestPath(newRoot, v)),
        s"manifest rebase failed for v$v at $newRoot")
      // the one in-place sidecar rewrite: a rebase re-keys a published
      // version rather than publishing a new one
      val lines = statsRaw(spark, newRoot, v)
      if (lines.nonEmpty) {
        f.delete(statsPath(newRoot, v), false)
        writeStats(spark, newRoot, v,
          lines.map(l => l.copy(file = norm(reanchor(l.file))).line).sorted)
      }
    }
  }

  /** REPLACE-TABLE adoption: publish a freshly-staged table (at
    * `stageRoot`, no prior readers) as the NEXT VERSION of the table at
    * `targetRoot` — the RTAS commit. The staged data dirs are renamed
    * wholesale under the target's `data/`, then one ordinary manifest
    * CAS flips visibility: the table is never absent mid-replace, a
    * concurrent commit just retries the CAS (replace intent is
    * unconditional), and the pre-replace content keeps time-traveling.
    * The staged table's definition (partitioning, sort order, row-level
    * modes, schema) REPLACES the target's; the target's exactly-once
    * `#txn` ledger is carried so no stream's high-water mark ever
    * lowers. A crash after the dir moves leaves only unreferenced data
    * dirs (vacuum-by-age fodder), never a broken table. */
  private[storage] def adoptAsNextVersion(spark: SparkSession,
                                          stageRoot: String,
                                          targetRoot: String): Long = {
    val f = fs(spark, targetRoot)
    val stageSnap = latest(spark, stageRoot).getOrElse(
      throw new IllegalStateException(s"nothing staged at $stageRoot"))
    require(stageSnap.entries.forall(_.dv.isEmpty),
      "a freshly-staged table cannot carry deletion vectors")
    val stageSchema = tableSchema(spark, stageRoot, stageSnap.version)
    val stagePrefix = norm(stageRoot).stripSuffix("/") + "/data/"
    val rels = stageSnap.entries.map { e =>
      val n = norm(e.path)
      require(n.startsWith(stagePrefix), s"staged entry outside stage root: $n")
      n.substring(stagePrefix.length)
    }
    f.mkdirs(new Path(targetRoot, "data"))
    rels.map(_.split("/")(0)).distinct.foreach { d =>
      val from = new Path(new Path(stageRoot, "data"), d)
      val to = new Path(new Path(targetRoot, "data"), d)
      require(f.rename(from, to), s"could not adopt staged data dir $from")
    }
    def rebased(rel: String): String =
      f.makeQualified(new Path(new Path(targetRoot, "data"), rel)).toString
    val entries = stageSnap.entries.zip(rels).map { case (e, rel) =>
      e.copy(path = rebased(rel))
    }
    val relByNorm = stageSnap.entries.zip(rels)
      .map { case (e, rel) => norm(e.path) -> rel }.toMap
    val stats = statsRaw(spark, stageRoot, stageSnap.version).flatMap(l =>
      relByNorm.get(l.file).map(rel => l.copy(file = norm(rebased(rel))).line))
    val defMeta = partitionMeta(stageSnap.partitionSpecs) ++
      sortMeta(stageSnap.sortCols) ++ rowLevelMeta(stageSnap.rowLevelModes)
    var attempts = 0
    while (true) {
      val cur = latest(spark, targetRoot).getOrElse(
        throw new IllegalStateException(s"no table to replace at $targetRoot"))
      val txnLines = cur.txns.toSeq.sortBy(_._1).map {
        case ("", id) => s"#txn $id"
        case (app, id) => s"#txn $app $id"
      }
      val next = cur.version + 1
      try {
        publish(spark, targetRoot, next, entries, defMeta ++ txnLines,
          stageSchema, newStats = stats)
        return next
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempts += 1
          if (attempts >= 5) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** All committed versions, ascending. */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    val d = snapDir(root)
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
      .map(n => n.stripPrefix("v").stripSuffix(".manifest").toLong)
      .sorted
  }

  def snapshot(spark: SparkSession, root: String, v: Long): Snapshot = {
    val f = fs(spark, root)
    val in = f.open(manifestPath(root, v))
    val bytes = try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 65536, false)
      bos.toByteArray
    } finally in.close()
    val lines = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    val (meta, dataLines) = lines.partition(_.startsWith("#"))
    val entries = dataLines.map { l =>
      l.split("\t") match {
        case Array(p, r, b) =>
          try FileEntry(p, r.toLong, b.toLong)
          catch { case _: NumberFormatException => FileEntry(p) }
        case Array(p, r, b, t) =>
          try FileEntry(p, r.toLong, b.toLong, t)
          catch { case _: NumberFormatException => FileEntry(p) }
        case Array(p, r, b, t, dv, dvr) =>
          try FileEntry(p, r.toLong, b.toLong, t, dv, dvr.toLong)
          catch { case _: NumberFormatException => FileEntry(p) }
        case Array(p, r, b, t, dv, dvr, av) =>
          try FileEntry(p, r.toLong, b.toLong, t, dv, dvr.toLong, av.toLong)
          catch { case _: NumberFormatException => FileEntry(p) }
        case _ => FileEntry(l) // legacy path-only line
      }
    }
    Snapshot(v, entries, meta)
  }

  /** The latest committed snapshot, if any. */
  def latest(spark: SparkSession, root: String): Option[Snapshot] =
    versions(spark, root).lastOption.map(snapshot(spark, root, _))

  /** TIMESTAMP time travel: the newest version committed at or before
    * `tsMillis` (commit time = the manifest's mtime, the same clock
    * [[history]] reports). None ⇒ the timestamp predates the earliest
    * retained version. */
  def versionAt(spark: SparkSession, root: String, tsMillis: Long): Option[Long] = {
    val f = fs(spark, root)
    versions(spark, root).reverseIterator.find { v =>
      f.getFileStatus(manifestPath(root, v)).getModificationTime <= tsMillis
    }
  }

  /** The logical schema of `snap`: its version's schema sidecar (which
    * can be WIDER than any one file after add-column evolution), else
    * one data file's footer (pre-evolution tables). None = an empty
    * snapshot with no sidecar. */
  private[storage] def schemaOf(spark: SparkSession, root: String,
                                snap: Snapshot): Option[org.apache.spark.sql.types.StructType] =
    tableSchema(spark, root, snap.version)
      .orElse(snap.files.headOption.map(f => spark.read.parquet(f).schema))

  /** THE library read: a frame over the connector's scan of `snap` (the
    * `graft-snapshot` V2 table pinned to this resolution, so later
    * commits never affect it), optionally narrowed to `entries`, a subset
    * of the snapshot's files, under the snapshot's schema. Deletion
    * vectors, equality deletes, column mapping and stats pruning of
    * pushed filters all happen in the connector's readers: a library
    * read and a SQL read of one version are the same scan. */
  private def scan(spark: SparkSession, root: String, snap: Snapshot,
                   entries: Option[Seq[FileEntry]] = None): DataFrame = {
    // a zero-file snapshot is legal (TRUNCATE commits one); the schema
    // sidecar keeps it well-typed
    val schema = schemaOf(spark, root, snap).getOrElse(
      throw new IllegalStateException(s"empty snapshot with no schema sidecar at $root"))
    val table = new graft.storage.dsv2.SnapshotTableV2(root,
      Some(entries.fold(snap)(es => snap.copy(entries = es))), schema)
    org.apache.spark.sql.GraftSqlShim.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(table, None, None))
  }

  /** Read the latest snapshot (snapshot-isolated: the file list is pinned
    * at resolution; later commits never affect this frame). */
  def read(spark: SparkSession, root: String): DataFrame =
    scan(spark, root, latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root")))

  /** Time travel: read any retained version — with THAT version's
    * schema, so a pre-evolution version shows its original columns. */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame =
    scan(spark, root, snapshot(spark, root, v))

  /** Create the table: stage `df`, commit as v1. Fails if the table
    * already has commits. `statsCols` names numeric columns to carry
    * file-level min/max data-skipping stats for ([[readPruned]]).
    * `partitionBy` declares identity partition columns (the Iceberg
    * shape — see [[SnapshotPartition]]): every later append/merge/compact
    * keeps files tuple-pure and partition predicates prune exactly. */
  def create(spark: SparkSession, root: String, df: DataFrame,
             statsCols: Seq[String] = Seq.empty,
             txn: Option[Long] = None,
             txnApp: String = "",
             partitionBy: Seq[String] = Seq.empty,
             sortBy: Seq[String] = Seq.empty): Long = {
    require(versions(spark, root).isEmpty, s"table already exists at $root")
    validatePartitionSpecs(partitionBy, df.schema)
    sortBy.foreach(c => require(df.columns.contains(c),
      s"sortBy column '$c' not in ${df.columns.mkString(",")}"))
    val files = writeData(spark, root, df, partitionBy, sortBy)
    val st = collectStats(spark, files.map(_.path), statsCols)
    try {
      publish(spark, root, 1L, files,
        partitionMeta(partitionBy) ++ sortMeta(sortBy) ++
          nextMeta(None, txn, txnApp),
        Some(df.schema), newStats = st)
      1L
    } catch { case e: java.util.ConcurrentModificationException =>
      cleanupOrphans(spark, root, files.map(_.path)); throw e }
  }

  /** MERGE INTO, last-write-wins: one row per `keyCols` survives, the
    * highest `versionCol` wins, ties prefer the update side. Reads the
    * latest snapshot, shuffles once on the key, stages the merged files,
    * commits base+1. `expectedVersion` pins the base snapshot the caller
    * decided against (compare-and-swap): if another writer committed
    * since, the commit throws instead of silently clobbering. Returns the
    * new version. */
  /** `clusterBy` range-repartitions the merged output before writing, so
    * each new file covers a tight value range and `statsCols` skipping
    * stays effective ACROSS merges — without it the merge's hash shuffle
    * leaves every file spanning the whole domain (the reason table
    * formats re-cluster on write). */
  /** `deleteCol` adds the MERGE delete arms: when set, `updates` carries
    * a BOOLEAN column of that name and an update row with it true is a
    * TOMBSTONE — if it wins last-write-wins for its key, the key is
    * REMOVED from the new snapshot (`WHEN MATCHED THEN DELETE`; the
    * caller's predicate building the tombstone set is the `AND cond`).
    * A tombstone for an absent key is a no-op (`WHEN NOT MATCHED` has no
    * delete arm, per SQL MERGE). Earlier versions still hold the row —
    * delete-then-time-travel works like every snapshot format. */
  /** `mergeSchema = true` allows ADD-COLUMN evolution: update columns
    * absent from the table are appended (nullable) to the new version's
    * schema, current rows read null for them; update rows may also OMIT
    * table columns (null-filled). Type changes are refused. */
  /** `onStaged` is a test-injection hook invoked after the merge staged
    * its files and before the first commit attempt — the deterministic
    * way to exercise the conflict-scoped rebase (a racer commits inside
    * the window). Production callers leave the default no-op. */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
            keyCols: Seq[String], versionCol: String,
            expectedVersion: Option[Long] = None,
            statsCols: Seq[String] = Seq.empty,
            clusterBy: Option[String] = None,
            clusterFiles: Int = 0,
            deleteCol: Option[String] = None,
            mergeSchema: Boolean = false,
            txn: Option[Long] = None,
            txnApp: String = "",
            onStaged: () => Unit = () => ()): Long = {
    require(keyCols.nonEmpty, "keyCols must not be empty")
    deleteCol.foreach(c => require(updates.columns.contains(c),
      s"deleteCol '$c' not in updates columns ${updates.columns.mkString(",")}"))
    val snap = writeBase(spark, root, expectedVersion, txn, txnApp)

    // PARTITION-SCOPED copy-on-write: when every partition SOURCE column
    // is part of the merge KEY, a key's partition is a function of the
    // key — no update can MOVE a row across partitions — so only the
    // partitions the update set touches need rewriting; every other
    // file is retained VERBATIM. This turns the COW cost from O(table)
    // into O(affected partitions): the 100 TB upsert shape. Eligibility
    // is checked per merge (a tuple-less legacy file is conservatively
    // treated as affected; partition cols outside the key fall back to
    // the always-correct full rewrite).
    val pfields = snap.partitionFields
    val scoped = pfields.nonEmpty && pfields.map(_.col).forall(keyCols.contains)
    val touchedTuples: Option[Set[String]] =
      if (!scoped) None
      else {
        // distinct tuples of the UPDATE set — bounded by the number of
        // partitions the updates touch, a metadata-scale collect
        Some(updates.select(partitionKeys(spark, snap.partitionSpecs): _*)
          .distinct().collect()
          .map(r => SnapshotPartition.encodeTuple(pfields.map(_.key),
            pfields.indices.map(i => Option(r.getString(i)))))
          .toSet)
      }
    // tuple comparability is PER SPEC ERA: after partition-spec
    // evolution, a file written under an older spec has a tuple keyed
    // by the old fields — it can never string-match a current-spec
    // tuple, so it is conservatively AFFECTED (rewritten, and thereby
    // migrated to the current spec), exactly like a tuple-less file
    val curKeys = pfields.map(_.key).toSet
    def currentEra(e: FileEntry): Boolean =
      SnapshotPartition.decodeTuple(e.tuple).keySet == curKeys
    val (affected, retained) = touchedTuples match {
      case None => (snap.entries, Seq.empty[FileEntry])
      case Some(touched) =>
        snap.entries.partition(e => e.tuple.isEmpty || !currentEra(e) ||
          touched.contains(e.tuple))
    }
    val base = scan(spark, root, snap, Some(affected))
    // a REAL table column with the tombstone marker's name would be
    // silently clobbered and then dropped — refuse loudly instead
    deleteCol.foreach(c => require(!base.columns.contains(c),
      s"deleteCol '$c' collides with an existing table column; pick a marker " +
        "name the schema does not use"))
    if (mergeSchema) // fail fast on a type conflict, before any write
      evolveSchema(base.schema, updates.drop(deleteCol.toSeq: _*).schema)
    val cur = deleteCol.foldLeft(base.withColumn("__src", lit(0)))(
      (d, c) => d.withColumn(c, lit(false)))
    val upd = updates.withColumn("__src", lit(1))
    val survivors = cur.unionByName(upd, allowMissingColumns = mergeSchema)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*)
          .orderBy(col(versionCol).desc, col("__src").desc)))
      .where(col("__rn") === 1)
      .drop("__rn", "__src")
    // a winning tombstone deletes its key; the column never hits disk
    val merged = deleteCol.foldLeft(survivors)(
      (d, c) => d.where(!col(c)).drop(c))
    // explicit partition count (clusterFiles, defaulting to the REWRITE
    // SCOPE's file count): keeps the file count stable across merges and
    // stops AQE from coalescing the range shuffle into one
    // domain-spanning file
    val n = if (clusterFiles > 0) clusterFiles else math.max(affected.size, 1)
    val out = clusterBy.map(c => merged.repartitionByRange(n, col(c)))
      .getOrElse(merged)
    // a partitioned table's copy-on-write stays tuple-pure: the
    // partitioned staging write re-derives every file's tuple
    val files = writeData(spark, root, out, snap.partitionSpecs, snap.sortCols)
    onStaged()
    val freshStats = collectStats(spark, files.map(_.path), statsCols)
    val affectedNorm = affected.map(e => norm(e.path)).toSet

    /** CONFLICT-SCOPED retry: when another writer won the version CAS,
      * check whether its changes and this merge's rewrite scope are
      * PROVABLY DISJOINT PARTITIONS — then the staged files are still
      * exactly right, and the commit REBASES onto the winner (winner's
      * entries minus this merge's affected files, plus the staged
      * files) without re-running anything. Two writers back-filling
      * different partitions each pay ONE rewrite. Any overlap — or
      * anything unprovable: a non-scoped merge, a tuple-less file, a
      * schema change by the winner, a caller-pinned expectedVersion —
      * falls back to the full re-merge via the thrown CME
      * ([[mergeWithRetry]]'s loop), which is always correct. */
    def rebaseable(onto: Snapshot): Boolean = touchedTuples match {
      case None => false
      case _ if expectedVersion.isDefined => false // caller pinned the base
      case Some(touched) =>
        def safe(e: FileEntry): Boolean =
          e.tuple.nonEmpty && currentEra(e) && !touched.contains(e.tuple)
        val baseBy = snap.entries.map(e => norm(e.path) -> e).toMap
        val ontoBy = onto.entries.map(e => norm(e.path) -> e).toMap
        val removed = snap.entries.filterNot(e => ontoBy.contains(norm(e.path)))
        val added = onto.entries.filterNot(e => baseBy.contains(norm(e.path)))
        val dvChanged = onto.entries.filter(e =>
          baseBy.get(norm(e.path)).exists(_.dv != e.dv))
        (removed ++ added ++ dvChanged).forall(safe) &&
          onto.partitionSpecs == snap.partitionSpecs &&
          tableSchema(spark, root, onto.version) ==
            tableSchema(spark, root, snap.version)
    }

    var commitBase = snap
    var rebases = 0
    while (true) {
      val retainedNow =
        commitBase.entries.filterNot(e => affectedNorm(norm(e.path)))
      val next = commitBase.version + 1
      try {
        publish(spark, root, next, retainedNow ++ files,
          nextMeta(Some(commitBase), txn, txnApp), Some(out.schema),
          carryStatsFrom = Some(commitBase.version), newStats = freshStats)
        return next
      } catch { case e: java.util.ConcurrentModificationException =>
        val winner = latest(spark, root)
        rebases += 1
        if (rebases > 5 || !winner.exists(w => w.version > commitBase.version &&
            rebaseable(w))) {
          cleanupOrphans(spark, root, files.map(_.path)); throw e
        }
        val w = winner.get
        // the winner may have advanced the exactly-once ledger: re-gate
        try txnGate(w, txn, txnApp)
        catch { case g: java.util.ConcurrentModificationException =>
          cleanupOrphans(spark, root, files.map(_.path)); throw g }
        commitBase = w
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** APPEND: stage `df` as new files and commit `base.files ++ new` as
    * version+1 — NO rewrite of existing data (contrast [[merge]]'s
    * copy-on-write). This is the 100 TB ingest shape: a micro-batch
    * append costs O(batch), never O(table). The new version's stats
    * sidecar carries the previous version's lines forward plus stats for
    * the new files, so data skipping keeps working across appends.
    * Key semantics are the caller's problem (append can introduce
    * duplicate keys — exactly like every table format's INSERT INTO);
    * use [[merge]] when upsert semantics are required. */
  /** `mergeSchema = true` allows ADD-COLUMN evolution on append: new
    * columns in `df` widen the table schema (old files read null for
    * them); `df` may also omit existing columns (its files read null).
    * With it false (default) a differing column set is refused — a
    * typo'd column name must not silently fork the schema. */
  def append(spark: SparkSession, root: String, df: DataFrame,
             expectedVersion: Option[Long] = None,
             statsCols: Seq[String] = Seq.empty,
             mergeSchema: Boolean = false,
             txn: Option[Long] = None,
             txnApp: String = ""): Long = {
    val snap = writeBase(spark, root, expectedVersion, txn, txnApp)
    val baseSchema = schemaOf(spark, root, snap).getOrElse(
      throw new IllegalStateException(s"empty snapshot with no schema sidecar at $root"))
    val nextSchema =
      if (mergeSchema) evolveSchema(baseSchema, df.schema)
      else {
        require(nullableSchema(df.schema).fields.map(f => (f.name, f.dataType)).toSeq ==
          nullableSchema(baseSchema).fields.map(f => (f.name, f.dataType)).toSeq,
          s"append schema ${df.schema.simpleString} != table schema " +
            s"${baseSchema.simpleString}; pass mergeSchema=true for add-column evolution")
        baseSchema
      }
    val files = writeData(spark, root, df, snap.partitionSpecs, snap.sortCols)
    val st = collectStats(spark, files.map(_.path), statsCols)
    val next = snap.version + 1
    try {
      publish(spark, root, next, snap.entries ++ files,
        nextMeta(Some(snap), txn, txnApp), Some(nextSchema),
        carryStatsFrom = Some(snap.version), newStats = st)
      next
    } catch { case e: java.util.ConcurrentModificationException =>
      cleanupOrphans(spark, root, files.map(_.path)); throw e }
  }

  /** OPTIMIZE / compaction: rewrite the CURRENT content into
    * `targetFiles` files (range-clustered on `clusterBy` when given, so
    * stats skipping tightens instead of degrading) and commit it as a
    * new version. Content is bit-identical — compaction is pure layout
    * work, the answer to small-file accumulation from streaming appends.
    * Old versions still time-travel to the uncompacted layout until
    * [[vacuum]] retires them. */
  /** `zorderBy = Seq(x, y)` interleaves TWO dimensions (the codegen
    * `graft_zorder` key: per-column rank-space normalization → bit
    * interleave) so files stay tight in BOTH columns and 2-D predicates
    * keep pruning after compaction — range-cluster (`clusterBy`) only
    * serves one dimension. Pass both columns in `statsCols` to record
    * the post-compact bounds. */
  def compact(spark: SparkSession, root: String, targetFiles: Int,
              clusterBy: Option[String] = None,
              statsCols: Seq[String] = Seq.empty,
              expectedVersion: Option[Long] = None,
              txn: Option[Long] = None,
              txnApp: String = "",
              zorderBy: Seq[String] = Seq.empty): Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "clusterBy and zorderBy are mutually exclusive")
    require(zorderBy.isEmpty || zorderBy.length == 2,
      s"zorderBy interleaves exactly 2 columns, got $zorderBy")
    val snap = writeBase(spark, root, expectedVersion, txn, txnApp)
    // compaction reads only LIVE rows, so merge-on-read and equality
    // deletes MATERIALIZE away here — the rewritten files carry no
    // vectors and the columnar fast path is restored
    val cur = scan(spark, root, snap)
    val pspecs = snap.partitionSpecs
    if (pspecs.nonEmpty) {
      // a partitioned table's compaction bin-packs WITHIN partitions:
      // hash-cluster whole tuples (the TRANSFORMED field values, so a
      // day's rows stay together under days(ts)) over targetFiles
      // tasks, then the partitioned staging write emits one tuple-pure
      // file per (task, tuple) — small per-tuple file sets collapse to
      // one file each, and re-clustering on other columns (clusterBy /
      // zorderBy) is refused loudly rather than silently fragmenting
      // tuples
      require(clusterBy.isEmpty && zorderBy.isEmpty,
        "clusterBy/zorderBy compaction is not supported on a partitioned " +
          s"table (partitioned by ${pspecs.mkString(",")})")
      val out = cur.repartition(targetFiles, partitionKeys(spark, pspecs): _*)
      val files = writeData(spark, root, out, pspecs, snap.sortCols,
        clusterToTuples = false) // already clustered, keep targetFiles tasks
      val st = collectStats(spark, files.map(_.path), statsCols)
      val next = snap.version + 1
      try {
        publish(spark, root, next, files, nextMeta(Some(snap), txn, txnApp),
          Some(out.schema), newStats = st)
        return next
      } catch { case e: java.util.ConcurrentModificationException =>
        cleanupOrphans(spark, root, files.map(_.path)); throw e }
    }
    val out = (clusterBy, zorderBy) match {
      case (Some(c), _) => cur.repartitionByRange(targetFiles, col(c))
      case (None, Seq(x, y)) =>
        graft.functions.expressions.GraftFunctions.register(spark)
        val r = cur.agg(min(col(x).cast("double")), max(col(x).cast("double")),
          min(col(y).cast("double")), max(col(y).cast("double"))).head()
        if (r.isNullAt(0) || r.isNullAt(2)) cur.repartition(targetFiles)
        else {
          def dom(lo: Double, hi: Double): (Double, Double) =
            if (hi > lo) (lo, hi) else (lo, lo + 1.0)
          val (xMin, xMax) = dom(r.getDouble(0), r.getDouble(1))
          val (yMin, yMax) = dom(r.getDouble(2), r.getDouble(3))
          val z = graft.operators.Layout.zorderKey(
            col(x), xMin, xMax, col(y), yMin, yMax)
          cur.withColumn("__z", z)
            .repartitionByRange(targetFiles, col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
        }
      case _ => cur.repartition(targetFiles)
    }
    val files = writeData(spark, root, out,
      sortCols = if (clusterBy.isEmpty && zorderBy.isEmpty) snap.sortCols
                 else Seq.empty) // explicit re-clustering wins over sort order
    val st = collectStats(spark, files.map(_.path), statsCols)
    val next = snap.version + 1
    try {
      // compaction materializes the evolved schema into every file, and
      // the new version keeps carrying it
      publish(spark, root, next, files, nextMeta(Some(snap), txn, txnApp),
        Some(out.schema), newStats = st)
      next
    } catch { case e: java.util.ConcurrentModificationException =>
      cleanupOrphans(spark, root, files.map(_.path)); throw e }
  }

  /** PURGE merge-on-read deletes: rewrite ONLY the vector-bearing files
    * (live rows re-staged, vectors retired), retaining every clean file
    * verbatim — the bounded maintenance pass between small updates and
    * a full [[compact]] (Delta's `REORG ... APPLY (PURGE)` shape). Cost
    * is O(vectored files), the vectorized scan path is restored for the
    * rewritten data, and old versions keep time-traveling through their
    * own sidecars (vacuum retires the unreferenced ones later). Returns
    * the committed version — unchanged when nothing carries a vector
    * (no junk versions). */
  def purgeDeletes(spark: SparkSession, root: String,
                   expectedVersion: Option[Long] = None): Long = {
    val snap = writeBase(spark, root, expectedVersion, None, "")
    val (vectored, clean) = snap.entries.partition(_.dv.nonEmpty)
    if (vectored.isEmpty) return snap.version
    val schema = tableSchema(spark, root, snap.version)
    val live = scan(spark, root, snap, Some(vectored))
    val files = writeData(spark, root, live, snap.partitionSpecs, snap.sortCols)
    val st = collectStats(spark, files.map(_.path),
      statsRaw(spark, root, snap.version).map(_.col).distinct.sorted)
    val next = snap.version + 1
    try {
      publish(spark, root, next, clean ++ files, nextMeta(Some(snap), None),
        schema, carryStatsFrom = Some(snap.version), newStats = st)
      next
    } catch { case e: java.util.ConcurrentModificationException =>
      cleanupOrphans(spark, root, files.map(_.path)); throw e }
  }

  /** The standard optimistic-concurrency loop every table format ships:
    * on losing the commit race, re-read the NEW latest snapshot and
    * re-apply the merge against it (last-write-wins keyed semantics make
    * re-application correct — the loser's updates still win their keys
    * by `versionCol`). Gives lock-free progress for N concurrent
    * writers: someone always commits, losers pay one extra rewrite.
    * Throws the final `ConcurrentModificationException` after
    * `maxAttempts` consecutive losses. */
  def mergeWithRetry(spark: SparkSession, root: String, updates: DataFrame,
                     keyCols: Seq[String], versionCol: String,
                     maxAttempts: Int = 5,
                     statsCols: Seq[String] = Seq.empty,
                     clusterBy: Option[String] = None,
                     clusterFiles: Int = 0,
                     deleteCol: Option[String] = None,
                     txn: Option[Long] = None,
                     txnApp: String = ""): Long = {
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    var attempt = 1
    while (true) {
      try return merge(spark, root, updates, keyCols, versionCol,
        expectedVersion = None, statsCols = statsCols, clusterBy = clusterBy,
        clusterFiles = clusterFiles, deleteCol = deleteCol, txn = txn,
        txnApp = txnApp)
      catch { case e: java.util.ConcurrentModificationException =>
        if (attempt >= maxAttempts) throw e
        attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Retention: keep the newest `keepVersions` manifests; drop older
    * versions and every data file nothing retained references — EXCEPT
    * files younger than `graceMs`. The grace window is what keeps vacuum
    * safe against IN-FLIGHT writers: a concurrent merge has staged data
    * files that no manifest references YET, and deleting them would
    * corrupt the table the moment that writer commits. The default is
    * SEVEN DAYS (the table-format convention) — it must comfortably
    * exceed the longest write a table ever sees, because the protection
    * is keyed on file age; a 1-hour window would eat a 2-hour COW
    * rewrite's staging. Dropped-version retirement is COUPLED: a dropped
    * version's manifest, stats, and data files all retire on the
    * MANIFEST's age, so a version is either fully time-travel-readable
    * or fully gone — never a live manifest over deleted files. Returns
    * the number of data files deleted. Metadata-scale driver work. */
  /** PARTITION SPEC EVOLUTION — replace the table's `#partition` line
    * as a METADATA-ONLY version (Iceberg's spec evolution): future
    * writes cluster by and record tuples for the NEW fields; existing
    * files keep their old-era tuples untouched. Correctness holds
    * because tuples are SELF-DESCRIBING (keyed by field spec, e.g.
    * `days(ts)=123`): the pruning evaluator simply finds no domain for
    * a current-spec field in an old-era tuple, so old files degrade to
    * never-pruned — no false negatives — while new files prune under
    * the new spec. Paths that REQUIRE era-uniform tuples stay safe
    * explicitly: partition-scoped merge rewrites old-era files
    * conservatively (migrating them), and dynamic overwrite refuses
    * with compact-first guidance. A compaction rewrites everything
    * under the current spec and restores full pruning. */
  def evolvePartitionSpec(spark: SparkSession, root: String,
                          specs: Seq[String]): Long = {
    val snap = latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val schema = tableSchema(spark, root, snap.version).getOrElse(
      throw new IllegalStateException(
        s"partition spec evolution needs a schema sidecar at $root"))
    validatePartitionSpecs(specs, schema)
    val next = snap.version + 1
    publish(spark, root, next, snap.entries,
      nextMeta(Some(snap), None, partitionOverride = Some(specs)), Some(schema),
      carryStatsFrom = Some(snap.version))
    next
  }

  // ------------------------------------------------------- refs (tags/branches)

  /** NAMED REFS — `<root>/_snapshots/refs`, lines `name<TAB>kind<TAB>
    * version` (kind = `tag` | `branch`): human-readable pointers into
    * the version history, the write-audit-publish primitive.
    *
    *  - a TAG is immutable (re-tagging an existing name refuses) — pin
    *    "the dataset release we trained on".
    *  - a BRANCH moves, but only FORWARD through [[fastForward]] — the
    *    WAP publish pointer: production consumers read `VERSION AS OF
    *    'main'`; ingest commits ordinary versions (invisible to those
    *    consumers); the audit reads the candidate version; publishing is
    *    ONE atomic refs update. A failed audit just never moves the
    *    branch — consumers never saw the bad data, and the unpublished
    *    versions age out through vacuum.
    *
    * Refs updates are whole-file atomic swaps (write temp + atomic
    * rename over the old refs file). [[vacuum]] always retains
    * ref-targeted versions and their files, whatever `keepVersions`
    * says — a tag outlives the retention window by design. */
  def refs(spark: SparkSession, root: String): Map[String, (String, Long)] = {
    val f = fs(spark, root)
    val p = refsPath(root)
    if (!f.exists(p)) return Map.empty
    val in = f.open(p)
    val bytes = try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 65536, false)
      bos.toByteArray
    } finally in.close()
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty).flatMap { l =>
        l.split("\t") match {
          case Array(n, k, v) =>
            try Some(n -> (k, v.toLong))
            catch { case _: NumberFormatException => None }
          case _ => None
        }
      }.toMap
  }

  private def refsPath(root: String) = new Path(snapDir(root), "refs")

  private def validRefName(name: String): Unit =
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n' ||
        c == '\r'),
      s"ref name must be nonempty without tab/newline: '$name'")

  /** Serialize read-modify-write ref updates with a create-exclusive
    * lock file (+ stale takeover) ON THE TABLE'S FILESYSTEM — two
    * concurrent tag/fast_forward calls, possibly from DIFFERENT
    * drivers on a shared store (HDFS), must not lose each other's
    * update through the whole-file refs overwrite. On the local
    * scheme the acquire is java.nio `createFile` (true O_EXCL — the
    * same primitive the commit fallback uses); remote filesystems use
    * their own atomic `create(path, overwrite=false)`. Object stores
    * without atomic create keep the documented single-driver
    * limitation, like the manifest commit itself. */
  private def withRefsLock[A](spark: SparkSession, root: String)(f: => A): A = {
    val fsys = fs(spark, root)
    fsys.mkdirs(snapDir(root))
    val lockP = new Path(snapDir(root), ".refs.lock")
    val local = fsys.getScheme == "file"
    val lockNio =
      if (local) java.nio.file.Paths.get(fsys.makeQualified(lockP).toUri.getPath)
      else null
    def tryAcquire(): Boolean =
      if (local)
        try { java.nio.file.Files.createFile(lockNio); true }
        catch { case _: java.io.IOException => false }
      else
        try { fsys.create(lockP, false).close(); true }
        catch { case _: java.io.IOException => false }
    def mtime(): Long =
      if (local) java.nio.file.Files.getLastModifiedTime(lockNio).toMillis
      else fsys.getFileStatus(lockP).getModificationTime
    def drop(): Unit =
      if (local) { java.nio.file.Files.deleteIfExists(lockNio); () }
      else { try fsys.delete(lockP, false) catch { case _: java.io.IOException => () }; () }
    val deadline = System.currentTimeMillis() + 10000
    var held = false
    while (!held) {
      if (tryAcquire()) held = true
      else {
        val stale = try System.currentTimeMillis() - mtime() > lockStaleMs
          catch { case _: Exception => false }
        if (stale) drop()
        else if (System.currentTimeMillis() > deadline)
          throw new java.util.ConcurrentModificationException(
            s"could not acquire the refs lock at $root")
        else Thread.sleep(50)
      }
    }
    try f finally drop()
  }

  private def writeRefs(spark: SparkSession, root: String,
                        m: Map[String, (String, Long)]): Unit = {
    val f = fs(spark, root)
    f.mkdirs(snapDir(root))
    val tmp = new Path(snapDir(root), s".refs-tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(m.toSeq.sortBy(_._1)
      .map { case (n, (k, v)) => s"$n\t$k\t$v" }
      .mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // atomic replace: FileContext rename with OVERWRITE (HDFS/local);
    // readers see the old or the new refs file, never a mix
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      refsPath(root).toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, refsPath(root),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def requireRetained(spark: SparkSession, root: String, v: Long): Unit =
    require(versions(spark, root).contains(v),
      s"version $v is not retained at $root " +
        s"(retained: ${versions(spark, root).mkString(",")})")

  /** Create an immutable tag at `v` (default: the current head). */
  def tag(spark: SparkSession, root: String, name: String,
          v: Option[Long] = None): Long = {
    validRefName(name)
    val target = v.getOrElse(latest(spark, root).map(_.version).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root")))
    requireRetained(spark, root, target)
    withRefsLock(spark, root) {
      val m = refs(spark, root)
      require(!m.contains(name),
        s"ref '$name' already exists at $root (tags are immutable; " +
          "drop it first or use a branch)")
      writeRefs(spark, root, m + (name -> ("tag", target)))
    }
    target
  }

  /** Create a movable branch at `v` (default: the current head). */
  def branch(spark: SparkSession, root: String, name: String,
             v: Option[Long] = None): Long = {
    validRefName(name)
    val target = v.getOrElse(latest(spark, root).map(_.version).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root")))
    requireRetained(spark, root, target)
    withRefsLock(spark, root) {
      val m = refs(spark, root)
      require(!m.contains(name), s"ref '$name' already exists at $root")
      writeRefs(spark, root, m + (name -> ("branch", target)))
    }
    target
  }

  /** Move branch `name` FORWARD to `toV` (default: the current head) —
    * the atomic WAP publish. Refuses on tags, on unknown refs, and on
    * a non-forward move (rollback is [[restore]] + fast_forward, which
    * keeps publish monotone and auditable). */
  def fastForward(spark: SparkSession, root: String, name: String,
                  toV: Option[Long] = None): Long = {
    val target = toV.getOrElse(latest(spark, root).map(_.version).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root")))
    requireRetained(spark, root, target)
    withRefsLock(spark, root) {
      val m = refs(spark, root)
      val (kind, cur) = m.getOrElse(name, throw new IllegalArgumentException(
        s"no ref '$name' at $root (refs: ${m.keys.toSeq.sorted.mkString(",")})"))
      require(kind == "branch", s"ref '$name' is a tag — tags never move")
      require(target >= cur,
        s"fast_forward must move forward: '$name' is at v$cur, asked v$target")
      writeRefs(spark, root, m + (name -> ("branch", target)))
    }
    target
  }

  /** Drop a ref (tag or branch). Idempotent. */
  def dropRef(spark: SparkSession, root: String, name: String): Boolean =
    withRefsLock(spark, root) {
      val m = refs(spark, root)
      if (!m.contains(name)) false
      else { writeRefs(spark, root, m - name); true }
    }

  /** Resolve a ref name to its version. */
  def resolveRef(spark: SparkSession, root: String, name: String): Option[Long] =
    refs(spark, root).get(name).map(_._2)

  // ------------------------------------------------------ WRITE BRANCHES
  //
  // A write branch is a VIRTUAL TABLE ROOT under `<root>/_branches/<name>`
  // whose `_snapshots` starts as a copy of the fork-point version — every
  // existing mechanism (CAS commits, stats/schema sidecars, equality
  // deletes, row-level SQL, the streaming sink) works on it verbatim, so
  // a branch accumulates ordinary divergent commits while `main` stays
  // untouched. Version numbers continue from the fork point, which makes
  // PUBLISH a pure sequence of manifest renames into the main
  // `_snapshots` (atomic per version; refused wholesale when main
  // advanced past the fork — forward-only, like every fast-forward in
  // this engine). The fork version is pinned in the refs file (kind
  // `wbranch`), so vacuum on main never retires the files the branch's
  // carried entries still reference. Branch DATA files stay under the
  // branch directory after publish (absolute manifest paths — rename
  // re-anchoring handles them); the next compaction folds them into
  // `data/`.

  private[storage] def snapDirOf(root: String): Path = snapDir(root)

  /** The branch's virtual root. Branch names are path segments. */
  def branchRoot(root: String, name: String): String = {
    require(name.nonEmpty && !name.startsWith(".") &&
      !name.exists(c => c == '\t' || c == '\n' || c == '\r' || c == '/'),
      s"invalid branch name '$name'")
    new Path(new Path(root, "_branches"), name).toString
  }

  private def copyMetaFile(f: FileSystem, from: Path, to: Path): Unit = {
    if (!f.exists(from)) return
    val in = f.open(from)
    val bytes = try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 65536, false)
      bos.toByteArray
    } finally in.close()
    val tmp = new Path(to.getParent, s".tmp-br-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(bytes) finally out.close()
    if (!f.rename(tmp, to)) f.delete(tmp, false)
  }

  /** Create a write branch forked at the current head: copy the head
    * version's manifest + stats + schema sidecars into the branch's own
    * `_snapshots`, and pin the fork version in the refs file (vacuum
    * safety). The branch is then a fully ordinary table root. */
  def createWriteBranch(spark: SparkSession, root: String, name: String): Long = {
    val br = branchRoot(root, name)
    val f = fs(spark, root)
    val head = latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no table at $root — create() first"))
    withRefsLock(spark, root) {
      val m = refs(spark, root)
      require(!m.contains(name), s"ref '$name' already exists at $root")
      require(!f.exists(snapDir(br)),
        s"branch directory already exists at $br — drop_branch first")
      f.mkdirs(snapDir(br))
      copyMetaFile(f, manifestPath(root, head.version),
        manifestPath(br, head.version))
      copyMetaFile(f, statsPath(root, head.version),
        statsPath(br, head.version))
      copyMetaFile(f, schemaPath(root, head.version),
        schemaPath(br, head.version))
      writeRefs(spark, root, m + (name -> ("wbranch", head.version)))
    }
    head.version
  }

  /** True when `name` is a write branch with staged state. */
  def writeBranchExists(spark: SparkSession, root: String,
                        name: String): Boolean =
    fs(spark, root).exists(snapDir(branchRoot(root, name)))

  /** PUBLISH (fast-forward main onto the branch): every branch version
    * above the fork republishes as the same version of main through
    * [[publish]] — the manifest CAS is the atomic claim of that version
    * number (a main writer that advanced mid-publish makes it fail and
    * the publish stops at a consistent prefix), the branch version's
    * stats and schema sidecars right after. Each published version keeps
    * the commit time it had on the branch, so TIMESTAMP AS OF and vacuum
    * retention see it as committed then. Refused outright when main
    * already advanced past the fork — recreate the branch and replay. */
  def publishBranch(spark: SparkSession, root: String, name: String): Long = {
    val br = branchRoot(root, name)
    val f = fs(spark, root)
    val vs = versions(spark, br)
    require(vs.nonEmpty, s"no write branch '$name' at $root")
    val base = vs.min
    val mainHead = latest(spark, root).map(_.version).getOrElse(0L)
    if (mainHead != base) throw new java.util.ConcurrentModificationException(
      s"cannot publish branch '$name': main is at v$mainHead but the " +
        s"branch forked at v$base — recreate the branch from the current " +
        "head and replay its commits")
    val toMove = vs.filter(_ > base).sorted
    toMove.foreach { v =>
      val s = snapshot(spark, br, v)
      try publish(spark, root, v, s.entries, s.meta, tableSchema(spark, br, v),
        newStats = statsRaw(spark, br, v).map(_.line),
        commitTime = Some(f.getFileStatus(manifestPath(br, v)).getModificationTime))
      catch { case _: java.util.ConcurrentModificationException =>
        throw new java.util.ConcurrentModificationException(
          s"publish of branch '$name' lost a race at v$v (main advanced " +
            s"mid-publish); versions below v$v published consistently")
      }
    }
    // retire the branch metadata (its DATA files stay — published
    // manifests reference them absolutely; compaction folds them in)
    f.delete(snapDir(br), true)
    withRefsLock(spark, root) {
      writeRefs(spark, root, refs(spark, root) - name)
    }
    toMove.lastOption.getOrElse(base)
  }

  /** Abandon a write branch: delete its staged metadata AND data (an
    * unpublished branch's data is referenced by nothing else). A
    * PUBLISHED branch's leftover data directory is never touched (its
    * `_snapshots` is already gone — only the refs entry could linger
    * after a crash, and that is all this cleans then). Idempotent. */
  def dropWriteBranch(spark: SparkSession, root: String, name: String): Boolean = {
    val br = branchRoot(root, name)
    val f = fs(spark, root)
    val staged = f.exists(snapDir(br))
    if (staged) f.delete(new Path(br), true)
    withRefsLock(spark, root) {
      val m = refs(spark, root)
      if (m.get(name).exists(_._1 == "wbranch"))
        writeRefs(spark, root, m - name)
    }
    staged
  }

  /** RESTORE — roll the table back to version `v` AS A COMMIT: v's
    * entries, stats lines (NDV sketches included), and schema republish
    * as the new head version. Nothing is deleted — the rolled-back
    * versions keep time-traveling until vacuum retires them, so a
    * restore is itself undoable by another restore. One manifest + two
    * sidecar writes: metadata time, O(v's file count), no data motion
    * (the head references version-v's still-retained files).
    *
    * The table-shape meta (partition spec, sort order, row-level modes)
    * comes from `v` — restore means THAT table back; the txn ledger
    * comes from the CURRENT head — a restore must never lower a
    * stream's batch high-water mark, or replayed micro-batches would
    * double-commit after a rollback. Refuses when `v` is not retained
    * or any of its files/vectors were already vacuumed. */
  /** Shared validation for RENAME/DROP COLUMN: both are METADATA-ONLY
    * versions over a name-keyed format, so the column must not be load-
    * bearing for anything that resolves names at read/write time
    * beneath the mapping layer. Returns (snapshot, schema sidecar). */
  private def colDdlBase(spark: SparkSession, root: String, name: String,
                         op: String): (Snapshot, org.apache.spark.sql.types.StructType) = {
    val snap = latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no table at $root — create() first"))
    val schema = tableSchema(spark, root, snap.version).getOrElse(
      throw new IllegalStateException(
        s"$op needs a schema sidecar; this table predates them — " +
          "compact it once first"))
    require(schema.fieldNames.contains(name),
      s"no column '$name' in ${schema.simpleString}")
    snap.entries.find(_.addV < 0L).foreach { e =>
      throw new IllegalStateException(
        s"$op needs add-versions on every file; ${e.path} predates " +
          "them — compact the table once first")
    }
    val partCols = snap.partitionSpecs.map(SnapshotPartition.parseField(_).col)
    require(!partCols.contains(name),
      s"cannot $op partition column '$name' (partitioned by " +
        s"${snap.partitionSpecs.mkString(",")})")
    require(!snap.sortCols.contains(name),
      s"cannot $op declared sort column '$name' — clear the sort order first")
    val eqKeyCols = snap.eqDeletes.flatMap(_._4).distinct
    require(!eqKeyCols.contains(name),
      s"cannot $op upsert key column '$name' while equality deletes are " +
        "in force — compact the table first")
    (snap, schema)
  }

  /** RENAME COLUMN as a metadata-only version: the schema sidecar takes
    * the new name (same position/type), a `#colmap` event records the
    * lineage, and the carried stats sidecar is re-keyed — so old files
    * keep serving the column under its new name AND data skipping on it
    * keeps pruning. Old versions time-travel under their own schema.
    * Compaction rewrites files under current names and retires the
    * event. Writers always write head names; a stale writer's old-name
    * column is a NEW column under mergeSchema (same as every name-keyed
    * format without its mapping flag). */
  def renameColumn(spark: SparkSession, root: String, oldName: String,
                   newName: String): Long = {
    require(newName.nonEmpty && !newName.exists(c => c == '\t' || c == '\n'),
      s"invalid column name '$newName'")
    val (snap, schema) = colDdlBase(spark, root, oldName, "RENAME COLUMN")
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"column '$newName' already exists in ${schema.simpleString}")
    val next = snap.version + 1
    val i = schema.fieldIndex(oldName)
    val nextSchema = org.apache.spark.sql.types.StructType(
      schema.fields.updated(i, schema.fields(i).copy(name = newName)))
    // re-key the carried stats so pruning/NDV on the renamed column
    // keeps working for pre-rename files
    publish(spark, root, next, snap.entries,
      nextMeta(Some(snap), None) :+ s"#colmap $next\trename\t$oldName\t$newName",
      Some(nextSchema),
      newStats = statsRaw(spark, root, snap.version)
        .map(l => if (l.col == oldName) l.copy(col = newName) else l)
        .map(_.line).sorted)
    next
  }

  /** DROP COLUMN as a metadata-only version: the head schema loses the
    * field, a `#colmap` event breaks the lineage (a LATER re-add of the
    * same name is a fresh column — old files' stale values never leak
    * into it), stats lines for the column retire. Nothing is rewritten;
    * old versions still time-travel WITH the column. */
  def dropColumn(spark: SparkSession, root: String, name: String): Long = {
    val (snap, schema) = colDdlBase(spark, root, name, "DROP COLUMN")
    require(schema.fields.length > 1,
      s"cannot drop the only column of ${schema.simpleString}")
    val next = snap.version + 1
    val nextSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == name))
    publish(spark, root, next, snap.entries,
      nextMeta(Some(snap), None) :+ s"#colmap $next\tdrop\t$name",
      Some(nextSchema),
      newStats = statsRaw(spark, root, snap.version).filterNot(_.col == name)
        .map(_.line).sorted)
    next
  }

  def restore(spark: SparkSession, root: String, v: Long): Long = {
    val cur = latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    require(versions(spark, root).contains(v),
      s"cannot restore: version $v is not retained at $root " +
        s"(retained: ${versions(spark, root).mkString(",")})")
    if (cur.version == v) return v // restoring the head is a no-op
    val snap = snapshot(spark, root, v)
    val f = fs(spark, root)
    (snap.entries.map(_.path) ++ snap.entries.map(_.dv).filter(_.nonEmpty))
      .foreach(p => require(f.exists(new Path(p)),
        s"cannot restore v$v: $p was already vacuumed"))
    val next = cur.version + 1
    val meta = partitionMeta(snap.partitionSpecs) ++
      sortMeta(snap.sortCols) ++ rowLevelMeta(snap.rowLevelModes) ++
      snap.meta.filter(l =>
        l.startsWith("#eqdelete ") || l.startsWith("#colmap ")) ++
      cur.txns.toSeq.sortBy(_._1).map {
        case ("", id) => s"#txn $id"
        case (app, id) => s"#txn $app $id"
      }
    publish(spark, root, next, snap.entries, meta, tableSchema(spark, root, v),
      carryStatsFrom = Some(v))
    next
  }

  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 2,
             graceMs: Long = 7L * 24 * 3600 * 1000): Int = {
    require(keepVersions >= 1, "must keep at least one version")
    require(graceMs >= 0, "graceMs must be >= 0")
    val f = fs(spark, root)
    val vs = versions(spark, root)
    if (vs.isEmpty) return 0
    val cutoff = System.currentTimeMillis() - graceMs
    // ref-targeted versions (tags/branches) are pinned whatever the
    // retention window says — a tag IS the request to keep that version
    val refTargets = refs(spark, root).values.map(_._2).toSet
    val (dropCand, keepTail) = vs.splitAt(math.max(0, vs.size - keepVersions))
    val dropAll = dropCand.filterNot(refTargets)
    val keep = dropCand.filter(refTargets) ++ keepTail
    // a dropped version retires WHOLE, on its manifest's age
    val (dropNow, dropLater) = dropAll.partition { v =>
      val m = manifestPath(root, v)
      f.exists(m) && f.getFileStatus(m).getModificationTime < cutoff
    }
    val retainedSnaps = (keep ++ dropLater).map(v => snapshot(spark, root, v))
    val referenced = retainedSnaps.flatMap(_.files).toSet
    // deletion-vector sidecars retire exactly like data files: keep the
    // ones any retained manifest references, drop old unreferenced ones
    // (the grace window protects an in-flight merge-on-read commit)
    val referencedDv = (retainedSnaps.flatMap(_.entries)
      .collect { case e if e.dv.nonEmpty => norm(e.dv) } ++
      // update-preimage sidecars (`#updv`) stay live while the version
      // whose change feed needs them is retained; equality-delete
      // sidecars while any retained manifest keeps them in force
      retainedSnaps.flatMap(_.updVectors.values.map(norm)) ++
      retainedSnaps.flatMap(_.eqDeletes.map(t => norm(t._1)))).toSet
    val dvDir = DeletionVectors.dir(root)
    if (f.exists(dvDir)) {
      f.listStatus(dvDir).foreach { st =>
        // partial-* dirs are a delta write's staging area (normally
        // dropped at commit); an old one is a crashed writer's orphan
        if (st.isDirectory && st.getPath.getName.startsWith("partial-") &&
            st.getModificationTime < cutoff)
          f.delete(st.getPath, true)
        else if (!st.isDirectory && !referencedDv(norm(st.getPath.toString)) &&
            st.getModificationTime < cutoff)
          f.delete(st.getPath, false)
      }
    }
    val dataDir = new Path(root, "data")
    val statuses = listParquetStatuses(f, dataDir)
    val dead = statuses.filter(st => !referenced(st.getPath.toString) &&
      st.getModificationTime < cutoff).map(_.getPath)
    // capture dir ages BEFORE deleting (deletions bump the parent mtime)
    val dirAge = f.listStatus(dataDir).collect {
      case st if st.isDirectory => st.getPath -> st.getModificationTime
    }.toMap
    dead.foreach(p => f.delete(p, false))
    val touched = dead.map(_.getParent).toSet
    // prune now-empty uuid dirs: ones THIS run emptied, plus ones already
    // old and empty (an in-flight writer's fresh dir stays)
    dirAge.foreach { case (dir, age) =>
      if ((touched(dir) || age < cutoff) && listParquet(f, dir).isEmpty)
        f.delete(dir, true)
    }
    dropNow.foreach { v =>
      // the streaming sink's txn ledger rides INSIDE the manifest and the
      // high-water marks are carried forward by every commit, so retiring
      // an old version never loses them
      f.delete(manifestPath(root, v), false)
      f.delete(statsPath(root, v), false)
      f.delete(schemaPath(root, v), false)
    }
    dead.size
  }
}
