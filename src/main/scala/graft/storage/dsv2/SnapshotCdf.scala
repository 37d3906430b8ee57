package graft.storage.dsv2

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.storage.{DeletionVectors, SnapshotTable}

/** CHANGE-DATA-FEED reads through the connector — THE typed row-level
  * change stream, as a first-class DSv2 table ([[SnapshotTable.changeFeed]]
  * is this read, pinned to a resolved window):
  *
  * {{{
  *   // batch: every change in (changesFrom, changesTo|latest]
  *   spark.read.format("graft-snapshot")
  *     .option("changeFeed", true).option("changesFrom", 2).load(root)
  *   // streaming: one micro-batch per committed version window
  *   spark.readStream.format("graft-snapshot")
  *     .option("changeFeed", true).load(root)
  * }}}
  *
  * Output schema = the table's columns + `_change_type`
  * ('insert' | 'delete') + `_commit_version`. Inserts are appended
  * files per version; deletes are the merge-on-read vectors' NEWLY
  * deleted ordinals, read by emitting exactly those positions from the
  * (immutable) data file. Copy-on-write rewrites refuse with guidance
  * ([[SnapshotTable.changeSets]]). The streaming form checkpoints
  * version offsets (exactly-once), honours `maxVersionsPerTrigger`,
  * and terminates under `Trigger.AvailableNow` — identical admission
  * control to the plain snapshot source. */
object SnapshotCdfTable {
  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"

  def cdfSchema(table: StructType): StructType = StructType(table.fields
    :+ StructField(ChangeType, StringType, nullable = false)
    :+ StructField(CommitVersion, LongType, nullable = false))
}

final class SnapshotCdfTable(root: String, tableSchema: StructType,
                             options: CaseInsensitiveStringMap)
  extends Table with SupportsRead {

  private val schema0 = SnapshotCdfTable.cdfSchema(tableSchema)

  override def name(): String = s"graft-snapshot-cdf:$root"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => new SnapshotCdfScan(root, schema0,
      fromV = Option(options.get("changesFrom")).map(_.toLong).getOrElse(0L),
      toV = Option(options.get("changesTo")).map(_.toLong),
      startingVersion = Option(options.get("startingVersion")).map(_.toLong),
      maxVersionsPerTrigger =
        Option(options.get("maxVersionsPerTrigger")).map(_.toLong))
}

/** One change partition: a data file read either whole (insert) or at
  * exactly the newly-deleted ordinals (delete), tagged with the commit
  * version. The payload is PATHS ONLY — `atAddDv` is the file's vector
  * at add time for inserts (dead rows were never visible, so they are
  * not inserts); for deletes the READER diffs `newDv \ oldDv` (or the
  * complement over `[0, fullRows)` for a fully-deleted file) executor-
  * side, so CDF planning holds no positions in driver memory however
  * large the delete. `postimage`/`updDv` carry the version's update
  * linkage: postimage files' rows type `update_postimage`, and deleted
  * ordinals present in `updDv` type `update_preimage`.
  *
  * Equality-delete (streaming-upsert) exposure rides as `eqEpochs` —
  * the file's FULL in-window epoch list, so one partition = one read
  * of the file for the whole window; the reader attributes each row to
  * its earliest matching epoch. `eqPrior`/`eqKeys` name the sidecars
  * (and their key columns) already in force before the window — their
  * victims predate it; on a full-removal delete partition they filter
  * the complement so key-retired rows don't double-emit. */
final case class SnapshotCdfPartition(file: String, version: Long,
                                      isDelete: Boolean,
                                      atAddDv: String, postimage: Boolean,
                                      oldDv: String, newDv: String,
                                      fullRows: Long, updDv: String,
                                      eqPrior: Seq[String] = Seq.empty,
                                      eqKeys: Seq[String] = Seq.empty,
                                      eqEpochs: Seq[SnapshotTable.CdfEqEpoch] =
                                        Seq.empty)
  extends InputPartition

final class SnapshotCdfScan(root: String, cdfSchema: StructType,
                            fromV: Long, toV: Option[Long],
                            startingVersion: Option[Long],
                            maxVersionsPerTrigger: Option[Long])
  extends Scan with Batch {

  private def spark = SparkSession.active

  override def readSchema(): StructType = cdfSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-snapshot change-feed root=$root from=v$fromV" +
      toV.map(v => s" to=v$v").getOrElse("")

  private def partitionsFor(from: Long, to: Long): Array[InputPartition] = {
    val (inserts, deletes, eqFiles) =
      SnapshotTable.changeSets(spark, root, from, to)
    (inserts.map { case (v, e, postimage) =>
      SnapshotCdfPartition(e.path, v, isDelete = false,
        atAddDv = e.dv, postimage = postimage,
        oldDv = "", newDv = "", fullRows = -1L, updDv = ""): InputPartition
    } ++ deletes.map { d =>
      SnapshotCdfPartition(d.file, d.version, isDelete = true,
        atAddDv = "", postimage = false,
        oldDv = d.oldDv, newDv = d.newDv, fullRows = d.fullRows,
        updDv = d.updDv, eqPrior = d.priorEq,
        eqKeys = d.eqKeys): InputPartition
    } ++ eqFiles.map { d =>
      // the window's upsert epochs over one file, as ONE partition —
      // the reader scans the file once, attributing each key-matched
      // row to its earliest applicable epoch
      SnapshotCdfPartition(d.file, d.epochs.head.version, isDelete = true,
        atAddDv = "", postimage = false,
        oldDv = "", newDv = "", fullRows = -1L, updDv = "",
        eqPrior = d.priorEq, eqEpochs = d.epochs): InputPartition
    }).toArray
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val to = toV.orElse(SnapshotTable.latest(spark, root).map(_.version))
      .getOrElse(throw new IllegalStateException(
        s"no committed snapshot at $root"))
    partitionsFor(fromV, to)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotCdfReaderFactory(cdfSchema,
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()))

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val start = startingVersion match {
      case Some(-1L) =>
        SnapshotTable.latest(spark, root).map(_.version).getOrElse(0L)
      case Some(v) => v
      case None => 0L
    }
    new SnapshotCdfMicroBatchStream(root, start, cdfSchema,
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()),
      maxVersionsPerTrigger, partitionsFor)
  }
}

/** The CDF table as a Structured Streaming source: offsets are snapshot
  * versions (exactly like the plain source), each micro-batch emits the
  * typed change rows of its version window. */
final class SnapshotCdfMicroBatchStream(
    root: String, startVersion: Long, cdfSchema: StructType,
    conf: SerializableHadoopConf,
    maxVersionsPerTrigger: Option[Long],
    partitionsFor: (Long, Long) => Array[InputPartition])
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def spark = SparkSession.active

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
    if (e <= s) Array.empty else partitionsFor(s, e)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotCdfReaderFactory(cdfSchema, conf)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def toString: String =
    s"graft-snapshot-cdf-stream root=$root from=v$startVersion"
}

final class SnapshotCdfReaderFactory(cdfSchema: StructType,
                                     conf: SerializableHadoopConf)
  extends PartitionReaderFactory {

  /** Per-key-set (ordinals, types) renderer cache — identical key sets
    * share array instances so the per-row key memo can `eq`-compare. */
  private def renderers(keySets: Seq[Seq[String]])
      : Map[Seq[String], (Array[Int], Array[org.apache.spark.sql.types.DataType])] =
    keySets.distinct.map { ks =>
      val ords = ks.map(cdfSchema.fieldIndex).toArray
      ks -> (ords, ords.map(i => cdfSchema.fields(i).dataType))
    }.toMap

  /** SINGLE-PASS equality-delete victims over ALL of one file's
    * in-window upsert epochs: scan the file once; per row, skip
    * pre-window retirees (prior sidecars, key columns from their own
    * headers), find the EARLIEST epoch whose key set contains the
    * row's tuple, and emit `delete` at that epoch's version unless the
    * row was already position-dead then (binary probe of that epoch's
    * `dvAtPrev`). All sidecar/vector reads are executor-side. */
  private def eqDeleteReader(p: SnapshotCdfPartition): PartitionReader[InternalRow] = {
    val priors: Seq[(Set[String], Seq[String])] = p.eqPrior.map { path =>
      val (ks, set) = graft.storage.EqualityDeletes.read(conf.value, path)
      (set, ks)
    }
    val rends = renderers(priors.map(_._2) ++ p.eqEpochs.map(_.keys))
    val eps = p.eqEpochs.map { e =>
      (e.version, SnapshotEqRead.keys(conf.value, e.newEq),
        if (e.dvAtPrev.isEmpty) Array.emptyLongArray
        else graft.storage.DeletionVectors.read(conf.value, e.dvAtPrev),
        rends(e.keys))
    }.toArray
    val priorSets = priors.map { case (set, ks) => (set, rends(ks)) }
    val inner = new SnapshotPartitionReader(p.file, cdfSchema,
      Map.empty, conf.value) // whole file in order: ordinal = row count
    val ctIdx = cdfSchema.fieldIndex(SnapshotCdfTable.ChangeType)
    val cvIdx = cdfSchema.fieldIndex(SnapshotCdfTable.CommitVersion)
    val tag = UTF8String.fromString("delete")
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      private var pos = -1L
      private var memoOrds: Array[Int] = _
      private var memoKey: String = _
      override def next(): Boolean = {
        while (inner.next()) {
          pos += 1
          val r = inner.get()
          memoOrds = null
          def keyOf(rd: (Array[Int], Array[org.apache.spark.sql.types.DataType])): String = {
            if (rd._1 ne memoOrds) {
              memoKey = SnapshotEqRead.rowKey(r, rd._1, rd._2)
              memoOrds = rd._1
            }
            memoKey
          }
          val preDead = priorSets.exists { case (set, rd) => set.contains(keyOf(rd)) }
          if (!preDead) {
            var j = 0
            var hit = -1
            while (j < eps.length && hit < 0) {
              if (eps(j)._2.contains(keyOf(eps(j)._4))) hit = j
              j += 1
            }
            if (hit >= 0 &&
                java.util.Arrays.binarySearch(eps(hit)._3, pos) < 0) {
              r.update(ctIdx, tag)
              r.update(cvIdx, eps(hit)._1)
              cur = r
              return true
            }
          }
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = inner.close()
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SnapshotCdfPartition]
    if (p.eqEpochs.nonEmpty) return eqDeleteReader(p)
    // EXECUTOR-SIDE vector diffing: delete partitions carry sidecar
    // paths; the fresh ordinals (new \ old, or the complement for a
    // fully-deleted file) and their update-preimage flags are resolved
    // here, where the file is read anyway — never on the driver
    val (fresh, isUpd) =
      if (p.isDelete)
        SnapshotTable.resolveDeleteSet(conf.value, p.oldDv, p.newDv,
          p.fullRows, p.updDv)
      else (null, null)
    // a FULLY-removed file with in-force equality deletes: the prior
    // sidecars' victims were already emitted at their upsert epoch —
    // the complement must filter them by key or the feed double-emits
    val priorSets: Seq[(Set[String], (Array[Int], Array[org.apache.spark.sql.types.DataType]))] =
      if (p.eqPrior.isEmpty) Seq.empty
      else {
        val rd = renderers(Seq(p.eqKeys))(p.eqKeys)
        p.eqPrior.map(path =>
          (graft.storage.EqualityDeletes.read(conf.value, path)._2, rd))
      }
    // the inner reader materializes the FULL cdf schema (the two change
    // columns are absent from parquet → null slots, filled per row);
    // deletes read exactly the newly-vectored ordinals, inserts read
    // the file minus its at-add vector
    val inner = new SnapshotPartitionReader(p.file, cdfSchema,
      Map.empty, conf.value,
      dvPath = if (p.isDelete) "" else p.atAddDv,
      keepOnly = fresh)
    val ctIdx = cdfSchema.fieldIndex(SnapshotCdfTable.ChangeType)
    val cvIdx = cdfSchema.fieldIndex(SnapshotCdfTable.CommitVersion)
    val insertTag = UTF8String.fromString(
      if (p.postimage) "update_postimage" else "insert")
    val deleteTag = UTF8String.fromString("delete")
    val preimageTag = UTF8String.fromString("update_preimage")
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      private var i = -1 // index into `fresh` (delete partitions only):
                         // keepOnly emits rows in exactly that order
      override def next(): Boolean = {
        while (inner.next()) {
          i += 1
          val r = inner.get()
          val eqDead = priorSets.nonEmpty && priorSets.exists {
            case (set, rd) => set.contains(SnapshotEqRead.rowKey(r, rd._1, rd._2))
          }
          if (!eqDead) {
            r.update(ctIdx,
              if (!p.isDelete) insertTag
              else if (isUpd(i)) preimageTag
              else deleteTag)
            r.update(cvIdx, p.version)
            cur = r
            return true
          }
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = inner.close()
    }
  }
}
