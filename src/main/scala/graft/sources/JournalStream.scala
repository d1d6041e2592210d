package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetPartitionReaderFactory, ParquetScan}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.paths.SparkPath
import org.apache.spark.unsafe.types.UTF8String

import graft.journal.{JournalStore, SegmentFiles}

/** V2 micro-batch streaming source for the `journal` format — tail the
  * log by seq offset (`spark.readStream.format("journal").load(path)`).
  *
  * The journal's seq high-water mark IS the streaming offset: each
  * micro-batch reads exactly the records in (lastSeq, maxSeq], planned
  * as one input partition per segment FILE that can hold rows of the
  * range — epoch directory bounds first (`epoch = seq div epochSize`),
  * then the manifest's per-file seq ranges (bounded IO per batch no
  * matter how long the journal grows — marasa's tail-replay invariant
  * as a stream). Segments are immutable and the manifest swap is
  * atomic, so a batch is reproducible for replay after recovery:
  * together with the checkpointed offset log this gives exactly-once
  * delivery into any downstream sink.
  *
  * Admission control (`maxSeqsPerTrigger=N`, the FileStreamSource
  * maxFilesPerTrigger idiom): each trigger advances the offset by at
  * most N seqs, so the first batch after a consumer outage is never the
  * whole backlog. V2's `latestOffset(start, limit)` receives the start
  * offset directly — stateless, where the V1 Source had to track a
  * `delivered` high-water mark across the recovery call order.
  *
  * Executor-side reading delegates to Spark's own
  * `ParquetPartitionReaderFactory` (the machinery behind every DSv2
  * parquet scan — timestamp encodings, schema clipping, null-filling of
  * evolved columns all inherited); a thin wrapper applies the
  * (lo, hi] seq filter row-level (parquet pushdown skips row groups,
  * never individual rows) and reorders columns to the table surface.
  * This replaces the V1 `Source.getBatch` DataFrame bridge, which
  * re-planned a full scan per batch and crossed an `RDD[Row]`
  * conversion. */
private[sources] class JournalMicroBatchStream(
    spark: SparkSession, storePath: String, tableSchema: StructType,
    maxSeqsPerTrigger: Option[Long],
    startingSeq: Option[String] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  maxSeqsPerTrigger.foreach(n => require(n > 0,
    s"maxSeqsPerTrigger must be positive, got $n"))
  startingSeq.foreach(s => require(s == "latest" || s.matches("-?\\d+"),
    s"""startingSeq must be a seq number or "latest", got "$s""""))

  /** Trigger.AvailableNow (the batch-drain idiom: "process everything
    * committed as of NOW in rate-limited batches, then stop"): the end
    * seq is pinned ONCE here; admission control then pages toward it
    * but never past it, so commits landing mid-drain wait for the next
    * run — exactly Kafka's AvailableNow contract, natively instead of
    * through Spark's compatibility wrapper. */
  @volatile private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(storeOpt.map(_.manifest.maxSeq).getOrElse(-1L))
  override def reportLatestOffset(): Offset =
    storeOpt.map(_.manifest.maxSeq).filter(_ >= 0L)
      .map(LongOffset(_)).orNull

  /** The store is re-opened per call: a stream must see commits that
    * land while it runs (the batch-table snapshot rule is exactly
    * wrong here). It may not exist yet — a stream can start before the
    * producer's first commit and picks the store up when it appears. */
  private def storeOpt: Option[JournalStore] =
    if (JournalStore.exists(storePath)) Some(JournalStore.open(spark, storePath))
    else None

  private def seqOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  /** Where a FRESH query (no checkpoint) starts — the Kafka
    * startingOffsets idiom on the seq axis. Default: the journal's
    * beginning (full replay). `startingSeq=N`: first delivered seq is N
    * (the offset is the last-delivered watermark, hence N-1).
    * `startingSeq=latest`: tail-follow from the high-water mark at
    * stream start — history is skipped, every commit after it streams.
    * Checkpointed restarts never consult this (Spark only calls
    * initialOffset when no offset log exists), matching Kafka. */
  override def initialOffset(): Offset = LongOffset(startingSeq match {
    case None => -1L
    case Some("latest") => storeOpt.map(_.manifest.maxSeq).getOrElse(-1L)
    case Some(s) => s.toLong - 1
  })
  override def deserializeOffset(json: String): Offset = LongOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def getDefaultReadLimit: ReadLimit =
    maxSeqsPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "journal stream is admission-controlled; latestOffset(start, limit) applies")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = seqOf(start)
    storeOpt.map(_.manifest.maxSeq).filter(_ >= 0L) match {
      case None => null // no store / no data yet → no batch
      case Some(avail0) =>
        // an AvailableNow drain never reads past the end pinned at
        // prepare time, no matter what lands mid-run
        val avail = availableNowEnd.fold(avail0)(avail0.min)
        if (avail < 0L) null
        else LongOffset(
          maxSeqsPerTrigger.fold(avail)(cap => avail.min(lo + cap)).max(lo))
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = seqOf(start)
    val hi = seqOf(end)
    if (hi <= lo) return Array.empty
    val store = storeOpt.getOrElse(throw new IllegalStateException(
      s"journal store at $storePath vanished mid-stream"))
    val m = store.manifest
    // one partition per overlapping file: epoch directory bounds, then
    // the per-file seq range (a file with no stats is kept — the row
    // filter in the reader makes pruning exact-or-conservative)
    // Deletion vectors visible in THIS batch's manifest snapshot are
    // subtracted inside the readers (each partition loads only its own
    // file's positions from the tiny dv/ parts, executor-side). Offsets
    // stay seq-stable — vectors delete rows, never seqs — so replay of
    // a checkpointed batch under the same manifest is reproducible.
    // Like Delta's CDF over deletes: rows DELIVERED before a vector
    // landed are not retracted; the stream reflects vectors from the
    // batch that first plans over them.
    val dvAbs = m.dvParts.map(p => s"$storePath/dv/$p")
    JournalStreamPartition.tailFiles(m, store.epochSize, lo, hi)
      .zipWithIndex.map { case (f, i) =>
        JournalStreamPartition.of(storePath, f, i, lo, hi, dvAbs)
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // read the canonical+extras data columns of the TABLE schema (fixed
    // at stream start — output schema stability); ns/epoch come from the
    // partition directory values appended by the parquet reader.
    // The factory is built BY a throwaway ParquetScan rather than by
    // hand: createReaderFactory is where Spark installs the parquet
    // read-support class, requested-schema json, timezone/int96 rebase
    // settings etc. on the broadcast hadoop conf — replicating that key
    // list here would silently drift across Spark versions.
    val readDataSchema = StructType(
      tableSchema.filterNot(f => f.name == "ns" || f.name == "epoch"))
    val partitionSchema = StructType.fromDDL("ns STRING, epoch BIGINT")
    val ps = ParquetScan(spark, spark.sessionState.newHadoopConf(),
      JournalV2.fileIndex(spark, s"$storePath/segments", Nil, tableSchema),
      readDataSchema, readDataSchema, partitionSchema,
      Array.empty[org.apache.spark.sql.sources.Filter],
      CaseInsensitiveStringMap.empty())
    new JournalStreamReaderFactory(
      ps.createReaderFactory().asInstanceOf[ParquetPartitionReaderFactory],
      StructType(readDataSchema ++ partitionSchema), tableSchema)
  }

  override def toString: String = s"JournalMicroBatchStream[$storePath]"
}

/** One segment file plus the batch's (lo, hi] seq bounds. `relFile` is
  * the file's manifest-relative name and `dvPaths` the batch snapshot's
  * deletion-vector parts (absolute) — empty when the store carries no
  * vectors.
  *
  * Change-feed mode (`changeType` non-empty): every output row gains a
  * leading `_change_type` literal. `deleteTier = true` INVERTS the
  * vector's role — the partition emits ONLY the rows whose positions
  * appear in `dvPaths` (the window's NEW vectors) MINUS positions
  * already present in `dvBasePaths` (the START version's vectors: a
  * MaxDvParts fold or purge-time consolidation inside the window
  * renames surviving OLD entries into a fresh part, so name-newness
  * alone would re-emit pre-window deletions as spurious retractions),
  * and whose seq is at or below `lo` (rows already delivered; an
  * append+delete inside the window nets out on the insert tier
  * instead). `fullFileDelete = true` retracts EVERY delivered row of
  * the file except positions in `dvBasePaths` — the shape for a file
  * a `delete-dv` commit removed outright (fully dead: its vector
  * entries are stripped at commit, so no position list survives to
  * name its rows; the file's disappearance IS the deletion record). */
private[sources] case class JournalStreamPartition(
    files: FilePartition, lo: Long, hi: Long,
    relFile: String = "", dvPaths: Seq[String] = Nil,
    changeType: String = "", deleteTier: Boolean = false,
    dvBasePaths: Seq[String] = Nil,
    fullFileDelete: Boolean = false) extends InputPartition {
  override def preferredLocations(): Array[String] = files.preferredLocations()
}

private[sources] object JournalStreamPartition {
  /** Files of snapshot `m` that can hold a seq in (lo, hi] (hi > lo):
    * epoch directories, then per-file seq ranges (a file with no stats
    * is kept — the reader's row filter makes pruning
    * exact-or-conservative). */
  def tailFiles(m: JournalStore.Manifest, epochSize: Long,
                lo: Long, hi: Long): Seq[String] =
    SegmentFiles.prune(m, SegmentFiles.Probe(
      ((lo + 1) / epochSize, hi / epochSize), seq = Some((lo + 1, hi))))

  /** A one-file partition over segment `rel`, with the epoch and the
    * decoded ns of its directories as partition values. */
  def of(storePath: String, rel: String, i: Int, lo: Long, hi: Long,
         dvPaths: Seq[String]): JournalStreamPartition = {
    val sp = SegmentFiles.parse(rel)
    val abs = s"$storePath/segments/$rel"
    val pv = new GenericInternalRow(Array[Any](
      UTF8String.fromString(sp.nsValue.orNull), sp.epoch.getOrElse(0L)))
    JournalStreamPartition(
      FilePartition(i, Array(PartitionedFile(pv,
        SparkPath.fromPathString(abs), 0L,
        java.nio.file.Files.size(java.nio.file.Paths.get(abs))))),
      lo, hi, rel, dvPaths)
  }
}

/** Wraps the stock parquet row reader with the (lo, hi] seq filter and a
  * projection from reader order (data columns, then partition columns)
  * to the table surface (canonical, extras, epoch). Both are built on
  * the EXECUTOR inside createReader — codegen'd UnsafeProjection, no
  * driver state. */
private[sources] class JournalStreamReaderFactory(
    parquet: ParquetPartitionReaderFactory, srcSchema: StructType,
    tableSchema: StructType) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val jp = partition.asInstanceOf[JournalStreamPartition]
    val inner = parquet.createReader(jp.files)
    val seqIdx = srcSchema.fieldIndex("seq")
    val tableRefs = tableSchema.map(f =>
      BoundReference(srcSchema.fieldIndex(f.name), f.dataType, nullable = true))
    // change-feed rows lead with the `_change_type` literal (the same
    // shape as JournalStore.changes); plain streams project the table
    // surface unchanged
    val proj = UnsafeProjection.create(
      if (jp.changeType.isEmpty) tableRefs
      else org.apache.spark.sql.catalyst.expressions.Literal(
        UTF8String.fromString(jp.changeType),
        org.apache.spark.sql.types.StringType) +: tableRefs)
    // Deletion-vector subtraction by ROW ORDINAL: the partition covers
    // its whole file (offset 0, full length) and the inner factory was
    // built with ZERO pushed filters, so the stock parquet reader yields
    // every row in file order — the running ordinal IS
    // `_metadata.row_index`, the identity the vectors are keyed by.
    // Positions load once per partition from the tiny dv/ parts
    // (executor-side parquet-java read, filtered to this file).
    // The delete tier reads the SAME positions with the opposite
    // polarity: emit exactly the vectored rows (already-delivered seqs
    // only) as retractions.
    // `deleted` is the position set the row test keys on. Plain stream /
    // insert tier: the END version's vectors (subtract). Position-named
    // delete tier: window-new positions = current parts minus the START
    // version's (a MaxDvParts fold renames pre-window entries into a
    // fresh part — without the base subtraction those would re-emit as
    // spurious retractions). Full-file delete tier: `dvPaths` is the
    // EXCLUSION set (start-version vectors + window parts whose
    // positions the position tier already retracts); every other
    // delivered row of the vanished file retracts.
    val deleted: Array[Long] = {
      val cur =
        if (jp.dvPaths.isEmpty) Array.emptyLongArray
        else graft.journal.JournalStore.dvPositionsFor(jp.relFile, jp.dvPaths)
      if (!jp.deleteTier || jp.fullFileDelete ||
          jp.dvBasePaths.isEmpty || cur.isEmpty) cur
      else {
        val base = graft.journal.JournalStore
          .dvPositionsFor(jp.relFile, jp.dvBasePaths)
        cur.filter(p => java.util.Arrays.binarySearch(base, p) < 0)
      }
    }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      private var pos = -1L
      override def next(): Boolean = {
        while (inner.next()) {
          pos += 1
          val r = inner.get()
          val s = r.getLong(seqIdx)
          val hit = java.util.Arrays.binarySearch(deleted, pos) >= 0
          val wanted =
            if (jp.fullFileDelete) !hit && s <= jp.lo
            else if (jp.deleteTier) hit && s <= jp.lo
            else s > jp.lo && s <= jp.hi && !hit
          if (wanted) { current = proj(r); return true }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = inner.close()
    }
  }
}

/** Composite change-feed offset: the delivered seq high-water mark plus
  * the manifest version whose deletion vectors have been reflected.
  * Two axes because the feed has two tiers — rows arrive by seq,
  * retractions arrive by manifest commit. `snap = true` marks a
  * snapshot-mode start whose initial snapshot batch has not been
  * delivered yet (the flag clears on the snapshot batch's end offset;
  * it is serialized only when set, so tail-mode offset logs are
  * byte-identical to the pre-snapshot format). */
private[sources] case class JournalChangeOffset(seq: Long, ver: Long,
                                                snap: Boolean = false)
    extends Offset {
  override def json: String =
    if (snap) s"""{"seq":$seq,"ver":$ver,"snap":true}"""
    else s"""{"seq":$seq,"ver":$ver}"""
}

private[sources] object JournalChangeOffset {
  private val Re = """\{"seq":(-?\d+),"ver":(-?\d+)\}""".r
  private val SnapRe = """\{"seq":(-?\d+),"ver":(-?\d+),"snap":true\}""".r
  def parse(json: String): JournalChangeOffset = json.trim match {
    case Re(s, v) => JournalChangeOffset(s.toLong, v.toLong)
    case SnapRe(s, v) => JournalChangeOffset(s.toLong, v.toLong, snap = true)
    case other => throw new IllegalArgumentException(
      s"not a journal change-feed offset: $other")
  }
  def of(o: Offset): JournalChangeOffset = o match {
    case c: JournalChangeOffset => c
    case other => parse(other.json)
  }
}

/** Streaming CHANGE FEED over a journal store
  * (`spark.readStream.format("journal").option("changeFeed", "true")`) —
  * the streaming twin of [[graft.journal.JournalStore.changes]], with
  * the same NET semantics PER MICRO-BATCH: each batch emits
  *   - `_change_type = insert`: rows with seq in (lo, hi], minus rows
  *     already vector-dead at the batch's end version (a row appended
  *     AND deleted between two triggers nets to nothing), and
  *   - `_change_type = delete`: retractions for previously-DELIVERED
  *     rows (seq <= lo) named by deletion-vector parts that appeared in
  *     the offset's version window.
  * Applying every batch in order to a downstream copy reproduces the
  * store's live state — the CDC-consumer contract.
  *
  * Both offset axes are REPLAY-STABLE: segments and dv parts are
  * immutable and the manifests at both versions pin exactly which
  * files/parts each tier reads, so a checkpointed batch re-plans to the
  * byte (versions must still be retained — the Delta CDF retention
  * caveat, surfaced as a precise error, never a silent skip).
  *
  * Scale shape: the insert tier is the ordinary seq-pruned segment
  * tail; the delete tier reads ONLY the window's new dv parts (O(rows
  * deleted in the window)) joined executor-side to just the files they
  * name. Nothing store-sized is ever scanned. A window crossed by a
  * REWRITE of v1's files or a vector-part consolidation (deleteWhere
  * rewrite, restore, compaction, purgeDeletes, part folding) cannot be
  * derived from file identity and fails with a precise error telling
  * the consumer to restart from a snapshot — run physical maintenance
  * on a coarser cadence than the feed's triggers, or resync after.
  *
  * SNAPSHOT START (`startMode=snapshot` — the Delta CDF recovery
  * idiom, and what "restart from a fresh snapshot" in the refusals
  * above concretely means): a fresh query's FIRST batch emits the
  * store's CURRENT live state — every surviving row, net of deletion
  * vectors — as `_change_type = insert` at one pinned (maxSeq,
  * version) offset, then tails normally from there. The snapshot is
  * version-pinned in the offset log, so a recovered first batch
  * replans to the byte, and it deliberately ignores
  * `maxSeqsPerTrigger` (one atomic snapshot batch, like Delta's
  * initial CDF snapshot — admission control governs the tail, not the
  * bootstrap). The downstream copy must be rebuilt from empty: a feed
  * killed by a deleteWhere rewrite lost rows that were never
  * retracted, so folding the new feed ONTO the old copy would leak
  * them — discard the copy, start a fresh checkpoint in snapshot
  * mode, and folding the new feed alone reproduces live state. */
private[sources] class JournalChangeFeedStream(
    spark: SparkSession, storePath: String, tableSchema: StructType,
    maxSeqsPerTrigger: Option[Long],
    startingSeq: Option[String] = None,
    startMode: Option[String] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  maxSeqsPerTrigger.foreach(n => require(n > 0,
    s"maxSeqsPerTrigger must be positive, got $n"))
  startMode.foreach(m => require(m == "tail" || m == "snapshot",
    s"""startMode must be "tail" or "snapshot", got "$m""""))

  /** Trigger.AvailableNow on the CHANGE FEED pins BOTH offset axes at
    * prepare time — the drain delivers inserts up to the pinned seq and
    * retractions up to the pinned version, then stops; commits landing
    * mid-drain wait for the next run. The pinned version must stay
    * within manifest retention for the drain's duration (violations
    * fail with the stepManifests retention error, loudly). */
  @volatile private var availableNowEnd: Option[(Long, Long)] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(storeOpt
      .map(st => (st.manifest.maxSeq, st.manifest.version))
      .getOrElse((-1L, -1L)))
  override def reportLatestOffset(): Offset =
    storeOpt.map(st =>
      JournalChangeOffset(st.manifest.maxSeq, st.manifest.version)).orNull
  require(!(startMode.contains("snapshot") && startingSeq.isDefined),
    "startMode=snapshot pins the start to the store's current state; " +
      "it cannot be combined with startingSeq")
  private def snapshotStart: Boolean = startMode.contains("snapshot")

  private def storeOpt: Option[JournalStore] =
    if (JournalStore.exists(storePath)) Some(JournalStore.open(spark, storePath))
    else None

  private def manifestAt(store: JournalStore, ver: Long) =
    if (ver < 0L) JournalStore.Manifest(store.epochSize, -1L, Nil)
    else store.openAt(ver).manifest

  override def initialOffset(): Offset = {
    val st = storeOpt
    val ver = st.map(_.manifest.version).getOrElse(-1L)
    // snapshot mode: pin the snapshot's version NOW (offset-logged, so
    // the bootstrap survives recovery); the seq axis stays at -1 until
    // the snapshot batch delivers. A store that does not exist yet pins
    // when it appears (latestOffset).
    if (snapshotStart) JournalChangeOffset(-1L, ver, snap = true)
    else JournalChangeOffset(startingSeq match {
      case None => -1L
      case Some("latest") => st.map(_.manifest.maxSeq).getOrElse(-1L)
      case Some(s) => s.toLong - 1
    }, ver)
  }
  override def deserializeOffset(json: String): Offset =
    JournalChangeOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def getDefaultReadLimit: ReadLimit =
    maxSeqsPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "journal change feed is admission-controlled; latestOffset(start, limit) applies")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val o = JournalChangeOffset.of(start)
    storeOpt match {
      case None => null
      case Some(st) if o.snap =>
        // the snapshot batch's end offset: the pinned version's high
        // water on both axes, snap cleared. Deliberately UNCAPPED by
        // maxSeqsPerTrigger — the snapshot is one atomic batch (Delta's
        // initial CDF snapshot); the tail that follows is throttled.
        val pinVer =
          if (o.ver >= 0L) o.ver
          else availableNowEnd.map(_._2).getOrElse(st.manifest.version)
        if (pinVer < 0L) null // store appeared after an AvailableNow pin
        else JournalChangeOffset(manifestAt(st, pinVer).maxSeq, pinVer)
      case Some(st) =>
        // an AvailableNow drain pages toward the manifest pinned at
        // prepare time, never the live head
        val m = availableNowEnd match {
          case Some((_, pv)) if pv >= 0L => manifestAt(st, pv)
          case Some(_) => return null // nothing existed at pin time
          case None => st.manifest
        }
        if (m.maxSeq < 0L && o.ver < 0L) null
        else {
          val seqHi = maxSeqsPerTrigger
            .fold(m.maxSeq)(cap => m.maxSeq.min(o.seq + cap)).max(o.seq)
          // the version axis advances EVERY batch, even when the seq
          // axis is admission-throttled and still catching up. Gating
          // it on seq catch-up starves delete delivery under sustained
          // ingest (ver freezes at its initial value) and, once
          // manifest retention rotates past the frozen ver, kills the
          // stream permanently. Eager advance is safe: a vector naming
          // a not-yet-delivered row (seq > lo) is DEFERRED by the
          // reader's `s <= lo` delete-tier guard, and when that seq
          // window is finally delivered the insert tier subtracts the
          // END version's vectors — the row nets out, never having
          // been inserted or retracted.
          val verHi = m.version.max(o.ver)
          JournalChangeOffset(seqHi, if (verHi < 0L) m.version else verHi)
        }
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val o1 = JournalChangeOffset.of(start)
    val o2 = JournalChangeOffset.of(end)
    val store = storeOpt.getOrElse(throw new IllegalStateException(
      s"journal store at $storePath vanished mid-stream"))
    val m1 = manifestAt(store, o1.ver)
    val m2 = manifestAt(store, o2.ver)
    // snapshot batch (start.snap): the pinned END version's live state
    // as inserts — lo = -1 replays every seq, the end manifest's
    // vectors subtract dead rows, and there is NO delete tier and NO
    // version walk (nothing was delivered before this batch, so there
    // is nothing to retract, and pre-snapshot history — including
    // deleteWhere rewrites that would poison a version walk — is
    // irrelevant by construction). Everything derives from o2, which
    // the offset log pins before execution: replay-stable.
    val lo = if (o1.snap) -1L else o1.seq
    val hi = o2.seq
    def partFor(f: String, i: Int, dvAbs: Seq[String], ct: String,
                del: Boolean,
                dvBase: Seq[String] = Nil): JournalStreamPartition =
      JournalStreamPartition.of(storePath, f, i, lo, hi, dvAbs)
        .copy(changeType = ct, deleteTier = del, dvBasePaths = dvBase)
    // ---- insert tier: the (lo, hi] tail, dead rows at the END version
    // subtracted (same pruning as the plain stream)
    val dvAbs2 = m2.dvParts.map(p => s"$storePath/dv/$p")
    val inserts = if (hi <= lo) Seq.empty[JournalStreamPartition]
      else JournalStreamPartition.tailFiles(m2, store.epochSize, lo, hi)
        .map(f => partFor(f, 0, dvAbs2, "insert", del = false))
    // ---- delete tier: retractions of already-delivered rows. The
    // window's manifests are WALKED step by step (all retained; vacuum
    // keeps every segment file and dv part a retained version
    // references, so everything named below stays readable even after
    // a later step folded, purged or compacted it away). The union
    // over STEPS — not the endpoint diff — catches a vector that
    // appeared and was consolidated or purged inside one window.
    val stepManifests =
      if (o1.snap) Seq.empty[JournalStore.Manifest]
      else try ((o1.ver.max(0L) + (if (o1.ver < 0L) 0L else 1L)) to o2.ver)
        .map(v => manifestAt(store, v))
      catch { case e: IllegalArgumentException =>
        throw new IllegalStateException(
          s"journal change feed at $storePath: version window " +
            s"(${o1.ver}, ${o2.ver}] is no longer fully retained — the " +
            "feed was idle past the store's retention window. Restart " +
            s"from a fresh snapshot (startMode=snapshot on a new " +
            s"checkpoint). (${e.getMessage})", e)
      }
    // a deleteWhere REWRITE or a RESTORE loses rows without leaving a
    // vector — undeliverable as change events from file identity
    val rowLosing = stepManifests.map(_.op)
      .filter(op => op == "delete" || op == "restore").distinct
    if (rowLosing.nonEmpty) throw new IllegalStateException(
      s"journal change feed at $storePath: versions (${o1.ver}, " +
        s"${o2.ver}] contain ${rowLosing.mkString("/")} commits, whose " +
        "physical maintenance removes rows without deletion vectors — " +
        "the window's deletions cannot be derived. Rebuild the " +
        "downstream copy from a fresh feed with startMode=snapshot on " +
        "a new checkpoint (vector deletes, compaction and purge are " +
        "all fine; deleteWhere-rewrite and restore are not).")
    val newParts = stepManifests.flatMap(_.dvParts).distinct
      .filterNot(m1.dvParts.contains)
    val baseAbs = m1.dvParts.map(p => s"$storePath/dv/$p")
    val newAbs = newParts.map(p => s"$storePath/dv/$p")
    val deletes = if (newParts.isEmpty) Seq.empty[JournalStreamPartition]
      else {
        // Candidate files come from the parts themselves, NOT filtered
        // to m1.files: an in-window compact()/purgeDeletes() writes NEW
        // files holding already-delivered seqs (<= lo), and a later
        // deleteWhereDv names them — their retractions must flow.
        // Append-born files need no filter either: all their rows have
        // seq > lo, which the reader's `s <= lo` delete-tier guard
        // excludes. Part-name newness is corrected per POSITION in the
        // reader (dvBasePaths): a MaxDvParts fold inside the window
        // renames pre-window entries into a fresh part, and those
        // positions must not re-emit as spurious retractions.
        JournalStore.dvFileNames(newAbs).toSeq.sorted
          .map(f => partFor(f, 0, newAbs, "delete", del = true,
            dvBase = baseAbs))
      }
    // ---- full-file delete tier: a `delete-dv` commit whose predicate
    // killed a file OUTRIGHT drops it from the manifest and STRIPS its
    // vector entries (dead weight on every future read) — so no
    // position list survives to name its rows. The file's
    // disappearance is the deletion record: retract every delivered
    // row of it, excluding positions the start version had already
    // vectored (retracted in an earlier window) and positions in the
    // window's parts (the position tier above retracts those). Only
    // delete-dv removals qualify — compact/purge REPLACE files
    // (rewrites, no row loss beyond already-retracted vectors).
    val dvKilledFiles = stepManifests
      .foldLeft((m1.files.toSet, Set.empty[String])) {
        case ((prevFiles, acc), st) =>
          val removed =
            if (st.op == "delete-dv") prevFiles -- st.files.toSet
            else Set.empty[String]
          (st.files.toSet, acc ++ removed)
      }._2
    val fullDeletes = dvKilledFiles.toSeq.sorted.map(f =>
      partFor(f, 0, baseAbs ++ newAbs, "delete", del = true)
        .copy(fullFileDelete = true))
    (inserts ++ deletes ++ fullDeletes).zipWithIndex.map { case (p, i) =>
      p.copy(files = FilePartition(i, p.files.files))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val dataSurface = StructType(tableSchema.filterNot(_.name == "_change_type"))
    val readDataSchema = StructType(
      dataSurface.filterNot(f => f.name == "ns" || f.name == "epoch"))
    val partitionSchema = StructType.fromDDL("ns STRING, epoch BIGINT")
    val ps = ParquetScan(spark, spark.sessionState.newHadoopConf(),
      JournalV2.fileIndex(spark, s"$storePath/segments", Nil, dataSurface),
      readDataSchema, readDataSchema, partitionSchema,
      Array.empty[org.apache.spark.sql.sources.Filter],
      CaseInsensitiveStringMap.empty())
    new JournalStreamReaderFactory(
      ps.createReaderFactory().asInstanceOf[ParquetPartitionReaderFactory],
      StructType(readDataSchema ++ partitionSchema), dataSurface)
  }

  override def toString: String = s"JournalChangeFeedStream[$storePath]"
}
