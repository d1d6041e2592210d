package graft.journal

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SegmentFiles.{Probe, epochOf}

/** Native append-only journal store — marasa's design (append-only log,
  * monotonic seqnos, namespaces, point-in-time reads, segment files,
  * checkpoints; SURVEY.md §0.1/§1) transposed to a distributed setting:
  *
  *   store/
  *     manifest.json                  -- atomically swapped (tmp + rename)
  *     segments/epoch=K/part-….parquet   -- epoch = seq div epochSize
  *     checkpoints/seq=S/part-….parquet  -- compacted (ns,ukey)→latest state
  *
  * No Delta/Iceberg jars exist offline (SURVEY §0.1), so the log layer is
  * parquet segments + a JSON manifest. Readers see only data the manifest
  * references at the moment they open it (snapshot isolation for a single
  * writer — the same single-writer model as the reference).
  *
  * 100 TB design: `stateAt(seq)` reads ONE checkpoint (already compacted,
  * ≤ |keys| rows) plus only the segments in (ckpt, seq] — epoch partition
  * pruning keeps the tail replay O(epochSize), independent of total
  * journal length, exactly marasa's checkpoint+tail-replay bound. The
  * arg-max combine is a single partial-aggregated shuffle on (ns, ukey).
  */
class JournalStore private (val spark: SparkSession, val path: String,
                            val epochSize: Long,
                            pinnedVersion: Option[Long] = None) {
  import JournalStore._

  private def segDir = s"$path/segments"

  /** Append-time auto-compaction policy: when > 0, any (epoch, ns)
    * directory that exceeds this many live files after an append is
    * compacted (clustered by key) in the same call — a high-frequency
    * streaming sink writes one file per directory per micro-batch, so
    * without a policy the segment tree fragments until someone calls
    * compact() by hand. 0 (the default) disables: batch callers with a
    * few large appends never pay a rewrite they don't need. Runtime
    * policy, not persisted state — each writer chooses its own. */
  private var autoCompactFiles: Int = 0
  def withAutoCompact(maxFilesPerDir: Int): this.type = {
    require(maxFilesPerDir >= 0,
      s"autoCompactFiles must be >= 0, got $maxFilesPerDir")
    autoCompactFiles = maxFilesPerDir
    this
  }

  /** Opt-in AUTO-MAINTENANCE cadence for long-running writers (the
    * streaming sinks' `autoMaintainBatches` option): after every
    * append whose batch id is a multiple of N (batch-id keyed, so the
    * cadence survives sink restarts and per-batch handles), run
    * [[maintain]] — a declared `retention.olderThan` policy then
    * physically sheds expired rows with NO `CALL system.maintain`.
    * 0 (the default) disables. A policy-less store pays one manifest
    * meta lookup per cadence hit and nothing else; a policy sweep with
    * nothing expired is pruned to a metadata no-op by deleteWhere's
    * per-file ts ranges. Runtime per-writer policy, like
    * auto-compaction. */
  private var autoMaintainBatches: Int = 0
  def withAutoMaintain(everyNBatches: Int): this.type = {
    require(everyNBatches >= 0,
      s"autoMaintainBatches must be >= 0, got $everyNBatches")
    autoMaintainBatches = everyNBatches
    this
  }

  /** Parquet codec for THIS writer's segment/checkpoint writes ("" =
    * session default, normally snappy). At 100 TB the codec is a real
    * cost lever — zstd typically shrinks text-heavy payloads ~30% over
    * snappy for a modest CPU tax — and it is a per-writer policy, not
    * table state: files of different codecs coexist freely in one
    * store (parquet self-describes per column chunk), so a fleet can
    * migrate codec by just compacting. */
  private var segmentCodec: String = ""
  def withCompression(codec: String): this.type = {
    segmentCodec = codec
    this
  }

  /** Per-writer hot-directory split bound (see
    * [[JournalStore.AppendWriterTargetRows]]): an append directory whose
    * batch rows exceed this writes through ceil(rows / bound) tasks
    * instead of one. Runtime writer policy like the codec — callers
    * with unusually wide or narrow rows tune it to hold the §6 file
    * size band. */
  private var maxFileRows: Long = JournalStore.AppendWriterTargetRows
  def withMaxFileRows(n: Long): this.type = {
    require(n > 0, s"maxFileRows must be > 0, got $n")
    maxFileRows = n
    this
  }
  private def writerOpts[A](w: org.apache.spark.sql.DataFrameWriter[A])
      : org.apache.spark.sql.DataFrameWriter[A] =
    if (segmentCodec.isEmpty) w else w.option("compression", segmentCodec)

  /** Overlap INDEPENDENT Spark actions (guide §2.6): store ops run
    * several single-pass jobs over the same pinned batch — the stats
    * aggregate, the key-bloom aggregate, the column-sketch pass, the
    * staged segment write. Each job's tail leaves the cluster idle
    * while the driver plans the next one; submitting the side passes
    * from a helper thread lets their tasks back-fill those gaps (FIFO
    * scheduling gives the first job priority, exactly the back-fill
    * shape). `b` runs on the caller's thread. `a` runs on a thread
    * created here, so it inherits the caller's Spark local properties
    * (job group, scheduler pool, SQL execution id — SparkContext clones
    * them into child threads) and its jobs are cancelled with the
    * caller's group; a shared pool's workers would carry whichever
    * thread first spawned them. The call returns only after BOTH sides
    * finish: `b`'s failure is rethrown once `a` is done, so a retry of
    * the op never overlaps its own predecessor; `a`'s failure
    * propagates after `b` completes. */
  private def overlap[A, B](a: => A)(b: => B): (A, B) = {
    var ra: scala.util.Try[A] = null
    val side = new Thread(() => ra = scala.util.Try(scala.concurrent.blocking(a)),
      "journal-overlap")
    side.setDaemon(true)
    side.start()
    val rb = try b finally side.join()
    (ra.get, rb)
  }

  /** Run `body` over `df`, persisted (MEMORY_AND_DISK) when `pin`, and
    * release it on every exit path: a lost CAS race, a refused batch or
    * a failed job included. */
  private def pinned[A](df: DataFrame, pin: Boolean = true)(body: DataFrame => A): A =
    if (!pin) body(df)
    else {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try body(p) finally p.unpersist()
    }

  /** Read the segment tree. ns is a partition directory — force it back
    * to string (partition type inference would make a numeric-looking
    * namespace an int). A store with no appends yet reads as an empty
    * frame with the canonical schema (superset incl. the facade's skey). */
  private[journal] def readSegments(): org.apache.spark.sql.DataFrame = {
    val m = manifest
    readSegmentsOver(m.files, m.schemaDdl, m.dvParts)
  }

  /** The schema DDL rides in from the SAME manifest snapshot that
    * produced `files`: re-reading `manifest` here for the schema could
    * tear against a concurrent compact+vacuum (file list from commit N,
    * schema from commit N+1), partially defeating the snapshot the
    * callers took on purpose.
    *
    * `dvParts` (same snapshot) are the store's deletion vectors
    * ([[deleteWhereDv]]): rows named by (file, position) are subtracted
    * from every read by an anti-join against the tiny DV table — the
    * Delta deletion-vector read path. The position comes from parquet's
    * `_metadata.row_index` (stable for an immutable file, split-absolute),
    * so no data column participates and the join key never collides.
    * `keepPos = true` keeps the helper columns (`__file`, `__pos`) for
    * callers that need row identity (the DV writer itself); `__file` is
    * the file's [[SegmentFiles.uriName]]. */
  private def readSegmentsOver(files: Seq[String],
                               ddl: String,
                               dvParts: Seq[String] = Nil,
                               keepPos: Boolean = false): org.apache.spark.sql.DataFrame =
    if (files.nonEmpty) {
      // plan against the manifest-pinned schema when the store has one:
      // deterministic under schema evolution (footer sampling picks an
      // arbitrary file's column set) and no per-file schema inference
      val reader = spark.read.option("basePath", segDir)
      val withSchema =
        if (ddl.nonEmpty)
          reader.schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
        else reader
      val raw = withSchema.parquet(files.map(f => s"$segDir/$f"): _*)
        .withColumn("ns", col("ns").cast("string"))
      val needPos = keepPos || dvParts.nonEmpty
      // __file = the path suffix after the LAST '/segments/' — i.e.
      // relative to THIS store's segDir even when the store root itself
      // contains '/segments/'. The relative name can't contain the
      // marker: it is always epoch=N/ns=X/part-*.parquet and
      // partition-path escaping encodes any '/' inside an ns value. It
      // is the URI form deletion vectors key on; callers that match it
      // against manifest names convert through SegmentFiles.fromUri.
      val withPos = if (!needPos) raw else raw
        .withColumn("__file",
          element_at(split(col("_metadata.file_path"), "/segments/"), -1))
        .withColumn("__pos", col("_metadata.row_index"))
      val applied =
        if (dvParts.isEmpty) withPos
        else {
          // DV tables are O(deleted rows since last purge) — normally
          // orders of magnitude below the data, so the anti-join
          // broadcasts and the subtraction costs no shuffle of the
          // corpus. BOUNDED: past 64 MB of vector parts (a store
          // overdue for compaction) the hint is dropped and the join
          // plans by size — an unconditional broadcast of an unbounded
          // side is how executors OOM at scale.
          val dvBytes = dvParts.map { p =>
            try Files.size(Paths.get(dvDir, p)) catch { case _: Exception => 0L }
          }.sum
          val dv0 = readDvTable(dvParts)
          val dv = if (dvBytes < (64L << 20)) broadcast(dv0) else dv0
          withPos.join(dv,
            withPos("__file") === dv("file") && withPos("__pos") === dv("pos"),
            "left_anti")
        }
      if (!needPos || keepPos) applied else applied.drop("__file", "__pos")
    } else
      // schema-only relation: the manifest-pinned schema when the store
      // has one (ns is already pinned STRING there), else the canonical
      // journal surface. No file index is built — resolving expressions
      // against this shape costs O(1) filesystem work.
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          if (ddl.nonEmpty) ddl
          else "seq BIGINT, ns STRING, ukey BIGINT, skey STRING, " +
            "ts TIMESTAMP, payload STRING, val DOUBLE, epoch BIGINT"))

  /** The segment rows of snapshot `m` over the files that can hold rows
    * of `ns` and/or `ukey` inside the epoch range `epochs` (inclusive;
    * [[SegmentFiles.prune]]) — schema-pinned and DV-subtracted from the
    * same snapshot, so Spark is handed a file list the manifest already
    * cut instead of listing the whole store and partition-pruning
    * afterwards. Pruning is IO-only: callers keep their own row filters,
    * so a conservative (kept) file never changes a result. */
  private[journal] def segmentsFor(m: Manifest, ns: Option[String],
                                   ukey: Option[Long],
                                   epochs: (Long, Long) = AllEpochs): DataFrame =
    readSegmentsOver(SegmentFiles.prune(m, Probe.point(ns, ukey, epochs)),
      m.schemaDdl, m.dvParts)

  /** scanUnordered over only the files that can contain (ns, ukey) —
    * what the `journal` source uses when an ns/ukey equality filter is
    * pushed down. Projects the SAME surface as scanUnordered (canonical,
    * then evolved extras, then epoch): the V1 relation's schema comes
    * from scanUnordered, so a pruned swap-in that dropped evolved
    * columns would make buildScan's select of a pushed-down read fail
    * (or silently narrow) on any schema-evolved store. */
  private[graft] def scanUnorderedPruned(ns: Option[String],
                                         ukey: Option[Long]): DataFrame =
    canonicalSurface(segmentsFor(manifest, ns, ukey))
  private def ckptDir(seq: Long) = s"$path/checkpoints/seq=$seq"

  /** Spark's runtime-filter bloom aggregate over xxhash64(ukey), reached
    * through the graft function registry (stock Spark doesn't
    * SQL-register it, and classic Column construction is private[sql]).
    * One bloom per (epoch, ns) group = one per written file, in the SAME
    * stats pass that computes ranges — no extra scan. */
  private def keyBloomAgg: org.apache.spark.sql.Column = {
    graft.expr.GraftFunctions.register(spark)
    expr("key_bloom_agg(xxhash64(CAST(ukey AS BIGINT)), " +
      s"${JournalStore.BloomItems}L, ${JournalStore.BloomBits}L)")
  }

  def manifest: Manifest = pinnedVersion match {
    case Some(v) => readManifestVersion(path, v).getOrElse(
      throw new IllegalArgumentException(
        s"journal store at $path retains no manifest version $v"))
    case None => readManifest(path).getOrElse(Manifest(epochSize, -1L, Nil))
  }

  /** A read-only view of this store frozen at manifest version `v` —
    * every read (scan, stateAt, history, segmentStats) resolves against
    * that committed snapshot's file set and checkpoints, regardless of
    * appends/compactions that landed later (marasa's read-at-version,
    * Delta-style). Versions are retained for the last
    * [[JournalStore.RetainedVersions]] commits; vacuum() keeps every file
    * any retained version references, so a pinned reader stays valid
    * across compact()+vacuum(). Writes through a pinned view are refused.
    */
  def openAt(version: Long): JournalStore = {
    require(readManifestVersion(path, version).isDefined,
      s"journal store at $path retains no manifest version $version " +
        s"(current: ${manifest.version}, retained: last $RetainedVersions)")
    new JournalStore(spark, path, epochSize, Some(version))
  }

  /** Committed manifest versions still retained on disk, ascending. */
  def versions(): Seq[Long] = listVersionFiles(path).map(_._1)

  /** The newest retained version whose commit wall-clock is <= `tsMs` —
    * the TIMESTAMP AS OF resolution rule (Delta-style: "the table as it
    * was at that moment"). Versions committed by pre-upgrade writers
    * carry commitTsMs = 0 and so are always eligible. Throws when every
    * retained commit is newer than `tsMs` (the asked-for moment predates
    * the retention window — answering with a newer snapshot would be
    * silently wrong). */
  def versionAsOf(tsMs: Long): Long = {
    val eligible = listVersionFiles(path).flatMap { case (v, _) =>
      readManifestVersion(path, v).collect {
        case m if m.commitTsMs <= tsMs => v
      }
    }
    if (eligible.isEmpty) throw new IllegalArgumentException(
      s"journal store at $path retains no version committed at or before " +
        s"epoch-ms $tsMs (retained: ${versions().mkString(", ")}; " +
        "older versions may have been vacuumed)")
    eligible.max
  }

  /** NET row-level change feed between two retained manifest versions —
    * the downstream-sync primitive (Delta's CHANGE DATA FEED, with one
    * deliberate difference: NET semantics). Output = the canonical
    * journal surface plus `_change_type` ∈ {insert, delete}, where
    *   insert = row visible at `toVersion` but not at `fromVersion`
    *   delete = row visible at `fromVersion` but not at `toVersion`
    * so applying the feed to the v1 snapshot reproduces the v2 snapshot
    * exactly (the invariant the spec pins), and a row appended AND
    * deleted inside the window nets to nothing. Per-commit replay (what
    * Delta emits) needs write-time change files; net diff needs only
    * the two retained manifests — the right trade for a sync consumer,
    * which wants idempotent apply, not history forensics.
    *
    * Cost at 100 TB — two tiers, picked automatically:
    *   - COMMON window (appends + deletion-vector deletes only, i.e.
    *     v1's files all survive into v2): inserts are a seq-range-
    *     pruned scan of only the files holding seqs > v1.maxSeq
    *     (per-file stats), and deletes are the NEW dv parts (the
    *     window's vectors, O(deleted rows)) joined back to just the
    *     files they name — nothing store-sized is touched.
    *   - MAINTENANCE crossed the window (deleteWhere rewrite, restore,
    *     compaction): file identity is gone, so the diff falls back to
    *     an exact snapshot set-difference on the canonical columns
    *     (null-safe `exceptAll`, both sides seq-bounded) — two
    *     snapshot scans, correct under ANY history including a restore
    *     that re-used seqs with different content.
    * Both versions must still be retained (same contract as openAt). */
  def changes(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"changes: fromVersion $fromVersion > toVersion $toVersion")
    def mAt(v: Long) = readManifestVersion(path, v).getOrElse(
      throw new IllegalArgumentException(
        s"journal store at $path retains no manifest version $v " +
          s"(retained: ${versions().mkString(", ")})"))
    val m1 = mAt(fromVersion)
    val m2 = mAt(toVersion)
    val hi1 = m1.maxSeq
    val canonicalCols = Seq("seq", "ns", "ukey", "ts", "payload", "val")
    def surface(df: DataFrame) =
      df.select(canonicalCols.map(col): _*)
    // inserts: alive at v2 beyond v1's high-water; file-stat pruning
    // bounds the scan to the window's own files
    val insFiles = SegmentFiles.prune(m2, Probe(seq = Some((hi1 + 1, Long.MaxValue))))
    val inserts = surface(
        readSegmentsOver(insFiles, m2.schemaDdl, m2.dvParts))
      .where(col("seq") > hi1)
      .withColumn("_change_type", lit("insert"))
    val cheapWindow = m1.files.forall(m2.files.contains)
    val changed =
      if (cheapWindow) {
        val newParts = m2.dvParts.filterNot(m1.dvParts.contains)
        if (newParts.isEmpty) inserts
        else {
          // files named by the window's vectors; the name list is
          // manifest-sized driver state, same order as m1.files itself
          val dv0 = readDvTable(newParts)
          val touched = dv0.select("file").distinct()
            .collect().map(r => SegmentFiles.fromUri(r.getString(0))).toSet
          val delFiles = m1.files.filter(touched.contains)
          val dvBytes = newParts.map { p =>
            try Files.size(Paths.get(dvDir, p)) catch { case _: Exception => 0L }
          }.sum
          val dv = if (dvBytes < (64L << 20)) broadcast(dv0) else dv0
          // v1's OWN vectors are applied to the segment read (positions
          // are assigned from _metadata.row_index BEFORE the dv
          // anti-join, so the semi-join keys stay file ordinals): a
          // MaxDvParts fold inside the window renames surviving OLD
          // entries into a fresh part — "new" by name, but carrying
          // pre-fromVersion deletions. Without the v1 subtraction those
          // already-dead rows would match the semi-join and surface as
          // spurious deletes, violating the invariant that delete =
          // visible at v1 and not at v2.
          val seg = readSegmentsOver(delFiles, m1.schemaDdl,
            dvParts = m1.dvParts, keepPos = true)
          val deletes = surface(seg.join(dv,
              seg("__file") === dv("file") && seg("__pos") === dv("pos"),
              "left_semi"))
            .where(col("seq") <= hi1) // in-window insert+delete nets out
            .withColumn("_change_type", lit("delete"))
          inserts.unionByName(deletes)
        }
      } else {
        // exact fallback: null-safe multiset difference per direction.
        // seq <= hi1 bounds both sides — rows above hi1 are the insert
        // tier's job; re-inserts (e.g. a restore un-deleting rows, or
        // re-appended seqs with different content) surface as inserts.
        val v1 = surface(readSegmentsOver(m1.files, m1.schemaDdl, m1.dvParts))
          .where(col("seq") <= hi1)
        val v2 = surface(readSegmentsOver(m2.files, m2.schemaDdl, m2.dvParts))
          .where(col("seq") <= hi1)
        inserts
          .unionByName(v2.exceptAll(v1).withColumn("_change_type", lit("insert")))
          .unionByName(v1.exceptAll(v2).withColumn("_change_type", lit("delete")))
      }
    changed.select((col("_change_type") +: canonicalCols.map(col)): _*)
  }

  /** Metadata-only column DROP — the inverse of append's add-column
    * evolution and the Delta column-mapping idea in its simplest form:
    * the column leaves the manifest's pinned DDL, so every reader
    * (which plans against that DDL) stops seeing it instantly, with
    * ZERO data rewritten — the bytes linger inside existing segment
    * files until compaction naturally rewrites them through the
    * narrowed schema. Canonical journal columns (seq/ns/ukey/ts/
    * payload/val/epoch) are structural and refuse to drop.
    *
    * Re-adding the name is REFUSED until the lapsed bytes are gone:
    * parquet resolves columns by NAME, so an append that re-introduced
    * a dropped column would make every un-compacted pre-drop file
    * RESURFACE its pre-drop values under the new column — the
    * data-resurrection/PII hazard for which Delta refuses DROP COLUMN
    * without column mapping. The manifest records the lapsed name in
    * `droppedCols`; append() rejects a batch carrying it, and a
    * compact() that rewrites EVERY live file (the rewrite plans
    * against the narrowed DDL, physically forgetting the bytes) clears
    * the list and re-opens the name for ordinary evolution. */
  def dropColumn(name: String): Unit =
    alterSchema(Seq(JournalStore.DropCol(name, ifExists = false)))

  /** DDL STATEMENT ATOMICITY (Delta applies table changes in one
    * transaction): every change in `changes` validates against the SAME
    * manifest snapshot and the combined schema/properties delta lands
    * as ONE manifest commit under the CAS retry — a failure anywhere in
    * the list (e.g. `ADD COLUMNS (a INT, <dropped-name> DOUBLE)` where
    * the second name is refused) leaves the store byte-for-byte
    * untouched, never with the first half durably applied. Changes
    * apply in statement order against the evolving snapshot, so ADD
    * then DROP of the same name inside one statement behaves like the
    * sequential calls would. [[JournalStore.DropCol]] carries SQL's
    * IF EXISTS (missing column = validated no-op when set). */
  def alterSchema(changes: Seq[JournalStore.SchemaChange]): Unit = {
    requireWritable()
    if (changes.isEmpty) return
    val canonical = Set("seq", "ns", "ukey", "ts", "payload", "val", "epoch")
    retryOnLostRace {
      val m = manifest
      var st: Option[org.apache.spark.sql.types.StructType] =
        if (m.schemaDdl.isEmpty) None
        else Some(org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl))
      var dropped = m.droppedCols
      var meta = m.meta
      def pinned() = st.getOrElse(
        throw new IllegalArgumentException("store has no pinned schema yet"))
      changes.foreach {
        case JournalStore.AddCol(name, dt) =>
          val s = pinned()
          require(!s.fieldNames.exists(_.equalsIgnoreCase(name)),
            s"column '$name' already exists in store schema")
          require(!dropped.exists(_.equalsIgnoreCase(name)),
            s"column '$name' was DROPPED and its pre-drop bytes still live " +
              "in un-compacted segment files — compact() the store first " +
              "(see dropColumn), or use a different name")
          st = Some(org.apache.spark.sql.types.StructType(
            s :+ org.apache.spark.sql.types.StructField(name, dt,
              nullable = true)))
        case JournalStore.DropCol(name, ifExists) =>
          require(!canonical.contains(name.toLowerCase),
            s"cannot drop structural journal column '$name'")
          val s = pinned()
          if (!s.fieldNames.contains(name)) {
            if (!ifExists) throw new IllegalArgumentException(
              s"no column '$name' in store schema " +
                s"${s.fieldNames.mkString(", ")} (use IF EXISTS to no-op)")
          } else {
            // a CHECK constraint referencing the column would go
            // un-evaluable (every later append fails analysis) — Delta
            // refuses this too
            val blocking = meta.collect {
              case (k, v) if k.startsWith(ConstraintPrefix) &&
                spark.sessionState.sqlParser.parseExpression(v).collect {
                  case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                    a.nameParts.head.toLowerCase
                }.contains(name.toLowerCase) => k.stripPrefix(ConstraintPrefix)
            }
            require(blocking.isEmpty,
              s"cannot drop column '$name': referenced by CHECK constraint(s) " +
                s"${blocking.mkString(", ")}; dropConstraint first")
            st = Some(org.apache.spark.sql.types.StructType(
              s.filterNot(_.name == name)))
            dropped = (dropped :+ name).distinct
          }
        case JournalStore.SetProp(k, v) =>
          JournalStore.validateProperty(k, v)
          meta = meta + (k -> v)
        case JournalStore.UnsetProp(k)  => meta = meta - k
        case JournalStore.SetDefault(name, sqlTxt) =>
          require(!Seq("seq", "epoch").contains(name.toLowerCase),
            s"'$name' is engine-assigned; it cannot carry a DEFAULT")
          val s = pinned()
          val field = s.find(_.name == name).getOrElse(
            throw new IllegalArgumentException(
              s"cannot set DEFAULT on unknown column '$name' " +
                s"(schema: ${s.fieldNames.mkString(", ")})"))
          JournalStore.validateColumnDefault(spark, name,
            field.dataType, sqlTxt)
          meta = meta + (JournalStore.DefaultPrefix + name -> sqlTxt)
        case JournalStore.DropDefault(name) =>
          meta = meta - (JournalStore.DefaultPrefix + name)
      }
      // homogeneous statements keep their specific op name in
      // commitHistory (drop-column/add-column/set-meta/unset-meta);
      // mixed change lists record the one combined commit as "alter"
      val op = changes.map {
        case _: JournalStore.AddCol => "add-column"
        case _: JournalStore.DropCol => "drop-column"
        case _: JournalStore.SetProp => "set-meta"
        case _: JournalStore.UnsetProp => "unset-meta"
        case _: JournalStore.SetDefault | _: JournalStore.DropDefault =>
          "set-default"
      }.distinct match {
        case Seq(one) => one
        case _ => "alter"
      }
      val newDdl = st.map(_.toDDL).getOrElse(m.schemaDdl)
      // A change list that validates to a pure no-op (e.g. only
      // DropCol(ifExists=true) on a missing column) must not commit a
      // version: an unconditional bump would make IF EXISTS
      // non-idempotent at the history grain.
      if (newDdl != m.schemaDdl || dropped != m.droppedCols ||
          meta != m.meta) {
        commitSeam()
        writeManifest(path, m.copy(op = op, schemaDdl = newDdl,
          droppedCols = dropped, meta = meta))
      }
    }
  }

  /** ALTER TABLE ADD COLUMNS — extend the pinned DDL with a new NULLABLE
    * column, ZERO data rewritten: readers plan against the widened DDL
    * and parquet's read-by-name null-fills the column in every existing
    * segment file (the same mechanism append-time schema evolution
    * rides; this is the explicit-DDL spelling of it). Refuses an
    * existing name and a DROPPED name whose pre-drop bytes still linger
    * (the same data-resurrection hazard append() guards — see
    * dropColumn; compact() re-opens the name). */
  def addColumn(name: String,
                dataType: org.apache.spark.sql.types.DataType): Unit =
    alterSchema(Seq(JournalStore.AddCol(name, dataType)))

  /** Set (or overwrite) user table properties — Delta's TBLPROPERTIES
    * for the journal: opaque key→value pairs riding every subsequent
    * manifest (`manifest.meta`), committed as their own tiny version.
    * The lever derived artifacts use to record provenance — the ANN
    * index stores its source-corpus fingerprint here and rebuilds on
    * mismatch. A lost CAS race rebases trivially (re-read, re-apply). */
  def setMeta(kvs: Map[String, String]): Unit = {
    requireWritable()
    kvs.foreach { case (k, v) => JournalStore.validateProperty(k, v) }
    retryOnLostRace {
      val m = manifest
      commitSeam()
      writeManifest(path, m.copy(op = "set-meta", meta = m.meta ++ kvs))
    }
  }

  /** Remove table properties — TBLPROPERTIES UNSET. Unknown keys are a
    * no-op (matching SQL's IF EXISTS default here: unset is cleanup,
    * not a read). */
  def unsetMeta(keys: Seq[String]): Unit = {
    requireWritable()
    retryOnLostRace {
      val m = manifest
      writeManifest(path, m.copy(op = "unset-meta", meta = m.meta -- keys))
    }
  }

  /** ANALYZE TABLE — per-column statistics over the current log surface
    * (the same rows the DSv2 scan serves), persisted as table
    * properties and re-served to Spark's optimizer through the scan's
    * DSv2 `columnStats` (SURVEY §2.A journal core; Delta/ANSI `ANALYZE
    * TABLE ... COMPUTE STATISTICS FOR COLUMNS` semantics). CBO join
    * estimation and broadcast decisions then run on real ndv/null
    * counts instead of byte-size guesses — on a 1000-executor cluster
    * that is the difference between broadcasting a provably small build
    * side and sort-merging it by default.
    *
    * Cost at scale: TWO corpus passes, both ending in metadata-sized
    * results. Pass 1 is ONE global aggregate (row count + per-column
    * null count / typed min / typed max — partial aggregation map-side,
    * a single 1-row exchange). Pass 2 melts each row to (column, value)
    * pairs MAP-SIDE ONLY and folds them into 512 HyperLogLog registers
    * per column (Flajolet et al. 2007, the same md5-derived portable
    * register arithmetic as the hash-gated agg_hll_custom row — fixed
    * memory at any cardinality); the one exchange carries at most
    * cols × 512 register rows. No value ever reaches the driver except
    * the final per-column summary.
    *
    * Freshness contract (round 16 — stats that SURVIVE appends): stats
    * are stamped with the EXACT row count they describe, and the scan
    * re-serves them only while the manifest's per-file row counts still
    * sum to that number. Appends no longer break the match: every
    * append folds ITS batch's sketch into the recorded stats in the
    * same manifest commit ([[incrementalStatsMeta]] — null counts add,
    * extrema widen, packed HLL registers union), so the stamped count
    * moves with the data and a 100 TB table's CBO stats stay alive at
    * delta cost; analyze() is the bootstrap/backfill. Destructive
    * rewrites survive too (round 17): analyze() also records the SAME
    * sketch at per-FILE grain in the cstats sidecar (pass 4 below, and
    * every later append extends it), so deleteWhere/compact recompute
    * sketches for exactly the files they rewrite and REFOLD the merged
    * stats from survivors — you cannot subtract from an HLL, but you
    * can re-union what remains. Deletion-vector deletes are the one
    * op that still declines at serve time (a vector subtracts rows no
    * sketch can see) until a compact materializes the subtraction and
    * refolds, or the next analyze() re-arms. A no-arg call analyzes
    * every visible column; a subset call replaces the whole recorded
    * stats set (stats always describe one coherent analyze lineage,
    * never a mix). */
  def analyze(columns: Seq[String] = Nil): Unit = {
    requireWritable()
    val m0 = manifest
    require(m0.files.nonEmpty,
      "analyze: the store has no committed data files yet (nothing to " +
        "measure; stats on an empty store would pin rows=0 and then be " +
        "dropped as stale by the first append anyway)")
    // ONE manifest snapshot for every pass: the merged stats, the
    // histogram and the per-file sketches must describe the same files
    val df = canonicalSurface(
      readSegmentsOver(m0.files, m0.schemaDdl, m0.dvParts))
    val names = df.schema.fieldNames.toSeq
    // the no-arg default analyzes every REAL column; epoch is derived
    // layout (seq div epochSize — its stats restate seq's), analyzable
    // only on explicit request
    val cols = if (columns.isEmpty) names.filterNot(_ == "epoch") else {
      val missing = columns.filterNot(names.contains)
      require(missing.isEmpty,
        s"analyze: unknown column(s) ${missing.mkString(", ")} " +
          s"(visible: ${names.mkString(", ")})")
      columns
    }
    // pass 1: rows + per-column nulls / typed min / typed max (min/max
    // are computed on the TYPED column, then canonicalized to string
    // for the manifest — casting first would order "10" < "9").
    // Timestamp columns additionally record epoch-MICROS extrema: the
    // lossless numeric form the optimizer report and the ts histogram
    // serve (the canonical string form is display-only).
    val dtOf: Map[String, org.apache.spark.sql.types.DataType] =
      df.schema.map(f => f.name -> f.dataType).toMap
    val tsCols = cols.filter(c => dtOf.get(c).exists(t =>
      t == org.apache.spark.sql.types.TimestampType ||
        t == org.apache.spark.sql.types.TimestampNTZType))
    val aggs = count(lit(1L)).as("rows_total") +:
      sketchAggCols(cols, tsCols, dtOf, "")
    // passes 1 and 2 are independent full scans ending in metadata-sized
    // results — overlap them (guide §2.6). Pass 2's old rows==0 guard
    // moves to the USE site (packRegisters of zero melted rows is the
    // same empty map), so the overlap never changes the recorded stats.
    val (regRows, head) = overlap(hllRegisterRows(df, cols))(
      df.agg(aggs.head, aggs.tail: _*).collect()(0))
    val rows = head.getLong(0)
    val tsBase = 1 + 3 * cols.size
    val tsMicros: Map[String, (Long, Long)] = tsCols.zipWithIndex.collect {
      case (c, j) if !head.isNullAt(tsBase + 2 * j) =>
        c -> (head.getLong(tsBase + 2 * j), head.getLong(tsBase + 2 * j + 1))
    }.toMap
    // pass 2: portable-HLL registers per column, collected at (column,
    // register) grain — ≤ cols×512 rows — so the manifest records the
    // raw MERGEABLE sketch state (packed one byte per register).
    // append() then folds each batch's registers into these with an
    // elementwise max (incremental ANALYZE: ndv stays alive at delta
    // cost instead of dropping on row-count drift). Null values carry
    // no distinctness; an all-null column has no register rows.
    val regBytes: Map[String, Array[Byte]] =
      if (rows == 0) Map.empty
      else JournalStore.packRegisters(regRows)
    val regs: Map[String, (Long, Long)] =
      regBytes.map { case (c, arr) =>
        c -> JournalStore.registerSummary(arr)
      }
    // pass 3 (BIGINT + TIMESTAMP columns): a 16-bin EQUI-HEIGHT
    // histogram for the optimizer's range-selectivity estimation —
    // boundaries from one mergeable percentile-sketch aggregate (single
    // pass, fixed memory), per-bin ndv from one melted approx-distinct
    // pass whose exchange carries ≤ cols×16 rows. Timestamp columns bin
    // on epoch MICROS (the catalyst-internal value FilterEstimation
    // compares literals in), so time-range predicates — the store's
    // primary pruning/retention axis — price on the real distribution
    // too. Planner-advisory (served through DSv2 columnStats.histogram),
    // so sketch estimates are the honest scale choice here — nothing
    // downstream hash-gates them.
    // pass 4 (declared early, body unchanged — see its comment below) is
    // independent of pass 3: overlap the cstats bootstrap + sidecar
    // write with the histogram capture (guide §2.6)
    val (csParts, hists) = overlap[Seq[(String, String)],
        Map[String, (Seq[Long], Seq[Long])]] {
      if (rows == 0) Nil
      else {
        val cdf = readSegmentsOver(m0.files, m0.schemaDdl, m0.dvParts,
          keepPos = true)
        val cTypes = cdf.schema.map(f => f.name -> f.dataType).toMap
        val nParts = math.min(4096L, math.max(1L,
          (m0.files.size.toLong * math.max(1, cols.size) + 65535L) /
            65536L)).toInt
        ColumnStatsSidecar.writeParts(path,
          fileColumnSketchFrame(cdf, cols, cTypes).toDF(), nParts)
      }
    } {
      histCapture(df, cols, dtOf, rows)
    }
    val kvs = scala.collection.immutable.TreeMap.newBuilder[String, String]
    kvs += JournalStore.StatsRowsKey -> rows.toString
    // histogram capture point: bin BOUNDARIES cannot merge
    // incrementally (unlike registers/nulls/extrema), so the serving
    // side keeps a histogram only while the table has not outgrown the
    // distribution it describes (≤ 2× the captured rows) — after that
    // it declines the histogram alone and keeps serving the merged
    // ndv/null/extrema stats; the next analyze() re-captures
    kvs += JournalStore.StatsHistRowsKey -> rows.toString
    cols.zipWithIndex.foreach { case (c, i) =>
      val p = JournalStore.StatsColPrefix + c + "."
      val nonNull = head.getLong(1 + 3 * i)
      val (rh, wh) = regs.getOrElse(c, (0L, 0L))
      kvs += (p + "nulls") -> (rows - nonNull).toString
      kvs += (p + "regs") -> rh.toString
      kvs += (p + "whit") -> wh.toString
      kvs += (p + "ndv") -> JournalStore.hllNdvEstimate(rh, wh).toString
      // the raw packed registers — what append()'s incremental
      // maintenance merges each batch's sketch into
      kvs += (p + "hllregs") -> java.util.Base64.getEncoder.encodeToString(
        regBytes.getOrElse(c, new Array[Byte](512)))
      if (!head.isNullAt(2 + 3 * i))
        kvs += (p + "min") -> head.getString(2 + 3 * i)
      if (!head.isNullAt(3 + 3 * i))
        kvs += (p + "max") -> head.getString(3 + 3 * i)
      tsMicros.get(c).foreach { case (mnus, mxus) =>
        kvs += (p + "minus") -> mnus.toString
        kvs += (p + "maxus") -> mxus.toString
      }
      hists.get(c).foreach { case (bs, ns2) =>
        kvs += (p + "hist") ->
          (bs.mkString(",") + "|" + ns2.mkString(","))
      }
    }
    val fresh = kvs.result()
    // pass 4 — cstats BOOTSTRAP (computed above, overlapped with pass
    // 3): the same sketch at per-FILE grain (one sidecar row per file ×
    // column), the state destructive rewrites refold the merged stats
    // from; appends keep extending it at delta cost. ONE DISTRIBUTED
    // ACTION (round 18): the per-file wide aggregate and the per-file
    // register melt join at (file, column) grain, sidecar rows assemble
    // executor-side, and the WRITE TASKS emit the parquet parts — the
    // driver touches only O(parts) names no matter how many files the
    // store has (this was the last files-proportional driver seam in
    // the stats lifecycle; parts are sized to the 64k-row flush bound
    // so each stays LRU-cacheable for the scan pruner).
    retryOnLostRace {
      val m = manifest
      val stale = m.meta.keys.filter(k => k == JournalStore.StatsRowsKey ||
        k == JournalStore.StatsHistRowsKey ||
        k.startsWith(JournalStore.StatsColPrefix))
      commitSeam()
      writeManifest(path, m.copy(op = "analyze",
        // the NTZ-exactness marker certifies that EVERY sidecar row in
        // this family captured TIMESTAMP_NTZ extrema as raw physical
        // micros (NtzMicros — session-zone-independent). analyze()
        // replaces the whole family, so stamping here covers the
        // lineage: later appends extend it with the same tsMicrosCol
        // arithmetic. A marker-less store (analyzed by an older build,
        // possibly under a non-UTC zone whose DST gaps could shift NTZ
        // wall times) DECLINES NTZ file skipping until re-analyzed.
        meta = m.meta -- stale ++ fresh +
          (JournalStore.StatsNtzExactKey -> "1"),
        cstatsParts = csParts.map(_._1), cstatsEnvs = csParts.toMap))
    }
  }

  /** INCREMENTAL ANALYZE — the append-time maintenance that keeps
    * [[analyze]] stats alive instead of letting them die on the first
    * micro-batch (on a 100 TB table a full re-scan per refresh is not
    * an option; this is delta cost). Folds ONE batch's per-column
    * sketch into the recorded stats: row count and null counts add,
    * typed extrema widen, and the packed HLL registers merge with an
    * elementwise max (the union of two HLL sketches IS the sketch of
    * the union — ndv stays approximately correct forever). Histograms
    * are left as recorded: they are planner-advisory and their bin
    * heights rescale with the live row count at serve time; analyze()
    * re-derives boundaries on the next explicit run.
    *
    * Cost: TWO batch-sized jobs (one flat aggregate; one melt →
    * 512-register fold whose exchange carries ≤ cols×512 rows), paid
    * ONLY by stores that have been analyze()d — un-analyzed stores
    * skip both. Returns (refreshed keys, keys to drop); both ride the
    * append's OWN manifest commit, so stats and data move atomically
    * and a lost CAS recomputes against the fresh manifest.
    *
    * Exact-or-decline at the value grain: a column type whose string
    * extrema cannot be merged order-correctly (e.g. binary) DROPS its
    * min/max keys rather than risking a wrong bound; pre-`hllregs`
    * stats (older manifests) are not mergeable and are left to the
    * serving gate's row-count decline, the legacy behavior. */
  private def incrementalStatsMeta(meta: Map[String, String],
      batch: DataFrame, batchRows: Long,
      preSketch: Option[Map[String, JournalStore.ColSketch]] = None)
      : (Map[String, String], Set[String]) = {
    val empty = (Map.empty[String, String], Set.empty[String])
    val oldRows = meta.get(JournalStore.StatsRowsKey)
    if (oldRows.isEmpty || batchRows == 0) return empty
    val statCols = JournalStore.activeStatCols(meta)
    if (statCols.isEmpty) return empty
    val bTypes = batch.schema.map(f => f.name -> f.dataType).toMap
    val sketch = preSketch.getOrElse(
      flatBatchSketch(batch, statCols.filter(bTypes.contains),
        bTypes, batchRows))
    JournalStore.foldStatsMeta(meta, bTypes, statCols, sketch,
      batchRows, oldRows.get.toLong)
  }

  /** The 16-bin EQUI-HEIGHT histogram pass (analyze()'s pass 3 and the
    * FULL-compact re-capture): boundaries from one mergeable
    * percentile-sketch aggregate, per-bin ndv from one melted
    * approx-distinct pass whose exchange carries ≤ cols×16 rows.
    * BIGINT columns bin on their value, TIMESTAMP/TIMESTAMP_NTZ on
    * epoch micros. Planner-advisory. */
  private def histCapture(df: DataFrame, cols: Seq[String],
      dtOf: Map[String, org.apache.spark.sql.types.DataType], rows: Long)
      : Map[String, (Seq[Long], Seq[Long])] = {
    val histCols: Seq[(String, org.apache.spark.sql.Column)] =
      cols.flatMap { c =>
        dtOf.get(c) match {
          case Some(org.apache.spark.sql.types.LongType) =>
            Some(c -> col(c))
          case Some(t @ (org.apache.spark.sql.types.TimestampType |
                         org.apache.spark.sql.types.TimestampNTZType)) =>
            Some(c -> tsMicrosCol(c, t))
          case _ => None
        }
      }
    if (rows == 0 || histCols.isEmpty) Map.empty
    else {
      val qs = (1 to 16).map(i => lit(i / 16.0))
      val bAggs = histCols.map { case (c, e) =>
        percentile_approx(e, array(qs: _*), lit(10000)).as(s"b_$c") }
      val bRow = df.agg(bAggs.head, bAggs.tail: _*).collect()(0)
      val bounds: Map[String, Seq[Long]] = histCols.zipWithIndex.collect {
        case ((c, _), i) if !bRow.isNullAt(i) =>
          c -> bRow.getSeq[Long](i).toSeq
      }.toMap
      if (bounds.isEmpty) Map.empty
      else {
        val bCols = histCols.filter(ce => bounds.contains(ce._1))
        val mapArgs = bCols.flatMap { case (c, _) =>
          Seq(lit(c), array(bounds(c).map(lit(_)): _*)) }
        val ndvRows = df
          .select(explode(array(bCols.map { case (c, e) =>
            struct(lit(c).as("c"), e.as("v")) }: _*)).as("cv"))
          .select(col("cv.c").as("c"), col("cv.v").as("v"))
          .where(col("v").isNotNull)
          .withColumn("ba", element_at(map(mapArgs: _*), col("c")))
          .withColumn("b",
            least(lit(15), size(expr("filter(ba, x -> x < v)"))))
          .groupBy("c", "b")
          .agg(approx_count_distinct("v").as("ndv"))
          .collect()
        val byCol = ndvRows.groupBy(_.getString(0))
        byCol.map { case (c, rs) =>
          val perBin = rs.map(r => r.getInt(1) -> r.getLong(2)).toMap
          c -> (bounds(c), (0 until 16).map(i => perBin.getOrElse(i, 0L)))
        }
      }
    }
  }

  /** ONE copy of the per-column sketch aggregate columns (non-null
    * count + canonical typed string extrema + ts epoch-micros extrema)
    * behind analyze() pass 1, the flat batch fold, the grouped dir
    * sketches AND the distributed bootstrap — the refold ≡
    * fresh-analyze bit-identity depends on a single arithmetic, so
    * there must be exactly one copy of these expressions. Column names
    * are `<p>n_<c>` / `<p>mn_<c>` / `<p>mx_<c>` plus `<p>mnus_<c>` /
    * `<p>mxus_<c>` for timestamp-flavored columns. */
  private def sketchAggCols(present: Seq[String], tsCols: Seq[String],
      bTypes: Map[String, org.apache.spark.sql.types.DataType],
      p: String): Seq[org.apache.spark.sql.Column] =
    present.flatMap(c => Seq(
      count(col(c)).as(s"${p}n_$c"),
      min(col(c)).cast("string").as(s"${p}mn_$c"),
      max(col(c)).cast("string").as(s"${p}mx_$c"))) ++
      tsCols.flatMap(c => Seq(
        min(tsMicrosCol(c, bTypes(c))).as(s"${p}mnus_$c"),
        max(tsMicrosCol(c, bTypes(c))).as(s"${p}mxus_$c")))

  /** The batch's per-column sketch as ONE flat aggregate + ONE flat
    * register melt — the fold input when the per-file grain is not
    * being captured (batch spans more directories than
    * [[JournalStore.MaxSketchDirs]], or a non-append caller). Pass A/B
    * of the pre-cstats incremental fold, verbatim. */
  private def flatBatchSketch(batch: DataFrame, present: Seq[String],
      bTypes: Map[String, org.apache.spark.sql.types.DataType],
      batchRows: Long): Map[String, JournalStore.ColSketch] = {
    import org.apache.spark.sql.types._
    if (present.isEmpty) return Map.empty
    val tsCols = present.filter(c => bTypes(c) == TimestampType ||
      bTypes(c) == TimestampNTZType)
    // pass A: per-column nulls + typed extrema over the batch (the
    // caller holds the batch cached for its stats passes already)
    val aggs = sketchAggCols(present, tsCols, bTypes, "")
    val h = batch.agg(aggs.head, aggs.tail: _*).collect()(0)
    // pass B: the batch's own HLL registers — the SAME melt as
    // analyze()'s pass 2 (shared helper: the union-of-sketches ≡
    // sketch-of-union guarantee requires bit-identical arithmetic)
    val regs = JournalStore.packRegisters(hllRegisterRows(batch, present))
    present.zipWithIndex.map { case (c, i) =>
      val nonNull = h.getLong(3 * i)
      val minv = if (h.isNullAt(3 * i + 1)) None else Some(h.getString(3 * i + 1))
      val maxv = if (h.isNullAt(3 * i + 2)) None else Some(h.getString(3 * i + 2))
      val (mnus, mxus) =
        if (!tsCols.contains(c)) (None, None)
        else {
          val j = tsCols.indexOf(c)
          val base = 3 * present.size
          if (h.isNullAt(base + 2 * j)) (None, None)
          else (Some(h.getLong(base + 2 * j)),
            Some(h.getLong(base + 2 * j + 1)))
        }
      c -> JournalStore.ColSketch(batchRows, batchRows - nonNull,
        minv, maxv, mnus, mxus,
        regs.getOrElse(c, Array.emptyByteArray))
    }.toMap
  }

  /** Per-DIRECTORY column sketches over one batch/rewrite dataset —
    * the per-FILE grain of the cstats sidecar (an append/rewrite
    * writes exactly one file per (epoch, ns) directory, so the
    * directory aggregate IS that file's sketch). TWO jobs over `df`,
    * the same count the flat fold pays: one grouped aggregate (nulls +
    * canonical string extrema + ts micros per column) and one grouped
    * register melt whose exchange carries ≤ dirs×cols×512 rows.
    * Extrema are recorded ONLY when [[JournalStore.mergeExtremum]] can
    * order them (self-merge test) — an absent bound beside non-null
    * rows reads back as DECLINED, distinguishable from all-null.
    *
    * NULL ns rows (writable — they land in the default-partition
    * directory) group under a NUL sentinel instead of poisoning the
    * concat key to NULL (concat is null-propagating, and a null group
    * key would NPE the split below): their rows still participate in
    * the caller's merged-sketch fold — dropping them would undercount
    * nulls/extrema — while the sentinel group never describes a
    * written file (null rows land in the default-partition directory;
    * a real NUL-named namespace sharing the key fails the row-count
    * match in Written.fileSketches), so it records no per-file sidecar
    * row. */
  private def dirColumnSketches(df: DataFrame, present: Seq[String],
      bTypes: Map[String, org.apache.spark.sql.types.DataType])
      : Map[(Long, String), JournalStore.DirSketches] =
    groupedColumnSketches(df, present, bTypes,
      concat(col("epoch").cast("string"), lit("\u0000"),
        coalesce(col("ns").cast("string"), lit("\u0000"))))
      .map { case (k, v) =>
        val Array(e, n) = k.split("\u0000", 2)
        (e.toLong, n) -> v
      }

  /** The grouped engine behind [[dirColumnSketches]] and analyze()'s
    * per-file bootstrap: `groupKey` must be a non-null STRING
    * expression identifying one eventual segment file per group. */
  private def groupedColumnSketches(df: DataFrame, present: Seq[String],
      bTypes: Map[String, org.apache.spark.sql.types.DataType],
      groupKey: org.apache.spark.sql.Column)
      : Map[String, JournalStore.DirSketches] = {
    import org.apache.spark.sql.types._
    if (present.isEmpty) return Map.empty
    val tsCols = present.filter(c => bTypes(c) == TimestampType ||
      bTypes(c) == TimestampNTZType)
    val aggs = count(lit(1L)).as("__cs_rows") +:
      sketchAggCols(present, tsCols, bTypes, "__cs_")
    val agg = df.groupBy(groupKey.as("__csk"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val regRows = hllRegisterRows(df, present, Seq("__gk" -> groupKey))
    val regByKey: Map[String, Map[String, Array[Byte]]] =
      regRows.groupBy(_.getString(0))
        .map { case (k, rs) => k -> JournalStore.packRegisters(rs, 1) }
    agg.map { r =>
      val key = r.getString(0)
      val rows = r.getLong(1)
      val cols = present.zipWithIndex.map { case (c, i) =>
        val nonNull = r.getLong(2 + 3 * i)
        def str(idx: Int): Option[String] =
          if (r.isNullAt(idx)) None else Some(r.getString(idx))
        // extrema recorded only when the merge arithmetic can order
        // them (self-merge test): an absent bound beside non-null rows
        // reads back as DECLINED rather than a wrong bound
        val minv = str(3 + 3 * i).filter(v =>
          JournalStore.mergeExtremum(bTypes(c), v, v, takeMin = true).isDefined)
        val maxv = str(4 + 3 * i).filter(v =>
          JournalStore.mergeExtremum(bTypes(c), v, v, takeMin = false).isDefined)
        val (mnus, mxus) =
          if (!tsCols.contains(c)) (None, None)
          else {
            val j = tsCols.indexOf(c)
            val base = 2 + 3 * present.size
            if (r.isNullAt(base + 2 * j)) (None, None)
            else (Some(r.getLong(base + 2 * j)),
              Some(r.getLong(base + 2 * j + 1)))
          }
        c -> JournalStore.ColSketch(rows, rows - nonNull, minv, maxv,
          mnus, mxus,
          regByKey.getOrElse(key, Map.empty)
            .getOrElse(c, Array.emptyByteArray))
      }.toMap
      key -> JournalStore.DirSketches(rows, cols)
    }.toMap
  }

  /** Shared CStat-row assembly: one sidecar row per (file, stat
    * column) from a captured sketch set; stat columns the dataset did
    * not carry record as all-null (they null-fill on read). */
  private def cstatRowsOf(file: String, ds: JournalStore.DirSketches,
      statCols: Seq[String]): Seq[ColumnStatsSidecar.CStat] =
    statCols.map { c =>
      ds.cols.get(c) match {
        case Some(s) => ColumnStatsSidecar.CStat(file, c, ds.rows,
          s.nulls, s.minv, s.maxv, s.minus, s.maxus, s.regs)
        case None => ColumnStatsSidecar.CStat(file, c, ds.rows, ds.rows,
          None, None, None, None, Array.emptyByteArray)
      }
    }

  /** DISTRIBUTED per-file column sketches over a `keepPos = true`
    * segment read — one [[ColumnStatsSidecar.CStat]] row per file ×
    * stat column, assembled in the EXECUTORS (the analyze bootstrap's
    * engine; [[groupedColumnSketches]] remains the driver-collected
    * twin for the bounded append/rewrite grains). Same two aggregates
    * (wide per-file nulls + canonical typed extrema + ts micros; the
    * shared register melt grouped by `__file`), joined at (file,
    * column) grain instead of collected — the shuffles carry sketch
    * rows, never data rows. Same decline arithmetic: extrema record
    * only when [[JournalStore.mergeExtremum]] can order them
    * (self-merge test), and stat columns the dataset does not carry
    * record as all-null — the fold invariant needs ONE arithmetic and
    * both paths call the same helpers. */
  private def fileColumnSketchFrame(df: DataFrame, statCols: Seq[String],
      bTypes: Map[String, org.apache.spark.sql.types.DataType])
      : org.apache.spark.sql.Dataset[ColumnStatsSidecar.CStat] = {
    import org.apache.spark.sql.types._
    val present = statCols.filter(bTypes.contains)
    val tsCols = present.filter(c => bTypes(c) == TimestampType ||
      bTypes(c) == TimestampNTZType)
    val aggs = count(lit(1L)).as("__cs_rows") +:
      sketchAggCols(present, tsCols, bTypes, "__cs_")
    val file = SegmentFiles.fromUriCol(col("__file"))
    val wide = df.groupBy(file.as("file"))
      .agg(aggs.head, aggs.tail: _*)
    // one homogeneous struct per stat column (extrema already
    // canonical strings; micros null for non-ts columns; columns the
    // dataset does not carry record as all-null — they null-fill on
    // read, exactly [[cstatRowsOf]]'s absent-column rule)
    val entries = present.map { c =>
      struct(lit(c).as("c"), col(s"__cs_n_$c").as("nn"),
        col(s"__cs_mn_$c").as("mn"), col(s"__cs_mx_$c").as("mx"),
        (if (tsCols.contains(c)) col(s"__cs_mnus_$c")
         else lit(null).cast("long")).as("mnus"),
        (if (tsCols.contains(c)) col(s"__cs_mxus_$c")
         else lit(null).cast("long")).as("mxus"))
    } ++ statCols.filterNot(present.contains).map { c =>
      struct(lit(c).as("c"), lit(0L).as("nn"),
        lit(null).cast("string").as("mn"), lit(null).cast("string").as("mx"),
        lit(null).cast("long").as("mnus"), lit(null).cast("long").as("mxus"))
    }
    val perCol = wide
      .select(col("file"), col("__cs_rows").as("rows"),
        explode(array(entries: _*)).as("e"))
      .select(col("file"), col("rows"), col("e.c").as("col"),
        (col("rows") - col("e.nn")).as("nulls"),
        col("e.mn").as("mn"), col("e.mx").as("mx"),
        col("e.mnus").as("mnus"), col("e.mxus").as("mxus"))
    val regs = hllRegisterFrame(df, present, Seq("__gk" -> file))
      .groupBy(col("__gk").as("file"), col("c").as("col"))
      .agg(collect_list(struct(col("b"), col("m"))).as("pairs"))
    val types = bTypes // serializable (String -> DataType) capture
    perCol.join(regs, Seq("file", "col"), "left").map { r =>
      val c = r.getAs[String]("col")
      val dt = types.get(c)
      def optS(n: String): Option[String] = Option(r.getAs[String](n))
      val minv = optS("mn").filter(v => dt.exists(t =>
        JournalStore.mergeExtremum(t, v, v, takeMin = true).isDefined))
      val maxv = optS("mx").filter(v => dt.exists(t =>
        JournalStore.mergeExtremum(t, v, v, takeMin = false).isDefined))
      def optL(n: String): Option[Long] = {
        val i = r.fieldIndex(n)
        if (r.isNullAt(i)) None else Some(r.getLong(i))
      }
      val pi = r.fieldIndex("pairs")
      val regArr =
        if (r.isNullAt(pi)) Array.emptyByteArray
        else {
          val arr = new Array[Byte](512)
          r.getSeq[org.apache.spark.sql.Row](pi).foreach { p =>
            val b = p.getLong(0).toInt
            val rho = p.getInt(1)
            if (rho > arr(b)) arr(b) = rho.toByte
          }
          arr
        }
      ColumnStatsSidecar.CStat(r.getAs[String]("file"), c,
        r.getAs[Long]("rows"), r.getAs[Long]("nulls"),
        minv, maxv, optL("mnus"), optL("mxus"), regArr)
    }(ColumnStatsSidecar.cstatEncoder)
  }

  /** REFOLD the merged analyze() stats from the SURVIVING files'
    * per-file column sketches after a destructive rewrite — the step
    * that lets deleteWhere/compact keep CBO stats alive instead of
    * declining. Exact-or-decline: any surviving file without a
    * coherent sketch for every recorded column (pre-cstats file,
    * sketch-dirs cap skip, damaged part, or a row count diverging from
    * its FileStat — a deletion-vector decrement) drops the WHOLE
    * recorded set, as does any live deletion vector (sketches cannot
    * see the subtraction). Histogram keys ride through unchanged (the
    * 2x freshness gate governs their serving). Returns the full new
    * meta map.
    *
    * DISTRIBUTED (round 18): the merge runs as ONE typed aggregate
    * over the CStat-shaped `sketchDf` — pairwise
    * [[JournalStore.mergeColSketches]] partials combine MAP-SIDE (the
    * merge is associative: sums, elementwise register max, and an
    * extremum lattice whose None is absorbing), so the shuffle and the
    * driver collect carry ≤ stat-column rows however many files
    * survive — never a files-proportional driver fold. The per-file
    * coherence checks ride the SAME pass: each column group counts its
    * contributing survivor files and its FileStat row-count
    * mismatches, and any column whose count ≠ survivors (a missing —
    * or duplicated — sketch) or whose mismatch count > 0 declines the
    * whole set, exactly the old driver fold's per-file checks. */
  private def refoldStatsMeta(meta: Map[String, String],
      files2: Seq[String], fstats2: Seq[FileStat], dvParts2: Seq[String],
      sketchDf: DataFrame,
      schemaDdl: String): Map[String, String] = {
    val statCols = JournalStore.activeStatCols(meta)
    if (statCols.isEmpty) return meta // nothing mergeable is recorded
    def decline = meta -- JournalStore.statsMetaKeys(meta)
    if (dvParts2.nonEmpty) return decline
    val fmap = SegmentFiles.statsByFile(fstats2)
    if (files2.exists(f => !fmap.contains(f)))
      return decline // stats-free file: cannot certify
    val types: Map[String, org.apache.spark.sql.types.DataType] =
      if (schemaDdl.isEmpty) Map.empty
      else org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
        .map(f => f.name -> f.dataType).toMap
    val expect = files2.size.toLong
    val mergedByCol: Map[String, JournalStore.SketchAcc] =
      if (files2.isEmpty) Map.empty
      else {
        val surv = spark.createDataFrame(
          files2.map(f => (f, fmap(f).rows))).toDF("file", "__xrows")
        val typesB = types
        // TWO typed aggregates, both at sketch grain: first collapse
        // (col, FILE) groups — any multiplicity > 1 is a duplicated
        // sketch row and sets `dup` (exact distinct-file counting:
        // each surviving group contributes n = 1 upward, so the
        // per-column `n` below counts DISTINCT contributing files,
        // closing the r18-advice hole where a duplicate for file A
        // could mask a missing sketch for file B at the same total) —
        // then merge per column with pairwise associative partials.
        sketchDf
          .where(col("col").isInCollection(statCols))
          .join(surv, Seq("file"))
          .select(col("col"), col("rows"), col("nulls"), col("minv"),
            col("maxv"), col("minus"), col("maxus"), col("regs"),
            col("__xrows"), col("file"))
          .map { r =>
            def optL(i: Int): Option[Long] =
              if (r.isNullAt(i)) None else Some(r.getLong(i))
            val s = JournalStore.ColSketch(r.getLong(1), r.getLong(2),
              Option(r.getString(3)), Option(r.getString(4)),
              optL(5), optL(6),
              Option(r.getAs[Array[Byte]](7))
                .getOrElse(Array.emptyByteArray))
            (r.getString(0), r.getString(9), JournalStore.SketchAcc(1L,
              if (r.getLong(1) == r.getLong(8)) 0L else 1L, 0L, s))
          }(org.apache.spark.sql.Encoders.product[
            (String, String, JournalStore.SketchAcc)])
          .groupByKey(t => (t._1, t._2))(
            org.apache.spark.sql.Encoders.product[(String, String)])
          .reduceGroups { (a, b) =>
            // same (col, file) key on both sides: a duplicate
            (a._1, a._2, JournalStore.SketchAcc(1L,
              math.max(a._3.bad, b._3.bad), 1L,
              JournalStore.mergeColSketches(typesB.get(a._1),
                Seq(a._3.s, b._3.s))))
          }
          .map { case (_, (c, _, acc)) => (c, acc) }(
            org.apache.spark.sql.Encoders.product[
              (String, JournalStore.SketchAcc)])
          .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
          .reduceGroups { (a, b) =>
            (a._1, JournalStore.SketchAcc(a._2.n + b._2.n,
              a._2.bad + b._2.bad, a._2.dup + b._2.dup,
              JournalStore.mergeColSketches(typesB.get(a._1),
                Seq(a._2.s, b._2.s))))
          }
          .collect().map { case (c, (_, acc)) => c -> acc }.toMap
      }
    // exact-or-decline, certified from the aggregate's own counters:
    // distinct contributing files == survivors, no row-count mismatch,
    // and no duplicated (col, file) sketch anywhere
    statCols.foreach { c =>
      val ok = mergedByCol.get(c) match {
        case Some(acc) => acc.n == expect && acc.bad == 0L && acc.dup == 0L
        case None => expect == 0L
      }
      if (!ok) return decline
    }
    val emptySketch = JournalStore.ColSketch(0L, 0L, None, None, None,
      None, Array.emptyByteArray)
    val rows = files2.map(f => fmap(f).rows).sum
    val kvs = scala.collection.immutable.TreeMap.newBuilder[String, String]
    kvs += JournalStore.StatsRowsKey -> rows.toString
    meta.get(JournalStore.StatsHistRowsKey).foreach(v =>
      kvs += JournalStore.StatsHistRowsKey -> v)
    statCols.foreach { c =>
      val p = JournalStore.StatsColPrefix + c + "."
      val merged = mergedByCol.get(c).map(_.s).getOrElse(emptySketch)
      val packed =
        if (merged.regs.isEmpty) new Array[Byte](512) else merged.regs
      val (rh, wh) = JournalStore.registerSummary(packed)
      kvs += (p + "nulls") -> merged.nulls.toString
      kvs += (p + "regs") -> rh.toString
      kvs += (p + "whit") -> wh.toString
      kvs += (p + "ndv") -> JournalStore.hllNdvEstimate(rh, wh).toString
      kvs += (p + "hllregs") ->
        java.util.Base64.getEncoder.encodeToString(packed)
      merged.minv.foreach(v => kvs += (p + "min") -> v)
      merged.maxv.foreach(v => kvs += (p + "max") -> v)
      merged.minus.foreach(v => kvs += (p + "minus") -> v.toString)
      merged.maxus.foreach(v => kvs += (p + "maxus") -> v.toString)
      meta.get(p + "hist").foreach(v => kvs += (p + "hist") -> v)
      val declKeys = Seq("min" -> merged.minv, "max" -> merged.maxv)
        .collect { case (k, None) if merged.nulls < merged.rows => k }
      if (declKeys.nonEmpty)
        kvs += (p + JournalStore.XdeclKey) -> declKeys.mkString(",")
    }
    decline ++ kvs.result()
  }

  /** Sketch capture + sidecar consolidation + refold for a destructive
    * rewrite: `rewritten` maps each REWRITTEN file to its fresh
    * sketches (computed from the rows the rewrite already read, through
    * any deletion vectors); surviving untouched files keep their
    * recorded rows. Returns (new meta, new cstats part list). The
    * sidecar is consolidated and KEPT even when the refold declines the
    * merged stats: each per-file sketch is sound for ITS file
    * independently (the envelope argument the V2 scan's file skipping
    * relies on — skipping never consults the merged stats), so a
    * decline costs the CBO report, never the pruning. When the store
    * has no mergeable recorded stats there are no fresh sketches to
    * add; existing parts ride along unchanged until the next analyze()
    * rewrites the family.
    *
    * DISTRIBUTED (round 18): the surviving sketches are read as ONE
    * Spark frame over the sidecar parts (never a driver readAll), the
    * refold aggregates it map-side, and the consolidation writes the
    * new parts from the write tasks — flush-bounded like the analyze
    * bootstrap, so neither driver memory nor part size grows with the
    * store's files × columns product. ABORT-SAFE (r17 advice): an
    * unreadable part aborts the consolidation — the old parts are
    * KEPT (each remains a sound per-file envelope for skipping), the
    * fresh sketches land as a delta part, and the merged stats decline
    * (survivors cannot be certified) — a damaged sidecar never
    * silently drops a file's sketches. */
  private def rewriteStatsState(m: JournalStore.Manifest,
      files2: Seq[String], fstats2: Seq[FileStat], dvParts2: Seq[String],
      rewritten: Seq[(String, JournalStore.DirSketches)])
      : (Map[String, String], Seq[String], Map[String, String]) = {
    val statCols = JournalStore.activeStatCols(m.meta)
    if (statCols.isEmpty) return (m.meta, m.cstatsParts, m.cstatsEnvs)
    val fresh = rewritten.flatMap { case (f, ds) =>
      cstatRowsOf(f, ds, statCols) }
    try pinned(cstatsUnionFrame(m.cstatsParts, files2, fresh)) { allDf =>
      val total = allDf.count()
      val meta2 = refoldStatsMeta(m.meta, files2, fstats2, dvParts2,
        allDf, m.schemaDdl)
      val pairs = writeCstatsParts(allDf, total)
      (meta2, pairs.map(_._1), pairs.toMap)
    } catch { case scala.util.control.NonFatal(e) =>
      val (parts2, envs2) = cstatsAbortParts(m.cstatsParts, m.cstatsEnvs,
        files2, fresh, e)
      (m.meta -- JournalStore.statsMetaKeys(m.meta), parts2, envs2)
    }
  }

  /** (live kept ∪ fresh) sidecar frame for a commit: the old parts as
    * ONE Spark frame, semi-joined to the post-commit file list, plus
    * the commit's freshly-sketched rows. Rewritten/new files carry
    * fresh UUID task names, so they cannot appear in old parts — the
    * live semi-join alone is exact and the union is duplicate-free.
    * THROWS on an unreadable part (readFrame pins corrupt-file
    * skipping OFF) — callers abort rather than silently drop. */
  private def cstatsUnionFrame(parts: Seq[String], liveFiles: Seq[String],
      fresh: Seq[ColumnStatsSidecar.CStat]): DataFrame =
    ColumnStatsSidecar.readFrame(spark, path, parts)
      .join(spark.createDataFrame(liveFiles.map(Tuple1(_))).toDF("file"),
        Seq("file"), "left_semi")
      .unionByName(
        spark.createDataset(fresh)(ColumnStatsSidecar.cstatEncoder).toDF())

  /** Flush-bounded DISTRIBUTED part write of a consolidated sidecar
    * frame (≤ 64k rows per part — each stays LRU-cacheable). Returns
    * (name, encoded envelope) pairs. */
  private def writeCstatsParts(df: DataFrame,
      total: Long): Seq[(String, String)] =
    if (total == 0L) Nil
    else ColumnStatsSidecar.writeParts(path, df,
      math.min(4096L, (total + 65535L) / 65536L).toInt)

  /** (name, encoded envelope) for one driver-written delta part. */
  private def writeCstatsDelta(
      rows: Seq[ColumnStatsSidecar.CStat]): (String, String) =
    ColumnStatsSidecar.writePart(path, rows) ->
      ColumnStatsSidecar.encodeEnv(ColumnStatsSidecar.envelopeOf(rows))

  /** Consolidation ABORT (r17 advice): on an unreadable part, keep the
    * old parts — each remains a sound per-file skipping envelope — and
    * land this commit's fresh sketches as a delta part, WARNING loudly
    * (a swallowed abort would leave the operator blind while every
    * later commit re-pays a doomed Spark job). A PERSISTENTLY corrupt
    * part would otherwise grow the part list by one delta per commit
    * forever; past 4× the consolidation cap the abort falls back to
    * the LENIENT driver reader instead — readable parts keep their
    * sketches, the unreadable part's rows are DROPPED with a warning
    * naming the loss (conservative: those files lose skipping and the
    * refold declines until a re-analyze; never a wrong bound). The
    * fallback is the one rare repair path allowed a driver-side
    * sidecar pass. */
  private def cstatsAbortParts(parts: Seq[String],
      envs: Map[String, String], liveFiles: Seq[String],
      fresh: Seq[ColumnStatsSidecar.CStat], e: Throwable)
      : (Seq[String], Map[String, String]) = {
    val log = org.slf4j.LoggerFactory.getLogger(classOf[JournalStore])
    if (parts.sizeIs < ColumnStatsSidecar.MaxParts * 4) {
      log.warn(s"cstats consolidation at $path ABORTED — old parts " +
        "kept, fresh sketches land as a delta part; run analyze() to " +
        s"rebuild the sidecar: $e")
      if (fresh.isEmpty) (parts, envs.view.filterKeys(parts.toSet).toMap)
      else {
        val delta = writeCstatsDelta(fresh)
        (parts :+ delta._1,
          envs.view.filterKeys(parts.toSet).toMap + delta)
      }
    } else {
      log.warn(s"cstats consolidation at $path has aborted repeatedly " +
        s"(${parts.size} parts live); consolidating through the " +
        "LENIENT driver reader — unreadable parts' sketches are " +
        "DROPPED (their files lose file skipping and the merged-stats " +
        s"refold declines until analyze() rebuilds them): $e")
      val live = liveFiles.toSet
      val kept = ColumnStatsSidecar.readAll(path, parts)
        .values.filter(s => live.contains(s.file)).toSeq
      val sole = writeCstatsDelta(kept ++ fresh)
      (Seq(sole._1), Map(sole))
    }
  }

  /** Consolidate the cstats sidecar to a flush-bounded part set,
    * DISTRIBUTED: live files' rows from the old parts (one Spark frame
    * — never a driver readAll) union the commit's fresh rows, written
    * from the write tasks. The live filter is a semi-join against the
    * post-commit file list; fresh rows describe NEW file names (UUID
    * task files), which cannot appear in old parts, so the union is
    * duplicate-free by construction. Abort-safe: an unreadable part
    * keeps the old list and appends the fresh rows as a delta part —
    * a damaged sidecar never silently drops a file's sketches. */
  private def consolidateCstats(parts: Seq[String],
      envs: Map[String, String], liveFiles: Seq[String],
      fresh: Seq[ColumnStatsSidecar.CStat])
      : (Seq[String], Map[String, String]) =
    try pinned(cstatsUnionFrame(parts, liveFiles, fresh)) { allDf =>
      val pairs = writeCstatsParts(allDf, allDf.count())
      (pairs.map(_._1), pairs.toMap)
    } catch { case scala.util.control.NonFatal(e) =>
      cstatsAbortParts(parts, envs, liveFiles, fresh, e)
    }

  /** DECLARED-retention sweep — TTL as a TABLE ATTRIBUTE instead of an
    * operator someone must remember to run (the way production stores
    * ship it; `CALL system.expire` stays as the ad-hoc verb). Reads the
    * `retention.olderThan` table property (an SQL interval body, e.g.
    * "30 DAYS") and physically erases rows whose ts is older than
    * now − interval, riding deleteWhere's ts-range file pruning: a
    * sweep over a 100 TB log rewrites only the files whose ts range
    * can overlap the bound, and a sweep with nothing to erase is
    * metadata-only. The property is ordinary manifest meta, so it
    * rides clones and reverts with RESTORE. No property → no-op.
    *
    * PER-NAMESPACE policies: `retention.olderThan.<ns>` declares a
    * namespace-specific TTL that OVERRIDES the global one for that ns
    * (the global bound then sweeps only namespaces without their own
    * policy). Each ns sweep carries an ns-equality conjunct, so
    * deleteWhere prunes to that namespace's partition directories
    * FIRST, then by per-file ts range — a hot 1-day-TTL ns on a 100 TB
    * store sweeps its own files only. Specs are validated at the
    * property-set door (setMeta/ALTER ... SET TBLPROPERTIES) and
    * parsed here with the strict interval parser — never interpolated
    * into SQL text (a crafted property value must not smuggle an
    * arbitrary expression past the interval contract). Returns the
    * erased-row count across all policies. */
  def maintain(): Long = {
    requireWritable()
    val meta = manifest.meta
    val nsPre = JournalStore.RetentionKey + "."
    val nsPolicies = meta.collect {
      case (k, v) if k.startsWith(nsPre) => k.stripPrefix(nsPre) -> v
    }.toSeq.sortBy(_._1)
    val global = meta.get(JournalStore.RetentionKey)
    if (global.isEmpty && nsPolicies.isEmpty) return 0L
    // now − interval via CalendarInterval arithmetic in the session
    // zone (months/days are calendar units there, matching
    // `current_timestamp() - INTERVAL <spec>` semantics)
    def boundOf(key: String, spec: String): java.sql.Timestamp = {
      val iv = JournalStore.parseRetentionInterval(key, spec)
      val zone = java.time.ZoneId.of(
        spark.sessionState.conf.sessionLocalTimeZone)
      java.sql.Timestamp.from(java.time.ZonedDateTime.now(zone)
        .minusMonths(iv.months.toLong).minusDays(iv.days.toLong)
        .minus(iv.microseconds, java.time.temporal.ChronoUnit.MICROS)
        .toInstant)
    }
    var erased = 0L
    nsPolicies.foreach { case (ns, spec) =>
      erased += deleteWhere(col("ns") === lit(ns) &&
        col("ts") < lit(boundOf(nsPre + ns, spec)))
    }
    global.foreach { spec =>
      val b = lit(boundOf(JournalStore.RetentionKey, spec))
      val cond =
        if (nsPolicies.isEmpty) col("ts") < b
        // ns-scoped policies own their namespaces outright — the
        // global bound must not sweep them. NULL-safe: `NOT IN`
        // evaluates NULL for null-ns rows, which would silently retain
        // them forever. The append door refuses null ns, so this arm is
        // defense in depth — the global policy stays total even against
        // rows no current door could have admitted.
        else col("ts") < b &&
          (col("ns").isNull || !col("ns").isin(nsPolicies.map(_._1): _*))
      erased += deleteWhere(cond)
    }
    erased
  }

  /** LAYOUT maintenance driven by the advisor's own readout (round 19
    * — before this, nothing acted on [[advise]]: operators had to read
    * the labels and issue the compaction CALLs by hand). Consumes the
    * labels:
    *
    *  - `zorder`-labeled columns trigger ONE full clustered rewrite
    *    along the ADVISED columns (up to the 8-column z-curve limit) —
    *    the sidecar already measured which columns' file ranges
    *    interleave, so the clustering axis comes from data, not
    *    operator guesswork; compact's layout choice generalizes past
    *    the fixed (ukey, seq) axis. The acted set is recorded in meta
    *    ([[JournalStore.ZorderedByKey]]) and the SAME set never
    *    re-acts: range interleave ACROSS partition directories is
    *    structural (every rewrite is bounded by the epoch/ns dirs), so
    *    a persistent label must not buy a full rewrite per maintenance
    *    tick. A changed advised set — or clearing the property —
    *    re-arms. The full rewrite also heals every fragmented
    *    namespace, so the ns pass below is skipped that cycle.
    *  - `compact`-labeled namespaces rewrite through [[compactNs]]
    *    (clustered by key) — small-file debt healed where it actually
    *    sits instead of sweeping a 100 TB store. Escaped namespace
    *    names ride [[SegmentFiles]]' conservative directory match; the
    *    default-partition group ("" — no current append door admits
    *    it) is left to an explicit full compact.
    *
    * `salt` labels are query-time shuffle advice, not layout — never
    * acted here. Returns the number of advice rows acted on. Runs on
    * the auto-maintenance cadence ([[withAutoMaintain]]) and inside
    * `CALL system.maintain` — the self-healing loop the round-18
    * advisor was missing. */
  def maintainLayout(): Long = {
    requireWritable()
    val readout = advise()
    val zcols = readout
      .filter(r => r.scope == "column" && r.advice == "zorder")
      .map(_.name).sorted.take(8)
    val frag = readout
      .filter(r => r.scope == "ns" && r.advice == "compact" &&
        r.name.nonEmpty)
      .map(_.name)
    if (zcols.nonEmpty &&
        !manifest.meta.get(JournalStore.ZorderedByKey)
          .contains(zcols.mkString(","))) {
      compact(Long.MaxValue, zcols)
      setMeta(Map(JournalStore.ZorderedByKey -> zcols.mkString(",")))
      (readout.count(_.advice == "zorder") + frag.size).toLong
    } else {
      frag.foreach(ns => compactNs(ns, clusterByKey = true))
      frag.size.toLong
    }
  }

  /** Epoch-micros Column for a timestamp-typed column. TIMESTAMP reads
    * its internal micros directly (identity cast); TIMESTAMP_NTZ reads
    * its RAW internal micros through [[graft.expr.NtzMicros]] — an
    * identity reinterpretation of the physical long, EXACT even inside
    * DST gaps (round 18; the previous session-zone round-trip could
    * shift gap-hour wall times, which kept NTZ out of the cstats file
    * skipping). FilterEstimation compares NTZ literals in this same
    * raw-micros domain. analyze(), the append fold, the per-file
    * sketches and the histogram capture all go through here — the fold
    * invariant needs one copy. */
  private def tsMicrosCol(c: String,
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
    if (dt == org.apache.spark.sql.types.TimestampNTZType)
      org.apache.spark.sql.graft.StreamBatchBridge.columnOf(
        graft.expr.NtzMicros(
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            .quoted(c)))
    else unix_micros(col(c).cast("timestamp"))

  /** ONE shared register melt (columns → md5 → per-(column, register)
    * max-rho rows, ≤ cols×512 collected) for analyze()'s pass 2 AND
    * the append-time incremental fold: the union-of-sketches ≡
    * sketch-of-union guarantee the journal_analyze_incr hash gate
    * proves requires both sides to run bit-identical arithmetic —
    * there must be exactly one copy of these constants. */
  private def hllRegisterRows(df: DataFrame, cols: Seq[String],
      groups: Seq[(String, org.apache.spark.sql.Column)] = Nil)
      : Array[org.apache.spark.sql.Row] =
    hllRegisterFrame(df, cols, groups).collect()

  /** The melt as a FRAME (no collect): what the distributed cstats
    * bootstrap aggregates further executor-side — grouped max-rho then
    * any later max across groups is byte-identical to the flat melt
    * (max is associative), so the fold invariant holds at any grain.
    * `groups` are optional leading GROUP columns (the per-file grain
    * of the cstats sidecar; Nil = the flat batch melt). */
  private def hllRegisterFrame(df: DataFrame, cols: Seq[String],
      groups: Seq[(String, org.apache.spark.sql.Column)] = Nil)
      : DataFrame = {
    val gNames = groups.map(_._1)
    df.select(groups.map { case (n, c) => c.as(n) } :+
        explode(array(cols.map(c =>
          struct(lit(c).as("c"), col(c).cast("string").as("v"))): _*))
          .as("cv"): _*)
      .select(gNames.map(col) ++
        Seq(col("cv.c").as("c"), col("cv.v").as("v")): _*)
      .where(col("v").isNotNull)
      .selectExpr(gNames ++ Seq("c",
        "CAST(conv(substring(md5(v), 1, 15), 16, 10) AS BIGINT) AS h"): _*)
      .selectExpr(gNames ++ Seq("c", "h % 512 AS b",
        "CASE WHEN h div 512 = 0 THEN 52 " +
          "ELSE 52 - length(bin(h div 512)) END AS rho"): _*)
      .groupBy((gNames :+ "c" :+ "b").map(col): _*)
      .agg(max("rho").as("m"))
  }

  /** Metadata-only SKEW/LAYOUT ADVISOR (round 18 — the per-file
    * sketches' operator-facing readout): summarizes which namespaces
    * need compaction, which columns' file ranges interleave enough
    * that a z-order/clustered rewrite would buy skipping, and which
    * low-cardinality keys would straggle a shuffle without salting.
    * Everything derives from state the store already holds — manifest
    * fstats for the file shape, the cstats sidecar for per-file ndv
    * and bounds — NO data file opens. One row per namespace and one
    * per sketched column:
    *
    *  - ns rows: files/rows/avg-rows-per-file; advice `compact` when a
    *    namespace fragments past [[JournalStore.AdviseCompactFiles]]
    *    files (the compactNs candidate list).
    *  - column rows: `metric` = the densest file's live-rows-per-
    *    distinct-value (per-file HLL ndv — the salting signal: a
    *    shuffle keyed on this column lands at least that many rows on
    *    one task per hot key); `detail` carries the range-overlap
    *    fraction of the per-file [min, max] intervals (0 = perfectly
    *    clustered, → 1 = fully interleaved writes). Advice `salt` past
    *    [[JournalStore.AdviseSaltRowsPerKey]], else `zorder` when
    *    overlap ≥ [[JournalStore.AdviseZorderOverlap]] across ≥ 4
    *    files. Heuristic labels; the metrics are the product.
    *
    * Driver cost: O(files) manifest arithmetic + one LRU-cached
    * sidecar read — the same class as the scan pruner (an explicit
    * operator verb, not a per-commit path). */
  def advise(): Seq[JournalStore.AdviceRow] = {
    val m = manifest
    val out = Seq.newBuilder[JournalStore.AdviceRow]
    val fmap = m.fileStats
    // namespace from the PATH, decoded honestly (round 19): partition
    // directories Hive-escape special characters and spell a null ns
    // as the default-partition sentinel, so the raw captured group
    // would report "a%20b" instead of "a b" and the sentinel literal
    // instead of the null it reads back as. The manifest holds no
    // separate ns field — the directory name IS the ns record — so
    // unescaping the path segment is the manifest-faithful readout.
    def nsOf(f: String): String = {
      val sp = SegmentFiles.parse(f)
      if (sp.nsDir.contains(org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.DEFAULT_PARTITION_NAME)) ""
      else sp.nsValue.getOrElse("")
    }
    m.files.groupBy(nsOf)
      .toSeq.sortBy(_._1).foreach { case (ns, fs) =>
        val rows = fs.flatMap(fmap.get).map(_.rows)
        val total = rows.sum
        val avg = if (fs.isEmpty) 0.0 else total.toDouble / fs.size
        out += JournalStore.AdviceRow("ns", ns, fs.size.toLong, total, avg,
          s"max_file_rows=${if (rows.isEmpty) 0L else rows.max}",
          if (fs.size >= JournalStore.AdviseCompactFiles) "compact" else "")
      }
    if (m.cstatsParts.nonEmpty) {
      val types: Map[String, org.apache.spark.sql.types.DataType] =
        if (m.schemaDdl.isEmpty) Map.empty
        else org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
          .map(f => f.name -> f.dataType).toMap
      // STREAMED part-by-part (round 19): the old whole-sidecar
      // readAll pinned files × cols CStat rows (512-byte registers
      // included) on the driver; the advisory metrics only need per-
      // column accumulators — file/row counts, a running density max,
      // and the (lo, hi) range pairs for the sweep-line — so peak
      // memory is one part (through the LRU) plus O(files × cols)
      // doubles for the ranges. An explicit operator verb, same cost
      // class as before, without the register payloads.
      class ColAcc {
        var files = 0L
        var rows = 0L
        var density = 0.0
        val ranges = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      }
      val accs = scala.collection.mutable.HashMap.empty[String, ColAcc]
      def dbl(v: Option[String]): Option[Double] =
        v.flatMap(x => scala.util.Try(BigDecimal(x).toDouble).toOption)
      m.cstatsParts.foreach { p =>
        ColumnStatsSidecar.readPart(path, p).foreach { s =>
          if (fmap.contains(s.file)) {
            val a = accs.getOrElseUpdate(s.col, new ColAcc)
            a.files += 1
            a.rows += s.rows
            if (s.regs.nonEmpty) {
              val (rh, wh) = JournalStore.registerSummary(s.regs)
              if (rh != 0)
                a.density = math.max(a.density, (s.rows - s.nulls).toDouble /
                  math.max(1L, JournalStore.hllNdvEstimate(rh, wh)))
            }
            val range: Option[(Double, Double)] = types.get(s.col) match {
              case Some(org.apache.spark.sql.types.LongType |
                        org.apache.spark.sql.types.IntegerType |
                        org.apache.spark.sql.types.ShortType |
                        org.apache.spark.sql.types.ByteType |
                        org.apache.spark.sql.types.FloatType |
                        org.apache.spark.sql.types.DoubleType |
                        (_: org.apache.spark.sql.types.DecimalType)) =>
                for (lo <- dbl(s.minv); hi <- dbl(s.maxv)) yield (lo, hi)
              case Some(org.apache.spark.sql.types.TimestampType |
                        org.apache.spark.sql.types.TimestampNTZType) =>
                for (lo <- s.minus; hi <- s.maxus)
                  yield (lo.toDouble, hi.toDouble)
              case _ => None
            }
            range.foreach(a.ranges += _)
          }
        }
      }
      accs.toSeq.sortBy(_._1).foreach { case (c, a) =>
        // sweep-line: how many files' ranges intersect an EARLIER
        // file's (in min order)? Declined (-1) unless every file
        // carries bounds — a partial overlap count would mislead
        val overlap =
          if (a.ranges.size < 2 || a.ranges.size.toLong != a.files) -1.0
          else {
            val sorted = a.ranges.sortBy(_._1)
            var over = 0
            var hiMax = Double.NegativeInfinity
            sorted.foreach { case (lo, hi) =>
              if (lo <= hiMax) over += 1
              hiMax = math.max(hiMax, hi)
            }
            over.toDouble / (a.ranges.size - 1)
          }
        val advice =
          if (a.density >= JournalStore.AdviseSaltRowsPerKey) "salt"
          else if (overlap >= JournalStore.AdviseZorderOverlap &&
            a.files >= 4) "zorder"
          else ""
        out += JournalStore.AdviceRow("column", c, a.files, a.rows,
          a.density, f"overlap=$overlap%.2f", advice)
      }
    }
    out.result()
  }

  /** Exact row count the last [[analyze]] ran at; None if never run. */
  def analyzedRowCount: Option[Long] =
    manifest.meta.get(JournalStore.StatsRowsKey).map(_.toLong)

  /** Per-column stats of the last [[analyze]] run (column → record);
    * empty if never run. min/max are the canonical string casts of the
    * typed extrema; None for all-null columns. */
  def analyzedColumnStats: Map[String, JournalStore.ColumnStatRecord] = {
    val meta = manifest.meta
    meta.keys.collect {
      case k if k.startsWith(JournalStore.StatsColPrefix) &&
        k.endsWith(".ndv") =>
        k.stripPrefix(JournalStore.StatsColPrefix).stripSuffix(".ndv")
    }.map { c =>
      val p = JournalStore.StatsColPrefix + c + "."
      c -> JournalStore.ColumnStatRecord(
        nulls = meta(p + "nulls").toLong,
        ndv = meta(p + "ndv").toLong,
        regsHit = meta(p + "regs").toLong,
        whit = meta(p + "whit").toLong,
        min = meta.get(p + "min"),
        max = meta.get(p + "max"))
    }.toMap
  }

  /** The table-property prefix under which CHECK constraints live —
    * Delta's `delta.constraints.<name>` idea verbatim: the constraint
    * is ordinary manifest metadata, so it rides clones, survives
    * reopen, and reverts with RESTORE like any other table property. */
  private[journal] val ConstraintPrefix = "constraint."

  /** Active CHECK constraints, name → SQL predicate. */
  def constraints: Map[String, String] = manifest.meta.collect {
    case (k, v) if k.startsWith(ConstraintPrefix) =>
      k.stripPrefix(ConstraintPrefix) -> v
  }

  /** Active column DEFAULTs, column → SQL literal text (see
    * [[JournalStore.SetDefault]]; applied by append() to absent
    * pinned-DDL columns, and surfaced to Spark's INSERT resolution
    * through the V2 table's field metadata). */
  def columnDefaults: Map[String, String] = manifest.meta.collect {
    case (k, v) if k.startsWith(JournalStore.DefaultPrefix) =>
      k.stripPrefix(JournalStore.DefaultPrefix) -> v
  }

  /** GENERATED columns, column → generation-expression SQL (see
    * [[JournalStore.GeneratedPrefix]]). */
  def generatedColumns: Map[String, String] = manifest.meta.collect {
    case (k, v) if k.startsWith(JournalStore.GeneratedPrefix) =>
      k.stripPrefix(JournalStore.GeneratedPrefix) -> v
  }

  /** IDENTITY columns, column → (start, step, allowExplicit, used). */
  def identityColumns: Map[String, JournalStore.IdentitySpec] =
    manifest.meta.collect {
      case (k, v) if k.startsWith(JournalStore.IdentityPrefix) =>
        k.stripPrefix(JournalStore.IdentityPrefix) ->
          JournalStore.parseIdentity(v)
    }

  /** ALTER TABLE ... SYNC IDENTITY (Delta's verb): re-arm an identity
    * column's counter past the column's current maximum, so generation
    * resumes collision-free after GENERATED BY DEFAULT explicit inserts
    * (which deliberately do not advance the counter). One column-pruned
    * max scan; the counter update is its own tiny commit. Never moves
    * the counter backwards. */
  def syncIdentity(column: String): Unit = {
    requireWritable()
    val spec = identityColumns.getOrElse(column,
      throw new IllegalArgumentException(
        s"no identity column '$column' (identity columns: " +
          s"${identityColumns.keys.toSeq.sorted.mkString(", ")})"))
    val mx = scanUnordered().agg(max(col(column))).collect()(0)
    if (!mx.isNullAt(0)) {
      val maxVal = mx.getLong(0)
      // smallest used' with start + used'·step > maxVal (step may be
      // negative: "past" means beyond in the step's direction)
      val usedPast =
        if (spec.step > 0) math.max(0L,
          Math.floorDiv(maxVal - spec.start, spec.step) + 1L)
        else math.max(0L,
          Math.floorDiv(spec.start - maxVal, -spec.step) + 1L)
      if (usedPast > spec.used) retryOnLostRace {
        val m = manifest
        commitSeam()
        writeManifest(path, m.copy(op = "sync-identity",
          meta = m.meta + ((JournalStore.IdentityPrefix + column) ->
            JournalStore.packIdentity(spec.copy(used = usedPast)))))
      }
    }
  }

  /** Add a CHECK constraint (Delta's ALTER TABLE ADD CONSTRAINT): a SQL
    * predicate every FUTURE append/merge batch must satisfy, enforced
    * atomically — one violating row rejects the whole batch BEFORE any
    * file is written, so nothing ever becomes visible and nothing needs
    * cleanup. SQL CHECK semantics: a row violates only when the
    * predicate is FALSE; NULL/UNKNOWN passes (the standard's rule, and
    * Delta's). Existing data is validated first, like Delta: adding a
    * constraint the current state already violates is refused with a
    * witness row — a constraint must be an invariant, not an
    * aspiration. Cost at scale: the add pays one column-pruned scan of
    * current state; each append then pays one extra pass over ITS OWN
    * batch (batch-sized, never store-sized). */
  def addConstraint(name: String, sql: String): Unit = {
    requireWritable()
    require(name.matches("[A-Za-z0-9_]+"),
      s"constraint name '$name' must match [A-Za-z0-9_]+")
    val m = manifest
    require(!m.meta.contains(ConstraintPrefix + name),
      s"constraint '$name' already exists: ${m.meta(ConstraintPrefix + name)}")
    // syntax check even on an empty store; resolution is checked by the
    // existing-data scan below (and by every append after)
    spark.sessionState.sqlParser.parseExpression(sql)
    if (m.files.nonEmpty) {
      val bad = scanUnordered()
        .where(coalesce(not(expr(sql)), lit(false))).limit(1).collect()
      require(bad.isEmpty,
        s"cannot add CHECK constraint '$name' ($sql): existing rows " +
          s"violate it, e.g. ${bad.head}")
    }
    setMeta(Map(ConstraintPrefix + name -> sql))
    // Validate-then-commit has a window: a concurrent append that
    // started before this constraint became visible may land violating
    // rows between our scan and the setMeta CAS (it validated against
    // the OLD constraint set — legitimately). Semantic re-validation
    // after the commit closes it: the constraint is visible now, so no
    // FURTHER violating append can commit, and if the window admitted
    // one we roll the constraint back and fail loudly — a constraint
    // must hold from the moment it exists, never "except for that one
    // racing batch" (the conflict-matrix rule: re-derive against the
    // fresh manifest, abort precisely when semantics can't be rebased).
    if (manifest.maxSeq != m.maxSeq) {
      val bad = scanUnordered()
        .where(coalesce(not(expr(sql)), lit(false))).limit(1).collect()
      if (bad.nonEmpty) {
        unsetMeta(Seq(ConstraintPrefix + name))
        throw new IllegalArgumentException(
          s"cannot add CHECK constraint '$name' ($sql): a concurrent " +
            s"append committed rows violating it during the add, e.g. " +
            s"${bad.head}; the constraint was rolled back")
      }
    }
  }

  /** Drop a CHECK constraint by name. */
  def dropConstraint(name: String): Unit = {
    requireWritable()
    require(manifest.meta.contains(ConstraintPrefix + name),
      s"no CHECK constraint '$name' " +
        s"(active: ${constraints.keys.toSeq.sorted.mkString(", ")})")
    unsetMeta(Seq(ConstraintPrefix + name))
  }

  /** Shallow CLONE (Delta's CLONE TABLE): an independent store at
    * `dest` over THIS store's current snapshot, with ZERO data copy —
    * every referenced segment file, sidecar part, deletion-vector part
    * and checkpoint file is HARD-LINKED (same filesystem; falls back
    * to a copy where links aren't supported). Hard links — not a
    * shared manifest — make the clone genuinely independent: the
    * source's vacuum() unlinks only its own names (the clone's link
    * keeps the bytes), appends/compactions/erasures on either side
    * never touch the other, and there is NO cross-store GC hazard
    * (the caveat Delta documents for its shallow clones). Sidecar
    * part NAMES are reused, so the clone's first commit writes no
    * stats bytes. Streaming exactly-once marks reset: a clone is a
    * new table — a fresh sink's batch 0 must not be swallowed by the
    * source's high-water mark. The dev-branch move for a 100 TB
    * table: clone, experiment destructively, drop the directory. */
  def cloneTo(dest: String): JournalStore = {
    val m = manifest
    require(!JournalStore.exists(dest),
      s"journal store already exists at $dest")
    Files.createDirectories(Paths.get(dest))
    // Retry-safe: the manifest commits LAST, so a failure mid-link leaves
    // dest as links with no store (exists() stays false and the guard
    // above passes again). A retry must then tolerate the links the
    // failed attempt already made — FileAlreadyExistsException with
    // identical content (same inode, or equal bytes from a copy
    // fallback) is "already done", anything else propagates.
    def link(srcP: java.nio.file.Path, dstP: java.nio.file.Path): Unit = {
      Files.createDirectories(dstP.getParent)
      def copyOver(): Unit =
        Files.copy(srcP, dstP, StandardCopyOption.COPY_ATTRIBUTES,
          StandardCopyOption.REPLACE_EXISTING)
      try Files.createLink(dstP, srcP)
      catch {
        // "already done" is accepted ONLY on inode identity: a
        // size-equal file at dest could be a stale leftover from a
        // DIFFERENT failed clone with different bytes — trusting
        // length equality would silently adopt it into the new store.
        // Anything else at dest is replaced (delete + re-link, copy
        // fallback where links aren't supported) — idempotent: at
        // worst a retry re-copies bytes it already copied.
        case _: java.nio.file.FileAlreadyExistsException =>
          if (!Files.isSameFile(srcP, dstP)) {
            Files.deleteIfExists(dstP)
            try Files.createLink(dstP, srcP)
            catch {
              case _: UnsupportedOperationException |
                   _: java.nio.file.FileSystemException => copyOver()
            }
          }
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          copyOver()
      }
    }
    m.files.foreach(f =>
      link(Paths.get(segDir, f), Paths.get(dest, "segments", f)))
    RootSidecar.partsOf(m.files).getOrElse(Nil).foreach(p =>
      link(RootSidecar.dir(path).resolve(p), RootSidecar.dir(dest).resolve(p)))
    FileStatsSidecar.partsOf(m.fstats).getOrElse(Nil).foreach(p =>
      link(FileStatsSidecar.dir(path).resolve(p),
        FileStatsSidecar.dir(dest).resolve(p)))
    m.cstatsParts.foreach(p =>
      link(ColumnStatsSidecar.dir(path).resolve(p),
        ColumnStatsSidecar.dir(dest).resolve(p)))
    m.dvParts.foreach(p =>
      link(Paths.get(dvDir, p), Paths.get(dest, "dv", p)))
    m.checkpoints.foreach { c =>
      val srcCk = Paths.get(ckptDir(c))
      if (Files.exists(srcCk)) {
        val walk = Files.walk(srcCk)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
            link(p, Paths.get(dest, "checkpoints", s"seq=$c")
              .resolve(srcCk.relativize(p).toString))
          }
        } finally walk.close()
      }
    }
    JournalStore.writeManifest(dest, m.copy(op = "clone", version = 0L, lastBatchId = -1L,
      writerMarks = Map.empty), cas = false)
    JournalStore.open(spark, dest)
  }

  /** RESTORE (Delta's RESTORE TABLE … VERSION AS OF): make the CURRENT
    * table state the content of retained version `version`, committed
    * as a NEW version — history is never rewritten, the rollback is
    * itself a commit (and can be rolled back again). Data files are
    * safe by construction: vacuum() keeps every file a retained
    * version references, and the restore re-referencing them makes
    * them current again. maxSeq rolls back with the state, so appends
    * after a restore re-enter the abandoned seq range — exactly "the
    * table as of V, moving forward from there". Streaming exactly-once
    * marks roll back too: a sink whose batch landed in the abandoned
    * history re-appends it on resume, which is the correct replay.
    *
    * STREAMING-READER caveat (the one Delta documents for RESTORE):
    * a RUNNING `readStream` of this store tracks its offset as a seq
    * high-water mark. Rolling maxSeq back BELOW a reader's committed
    * offset makes the re-entered seq range invisible to that reader —
    * it will silently skip every re-appended row until seqs grow past
    * its old offset. Restart such streams with a fresh checkpoint (or
    * `startingSeq`) after a restore that moves maxSeq backwards; the
    * rollback is logged as a warning for exactly this reason. */
  /** RESTORE TO TIMESTAMP (Delta's second restore form): roll back to
    * the newest RETAINED version whose commit wall clock is at or
    * before `t` — the same commitTsMs axis TIMESTAMP AS OF reads
    * resolve on. O(retained versions) manifest parses, then the
    * ordinary version restore (same abort-on-race contract). */
  def restoreToTs(t: java.sql.Timestamp): Unit = {
    val target = versions()
      .flatMap(v => JournalStore.readManifestVersion(path, v))
      .filter(_.commitTsMs <= t.getTime)
      .map(_.version).sorted.lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"journal store at $path retains no manifest version committed " +
          s"at or before $t (retained: ${versions().mkString(", ")})"))
    restore(target)
  }

  def restore(version: Long): Unit = {
    requireWritable()
    val target = readManifestVersion(path, version).getOrElse(
      throw new IllegalArgumentException(
        s"journal store at $path retains no manifest version $version " +
          s"(retained: ${versions().mkString(", ")})"))
    val cur = manifest
    if (target.maxSeq < cur.maxSeq)
      org.slf4j.LoggerFactory.getLogger(classOf[JournalStore]).warn(
        s"journal restore at $path rolls maxSeq ${cur.maxSeq} -> " +
          s"${target.maxSeq}: any RUNNING stream whose committed offset " +
          "exceeds the new maxSeq will silently skip re-appended rows — " +
          "restart those streams with a fresh checkpoint")
    commitSeam()
    // restore deliberately does NOT retry a lost CAS: the concurrent
    // commit changed the very state the caller asked to roll back over,
    // and silently discarding it (which a blind re-run would do) is the
    // one outcome the conflict matrix must never produce. Abort with
    // the decision returned to the caller.
    try writeManifest(path, target.copy(op = "restore", version = cur.version))
    catch { case _: java.util.ConcurrentModificationException =>
      throw new java.util.ConcurrentModificationException(
        s"journal restore at $path lost the commit race: a concurrent " +
          s"writer committed after version ${cur.version} was snapshotted. " +
          "A restore that auto-retried would silently wipe that commit — " +
          "re-examine the store state and re-run restore explicitly if " +
          "rolling back over it is intended")
    }
  }

  /** Change-data-feed between two committed versions: every row the
    * journal gained after `fromVersion`'s high-water mark, up to
    * `toVersion`'s (seq ∈ (m1.maxSeq, m2.maxSeq]), in seq order.
    *
    * The delta is defined by SEQ BOUNDS, not a file diff: compaction
    * rewrites old rows into new files, so "files in v2 but not v1"
    * re-emits every compacted row — seq monotonicity makes the bound
    * form exact under any interleaving of appends, compactions and
    * checkpoints. Reads v2's snapshot with per-file seq stats pruning
    * the pre-v1 files, so a tail CDC poll on a 100 TB journal opens
    * only the files the delta actually touches. Both versions must
    * still be retained (same rule as openAt). */
  def changesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"changesBetween: fromVersion $fromVersion > toVersion $toVersion")
    def mOf(v: Long) = readManifestVersion(path, v).getOrElse(
      throw new IllegalArgumentException(
        s"journal store at $path retains no manifest version $v " +
          s"(retained: ${versions().mkString(", ")})"))
    val m1 = mOf(fromVersion); val m2 = mOf(toVersion)
    val lo = m1.maxSeq; val hi = m2.maxSeq
    val files = SegmentFiles.prune(m2, Probe(seq = Some((lo + 1, Long.MaxValue))))
    canonicalSurface(readSegmentsOver(files, m2.schemaDdl, m2.dvParts))
      .where(col("seq") > lo && col("seq") <= hi)
      .select("seq", "ns", "ukey", "ts", "payload", "val").orderBy("seq")
  }

  private def requireWritable(): Unit =
    require(pinnedVersion.isEmpty,
      "this is a read-only view pinned at manifest version " +
        s"${pinnedVersion.get}; open the store without a version to write")

  /** Test seam: fired ONCE, right before the next commit CAS this
    * handle attempts (append / deleteWhere / deleteWhereDv / compact).
    * Lets a spec inject a concurrent writer's commit deterministically
    * between an operation's manifest snapshot and its own commit —
    * the writer-conflict matrix is untestable by timing alone. No-op
    * in production. */
  private[journal] var onCommitSeam: () => Unit = () => ()
  private def commitSeam(): Unit = {
    val h = onCommitSeam
    onCommitSeam = () => ()
    h()
  }

  /** The writer-conflict contract for MAINTENANCE ops (the Delta
    * conflict-matrix idea, collapsed to one rule): an operation that
    * loses the manifest CAS re-derives itself COMPLETELY against the
    * fresh manifest — deleteWhere re-probes candidates, compact
    * re-filters victims to still-live files — so the retry's commit
    * describes the real current state (semantic re-validation, not a
    * blind file-list rebase). Rows can neither be lost (the loser's
    * output was never referenced; vacuum sweeps its orphans) nor
    * resurrected (each attempt reads the then-current snapshot).
    * Bounded like append's loop; a persistently hot store escapes with
    * the original error. restore() deliberately does NOT retry — see
    * its catch site. */
  private def retryOnLostRace[A](body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch { case e: java.util.ConcurrentModificationException =>
        attempt += 1
        if (attempt > JournalStore.MaxCommitRetries) throw e
        Thread.sleep(25L * attempt + math.abs(path.hashCode % 17))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Append a batch. `df` columns: (ns, ukey, ts, payload, val). Seqs are
    * assigned `maxSeq+1 ..` in deterministic (ts, ns, ukey, payload) order;
    * pass a `seq` column to keep caller-assigned seqs (must be dense and
    * > maxSeq). Single-writer, like the reference. */
  def append(df: DataFrame): Long = append(df, None)

  /** Append with a streaming micro-batch id: a batch at or below the
    * manifest's high-water `lastBatchId` is a replay after recovery and
    * is skipped — exactly-once ingest for the `journal` streaming sink.
    * The id rides the SAME manifest swap that makes the data visible, so
    * there is no window where data committed but the id didn't.
    *
    * Concurrency: appends are optimistic. The manifest CAS serializes
    * commits; a writer that loses the race gets
    * ConcurrentModificationException BEFORE anything became visible and
    * simply re-runs the whole attempt against the fresh manifest — seqs
    * re-assign above the winner's high-water mark, the loser's orphan
    * segment/sidecar files are never referenced (vacuum sweeps them), and
    * the winner's commit is untouched. Bounded at
    * [[JournalStore.MaxCommitRetries]] rebases, then the CME escapes
    * loudly (a genuinely hot multi-writer store needs coordination this
    * embedded store doesn't provide). This is what lets two streaming
    * sinks share one store; REWRITE ops (compact/deleteWhere) handle a
    * lost race by re-deriving the whole operation against the fresh
    * manifest (see retryOnLostRace — semantic re-validation, not a
    * file-list rebase), and restore() aborts loudly on purpose. Note
    * exactly-once batch dedup is per-store, not per-sink: two sinks
    * sharing a store must feed disjoint batch-id spaces (each sink's
    * checkpoint dir does this). */
  def append(df: DataFrame, streamBatchId: Option[Long]): Long =
    append(df, streamBatchId, "")

  /** `writerId` keys the exactly-once batch high-water mark: every sink
    * sharing the store deduplicates against ITS OWN mark (Spark restarts
    * every query's batch ids from 0, so a shared scalar mark would make
    * one sink's progress swallow another's batches). "" = the legacy
    * single-writer mark (`lastBatchId`). */
  def append(df: DataFrame, streamBatchId: Option[Long],
             writerId: String): Long = {
    var attempt = 0
    while (true) {
      try return appendOnce(df, streamBatchId, writerId)
      catch { case e: java.util.ConcurrentModificationException =>
        attempt += 1
        if (attempt > JournalStore.MaxCommitRetries) throw e
        // linear backoff, deterministically staggered by identity so two
        // lock-stepped writers de-synchronize without an RNG
        Thread.sleep(25L * attempt + math.abs(path.hashCode % 17))
      }
    }
    -1L // unreachable
  }

  /** `internalRewrite` marks a STATE re-append (updateWhere's rewritten
    * current rows, merge's routed delta) as opposed to a user batch:
    * identity values the state already carries pass through VERBATIM
    * (the GENERATED ALWAYS refusal guards user inserts, not the store
    * re-writing its own assigned values), and GENERATED columns are
    * RECOMPUTED from the post-assignment row instead of validated
    * against the carried pre-update value (Delta recomputes generated
    * columns on UPDATE for the same reason: the carried value describes
    * the row before the assignment). NULL identity cells still generate
    * (a merge delta's insert route arrives NULL), and user-facing
    * appends keep both guards. */
  private def appendOnce(df0: DataFrame, streamBatchId: Option[Long],
                         writerId: String,
                         internalRewrite: Boolean = false): Long = {
    requireWritable()
    val m0 = manifest
    val replayMark =
      if (writerId.isEmpty) m0.lastBatchId
      else m0.writerMarks.getOrElse(writerId, -1L)
    if (streamBatchId.exists(_ <= replayMark)) return m0.maxSeq
    val required = Seq("ns", "ukey", "ts", "payload", "val")
    val missing = required.filterNot(df0.columns.contains)
    require(missing.isEmpty,
      s"journal append requires columns $required; missing: $missing")
    // Fail fast on incompatible column-type changes: the batch's parquet
    // files are written with the batch's physical types, so accepting a
    // conflicting type here would defer the failure to an arbitrary later
    // read through the pinned manifest schema (or silently coerce).
    // Schema evolution ADDS columns; it never retypes one.
    val df1 = if (m0.schemaDdl.isEmpty) df0 else {
      val prev = org.apache.spark.sql.types.StructType.fromDDL(m0.schemaDdl)
        .map(f => f.name -> f.dataType).toMap
      // timestamp FLAVOR differences (LTZ ↔ NTZ) are normalized to the
      // pinned flavor instead of refused: a catalog-declared TIMESTAMP
      // table must accept the parquet fixture's NTZ reads (the session
      // timezone is pinned UTC project-wide, so the cast is
      // deterministic), and the physical files stay homogeneous
      val tsKinds: Set[org.apache.spark.sql.types.DataType] = Set(
        org.apache.spark.sql.types.TimestampType,
        org.apache.spark.sql.types.TimestampNTZType)
      val df1 = df0.schema.foldLeft(df0) { (acc, f) =>
        prev.get(f.name) match {
          case Some(want) if want != f.dataType &&
              tsKinds(want) && tsKinds(f.dataType) =>
            acc.withColumn(f.name, col(f.name).cast(want))
          case _ => acc
        }
      }
      df1.schema.filterNot(_.name == "ns").foreach { f =>
        prev.get(f.name).foreach { want =>
          require(f.dataType == want,
            s"journal append: column '${f.name}' has type ${f.dataType.sql} " +
              s"but the store schema pins ${want.sql}; cast the batch " +
              "explicitly (schema evolution adds columns, never retypes)")
        }
      }
      df1
    }
    // A dropped column's bytes still live inside un-compacted pre-drop
    // files; re-adding the name would resurrect them (parquet reads by
    // name) — refuse until a full compact() physically forgets them.
    // See dropColumn's doc.
    val readd = df0.columns.filter(c =>
      m0.droppedCols.exists(_.equalsIgnoreCase(c)))
    require(readd.isEmpty,
      s"journal append: column(s) ${readd.mkString(", ")} were DROPPED and " +
        "their pre-drop bytes still live in un-compacted segment files — " +
        "re-adding the name now would resurface pre-drop values on read. " +
        "compact() the store first (a full rewrite forgets the bytes and " +
        "re-opens the name), or use a different column name")
    // Column DEFAULTs (ALTER COLUMN ... SET DEFAULT): a pinned-DDL
    // column that carries a default and is ABSENT from the batch is
    // materialized as the default literal cast to its DDL type —
    // instead of the read-time null-fill an evolved column otherwise
    // gets. A PRESENT column is untouched (an explicit NULL stays
    // NULL), and rows written before the default keep what they were
    // written with (Delta's write-time default semantics). Runs before
    // constraint checks so constraints see the final row values.
    val ddlCols: Map[String, org.apache.spark.sql.types.DataType] =
      if (m0.schemaDdl.isEmpty) Map.empty
      else org.apache.spark.sql.types.StructType.fromDDL(m0.schemaDdl)
        .map(f => f.name -> f.dataType).toMap
    // IDENTITY columns (GENERATED { ALWAYS | BY DEFAULT } AS IDENTITY):
    // values are assigned below as a pure projection off the batch's
    // deterministic seqs; ALWAYS refuses explicit values up front
    val idSpecs = m0.meta.collect {
      case (k, v) if k.startsWith(JournalStore.IdentityPrefix) =>
        (k.stripPrefix(JournalStore.IdentityPrefix),
          JournalStore.parseIdentity(v))
    }
    // Which identity columns need value assignment: the column is
    // absent, or present with NULL cells (a MERGE/UPDATE delta carries
    // every target column, so its inserted rows arrive with the
    // identity column as NULL — those cells generate; provided non-null
    // values pass only under BY DEFAULT). One limit-1 probe per
    // identity column, only when the column is present.
    val idNeedsFill: Map[String, Boolean] = idSpecs.map { case (c, spec) =>
      val hasCol = df0.columns.contains(c)
      // the non-null probe only feeds the ALWAYS refusal, which internal
      // state rewrites bypass — skip the job there
      val hasNonNull = !internalRewrite && hasCol &&
        df0.where(col(c).isNotNull).limit(1).collect().nonEmpty
      require(internalRewrite || spec.allowExplicit || !hasNonNull,
        s"journal append: column '$c' is GENERATED ALWAYS AS IDENTITY — " +
          "explicit values are not accepted (declare it GENERATED BY " +
          "DEFAULT AS IDENTITY to allow them)")
      val hasNull = !hasCol ||
        df0.where(col(c).isNull).limit(1).collect().nonEmpty
      c -> hasNull
    }.toMap
    val df = {
      val defaulted = m0.meta.collect {
        case (k, v) if k.startsWith(JournalStore.DefaultPrefix) =>
          (k.stripPrefix(JournalStore.DefaultPrefix), v)
      }.foldLeft(df1) { case (acc, (c, sqlTxt)) =>
        if (acc.columns.contains(c)) acc
        else ddlCols.get(c) match {
          case Some(dt) => acc.withColumn(c, expr(sqlTxt).cast(dt))
          case None => acc // default on a not-yet-pinned column: no-op
        }
      }
      // GENERATED columns (GENERATED ALWAYS AS): absent → computed from
      // the batch's own columns; present → validated below with the
      // constraint pass (a provided value that disagrees with the
      // expression rejects the batch — Delta's rule). Runs after the
      // defaults fill so a generation expression may reference a
      // defaulted column.
      m0.meta.collect {
        case (k, v) if k.startsWith(JournalStore.GeneratedPrefix) =>
          (k.stripPrefix(JournalStore.GeneratedPrefix), v)
      }.foldLeft(defaulted) { case (acc, (c, genSql)) =>
        val gen = ddlCols.get(c).fold(expr(genSql))(expr(genSql).cast)
        // an internal state rewrite RECOMPUTES from the post-assignment
        // row (the carried value describes the pre-update row)
        if (internalRewrite || !acc.columns.contains(c))
          acc.withColumn(c, gen)
        // a present-but-NULL cell computes too: a MERGE/UPDATE delta
        // carries every target column, so its inserted rows arrive
        // with the generated column as NULL — Delta's "generated
        // columns cannot be set to NULL" rule, realized as compute
        else acc.withColumn(c, coalesce(col(c), gen))
      }
    }
    // provided NON-NULL generated-column values must EQUAL the
    // expression — checked like constraints: one codegen'd pass, first
    // violation rejects atomically before any byte lands (internal
    // rewrites recompute above, so there is nothing to validate)
    if (!internalRewrite) m0.meta.collect {
      case (k, v) if k.startsWith(JournalStore.GeneratedPrefix) &&
        df0.columns.contains(k.stripPrefix(JournalStore.GeneratedPrefix)) =>
        (k.stripPrefix(JournalStore.GeneratedPrefix), v)
    }.foreach { case (c, genSql) =>
      val bad = df.where(!(col(c) <=> expr(genSql))).limit(1).collect()
      require(bad.isEmpty,
        s"journal append: generated column '$c' = $genSql was provided " +
          s"with a disagreeing value, e.g. ${bad.headOption.orNull}; " +
          "the batch was rejected atomically (omit the column to have " +
          "the store compute it)")
    }
    // CHECK constraints (see addConstraint): ONE pass over the batch
    // evaluates every active constraint (an array of when()s, all
    // codegen'd) and the first violating row rejects the whole batch —
    // BEFORE the stage write, so the failed append leaves zero bytes
    // behind. merge() enforces for free (it commits through here).
    val activeCons = m0.meta.collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        (k.stripPrefix(ConstraintPrefix), v)
    }.toSeq.sortBy(_._1)
    if (activeCons.nonEmpty) {
      val violated = array(activeCons.map { case (n, sql) =>
        when(coalesce(not(expr(sql)), lit(false)), lit(n)) }: _*)
      df.select(filter(violated, _.isNotNull).as("_viol"),
          to_json(struct(df.columns.map(col): _*)).as("_row"))
        .where(size(col("_viol")) > 0).limit(1).collect()
        .headOption.foreach { r =>
          throw new IllegalArgumentException(
            s"journal append: CHECK constraint " +
              s"${r.getSeq[String](0).mkString(", ")} violated by row " +
              s"${r.getString(1)}; the batch was rejected atomically " +
              "(nothing became visible)")
        }
    }
    val m = m0
    // The batch feeds up to three passes (segment write, stats agg, and —
    // on epoch rollover — the checkpoint union), plus TWO more sketch
    // passes on stores with live mergeable ANALYZE stats. Persist when
    // we computed seqs (shuffle+zipWithIndex lineage is worth keeping)
    // OR when the incremental-stats passes will run; a caller-seq
    // batch on an un-analyzed store stays a cheap projection of its
    // parquet source, and the MEASURED tradeoff (sf0.1, 600k rows) is
    // ~1.7 s to populate the columnar cache vs ~0.6 s total for the
    // two extra re-scans — the extra scans win THERE, and we accept
    // them explicitly; with the sketch passes the scan count doubles
    // and the cache wins, so analyzed stores persist.
    val statsLive = m0.meta.contains(JournalStore.StatsRowsKey)
    val hasSeq = df.columns.contains("seq")
    val withSeq = if (hasSeq) df else assignSeqs(df, m.maxSeq)
    val out0 = withSeq.withColumn("epoch", expr(s"seq div $epochSize"))
    // identity values = start + (used + rank)·step, rank = the row's
    // position in THIS batch's deterministic seq order — a pure
    // projection, no extra shuffle, unique across appends because the
    // consumed count rides the same manifest commit as the data.
    // Explicitly-provided values (BY DEFAULT form) pass through
    // verbatim and do not advance the counter (Delta's rule; gaps are
    // fine, identity promises uniqueness, not contiguity).
    val out1 = idSpecs.foldLeft(out0) { case (acc, (c, spec)) =>
      val v0 = lit(spec.start) +
        (lit(spec.used) + col("seq") - lit(m.maxSeq + 1L)) * lit(spec.step)
      val v = ddlCols.get(c).fold(v0)(v0.cast)
      if (!acc.columns.contains(c)) acc.withColumn(c, v)
      // NULL cells generate (rank counts the whole batch, so provided
      // rows leave gaps — identity promises uniqueness, not contiguity)
      else if (idNeedsFill(c)) acc.withColumn(c, coalesce(col(c), v))
      else acc
    }
    val foldCols = JournalStore.activeStatCols(m0.meta)
    val newMax = pinned(out1, !hasSeq || statsLive) { out =>
      // ns is the store's STRUCTURAL partition key — a NULL value has no
      // directory identity (the writer drops it in the escape-prone
      // default-partition dir, colliding with any literal ns of that
      // name) and would poison every ns-keyed stats family (the mroot
      // KeyStat rows require a name). Refused at the door, riding the
      // stats pass already in hand — zero extra jobs, and BEFORE the
      // segment write, so a rejected batch never even stages bytes.
      // Downstream null-ns handling (the retention sweep's isNull arm,
      // the sketch key's NUL sentinel) stays as defense in depth, not as
      // a supported row shape.
      def vetNs(perNs: Seq[org.apache.spark.sql.Row]): Unit =
        if (perNs.exists(r => r.isNullAt(1) || r.getString(1).isEmpty))
          throw new IllegalArgumentException(
            "journal append: ns must be non-null and non-empty (the " +
              "namespace is the store's structural partition key, and the " +
              "partition writer maps BOTH null and '' to the default-" +
              "partition directory, which reads back as NULL); the batch " +
              "was rejected atomically (nothing became visible)")
      // Layout: segments/epoch=K/ns=X/ — epoch pruning bounds time-travel
      // replay, ns pruning bounds per-namespace history reads (marasa's
      // per-namespace segment files, as partition directories). The
      // writer's stats pass yields BOTH manifest stat families (the
      // Delta-style metadata that lets segmentStats() / seq-range pruning
      // / key-targeted reads skip the segment tree entirely) AND the new
      // high-water mark — no separate max(seq) job; epoch stats are the
      // driver-side rollup of the same rows. Only an append splits hot
      // directories (see AppendWriterTargetRows).
      val w = writeSegments(out, SegmentLayout.Unordered, foldCols,
        maxFileRows = maxFileRows, vet = vetNs)
      val perNs = w.perNs
      val batchStats = perNs.groupBy(_.getLong(0)).map { case (e, rs) =>
        EpochStat(e, rs.map(_.getLong(2)).sum, rs.map(_.getLong(3)).min,
          rs.map(_.getLong(4)).max)
      }.toSeq
      // all-null ukeys in an (epoch, ns) → empty range (minKey > maxKey):
      // prunes every equality probe, which is exact (NULL never equals)
      val batchK = perNs.map(r => KeyStat(r.getLong(0), r.getString(1),
        if (r.isNullAt(5)) 1L else r.getLong(5),
        if (r.isNullAt(6)) 0L else r.getLong(6), r.getLong(2)))
      val hi = if (batchStats.isEmpty) None else Some(batchStats.map(_.maxSeq).max)
      val newMax = math.max(m.maxSeq, hi.getOrElse(m.maxSeq)) // empty batch = no-op
      // Root-list deltas stay RAW: RootSidecar folds base+delta at read
      // (associative merges), so this append never loads the base lists —
      // the commit writes one small delta part however many files the
      // store already tracks (see RootSidecar's class doc).
      // Schema evolution: record the union of the prior schema and this
      // batch's columns (new columns append; existing keep their type;
      // everything nullable since other files may lack it). ns is pinned
      // STRING and epoch LONG — their read-back types as partition dirs.
      val prevSchema =
        if (m.schemaDdl.isEmpty) new org.apache.spark.sql.types.StructType()
        else org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
      val batchSchema = out.schema.map {
        case f if f.name == "ns" =>
          f.copy(dataType = org.apache.spark.sql.types.StringType)
        case f => f
      }
      val mergedSchema = org.apache.spark.sql.types.StructType(
        (prevSchema ++ batchSchema.filterNot(f =>
          prevSchema.fieldNames.contains(f.name))).map(_.copy(nullable = true)))
      // commit = manifest swap: the new data files become visible to
      // readers only when the manifest that lists them lands
      val (files2, stats2, kstats2) = RootSidecar.appended(
        m.files, m.stats, m.kstats, w.files, batchStats, batchK)
      // identity counters advance in the SAME commit as the data they
      // numbered — a lost CAS race retries the whole append against the
      // fresh counter, so values stay unique under retry
      val rowsAppended = batchStats.map(_.rows).sum
      val idMeta = idSpecs.collect {
        case (c, spec) if idNeedsFill(c) && rowsAppended > 0 =>
          (JournalStore.IdentityPrefix + c) ->
            JournalStore.packIdentity(spec.copy(used = spec.used + rowsAppended))
      }
      // incremental ANALYZE: fold this batch's column sketch into the
      // recorded stats so they stay served after the append (no-op — and
      // no extra jobs — on stores that were never analyze()d). When the
      // fold is active, the writer captures the batch sketch at (epoch,
      // ns) DIRECTORY grain — one file per directory per append, so the
      // dir sketches double as the new files' cstats sidecar rows (what
      // lets a later deleteWhere/compact REFOLD the merged stats instead
      // of declining) — at the SAME two-job cost as the flat fold; a
      // batch spanning more than MaxSketchDirs directories falls back to
      // the flat fold and skips the per-file rows (bounded driver
      // collect).
      val outTypes = out.schema.map(f => f.name -> f.dataType).toMap
      val preSketch: Option[Map[String, JournalStore.ColSketch]] =
        if (w.dirSketches.isEmpty) None
        else Some(foldCols.filter(out.columns.contains).map(c =>
          c -> JournalStore.mergeColSketches(outTypes.get(c),
            w.dirSketches.values.toSeq.map(_.cols(c)))).toMap)
      val (statsAdd, statsDrop) =
        incrementalStatsMeta(m.meta, out, rowsAppended, preSketch)
      val csRows = w.fileSketches.flatMap { case (f, ds) =>
        cstatRowsOf(f, ds, foldCols) }
      val (cstatsParts2, cstatsEnvs2): (Seq[String], Map[String, String]) =
        if (csRows.isEmpty) (m.cstatsParts, m.cstatsEnvs)
        else if (m.cstatsParts.sizeIs >= ColumnStatsSidecar.MaxParts)
          // consolidate DISTRIBUTED (round 18): live files' rows from the
          // old parts as one Spark frame + this batch's fresh rows,
          // written back flush-bounded from the write tasks — the
          // consolidated sidecar is files-proportional and must not
          // round-trip the driver. Abort-safe: an unreadable part keeps
          // the old list and lands the batch's rows as a delta part.
          consolidateCstats(m.cstatsParts, m.cstatsEnvs, files2, csRows)
        else {
          val delta = writeCstatsDelta(csRows)
          (m.cstatsParts :+ delta._1, m.cstatsEnvs + delta)
        }
      commitSeam()
      // a lost commit race leaves nothing visible; the pin is released
      // before the retry wrapper re-runs the attempt
      writeManifest(path, m.copy(op = "append", maxSeq = newMax,
        files = files2, cstatsParts = cstatsParts2, cstatsEnvs = cstatsEnvs2,
        stats = stats2, kstats = kstats2,
        fstats = FileStatsSidecar.appended(m.fstats, w.fileStats),
        lastBatchId =
          if (writerId.isEmpty) streamBatchId.getOrElse(m.lastBatchId)
          else m.lastBatchId,
        writerMarks =
          if (writerId.isEmpty || streamBatchId.isEmpty) m.writerMarks
          else m.writerMarks + (writerId -> streamBatchId.get),
        meta = m.meta -- statsDrop ++ idMeta ++ statsAdd,
        schemaDdl = mergedSchema.toDDL))
      // Automatic checkpoint policy (marasa checkpoints periodically so
      // reads are bounded by epoch size — SURVEY §0.1.5/§4.1): when this
      // append completed an epoch, materialize state at the last finished
      // epoch boundary. stateAt then replays ≤ 1 epoch of tail no matter
      // how long the journal grows, with no manual maintenance call.
      // The state source unions the PRE-append segment files with the
      // still-cached batch — re-reading what this append just wrote would
      // double the ingest IO.
      val lastCkpt = m.checkpoints.sorted.lastOption.getOrElse(-1L)
      val boundary = (newMax / epochSize) * epochSize - 1
      if (boundary > lastCkpt && newMax / epochSize > (lastCkpt max 0L) / epochSize) {
        val cols = Seq("ns", "ukey", "seq", "payload", "epoch")
        // only the pre-append files of the checkpoint's own tail epochs —
        // the rest lie below the newest checkpoint, and stateAtOver's
        // epoch filter would drop their rows after Spark listed them
        val prior = SegmentFiles.prune(m, Probe(
          tailEpochs(latestCheckpoint(m.checkpoints, boundary), boundary)))
        val priorRows =
          if (prior.nonEmpty)
            // schema-pinned AND DV-subtracted: a checkpoint built from a
            // raw file read would resurrect vector-deleted rows
            readSegmentsOver(prior, m.schemaDdl, m.dvParts)
              .selectExpr(cols: _*)
          else out.selectExpr(cols: _*).limit(0)
        val src = priorRows.unionByName(
          out.withColumn("ns", col("ns").cast("string")).selectExpr(cols: _*))
        // Post-commit maintenance is best-effort under concurrency: this
        // append IS durable; if a concurrent writer keeps winning the
        // checkpoint-registration commit, skip the cycle (the next epoch
        // rollover re-attempts) rather than failing a succeeded append.
        try writeCheckpoint(stateAtOver(src, m, boundary), boundary)
        catch { case _: java.util.ConcurrentModificationException => }
      }
      newMax
    }
    // Auto-compaction: rewrite only the directories this policy finds
    // over-fragmented (strictly more live files than the threshold),
    // clustered by key so the rewrite is also the read-optimized layout.
    // Runs AFTER the commit — the appended data is already visible and
    // durable; a crash mid-compaction loses only the rewrite. Old files
    // leave the manifest here and disk at the next vacuum().
    if (autoCompactFiles > 0) {
      val m2 = manifest
      val victims = m2.files.groupBy(SegmentFiles.parse(_).dir).collect {
        case (Some(_), fs) if fs.size > autoCompactFiles => fs
      }.flatten.toSeq
      // same best-effort rule as the checkpoint above: a lost race skips
      // this compaction cycle, it never fails the durable append
      if (victims.nonEmpty)
        try compactFiles(victims, SegmentLayout.ByKey)
        catch { case _: java.util.ConcurrentModificationException => }
    }
    // auto-maintenance cadence (see withAutoMaintain): keyed on the
    // BATCH id so restarts and per-batch sink handles keep the rhythm;
    // a batch-less caller sweeps every append. Best-effort like the
    // auto-compaction above — a lost race skips the cycle, never fails
    // the durable append. (A malformed retention spec still throws:
    // that is a configuration error, not a race.) Round 19: the cycle
    // also runs the advisor-driven LAYOUT pass — fragmented namespaces
    // compact and advised z-order columns cluster with no explicit
    // CALL (the zorder latch makes re-advice on an already-acted set a
    // no-op, so steady state is metadata-only).
    if (autoMaintainBatches > 0 &&
        streamBatchId.forall(_ % autoMaintainBatches == 0))
      try { maintain(); maintainLayout() }
      catch { case _: java.util.ConcurrentModificationException => }
    newMax
  }

  /** Assign dense seqs `startSeq+1 ..` in total (ts, ns, ukey, payload,
    * <remaining columns>) order WITHOUT a global window (a no-partition
    * window moves the whole batch into one task — THE ingest bottleneck
    * at scale) and WITHOUT an RDD hop (the zipWithIndex bridge this
    * replaces dropped codegen, paid Row ser/deser, and recomputed the
    * sort for its count pass): range-repartition on the order key +
    * local sort = global order across partition index;
    * monotonically_increasing_id's low 33 bits are the 0-based row index
    * within the physical partition (evaluated in row order above the
    * sort); per-partition counts come off the UNSORTED side of the
    * reused range exchange (counting is order-invariant, so the sort
    * runs once); their prefix sums are array arithmetic on the one
    * collected count row, broadcast-joined back on the partition id.
    * Every stage is fully parallel and codegen'd. */
  private[journal] def assignSeqs(df: DataFrame, startSeq: Long): DataFrame = {
    // Sort on ALL columns (primary order key first, then the remaining
    // columns in name order) so the total order — and therefore the
    // seq<->row association — is deterministic even for rows that tie on
    // (ts, ns, ukey, payload) but differ elsewhere (e.g. `val`).
    val primary = Seq("ts", "ns", "ukey", "payload")
    val rest = df.columns.filterNot(primary.contains).sorted.toSeq
    val key = (primary ++ rest).map(col)
    // EXPLICIT partition count: a count-less repartitionByRange is
    // REPARTITION_BY_COL, which AQE may coalesce PER READER — measured
    // under a persisted plan, the data branch read the exchange raw
    // while the counts branch read it coalesced, so the partition ids
    // disagreed and the offset join dropped rows. REPARTITION_BY_NUM is
    // never coalesced: both branches see identical partitioning.
    val nParts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val bucketed = df.repartitionByRange(nParts, key: _*)
    val sorted = bucketed.sortWithinPartitions(key: _*)
      .withColumn("__graft_pid", spark_partition_id())
      .withColumn("__graft_li",
        monotonically_increasing_id().bitwiseAND((1L << 33) - 1))
    val counts = bucketed.select(spark_partition_id().as("__graft_pid"))
      .groupBy("__graft_pid").agg(count(lit(1)).as("cnt"))
    val offsets = counts
      .agg(sort_array(collect_list(struct(col("__graft_pid"), col("cnt"))))
        .as("pc"))
      .select(explode(expr(
        "transform(pc, (x, i) -> named_struct('__graft_pid', x.__graft_pid, " +
          "'off', aggregate(slice(pc, 1, i), 0L, (acc, y) -> acc + y.cnt)))"))
        .as("o"))
      .select(col("o.__graft_pid").as("__graft_pid"), col("o.off").as("__graft_off"))
    sorted.join(broadcast(offsets), "__graft_pid")
      .withColumn("seq",
        lit(startSeq + 1L) + col("__graft_off") + col("__graft_li"))
      .drop("__graft_pid", "__graft_li", "__graft_off")
  }

  /** The Z-curve position of each row over `cols`, as one LONG column —
    * pure codegen'd Catalyst arithmetic, no UDF:
    *
    *  1. Per column, an approximate-quantile pass yields up to 255
    *    boundaries (driver-side, tiny); the row's 8-bit bucket rank is
    *    `size(filter(boundaries, b -> v > b))` — a higher-order array
    *    function over a literal array, evaluated map-side. Rank
    *    bucketing is skew-proof: a hot key region still spreads across
    *    buckets by population, where linear (v-min)/(max-min) scaling
    *    would collapse it into one.
    *  2. Bucket bits interleave round-robin (bit i of column j lands at
    *    z-bit i*ncols + (ncols-1-j)), the standard Morton layout, via
    *    shiftright/AND/shiftleft — all whole-stage-codegen.
    *
    * NULL ranks as bucket 0 (comparisons with NULL filter out every
    * boundary), i.e. nulls cluster at the curve's origin. */
  private def zBucketExprs(df: DataFrame, cols: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    val bitsPerCol = 8
    cols.map { c =>
      val probs = (1 until (1 << bitsPerCol)).map(_.toDouble / (1 << bitsPerCol)).toArray
      val qs = df.select(col(c).cast("double").as("__graft_zq"))
        .stat.approxQuantile("__graft_zq", probs, 0.01)
        .toSeq.filterNot(_.isNaN).distinct
      if (qs.isEmpty) lit(0L)
      // ONE constant array literal (typedlit), not CreateArray of 255
      // Literal nodes — a single constant object the filter loop reads
      else size(filter(typedlit(qs),
        b => col(c).cast("double") > b)).cast("long")
    }
  }

  /** Morton interleave of per-column bucket COLUMNS (bit i of column j
    * lands at z-bit i*ncols + (ncols-1-j)). The bucket ranks MUST be
    * materialized as columns before this is used as a sort key: an
    * earlier version inlined the 255-boundary rank expression into all
    * 8 bit extractions, so the tree carried 16 copies of the filter
    * lambda and the sort evaluated every copy per row — a measured 10×
    * slowdown of the whole rewrite (8.0 s vs 0.8 s at sf0.1). With the
    * rank projected once per row, the sort key is pure bit arithmetic. */
  private def zInterleave(buckets: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column = {
    val bitsPerCol = 8
    val n = buckets.size
    buckets.zipWithIndex.map { case (b, j) =>
      (0 until bitsPerCol).map { i =>
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * n + (n - 1 - j))
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _).as("__graft_zv")
  }

  /** A private per-job staging dir under the store root. Spark's commit
    * protocol runs entirely inside it, so concurrent writer jobs never
    * share a `_temporary` tree. Dot-prefixed: parquet/Hadoop readers
    * ignore hidden dirs, so an in-flight stage is invisible to scans. */
  private def newStageDir(): String =
    s"$path/.stage-${java.util.UUID.randomUUID()}"

  // -- deletion vectors --------------------------------------------------

  private def dvDir = s"$path/dv"

  /** The DV table (file STRING, pos BIGINT) from the given manifest
    * snapshot's part list. Schema is pinned — no inference, and an empty
    * part list never reaches here (callers guard). */
  private def readDvTable(parts: Seq[String]): DataFrame =
    spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "file STRING, pos BIGINT"))
      .parquet(parts.map(p => s"$dvDir/$p"): _*)

  /** Write `rows` (file, pos) as ONE new DV part under dv/ and return its
    * name; None when the frame is empty. Staged write + single-file move,
    * like promoteStaged — the part is never referenced until the manifest
    * that lists it commits, so a crash strands an orphan vacuum sweeps. */
  private def writeDvPart(rows: DataFrame): Option[String] = {
    // an empty frame still writes a parquet part; an empty VECTOR must
    // read back as "no vectors" (dvParts = Nil) or every fast-path gate
    // (columnar scan, aggregate pushdown) stays off forever
    if (rows.isEmpty) return None
    val stage = newStageDir()
    rows.select(col("file"), col("pos")).coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val stRoot = Paths.get(stage)
    val found = {
      val walk = Files.walk(stRoot)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => p.toString.endsWith(".parquet") &&
            !p.getFileName.toString.startsWith("."))
          .toList
      } finally walk.close()
    }
    val out = found.headOption.map { p =>
      val name = s"dvpart-${java.util.UUID.randomUUID()}.parquet"
      Files.createDirectories(Paths.get(dvDir))
      Files.move(p, Paths.get(dvDir, name), StandardCopyOption.ATOMIC_MOVE)
      name
    }
    org.apache.commons.io.FileUtils.deleteQuietly(stRoot.toFile)
    out
  }

  /** DV parts after dropping every entry for `deadFiles` (files leaving
    * the manifest — their vectors are applied by the rewrite or dead with
    * the file). Consolidates to at most one part; Nil when nothing
    * survives. Old parts stay on disk for retained versions until
    * vacuum(). */
  private def dvPartsWithout(dvParts: Seq[String],
                             deadFiles: Seq[String]): Seq[String] = {
    if (dvParts.isEmpty) return Nil
    if (deadFiles.isEmpty) return dvParts
    val survivors = readDvTable(dvParts)
      .where(!col("file").isin(deadFiles.distinct.map(SegmentFiles.uriName): _*))
    writeDvPart(survivors).toSeq
  }

  /** The one segment writer: append, deleteWhere and compact turn `rows`
    * (pinned by the caller when read more than once) into live files
    * under segments/epoch=E/ns=N/ plus their per-file metadata through
    * here, and keep only their own commit. Nothing becomes visible until
    * that commit lists the files.
    *
    *  - Stats. With no `victims`, one (epoch, ns) aggregate runs FIRST
    *    (rows, seq/ukey/ts ranges, null-ts count), so the write shuffle is
    *    sized to the real directory count (partitioning derived from the
    *    data, not the session constant); `vet` sees its rows before
    *    anything is staged, and throwing aborts the write. `victims` =
    *    (files, their stats) marks a rewrite of whole directories: no
    *    stats pass (it would cost 2 jobs), the new files' stats merge the
    *    victims' ([[SegmentFiles.derivedFileStats]]), and the directory
    *    count comes from the victim paths.
    *  - Side passes, overlapped with the write (guide §2.6; all read the
    *    pinned rows) after a stats pass, else run after it. The
    *    per-directory key bloom (fresh stats only) runs
    *    apart from the stats aggregate: BloomFilterAggregate is a
    *    TypedImperativeAggregate, and one such column demotes the whole
    *    codegen'd numeric aggregate to ObjectHashAggregate (measured
    *    +0.3 s per store build at sf0.1). The per-directory column
    *    sketches of `foldCols` (the cstats sidecar rows that let a later
    *    rewrite refold the merged analyze() stats) are skipped past
    *    [[JournalStore.MaxSketchDirs]] directories and on an empty batch.
    *  - Write. Repartition on (epoch, ns) into exactly as many partitions
    *    as directories: each directory is written by one task into one
    *    file, and no partition holds no directory. A directory over
    *    `maxFileRows` rows fans out over a deterministic seq-keyed salt
    *    instead (the hot-directory split, see AppendWriterTargetRows);
    *    with no hot directory the plan is the unsplit one. `layout`
    *    orders rows within each file. The job writes into a private
    *    staging dir and [[promoteStaged]] moves exactly its files into
    *    the live tree.
    *  - Metadata. A directory's aggregate, bloom and sketch describe its
    *    file only when it got exactly one file; the files of a split
    *    directory record none (unpruned, never wrong). */
  private def writeSegments(rows: DataFrame, layout: SegmentLayout,
      foldCols: Seq[String],
      victims: Option[(Seq[String], Map[String, FileStat])] = None,
      maxFileRows: Long = Long.MaxValue,
      vet: Seq[org.apache.spark.sql.Row] => Unit = _ => ()): Written = {
    val dirCols = Seq(col("epoch"), col("ns").cast("string").as("ns"))
    val perNs: Seq[org.apache.spark.sql.Row] =
      if (victims.isDefined) Nil
      else rows.groupBy(dirCols: _*)
        .agg(count(lit(1)).as("rows"), min("seq").as("mn"), max("seq").as("mx"),
          min("ukey").as("kmn"), max("ukey").as("kmx"),
          min(unix_micros(col("ts").cast("timestamp"))).as("tmn"),
          max(unix_micros(col("ts").cast("timestamp"))).as("tmx"),
          sum(when(col("ts").cast("timestamp").isNull, 1L).otherwise(0L)).as("tnull"))
        .collect().toSeq
    vet(perNs)
    val dirs = victims.fold(perNs.size)(_._1.map(SegmentFiles.parse).distinct.size)
    val sketchCols = foldCols.filter(rows.columns.contains)
    val sketch = sketchCols.nonEmpty && dirs <= JournalStore.MaxSketchDirs &&
      (victims.isDefined || perNs.nonEmpty)
    def sidePasses() = {
      val blooms: Map[(Long, String), String] =
        if (victims.isDefined) Map.empty
        else rows.groupBy(dirCols: _*).agg(keyBloomAgg.as("kbloom"))
          .collect().map { r =>
            (r.getLong(0), r.getString(1)) ->
              (if (r.isNullAt(2)) ""
               else java.util.Base64.getEncoder.encodeToString(
                 r.getAs[Array[Byte]](2)))
          }.toMap
      val sk: Map[(Long, String), DirSketches] =
        if (!sketch) Map.empty
        else dirColumnSketches(rows, sketchCols,
          rows.schema.map(f => f.name -> f.dataType).toMap)
      (blooms, sk)
    }
    def write() = {
      val hot = perNs.filter(_.getLong(2) > maxFileRows)
      val partitioned =
        if (hot.isEmpty)
          rows.repartition(math.max(1, dirs), col("epoch"), col("ns"))
        else {
          val splits = hot.map { r =>
            val k = math.min(JournalStore.AppendWriterMaxSplit.toLong,
              (r.getLong(2) + maxFileRows - 1) / maxFileRows).toInt
            (r.getLong(0), r.getString(1), k)
          }
          val extra = splits.map(_._3 - 1).sum
          // epoch carries no '/', so "epoch/ns" is injective per dir
          val hotMap = map(splits.flatMap { case (e, n, k) =>
            Seq(concat_ws("/", lit(e), lit(n)), lit(k)) }: _*)
          rows.withColumn("__salt",
              pmod(xxhash64(col("seq")),
                coalesce(element_at(hotMap,
                  concat_ws("/", col("epoch"), col("ns"))), lit(1L))))
            .repartition(math.max(1, dirs) + extra,
              col("epoch"), col("ns"), col("__salt"))
            .drop("__salt")
        }
      val laidOut = layout match {
        case SegmentLayout.Unordered => partitioned
        case SegmentLayout.ByKey =>
          // (epoch, ns) lead the sort so the dynamic-partition writer
          // streams one open file at a time; (ukey, seq) cluster within
          partitioned.sortWithinPartitions(col("epoch"), col("ns"),
            col("ukey"), col("seq"))
        case SegmentLayout.ZOrder(cols) =>
          // z-value computed over the whole row set (one extra quantile
          // pass per column — the rewrite is already a full one); each
          // column's bucket rank is PROJECTED once per row, then the sort
          // key is the cheap bit interleave of those columns (see
          // zInterleave for why inlining is a 10× trap). The sort stays
          // (epoch, ns) first for the same one-open-file writer argument,
          // z-curve position within.
          val bucketCols = zBucketExprs(rows, cols)
          val names = bucketCols.indices.map(j => s"__graft_zb$j")
          val withB = bucketCols.zip(names).foldLeft(partitioned) {
            case (df, (b, nm)) => df.withColumn(nm, b)
          }
          withB
            .sortWithinPartitions(col("epoch"), col("ns"),
              zInterleave(names.map(col)))
            .drop(names: _*)
      }
      val stage = newStageDir()
      writerOpts(laidOut.write.partitionBy("epoch", "ns").mode("append"))
        .parquet(stage)
      promoteStaged(stage)
    }
    // the side passes overlap the write once the stats pass has filled
    // the pinned rows; with derived stats the write is the first pass
    // over them, and the sketches follow it to read what it cached
    val ((blooms, dirSk), files) =
      if (victims.isEmpty) overlap(sidePasses())(write())
      else { val fs = write(); (sidePasses(), fs) }
    val fileStats = victims match {
      case None => SegmentFiles.newFileStats(files, perNs, blooms)
      case Some((old, stat)) => SegmentFiles.derivedFileStats(files, old, stat)
    }
    Written(files, perNs, fileStats, dirSk)
  }

  /** Move the staged job's data files into the live segment tree and
    * return their segDir-relative names (exactly this job's output —
    * no tree diff). Same-filesystem move; Spark task files carry a
    * per-task UUID, so two writers promoting into one (epoch, ns)
    * directory can never collide on a name. The stage dir (commit
    * markers and all) is deleted afterwards; a crash mid-promote leaves
    * only unreferenced files (never referenced by any manifest — the
    * commit happens after), which vacuum's orphan sweep reclaims. */
  private def promoteStaged(stage: String): Seq[String] = {
    val stRoot = Paths.get(stage)
    if (!Files.exists(stRoot)) return Nil
    val moved = Seq.newBuilder[String]
    val walk = Files.walk(stRoot)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          !p.getFileName.toString.startsWith("."))
        .foreach { p =>
          val rel = stRoot.relativize(p).toString
          val target = Paths.get(segDir, rel)
          Files.createDirectories(target.getParent)
          Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
          moved += rel
        }
    } finally walk.close()
    org.apache.commons.io.FileUtils.deleteQuietly(stRoot.toFile)
    moved.result().sorted
  }

  /** All parquet files currently on disk under segments/, path-relative. */
  private def listSegmentFiles(): Seq[String] = {
    val root = Paths.get(segDir)
    if (!Files.exists(root)) Nil
    else {
      val st = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala
          .filter(p => p.toString.endsWith(".parquet"))
          .map(p => root.relativize(p).toString).toList.sorted
      } finally st.close()
    }
  }

  /** Compact every epoch <= upToEpoch into one file per (epoch, ns) and
    * atomically swap the manifest to the compacted files; old files are
    * removed by vacuum(). Readers opened before the swap keep reading the
    * old file set (snapshot isolation), like marasa's segment rewrite.
    *
    * `clusterByKey` additionally sorts each rewritten file by (ukey, seq)
    * — append order interleaves keys, so a key-targeted read of an
    * unclustered file decodes every row group; clustering makes parquet's
    * per-row-group ukey min/max stats selective, so a pushed `ukey =`
    * predicate skips row groups INSIDE the files the manifest key stats
    * couldn't drop. Manifest stats (epoch + key ranges) describe data,
    * not layout, and are unchanged. */
  def compact(upToEpoch: Long, clusterByKey: Boolean = false): Unit =
    compactFiles(
      manifest.files.filter(f => epochOf(f).exists(_ <= upToEpoch)),
      if (clusterByKey) SegmentLayout.ByKey else SegmentLayout.Unordered)

  /** PARTIAL compaction scoped to ONE namespace — the Delta `OPTIMIZE …
    * WHERE <partition predicate>` idiom: a hot namespace's small-file
    * debt is rewritten without touching the cold 99% of a 100 TB
    * store. Selection is [[SegmentFiles.prune]]'s exact-or-conservative
    * directory match (a file whose ns can't be proven different is included —
    * compacting extra files is content-preserving, so conservatism
    * costs IO only, never correctness). DV purge semantics ride along:
    * the rewrite materializes vector subtraction for the touched
    * files, exactly like full compact(). */
  def compactNs(ns: String, upToEpoch: Long = Long.MaxValue,
                clusterByKey: Boolean = false): Unit =
    compactFiles(
      SegmentFiles.prune(manifest, Probe.point(Some(ns), None))
        .filter(f => epochOf(f).exists(_ <= upToEpoch)),
      if (clusterByKey) SegmentLayout.ByKey else SegmentLayout.Unordered)

  /** Compact with MULTI-column clustering: rows are ordered along a
    * Z-curve (interleaved bits of per-column quantile-bucket ranks —
    * the Delta/Iceberg OPTIMIZE ZORDER BY layout), so EVERY listed
    * column keeps row-group min/max locality inside the rewritten
    * files. Single-axis (ukey, seq) clustering makes a pushed `ukey =`
    * predicate skip row groups but leaves a second predicate column
    * (typically ts) scattered across the full range of every row
    * group; z-ordering trades a little ukey tightness for bounded
    * ranges on ALL the probe dimensions. Columns are bucketed by
    * approximate quantile rank (skew-proof where linear min-max
    * scaling is not); timestamps and other orderable non-numerics
    * bucket through their DOUBLE cast. */
  def compact(upToEpoch: Long, zorderBy: Seq[String]): Unit = {
    require(zorderBy.nonEmpty, "zorderBy needs at least one column")
    require(zorderBy.size <= 8,
      s"zorderBy supports at most 8 columns (64 z-bits), got ${zorderBy.size}")
    compactFiles(
      manifest.files.filter(f => epochOf(f).exists(_ <= upToEpoch)),
      SegmentLayout.ZOrder(zorderBy))
  }

  /** Compact an arbitrary victim set (whole (epoch, ns) directories at a
    * time — callers pass every live file of each directory they target)
    * into one file per directory. Backs both the epoch-bounded public
    * compact() and the append-time auto-compaction policy. */
  private def compactFiles(victimFiles: Seq[String],
                           layout: SegmentLayout): Unit =
    retryOnLostRace(compactFilesOnce(victimFiles, layout))

  /** A retry re-filters the victims against the FRESH manifest: files a
    * concurrent deleteWhere rewrote (new names) simply drop out of this
    * round's victim set — no lost rows, no double-compaction. */
  private def compactFilesOnce(victimFiles: Seq[String],
                               layout: SegmentLayout): Unit = {
    requireWritable()
    val m = manifest
    val old = victimFiles.filter(m.files.contains)
    if (old.isEmpty) return
    // Stats-maintaining compact re-sketches the rewritten files from
    // the rows it already reads (so the refold below can keep the
    // merged analyze() stats alive — including resurrecting them after
    // a DV delete, since this read materializes the subtraction); the
    // extra passes reuse one pinned read.
    val foldCols = JournalStore.activeStatCols(m.meta)
    val doSketch = foldCols.nonEmpty &&
      old.map(SegmentFiles.parse).distinct.sizeIs <= JournalStore.MaxSketchDirs
    // Read through the pinned schema (a footer-sampled read of
    // mixed-schema victims could DROP evolved columns from the rewrite)
    // AND through the deletion vectors: the rewrite materializes the
    // subtraction, so compaction doubles as the DV physical purge.
    pinned(readSegmentsOver(old, m.schemaDdl, m.dvParts), doSketch) { rows =>
      // compaction rewrites whole (epoch, ns) directories into one
      // file each, so the new files' stats merge the victims' (no
      // stats pass), and it never splits a directory: the merged stats
      // assume one file per directory
      val w = writeSegments(rows, layout, foldCols,
        victims = Some((old, m.fileStats)))
      val files2 = (m.files diff old) ++ w.files
      val fstats2 = m.fstats.filterNot(s => old.contains(s.file)) ++ w.fileStats
      val dvParts2 = dvPartsWithout(m.dvParts, old)
      // STATS SURVIVE THE COMPACT: fresh sketches for the rewritten
      // files, then refold the merged stats over all survivors.
      val (meta2, cstatsParts2, cstatsEnvs2) =
        rewriteStatsState(m, files2, fstats2, dvParts2, w.fileSketches)
      // HISTOGRAM RE-CAPTURE on a FULL rewrite: this read IS the whole
      // table, so the 16-bin boundaries re-derive for free relative to
      // the rewrite — the histogram stops dying at 2x growth as long as
      // the store compacts on its maintenance cadence. Partial compacts
      // keep the recorded capture (its freshness gate still governs).
      val fullRewrite = (m.files diff old).isEmpty
      val meta3 =
        if (!fullRewrite || !meta2.contains(JournalStore.StatsRowsKey)) meta2
        else {
          val total = meta2(JournalStore.StatsRowsKey).toLong
          val hists = histCapture(rows, JournalStore.activeStatCols(meta2),
            rows.schema.map(f => f.name -> f.dataType).toMap, total)
          meta2.filterNot { case (k, _) =>
            k == JournalStore.StatsHistRowsKey ||
              (k.startsWith(JournalStore.StatsColPrefix) &&
                k.endsWith(".hist")) } ++
            Map(JournalStore.StatsHistRowsKey -> total.toString) ++
            hists.map { case (c, (bs, ns2)) =>
              (JournalStore.StatsColPrefix + c + ".hist") ->
                (bs.mkString(",") + "|" + ns2.mkString(",")) }
        }
      commitSeam()
      writeManifest(path, m.copy(op = "compact", files = files2,
        fstats = fstats2, meta = meta3, cstatsParts = cstatsParts2,
        cstatsEnvs = cstatsEnvs2,
        // vectors over the victims are now physically applied — drop them
        dvParts = dvParts2,
        // a FULL rewrite (every live file was a victim) re-planned every
        // row through the narrowed DDL, physically forgetting dropped
        // columns' bytes — the lapsed names re-open for evolution. A
        // partial compact may leave pre-drop files alive, so it keeps
        // the list (conservative; see dropColumn).
        droppedCols = if (fullRewrite) Nil else m.droppedCols))
    }
  }

  /** Delete segment files referenced by NO retained manifest version.
    * By default the last [[JournalStore.RetainedVersions]] committed
    * manifests keep their files, so an openAt() reader pinned to any
    * retained version stays valid across compact()+vacuum(). Pass
    * `retain = 0` (current manifest only) to reclaim space aggressively;
    * version manifests whose files are reclaimed are deleted too —
    * openAt() never hands out a reader over missing data.
    *
    * `graceMs` is the age-based grace window (Delta's
    * deletedFileRetentionDuration idea): vacuum destroys NOTHING younger
    * than this — not version manifests past the count window, not
    * segment files, not checkpoint snapshots — so an in-flight reader
    * that planned its file list just before a compact (or holds a
    * version the count window has since rotated out) cannot race the
    * physical deletion. Ages come from filesystem mtimes: a version
    * manifest's mtime IS its commit time; a segment file's mtime is its
    * write time (an upper bound on how recently any retained manifest
    * could have dropped it, conservative in the streaming/auto-compact
    * case where files churn young). Pass `graceMs = 0` for the
    * immediate-reclaim behavior (tests, decommissioning). */
  def vacuum(retain: Int = RetainedVersions,
             graceMs: Long = DefaultVacuumGraceMs): Unit = {
    vacuumSweep(retain, graceMs, dryRun = false); ()
  }

  /** DRY RUN (Delta's `VACUUM … DRY RUN`): the exact (kind,
    * store-relative path) set `vacuum(retain, graceMs)` would delete
    * right now, deleting NOTHING — the day-2 "what will this reclaim"
    * question answered before the irreversible step. Kinds: manifest,
    * segment, checkpoint, stats-part, dv-part, manifest-part, stage. */
  def vacuumDryRun(retain: Int = RetainedVersions,
                   graceMs: Long = DefaultVacuumGraceMs): Seq[(String, String)] =
    vacuumSweep(retain, graceMs, dryRun = true)

  private def vacuumSweep(retain: Int, graceMs: Long,
                          dryRun: Boolean): Seq[(String, String)] = {
    requireWritable()
    val rootP = Paths.get(path)
    val planned = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // every sweep funnels here: report in dry-run, delete otherwise
    def reap(kind: String, p: java.nio.file.Path): Unit =
      if (dryRun) planned += ((kind, rootP.relativize(p).toString))
      else Files.deleteIfExists(p)
    def reapDir(kind: String, p: java.nio.file.Path): Unit =
      if (dryRun) planned += ((kind, rootP.relativize(p).toString))
      else org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
    // ONE manifest snapshot up front: fails fast on a corrupt manifest
    // BEFORE any deletion, and the live-file/checkpoint computations
    // below can't tear against a concurrent commit
    val cur = manifest
    val now = System.currentTimeMillis()
    def aged(p: java.nio.file.Path): Boolean =
      try now - Files.getLastModifiedTime(p).toMillis >= graceMs
      catch { case _: java.io.IOException => false } // vanished → leave it
    val all = listVersionFiles(path)
    // versions survive by COUNT (the openAt window) or by AGE (grace)
    val keepVersions = all.takeRight(retain) ++
      all.dropRight(retain).filterNot { case (_, p) => aged(p) }
    val dropVersions = all.dropRight(retain)
      // never invalidate the version the CURRENT manifest points at
      .filter { case (v, p) => v != cur.version && aged(p) }
    dropVersions.foreach { case (_, p) => reap("manifest", p) }
    val retained = keepVersions.flatMap { case (v, _) =>
      readManifestVersion(path, v) }
    val live = (cur.files ++ retained.flatMap(_.files)).toSet
    (listSegmentFiles().toSet -- live).foreach { f =>
      val p = Paths.get(s"$segDir/$f")
      if (aged(p)) reap("segment", p)
    }
    // Checkpoints referenced by NO retained manifest are dead weight:
    // auto-checkpointing creates one per epoch rollover and the manifest
    // list is trimmed to the newest RetainedCheckpoints, so without this
    // a long-lived store accumulates one full-state snapshot per epoch
    // forever — only the newest at-or-below checkpoint is ever read.
    val liveCkpts = (cur.checkpoints ++ retained.flatMap(_.checkpoints)).toSet
    val ckRoot = Paths.get(s"$path/checkpoints")
    if (Files.exists(ckRoot)) {
      val st = Files.list(ckRoot)
      val dirs = try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.toList
      } finally st.close()
      dirs.foreach { p =>
        """^seq=(\d+)$""".r.findFirstMatchIn(p.getFileName.toString)
          .map(_.group(1).toLong).filterNot(liveCkpts.contains)
          .filter(_ => aged(p))
          .foreach(_ => reapDir("checkpoint", p))
      }
    }
    // Sidecar stat parts referenced by NO retained manifest: orphans
    // from crashed/CAS-losing writers plus parts rotated out by
    // consolidation. Same count+age rules as segment files. Reading
    // partsOf never loads stats bytes — this sweep is name-list work.
    val liveParts = (cur +: retained).flatMap(mm =>
      FileStatsSidecar.partsOf(mm.fstats).getOrElse(Nil)).toSet
    val fsDir = FileStatsSidecar.dir(path)
    if (Files.exists(fsDir)) {
      val st = Files.list(fsDir)
      val parts = try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.toList
      } finally st.close()
      parts.filterNot(p => liveParts.contains(p.getFileName.toString))
        .filter(aged).foreach(reap("stats-part", _))
    }
    // Column-sketch parts (cstats/): same orphan/rotation sweep as the
    // per-file stats sidecar — name-list work only.
    val liveCs = (cur +: retained).flatMap(_.cstatsParts).toSet
    val csDir = ColumnStatsSidecar.dir(path)
    if (Files.exists(csDir)) {
      val st = Files.list(csDir)
      val parts = try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.toList
      } finally st.close()
      parts.filterNot(p => liveCs.contains(p.getFileName.toString))
        .filter(aged).foreach(reap("cstats-part", _))
    }
    // Deletion-vector parts referenced by NO retained manifest: orphans
    // from crashed writers plus parts rotated out by consolidation or
    // purged by rewrites. Same count+age rules as segment files.
    val liveDv = (cur +: retained).flatMap(_.dvParts).toSet
    val dvRoot = Paths.get(dvDir)
    if (Files.exists(dvRoot)) {
      val st = Files.list(dvRoot)
      val parts = try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.toList
      } finally st.close()
      parts.filterNot(p => liveDv.contains(p.getFileName.toString))
        .filter(aged).foreach(reap("dv-part", _))
    }
    // Abandoned staging dirs (a writer that crashed between its Spark
    // job and promoteStaged): never referenced by any manifest, swept
    // by age alone.
    val rootDir = Paths.get(path)
    if (Files.exists(rootDir)) {
      val st = Files.list(rootDir)
      val stages = try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith(".stage-") ||
            // a crashed streaming query's V2-write staging (see
            // JournalStreamingWrite): a LIVE query re-creates its dir
            // on the next epoch, so age-based sweeping is safe here too
            p.getFileName.toString.startsWith(".streamstage-")).toList
      } finally st.close()
      stages.filter(aged).foreach(reapDir("stage", _))
    }
    // Manifest-root list parts: same orphan/rotation sweep as the stats
    // sidecar (partsOf is name-list work — no part bytes load here).
    val liveRoot = (cur +: retained).flatMap(mm =>
      RootSidecar.partsOf(mm.files).getOrElse(Nil)).toSet
    val mrDir = RootSidecar.dir(path)
    if (Files.exists(mrDir)) {
      val st = Files.list(mrDir)
      val parts = try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.toList
      } finally st.close()
      parts.filterNot(p => liveRoot.contains(p.getFileName.toString))
        .filter(aged).foreach(reap("manifest-part", _))
    }
    planned.sorted.toSeq
  }

  /** Logical delete (the Kafka log-compaction tombstone): append one
    * NULL-payload row per key. State reads (stateAt / stateAtTs /
    * latest, and every surface built on them) drop a key whose winning
    * row is a tombstone; scan()/history() still show the tombstone rows
    * — they are log records like any other. A later put resurrects the
    * key (higher seq wins), and compact()/checkpoints carry tombstones
    * forward untouched, so replay from any checkpoint agrees with full
    * replay. Contrast with [[deleteWhere]], which physically ERASES
    * rows from history. Costs one ordinary append (same seq assignment,
    * stats, manifest CAS). Returns the new high-water seq. */
  def delete(ns: String, keys: Seq[Long],
             ts: java.sql.Timestamp = new java.sql.Timestamp(0L)): Long = {
    requireWritable()
    import spark.implicits._
    // tombstones must land with the store's own payload/val types, or
    // append()'s evolution guard would (rightly) refuse the batch
    val m = manifest
    val types = (if (m.schemaDdl.nonEmpty)
      org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
        .map(f => f.name -> f.dataType.sql).toMap
    else Map.empty[String, String])
    val pT = types.getOrElse("payload", "STRING")
    val vT = types.getOrElse("val", "DOUBLE")
    append(keys.toDF("ukey").select(
      lit(ns).as("ns"), col("ukey"), lit(ts).as("ts"),
      lit(null).cast(pT).as("payload"), lit(null).cast(vT).as("val")))
  }

  /** MERGE (the Delta `MERGE INTO` shape, transposed to a log store):
    * reconcile `source` (one row per (ns, ukey) — enforced, like
    * Delta's ambiguous-match error) against CURRENT state and commit
    * the reconciliation as ONE ordinary append:
    *
    *  - matched & `whenMatchedDelete` true  → tombstone row ([[delete]])
    *  - matched otherwise                   → update row — SKIPPED when
    *    the source payload already equals state (no-op suppression: an
    *    idempotent merge re-run appends NOTHING, so periodic
    *    reconciliation jobs don't grow the log). The comparison is on
    *    PAYLOAD — the journal's data model already makes payload THE
    *    record (a NULL payload is the tombstone; state reads key on
    *    it), so a source that changes only the `val` convenience column
    *    under an identical payload is by contract a no-op. Encode
    *    merge-relevant state in the payload.
    *  - not matched                         → insert row
    *
    * In a log store an upsert is just an append (latest seq wins), so
    * what MERGE adds over blind append is the clause routing and the
    * no-op suppression — the log then carries exactly the rows that
    * CHANGED state, which is what makes a 100 TB reconciliation
    * sustainable. One shuffle on (ns, ukey) for the state join (AQE
    * broadcasts a small source); one append = one manifest commit,
    * with every downstream invariant (seqs, stats, auto-checkpoint,
    * exactly-once marks) inherited. Returns the new high-water seq
    * (or maxSeq unchanged when nothing needed writing).
    *
    * TOUCHED-FILE PRUNING (the Delta merge idiom): a small source —
    * probed with an incremental take(), so a huge source pays a few
    * partitions of probe, never a pass — does NOT join the full
    * current state. Its collected keys prune the state side to only
    * the segment files whose manifest ns directory / per-file key
    * range / key bloom can hold them, the per-key arg-max replays just
    * those files (row filters pushed to the parquet scan), and the
    * tiny state is broadcast under the source rows. A 10-key reconcile
    * against a 100 TB store then opens a handful of files instead of
    * scanning every key's state. */
  def merge(source: DataFrame,
            whenMatchedDelete: Option[org.apache.spark.sql.Column] = None,
            whenMatchedUpdate: Boolean = true,
            whenNotMatchedInsert: Boolean = true,
            whenMatchedUpdateCond: Option[org.apache.spark.sql.Column] = None,
            whenNotMatchedBySourceDelete: Option[org.apache.spark.sql.Column]
              = None,
            whenNotMatchedInsertCond: Option[org.apache.spark.sql.Column]
              = None,
            whenNotMatchedBySourceSet:
              Seq[(String, org.apache.spark.sql.Column)] = Nil,
            whenNotMatchedBySourceSetCond:
              Option[org.apache.spark.sql.Column] = None,
            whenMatchedUpdateValues:
              Seq[(org.apache.spark.sql.Column, String)] = Nil,
            stateNeedsTsVal: Boolean = false): Long = {
    requireWritable()
    val required = Seq("ns", "ukey", "ts", "payload", "val")
    val missing = required.filterNot(source.columns.contains)
    require(missing.isEmpty,
      s"journal merge requires source columns $required; missing: $missing")
    // the merge delta commits through appendOnce with internalRewrite
    // (the store's own carried values must pass through), which
    // BYPASSES the append-time ALWAYS-identity refusal and the
    // generated-value validation — so the user-facing guard has to
    // live HERE: a source carrying an ALWAYS identity column could
    // land explicit values verbatim (uniqueness break), and a source
    // carrying a generated column would be silently recomputed over.
    // Refuse both loudly, like updateWhere does for assignments.
    val alwaysInSrc = identityColumns.collect {
      case (c, spec) if !spec.allowExplicit &&
        source.columns.exists(_.equalsIgnoreCase(c)) => c
    }
    require(alwaysInSrc.isEmpty,
      "journal merge: the source carries GENERATED ALWAYS AS IDENTITY " +
        s"column(s) ${alwaysInSrc.toSeq.sorted.mkString(", ")} — omit " +
        "them (the store assigns inserts and preserves matched rows' " +
        "identity values)")
    val genInSrc = generatedColumns.keys.filter(c =>
      source.columns.exists(_.equalsIgnoreCase(c)))
    require(genInSrc.isEmpty,
      "journal merge: the source carries GENERATED column(s) " +
        s"${genInSrc.toSeq.sorted.mkString(", ")} — omit them (the " +
        "store recomputes generated columns from the merged row)")
    // MERGE SCHEMA EVOLUTION (Delta's autoMerge): extra source columns
    // ride the delta — the append evolves the store schema, old rows
    // read null, deletes tombstone extras to null. They also join the
    // no-op decision: a row whose payload is unchanged but whose extra
    // differs from current state MUST land (suppressing it would
    // silently drop the new column's value). Columns the store already
    // pins keep their types (appendOnce fails fast on a retype).
    // Reserved __mc* columns are N-clause merge CARRIERS (per-clause
    // update values / gate source refs, projected by the SQL rule) —
    // they ride the routing join but are NOT evolution extras and
    // never reach the appended delta.
    val extras = source.columns.filterNot(required.contains)
      .filterNot(_.startsWith(JournalStore.MergeCarrierPrefix)).toSeq
    val carriers = source.columns
      .filter(_.startsWith(JournalStore.MergeCarrierPrefix)).toSeq
    val src0 = source.select((required ++ extras ++ carriers).map(col): _*)
    // PIN FIRST, PROBE FROM THE PIN (round 20): the source is
    // localCheckpoint'd once and the small/large dispatch probe reads
    // the pinned blocks. The former take-then-maybe-pin order evaluated
    // the source plan TWICE on the large path (take's full upstream
    // pass, then the checkpoint's own) and let a non-deterministic
    // source hand the probe a DIFFERENT snapshot than the one the merge
    // later joined — pin-first removes both: one evaluation, one
    // snapshot, for every path. Small sources pay the same single
    // evaluation they paid under take (its upstream ran fully through
    // any aggregation/dedup anyway) plus a trivial read of pinned
    // blocks; the probe still runs ONCE, outside the conflict-retry
    // loop, so CAS-loss re-derivations keep seeing the same rows.
    // CONFLICT RULE (the deleteWhere precedent, not append's blind
    // rebase): a merge that loses the manifest CAS re-derives the WHOLE
    // state join against the fresh manifest — matched/not-matched
    // routing and no-op suppression are decided against the state the
    // commit actually lands on. Without this, a row suppressed as no-op
    // against the pre-race state would stay suppressed even though the
    // racing commit changed that key — silently dropping the merge's
    // "set to source value" intent. A fully-suppressed delta still
    // commits an (empty) manifest version through appendOnce, so the
    // CAS itself detects the race — there is no unvalidated fast path.
    // merge‖merge serializes the same way: the loser re-derives against
    // the winner's state, so both intents land deterministically.
    // the source is pinned ONCE with localCheckpoint, for the same
    // reason the probe runs once: the profile pass, the state join, and
    // every CAS-loss re-derivation must see the SAME source rows — a
    // non-deterministic source re-evaluated between the profile and the
    // join could defeat the file pruning (a key the profile never saw
    // would silently join against pruned-away state). The
    // materialization is executor-local (MEMORY_AND_DISK) and IS the
    // probe's evaluation (see the pin-first comment above).
    val srcPinned = src0.localCheckpoint()
    try {
      val probe = srcPinned.take(JournalStore.MergeSmallSourceRows + 1)
      retryOnLostRace {
        // WHEN NOT MATCHED BY SOURCE must SEE every state key (its whole
        // point is the complement), so it always takes the full-join path
        // with state pruning disabled — a full reconciliation is a full
        // read of current state by definition. Small sources still route
        // through the collected probe (the probe IS the source there).
        if (whenNotMatchedBySourceDelete.isDefined ||
            whenNotMatchedBySourceSet.nonEmpty)
          mergeFull(
            if (probe.length <= JournalStore.MergeSmallSourceRows)
              spark.createDataFrame(
                spark.sparkContext.parallelize(probe.toSeq, 1), src0.schema)
            else srcPinned,
            extras, whenMatchedDelete, whenMatchedUpdate, whenNotMatchedInsert,
            whenMatchedUpdateCond, whenNotMatchedBySourceDelete,
            whenNotMatchedInsertCond, whenNotMatchedBySourceSet,
            whenNotMatchedBySourceSetCond, whenMatchedUpdateValues,
            stateNeedsTsVal)
        else if (probe.length <= JournalStore.MergeSmallSourceRows)
          mergeSmall(src0.schema, probe, extras, whenMatchedDelete,
            whenMatchedUpdate, whenNotMatchedInsert, whenMatchedUpdateCond,
            whenNotMatchedInsertCond, whenMatchedUpdateValues, stateNeedsTsVal)
        else mergeFull(srcPinned, extras, whenMatchedDelete,
          whenMatchedUpdate, whenNotMatchedInsert, whenMatchedUpdateCond,
          whenNotMatchedInsertCond = whenNotMatchedInsertCond,
          whenMatchedUpdateValues = whenMatchedUpdateValues,
          stateNeedsTsVal = stateNeedsTsVal)
      }
    } finally
      // the localCheckpoint blocks are this call's alone: release them
      // on every exit path (they would otherwise stay in executor
      // storage until the session ends)
      srcPinned.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }.foreach(_.unpersist(blocking = true))
  }

  /** State reconstruction for an extras-carrying merge: the arg-max
    * struct carries the store's CURRENT values of the evolved columns
    * (null when the store does not have the column yet), aliased to
    * the cur__ names the no-op comparison and routing read. */
  private def mergeStateExtras(rows: DataFrame, stExtras: Seq[String],
                               extras: Seq[String]): DataFrame =
    rows.groupBy("ns", "ukey")
      .agg(max(struct((Seq("seq", "payload") ++ stExtras).map(col): _*))
        .as("top"))
      .select(Seq(col("ns"), col("ukey"),
        col("top.payload").as("cur_payload")) ++
        extras.map(c =>
          (if (stExtras.contains(c)) col(s"top.$c") else lit(null))
            .as(s"cur__$c")): _*)
      .where(col("cur_payload").isNotNull)

  /** FULL-RECORD state reconstruction for a merge carrying a
    * WHEN NOT MATCHED BY SOURCE ... UPDATE clause: the arg-max struct
    * carries ts/val beside payload and the evolved columns, because the
    * by-source update's appended row is a whole record whose unassigned
    * columns ride the CURRENT values — which checkpoints don't carry,
    * so this path always reconstructs from segments (the clause's
    * structural cost, like the extras path). */
  private def mergeStateFull(rows: DataFrame, stExtras: Seq[String],
                             extras: Seq[String]): DataFrame =
    rows.groupBy("ns", "ukey")
      .agg(max(struct((Seq("seq", "ts", "payload", "val") ++ stExtras)
        .map(col): _*)).as("top"))
      .select(Seq(col("ns"), col("ukey"), col("top.ts").as("cur_ts"),
        col("top.payload").as("cur_payload"), col("top.val").as("cur_val")) ++
        extras.map(c =>
          (if (stExtras.contains(c)) col(s"top.$c") else lit(null))
            .as(s"cur__$c")): _*)
      .where(col("cur_payload").isNotNull)

  /** The evolved columns the STORE already carries (current-state
    * values exist to compare against); case-insensitive like the rest
    * of the schema surface. */
  private def storeExtrasOf(m: Manifest, extras: Seq[String]): Seq[String] =
    if (m.schemaDdl.isEmpty || extras.isEmpty) Nil
    else {
      val have = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
        .map(_.name.toLowerCase).toSet
      extras.filter(c => have.contains(c.toLowerCase))
    }

  private val mergeDupMsg = "journal merge: source has multiple rows " +
    "for a key - a merge must resolve to one action per key " +
    "(pre-aggregate the source)"

  /** The small-source merge path: `rows` IS the whole source (already
    * collected by the probe — the source is never re-evaluated, which
    * also pins a non-deterministic source to one consistent snapshot).
    * Ambiguity is checked driver-side; the state side reads only the
    * key-intersecting files. */
  private def mergeSmall(schema: org.apache.spark.sql.types.StructType,
                         rows: Array[org.apache.spark.sql.Row],
                         extras: Seq[String],
                         whenMatchedDelete: Option[org.apache.spark.sql.Column],
                         whenMatchedUpdate: Boolean = true,
                         whenNotMatchedInsert: Boolean = true,
                         whenMatchedUpdateCond:
                           Option[org.apache.spark.sql.Column] = None,
                         whenNotMatchedInsertCond:
                           Option[org.apache.spark.sql.Column] = None,
                         whenMatchedUpdateValues:
                           Seq[(org.apache.spark.sql.Column, String)] = Nil,
                         stateNeedsTsVal: Boolean = false): Long = {
    val m = manifest
    if (rows.isEmpty) return m.maxSeq
    val keys = rows.map(r => (if (r.isNullAt(0)) null else r.get(0).toString,
      if (r.isNullAt(1)) None
      else Some(r.get(1).asInstanceOf[Number].longValue)))
    require(keys.distinct.length == keys.length, mergeDupMsg)
    val distinctKeys = keys.toSeq.distinct
    val cand = SegmentFiles.prune(m, Probe.exactKeys(distinctKeys))
    val nss = distinctKeys.map(_._1).filter(_ != null).distinct
    val uks = distinctKeys.flatMap(_._2).distinct
    val hasNullKey = distinctKeys.exists(_._2.isEmpty)
    // row filters on the pruned scan: tiny IN lists reach the parquet
    // reader (row-group skipping inside the candidate files) and make
    // the arg-max aggregate key-bounded, not file-bounded
    val keyPred = {
      val ksIn = if (uks.isEmpty) lit(false) else col("ukey").isin(uks: _*)
      if (hasNullKey) ksIn || col("ukey").isNull else ksIn
    }
    val stExtras = storeExtrasOf(m, extras)
    // identity columns the source does not carry: their CURRENT values
    // ride the state side (cur__<c>) so matched rows KEEP their assigned
    // identity — Delta's stable-identity-under-MERGE semantics; insert
    // rows arrive NULL and generate fresh values in appendOnce
    val idCarry = identityCarryCols(m, schema.fieldNames, extras)
    // a clause gate referencing target ts/val (the late-arrival guard
    // `WHEN MATCHED AND t.ts < s.ts`) widens reconstruction to the full
    // record — checkpoints don't carry ts/val, segments do
    val baseCols =
      if (stateNeedsTsVal) Seq("ns", "ukey", "seq", "ts", "payload", "val")
      else Seq("ns", "ukey", "seq", "payload")
    val filtered = readSegmentsOver(cand, m.schemaDdl, m.dvParts)
      .where(if (nss.isEmpty) lit(false) else col("ns").isin(nss: _*))
      .where(keyPred)
      .select((baseCols ++ stExtras ++ idCarry).map(col): _*)
    val state0 =
      if (stateNeedsTsVal)
        mergeStateFull(filtered, stExtras ++ idCarry, extras ++ idCarry)
      else if (extras.isEmpty && idCarry.isEmpty)
        tombstoneAwareState(filtered)
          .select(col("ns"), col("ukey"), col("payload").as("cur_payload"))
      else mergeStateExtras(filtered, stExtras ++ idCarry, extras ++ idCarry)
    val state = broadcast(state0).alias("t")
    val srcDf = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema).alias("s")
    // appendOnce, NOT append: a lost CAS must escape to merge's own
    // retry wrapper so the state join re-derives — append's internal
    // rebase would re-commit this attempt's STALE routing
    appendOnce(mergeRouted(srcDf.join(state,
      col("s.ns") === col("t.ns") && col("s.ukey") <=> col("t.ukey"),
      "left_outer"), whenMatchedDelete, guarded = false,
      whenMatchedUpdate, whenNotMatchedInsert, extras,
      whenMatchedUpdateCond, whenNotMatchedInsertCond = whenNotMatchedInsertCond,
      whenMatchedUpdateValues = whenMatchedUpdateValues,
      idCarry = idCarry),
      None, "", internalRewrite = true)
  }

  /** Identity columns whose CURRENT values a merge must carry through
    * the state join (pinned in the store schema, absent from the merge
    * source) — see mergeSmall/mergeFull. */
  private def identityCarryCols(m: Manifest, srcCols: Seq[String],
                                extras: Seq[String]): Seq[String] =
    storeExtrasOf(m, m.meta.keys.collect {
      case k if k.startsWith(JournalStore.IdentityPrefix) =>
        k.stripPrefix(JournalStore.IdentityPrefix)
    }.toSeq.sorted).filterNot(c =>
      srcCols.exists(_.equalsIgnoreCase(c)) ||
        extras.exists(_.equalsIgnoreCase(c)))

  /** The full merge path (source too large to collect): one (ns, ukey)
    * shuffle joining the source against state. Ambiguity detection
    * rides the SAME pass (no separate count job): a per-key window
    * count shares the join's partitioning and detonates inside the
    * routed projection.
    *
    * STATE PRUNING WITHOUT A KEY LIST (the large-source twin of
    * [[mergeSmall]]'s collected-key pruning): ONE aggregate pass over
    * the pinned source builds a per-NAMESPACE profile — key min/max,
    * null-key flag, and an 8 KiB key bloom in the per-file stats
    * geometry. The collect is bounded by the namespace count, never the
    * source size, so a 100 TB source profiles in one distributed pass
    * and a few driver rows. The profile prunes the state side twice:
    * file-level ([[SegmentFiles.Probe.profiles]] — ns
    * directory, range overlap, and a PROVABLY-EMPTY bloom
    * intersection), then row-level (a per-ns range disjunction pushed
    * to the parquet scans — one conjunct per namespace, not per key).
    * Both are sound for the join: every source key passes its own
    * group's range and leaves its bits in the bloom intersection, so a
    * file or row holding any source key's state always survives; what
    * gets dropped can match nothing. When pruning keeps most files the
    * path falls back to latest() — checkpoint-bounded replay beats a
    * near-full segment re-read — still under the row predicate, which
    * pushes through the state aggregate into checkpoint + tail scans. */
  private def mergeFull(src0: DataFrame,
                        extras: Seq[String],
                        whenMatchedDelete: Option[org.apache.spark.sql.Column],
                        whenMatchedUpdate: Boolean = true,
                        whenNotMatchedInsert: Boolean = true,
                        whenMatchedUpdateCond:
                          Option[org.apache.spark.sql.Column] = None,
                        bySourceDelete:
                          Option[org.apache.spark.sql.Column] = None,
                        whenNotMatchedInsertCond:
                          Option[org.apache.spark.sql.Column] = None,
                        bySourceSet:
                          Seq[(String, org.apache.spark.sql.Column)] = Nil,
                        bySourceSetCond:
                          Option[org.apache.spark.sql.Column] = None,
                        whenMatchedUpdateValues:
                          Seq[(org.apache.spark.sql.Column, String)] = Nil,
                        stateNeedsTsVal: Boolean = false): Long = {
    val m = manifest
    // WHEN NOT MATCHED BY SOURCE: the state COMPLEMENT is the product,
    // so file/row pruning by the source-key profile is structurally off
    // (a pruned-away state key would silently escape its tombstone) —
    // full current state (checkpoint-bounded latest() when no extras
    // ride) joins the source FULL OUTER, and state-only rows route
    // through the bySourceDelete gate in mergeRouted.
    val idCarry = identityCarryCols(m, src0.columns.toSeq, extras)
    if (bySourceDelete.isDefined || bySourceSet.nonEmpty) {
      val stEx = storeExtrasOf(m, extras)
      val state = (if (bySourceSet.nonEmpty || stateNeedsTsVal)
          // by-source UPDATE appends whole records (and a ts/val-reading
          // gate compares current values) — unassigned columns ride
          // CURRENT ts/val, which checkpoints don't carry
          mergeStateFull(readSegments().select(
            ("ns" +: "ukey" +: "seq" +: "ts" +: "payload" +: "val" +:
              (stEx ++ idCarry)).map(col): _*),
            stEx ++ idCarry, extras ++ idCarry)
        else if (extras.isEmpty && idCarry.isEmpty)
          latest().select(col("ns"), col("ukey"),
            col("payload").as("cur_payload"))
        else
          mergeStateExtras(readSegments().select(
            ("ns" +: "ukey" +: "seq" +: "payload" +:
              (stEx ++ idCarry)).map(col): _*),
            stEx ++ idCarry, extras ++ idCarry)).alias("t")
      val src = src0
        .withColumn("__dup", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("ns"), col("ukey"))))
        .withColumn("__src", lit(1))
        .alias("s")
      return appendOnce(mergeRouted(src.join(state,
        col("s.ns") === col("t.ns") && col("s.ukey") <=> col("t.ukey"),
        "full_outer"), whenMatchedDelete, guarded = true,
        whenMatchedUpdate, whenNotMatchedInsert, extras,
        whenMatchedUpdateCond, bySourceDelete,
        whenNotMatchedInsertCond, bySourceSet, bySourceSetCond,
        whenMatchedUpdateValues, idCarry), None, "",
        internalRewrite = true)
    }
    val prof = src0
      .groupBy(col("ns").cast("string").as("ns"))
      .agg(min(col("ukey").cast("long")).as("kmin"),
           max(col("ukey").cast("long")).as("kmax"),
           max(col("ukey").isNull.cast("int")).as("nullKey"),
           keyBloomAgg.as("kbloom"))
      .collect()
    // null-ns source rows never match state (the join is null-UNSAFE on
    // ns) — they route by the not-matched clause whatever state holds,
    // so they constrain no state file
    val groups = prof.filter(r => !r.isNullAt(0)).map { r =>
      JournalStore.MergeNsProfile(r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        !r.isNullAt(3) && r.getInt(3) == 1,
        if (r.isNullAt(4)) Array.emptyByteArray
        else r.getAs[Array[Byte]](4))
    }.toSeq
    val rowPred = groups.map { g =>
      val keyP = (g.kmin, g.kmax) match {
        case (Some(klo), Some(khi)) =>
          val ranged = col("ukey").between(klo, khi)
          if (g.nullKey) ranged || col("ukey").isNull else ranged
        case _ => col("ukey").isNull
      }
      (col("ns") === lit(g.ns)) && keyP
    }.reduceOption(_ || _).getOrElse(lit(false))
    val cand = SegmentFiles.prune(m, Probe.profiles(groups))
    val stExtras = storeExtrasOf(m, extras)
    val stateCols = ("ns" +: "ukey" +: "seq" +: "payload" +: stExtras).map(col)
    val state = (if (stateNeedsTsVal) {
        // a matched-clause gate reads current ts/val — reconstruct the
        // full record from segments (checkpoints don't carry ts/val);
        // file/row pruning by the source profile still applies
        val base =
          if (cand.size * 2 <= m.files.size)
            readSegmentsOver(cand, m.schemaDdl, m.dvParts)
          else readSegments()
        mergeStateFull(base.where(rowPred).select(
          (Seq("ns", "ukey", "seq", "ts", "payload", "val") ++ stExtras ++
            idCarry).map(col): _*), stExtras ++ idCarry, extras ++ idCarry)
      } else if (extras.isEmpty && idCarry.isEmpty) {
        val stateRows =
          if (cand.size * 2 <= m.files.size)
            tombstoneAwareState(
              readSegmentsOver(cand, m.schemaDdl, m.dvParts)
                .where(rowPred).select(stateCols: _*))
          else latest().where(rowPred)
        stateRows.select(col("ns"), col("ukey"),
          col("payload").as("cur_payload"))
      } else {
        // extras (and carried identity values) need current-state
        // values, which checkpoints don't carry — reconstruct from
        // segments either way (the pruned branch is unchanged; the wide
        // branch trades the checkpoint bound for no-op precision)
        val base =
          if (cand.size * 2 <= m.files.size)
            readSegmentsOver(cand, m.schemaDdl, m.dvParts)
          else readSegments()
        mergeStateExtras(
          base.where(rowPred).select((stateCols ++ idCarry.map(col)): _*),
          stExtras ++ idCarry, extras ++ idCarry)
      }).alias("t")
    val src = src0
      .withColumn("__dup", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("ns"), col("ukey"))))
      .alias("s")
    // null-safe on ukey: a NULL key row in the source must match its
    // NULL-key state, not silently always-insert. appendOnce for the
    // same reason as mergeSmall: CAS loss re-derives the whole join
    // against the fresh manifest on each attempt (mergeFull re-reads
    // `manifest` per call; the pinned source never re-evaluates).
    appendOnce(mergeRouted(src.join(state,
      col("s.ns") === col("t.ns") && col("s.ukey") <=> col("t.ukey"),
      "left_outer"), whenMatchedDelete, guarded = true,
      whenMatchedUpdate, whenNotMatchedInsert, extras,
      whenMatchedUpdateCond,
      whenNotMatchedInsertCond = whenNotMatchedInsertCond,
      whenMatchedUpdateValues = whenMatchedUpdateValues,
      idCarry = idCarry), None, "", internalRewrite = true)
  }

  /** Clause routing shared by both merge paths. With `guarded`, the
    * duplicate-key detonation is ORDER-INDEPENDENT by construction: a
    * duplicate-keyed row is KEPT by the filter whatever its no-op
    * status (`!noop || __dup > 1` — so conjunct reordering or
    * side-effect pruning across Spark versions can never hide it), and
    * the raise_error rides the PROJECTED payload — an output column
    * the append must evaluate for every surviving row. An earlier form
    * rode assert_true on the filter conjunction, which depended on the
    * optimizer evaluating it before the no-op conjunct: duplicate keys
    * whose copies were all no-ops could slip through unseen. */
  private def mergeRouted(joined: DataFrame,
                          whenMatchedDelete: Option[org.apache.spark.sql.Column],
                          guarded: Boolean,
                          whenMatchedUpdate: Boolean = true,
                          whenNotMatchedInsert: Boolean = true,
                          extras: Seq[String] = Nil,
                          whenMatchedUpdateCond:
                            Option[org.apache.spark.sql.Column] = None,
                          bySourceDelete:
                            Option[org.apache.spark.sql.Column] = None,
                          whenNotMatchedInsertCond:
                            Option[org.apache.spark.sql.Column] = None,
                          bySourceSet:
                            Seq[(String, org.apache.spark.sql.Column)] = Nil,
                          bySourceSetCond:
                            Option[org.apache.spark.sql.Column] = None,
                          whenMatchedUpdateValues:
                            Seq[(org.apache.spark.sql.Column, String)]
                            = Nil,
                          idCarry: Seq[String] = Nil): DataFrame = {
    // state-only rows exist only under the full-outer by-source join,
    // flagged by the source-side __src marker (a literal — immune to
    // legitimately-null source columns)
    val bySrc = bySourceDelete.isDefined || bySourceSet.nonEmpty
    val stateOnly = if (bySrc) col("s.__src").isNull else lit(false)
    val matched = !stateOnly && col("t.ns").isNotNull
    val delete = whenMatchedDelete.map(matched && coalesce(_, lit(false)))
      .getOrElse(lit(false))
    // WHEN MATCHED [AND cond] THEN UPDATE: the gate evaluates inside the
    // routing join (NULL = not taken, SQL's condition semantics); a
    // matched row failing the gate appends nothing — the key keeps its
    // current state
    val updGate = whenMatchedUpdateCond.map(coalesce(_, lit(false)))
      .getOrElse(lit(true))
    // WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE: tombstone state
    // keys absent from the source (the full-reconciliation clause)
    val bySrcDel = bySourceDelete.map(stateOnly && coalesce(_, lit(false)))
      .getOrElse(lit(false))
    // WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET: rewrite
    // state keys absent from the source through target-scope
    // assignments (first-match composition with the DELETE clause is
    // the caller's gate algebra; !bySrcDel is belt-and-braces). NOT
    // no-op-suppressed: like SQL UPDATE, a by-source update must never
    // drop its own assignment.
    val bySrcUpd =
      if (bySourceSet.isEmpty) lit(false)
      else stateOnly && !bySrcDel &&
        coalesce(bySourceSetCond.getOrElse(lit(true)), lit(false))
    val bySrcSetMap = bySourceSet.map { case (n, c) => n.toLowerCase -> c }.toMap
    // WHEN NOT MATCHED [AND cond] THEN INSERT: the gate evaluates over
    // the source row (NULL = not taken — the row is simply dropped)
    val insGate = whenNotMatchedInsertCond.map(coalesce(_, lit(false)))
      .getOrElse(lit(true))
    // N-clause matched UPDATE (SQL first-match-wins, composed by the
    // SQL rule into DISJOINT masked gates): each clause's gate selects
    // that clause's own carrier columns (source-scope values the rule
    // projected under reserved __mc names); with no cases the single
    // canonical carrier serves the update route as before.
    def updVal(c: String): org.apache.spark.sql.Column =
      if (whenMatchedUpdateValues.isEmpty) col(s"s.$c")
      else whenMatchedUpdateValues.tail.foldLeft(
        when(coalesce(whenMatchedUpdateValues.head._1, lit(false)),
          col(s"s.${whenMatchedUpdateValues.head._2}$c"))) {
        case (acc, (g, p)) => acc.when(coalesce(g, lit(false)), col(s"s.$p$c"))
      }
    // no-op = payload AND every evolved column unchanged — suppressing
    // on payload alone would silently drop an extras-only update. The
    // comparison reads the value the firing clause WOULD append.
    val noop = matched && !delete &&
      extras.map(c => updVal(c) <=> col(s"cur__$c"))
        .foldLeft(updVal("payload") <=> col("cur_payload"))(_ && _)
    // the matched-update route (kept rows only reach it when updGate
    // held and the row was not a no-op; the residual when() guard keeps
    // the projection honest if the filter is reordered)
    val updating = matched && !delete && lit(whenMatchedUpdate) && updGate
    // by-source UPDATE output: the assigned expression, or the CURRENT
    // value (cur_ts/cur_val only exist on the full-state reconstruction
    // that a bySourceSet merge builds)
    def bySrcVal(n: String, cur: => org.apache.spark.sql.Column) =
      bySrcSetMap.getOrElse(n, cur)
    // route-disjoint arm chain: delete/by-source-delete → null,
    // by-source update → assigned-or-current, matched update → the
    // firing clause's carrier, default → the canonical source carrier
    // (insert route, and the single-clause shared-carrier shape)
    def armChain(arms: Seq[(org.apache.spark.sql.Column,
                            org.apache.spark.sql.Column)],
                 dflt: org.apache.spark.sql.Column) =
      arms.foldRight(dflt) { case ((c, v), acc) => when(c, v).otherwise(acc) }
    val payloadOut = armChain(
      Seq(((delete || bySrcDel), lit(null))) ++
        (if (bySourceSet.nonEmpty)
          Seq((bySrcUpd, bySrcVal("payload", col("cur_payload")))) else Nil) ++
        (if (whenMatchedUpdateValues.nonEmpty)
          Seq((updating, updVal("payload"))) else Nil),
      col("s.payload"))
    // SQL clause absence (the MERGE INTO surface): no WHEN MATCHED
    // UPDATE clause → a matched, non-deleted row is left untouched (not
    // upserted); no WHEN NOT MATCHED INSERT clause → an unmatched
    // source row is dropped. Defaults keep the Scala API's upsert shape.
    val keepBase = delete || bySrcDel || bySrcUpd ||
      (!matched && !stateOnly && lit(whenNotMatchedInsert) && insGate) ||
      (matched && !delete && lit(whenMatchedUpdate) && updGate && !noop)
    val (keep, payload) =
      if (guarded)
        // __dup is NULL on state-only rows (the window count rides the
        // source before the join): NULL > 1 routes false in both the
        // filter and the when(), exactly right
        (keepBase || col("__dup") > 1,
          when(col("__dup") > 1, raise_error(lit(mergeDupMsg)))
            .otherwise(payloadOut))
      else (keepBase, payloadOut)
    // a by-source row's identity comes from the STATE side (there is no
    // source row); a DELETE tombstones ts/val/extras to null, an UPDATE
    // rides current values for whatever it didn't assign
    def keyOut(n: String) =
      if (bySrc) when(stateOnly, col(s"t.$n")).otherwise(col(s"s.$n"))
      else col(s"s.$n")
    val tsOut = armChain(
      (if (bySourceSet.nonEmpty)
        Seq((bySrcUpd, bySrcVal("ts", col("cur_ts")))) else Nil) ++
        (if (bySrc) Seq((stateOnly, lit(null))) else Nil) ++
        (if (whenMatchedUpdateValues.nonEmpty)
          Seq((updating, updVal("ts"))) else Nil),
      col("s.ts"))
    val valOut = armChain(
      Seq(((delete || bySrcDel), lit(null))) ++
        (if (bySourceSet.nonEmpty)
          Seq((bySrcUpd, bySrcVal("val", col("cur_val")))) else Nil) ++
        (if (whenMatchedUpdateValues.nonEmpty)
          Seq((updating, updVal("val"))) else Nil),
      col("s.val"))
    joined.where(keep)
      .select(Seq(keyOut("ns").as("ns"), keyOut("ukey").as("ukey"),
        tsOut.as("ts"), payload.as("payload"), valOut.as("val")) ++
        // evolved columns ride the delta; a delete tombstones them; a
        // by-source update assigns them or rides their current values
        extras.map(c => armChain(
          Seq(((delete || bySrcDel), lit(null))) ++
            (if (bySourceSet.nonEmpty)
              Seq((bySrcUpd, bySrcVal(c, col(s"cur__$c")))) else Nil) ++
            (if (whenMatchedUpdateValues.nonEmpty)
              Seq((updating, updVal(c))) else Nil),
          col(s"s.$c")).as(c)) ++
        // carried identity values: any row whose key HAS state keeps its
        // assigned identity (update, delete tombstone, by-source routes);
        // only the insert route arrives NULL and generates fresh values
        // in appendOnce. Excluded from the no-op comparison by design.
        idCarry.map(c =>
          when(matched || stateOnly, col(s"cur__$c"))
            .otherwise(lit(null)).as(c)): _*)
  }

  /** Physical erase (the Delta-style DELETE FROM, and the GDPR lever a
    * logical tombstone can't be): remove every row matching `cond` from
    * the log itself, by rewriting ONLY the segment files that hold a
    * matching row. Backs SQL `DELETE FROM <catalog>.<table> WHERE …`
    * through the journal table's SupportsDelete.
    *
    * Shape, at 100 TB: (1) metadata pruning — ns/ukey equality
    * conjuncts in `cond` prune candidate files through the manifest's
    * directory names, per-file key ranges and key blooms, the same
    * data-skipping path reads use, so a single-key erasure opens only
    * the files that key can live in; (2) a probe scan finds which
    * candidates actually contain matches (Delta's touched-file scan);
    * (3) only those files are rewritten without the matching rows,
    * through the segment writer ([[writeSegments]]: fresh per-file
    * stats, blooms and sketches). Untouched files are untouched. The swap is one
    * manifest CAS: concurrent readers keep their snapshot, and the old
    * files stay on disk for retained versions until vacuum().
    *
    * Checkpoints are DROPPED from the manifest (their materialized
    * state may embed erased payloads — an erase that left them readable
    * would not be an erase); the next append or checkpoint() call
    * rebuilds one, and vacuum() reclaims the directories. Seqs of
    * retained rows are preserved — erasure never renumbers history.
    * Rows where `cond` is NULL are retained (DELETE's three-valued
    * WHERE semantics). Returns the number of rows erased. */
  def deleteWhere(cond: org.apache.spark.sql.Column): Long =
    retryOnLostRace(deleteWhereOnce(cond))

  private def deleteWhereOnce(cond: org.apache.spark.sql.Column): Long = {
    requireWritable()
    val m = manifest
    if (m.files.isEmpty) return 0L
    // ns/ukey equality and seq/ts range conjuncts prune through the
    // per-file metadata — sound for an erase: a file with no in-range
    // row holds no match
    val candidates = SegmentFiles.prune(m, condBounds(m, cond).probe)
    if (candidates.isEmpty) return 0L
    // Probe: which candidate files hold a matching row (and how many).
    // `__file` names the file in URI form; one that fails to map back to
    // the manifest falls back to rewriting every candidate
    // (conservative, never wrong). Rows already subtracted by a
    // deletion vector don't count.
    val probe = readSegmentsOver(candidates, m.schemaDdl, m.dvParts,
        keepPos = true)
      .where(cond)
      .groupBy(col("__file").as("f"))
      .agg(count(lit(1)).as("hits"))
      .collect()
    if (probe.isEmpty) return 0L
    val deleted = probe.map(_.getLong(1)).sum
    val mapped = probe.map(r => Some(SegmentFiles.fromUri(r.getString(0)))
      .filter(m.files.contains))
    val affected =
      if (mapped.forall(_.isDefined)) mapped.flatten.toSeq else candidates
    val keep = !coalesce(cond, lit(false))
    // the rewritten files get fresh stats, blooms and sketches from the
    // retained rows, clustered by key
    val w = pinned(readSegmentsOver(affected, m.schemaDdl, m.dvParts).where(keep))(
      writeSegments(_, SegmentLayout.ByKey, JournalStore.activeStatCols(m.meta)))
    val newFiles = w.files
    val files2 = (m.files diff affected) ++ newFiles
    val fstats2 = m.fstats.filterNot(s => affected.contains(s.file)) ++ w.fileStats
    // Epoch- and (epoch, ns)-grain stats for the touched groups are
    // re-derived from per-file stats when every remaining file in the
    // group carries them (exact: each FileStat is exact for its file),
    // and recomputed by scanning the group's files otherwise — the
    // aggregate-pushdown paths answer COUNT from these, so stale rows
    // counts are a wrong-answer bug, not a precision loss.
    val fmap2 = SegmentFiles.statsByFile(fstats2)
    val touchedEpochs = (affected ++ newFiles).flatMap(epochOf).distinct
    // KeyStat.ns holds the ns VALUE: key the rollup by the decoded
    // directory, or an escaped namespace would gain a stale twin
    val touchedDirs = (affected ++ newFiles).flatMap(SegmentFiles.parse(_).nsKey).distinct
    def scanStats(fs: Seq[String]): (Long, Long, Long) = {
      val r = readSegmentsOver(fs, m.schemaDdl, m.dvParts)
        .agg(count(lit(1)), min("seq"), max("seq")).head
      (r.getLong(0), if (r.isNullAt(1)) Long.MaxValue else r.getLong(1),
        if (r.isNullAt(2)) Long.MinValue else r.getLong(2))
    }
    val stats2 = m.stats.filterNot(s => touchedEpochs.contains(s.epoch)) ++
      touchedEpochs.flatMap { e =>
        val fs = files2.filter(f => epochOf(f).contains(e))
        if (fs.isEmpty) None
        else if (fs.forall(fmap2.contains)) {
          val ss = fs.map(fmap2)
          Some(EpochStat(e, ss.map(_.rows).sum,
            ss.map(_.minSeq).min, ss.map(_.maxSeq).max))
        } else {
          val (n, mn, mx) = scanStats(fs)
          if (n == 0L) None else Some(EpochStat(e, n, mn, mx))
        }
      }
    val kstats2 = m.kstats.filterNot(k => touchedDirs.contains((k.epoch, k.ns))) ++
      touchedDirs.flatMap { case (e, n) =>
        val fs = files2.filter(f => SegmentFiles.parse(f).nsKey.contains((e, n)))
        if (fs.isEmpty) None
        else if (fs.forall(fmap2.contains)) {
          val ss = fs.map(fmap2)
          val keyed = ss.filter(s => s.minKey <= s.maxKey)
          Some(KeyStat(e, n,
            if (keyed.isEmpty) 1L else keyed.map(_.minKey).min,
            if (keyed.isEmpty) 0L else keyed.map(_.maxKey).max,
            ss.map(_.rows).sum))
        } else {
          val r = readSegmentsOver(fs, m.schemaDdl, m.dvParts)
            .agg(count(lit(1)), min("ukey"), max("ukey")).head
          if (r.getLong(0) == 0L) None
          else Some(KeyStat(e, n,
            if (r.isNullAt(1)) 1L else r.getLong(1),
            if (r.isNullAt(2)) 0L else r.getLong(2), r.getLong(0)))
        }
      }
    val dvParts2 = dvPartsWithout(m.dvParts, affected)
    // STATS SURVIVE THE ERASE: rewritten files carry fresh sketches
    // (computed above from the exact retained rows); the merged
    // analyze() stats refold from ALL surviving files' sketches —
    // exact-or-decline per refoldStatsMeta's contract.
    val (meta2, cstatsParts2, cstatsEnvs2) =
      rewriteStatsState(m, files2, fstats2, dvParts2, w.fileSketches)
    commitSeam()
    writeManifest(path, m.copy(op = "delete", files = files2, stats = stats2.sortBy(_.epoch),
      kstats = kstats2.sortBy(k => (k.epoch, k.ns)), fstats = fstats2,
      checkpoints = Nil, meta = meta2, cstatsParts = cstatsParts2,
      cstatsEnvs = cstatsEnvs2,
      // vectors over the rewritten files are applied by the rewrite
      // itself (the retained read subtracted them) — drop the entries
      dvParts = dvParts2))
    deleted
  }

  /** Deletion-vector delete — Delta's DV fast path beside
    * [[deleteWhere]]'s full rewrite: record each matching row's (file,
    * row-position) pair in the tiny dv/ sidecar and subtract them from
    * every read (one broadcast anti-join). Cost is O(matching rows) —
    * a single-key delete on a 100 TB store writes a few KiB and
    * rewrites NOTHING, where deleteWhere rewrites every touched file.
    * NOT the GDPR lever: the bytes stay inside the segment files until
    * a compact() over those files physically purges them (the rewrite
    * reads DV-subtracted rows and drops the applied vectors); use
    * deleteWhere for immediate erasure. Reader semantics must be
    * indistinguishable from deleteWhere, purge included — pinned by
    * journal_dv_erase's oracle and JournalStoreSpec.
    *
    * Metadata: per-file / per-epoch / per-(epoch, ns) ROW COUNTS are
    * decremented exactly (the probe counts live hits per file), so
    * nsStats()/segmentStats()/commitHistory() stay truthful; min/max
    * seq/key/ts ranges are left as-is — wider than the live data, which
    * is conservative for every pruning path. A file whose every
    * stats-known row is deleted leaves the manifest entirely (its
    * vector entries are dropped — dead weight once the file is
    * unreferenced). Checkpoints are dropped: their materialized state
    * embeds deleted rows. Rows where `cond` is NULL are retained
    * (three-valued DELETE). Returns rows deleted. */
  def deleteWhereDv(cond: org.apache.spark.sql.Column): Long =
    retryOnLostRace(deleteWhereDvOnce(cond))

  private def deleteWhereDvOnce(cond: org.apache.spark.sql.Column): Long = {
    requireWritable()
    val m = manifest
    if (m.files.isEmpty) return 0L
    // same seq/ts range skipping as deleteWhere: row-independent erase,
    // so a file outside the bounds can hold no doomed row
    val candidates = SegmentFiles.prune(m, condBounds(m, cond).probe)
    if (candidates.isEmpty) return 0L
    // One scan finds the doomed rows' identities; already-deleted rows
    // (subtracted by an existing vector) can't match again, so repeated
    // deletes of the same predicate are no-ops and counts never double.
    // Vector entries name files in URI form (`__file`); the manifest
    // bookkeeping below uses the manifest names.
    val hits = readSegmentsOver(candidates, m.schemaDdl, m.dvParts,
        keepPos = true)
      .where(cond)
      .select(col("__file").as("file"), col("__pos").as("pos"))
    val (perFile, fullDead, newPart) = pinned(hits) { hitRows =>
      val perFile = hitRows.groupBy("file").agg(count(lit(1)).as("hits"))
        .collect().map(r => SegmentFiles.fromUri(r.getString(0)) -> r.getLong(1)).toMap
      // exact-stats files that lost every row leave the manifest outright
      val fullDead = perFile.collect {
        case (f, h) if m.fileStats.get(f).exists(_.rows == h) => f
      }.toSeq
      val newEntries =
        if (fullDead.isEmpty) hitRows
        else hitRows.where(!col("file").isin(fullDead.map(SegmentFiles.uriName): _*))
      (perFile, fullDead,
        if (perFile.isEmpty) None else writeDvPart(newEntries))
    }
    if (perFile.isEmpty) return 0L
    val deleted = perFile.values.sum
    val files2 = m.files diff fullDead
    val epochHits = perFile.toSeq.groupBy { case (f, _) => epochOf(f) }
      .collect { case (Some(e), xs) => e -> xs.map(_._2).sum }
    val dirHits = perFile.toSeq.groupBy { case (f, _) => SegmentFiles.parse(f).nsKey }
      .collect { case (Some(d), xs) => d -> xs.map(_._2).sum }
    val fstats2 = m.fstats.filterNot(s => fullDead.contains(s.file)).map { s =>
      perFile.get(s.file).fold(s)(h => s.copy(rows = s.rows - h))
    }
    val stats2 = m.stats.flatMap { st =>
      epochHits.get(st.epoch) match {
        case None => Some(st)
        case Some(h) =>
          val r = st.rows - h
          if (r <= 0L) None else Some(st.copy(rows = r))
      }
    }
    val kstats2 = m.kstats.flatMap { k =>
      dirHits.get((k.epoch, k.ns)) match {
        case None => Some(k)
        case Some(h) =>
          val r = k.rows - h
          if (r <= 0L) None else Some(k.copy(rows = r))
      }
    }
    // each delete appends one part; past the cap, fold to one (same
    // consolidation discipline as the stats sidecars). EXISTING parts'
    // entries for files that just left the manifest are dropped too —
    // dead weight that would otherwise ride every future read.
    val keptOld =
      if (fullDead.isEmpty) m.dvParts else dvPartsWithout(m.dvParts, fullDead)
    val dvParts1 = keptOld ++ newPart.toSeq
    val dvParts2 =
      if (dvParts1.sizeIs > JournalStore.MaxDvParts)
        writeDvPart(readDvTable(dvParts1)).toSeq
      else dvParts1
    commitSeam()
    writeManifest(path, m.copy(op = "delete-dv", files = files2, stats = stats2,
      kstats = kstats2, fstats = fstats2, checkpoints = Nil,
      dvParts = dvParts2))
    deleted
  }

  /** Physically remove deletion-vector-dead rows where they
    * CONCENTRATE — Delta's `REORG TABLE … APPLY (PURGE)` policy knob.
    * Rewrites only the files whose dead fraction ≥ `minDeadFraction`
    * (dead = this file's vector entries; live = its manifest row count,
    * which deleteWhereDv keeps DV-decremented, so the fraction is exact
    * and costs ONE aggregate over the dv table — no data scan). The
    * rewrite goes through compactFiles, which materializes the
    * subtraction and drops the purged files' vector entries, so a
    * GDPR-style erase SLA is: deleteWhereDv (logical, O(matches)) now,
    * purgeDeletes on the maintenance cadence (physical, O(dirty
    * files)), vacuum to unlink bytes. Files below the threshold keep
    * serving through the (cheap, broadcast) DV subtraction — rewriting
    * a 1-in-a-million-dead file would be pure write amplification.
    * Returns the number of files rewritten. */
  def purgeDeletes(minDeadFraction: Double = 0.1): Int = {
    requireWritable()
    require(minDeadFraction > 0 && minDeadFraction <= 1,
      s"minDeadFraction must be in (0, 1], got $minDeadFraction")
    val m = manifest
    if (m.dvParts.isEmpty) return 0
    val deadPerFile = readDvTable(m.dvParts).groupBy("file")
      .agg(count(lit(1)).as("dead")).collect()
      .map(r => SegmentFiles.fromUri(r.getString(0)) -> r.getLong(1)).toMap
    val victims = m.files.filter { f =>
      deadPerFile.get(f).exists { dead =>
        val live = m.fileStats.get(f).map(_.rows).getOrElse(Long.MaxValue)
        live != Long.MaxValue &&
          dead.toDouble / math.max(dead + live, 1L) >= minDeadFraction
      }
    }
    if (victims.nonEmpty) compactFiles(victims, SegmentLayout.ByKey)
    victims.size
  }

  /** [[JournalStore.CondBounds]] of `cond` over snapshot `m`, for deleteWhere,
    * deleteWhereDv and updateWhere. Spark 4's Column no longer exposes
    * its Catalyst expression; it is recovered from the ANALYZED plan of
    * a filter over a SCHEMA-ONLY relation (attribute resolution and cast
    * insertion need only the schema, so this never builds a file index
    * or reads a footer). The analyzer may wrap literals in casts;
    * equalityConjuncts folds those. A shape that can't be recovered
    * just means no pruning — the callers' row filters stay exact. */
  private def condBounds(m: Manifest, cond: org.apache.spark.sql.Column): CondBounds = {
    def recover(df: DataFrame) =
      df.where(cond).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
    val e =
      try recover(readSegmentsOver(Nil, m.schemaDdl))
      catch {
        // legacy edge: a store with no pinned DDL whose files carry
        // evolved columns — the schema-only surface can't resolve the
        // predicate, but the footer-inferred file relation can (and the
        // callers' scans need exactly that resolution anyway)
        case _: org.apache.spark.sql.AnalysisException =>
          recover(readSegmentsOver(m.files, m.schemaDdl, m.dvParts))
      }
    val (ns, ukey) = e.map(equalityConjuncts).getOrElse((None, None))
    val (seq, ts) = e.map(rangeConjuncts).getOrElse((None, None))
    CondBounds(ns, ukey, seq, ts)
  }

  /** Bare column name of an attribute reference (resolved or not);
    * anything computed yields None — no pruning on that conjunct. */
  private def predName(x: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[String] = x match {
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
      u.nameParts.lastOption.map(_.toLowerCase)
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
      Some(a.name.toLowerCase)
    case _ => None
  }

  /** Top-level AND conjuncts of a predicate. */
  private def predConjuncts(x: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = x match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      predConjuncts(l) ++ predConjuncts(r)
    case other => Seq(other)
  }

  /** The analyzer wraps int literals in Casts (ukey === 42 →
    * EqualTo(ukey, cast(42 as bigint))). Fold LITERAL-side casts only,
    * and keep the fold only when it round-trips losslessly back to the
    * original value — a narrowing cast (cast(2^32+5 as int)) must NOT
    * prune as its truncated value. Attribute-side casts are left
    * intact: predName() then yields None and the code falls back to no
    * pruning, which is safe by construction (the probe scan still
    * evaluates the real predicate). An earlier version peeled casts on
    * BOTH sides, so deleteWhere(col("ukey").cast("int") === 5) pruned
    * as ukey=5 and a file holding ukey=2^32+5 silently survived the
    * erase. */
  private def stripLosslessCast(
      x: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = x match {
    case c: org.apache.spark.sql.catalyst.expressions.Cast =>
      stripLosslessCast(c.child) match {
        case lit: org.apache.spark.sql.catalyst.expressions.Literal =>
          try {
            val folded = org.apache.spark.sql.catalyst.expressions
              .Cast(lit, c.dataType).eval(null)
            val back = org.apache.spark.sql.catalyst.expressions
              .Cast(org.apache.spark.sql.catalyst.expressions
                .Literal(folded, c.dataType), lit.dataType).eval(null)
            if (folded != null && back == lit.value)
              org.apache.spark.sql.catalyst.expressions.Literal(folded, c.dataType)
            else x
          } catch { case _: Exception => x } // ANSI overflow etc. → no fold
        case _ => x // attribute-side cast: no pruning on this conjunct
      }
    case other => other
  }

  /** ns/ukey equality conjuncts of a delete predicate — the shapes the
    * manifest can prune candidate files with. Anything else simply
    * yields no pruning (every file is a candidate; the probe scan still
    * bounds the rewrite to files with actual matches). */
  private def equalityConjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : (Option[String], Option[Long]) = {
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal}
    val eqs = predConjuncts(e).map {
      case EqualTo(l, r) => EqualTo(stripLosslessCast(l), stripLosslessCast(r))
      case other => other
    }.collect {
      case EqualTo(a, Literal(v, _)) if predName(a).isDefined => predName(a).get -> v
      case EqualTo(Literal(v, _), a) if predName(a).isDefined => predName(a).get -> v
    }
    val ns = eqs.collectFirst {
      case ("ns", v: org.apache.spark.unsafe.types.UTF8String) => v.toString }
    val key = eqs.collectFirst {
      case ("ukey", v: Long) => v
      case ("ukey", v: Int) => v.toLong }
    (ns, key)
  }

  /** seq/ts RANGE conjuncts of an UPDATE/DELETE predicate — the bounds
    * the manifest's per-file seq and ts ranges can prune with, beside
    * the equality pruning. Same lossless-cast discipline as
    * [[equalityConjuncts]]; any unrecognized shape contributes no bound
    * (conservative). Returns CLOSED [lo, hi] bounds; ts bounds are unix
    * micros — the stats geometry (Spark TimestampType IS micros, so a
    * strict bound tightens by exactly one). Rows with NULL seq/ts can
    * never satisfy a range conjunct (three-valued WHERE), so ts pruning
    * stays sound on null-ts rows. */
  private[journal] def rangeConjuncts(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : (Option[(Long, Long)], Option[(Long, Long)]) = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    var seqB: Option[(Long, Long)] = None
    var tsB: Option[(Long, Long)] = None
    def tighten(cur: Option[(Long, Long)], lo: Long, hi: Long) = cur match {
      case None => Some((lo, hi))
      case Some((l, h)) => Some((math.max(l, lo), math.min(h, hi)))
    }
    def rec(n: String, op: String, v: Long): Unit = {
      val (lo, hi) = op match {
        case "<"  => (Long.MinValue, if (v == Long.MinValue) v else v - 1)
        case "<=" => (Long.MinValue, v)
        case ">"  => (if (v == Long.MaxValue) v else v + 1, Long.MaxValue)
        case ">=" => (v, Long.MaxValue)
        case _    => (v, v) // "="
      }
      n match {
        case "seq" => seqB = tighten(seqB, lo, hi)
        case "ts"  => tsB = tighten(tsB, lo, hi)
        case _     => ()
      }
    }
    def field(a0: Expression, l0: Expression): Option[(String, Long)] = {
      val a = stripLosslessCast(a0)
      (predName(a), stripLosslessCast(l0)) match {
        case (Some("seq"), Literal(v: Long, _)) => Some("seq" -> v)
        case (Some("seq"), Literal(v: Int, _)) => Some("seq" -> v.toLong)
        case (Some("ts"), Literal(v: Long, TimestampType)) => Some("ts" -> v)
        case (Some("ts"), Literal(v: Long, TimestampNTZType)) => Some("ts" -> v)
        case _ => None
      }
    }
    predConjuncts(e).foreach {
      case EqualTo(l, r) =>
        field(l, r).orElse(field(r, l)).foreach { case (n, v) => rec(n, "=", v) }
      case LessThan(l, r) =>
        field(l, r).foreach { case (n, v) => rec(n, "<", v) }
        field(r, l).foreach { case (n, v) => rec(n, ">", v) }
      case LessThanOrEqual(l, r) =>
        field(l, r).foreach { case (n, v) => rec(n, "<=", v) }
        field(r, l).foreach { case (n, v) => rec(n, ">=", v) }
      case GreaterThan(l, r) =>
        field(l, r).foreach { case (n, v) => rec(n, ">", v) }
        field(r, l).foreach { case (n, v) => rec(n, "<", v) }
      case GreaterThanOrEqual(l, r) =>
        field(l, r).foreach { case (n, v) => rec(n, ">=", v) }
        field(r, l).foreach { case (n, v) => rec(n, "<=", v) }
      case _ => ()
    }
    (seqB, tsB)
  }

  /** The commit log as a DataFrame — Delta's DESCRIBE HISTORY for the
    * journal: one row per RETAINED manifest version (vacuum bounds the
    * window), with the version's high-water seq, live file/checkpoint
    * counts and the exact row count its per-file stats carry. Derived
    * entirely from the tiny version manifests — no data files open. */
  def commitHistory(): DataFrame = {
    import spark.implicits._
    val rows = JournalStore.listVersionFiles(path).flatMap { case (v, _) =>
      JournalStore.readManifestVersion(path, v).map { mv =>
        (v, mv.op, mv.maxSeq, mv.files.size.toLong,
          if (mv.files.nonEmpty && mv.files.forall(mv.fileStats.contains))
            mv.files.map(mv.fileStats(_).rows).sum
          else -1L,
          mv.checkpoints.size.toLong,
          // deletion-vector geometry + commit wall clock (the TIMESTAMP
          // AS OF axis; real but non-deterministic — declared oracle
          // rows pin only the deterministic columns)
          mv.dvParts.size.toLong, mv.commitTsMs)
      }
    }
    rows.toDF("version", "op", "max_seq", "n_files", "n_rows",
        "n_checkpoints", "n_dv_parts", "commit_ts_ms")
      .orderBy("version")
  }

  /** Full journal scan in seq order (marasa history(ns=all)). */
  /** UPDATE: rewrite the CURRENT state rows matching `cond` through
    * `assigns` and append them — one new state row per matched key
    * (standard affected-count semantics; history preserved).
    * Deliberately NOT routed through merge: merge's no-op suppression
    * keys on PAYLOAD, so a `SET val = …` that leaves the payload
    * untouched would be silently suppressed — an UPDATE must never drop
    * its own assignment. Evolved extra columns ride the appended row
    * unchanged (and may themselves be assigned). Backs SQL `UPDATE` on
    * journal tables (JournalMergeRule); returns rows rewritten.
    *
    * Shape, at 100 TB (the deleteWhere pruning precedent, not a full
    * log replay): ns/ukey EQUALITY conjuncts in `cond` prune candidate
    * files through the manifest's directory names, per-file key ranges
    * and key blooms — a point UPDATE (`WHERE ns='x' AND ukey=5`) opens
    * only the files that key can live in, and the same equalities ride
    * the row scan as pushed parquet predicates (sound pre-aggregation:
    * ns/ukey are the state grouping keys themselves, so dropping other
    * keys' rows never changes a surviving group's arg-max). State is
    * ONE partial-aggregated struct-max shuffle (the tombstoneAwareState
    * idiom widened to every data column — comparison is decided
    * entirely by the unique leading seq), never a global row_number
    * window: no single-partition sort, map-side combine does the
    * heavy lifting. A lost manifest CAS re-derives the whole state
    * rebuild against the fresh manifest (the merge conflict rule). */
  def updateWhere(assigns: Seq[(String, org.apache.spark.sql.Column)],
                  cond: Option[org.apache.spark.sql.Column]): Long = {
    requireWritable()
    require(assigns.nonEmpty, "updateWhere needs at least one assignment")
    retryOnLostRace {
      val m = manifest
      if (m.files.isEmpty) 0L
      else {
        val (candidates, keyPred) = updatePruning(m, cond)
        if (candidates.isEmpty) 0L
        else {
          val state = updateStateOver(m, candidates, keyPred)
          val amap = assigns.map { case (n, c) => n.toLowerCase -> c }.toMap
          val engine = Set("seq", "epoch", "skey")
          require(!amap.keySet.exists(engine.contains),
            "updateWhere cannot assign engine columns (seq/epoch/skey)")
          // Key reassignment would append the row under the NEW key while
          // the OLD key's latest row stays live and untombstoned — silent
          // state duplication. Same refusal as the SQL surface
          // (translateUpdate); a key move is DELETE + append.
          require(!amap.keySet.exists(Set("ns", "ukey").contains),
            "updateWhere cannot assign key columns (ns/ukey); " +
              "move a key with DELETE + append")
          // GENERATED columns recompute from the post-assignment row
          // (Delta's UPDATE rule) — a direct assignment would be
          // silently overwritten, so refuse it loudly. ALWAYS identity
          // columns never accept explicit values; BY DEFAULT ones do.
          val genCols = m.meta.keys.collect {
            case k if k.startsWith(JournalStore.GeneratedPrefix) =>
              k.stripPrefix(JournalStore.GeneratedPrefix).toLowerCase
          }.toSet
          val assignedGen = amap.keySet.intersect(genCols)
          require(assignedGen.isEmpty,
            s"updateWhere cannot assign GENERATED column(s) " +
              s"${assignedGen.toSeq.sorted.mkString(", ")} — the store " +
              "recomputes them from the updated row")
          val alwaysIds = m.meta.collect {
            case (k, v) if k.startsWith(JournalStore.IdentityPrefix) &&
              !JournalStore.parseIdentity(v).allowExplicit =>
              k.stripPrefix(JournalStore.IdentityPrefix).toLowerCase
          }.toSet
          val assignedId = amap.keySet.intersect(alwaysIds)
          require(assignedId.isEmpty,
            s"updateWhere cannot assign GENERATED ALWAYS AS IDENTITY " +
              s"column(s) ${assignedId.toSeq.sorted.mkString(", ")}")
          val outCols = state.columns.toSeq
          val unknown = amap.keySet -- outCols.map(_.toLowerCase)
          require(unknown.isEmpty,
            s"updateWhere: no such column(s) ${unknown.mkString(", ")}")
          val updated = state
            .where(cond.getOrElse(lit(true)))
            .select(outCols.map { c =>
              amap.get(c.toLowerCase)
                .map(_.cast(state.schema(c).dataType))
                .getOrElse(col(c)).as(c)
            }: _*)
          // internalRewrite: the re-appended state rows carry their
          // existing identity values verbatim and recompute generated
          // columns from the post-assignment row
          appendOnce(updated, None, "", internalRewrite = true) - m.maxSeq
        }
      }
    }
  }

  /** The metadata pruning an UPDATE's condition drives — candidate
    * files (manifest ns-directory / key-range / bloom skipping over the
    * condition's ns/ukey equality conjuncts) plus the row predicate
    * those equalities push into the pruned scan. Journal-scoped so
    * plan-shape specs can pin the pruning without running a commit.
    *
    * seq/ts RANGE conjuncts prune TWO-PHASE: unlike an erase, the state
    * rebuild must see EVERY row of an affected key (the per-key arg-max
    * would otherwise resurrect an older record), so range-skipped files
    * can't simply leave the scan. Instead the range-pruned file subset
    * is PROBED for the distinct keys with any matching row — a superset
    * of the keys whose CURRENT state matches, since a current row
    * matching the condition is itself an in-range row — and the state
    * rebuild then reads only the files that can hold THOSE keys
    * ([[SegmentFiles.Probe.exactKeys]]), with the key lists pushed as row
    * filters. A probe returning more than MergeSmallSourceRows keys (or
    * any null-ns key, which an exact key list cannot describe) falls
    * back to the equality-pruned set — conservative, never wrong. */
  private[journal] def updatePruning(m: Manifest,
      cond: Option[org.apache.spark.sql.Column])
      : (Seq[String], org.apache.spark.sql.Column) = {
    val b = cond.fold(CondBounds(None, None, None, None))(condBounds(m, _))
    val keyPred = keyPredicate(b.ns, b.ukey)
    val baseCand = SegmentFiles.prune(m, b.keys)
    if (b.seq.isEmpty && b.ts.isEmpty) return (baseCand, keyPred)
    val probeFiles = SegmentFiles.prune(m, b.probe)
    if (probeFiles.isEmpty) return (Nil, keyPred)
    if (probeFiles.size == baseCand.size) return (baseCand, keyPred)
    val probe = readSegmentsOver(probeFiles, m.schemaDdl, m.dvParts)
      .where(cond.getOrElse(lit(true)))
      .select(col("ns").cast("string").as("ns"),
        col("ukey").cast("long").as("ukey"))
      .distinct().take(JournalStore.MergeSmallSourceRows + 1)
    if (probe.length > JournalStore.MergeSmallSourceRows ||
        probe.exists(_.isNullAt(0))) return (baseCand, keyPred)
    if (probe.isEmpty) return (Nil, keyPred)
    val keys = probe.toSeq.map(r => (r.getString(0),
      if (r.isNullAt(1)) None else Some(r.getLong(1)))).distinct
    val nss = keys.map(_._1).distinct
    val uks = keys.flatMap(_._2).distinct
    val hasNullKey = keys.exists(_._2.isEmpty)
    val ukP = {
      val in = if (uks.isEmpty) lit(false) else col("ukey").isin(uks: _*)
      if (hasNullKey) in || col("ukey").isNull else in
    }
    (SegmentFiles.prune(m, Probe.exactKeys(keys)),
      keyPred && col("ns").isin(nss: _*) && ukP)
  }

  /** Full-row current state over exactly `files` — ONE struct-max
    * aggregate (no window): every data column (ts/payload/val and
    * evolved extras) rides the arg-max struct behind the unique
    * leading seq; tombstoned keys drop. Journal-scoped for specs. */
  private[journal] def updateStateOver(m: Manifest, files: Seq[String],
      keyPred: org.apache.spark.sql.Column): DataFrame = {
    val seg = readSegmentsOver(files, m.schemaDdl, m.dvParts).where(keyPred)
    val engine = Set("seq", "ns", "ukey", "epoch", "skey")
    val dataCols = seg.schema.fieldNames.toSeq
      .filterNot(c => engine.contains(c.toLowerCase))
    seg.groupBy("ns", "ukey")
      .agg(max(struct((col("seq") +: dataCols.map(col)): _*)).as("top"))
      .select(col("ns") +: col("ukey") +:
        dataCols.map(c => col(s"top.$c").as(c)): _*)
      .where(col("payload").isNotNull)
  }

  def scan(): DataFrame =
    readSegments()
      .select("seq", "ns", "ukey", "ts", "payload", "val").orderBy("seq")

  /** Unordered scan that KEEPS the epoch partition column — the relation
    * surface for the `journal` data source, where pushed seq bounds are
    * translated to epoch-directory bounds (partition pruning). Column
    * order is canonical journal columns, then evolved extras, then
    * epoch — IDENTICAL to the DSv2 table's schema, so a read that falls
    * back to the V1 relation (state mode, ns option) sees the same
    * surface, evolved columns included. */
  def scanUnordered(): DataFrame = canonicalSurface(readSegments())

  /** Canonical journal columns, then evolved extras, then epoch — the
    * one column-ordering rule for every relation surface (full and
    * pruned scans must agree or a pushed-filter read would change the
    * visible schema). */
  private def canonicalSurface(seg: DataFrame): DataFrame = {
    val canonical = Seq("seq", "ns", "ukey", "ts", "payload", "val")
    val names = seg.schema.fieldNames.toSeq
    val head = canonical.filter(names.contains)
    val rest = names.filterNot(n => canonical.contains(n) || n == "epoch")
    seg.select((head ++ rest :+ "epoch").map(col): _*)
  }

  /** Point-in-time state by wall-clock timestamp (marasa time travel by
    * ts). Checkpoints are seq-keyed, but seqs are assigned in ts order,
    * so a checkpoint C still stands in for the whole prefix whenever the
    * per-file stats certify that EVERY row at or below C has ts <= t
    * (then the ts filter is a no-op below C): the read becomes one
    * checkpoint + a bounded tail, the same shape as stateAt. The
    * certificate needs stats on every file holding rows <= C — a store
    * with pre-stats files falls back to the full (still ts-file-pruned)
    * replay. Independently, files whose minimum ts exceeds t are dropped
    * from the scan entirely, so neither path is unbounded over future
    * epochs. */
  def stateAtTs(t: java.sql.Timestamp): DataFrame = stateAtTsIn(manifest, t)

  /** stateAtTs against ONE manifest snapshot, optionally restricted to
    * ns / ukey equality under the combine (exact — see [[stateAtIn]]). */
  private[graft] def stateAtTsIn(m: Manifest, t: java.sql.Timestamp,
                                 ns: Option[String] = None,
                                 ukey: Option[Long] = None): DataFrame = {
    val tMicros = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val fmap = m.fileStats
    // A file certifies checkpoint C when it either holds no rows at or
    // below C, or every one of its rows passes the ts filter — which
    // needs tsMax <= t AND zero null-ts rows: tsMax aggregates only
    // non-null ts, but `ts <= t` EXCLUDES null-ts rows while the
    // seq-keyed checkpoint would include them. nullTs < 0 means the
    // stats predate null tracking — unknown, so never certify.
    val ckpt = m.checkpoints.sorted.reverse.find { c =>
      m.files.forall { f =>
        fmap.get(f).exists(s =>
          s.minSeq > c || (s.tsMax <= tMicros && s.nullTs == 0L))
      }
    }
    val keys = keyPredicate(ns, ukey)
    val base = ckpt.map(c => checkpointRows(m, c).where(keys))
    val floor = ckpt.fold(Long.MinValue)(c => (c + 1) / epochSize)
    val pruned = readSegmentsOver(
      SegmentFiles.prune(m, Probe.point(ns, ukey, (floor, Long.MaxValue))
        .copy(ts = Some((Long.MinValue, tMicros)))),
      m.schemaDdl, m.dvParts)
    val tail = ckpt.fold(pruned) { c =>
      pruned.where(col("epoch") >= lit(floor) && col("seq") > c)
    }.where(col("ts") <= lit(t) && keys).select("ns", "ukey", "seq", "payload")
    tombstoneAwareState(base.fold(tail)(_.unionByName(tail)))
  }

  /** Per-key (or per-ns) history in seq order. Key-targeted reads prune
    * segment files by the manifest's (epoch, ns) key ranges before the
    * scan is planned — at 100 TB a key that appears in a handful of
    * epochs reads a handful of files, not the namespace's whole history
    * (the row filters still apply, so pruning is never load-bearing for
    * correctness). */
  def history(ns: String, ukey: Option[Long] = None): DataFrame =
    segmentsFor(manifest, Some(ns), ukey)
      .where(keyPredicate(Some(ns), ukey))
      .select("seq", "ns", "ukey", "ts", "payload", "val").orderBy("seq")

  /** Point-in-time state (marasa read(ns, seq)): newest checkpoint ≤ seq
    * plus arg-max replay of only the tail segments. */
  def stateAt(seq: Long): DataFrame = stateAtIn(manifest, seq)

  /** stateAt against ONE manifest snapshot: the file list, the schema,
    * the deletion vectors and the checkpoint list all come from `m`, so
    * a commit landing mid-plan can't mix two versions. The tail is
    * planned over only the files [[SegmentFiles.prune]] keeps for the
    * tail epochs [(c+1)/epochSize, seq/epochSize] — Spark never lists the rest of
    * the store (past 32 paths its file index runs a distributed listing
    * job). The epoch and seq row filters stay in the plan, so the
    * pruning is IO-only.
    *
    * `ns` / `ukey` restrict the read to equality on the grouping keys,
    * applied to the checkpoint AND the tail before the combine — exact,
    * because every row of a (ns, ukey) group carries that key and the
    * tombstone filter acts per group. The tail additionally prunes by
    * ns directory, per-file key range and key bloom. */
  private[graft] def stateAtIn(m: Manifest, seq: Long,
                               ns: Option[String] = None,
                               ukey: Option[Long] = None): DataFrame = {
    val tail = segmentsFor(m, ns, ukey,
      tailEpochs(latestCheckpoint(m.checkpoints, seq), seq))
    stateAtOver(tail, m, seq, keyPredicate(ns, ukey))
  }

  /** The newest checkpoint at or below `seq`: the base a state read at
    * `seq` replays its tail onto. */
  private def latestCheckpoint(checkpoints: Seq[Long], seq: Long): Option[Long] =
    checkpoints.filter(_ <= seq).maxOption

  /** Epochs a state read at `seq` over checkpoint `ckpt` replays. The
    * floor is (c+1)/epochSize: a checkpoint exactly at an epoch boundary
    * (auto-checkpoint) skips that epoch entirely. */
  private def tailEpochs(ckpt: Option[Long], seq: Long): (Long, Long) =
    ((ckpt.getOrElse(-1L) + 1) / epochSize, seq / epochSize)

  /** ns / ukey equality as one row predicate (`true` when neither). */
  private def keyPredicate(ns: Option[String],
                           ukey: Option[Long]): org.apache.spark.sql.Column =
    (ns.map(n => col("ns") === lit(n)) ++ ukey.map(k => col("ukey") === lit(k)))
      .reduceOption(_ && _).getOrElse(lit(true))

  /** stateAt over an explicit row source (must carry ns, ukey, seq,
    * payload, epoch) — lets append compute the auto-checkpoint from the
    * cached batch instead of re-reading the files it just wrote.
    * `keys` filters the checkpoint and the tail alike. */
  private def stateAtOver(rows: DataFrame, m: Manifest, seq: Long,
                          keys: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    val ckpt = latestCheckpoint(m.checkpoints, seq)
    val (lo, hi) = tailEpochs(ckpt, seq)
    val tail = rows
      .where(col("epoch") >= lit(lo) && col("epoch") <= lit(hi))
      .where(col("seq") <= seq && col("seq") > lit(ckpt.getOrElse(-1L)) && keys)
      .select("ns", "ukey", "seq", "payload")
    val base = ckpt.map(cp => checkpointRows(m, cp).where(keys))
    tombstoneAwareState(base.fold(tail)(_.unionByName(tail)))
  }

  /** Checkpoint `cp` as tail-shaped rows (ns, ukey, seq, payload). A
    * checkpoint file holds a state read's output, so when `m` pins a
    * schema the reader is handed [[stateSurface]] and samples no footer
    * (parquet schema inference runs a Spark job per read). */
  private def checkpointRows(m: Manifest, cp: Long): DataFrame =
    stateSurface(m).fold(spark.read)(spark.read.schema)
      .parquet(ckptDir(cp))
      .select(col("ns"), col("ukey"), col("last_seq").as("seq"), col("payload"))

  /** The schema of every state read over `m` (ns, ukey, payload,
    * last_seq), derived from the manifest-pinned DDL without opening a
    * file; None when the manifest pins no schema (the files decide). */
  private[graft] def stateSurface(m: Manifest): Option[org.apache.spark.sql.types.StructType] =
    if (m.schemaDdl.isEmpty) None
    else Some(tombstoneAwareState(readSegmentsOver(Nil, m.schemaDdl)
      .select("ns", "ukey", "seq", "payload")).schema)

  /** The one state-combine rule: arg-max by seq per (ns, ukey), then
    * drop keys whose winning payload is NULL — the Kafka log-compaction
    * tombstone contract ([[delete]]). The arg-max is a struct max, NOT
    * max_by: max_by's value-at-max semantics around NULL values differ
    * between engines, while a struct compare is decided entirely by the
    * unique seq, so a NULL winning payload survives to the filter
    * deterministically. Still one partial-aggregated shuffle. */
  private def tombstoneAwareState(rows: DataFrame): DataFrame =
    rows
      .groupBy("ns", "ukey")
      .agg(max(struct(col("seq"), col("payload"))).as("top"))
      .select(col("ns"), col("ukey"), col("top.payload").as("payload"),
              col("top.seq").as("last_seq"))
      .where(col("payload").isNotNull)

  /** Latest state (marasa read(ns)). */
  def latest(): DataFrame = {
    val m = manifest
    stateAtIn(m, m.maxSeq)
  }

  /** Materialize a checkpoint at `seq` — future stateAt(≥seq) replays only
    * the segments after it (bounded-replay invariant, SURVEY §4.1). */
  def checkpoint(seq: Long): Unit = {
    requireWritable()
    writeCheckpoint(stateAt(seq), seq)
  }

  private def writeCheckpoint(state: DataFrame, seq: Long): Unit = {
    writerOpts(state.write.mode("overwrite")).parquet(ckptDir(seq))
    // Retain only the newest checkpoints: stateAt reads the newest one
    // at or below its bound, so older ones serve only deep time travel —
    // which falls back to a longer replay rather than leaking one
    // full-state snapshot per epoch forever. Directories are reclaimed
    // by vacuum() (a retained manifest version may still reference one).
    // the just-written checkpoint is always kept even when it is older
    // than the retained window (an explicit deep checkpoint(seq) call
    // must not be a silent no-op after paying the state write).
    // Registration is a tiny read-modify-write commit touching only the
    // checkpoint list, so a lost CAS race rebases trivially: re-read,
    // re-add, re-commit (bounded like append's retry loop).
    var attempt = 0
    while (attempt <= JournalStore.MaxCommitRetries) {
      val m = manifest
      try {
        writeManifest(path, m.copy(op = "checkpoint", checkpoints =
          ((m.checkpoints :+ seq).distinct.sorted.takeRight(RetainedCheckpoints)
            :+ seq).distinct.sorted))
        return
      } catch { case e: java.util.ConcurrentModificationException =>
        attempt += 1
        if (attempt > JournalStore.MaxCommitRetries) throw e
        Thread.sleep(25L * attempt)
      }
    }
  }

  /** Per-epoch segment stats straight from the manifest (no segment-tree
    * read — the metadata-only path; used by journal_write_segments).
    * Equality with the data-derived computation is pinned in
    * JournalStoreSpec. */
  def segmentStats(): DataFrame = {
    val sp = spark
    import sp.implicits._
    manifest.stats.sortBy(_.epoch)
      .map(st => (st.epoch, st.rows, st.minSeq, st.maxSeq))
      .toDF("epoch", "n_rows", "min_seq", "max_seq")
      .orderBy("epoch")
  }

  /** Per-namespace (rows, epochs touched) straight from the manifest —
    * the count-from-metadata path: no segment file is opened, so a
    * 100 TB log answers namespace counts in a manifest parse. Equality
    * with the data-derived counts is pinned in JournalStoreSpec and the
    * journal_ns_counts oracle. */
  def nsStats(): DataFrame = {
    val sp = spark
    import sp.implicits._
    manifest.kstats.groupBy(_.ns).toSeq
      .map { case (n, ks) => (n, ks.map(_.rows).sum, ks.size.toLong) }
      .sortBy(_._1)
      .toDF("ns", "n_rows", "n_epochs")
  }

  /** Per-FILE stats as a DataFrame. Sidecar-backed stores read their
    * parquet parts DISTRIBUTEDLY — at O(10⁶) files, stats analytics
    * (size-skew reports, bloom coverage audits, compaction planning)
    * run as ordinary Spark jobs over the same bytes the driver prunes
    * with, never materializing the stats driver-side. Legacy inline
    * manifests materialize from memory (they were driver-sized by
    * definition). */
  def fileStats(): DataFrame = {
    val m = manifest
    FileStatsSidecar.partsOf(m.fstats) match {
      case Some(parts) => FileStatsSidecar.toDf(spark, path, parts)
      case None =>
        val sp = spark
        import sp.implicits._
        m.fstats.toSeq.map(s => (s.file, s.rows, s.minSeq, s.maxSeq,
          s.minKey, s.maxKey, s.tsMin, s.tsMax, s.nullTs,
          if (s.bloom.isEmpty) Array.emptyByteArray
          else java.util.Base64.getDecoder.decode(s.bloom)))
          .toDF("file", "rows", "minSeq", "maxSeq", "minKey", "maxKey",
            "tsMin", "tsMax", "nullTs", "bloom")
    }
  }

  /** The same stats recomputed from the segment data — the audit path. */
  def segmentStatsFromData(): DataFrame =
    readSegments()
      .groupBy(col("epoch").cast("long").as("epoch")) // partition col is discovered as int
      .agg(count(lit(1)).as("n_rows"), min("seq").as("min_seq"), max("seq").as("max_seq"))
      .orderBy("epoch")

}

object JournalStore {
  /** One element of an ALTER TABLE statement — see [[JournalStore#alterSchema]]. */
  sealed trait SchemaChange
  case class AddCol(name: String,
                    dataType: org.apache.spark.sql.types.DataType)
      extends SchemaChange
  case class DropCol(name: String, ifExists: Boolean) extends SchemaChange
  case class SetProp(key: String, value: String) extends SchemaChange
  case class UnsetProp(key: String) extends SchemaChange
  /** ALTER COLUMN ... SET DEFAULT <sql literal> — a WRITE-time default
    * (Delta semantics: future batches that omit the column materialize
    * it; existing rows are untouched and read as they were written). */
  case class SetDefault(name: String, sql: String) extends SchemaChange
  case class DropDefault(name: String) extends SchemaChange

  /** Table-property prefix for column DEFAULTs (`default.<col>` → the
    * SQL literal text) — ordinary manifest metadata, so defaults ride
    * clones, survive reopen, and revert with RESTORE. */
  private[graft] val DefaultPrefix = "default."

  /** Table-property prefix for GENERATED columns (`generated.<col>` →
    * the generation-expression SQL, Delta's GENERATED ALWAYS AS):
    * append() computes the column for batches that omit it and
    * VALIDATES batches that provide it (a mismatching provided value
    * rejects the whole batch, Delta's rule — a generated column is an
    * invariant of the row, not a suggestion). Spark's CREATE-time
    * analysis has already verified the expression (deterministic,
    * references only non-generated columns). */
  private[graft] val GeneratedPrefix = "generated."

  /** Table-property prefix for IDENTITY columns (`identity.<col>` →
    * packed "start,step,allowExplicit,used"). `used` counts the values
    * this store has assigned so far; it advances inside the SAME
    * manifest commit as the rows it numbered, so identity values are
    * unique across appends, retries and restarts. Assignment itself is
    * a projection off the batch's deterministic seqs — no extra
    * shuffle, no global window, and fully parallel (the same
    * range-partition + zipWithIndex order seq assignment rides). */
  private[graft] val IdentityPrefix = "identity."

  /** One identity column's spec + consumed count. */
  case class IdentitySpec(start: Long, step: Long, allowExplicit: Boolean,
                          used: Long)

  private[graft] def packIdentity(s: IdentitySpec): String =
    s"${s.start},${s.step},${s.allowExplicit},${s.used}"

  private[graft] def parseIdentity(v: String): IdentitySpec = {
    val p = v.split(',')
    IdentitySpec(p(0).toLong, p(1).toLong, p(2).toBoolean, p(3).toLong)
  }

  /** Per-epoch data statistics, maintained in the manifest at append time
    * (the Delta/Iceberg file-stats idea): segment stats never require
    * re-reading the segment tree, and seq-range reads can prune epochs
    * from metadata alone. Survives compaction (stats describe the DATA in
    * an epoch, not its file layout). */
  case class EpochStat(epoch: Long, rows: Long, minSeq: Long, maxSeq: Long)

  /** Per-(epoch, namespace) ukey range, maintained at append time — the
    * file-level data-skipping stats (Delta/Iceberg column stats, scoped
    * to the one column journal point-reads filter on). A key-targeted
    * read (`history(ns, key)`, or a pushed `ukey =` filter through the
    * `journal` source) drops every segment file whose (epoch, ns) range
    * excludes the key BEFORE the scan is planned — metadata-only IO
    * pruning that partition directories can't express. An empty range
    * (all ukeys null) is encoded minKey > maxKey and prunes every
    * equality probe. Like EpochStat, key stats describe the DATA in an
    * (epoch, ns), not its file layout, so they survive compaction. The
    * per-(epoch, ns) row count rides along, making per-namespace counts
    * a manifest parse (nsStats()) instead of a scan. */
  case class KeyStat(epoch: Long, ns: String, minKey: Long, maxKey: Long,
                     rows: Long = 0L)

  /** Per-FILE data statistics (rows, seq range, ukey range, ts range in
    * epoch micros) — the Delta/Iceberg add-file stats. File grain is
    * load-bearing for correctness of pruning, not just precision: stats
    * describe exactly one immutable file, so a file with no entry (pre-
    * stats store, hot-split directory) is simply never pruned, and no
    * merged range can ever claim to cover rows it doesn't (the
    * false-negative class a batch-merged (epoch, ns) range has). Empty
    * ranges (all-null column) are encoded min > max and prune every
    * probe, which is exact — NULL never satisfies the pushed
    * predicates. */
  case class FileStat(file: String, rows: Long, minSeq: Long, maxSeq: Long,
                      minKey: Long, maxKey: Long, tsMin: Long, tsMax: Long,
                      nullTs: Long = 0L,
                      // base64 of a Spark sketch BloomFilter over
                      // xxhash64(ukey, seed 42) — point-probe data
                      // skipping BELOW the [minKey, maxKey] range (ranges
                      // are useless when every file spans the key space).
                      // "" = none recorded: never pruned, never wrong.
                      bloom: String = "")

  /** Per-file key-bloom sizing: ~8 KiB of bits, k tuned for ≤8k distinct
    * keys per file (fpp ≈ 2% at the cap, degrading gracefully above).
    * Constant across writers so compaction can OR victim blooms
    * together (sketch mergeInPlace requires identical geometry). */
  private[journal] val BloomItems = 8192L
  private[journal] val BloomBits = 65536L

  /** One namespace of a large-merge source profile: key range, null-key
    * presence, and a key bloom in the SAME geometry as the per-file
    * stats blooms (BloomItems/BloomBits — so the two intersect
    * directly). Built by one aggregate pass over the source; collected
    * at namespace grain, never row grain. */
  private[graft] case class MergeNsProfile(ns: String, kmin: Option[Long],
      kmax: Option[Long], nullKey: Boolean, bloom: Array[Byte])

  /** OR-merge victim blooms for a compacted file; any missing or
    * unreadable constituent poisons the merge to "" (conservative). */
  private[graft] def bloomUnion(b64s: Seq[String]): String =
    if (b64s.isEmpty || b64s.exists(_.isEmpty)) ""
    else try {
      val bfs = b64s.map(b => org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(
          java.util.Base64.getDecoder.decode(b))))
      val acc = bfs.head
      bfs.tail.foreach(acc.mergeInPlace)
      val out = new java.io.ByteArrayOutputStream()
      acc.writeTo(out)
      java.util.Base64.getEncoder.encodeToString(out.toByteArray)
    } catch { case _: Exception => "" }

  /** `schemaDdl`: the store's row schema (data + partition columns) as
    * Spark DDL, evolved at append time by appending any new columns
    * (Delta-style schema-on-manifest). Readers plan against THIS schema
    * instead of sampling parquet footers — deterministic when appends
    * carried different column sets (footer sampling picks an arbitrary
    * file's schema), null-filling absent columns per ordinary parquet
    * semantics, and skipping schema inference entirely (a real planning
    * cost once the manifest lists thousands of files). Empty = pre-
    * upgrade store → readers fall back to inference. */
  case class Manifest(epochSize: Long, maxSeq: Long, checkpoints: Seq[Long],
                      files: Seq[String] = Nil, stats: Seq[EpochStat] = Nil,
                      lastBatchId: Long = -1L, version: Long = 0L,
                      kstats: Seq[KeyStat] = Nil, schemaDdl: String = "",
                      fstats: Seq[FileStat] = Nil,
                      // wall-clock commit time, stamped by writeManifest —
                      // the TIMESTAMP AS OF resolution axis. 0 = committed
                      // by a pre-upgrade writer (reads as epoch: always
                      // eligible, never wrongly excluded).
                      commitTsMs: Long = 0L,
                      // per-writer exactly-once batch high-water marks
                      // (writerId -> lastBatchId); the legacy scalar
                      // lastBatchId is the anonymous ("") writer's mark
                      writerMarks: Map[String, Long] = Map.empty,
                      // deletion-vector parquet parts under dv/ (file
                      // STRING, pos BIGINT rows subtracted from every
                      // read) — deleteWhereDv appends one per call;
                      // rewrites purge applied entries. Empty = none.
                      dvParts: Seq[String] = Nil,
                      // what produced this commit (append/compact/
                      // delete/delete-dv/checkpoint/restore/clone/
                      // create) — the DESCRIBE HISTORY operation
                      // column. "" = pre-upgrade writer.
                      op: String = "",
                      // column names DROPPED from the pinned DDL whose
                      // pre-drop bytes may still live in un-compacted
                      // segment files: append() refuses to re-introduce
                      // them (data-resurrection hazard — see dropColumn)
                      // until a full compact() clears the list.
                      droppedCols: Seq[String] = Nil,
                      // user table properties (Delta TBLPROPERTIES):
                      // opaque key→value pairs carried by every commit —
                      // derived artifacts (e.g. the ANN index) record
                      // their source fingerprint here. See setMeta().
                      meta: Map[String, String] = Map.empty,
                      // per-file COLUMN sketch parts under cstats/
                      // (ColumnStatsSidecar): what lets destructive
                      // rewrites REFOLD the merged analyze() stats from
                      // surviving files instead of declining. Names
                      // only — bytes load at rewrite commits, never at
                      // snapshot reads. Empty = never analyzed (or a
                      // pre-cstats store).
                      cstatsParts: Seq[String] = Nil,
                      // per-part envelope beside each cstats part name
                      // (round 19): part → ColumnStatsSidecar-encoded
                      // per-column summary (file-name range + no-row-
                      // prunable proof bounds) that lets scan builds
                      // probe only the parts that could matter instead
                      // of materializing the whole sidecar. PURELY
                      // ADVISORY: an absent/undecodable entry means the
                      // part always opens (pre-round-19 manifests read
                      // with this empty and behave exactly as before —
                      // which is also why the field needs no
                      // formatVersion bump: ignoring it is safe by
                      // construction).
                      cstatsEnvs: Map[String, String] = Map.empty) {
    /** file → FileStat, built on first use and kept for the snapshot's
      * lifetime (loads the fstats sidecar; not persisted). */
    @transient private[graft] lazy val fileStats: Map[String, FileStat] =
      SegmentFiles.statsByFile(fstats)
  }

  /** Physical row layout of compacted segment files. */
  sealed trait SegmentLayout
  object SegmentLayout {
    /** Write in arrival order (cheapest rewrite). */
    case object Unordered extends SegmentLayout
    /** Single-axis (ukey, seq) clustering — optimal for key probes. */
    case object ByKey extends SegmentLayout
    /** Multi-column Z-curve clustering — every listed column keeps
      * row-group min/max locality (see compact(upToEpoch, zorderBy)). */
    final case class ZOrder(cols: Seq[String]) extends SegmentLayout
  }

  /** What [[JournalStore#writeSegments]] made: the promoted files (segDir-relative),
    * the (epoch, ns)-grain stats rows of the written rows (empty when the
    * file stats were derived), the new files' [[FileStat]]s, and the
    * column sketch of every written directory. */
  private[journal] final case class Written(files: Seq[String],
      perNs: Seq[org.apache.spark.sql.Row], fileStats: Seq[FileStat],
      dirSketches: Map[(Long, String), DirSketches]) {
    /** The sketches of the files that record stats: a directory's sketch
      * describes its one file (see [[SegmentFiles.newFileStats]]) when
      * it counts that file's rows. */
    def fileSketches: Seq[(String, DirSketches)] =
      fileStats.flatMap(s => SegmentFiles.parse(s.file).nsKey
        .flatMap(dirSketches.get).filter(_.rows == s.rows).map(s.file -> _))
  }

  /** The pruning handles of a row condition: its ns/ukey equality and
    * seq/ts range conjuncts (None = unconstrained). */
  private[journal] final case class CondBounds(ns: Option[String], ukey: Option[Long],
      seq: Option[(Long, Long)], ts: Option[(Long, Long)]) {
    /** Files that can hold a row of the equality keys. */
    def keys: Probe = Probe.point(ns, ukey)
    /** ...and a row inside the ranges too. */
    def probe: Probe = keys.copy(seq = seq, ts = ts)
  }

  /** Bounded optimistic-concurrency rebases before a lost CAS race
    * escapes loudly: append rebases its commit; maintenance rewrites
    * (compact/deleteWhere/deleteWhereDv) re-derive themselves against
    * the fresh manifest (see retryOnLostRace); restore aborts on
    * purpose. */
  val MaxCommitRetries = 5

  /** merge() sources at or below this many ROWS take the touched-file
    * path: keys collected driver-side, state bounded to intersecting
    * segment files, state broadcast. Sized so the collected rows, the
    * pruning IN-lists and the per-file bloom probes stay trivially
    * driver/plan-safe (2048 keys × even 10⁶ files is a short-circuited
    * driver scan, and the keys fit one broadcast page); larger sources
    * pay the one full-state (ns, ukey) shuffle, which is the right
    * plan when the source really touches much of the key space. */
  val MergeSmallSourceRows = 2048

  /** Hot-directory writer split bound (round 20, VERDICT item 7): an
    * append whose rows concentrate in one (epoch, ns) directory used to
    * write that directory through exactly ONE task — a §2.5 skew
    * straggler by construction on a hot-namespace ingest (epoch capping
    * bounds it, but a single 10⁹-row directory still serialized on one
    * core). Directories whose batch rows exceed this target now split
    * across ceil(rows / target) writer tasks via a DETERMINISTIC salt
    * (pmod(xxhash64(seq), k) — retry-safe, unlike rand(); guide §2.5),
    * each task writing its own file into the directory. The manifest's
    * file-set model already tolerates multi-file directories (they
    * simply record no per-file stats — unpruned, never wrong; the next
    * compact() of the directory restores one clustered, stats-carrying
    * file). Sized so split files stay in the guide §6 output-file
    * sweet band for this store's row widths; cold directories and every
    * bench/test batch stay below it, so the plan is IDENTICAL to the
    * unsplit one unless a directory is actually hot. */
  val AppendWriterTargetRows = 4000000L
  /** Cap on the per-directory split fan-out (keeps the salt expression
    * and the writer task count bounded however hot one directory is). */
  val AppendWriterMaxSplit = 256

  /** Table-property key declaring the retention bound [[maintain]]
    * sweeps to — an SQL interval body ("30 DAYS"): rows with
    * ts < now − interval are physically erased by the next maintain().
    * `retention.olderThan.<ns>` scopes a policy to one namespace
    * (overriding the global bound there). Ordinary manifest meta:
    * rides clones, reverts with RESTORE. */
  val RetentionKey = "retention.olderThan"

  /** STRICT parse of a retention spec — the DDL-time contract
    * validateColumnDefault sets for defaults, applied to retention:
    * a bad spec fails when the property is SET (setMeta / ALTER TABLE
    * SET TBLPROPERTIES), not as a delayed error at some later sweep,
    * and the value never reaches SQL text, so a crafted property
    * cannot smuggle an expression past the interval contract. Positive
    * intervals only: a zero/negative retention would declare
    * "erase everything ever written" — surely a typo, refused. */
  private[graft] def parseRetentionInterval(key: String, spec: String)
      : org.apache.spark.unsafe.types.CalendarInterval = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .safeStringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(spec))
    require(iv != null,
      s"table property $key = '$spec' is not a valid SQL interval body " +
        "(e.g. '30 DAYS', '12 HOURS', '1 YEAR 6 MONTHS')")
    require(iv.months >= 0 && iv.days >= 0 && iv.microseconds >= 0 &&
      (iv.months > 0 || iv.days > 0 || iv.microseconds > 0),
      s"table property $key = '$spec' must be a positive interval " +
        "(a non-positive retention would erase every row)")
    iv
  }

  /** Property-set door validation, shared by setMeta and ALTER TABLE
    * SET TBLPROPERTIES: keys with declared syntax fail HERE. */
  private[journal] def validateProperty(key: String, value: String): Unit =
    if (key == RetentionKey || key.startsWith(RetentionKey + "."))
      { parseRetentionInterval(key, value); () }

  /** Table-property key holding the EXACT row count the last analyze()
    * ran at — the staleness arbiter: the scan re-serves column stats
    * only while the manifest's per-file rows still sum to this.
    * Appends keep the match alive by folding their batch sketch in and
    * advancing this count in the same commit (incrementalStatsMeta). */
  private[graft] val StatsRowsKey = "stats.rows"

  /** Row count at the last HISTOGRAM capture (analyze() stamps it; the
    * incremental fold deliberately does NOT advance it): bin
    * boundaries cannot merge, so the scan serves a histogram only
    * while live rows ≤ 2× this — the histogram-only staleness bound. */
  private[graft] val StatsHistRowsKey = "stats.histrows"

  /** Marker certifying the cstats sidecar family's TIMESTAMP_NTZ
    * extrema were captured as raw physical micros (graft.expr.
    * NtzMicros — exact in DST gaps, independent of the analyzing
    * session's zone). Stamped by analyze() (which replaces the whole
    * sidecar family) and deliberately OUTSIDE [[statsMetaKeys]]: a
    * refold/deleteWhere decline drops the merged stats, not the
    * sidecar rows the marker describes. The V2 scan admits NTZ
    * predicates to file skipping/estimation only under this marker —
    * a family analyzed by a pre-marker build under a non-UTC session
    * zone could hold DST-gap-shifted NTZ extrema, and a wrong bound
    * there would prune wrongly (ADVICE r18). */
  private[graft] val StatsNtzExactKey = "stats.ntzexact"

  /** Meta key recording the advised column set the last
    * [[JournalStore.maintainLayout]] z-order rewrite acted on — the
    * idempotence latch that keeps a structurally-persistent `zorder`
    * label (cross-directory interleave no per-directory rewrite can
    * remove) from buying a full rewrite on every maintenance tick.
    * Clear the property to re-arm. */
  private[graft] val ZorderedByKey = "maintain.zorderedBy"

  /** Table-property prefix for analyze()'s per-column stats
    * (`stats.col.<name>.{nulls,regs,whit,ndv,min,max}` — flat keys, so
    * arbitrary min/max strings ride the manifest's URL-encoding with no
    * JSON escaping of their own). */
  private[graft] val StatsColPrefix = "stats.col."

  /** Directory cap on the per-file sketch capture: an append spanning
    * more (epoch, ns) directories than this (a many-epoch backfill)
    * skips the per-file grain — the grouped melt's driver collect is
    * dirs×cols×512 rows — and falls back to the flat fold (merged
    * stats stay alive; the skipped files simply have no sketches, so a
    * later rewrite refold declines and the next analyze() re-arms).
    * 64 dirs × 32 cols × 512 ≈ 1M tiny rows, a bounded driver cost. */
  private[journal] val MaxSketchDirs = 64


  /** Per-column stats-key SUFFIX tombstoning declined extrema
    * (`stats.col.<c>.xdecl` = comma-joined dead keys, "min"/"max"): a
    * fold that cannot merge a bound order-correctly drops the key AND
    * records the tombstone, so later folds keep declining instead of
    * re-seeding a bound from one batch that does not cover earlier
    * rows. analyze() clears tombstones with the rest of the stats set. */
  private[journal] val XdeclKey = "xdecl"

  /** UNSIGNED UTF-8 BYTE order — what Spark's min()/max() (UTF8String)
    * and DuckDB's binary collation both use; Java's String.compareTo
    * (UTF-16 code units) disagrees for supplementary-plane characters
    * and would record a wrong bound. */
  private[graft] def utf8Cmp(a: String, b: String): Int = {
    val (x, y) = (a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Order-correct extremum merge per type; None = decline (never
    * record a bound that could be wrong). ONE copy of this arithmetic:
    * the append-time fold (incrementalStatsMeta) and the cstats refold
    * after destructive rewrites must agree bit-for-bit or the
    * PropertySpec fold invariant (inc == full) breaks. Canonical
    * date/ts strings compare byte-correctly only in the fixed-width
    * four-digit-year form (the fraction is trailing-zero-trimmed,
    * which still orders: a shorter fraction that is a prefix is
    * smaller); a year outside [1000, 9999] renders with a sign prefix
    * — decline there. */
  private[journal] def mergeExtremum(
      dt: org.apache.spark.sql.types.DataType, a: String, b: String,
      takeMin: Boolean): Option[String] = {
    import org.apache.spark.sql.types._
    val cmp: Option[Int] = dt match {
      case LongType | IntegerType | ShortType | ByteType =>
        Some(a.toLong.compareTo(b.toLong))
      case DoubleType | FloatType =>
        Some(a.toDouble.compareTo(b.toDouble))
      case _: DecimalType =>
        Some(BigDecimal(a).compare(BigDecimal(b)))
      case StringType | BooleanType => Some(utf8Cmp(a, b))
      case DateType | TimestampType | TimestampNTZType =>
        if (a.matches("\\d{4}-.*") && b.matches("\\d{4}-.*"))
          Some(utf8Cmp(a, b))
        else None
      case _ => None
    }
    cmp.map(x => if ((x <= 0) == takeMin) a else b)
  }

  /** One column's recorded ANALYZE stats. `regsHit`/`whit` are the raw
    * HLL register summary (exact integers — the sketch state itself, so
    * a reader can re-derive or merge estimates); `ndv` is the corrected
    * estimate served to the optimizer. */
  case class ColumnStatRecord(nulls: Long, ndv: Long, regsHit: Long,
                              whit: Long, min: Option[String],
                              max: Option[String]) {
    /** Harmonic-mean weight: whit + one full 2^52 term per empty
      * register (the exact-integer form the oracle twin recomputes). */
    def weight: Long = whit + (512L - regsHit) * 4503599627370496L
  }

  /** HLL cardinality estimate from a 512-register summary: the raw
    * harmonic estimate (alpha_m · m² · 2^52 / weight — the agg_hll_custom
    * arithmetic) with Flajolet's small-range linear-counting correction
    * (m·ln(m/V) when the raw estimate is under 2.5·m and empty registers
    * remain — without it an 8-value column would report ndv ≈ 370).
    * Driver-side and planner-advisory only, so the libm ln here is
    * outside every cross-engine hash gate. */
  private[graft] def hllNdvEstimate(regsHit: Long, whit: Long): Long = {
    if (regsHit == 0) return 0L
    val m = 512.0
    val weight = whit.toDouble + (512L - regsHit).toDouble * 4503599627370496.0
    val raw = 0.7213 / (1.0 + 1.079 / 512.0) * 262144.0 *
      4503599627370496.0 / weight
    val zeros = 512 - regsHit
    val est = if (raw <= 2.5 * 512 && zeros > 0) m * math.log(m / zeros)
              else raw
    math.max(1L, math.round(est))
  }

  /** The DDL-time DEFAULT contract, shared by ALTER COLUMN SET DEFAULT
    * and the catalog's CREATE TABLE (both DDL doors must enforce the
    * same rules): constants only (a column reference would re-evaluate
    * against every batch), DETERMINISTIC (rand()/uuid() refused),
    * time-invariant (the current-time family is foldable WITHIN one
    * query yet differs across appends — not a DEFAULT; Delta refuses
    * both at DDL time for the same reason), and the literal must cast
    * to the column type NOW — a bad default failing at some later
    * append would be a delayed DDL error. */
  private[graft] def validateColumnDefault(spark: SparkSession,
      name: String, dt: org.apache.spark.sql.types.DataType,
      sqlTxt: String): Unit = {
    val parsed = spark.sessionState.sqlParser.parseExpression(sqlTxt)
    require(parsed.collectFirst {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a
    }.isEmpty,
      s"DEFAULT for '$name' must be a constant expression, got: $sqlTxt")
    val analyzedDefault = spark.range(1).select(expr(sqlTxt))
      .queryExecution.analyzed.asInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.Project]
      .projectList.head match {
        case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
        case e => e
      }
    val timeFamily = Set("CurrentTimestamp", "CurrentDate", "Now",
      "LocalTimestamp", "CurrentTimeZone", "CurrentUser")
    val perAppend = analyzedDefault.collectFirst {
      case e if timeFamily.contains(e.getClass.getSimpleName) => e
    }
    require(analyzedDefault.deterministic && perAppend.isEmpty &&
      analyzedDefault.foldable,
      s"DEFAULT for '$name' must be a constant expression — " +
        s"'$sqlTxt' re-evaluates to a different value on later " +
        "appends (use a literal)")
    val v = spark.range(1).select(expr(sqlTxt).cast(dt)).head.get(0)
    require(v != null || sqlTxt.trim.equalsIgnoreCase("null"),
      s"DEFAULT $sqlTxt does not cast to ${dt.sql} (column '$name')")
  }

  /** Collected (column, register, rho) rows → one packed 512-byte
    * register array per column (byte = max rho seen; 0 = empty). The
    * packed form is what the manifest stores under `hllregs` — raw
    * mergeable sketch state, so append() can fold a batch's registers
    * in with an elementwise max. */
  private[journal] def packRegisters(
      rows: Array[org.apache.spark.sql.Row],
      cOff: Int = 0): Map[String, Array[Byte]] =
    rows.groupBy(_.getString(cOff)).map { case (c, rs) =>
      val arr = new Array[Byte](512)
      rs.foreach { r =>
        val b = r.get(cOff + 1).asInstanceOf[Number].intValue
        val rho = r.get(cOff + 2).asInstanceOf[Number].intValue
        if (rho > arr(b)) arr(b) = rho.toByte
      }
      c -> arr
    }

  /** (registers hit, harmonic whit) of a packed register array — the
    * summary pair [[hllNdvEstimate]] consumes. */
  private[graft] def registerSummary(arr: Array[Byte]): (Long, Long) = {
    var hit = 0L; var whit = 0L
    arr.foreach { b => if (b != 0) { hit += 1L; whit += 1L << (52 - b) } }
    (hit, whit)
  }

  /** Elementwise max of two packed register arrays (HLL union). */
  private[journal] def mergeRegisters(a: Array[Byte],
                                      b: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](512)
    var i = 0
    while (i < 512) { out(i) = if (a(i) >= b(i)) a(i) else b(i); i += 1 }
    out
  }

  /** One column's sketch over one row set (a batch, a directory/file,
    * or a merge of either): the mergeable fragment of analyze()'s
    * per-column state. `minv`/`maxv` absent with nulls < rows means
    * DECLINED (values exist but no order-correct bound — unmergeable
    * type or out-of-form value); absent with nulls == rows means
    * all-null. `regs` is empty (not 512 zeros) when nothing melted. */
  private[journal] case class ColSketch(rows: Long, nulls: Long,
      minv: Option[String], maxv: Option[String],
      minus: Option[Long], maxus: Option[Long], regs: Array[Byte])

  /** One (epoch, ns) directory's row count + per-column sketches. */
  private[journal] case class DirSketches(rows: Long,
      cols: Map[String, ColSketch])

  /** Distributed-refold accumulator: contributing-file count,
    * FileStat row-count-mismatch count (both feed the exact-or-decline
    * coherence check), and the running merged sketch. */
  /** Refold partial: `n` distinct contributing (file) groups, `bad`
    * FileStat row-count mismatches, `dup` (col, file) keys seen more
    * than once — a duplicate is incoherent sidecar state (a live
    * file's sketch must live in exactly one part), and counting it
    * distinctly closes the compensating-fault hole where file A's
    * duplicated sketch masked file B's missing one at the same total
    * (ADVICE r18). */
  private[journal] case class SketchAcc(n: Long, bad: Long, dup: Long,
                                        s: ColSketch)

  /** One [[JournalStore.advise]] readout row. */
  case class AdviceRow(scope: String, name: String, files: Long,
      rows: Long, metric: Double, detail: String, advice: String)

  /** advise() thresholds (heuristic labels over exact metrics): a
    * namespace fragmenting past this many files reads `compact`; a
    * column whose densest file holds at least this many live rows per
    * distinct value reads `salt`; per-file ranges overlapping at this
    * fraction or above (≥ 4 files) read `zorder`. */
  val AdviseCompactFiles = 8
  val AdviseSaltRowsPerKey = 64.0
  val AdviseZorderOverlap = 0.5

  /** Union of column sketches — the ONE merge arithmetic behind the
    * append fold (dirs → batch), the rewrite refold (files → table)
    * and the analyze bootstrap: nulls add, registers elementwise-max,
    * extrema merge order-correctly or DECLINE (any contributing
    * non-null sketch without a bound poisons the merge to declined —
    * its rows are unbounded), ts micros min/max. */
  private[journal] def mergeColSketches(
      dt: Option[org.apache.spark.sql.types.DataType],
      ss: Seq[ColSketch]): ColSketch = {
    val rows = ss.map(_.rows).sum
    val nulls = ss.map(_.nulls).sum
    val regs = ss.map(_.regs).filter(_.nonEmpty) match {
      case Seq() => Array.emptyByteArray
      case one +: Seq() => one
      case more => more.reduce(mergeRegisters)
    }
    val nn = ss.filter(s => s.nulls < s.rows)
    def bound(get: ColSketch => Option[String],
              takeMin: Boolean): Option[String] =
      if (nn.isEmpty || dt.isEmpty || nn.exists(s => get(s).isEmpty)) None
      else {
        val vs = nn.map(s => get(s).get)
        vs.tail.foldLeft(Option(vs.head))((acc, b) =>
          acc.flatMap(a => mergeExtremum(dt.get, a, b, takeMin)))
      }
    val minus =
      if (nn.nonEmpty && nn.forall(_.minus.isDefined))
        Some(nn.map(_.minus.get).min)
      else None
    val maxus =
      if (nn.nonEmpty && nn.forall(_.maxus.isDefined))
        Some(nn.map(_.maxus.get).max)
      else None
    ColSketch(rows, nulls, bound(_.minv, takeMin = true),
      bound(_.maxv, takeMin = false), minus, maxus, regs)
  }

  /** Columns whose stats the incremental fold maintains: the recorded
    * set, gated on every column carrying raw mergeable registers
    * (pre-`hllregs` manifests are not mergeable — legacy serve-gate
    * decline applies). Nil = fold inactive. */
  private[journal] def activeStatCols(meta: Map[String, String]): Seq[String] = {
    if (!meta.contains(StatsRowsKey)) return Nil
    val pre = StatsColPrefix
    val cols = meta.keys.collect {
      case k if k.startsWith(pre) && k.endsWith(".ndv") =>
        k.stripPrefix(pre).stripSuffix(".ndv")
    }.toSeq.sorted
    if (cols.nonEmpty && cols.forall(c => meta.contains(pre + c + ".hllregs")))
      cols
    else Nil
  }

  /** Every recorded-stats meta key (the set analyze() replaces and a
    * refold decline strips). */
  private[journal] def statsMetaKeys(meta: Map[String, String]): Set[String] =
    meta.keys.filter(k => k == StatsRowsKey || k == StatsHistRowsKey ||
      k.startsWith(StatsColPrefix)).toSet

  /** Fold ONE batch-level column sketch into the recorded stats meta —
    * the pure arithmetic of the incremental fold (jobs live in the
    * caller). Returns (refreshed keys, keys to drop). */
  private[journal] def foldStatsMeta(meta: Map[String, String],
      types: Map[String, org.apache.spark.sql.types.DataType],
      statCols: Seq[String], sketch: Map[String, ColSketch],
      batchRows: Long, oldRows: Long)
      : (Map[String, String], Set[String]) = {
    val pre = StatsColPrefix
    val out = Map.newBuilder[String, String]
    val drop = Set.newBuilder[String]
    out += StatsRowsKey -> (oldRows + batchRows).toString
    statCols.foreach { c =>
      val p = pre + c + "."
      val oldNulls = meta(p + "nulls").toLong
      sketch.get(c) match {
        case None =>
          // a stats column this batch does not carry: the batch
          // null-fills it on read — nulls grow, everything else holds
          out += (p + "nulls") -> (oldNulls + batchRows).toString
        case Some(s) =>
          out += (p + "nulls") -> (oldNulls + s.nulls).toString
          val merged = mergeRegisters(
            java.util.Base64.getDecoder.decode(meta(p + "hllregs")),
            if (s.regs.isEmpty) new Array[Byte](512) else s.regs)
          val (rh, wh) = registerSummary(merged)
          out += (p + "hllregs") ->
            java.util.Base64.getEncoder.encodeToString(merged)
          out += (p + "regs") -> rh.toString
          out += (p + "whit") -> wh.toString
          out += (p + "ndv") -> hllNdvEstimate(rh, wh).toString
          val nonNull = s.rows - s.nulls
          // Declined extrema are TOMBSTONED (`.xdecl` lists the dead
          // keys): once a fold declines a bound, every later fold must
          // keep declining until the next full analyze() re-measures —
          // without the marker, the next batch would hit the absent-key
          // case below and re-seed the extremum from ITS rows alone,
          // recording a bound that does not cover earlier rows.
          val declined: Set[String] = meta.get(p + XdeclKey)
            .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
          val newDecl = scala.collection.mutable.Set.empty[String] ++ declined
          def fold(key: String, bv: Option[String], takeMin: Boolean): Unit =
            if (declined(key)) drop += (p + key)
            else if (bv.isEmpty && nonNull > 0) {
              // the batch HAS values but its own bound is unknown (the
              // sketch declined it): the old bound cannot absorb them
              if (meta.contains(p + key)) drop += (p + key)
              newDecl += key
            } else bv match {
              case None => () // all-null batch widens nothing
              case Some(v) => meta.get(p + key) match {
                case None =>
                  // An absent bound is seedable ONLY when every prior
                  // row was null for this column (the key then really
                  // means "no non-null value yet") AND the type merges
                  // — seeding an unmergeable type would just decline
                  // next fold. Any other absence is a pre-tombstone
                  // decline: re-seeding would record a bound that
                  // skips the earlier rows.
                  if (oldNulls == oldRows && types.get(c).exists(dt =>
                      mergeExtremum(dt, v, v, takeMin).isDefined))
                    out += (p + key) -> v
                  else newDecl += key
                case Some(o) =>
                  types.get(c).flatMap(dt =>
                      mergeExtremum(dt, o, v, takeMin)) match {
                    case Some(m2) => out += (p + key) -> m2
                    case None => // decline, never wrong — STAY declined
                      drop += (p + key); newDecl += key
                  }
              }
            }
          fold("min", s.minv, takeMin = true)
          fold("max", s.maxv, takeMin = false)
          if (newDecl != declined)
            out += (p + XdeclKey) -> newDecl.toSeq.sorted.mkString(",")
          s.minus.foreach { bmn =>
            out += (p + "minus") -> meta.get(p + "minus")
              .map(o => math.min(o.toLong, bmn)).getOrElse(bmn).toString
          }
          s.maxus.foreach { bmx =>
            out += (p + "maxus") -> meta.get(p + "maxus")
              .map(o => math.max(o.toLong, bmx)).getOrElse(bmx).toString
          }
      }
    }
    (out.result(), drop.result())
  }

  /** Reserved source-column prefix for N-clause merge CARRIERS — the
    * SQL rule projects per-clause UPDATE values (`__mc_u<i>_<col>`) and
    * gate source refs (`__mc_s<k>`) under it. Carrier columns ride the
    * routing join but are never evolution extras and never reach the
    * appended delta. */
  val MergeCarrierPrefix = "__mc"

  /** Deletion-vector part-count cap: each deleteWhereDv appends one
    * part; past this, the next delete folds them to one (bounds the
    * per-read part-open count the same way the stats sidecars bound
    * theirs). */
  val MaxDvParts = 16

  /** Distinct segment files (manifest names) referenced by the given dv
    * parts — driver-side planning input for the change-feed delete tier
    * (the parts are O(deleted rows since last purge), tiny by contract). */
  private[graft] def dvFileNames(dvPaths: Seq[String]): Set[String] = {
    val out = scala.collection.mutable.HashSet.empty[String]
    dvPaths.foreach { p =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new org.apache.hadoop.fs.Path(p))
        .build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).foreach { g =>
        out += SegmentFiles.fromUri(g.getString("file", 0))
      }
      finally reader.close()
    }
    out.toSet
  }

  /** EXECUTOR-side deletion-vector read for the streaming source: the
    * sorted row positions deleted from segment file `relFile` (a
    * manifest name; entries hold its [[SegmentFiles.uriName]]), loaded
    * directly from the dv/ parquet parts (parquet-java — no Spark
    * session exists on an executor). Each stream partition serves one
    * file, so the per-partition cost is a scan of the tiny vector
    * parts filtered to that file; part count is bounded by
    * [[MaxDvParts]]'s consolidation. A damaged part throws — the
    * subtraction is load-bearing for read correctness and must never
    * silently read as empty. */
  private[graft] def dvPositionsFor(relFile: String,
                                    dvPaths: Seq[String]): Array[Long] = {
    val name = SegmentFiles.uriName(relFile)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    dvPaths.foreach { p =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new org.apache.hadoop.fs.Path(p))
        .build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).foreach { g =>
        if (g.getString("file", 0) == name) out += g.getLong("pos", 0)
      }
      finally reader.close()
    }
    val arr = out.toArray
    java.util.Arrays.sort(arr)
    arr
  }

  /** How many committed manifest versions stay readable via openAt().
    * Bounds metadata growth to N tiny JSON files regardless of journal
    * length; vacuum() keeps any segment file a retained version still
    * references, so the storage bound is N × the churn between commits,
    * not N full copies. */
  val RetainedVersions = 10

  /** Manifest format this library reads AND writes. Bump on any change
    * an older reader could not safely ignore; readers refuse manifests
    * stamped with a higher format (see parseManifest's protocol gate). */
  val FormatVersion = 1L

  /** Default vacuum() age grace: nothing younger than this is physically
    * deleted, whatever the version-count window says. 30 minutes bounds
    * the exposure of an in-flight reader whose plan predates a
    * concurrent compact (Delta ships 7 days for the same knob; a journal
    * store's scans are minutes, not days). */
  val DefaultVacuumGraceMs: Long = 30L * 60L * 1000L

  /** How many checkpoints the manifest keeps. stateAt reads only the
    * newest checkpoint at or below its bound, so retention trades deep
    * time-travel replay length for storage: auto-checkpointing would
    * otherwise accumulate one full-state snapshot per epoch forever.
    * Trimmed entries' directories are deleted by vacuum() once no
    * retained manifest version references them. */
  val RetainedCheckpoints = 8

  /** The unbounded epoch range: a [[SegmentFiles.Probe]] with it prunes
    * by ns / key only. */
  private[graft] val AllEpochs: (Long, Long) = (Long.MinValue, Long.MaxValue)

  /** Whether a journal store exists at `path` (a committed manifest is
    * the store's existence marker — data files without one are invisible
    * by the snapshot-isolation rule). */
  def exists(path: String): Boolean = Files.exists(manifestPath(path))

  def create(spark: SparkSession, path: String, epochSize: Long = 1000L): JournalStore =
    create(spark, path, epochSize, None)

  /** CREATE with a DECLARED schema (the catalog's CREATE TABLE path):
    * the declared columns pin into the manifest DDL at create time —
    * plus the engine-assigned seq/epoch columns, keeping the reader
    * surface invariant — so append-time column materialization
    * (DEFAULT / GENERATED / IDENTITY) knows each declared column's
    * type before the first batch arrives. Path-API stores (no declared
    * schema) keep pinning at first append, as always. */
  def create(spark: SparkSession, path: String, epochSize: Long,
             declared: Option[org.apache.spark.sql.types.StructType]): JournalStore =
    create(spark, path, epochSize, declared, Map.empty)

  /** CREATE with declared schema AND initial table properties in ONE
    * manifest commit — the catalog's CREATE TABLE path hands its
    * column-spec properties (default./generated./identity.) in here so
    * DDL atomicity holds: there is no crash window where the table has
    * the columns but not their specs, and RESTORE to version 0 keeps
    * the specs with the columns. */
  def create(spark: SparkSession, path: String, epochSize: Long,
             declared: Option[org.apache.spark.sql.types.StructType],
             initialMeta: Map[String, String]): JournalStore = {
    Files.createDirectories(Paths.get(path))
    // cas = false: create() is an explicit reset — the one operation
    // allowed to replace a manifest regardless of its current version.
    // The pre-reset store's stat sidecar goes with its version files.
    org.apache.commons.io.FileUtils.deleteQuietly(
      FileStatsSidecar.dir(path).toFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      ColumnStatsSidecar.dir(path).toFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      RootSidecar.dir(path).toFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      Paths.get(path, "dv").toFile)
    val ddl = declared.filter(_.nonEmpty).map { st =>
      // bare (name, type) fields only: metadata like DEFAULT clauses
      // would render into toDDL and fromDDL cannot parse them back —
      // defaults/generation/identity live as table properties instead
      val base = st.filterNot(f => f.name == "seq" || f.name == "epoch")
        .map(f => org.apache.spark.sql.types.StructField(f.name, f.dataType))
      org.apache.spark.sql.types.StructType(base :+
        org.apache.spark.sql.types.StructField("seq",
          org.apache.spark.sql.types.LongType) :+
        org.apache.spark.sql.types.StructField("epoch",
          org.apache.spark.sql.types.LongType)).toDDL
    }.getOrElse("")
    writeManifest(path, Manifest(epochSize, -1L, Nil, op = "create",
      schemaDdl = ddl, meta = initialMeta), cas = false)
    new JournalStore(spark, path, epochSize)
  }

  def open(spark: SparkSession, path: String): JournalStore = {
    val m = readManifest(path).getOrElse(
      throw new IllegalArgumentException(s"no journal store at $path"))
    new JournalStore(spark, path, m.epochSize)
  }

  // -- manifest IO (driver-side; tiny JSON, atomic rename swap) ----------

  private def manifestPath(path: String) = Paths.get(path, "manifest.json")
  private def versionPath(path: String, v: Long) =
    Paths.get(path, s"manifest.json.v$v")

  /** Retained (version, file) pairs on disk, version-ascending. */
  private def listVersionFiles(path: String): Seq[(Long, java.nio.file.Path)] = {
    val dir = Paths.get(path)
    if (!Files.exists(dir)) Nil
    else {
      val st = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.flatMap { p =>
          """^manifest\.json\.v(\d+)$""".r
            .findFirstMatchIn(p.getFileName.toString)
            .map(m => (m.group(1).toLong, p))
        }.toList.sortBy(_._1)
      } finally st.close()
    }
  }

  /** Driver-side JSON codec for the manifest. jackson (on Spark's
    * classpath) replaces the earlier flat-regex parser: proper escaping
    * means a hostile namespace or filename can never silently mis-parse.
    * ns and schema stay URL-encoded INSIDE their strings, so the on-disk
    * format is unchanged and pre-jackson manifests read back as-is. */
  private val mapper = new ObjectMapper()

  /** Commit `m` as the next version: the version file lands first, then
    * the atomic rename of manifest.json publishes it (a crash in between
    * leaves an orphan version file, never a manifest pointing at a
    * missing version). Versions beyond the retention window are pruned
    * here — the only place versions are created or destroyed.
    *
    * `cas = true` enforces the single-writer assumption LOUDLY: the
    * commit is only valid against the manifest version the operation
    * snapshotted. If a concurrent writer advanced the version in
    * between, this writer's merged file list/stats are stale — renaming
    * them over the other commit would silently drop its files — so the
    * commit throws instead (marasa is single-writer; two writers is an
    * operational error this makes visible at the store layer). */
  private[journal] def writeManifest(path: String, m0: Manifest,
                                     cas: Boolean = true): Unit = {
    if (cas) {
      val cur = readManifest(path).map(_.version).getOrElse(0L)
      if (cur != m0.version) throw new java.util.ConcurrentModificationException(
        s"journal store at $path: manifest advanced to version $cur while " +
          s"this operation was working against version ${m0.version} " +
          "(concurrent writer detected; the store is single-writer)")
    }
    val m = m0.copy(version = m0.version + 1,
                    commitTsMs = System.currentTimeMillis())
    val root = mapper.createObjectNode()
    root.put("formatVersion", FormatVersion)
    root.put("epochSize", m.epochSize)
    root.put("maxSeq", m.maxSeq)
    root.put("lastBatchId", m.lastBatchId)
    root.put("version", m.version)
    root.put("commitTsMs", m.commitTsMs)
    if (m.op.nonEmpty) root.put("op", m.op)
    root.put("schemaDdl", java.net.URLEncoder.encode(m.schemaDdl, "UTF-8"))
    if (m.writerMarks.nonEmpty) {
      val wm = root.putObject("writerMarks")
      m.writerMarks.toSeq.sortBy(_._1).foreach { case (id, mark) =>
        wm.put(java.net.URLEncoder.encode(id, "UTF-8"), mark)
      }
    }
    val ck = root.putArray("checkpoints")
    m.checkpoints.foreach(c => ck.add(c))
    // The file list and epoch/key stats go to the manifest-root parquet
    // sidecar (RootSidecar): the JSON carries only part NAMES, so its
    // size is O(1) in file count — the property that keeps snapshot
    // load (and the CAS re-read every commit does) off the O(files)
    // driver-side JSON parse. An untouched base reuses its part names;
    // an append adds one delta part; rewrites and the part-count cap
    // consolidate. Parts land BEFORE the CAS below — a losing/crashed
    // writer strands orphan parts (random names, never clobbered),
    // swept by vacuum().
    val rootParts: Seq[String] =
      RootSidecar.partsFor(path, m.files, m.stats, m.kstats)
    val rp = root.putArray("rootParts")
    rootParts.foreach(rp.add)
    // Per-file stats go to the parquet sidecar (FileStatsSidecar): the
    // root carries only part NAMES, so its size is O(file list), not
    // O(files × 8 KiB bloom). An unchanged base writes nothing; an
    // append writes one delta part; anything else (legacy inline,
    // rewrite ops, part-count past the cap) consolidates to one part.
    // Parts land BEFORE the CAS below — a losing/crashed writer strands
    // orphan parts (random names, never clobbered), swept by vacuum().
    val fstatParts: Seq[String] = m.fstats match {
      // Lazy shapes first: their emptiness is knowable from parts/extra
      // alone, so a generic isEmpty (which would force the iterator and
      // load every sidecar part on every commit) must never see them.
      case lf: LazyFileStats if lf.parts.isEmpty => Nil
      case af: AppendedFileStats
          if af.base.parts.isEmpty && af.extra.isEmpty => Nil
      case lf: LazyFileStats
          if lf.parts.sizeIs <= FileStatsSidecar.MaxParts => lf.parts
      case af: AppendedFileStats if af.extra.isEmpty &&
          af.base.parts.sizeIs <= FileStatsSidecar.MaxParts => af.base.parts
      case af: AppendedFileStats
          if af.base.parts.sizeIs < FileStatsSidecar.MaxParts =>
        af.base.parts :+ FileStatsSidecar.writePart(path, af.extra)
      case s if s.isEmpty => Nil
      case s => Seq(FileStatsSidecar.writePart(path, s.toVector))
    }
    val fst = root.putArray("fstatsParts")
    fstatParts.foreach(fst.add)
    if (m.cstatsParts.nonEmpty) {
      // column-sketch parts are written by the OPS (append delta /
      // rewrite consolidation / analyze bootstrap) before the commit —
      // the manifest only records their names. Orphans from losing
      // writers are swept by vacuum, like every other sidecar family.
      val cst = root.putArray("cstatsParts")
      m.cstatsParts.foreach(cst.add)
    }
    if (m.cstatsEnvs.nonEmpty) {
      // advisory per-part envelopes (see Manifest.cstatsEnvs); values
      // are opaque ColumnStatsSidecar-encoded strings, URL-encoded
      // here like any meta value. Only parts still in the list carry
      // entries — callers prune the map alongside the part list.
      val ce = root.putObject("cstatsEnvs")
      m.cstatsEnvs.toSeq.sortBy(_._1).foreach { case (p, v) =>
        ce.put(java.net.URLEncoder.encode(p, "UTF-8"),
          java.net.URLEncoder.encode(v, "UTF-8"))
      }
    }
    if (m.dvParts.nonEmpty) {
      val dvp = root.putArray("dvParts")
      m.dvParts.foreach(dvp.add)
    }
    if (m.droppedCols.nonEmpty) {
      val dc = root.putArray("droppedCols")
      m.droppedCols.foreach(c =>
        dc.add(java.net.URLEncoder.encode(c, "UTF-8")))
    }
    if (m.meta.nonEmpty) {
      val mm = root.putObject("meta")
      m.meta.toSeq.sortBy(_._1).foreach { case (k, v) =>
        mm.put(java.net.URLEncoder.encode(k, "UTF-8"),
          java.net.URLEncoder.encode(v, "UTF-8"))
      }
    }
    val bytes = mapper.writeValueAsBytes(root)
    if (cas) {
      // The version file is the commit ARBITER, not just a record: the
      // read-version check above is check-then-act, so two writers that
      // both snapshotted version N both pass it. CREATE_NEW (O_EXCL)
      // makes exactly one land manifest.json.v(N+1); the loser throws
      // here, BEFORE it can overwrite the winner's manifest.json with a
      // file list missing the winner's segments. (A rename can't be the
      // arbiter: POSIX rename(2) silently replaces, so ATOMIC_MOVE
      // without REPLACE_EXISTING is not fail-if-exists on Linux.) A
      // crash mid-write strands a truncated version file, which reads
      // as absent (parseManifest tolerance) and was never published —
      // manifest.json still points at the previous version.
      try Files.write(versionPath(path, m.version), bytes,
        java.nio.file.StandardOpenOption.CREATE_NEW)
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"journal store at $path: another writer committed version " +
            s"${m.version} concurrently (lost the commit race; the store " +
            "is single-writer)")
      }
    } else {
      // create()/reset replaces unconditionally, and destroys retained
      // versions of the PRE-reset store — they describe data the reset
      // abandons, and a stale v(N+1) would block the new store's first
      // commit at the arbiter above.
      listVersionFiles(path).foreach { case (_, p) => Files.deleteIfExists(p) }
      val vtmp = Paths.get(path, s".manifest.json.v${m.version}.tmp")
      Files.write(vtmp, bytes)
      Files.move(vtmp, versionPath(path, m.version),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    val tmp = Paths.get(path, ".manifest.json.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, manifestPath(path), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    listVersionFiles(path).dropRight(RetainedVersions)
      .foreach { case (_, p) => Files.deleteIfExists(p) }
  }

  /** Parsed-manifest memo (round 19). Every store operation re-reads
    * `manifest` many times (op entry, helpers, the CAS re-read, history
    * walks), and each read was a full file read + jackson parse + sidecar
    * part-name rebind — pure driver time repeated tens of times per
    * lifecycle. The memo keys on the manifest FILE's identity stamp
    * (inode fileKey, mtime, size): the commit protocol only ever
    * replaces manifest.json via atomic rename (new inode, new mtime), so
    * any committed change — from this process or another — misses the
    * memo by construction, and CAS semantics are unchanged (the stamp
    * read races the swap no worse than the byte read it replaces: both
    * see either the old or the new committed file). Manifest is
    * immutable (case class; lazy sidecar lists read through their own
    * immutable-part LRUs), so sharing one instance across operations is
    * safe. Version files are immutable once written, so they memo on the
    * same stamp. Bounded LRU — a long-lived session over many stores
    * stays O(MemoMax) manifests. */
  private val ManifestMemoMax = 256
  private val manifestMemo =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, (Any, Manifest)](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (Any, Manifest)]): Boolean =
          size > ManifestMemoMax
      })
  private def fileStamp(p: java.nio.file.Path): Option[Any] = try {
    val a = Files.readAttributes(p,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    // creationTime beside (fileKey, mtime, size) narrows the racy-stat
    // window where the filesystem records a birth time: a reused inode
    // number holding a same-size replacement written within the mtime
    // granularity is then a NEW file with a fresh birth time, so the
    // stamp differs. Elsewhere the JDK reports creationTime as the
    // mtime, and the stamp is effectively (fileKey, mtime, size).
    Some((Option(a.fileKey).map(_.toString).getOrElse(""),
      a.lastModifiedTime, a.creationTime, a.size))
  } catch { case _: java.io.IOException => None }
  private def memoized(memoKey: String, p: java.nio.file.Path)
      (parse: String => Option[Manifest]): Option[Manifest] = {
    val s0 = fileStamp(p)
    s0.flatMap(s => Option(manifestMemo.get(memoKey)).collect {
      case (st, m) if st == s => m
    }) match {
      case hit @ Some(_) => hit
      case None =>
        // transient IO failures PROPAGATE (the pre-memo behavior):
        // swallowing them here made readManifest misreport a mid-read
        // hiccup as "manifest exists but is unparseable" corruption.
        // Callers that tolerate a vanished file (version files pruned
        // concurrently) catch NoSuchFileException themselves.
        val bytes = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        parse(bytes).map { m =>
          // cache only when the file identity is unchanged across the
          // read — a concurrent swap mid-read parses correctly but
          // must not be memoized under the pre-swap stamp
          if (s0.isDefined && fileStamp(p) == s0)
            manifestMemo.put(memoKey, (s0.get, m))
          m
        }
    }
  }

  private[journal] def readManifestVersion(path: String, v: Long): Option[Manifest] = {
    val p = versionPath(path, v)
    // a retained version pruned between the exists() probe and the read
    // is simply absent — the same answer the exists() probe would have
    // given a moment later
    if (Files.exists(p))
      try memoized(s"$path#v$v", p)(parseManifest(path, _))
      catch { case _: java.nio.file.NoSuchFileException => None }
    else None
  }

  /** None = no manifest file (no store / not created yet). A manifest
    * that EXISTS but does not parse throws instead: every caller's
    * None-fallback treats None as "empty store", and reading external
    * corruption as empty would escalate silently — append() restarts
    * versions from 0, vacuum() computes live files from the empty file
    * list and deletes every segment. Version files (readManifestVersion)
    * are None-tolerant for a MISSING file only (shrinks the openAt
    * window); one that exists but fails to parse — including a retained
    * manifest.json.vN stamped by a NEWER format (e.g. left behind after
    * restoring manifest.json post-downgrade) — throws through
    * parseManifest's protocol gate, so versions()/commitHistory/vacuum
    * refuse loudly rather than skip it: vacuum skipping a version it
    * cannot read would mark that version's files dead and DELETE them.
    * Operator path out: remove the offending manifest.json.vN by hand
    * (it is a retained historical snapshot, never current state — the
    * only cost is losing that version from the time-travel window), or
    * upgrade the reader. */
  private[journal] def readManifest(path: String): Option[Manifest] = {
    val p = manifestPath(path)
    if (!Files.exists(p)) None
    else Some(memoized(path, p)(parseManifest(path, _))
      .getOrElse(throw new IllegalStateException(
        s"journal store at $path: manifest.json exists but is unparseable " +
          "(corrupted outside the atomic-rename protocol); refusing to " +
          "treat it as an empty store — restore a retained " +
          "manifest.json.vN or recreate the store explicitly")))
  }

  private def parseManifest(path: String, s: String): Option[Manifest] = try {
    import scala.jdk.CollectionConverters._
    val n = mapper.readTree(s)
    // PROTOCOL GATE (Delta's reader-version idea): a manifest stamped by
    // a NEWER format refuses to load rather than being read with its
    // unknown fields silently ignored — ignoring a future field is never
    // safe (e.g. a reader that didn't know deletion-vector parts would
    // resurrect every vector-deleted row). Absent field = format 1
    // (every manifest this writer has ever produced).
    if (n.hasNonNull("formatVersion") &&
        n.get("formatVersion").asLong(1L) > FormatVersion)
      throw new IllegalStateException(
        s"journal store at $path: manifest format " +
          s"${n.get("formatVersion").asLong(1L)} exceeds this reader's " +
          s"supported format $FormatVersion — the store was written by a " +
          "newer library version; upgrade this reader (refusing to load: " +
          "ignoring unknown manifest fields could silently corrupt reads)")
    // lastBatchId must default to -1 (not 0) when absent: a pre-upgrade
    // manifest with no field must not swallow batch 0.
    def num(k: String, dflt: Long = 0L): Long =
      if (n.hasNonNull(k)) n.get(k).asLong(dflt) else dflt
    def arr(k: String): Seq[com.fasterxml.jackson.databind.JsonNode] =
      if (n.hasNonNull(k)) n.get(k).elements().asScala.toSeq else Nil
    // Root lists: sidecar-backed manifests carry part NAMES only (the
    // list bytes load lazily through RootSidecar's LRU); legacy inline
    // manifests (pre-sidecar stores) keep reading as-is and migrate to
    // parts on their next commit.
    val (files, stats, kstats): (Seq[String], Seq[EpochStat], Seq[KeyStat]) =
      if (n.hasNonNull("rootParts"))
        RootSidecar.fromParts(path, arr("rootParts").map(_.asText))
      else {
        val st = arr("stats").map(_.asLong).grouped(4)
          .map(g => EpochStat(g(0), g(1), g(2), g(3))).toSeq
        val ks = arr("kstats").map { e =>
          val parts = e.asText.split(":", 5)
          KeyStat(parts(0).toLong,
            java.net.URLDecoder.decode(parts(4), "UTF-8"),
            parts(1).toLong, parts(2).toLong, parts(3).toLong)
        }
        (arr("files").map(_.asText), st, ks)
      }
    val fstats: Seq[FileStat] =
      if (n.hasNonNull("fstatsParts"))
        // sidecar-backed: parse cost here is the part-NAME list; the
        // stats bytes load lazily, only if an operation prunes/rewrites
        new LazyFileStats(path, arr("fstatsParts").map(_.asText))
      else arr("fstats").map { o => // legacy inline (pre-sidecar stores)
        FileStat(o.get("f").asText, o.get("rows").asLong, o.get("minSeq").asLong,
          o.get("maxSeq").asLong, o.get("minKey").asLong, o.get("maxKey").asLong,
          o.get("tsMin").asLong, o.get("tsMax").asLong,
          // absent (pre-null-tracking stats) = unknown, never 0: a 0 here
          // would falsely certify the stateAtTs checkpoint shortcut
          if (o.hasNonNull("nullTs")) o.get("nullTs").asLong else -1L,
          if (o.hasNonNull("bloom")) o.get("bloom").asText else "")
      }
    val schemaDdl =
      if (n.hasNonNull("schemaDdl"))
        java.net.URLDecoder.decode(n.get("schemaDdl").asText, "UTF-8")
      else ""
    val writerMarks: Map[String, Long] =
      if (n.hasNonNull("writerMarks")) {
        val wm = n.get("writerMarks")
        wm.fieldNames().asScala.map(k =>
          java.net.URLDecoder.decode(k, "UTF-8") -> wm.get(k).asLong).toMap
      } else Map.empty
    Some(Manifest(num("epochSize"), num("maxSeq"),
      arr("checkpoints").map(_.asLong), files, stats,
      num("lastBatchId", -1L), num("version"), kstats, schemaDdl, fstats,
      num("commitTsMs", 0L), writerMarks, arr("dvParts").map(_.asText),
      if (n.hasNonNull("op")) n.get("op").asText else "",
      arr("droppedCols").map(e =>
        java.net.URLDecoder.decode(e.asText, "UTF-8")),
      if (n.hasNonNull("meta")) {
        val mm = n.get("meta")
        mm.fieldNames().asScala.map(k =>
          java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(mm.get(k).asText, "UTF-8")).toMap
      } else Map.empty,
      arr("cstatsParts").map(_.asText),
      if (n.hasNonNull("cstatsEnvs")) {
        val ce = n.get("cstatsEnvs")
        ce.fieldNames().asScala.map(k =>
          java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(ce.get(k).asText, "UTF-8")).toMap
      } else Map.empty))
  } catch {
    // the protocol gate's refusal MUST escape: reading a newer-format
    // manifest as "no manifest here" would be exactly the silent
    // corruption the gate exists to prevent
    case e: IllegalStateException => throw e
    // unparseable bytes (e.g. a file damaged outside our atomic-rename
    // protocol) read as "no manifest here" — callers produce their own
    // targeted errors — rather than an unhandled jackson throw that
    // would wedge vacuum()/openAt() permanently
    case _: Exception => None
  }
}
