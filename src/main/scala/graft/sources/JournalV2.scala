package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo => CEq, Expression, GreaterThan => CGt, GreaterThanOrEqual => CGte, LessThan => CLt, LessThanOrEqual => CLte, Literal}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsReportStatistics, SupportsReportPartitioning, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning => V2KeyGroupedPartitioning, Partitioning => V2Partitioning, UnknownPartitioning => V2UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.journal.{JournalStore, SegmentFiles}

/** DataSource V2 surface of the `journal` format.
  *
  * READ (batch, scan mode): the table delegates straight to Spark's own
  * `ParquetScanBuilder`/`ParquetScan` over an `InMemoryFileIndex` built
  * from the MANIFEST's file list (snapshot isolation: files outside the
  * manifest stay invisible), so a journal scan plans exactly like a
  * first-class parquet table — columnar batches, filter/column pushdown,
  * epoch/ns partition pruning — with two journal-specific additions:
  *
  *  - pushed `seq` bounds are translated to `epoch` partition-directory
  *    bounds (`epoch = seq div epochSize` is store arithmetic Catalyst
  *    can't derive), so a tail read opens only tail directories;
  *  - a pushed `ukey =` probe prunes FILES through the manifest's
  *    per-file key ranges (the same data-skipping stats the store API
  *    uses), below directory granularity.
  *
  * READ (streaming): the table declares MICRO_BATCH_READ and its scan
  * yields a [[JournalMicroBatchStream]] — the V2 streaming contract
  * (admission control, per-file input partitions, vectorized-adjacent
  * parquet readers), replacing the V1 `Source` whose getBatch ended in
  * an `RDD[Row]` bridge. See JournalStream.scala.
  *
  * WRITE: the table declares V1_BATCH_WRITE — the V2 commit framework
  * (`AppendData` → `AppendDataExecV1`) executing through an
  * `InsertableRelation` whose insert() is `JournalStore.append`, i.e.
  * the same global seq assignment + manifest-CAS commit every other
  * write path uses. A journal append is a whole-batch operation (seqs
  * are assigned by ONE deterministic global sort and committed by ONE
  * manifest swap), which the per-task `BatchWrite`/`DataWriter` contract
  * cannot express without staging every row twice — the same reason
  * Delta Lake's OSS connector writes through V1Write. Deliberately NOT
  * BATCH_WRITE: path-based `df.write.save(path)` keeps the V1
  * CreatableRelationProvider, which is the only API that can honor
  * ErrorIfExists/Ignore semantics (the V2 path rejects those modes
  * outright); catalog-addressed writes (INSERT INTO journal.t,
  * saveAsTable) ride this V2 write. ACCEPTS_ANY_SCHEMA because the
  * table's schema carries system columns (seq, epoch) the engine
  * assigns — appends are by-NAME (ns, ukey, ts, payload, val, evolved
  * extras), validated loudly inside append().
  *
  * State-mode reads (asOfSeq/asOfTs — aggregations, not scans) stay on
  * the V1 relation: they are computed plans (checkpoint + bounded tail
  * replay + arg-max combine), not file scans, and already plan as
  * ordinary vectorized DataFrames. That relation pushes ns/ukey
  * equality under the combine and plans the tail over the file list
  * the manifest prunes (tail epochs, ns directory, key range, bloom). */
private[sources] object JournalV2 {

  /** Idempotent-write identity from writer options (the Delta
    * `txnAppId`/`txnVersion` idiom): both present → the append carries
    * (appId, version) into the manifest's per-writer high-water marks,
    * so a RETRY of an already-committed version (orchestrator re-runs a
    * task whose commit landed before the failure) is a metadata no-op —
    * the exact mechanism the streaming sink deduplicates micro-batches
    * with, shared rather than re-invented. One option without the other
    * is a configuration error, not a silent non-idempotent write. */
  def txnOf(opt: String => Option[String]): Option[(String, Long)] = {
    val appId = opt("txnAppId")
    val ver = opt("txnVersion").map { v =>
      try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"txnVersion must be a number (monotonic per txnAppId), got '$v'")
      }
    }
    (appId, ver) match {
      case (Some(a), Some(v)) =>
        require(a.nonEmpty, "txnAppId must be non-empty (it keys the " +
          "store's per-writer idempotence mark)")
        Some((a, v))
      case (None, None) => None
      case _ => throw new IllegalArgumentException(
        "txnAppId and txnVersion come as a pair: the appId keys the " +
          "store's per-writer high-water mark and the version is the " +
          "monotonic sequence deduplicated against it (Delta's " +
          "idempotent-write options)")
    }
  }

  /** File index over the manifest's (possibly pruned) relative file
    * list. `basePath` makes epoch=K/ns=X directory values partition
    * columns; the user-specified schema pins their types (ns STRING —
    * a numeric-looking namespace must not be inferred int). */
  def fileIndex(spark: SparkSession, segDir: String, relFiles: Seq[String],
                fullSchema: StructType): InMemoryFileIndex =
    if (relFiles.isEmpty) {
      // a prune that excluded EVERY file (cstats bounds / key bloom
      // reject all): zero paths leave partition inference with nothing,
      // so the epoch/ns partition schema is DECLARED with an empty
      // partition list — the scan plans zero splits instead of failing
      // schema resolution
      val partSchema = StructType(fullSchema.fields.filter(f =>
        f.name == "epoch" || f.name == "ns"))
      new InMemoryFileIndex(spark, Nil,
        Map("basePath" -> segDir), Some(fullSchema),
        FileStatusCache.getOrCreate(spark),
        Some(org.apache.spark.sql.execution.datasources.PartitionSpec(
          partSchema, Nil)), None)
    } else
      new InMemoryFileIndex(spark, relFiles.map(f => new Path(s"$segDir/$f")),
        Map("basePath" -> segDir), Some(fullSchema),
        FileStatusCache.getOrCreate(spark), None, None)

  /** ANALYZE-recorded column stats → the DSv2 columnStats report, for
    * columns that survived pruning. Exact-or-decline at three grains:
    * the whole set is dropped unless the recorded row count equals the
    * live exact count (`exactRows` — stats describe THIS surface, not
    * an ancestor's); typed min/max serve for BIGINT columns (a lossless
    * Long parse-back) and for TIMESTAMP/TIMESTAMP_NTZ columns in epoch
    * MICROS (the `minus`/`maxus` keys — the catalyst-internal Long
    * value FilterEstimation compares timestamp literals in; string
    * extrema stay manifest-only); and the 16-bin equi-height histogram
    * serves only while live rows ≤ 2× its capture-point count
    * (`stats.histrows` — bin boundaries cannot merge incrementally, so
    * a histogram must not outlive the distribution it describes; the
    * merged ndv/null/extrema keep serving past that). The map is
    * driver-built from manifest metadata — O(columns). */
  def columnStatsFor(meta: Map[String, String], exactRows: Long,
                     schema: StructType): java.util.Map[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val out = new java.util.HashMap[NamedReference, ColumnStatistics]()
    if (!meta.get(JournalStore.StatsRowsKey).contains(exactRows.toString))
      return out
    val pre = JournalStore.StatsColPrefix
    schema.fields.foreach { f =>
      val p = pre + f.name + "."
      (meta.get(p + "nulls"), meta.get(p + "ndv")) match {
        case (Some(nu), Some(nd)) =>
          val longTyped = f.dataType == org.apache.spark.sql.types.LongType
          // timestamp extrema/histograms serve in epoch MICROS — the
          // catalyst-internal Long value FilterEstimation compares
          // timestamp literals in (analyze() records them under
          // minus/maxus beside the display-only canonical strings)
          val tsTyped =
            f.dataType == org.apache.spark.sql.types.TimestampType ||
              f.dataType == org.apache.spark.sql.types.TimestampNTZType
          def bound(k: String): java.util.Optional[Object] = {
            val key =
              if (longTyped) Some(p + k)
              else if (tsTyped)
                Some(p + (if (k == "min") "minus" else "maxus"))
              else None
            key.flatMap(meta.get) match {
              case Some(v) => java.util.Optional.of(
                java.lang.Long.valueOf(v).asInstanceOf[Object])
              case None => java.util.Optional.empty()
            }
          }
          val (mn, mx) = (bound("min"), bound("max"))
          // analyze()'s 16-bin equi-height histogram ("b1..b16|n0..n15"
          // — upper bin edges + per-bin ndv; height = non-null rows /
          // 16): FilterEstimation then prices range predicates on real
          // value distribution instead of the uniform assumption
          // histogram-only staleness bound: bin boundaries cannot merge
          // incrementally, so a histogram serves only while the table
          // has not outgrown the distribution it describes (live rows
          // ≤ 2× the capture-point count); the merged ndv/null/extrema
          // stats keep serving past that, and analyze() re-captures
          // a missing capture-point key means the histogram's age is
          // unknowable (pre-histrows manifests): DECLINE it — a
          // StatsRowsKey fallback would be trivially true under the
          // incremental fold, the exact unbounded-staleness hole the
          // 2x gate closes
          // ...and a SHRINK bound (round 17): the refold carries the
          // histogram through deletes, so a table erased below HALF its
          // capture point declines it too — bins describing mostly
          // erased data are as stale as bins that missed growth
          val histFresh = meta.get(JournalStore.StatsHistRowsKey)
            .exists(h => exactRows <= 2L * h.toLong &&
              2L * exactRows >= h.toLong)
          val hist: java.util.Optional[
              org.apache.spark.sql.connector.read.colstats.Histogram] =
            (if ((longTyped || tsTyped) && histFresh) meta.get(p + "hist")
             else None).map { packed =>
              val Array(bs, ns2) = packed.split('|')
              val edges = bs.split(',').map(_.toDouble)
              val ndvs = ns2.split(',').map(_.toLong)
              val lo0 = meta.get(p + (if (tsTyped) "minus" else "min"))
                .map(_.toDouble).getOrElse(edges.head)
              val binArr = edges.indices.map { i =>
                val (l, h, n2) =
                  (if (i == 0) lo0 else edges(i - 1), edges(i), ndvs(i))
                new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                  override def lo(): Double = l
                  override def hi(): Double = h
                  override def ndv(): Long = n2
                }
              }.toArray
              val h: org.apache.spark.sql.connector.read.colstats.Histogram =
                new org.apache.spark.sql.connector.read.colstats.Histogram {
                  override def height(): Double =
                    (exactRows - nu.toLong).toDouble / edges.length
                  override def bins(): Array[
                      org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                    binArr
                }
              h
            } match {
              case Some(h) => java.util.Optional.of(h)
              case None => java.util.Optional.empty()
            }
          out.put(Expressions.column(f.name), new ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(nd.toLong)
            override def nullCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(nu.toLong)
            override def min(): java.util.Optional[Object] = mn
            override def max(): java.util.Optional[Object] = mx
            override def histogram(): java.util.Optional[
                org.apache.spark.sql.connector.read.colstats.Histogram] = hist
          })
        case _ => ()
      }
    }
    out
  }

  /** The streamed sidecar pass's report to the scan (round 19): the
    * selectivity-priced row estimate, the post-prune row sum it never
    * exceeds, and — new — FILTERED per-column statistics for the
    * predicate columns (filtered-ndv bound from the union of kept
    * files' HLL registers, extrema clipped by the predicate, exact
    * zero null count under null-rejecting predicates). All
    * planner-advisory; every hash gate is independent of them. */
  private[sources] case class FilteredScanStats(est: Long, upper: Long,
      colStats: java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics])

  /** V2 table unless a state-mode/ns option forces the V1 relation
    * (None → caller returns a capability-less stub and Spark falls back).
    * The store may not exist yet: the table still carries the streaming
    * and write capabilities (a stream can start before the producer's
    * first commit; a catalog INSERT can create the store), while batch
    * read falls back to the V1 relation's targeted "no journal store"
    * error. */
  def tableFor(options: CaseInsensitiveStringMap): Option[JournalTable] = {
    val path = Option(options.get("path"))
    if (path.isEmpty || options.containsKey("asOfSeq") ||
        options.containsKey("asOfTs") || options.containsKey("ns")) None
    else {
      val spark = SparkSession.active
      val pinned = Option(options.get("asOfVersion")).map(_.toLong)
      val store =
        if (JournalStore.exists(path.get)) {
          val s0 = JournalStore.open(spark, path.get)
          Some(pinned.fold(s0)(s0.openAt))
        } else None
      Some(new JournalTable(spark, path.get, store, pinned.isDefined,
        Option(options.get("epochSize")).map(_.toLong),
        Option(options.get("maxSeqsPerTrigger")).map(_.toLong),
        Option(options.get("startingSeq")),
        Option(options.get("changeFeed")).exists(_.toBoolean),
        Option(options.get("startMode")),
        Option(options.get("fromVersion")).map(_.toLong),
        Option(options.get("toVersion")).map(_.toLong)))
    }
  }
}

private[sources] class JournalTable(spark: SparkSession, storePath: String,
                                    store: Option[JournalStore],
                                    pinned: Boolean,
                                    writeEpochSize: Option[Long] = None,
                                    maxSeqsPerTrigger: Option[Long] = None,
                                    startingSeq: Option[String] = None,
                                    changeFeed: Boolean = false,
                                    startMode: Option[String] = None,
                                    changesFrom: Option[Long] = None,
                                    changesTo: Option[Long] = None,
                                    viaCatalog: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  require(startMode.isEmpty || changeFeed,
    "startMode is a change-feed option (changeFeed=true); a plain " +
      "journal stream starts by startingSeq")
  require((changesFrom.isEmpty && changesTo.isEmpty) || changeFeed,
    "fromVersion/toVersion are change-feed options (changeFeed=true); " +
      "a plain journal read pins a snapshot with asOfVersion")
  require(changesFrom.isDefined || changesTo.isEmpty,
    "toVersion without fromVersion: a batch change window needs an " +
      "explicit base (fromVersion=<v> emits the NET diff (v, to])")
  require(changesFrom.isEmpty || startMode.isEmpty,
    "fromVersion reads a batch change window; startMode governs a " +
      "STREAMING feed's first batch — the two cannot combine")
  /** Batch CDC window requested: this table reads as one NET diff. */
  private def batchWindow: Boolean = changesFrom.isDefined
  private val segDir = s"$storePath/segments"
  // one snapshot for the table's lifetime; a store that does not exist
  // yet reads as the empty manifest (batch read falls back to V1 anyway)
  private val m = store.map(_.manifest)
    .getOrElse(JournalStore.Manifest(1000L, -1L, Nil))

  private val manifestSchema: StructType =
    if (m.schemaDdl.nonEmpty) StructType.fromDDL(m.schemaDdl)
    else StructType.fromDDL(
      "ns STRING, ukey BIGINT, ts TIMESTAMP, payload STRING, " +
        "val DOUBLE, seq BIGINT, epoch BIGINT")

  /** Schema of the parquet files themselves: epoch and ns live in the
    * directory structure, not the file columns. */
  private val dataSchema =
    StructType(manifestSchema.filterNot(f => f.name == "epoch" || f.name == "ns"))

  /** User-facing column order — identical to the V1 relation's
    * scanUnordered surface (canonical journal columns first, evolved
    * extras next, the epoch storage column last). */
  private val tableSchema: StructType = {
    val canonical = Seq("seq", "ns", "ukey", "ts", "payload", "val")
    val byName = manifestSchema.map(f => f.name -> f).toMap
    val head = canonical.flatMap(byName.get)
    val rest = manifestSchema
      .filterNot(f => canonical.contains(f.name) || f.name == "epoch")
    val raw = StructType(head ++ rest ++ byName.get("epoch"))
    // column DEFAULTs (default.<col> table properties) ride field
    // metadata under CURRENT_DEFAULT: Spark's INSERT resolution reads
    // it to fill omitted columns and the DEFAULT keyword. EXISTS_DEFAULT
    // is deliberately NOT set — existing rows keep what they were
    // written with (write-time semantics; a read-time backfill would
    // rewrite history every time the default changed).
    val defPre = JournalStore.DefaultPrefix
    val defaults = m.meta.collect {
      case (k, v) if k.startsWith(defPre) => k.stripPrefix(defPre) -> v
    }
    if (defaults.isEmpty) raw
    else StructType(raw.map { f =>
      defaults.get(f.name) match {
        case Some(sql) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(org.apache.spark.sql.catalyst.util
              .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY,
              sql)
            .build())
        case None => f
      }
    })
  }

  override def name(): String = s"journal:$storePath"
  override def schema(): StructType =
    if (changeFeed) {
      // a BATCH window reads the store's NET diff, which is computed on
      // the CANONICAL row surface (JournalStore.changes) — epoch is a
      // storage coordinate and evolved extras may not exist at the
      // window's base version, so neither belongs to the diff's schema
      val body =
        if (batchWindow) StructType(tableSchema.filter(f =>
          Seq("seq", "ns", "ukey", "ts", "payload", "val").contains(f.name)))
        else tableSchema
      StructType(org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false) +: body)
    } else tableSchema

  /** Whether this table's snapshot carries live deletion vectors — the
    * trigger for [[JournalDvReadRule]]'s logical rewrite (DV subtraction
    * ABOVE the columnar parquet scan, keeping codegen + pushdown). */
  private[sources] def hasLiveDv: Boolean =
    store.isDefined && m.dvParts.nonEmpty

  /** Change-feed tables read DIFFS, not the row surface —
    * [[JournalDvReadRule]] must leave them alone (its rewrite targets
    * the plain table read; a feed's `_change_type` column and delete
    * tier have no equivalent in the store scan). */
  private[sources] def isChangeFeed: Boolean = changeFeed

  /** Store path, for the CDF-by-table-name rewrite
    * ([[JournalCdfReadRule]]). */
  private[sources] def path: String = storePath

  /** The DV-subtracted batch read as a DataFrame plan: the store's own
    * scan surface (vectorized parquet scan of the manifest file list,
    * `_metadata` row identity, broadcast-bounded anti-join against the
    * tiny DV table), projected to this table's declared column order
    * and types. [[JournalDvReadRule]] grafts this plan in place of the
    * V2 relation so Catalyst optimizes it like any parquet query. */
  private[sources] def dvSubtractedFrame(): DataFrame = {
    val df = store.getOrElse(throw new IllegalStateException(
      s"no journal store at $storePath")).scanUnordered()
    df.select(tableSchema.map(f =>
      org.apache.spark.sql.functions.col(f.name).cast(f.dataType)
        .as(f.name)).toIndexedSeq: _*)
  }
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.noneOf(classOf[TableCapability])
    // an EXISTING store is batch-readable even with zero committed
    // files (a catalog SELECT from a freshly-created table has no V1
    // fallback — it must plan as an empty scan, not an analysis error);
    // a MISSING store keeps no capability so the path API falls back to
    // the V1 relation's targeted "no journal store" error
    if (store.isDefined)
      caps.add(TableCapability.BATCH_READ)
    if (!pinned) {
      // streaming a version-pinned snapshot is contradictory (a stream
      // tails LIVE commits); writes through a pinned view are refused
      caps.add(TableCapability.MICRO_BATCH_READ)
      caps.add(TableCapability.V1_BATCH_WRITE)
      caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
      // `writeStream.toTable` — CATALOG-loaded tables only: the
      // path-provider spelling must keep falling back to the V1 sink
      // (single write); advertising this there would route it through
      // the staged V2 write and double every streamed byte
      if (viaCatalog && !changeFeed)
        caps.add(TableCapability.STREAMING_WRITE)
    }
    caps
  }

  // -- SQL DELETE (SupportsDelete): plain `DELETE FROM cat.tbl WHERE …`
  // routes to JournalStore.deleteWhere — physical erasure with manifest
  // candidate pruning, touched-file rewrite, checkpoint drop and the
  // single-writer CAS. Spark translates the DELETE condition to V1
  // source filters; any filter expressible as a Column is accepted (the
  // store's probe scan evaluates the REAL predicate — pruning precision
  // is the store's concern, not correctness's). A condition Spark can't
  // fully translate, or a version-pinned table, refuses loudly.

  private def filterToColumn(f: sources.Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case sources.EqualTo(a, v) => Some(col(a) === lit(v))
      case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case sources.LessThan(a, v) => Some(col(a) < lit(v))
      case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case sources.In(a, vs) =>
        Some(col(a).isin(vs.toIndexedSeq: _*))
      case sources.IsNull(a) => Some(col(a).isNull)
      case sources.IsNotNull(a) => Some(col(a).isNotNull)
      case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case sources.StringContains(a, v) => Some(col(a).contains(v))
      case sources.And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case sources.Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case sources.Not(c) => filterToColumn(c).map(!_)
      case sources.AlwaysTrue() => Some(lit(true))
      case sources.AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    !pinned && store.isDefined && filters.forall(filterToColumn(_).isDefined)

  /** SQL DELETE's execution mode: the default rewrites touched segment
    * files (physical erasure — the GDPR semantics plain DELETE should
    * have); `spark.graft.journal.deleteMode=dv` switches the SAME
    * statement to deletion vectors (O(matching rows), no rewrite,
    * purged at the next compact) for high-frequency operational
    * deletes. Session-scoped on purpose: the mode is an operational
    * choice per workload, not table state. */
  private def runDelete(st: JournalStore,
                        cond: org.apache.spark.sql.Column): Long =
    if (spark.conf.getOption("spark.graft.journal.deleteMode")
        .contains("dv")) st.deleteWhereDv(cond)
    else st.deleteWhere(cond)

  /** The extension-rule entry ([[JournalDeleteRule]]): a resolved DELETE
    * condition, attribute references name-normalized so the store's own
    * relation re-resolves them. */
  private[sources] def deleteWhereExpr(
      cond: org.apache.spark.sql.catalyst.expressions.Expression): Long = {
    require(!pinned, "DELETE through a version-pinned journal table " +
      "(VERSION AS OF) is refused — pin a reader, not an eraser")
    val st = store.getOrElse(throw new IllegalStateException(
      s"no journal store at $storePath"))
    val byName = cond.transform {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(a.name)
    }
    runDelete(st, org.apache.spark.sql.graft.StreamBatchBridge.columnOf(byName))
  }

  /** Target column types for the MERGE rule's source casts. */
  private[sources] def dataColumnTypes
      : Map[String, org.apache.spark.sql.types.DataType] =
    tableSchema.map(f => f.name.toLowerCase -> f.dataType).toMap

  /** The extension-rule entry ([[JournalMergeRule]]): run the store's
    * merge with the projected SQL source; returns rows appended. */
  private[sources] def runMerge(source: org.apache.spark.sql.DataFrame,
                                del: Option[org.apache.spark.sql.Column],
                                upd: Boolean, ins: Boolean,
                                updCond: Option[org.apache.spark.sql.Column]
                                  = None,
                                bySourceDel: Option[org.apache.spark.sql.Column]
                                  = None,
                                insCond: Option[org.apache.spark.sql.Column]
                                  = None,
                                bySourceSet:
                                  Seq[(String, org.apache.spark.sql.Column)]
                                  = Nil,
                                bySourceSetCond:
                                  Option[org.apache.spark.sql.Column]
                                  = None,
                                updValues:
                                  Seq[(org.apache.spark.sql.Column, String)]
                                  = Nil,
                                stateNeedsTsVal: Boolean = false): Long = {
    require(!pinned, "MERGE through a version-pinned journal table " +
      "(VERSION AS OF) is refused — pin a reader, not a writer")
    val st = store.getOrElse(throw new IllegalStateException(
      s"no journal store at $storePath"))
    val before = st.manifest.maxSeq
    val after = st.merge(source, del, upd, ins, updCond, bySourceDel,
      insCond, bySourceSet, bySourceSetCond, updValues, stateNeedsTsVal)
    after - before
  }

  /** The extension-rule entry ([[JournalMergeRule]] UPDATE branch):
    * delegates to [[graft.journal.JournalStore.updateWhere]] — the
    * pruned state rebuild (condition equalities → manifest file
    * skipping; struct-max aggregate, never a global window). Attribute
    * references are name-normalized so the store's own relation
    * re-resolves them. Returns the number of rows rewritten. */
  private[sources] def runUpdate(
      assigns: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)],
      cond: Option[org.apache.spark.sql.catalyst.expressions.Expression]): Long = {
    require(!pinned, "UPDATE through a version-pinned journal table " +
      "(VERSION AS OF) is refused — pin a reader, not a writer")
    val st = store.getOrElse(throw new IllegalStateException(
      s"no journal store at $storePath"))
    def byName(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      org.apache.spark.sql.graft.StreamBatchBridge.columnOf(e.transform {
        case a: AttributeReference =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(a.name)
      })
    st.updateWhere(assigns.map { case (n, e) => n -> byName(e) },
      cond.map(byName))
  }

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    require(!pinned, "DELETE through a version-pinned journal table " +
      "(VERSION AS OF) is refused — pin a reader, not an eraser")
    val st = store.getOrElse(throw new IllegalStateException(
      s"no journal store at $storePath"))
    val cond = filters.flatMap(filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    runDelete(st, cond)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a READER-OPTION change feed on a catalog table
    // (`spark.read.option("changeFeed", true).table("jcat.t")`) cannot
    // be served from here — the relation's schema was fixed at
    // loadTable, before the option was visible, so the scan could
    // never add `_change_type`. With the graft extensions installed,
    // [[JournalCdfReadRule]] rewrites the BATCH relation before
    // planning reaches this point; reaching it means no extensions (or
    // a streaming read, which pins its feed at the table level) —
    // refuse loudly rather than silently serving the PLAIN row surface
    // to a reader that asked for a diff.
    require(changeFeed ||
        !Option(options.get("changeFeed")).exists(_.toBoolean),
      "changeFeed as a READ OPTION on a catalog table needs the graft " +
        "session extensions (spark.sql.extensions=graft.expr." +
        "GraftExtensions) for batch windows; streams read the feed " +
        "through the path API (spark.readStream.format(\"journal\")" +
        ".option(\"changeFeed\", true).load(path))")
    if (changeFeed && batchWindow)
      // BATCH CDC through the reader surface (the Delta CDF
      // `readChangeFeed` idiom): fromVersion/toVersion select the NET
      // diff (from, to] — inserts = visible at `to` and not at `from`,
      // deletes = visible at `from` and not at `to` — served by
      // JournalStore.changes through the V1 escape hatch (the diff is a
      // driver-composed multi-scan plan, not a file list; same bridge
      // as JournalDvScan). toVersion defaults to the CURRENT manifest.
      new ScanBuilder {
        override def build(): Scan = new ChangeFeedBatchScan(spark,
          schema(), storePath, changesFrom.get, changesTo)
      }
    else if (changeFeed)
      // the live CHANGE FEED is a streaming surface (batch CDC pins an
      // explicit window with fromVersion): its Scan answers
      // toMicroBatchStream and inherits Scan's refusal for toBatch
      new ScanBuilder {
        override def build(): Scan = new ChangeFeedScan(spark, schema(),
          storePath, maxSeqsPerTrigger, startingSeq, startMode)
      }
    else if (m.files.isEmpty)
      // zero committed files: the parquet machinery has nothing to
      // infer a partition schema from (readSchema would silently drop
      // ns/epoch), so serve a dedicated zero-partition scan that still
      // reports the full table surface — and still answers
      // toMicroBatchStream, since a stream may start before the
      // producer's first commit
      new ScanBuilder {
        override def build(): Scan =
          new EmptyJournalScan(spark, tableSchema, storePath,
            maxSeqsPerTrigger, startingSeq)
      }
    else
      new JournalScanBuilder(spark,
        JournalV2.fileIndex(spark, segDir, m.files, tableSchema),
        tableSchema, dataSchema, options,
        store.map(_.epochSize).getOrElse(1000L), m.files,
        m.fileStats, segDir,
        storePath, maxSeqsPerTrigger, startingSeq,
        // SQL surface: `nsGrouped` can also ride a table PROPERTY
        // (set_property procedure / setMeta) — a pure-SQL consumer has
        // no reader options; the explicit option wins when both exist
        nsGrouped = Option(options.get("nsGrouped")).map(_.toBoolean)
          .orElse(m.meta.get("nsGrouped").map(_.toBoolean))
          .getOrElse(false),
        statsMeta = m.meta,
        // deletion vectors present: batch reads must subtract them, which
        // a parquet file scan cannot express row-level — the builder
        // serves a V1Scan over the store's DV-aware scan surface instead
        // (correct first; the columnar path returns once compact() purges)
        dvScan = if (m.dvParts.nonEmpty)
          store.map(s => () => s.scanUnordered()) else None,
        cstatsParts = m.cstatsParts, cstatsEnvs = m.cstatsEnvs)
  }

  /** V2 write = the V2 commit framework executing the store's own
    * whole-batch append (global seq sort + stats + manifest CAS +
    * auto-checkpoint). Overwrite is refused — a journal is an
    * append-only log. Idempotent-write options (`txnAppId` +
    * `txnVersion`, the Delta idiom) ride the manifest's per-writer
    * high-water marks — see [[JournalV2.txnOf]]. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!pinned,
      "this is a read-only view pinned at a manifest version; " +
        "write through the unpinned table")
    require(!changeFeed,
      "a change-feed table is a read surface; write through the plain " +
      "journal table (drop the changeFeed option)")
    val epochSz = Option(info.options.get("epochSize")).map(_.toLong)
      .orElse(writeEpochSize)
    val autoCompact = Option(info.options.get("autoCompactFiles")).map(_.toInt)
    val autoMaintain =
      Option(info.options.get("autoMaintainBatches")).map(_.toInt)
    val txn = JournalV2.txnOf(k => Option(info.options.get(k)))
    // Update mode treated as append (SupportsStreamingUpdateAsAppend,
    // the Kafka-sink idiom): the journal keys state by (ns, ukey), so
    // an update-mode stream lands each revision as a new version —
    // exactly the V1 path sink's contract.
    new WriteBuilder
        with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              if (overwrite) throw new UnsupportedOperationException(
                "journal is an append-only log; Overwrite would truncate " +
                  "history (use append, or compact()/vacuum() for space)")
              val s =
                if (JournalStore.exists(storePath))
                  JournalStore.open(data.sparkSession, storePath)
                else JournalStore.create(data.sparkSession, storePath,
                  epochSz.getOrElse(1000L))
              autoCompact.foreach(s.withAutoCompact)
              autoMaintain.foreach(s.withAutoMaintain)
              txn match {
                case Some((appId, ver)) => s.append(data, Some(ver), appId)
                case None => s.append(data)
              }
            }
          }
        // `writeStream.toTable` — see JournalStreamingWrite for the
        // staged-commit shape and the exactly-once mark keyed by the
        // streaming query id
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          new JournalStreamingWrite(spark, storePath, info.schema(),
            info.queryId(), epochSz, autoCompact, autoMaintain)
      }
    }
  }
}

/** `ParquetScanBuilder` with the two journal extensions (seq→epoch
  * partition bounds; ukey→per-file-stats pruning). Everything else —
  * column pruning, parquet predicate pushdown, partition pruning on
  * direct epoch/ns filters, vectorized reading — is inherited. build()
  * wraps the parquet scan so the SAME scan serves batch (delegated
  * verbatim) and streaming (toMicroBatchStream). */
private[sources] class JournalScanBuilder(
    spark: SparkSession, fileIndex: PartitioningAwareFileIndex,
    fullSchema: StructType, dataSchema: StructType,
    options: CaseInsensitiveStringMap, epochSize: Long,
    relFiles: Seq[String], fstats: Map[String, JournalStore.FileStat],
    segDir: String, storePath: String, maxSeqsPerTrigger: Option[Long],
    startingSeq: Option[String] = None,
    nsGrouped: Boolean = false,
    dvScan: Option[() => DataFrame] = None,
    statsMeta: Map[String, String] = Map.empty,
    cstatsParts: Seq[String] = Nil,
    cstatsEnvs: Map[String, String] = Map.empty)
  extends ParquetScanBuilder(spark, fileIndex, fullSchema, dataSchema, options)
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit
  with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  /** Pushed seq bounds arrive as data filters (seq is a file column);
    * derive the matching epoch directory bounds and append them to the
    * builder's partition filters — pruning whole directories on top of
    * the per-row-group min/max skipping the data filter already gets.
    * The derived filter binds by NAME inside the file index's partition
    * pruner, so a fresh attribute is sufficient. Bounds are
    * conservative (integer floor) and the original row filter always
    * remains — IO-only, never load-bearing for correctness. */
  /** TIMESTAMP / TIMESTAMP_NTZ comparisons captured at the CATALYST
    * grain for the cstats file pruning: parquet pushes NEITHER (INT96
    * timestamps are unpushable; Spark's ParquetFilters has no NTZ
    * conversion either), so they never reach pushedDataFilters — but
    * the Literal's internal Long IS the raw micros for both flavors,
    * exactly the domain the sidecar's minus/maxus record (NTZ capture
    * is exact since round 18's NtzMicros — identical raw-micros
    * arithmetic on both sides). Each entry is
    * (column, mayMatch(fileLo, fileHi)). */
  private val tsRangePreds =
    scala.collection.mutable.ArrayBuffer.empty[(String, (Long, Long) => Boolean)]

  /** The same captured ts comparisons in (column, op, literal-micros)
    * form — the shape the post-filter CARDINALITY estimator can price
    * (a may-match closure can prune but not fraction). op ∈
    * {'>', 'G'(>=), '<', 'L'(<=), '='}. */
  private val tsRangeSels =
    scala.collection.mutable.ArrayBuffer.empty[(String, Char, Long)]

  /** IS [NOT] NULL on timestamp-flavored columns, captured at the
    * catalyst grain like the ranges above — parquet pushes NOTHING for
    * INT96 and nothing for NTZ either, so the sources.IsNull /
    * IsNotNull arms in cstatsPrune never see them; the per-file null
    * counts settle both predicates exactly regardless of type. Entries
    * are (column, isNull). */
  private val tsNullPreds =
    scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    val remaining = super.pushFilters(filters)
    def tsLit(e: Expression): Option[Long] = e match {
      case Literal(v: Long, org.apache.spark.sql.types.TimestampType) =>
        Some(v)
      case Literal(v: Long, org.apache.spark.sql.types.TimestampNTZType) =>
        Some(v)
      case _ => None
    }
    def attrName(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    filters.foreach {
      case org.apache.spark.sql.catalyst.expressions.IsNull(a) =>
        attrName(a).foreach(c => tsNullPreds += ((c, true)))
      case org.apache.spark.sql.catalyst.expressions.IsNotNull(a) =>
        attrName(a).foreach(c => tsNullPreds += ((c, false)))
      case CGt(a, l) if tsLit(l).isDefined =>
        for (c <- attrName(a); v <- tsLit(l)) {
          tsRangePreds += ((c, (_, hi) => hi > v))
          tsRangeSels += ((c, '>', v))
        }
      case CGte(a, l) if tsLit(l).isDefined =>
        for (c <- attrName(a); v <- tsLit(l)) {
          tsRangePreds += ((c, (_, hi) => hi >= v))
          tsRangeSels += ((c, 'G', v))
        }
      case CLt(a, l) if tsLit(l).isDefined =>
        for (c <- attrName(a); v <- tsLit(l)) {
          tsRangePreds += ((c, (lo, _) => lo < v))
          tsRangeSels += ((c, '<', v))
        }
      case CLte(a, l) if tsLit(l).isDefined =>
        for (c <- attrName(a); v <- tsLit(l)) {
          tsRangePreds += ((c, (lo, _) => lo <= v))
          tsRangeSels += ((c, 'L', v))
        }
      case CEq(a, l) if tsLit(l).isDefined =>
        for (c <- attrName(a); v <- tsLit(l)) {
          tsRangePreds += ((c, (lo, hi) => lo <= v && hi >= v))
          tsRangeSels += ((c, '=', v))
        }
      // literal-on-the-left orientations
      case CGt(l, a) if tsLit(l).isDefined => // v > ts  ⇒  ts < v
        for (c <- attrName(a); v <- tsLit(l)) {
          tsRangePreds += ((c, (lo, _) => lo < v))
          tsRangeSels += ((c, '<', v))
        }
      case CGte(l, a) if tsLit(l).isDefined =>
        for (c <- attrName(a); v <- tsLit(l)) {
          tsRangePreds += ((c, (lo, _) => lo <= v))
          tsRangeSels += ((c, 'L', v))
        }
      case CLt(l, a) if tsLit(l).isDefined =>
        for (c <- attrName(a); v <- tsLit(l)) {
          tsRangePreds += ((c, (_, hi) => hi > v))
          tsRangeSels += ((c, '>', v))
        }
      case CLte(l, a) if tsLit(l).isDefined =>
        for (c <- attrName(a); v <- tsLit(l)) {
          tsRangePreds += ((c, (_, hi) => hi >= v))
          tsRangeSels += ((c, 'G', v))
        }
      case _ => ()
    }
    val epochAttr = AttributeReference("epoch", LongType)()
    def lng(l: Literal): Option[Long] = l.value match {
      case i: Int => Some(i.toLong)
      case j: Long => Some(j)
      case s: Short => Some(s.toLong)
      case _ => None
    }
    def seqAttr(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == "seq"
      case _ => false
    }
    val derived = filters.flatMap {
      case CGt(a, l: Literal) if seqAttr(a) =>
        lng(l).map(v => CGte(epochAttr, Literal((v + 1) / epochSize)))
      case CGte(a, l: Literal) if seqAttr(a) =>
        lng(l).map(v => CGte(epochAttr, Literal(v / epochSize)))
      case CLt(a, l: Literal) if seqAttr(a) =>
        lng(l).map(v => CLte(epochAttr, Literal((v - 1).max(0L) / epochSize)))
      case CLte(a, l: Literal) if seqAttr(a) =>
        lng(l).map(v => CLte(epochAttr, Literal(v / epochSize)))
      case CEq(a, l: Literal) if seqAttr(a) =>
        lng(l).map(v => CEq(epochAttr, Literal(v / epochSize)))
      case CGt(l: Literal, a) if seqAttr(a) => // v > seq  ⇒  seq < v
        lng(l).map(v => CLte(epochAttr, Literal((v - 1).max(0L) / epochSize)))
      case CGte(l: Literal, a) if seqAttr(a) =>
        lng(l).map(v => CLte(epochAttr, Literal(v / epochSize)))
      case CLt(l: Literal, a) if seqAttr(a) =>
        lng(l).map(v => CGte(epochAttr, Literal((v + 1) / epochSize)))
      case CLte(l: Literal, a) if seqAttr(a) =>
        lng(l).map(v => CGte(epochAttr, Literal(v / epochSize)))
      case _ => None
    }
    if (derived.nonEmpty) partitionFilters = partitionFilters ++ derived
    remaining
  }

  /** Manifest-stats aggregate pushdown: a GLOBAL `count(*)` /
    * `min`/`max` over `seq`/`ukey`/`ts` with no filters is answered
    * entirely from the manifest's per-file stats — the scan plans as a
    * single driver-built row and opens ZERO files. This is the
    * metadata-only path that makes `SELECT count(*) FROM journal.t` on
    * a 100 TB log a manifest parse (the same stats `nsStats()` serves
    * through the store API, now reachable from plain SQL).
    *
    * Strictly exact-or-decline: every manifest file must carry stats
    * (a pre-stats store falls back to the ordinary columnar scan), any
    * pushed filter declines (stats describe unfiltered data), any
    * group-by declines. min/max over an all-null column (sentinel
    * min > max in every file) answers NULL — the aggregate's own
    * semantics. count(*) includes null rows, exactly like the per-file
    * row counts. */
  private var manifestAgg: Option[(StructType, Array[Array[Any]])] = None

  private def planManifestAgg(agg: Aggregation): Option[(StructType, Array[Array[Any]])] = {
    // deletion vectors: per-file ROW COUNTS are decremented exactly by
    // deleteWhereDv, so count(*) — global or ns/epoch-grouped — stays a
    // manifest parse even while vectors live. min/max ranges may still
    // describe vector-deleted rows, so any other aggregate declines
    // (purge restores them).
    if (dvScan.isDefined &&
        !agg.aggregateExpressions.forall(_.isInstanceOf[CountStar]))
      return None
    if (partitionFilters.nonEmpty || dataFilters.nonEmpty) return None
    if (relFiles.isEmpty || !relFiles.forall(fstats.contains)) return None
    // GROUP BY over the journal's layout axes only: ns / epoch are
    // directory values, so every group's membership — and therefore its
    // stats rollup — is knowable from the manifest alone. Any other
    // grouping declines. Every file must parse BOTH keys exactly (an
    // escaped ns directory poisons the whole pushdown, same
    // exact-or-decline contract as the global form).
    val keyNames = agg.groupByExpressions.toSeq.map {
      case r: NamedReference if r.fieldNames.length == 1 &&
        Seq("ns", "epoch").contains(r.fieldNames()(0)) => Some(r.fieldNames()(0))
      case _ => None
    }
    if (keyNames.exists(_.isEmpty)) return None
    val keys = keyNames.flatten
    def keyOf(f: String): Option[Seq[Any]] = {
      val sp = SegmentFiles.parse(f)
      val vals = keys.map {
        case "ns" =>
          sp.literalNs.map(org.apache.spark.unsafe.types.UTF8String.fromString)
        case "epoch" => sp.epoch.map(e => e: java.lang.Long)
      }
      if (vals.exists(_.isEmpty)) None else Some(vals.flatten)
    }
    val grouped0 = relFiles.map(f => keyOf(f).map(_ -> f))
    if (grouped0.exists(_.isEmpty)) return None
    val groups: Seq[(Seq[Any], Seq[JournalStore.FileStat])] =
      grouped0.flatten.groupBy(_._1).toSeq
        .map { case (k, fs) => k -> fs.map(t => fstats(t._2)) }
        .sortBy(_._1.map(_.toString).mkString("\u0000"))
    val keyFields = keys.map {
      case "ns" => org.apache.spark.sql.types.StructField("ns",
        org.apache.spark.sql.types.StringType)
      case "epoch" => org.apache.spark.sql.types.StructField("epoch", LongType)
    }
    def rowFor(ss: Seq[JournalStore.FileStat]): Option[(Seq[org.apache.spark.sql.types.StructField], Seq[Any])] = {
    def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
        case _ => None
      }
    // (field, internal value) per supported aggregate; None = decline all
    def slot(f: AggregateFunc): Option[(org.apache.spark.sql.types.StructField, Any)] = f match {
      case _: CountStar =>
        Some((org.apache.spark.sql.types.StructField("count(*)", LongType,
          nullable = false), ss.map(_.rows).sum: java.lang.Long))
      case m: Min => colName(m.column).flatMap {
        case "seq" => Some((org.apache.spark.sql.types.StructField("min(seq)",
          LongType), ss.map(_.minSeq).min: java.lang.Long))
        case "ukey" =>
          val keyed = ss.filter(s => s.minKey <= s.maxKey)
          Some((org.apache.spark.sql.types.StructField("min(ukey)", LongType),
            if (keyed.isEmpty) null else keyed.map(_.minKey).min: java.lang.Long))
        case "ts" =>
          val tsed = ss.filter(s => s.tsMin <= s.tsMax)
          Some((org.apache.spark.sql.types.StructField("min(ts)",
            org.apache.spark.sql.types.TimestampType),
            if (tsed.isEmpty) null else tsed.map(_.tsMin).min: java.lang.Long))
        case _ => None
      }
      case m: Max => colName(m.column).flatMap {
        case "seq" => Some((org.apache.spark.sql.types.StructField("max(seq)",
          LongType), ss.map(_.maxSeq).max: java.lang.Long))
        case "ukey" =>
          val keyed = ss.filter(s => s.minKey <= s.maxKey)
          Some((org.apache.spark.sql.types.StructField("max(ukey)", LongType),
            if (keyed.isEmpty) null else keyed.map(_.maxKey).max: java.lang.Long))
        case "ts" =>
          val tsed = ss.filter(s => s.tsMin <= s.tsMax)
          Some((org.apache.spark.sql.types.StructField("max(ts)",
            org.apache.spark.sql.types.TimestampType),
            if (tsed.isEmpty) null else tsed.map(_.tsMax).max: java.lang.Long))
        case _ => None
      }
      case _ => None
    }
    val slots = agg.aggregateExpressions.toSeq.map(slot)
    if (slots.isEmpty || slots.exists(_.isEmpty)) None
    else Some((slots.flatten.map(_._1), slots.flatten.map(_._2)))
    }
    val rows = groups.map { case (k, ss) => rowFor(ss).map(r => (r._1, k ++ r._2)) }
    if (rows.isEmpty || rows.exists(_.isEmpty)) return None
    val aggFields = rows.head.get._1
    Some((StructType(keyFields ++ aggFields),
      rows.flatten.map(_._2.toArray).toArray))
  }

  /** Limit pushdown from manifest stats: `SELECT … FROM t LIMIT n`
    * with NO pushed filters keeps only a prefix of the manifest's files
    * whose known row counts cover n — a LIMIT 10 peek at a 100 TB log
    * opens one file, not every live segment. Partial pushdown (Spark
    * re-applies the limit above), and filter-free by construction: with
    * a filter the kept files' post-filter row count is unknowable from
    * stats, so pruning could return FEWER matching rows than the full
    * scan — decline instead. Files without stats ride along counting
    * as 0 (conservative: never dropped, never counted). */
  private var limitFiles: Option[Seq[String]] = None

  override def pushLimit(limit: Int): Boolean = {
    if (dvScan.isDefined) return false // V1 fallback applies no file pruning
    if (partitionFilters.nonEmpty || dataFilters.nonEmpty ||
        manifestAgg.isDefined || relFiles.isEmpty) return false
    var acc = 0L
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = relFiles.iterator
    while (it.hasNext && acc < limit) {
      val f = it.next(); kept += f
      acc += fstats.get(f).map(_.rows).getOrElse(0L)
    }
    if (acc >= limit && kept.size < relFiles.size) {
      limitFiles = Some(kept.toSeq); true
    } else false
  }
  override def isPartiallyPushed: Boolean = true

  /** TOP-N pushdown on the seq axis — the tail-inspection query
    * (`ORDER BY seq DESC LIMIT n`, "what just happened in this log")
    * opens O(n/rows-per-file) files on a store of ANY size: files are
    * taken from the seq extreme until their manifest row counts cover
    * the limit, the cutoff is the worst seq those files can contain,
    * and only files whose range crosses the cutoff stay in the index.
    * IO-only and exact-or-conservative (every row that COULD rank in
    * the global top n lives in a kept file; Spark's own Sort+Limit
    * still runs above — isPartiallyPushed). Declines when filters were
    * pushed (file row counts would overstate the match count and the
    * cutoff could prune true candidates) and when any file lacks
    * stats. seq is engine-assigned non-null, so null ordering is
    * irrelevant. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    if (dvScan.isDefined || manifestAgg.isDefined) return false
    if (partitionFilters.nonEmpty || dataFilters.nonEmpty ||
        relFiles.isEmpty) return false
    if (orders.length != 1) return false
    val col = orders(0).expression() match {
      case r: NamedReference if r.fieldNames().length == 1 => r.fieldNames()(0)
      case _ => return false
    }
    if (col != "seq" || !relFiles.forall(fstats.contains)) return false
    val desc = orders(0).direction() ==
      org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING
    val fromExtreme = relFiles.sortBy(f =>
      if (desc) -fstats(f).maxSeq else fstats(f).minSeq)
    var acc = 0L
    val taken = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fromExtreme.iterator
    while (it.hasNext && acc < limit) {
      val f = it.next(); taken += f; acc += fstats(f).rows
    }
    if (acc < limit) return false // store smaller than the limit
    val cutoff =
      if (desc) taken.map(fstats(_).minSeq).min
      else taken.map(fstats(_).maxSeq).max
    val kept = relFiles.filter(f =>
      if (desc) fstats(f).maxSeq >= cutoff else fstats(f).minSeq <= cutoff)
    if (kept.size < relFiles.size) { limitFiles = Some(kept); true }
    else false
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    planManifestAgg(agg).isDefined || super.supportCompletePushDown(agg)

  override def pushAggregation(agg: Aggregation): Boolean =
    planManifestAgg(agg) match {
      case some @ Some(_) => manifestAgg = some; true
      // fall through to the parquet footer-stats path (conf-gated,
      // per-file partial rows) so declining here never disables it —
      // unless deletion vectors exist: footer counts include deleted rows
      case None => dvScan.isEmpty && super.pushAggregation(agg)
    }

  /** A pushed `ukey =` probe swaps in a file index over only the files
    * whose per-file key range (manifest fstats) can contain the key —
    * file-level data skipping the partition directories can't express.
    * Files without stats are always kept (exact-or-conservative, the
    * same contract as the store API's pruning). */
  override def build(): ParquetScan = {
    manifestAgg match {
      case Some((aggSchema, values)) =>
        return new ManifestAggScan(super.build(), aggSchema, values, storePath)
      case None => ()
    }
    dvScan match {
      // deletion vectors: serve the batch read through a V1Scan over the
      // store's DV-subtracted surface. Partition filters were consumed
      // by pushdown (exact pruning Spark will NOT re-apply), so they
      // ride along to be re-applied by the relation; data filters are
      // always re-evaluated above the scan, so they need no carrying.
      case Some(df) =>
        return new JournalDvScan(super.build(), fullSchema, storePath, df,
          partitionFilters, maxSeqsPerTrigger, startingSeq)
      case None => ()
    }
    val scan = super.build()
    val keyEq = pushedDataFilters.collectFirst {
      case sources.EqualTo("ukey", v: Long) => v
      case sources.EqualTo("ukey", v: java.lang.Long) => v.longValue
      case sources.EqualTo("ukey", v: Int) => v.toLong
    }
    val (parquet0, effFiles0) = (limitFiles, keyEq) match {
      // limit pruning and keyEq pruning are mutually exclusive by
      // construction (pushLimit declines whenever a filter was pushed)
      case (Some(kept), _) =>
        (scan.copy(fileIndex =
          JournalV2.fileIndex(spark, segDir, kept, fullSchema)), kept)
      case (None, Some(k)) =>
        val pruned = SegmentFiles.prune(relFiles, fstats.get,
          SegmentFiles.Probe.point(None, Some(k)))
        if (pruned.size < relFiles.size)
          (scan.copy(fileIndex =
            JournalV2.fileIndex(spark, segDir, pruned, fullSchema)), pruned)
        else (scan, relFiles)
      case (None, None) => (scan, relFiles)
    }
    // cstats DATA SKIPPING: per-file COLUMN bounds (the analyze
    // bootstrap / append sidecar) prune files for pushed predicates on
    // ANY sketched column — the skipping axis partition directories
    // and the (seq, ts, ukey) manifest stats cannot express. A 100 TB
    // scan with `WHERE score > 0.9` opens only the files whose sketch
    // admits the range.
    val prunedCs = cstatsPrune(effFiles0)
    val (parquet, effFiles) =
      if (prunedCs.size < effFiles0.size)
        (parquet0.copy(fileIndex =
          JournalV2.fileIndex(spark, segDir, prunedCs, fullSchema)), prunedCs)
      else (parquet0, effFiles0)
    new JournalParquetScan(parquet, fullSchema, storePath, maxSeqsPerTrigger,
      effFiles, fstats, segDir, startingSeq, nsGrouped = nsGrouped,
      statsMeta = statsMeta, filteredEstimate = cstatsCardinality(effFiles))
  }

  /** Whether the sidecar family certifies raw-micros TIMESTAMP_NTZ
    * capture (stamped by analyze() since round 19 — see
    * [[graft.journal.JournalStore.StatsNtzExactKey]]). Without it, NTZ
    * predicates are EXCLUDED from file skipping and estimation: a
    * family analyzed by a pre-marker build under a non-UTC session
    * zone could hold DST-gap-shifted NTZ extrema, and skipping is the
    * one sidecar consumer where a wrong bound means wrong results.
    * Plain TIMESTAMP capture was always an identity micros cast and
    * needs no marker. */
  private lazy val ntzExact: Boolean =
    statsMeta.get(graft.journal.JournalStore.StatsNtzExactKey).contains("1")

  private type CS = graft.journal.ColumnStatsSidecar.CStat
  private type CE = graft.journal.ColumnStatsSidecar.ColEnv

  /** Stream candidate-relevant sidecar rows PART-BY-PART (round 19 —
    * the read-side twin of round 18's distributed write lifecycle):
    * the old whole-sidecar readAll materialized files × cols CStat
    * rows (512-byte registers included) in a driver map at PLAN time,
    * ~2 GB resident for a 1M-file × 4-col store. Now each part is
    * consulted through its manifest ENVELOPE first and opened only
    * when it could matter:
    *
    *  - its file-name range (per column entry) intersects the
    *    candidate set — parts are range-partitioned on (col, file),
    *    so a SELECTIVE scan touches O(candidate) parts;
    *  - the entry's column is one a pushed predicate targets;
    *  - `entryNeeded` admits the entry (the pruning pass passes its
    *    no-row-prunable proof; estimation passes `true` — skipping on
    *    value proofs would silently degrade its selectivities).
    *
    * Parts without a decodable envelope — or with the zero-entry
    * unknown sentinel — ALWAYS open: the envelope is advisory, and
    * every failure mode degrades to round-18 behavior (open and
    * test row-by-row), never to a wrong skip. Peak driver memory is
    * one part (through the immutable-part LRU) plus the caller's
    * accumulators. */
  private def foreachCandidateRow(files: Seq[String], want: Set[String],
      entryNeeded: CE => Boolean)(sink: CS => Unit): Unit = {
    import graft.journal.{ColumnStatsSidecar, JournalStore}
    val candSet = files.toSet
    // candidates in unsigned UTF-8 byte order — the order the
    // envelope's distributed string min/max recorded
    val sorted = files.toArray
    java.util.Arrays.sort(sorted, new java.util.Comparator[String] {
      override def compare(a: String, b: String): Int =
        JournalStore.utf8Cmp(a, b)
    })
    def anyCandidateIn(lo: String, hi: String): Boolean = {
      var a = 0
      var b = sorted.length
      while (a < b) {
        val mid = (a + b) >>> 1
        if (JournalStore.utf8Cmp(sorted(mid), lo) < 0) a = mid + 1
        else b = mid
      }
      a < sorted.length && JournalStore.utf8Cmp(sorted(a), hi) <= 0
    }
    cstatsParts.foreach { p =>
      val open = cstatsEnvs.get(p).flatMap(ColumnStatsSidecar.decodeEnv) match {
        case None => true // no/undecodable envelope: advisory → open
        case Some(entries) if entries.isEmpty => true // unknown sentinel
        case Some(entries) => entries.exists(e => want.contains(e.col) &&
          entryNeeded(e) && anyCandidateIn(e.minFile, e.maxFile))
      }
      if (open)
        ColumnStatsSidecar.readPart(storePath, p).foreach { s =>
          if (candSet.contains(s.file) && want.contains(s.col)) sink(s)
        }
    }
  }

  /** POST-FILTER cardinality estimate from the per-file sketches —
    * the first planner consumer of the sidecar's per-file ndv (round
    * 18): with filters pushed, the scan used to decline to the bytes
    * estimate; now each kept file prices its own selectivity from its
    * OWN sketch (ranges by bounded-overlap fraction over the file's
    * min/max — numeric via BigDecimal, ts/ntz in micros; equality and
    * IN by 1/ndv or |list|/ndv from the file's HLL registers; IS
    * [NOT] NULL by the exact per-file null fraction) and the estimate
    * is Σ rows_f × Π sel_f. Unmodeled predicates and unsketched files
    * contribute 1 — the estimate degrades toward the post-prune row
    * SUM, itself already far tighter than bytes. Returns (estimate,
    * post-prune row sum) or None when files lack manifest stats /
    * sketches. Driver cost: streamed part-by-part through the
    * envelope consult (see [[foreachCandidateRow]]) +
    * O(files × preds) arithmetic. */
  private def cstatsCardinality(files: Seq[String])
      : Option[JournalV2.FilteredScanStats] = {
    import org.apache.spark.sql.types._
    def plain(est: Long, upper: Long) = Some(JournalV2.FilteredScanStats(
      est, upper, java.util.Collections.emptyMap()))
    if (files.isEmpty) return plain(0L, 0L) // provably empty scan
    if (cstatsParts.isEmpty) return None
    if (!files.forall(fstats.contains)) return None
    val typeOf = fullSchema.fields.map(f => f.name -> f.dataType).toMap
    def clamp(x: Double): Double = math.max(0.0, math.min(1.0, x))
    def nonNull(s: CS): Double =
      if (s.rows <= 0) 1.0 else (s.rows - s.nulls).toDouble / s.rows
    def ndvOf(s: CS): Option[Double] =
      if (s.regs.isEmpty) None
      else {
        val (rh, wh) = graft.journal.JournalStore.registerSummary(s.regs)
        if (rh == 0) None
        else Some(math.max(1L,
          graft.journal.JournalStore.hllNdvEstimate(rh, wh)).toDouble)
      }
    // the file's value bounds in a double domain comparable to the
    // literal: numeric strings via BigDecimal, ts/ntz via micros
    def bounds(dt: DataType, s: CS): Option[(Double, Double)] = dt match {
      case LongType | IntegerType | ShortType | ByteType | FloatType |
           DoubleType | _: DecimalType =>
        for {
          lo <- s.minv.flatMap(v => scala.util.Try(BigDecimal(v)).toOption)
          hi <- s.maxv.flatMap(v => scala.util.Try(BigDecimal(v)).toOption)
        } yield (lo.toDouble, hi.toDouble)
      case TimestampType =>
        for (lo <- s.minus; hi <- s.maxus) yield (lo.toDouble, hi.toDouble)
      // NTZ bounds only under the raw-micros certification marker
      // (estimates never change results, but an uncertified DST-gap
      // bound would price nonsense — decline to 1 like any unmodeled
      // predicate)
      case TimestampNTZType if ntzExact =>
        for (lo <- s.minus; hi <- s.maxus) yield (lo.toDouble, hi.toDouble)
      case _ => None
    }
    def litD(dt: DataType, v: Any): Option[Double] = dt match {
      case LongType | IntegerType | ShortType | ByteType | FloatType |
           DoubleType | _: DecimalType => v match {
        case null => None
        case d: java.lang.Double if d.isNaN || d.isInfinite => None
        case f: java.lang.Float if f.isNaN || f.isInfinite => None
        // java.math.BigDecimal is a Number too — this arm covers it
        case n: Number => Some(n.doubleValue)
        case _ => None
      }
      case _ => None
    }
    // range fraction under the uniform-within-bounds assumption (the
    // FilterEstimation formula at file grain); point files price 0/1
    def rangeSel(op: Char, k: Double)(lo: Double, hi: Double): Double =
      if (hi <= lo) // single-value file: the bound decides outright
        op match {
          case '>' => if (lo > k) 1.0 else 0.0
          case 'G' => if (lo >= k) 1.0 else 0.0
          case '<' => if (lo < k) 1.0 else 0.0
          case 'L' => if (lo <= k) 1.0 else 0.0
          case _ => if (lo == k) 1.0 else 0.0
        }
      else op match {
        case '>' => clamp((hi - k) / (hi - lo))
        case 'G' => clamp((hi - k) / (hi - lo))
        case '<' => clamp((k - lo) / (hi - lo))
        case 'L' => clamp((k - lo) / (hi - lo))
        case _ => 0.0 // '=' prices via ndv, not here
      }
    // TABLE-HISTOGRAM refinement (round 19): the uniform fraction
    // above is the FilterEstimation formula at file grain — worst
    // exactly where data is skewed. analyze() already records a
    // 16-bin equi-height histogram for BIGINT and timestamp columns;
    // pricing a file's range by the histogram's MASS ratio
    // (mass(pred ∩ [lo,hi]) / mass([lo,hi]), linear within a bin)
    // sees the skew the uniform assumption cannot. Freshness is the
    // SAME two-sided histrows gate the DSv2 serve path applies (live
    // rows within [½×, 2×] of the capture point); a histogram outside
    // it — or a file range the table histogram assigns ~zero mass —
    // falls back to uniform. Pure arithmetic on stats already
    // recorded; estimates only, never results.
    lazy val histFresh: Boolean = {
      val ss = relFiles.flatMap(fstats.get)
      ss.size == relFiles.size &&
        statsMeta.get(graft.journal.JournalStore.StatsHistRowsKey)
          .flatMap(v => scala.util.Try(v.toLong).toOption)
          .exists { h =>
            val r = ss.map(_.rows).sum
            r <= 2L * h && 2L * r >= h
          }
    }
    val histCache =
      scala.collection.mutable.HashMap.empty[String, Option[Array[Double]]]
    // 17 ascending edges: recorded column min + the 16 equi-height
    // upper bin boundaries (1/16 of non-null mass per bin)
    def histEdges(c: String): Option[Array[Double]] =
      histCache.getOrElseUpdate(c, {
        val pre = graft.journal.JournalStore.StatsColPrefix + c
        val loKey = typeOf.get(c) match {
          case Some(LongType) => Some(pre + ".min")
          case Some(TimestampType) => Some(pre + ".minus")
          case Some(TimestampNTZType) if ntzExact => Some(pre + ".minus")
          case _ => None
        }
        if (!histFresh) None
        else (for {
          lk <- loKey
          lo0 <- statsMeta.get(lk)
            .flatMap(v => scala.util.Try(v.toDouble).toOption)
          packed <- statsMeta.get(pre + ".hist")
          edges <- scala.util.Try(
            lo0 +: packed.split('|')(0).split(',').map(_.toDouble)).toOption
        } yield edges).filter(e => e.length == 17 && !e.exists(_.isNaN) &&
          e.zip(e.tail).forall { case (a, b) => a <= b })
      })
    def massBelow(edges: Array[Double], x: Double): Double = {
      if (x <= edges(0)) return 0.0
      if (x >= edges(16)) return 1.0
      var i = 0
      while (i < 15 && x > edges(i + 1)) i += 1
      val (a, b) = (edges(i), edges(i + 1))
      (i + (if (b > a) clamp((x - a) / (b - a)) else 1.0)) / 16.0
    }
    // the file's fraction through the table histogram's mass; None =
    // decline to uniform (no fresh histogram, or the file's range
    // carries no resolvable table mass)
    def histRangeSel(c: String, op: Char, k: Double)(
        lo: Double, hi: Double): Option[Double] =
      histEdges(c).flatMap { e =>
        val den = massBelow(e, hi) - massBelow(e, lo)
        if (den <= 0.0) None
        else {
          val kc = math.max(lo, math.min(hi, k))
          val num = op match {
            case '>' | 'G' => massBelow(e, hi) - massBelow(e, kc)
            case '<' | 'L' => massBelow(e, kc) - massBelow(e, lo)
            case _ => return None // '=' prices via ndv
          }
          Some(clamp(num / den))
        }
      }
    // per-file range fraction: histogram-refined when available,
    // uniform otherwise; single-value files settle exactly either way
    def fileRangeSel(c: String, op: Char, k: Double)(
        lo: Double, hi: Double): Double =
      if (hi <= lo) rangeSel(op, k)(lo, hi)
      else histRangeSel(c, op, k)(lo, hi).getOrElse(rangeSel(op, k)(lo, hi))
    def eqSel(s: CS, values: Int): Double =
      ndvOf(s).map(n => clamp(values / n)).getOrElse(1.0)
    // inclusive comparisons keep the rows AT the bound: the open-
    // interval fraction prices a literal sitting exactly on a file's
    // recorded min/max to 0, understating a file whose bound value is
    // heavy (the file was KEPT by pruning, so at least the bound rows
    // can match) — floor by the file's one-value selectivity
    def inclusiveFloor(s: CS): Double =
      ndvOf(s).map(n => 1.0 / n)
        .getOrElse(if (s.rows > 0) 1.0 / s.rows else 0.0)
    // timestamp-flavored columns price ONLY through the catalyst-grain
    // tsRangeSels/tsNullPreds capture (parquet pushes neither INT96 nor
    // NTZ filters today, so their sources.Filters never arrive — but if
    // a Spark upgrade ever starts pushing them, an un-gated equality
    // arm here would price the SAME predicate twice, squaring the
    // 1/ndv selectivity; the type gate mirrors the pruning path's
    // division of labor)
    def notTs(c: String): Boolean = !typeOf.get(c).exists(t =>
      t == TimestampType || t == TimestampNTZType)
    // one selectivity function per modeled predicate; unmodeled → none
    val sels: Seq[(String, CS => Double)] =
      pushedDataFilters.toSeq.flatMap {
        case sources.IsNotNull(c) if notTs(c) =>
          Some((c, (s: CS) => nonNull(s)))
        case sources.IsNull(c) if notTs(c) =>
          Some((c, (s: CS) => 1.0 - nonNull(s)))
        case sources.EqualTo(c, v) if v != null && notTs(c) =>
          Some((c, (s: CS) => eqSel(s, 1)))
        case sources.EqualNullSafe(c, v) if v != null && notTs(c) =>
          Some((c, (s: CS) => eqSel(s, 1)))
        case sources.In(c, vs) if vs != null && vs.nonEmpty && notTs(c) =>
          val n = vs.count(_ != null)
          if (n == 0) None else Some((c, (s: CS) => eqSel(s, n)))
        case sources.GreaterThan(c, v) =>
          typeOf.get(c).flatMap(dt => litD(dt, v).map(k =>
            (c, (s: CS) => bounds(dt, s).map { case (lo, hi) =>
              fileRangeSel(c, '>', k)(lo, hi) }.getOrElse(1.0))))
        case sources.GreaterThanOrEqual(c, v) =>
          typeOf.get(c).flatMap(dt => litD(dt, v).map(k =>
            (c, (s: CS) => bounds(dt, s).map { case (lo, hi) =>
              math.max(fileRangeSel(c, 'G', k)(lo, hi), inclusiveFloor(s))
            }.getOrElse(1.0))))
        case sources.LessThan(c, v) =>
          typeOf.get(c).flatMap(dt => litD(dt, v).map(k =>
            (c, (s: CS) => bounds(dt, s).map { case (lo, hi) =>
              fileRangeSel(c, '<', k)(lo, hi) }.getOrElse(1.0))))
        case sources.LessThanOrEqual(c, v) =>
          typeOf.get(c).flatMap(dt => litD(dt, v).map(k =>
            (c, (s: CS) => bounds(dt, s).map { case (lo, hi) =>
              math.max(fileRangeSel(c, 'L', k)(lo, hi), inclusiveFloor(s))
            }.getOrElse(1.0))))
        case _ => None
      } ++ tsNullPreds.toSeq.flatMap { case (c, isNull) =>
        typeOf.get(c) match {
          case Some(TimestampType | TimestampNTZType) =>
            Some((c, (s: CS) =>
              if (isNull) 1.0 - nonNull(s) else nonNull(s)))
          case _ => None
        }
      } ++ tsRangeSels.toSeq.flatMap { case (c, op, v) =>
        typeOf.get(c) match {
          case Some(dt @ (TimestampType | TimestampNTZType)) =>
            if (op == '=')
              Some((c, (s: CS) => eqSel(s, 1)))
            else
              Some((c, (s: CS) => bounds(dt, s).map { case (lo, hi) =>
                val frac = fileRangeSel(c, op, v.toDouble)(lo, hi)
                if (op == 'G' || op == 'L')
                  math.max(frac, inclusiveFloor(s))
                else frac
              }.getOrElse(1.0)))
          case _ => None
        }
      }
    val upper = files.map(fstats(_).rows).sum
    if (sels.isEmpty) return plain(upper, upper)
    // Π sel with a CORRELATION floor, accumulated STREAMING (round
    // 19): rows arrive part-by-part through the envelope consult, so
    // the driver holds one part plus three doubles per candidate file
    // — never the whole sidecar. Multiplying per-predicate
    // selectivities assumes independence, which over-prunes exactly
    // the correlated-predicate case (the journal's own (ns, ukey)
    // shape). Perfect correlation would make the conjunction as
    // selective as its most selective conjunct alone; the floor
    // charges one extra 1/ndv step below that (the conjunct's
    // equality grain on its own column) — never above any single
    // conjunct, never below the independence product by more than
    // that one step. Estimates only, never results.
    val selsByCol: Map[String, Seq[CS => Double]] =
      sels.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    class FAcc {
      var prod = 1.0
      var minSel = 1.0
      var minAux = 1.0 // 1/ndv of the most selective conjunct's column
    }
    val accs = scala.collection.mutable.HashMap.empty[String, FAcc]
    // FILTERED per-column stats ride the SAME streamed pass (round
    // 19 — "column stats are served unfiltered only" was the r18
    // gap): per predicate column, union the kept files' HLL registers
    // (mergeable by elementwise max — union-of-sketches ≡ sketch-of-
    // union) to BOUND the filtered ndv, merge the kept files'
    // serve-domain extrema and CLIP them by the predicate itself,
    // and settle the null count from null-rejection. Exact-or-decline:
    // a column serves only when EVERY kept file contributed a sketch
    // row (seen == files), and bounds only when every non-all-null
    // file carried them in the serve domain (BIGINT values; ts micros
    // — NTZ under the certification marker).
    class CAcc {
      var seen = 0L
      var nulls = 0L
      var regs: Array[Byte] = null
      var loL = Long.MaxValue
      var hiL = Long.MinValue
      var haveBounds = false
      var boundsDeclined = false
    }
    val colAccs = scala.collection.mutable.HashMap.empty[String, CAcc]
    def accumulateCol(s: CS): Unit = {
      val a = colAccs.getOrElseUpdate(s.col, new CAcc)
      a.seen += 1
      a.nulls += s.nulls
      if (s.regs.nonEmpty) {
        if (a.regs == null) a.regs = new Array[Byte](512)
        var i = 0
        while (i < 512 && i < s.regs.length) {
          if (s.regs(i) > a.regs(i)) a.regs(i) = s.regs(i)
          i += 1
        }
      }
      if (s.nulls < s.rows) { // all-null files contribute no bounds
        val lohi: Option[(Long, Long)] = typeOf.get(s.col) match {
          case Some(LongType) =>
            for {
              lo <- s.minv.flatMap(v => scala.util.Try(v.toLong).toOption)
              hi <- s.maxv.flatMap(v => scala.util.Try(v.toLong).toOption)
            } yield (lo, hi)
          case Some(TimestampType) =>
            for (lo <- s.minus; hi <- s.maxus) yield (lo, hi)
          case Some(TimestampNTZType) if ntzExact =>
            for (lo <- s.minus; hi <- s.maxus) yield (lo, hi)
          case _ => None
        }
        lohi match {
          case Some((lo, hi)) =>
            a.loL = math.min(a.loL, lo)
            a.hiL = math.max(a.hiL, hi)
            a.haveBounds = true
          case None => a.boundsDeclined = true
        }
      }
    }
    // entryNeeded = true: estimation must not skip on value proofs —
    // a "nothing prunable here" part still carries the selectivities
    foreachCandidateRow(files, selsByCol.keySet, _ => true) { s =>
      accumulateCol(s)
      val a = accs.getOrElseUpdate(s.file, new FAcc)
      selsByCol(s.col).foreach { g =>
        val sel = clamp(g(s))
        a.prod *= sel
        if (sel < a.minSel) {
          a.minSel = sel
          a.minAux = ndvOf(s).map(n => 1.0 / n).getOrElse(
            if (s.rows > 0) 1.0 / s.rows else 1.0)
        }
      }
    }
    val est = files.map { f =>
      val rows = fstats(f).rows
      accs.get(f) match {
        case Some(a) => rows * math.max(a.prod, a.minSel * a.minAux)
        case None => rows.toDouble // unsketched file: contributes 1
      }
    }.sum
    // predicate classification per column: every modeled predicate
    // except IS NULL is null-rejecting (the scan's output then holds
    // no nulls of that column — an EXACT zero); an IS-NULL-only
    // column declines (its matching rows' ndv/extrema are not what
    // the sketches describe)
    val isNulled: Set[String] = (pushedDataFilters.toSeq.collect {
      case sources.IsNull(c) => c
    } ++ tsNullPreds.toSeq.collect { case (c, true) => c }).toSet
    // serve-domain clips from the predicates themselves (BIGINT
    // literals; ts literals already in micros via tsRangeSels)
    def litL(v: Any): Option[Long] = v match {
      case n: java.lang.Long => Some(n.longValue)
      case n: java.lang.Integer => Some(n.longValue)
      case n: java.lang.Short => Some(n.longValue)
      case n: java.lang.Byte => Some(n.longValue)
      case _ => None
    }
    val clipLo = scala.collection.mutable.HashMap.empty[String, Long]
    val clipHi = scala.collection.mutable.HashMap.empty[String, Long]
    def tightenLo(c: String, k: Long): Unit =
      clipLo.update(c, math.max(clipLo.getOrElse(c, Long.MinValue), k))
    def tightenHi(c: String, k: Long): Unit =
      clipHi.update(c, math.min(clipHi.getOrElse(c, Long.MaxValue), k))
    def applyClip(c: String, op: Char, k: Long): Unit = op match {
      case '>' => if (k < Long.MaxValue) tightenLo(c, k + 1)
      case 'G' => tightenLo(c, k)
      case '<' => if (k > Long.MinValue) tightenHi(c, k - 1)
      case 'L' => tightenHi(c, k)
      case '=' => tightenLo(c, k); tightenHi(c, k)
      case _ => ()
    }
    pushedDataFilters.foreach {
      case sources.GreaterThan(c, v) if typeOf.get(c).contains(LongType) =>
        litL(v).foreach(applyClip(c, '>', _))
      case sources.GreaterThanOrEqual(c, v)
          if typeOf.get(c).contains(LongType) =>
        litL(v).foreach(applyClip(c, 'G', _))
      case sources.LessThan(c, v) if typeOf.get(c).contains(LongType) =>
        litL(v).foreach(applyClip(c, '<', _))
      case sources.LessThanOrEqual(c, v)
          if typeOf.get(c).contains(LongType) =>
        litL(v).foreach(applyClip(c, 'L', _))
      case sources.EqualTo(c, v) if typeOf.get(c).contains(LongType) =>
        litL(v).foreach(applyClip(c, '=', _))
      case _ => ()
    }
    tsRangeSels.foreach { case (c, op, v) =>
      typeOf.get(c) match {
        case Some(TimestampType) => applyClip(c, op, v)
        case Some(TimestampNTZType) if ntzExact => applyClip(c, op, v)
        case _ => ()
      }
    }
    val served = new java.util.HashMap[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    colAccs.foreach { case (c, a) =>
      if (a.seen == files.size.toLong && !isNulled.contains(c)) {
        val unionNdv: Long =
          if (a.regs == null) 0L
          else {
            val (rh, wh) =
              graft.journal.JournalStore.registerSummary(a.regs)
            if (rh == 0) 0L
            else graft.journal.JournalStore.hllNdvEstimate(rh, wh)
          }
        // the union over KEPT files bounds the filtered ndv from
        // above; the recorded table ndv bounds it too — serve the min
        val ndv = statsMeta
          .get(graft.journal.JournalStore.StatsColPrefix + c + ".ndv")
          .flatMap(v => scala.util.Try(v.toLong).toOption)
          .fold(unionNdv)(t => math.min(unionNdv, t))
        val (mnOpt, mxOpt): (Option[Long], Option[Long]) =
          if (a.boundsDeclined || !a.haveBounds) (None, None)
          else {
            val lo = math.max(a.loL, clipLo.getOrElse(c, Long.MinValue))
            val hi = math.min(a.hiL, clipHi.getOrElse(c, Long.MaxValue))
            if (lo > hi) (None, None) else (Some(lo), Some(hi))
          }
        def jOpt(o: Option[Long]): java.util.Optional[Object] = o match {
          case Some(v) => java.util.Optional.of(
            java.lang.Long.valueOf(v).asInstanceOf[Object])
          case None => java.util.Optional.empty()
        }
        val (mn, mx) = (jOpt(mnOpt), jOpt(mxOpt))
        val nullsServed = 0L // every serving predicate is null-rejecting
        served.put(
          org.apache.spark.sql.connector.expressions.Expressions.column(c),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(ndv)
            override def nullCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(nullsServed)
            override def min(): java.util.Optional[Object] = mn
            override def max(): java.util.Optional[Object] = mx
          })
      }
    }
    // a tiny selectivity product can round a NON-EMPTY post-prune file
    // set to 0 — but numRows = 0 reads as "provably empty" strength
    // (reserved for the files.isEmpty case above) and can push the
    // planner into degenerate join choices; floor the estimate at 1
    Some(JournalV2.FilteredScanStats(
      math.max(1L, math.round(est)), upper, served))
  }

  /** FILE-level data skipping from the cstats sidecar: drop a file
    * when some pushed predicate PROVABLY matches none of its rows —
    * its per-file column bounds exclude the literal (ranges, equality,
    * IN, string-prefix via UTF-8 bounds), the column is all-null in
    * that file and the predicate is null-rejecting, or the per-file
    * null count settles IS NULL / IS NOT NULL outright (nulls == 0 /
    * nulls == rows — both exact counts).
    * Sound by construction: sketches describe a file's live rows at
    * sketch time and files are immutable, so recorded bounds are
    * always an ENVELOPE of the current live rows (deletion vectors
    * only shrink the set); files without a sketch (or with bounds the
    * sketch declined) are always kept; pushed data filters are
    * re-evaluated above the scan anyway, so any keep is merely IO.
    * Comparisons run in the sketch's own domain — numeric strings via
    * BigDecimal, strings/booleans/dates in UNSIGNED UTF-8 byte order
    * (what min/max recorded), TIMESTAMP and TIMESTAMP_NTZ in raw epoch
    * micros (minus/maxus; NTZ capture is exact since round 18's
    * NtzMicros — see microsKey below) — and anything unrecognized
    * keeps the file. Driver cost: one part-LRU hit +
    * O(files × pushed preds). */
  private def cstatsPrune(files: Seq[String]): Seq[String] = {
    if (cstatsParts.isEmpty || files.isEmpty) return files
    import org.apache.spark.sql.types._
    val typeOf = fullSchema.fields.map(f => f.name -> f.dataType).toMap
    // literal → comparable key in the column's sketch domain
    def numKey(v: Any): Option[BigDecimal] = v match {
      case null => None
      case d: Double if d.isNaN || d.isInfinite => None
      case f: Float if f.isNaN || f.isInfinite => None
      // java.math.BigDecimal is a Number too — toString parses exactly
      case n: Number => scala.util.Try(BigDecimal(n.toString)).toOption
      case _ => None
    }
    def strKey(dt: DataType, v: Any): Option[String] = (dt, v) match {
      case (StringType, s: String) => Some(s)
      case (BooleanType, b: java.lang.Boolean) => Some(b.toString)
      case (DateType, d: java.sql.Date) =>
        Some(d.toString).filter(_.matches("\\d{4}-.*"))
      case (DateType, d: java.time.LocalDate) =>
        Some(d.toString).filter(_.matches("\\d{4}-.*"))
      case _ => None
    }
    // TIMESTAMP capture is an identity cast — exact always.
    // TIMESTAMP_NTZ joined in round 18: its bounds are captured
    // through graft.expr.NtzMicros — an identity reinterpretation of
    // the raw internal micros, exact even inside DST gaps. Since
    // round 19 NTZ admits here ONLY under the sidecar family's
    // raw-micros certification marker (`ntzExact`, stamped by
    // analyze()): the library never enforced a session zone, so a
    // family analyzed by a pre-marker build under a non-UTC zone
    // could hold gap-shifted extrema — and skipping is the one
    // consumer where a wrong bound means wrong results. An NTZ
    // literal's LocalDateTime maps to the same raw-micros domain via
    // the UTC epoch (the NTZ physical encoding).
    def microsKey(dt: DataType, v: Any): Option[Long] = (dt, v) match {
      case (TimestampType, t: java.sql.Timestamp) =>
        // via Instant: floor semantics hold for pre-1970 fractional
        // seconds (a truncating getTime/1000 would flip the sign side)
        val i = t.toInstant
        Some(i.getEpochSecond * 1000000 + i.getNano.toLong / 1000)
      case (TimestampType, i: java.time.Instant) =>
        Some(i.getEpochSecond * 1000000 + i.getNano.toLong / 1000)
      case (TimestampNTZType, d: java.time.LocalDateTime) if ntzExact =>
        Some(d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000 +
          d.getNano.toLong / 1000)
      case _ => None
    }
    // (column, mayMatch(sketch)) per prunable pushed predicate; a
    // predicate we can't type-map contributes nothing (keeps files)
    def boundTest(c: String, cmpLit: Any)(
        dec: (BigDecimal, BigDecimal) => Boolean,
        str: (Int, Int) => Boolean,
        mic: (Long, Long) => Boolean): Option[CS => Boolean] =
      typeOf.get(c).flatMap {
        case LongType | IntegerType | ShortType | ByteType | FloatType |
             DoubleType | _: DecimalType =>
          numKey(cmpLit).map(k => (s: CS) =>
            (for {
              lo <- s.minv.flatMap(v => scala.util.Try(BigDecimal(v)).toOption)
              hi <- s.maxv.flatMap(v => scala.util.Try(BigDecimal(v)).toOption)
            } yield dec(lo - k, hi - k)).getOrElse(true))
        case dt @ (StringType | BooleanType | DateType) =>
          strKey(dt, cmpLit).map(k => (s: CS) =>
            (for (lo <- s.minv; hi <- s.maxv) yield str(
              graft.journal.JournalStore.utf8Cmp(lo, k),
              graft.journal.JournalStore.utf8Cmp(hi, k))).getOrElse(true))
        case dt @ (TimestampType | TimestampNTZType) =>
          microsKey(dt, cmpLit).map(k => (s: CS) =>
            (for (lo <- s.minus; hi <- s.maxus)
              yield mic(lo - k, hi - k)).getOrElse(true))
        case _ => None
      }
    // a NULL-REJECTING bound test: an all-null column in this file
    // provably holds no match, so the file prunes outright; otherwise
    // the recorded bounds decide (missing bounds keep — conservative)
    def nr(t: CS => Boolean): CS => Boolean =
      s => s.nulls < s.rows && t(s)
    // unsigned byte-lexicographic compare (the UTF-8 order minv/maxv
    // recorded) — byte-level because a prefix's successor needs not be
    // valid UTF-8
    def bytesCmp(x: Array[Byte], y: Array[Byte]): Int = {
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
    // smallest byte string strictly greater than every string with
    // prefix `p`: strip trailing 0xff bytes, increment the last byte;
    // None = all-0xff prefix (no finite successor — DECLINE the upper
    // prune, keep the lower one)
    def prefixSuccessor(p: Array[Byte]): Option[Array[Byte]] = {
      var i = p.length - 1
      while (i >= 0 && p(i) == 0xff.toByte) i -= 1
      if (i < 0) None
      else {
        val out = java.util.Arrays.copyOf(p, i + 1)
        out(i) = (out(i) + 1).toByte
        Some(out)
      }
    }
    // ENVELOPE consult per test (round 19): could ANY row of a part's
    // entry for this column fail the keep test? Bound tests answer by
    // feeding the entry's (max-of-mins, min-of-maxes) pair to the
    // SAME keep closure — every row keeps iff that synthetic
    // "tightest row" keeps (the pair is exactly the worst case of
    // each one-sided comparison, and containment for the two-sided
    // ones) — plus the full-null escape: an all-null file PRUNES
    // under any nr-wrapped test, so a part holding one must open. A
    // failed decimal parse (numBad) or an unmapped type opens the
    // part; absent domain quantities mean NO row carries bounds there
    // — nothing bound-prunable, by construction.
    def synthFor(c: String, e: CE): Option[CS] = typeOf.get(c) match {
      case Some(LongType | IntegerType | ShortType | ByteType |
                FloatType | DoubleType | _: DecimalType) =>
        if (e.numBad) None
        else Some(graft.journal.ColumnStatsSidecar.CStat("", c, 1L, 0L,
          e.numLoMax, e.numHiMin, None, None, Array.emptyByteArray))
      case Some(StringType | BooleanType | DateType) =>
        Some(graft.journal.ColumnStatsSidecar.CStat("", c, 1L, 0L,
          e.strLoMax, e.strHiMin, None, None, Array.emptyByteArray))
      case Some(TimestampType | TimestampNTZType) =>
        Some(graft.journal.ColumnStatsSidecar.CStat("", c, 1L, 0L,
          None, None, e.micLoMax, e.micHiMin, Array.emptyByteArray))
      case _ => None
    }
    def mayBound(c: String, keep: CS => Boolean): CE => Boolean =
      e => e.anyFullNull || (synthFor(c, e) match {
        case Some(s) => !keep(s)
        case None => true // undecidable envelope: open the part
      })
    // (column, keep(sketch), mayPrune(envelope entry)) per prunable
    // pushed predicate; a predicate we can't type-map contributes
    // nothing (keeps files)
    def bound(c: String, t: CS => Boolean): (String, CS => Boolean,
        CE => Boolean) = {
      val k = nr(t)
      (c, k, mayBound(c, k))
    }
    val tests: Seq[(String, CS => Boolean, CE => Boolean)] =
      pushedDataFilters.toSeq.flatMap {
        case sources.IsNotNull(c) if typeOf.contains(c) =>
          // a file whose column is ALL NULL (nulls == rows) provably
          // holds no match; any non-null row keeps it — a part whose
          // envelope records no full-null file cannot prune
          Some((c, (s: CS) => s.nulls < s.rows,
            (e: CE) => e.anyFullNull))
        case sources.IsNull(c) if typeOf.contains(c) =>
          // a file with ZERO nulls provably holds no match (nulls and
          // rows are exact per-file counts, not estimates) — a part
          // whose every file holds a null cannot prune
          Some((c, (s: CS) => s.nulls > 0,
            (e: CE) => e.minNulls == 0L))
        case sources.StringStartsWith(c, p)
            if p != null && typeOf.get(c).contains(StringType) =>
          // values with prefix p live exactly in [p, successor(p)):
          // prune when max < p or min >= successor (UTF-8 byte order,
          // the recorded domain); all-0xff prefixes decline the upper
          // bound; missing bounds keep
          val pb = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val succ = prefixSuccessor(pb)
          Some(bound(c, (s: CS) => (for (lo <- s.minv; hi <- s.maxv) yield {
            val lob = lo.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val hib = hi.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            bytesCmp(hib, pb) >= 0 &&
              succ.forall(sb => bytesCmp(lob, sb) < 0)
          }).getOrElse(true)))
        case sources.EqualTo(c, v) if v != null =>
          boundTest(c, v)((lo, hi) => lo.signum <= 0 && hi.signum >= 0,
            (lo, hi) => lo <= 0 && hi >= 0,
            (lo, hi) => lo <= 0 && hi >= 0)
            .map(t => bound(c, t))
        case sources.EqualNullSafe(c, v) if v != null =>
          boundTest(c, v)((lo, hi) => lo.signum <= 0 && hi.signum >= 0,
            (lo, hi) => lo <= 0 && hi >= 0,
            (lo, hi) => lo <= 0 && hi >= 0)
            .map(t => bound(c, t))
        case sources.GreaterThan(c, v) if v != null =>
          boundTest(c, v)((_, hi) => hi.signum > 0,
            (_, hi) => hi > 0, (_, hi) => hi > 0)
            .map(t => bound(c, t))
        case sources.GreaterThanOrEqual(c, v) if v != null =>
          boundTest(c, v)((_, hi) => hi.signum >= 0,
            (_, hi) => hi >= 0, (_, hi) => hi >= 0)
            .map(t => bound(c, t))
        case sources.LessThan(c, v) if v != null =>
          boundTest(c, v)((lo, _) => lo.signum < 0,
            (lo, _) => lo < 0, (lo, _) => lo < 0)
            .map(t => bound(c, t))
        case sources.LessThanOrEqual(c, v) if v != null =>
          boundTest(c, v)((lo, _) => lo.signum <= 0,
            (lo, _) => lo <= 0, (lo, _) => lo <= 0)
            .map(t => bound(c, t))
        case sources.In(c, vs) if vs != null && vs.nonEmpty &&
            vs.forall(_ != null) =>
          val perValue = vs.toSeq.map(v =>
            boundTest(c, v)((lo, hi) => lo.signum <= 0 && hi.signum >= 0,
              (lo, hi) => lo <= 0 && hi >= 0,
              (lo, hi) => lo <= 0 && hi >= 0))
          if (perValue.exists(_.isEmpty)) None
          // envelope note: keep(synth) asks "does SOME list value fall
          // inside [max-of-mins, min-of-maxes]?" — such a value is
          // admitted by every row, so none is prunable (conservative:
          // rows could also all keep via different values)
          else Some(bound(c, (s: CS) => perValue.flatten.exists(t => t(s))))
        case _ => None
      }
    // timestamp ranges captured at the catalyst grain (see
    // tsRangePreds) — gated on the column really being ts-typed so a
    // coincidental name can never borrow the micros domain, and NTZ
    // additionally on the family's raw-micros certification
    val tsTests: Seq[(String, CS => Boolean, CE => Boolean)] =
      tsRangePreds.toSeq.collect {
        case (c, ok) if typeOf.get(c).exists(t => t == TimestampType ||
            (t == TimestampNTZType && ntzExact)) =>
          bound(c, (s: CS) => (for (lo <- s.minus; hi <- s.maxus)
            yield ok(lo, hi)).getOrElse(true))
      }
    // catalyst-grain IS [NOT] NULL for the timestamp flavors (their
    // filters never push to parquet); other types ride the
    // sources.Filter arms above, so gate on the ts types to avoid
    // double-testing. Null counts are exact whatever the capture
    // zone was, so no ntzExact gate here.
    val tsNullTests: Seq[(String, CS => Boolean, CE => Boolean)] =
      tsNullPreds.toSeq.collect {
        case (c, isNull) if typeOf.get(c).exists(t =>
            t == TimestampType || t == TimestampNTZType) =>
          if (isNull) (c, (s: CS) => s.nulls > 0,
            (e: CE) => e.minNulls == 0L)
          else (c, (s: CS) => s.nulls < s.rows,
            (e: CE) => e.anyFullNull)
      }
    val allTests = tests ++ tsTests ++ tsNullTests
    if (allTests.isEmpty) return files
    // STREAM part-by-part through the envelope consult: a part opens
    // only when some entry's column has a test that could prune AND
    // its file range holds a candidate. Skipping a part only ever
    // KEEPS its files — missed rows cannot prune — so every envelope
    // decision is sound by construction. A file prunes the moment any
    // seen row fails any test on its column (the forall over present
    // sketches, evaluated row-locally).
    val pruned = scala.collection.mutable.HashSet.empty[String]
    val testCols = allTests.map(_._1).toSet
    foreachCandidateRow(files, testCols,
      e => allTests.exists(t => t._1 == e.col && t._3(e))) { s =>
      if (!pruned.contains(s.file) &&
          allTests.exists(t => t._1 == s.col && !t._2(s)))
        pruned += s.file
    }
    if (pruned.isEmpty) files else files.filterNot(pruned)
  }
}

/** Batch scan of a journal store that carries DELETION VECTORS, for
  * sessions WITHOUT the graft extensions: a parquet file scan cannot
  * subtract rows by (file, position) at the Scan layer, so this scan
  * takes Spark's official V1 escape hatch ([[V1Scan]], the same bridge
  * JDBC V2 uses) and serves the rows from the store's DV-aware scan
  * surface — the broadcast anti-join readSegmentsOver plans. Sessions
  * WITH the extensions never reach this class for batch reads:
  * [[JournalDvReadRule]] rewrites the relation at analysis time into
  * the same DV-subtracted plan ABOVE the columnar scan, keeping
  * whole-stage codegen and parquet pushdown (the 100 TB path).
  * Consumed partition filters are re-applied here (pushdown removed
  * them from the plan for exact pruning the V1 relation never did);
  * data filters are always re-evaluated above the scan by Spark. The
  * relation's schema is DECLARED as readSchema() — the strategy
  * requires strict equality — and the DataFrame is projected to it by
  * name. Streaming is served normally: [[JournalMicroBatchStream]]
  * subtracts each batch's visible vectors inside its readers. */
private[sources] class JournalDvScan(base: ParquetScan,
                                     tableSchema: StructType,
                                     storePath: String,
                                     dvDf: () => DataFrame,
                                     partFilters: Seq[Expression],
                                     maxSeqsPerTrigger: Option[Long] = None,
                                     startingSeq: Option[String] = None)
    extends ParquetScan(base.sparkSession, base.hadoopConf, base.fileIndex,
      base.dataSchema, base.readDataSchema, base.readPartitionSchema,
      base.pushedFilters, base.options, base.pushedAggregate,
      base.partitionFilters, base.dataFilters)
    with org.apache.spark.sql.connector.read.V1Scan {

  override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
      with org.apache.spark.sql.sources.TableScan](
      context: SQLContext): T = {
    val want = readSchema()
    val reapplied = partFilters.map(_.transform {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(a.name)
    })
    val df = reapplied
      .foldLeft(dvDf()) { (d, e) =>
        d.where(org.apache.spark.sql.graft.StreamBatchBridge.columnOf(e))
      }
      .select(want.fieldNames.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*)
    new org.apache.spark.sql.sources.BaseRelation
        with org.apache.spark.sql.sources.TableScan {
      override val sqlContext: SQLContext = context
      override val schema: StructType = want
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        df.rdd
    }.asInstanceOf[T]
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new JournalMicroBatchStream(base.sparkSession, storePath, tableSchema,
      maxSeqsPerTrigger, startingSeq)
}

/** The journal's V2 `Scan`: a stock `ParquetScan` (columnar batches,
  * pruning, stats — batch reads inherit everything verbatim) that ALSO
  * answers `toMicroBatchStream`, so the same table serves `readStream`
  * by tailing the live store by seq offset. Subclass rather than
  * wrapper because `ParquetScanBuilder.build()` narrows its return
  * type to `ParquetScan`.
  *
  * ALSO implements [[SupportsRuntimeV2Filtering]] — which stock
  * `ParquetScan` does not — so a join against a journal table prunes
  * SEGMENT FILES at runtime from the build side's values (DPP for the
  * epoch/ns partition directories, manifest per-file key stats for
  * `ukey`). A `journal ⋈ small-dim` point-lookup join on a 100 TB log
  * then opens only the files whose key ranges intersect the dim's
  * keys, instead of every live segment. Exact-or-conservative like
  * every other stats path: files without stats (or with unparseable
  * directory values) are always kept, and the join's own row predicate
  * still applies — runtime pruning is IO-only, never load-bearing. */
private[sources] class JournalParquetScan(base: ParquetScan,
                                          tableSchema: StructType,
                                          storePath: String,
                                          maxSeqsPerTrigger: Option[Long],
                                          relFiles: Seq[String] = Nil,
                                          fstats: Map[String, JournalStore.FileStat] = Map.empty,
                                          segDir: String = "",
                                          startingSeq: Option[String] = None,
                                          private val nsGrouped: Boolean = false,
                                          statsMeta: Map[String, String] = Map.empty,
                                          filteredEstimate: Option[JournalV2.FilteredScanStats] = None)
    extends ParquetScan(base.sparkSession, base.hadoopConf, base.fileIndex,
      base.dataSchema, base.readDataSchema, base.readPartitionSchema,
      base.pushedFilters, base.options, base.pushedAggregate,
      base.partitionFilters, base.dataFilters)
    with SupportsRuntimeV2Filtering with SupportsReportPartitioning {
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new JournalMicroBatchStream(base.sparkSession, storePath, tableSchema,
      maxSeqsPerTrigger, startingSeq)

  /** Whether this scan actually serves ns-keyed grouping: the reader
    * asked for it (`nsGrouped=true`) AND ns survived column pruning —
    * the partitioning expression must resolve against the scan output,
    * and the per-file partition values must carry the ns to key on. */
  private def nsKeyed: Boolean =
    nsGrouped && readPartitionSchema.fieldNames.contains("ns")

  /** STORAGE-PARTITIONED EXECUTION (the Iceberg/Delta SPJ idiom): the
    * store lays segments out as `epoch=K/ns=X` directories — every file
    * is single-namespace by construction — so an opted-in scan
    * (`nsGrouped=true` reader option) reports
    * `KeyGroupedPartitioning(identity(ns))` and plans every input
    * partition with its ns as a [[HasPartitionKey]] key. With
    * `spark.sql.sources.v2.bucketing.enabled=true`, Catalyst then
    * elides the shuffle under ns-clustered operators entirely: state
    * reconstruction (`groupBy(ns, ukey)` arg-max — the single hottest
    * journal op) aggregates inside the scan stage; an equi-join of two
    * journal stores ON ns runs as a storage-partitioned join with zero
    * exchanges; and with `…bucketing.shuffle.enabled` a journal ⋈
    * plain-table join on ns shuffles ONLY the plain side into the
    * log's grouping. At 100 TB that is the difference between
    * shuffling the whole log and shuffling nothing. (Joins whose keys
    * are a STRICT SUPERSET of (ns) — e.g. on (ns, ukey) — still
    * shuffle: Spark's co-partitioning check requires partition keys to
    * cover the join keys. Aggregations have no such limit.)
    * Opt-in because the grouped plan's parallelism is bounded by
    * namespace cardinality — right when |ns| ≳ cluster cores, wrong for
    * a two-namespace store (stock path keeps split-level parallelism).
    * With the bucketing conf off, Spark ignores the report and plans
    * exchanges as usual — the option is then harmless. */
  override def outputPartitioning(): V2Partitioning =
    if (nsKeyed)
      new V2KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .identity("ns")),
        distinctNsCount)
    else new V2UnknownPartitioning(0)

  /** Distinct namespaces among the scanned files, from the directory
    * names (best-effort: Spark recomputes the physical partitioning
    * from the planned partitions' keys — this count is advisory). */
  private def distinctNsCount: Int =
    math.max(1, relFiles.flatMap(SegmentFiles.parse(_).nsDir).distinct.size)

  /** Only columns that SURVIVED column pruning may be declared:
    * PartitionPruning resolves these against the scan relation's
    * (pruned) output and throws on any miss — a static list would
    * break every query that projects ukey/epoch/ns away. */
  override def filterAttributes(): Array[NamedReference] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val avail = readSchema().fieldNames.toSet
    Seq("ukey", "epoch", "ns").filter(avail.contains)
      .map(Expressions.column).toArray
  }

  /** EXACT row count from the manifest's per-file stats (stock
    * ParquetScan reports only sizeInBytes): the optimizer's broadcast
    * and AQE decisions for journal joins then run on real cardinality,
    * not a bytes-based guess. Only when every scanned file carries
    * stats AND no data filter was pushed (a pushed filter makes the
    * scan's output rows < file rows — overstating them is how a
    * too-big build side gets broadcast); falls back to the parquet
    * estimate otherwise. */
  override def estimateStatistics(): Statistics = {
    val base0 = super.estimateStatistics()
    val filtered = pushedFilters.nonEmpty || dataFilters.nonEmpty
    if (relFiles.nonEmpty && relFiles.forall(fstats.contains) && !filtered) {
      val rows = relFiles.map(fstats(_).rows).sum
      // ANALYZE-recorded column stats (ndv / null count / long min-max)
      // ride the same report — DataSourceV2Relation.transformV2Stats
      // turns them into catalyst attributeStats, so CBO join estimation
      // runs on real cardinality. Exact-or-decline: served only while
      // the recorded row count still matches the live exact count
      // (an append/delete since analyze() silently drops them).
      val colStats = JournalV2.columnStatsFor(statsMeta, rows, readSchema())
      new Statistics {
        override def sizeInBytes(): java.util.OptionalLong = base0.sizeInBytes()
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.of(rows)
        override def columnStats(): java.util.Map[NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
          colStats
      }
    } else if (filtered && filteredEstimate.isDefined) {
      // PUSHED-FILTER cardinality (round 18): the scan used to decline
      // to the bytes estimate the moment any filter was pushed —
      // overstating a selectively-filtered journal side by orders of
      // magnitude and costing the broadcast that AQE would have
      // planned. The builder's per-file sketch estimate (bounds
      // overlap + per-file ndv + exact null fractions over the
      // POST-PRUNE file set) reports both the row estimate and a
      // proportionally-scaled byte size; the per-query hash gates
      // never consume either — planner-advisory only, and the pruned
      // floor is already sound. Round 19: FILTERED column stats ride
      // the same report — the predicate columns' ndv bounded by the
      // union of kept files' HLL registers, extrema clipped by the
      // predicate, null count settled by null-rejection — so CBO's
      // join estimation above a filtered journal scan runs on stats
      // that describe the FILTERED surface instead of declining
      // (exact-or-decline per column: absent from the map = decline).
      val fs = filteredEstimate.get
      val (est, upper) = (fs.est, fs.upper)
      new Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          if (!base0.sizeInBytes().isPresent || upper <= 0L)
            base0.sizeInBytes()
          else java.util.OptionalLong.of(math.max(1L,
            (BigDecimal(base0.sizeInBytes().getAsLong) * est / upper)
              .toLong))
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.of(est)
        override def columnStats(): java.util.Map[NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
          fs.colStats
      }
    } else base0
  }

  /** Runtime-pruned file index; None until filter() finds a predicate
    * that actually drops files. Driver-side mutable state, set by
    * `BatchScanExec.filteredPartitions` BEFORE partitions are planned. */
  @transient private var runtimeIndex: Option[PartitioningAwareFileIndex] = None

  /** (column, values) from an IN / = runtime predicate over a single
    * top-level column with all-literal operands; None otherwise. */
  private def inValues(p: Predicate): Option[(String, Seq[Any])] = {
    val kids = p.children()
    if ((p.name() != "IN" && p.name() != "=") || kids.isEmpty) return None
    kids(0) match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        val vals = kids.drop(1).toSeq.map {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value
          case _ => return None
        }
        if (vals.isEmpty) None else Some((r.fieldNames()(0), vals))
      case _ => None
    }
  }

  override def filter(predicates: Array[Predicate]): Unit = {
    // ns-keyed scans decline runtime file pruning: dropping files after
    // the partitioning was reported could erase a partition VALUE the
    // planner already grouped on (runtime pruning is IO-only by
    // contract, so declining costs correctness nothing — and an
    // ns-grouped plan usually elided the very join DPP would serve)
    if (relFiles.isEmpty || nsKeyed) return
    def longs(vs: Seq[Any]): Set[Long] = vs.collect {
      case l: java.lang.Long => l.longValue
      case i: java.lang.Integer => i.longValue
      case s: java.lang.Short => s.longValue
    }.toSet
    import SegmentFiles.{KeyGroup, Keys, Probe}
    // each IN narrows the file list through the store's own pruning
    // routine (directory values trusted only when they round-trip
    // literally; files without stats kept)
    var files = relFiles
    predicates.flatMap(inValues).foreach {
      case ("ukey", vs) =>
        val ks = longs(vs)
        if (ks.size == vs.size) // decline on non-integral/null values
          files = SegmentFiles.prune(files, fstats.get,
            Probe(keys = Some(Seq(KeyGroup(None, Keys.Points(ks))))))
      case ("epoch", vs) =>
        val es = longs(vs)
        if (es.size == vs.size)
          files = SegmentFiles.prune(files, fstats.get, Probe(epochIn = Some(es)))
      case ("ns", vs) =>
        files = SegmentFiles.prune(files, fstats.get, Probe(keys = Some(
          vs.map(_.toString).distinct.map(n => KeyGroup(Some(n), Keys.All)))))
      case _ => ()
    }
    if (files.size < relFiles.size)
      runtimeIndex = Some(
        JournalV2.fileIndex(sparkSession, segDir, files, tableSchema))
  }

  /** Partitions come from the runtime-pruned index when one is set — a
    * twin scan over the pruned index (stock ParquetScan `copy` keeps
    * every other planning input identical) plans them, so runtime
    * filtering changes WHICH files are listed, never how rows are
    * read. `BatchScanExec.filteredPartitions` calls filter() first,
    * then re-plans through this method. */
  override def planInputPartitions(): Array[InputPartition] = {
    val stock = runtimeIndex match {
      case Some(idx) =>
        new JournalParquetScan(base.copy(fileIndex = idx), tableSchema,
          storePath, maxSeqsPerTrigger).planInputPartitions()
      case None => super.planInputPartitions()
    }
    if (!nsKeyed) stock
    else {
      // ns-keyed planning: split every stock partition at namespace
      // boundaries so each carries files of exactly ONE ns, keyed for
      // Spark's partition grouping (HasPartitionKey). The split keeps
      // the stock size-based packing WITHIN a namespace — Spark merges
      // same-key splits per task group when it groups, and keeps them
      // apart for partially-clustered skew handling in SPJ joins. The
      // key is read from the file's decoded partition VALUES (never
      // parsed from the path, so escaped directory names stay exact).
      val nsIdx = readPartitionSchema.fieldIndex("ns")
      var i = -1
      stock.flatMap {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.groupBy { f =>
            val u = f.partitionValues.getUTF8String(nsIdx)
            if (u == null) "" else u.toString
          }.toSeq.sortBy(_._1).map { case (ns, files) =>
            i += 1
            new NsFilePartition(i, files, ns)
          }
        case other => Seq(other)
      }
    }
  }

  override def equals(obj: Any): Boolean = obj match {
    // nsGrouped changes the planned partitions and the reported
    // partitioning — scan/exchange reuse must never alias a grouped
    // scan with an ungrouped read of the same store
    case j: JournalParquetScan => super.equals(j) && nsGrouped == j.nsGrouped
    case _ => false
  }
  override def hashCode(): Int =
    31 * super.hashCode() + nsGrouped.hashCode()
}

/** A single-namespace slice of a stock [[org.apache.spark.sql.execution
  * .datasources.FilePartition]] carrying its ns as the partition key —
  * the unit Spark's v2-bucketing machinery groups/aligns for shuffle
  * elision. Key layout matches the reported
  * `KeyGroupedPartitioning(identity(ns))`: one UTF8String column. */
private[sources] class NsFilePartition(
    index0: Int,
    files0: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    ns: String)
  extends org.apache.spark.sql.execution.datasources.FilePartition(
    index0, files0) with HasPartitionKey {
  private val key = new org.apache.spark.sql.catalyst.expressions
    .GenericInternalRow(Array[Any](
      org.apache.spark.unsafe.types.UTF8String.fromString(ns)))
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}

/** The manifest-answered aggregate scan: one input partition producing
  * ONE driver-computed row — `count(*)`/`min`/`max` straight from the
  * manifest's per-file stats, zero data files opened. Subclasses
  * `ParquetScan` only because `ParquetScanBuilder.build()` narrows its
  * return type; every read-path method is overridden. Equality includes
  * the aggregate surface so plan/scan reuse can never alias two
  * different aggregates over the same file set. */
private[sources] class ManifestAggScan(base: ParquetScan,
                                       aggSchema: StructType,
                                       values: Array[Array[Any]],
                                       storePath: String)
    extends ParquetScan(base.sparkSession, base.hadoopConf, base.fileIndex,
      base.dataSchema, base.readDataSchema, base.readPartitionSchema,
      base.pushedFilters, base.options, base.pushedAggregate,
      base.partitionFilters, base.dataFilters) {
  override def readSchema(): StructType = aggSchema
  override def planInputPartitions(): Array[InputPartition] =
    Array(ManifestAggPartition)
  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestAggReaderFactory(values)
  // one driver-built partition serving |groups| rows (1 for the global
  // form) — the whole aggregate is a manifest parse either way
  override def description(): String =
    s"ManifestAggScan[$storePath, ${aggSchema.fieldNames.mkString(", ")}]"
  override def equals(obj: Any): Boolean = obj match {
    case o: ManifestAggScan =>
      super.equals(o) && aggSchema == o.readSchema() &&
        values.map(_.toSeq).toSeq == o.rowValues
    case _ => false
  }
  override def hashCode(): Int =
    31 * super.hashCode() + aggSchema.hashCode()
  private[sources] def rowValues: Seq[Seq[Any]] = values.map(_.toSeq).toSeq
}

private[sources] case object ManifestAggPartition extends InputPartition

private[sources] class ManifestAggReaderFactory(values: Array[Array[Any]])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < values.length }
      override def get(): org.apache.spark.sql.catalyst.InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values(i))
      override def close(): Unit = ()
    }
}

/** Batch+streaming scan of a store with no committed files: zero input
  * partitions under the full table schema (the empty frame a catalog
  * SELECT from a freshly-created table must produce), and the same live
  * MicroBatchStream every other scan yields (the stream tails commits
  * as they land — the empty snapshot only describes NOW). */
private[sources] class EmptyJournalScan(
    spark: SparkSession, tableSchema: StructType, storePath: String,
    maxSeqsPerTrigger: Option[Long],
    startingSeq: Option[String] = None) extends Scan with Batch {
  override def readSchema(): StructType = tableSchema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] =
    Array.empty
  override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory =
    EmptyJournalReaderFactory
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new JournalMicroBatchStream(spark, storePath, tableSchema,
      maxSeqsPerTrigger, startingSeq)
  override def description(): String = s"EmptyJournalScan[$storePath]"
}

/** Streaming-only Scan for the change-feed surface: `toBatch` inherits
  * Scan's refusal (batch CDC is `JournalStore.changes`), and the
  * micro-batch stream is [[JournalChangeFeedStream]]. */
/** Batch change-feed scan: ONE net diff `(fromVersion, toVersion]`
  * served from [[graft.journal.JournalStore.changes]] — seq-pruned
  * insert scan + window-dv delete tier on the cheap path, exact
  * snapshot set-difference when maintenance crossed the window; both
  * versions must still be retained. The diff is a driver-composed
  * multi-scan DataFrame (not a file list), so it rides the same
  * [[org.apache.spark.sql.connector.read.V1Scan]] bridge as
  * [[JournalDvScan]]. Streaming through a version-pinned window is
  * refused — tail with the live feed (no fromVersion) instead. */
private[sources] class ChangeFeedBatchScan(
    spark: SparkSession, cdcSchema: StructType, storePath: String,
    fromVersion: Long, toVersion: Option[Long]) extends Scan
    with org.apache.spark.sql.connector.read.V1Scan {
  override def readSchema(): StructType = cdcSchema
  override def description(): String =
    s"ChangeFeedBatchScan[$storePath, ($fromVersion, " +
      s"${toVersion.map(_.toString).getOrElse("current")}]]"

  override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
      with org.apache.spark.sql.sources.TableScan](
      context: SQLContext): T = {
    require(JournalStore.exists(storePath),
      s"no journal store at $storePath — a batch change window needs " +
        "an existing store (both versions must be retained)")
    val st = JournalStore.open(spark, storePath)
    val hi = toVersion.getOrElse(st.manifest.version)
    val df = st.changes(fromVersion, hi)
      .select(cdcSchema.fieldNames
        .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    new org.apache.spark.sql.sources.BaseRelation
        with org.apache.spark.sql.sources.TableScan {
      override val sqlContext: SQLContext = context
      override val schema: StructType = cdcSchema
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        df.rdd
    }.asInstanceOf[T]
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    throw new UnsupportedOperationException(
      "fromVersion/toVersion pin a BATCH change window; a streaming " +
        "feed tails the live store — drop the version options (and use " +
        "startingSeq/startMode to govern the first batch)")
}

private[sources] class ChangeFeedScan(
    spark: SparkSession, cdcSchema: StructType, storePath: String,
    maxSeqsPerTrigger: Option[Long],
    startingSeq: Option[String] = None,
    startMode: Option[String] = None) extends Scan {
  override def readSchema(): StructType = cdcSchema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new JournalChangeFeedStream(spark, storePath, cdcSchema,
      maxSeqsPerTrigger, startingSeq, startMode)
  override def description(): String = s"ChangeFeedScan[$storePath]"
}

/** Never invoked (the empty scan plans zero partitions) but the factory
  * handle must exist and serialize. */
private[sources] object EmptyJournalReaderFactory
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(p: org.apache.spark.sql.connector.read.InputPartition) =
    throw new IllegalStateException("empty journal scan has no partitions")
}

/** Capability-less table: returned whenever the V2 table does not apply
  * (state-mode options — asOfSeq/asOfTs/ns). Spark sees no capability
  * and falls back to the V1 relation path on the same provider class. */
private[sources] class JournalStubTable(s: StructType, path: String) extends Table {
  override def name(): String = s"journal:$path"
  override def schema(): StructType = s
  override def capabilities(): util.Set[TableCapability] =
    util.Collections.emptySet()
}
