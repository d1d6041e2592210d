package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SQLContext}
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.StreamBatchBridge
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.journal.JournalStore

/** `spark.read.format("journal")` — the journal store as a first-class
  * Spark data source, so a reference user's "open the log and query it"
  * entry point exists without touching the `JournalStore` API:
  *
  *   spark.read.format("journal").load("/path/to/store")          // scan
  *   spark.read.format("journal").option("asOfSeq", 5000).load(p) // state
  *   spark.read.format("journal").option("asOfTs", t).load(p)     // ″ by ts
  *   spark.read.format("journal").option("asOfVersion", 7).load(p) // ″ by manifest version
  *
  * API split, each path on the machinery that plans it best:
  *
  *  - SCAN-mode batch reads and ALL streaming reads are DataSource V2
  *    (JournalV2.scala / JournalStream.scala): columnar parquet
  *    BatchScan with epoch/file pruning; a true MicroBatchStream with
  *    admission control for `readStream`.
  *  - STATE-mode reads (asOfSeq/asOfTs) are computed plans (checkpoint
  *    + bounded tail replay + arg-max combine), not file scans — they
  *    stay on the V1 relation below, which already yields ordinary
  *    vectorized DataFrames. Pushed ns/ukey equality is applied UNDER
  *    the combine, to the checkpoint and the tail alike (exact: both
  *    are grouping keys), and the tail is planned over the file list
  *    the manifest prunes — tail epochs, ns directory, key range and
  *    bloom — so a point read neither lists the store nor shuffles its
  *    full state.
  *  - Catalog writes (INSERT INTO journal.t, saveAsTable) ride the V2
  *    commit framework via the table's V1Write (JournalV2.scala).
  *  - Path-based `df.write.format("journal").save(p)` keeps the V1
  *    CreatableRelationProvider: it is the only writer API that can
  *    honor ErrorIfExists/Ignore semantics (V2 save() rejects them).
  *  - The PATH-based STREAMING sink stays a V1 `Sink` deliberately: an
  *    exactly-once journal append is a whole-batch operation — one
  *    deterministic global seq sort, one manifest-CAS commit carrying
  *    the batch id — which the per-task StreamingWrite contract cannot
  *    express without staging every row twice (the same reason Delta
  *    Lake's OSS connector ships a V1 streaming sink). CATALOG tables
  *    additionally advertise STREAMING_WRITE so `writeStream.toTable`
  *    works — that path accepts the staged copy as the price of the V2
  *    contract (see [[JournalStreamingWrite]]).
  *
  * Batch write: `Append` opens-or-creates (option `epochSize` sizes a
  * new store) and delegates to `JournalStore.append` — seq assignment,
  * epoch/ns layout, manifest swap, auto-checkpoint all apply unchanged.
  * A journal is an append-only log, so `Overwrite` is rejected rather
  * than silently truncating history.
  *
  * Streaming sink: each micro-batch appends with its batch id riding the
  * manifest swap ([[JournalStore.append(df:org\.apache\.spark\.sql\.DataFrame,streamBatchId:Option[Long])*]]);
  * after a crash, Spark replays the last uncommitted batch and the store
  * skips ids at or below its high-water mark — exactly-once ingest with
  * no dedup pass. Append and Update modes are both meaningful: the
  * journal keys state by (ns, ukey), so an update-mode stream lands each
  * revision as a new journal version, exactly the log's semantics. */
class JournalSource extends RelationProvider with CreatableRelationProvider
    with StreamSinkProvider with DataSourceRegister with TableProvider {
  override def shortName(): String = "journal"

  /** Schema used by the capability-less stub (state mode / missing
    * path): the log's canonical row surface. */
  private val streamSchema = StructType.fromDDL(
    "seq BIGINT, ns STRING, ukey BIGINT, ts TIMESTAMP, " +
      "payload STRING, val DOUBLE")

  // Spark resolves a V2 table by calling inferSchema(options) then
  // getTable(schema, ..., properties) with the SAME options on the SAME
  // provider instance (one instance per resolution). Building the table
  // twice would open the store and read the manifest twice — and worse,
  // the two snapshots could straddle a concurrent commit, giving
  // getTable a different manifest than the schema came from. Cache the
  // one table per options-rendering.
  @volatile private var cachedTable: (String, Option[JournalTable]) = null
  private def tableCached(options: CaseInsensitiveStringMap): Option[JournalTable] = {
    import scala.jdk.CollectionConverters._
    val key = options.asCaseSensitiveMap.asScala.toSeq.sorted.mkString("&")
    val c = cachedTable
    if (c != null && c._1 == key) c._2
    else {
      val t = JournalV2.tableFor(options)
      cachedTable = (key, t)
      t
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    tableCached(options).map(_.schema()).getOrElse(streamSchema)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    tableCached(opts).getOrElse(
      new JournalStubTable(schema, Option(opts.get("path")).getOrElse("<none>")))
  }

  private def openOrCreate(spark: org.apache.spark.sql.SparkSession,
                           path: String,
                           parameters: Map[String, String]): JournalStore = {
    val s =
      if (JournalStore.exists(path)) JournalStore.open(spark, path)
      else JournalStore.create(spark, path,
        parameters.get("epochSize").map(_.toLong).getOrElse(1000L))
    // autoCompactFiles=N: every (epoch, ns) directory exceeding N live
    // files after a commit is compacted in-line (0 disables). Defaulted
    // ON for the STREAMING sink only (createSink passes a default) —
    // batch appends are few and large and shouldn't pay rewrites.
    parameters.get("compression").foreach(s.withCompression)
    // autoMaintainBatches=N: run the declared-retention sweep
    // (maintain()) after every N-th micro-batch — opt-in, so only
    // writers that ASK pay the cadence (a policy-less store pays a
    // meta lookup; an expired-less sweep prunes to metadata).
    parameters.get("autoMaintainBatches").map(_.toInt).foreach(s.withAutoMaintain)
    parameters.get("autoCompactFiles").map(_.toInt).fold(s)(s.withAutoCompact)
  }

  /** `df.write.format("journal")` — batch append. */
  override def createRelation(ctx: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("journal sink requires a path"))
    val exists = JournalStore.exists(path)
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalArgumentException(s"journal store already exists at $path")
      case SaveMode.Ignore if exists => () // no-op by contract
      case SaveMode.Overwrite =>
        throw new UnsupportedOperationException(
          "journal is an append-only log; Overwrite would truncate history " +
            "(use mode(\"append\"), or compact()/vacuum() for space)")
      case _ =>
        val store = openOrCreate(ctx.sparkSession, path, parameters)
        // txnAppId + txnVersion (Delta's idempotent-write options): a
        // retried batch job whose commit already landed is a no-op —
        // same per-writer marks the streaming sink deduplicates with
        JournalV2.txnOf(parameters.get) match {
          case Some((appId, ver)) => store.append(data, Some(ver), appId)
          case None => store.append(data)
        }
    }
    createRelation(ctx, parameters) // readable relation over what landed
  }

  /** `df.writeStream.format("journal")` — exactly-once micro-batch sink
    * (V1 by design — see the class doc). */
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("journal sink requires a path"))
    // the streaming sink writes one file per (epoch, ns) per micro-batch
    // — auto-compaction defaults ON here (threshold 16) so a long-running
    // stream can't fragment the segment tree; option("autoCompactFiles",
    // "0") opts out, any other value overrides the threshold
    val sinkParams =
      if (parameters.contains("autoCompactFiles")) parameters
      else parameters + ("autoCompactFiles" -> "16")
    // Per-sink exactly-once identity: batch ids restart at 0 for every
    // query, so two sinks sharing one store must deduplicate against
    // their OWN high-water mark — keyed by the query's checkpoint
    // location (its durable identity across restarts), or an explicit
    // writerId option. Absent both (checkpoint-less test queries), the
    // legacy anonymous mark preserves single-sink behavior.
    val writerId = parameters.getOrElse("writerId",
      parameters.getOrElse("checkpointLocation", ""))
    new Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        // re-root the micro-batch plan as a batch DF (the incremental
        // plan only executes inside the stream) — see StreamBatchBridge
        val batch = StreamBatchBridge.asBatchDF(data)
        openOrCreate(data.sparkSession, path, sinkParams)
          .append(batch, Some(batchId), writerId)
      }
      override def toString: String = s"JournalSink[$path]"
    }
  }

  override def createRelation(ctx: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("journal source requires a path"))
    // asOfVersion pins the read to a retained MANIFEST version (metadata
    // time travel — the pre-compaction file set), orthogonal to
    // asOfSeq/asOfTs which time-travel the DATA under one manifest
    val store0 = JournalStore.open(ctx.sparkSession, path)
    val store = parameters.get("asOfVersion").map(_.toLong)
      .fold(store0)(store0.openAt)
    val asOfSeq = parameters.get("asOfSeq").map(_.toLong)
    // asOfTs accepts ISO-8601 'T' or the JDBC space-separated form
    val asOfTs = parameters.get("asOfTs")
      .map(t => java.sql.Timestamp.valueOf(t.replace('T', ' ')))
    val ns = parameters.get("ns")
    val epochSize = store.epochSize
    val isScan = asOfSeq.isEmpty && asOfTs.isEmpty

    // the ns option filters BOTH modes (in state mode a pushed ns that
    // disagrees with it must still come back empty)
    def nsOpt(d: DataFrame): DataFrame = ns.fold(d)(n => d.where(col("ns") === n))
    // State mode (point-in-time read) plans in buildScan, so pushed
    // ns/ukey equality lands UNDER the arg-max combine and prunes the
    // tail's file list; the schema and every plan come from ONE
    // manifest snapshot.
    lazy val snapshot = store.manifest
    def state(nsEq: Option[String], keyEq: Option[Long]): DataFrame =
      nsOpt(asOfSeq match {
        case Some(s) => store.stateAtIn(snapshot, s, nsEq, keyEq)
        case None => store.stateAtTsIn(snapshot, asOfTs.get, nsEq, keyEq)
      })
    lazy val scanBase = nsOpt(store.scanUnordered())

    new BaseRelation with PrunedFilteredScan {
      override val sqlContext: SQLContext = ctx
      override val schema: StructType =
        if (isScan) scanBase.schema
        else store.stateSurface(snapshot).getOrElse(state(None, None).schema)

      override def buildScan(requiredColumns: Array[String],
                             filters: Array[Filter]): RDD[Row] = {
        val keyEq = filters.collectFirst { case EqualTo("ukey", v: Long) => v }
        val nsEq = filters.collectFirst {
          case EqualTo("ns", v: String) => v }.orElse(ns)
        var d =
          if (!isScan) state(nsEq, keyEq)
          // a pushed `ukey =` (scan mode) rebuilds the base over the
          // manifest's key-stat-pruned file list — file-level data
          // skipping the partition directories can't express; the row
          // filters below still apply, so pruning is IO-only
          else if (keyEq.isDefined) {
            val pruned = store.scanUnorderedPruned(nsEq, keyEq)
            nsEq.fold(pruned)(n => pruned.where(col("ns") === n))
          } else scanBase
        if (isScan) filters.foreach {
          // seq bounds → epoch partition-dir bounds (the IO pruner) +
          // the row-level bound itself
          case GreaterThan("seq", v: Long) =>
            d = d.where(col("epoch") >= v / epochSize && col("seq") > v)
          case GreaterThanOrEqual("seq", v: Long) =>
            d = d.where(col("epoch") >= v / epochSize && col("seq") >= v)
          case LessThan("seq", v: Long) =>
            d = d.where(col("epoch") <= v / epochSize && col("seq") < v)
          case LessThanOrEqual("seq", v: Long) =>
            d = d.where(col("epoch") <= v / epochSize && col("seq") <= v)
          case EqualTo("seq", v: Long) =>
            d = d.where(col("epoch") === v / epochSize && col("seq") === v)
          case EqualTo("ns", v: String) => d = d.where(col("ns") === v)
          case EqualTo("ukey", v: Long) => d = d.where(col("ukey") === v)
          case _ => () // unsupported filters: Spark re-applies them anyway
        }
        val cols = if (requiredColumns.isEmpty) Array(schema.fieldNames.head)
                   else requiredColumns
        d.select(cols.map(col).toIndexedSeq: _*).rdd
      }
    }
  }
}
