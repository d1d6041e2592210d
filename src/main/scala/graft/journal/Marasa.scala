package graft.journal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Compatibility facade mirroring the reference's API shape (SURVEY §0.1:
  * `write(ns, delta) -> seqno`, `read(ns, seq) -> state`, `history`) on
  * top of the distributed store. marasa assigns ONE seqno per write call
  * — the whole delta dict shares it — and state at a seqno is the fold of
  * all deltas ≤ seq; both semantics are preserved here (rows of one write
  * share a seq; stateAt's arg-max groups per key, so the shared seq is
  * harmless).
  *
  * TWO access tiers, choose by state size:
  *
  *  - `readDF`/`historyDF`/`namespacesDF` return DataFrames — the
  *    distributed plans, safe at any scale. Use these for analytics.
  *  - `read`/`history`/`namespaces` collect to driver-side Scala
  *    collections, mirroring the reference's embedded dict API (its
  *    actual use case: small KV state). They are BOUNDED-USE: each
  *    throws past [[Marasa.MaxCollectedRows]] rows instead of silently
  *    OOMing the driver on a namespace that grew analytics-sized —
  *    the error names the DataFrame variant to switch to.
  */
class Marasa(val store: JournalStore) {
  private val spark: SparkSession = store.spark
  import spark.implicits._

  /** Append one delta record: every (key → value) pair shares one new
    * seqno, like the reference. Returns that seqno. */
  def write(ns: String, delta: Map[String, String],
            ts: java.sql.Timestamp = new java.sql.Timestamp(0L)): Long = {
    val seq = store.manifest.maxSeq + 1
    val rows = delta.toSeq.map { case (k, v) => (seq, ns, k, ts, v, 0.0) }
    store.append(rows.toDF("seq", "ns", "skey", "ts", "payload", "val")
      // the store keys are longs in the analytics schema; the facade keys
      // are strings — stored in ukey via a stable bijection-free side
      // column is wrong, so keep string keys in their own column and map
      // ukey to the key's hash only for partitioning-compatible layout
      .withColumn("ukey", xxhash64(col("skey")))
      .select("seq", "ns", "ukey", "skey", "ts", "payload", "val"))
    seq
  }

  /** State as of `seq` (None = latest) as a DataFrame (skey, payload) —
    * the distributed plan, safe at any namespace size. Planned over the
    * manifest-pruned file list (ns directory, epoch <= bound/epochSize)
    * of one manifest snapshot; does not use checkpoints (they carry the
    * analytics schema, not the facade's string keys). */
  def readDF(ns: String, seq: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val m = store.manifest
    val bound = seq.getOrElse(m.maxSeq)
    val lastEpoch = bound / store.epochSize
    store.segmentsFor(m, Some(ns), None, (Long.MinValue, lastEpoch))
      .where(col("ns") === ns && col("seq") <= bound &&
             col("epoch") <= lit(lastEpoch))
      .groupBy("skey")
      .agg(max(struct(col("seq"), col("payload"))).as("top"))
      // struct max (not max_by): the unique seq alone decides, so a NULL
      // winning payload — a [[delete]] tombstone — reaches the filter
      .select(col("skey"), col("top.payload").as("payload"))
      .where(col("payload").isNotNull)
  }

  /** Delete keys from a namespace (the reference's dict-key removal):
    * one shared-seq tombstone record, Kafka-style NULL payloads. State
    * reads as of a later seq drop the keys; history still shows the
    * tombstone rows; a later write resurrects. Returns the seqno. */
  def delete(ns: String, keys: Seq[String],
             ts: java.sql.Timestamp = new java.sql.Timestamp(0L)): Long = {
    val seq = store.manifest.maxSeq + 1
    val rows = keys.map(k => (seq, ns, k, ts))
    store.append(rows.toDF("seq", "ns", "skey", "ts")
      .withColumn("ukey", xxhash64(col("skey")))
      .withColumn("payload", lit(null).cast("string"))
      .withColumn("val", lit(null).cast("double"))
      .select("seq", "ns", "ukey", "skey", "ts", "payload", "val"))
    seq
  }

  /** Changes of one key (or the whole namespace) in seq order, as a
    * DataFrame (seq, skey, payload) — safe at any scale. Planned over
    * the namespace's files only. */
  def historyDF(ns: String, key: Option[String] = None): org.apache.spark.sql.DataFrame = {
    val base = store.segmentsFor(store.manifest, Some(ns), None)
      .where(col("ns") === ns)
    key.fold(base)(k => base.where(col("skey") === k))
      .select(col("seq"), col("skey"), col("payload"))
      .orderBy("seq", "skey")
  }

  /** Distinct namespaces as a DataFrame — safe at any scale. */
  def namespacesDF(): org.apache.spark.sql.DataFrame =
    store.readSegments().select(col("ns")).distinct()

  /** Collect guard for the embedded-dict convenience tier: loud error
    * instead of a silent driver OOM. */
  protected def collectCap: Int = Marasa.MaxCollectedRows

  private def bounded[T](rows: Array[T], what: String, alt: String): Seq[T] = {
    require(rows.length <= collectCap,
      s"$what exceeds the driver-collect cap of $collectCap rows; " +
        "this convenience API mirrors the reference's embedded " +
        s"small-state dict — use $alt for analytics-scale access")
    rows.toSeq
  }

  /** State as of `seq` (None = latest): key → value map. BOUNDED-USE
    * driver convenience — throws past [[Marasa.MaxCollectedRows]];
    * use [[readDF]] beyond that. */
  def read(ns: String, seq: Option[Long] = None): Map[String, String] =
    bounded(readDF(ns, seq).as[(String, String)]
        .take(collectCap + 1),
      s"read($ns)", "readDF").toMap

  /** Changes of one key (or the whole namespace) in seq order.
    * BOUNDED-USE driver convenience — throws past
    * [[Marasa.MaxCollectedRows]]; use [[historyDF]] beyond that. */
  def history(ns: String, key: Option[String] = None): Seq[(Long, String, String)] =
    bounded(historyDF(ns, key).as[(Long, String, String)]
        .take(collectCap + 1),
      s"history($ns, $key)", "historyDF")

  /** Namespace list, like iterating the reference's store directory.
    * BOUNDED-USE driver convenience (namespace cardinality is small by
    * design, but the guard still applies). */
  def namespaces(): Seq[String] =
    bounded(namespacesDF().as[String].take(collectCap + 1),
      "namespaces()", "namespacesDF").sorted
}

object Marasa {
  /** Hard cap on rows any embedded-dict convenience method collects to
    * the driver. ~1M small KV rows ≈ tens of MB — generous for the
    * facade's use case, far below driver-OOM territory. */
  val MaxCollectedRows: Int = 1000000

  def create(spark: SparkSession, path: String, epochSize: Long = 1000L): Marasa =
    new Marasa(JournalStore.create(spark, path, epochSize))
  def open(spark: SparkSession, path: String): Marasa =
    new Marasa(JournalStore.open(spark, path))
}
