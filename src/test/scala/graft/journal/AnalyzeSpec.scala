package graft.journal

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark.ts

/** ANALYZE TABLE column statistics: exactness of the recorded stats,
  * the small-range-corrected HLL ndv, the staleness (exact-or-decline)
  * contract, and the DSv2 columnStats → catalyst attributeStats
  * propagation the optimizer consumes. */
class AnalyzeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshPath =
    java.nio.file.Files.createTempDirectory("graft_analyze_").toString + "/store"

  private def fixture = Seq(
    ("users", 1L, ts("2024-01-01 00:00:01"), """{"v":1}""", Some(1.0)),
    ("users", 2L, ts("2024-01-01 00:00:02"), """{"v":2}""", Some(2.0)),
    ("users", 3L, ts("2024-01-01 00:00:03"), """{"v":3}""", None),
    ("carts", 4L, ts("2024-01-01 00:00:04"), """{"c":1}""", Some(4.0)),
    ("carts", 1L, ts("2024-01-01 00:00:05"), """{"c":2}""", None),
  ).toDF("ns", "ukey", "ts", "payload", "val")

  test("analyze records exact rows/nulls/min/max and corrected ndv") {
    val store = JournalStore.create(spark, freshPath, epochSize = 3)
    store.append(fixture)
    store.analyze()
    assert(store.analyzedRowCount === Some(5L))
    val cs = store.analyzedColumnStats
    // every visible column analyzed by the no-arg call
    assert(cs.keySet === Set("ns", "ukey", "seq", "ts", "payload", "val"))
    val ns = cs("ns")
    assert(ns.nulls === 0L)
    assert(ns.min === Some("carts") && ns.max === Some("users"))
    // 2 distinct values → 2 registers hit → linear counting lands on 2
    assert(ns.ndv === 2L)
    val ukey = cs("ukey")
    assert(ukey.nulls === 0L)
    assert(ukey.min === Some("1") && ukey.max === Some("4"))
    assert(ukey.ndv === 4L)
    val v = cs("val")
    assert(v.nulls === 2L)
    assert(v.min === Some("1.0") && v.max === Some("4.0"))
    assert(v.ndv === 3L)
    // raw register state is recorded exactly (re-derivable / mergeable)
    assert(ns.regsHit === 2L)
    assert(ns.weight === ns.whit + 510L * 4503599627370496L)
  }

  test("bootstrap/refold/consolidation are DISTRIBUTED: no " +
      "files-proportional driver seam (round-18 pin)") {
    val store = JournalStore.create(spark, freshPath, epochSize = 2)
    (0 until 3).foreach { b =>
      store.append((0 until 4).map(i => ("n", (b * 4 + i).toLong,
        ts("2024-01-01 00:00:01"), s"p$b$i", b * 4.0 + i))
        .toDF("ns", "ukey", "ts", "payload", "val"))
    }
    val w0 = ColumnStatsSidecar.driverPartWrites.get()
    val r0 = ColumnStatsSidecar.driverReadAlls.get()
    store.analyze()
    assert(ColumnStatsSidecar.driverPartWrites.get() === w0,
      "the analyze bootstrap must write sidecar parts from write tasks," +
        " never through the driver part writer")
    assert(store.manifest.cstatsParts.nonEmpty)
    // destructive rewrite: the refold aggregates the sidecar as a
    // Spark frame and the consolidation writes from tasks — neither
    // may materialize the sidecar on the driver
    assert(store.deleteWhere(col("ukey") === 1L) === 1L)
    assert(ColumnStatsSidecar.driverPartWrites.get() === w0)
    assert(ColumnStatsSidecar.driverReadAlls.get() === r0,
      "the rewrite refold/consolidation must never driver-readAll " +
        "the sidecar")
    // and the refold actually succeeded: stats survive the erase
    assert(store.analyzedRowCount === Some(11L))
    assert(store.analyzedColumnStats("ukey").max === Some("11"))
    assert(store.analyzedColumnStats("ukey").nulls === 0L)
  }

  test("an unreadable sidecar part ABORTS the rewrite consolidation: " +
      "old parts kept, fresh sketches land as a delta, merged stats " +
      "decline — never a silent sketch drop") {
    val store = JournalStore.create(spark, freshPath, epochSize = 3)
    store.append(fixture)
    store.append(Seq(("users", 9L, ts("2024-02-01 00:00:01"),
      """{"z":1}""", Some(9.0))).toDF("ns", "ukey", "ts", "payload", "val"))
    store.analyze()
    val parts0 = store.manifest.cstatsParts
    assert(parts0.nonEmpty)
    // damage one part on disk (parts are immutable by contract, so
    // this models storage corruption, not a writer race)
    java.nio.file.Files.write(
      ColumnStatsSidecar.dir(store.path).resolve(parts0.head),
      Array.fill[Byte](64)(0x5a))
    // ukey=4 shares its (epoch, ns) file with another row, so the
    // erase REWRITES that file (fresh sketches exist for the delta)
    assert(store.deleteWhere(col("ukey") === 4L) === 1L)
    // the refold cannot certify survivors -> merged stats decline...
    assert(store.analyzedRowCount === None)
    // ...but the consolidation ABORTED instead of rotating the damaged
    // part's sketches away: every old part is still listed, plus one
    // fresh delta for the rewritten file
    val parts1 = store.manifest.cstatsParts
    assert(parts0.forall(parts1.contains), s"$parts0 vs $parts1")
    assert(parts1.size === parts0.size + 1)
    // reads stay correct (skipping is conservative on damaged parts)
    assert(store.scanUnordered().count() === 5L)
  }

  test("a NULL-ns batch is refused at the append door ATOMICALLY: " +
      "analyzed stats, sketches and data are untouched") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1000)
    store.append(fixture)
    store.analyze()
    val parts0 = store.manifest.cstatsParts
    // ns is the structural partition key — a null value has no
    // directory identity and would poison every ns-keyed stats family
    // (it used to NPE deep inside the mroot KeyStat write instead of
    // failing at the door)
    val e = intercept[IllegalArgumentException] {
      store.append(Seq(
        (Option.empty[String], 9L, ts("2024-02-01 00:00:01"),
          """{"z":1}""", Some(9.0)),
        (Option("users"), 10L, ts("2024-02-01 00:00:02"), """{"z":2}""",
          None),
      ).toDF("ns", "ukey", "ts", "payload", "val"))
    }
    assert(e.getMessage.contains("ns must be non-null"))
    // nothing became visible: row count, merged stats, sidecar and the
    // incremental-fold machinery are all at their pre-append state
    assert(store.scanUnordered().count() === 5L)
    assert(store.analyzedRowCount === Some(5L))
    assert(store.manifest.cstatsParts === parts0)
    // and the store still accepts + folds a VALID follow-up batch
    store.append(Seq(("users", 10L, ts("2024-02-01 00:00:02"),
      """{"z":2}""", Some(9.0))).toDF("ns", "ukey", "ts", "payload", "val"))
    assert(store.analyzedRowCount === Some(6L))
    assert(store.analyzedColumnStats("val").max === Some("9.0"))
  }

  test("ndv estimate stays within HLL tolerance at mid cardinality") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1000)
    val rows = (0 until 600).map(i =>
      ("n", i.toLong, ts("2024-01-01 00:00:01"), s"p$i", 1.0))
    store.append(rows.toDF("ns", "ukey", "ts", "payload", "val"))
    store.analyze(Seq("ukey"))
    val ndv = store.analyzedColumnStats("ukey").ndv
    // 512 registers → rsd ≈ 1.04/sqrt(512) ≈ 4.6%; allow 4 sigma
    assert(math.abs(ndv - 600L) <= 110, s"ndv=$ndv for 600 distinct")
  }

  test("scan serves analyze stats to the optimizer; appends MERGE the " +
      "batch sketch in (stats survive, no re-analyze); destructive " +
      "rewrites still decline") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 3)
    store.append(fixture)
    store.analyze(Seq("ns", "ukey", "val"))
    // CBO's stats visitor is what carries attributeStats up the plan;
    // the size-only default drops them above the leaf — asserting at
    // the TOP of the optimized plan proves estimation actually sees
    // the analyze stats, not merely that the leaf reports them
    spark.conf.set("spark.sql.cbo.enabled", "true")
    def attrStats = spark.read.format("journal").load(path)
      .queryExecution.optimizedPlan.stats.attributeStats
    try {
    val st = attrStats
    assert(st.nonEmpty, "expected attributeStats from DSv2 columnStats")
    val byName = st.map { case (a, s) => a.name -> s }
    assert(byName("ukey").distinctCount.map(_.toLong) === Some(4L))
    assert(byName("ukey").nullCount.map(_.toLong) === Some(0L))
    // BIGINT extrema parse back losslessly and ride the report
    assert(byName("ukey").min === Some(1L))
    assert(byName("ukey").max === Some(4L))
    assert(byName("val").nullCount.map(_.toLong) === Some(2L))
    // string column: ndv/nulls only, no extrema (no lossless parse-back)
    assert(byName("ns").distinctCount.map(_.toLong) === Some(2L))
    assert(byName("ns").min.isEmpty && byName("ns").max.isEmpty)
    // INCREMENTAL ANALYZE: a later append folds the batch's sketch into
    // the recorded stats in the SAME commit — the scan keeps serving
    // them with NO re-analyze (the round-15 behavior dropped them here)
    store.append(Seq(
      ("users", 9L, ts("2024-01-02 00:00:00"), "{}", Some(0.0)),
      ("users", 9L, ts("2024-01-02 00:00:01"), "{}", None))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    val st2 = attrStats
    assert(st2.nonEmpty, "merged stats must stay served after an append")
    val byName2 = st2.map { case (a, s) => a.name -> s }
    assert(byName2("ukey").distinctCount.map(_.toLong) === Some(5L))
    // extrema WIDEN to the new batch; null counts add
    assert(byName2("ukey").max === Some(9L))
    assert(byName2("ukey").min === Some(1L))
    assert(byName2("val").nullCount.map(_.toLong) === Some(3L))
    assert(spark.read.format("journal").load(path)
      .queryExecution.optimizedPlan.stats.rowCount === Some(BigInt(7)))
    // the recorded property row count moved with the append
    assert(store.analyzedRowCount === Some(7L))
    // a DESTRUCTIVE rewrite (erase) now REFOLDS the merged stats from
    // the surviving files' cstats sketches — served values shrink back
    // to the surviving rows with NO re-analyze (round 17; the r16
    // behavior declined here)
    store.deleteWhere(col("ukey") === 9L)
    val st3 = attrStats
    assert(st3.nonEmpty, "post-erase stats must refold and keep serving")
    val byName3 = st3.map { case (a, s) => a.name -> s }
    assert(byName3("ukey").distinctCount.map(_.toLong) === Some(4L))
    assert(byName3("ukey").max === Some(4L), "the erased key must leave the bound")
    assert(byName3("ukey").min === Some(1L))
    assert(byName3("val").nullCount.map(_.toLong) === Some(2L))
    assert(spark.read.format("journal").load(path)
      .queryExecution.optimizedPlan.stats.rowCount === Some(BigInt(5)))
    // re-analyze still replaces the whole set at the new surface
    store.analyze(Seq("ukey"))
    assert(attrStats.map { case (a, s) => a.name -> s }("ukey")
      .distinctCount.map(_.toLong) === Some(4L))
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("incremental stats stay within HLL tolerance across many " +
      "appends of disjoint keys") {
    val store = JournalStore.create(spark, freshPath, epochSize = 10000)
    store.append((0 until 200).map(i =>
      ("n", i.toLong, ts("2024-01-01 00:00:01"), s"p$i", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    store.analyze(Seq("ukey"))
    assert(math.abs(store.analyzedColumnStats("ukey").ndv - 200L) <= 20)
    // five more disjoint batches merge register state, never re-scan
    (1 to 5).foreach { b =>
      store.append((0 until 100).map(i =>
        ("n", (b * 1000 + i).toLong, ts("2024-01-01 00:00:02"), "p", 1.0))
        .toDF("ns", "ukey", "ts", "payload", "val"))
    }
    assert(store.analyzedRowCount === Some(700L))
    val ndv = store.analyzedColumnStats("ukey").ndv
    // 512 registers → rsd ≈ 4.6%; 4 sigma around the true 700
    assert(math.abs(ndv - 700L) <= 130, s"merged ndv=$ndv for 700 distinct")
    // min/max widened across the appends
    assert(store.analyzedColumnStats("ukey").min === Some("0"))
    assert(store.analyzedColumnStats("ukey").max === Some("5099"))
  }

  test("a batch missing a stats column merges as all-null for it " +
      "(schema-evolution append keeps stats alive)") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1000)
    store.append(fixture.withColumn("tag",
      concat(lit("t"), col("ukey"))))
    store.analyze(Seq("tag", "ukey"))
    assert(store.analyzedColumnStats("tag").nulls === 0L)
    // a later batch does NOT carry tag: its rows read tag as NULL, so
    // the merged stats grow tag's null count and leave its
    // registers/extrema untouched, while ukey merges normally
    store.append(fixture)
    assert(store.analyzedRowCount === Some(10L))
    val tag = store.analyzedColumnStats("tag")
    assert(tag.nulls === 5L)
    assert(tag.ndv === 4L) // t1 t2 t3 t4 (ukey 1 repeats) — unchanged
    assert(tag.min === Some("t1") && tag.max === Some("t4"))
    assert(store.analyzedColumnStats("ukey").nulls === 0L)
  }

  test("timestamp histogram: time-range selectivity prices real skew " +
      "in epoch-micros space") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 10000)
    // 90% of rows in one second of 2024-01-01, a thin tail across the
    // following year: uniform range math prices `ts <= 2024-01-01
    // 00:00:01` at ~0%; the histogram knows better
    val rows = (0 until 900).map(i =>
      ("n", i.toLong, ts("2024-01-01 00:00:01"), s"a$i", 1.0)) ++
      (0 until 100).map(i =>
        ("n", (1000 + i).toLong,
          ts(f"2024-${1 + i % 12}%02d-${1 + i % 28}%02d 10:00:00"), s"b$i", 2.0))
    store.append(rows.toDF("ns", "ukey", "ts", "payload", "val"))
    store.analyze(Seq("ts"))
    assert(store.manifest.meta.contains("stats.col.ts.hist"))
    assert(store.manifest.meta.contains("stats.col.ts.minus"))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val rel = spark.read.format("journal").load(path)
        .queryExecution.optimizedPlan.collectFirst {
          case s: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => s
        }.get
      val tsAttr = rel.output.find(_.name == "ts").get
      val boundMicros = java.time.Instant
        .parse("2024-01-01T00:00:01Z").getEpochSecond * 1000000L
      val flt = org.apache.spark.sql.catalyst.plans.logical.Filter(
        org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(tsAttr,
          org.apache.spark.sql.catalyst.expressions.Literal(boundMicros,
            org.apache.spark.sql.types.TimestampType)), rel)
      val est = flt.stats.rowCount
      assert(est.exists(_ >= BigInt(450)),
        s"ts-histogram-driven estimate too low: $est")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("histogram stats: range selectivity prices real skew, not the " +
      "uniform assumption") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 1000)
    // 90% of rows at ukey=1, a thin tail to 1000: uniform range math
    // would price `ukey <= 1` at ~0.1% of rows; the histogram knows
    // better
    val rows = (0 until 900).map(i =>
      ("n", 1L, ts("2024-01-01 00:00:01"), s"a$i", 1.0)) ++
      (0 until 100).map(i =>
        ("n", (i + 1) * 10L, ts("2024-01-01 00:00:02"), s"b$i", 2.0))
    store.append(rows.toDF("ns", "ukey", "ts", "payload", "val"))
    store.analyze(Seq("ukey"))
    val packed = store.manifest.meta("stats.col.ukey.hist")
    assert(packed.split('|').length === 2, packed)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val st = spark.read.format("journal").load(path)
        .queryExecution.optimizedPlan.collectFirst {
          case s: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => s.stats.attributeStats
        }.get.map { case (a, s) => a.name -> s }
      assert(st("ukey").histogram.isDefined, "expected a histogram")
      // price `ukey <= 1` through the REAL estimation path
      // (BasicStatsPlanVisitor → FilterEstimation over the scan's
      // attributeStats) — built as a logical Filter directly, because
      // a pushed-down predicate makes the scan decline its stats
      // (exact-or-decline) and leaves the planner nothing to price.
      // True answer: 90% of rows; the uniform [1,1000] assumption
      // would price ~0.1%. The histogram must put it ≥ half.
      val rel = spark.read.format("journal").load(path)
        .queryExecution.optimizedPlan.collectFirst {
          case s: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => s
        }.get
      val ukeyAttr = rel.output.find(_.name == "ukey").get
      val flt = org.apache.spark.sql.catalyst.plans.logical.Filter(
        org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(ukeyAttr,
          org.apache.spark.sql.catalyst.expressions.Literal(1L)), rel)
      val est = flt.stats.rowCount
      assert(est.exists(_ >= BigInt(450)),
        s"histogram-driven estimate too low: $est")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("histogram-only staleness: a table grown past 2x its capture " +
      "point declines the histogram but keeps serving merged ndv") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 100000)
    def batch(lo: Int, n: Int) = (lo until lo + n).map(i =>
      ("n", i.toLong, ts("2024-01-01 00:00:01"), s"p$i", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val")
    store.append(batch(0, 400))
    store.analyze(Seq("ukey"))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      def st = spark.read.format("journal").load(path)
        .queryExecution.optimizedPlan.collectFirst {
          case s: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => s.stats.attributeStats
        }.get.map { case (a, s2) => a.name -> s2 }
      assert(st("ukey").histogram.isDefined)
      // within 2x of the capture point the histogram still serves
      store.append(batch(1000, 300))
      assert(st("ukey").histogram.isDefined, "within 2x: still served")
      // past 2x the boundaries no longer describe the table: the
      // histogram alone declines; merged ndv/nulls keep serving
      store.append(batch(2000, 300))
      val s2 = st
      assert(s2("ukey").histogram.isEmpty, "past 2x: histogram declines")
      val ndv = s2("ukey").distinctCount.map(_.toLong).get
      assert(math.abs(ndv - 1000L) <= 150, s"merged ndv=$ndv")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("stats survive compaction (rows unchanged → still served) and " +
      "ride clones") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 2)
    store.append(fixture)
    store.analyze(Seq("ukey"))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      def served(p: String) = spark.read.format("journal").load(p)
        .queryExecution.optimizedPlan.stats.attributeStats.nonEmpty
      assert(served(path))
      // compact rewrites files but preserves the row count — the
      // exact-or-decline guard keeps the stats live
      store.compact(Long.MaxValue)
      assert(served(path), "stats must survive a row-preserving compact")
      // stats are table properties: a zero-copy clone carries them
      val clonePath = freshPath
      store.cloneTo(clonePath)
      assert(JournalStore.open(spark, clonePath)
        .analyzedColumnStats("ukey").ndv === 4L)
      assert(served(clonePath))
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("cstats lifecycle: ndv/nulls/extrema stay served through " +
      "append -> deleteWhere -> append -> compact with NO re-analyze") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 4)
    def batch(lo: Int, n: Int, tag: String) = (lo until lo + n).map(i =>
      ("n", i.toLong, ts("2024-01-01 00:00:01"), s"$tag$i",
        if (i % 5 == 0) None else Some(i.toDouble)))
      .toDF("ns", "ukey", "ts", "payload", "val")
    store.append(batch(0, 20, "a"))
    store.analyze(Seq("ukey", "val"))
    // append AFTER analyze: the fold keeps merged stats alive AND the
    // new files get per-file sketches
    store.append(batch(100, 20, "b"))
    // erase a slice: the refold re-derives merged stats from survivors
    assert(store.deleteWhere(col("ukey") >= 100L && col("ukey") < 110L) === 10L)
    assert(store.analyzedRowCount === Some(30L))
    val cs1 = store.analyzedColumnStats("ukey")
    assert(cs1.min === Some("0") && cs1.max === Some("119"))
    assert(math.abs(cs1.ndv - 30L) <= 6, s"ndv=${cs1.ndv}")
    // nulls refold exactly: ukeys 0,5,..,115 minus the erased 100,105
    assert(store.analyzedColumnStats("val").nulls === 6L)
    // append again: the fold continues from the refolded state
    store.append(batch(200, 10, "c"))
    assert(store.analyzedRowCount === Some(40L))
    assert(store.analyzedColumnStats("ukey").max === Some("209"))
    // compact everything: stats refold across the rewrite too
    store.compact(Long.MaxValue)
    assert(store.analyzedRowCount === Some(40L))
    val cs2 = store.analyzedColumnStats("ukey")
    assert(cs2.min === Some("0") && cs2.max === Some("209"))
    assert(store.analyzedColumnStats("val").nulls === 8L)
    // and the scan really serves them (the gate, not just the meta)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try assert(spark.read.format("journal").load(path)
      .queryExecution.optimizedPlan.stats.attributeStats.nonEmpty)
    finally spark.conf.set("spark.sql.cbo.enabled", "false")
    // erase everything ever appended after analyze; survivors refold
    assert(store.deleteWhere(col("ukey") >= 100L) === 20L)
    assert(store.analyzedRowCount === Some(20L))
    assert(store.analyzedColumnStats("ukey").max === Some("19"))
  }

  test("DV delete declines stats at serve time; a FULL compact " +
      "materializes the subtraction and RESURRECTS them by refold") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 100)
    store.append((0 until 30).map(i =>
      ("n", i.toLong, ts("2024-01-01 00:00:01"), s"p$i", i.toDouble))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    store.analyze(Seq("ukey"))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    def served = spark.read.format("journal").load(path)
      .queryExecution.optimizedPlan.stats.attributeStats
    try {
      assert(served.nonEmpty)
      // vector delete: rows leave reads but no sketch can see it
      assert(store.deleteWhereDv(col("ukey") >= 20L) === 10L)
      assert(served.isEmpty, "DV-deleted store must decline its stats")
      // the full compact reads THROUGH the vectors, re-sketches the
      // rewritten files, and the refold brings the stats back
      store.compact(Long.MaxValue)
      val byName = served.map { case (a, s) => a.name -> s }
      assert(byName.nonEmpty, "full compact must resurrect stats")
      val ndv = byName("ukey").distinctCount.map(_.toLong).get
      assert(math.abs(ndv - 20L) <= 3, s"resurrected ndv=$ndv for 20 live")
      assert(byName("ukey").max === Some(19L))
      assert(spark.read.format("journal").load(path)
        .queryExecution.optimizedPlan.stats.rowCount === Some(BigInt(20)))
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("a rewrite over files WITHOUT sketches declines the whole set " +
      "(never refolds a partial answer); analyze re-arms") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 1)
    // 70 single-row epochs in one append: past MaxSketchDirs the
    // append falls back to the flat fold — merged stats stay alive,
    // but the 70 new files get NO per-file sketches
    store.append((0 until 70).map(i =>
      ("n", i.toLong, ts("2024-01-01 00:00:01"), s"p$i", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    store.analyze(Seq("ukey"))
    store.append((100 until 170).map(i =>
      ("n", i.toLong, ts("2024-01-01 00:00:01"), s"p$i", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    // the flat fold kept the merged stats moving
    assert(store.analyzedRowCount === Some(140L))
    assert(store.analyzedColumnStats("ukey").max === Some("169"))
    // an erase cannot refold (sketchless files) -> the whole recorded
    // set drops, rather than serving a bound that skips unknown rows
    assert(store.deleteWhere(col("ukey") === 150L) === 1L)
    assert(store.analyzedRowCount === None)
    assert(store.analyzedColumnStats.isEmpty)
    store.analyze(Seq("ukey"))
    assert(store.analyzedRowCount === Some(139L))
  }

  test("histogram SHRINK bound: a table erased below half its capture " +
      "point declines the histogram but keeps the refolded ndv/extrema") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 50)
    store.append((0 until 400).map(i =>
      ("n", i.toLong, ts("2024-01-01 00:00:01"), s"p$i", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    store.analyze(Seq("ukey"))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      def st = spark.read.format("journal").load(path)
        .queryExecution.optimizedPlan.collectFirst {
          case s: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => s.stats.attributeStats
        }.get.map { case (a, s2) => a.name -> s2 }
      assert(st("ukey").histogram.isDefined)
      // erase 3/4 of the table: the refold keeps ndv/extrema serving,
      // but the histogram describes a distribution that is mostly
      // gone — the shrink side of the freshness gate declines it
      assert(store.deleteWhere(col("ukey") >= 100L) === 300L)
      val after = st
      assert(after("ukey").histogram.isEmpty,
        "a mostly-erased histogram must decline")
      assert(after("ukey").distinctCount.isDefined,
        "refolded ndv must keep serving")
      assert(after("ukey").max === Some(99L))
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("FULL compact re-captures the histogram: range selectivity " +
      "stays distribution-aware after the table triples") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 100000)
    def skewed(lo: Int, n: Int) = ((0 until (n * 9) / 10).map(i =>
      ("n", 1L, ts("2024-01-01 00:00:01"), s"a$lo$i", 1.0)) ++
      (0 until n / 10).map(i =>
        ("n", (i + 1) * 10L, ts("2024-01-01 00:00:02"), s"b$lo$i", 2.0)))
      .toDF("ns", "ukey", "ts", "payload", "val")
    store.append(skewed(0, 300))
    store.analyze(Seq("ukey"))
    // triple the table: past 2x the capture point the histogram alone
    // would decline...
    store.append(skewed(1, 300))
    store.append(skewed(2, 300))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      def st = spark.read.format("journal").load(path)
        .queryExecution.optimizedPlan.collectFirst {
          case s: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => s.stats.attributeStats
        }.get.map { case (a, s2) => a.name -> s2 }
      assert(st("ukey").histogram.isEmpty, "past 2x: histogram declines")
      // ...but the maintenance compact re-derives the boundaries from
      // the full rewrite it already performs
      store.compact(Long.MaxValue)
      assert(store.manifest.meta("stats.histrows") === "900")
      assert(st("ukey").histogram.isDefined,
        "full compact must re-capture the histogram")
      // and the re-captured histogram prices the 90% skew at ukey<=1
      val rel = spark.read.format("journal").load(path)
        .queryExecution.optimizedPlan.collectFirst {
          case s: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => s
        }.get
      val ukeyAttr = rel.output.find(_.name == "ukey").get
      val flt = org.apache.spark.sql.catalyst.plans.logical.Filter(
        org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(ukeyAttr,
          org.apache.spark.sql.catalyst.expressions.Literal(1L)), rel)
      val est = flt.stats.rowCount
      assert(est.exists(_ >= BigInt(400)),
        s"re-captured histogram estimate too low: $est")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("cstats ride clones and survive vacuum; restore rolls the " +
      "stats state back with the data") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 10)
    store.append((0 until 20).map(i =>
      ("n", i.toLong, ts("2024-01-01 00:00:01"), s"p$i", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    store.analyze(Seq("ukey"))
    val analyzedVersion = store.manifest.version
    // a clone's rewrite can refold from the LINKED sketch parts
    val clonePath = freshPath
    val clone = store.cloneTo(clonePath)
    assert(clone.deleteWhere(col("ukey") >= 15L) === 5L)
    assert(clone.analyzedRowCount === Some(15L))
    assert(clone.analyzedColumnStats("ukey").max === Some("14"))
    // vacuum: an ORPHAN part (a crashed writer's leftover) is swept;
    // parts referenced by retained manifests survive
    store.deleteWhere(col("ukey") < 5L)
    val orphan = graft.journal.ColumnStatsSidecar
      .writePart(store.path, Nil)
    store.vacuum(graceMs = 0L)
    assert(!java.nio.file.Files.exists(graft.journal.ColumnStatsSidecar
      .dir(store.path).resolve(orphan)), "orphan cstats part must be swept")
    assert(store.analyzedRowCount === Some(15L))
    store.append((100 until 105).map(i =>
      ("n", i.toLong, ts("2024-01-01 00:00:01"), s"p$i", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    assert(store.analyzedColumnStats("ukey").max === Some("104"))
    // RESTORE to the analyzed version: stats AND sketches roll back
    // (the vacuum above kept the retained version's part), and a
    // post-restore rewrite can still refold
    store.restore(analyzedVersion)
    assert(store.analyzedRowCount === Some(20L))
    assert(store.deleteWhere(col("ukey") >= 10L) === 10L)
    assert(store.analyzedRowCount === Some(10L))
    assert(store.analyzedColumnStats("ukey").max === Some("9"))
  }

  test("a subset analyze replaces the whole recorded stats set") {
    val store = JournalStore.create(spark, freshPath, epochSize = 3)
    store.append(fixture)
    store.analyze()
    assert(store.analyzedColumnStats.keySet.size === 6)
    store.analyze(Seq("ukey"))
    assert(store.analyzedColumnStats.keySet === Set("ukey"))
    // stats ride the manifest: a reopened handle sees them
    assert(JournalStore.open(spark, store.path)
      .analyzedColumnStats("ukey").ndv === 4L)
    // DESCRIBE HISTORY grain: the analyze commit is its own operation
    assert(JournalStore.open(spark, store.path).manifest.op === "analyze")
  }

  test("identity values stay unique when an append loses the commit " +
      "race (the retry re-reads the advanced counter)") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 1000,
      Some(org.apache.spark.sql.types.StructType.fromDDL(
        "ns STRING, ukey BIGINT, ts TIMESTAMP, payload STRING, " +
          "val DOUBLE, rid BIGINT")))
    store.setMeta(Map("identity.rid" -> "1,1,false,0"))
    def batch(ks: Long*) = ks.map(k =>
      ("n", k, ts("2024-01-01 00:00:01"), s"p$k", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val")
    // a SECOND writer lands a 2-row batch between this handle's
    // manifest snapshot and its own commit: the first attempt computed
    // rids from the stale counter and must lose the CAS; the retry
    // re-reads the advanced counter and re-assigns
    val rival = JournalStore.open(spark, path)
    store.onCommitSeam = () => rival.append(batch(100, 101))
    store.append(batch(1, 2, 3))
    val rids = store.scanUnordered().select("rid")
      .as[Long].collect().toSeq.sorted
    assert(rids === Seq(1L, 2L, 3L, 4L, 5L), rids.toString)
    assert(JournalStore.open(spark, path).identityColumns("rid").used === 5L)
  }

  test("analyze that loses the commit race re-runs on the fresh " +
      "snapshot: rows, stats and sketches cover the rival's append") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 1000)
    store.append(fixture)
    val rival = JournalStore.open(spark, path)
    store.onCommitSeam = () => rival.append(Seq(("users", 9L,
      ts("2024-02-01 00:00:01"), """{"z":1}""", Some(9.0)))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    store.analyze()
    val m = JournalStore.open(spark, path).manifest
    assert(m.op === "analyze")
    assert(store.analyzedRowCount === Some(6L))
    assert(store.analyzedColumnStats("ukey").max === Some("9"))
    assert(store.analyzedColumnStats("val").max === Some("9.0"))
    // the per-file sketches name exactly the live files, the rival's too
    val sketched = ColumnStatsSidecar.readAll(path, m.cstatsParts)
      .values.map(_.file).toSet
    assert(sketched === m.files.toSet, s"$sketched vs ${m.files}")
  }

  test("declined extrema stay declined: a later append must not re-seed " +
      "a bound that skips earlier rows (xdecl tombstone)") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1000)
    def batch(tag: String, ks: Range) = ks.map(k =>
      ("n", k.toLong, ts("2024-01-01 00:00:01"), s"$tag$k", 1.0,
        Array[Byte](k.toByte)))
      .toDF("ns", "ukey", "ts", "payload", "val", "blob")
    store.append(batch("a", 1 to 3))
    store.analyze()
    // analyze's GLOBAL typed aggregate records binary extrema (string
    // casts); the incremental fold cannot merge BinaryType order-
    // correctly, so the FIRST append declines them...
    assert(store.analyzedColumnStats("blob").min.isDefined)
    store.append(batch("b", 10 to 12))
    val afterDecline = store.analyzedColumnStats("blob")
    assert(afterDecline.min.isEmpty && afterDecline.max.isEmpty)
    // ...and the SECOND append must NOT re-seed min/max from its own
    // rows alone (bytes 20..22 do not bound bytes 1..3) — the xdecl
    // tombstone keeps the decline sticky until the next full analyze()
    store.append(batch("c", 20 to 22))
    val afterReseedWindow = store.analyzedColumnStats("blob")
    assert(afterReseedWindow.min.isEmpty && afterReseedWindow.max.isEmpty,
      "re-seeded a declined extremum from one batch")
    // the rest of the stats stayed alive through both folds
    assert(store.analyzedRowCount === Some(9L))
    assert(store.analyzedColumnStats("ukey").min === Some("1"))
    assert(store.analyzedColumnStats("ukey").max === Some("22"))
    // a fresh analyze re-measures and clears the tombstone
    store.analyze()
    assert(store.analyzedColumnStats("blob").min.isDefined)
    assert(store.manifest.meta.get(
      JournalStore.StatsColPrefix + "blob." + JournalStore.XdeclKey).isEmpty)
  }

  test("a column that was all-null at analyze seeds extrema from the " +
      "first non-null batch (legitimate seed path still works)") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1000)
    val nullExtra = Seq(("n", 1L, ts("2024-01-01 00:00:01"), "p", 1.0,
      Option.empty[Long]))
      .toDF("ns", "ukey", "ts", "payload", "val", "extra")
    store.append(nullExtra)
    store.analyze()
    assert(store.analyzedColumnStats("extra").min.isEmpty)
    store.append(Seq(("n", 2L, ts("2024-01-01 00:00:02"), "p", 1.0,
      Some(7L))).toDF("ns", "ukey", "ts", "payload", "val", "extra"))
    val cs = store.analyzedColumnStats("extra")
    assert(cs.min === Some("7") && cs.max === Some("7") && cs.nulls === 1L)
  }

  test("TIMESTAMP_NTZ bounds serve in RAW NTZ micros, not shifted by " +
      "the session zone") {
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val store = JournalStore.create(spark, freshPath, epochSize = 1000)
      // fixed-offset winter instant: EST = UTC-5, so a session-zoned
      // round-trip error would show up as exactly ±5h in micros
      val wall = "2024-01-15 12:00:00"
      store.append(
        Seq(("n", 1L, ts("2024-01-01 00:00:01"), "p", 1.0))
          .toDF("ns", "ukey", "ts", "payload", "val")
          .withColumn("tn", expr(s"TIMESTAMP_NTZ'$wall'")))
      store.analyze(Seq("tn"))
      val rawMicros = java.time.LocalDateTime.parse(wall.replace(' ', 'T'))
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
      val p = JournalStore.StatsColPrefix + "tn."
      assert(store.manifest.meta(p + "minus").toLong === rawMicros)
      assert(store.manifest.meta(p + "maxus").toLong === rawMicros)
      // and the incremental fold agrees (same arithmetic, one copy)
      store.append(
        Seq(("n", 2L, ts("2024-01-01 00:00:02"), "p", 1.0))
          .toDF("ns", "ukey", "ts", "payload", "val")
          .withColumn("tn", expr("TIMESTAMP_NTZ'2024-01-15 13:30:00'")))
      assert(store.manifest.meta(p + "minus").toLong === rawMicros)
      assert(store.manifest.meta(p + "maxus").toLong ===
        rawMicros + 5400L * 1000000L)
      // DST-GAP wall time: 2024-03-10 02:30 does not exist in New York
      // (spring-forward skips 02:00-03:00). The old session-zone
      // round-trip capture could shift it by the gap; NtzMicros reads
      // the raw physical micros — EXACT, which is what flipped NTZ
      // from planner-advisory to skipping-eligible in round 18
      store.append(
        Seq(("n", 3L, ts("2024-01-01 00:00:03"), "p", 1.0))
          .toDF("ns", "ukey", "ts", "payload", "val")
          .withColumn("tn", expr("TIMESTAMP_NTZ'2024-03-10 02:30:00'")))
      val gapMicros = java.time.LocalDateTime.parse("2024-03-10T02:30:00")
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
      assert(store.manifest.meta(p + "maxus").toLong === gapMicros)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("analyze refuses unknown columns and empty stores") {
    val store = JournalStore.create(spark, freshPath, epochSize = 3)
    val e = intercept[IllegalArgumentException](store.analyze())
    assert(e.getMessage.contains("no committed data files"))
    store.append(fixture)
    val e2 = intercept[IllegalArgumentException](store.analyze(Seq("nope")))
    assert(e2.getMessage.contains("unknown column"))
  }

  test("refold coherence counts DISTINCT contributing files (ADVICE " +
      "r18): a duplicated sketch for one file masking a missing sketch " +
      "for another at the same TOTAL declines the merged stats") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 1000)
    def batch(lo: Long) = (0 until 5).map(i => ("n", lo + i,
      ts("2024-01-01 00:00:01"), s"p${lo + i}", (lo + i).toDouble))
      .toDF("ns", "ukey", "ts", "payload", "val")
    store.append(batch(0))
    store.append(batch(100))
    store.append(batch(200))
    store.analyze()
    val m = store.manifest
    val all = ColumnStatsSidecar.readAll(path, m.cstatsParts).values.toSeq
    // files holding ukey 0.. / 100.. — both SURVIVE the delete below
    val fa = all.find(s => s.col == "ukey" && s.minv.contains("0")).get.file
    val fb = all.find(s => s.col == "ukey" && s.minv.contains("100")).get.file
    // the compensating fault: drop B's `val` sketch, duplicate A's —
    // the ROW TOTAL for `val` stays at survivor count, which is
    // exactly what the old row-counting check certified on
    val crafted = all.flatMap {
      case s if s.file == fb && s.col == "val" => Nil
      case s if s.file == fa && s.col == "val" => Seq(s, s)
      case s => Seq(s)
    }
    val part = ColumnStatsSidecar.writePart(path, crafted)
    JournalStore.writeManifest(path, m.copy(cstatsParts = Seq(part),
      cstatsEnvs = Map.empty))
    val store2 = JournalStore.open(spark, path)
    assert(store2.analyzedRowCount.isDefined)
    // erase the third file outright: A and B survive; `val`'s distinct
    // contributors (1: A, twice) != survivors (2) — DECLINE
    store2.deleteWhere(col("ukey") >= 200L)
    assert(store2.analyzedRowCount.isEmpty,
      "compensating dup+missing sketches must decline the refold")
    // the NTZ certification marker describes the sidecar rows, not the
    // merged stats — a decline must not strip it
    assert(store2.manifest.meta.get(JournalStore.StatsNtzExactKey)
      === Some("1"))
  }

  test("filtered column stats (round 19): a range-filtered analyzed " +
      "store serves bounded ndv, predicate-clipped extrema and an " +
      "exact zero null count; a kept file without a sketch declines") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 100000)
    def batch(lo: Long) = (0 until 100).map(i => ("n", lo + i,
      ts("2024-01-01 00:00:01"), s"p${lo + i}", (lo + i).toDouble))
      .toDF("ns", "ukey", "ts", "payload", "val")
    store.append(batch(0))
    store.append(batch(1000))
    store.append(batch(2000))
    store.analyze()
    def attrStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.stats.attributeStats
      }.head
    def rd = spark.read.format("journal").load(path)
    // ukey >= 1050 prunes file 1, keeps files 2 and 3 (top half of 2,
    // all of 3): the served stats must describe the FILTERED surface
    val st = attrStats(rd.where(col("ukey") >= 1050L))
    val ukeySt = st.find(_._1.name == "ukey").map(_._2)
      .getOrElse(fail("filtered scan must serve ukey column stats"))
    // extrema: kept-file bounds [1000, 2099] clipped by the predicate
    assert(ukeySt.min === Some(1050L), s"min=${ukeySt.min}")
    assert(ukeySt.max === Some(2099L), s"max=${ukeySt.max}")
    // null count is EXACT under a null-rejecting predicate
    assert(ukeySt.nullCount === Some(BigInt(0)))
    // ndv bounded by the union of the KEPT files' sketches (≈200) —
    // visibly below the whole table's ≈300
    val ndv = ukeySt.distinctCount.map(_.toLong)
      .getOrElse(fail("filtered ndv must serve"))
    assert(ndv >= 120L && ndv <= 260L, s"ndv=$ndv")
    // decline: strip file 3's sketch rows from the sidecar — a kept
    // file without a sketch must decline the column, not guess
    val m = store.manifest
    val all = ColumnStatsSidecar.readAll(path, m.cstatsParts).values.toSeq
    val f3 = all.find(s => s.col == "ukey" && s.minv.contains("2000"))
      .get.file
    val part = ColumnStatsSidecar.writePart(path,
      all.filterNot(_.file == f3))
    JournalStore.writeManifest(path, m.copy(cstatsParts = Seq(part),
      cstatsEnvs = Map.empty))
    val st2 = attrStats(spark.read.format("journal").load(path)
      .where(col("ukey") >= 1050L))
    assert(!st2.exists(_._1.name == "ukey"),
      "a kept file without a sketch must decline the filtered stats")
  }
}
