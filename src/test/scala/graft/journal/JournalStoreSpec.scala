package graft.journal

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark.ts

class JournalStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshPath =
    java.nio.file.Files.createTempDirectory("graft_store_").toString + "/store"

  private def sampleDf = Seq(
    ("users", 1L, ts("2024-01-01 00:00:01"), """{"v":1}""", 1.0),
    ("users", 2L, ts("2024-01-01 00:00:02"), """{"v":2}""", 2.0),
    ("users", 1L, ts("2024-01-01 00:00:03"), """{"v":3}""", 3.0),
    ("carts", 1L, ts("2024-01-01 00:00:04"), """{"c":1}""", 4.0),
  ).toDF("ns", "ukey", "ts", "payload", "val")

  test("append assigns dense monotonic seqs in deterministic order") {
    val store = JournalStore.create(spark, freshPath, epochSize = 2)
    val max = store.append(sampleDf)
    assert(max === 3L)
    val seqs = store.scan().select("seq").as[Long].collect()
    assert(seqs.toSeq === Seq(0L, 1L, 2L, 3L))
    // deterministic (ts, ns, ukey, payload) order → seq 0 is the earliest ts
    val first = store.scan().orderBy("seq").first()
    assert(first.getAs[java.sql.Timestamp]("ts") === ts("2024-01-01 00:00:01"))
  }

  test("roundtrip: scan returns exactly the appended records") {
    val store = JournalStore.create(spark, freshPath)
    store.append(sampleDf)
    val back = store.scan().select("ns", "ukey", "ts", "payload", "val")
    assert(back.count() === 4)
    assert(back.except(sampleDf).count() === 0)
    assert(sampleDf.except(back).count() === 0)
  }

  test("stateAt equals the left-fold of history (marasa invariant)") {
    val store = JournalStore.create(spark, freshPath)
    store.append(sampleDf)
    // state at seq=2: users/1 → {"v":3} (seq 2), users/2 → {"v":2}
    val st = store.stateAt(2L).orderBy("ns", "ukey")
      .select("ns", "ukey", "payload", "last_seq").as[(String, Long, String, Long)].collect()
    assert(st.toSeq === Seq(("users", 1L, """{"v":3}""", 2L), ("users", 2L, """{"v":2}""", 1L)))
  }

  test("checkpoint + tail replay == full recompute") {
    val store = JournalStore.create(spark, freshPath, epochSize = 2)
    store.append(sampleDf)
    store.checkpoint(1L)
    val more = Seq(("users", 2L, ts("2024-01-01 00:00:05"), """{"v":9}""", 9.0))
      .toDF("ns", "ukey", "ts", "payload", "val")
    store.append(more)
    val viaCkpt = store.stateAt(4L).orderBy("ns", "ukey").collect().toSeq
    // recompute from raw scan, no checkpoint
    val raw = graft.ops.JournalOps.stateAt(store.scan(), col("seq") <= 4L).collect().toSeq
    assert(viaCkpt.map(_.toString).sorted === raw.map(_.toString).sorted)
    assert(store.latest().where($"ns" === "users" && $"ukey" === 2L)
      .select("payload").as[String].head() === """{"v":9}""")
  }

  test("manifest persists across close/reopen") {
    val path = freshPath
    val s1 = JournalStore.create(spark, path, epochSize = 2)
    s1.append(sampleDf)
    s1.checkpoint(1L)
    val s2 = JournalStore.open(spark, path)
    assert(s2.manifest.maxSeq === 3L)
    assert(s2.manifest.checkpoints === Seq(1L))
    assert(s2.epochSize === 2L)
    assert(s2.stateAt(3L).count() === 3) // users/1, users/2, carts/1
  }

  test("caller-assigned seqs are preserved (journal_write_segments path)") {
    val store = JournalStore.create(spark, freshPath, epochSize = 2)
    val withSeq = Seq(
      (10L, "users", 1L, ts("2024-01-01 00:00:01"), """{"v":1}""", 1.0),
      (11L, "users", 2L, ts("2024-01-01 00:00:02"), """{"v":2}""", 2.0),
      (12L, "users", 1L, ts("2024-01-01 00:00:03"), """{"v":3}""", 3.0),
      (13L, "carts", 1L, ts("2024-01-01 00:00:04"), """{"c":1}""", 4.0),
    ).toDF("seq", "ns", "ukey", "ts", "payload", "val")
    store.append(withSeq)
    assert(store.manifest.maxSeq === 13L)
    val stats = store.segmentStats().orderBy("epoch").collect()
    assert(stats.map(_.getAs[Number]("epoch").longValue).toSeq === Seq(5L, 6L))
  }

  test("append after compact (before vacuum) does not resurrect compacted-away files") {
    val store = JournalStore.create(spark, freshPath, epochSize = 2)
    store.append(sampleDf)
    store.compact(Long.MaxValue) // manifest now points at compacted files; old files still on disk
    store.append(sampleDf)
    // manifest files must be exactly: compacted set + this append's files
    val fromManifest = store.segmentStats().collect().map(_.toSeq).toSeq
    val fromData = store.segmentStatsFromData().collect().map(_.toSeq).toSeq
    assert(fromManifest === fromData) // no double-counted rows
    assert(store.scan().count() === 8)
  }

  test("double compact (before vacuum) does not resurrect previously-compacted files") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1)
    store.append(sampleDf) // 4 epochs, one row each
    val before = store.scan().collect().map(_.toString).sorted.toSeq
    store.compact(Long.MaxValue)
    // second compact while the FIRST compaction's victims are still on
    // disk — the manifest diff must be taken against the on-disk snapshot,
    // not m.files, or those victims get swept back in (duplicated rows)
    store.compact(Long.MaxValue)
    assert(store.scan().count() === 4)
    assert(store.scan().collect().map(_.toString).sorted.toSeq === before)
    val fromManifest = store.segmentStats().collect().map(_.toSeq).toSeq
    val fromData = store.segmentStatsFromData().collect().map(_.toSeq).toSeq
    assert(fromManifest === fromData)
  }

  test("openAt: versioned reader sees the pre-compact snapshot across compact+vacuum") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1)
    store.append(sampleDf) // 4 epochs, one row each
    val vPre = store.manifest.version
    val preFiles = store.manifest.files
    val preRows = store.scan().collect().map(_.toString).sorted.toSeq
    store.compact(upToEpoch = 4L) // swaps the manifest to the rewritten files
    assert(store.manifest.files !== preFiles)
    // a reader pinned before the compaction sees the OLD file set and data
    val pinned = store.openAt(vPre)
    assert(pinned.manifest.files === preFiles)
    assert(pinned.scan().collect().map(_.toString).sorted.toSeq === preRows)
    // default vacuum honors retention: the pinned version's files survive
    store.vacuum()
    assert(pinned.scan().collect().map(_.toString).sorted.toSeq === preRows)
    // pinned views are read-only
    intercept[IllegalArgumentException] { pinned.append(sampleDf) }
    intercept[IllegalArgumentException] { pinned.compact(Long.MaxValue) }
    // the data source exposes the same pin
    assert(spark.read.format("journal").option("asOfVersion", vPre.toString)
      .load(store.path).count() === 4)
    // aggressive vacuum(0) reclaims the old files AND their version
    // manifests, so openAt can never hand out a reader over missing data
    store.vacuum(retain = 0, graceMs = 0L)
    intercept[IllegalArgumentException] { store.openAt(vPre) }
    assert(store.scan().collect().map(_.toString).sorted.toSeq === preRows)
  }

  test("manifest version retention window prunes old version files") {
    val store = JournalStore.create(spark, freshPath, epochSize = 100)
    (1 to JournalStore.RetainedVersions + 3).foreach { _ =>
      store.append(Seq(("ns", 1L, ts("2024-01-01 00:00:01"), "p", 1.0))
        .toDF("ns", "ukey", "ts", "payload", "val"))
    }
    val vs = store.versions()
    assert(vs.size === JournalStore.RetainedVersions)
    assert(vs === (vs.min to vs.max)) // contiguous window
    assert(vs.max === store.manifest.version)
    // every retained version opens; one past the window does not
    vs.foreach(v => store.openAt(v))
    intercept[IllegalArgumentException] { store.openAt(vs.min - 1) }
  }

  test("manifest epoch stats equal the data-derived stats across appends") {
    val store = JournalStore.create(spark, freshPath, epochSize = 2)
    store.append(sampleDf)
    store.append(sampleDf) // second batch lands in later epochs
    val fromManifest = store.segmentStats().collect().map(_.toSeq).toSeq
    val fromData = store.segmentStatsFromData().collect().map(_.toSeq).toSeq
    assert(fromManifest === fromData)
    assert(fromManifest.nonEmpty)
  }

  test("schema evolution: new append columns merge into the manifest schema") {
    val store = JournalStore.create(spark, freshPath, epochSize = 2)
    store.append(sampleDf)
    val extra = Seq(("users", 9L, ts("2024-01-01 00:00:09"), "p9", 9.0, "T"))
      .toDF("ns", "ukey", "ts", "payload", "val", "tag")
    store.append(extra)
    // the manifest carries the union schema; readers plan against it —
    // deterministic under mixed-schema files (footer sampling isn't) —
    // and pre-evolution rows read the new column as null
    assert(store.manifest.schemaDdl.contains("tag"))
    val seg = store.readSegments()
    assert(seg.schema.fieldNames.contains("tag"))
    assert(seg.where($"ukey" === 9L).select("tag").as[String].collect().toSeq === Seq("T"))
    assert(seg.where($"tag".isNull).count() === 4)
    // evolution survives compaction: the rewrite reads through the
    // pinned schema, so it cannot drop evolved columns
    store.compact(Long.MaxValue)
    val after = store.readSegments()
    assert(after.where($"tag" === "T").count() === 1)
    assert(after.where($"tag".isNull).count() === 4)
    // and persists across close/reopen
    assert(JournalStore.open(spark, store.path).readSegments()
      .schema.fieldNames.contains("tag"))
  }

  test("nsStats: count-from-metadata equals data-derived counts, reads no files") {
    val store = JournalStore.create(spark, freshPath, epochSize = 2)
    store.append(sampleDf)
    store.append(sampleDf) // second batch spreads across later epochs
    val fromMeta = store.nsStats().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val fromData = store.scan().groupBy("ns").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(fromMeta === fromData)
    assert(fromMeta.nonEmpty)
    assert(store.nsStats().inputFiles.isEmpty, "must not open segment files")
    // counts survive compaction (stats describe data, not layout)
    store.compact(Long.MaxValue)
    assert(store.nsStats().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap === fromData)
  }

  test("history filters by ns and key in seq order") {
    val store = JournalStore.create(spark, freshPath)
    store.append(sampleDf)
    assert(store.history("users").count() === 3)
    val h = store.history("users", Some(1L)).select("payload").as[String].collect()
    assert(h.toSeq === Seq("""{"v":1}""", """{"v":3}"""))
  }

  test("compact folds old epochs into one file per (epoch, ns); vacuum removes orphans") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1)
    store.append(sampleDf)                   // 4 epochs, one row each
    store.append(Seq(("users", 3L, ts("2024-01-01 00:00:05"), "p", 5.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    val before = store.scan().collect().map(_.toString).sorted.toSeq
    val filesBefore = store.manifest.files.size
    store.compact(upToEpoch = 4L)
    // retain = 0: reclaim everything but the current manifest's files
    // (the default keeps files for the openAt() retention window)
    store.vacuum(retain = 0, graceMs = 0L)
    assert(store.scan().collect().map(_.toString).sorted.toSeq === before)
    assert(store.manifest.files.size <= filesBefore)
    // nothing unreferenced remains on disk
    val onDisk = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(store.path, "segments"))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.count(_.toString.endsWith(".parquet"))
      } finally st.close()
    }
    assert(onDisk === store.manifest.files.size)
  }

  test("protocol gate: a manifest stamped with a NEWER format refuses to " +
    "load instead of silently ignoring unknown fields") {
    val store = JournalStore.create(spark, freshPath, epochSize = 2)
    store.append(sampleDf)
    assert(store.scan().count() === 4L) // format 1 reads fine
    // simulate a future writer: bump the stamped format in place
    val mf = java.nio.file.Paths.get(store.path, "manifest.json")
    val bytes = new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
    assert(bytes.contains("\"formatVersion\":1"), bytes.take(120))
    java.nio.file.Files.write(mf,
      bytes.replace("\"formatVersion\":1", "\"formatVersion\":99")
        .getBytes("UTF-8"))
    val e = intercept[IllegalStateException](
      JournalStore.open(spark, store.path).scan().count())
    assert(e.getMessage.contains("newer library version"), e.getMessage)
    // and it must NOT read as "empty store" either (the silent path)
    val e2 = intercept[IllegalStateException](
      JournalStore.open(spark, store.path).manifest)
    assert(e2.getMessage.contains("format 99"), e2.getMessage)
  }

  test("vacuumDryRun reports the exact reclaim set and deletes nothing; " +
    "the real vacuum then removes precisely that set") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1)
    store.append(sampleDf) // 4 epochs, one row each
    store.compact(upToEpoch = 4L) // originals become reclaim candidates
    val plan = store.vacuumDryRun(retain = 0, graceMs = 0L)
    assert(plan.nonEmpty)
    assert(plan.exists(_._1 == "segment"), plan.mkString(", "))
    // the dry run destroyed nothing: every reported path still exists,
    // and reads are untouched
    plan.foreach { case (k, rel) =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(store.path, rel)), s"dry run deleted $k $rel")
    }
    assert(store.scan().count() === 4L)
    // the real sweep with the same knobs removes exactly the planned set
    store.vacuum(retain = 0, graceMs = 0L)
    plan.foreach { case (k, rel) =>
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(store.path, rel)), s"vacuum kept $k $rel")
    }
    assert(store.scan().count() === 4L)
    // and a post-vacuum dry run is empty — the plan converges
    assert(store.vacuumDryRun(retain = 0, graceMs = 0L).isEmpty)
  }

  test("snapshot isolation: files not referenced by the manifest are invisible") {
    val store = JournalStore.create(spark, freshPath, epochSize = 2)
    store.append(sampleDf)
    // drop a foreign parquet into the segment tree without a manifest commit
    val rogue = Seq(("users", 99L, ts("2024-01-01 00:09:09"), "ROGUE", 9.0, 99L, 49L))
      .toDF("ns", "ukey", "ts", "payload", "val", "seq", "epoch")
    rogue.write.mode("append").parquet(store.path + "/segments/epoch=49/ns=users")
    assert(store.scan().where($"payload" === "ROGUE").count() === 0)
    assert(store.scan().count() === 4)
  }

  test("seq assignment has no single-partition stage (scale-safe ingest)") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1000)
    val big = spark.range(0, 5000).selectExpr(
      "'users' AS ns", "id % 50 AS ukey",
      "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts",
      "concat('p', id) AS payload", "CAST(id AS DOUBLE) AS val")
    val assigned = store.assignSeqs(big, -1L)
    // the sorted stage must range-partition, never collapse to one task
    val plan = big.repartitionByRange(col("ts"), col("ns"), col("ukey"), col("payload"))
      .sortWithinPartitions("ts", "ns", "ukey", "payload")
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("SinglePartition"), plan)
    // dense, and ordered by the (ts, ns, ukey, payload) contract: seq
    // order must equal ts order here (ts is unique in this fixture)
    val rows = assigned.select("seq", "ts").collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq === (0L until 5000L))
    val byTs = rows.sortBy(_.getTimestamp(1).getTime).map(_.getLong(0)).toSeq
    assert(byTs === (0L until 5000L))
  }

  test("auto-checkpoint: stateAt after multi-epoch appends reads ckpt + <=1 epoch tail") {
    val store = JournalStore.create(spark, freshPath, epochSize = 10)
    // 3 appends of 12 rows: 36 seqs = 3+ epochs, NO manual checkpoint call
    (0 until 3).foreach { b =>
      val df = spark.range(0, 12).selectExpr(
        "'users' AS ns", "id % 5 AS ukey",
        s"timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,${b * 100} + id) AS ts",
        s"concat('b$b-', id) AS payload", "CAST(id AS DOUBLE) AS val")
      store.append(df)
    }
    val m = store.manifest
    assert(m.maxSeq === 35L)
    assert(m.checkpoints.nonEmpty, "append must checkpoint on epoch rollover")
    val last = m.checkpoints.max
    assert(last === 29L) // boundary of the last completed epoch
    // tail replay reads only epochs > the checkpointed boundary: with
    // ckpt at 29 and epochSize 10 the scan's partition filter floor must
    // be epoch >= (29+1)/10 = 3 — assert the actual filter bound
    val plan = store.stateAt(35L).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert("epoch#\\d+L? >= 3".r.findFirstIn(plan).isDefined, plan)
    assert("epoch#\\d+L? >= [012]\\b".r.findFirstIn(plan).isEmpty, plan)
    // and the state is identical to a full recompute from the raw scan
    val viaCkpt = store.stateAt(35L).collect().map(_.toString).sorted.toSeq
    val raw = graft.ops.JournalOps.stateAt(store.scan(), col("seq") <= 35L)
      .collect().map(_.toString).sorted.toSeq
    assert(viaCkpt === raw)
  }

  test("point-in-time reads past 32 live files plan only tail-epoch files " +
      "and start no listing job") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 10)
    // 10 one-epoch appends over 4 namespaces: one file per (epoch, ns)
    // per append = 40 live files, auto-checkpoints at 9, 19, …, 89
    (0 until 10).foreach { b =>
      store.append(spark.range(0, 10).selectExpr(
        "concat('n', id % 4) AS ns", "id % 3 AS ukey",
        s"timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,${b * 10} + id) AS ts",
        s"concat('b$b-', id) AS payload", "CAST(id AS DOUBLE) AS val"))
    }
    val m = store.manifest
    // past spark.sql.sources.parallelPartitionDiscovery.threshold: a read
    // naming every live file would run the distributed listing job
    assert(m.files.size > 32, m.files)
    def listing(jobs: Seq[TestSpark.Job]) =
      jobs.filter(_.description.startsWith("Listing leaf files"))
    def segmentFiles(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.toSeq.filter(_.contains("/segments/"))
    def epochOf(f: String) = "epoch=(\\d+)".r.findFirstMatchIn(f).get.group(1).toLong
    val oldest = m.checkpoints.min
    // on a checkpoint (empty tail), inside an epoch, at the head
    for (s <- Seq(oldest, oldest + 5, m.maxSeq)) {
      val c = m.checkpoints.filter(_ <= s).max
      val tail = ((c + 1) / 10 to s / 10).toSet
      val jobs = TestSpark.jobsDuring(store.stateAt(s).queryExecution.executedPlan)
      assert(listing(jobs).isEmpty, s"stateAt($s) started $jobs")
      val planned = segmentFiles(store.stateAt(s))
      assert(planned.forall(f => tail.contains(epochOf(f))), s"stateAt($s): $planned")
      assert(planned.size == m.files.count(f => tail.contains(epochOf(f))))

      def keyRead = spark.read.format("journal").option("asOfSeq", s).load(path)
        .where($"ns" === "n1" && $"ukey" === 1L)
      val srcJobs = TestSpark.jobsDuring(keyRead.queryExecution.executedPlan)
      assert(listing(srcJobs).isEmpty, s"asOfSeq=$s started $srcJobs")
      // the plan the source hands Spark for that read
      val keyed = segmentFiles(store.stateAtIn(m, s, Some("n1"), Some(1L)))
      assert(keyed.forall(f => f.contains("/ns=n1/") && tail.contains(epochOf(f))),
        s"asOfSeq=$s keyed: $keyed")
      assert(keyRead.collect().map(_.toString).toSeq ===
        store.stateAt(s).where($"ns" === "n1" && $"ukey" === 1L)
          .collect().map(_.toString).toSeq)
    }
  }

  private def twoEpochStore(epochSize: Long = 4): JournalStore = {
    val store = JournalStore.create(spark, freshPath, epochSize)
    def batch(keys: Seq[Long], tsBase: Int) = keys.zipWithIndex.map { case (k, i) =>
      ("users", k, ts(f"2024-01-01 00:00:${tsBase + i}%02d"), s"p$k", 1.0)
    }.toDF("ns", "ukey", "ts", "payload", "val")
    store.append(batch(Seq(3L, 1L, 2L, 0L), 1))    // seqs 0-3 → epoch 0, keys 0-3
    store.append(batch(Seq(13L, 11L, 12L, 10L), 11)) // seqs 4-7 → epoch 1, keys 10-13
    store
  }

  test("manifest key stats prune segment files for key-targeted reads") {
    val store = twoEpochStore()
    val m = store.manifest
    assert(m.kstats.exists(k =>
      k.epoch == 0 && k.ns == "users" && k.minKey == 0 && k.maxKey == 3))
    assert(m.kstats.exists(k =>
      k.epoch == 1 && k.ns == "users" && k.minKey == 10 && k.maxKey == 13))
    val full = store.history("users")
    val pruned = store.history("users", Some(12L))
    // the epoch whose key range excludes 12 is dropped BEFORE scan planning
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"${pruned.inputFiles.toSeq} vs ${full.inputFiles.toSeq}")
    assert(pruned.collect().map(_.toString).toSeq ===
      full.where($"ukey" === 12L).collect().map(_.toString).toSeq)
    // a key outside every epoch's range reads no files at all
    assert(store.history("users", Some(99L)).inputFiles.isEmpty)
    assert(store.history("users", Some(99L)).count() === 0)
    // stats round-trip the manifest swap (reopen reads the same ranges)
    assert(JournalStore.open(spark, store.path).manifest.kstats === m.kstats)
  }

  test("key stats survive compaction; clustered compact sorts files by key") {
    val store = twoEpochStore()
    store.compact(Long.MaxValue, clusterByKey = true)
    // stats describe data, not layout — pruning still works post-compact
    val full = store.history("users")
    val pruned = store.history("users", Some(2L))
    assert(pruned.inputFiles.length < full.inputFiles.length)
    assert(pruned.select("payload").as[String].collect().toSeq === Seq("p2"))
    // the rewritten epoch-0 file is (ukey, seq)-sorted: append order was
    // keys (3,1,2,0); clustering makes parquet row-group stats selective
    val e0 = store.manifest.files.filter(f => f.contains("epoch=0"))
    assert(e0.size === 1)
    val keys = spark.read.parquet(store.path + "/segments/" + e0.head)
      .select("ukey").as[Long].collect().toSeq
    assert(keys === keys.sorted, s"clustered file not key-sorted: $keys")
  }

  test("all-null ukeys get an empty key range that prunes equality probes") {
    val store = JournalStore.create(spark, freshPath, epochSize = 4)
    store.append(spark.range(1).selectExpr("'nullns' AS ns",
      "CAST(NULL AS BIGINT) AS ukey", "timestamp'2024-01-01 00:00:09' AS ts",
      "'pn' AS payload", "CAST(1.0 AS DOUBLE) AS val"))
    val k = store.manifest.kstats.find(_.ns == "nullns")
    assert(k.exists(s => s.minKey > s.maxKey)) // empty range sentinel
    // equality probe reads nothing (NULL never equals); full-ns read intact
    assert(store.history("nullns", Some(5L)).inputFiles.isEmpty)
    assert(store.history("nullns").count() === 1)
  }

  test("journal source file-prunes on pushed ukey equality") {
    val store = twoEpochStore()
    assert(store.scanUnorderedPruned(Some("users"), Some(12L))
      .inputFiles.length === 1)
    // end-to-end through the data source: pushed (ns, ukey) filters
    // route through the pruned scan and stay correct
    val out = spark.read.format("journal").load(store.path)
      .where($"ns" === "users" && $"ukey" === 12L)
    assert(out.select("payload").as[String].collect().toSeq === Seq("p12"))
  }

  test("per-file stats never prune pre-stats files (no false-negative skip)") {
    val store = JournalStore.create(spark, freshPath, epochSize = 100)
    def batch(keys: Seq[Long], tsBase: Int) = keys.zipWithIndex.map { case (k, i) =>
      ("users", k, ts(f"2024-01-01 00:00:${tsBase + i}%02d"), s"p$k", 1.0)
    }.toDF("ns", "ukey", "ts", "payload", "val")
    store.append(batch(Seq(0L, 1L, 2L, 3L), 1))
    // simulate a pre-stats store: strip the stats the first append
    // recorded, as if its files predated the per-file-stats upgrade
    JournalStore.writeManifest(store.path, store.manifest.copy(fstats = Nil))
    store.append(batch(Seq(10L, 11L, 12L, 13L), 11)) // same (epoch, ns)
    // the probed key lives ONLY in the stats-less first file — a merged
    // (epoch, ns) range would cover just 10..13 and drop it silently
    val h = store.history("users", Some(2L))
    assert(h.count() === 1)
    assert(h.select("payload").as[String].head() === "p2")
    // pruning still engages for the file that does carry stats: a miss
    // key reads only the stats-less file, never the covered one
    assert(store.history("users", Some(99L)).inputFiles.length === 1)
  }

  test("stateAtTs: ts-range file pruning + checkpoint shortcut when certified") {
    val store = JournalStore.create(spark, freshPath, epochSize = 4)
    def batch(minute: Int) = (0 until 4).map { i =>
      ("users", (i % 3).toLong, ts(f"2024-01-01 00:0$minute:$i%02d"),
        s"p$minute-$i", 1.0)
    }.toDF("ns", "ukey", "ts", "payload", "val")
    store.append(batch(1)) // epoch 0, minute 1
    store.append(batch(2)) // epoch 1, minute 2 (auto-ckpt at seq 3)
    store.append(batch(3)) // epoch 2, minute 3 (auto-ckpt at seq 7)
    assert(store.manifest.checkpoints === Seq(3L, 7L))
    val t = ts("2024-01-01 00:02:59")
    val st = store.stateAtTs(t)
    // the epoch whose every ts exceeds the probe is not even scanned,
    // and the certified checkpoint at 7 covers epochs 0-1: the plan
    // names no segment file at all
    val segFiles = st.inputFiles.filter(_.contains("/segments/"))
    assert(segFiles.isEmpty, segFiles.toSeq)
    // and the result equals the brute-force fold over the raw scan
    val brute = store.scan().where($"ts" <= t)
      .groupBy("ns", "ukey")
      .agg(max_by(col("payload"), col("seq")).as("payload"),
           max("seq").as("last_seq"))
    assert(st.collect().map(_.toString).sorted.toSeq ===
      brute.collect().map(_.toString).sorted.toSeq)
    // a probe before all data answers empty without error
    assert(store.stateAtTs(ts("2024-01-01 00:00:30")).count() === 0)
  }

  test("stateAtTs excludes null-ts rows even via the checkpoint shortcut") {
    val store = JournalStore.create(spark, freshPath, epochSize = 4)
    // a null-ts row rides along in epoch 0; seqs are assigned with null
    // ts sorting first, auto-checkpoint lands at the epoch boundary
    val rows = spark.sql(
      "SELECT * FROM VALUES " +
        "('users', 9L, CAST(NULL AS TIMESTAMP), 'ghost', 0.0D), " +
        "('users', 1L, TIMESTAMP'2024-01-01 00:01:00', 'p1', 1.0D), " +
        "('users', 2L, TIMESTAMP'2024-01-01 00:02:00', 'p2', 1.0D), " +
        "('users', 3L, TIMESTAMP'2024-01-01 00:03:00', 'p3', 1.0D) " +
        "AS t(ns, ukey, ts, payload, val)")
    store.append(rows)
    store.append(spark.sql(
      "SELECT * FROM VALUES " +
        "('users', 4L, TIMESTAMP'2024-01-01 00:04:00', 'p4', 1.0D), " +
        "('users', 5L, TIMESTAMP'2024-01-01 00:05:00', 'p5', 1.0D), " +
        "('users', 6L, TIMESTAMP'2024-01-01 00:06:00', 'p6', 1.0D), " +
        "('users', 7L, TIMESTAMP'2024-01-01 00:07:00', 'p7', 1.0D) " +
        "AS t(ns, ukey, ts, payload, val)"))
    assert(store.manifest.checkpoints.nonEmpty)
    val t = ts("2024-01-01 00:05:30")
    val st = store.stateAtTs(t)
    // ts <= t excludes the null-ts row; the seq-keyed checkpoint holds
    // it, so the certificate must refuse any checkpoint covering that
    // file (nullTs > 0) and replay instead
    assert(st.where($"ukey" === 9L).count() === 0, "null-ts row leaked via checkpoint")
    val brute = store.scan().where($"ts" <= t)
      .groupBy("ns", "ukey")
      .agg(max_by(col("payload"), col("seq")).as("payload"),
           max("seq").as("last_seq"))
    assert(st.collect().map(_.toString).sorted.toSeq ===
      brute.collect().map(_.toString).sorted.toSeq)
  }

  test("explicit checkpoint older than the retained window is kept, not dropped") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1)
    (0 until JournalStore.RetainedCheckpoints + 4).foreach { i =>
      store.append(Seq(("users", (i % 3).toLong,
        ts(f"2024-01-01 00:00:$i%02d"), s"p$i", 1.0))
        .toDF("ns", "ukey", "ts", "payload", "val"))
    }
    assert(!store.manifest.checkpoints.contains(2L)) // trimmed out by retention
    store.checkpoint(2L) // explicit deep checkpoint below the window
    assert(store.manifest.checkpoints.contains(2L),
      "an explicit checkpoint call must not be a silent no-op")
    val viaCkpt = store.stateAt(2L).collect().map(_.toString).sorted.toSeq
    val raw = graft.ops.JournalOps.stateAt(store.scan(), col("seq") <= 2L)
      .collect().map(_.toString).sorted.toSeq
    assert(viaCkpt === raw)
  }

  test("a truncated version file reads as absent, not a parser crash") {
    val store = JournalStore.create(spark, freshPath, epochSize = 10)
    store.append(sampleDf)
    val v = store.manifest.version
    // simulate a file damaged outside the atomic-rename protocol
    java.nio.file.Files.write(
      java.nio.file.Paths.get(store.path, s"manifest.json.v$v"),
      """{"epochSize":10,"maxSeq":""".getBytes)
    intercept[IllegalArgumentException] { store.openAt(v) } // clean error
    store.vacuum() // must not throw on the unreadable version
    assert(store.scan().count() === 4)
  }

  test("checkpoint retention: manifest keeps newest K; vacuum reclaims dirs") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1)
    (0 until JournalStore.RetainedCheckpoints + 4).foreach { i =>
      store.append(Seq(("users", (i % 3).toLong,
        ts(f"2024-01-01 00:00:$i%02d"), s"p$i", 1.0))
        .toDF("ns", "ukey", "ts", "payload", "val"))
    }
    val m = store.manifest
    assert(m.checkpoints.size <= JournalStore.RetainedCheckpoints)
    assert(m.checkpoints === m.checkpoints.sorted)
    store.vacuum(retain = 0, graceMs = 0L)
    val onDisk = {
      val st = java.nio.file.Files.list(
        java.nio.file.Paths.get(store.path, "checkpoints"))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .collect { case s if s.startsWith("seq=") => s.stripPrefix("seq=").toLong }
          .toSet
      } finally st.close()
    }
    assert(onDisk === m.checkpoints.toSet, "vacuum must reclaim trimmed checkpoint dirs")
    // deep time travel below the retained window still answers correctly
    // (longer replay instead of a missing-checkpoint failure)
    val viaStore = store.stateAt(2L).collect().map(_.toString).sorted.toSeq
    val raw = graft.ops.JournalOps.stateAt(store.scan(), col("seq") <= 2L)
      .collect().map(_.toString).sorted.toSeq
    assert(viaStore === raw)
  }

  test("single-writer CAS: a stale commit fails loudly instead of dropping files") {
    val store = JournalStore.create(spark, freshPath, epochSize = 10)
    store.append(sampleDf)
    val stale = store.manifest      // writer A snapshots here...
    store.append(sampleDf)          // ...writer B commits first
    intercept[java.util.ConcurrentModificationException] {
      JournalStore.writeManifest(store.path, stale.copy(maxSeq = 99L))
    }
    // the committed state is writer B's, untouched by the failed commit
    assert(store.manifest.maxSeq === 7L)
    assert(store.scan().count() === 8)
  }

  test("version-file arbiter: both writers passing the CAS check → one loses loudly") {
    // The read-version check is check-then-act: two writers that both
    // snapshot version N both pass it. The version file is the real
    // arbiter — exactly one lands manifest.json.v(N+1); the loser throws
    // BEFORE overwriting the winner's manifest.
    val store = JournalStore.create(spark, freshPath, epochSize = 10)
    store.append(sampleDf)
    val m = store.manifest
    // simulate the winner: its v(N+1) is on disk but manifest.json isn't
    // swapped yet (the loser's stale-version check still passes)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(store.path, "manifest.json"),
      java.nio.file.Paths.get(store.path, s"manifest.json.v${m.version + 1}"))
    intercept[java.util.ConcurrentModificationException] {
      store.append(sampleDf)
    }
    // the arbitrated manifest is untouched by the losing commit
    assert(store.manifest.version === m.version)
    assert(store.scan().count() === 4)
  }

  test("corrupt current manifest is a loud error, never an empty store") {
    // parseManifest's None-tolerance exists for RETAINED version files
    // (an unreadable one only shrinks the openAt window). The CURRENT
    // manifest must never silently read as empty: append would restart
    // versions from 0 and vacuum would delete every segment file.
    val store = JournalStore.create(spark, freshPath, epochSize = 10)
    store.append(sampleDf)
    val mPath = java.nio.file.Paths.get(store.path, "manifest.json")
    val good = java.nio.file.Files.readAllBytes(mPath)
    java.nio.file.Files.write(mPath, "{definitely not json".getBytes)
    val e = intercept[IllegalStateException] { store.manifest }
    assert(e.getMessage.contains("unparseable"))
    intercept[IllegalStateException] { store.append(sampleDf) }
    intercept[IllegalStateException] { store.vacuum() }
    intercept[IllegalStateException] { JournalStore.open(spark, store.path) }
    // every segment file survived the corrupted interlude; restoring the
    // manifest (here: the bytes, in production: a retained version file)
    // restores the store exactly
    java.nio.file.Files.write(mPath, good)
    assert(store.scan().count() === 4)
    assert(store.manifest.maxSeq === 3L)
  }

  test("hostile namespace (comma, quote, colon, space) round-trips the manifest") {
    // non-ASCII would also round-trip the MANIFEST fine, but this box's
    // filesystem encoding (ASCII file.encoding) can't create such a
    // partition directory at all, so the fixture sticks to the chars
    // that attack the JSON format itself
    val store = JournalStore.create(spark, freshPath, epochSize = 10)
    val ns = """a,b:"c" {d}"""
    store.append(Seq((ns, 1L, ts("2024-01-01 00:00:01"), "p", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    val reopened = JournalStore.open(spark, store.path)
    assert(reopened.manifest.kstats.map(_.ns) === Seq(ns))
    assert(store.scan().select("ns").as[String].head() === ns)
    assert(store.history(ns).count() === 1)
    assert(store.latest().where($"ns" === ns).count() === 1)
  }

  test("append fails fast on a conflicting column type (no deferred read error)") {
    val store = JournalStore.create(spark, freshPath, epochSize = 10)
    store.append(sampleDf)
    val bad = Seq(("users", 9L, ts("2024-01-01 00:00:09"), "p9", "oops"))
      .toDF("ns", "ukey", "ts", "payload", "val") // val STRING vs pinned DOUBLE
    intercept[IllegalArgumentException] { store.append(bad) }
    // the refused batch left no trace — validation precedes any write
    assert(store.scan().count() === 4)
    assert(JournalStore.open(spark, store.path).manifest.maxSeq === 3L)
  }

  test("history reads prune namespace partitions (directory-level)") {
    val store = JournalStore.create(spark, freshPath)
    store.append(sampleDf)
    val p = store.history("users").queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters"), p)
    assert(p.contains("ns"), p)
  }

  test("age-based vacuum grace: files dropped by a fresh compact survive a default-grace vacuum") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1)
    store.append(sampleDf) // 4 epochs, one row each
    val vPre = store.manifest.version
    val pinned = store.openAt(vPre)
    val preRows = pinned.scan().collect().map(_.toString).sorted.toSeq
    store.compact(upToEpoch = 4L) // drops the pre-compact files from the live manifest
    // retain = 0 — the COUNT window protects nothing — yet the default
    // grace must: everything here is seconds old, so the pre-compact
    // version manifest and its segment files all stay, and the reader
    // pinned before the compact is still fully readable
    store.vacuum(retain = 0)
    assert(pinned.scan().collect().map(_.toString).sorted.toSeq === preRows)
    assert(store.openAt(vPre).scan().count() === 4) // version file kept too
    // aging past the grace is what actually reclaims: simulate by mtime
    import java.nio.file.{Files => JF, Paths => JP}
    import java.nio.file.attribute.FileTime
    val old = FileTime.fromMillis(System.currentTimeMillis()
      - JournalStore.DefaultVacuumGraceMs - 60000L)
    JF.walk(JP.get(store.path)).forEach { p =>
      if (!JF.isDirectory(p)) JF.setLastModifiedTime(p, old) }
    store.vacuum(retain = 0)
    intercept[IllegalArgumentException] { store.openAt(vPre) }
    assert(store.scan().collect().map(_.toString).sorted.toSeq === preRows)
  }

  test("auto-compaction bounds per-directory live files; state identical to uncompacted twin") {
    // streaming-style ingest: 20 tiny appends into the same epoch range.
    // The policy store must end with ≤ threshold live files per
    // (epoch, ns) directory; a twin without the policy must hold the
    // SAME rows and state — compaction is layout, never data.
    val threshold = 4
    def batch(i: Int) = Seq(
      ("users", (i % 3).toLong, ts(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"),
        s"""{"b":$i}""", i.toDouble),
      ("carts", (i % 2).toLong, ts(f"2024-01-02 00:${i / 60}%02d:${i % 60}%02d"),
        s"""{"c":$i}""", i.toDouble),
    ).toDF("ns", "ukey", "ts", "payload", "val")
    val auto = JournalStore.create(spark, freshPath, epochSize = 10)
      .withAutoCompact(threshold)
    val plain = JournalStore.create(spark, freshPath, epochSize = 10)
    (0 until 20).foreach { i => auto.append(batch(i)); plain.append(batch(i)) }
    // live-file bound, per directory, from the committed manifest
    val nsRe = """ns=([^/]+)""".r
    val perDir = JournalStore.open(spark, auto.path).manifest.files
      .groupBy(f => (f.takeWhile(_ != '/'), nsRe.findFirstMatchIn(f).map(_.group(1))))
    assert(perDir.nonEmpty)
    perDir.foreach { case (dir, fs) =>
      assert(fs.size <= threshold, s"$dir has ${fs.size} live files")
    }
    // without the policy the same ingest fragments past the threshold
    assert(JournalStore.open(spark, plain.path).manifest.files
      .groupBy(f => (f.takeWhile(_ != '/'), nsRe.findFirstMatchIn(f).map(_.group(1))))
      .exists(_._2.size > threshold))
    // identical data and identical state
    def rows(s: JournalStore) =
      s.scan().select("seq", "ns", "ukey", "ts", "payload", "val")
        .orderBy("seq").collect().map(_.toString).toSeq
    assert(rows(auto) === rows(plain))
    def state(s: JournalStore) =
      s.stateAt(35L).orderBy("ns", "ukey").collect().map(_.toString).toSeq
    assert(state(auto) === state(plain))
    // key-targeted pruning still works over the merged per-file stats
    assert(auto.latest().where($"ns" === "users" && $"ukey" === 1L).count() === 1)
  }

  test("deleteWhere: ns+ukey Int-literal equality erases across files, retains the rest") {
    val store = JournalStore.create(spark, freshPath, epochSize = 100)
    store.append(sampleDf)
    store.append(Seq(
      ("users", 1L, ts("2024-01-01 00:00:06"), """{"v":6}""", 6.0),
      ("users", 3L, ts("2024-01-01 00:00:07"), """{"v":7}""", 7.0),
    ).toDF("ns", "ukey", "ts", "payload", "val"))
    // Int literal 1 → the analyzer inserts cast(1 as bigint); the fold
    // must still yield ukey=1 pruning AND a correct erase
    val n = store.deleteWhere($"ns" === "users" && $"ukey" === 1)
    assert(n === 3L) // seqs 0, 2 from batch 1 + the batch-2 users/1 row
    assert(store.scan().where($"ns" === "users" && $"ukey" === 1L).count() === 0)
    assert(store.scan().count() === 3) // users/2, carts/1, users/3 survive
    assert(store.latest().where($"ns" === "users" && $"ukey" === 3L).count() === 1)
  }

  test("deleteWhere: attribute-side narrowing cast must not prune files (silent-retention bug)") {
    // Legacy cast semantics: cast(2^32+5 AS INT) truncates to 5, so BOTH
    // rows match ukey.cast("int") === 5 even though they live in
    // different files with disjoint key ranges. Peeling the attribute
    // cast would prune the wide-key file as "ukey=5 can't be there" and
    // its matching row would silently survive the erase.
    val prev = spark.conf.get("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val store = JournalStore.create(spark, freshPath, epochSize = 100)
      store.append(Seq(("users", 5L, ts("2024-01-01 00:00:01"), """{"a":1}""", 1.0))
        .toDF("ns", "ukey", "ts", "payload", "val"))
      store.append(Seq(("users", (1L << 32) + 5L, ts("2024-01-01 00:00:02"), """{"a":2}""", 2.0))
        .toDF("ns", "ukey", "ts", "payload", "val"))
      val n = store.deleteWhere($"ukey".cast("int") === 5)
      assert(n === 2L, "both files' matching rows must be erased")
      assert(store.scan().count() === 0)
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("deleteWhere: non-equality predicate falls back to no pruning and erases correctly") {
    val store = JournalStore.create(spark, freshPath, epochSize = 100)
    store.append(sampleDf)
    val n = store.deleteWhere($"val" > 2.0)
    assert(n === 2L) // val 3.0 and 4.0
    assert(store.scan().select("val").as[Double].collect().toSeq.sorted === Seq(1.0, 2.0))
    // seqs of retained rows are preserved — erasure never renumbers
    assert(store.scan().select("seq").as[Long].collect().toSeq.sorted === Seq(0L, 1L))
  }

  test("deleteWhere: no-match predicate returns 0 and leaves the manifest untouched") {
    val store = JournalStore.create(spark, freshPath, epochSize = 100)
    store.append(sampleDf)
    val filesBefore = store.manifest.files
    assert(store.deleteWhere($"ns" === "nosuch") === 0L)
    assert(store.manifest.files === filesBefore)
    assert(store.scan().count() === 4)
  }

  test("deleteWhere: checkpoints are dropped (erased payloads must not survive in state)") {
    val store = JournalStore.create(spark, freshPath, epochSize = 2)
    store.append(sampleDf)
    store.checkpoint(3L)
    assert(store.manifest.checkpoints.nonEmpty)
    val n = store.deleteWhere($"ns" === "users" && $"ukey" === 1)
    assert(n === 2L)
    assert(store.manifest.checkpoints.isEmpty, "checkpoint may embed erased payloads")
    // state rebuilt from raw history no longer shows the erased key
    assert(store.latest().where($"ns" === "users" && $"ukey" === 1L).count() === 0)
    assert(store.latest().where($"ns" === "users" && $"ukey" === 2L)
      .select("payload").as[String].head() === """{"v":2}""")
  }

  test("fstats sidecar: 10k-file store loads O(1) root JSON, stats live in parquet parts") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 100)
    store.append(sampleDf)
    // Synthesize a 100 TB-shaped manifest: 10k files, each with real
    // per-file stats AND an 8 KiB bloom — inline these are ~100 MB of
    // JSON; the sidecar keeps the root at the file-name list.
    val bloom = {
      val bf = org.apache.spark.util.sketch.BloomFilter.create(
        JournalStore.BloomItems, JournalStore.BloomBits)
      bf.putLong(42L)
      val out = new java.io.ByteArrayOutputStream(); bf.writeTo(out)
      java.util.Base64.getEncoder.encodeToString(out.toByteArray)
    }
    val m0 = store.manifest
    val synthFiles = (0 until 10000).map(i => s"epoch=9/ns=synth/part-$i.parquet")
    val synthStats = synthFiles.zipWithIndex.map { case (f, i) =>
      JournalStore.FileStat(f, 10L, i * 10L, i * 10L + 9L,
        i * 100L, i * 100L + 99L, 0L, 1L, 0L, bloom)
    }
    JournalStore.writeManifest(path, m0.copy(
      files = m0.files ++ synthFiles,
      fstats = FileStatsSidecar.appended(m0.fstats, synthStats)))
    // root JSON: O(file list), not O(files x bloom) — with 10k inline
    // blooms it would be >100 MB; the sidecar root stays near the bare
    // file-name list
    val rootBytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(path, "manifest.json"))
    assert(rootBytes < 800L * 1024, s"root manifest is $rootBytes bytes")
    assert(!new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "manifest.json"))).contains(bloom))
    // parts exist and carry the stats; reopening loads them lazily but
    // completely, bloom bytes round-tripped exactly
    val re = JournalStore.open(spark, path).manifest
    assert(re.fstats.isInstanceOf[LazyFileStats])
    assert(re.fstats.size === synthStats.size + m0.fstats.size)
    val reMap = re.fstats.map(s => s.file -> s).toMap
    synthStats.foreach { s => assert(reMap(s.file) === s) }
    // the sidecar reads DISTRIBUTEDLY as a DataFrame (the 10^6-file
    // regime's stats-analytics path): full row count, exact values
    val statsDf = JournalStore.open(spark, path).fileStats()
    assert(statsDf.count() === re.fstats.size)
    val row = statsDf.where($"file" === "epoch=9/ns=synth/part-7.parquet")
      .select("rows", "minSeq", "maxSeq", "minKey", "maxKey").head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3), row.getLong(4)) === ((10L, 70L, 79L, 700L, 799L)))
    // a further append writes ONE new delta part; prior parts untouched
    val partsBefore = FileStatsSidecar.partsOf(re.fstats).get
    store.append(Seq(("users", 9L, ts("2024-01-02 00:00:00"), """{"z":1}""", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    val partsAfter = FileStatsSidecar.partsOf(
      JournalStore.open(spark, path).manifest.fstats).get
    assert(partsAfter.size === partsBefore.size + 1)
    assert(partsBefore.forall(partsAfter.contains))
  }

  test("fstats sidecar: part count is capped by consolidation; vacuum sweeps dead parts") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 1000)
    // far more commits than MaxParts: without consolidation the part
    // list would grow one per append
    (0 until FileStatsSidecar.MaxParts + 8).foreach { i =>
      store.append(Seq(("users", i.toLong, ts("2024-01-01 00:00:01"),
        s"""{"i":$i}""", i.toDouble)).toDF("ns", "ukey", "ts", "payload", "val"))
    }
    val m = store.manifest
    val parts = FileStatsSidecar.partsOf(m.fstats).get
    assert(parts.size <= FileStatsSidecar.MaxParts + 1,
      s"parts grew unbounded: ${parts.size}")
    // stats remain complete and per-file exact through consolidation
    assert(m.fstats.size === m.files.size)
    assert(m.fstats.map(_.rows).sum === FileStatsSidecar.MaxParts + 8)
    // vacuum(0) with no grace: only the current version's parts survive
    store.vacuum(retain = 0, graceMs = 0L)
    val onDisk = {
      val st = java.nio.file.Files.list(FileStatsSidecar.dir(path))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString).toSet
      } finally st.close()
    }
    assert(onDisk === parts.toSet, "vacuum must keep exactly the live parts")
    // pruning still works off the sidecar after the sweep
    assert(store.latest().where($"ns" === "users" && $"ukey" === 3L).count() === 1)
  }

  test("root sidecar: 10k-file manifest keeps root JSON O(1) bytes; append adds one delta part") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 100)
    store.append(sampleDf)
    // Synthesize the 100 TB shape on the ROOT lists themselves: 10k
    // file names + per-epoch and per-(epoch, ns) stats. Inline, the
    // file-name array alone is ~400 KB of JSON parsed on the driver at
    // EVERY snapshot load and every commit's CAS re-read; the root
    // sidecar keeps the JSON at scalars + part names.
    val m0 = store.manifest
    val synthFiles = (0 until 10000).map(i => s"epoch=9/ns=synth/part-$i.parquet")
    val synthStats = (0 until 500).map(e =>
      JournalStore.EpochStat(100L + e, 100L, e * 100L, e * 100L + 99L))
    val synthK = (0 until 500).map(e =>
      JournalStore.KeyStat(100L + e, "synth", 0L, 999L, 100L))
    JournalStore.writeManifest(path, m0.copy(
      files = m0.files ++ synthFiles,
      stats = m0.stats ++ synthStats,
      kstats = m0.kstats ++ synthK))
    def rootBytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(path, "manifest.json"))
    // O(1): scalars, schema DDL, checkpoint list, two part-name lists.
    // 10k inline names would be ~400 KB; the bound pins independence
    // from file count, not a formatting accident.
    assert(rootBytes < 4096L, s"root manifest is $rootBytes bytes")
    // round-trip: lists load lazily but completely, merged exactly
    val re = JournalStore.open(spark, path).manifest
    assert(re.files.isInstanceOf[RootSidecar.FilesView])
    assert(re.files.size === m0.files.size + 10000)
    assert(re.stats.size === m0.stats.size + 500)
    assert(re.kstats.size === m0.kstats.size + 500)
    assert(re.stats.filter(_.epoch == 357L) ===
      Seq(JournalStore.EpochStat(357L, 100L, 25700L, 25799L)))
    assert(re.kstats.filter(k => k.epoch == 357L && k.ns == "synth") ===
      Seq(JournalStore.KeyStat(357L, "synth", 0L, 999L, 100L)))
    // a further append commits ONE new delta part; base parts untouched,
    // and the root JSON stays O(1)
    val partsBefore = RootSidecar.partsOf(re.files).get
    store.append(Seq(("users", 9L, ts("2024-01-02 00:00:00"), """{"z":1}""", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    val m2 = JournalStore.open(spark, path).manifest
    val partsAfter = RootSidecar.partsOf(m2.files).get
    assert(partsAfter.size === partsBefore.size + 1)
    assert(partsBefore.forall(partsAfter.contains))
    assert(rootBytes < 4096L, s"root manifest grew to $rootBytes bytes")
    // the delta merged in: new file visible, epoch stats advanced
    assert(m2.files.size === re.files.size + 1)
    assert(m2.maxSeq === re.maxSeq + 1)
    // the append's real file landed in the merged list and on disk
    val newNames = m2.files.toSet -- re.files.toSet
    assert(newNames.size === 1)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "segments", newNames.head)))
  }

  test("concurrent writers: optimistic retry lands both commit streams, no lost rows, seqs disjoint") {
    val path = freshPath
    JournalStore.create(spark, path, epochSize = 1000)
    // Two writer handles on one store, each appending its own batches
    // from its own thread with no external coordination: every commit
    // CAS-races the other writer, and losers must rebase (re-read, re-
    // assign seqs above the winner, re-commit) rather than fail or drop.
    val perWriter = 4
    val rowsPerBatch = 5
    def writerRun(tag: String): () => Unit = () => {
      val store = JournalStore.open(spark, path)
      (0 until perWriter).foreach { i =>
        val rows = (0 until rowsPerBatch).map { j =>
          (tag, i * 100L + j, ts("2024-01-01 00:00:01"), s"""{"w":"$tag","b":$i,"r":$j}""", 1.0)
        }
        store.append(rows.toDF("ns", "ukey", "ts", "payload", "val"))
      }
    }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq("wa", "wb").map { tag =>
      new Thread(() => {
        try writerRun(tag)()
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(600000))
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek()).map(_.toString)}")
    val store = JournalStore.open(spark, path)
    val total = 2 * perWriter * rowsPerBatch
    val seqs = store.scan().select("seq").as[Long].collect().sorted.toSeq
    // no lost rows, no duplicated seqs: the full dense range landed
    assert(seqs === (0L until total.toLong))
    assert(store.scan().where($"ns" === "wa").count() === perWriter * rowsPerBatch)
    assert(store.scan().where($"ns" === "wb").count() === perWriter * rowsPerBatch)
    // every manifest-listed file exists on disk (no winner's file was
    // dropped by a loser's stale file list)
    val m = store.manifest
    m.files.foreach { f =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "segments", f)), s"missing $f")
    }
    // stats stayed exact through the races (count-from-metadata path)
    assert(m.stats.map(_.rows).sum === total.toLong)
  }

  test("per-writer batch marks: two sinks' batch-id spaces never collide; replays still dedup") {
    val path = freshPath
    val store = JournalStore.create(spark, path, epochSize = 1000)
    def batch(tag: String, k: Long) = Seq(
      (tag, k, ts("2024-01-01 00:00:01"), s"""{"t":"$tag"}""", 1.0)
    ).toDF("ns", "ukey", "ts", "payload", "val")
    // sink A commits its batch 0, then sink B commits ITS batch 0 —
    // with a shared scalar mark B's batch would read as a replay and
    // silently vanish; per-writer marks keep the spaces disjoint
    store.append(batch("a", 1L), Some(0L), "sinkA")
    store.append(batch("b", 1L), Some(0L), "sinkB")
    assert(store.scan().count() === 2)
    // a genuine replay (recovery re-delivers A's batch 0) IS deduped
    store.append(batch("a", 1L), Some(0L), "sinkA")
    assert(store.scan().count() === 2)
    // progress per writer: A advances to batch 1 while B replays 0
    store.append(batch("a", 2L), Some(1L), "sinkA")
    store.append(batch("b", 1L), Some(0L), "sinkB")
    assert(store.scan().count() === 3)
    // marks survive the manifest round-trip
    val m = JournalStore.open(spark, path).manifest
    assert(m.writerMarks === Map("sinkA" -> 1L, "sinkB" -> 0L))
    // the anonymous writer keeps the legacy scalar mark semantics
    store.append(batch("c", 1L), Some(5L))
    store.append(batch("c", 2L), Some(5L))
    assert(store.scan().where($"ns" === "c").count() === 1)
  }

  test("z-order compaction: second predicate column regains row-group skipping vs single-axis") {
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    // small row groups so one compacted file holds many (the unit the
    // reader's predicate pushdown skips at)
    hc.setInt("parquet.block.size", 64 * 1024)
    try {
      // ukey and val are INDEPENDENT dimensions (val = multiplicative
      // hash of i): a (ukey, seq) sort gives val no locality at all
      val n = 60000
      def mkStore(tag: String): (String, JournalStore) = {
        val path = freshPath
        val store = JournalStore.create(spark, path, epochSize = 1000000)
        val rows = spark.range(n.toLong).select(
          lit("ev").as("ns"),
          (col("id") % 1000L).as("ukey"),
          lit(ts("2024-01-01 00:00:00")).as("ts"),
          lit("{}").as("payload"),
          ((col("id") * 2654435761L) % 100000L).cast("double").as("val"))
        store.append(rows)
        (path, store)
      }
      // per-row-group [min,max] of a double column across all live files
      def rowGroups(path: String, store: JournalStore): Seq[(Double, Double)] = {
        import scala.jdk.CollectionConverters._
        store.manifest.files.flatMap { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(s"$path/segments/$f"), hc)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter.getBlocks.asScala.toSeq.map { b =>
            val cc = b.getColumns.asScala
              .find(_.getPath.toDotString == "val").get
            val st = cc.getStatistics
            (st.genericGetMin.asInstanceOf[java.lang.Double].doubleValue,
             st.genericGetMax.asInstanceOf[java.lang.Double].doubleValue)
          } finally r.close()
        }
      }
      // single-axis twin
      val (pA, sA) = mkStore("bykey")
      sA.compact(upToEpoch = 100L, clusterByKey = true)
      // z-order twin
      val (pB, sB) = mkStore("zorder")
      sB.compact(upToEpoch = 100L, zorderBy = Seq("ukey", "val"))
      // same data either way (layout must never change results)
      assert(sA.scan().count() === n.toLong)
      assert(sB.scan().count() === n.toLong)
      assert(sA.latest().count() === sB.latest().count())
      val gA = rowGroups(pA, sA); val gB = rowGroups(pB, sB)
      assert(gA.size > 8, s"need many row groups to measure, got ${gA.size}")
      assert(gB.size > 8, s"need many row groups to measure, got ${gB.size}")
      // a 5%-wide probe on the SECOND dimension: under (ukey, seq)
      // clustering val is scattered, so ~every row group admits the
      // range; under z-order the curve bounds val per row group
      val (lo, hi) = (40000.0, 45000.0)
      def admits(g: Seq[(Double, Double)]) =
        g.count { case (mn, mx) => mx >= lo && mn <= hi }
      val aAdm = admits(gA); val bAdm = admits(gB)
      assert(aAdm >= (gA.size * 9) / 10,
        s"single-axis control should admit ~all groups: $aAdm/${gA.size}")
      assert(bAdm * 2 <= gB.size,
        s"z-order should skip at least half the groups: $bAdm/${gB.size}")
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
    }
  }

  test("merge routes clauses, suppresses no-op updates, rejects " +
      "ambiguous sources") {
    val store = JournalStore.create(spark, freshPath, epochSize = 100)
    store.append(sampleDf) // users/1 {"v":3}, users/2 {"v":2}, carts/1 {"c":1}
    val src = Seq(
      ("users", 1L, ts("2024-01-02 00:00:01"), """{"v":3}""", 9.0), // no-op
      ("users", 2L, ts("2024-01-02 00:00:02"), """{"v":5}""", 5.0), // update
      ("users", 9L, ts("2024-01-02 00:00:03"), """{"v":9}""", 1.0), // insert
      ("carts", 1L, ts("2024-01-02 00:00:04"), """{"c":9}""", 0.5), // delete
    ).toDF("ns", "ukey", "ts", "payload", "val")
    val hi = store.merge(src, whenMatchedDelete = Some(col("val") < 1.0))
    // exactly 3 rows landed (update, insert, tombstone) — the no-op
    // update appended NOTHING
    assert(hi === 6L)
    val st = store.latest().orderBy("ns", "ukey")
      .select("ns", "ukey", "payload").as[(String, Long, String)].collect().toSeq
    assert(st === Seq(
      ("users", 1L, """{"v":3}"""),
      ("users", 2L, """{"v":5}"""),
      ("users", 9L, """{"v":9}""")))
    // re-merging the non-delete rows is a pure no-op: the log stays put
    val again = store.merge(src.where(col("ns") === "users"))
    assert(again === 6L)
    // ambiguous source (two rows, one key) is refused like Delta's
    // ambiguous-match error — here via the small-source path's
    // driver-side key check (the full path detonates from the routed
    // projection; see the dedicated full-path test)
    val dup = src.where(col("ukey") === 2L)
      .union(src.where(col("ukey") === 2L))
    val err = intercept[Exception](store.merge(dup))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("multiple rows for a key")),
      err.toString)
  }

  test("dropColumn: metadata-only drop hides an evolved column from " +
      "every reader; structural columns refuse") {
    val store = JournalStore.create(spark, freshPath, epochSize = 100)
    store.append(sampleDf)
    store.append(Seq(("users", 5L, ts("2024-01-02 00:00:00"), "p5", 5.0, 77L))
      .toDF("ns", "ukey", "ts", "payload", "val", "extra"))
    assert(store.scanUnordered().columns.contains("extra"))
    store.dropColumn("extra")
    val cols = store.scanUnordered().columns.toSeq
    assert(!cols.contains("extra"), cols)
    assert(store.scan().count() === 5L) // data untouched
    // segment bytes still physically carry the column (no rewrite)
    val raw = spark.read.option("mergeSchema", "true").parquet(
      store.manifest.files.map(f => store.path + "/segments/" + f): _*)
    assert(raw.columns.contains("extra"))
    // history names the operation
    assert(store.commitHistory().where(col("op") === "drop-column")
      .count() === 1L)
    assertThrows[IllegalArgumentException](store.dropColumn("payload"))
    assertThrows[IllegalArgumentException](store.dropColumn("nope"))
  }

  test("withCompression: the writer's codec reaches the parquet footers; " +
      "mixed-codec stores read seamlessly") {
    val store = JournalStore.create(spark, freshPath, epochSize = 100)
      .withCompression("zstd")
    store.append(sampleDf)
    val hc = spark.sessionState.newHadoopConf()
    def codecs(fs: Seq[String]): Set[String] = {
      import scala.jdk.CollectionConverters._
      fs.flatMap { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"${store.path}/segments/$f"), hc)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.flatMap(
          _.getColumns.asScala.map(_.getCodec.toString)).toSet
        finally r.close()
      }.toSet
    }
    assert(codecs(store.manifest.files) === Set("ZSTD"))
    // a second writer with the default codec coexists (parquet is
    // self-describing per chunk); reads see one logical table
    val w2 = JournalStore.open(spark, store.path)
    w2.append(Seq(("users", 9L, ts("2024-01-02 00:00:00"), "p9", 9.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    assert(codecs(w2.manifest.files).contains("ZSTD"))
    assert(codecs(w2.manifest.files).size === 2)
    assert(w2.scan().count() === 5L)
    // compaction under the zstd writer migrates everything to one codec
    store.compact(upToEpoch = 100L, clusterByKey = true)
    assert(codecs(store.manifest.files) === Set("ZSTD"))
    assert(store.scan().count() === 5L)
  }

  test("cloneTo: zero-copy shallow clone is fully independent of the " +
      "source across writes, erasure and vacuum") {
    val store = twoEpochStore()
    val dest = freshPath
    val clone = store.cloneTo(dest)
    // identical reads at clone time
    assert(clone.scan().collect().map(_.toString).sorted.toSeq ===
      store.scan().collect().map(_.toString).sorted.toSeq)
    // divergence: append lands only where it was written
    clone.append(Seq(("users", 99L, ts("2024-01-02 00:00:00"), "p99", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    assert(clone.scan().count() === 9L)
    assert(store.scan().count() === 8L)
    store.append(Seq(("users", 98L, ts("2024-01-02 00:00:01"), "p98", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    assert(clone.scan().where(col("ukey") === 98L).count() === 0L)
    // destructive source lifecycle cannot reach the clone: rewrite the
    // shared files and physically reclaim the source's old names — the
    // clone's hard links keep the bytes alive
    store.deleteWhere(col("ukey") === 1L)
    store.compact(upToEpoch = 100L, clusterByKey = true)
    store.vacuum(retain = 0, graceMs = 0L)
    assert(store.scan().where(col("ukey") === 1L).count() === 0L)
    assert(clone.scan().where(col("ukey") === 1L).count() === 1L)
    assert(clone.scan().count() === 9L)
    // cloning over an existing store refuses
    assertThrows[IllegalArgumentException](store.cloneTo(dest))
  }

  test("restore rolls state back to a retained version as a NEW commit") {
    val store = JournalStore.create(spark, freshPath, epochSize = 100)
    store.append(sampleDf) // maxSeq 3
    val v1 = store.manifest.version
    store.append(Seq(("users", 7L, ts("2024-01-02 00:00:00"), "p7", 7.0))
      .toDF("ns", "ukey", "ts", "payload", "val")) // maxSeq 4
    assert(store.manifest.maxSeq === 4L)
    store.restore(v1)
    val m = store.manifest
    // content is v1's; the restore is itself a commit (version advanced)
    assert(m.maxSeq === 3L)
    assert(m.version > v1 + 1)
    assert(store.scan().where(col("ukey") === 7L).count() === 0L)
    assert(store.scan().count() === 4L)
    // history moves forward from the restored state: the abandoned seq
    // range is reused by the next append
    store.append(Seq(("users", 8L, ts("2024-01-03 00:00:00"), "p8", 8.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    assert(store.manifest.maxSeq === 4L)
    assert(store.latest().where(col("ukey") === 8L).count() === 1L)
    // a forgotten version refuses loudly
    assertThrows[IllegalArgumentException](store.restore(9999L))
  }

  // -- deletion vectors --------------------------------------------------

  test("deleteWhereDv subtracts rows from every read WITHOUT rewriting " +
      "segment files, decrements counts, and is idempotent") {
    val store = twoEpochStore()
    val filesBefore = store.manifest.files.sorted
    val n = store.deleteWhereDv(col("ukey") === 11L)
    assert(n === 1L)
    val m = store.manifest
    // no rewrite: the segment file set is untouched, one DV part appears
    assert(m.files.sorted === filesBefore)
    assert(m.dvParts.size === 1)
    // every read surface subtracts the row
    assert(store.scan().where(col("ukey") === 11L).count() === 0L)
    assert(store.latest().where(col("ukey") === 11L).count() === 0L)
    assert(store.history("users", Some(11L)).count() === 0L)
    assert(store.scan().count() === 7L)
    // metadata row counts stay truthful (nsStats/segmentStats grade)
    assert(m.fstats.map(_.rows).sum === 7L)
    assert(m.stats.map(_.rows).sum === 7L)
    assert(m.kstats.map(_.rows).sum === 7L)
    // checkpoints were dropped (their state embeds the deleted row)
    assert(m.checkpoints.isEmpty)
    // idempotent: the row is already subtracted, nothing matches again
    assert(store.deleteWhereDv(col("ukey") === 11L) === 0L)
    assert(store.manifest.dvParts.size === 1)
  }

  test("deletion vectors are a logical delete until compact() physically " +
      "purges them; results are invisible to the purge") {
    val store = twoEpochStore()
    store.deleteWhereDv(col("ukey") === 11L)
    val m = store.manifest
    // the bytes are still physically present in the untouched segments
    val raw = spark.read.parquet(
      m.files.map(f => store.path + "/segments/" + f): _*)
    assert(raw.where(col("ukey") === 11L).count() === 1L)
    val before = store.scan().collect().map(_.toString).sorted.toSeq
    // compaction applies the vector in the rewrite = physical purge
    store.compact(upToEpoch = 100L, clusterByKey = true)
    val m2 = store.manifest
    assert(m2.dvParts.isEmpty)
    val raw2 = spark.read.parquet(
      m2.files.map(f => store.path + "/segments/" + f): _*)
    assert(raw2.where(col("ukey") === 11L).count() === 0L)
    assert(store.scan().collect().map(_.toString).sorted.toSeq === before)
    // vacuum reclaims the now-unreferenced DV part files
    store.vacuum(retain = 0, graceMs = 0L)
    val dvDir = java.nio.file.Paths.get(store.path, "dv")
    if (java.nio.file.Files.exists(dvDir)) {
      val left = java.nio.file.Files.list(dvDir)
      try assert(!left.iterator().hasNext)
      finally left.close()
    }
  }

  test("merge schema evolution: extra source columns land, extras-only " +
      "updates are not no-op-suppressed, deletes tombstone extras, and " +
      "the large-source path agrees") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1000)
    def base(ks: Long*) = ks.map(k =>
      ("users", k, ts(f"2024-01-01 00:00:${k % 60}%02d"), s"p$k", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val")
    def withScore(rows: (Long, String, Double)*) = rows.map { case (k, p, sc) =>
      ("users", k, ts("2024-01-01 01:00:00"), p, 1.0, sc)
    }.toDF("ns", "ukey", "ts", "payload", "val", "score")
    store.append(base(1L, 2L, 3L))
    // evolve: update k1's payload + score, insert k4 with score
    store.merge(withScore((1L, "p1x", 0.9), (4L, "p4", 0.4)))
    def lastScore(k: Long): Option[Double] = {
      val r = store.scanUnordered().where(col("ukey") === k)
        .orderBy(col("seq").desc).select("score").head()
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    assert(store.scanUnordered().columns.contains("score"))
    assert(lastScore(1L) === Some(0.9))
    assert(lastScore(2L) === None) // pre-evolution row reads null
    assert(lastScore(4L) === Some(0.4))
    // extras-only update: SAME payload, new score — must land
    val s1 = store.manifest.maxSeq
    store.merge(withScore((1L, "p1x", 0.5)))
    assert(store.manifest.maxSeq > s1, "extras-only update was suppressed")
    assert(lastScore(1L) === Some(0.5))
    // true no-op: same payload AND same score — suppressed
    val s2 = store.manifest.maxSeq
    store.merge(withScore((1L, "p1x", 0.5)))
    assert(store.manifest.maxSeq === s2)
    // matched delete tombstones the extras too
    store.merge(withScore((4L, "kill", -1.0)),
      whenMatchedDelete = Some(col("score") < 0))
    assert(store.latest().where(col("ukey") === 4L).count() === 0)
    assert(lastScore(4L) === None)
    // LARGE-source path (> MergeSmallSourceRows): same semantics
    import org.apache.spark.sql.functions.{concat, lit => flit}
    val big = spark.range(10000, 13000)
      .select(flit("users").as("ns"), col("id").as("ukey"),
        flit(ts("2024-01-01 02:00:00")).as("ts"),
        concat(flit("q"), col("id")).as("payload"), flit(2.0).as("val"),
        (col("id") % 7).cast("double").as("score"))
    store.merge(big)
    val got = store.scanUnordered().where(col("ukey") === 10013L)
      .select("payload", "score").head()
    assert(got.getString(0) === "q10013" && got.getDouble(1) === 3.0)
    // and re-merging the identical big source is fully suppressed
    val s3 = store.manifest.maxSeq
    store.merge(big)
    assert(store.manifest.maxSeq === s3)
  }

  test("compactNs rewrites ONLY the target namespace's directories " +
      "(partial OPTIMIZE); content and the other namespace's files " +
      "are untouched") {
    val store = JournalStore.create(spark, freshPath, epochSize = 100)
    def batch(ns: String, ks: Long*) = ks.map(k =>
      (ns, k, ts(f"2024-01-01 00:00:${k % 60}%02d"), s"$ns$k", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val")
    // three appends → 3 small files in EACH ns directory of epoch 0
    store.append(batch("hot", 1L).unionByName(batch("cold", 2L)))
    store.append(batch("hot", 3L).unionByName(batch("cold", 4L)))
    store.append(batch("hot", 5L).unionByName(batch("cold", 6L)))
    def filesOf(ns: String) =
      store.manifest.files.filter(_.contains(s"ns=$ns/")).sorted
    val coldBefore = filesOf("cold")
    assert(filesOf("hot").size === 3 && coldBefore.size === 3)
    store.compactNs("hot")
    assert(filesOf("hot").size === 1, filesOf("hot"))
    assert(filesOf("cold") === coldBefore) // byte-identical file list
    assert(store.scan().count() === 6)
    assert(store.latest().where(col("ns") === "hot").count() === 3)
    // re-fragment and compact again: converges back to one file,
    // nothing lost
    store.append(batch("hot", 7L))
    assert(filesOf("hot").size === 2)
    store.compactNs("hot")
    assert(filesOf("hot").size === 1)
    assert(store.scan().count() === 7)
    assert(filesOf("cold") === coldBefore)
  }

  test("a file whose every row is vector-deleted leaves the manifest") {
    val store = twoEpochStore()
    // epoch 1 holds exactly keys 10-13 in one file; delete them all
    val n = store.deleteWhereDv(col("ukey") >= 10L)
    assert(n === 4L)
    val m = store.manifest
    assert(m.files.size === 1, m.files)
    // no vector entries survive for a dropped file
    assert(m.dvParts.isEmpty, m.dvParts)
    assert(store.scan().count() === 4L)
  }

  test("DV columnar rewrite holds in NESTED plan contexts — cached " +
      "plan, temp view, and a join build side all stay on BatchScan") {
    val store = twoEpochStore()
    store.deleteWhereDv(col("ukey") === 2L)
    def pinColumnar(df: org.apache.spark.sql.DataFrame): String = {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("ExistingRDD") && !p.contains("JournalDvScan"), p)
      // the rewritten read is a VECTORIZED parquet scan (it renders as
      // `FileScan parquet … Batched: true` — the rewrite plans through
      // the file-source path — or as a BatchScan when DSv2 serves it)
      assert(p.contains("Batched: true") || p.contains("BatchScan"), p)
      p
    }
    val live = Seq(0L, 1L, 3L, 10L, 11L, 12L, 13L)
    // (a) a CACHED plan: the rewrite happened before InMemoryRelation
    // captured the child, so the materialized scan is the columnar one
    val cached = spark.read.format("journal").load(store.path)
      .where(col("ukey") >= 0L).persist()
    try {
      assert(cached.select("ukey").as[Long].collect().sorted.toSeq === live)
      pinColumnar(cached)
      val again = cached.where(col("ukey") >= 10L)
      assert(again.count() === 4L)
    } finally cached.unpersist()
    // (b) a temp VIEW: resolution re-runs analysis (and the post-hoc
    // batch) on every reference to the view text
    spark.read.format("journal").load(store.path).createOrReplaceTempView("dvv")
    try {
      val v = spark.sql("SELECT ukey, payload FROM dvv WHERE ukey >= 0")
      pinColumnar(v)
      assert(v.select("ukey").as[Long].collect().sorted.toSeq === live)
    } finally spark.catalog.dropTempView("dvv")
    // (c) a JOIN BUILD SIDE: the broadcast side of a join is still the
    // rewritten columnar read, and the join result subtracts the vector
    val dim = Seq((1L, "one"), (2L, "two"), (12L, "twelve"))
      .toDF("k", "label")
    val j = spark.read.format("journal").load(store.path)
      .join(broadcast(dim), col("ukey") === col("k"))
    val jp = pinColumnar(j)
    assert(jp.contains("BroadcastHashJoin"), jp)
    assert(j.select("ukey").as[Long].collect().sorted.toSeq === Seq(1L, 12L))
    // and flipped: the JOURNAL read as the broadcast build side
    val j2 = dim.join(broadcast(
      spark.read.format("journal").load(store.path).select("ukey", "payload")),
      col("ukey") === col("k"))
    pinColumnar(j2)
    assert(j2.select("ukey").as[Long].collect().sorted.toSeq === Seq(1L, 12L))
  }

  test("V2 format reads subtract deletion vectors — rewrite keeps the " +
      "columnar scan; conf-gated V1 fallback agrees") {
    val store = twoEpochStore()
    store.deleteWhereDv(col("ukey") === 2L)
    val df = spark.read.format("journal").load(store.path)
    // with the graft extensions (this session), the DV read is REWRITTEN
    // to subtraction above the vectorized parquet scan: no RDD bridge.
    // (The assertion adds an operator above the bare relation — a bare
    // load() stays unrewritten by design so aggregates keep their
    // metadata answers; see JournalDvReadRule.)
    val p = df.where(col("ukey") >= 0L).queryExecution.executedPlan.toString
    assert(!p.contains("ExistingRDD") && !p.contains("JournalDvScan"), p)
    assert(p.toLowerCase.contains("parquet"), p)
    assert(df.where(col("ukey") === 2L).count() === 0L)
    assert(df.count() === 7L)
    // df.count() on a DV store is a MANIFEST PARSE (DV-decremented
    // per-file counts), not a scan
    val cq = df.groupBy().count()
    cq.collect()
    assert(cq.queryExecution.executedPlan.toString.contains("ManifestAggScan"),
      cq.queryExecution.executedPlan.toString)
    // the no-extensions fallback (V1 bridge) produces identical rows
    spark.conf.set("spark.graft.journal.dvRewrite", "false")
    try {
      val fb = spark.read.format("journal").load(store.path)
      assert(fb.queryExecution.executedPlan.toString.contains("JournalDvScan"))
      assert(fb.count() === 7L)
      assert(fb.where(col("ukey") === 2L).count() === 0L)
    } finally spark.conf.unset("spark.graft.journal.dvRewrite")
    // consumed partition filters are re-applied by the fallback relation
    assert(df.where(col("ns") === "users").count() === 7L)
    assert(df.where(col("epoch") === 0L).count() === 3L)
    // aggregate answers must come from the subtracted rows, not footers
    val agg = df.agg(count(lit(1)), max("ukey")).head
    assert(agg.getLong(0) === 7L && agg.getLong(1) === 13L)
    // purge restores the columnar scan with identical results
    val before = df.collect().map(_.toString).sorted.toSeq
    store.compact(upToEpoch = 100L, clusterByKey = true)
    val after = spark.read.format("journal").load(store.path)
      .collect().map(_.toString).sorted.toSeq
    assert(after === before)
  }

  test("merge prunes the state side to key-intersecting files " +
      "(touched-file idiom) and routes clauses identically") {
    val store = JournalStore.create(spark, freshPath, epochSize = 4)
    // 6 appends × 2 ns → many files with disjoint per-file key ranges
    (0 until 6).foreach { i =>
      store.append(Seq(
        ("users", i * 10L, ts(f"2024-01-01 00:0$i%01d:00"), s"u$i", 1.0),
        ("carts", i * 10L + 1L, ts(f"2024-01-01 00:0$i%01d:01"), s"c$i", 1.0))
        .toDF("ns", "ukey", "ts", "payload", "val"))
    }
    val m = store.manifest
    assert(m.files.size >= 6, m.files)
    // a 2-key probe intersects only the files whose ns directory and
    // key range/bloom can hold the keys — a strict subset, never carts
    val cand = SegmentFiles.prune(m, SegmentFiles.Probe.exactKeys(
      Seq(("users", Some(0L)), ("users", Some(50L)))))
    assert(cand.nonEmpty && cand.size < m.files.size,
      s"$cand vs ${m.files}")
    assert(cand.forall(_.contains("ns=users")), cand)
    // end-to-end: the small-source path routes clauses exactly like the
    // full path (no-op suppressed, update + insert appended)
    val preMax = m.maxSeq
    store.merge(Seq(
      ("users", 0L, ts("2024-01-02 00:00:00"), "u0", 9.0),   // no-op
      ("users", 50L, ts("2024-01-02 00:00:01"), "u5x", 1.0), // update
      ("users", 999L, ts("2024-01-02 00:00:02"), "new", 1.0) // insert
    ).toDF("ns", "ukey", "ts", "payload", "val"))
    val st = store.latest()
      .where(col("ns") === "users" && col("ukey").isin(0L, 50L, 999L))
      .orderBy("ukey").select("payload").as[String].collect().toSeq
    assert(st === Seq("u0", "u5x", "new"))
    // exactly 2 rows landed — the no-op appended NOTHING
    assert(store.scan().where(col("seq") > preMax).count() === 2L)
  }

  test("updateWhere: point updates prune to range/bloom-intersecting " +
      "files, the state rebuild has no window, extras ride and assign") {
    val store = JournalStore.create(spark, freshPath, epochSize = 4)
    (0 until 6).foreach { i =>
      store.append(Seq(
        ("users", i * 10L, ts(f"2024-01-01 00:0$i%01d:00"), s"u$i", 1.0),
        ("carts", i * 10L + 1L, ts(f"2024-01-01 00:0$i%01d:01"), s"c$i", 1.0))
        .toDF("ns", "ukey", "ts", "payload", "val"))
    }
    // tombstone one key, then re-update: arg-max must see the tombstone
    store.delete("users", Seq(10L))
    val m = store.manifest
    assert(m.files.size >= 6)
    // PRUNING PIN (VERDICT r13 item 2): a point condition plans only
    // the files its ns directory + key range/bloom admit — a strict
    // subset on this multi-epoch store, never the carts side
    val (cand, keyPred) = store.updatePruning(m,
      Some(col("ns") === "users" && col("ukey") === 20L && col("val") > 0))
    assert(cand.nonEmpty && cand.size < m.files.size, s"$cand vs ${m.files}")
    assert(cand.forall(_.contains("ns=users")), cand)
    // WINDOW PIN: the state rebuild is a partial-aggregated struct-max,
    // never a global row_number window
    val statePlan = store.updateStateOver(m, cand, keyPred)
      .queryExecution.executedPlan.toString
    assert(!statePlan.contains("Window"), statePlan)
    assert(statePlan.contains("HashAggregate") ||
      statePlan.contains("ObjectHashAggregate") ||
      statePlan.contains("SortAggregate"), statePlan)
    // functional: point update rewrites exactly the matched key
    val n = store.updateWhere(
      Seq("payload" -> concat(col("payload"), lit("!")),
          "val" -> (col("val") * 10)),
      Some(col("ns") === "users" && col("ukey") === 20L))
    assert(n === 1L)
    assert(store.latest().where(col("ns") === "users")
      .orderBy("ukey").select("payload").as[String].collect().toSeq ===
      Seq("u0", "u2!", "u3", "u4", "u5")) // 10 tombstoned, 20 updated
    // evolved extras: ride unchanged AND are assignable
    store.append(Seq(("users", 20L, ts("2024-01-02 00:00:00"), "u2x", 2.0, 7L))
      .toDF("ns", "ukey", "ts", "payload", "val", "score"))
    val n2 = store.updateWhere(Seq("score" -> lit(99L)),
      Some(col("ukey") === 20L))
    assert(n2 === 1L)
    val got = store.scanUnordered()
      .where(col("ukey") === 20L)
      .orderBy(col("seq").desc).limit(1)
      .select("payload", "score").as[(String, Long)].head()
    assert(got === ("u2x", 99L)) // payload rode; score assigned
    // an unmatched condition appends nothing but still counts 0
    assert(store.updateWhere(Seq("val" -> lit(0.0)),
      Some(col("ns") === "nothere")) === 0L)
  }

  test("vacuum reaps a crashed streaming query's orphaned " +
      ".streamstage-* dirs after grace; a fresh one survives the sweep") {
    val p = freshPath
    val store = JournalStore.create(spark, p, epochSize = 100)
    store.append(Seq(("a", 1L, ts("2024-01-01 00:00:01"), "pa", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    // plant the orphan a killed toTable query would leave: a stage dir
    // with an epoch subdir and a staged part no commit ever consumed
    val stage = new java.io.File(s"$p/.streamstage-deadq/epoch=3")
    assert(stage.mkdirs())
    java.nio.file.Files.writeString(
      stage.toPath.resolve("part-0.parquet"), "staged-bytes")
    // within grace the dir survives (a LIVE query's dir must never be
    // swept mid-epoch)
    store.vacuum(graceMs = 60L * 60L * 1000L)
    assert(stage.exists())
    // the dry run names it as a 'stage' reap once aged, deleting nothing
    val plan = store.vacuumDryRun(graceMs = 0L)
    assert(plan.exists { case (k, f) =>
      k == "stage" && f.startsWith(".streamstage-deadq") }, plan)
    assert(stage.exists())
    // the real sweep reaps the whole dir; the store is unharmed
    store.vacuum(graceMs = 0L)
    assert(!new java.io.File(s"$p/.streamstage-deadq").exists())
    assert(store.latest().count() === 1L)
  }

  test("seq/ts-range pruning (VERDICT r14 item 3): a ts-bounded UPDATE " +
      "plans a strict file subset through the two-phase key probe; a " +
      "seq-bounded erase skips out-of-range files") {
    val store = JournalStore.create(spark, freshPath, epochSize = 2)
    // 6 single-row appends → multi-epoch store, one users file per
    // append, each with its own disjoint ts (and seq) range
    (0 until 6).foreach { i =>
      store.append(Seq(
        ("users", i * 10L, ts(f"2024-01-01 00:0$i%01d:00"), s"u$i", 1.0))
        .toDF("ns", "ukey", "ts", "payload", "val"))
    }
    val m = store.manifest
    assert(m.files.size >= 6)
    // RANGE PIN: a pure ts bound — NO ns/ukey equality — plans a strict
    // subset: the range-pruned probe finds only the old keys, and the
    // state rebuild reads only the files that can hold those keys
    val (cand, _) = store.updatePruning(m,
      Some(col("ts") < lit(ts("2024-01-01 00:02:00"))))
    assert(cand.nonEmpty && cand.size < m.files.size, s"$cand vs ${m.files}")
    // the per-file range skipping itself, pinned at the manifest grain
    val tsSub = SegmentFiles.prune(m, SegmentFiles.Probe(
      ts = Some((Long.MinValue, 0L)))) // hi = epoch start → nothing overlaps
    assert(tsSub.isEmpty)
    val seqSub = SegmentFiles.prune(m, SegmentFiles.Probe(seq = Some((0L, 1L))))
    assert(seqSub.nonEmpty && seqSub.size < m.files.size, seqSub)
    // functional: the ts-bounded update rewrites exactly the two old
    // keys (their rewritten rows keep the original ts — unassigned
    // columns ride current values)
    val n = store.updateWhere(
      Seq("payload" -> concat(col("payload"), lit("-old"))),
      Some(col("ts") < lit(ts("2024-01-01 00:02:00"))))
    assert(n === 2L)
    assert(store.latest().orderBy("ukey").select("payload")
      .as[String].collect().toSeq ===
      Seq("u0-old", "u1-old", "u2", "u3", "u4", "u5"))
    // seq-bounded PHYSICAL erase: only the in-range files rewrite; the
    // updated (higher-seq) rows of the same keys survive untouched
    assert(store.deleteWhere(col("seq") <= 1L) === 2L)
    assert(store.scan().agg(min("seq")).as[Long].head() >= 2L)
    assert(store.latest().orderBy("ukey").select("payload")
      .as[String].collect().toSeq ===
      Seq("u0-old", "u1-old", "u2", "u3", "u4", "u5"))
  }

  test("updatePruning range probe falls back to the equality-pruned " +
      "set past MergeSmallSourceRows distinct keys") {
    val store = JournalStore.create(spark, freshPath, epochSize = 5000)
    store.append((0 until 3000).map(i =>
      ("users", i.toLong, ts("2024-01-01 00:00:01"), s"p$i", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    store.append((0 until 10).map(i =>
      ("users", 100000L + i, ts("2024-02-01 00:00:01"), s"q$i", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    val m = store.manifest
    // the ts bound matches 3000 distinct keys — more than the probe can
    // usefully broadcast, so pruning falls back to the equality-pruned
    // candidate set (here: every file), never a wrong subset
    val (cand, _) = store.updatePruning(m,
      Some(col("ts") < lit(ts("2024-01-15 00:00:00"))))
    assert(cand.toSet === m.files.toSet)
    // the bounded update is still CORRECT through the fallback
    assert(store.updateWhere(Seq("val" -> lit(2.0)),
      Some(col("ts") < lit(ts("2024-01-15 00:00:00")))) === 3000L)
  }

  test("merge LARGE-source pruning: a >2048-row single-ns source joins " +
      "only that ns's state files — profile-driven candidates (range + " +
      "bloom intersection), no driver key collect at any source size") {
    val store = JournalStore.create(spark, freshPath, epochSize = 4)
    (0 until 6).foreach { i =>
      store.append(Seq(
        ("users", i * 1000L, ts(f"2024-01-01 00:0$i%01d:00"), s"u$i", 1.0),
        ("carts", i * 1000L + 1L, ts(f"2024-01-01 00:0$i%01d:01"), s"c$i", 1.0))
        .toDF("ns", "ukey", "ts", "payload", "val"))
    }
    val m = store.manifest
    val usersFiles = m.files.filter(_.contains("ns=users"))
    assert(usersFiles.size >= 6, m.files)
    def prof(ns: String, lo: Long, hi: Long,
             bloom: Array[Byte] = Array.emptyByteArray) =
      JournalStore.MergeNsProfile(ns, Some(lo), Some(hi),
        nullKey = false, bloom)
    // ns + range tier: a users-only profile keeps no carts file; a
    // range beyond every users file keeps nothing
    val cand = SegmentFiles.prune(m, SegmentFiles.Probe.profiles(
      Seq(prof("users", 0L, 5000L))))
    assert(cand.nonEmpty && cand.forall(_.contains("ns=users")), cand)
    assert(SegmentFiles.prune(m, SegmentFiles.Probe.profiles(
      Seq(prof("users", 100000L, 100010L)))).isEmpty)
    // bloom tier BELOW the range: a profile whose range overlaps every
    // users file but whose bloom provably shares no key prunes them all
    val alien = org.apache.spark.util.sketch.BloomFilter.create(8192L, 65536L)
    alien.putLong(org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(7777L, org.apache.spark.sql.types.LongType, 42L))
    val alienBytes = { val o = new java.io.ByteArrayOutputStream()
      alien.writeTo(o); o.toByteArray }
    assert(SegmentFiles.prune(m, SegmentFiles.Probe.profiles(
      Seq(prof("users", 0L, 5000L, alienBytes)))).isEmpty)
    // a null-key group keeps every ns-compatible file (key stats never
    // describe NULL), and an empty bloom never prunes
    val nullProf = Seq(JournalStore.MergeNsProfile("users", None, None,
      nullKey = true, Array.emptyByteArray))
    assert(SegmentFiles.prune(m, SegmentFiles.Probe.profiles(nullProf)).toSet ===
      usersFiles.toSet)
    // end-to-end on the FULL path (3000 rows > MergeSmallSourceRows):
    // upsert users keys 0..2999 — overlapping keys update, the rest
    // insert; users keys ≥3000 and every carts row are untouched
    val preMax = store.manifest.maxSeq
    val big = spark.range(3000).selectExpr("'users' AS ns", "id AS ukey",
      "timestamp'2024-01-02 00:00:00' AS ts",
      "concat('n', id) AS payload", "CAST(1.0 AS DOUBLE) AS val")
    store.merge(big)
    val users = store.latest().where(col("ns") === "users")
    assert(users.count() === 3000L + 3L) // 0..2999 plus 3000/4000/5000
    assert(users.where(col("ukey") === 1000L)
      .select("payload").as[String].head() === "n1000")
    assert(users.where(col("ukey") === 4000L)
      .select("payload").as[String].head() === "u4")
    val carts = store.latest().where(col("ns") === "carts")
    assert(carts.count() === 6L)
    // every source row landed (none was wrongly no-op-suppressed by a
    // pruned-away state row): 3000 appended rows exactly
    assert(store.scan().where(col("seq") > preMax).count() === 3000L)
  }

  test("merge full path: a duplicate key whose copies are all NO-OPS " +
      "still detonates (order-independent guard)") {
    val store = JournalStore.create(spark, freshPath, epochSize = 100000)
    store.append(Seq(("users", 1L, ts("2024-01-01 00:00:00"), "pa", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    // > MergeSmallSourceRows rows forces the full-state path; the ONLY
    // duplicate key's copies both MATCH current state (no-ops) — the
    // shape the old filter-riding assert_true could let slip whenever
    // the optimizer evaluated the no-op conjunct first
    val big = spark.range(2000).selectExpr("'users' AS ns",
      "id + 100 AS ukey", "timestamp'2024-01-01 00:00:00' AS ts",
      "concat('p', id) AS payload", "CAST(1.0 AS DOUBLE) AS val")
    val dupNoop = Seq(
      ("users", 1L, ts("2024-01-01 00:00:01"), "pa", 1.0),
      ("users", 1L, ts("2024-01-01 00:00:02"), "pa", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val")
    val err = intercept[Exception](store.merge(big.unionByName(dupNoop)))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("multiple rows for a key")),
      err.toString)
  }

  test("dropColumn: re-adding a dropped name is refused until a FULL " +
      "compact forgets the lapsed bytes") {
    val store = JournalStore.create(spark, freshPath, epochSize = 100)
    store.append(sampleDf)
    store.append(Seq(("users", 5L, ts("2024-01-02 00:00:00"), "p5", 5.0, 77L))
      .toDF("ns", "ukey", "ts", "payload", "val", "extra"))
    store.dropColumn("extra")
    assert(store.manifest.droppedCols === Seq("extra"))
    // re-add refused: un-compacted pre-drop files would resurface their
    // pre-drop values under the new column (parquet reads by name)
    val readd = Seq(("users", 6L, ts("2024-01-03 00:00:00"), "p6", 6.0, 99L))
      .toDF("ns", "ukey", "ts", "payload", "val", "extra")
    val err = intercept[IllegalArgumentException](store.append(readd))
    assert(err.getMessage.contains("DROPPED"), err.getMessage)
    // a FULL compact rewrites every live file through the narrowed
    // schema — the hazard is physically gone and the name re-opens
    store.compact(upToEpoch = 100L)
    assert(store.manifest.droppedCols.isEmpty)
    store.append(readd)
    val newVal = store.scanUnordered().where(col("ukey") === 6L)
      .select("extra").head
    assert(newVal.getLong(0) === 99L)
    // and the pre-drop key-5 row reads NULL — never the lapsed 77
    val oldVal = store.scanUnordered().where(col("ukey") === 5L)
      .select("extra").head
    assert(oldVal.isNullAt(0), oldVal)
  }

  test("writer conflict matrix: maintenance ops re-validate on a lost " +
      "CAS; merge rebases through append; restore aborts loudly") {
    val path = freshPath
    val s1 = JournalStore.create(spark, path, epochSize = 100)
    s1.append(sampleDf) // seqs 0..3
    val s2 = JournalStore.open(spark, path)
    def row(k: Long, t: String, p: String) =
      Seq(("users", k, ts(t), p, 1.0)).toDF("ns", "ukey", "ts", "payload", "val")

    // deleteWhere ‖ append: the erase loses the race, re-derives itself
    // against the fresh manifest, commits; both effects land — nothing
    // lost, nothing resurrected
    s1.onCommitSeam =
      () => { s2.append(row(50L, "2024-01-02 00:00:00", "p50")); () }
    assert(s1.deleteWhere(col("ukey") === 2L) === 1L)
    assert(s1.scan().where(col("ukey") === 2L).count() === 0L)
    assert(s1.scan().where(col("ukey") === 50L).count() === 1L)

    // compact ‖ deleteWhereDv: the compact loses, re-reads the fresh
    // manifest (now carrying the vector) and its rewrite APPLIES it —
    // the concurrently deleted row stays deleted through the rewrite
    val s3 = JournalStore.open(spark, path)
    s1.onCommitSeam = () => { s3.deleteWhereDv(col("ukey") === 50L); () }
    s1.compact(upToEpoch = 100L)
    assert(s1.scan().where(col("ukey") === 50L).count() === 0L)
    assert(s1.manifest.dvParts.isEmpty) // purged by the retried rewrite

    // merge ‖ append (disjoint keys): merge loses the CAS, re-derives
    // its state join, commits — both effects land, merge rows take the
    // higher seqs (last-writer-wins)
    s1.onCommitSeam =
      () => { s2.append(row(60L, "2024-01-03 00:00:00", "p60")); () }
    s1.merge(row(70L, "2024-01-03 00:00:01", "p70"))
    assert(s1.latest().where(col("ukey").isin(60L, 70L)).count() === 2L)

    // restore ‖ append: aborts with the precise conflict error — a
    // blind retry would silently wipe the concurrent commit
    val v = s1.manifest.version
    s1.onCommitSeam =
      () => { s2.append(row(80L, "2024-01-04 00:00:00", "p80")); () }
    val err = intercept[java.util.ConcurrentModificationException](
      s1.restore(v))
    assert(err.getMessage.contains("lost the commit race"), err.getMessage)
    assert(s1.scan().where(col("ukey") === 80L).count() === 1L)
  }

  test("merge ‖ append on an INTERSECTING key: the merge re-derives its " +
      "join on CAS loss, so no-op suppression cannot drop its intent; " +
      "merge ‖ merge serializes deterministically") {
    val path = freshPath
    val s1 = JournalStore.create(spark, path, epochSize = 100)
    def row(k: Long, t: String, p: String) =
      Seq(("users", k, ts(t), p, 1.0)).toDF("ns", "ukey", "ts", "payload", "val")
    s1.append(row(1L, "2024-01-01 00:00:00", "a"))
    val s2 = JournalStore.open(spark, path)

    // THE lost-update anomaly: the merge's source equals the PRE-race
    // state ("a"), so against that snapshot it is a no-op and appends
    // nothing — but the racing append changes the key to "c" between
    // the snapshot and the commit CAS. Without re-derivation the
    // suppressed merge never revalidates and "set state to a" is
    // silently dropped; with it, the (empty) commit loses the CAS, the
    // join re-runs against "c", and the update lands.
    s1.onCommitSeam =
      () => { s2.append(row(1L, "2024-01-01 01:00:00", "c")); () }
    s1.merge(row(1L, "2024-01-01 02:00:00", "a"))
    val p1 = s1.latest().where(col("ukey") === 1L)
      .select("payload").head.getString(0)
    assert(p1 === "a", s"merge intent lost: state is '$p1'")
    // history: base "a", racing "c", re-derived merge "a" — three rows
    assert(s1.scan().where(col("ukey") === 1L).count() === 3L)

    // merge ‖ merge: the seam-injected merge commits first; the outer
    // merge loses its CAS, re-derives against the winner's state and
    // lands second — final state is the OUTER merge's source,
    // deterministically, and both intents are in the log
    s1.onCommitSeam =
      () => { s2.merge(row(1L, "2024-01-01 03:00:00", "m2")); () }
    s1.merge(row(1L, "2024-01-01 04:00:00", "m1"))
    val p2 = s1.latest().where(col("ukey") === 1L)
      .select("payload").head.getString(0)
    assert(p2 === "m1")
    val hist = s1.scan().where(col("ukey") === 1L).orderBy("seq")
      .select("payload").as[String].collect().toSeq
    assert(hist === Seq("a", "c", "a", "m2", "m1"))
  }

  test("a store rooted under a path containing /segments/ keeps exact " +
      "DV bookkeeping (__file strips at the LAST marker)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_seg_").toString
    val path = s"$dir/segments/store"
    val store = JournalStore.create(spark, path, epochSize = 100)
    store.append(Seq(
      ("users", 1L, ts("2024-01-01 00:00:00"), "pa", 1.0),
      ("users", 2L, ts("2024-01-01 00:00:01"), "pb", 2.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    assert(store.deleteWhereDv(col("ukey") === 1L) === 1L)
    assert(store.scan().count() === 1L)
    // per-file row counts decremented exactly (the regression: a
    // LEFTMOST '/segments/' split made __file names that never mapped
    // back to manifest entries, silently degrading the bookkeeping)
    assert(store.manifest.fstats.map(_.rows).sum === 1L)
    // deleting the last live row makes the file fully dead → it leaves
    // the manifest and its vector entries are dropped
    assert(store.deleteWhereDv(col("ukey") === 2L) === 1L)
    assert(store.manifest.files.isEmpty, store.manifest.files)
    assert(store.manifest.dvParts.isEmpty)
  }

  test("deleteWhereDv then append: auto-checkpoint rebuilds from the " +
      "subtracted rows") {
    val store = twoEpochStore() // epochSize 4, maxSeq 7
    store.deleteWhereDv(col("ukey") === 1L)
    // next append crosses an epoch boundary → auto-checkpoint at 7
    val more = Seq(("users", 20L, ts("2024-01-01 00:01:00"), "p20", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val")
    store.append(more)
    assert(store.manifest.checkpoints.nonEmpty)
    // state via the fresh checkpoint must NOT resurrect the deleted key
    assert(store.latest().where(col("ukey") === 1L).count() === 0L)
    assert(store.latest().where(col("ukey") === 20L).count() === 1L)
  }

  test("CHECK constraints: atomic batch rejection, SQL NULL semantics, " +
      "existing-data validation, drop, and clone carry-over") {
    val store = JournalStore.create(spark, freshPath)
    store.append(sampleDf)
    // adding a constraint the current state violates is refused
    val exAdd = intercept[IllegalArgumentException](
      store.addConstraint("val_big", "val > 100"))
    assert(exAdd.getMessage.contains("existing rows violate"))
    assert(store.constraints.isEmpty)
    store.addConstraint("val_pos", "val >= 0")
    store.addConstraint("payload_json", "payload LIKE '{%'")
    assert(store.constraints.keySet === Set("val_pos", "payload_json"))
    // one violating row rejects the WHOLE batch; nothing becomes visible
    val maxBefore = store.manifest.maxSeq
    val mixed = Seq(
      ("users", 3L, ts("2024-01-02 00:00:01"), """{"v":4}""", 4.0),
      ("users", 4L, ts("2024-01-02 00:00:02"), """{"v":5}""", -1.0),
    ).toDF("ns", "ukey", "ts", "payload", "val")
    val exApp = intercept[IllegalArgumentException](store.append(mixed))
    assert(exApp.getMessage.contains("val_pos"))
    assert(store.manifest.maxSeq === maxBefore)
    assert(store.scan().where(col("ukey") === 3L).count() === 0L)
    // NULL passes (SQL CHECK: only FALSE violates)
    val nullVal = Seq(("users", 5L, ts("2024-01-02 00:00:03"),
      """{"v":6}""", null.asInstanceOf[java.lang.Double]))
      .toDF("ns", "ukey", "ts", "payload", "val")
    store.append(nullVal.withColumn("val", col("val").cast("double")))
    assert(store.scan().where(col("ukey") === 5L).count() === 1L)
    // merge enforces too (it commits through append)
    val exMerge = intercept[IllegalArgumentException](store.merge(
      Seq(("users", 6L, ts("2024-01-02 00:00:04"), """{"v":7}""", -5.0))
        .toDF("ns", "ukey", "ts", "payload", "val")))
    assert(exMerge.getMessage.contains("val_pos"))
    // a clone carries the constraints (they ride the manifest)
    val clone = store.cloneTo(freshPath)
    assert(clone.constraints === store.constraints)
    // dropping the constraint re-opens the gate on the SOURCE only
    store.dropConstraint("val_pos")
    store.append(mixed)
    assert(store.scan().where(col("ukey") === 4L).count() === 1L)
    intercept[IllegalArgumentException](clone.append(mixed))
    // a column referenced by a constraint refuses to drop
    store.append(Seq(("users", 7L, ts("2024-01-02 00:00:05"),
        """{"v":8}""", 1.0, "en"))
      .toDF("ns", "ukey", "ts", "payload", "val", "lang"))
    store.addConstraint("lang_known", "lang IN ('en','fr') OR lang IS NULL")
    val exDrop = intercept[IllegalArgumentException](store.dropColumn("lang"))
    assert(exDrop.getMessage.contains("lang_known"))
    store.dropConstraint("lang_known")
    store.dropColumn("lang")
    // reopen sees the same constraint set (manifest round-trip)
    assert(JournalStore.open(spark, store.path).constraints.keySet ===
      Set("payload_json"))
  }

  private def applyFeed(v1: org.apache.spark.sql.DataFrame,
                        feed: org.apache.spark.sql.DataFrame) = {
    val cols = Seq("seq", "ns", "ukey", "ts", "payload", "val")
    v1.select(cols.map(col): _*)
      .exceptAll(feed.where(col("_change_type") === "delete")
        .select(cols.map(col): _*))
      .unionAll(feed.where(col("_change_type") === "insert")
        .select(cols.map(col): _*))
  }

  test("changes(v1, v2): applying the net feed to the v1 snapshot " +
      "reproduces v2 — cheap window (appends + DV deletes)") {
    val store = twoEpochStore() // keys 0-3 then 10-13, maxSeq 7
    val v1 = store.manifest.version
    val snap1 = store.scan().collect()
    store.append(Seq(
      ("users", 20L, ts("2024-01-01 00:02:00"), "p20", 1.0),
      ("users", 21L, ts("2024-01-01 00:02:01"), "p21", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    store.deleteWhereDv(col("ukey") === 1L || col("ukey") === 21L)
    val v2 = store.manifest.version
    val feed = store.changes(v1, v2)
    // pre-window key 1 surfaces as a delete; in-window append+delete of
    // key 21 NETS OUT; key 20 is a plain insert
    val byType = feed.collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getAs[Long]("ukey")).toSet).toMap
    assert(byType.getOrElse("insert", Set()) === Set(20L))
    assert(byType.getOrElse("delete", Set()) === Set(1L))
    // the apply-invariant
    val applied = applyFeed(spark.createDataFrame(
      spark.sparkContext.parallelize(snap1.toSeq),
      store.scan().schema).select("seq", "ns", "ukey", "ts", "payload", "val"),
      feed)
    val now = store.scan().select("seq", "ns", "ukey", "ts", "payload", "val")
    assert(applied.exceptAll(now).count() === 0L)
    assert(now.exceptAll(applied).count() === 0L)
  }

  test("addConstraint ‖ violating append: the constraint re-validates " +
      "after its CAS commit and rolls itself back") {
    val path = freshPath
    val s1 = JournalStore.create(spark, path)
    s1.append(sampleDf) // all vals positive
    val s2 = JournalStore.open(spark, path)
    val bad = Seq(("users", 9L, ts("2024-01-03 00:00:01"), """{"v":9}""", -9.0))
      .toDF("ns", "ukey", "ts", "payload", "val")
    // the violating append lands between s1's validation scan and its
    // setMeta CAS — it validated against the OLD (empty) constraint set
    s1.onCommitSeam = () => { s2.append(bad); () }
    val ex = intercept[IllegalArgumentException](
      s1.addConstraint("val_pos", "val >= 0"))
    assert(ex.getMessage.contains("rolled back"))
    // the constraint is gone; the append (which committed first) stands
    assert(JournalStore.open(spark, path).constraints.isEmpty)
    assert(s2.scan().where(col("ukey") === 9L).count() === 1L)
  }

  test("purgeDeletes rewrites only files past the dead-fraction " +
      "threshold, drops their vectors, and reads are unchanged") {
    val store = twoEpochStore() // 2 files: epoch0 keys 0-3, epoch1 keys 10-13
    store.deleteWhereDv(col("ukey").isin(0L, 1L, 2L)) // 3/4 dead in epoch0
    store.deleteWhereDv(col("ukey") === 10L)          // 1/4 dead in epoch1
    val before = store.scan()
      .select("seq", "ns", "ukey", "ts", "payload", "val").collect().toSet
    val filesBefore = store.manifest.files.toSet
    val e1File = filesBefore.find(_.contains("epoch=1")).get
    val rewritten = store.purgeDeletes(0.5)
    assert(rewritten === 1)
    val m = store.manifest
    // epoch0's file was rewritten (new name), epoch1's kept verbatim
    assert(!m.files.exists(f => filesBefore.contains(f) && f.contains("epoch=0")))
    assert(m.files.contains(e1File))
    // the purged file's vector entries are gone; epoch1's survive
    assert(m.dvParts.nonEmpty)
    assert(store.latest().where(col("ukey") === 10L).count() === 0L)
    val after = store.scan()
      .select("seq", "ns", "ukey", "ts", "payload", "val").collect().toSet
    assert(after === before)
    // below-threshold call is a no-op
    assert(store.purgeDeletes(0.5) === 0)
  }

  test("changes(v1, v2): maintenance crossing the window falls back to " +
      "the exact snapshot diff and the apply-invariant still holds") {
    val store = twoEpochStore()
    val v1 = store.manifest.version
    val snap1 = store.scan().select("seq", "ns", "ukey", "ts", "payload", "val")
      .collect()
    val snap1Schema = store.scan()
      .select("seq", "ns", "ukey", "ts", "payload", "val").schema
    // rewrite-delete (file rewrite, not a vector) + compact: v1's files
    // do NOT all survive into v2 → exact fallback
    store.deleteWhere(col("ukey") === 2L)
    store.compact(1L)
    store.append(Seq(("users", 30L, ts("2024-01-01 00:03:00"), "p30", 2.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    val v2 = store.manifest.version
    val feed = store.changes(v1, v2)
    val byType = feed.collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getAs[Long]("ukey")).toSet).toMap
    assert(byType.getOrElse("delete", Set()) === Set(2L))
    assert(byType.getOrElse("insert", Set()) === Set(30L))
    val applied = applyFeed(spark.createDataFrame(
      spark.sparkContext.parallelize(snap1.toSeq), snap1Schema), feed)
    val now = store.scan().select("seq", "ns", "ukey", "ts", "payload", "val")
    assert(applied.exceptAll(now).count() === 0L)
    assert(now.exceptAll(applied).count() === 0L)
  }

  test("changes(v1, v2): a MaxDvParts fold inside a cheap window never " +
      "re-emits pre-window deletions") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1000)
    store.append((1L to 20L).map(k =>
      ("users", k, ts(f"2024-01-01 00:00:${k}%02d"), s"p$k", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    // 15 single-key vector deletes BEFORE the window: 15 parts
    (1L to 15L).foreach(k => store.deleteWhereDv(col("ukey") === k))
    assert(store.manifest.dvParts.size === 15)
    val v1 = store.manifest.version
    // two more inside the window — the second crosses MaxDvParts and
    // folds EVERYTHING (the 15 pre-window entries included) into one
    // fresh part name
    store.deleteWhereDv(col("ukey") === 16L)
    store.deleteWhereDv(col("ukey") === 17L)
    val m2 = store.manifest
    assert(m2.dvParts.size === 1, "fold expected past MaxDvParts")
    assert(m2.files.size === 1, "file must survive (cheap window)")
    val feed = store.changes(v1, m2.version)
    val deleted = feed.where(col("_change_type") === "delete")
      .select("ukey").as[Long].collect().toSeq.sorted
    // ONLY the window's own deletions — the folded part's renamed
    // pre-window entries must not resurface
    assert(deleted === Seq(16L, 17L))
    assert(feed.where(col("_change_type") === "insert").count() === 0L)
  }

  test("retention specs validate at the property-set door, not as a " +
      "delayed sweep error; crafted values cannot reach SQL text") {
    val store = JournalStore.create(spark, freshPath, epochSize = 100)
    store.append(sampleDf)
    // garbage fails at SET time (the delayed-DDL-error class
    // validateColumnDefault already closes for defaults)
    val e = intercept[IllegalArgumentException](
      store.setMeta(Map(JournalStore.RetentionKey -> "banana")))
    assert(e.getMessage.contains("not a valid SQL interval"))
    // an expression smuggled into the property is refused as a whole —
    // the strict interval parser never interpolates into expr()
    intercept[IllegalArgumentException](store.setMeta(Map(
      JournalStore.RetentionKey -> "1' DAY) OR (1=1")))
    intercept[IllegalArgumentException](store.setMeta(Map(
      JournalStore.RetentionKey ->
        "30 DAYS' THEN current_timestamp() ELSE '")))
    // non-positive retention = "erase everything": surely a typo
    intercept[IllegalArgumentException](store.setMeta(Map(
      JournalStore.RetentionKey -> "-1 DAYS")))
    intercept[IllegalArgumentException](store.setMeta(Map(
      JournalStore.RetentionKey -> "0 SECONDS")))
    // ns-scoped keys validate through the same door
    intercept[IllegalArgumentException](store.setMeta(Map(
      JournalStore.RetentionKey + ".hot" -> "nonsense")))
    // valid specs (either scope) land
    store.setMeta(Map(JournalStore.RetentionKey -> "30 DAYS",
      JournalStore.RetentionKey + ".hot" -> "12 HOURS"))
    assert(store.manifest.meta(JournalStore.RetentionKey) === "30 DAYS")
  }

  test("per-namespace retention: one maintain() sweeps each ns to its " +
      "own TTL; the global policy covers the rest") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1000)
    val now = java.time.Instant.now()
    def at(minusHours: Long) =
      java.sql.Timestamp.from(now.minus(minusHours,
        java.time.temporal.ChronoUnit.HOURS))
    // hot: TTL 1 hour — rows at 2h (doomed) and 0.5h (kept)
    // cold: TTL 1 day — rows at 2h (kept!) and 48h (doomed)
    // other: no ns policy — global 6 hours: 2h kept, 12h doomed
    val rows = Seq(
      ("hot", 1L, at(2), "doomed-hot", 1.0),
      ("hot", 2L, at(0), "kept-hot", 1.0),
      ("cold", 3L, at(2), "kept-cold", 1.0),
      ("cold", 4L, at(48), "doomed-cold", 1.0),
      ("other", 5L, at(2), "kept-other", 1.0),
      ("other", 6L, at(12), "doomed-other", 1.0),
    ).toDF("ns", "ukey", "ts", "payload", "val")
    store.append(rows)
    store.setMeta(Map(
      JournalStore.RetentionKey -> "6 HOURS",
      JournalStore.RetentionKey + ".hot" -> "1 HOURS",
      JournalStore.RetentionKey + ".cold" -> "1 DAYS"))
    assert(store.maintain() === 3L)
    val kept = store.scanUnordered().select("payload")
      .as[String].collect().toSeq.sorted
    assert(kept === Seq("kept-cold", "kept-hot", "kept-other"))
    // a second sweep is the no-op the declared policy promises
    assert(store.maintain() === 0L)
  }

  test("null-ns batches are refused at the append door; the rejection " +
      "leaves zero visible state") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1000)
    store.append(sampleDf)
    val v0 = store.versions().max
    val e = intercept[IllegalArgumentException] {
      store.append(Seq(
        (Option.empty[String], 99L,
          java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "p", 1.0))
        .toDF("ns", "ukey", "ts", "payload", "val"))
    }
    assert(e.getMessage.contains("ns must be non-null"))
    // EMPTY string is the same hole through a different door: the
    // partition writer maps '' to the default-partition directory,
    // which reads back as NULL — the rejection must cover both
    val e2 = intercept[IllegalArgumentException] {
      store.append(Seq(
        ("", 98L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"),
          "p", 1.0)).toDF("ns", "ukey", "ts", "payload", "val"))
    }
    assert(e2.getMessage.contains("non-empty"))
    // no manifest advanced, no rows visible, and the store still writes
    assert(store.versions().max === v0)
    assert(store.scanUnordered().where(col("ns").isNull).count() === 0L)
    store.append(sampleDf)
    assert(store.versions().max > v0)
  }

  test("cloneTo retry: a stale same-size file at dest is replaced by " +
      "the source bytes, never adopted") {
    val store = JournalStore.create(spark, freshPath, epochSize = 100)
    store.append(sampleDf)
    val rel = store.manifest.files.head
    val srcBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(store.path, "segments", rel))
    // a failed clone from a DIFFERENT source left a same-size file with
    // different bytes at dest — length equality must not be trusted
    val dest = freshPath
    val stale = java.nio.file.Paths.get(dest, "segments", rel)
    java.nio.file.Files.createDirectories(stale.getParent)
    val garbage = srcBytes.clone()
    garbage(garbage.length / 2) = (garbage(garbage.length / 2) ^ 0x5A).toByte
    java.nio.file.Files.write(stale, garbage)
    val clone = store.cloneTo(dest)
    assert(java.nio.file.Files.readAllBytes(stale).sameElements(srcBytes))
    assert(clone.scan().collect().map(_.toString).sorted.toSeq ===
      store.scan().collect().map(_.toString).sorted.toSeq)
  }

  test("hot-directory append splits the writer across tasks (>1 file), " +
      "bounded fan-out, reads unchanged, cold dirs keep per-file stats") {
    val store = JournalStore.create(spark, freshPath, epochSize = 100000)
      .withMaxFileRows(100)
    // 1000 rows, ALL in one (epoch, ns) directory — the §2.5 hot-ns
    // ingest shape — plus a handful of cold-ns rows in the same batch
    val hot = spark.range(1000).selectExpr("'hot' AS ns", "id AS ukey",
      "timestamp'2024-01-01 00:00:01' AS ts",
      "concat('p', id) AS payload", "CAST(id AS DOUBLE) AS val")
    val cold = spark.range(3).selectExpr("'cold' AS ns", "id AS ukey",
      "timestamp'2024-01-01 00:00:02' AS ts",
      "concat('c', id) AS payload", "CAST(id AS DOUBLE) AS val")
    store.append(hot.unionByName(cold))
    val hotFiles = store.manifest.files.filter(_.contains("ns=hot"))
    val coldFiles = store.manifest.files.filter(_.contains("ns=cold"))
    // the hot directory fanned out: ceil(1000/100) = 10 target tasks
    // (hash collisions may co-locate salts, so >= 2 and <= 10 files)
    assert(hotFiles.size >= 2 && hotFiles.size <= 10,
      s"hot dir files: ${hotFiles.size}")
    assert(coldFiles.size === 1, s"cold dir files: ${coldFiles.size}")
    // bounded task-time spread by construction: no file holds more
    // than ~3x the target rows (hash spread over 10 salts)
    val rowsPerFile = hotFiles.map { f =>
      spark.read.parquet(s"${store.path}/segments/$f").count()
    }
    assert(rowsPerFile.sum === 1000L)
    assert(rowsPerFile.max <= 300L,
      s"rows per hot file: ${rowsPerFile.sorted.mkString(", ")}")
    // reads see every row exactly once, same as an unsplit append
    assert(store.scanUnordered().count() === 1003L)
    assert(store.scanUnordered().where(col("ns") === "hot")
      .agg(sum("ukey")).head.getLong(0) === (0L until 1000L).sum)
    // per-file stats: cold dir keeps them; hot files are stats-less
    // (unpruned, never wrong — the documented multi-file tolerance)
    assert(store.manifest.fstats.exists(s => coldFiles.contains(s.file)))
    assert(!store.manifest.fstats.exists(s => hotFiles.contains(s.file)))
    // a later key-targeted read is still correct through the stats-less
    // files (pruning declines, results don't change)
    assert(store.scanUnordered().where(col("ukey") === 777L).count() === 1L)
  }

  test("overlapped store passes run in the caller's job group: every job " +
      "of analyze() and of an append to an analyzed store carries it") {
    val store = JournalStore.create(spark, freshPath, epochSize = 100)
    def batch(lo: Long) = (lo until lo + 20).map(i =>
      ("users", i, ts("2024-01-01 00:00:00"), s"p$i", i.toDouble))
      .toDF("ns", "ukey", "ts", "payload", "val")
    // the first append runs overlapped passes with no group set, so any
    // pooled worker they spawned would carry no group from here on
    store.append(batch(0L))
    val sc = spark.sparkContext
    sc.setJobGroup("g", "overlap job-group spec")
    val jobs = try TestSpark.jobsDuring {
      store.analyze()
      store.append(batch(100L))
    } finally sc.clearJobGroup()
    assert(jobs.nonEmpty)
    assert(jobs.forall(_.group == "g"), jobs.filter(_.group != "g"))
  }

  test("merge releases its pinned source: no RDD blocks it persisted " +
      "outlive a small-source or a >2048-row merge") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1000)
    store.append((0 until 50).map(i =>
      ("users", i.toLong, ts("2024-01-01 00:00:00"), s"p$i", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val"))
    val sc = spark.sparkContext
    def held = sc.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap
    val small = Seq(("users", 1L, ts("2024-01-02 00:00:00"), "s1", 2.0))
      .toDF("ns", "ukey", "ts", "payload", "val")
    val big = spark.range(3000).selectExpr("'users' AS ns", "id AS ukey",
      "timestamp'2024-01-02 00:00:00' AS ts", "concat('b', id) AS payload",
      "CAST(1.0 AS DOUBLE) AS val")
    for (src <- Seq(small, big)) {
      val before = held
      store.merge(src)
      val after = held
      assert(after.keySet.subsetOf(before.keySet),
        s"still persisted after merge: ${after -- before.keySet}")
      assert(after.values.sum <= before.values.sum)
    }
    assert(store.latest().count() === 3000L)
  }

  test("escaped namespaces: deletes, vectors, cstats, purge, stream and " +
      "change feed name files as the manifest does") {
    val dir = java.nio.file.Files.createTempDirectory("graft_escns_").toString
    val path = s"$dir/store"
    val store = JournalStore.create(spark, path, epochSize = 100)
    val nss = Seq("lit", "a b", "x/y")
    def rows(ks: Long*) = (for (n <- nss; k <- ks) yield
      (n, k, ts(f"2024-01-01 10:00:$k%02d"), s"$n-$k", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val")
    store.append(rows(1L, 2L))
    store.append(rows(3L, 4L)) // two files per namespace directory
    def counts = store.nsStats().select("ns", "n_rows")
      .as[(String, Long)].collect().toMap
    def live = store.scan().groupBy("ns").count()
      .as[(String, Long)].collect().toMap
    // the erase opens the escaped-ns candidates but rewrites only the
    // one file that holds the key
    val m0 = store.manifest
    assert(store.deleteWhere(col("ns") === "a b" && col("ukey") === 1L) === 1L)
    val gone = m0.files diff store.manifest.files
    assert(gone.size === 1 && gone.head.contains("ns=a b/"), gone)
    // per-namespace stats stay keyed by the ns value, never its directory
    assert(store.deleteWhere(col("ns") === "x/y" && col("ukey") === 1L) === 1L)
    assert(counts === Map("lit" -> 4L, "a b" -> 3L, "x/y" -> 3L))
    assert(counts === live)
    // vector entries map back to manifest files and decrement the
    // escaped namespaces' counts
    val v0 = store.versions().last
    assert(store.deleteWhereDv(col("ukey") === 4L && col("ns") =!= "lit") === 2L)
    val m1 = store.manifest
    val dvFiles = JournalStore.dvFileNames(m1.dvParts.map(p => s"$path/dv/$p"))
    assert(dvFiles.size === 2 && dvFiles.subsetOf(m1.files.toSet), dvFiles)
    assert(counts === Map("lit" -> 4L, "a b" -> 2L, "x/y" -> 2L))
    assert(counts === live)
    // the change feed names the vectored rows as deletes
    val cf = store.changes(v0, store.versions().last)
      .select("_change_type", "ns", "ukey").as[(String, String, Long)]
      .collect().toSet
    assert(cf === Set(("delete", "a b", 4L), ("delete", "x/y", 4L)))
    // a stream over the store subtracts the vectors like the batch scan
    val q = spark.readStream.format("journal").load(path)
      .writeStream.format("memory").queryName("escns").outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    def keysOf(df: org.apache.spark.sql.DataFrame) =
      df.select("ns", "ukey").as[(String, Long)].collect().toSet
    assert(keysOf(spark.table("escns")) === keysOf(store.scan()))
    assert(!keysOf(spark.table("escns")).contains(("a b", 4L)))
    // per-file column sketches name manifest files
    store.analyze()
    val m2 = store.manifest
    val sketched = ColumnStatsSidecar.readAll(path, m2.cstatsParts).keySet.map(_._1)
    assert(sketched === m2.files.toSet)
    // the purge finds the escaped files' dead fractions and rewrites them
    val before = keysOf(store.scan())
    assert(store.purgeDeletes(0.01) === 2)
    assert(store.manifest.dvParts.isEmpty)
    assert(keysOf(store.scan()) === before)
    assert(counts === live)
  }

  test("a failed commit releases the frames append, deleteWhere and " +
      "compact pinned") {
    val store = JournalStore.create(spark, freshPath, epochSize = 1000)
    def batch(from: Long) = (from until from + 40).map(i =>
      (if (i % 2 == 0) "a" else "b", i, ts("2024-01-01 00:00:00"), s"p$i", 1.0))
      .toDF("ns", "ukey", "ts", "payload", "val")
    store.append(batch(0L))
    store.analyze() // live stats: every op below pins its input
    val sc = spark.sparkContext
    def held = sc.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap
    val ops: Seq[(String, () => Any)] = Seq(
      "append" -> (() => store.append(batch(100L))),
      "deleteWhere" -> (() => store.deleteWhere(col("ukey") === 3L)),
      "compact" -> (() => store.compact(Long.MaxValue)))
    for ((name, op) <- ops) {
      val before = held
      val pinnedBefore = sc.getPersistentRDDs.keySet
      store.onCommitSeam = () => throw new IllegalStateException(s"$name: injected")
      val ex = intercept[IllegalStateException](op())
      assert(ex.getMessage === s"$name: injected")
      val after = held
      assert(after.keySet.subsetOf(before.keySet),
        s"$name left persisted: ${after -- before.keySet}")
      assert(sc.getPersistentRDDs.keySet.subsetOf(pinnedBefore),
        s"$name left registered: ${sc.getPersistentRDDs.keySet -- pinnedBefore}")
    }
    assert(store.latest().count() === 40L) // nothing became visible
  }
}
