package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.operators.{CheckpointedRollup, Rollup}
import graft.sources.{IceTable, MetaFile, TranscriptGen}

/** Snapshot lineage, stat pruning, retention expiry, and crash-resume
  * (SURVEY.md §5.6). */
class IceTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val turnsDf =
    TranscriptGen.turns(spark, nConvs = 20L, withDuplicates = false).toDF.cache()

  test("append creates snapshots with lineage and accurate row metrics") {
    val t = IceTable(tmp("ice"))
    val half1 = turnsDf.where($"turn_idx" % 2 === 0)
    val half2 = turnsDf.where($"turn_idx" % 2 === 1)
    val id1 = t.append(half1, "ts")
    val id2 = t.append(half2, "ts")
    assert(id1 == 1 && id2 == 2)
    assert(t.current.get.parentId == 1 && t.current.get.op == "append")
    assert(t.metrics._1 == turnsDf.count())
    assert(t.scan(spark).count() == turnsDf.count())
    // older snapshot still readable (time travel by id)
    assert(t.liveFiles(1).map(_.rows).sum == half1.count())
  }

  test("keyed append is idempotent: replaying an epoch is a no-op") {
    val t = IceTable(tmp("ice"))
    val half1 = turnsDf.where($"turn_idx" % 2 === 0)
    val half2 = turnsDf.where($"turn_idx" % 2 === 1)
    val id1 = t.append(half1, "ts", key = Some("ck#epoch-0"))
    // at-least-once replay of the same micro-batch: must not duplicate rows
    val replay = t.append(half1, "ts", key = Some("ck#epoch-0"))
    assert(replay == id1, "replayed epoch must return the original snapshot id")
    assert(t.currentSnapshotId == id1)
    assert(t.scan(spark).count() == half1.count())
    // a NEW epoch still appends
    val id2 = t.append(half2, "ts", key = Some("ck#epoch-1"))
    assert(id2 > id1)
    assert(t.scan(spark).count() == turnsDf.count())
    // and the key survives in the snapshot log (lineage/audit)
    assert(t.snapshot(id2).get.key.contains("ck#epoch-1"))
  }

  test("orphan data dir from a crashed commit never wedges later appends") {
    val t = IceTable(tmp("ice"))
    t.append(turnsDf.where($"turn_idx" % 2 === 0), "ts")
    // simulate a crash AFTER the data rename but BEFORE the snapshot claim:
    // an unreferenced UUID data dir exists, no JSON points at it
    val orphan = new java.io.File(s"${t.root}/data/d-dead-beef")
    assert(orphan.mkdirs())
    val id = t.append(turnsDf.where($"turn_idx" % 2 === 1), "ts")
    assert(id == 2, s"data dirs carry no ids — next claim is simply parent+1, got $id")
    assert(t.scan(spark).count() == turnsDf.count())
    // the orphan is invisible to scans and reclaimable by an aged vacuum
    assert(t.vacuum(keepFromId = id, minAgeMs = 0)._1 == 1) // snapshot 1's JSON
  }

  test("a claimed snapshot JSON above the CURRENT hint IS the table head (pointer heals)") {
    val t = IceTable(tmp("ice"))
    t.append(turnsDf.where($"turn_idx" % 2 === 0), "ts")
    val id2 = t.append(turnsDf.where($"turn_idx" % 2 === 1), "ts")
    // simulate a writer that crashed between its JSON claim and the CURRENT
    // advance: wind the hint back below the committed claim (drop Hadoop's
    // checksum sidecar too — we bypass the FS API on purpose here)
    new java.io.File(s"${t.root}/.CURRENT.crc").delete()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${t.root}/CURRENT"), "1".getBytes)
    assert(t.currentSnapshotId == id2, "listing-max must out-vote a stale CURRENT hint")
    assert(t.scan(spark).count() == turnsDf.count())
    // and the next commit parents off the healed head
    val id3 = t.expireOlderThan(Long.MinValue)
    assert(id3 == id2 + 1 && t.snapshot(id3).get.parentId == id2)
  }

  test("two interleaved writers: every append lands, chain is linear, no file set lost") {
    val root = tmp("ice")
    val writers = (0 until 4).map(_ => IceTable(root))
    val perWriter = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futs = writers.zipWithIndex.map { case (w, i) =>
      scala.concurrent.Future {
        (0 until perWriter).map { k =>
          w.append(turnsDf.where($"turn_idx" % 12 === (i * perWriter + k)).coalesce(1), "ts")
        }
      }
    }
    val ids = scala.concurrent.Await
      .result(scala.concurrent.Future.sequence(futs), scala.concurrent.duration.Duration(300, "s"))
      .flatten
    pool.shutdown()
    val n = writers.size * perWriter
    // every writer got a distinct id and the chain is exactly 1..n
    assert(ids.toSet == (1L to n).toSet, s"lost/duplicated claims: $ids")
    // linear lineage: each snapshot parents the previous one
    (1L to n).foreach(id => assert(writers.head.snapshot(id).get.parentId == id - 1))
    // no file set lost: the head resolves every writer's rows
    val t = writers.head
    assert(t.currentSnapshotId == n)
    assert(t.scan(spark).count() == turnsDf.where($"turn_idx" % 12 < n).count())
  }

  test("scanAt time-travels to any committed snapshot (expiry keeps files readable)") {
    val t = IceTable(tmp("ice"))
    val half1 = turnsDf.where($"turn_idx" % 2 === 0)
    val half2 = turnsDf.where($"turn_idx" % 2 === 1)
    val id1 = t.append(half1, "ts")
    val id2 = t.append(half2, "ts")
    assert(t.scanAt(spark, id1).count() == half1.count())
    assert(t.scanAt(spark, id2).count() == turnsDf.count())
    // expiry is metadata-only: the pre-expiry snapshot stays fully readable
    t.expireOlderThan(Long.MaxValue)
    assert(t.scan(spark).count() == 0L)
    assert(t.scanAt(spark, id2).count() == turnsDf.count())
    intercept[IllegalArgumentException](t.scanAt(spark, 999L))
  }

  test("scan prunes files by manifest min/max stats") {
    val t = IceTable(tmp("ice"))
    // two appends with disjoint time ranges → disjoint file stats
    val early = turnsDf.where($"ts" < "2025-01-15")
    val late = turnsDf.where($"ts" >= "2025-01-15")
    t.append(early, "ts")
    t.append(late, "ts")
    val cutoffUs = java.sql.Timestamp.valueOf("2025-01-15 00:00:00").getTime * 1000
    val pruned = t.scan(spark, loUs = cutoffUs)
    // row-correct
    assert(pruned.where($"ts" >= "2025-01-15").count() == late.count())
    // file-correct: pruned scan must read strictly fewer files than full scan
    assert(pruned.inputFiles.length < t.scan(spark).inputFiles.length)
  }

  test("expireOlderThan drops aged files metadata-only and keeps lineage") {
    val t = IceTable(tmp("ice"))
    val early = turnsDf.where($"ts" < "2025-01-15")
    val late = turnsDf.where($"ts" >= "2025-01-15")
    t.append(early, "ts")
    t.append(late, "ts")
    val cutoffUs = java.sql.Timestamp.valueOf("2025-01-15 00:00:00").getTime * 1000
    val id = t.expireOlderThan(cutoffUs)
    assert(t.current.get.op == "expire" && t.current.get.id == id)
    assert(t.scan(spark).count() == late.count())
    // expired snapshot still on disk (audit) — time travel sees old files
    assert(t.liveFiles(2).map(_.rows).sum == early.count() + late.count())
  }

  test("rewriteCompact coalesces files, preserves rows, keeps time travel") {
    val t = IceTable(tmp("ice"))
    t.append(turnsDf.where($"turn_idx" % 2 === 0), "ts")
    t.append(turnsDf.where($"turn_idx" % 2 === 1), "ts")
    val before = t.scan(spark).orderBy("conv_id", "turn_idx").collect()
    val nFilesBefore = t.currentLiveFiles.length
    val id = t.rewriteCompact(spark, "ts", targetFiles = 1)
    assert(t.current.get.op == "rewrite" && t.current.get.id == id)
    assert(t.currentLiveFiles.length < nFilesBefore)
    val after = t.scan(spark).orderBy("conv_id", "turn_idx").collect()
    assert(after.sameElements(before))
    // pre-rewrite snapshot still resolvable
    assert(t.liveFiles(2).map(_.rows).sum == before.length)
  }

  test("append manifests are delta: snapshot JSON entries stay O(new files) across N appends") {
    val t = IceTable(tmp("ice"))
    val days = (10 to 19).map(d => turnsDf.where($"ts" >= f"2025-01-$d%02d" && $"ts" < f"2025-01-${d + 1}%02d"))
    days.foreach(d => t.append(d.coalesce(1), "ts"))
    // every append after the first base lists ONLY its own files (1 here),
    // not the cumulative live set — N appends write O(N) total entries,
    // not the O(N²) a full-list-per-snapshot log accumulates
    val entryCounts = (1L to t.currentSnapshotId).map(id => t.snapshot(id).get.files.length)
    assert(entryCounts.max <= 2, s"append manifests must be delta-sized, got $entryCounts")
    // the resolved live set is still complete and scan-correct
    assert(t.currentLiveFiles.map(_.rows).sum == days.map(_.count()).sum)
    assert(t.scan(spark).count() == days.map(_.count()).sum)
    // expire compacts the chain into a base manifest
    t.expireOlderThan(Long.MinValue)
    assert(!t.current.get.delta && t.current.get.files.length == t.currentLiveFiles.length)
  }

  test("keyed lookup uses the keys.json index, heals when stale, survives deletion") {
    val t = IceTable(tmp("ice"))
    val ids = (0 until 5).map { e =>
      t.append(turnsDf.where($"turn_idx" % 5 === e).coalesce(1), "ts", key = Some(s"ck#epoch-$e"))
    }
    assert(t.appendIdForKey("ck#epoch-3").contains(ids(3)))
    assert(t.appendIdForKey("nope").isEmpty)
    // the index is a pure cache over the snapshot log: deleting it must not
    // change any answer (it rebuilds from the log on the next lookup)
    val idx = new java.io.File(s"${t.root}/keys.json")
    assert(idx.exists(), "keys.json index must exist after keyed appends")
    assert(idx.delete())
    assert(t.appendIdForKey("ck#epoch-1").contains(ids(1)))
    assert(idx.exists(), "lookup must rebuild the index")
    // replay through the healed index is still a no-op
    val replay = t.append(turnsDf.where($"turn_idx" % 5 === 2), "ts", key = Some("ck#epoch-2"))
    assert(replay == ids(2) && t.currentSnapshotId == ids.last)
  }

  test("vacuum reclaims bytes of unreferenced files, drops old snapshots, rebases kept deltas") {
    val t = IceTable(tmp("ice"))
    val thirds = (0 until 3).map(k => turnsDf.where($"turn_idx" % 3 === k))
    thirds.foreach(d => t.append(d.coalesce(1), "ts"))
    val compactId = t.rewriteCompact(spark, "ts") // pre-compaction files now unreferenced
    val extraId = t.append(thirds(0).limit(7).coalesce(1), "ts") // a kept DELTA over the rewrite base
    val expected = t.scan(spark).count()

    val (snaps, files, bytes) = t.vacuum(keepFromId = compactId, minAgeMs = 0)
    assert(snaps == 3 && files == 3 && bytes > 0,
      s"3 pre-compaction snapshots + their files must go, got ($snaps, $files, $bytes)")
    // current lineage unaffected: full scan + the kept delta still resolve
    assert(t.currentSnapshotId == extraId)
    assert(t.scan(spark).count() == expected)
    assert(t.scanAt(spark, compactId).count() == turnsDf.count())
    // pre-horizon time travel is gone (that is the point of vacuum)
    intercept[IllegalArgumentException](t.scanAt(spark, 1L))
    // idempotent: nothing left to reclaim
    assert(t.vacuum(keepFromId = compactId, minAgeMs = 0) == ((0, 0, 0L)))
  }

  test("vacuum grace window spares fresh unreferenced data (concurrent-writer safety)") {
    val t = IceTable(tmp("ice"))
    t.append(turnsDf.where($"turn_idx" % 2 === 0).coalesce(1), "ts")
    val compactId = t.rewriteCompact(spark, "ts") // snapshot 1's files now unreferenced
    // default-style grace: everything here is younger than minAgeMs, so the
    // unreferenced bytes (≈ a mid-commit writer's staged data) must survive
    val (snapsA, filesA, bytesA) = t.vacuum(keepFromId = compactId, minAgeMs = 3600 * 1000L)
    assert(filesA == 0 && bytesA == 0L, s"grace window must spare fresh files, got ($filesA, $bytesA)")
    assert(snapsA == 1, "metadata below the horizon still goes (it is committed, not in-flight)")
    assert(t.scan(spark).count() > 0)
    // aged (grace 0): now the unreferenced bytes are reclaimed
    val (_, filesB, bytesB) = t.vacuum(keepFromId = compactId, minAgeMs = 0)
    assert(filesB > 0 && bytesB > 0L)
    assert(t.scan(spark).count() > 0)
  }

  test("vacuum preserves idempotency keys of vacuumed snapshots") {
    val t = IceTable(tmp("ice"))
    val half1 = turnsDf.where($"turn_idx" % 2 === 0)
    val half2 = turnsDf.where($"turn_idx" % 2 === 1)
    val id0 = t.append(half1, "ts", key = Some("ck#e0"))
    val id1 = t.append(half2, "ts", key = Some("ck#e1"))
    // crash-window simulation: the post-commit index write never happened
    assert(new java.io.File(s"${t.root}/keys.json").delete())
    val id2 = t.rewriteCompact(spark, "ts")
    t.vacuum(keepFromId = id2, minAgeMs = 0) // deletes the keyed snapshots' JSONs
    assert(t.snapshot(id0).isEmpty)
    // replay of the vacuumed epochs must STILL be a no-op: vacuum synced
    // the key index from the log BEFORE deleting the JSONs
    assert(t.append(half1, "ts", key = Some("ck#e0")) == id0)
    assert(t.appendIdForKey("ck#e1").contains(id1))
    assert(t.currentSnapshotId == id2)
  }

  test("vacuum rebases a kept delta whose chain crosses the horizon") {
    val t = IceTable(tmp("ice"))
    val thirds = (0 until 3).map(k => turnsDf.where($"turn_idx" % 3 === k))
    val ids = thirds.map(d => t.append(d.coalesce(1), "ts")) // base, delta, delta
    val expected = t.scan(spark).count()
    // keep only the LAST delta: its chain references both dropped snapshots,
    // so vacuum must materialize it as a base manifest first
    val (snaps, files, bytes) = t.vacuum(keepFromId = ids.last, minAgeMs = 0)
    assert(snaps == 2 && files == 0 && bytes == 0L,
      s"all data files stay referenced by the rebased head, got ($snaps, $files, $bytes)")
    assert(!t.current.get.delta && t.scan(spark).count() == expected)
    assert(t.currentLiveFiles.length == 3)
  }

  test("vacuum running beside an active writer never loses a committed append") {
    val root = tmp("ice")
    val writer = IceTable(root)
    val janitor = IceTable(root)
    val slices = (0 until 6).map(k => turnsDf.where($"turn_idx" % 6 === k).coalesce(1))
    writer.append(slices.head, "ts")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val appends = scala.concurrent.Future {
      slices.tail.map(s => writer.append(s, "ts"))
    }
    // the out-of-band janitor loops with the DEFAULT grace window while
    // the writer commits — the exact TierStore.vacuumRetention shape the
    // old design corrupted (it deleted claims above the CURRENT hint and
    // swept staged-but-unclaimed data)
    var sweeps = 0
    while (!appends.isCompleted) {
      janitor.vacuum(keepFromId = janitor.currentSnapshotId)
      sweeps += 1
      Thread.sleep(20)
    }
    scala.concurrent.Await.result(appends, scala.concurrent.duration.Duration(300, "s"))
    pool.shutdown()
    assert(sweeps > 0)
    assert(writer.currentSnapshotId == 6)
    assert(writer.scan(spark).count() == turnsDf.count(),
      "every append must survive concurrent vacuuming")
  }

  test("cross-process claim race: exactly one of N concurrent claimants wins an id") {
    // drives tryClaimSnapshot DIRECTLY from distinct IceTable instances,
    // bypassing the in-JVM commit lock (claimCommit's monitor) — the
    // local-FS OS file lock is then the ONLY serialization, the same
    // situation as N separate processes claiming one id. POSIX rename
    // overwrites, so without the lock several claimants could each
    // "succeed" and silently drop all but the last snapshot JSON.
    val root = tmp("ice")
    val n = 8
    val tables = (0 until n).map(_ => IceTable(root))
    tables.head.append(turnsDf.limit(5).coalesce(1), "ts") // v1 exists
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val wins =
      try {
        val futures = tables.zipWithIndex.map { case (t, i) =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              val snap = t.Snapshot(id = 2L, parentId = 1L, op = s"claimant-$i", files = Seq.empty)
              barrier.await()
              t.tryClaimSnapshot(snap)
            }
          })
        }
        futures.map(_.get())
      } finally pool.shutdown()
    assert(wins.count(identity) == 1, s"exactly one claim of v2 may win, got $wins")
    val winner = wins.indexOf(true)
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/snapshots/v00002.json"))
    assert(json.contains(s"claimant-$winner"), "the committed JSON must be the winner's, intact")
    assert(new java.io.File(s"$root/snapshots/.commit.lock").exists(),
      "the permanent per-table commit-lock file exists (never deleted - see claimLocalFs)")
  }

  test("batched day units: one job per batch, per-day markers, empty days stay scannable") {
    // one source file spanning 3 days with rows ONLY on day 1 and day 3:
    // day 2 is pending (file span covers it) but holds zero rows — the
    // batch path must commit it as a SCHEMA-BEARING empty parquet dir, or
    // any later single-day scan of it fails schema inference
    val rows = Seq(
      ("c1", "2025-02-01 10:00:00", 3.0),
      ("c1", "2025-02-03 10:00:00", 7.0),
      ("c2", "2025-02-01 11:00:00", 5.0))
      .toDF("conv_id", "tss", "text_len")
      .select($"conv_id", to_timestamp($"tss").as("ts"), $"text_len")
    val t = IceTable(tmp("ice-empty"))
    t.append(rows.coalesce(1).sortWithinPartitions("ts"), "ts")
    val outDir = tmp("tier-batched")
    val res = CheckpointedRollup.runUnits(spark, new CheckpointedRollup.IceDaySource(t), outDir,
      raw => Rollup.rollupRaw(raw, col("conv_id"), col("ts"), col("text_len"), "1 minute"),
      parallelism = 1, dayBucket = Some(col("bucket_start")), unitBatch = 3)
    assert(res.length == 3, s"3 pending days expected, got $res")
    val empty = res.find(_.rows == 0L)
    assert(empty.isDefined, s"the row-less middle day must commit with rows=0: $res")
    // per-day markers exist and single-day re-scan of EVERY day (incl. the
    // empty one) succeeds with the tier schema
    val src = new CheckpointedRollup.DayDirSource(spark, outDir)
    assert(src.pendingDays.length == 3)
    src.pendingDays.foreach { d =>
      val df = src.scanDay(spark, d)
      assert(df.columns.contains("bucket_start"), s"day $d lost its schema")
    }
    assert(src.scanDays(spark, src.pendingDays).count() == 3) // 3 (conv, minute) buckets
    // rebuild is a metadata-only skip for all days, empty one included
    val again = CheckpointedRollup.runUnits(spark, new CheckpointedRollup.IceDaySource(t), outDir,
      raw => Rollup.rollupRaw(raw, col("conv_id"), col("ts"), col("text_len"), "1 minute"),
      parallelism = 1, dayBucket = Some(col("bucket_start")), unitBatch = 3)
    assert(again.forall(_.skipped), s"unchanged source must skip all days: $again")
  }

  test("checkpointed rollup resumes after crash with identical output") {
    val t = IceTable(tmp("ice"))
    t.append(turnsDf.withColumn("text_len", length($"text").cast("double")), "ts")

    // reference output: single uninterrupted run
    val refDir = tmp("tier-ref")
    CheckpointedRollup.run(spark, t, refDir, col("text_len"))

    // crashing run: fails after 3 units, then resumes
    val crashDir = tmp("tier-crash")
    intercept[RuntimeException] {
      CheckpointedRollup.run(spark, t, crashDir, col("text_len"), failAfter = Some(3))
    }
    val resumed = CheckpointedRollup.run(spark, t, crashDir, col("text_len"))
    assert(resumed.count(_.skipped) == 3, "exactly the 3 completed units must be skipped")

    val a = spark.read.parquet(s"$refDir/day=*").orderBy("conv_id", "bucket_start").collect()
    val b = spark.read.parquet(s"$crashDir/day=*").orderBy("conv_id", "bucket_start").collect()
    assert(a.sameElements(b))
    assert(a.nonEmpty)
  }

  test("parallel day submission (2 concurrent jobs) matches the serial build") {
    val t = IceTable(tmp("ice"))
    t.append(turnsDf.withColumn("text_len", length($"text").cast("double")), "ts")
    val serialDir = tmp("tier-serial")
    val parDir = tmp("tier-par")
    CheckpointedRollup.run(spark, t, serialDir, col("text_len"))
    val res = CheckpointedRollup.run(spark, t, parDir, col("text_len"), parallelism = 2)
    assert(res.forall(!_.skipped))
    val a = spark.read.parquet(s"$serialDir/day=*").orderBy("conv_id", "bucket_start").collect()
    val b = spark.read.parquet(s"$parDir/day=*").orderBy("conv_id", "bucket_start").collect()
    assert(a.sameElements(b) && a.nonEmpty)
    // resume over the parallel build still skips everything
    assert(CheckpointedRollup.run(spark, t, parDir, col("text_len"), parallelism = 2).forall(_.skipped))
  }

  test("incremental invalidation: appending data recomputes ONLY the touched days") {
    val t = IceTable(tmp("ice"))
    val withLen = turnsDf.withColumn("text_len", length($"text").cast("double"))
    t.append(withLen, "ts")
    val outDir = tmp("tier")
    CheckpointedRollup.run(spark, t, outDir, col("text_len"))
    val again = CheckpointedRollup.run(spark, t, outDir, col("text_len"))
    assert(again.forall(_.skipped), "unchanged source → all units skipped")

    // append rows confined to a narrow late date range → only those days'
    // source-file fingerprints change
    val late = withLen.where($"ts" >= "2025-01-28")
    assert(late.count() > 0)
    t.append(late, "ts")
    val after = CheckpointedRollup.run(spark, t, outDir, col("text_len"))
    val redone = after.filter(!_.skipped).map(_.dayUs).toSet
    val skipped = after.count(_.skipped)
    assert(redone.nonEmpty && skipped > 0,
      s"expected a mix: redone=${redone.size}, skipped=$skipped")
    val cutoffUs = java.sql.Timestamp.valueOf("2025-01-28 00:00:00").getTime * 1000
    assert(redone.forall(_ >= cutoffUs - 86400000000L),
      s"only late days may recompute, got ${redone.map(_ / 86400000000L)}")

    // and the incremental result equals a from-scratch build on the same source
    val freshDir = tmp("tier-fresh")
    CheckpointedRollup.run(spark, t, freshDir, col("text_len"))
    val a = spark.read.parquet(s"$outDir/day=*").orderBy("conv_id", "bucket_start").collect()
    val b = spark.read.parquet(s"$freshDir/day=*").orderBy("conv_id", "bucket_start").collect()
    assert(a.sameElements(b))
  }

  test("batched day units: a NULL day bucket fails the contract check before any day commits") {
    val rows = Seq(
      ("c1", "2025-02-01 10:00:00", 3.0),
      ("c2", "2025-02-02 11:00:00", 5.0))
      .toDF("conv_id", "tss", "text_len")
      .select($"conv_id", to_timestamp($"tss").as("ts"), $"text_len")
    val t = IceTable(tmp("ice-null-bucket"))
    t.append(rows.coalesce(1).sortWithinPartitions("ts"), "ts")
    val outDir = tmp("tier-null-bucket")
    // c2's bucket is NULL: Spark writes it to day=__HIVE_DEFAULT_PARTITION__
    val e = intercept[IllegalArgumentException] {
      CheckpointedRollup.runUnits(spark, new CheckpointedRollup.IceDaySource(t), outDir,
        raw => Rollup.rollupRaw(raw, col("conv_id"), col("ts"), col("text_len"), "1 minute")
          .withColumn("bucket_start",
            when(col("conv_id") === "c2", lit(null).cast("timestamp")).otherwise(col("bucket_start"))),
        parallelism = 1, dayBucket = Some(col("bucket_start")), unitBatch = 2)
    }
    assert(e.getMessage.contains("null day bucket"), e.getMessage)
    val committed = new java.io.File(outDir).list().filter(_.startsWith("day="))
    val markers = new java.io.File(outDir, "_checkpoints").list()
    assert(committed.isEmpty && markers.isEmpty,
      s"no day may commit: ${committed.mkString(",")} / ${markers.mkString(",")}")
  }

  test("MetaFile: concurrent overwrites never throw, readers parse whole values, a .crc file stays readable") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(tmp("meta"))
    val fs = dir.getFileSystem(conf)
    val dst = new Path(dir, "keys.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // the value's length depends on its content, so a torn read cannot parse as whole
    def value(w: Int, k: Int) = s"""{"w":$w,"k":$k,"pad":"${"x" * (k % 97)}"}"""
    def whole(s: String): Boolean = scala.util.Try {
      val n = mapper.readTree(s)
      n.get("pad").asText.length == n.get("k").asInt % 97
    }.getOrElse(false)

    // first written the way older code wrote it: a checksummed Hadoop
    // create, which leaves a .crc sibling next to the file
    val out = fs.create(dst, true)
    try out.write(value(-1, 500).getBytes("UTF-8")) finally out.close()
    val crc = new java.io.File(dir.toUri.getPath, ".keys.json.crc")
    assert(crc.exists())
    MetaFile.write(fs, conf, dst, value(-2, 3))
    assert(MetaFile.read(fs, dst) == value(-2, 3), "read through Hadoop after the overwrite")
    assert(!crc.exists(), "the stale checksum must go with the first overwrite")

    val writers = 4
    val perWriter = 50
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers + 1)
    val running = new java.util.concurrent.atomic.AtomicBoolean(true)
    try {
      val reader = pool.submit(new java.util.concurrent.Callable[(Int, Int)] {
        def call(): (Int, Int) = {
          var (reads, torn) = (0, 0)
          while (running.get()) {
            reads += 1
            if (!whole(MetaFile.read(fs, dst))) torn += 1
          }
          (reads, torn)
        }
      })
      val writes = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until perWriter).foreach(k => MetaFile.write(fs, conf, dst, value(w, k)))
        })
      }
      writes.foreach(_.get()) // rethrows any writer's exception
      running.set(false)
      val (reads, torn) = reader.get()
      assert(reads > 0 && torn == 0, s"$torn of $reads reads saw a partial value")
    } finally pool.shutdown()
    assert(whole(MetaFile.read(fs, dst)))
    val left = new java.io.File(dir.toUri.getPath).list().filter(_ != "keys.json")
    assert(left.isEmpty, s"no temp or checksum file may be left behind: ${left.mkString(",")}")
  }

  test("IceDaySource pins its snapshot: a later append changes none of its answers") {
    val t = IceTable(tmp("ice-pin"))
    val withLen = turnsDf.withColumn("text_len", length($"text").cast("double"))
    t.append(withLen.where($"turn_idx" % 2 === 0), "ts")
    val source = new CheckpointedRollup.IceDaySource(t)
    val days = source.pendingDays
    val fps = days.map(source.dayFingerprint)
    val rows = source.scanDays(spark, days).count()
    val id = source.lineageId
    assert(id == 1L)

    // a writer commits between the source's construction and its run
    t.append(withLen.where($"turn_idx" % 2 === 1), "ts")
    assert(source.lineageId == id, "lineage must name the pinned snapshot")
    assert(source.pendingDays == days)
    assert(days.map(source.dayFingerprint) == fps)
    assert(source.scanDays(spark, days).count() == rows)
    val fresh = new CheckpointedRollup.IceDaySource(t)
    assert(fresh.lineageId == 2L && fresh.scanDays(spark, fresh.pendingDays).count() == turnsDf.count())

    // a run from the pinned source builds and records the pinned snapshot
    val outDir = tmp("tier-pin")
    CheckpointedRollup.runUnits(spark, source, outDir,
      raw => Rollup.rollupRaw(raw, col("conv_id"), col("ts"), col("text_len"), "1 minute"),
      dayBucket = Some(col("bucket_start")))
    val markerIds = new java.io.File(outDir, "_checkpoints").listFiles()
      .filter(_.getName.endsWith(".json"))
      .map(f => new com.fasterxml.jackson.databind.ObjectMapper().readTree(f).get("source_snapshot_id").asLong)
    assert(markerIds.nonEmpty && markerIds.forall(_ == id), markerIds.mkString(","))
    assert(spark.read.parquet(s"$outDir/day=*").agg(sum("n_rows")).head().getLong(0) == rows)
  }

  test("vacuum reclaims a claim temp abandoned by a writer that died mid-claim") {
    val t = IceTable(tmp("ice"))
    val id = t.append(turnsDf.limit(5).coalesce(1), "ts")
    val abandoned = new java.io.File(s"${t.root}/snapshots/.v00002.json.tmp-dead-beef")
    java.nio.file.Files.writeString(abandoned.toPath, "{}")
    assert(t.vacuum(keepFromId = id)._1 == 0 && abandoned.exists(), "a fresh temp may be a live claim")
    assert(abandoned.setLastModified(System.currentTimeMillis() - 2 * 3600 * 1000L))
    t.vacuum(keepFromId = id)
    assert(!abandoned.exists(), "a temp past the grace window is garbage")
    assert(t.currentSnapshotId == id && t.scan(spark).count() == 5)
  }
}
