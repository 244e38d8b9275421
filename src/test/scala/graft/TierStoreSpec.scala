package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.grafttest.Bus
import graft.functions.{Gorilla, GorillaAgg}
import graft.operators.{CheckpointedRollup, Rollup, TierStore}
import graft.sources.{IceTable, TranscriptGen}

/** End-to-end north-star pipeline: raw IceTable → Gorilla tier IceTables →
  * retention ladder; plus exact replay from gorilla blocks. */
class TierStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private lazy val fixture: (IceTable, org.apache.spark.sql.DataFrame) = {
    val src = IceTable(tmp("ice-src"))
    val turns = TranscriptGen.turns(spark, nConvs = 12L, withDuplicates = false)
      .toDF.withColumn("text_len", length($"text").cast("double")).cache()
    src.append(turns, "ts")
    (src, turns)
  }

  test("tier store: 1d tier from the store equals a direct raw rollup; gorilla replays raw") {
    val (src, turns) = fixture
    val tiers = TierStore.build(spark, src, tmp("tiers"), length($"text").cast("double"))

    // correctness: store's 1d stat blocks == direct raw→1d rollup
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"conv_id", $"bucket_start", $"n_rows", round($"sum", 6).as("s"), $"min", $"max")
      .orderBy("conv_id", "bucket_start").collect().toSeq
    val direct = Rollup.rollupRaw(turns, $"conv_id", $"ts", $"text_len", "1 day")
    assert(canon(tiers.t1d.scan(spark)) == canon(direct))

    // gorilla replay via the native Generator: decoding every 1m gblock
    // reproduces the raw points
    val replayed = tiers.t1m.scan(spark)
      .select($"conv_id", graft.plans.GorillaExplode.gorillaExplode($"gblock"))
      .orderBy("conv_id", "ts_us", "v").collect()
    val raw = turns
      .select($"conv_id", unix_micros($"ts".cast("timestamp")).as("ts_us"), $"text_len".as("v"))
      .orderBy("conv_id", "ts_us", "v").collect()
    assert(replayed.length == raw.length)
    assert(replayed.sameElements(raw))

    // the Generator and the UDF decode path agree
    val viaUdf = tiers.t1m.scan(spark)
      .select($"conv_id", explode(GorillaAgg.decodeUdf($"gblock")).as("p"))
      .select($"conv_id", $"p.ts_us", $"p.v")
      .orderBy("conv_id", "ts_us", "v").collect()
    assert(viaUdf.sameElements(replayed))

    // per-tier slice sizing: the fine tier keeps ~day slices (many files,
    // expiry granularity) while coarse tiers must NOT inherit that count —
    // a month-span fixture gets weekly 1h files and ~one 1d file
    val (f1m, f1h, f1d) = (tiers.t1m.currentLiveFiles.length,
      tiers.t1h.currentLiveFiles.length, tiers.t1d.currentLiveFiles.length)
    assert(f1m >= 10, s"1m tier should keep day-grained slices, got $f1m files")
    assert(f1h <= 8, s"1h tier must not over-slice, got $f1h files")
    assert(f1d <= 3, s"1d tier must not over-slice, got $f1d files")
  }

  test("incremental sync: appending raw data rebuilds ONLY the touched days at EVERY tier") {
    val src = IceTable(tmp("ice-sync"))
    val turns = TranscriptGen.turns(spark, nConvs = 12L, withDuplicates = false)
      .toDF.withColumn("text_len", length($"text").cast("double")).cache()
    src.append(turns.where($"ts" < "2025-01-20"), "ts")
    val root = tmp("tiers-sync")

    val (a1m, a1h, a1d) = TierStore.sync(spark, src, root, $"text_len")
    assert(a1m.forall(!_.skipped) && a1h.forall(!_.skipped) && a1d.forall(!_.skipped))

    // no change → all three tiers fully skipped (metadata-only pass)
    val (b1m, b1h, b1d) = TierStore.sync(spark, src, root, $"text_len")
    assert(b1m.forall(_.skipped) && b1h.forall(_.skipped) && b1d.forall(_.skipped))

    // append late rows → only late days rebuild, at every tier
    val late = turns.where($"ts" >= "2025-01-20")
    assert(late.count() > 0)
    src.append(late, "ts")
    val cutoffUs = java.sql.Timestamp.valueOf("2025-01-20 00:00:00").getTime * 1000
    val (c1m, c1h, c1d) = TierStore.sync(spark, src, root, $"text_len")
    for ((r, tier) <- Seq((c1m, "1m"), (c1h, "1h"), (c1d, "1d"))) {
      val redone = r.filter(!_.skipped).map(_.dayUs)
      assert(redone.nonEmpty && r.exists(_.skipped), s"$tier: expected a mix, got $r")
      assert(redone.forall(_ >= cutoffUs - 86400000000L),
        s"$tier: only late days may rebuild, got ${redone.map(_ / 86400000000L)}")
    }

    // and the incremental 1d tier equals a direct raw→1d rollup
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"conv_id", $"bucket_start", $"n_rows", round($"sum", 6).as("s"), $"min", $"max")
      .orderBy("conv_id", "bucket_start").collect().toSeq
    val direct = Rollup.rollupRaw(turns, $"conv_id", $"ts", $"text_len", "1 day")
    assert(canon(TierStore.scanTier(spark, s"$root/1d")) == canon(direct))

    // gorilla blocks replay the raw points at the 1m level
    val replayed = TierStore.scanTier(spark, s"$root/1m")
      .select($"conv_id", graft.plans.GorillaExplode.gorillaExplode($"gblock"))
      .orderBy("conv_id", "ts_us", "v").collect()
    val raw = turns
      .select($"conv_id", unix_micros($"ts".cast("timestamp")).as("ts_us"), $"text_len".as("v"))
      .orderBy("conv_id", "ts_us", "v").collect()
    assert(replayed.length == raw.length && replayed.sameElements(raw))

    // day-dir retention drops aged 1m days physically
    val dropped = TierStore.expireDays(spark, s"$root/1m", cutoffUs)
    assert(dropped.nonEmpty)
    val lo = TierStore.scanTier(spark, s"$root/1m").agg(min($"bucket_start")).head().getTimestamp(0)
    assert(lo.getTime * 1000 >= cutoffUs - 86400000000L)
  }

  test("retention ladder expires fine tiers earlier than coarse tiers") {
    val (src, turns) = fixture
    val tiers = TierStore.build(spark, src, tmp("tiers2"), length($"text").cast("double"))
    val maxUs = turns.agg(max(unix_micros($"ts".cast("timestamp")))).head().getLong(0)
    val day = 86400000000L
    // keep 2 days of 1m, 10 days of 1h, everything for 1d
    TierStore.applyRetention(tiers, maxUs, 2 * day, 10 * day, 1000 * day)
    val lo1m = tiers.t1m.scan(spark).agg(min($"bucket_start")).head().getTimestamp(0)
    val lo1h = tiers.t1h.scan(spark).agg(min($"bucket_start")).head().getTimestamp(0)
    val lo1d = tiers.t1d.scan(spark).agg(min($"bucket_start")).head().getTimestamp(0)
    assert(lo1m.after(lo1h) || lo1m.equals(lo1h), s"1m ($lo1m) must not retain longer than 1h ($lo1h)")
    assert(!lo1d.after(lo1h), "1d keeps at least as much history as 1h")
    assert(tiers.t1m.current.get.op == "expire")

    // out-of-band janitor: physical reclamation frees the 1m tier's aged
    // bytes (its retention bit hardest) and post-vacuum scans are unchanged
    val before1m = tiers.t1m.scan(spark).count()
    val freed = TierStore.vacuumRetention(tiers, minAgeMs = 0) // quiesced table
    assert(freed.head._3 > 0, s"1m tier must free bytes, got $freed")
    assert(tiers.t1m.scan(spark).count() == before1m)
    assert(tiers.t1d.scan(spark).count() > 0)
  }

  /** `f`'s result and the jobs it launches, in start order. */
  private def jobsOf[T](f: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e): Unit
    }
    Bus.drain(sc)
    sc.addSparkListener(listener)
    val result =
      try { val r = f; Bus.drain(sc); r }
      finally sc.removeSparkListener(listener)
    (result, seen.asScala.toSeq)
  }

  /** A parquet schema-inference job is the one job these paths can launch
    * outside a SQL execution (reads, writes and the stats pass all run
    * inside one). */
  private def isInference(j: SparkListenerJobStart): Boolean =
    Option(j.properties).forall(_.getProperty("spark.sql.execution.id") == null)

  /** Data of one event-time day: the last day of `turns`. */
  private def lastDay(turns: org.apache.spark.sql.DataFrame) = {
    val day = 86400000000L
    val lastUs = turns.agg(max(unix_micros($"ts".cast("timestamp")))).head().getLong(0)
    turns.where(unix_micros($"ts".cast("timestamp")) >= lastUs / day * day)
  }

  test("job guard: a one-day refresh runs no schema inference and at most 2 jobs per tier; append = write + 1 stats job") {
    val turns = TranscriptGen.turns(spark, nConvs = 12L, withDuplicates = false)
      .toDF.withColumn("text_len", length($"text").cast("double")).cache()
    val src = IceTable(tmp("ice-guard"))
    src.append(turns, "ts")
    val root = tmp("tiers-guard")
    TierStore.sync(spark, src, root, $"text_len")

    // the detector is live: an unschema'd read of a day dir infers
    val someDay = new java.io.File(s"$root/1m").list().filter(_.startsWith("day=")).head
    assert(jobsOf(spark.read.parquet(s"$root/1m/$someDay"))._2.exists(isInference))

    val late = lastDay(turns).cache()
    late.count()
    val writeJobs = jobsOf(late.write.parquet(tmp("guard-write") + "/w"))._2.size
    val (_, appendJobs) = jobsOf(src.append(late, "ts"))
    assert(!appendJobs.exists(isInference), s"append inferred a schema: ${appendJobs.map(_.jobId)}")
    assert(appendJobs.size <= writeJobs + 1,
      s"append ran ${appendJobs.size} jobs; its write alone runs $writeJobs")

    val ((r1m, r1h, r1d), syncJobs) = jobsOf(TierStore.sync(spark, src, root, $"text_len"))
    val rebuilt = Seq(r1m, r1h, r1d).map(_.count(!_.skipped))
    assert(rebuilt == Seq(1, 1, 1), s"a one-day refresh rebuilds one day per tier, got $rebuilt")
    assert(!syncJobs.exists(isInference), s"sync inferred a schema: ${syncJobs.map(_.jobId)}")
    assert(syncJobs.size <= 2 * 3, s"sync ran ${syncJobs.size} jobs for 3 tiers")
  }

  test("a table and store in the pre-schema format still scan, and a sync skips every unchanged day") {
    val turns = TranscriptGen.turns(spark, nConvs = 12L, withDuplicates = false)
      .toDF.withColumn("text_len", length($"text").cast("double")).cache()
    val src = IceTable(tmp("ice-compat"))
    src.append(turns, "ts")
    val root = tmp("tiers-compat")
    TierStore.sync(spark, src, root, $"text_len")

    // a schema-carrying scan reads with exactly the schema inference gives,
    // nullability and timestamp types included
    val paths = src.currentLiveFiles.map(_.path)
    assert(src.scan(spark).schema == spark.read.parquet(paths: _*).schema)
    for (tier <- Seq("1m", "1h", "1d")) {
      val days = new CheckpointedRollup.DayDirSource(spark, s"$root/$tier")
      days.pendingDays.foreach { d =>
        assert(days.scanDay(spark, d).schema == spark.read.parquet(s"$root/$tier/day=$d").schema, s"$tier $d")
      }
    }

    // rewrite every metadata file as older code wrote it: no schema field,
    // and a checksummed Hadoop create, which leaves a .crc sibling
    val conf = spark.sparkContext.hadoopConfiguration
    val mapper = new ObjectMapper()
    def downgrade(f: java.io.File): Unit = {
      val text = mapper.readTree(f) match {
        case n: ObjectNode => n.remove("schema"); mapper.writeValueAsString(n)
        case n => n.toString
      }
      val p = new Path(f.toURI)
      val out = p.getFileSystem(conf).create(p, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    def jsons(dir: String) =
      new java.io.File(dir).listFiles().filter(f => !f.getName.startsWith(".") && f.getName.endsWith(".json"))
    val metadata = jsons(s"${src.root}/snapshots") ++ Seq("1m", "1h", "1d").flatMap(t => jsons(s"$root/$t/_checkpoints")) ++
      Seq(new java.io.File(s"${src.root}/CURRENT"), new java.io.File(s"${src.root}/keys.json"))
    metadata.foreach(downgrade)
    metadata.foreach(f => assert(new java.io.File(f.getParent, s".${f.getName}.crc").exists(), f))
    assert(src.current.get.schema.isEmpty)

    // scans fall back to inference
    assert(src.scan(spark).count() == turns.count())
    val d1m = new CheckpointedRollup.DayDirSource(spark, s"$root/1m")
    assert(d1m.scanDays(spark, d1m.pendingDays).agg(sum("n_rows")).head().getLong(0) == turns.count())

    // the schema field is outside every fingerprint: nothing rebuilds
    val (a1m, a1h, a1d) = TierStore.sync(spark, src, root, $"text_len")
    assert(Seq(a1m, a1h, a1d).forall(_.forall(_.skipped)), s"unchanged days rebuilt: $a1m $a1h $a1d")

    // a late batch in the last day: new commits overwrite the .crc-bearing
    // CURRENT, keys.json and that day's markers, which stay readable
    val late = lastDay(turns)
    src.append(late, "ts")
    val (b1m, b1h, b1d) = TierStore.sync(spark, src, root, $"text_len")
    for ((r, tier) <- Seq((b1m, "1m"), (b1h, "1h"), (b1d, "1d"))) {
      val redone = r.filter(!_.skipped).map(_.dayUs)
      assert(redone.size == 1 && r.exists(_.skipped), s"$tier: want one rebuilt day, got $r")
      assert(!new java.io.File(s"$root/$tier/_checkpoints/.day-${redone.head}.json.crc").exists())
    }
    assert(!new java.io.File(s"${src.root}/.CURRENT.crc").exists())
    val all = turns.unionByName(late)
    assert(src.scan(spark).count() == all.count())
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"conv_id", $"bucket_start", $"n_rows", round($"sum", 6).as("s"), $"min", $"max")
      .orderBy("conv_id", "bucket_start").collect().toSeq
    assert(canon(TierStore.scanTier(spark, s"$root/1d")) ==
      canon(Rollup.rollupRaw(all, $"conv_id", $"ts", $"text_len", "1 day")))
  }
}
