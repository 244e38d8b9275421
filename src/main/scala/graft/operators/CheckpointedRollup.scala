package graft.operators

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.{IceTable, MetaFile}

/** Resumable tier build: raw IceTable → 1m-tier parquet, one event-time DAY
  * per work unit, each unit committed with a lineage-carrying checkpoint.
  *
  * Checkpoint JSON per day: {source_snapshot_id, source_files_fp,
  * bucket_lo_us, bucket_hi_us, rows, bytes, wall_ms, schema} (wall_ms = the
  * day's amortized share of its batch job under day-unit batching; schema =
  * the day's output Spark schema, which a downstream `DayDirSource` hands
  * to the parquet reader so no scan launches a schema-inference job —
  * markers written before the field existed fall back to inference, and
  * the field never enters a fingerprint) — exactly the north rule's
  * "per-partition checkpoints carrying lineage (source snapshot-id, bucket
  * range) and row/byte metrics", and the engine analog of the reference's
  * executed=/used= provenance on every egress
  * (/root/reference/scripts/daily-measures.R:242-251). Markers are written
  * through `MetaFile` (temp + one atomic move; java.nio on local FS).
  *
  * Resume semantics: a day is skipped iff its marker exists AND its
  * source-file FINGERPRINT is unchanged — the fingerprint hashes the
  * manifest entries (path, rows, bytes) of exactly the files overlapping
  * that day. Appending a new snapshot therefore invalidates ONLY the days
  * the new files touch (incremental tier build: O(changed days), not
  * O(history)); a crashed run redoes only missing days. The marker also
  * records the source snapshot id for lineage/audit. Output commit is
  * write-to-temp + atomic rename, so a kill mid-day never leaves a
  * half-visible day.
  *
  * Scale: each day scans ONLY the raw files overlapping that day (IceTable
  * stat pruning). Work units are INDEPENDENT Spark jobs submitted from a
  * bounded thread pool (`parallelism`) — on a 1000-executor cluster this
  * keeps the cluster busy while one day's final stage drains, and at years
  * of history it removes the serial per-day driver latency. All checkpoint
  * and output I/O goes through the Hadoop FileSystem API, so the build
  * works against HDFS/object storage, not just the local filesystem.
  */
object CheckpointedRollup {

  private val mapper = new ObjectMapper()
  private[operators] val DayUs = 86400000000L

  final case class DayResult(dayUs: Long, rows: Long, bytes: Long, skipped: Boolean)

  /** A source the day-unit build can read incrementally: which days exist,
    * a content fingerprint per day (changes iff the day's data changed),
    * and a day-pruned scan. IceTables and previously-built day-dir outputs
    * both implement it — which is what lets tier N+1 build incrementally
    * FROM tier N with fingerprints CHAINING through the cascade (a raw
    * append invalidates day X at 1m, whose new marker invalidates day X at
    * 1h, and so on — untouched days are skipped at every level). */
  trait DaySource {
    def pendingDays: Seq[Long]
    def dayFingerprint(dayUs: Long): Long
    def scanDay(spark: SparkSession, dayUs: Long): org.apache.spark.sql.DataFrame
    /** Scan several days as ONE relation (one Spark job for a whole batch
      * of day units — see runUnits batching). Default: union of per-day
      * scans; sources override with a single pruned scan. */
    def scanDays(spark: SparkSession, daysUs: Seq[Long]): org.apache.spark.sql.DataFrame =
      daysUs.map(scanDay(spark, _)).reduce(_.unionByName(_))
    /** Lineage id recorded in each marker (source snapshot id or 0). */
    def lineageId: Long
  }

  /** DaySource over an IceTable: manifest stats prune the scan to files
    * overlapping the day; fingerprints hash those files' manifest entries.
    * The table's current snapshot is PINNED at construction: days,
    * fingerprints, scans and the lineage id all answer for that one
    * snapshot (one manifest resolution per run), so an append landing
    * mid-run is neither half-read nor recorded under the wrong id. */
  final class IceDaySource(table: IceTable, tsCol: String = "ts") extends DaySource {
    private val pinned = table.pin()
    private def files = pinned.files
    def pendingDays: Seq[Long] =
      files.flatMap(f => (f.minTsUs / DayUs) to (f.maxTsUs / DayUs)).distinct.sorted.map(_ * DayUs)
    def dayFingerprint(dayUs: Long): Long = {
      val fs = files
        .filter(f => f.maxTsUs >= dayUs && f.minTsUs < dayUs + DayUs)
        .sortBy(_.path)
      fs.foldLeft(1125899906842597L) { (h, f) =>
        ((h * 31 + f.path.hashCode) * 31 + f.rows) * 31 + f.bytes
      }
    }
    def scanDay(spark: SparkSession, dayUs: Long): org.apache.spark.sql.DataFrame =
      table.scanPinned(spark, pinned, dayUs, dayUs + DayUs - 1)
        .where(col(tsCol) >= timestamp_micros(lit(dayUs)) && col(tsCol) < timestamp_micros(lit(dayUs + DayUs)))
    override def scanDays(spark: SparkSession, daysUs: Seq[Long]): org.apache.spark.sql.DataFrame = {
      // one stat-pruned scan over the batch's envelope; an OR of per-day
      // ranges keeps skipped (unchanged) days inside the envelope out
      val inDay = daysUs
        .map(d => col(tsCol) >= timestamp_micros(lit(d)) && col(tsCol) < timestamp_micros(lit(d + DayUs)))
        .reduce(_ || _)
      table.scanPinned(spark, pinned, daysUs.min, daysUs.max + DayUs - 1).where(inDay)
    }
    def lineageId: Long = pinned.id
  }

  /** DaySource over a previous run's day-dir output: days come from the
    * markers, and each day's fingerprint CHAINS the upstream marker's
    * source fingerprint with its row/byte metrics — so rebuilding a day
    * upstream changes this fingerprint and invalidates it downstream. */
  final class DayDirSource(spark: SparkSession, dir: String) extends DaySource {
    private val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    private def marker(dayUs: Long) = markerPath(dir, dayUs)
    def pendingDays: Seq[Long] = {
      val ck = new Path(dir, "_checkpoints")
      if (!fs.exists(ck)) Nil
      else fs.listStatus(ck).iterator.map(_.getPath.getName)
        .filter(n => n.startsWith("day-") && n.endsWith(".json"))
        .map(n => n.stripPrefix("day-").stripSuffix(".json").toLong)
        .toSeq.sorted
    }
    private def readMarker(dayUs: Long): Option[JsonNode] = {
      val p = marker(dayUs)
      if (!fs.exists(p)) None else Some(mapper.readTree(MetaFile.read(fs, p)))
    }
    def dayFingerprint(dayUs: Long): Long =
      readMarker(dayUs).fold(0L) { n =>
        ((n.get("source_files_fp").asLong * 31 + n.get("rows").asLong) * 31 + n.get("bytes").asLong)
      }
    /** Read `daysUs` with the tier schema recorded in the first day's
      * marker (one tier has one schema), inferring it only for markers
      * written before the field existed. */
    private def read(sparkS: SparkSession, daysUs: Seq[Long]): org.apache.spark.sql.DataFrame = {
      val schema = readMarker(daysUs.head).flatMap(MetaFile.schemaOf)
      schema.fold(sparkS.read)(sparkS.read.schema(_)).parquet(daysUs.map(d => s"$dir/day=$d"): _*)
    }
    def scanDay(sparkS: SparkSession, dayUs: Long): org.apache.spark.sql.DataFrame =
      read(sparkS, Seq(dayUs))
    override def scanDays(sparkS: SparkSession, daysUs: Seq[Long]): org.apache.spark.sql.DataFrame =
      read(sparkS, daysUs)
    def lineageId: Long = 0L
  }

  /** Distinct event-time days present in the source manifest (metadata only). */
  def pendingDays(source: IceTable): Seq[Long] = new IceDaySource(source).pendingDays

  private def markerPath(outDir: String, dayUs: Long) =
    new Path(outDir, s"_checkpoints/day-$dayUs.json")

  /** Deterministic fingerprint of the source files overlapping a day. */
  def dayFingerprint(source: IceTable, dayUs: Long): Long =
    new IceDaySource(source).dayFingerprint(dayUs)

  def isDone(spark: SparkSession, outDir: String, dayUs: Long, fingerprint: Long): Boolean = {
    val p = markerPath(outDir, dayUs)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && {
      val n = mapper.readTree(MetaFile.read(fs, p))
      n.has("source_files_fp") && n.get("source_files_fp").asLong == fingerprint
    }
  }

  /** Run (or resume) a tier build over an IceTable source (the raw→1m
    * form; see `runUnits` for the generic DaySource + transform form). */
  def run(
      spark: SparkSession,
      source: IceTable,
      outDir: String,
      value: Column,
      interval: String = "1 minute",
      failAfter: Option[Int] = None,
      parallelism: Int = 1): Seq[DayResult] =
    runUnits(spark, new IceDaySource(source), outDir,
      raw => Rollup.rollupRaw(raw, col("conv_id"), col("ts"), value, interval),
      failAfter, parallelism)

  /** Run (or resume) a day-unit build: for each source day whose
    * fingerprint changed (or has no marker), apply `transform` to that
    * day's rows and commit the result dir + marker atomically. `failAfter`
    * injects a crash after N completed units — used by the resume tests
    * (only meaningful with parallelism=1). `parallelism` bounds how many
    * unit jobs are in flight concurrently (independent Spark jobs; results
    * are per-day and order-independent). Returns per-day results in day
    * order.
    *
    * `dayBucket` (optional) names an OUTPUT column whose event-time day
    * identifies the day unit every output row belongs to (e.g.
    * `col("bucket_start")` for tier rollups — 1m/1h/1d windows never
    * straddle a day). When set, to-run days are grouped into BATCHES that
    * execute as ONE Spark job each (dynamic day partitioning splits the
    * output), amortizing the per-job fixed cost (plan + submit + commit,
    * measured ~0.4-0.5 s against ~10 ms of per-day compute at bench
    * scale) across the batch — while each day still commits individually
    * (atomic rename + marker), so visibility, fingerprints and resume stay
    * day-grained; a crash mid-batch redoes only that batch's uncommitted
    * days. `unitBatch` > 0 fixes the batch size; 0 sizes it so the
    * submission pool cycles ~4 rounds of batches (capped at 16 days;
    * measured flat across 5-9 days/batch and degrading past ~12 on the
    * bench shape — see OPTIMIZATION_r06.md), overridable via the
    * `SPARK_GRAFT_UNIT_BATCH` env for deployment tuning.
    * Batching is disabled under `failAfter` (it counts day units) and
    * without `dayBucket` (a generic transform's output can't be split). */
  def runUnits(
      spark: SparkSession,
      source: DaySource,
      outDir: String,
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      failAfter: Option[Int] = None,
      parallelism: Int = 1,
      dayBucket: Option[Column] = None,
      unitBatch: Int = 0): Seq[DayResult] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(outDir).getFileSystem(conf)
    val snapId = source.lineageId
    fs.mkdirs(new Path(outDir, "_checkpoints"))
    val done = new AtomicInteger(0)
    // the session's conf: a footer open without it builds and parses a
    // fresh Hadoop Configuration every call
    val footerOpts = HadoopReadOptions.builder(conf).build()

    // commit one completed (already renamed-into-place) day: row count from
    // the COMMITTED files' parquet footers — metadata-only (no data
    // re-read), and — unlike an Observation on the write action — exact
    // under task retries/speculation, where each successful attempt's
    // partial scan would inflate observed metrics. The marker rows value
    // chains into dayFingerprint, so it must be durable-exact.
    def commitDay(dayUs: Long, fp: Long, wallMs: Long, schema: StructType): DayResult = {
      val dayDir = new Path(outDir, s"day=$dayUs")
      val status = fs.listStatus(dayDir)
      val rows = status.iterator
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf), footerOpts)
          try r.getRecordCount finally r.close()
        }.sum
      // day dirs are flat, so the one listing serves both the footer walk
      // and the byte total (getContentSummary re-walked the tree per day)
      val bytes = status.iterator.map(_.getLen).sum
      val node = mapper.createObjectNode()
      node.put("source_snapshot_id", snapId)
      node.put("source_files_fp", fp)
      node.put("bucket_lo_us", dayUs)
      node.put("bucket_hi_us", dayUs + DayUs - 1)
      node.put("rows", rows)
      node.put("bytes", bytes)
      node.put("wall_ms", wallMs)
      MetaFile.putSchema(node, schema)
      MetaFile.write(fs, conf, markerPath(outDir, dayUs), mapper.writeValueAsString(node))
      done.incrementAndGet()
      DayResult(dayUs, rows, bytes, skipped = false)
    }

    def runBatch(batch: Seq[(Long, Long)]): Seq[DayResult] = { // (dayUs, fp)
      failAfter.foreach(k =>
        if (done.get() >= k) throw new RuntimeException(s"injected failure after $k units"))
      val t0 = System.nanoTime()
      if (batch.size == 1) {
        val (dayUs, fp) = batch.head
        val tier = transform(source.scanDay(spark, dayUs))
        val dayDir = new Path(outDir, s"day=$dayUs")
        val tmpDir = new Path(outDir, s".day-$dayUs.tmp")
        tier.write.mode("overwrite").parquet(tmpDir.toString)
        if (fs.exists(dayDir)) fs.delete(dayDir, true)
        if (!fs.rename(tmpDir, dayDir))
          throw new IllegalStateException(s"checkpoint commit: rename $tmpDir -> $dayDir failed")
        Seq(commitDay(dayUs, fp, (System.nanoTime() - t0) / 1000000, tier.schema))
      } else {
        val out = transform(source.scanDays(spark, batch.map(_._1)))
        // case-INSENSITIVE reservation check: Spark resolves columns
        // case-insensitively by default, so a transform column 'Day'
        // would otherwise be silently replaced by the partition value
        require(!out.columns.exists(_.equalsIgnoreCase("day")),
          "runUnits batching reserves the output column name 'day'")
        // floor-div day of the bucket column (exact in double: |µs| < 2^53);
        // the value doubles as the committed day-dir suffix
        val us = unix_micros(dayBucket.get.cast("timestamp"))
        val withDay = out.withColumn("day",
          floor(us / lit(DayUs.toDouble)).cast("long") * lit(DayUs))
        val tmpDir = new Path(outDir, s".batch-${batch.head._1}.tmp")
        withDay.write.mode("overwrite").partitionBy("day").parquet(tmpDir.toString)
        // a transform emitting rows OUTSIDE the batch's days would vanish
        // with the tmp dir below — fail fast BEFORE any day commits, so a
        // contract violation never leaves valid markers over missing data.
        // A NULL bucket lands in Hive's default partition, whose name is
        // no day: the same violation, named as such.
        val parsed = fs.listStatus(tmpDir).map(_.getPath.getName)
          .filter(_.startsWith("day=")).map(_.stripPrefix("day=").toLongOption)
        require(!parsed.contains(None),
          "runUnits batching: transform emitted rows with a null day bucket")
        val written = parsed.flatten.toSet
        val stray = written -- batch.map(_._1).toSet
        require(stray.isEmpty,
          s"runUnits batching: transform emitted rows outside the batch's days: ${stray.mkString(",")}")
        val wallShareMs = (System.nanoTime() - t0) / 1000000 / batch.size
        val results = batch.map { case (dayUs, fp) =>
          val dayDir = new Path(outDir, s"day=$dayUs")
          val src = new Path(tmpDir, s"day=$dayUs")
          if (fs.exists(dayDir)) fs.delete(dayDir, true)
          if (written.contains(dayUs)) {
            if (!fs.rename(src, dayDir))
              throw new IllegalStateException(s"checkpoint commit: rename $src -> $dayDir failed")
          } else {
            // a pending day can hold zero output rows (a source file span
            // covering a row-less day): commit a SCHEMA-BEARING empty
            // parquet dir, exactly like the single-day path's empty write
            // — a bare mkdirs would make any later single-day scan of this
            // day fail schema inference
            spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](), out.schema)
              .write.mode("overwrite").parquet(dayDir.toString)
          }
          // wall_ms = this day's amortized share of its batch job (the
          // job is indivisible; recording the full batch wall per day
          // would overstate summed per-day wall by up to batchSize×)
          commitDay(dayUs, fp, wallShareMs, out.schema)
        }
        fs.delete(tmpDir, true)
        results
      }
    }

    val days = source.pendingDays
    val fps = days.map(d => d -> source.dayFingerprint(d))
    val (doneDays, runDays) = fps.partition { case (d, fp) => isDone(spark, outDir, d, fp) }
    val skippedResults = doneDays.map { case (d, _) => DayResult(d, 0L, 0L, skipped = true) }
    val batchSize =
      if (dayBucket.isEmpty || failAfter.isDefined) 1
      else if (unitBatch > 0) unitBatch
      else sys.env.get("SPARK_GRAFT_UNIT_BATCH")
        .flatMap(v => scala.util.Try(v.toInt).toOption).filter(_ > 0)
        .getOrElse(math.max(1, math.min(16,
          math.ceil(runDays.size.toDouble / math.max(parallelism * 4, 1)).toInt)))
    val batches = runDays.grouped(batchSize).toSeq

    val ran: Seq[DayResult] =
      if (parallelism <= 1) batches.flatMap(runBatch)
      else {
        // every batch is lifted into a Try and ALL futures are awaited, so
        // a failed batch never abandons its in-flight siblings: their
        // results (and any further exceptions, attached as suppressed)
        // survive, and the thrown error reports the full failure set — the
        // completed days' markers make the re-run resume exactly where
        // this one died
        val pool = Executors.newFixedThreadPool(parallelism)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        try {
          val tries = Await.result(
            Future.traverse(batches)(b => Future(scala.util.Try(runBatch(b)))), Duration.Inf)
          val failures = batches.zip(tries).collect { case (b, scala.util.Failure(e)) => (b.head._1, e) }
          if (failures.nonEmpty) {
            val (d0, e0) = failures.head
            val ex = new RuntimeException(
              s"${failures.size}/${batches.size} batch units failed; first: day=$d0", e0)
            failures.drop(1).foreach { case (_, e) => ex.addSuppressed(e) }
            throw ex
          }
          tries.flatMap(_.get)
        } finally pool.shutdown()
      }
    (skippedResults ++ ran).sortBy(_.dayUs)
  }
}
