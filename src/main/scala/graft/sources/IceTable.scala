package graft.sources

import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Minimal Iceberg-SHAPED table layer (not the Iceberg library — no Iceberg
  * runtime ships in this environment, SURVEY.md §7.1): a directory of
  * immutable Parquet data files plus a JSON snapshot log with per-file
  * min/max event-time stats.
  *
  * Gives the engine the three Iceberg semantics the north rule needs:
  *   1. snapshot-id LINEAGE — every append/expire records parent & op;
  *      downstream checkpoints cite the source snapshot-id they consumed;
  *   2. stat-based PRUNING — scans pass a time range and only overlapping
  *      files are read (manifest-level partition pruning; at 100 TB this is
  *      what turns an incremental tier build into an O(changed-days) scan);
  *   3. retention EXPIRY — `expireOlderThan` is a metadata-only snapshot
  *      that drops aged files from the table (Iceberg expire/rewrite
  *      analog of the reference's post-infection retention filters,
  *      /root/reference/scripts/sleepSD.R:216,226).
  *
  * METADATA PLANE IS O(new files) PER APPEND (the Iceberg delta-manifest
  * idea). An append snapshot's JSON lists ONLY the files that append added
  * (`delta: true`); the live file set is the union of the delta chain down
  * to the nearest BASE snapshot (expire/rewrite snapshots, which change the
  * set non-monotonically, always write the full list; and every
  * `BaseEvery`-th append materializes a full manifest so the chain walk is
  * bounded at `BaseEvery` small JSON reads — each snapshot records its
  * distance to the base as `chain_len`, so the base-or-delta decision reads
  * only the parent snapshot, never the chain). N daily appends therefore
  * write O(N) cumulative manifest entries, not the O(N²) a
  * full-list-per-snapshot log accumulates. A `keys.json` index makes keyed
  * idempotency lookups O(1) amortized instead of an O(snapshots) chain
  * walk per streaming epoch (see `syncKeyIndex`).
  *
  * Layout: root/data/d-<uuid>/part-*.parquet, root/snapshots/v<id>.json,
  * root/keys.json (idempotency index), root/CURRENT (text file with latest
  * id; a derived convenience pointer — see commit protocol). Provenance
  * parity: the reference records executed=/used= lineage on every egress
  * (/root/reference/scripts/daily-measures.R:242-251) — here it is the
  * snapshot log itself.
  *
  * SCHEMA IN THE LOG (as Iceberg and Delta keep it in table metadata):
  * every snapshot JSON carries the table's Spark schema as `schema` (an
  * append records the appended DataFrame's; expire and rewrite carry the
  * parent's forward). Scans hand it to `spark.read.schema(...)`, so no read
  * launches a parquet schema-inference job; snapshots written before the
  * field existed have none and their scans fall back to inference.
  *
  * Commit protocol (crash-safe, multi-writer CAS — the Iceberg
  * CAS-on-metadata-pointer idea, done as a locked no-overwrite claim):
  *   - data is written to a hidden temp dir and RENAMED into a
  *     UUID-named data/d-<uuid> before any metadata references it, so
  *     concurrent writers can never collide on a data path;
  *   - the COMMIT POINT is the rename-WITHOUT-overwrite of the fully
  *     written snapshot JSON into snapshots/v<id>.json with
  *     id = currentSnapshotId + 1: if another writer claimed that id
  *     first, the rename fails and the loser re-reads the (new) parent
  *     and retries with a fresh id — both appends land, linearized;
  *   - CURRENT is advanced AFTER the claim and is only a hint:
  *     `currentSnapshotId` takes max(CURRENT, highest v*.json), so a crash
  *     (or a racing slow writer) that leaves CURRENT behind heals on the
  *     next read. A crash before the claim leaves only an unreferenced
  *     data/d-<uuid> dir, reclaimed by `vacuum` after its grace window;
  *   - atomicity of the claim is the storage layer's no-overwrite rename
  *     (server-side atomic on HDFS; object stores need a conditional-put
  *     committer); on LOCAL FS — where POSIX rename overwrites — the
  *     check-then-rename runs under an OS advisory file lock on a
  *     permanent per-table lock file, so cross-PROCESS local writers are
  *     linearized too, and a crashed holder's lock is released by the
  *     kernel (no orphaned claim state; an in-JVM monitor still
  *     serializes same-process writers cheaply);
  *   - every metadata file (claim temp, CURRENT, keys.json) is written by
  *     [[MetaFile]]: a full temp sibling, then one atomic move. On local FS
  *     that is a java.nio write and `Files.move(ATOMIC_MOVE)` (with
  *     REPLACE_EXISTING for CURRENT and keys.json), which forks no `chmod`
  *     and leaves no `.crc` sibling, so concurrent overwriters of one file
  *     need no `.crc` collision retry; elsewhere the claim is the
  *     FileContext no-overwrite rename and the overwrites a FileContext
  *     overwrite-rename;
  *   - the key index is written strictly AFTER the claim, so it can only
  *     ever be STALE, never ahead — `syncKeyIndex` heals staleness by
  *     walking just the (indexed, CURRENT] gap;
  *   - appends may carry an idempotency `key` (recorded in the snapshot):
  *     re-appending a committed key is a no-op returning the original id —
  *     this is what makes at-least-once streaming foreachBatch replays
  *     exactly-once (StreamTier keys each micro-batch by its epoch).
  *     CONCURRENT writers racing the SAME key can both commit (the key
  *     check precedes the claim); last-committed wins the index — keyed
  *     idempotency assumes one writer per key stream, as in streaming.
  *
  * All I/O goes through the Hadoop FileSystem API, so the table works on
  * any Hadoop-supported storage (local file://, HDFS, object stores with a
  * rename-capable committer), not just the local filesystem.
  */
final class IceTable(val root: String) {
  import IceTable.BaseEvery

  private val mapper = new ObjectMapper()

  private def hadoopConf: Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def rootPath = new Path(root)
  private lazy val fs: FileSystem = rootPath.getFileSystem(hadoopConf)
  private def snapDir = new Path(root, "snapshots")
  private def dataDir = new Path(root, "data")
  private def currentFile = new Path(root, "CURRENT")
  private def keyIndexFile = new Path(root, "keys.json")

  case class FileEntry(path: String, rows: Long, bytes: Long, minTsUs: Long, maxTsUs: Long)

  /** One snapshot-log entry. `files` are the entries RECORDED IN THIS
    * snapshot's JSON: the full live set when `delta` is false (a BASE:
    * first/periodic append, expire, rewrite), only the newly added files
    * when true. Use `liveFiles` for the resolved live set. `chainLen` =
    * number of delta snapshots between this one and its base (0 for a
    * base). */
  case class Snapshot(
      id: Long,
      parentId: Long,
      op: String,
      files: Seq[FileEntry],
      key: Option[String] = None,
      delta: Boolean = false,
      chainLen: Int = 0,
      schema: Option[StructType] = None)

  /** A snapshot with its live file set resolved once, so several reads
    * (day listing, fingerprints, scans, lineage) all see one table version
    * for the cost of one manifest resolution. `None` = empty table. */
  case class Pinned(snapshot: Option[Snapshot], files: Seq[FileEntry]) {
    def id: Long = snapshot.map(_.id).getOrElse(0L)
  }

  def pin(): Pinned = pinned(current)

  private def pinned(s: Option[Snapshot]): Pinned = Pinned(s, s.map(liveFiles).getOrElse(Nil))

  /** Highest committed snapshot id: max of the CURRENT hint and the
    * highest claimed v*.json (one metadata listing). The listing is what
    * makes a claim durable even if the claimer crashed before advancing
    * CURRENT — the pointer is a cache, the JSON claim is the truth. */
  def currentSnapshotId: Long = {
    // tolerate a hint caught mid-replacement: off local FS the OVERWRITE
    // rename may be delete-then-rename, so a concurrent reader can observe
    // CURRENT briefly absent (or half-gone) — the claim listing below is
    // the durable truth either way
    val hint = scala.util.Try(MetaFile.read(fs, currentFile).trim.toLong).getOrElse(0L)
    math.max(hint, maxIdIn(snapDir, "v", ".json"))
  }

  private def maxIdIn(dir: Path, prefix: String, suffix: String): Long =
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && n.endsWith(suffix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).stripSuffix(suffix).toLong).toOption)
      .foldLeft(0L)(math.max)

  def snapshot(id: Long): Option[Snapshot] = {
    val p = new Path(snapDir, f"v$id%05d.json")
    if (!fs.exists(p)) None
    else {
      val n = mapper.readTree(MetaFile.read(fs, p))
      val files = n.get("files").elements().asScala.map { f =>
        FileEntry(f.get("path").asText, f.get("rows").asLong, f.get("bytes").asLong,
          f.get("min_ts_us").asLong, f.get("max_ts_us").asLong)
      }.toSeq
      val key = Option(n.get("key")).filterNot(_.isNull).map(_.asText)
      val delta = Option(n.get("delta")).exists(_.asBoolean) // absent (pre-delta log) = base
      val chainLen = Option(n.get("chain_len")).map(_.asInt).getOrElse(0)
      Some(Snapshot(n.get("id").asLong, n.get("parent_id").asLong, n.get("op").asText,
        files, key, delta, chainLen, MetaFile.schemaOf(n)))
    }
  }

  def current: Option[Snapshot] = snapshot(currentSnapshotId)

  /** Resolved live file set of a snapshot: the snapshot's own entries plus,
    * for a delta, every ancestor delta's entries down to the nearest base —
    * at most `chainLen` ≤ BaseEvery extra (small) JSON reads. */
  def liveFiles(s: Snapshot): Seq[FileEntry] = {
    if (!s.delta) s.files
    else {
      var acc = List(s.files)
      var cur = s
      while (cur.delta) {
        cur = snapshot(cur.parentId).getOrElse(throw new IllegalStateException(
          s"delta snapshot ${cur.id} references missing parent ${cur.parentId} in $root"))
        acc = cur.files :: acc
      }
      acc.flatten
    }
  }

  /** Resolved live file set of snapshot `id` (throws on unknown id). */
  def liveFiles(id: Long): Seq[FileEntry] =
    liveFiles(snapshot(id).getOrElse(
      throw new IllegalArgumentException(s"unknown snapshot id $id for table $root")))

  /** Resolved live file set of the current snapshot (empty for a fresh table). */
  def currentLiveFiles: Seq[FileEntry] = current.map(liveFiles).getOrElse(Nil)

  /** Write/overwrite a snapshot JSON WITHOUT moving CURRENT (also used by
    * vacuum's in-place manifest rebase). */
  private def snapshotJsonString(s: Snapshot): String = {
    val node: ObjectNode = mapper.createObjectNode()
    node.put("id", s.id)
    node.put("parent_id", s.parentId)
    node.put("op", s.op)
    node.put("delta", s.delta)
    node.put("chain_len", s.chainLen)
    s.key.foreach(node.put("key", _))
    s.schema.foreach(MetaFile.putSchema(node, _))
    val arr: ArrayNode = node.putArray("files")
    s.files.foreach { f =>
      val fn = arr.addObject()
      fn.put("path", f.path); fn.put("rows", f.rows); fn.put("bytes", f.bytes)
      fn.put("min_ts_us", f.minTsUs); fn.put("max_ts_us", f.maxTsUs)
    }
    mapper.writerWithDefaultPrettyPrinter.writeValueAsString(node)
  }

  private def writeSnapshotJson(s: Snapshot): Unit = {
    fs.mkdirs(snapDir)
    MetaFile.write(fs, hadoopConf, new Path(snapDir, f"v${s.id}%05d.json"), snapshotJsonString(s))
  }

  /** COMMIT POINT: claim snapshots/v<id>.json by rename-WITHOUT-overwrite
    * of a fully written temp file. Returns false (and cleans the temp) if
    * another writer holds the id. The no-overwrite rename is server-side
    * atomic on HDFS; on LOCAL FS FileContext's rename is check-then-rename
    * (POSIX rename overwrites), so two writers in different PROCESSES
    * could both "win" one id and silently lose a committed append — there
    * the rename is additionally guarded by an atomic exclusive-create
    * OS file lock (see [[claimLocalFs]]): only the lock holder may
    * check-and-rename, and the kernel releases the lock on process death,
    * so a crash can never orphan the claim. */
  private[graft] def tryClaimSnapshot(s: Snapshot): Boolean = {
    fs.mkdirs(snapDir)
    val dst = new Path(snapDir, f"v${s.id}%05d.json")
    val tmp = MetaFile.writeTemp(fs, dst, snapshotJsonString(s))
    if (MetaFile.isLocal(fs)) claimLocalFs(tmp, dst)
    else {
      val fc = FileContext.getFileContext(rootPath.toUri, hadoopConf)
      try { fc.rename(tmp, dst); true }
      catch {
        case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException
             | _: java.nio.file.FileAlreadyExistsException
             | _: java.io.IOException) =>
          // claim lost (or storage refused) — if dst now exists someone
          // else committed this id; surface anything else as a real failure
          fs.delete(tmp, false): Unit
          if (fs.exists(dst)) false
          else throw new IllegalStateException(
            s"IceTable claim of $dst failed without a competing snapshot", e)
      }
    }
  }

  /** Local-FS claim, serialized by an OS-mediated advisory file lock on a
    * PERMANENT per-table lock file (`snapshots/.commit.lock`): the holder
    * re-checks dst under the lock (local POSIX rename overwrites, so the
    * check-then-rename must be mutually excluded) and renames. Why a
    * kernel lock and not a marker-file protocol: FileChannel.tryLock is a
    * true cross-process atomic that the OS RELEASES ON PROCESS DEATH —
    * no crash-orphaned state, hence no stale-window heuristics; every
    * path-based marker scheme (exclusive-create + delete/rename-to-break)
    * re-races on break because file operations act on paths, not
    * identities, so a delayed breaker can always destroy a successor's
    * fresh marker. The lock file is NEVER deleted (deleting a lock file
    * lets one claimant lock the old inode while another locks a newly
    * created file at the same path — two "holders"); it is one empty file
    * per table. Same-JVM claimants contending here (normally prevented by
    * claimCommit's monitor) surface as OverlappingFileLockException or a
    * null tryLock — both read as claim-lost. Losers sleep ~50ms so the
    * bounded retry loop yields to a mid-rename competitor. */
  private def claimLocalFs(tmp: Path, dst: Path): Boolean = {
    val lockPath = MetaFile.local(fs, new Path(snapDir, ".commit.lock"))
    // ONE never-closed channel per lock path per JVM (companion cache):
    // FileLock's javadoc allows closing ANY channel to a file to release
    // ALL of the JVM's locks on it, so a per-claim open/close let a losing
    // same-JVM claimant's close() drop the concurrent winner's lock
    // mid-critical-section. A shared channel makes same-JVM contention
    // surface ONLY as OverlappingFileLockException / null tryLock (both
    // read as claim-lost below) and leaks exactly one descriptor per
    // table per JVM lifetime.
    val ch = IceTable.lockChannelFor(lockPath)
    val lock =
      try ch.tryLock()
      catch { case _: java.nio.channels.OverlappingFileLockException => null }
    val (src, target) = (MetaFile.local(fs, tmp), MetaFile.local(fs, dst))
    if (lock == null) {
      Files.deleteIfExists(src)
      Thread.sleep(50) // competitor holds the commit lock — yield, retry
      false
    } else {
      try {
        if (Files.exists(target)) { Files.deleteIfExists(src); false }
        else { Files.move(src, target, StandardCopyOption.ATOMIC_MOVE); true }
      } finally lock.release()
    }
  }

  /** Linearized commit: build the snapshot against the CURRENT parent,
    * claim parent.id + 1; on a lost claim re-read the parent (which now
    * includes the winner) and rebuild. `build` must therefore be a pure
    * function of (parent, id). Advances the CURRENT hint on success. */
  /** FS-qualified canonical root — the commit-lock key. Two instances on
    * the same directory must share one monitor even when spelled
    * differently ("/t" vs "/t/" vs relative), or the local-FS
    * check-then-rename claim loses its same-JVM atomicity. */
  private lazy val canonicalRoot: String = fs.makeQualified(rootPath).toUri.toString

  private def claimCommit(build: (Option[Snapshot], Long) => Snapshot): Snapshot =
    IceTable.lockFor(canonicalRoot).synchronized {
      var attempts = 0
      var committed: Option[Snapshot] = None
      while (committed.isEmpty) {
        attempts += 1
        require(attempts <= 1000, s"IceTable commit on $root: 1000 lost claims — livelock?")
        val parent = current
        val snap = build(parent, parent.map(_.id).getOrElse(0L) + 1)
        if (tryClaimSnapshot(snap)) committed = Some(snap)
      }
      val s = committed.get
      // CURRENT is a hint: never move it backwards over a faster writer
      if (s.id > (if (fs.exists(currentFile)) scala.util.Try(MetaFile.read(fs, currentFile).trim.toLong).getOrElse(0L) else 0L))
        MetaFile.write(fs, hadoopConf, currentFile, s.id.toString)
      s
    }

  /** Per-file (rows, min ts, max ts, bytes) stats of a committed data dir
    * written with `schema`, in ONE job with no exchange: each task folds
    * its rows into per-file partials and the driver merges the few
    * partials of a file split across tasks. Byte sizes come from one
    * listing of the dir. */
  private def statsOf(spark: SparkSession, dir: Path, tsCol: String, schema: StructType): Seq[FileEntry] = {
    val partials = spark.read.schema(schema).parquet(dir.toString)
      .select(input_file_name(), unix_micros(col(tsCol).cast("timestamp")))
      .mapPartitions { (it: Iterator[Row]) =>
        val acc = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
        it.foreach { r =>
          val (n, lo, hi) = acc.getOrElse(r.getString(0), (0L, Long.MaxValue, Long.MinValue))
          acc(r.getString(0)) =
            if (r.isNullAt(1)) (n + 1, lo, hi)
            else (n + 1, math.min(lo, r.getLong(1)), math.max(hi, r.getLong(1)))
        }
        acc.iterator.map { case (f, (n, lo, hi)) => (f, n, lo, hi) }
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
      .collect()
    val sizes = fs.listStatus(dir).map(s => s.getPath.getName -> s.getLen).toMap
    partials.groupBy(_._1).map { case (f, ps) =>
      val p = new Path(new java.net.URI(f))
      val (lo, hi) = (ps.map(_._3).min, ps.map(_._4).max)
      // a file whose ts values are all NULL has no range: it records 0/0
      FileEntry(p.toString, ps.map(_._2).sum, sizes(p.getName),
        if (lo == Long.MaxValue) 0L else lo, if (hi == Long.MinValue) 0L else hi)
    }.toSeq.sortBy(_.path)
  }

  /** Write df's files and move them into a UUID-named data dir (no id yet:
    * ids are assigned at claim time, and UUID dirs mean concurrent writers
    * never collide on a data path). Returns the committed dir. */
  private def stageDataDir(df: DataFrame): Path = {
    val tmp = new Path(dataDir, s".tmp-${java.util.UUID.randomUUID()}")
    df.write.mode("overwrite").parquet(tmp.toString)
    val dir = new Path(dataDir, s"d-${java.util.UUID.randomUUID()}")
    if (!fs.rename(tmp, dir))
      throw new IllegalStateException(s"IceTable commit: rename $tmp -> $dir failed")
    dir
  }

  // ------------------------------------------------------ idempotency index

  /** Read keys.json → (highest indexed snapshot id, key → snapshot id).
    * A corrupt/missing file degrades to (0, empty) — the next sync rebuilds
    * it from the snapshot log (the log is the source of truth). */
  private def readKeyIndex(): (Long, Map[String, Long]) =
    if (!fs.exists(keyIndexFile)) (0L, Map.empty)
    else scala.util.Try {
      val n = mapper.readTree(MetaFile.read(fs, keyIndexFile))
      val keys = Option(n.get("keys")).map { kn =>
        kn.properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
      }.getOrElse(Map.empty[String, Long])
      (n.get("up_to").asLong, keys)
    }.getOrElse((0L, Map.empty))

  /** Bring keys.json up to CURRENT and return the synced key map. Walks
    * ONLY the (up_to, CURRENT] gap — normally zero or one snapshot — so a
    * keyed lookup (and therefore every streaming micro-batch commit) costs
    * O(1) amortized filesystem reads instead of an O(snapshots) chain walk.
    * The index is a pure cache: written post-commit (never ahead of
    * CURRENT), healed from the log when stale, rebuilt if deleted. */
  private def syncKeyIndex(): Map[String, Long] = {
    val (upTo, keys) = readKeyIndex()
    val curId = currentSnapshotId
    if (curId <= upTo) keys
    else {
      val gap = Iterator.iterate(current)(s => s.flatMap(x => snapshot(x.parentId)))
        .takeWhile(_.exists(_.id > upTo))
        .flatten
        .collect { case s if s.op == "append" && s.key.isDefined => s.key.get -> s.id }
        .toList
      // gap walks newest→oldest; "latest append wins" ⇒ oldest applied first
      val merged = keys ++ gap.reverse
      val node = mapper.createObjectNode()
      node.put("up_to", curId)
      val kn = node.putObject("keys")
      merged.foreach { case (k, v) => kn.put(k, v) }
      MetaFile.write(fs, hadoopConf, keyIndexFile, mapper.writeValueAsString(node))
      merged
    }
  }

  /** Latest committed append snapshot carrying `key` (idempotency lookup) —
    * O(1) amortized via the keys.json index. */
  def appendIdForKey(key: String): Option[Long] = syncKeyIndex().get(key)

  // --------------------------------------------------------------- commits

  /** Append a DataFrame as a new snapshot. `tsCol` drives per-file min/max
    * stats. `key` (optional) makes the append idempotent: if a committed
    * append already carries the key, nothing is written and its id is
    * returned — the contract streaming foreachBatch replays rely on.
    *
    * The snapshot manifest lists ONLY this append's files (delta), except
    * every `BaseEvery`-th append in a chain, which materializes the full
    * live set so reads stay bounded. */
  def append(df: DataFrame, tsCol: String, key: Option[String] = None): Long =
    key.flatMap(appendIdForKey).getOrElse {
      // stage data ONCE (the expensive part); the claim loop below only
      // rebuilds cheap manifest metadata if a concurrent writer wins an id
      val dir = stageDataDir(df)
      val schema = df.schema
      val entries = statsOf(df.sparkSession, dir, tsCol, schema)
      val snap = claimCommit { (parent, id) =>
        val newChainLen = parent.map(_.chainLen + 1).getOrElse(1)
        if (parent.isEmpty || newChainLen >= BaseEvery)
          Snapshot(id, parent.map(_.id).getOrElse(0L), "append",
            parent.map(liveFiles).getOrElse(Nil) ++ entries, key, delta = false, chainLen = 0,
            schema = Some(schema))
        else
          Snapshot(id, parent.get.id, "append", entries, key, delta = true, chainLen = newChainLen,
            schema = Some(schema))
      }
      syncKeyIndex() // post-commit; stale-only on crash, healed next lookup
      snap.id
    }

  /** Scan the current snapshot, optionally pruned to files overlapping
    * [loUs, hiUs] via manifest stats (no parquet touched outside range). */
  def scan(spark: SparkSession, loUs: Long = Long.MinValue, hiUs: Long = Long.MaxValue): DataFrame =
    scanPinned(spark, pin(), loUs, hiUs)

  /** Time travel: scan a PAST snapshot by id (data files are immutable and
    * expiry/rewrite are metadata-only, so every committed snapshot stays
    * readable — the Iceberg `VERSION AS OF` analog). */
  def scanAt(spark: SparkSession, snapshotId: Long, loUs: Long = Long.MinValue, hiUs: Long = Long.MaxValue): DataFrame = {
    val s = snapshot(snapshotId)
    require(s.isDefined, s"unknown snapshot id $snapshotId for table $root")
    scanPinned(spark, pinned(s), loUs, hiUs)
  }

  /** Scan a pinned snapshot, pruned like `scan`. The snapshot's recorded
    * schema is handed to the reader, so no schema-inference job runs; an
    * empty selection is an empty DataFrame of that schema. Snapshots that
    * predate the `schema` field fall back to inference (and to a
    * column-less empty DataFrame). */
  def scanPinned(spark: SparkSession, p: Pinned, loUs: Long = Long.MinValue, hiUs: Long = Long.MaxValue): DataFrame = {
    val files = p.files
      .filter(f => f.maxTsUs >= loUs && f.minTsUs <= hiUs)
      .map(_.path)
    val schema = p.snapshot.flatMap(_.schema)
    if (files.isEmpty)
      schema.fold(spark.emptyDataFrame)(sc =>
        spark.createDataFrame(java.util.Collections.emptyList[Row](), sc))
    else schema.fold(spark.read)(spark.read.schema(_)).parquet(files: _*)
  }

  /** Retention expiry: metadata-only snapshot dropping files entirely older
    * than the cutoff. Rows in straddling files are NOT dropped here — pair
    * with a filter at read time or a rewrite; tier buckets align to file
    * boundaries in practice so straddlers are rare. Expiry changes the set
    * non-monotonically, so it always writes a BASE manifest (and thereby
    * compacts any delta chain above it). Returns new snapshot id. */
  def expireOlderThan(cutoffUs: Long): Long =
    claimCommit { (parent, id) =>
      // kept set re-derived per claim attempt: a concurrent append between
      // attempts is thereby included, never silently dropped
      val kept = parent.map(liveFiles).getOrElse(Nil).filter(_.maxTsUs >= cutoffUs)
      Snapshot(id, parent.map(_.id).getOrElse(0L), "expire", kept, schema = parent.flatMap(_.schema))
    }.id

  /** Compaction rewrite: coalesce the current file set into ~`targetFiles`
    * new data files and commit as an op="rewrite" snapshot (Iceberg
    * rewriteDataFiles analog) — always a BASE manifest, so it also
    * collapses the delta chain. Old files stay on disk for time travel;
    * `expireOlderThan`-style manifest pruning governs logical visibility.
    * Rows and their `tsCol` stats are preserved exactly. */
  def rewriteCompact(spark: SparkSession, tsCol: String, targetFiles: Int = 1): Long = {
    // a rewrite's manifest is exactly the data it compacted, so unlike
    // append/expire it CANNOT absorb a concurrent commit by rebuilding
    // metadata — if the parent moved while we compacted, committing would
    // silently drop the racer's files. Detect and refuse instead.
    val atScan = pin()
    val parentAtScan = atScan.id
    val df = scanPinned(spark, atScan).coalesce(math.max(targetFiles, 1))
    val dir = stageDataDir(df)
    // the parent's schema carried forward; a pre-schema parent's is the
    // one its scan just inferred
    val schema = atScan.snapshot.flatMap(_.schema).getOrElse(df.schema)
    val entries = statsOf(spark, dir, tsCol, schema)
    claimCommit { (parent, id) =>
      val pid = parent.map(_.id).getOrElse(0L)
      if (pid != parentAtScan)
        throw new java.util.ConcurrentModificationException(
          s"rewriteCompact on $root: snapshot moved $parentAtScan -> $pid during compaction; re-run")
      Snapshot(id, pid, "rewrite", entries, schema = Some(schema))
    }.id
  }

  /** Total (rows, bytes) in the current snapshot — table-level metrics. */
  def metrics: (Long, Long) = {
    val fs = currentLiveFiles
    (fs.map(_.rows).sum, fs.map(_.bytes).sum)
  }

  /** PHYSICAL space reclamation (Iceberg expire_snapshots +
    * remove_orphan_files analog): drop snapshot JSONs older than
    * `keepFromId` and delete every data file no kept snapshot references.
    * `expireOlderThan`/`rewriteCompact` are metadata-only so time travel
    * stays cheap; at retention scale the aged bytes must eventually be
    * reclaimed, and this is that action. Time travel to ids < keepFromId
    * is gone afterwards; CURRENT and all newer snapshots stay readable.
    *
    * Kept DELTA snapshots whose parent chain dips below the horizon are
    * first rewritten in place as base manifests (same id/parent/op/key,
    * full file list — Iceberg's manifest rewrite), so resolution never
    * touches a deleted JSON. Stale keys.json entries are left alone
    * deliberately: "was this epoch committed" must stay true for replay
    * idempotency even after its snapshot is vacuumed.
    *
    * SAFE TO RUN CONCURRENTLY WITH WRITERS (the out-of-band janitor case,
    * TierStore.vacuumRetention) under two rules, both Iceberg's own:
    *   - unreferenced data files are deleted ONLY if older than `minAgeMs`
    *     (default 1h — Iceberg remove_orphan_files' older_than): a writer
    *     that has staged data but not yet claimed its snapshot JSON is
    *     invisible to the manifest walk, and the grace window is what keeps
    *     its fresh files alive until the claim lands;
    *   - snapshot JSONs are deleted only BELOW the horizon; anything at or
    *     above it — including claims that raced in while vacuum ran — is
    *     never touched (claims above the CURRENT hint ARE commits here,
    *     see the commit protocol).
    * Callers doing offline cleanup of a known-quiesced table may pass
    * minAgeMs = 0 to reclaim everything immediately.
    *
    * Returns (snapshots deleted, data files deleted, bytes freed). */
  def vacuum(keepFromId: Long, minAgeMs: Long = 3600 * 1000L): (Int, Int, Long) = {
    val curId = currentSnapshotId
    require(keepFromId <= curId, s"keepFromId $keepFromId is ahead of CURRENT $curId")
    // capture idempotency keys FIRST: a crash between a keyed commit and
    // its post-commit index write leaves the key only in the snapshot log,
    // and deleting that JSON below would lose it — breaking exactly-once
    // replay. syncKeyIndex persists every committed key before any delete.
    syncKeyIndex()
    // memoized snapshot reads: the existence pass, the delta-rebase chain
    // walks, and the referenced-set resolution otherwise re-read the same
    // small JSONs many times — each a metadata RPC on object storage
    val cache = scala.collection.mutable.Map.empty[Long, Option[Snapshot]]
    def snap(id: Long): Option[Snapshot] = cache.getOrElseUpdate(id, snapshot(id))
    def resolved(s: Snapshot): Seq[FileEntry] =
      if (!s.delta) s.files
      else snap(s.parentId).map(p => resolved(p) ++ s.files).getOrElse(throw new IllegalStateException(
        s"delta snapshot ${s.id} references missing parent ${s.parentId} in $root"))
    val keptIds = (keepFromId to curId).flatMap(id => snap(id).map(_ => id))
    // rebase kept deltas whose parent chain crosses the horizon BEFORE
    // deleting (ids can skip after crashed commits, so walk the chain
    // rather than arithmetic on chainLen — bounded at BaseEvery reads)
    keptIds.foreach { id =>
      val s = snap(id).get
      if (s.delta) {
        var cur = s
        var crosses = false
        while (cur.delta && !crosses) {
          if (cur.parentId < keepFromId) crosses = true
          else cur = snap(cur.parentId).get
        }
        if (crosses) {
          val rebased = s.copy(files = resolved(s), delta = false, chainLen = 0)
          writeSnapshotJson(rebased)
          cache(id) = Some(rebased)
        }
      }
    }
    val referenced = keptIds.flatMap(id => resolved(snap(id).get)).map(f => new Path(f.path)).toSet
    val ageCutoff = System.currentTimeMillis() - minAgeMs
    // delete unreferenced data files + crashed-commit temp dirs, but only
    // past the grace window — an in-flight writer's staged-but-unclaimed
    // data is always younger than minAgeMs (see scaladoc)
    var filesDeleted = 0
    var bytesFreed = 0L
    if (fs.exists(dataDir)) {
      fs.listStatus(dataDir).foreach { d =>
        if (d.getPath.getName.startsWith(".tmp-")) {
          if (d.getModificationTime < ageCutoff) fs.delete(d.getPath, true): Unit
        } else {
          // skip _SUCCESS/._* markers — Hadoop convention for non-data files
          fs.listStatus(d.getPath).foreach { f =>
            val name = f.getPath.getName
            if (!name.startsWith("_") && !name.startsWith(".") &&
                !referenced.contains(f.getPath) && f.getModificationTime < ageCutoff) {
              bytesFreed += f.getLen
              filesDeleted += 1
              fs.delete(f.getPath, false): Unit
            }
          }
          if (!fs.listStatus(d.getPath).exists(f => !f.getPath.getName.startsWith("_")))
            fs.delete(d.getPath, true): Unit
        }
      }
    }
    // drop pre-horizon snapshot JSONs ONLY. Ids above the horizon — even
    // above the CURRENT hint — are committed claims (possibly racing this
    // vacuum) and must survive; currentSnapshotId's listing-max already
    // treats them as the table head.
    var snapsDeleted = 0
    if (fs.exists(snapDir)) {
      fs.listStatus(snapDir).foreach { f =>
        val n = f.getPath.getName
        if (n.startsWith("v") && n.endsWith(".json")) {
          scala.util.Try(n.stripPrefix("v").stripSuffix(".json").toLong).toOption.foreach { id =>
            if (id < keepFromId) {
              snapsDeleted += 1
              fs.delete(f.getPath, false): Unit
            }
          }
        } else if (n.startsWith(".") && n.contains(".tmp-") && f.getModificationTime < ageCutoff) {
          // abandoned claim temp (writer died mid-claim) — grace-aged
          fs.delete(f.getPath, false): Unit
        }
      }
    }
    (snapsDeleted, filesDeleted, bytesFreed)
  }
}

object IceTable {
  /** Delta-chain bound: every BaseEvery-th append writes a full manifest. */
  val BaseEvery = 64

  /** Per-root commit monitors: serializes same-JVM writers (cheaper than
    * lock-file contention; cross-process local-FS writers are serialized
    * by claimLocalFs's OS advisory FileChannel lock on the permanent
    * `.commit.lock` file, HDFS claims by atomic rename). */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[sources] def lockFor(root: String): Object =
    locks.computeIfAbsent(root, _ => new Object)

  /** One NEVER-CLOSED FileChannel per commit-lock path per JVM: FileLock
    * permits closing any channel to a file to release all of the JVM's
    * locks on it, so per-claim open/close could drop a concurrent
    * winner's lock (see claimLocalFs). One descriptor per table, JVM
    * lifetime. */
  private val lockChannels =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.channels.FileChannel]()
  private[sources] def lockChannelFor(p: java.nio.file.Path): java.nio.channels.FileChannel =
    lockChannels.computeIfAbsent(p.toString, _ =>
      java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE))

  def apply(root: String): IceTable = new IceTable(root)
}
