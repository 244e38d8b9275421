package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{CheckpointedRollup, TierStore}
import graft.sources.{IceTable, TranscriptGen}

/** The workloads. Each does its set-up `Setups` times (sampled as
  * `setup_s`), then measures closed-loop operations with one client while
  * the next one is expected to end within `a.seconds`. With `a.trace`,
  * every other operation of a kind runs traced (the second, the fourth,
  * ...: the first stays untraced) and the untraced one after it is its
  * pair in `run.pairs`; the catalog runs every query twice instead, traced
  * first on every other query. */
object Workloads {

  /** Set-ups per run; `setup_s` is their median. */
  private val Setups = 3

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Materialize the seeded input `Setups` times; returns its path. */
  private def generate(spark: SparkSession, a: Main.Args, shape: Gen.Shape, run: Run)(
      ingest: String => Unit): String = {
    var path = ""
    for (k <- 1 to Setups) {
      val t0 = System.nanoTime()
      path = s"${a.work}/${shape.key(a.seed)}-$k"
      Gen.turns(spark, a.seed, shape).write.parquet(path)
      ingest(path)
      run.sample("setup_s", secs(t0))
    }
    path
  }

  /** Loop `body(i)` while the next iteration, predicted to take as long as
    * the last one, still ends within `seconds` of `t0` (at least once). */
  private def loop(t0: Long, seconds: Double)(body: Int => Unit): Unit = {
    var i = 0
    var last = 0.0
    while (i == 0 || secs(t0) + last <= seconds) {
      val b0 = System.nanoTime()
      body(i)
      last = secs(b0)
      i += 1
    }
  }

  /** Pairs each traced operation of one kind with the untraced one of that
    * kind after it, for `trace_overhead`. */
  private final class Pairing(run: Run) {
    private var lastTraced: Option[Double] = None
    def apply(traced: Boolean, seconds: Option[Double]): Unit = {
      if (!traced) for (t <- lastTraced; u <- seconds) run.pairs += ((t, u))
      lastTraced = if (traced) seconds else None
    }
  }

  // ----------------------------------------------------------- tier_sync

  private val DayUs = 86400000000L

  /** Late batches of the refresh rounds, as offsets back from the last
    * day, in round order: three in four land in the most recent day, the
    * fourth in the day before. The schedule is the same for every seed, so
    * every run does the same work; the seed picks the batches' rows. An
    * older day costs a round about a fifth more (it holds more rows), so at
    * most a quarter of the rounds are the slower kind and the median is
    * always a most-recent-day round. */
  private val DaySchedule = Seq(0, 0, 0, 1)

  /** Σ n_rows of a store's 1d tier. */
  private def rows1d(spark: SparkSession, root: String): Long =
    TierStore.scanTier(spark, s"$root/1d").agg(sum("n_rows")).head().getLong(0)

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L) else f.length

  /** Bytes in a tier's committed day dirs. */
  private def dayDirBytes(tierDir: String): Long =
    Option(new File(tierDir).listFiles).toSeq.flatten
      .filter(_.getName.startsWith("day=")).map(treeBytes).sum

  /** Σ wall_ms over a tier's day markers, in seconds. */
  private def markerSeconds(tierDir: String): Double = {
    Option(new File(tierDir, "_checkpoints").listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith("day-") && f.getName.endsWith(".json"))
      .map(f => Run.mapper.readTree(f).get("wall_ms").asLong()).sum / 1000.0
  }

  private type Synced = (Seq[CheckpointedRollup.DayResult], Seq[CheckpointedRollup.DayResult],
    Seq[CheckpointedRollup.DayResult])

  private def rebuilt(r: Synced): Seq[Set[Long]] =
    Seq(r._1, r._2, r._3).map(_.filterNot(_.skipped).map(_.dayUs).toSet)

  /** Incremental tier store, closed loop with one writer. After an untimed
    * warm-up, the timed operations alternate while `a.seconds` last: a
    * refresh round, which appends a late batch touching one day to a table
    * and syncs that table's store, then a backfill from empty into a fresh
    * root. */
  def tierSync(spark: SparkSession, a: Main.Args, run: Run): Unit = {
    val tr = run.tracer
    val shape = Gen.Shape(600, 60, 2, 10, 2)
    val batchRows = 2000L
    val value = col("text_len")
    var k = 0
    val input = generate(spark, a, shape, run) { path =>
      k += 1
      IceTable(s"${a.work}/src-$k")
        .append(TranscriptGen.withMeasures(spark.read.parquet(path)).sort("ts"), "ts")
    }
    val inputRows = spark.read.parquet(input).count()
    run.values("turns") = inputRows
    val files = IceTable(s"${a.work}/src-$k").currentLiveFiles
    val firstDay = files.map(_.minTsUs).min / DayUs
    val lastDay = files.map(_.maxTsUs).max / DayUs
    val nDays = (lastDay - firstDay + 1).toInt
    val allDays = (firstDay to lastDay).map(_ * DayUs).toSet
    run.values("days") = nDays

    /** A table under sync and the rows it holds. */
    final class Source(val table: IceTable, var rows: Long)

    /** Backfill `src` into the empty `root`, checked. */
    def backfill(name: String, src: Source, root: String): Option[Double] = {
      val b0 = System.nanoTime()
      run.op(s"${name}_s")(tr.span("tierstore.backfill")(
        TierStore.sync(spark, src.table, root, value, parallelism = a.cores))).flatMap { r =>
        val s = secs(b0)
        val ok = run.check(name)(
          rows1d(spark, root) == src.rows && rebuilt(r).forall(_ == allDays),
          s"1d rows ${rows1d(spark, root)} vs source ${src.rows}; rebuilt ${rebuilt(r).map(_.size)} of $nDays days")
        if (ok) Some(s) else None
      }
    }

    /** Refresh round `i`: append a late batch inside one day to `src`, then
    * sync `root`; checked. Returns the round's seconds, from the start of
    * the append to the return of the sync. */
    def refresh(name: String, src: Source, root: String, i: Int): Option[Double] = {
      val day = lastDay - math.min(nDays - 1, DaySchedule(Math.floorMod(i, DaySchedule.size)))
      val batch = TranscriptGen.withMeasures(Gen.lateBatch(spark, a.seed, i, shape.nConvs,
        batchRows, day * 86400L, 1000000L + i * batchRows))
      val r0 = System.nanoTime()
      val result = tr.span("refresh.round") {
        run.op("append_s")(tr.span("icetable.append")(src.table.append(batch, "ts")))
          .flatMap(_ => run.op("sync_s")(tr.span("tierstore.refresh")(
            TierStore.sync(spark, src.table, root, value, parallelism = a.cores))))
      }
      val s = secs(r0)
      result.flatMap { r =>
        src.rows += batchRows
        val sets = rebuilt(r)
        run.sample("rebuilt_days", sets.map(_.size).sum.toDouble)
        val ok = run.check(name)(
          rows1d(spark, root) == src.rows && sets.forall(_ == Set(day * DayUs)),
          s"1d rows ${rows1d(spark, root)} vs source ${src.rows}; rebuilt ${sets.map(_.size)} days, want 1 each")
        if (ok) Some(s) else None
      }
    }

    // Warm-up, so the timed operations run on JIT-compiled code and read
    // tables they have read before: a backfill of the first set-up's table,
    // which every timed backfill repeats, then the store the refresh rounds
    // update, backfilled from the last set-up's table, one round, and the
    // first backfill again. On 4 CPUs the first backfill of a run took more
    // than twice as long as the fourth, the third a fifth longer, and the
    // first append a third longer than later ones.
    val w0 = System.nanoTime()
    val fixed = new Source(IceTable(s"${a.work}/src-1"), inputRows)
    val src = new Source(IceTable(s"${a.work}/src-$k"), inputRows)
    val store = s"${a.work}/store"
    backfill("warmup_backfill", fixed, s"${a.work}/warmup-0")
    backfill("warmup_backfill", src, store)
    refresh("warmup_refresh", src, store, -1)
    backfill("warmup_backfill", fixed, s"${a.work}/warmup-1")
    run.values("warmup_s") = secs(w0)

    var backfills = 0
    var rounds = 0
    val backPairs = new Pairing(run)
    val roundPairs = new Pairing(run)
    val t0 = System.nanoTime()
    loop(t0, a.seconds) { i =>
      if (i % 2 == 1) {
        // the same backfill every time: the first set-up's table, which no
        // round appends to, into a fresh root
        val root = s"${a.work}/backfill-$backfills"
        val traced = a.trace && backfills % 2 == 1
        val s = tr.tracedIf(traced)(backfill("backfill", fixed, root))
        s.foreach(x => run.sample("backfill_turns_per_s", fixed.rows / x))
        if (backfills == 0 && s.nonEmpty) {
          run.values("store_bytes") = Seq("1m", "1h", "1d").map(t => dayDirBytes(s"$root/$t")).sum
          Seq("1m", "1h", "1d").foreach(t => run.values(s"t${t}_marker_s") = markerSeconds(s"$root/$t"))
        }
        backPairs(traced, s)
        backfills += 1
      } else {
        val traced = a.trace && rounds % 2 == 1
        val s = tr.tracedIf(traced)(refresh("refresh", src, store, rounds))
        s.foreach(run.sample("round_s", _))
        roundPairs(traced, s)
        // the timed metadata call, outside the round's latency
        val l0 = System.nanoTime()
        val live = src.table.currentLiveFiles
        run.sample("live_files_s", secs(l0))
        run.sample("live_files", live.size.toDouble)
        if (traced) run.sample("traced_source_bytes", live.map(_.bytes).sum.toDouble)
        rounds += 1
      }
    }
  }

  // ------------------------------------------------------------- catalog

  /** Catalog family of a query: the operator module it is built on. */
  def family(query: String): String = query match {
    case "q_topk_cosine" | "q_ann_lsh" | "q_ann_ivf" | "q_embed_dup_pairs" | "q_ann_ivf_recall" => "ann"
    case "q_dedup_exact" | "q_token_stats" | "q_lang_id" | "q_quality_score" | "q_ngram_jaccard_block" |
        "q_prefix_jaccard" | "q_minhash_lsh" | "q_simhash_pairs" | "q_subword_punct" => "text_dedup"
    case "q_gapfill_locf_1h" | "q_gapfill_interp_1h" => "gapfill"
    case "q_sri_grid" | "q_awakenings" | "q_sri_daily_sliding" | "q_session_window" | "q_weekly_eff" |
        "q_episode_sri" => "sleep"
    case _ => "tiers"
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Run `df` into the noop sink while observing its row count and an
    * order-independent content hash; both land in
    * `run.values("check.<name>")` for the output check. */
  private def checked(name: String, df: DataFrame, run: Run): Unit = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    val obs = Observation(name)
    noop(df.observe(obs, count(lit(1)).as("rows"),
      sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("hash")))
    val r = obs.get
    run.values(s"check.$name") = Seq(r("rows").toString, Option(r("hash")).map(_.toString).getOrElse("0"))
  }

  /** The measured part of the catalog: the queries the roadmap names as
    * optimisation targets, the one built on `Skew` and its unsalted twin,
    * a Sri query and a plain join whose time is almost all per-query fixed
    * cost. A cold pass over all 59 queries takes about a minute on 4 cores,
    * more than one run of the benchmark can spend. */
  val Measured = Seq("q_ann_ivf", "q_ann_ivf_recall", "q_embed_dup_pairs", "q_prefix_jaccard",
    "q_minhash_lsh", "q_gapfill_locf_1h", "q_daily_measures", "q_episode_sri", "q_tier_1m_salted",
    "q_tier_1m", "q_sri_grid", "q_semi_join").sorted

  /** The measured catalog over a fixed data dir. After the set-ups, one
    * untimed check pass runs every query once with its output observed for
    * the output check, which also warms the JIT; the timed passes then run
    * each query plainly into the noop sink, the action `graft.Bench` times.
    * The seed rotates the query order: it moves which query runs first
    * while every query keeps its neighbours. */
  def catalog(spark: SparkSession, a: Main.Args, run: Run): Unit = {
    val tr = run.tracer
    val all = SparkEntry.queries
    val names = Measured
    val k = Math.floorMod(a.seed, names.size.toLong).toInt
    val queries = (names.drop(k) ++ names.take(k)).map(q => q -> all(q))
    val tables = Option(new File(a.data).listFiles).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
    require(tables.nonEmpty, s"no parquet tables under ${a.data}")
    // set-up: open every table (footers only), then one untimed query
    // touching the operators most catalog queries share (aggregate, join,
    // window), so engine start-up is not charged to whichever query runs first
    for (_ <- 1 to Setups) {
      val t0 = System.nanoTime()
      tables.foreach(t => spark.read.parquet(t.getPath).schema)
      val ev = spark.read.parquet(s"${a.data}/events.parquet")
      val perUser = ev.groupBy("user_id").agg(count(lit(1)).as("n"), max("ts").as("last"))
      noop(ev.join(perUser, "user_id")
        .withColumn("prev", lag("ts", 1).over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("ts"))))
      run.sample("setup_s", secs(t0))
    }
    run.values("queries") = queries.map(_._1)

    queries.foreach { case (name, fn) => run.op("check_query_s")(checked(name, fn(spark, a.data), run)) }

    val t0 = System.nanoTime()
    var n = 0
    loop(t0, a.seconds) { _ =>
      val p0 = System.nanoTime()
      val before = run.failed
      queries.foreach { case (name, fn) =>
        def once(traced: Boolean): Option[Double] = tr.tracedIf(traced) {
          val q0 = System.nanoTime()
          run.op(if (traced) "traced_query_s" else "query_s")(
            tr.span(s"catalog.${family(name)}")(noop(fn(spark, a.data)))).map(_ => secs(q0))
        }
        if (a.trace) {
          val tracedFirst = n % 2 == 0
          val first = once(tracedFirst)
          val second = once(!tracedFirst)
          for (x <- first; y <- second) run.pairs += (if (tracedFirst) (x, y) else (y, x))
        } else once(false)
        n += 1
      }
      if (run.failed == before) run.sample("catalog_pass_s", secs(p0))
    }
  }
}
