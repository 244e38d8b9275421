package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TranscriptGen

/** Seeded transcripts generator for the benchmark.
  *
  * Same shape and skew as `graft.sources.TranscriptGen.turns` (per-turn
  * columns, heavy mega-conversations, ~1% exact duplicates, a 2h pause
  * every 20 turns), but every hash also mixes in the workload seed, so two
  * seeds give two different inputs of the same size and the engine only
  * ever sees the generated rows. Unlike `TranscriptGen`, the
  * mega-conversations start at the epoch, so every seed spans the same
  * number of days. `Version` is part of every cache key: bump
  * it whenever the generated rows change.
  */
object Gen {

  val Version = 1

  final case class Shape(
      nConvs: Long,
      meanTurns: Int,
      nMega: Int,
      megaFactor: Int,
      spreadDays: Int) {
    def key(seed: Long): String =
      s"turns-v$Version-s$seed-c$nConvs-t$meanTurns-m$nMega-x$megaFactor-d$spreadDays"
  }

  private def h(seed: Long, parts: org.apache.spark.sql.Column*) =
    abs(xxhash64((lit(seed) +: parts): _*))

  def turns(spark: SparkSession, seed: Long, shape: Shape): DataFrame = {
    val parallelism = spark.sparkContext.defaultParallelism
    val convs = spark
      .range(0L, shape.nConvs, 1L, parallelism)
      .withColumn("conv_id", format_string("conv%08d", col("id")))
      .withColumn(
        "n_turns",
        when(col("id") < shape.nMega, lit(shape.meanTurns * shape.megaFactor))
          .otherwise((h(seed, lit("sz"), col("conv_id")) % (2 * shape.meanTurns - 2) + 2).cast("int")))
      // mega-conversations start at the epoch, so every seed spans the same days
      .withColumn("start_off_s",
        when(col("id") < shape.nMega, lit(0L))
          .otherwise(h(seed, lit("st"), col("conv_id")) % (shape.spreadDays * 86400L)))

    val base = convs
      .select(col("conv_id"), col("start_off_s"),
        explode(sequence(lit(0), col("n_turns") - 1)).as("turn_idx"))
      .repartition(parallelism)
      .withColumn("h", h(seed, col("conv_id"), col("turn_idx")))
      .withColumn("off_s",
        col("start_off_s") + col("turn_idx") * 37L + (col("h") % 25L) +
          (col("turn_idx").cast("long") / 20L) * 7200L)
      .withColumn("ts", timestamp_seconds(unix_timestamp(lit(TranscriptGen.EpochStart)) + col("off_s")))
    withPayload(base, col("turn_idx"))
      .select(col("conv_id"), col("turn_idx").cast("int").as("turn_idx"),
        col("role"), col("text"), col("tool"), col("ts"))
      .transform(df => df.unionAll(df.where(h(seed, lit("dup"), col("conv_id"), col("turn_idx")) % 97 === 0)))
  }

  /** Role, tool and text columns as `TranscriptGen` derives them from a
    * per-row hash `h` and a turn index. */
  private def withPayload(df: DataFrame, turnIdx: org.apache.spark.sql.Column): DataFrame =
    df.withColumn("role",
        when(turnIdx % 2 === 0, lit("user"))
          .when(col("h") % 5 === 0, lit("tool"))
          .otherwise(lit("assistant")))
      .withColumn("tool",
        when(col("role") === "tool",
          element_at(array(lit("search"), lit("code"), lit("browse")), (col("h") % 3 + 1).cast("int")))
          .otherwise(lit("")))
      .withColumn("text",
        concat(lit("turn "), turnIdx.cast("string"), lit(" of "), col("conv_id"), lit(": "),
          repeat(concat(lit("w"), (col("h") % 7).cast("string"), lit(" ")), (col("h") % 40 + 1).cast("int"))))

  /** A late-arriving batch of `rows` turns, all inside the day starting at
    * `dayStartS` (epoch seconds), spread over existing conversations. Turn
    * indexes start at `firstIdx` so they never collide with earlier turns. */
  def lateBatch(
      spark: SparkSession,
      seed: Long,
      round: Int,
      nConvs: Long,
      rows: Long,
      dayStartS: Long,
      firstIdx: Long): DataFrame =
    withPayload(
      spark.range(0L, rows, 1L, spark.sparkContext.defaultParallelism)
        .withColumn("h", h(seed, lit("late"), lit(round), col("id")))
        .withColumn("conv_id", format_string("conv%08d", col("h") % nConvs))
        .withColumn("turn_idx", col("id") + firstIdx)
        .withColumn("ts", timestamp_seconds(lit(dayStartS) + col("h") % 86400L)),
      col("turn_idx"))
      .select(col("conv_id"), col("turn_idx").cast("int").as("turn_idx"),
        col("role"), col("text"), col("tool"), col("ts"))
}
