package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kg.Transcripts

/** Seeded input generators. The program only ever sees their output.
  *
  * [[transcripts]] has the schema, vocabulary and skew of
  * `Transcripts.synthesize` (about 15% concept words, 24 tokens per turn,
  * `skewFactor`% of turns in ten long "agent" conversations); the only
  * difference is that every hash also takes the seed, where `synthesize`
  * fixes it. */
object Gen {

  private val conceptWords = Seq(
    "the", "fast", "key", "order", "sort", "table", "scan", "merge", "part", "window",
    "small", "hash", "join", "batch", "stream", "spark", "group", "query", "row", "data",
    "slow", "filter", "customer", "line", "value", "agg", "column", "big", "a", "vector"
  )
  private val vocab = conceptWords ++ (0 until 170).map(i => s"w${i}x")
  private val TurnTokens = 24

  /** Non-negative 64-bit mix of the given columns and the seed. */
  private def mix(seed: Long, cs: Column*): Column =
    abs(hash((cs :+ lit(seed)): _*).cast("long"))

  /** The transcripts columns for rows carrying (id, conv_n, ts_epoch). */
  private def turnRows(rows: DataFrame, seed: Long): DataFrame = {
    val vocabExpr = array(vocab.map(lit): _*)
    rows.select(
      concat(lit("synth.conv."), col("conv_n").cast("string")).as("conv_id"),
      col("id").cast("int").as("turn_idx"),
      expr("CASE CAST(id % 4 AS INT) WHEN 3 THEN 'tool' WHEN 1 THEN 'assistant' ELSE 'user' END").as("role"),
      concat_ws(
        " ",
        (0 until TurnTokens).map(k =>
          element_at(vocabExpr, (mix(seed, col("id"), lit(k)) % vocab.size + 1).cast("int"))): _*
      ).as("text"),
      expr("CASE WHEN id % 4 = 3 THEN 'search' ELSE NULL END").as("tool"),
      timestamp_seconds(col("ts_epoch")).as("ts")
    )
  }

  /** `nTurns` turns over `nConvs` conversations; `skewFactor`% of the turns
    * land in conversations 0..9. */
  def transcripts(spark: SparkSession, nTurns: Long, nConvs: Long, seed: Long, skewFactor: Int = 10): DataFrame = {
    val h = mix(seed, col("id"))
    val rows = spark
      .range(nTurns)
      .withColumn("h", h)
      .select(
        col("id"),
        when(col("h") % 100 < lit(skewFactor.min(98)), col("h") % 10).otherwise(col("h") % nConvs).as("conv_n"),
        (lit(Transcripts.EpochStart) + col("id") % 864000L).as("ts_epoch"))
    turnRows(rows, seed)
  }

  /** Append batch `batch` (1-based) for a base of `nTurns` turns: `convs`
    * seed-chosen conversations each gain 1 to 8 new turns, with timestamps
    * after every earlier turn. Turn ids are unique across the base and all
    * batches. */
  def appendBatch(spark: SparkSession, nTurns: Long, nConvs: Long, seed: Long, batch: Int, convs: Int): DataFrame = {
    require(nConvs < 60000L, "conversation ids must fit the batch id stride")
    val rows = spark
      .range(nConvs)
      .orderBy(mix(seed, col("id"), lit(batch)), col("id"))
      .limit(convs)
      .select(
        col("id").as("conv_n"),
        explode(sequence(lit(0L), mix(seed, col("id"), lit(batch), lit(1)) % 8)).as("k"))
      .select(
        (lit(nTurns) + lit(batch.toLong * 1000000L) + col("conv_n") * 16 + col("k")).as("id"),
        col("conv_n"),
        (lit(Transcripts.EpochStart + 864000L) + lit(batch.toLong * 3600L) + col("k")).as("ts_epoch"))
    turnRows(rows, seed)
  }
}
