package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kg.{Checkpoint, KgPipeline}

/** `kg_refresh`: the paper's batch path, then small writes interleaved with
  * reads. Set-up writes seeded skewed transcripts to parquet. The first unit
  * of work is the base build: scan -> eligibleTurns (checkpointed per bucket
  * with lineage by `Checkpoint.runResumable`) -> gazetteer extraction ->
  * triple union -> `writeTriplesMerge` bucketed parquet sink. Each later
  * unit appends a seeded batch of turns to 1.6% of the conversations
  * (input making, not timed), runs the timestamp-driven resumable refresh,
  * which re-checkpoints the stale buckets and rewrites their triples, and
  * reads the sink once. */
object KgRefresh extends Workload {
  val name = "kg_refresh"
  val layers = Seq("kg.", "ckpt.", "sink.", "spark.", "jvm.", "tracing_")

  val Turns = 50000L
  /** Batches every run executes, and the first ones the exact counts cover. */
  val MinBatches = 4
  val CountedBatches = 2

  def run(r: Run): Unit = {
    val nTurns = (Turns * r.opts.scale).toLong.max(2000L)
    val nConvs = (nTurns / 200).max(20L)
    val batchConvs = (nConvs * 16 / 1000).max(1L).toInt
    val nBuckets = Checkpoint.DefaultBuckets
    val input = Common.workDir(s"$name/transcripts")
    val concepts = KgPipeline.defaultConcepts

    r.setup(3) { s =>
      Gen.transcripts(s, nTurns, nConvs, r.opts.seed)
        .repartition(Common.nproc)
        .write
        .mode("overwrite")
        .parquet(input)
    }
    val spark = r.spark

    /** One resumable refresh of `ckpt` and `sink` from the current input;
      * returns the buckets it rewrote. */
    def refresh(ckpt: String, sink: String, runId: String): Set[Int] = {
      r.tracer.span("ckpt.run") {
        Checkpoint.runResumable(
          spark, spark.read.parquet(input), "conv_id", ckpt, "turns", runId, nBuckets, Some("ts"))(
          KgPipeline.eligibleTurns)
      }
      val ids = spark.read
        .parquet(Checkpoint.lineagePath(ckpt))
        .where(col("run_id") === runId)
        .select("bucket")
        .distinct()
        .collect()
        .map(_.getInt(0))
        .toSet
      if (ids.nonEmpty) r.tracer.span("ckpt.rewrite") {
        val turns = spark.read.parquet(Checkpoint.dataPath(ckpt)).where(col("bucket").isin(ids.toSeq: _*))
        KgPipeline.writeTriplesMerge(spark, turns, concepts, sink, nBuckets)
      }
      ids
    }
    def readSink(sink: String): (Long, String) =
      r.tracer.span("sink.read")(Common.digest(spark.read.parquet(sink).select("subj", "pred", "obj")))

    val ckpt = Common.workDir(s"$name/ckpt")
    val sink = Common.workDir(s"$name/sink")
    Common.deleteTree(ckpt)
    Common.deleteTree(sink)
    val (baseIds, cold) = Common.time(refresh(ckpt, sink, "base"))

    // base build checks: every bucket written, one HAS_PASSAGE triple per
    // eligible turn, and as many sink rows as the query path's triples
    def turns: DataFrame = KgPipeline.eligibleTurns(spark.read.parquet(input))
    val facts = spark.read
      .parquet(input)
      .agg(
        count(lit(1)),
        bit_xor(xxhash64(col("conv_id"), col("turn_idx"), col("role"), col("text"), col("tool"), col("ts"))),
        countDistinct(Checkpoint.bucketCol("conv_id", nBuckets)),
        sum(when(col("role") =!= "tool" && length(trim(col("text"))) > 0, 1L).otherwise(0L)))
      .collect()(0)
    val (baseRows, baseHash, inputBuckets, eligible) = (facts.getLong(0), facts.getLong(1), facts.getLong(2), facts.getLong(3))
    val triples = KgPipeline.triplesFromTurns(spark, turns, concepts).count()
    val base = spark.read.parquet(sink)
      .agg(count(lit(1)), sum(when(col("pred") === "HAS_PASSAGE", 1L).otherwise(0L)))
      .collect()(0)
    r.op("base build")(
      baseIds.size == inputBuckets && base.getLong(0) == triples && base.getLong(1) == eligible,
      s"buckets ${baseIds.size} of $inputBuckets, sink rows ${base.getLong(0)} of $triples, " +
        s"HAS_PASSAGE ${base.getLong(1)} of $eligible")
    var sinkRows = base.getLong(0)
    val mentionEdges = if (r.opts.trace) KgPipeline.extractMentionEdges(spark, turns, concepts).count() else 0L

    val refreshS = mutable.ArrayBuffer.empty[Double]
    val readS = mutable.ArrayBuffer.empty[Double]
    val rewritten = mutable.ArrayBuffer.empty[Int]
    val rewriteRatio = mutable.ArrayBuffer.empty[Double]
    var expected = Set.empty[Int]
    var ids = Set.empty[Int]
    var rowsAfter = 0L
    var filesAfterCounted = 0L

    val warm = r.measure(minUnits = MinBatches, prepare = i => {
      val batch = Gen.appendBatch(spark, nTurns, nConvs, r.opts.seed, i + 1, batchConvs).cache()
      expected = batch.select(Checkpoint.bucketCol("conv_id", nBuckets)).distinct().collect().map(_.getInt(0)).toSet
      batch.write.mode("append").parquet(input)
      batch.unpersist()
    }) { i =>
      val (got, t1) = Common.time(refresh(ckpt, sink, s"batch-${i + 1}"))
      val ((rows, _), t2) = Common.time(readSink(sink))
      ids = got
      rowsAfter = rows
      refreshS += t1
      readS += t2
    } { i =>
      // the timestamp predicate must refresh exactly the buckets the batch
      // touched
      r.op(s"batch ${i + 1}")(ids == expected, s"refreshed buckets ${ids.toSeq.sorted} expected ${expected.toSeq.sorted}")
      if (i < CountedBatches) {
        val inRewritten = spark.read.parquet(sink).where(col("bucket").isin(ids.toSeq: _*)).count()
        rewritten += ids.size
        rewriteRatio += inRewritten.toDouble / math.max(1L, rowsAfter - sinkRows)
        if (i == CountedBatches - 1) filesAfterCounted = Common.parquetFiles(sink)._1
      }
      sinkRows = rowsAfter
    }

    // the refreshed sink must equal the triples of a from-scratch build over
    // the same input (the query path, which shares the sink's edge families)
    r.tracer.suspended {
      val a = readSink(sink)
      val b = Common.digest(KgPipeline.triplesFromTurns(spark, KgPipeline.eligibleTurns(spark.read.parquet(input)), concepts))
      r.op("refreshed sink equals from-scratch build")(a == b, s"refreshed $a from-scratch $b")
    }

    val (inRows, inHash) = Common.fingerprint(spark.read.parquet(input))
    r.info("base_input_rows") = baseRows.toString
    r.info("base_input_xxhash64_xor") = baseHash.toString
    r.info("input_rows") = inRows.toString
    r.info("input_xxhash64_xor") = inHash.toString
    r.info("batches") = warm.wall.size.toString
    r.info("batch_s_samples") = warm.wall.map(Common.jsonNumber).mkString(",")
    r.named("batch_s") = (Common.median(warm.wall), "s")
    r.named("batch_cpu_s") = (Common.median(warm.cpu), "s")
    r.named("base_build_s") = (cold, "s")
    r.named("triples_per_s") = (triples / cold, "triples/s")
    r.named("refresh_s") = (Common.median(refreshS.toSeq), "s")
    r.named("sink_read_s") = (Common.median(readS.toSeq), "s")

    if (r.opts.trace) {
      // self time of each batch-path stage from nested noop-sink runs over
      // the final input: each run stops one stage later than the previous
      // one, so a stage's self time is the difference of consecutive
      // inclusive times (the isolation graft.BenchExtra validated); the last
      // stage is a full writeTriplesMerge into a scratch sink
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      def incl(stage: String)(f: => Unit): Double =
        Common.median((1 to 2).map(_ => Common.time(r.tracer.span(stage)(f))._2))
      val scratchSink = Common.workDir(s"$name/sink-scratch")
      val scanFilter = incl("kg.scan_filter")(noop(turns.select(col("conv_id"), col("turn_idx"))))
      val extract = incl("kg.extract")(noop(KgPipeline.extractMentionEdges(spark, turns, concepts)))
      val union = incl("kg.union")(noop(KgPipeline.triplesFromTurns(spark, turns, concepts)))
      val sinkIncl = incl("kg.sink")(KgPipeline.writeTriplesMerge(spark, turns, concepts, scratchSink, nBuckets))
      r.perLayer("kg.scan_filter.self_s") = scanFilter
      r.perLayer("kg.extract.self_s") = extract - scanFilter
      r.perLayer("kg.union.self_s") = union - extract
      r.perLayer("kg.sink.self_s") = sinkIncl - union
      val (files, bytes) = Common.parquetFiles(scratchSink)
      r.perLayer("kg.sink.files") = files.toDouble
      r.perLayer("kg.sink.bytes") = bytes.toDouble
      r.perLayer("kg.turns_in") = baseRows.toDouble
      r.perLayer("kg.eligible_turns") = eligible.toDouble
      r.perLayer("kg.mention_edges") = mentionEdges.toDouble
      r.perLayer("kg.triples") = triples.toDouble
      r.perLayer("ckpt.fresh_check_s") = Common.median((1 to 2).map { _ =>
        Common.time(r.tracer.span("ckpt.fresh_check") {
          Checkpoint.freshBuckets(
            spark, ckpt, "turns",
            spark.read.parquet(input).withColumn("bucket", Checkpoint.bucketCol("conv_id", nBuckets)), "ts")
        })._2
      })
      r.perLayer("ckpt.rewrite_self_s") = Common.median(r.tracer.within("unit", "ckpt.rewrite").map(_.seconds))
      r.perLayer("ckpt.buckets_rewritten") = rewritten.sum.toDouble
      r.perLayer("ckpt.rewrite_ratio") = Common.median(rewriteRatio.toSeq)
      r.perLayer("sink.files_total") = filesAfterCounted.toDouble
    }
  }
}
