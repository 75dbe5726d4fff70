package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry
import graft.data.{Dedup, Similarity, Sketches}
import graft.kg.{ConnectedComponents, Hits, KgPipeline, PageRank, Scc}

/** The query set and family map of `kg_analytics` (perfbench/queries.json). */
final case class QueryConfig(
    queries: List[String],
    top: List[String],
    graphFamily: List[String],
    familyPrefixes: Map[String, List[String]]
) {
  val families: Seq[String] = "graph" +: familyPrefixes.keys.toSeq.sorted :+ "other"

  def familyOf(q: String): String =
    if (graphFamily.contains(q)) "graph"
    else familyPrefixes.toSeq.sortBy(_._1).collectFirst { case (f, ps) if ps.exists(q.startsWith) => f }.getOrElse("other")
}

object QueryConfig {
  private implicit val formats: Formats = DefaultFormats

  def load(path: String): QueryConfig = {
    val j = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
    QueryConfig(
      (j \ "queries").extract[List[String]],
      (j \ "top").extract[List[String]],
      (j \ "graph_family").extract[List[String]],
      (j \ "family_prefixes").extract[Map[String, List[String]]])
  }
}

/** `kg_analytics`: `SparkEntry.queries` over the fixed sf0.01 corpus carried
  * in perfbench/data. Set-up fingerprints the corpus; then the corpus-epoch
  * artifacts are built (`warmSharedCaches`, timed on its own), and each
  * unit of work is one pass over the query set in a seed-permuted order. Each query is
  * timed through an action that hashes every output row, and its row count
  * and order-free hash are checked against perfbench/expected. */
object KgAnalytics extends Workload {
  val name = "kg_analytics"
  val layers = Seq("artifact.", "family.", "q.", "dedup.", "graph.", "spark.", "jvm.", "tracing_")

  /** Passes every run makes; the sweep figure takes each query's median. */
  val MinPasses = 2
  val Corpus = "perfbench/data/sf0.01"
  val ConfigPath = "perfbench/queries.json"
  val ExpectedPath = "perfbench/expected/kg_analytics.json"
  /** Where `--record` writes; copy it over [[ExpectedPath]] when a query's
    * output is meant to change. */
  def recordPath: String = s"${Common.buildDir}/expected-kg_analytics.json"

  private implicit val formats: Formats = DefaultFormats

  def run(r: Run): Unit = {
    val cfg = QueryConfig.load(ConfigPath)
    val dir = new java.io.File(Corpus).getAbsolutePath
    val names = cfg.queries
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    var corpus = Seq.empty[(String, (Long, Long))]
    r.setup(3) { s =>
      corpus = Seq("documents", "embeddings").map(t => t -> Common.fingerprint(s.read.parquet(s"$dir/$t.parquet")))
    }
    val spark = r.spark
    corpus.foreach { case (t, (n, h)) => r.info(s"corpus_${t}_rows") = n.toString; r.info(s"corpus_${t}_xxhash64_xor") = h.toString }

    val expected = readExpected()
    val corpusKey = corpus.map { case (t, (n, h)) => s"$t:$n:$h" }.mkString(",")
    val sameCorpus = expected.get("corpus").map(_.extract[String]).contains(corpusKey)
    require(r.opts.record || sameCorpus, s"corpus fingerprint $corpusKey has no recorded outputs in $ExpectedPath")
    val expectedQueries: Map[String, (Long, String)] =
      if (sameCorpus) expected.get("queries").map(parseQueries).getOrElse(Map.empty) else Map.empty

    val (_, artifacts) = Common.time(r.tracer.span("artifacts")(SparkEntry.warmSharedCaches(spark, dir)))
    r.op("artifacts")(true)

    val rng = new scala.util.Random(r.opts.seed)
    val order = rng.shuffle(names)
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val perQueryCpu = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val digests = mutable.LinkedHashMap.empty[String, (Long, String)]
    val passDigests = mutable.ArrayBuffer.empty[(String, (Long, String))]
    val passes = r.measure(minUnits = if (r.opts.smoke) 1 else MinPasses) { _ =>
      passDigests.clear()
      order.foreach { q =>
        val (d, t, c) = Common.timeCpu(r.tracer.span(s"q.$q")(Common.digest(SparkEntry.queries(q)(spark, dir))))
        perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += t
        perQueryCpu.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += c
        passDigests += q -> d
      }
    } { i =>
      passDigests.foreach { case (q, d) =>
        digests(q) = d
        expectedQueries.get(q) match {
          case Some(e) => r.op(s"pass ${i + 1} $q")(d == e, s"got $d expected $e")
          case None    => r.op(s"pass ${i + 1} $q")(r.opts.record, "no recorded output")
        }
      }
    }
    if (r.opts.record) writeExpected(corpusKey, expectedQueries ++ digests)

    val all = perQuery.values.flatten.toSeq
    // one pass as the sum of per-query medians: a contention spike in one
    // pass moves only the queries it hit, and only if it hit most passes
    val sweep = perQuery.values.map(ts => Common.median(ts.toSeq)).sum
    r.named("sweep_cpu_s") = (perQueryCpu.values.map(ts => Common.median(ts.toSeq)).sum, "s")
    r.named("artifacts_s") = (artifacts, "s")
    r.named("sweep_s") = (sweep, "s")
    r.named("pass_s") = (Common.median(passes.wall), "s")
    r.named("query_p50_s") = (Common.quantile(all, 0.5), "s")
    r.named("query_p90_s") = (Common.quantile(all, 0.9), "s")
    r.info("passes") = passes.wall.size.toString
    r.info("queries") = names.size.toString
    // per-query samples, for comparing single leaves across runs
    perQuery.foreach { case (q, ts) => r.info(s"query_s.$q") = ts.map(Common.jsonNumber).mkString(",") }

    if (r.opts.trace) {
      val tracedPasses = r.tracer.named("unit").size.toDouble
      for (f <- cfg.families) {
        val spans = names.filter(cfg.familyOf(_) == f).flatMap(q => r.tracer.within("unit", s"q.$q"))
        val a = r.tracer.activity(spans)
        r.perLayer(s"family.$f.s") = a.seconds / tracedPasses
        r.perLayer(s"family.$f.jobs") = a.jobs / tracedPasses
        r.perLayer(s"family.$f.driver_gap_s") = a.driverGapS / tracedPasses
        r.perLayer(s"family.$f.shuffle_bytes") = a.shuffleWriteBytes / tracedPasses
      }
      for (q <- cfg.top) {
        val spans = r.tracer.within("unit", s"q.$q")
        val a = r.tracer.activity(spans)
        r.perLayer(s"q.$q.s") = if (spans.isEmpty) 0.0 else a.seconds / spans.size
        r.perLayer(s"q.$q.jobs") = if (spans.isEmpty) 0.0 else a.jobs.toDouble / spans.size
      }
      artifactLayers(r, spark, dir)
    }
  }

  /** Rebuild each corpus-epoch artifact from outside, through the public
    * builders `warmSharedCaches` uses, and record its build time, rows and
    * bytes; then run the LSH candidate/verify stages of `dedup_minhash` and
    * the four graph operators on the inputs the kg_pagerank, kg_hits,
    * kg_components and kg_scc queries give them. */
  private def artifactLayers(r: Run, spark: SparkSession, dir: String): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")

    /** Build a relation artifact as a local checkpoint; bytes are its
      * cached blocks. */
    def relation(name: String)(df: => DataFrame): DataFrame = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val ((ck, rows), t) = Common.time(r.tracer.span(s"artifact.$name") {
        val ck = df.localCheckpoint()
        (ck, ck.count())
      })
      val ids = spark.sparkContext.getPersistentRDDs.keySet -- before
      val bytes = spark.sparkContext.getRDDStorageInfo.filter(i => ids(i.id)).map(i => i.memSize + i.diskSize).sum
      r.perLayer(s"artifact.$name.build_s") = t
      r.perLayer(s"artifact.$name.rows") = rows.toDouble
      r.perLayer(s"artifact.$name.bytes") = bytes.toDouble
      ck
    }
    /** A driver-side model artifact: rows and an 8-bytes-per-number size. */
    def model(name: String)(build: => (Int, Long)): Unit = {
      val ((rows, numbers), t) = Common.time(r.tracer.span(s"artifact.$name")(build))
      r.perLayer(s"artifact.$name.build_s") = t
      r.perLayer(s"artifact.$name.rows") = rows.toDouble
      r.perLayer(s"artifact.$name.bytes") = numbers * 8.0
    }

    val mentions = relation("mentions")(KgPipeline.mentions(spark, dir).toDF())
    val co = relation("co_edges")(KgPipeline.cooccurrence(mentions))
    // the strong-edge backbone: co-occurrence edges within 85% of the
    // heaviest, the projection SparkEntry materializes next to the edges
    val backbone = relation("backbone") {
      val mx = co.agg(max(col("n_convs")).as("mx"))
      co.join(broadcast(mx)).where(col("n_convs") * 100 >= col("mx") * 85).select("concept_a", "concept_b")
    }
    val sigs = relation("minhash_sigs")(Dedup.minhashSignatures(docs, k = 32))
    model("hll") { val regs = Sketches.hllRegisters(docs, m = 256).collect(); (regs.length, regs.length * 2L) }
    model("ivf_codebook") { val c = Similarity.ivfCentroids(emb); (c.size, c.map(_._2.size + 1L).sum) }
    model("sq8") { val s = Similarity.sq8Scales(emb); (s.size, s.size.toLong) }
    model("pq") { val c = Similarity.pqCodebooks(emb); (c.size, c.map(_._3.size + 2L).sum) }

    // LSH candidate generation vs exact verification, dedup_minhash's bands
    val cand = r.tracer.span("dedup.candidates") {
      Dedup.minhashCandidates(Dedup.minhashBandBuckets(sigs, bands = 32, rowsPerBand = 1)).localCheckpoint()
    }
    val nCand = cand.count()
    val nVerified = r.tracer.span("dedup.verify")(Dedup.verifyJaccard(cand, docs, threshold = 0.5).count())
    r.perLayer("dedup.candidate_pairs") = nCand.toDouble
    r.perLayer("dedup.verified_pairs") = nVerified.toDouble
    r.perLayer("dedup.verify_yield") = if (nCand == 0) 0.0 else nVerified.toDouble / nCand

    // static-cache partitions as SparkEntry sizes them: ~500k rows each
    def parts(rows: Long): Int =
      math.max(1L, math.min(spark.conf.get("spark.sql.shuffle.partitions").toLong, rows / 500000L + 1L)).toInt
    def graph(op: String)(run: => DataFrame): Unit = {
      r.tracer.span(s"graph.$op")(run.count())
      val a = r.tracer.activity(r.tracer.named(s"graph.$op"))
      r.perLayer(s"graph.$op.s") = a.seconds
      r.perLayer(s"graph.$op.jobs") = a.jobs.toDouble
      r.perLayer(s"graph.$op.shuffle_bytes") = a.shuffleWriteBytes.toDouble
    }
    val counts = KgPipeline.mentionCounts(mentions)
    val marginals = mentions.select("conv_id", "concept_id").distinct().groupBy("concept_id").agg(count(lit(1)).as("n"))
    graph("pagerank")(PageRank.run(co, iterations = 5, numParts = parts(co.count())))
    graph("hits")(Hits.run(counts, iterations = 4, numParts = parts(mentions.count())))
    graph("cc")(ConnectedComponents.run(spark, backbone.select(col("concept_a").as("src"), col("concept_b").as("dst"))))
    graph("scc")(Scc.run(spark, Scc.implicationDigraph(backbone, marginals)))
  }

  private def readExpected(): Map[String, JValue] = {
    val p = Paths.get(ExpectedPath)
    if (!Files.exists(p)) Map.empty
    else JsonMethods.parse(new String(Files.readAllBytes(p), "UTF-8")).extract[Map[String, JValue]]
  }

  private def parseQueries(j: JValue): Map[String, (Long, String)] =
    j.extract[Map[String, JObject]].map { case (q, o) => q -> ((o \ "rows").extract[Long], (o \ "sum_xxhash64").extract[String]) }

  /** Record outputs for the corpus (`--record`) to [[recordPath]]: the
    * values later runs are checked against once copied to [[ExpectedPath]]. */
  private def writeExpected(corpusKey: String, qs: Map[String, (Long, String)]): Unit = {
    val body = qs.toSeq.sortBy(_._1).map { case (q, (n, h)) =>
      s"    ${Common.jsonString(q)}: {\"rows\": $n, \"sum_xxhash64\": ${Common.jsonString(h)}}"
    }
    val json = s"{\n  \"corpus\": ${Common.jsonString(corpusKey)},\n  \"queries\": {\n${body.mkString(",\n")}\n  }\n}\n"
    Files.writeString(Paths.get(recordPath), json)
    println(s"[perfbench] outputs recorded to $recordPath")
  }
}
