package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** A metric's declared name and unit, from BENCHMARK.json. */
final case class MetricSpec(name: String, unit: String)

object Spec {
  private implicit val formats: Formats = DefaultFormats

  /** (end_to_end, per_layer) metric declarations. */
  def load(path: String): (Seq[MetricSpec], Seq[MetricSpec]) = {
    val j = JsonMethods.parse(scala.io.Source.fromFile(path).mkString)
    def specs(key: String) =
      (j \ key).extract[List[JObject]].map(o => MetricSpec((o \ "name").extract[String], (o \ "unit").extract[String]))
    (specs("end_to_end"), specs("per_layer"))
  }
}

/** One workload of the benchmark. `layers` are the per-layer metric name
  * prefixes it measures; the per-layer metrics of other layers read 0 on
  * its traced run, because those layers do no work there. */
trait Workload {
  def name: String
  def layers: Seq[String]
  def run(r: Run): Unit
}

/** State of one benchmark run: options, tracer, the live session, the
  * metrics measured so far and the operation/check tally. */
final class Run(val opts: Opts) {
  val tracer = new Tracer(opts.trace, s"${opts.workload}-${opts.seed}-${System.currentTimeMillis()}")
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  /** Workload-specific end-to-end figures under their own names, printed
    * before the result line and kept in the trace file. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  private var session: Option[SparkSession] = None

  def spark: SparkSession = session.getOrElse(sys.error("no session: set up first"))

  /** Run the set-up `reps` times: each time (re)start the session and make
    * the inputs. `setup_s` is the median CPU seconds of a set-up; wall
    * times are printed, the first (cold JVM) one as `first_setup_s`. */
  def setup(reps: Int)(make: SparkSession => Unit): Unit = {
    val times = (1 to reps).map { _ =>
      val (_, wall, cpu) = Common.timeCpu {
        session.foreach(_.stop())
        val s = Common.session()
        session = Some(s)
        tracer.attach(s.sparkContext)
        make(s)
      }
      (wall, cpu)
    }
    endToEnd("setup_s") = Common.median(times.map(_._2))
    named("first_setup_s") = (times.head._1, "s")
    named("setup_wall_s") = (Common.median(times.map(_._1)), "s")
  }

  /** Count one operation; it failed if `ok` is false. */
  def op(what: String)(ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED: $what $detail")
    }
  }

  /** The measured window: `prepare` runs untimed, then `unit` is timed
    * (wall and process CPU seconds), then `check` runs untimed (and
    * untraced) on its result. Just before and just after each unit,
    * untimed, the reference job ([[Common.reference]]) runs too; the unit's
    * reference time is the mean of the two. Untraced runs repeat this until
    * `seconds` pass. Traced runs alternate untraced and traced units (at
    * least one each), so `tracing_overhead_s` compares the two inside one
    * JVM. Returns the units whose figures count: all of them untraced, the
    * traced ones when tracing.
    *
    * Sets the end-to-end metrics `warm_wall_ref` and `warm_cpu_ref`: the
    * median over the units of unit time ÷ reference time. The host's speed
    * drifts with hypervisor steal and with load from other tenants, and it
    * moves both times alike, so the ratio keeps the program's own changes,
    * including lost parallelism, and drops most of the drift. */
  def measure(minUnits: Int, prepare: Int => Unit = _ => ())(unit: Int => Unit)(check: Int => Unit): Units = {
    val counted = mutable.ArrayBuffer.empty[(Double, Double, (Double, Double))]
    val plain = mutable.ArrayBuffer.empty[Double]
    var gcTraced = 0.0
    // warm the JIT for the reference job itself
    tracer.suspended((1 to 2).foreach(_ => Common.reference(spark)))
    val (ticks0, steal0) = Common.hostTicks
    def timed(i: Int): Double = {
      tracer.suspended(prepare(i))
      val ref0 = tracer.suspended(Common.reference(spark))
      val traced = opts.trace && i % 2 == 1
      val g = Jvm.gcSeconds
      val (_, t, c) =
        if (traced) Common.timeCpu(tracer.span("unit")(unit(i)))
        else tracer.suspended(Common.timeCpu(unit(i)))
      if (traced) gcTraced += Jvm.gcSeconds - g
      val ref1 = tracer.suspended(Common.reference(spark))
      val ref = ((ref0._1 + ref1._1) / 2, (ref0._2 + ref1._2) / 2)
      if (traced || !opts.trace) counted += ((t, c, ref)) else plain += t
      tracer.suspended(check(i))
      t
    }
    Common.window(opts.seconds, if (opts.trace) math.max(2, minUnits) else minUnits)(timed)
    val (ticks1, steal1) = Common.hostTicks
    info("host_steal_share") = Common.jsonNumber((steal1 - steal0).toDouble / math.max(1L, ticks1 - ticks0))
    val units = Units(counted.map(_._1).toSeq, counted.map(_._2).toSeq)
    val wallRef = counted.map { case (t, _, (rt, _)) => t / rt }.toSeq
    val cpuRef = counted.map { case (_, c, (_, rc)) => c / rc }.toSeq
    endToEnd("warm_wall_ref") = Common.median(wallRef)
    endToEnd("warm_cpu_ref") = Common.median(cpuRef)
    info("reference_wall_s") = Common.jsonNumber(Common.median(counted.map(_._3._1).toSeq))
    info("reference_cpu_s") = Common.jsonNumber(Common.median(counted.map(_._3._2).toSeq))
    info("warm_wall_ref_samples") = wallRef.map(Common.jsonNumber).mkString(",")
    info("warm_cpu_ref_samples") = cpuRef.map(Common.jsonNumber).mkString(",")
    if (opts.trace) {
      val a = tracer.activity(tracer.named("unit"))
      perLayer("tracing_overhead_s") = Common.median(units.wall) - Common.median(plain.toSeq)
      perLayer("spark.jobs") = a.jobs.toDouble
      perLayer("spark.tasks") = a.tasks.toDouble
      perLayer("spark.shuffle_write_bytes") = a.shuffleWriteBytes.toDouble
      perLayer("spark.spill_bytes") = a.spillBytes.toDouble
      perLayer("spark.peak_exec_mem_bytes") = a.peakExecMemBytes.toDouble
      perLayer("spark.driver_gap_s") = a.driverGapS
      perLayer("jvm.gc_s") = gcTraced
    }
    units
  }
}

/** Wall and process-CPU seconds of the counted units of a window. */
final case class Units(wall: Seq[Double], cpu: Seq[Double])

object Main {

  val workloads: Seq[Workload] = Seq(KgRefresh, KgAnalytics)

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val (e2eSpecs, layerSpecs) = Spec.load("BENCHMARK.json")
    val w = workloads.find(_.name == opts.workload).getOrElse(sys.error(s"unknown workload ${opts.workload}"))
    val r = new Run(opts)
    r.info("nproc") = Common.nproc.toString
    r.info("mem_total_kb") = Common.memTotalKb.toString
    r.info("seed") = opts.seed.toString
    val ok =
      try { w.run(r); true }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          r.failed += 1
          r.attempted += 1
          false
      }
    r.named("peak_rss_gb") = (Common.peakRssGb, "GB")
    if (opts.trace) r.perLayer("jvm.peak_rss_gb") = Common.peakRssGb
    if (r.attempted > 0) r.named("failed_share") = (r.failed.toDouble / r.attempted, "ratio")
    if (opts.trace) r.named("tracing_overhead_s") = (r.perLayer.getOrElse("tracing_overhead_s", 0.0), "s")

    val specs = if (opts.trace) layerSpecs else e2eSpecs
    val values = if (opts.trace) r.perLayer else r.endToEnd
    val metrics = specs.map { m =>
      val v = values.get(m.name) match {
        case Some(x) => x
        case None if ok && opts.trace && !w.layers.exists(m.name.startsWith) => 0.0
        case None if ok => sys.error(s"${w.name} did not measure ${m.name}")
        case None => 0.0
      }
      s"${Common.jsonString(m.name)}:{\"value\":${Common.jsonNumber(v)},\"unit\":${Common.jsonString(m.unit)}}"
    }
    val extra = values.keySet -- specs.map(_.name)
    require(extra.isEmpty, s"measured metrics missing from BENCHMARK.json: ${extra.mkString(", ")}")

    r.info.foreach { case (k, v) => println(s"[perfbench] info $k $v") }
    r.named.foreach { case (k, (v, u)) => println(s"[perfbench] ${w.name} $k ${Common.jsonNumber(v)} $u") }
    if (opts.trace) {
      val path = s"${Common.buildDir}/trace-${w.name}-${opts.seed}.json"
      val extras = Seq(
        "workload" -> Common.jsonString(w.name),
        "info" -> r.info.map { case (k, v) => s"${Common.jsonString(k)}:${Common.jsonString(v)}" }.mkString("{", ",", "}"),
        "named" -> r.named.map { case (k, (v, u)) => s"${Common.jsonString(k)}:{\"value\":${Common.jsonNumber(v)},\"unit\":${Common.jsonString(u)}}" }.mkString("{", ",", "}"),
        "per_layer" -> r.perLayer.map { case (k, v) => s"${Common.jsonString(k)}:${Common.jsonNumber(v)}" }.mkString("{", ",", "}"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), r.tracer.toJson(extras) + "\n")
      println(s"[perfbench] trace written to $path")
    }
    val correct = ok && r.failed == 0
    println(
      s"""{"correct":$correct,"attempted":${math.max(1L, r.attempted)},"failed":${r.failed},"metrics":${metrics.mkString("{", ",", "}")}}""")
    System.out.flush()
    scala.util.Try(r.spark.stop())
    sys.exit(if (correct) 0 else 1)
  }
}
