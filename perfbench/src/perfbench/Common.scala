package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Options of one benchmark run, parsed from the command line. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    smoke: Boolean,
    record: Boolean
) {

  /** Input-size multiplier: smoke runs use tiny inputs. */
  def scale: Double = if (smoke) 0.02 else 1.0
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = mutable.Map.empty[String, String]
    val flags = mutable.Set.empty[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"unexpected argument: $a")
      val key = a.drop(2)
      if (Set("smoke", "record")(key)) { flags += key; i += 1 }
      else {
        require(i + 1 < args.length, s"missing value for $a")
        kv(key) = args(i + 1); i += 2
      }
    }
    Opts(
      workload = kv.getOrElse("workload", sys.error("--workload is required")),
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "10").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      smoke = flags("smoke"),
      record = flags("record")
    )
  }
}

/** Host facts, session construction, timing and small statistics shared by
  * the workloads. Everything the run writes goes under `.bench_build/` in
  * the working directory. */
object Common {

  val buildDir: String = new File(".bench_build").getAbsolutePath
  def workDir(name: String): String = s"$buildDir/work/$name"

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def memTotalKb: Long = procField("/proc/meminfo", "MemTotal:")

  /** The process's lifetime peak resident set, in GB. In local mode driver
    * and executors share this one JVM. */
  def peakRssGb: Double = procField("/proc/self/status", "VmHWM:") / 1048576.0

  private def procField(path: String, key: String): Long = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().collectFirst { case l if l.startsWith(key) => l.split("\\s+")(1).toLong }.getOrElse(0L)
    finally src.close()
  }

  /** A local[nproc] session whose scratch space stays inside the build
    * directory. Same tuning as the repository's bench session: four tasks
    * per core and AQE coalescing. */
  def session(): SparkSession = {
    val cpus = nproc
    val s = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (cpus * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.local.dir", s"$buildDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$buildDir/spark-warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used, on all its threads. */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** Host CPU time counters from /proc/stat: (all, steal), in ticks. Steal
    * is time the hypervisor ran something else while this machine's CPUs
    * wanted to run. */
  def hostTicks: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    (f.take(8).sum, if (f.length > 7) f(7) else 0L)
  }

  /** A fixed Spark job with no program code in it, whose time tracks how
    * fast the host runs Spark at the moment: (wall, CPU) seconds, each the
    * minimum of two runs. It uses the RDD API with explicit partition
    * counts, so no session setting the program changes can alter it. */
  def reference(spark: SparkSession): (Double, Double) = {
    val parts = nproc * 2
    val runs = (1 to 2).map { _ =>
      val (_, t, c) = timeCpu(
        spark.sparkContext
          .range(0L, 4000000L, 1L, parts)
          .map { x => val h = x * 0x9E3779B97F4A7C15L; (h & 255L, h ^ (h >>> 29)) }
          .reduceByKey(_ ^ _, parts)
          .values
          .reduce(_ ^ _))
      (t, c)
    }
    (runs.map(_._1).min, runs.map(_._2).min)
  }

  /** Wall and CPU seconds of `f`. */
  def timeCpu[A](f: => A): (A, Double, Double) = {
    val c0 = cpuSeconds
    val (a, t) = time(f)
    (a, t, cpuSeconds - c0)
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Order-free fingerprint of a relation: (rows, xor of per-row xxhash64). */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df
      .agg(count(lit(1)), coalesce(bit_xor(xxhash64(df.columns.map(c => col(s"`$c`")): _*)), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Order-free multiset digest used by the output checks: (rows, sum of
    * per-row xxhash64 as an exact decimal). Unlike an xor, duplicated rows
    * do not cancel. */
  def digest(df: DataFrame): (Long, String) = {
    val r = df
      .agg(count(lit(1)), sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)")))
      .collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Parquet part files under a directory tree: (files, bytes). */
  def parquetFiles(dir: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    val fs = walk(new File(dir))
    (fs.size.toLong, fs.map(_.length()).sum)
  }

  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new File(path))
  }

  /** Run `unit` at least `minUnits` times and then until `seconds` have
    * passed; returns what each call returned (its measured time). */
  def window(seconds: Double, minUnits: Int)(unit: Int => Double): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (out.size < minUnits || (System.nanoTime() - t0) / 1e9 < seconds) {
      out += unit(out.size)
    }
    out.toSeq
  }

  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def jsonNumber(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value is not finite: $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else java.lang.Double.toString(v)
  }
}
