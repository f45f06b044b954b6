package e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Command-line options shared by every workload. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    root: Path, data: String) {
  def dir(name: String): String = {
    val d = root.resolve(name)
    Files.createDirectories(d.getParent)
    d.toString
  }
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("root")), need("data"))
  }
}

/** What one workload run reports: op counts, correctness, the
  * end-to-end metrics and (in a traced run) the per-layer ones. */
final case class Result(attempted: Long, failed: Long, correct: Boolean,
    e2e: Map[String, Double], layers: Map[String, Double], notes: Seq[String] = Nil) {
  def json: String = {
    def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"correct":$correct,""" +
      s""""e2e":${obj(e2e)},"layers":${obj(layers)},""" +
      s""""notes":${notes.map(Json.str).mkString("[", ",", "]")}}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"non-finite metric $v") else v.toString
  def str(s: String): String = graft.OracleJson.quote(s)
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

/** Process-level readings taken from outside the engine. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = os.getProcessCpuTime

  /** Wall-clock ms at JVM start, for setup time. */
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Peak resident set (VmHWM) in MiB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Sum of the heap pools' peak usage in MiB. */
  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed.toDouble).sum / 1048576.0

  def nowMs(): Double = System.nanoTime() / 1e6

  /** Log a setup milestone with the seconds since JVM start. */
  def mark(what: String): Unit =
    System.err.println(f"[e2ebench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s: $what")
}

object Session {
  /** The session conf of `graft.Bench`, with every scratch directory
    * under the run's temp root. */
  def create(o: Opts): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"e2ebench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.dir("spark-local"))
      .config("spark.sql.warehouse.dir", o.dir("spark-warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.quietBoundedWindowWarnings()
    spark
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val spark = Session.create(o)
    Proc.mark("session ready")
    val result =
      try o.workload match {
        case "feed" => Feed.run(spark, o)
        case "query_mix" => QueryMix.run(spark, o)
        case w => sys.error(s"unknown workload $w")
      } finally { Proc.mark("workload done"); spark.stop() }
    val full = if (o.trace) result.copy(layers = Layers.complete(result.layers)) else result
    Proc.mark("session stopped")
    println("E2EBENCH_RESULT " + full.json)
  }
}
