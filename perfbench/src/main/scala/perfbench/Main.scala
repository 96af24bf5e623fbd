package perfbench

import java.lang.management.{BufferPoolMXBean, ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds the classpath, makes the
  * fixtures and starts this with
  *
  *   --workload <sql_tier|arrivals_ingest> --seed <n>
  *   --seconds <s> --trace <0|1> --data <fixture dir> --work <scratch dir>
  *   --out <result json> --pins <pins.tsv> --trace_out <spans json>
  *
  * or, to rewrite the pins, with `--mode pins --data <dir> --work <dir>
  * --out <result json> --pins_out <path>`, or, to time candidate queries
  * phase by phase, with `--mode probe --prefixes <a,b,...> --passes <n>
  * --probe_out <tsv>` (see [[Batch.probe]]).
  *
  * It sets up one session at local[nproc], warms up untimed, notes the
  * moment it is ready, measures for about `seconds`, checks every output and
  * writes one JSON result (metrics by name plus details) to `--out`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = Runtime.getRuntime.availableProcessors
    val work = opts("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // Spark's status store keeps job, stage and SQL history for the UI
      // even with the UI off; a small cap keeps live memory from growing
      // with the number of passes a run happens to fit in
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Result
    try {
      res.details("nproc") = cpus.toString
      res.details("jvm") = Json.str(System.getProperty("java.vm.version"))
      res.details("spark") = Json.str(spark.version)
      res.details("threads") = Json.str(s"1 client, local[$cpus], shuffle.partitions=$cpus")
      if (opts.get("mode").contains("pins")) Batch.writePins(spark, opts("data"), opts("pins_out"))
      else if (opts.get("mode").contains("probe"))
        Batch.probe(spark, opts("data"), opts("prefixes").split(",").toSeq, opts("passes").toInt,
          opts("probe_out"))
      else {
        val cfg = Config(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
          opts("trace") == "1", opts("data"), work, opts("trace_out"), opts("pins"))
        cfg.workload match {
          case "sql_tier" => Batch.run(spark, cfg, res)
          case "arrivals_ingest" => Ingest.run(spark, cfg, res)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
      }
      res.details("vmhwm_mb") = Json.num(peakRssMb())
    } finally spark.stop()
    Files.write(Paths.get(opts("out")), res.json.getBytes("UTF-8"))
  }

  /** Process CPU time (all threads: tasks, GC, JIT), in seconds. */
  def cpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Live memory now, in MB: heap in use right after a full GC, plus the
    * non-heap pools other than the code cache (metaspace, class space) and
    * direct buffers in use. Unlike the resident set, this does not depend
    * on how far the JVM grew its heap, so it moves with what the program
    * keeps (cached tables, generated classes, the state store). The code
    * cache is left out: it grows with JIT progress, not with the program.
    * Spark's context cleaner frees shuffle and broadcast blocks only after
    * a GC has found their owners unreachable, so a second GC follows once
    * it has had time to run. */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val nonHeap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.NON_HEAP && !p.getName.startsWith("Code"))
      .map(_.getUsage.getUsed).sum
    val direct = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .map(_.getMemoryUsed).sum
    (heap + nonHeap + direct) / (1024.0 * 1024.0)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** CPU steal: the share of the machine's CPU time the hypervisor gave to
  * other guests. A pass (or drain) with more than [[MaxPct]] measures the
  * host rather than the program and is left out of the medians when
  * enough others are left. */
object Steal {
  val MaxPct = 1.0

  /** Machine-wide (total, steal) jiffies from /proc/stat. */
  def sample(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
      (xs.sum, xs(7))
    } finally src.close()
  }

  def pct(from: (Long, Long), to: (Long, Long)): Double =
    100.0 * (to._2 - from._2) / math.max(1L, to._1 - from._1)
}

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, traceOut: String, pins: String)

/** What one run reports: metrics by name, the moment set-up ended, the
  * attempted/failed counts, and free-form details (already JSON). */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val details = mutable.LinkedHashMap.empty[String, String]
  var readyMs = 0.0
  var attempted = 0L
  var failed = 0L
  var checksOk = true
  val problems = mutable.ArrayBuffer.empty[String]

  def metric(name: String, v: Double): Unit = metrics(name) = v
  def ready(): Unit = readyMs = Clock.nowMs
  def problem(msg: String): Unit = {
    checksOk = false
    problems += msg
    System.err.println(s"[perfbench] CHECK FAILED: $msg")
  }

  def json: String = {
    val m = metrics.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    val d = details.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val p = problems.map(Json.str).mkString("[", ",", "]")
    s"""{"correct":${checksOk && failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""ready_epoch_ms":${Json.num(readyMs)},"metrics":$m,"details":$d,"problems":$p}"""
  }
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
  def str(s: String): String = "\"" + esc(s) + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def nums(vs: Iterable[Double]): String = vs.map(num).mkString("[", ",", "]")
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

