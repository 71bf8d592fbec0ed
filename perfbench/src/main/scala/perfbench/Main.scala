package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What every workload shares: the session, the seed, the scratch
  * directory its inputs and indexes live in, and the tracer of the
  * timed passes.
  */
final case class Ctx(spark: SparkSession, seed: Long, sf: Double, work: String) {
  def dir(name: String): String = s"$work/$name"
  /** Where the generated corpus goes. */
  def corpus: String = dir("corpus")
}

/** One workload: inputs generated from the seed, a set-up that makes
  * the program ready to serve (repeated, so its time is a median), and
  * a pass — a fixed sequence of requests repeated for the run's length.
  */
trait Workload {
  /** Generates the inputs from the seed (untimed, not part of set-up). */
  def generate(): Unit
  /** One complete set-up; `rep` counts from 1. */
  def setup(rep: Int): Unit
  /** The session the timed passes use (set by the last set-up). */
  def session: SparkSession
  /** One timed pass of requests through `tracer`. */
  def pass(p: Int, tracer: Tracer): Unit
  /** Maintenance after pass `p` (traced like a request, kind
    * `maintenance`), timed on its own and left out of the pass time.
    */
  def maintain(p: Int, tracer: Tracer): Unit = ()
  /** A pass's nominal length; a run measures `seconds / nominalPassS`
    * whole passes (at least one), so every commit measures the same work.
    */
  def nominalPassS: Double
  /** Output checks and workload facts, after the timed region. */
  def finish(tracer: Tracer): Map[String, Any]
}

/** Runs one workload and writes its record as JSON.
  *
  * Usage: `Main --workload <suite|serve> --seed <n> --seconds <s>
  *   --trace <0|1> --sf <x> --work <dir> --out <file>`
  */
object Main {
  /** Set-ups per run. The first pays the JVM's cold start (class
    * loading, JIT) and is kept in the record as `setup_cold_s` only;
    * `setup_s` is the median of the warm ones that follow. One warm
    * set-up keeps a run near a minute.
    */
  val Setups = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opt("work")).getAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, opt("seed").toLong, opt("sf").toDouble, work)
    val w: Workload = workload match {
      case "suite" => new Suite(ctx)
      case "serve" => new Serve(ctx)
    }
    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> ctx.seed, "sf" -> ctx.sf, "seconds" -> seconds,
      "traced" -> traced)
    try {
      record("generate_s") = time(w.generate())
      val setups = (1 to Setups).map(r => time(w.setup(r)))
      record("setup_cold_s") = setups.head
      record("setup_s") = setups.tail
      val tracer = new Tracer(w.session, traced)
      val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
      def gcMs = gc.map(_.getCollectionTime).sum
      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
      heap.foreach(_.resetPeakUsage())
      val gc0 = gcMs
      record("loadavg_before") = loadavg()
      val os = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val cpu0 = os.getProcessCpuTime
      val stat0 = cpuStat()
      tracer.startSparkRecording()
      val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
      val maintenance = scala.collection.mutable.ArrayBuffer.empty[Double]
      val nPasses = math.max(1, math.round(seconds / w.nominalPassS).toInt)
      (1 to nPasses).foreach { p =>
        passes += time(w.pass(p, tracer))
        maintenance += time(w.maintain(p, tracer))
      }
      record("measured_s") = passes.sum
      record("cpu_s") = (os.getProcessCpuTime - cpu0) / 1e9
      val stat1 = cpuStat()
      // share of CPU time the hypervisor stole from this VM (steal)
      // while the passes ran: the hypervisor half of the load sentinel
      record("steal_share") =
        if (stat0.isEmpty || stat1.isEmpty) -1.0
        else (stat1(7) - stat0(7)).toDouble / math.max(1L, stat1.sum - stat0.sum)
      tracer.stopSparkRecording()
      record("pass_s") = passes
      record("maintenance_s") = maintenance
      record("loadavg_after") = loadavg()
      record("jvm") = Map("gc_ms" -> (gcMs - gc0),
        "heap_peak_mb" -> heap.map(_.getPeakUsage.getUsed).sum / 1048576.0)
      record("live_heap_mb") = liveHeapMb()
      record("workload_facts") = w.finish(tracer)
      record("trace") = tracer.render()
    } catch {
      case scala.util.control.NonFatal(e) =>
        record("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    record("env") = Map("cpus" -> cpus, "spark_version" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "java_version" -> System.getProperty("java.version"))
    record("peak_rss_mb") = vmHwmMb()
    val out = new java.io.PrintWriter(opt("out"), "UTF-8")
    try out.println(new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record))
    finally out.close()
    spark.stop()
  }

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap the program still holds after the timed region: used heap
    * after full collections (cached blocks, pinned indexes, session
    * state), steadier than RSS, which follows the collector's sizing.
    */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 2).foreach(_ => System.gc())
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The aggregate `cpu` line of /proc/stat (user … steal …), in ticks. */
  private def cpuStat(): Seq[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong).toSeq
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    catch { case scala.util.control.NonFatal(_) => "unavailable" }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def vmHwmMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1.0 }
}
