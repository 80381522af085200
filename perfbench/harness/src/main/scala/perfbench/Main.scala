package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.{EngineTuning, SessionHygiene}

/** One benchmark run of one workload in a fresh JVM.
  *
  *   perfbench.Main nab_fleet <fleetDir> <passes> <trace 0|1> <cpus>
  *                  <outDir> <startEpochMs>
  *   perfbench.Main <name> <dataDir> <query=layer,...> <passes> <trace 0|1>
  *                  <cpus> <outDir> <startEpochMs>
  *
  * Steps: session, one untimed warm-up pass whose outputs the checks
  * read, then `passes` timed passes. Writes `<outDir>/result.json`; the
  * checks run afterwards, outside this process. */
object Main {

  def main(args: Array[String]): Unit = {
    val (wl, rest) = args.toSeq match {
      case Seq("nab_fleet", dir, rest @ _*) => (new FleetWorkload(dir), rest)
      case Seq(_, dir, queries, rest @ _*) =>
        (new QueryWorkload(dir, queries.split(",").toSeq.map { q =>
          val Array(query, layer) = q.split("=")
          query -> layer
        }), rest)
    }
    val Seq(passesArg, traceArg, cpus, outDir, t0Arg) = rest
    val timedPasses = passesArg.toInt
    val traced = traceArg == "1"
    val startMs = t0Arg.toLong

    val spark = SessionHygiene(EngineTuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    sc.setCheckpointDir(s"$outDir/checkpoints")

    val tracer = if (traced) {
      val t = new Tracer(sc)
      sc.addSparkListener(t)
      Some(t)
    } else None
    val span = tracer.map(Span.traced).getOrElse(Span.untraced)

    val sessionS = (System.currentTimeMillis() - startMs) / 1e3
    wl.pass(spark, span, s"$outDir/checked")
    tracer.foreach(_.reset())
    // release what the warm-up left: a collection clears its RDDs' weak
    // references, Spark's cleaner then drops their blocks, and a second
    // collection frees those, so the first timed pass starts clean
    System.gc()
    Thread.sleep(500)
    System.gc()

    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val heapPeak = new HeapPeak
    var heapPeakMb = 0.0
    val passS = Seq.newBuilder[Double]
    val stealS = Seq.newBuilder[Double]
    val busyS = Seq.newBuilder[Double]
    val cpuS = Seq.newBuilder[Double]
    val layers = Seq.newBuilder[Map[String, Double]]
    var attempted, failed, passes = 0
    val setupS = (System.currentTimeMillis() - startMs) / 1e3
    while (passes < timedPasses) {
      val w0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val c0 = cpu.getProcessCpuTime
      val h0 = HostCpu.read()
      heapPeak.reset()
      failed += wl.pass(spark, span, s"$outDir/timed")
      passS += (System.nanoTime() - n0) / 1e9
      val h1 = HostCpu.read()
      stealS += h1.steal - h0.steal
      busyS += h1.busy - h0.busy
      cpuS += (cpu.getProcessCpuTime - c0) / 1e9
      attempted += wl.operations
      passes += 1
      tracer.foreach(t => layers += t.report(w0, System.currentTimeMillis()))
      // a full collection (untimed) counts what the pass left live, and
      // the next pass starts from the same clean heap
      heapPeakMb = math.max(heapPeakMb, heapPeak.afterFullGc() / 1e6)
    }
    heapPeak.close()
    spark.stop()

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val layerRuns = layers.result()
    val layerMedians = layerRuns.flatMap(_.keys).distinct.sorted.map { k =>
      k -> median(layerRuns.map(_.getOrElse(k, 0.0)))
    }
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => "\"" + k + "\": " + v }.mkString("{", ", ", "}")
    val json = obj(Seq(
      "setup_s" -> num(setupS),
      "session_s" -> num(sessionS),
      "pass_s" -> passS.result().map(num).mkString("[", ", ", "]"),
      "steal_s" -> stealS.result().map(num).mkString("[", ", ", "]"),
      "busy_s" -> busyS.result().map(num).mkString("[", ", ", "]"),
      "cpu_s" -> cpuS.result().map(num).mkString("[", ", ", "]"),
      "heap_peak_mb" -> num(heapPeakMb),
      "passes" -> passes.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "layers" -> obj(layerMedians.map { case (k, v) => k -> num(v) })))
    Files.write(Paths.get(outDir, "result.json"), json.getBytes("UTF-8"))
  }
}

/** This machine's CPU time from the first line of /proc/stat, all CPUs:
  * `busy` (user, nice, system, irq, softirq) and `steal`, the time a CPU
  * had work but the host ran something else. NaN where that is not
  * readable. */
final case class HostCpu(busy: Double, steal: Double)

object HostCpu {
  private val tick = 100.0 // USER_HZ
  def read(): HostCpu =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toDouble / tick)
        HostCpu(f(0) + f(1) + f(2) + f(5) + f(6), f(7))
      } finally src.close()
    } catch { case _: java.io.IOException => HostCpu(Double.NaN, Double.NaN) }
}

/** The most heap in use after any collection since `reset`: the live set
  * plus what survived into the old generation, at its largest during a
  * pass. The JVM reports every collection's per-pool usage afterwards; a
  * pass that holds more at any point between its collections shows here,
  * even if it frees it before the pass ends. */
final class HeapPeak extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }.toSeq
  emitters.foreach(_.addNotificationListener(this, null, null))

  def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      val used = info.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed
      }.sum
      peak.accumulateAndGet(used, math.max)
    }

  def reset(): Unit = peak.set(0L)

  /** Runs a full collection and returns the peak, that collection's
    * result included (read directly: notifications arrive on their own
    * thread, possibly late). */
  def afterFullGc(): Long = {
    System.gc()
    math.max(peak.get, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def close(): Unit = emitters.foreach(_.removeNotificationListener(this))
}
