package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the engine, and a listener
  * that attributes Spark jobs, stages and tasks to them.
  *
  * Each call runs under its own job group (`<layer>@<call>`), so every
  * job the driver starts inside the call, including jobs started while
  * the query is only being built, lands on that call's span. */
final class Tracer(sc: SparkContext) extends SparkListener {

  final class Counters {
    val stages = new AtomicLong
    val tasks = new AtomicLong
    val taskCpuNs = new AtomicLong
    val gcMs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
    val outputBytes = new AtomicLong
  }

  /** A job's group, (start, end) epoch ms and stages. */
  final case class Job(group: String, start: Long, end: Long, stages: Seq[Int])

  private val started = new ConcurrentHashMap[Int, Job]()
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentHashMap[Int, Counters]()

  private def stage(id: Int): Counters =
    stages.computeIfAbsent(id, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    started.put(e.jobId, Job(g, e.time, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = started.remove(e.jobId)
    if (j != null) jobs.add(j.copy(end = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stage(e.stageInfo.stageId).stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = stage(e.stageId)
      c.tasks.incrementAndGet()
      c.taskCpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.diskBytesSpilled)
      c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** One call into a layer. */
  final case class Span(layer: String, group: String, startMs: Long,
                        endMs: Long, buildS: Double)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var seq = 0

  /** Run `body` as one span of `layer`; `body` returns the seconds it
    * spent building (0 where the layer has no build step). */
  def span(layer: String)(body: => Double): Unit = {
    seq += 1
    val group = s"$layer@$seq"
    sc.setJobGroup(group, layer)
    val t0 = System.currentTimeMillis()
    val build = try body finally sc.clearJobGroup()
    spans += Span(layer, group, t0, System.currentTimeMillis(), build)
  }

  /** Forgets every span and job seen so far (after the warm-up pass). */
  def reset(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    spans.clear()
    jobs.clear()
    stages.clear()
  }

  /** Layer metrics for the spans recorded since the last `reset`, plus
    * the `engine` layer: every job of the pass. A job belongs to the span
    * whose job group it carries; a job started from a thread that did not
    * inherit the group (a thread pool made earlier) belongs to the span
    * running when it started. Resets afterwards. */
  def report(passStartMs: Long, passEndMs: Long): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val byGroup = spans.map(s => s.group -> s).toMap
    val pass = jobs.asScala.toSeq.filter(_.start >= passStartMs)
    val owner = pass.groupBy { j =>
      byGroup.get(j.group).orElse(
        spans.find(s => s.startMs <= j.start && j.start <= s.endMs))
    }
    // covered milliseconds of [lo, hi] by the union of the job intervals
    def union(js: Seq[Job], lo: Long, hi: Long): Long = {
      var covered = 0L
      var end = Long.MinValue
      js.map(j => (math.max(j.start, lo), math.min(j.end, hi)))
        .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
          if (a > end) { covered += b - a; end = b }
          else if (b > end) { covered += b - end; end = b }
        }
      covered
    }
    val counted = mutable.Set.empty[Int]
    def add(layer: String, js: Seq[Job]): Unit = {
      out(s"$layer.jobs") += js.size
      // a stage shared by several jobs counts once, for its first job
      js.flatMap(_.stages).filter(counted.add).flatMap(id => Option(stages.get(id)))
        .foreach { c =>
          out(s"$layer.stages") += c.stages.get
          out(s"$layer.tasks") += c.tasks.get
          out(s"$layer.task_cpu_s") += c.taskCpuNs.get / 1e9
          out(s"$layer.gc_s") += c.gcMs.get / 1e3
          out(s"$layer.shuffle_mb") += c.shuffleBytes.get / 1e6
          out(s"$layer.spill_mb") += c.spillBytes.get / 1e6
          out(s"$layer.mb") += c.outputBytes.get / 1e6
        }
    }
    spans.foreach { sp =>
      val js = owner.getOrElse(Some(sp), Nil)
      val wall = sp.endMs - sp.startMs
      out(s"${sp.layer}.s") += wall / 1e3
      out(s"${sp.layer}.build_s") += sp.buildS
      out(s"${sp.layer}.gap_s") += (wall - union(js, sp.startMs, sp.endMs)) / 1e3
      add(sp.layer, js)
    }
    val inSpans = owner.collect { case (Some(_), js) => js }.flatten.toSeq
    counted.clear()
    add("engine", inSpans)
    out("engine.gap_s") = (passEndMs - passStartMs -
      union(inSpans, passStartMs, passEndMs)) / 1e3
    val result = out.toMap
    reset()
    result
  }
}
