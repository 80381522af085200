package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

/** The profiling tool: run named queries under the bench session
  * (`core.Session`, AQE on) and print, per query,
  *  - the warm build+materialize wall time (the quantity Bench times,
  *    eager checkpoints inside the query lambda included), the build
  *    time alone, and the row count;
  *  - the generated classes that invocation compiled, and the compile
  *    time (a class found in the JVM-wide codegen cache costs nothing);
  *  - plan counts of the executed final plan: shuffles, broadcasts,
  *    sorts, scans with pushed filters, whole-stage codegen spans and
  *    broadcast nested-loop joins;
  *  - every job of the invocation (iterative queries do their work in
  *    driver-action jobs during DataFrame construction, invisible to
  *    plan metrics) with its wall time, the tasks of its stages that
  *    ran (a stage whose shuffle output already exists is skipped and
  *    counts none), its label and call site, then one line per call
  *    site with its job count;
  *  - the executed plan with its non-zero operator metrics (rows out,
  *    operator times, shuffle bytes), the local substitute for the UI's
  *    SQL tab.
  * Materialization is `queryExecution.toRdd.foreachPartition`: every
  * column of every row computed, like the noop sink, but against the
  * SAME QueryExecution whose plan and metrics are then read (a `.write`
  * would plan a fresh one and leave this one's metrics empty).
  *
  * Usage: runMain graft.QueryProfile [outDir] q1 q2 ...
  * When the first argument is not a query name it is an output
  * directory, and each query's `explain("formatted")` of the executed
  * plan is written there as `<query>.txt`. The name `entry` profiles
  * `SparkEntry.entry`. Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  */
object QueryProfile {

  /** One job of a profiled call: its label is the job description
    * (`"<op>:<phase>:<iter>"` in the graph loops), its call site the
    * last stage's name. */
  private case class Job(id: Int, start: Long, end: Long, tasks: Int,
                         callSite: String, label: String) {
    /** Where the job was started: the label without its iteration,
      * else the call site. */
    def site: String =
      if (label.isEmpty) callSite else label.replaceAll(":[0-9]+$", "")
  }

  private def build(name: String): (org.apache.spark.sql.SparkSession, String) => DataFrame =
    if (name == "entry") (spark, _) => SparkEntry.entry(spark)
    else SparkEntry.queries(name)

  /** A node's children in the executed plan, looking through AQE
    * wrappers and into subqueries. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case _ => p.children ++ p.subqueries
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)

  /** Plan-shape counts over an executed plan. */
  def planCounts(p: SparkPlan): Seq[(String, Int)] = {
    val all = nodes(p)
    Seq(
      "shuffles" -> all.count(_.isInstanceOf[ShuffleExchangeLike]),
      "broadcasts" -> all.count(_.isInstanceOf[BroadcastExchangeLike]),
      "sorts" -> all.count(_.isInstanceOf[SortExec]),
      "pushedFilterScans" -> all.count {
        case s: FileSourceScanExec =>
          s.metadata.get("PushedFilters").exists(_ != "[]")
        case _ => false
      },
      "codegenSpans" -> all.collect {
        case w: WholeStageCodegenExec => w.codegenStageId
      }.distinct.size,
      "bnlj" -> all.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  def main(args: Array[String]): Unit = {
    val isQuery = (n: String) => n == "entry" || SparkEntry.queries.contains(n)
    val (outDir, names) = args.toSeq match {
      case first +: rest if !isQuery(first) => (Some(first), rest)
      case all => (None, all)
    }
    val unknown = names.filterNot(isQuery)
    require(names.nonEmpty && unknown.isEmpty,
      s"usage: QueryProfile [outDir] query...; unknown: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session()
    spark.sparkContext.setLogLevel("ERROR")
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        js.stageIds.foreach(stageJob.put(_, js.jobId))
        starts.put(js.jobId, Job(js.jobId, js.time, 0L, 0,
          js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')).getOrElse(""),
          Option(js.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description"))).getOrElse("")))
      }
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        Option(stageJob.get(ss.stageInfo.stageId)).foreach { id =>
          starts.computeIfPresent(id, (_, j) =>
            j.copy(tasks = j.tasks + ss.stageInfo.numTasks))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.remove(je.jobId)
        if (s != null) jobLog.add(s.copy(end = je.time))
      }
    }
    names.foreach { name =>
      // warmup invocation (codegen, broadcasts, page cache)
      build(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      System.gc()
      jobLog.clear()
      spark.sparkContext.addSparkListener(listener)
      val rows = spark.sparkContext.longAccumulator
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val df = build(name)(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val qe = df.queryExecution
      qe.toRdd.foreachPartition { it =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        rows.add(n)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileSec = (CodeGenerator.compileTime - compileNs0) / 1e9
      // drain BEFORE removing: the listener bus is async, so the final
      // job's onJobEnd can post after removal and be silently dropped,
      // under-reporting the job-time sum (ADVICE r18)
      Thread.sleep(200)
      spark.sparkContext.removeSparkListener(listener)
      println(f"== $name%s: $sec%.2f s warm (build $tBuild%.2f s) rows=${rows.sum}")
      println(f"  codegen: $compiles compiles, $compileSec%.2f s")
      println("  plan: " + planCounts(qe.executedPlan)
        .map { case (k, v) => s"$k=$v" }.mkString(" "))
      val jl = jobLog.toArray(Array.empty[Job]).sortBy(_.id)
      println(s"  jobs: ${jl.length}, " +
        f"sum ${jl.map(j => j.end - j.start).sum / 1e3}%.2f s")
      jl.foreach { j =>
        println(f"  job ${j.id}%4d ${(j.end - j.start) / 1e3}%6.2f s " +
          f"tasks=${j.tasks}%4d  ${j.label}%s  ${j.callSite}%s")
      }
      jl.groupBy(_.site).toSeq.sortBy(-_._2.length).foreach { case (k, js) =>
        println(f"  ${js.length}%4d jobs at $k%s")
      }
      def dump(p: SparkPlan, depth: Int): Unit = {
        val m = p.metrics.toSeq
          .filter { case (_, v) => v.value != 0 && v.value != -1 }
          .sortBy(_._1)
          .map { case (k, v) => s"$k=${v.value}" }
          .mkString(" ")
        println("  " * depth + p.nodeName + (if (m.nonEmpty) s" [$m]" else ""))
        kids(p).foreach(dump(_, depth + 1))
      }
      dump(qe.executedPlan, 1)
      outDir.foreach { d =>
        Files.write(Paths.get(d, s"$name.txt"),
          qe.explainString(FormattedMode).getBytes("UTF-8"))
      }
    }
    spark.stop()
  }
}
