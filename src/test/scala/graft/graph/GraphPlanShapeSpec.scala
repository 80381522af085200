package graft.graph

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The plan shape the graph loops' speed rests on: edges and node state
  * are checkpointed hash-partitioned on their join keys
  * (`core.Checkpoints.fresh`), so a round's executed plan has exactly
  * ONE shuffle exchange, its messages keyed on their destination, and
  * none on the edge or state side. A checkpoint that drops the
  * partitioning re-shuffles the edge and state sides of every round
  * join.
  *
  * A round is found by its job label (`"<op>:round:<t>"`), which is
  * also the description of the round's SQL execution. */
class GraphPlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private val nodes = (0L to 40L).toDF("id")
  private val edges = (0L until 40L).flatMap(i =>
      Seq((i, (i * 7 + 1) % 41), (i, (i * 13 + 3) % 41)))
    .toDF("src", "dst")

  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case _ => p.children ++ p.subqueries
  }

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeLike] =
    (p match {
      case s: ShuffleExchangeLike => Seq(s)
      case _ => Nil
    }) ++ kids(p).flatMap(shuffles)

  /** The key column names of each shuffle exchange in a plan. */
  private def shuffleKeys(p: SparkPlan): Seq[Set[String]] =
    shuffles(p).map(_.outputPartitioning match {
      case h: HashPartitioning => h.references.map(_.name).toSet
      case other => Set(other.toString)
    })

  /** Runs `body` and returns the job labels seen, in job order, and the
    * executed plan of each labeled SQL execution. The plan rides the
    * execution-end event in a `private[sql]` field, read by reflection
    * (test-only). */
  private def capture(body: => Unit)
      : (Seq[String], Map[String, SparkPlan]) = {
    val jobs = new ConcurrentHashMap[Int, String]()
    val descs = new ConcurrentHashMap[Long, String]()
    val qes = new ConcurrentHashMap[Long, QueryExecution]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties.getProperty("spark.job.description"))
          .foreach(jobs.put(js.jobId, _))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          descs.put(s.executionId, s.description)
        case x: SparkListenerSQLExecutionEnd =>
          qes.put(x.executionId, x.getClass.getMethod("qe").invoke(x)
            .asInstanceOf[QueryExecution])
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try body finally {
      // the listener bus is asynchronous: wait until every started
      // execution has ended
      var waited = 0
      while ((descs.isEmpty || descs.size != qes.size) && waited < 200) {
        Thread.sleep(50); waited += 1
      }
      Thread.sleep(200)
      spark.sparkContext.removeSparkListener(listener)
    }
    val plans = descs.asScala.toSeq.sortBy(_._1).flatMap { case (id, d) =>
      Option(qes.get(id)).map(q => d -> q.executedPlan)
    }.toMap
    (jobs.asScala.toSeq.sortBy(_._1).map(_._2).distinct, plans)
  }

  private def assertOneShuffle(plans: Map[String, SparkPlan],
                               label: String, key: String): Unit = {
    val p = plans.getOrElse(label, fail(s"no checkpoint labeled $label " +
      s"among ${plans.keys.toSeq.sorted.mkString(", ")}"))
    assert(shuffleKeys(p) == Seq(Set(key)),
      s"$label: want one exchange keyed on $key\n$p")
  }

  test("a PageRank round plans one exchange, its messages on dst") {
    val (_, plans) = capture {
      PageRank.pageRank(nodes, "id", edges, "src", "dst", iters = 4)
        .collect()
    }
    (0 until 4).foreach(t => assertOneShuffle(plans, s"pagerank:round:$t",
      "__dst"))
  }

  test("personalized weighted PageRank rounds keep the same shape") {
    val (_, plans) = capture {
      PageRank.pageRank(nodes, "id",
        edges.withColumn("w", (col("src") % 3 + 1).cast("double")),
        "src", "dst", iters = 3,
        resetTo = Some(nodes.filter(col("id") % 5 === 0)),
        weight = Some("w")).collect()
    }
    (0 until 3).foreach(t => assertOneShuffle(plans, s"pagerank:round:$t",
      "__dst"))
  }

  test("each HITS pass plans one exchange, keyed on the pass target") {
    val (_, plans) = capture {
      Hits.hits(nodes, "id", edges, "src", "dst", iters = 1).collect()
    }
    assertOneShuffle(plans, "hits:auth:0", "__dst")
    assertOneShuffle(plans, "hits:hub:0", "__src")
  }

  test("a label-propagation round plans one exchange, its minima on dst") {
    val (_, plans) = capture {
      Communities.minLabelPropagation(nodes, "id", edges, "src", "dst",
        rounds = 4).collect()
    }
    (0 until 4).foreach(t => assertOneShuffle(plans,
      s"communities:round:$t", "__dst"))
  }

  test("a resolveComponents round plans one exchange, its minima on dst") {
    // a 13-node chain takes several rounds to resolve
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (_, plans) = capture {
      graft.llm.Dedup.resolveComponents((0L to 12L).toDF("id"), chain,
        "id").collect()
    }
    val rounds = plans.keys.filter(_.startsWith("components:round:")).toSeq
    assert(rounds.size >= 3, plans.keys.toSeq.sorted.mkString(", "))
    rounds.foreach(l => assertOneShuffle(plans, l, "dst"))
  }

  test("graph loops label their jobs; pagerank rounds 0..9 are seen") {
    val prev = spark.sparkContext.getLocalProperty("spark.job.description")
    spark.sparkContext.setJobDescription("outer")
    val (labels, _) = try capture {
      PageRank.pageRank(nodes, "id", edges, "src", "dst", iters = 10)
        .collect()
    } finally {
      assert(spark.sparkContext.getLocalProperty("spark.job.description")
        == "outer", "the caller's job description must be restored")
      spark.sparkContext.setJobDescription(prev)
    }
    val rounds = labels.filter(_.startsWith("pagerank:round:"))
    assert(rounds == (0 until 10).map(t => s"pagerank:round:$t"))
    assert(labels.filterNot(_ == "outer").forall(_.startsWith("pagerank:")),
      labels.mkString(", "))
  }
}
