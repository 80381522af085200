package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the session shape. The long-session store caps (the r17
  * session-aging fix) must cover exactly the four unbounded-growth
  * stores, every cap must be strictly below Spark's default (otherwise
  * the "cap" is a no-op), and apply() must hand every pair to the
  * builder. `core.Session` must carry the base, tuning and hygiene confs,
  * and must be the only place the engine builds a session, so Bench,
  * Verify, QueryProfile and the test suite all run one shape.
  */
class SessionHygieneSpec extends AnyFunSuite {

  // Spark 4 defaults for the capped stores (StatusConf / SQLConf)
  private val sparkDefaults = Map(
    "spark.ui.retainedJobs" -> 1000,
    "spark.ui.retainedStages" -> 1000,
    "spark.ui.retainedTasks" -> 100000,
    "spark.sql.ui.retainedExecutions" -> 1000)

  test("caps cover exactly the four growth stores, each below default") {
    assert(SessionHygiene.conf.keySet == sparkDefaults.keySet)
    SessionHygiene.conf.foreach { case (k, v) =>
      assert(v.toInt > 0 && v.toInt < sparkDefaults(k),
        s"$k=$v must be a real cap (0 < cap < default ${sparkDefaults(k)})")
    }
  }

  test("apply() hands every cap to the builder") {
    // the builder exposes no getter; verify via the private options
    // map. Spark versions move the field between Builder and its
    // SparkSessionBuilder superclass, so walk the hierarchy instead of
    // hard-coding one location (a fixed getSuperclass breaks silently
    // with NoSuchFieldException on the other layout).
    val b = SessionHygiene(SparkSession.builder())
    val f = Iterator.iterate[Class[_]](b.getClass)(_.getSuperclass)
      .takeWhile(_ != null)
      .flatMap(c => scala.util.Try(c.getDeclaredField("options")).toOption)
      .nextOption()
      .getOrElse(fail("no 'options' field anywhere in the builder " +
        "class hierarchy — Spark renamed it; update this probe"))
    f.setAccessible(true)
    val opts = f.get(b).asInstanceOf[
      scala.collection.mutable.HashMap[String, String]]
    SessionHygiene.conf.foreach { case (k, v) =>
      assert(opts.get(k).contains(v), s"builder lost $k")
    }
  }

  test("Session(2) carries the base, tuning and hygiene confs") {
    val conf = Session(2).sparkContext.getConf
    val want = Session.base(2) ++ EngineTuning.conf ++ SessionHygiene.conf
    want.foreach { case (k, v) =>
      assert(conf.getOption(k).contains(v), s"session lost $k=$v")
    }
    assert(Session.base(2)("spark.master") == "local[2]")
    // a static conf: only the running memory manager shows it took hold
    assert(org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes == (1L << 20))
  }

  test("Session(2) resolves every native function with no registration call") {
    // GraftExtensions arrives through `spark.sql.extensions`, so a fresh
    // sibling session (its own function registry) resolves all five
    val fresh = Session(2).newSession()
    Seq("vec_dot", "pq_codes", "bloom_agg", "bloom_might_contain",
      "kmv_minima").foreach { f =>
      assert(fresh.catalog.functionExists(f), s"$f does not resolve")
    }
    assert(fresh.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").head()
      .getDouble(0) == 11.0)
  }

  test("the coalescing floor the engine no longer sets is Spark's 1 MiB") {
    // EngineTuning dropped its minPartitionSize entry because "1m" was
    // the stock value; a Spark upgrade that moves the default shows here
    val spark = Session(2)
    assert(!EngineTuning.conf.keySet.exists(_.contains("minPartitionSize")))
    assert(spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      == 1024L * 1024L)
  }

  test("SparkSession.builder is called only by core.Session") {
    // the test-side call is this spec's builder-level test, which reads
    // the options a builder holds before any session exists
    def calls(dir: String): Seq[String] = {
      val root = java.nio.file.Paths.get(dir)
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(f => java.nio.file.Files.readString(f)
          .contains("SparkSession.builder"))
        .map(root.relativize(_).toString.replace('\\', '/')).toSeq.sorted
      finally files.close()
    }
    assert(calls("src/main/scala") == Seq("graft/core/Session.scala"))
    assert(calls("src/test/scala") == Seq("graft/core/SessionHygieneSpec.scala"))
  }
}
