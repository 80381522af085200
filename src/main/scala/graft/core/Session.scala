package graft.core

import org.apache.spark.sql.SparkSession

/** The one session shape of the engine: every main (Bench, Verify,
  * BenchmarkRunner, QueryProfile), the dev tools and the test suite get
  * their session here, so a profile, a bench record and a test all run
  * under the same confs.
  *
  * Base confs: `local[cpus]`, `cpus` shuffle partitions, UTC session
  * time zone, UI off; then [[EngineTuning]] and [[SessionHygiene]]. Both
  * are static-conf bundles applied on the builder. `getOrCreate()` hands
  * back an already-running session unchanged, so the first caller in a
  * JVM fixes the shape.
  */
object Session {

  /** The base confs every session carries, before tuning and hygiene. */
  def base(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** Core count for mains: `SPARK_GRAFT_CPUS` when set, else every core
    * of the host. A value that is not a positive integer fails here,
    * before any session starts. */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw
        new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS=$v must be a positive integer"))
  }

  def apply(cpus: Int = envCpus): SparkSession = {
    require(cpus > 0, s"cpus=$cpus must be positive")
    val b = base(cpus).foldLeft(SparkSession.builder()) {
      case (bb, (k, v)) => bb.config(k, v)
    }
    SessionHygiene(EngineTuning(b)).getOrCreate()
  }
}
