package graft.tools

import org.apache.spark.sql.functions._

/** Generates a scaled-up slice of the driver testdata for scale-proof
  * benchmarking (VERDICT r8 item 1): every 100×-scale claim rests on
  * plan shapes pinned at sf0.1, so this tool tiles
  * documents/embeddings/events by `factor` (default 10×, "sf1") into a
  * scratch dir and `Bench` is then pointed at both dirs to measure
  * per-query scaling.
  *
  * The tiling is ID-DISJOINT and CONTENT-DISJOINT by construction:
  *
  *  - documents: replica r offsets doc_id by r·N and suffixes EVERY
  *    word with `x<r>` (replica 0 keeps the original text). Suffixing
  *    every word makes replica shingle sets pairwise disjoint, so
  *    near-dup/candidate-pair density grows exactly linearly — naive
  *    replication would instead make every doc a cross-replica clone
  *    and blow pair counts up quadratically, measuring an artifact
  *    rather than scaling. n_chars is recomputed from the new text.
  *  - embeddings: vec_id offset; replica r applies a deterministic
  *    ORTHOGONAL transform (cyclic dimension rotation by 13·r plus a
  *    replica-keyed sign pattern). Orthogonality preserves every
  *    intra-replica dot product bit-for-bit — the workload's geometry
  *    is untouched — while cross-replica cosines become pseudo-random
  *    (far below near-dup thresholds). A naive constant nudge keeps
  *    cross-replica copies at cosine ≈ 1, gifting every vector nine
  *    true near-dups: pair output then grows quadratically and the
  *    bench measures that artifact, not the engine (observed 374× on
  *    q_embed_neardup before this fix).
  *  - events: user_id/event_id offset per replica — per-series work
  *    (STL/GP/BSTS/Kalman) scales in SERIES COUNT, the axis a 100 TB
  *    corpus actually grows along. `ts` is read nanos-as-long and
  *    written as the same BIGINT nanos, so `SparkEntry.ev`'s
  *    `ts DIV 1000` path reads the scaled dir identically.
  *
  *   sbt "Test/runMain graft.tools.GenScale [src] [out] [factor]"
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.Session()
    spark.sparkContext.setLogLevel("ERROR")
    val reps = broadcast(spark.range(factor).select(col("id").as("__r")))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nDocs = docs.agg(max("doc_id")).head().getLong(0) + 1
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("__r") * nDocs).as("doc_id"),
        when(col("__r") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1x"), col("__r").cast("string")))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
    println(s"[scale] documents x$factor")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val nVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    // rotate dims by 13·r (13 coprime to 64 → full orbit) and flip the
    // sign where (src_dim·(r+1)) mod 3 == 0: both maps are orthogonal,
    // so within a replica all dot products — hence all cosines, cluster
    // structure, and ANN difficulty — are EXACTLY the original's
    emb.crossJoin(reps)
      .select(
        (col("vec_id") + col("__r") * nVec).as("vec_id"),
        when(col("__r") === 0, col("embedding")).otherwise(
          transform(sequence(lit(0), lit(dim - 1)), d => {
            val srcIdx = pmod(d + col("__r") * 13, lit(dim))
            val x = element_at(col("embedding"), (srcIdx + 1).cast("int"))
            when(pmod(srcIdx * (col("__r") + 1), lit(3)) === 0, -x)
              .otherwise(x).cast("float")
          })).as("embedding"),
        col("label"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")
    println(s"[scale] embeddings x$factor")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$src/events.parquet")
    val nUser = ev.agg(max("user_id")).head().getLong(0) + 1
    val nEvent = ev.agg(max("event_id")).head().getLong(0) + 1
    ev.crossJoin(reps)
      .select(
        (col("event_id") + col("__r") * nEvent).as("event_id"),
        col("ts"), // BIGINT nanos in and out — ev()'s DIV 1000 still applies
        (col("user_id") + col("__r") * nUser).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(2).write.mode("overwrite")
      .parquet(s"$out/events.parquet")
    println(s"[scale] events x$factor")

    // copy the TPC-H-style tables through UNSCALED so the full query
    // surface runs against the out dir (their queries then measure ~1×
    // and are excluded from scaling ratios — see BENCH_SCALE.md)
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")) {
      spark.read.parquet(s"$src/$t.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scale] $t copied (unscaled)")
    }
    spark.stop()
  }
}
