package graft.tools

/** Regenerates the committed sf0.01 fixture parquet used as oracles for
  * model queries whose math is not SQL-expressible (see
  * `fixtures/README.md`). Run after any INTENTIONAL behavior change to a
  * fixture-oracled operator:
  *
  *   sbt "Test/runMain graft.tools.GenFixtures"
  *
  * Only queries with fully deterministic plans belong here (mapGroups
  * per-series recursions, pure column expressions, fixed-shape
  * reductions). As of r8 that is EVERY registered model query: q_ar
  * joined when its ridge fit became a per-series in-order
  * normal-equations solve, and q_kmeans/q_ann_ivf/q_ann_ivf_q8 when
  * DetKMeans replaced MLlib's arrival-order float merges.
  */
object GenFixtures {
  val names: Seq[String] = Seq("q_ar", "q_kmeans", "q_ann_ivf",
    "q_ann_ivf_q8", "q_bocpd", "q_cp_flags", "q_kalman",
    "q_ci_flags", "q_bsts", "q_bsts_dummy", "q_gp",
    "q_stl_exact", "q_hybrid", "q_minhash", "q_simhash", "q_simhash_multi",
    "q_sig_dedup", "q_langid",
    "q_bpe_merges", "q_bpe_tokens", "q_shesd", "q_holtwinters",
    "q_ewma", "q_cusum", "q_iforest", "q_pelt", "q_spectral",
    "q_unigram", "q_unigram_tokens", "q_ensemble3",
    "q_matrix_profile", "q_dtw", "q_ensemble2", "q_stem",
    "q_winnow", "q_containment", "q_multimodal", "q_mm_resize",
    "q_mm_decode", "q_mm_video",
    "q_ann_lsh", "q_ann_q8", "q_ann_pq", "q_ann_ivfpq", "q_embed_neardup",
    "q_semdedup")

  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = "/root/testdata/sf0.01"
    val outRoot = "/root/repo/fixtures/sf0.01"
    val which = if (args.nonEmpty) args.toSeq else names
    for (q <- which) {
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      df.coalesce(1).write.mode("overwrite")
        .parquet(s"$outRoot/$q.parquet")
      println(s"[fixtures] wrote $q")
    }
    spark.stop()
  }
}
