package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Physical-plan shape guards: the scale properties the operators were
  * designed around (broadcast small sides, no cartesian candidate
  * generation, bounded sort layers) pinned as assertions, so a future
  * refactor that silently degrades a plan fails here rather than at
  * 100 TB. Assertions are on plan-string features that survive AQE.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def series(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      (if (i % 2 == 0) "a" else "b",
        new java.sql.Timestamp(1700000000000L + i * 60000L),
        i.toDouble)
    }.toDF("series_id", "ts", "value")
  }

  test("markLabelWindows joins the fact table against a BROADCAST interval set") {
    import spark.implicits._
    val labels = Seq(("a", new java.sql.Timestamp(1700000300000L)))
      .toDF("series_id", "label_ts")
    val p = plan(SeriesOps.markLabelWindows(series(100), labels,
      "series_id", "ts", "label_ts", 3))
    assert(p.contains("Broadcast"), "interval join must broadcast")
    assert(!p.contains("CartesianProduct"), "no cartesian in J2")
  }

  test("standardScale broadcasts the per-series stats") {
    val p = plan(SeriesOps.standardScale(series(100), "series_id", "ts",
      "value", "z"))
    assert(p.contains("BroadcastHashJoin"), "stats join must broadcast")
    assert(!p.contains("SortMergeJoin"), "tiny stats side must not SMJ")
  }

  test("brute-force topK broadcasts the query side, never the corpus") {
    import spark.implicits._
    val rng = new scala.util.Random(1)
    val emb = (0L until 50L).map(i =>
      (i, Array.fill(8)(rng.nextFloat()))).toDF("vec_id", "embedding")
    val p = plan(graft.llm.Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 3), emb, "vec_id", "embedding", 3))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "non-equi pair join must broadcast the small query side")
    assert(!p.contains("CartesianProduct"), "corpus x corpus is forbidden")
  }

  test("LSH candidate join is a bucket equi-join, not a cross join") {
    import spark.implicits._
    val rng = new scala.util.Random(2)
    val emb = (0L until 50L).map(i =>
      (i, Array.fill(8)(rng.nextFloat()))).toDF("vec_id", "embedding")
    val p = plan(graft.llm.Similarity.lshPairs(emb, "vec_id", "embedding",
      planes = 16, bands = 4))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "LSH candidates must come from the (chunk, key) equi-join")
  }

  test("histogram plans two aggregates with broadcast stat/grid joins") {
    val p = plan(graft.metrics.Metrics.histogram(series(200), "series_id",
      "value", 50))
    // extrema + bucket counts are the only wide aggregations; the
    // per-series stats and the 50-row bin grid must both broadcast
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"),
      "tiny stats/grid sides must broadcast, not SMJ")
    val aggShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(aggShuffles <= 3, s"histogram grew $aggShuffles shuffles:\n$p")
  }

  test("capped LSH keeps the bucket equi-join shape") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val emb = (0L until 50L).map(i =>
      (i, Array.fill(8)(rng.nextFloat()))).toDF("vec_id", "embedding")
    val p = plan(graft.llm.Similarity.lshPairs(emb, "vec_id", "embedding",
      planes = 16, bands = 4, maxBucketSize = 10))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "bucket cap must not change the equi-join shape")
  }

  test("winnowing is map-only: no exchange, no window sort") {
    import spark.implicits._
    val docs = (0L until 20L)
      .map(i => (i, s"document number $i with some shared text payload"))
      .toDF("doc_id", "text")
    val p = plan(graft.llm.TextAnalysis.winnowing(docs, "doc_id", "text",
      8, 4))
    assert(!p.contains("Exchange"),
      s"winnowing must stay in the scan stage:\n$p")
    assert(!p.contains("Window"), "sliding min must be an array expression")
    // the quadratic trap: an inferred size()>0 filter re-deriving the
    // hash array below the projection boundary (see winnowing Scaladoc)
    assert(!p.contains("(size("),
      s"InferFiltersFromGenerate leaked a size() filter into the plan:\n$p")
  }

  test("lshPairs dedups candidates on bare id pairs (no vector payload)") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val emb = (0L until 50L).map(i =>
      (i, Array.fill(8)(rng.nextFloat()))).toDF("vec_id", "embedding")
    val p = plan(graft.llm.Similarity.lshPairs(emb, "vec_id", "embedding",
      planes = 16, bands = 4))
    // the distinct aggregate must group by the two ids alone — an
    // embedding column in its grouping key means the candidate exchange
    // is shuffling vector payloads again
    val dedupAggs = p.linesIterator.filter(l =>
      l.contains("HashAggregate") && l.contains("id_a"))
    assert(dedupAggs.nonEmpty, s"no id-pair dedup aggregate found:\n$p")
    dedupAggs.foreach { l =>
      assert(!l.contains("__v"),
        s"candidate dedup carries vector payload:\n$l")
    }
  }

  test("multi-index SimHash candidates come from a (tbl, key) equi-join") {
    import spark.implicits._
    val docs = (0L until 30L)
      .map(i => (i, s"document number $i sharing a text payload base"))
      .toDF("doc_id", "text")
    val p = plan(graft.llm.Dedup.simhashCandidatesMulti(docs, "doc_id",
      "text", maxDist = 10))
    // 66 tables notwithstanding, candidates must still be a bucket
    // equi-join — a cross join here is n² × 66 at corpus scale
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"multi-index candidates must bucket-join:\n$p")
  }

  test("signature dedup is one map-side-combined aggregate pass") {
    import spark.implicits._
    val docs = (0L until 30L)
      .map(i => (i, s"document number ${i % 7} payload"))
      .toDF("doc_id", "text")
    val keyed = docs.select(col("doc_id"), xxhash64(
      graft.streaming.StreamingDedup.rowMinhash(col("text"), 3, 16))
      .as("sig_key"))
    val df = graft.llm.Dedup.exact(keyed, "doc_id", Seq("sig_key"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // scan → signature project → partial agg → ONE exchange → final agg;
    // the shuffle carries only (sig_key, partial min/count), never text
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"sig dedup grew to $shuffles shuffles:\n$p")
    assert(!p.contains("Sort "), s"no sort belongs in a hash dedup:\n$p")
    val partials = p.linesIterator.filter(l =>
      l.contains("HashAggregate") && l.contains("partial_"))
    assert(partials.nonEmpty, s"no map-side partial aggregate:\n$p")
    partials.foreach(l => assert(!l.contains("text"),
      s"partial aggregate still carries the text column:\n$l"))
  }

  test("rolling stats plans exactly one exchange (the per-series partition)") {
    val p = plan(SeriesOps.withRollingStats(series(200), "series_id",
      "ts", "value", 48, 5, "m", "s"))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected 1 shuffle, found $shuffles:\n$p")
  }

  test("acf 50-lag aggregate stays inside whole-stage codegen") {
    // 50 lags used to emit one corr per lag = 300 Pearson buffer fields,
    // tripping spark.sql.codegen.maxFields (=100) and dropping the
    // HashAggregate to interpreted mode (round-6 q_acf 9.78s). The
    // unpivot-first form aggregates ONE guarded covariance over
    // (series, lag) groups (~11 buffer fields); codegen'd operators
    // print a `*(n)` stage prefix. The query must RUN first: with AQE
    // the pre-execution plan string shows no codegen stages at all.
    val df = SeriesOps.acf(series(300), "series_id", "ts", "value",
      (1 to 50).toSeq)
    df.collect()
    // keep only the AQE final plan: toString appends an "== Initial
    // Plan ==" section whose nodes are never codegen-annotated
    val p = plan(df).split("== Initial Plan ==")(0)
    val aggLines = p.linesIterator
      .filter(l => l.contains("HashAggregate") && l.contains("covar_samp"))
      .toSeq
    assert(aggLines.nonEmpty, s"no covariance HashAggregate found:\n$p")
    aggLines.foreach { l =>
      assert(l.trim.matches("""^[+:\-\s]*\*\(\d+\).*"""),
        s"acf aggregate fell out of whole-stage codegen:\n$l")
    }
    // the series partitioning also satisfies the (series, lag) grouping,
    // so the whole query is ONE exchange (window) + in-stage aggregation
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"acf grew to $shuffles shuffles:\n$p")
  }

  test("persisted IVF search prunes the cells scan to the probed partitions") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val rng = new scala.util.Random(11)
    val emb = (0L until 200L).map(i =>
      (i, Array.fill(8)(rng.nextFloat()))).toDF("vec_id", "embedding")
    val index = graft.llm.Similarity.ivfBuild(emb, "vec_id", "embedding",
      nList = 16, quantize = true)
    val dir = java.nio.file.Files.createTempDirectory("ivfplan").toString
    try {
      graft.llm.Similarity.writeIvf(index, dir)
      val reread = graft.llm.Similarity.readIvf(spark, dir)
      val nCells = new java.io.File(s"$dir/cells").listFiles()
        .count(_.getName.startsWith("__cell="))
      assert(nCells > 2, s"pruning test needs >2 cell partitions, got $nCells")
      val one = emb.filter(col("vec_id") === 0L)
      // cells-file scans of the EXECUTED (post-AQE) plan. AQE wraps
      // materialized stages as LEAF nodes (QueryStageExec), so a plain
      // collect stops at stage boundaries — descend into them explicitly.
      def cellScans(df: DataFrame): Seq[FileSourceScanExec] = {
        df.collect()
        def go(p: SparkPlan): Seq[FileSourceScanExec] = {
          val here = p match { case f: FileSourceScanExec => Seq(f)
                               case _ => Nil }
          val wrapped = p match {
            case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              Seq(q.plan)
            case r: org.apache.spark.sql.execution.exchange
                     .ReusedExchangeExec => Seq(r.child)
            case _ => Nil
          }
          here ++ (p.children ++ wrapped).flatMap(go)
        }
        go(df.queryExecution.executedPlan)
          .filter(_.relation.location.rootPaths
            .exists(_.toString.contains("cells")))
      }
      val fs = cellScans(graft.llm.Similarity.ivfSearch(reread, one,
        "vec_id", "embedding", 3, nProbe = 2))
      assert(fs.nonEmpty, "no cells scan in the ivfSearch plan")
      fs.foreach { f =>
        assert(f.partitionFilters.nonEmpty,
          "cells scan lost its partition filter — did partitionBy(__cell) " +
            "or pruneCells go missing?")
        assert(f.selectedPartitions.partitionCount === 2,
          s"nProbe=2 must read 2 of $nCells cell partitions, " +
            s"read ${f.selectedPartitions.partitionCount}")
      }
      val qs = cellScans(graft.llm.Similarity.ivfSearchQ8(reread, one,
        "vec_id", "embedding", 3, nProbe = 2))
      assert(qs.nonEmpty, "no cells scan in the ivfSearchQ8 plan")
      qs.foreach(f => assert(f.selectedPartitions.partitionCount === 2))
      // the coarse stage must read the byte column only — column pruning
      // keeps the 4×-larger float vectors out of its scan entirely
      val coarse = qs.filter(_.requiredSchema.fieldNames.contains("__cq"))
      assert(coarse.nonEmpty, "no coarse int8 cells scan found")
      coarse.foreach(f => assert(
        !f.requiredSchema.fieldNames.contains("__cv"),
        s"coarse scan reads floats: ${f.requiredSchema.fieldNames.toSeq}"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("persisted IVF-PQ search prunes the codes scan to the probed cells, codes only") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val rng = new scala.util.Random(19)
    val emb = (0L until 200L).map(i =>
      (i, Array.fill(8)(rng.nextFloat()))).toDF("vec_id", "embedding")
    val index = graft.llm.Pq.ivfPqBuild(emb, "vec_id", "embedding",
      nList = 16, m = 4, ksub = 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqplan").toString
    try {
      graft.llm.Pq.writeIvfPq(index, dir)
      val reread = graft.llm.Pq.readIvfPq(spark, dir)
      val nCells = new java.io.File(s"$dir/codes").listFiles()
        .count(_.getName.startsWith("__cell="))
      assert(nCells > 2, s"pruning test needs >2 cell partitions, got $nCells")
      val one = emb.filter(col("vec_id") === 0L)
      def codeScans(df: DataFrame): Seq[FileSourceScanExec] = {
        df.collect()
        def go(p: SparkPlan): Seq[FileSourceScanExec] = {
          val here = p match { case f: FileSourceScanExec => Seq(f)
                               case _ => Nil }
          val wrapped = p match {
            case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              Seq(q.plan)
            case r: org.apache.spark.sql.execution.exchange
                     .ReusedExchangeExec => Seq(r.child)
            case _ => Nil
          }
          here ++ (p.children ++ wrapped).flatMap(go)
        }
        go(df.queryExecution.executedPlan)
          .filter(_.relation.location.rootPaths
            .exists(_.toString.contains("codes")))
      }
      val fs = codeScans(graft.llm.Pq.ivfPqSearch(reread, emb, one,
        "vec_id", "embedding", 3, nProbe = 2))
      assert(fs.nonEmpty, "no codes scan in the ivfPqSearch plan")
      fs.foreach { f =>
        assert(f.partitionFilters.nonEmpty,
          "codes scan lost its partition filter — did partitionBy(__cell) " +
            "or the isin literal pruning go missing?")
        assert(f.selectedPartitions.partitionCount === 2,
          s"nProbe=2 must read 2 of $nCells cell partitions, " +
            s"read ${f.selectedPartitions.partitionCount}")
        // the coarse stage streams m bytes + the id per row — floats
        // live in the corpus table and must never enter this scan
        assert(f.requiredSchema.fieldNames.toSet === Set("corpus_id", "__code"),
          s"coarse codes scan reads ${f.requiredSchema.fieldNames.toSeq}")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("semDedup plans no cartesian/nested-loop join (cluster-keyed pairs only)") {
    val embPath = "/root/testdata/sf0.01/embeddings.parquet"
    assume(new java.io.File(embPath).exists())
    val emb = spark.read.parquet(embPath)
    val out = graft.llm.SemDedup.semDedup(emb, "vec_id", "embedding",
      k = 8, minCosine = 0.4)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "semDedup pair generation fell back to a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "semDedup pair generation fell back to a nested-loop join")
  }

  test("PQ coarse stage scans only the m-byte codes table") {
    val embPath = "/root/testdata/sf0.01/embeddings.parquet"
    assume(new java.io.File(embPath).exists())
    val emb = spark.read.parquet(embPath)
    val model = graft.llm.Pq.pqTrain(emb, "vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("pq_plan").toString
    try {
      graft.llm.Pq.writePq(model,
        graft.llm.Pq.pqEncode(model, emb, "vec_id", "embedding"), dir)
      val (m2, codes) = graft.llm.Pq.readPq(spark, dir)
      val out = graft.llm.Pq.pqSearch(m2, codes, emb,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", 3)
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
        import org.apache.spark.sql.execution._
        import org.apache.spark.sql.execution.adaptive._
        val here = p match {
          case f: FileSourceScanExec => Seq(f)
          case _ => Nil
        }
        val wrapped = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case r: org.apache.spark.sql.execution.exchange
                   .ReusedExchangeExec => Seq(r.child)
          case _ => Nil
        }
        here ++ (p.children ++ wrapped).flatMap(scans)
      }
      val codeScans = scans(out.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths
          .exists(_.toString.contains("codes")))
      assert(codeScans.nonEmpty, "no codes scan in the pqSearch plan")
      codeScans.foreach { f =>
        val fields = f.requiredSchema.fieldNames.toSet
        assert(fields === Set("corpus_id", "__code"),
          s"coarse scan must stream only the PQ codes, reads $fields")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("sampling is a shuffle-free scan-stage filter; packing is one exchange") {
    import spark.implicits._
    val docs = (0L until 100L)
      .map(i => (i, if (i % 2 == 0) "en" else "de",
        s"some text payload number $i with words"))
      .toDF("doc_id", "lang", "text")
    val ps = plan(graft.llm.Sampling.stratifiedSample(docs, "doc_id",
      "lang", Map("en" -> 1.0, "de" -> 0.5)))
    assert(!ps.contains("Exchange"),
      s"sampling must stay in the scan stage:\n$ps")
    val pp = plan(graft.llm.Sampling.packSequences(docs, "doc_id",
      size(split(col("text"), " ")), 64,
      graft.llm.Sampling.idBucket(col("doc_id"), 4)))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(pp).size
    assert(shuffles == 1,
      s"packing must shuffle once (by shard), found $shuffles:\n$pp")
    assert(!pp.contains("Exchange SinglePartition") &&
      !pp.contains("rangepartitioning"),
      s"packing must never serialize into a global sort:\n$pp")
  }

  test("upsampling explodes in the scan stage; pack slices add no extra exchange") {
    import spark.implicits._
    val docs = (0L until 100L)
      .map(i => (i, if (i % 2 == 0) "en" else "de",
        s"some text payload number $i with words"))
      .toDF("doc_id", "lang", "text")
    // upsample = literal CASE + explode(sequence) — same shuffle-free
    // scan-stage posture as the flat sampler
    val pu = plan(graft.llm.Sampling.stratifiedUpsample(docs, "doc_id",
      "lang", Map("en" -> 1.0, "de" -> 2.5)))
    assert(!pu.contains("Exchange"),
      s"upsampling must stay in the scan stage:\n$pu")
    // packSlices = packSequences' one shard window + a row-local explode:
    // exactly one hash exchange, never a global sort
    val pp = plan(graft.llm.Sampling.packSlices(docs, "doc_id",
      size(split(col("text"), " ")), 64,
      graft.llm.Sampling.idBucket(col("doc_id"), 4)))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(pp).size
    assert(shuffles == 1,
      s"pack slices must shuffle once (by shard), found $shuffles:\n$pp")
    assert(!pp.contains("Exchange SinglePartition") &&
      !pp.contains("rangepartitioning"),
      s"pack slices must never serialize into a global sort:\n$pp")
  }

  test("corpus-assembly composition shuffles twice end to end") {
    import spark.implicits._
    // quality filter + exact dedup + mixture sample + packing as one
    // job must cost: one dedup-aggregate exchange + one shard-window
    // exchange, with the keep-set joined by broadcast — the composed
    // plan a 100 TB assembly run would want
    val docs = (0L until 200L)
      .map(i => (i, if (i % 2 == 0) "en" else "de",
        ("the quick brown fox and a dog of it is in town " * (1 + (i % 3).toInt)).trim))
      .toDF("doc_id", "lang", "text")
    val scored = graft.llm.TextAnalysis.withQuality(docs, "text")
      .filter(col("quality_score") >= 0.5)
      .withColumn("__fp", md5(col("text")))
    val keep = graft.llm.Dedup.exact(scored, "doc_id", Seq("__fp"))
      .select(col("keep_id").as("doc_id"))
    val sampled = graft.llm.Sampling.stratifiedSample(
      scored.join(keep, "doc_id"), "doc_id", "lang",
      Map("en" -> 1.0, "de" -> 0.5))
    val p = plan(graft.llm.Sampling.packSequences(sampled, "doc_id",
      size(split(col("text"), " ")), 64,
      graft.llm.Sampling.idBucket(col("doc_id"), 4)))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 2,
      s"composition must shuffle exactly twice, found $shuffles:\n$p")
    assert(!p.contains("Exchange SinglePartition") &&
      !p.contains("rangepartitioning") && !p.contains("CartesianProduct"),
      s"no global serialization or cross join in the composition:\n$p")
  }

  test("decontamination joins through shingle buckets, never train x bench") {
    import spark.implicits._
    val docs = (0L until 60L)
      .map(i => (i, s"document number $i sharing a text payload base"))
      .toDF("doc_id", "text")
    val p = plan(graft.llm.Dedup.decontaminate(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"decontamination must be a shingle equi-join:\n$p")
  }

  test("decontaminateBloom probes the sketch BEFORE the join's exchange") {
    import spark.implicits._
    val docs = (0L until 60L)
      .map(i => (i, s"document number $i sharing a text payload base"))
      .toDF("doc_id", "text")
    val df = graft.llm.Dedup.decontaminateBloom(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
    val p = plan(df)
    assert(p.contains("might_contain"),
      s"bloom probe missing from the physical plan:\n$p")
    // the probe must sit under the exchange (map side), not above it.
    // The printed tree is top-down, so the probe's own subtree follows
    // it immediately: its leaf scan must appear before any further
    // Exchange — i.e. no exchange between the probe and its source.
    val probeIdx = p.indexOf("might_contain")
    val scanAfter = p.indexOf("Scan", probeIdx)
    val exchangeAfter = p.indexOf("Exchange", probeIdx)
    assert(scanAfter >= 0, s"no scan under the bloom probe:\n$p")
    assert(exchangeAfter < 0 || scanAfter < exchangeAfter,
      "bloom probe must evaluate inside the scan stage, below every " +
        s"exchange:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("spanDedup is one wide exchange keyed by the span hash + one by id") {
    import spark.implicits._
    val docs = (0L until 40L)
      .map(i => (i, (0 until 32).map(j => s"w${(i * 7 + j) % 90}")
        .mkString(" ")))
      .toDF("doc_id", "text")
    val p = plan(graft.llm.Dedup.spanDedup(docs, "doc_id", "text", 16))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 2,
      s"spanDedup must shuffle exactly twice (md5 window + doc " +
        s"reassembly), found $shuffles:\n$p")
    assert(!p.contains("Exchange SinglePartition") &&
      !p.contains("rangepartitioning"),
      s"no global serialization in spanDedup:\n$p")
  }

  test("globalOrdinal broadcasts shard offsets; no global range sort") {
    import spark.implicits._
    val docs = (0L until 200L).toDF("doc_id")
    val p = plan(graft.llm.Sampling.globalOrdinal(docs, "doc_id", 8))
    assert(p.contains("BroadcastHashJoin"),
      s"shard offsets must broadcast:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"the corpus must never range-sort globally:\n$p")
  }

  test("shuffled packing reuses the shard partitioning (no re-shuffle)") {
    import spark.implicits._
    val docs = (0L until 200L)
      .map(i => (i, s"some words for document number $i here"))
      .toDF("doc_id", "text")
    val ord = graft.llm.Sampling.globalOrdinal(docs, "doc_id", 8)
      .withColumnRenamed("shard", "__sh")
    val p = plan(graft.llm.Sampling.packSequences(ord, "pos",
      size(split(col("text"), " ")), 64, col("__sh")))
    // globalOrdinal ranks within shard; the packer windows over the
    // SAME shard attribute — Catalyst must see the partitioning as
    // satisfied, so the composition adds no exchange beyond
    // globalOrdinal's own (1 shard window + 1 tiny counts agg)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 2,
      s"shuffle+pack must reuse the shard exchange (2 total), " +
        s"found $shuffles:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"no global sort in shuffled packing:\n$p")
  }

  test("pii stats/redaction and c4 line filter are map-only scan-stage work") {
    import spark.implicits._
    val docs = (0L until 50L)
      .map(i => (i, s"line one is fine.\nshort.\nmail me a$i@b.co now."))
      .toDF("doc_id", "text")
    val pp = plan(graft.llm.TextAnalysis.piiStats(docs, "text")
      .withColumn("redacted",
        graft.llm.TextAnalysis.redactPii(col("text"))))
    assert(!pp.contains("Exchange"),
      s"pii must stay in the scan stage:\n$pp")
    val pc = plan(graft.llm.TextAnalysis.c4LineFilter(docs, "text"))
    assert(!pc.contains("Exchange"),
      s"c4 line filter must stay in the scan stage:\n$pc")
    assert(!pc.contains("Generate"),
      s"line filtering must be an array expression, not explode:\n$pc")
  }

  test("dsir plans two keyed aggregates + broadcast ratio, no gram re-explode") {
    import spark.implicits._
    val docs = (0L until 60L)
      .map(i => (i, s"token stream number $i with shared words",
        if (i % 4 == 0) "tgt" else "raw"))
      .toDF("doc_id", "text", "src")
    val p = plan(graft.llm.Sampling.dsirLogWeights(docs, "doc_id",
      "text", col("src") === "tgt", 64))
    // the corpus is gram-exploded exactly ONCE, at materialization of
    // the per-(doc,bucket) count frame; the final plan reads that
    // checkpoint — any Generate here means a consumer re-ran the
    // corpus-wide explode (the regression this pin exists to catch:
    // pre-fix, three consumers each re-derived it)
    assert(!p.contains("Generate"),
      s"a consumer re-exploded the corpus:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"ratio table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("SortMergeJoin"),
      s"per-doc scoring must join broadcast-style:\n$p")
  }

  test("corpus-assembly v2 chain: bounded exchanges, no global sort, no cartesian") {
    import spark.implicits._
    val docs = (0L until 200L)
      .map(i => (i, Seq.fill(40)(s"w${i % 13}").mkString(" "),
        if (i % 2 == 0) "en" else "de", s"src${i % 3}"))
      .toDF("doc_id", "text", "lang", "source")
    // mirror the q_corpus2 chain on in-memory data
    val lined = docs.withColumn("__lt",
      concat_ws("\n", split(col("text"), " ")))
    val cleaned = graft.llm.TextAnalysis
      .c4LineFilter(lined, "__lt", minWordsPerLine = 1)
    val scored = graft.llm.TextAnalysis.withQuality(cleaned, "clean_text")
      .select(col("doc_id"), col("lang"), col("source"),
        col("clean_text").as("ctext"),
        round(col("quality_score"), 6).as("qs"))
    val calibrated = graft.llm.Sampling.dropBottomByScore(scored,
      "doc_id", "source", col("qs"), 3, 10)
    val dd = calibrated.withColumn("__fp", md5(col("ctext")))
    val keep = graft.llm.Dedup.exact(dd, "doc_id", Seq("__fp"))
      .select(col("keep_id").as("doc_id"))
    val p = plan(graft.llm.Sampling.packSequences(dd.join(keep, "doc_id"),
      "doc_id", size(split(col("ctext"), " ")), 128,
      graft.llm.Sampling.idBucket(col("doc_id"), 8)))
    assert(!p.contains("rangepartitioning") &&
      !p.contains("Exchange SinglePartition"),
      s"no stage may serialize into a global sort:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no unkeyed join anywhere in the chain:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 4,
      s"chain must stay within calibrate+dedup+join+pack exchanges, " +
        s"found $shuffles:\n$p")
  }

  test("corpus-assembly v3: map-only NB scorer adds ZERO exchanges to the chain") {
    import spark.implicits._
    val docs = (0L until 200L)
      .map(i => (i, Seq.fill(40)(s"w${i % 13}").mkString(" "),
        if (i % 2 == 0) "en" else "de", s"src${i % 3}"))
      .toDF("doc_id", "text", "lang", "source")
    val lined = docs.withColumn("__lt",
      concat_ws("\n", split(col("text"), " ")))
    def cleaned = graft.llm.TextAnalysis
      .c4LineFilter(lined, "__lt", minWordsPerLine = 1)
      .select(col("doc_id"), col("lang"), col("source"),
        col("clean_text").as("ctext"))
    val model = graft.llm.NbQuality.collectModel(
      graft.llm.NbQuality.train(cleaned, "ctext",
        col("source") === "src0", buckets = 64))
    // the q_corpus3 chain from the scored frame down
    def tail(scored: DataFrame): DataFrame = {
      val calibrated = graft.llm.Sampling.dropBottomByScore(scored,
        "doc_id", "source", col("nbq"), 3, 10)
      val dd = graft.llm.Dedup.spanDedup(calibrated, "doc_id", "ctext",
        span = 16)
      val kept = calibrated.drop("ctext")
        .join(dd.select(col("doc_id"), col("clean_text"),
          col("n_kept")), "doc_id")
      graft.llm.Sampling.packSequences(kept, "doc_id",
        size(split(col("clean_text"), " ")), 128,
        graft.llm.Sampling.idBucket(col("doc_id"), 8))
    }
    val withScorer = plan(tail(graft.llm.NbQuality
      .withScoreMapOnly(cleaned, "ctext", model, buckets = 64)
      .select(col("doc_id"), col("lang"), col("source"), col("ctext"),
        round(col("nb_llr_mean"), 6).as("nbq"))))
    val withoutScorer = plan(tail(cleaned
      .withColumn("nbq", (col("doc_id") % 7).cast("double"))))
    def shuffles(p: String) =
      "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles(withScorer) == shuffles(withoutScorer),
      s"map-only scoring must add no exchange: with=" +
        s"${shuffles(withScorer)} without=${shuffles(withoutScorer)}")
    assert(!withScorer.contains("CartesianProduct") &&
      !withScorer.contains("BroadcastNestedLoopJoin") &&
      !withScorer.contains("rangepartitioning") &&
      !withScorer.contains("Exchange SinglePartition"),
      s"v3 chain must stay keyed and sort-free:\n$withScorer")
  }

  test("eventize stays within the per-key partitioning (no extra wide shuffles)") {
    val flagged = series(200)
      .withColumn("flag", when(col("value") % 7 === 0, 1).otherwise(0))
    val p = plan(graft.events.Events.eventize(flagged, Seq("series_id"),
      "ts", "flag", 3))
    // ordinal window + islands groupBys all hash by series_id (+ island
    // keys); none may devolve into a cartesian or broadcast of the facts
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  private def docsFrame(n: Int) = {
    import spark.implicits._
    (0L until n.toLong).map(i =>
      (i, Seq.tabulate(10)(j => s"w${(i * 7 + j * 3) % 29}")
        .mkString(" "))).toDF("doc_id", "text")
  }

  test("BM25 joins postings on the term key; corpus stats ride a 1-row broadcast") {
    val d = docsFrame(60)
    val p = plan(graft.llm.Bm25.topK(d, d.filter(col("doc_id") < 3),
      "doc_id", "doc_id", "text", k = 5))
    assert(!p.contains("CartesianProduct"),
      "query x corpus cartesian is forbidden — the inverted index IS the point")
    assert(p.contains("BroadcastExchange"),
      "the (n_docs, avgdl) stats row must broadcast")
  }

  test("hashed-cosine broadcasts the query vectors, never the corpus side") {
    val d = docsFrame(60)
    val p = plan(graft.llm.HashingTf.hashedCosineTopK(d,
      d.filter(col("doc_id") < 3), "doc_id", "text", dim = 16, k = 5))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the tiny query block rides the broadcast side of the pair join")
    assert(!p.contains("CartesianProduct"), "corpus x corpus is forbidden")
  }

  test("Theil-Sen pair explosion is a series-keyed equi-join") {
    val p = plan(graft.models.Trend.theilSenMannKendall(series(100),
      "series_id", "ts", "value"))
    assert(!p.contains("CartesianProduct"),
      "pairs must come from the sk equi-join, bounded per series")
    assert(!p.contains("rangepartitioning"),
      "no global sort anywhere in the trend plan")
  }

  test("isolation-forest scoring is one window exchange + a map pass, no join") {
    import spark.implicits._
    val df = (0L until 200L).map(i =>
      (i, if (i % 2 == 0) "a" else "b",
        new java.sql.Timestamp(1700000000000L + i * 60000L),
        (i % 13).toDouble)).toDF("event_id", "series_id", "ts", "value")
    val p = plan(graft.models.IsolationForest.score(df, "event_id",
      "series_id", "ts", "value", trees = 5, psi = 16))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1,
      s"exactly the delta-window exchange expected, found $shuffles:\n$p")
    assert(!p.contains("Join"), "scoring must not join — the forest rides the closure")
  }

  test("conformal q-hat table joins back as a broadcast, never an SMJ of facts") {
    val withResid = series(200).withColumn("resid", col("value") % 5)
    val p = plan(graft.models.Conformal.splitConformal(withResid,
      "series_id", "ts", "value", "resid"))
    assert(p.contains("BroadcastHashJoin"),
      "per-series q-hat is broadcast-sized by construction")
    assert(!p.contains("CartesianProduct"))
  }

  test("funnel is a chain of user-keyed joins — no cartesian, no global sort") {
    import spark.implicits._
    val ev = (0 until 300).map { i =>
      (s"u${i % 29}", new java.sql.Timestamp(1700000000000L + i * 60000L),
        Seq("view", "click", "purchase")(i % 3))
    }.toDF("user_id", "ts", "event_type")
    val p = plan(graft.events.Behavior.funnel(ev, "user_id", "ts",
      "event_type", Seq("view", "click", "purchase"), "7 DAYS"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("rangepartitioning"))
  }

  test("histogram-quantile sketch is two exchanges; the (group, q) min rides the group partitioning") {
    import spark.implicits._
    val df = (0 until 500).map(i => (s"g${i % 5}", (i % 97) / 10.0))
      .toDF("g", "v")
    val p = plan(Quantiles.histogramQuantiles(df, "g", "v",
      0.0, 10.0, 100, Seq(0.5, 0.99)))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 2,
      s"sketch agg + cum window only — found $shuffles exchanges:\n$p")
    assert(!p.contains("CartesianProduct"),
      "the tiny q frame must broadcast, never cartesian")
  }

  test("CMS estimate joins the sketch as a broadcast — no sort-merge of probes") {
    import spark.implicits._
    val words = (0 until 400).map(i => s"t${i % 37}").toDF("term")
    val sk = graft.llm.Cms.sketch(words, "term", 4, 128)
    val items = (0 until 10).map(i => s"t$i").toDF("term")
    val p = plan(graft.llm.Cms.estimate(sk, items, "term", 4, 128))
    assert(p.contains("BroadcastHashJoin"),
      "d*w-row sketch must broadcast to the probes")
    assert(!p.contains("SortMergeJoin"),
      "bounded sketch side must never SMJ")
  }

  test("KMV sketchOnly is ONE exchange end to end") {
    import spark.implicits._
    val df = (0 until 300).map(i => (s"g${i % 3}", s"tok_${i % 83}_x"))
      .toDF("g", "v")
    val p = plan(graft.llm.Kmv.sketchOnly(df, "g", "v", k = 16))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1,
      s"the partial kmv aggregate is the only exchange — found $shuffles:\n$p")
    assert(p.contains("partial_kmv_minima"))
  }

  test("KMV sketch leg is a partial aggregate — no (group, hash) distinct exchange") {
    import spark.implicits._
    val df = (0 until 400).map(i => (s"g${i % 3}", s"tok_${i % 97}_x"))
      .toDF("g", "v")
    val p = plan(graft.llm.Kmv.distinctSketch(df, "g", "v", k = 16))
    // map-side partial keeps ≤k minima before the exchange
    assert(p.contains("partial_kmv_minima"),
      s"sketch must pre-aggregate map-side via KmvAgg:\n$p")
    assert(p.contains("kmv_minima"), "final-mode kmv_minima missing")
    // the old formulation distinct-aggregated on (g, __h) — that
    // grouping key must never reappear (the exact_distinct reference
    // leg groups on __v only)
    assert(!"""keys=\[[^\]]*__h""".r.findFirstIn(p).isDefined,
      s"an aggregate is grouping on the hash column again:\n$p")
  }

  test("exact KS drift: strata side broadcasts, no cartesian blowup") {
    import spark.implicits._
    val df = (0 until 500).map(i => (s"s${i % 4}", (i % 37).toDouble))
      .toDF("g", "v")
    val p = plan(graft.metrics.Drift.ksDrift(df, "g", "v"))
    assert(p.contains("Broadcast"),
      "the distinct-strata grid side must broadcast")
    assert(!p.contains("CartesianProduct"),
      "strata x values must be a broadcast product, never cartesian")
  }

  test("binned drift finisher joins its bounded totals as broadcasts") {
    import spark.implicits._
    val df = (0 until 600).map(i => (s"s${i % 3}", (i % 29).toDouble))
      .toDF("g", "v")
    val p = plan(graft.metrics.Drift.binnedDrift(df, "g", "v",
      bins = 16, lo = 0.0, hi = 29.0))
    assert(p.contains("BroadcastHashJoin"),
      "bin/stratum totals are bounded relations and must broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"no SMJ anywhere in the (strata x bins)-bounded finisher:\n$p")
  }

  test("URL hygiene is map-only up to ONE domain-keyed window exchange") {
    import spark.implicits._
    val df = (1 to 300).map(i =>
      (i.toLong, s"https://h${i % 11}.dom${i % 5}.com/p$i?utm_s=1&q=$i"))
      .toDF("doc_id", "url")
    val p = plan(graft.llm.UrlHygiene.hygiene(df, "url", "doc_id",
      Seq("dom0.com"), cap = 10))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1,
      s"normalize/eTLD+1/blocklist ride the scan; only the cap " +
        s"shuffles — found $shuffles:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("topPaths top-k plans as TakeOrdered, not a global window sort") {
    import spark.implicits._
    val df = (0 until 400).map(i =>
      (i % 7L, new java.sql.Timestamp(1700000000000L + i * 60000L),
        s"t${i % 13}")).toDF("user_id", "ts", "event_type")
    val p = plan(graft.events.Behavior.topPaths(
      df, "user_id", "ts", "event_type", n = 3, k = 20))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k over the distinct-path relation must be TakeOrdered " +
        s"(per-partition heap + driver merge), not a single-partition " +
        s"window sort:\n$p")
    // the only single-partition exchange allowed is the one under the
    // post-limit rank window, which sees at most k rows by then
    val single = "Exchange SinglePartition".r.findAllIn(p).size
    assert(single <= 1, s"found $single SinglePartition exchanges:\n$p")
  }

  test("rollup is ONE Expand + one partial-agged exchange") {
    import spark.implicits._
    val df = (0 until 300).map(i =>
      (s"t${i % 5}", i.toLong % 10, i * 0.5)).toDF("t", "m", "v")
    val p = plan(df.rollup("t", "m")
      .agg(grouping_id().as("gid"), sum("v").as("s")))
    assert(p.contains("Expand"),
      "grouping sets must plan as Expand (row replication per set), " +
        "not a union of re-scans")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"one aggregate exchange expected:\n$p")
    assert(p.contains("partial_"),
      "the rollup aggregate must combine map-side like any groupBy")
  }

  test("editDistancePairs joins on the block key at BOTH broadcast " +
      "regimes (no cartesian fallback past the broadcast threshold)") {
    import spark.implicits._
    val docs = (0L until 200L).map(i =>
      (i, s"prefix-${i % 9}-" + ("body" * 20) + s" tail $i"))
      .toDF("doc_id", "text")
    def p = plan(graft.llm.Dedup.editDistancePairs(
      docs, "doc_id", "text", maxDist = 40))
    // small corpus: the emitted side broadcasts, keyed by the block
    val small = p
    assert(!small.contains("CartesianProduct") &&
      !small.contains("BroadcastNestedLoopJoin"),
      s"block join must be an equi-join:\n$small")
    assert(small.contains("__pf") && small.contains("__lb"),
      "the (prefix, len-bucket) block must be the join key")
    // corpus scale (emitted side past the broadcast threshold,
    // simulated by disabling broadcast): the SAME equi-join shape
    // must shuffle on the block key, never degrade to a nested loop
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val big = p
      assert(!big.contains("CartesianProduct") &&
        !big.contains("BroadcastNestedLoopJoin"),
        s"past the threshold the block join must shuffle, not loop:\n$big")
      assert(big.contains("SortMergeJoin") ||
        big.contains("ShuffledHashJoin"),
        s"expected a shuffled equi-join on the block key:\n$big")
      assert(big.contains("__pf") && big.contains("__lb"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("triangle counting: every join is a keyed equi-join (wedge " +
      "close included), no cartesian") {
    import spark.implicits._
    val nodes = (0L until 60L).toDF("id")
    val edges = (0L until 60L).flatMap(i =>
      Seq((i, (i + 1) % 60), (i, (i * 7 + 3) % 60))).toDF("src", "dst")
    val p = plan(graft.graph.Triangles.triangleCounts(
      nodes, "id", edges, "src", "dst"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"triangle joins must all be equi-joins:\n$p")
  }

  test("clustering coefficient computes the degree aggregate ONCE " +
      "(shared, checkpointed — not rebuilt per consumer)") {
    import spark.implicits._
    val nodes = (0L until 60L).toDF("id")
    val edges = (0L until 60L).flatMap(i =>
      Seq((i, (i + 1) % 60), (i, (i * 7 + 3) % 60))).toDF("src", "dst")
    val p = plan(graft.graph.Triangles.clusteringCoefficient(
      nodes, "id", edges, "src", "dst"))
    // the only Union left in the final plan is the 3-corner count:
    // the u/v degree union is computed once, checkpointed, and scanned
    // by both the orientation chain and the cc ratio (r14 built the
    // identical degree aggregate twice — visible as a second Union)
    val unions = "\\bUnion\\b".r.findAllIn(p).size
    assert(unions == 1,
      s"expected only the corner-count Union — the degree aggregate " +
        s"must be shared, found $unions:\n$p")
  }

  test("TPC-H Q4/Q18 shapes: semi join, aggregate-before-join, top-k") {
    val dir = "/root/testdata/sf0.001"
    val q4 = plan(graft.SparkEntry.queries("q4_priority")(spark, dir))
    assert(q4.contains("LeftSemi"),
      s"Q4's EXISTS must stay a semi join (no order duplication):\n$q4")
    assert(q4.contains("PushedFilters: [IsNotNull(o_orderdate), " +
      "GreaterThanOrEqual"),
      "the date window must reach the orders scan")
    val q18 = plan(graft.SparkEntry.queries("q18_big_orders")(spark, dir))
    assert(q18.contains("TakeOrderedAndProject"),
      s"top-10 must be TakeOrderedAndProject, not a global sort:\n$q18")
    // plan text is top-down: the quantity aggregate must print BELOW
    // the top-k operator and the joins (aggregate-before-join)
    val aggAt = q18.indexOf("HashAggregate")
    val joinAt = q18.indexOf("Join")
    assert(aggAt > joinAt && joinAt > 0,
      s"the HAVING aggregate must sit under the join:\n$q18")
  }

  test("TPC-H Q21 shape: same-fact SEMI + ANTI with the non-equi " +
      "residuals inside the join conditions") {
    val dir = "/root/testdata/sf0.001"
    val p = plan(graft.SparkEntry.queries("q21_waiting")(spark, dir))
    assert(p.contains("LeftSemi"),
      s"the EXISTS probe must stay a semi join (no fact duplication):\n$p")
    assert(p.contains("LeftAnti"),
      s"the NOT EXISTS probe must stay an anti join:\n$p")
    // the other-supplier tests ride INSIDE the join conditions — a
    // residual pushed to a post-join filter would mean the fact
    // duplicated through an inner join first
    assert(p.contains("NOT (l2_sk") && p.contains("NOT (l3_sk"),
      s"suppkey residuals must sit inside the semi/anti conditions:\n$p")
    assert(!p.contains("Window"),
      s"no row_number workaround — the semi/anti pair IS the shape:\n$p")
  }

  test("TPC-H Q17 shape: part dim AND the decorrelated per-part " +
      "threshold aggregate both join back BROADCAST") {
    val dir = "/root/testdata/sf0.001"
    val p = plan(graft.SparkEntry.queries("q17_small_qty")(spark, dir))
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 2,
      s"expected 2 broadcast joins (part filter + threshold agg), " +
        s"got $bhj:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the threshold compare must ride INSIDE the keyed join:\n$p")
    // the decorrelated aggregate sits UNDER the probe join (plan text
    // is top-down: the final global agg prints first, the threshold
    // agg below the joins)
    val lastAgg = p.lastIndexOf("HashAggregate")
    val firstJoin = p.indexOf("BroadcastHashJoin")
    assert(firstJoin > 0 && lastAgg > firstJoin,
      s"per-part threshold aggregate must sit under the probe join:\n$p")
  }

  test("TPC-H Q13 shape: the priority residual stays inside the OUTER " +
      "join (pushed to the orders scan), never a post-join filter") {
    val dir = "/root/testdata/sf0.001"
    val p = plan(graft.SparkEntry.queries("q13_cust_dist")(spark, dir))
    assert(p.contains("LeftOuter"),
      s"match-less customers must survive to bucket 0:\n$p")
    // loose match on the pushed-filter rendering: the exact
    // Not(EqualTo(...)) string is a Catalyst-version detail; what the
    // pin protects is that o_orderpriority appears among PushedFilters
    // at all (i.e. the residual reached the scan)
    assert("PushedFilters: \\[[^\\]]*o_orderpriority".r
        .findFirstIn(p).isDefined,
      s"the ON-clause residual must reach the orders parquet scan " +
        s"as a pushed filter:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in Q13:\n$p")
  }

  test("TPC-H Q2 shape: the decorrelated per-part MIN sits under the " +
      "min-equality probe join, every dim side broadcasts") {
    val dir = "/root/testdata/sf0.001"
    val p = plan(graft.SparkEntry.queries("q2_min_cost")(spark, dir))
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 4,
      s"part filter, supplier dims, min join-back and name join-back " +
        s"must all broadcast, got $bhj:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the min-equality compare must ride INSIDE a keyed join:\n$p")
    // the correlated "min over the region's suppliers" aggregate is
    // decorrelated: it prints BELOW the probe join that consumes it
    val lastAgg = p.lastIndexOf("HashAggregate")
    val firstJoin = p.indexOf("BroadcastHashJoin")
    assert(firstJoin > 0 && lastAgg > firstJoin,
      s"decorrelated per-part MIN must sit under the probe join:\n$p")
  }

  test("TPC-H Q20 shape: semi-over-aggregate-over-fact — the probe " +
      "set broadcasts into a LeftSemi, date window reaches the scan") {
    val dir = "/root/testdata/sf0.001"
    val p = plan(graft.SparkEntry.queries("q20_excess_stock")(spark, dir))
    assert(p.contains("LeftSemi"),
      s"EXISTS must stay a semi join:\n$p")
    assert("BroadcastHashJoin.*LeftSemi".r.findFirstIn(p).isDefined,
      s"the aggregate-sized excess set must broadcast into the semi:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no unkeyed join anywhere in Q20:\n$p")
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(p).isDefined,
      s"the 1997 date window must reach the lineitem parquet scan:\n$p")
  }

  test("TPC-H Q11 shape: the grand total REUSES the per-part " +
      "aggregate's exchange at runtime — the fact map stage runs once") {
    val dir = "/root/testdata/sf0.001"
    val df = graft.SparkEntry.queries("q11_important_stock")(spark, dir)
    // the self-reference (psv joined with agg-of-psv) duplicates the
    // subtree in the STATIC plan; the one-pass property is an AQE
    // runtime fact (ReusedExchange on the psv shuffle), so execute
    // and pin the final adaptive plan
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"),
      s"probe must have executed:\n$full")
    // the executed toString carries BOTH the final and the initial
    // plan; pin the final section only
    val p = full.split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange"),
      s"the total's branch must reuse the per-part aggregate's " +
        s"shuffle, not rescan the fact:\n$p")
    // the 1-row total joins back as a broadcast NLJ (no key), and the
    // share compare is a residual on it — never a cartesian
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1 &&
      !p.contains("CartesianProduct"),
      s"exactly the 1-row total may join keyless:\n$p")
  }

  test("TPC-H Q16 shape: distinct pair aggregate, broadcast anti on " +
      "the blacklist, distinct count per attribute group") {
    val dir = "/root/testdata/sf0.001"
    val p = plan(graft.SparkEntry.queries("q16_supplier_cnt")(spark, dir))
    assert(p.contains("LeftAnti"),
      s"NOT IN must stay an anti join:\n$p")
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(p).isDefined,
      s"the blacklist is dim-derived and must broadcast into the anti:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no unkeyed join anywhere in Q16:\n$p")
  }

  test("TPC-H Q9 shape: hybrid skew join — plain + salted branches " +
      "union, hot-key set detected once and broadcast, salt on the " +
      "join key") {
    val dir = "/root/testdata/sf0.001"
    val p = plan(graft.SparkEntry.queries("q9_product_profit")(spark, dir))
    assert(p.contains("Union"),
      s"the hybrid must union the plain and salted branches:\n$p")
    assert(p.contains("__salt"),
      s"the hot branch must join on (key, salt):\n$p")
    assert("__n#\\d+L? > 40".r.findFirstIn(p).isDefined,
      s"hot-key detection (count > threshold) must be in the plan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"salt replication must ride a broadcast, never a cartesian:\n$p")
    assert(p.contains("StringContains(p_name,blue)"),
      s"the part-name filter must reach the part scan:\n$p")
  }

  test("TPC-H Q19 shape: OR-of-ANDs brackets partially pushed — the " +
      "per-side relaxations reach BOTH scans, residual rides the " +
      "broadcast join") {
    val dir = "/root/testdata/sf0.001"
    val p = plan(graft.SparkEntry.queries("q19_brackets")(spark, dir))
    // lineitem side: the quantity-bracket disjunction is pushed
    assert("PushedFilters: \\[[^\\]]*Or\\(Or\\(And\\(GreaterThanOrEqual\\(l_quantity"
        .r.findFirstIn(p).isDefined,
      s"the OR of quantity brackets must reach the lineitem scan as " +
        s"a pushed Or-filter:\n$p")
    // part side: the brand/size disjunction is pushed
    assert("PushedFilters: \\[[^\\]]*p_brand".r.findFirstIn(p).isDefined,
      s"the brand/size disjunction must reach the part scan:\n$p")
    // the full cross-side residual evaluates inside the broadcast join
    assert("BroadcastHashJoin.*p_brand".r.findFirstIn(p).isDefined,
      s"the residual OR must ride the broadcast join, not a " +
        s"post-join filter stage:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the bracket predicate must never degrade the join to an " +
        s"unkeyed form:\n$p")
  }

  test("TPC-H Q15 shape: the 1-row MAX reuses the per-supplier " +
      "revenue aggregate's exchange — the fact map stage runs once") {
    val dir = "/root/testdata/sf0.001"
    val df = graft.SparkEntry.queries("q15_top_supplier")(spark, dir)
    // exchange reuse is an AQE runtime fact: execute, pin the final plan
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"),
      s"probe must have executed:\n$full")
    val p = full.split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange"),
      s"the MAX branch must reuse the revenue aggregate's shuffle, " +
        s"not rescan the fact (the explicit l_suppkey isNotNull in " +
        s"the query keeps both subtrees byte-identical):\n$p")
    // max join-back and supplier dim both broadcast; argmax equality
    // is a keyed join (ties ride it for free)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"max join-back and supplier dim must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the max-equality compare must ride a keyed join:\n$p")
  }

  test("multi-distinct aggregate plans ONE Expand over ONE events " +
      "scan — never a shuffle per distinct column") {
    val dir = "/root/testdata/sf0.001"
    val p = plan(graft.SparkEntry.queries("q_multi_distinct")(spark, dir))
    val expands = "Expand".r.findAllIn(p).size
    assert(expands == 1, s"expected exactly 1 Expand, got $expands:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected exactly 1 events scan, got $scans:\n$p")
    val ex = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(ex <= 2,
      s"two distinct columns + plain aggs must cost at most 2 " +
        s"exchanges (expand+regroup), got $ex:\n$p")
  }

  test("TPC-H Q22 shape: one-row scalar threshold broadcasts, " +
      "no-orders probe stays an anti join") {
    val dir = "/root/testdata/sf0.001"
    val p = plan(graft.SparkEntry.queries("q22_idle_balance")(spark, dir))
    assert(p.contains("LeftAnti"),
      s"NOT EXISTS must stay an anti join:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj == 1,
      s"exactly the 1-row threshold cross join may be a broadcast " +
        s"NLJ, got $bnlj:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the scalar join must broadcast, never cartesian:\n$p")
  }

  test("interval join is a keyed equi-join with the range residual " +
      "inside — never a cartesian or nested-loop pair join") {
    val dir = "/root/testdata/sf0.001"
    val p = plan(graft.SparkEntry.queries("q_ijoin")(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the user_id equality must key the join, range as residual:\n$p")
    assert(p.contains("Join"), s"expected a join in the plan:\n$p")
  }

  test("TPC-H Q7 shape: nation IN-filter pushed to the dim scans, " +
      "disjunctive pair condition reduced to a cheap residual") {
    val dir = "/root/testdata/sf0.001"
    val p = plan(graft.SparkEntry.queries("q7_nation_trade")(spark, dir))
    assert(p.contains("In(n_nationkey"),
      s"the per-side relaxation must reach the nation scans:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"every join must stay keyed:\n$p")
  }

  test("gridResample densifies WITHOUT joining the grid back against " +
      "the fact: union + one window, zero joins") {
    import spark.implicits._
    val df = (0 until 200).map(i =>
      ("s" + (i % 3), new java.sql.Timestamp(1700000000000L + i * 900000L),
        i.toDouble)).toDF("sid", "ts", "v")
    val p = plan(SeriesOps.gridResample(df, "sid", "ts", "v"))
    assert(!p.contains("Join"),
      s"ffill must ride the union's sort key, not a grid-vs-fact " +
        s"join:\n$p")
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 1, s"expected exactly one window pass, " +
      s"got $windows:\n$p")
  }

  test("set ops compile to keyed anti/semi joins under a distinct " +
      "aggregate — never a cartesian") {
    val dir = "/root/testdata/sf0.001"
    val ex = plan(graft.SparkEntry.queries("q_except")(spark, dir))
    assert(ex.contains("LeftAnti"),
      s"EXCEPT must plan as an anti join:\n$ex")
    assert(ex.contains("HashAggregate"),
      s"EXCEPT is DISTINCT set semantics — expected the dedup " +
        s"aggregate:\n$ex")
    val in = plan(graft.SparkEntry.queries("q_intersect")(spark, dir))
    assert(in.contains("LeftSemi"),
      s"INTERSECT must plan as a semi join:\n$in")
    assert(!ex.contains("CartesianProduct") &&
      !in.contains("CartesianProduct"), "no cartesian in set ops")
  }

  test("TPC-H Q10 shape: returnflag pushed to the lineitem scan, " +
      "top-20 via TakeOrderedAndProject") {
    val dir = "/root/testdata/sf0.001"
    val p = plan(graft.SparkEntry.queries("q10_returned")(spark, dir))
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag must reach the lineitem parquet scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrderedAndProject, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in Q10:\n$p")
  }

  test("q_rank_users: ties EXIST in the ordering data, so rank and " +
      "dense_rank are genuinely distinguished (guards the fixture)") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("q_rank_users")(spark, dir)
      .select("rnk", "drnk").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.exists { case (r, d) => r != d },
      "no tie in n_events at sf0.001 — the rank/dense_rank pin is " +
        "vacuous; pick a coarser ranking key")
  }

  test("MMR re-rank: bounded per-query group state, no cartesian") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val emb = (0L until 60L).map(i =>
      (i, Array.fill(8)(rng.nextFloat()))).toDF("vec_id", "embedding")
    val p = plan(graft.llm.Similarity.mmrTopK(
      emb.filter(col("vec_id") < 3), emb, "vec_id", "embedding",
      k = 4, candidates = 10, lambda = 0.7))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must broadcast the query side")
    assert(!p.contains("CartesianProduct"),
      "corpus x corpus is forbidden in the MMR chain")
    assert(p.contains("MapGroups"),
      "the greedy loop runs per query over the bounded candidate set")
  }
}
