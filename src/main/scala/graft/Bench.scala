package graft

import scala.util.control.NonFatal

/** Benchmark main: runs registered queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Each query is fully materialized through the
  * built-in `noop` datasource (every column computed and consumed — a
  * bare `.count()` would let Catalyst prune the projections away).
  * Failures are reported per-query as -1 with an error marker instead of
  * being silently folded into the total.
  *
  * Coverage + stability: with no args, EVERY registered query runs
  * (headline family order first, the rest alphabetically). Each query
  * gets ONE UNTIMED WARMUP run (the suite-level warmup does not warm
  * per-query codegen/broadcasts, and a contended cold run must never
  * become the recorded number — round 5's 49 s q_ngram_jaccard artifact),
  * then SPARK_GRAFT_REPS timed runs (default 3) with the MEDIAN reported.
  * A first timed run exceeding SPARK_GRAFT_HEAVY_SEC (default 20 s — the
  * per-series model MLEs) is re-run once and the MIN of the two kept, so
  * a single contention spike cannot masquerade as a regression; deviating
  * rep counts are recorded in the per-query `reps` map.
  *
  * Cross-rep outlier rejection: host contention can hit any LATER rep
  * just as easily as the first (round 7: q_sweep's reps 2-3 ran ~100 s
  * under mid-run contention vs 6 s quiet, and the MEDIAN recorded a
  * phantom 16× regression). Contention only ever inflates a wall time,
  * so when max/min across a query's timed reps exceeds 3× the MIN is the
  * trustworthy statistic: it is kept, and the query lands in `flagged`
  * with its [min, max] so the record shows both the number and the
  * evidence of contention. The machine's 1-min loadavg is sampled before
  * the run into `contended` AND after it into `load_end` — mid-run
  * contention is visible even when the host was quiet at launch. Args select a subset by name.
  *
  * Scale probe: `Bench q1 q2 …` once per scale dir (SPARK_GRAFT_SF_DIR
  * set to each) gives per-query warm medians under the one bench session
  * (`core.Session`, SPARK_GRAFT_CPUS cores, default all).
  */
object Bench {

  /** Fixed cross-round ANCHOR set (r14 protocol; r15 adds a PRE-sweep
    * block): ten stable, plan-deterministic queries spanning scan /
    * window / join / agg / pair-join shapes, measured solo (GC fence,
    * warmup, min-of-3) BEFORE the main sweep (`anchors_pre`) and again
    * after it (`anchors`) — the pair brackets intra-run host drift,
    * which the r15 record showed can spread a single block 0.74–1.33.
    * Anchor times at record time let the next round's judge normalize
    * HOST DRIFT out of cross-round totals (r13's 10–35% drift
    * adjudication was honest but unfalsifiable after the fact): the
    * anchor queries' code never changes within a round pair, so their
    * ratio is the host factor. Min-of-3 because a drift REFERENCE
    * wants the contention-least-sensitive statistic. Do not edit this
    * list without resetting the cross-round comparison. */
  val anchors: Seq[String] = Seq(
    "q1_pricing", "q5_region_revenue", "q_rolling", "q_acf",
    "q_eventize", "q_sweep", "q_minhash", "q_quality",
    "q_cosine_topk", "q_event_metrics")

  /** HEAVY anchor set (new in r17, measured into `anchors_heavy_pre` /
    * `anchors_heavy` alongside the classic blocks — the classic list
    * itself is never edited, per its contract). The r17 drift
    * adjudication found the classic anchors structurally blind to the
    * dimension that actually moved r15→r16: they are 1-3 stage
    * scan/window/join shapes, while the +26 s regression mass sat in
    * MANY-stage CPU/allocation-heavy queries (iterative models, pair
    * generators, multi-pass rankers) whose per-stage fixed costs the
    * classic set never samples. These three are mid-weight, plan-
    * deterministic members of exactly that family; their solo ratio
    * across rounds is the host factor FOR THAT FAMILY. */
  val anchorsHeavy: Seq[String] = Seq(
    "q_kmeans", "q_bm25", "q_dedup_resolve")

  /** Headline subset: one per operator family, heaviest first. */
  val headline: Seq[String] = Seq(
    "q1_pricing", "q_join_agg", "q_rolling", "q_stl_lite", "q_sweep",
    "q_eventize", "q_event_metrics", "q_label_windows", "q_mad",
    "q_dedup_exact", "q_text_stats", "q_topk_orders",
    "q_kalman", "q_bocpd", "q_hybrid",
    "q_minhash", "q_ngram_jaccard", "q_dedup_resolve", "q_simhash",
    "q_cosine_topk",
    "q_ann_lsh", "q_ann_ivf", "q_embed_neardup", "q_quality", "q_langid",
    "q5_region_revenue", "q_kmeans", "q_session", "q_qq", "q_bsts")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val heavySec = sys.env.getOrElse("SPARK_GRAFT_HEAVY_SEC", "20").toDouble
    val spark = graft.core.Session()
    spark.sparkContext.setLogLevel("WARN")
    val names =
      if (args.nonEmpty) args.toSeq.filter(SparkEntry.queries.contains)
      else headline.filter(SparkEntry.queries.contains) ++
        SparkEntry.queries.keys.filterNot(headline.contains).toSeq.sorted
    // untimed warmup: absorb JVM/JIT/codegen startup so the first timed
    // query measures steady-state execution, not session bring-up.
    // r16 (anchors3): the PRE anchor block runs closest to JVM start,
    // and the r15 record showed the ramp leaking into it (q1_pricing
    // pre 0.445 vs post 0.214 — JIT tiering, not host drift). The
    // warmup now drives a fixed ramp set covering the anchor shapes
    // (scan+agg, window, sort, join) twice each, so pre-vs-post anchor
    // disagreement brackets HOST DRIFT alone.
    val ramp = Seq("q_join_agg", "q_backfill", "q_topk_orders",
      "q1_pricing")
    for (_ <- 1 to 2; name <- ramp if SparkEntry.queries.contains(name)) {
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      } catch { case NonFatal(_) => () }
    }
    val errors = scala.collection.mutable.ListBuffer[String]()
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case NonFatal(e) =>
          errors += s"$name: ${e.getClass.getSimpleName}"
          -1.0
      }
    }
    // loadavg sampled BEFORE the run: a contended host inflates every
    // number, and the judge needs to see that in the record itself
    def loadavg(): String = try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0) finally src.close()
    } catch { case NonFatal(_) => "-1" }
    val loadStart = loadavg()
    // r15 protocol: anchors are measured BEFORE the sweep as well as
    // after. The r15 record showed why one block is not enough: its
    // post-sweep anchor ratios spread 0.74-1.33 because host load
    // climbed DURING the run, and a single block cannot distinguish
    // "the host drifted between rounds" from "the host drifted inside
    // this run". The pre/post pair brackets intra-run drift: agreeing
    // blocks = a trustworthy host factor; disagreeing blocks = the
    // record itself says which half to trust.
    def anchorBlock(list: Seq[String]): Seq[(String, Double)] =
      if (args.nonEmpty) Seq.empty
      else list.filter(SparkEntry.queries.contains).map { name =>
        System.gc()
        once(name) // warmup
        val times = Seq.fill(3)(once(name)).filter(_ >= 0)
        name -> (if (times.isEmpty) -1.0 else times.min)
      }
    val anchorsPre = anchorBlock(anchors)
    val anchorsHeavyPre = anchorBlock(anchorsHeavy)
    // queries whose reps spread >3×: (min, max, statistic reported) —
    // contention evidence, recorded instead of silently laundered into
    // the median; the tag says which statistic the headline time used
    val flagged =
      scala.collection.mutable.LinkedHashMap[String, (Double, Double, String)]()
    def minOrMedian(name: String, times: Seq[Double]): Double = {
      val mn = times.min
      val med = times.sorted.apply(times.size / 2)
      if (mn > 0 && med / mn > 3.0) {
        // MOST reps are slow: a real bimodal/slow path, not a spike —
        // the median is the honest statistic; one fast rep must not
        // launder a consistent regression into the headline total
        flagged += name -> ((mn, times.max, "median"))
        med
      } else if (mn > 0 && times.max / mn > 3.0) {
        flagged += name -> ((mn, times.max, "min"))
        mn // contention only inflates — the min is the honest statistic
      } else med
    }
    // r17 (anchors4): ONE in-sweep anchor — q_rolling, also in both
    // solo blocks — re-measured at the sweep's 25/50/75% marks with the
    // anchor discipline (GC fence, warmup, min-of-3). The solo pre/post
    // blocks bracket HOST drift but are structurally blind to session
    // aging DURING the sweep (the r16 lesson: five late-alphabet
    // queries climbed monotonically across three records while the
    // anchors moved the other way); the mid marks make intra-sweep
    // aging a measured quantity instead of an inference.
    val midAnchor = "q_rolling"
    // mark → label map (toMap keeps the LAST pair per duplicate index,
    // so a tiny sweep where n/4 == n/2 still fires exactly once with a
    // well-defined label — the old indexOf(idx) form silently skipped
    // the later marks on collision)
    val midMarks: Map[Int, String] = Seq(
      names.size / 4 -> "p25", names.size / 2 -> "p50",
      3 * names.size / 4 -> "p75").toMap
    val anchorsMid = scala.collection.mutable.LinkedHashMap[String, Double]()
    def midAnchorAt(label: String): Unit =
      if (args.isEmpty && SparkEntry.queries.contains(midAnchor)) {
        System.gc()
        once(midAnchor) // warmup
        val times = Seq.fill(3)(once(midAnchor)).filter(_ >= 0)
        anchorsMid += label -> (if (times.isEmpty) -1.0 else times.min)
      }
    val results = names.zipWithIndex.map { case (name, idx) =>
      midMarks.get(idx).foreach(midAnchorAt)
      // full-GC fence between queries: heavy MLlib/MLE neighbors leave
      // enough young-gen debris to inflate the next query's median 3-6×
      // (r4: q_pointwise 4.0 s in-suite vs 0.6 s isolated), so pay the
      // collection OUTSIDE the timed region
      System.gc()
      once(name) // untimed per-query warmup (codegen, broadcasts, page cache)
      val first = once(name)
      val (value, n) =
        if (first < 0) (first, 1)
        else if (first > heavySec) {
          // genuinely heavy OR a contention spike: one retry, keep the
          // MIN always (a 2-element "median" would be the max), flag
          // when the two reps spread past the outlier threshold
          val second = once(name)
          if (second < 0) (first, 1)
          else {
            val mn = math.min(first, second)
            val mx = math.max(first, second)
            if (mn > 0 && mx / mn > 3.0) flagged += name -> ((mn, mx, "min"))
            (mn, 2)
          }
        } else {
          val times = first +: Seq.fill(reps - 1)(once(name)).filter(_ >= 0)
          (minOrMedian(name, times), times.size)
        }
      (name, value, n)
    }
    // anchor re-measures (full runs only — a subset run is a dev
    // iteration, not a record): solo min-of-3 per anchor at record
    // time, the next round's host-drift normalizer
    val anchorTimes: Seq[(String, Double)] = anchorBlock(anchors)
    val anchorsHeavyPost = anchorBlock(anchorsHeavy)
    val loadEnd = loadavg()
    // keep the line SHORT: the driver captures only a tail of stdout, so a
    // verbose line gets clipped mid-JSON and parses as null (round 4).
    // 3-decimal times, and reps only where a query deviated from the default.
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON.
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val rp = results.collect { case (k, _, n) if n != reps => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    val errs = errors.distinct.map(e => "\"" + e.replace("\"", "'") + "\"")
      .mkString("[", ",", "]")
    val fl = flagged.map { case (k, (mn, mx, stat)) =>
      "\"" + k + "\":[" + r3(mn) + "," + r3(mx) + ",\"" + stat + "\"]"
    }.mkString("{", ",", "}")
    // `reps` stays the configured int (the rounds-1..5 meaning); per-query
    // deviations live in `reps_dev`, and `protocol` names the measurement
    // scheme so cross-round consumers know r6+ numbers are warm medians
    // while r1-5 were cold medians — not an apples-to-apples series.
    // r9+: a `flagged` query reports the MEDIAN when median/min > 3× (most
    // reps slow — a real slow regime) and the MIN otherwise (one inflated
    // rep — contention); r10+ each flagged entry is [min, max, stat] where
    // `stat` names the statistic its headline time used.
    val anc = anchorTimes.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val ancPre = anchorsPre.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // anchors_mid: the in-sweep q_rolling marks — compare against its
    // pre/post solo values; a mid value climbing while pre≈post says
    // SESSION AGING, not host drift
    val ancMid = anchorsMid.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    def ancJson(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
    val ancH = ancJson(anchorsHeavyPost)
    val ancHPre = ancJson(anchorsHeavyPre)
    // `order` and `hygiene` are constants since the r17 position and
    // session-aging experiments settled; they stay so older records
    // still compare key for key
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"reps":$reps,"reps_dev":$rp,"flagged":$fl,"anchors_pre":$ancPre,"anchors_heavy_pre":$ancHPre,"anchors_mid":$ancMid,"anchors":$anc,"anchors_heavy":$ancH,"protocol":"warmup-minmedian-anchors4-r17","order":"default","hygiene":true,"errors":$errs,"contended":$loadStart,"load_end":$loadEnd,"sf":"$sfDir"}"""
    println(line)
    // sidecar copy (VERDICT r18 item 2): the driver captures only a TAIL
    // of stdout, and r17's one-line JSON was front-truncated in that
    // capture (parsed: null → no official round-over-round comparison).
    // The file survives any stdout clipping; failures to write it must
    // never fail the bench itself.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_last.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case NonFatal(_) => () }
    spark.stop()
  }
}
