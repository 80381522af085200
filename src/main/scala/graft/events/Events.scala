package graft.events

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.SeriesOps

/** Event-level operators: gaps-and-islands run collapsing (W7),
  * persistence filtering (W8), and interval-overlap joins (J3/J4).
  *
  * Semantics from the reference's `src/evaluate.py`:
  *  - runs of 1-flags collapse to inclusive (start,end) index events;
  *    two events merge iff `start - prev_end <= gap + 1` (evaluate.py:57);
  *  - persistence zeroes runs shorter than p (evaluate.py:125-146);
  *  - events overlap iff NOT (pred_end < true_start OR pred_start >
  *    true_end) (evaluate.py:78).
  *
  * Everything is window + groupBy — no driver-side loops, so it scales
  * with the number of series; event tables are tiny relative to points.
  * All operators take `keys: Seq[String]` so the threshold sweep can
  * partition by (series, k) with the same code path.
  */
object Events {

  /** W7: collapse consecutive flag=1 runs per key-group into events,
    * bridging runs separated by <= gap zeros. Output:
    * (keys..., event_id, start_rn, end_rn, start_ts, end_ts, n_points).
    *
    * `rnCol`: pass the name of a row-ordinal column ONLY if it was built
    * over the same (keys, ts) ordering; by default a fresh ordinal is
    * computed so a stale caller `rn` can never corrupt the islands.
    */
  def eventize(df: DataFrame, keys: Seq[String], ts: String, flag: String,
               gap: Int, rnCol: Option[String] = None): DataFrame = {
    val (withRn, rn) = rnCol match {
      case Some(c) => (df, c)
      case None => (SeriesOps.withRowNumberKeys(df, keys, ts, "__ern"), "__ern")
    }
    val kcols = keys.map(col)
    val flagged = withRn.filter(col(flag) === 1)
    val wf = Window.partitionBy(kcols: _*).orderBy(rn)
    // consecutive rns share (rn - row_number) — the classic islands key
    val runs = flagged
      .withColumn("__isl", col(rn) - row_number().over(wf))
      .groupBy(kcols :+ col("__isl"): _*)
      .agg(min(rn).as("start_rn"), max(rn).as("end_rn"),
        min(ts).as("start_ts"), max(ts).as("end_ts"))
    // second islands pass over the (small) run set: bridge gaps
    val we = Window.partitionBy(kcols: _*).orderBy("start_rn")
    val bridged = runs
      .withColumn("__new",
        when(col("start_rn") - lag("end_rn", 1).over(we) <= gap + 1, 0)
          .otherwise(1))
      .withColumn("__grp", sum("__new").over(
        we.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(kcols :+ col("__grp"): _*)
      .agg(min("start_rn").as("start_rn"), max("end_rn").as("end_rn"),
        min("start_ts").as("start_ts"), max("end_ts").as("end_ts"))
    bridged
      .withColumn("event_id",
        row_number().over(Window.partitionBy(kcols: _*).orderBy("start_rn")))
      .select(kcols ++ Seq(col("event_id"), col("start_rn"), col("end_rn"),
        col("start_ts"), col("end_ts"),
        (col("end_rn") - col("start_rn") + 1).as("n_points")): _*)
  }

  /** W8: persistence filter — zero out 1-runs shorter than p rows.
    * Stays fully windowed (no join back): run length is a count over the
    * islands key, broadcast to every member row by a second window.
    */
  def persistFilter(df: DataFrame, keys: Seq[String], ts: String, flag: String,
                    p: Int, out: String,
                    rnCol: Option[String] = None): DataFrame = {
    val (withRn, rn) = rnCol match {
      case Some(c) => (df, c)
      case None => (SeriesOps.withRowNumberKeys(df, keys, ts, "__prn"), "__prn")
    }
    val kf = keys.map(col) :+ col(flag)
    val wf = Window.partitionBy(kf: _*).orderBy(rn)
    // materialize the islands key first — a window function cannot appear
    // inside another window's partitionBy
    val runLen = count(lit(1)).over(Window.partitionBy(kf :+ col("__pisl"): _*))
    val res = withRn
      .withColumn("__pisl", col(rn) - row_number().over(wf))
      .withColumn(out, when(col(flag) === 1 && runLen >= p, 1).otherwise(0))
      .drop("__pisl")
    if (rnCol.isEmpty) res.drop(rn) else res
  }

  /** J3: event-level confusion via interval-overlap joins.
    * Precision counts predicted events that overlap ANY true event
    * (pred-side TP); recall counts true events overlapped by ANY
    * prediction (true-side TP) — the asymmetry documented at
    * evaluate.py:83-109. Inputs are eventize() outputs.
    * Output: one row per key-group with tp/fp/fn/precision/recall/f1 and
    * event counts. `eps` matches the reference's 1e-9 guards.
    */
  def eventLevelMetrics(pred: DataFrame, truth: DataFrame, keys: Seq[String],
                        eps: Double = 1e-9): DataFrame = {
    val (p, t, on) = overlapSides(pred, truth, keys)
    def countBy(df: DataFrame, side: String, out: String): DataFrame =
      df.groupBy(unsided(side, keys): _*).agg(count(lit(1)).as(out))
    val nPred = countBy(p, "p", "n_pred_events")
    val nTrue = countBy(t, "t", "n_true_events")
    val tpP = countBy(p.join(t, on, "left_semi"), "p", "tp")
    val tpT = countBy(t.join(p, on, "left_semi"), "t", "tp_true")
    val allKeys = nPred.select(keys.map(col): _*)
      .unionByName(nTrue.select(keys.map(col): _*)).distinct()
    allKeys
      .join(nPred, keys, "left").join(nTrue, keys, "left")
      .join(tpP, keys, "left").join(tpT, keys, "left")
      .na.fill(0, Seq("n_pred_events", "n_true_events", "tp", "tp_true"))
      .select(keys.map(col) ++ Seq(
        col("tp"), (col("n_pred_events") - col("tp")).as("fp"),
        (col("n_true_events") - col("tp_true")).as("fn"),
        col("n_pred_events"), col("n_true_events"),
        (col("tp") / (col("n_pred_events") + lit(eps))).as("precision"),
        (col("tp_true") / (col("n_true_events") + lit(eps))).as("recall")): _*)
      .withColumn("f1",
        lit(2) * col("precision") * col("recall") /
          (col("precision") + col("recall") + lit(eps)))
  }

  /** J4: per true event, minutes from true start to the EARLIEST
    * overlapping predicted event's start (negative = early detection,
    * evaluate.py:189-198). One row per detected true event.
    */
  def detectionLatency(pred: DataFrame, truth: DataFrame, keys: Seq[String]
                      ): DataFrame = {
    val (p, t, on) = overlapSides(pred, truth, keys,
      predExtra = Seq(col("start_ts").as("__pst")),
      truthExtra = Seq(col("start_ts").as("__tst")))
    t.join(p, on, "inner")
      .groupBy(unsided("t", keys) :+ col("__ts").as("true_start_rn") :+
        col("__tst"): _*)
      .agg(min("__pst").as("first_pred_ts"))
      .withColumn("latency_minutes",
        (unix_micros(col("first_pred_ts")) - unix_micros(col("__tst")))
          / lit(60e6))
      .withColumnRenamed("__tst", "true_start_ts")
  }

  /** The one interval-overlap rule of the event metrics, the latency
    * and the business false positives: events overlap iff NOT
    * (pred_end < true_start OR pred_start > true_end) (evaluate.py:78).
    * Returns the pred side as (`__p_<key>`..., `__ps`, `__pe`, extras),
    * the truth side as (`__t_<key>`..., `__ts`, `__te`, extras) and the
    * join condition (same keys, overlapping [start_rn, end_rn]); each
    * caller picks its own join type. */
  private[graft] def overlapSides(pred: DataFrame, truth: DataFrame,
                                  keys: Seq[String],
                                  predExtra: Seq[Column] = Nil,
                                  truthExtra: Seq[Column] = Nil)
      : (DataFrame, DataFrame, Column) = {
    def side(df: DataFrame, s: String, extra: Seq[Column]): DataFrame =
      df.select(keys.map(k => col(k).as(s"__${s}_$k")) ++
        Seq(col("start_rn").as(s"__${s}s"), col("end_rn").as(s"__${s}e")) ++
        extra: _*)
    val keyEq = keys.map(k => col(s"__p_$k") === col(s"__t_$k")).reduce(_ && _)
    val overlap = col("__ps") <= col("__te") && col("__pe") >= col("__ts")
    (side(pred, "p", predExtra), side(truth, "t", truthExtra),
      keyEq && overlap)
  }

  /** The key columns of [[overlapSides]]' side `s` ("p" or "t") under
    * their own names again. */
  private[graft] def unsided(s: String, keys: Seq[String]): Seq[Column] =
    keys.map(k => col(s"__${s}_$k").as(k))
}
