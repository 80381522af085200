package graft.core

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.functions.col

/** Pinned-parallelism per-key grouping for CPU-dominated `mapGroups` /
  * `flatMapGroups` / `cogroup` model fits (guide §2: right-size
  * post-shuffle parallelism WHERE it is needed, not with a session-wide
  * conf).
  *
  * The problem (measured r18, adjudicated r19): a per-series model fit
  * shuffles a few MB of (key, ts, value) rows and then burns seconds of
  * CPU per group. AQE's partition coalescing sizes the post-shuffle
  * partition count from SHUFFLE BYTES — `max(bytes/parallelism,
  * minPartitionSize)` with a 1 MB floor — so the 1.8 MB events shuffle
  * feeding a 1500-series GP/BSTS/STL fit coalesced to 2 partitions and
  * ran the whole MLE on two cores. r18 fixed that with a session-wide
  * `minPartitionSize=256k` (core/EngineTuning), which restored the model
  * family 2-6x but ALSO multiplied task counts in every tiny shuffle of
  * every many-stage query: at 32 cores under host contention the driver
  * measured q_sweep_curve 2.5 -> 19.8 s, q_retrieval_eval 2.1 -> 11.6 s
  * (bimodal: min reps near pre-opt, medians 5-10x — a fragility tax, not
  * a constant one; absent at 8 cores). VERDICT r18 #1 directed: move the
  * parallelism fix to the starved operators and return the session floor
  * to stock.
  *
  * The fix: an EXPLICIT `repartition(n, key)` whose shuffle origin
  * (`REPARTITION_BY_NUM`) AQE never coalesces, followed by
  * `groupBy(key).as[K, T]` — the COLUMN-keyed form of `groupByKey`.
  * Unlike `groupByKey(lambda)` (whose `AppendColumns` key is a new
  * attribute the repartitioned distribution cannot satisfy, so
  * EnsureRequirements would add a second, coalescible exchange), the
  * column-keyed grouping is satisfied by the pinned hash partitioning:
  * one exchange total, exactly `n` CPU-parallel partitions into the
  * model fit regardless of shuffle bytes.
  *
  * `n` = max(spark.sql.shuffle.partitions, defaultParallelism): the
  * stock pre-AQE partition count, floored by the core count — on the
  * bench session (`shuffle.partitions` = cores) this is the core count;
  * on a production cluster it is whatever parallelism the user already
  * sized shuffles to. Scale-adaptive by construction, no tuning knob.
  *
  * Semantics: group membership and the key value are identical to
  * `groupByKey`; only the row-to-partition assignment changes, and every
  * caller's group function is partitioning-independent: it puts its
  * group in a total order before folding floats (the house
  * bit-determinism convention). For a (series, ts, value) fit that
  * order is stated once, in [[series]]: the per-series kernels take
  * their points from it already sorted, and the streaming operators
  * sort each micro-batch with the same [[pointOrder]].
  */
object Grouped {

  /** Stock shuffle parallelism, never below the core count. */
  def pinnedPartitions(ds: Dataset[_]): Int = {
    val sess = ds.sparkSession
    val conf = sess.conf.getOption("spark.sql.shuffle.partitions")
      .flatMap(_.toIntOption).getOrElse(0)
    math.max(conf, sess.sparkContext.defaultParallelism)
  }

  /** `ds.groupByKey(row => key(row))` with pinned parallelism: one
    * AQE-proof exchange on `key`, `pinnedPartitions` partitions into the
    * group function. `key` must be a column of `ds` and `K` its type. */
  def pinned[K: Encoder, T: Encoder](ds: Dataset[T], key: Column)
      : KeyValueGroupedDataset[K, T] =
    ds.repartition(pinnedPartitions(ds), key).groupBy(key).as[K, T]

  /** Pin a frame's partitioning on `keys` — the explicit, AQE-proof form
    * of the exchange the next key-clustered operator (window, groupBy,
    * equi-join, column-keyed mapGroups) would otherwise insert and AQE
    * would coalesce by bytes. Use at the START of a per-key operator
    * chain: every downstream op clustered on the same keys rides this
    * one exchange (EnsureRequirements adds sorts only), so the whole
    * chain — including CPU-heavy window evaluation and pair-join
    * explosions whose INPUT bytes are tiny — keeps full parallelism.
    * Float-safety: only use where downstream per-key computation is
    * partitioning-independent (ordered windows under the unique-(key,
    * ts) contract, exact medians/integer sums, internally-sorted group
    * folds) — never to feed an UNORDERED float aggregation whose
    * partial-sum grouping the partition layout would change. */
  def pin[T](ds: Dataset[T], keys: Seq[String]): Dataset[T] =
    ds.repartition(pinnedPartitions(ds), keys.map(col): _*)

  /** `ts` ascending at full (microsecond) precision, NULL first — the
    * order `row_number() OVER (PARTITION BY series ORDER BY ts)` gives. */
  val tsOrder: Ordering[Timestamp] = new Ordering[Timestamp] {
    def compare(a: Timestamp, b: Timestamp): Int =
      if (a eq null) { if (b eq null) 0 else -1 }
      else if (b eq null) 1
      else a.compareTo(b)
  }

  /** The one order a series is folded in: [[tsOrder]], then `value`, so
    * duplicate timestamps fold the same way on every run. */
  val pointOrder: Ordering[(Timestamp, Double)] =
    Ordering.Tuple2(tsOrder, Ordering.Double.TotalOrdering)

  /** The per-series kernel entry: `series` cast to string, `ts` to
    * timestamp and `value` to double, grouped through the [[pinned]]
    * exchange (one `REPARTITION_BY_NUM`, no window), each group sorted
    * in [[pointOrder]] and handed to `fit` as arrays. */
  def series[O: Encoder](df: DataFrame, series: String, ts: String,
                         value: String)(
      fit: (String, Array[Timestamp], Array[Double]) => Iterator[O])
      : Dataset[O] = {
    import df.sparkSession.implicits._
    val typed = df.select(col(series).cast("string").as("sk"),
        col(ts).cast("timestamp").as("ts"),
        col(value).cast("double").as("value"))
      .as[(String, Timestamp, Double)]
    pinned[String, (String, Timestamp, Double)](typed, col("sk"))
      .flatMapGroups { (sk, it) =>
        val pts = it.map(r => (r._2, r._3)).toArray.sorted(pointOrder)
        fit(sk, pts.map(_._1), pts.map(_._2))
      }
  }
}
