package graft.core

import org.apache.spark.sql.{Column, Dataset, Encoder, KeyValueGroupedDataset}

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
  * caller's group function is partitioning-independent (each sorts its
  * group on an ordinal/timestamp before folding — the house
  * bit-determinism convention).
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
  def pin[T](ds: Dataset[T], keys: Seq[String]): Dataset[T] = {
    import org.apache.spark.sql.functions.col
    ds.repartition(pinnedPartitions(ds), keys.map(col): _*)
  }

  /** Column-keyed grouping WITHOUT a repartition — for inputs already
    * pinned on `key` (via [[pin]] upstream): the grouping rides the
    * existing partitioning with zero additional exchange, unlike
    * `groupByKey(lambda)` whose AppendColumns key forces one. */
  def keyed[K: Encoder, T: Encoder](ds: Dataset[T], key: Column)
      : KeyValueGroupedDataset[K, T] =
    ds.groupBy(key).as[K, T]
}
