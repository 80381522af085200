package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The house float-fold convention, in ONE place: any float fold whose
  * value is oracle-checked must run in a TOTAL order, because unordered
  * partial aggregation makes the result partition-dependent (IEEE
  * addition is not associative). Every ordered fold in the engine goes
  * through this object: a group's `(ord, v)` pairs are collected, sorted
  * ascending by `ord` and then `v`, and folded left. The per-series
  * kernels get the same order from [[Grouped.series]].
  */
object Folds {

  /** The group's `(ord, v)` structs, sorted ascending (`ord` first). */
  private def sorted(ord: Column, v: Column): Column =
    sort_array(collect_list(struct(ord, v.as("__v"))))

  /** The group's `v` values in ascending (`ord`, `v`) order — for folds
    * other than a sum (a struct recursion, a string join). */
  def inOrder(ord: Column, v: Column): Column =
    transform(sorted(ord, v), s => s.getField("__v"))

  /** Σ over `v` in ascending (`ord`, `v`) order, left fold from 0.0 —
    * mirror in DuckDB as
    * `list_reduce(list_prepend(0.0, list_transform(
    *    list(v ORDER BY ord), x -> x)), (a, b) -> a + b)`. */
  def orderedSum(ord: Column, v: Column): Column =
    aggregate(sorted(ord, v), lit(0.0), (a, x) => a + x.getField("__v"))

  /** Mean and standard deviation (divisor n − `ddof`) of the double
    * array `xs`, in its order: the mean is a left-fold sum over n, then
    * the std folds the squared deviations from it (two passes; the
    * mean rides the second fold's zero, so it is evaluated once). NULLs
    * are skipped, and an empty array or n ≤ `ddof` gives NULL, as
    * `avg` / `stddev_samp` / `stddev_pop` do. Pass `xs` as a column
    * (e.g. an [[inOrder]] result aliased in the aggregate), not the
    * fold itself, or each use re-sorts it. */
  def meanStd(xs: Column, ddof: Int): (Column, Column) = {
    val ys = filter(xs, _.isNotNull)
    val n = size(ys).cast("double")
    val mean = when(n > 0, aggregate(ys, lit(0.0), (a, x) => a + x) / n)
    val ss = aggregate(ys, struct(lit(0.0).as("s"), mean.as("m")),
      (acc, x) => {
        val d = x - acc.getField("m")
        struct((acc.getField("s") + d * d).as("s"), acc.getField("m").as("m"))
      },
      acc => acc.getField("s"))
    (mean, when(n > ddof, sqrt(ss / (n - ddof))))
  }
}
