package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic-by-construction distributed k-means (Lloyd's).
  *
  * MLlib's KMeans merges float partials in shuffle-arrival order, so
  * two runs of the same job can land on last-ulp-different centroids —
  * and a centroid ulp flips discrete cluster assignments, which is why
  * `q_kmeans`/`q_ann_ivf` ran `no_oracle` through round 7. Here every
  * float reduction has a FIXED structure, so the fit is bit-identical
  * for any partitioning, executor count, or scheduling order:
  *
  *  - INIT: k-means++ on the driver over a deterministic pseudo-random
  *    sample (the `sampleSize` smallest `xxhash64(ord)` rows, ties by
  *    `ord`), seeded RNG.
  *  - ASSIGN: nearest centroid as a codegen'd column expression —
  *    `argmin_i (c_i·c_i − 2·v·c_i)` over literal centroids (the v·v
  *    term cancels in the argmin; [[graft.functions.VecDot]] runs the
  *    dot product as a primitive loop). Ties break to the lower
  *    cluster id via the (score, id) struct sort.
  *  - UPDATE: per-cluster sums reduce in a two-level tree with fixed
  *    shape: rows hash into `buckets` partition-layout-independent
  *    buckets, each bucket folds ITS rows in (hash, id) order, and
  *    the ≤ buckets×k partials merge on the driver in bucket order.
  *    Scales like any map-side-combined aggregate (bucket count
  *    bounds both task memory and the driver merge), with none of the
  *    arrival-order nondeterminism.
  *  - The bucketed+sorted frame is built with ONE shuffle and cached;
  *    every Lloyd round is then a map-only pass (assignment runs as a
  *    plain JVM loop over the broadcast centroids — same arithmetic
  *    order as `assignExpr`, so the two paths agree) plus a
  *    buckets×k-row collect. MLlib-shaped cost per round, without
  *    MLlib's arrival-order merges.
  *  - Fixed `maxIter` rounds, no tolerance early-exit (a tol check on
  *    nondeterministic floats would make the ROUND COUNT data-racy);
  *    empty clusters keep their previous centroid.
  *
  * This closes the last `no_oracle` rows: q_kmeans, q_ann_ivf and
  * q_ann_ivf_q8 are fixture-oracle-checked from round 8 on.
  */
object DetKMeans {

  // public: Catalyst's generated (de)serializers instantiate these
  case class KmRow(bucket: Int, hash: Long, ord: Long, vec: Seq[Double])
  case class KmPartial(bucket: Int, cluster: Int, n: Long,
                       sum: Seq[Double])

  case class Model(centroids: Array[Array[Double]]) {

    private def vecDot(a: Column, b: Column): Column =
      call_function("vec_dot", a, b)

    /** Nearest-centroid index for a (double-array) vector column. */
    def assignExpr(vec: Column): Column = {
      val scored = centroids.zipWithIndex.map { case (c, i) =>
        val cc = c.map(x => x * x).sum
        struct((lit(cc) - lit(2.0) * vecDot(vec, typedlit(c.toSeq)))
          .as("s"), lit(i).as("i"))
      }
      element_at(array_sort(array(scored.toIndexedSeq: _*)), 1)
        .getField("i")
    }

    /** Squared distance of `vec` to ITS assigned centroid. */
    def dist2Expr(vec: Column, cluster: Column): Column = {
      val vv = vecDot(vec, vec)
      centroids.zipWithIndex.map { case (c, i) =>
        val cc = c.map(x => x * x).sum
        (i, vv - lit(2.0) * vecDot(vec, typedlit(c.toSeq)) + lit(cc))
      }.foldLeft(lit(Double.NaN)) { case (acc, (i, e)) =>
        when(cluster === i, e).otherwise(acc)
      }
    }
  }

  /** Fit on `df`: `vec` an `array<double>` column, `ord` a unique
    * numeric row id (any stable key works — it only fixes fold order;
    * residual hash-ties break on vector content). */
  def fit(df: DataFrame, vec: String, ord: String, k: Int,
          maxIter: Int = 10, seed: Long = 42L, buckets: Int = 64,
          sampleSize: Int = 4096): Model = {
    require(k > 0 && maxIter > 0 && buckets > 0)
    val spark = df.sparkSession
    import spark.implicits._
    // ONE shuffle: bucket by id hash, sort within partitions to the
    // content-determined total order every later fold follows. Cached —
    // each Lloyd round below is a map-only pass over this frame.
    val parted = df.select(
        pmod(xxhash64(col(ord)), lit(buckets)).cast("int").as("bucket"),
        xxhash64(lit(1L), col(ord)).as("hash"),
        col(ord).cast("long").as("ord"),
        col(vec).cast("array<double>").as("vec"))
      .repartition(buckets, col("bucket"))
      .sortWithinPartitions(col("bucket"), col("hash"), col("ord"),
        col("vec"))
      .as[KmRow]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ---- init: k-means++ on a deterministic pseudo-random sample ----
      val sample = parted.orderBy(col("hash"), col("ord"), col("vec"))
        .limit(sampleSize)
        .select("vec").collect().map(_.getSeq[Double](0).toArray)
      require(sample.nonEmpty, "cannot fit k-means on an empty frame")
      val rng = new scala.util.Random(seed)
      val centers = scala.collection.mutable.ArrayBuffer(sample(0))
      while (centers.length < k) {
        val d2 = sample.map { x => centers.map(c => sqDist(x, c)).min }
        val total = d2.sum
        val next =
          if (total <= 0) sample(rng.nextInt(sample.length))
          else {
            var r = rng.nextDouble() * total
            var i = 0
            while (i < d2.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
            sample(i)
          }
        centers += next
      }
      var model = Model(centers.toArray)
      // ---- Lloyd rounds: map-only assign+fold, driver merge ----
      var it = 0
      while (it < maxIter) {
        val bc = spark.sparkContext.broadcast(model.centroids)
        val partials = parted.mapPartitions { rows =>
          // rows arrive in the cached (bucket, hash, ord, vec) order
          val cents = bc.value
          val kk = cents.length
          val ccs = cents.map(c => c.map(x => x * x).sum)
          val out = scala.collection.mutable.ArrayBuffer[KmPartial]()
          var curBucket = -1
          var sums: Array[Array[Double]] = null
          var counts: Array[Long] = null
          def flush(): Unit = if (curBucket >= 0) {
            var c = 0
            while (c < kk) {
              if (counts(c) > 0)
                out += KmPartial(curBucket, c, counts(c), sums(c).toSeq)
              c += 1
            }
          }
          rows.foreach { r =>
            if (r.bucket != curBucket) {
              flush()
              curBucket = r.bucket
              sums = Array.fill(kk)(new Array[Double](r.vec.length))
              counts = new Array[Long](kk)
            }
            val v = r.vec
            // same arithmetic as assignExpr: argmin_i (c·c − 2·v·c),
            // ascending dot, ties to the lower cluster id
            var best = 0
            var bestS = Double.PositiveInfinity
            var c = 0
            while (c < kk) {
              val cent = cents(c)
              var dot = 0.0
              var i = 0
              while (i < cent.length) { dot += v(i) * cent(i); i += 1 }
              val s = ccs(c) - 2.0 * dot
              if (s < bestS) { bestS = s; best = c }
              c += 1
            }
            val tgt = sums(best)
            var i = 0
            while (i < tgt.length) { tgt(i) += v(i); i += 1 }
            counts(best) += 1
          }
          flush()
          out.iterator
        }.collect().sortBy(p => (p.cluster, p.bucket))
        bc.destroy()
        val next = model.centroids.map(_.clone())
        var c = 0
        while (c < k) {
          val mine = partials.filter(_.cluster == c) // bucket-ordered
          if (mine.nonEmpty) {
            val dim = mine(0).sum.length
            val acc = new Array[Double](dim)
            var n = 0L
            mine.foreach { p => // driver merge in bucket order
              var d = 0
              while (d < dim) { acc(d) += p.sum(d); d += 1 }
              n += p.n
            }
            var d = 0
            while (d < dim) { acc(d) /= n; d += 1 }
            next(c) = acc
          } // empty cluster keeps its previous centroid
          c += 1
        }
        model = Model(next)
        it += 1
      }
      model
    } finally parted.unpersist()
  }

  case class MomRow(bucket: Int, hash: Long, ord: Long, vec: Seq[Double])
  case class MomPartial(bucket: Int, n: Long, sum: Seq[Double],
                        sq: Seq[Double])

  /** Deterministic per-dimension (count, sum, sum-of-squares) of a
    * vector column — the same fixed-shape two-level reduction as the
    * Lloyd update, for callers that need standardization stats whose
    * last ulp does not depend on shuffle arrival order (an ulp in a
    * scale factor flips discrete assignments downstream).
    *
    * Same streaming shape as [[fit]]: ONE shuffle into bucket-hashed,
    * content-sorted partitions, then a constant-memory per-partition
    * fold — no bucket is ever materialized as an in-task Array, so a
    * bucket's row count bounds nothing (the fold state is one
    * (sum, sq) pair of `dim` doubles per OPEN bucket, i.e. one). */
  def moments(df: DataFrame, vec: String, ord: String, buckets: Int = 64)
      : (Long, Array[Double], Array[Double]) = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(
        pmod(xxhash64(col(ord)), lit(buckets)).cast("int").as("bucket"),
        xxhash64(lit(1L), col(ord)).as("hash"),
        col(ord).cast("long").as("ord"),
        col(vec).cast("array<double>").as("vec"))
      .repartition(buckets, col("bucket"))
      .sortWithinPartitions(col("bucket"), col("hash"), col("ord"),
        col("vec"))
      .as[MomRow]
    val partials = rows.mapPartitions { it =>
      // rows arrive in (bucket, hash, ord, vec) order: fold each
      // bucket's rows in that content-determined order, emit on change
      val out = scala.collection.mutable.ArrayBuffer[MomPartial]()
      var curBucket = -1
      var n = 0L
      var s: Array[Double] = null
      var q: Array[Double] = null
      def flush(): Unit =
        if (curBucket >= 0) out += MomPartial(curBucket, n, s.toSeq, q.toSeq)
      it.foreach { r =>
        if (r.bucket != curBucket) {
          flush()
          curBucket = r.bucket
          n = 0L
          s = new Array[Double](r.vec.length)
          q = new Array[Double](r.vec.length)
        }
        var d = 0
        while (d < r.vec.length) {
          val v = r.vec(d); s(d) += v; q(d) += v * v; d += 1
        }
        n += 1
      }
      flush()
      out.iterator
    }.collect().sortBy(_.bucket)
    require(partials.nonEmpty, "moments of an empty frame")
    val dim = partials(0).sum.length
    val s = new Array[Double](dim)
    val q = new Array[Double](dim)
    var n = 0L
    partials.foreach { p => // driver merge in bucket order
      var d = 0
      while (d < dim) { s(d) += p.sum(d); q(d) += p.sq(d); d += 1 }
      n += p.n
    }
    (n, s, q)
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

}
