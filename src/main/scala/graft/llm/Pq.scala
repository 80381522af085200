package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.models.DetKMeans

/** Product quantization (PQ) — the FAISS `IndexPQ` compression tier
  * (Jégou, Douze, Schmid: "Product Quantization for Nearest Neighbor
  * Search", PAMI 2011), built entirely from public structure.
  *
  * The embedding is cut into `m` subspaces; each subspace gets its own
  * `ksub`-centroid codebook (deterministic k-means —
  * [[graft.models.DetKMeans]]), and a vector is stored as `m` BYTES
  * (its per-subspace nearest-codeword indices). At dim 64 / float32
  * the default m=16 is a 16× compression of the scanned column — the
  * difference between "the coarse scan streams 100 TB" and "it
  * streams 6 TB". Defaults (m=16 four-dim subspaces, ksub=64) are
  * tuned for DIFFUSE corpora like the driver embeddings (true
  * neighbors at cosine 0.26-0.40): measured recall 0.93 at
  * oversample 8 vs 0.6 for m=8/ksub=16 — on a corpus with a real
  * similarity gap the coarser, smaller-code settings suffice
  * (the grid sweep that measured this:
  * `git show cfef355:src/test/scala/graft/tools/PqProbe.scala`).
  *
  * Search is asymmetric distance computation (ADC): per query, an
  * `m × ksub` table of exact sub-distances to every codeword is
  * precomputed ONCE (driver-side doubles over the tiny broadcast query
  * batch — same bounded-sidecar posture as the IVF probed-cell
  * literals); the scan then scores each corpus CODE as `m` table
  * lookups — never touching the float column. Survivors re-rank on
  * exact float cosine, exactly like the int8 two-stage
  * ([[Quantize.quantizedTopK]]): the approximation orders candidates,
  * the exact stage orders results, and oversampling covers boundary
  * inversions (AnnRecallSpec pins recall vs brute force).
  *
  * Codebooks train on a deterministic [[Sampling.hashSample]] of the
  * corpus — the FAISS recipe (train on a sample, encode everything) and
  * the 100 TB posture: training cost is bounded by the sample, and the
  * portable MCG bucket keeps the fit reproducible on any engine.
  * Everything downstream is deterministic expressions over literal
  * codebooks, so the registered query carries a fixture oracle.
  */
object Pq {

  /** Trained codebooks: `codebooks(j)(c)` is codeword `c` of subspace
    * `j` (`subDim` doubles). */
  case class PqModel(dim: Int, m: Int, ksub: Int,
                     codebooks: Seq[Seq[Seq[Double]]]) {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
    require(ksub >= 2 && ksub <= 128, s"ksub=$ksub must fit a tinyint")
    val subDim: Int = dim / m

    private def book(j: Int): DetKMeans.Model =
      DetKMeans.Model(codebooks(j).map(_.toArray).toArray)

    /** `array<tinyint>` PQ code (m bytes) for a numeric-array column —
      * per-subspace nearest codeword, ties to the lower index (the
      * DetKMeans assignment contract, fixture-safe). Struct-sort
      * argmin; [[Pq.pqEncode]] uses the faster staged
      * array_min/array_position form — same scores, same tie rule,
      * identical codes. */
    def encodeExpr(vec: Column): Column = {
      val dv = vec.cast("array<double>")
      array((0 until m).map { j =>
        book(j).assignExpr(slice(dv, j * subDim + 1, subDim))
          .cast("tinyint")
      }: _*)
    }

    /** Flat ADC lookup table for one query vector (driver doubles):
      * entry `j * ksub + c` = ‖q_j − codeword_{j,c}‖². */
    def adcTable(q: Seq[Double]): Seq[Double] = {
      require(q.length == dim, s"query dim ${q.length} != $dim")
      for {
        j <- 0 until m
        c <- 0 until ksub
      } yield {
        var s = 0.0
        var d = 0
        while (d < subDim) {
          val diff = q(j * subDim + d) - codebooks(j)(c)(d)
          s += diff * diff
          d += 1
        }
        s
      }
    }

    /** ADC distance of a code column against a flat table column:
      * Σ_j table[j·ksub + code_j]. Pure HOF lookup — the scan never
      * sees a float vector. */
    def adcExpr(code: Column, tab: Column): Column =
      aggregate(
        zip_with(code, sequence(lit(0), lit(m - 1)),
          (c, j) => element_at(tab, j * ksub + c.cast("int") + 1)),
        lit(0.0), (acc, x) => acc + x)
  }

  /** Unit-normalized double copy of a numeric-array column. PQ here
    * operates in UNIT-NORM space — the standard cosine-via-PQ recipe:
    * after normalization ‖a−b‖² = 2 − 2·cos(a,b), so the L2-trained
    * codebooks and L2 ADC rank candidates by cosine, which is what the
    * exact re-rank scores. (Raw-space L2 ADC would rank a corpus with
    * varying norms arbitrarily badly for a cosine objective.)
    * The norm is materialized as its OWN column before the transform
    * lambda: an aggregate referenced inside the lambda would re-run
    * per element (the winnowing O(n²) trap). */
  private[llm] def unitized(df: DataFrame, id: String,
                            vec: String): DataFrame =
    df.select(col(id).as("__ord"), col(vec).cast("array<double>").as("__dv"))
      .withColumn("__n",
        sqrt(aggregate(col("__dv"), lit(0.0), (a, x) => a + x * x)) +
          lit(1e-12))
      .select(col("__ord"),
        transform(col("__dv"), x => x / col("__n")).as("__dv"))

  /** The m concurrent sub-fits over a persisted `(__ord, __dv)` sample
    * frame — shared by [[pqTrain]] (unit-norm space) and
    * [[ivfPqBuild]] (cell-residual space). The m sub-fits are
    * independent; run them CONCURRENTLY from driver threads (Spark
    * schedules jobs from any thread) — a sequential loop pays m ×
    * rounds of job-scheduling latency (measured 21 s for m=16 at sf0.1
    * vs ~3 s concurrent). Each fit is deterministic on its own, so
    * concurrency cannot change the codebooks; results assemble in
    * subspace order. */
  private def fitBooks(sample: DataFrame, dim: Int, m: Int,
                       ksub: Int): Seq[Seq[Seq[Double]]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(
      Future.sequence((0 until m).toList.map { j =>
        Future {
          val sub = dim / m
          val sv = sample.select(col("__ord"),
            slice(col("__dv"), j * sub + 1, sub).as("__sv"))
          // buckets=16: a 4-dim sub-fit needs no 64-wide reduction
          // tree — 16 concurrent fits × 10 rounds × 64 partitions was
          // pure task-scheduling overhead. The bucket count is part
          // of the deterministic reduction SHAPE (fixture-pinned), so
          // it is fixed here, not tuned per run.
          DetKMeans.fit(sv, "__sv", "__ord", ksub, maxIter = 5,
            seed = 1013L + j, buckets = 16)
            .centroids.map(_.toSeq).toSeq
        }
      }), Duration.Inf)
  }

  /** Train PQ codebooks on a deterministic sample of the corpus.
    * `trainNum/den` is the [[Sampling.hashSample]] keep rate (1.0 =
    * train on everything — fine at test scale, sample at corpus
    * scale). */
  def pqTrain(df: DataFrame, id: String, vec: String, m: Int = 16,
              ksub: Int = 64, trainNum: Int = 1000000,
              den: Int = 1000000): PqModel = {
    val dim = df.select(size(col(vec))).head().getInt(0)
    val sample = unitized(Sampling.hashSample(df, id, trainNum, den),
        id, vec)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try PqModel(dim, m, ksub, fitBooks(sample, dim, m, ksub))
    finally { sample.unpersist(); () }
  }

  /** Encode the corpus: `(corpus_id, __code)` — the m-byte table the
    * coarse scan streams. Vectors are unit-normalized first (the
    * codebooks live in unit-norm space, see [[unitized]]). Persist
    * with [[writePq]] at corpus scale; the floats stay in the
    * original table and are only joined back for the survivor
    * re-rank.
    *
    * The encoder is the NATIVE `pq_codes` expression
    * ([[graft.functions.PqCodes]] — codebook as one literal, primitive
    * triple loop, whole-stage codegen). The two rejected shapes, for
    * the record: unrolling every codeword into the plan (struct-sort
    * `assignExpr`, or flat 64-term distance arrays) builds a
    * 1000+-node expression tree costing ~5 s of analysis/codegen PER
    * EXECUTION regardless of row count; a nested higher-order-function
    * fold keeps the plan small but pays ~2·m·ksub interpreted lambda
    * arrays per row (measured 2.4 ms/row — 4.8 s for 2 000 rows, hours
    * at corpus scale). */
  def pqEncode(model: PqModel, df: DataFrame, id: String,
               vec: String): DataFrame = {
    unitized(df, id, vec)
      .select(col("__ord").as("corpus_id"),
        call_function("pq_codes", col("__dv"),
          typedlit(model.codebooks)).as("__code"))
  }

  /** Persist codes + codebooks: codes as parquet (the ONLY table the
    * coarse stage reads — 16× smaller than the floats at dim 64/m 16),
    * codebooks as a tiny exploded sidecar. */
  def writePq(model: PqModel, codes: DataFrame, path: String): Unit = {
    codes.write.mode("overwrite").parquet(s"$path/codes")
    val spark = codes.sparkSession
    import spark.implicits._
    (for (j <- 0 until model.m; c <- 0 until model.ksub)
      yield (j, c, model.codebooks(j)(c), model.dim))
      .toDF("subspace", "codeword", "centroid", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** Append a new batch to PERSISTED flat-PQ codes without refit —
    * the FAISS `add()` contract for IndexPQ, mirroring
    * [[graft.llm.Similarity.ivfAppend]]: the batch is encoded with the
    * FROZEN build-time codebooks and appended to the codes table;
    * nothing is rewritten. Codebooks drift from the data distribution
    * as the corpus grows; the operating procedure is a periodic
    * retrain when recall degrades (monitored vs brute force on a
    * sample), never per-batch refit. AnnRecallSpec pins that appended
    * codes search identically to a one-pass encode of the same
    * corpus. */
  def pqAppend(model: PqModel, batch: DataFrame, id: String,
               vec: String, path: String): Unit =
    pqEncode(model, batch, id, vec)
      .write.mode("append").parquet(s"$path/codes")

  def readPq(spark: org.apache.spark.sql.SparkSession,
             path: String): (PqModel, DataFrame) = {
    val rows = spark.read.parquet(s"$path/codebooks")
      .orderBy("subspace", "codeword").collect()
    val dim = rows.head.getAs[Int]("dim")
    val m = rows.map(_.getAs[Int]("subspace")).max + 1
    val ksub = rows.map(_.getAs[Int]("codeword")).max + 1
    val books = rows.grouped(ksub)
      .map(_.map(_.getSeq[Double](2).toSeq).toSeq).toSeq
    (PqModel(dim, m, ksub, books), spark.read.parquet(s"$path/codes"))
  }

  /** Two-stage PQ search (FAISS IndexPQ + re-rank):
    *
    *  1. COARSE — ADC over the m-byte `codes` column only; keep
    *     `k × oversample` per query, ascending distance, ties by
    *     corpus id. A persisted codes read touches NO float column
    *     (PlanSpec pins the read schema).
    *  2. EXACT — join survivors' float vectors back from `corpus`
    *     (linear in the candidate set) and re-rank by exact cosine
    *     for the final k.
    *
    * The query batch is collected to the driver to build the ADC
    * tables (bounded: it is the broadcast-small side everywhere in
    * this module) and rejoined as a broadcast table. */
  def pqSearch(model: PqModel, codes: DataFrame, corpus: DataFrame,
               queries: DataFrame, id: String, vec: String, k: Int,
               oversample: Int = 8): DataFrame = {
    require(k > 0 && oversample > 0, s"k=$k, oversample=$oversample")
    val spark = codes.sparkSession
    import spark.implicits._
    val qRows = queries.select(col(id).cast("long").as("query_id"),
        col(vec).cast("array<double>").as("__dv"))
      .collect()
      .map { r =>
        // unit-normalize driver-side — the codebooks live in unit-norm
        // space (same 1e-12 guard as the executor-side normalization)
        val raw = r.getSeq[Double](1)
        val n = math.sqrt(raw.map(x => x * x).sum) + 1e-12
        (r.getLong(0), model.adcTable(raw.map(_ / n)))
      }
    val qTab = qRows.toSeq.toDF("query_id", "__tab")
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("__adc").asc, col("corpus_id").asc)
    val survivors = codes
      .join(broadcast(qTab), col("query_id") =!= col("corpus_id"))
      .withColumn("__adc", model.adcExpr(col("__code"), col("__tab")))
      .withColumn("__r", row_number().over(wc))
      .filter(col("__r") <= k * oversample)
      .select("query_id", "corpus_id")
    val wx = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    survivors
      .join(corpus.select(col(id).as("corpus_id"), col(vec).as("__cv")),
        "corpus_id")
      .join(broadcast(queries.select(col(id).as("query_id"),
        col(vec).as("__qv"))), "query_id")
      .withColumn("cosine", Similarity.cosineNative(col("__qv"), col("__cv")))
      .withColumn("__r", row_number().over(wx))
      .filter(col("__r") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"),
        col("__r").cast("long").as("rank"))
  }

  /** One-shot train + encode + search (the registered `q_ann_pq`
    * form). */
  def pqTopK(df: DataFrame, queries: DataFrame, id: String, vec: String,
             k: Int, m: Int = 16, ksub: Int = 64,
             oversample: Int = 8): DataFrame = {
    val model = pqTrain(df, id, vec, m, ksub)
    pqSearch(model, pqEncode(model, df, id, vec), df, queries, id, vec,
      k, oversample)
  }

  // ------------------------------------------------------------------
  // IVF-PQ — the full FAISS IVFADC stack (Jégou et al. PAMI 2011 §V:
  // coarse quantizer + product-quantized RESIDUALS + asymmetric
  // distance), combining this module's PQ tier with Similarity's IVF
  // tier. vs flat PQ: the coarse scan reads only the probed cells'
  // codes (nProbe/nList of the corpus instead of all of it), and the
  // codebooks quantize residuals r = v − c(cell), whose spread is a
  // cell diameter rather than the whole space — finer codes from the
  // same byte budget. At 100 TB this is the ANN configuration that
  // actually runs: m bytes per vector, partition-pruned cell reads,
  // floats touched only for k × oversample survivors per query.
  // ------------------------------------------------------------------

  /** A built IVF-PQ index: the m-byte residual codes keyed by cell
    * (`corpus_id, __cell, __code` — the ONLY table the coarse scan
    * reads), the tiny centroid list, and the residual-space PQ model.
    * Everything is unit-norm space: after normalization
    * ‖q−v‖² = 2 − 2·cos(q,v), so ascending ADC distance ranks
    * descending cosine, which is what the exact re-rank scores. */
  case class IvfPqIndex(codes: DataFrame, centroids: Seq[Seq[Double]],
                        model: PqModel)

  /** Build: k-means the unit-normalized corpus into `nList` cells
    * (deterministic [[graft.models.DetKMeans]] — fixture-oracle-safe),
    * PQ-train on a deterministic sample of the CELL RESIDUALS, encode
    * every residual with the native `pq_codes` expression. The
    * expensive passes all happen here, once; `trainNum/den` bounds the
    * codebook fit at corpus scale exactly as in [[pqTrain]]. */
  def ivfPqBuild(df: DataFrame, id: String, vec: String, nList: Int = 16,
                 m: Int = 16, ksub: Int = 64, trainNum: Int = 1000000,
                 den: Int = 1000000): IvfPqIndex = {
    val dim = df.select(size(col(vec))).head().getInt(0)
    val u = unitized(df, id, vec)
    val km = DetKMeans.fit(u, "__dv", "__ord", nList, maxIter = 10,
      seed = 13L)
    val cents = km.centroids.map(_.toSeq).toSeq
    val resid = u
      .withColumn("__cell", km.assignExpr(col("__dv")))
      .withColumn("__rv",
        zip_with(col("__dv"),
          element_at(typedlit(cents), col("__cell") + lit(1)),
          (x, c) => x - c))
    val sample = Sampling.hashSample(resid, "__ord", trainNum, den)
      .select(col("__ord"), col("__rv").as("__dv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model =
      try PqModel(dim, m, ksub, fitBooks(sample, dim, m, ksub))
      finally { sample.unpersist(); () }
    val codes = resid.select(col("__ord").as("corpus_id"), col("__cell"),
      call_function("pq_codes", col("__rv"),
        typedlit(model.codebooks)).as("__code"))
    // materialize the codes — an index IS its materialized table. The
    // lazy alternative re-derives assignExpr + the codebook literal
    // inside every downstream plan, where project-collapse duplicates
    // the big expression trees (measured: 8.8 s per search vs 0.7 s
    // materialized at sf0.1). On a cluster the production form is
    // writeIvfPq + a parquet read-back; the one-shot form checkpoints
    // for the same effect.
    IvfPqIndex(codes.localCheckpoint(false), cents, model)
  }

  /** Persist an IVF-PQ index: codes partitioned by cell (a query
    * batch's coarse read prunes to its probed cells at the
    * file-listing level, like `Similarity.writeIvf`), centroids +
    * codebooks as tiny sidecars. */
  def writeIvfPq(index: IvfPqIndex, path: String): Unit = {
    index.codes.write.mode("overwrite").partitionBy("__cell")
      .parquet(s"$path/codes")
    val spark = index.codes.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex.map { case (c, j) => (j, c) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    (for (j <- 0 until index.model.m; c <- 0 until index.model.ksub)
      yield (j, c, index.model.codebooks(j)(c), index.model.dim))
      .toDF("subspace", "codeword", "centroid", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** Append a new batch to a PERSISTED IVF-PQ index without refit —
    * FAISS `add()` for IVFADC: assign to the FROZEN coarse cells,
    * encode each residual with the FROZEN codebooks, append to the
    * cell-partitioned codes — only touched cell partitions gain
    * files, reads stay partition-pruned. Same drift/rebuild operating
    * procedure as [[pqAppend]]/[[graft.llm.Similarity.ivfAppend]]. */
  def ivfPqAppend(index: IvfPqIndex, batch: DataFrame, id: String,
                  vec: String, path: String): Unit = {
    val km = DetKMeans.Model(index.centroids.map(_.toArray).toArray)
    unitized(batch, id, vec)
      .withColumn("__cell", km.assignExpr(col("__dv")))
      .withColumn("__rv",
        zip_with(col("__dv"),
          element_at(typedlit(index.centroids), col("__cell") + lit(1)),
          (x, c) => x - c))
      .select(col("__ord").as("corpus_id"), col("__cell"),
        call_function("pq_codes", col("__rv"),
          typedlit(index.model.codebooks)).as("__code"))
      .write.mode("append").partitionBy("__cell").parquet(s"$path/codes")
  }

  def readIvfPq(spark: org.apache.spark.sql.SparkSession,
                path: String): IvfPqIndex = {
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy("cell").collect().map(_.getSeq[Double](1)).toSeq
    val rows = spark.read.parquet(s"$path/codebooks")
      .orderBy("subspace", "codeword").collect()
    val dim = rows.head.getAs[Int]("dim")
    val m = rows.map(_.getAs[Int]("subspace")).max + 1
    val ksub = rows.map(_.getAs[Int]("codeword")).max + 1
    val books = rows.grouped(ksub)
      .map(_.map(_.getSeq[Double](2).toSeq).toSeq).toSeq
    IvfPqIndex(spark.read.parquet(s"$path/codes"), cents,
      PqModel(dim, m, ksub, books))
  }

  /** Two-stage IVF-PQ search (FAISS IVFADC):
    *
    *  1. PROBE + ADC TABLES — the query batch is collected (it is the
    *     broadcast-small side everywhere in this module) and BOTH the
    *     probe decision (nProbe nearest centroids, ties by cell id)
    *     and the per-(query, cell) ADC tables over the residual
    *     q − c(cell) are computed driver-side — nList distances + an
    *     m × ksub table per probed cell, all over the tiny centroid
    *     list; no Spark job.
    *  2. COARSE — ADC over the probed cells' m-byte codes only; the
    *     probed cell ids are plan LITERALS (`isin`), so a persisted
    *     codes read is partition-pruned at file listing. Keep
    *     `k × oversample` per query, ascending ADC, ties by corpus id.
    *  3. EXACT — join survivors' float vectors back from `corpus` and
    *     re-rank by exact cosine for the final k. */
  def ivfPqSearch(index: IvfPqIndex, corpus: DataFrame, queries: DataFrame,
                  id: String, vec: String, k: Int, nProbe: Int = 4,
                  oversample: Int = 8): DataFrame = {
    require(k > 0 && nProbe > 0 && oversample > 0,
      s"k=$k, nProbe=$nProbe, oversample=$oversample")
    val spark = index.codes.sparkSession
    import spark.implicits._
    val cents = index.centroids.map(_.toArray).toArray
    val qRows = queries.select(col(id).cast("long").as("query_id"),
        col(vec).cast("array<double>").as("__dv"))
      .collect()
      .map { r =>
        val raw = r.getSeq[Double](1)
        val n = math.sqrt(raw.map(x => x * x).sum) + 1e-12
        (r.getLong(0), raw.map(_ / n).toArray)
      }
    val tabs = qRows.toSeq.flatMap { case (qid, qu) =>
      val probed = cents.zipWithIndex.map { case (c, j) =>
        var s = 0.0
        var d = 0
        while (d < c.length) { val t = qu(d) - c(d); s += t * t; d += 1 }
        (s, j)
      }.sorted.take(math.min(nProbe, cents.length))
      probed.map { case (_, cell) =>
        val qres = Array.tabulate(qu.length)(d => qu(d) - cents(cell)(d))
        (qid, cell, index.model.adcTable(qres.toSeq))
      }
    }
    val qTab = tabs.toDF("query_id", "__cell", "__tab")
    val cellIds = tabs.map(_._2).distinct.sorted
    val pruned = index.codes.filter(
      col("__cell").isin(cellIds.map(Integer.valueOf): _*))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("__adc").asc, col("corpus_id").asc)
    val survivors = pruned
      .join(broadcast(qTab), Seq("__cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("__adc", index.model.adcExpr(col("__code"), col("__tab")))
      .withColumn("__r", row_number().over(wc))
      .filter(col("__r") <= k * oversample)
      .select("query_id", "corpus_id")
    val wx = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    survivors
      .join(corpus.select(col(id).as("corpus_id"), col(vec).as("__cv")),
        "corpus_id")
      .join(broadcast(queries.select(col(id).as("query_id"),
        col(vec).as("__qv"))), "query_id")
      .withColumn("cosine", Similarity.cosineNative(col("__qv"), col("__cv")))
      .withColumn("__r", row_number().over(wx))
      .filter(col("__r") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"),
        col("__r").cast("long").as("rank"))
  }

  /** One-shot IVF-PQ build + search (the registered `q_ann_ivfpq`
    * form). */
  def ivfPqTopK(df: DataFrame, queries: DataFrame, id: String,
                vec: String, k: Int, nList: Int = 16, m: Int = 16,
                ksub: Int = 64, nProbe: Int = 4,
                oversample: Int = 8): DataFrame =
    ivfPqSearch(ivfPqBuild(df, id, vec, nList, m, ksub), df, queries,
      id, vec, k, nProbe, oversample)
}
