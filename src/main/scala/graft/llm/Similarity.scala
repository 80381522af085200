package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Brute-force cosine is the correctness baseline (broadcast the small
  * query set — never an unbucketed corpus×corpus crossJoin); the scale
  * path is random-hyperplane LSH: sign-bit signatures over deterministic
  * pseudo-random planes, bucket join, exact cosine only within buckets.
  */
object Similarity {

  /** Exact cosine between two float-array columns, accumulated in
    * DOUBLE (element-wise products of doubles, sequential fold — the
    * deterministic formulation both engines agree on). HOF reference
    * implementation; `cosineNative` is the codegen'd production path
    * (identical left-to-right summation → bit-identical results). */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) = aggregate(
      zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)) + lit(1e-12))
  }

  /** Cosine via the native `vec_dot` Catalyst expression (whole-stage
    * codegen; same summation order as the HOF form, so results are
    * bit-identical — VecDotSpec pins this). */
  def cosineNative(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) = call_function("vec_dot", x, y)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)) + lit(1e-12))
  }

  /** Johnson–Lindenstrauss random-SIGN projection (Achlioptas, JCSS
    * 2003: ±1 entries preserve pairwise distances like Gaussian ones)
    * — the embedding-compression step before storage/ANN at corpus
    * scale: dim d → dim m at m/d the footprint, cosine approximately
    * preserved.
    *
    *   y_i = (1/√m) · Σ_j s(i,j) · v_j,   s(i,j) ∈ {+1, −1}
    *
    * The sign matrix is DERIVED, not stored: s(i,j) hashes the flat
    * index f = i·d+j through a SQUARE-mix `(f² mod M)·48271 +
    * f·1000003 + 12345 mod M` followed by one Park–Miller step, sign
    * from the parity. The square term is load-bearing: a bare MCG is
    * LINEAR, and for flat indices below M/48271 it never wraps — its
    * parity then alternates identically in every row, collapsing the
    * matrix to rank ≈ 1 (measured mean cosine distortion 0.99, i.e.
    * garbage; the square-mix measures 0.19, statistically identical
    * to a true random ±1 matrix — AnnRecallSpec pins the JL bound).
    * All arithmetic is exact in 64-bit for m·d < 2^31, so any engine
    * (and the DuckDB oracle) regenerates the exact matrix from
    * (m, d) alone; executors never ship or broadcast it. Fold order
    * is j-ascending per output dim → the double sum is reproducible
    * everywhere.
    *
    * 100 TB posture: pure column expression in the scan stage (no
    * exchange, no UDF); the projection is O(m·d) per row and the
    * output column is the ONLY thing that leaves the stage. */
  def randomProject(vec: Column, inDim: Int, outDim: Int): Column = {
    require(inDim > 0 && outDim > 0 && outDim <= inDim,
      s"need 0 < outDim=$outDim <= inDim=$inDim")
    require(inDim.toLong * outDim < Int.MaxValue,
      "m*d must stay below 2^31 for exact 64-bit hash arithmetic")
    val M = 2147483647L
    val scale = lit(1.0 / math.sqrt(outDim.toDouble))
    transform(sequence(lit(0), lit(outDim - 1)), i =>
      scale * aggregate(
        sequence(lit(0), lit(inDim - 1)),
        lit(0.0),
        (acc, j) => {
          val flat = i.cast("long") * inDim + j
          val mixed = pmod(
            pmod(flat * flat, lit(M)) * 48271L +
              flat * 1000003L + 12345L, lit(M))
          val h = pmod((pmod(mixed, lit(M - 1)) + 1L) * lit(48271L),
            lit(M))
          val sign = lit(1.0) - lit(2.0) * (h % 2L).cast("double")
          acc + sign * element_at(vec, j + 1).cast("double")
        }))
  }

  /** Brute-force top-k: cosine of every (query, corpus) pair, top k per
    * query by score desc (ties by corpus id asc). `queries` must be the
    * small side — it is broadcast. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, id: String,
                     vec: String, k: Int): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qv"))
    val c = corpus.select(col(id).as("corpus_id"), col(vec).as("__cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("corpus_id"))
      .withColumn("cosine", cosineNative(col("__qv"), col("__cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"),
        col("__r").cast("long").as("rank"))
  }

  /** Deterministic pseudo-random unit-free hyperplane component for
    * (plane p, dimension d): a hash folded to [-1, 1). Deterministic
    * across sessions (xxhash64 is seed-stable). */
  private def planeComponent(p: Int, d: Column): Column =
    (xxhash64(lit(p), d).cast("double") / lit(Long.MaxValue.toDouble))

  /** Sign-bit LSH signature: bit p = sign of Σ_d v_d · plane(p, d). */
  def lshSignature(vec: Column, planes: Int): Column = {
    val proj = (0 until planes).map { p =>
      val s = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (v, i) => v.cast("double") * planeComponent(p, i)),
        lit(0.0), (acc, x) => acc + x)
      when(s >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    proj.reduce(_.bitwiseOR(_))
  }

  /** OR-amplified band decomposition of an LSH signature: `bands` bands
    * of `planes/bands` sign bits each. A pair is a candidate iff it
    * agrees on ALL bits of AT LEAST ONE band (AND within a band, OR
    * across bands) — the classic S-curve
    * `P(candidate) = 1 - (1 - (1 - θ/π)^r)^b` with r = planes/bands.
    *
    * Tuning: near-dup mining on corpora with a real similarity gap
    * (cosine ≥ 0.9 targets) wants wide bands — planes=64, bands=8 keeps
    * random-pair collisions ≈ b/2^r ≈ 3% while recall at cosine 0.9 stays
    * ≈ 0.94. Diffuse spaces (targets at cosine 0.3–0.5) need narrow
    * bands — planes=16, bands=8 — trading candidate volume for recall.
    * A single wide band (the round-2 default) has ~2% recall even at
    * cosine 0.8 — never do that. */
  private def bandKeys(sigCol: Column, planes: Int, bands: Int): Column = {
    require(planes % bands == 0 && planes <= 64,
      s"planes=$planes must be a multiple of bands=$bands and <= 64")
    val width = planes / bands
    // width == 64 (a single full-word band): (1L << 64) wraps to 1, so
    // the all-ones mask must be spelled -1
    val mask = if (width == 64) -1L else (1L << width) - 1
    array((0 until bands).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(sigCol, c * width).bitwiseAND(mask).as("key"))
    }: _*)
  }

  /** Drop (chunk, key) buckets holding more than `cap` rows — the LSH
    * analogue of `ngramJaccard`'s `maxDocFreq` hot-shingle guard. A
    * bucket of size s contributes O(s²) candidate pairs, so one hot
    * bucket (from a bad (planes, bands) choice, or an adversarial corpus
    * of near-identical vectors) turns the bucket join into n²/buckets. A
    * cap degrades RECALL gracefully (hot-bucket pairs usually still
    * collide in another, cooler band) instead of exploding the join.
    * The bucket-size aggregate is map-side combinable — one cheap pass
    * over the already-shuffled bucket table. */
  private def capBuckets(buckets: DataFrame, cap: Int): DataFrame = {
    if (cap == Int.MaxValue) buckets
    else {
      val keep = buckets.groupBy("chunk", "key")
        .agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") <= cap)
        .select("chunk", "key")
      buckets.join(keep, Seq("chunk", "key"))
    }
  }

  /** Diagnostic relation for [[lshPairs]]/[[lshTopK]] tuning: one row per
    * band bucket with its size and the candidate-pair volume it would
    * generate — run this BEFORE committing a (planes, bands,
    * maxBucketSize) choice on a new corpus. */
  def lshBucketStats(df: DataFrame, id: String, vec: String,
                     planes: Int = 16, bands: Int = 4): DataFrame = {
    val sig = df.select(col(id).as("doc"), col(vec).as("__v"))
      .withColumn("__sig", lshSignature(col("__v"), planes))
    sig.select(col("doc"), explode(bandKeys(col("__sig"), planes, bands)).as("b"))
      .select(col("b.chunk"), col("b.key"))
      .groupBy("chunk", "key")
      .agg(count(lit(1)).as("bucket_size"))
      .withColumn("pair_volume",
        col("bucket_size") * (col("bucket_size") - 1) / 2)
  }

  /** Candidate pairs sharing any LSH band bucket (OR-amplified, see
    * [[bandKeys]]), with exact cosine computed only inside buckets.
    * Buckets larger than `maxBucketSize` are dropped ([[capBuckets]]).
    *
    * The OR-amplified candidate stream (one row per band collision) is
    * deduplicated on the ID PAIR ALONE and the vectors joined back for
    * the single post-dedup cosine — carrying both embeddings through the
    * distinct() exchange would multiply its shuffle volume by the vector
    * payload (~30× at dim 64) for rows that mostly collapse. */
  def lshPairs(df: DataFrame, id: String, vec: String, planes: Int = 16,
               bands: Int = 4, maxBucketSize: Int = 10000): DataFrame = {
    val sig = df.select(col(id).as("doc"), col(vec).as("__v"))
      .withColumn("__sig", lshSignature(col("__v"), planes))
    val buckets = capBuckets(
      sig.select(col("doc"),
          explode(bandKeys(col("__sig"), planes, bands)).as("b"))
        .select(col("doc"), col("b.chunk"), col("b.key")),
      maxBucketSize)
    val a = buckets.select(col("chunk"), col("key"), col("doc").as("id_a"))
    val b = buckets.select(col("chunk"), col("key"), col("doc").as("id_b"))
    val pairs = a.join(b, Seq("chunk", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val va = df.select(col(id).as("id_a"), col(vec).as("__va"))
    val vb = df.select(col(id).as("id_b"), col(vec).as("__vb"))
    pairs.join(va, "id_a").join(vb, "id_b")
      .withColumn("cosine", cosineNative(col("__va"), col("__vb")))
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** A built IVF index: the corpus assigned to its cells
    * (`corpus_id, __cv, __cell`, plus `__cq` when quantized) and the
    * tiny centroid table. `q8Scale` is the global absmax the `__cq`
    * int8 column was quantized with — fitted ONCE at build time and
    * persisted, so a search never scans the corpus to learn it. Build
    * once, search many — see [[ivfBuild]]/[[ivfSearch]]. */
  case class IvfIndex(cells: DataFrame, centroids: Seq[Seq[Double]],
                      q8Scale: Option[Double] = None)

  /** Build an IVF (inverted-file) index — the FAISS-style scale path:
    * k-means the corpus into `nList` cells
    * ([[graft.models.DetKMeans]]: deterministic for any partitioning,
    * which is what lets `q_ann_ivf`/`q_ann_ivf_q8` carry fixture
    * oracles), store each vector under its cell. The expensive parts
    * (the k-means passes and the corpus shuffle by cell id) happen
    * HERE, once; at 100 TB the cell assignment is written with
    * [[writeIvf]] and every subsequent query batch reads it back
    * partition-pruned — never re-clustering, never re-shuffling the
    * corpus. `quantize = true` additionally stores a global-absmax
    * int8 copy of each vector (`__cq`) and its scale — the
    * [[ivfSearchQ8]] coarse stage then scans 4×-smaller bytes instead
    * of floats. `id` must be numeric-unique (it orders the
    * deterministic reduction). */
  def ivfBuild(df: DataFrame, id: String, vec: String,
               nList: Int = 16, quantize: Boolean = false): IvfIndex = {
    val scale = if (quantize) Some(Quantize.fitScale(df, vec)) else None
    val base = df.select(col(id).as("corpus_id"), col(vec).as("__cv"))
    val corpus = scale.fold(base)(s =>
        base.withColumn("__cq", Quantize.quantized(col("__cv"), s)))
      .withColumn("__dv", col("__cv").cast("array<double>"))
    val model = graft.models.DetKMeans.fit(corpus, "__dv", "corpus_id",
      nList, maxIter = 10, seed = 13L)
    IvfIndex(
      corpus.withColumn("__cell", model.assignExpr(col("__dv")))
        .drop("__dv"),
      model.centroids.map(_.toSeq).toSeq, scale)
  }

  /** Persist an index: cells as parquet PARTITIONED BY cell id (a
    * query batch's candidate read is pruned to its probed cells at the
    * file-listing level), centroids as a tiny sidecar table carrying
    * the int8 scale (null when the index is float-only). */
  def writeIvf(index: IvfIndex, path: String): Unit = {
    index.cells.write.mode("overwrite").partitionBy("__cell")
      .parquet(s"$path/cells")
    val spark = index.cells.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex.map { case (c, j) => (j, c, index.q8Scale) }
      .toDF("cell", "centroid", "q8_scale")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Append a new vector batch to a PERSISTED index without refit —
    * the FAISS `add()` contract, and the maintenance operation a
    * growing corpus actually performs: new vectors are assigned to the
    * EXISTING cells (centroids frozen at build time; when the index is
    * quantized, the batch is quantized with the persisted build-time
    * scale) and appended to the cell-partitioned parquet — only the
    * touched cell partitions gain files, nothing is rewritten, reads
    * stay partition-pruned. Centroids drift from the data distribution
    * as the corpus grows; the operating procedure is a periodic
    * rebuild when recall degrades (monitored vs brute force on a
    * sample), never per-batch refit. AnnRecallSpec pins that an
    * appended index searches identically to one whose cells were
    * assigned in a single pass over the same centroids. */
  def ivfAppend(index: IvfIndex, batch: DataFrame, id: String,
                vec: String, path: String): Unit = {
    val model = graft.models.DetKMeans.Model(
      index.centroids.map(_.toArray).toArray)
    val base = batch.select(col(id).as("corpus_id"), col(vec).as("__cv"))
    val withQ = index.q8Scale.fold(base)(s =>
      base.withColumn("__cq", Quantize.quantized(col("__cv"), s)))
    withQ.withColumn("__dv", col("__cv").cast("array<double>"))
      .withColumn("__cell", model.assignExpr(col("__dv")))
      .drop("__dv")
      .write.mode("append").partitionBy("__cell").parquet(s"$path/cells")
  }

  def readIvf(spark: org.apache.spark.sql.SparkSession,
              path: String): IvfIndex = {
    val cdf = spark.read.parquet(s"$path/centroids")
    val rows = cdf.orderBy("cell").collect()
    val cents = rows.map(_.getSeq[Double](1)).toSeq
    // pre-r8 indexes have no q8_scale column; treat them as float-only
    val scale =
      if (cdf.columns.contains("q8_scale"))
        rows.headOption.flatMap(r =>
          Option(r.getAs[java.lang.Double]("q8_scale")).map(_.doubleValue))
      else None
    IvfIndex(spark.read.parquet(s"$path/cells"), cents, scale)
  }

  /** One row per (query, probed cell): each query joined to the ids of
    * its `nProbe` nearest centroids. Centroids are plan LITERALS — the
    * probe decision costs no join, and the cell ids it emits drive
    * partition pruning of a persisted index read. */
  private def probedQueries(index: IvfIndex, queries: DataFrame,
                            id: String, vec: String,
                            nProbe: Int): DataFrame = {
    def dist2(v: Column, c: Seq[Double]): Column = {
      val cl = typedlit(c)
      aggregate(zip_with(v, cl, (x, y) => {
        val d = x.cast("double") - y; d * d
      }), lit(0.0), (acc, x) => acc + x)
    }
    val probeStructs = index.centroids.zipWithIndex.map { case (c, j) =>
      struct(dist2(col("__qv"), c).as("d"), lit(j).as("cell"))
    }
    queries.select(col(id).as("query_id"), col(vec).as("__qv"))
      .withColumn("__probes",
        slice(array_sort(array(probeStructs.toIndexedSeq: _*)), 1, nProbe))
      .select(col("query_id"), col("__qv"),
        explode(col("__probes.cell")).as("__cell"))
  }

  /** Restrict `cells` to the union of cell ids this query batch probes,
    * as plan LITERALS: one tiny job over the (small, broadcast-side)
    * query batch buys deterministic file-listing-level partition
    * pruning of a persisted index read — `nProbe/nList` of the corpus
    * is never even listed, rather than hoping the runtime DPP heuristic
    * fires on the broadcast join. PlanSpec pins the pruned scan shape. */
  private def pruneCells(cells: DataFrame, probed: DataFrame): DataFrame = {
    val ids = probed.select("__cell").distinct().collect()
      .map(_.getInt(0)).sorted
    cells.filter(col("__cell").isin(ids.map(Integer.valueOf).toSeq: _*))
  }

  /** Search a built index: probe only the `nProbe` cells nearest each
    * query (centroids are plan literals — no join for the probe
    * decision), exact cosine over nProbe/nList of the corpus. Recall vs
    * cost is tuned by (nList, nProbe) exactly like a FAISS IVF index. */
  def ivfSearch(index: IvfIndex, queries: DataFrame, id: String,
                vec: String, k: Int, nProbe: Int = 4): DataFrame = {
    val probed = probedQueries(index, queries, id, vec, nProbe)
    val cand = pruneCells(index.cells, probed).join(broadcast(probed), "__cell")
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine", cosineNative(col("__qv"), col("__cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    cand.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"),
        col("__r").cast("long").as("rank"))
  }

  /** Quantized IVF search — the full FAISS-style stack (IVF cells ×
    * int8 coarse scan × float re-rank):
    *
    *  1. PROBE — `nProbe` nearest centroids per query, as [[ivfSearch]].
    *  2. COARSE — int8 cosine over the probed cells' `__cq` column only
    *     (queries quantized with the index's persisted build-time
    *     scale); keep `k × oversample` per query. The scan reads the
    *     4×-smaller byte column and never touches `__cv` — column
    *     pruning keeps the floats out of the read path entirely.
    *  3. EXACT — join the survivors' float vectors back by
    *     (__cell, corpus_id) — leading with the partition column keeps
    *     a persisted-index read prunable — and re-rank for the final k.
    *
    * Ties break by corpus id in both stages. Recall loss vs
    * [[ivfSearch]] is only coarse rounding inversions near the k
    * boundary; oversampling covers it (AnnRecallSpec pins ≥ 0.95 vs
    * brute force at the registered setting). */
  def ivfSearchQ8(index: IvfIndex, queries: DataFrame, id: String,
                  vec: String, k: Int, nProbe: Int = 4,
                  oversample: Int = 4): DataFrame = {
    require(k > 0 && oversample > 0, s"k=$k, oversample=$oversample")
    val scale = index.q8Scale.getOrElse(throw new IllegalArgumentException(
      "index has no int8 column - build with ivfBuild(quantize = true)"))
    val probed = probedQueries(index, queries, id, vec, nProbe)
      .withColumn("__qq", Quantize.quantized(col("__qv"), scale))
    val cells = pruneCells(index.cells, probed)
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("__coarse").desc, col("corpus_id").asc)
    val survivors = cells.select("corpus_id", "__cq", "__cell")
      .join(broadcast(probed.select("query_id", "__qq", "__cell")), "__cell")
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("__coarse", cosineNative(col("__qq"), col("__cq")))
      .withColumn("__r", row_number().over(wc))
      .filter(col("__r") <= k * oversample)
      .select("query_id", "corpus_id", "__cell")
    val wx = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    broadcast(survivors)
      .join(cells.select("corpus_id", "__cv", "__cell"),
        Seq("__cell", "corpus_id"))
      .join(broadcast(queries.select(col(id).as("query_id"),
        col(vec).as("__qv"))), "query_id")
      .withColumn("cosine", cosineNative(col("__qv"), col("__cv")))
      .withColumn("__r", row_number().over(wx))
      .filter(col("__r") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"),
        col("__r").cast("long").as("rank"))
  }

  /** One-shot build + search (the registered `q_ann_ivf` form). */
  def ivfTopK(df: DataFrame, queries: DataFrame, id: String, vec: String,
              k: Int, nList: Int = 16, nProbe: Int = 4): DataFrame =
    ivfSearch(ivfBuild(df, id, vec, nList), queries, id, vec, k, nProbe)

  /** One-shot quantized build + search (the registered `q_ann_ivf_q8`
    * form). */
  def ivfTopKQ8(df: DataFrame, queries: DataFrame, id: String, vec: String,
                k: Int, nList: Int = 16, nProbe: Int = 4,
                oversample: Int = 4): DataFrame =
    ivfSearchQ8(ivfBuild(df, id, vec, nList, quantize = true),
      queries, id, vec, k, nProbe, oversample)

  /** LSH-accelerated top-k: exact cosine only for bucket-mates of each
    * query. Recall follows the [[bandKeys]] S-curve — more/narrower
    * bands → higher recall and more candidates; wider bands → cheaper
    * and sharper (only works when true neighbors are genuinely close).
    * Corpus-side buckets larger than `maxBucketSize` are dropped
    * ([[capBuckets]]) — at corpus scale route to [[ivfTopK]] instead of
    * raising the cap. */
  def lshTopK(df: DataFrame, queries: DataFrame, id: String, vec: String,
              k: Int, planes: Int = 16, bands: Int = 4,
              maxBucketSize: Int = 10000): DataFrame = {
    val sig = df.select(col(id).as("corpus_id"), col(vec).as("__cv"))
      .withColumn("__sig", lshSignature(col("__cv"), planes))
    val qsig = queries.select(col(id).as("query_id"), col(vec).as("__qv"))
      .withColumn("__qsig", lshSignature(col("__qv"), planes))
    val cb = capBuckets(
      sig.select(col("corpus_id"), col("__cv"),
          explode(bandKeys(col("__sig"), planes, bands)).as("b"))
        .select(col("corpus_id"), col("__cv"), col("b.chunk"), col("b.key")),
      maxBucketSize)
    val qb = qsig.select(col("query_id"), col("__qv"),
        explode(bandKeys(col("__qsig"), planes, bands)).as("b"))
      .select(col("query_id"), col("__qv"), col("b.chunk"), col("b.key"))
    // dedup band collisions on the ID pair alone (see lshPairs) and
    // re-attach the vectors afterwards: the query side is tiny
    // (broadcast) and the corpus-vector join is linear in the deduped
    // candidate set instead of shuffling embeddings per collision
    val cand = cb.select("corpus_id", "chunk", "key")
      .join(broadcast(qb.select("query_id", "chunk", "key")),
        Seq("chunk", "key"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id")).distinct()
      .join(df.select(col(id).as("corpus_id"), col(vec).as("__cv")),
        "corpus_id")
      .join(broadcast(qsig.select(col("query_id"), col("__qv"))), "query_id")
      .withColumn("cosine", cosineNative(col("__qv"), col("__cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    cand.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"),
        col("__r").cast("long").as("rank"))
  }

  /** Hard-negative mining for contrastive training data (the DPR /
    * sentence-transformers recipe): for each anchor, the k NEAREST
    * vectors carrying a DIFFERENT label — the negatives that sit
    * closest to the decision boundary, which is exactly what
    * contrastive fine-tuning wants in its batches. Same broadcast-
    * query / corpus-scan shape as [[bruteForceTopK]] (swap in the
    * IVF/LSH candidate generators at corpus scale); the label
    * inequality rides the join condition so mismatched pairs never
    * materialize. Output: (query_id, corpus_id, anchor_label,
    * neg_label, cosine, rank). */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, id: String,
                    vec: String, label: String, k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qv"),
      col(label).as("anchor_label"))
    val c = corpus.select(col(id).as("corpus_id"), col(vec).as("__cv"),
      col(label).as("neg_label"))
    val scored = c.join(broadcast(q),
        col("query_id") =!= col("corpus_id") &&
          col("anchor_label") =!= col("neg_label"))
      .withColumn("cosine", cosineNative(col("__qv"), col("__cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .select(col("query_id"), col("corpus_id"), col("anchor_label"),
        col("neg_label"), col("cosine"),
        col("__r").cast("long").as("rank"))
  }

  /** MMR diversified re-ranking (Carbonell & Goldstein, SIGIR 1998):
    * greedily select k of the top-`candidates` cosine hits, each step
    * maximizing `λ·rel(c) − (1−λ)·max_{s∈S} cos(c, s)` — relevance
    * traded against redundancy with what is already selected. The
    * de-duplicating re-ranker every retrieval stack wants between ANN
    * and the consumer (RAG context assembly being the canonical use).
    *
    * Distribution shape: candidate generation is [[bruteForceTopK]]
    * (swap in the IVF/LSH tiers at scale — the re-rank step is
    * agnostic); the greedy loop runs per query over the BOUNDED
    * candidate set (≤ `candidates` rows) inside `flatMapGroups`, so
    * state never exceeds candidates×dim per query and queries fan out
    * across the cluster.
    *
    * Determinism: candidate relevance is the `cosineNative` double;
    * candidate-candidate cosine uses the identical left-to-right
    * component fold (bit-equal to the oracle's `list_reduce`); the
    * diversity term is a MAX over exact doubles; score arithmetic is
    * `λ·rel − (1.0−λ)·ms` in that literal order; ties break on the
    * smaller corpus_id. Rank 1 is the pure-relevance argmax (empty-set
    * diversity term = 0).
    *
    * Output: (query_id, mmr_rank, corpus_id, rel, mmr_score). */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, id: String,
              vec: String, k: Int, candidates: Int,
              lambda: Double): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(candidates >= k, s"candidates=$candidates must be >= k=$k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda=$lambda not in [0,1]")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cand = bruteForceTopK(queries, corpus, id, vec, candidates)
      .join(corpus.select(col(id).cast("long").as("corpus_id"),
        col(vec).as("__cv")), Seq("corpus_id"))
    val ds = cand.select(col("query_id").cast("long"),
        col("corpus_id").cast("long"), col("cosine").cast("double"),
        col("rank").cast("long"),
        col("__cv").cast("array<float>"))
      .as[(Long, Long, Double, Long, Array[Float])]
    val lam = lambda
    val kk = k
    graft.core.Grouped
      .pinned[Long, (Long, Long, Double, Long, Array[Float])](
        ds, col(ds.columns.head))
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Long, Array[Float])]) =>
        val cs = it.toArray.sortBy(_._4)
        def dot(a: Array[Float], b: Array[Float]): Double = {
          var s = 0.0; var i = 0
          while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
          s
        }
        def cos(a: Array[Float], b: Array[Float]): Double =
          dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)) + 1e-12)
        val selected = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Double, Double, Array[Float])]
        val remaining = scala.collection.mutable.ArrayBuffer(cs: _*)
        var step = 1L
        while (step <= kk && remaining.nonEmpty) {
          var bestI = -1; var bestScore = Double.NegativeInfinity
          var bestId = Long.MaxValue
          var i = 0
          while (i < remaining.length) {
            val (cid, rel, cv) =
              (remaining(i)._2, remaining(i)._3, remaining(i)._5)
            var ms = 0.0
            var j = 0
            while (j < selected.length) {
              val s = cos(cv, selected(j)._5)
              ms = if (j == 0) s else math.max(ms, s)
              j += 1
            }
            val sc = lam * rel - (1.0 - lam) * ms
            if (sc > bestScore || (sc == bestScore && cid < bestId)) {
              bestI = i; bestScore = sc; bestId = cid
            }
            i += 1
          }
          val pick = remaining.remove(bestI)
          selected += ((pick._2, step, pick._3, bestScore, pick._5))
          step += 1
        }
        selected.iterator.map(s => (qid, s._2, s._1, s._3, s._4))
      }
      .toDF("query_id", "mmr_rank", "corpus_id", "rel", "mmr_score")
  }
}
