package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Recall of the OR-amplified hyperplane-LSH ANN surface against the
  * brute-force baseline on the driver-generated sf0.01 embeddings
  * (500 × 64-float, diffuse: top neighbors at cosine 0.26–0.40).
  *
  * Round 2's single 16-bit band had ~2% collision probability even for
  * cosine-0.8 pairs and returned zero rows; these tests pin the fix.
  */
class AnnRecallSpec extends SparkSpec {

  private val embPath = "/root/testdata/sf0.01/embeddings.parquet"
  private def haveData = new java.io.File(embPath).exists()

  test("lshTopK recall >= 0.8 vs bruteForceTopK on sf0.01 embeddings") {
    assume(haveData)
    val emb = spark.read.parquet(embPath)
    val queries = emb.filter(col("vec_id") < 20)
    val k = 3
    val truth = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.lshTopK(emb, queries, "vec_id", "embedding", k,
        planes = 16, bands = 8)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val recall = (truth & ann).size.toDouble / truth.size
    assert(recall >= 0.8, s"ANN recall $recall < 0.8 (${truth.size} truths)")
  }

  test("lshPairs finds most pairs above threshold (embeddingNearDup path)") {
    assume(haveData)
    val emb = spark.read.parquet(embPath)
    // exact pair count >= 0.4 is 59 at sf0.01 (measured via DuckDB);
    // compute it here from brute force over the 500-vector corpus
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("__a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("__b"))
    val exact = a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosineNative(col("__a"), col("__b")))
      .filter(col("cosine") >= 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDup(emb, "vec_id", "embedding",
        minCosine = 0.4, planes = 16, bands = 8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact), "LSH must never emit a below-threshold pair")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.8, s"near-dup recall $recall < 0.8 (${exact.size} pairs)")
  }

  test("ivfTopK recall vs brute force on sf0.01 embeddings") {
    assume(haveData)
    val emb = spark.read.parquet(embPath)
    val queries = emb.filter(col("vec_id") < 20)
    val k = 3
    val truth = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for ((nProbe, minRecall) <- Seq(8 -> 0.7, 16 -> 0.999)) {
      val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k,
          nList = 16, nProbe = nProbe)
        .select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (truth & ivf).size.toDouble / truth.size
      info(s"IVF nList=16 nProbe=$nProbe recall=$recall")
      assert(recall >= minRecall,
        s"IVF recall $recall < $minRecall at nProbe=$nProbe")
    }
  }

  test("maxBucketSize bounds candidates under an adversarial constant corpus") {
    import spark.implicits._
    // 300 identical vectors: every band bucket holds the whole corpus, so
    // an uncapped join would generate ~bands * n^2/2 candidate pairs. The
    // cap must drop the hot buckets (graceful recall loss) instead.
    val v = Array.fill(32)(1.0f)
    val df = (0 until 300).map(i => (i.toLong, v)).toDF("vec_id", "embedding")
    val capped = Similarity.lshPairs(df, "vec_id", "embedding",
      planes = 16, bands = 8, maxBucketSize = 50)
    assert(capped.count() === 0L,
      "hot buckets above the cap must be dropped, not joined")
    // stats relation shows exactly what the cap removed
    val stats = Similarity.lshBucketStats(df, "vec_id", "embedding", 16, 8)
      .agg(max("bucket_size"), sum("pair_volume")).collect().head
    assert(stats.getLong(0) === 300L)
    // and an uncapped run on a SMALL slice still works (sanity that the
    // cap, not the operator, removed the pairs)
    val small = (0 until 20).map(i => (i.toLong, v)).toDF("vec_id", "embedding")
    val uncapped = Similarity.lshPairs(small, "vec_id", "embedding",
      planes = 16, bands = 8, maxBucketSize = Int.MaxValue)
    assert(uncapped.count() === 190L, "20 identical vectors → C(20,2) pairs")
  }

  test("planted near-duplicates are recovered with wide bands") {
    import spark.implicits._
    // a corpus with a REAL similarity gap: 40 base vectors + 10 jittered
    // copies (cosine ~0.99); wide 4-bit bands must still catch all copies
    val rng = new scala.util.Random(7)
    val base = (0 until 40).map(i => (i.toLong, Array.fill(32)(rng.nextGaussian().toFloat)))
    val dups = (0 until 10).map { i =>
      val (bid, v) = base(i)
      (100L + bid, v.map(x => x + 0.02f * rng.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val found = Dedup.embeddingNearDup(df, "vec_id", "embedding",
        minCosine = 0.95, planes = 16, bands = 4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 10).map(i => (i.toLong, 100L + i)).toSet
    assert((expected & found).size >= 9,
      s"planted-dup recall ${(expected & found).size}/10 < 9")
  }

  test("persisted IVF index round-trips and searches identically") {
    assume(haveData)
    val emb = spark.read.parquet(embPath)
    val queries = emb.filter(col("vec_id") < 10)
    val k = 3
    val index = Similarity.ivfBuild(emb, "vec_id", "embedding", nList = 16)
    val direct = Similarity.ivfSearch(index, queries, "vec_id",
        "embedding", k, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    try {
      Similarity.writeIvf(index, dir)
      val reread = Similarity.readIvf(spark, dir)
      assert(reread.centroids === index.centroids)
      val fromDisk = Similarity.ivfSearch(reread, queries, "vec_id",
          "embedding", k, nProbe = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(fromDisk === direct)
      // the cell layout on disk is partitioned by cell id, so a probe's
      // candidate read prunes at file-listing level
      val cellDirs = new java.io.File(s"$dir/cells").listFiles()
        .filter(_.getName.startsWith("__cell=")).map(_.getName)
      assert(cellDirs.length == 16, s"expected 16 cell partitions: ${cellDirs.toSeq}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("ivfTopKQ8 recall >= 0.95 vs brute force; int8 coarse loses nothing vs float IVF") {
    assume(haveData)
    val emb = spark.read.parquet(embPath)
    val queries = emb.filter(col("vec_id") < 20)
    val k = 3
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = ids(Similarity.bruteForceTopK(queries, emb, "vec_id",
      "embedding", k))
    // full-probe: quantization is the only approximation left, and the
    // oversampled re-rank must absorb it (measured 1.0)
    val q8Full = ids(Similarity.ivfTopKQ8(emb, queries, "vec_id",
      "embedding", k, nList = 16, nProbe = 16))
    val rFull = (truth & q8Full).size.toDouble / truth.size
    assert(rFull >= 0.95, s"ivfTopKQ8 full-probe recall $rFull < 0.95")
    // at the registered nProbe=8: whatever the float IVF returns, the
    // int8 coarse stage must return the same (probing, not rounding, is
    // the approximation)
    val float8 = ids(Similarity.ivfTopK(emb, queries, "vec_id",
      "embedding", k, nList = 16, nProbe = 8))
    val q88 = ids(Similarity.ivfTopKQ8(emb, queries, "vec_id",
      "embedding", k, nList = 16, nProbe = 8))
    val rVsFloat = (float8 & q88).size.toDouble / float8.size
    info(s"q8 vs float IVF at nProbe=8: $rVsFloat")
    assert(rVsFloat >= 0.95, s"int8 coarse diverges from float IVF: $rVsFloat")
  }

  test("quantized IVF index round-trips with its scale and searches identically") {
    assume(haveData)
    val emb = spark.read.parquet(embPath)
    val queries = emb.filter(col("vec_id") < 10)
    val index = Similarity.ivfBuild(emb, "vec_id", "embedding",
      nList = 16, quantize = true)
    assert(index.q8Scale.exists(_ > 0))
    assert(index.cells.columns.contains("__cq"))
    val direct = Similarity.ivfSearchQ8(index, queries, "vec_id",
        "embedding", 3, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val dir = java.nio.file.Files.createTempDirectory("ivfq8").toString
    try {
      Similarity.writeIvf(index, dir)
      val reread = Similarity.readIvf(spark, dir)
      assert(reread.q8Scale === index.q8Scale,
        "build-time scale must survive persistence — a search must never " +
          "rescan the corpus to learn it")
      assert(reread.cells.columns.contains("__cq"))
      val fromDisk = Similarity.ivfSearchQ8(reread, queries, "vec_id",
          "embedding", 3, nProbe = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(fromDisk === direct)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("quantizedTopK recall >= 0.95 vs bruteForceTopK (int8 coarse + exact re-rank)") {
    assume(haveData)
    val emb = spark.read.parquet(embPath)
    val queries = emb.filter(col("vec_id") < 20)
    val k = 3
    val truth = Similarity.bruteForceTopK(queries, emb, "vec_id",
        "embedding", k)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q8 = Quantize.quantizedTopK(queries, emb, "vec_id", "embedding", k)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val recall = (truth & q8).size.toDouble / truth.size
    assert(recall >= 0.95, s"quantized recall $recall < 0.95")
  }

  test("quantized vectors are tinyint arrays clamped to ±127") {
    assume(haveData)
    val emb = spark.read.parquet(embPath)
    val scale = Quantize.fitScale(emb, "embedding")
    val q = emb.select(Quantize.quantized(col("embedding"), scale).as("q8"))
    assert(q.schema("q8").dataType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, true))
    val mx = q.select(max(aggregate(col("q8"), lit(0),
      (acc, x) => greatest(acc, abs(x.cast("int")))))).head().getInt(0)
    assert(mx <= 127 && mx > 0)
    // a vector beyond the fitted range saturates instead of overflowing
    import spark.implicits._
    val hot = Seq(Tuple1(Array(scale.toFloat * 2, -scale.toFloat * 2)))
      .toDF("embedding")
    val sat = hot.select(Quantize.quantized(col("embedding"), scale))
      .head().getSeq[Byte](0)
    assert(sat === Seq[Byte](127, -127))
  }

  test("production wide-band setting keeps candidate volume < 5% of all-pairs") {
    assume(haveData)
    // the registered q_embed_neardup runs 2-bit bands (planes=16,
    // bands=8) because THIS corpus's near-dup range is a diffuse
    // 0.4-0.51 — its bench cost is a data artifact, not the operator's
    // scale behavior. The production setting for a real near-dup corpus
    // (target cosine >= 0.9) is 8-bit bands (planes=64, bands=8): pin
    // via lshBucketStats that its candidate volume on 500 diffuse
    // vectors stays under 5% of C(500,2) — the selectivity a 100 TB run
    // rides on.
    val emb = spark.read.parquet(embPath)
    val n = emb.count()
    val allPairs = n * (n - 1) / 2
    val vol = Similarity.lshBucketStats(emb, "vec_id", "embedding",
        planes = 64, bands = 8)
      .agg(sum("pair_volume").cast("double")).collect().head.getDouble(0)
    assert(vol < allPairs / 20.0,
      s"wide-band candidate volume $vol >= 5% of $allPairs all-pairs")
  }

  test("pqTopK recall >= 0.9 vs brute force (ADC coarse + exact re-rank)") {
    assume(haveData)
    val emb = spark.read.parquet(embPath)
    val queries = emb.filter(col("vec_id") < 20)
    val k = 3
    val truth = Similarity.bruteForceTopK(queries, emb, "vec_id",
        "embedding", k)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Pq.pqTopK(emb, queries, "vec_id", "embedding", k,
        oversample = 8)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val recall = (truth & pq).size.toDouble / truth.size
    assert(recall >= 0.9, s"PQ recall $recall < 0.9 (${truth.size} truths)")
  }

  test("ivfAppend: incrementally-grown index searches identically to a one-pass build") {
    assume(haveData)
    val emb = spark.read.parquet(embPath)
    val first = emb.filter(col("vec_id") % 2 === 0)
    val second = emb.filter(col("vec_id") % 2 === 1)
    val queries = emb.filter(col("vec_id") < 10)
    // build (quantized) on the first half, persist, append the second
    val idx = Similarity.ivfBuild(first, "vec_id", "embedding",
      nList = 16, quantize = true)
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_append").toString
    try {
      Similarity.writeIvf(idx, dir)
      Similarity.ivfAppend(idx, second, "vec_id", "embedding", dir)
      val grown = Similarity.readIvf(spark, dir)
      // expected: the SAME frozen centroids assigning the full corpus
      // in one pass (what a from-scratch write of both halves yields)
      val model = graft.models.DetKMeans.Model(
        idx.centroids.map(_.toArray).toArray)
      val scale = idx.q8Scale.get
      val oneShotCells = emb
        .select(col("vec_id").as("corpus_id"), col("embedding").as("__cv"))
        .withColumn("__cq", graft.llm.Quantize.quantized(col("__cv"), scale))
        .withColumn("__dv", col("__cv").cast("array<double>"))
        .withColumn("__cell", model.assignExpr(col("__dv")))
        .drop("__dv")
      val oneShot = Similarity.IvfIndex(oneShotCells, idx.centroids,
        idx.q8Scale)
      def rows(i: Similarity.IvfIndex, q8: Boolean) =
        (if (q8) Similarity.ivfSearchQ8(i, queries, "vec_id", "embedding", 3)
         else Similarity.ivfSearch(i, queries, "vec_id", "embedding", 3))
          .collect().map(_.toSeq).toSet
      assert(rows(grown, q8 = false) === rows(oneShot, q8 = false),
        "float search over the appended index diverged from one-pass")
      assert(rows(grown, q8 = true) === rows(oneShot, q8 = true),
        "int8 search over the appended index diverged from one-pass")
      // appended rows really landed in pruned cell partitions
      val cells = new java.io.File(s"$dir/cells").listFiles()
        .count(_.getName.startsWith("__cell="))
      assert(cells > 2)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("ivfPqTopK recall vs brute force (IVFADC: probed cells + residual PQ + re-rank)") {
    assume(haveData)
    val emb = spark.read.parquet(embPath)
    val queries = emb.filter(col("vec_id") < 20)
    val k = 3
    val truth = Similarity.bruteForceTopK(queries, emb, "vec_id",
        "embedding", k)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    // full probe isolates the residual-PQ approximation (same bar as
    // flat pqTopK); the partial probe adds the IVF cell-miss loss on
    // this diffuse corpus (same floor as float ivfTopK at nProbe=8)
    for ((nProbe, minRecall) <- Seq(8 -> 0.7, 16 -> 0.9)) {
      val ann = Pq.ivfPqTopK(emb, queries, "vec_id", "embedding", k,
          nList = 16, nProbe = nProbe, oversample = 8)
        .select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (truth & ann).size.toDouble / truth.size
      info(s"IVF-PQ nList=16 nProbe=$nProbe recall=$recall")
      assert(recall >= minRecall,
        s"IVF-PQ recall $recall < $minRecall at nProbe=$nProbe")
    }
  }

  test("persisted IVF-PQ index round-trips and searches identically") {
    assume(haveData)
    val emb = spark.read.parquet(embPath)
    val queries = emb.filter(col("vec_id") < 5)
    val idx = Pq.ivfPqBuild(emb, "vec_id", "embedding")
    val direct = Pq.ivfPqSearch(idx, emb, queries, "vec_id", "embedding", 3)
      .collect().map(_.toSeq).toSet
    val dir = java.nio.file.Files
      .createTempDirectory("ivfpq_idx").toString
    Pq.writeIvfPq(idx, dir)
    val idx2 = Pq.readIvfPq(spark, dir)
    assert(idx2.model.codebooks === idx.model.codebooks,
      "codebooks must survive the round-trip bit-for-bit")
    assert(idx2.centroids === idx.centroids,
      "cell centroids must survive the round-trip bit-for-bit")
    val replayed = Pq.ivfPqSearch(idx2, emb, queries, "vec_id",
      "embedding", 3).collect().map(_.toSeq).toSet
    assert(replayed === direct)
  }

  test("persisted PQ index round-trips and searches identically") {
    assume(haveData)
    val emb = spark.read.parquet(embPath)
    val queries = emb.filter(col("vec_id") < 5)
    val model = Pq.pqTrain(emb, "vec_id", "embedding")
    val codes = Pq.pqEncode(model, emb, "vec_id", "embedding")
    val direct = Pq.pqSearch(model, codes, emb, queries, "vec_id",
      "embedding", 3).collect().map(_.toSeq).toSet
    val dir = java.nio.file.Files
      .createTempDirectory("pq_idx").toString
    Pq.writePq(model, codes, dir)
    val (model2, codes2) = Pq.readPq(spark, dir)
    assert(model2.codebooks === model.codebooks,
      "codebooks must survive the round-trip bit-for-bit")
    val replayed = Pq.pqSearch(model2, codes2, emb, queries, "vec_id",
      "embedding", 3).collect().map(_.toSeq).toSet
    assert(replayed === direct)
  }

  test("PQ codes are m tinyints and compress the scanned column") {
    assume(haveData)
    val emb = spark.read.parquet(embPath)
    val model = Pq.pqTrain(emb, "vec_id", "embedding")
    val codes = Pq.pqEncode(model, emb, "vec_id", "embedding")
    assert(codes.schema("__code").dataType.simpleString ===
      "array<tinyint>")
    val row = codes.select(size(col("__code")),
      array_max(col("__code")).cast("int")).head()
    assert(row.getInt(0) === 16)
    assert(row.getInt(1) < 64, "codewords must index into ksub=64")
  }

  test("appended PQ codes search identically to a one-pass encode") {
    assume(haveData)
    val emb = spark.read.parquet(embPath)
    val first = emb.filter(col("vec_id") < 250)
    val second = emb.filter(col("vec_id") >= 250)
    val queries = emb.filter(col("vec_id") < 5)
    // train on the first half only — append must NOT refit
    val model = Pq.pqTrain(first, "vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("pq_append").toString
    try {
      Pq.writePq(model, Pq.pqEncode(model, first, "vec_id", "embedding"),
        dir)
      Pq.pqAppend(model, second, "vec_id", "embedding", dir)
      val (m2, grown) = Pq.readPq(spark, dir)
      assert(m2.codebooks === model.codebooks)
      val oneShot = Pq.pqEncode(model, emb, "vec_id", "embedding")
      def rows(c: org.apache.spark.sql.DataFrame) =
        Pq.pqSearch(model, c, emb, queries, "vec_id", "embedding", 3)
          .collect().map(_.toSeq).toSet
      assert(rows(grown) === rows(oneShot),
        "search over appended codes diverged from one-pass encode")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  test("appended IVF-PQ batch lands in pruned cell partitions and searches one-pass-identical") {
    assume(haveData)
    val emb = spark.read.parquet(embPath)
    val first = emb.filter(col("vec_id") < 250)
    val second = emb.filter(col("vec_id") >= 250)
    val queries = emb.filter(col("vec_id") < 5)
    val idx = Pq.ivfPqBuild(first, "vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("ivfpq_append").toString
    try {
      Pq.writeIvfPq(idx, dir)
      Pq.ivfPqAppend(idx, second, "vec_id", "embedding", dir)
      val grown = Pq.readIvfPq(spark, dir)
      // one-pass reference: the SAME frozen centroids + codebooks
      // encoding the full corpus (what a from-scratch write of both
      // halves with this model yields)
      val km = graft.models.DetKMeans.Model(
        idx.centroids.map(_.toArray).toArray)
      val oneShotCodes = Pq.unitized(emb, "vec_id", "embedding")
        .withColumn("__cell", km.assignExpr(col("__dv")))
        .withColumn("__rv", zip_with(col("__dv"),
          element_at(typedlit(idx.centroids), col("__cell") + lit(1)),
          (x, c) => x - c))
        .select(col("__ord").as("corpus_id"), col("__cell"),
          call_function("pq_codes", col("__rv"),
            typedlit(idx.model.codebooks)).as("__code"))
      val oneShot = Pq.IvfPqIndex(oneShotCodes.localCheckpoint(false),
        idx.centroids, idx.model)
      def rows(i: Pq.IvfPqIndex) =
        Pq.ivfPqSearch(i, emb, queries, "vec_id", "embedding", 3)
          .collect().map(_.toSeq).toSet
      assert(rows(grown) === rows(oneShot),
        "search over the appended IVF-PQ index diverged from one-pass")
      val cells = new java.io.File(s"$dir/codes").listFiles()
        .count(_.getName.startsWith("__cell="))
      assert(cells > 2, "appended codes must land in cell partitions")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  test("randomProject matches a driver-side recomputation exactly") {
    assume(haveData)
    val emb = spark.read.parquet(embPath).limit(20)
    val got = emb.select(col("vec_id"),
        Similarity.randomProject(col("embedding"), 64, 16).as("p"),
        col("embedding"))
      .collect()
    val M = 2147483647L
    got.foreach { r =>
      val v = r.getSeq[Float](2)
      val p = r.getSeq[Double](1)
      (0 until 16).foreach { i =>
        var acc = 0.0
        (0 until 64).foreach { j =>
          val flat = i.toLong * 64 + j
          val mixed = (flat * flat % M * 48271L +
            flat * 1000003L + 12345L) % M
          val h = ((mixed % (M - 1)) + 1) * 48271L % M
          val s = 1.0 - 2.0 * (h % 2)
          acc += s * v(j).toDouble
        }
        val exp = acc / math.sqrt(16.0)
        assert(math.abs(p(i) - exp) < 1e-12,
          s"vec ${r.getLong(0)} dim $i: ${p(i)} vs $exp")
      }
    }
  }

  test("randomProject approximately preserves pairwise cosine (JL property)") {
    assume(haveData)
    val emb = spark.read.parquet(embPath).limit(60)
    def cosines(vecCol: String, dim: Int) = {
      val d = emb.select(col("vec_id"),
        (if (dim == 64) col("embedding").cast("array<double>")
         else Similarity.randomProject(col("embedding"), 64, dim))
          .as(vecCol))
      val a = d.select(col("vec_id").as("ia"), col(vecCol).as("va"))
      val b = d.select(col("vec_id").as("ib"), col(vecCol).as("vb"))
      a.join(b, col("ia") < col("ib"))
        .select(col("ia"), col("ib"),
          Similarity.cosine(col("va"), col("vb")).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
    }
    val full = cosines("v64", 64)
    val proj = cosines("v16", 16)
    // JL at m=16 is coarse — bound the MEAN absolute distortion, not
    // the max: random-sign projection keeps E|Δcos| ≈ 1/√m ≈ 0.25;
    // a broken sign matrix (constant signs, wrong hash) blows past it
    val err = full.keys.toSeq.map(k => math.abs(full(k) - proj(k)))
    val mean = err.sum / err.size
    assert(mean < 0.25, f"mean cosine distortion $mean%.3f too large")
    assert(err.max < 0.9, f"worst-case distortion ${err.max}%.3f absurd")
  }
}
