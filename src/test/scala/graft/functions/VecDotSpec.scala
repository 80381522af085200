package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.llm.Similarity

/** Native vec_dot expression: correctness vs the HOF formulation, and
  * codegen registration paths. */
class VecDotSpec extends SparkSpec {

  test("vec_dot matches the HOF dot product on float arrays") {
    import spark.implicits._
    VecDot.register(spark)
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (2L, Array(0.5f, -1.5f), Array(2.0f, 2.0f))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"),
      call_function("vec_dot", col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"),
        (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("hof"))
      .collect()
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("native") - r.getAs[Double]("hof"))
        < 1e-12)
    }
    assert(math.abs(out.find(_.getLong(0) == 1L).get
      .getAs[Double]("native") - 32.0) < 1e-6)
  }

  test("GraftExtensions injects vec_dot at session build (SQL path)") {
    import org.apache.spark.sql.SparkSessionExtensions
    // record what the extension injects, then register it the way a
    // session built with `spark.sql.extensions` does, into a sibling
    // session (the shared fixture's registry stays as it is)
    val ext = new SparkSessionExtensions {
      val injected =
        scala.collection.mutable.ArrayBuffer.empty[FunctionDescription]
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f
        super.injectFunction(f)
      }
    }
    new GraftExtensions()(ext)
    assert(ext.injected.map(_._1.funcName).contains("vec_dot"))
    val withExt = spark.newSession()
    ext.injected.foreach { case (id, info, builder) =>
      withExt.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    assert(withExt.catalog.functionExists("vec_dot"))
    val got = withExt
      .sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(math.abs(got - 11.0) < 1e-12)
  }

  test("vec_dot agrees with Similarity.cosine on real embeddings shape") {
    import spark.implicits._
    VecDot.register(spark)
    val rng = new scala.util.Random(1)
    val rows = (0 until 20).map(i =>
      (i.toLong, Array.fill(64)(rng.nextFloat()),
        Array.fill(64)(rng.nextFloat())))
    val df = rows.toDF("id", "a", "b")
    val dot = call_function("vec_dot", col("a"), col("b"))
    val nrm = sqrt(call_function("vec_dot", col("a"), col("a"))) *
      sqrt(call_function("vec_dot", col("b"), col("b"))) + lit(1e-12)
    val out = df.select(
      (dot / nrm).as("native"),
      Similarity.cosine(col("a"), col("b")).as("hof")).collect()
    out.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9)
    }
  }

  test("vec_dot runs natively on tinyint arrays (quantized coarse stage)") {
    import spark.implicits._
    VecDot.register(spark)
    // Seq[Byte], not Array[Byte]: the latter encodes as BINARY
    val df = Seq(
      (1L, Seq[Byte](1, -2, 3), Seq[Byte](4, 5, -6)),
      (2L, Seq[Byte](127, -127), Seq[Byte](127, 127))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"),
        call_function("vec_dot", col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) === (4 - 10 - 18).toDouble)
    assert(out(2L) === (127 * 127 - 127 * 127).toDouble)
    // mixed byte × float also types
    val mixed = Seq((Seq[Byte](2, 3), Array(0.5f, 2.0f)))
      .toDF("a", "b")
      .select(call_function("vec_dot", col("a"), col("b")))
      .head().getDouble(0)
    assert(math.abs(mixed - 7.0) < 1e-12)
  }
}
