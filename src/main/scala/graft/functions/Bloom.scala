package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Registry hooks for Spark's OWN bloom-filter expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the pair the
  * optimizer's `InjectRuntimeFilter` uses for runtime row-group
  * filtering). They are not SQL-registered by default; exposing them
  * as `bloom_agg` / `bloom_might_contain` lets a semi-join prefilter be
  * declared in the DataFrame API with full codegen — no UDF, no
  * driver-side re-implementation of the sketch.
  *
  * Contract (same as the optimizer's): values are pre-hashed with
  * `xxhash64`, the built filter is a BinaryType blob, and the probe
  * side must be a foldable literal (collect the one-row build result
  * and embed it — the blob is KB-sized for bench-corpus use).
  */
object Bloom {

  val aggInfo: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("bloom_agg"),
    new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_agg"),
    (children: Seq[Expression]) =>
      new BloomFilterAggregate(children(0), children(1), children(2)))

  val mightContainInfo: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("bloom_might_contain"),
    new ExpressionInfo(classOf[BloomFilterMightContain].getName,
      "bloom_might_contain"),
    (children: Seq[Expression]) =>
      BloomFilterMightContain(children(0), children(1)))
}
