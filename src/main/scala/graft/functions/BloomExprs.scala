package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Session registration for Spark's OWN runtime-filter expression pair
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the machinery
  * behind `spark.sql.optimizer.runtime.bloomFilter.*`), exposed as named
  * functions so an operator can build and apply a join-pruning bloom
  * filter EXPLICITLY instead of depending on the optimizer's size
  * thresholds to inject one. Both are codegen'd; the key is xxhash64'd
  * on both the build and probe side exactly as `InjectRuntimeFilter`
  * wires it (the sketch stores 64-bit hashes, so the hash function must
  * match on both sides).
  */
object BloomExprs {

  def register(spark: SparkSession): SparkSession =
    graft.GraftFunctions.registerOnce(spark, "bloom_might_contain") {
      val fr = spark.sessionState.functionRegistry
      // bloom_agg(key, estimatedItems) -> binary serialized sketch;
      // distributed TypedImperativeAggregate (map-side partial sketches)
      fr.createOrReplaceTempFunction(
        "bloom_agg", exprs => {
          require(exprs.length == 2,
            s"bloom_agg requires (key, estimatedItems), got ${exprs.length}")
          new BloomFilterAggregate(new XxHash64(Seq(exprs.head)), exprs(1))
        }, "built-in")
      // bloom_might_contain(serializedSketch, key) -> boolean; sketch must
      // be foldable (a literal) — deserialized once per task, not per row
      fr.createOrReplaceTempFunction(
        "bloom_might_contain", exprs => {
          require(exprs.length == 2,
            s"bloom_might_contain requires (bloom, key), got ${exprs.length}")
          BloomFilterMightContain(exprs.head, new XxHash64(Seq(exprs(1))))
        }, "built-in")
    }
}
