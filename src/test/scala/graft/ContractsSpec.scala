package graft

import org.apache.spark.sql.functions._
import graft.operators.Contracts
import graft.operators.Contracts.Bound

/** `Contracts.checkpoint` against `Contracts.enforce`: the same values,
  * the same messages, judged before the frame comes back. */
class ContractsSpec extends SparkTestBase {
  import spark.implicits._

  private def frame = Seq((1L, 10L), (1L, 20L), (2L, -5L), (3L, 7L))
    .toDF("k", "x")

  private val bounds = Seq(
    Contracts.read(count(lit(1))),
    Bound(max(col("x")), _ <= 100L, m => s"max $m over 100"),
    Bound(sum(when(col("x") < 0L, 1L).otherwise(0L)), _ <= 1L,
      n => s"$n negative rows"))

  test("checkpoint returns the values enforce returns on the same frame") {
    val (done, values) = Contracts.checkpoint(frame, bounds: _*)
    assert(values == Contracts.enforce(frame, bounds: _*))
    assert(values == IndexedSeq(4L, 20L, 1L))
    assert(done.orderBy("k", "x").as[(Long, Long)].collect().toSeq ==
      frame.orderBy("k", "x").as[(Long, Long)].collect().toSeq)
  }

  test("checkpoint throws the failing bound's message before it returns") {
    var returned = false
    val e = intercept[IllegalArgumentException] {
      Contracts.checkpoint(frame,
        Bound(max(col("x")), _ <= 15L, m => s"max $m over 15"))
      returned = true
    }
    assert(e.getMessage == "requirement failed: max 20 over 15")
    assert(!returned)
  }

  test("an empty or pruned input passes and reads 0") {
    val empty = frame.where(col("x") > 1000L) // pruned only at run time
    val pruned = frame.where(lit(false))       // the optimizer proves it empty
    for (df <- Seq(empty, pruned)) {
      val (done, values) = Contracts.checkpoint(df,
        Bound(max(col("x")), _ < 0L, m => s"max $m"),
        Bound(count(lit(1)), _ == 0L, n => s"$n rows"))
      assert(values == IndexedSeq(0L, 0L))
      assert(done.count() == 0L)
    }
  }

  test("a fused pass with two failing bounds throws the first one's message") {
    val perKey = frame.groupBy(col("k"))
      .agg(count(lit(1)).as("__k"), sum(col("x")).as("__s"))
    val first = Contracts.perKey(max(col("__k")), 1L, "op", "rows", "Shard.")
    val second = Bound(max(col("__s")), _ <= 10L, s => s"op: a key sums to $s")
    val e = intercept[IllegalArgumentException](
      Contracts.enforce(perKey, first, second))
    assert(e.getMessage == "requirement failed: op: a key holds 2 rows, " +
      "exceeding the bounded-histogram contract (limit=1). Shard.")
    // the same message as the standalone per-key contract
    val alone = intercept[IllegalArgumentException](
      Contracts.boundedPerKey(frame, "k", 1L, "op", "rows", "Shard."))
    assert(alone.getMessage == e.getMessage)
    val swapped = intercept[IllegalArgumentException](
      Contracts.enforce(perKey, second, first))
    assert(swapped.getMessage == "requirement failed: op: a key sums to 30")
  }
}
