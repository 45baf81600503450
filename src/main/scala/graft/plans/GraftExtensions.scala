package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions._

/** SQL surface for the engine's expression library, registered through the
  * standard `SparkSessionExtensions` hook: a session built with
  * `.withExtensions(new GraftExtensions)` or with
  * `spark.sql.extensions=graft.plans.GraftExtensions`
  * makes the kernels available to pure-SQL users:
  * `SELECT savgol_filter(series, 25, 3) FROM clips`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
    // whole-operator surface: the custom as-of join planner strategy
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
  }
}

object GraftExtensions {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a literal int, got $other")
  }
  private def doubleArg(e: Expression, name: String): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: Int, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$name expects a literal double, got $other")
  }

  /** All (name, builder) pairs — shared by the extensions hook and
    * `registerAll` (post-hoc registration into a live session). */
  val builders: Seq[(String, Seq[Expression] => Expression)] = {
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(String, Seq[Expression] => Expression)]
    def register(name: String, builder: Seq[Expression] => Expression): Unit =
      buf += (name -> builder)

    register("savgol_filter", args =>
      SavitzkyGolay(args(0), intArg(args(1), "window"), intArg(args(2), "polyorder")))
    register("linear_resample", args => LinearResample(args(0), args(1), args(2)))
    register("linear_resample_vec", args => LinearResampleVec(args(0), args(1), args(2)))
    register("edge_moving_avg", args => EdgeMovingAvg(args(0), intArg(args(1), "window")))
    register("bucket_mean_abs", args => BucketMeanAbs(args(0), intArg(args(1), "hop")))
    register("rolling_hash", args => RollingHash(args(0), 31L, 2147483647L))
    register("tokenize", args => Tokenize(args(0)))
    register("word_shingles", args =>
      WordShingles(args(0), intArg(args(1), "n"), distinct = true))
    register("md5_long", args => Md5Long(args(0)))
    register("minhash_signature", args =>
      MinHashSignature(args(0),
        minhashPerms(intArg(args(1), "numPerms")).toSeq, MinhashPrime))
    register("simhash32", args => SimHash32(args(0)))
    register("jaccard_sorted", args => JaccardSortedLongs(args(0), args(1)))
    register("vec_dot", args => VecDot(args(0), args(1)))
    register("equal_size_boxes", args =>
      EqualSizeBoxes(args(0), doubleArg(args(1), "quantile")))
    register("smooth_boxes", args => SmoothBoxes(args(0)))
    register("chunk_spans", args =>
      ChunkSpans(args(0), intArg(args(1), "chunkTokens"), intArg(args(2), "overlap")))
    register("hist_cdf", args =>
      HistCdf(args(0), args(1), doubleArg(args(2), "lo"), doubleArg(args(3), "hi"),
        intArg(args(4), "nBins")))
    buf.toSeq
  }

  /** Register into an already-constructed session (the extensions hook
    * only runs at session build time). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    builders.foreach { case (name, b) =>
      org.apache.spark.sql.graftbridge.ExprBridge.registerFunction(spark, name, b)
    }
}
