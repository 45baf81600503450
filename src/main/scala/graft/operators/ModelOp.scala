package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.types.{StructField, StructType}

/** Batched per-partition model inference with lazily-loaded per-executor
  * resources — the Spark translation of the reference's `BaseResource`
  * lazy load/unload protocol (`dpl/processor/nodes/base.py:30-54`) and its
  * DataLoader batching (`audio.py:85-92`, `emoca.py:106-115`).
  *
  * A `ModelResource` describes how to construct the model once per executor
  * JVM; `ModelOp.appendBatches` runs a node's vectorized kernel over row
  * batches and appends its outputs to the rows it read, so a node chain
  * stays one narrow stage. The actual runtimes (wav2vec, face detector,
  * EMOCA) are pluggable — this container ships no model runtime, so those
  * ship as deterministic STUBS while [[Flame]] provides a real,
  * exactly-reproducible numeric op.
  */
trait ModelResource[M] extends Serializable {
  /** Unique key for the per-executor cache. */
  def key: String
  /** Construct the model (heavyweight; once per executor). */
  def load(): M
}

object ModelOp {
  // per-executor singleton cache, keyed by resource key
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  def resource[M](r: ModelResource[M]): M =
    cache.computeIfAbsent(r.key, _ => r.load().asInstanceOf[AnyRef]).asInstanceOf[M]

  /** The resource of a kernel that needs no model (a pure per-row codec). */
  val NoModel: ModelResource[Unit] = new ModelResource[Unit] {
    def key: String = "none"; def load(): Unit = ()
  }

  /** Run a node's kernel in place: every row of `df` keeps its columns and
    * gains `outFields`. `fn` gets the model and one batch of the `inputs`
    * columns (as rows, in `inputs` order) and returns one output row per
    * input row, in order. A row with a null input skips the kernel and
    * gets null outputs (`base.py:137-142`: it flows to the error channel).
    * One `mapPartitions`, no shuffle and no join back on the clip key;
    * batch size mirrors the reference's per-node `batch_size`
    * (BASELINE.md). */
  def appendBatches[M](df: DataFrame, inputs: Seq[String], outFields: Seq[StructField],
                       batchSize: Int, res: ModelResource[M])
                      (fn: (M, Seq[Row]) => Seq[Row]): DataFrame = {
    val idx = inputs.map(df.schema.fieldIndex)
    val nulls = Seq.fill(outFields.size)(null)
    val schema = StructType(df.schema.fields ++ outFields.map(_.copy(nullable = true)))
    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val live = batch.map(r => idx.forall(i => !r.isNullAt(i)))
        val args = batch.zip(live).collect { case (r, true) => Row.fromSeq(idx.map(r.get)) }
        val outs = (if (args.isEmpty) Nil else fn(resource(res), args)).iterator
        batch.iterator.zip(live.iterator).map { case (r, ok) =>
          Row.fromSeq(r.toSeq ++ (if (ok) outs.next().toSeq else nulls))
        }
      }
    }(RowEncoder.encoderFor(schema))
  }
}
