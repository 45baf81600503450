package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.operators.{Ffmpeg, ModelOp, ModelResource}

object CountingResource {
  val loads = new AtomicInteger(0)
}

/** ModelOp lazy-resource + batching behavior; ffmpeg op error channel. */
class ModelOpSpec extends SparkTestBase {
  import spark.implicits._

  test("appendBatches loads once per executor, batches rows in place, nulls stay null") {
    val res = new ModelResource[String] {
      val key = "counting-test"
      def load(): String = { CountingResource.loads.incrementAndGet(); "model" }
    }
    val df = (1L to 10L).map(i => (i, if (i == 4L) null else s"v$i"))
      .toDF("id", "v").repartition(2)
    val outFields = Seq(StructField("batch_size", IntegerType),
      StructField("echo", StringType))
    val appended = ModelOp.appendBatches(df, Seq("v"), outFields, batchSize = 3, res) {
      (m, batch) =>
        assert(m == "model")
        batch.map(r => Row(batch.size, r.getString(0)))
    }
    assert(appended.columns.toSeq == Seq("id", "v", "batch_size", "echo"))
    val out = appended.collect()
    assert(out.map(_.getLong(0)).sorted.toSeq == (1L to 10L))
    out.foreach { r =>
      if (r.getLong(0) == 4L) assert(r.isNullAt(2) && r.isNullAt(3))
      else assert(r.getString(3) == r.getString(1) && r.getInt(2) <= 3)
    }
    // single JVM: computeIfAbsent guarantees exactly one load across threads
    assert(CountingResource.loads.get() == 1)
  }

  test("ffmpeg ops degrade to the error channel when binaries are absent") {
    // absent binaries, or real ffmpeg on garbage input: every node appends
    // a null output to the row it read (error channel), never a crash
    val df = Seq(("clip_a", Array[Byte](1, 2, 3)), ("clip_b", null)).toDF("name", "video")
    val out = Ffmpeg.withFps(Ffmpeg.withVideoWav(Ffmpeg.withFrames(df, "video"),
      "video", 16000), "video")
    assert(out.columns.toSeq == Seq("name", "video", "frames", "wav", "fps"))
    val rows = out.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("clip_a", "clip_b"))
    assert(rows.forall(r => r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4)))
    val aac = Ffmpeg.withAacWav(Seq(("clip_a", Array[Byte](1, 2, 3))).toDF("name", "aac"),
      "aac", 16000).collect()
    assert(aac.length == 1 && aac(0).isNullAt(2))
  }
}
