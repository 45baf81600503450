package graft

import org.apache.spark.sql.functions._
import graft.operators.{ClipOps, Flame, Vision}
import graft.sources.ClipCatalog

/** Vision stub operators end-to-end: detect -> best-face -> landmarks ->
  * EMOCA codes -> FLAME, plus the binary clip scan. */
class VisionSpec extends SparkTestBase {
  import spark.implicits._

  private val frames = Seq(
    ("clip_a", Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5, 6))),
    ("clip_b", Seq(Array[Byte](7, 8, 9))))

  test("detectFaces emits (N,5) candidates per frame; bestFacePerFrame picks max score") {
    val df = frames.toDF("name", "frames")
    val det = Vision.withDetections(df, "frames").select("name", "raw_bboxes")
    val rows = det.orderBy("name").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("clip_a", "clip_b"))
    val cands = rows(0).getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](1)
    assert(cands.length == 2) // one entry per frame
    assert(cands.forall(_.forall(_.length == 5)))
    // best-face selection over the candidate lists (as struct rows)
    val best = det.select(col("name"),
        expr("transform(raw_bboxes, f -> transform(f, c -> struct(c[0] as x1, c[1] as y1, c[2] as x2, c[3] as y2, c[4] as score)))").as("cand"))
      .select(col("name"), ClipOps.bestFacePerFrame(col("cand")).as("best"))
      .orderBy("name").head
    val firstFrameBest = best.getSeq[org.apache.spark.sql.Row](1).head
    if (firstFrameBest != null) {
      val score = firstFrameBest.getDouble(4)
      assert(score >= 0.4)
    }
  }

  test("bestFacePerFrame: a face-less frame degrades to null, not an ANSI error") {
    // frame 1 has two candidates (max score wins), frame 2 has NONE —
    // indexing the empty sorted array must yield the documented null,
    // not INVALID_ARRAY_INDEX_IN_ELEMENT_AT under Spark 4 default ANSI
    val df = spark.range(1).select(expr(
      """array(
        |  array(struct(0.1d as x1, 0.2d as y1, 0.5d as x2, 0.6d as y2, 0.9d as score),
        |        struct(0.0d as x1, 0.0d as y1, 1.0d as x2, 1.0d as y2, 0.4d as score)),
        |  cast(array() as array<struct<x1:double,y1:double,x2:double,y2:double,score:double>>)
        |) as cand""".stripMargin))
    val best = df.select(ClipOps.bestFacePerFrame(col("cand")).as("best")).head
    val frames = best.getSeq[org.apache.spark.sql.Row](0)
    assert(frames.length == 2)
    assert(frames(0).getDouble(4) == 0.9)
    assert(frames(1) == null)
  }

  test("alignFaces emits 68 struct<x,y> landmarks per frame; emoca emits §1.3 shapes") {
    val df = frames.toDF("name", "frames")
    val lm = Vision.withLandmarks(df, "frames").select("name", "landmarks")
      .orderBy("name").head
    val perFrame = lm.getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](1)
    assert(perFrame.head.length == 68 && perFrame.head.forall(_.length == 2))
    def emoca = Vision.withEmoca(df, "frames")
      .select("name", "shape", "tex", "exp", "pose", "cam", "light").orderBy("name").head
    val codes = emoca
    assert(codes.getSeq[scala.collection.Seq[Double]](1).head.length == 100) // shape
    assert(codes.getSeq[scala.collection.Seq[Double]](3).head.length == 50)  // exp
    assert(codes.getSeq[scala.collection.Seq[Double]](4).head.length == 6)   // pose
    assert(codes.getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](6).head.length == 9) // light 9x3
    // determinism
    val codes2 = emoca
    assert(codes.getSeq[scala.collection.Seq[Double]](1) == codes2.getSeq[scala.collection.Seq[Double]](1))
  }

  test("binary clip scan derives names from paths") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scan")
    val sub = dir.resolve("actor1/take2"); java.nio.file.Files.createDirectories(sub)
    java.nio.file.Files.write(sub.resolve("video.mp4"), Array[Byte](9, 9))
    java.nio.file.Files.write(sub.resolve("skipme.txt"), Array[Byte](1))
    val scanned = ClipCatalog.scanBinaryType(spark, dir.toString, "mp4", "video")
      .collect()
    assert(scanned.length == 1)
    assert(scanned(0).getString(0) == "actor1_take2_video")
    assert(scanned(0).getAs[Array[Byte]](1).toSeq == Seq[Byte](9, 9))
  }

  test("emoca codes drive the FLAME forward pass per frame") {
    val codes = Vision.StubEmoca(Array[Byte](1, 2, 3))
    // tiny FLAME model accepting 100-dim shape / 50-dim exp by truncation
    val m = Flame.FlameModel(
      template = Array(0, 0, 0, 1, 0, 0, 0, 1, 0),
      shapedirs = Array.tabulate(100)(k => Array.fill(9)(if (k == 0) 0.1 else 0.0)),
      expdirs = Array.tabulate(50)(k => Array.fill(9)(if (k == 0) 0.05 else 0.0)),
      posedirs = Array.empty,
      jRegressor = Array(Array(1.0, 0, 0), Array(0, 1.0, 0)),
      parents = Array(-1, 0),
      lbsWeights = Array(Array(1.0, 0), Array(0, 1.0), Array(0.5, 0.5)),
      lmkFaces = Array(Array(0, 1, 2)),
      lmkBary = Array(Array(1.0 / 3, 1.0 / 3, 1.0 / 3)))
    val (verts, lmk) = Flame.forward(m, codes.shape, codes.exp,
      codes.pose.take(6))
    assert(verts.length == 9 && lmk.length == 3)
    assert(verts.forall(v => !v.isNaN))
  }
}
