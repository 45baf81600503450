package graft

import java.util.Base64
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Join, MapPartitions}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.Multimodal
import graft.plans.{NodeSpec, OpRegistry, Pipeline, PipelineReport, PipelineValidationError}
import graft.sources.{ClipCatalog, Npy}

/** Pipeline driver, clip catalog, and NPY codec tests. */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def clipTable = {
    // two clips with a 16kHz-ish wav (64 samples) and 68-pt landmarks x 3 frames
    def lm(off: Double) = Seq.tabulate(3)(f =>
      Seq.tabulate(68)(i => (off + i + f, off + (i * 3 % 7).toDouble)))
    Seq(
      ("clip_a", Seq.tabulate(64)(i => math.sin(i * 0.1)), lm(0.0)),
      ("clip_b", Seq.tabulate(64)(i => math.cos(i * 0.2)), lm(5.0)))
      .toDF("name", "wav", "raw_lm")
      .select(col("name"), col("wav"),
        transform(col("raw_lm"), f =>
          transform(f, p => struct(p("_1").as("x"), p("_2").as("y")))).as("landmarks"))
  }

  test("pipeline validates type-key wiring at bind time") {
    val ok = Pipeline(Seq(NodeSpec("volume"), NodeSpec("fixed_bboxes")), "/tmp/x")
    assert(ok.validate(Set("wav", "landmarks")) == Set("wav", "landmarks", "volume", "bboxes"))
    val badOp = Pipeline(Seq(NodeSpec("nope")), "/tmp/x")
    intercept[PipelineValidationError](badOp.validate(Set("wav")))
    val missingInput = Pipeline(Seq(NodeSpec("volume")), "/tmp/x")
    intercept[PipelineValidationError](missingInput.validate(Set("landmarks")))
    val dupOutput = Pipeline(Seq(NodeSpec("fixed_bboxes"), NodeSpec("emoca_like_bboxes")), "/tmp/x")
    intercept[PipelineValidationError](dupOutput.validate(Set("landmarks")))
  }

  test("pipeline executes, memoizes, and recomputes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pipe").toString
    val pipe = Pipeline(Seq(NodeSpec("volume"), NodeSpec("blinks")), dir)
    val (out1, rep1) = pipe.execute(spark, clipTable)
    assert(out1.columns.contains("volume") && out1.columns.contains("blinks"))
    assert(rep1.exists(r => r.node == "_pipeline" && r.status == "processed" && r.count == 2))
    // second run: both clips memoized away
    val (_, rep2) = pipe.execute(spark, clipTable)
    assert(rep2.exists(r => r.status == "skipped_memoized" && r.count == 2))
    assert(rep2.exists(r => r.status == "processed" && r.count == 0))
    // recompute ignores the manifest and overwrites: `clips` and
    // `_manifest` hold each clip once
    val (_, rep3) = pipe.execute(spark, clipTable, recompute = true)
    assert(rep3.exists(r => r.status == "processed" && r.count == 2))
    val written = spark.read.parquet(s"$dir/clips")
    assert(written.count() == 2)
    assert(names(written) == Seq("clip_a", "clip_b"))
    assert(names(spark.read.parquet(s"$dir/_manifest")) == names(written))
    // a recompute in which every clip fails leaves no clip committed
    val (out4, rep4) = pipe.execute(spark,
      clipTable.withColumn("wav", lit(null).cast("array<double>")), recompute = true)
    assert(count(rep4, "_pipeline", "errors") == 2 && out4.count() == 0, s"report: $rep4")
    assert(spark.read.schema(out4.schema).parquet(s"$dir/clips").count() == 0)
    assert(names(spark.read.schema("name STRING").parquet(s"$dir/_manifest")).isEmpty)
  }

  test("an execute over an empty clip table commits nothing and reports zeros") {
    // the optimizer prunes both observations of a provably empty plan;
    // reading them must neither block nor fail
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val (out, rep) = Pipeline(Seq(NodeSpec("volume"), NodeSpec("blinks")), dir)
      .execute(spark, clipTable.where(lit(false)))
    assert(out.count() == 0 && out.columns.contains("blinks"))
    assert(rep.map(_.count).forall(_ == 0L), s"report: $rep")
    assert(rep.exists(r => r.node == "_pipeline" && r.status == "skipped_memoized"))
  }

  test("the reference's full node graph runs end-to-end with stub models") {
    // real JPEG frames so detection -> crop -> emoca exercises actual codecs
    def jpeg(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(seed * 40 % 255, 100, 150))
      g.fillRect(0, 0, 64, 64); g.dispose()
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", baos)
      baos.toByteArray
    }
    val clips = Seq(
      ("clip_a", Seq(jpeg(1), jpeg(2)), Seq.tabulate(16000)(i => math.sin(i * 0.001))),
      ("clip_b", Seq(jpeg(3)), Seq.tabulate(8000)(i => math.cos(i * 0.002))))
      .toDF("name", "frames", "wav")
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val pipe = Pipeline(Seq(
      NodeSpec("face_detection"), NodeSpec("best_face"),
      NodeSpec("transform_bboxes"), NodeSpec("crop"),
      NodeSpec("emoca"), NodeSpec("wav2vec"),
      NodeSpec("flame"), NodeSpec("render", Map("size" -> "32"))), dir)
    val (out, rep) = pipe.execute(spark, clips)
    val cols = out.columns.toSet
    assert(Set("raw_bboxes", "best_bboxes", "bboxes", "crops",
      "shape", "exp", "pose", "wav2vec", "volume",
      "verts", "landmarks3d", "render_mask", "render_normal",
      "render_uv").subsetOf(cols))
    val processed = rep.find(r => r.node == "_pipeline" && r.status == "processed").get.count
    val errors = rep.find(r => r.node == "_pipeline" && r.status == "errors").get.count
    assert(processed + errors == 2)
    if (processed > 0) {
      val row = spark.read.parquet(s"$dir/clips")
        .select(size(col("crops")), size(col("shape")), size(col("wav2vec"))).head
      assert(row.getInt(1) > 0 && row.getInt(2) > 0)
    }
  }

  test("a2en op resamples onto the EMOCA code count, not the frame count") {
    // 5 video frames but only 3 EMOCA codes (upstream dropped 2 frames):
    // the reference targets num = len(data["exp"]) (`a2en.py:37`)
    val lm3d = Seq.tabulate(68)(i =>
      Seq(i.toDouble, (i * 3 % 7).toDouble, (i * 5 % 11).toDouble))
    val df = Seq((
      "clip",
      Seq.fill(5)(Array[Byte](1, 2)),                      // frames: 5
      Seq.tabulate(100)(i => Seq(i.toDouble, i * 2.0)),    // wav2vec @50Hz
      Seq.tabulate(100)(_.toDouble),                       // volume
      Seq.fill(3)(Seq(1.0, 2.0)),                          // exp: 3 codes
      Seq.fill(3)(Seq(0.0, 0.0, 0.0, 0.5, 0.0, 0.0)),      // pose
      Seq.fill(3)(lm3d.flatten)))                          // landmarks3d
      .toDF("name", "frames", "wav2vec", "volume", "exp", "pose", "landmarks3d")
    val out = graft.plans.OpRegistry.ops("a2en")(df, Map.empty).select("a2en.*").head
    assert(out.getSeq[Seq[Double]](0).length == 3) // audio_features -> |exp|
    assert(out.getSeq[Double](1).length == 3)      // volume -> |exp|, not 5
  }

  test("short landmark frames send their clip to the a2en error channel") {
    def clip(name: String, points: Int) = (name,
      Seq.fill(3)(Array[Byte](1, 2)),                      // frames
      Seq.tabulate(150)(i => Seq(i.toDouble, i * 2.0)),    // wav2vec @50Hz
      Seq.tabulate(150)(_.toDouble),                       // volume
      Seq.fill(3)(Seq(1.0, 2.0)),                          // exp
      Seq.fill(3)(Seq(0.0, 0.0, 0.0, 0.5, 0.0, 0.0)),      // pose
      Seq.fill(3)(Seq.tabulate(points)(i =>                // landmarks3d
        Seq(i.toDouble, (i * 3 % 7).toDouble, (i * 5 % 11).toDouble)).flatten))
    val clips = Seq(clip("clip_ok", 68), clip("clip_short", 1))
      .toDF("name", "frames", "wav2vec", "volume", "exp", "pose", "landmarks3d")
    val dir = java.nio.file.Files.createTempDirectory("graft-a2en-short").toString
    val (_, rep) = Pipeline(Seq(NodeSpec("A2enDatasetNode")), dir).execute(spark, clips)
    assert(count(rep, "_pipeline", "processed") == 1, s"report: $rep")
    assert(count(rep, "_pipeline", "errors") == 1, s"report: $rep")
    assert(count(rep, "A2enDatasetNode", "errors") == 1, s"report: $rep")
    assert(names(spark.read.parquet(s"$dir/clips")) == Seq("clip_ok"))
    assert(names(spark.read.parquet(s"$dir/_manifest")) == Seq("clip_ok"))
  }

  test("the reference's a2en+vid2vid config graph binds under class-name aliases") {
    // node roster of configs/mead_a2en_vid2vid.json, verbatim class names
    val graph = Seq("VideoToImagesNode", "VideoToWavNode", "Wav2vecNode",
      "FaceAlignmentNode", "FixedBboxesNode", "CropNode", "EmocaNode",
      "FlameNode", "RenderingNode", "A2enDatasetNode", "Vid2vidDatasetNode")
    val pipe = Pipeline(graph.map(NodeSpec(_)), "/tmp/x")
    val out = pipe.validate(Set("video"))
    assert(Set("frames", "wav", "wav2vec", "volume", "landmarks", "raw_bboxes",
      "bboxes", "crops", "shape", "exp", "pose", "cam", "verts", "landmarks3d",
      "render_uv", "render_normal", "a2en", "vid2vid").subsetOf(out))
    // ... and runs: the clip table carries the frames and wav that the two
    // ffmpeg nodes would decode, and the rest of the roster executes
    val clips = Seq(
      ("clip_a", Seq(frame(face(0)), frame(face(1))),
        Seq.tabulate(16000)(i => math.sin(i * 0.001))),
      ("clip_b", Seq(frame(face(2))), Seq.tabulate(8000)(i => math.cos(i * 0.002))))
      .toDF("name", "frames", "wav")
    val dir = java.nio.file.Files.createTempDirectory("graft-a2en").toString
    val (_, rep) = Pipeline(graph.drop(2).map(NodeSpec(_)), dir).execute(spark, clips)
    assert(count(rep, "_pipeline", "processed") == 2, s"report: $rep")
    val rows = spark.read.parquet(s"$dir/clips").select(col("a2en"),
      size(col("exp")), size(col("a2en.average_blink")), col("a2en.average_blink")).collect()
    assert(rows.length == 2 && rows.forall(r => !r.isNullAt(0)))
    // one blink ratio per EMOCA code, each a number
    assert(rows.forall(r => r.getInt(1) == r.getInt(2)))
    assert(rows.forall(_.getSeq[Double](3).forall(b => !b.isNaN)))
    // all 11 nodes also run from a `video` column: bytes no ffmpeg decodes
    // (or no binary at all) fail both clips at the first node, and
    // nothing is committed
    val videos = Seq(("clip_a", Array[Byte](1, 2, 3)), ("clip_b", Array[Byte](4, 5, 6)))
      .toDF("name", "video")
    val vdir = java.nio.file.Files.createTempDirectory("graft-a2en-video").toString
    val (committed, vrep) = Pipeline(graph.map(NodeSpec(_)), vdir).execute(spark, videos)
    assert(count(vrep, "VideoToImagesNode", "errors") == 2, s"report: $vrep")
    assert(count(vrep, "_pipeline", "errors") == 2, s"report: $vrep")
    assert(count(vrep, "_pipeline", "processed") == 0, s"report: $vrep")
    assert(committed.count() == 0)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$vdir/_manifest")))
  }

  test("ffmpeg nodes keep the row count of a clip table with a repeated name") {
    // the nodes append to the row they read: no join back on `name` that
    // would multiply the rows of a repeated name
    val clips = Seq(("clip_a", Array[Byte](1)), ("clip_a", Array[Byte](2)),
      ("clip_b", Array[Byte](3))).toDF("name", "video")
    val frames = OpRegistry.ops("video_to_frames")(clips, Map.empty)
    val fps = OpRegistry.ops("probe_fps")(frames, Map.empty)
    assert(frames.count() == 3 && fps.count() == 3)
    assert(fps.columns.toSeq == Seq("name", "video", "frames", "fps"))
    assert(fps.select("video").collect().map(_.getAs[Array[Byte]](0).head).sorted.toSeq ==
      Seq[Byte](1, 2, 3))
  }

  test("alignment-driven branch: face_alignment -> fixed_bboxes -> crop -> src_seq") {
    def jpeg(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(seed * 30 % 255, 80, 120))
      g.fillRect(0, 0, 64, 64); g.dispose()
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", baos)
      baos.toByteArray
    }
    val clips = Seq(("clip_c", Seq(jpeg(5), jpeg(6)))).toDF("name", "frames")
    val dir = java.nio.file.Files.createTempDirectory("graft-align").toString
    // src_seq requires the reference's full 12-type roster (`h5.py:107-120`),
    // so the branch runs the whole stack: emoca codes, FLAME geometry and
    // the renders all feed the pack
    val pipe = Pipeline(Seq(
      NodeSpec("face_alignment"), NodeSpec("fixed_bboxes"), NodeSpec("crop"),
      NodeSpec("emoca"), NodeSpec("flame"), NodeSpec("render"),
      NodeSpec("src_seq")), dir)
    val (out, rep) = pipe.execute(spark, clips)
    assert(Set("landmarks", "bboxes", "crops", "shape", "landmarks3d",
      "render_uv", "src_seq").subsetOf(out.columns.toSet))
    val processed = rep.find(r => r.node == "_pipeline" && r.status == "processed").get.count
    assert(processed == 1)
    val row = spark.read.parquet(s"$dir/clips")
      .selectExpr("size(src_seq.blinks)").head
    assert(row.getInt(0) == 2) // one blink struct per frame
  }

  /** A 64x64 single-colour JPEG frame; `seed` picks the colour. */
  private def frame(seed: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(seed * 40 % 255, seed * 7 % 255, 150))
    g.fillRect(0, 0, 64, 64); g.dispose()
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", baos)
    baos.toByteArray
  }

  private def count(rep: Seq[PipelineReport], node: String, status: String): Long =
    rep.find(r => r.node == node && r.status == status).get.count

  private def names(df: DataFrame): Seq[String] =
    df.select("name").collect().map(_.getString(0)).toSeq.sorted

  /** Frame seeds in which `StubDetector` finds a face (md5 % 17 != 0)
    * and one in which it finds none. */
  private lazy val (face, noFace) = {
    val (none, some) = (0 until 255).partition(s => Multimodal.md5Long(frame(s)) % 17 == 0)
    (some, none.head)
  }

  /** Three clips through detection -> crop -> emoca; `clip_bad` has one
    * face-less frame. */
  private lazy val facelessRun = {
    val clips = Seq(
      ("clip_ok1", Seq(frame(face(0)), frame(face(1)))),
      ("clip_bad", Seq(frame(face(2)), frame(noFace))),
      ("clip_ok2", Seq(frame(face(3))))).toDF("name", "frames")
    val nodes = Seq(NodeSpec("face_detection"), NodeSpec("best_face"),
      NodeSpec("transform_bboxes"), NodeSpec("crop", Map("size" -> "32")),
      NodeSpec("emoca"))
    val dir = java.nio.file.Files.createTempDirectory("graft-faceless").toString
    val (_, rep) = Pipeline(nodes, dir).execute(spark, clips)
    (clips, nodes, dir, rep)
  }

  test("a face-less frame sends its clip to the error channel; crop -> emoca " +
    "commits the other clips") {
    val (_, _, dir, rep) = facelessRun
    assert(count(rep, "_pipeline", "processed") == 2)
    assert(count(rep, "_pipeline", "errors") == 1)
    assert(count(rep, "_pipeline", "skipped_memoized") == 0)
    val committed = spark.read.parquet(s"$dir/clips")
    assert(names(committed) == Seq("clip_ok1", "clip_ok2"))
    assert(names(spark.read.parquet(s"$dir/_manifest")) == Seq("clip_ok1", "clip_ok2"))
    val sizes = committed.select(col("name"), size(col("frames")),
      size(col("crops")), size(col("shape"))).collect()
    assert(sizes.forall(r => r.getInt(1) == r.getInt(2) && r.getInt(1) == r.getInt(3)))
  }

  test("per-node error counts in the report equal the error channel") {
    val (clips, nodes, _, rep) = facelessRun
    val chained = nodes.foldLeft(clips) { (df, s) =>
      OpRegistry.resolve(s.op).get.apply(df, s.params)
    }
    def nulls(s: NodeSpec) =
      OpRegistry.resolve(s.op).get.outputTypes.map(t => col(t).isNull).reduce(_ || _)
    val expected = nodes.map(s => s.op -> chained.where(nulls(s)).count())
    assert(rep.filterNot(_.node == "_pipeline").map(r => r.node -> r.count) == expected)
    assert(rep.filterNot(_.node == "_pipeline").forall(_.status == "errors"))
    assert(expected.toMap == Map("face_detection" -> 0L, "best_face" -> 0L,
      "transform_bboxes" -> 0L, "crop" -> 1L, "emoca" -> 1L))
    val errorChannel = chained.where(nodes.map(nulls).reduce(_ || _))
    assert(names(errorChannel) == Seq("clip_bad"))
    assert(count(rep, "_pipeline", "errors") == errorChannel.count())
  }

  test("writeReport serializes the per-node and pipeline counts as JSON") {
    val (_, _, _, rep) = facelessRun
    val path = java.nio.file.Files.createTempFile("graft-report", ".json")
    Pipeline.writeReport(rep, path.toString)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(path))
    val parsed = json.elements().asScala.map(n => PipelineReport(
      n.get("node").asText(), n.get("status").asText(), n.get("count").asLong())).toSeq
    assert(parsed == rep)
    assert(parsed.contains(PipelineReport("crop", "errors", 1)))
    assert(parsed.contains(PipelineReport("_pipeline", "processed", 2)))
  }

  /** The query executions of every action `body` runs. */
  private def actions(body: => Unit): Seq[QueryExecution] = {
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        seen.add(qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  private def kernels(qe: QueryExecution): Int =
    qe.optimizedPlan.collect { case m: MapPartitions => m }.size

  private def runsNodes(qe: QueryExecution): Boolean = kernels(qe) > 0

  private def joins(qe: QueryExecution): Seq[Join] =
    qe.optimizedPlan.collect { case j: Join => j }

  test("execute runs the node chain in one action with no join back on name; " +
    "a memoized execute runs no node over any row") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan").toString
    val input = s"$dir/clips_in"
    Seq(
      ("clip_a", Seq(frame(face(0)), frame(face(1))), Seq.tabulate(16000)(i => math.sin(i * 0.001))),
      ("clip_b", Seq(frame(face(2))), Seq.tabulate(8000)(i => math.cos(i * 0.002))),
      ("clip_c", Seq(frame(face(3)), frame(face(4)), frame(face(5))),
        Seq.tabulate(12000)(i => math.sin(i * 0.003))))
      .toDF("name", "frames", "wav").coalesce(1).write.parquet(input)
    val roster = Seq(NodeSpec("Wav2vecNode"), NodeSpec("FaceAlignmentNode"),
      NodeSpec("FixedBboxesNode"), NodeSpec("CropNode", Map("size" -> "32")))
    val e2e = Seq(NodeSpec("face_detection"), NodeSpec("best_face"),
      NodeSpec("transform_bboxes"), NodeSpec("crop"), NodeSpec("emoca"),
      NodeSpec("wav2vec"), NodeSpec("flame"), NodeSpec("render", Map("size" -> "32")))
    // kernel nodes: FaceAlignmentNode runs two (landmarks, detections)
    for ((label, nodes, kernelCount) <- Seq(("roster", roster, 4), ("e2e", e2e, 6))) {
      val pipe = Pipeline(nodes, s"$dir/$label")
      var fresh = Seq.empty[PipelineReport]
      val freshRuns = actions { fresh = pipe.execute(spark, spark.read.parquet(input))._2 }
        .filter(runsNodes)
      assert(freshRuns.size == 1, s"$label: ${freshRuns.size} actions ran the nodes")
      assert(joins(freshRuns.head).isEmpty,
        s"$label: join in the fresh plan:\n${freshRuns.head.optimizedPlan}")
      assert(kernels(freshRuns.head) == kernelCount,
        s"$label: kernels in the fresh plan:\n${freshRuns.head.optimizedPlan}")
      assert(count(fresh, "_pipeline", "processed") == 3)

      var memo = Seq.empty[PipelineReport]
      val memoRuns = actions { memo = pipe.execute(spark, spark.read.parquet(input))._2 }
        .filter(runsNodes)
      assert(memoRuns.size == 1, s"$label: ${memoRuns.size} actions ran the nodes")
      assert(joins(memoRuns.head).map(_.joinType) == Seq(LeftAnti),
        s"$label: memo plan:\n${memoRuns.head.optimizedPlan}")
      // the observation on top of the chain saw no row; the one on the
      // input saw every clip
      val observed = memoRuns.head.observedMetrics.values.map(_.getAs[Long]("rows"))
      assert(observed.toSeq.sorted == Seq(0L, 3L), s"$label: observed $observed")
      assert(count(memo, "_pipeline", "skipped_memoized") == 3)
    }
    val committed = spark.read.parquet(s"$dir/roster/clips")
    assert(committed.schema == StructType.fromDDL(
      "name STRING, frames ARRAY<BINARY>, wav ARRAY<DOUBLE>, " +
        "wav2vec ARRAY<ARRAY<DOUBLE>>, volume ARRAY<DOUBLE>, " +
        "landmarks ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>, " +
        "raw_bboxes ARRAY<ARRAY<STRUCT<x1: DOUBLE, y1: DOUBLE, x2: DOUBLE, " +
        "y2: DOUBLE, score: DOUBLE>>>, " +
        "bboxes ARRAY<STRUCT<x1: BIGINT, y1: BIGINT, x2: BIGINT, y2: BIGINT>>, " +
        "crops ARRAY<BINARY>"), committed.schema.treeString)
    val rows = committed.select(col("name"), size(col("frames")), size(col("crops")),
      size(col("wav2vec")), size(col("volume"))).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    // wav2vec: int(len * 50 / 16000 - 0.25) frames; volume: one per 320 samples
    assert(rows.sortBy(_._1).toSeq == Seq(("clip_a", 2, 2, 49, 50),
      ("clip_b", 1, 1, 24, 25), ("clip_c", 3, 3, 37, 38)))
    assert(names(spark.read.parquet(s"$dir/roster/_manifest")) ==
      Seq("clip_a", "clip_b", "clip_c"))

    // the ffmpeg shell-outs append in place too: one action, no join, and
    // each node's kernel once (a join back on name decoded each video once
    // per downstream join)
    val videoInput = s"$dir/videos_in"
    Seq(("clip_a", Array[Byte](1, 2, 3)), ("clip_b", Array[Byte](4, 5)),
      ("clip_c", Array[Byte](6))).toDF("name", "video").coalesce(1).write.parquet(videoInput)
    val ffmpeg = Seq(NodeSpec("video_to_frames"), NodeSpec("video_to_wav"),
      NodeSpec("probe_fps"), NodeSpec("wav2vec"))
    var rep = Seq.empty[PipelineReport]
    val runs = actions {
      rep = Pipeline(ffmpeg, s"$dir/ffmpeg").execute(spark, spark.read.parquet(videoInput))._2
    }.filter(runsNodes)
    assert(runs.size == 1, s"ffmpeg: ${runs.size} actions ran the nodes")
    assert(joins(runs.head).isEmpty && kernels(runs.head) == 4,
      s"ffmpeg: fresh plan:\n${runs.head.optimizedPlan}")
    assert(count(rep, "_pipeline", "processed") + count(rep, "_pipeline", "errors") == 3)
  }

  test("pipeline graph JSON parses the reference shape") {
    val json =
      """[{"name": "volume", "params": {"sample_rate": "16000"}},
        | {"name": "blinks"}]""".stripMargin
    val pipe = Pipeline.fromJson(json, "/tmp/x")
    assert(pipe.nodes == Seq(
      NodeSpec("volume", Map("sample_rate" -> "16000")), NodeSpec("blinks")))
  }

  test("clip catalog derives names and intersects collections") {
    val a = Seq(("x_1", 1), ("x_2", 2), ("only_a", 3)).toDF("name", "va")
    val b = Seq(("x_1", 10), ("x_2", 20), ("only_b", 30)).toDF("name", "vb")
    val cat = ClipCatalog.intersectOnName(Seq(a, b)).orderBy("name").collect()
    assert(cat.map(_.getString(0)).toSeq == Seq("x_1", "x_2"))
    val names = Seq(Tuple1("/root/data/actor1/take2/video.mp4"))
      .toDF("path")
      .select(ClipCatalog.deriveName(col("path"), "/root/data").as("n"))
      .head.getString(0)
    assert(names == "actor1_take2_video")
  }

  test("intersectOnName raises on an empty input and on an empty intersection") {
    val a = Seq(("x_1", 1)).toDF("name", "va")
    val empty = Seq.empty[(String, Int)].toDF("name", "vb")
    val eIn = intercept[IllegalArgumentException] {
      ClipCatalog.intersectOnName(Seq(a, empty))
    }
    assert(eIn.getMessage.contains("input collection 1 is empty"))
    val disjoint = Seq(("y_1", 9)).toDF("name", "vb")
    val eJoin = intercept[IllegalArgumentException] {
      ClipCatalog.intersectOnName(Seq(a, disjoint))
    }
    assert(eJoin.getMessage.contains("empty name intersection"))
  }

  test("NPY codec reads numpy-written f8/f4/i8 and roundtrips f8") {
    def b64(s: String) = Base64.getDecoder.decode(s)
    val f8 = Npy.read(b64("k05VTVBZAQB2AHsnZGVzY3InOiAnPGY4JywgJ2ZvcnRyYW5fb3JkZXInOiBGYWxzZSwgJ3NoYXBlJzogKDMsKSwgfSAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgIAoAAAAAAAD4PwAAAAAAAALAAAAAsI7wG0I="))
    assert(f8.shape.toSeq == Seq(3))
    assert(f8.data.toSeq == Seq(1.5, -2.25, 3e10))
    val f4 = Npy.read(b64("k05VTVBZAQB2AHsnZGVzY3InOiAnPGY0JywgJ2ZvcnRyYW5fb3JkZXInOiBGYWxzZSwgJ3NoYXBlJzogKDIsIDIpLCB9ICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgIAoAAMA/AAAgQAAAYEAAAJDA"))
    assert(f4.shape.toSeq == Seq(2, 2))
    assert(f4.data.toSeq == Seq(1.5, 2.5, 3.5, -4.5))
    val i8 = Npy.read(b64("k05VTVBZAQB2AHsnZGVzY3InOiAnPGk4JywgJ2ZvcnRyYW5fb3JkZXInOiBGYWxzZSwgJ3NoYXBlJzogKDMsKSwgfSAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgIAoHAAAAAAAAAPf/////////FBqZvhwAAAA="))
    assert(i8.data.toSeq == Seq(7.0, -9.0, 123456789012.0))
    // roundtrip through our writer
    val rt = Npy.read(Npy.writeF8(Array(2, 3), Array(1, 2, 3, 4, 5, 6).map(_.toDouble)))
    assert(rt.shape.toSeq == Seq(2, 3) && rt.data.toSeq == Seq(1.0, 2, 3, 4, 5, 6))
  }

  test("NPY column expressions decode and encode") {
    import graft.sources.NpyColumns._
    val bytes = Npy.writeF8(Array(3), Array(1.0, 2.0, 3.0))
    val df = Seq(Tuple1(bytes)).toDF("artifact")
    val row = df.select(npy_decode(col("artifact")).as("d"))
      .select("d.shape", "d.data").head
    assert(row.getSeq[Int](0) == Seq(3) && row.getSeq[Double](1) == Seq(1.0, 2.0, 3.0))
    // decode -> re-encode -> decode roundtrip at the column level
    val data = npy_decode(col("artifact")).getField("data")
    val rt = df.select(npy_decode(npy_encode(data)).getField("data").as("d"))
    assert(rt.head.getSeq[Double](0) == Seq(1.0, 2.0, 3.0))
  }

  test("TextIngest routes every jsonl line to exactly one status channel") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType}
    import graft.sources.TextIngest
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl")
    val lines = Seq(
      """{"id": 1, "text": "hello world", "lang": "en"}""", // ok
      """{"id": 2, "text": "κείμενο", "lang": "el"}""",     // ok, non-ASCII
      """{"id": 3, "lang": "en"}""",                        // text missing
      """{"id": null, "text": "orphan"}""",                 // id null
      """null""",                                           // all-null row
      """{{"id": 6, "text": "x"}""",                        // not JSON
      "",                                                   // empty line
      """garbage!!""")                                      // not JSON
    java.nio.file.Files.write(dir.resolve("part-0.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType), StructField("lang", StringType)))
    val ing = TextIngest.jsonlWithErrors(spark, dir.toString, schema,
      required = Seq("id", "text")).cache()
    // row parity: valid + error rows == input lines, no loss, no dupes
    assert(ing.count() == lines.length)
    val byStatus = ing.groupBy("_status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStatus == Map("ok" -> 2L, "missing_required" -> 3L,
      "corrupt" -> 3L), s"got $byStatus")
    // valid projection carries the schema fields only, parsed exactly
    val ok = TextIngest.valid(ing).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(ok == Map(1L -> ("hello world", "en"), 2L -> ("κείμενο", "el")))
    assert(TextIngest.valid(ing).columns.toSeq == Seq("id", "text", "lang"))
    // the error side-output keeps each failed RAW line for replay
    val errRaw = TextIngest.errors(ing).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(errRaw.contains(("corrupt", "garbage!!")))
    assert(errRaw.contains(("corrupt", """{{"id": 6, "text": "x"}""")))
    assert(errRaw.contains(("missing_required", """{"id": 3, "lang": "en"}""")))
    // reserved-name and unknown-required contracts fail loudly
    intercept[IllegalArgumentException] {
      TextIngest.jsonlWithErrors(spark, dir.toString,
        schema.add("_raw", StringType), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      TextIngest.jsonlWithErrors(spark, dir.toString, schema, Seq("nope"))
    }
    ing.unpersist()
  }

  test("TextIngest csv routes status channels: quoting round-trips, " +
    "empty required fields and column-count mismatches classify") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType}
    import graft.sources.TextIngest
    val dir = java.nio.file.Files.createTempDirectory("graft-csv")
    val lines = Seq(
      """1,en,"hello, ""quoted"" world"""",  // ok, embedded comma+quotes
      """2,fr,plain""",                      // ok
      """3,en,""",                           // empty text -> missing
      """,en,orphan""",                      // empty id -> missing
      """5,en,too,many,fields""",            // extra columns -> corrupt
      """6,en""")                            // too few columns
    java.nio.file.Files.write(dir.resolve("part-0.csv"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("lang", StringType), StructField("text", StringType)))
    val ing = TextIngest.csvWithErrors(spark, dir.toString, schema,
      required = Seq("id", "text")).cache()
    assert(ing.count() == lines.length)
    val byStatus = ing.groupBy("_status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ok = TextIngest.valid(ing).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(ok(1L) == """hello, "quoted" world""", s"quoting: ${ok(1L)}")
    assert(ok(2L) == "plain")
    assert(byStatus("ok") == 2L, s"got $byStatus")
    // exact per-line routing: empty required fields are recoverable
    // rows (missing_required); column-count mismatches are corrupt
    val byRaw = ing.where(col("_status") =!= "ok").collect()
      .map(r => r.getString(4) -> r.getString(3)).toMap
    assert(byRaw(lines(2)) == "missing_required", s"empty text: $byRaw")
    assert(byRaw(lines(3)) == "missing_required", s"empty id: $byRaw")
    assert(byRaw(lines(4)) == "corrupt", s"extra columns: $byRaw")
    assert(byRaw(lines(5)) == "corrupt", s"short row: $byRaw")
    ing.unpersist()
  }

  test("TextIngest reads gzip-compressed jsonl transparently") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType}
    import graft.sources.TextIngest
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl-gz")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("part-0.jsonl.gz")))
    gz.write("""{"id": 1, "text": "zipped"}""".getBytes("UTF-8"))
    gz.close()
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    val got = TextIngest.valid(TextIngest.jsonlWithErrors(spark,
      dir.toString, schema, Seq("id", "text"))).collect()
    assert(got.length == 1 && got.head.getLong(0) == 1L &&
      got.head.getString(1) == "zipped")
  }

  test("TextIngest reads zstd-compressed jsonl after enableZstd, " +
    "byte-identical to the uncompressed parse incl. error routing") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType}
    import graft.sources.TextIngest
    val lines = Seq(
      """{"id": 1, "text": "zstd row"}""",
      """{"id": 2}""",            // missing required text
      """{"id": broken""")        // corrupt
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl-zst")
    // the zstd-jni writer produces standard frames; the aircompressor
    // codec ingests them — a cross-implementation round trip
    val zs = new com.github.luben.zstd.ZstdOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("part-0.jsonl.zst")))
    zs.write(lines.mkString("\n").getBytes("UTF-8"))
    zs.close()
    val plain = java.nio.file.Files.createTempDirectory("graft-jsonl-pl")
    java.nio.file.Files.write(plain.resolve("part-0.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    TextIngest.enableZstd(spark)
    TextIngest.enableZstd(spark) // idempotent
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    def snap(path: String) = TextIngest
      .jsonlWithErrors(spark, path, schema, Seq("id", "text"))
      .select("id", "text", "_status").collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)), r.getString(2)))
      .sortBy(_.toString)
    val zst = snap(dir.toString)
    assert(zst.toSeq == snap(plain.toString).toSeq)
    assert(zst.map(_._3).sorted.toSeq ==
      Seq("corrupt", "missing_required", "ok"))
  }

  test("Warc.warcWithErrors frames records with exact byte offsets, " +
    "routes missing-date / garbage / bad-version / truncated damage, " +
    "and gz / zst variants decode identically; broken compression is " +
    "one corrupt row; the walk is shuffle-free") {
    import graft.sources.Warc
    val crlf = "\r\n"
    def rec(id: Int, body: String, date: Boolean = true,
            version: String = "WARC/1.0",
            declared: Option[Int] = None) =
      version + crlf +
        "WARC-Type: response" + crlf +
        s"WARC-Record-ID: <urn:uuid:$id>" + crlf +
        (if (date) "WARC-Date: 2024-01-01T00:00:00Z" + crlf else "") +
        s"WARC-Target-URI: http://example.org/$id" + crlf +
        "Content-Type: text/plain" + crlf +
        "Content-Length: " +
        declared.getOrElse(body.getBytes("UTF-8").length) + crlf + crlf +
        body + crlf + crlf
    val good = rec(1, "hello world")
    val garbage = "not a record at all" + crlf
    val noDate = rec(2, "no date here", date = false)
    val badVer = rec(3, "bad version body", version = "WARC/oops")
    val trunc = rec(4, "short", declared = Some(5000)).dropRight(4)
    val stream = good + garbage + noDate + badVer + trunc
    val bytes = stream.getBytes("UTF-8")

    val plainDir = java.nio.file.Files.createTempDirectory("graft-warc-pl")
    java.nio.file.Files.write(plainDir.resolve("a.warc"), bytes)
    val gzDir = java.nio.file.Files.createTempDirectory("graft-warc-gz")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(gzDir.resolve("a.warc.gz")))
    gz.write(bytes); gz.close()
    val zstDir = java.nio.file.Files.createTempDirectory("graft-warc-zst")
    val zs = new com.github.luben.zstd.ZstdOutputStream(
      java.nio.file.Files.newOutputStream(zstDir.resolve("a.warc.zst")))
    zs.write(bytes); zs.close()

    def snap(path: String) = Warc.warcWithErrors(spark, path)
      .select(col("rec_offset"), col("record_id"), col("warc_date"),
        col("content_length"), col("payload").cast("string"),
        col("_status"), col("_raw"))
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString),
        Option(r.get(2)).map(_.toString), Option(r.get(3)),
        Option(r.get(4)).map(_.toString), r.getString(5),
        Option(r.get(6)).map(_.toString)))
      .sortBy(_._1)
    val got = snap(plainDir.toString)
    val offGarbage = good.length.toLong
    val offNoDate = offGarbage + garbage.length
    val offBadVer = offNoDate + noDate.length
    val offTrunc = offBadVer + badVer.length
    assert(got.length == 5, s"rows: ${got.mkString("\n")}")
    assert(got(0) == ((0L, Some("<urn:uuid:1>"),
      Some("2024-01-01T00:00:00Z"), Some(11L), Some("hello world"),
      "ok", None)))
    assert(got(1) == ((offGarbage, None, None, None, None,
      "corrupt", Some(garbage))))
    assert(got(2) == ((offNoDate, Some("<urn:uuid:2>"), None,
      Some(12L), Some("no date here"), "missing_required", None)))
    assert(got(3)._1 == offBadVer && got(3)._6 == "corrupt" &&
      got(3)._7.get == badVer.take(120),
      "bad version must become one resync span with a 120-byte snippet")
    assert(got(4) == ((offTrunc, None, None, None, None,
      "corrupt", Some("TRUNCATED"))))
    // compressed variants parse to the identical rows (offsets are in
    // the DECOMPRESSED stream)
    assert(snap(gzDir.toString).toSeq == got.toSeq, "gzip variant")
    assert(snap(zstDir.toString).toSeq == got.toSeq, "zstd variant")
    // a broken gzip stream is one loud corrupt row, not an exception
    val badDir = java.nio.file.Files.createTempDirectory("graft-warc-bad")
    java.nio.file.Files.write(badDir.resolve("a.warc.gz"),
      Array[Byte](0x1f.toByte, 0x8b.toByte, 8, 0, 1, 2, 3, 4))
    val bad = snap(badDir.toString)
    assert(bad.length == 1 && bad.head._6 == "corrupt" &&
      bad.head._7.get.startsWith("DECOMPRESS:"))
    // scale shape: the walk is scan + project + generate — no Exchange
    val plan = Warc.warcWithErrors(spark, plainDir.toString)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"WARC ingest must stay shuffle-free:\n$plan")

    // a LYING Content-Length mid-stream (overrun with a later record
    // magic) must resync — one OVERRUN corrupt row, the NEXT record
    // recovered; TRUNCATED is reserved for a genuine EOF overrun
    val lying = rec(7, "liar body", declared = Some(5000)) +
      rec(8, "survivor")
    val overDir = java.nio.file.Files.createTempDirectory("graft-warc-ov")
    java.nio.file.Files.write(overDir.resolve("a.warc"),
      lying.getBytes("UTF-8"))
    val over = snap(overDir.toString)
    assert(over.length == 2, s"rows: ${over.mkString("\n")}")
    assert(over(0)._1 == 0L && over(0)._6 == "corrupt" &&
      over(0)._7.contains("OVERRUN"),
      s"lying length must be one OVERRUN row, got ${over(0)}")
    assert(over(1)._2.contains("<urn:uuid:8>") && over(1)._6 == "ok" &&
      over(1)._5.contains("survivor"),
      s"the record after a lying length must survive, got ${over(1)}")
  }
}
