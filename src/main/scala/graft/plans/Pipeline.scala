package graft.plans

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators.{ClipOps, Ffmpeg, ImageOps, Sinks, Spread, Vision, Wav2vec}

/** The pipeline driver: a Spark-first re-expression of the reference's
  * `Engine` (`dpl/processor/engine.py`) and node protocol
  * (`dpl/processor/nodes/base.py`).
  *
  * Key translations (SURVEY.md §3-4):
  *  - node list = ordered [[NodeSpec]]s; dataflow edges are implicit BY TYPE
  *    KEY exactly as in the reference (`engine.py:37-53`): a node's input
  *    type resolves to the user-supplied input or the output column of an
  *    upstream node.
  *  - bind-time validation (`base.py:167-188`): unknown op, missing input
  *    type, duplicate output type -> error before any job runs.
  *  - execution: each op appends its output columns to the row it reads —
  *    a column expression or one batched `mapPartitions`
  *    ([[graft.operators.ModelOp.appendBatches]]; the ffmpeg shell-outs
  *    too), never a join back on `name` — so the whole DAG is ONE narrow
  *    stage over the clip scan.
  *    The reference's chunk-interleaved generators (`engine.py:64-73`) are
  *    subsumed by per-partition pipelining, its joblib pools by partition
  *    parallelism; `Spread.fanOut` spreads a scan narrower than the
  *    session's cores before the chain.
  *  - one action per execute: a single observed write commits the good
  *    rows and, through `Observation`s on the same plan, returns the input,
  *    processed and error counts; the manifest is then written from the
  *    files that write committed, so it never re-runs a node.
  *  - memoization (`base.py:135`): a left-anti join against the manifest's
  *    `name`s skips completed clips unless `recompute`, which overwrites
  *    `clips` and `_manifest` instead of appending to them.
  *  - row-level error capture (`base.py:137-142`): ops surface row failures
  *    as nulls (a null input gives null outputs); failed rows are diverted
  *    to an error side-output and counted per node, matching
  *    `NodeExecReport` (`base.py:12-27`).
  */
final case class NodeSpec(op: String, params: Map[String, String] = Map.empty)

final case class PipelineReport(node: String, status: String, count: Long)

/** One operator: consumes `inputTypes` columns, appends `outputTypes`
  * columns; a row it could not process gets a null output. */
trait ClipOp {
  def inputTypes: Seq[String]
  def outputTypes: Seq[String]
  def apply(df: DataFrame, params: Map[String, String]): DataFrame
}

/** Registry of built-in operators — the analogue of the reference's
  * metaclass registry (`dpl/processor/nodes/registry.py:4-19`). */
object OpRegistry {
  private def p(params: Map[String, String], key: String, dflt: Double): Double =
    params.get(key).map(_.toDouble).getOrElse(dflt)

  /** Detector (N,5) arrays -> the candidate structs the bbox ops read. */
  private def candidates(df: DataFrame): DataFrame =
    df.withColumn("raw_bboxes", expr(
      """transform(raw_bboxes, f -> transform(f, c ->
        |  struct(c[0] as x1, c[1] as y1, c[2] as x2, c[3] as y2,
        |         c[4] as score)))""".stripMargin))

  val ops: Map[String, ClipOp] = Map(
    // landmarks: array<array<struct<x,y>>> -> bboxes per frame
    "fixed_bboxes" -> new ClipOp {
      val inputTypes = Seq("landmarks"); val outputTypes = Seq("bboxes")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        df.withColumn("bboxes",
          ClipOps.fixedBboxes(col("landmarks"), p(params, "scale", 1.25)))
    },
    "emoca_like_bboxes" -> new ClipOp {
      val inputTypes = Seq("landmarks"); val outputTypes = Seq("bboxes")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        df.withColumn("bboxes", ClipOps.emocaLikeBboxes(col("landmarks"),
          p(params, "scale", 1.25), p(params, "window", 5).toInt))
    },
    "smooth_bboxes" -> new ClipOp {
      val inputTypes = Seq("bboxes"); val outputTypes = Seq("smooth_bboxes")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        df.withColumn("smooth_bboxes", ClipOps.smoothBboxes(col("bboxes")))
    },
    "blinks" -> new ClipOp {
      val inputTypes = Seq("landmarks"); val outputTypes = Seq("blinks")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        df.withColumn("blinks", ClipOps.blinks(col("landmarks")))
    },
    // wav: array<double> @16kHz -> volume: array<double> @50Hz
    "volume" -> new ClipOp {
      val inputTypes = Seq("wav"); val outputTypes = Seq("volume")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        df.withColumn("volume", ClipOps.volume(col("wav"),
          p(params, "sample_rate", 16000).toInt, p(params, "fps", 50).toInt))
    },
    // series resample onto the clip's frame count (audio<->video alignment)
    "align_to_frames" -> new ClipOp {
      val inputTypes = Seq("volume", "num_frames"); val outputTypes = Seq("volume_at_fps")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        df.withColumn("volume_at_fps", ClipOps.alignToFrames(
          col("volume"), col("num_frames"), p(params, "feature_fps", 50.0)))
    },
    "savgol" -> new ClipOp {
      val inputTypes = Seq("series"); val outputTypes = Seq("smoothed")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        df.withColumn("smoothed", savgol_smooth(col("series"),
          p(params, "window", 25).toInt, p(params, "polyorder", 3).toInt))
    },
    "best_face" -> new ClipOp {
      val inputTypes = Seq("raw_bboxes"); val outputTypes = Seq("best_bboxes")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        df.withColumn("best_bboxes", ClipOps.bestFacePerFrame(col("raw_bboxes")))
    },
    // ---- inference-backed nodes (batched kernels appending in place;
    //      models are pluggable ModelResources, stubs by default) ----
    "face_detection" -> new ClipOp {
      val inputTypes = Seq("frames"); val outputTypes = Seq("raw_bboxes")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        candidates(Vision.withDetections(df, "frames"))
    },
    "transform_bboxes" -> new ClipOp {
      val inputTypes = Seq("best_bboxes"); val outputTypes = Seq("bboxes")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        df.withColumn("bboxes", transform(col("best_bboxes"), b =>
          bbox_transform(bbox(b("x1"), b("y1"), b("x2"), b("y2"), b("score")),
            p(params, "extend_factor", 0.2))))
    },
    "crop" -> new ClipOp {
      val inputTypes = Seq("frames", "bboxes"); val outputTypes = Seq("crops")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        ImageOps.withCrops(df, "frames", "bboxes", p(params, "size", 224).toInt)
    },
    "emoca" -> new ClipOp {
      val inputTypes = Seq("crops")
      val outputTypes = Seq("shape", "tex", "exp", "pose", "cam", "light")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        Vision.withEmoca(df, "crops")
    },
    "wav2vec" -> new ClipOp {
      val inputTypes = Seq("wav"); val outputTypes = Seq("wav2vec", "volume")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        Wav2vec.withFeatures(df, "wav", p(params, "sample_rate", 16000).toInt)
    },
    "flame" -> new ClipOp {
      val inputTypes = Seq("shape", "exp", "pose")
      val outputTypes = Seq("verts", "landmarks3d")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        Vision.withFlame(df, "shape", "exp", "pose",
          batchSize = p(params, "batch_size", 64).toInt)
    },
    "render" -> new ClipOp {
      val inputTypes = Seq("verts", "cam")
      val outputTypes = Seq("render_mask", "render_normal", "render_uv")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        Vision.withRenders(df, "verts", "cam", size = p(params, "size", 64).toInt,
          batchSize = p(params, "batch_size", 64).toInt)
    },
    "face_alignment" -> new ClipOp {
      val inputTypes = Seq("frames")
      val outputTypes = Seq("landmarks", "raw_bboxes")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        candidates(Vision.withDetections(Vision.withLandmarks(df, "frames"), "frames"))
    },
    "face_landmarks" -> new ClipOp {
      val inputTypes = Seq("frames", "raw_bboxes")
      val outputTypes = Seq("landmarks")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        Vision.withLandmarks(df, "frames")
    },
    // ---- ffmpeg transcodes (shell-out kernels appending in place; a
    //      failed decode or an absent binary gives a null output) ----
    "video_to_frames" -> new ClipOp {
      val inputTypes = Seq("video"); val outputTypes = Seq("frames")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        Ffmpeg.withFrames(df, "video")
    },
    "video_to_wav" -> new ClipOp {
      val inputTypes = Seq("video"); val outputTypes = Seq("wav")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        Ffmpeg.withVideoWav(df, "video", p(params, "sample_rate", 16000).toInt)
    },
    "aac_to_wav" -> new ClipOp {
      val inputTypes = Seq("aac"); val outputTypes = Seq("wav")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        Ffmpeg.withAacWav(df, "aac", p(params, "sample_rate", 16000).toInt)
    },
    "probe_fps" -> new ClipOp {
      val inputTypes = Seq("video"); val outputTypes = Seq("fps")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        Ffmpeg.withFps(df, "video")
    },
    // every-nth frame subsampling (temporal downsampling before the
    // expensive per-frame inference ops)
    "frame_sample" -> new ClipOp {
      val inputTypes = Seq("frames"); val outputTypes = Seq("sampled_frames")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame = {
        val step = p(params, "step", 2).toInt
        df.withColumn("sampled_frames",
          filter(col("frames"), (_, i) => i % step === 0))
      }
    },
    // ---- packed dataset sinks (`a2en.py:13-45`, `h5.py:95-237`) ----
    "a2en" -> new ClipOp {
      val inputTypes = Seq("frames", "wav2vec", "volume", "exp", "pose", "landmarks3d")
      val outputTypes = Seq("a2en")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame = {
        // the reference probes the video fps per clip (`a2en.py:38`): use
        // the probe_fps column when the graph produced it, else the param
        val fps =
          if (df.columns.contains("fps")) col("fps")
          else lit(p(params, "fps", 50.0))
        // resample target = the EMOCA code count (`a2en.py:37`:
        // num = len(data["exp"])) — NOT the video frame count; they
        // diverge exactly when upstream EMOCA dropped frames
        Sinks.withA2en(df, size(col("exp")), fps)
      }
    },
    "vid2vid" -> new ClipOp {
      val inputTypes = Seq("crops", "render_uv", "render_normal")
      val outputTypes = Seq("vid2vid")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        df.withColumn("vid2vid",
          struct(col("crops"), col("render_uv"), col("render_normal")))
    },
    "src_seq" -> new ClipOp {
      val inputTypes = Sinks.SrcSeqTypes
      val outputTypes = Seq("src_seq")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        df.withColumn("src_seq", struct(
          Sinks.SrcSeqTypes.map(col) :+
            ClipOps.blinks(col("landmarks")).as("blinks"): _*))
    },
    "src_seq_alpha" -> new ClipOp {
      val inputTypes = Sinks.SrcSeqWithAlphaTypes
      val outputTypes = Seq("src_seq")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame =
        df.withColumn("src_seq", struct(
          Sinks.SrcSeqWithAlphaTypes.map(col) :+
            ClipOps.blinks(col("landmarks")).as("blinks"): _*))
    },
    "vid2vid_audio" -> new ClipOp {
      // reference roster (`h5.py:163-171`); num = the crops count
      // (`h5.py:178`), fps + window_size = constructor params
      // (`h5.py:173-183`)
      val inputTypes = Seq("crops", "render_uv", "render_normal",
        "wav2vec", "volume", "landmarks")
      val outputTypes = Seq("vid2vid_audio")
      def apply(df: DataFrame, params: Map[String, String]): DataFrame = {
        Sinks.withVid2vidAudio(df, size(col("crops")),
          p(params, "window_size", 16).toInt, lit(p(params, "fps", 50.0)),
          "vid2vid_audio")
      }
    })

  /** The reference registers nodes under their Python class names
    * (`registry.py:4-19`; the configs' graph JSON uses them) — accept
    * those as aliases so reference graph JSON runs unchanged. */
  val aliases: Map[String, String] = Map(
    "VideoToImagesNode" -> "video_to_frames",
    "VideoToWavNode" -> "video_to_wav",
    "AacToWavNode" -> "aac_to_wav",
    "Wav2vecNode" -> "wav2vec",
    "FaceDetectionNode" -> "face_detection",
    "FaceAlignmentNode" -> "face_alignment",
    "FaceLandmarksNode" -> "face_landmarks",
    "TransformRawBboxesNode" -> "transform_bboxes",
    "FixedBboxesNode" -> "fixed_bboxes",
    "EmocaLikeBboxesNode" -> "emoca_like_bboxes",
    "CropNode" -> "crop",
    "EmocaNode" -> "emoca",
    "EmocaFromImagesNode" -> "emoca",
    "FlameNode" -> "flame",
    "RenderingNode" -> "render",
    "A2enDatasetNode" -> "a2en",
    "Vid2vidDatasetNode" -> "vid2vid",
    "SourceSequenceNode" -> "src_seq",
    "SourceSequenceWithAlphaNode" -> "src_seq_alpha",
    "Vid2vidAudioNode" -> "vid2vid_audio")

  def resolve(name: String): Option[ClipOp] = ops.get(aliases.getOrElse(name, name))
}

final class PipelineValidationError(msg: String) extends RuntimeException(msg)

final case class Pipeline(nodes: Seq[NodeSpec], outputDir: String) {

  /** Bind-time schema analysis (== `base.py:167-188` + `engine.py:37-53`):
    * returns the full set of type keys available after the last node. */
  def validate(inputTypes: Set[String]): Set[String] = {
    var available = inputTypes
    nodes.foreach { spec =>
      val op = OpRegistry.resolve(spec.op).getOrElse(
        throw new PipelineValidationError(
          s"unknown op '${spec.op}' (known: ${OpRegistry.ops.keys.toSeq.sorted.mkString(", ")})"))
      val missing = op.inputTypes.filterNot(available.contains)
      if (missing.nonEmpty)
        throw new PipelineValidationError(
          s"node '${spec.op}': missing input types ${missing.mkString(", ")}")
      val dup = op.outputTypes.filter(available.contains)
      if (dup.nonEmpty)
        throw new PipelineValidationError(
          s"node '${spec.op}': output types already bound: ${dup.mkString(", ")}")
      available ++= op.outputTypes
    }
    available
  }

  /** Execute over a clip table (must have `name` + input type columns).
    * Returns (the rows this run committed, report).
    *
    * The node chain runs in ONE action: the write of the good rows to
    * `clips`. Two observations ride on that plan — the input rows below
    * the memo filter, the chain's rows and per-node null outputs above
    * the last node — so the report costs no further pass.
    *
    * A plain execute appends: clips named in `_manifest` are skipped and
    * the rows it commits are added to `clips` and `_manifest`. With
    * `recompute` (SURVEY.md §2.2: overwrite mode) the manifest is ignored
    * and `clips` and `_manifest` are overwritten, so afterwards both hold
    * exactly this run's committed clips — none when every clip failed. */
  def execute(spark: SparkSession, clips: DataFrame,
              recompute: Boolean = false): (DataFrame, Seq[PipelineReport]) = {
    val inputTypes = clips.columns.toSet - "name"
    validate(inputTypes)

    val seen = Observation()
    val input = Spread.fanOut(clips.observe(seen, count(lit(1)).as("rows")), clips)
    // Memoization: skip clips whose outputs already exist in the sink
    // manifest (left-anti join on name), unless recompute. The optimizer
    // runs the anti-join below the fan-out, so skipped clips never move.
    val manifestPath = s"$outputDir/_manifest"
    val todo =
      if (recompute || dataFiles(spark, manifestPath).isEmpty) input
      else input.join(spark.read.schema("name STRING").parquet(manifestPath),
        Seq("name"), "left_anti")
    val out = chain(todo)
    // error channel: a row failed at a node when any of its outputs is null
    val failed = nodes.map(spec =>
      OpRegistry.resolve(spec.op).get.outputTypes.map(t => col(t).isNull).reduce(_ || _))
    val anyFail = failed.reduceOption(_ || _).getOrElse(lit(false))
    val done = Observation()
    val observed = out.observe(done, count(lit(1)).as("rows"),
      count_if(anyFail).as("errors") +:
        failed.zipWithIndex.map { case (f, i) => count_if(f).as(s"node$i") }: _*)

    val mode = if (recompute) "overwrite" else "append"
    val clipsPath = s"$outputDir/clips"
    val before = dataFiles(spark, clipsPath).getOrElse(Nil).toSet
    observed.where(!anyFail).write.mode(mode).parquet(clipsPath)
    val added = dataFiles(spark, clipsPath).getOrElse(Nil).filterNot(before)
    val committed =
      if (added.isEmpty) spark.createDataFrame(java.util.List.of[Row](), out.schema)
      else spark.read.schema(out.schema).parquet(added: _*)

    // an observation the optimizer pruned with a provably empty input
    // completes with no metrics: it saw no row
    def counts(o: Observation): String => Long = {
      val m = o.get
      k => m.get(k).fold(0L)(_.asInstanceOf[Long])
    }
    val totals = counts(done)
    val rows = totals("rows")
    val errors = totals("errors")
    val processed = rows - errors
    if (recompute || processed > 0)
      committed.select("name").write.mode(mode).parquet(manifestPath)
    val skipped = counts(seen)("rows") - rows
    val report = nodes.indices.map(i =>
      PipelineReport(nodes(i).op, "errors", totals(s"node$i"))) :+
      PipelineReport("_pipeline", "processed", processed) :+
      PipelineReport("_pipeline", "errors", errors) :+
      PipelineReport("_pipeline", "skipped_memoized", skipped)
    (committed, report)
  }

  private def chain(clips: DataFrame): DataFrame =
    nodes.foldLeft(clips) { (df, spec) =>
      OpRegistry.resolve(spec.op).get.apply(df, spec.params)
    }

  /** The data files under `dir`; None when `dir` does not exist. */
  private def dataFiles(spark: SparkSession, dir: String): Option[Seq[String]] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) None
    else Some(fs.listStatus(path).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("part-")).map(_.toString))
  }
}

object Pipeline {
  /** Serialize a run report as JSON (== the execution report sink,
    * `run.py:35-38` / `NodeExecReport.to_dict`, `base.py:12-27`). */
  def writeReport(reports: Seq[PipelineReport], path: String): Unit = {
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    val root = mapper.createArrayNode()
    reports.foreach { r =>
      val n = mapper.createObjectNode()
      n.put("node", r.node); n.put("status", r.status); n.put("count", r.count)
      root.add(n)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
  }

  /** Parse the reference's graph-JSON shape
    * (`[{"name": <op>, "params": {...}}, ...]`, `README.md:79-101`)
    * using Jackson (ships with Spark). */
  def fromJson(json: String, outputDir: String): Pipeline = {
    import com.fasterxml.jackson.databind.ObjectMapper
    import scala.jdk.CollectionConverters._
    val mapper = new ObjectMapper()
    val root = mapper.readTree(json)
    require(root.isArray, "graph JSON must be an array of node specs")
    val nodes = root.elements().asScala.map { n =>
      val op = n.get("name").asText()
      val params = Option(n.get("params")).map { pn =>
        pn.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      }.getOrElse(Map.empty[String, String])
      NodeSpec(op, params)
    }.toSeq
    Pipeline(nodes, outputDir)
  }
}
