package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Vision inference operators — `FaceDetectionNode` / `FaceAlignmentNode` /
  * `FaceLandmarksNode` (`dpl/processor/nodes/fa.py:49-164`) and
  * `EmocaNode` (`dpl/processor/nodes/emoca.py:34-115`) — on the ModelOp
  * batched/lazy-resource contract, with the reference's exact output
  * schemas (SURVEY.md §1.3):
  *
  *   raw_bboxes : per frame, candidates (N,5) [x1,y1,x2,y2,score]
  *   landmarks  : per frame, (68,2)
  *   EMOCA codes: shape (100), tex (50), exp (50), pose (6), cam (3),
  *                light (9,3)
  *
  * The detectors/encoders themselves are pluggable `ModelResource`s; the
  * defaults here are STUBS (no model runtime in this container) that
  * derive deterministic geometry from each frame's payload hash, so the
  * whole pipeline — schemas, batching, NaN/no-face semantics, downstream
  * bbox/crop/FLAME math — runs end-to-end reproducibly. Swapping in a real
  * ONNX-backed resource changes no operator code.
  */
object Vision {

  type Detector = Array[Byte] => Array[Array[Double]] // frame -> (N,5) candidates
  type LandmarkModel = Array[Byte] => Array[Array[Double]] // frame -> (68,2)
  type EmocaEncoder = Array[Byte] => EmocaCodes

  final case class EmocaCodes(shape: Array[Double], tex: Array[Double],
                              exp: Array[Double], pose: Array[Double],
                              cam: Array[Double], light: Array[Array[Double]])

  /** Deterministic pseudo-detector: 1-2 candidates placed by payload hash;
    * empty (no face) when the hash is divisible by 17 — exercising the
    * NaN/no-face path (`fa.py:13-14,21-24`). */
  val StubDetector: Detector = bytes => {
    val h = Multimodal.md5Long(bytes)
    if (h % 17 == 0) Array.empty
    else {
      val x = (h % 97).toDouble; val y = (h % 89).toDouble
      val base = Array(x, y, x + 40 + (h % 13), y + 40 + (h % 11),
        0.5 + (h % 50) / 100.0)
      if (h % 3 == 0) Array(base, Array(x + 5, y + 5, x + 30, y + 30, 0.4))
      else Array(base)
    }
  }

  val StubLandmarks: LandmarkModel = bytes => {
    val h = Multimodal.md5Long(bytes)
    Array.tabulate(68)(i => Array((h % 97 + i * 0.5), (h % 89 + (i * 7 % 13) * 1.5)))
  }

  val StubEmoca: EmocaEncoder = bytes => {
    val h = Multimodal.md5Long(bytes)
    def series(n: Int, scale: Double) =
      Array.tabulate(n)(i => ((h >> (i % 48)) & 0xff) / 255.0 * scale - scale / 2)
    EmocaCodes(series(100, 2.0), series(50, 1.0), series(50, 2.0),
      series(6, 0.5), series(3, 1.0),
      Array.tabulate(9)(i => series(3, 1.0).map(_ + i * 0.01)))
  }

  private val bboxStruct = ArrayType(ArrayType(DoubleType, false), false)

  private val detectFields: Seq[StructField] = Seq(
    StructField("raw_bboxes", ArrayType(bboxStruct, false))) // per frame: (N,5)

  /** `op` must be distinct per operator family — the ModelOp cache is
    * keyed per executor, and two ops sharing a key would get each other's
    * models. */
  private case class Res[T](op: String, id: String, f: T) extends ModelResource[T] {
    def key: String = s"vision-$op-$id"; def load(): T = f
  }

  /** Appends `raw_bboxes` (per frame, the full (N,5) candidate list;
    * best-face selection is `ClipOps.bestFacePerFrame`) computed from
    * `framesCol`. Batch default matches the reference (face-align batch
    * 8, BASELINE.md). */
  def withDetections(df: DataFrame, framesCol: String, batchSize: Int = 8,
                     detector: Detector = StubDetector,
                     detectorId: String = "stub"): DataFrame =
    ModelOp.appendBatches(df, Seq(framesCol), detectFields, batchSize,
      Res("detect", detectorId, detector)) { (det, batch) =>
      batch.map(r => Row(r.getSeq[Array[Byte]](0).map(f => det(f).toSeq)))
    }

  private val pointStruct = StructType(Seq(
    StructField("x", DoubleType), StructField("y", DoubleType)))

  private val landmarkFields: Seq[StructField] = Seq(
    StructField("landmarks", ArrayType(ArrayType(pointStruct, false), false)))

  /** Appends `landmarks` as struct<x,y> points (the clip table's landmark
    * column form, §1.3) so bbox/blink ops consume them directly. */
  def withLandmarks(df: DataFrame, framesCol: String, batchSize: Int = 8,
                    model: LandmarkModel = StubLandmarks,
                    modelId: String = "stub"): DataFrame =
    ModelOp.appendBatches(df, Seq(framesCol), landmarkFields, batchSize,
      Res("align", modelId, model)) { (lm, batch) =>
      batch.map(r => Row(r.getSeq[Array[Byte]](0).map(f =>
        lm(f).map(p => Row(p(0), p(1))).toSeq)))
    }

  private val emocaFields: Seq[StructField] = Seq(
    StructField("shape", ArrayType(ArrayType(DoubleType, false), false)),
    StructField("tex", ArrayType(ArrayType(DoubleType, false), false)),
    StructField("exp", ArrayType(ArrayType(DoubleType, false), false)),
    StructField("pose", ArrayType(ArrayType(DoubleType, false), false)),
    StructField("cam", ArrayType(ArrayType(DoubleType, false), false)),
    StructField("light", ArrayType(ArrayType(ArrayType(DoubleType, false), false), false)))

  /** Appends the six FLAME code series of `cropsCol` (array<binary> per
    * clip; frame axis = array index; shapes as §1.3). A clip whose crops
    * are null (a frame failed upstream) gets null codes. */
  def withEmoca(df: DataFrame, cropsCol: String, batchSize: Int = 8,
                encoder: EmocaEncoder = StubEmoca,
                encoderId: String = "stub"): DataFrame =
    ModelOp.appendBatches(df, Seq(cropsCol), emocaFields, batchSize,
      Res("emoca", encoderId, encoder)) { (enc, batch) =>
      batch.map { r =>
        val codes = r.getSeq[Array[Byte]](0).map(enc)
        Row(codes.map(_.shape.toSeq), codes.map(_.tex.toSeq),
          codes.map(_.exp.toSeq), codes.map(_.pose.toSeq),
          codes.map(_.cam.toSeq), codes.map(_.light.map(_.toSeq).toSeq))
      }
    }

  /** Tiny deterministic FLAME-shaped asset set (3 verts, 2 joints, one
    * face, and FLAME's 68 landmarks as distinct barycentric points on
    * that face, so the a2en blink reader sees a full 68-point frame)
    * standing in for the published FLAME pickle (`flame.py:43-312`):
    * any consistent basis exercises the LBS math and the pipeline
    * plumbing; a real asset-backed model plugs in via the same
    * ModelResource without operator changes. Accepts the EMOCA stub's
    * 100-dim shape / 50-dim exp codes. */
  def stubFlameModel(): Flame.FlameModel = Flame.FlameModel(
    template = Array(0, 0, 0, 1, 0, 0, 0, 1, 0),
    shapedirs = Array.tabulate(100)(k => Array.fill(9)(if (k == 0) 0.1 else 0.0)),
    expdirs = Array.tabulate(50)(k => Array.fill(9)(if (k == 0) 0.05 else 0.0)),
    posedirs = Array.empty,
    jRegressor = Array(Array(1.0, 0, 0), Array(0, 1.0, 0)),
    parents = Array(-1, 0),
    lbsWeights = Array(Array(1.0, 0), Array(0, 1.0), Array(0.5, 0.5)),
    lmkFaces = Array.fill(68)(Array(0, 1, 2)),
    lmkBary = Array.tabulate(68) { i =>
      val (a, b) = ((i % 8) / 8.0, (i / 8) / 9.0)
      Array(1 - a - b, a, b)
    })

  private val flameFields: Seq[StructField] = Seq(
    StructField("verts", ArrayType(ArrayType(DoubleType, false), false)),
    StructField("landmarks3d", ArrayType(ArrayType(DoubleType, false), false)))

  /** `FlameNode` (`flame.py:47-108`): appends per-frame flat vertex and
    * 3-D landmark arrays computed from the (shape, exp, pose) codes via
    * the pure-Scala LBS forward pass. Batch default 64 = the reference's
    * FLAME batch (BASELINE.md). */
  def withFlame(df: DataFrame, shapeCol: String, expCol: String, poseCol: String,
                batchSize: Int = 64,
                model: Flame.FlameModel = stubFlameModel(),
                modelId: String = "stub"): DataFrame =
    ModelOp.appendBatches(df, Seq(shapeCol, expCol, poseCol), flameFields, batchSize,
      Res("flame", modelId, model)) { (m, batch) =>
      batch.map { r =>
        val shapes = r.getSeq[scala.collection.Seq[Double]](0)
        val exps = r.getSeq[scala.collection.Seq[Double]](1)
        val poses = r.getSeq[scala.collection.Seq[Double]](2)
        val out = shapes.indices.map { i =>
          Flame.forward(m, shapes(i).toArray, exps(i).toArray,
            poses(i).toArray.take(6))
        }
        Row(out.map(_._1.toSeq), out.map(_._2.toSeq))
      }
    }

  private val renderFields: Seq[StructField] = Seq(
    StructField("render_mask", ArrayType(BinaryType, false)),
    StructField("render_normal", ArrayType(BinaryType, false)),
    StructField("render_uv", ArrayType(BinaryType, false)))

  private case class RenderAssets(faces: Array[Array[Int]], uvs: Array[Double])

  /** `RenderingNode` (`rendering.py:53-143`): appends per-frame mask /
    * normal / uv rasters of (verts, cam) via the software rasterizer
    * (orthographic cam = (scale, tx, ty) like `batch_orth_proj`). Mesh
    * topology comes from the model resource; frames stay opaque bytes in
    * the relational layer. */
  def withRenders(df: DataFrame, vertsCol: String, camCol: String,
                  size: Int = 64, batchSize: Int = 64,
                  assetsId: String = "stub"): DataFrame =
    ModelOp.appendBatches(df, Seq(vertsCol, camCol), renderFields, batchSize,
      Res("render", assetsId, RenderAssets(Array(Array(0, 1, 2)),
        Array(0.0, 0.0, 1.0, 0.0, 0.0, 1.0)))) { (a, batch) =>
      batch.map { r =>
        val verts = r.getSeq[scala.collection.Seq[Double]](0)
        val cams = r.getSeq[scala.collection.Seq[Double]](1)
        val rendered = verts.indices.map { i =>
          val c = cams(i)
          // EMOCA cam codes are centred near 0; offset to a usable ortho
          // scale exactly like the vid2vid conditioning path
          Renderer.render(verts(i).toArray, a.faces, a.uvs,
            (1.0 + c(0), c(1), c(2)), size)
        }
        Row(rendered.map(_.mask), rendered.map(_.normal), rendered.map(_.uv))
      }
    }
}
