package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions._

/** Clip-table operators: the reference's per-clip nodes re-expressed as
  * column transformations over the canonical clip schema (one row per clip,
  * frame axis = array index; SURVEY.md §1.1). All of these run without a
  * shuffle — per-clip series live in array columns, so a 100 TB corpus
  * scales by partitioning clips, never by shuffling frames.
  */
object ClipOps {

  /** FixedBboxesNode (`dpl/processor/nodes/bboxes.py:45-81`): one global
    * square bbox from min/max over all frames' 68-point landmarks,
    * broadcast to every frame. `lm`: array<array<struct<x,y: double>>>.
    * Returns array<struct<x1,y1,x2,y2: long>> (same length as lm).
    */
  def fixedBboxes(lm: Column, scale: Double = 1.25): Column = {
    val pts = flatten(lm)
    val left = array_min(transform(pts, p => p("x")))
    val right = array_max(transform(pts, p => p("x")))
    val top = array_min(transform(pts, p => p("y")))
    val bottom = array_max(transform(pts, p => p("y")))
    val box = fixed_bbox(left, right, top, bottom, scale)
    transform(lm, _ => box)
  }

  /** EmocaLikeBboxesNode.get_bboxes (`bboxes.py:123-145`): per-frame square
    * bbox from a sliding min/max over frames [i-w/2, i+(w-w/2)) with clamping.
    */
  def emocaLikeBboxes(lm: Column, scale: Double = 1.25, window: Int = 5): Column = {
    // single-pass expression: the HOF form re-scanned the window once per
    // struct-field reference (~24x per frame) after optimizer inlining
    import org.apache.spark.sql.graftbridge.ExprBridge
    ExprBridge.column(
      graft.functions.SlidingBoxes(ExprBridge.expression(lm), scale, window))
  }

  /** EmocaLikeBboxesNode.smooth_bboxes (`bboxes.py:147-170`): savgol(25,3)
    * on box centers (rint to long), savgol(15,3) on radii (ceil to long).
    * `b`: array<struct<x1,y1,x2,y2: long>> of equal-size square boxes.
    */
  def smoothBboxes(b: Column): Column = {
    // single-pass expression: a HOF composition here re-evaluated the
    // savgol arrays once per output element after optimizer inlining
    import org.apache.spark.sql.graftbridge.ExprBridge
    ExprBridge.column(graft.functions.SmoothBoxes(ExprBridge.expression(b)))
  }

  /** EmocaLikeBboxesNode.make_equal_size (`bboxes.py:172-195`): rewrite all
    * boxes to the q-quantile size (np.quantile linear interpolation,
    * truncated to long, bumped to even); negative top-left coords clipped.
    * Single-pass custom expression: the HOF formulation re-sorted the size
    * array once per output element after CollapseProject inlining.
    */
  def makeEqualSize(b: Column, quantile: Double = 0.75): Column = {
    import org.apache.spark.sql.graftbridge.ExprBridge
    ExprBridge.column(
      graft.functions.EqualSizeBoxes(ExprBridge.expression(b), quantile))
  }

  /** Per-frame blink features over the whole clip
    * (`dpl/processor/utils.py:57-65`); lm: array<array<struct<x,y>>>. */
  def blinks(lm: Column): Column = transform(lm, f => blink_features(f))

  /** Per-frame blink features from 3-D landmarks (the npy (T, 68, 3)
    * shape with each frame flattened: array<array<double>>, as
    * `FlameNode` emits it) — the a2en variant (`a2en.py:33-34`). */
  def blinks3d(lm: Column): Column = transform(lm, f => blink_features_xyz(f))

  /** Audio volume at 50 Hz from a 16 kHz waveform (`wav2vec/inference.py:94-106`). */
  def volume(wav: Column, sampleRate: Int = 16000, fps: Int = 50): Column =
    bucket_mean_abs(wav, sampleRate / fps)

  /** The wav2vec "Some magic" length trim (`wav2vec/inference.py:52`):
    * int(len(wf) * 50 / sr - 0.25). */
  def wav2vecLen(wavSize: Column, sampleRate: Int = 16000, fps: Int = 50): Column =
    (wavSize.cast("double") * fps / sampleRate - 0.25).cast("long")

  /** Resample a 50 Hz feature series onto the clip's video frame count —
    * the audio<->video temporal alignment join (`a2en.py:41-42`,
    * `wav2vec/utils.py:5-21`). */
  def alignToFrames(features: Column, numFrames: Column, featureFps: Double = 50.0): Column =
    linear_resample(features, numFrames, lit(featureFps))

  /** Best face per frame (`fa.py:17-24`): keep the bbox with max score from
    * each frame's candidates; frames with no candidates yield a null.
    * `raw`: array<array<struct<x1,y1,x2,y2,score: double>>>.
    * try_element_at, not element_at: under Spark 4's default ANSI mode
    * indexing an EMPTY candidate array throws
    * (INVALID_ARRAY_INDEX_IN_ELEMENT_AT) — the documented null degrade
    * for face-less frames needs the try_ form. */
  def bestFacePerFrame(raw: Column): Column =
    transform(raw, cands =>
      try_element_at(array_sort(cands, (a, b) =>
        when(a("score") > b("score"), -1).when(a("score") < b("score"), 1).otherwise(0)),
        lit(1)))
}
