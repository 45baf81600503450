package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Wav2vec feature extraction node (`dpl/processor/nodes/audio.py:30-110`,
  * model wrapper `dpl/wav2vec/inference.py:9-106`): waveform -> ((T,256)
  * features @50 Hz, (T,) volume).
  *
  * The surrounding logic is ported exactly and is real:
  *  - >10 s waveforms split into `sr*10`-sample chunks, encoded chunkwise,
  *    concatenated (`inference.py:69-90`);
  *  - the "Some magic" length trim `int(len(wf)*50/sr - 0.25)`
  *    (`inference.py:52-60`);
  *  - volume = mean |amplitude| per `sr/50`-sample hop (`inference.py:94-106`);
  *  - batched execution with a lazily-loaded per-executor model (ModelOp).
  *
  * The transformer itself is pluggable; `StubEncoder` stands in for the
  * HuggingFace model (no model runtime ships in this environment) with a
  * deterministic per-hop projection, so the pipeline remains reproducible.
  */
object Wav2vec {
  val Fps = 50
  val MaxChunkSec = 10
  val FeatureDim = 256

  type Encoder = (Array[Double], Int) => Array[Array[Double]]

  /** Chunked encode + trim (exact reference arithmetic). */
  def encodeWaveform(wav: Array[Double], sampleRate: Int,
                     encoder: Encoder): Array[Array[Double]] = {
    val chunkLen = sampleRate * MaxChunkSec
    val feats =
      if (wav.length <= chunkLen) encoder(wav, sampleRate)
      else wav.grouped(chunkLen).flatMap(c => encoder(c, sampleRate)).toArray
    val magic = (wav.length.toDouble * Fps / sampleRate - 0.25).toInt
    feats.take(math.max(magic, 0))
  }

  /** Volume at 50 Hz (mean abs per hop; the last partial hop counts). */
  def volume(wav: Array[Double], sampleRate: Int): Array[Double] = {
    val hop = sampleRate / Fps
    if (wav.isEmpty) return Array.empty
    wav.grouped(hop).map(g => g.map(math.abs).sum / g.length).toArray
  }

  /** STUB encoder: one 256-dim frame per hop, deterministic projection of
    * the hop window (mean, rms, extremes tiled) — stands in for
    * Wav2Vec2ForPreTraining; replace via the `encoder` parameter. */
  val StubEncoder: Encoder = (chunk, sampleRate) => {
    val hop = sampleRate / Fps
    chunk.grouped(hop).map { g =>
      val mean = g.sum / g.length
      val rms = math.sqrt(g.map(x => x * x).sum / g.length)
      val mx = g.max; val mn = g.min
      Array.tabulate(FeatureDim) { d =>
        d % 4 match {
          case 0 => mean; case 1 => rms; case 2 => mx; case _ => mn
        }
      }
    }.toArray
  }

  private val outFields: Seq[StructField] = Seq(
    StructField("wav2vec", ArrayType(ArrayType(DoubleType, false), false)),
    StructField("volume", ArrayType(DoubleType, false)))

  private case class EncoderResource(id: String, enc: Encoder)
      extends ModelResource[Encoder] {
    def key: String = s"wav2vec-$id"
    def load(): Encoder = enc
  }

  /** Appends (wav2vec, volume) computed from `wavCol` (array<double>),
    * batched with a per-executor lazily-loaded encoder. batchSize default
    * mirrors the reference config (wav2vec batch 8, BASELINE.md). */
  def withFeatures(df: DataFrame, wavCol: String, sampleRate: Int = 16000,
                   batchSize: Int = 8, encoder: Encoder = StubEncoder,
                   encoderId: String = "stub"): DataFrame =
    ModelOp.appendBatches(df, Seq(wavCol), outFields, batchSize,
      EncoderResource(encoderId, encoder)) { (enc, batch) =>
      batch.map { r =>
        val wav = r.getSeq[Double](0).toArray
        Row(encodeWaveform(wav, sampleRate, enc), volume(wav, sampleRate))
      }
    }
}
