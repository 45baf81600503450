package graft.operators

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Shell-out transcode nodes — the reference's ffmpeg nodes
  * (`dpl/processor/nodes/ffmpeg.py:13-46`: video->frames, video->wav,
  * aac->wav) and its OpenCV fps probe (`dpl/common.py:30-32`) — as
  * kernels that append their output column to the row they read
  * ([[ModelOp.appendBatches]]), like every other clip node.
  *
  * Each row's payload goes to a temp file, the binary runs with the SAME
  * CLI flags as the reference, and the result is read back; joblib
  * process pools (`ffmpeg.py:77-78`) are subsumed by partition
  * parallelism. A null input, a failed decode or absent binaries give a
  * null output, so the clip goes to the error channel — the
  * orchestration is real and tested, the codec is environmental.
  */
object Ffmpeg {

  lazy val available: Boolean = probe("ffmpeg") && probe("ffprobe")

  private def probe(bin: String): Boolean =
    try { new ProcessBuilder(bin, "-version").start().waitFor() == 0 }
    catch { case _: java.io.IOException => false }

  /** Writes `payload` to `in.<inExt>` in a fresh temp dir, runs
    * `cmd(in, dir)` and, on exit 0, returns `read(stdout, dir)`; null
    * when the binaries are absent, the command fails or `read` throws.
    * The dir is always removed. */
  private def shellOut(payload: Array[Byte], inExt: String)
                      (cmd: (Path, Path) => Seq[String])
                      (read: (Array[Byte], Path) => Any): Any =
    if (!available) null
    else {
      val dir = Files.createTempDirectory("graft-ffmpeg")
      try {
        val in = dir.resolve(s"in.$inExt")
        Files.write(in, payload)
        val p = new ProcessBuilder(cmd(in, dir): _*).redirectErrorStream(true).start()
        val stdout = p.getInputStream.readAllBytes()
        if (p.waitFor() == 0) read(stdout, dir) else null
      } catch { case _: Exception => null }
      finally { dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete() }
    }

  /** Appends `out`, computed by `f` from each row's `inCol` bytes: one
    * shell-out per row, so a batch is one row. */
  private def append(df: DataFrame, inCol: String, out: StructField)
                    (f: Array[Byte] => Any): DataFrame =
    ModelOp.appendBatches(df, Seq(inCol), Seq(out), 1, ModelOp.NoModel) { (_, batch) =>
      batch.map(r => Row(f(r.getAs[Array[Byte]](0))))
    }

  /** `VideoToImagesNode` (`ffmpeg.py:114-130`): appends `frames`, the
    * video's jpeg frames (`-qscale:v 3` + `%06d.jpg` naming; frame order =
    * the zero-padded name order). A video with no decoded frame gets null. */
  def withFrames(df: DataFrame, videoCol: String): DataFrame =
    append(df, videoCol, StructField("frames", ArrayType(BinaryType, false))) { video =>
      shellOut(video, "mp4")((in, dir) => Seq("ffmpeg", "-y", "-i", in.toString,
        "-qscale:v", "3", dir.resolve("%06d.jpg").toString)) { (_, dir) =>
        val frames = dir.toFile.listFiles().filter(_.getName.endsWith(".jpg"))
          .sortBy(_.getName).map(f => Files.readAllBytes(f.toPath)).toSeq
        if (frames.isEmpty) null else frames
      }
    }

  /** `VideoToWavNode`: appends `wav`, the video's audio as mono 16 kHz
    * (`ffmpeg -i in -vn -ar 16000 -ac 1 out.wav`, ffmpeg.py template)
    * read at `sampleRate`. */
  def withVideoWav(df: DataFrame, videoCol: String, sampleRate: Int): DataFrame =
    wav(df, videoCol, "mp4", Seq("-vn"), sampleRate)

  /** `AacToWavNode`: appends `wav` decoded from aac bytes. */
  def withAacWav(df: DataFrame, aacCol: String, sampleRate: Int): DataFrame =
    wav(df, aacCol, "aac", Nil, sampleRate)

  private def wav(df: DataFrame, inCol: String, inExt: String, flags: Seq[String],
                  sampleRate: Int): DataFrame =
    append(df, inCol, StructField("wav", ArrayType(DoubleType, false))) { payload =>
      shellOut(payload, inExt)((in, dir) => Seq("ffmpeg", "-y", "-i", in.toString) ++
        flags ++ Seq("-ar", "16000", "-ac", "1", dir.resolve("out.wav").toString)) {
        (_, dir) =>
          graft.sources.Wav.decodeTo(Files.readAllBytes(dir.resolve("out.wav")), sampleRate)
      }
    }

  /** Container fps probe (== `get_fps`, `dpl/common.py:30-32`): appends
    * `fps`. */
  def withFps(df: DataFrame, videoCol: String): DataFrame =
    append(df, videoCol, StructField("fps", DoubleType)) { video =>
      shellOut(video, "mp4")((in, _) => Seq("ffprobe", "-v", "0",
        "-of", "csv=p=0", "-select_streams", "v:0",
        "-show_entries", "stream=r_frame_rate", in.toString)) { (stdout, _) =>
        new String(stdout).trim.split("/") match {
          case Array(num, den) if den.toDouble != 0 => num.toDouble / den.toDouble
          case _ => null
        }
      }
    }
}
