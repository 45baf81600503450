package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.{ImageOps, Sinks, Wav2vec}

/** Real-image crop/resize, wav2vec chunking arithmetic, packed sinks. */
class MediaOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def testJpeg(w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    val g = img.createGraphics()
    g.setColor(java.awt.Color.RED); g.fillRect(0, 0, w / 2, h)
    g.setColor(java.awt.Color.BLUE); g.fillRect(w / 2, 0, w - w / 2, h)
    g.dispose()
    val baos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", baos)
    baos.toByteArray
  }

  test("cropResizeBytes crops and resizes to the target square") {
    val bytes = testJpeg(100, 60)
    val out = ImageOps.cropResizeBytes(bytes, 10, 10, 50, 50, 224, 0.95f)
    val decoded = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out))
    assert(decoded.getWidth == 224 && decoded.getHeight == 224)
    // left half of the source is red; the [10,50) crop is fully red
    val px = decoded.getRGB(112, 112)
    val r = (px >> 16) & 0xff; val b = px & 0xff
    assert(r > 180 && b < 80)
    // deterministic: same input -> same bytes
    assert(out.sameElements(ImageOps.cropResizeBytes(bytes, 10, 10, 50, 50, 224, 0.95f)))
  }

  test("scanFrameDirs reassembles %06d frame dirs into ordered clip rows") {
    import graft.sources.ClipCatalog
    val root = java.nio.file.Files.createTempDirectory("framedirs")
    // the ffmpeg image2 layout (`-qscale:v 3 %06d.jpg`): one dir per clip,
    // zero-padded numeric stems; a nested clip dir and a flat one, plus a
    // non-numeric sidecar that must be ignored
    def write(rel: String, bytes: Array[Byte]): Unit = {
      val p = root.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, bytes)
    }
    val jpeg = testJpeg(64, 64)
    // tag each frame with a trailing byte (decoders ignore bytes past EOI)
    // so the assembled order is observable; write frames OUT of order
    (Seq(3, 1, 12, 2) ++ (4 to 11)).foreach { i =>
      write(f"a/images/$i%06d.jpg", jpeg :+ i.toByte)
    }
    (1 to 3).foreach(i => write(f"b/$i%06d.jpg", jpeg :+ (100 + i).toByte))
    write("a/images/cover.jpg", jpeg)
    val scanned = ClipCatalog.scanFrameDirs(spark, root.toString, "jpg")
    val rows = scanned.collect().map(r => r.getString(0) -> r.getSeq[Array[Byte]](1)).toMap
    assert(rows.keySet == Set("a_images", "b"))
    assert(rows("a_images").map(_.last.toInt) == (1 to 12))
    assert(rows("b").map(_.last.toInt) == Seq(101, 102, 103))
    // the scanned table IS a clip table: frame ops run on it unchanged
    val withBoxes = scanned.where(col("name") === "b")
      .withColumn("bboxes", expr(
        "transform(frames, f -> struct(0L as x1, 0L as y1, 32L as x2, 32L as y2))"))
    val cropped = ImageOps.cropFrames(withBoxes, "name", "frames", "bboxes", outSize = 16)
      .collect()
    assert(cropped.length == 3 && cropped.forall(_.isNullAt(3)))
  }

  test("cropFrames produces one row per frame and errors on cardinality mismatch") {
    val jpeg = testJpeg(64, 64)
    val df = Seq(
      ("clip_ok", Seq(jpeg, jpeg), Seq((0L, 0L, 32L, 32L), (8L, 8L, 48L, 48L))),
      ("clip_bad", Seq(jpeg), Seq((0L, 0L, 32L, 32L), (1L, 1L, 33L, 33L))))
      .toDF("name", "frames", "raw_boxes")
      .withColumn("bboxes", expr(
        "transform(raw_boxes, b -> struct(b._1 as x1, b._2 as y1, b._3 as x2, b._4 as y2))"))
    val out = ImageOps.cropFrames(df, "name", "frames", "bboxes", outSize = 32)
      .collect().groupBy(_.getString(0))
    assert(out("clip_ok").length == 2 && out("clip_ok").forall(_.isNullAt(3)))
    assert(out("clip_bad").length == 1 && out("clip_bad")(0).getString(3).contains("cardinality"))
  }

  test("wav2vec chunking splits >10s audio and applies the length magic") {
    val sr = 1000 // small "sample rate" for test speed; hop = 20
    val wav = Array.tabulate(sr * 25)(i => math.sin(i * 0.01)) // 25 s
    var chunksSeen = 0
    val countingEncoder: Wav2vec.Encoder = (chunk, s) => {
      chunksSeen += 1
      Wav2vec.StubEncoder(chunk, s)
    }
    val feats = Wav2vec.encodeWaveform(wav, sr, countingEncoder)
    assert(chunksSeen == 3) // 10s + 10s + 5s
    val magic = (wav.length.toDouble * 50 / sr - 0.25).toInt
    assert(feats.length == magic)
    assert(feats.head.length == Wav2vec.FeatureDim)
    val vol = Wav2vec.volume(wav, sr)
    assert(vol.length == wav.length / (sr / 50))
    assert(vol.forall(v => v >= 0))
  }

  test("wav2vec extract runs batched over a clip table") {
    val df = Seq(
      ("a", Seq.tabulate(16000)(i => math.sin(i * 0.001))),
      ("b", Seq.tabulate(8000)(i => math.cos(i * 0.002)))).toDF("name", "wav")
    val out = Wav2vec.extract(df, "name", "wav").orderBy("name").collect()
    assert(out.length == 2)
    // 1s @16k -> magic = int(50 - 0.25) = 49 frames
    assert(out(0).getSeq[Seq[Double]](1).length == 49)
    assert(out(1).getSeq[Seq[Double]](1).length == 24) // int(25 - 0.25)
    assert(out(0).getSeq[Double](2).length == 50)      // volume: full buckets
  }

  test("a2en pack aligns audio features onto video frames") {
    // one frame of 68-point 3-D landmarks, flattened as FlameNode emits it
    val lm3d = Seq.tabulate(68)(i =>
      Seq(i.toDouble, (i * 3 % 7).toDouble, (i * 5 % 11).toDouble))
    val df = Seq((
      "clip", // 100 audio frames @50Hz, 2-dim wav2vec; 30 video frames
      Seq.tabulate(100)(i => Seq(i.toDouble, i * 2.0)),
      Seq.tabulate(100)(_.toDouble),
      Seq(Seq(1.0, 2.0)), Seq(Seq(0.0, 0.0, 0.0, 0.5, 0.0, 0.0)),
      Seq(lm3d.flatten), 30))
      .toDF("name", "wav2vec", "volume", "exp", "pose", "landmarks3d", "num_frames")
    val packed = Sinks.a2enPack(df).select("a2en.*").head
    assert(packed.getSeq[Seq[Double]](0).length == 30) // audio_features resampled
    assert(packed.getSeq[Double](1).length == 30)      // volume resampled
    assert(packed.getSeq[Double](3) == Seq(0.5))       // jaw = pose[3]
    // blink features packed from landmarks3d with full 3-D distances
    def d(a: Int, b: Int): Double =
      math.sqrt(Seq(0, 1, 2).map(k => math.pow(lm3d(a)(k) - lm3d(b)(k), 2)).sum)
    val left = (d(37, 41) + d(38, 40)) / (d(36, 39) * 2)
    val right = (d(43, 47) + d(44, 46)) / (d(42, 45) * 2)
    assert(packed.getSeq[Double](5) == Seq(left))
    assert(packed.getSeq[Double](6) == Seq(right))
    assert(packed.getSeq[Double](7) == Seq((left + right) / 2))
    // the probed-fps column is plumbed through; note the reference's
    // resample is fps-INVARIANT (length_sec and both sample grids scale
    // by 1/fps together, so the interpolation weights cancel) — passing
    // the probed fps is parity, not a numeric change
    val at25 = Sinks.a2enPack(df, lit(25.0)).select("a2en.*").head
    assert(at25.getSeq[Double](1) == packed.getSeq[Double](1))
  }

  test("vid2vid_audio concats [wav2vec | volume | blinks] per frame") {
    val n = 10
    val df = Seq(("c",
      Seq.tabulate(20)(i => Seq(i.toDouble, -i.toDouble)), // wav2vec (20 x 2)
      Seq.tabulate(20)(i => i.toDouble),                   // volume (20)
      n))
      .toDF("name", "wav2vec", "volume", "num_frames")
      .withColumn("landmarks", expr(s"array_repeat(transform(sequence(0, 67)," +
        s" i -> struct(CAST(i AS DOUBLE) as x, CAST(i * 7 % 13 AS DOUBLE) as y)), $n)"))
    val out = Sinks.vid2vidAudioFeatures(df, windowSize = 4).head
    val w2v = out.getSeq[collection.Seq[Double]](1)
    val vol = out.getSeq[Double](2)
    val avg = out.getSeq[Double](3)
    val feat = out.getSeq[collection.Seq[Double]](4)
    assert(w2v.length == n && vol.length == n && avg.length == n && feat.length == n)
    (0 until n).foreach { t =>
      // layout: [wav2vec dims (2) | volume | left_blink | right_blink]
      assert(feat(t).length == 5)
      assert(feat(t)(0) == w2v(t)(0) && feat(t)(1) == w2v(t)(1))
      assert(feat(t)(2) == vol(t))
      // wav2vec dim 0 IS the volume series, dim 1 its negation: the
      // per-dimension resample+window path must agree bit-for-bit with
      // the scalar path
      assert(w2v(t)(0) == vol(t) && w2v(t)(1) == -vol(t))
    }
  }

  test("scene shots and silence runs handle degenerate clips") {
    import org.apache.spark.sql.functions._
    import graft.operators.Multimodal
    val df = Seq(
      (1L, Seq(0.0, 600.0, 0.0, 0.0, 900.0, 0.0)), // cuts at 1,2,4,5
      (2L, Seq(5.0)),                              // single frame: 1 shot, no run (minRun 2)
      (3L, Seq(0.0, 0.0, 0.0)),                    // all silent: one run of 3
      (4L, Seq(900.0, 901.0, 902.0))               // no silence, no cuts: 1 shot
    ).toDF("clip_id", "series")
    val shots = df.select(col("clip_id"),
        posexplode(Multimodal.shotsFromCuts(
          Multimodal.cutPositions(col("series"), lit(500.0)),
          size(col("series")))).as(Seq("p", "s")))
      .select(col("clip_id"), col("s.shot_idx"), col("s.start_frame"),
        col("s.n_frames"), col("s.keyframe"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(shots == Set(
      (1L, 0L, 0L, 1L, 0L), (1L, 1L, 1L, 1L, 1L), (1L, 2L, 2L, 2L, 3L),
      (1L, 3L, 4L, 1L, 4L), (1L, 4L, 5L, 1L, 5L),
      (2L, 0L, 0L, 1L, 0L),
      (3L, 0L, 0L, 3L, 1L),
      (4L, 0L, 0L, 3L, 1L)), s"shots wrong: $shots")
    val runs = Multimodal.silenceRunRows(df, "clip_id", "series",
        threshold = 500.0, minRun = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2),
        r.getLong(3))).toSet
    // clip 1: silent at 0, 2, 3, 5 -> runs [0], [2,3], [5]; only [2,3]
    // survives minRun 2. clip 3: [0,1,2]. clips 2 and 4: none.
    assert(runs == Set((1L, 0, 2L, 2L), (3L, 0, 0L, 3L)), s"runs wrong: $runs")
  }

  test("silence runs match a brute-force run-length reference on random series") {
    import graft.operators.Multimodal
    val rnd = new scala.util.Random(9)
    val clips = (1L to 80L).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(40))((rnd.nextInt(200) - 100).toDouble))
    }
    val got = Multimodal.silenceRunRows(clips.toDF("clip_id", "series"),
        "clip_id", "series", threshold = 30.0, minRun = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val exp = clips.flatMap { case (id, s) =>
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var j = 0
      while (j < s.length) {
        if (math.abs(s(j)) < 30) {
          var k = j
          while (k < s.length && math.abs(s(k)) < 30) k += 1
          runs += ((j.toLong, (k - j).toLong)); j = k
        } else j += 1
      }
      runs.filter(_._2 >= 2).zipWithIndex
        .map { case ((st, n), ix) => (id, ix.toLong, st, n) }
    }.toSet
    assert(got == exp)
  }

  test("best-lag correlation matches a brute-force sweep, recovers planted shifts, ties to smallest lag") {
    import org.apache.spark.sql.functions._
    import graft.operators.Multimodal
    val rnd = new scala.util.Random(31)
    val maxLag = 4
    // random pairs incl. unequal lengths and planted-shift copies
    val clips = (1L to 60L).map { i =>
      val a = Seq.fill(6 + rnd.nextInt(30))((rnd.nextInt(400) - 200).toLong)
      val b =
        if (i % 3 == 0) a.drop((i % 4).toInt) // planted shift (ties possible)
        else Seq.fill(6 + rnd.nextInt(30))((rnd.nextInt(400) - 200).toLong)
      (i, a, b)
    }
    val staged = clips.toDF("id", "a", "b")
      .select(col("id"), explode(array(struct(col("a"), col("b")))).as("g"))
      .select(col("id"), col("g.a").as("a"), col("g.b").as("b"))
    val got = staged.select(col("id"),
        explode(array(Multimodal.bestLagCorrelation(col("a"), col("b"), maxLag)))
          .as("r"))
      .select(col("id"), col("r.best_lag"), col("r.best_corr"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    clips.foreach { case (id, a, b) =>
      val sweep = (-maxLag to maxLag).map { j =>
        val is = (0 until a.length).filter(i => i + j >= 0 && i + j < b.length)
        val corr = if (is.isEmpty) Long.MinValue
        else is.map(i => a(i) * b(i + j)).sum
        (j.toLong, corr)
      }
      val expect = sweep.maxBy { case (j, c) => (c, -j) }
      assert(got(id) == ((expect._1, expect._2)), s"clip $id: ${got(id)} vs $expect")
    }
  }
}
