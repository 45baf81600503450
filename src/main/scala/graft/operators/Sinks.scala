package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Packed training-container sinks — the reference's `.npz`/`.h5` dataset
  * nodes re-expressed as nested-column parquet writes (SURVEY.md §2.1):
  *
  *  - a2en  (`dpl/processor/nodes/a2en.py:13-45`): audio-to-expression
  *    training rows packing wav2vec features, volume, exp/pose codes,
  *    3-D landmarks and blink features, with the audio features resampled
  *    onto the video frame count.
  *  - vid2vid_audio (`h5.py:163-237`): windowed audio features + blinks.
  *  - vid2vid (`h5.py:95-104`, crops + uv/normal renders) and src_seq
  *    (`h5.py:107-141`, the wide 12-type pack + blink features) are struct
  *    projections in the pipeline registry over the rosters below.
  *
  * The HDF5 "JPEG-compressed images inside the container" trick
  * (`h5.py:63-83`, plugin 32019) maps to keeping frames as JPEG bytes in
  * `array<binary>` columns inside zstd parquet — compressed payloads in a
  * columnar container, no plugin needed. One row per clip.
  */
object Sinks {

  /** jaw pose = pose[:, 3] (`a2en.py:30`). */
  private def jaw(pose: Column): Column = transform(pose, p => element_at(p, 4))

  /** Append the a2en pack as the struct column `a2en` to a clip table
    * with columns (wav2vec, volume, exp, pose, landmarks3d).
    * Mirrors `a2en.py:24-45`: wav2vec/volume are resampled onto
    * `numFrames` with `fpsCol` — the PROBED per-clip video fps the
    * reference hands to `resample` (`a2en.py:38-44`) — jaw = pose[:, 3],
    * and the landmarks3d blink features are packed alongside
    * (`a2en.py:32-34`). Rows with empty audio features null out
    * (`a2en.py:38-39` raises; here the error channel catches). */
  def withA2en(df: DataFrame, numFrames: Column, fpsCol: Column): DataFrame = {
    val fps = fpsCol.cast("double")
    val blinks = col("_a2en_blinks3d")
    df.withColumn("_a2en_blinks3d", ClipOps.blinks3d(col("landmarks3d")))
      // a clip with a frame of fewer than 68 landmarks has no blink
      // series: its a2en is NULL, which sends it to the error channel
      .withColumn("a2en", when(exists(col("landmarks3d"),
        f => size(f) < 3 * 68), lit(null)).otherwise(struct(
        when(size(col("wav2vec")) > 0,
          graft.functions.linear_resample_vec(col("wav2vec"), numFrames, fps))
          .as("audio_features"),
        when(size(col("volume")) > 0,
          graft.functions.linear_resample(col("volume"), numFrames, fps))
          .as("volume"),
        col("exp").as("exp"),
        jaw(col("pose")).as("jaw_pose"),
        col("landmarks3d").as("landmarks3d"),
        transform(blinks, b => b("left_blink")).as("left_blink"),
        transform(blinks, b => b("right_blink")).as("right_blink"),
        transform(blinks, b => b("average_blink")).as("average_blink"))))
      .drop("_a2en_blinks3d")
  }

  /** The a2en pack (name, a2en) of a clip table that also carries the
    * video frame count `num_frames`. */
  def a2enPack(df: DataFrame, fpsCol: Column): DataFrame =
    withA2en(df, col("num_frames"), fpsCol).select(col("name"), col("a2en"))

  /** 50 Hz default: the wav2vec feature rate, for clips with no probed
    * fps column. */
  def a2enPack(df: DataFrame): DataFrame = a2enPack(df, lit(50.0))

  /** Vid2vidAudio features (`h5.py:163-237`), appended as the struct
    * column `out`: wav2vec and volume are resampled onto `numFrames`
    * (source rate = the node's `fps` constructor param,
    * `h5.py:175-183`), window-averaged with edge replication
    * (`average_features`, `h5.py:235-237`), then concatenated with the
    * blink features into the per-frame conditioning matrix
    * `[wav2vec | volume | left_blink | right_blink]` (`h5.py:205-214`).
    * The windowed wav2vec/volume and average_blink stay their own fields
    * exactly as the reference stores separate datasets (`h5.py:216-226`).
    * Needs (wav2vec, volume, landmarks). */
  def withVid2vidAudio(df: DataFrame, numFrames: Column, windowSize: Int,
                       fpsCol: Column, out: String): DataFrame = {
    val fps = fpsCol.cast("double")
    val (w2v, vol, blinks) = (col("_v2va_w2v"), col("_v2va_vol"), col("_v2va_blinks"))
    df.withColumn("_v2va_w2v", graft.functions.edge_moving_avg_vec(
        graft.functions.linear_resample_vec(col("wav2vec"), numFrames, fps), windowSize))
      .withColumn("_v2va_vol", graft.functions.edge_moving_avg(
        graft.functions.linear_resample(col("volume"), numFrames, fps), windowSize))
      .withColumn("_v2va_blinks", ClipOps.blinks(col("landmarks")))
      .withColumn(out, struct(w2v.as("wav2vec"), vol.as("volume"),
        transform(blinks, b => b("average_blink")).as("average_blink"),
        zip_with(zip_with(w2v, vol, (w, v) => concat(w, array(v))), blinks,
          (wv, b) => concat(wv, array(b("left_blink"), b("right_blink"))))
          .as("audio_blink_feature")))
      .drop("_v2va_w2v", "_v2va_vol", "_v2va_blinks")
  }

  /** The vid2vid_audio features as a table (name, wav2vec, volume,
    * average_blink, audio_blink_feature) of a clip table that also
    * carries `num_frames`. */
  def vid2vidAudioFeatures(df: DataFrame, windowSize: Int = 16,
                           fpsCol: Column = lit(50.0)): DataFrame =
    withVid2vidAudio(df, col("num_frames"), windowSize, fpsCol, "_v2va")
      .select(col("name"), col("_v2va.*"))

  /** The reference's src_seq type roster (`h5.py:107-120`,
    * SourceSequenceNode.input_types; IMAGES = the frames column). */
  val SrcSeqTypes: Seq[String] = Seq("frames", "bboxes", "crops", "shape",
    "exp", "pose", "cam", "light", "landmarks", "landmarks3d",
    "render_uv", "render_normal")

  /** ...WithAlpha adds the alpha mattes after the images
    * (`h5.py:144-159`). */
  val SrcSeqWithAlphaTypes: Seq[String] =
    SrcSeqTypes.head +: "alpha" +: SrcSeqTypes.tail

  /** Z-order-clustered parquet write (the OPTIMIZE ZORDER layout): rows
    * are range-partitioned and sorted by the Morton key of `keys`, so
    * every output file covers a small hyper-rectangle of the key space —
    * per-file min/max statistics then prune scans filtered on ANY of the
    * interleaved columns, not just a lexicographic prefix. `nFiles`
    * bounds file count; the key column itself is not persisted. */
  def writeZOrdered(df: DataFrame, path: String, bitsPer: Int,
                    keys: Seq[Column], nFiles: Int = 16): Unit =
    df.withColumn("__z", graft.functions.zorder_key(bitsPer, keys: _*))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Range-sharded sorted writer: one range shuffle
    * (`repartitionByRange` — a sampled range partitioner, so shards are
    * load-balanced without a global sort) plus a within-shard sort, so
    * the output files hold NON-OVERLAPPING key ranges in key order —
    * parquet footer min/max then prune point/range predicates on the
    * sort key to ONE file (the sorted-run layout a 100 TB corpus wants
    * for id-keyed serving; the z-order writer above is the
    * multi-dimensional sibling). */
  def writeRangeSorted(df: DataFrame, path: String,
                       keys: Seq[Column], nFiles: Int = 16): Unit =
    df.repartitionByRange(nFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode("overwrite").parquet(path)

  /** Persist a table BUCKETED + sorted by a join key (Hive-style layout
    * via `bucketBy`/`sortBy` + `saveAsTable` — bucket metadata only
    * exists through the catalog). Two tables bucketed the same way
    * equi-join WITHOUT ANY EXCHANGE: each task merge-joins bucket i of
    * both sides directly off disk — at 100 TB this converts the
    * fact⋈fact join from the cluster-wide shuffle that dominates the
    * job into pure co-located reads, the single biggest plan lever for
    * repeated joins on a stable key (ScaleSpec proves the exchange-free
    * plan). Spark buckets rows by `hash(key) % nBuckets`, so both
    * sides MUST use the same nBuckets (or a multiple, with
    * `spark.sql.bucketing.coalesceBucketsInJoin.enabled`). */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    nBuckets: Int = 16): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
}

