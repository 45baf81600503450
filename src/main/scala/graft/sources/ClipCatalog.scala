package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Clip-catalog construction: the reference's input scan + name derivation
  * + intersection (`dpl/processor/engine.py:20-53, 97-109`) as Spark scans
  * and a multi-way inner join.
  *
  * A "clip" is one source asset; its name is the path relative to the scan
  * root with separators replaced by `_` and the extension stripped
  * (`engine.py:97-98`). Every data type contributes one column; the clip
  * table is the inner join of all per-type scans on `name` — the engine's
  * only join-semantics choice (`engine.py:108-109`).
  */
object ClipCatalog {

  /** Anchored regex matching `root` (with any URI scheme prefix) at the
    * start of a scanned path — the binaryFile source reports URIs
    * (`file:/...`, `s3a://...`) while callers hand in plain paths. */
  private def rootPattern(root: String): String = {
    val rootNorm = root.stripSuffix("/") + "/"
    if (rootNorm.contains("://")) "^" + java.util.regex.Pattern.quote(rootNorm)
    else "^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?/*" +
      java.util.regex.Pattern.quote(rootNorm.stripPrefix("/"))
  }

  /** Name derivation from a file path under `root`. */
  def deriveName(path: Column, root: String): Column = {
    val rel = regexp_replace(path, rootPattern(root), "")
    regexp_replace(regexp_replace(rel, "\\.[^./]+$", ""), "/", "_")
  }

  /** Recursive binary scan of one data type rooted at `root`; yields
    * (name, <typeKey>: binary). Mirrors `common.listdir` + binding
    * (`dpl/common.py:13-27`): extension filter, recursive; the sort is
    * unnecessary because the key is carried per row. */
  def scanBinaryType(spark: SparkSession, root: String, ext: String,
                     typeKey: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", s"*.$ext")
      .option("recursiveFileLookup", "true")
      .load(root)
      .select(deriveName(col("path"), root).as("name"),
        col("content").as(typeKey))

  /** Sequential frame-dir ingestion — the reference's `FolderType`
    * (`dpl/processor/datatype.py:42-57`, `dpl/common.py:13-27`): each clip
    * is a directory of `%06d.<ext>`-numbered frames under `root` (the
    * ffmpeg image2 layout). Yields `(name, <frameCol>: array<binary>)`
    * with one row per clip and frames ordered by their numeric index —
    * the same `frames` column the `video_to_frames` node appends to a
    * clip row, so every downstream frame op (crop, pack, ...) runs on
    * scanned trees unchanged.
    *
    * The binary scan parallelizes per file; the one shuffle regroups
    * frames into clip rows, and `array_sort` on an (idx, bytes) struct
    * restores the sequence without relying on scan order. Non-numeric
    * file stems (covers, sidecars) are ignored. */
  def scanFrameDirs(spark: SparkSession, root: String, ext: String = "jpg",
                    frameCol: String = "frames"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", s"*.$ext")
      .option("recursiveFileLookup", "true")
      .load(root)
      .select(
        // clip name = the frame's DIRECTORY relative to root, flattened
        // (no extension stripping: directories keep their dots)
        regexp_replace(regexp_replace(
          regexp_replace(col("path"), rootPattern(root), ""),
          "/[^/]+$", ""), "/", "_").as("name"),
        // nullif: a non-numeric stem extracts to "", which ANSI cast rejects
        nullif(regexp_extract(col("path"), "/0*([0-9]+)\\.[^./]+$", 1), lit(""))
          .cast("long").as("frame_idx"),
        col("content"))
      .where(col("frame_idx").isNotNull && col("name") =!= "")
      .groupBy("name")
      .agg(transform(
        array_sort(collect_list(struct(col("frame_idx"), col("content")))),
        f => f("content")).as(frameCol))

  /** Multi-way inner join on `name` over per-type frames — the reference's
    * `set.intersection` over name sets. Raises if the intersection is empty
    * (`engine.py:32-33`). Each input must expose a `name` column.
    *
    * Emptiness is probed in two tiers: each INPUT with a limit(1) scan (a
    * scan-only job — a misconfigured catalog with an empty collection
    * errors without evaluating the join), then the intersection itself. */
  def intersectOnName(inputs: Seq[DataFrame]): DataFrame = {
    require(inputs.nonEmpty, "no input collections")
    inputs.zipWithIndex.foreach { case (in, i) =>
      if (in.select(lit(1)).limit(1).isEmpty)
        throw new IllegalArgumentException(s"input collection $i is empty")
    }
    val joined = inputs.reduce((a, b) => a.join(b, Seq("name"), "inner"))
    // Mirrors engine.py:32-33: an empty name intersection is a
    // configuration error surfaced eagerly at build time. The limit(1)
    // probe early-exits on the first surviving row in the common
    // (non-empty) case; only a genuinely-empty intersection pays the full
    // join evaluation before erroring.
    if (joined.select(lit(1)).limit(1).isEmpty)
      throw new IllegalArgumentException(
        "empty name intersection across input collections")
    joined
  }
}
