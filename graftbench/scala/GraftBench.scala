package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.Queries
import graft.plans.{NodeSpec, OpRegistry, Pipeline, PipelineReport}

/** Benchmark driver for the gate registry and the Pipeline clip DAG.
  *
  * It calls only the engine's public entry points and measures from
  * outside: wall time around those calls, and (with `trace=1`) Spark work
  * through a `SparkListener` and a `QueryExecutionListener` registered
  * here. Arguments are `key=value` pairs; `mode` is `gates`, `pipeline`
  * or `selftest`. The result is one JSON object written to `result`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = opts("out")
    val spark = SparkSession.builder()
      .master(s"local[${opts("cores")}]")
      .config("spark.sql.shuffle.partitions", opts("cores"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (opts.getOrElse("trace", "0") == "1") Some(new Tracer(spark)) else None
    val result = opts("mode") match {
      case "gates" => new GateBench(spark, opts, tracer).run()
      case "pipeline" => new PipeBench(spark, opts, tracer).run()
      case "selftest" => PipeBench.selftest(spark, opts)
    }
    Files.writeString(Paths.get(opts("result")), Json(result))
    spark.stop()
  }
}

/** Shared timing protocol: untimed warm-up rounds, then `rounds` timed
  * rounds. Every figure is taken over those rounds only; while `seconds`
  * have not passed, further whole rounds run, counted and checked but not
  * timed, so the timed rounds never depend on how fast a round is. */
abstract class Bench(spark: SparkSession, opts: Map[String, String], tracer: Option[Tracer]) {
  val out: String = opts("out")
  val seconds: Double = opts("seconds").toDouble
  val warmup: Int = opts("warmup").toInt
  val timedRounds: Int = opts.getOrElse("rounds", "1").toInt
  /** Wall-clock start of the process that launched this JVM (epoch ms). */
  val t0Ms: Long = opts("t0ms").toLong
  val buildS: Double = opts.getOrElse("build_s", "0").toDouble
  var attempted = 0L
  var failed = 0L
  /** operation name -> first failure in a measured round */
  val errors = mutable.LinkedHashMap.empty[String, String]
  /** operation name -> warm wall times (s), one per timed round */
  val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** One round of operations; `timed` rounds record their times. */
  def round(timed: Boolean): Unit
  /** Measured rounds (timed or not) count their operations and failures. */
  private var measuring = false
  /** Per-layer figures the workload measures itself (traced runs only). */
  def extraMetrics(): Map[String, Double] = Map.empty
  def opLayers(): Map[String, Any] = Map.empty
  def checks(): Map[String, Any]

  def timeOp(name: String, timed: Boolean)(body: => Unit): Unit = {
    if (measuring) attempted += 1
    val start = System.nanoTime()
    try {
      body
      if (timed) times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - start) / 1e9
    } catch {
      case e: Throwable if measuring =>
        failed += 1
        errors.getOrElseUpdate(name, s"${e.getClass.getName}: ${e.getMessage}".take(400))
      case _: Throwable => // a warm-up failure shows again in the measured rounds
    }
  }

  def run(): Map[String, Any] = {
    (0 until warmup).foreach(_ => round(timed = false))
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3 - buildS
    tracer.foreach(_.reset())
    measuring = true
    val jvm0 = JvmClock.snapshot()
    val begin = System.nanoTime()
    (0 until timedRounds).foreach { _ =>
      round(timed = true)
      tracer.foreach(_.endRound())
    }
    val jvm = JvmClock.snapshot().minus(jvm0)
    var rounds = timedRounds
    while ((System.nanoTime() - begin) / 1e9 < seconds) {
      round(timed = false)
      rounds += 1
    }
    val measuredS = (System.nanoTime() - begin) / 1e9
    val warmS = times.valuesIterator.map(v => median(v.toSeq)).sum
    Map(
      "attempted" -> attempted, "failed" -> failed, "rounds" -> rounds,
      "measured_s" -> measuredS, "errors" -> errors.toMap,
      "metrics" -> Map("setup_s" -> setupS, "warm_s" -> warmS),
      "layers" -> tracer.map(_.layers() ++ extraMetrics() ++
        Map("jvm.gc_s" -> jvm.gcS / timedRounds, "jvm.jit_s" -> jvm.jitS / timedRounds,
          "jvm.retained_heap_mb" -> JvmClock.retainedHeapMb())).getOrElse(Map.empty),
      "op_median_s" -> times.map { case (k, v) => k -> median(v.toSeq) }.toMap,
      "op_times_s" -> times.map { case (k, v) => k -> v.toSeq }.toMap,
      "op_layers" -> opLayers(),
      "callsites" -> tracer.map(_.callsites.asScala.toMap).getOrElse(Map.empty),
      "check" -> checks())
  }

  def median(v: Seq[Double]): Double = Bench.median(v)
}

object Bench {
  def median(v: Seq[Double]): Double = {
    val s = v.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Gate workloads: one operation is `Queries.all(name).impl(spark, dir)`
  * plus the final noop save. */
final class GateBench(spark: SparkSession, opts: Map[String, String], tracer: Option[Tracer])
    extends Bench(spark, opts, tracer) {
  val dir: String = opts("data")
  val gates: Seq[String] = opts("gates").split(',').toSeq
  private val impls = gates.map(g => g -> Queries.all(g).impl)
  private val constructS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val finalS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def round(timed: Boolean): Unit = impls.foreach { case (name, impl) =>
    timeOp(name, timed) {
      tracer.foreach(_.phase("construct", name))
      val c0 = System.nanoTime()
      val df = impl(spark, dir)
      val c1 = System.nanoTime()
      tracer.foreach(_.phase("final", name))
      try df.write.format("noop").mode("overwrite").save()
      finally tracer.foreach(_.phase("idle"))
      if (timed && tracer.isDefined) {
        constructS.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (c1 - c0) / 1e9
        finalS.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - c1) / 1e9
      }
    }
  }

  override def extraMetrics(): Map[String, Double] =
    Map("queries.construct_s" -> constructS.valuesIterator.map(v => median(v.toSeq)).sum)

  /** Per gate, for choosing the gate set: construction vs final time and jobs. */
  override def opLayers(): Map[String, Any] = tracer.map { t =>
    gates.map { g =>
      g -> Map("construct_s" -> median(constructS.getOrElse(g, Nil).toSeq),
        "final_s" -> median(finalS.getOrElse(g, Nil).toSeq),
        "construct_jobs" -> t.median(s"opjobs.$g.construct"),
        "final_jobs" -> t.median(s"opjobs.$g.final"))
    }.toMap
  }.getOrElse(Map.empty)

  /** Untimed: each gate's output goes to parquet for the DuckDB oracle. */
  def checks(): Map[String, Any] = {
    val writeErrors = impls.flatMap { case (name, impl) =>
      try {
        impl(spark, dir).repartition(1).write.mode("overwrite").parquet(s"$out/results/$name")
        None
      } catch { case e: Throwable => Some(name -> s"${e.getClass.getName}: ${e.getMessage}".take(400)) }
    }.toMap
    val oracle = gates.map(g => g -> Queries.all(g).oracle.getOrElse("")).toMap
    Map("oracle_sql" -> oracle, "write_errors" -> writeErrors)
  }
}

/** The Pipeline workload: per round, one fresh execute into a new output
  * directory, then one execute over the same directory, where every clip
  * is memoized. */
final class PipeBench(spark: SparkSession, opts: Map[String, String], tracer: Option[Tracer])
    extends Bench(spark, opts, tracer) {
  val clips: Seq[PipeBench.Clip] = PipeBench.makeClips(
    opts("seed").toLong, opts("clips").toInt, opts("frames").toInt)
  val cropSize: Int = opts("crop_size").toInt
  val nodes: Seq[NodeSpec] = PipeBench.nodes(opts("nodes").split(',').toSeq, cropSize)
  private val inputPath = s"$out/clips_in"
  PipeBench.toFrame(spark, clips).write.mode("overwrite").parquet(inputPath)
  private var rep = 0
  private var lastDir: Option[String] = None
  private val problems = mutable.ArrayBuffer.empty[String]
  private val validateS = mutable.ArrayBuffer.empty[Double]
  private val nodeBuildS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val outputMb = mutable.ArrayBuffer.empty[Double]

  def round(timed: Boolean): Unit = {
    rep += 1
    val dir = s"$out/pipe/r$rep"
    val input = spark.read.parquet(inputPath)
    var fresh = Seq.empty[PipelineReport]
    var memo = Seq.empty[PipelineReport]
    tracer.foreach(_.phase("fresh"))
    timeOp("fresh", timed) { fresh = Pipeline(nodes, dir).execute(spark, input)._2 }
    tracer.foreach(_.phase("idle"))
    if (timed && tracer.isDefined) outputMb += PipeBench.dirBytes(Paths.get(dir)) / 1e6
    tracer.foreach(_.phase("memo"))
    timeOp("memo", timed) { memo = Pipeline(nodes, dir).execute(spark, input)._2 }
    tracer.foreach(_.phase("idle"))
    if (timed && tracer.isDefined) traceBuild(input)
    lastDir.foreach(PipeBench.deleteTree)
    lastDir = None
    // a failed execute is counted by timeOp; checks cover the ones that ran
    if (fresh.nonEmpty && memo.nonEmpty) {
      problems ++= PipeBench.checkReports(fresh, memo, clips.size).map(p => s"round $rep: $p")
      problems ++= PipeBench.checkCommitted(spark, dir, clips).map(p => s"round $rep: $p")
      lastDir = Some(dir)
    }
  }

  /** Times `Pipeline.validate` and each node's `apply` along the chain. */
  private def traceBuild(input: DataFrame): Unit = {
    val v0 = System.nanoTime()
    Pipeline(nodes, s"$out/unused").validate(input.columns.toSet - "name")
    validateS += (System.nanoTime() - v0) / 1e9
    nodes.foldLeft(input) { (df, spec) =>
      val b0 = System.nanoTime()
      val next = OpRegistry.resolve(spec.op).get.apply(df, spec.params)
      nodeBuildS.getOrElseUpdate(spec.op, mutable.ArrayBuffer.empty) += (System.nanoTime() - b0) / 1e9
      next
    }
  }

  override def extraMetrics(): Map[String, Double] =
    Map("pipeline.validate_s" -> median(validateS.toSeq),
      "pipeline.output_mb" -> median(outputMb.toSeq),
      "pipeline.fresh_s" -> median(times.getOrElse("fresh", Nil).toSeq),
      "pipeline.memo_s" -> median(times.getOrElse("memo", Nil).toSeq)) ++
      nodeBuildS.map { case (op, v) => s"pipeline.node_build_s.$op" -> median(v.toSeq) }

  def checks(): Map[String, Any] = {
    lastDir.foreach { d => problems ++= PipeBench.checkContent(spark, d, clips, cropSize) }
    Map("problems" -> problems.toSeq)
  }
}

object PipeBench {
  final case class Clip(name: String, frames: Seq[Array[Byte]], wav: Array[Double])

  /** Node specs for registry names (class-name aliases work); `CropNode`
    * gets the crop size. */
  def nodes(names: Seq[String], cropSize: Int): Seq[NodeSpec] = names.map {
    case op @ "CropNode" => NodeSpec(op, Map("size" -> cropSize.toString))
    case op => NodeSpec(op)
  }

  /** Distinct JPEG frames (seeded noise under a few filled shapes) and a
    * 16 kHz wav of seeded length per clip. */
  def makeClips(seed: Long, n: Int, frames: Int): Seq[Clip] = {
    val rnd = new java.util.Random(seed)
    Seq.tabulate(n) { c =>
      val fs = Seq.fill(frames)(jpeg(rnd, 64))
      val len = 8000 + rnd.nextInt(16001)
      val wav = Array.tabulate(len)(i =>
        0.4 * math.sin(i * (0.01 + c * 0.003)) + 0.1 * rnd.nextGaussian())
      Clip(f"clip_$c%04d", fs, wav)
    }
  }

  def jpeg(rnd: java.util.Random, size: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(size, size,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until size; x <- 0 until size) img.setRGB(x, y, rnd.nextInt(0xffffff))
    val g = img.createGraphics()
    for (_ <- 0 until 3) {
      g.setColor(new java.awt.Color(rnd.nextInt(0xffffff)))
      g.fillOval(rnd.nextInt(size), rnd.nextInt(size), 8 + rnd.nextInt(size / 2), 8 + rnd.nextInt(size / 2))
    }
    g.dispose()
    val bytes = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bytes)
    bytes.toByteArray
  }

  def toFrame(spark: SparkSession, clips: Seq[Clip]): DataFrame = {
    import spark.implicits._
    clips.map(c => (c.name, c.frames, c.wav.toSeq)).toDF("name", "frames", "wav")
  }

  private def count(reports: Seq[PipelineReport], status: String): Long =
    reports.find(r => r.node == "_pipeline" && r.status == status).map(_.count).getOrElse(-1L)

  /** Report arithmetic of one fresh and one memoized execute. */
  def checkReports(fresh: Seq[PipelineReport], memo: Seq[PipelineReport], n: Int): Seq[String] = {
    val p = mutable.ArrayBuffer.empty[String]
    for ((label, r) <- Seq("fresh" -> fresh, "memo" -> memo)) {
      val total = count(r, "processed") + count(r, "errors") + count(r, "skipped_memoized")
      if (total != n) p += s"$label: processed+errors+skipped = $total, expected $n"
    }
    if (count(fresh, "processed") != n) p += s"fresh: processed ${count(fresh, "processed")} of $n"
    if (count(memo, "processed") != 0) p += s"memo: processed ${count(memo, "processed")}, expected 0"
    if (count(memo, "skipped_memoized") != n) p += s"memo: skipped ${count(memo, "skipped_memoized")} of $n"
    p.toSeq
  }

  /** Exactly one committed row per clip; manifest names = committed names. */
  def checkCommitted(spark: SparkSession, dir: String, clips: Seq[Clip]): Seq[String] = {
    val committed = spark.read.parquet(s"$dir/clips").select("name").collect().map(_.getString(0)).toSeq
    val manifest = spark.read.parquet(s"$dir/_manifest").select("name").collect().map(_.getString(0)).toSeq
    val p = mutable.ArrayBuffer.empty[String]
    val dups = committed.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    if (dups.nonEmpty) p += s"committed rows repeat for ${dups.toSeq.sorted.take(5).mkString(",")}"
    if (committed.toSet != clips.map(_.name).toSet) p += s"committed names differ from the input clips"
    if (manifest.toSet != committed.toSet) p += s"manifest names differ from committed names"
    p.toSeq
  }

  /** Per-clip content against computations made here from the inputs. */
  def checkContent(spark: SparkSession, dir: String, clips: Seq[Clip], cropSize: Int): Seq[String] = {
    val byName = clips.map(c => c.name -> c).toMap
    val written = spark.read.parquet(s"$dir/clips")
    val perFrame = Seq("crops", "render_uv", "render_normal").filter(written.columns.contains)
    val rows = written.select(col("name") +: col("crops") +: col("volume") +:
        (perFrame.map(c => size(col(c))) :+ size(col("wav2vec"))): _*).collect()
    val p = mutable.ArrayBuffer.empty[String]
    rows.foreach { r =>
      val c = byName(r.getString(0))
      val frames = c.frames.size
      perFrame.zipWithIndex.foreach { case (k, i) =>
        if (r.getInt(3 + i) != frames) p += s"${c.name}: ${r.getInt(3 + i)} $k for $frames frames"
      }
      val w2v = (c.wav.length * 50.0 / 16000 - 0.25).toInt
      val gotW2v = r.getInt(3 + perFrame.size)
      if (gotW2v != w2v) p += s"${c.name}: wav2vec length $gotW2v, expected $w2v"
      val vol = r.getSeq[Double](2)
      val expect = c.wav.grouped(320).map { g =>
        var s = 0.0; g.foreach(x => s += math.abs(x)); s / g.length }.toSeq
      if (vol.size != expect.size ||
          vol.zip(expect).exists { case (a, b) => math.abs(a - b) > 1e-9 * math.abs(b) })
        p += s"${c.name}: volume differs from mean |x| per 320-sample hop"
      r.getSeq[Array[Byte]](1).zipWithIndex.foreach { case (b, i) =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
        if (img == null || img.getWidth != cropSize || img.getHeight != cropSize)
          p += s"${c.name}: crop $i is not a ${cropSize}x$cropSize JPEG"
      }
    }
    p.toSeq
  }

  def dirBytes(root: Path): Long =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
  }

  /** The pipeline checkers must reject an output with a duplicated clip row
    * and a report that processed too few clips. */
  def selftest(spark: SparkSession, opts: Map[String, String]): Map[String, Any] = {
    val out = opts("out")
    val clips = makeClips(7L, 2, 2)
    val dir = s"$out/selftest"
    val input = toFrame(spark, clips)
    val roster = nodes(opts("nodes").split(',').toSeq, 64)
    val (_, fresh) = Pipeline(roster, dir).execute(spark, input)
    val (_, memo) = Pipeline(roster, dir).execute(spark, input)
    val clean = checkReports(fresh, memo, clips.size) ++ checkCommitted(spark, dir, clips) ++
      checkContent(spark, dir, clips, 64)
    spark.read.parquet(s"$dir/clips").limit(1).write.mode("append").parquet(s"$dir/clips")
    val duplicated = checkCommitted(spark, dir, clips) ++ checkContent(spark, dir, clips, 64)
    val short = checkReports(fresh.map(r =>
      if (r.status == "processed") r.copy(count = r.count - 1) else r), memo, clips.size)
    deleteTree(dir)
    Map("clean" -> clean, "duplicated_row" -> duplicated, "short_report" -> short)
  }
}

/** Counts Spark work of the running operation. Jobs carry the phase in a
  * local property, so the asynchronous listener bus attributes them
  * correctly; per-round totals are taken at round ends. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val cores = sc.defaultParallelism
  private val stagePhase = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobInfo = new java.util.concurrent.ConcurrentHashMap[Int, (String, String, Long)]()
  /** SQL execution id -> (short, long) call site of its root execution */
  private val execSite = new java.util.concurrent.ConcurrentHashMap[Long, (String, String)]()
  val callsites = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  private val cur = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val rounds = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val phaseWall = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var phaseName = "idle"
  private var phaseStart = System.nanoTime()
  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def phase(name: String, op: String = ""): Unit = {
    val now = System.nanoTime()
    phaseWall(phaseName) += (now - phaseStart) / 1e9
    phaseName = name; phaseStart = now
    sc.setLocalProperty("graftbench.phase", name)
    sc.setLocalProperty("graftbench.op", op)
  }

  private def add(k: String, v: Double): Unit = cur.synchronized { cur(k) += v }

  /** Bucket of an eager construction job, from its call site. */
  private def bucket(short: String, long: String): String =
    if (long.contains("Contracts.scala")) "contracts"
    else if (short.startsWith("localCheckpoint") || long.contains("localCheckpoint")) "checkpoint"
    else if (short.startsWith("parquet at Queries.scala")) "load"
    else "other"

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val ph = prop("graftbench.phase").getOrElse("idle")
    prop("graftbench.op").filter(_.nonEmpty).foreach(op => add(s"opjobs.$op.$ph", 1))
    e.stageIds.foreach(stagePhase.put(_, ph))
    // jobs that AQE submits for a query stage run on a pool thread and lose
    // the call site; their SQL execution still names it
    val last = e.stageInfos.maxBy(_.stageId)
    val site = prop("spark.sql.execution.id").flatMap(id => Option(execSite.get(id.toLong)))
      .getOrElse(last.name -> last.details)
    val b = bucket(site._1, site._2)
    jobInfo.put(e.jobId, (ph, b, e.time))
    if (ph == "construct") callsites.merge(s"$b | ${site._1}", 1, _ + _)
    add(s"jobs.$ph", 1)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      val root = x.rootExecutionId.flatMap(id => Option(execSite.get(id)))
      execSite.put(x.executionId, root.getOrElse(x.description -> x.details))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobInfo.remove(e.jobId)).foreach {
    case (ph, b, start) =>
      if (ph == "construct") { add(s"$b.jobs", 1); add(s"$b.job_s", (e.time - start) / 1e3) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val ph = stagePhase.getOrDefault(e.stageInfo.stageId, "idle")
    add(s"stages.$ph", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ph = stagePhase.getOrDefault(e.stageId, "idle")
    val m = e.taskMetrics
    add(s"tasks.$ph", 1)
    if (m != null) {
      add(s"task_run_s.$ph", m.executorRunTime / 1e3)
      add(s"task_cpu_s.$ph", m.executorCpuTime / 1e9)
      add(s"shuffle_read_mb.$ph", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add(s"shuffle_write_mb.$ph", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add(s"spill_mb.$ph", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    add("catalyst.queries", 1)
    qe.tracker.phases.foreach { case (name, s) => add(s"catalyst.${name}_s", (s.endTimeMs - s.startTimeMs) / 1e3) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  def reset(): Unit = { drain(); cur.synchronized(cur.clear()); phaseWall.clear() }

  def endRound(): Unit = {
    drain()
    cur.synchronized {
      rounds += (cur.toMap ++ phaseWall.map { case (k, v) => s"wall.$k" -> v })
      cur.clear()
    }
    phaseWall.clear()
  }

  private def drain(): Unit = org.apache.spark.GraftBenchBus.drain(sc)

  /** Per-layer figures: the median over timed rounds of each round's total. */
  def median(k: String): Double = Bench.median(rounds.map(_.getOrElse(k, 0.0)).toSeq)

  def layers(): Map[String, Double] = {
    def med(k: String): Double = median(k)
    // the execution layer: final noop saves for gates, executes for the pipeline
    val exec = Seq("final", "fresh", "memo")
    def execSum(k: String): Double = exec.map(p => med(s"$k.$p")).sum
    val finalS = execSum("wall")
    Map(
      "queries.construct_jobs" -> med("jobs.construct"),
      "queries.load_jobs" -> med("load.jobs"),
      "contracts.jobs" -> med("contracts.jobs"), "contracts.job_s" -> med("contracts.job_s"),
      "checkpoint.jobs" -> med("checkpoint.jobs"), "checkpoint.job_s" -> med("checkpoint.job_s"),
      "catalyst.queries" -> med("catalyst.queries"),
      "catalyst.analysis_s" -> med("catalyst.analysis_s"),
      "catalyst.optimization_s" -> med("catalyst.optimization_s"),
      "catalyst.planning_s" -> med("catalyst.planning_s"),
      "exec.final_s" -> finalS,
      "exec.jobs" -> execSum("jobs"), "exec.stages" -> execSum("stages"),
      "exec.tasks" -> execSum("tasks"),
      "exec.task_run_s" -> execSum("task_run_s"), "exec.task_cpu_s" -> execSum("task_cpu_s"),
      "exec.core_util" -> (if (finalS > 0) execSum("task_run_s") / (finalS * cores) else 0.0),
      "exec.shuffle_read_mb" -> execSum("shuffle_read_mb"),
      "exec.shuffle_write_mb" -> execSum("shuffle_write_mb"),
      "exec.spill_mb" -> execSum("spill_mb"),
      "pipeline.jobs" -> (med("jobs.fresh") + med("jobs.memo")))
  }
}

/** GC and JIT time of this JVM. */
final case class JvmClock(gcS: Double, jitS: Double) {
  def minus(o: JvmClock): JvmClock = JvmClock(gcS - o.gcS, jitS - o.jitS)
}

object JvmClock {
  def snapshot(): JvmClock = JvmClock(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)

  /** Heap in use after full collections: what the program keeps alive. */
  def retainedHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}

/** Minimal JSON writer for the result object. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
