package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** What building a gate costs before it runs: the Spark jobs its
  * construction submits, and table loads that stay fresh when a table
  * is rewritten. */
class GateConstructionSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  /** The Spark jobs `body` submits from this thread (query-stage jobs
    * carry the thread's local properties too). */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.build") == tag))
          seen.incrementAndGet()
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.build", tag)
    try {
      body
      org.apache.spark.TestListenerBus.drain(sc)
    } finally {
      sc.setLocalProperty("graft.test.build", null)
      sc.removeSparkListener(listener)
    }
    seen.get()
  }

  private def gate(name: String) =
    Queries.all(Harness.resolve(Queries.all.keys, Seq(name)).head)

  test("a second build runs no load job and at most its budget of jobs") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir missing")
    // jobs per construction at sf0.001 on `Harness.session(2)`, AQE on
    val budget = Seq("q02" -> 0, "q248" -> 5, "q249" -> 5, "q274" -> 5,
      "q352" -> 3)
    val counts = budget.map { case (name, _) =>
      gate(name).impl(spark, sfDir) // first build infers the schemas
      name -> jobs(gate(name).impl(spark, sfDir))
    }
    counts.zip(budget).foreach { case ((name, n), (_, max)) =>
      assert(n <= max, s"$name built with $n jobs (budget $max); all: $counts")
    }
  }

  test("a rewritten table is read fresh: new rows and a new column") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir missing")
    val dir = java.nio.file.Files.createTempDirectory("graft-sf").toString
    try {
      for (t <- Seq("lineitem", "orders", "customer", "nation", "region"))
        spark.read.parquet(s"$sfDir/$t.parquet").write.parquet(s"$dir/$t.parquet")
      val q02 = gate("q02")
      def regions = q02.impl(spark, dir).select("r_name").collect()
        .map(_.getString(0)).toSet
      val before = regions
      assert(before.nonEmpty)
      val region = spark.read.parquet(s"$sfDir/region.parquet")
      // new rows: every region renamed
      region.withColumn("r_name", concat(col("r_name"), lit("_v2")))
        .write.mode("overwrite").parquet(s"$dir/region.parquet")
      assert(regions == before.map(_ + "_v2"))
      // a new column
      region.withColumn("r_extra", lit(7L))
        .write.mode("overwrite").parquet(s"$dir/region.parquet")
      assert(regions == before)
      assert(Queries.load(spark, s"$dir/region.parquet").columns.contains("r_extra"))
    } finally TempDirs.deleteTree(java.nio.file.Paths.get(dir))
  }
}
