package graft

import java.nio.file.Paths
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [names] — the optional
  * comma list of exact gate names or unique qNN prefixes restricts the
  * dump for fast local iteration; the driver passes two arguments. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val gates = SparkEntry.queries
    val names = Harness.resolve(gates.keys, args.drop(2).flatMap(Harness.names).toSeq)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val t0 = System.nanoTime()
      try {
        // repartition(1), NOT coalesce(1): coalesce would collapse the whole
        // upstream computation onto a single thread.
        gates(name)(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale result from an earlier run: a leftover parquet
        // would make the oracle compare grade old (possibly passing) data
        TempDirs.deleteTree(Paths.get(s"$outDir/$name"))
      }
    }
    writeOracleSql(SparkEntry.oracleSql, outDir)
    spark.stop()
  }

  /** `outDir/oracle_sql.json`: gate name → oracle SQL, one JSON object. */
  def writeOracleSql(sql: Map[String, String], outDir: String): Unit =
    new ObjectMapper().writeValue(Paths.get(outDir, "oracle_sql.json").toFile, sql.asJava)
}
