package graft
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Dump `explain("formatted")` for named queries to text files — the
  * optimization rounds' before/after plan evidence
  * (`plans/r<N>/<qNN>_<tag>.txt`).
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> [name...|ALL] — exact
  * names or unique qNN prefixes; none or ALL dumps every gate. The
  * session is `Harness.session()`, Bench's, so the dumped plan is the
  * benched plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (outDir, tag) = (args(0), args(1))
    val sfDir = Harness.sfDir
    val names = Harness.resolve(Queries.all.keys, args.drop(2).toSeq.filterNot(_ == "ALL"))
    val spark = Harness.session()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val txt = Queries.all(name).impl(spark, sfDir).queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name.takeWhile(_ != '_')}_$tag.txt"), txt)
        System.err.println(s"[plandump] $name -> $outDir (${txt.length} chars)")
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
