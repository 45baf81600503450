package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Run in a child JVM: registers a populated index directory and a
  * fixture staging root the way `Queries` does, then exits. */
object TempDirsProbe {
  def main(args: Array[String]): Unit = {
    val idx = TempDirs.create("graft_pqindex")
    Files.createDirectories(idx.resolve("cell=1"))
    Files.write(idx.resolve("cell=1/part-0.parquet"), Array[Byte](1, 2, 3))
    val stage = Files.createDirectories(
      Path.of(System.getProperty("java.io.tmpdir"), "graft_stage", "pid1"))
    Files.write(stage.resolve("fixture.parquet"), Array[Byte](4))
    TempDirs.deleteOnExit(stage)
  }
}

class TempDirsSpec extends AnyFunSuite {
  test("directories registered with TempDirs are gone when the JVM exits") {
    val tmp = Files.createTempDirectory("graft-tmpdirs")
    val java = Path.of(System.getProperty("java.home"), "bin", "java").toString
    val proc = new ProcessBuilder(java, "-cp", System.getProperty("java.class.path"),
      s"-Djava.io.tmpdir=$tmp", "graft.TempDirsProbe").inheritIO().start()
    assert(proc.waitFor() == 0)
    val left = Files.walk(tmp).toArray.toSeq.map(p => tmp.relativize(p.asInstanceOf[Path]).toString)
    // the staging parent stays (other JVMs share it); nothing inside it does
    assert(left.sorted == Seq("", "graft_stage"), s"left behind: $left")
  }
}
