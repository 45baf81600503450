package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

/** The shared harness: gate-name resolution, the session config, and the
  * oracle SQL file the driver reads. */
class HarnessSpec extends SparkTestBase {

  private val keys = Seq("q10_b", "q02_region_revenue", "q1_a", "q10_a", "q23_knn_brute_force")

  test("resolve takes exact names and unique qNN prefixes, all keys when empty") {
    assert(Harness.resolve(keys, Seq("q23_knn_brute_force")) == Seq("q23_knn_brute_force"))
    assert(Harness.resolve(keys, Seq("q23", "q02")) == Seq("q02_region_revenue", "q23_knn_brute_force"))
    // q1 is the prefix of q1_a only: q10_* do not start with "q1_"
    assert(Harness.resolve(keys, Seq("q1")) == Seq("q1_a"))
    assert(Harness.resolve(keys, Seq("q10_a", "q10_a")) == Seq("q10_a"))
    assert(Harness.resolve(keys, Nil) == keys.sorted)
    assert(Harness.resolve(keys, Harness.names(" , ")) == keys.sorted)
    assert(Harness.names("q02, q23 ,") == Seq("q02", "q23"))
  }

  test("resolve fails on an ambiguous prefix or an unknown name") {
    val ambiguous = intercept[IllegalArgumentException](Harness.resolve(keys, Seq("q10")))
    assert(ambiguous.getMessage.contains("q10_a, q10_b"))
    intercept[IllegalArgumentException](Harness.resolve(keys, Seq("q99")))
    // a prefix shorter or longer than a whole qNN selects nothing
    intercept[IllegalArgumentException](Harness.resolve(keys, Seq("q0")))
    intercept[IllegalArgumentException](Harness.resolve(Queries.all.keys, Seq("q02_region")))
  }

  test("the test session is the harness session: UTC, nanos as longs, AQE on") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.shuffle.partitions") == "2")
    assert(spark.sparkContext.master == "local[2]")
    // left to Spark's defaults by Harness.session
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }

  test("oracle_sql.json round-trips quotes, backslashes and control characters") {
    val sql = Map(
      "q1_a" -> "SELECT \"x\" AS a, '\\d+' AS b,\tc\r\nFROM t WHERE s = '\u0001'",
      "q2_b" -> "SELECT 1")
    val dir = Files.createTempDirectory("graft-oracle")
    try {
      Verify.writeOracleSql(sql, dir.toString)
      val file = dir.resolve("oracle_sql.json")
      // strict JSON: no raw control character inside a string
      assert(!Files.readAllBytes(file).exists(_ < 0x20))
      val back = new ObjectMapper().readTree(file.toFile).properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap
      assert(back == sql)
    } finally TempDirs.deleteTree(dir)
  }
}
