package graft

import org.apache.spark.sql.SparkSession

/** The one session config and gate-name resolver behind `Bench`, `Verify`,
  * `PlanDump` and the test base, so every entry point plans and answers
  * the same way.
  *
  * Settings (environment): `SPARK_GRAFT_CPUS` (default every core) and
  * `SPARK_GRAFT_SF_DIR` (the scale-factor directory Bench and PlanDump
  * read).
  */
object Harness {
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `local[cores]` with one shuffle partition per core. UTC because
    * `Queries.t` casts `events.ts` through TIMESTAMP_NTZ; `nanosAsLong`
    * because events.ts may be TIMESTAMP(NANOS), which Spark otherwise
    * rejects. AQE and its skew-join split are Spark 4 defaults.
    * Tried and reverted (r16): AQE `minPartitionSize=1b`, forcing
    * parallelism-first sizing on sub-MB shuffles, made the full registry
    * 16% slower; heavy pre-shuffle stages are spread by `operators.Spread`
    * instead. */
  def session(cores: Int = cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A comma-separated name list; blank entries are dropped. */
  def names(csv: String): Seq[String] = csv.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** The keys `names` denote, sorted: each name is an exact key or the
    * `qNN` prefix of exactly one key (`q02` → `q02_region_revenue`); no
    * names means every key. Fails on an unknown name or on a prefix
    * shared by several keys. */
  def resolve(keys: Iterable[String], names: Seq[String]): Seq[String] = {
    val sorted = keys.toSeq.sorted
    names.map { n =>
      if (sorted.contains(n)) n
      else sorted.filter(_.takeWhile(_ != '_') == n) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(s"no gate named $n")
        case many => throw new IllegalArgumentException(
          s"ambiguous gate prefix $n: ${many.mkString(", ")}")
      }
    } match {
      case Seq() => sorted
      case picked => picked.distinct.sorted
    }
  }
}
