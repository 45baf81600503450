package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators._
import graft.sources.{HtmlText, Warc}

/** The engine's operator surface wired to the driver's correctness harness:
  * one query per SURVEY.md §2 operator, each paired (where SQL-expressible)
  * with a DuckDB oracle over the same parquet tables.
  *
  * Oracle-exactness strategy: every floating-point expression is written so
  * both engines execute the SAME IEEE-754 operation sequence on the SAME
  * operands — money/values become integer cents before aggregation
  * (`round(x*100)::BIGINT`), folds over arrays use sequential semantics on
  * both sides (Spark `aggregate` HOF = DuckDB `list_reduce`), and
  * round-half-even (`bround` = `round_even`) is used where the reference
  * uses numpy rounding. Integer sums are exact in both engines, and double
  * divisions of identical operands are correctly rounded identically, so
  * result hashes match bit-for-bit.
  */
object Queries {

  final case class Q(impl: (SparkSession, String) => DataFrame, oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    // The driver's events.ts has shipped as both TIMESTAMP(NANOS) (which
    // Spark reads as nanos-since-epoch longs under the nanosAsLong flag
    // that `Harness.session` sets) and timestamp[us] (which loads as a
    // timestamp type). Normalize the timestamp vintage to the SAME nanos
    // longs at the one load boundary, so every ts consumer — session
    // gaps, range joins, as-of joins — sees one type regardless of
    // testdata vintage. (`Harness.session` sets the session tz to UTC,
    // so the NTZ cast is exact;
    // the DuckDB oracles read the same file and already convert with
    // epoch_us/epoch_ns, which are vintage-independent by instant.)
    // Allowlisted to the events table: keying on the column name alone
    // would silently rewrite a future table's unrelated `ts` at this
    // shared load boundary.
    df.schema.find(_.name == "ts") match {
      case Some(f) if name == "events" &&
          f.dataType.typeName.startsWith("timestamp") =>
        df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
      case _ => df
    }
  }

  /** Integer cents: round(x*100) as long; exact in both engines. */
  private def cents(c: Column): Column = bround(c * 100, 0).cast("long")

  private val stagedFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // per-JVM staging root, deleted at JVM exit: the PID keeps two
  // concurrent JVMs (Verify and Bench) from overwriting/reading the same
  // staged parquet mid-write, and the sanitized sf-dir name (not its
  // hashCode) keeps two distinct dirs from ever aliasing to one path
  // within a JVM
  private val stageRoot: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_stage/" +
      s"pid${ProcessHandle.current().pid()}"

  private def stagePath(key: String, dir: String): String =
    s"$stageRoot/${key}_${dir.replaceAll("[^A-Za-z0-9._-]", "_")}"

  /** Stage a deterministic synthesized fixture to parquet ONCE per JVM
    * (keyed by fixture name + sf dir) and read it back: the gate then
    * measures its operator over a real columnar scan — the production
    * shape, where media matrices arrive from storage, not from md5
    * arithmetic — and bench's later sweeps stop re-paying synthesis
    * (min-of-3 lands on operator cost). Synthesis is pure in the table
    * contents, so the parquet round-trip is value-exact (doubles/longs
    * are binary in parquet) and correctness hashes are untouched. */
  private def stageFixture(s: SparkSession, key: String, dir: String)
                          (make: => DataFrame): DataFrame = {
    val path = stagedFixtures.computeIfAbsent(s"$key|$dir", _ => {
      TempDirs.deleteOnExit(java.nio.file.Paths.get(stageRoot))
      val p = stagePath(key, dir)
      make.write.mode("overwrite").parquet(p)
      p
    })
    s.read.parquet(path)
  }

  /** Per-user value series (cents, as doubles) ordered by (ts, event_id) —
    * the clip-table "frame axis" built from the events table. */
  private def userSeries(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        cents(col("value")).as("v")))).as("srt"))
      .select(col("user_id"),
        transform(col("srt"), x => x("v").cast("double")).as("series"))

  private val seriesSqlCte =
    """WITH s AS (
      |  SELECT user_id, CAST(round(value*100) AS BIGINT) AS v,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |         count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events)""".stripMargin

  private val toksSql =
    """list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '')"""

  /** DuckDB twin of graft.functions.md5_long. */
  private def md5LongSql(arg: String): String =
    s"CAST('0x' || substr(md5($arg), 1, 15) AS BIGINT)"

  /** DuckDB twin of graft.functions.SketchHash.positions: probe `i` of
    * the Kirsch-Mitzenmacher double-hash over `m` slots for 60-bit hash
    * `h` — ONE definition shared by every sketch oracle so the replay
    * can never drift from the kernel for one sketch but not another. */
  private def sketchPosSql(h: String, i: String, m: Int): String =
    s"($h % $m + $i * (1 + ($h // $m) % ${m - 1})) % $m"

  // =====================================================================
  // Relational core (scan / filter / join / agg / set ops / sort-limit)
  // =====================================================================

  /** TPC-H Q1-flavored pricing summary — groupBy agg with filter pushdown
    * (ref per-group aggregation family, SURVEY §2.4). */
  private def q01(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_price"),
        sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          .as("sum_disc_price"),
        avg(cents(col("l_quantity"))).as("avg_qty"),
        count(lit(1)).as("count_order"))

  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_price,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |       * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_price,
      |  avg(CAST(round(l_quantity*100) AS BIGINT)) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Multi-way inner join (the engine's name-intersection join,
    * `engine.py:108-109`) over the star schema; small dims broadcast. */
  private def q02(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
             .as("revenue"),
           count(lit(1)).as("n_items"))

  private val q02Sql =
    """SELECT r_name,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |       * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin

  /** Deterministic global sort + limit (ref sorted-clip ordering §2.6). */
  private def q03(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("total_cents"))
      .orderBy(col("total_cents").desc, col("o_orderkey").asc)
      .limit(10)

  private val q03Sql =
    """SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS total_cents
      |FROM orders ORDER BY total_cents DESC, o_orderkey ASC LIMIT 10""".stripMargin

  /** Left-anti join — the memoization predicate (`base.py:135`, §2.2):
    * customers with no URGENT order. */
  private def q04(s: SparkSession, dir: String): DataFrame = {
    val urgent = t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
    t(s, dir, "customer")
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
  }

  private val q04Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin

  /** Left-semi join — the input-existence check (`base.py:136`). */
  private def q05(s: SparkSession, dir: String): DataFrame = {
    val open = t(s, dir, "orders").where(col("o_orderstatus") === "O")
    t(s, dir, "customer")
      .join(open, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_mktsegment")
  }

  private val q05Sql =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin

  /** Set intersection — `set.intersection` over name sets (`engine.py:108`). */
  private def q06(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_custkey").as("custkey"))
      .intersect(t(s, dir, "orders")
        .where(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey")))

  private val q06Sql =
    """SELECT c_custkey AS custkey FROM customer
      |INTERSECT
      |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin

  // =====================================================================
  // Window / frame-axis analytics (§2.5)
  // =====================================================================

  /** Sliding min/max/avg over frames [i-2, i+2] — EmocaLikeBboxes's window
    * shape (`bboxes.py:123-145`) on the events "frame axis". */
  private def q07(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, 2)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        min(cents(col("value"))).over(w).as("w_min"),
        max(cents(col("value"))).over(w).as("w_max"),
        avg(cents(col("value"))).over(w).as("w_avg"))
  }

  private val q07Sql =
    """SELECT user_id, event_id,
      |  min(CAST(round(value*100) AS BIGINT)) OVER w AS w_min,
      |  max(CAST(round(value*100) AS BIGINT)) OVER w AS w_max,
      |  avg(CAST(round(value*100) AS BIGINT)) OVER w AS w_avg
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)""".stripMargin

  /** Per-group top-1 by score — best-face selection (`fa.py:17-24`, §2.2). */
  private def q08(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("v").desc, col("event_id").asc)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), cents(col("value")).as("v"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") === 1)
      .select(col("user_id"), col("event_id"), col("v").as("best_cents"))
  }

  private val q08Sql =
    """SELECT user_id, event_id, v AS best_cents FROM (
      |  SELECT user_id, event_id, CAST(round(value*100) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY CAST(round(value*100) AS BIGINT) DESC, event_id ASC) AS rnk
      |  FROM events) WHERE rnk = 1""".stripMargin

  /** Exact interpolated quantile — the quantile box sizing
    * (`bboxes.py:172-195`, §2.4). */
  private def q09(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(percentile(cents(col("l_quantity")), lit(0.25)), 6).as("p25"),
        round(percentile(cents(col("l_quantity")), lit(0.5)), 6).as("p50"),
        round(percentile(cents(col("l_quantity")), lit(0.75)), 6).as("p75"))

  private val q09Sql =
    """SELECT l_returnflag,
      |  round(quantile_cont(CAST(round(l_quantity*100) AS BIGINT), 0.25), 6) AS p25,
      |  round(quantile_cont(CAST(round(l_quantity*100) AS BIGINT), 0.5), 6) AS p50,
      |  round(quantile_cont(CAST(round(l_quantity*100) AS BIGINT), 0.75), 6) AS p75
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // =====================================================================
  // Custom array expressions on the per-user series (§2.4/2.5/2.8)
  // =====================================================================

  /** Audio-volume bucketing: mean |amplitude| per fixed hop
    * (`wav2vec/inference.py:94-106`) via the BucketMeanAbs expression;
    * oracle is the equivalent relational bucketing. */
  private def q10(s: SparkSession, dir: String): DataFrame =
    userSeries(s, dir)
      .select(col("user_id"), posexplode(bucket_mean_abs(col("series"), 4)))
      .select(col("user_id"), col("pos").cast("long").as("bucket"),
        round(col("col"), 6).as("vol"))

  private val q10Sql = seriesSqlCte +
    """
      |SELECT user_id, (rn-1) // 4 AS bucket, round(avg(abs(v)), 6) AS vol
      |FROM s GROUP BY user_id, (rn-1) // 4""".stripMargin

  /** Edge-replicated moving average (`as_windowed` + mean,
    * `dpl/processor/utils.py:68-98`), window 5; the oracle replicates the
    * index clamping with an offset join. */
  private def q11(s: SparkSession, dir: String): DataFrame =
    userSeries(s, dir)
      .select(col("user_id"), posexplode(edge_moving_avg(col("series"), 5)))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("idx"),
        round(col("col"), 6).as("ma"))

  private val q11Sql = seriesSqlCte +
    """
      |SELECT a.user_id, a.rn AS idx, round(avg(b.v), 6) AS ma
      |FROM s a
      |CROSS JOIN range(-3, 2) o
      |JOIN s b ON b.user_id = a.user_id
      |        AND b.rn = greatest(1, least(a.n, a.rn + o.range))
      |GROUP BY a.user_id, a.rn""".stripMargin

  /** Savitzky–Golay smoothing (25,3) of the per-user series
    * (`bboxes.py:159-162`) — not SQL-expressible; rows-only check. */
  private def q12(s: SparkSession, dir: String): DataFrame =
    userSeries(s, dir)
      .where(size(col("series")) >= 25)
      .select(col("user_id"), posexplode(savgol_smooth(col("series"), 25, 3)))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("idx"),
        round(col("col"), 6).as("sval"))

  /** Savgol coefficient matrices as DuckDB list literals, generated from
    * the SAME SavGol.coeffs the Catalyst expression uses (%.17e round-trips
    * doubles exactly, and the exponent form parses as DOUBLE, not DECIMAL).
    * The filter is linear, so the oracle is pure dot products with the
    * identical left-fold order as SavGol.dot (seed 0.0 + x == x). */
  private def savgolMatricesSql(window: Int, poly: Int): (String, String, String) = {
    val c = graft.functions.SavGol.coeffs(window, poly)
    def d(x: Double) = f"$x%.17e"
    def row(r: Array[Double]) = r.map(d).mkString("[", ", ", "]")
    (row(c.center), c.head.map(row).mkString("[", ", ", "]"),
      c.tail.map(row).mkString("[", ", ", "]"))
  }

  /** One savgol output value in SQL: the window-`w` kernel applied to list
    * column `x` (1-based) at output position `t.i` of `n` elements, matching
    * SavGol.apply's head/center/tail branches and left-fold dot order
    * (`h = w/2`; head rows cover 1-based i <= h). */
  private def savgolApplySql(x: String, w: Int, cc: String, ch: String,
                             ct: String): String = {
    val h = w / 2
    s"""list_reduce(list_transform(range(1, ${w + 1}), j ->
       |    CASE WHEN t.i <= $h THEN $ch[t.i][j] * $x[j]
       |         WHEN t.i > n - $h THEN $ct[t.i - (n - $h)][j] * $x[n - $w + j]
       |         ELSE $cc[j] * $x[t.i - ${h + 1} + j] END),
       |    (a, b) -> a + b)""".stripMargin
  }

  private val q12Sql = {
    val (center, head, tail) = savgolMatricesSql(25, 3)
    seriesSqlCte +
      s"""
         |, g AS (
         |  SELECT user_id, list(CAST(v AS DOUBLE) ORDER BY rn) AS x, max(n) AS n
         |  FROM s GROUP BY user_id HAVING max(n) >= 25),
         |coef AS (SELECT $center AS c_center, $head AS c_head, $tail AS c_tail)
         |SELECT g.user_id, CAST(t.i AS BIGINT) AS idx,
         |  round(${savgolApplySql("x", 25, "c_center", "c_head", "c_tail")}, 6) AS sval
         |FROM g CROSS JOIN coef, unnest(range(1, n + 1)) AS t(i)""".stripMargin
  }

  /** Linear resample with half-sample phase offsets (`wav2vec/utils.py:5-21`)
    * onto 30 "frames" at source fps 50 — the audio->video temporal
    * alignment. The oracle replicates the exact linspace/segment/lerp
    * arithmetic, so doubles match bit-for-bit. */
  private def q13(s: SparkSession, dir: String): DataFrame =
    userSeries(s, dir)
      .where(size(col("series")) >= 2)
      .select(col("user_id"),
        posexplode(linear_resample(col("series"), lit(30), lit(50.0))))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("idx"),
        round(col("col"), 6).as("rv"))

  private val q13Sql = {
    // x_k (0-based k, 1-based rn = k+1) = dx + k*step, last = L exactly;
    // mirrors LinearResample.linspace. dx = 1/(2*50) = 0.01.
    def xAt(k: String, n: String, L: String) =
      s"(CASE WHEN $k = $n - 1 THEN $L ELSE 0.01 + $k * (($L - 0.01) / ($n - 1)) END)"
    val num = 30
    seriesSqlCte +
      s"""
         |, p AS (SELECT DISTINCT user_id, n, n / 50.0 AS L FROM s WHERE n >= 2),
         |tgt AS (
         |  SELECT user_id, n, L, j,
         |    CASE WHEN j = $num - 1 THEN L
         |         ELSE (1.0 / ((($num) / L) * 2)) + j * ((L - (1.0 / ((($num) / L) * 2))) / ($num - 1))
         |    END AS tpos
         |  FROM p CROSS JOIN range(0, $num) r(j)),
         |seg AS (
         |  SELECT tgt.user_id, tgt.j, tgt.tpos, tgt.n, tgt.L,
         |    least(tgt.n - 2,
         |          count(*) FILTER (WHERE ${xAt("(k.rn - 1)", "tgt.n", "tgt.L")} < tgt.tpos)) AS sg
         |  FROM tgt JOIN s k ON k.user_id = tgt.user_id AND k.rn >= 2
         |  GROUP BY tgt.user_id, tgt.j, tgt.tpos, tgt.n, tgt.L)
         |SELECT g.user_id, g.j + 1 AS idx,
         |  round(y0.v + ((g.tpos - ${xAt("g.sg", "g.n", "g.L")})
         |        / (${xAt("(g.sg + 1)", "g.n", "g.L")} - ${xAt("g.sg", "g.n", "g.L")}))
         |        * (y1.v - y0.v), 6) AS rv
         |FROM seg g
         |JOIN s y0 ON y0.user_id = g.user_id AND y0.rn = g.sg + 1
         |JOIN s y1 ON y1.user_id = g.user_id AND y1.rn = g.sg + 2""".stripMargin
  }

  // =====================================================================
  // Bbox geometry + landmark analytics (§2.8, §2.4)
  // =====================================================================

  /** The bbox transform chain to_square -> pad(frac) -> to_integer
    * (`utils.py:7-50`, `bboxes.py:75-81`) on synthetic boxes built from
    * lineitem columns; oracle replicates the identical IEEE sequence
    * (bround = round_even). */
  private def q14(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val b = bbox(
      col("l_quantity"),
      col("l_discount") * 100,
      col("l_quantity") + col("l_extendedprice") / 1000,
      col("l_discount") * 100 + col("l_tax") * 100 + lit(5.0),
      col("l_tax"))
    // Stage each chain step as a column: inlining the nested struct
    // expressions multiplies evaluation ~200x (every field reference
    // re-evaluates the whole upstream struct).
    l.select(col("l_orderkey"), col("l_linenumber"), bbox_to_square(b).as("sq"))
      .select(col("l_orderkey"), col("l_linenumber"),
        bbox_pad_frac(col("sq"), 0.2).as("pd"))
      .select(col("l_orderkey"), col("l_linenumber"),
        bbox_to_integer(col("pd")).as("bb"))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("bb.x1").as("x1"), col("bb.y1").as("y1"),
        col("bb.x2").as("x2"), col("bb.y2").as("y2"),
        col("bb.conf").as("conf"))
  }

  private val q14Sql =
    """WITH raw AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(l_quantity AS DOUBLE) AS x1,
      |    l_discount * 100 AS y1,
      |    l_quantity + l_extendedprice / 1000 AS x2,
      |    l_discount * 100 + l_tax * 100 + 5.0 AS y2,
      |    CAST(l_tax AS DOUBLE) AS conf
      |  FROM lineitem),
      |sq AS (
      |  SELECT l_orderkey, l_linenumber, conf,
      |    x1 - (greatest(x2 - x1, y2 - y1) - (x2 - x1)) / 2 AS x1,
      |    y1 - (greatest(x2 - x1, y2 - y1) - (y2 - y1)) / 2 AS y1,
      |    x2 + (greatest(x2 - x1, y2 - y1) - (x2 - x1)) / 2 AS x2,
      |    y2 + (greatest(x2 - x1, y2 - y1) - (y2 - y1)) / 2 AS y2
      |  FROM raw),
      |pd AS (
      |  SELECT l_orderkey, l_linenumber, conf,
      |    x1 - round_even(greatest(x2 - x1, y2 - y1) * 0.2, 0) AS x1,
      |    y1 - round_even(greatest(x2 - x1, y2 - y1) * 0.2, 0) AS y1,
      |    x2 + round_even(greatest(x2 - x1, y2 - y1) * 0.2, 0) AS x2,
      |    y2 + round_even(greatest(x2 - x1, y2 - y1) * 0.2, 0) AS y2
      |  FROM sq)
      |SELECT l_orderkey, l_linenumber,
      |  CAST(round_even(x1, 0) AS BIGINT) AS x1,
      |  CAST(round_even(y1, 0) AS BIGINT) AS y1,
      |  CAST(round_even(x1, 0) + round_even(x2 - x1, 0) AS BIGINT) AS x2,
      |  CAST(round_even(y1, 0) + round_even(y2 - y1, 0) AS BIGINT) AS y2,
      |  CAST(round_even(conf * 100, 0) AS BIGINT) AS conf
      |FROM pd""".stripMargin

  /** FixedBboxes head math (`bboxes.py:45-81`): global min/max per group,
    * then the square-box arithmetic (truncating casts like Python int()). */
  private def q15(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), cents(col("value")).as("x"),
        pmod(col("event_id"), lit(997L)).as("y"))
    e.groupBy("user_id")
      .agg(min("x").as("left"), max("x").as("right"),
           min("y").as("top"), max("y").as("bottom"))
      .select(col("user_id"),
        fixed_bbox(col("left"), col("right"), col("top"), col("bottom"), 1.25).as("bb"))
      .select(col("user_id"), col("bb.x1").as("x1"), col("bb.y1").as("y1"),
        col("bb.x2").as("x2"), col("bb.y2").as("y2"))
  }

  private val q15Sql =
    """WITH mm AS (
      |  SELECT user_id,
      |    min(CAST(round(value*100) AS BIGINT)) AS l,
      |    max(CAST(round(value*100) AS BIGINT)) AS r,
      |    min(event_id % 997) AS t, max(event_id % 997) AS b
      |  FROM events GROUP BY user_id)
      |SELECT user_id,
      |  CAST(trunc((r + l) / 2.0) AS BIGINT) - CAST(trunc((1.25 * ((r - l + b - t) / 2 * 1.1)) / 2.0) AS BIGINT) AS x1,
      |  CAST(trunc((b + t) / 2.0) AS BIGINT) - CAST(trunc((1.25 * ((r - l + b - t) / 2 * 1.1)) / 2.0) AS BIGINT) AS y1,
      |  CAST(trunc((r + l) / 2.0) AS BIGINT) + CAST(trunc((1.25 * ((r - l + b - t) / 2 * 1.1)) / 2.0) AS BIGINT) AS x2,
      |  CAST(trunc((b + t) / 2.0) AS BIGINT) + CAST(trunc((1.25 * ((r - l + b - t) / 2 * 1.1)) / 2.0) AS BIGINT) AS y2
      |FROM mm""".stripMargin

  /** Blink features (EAR ratios, `utils.py:53-65`) on synthetic 68-point
    * landmarks derived from lineitem columns. */
  private def q16(s: SparkSession, dir: String): DataFrame = {
    // array() literal of structs (codegen-friendly) rather than
    // transform(sequence(...)) — HOFs stay interpreted and break
    // whole-stage codegen for a pure-arithmetic constructor. Blink
    // features read iBUG indices 36..47 only, so 48 entries suffice
    // (the oracle computes those points directly).
    val lm = array((0 until 48).map(i =>
      struct((col("l_quantity") + i).cast("double").as("x"),
             (col("l_discount") * 100 + (i * 7) % 13).cast("double").as("y"))): _*)
    // fanOut tried and REVERTED (r17 paired A/B: 2.07 -> 3.03 s): the
    // blink kernel is cheaper than round-robin's single-core
    // sort+shuffle-write of 600k full rows (the q02/r16 lesson — this
    // is a narrow-row reduce-free scan, not a work-amplifying explode)
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), lm.as("lm")) // stage: 12 refs below
      .select(col("l_orderkey"), col("l_linenumber"), blink_features(col("lm")).as("bf"))
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("bf.left_blink"), 6).as("left_blink"),
        round(col("bf.right_blink"), 6).as("right_blink"),
        round(col("bf.average_blink"), 6).as("average_blink"))
  }

  private val q16Sql = {
    def px(i: Int) = s"(l_quantity + $i)"
    def py(i: Int) = s"(l_discount * 100 + ${(i * 7) % 13})"
    def d(a: Int, b: Int) =
      s"sqrt(power(${px(a)} - ${px(b)}, 2) + power(${py(a)} - ${py(b)}, 2))"
    val left = s"((${d(37, 41)} + ${d(38, 40)}) / (${d(36, 39)} * 2))"
    val right = s"((${d(43, 47)} + ${d(44, 46)}) / (${d(42, 45)} * 2))"
    s"""SELECT l_orderkey, l_linenumber,
       |  round($left, 6) AS left_blink,
       |  round($right, 6) AS right_blink,
       |  round(($left + $right) / 2, 6) AS average_blink
       |FROM lineitem""".stripMargin
  }

  // =====================================================================
  // Dedup family (beyond-reference LLM-data ops)
  // =====================================================================

  private def q17(s: SparkSession, dir: String): DataFrame =
    Dedup.exactClusters(t(s, dir, "documents"), "doc_id", "text")

  private val q17Sql =
    """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
      |  count(*) AS cluster_size
      |FROM documents GROUP BY md5(text)""".stripMargin

  /** MinHash signatures, exploded to (doc_id, perm, sig). */
  private val MinhashPermCount = 16
  private def q18(s: SparkSession, dir: String): DataFrame =
    Dedup.shingleSets(t(s, dir, "documents"), "doc_id", "text", 3)
      .select(col("doc_id"),
        posexplode(minhash_signature(col("shingles"), MinhashPermCount)))
      // a shingle-less doc minhashes every permutation to Long.MaxValue
      // (real sigs are < 2^31): filtering the generator OUTPUT excludes
      // it like the former `size(shingles) > 0` without a second
      // `shingles` reference re-running the tokenizer
      .where(col("col") =!= Long.MaxValue)
      .select(col("doc_id"), col("pos").cast("long").as("perm"),
        col("col").as("sig"))

  private def shinglesSql: String =
    s"""list_distinct([concat_ws(' ', tk[i], tk[i+1], tk[i+2])
       |               for i in range(1, len(tk) - 1)])""".stripMargin

  private val q18Sql = {
    val perms = minhashPerms(MinhashPermCount).zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}, ${b})" }.mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, $shinglesSql AS shingles FROM toks),
       |perms(perm, pa, pb) AS (VALUES $perms)
       |SELECT sh.doc_id, CAST(p.perm AS BIGINT) AS perm,
       |  list_min(list_transform(sh.shingles,
       |    x -> (p.pa * (${md5LongSql("x")} % 2147483647) + p.pb) % 2147483647)) AS sig
       |FROM sh CROSS JOIN perms p
       |WHERE len(sh.shingles) > 0""".stripMargin
  }

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard verification. */
  private def q19(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** The q19 minhash-LSH pair derivation as reusable WITH-clause innards:
    * `pairs(id_a, id_b, jaccard)` holds the threshold-verified candidate
    * pairs. q19 projects it directly; q40 closes it transitively. */
  /** The pair derivation over any CTE providing tokenized docs
    * (doc_id, tk) — q19/q40/q337 bind it to `documents`; q351 binds
    * it to the front-door's extracted text. */
  private def minhashPairsCtesFrom(toksSrc: String): String = {
    val perms = minhashPerms(MinhashPermCount).zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}, ${b})" }.mkString(", ")
    s"""sh AS (
       |  SELECT doc_id, $shinglesSql AS shingles FROM $toksSrc),
       |perms(perm, pa, pb) AS (VALUES $perms),
       |sigs AS (
       |  SELECT sh.doc_id, p.perm,
       |    list_min(list_transform(sh.shingles,
       |      x -> (p.pa * (${md5LongSql("x")} % 2147483647) + p.pb) % 2147483647)) AS sig
       |  FROM sh CROSS JOIN perms p
       |  WHERE len(sh.shingles) > 0),
       |hsets AS (
       |  SELECT doc_id, list_transform(shingles, x -> ${md5LongSql("x")}) AS hs
       |  FROM sh WHERE len(shingles) > 0),
       |bands AS (
       |  SELECT doc_id, perm // 2 AS band,
       |    string_agg(sig, ',' ORDER BY perm) AS band_sig
       |  FROM sigs GROUP BY doc_id, perm // 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
       |      / len(list_distinct(list_concat(sa.hs, sb.hs))) AS jaccard
       |  FROM cand c
       |  JOIN hsets sa ON sa.doc_id = c.id_a
       |  JOIN hsets sb ON sb.doc_id = c.id_b
       |  WHERE CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
       |        / len(list_distinct(list_concat(sa.hs, sb.hs))) >= 0.5)""".stripMargin
  }

  private val minhashPairsCtes: String =
    s"""toks AS (
       |  SELECT doc_id, $toksSql AS tk FROM documents),
       |${minhashPairsCtesFrom("toks")}""".stripMargin

  private val q19Sql =
    s"""WITH $minhashPairsCtes
       |SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM pairs""".stripMargin

  /** SimHash fingerprints (32-bit bit-vote over token hashes). */
  private def q20(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), simhash32(ws_tokens(col("text"))).as("simhash"))

  private val q20Sql = {
    val bits = (0 until 32).map { j =>
      s"""CASE WHEN list_sum(list_transform(hs, h -> ((h >> $j) & 1) * 2 - 1)) > 0
         |  THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END""".stripMargin
    }.mkString(" + ")
    s"""WITH hs AS (
       |  SELECT doc_id,
       |    list_transform($toksSql, x -> ${md5LongSql("x")}) AS hs
       |  FROM documents)
       |SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM hs""".stripMargin
  }

  /** Exact n-gram Jaccard pairs within a language block. */
  private def q21(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        blockCol = "lang", shingleN = 3, threshold = 0.5)
      .select(col("block"), col("id_a"), col("id_b"),
        round(col("jaccard"), 6).as("jaccard"))

  private val q21Sql =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, $toksSql AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, lang, $shinglesSql AS shingles FROM toks),
       |h AS (
       |  SELECT doc_id, lang, list_transform(shingles, x -> ${md5LongSql("x")}) AS hs
       |  FROM sh WHERE len(shingles) > 0)
       |SELECT a.lang AS block, a.doc_id AS id_a, b.doc_id AS id_b,
       |  round(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.hs, b.hs))), 6) AS jaccard
       |FROM h a JOIN h b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.5""".stripMargin

  /** Embedding-cosine near-duplicates within a label block; cosine as a
    * sequential fold on both sides -> bit-identical doubles. */
  private def q22(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDups(t(s, dir, "embeddings"), "vec_id", "embedding",
        blockCol = "label", threshold = 0.3)
      .select(col("block").cast("long").as("block"), col("id_a"), col("id_b"),
        round(col("cos_sim"), 6).as("cos_sim"))

  private val cosSqlAB =
    """(list_reduce(list_transform(range(1, len(a.v) + 1),
      |    i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)), (x, y) -> x + y)
      | / (sqrt(list_reduce(list_transform(range(1, len(a.v) + 1),
      |      i -> CAST(a.v[i] AS DOUBLE) * CAST(a.v[i] AS DOUBLE)), (x, y) -> x + y))
      |  * sqrt(list_reduce(list_transform(range(1, len(b.v) + 1),
      |      i -> CAST(b.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)), (x, y) -> x + y))))"""
      .stripMargin

  private val q22Sql =
    s"""WITH e AS (SELECT label, vec_id, embedding AS v FROM embeddings)
       |SELECT CAST(a.label AS BIGINT) AS block, a.vec_id AS id_a, b.vec_id AS id_b,
       |  round($cosSqlAB, 6) AS cos_sim
       |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE $cosSqlAB >= 0.3""".stripMargin

  // =====================================================================
  // Similarity search
  // =====================================================================

  /** Brute-force cosine top-k: queries broadcast against the corpus. */
  private def q23(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10), k = 5)
      .select(col("query_id"), col("cand_id"), col("cos_sim"),
        col("rank").cast("long").as("rank"))
  }

  private val q23Sql =
    s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
       |    round($cosSqlAB, 6) AS cos_sim
       |  FROM e a JOIN e b ON b.vec_id != a.vec_id
       |  WHERE a.vec_id < 10),
       |ranked AS (
       |  SELECT query_id, cand_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, cand_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, cand_id, cos_sim, rank FROM ranked WHERE rank <= 5""".stripMargin

  /** LSH-bucketed ANN top-k (recall < 1 by construction; rows-only check). */
  private def q24(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.lshTopK(emb, emb.where(col("vec_id") < 10), k = 5,
        numPlanes = 4, dim = 64)
      .select(col("query_id"), col("cand_id"), col("cos_sim"),
        col("rank").cast("long").as("rank"))
  }

  /** The LSH ANN path is deterministic (fixed-seed hyperplanes), so it has
    * an exact oracle: the planes are inlined as literals and the bucket is
    * recomputed with the same sign-bit sum; candidate scoring and ranking
    * then mirror q23's proven cosine SQL. */
  private val q24Sql = {
    val planes = operators.Similarity.hyperplanes(4, 64)
    val planesLit = planes
      .map(_.map(x => f"$x%.17e").mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    def planeDot(pi: Int) =
      s"""list_reduce(list_transform(range(1, len(v) + 1),
         |      i -> CAST(v[i] AS DOUBLE) * p[$pi][i]), (x, y) -> x + y)""".stripMargin
    val bucket = (0 until 4)
      .map(pi => s"(CASE WHEN ${planeDot(pi + 1)} > 0 THEN ${1L << pi} ELSE 0 END)")
      .mkString("\n     + ")
    s"""WITH pl AS (SELECT $planesLit AS p),
       |e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |bk AS (
       |  SELECT vec_id, v,
       |    $bucket AS bucket
       |  FROM e CROSS JOIN pl),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
       |    round($cosSqlAB, 6) AS cos_sim
       |  FROM bk a JOIN bk b ON b.bucket = a.bucket AND b.vec_id != a.vec_id
       |  WHERE a.vec_id < 10),
       |ranked AS (
       |  SELECT query_id, cand_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, cand_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, cand_id, cos_sim, rank FROM ranked WHERE rank <= 5""".stripMargin
  }

  // =====================================================================
  // Text analysis
  // =====================================================================

  private def q25(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.subwordCount(col("text")).cast("long").as("n_subwords"))

  private val q25Sql =
    s"""SELECT doc_id,
       |  len($toksSql) AS n_tokens,
       |  len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), x -> x != ''))
       |    + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_subwords
       |FROM documents""".stripMargin

  private def q26(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langIdTable(t(s, dir, "documents"), "doc_id", "text")

  /** Shared DuckDB fragments for the language-ID argmax (q26, q60):
    * per-language stopword-hit scores over a `tk` token list, the `best`
    * greatest-of expression, and the first-declared-wins CASE over a
    * `best` column. */
  private val (langBestSql, langCasesSql) = {
    val scores = TextAnalysis.LangProfiles.map { case (lang, sw) =>
      val set = sw.map(w => s"'$w'").mkString("[", ", ", "]")
      lang -> s"len(list_filter(tk, x -> list_contains($set, x)))"
    }
    (scores.map(_._2).reduce((a, b) => s"greatest($a, $b)"),
      scores.map { case (lang, sc) => s"WHEN $sc = best THEN '$lang'" }
        .mkString("\n  "))
  }

  private val q26Sql =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |wb AS (SELECT doc_id, tk, $langBestSql AS best FROM toks)
       |SELECT doc_id, CASE $langCasesSql END AS lang_pred FROM wb""".stripMargin

  private def q27(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityFeatures(t(s, dir, "documents"), "doc_id", "text")
      .withColumn("n_tokens", col("n_tokens").cast("long"))

  /** Shared DuckDB fragments for the quality features (q27, q60): the
    * feature-CTE column list (expects `text`, `tk` in scope) and the
    * composite-score expression (expects the feature columns in scope). */
  private val qualityFeatSql = {
    val allStops = TextAnalysis.LangProfiles.flatMap(_._2)
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""CAST(len(tk) AS DOUBLE) AS ntok,
       |    CASE WHEN len(tk) > 0
       |      THEN CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
       |           / CAST(len(tk) AS DOUBLE)
       |      ELSE 0.0 END AS mean_tok_len,
       |    CASE WHEN length(text) > 0
       |      THEN CAST(length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
       |           / length(text)
       |      ELSE 0.0 END AS alnum_ratio,
       |    CASE WHEN len(tk) > 0
       |      THEN CAST(len(list_filter(tk, x -> list_contains($allStops, x))) AS DOUBLE)
       |           / CAST(len(tk) AS DOUBLE)
       |      ELSE 0.0 END AS stopword_ratio""".stripMargin
  }

  private val qualityScoreSql =
    """round((CASE WHEN ntok >= 20 AND ntok <= 400 THEN 1.0 ELSE 0.0 END
      |       + CASE WHEN mean_tok_len >= 2 AND mean_tok_len <= 12 THEN 1.0 ELSE 0.0 END
      |       + alnum_ratio
      |       + least(stopword_ratio * 5, 1.0)) / 4, 6)""".stripMargin

  private val q27Sql =
    s"""WITH toks AS (SELECT doc_id, text, $toksSql AS tk FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    $qualityFeatSql
       |  FROM toks)
       |SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
       |  round(mean_tok_len, 6) AS mean_tok_len,
       |  round(alnum_ratio, 6) AS alnum_ratio,
       |  round(stopword_ratio, 6) AS stopword_ratio,
       |  $qualityScoreSql AS quality_score
       |FROM f""".stripMargin

  /** Rolling-hash document fingerprints (UTF-16 code units; zh text is BMP
    * so DuckDB codepoints agree). */
  private def q28(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprints(t(s, dir, "documents"), "doc_id", "text")

  private val q28Sql =
    """SELECT doc_id,
      |  CAST(coalesce(list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 2147483647), 0) AS BIGINT) AS fingerprint
      |FROM documents""".stripMargin

  // =====================================================================
  // Multimodal + sessionization
  // =====================================================================

  /** Multimodal feature extraction: binary payload column through batched
    * mapPartitions (stub codec, deterministic; see operators.Multimodal). */
  private def q29(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
      t(s, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("payload")),
      "doc_id", "payload")

  private val q29Sql = {
    // md5(VARCHAR) hashes the string's UTF-8 bytes — the same bytes Spark's
    // cast-to-binary produces, so no blob cast is needed.
    val h = md5LongSql("text")
    s"""SELECT doc_id,
       |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       |  $h AS media_hash,
       |  $h % 1920 AS fake_width,
       |  $h % 1080 AS fake_height
       |FROM documents""".stripMargin
  }

  /** Gap-based sessionization (30 min) — the streaming-adjacent batch op. */
  private def q30(s: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // ts is nanos-since-epoch (normalized by t() across testdata
    // vintages); integer div — a double division would lose precision
    // above 2^53.
    val us = expr("ts div 1000")
    val prevUs = lag(us, 1).over(byTime)
    // the cumsum window sorts by the SAME (us, event_id) key the oracle's
    // sess CTE uses: sorting by full-resolution ts here could place a
    // new_sess=1 row on the other side of a same-microsecond sibling
    // whose sub-microsecond ts order opposes event_id order
    val byUs = Window.partitionBy("user_id").orderBy(us, col("event_id"))
    t(s, dir, "events")
      .withColumn("new_sess",
        when(prevUs.isNull || us - prevUs > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_sess")).over(byUs.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(us).as("start_us"),
        (max(us) - min(us)).as("duration_us"))
  }

  // the session cumsum tie-breaks on event_id: with same-microsecond
  // events an us-only ORDER BY would leave the engine free to place the
  // new_sess=1 row after its tied sibling, flipping that sibling's
  // session assignment; BOTH engines key the cumsum by (us, event_id)
  private val q30Sql =
    """WITH flagged AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, us,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  count(*) AS n_events, min(us) AS start_us,
      |  CAST(max(us) - min(us) AS BIGINT) AS duration_us
      |FROM sess GROUP BY user_id, session_id""".stripMargin

  // =====================================================================
  // Clip-table frame-axis operators (§2.4/2.5): EmocaLikeBboxes sliding
  // min/max, quantile equal-size boxes, wav2vec length trim — on synthetic
  // landmark/box clip tables derived from events.
  // =====================================================================

  /** EmocaLikeBboxesNode.get_bboxes (`bboxes.py:123-145`): per-frame square
    * box from sliding min/max over frames [i-2, i+2] (clamped). Each frame
    * holds two synthetic landmarks (v,y) and (v+10,y+5); the oracle is the
    * equivalent relational sliding window. */
  private def q31(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("user_id"), col("ts"), col("event_id"),
      cents(col("value")).as("v"), pmod(col("event_id"), lit(997L)).as("y"))
    val clips = e.groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        col("v"), col("y")))).as("srt"))
      .select(col("user_id"), transform(col("srt"), f => array(
        struct(f("v").cast("double").as("x"), f("y").cast("double").as("y")),
        struct((f("v") + 10).cast("double").as("x"),
               (f("y") + 5).cast("double").as("y")))).as("landmarks"))
    clips.select(col("user_id"),
        posexplode(ClipOps.emocaLikeBboxes(col("landmarks"), 1.25, 5)))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("frame_idx"),
        col("col.x1").as("x1"), col("col.y1").as("y1"),
        col("col.x2").as("x2"), col("col.y2").as("y2"))
  }

  private val q31Sql =
    """WITH s AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(round(value*100) AS BIGINT) AS v, event_id % 997 AS y,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |w AS (
      |  SELECT user_id, rn,
      |    min(v) OVER sw AS l, max(v + 10) OVER sw AS r,
      |    min(y) OVER sw AS t, max(y + 5) OVER sw AS b
      |  FROM s
      |  WINDOW sw AS (PARTITION BY user_id ORDER BY rn
      |                ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING))
      |SELECT user_id, rn AS frame_idx,
      |  CAST(trunc((r + l) / 2.0) AS BIGINT) - CAST(trunc((1.25 * ((r - l + b - t) / 2 * 1.1)) / 2.0) AS BIGINT) AS x1,
      |  CAST(trunc((b + t) / 2.0) AS BIGINT) - CAST(trunc((1.25 * ((r - l + b - t) / 2 * 1.1)) / 2.0) AS BIGINT) AS y1,
      |  CAST(trunc((r + l) / 2.0) AS BIGINT) + CAST(trunc((1.25 * ((r - l + b - t) / 2 * 1.1)) / 2.0) AS BIGINT) AS x2,
      |  CAST(trunc((b + t) / 2.0) AS BIGINT) + CAST(trunc((1.25 * ((r - l + b - t) / 2 * 1.1)) / 2.0) AS BIGINT) AS y2
      |FROM w""".stripMargin

  /** EmocaLikeBboxesNode.make_equal_size (`bboxes.py:172-195`): rewrite all
    * of a clip's square boxes to the 0.75-quantile size (truncated, bumped
    * to even), clipping negative top-left corners. */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("user_id"), col("ts"), col("event_id"),
      cents(col("value")).as("v"), pmod(col("event_id"), lit(997L)).as("y"),
      (pmod(col("event_id"), lit(50L)) + 10).as("sz"))
    val clips = e.groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        col("v"), col("y"), col("sz")))).as("srt"))
      .select(col("user_id"), transform(col("srt"), f =>
        struct(f("v").as("x1"), f("y").as("y1"),
          (f("v") + f("sz")).as("x2"), (f("y") + f("sz")).as("y2"))).as("boxes"))
    clips.select(col("user_id"),
        posexplode(ClipOps.makeEqualSize(col("boxes"), 0.75)))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("frame_idx"),
        col("col.x1").as("x1"), col("col.y1").as("y1"),
        col("col.x2").as("x2"), col("col.y2").as("y2"))
  }

  private val q32Sql =
    """WITH s AS (
      |  SELECT user_id, CAST(round(value*100) AS BIGINT) AS v,
      |    event_id % 997 AS y, (event_id % 50) + 10 AS sz,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |q AS (
      |  SELECT user_id,
      |    CAST(trunc(quantile_cont(sz, 0.75)) AS BIGINT)
      |      + CAST(trunc(quantile_cont(sz, 0.75)) AS BIGINT) % 2 AS sze
      |  FROM s GROUP BY user_id)
      |SELECT s.user_id, s.rn AS frame_idx,
      |  greatest(s.v + CAST(floor((s.sz - q.sze) / 2.0) AS BIGINT), 0) AS x1,
      |  greatest(s.y + CAST(floor((s.sz - q.sze) / 2.0) AS BIGINT), 0) AS y1,
      |  greatest(s.v + CAST(floor((s.sz - q.sze) / 2.0) AS BIGINT), 0) + q.sze AS x2,
      |  greatest(s.y + CAST(floor((s.sz - q.sze) / 2.0) AS BIGINT), 0) + q.sze AS y2
      |FROM s JOIN q ON s.user_id = q.user_id""".stripMargin

  /** The wav2vec "Some magic" length trim (`wav2vec/inference.py:52`):
    * int(len * 50 / sr - 0.25), truncation toward zero. */
  private def q33(s: SparkSession, dir: String): DataFrame =
    userSeries(s, dir)
      .select(col("user_id"),
        ClipOps.wav2vecLen(size(col("series")), 16000, 50).as("trimmed_len"))

  private val q33Sql =
    """SELECT user_id,
      |  CAST(trunc(CAST(count(*) AS DOUBLE) * 50 / 16000 - 0.25) AS BIGINT) AS trimmed_len
      |FROM events GROUP BY user_id""".stripMargin

  /** EmocaLikeBboxesNode.smooth_bboxes (`bboxes.py:147-170`): savgol(25,3)
    * on box centers, savgol(15,3) on radii, rint/ceil back to long corners.
    * The oracle replays the identical IEEE sequence with the coefficient
    * matrices inlined as literals (same technique as q12). */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("user_id"), col("ts"), col("event_id"),
      cents(col("value")).as("v"), pmod(col("event_id"), lit(997L)).as("y"),
      (pmod(col("event_id"), lit(50L)) + 10).as("sz"))
    val clips = e.groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        col("v"), col("y"), col("sz")))).as("srt"))
      .where(size(col("srt")) >= 25) // savgol(25,3) needs >= window rows
      .select(col("user_id"), transform(col("srt"), f =>
        struct(f("v").as("x1"), f("y").as("y1"),
          (f("v") + f("sz")).as("x2"), (f("y") + f("sz")).as("y2"))).as("boxes"))
    clips.select(col("user_id"),
        posexplode(ClipOps.smoothBboxes(col("boxes"))))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("frame_idx"),
        col("col.x1").as("x1"), col("col.y1").as("y1"),
        col("col.x2").as("x2"), col("col.y2").as("y2"))
  }

  private val q34Sql = {
    val (cc25, ch25, ct25) = savgolMatricesSql(25, 3)
    val (cc15, ch15, ct15) = savgolMatricesSql(15, 3)
    // rad = sz/2 (DuckDB `/` on integers is float division, == sz.toDouble/2
    // in SmoothBoxes); xc = x1 + rad, yc = y1 + rad; rint = round_even, and
    // the BIGINT cast of the integral rint/ceil output is exact.
    s"""WITH e AS (
       |  SELECT user_id, CAST(round(value*100) AS BIGINT) AS v,
       |         event_id % 997 AS y, event_id % 50 + 10 AS sz,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
       |         count(*) OVER (PARTITION BY user_id) AS n
       |  FROM events),
       |g AS (
       |  SELECT user_id, max(n) AS n,
       |    list(v + sz / 2 ORDER BY rn) AS xc,
       |    list(y + sz / 2 ORDER BY rn) AS yc,
       |    list(sz / 2 ORDER BY rn) AS rad
       |  FROM e GROUP BY user_id HAVING max(n) >= 25),
       |coef AS (SELECT $cc25 AS cc25, $ch25 AS ch25, $ct25 AS ct25,
       |                $cc15 AS cc15, $ch15 AS ch15, $ct15 AS ct15),
       |sm AS (
       |  SELECT g.user_id, CAST(t.i AS BIGINT) AS frame_idx,
       |    CAST(round_even(${savgolApplySql("xc", 25, "cc25", "ch25", "ct25")}, 0) AS BIGINT) AS xcr,
       |    CAST(round_even(${savgolApplySql("yc", 25, "cc25", "ch25", "ct25")}, 0) AS BIGINT) AS ycr,
       |    CAST(ceil(${savgolApplySql("rad", 15, "cc15", "ch15", "ct15")}) AS BIGINT) AS radr
       |  FROM g CROSS JOIN coef, unnest(range(1, n + 1)) AS t(i))
       |SELECT user_id, frame_idx, xcr - radr AS x1, ycr - radr AS y1,
       |       xcr + radr AS x2, ycr + radr AS y2
       |FROM sm""".stripMargin
  }

  /** NaN row guards (`bboxes.py:26-29`, `crop.py:59-62`, §2.2): rows whose
    * synthetic landmark array contains NaN are flagged for the error
    * side-channel instead of failing the job. */
  private def q35(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    // inject NaN deterministically when discount > 0.05
    val x1 = when(col("l_discount") > 0.05, lit(Double.NaN))
      .otherwise(col("l_quantity").cast("double"))
    val arr = array(x1, col("l_extendedprice").cast("double"))
    l.select(col("l_orderkey"), col("l_linenumber"), arr.as("coords"))
      .select(col("l_orderkey"), col("l_linenumber"),
        exists(col("coords"), v => isnan(v)).as("is_error"))
  }

  /** Vid2vidAudio conditioning features (`h5.py:163-237`): per-user volume
    * series -> resample to 30 frames -> edge-windowed mean (16) -> concat
    * with blink columns. The oracle chains q13's resample lerp (unrounded),
    * an explicit clamped-window left-fold mean, and the blink constant (the
    * synthetic landmarks' x-differences cancel the per-user offset, so the
    * EAR ratios are the same double for every user and frame). */
  private def q36(s: SparkSession, dir: String): DataFrame = {
    val lm = array((0 until 68).map(i =>
      struct((col("name") + i).cast("double").as("x"),
             lit((i * 7 % 13).toDouble).as("y"))): _*)
    userSeries(s, dir)
      .where(size(col("series")) >= 2)
      .withColumnRenamed("user_id", "name")
      .withColumn("num_frames", lit(30))
      .withColumn("volume", col("series"))
      // a tiny synthetic wav2vec matrix (2 dims derived from the series)
      // drives the resample+window+concat path; the gated columns stay
      // the windowed volume and the blink constant
      .withColumn("wav2vec", transform(col("series"), v => array(v, -v)))
      // array_repeat evaluates the 68-struct frame once per row; a
      // transform(sequence(...)) lambda would rebuild it per frame
      .withColumn("landmarks", array_repeat(lm, col("num_frames").cast("int")))
      .transform(df => operators.Sinks.vid2vidAudioFeatures(df))
      .select(col("name").as("user_id"), col("average_blink"),
        posexplode(col("volume")))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("frame_idx"),
        round(col("col"), 6).as("vol_feat"),
        round(element_at(col("average_blink"), (col("pos") + 1).cast("int")), 6)
          .as("avg_blink"))
  }

  private val q36Sql = {
    // Mirrors LinearResample.linspace / q13Sql: x_k = dx + k*step, last = L.
    def xAt(k: String, n: String, L: String) =
      s"(CASE WHEN $k = $n - 1 THEN $L ELSE 0.01 + $k * (($L - 0.01) / ($n - 1)) END)"
    val num = 30
    // The EAR blink ratio over the synthetic landmarks (x_i = name + i,
    // y_i = (i*7) mod 13) is user-independent: replicate blink_features'
    // exact double sequence here and inline the result (%.17e round-trips).
    def dist(a: Int, b: Int): Double =
      math.sqrt(math.pow((a - b).toDouble, 2) +
        math.pow((a * 7 % 13 - b * 7 % 13).toDouble, 2))
    val left = (dist(37, 41) + dist(38, 40)) / (dist(36, 39) * 2)
    val right = (dist(43, 47) + dist(44, 46)) / (dist(42, 45) * 2)
    val avgBlink = f"${(left + right) / 2}%.17e"
    seriesSqlCte +
      s"""
         |, p AS (SELECT DISTINCT user_id, n, n / 50.0 AS L FROM s WHERE n >= 2),
         |tgt AS (
         |  SELECT user_id, n, L, j,
         |    CASE WHEN j = $num - 1 THEN L
         |         ELSE (1.0 / ((($num) / L) * 2)) + j * ((L - (1.0 / ((($num) / L) * 2))) / ($num - 1))
         |    END AS tpos
         |  FROM p CROSS JOIN range(0, $num) r(j)),
         |seg AS (
         |  SELECT tgt.user_id, tgt.j, tgt.tpos, tgt.n, tgt.L,
         |    least(tgt.n - 2,
         |          count(*) FILTER (WHERE ${xAt("(k.rn - 1)", "tgt.n", "tgt.L")} < tgt.tpos)) AS sg
         |  FROM tgt JOIN s k ON k.user_id = tgt.user_id AND k.rn >= 2
         |  GROUP BY tgt.user_id, tgt.j, tgt.tpos, tgt.n, tgt.L),
         |rs AS (
         |  SELECT g.user_id, g.j,
         |    y0.v + ((g.tpos - ${xAt("g.sg", "g.n", "g.L")})
         |          / (${xAt("(g.sg + 1)", "g.n", "g.L")} - ${xAt("g.sg", "g.n", "g.L")}))
         |          * (y1.v - y0.v) AS rv
         |  FROM seg g
         |  JOIN s y0 ON y0.user_id = g.user_id AND y0.rn = g.sg + 1
         |  JOIN s y1 ON y1.user_id = g.user_id AND y1.rn = g.sg + 2),
         |rl AS (SELECT user_id, list(rv ORDER BY j) AS vr FROM rs GROUP BY user_id)
         |SELECT rl.user_id, CAST(t.i AS BIGINT) AS frame_idx,
         |  round(list_reduce(list_transform(range(t.i - 8, t.i + 8),
         |      jj -> vr[least(greatest(jj, 1), $num)]), (a, b) -> a + b) / 16, 6) AS vol_feat,
         |  round($avgBlink, 6) AS avg_blink
         |FROM rl, unnest(range(1, ${num + 1})) AS t(i)""".stripMargin
  }

  private val q35Sql =
    """SELECT l_orderkey, l_linenumber,
      |  (isnan(CASE WHEN l_discount > 0.05 THEN 'NaN'::DOUBLE ELSE CAST(l_quantity AS DOUBLE) END)
      |   OR isnan(CAST(l_extendedprice AS DOUBLE))) AS is_error
      |FROM lineitem""".stripMargin

  /** Brand/supplier pricing rollup — the remaining star-schema tables
    * (part, supplier) through shuffle-or-broadcast joins chosen by stats. */
  private def q37(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy("p_brand", "s_nationkey")
      .agg(sum(cents(col("l_extendedprice"))).as("gross_cents"),
           count(lit(1)).as("n_items"),
           countDistinct(col("s_suppkey")).as("n_suppliers"))

  private val q37Sql =
    """SELECT p_brand, s_nationkey,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS gross_cents,
      |  count(*) AS n_items,
      |  count(DISTINCT s_suppkey) AS n_suppliers
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY p_brand, s_nationkey""".stripMargin

  /** As-of join: every event annotated with the most recent click value
    * at-or-before its timestamp (audio->frame alignment as a relational
    * op, §2.3); DuckDB's native ASOF JOIN is the oracle. Runs through the
    * engine's custom Catalyst operator (AsofJoinPlan -> merge-scan
    * AsofJoinExec); the union+window formulation (AsOf.asofJoin) is
    * equivalence-tested against it in AsOfSpec. */
  private def q38(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val left = e.select(col("user_id"), col("ts"), col("event_id"))
    val right = e.where(col("event_type") === "click")
      .groupBy("user_id", "ts")
      .agg(max(cents(col("value"))).as("click_cents"))
    AsOf.asofJoinMerge(left, right, "user_id", "ts")
      .select(col("user_id"), col("event_id"), col("click_cents"))
  }

  private val q38Sql =
    """WITH r AS (
      |  SELECT user_id, ts, max(CAST(round(value*100) AS BIGINT)) AS click_cents
      |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
      |SELECT e.user_id, e.event_id, r.click_cents
      |FROM events e
      |ASOF JOIN r ON e.user_id = r.user_id AND e.ts >= r.ts""".stripMargin

  /** IVF ANN top-k (inverted-file cells, nProbe=2). The coarse quantizer
    * is deterministic (first nCells corpus vectors as centroids), so the
    * whole path has an exact oracle: cell assignment keeps the EARLIEST
    * centroid index on cosine ties (the when-fold), while probe ranking
    * keeps the HIGHEST (reverse of ascending struct sort) — the SQL
    * mirrors both tie-breaks. */
  private def q39(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10), k = 5,
        nCells = 8, nProbe = 2)
      .select(col("query_id"), col("cand_id"), col("cos_sim"),
        col("rank").cast("long").as("rank"))
  }

  private val q39Sql = {
    // sequential-fold dot products (same IEEE order as VecDot / the Scala
    // driver-side centroid norm)
    def dot(x: String, y: String) =
      s"""list_reduce(list_transform(range(1, len($x) + 1),
         |      i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)), (p, q) -> p + q)""".stripMargin
    s"""WITH cent AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, embedding AS cv
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
       |e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |vc AS (
       |  SELECT e.vec_id, cent.i,
       |    ${dot("e.v", "cent.cv")}
       |      / (sqrt(${dot("e.v", "e.v")}) * sqrt(${dot("cent.cv", "cent.cv")})) AS s
       |  FROM e CROSS JOIN cent),
       |assign AS (
       |  SELECT vec_id, i AS cell FROM (
       |    SELECT vec_id, i,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i ASC) AS rn
       |    FROM vc) WHERE rn = 1),
       |probe AS (
       |  SELECT vec_id AS query_id, i AS cell FROM (
       |    SELECT vec_id, i,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i DESC) AS rn
       |    FROM vc WHERE vec_id < 10) WHERE rn <= 2),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
       |    round($cosSqlAB, 6) AS cos_sim
       |  FROM probe p
       |  JOIN e a ON a.vec_id = p.query_id
       |  JOIN assign g ON g.cell = p.cell
       |  JOIN e b ON b.vec_id = g.vec_id AND b.vec_id != p.query_id),
       |ranked AS (
       |  SELECT query_id, cand_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, cand_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, cand_id, cos_sim, rank FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** Duplicate-cluster assignment: connected components over the q19
    * near-dup pair graph (iterative min-label propagation, one shuffle per
    * round) — every document labelled with its cluster's canonical
    * (minimum) doc_id. The oracle replays the proven pair derivation and
    * closes it transitively with a recursive CTE. */
  private def q40(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.5)
    Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")),
        docs.select(col("doc_id")))
      .select(col("id").as("doc_id"), col("cluster_id"))
  }

  private val q40Sql =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL
       |  SELECT id_b AS a, id_a AS b FROM pairs),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS lbl FROM documents
       |  UNION
       |  SELECT e.b AS id, r.lbl FROM reach r JOIN edges e ON e.a = r.id)
       |SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id""".stripMargin

  /** Promo-window attribution: count the events inside each click's
    * 5-minute window — a range join executed as a binned equi-join
    * (RangeJoin.binnedRangeJoin) instead of a θ-join; the oracle is the
    * plain interval-predicate join. */
  private def q41(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val win = 300000000000L // 5 min in nanos (ts is nanos-since-epoch)
    val probe = e.select(col("user_id"), col("ts"), col("event_id"))
    val windows = e.where(col("event_type") === "click")
      .select(col("user_id").as("w_user"), col("event_id").as("window_id"),
        col("ts").as("start_ts"), (col("ts") + win).as("end_ts"))
    RangeJoin.binnedRangeJoin(probe, "user_id", "ts",
        windows, "w_user", "start_ts", "end_ts", binSize = win)
      .groupBy(col("user_id"), col("window_id"))
      .agg(count(lit(1)).as("n_events"))
  }

  private val q41Sql =
    """WITH w AS (
      |  SELECT user_id, event_id AS window_id, epoch_ns(ts) AS start_ns,
      |         epoch_ns(ts) + 300000000000 AS end_ns
      |  FROM events WHERE event_type = 'click')
      |SELECT w.user_id, w.window_id, count(*) AS n_events
      |FROM w JOIN events e
      |  ON e.user_id = w.user_id
      | AND epoch_ns(e.ts) >= w.start_ns AND epoch_ns(e.ts) < w.end_ns
      |GROUP BY w.user_id, w.window_id""".stripMargin

  /** Within-document repetition (Gopher-style quality filter): duplicate
    * token and token-trigram fractions. */
  private def q42(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionFeatures(t(s, dir, "documents"), "doc_id", "text")

  private val q42Sql =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tr AS (
       |  SELECT doc_id, toks, len(toks) AS ntok,
       |    CASE WHEN len(toks) >= 3
       |         THEN list_transform(range(1, len(toks) - 1),
       |                i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
       |         ELSE [] END AS tris
       |  FROM tk)
       |SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
       |  round(CASE WHEN ntok > 0
       |    THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / ntok
       |    ELSE 0.0 END, 6) AS dup_token_frac,
       |  round(CASE WHEN len(tris) > 0
       |    THEN 1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris)
       |    ELSE 0.0 END, 6) AS dup_trigram_frac
       |FROM tr""".stripMargin

  /** Corpus vocabulary top-100 — global token counts with map-side partial
    * aggregation; the sort runs over the small distinct-token table. */
  private def q43(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabTopK(t(s, dir, "documents"), "text", 100)
      .select(col("token"), col("cnt"), col("rank").cast("long").as("rank"))

  private val q43Sql =
    s"""WITH tok AS (SELECT unnest($toksSql) AS token FROM documents),
       |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
       |r AS (SELECT token, cnt,
       |        row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
       |      FROM c)
       |SELECT token, cnt, rank FROM r WHERE rank <= 100""".stripMargin

  /** PII scrub: deterministic synthetic emails / long numbers appended per
    * doc, then counted and redacted (the standard pre-training scrub). */
  private def q44(s: SparkSession, dir: String): DataFrame = {
    val withPii = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or call 55512"), col("doc_id").cast("string")).as("text"))
    TextAnalysis.redactPii(withPii, "doc_id", "text")
  }

  private val q44Sql = {
    val email = TextAnalysis.EmailRe // single backslash survives into the SQL literal
    val num = TextAnalysis.LongNumRe
    s"""WITH d AS (
       |  SELECT doc_id, text || ' contact user' || doc_id ||
       |         '@example.com or call 55512' || doc_id AS text
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$num')) AS BIGINT) AS n_long_numbers,
       |  regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
       |                 '$num', '<NUM>', 'g') AS redacted
       |FROM d""".stripMargin
  }

  /** Forward as-of join: every event annotated with the NEXT click value
    * at-or-after its timestamp — the same custom merge exec as q38 run on
    * the negated time axis; the oracle negates epoch nanos so DuckDB's
    * backward-only ASOF JOIN expresses the forward direction. */
  private def q46(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val left = e.select(col("user_id"), col("ts"), col("event_id"))
    val right = e.where(col("event_type") === "click")
      .groupBy("user_id", "ts")
      .agg(max(cents(col("value"))).as("next_click_cents"))
    AsOf.asofJoinForward(left, right, "user_id", "ts")
      .select(col("user_id"), col("event_id"), col("next_click_cents"))
  }

  private val q46Sql =
    """WITH r AS (
      |  SELECT user_id, -epoch_ns(ts) AS neg,
      |         max(CAST(round(value*100) AS BIGINT)) AS next_click_cents
      |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
      |SELECT e.user_id, e.event_id, r.next_click_cents
      |FROM (SELECT user_id, event_id, -epoch_ns(ts) AS neg FROM events) e
      |ASOF JOIN r ON e.user_id = r.user_id AND e.neg >= r.neg""".stripMargin

  /** Deterministic stratified subsample: the first ceil(10%) of each
    * language stratum by doc_id — corpus downsampling with exact per-group
    * quotas (window rank, no shuffle beyond the one partitionBy). */
  private def q45(s: SparkSession, dir: String): DataFrame = {
    val byLang = Window.partitionBy("lang")
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        row_number().over(byLang.orderBy("doc_id")).as("rn"),
        count(lit(1)).over(byLang).as("n"))
      .where(col("rn") <= ceil(col("n") * 0.1))
      .select(col("doc_id"), col("lang"))
  }

  private val q45Sql =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM documents)
      |WHERE rn <= ceil(n * 0.1)""".stripMargin

  /** Cross-source contamination scan (train/test decontamination): the
    * rolling-hash fingerprint of each document's 8-token prefix, grouped;
    * prefixes seen in 2+ distinct sources are contamination candidates
    * (the standard coarse decontamination key — exact-text matching finds
    * nothing at small scales). One hash-groupBy with map-side partial
    * aggregation; only fingerprint counts cross the shuffle. */
  private def q47(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        rolling_hash(concat_ws(" ",
          slice(ws_tokens(col("text")), 1, 8))).as("fp"))
      .groupBy("fp")
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .where(col("n_sources") >= 2)

  private val q47Sql =
    s"""WITH f AS (
       |  SELECT doc_id, source,
       |    CAST(coalesce(list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(split(array_to_string($toksSql[1:8], ' '), ''),
       |          c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 2147483647), 0) AS BIGINT) AS fp
       |  FROM documents)
       |SELECT fp, count(DISTINCT source) AS n_sources, count(*) AS n_docs,
       |       min(doc_id) AS first_doc
       |FROM f GROUP BY fp HAVING count(DISTINCT source) >= 2""".stripMargin

  /** Trained-codebook IVF top-k: two Lloyd's iterations over the
    * embeddings table (seeded with the 8 lowest-id vectors), then the q39
    * probe/rank path over the trained centroids. The codebook means are
    * integer-quantized (1e-6) with long summation, so training is
    * bit-identical under any partitioning — which is what makes an exact
    * oracle possible: the SQL unrolls both Lloyd's iterations. */
  private def q48(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = Similarity.kmeansCentroids(emb, nCells = 8, iters = 2)
    Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10), k = 5,
        nCells = 8, nProbe = 2, centroids = cents)
      .select(col("query_id"), col("cand_id"), col("cos_sim"),
        col("rank").cast("long").as("rank"))
  }

  /** Shared DuckDB replay of 2-iteration Lloyd's k-means + final cell
    * assignment (used by q48 and q59): leaves CTEs `e` (vec_id, v),
    * `c_2` (trained codebook), `vc_3` (vector x centroid cosines) and
    * `assign` (vec_id -> cell) in scope. */
  private val kmeansAssignSqlCtes = {
    def dot(x: String, y: String) =
      s"""list_reduce(list_transform(range(1, len($x) + 1),
         |      i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)), (p, q) -> p + q)""".stripMargin
    // One Lloyd's round: score every vector against the previous codebook
    // (earliest cell index on cosine ties), then per-(cell, dim)
    // integer-quantized means; empty cells keep their previous centroid.
    def iter(prev: Int, cur: Int) =
      s"""vc_$cur AS (
         |  SELECT e.vec_id, c.i,
         |    ${dot("e.v", "c.cv")}
         |      / (sqrt(${dot("e.v", "e.v")}) * sqrt(${dot("c.cv", "c.cv")})) AS s
         |  FROM e CROSS JOIN c_$prev c),
         |a_$cur AS (
         |  SELECT vec_id, i AS cell FROM (
         |    SELECT vec_id, i,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i ASC) AS rn
         |    FROM vc_$cur) WHERE rn = 1),
         |m_$cur AS (
         |  SELECT a.cell, u.d AS d,
         |    CAST(sum(CAST(round(u.x * 1000000) AS BIGINT)) AS BIGINT) AS sm,
         |    count(*) AS n
         |  FROM a_$cur a JOIN e USING (vec_id),
         |    unnest(list_transform(range(1, len(e.v) + 1),
         |      i -> struct_pack(d := i, x := CAST(e.v[i] AS DOUBLE)))) AS t(u)
         |  GROUP BY a.cell, u.d),
         |l_$cur AS (
         |  SELECT cell,
         |    list(CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) ORDER BY d) AS cv
         |  FROM m_$cur GROUP BY cell),
         |c_$cur AS (
         |  SELECT c.i, coalesce(l.cv, c.cv) AS cv
         |  FROM c_$prev c LEFT JOIN l_$cur l ON l.cell = c.i)"""
    s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |c_0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
       |${iter(0, 1)},
       |${iter(1, 2)},
       |vc_3 AS (
       |  SELECT e.vec_id, c.i,
       |    ${dot("e.v", "c.cv")}
       |      / (sqrt(${dot("e.v", "e.v")}) * sqrt(${dot("c.cv", "c.cv")})) AS s
       |  FROM e CROSS JOIN c_2 c),
       |assign AS (
       |  SELECT vec_id, i AS cell FROM (
       |    SELECT vec_id, i,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i ASC) AS rn
       |    FROM vc_3) WHERE rn = 1)""".stripMargin
  }

  private val q48Sql =
    s"""$kmeansAssignSqlCtes,
       |probe AS (
       |  SELECT vec_id AS query_id, i AS cell FROM (
       |    SELECT vec_id, i,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i DESC) AS rn
       |    FROM vc_3 WHERE vec_id < 10) WHERE rn <= 2),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
       |    round($cosSqlAB, 6) AS cos_sim
       |  FROM probe p
       |  JOIN e a ON a.vec_id = p.query_id
       |  JOIN assign g ON g.cell = p.cell
       |  JOIN e b ON b.vec_id = g.vec_id AND b.vec_id != p.query_id),
       |ranked AS (
       |  SELECT query_id, cand_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, cand_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, cand_id, cos_sim, rank FROM ranked WHERE rank <= 5""".stripMargin

  /** BPE-training pair statistics: adjacent character-pair frequencies
    * weighted by token frequency — the counting step of byte-pair-encoding
    * tokenizer training, over the distinct-token table. */
  private def q49(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpePairStats(t(s, dir, "documents"), "text", 50)
      .select(col("pair"), col("cnt"), col("rank").cast("long").as("rank"))

  private val q49Sql =
    s"""WITH tok AS (SELECT unnest($toksSql) AS token FROM documents),
       |f AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
       |p AS (
       |  SELECT unnest(list_transform(range(1, len(token)),
       |           i -> token[i:i] || token[i+1:i+1])) AS pair, freq
       |  FROM f WHERE len(token) >= 2),
       |c AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p GROUP BY pair),
       |r AS (SELECT pair, cnt,
       |        row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rank
       |      FROM c)
       |SELECT pair, cnt, rank FROM r WHERE rank <= 50""".stripMargin

  /** Per-document TF-IDF top terms (tf = count/ntok, idf = ln(N/df)):
    * the classic relevance-weighting rollup — three partial-aggregated
    * shuffles and a per-doc window. */
  private def q50(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", 3)

  private val q50Sql =
    s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
       |nt AS (SELECT doc_id, count(*) AS ntok FROM toks GROUP BY doc_id),
       |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.token,
       |    round((CAST(tf.tf AS DOUBLE) / CAST(nt.ntok AS DOUBLE))
       |      * ln(n.n / CAST(dfq.df AS DOUBLE)), 6) AS tfidf
       |  FROM tf JOIN nt USING (doc_id) JOIN dfq USING (token) CROSS JOIN n),
       |r AS (SELECT doc_id, token, tfidf,
       |        row_number() OVER (PARTITION BY doc_id
       |          ORDER BY tfidf DESC, token ASC) AS rank
       |      FROM scored)
       |SELECT doc_id, token, tfidf, rank FROM r WHERE rank <= 3""".stripMargin

  /** Deterministic hash-bucketed train/validation/test split — the q47
    * rolling hash over the doc id string, modulo 100 buckets. */
  private def q51(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.hashSplit(t(s, dir, "documents"), "doc_id")

  /** Shared DuckDB fragment (q51, q60, q118): rolling-hash split bucket
    * of a stringified id expression. */
  private def bucketSqlOf(idExpr: String): String =
    s"""CAST(coalesce(list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(split(CAST($idExpr AS VARCHAR), ''),
       |          c -> CAST(unicode(c) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 2147483647), 0) AS BIGINT) % 100""".stripMargin

  private val idBucketSql = bucketSqlOf("doc_id")

  private val q51Sql =
    s"""SELECT doc_id, b AS bucket,
       |  CASE WHEN b < 80 THEN 'train'
       |       WHEN b < 90 THEN 'validation'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id,
       |    $idBucketSql AS b
       |  FROM documents)""".stripMargin

  /** The a2en pack end-to-end (`a2en.py:24-45`): wav2vec resampled
    * per-dimension onto the EMOCA code count (linear_resample_vec), volume
    * resampled likewise, jaw = pose[:, 3], and the 3-D blink ratios from
    * flattened 68x3 landmarks — the remaining tests-only sink surface,
    * oracle-gated in the q36 style. The synthetic wav2vec matrix is [v, -v] per sample:
    * IEEE negation is exact and distributes over the lerp, so dim 1 must
    * equal -dim 0 bit-for-bit, which the oracle exploits. The landmark
    * geometry (x = name + i, y = 7i mod 13, z = 5i mod 11) makes the blink
    * ratio user-independent; the oracle inlines the exact double
    * (%.17e round-trips). Per-user event counts are 45-99 at every SF, so
    * the kernel's n == num identity short-circuit never fires for num=24. */
  private def q53(s: SparkSession, dir: String): DataFrame = {
    val num = 24
    val lm3d = array((0 until 68).flatMap(i =>
      Seq((col("name") + i).cast("double"),
        lit((i * 7 % 13).toDouble), lit((i * 5 % 11).toDouble))): _*)
    userSeries(s, dir)
      .where(size(col("series")) >= 2)
      .withColumnRenamed("user_id", "name")
      .withColumn("volume", col("series"))
      .withColumn("wav2vec", transform(col("series"), v => array(v, -v)))
      .withColumn("exp",
        transform(sequence(lit(1), lit(num)), j => array(j.cast("double"))))
      .withColumn("pose", transform(sequence(lit(0), lit(num - 1)),
        j => array(lit(0.0), lit(0.0), lit(0.0),
          (col("name") + j).cast("double"), lit(0.0), lit(0.0))))
      // array_repeat evaluates the 68-point frame once per row (see q36)
      .withColumn("landmarks3d", array_repeat(lm3d, lit(num)))
      // parity: the resample target is the EMOCA code count (`a2en.py:37`)
      .withColumn("num_frames", size(col("exp")))
      .transform(df => operators.Sinks.a2enPack(df))
      .select(col("name").as("user_id"),
        col("a2en.audio_features").as("af"), col("a2en.jaw_pose").as("jaw"),
        col("a2en.left_blink").as("lb"), col("a2en.average_blink").as("ab"),
        posexplode(col("a2en.volume")))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("frame_idx"),
        round(col("col"), 6).as("vol_feat"),
        round(element_at(element_at(col("af"), (col("pos") + 1).cast("int")), 1), 6)
          .as("w2v_d0"),
        round(element_at(element_at(col("af"), (col("pos") + 1).cast("int")), 2), 6)
          .as("w2v_d1"),
        round(element_at(col("jaw"), (col("pos") + 1).cast("int")), 6).as("jaw"),
        round(element_at(col("lb"), (col("pos") + 1).cast("int")), 6).as("left_blink"),
        round(element_at(col("ab"), (col("pos") + 1).cast("int")), 6).as("avg_blink"))
  }

  private val q53Sql = {
    val num = 24
    def xAt(k: String, n: String, L: String) =
      s"(CASE WHEN $k = $n - 1 THEN $L ELSE 0.01 + $k * (($L - 0.01) / ($n - 1)) END)"
    // Exact doubles of blink_features_xyz over the synthetic landmarks
    // (same op order: sqrt(pow(dx,2) + pow(dy,2) + pow(dz,2)))
    def dist3(a: Int, b: Int): Double =
      math.sqrt(math.pow((a - b).toDouble, 2)
        + math.pow((a * 7 % 13 - b * 7 % 13).toDouble, 2)
        + math.pow((a * 5 % 11 - b * 5 % 11).toDouble, 2))
    val left = (dist3(37, 41) + dist3(38, 40)) / (dist3(36, 39) * 2)
    val right = (dist3(43, 47) + dist3(44, 46)) / (dist3(42, 45) * 2)
    val leftS = f"$left%.17e"
    val avgS = f"${(left + right) / 2}%.17e"
    seriesSqlCte +
      s"""
         |, p AS (SELECT DISTINCT user_id, n, n / 50.0 AS L FROM s WHERE n >= 2),
         |tgt AS (
         |  SELECT user_id, n, L, j,
         |    CASE WHEN j = $num - 1 THEN L
         |         ELSE (1.0 / ((($num) / L) * 2)) + j * ((L - (1.0 / ((($num) / L) * 2))) / ($num - 1))
         |    END AS tpos
         |  FROM p CROSS JOIN range(0, $num) r(j)),
         |seg AS (
         |  SELECT tgt.user_id, tgt.j, tgt.tpos, tgt.n, tgt.L,
         |    least(tgt.n - 2,
         |          count(*) FILTER (WHERE ${xAt("(k.rn - 1)", "tgt.n", "tgt.L")} < tgt.tpos)) AS sg
         |  FROM tgt JOIN s k ON k.user_id = tgt.user_id AND k.rn >= 2
         |  GROUP BY tgt.user_id, tgt.j, tgt.tpos, tgt.n, tgt.L),
         |rs AS (
         |  SELECT g.user_id, g.j,
         |    y0.v + ((g.tpos - ${xAt("g.sg", "g.n", "g.L")})
         |          / (${xAt("(g.sg + 1)", "g.n", "g.L")} - ${xAt("g.sg", "g.n", "g.L")}))
         |          * (y1.v - y0.v) AS rv
         |  FROM seg g
         |  JOIN s y0 ON y0.user_id = g.user_id AND y0.rn = g.sg + 1
         |  JOIN s y1 ON y1.user_id = g.user_id AND y1.rn = g.sg + 2),
         |rl AS (SELECT user_id, list(rv ORDER BY j) AS vr FROM rs GROUP BY user_id)
         |SELECT rl.user_id, CAST(t.i AS BIGINT) AS frame_idx,
         |  round(vr[t.i], 6) AS vol_feat,
         |  round(vr[t.i], 6) AS w2v_d0,
         |  round(-vr[t.i], 6) AS w2v_d1,
         |  round(CAST(rl.user_id + t.i - 1 AS DOUBLE), 6) AS jaw,
         |  round($leftS, 6) AS left_blink,
         |  round($avgS, 6) AS avg_blink
         |FROM rl, unnest(range(1, ${num + 1})) AS t(i)""".stripMargin
  }

  /** DuckDB replay of [[graft.functions.HllDistinct]] at precision `p`:
    * same md5 top-60-bit hash, same register/rho split, byte-max register
    * merge via `max(rho)`, the estimator folded in ascending register order
    * (each term an exact power of two, so the floating sum is order-pinned),
    * and the same linear-counting small-range branch. `src` must expose
    * columns `(g, v)`. */
  private def hllSql(src: String, p: Int): String = {
    val m = 1 << p
    val tb = 60 - p
    val mask = (1L << tb) - 1
    s"""WITH vals AS (SELECT g, v FROM $src),
       |h AS (SELECT g, ${md5LongSql("v")} AS h FROM vals),
       |rr AS (
       |  SELECT g, h >> $tb AS reg,
       |    CASE WHEN (h & $mask) = 0 THEN ${tb + 1}
       |         ELSE $tb - length(bin(h & $mask)) + 1 END AS rho
       |  FROM h),
       |mx AS (SELECT g, reg, max(rho) AS mr FROM rr GROUP BY g, reg),
       |allr AS (
       |  SELECT gs.g, r.i, coalesce(mx.mr, 0) AS r
       |  FROM (SELECT DISTINCT g FROM vals) gs
       |  CROSS JOIN range(0, $m) r(i)
       |  LEFT JOIN mx ON mx.g = gs.g AND mx.reg = r.i),
       |agg AS (
       |  SELECT g,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(1.0 / CAST(1::BIGINT << r AS DOUBLE) ORDER BY i)),
       |      (a, x) -> a + x) AS s,
       |    sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS zeros
       |  FROM allr GROUP BY g),
       |est AS (
       |  SELECT g, (0.7213 / (1 + 1.079 / $m)) * $m * $m / s AS raw, zeros
       |  FROM agg)
       |SELECT g, round(CASE WHEN raw <= 2.5 * $m AND zeros > 0
       |          THEN $m * ln(CAST($m AS DOUBLE) / zeros) ELSE raw END, 6) AS est
       |FROM est""".stripMargin
  }

  /** HyperLogLog distinct-count sketches per language: estimated vocabulary
    * size (p=10, lands in the linear-counting branch at these vocab sizes)
    * and estimated document count (p=4, lands in the raw-estimator branch)
    * — one scan per measure, a 2^p-byte buffer per group across the
    * shuffle instead of a distinct-shuffle of every value. The oracle
    * replays the sketch bit-for-bit (md5 hash, register max-merge,
    * order-pinned estimator fold); round(_, 6) guards the one libm call
    * (`ln`) in the linear-counting branch, as in q50. */
  private def q52(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = docs.select(col("lang"), explode(ws_tokens(col("text"))).as("tok"))
      .groupBy("lang").agg(round(hll_distinct(col("tok"), 10), 6).as("est_vocab"))
    val ndocs = docs.groupBy("lang")
      .agg(round(hll_distinct(col("doc_id").cast("string"), 4), 6).as("est_docs"))
    vocab.join(ndocs, "lang")
  }

  private val q52Sql = {
    val vocabSrc =
      s"(SELECT lang AS g, unnest($toksSql) AS v FROM documents)"
    val docSrc =
      "(SELECT lang AS g, CAST(doc_id AS VARCHAR) AS v FROM documents)"
    s"""SELECT v.g AS lang, v.est AS est_vocab, d.est AS est_docs
       |FROM (${hllSql(vocabSrc, 10)}) v
       |JOIN (${hllSql(docSrc, 4)}) d ON v.g = d.g""".stripMargin
  }

  /** Bloom-filter semi-join pruning (the runtime-filter shape): the
    * high-value order custkeys aggregate to ONE 128-byte filter row,
    * broadcast onto the customer scan, which is pruned map-side before
    * the exact join. Output: every bloom-positive customer flagged with
    * exact membership — the false positives are md5-deterministic, so the
    * oracle replays them bit-for-bit (m=1024, k=4 over ~160 keys at
    * sf0.01 -> a few percent FP rate, visible in the gate). */
  private def q54(s: SparkSession, dir: String): DataFrame = {
    val hi = t(s, dir, "orders").where(col("o_totalprice") > 494000)
      .select(col("o_custkey")).distinct()
    val pruned = Sketches.bloomSemiJoinPrune(
      hi, col("o_custkey").cast("string"),
      t(s, dir, "customer"), col("c_custkey").cast("string"), 1024, 4)
    pruned.join(hi, pruned("c_custkey") === hi("o_custkey"), "left")
      .select(col("c_custkey"), col("o_custkey").isNotNull.as("exact_match"))
  }

  private val q54Sql = {
    val m = 1024
    val k = 4
    def pos(h: String, i: String) = sketchPosSql(h, i, m)
    s"""WITH keys AS (
       |  SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 494000),
       |bits AS (
       |  SELECT DISTINCT ${pos("kh.h", "t.i")} AS b
       |  FROM (SELECT ${md5LongSql("CAST(o_custkey AS VARCHAR)")} AS h FROM keys) kh
       |  CROSS JOIN range(0, $k) t(i)),
       |cand AS (
       |  SELECT c_custkey, ${md5LongSql("CAST(c_custkey AS VARCHAR)")} AS h
       |  FROM customer),
       |hit AS (
       |  SELECT c_custkey FROM cand
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM range(0, $k) t(i)
       |    WHERE ${pos("cand.h", "t.i")} NOT IN (SELECT b FROM bits)))
       |SELECT h.c_custkey, k2.o_custkey IS NOT NULL AS exact_match
       |FROM hit h LEFT JOIN keys k2 ON k2.o_custkey = h.c_custkey""".stripMargin
  }

  /** Line-level exact dedup (CCNet/Dolma paragraph dedup): keep only the
    * globally first occurrence of every distinct line, reassemble docs.
    * Gate fixture: "lines" are 12-token chunks (the synthetic texts are
    * single-line), built via explode+groupBy so tokenization runs once
    * per document rather than once per chunk under CollapseProject. */
  private def q55(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val chunked = docs
      .select(col("doc_id"), posexplode(ws_tokens(col("text"))).as(Seq("p", "tok")))
      .groupBy(col("doc_id"), floor(col("p") / 12).as("lp"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("p"), col("tok")))),
        x => x("tok")), " ").as("line"))
      .groupBy("doc_id")
      .agg(transform(array_sort(collect_list(struct(col("lp"), col("line")))),
        x => x("line")).as("lines"))
    // re-join every doc id: a token-free document has no exploded rows,
    // but the oracle (and dedupLines' contract) emit one row per input
    // document — it must enter the dedup with an empty lines array
    val lines = docs.select(col("doc_id")).join(chunked, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lines"), array().cast("array<string>")).as("lines"))
    TextAnalysis.dedupLines(lines, "doc_id", "lines")
  }

  private val q55Sql =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |lines AS (
       |  SELECT doc_id, u.p AS pos, u.line FROM (
       |    SELECT doc_id,
       |      list_transform(range(0, CAST(ceil(len(toks) / 12.0) AS BIGINT)),
       |        i -> struct_pack(p := i,
       |               line := array_to_string(toks[(i * 12 + 1):(i * 12 + 12)], ' '))) AS ls
       |    FROM tk), unnest(ls) AS t(u)),
       |h AS (SELECT doc_id, pos, line, ${md5LongSql("line")} AS h FROM lines),
       |kept AS (
       |  SELECT doc_id, pos, line FROM (
       |    SELECT doc_id, pos, line,
       |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
       |    FROM h) WHERE rn = 1),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    string_agg(line, chr(10) ORDER BY pos) AS dedup_text
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.n_kept, 0) AS n_kept,
       |  coalesce(a.dedup_text, '') AS dedup_text
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin

  /** Count-min sketch frequency probes: ONE scan of the token stream
    * builds a single 4x32 counter row (partial-aggregated, no token
    * shuffle), broadcast to the 20 highest-frequency tokens; estimates
    * are min-over-rows with over-count-only error. The width is sized
    * BELOW the 31-word synthetic vocabulary on purpose, so the gate
    * exercises real collisions (5 of the 20 probes over-count) rather
    * than only the collision-free identity path. Counters are exact
    * integers on md5 positions, so the oracle replays every cell. */
  private def q56(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").select(explode(ws_tokens(col("text"))).as("tok"))
    val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok").asc).limit(20)
    Sketches.cmsFrequencies(toks, col("tok"), top, col("tok"), 4, 32)
      .select(col("tok").as("token"), col("exact_cnt"), col("est_cnt"))
  }

  private val q56Sql = {
    val d = 4
    val w = 32
    def pos(h: String, j: String) = sketchPosSql(h, j, w)
    s"""WITH tok AS (SELECT unnest($toksSql) AS tok FROM documents),
       |th AS (SELECT tok, ${md5LongSql("tok")} AS h FROM tok),
       |cells AS (
       |  SELECT j.i AS row_j, ${pos("th.h", "j.i")} AS pos, count(*) AS cnt
       |  FROM th CROSS JOIN range(0, $d) j(i)
       |  GROUP BY 1, 2),
       |exact AS (SELECT tok, count(*) AS exact_cnt FROM tok GROUP BY tok),
       |top AS (SELECT tok, exact_cnt, ${md5LongSql("tok")} AS h
       |        FROM exact ORDER BY exact_cnt DESC, tok ASC LIMIT 20),
       |est AS (
       |  SELECT t.tok, t.exact_cnt, min(c.cnt) AS est_cnt
       |  FROM top t
       |  CROSS JOIN range(0, $d) j(i)
       |  JOIN cells c ON c.row_j = j.i AND c.pos = ${pos("t.h", "j.i")}
       |  GROUP BY t.tok, t.exact_cnt)
       |SELECT tok AS token, exact_cnt, est_cnt FROM est""".stripMargin
  }

  /** Bottom-k (KMV) consistent sampling per language: the k=8 documents
    * with the smallest md5 hash form a deterministic, engine- and
    * run-stable sample (the same doc always represents the corpus slice),
    * and the k-th smallest hash yields the KMV distinct estimate
    * (k-1)/U_k. Hash order is content-independent, so two corpora sampled
    * this way can be overlap-compared directly. Built on the `bottom_k`
    * AGGREGATE, not a window: with a handful of language groups a
    * partitioned row_number would drag each group's whole corpus slice
    * onto one partition, while the aggregate partial-combines (<= k pairs
    * per group per partition into the shuffle). The gate posexplodes the
    * sample to one (lang, rank, doc_id) row each — scalar cells only. */
  private def q57(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    val h = t(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        md5_long(col("doc_id").cast("string")).as("h"))
    val totals = h.groupBy("lang").agg(count(lit(1)).as("n_total"))
    h.groupBy("lang")
      .agg(bottom_k(struct(col("h"), col("doc_id").as("id")), k).as("bk"))
      .join(totals, "lang")
      .select(col("lang"),
        round(when(size(col("bk")) < k, col("n_total").cast("double"))
          .otherwise(lit(7.0) * lit(1152921504606846976.0)
            / element_at(col("bk"), k)("h")), 6).as("est_distinct"),
        posexplode(sort_array(transform(col("bk"), x => x("id")))))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col").as("doc_id"), col("est_distinct"))
  }

  private val q57Sql =
    s"""WITH h AS (
       |  SELECT lang, doc_id, ${md5LongSql("CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents),
       |r AS (
       |  SELECT lang, doc_id, h,
       |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
       |  FROM h),
       |t AS (SELECT lang, count(*) AS n_total FROM h GROUP BY lang),
       |s AS (
       |  SELECT lang, max(CASE WHEN rn = 8 THEN h END) AS hk
       |  FROM r WHERE rn <= 8 GROUP BY lang),
       |sm AS (
       |  SELECT lang, doc_id,
       |    CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS rank
       |  FROM r WHERE rn <= 8)
       |SELECT sm.lang, sm.rank, sm.doc_id,
       |  round(CASE WHEN s.hk IS NULL THEN CAST(t.n_total AS DOUBLE)
       |        ELSE 7.0 * 1152921504606846976.0 / s.hk END, 6) AS est_distinct
       |FROM sm JOIN s ON s.lang = sm.lang JOIN t ON t.lang = sm.lang""".stripMargin

  /** Unigram language-model quality scoring (the CCNet LM-filter shape
    * with a corpus-trained unigram model): token log-probabilities from
    * the global frequency table, mean log-prob per document. Per-token
    * log-probs are 1e-6-integer-quantized before the per-doc sum, so the
    * aggregation is exact integer math — partition-order-independent and
    * oracle-replayable; the token->logprob join is an equi-join against
    * an aggregated (vocab-sized) side. */
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(ws_tokens(col("text"))).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val tot = freq.agg(sum(col("cnt")).as("N"))
    val lp = freq.crossJoin(broadcast(tot))
      .select(col("tok"),
        round(log(col("cnt").cast("double") / col("N")) * lit(1000000.0), 0)
          .cast("long").as("lp_q"))
    toks.join(lp, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp_q")).as("slp"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("slp").cast("double") / (col("n_tokens") * lit(1000000.0)), 6)
          .as("lm_score"))
  }

  private val q58Sql =
    s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |f AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
       |tot AS (SELECT sum(cnt) AS N FROM f),
       |lp AS (
       |  SELECT tok,
       |    CAST(round(ln(CAST(cnt AS DOUBLE) / N) * 1000000.0) AS BIGINT) AS lp_q
       |  FROM f, tot),
       |sc AS (
       |  SELECT doc_id, count(*) AS n_tokens, sum(lp_q) AS slp
       |  FROM tk JOIN lp USING (tok) GROUP BY doc_id)
       |SELECT doc_id, n_tokens,
       |  round(CAST(slp AS DOUBLE) / (n_tokens * 1000000.0), 6) AS lm_score
       |FROM sc""".stripMargin

  /** SemDeDup-style semantic dedup: embeddings clustered by the trained
    * k-means codebook (the q48 quantizer), within-cluster cosine pairs
    * above the threshold drop the higher id. The oracle replays the full
    * Lloyd training in SQL and the identical pair predicate — the same
    * IEEE operation sequence on the same operands on both sides. */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = Similarity.kmeansCentroids(emb, 8, 2)
    Dedup.semanticDedup(emb, "vec_id", "embedding", cents, 0.35)
      .select(col("id").as("vec_id"), col("cell"), col("keep"))
  }

  private val q59Sql =
    s"""$kmeansAssignSqlCtes,
       |dropped AS (
       |  SELECT DISTINCT gb.vec_id AS id
       |  FROM assign ga
       |  JOIN assign gb ON ga.cell = gb.cell AND ga.vec_id < gb.vec_id
       |  JOIN e a ON a.vec_id = ga.vec_id
       |  JOIN e b ON b.vec_id = gb.vec_id
       |  WHERE $cosSqlAB >= 0.35)
       |SELECT g.vec_id, g.cell, d.id IS NULL AS keep
       |FROM assign g LEFT JOIN dropped d ON d.id = g.vec_id""".stripMargin

  /** The full curation pipeline as one gate (TextAnalysis.curate):
    * quality >= 0.8 + canonical copy per distinct text + language ID +
    * deterministic split, fused over a single tokenization pass with the
    * exact-dedup argmin as the only aggregation. The oracle composes the
    * SAME shared SQL fragments as q26/q27/q51 (langBestSql/langCasesSql,
    * qualityFeatSql/qualityScoreSql, idBucketSql), so the composed
    * pipeline and its pieces can never drift apart. */
  private def q60(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.curate(t(s, dir, "documents"), "doc_id", "text")

  private val q60Sql =
    s"""WITH toks AS (SELECT doc_id, text, $toksSql AS tk FROM documents),
       |f AS (
       |  SELECT doc_id, tk,
       |    $qualityFeatSql
       |  FROM toks),
       |q AS (
       |  SELECT doc_id, tk, CAST(ntok AS BIGINT) AS n_tokens,
       |    $qualityScoreSql AS quality_score
       |  FROM f),
       |wb AS (SELECT doc_id, tk, $langBestSql AS best FROM toks),
       |lang AS (SELECT doc_id, CASE $langCasesSql END AS lang_pred FROM wb),
       |sp AS (SELECT doc_id, $idBucketSql AS b FROM documents),
       |canon AS (SELECT min(doc_id) AS keep_id FROM documents GROUP BY text)
       |SELECT q.doc_id, lang.lang_pred, q.n_tokens, q.quality_score,
       |  CASE WHEN sp.b < 80 THEN 'train'
       |       WHEN sp.b < 90 THEN 'validation'
       |       ELSE 'test' END AS split
       |FROM q
       |JOIN lang ON lang.doc_id = q.doc_id
       |JOIN sp ON sp.doc_id = q.doc_id
       |JOIN canon c ON c.keep_id = q.doc_id
       |WHERE q.quality_score >= 0.8""".stripMargin

  /** Mergeable-sketch rollup: per-(lang, source) HLL vocabulary sketches
    * merged up to per-lang estimates — the persist-then-roll-up pattern
    * (sketch each fine grain once, combine any coarser grain WITHOUT
    * rescanning the corpus). The oracle computes the per-lang estimate
    * DIRECTLY from the raw tokens (q52's replay): because register
    * byte-max is associative/commutative/idempotent, the two-level
    * merge must equal the single-level sketch bit-for-bit — the gate
    * proves mergeability itself, not just the estimator. */
  private def q61(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), col("source"), explode(ws_tokens(col("text"))).as("tok"))
      .groupBy("lang", "source").agg(hll_sketch(col("tok"), 10).as("sk"))
      .groupBy("lang").agg(hll_merge(col("sk"), 10).as("sk"))
      .select(col("lang"), round(hll_estimate(col("sk")), 6).as("est_vocab"))

  private val q61Sql = {
    val vocabSrc = s"(SELECT lang AS g, unnest($toksSql) AS v FROM documents)"
    s"SELECT g AS lang, est AS est_vocab FROM (${hllSql(vocabSrc, 10)})"
  }

  /** Mergeable count-min rollup: per-source token sketches combined by
    * elementwise sum, probed with the top-20 tokens. Counter sums are
    * exact and associative, so the merged sketch must equal q56's
    * one-shot sketch cell-for-cell — the oracle IS q56's direct replay,
    * making the gate a proof of merge associativity (the persist-per-
    * source, roll-up-later pattern) rather than a second estimator
    * test. */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("source"), explode(ws_tokens(col("text"))).as("tok"))
    val merged = toks.groupBy("source").agg(cms_agg(col("tok"), 4, 32).as("sk"))
      .agg(cms_merge(col("sk"), 4, 32).as("sk"))
    val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok").asc).limit(20)
    top.crossJoin(broadcast(merged))
      .select(col("tok").as("token"), col("exact_cnt"),
        cms_query(col("sk"), col("tok"), 4, 32).as("est_cnt"))
  }

  /** Sharded inverted index over the corpus: token -> sorted posting
    * list + document frequency, postings split across 4 doc-id-hash
    * shards so no row can hold more than ~1/4 of the corpus (a
    * stopword's postings would otherwise be one corpus-sized row). The
    * operator API stays list-valued; the GATE posexplodes the postings
    * to one (token, shard, rank, doc_id) row each — scalar cells only. */
  private def q63(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.invertedIndex(t(s, dir, "documents"), "doc_id", "text", nShards = 4)
      .select(col("token"), col("shard"), col("df_shard"),
        posexplode(col("postings")))
      .select(col("token"), col("shard"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col").as("doc_id"), col("df_shard"))

  private val q63Sql =
    s"""WITH tk AS (
       |  SELECT DISTINCT doc_id, token FROM (
       |    SELECT doc_id, unnest($toksSql) AS token FROM documents)),
       |sh AS (
       |  SELECT token, ${md5LongSql("CAST(doc_id AS VARCHAR)")} % 4 AS shard, doc_id
       |  FROM tk)
       |SELECT token, shard,
       |  CAST(row_number() OVER (PARTITION BY token, shard ORDER BY doc_id)
       |    AS BIGINT) AS rank,
       |  doc_id,
       |  CAST(count(*) OVER (PARTITION BY token, shard) AS BIGINT) AS df_shard
       |FROM sh""".stripMargin

  /** Z-order clustering keys for the lineitem table: 16 bits each of
    * orderkey and partkey interleaved into one sortable long. Sorting by
    * this key before a columnar write co-locates rows close in BOTH
    * dimensions, so per-file min/max statistics prune scans filtered on
    * EITHER column — the multi-dim data-skipping layout, emitted here as
    * a deterministic bit-exact expression the oracle replays with plain
    * integer arithmetic. */
  private def q64(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      zorder_key(16, col("l_orderkey"), col("l_partkey")).as("zkey"))

  private val q64Sql =
    """SELECT l_orderkey, l_linenumber, l_partkey,
      |  CAST(list_sum(list_transform(range(0, 16), i ->
      |    (((l_orderkey % 65536) >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
      |    + (((l_partkey % 65536) >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1))
      |  )) AS BIGINT) AS zkey
      |FROM lineitem""".stripMargin

  /** Per-region top-3 orders by price via the partial-combining
    * `top_k_by` aggregate — NOT a region-partitioned row_number window,
    * which with 5 regions would drag a fifth of the orders table onto
    * each of 5 partitions and sort it; the aggregate ships at most 3
    * rows per region per partition. Price is integer cents in the sort
    * key AND the output so ordering ties are engine-exact; the orderkey
    * rides negated so its tiebreak runs ascending under the descending
    * struct order. */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    val joined = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("r_name").as("region"),
        cents(col("o_totalprice")).as("price_cents"), col("o_orderkey"))
    joined.groupBy("region")
      .agg(top_k_by(struct(col("price_cents"), (-col("o_orderkey")).as("neg_okey")), 3)
        .as("top"))
      .select(col("region"), posexplode(col("top")))
      .select(col("region"), (col("pos") + 1).cast("long").as("rank"),
        (-col("col.neg_okey")).as("o_orderkey"), col("col.price_cents"))
  }

  private val q65Sql =
    """WITH j AS (
      |  SELECT r.r_name AS region,
      |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_cents,
      |    o.o_orderkey
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey),
      |rk AS (
      |  SELECT region, price_cents, o_orderkey,
      |    row_number() OVER (PARTITION BY region
      |      ORDER BY price_cents DESC, o_orderkey ASC) AS rank
      |  FROM j)
      |SELECT region, rank, o_orderkey, price_cents FROM rk WHERE rank <= 3""".stripMargin

  /** Approximate per-flag price quantiles from the mergeable equi-width
    * histogram sketch (hist_agg + hist_quantile): one scan, 256 exact
    * Long counters per group across the shuffle instead of every price
    * value (q09's exact percentile is the oracle-exact form; THIS is the
    * 100 TB form — mergeable, bounded state, bin-width-bounded error).
    * The sketch is a pure function of the input multiset, so the oracle
    * replays bins, cumulative walk and within-bin interpolation term for
    * term. */
  private def q66(s: SparkSession, dir: String): DataFrame = {
    val (lo, hi, b) = (0.0, 110000.0, 256)
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("flag"))
      .agg(hist_agg(col("l_extendedprice"), lo, hi, b).as("h"))
      .select(col("flag"),
        round(hist_quantile(col("h"), 0.5, lo, hi, b), 6).as("p50"),
        round(hist_quantile(col("h"), 0.9, lo, hi, b), 6).as("p90"),
        round(hist_quantile(col("h"), 0.99, lo, hi, b), 6).as("p99"))
  }

  private val q66Sql =
    """WITH b AS (
      |  SELECT l_returnflag AS flag,
      |    LEAST(GREATEST(CAST(floor((l_extendedprice - 0.0)
      |      / (110000.0 - 0.0) * 256) AS BIGINT), 0), 255) AS bin
      |  FROM lineitem),
      |c AS (SELECT flag, bin, count(*) AS cnt FROM b GROUP BY flag, bin),
      |n AS (SELECT flag, CAST(sum(cnt) AS DOUBLE) AS n FROM c GROUP BY flag),
      |cum AS (
      |  SELECT flag, bin, cnt,
      |    sum(cnt) OVER (PARTITION BY flag ORDER BY bin) AS cum
      |  FROM c),
      |qs AS (SELECT CAST(q AS DOUBLE) AS q
      |       FROM (VALUES (0.5), (0.9), (0.99)) t(q)),
      |sel AS (
      |  SELECT cum.flag, qs.q, min(cum.bin) AS bin
      |  FROM cum JOIN n ON n.flag = cum.flag CROSS JOIN qs
      |  WHERE CAST(cum.cum AS DOUBLE) >= qs.q * n.n
      |  GROUP BY cum.flag, qs.q),
      |est AS (
      |  SELECT s.flag, s.q,
      |    0.0 + (s.bin + (s.q * n.n - CAST(c2.cum - c2.cnt AS DOUBLE))
      |      / CAST(c2.cnt AS DOUBLE)) * ((110000.0 - 0.0) / 256) AS v
      |  FROM sel s
      |  JOIN n ON n.flag = s.flag
      |  JOIN cum c2 ON c2.flag = s.flag AND c2.bin = s.bin)
      |SELECT flag,
      |  round(MAX(CASE WHEN q = 0.5 THEN v END), 6) AS p50,
      |  round(MAX(CASE WHEN q = 0.9 THEN v END), 6) AS p90,
      |  round(MAX(CASE WHEN q = 0.99 THEN v END), 6) AS p99
      |FROM est GROUP BY flag""".stripMargin

  /** Quality-proportional deterministic sampling (the data-mixing /
    * upsampling primitive): keep a doc iff md5(id)/2^60 < 0.6 * quality.
    * Reproducible across runs/engines/partitionings and NESTED (a higher
    * rate strictly contains a lower-rate sample), unlike rand(); the
    * oracle replays the exact keep decision including the boundary
    * arithmetic. */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    // the AGGREGATED quality variant: the sampling predicate references
    // the score, and with per-row staged arrays predicate pushdown
    // inlined the whole feature projection into the filter — 13
    // tokenizer runs per row (measured); aggregate outputs are real
    // attributes, so the filter reads the score without recompute
    val q = TextAnalysis.qualityFeaturesAgg(
      t(s, dir, "documents"), "doc_id", "text", passthrough = Seq("lang"))
    TextAnalysis.weightedSample(q, "doc_id", col("quality_score") * lit(0.6))
      .select(col("doc_id"), col("lang"), col("quality_score"))
  }

  private val q67Sql =
    s"""WITH toks AS (SELECT doc_id, lang, text, $toksSql AS tk FROM documents),
       |f AS (
       |  SELECT doc_id, lang,
       |    $qualityFeatSql
       |  FROM toks),
       |q AS (SELECT doc_id, lang, $qualityScoreSql AS quality_score FROM f)
       |SELECT doc_id, lang, quality_score FROM q
       |WHERE CAST(${md5LongSql("CAST(doc_id AS VARCHAR)")} AS DOUBLE)
       |  < quality_score * 0.6 * 1152921504606846976.0""".stripMargin

  /** Sequence-packing offsets: 8 id-hash buckets, 512-token training
    * blocks — each doc's start offset and block span under the
    * concat-then-chunk layout (TextAnalysis.packingOffsets). The window
    * is bucket-partitioned; the oracle replays the identical prefix-sum
    * and floor-division arithmetic. */
  private def q68(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packingOffsets(t(s, dir, "documents"), "doc_id", "text", 512, 8)

  private val q68Sql =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS ntok,
       |    ${md5LongSql("CAST(doc_id AS VARCHAR)")} % 8 AS bucket
       |  FROM documents),
       |o AS (
       |  -- DuckDB windowed sum(BIGINT) yields HUGEINT -> pandas float64;
       |  -- cast back so the driver sees int64 like the Spark side
       |  SELECT doc_id, bucket, ntok,
       |    CAST(sum(ntok) OVER (PARTITION BY bucket ORDER BY doc_id) - ntok
       |      AS BIGINT) AS start_tok
       |  FROM d)
       |SELECT doc_id, bucket, ntok, start_tok,
       |  CAST(start_tok // 512 AS BIGINT) AS start_block,
       |  CAST((start_tok + GREATEST(ntok - 1, 0)) // 512 AS BIGINT) AS end_block
       |FROM o""".stripMargin

  /** N-gram Bloom decontamination (the Lee et al. / Dolma eval-overlap
    * scan): the held-out set's distinct 3-gram shingles aggregate to ONE
    * 2 KB Bloom row (~10 bits per shingle, ~1% FP), broadcast onto the
    * training scan; every training doc reports how many shingles test
    * positive. At 100 TB the
    * training side stays a map-only pass — no shingle-keyed shuffle, no
    * join against a giant eval-shingle table (q47's prefix fingerprints
    * catch verbatim inclusions; this catches partial n-gram overlap).
    * False positives are md5-deterministic, so the oracle replays every
    * per-shingle membership decision. */
  private def q69(s: SparkSession, dir: String): DataFrame = {
    val m = 16384 // ~10 bits per held-out shingle -> ~1% FP, discriminating
    val k = 4
    val sh = Dedup.shingleSets(t(s, dir, "documents"), "doc_id", "text", 3,
        extraCols = Seq("source"))
      // a NULL text yields NULL shingles; treat as an empty, clean doc
      // (size/filter over NULL would emit -1/NULL and diverge from the
      // oracle's coalesce)
      .withColumn("shingles", coalesce(col("shingles"), array().cast("array<string>")))
    // the held-out Bloom becomes a PLAN-TIME LITERAL via one bounded
    // m/8-byte driver collect, and the training side explodes ONCE into
    // a per-doc partial-combined aggregate: the previous staged-array
    // form let CollapseProject re-inline the tokenizer into every
    // column that referenced the shingles (4x in the plan), and a
    // crossJoin column would copy the filter bytes into every row
    val bloomBytes = sh.where(col("source") === "src0")
      .select(explode(col("shingles")).as("sg"))
      .agg(bloom_agg(col("sg"), m, k).as("f"))
      .head().getAs[Array[Byte]](0)
    val fLit = lit(bloomBytes)
    sh.where(col("source") =!= "src0")
      .select(col("doc_id"), explode_outer(col("shingles")).as("sg"))
      .groupBy("doc_id")
      .agg(count(col("sg")).as("n_shingles"),
        sum(when(bloom_contains(fLit, col("sg"), m, k), 1L).otherwise(0L))
          .as("n_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        (col("n_hits") > 0).as("contaminated"))
  }

  private val q69Sql = {
    val m = 16384
    val k = 4
    def pos(h: String, i: String) = sketchPosSql(h, i, m)
    s"""WITH tk AS (SELECT doc_id, source, $toksSql AS tk FROM documents),
       |sh AS (SELECT doc_id, source, $shinglesSql AS shingles FROM tk),
       |bits AS (
       |  SELECT DISTINCT ${pos("eh.h", "t.i")} AS b
       |  FROM (SELECT ${md5LongSql("u.s")} AS h
       |        FROM (SELECT unnest(shingles) AS s FROM sh WHERE source = 'src0') u) eh
       |  CROSS JOIN range(0, $k) t(i)),
       |tr AS (
       |  SELECT doc_id, u.i AS si, u.s AS sg FROM (
       |    SELECT doc_id, list_transform(range(1, len(shingles) + 1),
       |      i -> struct_pack(i := i, s := shingles[i])) AS ls
       |    FROM sh WHERE source != 'src0'), unnest(ls) AS t(u)),
       |hp AS (
       |  SELECT doc_id, si, ${pos(md5LongSql("sg"), "j.i")} AS b
       |  FROM tr CROSS JOIN range(0, $k) j(i)),
       |hit AS (
       |  SELECT hp.doc_id, hp.si
       |  FROM hp JOIN bits ON bits.b = hp.b
       |  GROUP BY hp.doc_id, hp.si HAVING count(*) = $k),
       |agg AS (
       |  SELECT s.doc_id, CAST(coalesce(len(s.shingles), 0) AS BIGINT) AS n_shingles,
       |    CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits
       |  FROM (SELECT doc_id, shingles FROM sh WHERE source != 'src0') s
       |  LEFT JOIN (SELECT doc_id, count(*) AS n FROM hit GROUP BY doc_id) h
       |    ON h.doc_id = s.doc_id)
       |SELECT doc_id, n_shingles, n_hits, n_hits > 0 AS contaminated FROM agg""".stripMargin
  }

  /** Gopher-style composite rule filter (TextAnalysis.gopherRules): six
    * public quality rules, one fail-bit each, keep iff none fail — the
    * standard pre-training rule-filter pass as one zero-shuffle
    * projection. */
  private def q70(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherRules(t(s, dir, "documents"), "doc_id", "text")

  private val q70Sql = {
    val allStops = TextAnalysis.LangProfiles.flatMap(_._2)
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH st AS (
       |  SELECT doc_id, text, $toksSql AS tk, split(text, chr(10)) AS ln
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, len(tk) AS ntok, len(ln) AS nline,
       |    CASE WHEN len(tk) > 0
       |      THEN CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
       |           / len(tk) ELSE 0.0 END AS mean_tok_len,
       |    CASE WHEN len(tk) > 0
       |      THEN CAST(len(list_filter(tk, x -> regexp_matches(x, '\\p{L}'))) AS DOUBLE)
       |           / len(tk) ELSE 0.0 END AS alpha_word_frac,
       |    CASE WHEN len(ln) > 0
       |      THEN CAST(len(list_filter(ln, x ->
       |             starts_with(ltrim(x), '-') OR starts_with(ltrim(x), '*'))) AS DOUBLE)
       |           / len(ln) ELSE 0.0 END AS bullet_line_frac,
       |    CASE WHEN len(ln) > 0
       |      THEN CAST(len(list_filter(ln, x -> ends_with(rtrim(x), '...'))) AS DOUBLE)
       |           / len(ln) ELSE 0.0 END AS ellipsis_line_frac,
       |    len(list_distinct(list_filter(tk, x -> list_contains($allStops, x))))
       |      AS n_stop_distinct
       |  FROM st),
       |m AS (
       |  SELECT *,
       |    (CASE WHEN ntok >= 30 AND ntok <= 100000 THEN 0 ELSE 1 END
       |     + CASE WHEN mean_tok_len >= 2 AND mean_tok_len <= 12 THEN 0 ELSE 2 END
       |     + CASE WHEN alpha_word_frac >= 0.6 THEN 0 ELSE 4 END
       |     + CASE WHEN bullet_line_frac <= 0.9 THEN 0 ELSE 8 END
       |     + CASE WHEN ellipsis_line_frac <= 0.3 THEN 0 ELSE 16 END
       |     + CASE WHEN n_stop_distinct >= 2 THEN 0 ELSE 32 END) AS fail_mask
       |  FROM f)
       |SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
       |  round(mean_tok_len, 6) AS mean_tok_len,
       |  round(alpha_word_frac, 6) AS alpha_word_frac,
       |  round(bullet_line_frac, 6) AS bullet_line_frac,
       |  round(ellipsis_line_frac, 6) AS ellipsis_line_frac,
       |  CAST(n_stop_distinct AS BIGINT) AS n_stop_distinct,
       |  CAST(fail_mask AS BIGINT) AS fail_mask,
       |  CAST(CASE WHEN fail_mask = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM m""".stripMargin
  }

  /** Per-label embedding centroids via the partial-combining `vec_sum_q`
    * aggregate: ONE dim-length quantized-Long row per label per
    * partition crosses the shuffle (a posexplode+groupBy(label, dim)
    * formulation would shuffle n*dim scalar rows — 64x more here). The
    * gate posexplodes the summed vector to scalar (label, dim,
    * centroid_micro) cells. The mean stays in exact integer micro-units
    * (floor(sum_q / n)) — a round-to-6 double here lands on exact
    * decimal halves (sum/(n*1e6) quotients terminate) where Spark's
    * BigDecimal HALF_UP and DuckDB's binary rounding disagree; floor of
    * the shared IEEE quotient is unambiguous (1/n granularity dwarfs
    * one ulp). */
  private def q71(s: SparkSession, dir: String): DataFrame = {
    val dim = 64
    // n_vecs counts exactly the rows vec_sum_q accepted (non-null,
    // dim-length, all-finite) so the mean's numerator and denominator
    // can never diverge if malformed vectors appear
    val accepted = col("embedding").isNotNull &&
      size(col("embedding")) === dim &&
      forall(col("embedding"), x =>
        x.isNotNull && !isnan(x) && abs(x) < lit(Float.PositiveInfinity))
    t(s, dir, "embeddings")
      .groupBy(col("label").cast("long").as("label"))
      .agg(vec_sum_q(col("embedding"), dim).as("sq"),
        sum(when(accepted, 1L).otherwise(0L)).as("n_vecs"))
      .select(col("label"), col("n_vecs"), posexplode(col("sq")))
      .select(col("label"), col("n_vecs"),
        (col("pos") + 1).cast("long").as("dim"),
        floor(col("col").cast("double") / col("n_vecs")).cast("long")
          .as("centroid_micro"))
  }

  private val q71Sql =
    """WITH e AS (
      |  SELECT label, unnest(embedding) AS x,
      |    generate_subscripts(embedding, 1) AS dim
      |  FROM embeddings),
      |s AS (
      |  SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
      |    CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sq,
      |    count(*) AS n_vecs
      |  FROM e GROUP BY 1, 2)
      |SELECT label, n_vecs, dim,
      |  CAST(floor(CAST(sq AS DOUBLE) / n_vecs) AS BIGINT) AS centroid_micro
      |FROM s""".stripMargin

  /** Session funnel features on top of gap-sessionization (q30's
    * assignment): per-session event count, distinct types, entry/exit
    * event type (min_by/max_by on the unique (us, event_id) order key —
    * an aggregate, not a second window pass), total value in integer
    * cents, and duration. Sessions are bounded groups, so the exact
    * count-distinct and the argmin/argmax stay cheap at any corpus
    * size; the user_id-partitioned window is the only shuffle. */
  private def q72(s: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val us = expr("ts div 1000")
    val prevUs = lag(us, 1).over(byTime)
    t(s, dir, "events")
      .withColumn("us", us)
      .withColumn("new_sess",
        when(prevUs.isNull || col("us") - prevUs > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_sess")).over(byTime.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        min_by(col("event_type"), struct(col("us"), col("event_id"))).as("first_type"),
        max_by(col("event_type"), struct(col("us"), col("event_id"))).as("last_type"),
        sum(cents(col("value"))).as("value_cents"),
        (max(col("us")) - min(col("us"))).as("duration_us"))
  }

  private val q72Sql =
    """WITH flagged AS (
      |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged),
      |rk AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY user_id, session_id
      |      ORDER BY us, event_id) AS rf,
      |    row_number() OVER (PARTITION BY user_id, session_id
      |      ORDER BY us DESC, event_id DESC) AS rl
      |  FROM sess)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  count(*) AS n_events,
      |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
      |  max(CASE WHEN rf = 1 THEN event_type END) AS first_type,
      |  max(CASE WHEN rl = 1 THEN event_type END) AS last_type,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
      |  CAST(max(us) - min(us) AS BIGINT) AS duration_us
      |FROM rk GROUP BY user_id, session_id""".stripMargin

  /** Source mixing weights (the data-mixing primitive): per-source token
    * totals T_s and alpha-smoothed sampling weights T_s^0.3 / sum —
    * upweights small high-value sources the way multilingual and
    * multi-corpus training mixes do. One partial-aggregated groupBy
    * plus a one-row broadcast total; pow() is floor-quantized to 1e-6
    * integers so the normalization is exact integer division both
    * engines replay. */
  private def q73(s: SparkSession, dir: String): DataFrame = {
    val w = t(s, dir, "documents")
      .groupBy("source")
      .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_tokens"),
        count(lit(1)).as("n_docs"))
      .withColumn("w_q",
        floor(pow(col("n_tokens").cast("double"), 0.3) * 1000000.0).cast("long"))
      // materialize the source-count-sized aggregate once: the total
      // branch would otherwise re-run the whole corpus scan (the two
      // branches prune different columns, so ReuseExchange can't merge
      // them)
      .localCheckpoint()
    val tot = w.agg(sum(col("w_q")).as("tot"))
    w.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("w_q").cast("double") / col("tot"), 6).as("mix_weight"))
  }

  private val q73Sql =
    s"""WITH s AS (
       |  SELECT source, CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens,
       |    count(*) AS n_docs
       |  FROM documents GROUP BY source),
       |w AS (
       |  SELECT *, CAST(floor(pow(CAST(n_tokens AS DOUBLE), 0.3) * 1000000)
       |    AS BIGINT) AS w_q
       |  FROM s),
       |t AS (SELECT CAST(sum(w_q) AS BIGINT) AS tot FROM w)
       |SELECT source, n_docs, n_tokens,
       |  round(CAST(w_q AS DOUBLE) / tot, 6) AS mix_weight
       |FROM w, t""".stripMargin

  /** Near-dup cluster representative selection (keep-best dedup): LSH
    * pairs -> connected components (q40's clusters), then ONE survivor
    * per cluster — the highest-quality doc, doc_id-ascending tiebreak —
    * via the max_by aggregate (never a cluster-partitioned row_number
    * window). The output is the dedup decision a corpus build actually
    * applies: cluster, size, kept doc, its quality. */
  private def q74(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.5)
    val clusters = Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")),
        docs.select(col("doc_id")))
      .select(col("id").as("doc_id"), col("cluster_id"))
    val qual = TextAnalysis.qualityFeatures(docs, "doc_id", "text")
      .select(col("doc_id"), col("quality_score"))
    clusters.join(qual, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"),
        max_by(col("doc_id"), struct(col("quality_score"), (-col("doc_id")).as("nid")))
          .as("keep_doc_id"),
        max(col("quality_score")).as("best_quality"))
  }

  private val q74Sql =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL
       |  SELECT id_b AS a, id_a AS b FROM pairs),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS lbl FROM documents
       |  UNION
       |  SELECT e.b AS id, r.lbl FROM reach r JOIN edges e ON e.a = r.id),
       |cl AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
       |tq AS (SELECT doc_id, text, $toksSql AS tk FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    $qualityFeatSql
       |  FROM tq),
       |q AS (SELECT doc_id, $qualityScoreSql AS quality_score FROM f),
       |j AS (
       |  SELECT cl.cluster_id, cl.doc_id, q.quality_score
       |  FROM cl JOIN q ON q.doc_id = cl.doc_id),
       |rk AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY quality_score DESC, doc_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY cluster_id) AS csize,
       |    max(quality_score) OVER (PARTITION BY cluster_id) AS bq
       |  FROM j)
       |SELECT cluster_id, CAST(csize AS BIGINT) AS cluster_size,
       |  doc_id AS keep_doc_id, round(bq, 6) AS best_quality
       |FROM rk WHERE rn = 1""".stripMargin

  /** Duplicate-n-gram fraction via a corpus count-min sketch (the
    * Lee et al. "Deduplicating Training Data..." memorization-risk
    * signal, sketch-shaped): the corpus's per-doc-distinct 3-gram
    * shingles build ONE depth*width CMS row (each shingle counted once
    * per containing doc, so a counter estimates document frequency);
    * broadcast back, every doc reports what fraction of its shingles
    * the sketch says appear in >= 2 docs. At 100 TB both passes are
    * map-only corpus scans with a 2 MB broadcast between them — no
    * shingle-keyed shuffle, no self-join (q47/q69 catch cross-corpus
    * overlap; this scores WITHIN-corpus duplication per doc). CMS error
    * is over-count-only, so dup_frac is an upper bound; counters and
    * hash positions are md5-deterministic, replayed cell by cell by the
    * oracle. */
  private def q75(s: SparkSession, dir: String): DataFrame = {
    val (d, w) = (4, 65536)
    val sh = Dedup.shingleSets(t(s, dir, "documents"), "doc_id", "text", 3)
      // NULL text -> empty, clean doc (q69's convention)
      .withColumn("shingles", coalesce(col("shingles"), array().cast("array<string>")))
    // explode ONCE and aggregate per doc: referencing the staged shingle
    // array from several output columns lets CollapseProject re-inline
    // the tokenizer into every reference (measured: tokenize appeared 4x
    // in the plan and the probe cost ~3x the build). The aggregate's
    // outputs are real attributes, so dup_frac cannot re-trigger it; the
    // doc-keyed exchange carries two longs per doc, map-side combined.
    val occ = sh.select(col("doc_id"), explode_outer(col("shingles")).as("sg"))
    // the sketch becomes a PLAN-TIME LITERAL via one bounded d*w-long
    // driver collect (the q48 trained-codebook pattern) — a crossJoin
    // column instead would make the join copy the 2 MB array into EVERY
    // per-shingle row (measured: 40x slower than the whole build)
    val sk = occ.where(col("sg").isNotNull)
      .agg(cms_agg(col("sg"), d, w).as("sk"))
      .head().getSeq[Long](0)
    val skLit = typedLit(sk)
    occ.groupBy("doc_id")
      .agg(count(col("sg")).as("n_shingles"),
        sum(when(cms_query(skLit, col("sg"), d, w) >= 2, 1L).otherwise(0L))
          .as("n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        round(when(col("n_shingles") > 0,
          col("n_dup").cast("double") / col("n_shingles")).otherwise(lit(0.0)), 6)
          .as("dup_frac"))
  }

  private val q75Sql = {
    val d = 4
    val w = 65536
    def pos(h: String, j: String) = sketchPosSql(h, j, w)
    s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |sh AS (SELECT doc_id, coalesce($shinglesSql, []) AS shingles FROM tk),
       |occ AS (SELECT doc_id, unnest(shingles) AS sg FROM sh),
       |oh AS (SELECT sg, ${md5LongSql("sg")} AS h FROM occ),
       |cells AS (
       |  SELECT j.i AS row_j, ${pos("oh.h", "j.i")} AS pos, count(*) AS cnt
       |  FROM oh CROSS JOIN range(0, $d) j(i)
       |  GROUP BY 1, 2),
       |ph AS (SELECT DISTINCT sg, ${md5LongSql("sg")} AS h FROM occ),
       |est AS (
       |  SELECT p.sg, min(c.cnt) AS est
       |  FROM ph p CROSS JOIN range(0, $d) j(i)
       |  JOIN cells c ON c.row_j = j.i AND c.pos = ${pos("p.h", "j.i")}
       |  GROUP BY p.sg),
       |agg AS (
       |  SELECT o.doc_id, count(*) AS n_dup
       |  FROM occ o JOIN est e ON e.sg = o.sg
       |  WHERE e.est >= 2 GROUP BY o.doc_id)
       |SELECT s.doc_id,
       |  CAST(len(s.shingles) AS BIGINT) AS n_shingles,
       |  CAST(coalesce(a.n_dup, 0) AS BIGINT) AS n_dup,
       |  round(CASE WHEN len(s.shingles) > 0
       |    THEN CAST(coalesce(a.n_dup, 0) AS DOUBLE) / len(s.shingles)
       |    ELSE 0.0 END, 6) AS dup_frac
       |FROM sh s LEFT JOIN agg a ON a.doc_id = s.doc_id""".stripMargin
  }

  /** Sliding token-window chunking (TextAnalysis.chunkOffsets, the RAG /
    * long-context chunker): 64-token windows, 16-token overlap, per-chunk
    * token span + 60-bit chunk-text hash. Zero shuffle — one projection
    * and a posexplode; the oracle replays the start arithmetic and the
    * joined-slice hash token for token. */
  private def q76(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkOffsets(t(s, dir, "documents"), "doc_id", "text",
      chunkTokens = 64, overlap = 16)

  private val q76Sql = {
    val (c, o, stride) = (64, 16, 48)
    s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |d AS (SELECT doc_id, tk, len(tk) AS ntok FROM tk WHERE len(tk) > 0),
       |st AS (
       |  SELECT doc_id, tk, ntok,
       |    list_filter(range(0, ntok, $stride),
       |      s -> s = 0 OR s < ntok - $o) AS starts
       |  FROM d),
       |e AS (
       |  SELECT doc_id, tk, ntok, u.i AS chunk_idx, u.s AS start_tok FROM (
       |    SELECT doc_id, tk, ntok,
       |      list_transform(range(1, len(starts) + 1),
       |        i -> struct_pack(i := i, s := starts[i])) AS ls
       |    FROM st), unnest(ls) AS t(u))
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(start_tok AS BIGINT) AS start_tok,
       |  CAST(least(start_tok + $c, ntok) AS BIGINT) AS end_tok,
       |  ${md5LongSql(
            s"array_to_string(tk[start_tok + 1 : least(start_tok + $c, ntok)], ' ')")}
       |    AS chunk_hash
       |FROM e""".stripMargin
  }

  /** BM25 relevance scoring of the corpus against a fixed term set — the
    * classic IR ranking function (Robertson-Sparck Jones; k1=1.2,
    * b=0.75) as two corpus passes: one aggregated stats row (N, total
    * length, per-term document frequencies) broadcast onto a zero-shuffle
    * scoring scan. Scores stay exact across engines by quantizing the
    * only libm call (ln -> floor(x*1e6) micro-idf) and flooring each
    * term's contribution to integer micro-units before the fixed-width
    * sum — Long addition commutes, so partitioning cannot change the
    * score. */
  private def q77(s: SparkSession, dir: String): DataFrame = {
    val terms = Bm25Terms
    // ONE tokenize -> explode -> per-doc aggregate per pass (the stats
    // and scoring passes are two scans by design): the previous wide
    // per-row form referenced the token array from dl and every tf
    // column, and CollapseProject re-inlined the tokenizer into each —
    // 12 runs in the plan (measured)
    val tk = t(s, dir, "documents")
      .select(col("doc_id"), explode_outer(ws_tokens(col("text"))).as("tok"))
    val base = tk.groupBy("doc_id")
      .agg(count(col("tok")).as("dl"),
        terms.zipWithIndex.map { case (term, i) =>
          sum(when(col("tok") === term, 1L).otherwise(0L)).as(s"tf_$i")
        }: _*)
    val stats = base.agg(count(lit(1)).as("n"),
      sum(col("dl")).as("sumdl") +: terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i")): _*)
    // contribution math single-sourced with the index server (q103)
    val contribs = terms.indices.map(i =>
      TextAnalysis.bm25ContribMicro(col(s"tf_$i"), col(s"df_$i"),
        col("n"), col("dl"), col("sumdl")))
    base.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"),
        contribs.reduce(_ + _).as("score_micro"))
  }

  private val Bm25Terms = Seq("the", "data", "of", "and", "in")

  /** The q77 BM25 replay as reusable WITH-clause innards
    * (`base(doc_id, dl, tf_i)` + `st(n, sumdl, df_i)`) and the
    * contribution-sum expression — single-sourced so the corpus scorer
    * (q77), the index server (q103), the segmented server (q105) and
    * the hybrid fuser (q104) replay the identical math. `src` is the
    * corpus relation the tokenize CTE reads (a snapshot-fixture CTE for
    * the incremental gates). */
  private def bm25CtesFrom(src: String): String = {
    val tfs = Bm25Terms.zipWithIndex.map { case (term, i) =>
      s"coalesce(len(list_filter(tk, x -> x = '$term')), 0) AS tf_$i"
    }.mkString(",\n    ")
    val dfs = Bm25Terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i")
      .mkString(",\n    ")
    s"""tk AS (SELECT doc_id, $toksSql AS tk FROM $src),
       |base AS (
       |  SELECT doc_id, CAST(coalesce(len(tk), 0) AS BIGINT) AS dl,
       |    $tfs
       |  FROM tk),
       |st AS (
       |  SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sumdl,
       |    $dfs
       |  FROM base)""".stripMargin
  }

  private val bm25Ctes = bm25CtesFrom("documents")

  private val bm25ContribsSql = Bm25Terms.indices.map { i =>
    s"""floor(CAST(floor(ln((n - df_$i + 0.5) / (df_$i + 0.5) + 1) * 1000000.0) AS BIGINT)
       |    * (tf_$i * 2.2 / (tf_$i + 1.2 * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))))"""
      .stripMargin
  }.mkString("\n    + ")

  private val q77Sql =
    s"""WITH $bm25Ctes
       |SELECT doc_id, dl,
       |  CAST($bm25ContribsSql AS BIGINT) AS score_micro
       |FROM base, st""".stripMargin

  /** Trailing-window anomaly scoring of hourly event-type counts: each
    * (type, hour) bucket's count is z-scored against the previous 24
    * buckets' mean/std. The corpus-sized work is the bucketing groupBy
    * (map-side combined); the window then runs over the tiny
    * (types x hours) table, partitioned by type. All window sums are
    * exact integers, the divisions and the IEEE-correctly-rounded sqrt
    * replay identically in SQL, and the trailing means terminate well
    * inside 6 decimals (n_prev's prime factors are only 2 and 5), so
    * round(6) has no half-way ties. */
  private def q78(s: SparkSession, dir: String): DataFrame = {
    val b = t(s, dir, "events")
      .select(col("event_type"), expr("ts div 1000").as("us"))
      .withColumn("bucket", expr("us div 3600000000"))
      .groupBy("event_type", "bucket").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("bucket").rowsBetween(-24, -1)
    val mean = col("s1").cast("double") / col("n_prev")
    val variance = col("s2").cast("double") / col("n_prev") - mean * mean
    b.withColumn("n_prev", count(col("cnt")).over(w))
      .withColumn("s1", sum(col("cnt")).over(w))
      .withColumn("s2", sum(col("cnt") * col("cnt")).over(w))
      .where(col("n_prev") >= 6)
      .select(col("event_type"), col("bucket"), col("cnt"),
        round(mean, 6).as("trail_mean"),
        when(variance > 0,
          round((col("cnt") - mean) / sqrt(variance), 6)).as("z_score"))
  }

  private val q78Sql =
    """WITH b AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, bucket, cnt,
      |    count(cnt) OVER fr AS n_prev,
      |    CAST(sum(cnt) OVER fr AS BIGINT) AS s1,
      |    CAST(sum(cnt * cnt) OVER fr AS BIGINT) AS s2
      |  FROM b
      |  WINDOW fr AS (PARTITION BY event_type ORDER BY bucket
      |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, CAST(bucket AS BIGINT) AS bucket, cnt,
      |  round(CAST(s1 AS DOUBLE) / n_prev, 6) AS trail_mean,
      |  CASE WHEN (CAST(s2 AS DOUBLE) / n_prev
      |             - (CAST(s1 AS DOUBLE) / n_prev) * (CAST(s1 AS DOUBLE) / n_prev)) > 0
      |    THEN round((cnt - CAST(s1 AS DOUBLE) / n_prev)
      |      / sqrt(CAST(s2 AS DOUBLE) / n_prev
      |             - (CAST(s1 AS DOUBLE) / n_prev) * (CAST(s1 AS DOUBLE) / n_prev)), 6)
      |    ELSE NULL END AS z_score
      |FROM w WHERE n_prev >= 6""".stripMargin

  /** Skew-salted join (SkewJoin.saltedJoin): lineitem x part revenue per
    * brand with each part key's lineitem rows spread across 16 salt
    * sub-partitions. The salt is a row-id hash (NOT the key — that would
    * re-concentrate hot keys), the part side replicates 16x (still tiny
    * or broadcastable), and the result multiset is salt-invariant — the
    * oracle proves it by replaying the PLAIN join. This is the manual
    * skew-split for plans AQE can't rewrite. */
  private def q79(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    SkewJoin.saltedJoin(li, p, col("l_partkey"), col("p_partkey"),
        md5_long(concat_ws(",", col("l_orderkey"), col("l_linenumber"))), 16)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
        sum(cents(col("l_extendedprice"))).as("revenue_cents"))
  }

  private val q79Sql =
    """SELECT p.p_brand,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS revenue_cents
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |GROUP BY p.p_brand""".stripMargin

  /** Per-source quality-percentile normalization via the mergeable
    * histogram sketch: per-source score histograms (one aggregation
    * pass, 64 exact counters each) collapse to a plan-time Map literal
    * (bounded sources x nBins driver collect, the q48/q75 pattern), and
    * a second map-only pass scores every doc's percentile with
    * [[graft.functions.HistCdf]] — the sketch-based replacement for a
    * source-partitioned percent_rank window, which would sort every
    * source's full corpus slice. Scores come from the AGGREGATED quality
    * variant (real attributes — no tokenizer re-inlining), and the
    * percentile is floored to integer milli-units (no round-half
    * ambiguity). Bin-width-bounded error, exact within a bin's linear
    * interpolation; the oracle replays bin, cumulative count and
    * interpolation term for term. */
  private def q80(s: SparkSession, dir: String): DataFrame = {
    val (lo, hi, nb) = (0.0, 1.0, 64)
    val scored = TextAnalysis.qualityFeaturesAgg(
      t(s, dir, "documents"), "doc_id", "text", passthrough = Seq("source"))
      .select(col("doc_id"), col("source"), col("quality_score"))
    val hists = scored.groupBy("source")
      .agg(hist_agg(col("quality_score"), lo, hi, nb).as("h"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val histLit = typedLit(hists)
    scored.select(col("doc_id"), col("source"), col("quality_score"),
      floor(hist_cdf(element_at(histLit, col("source")), col("quality_score"),
        lo, hi, nb) * 1000).cast("long").as("pct_milli"))
  }

  private val q80Sql =
    s"""WITH tq AS (SELECT doc_id, source, text, $toksSql AS tk FROM documents),
       |f AS (
       |  SELECT doc_id, source,
       |    $qualityFeatSql
       |  FROM tq),
       |q AS (SELECT doc_id, source, $qualityScoreSql AS quality_score FROM f),
       |b AS (
       |  SELECT doc_id, source, quality_score,
       |    CAST(least(floor(quality_score * 64), 63) AS INT) AS bin
       |  FROM q),
       |c AS (SELECT source, bin, count(*) AS cnt FROM b GROUP BY source, bin),
       |w AS (
       |  SELECT source, bin, cnt,
       |    CAST(coalesce(sum(cnt) OVER (PARTITION BY source ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
       |  FROM c)
       |SELECT b.doc_id, b.source, b.quality_score,
       |  CAST(floor((CAST(w.cum AS DOUBLE)
       |    + least(greatest(b.quality_score * 64 - b.bin, 0), 1) * w.cnt)
       |    / w.n * 1000) AS BIGINT) AS pct_milli
       |FROM b JOIN w ON w.source = b.source AND w.bin = b.bin""".stripMargin

  /** Normalization-aware exact dedup (TextAnalysis.normalizedDedup):
    * ASCII case-fold + punctuation strip + whitespace collapse (all
    * codegen'd built-ins — translate instead of lower() because engines
    * disagree on Unicode edge-case lowering), then canonical id = the
    * smallest doc id per normalized-text hash. Catches the trivially
    * different copies plain exact dedup misses. One hash-keyed
    * partial-aggregated groupBy; NULL text hashes like empty text on
    * both engines (md5 of '' via coalesce). */
  private def q81(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.normalizedDedup(
      t(s, dir, "documents").withColumn("text", coalesce(col("text"), lit(""))),
      "doc_id", "text")

  private val q81Sql = {
    val norm =
      """trim(regexp_replace(regexp_replace(
        |    translate(coalesce(text, ''), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
        |      'abcdefghijklmnopqrstuvwxyz'),
        |    '[^\pL\pN ]', '', 'g'), '\s+', ' ', 'g'))""".stripMargin
    s"""WITH n AS (
       |  SELECT doc_id, ${md5LongSql(norm)} AS norm_hash,
       |    CAST(length($norm) AS BIGINT) AS norm_len
       |  FROM documents),
       |c AS (SELECT norm_hash, min(doc_id) AS canon_id FROM n GROUP BY norm_hash)
       |SELECT n.doc_id, n.norm_hash, n.norm_len, c.canon_id,
       |  n.doc_id = c.canon_id AS is_canonical
       |FROM n JOIN c ON c.norm_hash = n.norm_hash""".stripMargin
  }

  /** Hashing-trick document vectors (TextAnalysis.hashingVectorizer):
    * 64-bucket term-count features with no vocabulary pass — sparse
    * (doc_id, dim, cnt) rows from one explode + one partial-aggregated
    * groupBy. The model-free featurization that feeds the ANN stack. */
  private def q82(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.hashingVectorizer(t(s, dir, "documents"), "doc_id", "text", 64)

  private val q82Sql =
    s"""SELECT doc_id, ${md5LongSql("tok")} % 64 AS dim, count(*) AS cnt
       |FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
       |GROUP BY 1, 2""".stripMargin

  /** Sketch-based corpus-overlap estimation: |A ∩ B| ≈ |A| + |B| - |A ∪ B|
    * from three HLL sketches built in ONE scan (each doc's text feeds its
    * own source's sketch AND the union sketch via a 2-element explode).
    * At 100 TB this answers "how much do two corpora share" with zero
    * joins — three 2^p-byte buffers cross the shuffle, nothing else. The
    * sketches are bit-reproducible (q52's machinery), so even the
    * estimator's inclusion-exclusion arithmetic replays exactly; the
    * overlap is emitted UNROUNDED because its inputs are already
    * identical doubles on both engines. */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    val tagged = t(s, dir, "documents")
      .where(col("source").isin("src0", "src1") && col("text").isNotNull)
      .select(explode(
        when(col("source") === "src0", array(lit("a"), lit("u")))
          .otherwise(array(lit("b"), lit("u")))).as("g"),
        col("text"))
    tagged.groupBy("g")
      .agg(round(hll_distinct(col("text"), 10), 6).as("est"))
      .agg(max(when(col("g") === "a", col("est"))).as("est_a"),
        max(when(col("g") === "b", col("est"))).as("est_b"),
        max(when(col("g") === "u", col("est"))).as("est_union"))
      .select(col("est_a"), col("est_b"), col("est_union"),
        (col("est_a") + col("est_b") - col("est_union")).as("est_overlap"))
  }

  private val q83Sql = {
    val src =
      """(SELECT t.g AS g, text AS v FROM documents,
        |  unnest(CASE WHEN source = 'src0' THEN ['a', 'u'] ELSE ['b', 'u'] END) AS t(g)
        |  WHERE source IN ('src0', 'src1') AND text IS NOT NULL)""".stripMargin
    s"""SELECT
       |  max(CASE WHEN g = 'a' THEN est END) AS est_a,
       |  max(CASE WHEN g = 'b' THEN est END) AS est_b,
       |  max(CASE WHEN g = 'u' THEN est END) AS est_union,
       |  max(CASE WHEN g = 'a' THEN est END) + max(CASE WHEN g = 'b' THEN est END)
       |    - max(CASE WHEN g = 'u' THEN est END) AS est_overlap
       |FROM (${hllSql(src, 10)})""".stripMargin
  }

  /** One-scan table profiling with sketches (the dataset-card / data-
    * quality primitive): per profiled column, null count, total length
    * and an HLL distinct estimate — ALL columns in ONE aggregation pass,
    * each distinct count a 1 KB mergeable buffer instead of a
    * per-column distinct shuffle. At 100 TB profiling costs exactly one
    * scan regardless of how many columns ride along. Long-format output
    * via a post-aggregate explode (aggregate outputs are attributes —
    * nothing recomputes). */
  private def q84(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("text", "lang", "source")
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
      round(hll_distinct(col(c), 10), 6).as(s"nd_$c"),
      sum(coalesce(length(col(c)).cast("long"), lit(0L))).as(s"len_$c")))
    t(s, dir, "documents")
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
      .select(col("n_rows"), explode(array(cols.map(c =>
        struct(lit(c).as("column_name"), col(s"nn_$c").as("n_null"),
          col(s"nd_$c").as("est_distinct"), col(s"len_$c").as("total_len"))): _*))
        .as("p"))
      .select(col("p.column_name"), col("n_rows"), col("p.n_null"),
        col("p.est_distinct"), col("p.total_len"))
  }

  private val q84Sql = {
    val cols = Seq("text", "lang", "source")
    val prof = cols.map(c =>
      s"""SELECT '$c' AS column_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(sum(coalesce(length($c), 0)) AS BIGINT) AS total_len
         |FROM documents""".stripMargin).mkString("\nUNION ALL\n")
    val hllSrc = cols.map(c =>
      s"SELECT '$c' AS g, $c AS v FROM documents WHERE $c IS NOT NULL")
      .mkString("(", " UNION ALL ", ")")
    s"""WITH prof AS (
       |$prof),
       |e AS (${hllSql(hllSrc, 10)})
       |SELECT p.column_name, p.n_rows, p.n_null, e.est AS est_distinct,
       |  p.total_len
       |FROM prof p JOIN e ON e.g = p.column_name""".stripMargin
  }

  /** Content-based image near-dup dedup via dHash perceptual fingerprints
    * (Dedup.dhashPairs + connectedComponents): the multimodal analogue of
    * q19/q20 — recompressed/re-noised frame copies land within a few
    * fingerprint bits while their byte hashes differ. Fixture: 16x18
    * integer gray matrices derived deterministically from the part table,
    * four images per base scene plus per-image +/-1 pixel noise, so true
    * near-dup groups exist with known structure. Candidate pairs come
    * from the banded-Hamming equi-join (never all-pairs) with 16-bit
    * bands — the at-scale configuration: 8-bit buckets measured 36 s at
    * 20k images (quadratic bucket blowup, ~6M random-collision pairs)
    * where 16-bit buckets keep collisions proportional; the +/-1 noise
    * keeps true pairs within the 4-band guaranteed-recall radius.
    * Survivors are labelled by connected components. The oracle replays
    * pixel generation, 2x2 block means (integer-valued pixels ->
    * order-exact double sums), the byte-band folds, the 16-bit band
    * packing, bit_count(xor) Hamming, and the transitive closure, cell
    * by cell. */
  private def q85Fixture(s: SparkSession, dir: String): DataFrame = {
    val (h, w) = (16, 18)
    // Fixture STAGED to parquet (stageFixture, once per JVM): the gate
    // measures the dedup operator over a columnar matrix scan — the
    // production shape — not the md5 pixel synthesis, which dominated
    // the r7 bench line (4-5 s of deterministic hashing vs ~1 s of
    // operator). Inside the staging job: spread rows BEFORE the
    // per-row matrix synthesis (the part scan is one tiny parquet
    // split, and without the exchange all the pixel hashing runs on
    // one core — measured: flat 17 s at 4 and at 32 cores; explicit
    // numPartitions so AQE doesn't coalesce the small shuffle).
    // Pixel synthesis at 6 bytes per md5 (w = 18 = 3 hash groups x 6
    // shift lanes, unrolled at plan time so the shift distance is a
    // literal): 96 md5 calls per image instead of the 576 of the naive
    // one-hash-per-pixel form. The oracle replays the identical
    // shift/mod expansion, so exactness is untouched. Shared-base
    // images still share every px byte; per-image noise stays {-1,0,1}.
    stageFixture(s, "q85_mat", dir) {
      val imgs = t(s, dir, "part").select(col("p_partkey").as("img_id"),
        (col("p_partkey") - pmod(col("p_partkey"), lit(4L))).as("base"))
        .repartition(64, col("img_id"))
      def hashRows(tag: String, idc: Column) =
        transform(sequence(lit(0), lit(h - 1)), i =>
          transform(sequence(lit(0), lit(2)), g =>
            md5_long(concat(lit(tag), idc.cast("string"), lit("_"),
              i.cast("string"), lit("_"), g.cast("string")))))
      val mat = zip_with(hashRows("px", col("base")), hashRows("nz", col("img_id")),
        (prow, nrow) => flatten(zip_with(prow, nrow, (hp, hn) =>
          array((0 until 6).map { k =>
            (pmod(shiftright(hp, 8 * k), lit(256L)) +
              pmod(shiftright(hn, 8 * k), lit(3L)) - lit(1L)).cast("double")
          }: _*))))
      imgs.withColumn("matrix", mat)
    }.repartition(64, col("img_id")) // 64 tiny files read as 1 split
  }

  private def q85(s: SparkSession, dir: String): DataFrame = {
    val withMat = q85Fixture(s, dir)
    val pairs = Dedup.dhashPairs(withMat, "img_id", "matrix", maxHamming = 6,
      bandBytes = 2)
      .localCheckpoint() // three consumers below; derive the pairs once
    val nb = pairs.select(col("id_a").as("img_id"), col("hamming"))
      .union(pairs.select(col("id_b").as("img_id"), col("hamming")))
      .groupBy("img_id")
      .agg(count(lit(1)).as("n_dup_neighbors"), min("hamming").as("min_hamming"))
    Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")),
        withMat.select(col("img_id")))
      .select(col("id").as("img_id"), col("cluster_id"))
      .join(nb, Seq("img_id"), "left")
      .select(col("img_id"), col("cluster_id"),
        (col("img_id") === col("cluster_id")).as("is_canonical"),
        coalesce(col("n_dup_neighbors"), lit(0L)).as("n_dup_neighbors"),
        col("min_hamming"))
  }

  /** The q85 dHash fixture -> banded-LSH pair -> connected-components
    * CTE chain (imgs ... cc), shared verbatim by q85 and the q345
    * image-text pair composition. No WITH prefix. */
  private val dhashCcCtes: String = {
    val pxBase = md5LongSql("'px' || base || '_' || i || '_' || g")
    val pxNoise = md5LongSql("'nz' || img || '_' || i || '_' || g")
    s"""imgs AS (
       |  SELECT p_partkey AS img, p_partkey - p_partkey % 4 AS base FROM part),
       |hx AS (
       |  SELECT img, i, g, $pxBase AS hp, $pxNoise AS hn
       |  FROM imgs, range(16) t(i), range(3) v(g)),
       |px AS (
       |  SELECT img, i, g * 6 + k AS j,
       |    (hp >> (8 * k)) % 256 + (hn >> (8 * k)) % 3 - 1 AS p
       |  FROM hx, range(6) w(k)),
       |bm AS (
       |  SELECT img, (i * 8) // 16 AS r, (j * 9) // 18 AS c,
       |    CAST(sum(p) AS DOUBLE) / count(*) AS m
       |  FROM px GROUP BY 1, 2, 3),
       |bands AS (
       |  SELECT a.img, a.r AS band,
       |    CAST(sum(CASE WHEN a.m > b.m THEN 1 << CAST(7 - a.c AS INT)
       |             ELSE 0 END) AS BIGINT) AS band_val
       |  FROM bm a JOIN bm b ON b.img = a.img AND b.r = a.r AND b.c = a.c + 1
       |  GROUP BY 1, 2),
       |b16 AS (
       |  SELECT img, band // 2 AS band,
       |    CAST(sum(CASE WHEN band % 2 = 0 THEN band_val * 256
       |             ELSE band_val END) AS BIGINT) AS band_val
       |  FROM bands GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT l.img AS id_a, r.img AS id_b
       |  FROM b16 l JOIN b16 r
       |    ON r.band = l.band AND r.band_val = l.band_val AND l.img < r.img),
       |pairs AS (
       |  SELECT * FROM (
       |    SELECT c.id_a, c.id_b,
       |      CAST(sum(bit_count(xor(a.band_val, b.band_val))) AS BIGINT) AS hamming
       |    FROM cand c
       |    JOIN bands a ON a.img = c.id_a
       |    JOIN bands b ON b.img = c.id_b AND b.band = a.band
       |    GROUP BY 1, 2)
       |  WHERE hamming <= 6),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT img AS id, img AS lbl FROM imgs
       |  UNION
       |  SELECT e.b AS id, r.lbl FROM reach r JOIN edges e ON e.a = r.id),
       |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)""".stripMargin
  }

  private val q85Sql =
    s"""WITH RECURSIVE $dhashCcCtes,
       |nb AS (
       |  SELECT img_id, CAST(count(*) AS BIGINT) AS n_dup_neighbors,
       |    min(hamming) AS min_hamming
       |  FROM (SELECT id_a AS img_id, hamming FROM pairs
       |        UNION ALL SELECT id_b, hamming FROM pairs)
       |  GROUP BY 1)
       |SELECT cc.id AS img_id, cc.cluster_id, cc.id = cc.cluster_id AS is_canonical,
       |  CAST(coalesce(nb.n_dup_neighbors, 0) AS BIGINT) AS n_dup_neighbors,
       |  nb.min_hamming
       |FROM cc LEFT JOIN nb ON nb.img_id = cc.id""".stripMargin

  /** Exact-substring (position-level) dedup signal
    * (TextAnalysis.substringDedupSpans): sliding 16-token windows at
    * stride 8, fingerprinted in one chunk_spans pass; the globally first
    * (doc_id, start) occurrence owns each fingerprint and later
    * occurrences count as duplicated spans — dedup BELOW the line
    * granularity of q55. The oracle replays the window schedule
    * (including the truncated last window and the dropped trailing
    * overlap-only starts), the md5 fingerprints, and the
    * row_number-over-(doc,start) ownership. */
  private def q86(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.substringDedupSpans(t(s, dir, "documents"), "doc_id", "text",
      windowTokens = 16, overlap = 8)

  /** The q86 span-flagging replay as reusable WITH-clause innards:
    * `marked(doc_id, start, e, rn)` — rn = 1 is the globally-first
    * occurrence of each window fingerprint. q86 aggregates the flags;
    * q102 cuts the flagged spans. Single-sourced so the two oracles can
    * never drift. Also exposes `nn(doc_id, toks, n)`. */
  /** The window-schedule / fingerprint / ownership replay over any CTE
    * providing (doc_id, toks) — q86/q102 bind it to tokenized
    * `documents`; q346 binds it to the planted recall fixture. */
  private def substringSpanCtesFrom(tkSrc: String): String = {
    val h = md5LongSql("array_to_string(toks[i * 8 + 1 : i * 8 + 16], ' ')")
    s"""nn AS (SELECT doc_id, toks, len(toks) AS n FROM $tkSrc),
       |spans AS (
       |  SELECT doc_id, u.start AS start, u.e AS e, u.h AS h FROM (
       |    SELECT doc_id, n,
       |      list_transform(
       |        range(0, CAST(ceil(CAST(coalesce(n, 0) AS DOUBLE) / 8) AS BIGINT)),
       |        i -> struct_pack(start := i * 8, e := least(i * 8 + 16, n),
       |               h := $h)) AS ls
       |    FROM nn), unnest(ls) AS t(u)
       |  WHERE u.start < n AND (u.start = 0 OR u.start < n - 8)),
       |marked AS (
       |  SELECT doc_id, start, e,
       |    row_number() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn
       |  FROM spans)""".stripMargin
  }

  private val substringSpanCtes =
    s"""tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |${substringSpanCtesFrom("tk")}""".stripMargin

  private val q86Sql =
    s"""WITH $substringSpanCtes,
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       |    CAST(sum(CASE WHEN rn > 1 THEN e - start ELSE 0 END) AS BIGINT)
       |      AS dup_span_tokens,
       |    min(CASE WHEN rn > 1 THEN start END) AS first_dup_start
       |  FROM marked GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.n_spans, 0) AS n_spans,
       |  coalesce(a.n_dup_spans, 0) AS n_dup_spans,
       |  coalesce(a.dup_span_tokens, 0) AS dup_span_tokens,
       |  a.first_dup_start
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin

  /** URL canonicalization + domain curation (TextAnalysis.urlCurate):
    * deterministic messy fixture URLs (mixed-case scheme/host, optional
    * www., default port, tracking params, fragments, trailing slashes)
    * synthesized from doc_id/source; the canonicalizer must collapse the
    * cosmetic variation so URL-level dedup groups form and the domain
    * blocklist fires. Both engines run the same regex/string op
    * sequence, so every canonical URL, domain, and keep bit replays. */
  private def q87(s: SparkSession, dir: String): DataFrame = {
    val m = (k: Int) => pmod(col("doc_id"), lit(k))
    val url = concat(
      element_at(array(lit("http://"), lit("https://"), lit("HTTPS://")),
        (m(3) + 1).cast("int")),
      when(m(2) === 0, lit("WWW.")).otherwise(lit("")),
      col("source"), lit(".Example"), m(5).cast("string"), lit(".COM"),
      when(m(5) === 0, lit(":443")).otherwise(lit("")),
      lit("/Articles/"), m(5).cast("string"),
      when(m(4) === 0, lit("/")).otherwise(lit("")),
      when(m(3) === 0, concat(lit("?utm_source=feed&id="), m(5).cast("string")))
        .when(m(3) === 1, concat(lit("?id="), m(5).cast("string")))
        .otherwise(lit("")),
      when(m(6) === 0, lit("#s2")).otherwise(lit("")))
    val withUrl = t(s, dir, "documents").select(col("doc_id"), col("source"))
      .withColumn("url", url)
    TextAnalysis.urlCurate(withUrl, "doc_id", "url",
      Seq("example0.com", "example3.com"))
  }

  private val q87Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |    (CASE doc_id % 3 WHEN 0 THEN 'http://' WHEN 1 THEN 'https://'
      |      ELSE 'HTTPS://' END)
      |    || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
      |    || source || '.Example' || (doc_id % 5) || '.COM'
      |    || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
      |    || '/Articles/' || (doc_id % 5)
      |    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
      |    || (CASE doc_id % 3
      |        WHEN 0 THEN '?utm_source=feed&id=' || (doc_id % 5)
      |        WHEN 1 THEN '?id=' || (doc_id % 5) ELSE '' END)
      |    || (CASE WHEN doc_id % 6 = 0 THEN '#s2' ELSE '' END) AS url
      |  FROM documents),
      |s1 AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(url, '(?i)^https?://', ''), '#.*$', '') AS u
      |  FROM d),
      |s2 AS (SELECT doc_id, u, lower(regexp_extract(u, '^[^/?]*')) AS hostport FROM s1),
      |s3 AS (
      |  SELECT doc_id, substr(u, length(hostport) + 1) AS rest,
      |    regexp_replace(regexp_replace(hostport, '^www\.', ''), ':(80|443)$', '') AS host
      |  FROM s2),
      |s4 AS (
      |  SELECT doc_id, host,
      |    regexp_replace(split_part(rest, '?', 1), '/+$', '') AS path,
      |    CASE WHEN strpos(rest, '?') > 0 THEN substr(rest, strpos(rest, '?') + 1)
      |         ELSE '' END AS q
      |  FROM s3),
      |s5 AS (
      |  SELECT doc_id, host, path,
      |    array_to_string(list_filter(string_split(q, '&'),
      |      p -> p != '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)=')),
      |      '&') AS cleanq
      |  FROM s4),
      |s6 AS (
      |  SELECT doc_id,
      |    host || path
      |      || (CASE WHEN cleanq != '' THEN '?' || cleanq ELSE '' END) AS canon_url,
      |    regexp_extract(host, '[^.]+\.[^.]+$') AS domain
      |  FROM s5),
      |c AS (SELECT canon_url, min(doc_id) AS canon_doc FROM s6 GROUP BY canon_url)
      |SELECT s6.doc_id, s6.canon_url, s6.domain,
      |  s6.doc_id = c.canon_doc AS is_canonical,
      |  s6.domain IN ('example0.com', 'example3.com') AS blocked,
      |  s6.doc_id = c.canon_doc
      |    AND s6.domain NOT IN ('example0.com', 'example3.com') AS kept
      |FROM s6 JOIN c ON c.canon_url = s6.canon_url""".stripMargin

  /** Multi-eval-set decontamination (Sketches.multiBloomDecontaminate):
    * q69 generalized from one held-out set to three, with ONE training
    * scan probing three plan-literal Blooms — per-doc per-set overlap
    * counts, the eval-hygiene pass of a real pretraining build. The
    * oracle is literally three q69 replays (one Bloom bit-set per eval
    * source, shared training shingle-position CTE) UNION ALLed — proving
    * the one-scan form equals K separate runs, false positives
    * included. */
  private def q88(s: SparkSession, dir: String): DataFrame = {
    val (m, k) = (16384, 4)
    val sets = Seq("src0", "src1", "src2")
    val sh = Dedup.shingleSets(t(s, dir, "documents"), "doc_id", "text", 3,
        extraCols = Seq("source"))
      .withColumn("shingles", coalesce(col("shingles"), array().cast("array<string>")))
    val heldOut = sh.where(col("source").isin(sets: _*))
      .select(col("source").as("set_name"), col("shingles"))
    val train = sh.where(!col("source").isin(sets: _*))
      .select(col("doc_id"), col("shingles"))
    Sketches.multiBloomDecontaminate(heldOut, train, m, k)
  }

  private val deconM = 16384
  private val deconK = 4
  private val deconSetNames = Seq("src0", "src1", "src2")
  private val deconSetsList = deconSetNames.map(s => s"'$s'").mkString(", ")

  /** Shared decontamination CTE chain (q88, q345): tokenize -> shingle
    * -> per-train-doc bloom probes (tr/hp) -> per-eval-set bit sets
    * (bits_srcN). No WITH prefix; callers append their readout. */
  private val deconCtes: String = {
    val (m, k) = (deconM, deconK)
    val sets = deconSetNames
    def pos(h: String, i: String) = sketchPosSql(h, i, m)
    val setsList = deconSetsList
    val bitsCtes = sets.map(s =>
      s"""bits_$s AS (
         |  SELECT DISTINCT ${pos("eh.h", "t.i")} AS b
         |  FROM (SELECT ${md5LongSql("u.s")} AS h
         |        FROM (SELECT unnest(shingles) AS s FROM sh WHERE source = '$s') u) eh
         |  CROSS JOIN range(0, $k) t(i))""".stripMargin).mkString(",\n")
    s"""tk AS (SELECT doc_id, source, $toksSql AS tk FROM documents),
       |sh AS (SELECT doc_id, source, $shinglesSql AS shingles FROM tk),
       |tr AS (
       |  SELECT doc_id, u.i AS si, u.s AS sg FROM (
       |    SELECT doc_id, list_transform(range(1, len(shingles) + 1),
       |      i -> struct_pack(i := i, s := shingles[i])) AS ls
       |    FROM sh WHERE source NOT IN ($setsList)), unnest(ls) AS t(u)),
       |hp AS (
       |  SELECT doc_id, si, ${pos(md5LongSql("sg"), "j.i")} AS b
       |  FROM tr CROSS JOIN range(0, $k) j(i)),
       |$bitsCtes""".stripMargin
  }

  private val q88Sql = {
    val (m, k) = (deconM, deconK)
    val sets = deconSetNames
    val setsList = deconSetsList
    val perSet = sets.map(s =>
      s"""SELECT t.doc_id, '$s' AS eval_set,
         |  CAST(coalesce(len(t.shingles), 0) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
         |  coalesce(h.n, 0) > 0 AS contaminated
         |FROM (SELECT doc_id, shingles FROM sh WHERE source NOT IN ($setsList)) t
         |LEFT JOIN (
         |  SELECT g.doc_id, count(*) AS n FROM (
         |    SELECT hp.doc_id, hp.si
         |    FROM hp JOIN bits_$s ON bits_$s.b = hp.b
         |    GROUP BY hp.doc_id, hp.si HAVING count(*) = $k) g
         |  GROUP BY g.doc_id) h ON h.doc_id = t.doc_id""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH $deconCtes
       |$perSet""".stripMargin
  }

  /** Dolma-style cross-document paragraph dedup
    * (TextAnalysis.dropCrossDocParagraphs): paragraphs (10-token chunks
    * of the single-line synthetic texts) seen in two or more distinct
    * docs are dropped from every doc — boilerplate removal, vs q55's
    * keep-first line dedup. The min!=max cross-doc test, the semi-join
    * mark and the in-order reassembly all replay in the oracle. */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val chunked = docs
      .select(col("doc_id"), posexplode(ws_tokens(col("text"))).as(Seq("p", "tok")))
      .groupBy(col("doc_id"), floor(col("p") / 10).as("lp"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("p"), col("tok")))),
        x => x("tok")), " ").as("para"))
      .groupBy("doc_id")
      .agg(transform(array_sort(collect_list(struct(col("lp"), col("para")))),
        x => x("para")).as("paras"))
    val withParas = docs.select(col("doc_id")).join(chunked, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("paras"), array().cast("array<string>")).as("paras"))
    TextAnalysis.dropCrossDocParagraphs(withParas, "doc_id", "paras")
  }

  private val q89Sql =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |paras AS (
       |  SELECT doc_id, u.p AS pos, u.para FROM (
       |    SELECT doc_id,
       |      list_transform(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT)),
       |        i -> struct_pack(p := i,
       |               para := array_to_string(toks[(i * 10 + 1):(i * 10 + 10)], ' '))) AS ls
       |    FROM tk), unnest(ls) AS t(u)),
       |ph AS (SELECT doc_id, pos, para, ${md5LongSql("para")} AS h FROM paras),
       |dup AS (
       |  SELECT h FROM (
       |    SELECT h, min(doc_id) AS mn, max(doc_id) AS mx FROM ph GROUP BY h)
       |  WHERE mn != mx),
       |m AS (
       |  SELECT ph.doc_id, ph.pos, ph.para, d.h IS NOT NULL AS isdup
       |  FROM ph LEFT JOIN dup d ON d.h = ph.h),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
       |    CAST(sum(CASE WHEN isdup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |    string_agg(CASE WHEN NOT isdup THEN para END, chr(10) ORDER BY pos)
       |      AS kept_text
       |  FROM m GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.n_paras, 0) AS n_paras,
       |  coalesce(a.n_dropped, 0) AS n_dropped,
       |  coalesce(a.kept_text, '') AS kept_text
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin

  /** Classifier-based quality filter (TextAnalysis.classifierQualityFilter):
    * a linear scorer over exact-ratio features thresholded at zero — the
    * DCLM / FineWeb-Edu model-based gate with fixture weights (real
    * serving path, offline training, the §2.9 stub-weights stance). No
    * libm in the score: features are IEEE-exact ratios, the score is a
    * left-associated multiply-add floored to micro-units, replayed
    * operation for operation by the oracle. */
  private def q90(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.classifierQualityFilter(t(s, dir, "documents"), "doc_id", "text",
      bias = -0.7, wMeanLen = 0.05, wAlpha = 0.4, wStop = 1.0, wDigit = -3.0)

  /** Shared CTE chain computing the q90 classifier's per-doc features
    * and raw score `z` — consumed by q90 (scores + keep flags) and q130
    * (AUC of the same scores). */
  private val classifierCtesBody = {
    val allStops = TextAnalysis.LangProfiles.flatMap(_._2)
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""st AS (SELECT doc_id, text, $toksSql AS tk FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    CASE WHEN len(tk) > 0
       |      THEN CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
       |           / len(tk) ELSE 0.0 END AS mean_tok_len,
       |    CASE WHEN len(tk) > 0
       |      THEN CAST(len(list_filter(tk, x -> regexp_matches(x, '\\p{L}'))) AS DOUBLE)
       |           / len(tk) ELSE 0.0 END AS alpha_frac,
       |    CASE WHEN len(tk) > 0
       |      THEN CAST(len(list_filter(tk, x -> list_contains($allStops, x))) AS DOUBLE)
       |           / len(tk) ELSE 0.0 END AS stop_frac,
       |    CASE WHEN length(text) > 0
       |      THEN CAST(length(text)
       |             - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
       |           / length(text) ELSE 0.0 END AS digit_frac
       |  FROM st),
       |z AS (
       |  SELECT doc_id, mean_tok_len, alpha_frac, stop_frac, digit_frac,
       |    (((((-0.7) + (0.05) * mean_tok_len) + (0.4) * alpha_frac)
       |      + (1.0) * stop_frac) + (-3.0) * digit_frac) AS z
       |  FROM f)""".stripMargin
  }

  private val classifierCtes = "WITH " + classifierCtesBody

  private val q90Sql = classifierCtes +
    """
      |SELECT doc_id, round(mean_tok_len, 6) AS mean_tok_len,
      |  round(alpha_frac, 6) AS alpha_frac, round(stop_frac, 6) AS stop_frac,
      |  round(digit_frac, 6) AS digit_frac,
      |  CAST(floor(z * 1000000.0) AS BIGINT) AS score_micro,
      |  floor(z * 1000000.0) >= 0 AS keep
      |FROM z""".stripMargin

  /** DSIR importance sampling (TextAnalysis.dsirSample): per-token
    * quantized log-likelihood ratio of the src0-target unigram LM vs the
    * corpus LM (add-one smoothing, q58's integer micro-unit pattern),
    * per-doc SUMMED ratio (the paper's log importance weight), and an
    * exp-free log-space Bernoulli — keep iff ln(u)·1e6 < summed ratio
    * with u the deterministic md5 uniform. The oracle replays the
    * smoothing, the quantized logs, and the sampling inequality. */
  private def q91(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dsirSample(t(s, dir, "documents"), "doc_id", "text",
      col("source") === "src0")

  private val q91Sql = {
    val lnu = s"""CAST(round(ln(CAST(${md5LongSql("CAST(doc_id AS VARCHAR)")}
                 | + 1 AS DOUBLE) / 1152921504606846976.0) * 1000000.0) AS BIGINT)"""
      .stripMargin.replace("\n", "")
    s"""WITH tk AS (
       |  SELECT doc_id, source = 'src0' AS is_t, unnest($toksSql) AS tok
       |  FROM documents),
       |f AS (
       |  SELECT tok, count(*) AS c_all,
       |    sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t
       |  FROM tk GROUP BY tok),
       |tot AS (SELECT count(*) AS V, sum(c_all) AS N, sum(c_t) AS Nt FROM f),
       |lr AS (
       |  SELECT tok,
       |    CAST(round(ln(CAST(c_t + 1 AS DOUBLE) / (Nt + V)) * 1000000.0) AS BIGINT)
       |    - CAST(round(ln(CAST(c_all + 1 AS DOUBLE) / (N + V)) * 1000000.0) AS BIGINT)
       |      AS lr_q
       |  FROM f, tot),
       |sc AS (
       |  SELECT doc_id, count(*) AS n_tokens, sum(lr_q) AS slr
       |  FROM tk JOIN lr USING (tok) GROUP BY doc_id),
       |base AS (
       |  SELECT d.doc_id, CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
       |    CAST(coalesce(sc.slr, 0) AS BIGINT) AS log_importance_micro
       |  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id)
       |SELECT doc_id, n_tokens, log_importance_micro,
       |  $lnu < log_importance_micro AS sampled
       |FROM base""".stripMargin
  }

  /** Audio perceptual-fingerprint near-dup dedup
    * (Multimodal.audioEnergyMatrix + Dedup.dhashPairs +
    * connectedComponents): the audio analogue of q85 — re-gained /
    * re-noised clip copies land within a few fingerprint bits while
    * their byte hashes differ. Fixture: 288-sample integer waveforms
    * derived deterministically from the customer table, four clips per
    * base recording plus per-clip +/-1 sample noise, so true near-dup
    * groups exist with known structure. The 8x9 energy grid IS the
    * dHash grid (downsampling is the identity), candidate pairs come
    * from the 16-bit banded-Hamming equi-join (never all-pairs, q85's
    * at-scale band width), survivors are labelled by connected
    * components. The oracle replays sample generation, per-segment
    * energies (integer sums surfaced as doubles), the band folds,
    * bit_count(xor) Hamming, and the transitive closure. */
  private def q92(s: SparkSession, dir: String): DataFrame = {
    val (frames, segs, segLen) = (8, 9, 4)
    val n = frames * segs * segLen
    // Waveform fixture STAGED to parquet (stageFixture, once per JVM —
    // the q85 discipline): the gate measures energy-matrix + dedup over
    // a columnar samples scan, not the md5 synthesis that dominated the
    // r7 bench line. Inside the staging job: spread rows BEFORE the
    // per-row synthesis (a tiny parquet table is one input split);
    // 6 samples per md5 (t = g*6 + k, shift lanes unrolled at plan
    // time): 96 md5 per clip instead of 576; the oracle replays the
    // identical shift/mod expansion. The parquet read also materializes
    // the waveform as an attribute (the old localCheckpoint's job): the
    // energy matrix reads it 288 times via element_at, and a staged
    // expression would be re-inlined (and re-hashed) once per access.
    val wave = stageFixture(s, "q92_wave", dir) {
      val auds = t(s, dir, "customer").select(col("c_custkey").as("aud_id"),
          (col("c_custkey") - pmod(col("c_custkey"), lit(4L))).as("base"))
        .repartition(64, col("aud_id"))
      def hashArr(tag: String, idc: Column) =
        transform(sequence(lit(0), lit(n / 6 - 1)), g =>
          md5_long(concat(lit(tag), idc.cast("string"), lit("_"),
            g.cast("string"))))
      val sampleExpr = flatten(zip_with(
        hashArr("au", col("base")), hashArr("nz", col("aud_id")),
        (hp, hn) => array((0 until 6).map { k =>
          pmod(shiftright(hp, 8 * k), lit(256L)) - 128L +
            pmod(shiftright(hn, 8 * k), lit(3L)) - 1L
        }: _*)))
      auds.withColumn("samples", sampleExpr)
    }
    // fan the one-split read back out BEFORE the 288-element_at energy
    // matrix (the old repartition sat on top of it and left the map on
    // one core); operators.Spread is the shared conditional form
    val spread = graft.operators.Spread.fanOut(wave)
    val withMat = spread.withColumn("matrix",
      Multimodal.audioEnergyMatrix(col("samples"), frames, segs, segLen))
    val pairs = Dedup.dhashPairs(withMat, "aud_id", "matrix", maxHamming = 6,
      bandBytes = 2).localCheckpoint() // three consumers below
    val nb = pairs.select(col("id_a").as("aud_id"), col("hamming"))
      .union(pairs.select(col("id_b").as("aud_id"), col("hamming")))
      .groupBy("aud_id")
      .agg(count(lit(1)).as("n_dup_neighbors"), min("hamming").as("min_hamming"))
    Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")),
        wave.select(col("aud_id")))
      .select(col("id").as("aud_id"), col("cluster_id"))
      .join(nb, Seq("aud_id"), "left")
      .select(col("aud_id"), col("cluster_id"),
        (col("aud_id") === col("cluster_id")).as("is_canonical"),
        coalesce(col("n_dup_neighbors"), lit(0L)).as("n_dup_neighbors"),
        col("min_hamming"))
  }

  private val q92Sql = {
    val sBase = md5LongSql("'au' || base || '_' || g")
    val sNoise = md5LongSql("'nz' || aud || '_' || g")
    s"""WITH RECURSIVE auds AS (
       |  SELECT c_custkey AS aud, c_custkey - c_custkey % 4 AS base FROM customer),
       |hx AS (
       |  SELECT aud, g, $sBase AS hp, $sNoise AS hn
       |  FROM auds, range(48) rng(g)),
       |sm AS (
       |  SELECT aud, g * 6 + k AS t,
       |    (hp >> (8 * k)) % 256 - 128 + (hn >> (8 * k)) % 3 - 1 AS v
       |  FROM hx, range(6) w(k)),
       |en AS (
       |  SELECT aud, t // 36 AS r, (t % 36) // 4 AS c,
       |    CAST(sum(v * v) AS DOUBLE) AS m
       |  FROM sm GROUP BY 1, 2, 3),
       |bands AS (
       |  SELECT a.aud, a.r AS band,
       |    CAST(sum(CASE WHEN a.m > b.m THEN 1 << CAST(7 - a.c AS INT)
       |             ELSE 0 END) AS BIGINT) AS band_val
       |  FROM en a JOIN en b ON b.aud = a.aud AND b.r = a.r AND b.c = a.c + 1
       |  GROUP BY 1, 2),
       |b16 AS (
       |  SELECT aud, band // 2 AS band,
       |    CAST(sum(CASE WHEN band % 2 = 0 THEN band_val * 256
       |             ELSE band_val END) AS BIGINT) AS band_val
       |  FROM bands GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT l.aud AS id_a, r.aud AS id_b
       |  FROM b16 l JOIN b16 r
       |    ON r.band = l.band AND r.band_val = l.band_val AND l.aud < r.aud),
       |pairs AS (
       |  SELECT * FROM (
       |    SELECT c.id_a, c.id_b,
       |      CAST(sum(bit_count(xor(a.band_val, b.band_val))) AS BIGINT) AS hamming
       |    FROM cand c
       |    JOIN bands a ON a.aud = c.id_a
       |    JOIN bands b ON b.aud = c.id_b AND b.band = a.band
       |    GROUP BY 1, 2)
       |  WHERE hamming <= 6),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT aud AS id, aud AS lbl FROM auds
       |  UNION
       |  SELECT e.b AS id, r2.lbl FROM reach r2 JOIN edges e ON e.a = r2.id),
       |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
       |nb AS (
       |  SELECT aud_id, CAST(count(*) AS BIGINT) AS n_dup_neighbors,
       |    min(hamming) AS min_hamming
       |  FROM (SELECT id_a AS aud_id, hamming FROM pairs
       |        UNION ALL SELECT id_b, hamming FROM pairs)
       |  GROUP BY 1)
       |SELECT cc.id AS aud_id, cc.cluster_id, cc.id = cc.cluster_id AS is_canonical,
       |  CAST(coalesce(nb.n_dup_neighbors, 0) AS BIGINT) AS n_dup_neighbors,
       |  nb.min_hamming
       |FROM cc LEFT JOIN nb ON nb.aud_id = cc.id""".stripMargin
  }

  /** Product-quantization ANN top-k (Similarity.pqTopK): the corpus
    * compressed to M=4 codes per vector against deterministic per-
    * subspace codebooks (subvectors of the 8 lowest-id vectors, the q39
    * stance), queries scored by asymmetric distance computation — M
    * table lookups per candidate. Per-subspace squared-L2 distances are
    * sequential folds floor-quantized to micro-units before the M-way
    * sum, so the oracle replays encode (argmin, earliest index on
    * ties), the lookup join, and the integer sum exactly. */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.pqTopK(emb, emb.where(col("vec_id") < 10), k = 5, m = 4, ks = 8)
      .select(col("query_id"), col("cand_id"), col("adc_micro"),
        col("rank").cast("long").as("rank"))
  }

  private val q93Sql = {
    // squared-L2 of subvector `sub` of x to centroid list c, sequential
    // left fold in dimension order (0.0 + t1 == t1: seedless list_reduce
    // matches Spark's 0.0-seeded fold)
    def subL2(x: String, c: String, sub: String) =
      s"""list_reduce(list_transform(range(1, 17),
         |      i -> (CAST($x[$sub*16 + i] AS DOUBLE) - CAST($c[i] AS DOUBLE))
         |         * (CAST($x[$sub*16 + i] AS DOUBLE) - CAST($c[i] AS DOUBLE))),
         |      (p, q) -> p + q)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |seed AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding AS sv
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
       |cb AS (
       |  SELECT s.sub, seed.j,
       |    seed.sv[(s.sub*16 + 1):(s.sub*16 + 16)] AS cv
       |  FROM seed, range(4) s(sub)),
       |vd AS (
       |  SELECT e.vec_id, cb.sub, cb.j,
       |    ${subL2("e.v", "cb.cv", "cb.sub")} AS d
       |  FROM e CROSS JOIN cb),
       |codes AS (
       |  SELECT vec_id, sub, j AS code FROM (
       |    SELECT vec_id, sub, j,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, j ASC) AS rn
       |    FROM vd) WHERE rn = 1),
       |qd AS (SELECT vec_id AS query_id, sub, j, d FROM vd WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS cand_id,
       |    CAST(sum(CAST(floor(q.d * 1000000.0) AS BIGINT)) AS BIGINT) AS adc_micro
       |  FROM codes c
       |  JOIN qd q ON q.sub = c.sub AND q.j = c.code AND q.query_id != c.vec_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, cand_id, adc_micro,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_micro ASC, cand_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, cand_id, adc_micro, rank FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** MinHash-LSH fuzzy decontamination (Dedup.fuzzyDecontaminate):
    * training docs (source != src0) near-duplicating any eval doc
    * (source = src0) at Jaccard >= 0.5 — the paraphrase-tolerant
    * complement of q69/q88's exact n-gram decontamination. The oracle
    * reuses the q19 pair replay verbatim and orients the surviving
    * pairs train→eval. */
  private def q94(s: SparkSession, dir: String): DataFrame =
    Dedup.fuzzyDecontaminate(t(s, dir, "documents"), "doc_id", "text",
      col("source") === "src0")

  private val q94Sql =
    s"""WITH $minhashPairsCtes,
       |oriented AS (
       |  SELECT id_a AS t_id, id_b AS e_id, jaccard FROM pairs
       |  UNION ALL SELECT id_b, id_a, jaccard FROM pairs),
       |crossed AS (
       |  SELECT o.t_id, count(*) AS n_eval_matches, max(o.jaccard) AS mj
       |  FROM oriented o
       |  JOIN documents dt ON dt.doc_id = o.t_id AND dt.source != 'src0'
       |  JOIN documents de ON de.doc_id = o.e_id AND de.source = 'src0'
       |  GROUP BY o.t_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(c.n_eval_matches, 0) AS BIGINT) AS n_eval_matches,
       |  round(coalesce(c.mj, 0.0), 6) AS max_jaccard,
       |  coalesce(c.n_eval_matches, 0) > 0 AS contaminated
       |FROM documents d LEFT JOIN crossed c ON c.t_id = d.doc_id
       |WHERE d.source != 'src0'""".stripMargin

  /** Corpus snapshot delta (Snapshot.delta): classify every doc across
    * two corpus versions as added / removed / changed / unchanged via
    * one (id, content-hash) full-outer join. Fixture: prev = docs with
    * id % 7 != 0, cur = docs with id % 5 != 0 where every 11th doc's
    * text gained a suffix — so all four statuses occur. The oracle
    * replays the hash (md5-60bit twin) and the null-safe compare. */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val prev = docs.where(pmod(col("doc_id"), lit(7L)) =!= 0)
    val cur = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(11L)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
    Snapshot.delta(prev, cur, "doc_id", "text")
  }

  private val q95Sql =
    s"""WITH p AS (
       |  SELECT doc_id AS id, ${md5LongSql("text")} AS h_prev, true AS in_prev
       |  FROM documents WHERE doc_id % 7 != 0),
       |c0 AS (
       |  SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
       |                      ELSE text END AS text
       |  FROM documents WHERE doc_id % 5 != 0),
       |c AS (SELECT doc_id AS id, ${md5LongSql("text")} AS h_cur, true AS in_cur
       |      FROM c0)
       |SELECT coalesce(p.id, c.id) AS doc_id,
       |  CASE WHEN p.in_prev IS NULL THEN 'added'
       |       WHEN c.in_cur IS NULL THEN 'removed'
       |       WHEN p.h_prev IS NOT DISTINCT FROM c.h_cur THEN 'unchanged'
       |       ELSE 'changed' END AS status
       |FROM p FULL OUTER JOIN c ON c.id = p.id""".stripMargin

  /** Unicode-script profile (TextAnalysis.scriptProfile): per-doc
    * Latin/Cyrillic/Han/digit character counts, integral-div Latin
    * micro-fraction, and dominant script with a fixed tie order. */
  private def q96(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.scriptProfile(t(s, dir, "documents"), "doc_id", "text")

  private val q96Sql =
    """WITH f AS (
      |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(length(text)
      |      - length(regexp_replace(text, '\p{Latin}', '', 'g')) AS BIGINT) AS n_latin,
      |    CAST(length(text)
      |      - length(regexp_replace(text, '\p{Cyrillic}', '', 'g')) AS BIGINT) AS n_cyrillic,
      |    CAST(length(text)
      |      - length(regexp_replace(text, '\p{Han}', '', 'g')) AS BIGINT) AS n_han,
      |    CAST(length(text)
      |      - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit
      |  FROM documents)
      |SELECT doc_id, n_chars, n_latin, n_cyrillic, n_han, n_digit,
      |  CAST(CASE WHEN n_chars > 0 THEN (n_latin * 1000000) // n_chars
      |            ELSE 0 END AS BIGINT) AS latin_micro,
      |  CASE WHEN n_chars IS NULL THEN NULL
      |       WHEN n_latin >= n_cyrillic AND n_latin >= n_han
      |            AND n_latin >= n_digit THEN 'latin'
      |       WHEN n_cyrillic >= n_han AND n_cyrillic >= n_digit THEN 'cyrillic'
      |       WHEN n_han >= n_digit THEN 'han'
      |       ELSE 'digit' END AS dominant
      |FROM f""".stripMargin

  /** IVFADC through the persisted PQ index (Similarity.buildPqIndex →
    * loadPqIndex → ivfPqTopK) at FULL probe (nProbe = nCells): the index
    * stores plain-vector PQ codes partitioned by coarse cell, so probing
    * every cell must reproduce the flat-scan ADC result EXACTLY — the
    * oracle is q93's, verbatim (single-sourced so the two can never
    * drift). The restricted-probe path (partition pruning at the scan)
    * is pinned by ScaleSpec. The index builds into a fresh temp dir per
    * run — the build-once/query-many round trip (write, load, serve) is
    * part of what this gate exercises. */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val idxDir = TempDirs.create("graft_pqindex").toString
    Similarity.buildPqIndex(emb, idxDir, m = 4, ks = 8, nCells = 8)
    val idx = Similarity.loadPqIndex(s, idxDir)
    Similarity.ivfPqTopK(idx, emb.where(col("vec_id") < 10), k = 5, nProbe = 8)
      .select(col("query_id"), col("cand_id"), col("adc_micro"),
        col("rank").cast("long").as("rank"))
  }

  /** Incremental MinHash index maintenance (Snapshot.updateSignatureIndex)
    * on the q95 snapshot fixture: the previous snapshot's banded
    * signature index, updated through Snapshot.delta — re-fingerprinting
    * ONLY added/changed docs, retiring removed ones, keeping unchanged
    * rows untouched — must equal the FULL REBUILD on the current
    * snapshot, because signatures are deterministic. The oracle IS that
    * full rebuild, replayed in SQL over the current fixture (the q18
    * signature replay, banded and string-joined); band signatures ride
    * as comma-joined strings (scalar cells — the driver comparator
    * rejects list cells). */
  private def q98(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val prev = docs.where(pmod(col("doc_id"), lit(7L)) =!= 0)
    val cur = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(11L)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
    val prevIdx = Dedup.bandedSignatures(prev, "doc_id", "text",
      shingleN = 3, bands = 8, rowsPerBand = 2)
    val d = Snapshot.delta(prev, cur, "doc_id", "text")
    Snapshot.updateSignatureIndex(prevIdx, d, cur, "doc_id", "text",
        shingleN = 3, bands = 8, rowsPerBand = 2)
      .select(col("doc_id"), col("band").cast("long").as("band"),
        array_join(transform(col("band_sig"), x => x.cast("string")), ",")
          .as("band_sig"))
  }

  private val q98Sql = {
    val perms = minhashPerms(MinhashPermCount).zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}, ${b})" }.mkString(", ")
    s"""WITH c0 AS (
       |  SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
       |                      ELSE text END AS text
       |  FROM documents WHERE doc_id % 5 != 0),
       |toks AS (SELECT doc_id, $toksSql AS tk FROM c0),
       |sh AS (SELECT doc_id, $shinglesSql AS shingles FROM toks),
       |perms(perm, pa, pb) AS (VALUES $perms),
       |sigs AS (
       |  SELECT sh.doc_id, p.perm,
       |    list_min(list_transform(sh.shingles,
       |      x -> (p.pa * (${md5LongSql("x")} % 2147483647) + p.pb) % 2147483647)) AS sig
       |  FROM sh CROSS JOIN perms p
       |  WHERE len(sh.shingles) > 0)
       |SELECT doc_id, CAST(perm // 2 AS BIGINT) AS band,
       |  string_agg(sig, ',' ORDER BY perm) AS band_sig
       |FROM sigs GROUP BY doc_id, perm // 2""".stripMargin
  }

  /** Bigram-LM perplexity filter (TextAnalysis.ccnetPerplexityFilter):
    * the CCNet gate with a corpus-trained add-one bigram LM. Per-bigram
    * negative log-probs quantize to integer micro-nats at the
    * vocabulary table (ln once per distinct bigram — the q58/q91
    * discipline), doc scores are integer sums, the mean is an integral
    * division; the oracle replays the count tables, the single rounded
    * ln, and the threshold compare. Threshold 3.39 nats/bigram sits at
    * the fixture's median, so keeps and drops both occur. */
  private def q99(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ccnetPerplexityFilter(t(s, dir, "documents"), "doc_id", "text",
      thresholdMicro = 3390000L)

  private val q99Sql =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |bgx AS (
       |  SELECT doc_id, unnest([concat_ws(' ', tk[i], tk[i+1])
       |                         for i in range(1, len(tk))]) AS bg
       |  FROM toks),
       |c12 AS (SELECT bg, count(*) AS c12 FROM bgx GROUP BY bg),
       |pre AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
       |        FROM c12 GROUP BY 1),
       |vv AS (SELECT count(DISTINCT split_part(bg, ' ', 2)) AS V FROM c12),
       |nll AS (
       |  SELECT c12.bg,
       |    -CAST(round(ln(CAST(c12.c12 + 1 AS DOUBLE) / (pre.c1 + vv.V))
       |                * 1000000.0) AS BIGINT) AS nll_micro
       |  FROM c12 JOIN pre ON split_part(c12.bg, ' ', 1) = pre.w1
       |  CROSS JOIN vv),
       |sc AS (
       |  SELECT b.doc_id, count(*) AS n_bigrams,
       |    CAST(sum(n.nll_micro) AS BIGINT) AS nll_sum
       |  FROM bgx b JOIN nll n ON n.bg = b.bg GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  CAST(coalesce(sc.nll_sum, 0) AS BIGINT) AS nll_sum_micro,
       |  CAST(CASE WHEN sc.n_bigrams > 0 THEN sc.nll_sum // sc.n_bigrams
       |            ELSE 0 END AS BIGINT) AS nll_avg_micro,
       |  coalesce(sc.n_bigrams, 0) > 0 AND
       |    (CASE WHEN sc.n_bigrams > 0 THEN sc.nll_sum // sc.n_bigrams
       |          ELSE 0 END) <= 3390000 AS keep
       |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""".stripMargin

  /** Incremental PQ-index maintenance (Similarity.updatePqIndex) on an
    * embedding-snapshot delta: prev = vectors with id % 7 != 0 (the
    * index is built from these — its centroids and codebooks stay
    * FIXED through the delta), cur = vectors with id % 5 != 0 where
    * every 11th vector shifted by +0.25 per coordinate. The update
    * re-encodes only added/changed vectors (delta via the quantized
    * vector fingerprint), retires removed ones, keeps unchanged rows;
    * the oracle is the FULL re-encode of cur against prev's seeds —
    * coarse argmax-cosine assign (q39's replay) + per-subspace argmin
    * codes (q93's replay) — which deterministic encoding makes
    * identical. */
  private def q100(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val prev = emb.where(pmod(col("vec_id"), lit(7L)) =!= 0)
    val cur = emb.where(pmod(col("vec_id"), lit(5L)) =!= 0)
      .select(col("vec_id"),
        when(pmod(col("vec_id"), lit(11L)) === 0,
          transform(col("embedding"), x => x + lit(0.25f)))
          .otherwise(col("embedding")).as("embedding"))
    val idxDir = TempDirs.create("graft_pqdelta").toString
    Similarity.buildPqIndex(prev, idxDir, m = 4, ks = 8, nCells = 8)
    val idx = Similarity.loadPqIndex(s, idxDir)
    val d = Snapshot.delta(prev, cur, "vec_id",
      Snapshot.vecFingerprint(col("embedding")))
    Similarity.updatePqIndex(idx, d, cur)
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        array_join(transform(col("codes"), x => x.cast("string")), ",")
          .as("codes"))
  }

  private val q100Sql = {
    def dot(x: String, y: String) =
      s"""list_reduce(list_transform(range(1, len($x) + 1),
         |      i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)), (p, q) -> p + q)""".stripMargin
    def subL2(x: String, c: String, sub: String) =
      s"""list_reduce(list_transform(range(1, 17),
         |      i -> (CAST($x[$sub*16 + i] AS DOUBLE) - CAST($c[i] AS DOUBLE))
         |         * (CAST($x[$sub*16 + i] AS DOUBLE) - CAST($c[i] AS DOUBLE))),
         |      (p, q) -> p + q)""".stripMargin
    s"""WITH c0 AS (
       |  SELECT vec_id, CASE WHEN vec_id % 11 = 0
       |    THEN list_transform(embedding, x -> x + CAST(0.25 AS FLOAT))
       |    ELSE embedding END AS v
       |  FROM embeddings WHERE vec_id % 5 != 0),
       |seed AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, embedding AS sv
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE vec_id % 7 != 0 ORDER BY vec_id LIMIT 8)),
       |vc AS (
       |  SELECT c0.vec_id, seed.i,
       |    ${dot("c0.v", "seed.sv")}
       |      / (sqrt(${dot("c0.v", "c0.v")}) * sqrt(${dot("seed.sv", "seed.sv")})) AS s
       |  FROM c0 CROSS JOIN seed),
       |assign AS (
       |  SELECT vec_id, i AS cell FROM (
       |    SELECT vec_id, i,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i ASC) AS rn
       |    FROM vc) WHERE rn = 1),
       |cb AS (
       |  SELECT s.sub, seed.i AS j,
       |    seed.sv[(s.sub*16 + 1):(s.sub*16 + 16)] AS cv
       |  FROM seed, range(4) s(sub)),
       |vd AS (
       |  SELECT c0.vec_id, cb.sub, cb.j,
       |    ${subL2("c0.v", "cb.cv", "cb.sub")} AS d
       |  FROM c0 CROSS JOIN cb),
       |codes AS (
       |  SELECT vec_id, sub, j AS code FROM (
       |    SELECT vec_id, sub, j,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, j ASC) AS rn
       |    FROM vd) WHERE rn = 1)
       |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
       |  string_agg(c.code, ',' ORDER BY c.sub) AS codes
       |FROM assign a JOIN codes c ON c.vec_id = a.vec_id
       |GROUP BY a.vec_id, a.cell""".stripMargin
  }

  /** Cluster-balanced sampling (Similarity.clusterBalancedSample):
    * at most 30 vectors per coarse cell, selected by deterministic
    * md5-of-id order — hot cells trim to the quota, cold cells survive
    * whole. The oracle replays the q39 cell assignment and ranks by the
    * same hash (row_number per cell, hash asc, id tiebreak). */
  private def q101(s: SparkSession, dir: String): DataFrame =
    Similarity.clusterBalancedSample(t(s, dir, "embeddings"), quota = 30,
        nCells = 8)
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("rank").cast("long").as("rank"))

  private val q101Sql = {
    def dot(x: String, y: String) =
      s"""list_reduce(list_transform(range(1, len($x) + 1),
         |      i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)), (p, q) -> p + q)""".stripMargin
    s"""WITH cent AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, embedding AS cv
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
       |e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |vc AS (
       |  SELECT e.vec_id, cent.i,
       |    ${dot("e.v", "cent.cv")}
       |      / (sqrt(${dot("e.v", "e.v")}) * sqrt(${dot("cent.cv", "cent.cv")})) AS s
       |  FROM e CROSS JOIN cent),
       |assign AS (
       |  SELECT vec_id, i AS cell FROM (
       |    SELECT vec_id, i,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i ASC) AS rn
       |    FROM vc) WHERE rn = 1),
       |h AS (
       |  SELECT vec_id, cell,
       |    ${md5LongSql("CAST(vec_id AS VARCHAR)")} AS hh
       |  FROM assign),
       |r AS (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY cell ORDER BY hh ASC, vec_id ASC) AS rank
       |  FROM h)
       |SELECT vec_id, CAST(cell AS BIGINT) AS cell, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 30""".stripMargin
  }

  /** Exact-substring span REMOVAL (TextAnalysis.substringDedupRemove):
    * the Lee et al. cut pass over the q86 flags — every token inside a
    * later-occurrence window span is dropped, survivors rejoin in
    * order. The oracle reuses q86's span-flagging CTEs verbatim
    * (single-sourced) and cuts relationally: token positions anti-joined
    * against the duplicated span ranges, then string_agg in position
    * order. */
  private def q102(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.substringDedupRemove(t(s, dir, "documents"), "doc_id", "text",
      windowTokens = 16, overlap = 8)

  private val q102Sql =
    s"""WITH $substringSpanCtes,
       |dup AS (SELECT doc_id, start, e FROM marked WHERE rn > 1),
       |pos AS (
       |  SELECT doc_id, unnest(generate_series(1, coalesce(n, 0))) AS i, toks
       |  FROM nn),
       |ptok AS (SELECT doc_id, i, toks[i] AS tok FROM pos),
       |kept AS (
       |  SELECT p.doc_id, p.i, p.tok FROM ptok p
       |  WHERE NOT EXISTS (SELECT 1 FROM dup d
       |    WHERE d.doc_id = p.doc_id AND p.i - 1 >= d.start AND p.i - 1 < d.e)),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept_tokens,
       |    string_agg(tok, ' ' ORDER BY i) AS kept_text
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(a.n_kept_tokens, 0) AS n_kept_tokens,
       |  coalesce(a.kept_text, '') AS kept_text
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin

  /** Full-text BM25 top-k through the persisted search index
    * (TextAnalysis.buildSearchIndex → searchTopK): postings probed by a
    * literal isin on the token key, per-term document frequencies
    * summed from the probed shards, corpus stats from the docmeta
    * aggregate, global top-k via the partial-combining top_k_by — no
    * corpus rescan at query time. Retrievable set = docs containing at
    * least one query term; the oracle reuses q77's BM25 CTEs verbatim
    * (single-sourced), restricts to that candidate set, and ranks
    * (score desc, doc_id asc). */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    val idx = TextAnalysis.buildSearchIndex(t(s, dir, "documents"),
      "doc_id", "text", nShards = 4)
    TextAnalysis.searchTopK(idx, Bm25Terms, k = 25)
      .select(col("doc_id"), col("dl"), col("score_micro"),
        col("rank").cast("long").as("rank"))
  }

  private val q103Sql = {
    val anyTf = Bm25Terms.indices.map(i => s"tf_$i > 0").mkString(" OR ")
    s"""WITH $bm25Ctes,
       |scored AS (
       |  SELECT doc_id, dl,
       |    CAST($bm25ContribsSql AS BIGINT) AS score_micro
       |  FROM base, st
       |  WHERE $anyTf),
       |ranked AS (
       |  SELECT doc_id, dl, score_micro,
       |    row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rank
       |  FROM scored)
       |SELECT doc_id, dl, score_micro, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 25""".stripMargin
  }

  /** Hybrid retrieval (TextAnalysis.rrfFuse): reciprocal-rank fusion of
    * the sparse BM25 list (q103's persisted-index server, k=25) and the
    * dense cosine list (q23's exact baseline, query vector 0, k=25) —
    * the fixture treats vec_id as doc_id (both tables enumerate the
    * same 0..N-1 corpus: one corpus, two retrievers). Each list
    * contributes floor(1e6/(60+rank)) integer micro-units; fused
    * scores are Long sums through one partial-aggregated groupBy over
    * the two k-row lists, ranked by the partial-combining top_k_by —
    * no window, no corpus work beyond the two retrievers. The oracle
    * replays each ranker with its own proven SQL (q103's BM25 CTEs,
    * q23's cosine) and fuses with integer division. */
  private def q104(s: SparkSession, dir: String): DataFrame = {
    val idx = TextAnalysis.buildSearchIndex(t(s, dir, "documents"),
      "doc_id", "text", nShards = 4)
    val sparse = TextAnalysis.searchTopK(idx, Bm25Terms, k = 25)
      .select(col("doc_id"), col("rank"))
    val emb = t(s, dir, "embeddings")
    val dense = Similarity.bruteForceTopK(emb,
        emb.where(col("vec_id") === 0), k = 25)
      .select(col("cand_id").as("doc_id"), col("rank"))
    TextAnalysis.rrfFuse(Seq(sparse, dense), k = 20)
      .select(col("doc_id"), col("rrf_micro"), col("n_systems"),
        col("rank").cast("long").as("rank"))
  }

  private val q104Sql = {
    val anyTf = Bm25Terms.indices.map(i => s"tf_$i > 0").mkString(" OR ")
    s"""WITH $bm25Ctes,
       |s_scored AS (
       |  SELECT doc_id, CAST($bm25ContribsSql AS BIGINT) AS score_micro
       |  FROM base, st
       |  WHERE $anyTf),
       |s_rank AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rank
       |  FROM s_scored),
       |e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |d_scored AS (
       |  SELECT b.vec_id AS doc_id, round($cosSqlAB, 6) AS cos_sim
       |  FROM e a JOIN e b ON b.vec_id != a.vec_id
       |  WHERE a.vec_id = 0),
       |d_rank AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS rank
       |  FROM d_scored),
       |fused AS (
       |  SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
       |    coalesce(1000000 // (60 + s.rank), 0)
       |      + coalesce(1000000 // (60 + d.rank), 0) AS rrf_micro,
       |    (CASE WHEN s.rank IS NOT NULL THEN 1 ELSE 0 END)
       |      + (CASE WHEN d.rank IS NOT NULL THEN 1 ELSE 0 END) AS n_systems
       |  FROM (SELECT * FROM s_rank WHERE rank <= 25) s
       |  FULL OUTER JOIN (SELECT * FROM d_rank WHERE rank <= 25) d
       |    ON d.doc_id = s.doc_id),
       |ranked AS (
       |  SELECT doc_id, rrf_micro, n_systems,
       |    row_number() OVER (ORDER BY rrf_micro DESC, doc_id ASC) AS rank
       |  FROM fused)
       |SELECT doc_id, CAST(rrf_micro AS BIGINT) AS rrf_micro,
       |  CAST(n_systems AS BIGINT) AS n_systems, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 20""".stripMargin
  }

  /** Incremental search-index maintenance served through the segment
    * model (TextAnalysis.searchIndexDelta → searchSegmentsTopK) on the
    * q98 snapshot fixture: base index over prev (id%7!=0), delta
    * segment + tombstones from the Snapshot.delta diff to cur
    * (id%5!=0, every 11th text edited) — only added/changed docs are
    * re-tokenized, and the query-time merge drops tombstoned base
    * entries and recounts per-term df from the merged candidates. Must
    * equal the FULL REBUILD of cur, because scoring is deterministic;
    * the oracle IS that rebuild — q103's ranking SQL over the cur
    * fixture CTE. */
  private def q105(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val prev = docs.where(pmod(col("doc_id"), lit(7L)) =!= 0)
    val cur = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(11L)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
    val base = TextAnalysis.buildSearchIndex(prev, "doc_id", "text",
      nShards = 4)
    val delta = TextAnalysis.searchIndexDelta(prev, cur, "doc_id", "text",
      nShards = 4)
    TextAnalysis.searchSegmentsTopK(base, delta, Bm25Terms, k = 25)
      .select(col("doc_id"), col("dl"), col("score_micro"),
        col("rank").cast("long").as("rank"))
  }

  private val q105Sql = {
    val anyTf = Bm25Terms.indices.map(i => s"tf_$i > 0").mkString(" OR ")
    s"""WITH c0 AS (
       |  SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
       |                      ELSE text END AS text
       |  FROM documents WHERE doc_id % 5 != 0),
       |${bm25CtesFrom("c0")},
       |scored AS (
       |  SELECT doc_id, dl,
       |    CAST($bm25ContribsSql AS BIGINT) AS score_micro
       |  FROM base, st
       |  WHERE $anyTf),
       |ranked AS (
       |  SELECT doc_id, dl, score_micro,
       |    row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rank
       |  FROM scored)
       |SELECT doc_id, dl, score_micro, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 25""".stripMargin
  }

  /** Search-result snippets (TextAnalysis.searchSnippets): per doc, the
    * 12-token window anchored at a query-term hit covering the most
    * hits (earliest on ties), plus the joined snippet text. One staged
    * tokenize; the window search is the O(hits) best_token_window
    * two-pointer kernel. The oracle replays hit positions with a
    * 1-based->0-based indexed list_transform, counts every anchor's
    * window (the O(hits^2) spelling of the same argmax), and slices the
    * same 12 tokens. Hitless docs keep row parity with (0, NULL, 0,
    * NULL). */
  private def q106(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.searchSnippets(t(s, dir, "documents"), "doc_id", "text",
      Bm25Terms, width = 12)

  private val q106Sql = {
    val inList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |h AS (
       |  SELECT doc_id, tk,
       |    list_filter(list_transform(tk,
       |      (x, i) -> CASE WHEN x IN ($inList)
       |                     THEN CAST(i - 1 AS BIGINT) ELSE -1 END),
       |      p -> p >= 0) AS hits
       |  FROM tk),
       |cnts AS (
       |  SELECT doc_id, u.s AS start,
       |    len(list_filter(h.hits, p -> p >= u.s AND p < u.s + 12)) AS cnt
       |  FROM h, unnest(h.hits) AS u(s)),
       |best AS (
       |  SELECT doc_id, start, cnt,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY cnt DESC, start ASC) AS rn
       |  FROM cnts)
       |SELECT h.doc_id,
       |  CAST(coalesce(len(h.hits), 0) AS BIGINT) AS n_hits,
       |  b.start AS best_start,
       |  CAST(coalesce(b.cnt, 0) AS BIGINT) AS best_cnt,
       |  CASE WHEN b.start IS NOT NULL
       |       THEN array_to_string(h.tk[CAST(b.start + 1 AS INT)
       |                               : CAST(b.start + 12 AS INT)], ' ')
       |       END AS snippet
       |FROM h LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)"""
      .stripMargin
  }

  /** Proximity search (TextAnalysis.proximityFilter): keep documents
    * where a "the" occurrence sits within 3 tokens of a "data"
    * occurrence. Hit positions from one staged tokenize; the gap is
    * the O(m+n) min_pos_gap merge kernel, which the oracle replays as
    * the O(m*n) pairwise list minimum. Docs missing either term emit
    * NULL min_gap / keep=false with row parity. */
  private def q107(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.proximityFilter(t(s, dir, "documents"), "doc_id", "text",
      termsA = Seq("the"), termsB = Seq("data"), maxGap = 3L)

  private val q107Sql = {
    def hitsSql(term: String) =
      s"""list_filter(list_transform(tk,
         |      (x, i) -> CASE WHEN x = '$term'
         |                     THEN CAST(i - 1 AS BIGINT) ELSE -1 END),
         |      p -> p >= 0)""".stripMargin
    s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    ${hitsSql("the")} AS ha,
       |    ${hitsSql("data")} AS hb
       |  FROM tk),
       |g AS (
       |  SELECT doc_id,
       |    CAST(coalesce(len(ha), 0) AS BIGINT) AS n_a,
       |    CAST(coalesce(len(hb), 0) AS BIGINT) AS n_b,
       |    CASE WHEN coalesce(len(ha), 0) > 0 AND coalesce(len(hb), 0) > 0
       |         THEN list_min(flatten(list_transform(ha,
       |                a -> list_transform(hb, b -> abs(a - b)))))
       |    END AS min_gap
       |  FROM h)
       |SELECT doc_id, n_a, n_b, min_gap,
       |  coalesce(min_gap <= 3, false) AS keep
       |FROM g""".stripMargin
  }

  /** Multi-segment LSM search serving (TextAnalysis.searchSegmentsTopK
    * over Seq[SearchDelta]): TWO successive re-crawls on the q105
    * snapshot scheme — base over v0 (id%7!=0), delta 1 to v1 (id%5!=0,
    * every 11th edited " v2"), delta 2 to v2 (id%3!=0, every 13th
    * edited " v3") — served through base + BOTH segments with no
    * intervening compaction. Exercises every level interaction: docs
    * added/removed/changed per delta, and ids on both cycles (%143:
    * changed twice — delta 2's tombstone must kill segment 1's copy,
    * not just base's). Level-aware tombstones surface each doc from
    * exactly one level and per-term df recounts from the merged
    * candidates, so the serve must equal a FULL REBUILD of v2 — the
    * oracle is that rebuild: q103's ranking SQL over the v2 fixture
    * CTE. */
  /** The two-re-crawl corpus fixture every multi-segment serving gate
    * (q108, q111, q117) builds its LSM story on — ONE definition so the
    * gates can never silently test different corpora: v0 drops id%7==0,
    * v1 drops id%5==0 and edits every 11th doc (" v2" appended), v2
    * drops id%3==0 and edits every 13th (" v3") on top. Ids on both
    * cycles (%143) change TWICE — the newest delta's tombstone must
    * kill the middle segment's copy, not just base's. The oracle side
    * replays only v2 (the serve must equal a full rebuild). */
  private def recrawlFixture(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val v0 = docs.where(pmod(col("doc_id"), lit(7L)) =!= 0)
    val v1 = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(11L)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
    val v2 = docs.where(pmod(col("doc_id"), lit(3L)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(13L)) === 0,
          concat(col("text"), lit(" v3")))
          .when(pmod(col("doc_id"), lit(11L)) === 0,
            concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    (v0, v1, v2)
  }

  private def q108(s: SparkSession, dir: String): DataFrame = {
    val (v0, v1, v2) = recrawlFixture(t(s, dir, "documents"))
    val base = TextAnalysis.buildSearchIndex(v0, "doc_id", "text", nShards = 4)
    val d1 = TextAnalysis.searchIndexDelta(v0, v1, "doc_id", "text", nShards = 4)
    val d2 = TextAnalysis.searchIndexDelta(v1, v2, "doc_id", "text", nShards = 4)
    TextAnalysis.searchSegmentsTopK(base, Seq(d1, d2), Bm25Terms, k = 25)
      .select(col("doc_id"), col("dl"), col("score_micro"),
        col("rank").cast("long").as("rank"))
  }

  private val q108Sql = {
    val anyTf = Bm25Terms.indices.map(i => s"tf_$i > 0").mkString(" OR ")
    s"""WITH c0 AS (
       |  SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' v3'
       |                      WHEN doc_id % 11 = 0 THEN text || ' v2'
       |                      ELSE text END AS text
       |  FROM documents WHERE doc_id % 3 != 0),
       |${bm25CtesFrom("c0")},
       |scored AS (
       |  SELECT doc_id, dl,
       |    CAST($bm25ContribsSql AS BIGINT) AS score_micro
       |  FROM base, st
       |  WHERE $anyTf),
       |ranked AS (
       |  SELECT doc_id, dl, score_micro,
       |    row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rank
       |  FROM scored)
       |SELECT doc_id, dl, score_micro, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 25""".stripMargin
  }

  /** Phrase search served from the positional index
    * (TextAnalysis.buildPositionalIndex → phraseSearch): the q107
    * predicate moved INTO the serving artifact — postings carry each
    * doc's sorted token positions, the phrase's terms probe by literal
    * isin, and occurrences are the intersection of offset-shifted
    * position sets (a surviving p means tokens p, p+1 spell the
    * phrase) — zero corpus rescan at query time. The oracle replays
    * per-term hit positions from the corpus (q107's indexed-lambda
    * spelling) and intersects the shifted lists (set semantics match:
    * positions are distinct by construction), keeping docs with at
    * least one occurrence. */
  /** The gate drives the FULL deployment cycle: build → persist
    * (token-range-sorted parquet) → load → serve, so the on-disk form —
    * not just the in-memory frame — is what must answer correctly, and
    * the load path's pushed token probe stays exercised by the oracle
    * (ScaleSpec additionally pins the file-prune on the plan). The
    * persisted index is staged once per JVM like any fixture; the serve
    * is the measured operator. */
  private def posIndexOnDisk(s: SparkSession, dir: String): String = {
    stagedFixtures.computeIfAbsent(s"posidx|$dir", _ => {
      val p = stagePath("posidx", dir)
      val idx = TextAnalysis.buildPositionalIndex(t(s, dir, "documents"),
        "doc_id", "text", nShards = 4)
      TextAnalysis.savePositionalIndex(idx, p, nShards = 4)
      p
    })
  }

  private def q109(s: SparkSession, dir: String): DataFrame = {
    val idx = TextAnalysis.loadPositionalIndex(s, posIndexOnDisk(s, dir))
    TextAnalysis.phraseSearch(idx.postings, Seq("the", "data"))
  }

  private val q109Sql = {
    def hitsSql(term: String) =
      s"""list_filter(list_transform(tk,
         |      (x, i) -> CASE WHEN x = '$term'
         |                     THEN CAST(i - 1 AS BIGINT) ELSE -1 END),
         |      p -> p >= 0)""".stripMargin
    s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    ${hitsSql("the")} AS p0,
       |    ${hitsSql("data")} AS p1
       |  FROM tk),
       |m AS (
       |  SELECT doc_id,
       |    list_intersect(p0, list_transform(p1, p -> p - 1)) AS starts
       |  FROM h)
       |SELECT doc_id, CAST(len(starts) AS BIGINT) AS n_phrase,
       |  CAST(list_min(starts) AS BIGINT) AS first_pos
       |FROM m WHERE len(starts) > 0""".stripMargin
  }

  /** Proximity predicate served from the positional index
    * (TextAnalysis.proximitySearch): q107's min-token-gap semantics
    * with zero corpus rescan — both sides' terms probe the postings,
    * each side's per-term position arrays merge (sorted concat, here
    * exercising a TWO-term A side), and the O(m+n) min_pos_gap kernel
    * runs per candidate doc. Retrievable set = docs posting at least
    * one term on EACH side. The oracle replays hit positions from the
    * corpus (q107's spelling), merges the A side with
    * list_sort(list_concat(...)), and takes the pairwise min gap. */
  private def q110(s: SparkSession, dir: String): DataFrame = {
    val idx = TextAnalysis.loadPositionalIndex(s, posIndexOnDisk(s, dir))
    TextAnalysis.proximitySearch(idx.postings, Seq("the", "of"), Seq("data"),
      maxGap = 3L)
  }

  private val q110Sql = {
    def hitsSql(term: String) =
      s"""list_filter(list_transform(tk,
         |      (x, i) -> CASE WHEN x = '$term'
         |                     THEN CAST(i - 1 AS BIGINT) ELSE -1 END),
         |      p -> p >= 0)""".stripMargin
    s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    list_sort(list_concat(${hitsSql("the")}, ${hitsSql("of")})) AS ha,
       |    ${hitsSql("data")} AS hb
       |  FROM tk),
       |g AS (
       |  SELECT doc_id,
       |    CAST(coalesce(len(ha), 0) AS BIGINT) AS n_a,
       |    CAST(coalesce(len(hb), 0) AS BIGINT) AS n_b,
       |    CASE WHEN coalesce(len(ha), 0) > 0 AND coalesce(len(hb), 0) > 0
       |         THEN list_min(flatten(list_transform(ha,
       |                a -> list_transform(hb, b -> abs(a - b)))))
       |    END AS min_gap
       |  FROM h)
       |SELECT doc_id, n_a, n_b, min_gap,
       |  coalesce(min_gap <= 3, false) AS keep
       |FROM g WHERE n_a > 0 AND n_b > 0""".stripMargin
  }

  /** Multi-segment POSITIONAL serving (TextAnalysis.positionalIndexDelta
    * → phraseSearchSegments): q108's two-re-crawl fixture served as
    * phrase search — base positional index over v0, two uncompacted
    * delta segments to v1 and v2, level-aware tombstones. Must equal
    * phraseSearch over a full rebuild of v2; the oracle is that
    * rebuild (q109's intersection SQL over the v2 fixture CTE). */
  private def q111(s: SparkSession, dir: String): DataFrame = {
    val (v0, v1, v2) = recrawlFixture(t(s, dir, "documents"))
    val base = TextAnalysis.buildPositionalIndex(v0, "doc_id", "text",
      nShards = 4)
    val d1 = TextAnalysis.positionalIndexDelta(v0, v1, "doc_id", "text",
      nShards = 4)
    val d2 = TextAnalysis.positionalIndexDelta(v1, v2, "doc_id", "text",
      nShards = 4)
    TextAnalysis.phraseSearchSegments(base, Seq(d1, d2), Seq("the", "data"))
  }

  private val q111Sql = {
    def hitsSql(term: String) =
      s"""list_filter(list_transform(tk,
         |      (x, i) -> CASE WHEN x = '$term'
         |                     THEN CAST(i - 1 AS BIGINT) ELSE -1 END),
         |      p -> p >= 0)""".stripMargin
    s"""WITH c0 AS (
       |  SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' v3'
       |                      WHEN doc_id % 11 = 0 THEN text || ' v2'
       |                      ELSE text END AS text
       |  FROM documents WHERE doc_id % 3 != 0),
       |tk AS (SELECT doc_id, $toksSql AS tk FROM c0),
       |h AS (
       |  SELECT doc_id,
       |    ${hitsSql("the")} AS p0,
       |    ${hitsSql("data")} AS p1
       |  FROM tk),
       |m AS (
       |  SELECT doc_id,
       |    list_intersect(p0, list_transform(p1, p -> p - 1)) AS starts
       |  FROM h)
       |SELECT doc_id, CAST(len(starts) AS BIGINT) AS n_phrase,
       |  CAST(list_min(starts) AS BIGINT) AS first_pos
       |FROM m WHERE len(starts) > 0""".stripMargin
  }

  /** Scene-cut detection + keyframe sampling (Multimodal.cutPositions /
    * shotsFromCuts): the clip-series fixture as a per-frame feature
    * channel — a cut where the frame-to-frame delta exceeds 5000
    * integer cents, shots exploded to one row each with a mid-shot
    * keyframe (start + n div 2). The cut list is staged through a
    * Generate (the q90 idiom: starts/ends/size would re-run the O(n)
    * scan per reference). Zero shuffle beyond the series build. The
    * oracle replays lag-deltas, running-sum shot ids, and grouped
    * bounds per (user, shot). */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    val staged = userSeries(s, dir).select(col("user_id"),
        explode(array(struct(col("series").as("series"),
          Multimodal.cutPositions(col("series"), lit(5000.0)).as("cuts"))))
          .as("g"))
      .select(col("user_id"), col("g.series").as("series"),
        col("g.cuts").as("cuts"))
    staged.select(col("user_id"),
        posexplode(Multimodal.shotsFromCuts(col("cuts"), size(col("series"))))
          .as(Seq("pos", "shot")))
      .select(col("user_id"), col("shot.shot_idx").as("shot_idx"),
        col("shot.start_frame").as("start_frame"),
        col("shot.n_frames").as("n_frames"),
        col("shot.keyframe").as("keyframe"))
  }

  private val q112Sql = seriesSqlCte +
    """,
      |d AS (
      |  SELECT user_id, rn, v,
      |    lag(v) OVER (PARTITION BY user_id ORDER BY rn) AS pv
      |  FROM s),
      |f AS (
      |  SELECT user_id, rn,
      |    CASE WHEN pv IS NOT NULL AND abs(v - pv) > 5000 THEN 1 ELSE 0 END AS cut
      |  FROM d),
      |sh AS (
      |  SELECT user_id, rn,
      |    sum(cut) OVER (PARTITION BY user_id ORDER BY rn) AS shot
      |  FROM f)
      |SELECT user_id, CAST(shot AS BIGINT) AS shot_idx,
      |  CAST(min(rn) - 1 AS BIGINT) AS start_frame,
      |  CAST(count(*) AS BIGINT) AS n_frames,
      |  CAST(min(rn) - 1 + count(*) // 2 AS BIGINT) AS keyframe
      |FROM sh GROUP BY user_id, shot""".stripMargin

  /** Silence / VAD run extraction (Multimodal.silenceRuns): frames with
    * |level| < 800 cents are silent, maximal runs of >= 2 consecutive
    * silent frames emit one (start_frame, n_frames) removal-span row
    * each — the list an audio trimmer consumes. Built from the scene
    * kernels over position space (run boundary = position gap > 1).
    * The oracle is the gaps-and-islands replay: rn - row_number() over
    * silent frames groups runs. Span index orders by start within a
    * clip; clips with no qualifying run contribute no rows. */
  private def q113(s: SparkSession, dir: String): DataFrame =
    Multimodal.silenceRunRows(userSeries(s, dir), "user_id", "series",
      threshold = 800.0, minRun = 2)

  private val q113Sql = seriesSqlCte +
    """,
      |sil AS (SELECT user_id, rn FROM s WHERE abs(v) < 800),
      |g AS (
      |  SELECT user_id, rn,
      |    rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
      |  FROM sil),
      |runs AS (
      |  SELECT user_id, min(rn) - 1 AS start_frame, count(*) AS n_frames
      |  FROM g GROUP BY user_id, grp
      |  HAVING count(*) >= 2)
      |SELECT user_id,
      |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY start_frame) - 1
      |    AS BIGINT) AS span_idx,
      |  CAST(start_frame AS BIGINT) AS start_frame,
      |  CAST(n_frames AS BIGINT) AS n_frames
      |FROM runs""".stripMargin

  /** Interval-overlap join (RangeJoin.intervalOverlapJoin): each user's
    * click intervals [ts, ts+1h] × view intervals [ts, ts+1h],
    * emitted once per overlapping pair with the overlap length — the
    * two-sided range join (sessions×promos, speech×video segments)
    * executed as a binned equi-join with the responsibility-bin dedup
    * rule (no distinct pass). The oracle is the plain θ-join on the
    * closed-interval predicate. */
  private def q114(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val win = 3600000000000L // 1 h in nanos
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_start"), (col("ts") + win).as("c_end"))
    val views = e.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_start"), (col("ts") + win).as("v_end"))
    RangeJoin.intervalOverlapJoin(
        clicks, "c_user", "c_start", "c_end",
        views, "v_user", "v_start", "v_end", binSize = win)
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
        (least(col("c_end"), col("v_end"))
          - greatest(col("c_start"), col("v_start"))).as("overlap_ns"))
  }

  private val q114Sql =
    """WITH c AS (
      |  SELECT user_id, event_id AS click_id, epoch_ns(ts) AS s,
      |         epoch_ns(ts) + 3600000000000 AS e
      |  FROM events WHERE event_type = 'click'),
      |v AS (
      |  SELECT user_id, event_id AS view_id, epoch_ns(ts) AS s,
      |         epoch_ns(ts) + 3600000000000 AS e
      |  FROM events WHERE event_type = 'view')
      |SELECT c.user_id, c.click_id, v.view_id,
      |  least(c.e, v.e) - greatest(c.s, v.s) AS overlap_ns
      |FROM c JOIN v ON v.user_id = c.user_id
      | AND c.s <= v.e AND v.s <= c.e""".stripMargin

  /** Fuzzy entity-resolution join (Dedup.editBlockedJoin, general
    * blocking-key form): a "dirty" catalog — every part's display name
    * ("p_name #00123", key zero-padded) with its 6th character
    * dropped — linked back to the reference by Levenshtein <= 1. The
    * blocking key is the 6-char name SUFFIX (the discriminating key
    * digits): edit-stable for the early-character perturbation (every
    * name is >= 15 chars, so the drop never reaches the last 6) and
    * fine-grained where a prefix key collapses — the synthetic catalog
    * has only 64 distinct base names, and prefix-4 blocking measured
    * 79 s of in-block Levenshtein at sf0.1 vs sub-second with the
    * suffix key (the recall/cost dial the operator's docstring
    * documents). The oracle replays the block equi-join and the
    * edit-distance predicate. */
  private def q115(s: SparkSession, dir: String): DataFrame = {
    val parts = t(s, dir, "part")
      .select(col("p_partkey").as("ref_id"),
        concat(col("p_name"), lit(" #"),
          lpad(col("p_partkey").cast("string"), 5, "0")).as("ref_name"))
    val probe = parts.select(col("ref_id").as("dirty_id"),
      concat(substring(col("ref_name"), 1, 5),
        substring(col("ref_name"), 7, 1000000)).as("dirty_name"))
    Dedup.editBlockedJoin(probe, "dirty_id", "dirty_name",
        parts, "ref_id", "ref_name",
        (n: Column) => lower(substring(n, -6, 6)), maxEdit = 1)
      .select(col("probe_id").as("dirty_id"), col("ref_id"),
        col("edit_dist"))
  }

  private val q115Sql =
    """WITH rf AS (
      |  SELECT p_partkey AS ref_id,
      |         p_name || ' #' || lpad(CAST(p_partkey AS VARCHAR), 5, '0')
      |           AS ref_name
      |  FROM part),
      |pr AS (
      |  SELECT ref_id AS dirty_id,
      |         substr(ref_name, 1, 5) || substr(ref_name, 7) AS dirty_name
      |  FROM rf)
      |SELECT pr.dirty_id, rf.ref_id,
      |  CAST(levenshtein(pr.dirty_name, rf.ref_name) AS BIGINT) AS edit_dist
      |FROM pr JOIN rf
      |  ON lower(substr(pr.dirty_name, -6, 6)) = lower(substr(rf.ref_name, -6, 6))
      |WHERE levenshtein(pr.dirty_name, rf.ref_name) <= 1""".stripMargin

  /** Temperature-based mixture RESAMPLING — q73's weights applied: each
    * source's doc count raises to tau=0.3 (integer-quantized micro-units,
    * the q73 discipline), a 400-doc budget splits into per-source quotas
    * by integral division, and each source keeps its quota's docs by
    * deterministic md5 order (the multilingual upsampling step of
    * mT5/XLM-R-style training mixes: small sources keep everything, big
    * sources trim). Selection is the q101 shape generalized to
    * PER-GROUP quotas: one partial-combining `top_k_by` with k = the
    * TOTAL budget bounds what crosses the shuffle (<= budget rows per
    * source, per-partition heaps), then the broadcast quota table
    * filters each source's rank — no window, no per-source scan. A
    * quota above a source's size keeps the whole source (rank filter is
    * vacuous), matching the oracle's row_number replay. */
  private def q116(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val w = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("w_q",
        floor(pow(col("n_docs").cast("double"), 0.3) * 1000000.0).cast("long"))
      .localCheckpoint() // source-count-sized; feeds quota AND total
    val tot = w.agg(sum(col("w_q")).as("tot"))
    val quotas = w.crossJoin(broadcast(tot))
      .select(col("source"), expr("400L * w_q div tot").as("quota"))
    val ranked = docs.select(col("source"), col("doc_id"),
        md5_long(concat(lit("mix"), col("doc_id").cast("string"))).as("rk"))
      .groupBy("source")
      .agg(top_k_by(struct((-col("rk")).as("neg_rk"),
        (-col("doc_id")).as("neg_id")), 400).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (-col("col.neg_id")).as("doc_id"),
        (col("pos") + 1).cast("long").as("rank"))
    ranked.join(broadcast(quotas), Seq("source"))
      .where(col("rank") <= col("quota"))
      .select(col("source"), col("doc_id"), col("rank"), col("quota"))
  }

  private val q116Sql = {
    val rkSql = md5LongSql("'mix' || doc_id")
    s"""WITH s AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
       |w AS (
       |  SELECT *, CAST(floor(pow(CAST(n_docs AS DOUBLE), 0.3) * 1000000)
       |    AS BIGINT) AS w_q
       |  FROM s),
       |t AS (SELECT CAST(sum(w_q) AS BIGINT) AS tot FROM w),
       |q AS (SELECT source, 400 * w_q // tot AS quota FROM w, t),
       |r AS (
       |  SELECT d.source, d.doc_id,
       |    row_number() OVER (PARTITION BY d.source
       |      ORDER BY $rkSql, d.doc_id) AS rnk
       |  FROM documents d)
       |SELECT r.source, r.doc_id, CAST(rnk AS BIGINT) AS rank,
       |  CAST(q.quota AS BIGINT) AS quota
       |FROM r JOIN q USING (source) WHERE rnk <= quota""".stripMargin
  }

  /** Multi-segment PROXIMITY serving (TextAnalysis.proximitySearchSegments):
    * the last gap in the LSM serving story — q110's min-token-gap
    * predicate answered from base positional index + two uncompacted
    * delta segments over the shared two-re-crawl fixture, so a
    * re-crawled corpus serves proximity incrementally instead of fully
    * rebuilding (phrase already could: q111). The level-aware occurrence
    * merge is literally q111's ([[TextAnalysis.segmentOccurrences]] is
    * shared code); the oracle is the full-rebuild replay: q110's
    * pairwise-min-gap SQL over the v2 fixture CTE. */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    val (v0, v1, v2) = recrawlFixture(t(s, dir, "documents"))
    val base = TextAnalysis.buildPositionalIndex(v0, "doc_id", "text",
      nShards = 4)
    val d1 = TextAnalysis.positionalIndexDelta(v0, v1, "doc_id", "text",
      nShards = 4)
    val d2 = TextAnalysis.positionalIndexDelta(v1, v2, "doc_id", "text",
      nShards = 4)
    TextAnalysis.proximitySearchSegments(base, Seq(d1, d2),
      Seq("the", "of"), Seq("data"), maxGap = 3L)
  }

  private val q117Sql = {
    def hitsSql(term: String) =
      s"""list_filter(list_transform(tk,
         |      (x, i) -> CASE WHEN x = '$term'
         |                     THEN CAST(i - 1 AS BIGINT) ELSE -1 END),
         |      p -> p >= 0)""".stripMargin
    s"""WITH c0 AS (
       |  SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' v3'
       |                      WHEN doc_id % 11 = 0 THEN text || ' v2'
       |                      ELSE text END AS text
       |  FROM documents WHERE doc_id % 3 != 0),
       |tk AS (SELECT doc_id, $toksSql AS tk FROM c0),
       |h AS (
       |  SELECT doc_id,
       |    list_sort(list_concat(${hitsSql("the")}, ${hitsSql("of")})) AS ha,
       |    ${hitsSql("data")} AS hb
       |  FROM tk),
       |g AS (
       |  SELECT doc_id,
       |    CAST(coalesce(len(ha), 0) AS BIGINT) AS n_a,
       |    CAST(coalesce(len(hb), 0) AS BIGINT) AS n_b,
       |    CASE WHEN coalesce(len(ha), 0) > 0 AND coalesce(len(hb), 0) > 0
       |         THEN list_min(flatten(list_transform(ha,
       |                a -> list_transform(hb, b -> abs(a - b)))))
       |    END AS min_gap
       |  FROM h)
       |SELECT doc_id, n_a, n_b, min_gap,
       |  coalesce(min_gap <= 3, false) AS keep
       |FROM g WHERE n_a > 0 AND n_b > 0""".stripMargin
  }

  /** Leakage-safe (dedup-aware) train/validation/test split
    * (TextAnalysis.clusterSafeSplit): q51's deterministic rolling-hash
    * bucketing applied at q40's near-dup CLUSTER granularity — every doc
    * buckets by its cluster's canonical (min) id, so transitive near-dups
    * can never straddle train and eval (the contamination a doc-level
    * split bakes in). Singleton clusters bucket by their own id, so the
    * operator degrades exactly to q51 on a dup-free corpus. The oracle
    * composes the two proven replays: q40's recursive-CTE transitive
    * closure over the LSH pair derivation, then q51's rolling-hash
    * bucket over the cluster id. */
  private def q118(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.5)
    TextAnalysis.clusterSafeSplit(docs, "doc_id",
      pairs.select(col("id_a"), col("id_b")))
  }

  private val q118Sql =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL
       |  SELECT id_b AS a, id_a AS b FROM pairs),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS lbl FROM documents
       |  UNION
       |  SELECT e.b AS id, r.lbl FROM reach r JOIN edges e ON e.a = r.id),
       |cl AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id)
       |SELECT doc_id, cluster_id, b AS bucket,
       |  CASE WHEN b < 80 THEN 'train'
       |       WHEN b < 90 THEN 'validation'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id, cluster_id,
       |    ${bucketSqlOf("cluster_id")} AS b
       |  FROM cl)""".stripMargin

  /** Inclusion/exclusion term filter served from the search index
    * (TextAnalysis.termFilter): the corpus-selection predicate — every
    * doc mentioning ALL of {the, data} and NONE of {of} — answered
    * entirely from the q103 index artifact: one literal probe for both
    * term sets, per-doc candidate counts, exclusion as a predicate on
    * the same aggregate; zero corpus rescan, no anti-join. The oracle
    * replays the predicate over the tokenized corpus with
    * list_has_all / list_contains. */
  private def q119(s: SparkSession, dir: String): DataFrame = {
    val idx = TextAnalysis.buildSearchIndex(t(s, dir, "documents"),
      "doc_id", "text", nShards = 4)
    TextAnalysis.termFilter(idx, Seq("the", "data"), Seq("of"))
  }

  private val q119Sql =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents)
       |SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl
       |FROM tk
       |WHERE list_has_all(tk, ['the', 'data'])
       |  AND NOT list_contains(tk, 'of')""".stripMargin

  /** Audio↔video sync-drift estimation (Multimodal.bestLagCorrelation):
    * per clip, the lag maximizing the integer cross-correlation of two
    * per-frame channels — channel A is the clip series, channel B is A
    * with a PLANTED per-user shift (user_id mod 5 frames dropped from
    * the front), the controlled misalignment a sync-QA pass hunts. All
    * integer math (cents), so the argmax is engine-exact; both channels
    * and the kernel result ride Generates (the q90 idiom — the kernel
    * reads each element O(maxLag) times and must see ATTRIBUTES, not
    * staged expressions). The oracle replays the lag sweep as an
    * explicit (i, j) self-join with row_number argmax (corr DESC, lag
    * ASC — the kernel's tie rule). */
  private def q120(s: SparkSession, dir: String): DataFrame = {
    val withAb = userSeries(s, dir).select(col("user_id"),
        transform(col("series"), v => v.cast("long")).as("a"),
        pmod(col("user_id"), lit(5L)).cast("int").as("sh"))
      .select(col("user_id"), col("a"),
        expr("slice(a, sh + 1, size(a) - sh)").as("b"))
    val staged = withAb.select(col("user_id"),
        explode(array(struct(col("a"), col("b")))).as("g"))
      .select(col("user_id"), col("g.a").as("a"), col("g.b").as("b"))
    staged.select(col("user_id"),
        explode(array(Multimodal.bestLagCorrelation(col("a"), col("b"),
          maxLag = 3))).as("r"))
      .select(col("user_id"), col("r.best_lag").as("best_lag"),
        col("r.best_corr").as("best_corr"))
  }

  private val q120Sql = seriesSqlCte +
    """,
      |c AS (
      |  SELECT x.user_id, l.j, CAST(sum(x.v * y.v) AS BIGINT) AS corr
      |  FROM s x
      |  CROSS JOIN range(-3, 4) l(j)
      |  JOIN s y ON y.user_id = x.user_id
      |          AND y.rn = x.rn + l.j + x.user_id % 5
      |  WHERE x.rn + l.j >= 1 AND x.rn + l.j <= x.n - x.user_id % 5
      |  GROUP BY x.user_id, l.j),
      |r AS (
      |  SELECT user_id, j, corr,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY corr DESC, j ASC) AS rk
      |  FROM c)
      |SELECT user_id, CAST(j AS BIGINT) AS best_lag, corr AS best_corr
      |FROM r WHERE rk = 1""".stripMargin

  /** Voiced-shot extraction — the multimodal composition a talking-head
    * corpus build runs end-to-end: scene shots (q112's cut kernel) ×
    * silence runs (q113's VAD kernel) through the interval-overlap join
    * (q114's operator, responsibility-bin dedup — no distinct pass),
    * flagging every shot by how many silence spans intersect its frame
    * range (a fully-voiced shot is the trainable unit). Shots with zero
    * overlaps keep row parity through a left join. Three already-proven
    * operators composed; the oracle composes their three replays with a
    * plain θ-join. */
  private def q121(s: SparkSession, dir: String): DataFrame = {
    val shots = q112(s, dir).select(col("user_id").as("sh_user"),
        col("shot_idx"), col("start_frame").as("sh_start"),
        col("n_frames").as("sh_n"),
        (col("start_frame") + col("n_frames") - 1).as("sh_end"))
      .localCheckpoint() // consumed by the overlap join AND the parity join
    val runs = q113(s, dir).select(col("user_id").as("r_user"),
      col("start_frame").as("r_start"),
      (col("start_frame") + col("n_frames") - 1).as("r_end"))
    val hits = RangeJoin.intervalOverlapJoin(
        shots, "sh_user", "sh_start", "sh_end",
        runs, "r_user", "r_start", "r_end", binSize = 16L)
      .groupBy(col("sh_user"), col("shot_idx"))
      .agg(count(lit(1)).as("n_sil"))
    shots.join(hits, Seq("sh_user", "shot_idx"), "left")
      .select(col("sh_user").as("user_id"), col("shot_idx"),
        col("sh_start").as("start_frame"), col("sh_n").as("n_frames"),
        coalesce(col("n_sil"), lit(0L)).as("n_silence_overlaps"),
        (coalesce(col("n_sil"), lit(0L)) === 0L).as("voiced"))
  }

  private val q121Sql = seriesSqlCte +
    """,
      |d AS (
      |  SELECT user_id, rn, v,
      |    lag(v) OVER (PARTITION BY user_id ORDER BY rn) AS pv
      |  FROM s),
      |f AS (
      |  SELECT user_id, rn,
      |    CASE WHEN pv IS NOT NULL AND abs(v - pv) > 5000 THEN 1 ELSE 0 END AS cut
      |  FROM d),
      |shraw AS (
      |  SELECT user_id, rn,
      |    sum(cut) OVER (PARTITION BY user_id ORDER BY rn) AS shot
      |  FROM f),
      |shots AS (
      |  SELECT user_id, CAST(shot AS BIGINT) AS shot_idx,
      |    CAST(min(rn) - 1 AS BIGINT) AS start_frame,
      |    CAST(count(*) AS BIGINT) AS n_frames
      |  FROM shraw GROUP BY user_id, shot),
      |sil AS (SELECT user_id, rn FROM s WHERE abs(v) < 800),
      |g AS (
      |  SELECT user_id, rn,
      |    rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
      |  FROM sil),
      |runs AS (
      |  SELECT user_id, min(rn) - 1 AS start_frame, count(*) AS n_frames
      |  FROM g GROUP BY user_id, grp
      |  HAVING count(*) >= 2),
      |hits AS (
      |  SELECT sh.user_id, sh.shot_idx, count(*) AS n_sil
      |  FROM shots sh JOIN runs r
      |    ON r.user_id = sh.user_id
      |   AND sh.start_frame <= r.start_frame + r.n_frames - 1
      |   AND r.start_frame <= sh.start_frame + sh.n_frames - 1
      |  GROUP BY sh.user_id, sh.shot_idx)
      |SELECT sh.user_id, sh.shot_idx, sh.start_frame, sh.n_frames,
      |  CAST(coalesce(h.n_sil, 0) AS BIGINT) AS n_silence_overlaps,
      |  coalesce(h.n_sil, 0) = 0 AS voiced
      |FROM shots sh LEFT JOIN hits h
      |  ON h.user_id = sh.user_id AND h.shot_idx = sh.shot_idx""".stripMargin

  /** Distributed BPE tokenizer training (TextAnalysis.bpeTrain): the
    * full Sennrich et al. iterative loop — q49 scores ONE round; this
    * gate runs five, each over the distinct-word frequency table only
    * (one corpus tokenize total), with the winning pair a bounded
    * one-row driver collect and the merge applied by the single-pass
    * `merge_adjacent_pair` kernel (greedy left-to-right, subword-nmt
    * semantics). The oracle unrolls the same five rounds in SQL: pair
    * counts from an indexed-lambda explode, argmax by (cnt DESC, a, b)
    * — both engines compare UTF-8 bytes — and the merge replayed as a
    * list_reduce fold over singleton lists, which equals the greedy
    * scan because a merged symbol (a+b, both non-empty) can never equal
    * the pair's left symbol. */
  private def q122(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeTrain(t(s, dir, "documents"), "text", nMerges = 5)

  private val q122Sql = {
    def round(i: Int) = {
      val prev = s"w${i - 1}"
      s"""p$i AS (
         |  SELECT pr[1] AS a, pr[2] AS b, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT freq,
         |      unnest(list_transform(range(1, len(syms)),
         |        i -> [syms[i], syms[i + 1]])) AS pr
         |    FROM $prev)
         |  GROUP BY 1, 2),
         |b$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         |w$i AS (
         |  SELECT freq,
         |    list_reduce(list_transform(syms, s -> [s]),
         |      (acc, x) -> CASE
         |        WHEN len(acc) > 0 AND acc[len(acc)] = b$i.a AND x[1] = b$i.b
         |        THEN list_append(acc[1:len(acc) - 1], b$i.a || b$i.b)
         |        ELSE list_concat(acc, x) END) AS syms
         |  FROM $prev, b$i)""".stripMargin
    }
    s"""WITH tok AS (SELECT unnest($toksSql) AS token FROM documents),
       |wf AS (SELECT token, CAST(count(*) AS BIGINT) AS freq
       |       FROM tok GROUP BY token),
       |w0 AS (SELECT split(token, '') AS syms, freq FROM wf),
       |${(1 to 5).map(round).mkString(",\n")}
       |${(1 to 5).map(i =>
          s"SELECT CAST($i AS BIGINT) AS merge_rank, a AS lhs, b AS rhs, cnt AS pair_cnt FROM b$i")
         .mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Exact subword token counts under a TRAINED tokenizer — the data-
    * budgeting question ("how many tokens is this corpus under my BPE
    * vocab") answered exactly: train five merges (q122's loop), collect
    * the merge table (five rows — bounded driver stats), segment the
    * VOCABULARY once (TextAnalysis.bpeVocab — merges staged in rank
    * order reproduce the trainer's own word evolution on its corpus),
    * and join the tiny vocab back to the token stream — the corpus is
    * never re-segmented per occurrence. The oracle threads the word
    * table through the same five unrolled rounds and joins w5 back to
    * the exploded corpus. */
  private def q123(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = TextAnalysis.bpeTrain(docs, "text", nMerges = 5)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = TextAnalysis.bpeVocab(docs, "text", merges)
      .select(col("token"), size(col("syms")).cast("long").as("n_sub"))
    docs.select(col("doc_id"), explode(ws_tokens(col("text"))).as("token"))
      .join(vocab, Seq("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_sub")).as("n_subwords"))
  }

  private val q123Sql = {
    def round(i: Int) = {
      val prev = s"w${i - 1}"
      s"""p$i AS (
         |  SELECT pr[1] AS a, pr[2] AS b, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT freq,
         |      unnest(list_transform(range(1, len(syms)),
         |        i -> [syms[i], syms[i + 1]])) AS pr
         |    FROM $prev)
         |  GROUP BY 1, 2),
         |b$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         |w$i AS (
         |  SELECT token, freq,
         |    list_reduce(list_transform(syms, s -> [s]),
         |      (acc, x) -> CASE
         |        WHEN len(acc) > 0 AND acc[len(acc)] = b$i.a AND x[1] = b$i.b
         |        THEN list_append(acc[1:len(acc) - 1], b$i.a || b$i.b)
         |        ELSE list_concat(acc, x) END) AS syms
         |  FROM $prev, b$i)""".stripMargin
    }
    s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
       |wf AS (SELECT token, CAST(count(*) AS BIGINT) AS freq
       |       FROM tok GROUP BY token),
       |w0 AS (SELECT token, split(token, '') AS syms, freq FROM wf),
       |${(1 to 5).map(round).mkString(",\n")}
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(len(w5.syms)) AS BIGINT) AS n_subwords
       |FROM tok t JOIN w5 ON w5.token = t.token
       |GROUP BY t.doc_id""".stripMargin
  }

  /** Per-group robust outlier flagging (Sketches.robustOutliers):
    * median/MAD from the q66 histogram sketch — the heavy-tail-safe
    * form of q78's z-score, where mean/stddev would let a web corpus's
    * own outliers inflate the threshold meant to catch them. Two
    * sketch passes (nBins Long counters per group cross each shuffle,
    * never the values), stats broadcast back, map-only flag pass. The
    * oracle replays BOTH interpolations with q66's bin/cumulative/
    * interpolation SQL and the same |x−med| > 3·MAD boundary on
    * identical doubles. */
  private def q124(s: SparkSession, dir: String): DataFrame =
    Sketches.robustOutliers(t(s, dir, "lineitem"), "l_returnflag",
        "l_extendedprice", lo = 0.0, hi = 110000.0, nBins = 256, k = 3.0)
      .select(col("l_returnflag").as("flag"), col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
        col("is_outlier"))

  private val q124Sql =
    """WITH b1 AS (
      |  SELECT l_returnflag AS flag,
      |    LEAST(GREATEST(CAST(floor((l_extendedprice - 0.0)
      |      / (110000.0 - 0.0) * 256) AS BIGINT), 0), 255) AS bin
      |  FROM lineitem),
      |c1 AS (SELECT flag, bin, count(*) AS cnt FROM b1 GROUP BY flag, bin),
      |n1 AS (SELECT flag, CAST(sum(cnt) AS DOUBLE) AS n FROM c1 GROUP BY flag),
      |cum1 AS (
      |  SELECT flag, bin, cnt,
      |    sum(cnt) OVER (PARTITION BY flag ORDER BY bin) AS cum
      |  FROM c1),
      |sel1 AS (
      |  SELECT cum1.flag, min(cum1.bin) AS bin
      |  FROM cum1 JOIN n1 ON n1.flag = cum1.flag
      |  WHERE CAST(cum1.cum AS DOUBLE) >= 0.5 * n1.n
      |  GROUP BY cum1.flag),
      |med AS (
      |  SELECT s.flag,
      |    0.0 + (s.bin + (0.5 * n1.n - CAST(c2.cum - c2.cnt AS DOUBLE))
      |      / CAST(c2.cnt AS DOUBLE)) * ((110000.0 - 0.0) / 256) AS med
      |  FROM sel1 s
      |  JOIN n1 ON n1.flag = s.flag
      |  JOIN cum1 c2 ON c2.flag = s.flag AND c2.bin = s.bin),
      |b2 AS (
      |  SELECT l.l_returnflag AS flag,
      |    LEAST(GREATEST(CAST(floor((abs(l.l_extendedprice - m.med) - 0.0)
      |      / (110000.0 - 0.0) * 256) AS BIGINT), 0), 255) AS bin
      |  FROM lineitem l JOIN med m ON m.flag = l.l_returnflag),
      |c2b AS (SELECT flag, bin, count(*) AS cnt FROM b2 GROUP BY flag, bin),
      |n2 AS (SELECT flag, CAST(sum(cnt) AS DOUBLE) AS n FROM c2b GROUP BY flag),
      |cum2 AS (
      |  SELECT flag, bin, cnt,
      |    sum(cnt) OVER (PARTITION BY flag ORDER BY bin) AS cum
      |  FROM c2b),
      |sel2 AS (
      |  SELECT cum2.flag, min(cum2.bin) AS bin
      |  FROM cum2 JOIN n2 ON n2.flag = cum2.flag
      |  WHERE CAST(cum2.cum AS DOUBLE) >= 0.5 * n2.n
      |  GROUP BY cum2.flag),
      |mad AS (
      |  SELECT s.flag,
      |    0.0 + (s.bin + (0.5 * n2.n - CAST(c3.cum - c3.cnt AS DOUBLE))
      |      / CAST(c3.cnt AS DOUBLE)) * ((110000.0 - 0.0) / 256) AS mad
      |  FROM sel2 s
      |  JOIN n2 ON n2.flag = s.flag
      |  JOIN cum2 c3 ON c3.flag = s.flag AND c3.bin = s.bin)
      |SELECT l.l_returnflag AS flag, l.l_orderkey,
      |  CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
      |  round(m.med, 6) AS med, round(d.mad, 6) AS mad,
      |  abs(l.l_extendedprice - m.med) > 3.0 * d.mad AS is_outlier
      |FROM lineitem l
      |JOIN med m ON m.flag = l.l_returnflag
      |JOIN mad d ON d.flag = l.l_returnflag""".stripMargin

  /** Prefix (wildcard) search served from the index
    * (TextAnalysis.prefixSearch): `dat*` answered as a startsWith RANGE
    * predicate on the token key — on the token-range-sorted layout it
    * prunes to the prefix's contiguous file run just like a literal
    * probe — returning each doc's distinct matching terms and total
    * occurrences with zero corpus rescan. The oracle filters the
    * tokenized corpus with starts_with. */
  private def q125(s: SparkSession, dir: String): DataFrame = {
    val idx = TextAnalysis.buildSearchIndex(t(s, dir, "documents"),
      "doc_id", "text", nShards = 4)
    TextAnalysis.prefixSearch(idx, "dat")
  }

  private val q125Sql =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |h AS (
       |  SELECT doc_id, list_filter(tk, t -> starts_with(t, 'dat')) AS hits
       |  FROM tk)
       |SELECT doc_id, CAST(len(list_distinct(hits)) AS BIGINT) AS n_terms,
       |  CAST(len(hits) AS BIGINT) AS n_hits
       |FROM h WHERE len(hits) > 0""".stripMargin

  /** EWMA smoothing of the per-clip series (functions.ewma_smooth):
    * the standard low-pass smoother (pandas ewm(adjust=False)) joining
    * the savgol / edge-moving-avg frame-axis family — s(0)=x(0),
    * s(i)=α·x(i)+(1−α)·s(i−1) as a SEQUENTIAL fold, so the IEEE op
    * sequence replays exactly as DuckDB's list_reduce. α=0.25 keeps
    * both coefficients exactly representable, making the gate
    * bit-exact without rounding games; the smoothed series rides a
    * Generate and posexplodes to scalar rows. */
  private def q126(s: SparkSession, dir: String): DataFrame =
    userSeries(s, dir).select(col("user_id"),
        posexplode(ewma_smooth(col("series"), alpha = 0.25)))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("rn"),
        round(col("col"), 6).as("ewma"))

  private val q126Sql = seriesSqlCte +
    """,
      |arr AS (
      |  SELECT user_id,
      |    list(CAST(v AS DOUBLE) ORDER BY rn) AS series
      |  FROM s GROUP BY user_id),
      |e AS (
      |  SELECT user_id,
      |    list_reduce(list_transform(series, v -> [v]),
      |      (acc, x) -> list_append(acc,
      |        CAST(0.25 AS DOUBLE) * x[1]
      |          + CAST(0.75 AS DOUBLE) * acc[len(acc)])) AS ew
      |  FROM arr)
      |SELECT user_id,
      |  CAST(unnest(range(1, len(ew) + 1)) AS BIGINT) AS rn,
      |  round(unnest(ew), 6) AS ewma
      |FROM e""".stripMargin

  /** Time-grid LOCF resampling (AsOf.gridResample): snap the irregular
    * events stream onto a fixed 6-hour grid, each (user, grid point)
    * carrying the latest observation at-or-before it. Observations are
    * pre-aggregated per (user, ts) with the q38 max-cents rule so the
    * as-of input is unique; inner semantics drop grid points before a
    * user's first event. The oracle builds the same grid from a
    * constant-range index filtered by the stream bounds (DuckDB's
    * generate_series takes only constants) and fills with native
    * ASOF JOIN. */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    val obs = t(s, dir, "events")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(cents(col("value"))).as("v_cents"))
    AsOf.gridResample(obs, "user_id", "ts", stepNs = 21600L * 1000000000L)
  }

  private val q127Sql =
    """WITH r AS (
      |  SELECT user_id, epoch_ns(ts) AS ets,
      |         max(CAST(round(value*100) AS BIGINT)) AS v_cents
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT ((min(ets) + 21599999999999) // 21600000000000)
      |               * 21600000000000 AS f,
      |             (max(ets) // 21600000000000) * 21600000000000 AS l
      |      FROM r),
      |i AS (SELECT b.f + t.i * 21600000000000 AS ts
      |      FROM generate_series(0, 99999) t(i) CROSS JOIN b
      |      WHERE b.f + t.i * 21600000000000 <= b.l),
      |g AS (SELECT u.user_id, i.ts
      |      FROM (SELECT DISTINCT user_id FROM r) u CROSS JOIN i)
      |SELECT g.user_id, g.ts, r.v_cents
      |FROM g ASOF JOIN r ON g.user_id = r.user_id AND g.ts >= r.ets"""
      .stripMargin

  /** Gazetteer tagging via ONE Aho–Corasick pass per document
    * (TextAnalysis.dictTag): non-overlapping substring occurrence counts
    * of a top-100 data-derived dictionary. The oracle pays the naive
    * docs x dictionary nested loop of replace() scans — the exact count
    * the automaton's greedy left-to-right rule reproduces for any term
    * (see DictMatchCounts) — so the gate pins the single-pass plan to
    * the quadratic definition. */
  private def q128(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val dict = TextAnalysis.buildDictionary(docs, "doc_id", "text",
      topK = 100, minLen = 4)
    TextAnalysis.dictTag(docs, "doc_id", "text", dict)
  }

  private val q128Sql =
    s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tk FROM documents),
       |dfq AS (SELECT tk AS term, count(DISTINCT doc_id) AS df
       |        FROM tok WHERE length(tk) >= 4 GROUP BY 1),
       |dict AS (SELECT term FROM dfq ORDER BY df DESC, term ASC LIMIT 100),
       |m AS (SELECT d.doc_id, t.term,
       |        CAST((length(lower(d.text))
       |              - length(replace(lower(d.text), t.term, '')))
       |             // length(t.term) AS BIGINT) AS cnt
       |      FROM documents d CROSS JOIN dict t)
       |SELECT doc_id, term, cnt FROM m WHERE cnt > 0""".stripMargin

  /** PMI collocation mining (TextAnalysis.collocations): document
    * co-occurrence counts and lift N*df(a,b)/(df(a)*df(b)) for pairs of
    * a top-40 df-pruned vocabulary co-occurring in >= 5 docs. Lift is
    * one int64 multiply per side cast to double and one divide, so the
    * double is engine-exact with no rounding. */
  private def q129(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = TextAnalysis.buildDictionary(docs, "doc_id", "text",
      topK = 40, minLen = 4)
    TextAnalysis.collocations(docs, "doc_id", "text", vocab,
      minPairDocs = 5)
  }

  /** Shared CTE chain building the top-40 vocabulary, per-doc presence
    * and co-occurrence pair counts — consumed by q129 (lift scores) and
    * q134 (PageRank over the co-occurrence graph). */
  private val collocCtes =
    s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tk FROM documents),
       |dfq AS (SELECT tk AS term, count(DISTINCT doc_id) AS df
       |        FROM tok WHERE length(tk) >= 4 GROUP BY 1),
       |dict AS (SELECT term FROM dfq ORDER BY df DESC, term ASC LIMIT 40),
       |p AS (SELECT DISTINCT t.doc_id, t.tk
       |      FROM tok t JOIN dict d ON t.tk = d.term),
       |pairs AS (SELECT a.tk AS term_a, b.tk AS term_b,
       |                 count(*) AS n_ab
       |          FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.tk < b.tk
       |          GROUP BY 1, 2)""".stripMargin

  private val q129Sql = collocCtes +
    """,
      |n AS (SELECT count(*) AS n FROM documents),
      |na AS (SELECT tk, count(*) AS df FROM p GROUP BY 1)
      |SELECT term_a, term_b, n_ab,
      |  CAST(n_ab * n.n AS DOUBLE) / CAST(x.df * y.df AS DOUBLE) AS lift
      |FROM pairs CROSS JOIN n
      |JOIN na x ON term_a = x.tk JOIN na y ON term_b = y.tk
      |WHERE n_ab >= 5""".stripMargin

  /** Exact ROC-AUC of the q90 quality classifier against a language
    * label (Stats.rankAuc): Mann–Whitney U with midrank ties, computed
    * from the SCORE HISTOGRAM — rows collapse to per-score (nPos, nNeg)
    * pairs bounded by score resolution, U2 stays an exact long (the 2·
    * keeps the tie term integral), and the single final division is the
    * only floating-point op, so the AUC double is engine-exact. The
    * oracle replays the histogram + running-sum-below definition. */
  private def q130(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scored = TextAnalysis.classifierQualityFilter(docs, "doc_id", "text",
      bias = -0.7, wMeanLen = 0.05, wAlpha = 0.4, wStop = 1.0, wDigit = -3.0)
      .select(col("doc_id"), col("score_micro"))
    val labeled = scored.join(
      docs.select(col("doc_id"), (col("lang") === "en").as("label")),
      "doc_id")
    Stats.rankAuc(labeled, "score_micro", "label")
  }

  private val q130Sql = classifierCtes +
    """,
      |sc AS (SELECT z.doc_id, CAST(floor(z.z * 1000000.0) AS BIGINT) AS s,
      |              d.lang = 'en' AS label
      |       FROM z JOIN documents d ON z.doc_id = d.doc_id),
      |h AS (SELECT s,
      |        CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS np,
      |        CAST(sum(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS nn
      |      FROM sc GROUP BY 1),
      |c AS (SELECT np, nn,
      |        CAST(coalesce(sum(nn) OVER (ORDER BY s
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS BIGINT) AS below
      |      FROM h)
      |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
      |  CAST(sum(nn) AS BIGINT) AS n_neg,
      |  CAST(sum(np * (2*below + nn)) AS BIGINT) AS u2,
      |  CAST(sum(np * (2*below + nn)) AS DOUBLE)
      |    / CAST(2 * sum(np) * sum(nn) AS DOUBLE) AS auc
      |FROM c""".stripMargin

  /** Per-user OLS spend trend (Stats.groupOls): slope/intercept of
    * cents-vs-hour-index from ONE aggregation of integer sufficient
    * statistics (n, Σx, Σy, Σxy, Σx² as exact longs — five longs per
    * user cross the shuffle regardless of history length). Slope and
    * intercept are each one division over int64-exact operands, shapes
    * mirrored in the SQL, so the doubles are engine-exact with no
    * rounding. Hour index keeps every product within int64. */
  private def q131(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"),
      expr("ts div 3600000000000").as("x"), cents(col("value")).as("y"))
    Stats.groupOls(ev, "user_id", "x", "y")
  }

  private val q131Sql =
    """WITH o AS (SELECT user_id, epoch_ns(ts) // 3600000000000 AS x,
      |                  CAST(round(value*100) AS BIGINT) AS y FROM events),
      |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |             CAST(sum(x*y) AS BIGINT) AS sxy,
      |             CAST(sum(x*x) AS BIGINT) AS sxx
      |      FROM o GROUP BY 1)
      |SELECT user_id, n,
      |  CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
      |    AS slope,
      |  (CAST(sy AS DOUBLE)
      |     - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
      |       * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
      |FROM a WHERE n*sxx - sx*sx != 0""".stripMargin

  /** Hilbert-curve layout key (functions.hilbert_key), q64's stronger
    * locality cousin: consecutive keys are ALWAYS adjacent cells, so a
    * Hilbert-sorted columnar layout gives tighter per-file min/max
    * bounding boxes than Morton order (no diagonal jumps at quadrant
    * boundaries). The oracle replays the same quadrant-fold as a
    * per-row recursive CTE over the 8 bit levels — both sides are
    * integer-exact, and HilbertSpec proves bijection + unit-step
    * adjacency exhaustively. */
  private def q132(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      hilbert_key(8, col("l_orderkey"), col("l_partkey")).as("hkey"))

  private val q132Sql =
    """WITH RECURSIVE pts AS (
      |  SELECT l_orderkey, l_linenumber, l_partkey,
      |         l_orderkey % 256 AS x0, l_partkey % 256 AS y0
      |  FROM lineitem),
      |h AS (
      |  SELECT l_orderkey, l_linenumber, l_partkey, x0 AS x, y0 AS y,
      |         CAST(0 AS BIGINT) AS d, CAST(128 AS BIGINT) AS s
      |  FROM pts
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, l_partkey,
      |    CASE WHEN (y & s) = 0 THEN
      |      CASE WHEN (x & s) > 0 THEN 255 - y ELSE y END
      |    ELSE x END AS x,
      |    CASE WHEN (y & s) = 0 THEN
      |      CASE WHEN (x & s) > 0 THEN 255 - x ELSE x END
      |    ELSE y END AS y,
      |    d + s * s * xor(CASE WHEN (x & s) > 0 THEN 3 ELSE 0 END,
      |                    CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END) AS d,
      |    s // 2 AS s
      |  FROM h WHERE s > 0)
      |SELECT l_orderkey, l_linenumber, l_partkey, d AS hkey
      |FROM h WHERE s = 0""".stripMargin

  /** Session-scoped Markov transition matrix (Stats.markovTransitions):
    * src→dst event-type step counts and exact conditional probabilities,
    * with steps confined to q30's 30-minute sessions (a step never
    * crosses a session boundary). The lead() window partitions by
    * (user, session) — bounded by one user's session, never global —
    * and the probability is one divide over exact longs. */
  private def q133(s: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val us = expr("ts div 1000")
    val prevUs = lag(us, 1).over(byTime)
    // cumsum AND the markov lead both key on (us, event_id) — the exact
    // sort key of the oracle's sess/p CTEs (the q30 tie discipline:
    // full-resolution ts could order same-microsecond rows differently)
    val byUs = Window.partitionBy("user_id").orderBy(us, col("event_id"))
    val sess = t(s, dir, "events")
      .withColumn("new_sess",
        when(prevUs.isNull || us - prevUs > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_sess"))
          .over(byUs.rowsBetween(Window.unboundedPreceding, 0)))
    Stats.markovTransitions(sess, Seq("user_id", "session_id"),
      Seq(expr("ts div 1000"), col("event_id")), "event_type")
  }

  private val q133Sql =
    """WITH flagged AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, event_id, event_type, us,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged),
      |p AS (
      |  SELECT event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id, session_id
      |      ORDER BY us, event_id) AS dst
      |  FROM sess),
      |c AS (SELECT src, dst, count(*) AS cnt
      |      FROM p WHERE dst IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS total
      |        FROM c GROUP BY 1)
      |SELECT c.src, c.dst, c.cnt,
      |  CAST(c.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE) AS prob
      |FROM c JOIN tot ON c.src = tot.src""".stripMargin

  /** Integer-exact PageRank over the q129 co-occurrence graph
    * (Graph.pageRankInt): vocab terms as nodes, >=5-doc collocation
    * pairs as symmetric edges, 5 fixed iterations — damping and
    * per-neighbor contributions run entirely as long floor-divisions,
    * so every per-node sum is order-independent and the ranks match
    * DuckDB bit-for-bit with NO floating point anywhere. The oracle
    * unrolls the five rounds as chained CTEs over the shared
    * collocation CTE chain. */
  private def q134(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = TextAnalysis.buildDictionary(docs, "doc_id", "text",
      topK = 40, minLen = 4)
    val pairs = TextAnalysis.collocations(docs, "doc_id", "text", vocab,
        minPairDocs = 5)
      .select(col("term_a"), col("term_b"))
    val edges = pairs
      .select(col("term_a").as("src"), col("term_b").as("dst"))
      .unionByName(pairs.select(col("term_b").as("src"),
        col("term_a").as("dst")))
    Graph.pageRankInt(edges, iterations = 5)
  }

  private val q134Sql = collocCtes +
    s""",
      |e AS (SELECT term_a AS src, term_b AS dst FROM pairs WHERE n_ab >= 5
      |      UNION ALL
      |      SELECT term_b, term_a FROM pairs WHERE n_ab >= 5),
      |nodes AS (SELECT DISTINCT src AS node FROM e),
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
      |r0 AS (SELECT node,
      |         1000000000000 // (SELECT count(*) FROM nodes) AS rank
      |       FROM nodes),
      |r1 AS (
      |  SELECT nodes.node,
      |    (15 * 1000000000000) // (100 * (SELECT count(*) FROM nodes))
      |    + (85 * coalesce(s.s, 0)) // 100 AS rank
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS node, CAST(sum(r0.rank // deg.deg) AS BIGINT) AS s
      |    FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
      |    GROUP BY 1) s ON nodes.node = s.node),
      |r2 AS (
      |  SELECT nodes.node,
      |    (15 * 1000000000000) // (100 * (SELECT count(*) FROM nodes))
      |    + (85 * coalesce(s.s, 0)) // 100 AS rank
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS node, CAST(sum(r1.rank // deg.deg) AS BIGINT) AS s
      |    FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
      |    GROUP BY 1) s ON nodes.node = s.node),
      |r3 AS (
      |  SELECT nodes.node,
      |    (15 * 1000000000000) // (100 * (SELECT count(*) FROM nodes))
      |    + (85 * coalesce(s.s, 0)) // 100 AS rank
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS node, CAST(sum(r2.rank // deg.deg) AS BIGINT) AS s
      |    FROM e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
      |    GROUP BY 1) s ON nodes.node = s.node),
      |r4 AS (
      |  SELECT nodes.node,
      |    (15 * 1000000000000) // (100 * (SELECT count(*) FROM nodes))
      |    + (85 * coalesce(s.s, 0)) // 100 AS rank
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS node, CAST(sum(r3.rank // deg.deg) AS BIGINT) AS s
      |    FROM e JOIN r3 ON e.src = r3.node JOIN deg ON e.src = deg.src
      |    GROUP BY 1) s ON nodes.node = s.node),
      |r5 AS (
      |  SELECT nodes.node,
      |    (15 * 1000000000000) // (100 * (SELECT count(*) FROM nodes))
      |    + (85 * coalesce(s.s, 0)) // 100 AS rank
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS node, CAST(sum(r4.rank // deg.deg) AS BIGINT) AS s
      |    FROM e JOIN r4 ON e.src = r4.node JOIN deg ON e.src = deg.src
      |    GROUP BY 1) s ON nodes.node = s.node)
      |SELECT node, rank FROM r5""".stripMargin

  /** Per-node triangle counts over the collocation graph
    * (Graph.triangleCounts): degree-ordered orientation builds wedges
    * only at each triangle's unique minimum apex — the O(m^1.5) plan
    * that never fans out a hub's full neighborhood square — closed by
    * one equi-join; exact integer counts so parity is free. The oracle
    * counts canonical (u<v<w) triples with a 3-way self-join. */
  private def q135(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = TextAnalysis.buildDictionary(docs, "doc_id", "text",
      topK = 40, minLen = 4)
    val pairs = TextAnalysis.collocations(docs, "doc_id", "text", vocab,
        minPairDocs = 5)
      .select(col("term_a").as("src"), col("term_b").as("dst"))
    Graph.triangleCounts(pairs)
  }

  private val q135Sql = collocCtes +
    """,
      |ce AS (SELECT term_a AS u, term_b AS v FROM pairs WHERE n_ab >= 5),
      |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |        FROM ce e1 JOIN ce e2 ON e2.u = e1.u AND e2.v > e1.v
      |        JOIN ce e3 ON e3.u = e1.v AND e3.v = e2.v),
      |nodes AS (SELECT u AS node FROM ce UNION SELECT v FROM ce),
      |tcnt AS (SELECT node, count(*) AS c FROM (
      |    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri) GROUP BY 1)
      |SELECT nodes.node, CAST(coalesce(tcnt.c, 0) AS BIGINT) AS n_triangles
      |FROM nodes LEFT JOIN tcnt ON nodes.node = tcnt.node""".stripMargin

  /** OLAP cube rollup: every grouping-set combination of
    * (returnflag, linestatus) in ONE pass — Spark's `cube` expands the
    * sets inside a single shuffle with map-side partial aggregation
    * (never one job per grouping set), `grouping_id` disambiguates the
    * null-as-subtotal rows exactly as SQL-standard GROUPING does. All
    * integer measures (count + cents). */
  private def q136(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_rows"),
        sum(cents(col("l_quantity"))).as("sum_qty_cents"))
      .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
        col("n_rows"), col("sum_qty_cents"))

  private val q136Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  count(*) AS n_rows,
      |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT)
      |    AS sum_qty_cents
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** Per-user time-weighted average spend (Stats.timeWeightedAvg): each
    * event's cents value holds until the next event; numerator
    * Σ v·Δt(micros) and span accumulate as exact longs, one final
    * divide — the honest mean of an irregular series (plain AVG
    * over-weights bursts). */
  private def q137(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"),
      expr("ts div 1000").as("us"), col("event_id"),
      cents(col("value")).as("v"))
    Stats.timeWeightedAvg(ev, "user_id", "us", "event_id", "v")
  }

  private val q137Sql =
    """WITH o AS (SELECT user_id, epoch_us(ts) AS us, event_id,
      |                  CAST(round(value*100) AS BIGINT) AS v FROM events),
      |st AS (SELECT user_id, us, v,
      |         lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |           AS nt
      |       FROM o),
      |a AS (SELECT user_id, CAST(sum(v * (nt - us)) AS BIGINT) AS wv,
      |             CAST(max(nt) - min(us) AS BIGINT) AS span
      |      FROM st WHERE nt IS NOT NULL GROUP BY 1)
      |SELECT user_id, span, CAST(wv AS DOUBLE) / CAST(span AS DOUBLE) AS twap
      |FROM a WHERE span > 0""".stripMargin

  /** Retention cohort triangle (Stats.retentionCohorts): users keyed by
    * first-activity day, distinct-counted at each later day offset —
    * the product-analytics standard and a crawl-freshness diagnostic.
    * Two map-side-combining aggregations, cohort table broadcast, all
    * integer counts. */
  private def q138(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"),
      expr("ts div 86400000000000").as("day"))
    Stats.retentionCohorts(ev, "user_id", "day")
  }

  private val q138Sql =
    """WITH d AS (SELECT user_id,
      |             epoch_ns(ts) // 86400000000000 AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1),
      |r AS (SELECT DISTINCT c.cohort_day, d.day - c.cohort_day AS day_offset,
      |             d.user_id
      |      FROM d JOIN c ON d.user_id = c.user_id)
      |SELECT cohort_day, day_offset, count(*) AS n_users
      |FROM r GROUP BY 1, 2""".stripMargin

  /** BM25-RANKED phrase search (TextAnalysis.phraseRankedTopK): the
    * phrase "the data" scored as one virtual term — tf = per-doc phrase
    * occurrences from the positional probe (q109's matcher), df = docs
    * containing the phrase, dl/avgdl from the BM25 docmeta — Lucene's
    * PhraseQuery shape with zero corpus rescan; integer-micro scoring,
    * one-row broadcast stats, partial-combining top-k. The oracle
    * composes q109's phrase replay with q77's BM25 formula for the
    * single virtual term. */
  private def q139(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pos = TextAnalysis.buildPositionalIndex(docs, "doc_id", "text",
      nShards = 4)
    // docmeta only: the ranked phrase reader serves occurrences from
    // the positional index — the old full buildSearchIndex checkpointed
    // a BM25 postings table nothing read
    TextAnalysis.phraseRankedTopK(pos,
      TextAnalysis.docMeta(docs, "doc_id", "text"), Seq("the", "data"),
      k = 15)
  }

  private val q139Sql = {
    def hitsSql(term: String) =
      s"""list_filter(list_transform(tk,
         |      (x, i) -> CASE WHEN x = '$term'
         |                     THEN CAST(i - 1 AS BIGINT) ELSE -1 END),
         |      p -> p >= 0)""".stripMargin
    s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    ${hitsSql("the")} AS p0,
       |    ${hitsSql("data")} AS p1
       |  FROM tk),
       |pm AS (
       |  SELECT doc_id,
       |    CAST(len(list_intersect(p0, list_transform(p1, p -> p - 1)))
       |      AS BIGINT) AS n_phrase
       |  FROM h
       |  WHERE len(list_intersect(p0, list_transform(p1, p -> p - 1))) > 0),
       |meta AS (SELECT doc_id, CAST(coalesce(len(tk), 0) AS BIGINT) AS dl
       |         FROM tk),
       |st AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sumdl
       |       FROM meta),
       |dfp AS (SELECT CAST(count(*) AS BIGINT) AS dfp FROM pm),
       |scored AS (
       |  SELECT pm.doc_id, pm.n_phrase, meta.dl,
       |    CAST(floor(
       |      CAST(floor(ln((n - dfp + 0.5) / (dfp + 0.5) + 1) * 1000000.0)
       |        AS BIGINT)
       |      * (n_phrase * 2.2 / (n_phrase + 1.2
       |          * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))))
       |      AS BIGINT) AS score_micro
       |  FROM pm JOIN meta ON pm.doc_id = meta.doc_id
       |  CROSS JOIN st CROSS JOIN dfp),
       |ranked AS (
       |  SELECT doc_id, n_phrase, dl, score_micro,
       |    row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rank
       |  FROM scored)
       |SELECT doc_id, n_phrase, dl, score_micro, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 15""".stripMargin
  }

  /** Pivot report: per-user event-type counts as wide columns. The
    * values list is passed EXPLICITLY, so Spark compiles one
    * aggregation with pivot-CASE expressions — the implicit-values form
    * would first run a distinct scan to discover them (an extra job the
    * oracle's conditional aggregation never pays). Absent cells
    * coalesce to 0 so the wide schema is dense. */
  private def q140(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = t(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    p.select(col("user_id") +:
      types.map(tp => coalesce(col(tp), lit(0L)).as(s"n_$tp")): _*)
  }

  private val q140Sql = {
    val cols = Seq("click", "error", "purchase", "signup", "view").map(tp =>
      s"CAST(sum(CASE WHEN event_type = '$tp' THEN 1 ELSE 0 END) AS BIGINT) AS n_$tp")
      .mkString(",\n  ")
    s"""SELECT user_id,
       |  $cols
       |FROM events GROUP BY 1""".stripMargin
  }

  /** Per-clip loudness statistics (Multimodal.loudnessStats): sample
    * count, absolute peak and RMS over the integer cents series — peak
    * and Σv² exact longs, the single sqrt (correctly-rounded IEEE) the
    * only float op. */
  private def q141(s: SparkSession, dir: String): DataFrame = {
    val series = t(s, dir, "events")
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        cents(col("value")).as("v")))).as("srt"))
      .select(col("user_id"), transform(col("srt"), x => x("v")).as("series"))
    Multimodal.loudnessStats(series, "user_id", "series")
  }

  private val q141Sql =
    """WITH s AS (
      |  SELECT user_id, CAST(round(value*100) AS BIGINT) AS v FROM events),
      |arr AS (
      |  SELECT user_id, list(v) AS series, count(*) AS n
      |  FROM s GROUP BY user_id)
      |SELECT user_id, CAST(n AS BIGINT) AS n,
      |  CAST(list_max(list_transform(series, x -> abs(x))) AS BIGINT) AS peak,
      |  sqrt(CAST(list_sum(list_transform(series, x -> x * x)) AS DOUBLE)
      |    / CAST(n AS DOUBLE)) AS rms
      |FROM arr WHERE n > 0""".stripMargin

  /** Staleness-bounded as-of join (AsOf.asofJoinTolerance): q38's
    * latest-click-at-or-before match, but a click older than one hour
    * is no context at all — pandas merge_asof's `tolerance` on the
    * merge exec, applied as one post-filter (exact, because the as-of
    * match is unique per row: a too-stale match means no in-tolerance
    * match exists). The oracle is native ASOF JOIN + the same bound. */
  private def q142(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(cents(col("value"))).as("click_cents"))
    AsOf.asofJoinTolerance(ev, clicks, "user_id", "ts",
        tolerance = 3600L * 1000000000L)
      .select(col("user_id"), col("event_id"), col("click_cents"),
        (col("ts") - col("match_ts")).as("age_ns"))
  }

  private val q142Sql =
    """WITH r AS (
      |  SELECT user_id, epoch_ns(ts) AS rts,
      |         max(CAST(round(value*100) AS BIGINT)) AS click_cents
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT e.user_id, e.event_id, r.click_cents,
      |  epoch_ns(e.ts) - r.rts AS age_ns
      |FROM events e
      |ASOF JOIN r ON e.user_id = r.user_id AND epoch_ns(e.ts) >= r.rts
      |WHERE epoch_ns(e.ts) - r.rts <= 3600000000000""".stripMargin

  /** Per-user distribution moments (Stats.groupMoments): mean, exact
    * population variance/std and skewness from integer power sums in
    * deci-cents (keeps (Σx)³ inside int64) — four longs per group
    * cross the shuffle; the float tail is a fixed cast/product/sqrt
    * shape mirrored in the SQL, so every double is engine-exact. */
  private def q143(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), cents(col("value")).as("v"))
      .select(col("user_id"), expr("v div 10").as("x"))
    Stats.groupMoments(ev, "user_id", "x")
  }

  private val q143Sql =
    """WITH o AS (SELECT user_id,
      |             CAST(round(value*100) AS BIGINT) // 10 AS x FROM events),
      |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(x) AS BIGINT) AS s1,
      |             CAST(sum(x*x) AS BIGINT) AS s2,
      |             CAST(sum((x*x)*x) AS BIGINT) AS s3
      |      FROM o GROUP BY 1),
      |b AS (SELECT user_id, n, s1, s2, s3,
      |        CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |        CAST(n*s2 - s1*s1 AS DOUBLE)
      |          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS variance
      |      FROM a),
      |c AS (SELECT user_id, n, s1, s2, s3, mean, variance,
      |        sqrt(variance) AS std FROM b)
      |SELECT user_id, n, mean, variance, std,
      |  CASE WHEN std = 0 THEN CAST('NaN' AS DOUBLE)
      |       ELSE CAST(n*n*s3 - 3*n*s1*s2 + 2*s1*s1*s1 AS DOUBLE)
      |         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |            * std * std * std) END AS skew
      |FROM c""".stripMargin

  /** Token-bucket rate-limit replay (functions.token_bucket): per user,
    * the deterministic integer simulation of "capacity 3 tokens, refill
    * 1 token / 10 min, cost 1/request" over the sorted event times —
    * which requests would policy X have granted? All milli-token long
    * arithmetic in one O(n) kernel pass per user; the oracle replays
    * the identical fold with list_reduce over a 3-long state list. */
  private def q144(s: SparkSession, dir: String): DataFrame = {
    val series = t(s, dir, "events")
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"))))
        .as("srt"))
      .select(col("user_id"),
        transform(col("srt"), x => x("ts")).as("ns"))
    series.select(col("user_id"),
        explode(array(token_bucket(col("ns"), capacityMilli = 3000L,
          refillMilliPerSec = 5L, costMilli = 1000L,
          ticksPerSecond = 1000000000L))).as("r"))
      .select(col("user_id"), col("r.granted").as("granted"),
        col("r.denied").as("denied"),
        col("r.tokens_milli").as("tokens_milli"))
  }

  private val q144Sql =
    """WITH s AS (
      |  SELECT user_id, epoch_ns(ts) AS us,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS rn
      |  FROM events),
      |arr AS (SELECT user_id, list(us ORDER BY rn) AS us FROM s GROUP BY 1),
      |f AS (
      |  SELECT user_id,
      |    list_reduce(
      |      list_prepend([CAST(-1 AS BIGINT), 3000, 0, 0],
      |        list_transform(us, u -> [u, 0, 0, 0])),
      |      (acc, x) -> CASE
      |        WHEN least(CAST(3000 AS BIGINT), CASE WHEN acc[1] >= 0
      |               THEN acc[2] + (x[1] - acc[1]) * 5 // 1000000000
      |               ELSE acc[2] END) >= 1000
      |        THEN [x[1],
      |              least(CAST(3000 AS BIGINT), CASE WHEN acc[1] >= 0
      |                THEN acc[2] + (x[1] - acc[1]) * 5 // 1000000000
      |                ELSE acc[2] END) - 1000,
      |              acc[3] + 1, acc[4]]
      |        ELSE [x[1],
      |              least(CAST(3000 AS BIGINT), CASE WHEN acc[1] >= 0
      |                THEN acc[2] + (x[1] - acc[1]) * 5 // 1000000000
      |                ELSE acc[2] END),
      |              acc[3], acc[4] + 1] END) AS st
      |  FROM arr)
      |SELECT user_id, st[3] AS granted, st[4] AS denied,
      |  st[2] AS tokens_milli
      |FROM f""".stripMargin

  /** Trailing-7-day active users (Stats.trailingActives): exact DAU/WAU
    * per day via the bounded ×7 replication of the DISTINCT (user, day)
    * activity table — never a sliding set-state pass over raw events.
    * The oracle replays the same replication with generate_series. */
  private def q145(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"),
      expr("ts div 86400000000000").as("day"))
    Stats.trailingActives(ev, "user_id", "day", windowDays = 7)
  }

  private val q145Sql =
    """WITH d AS (SELECT DISTINCT user_id,
      |             epoch_ns(ts) // 86400000000000 AS day FROM events),
      |b AS (SELECT max(day) AS maxd FROM d),
      |e AS (SELECT DISTINCT user_id,
      |        unnest(generate_series(day,
      |          least(day + 6, (SELECT maxd FROM b)))) AS day
      |      FROM d)
      |SELECT day, count(*) AS n_active
      |FROM e GROUP BY 1""".stripMargin

  /** SCD Type-2 dimension history (Snapshot.scdInit/scdApply): the
    * re-crawl fixture's three corpus versions folded into a validity
    * timeline — unchanged rows pass through, removals/edits close at
    * the observing version, adds/edits open new rows; only OPEN rows
    * and (id, fingerprint) pairs ever join. The oracle reconstructs
    * the same timeline declaratively: runs of identical content over
    * consecutive PRESENT versions, closed at last-run-version + 1. */
  private def q146(s: SparkSession, dir: String): DataFrame = {
    val (v0, v1, v2) = recrawlFixture(t(s, dir, "documents"))
    val h0 = Snapshot.scdInit(v0, "doc_id", "text", version = 0L)
    val h1 = Snapshot.scdApply(h0, v1, "doc_id", "text", version = 1L)
    Snapshot.scdApply(h1, v2, "doc_id", "text", version = 2L)
  }

  private val q146Sql =
    s"""WITH v0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0),
       |v1 AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
       |                           ELSE text END AS text
       |       FROM documents WHERE doc_id % 5 != 0),
       |v2 AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' v3'
       |                           WHEN doc_id % 11 = 0 THEN text || ' v2'
       |                           ELSE text END AS text
       |       FROM documents WHERE doc_id % 3 != 0),
       |snaps AS (
       |  SELECT CAST(0 AS BIGINT) AS ver, doc_id, ${md5LongSql("text")} AS h
       |  FROM v0
       |  UNION ALL
       |  SELECT CAST(1 AS BIGINT), doc_id, ${md5LongSql("text")} FROM v1
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), doc_id, ${md5LongSql("text")} FROM v2),
       |o AS (
       |  SELECT ver, doc_id, h,
       |    CASE WHEN lag(ver) OVER w IS NULL OR lag(ver) OVER w != ver - 1
       |           OR lag(h) OVER w != h THEN 1 ELSE 0 END AS nr
       |  FROM snaps WINDOW w AS (PARTITION BY doc_id ORDER BY ver)),
       |r AS (
       |  SELECT doc_id, h, ver,
       |    sum(nr) OVER (PARTITION BY doc_id ORDER BY ver
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
       |  FROM o),
       |runs AS (
       |  SELECT doc_id, min(h) AS h, min(ver) AS valid_from,
       |         max(ver) AS mx
       |  FROM r GROUP BY doc_id, run)
       |SELECT doc_id, h, CAST(valid_from AS BIGINT) AS valid_from,
       |  CASE WHEN mx = 2 THEN NULL
       |       ELSE CAST(mx + 1 AS BIGINT) END AS valid_to
       |FROM runs""".stripMargin

  /** Weighted integer PageRank (Graph.pageRankIntWeighted) over the
    * collocation graph with co-occurrence counts as edge weights:
    * contributions split proportionally (rank·w div Σw), so strong
    * collocations pull more rank than incidental ones; same
    * integer-exact adaptive machinery as q134. */
  private def q147(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = TextAnalysis.buildDictionary(docs, "doc_id", "text",
      topK = 40, minLen = 4)
    val pairs = TextAnalysis.collocations(docs, "doc_id", "text", vocab,
        minPairDocs = 5)
      .select(col("term_a"), col("term_b"), col("n_ab"))
    val edges = pairs
      .select(col("term_a").as("src"), col("term_b").as("dst"),
        col("n_ab").as("w"))
      .unionByName(pairs.select(col("term_b").as("src"),
        col("term_a").as("dst"), col("n_ab").as("w")))
    Graph.pageRankIntWeighted(edges, iterations = 5)
  }

  private val q147Sql = collocCtes +
    s""",
      |e AS (SELECT term_a AS src, term_b AS dst, n_ab AS w
      |      FROM pairs WHERE n_ab >= 5
      |      UNION ALL
      |      SELECT term_b, term_a, n_ab FROM pairs WHERE n_ab >= 5),
      |nodes AS (SELECT DISTINCT src AS node FROM e),
      |deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS deg FROM e GROUP BY 1),
      |r0 AS (SELECT node,
      |         1000000000000 // (SELECT count(*) FROM nodes) AS rank
      |       FROM nodes),
      |r1 AS (
      |  SELECT nodes.node,
      |    (15 * 1000000000000) // (100 * (SELECT count(*) FROM nodes))
      |    + (85 * coalesce(s.s, 0)) // 100 AS rank
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS node,
      |      CAST(sum(r0.rank * e.w // deg.deg) AS BIGINT) AS s
      |    FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
      |    GROUP BY 1) s ON nodes.node = s.node),
      |r2 AS (
      |  SELECT nodes.node,
      |    (15 * 1000000000000) // (100 * (SELECT count(*) FROM nodes))
      |    + (85 * coalesce(s.s, 0)) // 100 AS rank
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS node,
      |      CAST(sum(r1.rank * e.w // deg.deg) AS BIGINT) AS s
      |    FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
      |    GROUP BY 1) s ON nodes.node = s.node),
      |r3 AS (
      |  SELECT nodes.node,
      |    (15 * 1000000000000) // (100 * (SELECT count(*) FROM nodes))
      |    + (85 * coalesce(s.s, 0)) // 100 AS rank
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS node,
      |      CAST(sum(r2.rank * e.w // deg.deg) AS BIGINT) AS s
      |    FROM e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
      |    GROUP BY 1) s ON nodes.node = s.node),
      |r4 AS (
      |  SELECT nodes.node,
      |    (15 * 1000000000000) // (100 * (SELECT count(*) FROM nodes))
      |    + (85 * coalesce(s.s, 0)) // 100 AS rank
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS node,
      |      CAST(sum(r3.rank * e.w // deg.deg) AS BIGINT) AS s
      |    FROM e JOIN r3 ON e.src = r3.node JOIN deg ON e.src = deg.src
      |    GROUP BY 1) s ON nodes.node = s.node),
      |r5 AS (
      |  SELECT nodes.node,
      |    (15 * 1000000000000) // (100 * (SELECT count(*) FROM nodes))
      |    + (85 * coalesce(s.s, 0)) // 100 AS rank
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS node,
      |      CAST(sum(r4.rank * e.w // deg.deg) AS BIGINT) AS s
      |    FROM e JOIN r4 ON e.src = r4.node JOIN deg ON e.src = deg.src
      |    GROUP BY 1) s ON nodes.node = s.node)
      |SELECT node, rank FROM r5""".stripMargin

  /** Local clustering coefficients (Graph.clusteringCoefficients):
    * 2·triangles/(deg·(deg−1)) per node over the collocation graph —
    * integer numerator/denominator, one double division, degree-<2
    * nodes report 0.0. */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = TextAnalysis.buildDictionary(docs, "doc_id", "text",
      topK = 40, minLen = 4)
    val pairs = TextAnalysis.collocations(docs, "doc_id", "text", vocab,
        minPairDocs = 5)
      .select(col("term_a").as("src"), col("term_b").as("dst"))
    Graph.clusteringCoefficients(pairs)
  }

  private val q148Sql = collocCtes +
    """,
      |ce AS (SELECT term_a AS u, term_b AS v FROM pairs WHERE n_ab >= 5),
      |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |        FROM ce e1 JOIN ce e2 ON e2.u = e1.u AND e2.v > e1.v
      |        JOIN ce e3 ON e3.u = e1.v AND e3.v = e2.v),
      |nodes AS (SELECT u AS node FROM ce UNION SELECT v FROM ce),
      |dg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT u AS node FROM ce UNION ALL SELECT v FROM ce)
      |  GROUP BY 1),
      |tcnt AS (SELECT node, count(*) AS c FROM (
      |    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri) GROUP BY 1)
      |SELECT nodes.node, dg.deg,
      |  CAST(coalesce(tcnt.c, 0) AS BIGINT) AS n_triangles,
      |  CASE WHEN dg.deg < 2 THEN 0.0
      |       ELSE CAST(2 * coalesce(tcnt.c, 0) AS DOUBLE)
      |         / CAST(dg.deg * (dg.deg - 1) AS BIGINT) END AS coeff
      |FROM nodes JOIN dg ON nodes.node = dg.node
      |LEFT JOIN tcnt ON nodes.node = tcnt.node""".stripMargin

  /** Declarative data-quality validation (Validate.validate): an
    * expectations suite over lineitem — five row-predicate checks fold
    * into ONE aggregation pass (conditional sums), uniqueness adds one
    * groupBy, referential integrity one anti-join against orders — and
    * the report is a uniform (check, violations, passed) table a
    * pipeline gate alerts on. The contract-enforcement front door of an
    * ingest; the oracle replays each check as its own aggregate. */
  private def q149(s: SparkSession, dir: String): DataFrame = {
    import Validate._
    val li = t(s, dir, "lineitem")
    val orders = t(s, dir, "orders")
    Validate.validate(li, Seq(
      NotNull("l_orderkey"),
      InRange("l_quantity", 1, 50),
      InRange("l_discount", 0, 0.1),
      Accepted("l_returnflag", Seq("A", "N", "R")),
      Predicate("tax_bounded", col("l_tax") >= 0 && col("l_tax") <= 0.08),
      Unique(Seq("l_orderkey", "l_linenumber")),
      RefIntegrity("l_orderkey", orders, "o_orderkey")))
  }

  private val q149Sql =
    """WITH p AS (
      |  SELECT
      |    CAST(sum(CASE WHEN l_orderkey IS NOT NULL THEN 0 ELSE 1 END)
      |      AS BIGINT) AS c0,
      |    CAST(sum(CASE WHEN l_quantity IS NOT NULL AND l_quantity >= 1
      |                   AND l_quantity <= 50 THEN 0 ELSE 1 END)
      |      AS BIGINT) AS c1,
      |    CAST(sum(CASE WHEN l_discount IS NOT NULL AND l_discount >= 0
      |                   AND l_discount <= 0.1 THEN 0 ELSE 1 END)
      |      AS BIGINT) AS c2,
      |    CAST(sum(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 0 ELSE 1
      |             END) AS BIGINT) AS c3,
      |    CAST(sum(CASE WHEN coalesce(l_tax >= 0 AND l_tax <= 0.08, false)
      |                  THEN 0 ELSE 1 END) AS BIGINT) AS c4
      |  FROM lineitem),
      |u AS (
      |  SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS v FROM (
      |    SELECT count(*) AS n FROM lineitem
      |    GROUP BY l_orderkey, l_linenumber)),
      |r AS (
      |  SELECT CAST(count(*) AS BIGINT) AS v
      |  FROM lineitem l
      |  WHERE l.l_orderkey IS NOT NULL
      |    AND NOT EXISTS (SELECT 1 FROM orders o
      |                    WHERE o.o_orderkey = l.l_orderkey)),
      |rep AS (
      |  SELECT 'not_null:l_orderkey' AS check, c0 AS violations FROM p
      |  UNION ALL SELECT 'in_range:l_quantity', c1 FROM p
      |  UNION ALL SELECT 'in_range:l_discount', c2 FROM p
      |  UNION ALL SELECT 'accepted:l_returnflag', c3 FROM p
      |  UNION ALL SELECT 'predicate:tax_bounded', c4 FROM p
      |  UNION ALL SELECT 'unique:l_orderkey,l_linenumber', v FROM u
      |  UNION ALL SELECT 'ref:l_orderkey', v FROM r)
      |SELECT "check", violations, violations = 0 AS passed FROM rep"""
      .stripMargin

  /** Conversion-lag histogram: per user, time from FIRST view to FIRST
    * purchase (converters only, purchase at-or-after view), bucketed to
    * hours — the activation-funnel timing report. Two conditional mins
    * in one map-side-combining aggregation, integer bucket division,
    * exact counts. */
  private def q150(s: SparkSession, dir: String): DataFrame = {
    val firsts = t(s, dir, "events").groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("v"),
        min(when(col("event_type") === "purchase", col("ts"))).as("p"))
    firsts
      .where(col("v").isNotNull && col("p").isNotNull && col("p") >= col("v"))
      .select(expr("(p - v) div 3600000000000").as("lag_hours"))
      .groupBy(col("lag_hours")).agg(count(lit(1)).as("n_users"))
  }

  private val q150Sql =
    """WITH f AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END) AS v,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) AS p
      |  FROM events GROUP BY 1)
      |SELECT (p - v) // 3600000000000 AS lag_hours,
      |  count(*) AS n_users
      |FROM f
      |WHERE v IS NOT NULL AND p IS NOT NULL AND p >= v
      |GROUP BY 1""".stripMargin

  /** EXACT per-user median spend, doubled (Stats.exactGroupMedianX2):
    * lo+hi middle order statistics picked from the per-group value
    * histogram with a bounded cumulative window — 2·median stays an
    * integer so the gate needs NO floating point at all; the exact
    * twin of the q66 sketch quantiles. */
  private def q151(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), cents(col("value")).as("v"))
    Stats.exactGroupMedianX2(ev, "user_id", "v")
  }

  private val q151Sql =
    """WITH o AS (SELECT user_id,
      |             CAST(round(value*100) AS BIGINT) AS v FROM events)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |  CAST(2 * median(v) AS BIGINT) AS median_x2
      |FROM o GROUP BY 1""".stripMargin

  /** Per-user modal spend (Stats.groupMode): histogram + the
    * partial-combining top_k_by argmax (ties to the smallest value) —
    * never a per-group sort; the profiling "most typical value"
    * column. */
  private def q152(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), cents(col("value")).as("v"))
    Stats.groupMode(ev, "user_id", "v")
  }

  private val q152Sql =
    """WITH o AS (SELECT user_id,
      |             CAST(round(value*100) AS BIGINT) AS v FROM events),
      |h AS (SELECT user_id, v, CAST(count(*) AS BIGINT) AS c FROM o
      |      GROUP BY 1, 2),
      |r AS (SELECT user_id, v, c,
      |        row_number() OVER (PARTITION BY user_id
      |          ORDER BY c DESC, v ASC) AS rn
      |      FROM h)
      |SELECT user_id, v AS mode, c AS n_mode FROM r WHERE rn = 1"""
      .stripMargin

  /** Per-user active-time coverage (RangeJoin.intervalCoverage): each
    * event opens a 5-minute [ts, ts+5m) activity window; the union's
    * total length and merged-segment count per user de-overlap the
    * naive sum — the utilization/speech-coverage denominator. Sweep as
    * relational ops: per-key running-max window + two map-side
    * aggregations, all integer nanos. */
  private def q153(s: SparkSession, dir: String): DataFrame = {
    val iv = t(s, dir, "events").select(col("user_id"),
      col("ts").as("s"), (col("ts") + lit(300000000000L)).as("e"))
    RangeJoin.intervalCoverage(iv, "user_id", "s", "e")
  }

  private val q153Sql =
    """WITH iv AS (SELECT user_id, epoch_ns(ts) AS s,
      |                   epoch_ns(ts) + 300000000000 AS e FROM events),
      |m AS (SELECT user_id, s, e,
      |        max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |      FROM iv),
      |f AS (SELECT user_id, s, e,
      |        CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nw
      |      FROM m),
      |g AS (SELECT user_id, s, e,
      |        sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
      |      FROM f),
      |h AS (SELECT user_id, seg, min(s) AS ss, max(e) AS ee
      |      FROM g GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(ee - ss) AS BIGINT) AS covered,
      |  count(*) AS n_segments
      |FROM h GROUP BY 1""".stripMargin

  /** Trajectory similarity search (Similarity.trajectoryTopK): top-5
    * nearest users to each of 10 query users by exact discrete
    * symmetric Hausdorff over their cents trajectories (L1 on
    * (position, value), posWeight 3) — the REPOSE/trajectory-search
    * family with an all-long kernel so ranks are engine-exact. The
    * oracle replays both directed distances as point-level
    * join+min+max pyramids. */
  private def q154(s: SparkSession, dir: String): DataFrame = {
    val series = t(s, dir, "events")
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        cents(col("value")).as("v")))).as("srt"))
      .select(col("user_id"), transform(col("srt"), x => x("v")).as("series"))
    Similarity.trajectoryTopK(series, series.where(col("user_id") < 10),
      k = 5, posWeight = 3L)
  }

  private val q154Sql = seriesSqlCte +
    """,
      |p AS (SELECT user_id, rn - 1 AS i, v FROM s),
      |d1 AS (SELECT q.user_id AS query_id, c.user_id AS cand_id, q.i,
      |         min(3 * abs(q.i - c.i) + abs(q.v - c.v)) AS md
      |       FROM p q JOIN p c
      |         ON q.user_id < 10 AND c.user_id != q.user_id
      |       GROUP BY 1, 2, 3),
      |h1 AS (SELECT query_id, cand_id, max(md) AS h FROM d1 GROUP BY 1, 2),
      |d2 AS (SELECT q.user_id AS query_id, c.user_id AS cand_id, c.i,
      |         min(3 * abs(q.i - c.i) + abs(q.v - c.v)) AS md
      |       FROM p q JOIN p c
      |         ON q.user_id < 10 AND c.user_id != q.user_id
      |       GROUP BY 1, 2, 3),
      |h2 AS (SELECT query_id, cand_id, max(md) AS h FROM d2 GROUP BY 1, 2),
      |hd AS (SELECT h1.query_id, h1.cand_id,
      |         CAST(greatest(h1.h, h2.h) AS BIGINT) AS hd
      |       FROM h1 JOIN h2 ON h1.query_id = h2.query_id
      |         AND h1.cand_id = h2.cand_id),
      |r AS (SELECT query_id, cand_id, hd,
      |        row_number() OVER (PARTITION BY query_id
      |          ORDER BY hd ASC, cand_id ASC) AS rank
      |      FROM hd)
      |SELECT query_id, cand_id, hd, CAST(rank AS BIGINT) AS rank
      |FROM r WHERE rank <= 5""".stripMargin

  /** EXACT robust location+scale per user (Stats.exactGroupMadX4):
    * median×2 and MAD×4 both integral — |2x − median_x2| is twice the
    * absolute deviation, its doubled median is 4·MAD — so the whole
    * robust pair computes with NO floating point; the exact twin of
    * q124's sketch-based robust z-score for discrete columns. */
  private def q155(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), cents(col("value")).as("v"))
    Stats.exactGroupMadX4(ev, "user_id", "v")
  }

  private val q155Sql =
    """WITH o AS (SELECT user_id,
      |             CAST(round(value*100) AS BIGINT) AS v FROM events),
      |m AS (SELECT user_id, CAST(2 * median(v) AS BIGINT) AS median_x2
      |      FROM o GROUP BY 1),
      |d AS (SELECT o.user_id, abs(2 * o.v - m.median_x2) AS dev
      |      FROM o JOIN m ON o.user_id = m.user_id)
      |SELECT d.user_id, CAST(count(*) AS BIGINT) AS n,
      |  CAST(max(m.median_x2) AS BIGINT) AS median_x2,
      |  CAST(2 * median(d.dev) AS BIGINT) AS mad_x4
      |FROM d JOIN m ON d.user_id = m.user_id
      |GROUP BY 1""".stripMargin

  /** EXACT set-similarity join with prefix filtering (Dedup.ppJoin,
    * the AllPairs/PPJoin family): every doc pair with token-set
    * Jaccard >= 0.5, no false negatives, no blocking column — each doc
    * exposes only its rarest-token prefix and pairs must share a
    * prefix token (candidates bounded by low-df posting products,
    * never |docs|²). The oracle IS the brute-force all-pairs join, so
    * a hash match certifies exact recall on this corpus. */
  private def q156(s: SparkSession, dir: String): DataFrame =
    Dedup.ppJoin(t(s, dir, "documents"), "doc_id", "text", threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  private val q156Sql =
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, $shinglesSql AS ts FROM toks),
       |h AS (
       |  SELECT doc_id, list_transform(ts, x -> ${md5LongSql("x")}) AS hs
       |  FROM sh WHERE len(ts) > 0)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  round(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.hs, b.hs))), 6) AS jaccard
       |FROM h a JOIN h b ON a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.5"""
      .stripMargin

  /** Incremental set-similarity maintenance (Dedup.ppJoinDelta): after
    * a re-crawl, only pairs touching an added/changed doc recompute —
    * survivors (both endpoints unchanged) carry their v0 Jaccard
    * forward untouched, and the union must equal a full PPJoin rebuild
    * of v1 (the oracle IS that brute-force rebuild). O(delta × matched
    * postings) maintenance instead of a full re-join — the q95/q105
    * delta discipline applied to pairwise similarity state. */
  private def q157(s: SparkSession, dir: String): DataFrame = {
    val (v0, v1, _) = recrawlFixture(t(s, dir, "documents"))
    val prevPairs = Dedup.ppJoin(v0, "doc_id", "text", threshold = 0.5)
    val unchanged = Snapshot.delta(v0, v1, "doc_id", "text")
      .where(col("status") === "unchanged").select(col("doc_id"))
    val survivors = prevPairs
      .join(unchanged.withColumnRenamed("doc_id", "id_a"), Seq("id_a"),
        "left_semi")
      .join(unchanged.withColumnRenamed("doc_id", "id_b"), Seq("id_b"),
        "left_semi")
    val deltaPairs = Dedup.ppJoinDelta(v0, v1, "doc_id", "text",
      threshold = 0.5)
    survivors.select(col("id_a"), col("id_b"), col("jaccard"))
      .unionByName(deltaPairs.select(col("id_a"), col("id_b"),
        col("jaccard")))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  private val q157Sql =
    s"""WITH v1 AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0
       |                                THEN text || ' v2' ELSE text END
       |                   AS text
       |            FROM documents WHERE doc_id % 5 != 0),
       |toks AS (
       |  SELECT doc_id, $toksSql AS tk FROM v1),
       |sh AS (
       |  SELECT doc_id, $shinglesSql AS ts FROM toks),
       |h AS (
       |  SELECT doc_id, list_transform(ts, x -> ${md5LongSql("x")}) AS hs
       |  FROM sh WHERE len(ts) > 0)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  round(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.hs, b.hs))), 6) AS jaccard
       |FROM h a JOIN h b ON a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.5"""
      .stripMargin

  /** Video-level near-duplicate clip dedup (Dedup.videoNearDupClips):
    * the q121 composition pattern applied to the dedup family — scene
    * cuts → mid-shot keyframes → keyframe images by equi-join →
    * per-keyframe dHash banded-Hamming pairs → clip-pair VOTE (>= 2
    * matching keyframe pairs) → connected components. Fixture: clips in
    * groups of four temporal-shift variants (cut boundaries shifted
    * 0-3 frames per variant), sharing per-scene pixel content with
    * per-clip-frame ±1 noise — so variants match scene-by-scene via
    * fingerprints while byte hashes (and keyframe INDEXES) differ; a
    * per-clip decoy frame row proves the keyframe join prunes the frame
    * store. The oracle replays everything: the planted series, lag-delta
    * cut detection, shot grouping, mid-shot keyframes, the frame-table
    * rows, pixel synthesis, dHash band folds, banded candidates, Hamming
    * verify, the vote, and the recursive-CTE transitive closure. */
  /** Shared q158/q163 video-fixture roster: every 4th block of four
    * part keys, four temporal-shift variants per base, noise tag 'vnz'. */
  private def videoRoster0(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .where(pmod(col("p_partkey"), lit(16L)) < 4)
      .select(col("p_partkey").as("clip_id"),
        (col("p_partkey") - pmod(col("p_partkey"), lit(4L))).as("base"),
        pmod(col("p_partkey"), lit(4L)).as("v"),
        lit("vnz").as("ntag"))

  /** Per-clip series over a (clip_id, v) roster — planted shot
    * structure: 48 frames, scene boundaries at 12j + v (variant v
    * shifts every cut by v frames); values jump 10000 per scene so
    * detection at threshold 5000 recovers exactly the planted cuts. */
  private def videoSeries(roster: DataFrame): DataFrame =
    roster.select(col("clip_id"),
      transform(sequence(lit(0), lit(47)), f =>
        ((f >= lit(12) + col("v")).cast("long") +
          (f >= lit(24) + col("v")).cast("long") +
          (f >= lit(36) + col("v")).cast("long")).cast("double") * 10000.0)
        .as("series"))

  /** Frames table for a (clip_id, base, v, ntag) roster — per clip the
    * four keyframe rows (content keyed on (base, scene) + per-(clip,
    * frame) noise under the roster's noise tag, so a re-encode is a tag
    * switch) and one DECOY frame at index 1, content keyed on the clip
    * itself — if the keyframe join failed to prune it, its fingerprint
    * would perturb the pair set and break parity. 8x9 gray pixels at 6
    * bytes per md5 (2 hash groups x 6 shift lanes, plan-time unrolled,
    * lanes past column 8 sliced off) — the q85 synthesis shape at the
    * minimum dHash grid size. */
  private def videoFrames(roster: DataFrame): DataFrame = {
    def kfAt(j: Int): Column = {
      val start = if (j == 0) lit(0L) else lit(12L * j) + col("v")
      val end = if (j == 3) lit(48L) else lit(12L * (j + 1)) + col("v")
      start + shiftright(end - start, 1)
    }
    val rows = roster.repartition(64, col("clip_id"))
      .select(col("clip_id"), col("base"), col("v"), col("ntag"),
        explode(array((0 until 4).map(j =>
          struct(kfAt(j).as("frame_idx"), lit(j.toLong).as("scene"))) :+
          struct(lit(1L).as("frame_idx"), lit(99L).as("scene")): _*))
          .as("fr"))
      .select(col("clip_id"), col("ntag"),
        col("fr.frame_idx").as("frame_idx"),
        col("fr.scene").as("scene"),
        when(col("fr.scene") === 99L, col("clip_id")).otherwise(col("base"))
          .as("pxid"))
    def hashRows(tag: Column, idc: Column, sc: Column) =
      transform(sequence(lit(0), lit(7)), r =>
        transform(sequence(lit(0), lit(1)), g =>
          md5_long(concat(tag, idc.cast("string"), lit("_"),
            sc.cast("string"), lit("_"), r.cast("string"), lit("_"),
            g.cast("string")))))
    val mat = zip_with(
      hashRows(lit("vpx"), col("pxid"), col("scene")),
      hashRows(col("ntag"), col("clip_id"), col("frame_idx")),
      (prow, nrow) => slice(flatten(zip_with(prow, nrow, (hp, hn) =>
        array((0 until 6).map { k =>
          (pmod(shiftright(hp, 8 * k), lit(256L)) +
            pmod(shiftright(hn, 8 * k), lit(3L)) - lit(1L)).cast("double")
        }: _*))), 1, 9))
    rows.withColumn("matrix", mat)
      .select(col("clip_id"), col("frame_idx"), col("matrix"))
  }

  private def q158(s: SparkSession, dir: String): DataFrame = {
    val roster = videoRoster0(s, dir)
    // frames staged to parquet (the q85 discipline — the gate measures
    // the dedup chain over a columnar frame scan, not md5 synthesis)
    val frames = stageFixture(s, "q158_frames", dir)(videoFrames(roster))
      .repartition(64, col("clip_id")) // 64 tiny files read as 1 split
    Dedup.videoNearDupClips(videoSeries(roster), frames, "clip_id",
      "series", "frame_idx", "matrix", cutThreshold = 5000.0,
      maxHamming = 6, minVotes = 2, bandBytes = 2)
  }

  private val q158Sql = {
    val hp = md5LongSql("'vpx' || pxid || '_' || scene || '_' || i || '_' || g")
    val hn = md5LongSql("'vnz' || clip || '_' || kf || '_' || i || '_' || g")
    s"""WITH RECURSIVE clips AS (
       |  SELECT p_partkey AS clip, p_partkey - p_partkey % 4 AS base,
       |    p_partkey % 4 AS v
       |  FROM part WHERE p_partkey % 16 < 4),
       |sf AS (
       |  SELECT clip, f,
       |    10000 * (CASE WHEN f >= 12 + v THEN 1 ELSE 0 END
       |           + CASE WHEN f >= 24 + v THEN 1 ELSE 0 END
       |           + CASE WHEN f >= 36 + v THEN 1 ELSE 0 END) AS val
       |  FROM clips, range(48) t(f)),
       |dl AS (
       |  SELECT clip, f, val,
       |    lag(val) OVER (PARTITION BY clip ORDER BY f) AS pv
       |  FROM sf),
       |sh AS (
       |  SELECT clip, f,
       |    sum(CASE WHEN pv IS NOT NULL AND abs(val - pv) > 5000
       |        THEN 1 ELSE 0 END) OVER (PARTITION BY clip ORDER BY f) AS shot
       |  FROM dl),
       |kfs AS (
       |  SELECT clip, CAST(min(f) + count(*) // 2 AS BIGINT) AS kf
       |  FROM sh GROUP BY clip, shot),
       |fr AS (
       |  SELECT clip, frame_idx, scene,
       |    CASE WHEN scene = 99 THEN clip ELSE base END AS pxid
       |  FROM (
       |    SELECT clip, base, v, j AS scene,
       |      CASE WHEN j = 0 THEN (12 + v) // 2
       |           WHEN j = 3 THEN 36 + v + (12 - v) // 2
       |           ELSE 12 * j + v + 6 END AS frame_idx
       |    FROM clips, range(4) t(j)
       |    UNION ALL
       |    SELECT clip, base, v, 99 AS scene, 1 AS frame_idx FROM clips)),
       |ki AS (
       |  SELECT f.clip, f.frame_idx AS kf, f.pxid, f.scene
       |  FROM kfs k JOIN fr f ON f.clip = k.clip AND f.frame_idx = k.kf),
       |hx AS (
       |  SELECT clip, kf, i, g, $hp AS hp, $hn AS hn
       |  FROM ki, range(8) t(i), range(2) u(g)),
       |px AS (
       |  SELECT clip, kf, i, g * 6 + k AS j,
       |    (hp >> (8 * k)) % 256 + (hn >> (8 * k)) % 3 - 1 AS p
       |  FROM hx, range(6) w(k)
       |  WHERE g * 6 + k <= 8),
       |bands AS (
       |  SELECT a.clip, a.kf, a.i AS band,
       |    CAST(sum(CASE WHEN a.p > b.p THEN 1 << CAST(7 - a.j AS INT)
       |             ELSE 0 END) AS BIGINT) AS band_val
       |  FROM px a JOIN px b ON b.clip = a.clip AND b.kf = a.kf
       |    AND b.i = a.i AND b.j = a.j + 1
       |  GROUP BY 1, 2, 3),
       |b16 AS (
       |  SELECT clip, kf, band // 2 AS band,
       |    CAST(sum(CASE WHEN band % 2 = 0 THEN band_val * 256
       |             ELSE band_val END) AS BIGINT) AS band_val
       |  FROM bands GROUP BY 1, 2, 3),
       |cand AS (
       |  SELECT DISTINCT l.clip AS ca, l.kf AS ka, r.clip AS cb, r.kf AS kb
       |  FROM b16 l JOIN b16 r
       |    ON r.band = l.band AND r.band_val = l.band_val
       |    AND (l.clip < r.clip OR (l.clip = r.clip AND l.kf < r.kf))),
       |kfp AS (
       |  SELECT * FROM (
       |    SELECT c.ca, c.ka, c.cb, c.kb,
       |      CAST(sum(bit_count(xor(a.band_val, b.band_val))) AS BIGINT)
       |        AS hamming
       |    FROM cand c
       |    JOIN bands a ON a.clip = c.ca AND a.kf = c.ka
       |    JOIN bands b ON b.clip = c.cb AND b.kf = c.kb AND b.band = a.band
       |    GROUP BY 1, 2, 3, 4)
       |  WHERE hamming <= 6),
       |mp AS (
       |  -- cand guarantees ca < cb whenever the clips differ, so the
       |  -- (ka, kb) orientation already matches the Spark side's packing
       |  SELECT ca AS clip_a, cb AS clip_b, ka, kb
       |  FROM kfp WHERE ca != cb),
       |ch AS (
       |  -- order-consistency vote: longest chain of matched keyframe
       |  -- pairs strictly increasing in BOTH clips (the lis_pairs rule);
       |  -- chains enumerate recursively — per-pair match lists are tiny
       |  SELECT clip_a, clip_b, ka, kb, 1 AS len FROM mp
       |  UNION ALL
       |  SELECT m.clip_a, m.clip_b, m.ka, m.kb, c.len + 1
       |  FROM ch c JOIN mp m ON m.clip_a = c.clip_a AND m.clip_b = c.clip_b
       |    AND m.ka > c.ka AND m.kb > c.kb),
       |votes AS (
       |  SELECT clip_a, clip_b, CAST(max(len) AS BIGINT) AS n_votes
       |  FROM ch GROUP BY 1, 2),
       |edges0 AS (SELECT * FROM votes WHERE n_votes >= 2),
       |nb AS (
       |  SELECT cid, CAST(count(*) AS BIGINT) AS n_dup_neighbors,
       |    max(n_votes) AS max_votes
       |  FROM (SELECT clip_a AS cid, n_votes FROM edges0
       |        UNION ALL SELECT clip_b, n_votes FROM edges0)
       |  GROUP BY 1),
       |eds AS (SELECT clip_a AS a, clip_b AS b FROM edges0
       |        UNION ALL SELECT clip_b, clip_a FROM edges0),
       |reach AS (
       |  SELECT clip AS id, clip AS lbl FROM clips
       |  UNION
       |  SELECT e.b AS id, r.lbl FROM reach r JOIN eds e ON e.a = r.id),
       |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
       |SELECT cc.id AS clip_id, cc.cluster_id,
       |  cc.id = cc.cluster_id AS is_canonical,
       |  CAST(coalesce(nb.n_dup_neighbors, 0) AS BIGINT) AS n_dup_neighbors,
       |  nb.max_votes
       |FROM cc LEFT JOIN nb ON nb.cid = cc.id""".stripMargin
  }

  /** Incremental video near-dup maintenance
    * (Dedup.videoNearDupEdgesDelta): after a corpus refresh — every
    * 16th-block variant 3 REMOVED, variant 2 RE-ENCODED (noise tag
    * switch: same scenes, new per-frame noise), a fifth variant ADDED
    * per surviving group — only edges touching an added/changed clip
    * re-derive (fresh keyframes × full band table); edges with both
    * clips untouched carry their votes forward (edge votes are local to
    * the pair — no global state, unlike PPJoin's df order). The oracle
    * IS the full edge rebuild of v1 (the q157 discipline), so the hash
    * match proves survivors ∪ delta == rebuild. */
  private def q163(s: SparkSession, dir: String): DataFrame = {
    // half of q158's roster (every 8th block of four): the gate pays the
    // full v0 edge derivation in-gate (the q157 history discipline), so
    // its fixture is sized to half the q158 corpus to keep registry cost
    // proportionate; its frames stage under their own key
    val r0 = videoRoster0(s, dir).where(pmod(col("clip_id"), lit(32L)) < 4)
    val kept = r0.where(pmod(col("clip_id"), lit(16L)) =!= 3)
      .select(col("clip_id"), col("base"), col("v"),
        when(pmod(col("clip_id"), lit(16L)) === 2, "vnz2").otherwise("vnz")
          .as("ntag"))
    val added = t(s, dir, "part")
      .where(pmod(col("p_partkey"), lit(32L)) === 0)
      .select((col("p_partkey") + 2000000L).as("clip_id"),
        col("p_partkey").as("base"), lit(0L).as("v"), lit("vnz").as("ntag"))
    val r1 = kept.unionByName(added)
    val f0 = stageFixture(s, "q163_frames_v0", dir)(videoFrames(r0))
      .repartition(64, col("clip_id"))
    val f1 = stageFixture(s, "q163_frames_v1", dir)(videoFrames(r1))
      .repartition(64, col("clip_id"))
    val prevEdges = Dedup.videoNearDupEdges(videoSeries(r0), f0, "clip_id",
      "series", "frame_idx", "matrix", cutThreshold = 5000.0,
      maxHamming = 6, minVotes = 2, bandBytes = 2)
    Dedup.videoNearDupEdgesDelta(videoSeries(r0), f0, prevEdges,
      videoSeries(r1), f1, "clip_id", "series", "frame_idx", "matrix",
      cutThreshold = 5000.0, maxHamming = 6, minVotes = 2, bandBytes = 2)
  }

  private val q163Sql = {
    val hp = md5LongSql("'vpx' || pxid || '_' || scene || '_' || i || '_' || g")
    val hn = md5LongSql("ntag || clip || '_' || kf || '_' || i || '_' || g")
    s"""WITH RECURSIVE clips AS (
       |  SELECT p_partkey AS clip, p_partkey - p_partkey % 4 AS base,
       |    p_partkey % 4 AS v,
       |    CASE WHEN p_partkey % 16 = 2 THEN 'vnz2' ELSE 'vnz' END AS ntag
       |  FROM part WHERE p_partkey % 32 < 4 AND p_partkey % 16 != 3
       |  UNION ALL
       |  SELECT p_partkey + 2000000, p_partkey, 0, 'vnz'
       |  FROM part WHERE p_partkey % 32 = 0),
       |sf AS (
       |  SELECT clip, f,
       |    10000 * (CASE WHEN f >= 12 + v THEN 1 ELSE 0 END
       |           + CASE WHEN f >= 24 + v THEN 1 ELSE 0 END
       |           + CASE WHEN f >= 36 + v THEN 1 ELSE 0 END) AS val
       |  FROM clips, range(48) t(f)),
       |dl AS (
       |  SELECT clip, f, val,
       |    lag(val) OVER (PARTITION BY clip ORDER BY f) AS pv
       |  FROM sf),
       |sh AS (
       |  SELECT clip, f,
       |    sum(CASE WHEN pv IS NOT NULL AND abs(val - pv) > 5000
       |        THEN 1 ELSE 0 END) OVER (PARTITION BY clip ORDER BY f) AS shot
       |  FROM dl),
       |kfs AS (
       |  SELECT clip, CAST(min(f) + count(*) // 2 AS BIGINT) AS kf
       |  FROM sh GROUP BY clip, shot),
       |fr AS (
       |  SELECT clip, ntag, frame_idx, scene,
       |    CASE WHEN scene = 99 THEN clip ELSE base END AS pxid
       |  FROM (
       |    SELECT clip, base, v, ntag, j AS scene,
       |      CASE WHEN j = 0 THEN (12 + v) // 2
       |           WHEN j = 3 THEN 36 + v + (12 - v) // 2
       |           ELSE 12 * j + v + 6 END AS frame_idx
       |    FROM clips, range(4) t(j)
       |    UNION ALL
       |    SELECT clip, base, v, ntag, 99 AS scene, 1 AS frame_idx
       |    FROM clips)),
       |ki AS (
       |  SELECT f.clip, f.frame_idx AS kf, f.pxid, f.scene, f.ntag
       |  FROM kfs k JOIN fr f ON f.clip = k.clip AND f.frame_idx = k.kf),
       |hx AS (
       |  SELECT clip, kf, i, g, $hp AS hp, $hn AS hn
       |  FROM ki, range(8) t(i), range(2) u(g)),
       |px AS (
       |  SELECT clip, kf, i, g * 6 + k AS j,
       |    (hp >> (8 * k)) % 256 + (hn >> (8 * k)) % 3 - 1 AS p
       |  FROM hx, range(6) w(k)
       |  WHERE g * 6 + k <= 8),
       |bands AS (
       |  SELECT a.clip, a.kf, a.i AS band,
       |    CAST(sum(CASE WHEN a.p > b.p THEN 1 << CAST(7 - a.j AS INT)
       |             ELSE 0 END) AS BIGINT) AS band_val
       |  FROM px a JOIN px b ON b.clip = a.clip AND b.kf = a.kf
       |    AND b.i = a.i AND b.j = a.j + 1
       |  GROUP BY 1, 2, 3),
       |b16 AS (
       |  SELECT clip, kf, band // 2 AS band,
       |    CAST(sum(CASE WHEN band % 2 = 0 THEN band_val * 256
       |             ELSE band_val END) AS BIGINT) AS band_val
       |  FROM bands GROUP BY 1, 2, 3),
       |cand AS (
       |  SELECT DISTINCT l.clip AS ca, l.kf AS ka, r.clip AS cb, r.kf AS kb
       |  FROM b16 l JOIN b16 r
       |    ON r.band = l.band AND r.band_val = l.band_val
       |    AND (l.clip < r.clip OR (l.clip = r.clip AND l.kf < r.kf))),
       |kfp AS (
       |  SELECT * FROM (
       |    SELECT c.ca, c.ka, c.cb, c.kb,
       |      CAST(sum(bit_count(xor(a.band_val, b.band_val))) AS BIGINT)
       |        AS hamming
       |    FROM cand c
       |    JOIN bands a ON a.clip = c.ca AND a.kf = c.ka
       |    JOIN bands b ON b.clip = c.cb AND b.kf = c.kb AND b.band = a.band
       |    GROUP BY 1, 2, 3, 4)
       |  WHERE hamming <= 6),
       |mp AS (
       |  SELECT ca AS clip_a, cb AS clip_b, ka, kb
       |  FROM kfp WHERE ca != cb),
       |ch AS (
       |  -- the lis_pairs order-consistency vote (see q158's oracle)
       |  SELECT clip_a, clip_b, ka, kb, 1 AS len FROM mp
       |  UNION ALL
       |  SELECT m.clip_a, m.clip_b, m.ka, m.kb, c.len + 1
       |  FROM ch c JOIN mp m ON m.clip_a = c.clip_a AND m.clip_b = c.clip_b
       |    AND m.ka > c.ka AND m.kb > c.kb)
       |SELECT clip_a, clip_b, CAST(max(len) AS BIGINT) AS n_votes
       |FROM ch GROUP BY 1, 2
       |HAVING max(len) >= 2""".stripMargin
  }

  /** Exponentially-decayed event popularity per type
    * (Stats.decayedCounts): power-of-two decay keeps the whole
    * freshness-weighted score EXACT in int64 (2^(30−age) per event, 0
    * past the horizon), order-independent, with one lossless final
    * division by 2^30 — the trending/recency-quota ranking that a
    * multiplicative 0.97^age decay can never sum engine-exactly. The
    * newest-day bound rides a one-row cross join, lazily. */
  private def q159(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_type"),
      expr("ts div 86400000000000").as("day"))
    Stats.decayedCounts(ev, "event_type", "day", horizonDays = 30)
  }

  private val q159Sql =
    """WITH e AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS d FROM events),
      |m AS (SELECT max(d) AS maxd FROM e),
      |w AS (
      |  SELECT event_type,
      |    CASE WHEN maxd - d <= 30
      |         THEN CAST(1 AS BIGINT) << CAST(30 - (maxd - d) AS INT)
      |         ELSE 0 END AS wt
      |  FROM e, m)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(wt) AS BIGINT) AS decayed,
      |  CAST(sum(wt) AS DOUBLE) / 1073741824.0 AS score
      |FROM w GROUP BY 1""".stripMargin

  /** Directed containment dedup signal (Dedup.containmentJoin): every
    * ordered (a, b) with |Sₐ∩S_b|/|Sₐ| >= 0.9 over 3-gram shingles —
    * the boilerplate-wrapped-copy detector symmetric Jaccard misses.
    * Fixture plants a syndication-wrapper copy of every 13th doc
    * (original text + appended footer), so each original is fully
    * contained in its wrapper while their Jaccard shrinks with the
    * wrapper; candidates pair only the contained side's rarest-shingle
    * prefix against the posting lists (no false negatives — the
    * asymmetric prefix-filter bound), the oracle is the brute-force
    * all-ordered-pairs join, so the hash match certifies exact
    * recall. */
  private def q160(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val wrapped = docs.where(pmod(col("doc_id"), lit(13L)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"),
          lit(" standard footer boilerplate appended by syndication wrapper"))
          .as("text"))
    Dedup.containmentJoin(docs.unionByName(wrapped), "doc_id", "text",
        threshold = 0.9, shingleN = 3)
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        round(col("containment"), 6).as("containment"))
  }

  private val q160Sql =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |    text || ' standard footer boilerplate appended by syndication wrapper'
       |  FROM documents WHERE doc_id % 13 = 0),
       |toks AS (SELECT doc_id, $toksSql AS tk FROM corpus),
       |sh AS (SELECT doc_id, $shinglesSql AS ts FROM toks),
       |h AS (
       |  SELECT doc_id, list_transform(ts, x -> ${md5LongSql("x")}) AS hs
       |  FROM sh WHERE len(ts) > 0)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(len(a.hs) AS BIGINT) AS n_a, CAST(len(b.hs) AS BIGINT) AS n_b,
       |  round(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |        / len(a.hs), 6) AS containment
       |FROM h a JOIN h b ON a.doc_id != b.doc_id
       |WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |      / len(a.hs) >= 0.9""".stripMargin

  /** Linear-interpolation grid resample (AsOf.gridResampleLinear): each
    * user's irregular cents series snapped to a 6-hour micro-second
    * grid, every grid point interpolated between its bracketing
    * observations with EXACT integer floor arithmetic
    * (v0·(t1−g)+v1·(g−t0) floor-div (t1−t0), spelled pmod-subtract so
    * Spark's truncating `div` and DuckDB's flooring `//` agree on
    * negative numerators); the LOCF tail past each user's last
    * observation carries v0, points before the first drop. The
    * continuous-signal sibling of q127's LOCF grid; two merge as-of
    * passes (backward + forward on the negated axis), never a window
    * over raw rows. */
  private def q161(s: SparkSession, dir: String): DataFrame = {
    val obs = t(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("us"),
        cents(col("value")).as("v"))
      .groupBy("user_id", "us").agg(max(col("v")).as("v"))
    AsOf.gridResampleLinear(obs, "user_id", "us", "v",
      stepNs = 21600000000L)
  }

  private val q161Sql =
    """WITH o AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |         max(CAST(round(value*100) AS BIGINT)) AS v
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT CAST(min(us) AS BIGINT) AS tmin,
      |             CAST(max(us) AS BIGINT) AS tmax FROM o),
      |gs AS (
      |  SELECT unnest(range(
      |    (tmin + 21600000000 - 1) // 21600000000 * 21600000000,
      |    tmax // 21600000000 * 21600000000 + 1,
      |    21600000000)) AS g
      |  FROM b),
      |grid AS (
      |  SELECT k.user_id, gs.g
      |  FROM (SELECT DISTINCT user_id FROM o) k, gs),
      |bk AS (
      |  SELECT g.user_id, g.g, o.us AS t0, o.v AS v0
      |  FROM grid g
      |  ASOF LEFT JOIN o ON g.user_id = o.user_id AND g.g >= o.us),
      |fw AS (
      |  SELECT bk.user_id, bk.g, bk.t0, bk.v0, o2.us AS t1, o2.v AS v1
      |  FROM bk
      |  ASOF LEFT JOIN o o2 ON bk.user_id = o2.user_id AND bk.g <= o2.us),
      |iv AS (
      |  SELECT user_id, g, t0, v0, t1, v1,
      |    v0 * (t1 - g) + v1 * (g - t0) AS num, t1 - t0 AS den
      |  FROM fw WHERE t0 IS NOT NULL)
      |SELECT user_id, CAST(g AS BIGINT) AS us,
      |  CAST(CASE WHEN t1 IS NULL OR den = 0 THEN v0
      |       ELSE (num - ((num % den) + den) % den) // den END AS BIGINT) AS v
      |FROM iv""".stripMargin

  /** Integer EWMA baseline per user (functions.ewma_shift): alpha = 1/8
    * as pure floor arithmetic — s' = s + ((x−s) >> 3) — so the trailing
    * anomaly/drift baseline is EXACT and order-stable where an IEEE
    * 0.875·s + 0.125·x recurrence drifts in the last ulp across
    * engines. One O(n) kernel pass per user over the sorted cents
    * series (the q144 token-bucket discipline); the oracle replays the
    * recurrence with a recursive CTE using the sign-safe floor spelling
    * (d − ((d%8+8)%8)) // 8, which `>>` equals for all signs. */
  private def q162(s: SparkSession, dir: String): DataFrame = {
    val series = t(s, dir, "events")
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        cents(col("value")).as("v")))).as("srt"))
      .select(col("user_id"), transform(col("srt"), x => x("v")).as("xs"))
    series
      .select(col("user_id"), col("xs"),
        posexplode(ewma_shift(col("xs"), 3)).as(Seq("pos", "s")))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("rn"),
        element_at(col("xs"), col("pos") + 1).as("x"), col("s"))
  }

  private val q162Sql =
    """WITH RECURSIVE s0 AS (
      |  SELECT user_id, CAST(round(value*100) AS BIGINT) AS x,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS rn
      |  FROM events),
      |r AS (
      |  SELECT user_id, rn, x, x AS s FROM s0 WHERE rn = 1
      |  UNION ALL
      |  SELECT n.user_id, n.rn, n.x,
      |    r.s + (n.x - r.s - (((n.x - r.s) % 8 + 8) % 8)) // 8
      |  FROM r JOIN s0 n ON n.user_id = r.user_id AND n.rn = r.rn + 1)
      |SELECT user_id, CAST(rn AS BIGINT) AS rn, x, CAST(s AS BIGINT) AS s
      |FROM r""".stripMargin

  /** SCD Type-2 as-of read (Snapshot.scdAsOf): the q146 three-version
    * timeline queried at version 1 must reproduce EXACTLY the v1
    * corpus fingerprints — the payoff of dimension versioning (any
    * historical corpus reconstructs from the history alone, no corpus
    * stored per release). The oracle bypasses the history entirely and
    * fingerprints the v1 snapshot directly, so the hash match proves
    * the timeline's validity intervals are right, not merely
    * self-consistent. One filter over the history — a partition prune
    * at scale, no join. */
  private def q164(s: SparkSession, dir: String): DataFrame = {
    val (v0, v1, v2) = recrawlFixture(t(s, dir, "documents"))
    val h0 = Snapshot.scdInit(v0, "doc_id", "text", version = 0L)
    val h1 = Snapshot.scdApply(h0, v1, "doc_id", "text", version = 1L)
    val h2 = Snapshot.scdApply(h1, v2, "doc_id", "text", version = 2L)
    Snapshot.scdAsOf(h2, version = 1L)
  }

  private val q164Sql =
    s"""WITH v1 AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0
       |                                THEN text || ' v2' ELSE text END
       |                   AS text
       |            FROM documents WHERE doc_id % 5 != 0)
       |SELECT doc_id, ${md5LongSql("text")} AS h FROM v1""".stripMargin

  /** WEIGHTED exact per-user median spend, doubled
    * (Stats.exactGroupWeightedMedianX2): each event counts
    * 1 + event_id % 5 times — the token-weighted / duration-weighted
    * order statistic, lo+hi under the 2·cumW >= W rule (reduces to
    * q151 at w = 1), NO floating point anywhere. Same checked
    * bounded-histogram contract as the unweighted family; the oracle
    * replays the weight histogram + cumulative picks. */
  private def q165(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), cents(col("value")).as("v"),
        (lit(1L) + pmod(col("event_id"), lit(5L))).as("w"))
    Stats.exactGroupWeightedMedianX2(ev, "user_id", "v", "w")
  }

  private val q165Sql =
    """WITH o AS (
      |  SELECT user_id, CAST(round(value*100) AS BIGINT) AS v,
      |    1 + event_id % 5 AS w
      |  FROM events),
      |h AS (
      |  SELECT user_id, v, CAST(sum(w) AS BIGINT) AS c
      |  FROM o GROUP BY 1, 2),
      |cw AS (
      |  SELECT user_id, v, c,
      |    sum(c) OVER (PARTITION BY user_id ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(c) OVER (PARTITION BY user_id) AS W
      |  FROM h)
      |SELECT user_id, CAST(max(W) AS BIGINT) AS w_total,
      |  CAST(sum(CASE WHEN 2*(cum-c) < W AND W <= 2*cum THEN v ELSE 0 END)
      |     + sum(CASE WHEN 2*(cum-c) <= W AND W < 2*cum THEN v ELSE 0 END)
      |    AS BIGINT) AS wmedian_x2
      |FROM cw WHERE W > 0 GROUP BY user_id""".stripMargin

  /** k-core of the collocation graph (Graph.kCoreMembers): 6 fixed
    * peeling rounds at k = 3 — the dense-subgraph extractor (tightly
    * co-occurring vocabulary survives, incidental collocations peel
    * away; on an engagement graph this is the spam-ring / link-farm
    * signal). Fixed rounds keep the job graph static and both engines
    * replay the identical truncated peel (== the exact k-core once
    * converged — property-pinned in GraphRangeSpec); the oracle unrolls
    * the six rounds as chained CTEs over the shared collocation
    * chain. */
  private def q166(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = TextAnalysis.buildDictionary(docs, "doc_id", "text",
      topK = 40, minLen = 4)
    val pairs = TextAnalysis.collocations(docs, "doc_id", "text", vocab,
        minPairDocs = 5)
      .select(col("term_a").as("u"), col("term_b").as("v"))
    Graph.kCoreMembers(pairs, k = 3, rounds = 6)
  }

  private val q166Sql = {
    val rounds = (1 to 6).map { i =>
      s"""d$i AS (SELECT u, count(*) AS c FROM e${i - 1} GROUP BY u),
         |k$i AS (SELECT u FROM d$i WHERE c >= 3),
         |e$i AS (SELECT e.u, e.v FROM e${i - 1} e
         |        JOIN k$i a ON a.u = e.u JOIN k$i b ON b.u = e.v)""".stripMargin
    }.mkString(",\n")
    collocCtes + s""",
       |ce AS (SELECT term_a AS u, term_b AS v FROM pairs WHERE n_ab >= 5),
       |e0 AS (SELECT u, v FROM ce UNION SELECT v, u FROM ce),
       |$rounds
       |SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
       |FROM e6 GROUP BY u""".stripMargin
  }

  /** Exact per-supplier Gini concentration of shipped quantities
    * (Stats.exactGroupGini): Σ|xi−xj| from cumulative count/sum over
    * the bounded value histogram (quantities are 1..50 — the checked
    * discrete-value contract), all integer until ONE final division —
    * the inequality/concentration profile (is this supplier's volume
    * spread across orders or concentrated in a few?) that at corpus
    * scale answers "how skewed is the crawl across domains". */
  private def q167(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_quantity").cast("long").as("qty"))
    Stats.exactGroupGini(li, "l_suppkey", "qty")
  }

  private val q167Sql =
    """WITH h AS (
      |  SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS v,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |cw AS (
      |  SELECT l_suppkey, v, c,
      |    coalesce(sum(c) OVER w, 0) AS nlt,
      |    coalesce(sum(v * c) OVER w, 0) AS slt
      |  FROM h
      |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |a AS (
      |  SELECT l_suppkey, CAST(sum(c) AS BIGINT) AS n,
      |    CAST(sum(v * c) AS BIGINT) AS sum_x,
      |    CAST(2 * sum(c * (v * nlt - slt)) AS BIGINT) AS mad_sum
      |  FROM cw GROUP BY 1)
      |SELECT l_suppkey, n, sum_x, mad_sum,
      |  CAST(mad_sum AS DOUBLE) / CAST(2 * n * sum_x AS DOUBLE) AS gini
      |FROM a WHERE sum_x > 0""".stripMargin

  /** Validation suite with the per-key monotonicity check
    * (Validate.MonotonicBy beside NotNull/InRange): "cents never drop
    * below the previous event's within a user's (ts, event_id)
    * timeline" — the event-log regression sanity a 100 TB ingest gate
    * runs (timestamps stepping backwards, versions regressing). The
    * row-predicate checks still fold into ONE aggregation; the
    * monotonic check costs one lag() window partitioned by user
    * (bounded by one user's rows, never global). */
  private def q168(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Validate._
    val ev = t(s, dir, "events")
      .withColumn("v", cents(col("value")))
    Validate.validate(ev, Seq(
      NotNull("user_id"),
      InRange("v", -1000000, 1000000),
      MonotonicBy(Seq("user_id"), "ts", "event_id", "v")))
  }

  private val q168Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(round(value*100) AS BIGINT) AS v
      |  FROM events),
      |m AS (
      |  SELECT v, lag(v) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    AS pv
      |  FROM e),
      |rep AS (
      |  SELECT 'not_null:user_id' AS check,
      |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS violations
      |  FROM e
      |  UNION ALL
      |  SELECT 'in_range:v',
      |    CAST(sum(CASE WHEN v IS NULL OR v < -1000000 OR v > 1000000
      |             THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM e
      |  UNION ALL
      |  SELECT 'monotonic:v',
      |    CAST(sum(CASE WHEN pv IS NOT NULL AND v < pv THEN 1 ELSE 0 END)
      |      AS BIGINT)
      |  FROM m)
      |SELECT rep.check, rep.violations, rep.violations = 0 AS passed
      |FROM rep""".stripMargin

  /** Trust-propagation hop distances (Graph.seedDistances): BFS from
    * the two lexicographically smallest collocation-graph terms, up to
    * 4 hops — the "how far is this node from the trusted seeds"
    * primitive (TrustRank's first stage; contamination blast-radius on
    * a near-dup graph). Fixed rounds, pure integer mins, one
    * edges⋈frontier join + map-side-combining min per round; the
    * oracle unrolls the four relaxation rounds as chained CTEs. */
  private def q169(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = TextAnalysis.buildDictionary(docs, "doc_id", "text",
      topK = 40, minLen = 4)
    val pairs = TextAnalysis.collocations(docs, "doc_id", "text", vocab,
        minPairDocs = 5)
      .select(col("term_a").as("u"), col("term_b").as("v"))
      .localCheckpoint() // nodes + seeds + BFS all read it
    val nodes = pairs.select(col("u").as("node"))
      .unionByName(pairs.select(col("v").as("node"))).distinct()
    val seeds = nodes.orderBy(col("node")).limit(2)
    Graph.seedDistances(pairs, seeds, maxHops = 4)
  }

  private val q169Sql = {
    val rounds = (1 to 4).map { i =>
      s"""s$i AS (
         |  SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
         |    SELECT node, d FROM s${i - 1}
         |    UNION ALL
         |    SELECT e.v AS node, s.d + 1 FROM s${i - 1} s
         |    JOIN e0 e ON e.u = s.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    collocCtes + s""",
       |ce AS (SELECT term_a AS u, term_b AS v FROM pairs WHERE n_ab >= 5),
       |e0 AS (SELECT u, v FROM ce UNION SELECT v, u FROM ce),
       |nodes AS (SELECT u AS node FROM e0),
       |s0 AS (SELECT node, 0 AS d FROM (
       |  SELECT DISTINCT node FROM nodes ORDER BY node LIMIT 2)),
       |$rounds
       |SELECT node, d AS dist FROM s4""".stripMargin
  }

  /** Longest consecutive-day activity streak per user
    * (Stats.longestStreak): the gaps-and-islands engagement statistic
    * — day − row_number islands inside ONE window partitioned by user,
    * then two integer aggregations; ties break to the earliest streak.
    * At corpus scale the same operator reports each crawl source's
    * longest unbroken coverage window. */
  private def q170(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"),
      expr("ts div 86400000000000").as("day"))
    Stats.longestStreak(ev, "user_id", "day")
  }

  private val q170Sql =
    """WITH d AS (SELECT DISTINCT user_id,
      |             epoch_ns(ts) // 86400000000000 AS day FROM events),
      |r AS (SELECT user_id, day,
      |        day - row_number() OVER (PARTITION BY user_id
      |          ORDER BY day) AS island
      |      FROM d),
      |i AS (SELECT user_id, island, CAST(count(*) AS BIGINT) AS len,
      |        min(day) AS start FROM r GROUP BY 1, 2),
      |b AS (SELECT user_id, len, start,
      |        row_number() OVER (PARTITION BY user_id
      |          ORDER BY len DESC, start ASC) AS rk,
      |        CAST(sum(len) OVER (PARTITION BY user_id) AS BIGINT)
      |          AS n_active_days
      |      FROM i)
      |SELECT user_id, n_active_days, len AS longest_streak,
      |  start AS streak_start
      |FROM b WHERE rk = 1""".stripMargin

  /** Growth accounting (Stats.growthAccounting): the per-day DAU
    * decomposition — new / retained / resurrected / churned users —
    * from two key-partitioned lag/lead windows and a day-bounded
    * rollup, all exact integer counts. The corpus-freshness report of
    * a continuous crawl (sources appearing / persisting / returning /
    * dropping out each day). */
  private def q171(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"),
      expr("ts div 86400000000000").as("day"))
    Stats.growthAccounting(ev, "user_id", "day")
  }

  private val q171Sql =
    """WITH d AS (SELECT DISTINCT user_id,
      |             epoch_ns(ts) // 86400000000000 AS day FROM events),
      |s AS (SELECT user_id, day,
      |        lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev,
      |        lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next
      |      FROM d),
      |st AS (SELECT day,
      |         CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
      |           AS BIGINT) AS n_new,
      |         CAST(sum(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END)
      |           AS BIGINT) AS n_retained,
      |         CAST(sum(CASE WHEN prev IS NOT NULL AND prev < day - 1
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      |       FROM s GROUP BY 1),
      |ch AS (SELECT day + 1 AS day, CAST(count(*) AS BIGINT)
      |         AS n_churned
      |       FROM s WHERE next IS NULL OR next > day + 1 GROUP BY 1)
      |SELECT coalesce(st.day, ch.day) AS day,
      |  coalesce(n_new, 0) AS n_new,
      |  coalesce(n_retained, 0) AS n_retained,
      |  coalesce(n_resurrected, 0) AS n_resurrected,
      |  coalesce(n_churned, 0) AS n_churned
      |FROM st FULL OUTER JOIN ch ON st.day = ch.day""".stripMargin

  /** Exact p90 of per-event cents per event type
    * (Stats.exactGroupQuantile, pNum/pDen = 9/10): the arbitrary-
    * rational order statistic — smallest value whose cumulative count
    * reaches ⌈9n/10⌉ — picked by pure integer rank comparisons over
    * the bounded value histogram. The tail-threshold primitive
    * (p99 latency, length cutoffs) with zero floating point. */
  private def q172(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"), cents(col("value")).as("v"))
    Stats.exactGroupQuantile(ev, "event_type", "v", pNum = 9L, pDen = 10L)
  }

  private val q172Sql =
    """WITH o AS (
      |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS v
      |  FROM events),
      |h AS (
      |  SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
      |  FROM o GROUP BY 1, 2),
      |cw AS (
      |  SELECT event_type, v, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS n
      |  FROM h)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN cum - c < (9 * n + 9) // 10
      |    AND (9 * n + 9) // 10 <= cum THEN v ELSE 0 END) AS BIGINT)
      |    AS q_value
      |FROM cw GROUP BY event_type, n""".stripMargin

  /** Degree assortativity of the collocation graph
    * (Graph.degreeAssortativity): do high-degree terms co-occur with
    * other hubs or with leaves — the Newman r over endpoint degrees,
    * reduced to FOUR integer sufficient statistics (2m stubs, Σdeg,
    * Σdeg², 2Σdu·dv) by two co-partitioned degree joins + one
    * map-side-combining aggregation, with ONE final double division.
    * On a link or near-dup graph the same statistic is the
    * star-farm / spam-ring shape detector. */
  private def q173(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = TextAnalysis.buildDictionary(docs, "doc_id", "text",
      topK = 40, minLen = 4)
    val pairs = TextAnalysis.collocations(docs, "doc_id", "text", vocab,
        minPairDocs = 5)
      .select(col("term_a").as("src"), col("term_b").as("dst"))
    Graph.degreeAssortativity(pairs)
  }

  private val q173Sql = collocCtes +
    """,
      |e AS (SELECT DISTINCT least(term_a, term_b) AS u,
      |        greatest(term_a, term_b) AS v
      |      FROM pairs WHERE n_ab >= 5 AND term_a <> term_b),
      |d AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |        SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      |      GROUP BY 1),
      |j AS (SELECT x.deg AS du, y.deg AS dv
      |      FROM e JOIN d x ON x.node = e.u JOIN d y ON y.node = e.v),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS m,
      |        CAST(sum(du + dv) AS BIGINT) AS s_deg,
      |        CAST(sum(du*du + dv*dv) AS BIGINT) AS s_deg_sq,
      |        CAST(2 * sum(du * dv) AS BIGINT) AS s_cross_x2
      |      FROM j)
      |SELECT m, s_deg, s_deg_sq, s_cross_x2,
      |  CAST(2*m*s_cross_x2 - s_deg*s_deg AS DOUBLE)
      |    / CAST(2*m*s_deg_sq - s_deg*s_deg AS DOUBLE) AS assortativity
      |FROM a""".stripMargin

  /** Per-user inversion count of event values over time
    * (Stats.groupInversions): the exact Kendall-tau disorder numerator
    * — how out-of-order is each user's cents series when walked by
    * (micros, event_id)? One sorted per-key collect + an O(n log n)
    * merge-sort kernel, never the O(n²) pair join the oracle replays.
    * The trend-direction / rank-churn diagnostic (is quality monotone
    * in crawl time; how much did rankings shuffle between builds). */
  private def q174(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("us"),
        col("event_id"), cents(col("value")).as("v"))
    Stats.groupInversions(ev, "user_id", Seq("us", "event_id"), "v")
  }

  private val q174Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id,
      |    CAST(round(value*100) AS BIGINT) AS v
      |  FROM events),
      |inv AS (
      |  SELECT a.user_id, CAST(count(*) AS BIGINT) AS c
      |  FROM e a JOIN e b ON a.user_id = b.user_id
      |    AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))
      |    AND a.v > b.v
      |  GROUP BY 1),
      |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM e
      |      GROUP BY 1)
      |SELECT n.user_id, n.n, coalesce(inv.c, 0) AS inversions,
      |  CAST(coalesce(inv.c, 0) AS DOUBLE)
      |    / CAST((n.n * (n.n - 1)) // 2 AS DOUBLE) AS disorder
      |FROM n LEFT JOIN inv ON n.user_id = inv.user_id""".stripMargin

  /** Per-source lexical diversity (TextAnalysis.lexicalDiversity):
    * tokens, types, hapax legomena, TTR and hapax share per crawl
    * source — the vocabulary-richness fingerprint separating prose
    * from boilerplate farms. One tokenize scan → a (source, token)
    * histogram bounded by vocabulary → one rollup; exact integer
    * counts, two fixed-shape double ratios. */
  private def q175(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lexicalDiversity(t(s, dir, "documents"), "source", "text")

  private val q175Sql =
    s"""WITH tok AS (SELECT source, unnest($toksSql) AS t FROM documents),
       |h AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
       |      FROM tok GROUP BY 1, 2),
       |a AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       |        CAST(count(*) AS BIGINT) AS n_types,
       |        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |          AS n_hapax
       |      FROM h GROUP BY 1)
       |SELECT source, n_tokens, n_types, n_hapax,
       |  CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
       |  CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE) AS hapax_ratio
       |FROM a""".stripMargin

  /** Per-user lag-1 autocorrelation of event cents over time
    * (Stats.groupAutocorr): Pearson r between each user's series and
    * its one-step successor, from SIX exact integer sufficient
    * statistics per key — trend persistence / periodicity in one
    * key-partitioned lag window plus a map-side-combining rollup; the
    * float tail (two sqrts, one division) is fixed-shape so r is
    * engine-exact. */
  private def q176(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("us"),
        col("event_id"), cents(col("value")).as("v"))
    Stats.groupAutocorr(ev, "user_id", Seq("us", "event_id"), "v", k = 1)
  }

  private val q176Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id,
      |    CAST(round(value*100) AS BIGINT) AS v
      |  FROM events),
      |l AS (
      |  SELECT user_id, v AS a,
      |    lead(v, 1) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      AS b
      |  FROM e),
      |g AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS m,
      |    CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
      |    CAST(sum(a*a) AS BIGINT) AS saa,
      |    CAST(sum(b*b) AS BIGINT) AS sbb,
      |    CAST(sum(a*b) AS BIGINT) AS sab
      |  FROM l WHERE b IS NOT NULL GROUP BY 1)
      |SELECT user_id, m, sab AS s_ab,
      |  CASE WHEN m*saa - sa*sa = 0 OR m*sbb - sb*sb = 0
      |    THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(m*sab - sa*sb AS DOUBLE)
      |      / (sqrt(CAST(m*saa - sa*sa AS DOUBLE))
      |         * sqrt(CAST(m*sbb - sb*sb AS DOUBLE)))
      |  END AS r
      |FROM g""".stripMargin

  /** χ²-distinctive vocabulary per source
    * (TextAnalysis.distinctiveTerms): tokens over-represented in each
    * crawl source vs the rest of the corpus, by the 2×2 contingency
    * chi-squared with positive association only — one tokenize scan,
    * marginal joins bounded by vocabulary, exact integer cells and a
    * fixed-shape double χ² tail. */
  private def q177(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.distinctiveTerms(t(s, dir, "documents"), "source",
      "text", minCount = 3L, minChi2 = 4.0)

  private val q177Sql =
    s"""WITH tok AS (SELECT source, unnest($toksSql) AS token
       |            FROM documents),
       |cell AS (SELECT source, token, CAST(count(*) AS BIGINT) AS a
       |         FROM tok GROUP BY 1, 2),
       |tt AS (SELECT token, CAST(sum(a) AS BIGINT) AS tt FROM cell
       |       GROUP BY 1),
       |gt AS (SELECT source, CAST(sum(a) AS BIGINT) AS gt FROM cell
       |       GROUP BY 1),
       |n AS (SELECT CAST(sum(a) AS BIGINT) AS n FROM cell),
       |x AS (SELECT cell.source, cell.token, cell.a,
       |        CAST(cell.a AS DOUBLE) AS ad_,
       |        CAST(tt.tt - cell.a AS DOUBLE) AS bd_,
       |        CAST(gt.gt - cell.a AS DOUBLE) AS cd_,
       |        CAST(n.n - tt.tt - gt.gt + cell.a AS DOUBLE) AS dd_,
       |        CAST(n.n AS DOUBLE) AS nd_
       |      FROM cell JOIN tt USING (token) JOIN gt USING (source)
       |      CROSS JOIN n)
       |SELECT source, token, a,
       |  nd_ * (ad_*dd_ - bd_*cd_) * (ad_*dd_ - bd_*cd_)
       |    / ((ad_+bd_) * (cd_+dd_) * (ad_+cd_) * (bd_+dd_)) AS chi2
       |FROM x
       |WHERE a >= 3 AND ad_*dd_ - bd_*cd_ > 0
       |  AND nd_ * (ad_*dd_ - bd_*cd_) * (ad_*dd_ - bd_*cd_)
       |    / ((ad_+bd_) * (cd_+dd_) * (ad_+cd_) * (bd_+dd_)) >= 4.0"""
      .stripMargin

  /** KWIC concordance for "data" served from the persisted positional
    * index (TextAnalysis.kwic): occurrences come from the index probe
    * (literal pushed to the postings scan — zero corpus rescan to find
    * matches); only MATCHED doc ids join back to documents for the
    * ±2-token context slices. The corpus-linguistics audit view of a
    * token, as a serving-path query. */
  private def q178(s: SparkSession, dir: String): DataFrame = {
    val idx = TextAnalysis.loadPositionalIndex(s, posIndexOnDisk(s, dir))
    TextAnalysis.kwic(idx.postings, t(s, dir, "documents"),
      "doc_id", "text", term = "data", window = 2)
  }

  private val q178Sql =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |occ AS (
       |  SELECT doc_id, tk,
       |    unnest(list_filter(list_transform(tk,
       |      (x, i) -> CASE WHEN x = 'data'
       |                     THEN CAST(i - 1 AS BIGINT) ELSE -1 END),
       |      p -> p >= 0)) AS pos
       |  FROM tk)
       |SELECT doc_id, pos,
       |  coalesce(array_to_string(
       |    list_slice(tk, greatest(pos - 2, 0) + 1, pos), ' '), '')
       |    AS left_ctx,
       |  tk[CAST(pos + 1 AS BIGINT)] AS keyword,
       |  coalesce(array_to_string(
       |    list_slice(tk, pos + 2, pos + 3), ' '), '') AS right_ctx
       |FROM occ""".stripMargin

  /** Reciprocal nearest-neighbor twins over the embedding corpus
    * (Similarity.reciprocalPairs ∘ bruteForceTopK k=1): pairs where
    * each vector is the other's single closest neighbor — the
    * high-precision near-dup filter that drops one-sided hub hits.
    * Rank-1 rows self-join co-partitioned on the id pair; the oracle
    * replays top-1 (rounded cosine, id tiebreak) and the mutuality
    * join declaratively. */
  private def q179(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.reciprocalPairs(Similarity.bruteForceTopK(emb, emb, k = 1))
  }

  private val q179Sql =
    s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
       |    round($cosSqlAB, 6) AS cos_sim
       |  FROM e a JOIN e b ON b.vec_id != a.vec_id),
       |t1 AS (
       |  SELECT query_id, cand_id, cos_sim FROM (
       |    SELECT query_id, cand_id, cos_sim,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos_sim DESC, cand_id ASC) AS rk
       |    FROM scored) WHERE rk = 1)
       |SELECT a.query_id AS id_a, a.cand_id AS id_b, a.cos_sim
       |FROM t1 a JOIN t1 b
       |  ON a.query_id = b.cand_id AND a.cand_id = b.query_id
       |WHERE a.query_id < a.cand_id""".stripMargin

  /** Run-length encoding of each user's event-type sequence
    * (Stats.stateRuns): consecutive equal types collapse into numbered
    * runs walked by (micros, event_id) — the behavioral-sequence
    * compression behind dwell profiles and sequence mining. Two
    * key-partitioned windows + one rollup, exact integer lengths. */
  private def q180(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("us"),
        col("event_id"), col("event_type"))
    Stats.stateRuns(ev, "user_id", Seq("us", "event_id"), "event_type")
  }

  private val q180Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id, event_type
      |  FROM events),
      |f AS (
      |  SELECT user_id, us, event_id, event_type,
      |    CASE WHEN lag(event_type) OVER
      |        (PARTITION BY user_id ORDER BY us, event_id)
      |      IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS nf
      |  FROM e),
      |r AS (
      |  SELECT user_id, event_type,
      |    sum(nf) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_idx
      |  FROM f)
      |SELECT user_id, CAST(run_idx AS BIGINT) AS run_idx,
      |  event_type AS state, CAST(count(*) AS BIGINT) AS run_len
      |FROM r GROUP BY 1, 2, 3""".stripMargin

  /** Benford first-digit profile of lineitem prices per return flag
    * (Stats.benfordProfile): leading digits from pure integer
    * floor-division, counts exact, expected shares shipped as the SAME
    * 17-digit literals to both engines — the fabricated-data detector
    * as a gate. */
  private def q181(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("v"))
    Stats.benfordProfile(li, "l_returnflag", "v")
  }

  private val q181Sql = {
    val shares = Stats.BenfordShare.zipWithIndex.map { case (sh, i) =>
      f"WHEN digit = ${i + 1} THEN CAST($sh%.17e AS DOUBLE)"
    }.mkString("\n  ")
    s"""WITH o AS (
       |  SELECT l_returnflag,
       |    CAST(round(l_extendedprice*100) AS BIGINT) AS v
       |  FROM lineitem),
       |h AS (
       |  SELECT l_returnflag,
       |    CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM o WHERE v > 0 GROUP BY 1, 2),
       |g AS (
       |  SELECT l_returnflag, digit, n,
       |    CAST(sum(n) OVER (PARTITION BY l_returnflag) AS BIGINT)
       |      AS n_group
       |  FROM h)
       |SELECT l_returnflag, digit, n, n_group,
       |  CAST(n AS DOUBLE) / CAST(n_group AS DOUBLE) AS share,
       |  CASE $shares END AS benford_share
       |FROM g""".stripMargin
  }

  /** Calibration (reliability) table of the q130 quality classifier
    * against the English label (Stats.calibrationTable, 10 bins):
    * integer fixed-width bins over the observed micro-score range with
    * the bounds joined in lazily; exact counts, fixed-shape mean/rate
    * divisions — "is a high score actually more often English". */
  private def q182(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scored = TextAnalysis.classifierQualityFilter(docs, "doc_id", "text",
      bias = -0.7, wMeanLen = 0.05, wAlpha = 0.4, wStop = 1.0, wDigit = -3.0)
      .select(col("doc_id"), col("score_micro"))
    val labeled = scored.join(
      docs.select(col("doc_id"), (col("lang") === "en").as("label")),
      "doc_id")
    Stats.calibrationTable(labeled, "score_micro", "label", nBins = 10)
  }

  private val q182Sql = classifierCtes +
    """,
      |sc AS (SELECT CAST(floor(z.z * 1000000.0) AS BIGINT) AS s,
      |              d.lang = 'en' AS label
      |       FROM z JOIN documents d ON z.doc_id = d.doc_id),
      |b AS (SELECT min(s) AS mn, max(s) AS mx FROM sc),
      |g AS (SELECT (s - mn) * 10 // (mx - mn + 1) AS bin, s, label
      |      FROM sc CROSS JOIN b),
      |a AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
      |          AS n_pos,
      |        CAST(sum(s) AS BIGINT) AS sum_score
      |      FROM g GROUP BY 1)
      |SELECT CAST(bin AS BIGINT) AS bin, n, n_pos, sum_score,
      |  CAST(sum_score AS DOUBLE) / CAST(n AS DOUBLE) AS mean_score,
      |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos
      |FROM a""".stripMargin

  /** Source-vocabulary Jaccard matrix (TextAnalysis.vocabJaccard):
    * pairwise distinct-token overlap between crawl sources — the
    * mirror/ twin-domain detector over a bounded source roster; exact
    * set counts, one fixed-shape division, canonical pairs. */
  private def q183(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabJaccard(t(s, dir, "documents"), "source", "text")

  private val q183Sql =
    s"""WITH v AS (SELECT DISTINCT source AS g, unnest($toksSql) AS token
       |           FROM documents),
       |sz AS (SELECT g, CAST(count(*) AS BIGINT) AS nv FROM v GROUP BY 1),
       |i AS (SELECT a.g AS g_a, b.g AS g_b,
       |        CAST(count(*) AS BIGINT) AS n_inter
       |      FROM v a JOIN v b ON a.token = b.token AND a.g < b.g
       |      GROUP BY 1, 2)
       |SELECT i.g_a, i.g_b, sa.nv AS n_a, sb.nv AS n_b, i.n_inter,
       |  CAST(i.n_inter AS DOUBLE)
       |    / CAST(sa.nv + sb.nv - i.n_inter AS DOUBLE) AS jaccard
       |FROM i JOIN sz sa ON sa.g = i.g_a JOIN sz sb ON sb.g = i.g_b"""
      .stripMargin

  /** Exact two-sample Kolmogorov–Smirnov drift per event type
    * (Stats.ksStatistic): cents distribution of the even-user cohort
    * vs the odd-user cohort — the A/B distribution-shift detector.
    * Cross-multiplied integer CDF gaps make the argmax exact; one
    * division after it. */
  private def q184(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"), (pmod(col("user_id"), lit(2L)) === 0L)
        .as("side"), cents(col("value")).as("v"))
    Stats.ksStatistic(ev, "event_type", "side", "v")
  }

  private val q184Sql =
    """WITH o AS (
      |  SELECT event_type, user_id % 2 = 0 AS side,
      |    CAST(round(value*100) AS BIGINT) AS v
      |  FROM events),
      |h AS (
      |  SELECT event_type, v,
      |    CAST(sum(CASE WHEN side THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN side THEN 0 ELSE 1 END) AS BIGINT) AS cb
      |  FROM o GROUP BY 1, 2),
      |cw AS (
      |  SELECT event_type, ca, cb,
      |    sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb,
      |    sum(ca) OVER (PARTITION BY event_type) AS na,
      |    sum(cb) OVER (PARTITION BY event_type) AS nb
      |  FROM h
      |  WINDOW w AS (PARTITION BY event_type ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |a AS (
      |  SELECT event_type, CAST(max(na) AS BIGINT) AS n_a,
      |    CAST(max(nb) AS BIGINT) AS n_b,
      |    CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS d_num
      |  FROM cw WHERE na > 0 AND nb > 0 GROUP BY 1)
      |SELECT event_type, n_a, n_b, d_num,
      |  CAST(d_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS d
      |FROM a""".stripMargin

  /** Event-type × weekday association (Stats.cramersV): χ²
    * independence + Cramér's V over the bounded contingency table —
    * "does behavior depend on the day of week". Cells and marginals
    * exact; per-cell χ² terms micro-quantized to integer nano-units so
    * the cross-cell sum is order-free and engine-exact. */
  private def q185(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type").as("a"),
        expr("pmod(ts div 86400000000000 + 4, 7)").as("b"))
    Stats.cramersV(ev, "a", "b")
  }

  private val q185Sql =
    """WITH o AS (
      |  SELECT event_type AS a,
      |    (epoch_ns(ts) // 86400000000000 + 4) % 7 AS b
      |  FROM events),
      |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
      |          FROM o GROUP BY 1, 2),
      |ra AS (SELECT a, CAST(sum(c) AS BIGINT) AS ra FROM cells
      |       GROUP BY 1),
      |cb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM cells
      |       GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
      |grid AS (
      |  SELECT ra.a, cb.b, ra.ra, cb.cb, coalesce(cells.c, 0) AS c,
      |    tot.n
      |  FROM ra CROSS JOIN cb
      |  LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b
      |  CROSS JOIN tot),
      |t AS (
      |  SELECT n,
      |    CAST(floor(
      |      CAST(n*c - ra*cb AS DOUBLE) * CAST(n*c - ra*cb AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE))
      |      * 1000000000.0) AS BIGINT) AS tn
      |  FROM grid),
      |k AS (SELECT (SELECT count(DISTINCT a) FROM cells) AS ka,
      |             (SELECT count(DISTINCT b) FROM cells) AS kb),
      |agg AS (
      |  SELECT CAST(max(n) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS n_cells,
      |    CAST(sum(tn) AS BIGINT) AS chi2_nano
      |  FROM t)
      |SELECT agg.n, agg.n_cells, agg.chi2_nano,
      |  CASE WHEN least(k.ka, k.kb) <= 1 THEN CAST('nan' AS DOUBLE)
      |    ELSE sqrt(CAST(agg.chi2_nano AS DOUBLE) / 1000000000.0
      |      / CAST(agg.n * (least(k.ka, k.kb) - 1) AS DOUBLE))
      |  END AS v
      |FROM agg CROSS JOIN k""".stripMargin

  /** Per-type daily burst detection (Stats.burstDays, shift=3,
    * threshold 3/2): a day bursts when its event count exceeds 1.5x
    * the trailing integer-EWMA baseline of previous days — exact int64
    * end to end (counts, the >>3 floor EWMA kernel, the cross-
    * multiplied threshold). The crawl-storm / hot-source detector. */
  private def q186(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_type"),
      expr("ts div 86400000000000").as("day"))
    Stats.burstDays(ev, "event_type", "day", shift = 3, num = 3L, den = 2L)
  }

  private val q186Sql =
    """WITH RECURSIVE c0 AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |s0 AS (
      |  SELECT event_type, day, c,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM c0),
      |r AS (
      |  SELECT event_type, rn, day, c, c AS s FROM s0 WHERE rn = 1
      |  UNION ALL
      |  SELECT n.event_type, n.rn, n.day, n.c,
      |    r.s + (n.c - r.s - (((n.c - r.s) % 8 + 8) % 8)) // 8
      |  FROM r JOIN s0 n ON n.event_type = r.event_type
      |    AND n.rn = r.rn + 1),
      |f AS (
      |  SELECT event_type, day, c,
      |    lag(s) OVER (PARTITION BY event_type ORDER BY rn) AS baseline
      |  FROM r)
      |SELECT event_type, day, c AS n_events,
      |  CAST(baseline AS BIGINT) AS baseline,
      |  CASE WHEN baseline IS NULL THEN false
      |       ELSE c * 2 > 3 * baseline END AS burst
      |FROM f""".stripMargin

  /** Vocabulary heavy-change movers between the even- and odd-doc_id
    * corpus halves (TextAnalysis.vocabDrift, k=25): top tokens by
    * absolute count change through a full-outer vocabulary merge and a
    * TakeOrdered top-k — the crawl-to-crawl drift report, exact. */
  private def q187(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.vocabDrift(docs.where(pmod(col("doc_id"), lit(2L)) === 0L),
      docs.where(pmod(col("doc_id"), lit(2L)) === 1L), "text", k = 25)
  }

  private val q187Sql =
    s"""WITH ca AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS n_a FROM (
       |    SELECT unnest($toksSql) AS token FROM documents
       |    WHERE doc_id % 2 = 0) GROUP BY 1),
       |cb AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS n_b FROM (
       |    SELECT unnest($toksSql) AS token FROM documents
       |    WHERE doc_id % 2 = 1) GROUP BY 1),
       |m AS (
       |  SELECT token, coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
       |  FROM ca FULL OUTER JOIN cb USING (token))
       |SELECT token, n_a, n_b, n_b - n_a AS delta,
       |  abs(n_b - n_a) AS abs_delta
       |FROM m
       |ORDER BY abs_delta DESC, token ASC LIMIT 25""".stripMargin

  /** Per-source classifier AUC (Stats.rankAucByKey): the q130
    * Mann-Whitney construction evaluated independently per crawl
    * source — a global AUC hides a source where the classifier is
    * blind; key-partitioned cumulative window over the bounded
    * histogram, exact U2, one division per key. */
  private def q188(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scored = TextAnalysis.classifierQualityFilter(docs, "doc_id", "text",
      bias = -0.7, wMeanLen = 0.05, wAlpha = 0.4, wStop = 1.0, wDigit = -3.0)
      .select(col("doc_id"), col("score_micro"))
    val labeled = scored.join(
      docs.select(col("doc_id"), col("source"),
        (col("lang") === "en").as("label")), "doc_id")
    Stats.rankAucByKey(labeled, "source", "score_micro", "label")
  }

  private val q188Sql = classifierCtes +
    """,
      |sc AS (SELECT d.source,
      |              CAST(floor(z.z * 1000000.0) AS BIGINT) AS s,
      |              d.lang = 'en' AS label
      |       FROM z JOIN documents d ON z.doc_id = d.doc_id),
      |h AS (SELECT source, s,
      |        CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
      |          AS np,
      |        CAST(sum(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT)
      |          AS nn
      |      FROM sc GROUP BY 1, 2),
      |c AS (SELECT source, np, nn,
      |        CAST(coalesce(sum(nn) OVER (PARTITION BY source ORDER BY s
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS BIGINT) AS below
      |      FROM h),
      |a AS (SELECT source, CAST(sum(np) AS BIGINT) AS n_pos,
      |        CAST(sum(nn) AS BIGINT) AS n_neg,
      |        CAST(sum(np * (2 * below + nn)) AS BIGINT) AS u2
      |      FROM c GROUP BY 1)
      |SELECT source, n_pos, n_neg, u2,
      |  CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
      |FROM a WHERE n_pos > 0 AND n_neg > 0""".stripMargin

  /** A/B purchase-rate z-test per event day-of-week
    * (Stats.twoProportionZ): even- vs odd-user cohorts, hit =
    * purchase event — four exact longs per key, fixed-shape IEEE z
    * tail; the conversion-significance primitive. */
  private def q189(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(expr("pmod(ts div 86400000000000 + 4, 7)").as("dow"),
        (pmod(col("user_id"), lit(2L)) === 0L).as("side"),
        (col("event_type") === "purchase").as("hit"))
    Stats.twoProportionZ(ev, "dow", "side", "hit")
  }

  private val q189Sql =
    """WITH o AS (
      |  SELECT (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
      |    user_id % 2 = 0 AS side, event_type = 'purchase' AS hit
      |  FROM events),
      |a AS (
      |  SELECT dow,
      |    CAST(sum(CASE WHEN side THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN side AND hit THEN 1 ELSE 0 END) AS BIGINT)
      |      AS x_a,
      |    CAST(sum(CASE WHEN NOT side THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_b,
      |    CAST(sum(CASE WHEN NOT side AND hit THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x_b
      |  FROM o GROUP BY 1)
      |SELECT dow, n_a, x_a, n_b, x_b,
      |  CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
      |  CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
      |  CASE WHEN x_a + x_b = 0 OR x_a + x_b = n_a + n_b
      |    THEN CAST('nan' AS DOUBLE)
      |    ELSE (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |          - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |      / sqrt(CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
      |        * (1.0 - CAST(x_a + x_b AS DOUBLE)
      |            / CAST(n_a + n_b AS DOUBLE))
      |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
      |  END AS z
      |FROM a WHERE n_a > 0 AND n_b > 0""".stripMargin

  /** Exact per-type CDF table of lineitem quantities
    * (Stats.exactGroupCdf): (below, equal, n, midrank pct_x2) per
    * (return flag, quantity) — the PURE-INTEGER percentile-
    * normalization lookup; one histogram + one key-partitioned
    * cumulative window. */
  private def q190(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
    Stats.exactGroupCdf(li, "l_returnflag", "q")
  }

  private val q190Sql =
    """WITH h AS (
      |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v,
      |    CAST(count(*) AS BIGINT) AS n_equal
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT l_returnflag, v, n_equal,
      |    CAST(coalesce(sum(n_equal) OVER (PARTITION BY l_returnflag
      |      ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS BIGINT) AS n_below,
      |    CAST(sum(n_equal) OVER (PARTITION BY l_returnflag) AS BIGINT)
      |      AS n
      |  FROM h)
      |SELECT l_returnflag, v, n_below, n_equal, n,
      |  2 * n_below + n_equal AS pct_x2
      |FROM c""".stripMargin

  /** Exact per-user Spearman rank correlation between event time and
    * cents (Stats.spearmanByKey): monotone spend trend per user with
    * midrank ties — doubled midranks come from the q190 CDF table
    * (Pearson is affine-invariant, so no half-ranks materialize), six
    * integer sums per key, fixed-shape float tail. */
  private def q191(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("us"),
        cents(col("value")).as("v"))
    Stats.spearmanByKey(ev, "user_id", "us", "v")
  }

  private val q191Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS us,
      |    CAST(round(value*100) AS BIGINT) AS v
      |  FROM events),
      |r AS (
      |  SELECT user_id,
      |    2*(rank() OVER (PARTITION BY user_id ORDER BY us) - 1)
      |      + count(*) OVER (PARTITION BY user_id, us) AS rx,
      |    2*(rank() OVER (PARTITION BY user_id ORDER BY v) - 1)
      |      + count(*) OVER (PARTITION BY user_id, v) AS ry
      |  FROM e),
      |g AS (
      |  -- HUGEINT sums mirror the Spark side's decimal(38,0) widening:
      |  -- the variance products grow as ~n^4/3 and overflow int64 at
      |  -- n ~ 73k rows per key, so BOTH engines form them in exact
      |  -- 128-bit integers and cast the identical value to double once
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(rx) AS HUGEINT) AS sx, CAST(sum(ry) AS HUGEINT) AS sy,
      |    CAST(sum(rx*rx) AS HUGEINT) AS sxx,
      |    CAST(sum(ry*ry) AS HUGEINT) AS syy,
      |    CAST(sum(rx*ry) AS HUGEINT) AS sxy
      |  FROM r GROUP BY 1)
      |SELECT user_id, n,
      |  CASE WHEN n*sxx - sx*sx = 0 OR n*syy - sy*sy = 0
      |    THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(n*sxy - sx*sy AS DOUBLE)
      |      / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
      |         * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
      |  END AS rho
      |FROM g""".stripMargin

  /** Mergeable RANK-QUANTILE sketch rollup (functions.rq_sketch — the
    * turnkey continuous-column route the exact median/CDF family's
    * bounded-histogram guards point at, with NO pre-chosen bin bounds
    * unlike q66's hist_agg): per-returnflag sketches of extended-price
    * cents merged into one corpus sketch, quantiles read off it. The
    * sketch is hash-level VALUE SAMPLING with exact per-value counts
    * (Gibbons' distinct-sampling idea applied to ranks — deterministic,
    * unlike KLL's coin-flip compaction), so the final state is a pure
    * function of the input multiset: the oracle replays the ONE-SHOT
    * sketch directly from raw values, and the hash match therefore
    * PROVES two-level merge == one-shot (the q61 discipline), not just
    * the estimator. Quantile picks are pure integer comparisons — the
    * Horvitz-Thompson 2^level scale cancels in the rank test. */
  private def q192(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("v"))
    li.groupBy("l_returnflag").agg(rq_sketch(col("v"), 512).as("sk"))
      .agg(rq_merge(col("sk"), 512).as("sk"))
      .select(rq_info(col("sk")).as("info"),
        rq_quantile(col("sk"), 1, 2).as("p50"),
        rq_quantile(col("sk"), 9, 10).as("p90"),
        rq_quantile(col("sk"), 99, 100).as("p99"))
      .select(col("info.level").as("level"),
        col("info.n_sample").as("n_sample"), col("info.n_est").as("n_est"),
        col("p50"), col("p90"), col("p99"))
  }

  private val q192Sql = {
    val h = md5LongSql("CAST(v AS VARCHAR)")
    """WITH vals AS (
      |  SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS v
      |  FROM lineitem),
      |hist AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM vals GROUP BY 1),
      |hv AS (SELECT v, c, HEXPR AS h FROM hist),
      |-- J* = the smallest level whose surviving distinct-value set fits
      |-- the budget; the Spark sketch reaches exactly this level under
      |-- ANY partitioning/merge tree (the merge == one-shot invariant)
      |lv AS (
      |  SELECT j, count(*) FILTER (
      |    WHERE (h & ((CAST(1 AS BIGINT) << CAST(j AS INT)) - 1)) = 0) AS nd
      |  FROM hv, range(0, 61) t(j) GROUP BY 1),
      |js AS (SELECT CAST(min(j) AS INTEGER) AS level FROM lv WHERE nd <= 512),
      |samp AS (
      |  SELECT v, c FROM hv, js
      |  WHERE (h & ((CAST(1 AS BIGINT) << CAST(level AS INT)) - 1)) = 0),
      |cum AS (
      |  SELECT v, sum(c) OVER (ORDER BY v) AS k, sum(c) OVER () AS total
      |  FROM samp),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_sample,
      |    CAST(sum(c) AS BIGINT) AS tot
      |  FROM samp),
      |q AS (
      |  SELECT min(v) FILTER (WHERE k * 2 >= 1 * total) AS p50,
      |    min(v) FILTER (WHERE k * 10 >= 9 * total) AS p90,
      |    min(v) FILTER (WHERE k * 100 >= 99 * total) AS p99
      |  FROM cum)
      |SELECT js.level, agg.n_sample,
      |  agg.tot * (CAST(1 AS BIGINT) << CAST(js.level AS INT)) AS n_est,
      |  q.p50, q.p90, q.p99
      |FROM js, agg, q""".stripMargin.replace("HEXPR", h)
  }

  /** PER-GROUP rank-quantile sketches (the q192 family grouped): one
    * rq_sketch per event type over the continuous cents column — the
    * turnkey per-group quantile route the exact median family's guards
    * reject continuous columns toward. Each group reaches its OWN
    * sampling level; the oracle replays every group's one-shot
    * construction, certifying the per-group determinism (budget 256
    * forces real sampling at sf >= 0.01). */
  private def q193(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"), cents(col("value")).as("v"))
    ev.groupBy("event_type").agg(rq_sketch(col("v"), 256).as("sk"))
      .select(col("event_type"),
        rq_info(col("sk")).getField("level").as("level"),
        rq_info(col("sk")).getField("n_sample").as("n_sample"),
        rq_info(col("sk")).getField("n_est").as("n_est"),
        rq_quantile(col("sk"), 1, 4).as("p25"),
        rq_quantile(col("sk"), 1, 2).as("p50"),
        rq_quantile(col("sk"), 3, 4).as("p75"))
  }

  private val q193Sql = {
    val h = md5LongSql("CAST(v AS VARCHAR)")
    """WITH e AS (
      |  SELECT event_type AS g, CAST(round(value*100) AS BIGINT) AS v
      |  FROM events),
      |hist AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2),
      |hv AS (SELECT g, v, c, HEXPR AS h FROM hist),
      |lv AS (
      |  SELECT g, j, count(*) FILTER (
      |    WHERE (h & ((CAST(1 AS BIGINT) << CAST(j AS INT)) - 1)) = 0) AS nd
      |  FROM hv, range(0, 61) t(j) GROUP BY 1, 2),
      |js AS (
      |  SELECT g, CAST(min(j) AS INTEGER) AS level
      |  FROM lv WHERE nd <= 256 GROUP BY 1),
      |samp AS (
      |  SELECT hv.g, v, c FROM hv JOIN js ON js.g = hv.g
      |  WHERE (h & ((CAST(1 AS BIGINT) << CAST(level AS INT)) - 1)) = 0),
      |cum AS (
      |  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS k,
      |    sum(c) OVER (PARTITION BY g) AS total
      |  FROM samp),
      |agg AS (
      |  SELECT g, CAST(count(*) AS BIGINT) AS n_sample,
      |    CAST(sum(c) AS BIGINT) AS tot
      |  FROM samp GROUP BY 1),
      |q AS (
      |  SELECT g, min(v) FILTER (WHERE k * 4 >= 1 * total) AS p25,
      |    min(v) FILTER (WHERE k * 2 >= 1 * total) AS p50,
      |    min(v) FILTER (WHERE k * 4 >= 3 * total) AS p75
      |  FROM cum GROUP BY 1)
      |SELECT js.g AS event_type, js.level, agg.n_sample,
      |  agg.tot * (CAST(1 AS BIGINT) << CAST(js.level AS INT)) AS n_est,
      |  q.p25, q.p50, q.p75
      |FROM js
      |JOIN agg ON agg.g = js.g
      |JOIN q ON q.g = js.g""".stripMargin.replace("HEXPR", h)
  }

  /** Exact per-user Kendall tau-b between event time and cents
    * (Stats.kendallTauB) — the pair-concordance twin of q191's
    * Spearman, with full tie corrections; x = time makes it the
    * Mann–Kendall trend test. Spark counts discordant pairs with the
    * O(n log n) merge-sort inversion kernel over (time, value)-sorted
    * values and derives concordant from exact tie histograms; the
    * oracle is the brute-force O(n²) pair join, so the hash match
    * certifies the kernel against the definition. */
  private def q194(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("us"),
        cents(col("value")).as("v"))
    Stats.kendallTauB(ev, "user_id", "us", "v")
  }

  private val q194Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS x,
      |    CAST(round(value*100) AS BIGINT) AS y
      |  FROM events),
      |p AS (
      |  SELECT a.user_id,
      |    CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
      |      OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
      |      OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS tx,
      |    CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS ty
      |  FROM e a JOIN e b
      |    ON b.user_id = a.user_id AND a.event_id < b.event_id
      |  GROUP BY 1),
      |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1)
      |SELECT n.user_id, n.n,
      |  coalesce(p.c, 0) AS concordant, coalesce(p.d, 0) AS discordant,
      |  CASE WHEN n.n * (n.n - 1) // 2 - coalesce(p.tx, 0) = 0
      |    OR n.n * (n.n - 1) // 2 - coalesce(p.ty, 0) = 0
      |    THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(coalesce(p.c, 0) - coalesce(p.d, 0) AS DOUBLE)
      |      / (sqrt(CAST(n.n * (n.n - 1) // 2 - p.tx AS DOUBLE))
      |         * sqrt(CAST(n.n * (n.n - 1) // 2 - p.ty AS DOUBLE)))
      |  END AS tau_b
      |FROM n LEFT JOIN p ON p.user_id = n.user_id""".stripMargin

  /** WEIGHTED rank-quantile sketch (functions.rq_sketch_w): quantity-
    * weighted quantiles of extended-price cents — "what price does the
    * median UNIT ship at" (each row counts l_quantity times), the
    * sketch sibling of the exact weighted median (q165) for continuous
    * columns. Same deterministic value-sampling construction with
    * weights folded into the exact counts; the oracle replays the
    * one-shot weighted build, n_est estimates TOTAL WEIGHT. */
  private def q195(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(cents(col("l_extendedprice")).as("v"),
        col("l_quantity").cast("long").as("w"))
    li.agg(rq_sketch_w(col("v"), col("w"), 512).as("sk"))
      .select(rq_info(col("sk")).getField("level").as("level"),
        rq_info(col("sk")).getField("n_sample").as("n_sample"),
        rq_info(col("sk")).getField("n_est").as("n_est"),
        rq_quantile(col("sk"), 1, 4).as("p25"),
        rq_quantile(col("sk"), 1, 2).as("p50"),
        rq_quantile(col("sk"), 9, 10).as("p90"))
  }

  private val q195Sql = {
    val h = md5LongSql("CAST(v AS VARCHAR)")
    """WITH vals AS (
      |  SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS v,
      |    CAST(l_quantity AS BIGINT) AS w
      |  FROM lineitem WHERE l_quantity > 0),
      |hist AS (SELECT v, CAST(sum(w) AS BIGINT) AS c FROM vals GROUP BY 1),
      |hv AS (SELECT v, c, HEXPR AS h FROM hist),
      |lv AS (
      |  SELECT j, count(*) FILTER (
      |    WHERE (h & ((CAST(1 AS BIGINT) << CAST(j AS INT)) - 1)) = 0) AS nd
      |  FROM hv, range(0, 61) t(j) GROUP BY 1),
      |js AS (SELECT CAST(min(j) AS INTEGER) AS level FROM lv WHERE nd <= 512),
      |samp AS (
      |  SELECT v, c FROM hv, js
      |  WHERE (h & ((CAST(1 AS BIGINT) << CAST(level AS INT)) - 1)) = 0),
      |cum AS (
      |  SELECT v, sum(c) OVER (ORDER BY v) AS k, sum(c) OVER () AS total
      |  FROM samp),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_sample,
      |    CAST(sum(c) AS BIGINT) AS tot
      |  FROM samp),
      |q AS (
      |  SELECT min(v) FILTER (WHERE k * 4 >= 1 * total) AS p25,
      |    min(v) FILTER (WHERE k * 2 >= 1 * total) AS p50,
      |    min(v) FILTER (WHERE k * 10 >= 9 * total) AS p90
      |  FROM cum)
      |SELECT js.level, agg.n_sample,
      |  agg.tot * (CAST(1 AS BIGINT) << CAST(js.level AS INT)) AS n_est,
      |  q.p25, q.p50, q.p90
      |FROM js, agg, q""".stripMargin.replace("HEXPR", h)
  }

  /** Sketch-based PERCENTILE NORMALIZATION for continuous columns
    * (functions.rq_cdf): every 23rd event's cents value mapped to its
    * estimated within-type percentile by ONE broadcast join against the
    * per-type rq sketches — the bounds-free twin of the q80 hist_cdf
    * normalization and the sketch twin of the exact q190 CDF table.
    * Integer sums, one final division — engine-exact given the sketch
    * replay (which q193 already certifies). */
  private def q196(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), cents(col("value")).as("v"))
    val sketches = ev.groupBy("event_type")
      .agg(rq_sketch(col("v"), 256).as("sk"))
    ev.where(pmod(col("event_id"), lit(23L)) === 0)
      .join(broadcast(sketches), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("v"),
        rq_cdf(col("sk"), col("v")).as("pct"))
  }

  private val q196Sql = {
    val h = md5LongSql("CAST(v AS VARCHAR)")
    """WITH e AS (
      |  SELECT event_id, event_type AS g,
      |    CAST(round(value*100) AS BIGINT) AS v
      |  FROM events),
      |hist AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2),
      |hv AS (SELECT g, v, c, HEXPR AS h FROM hist),
      |lv AS (
      |  SELECT g, j, count(*) FILTER (
      |    WHERE (h & ((CAST(1 AS BIGINT) << CAST(j AS INT)) - 1)) = 0) AS nd
      |  FROM hv, range(0, 61) t(j) GROUP BY 1, 2),
      |js AS (
      |  SELECT g, CAST(min(j) AS INTEGER) AS level
      |  FROM lv WHERE nd <= 256 GROUP BY 1),
      |samp AS (
      |  SELECT hv.g, v, c FROM hv JOIN js ON js.g = hv.g
      |  WHERE (h & ((CAST(1 AS BIGINT) << CAST(level AS INT)) - 1)) = 0),
      |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS total FROM samp GROUP BY 1),
      |sel AS (SELECT event_id, g, v FROM e WHERE event_id % 23 = 0),
      |cumv AS (
      |  SELECT sel.event_id, sel.g, sel.v,
      |    CAST(coalesce(sum(samp.c) FILTER (WHERE samp.v <= sel.v), 0)
      |      AS BIGINT) AS cum
      |  FROM sel LEFT JOIN samp ON samp.g = sel.g
      |  GROUP BY 1, 2, 3)
      |SELECT c.event_id, c.g AS event_type, c.v,
      |  CAST(c.cum AS DOUBLE) / CAST(t.total AS DOUBLE) AS pct
      |FROM cumv c JOIN tot t ON t.g = c.g""".stripMargin.replace("HEXPR", h)
  }

  /** Welch's unequal-variance t-test per day-of-week (Stats.welchT):
    * even- vs odd-user mean event value in cents — the continuous-metric
    * A/B readout beside q189's rate test. Six exact longs per key cross
    * the shuffle; the oracle replays the identical division/sqrt tail. */
  private def q197(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(expr("pmod(ts div 86400000000000 + 4, 7)").as("dow"),
        (pmod(col("user_id"), lit(2L)) === 0L).as("side"),
        cents(col("value")).as("x"))
    Stats.welchT(ev, "dow", "side", "x")
  }

  private val q197Sql =
    """WITH o AS (
      |  SELECT (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
      |    user_id % 2 = 0 AS side,
      |    CAST(round(value*100) AS BIGINT) AS x
      |  FROM events),
      |a AS (
      |  SELECT dow,
      |    CAST(sum(CASE WHEN side THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN side THEN x ELSE 0 END) AS BIGINT) AS s_a,
      |    CAST(sum(CASE WHEN side THEN x*x ELSE 0 END) AS BIGINT) AS ss_a,
      |    CAST(sum(CASE WHEN NOT side THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN NOT side THEN x ELSE 0 END) AS BIGINT) AS s_b,
      |    CAST(sum(CASE WHEN NOT side THEN x*x ELSE 0 END) AS BIGINT)
      |      AS ss_b
      |  FROM o GROUP BY 1),
      |b AS (
      |  SELECT dow, n_a, n_b,
      |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
      |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
      |    (CAST(n_a*ss_a - s_a*s_a AS DOUBLE)
      |       / CAST(n_a*(n_a-1) AS DOUBLE)) / CAST(n_a AS DOUBLE) AS ra,
      |    (CAST(n_b*ss_b - s_b*s_b AS DOUBLE)
      |       / CAST(n_b*(n_b-1) AS DOUBLE)) / CAST(n_b AS DOUBLE) AS rb
      |  FROM a WHERE n_a > 1 AND n_b > 1)
      |SELECT dow, n_a, n_b, mean_a, mean_b,
      |  CASE WHEN ra + rb = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE (mean_a - mean_b) / sqrt(ra + rb) END AS t,
      |  CASE WHEN ra + rb = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE (ra + rb) * (ra + rb)
      |      / (ra*ra / CAST(n_a-1 AS DOUBLE) + rb*rb / CAST(n_b-1 AS DOUBLE))
      |  END AS df
      |FROM b""".stripMargin

  /** CUPED variance-reduced lift per user segment (Stats.cupedAdjust):
    * unit = user, metric y = purchase spend, covariate x = view spend
    * (pre-treatment behavior predicting the metric), arm = user parity.
    * The pooled theta and both adjusted arm means replay from ten exact
    * longs per segment. */
  private def q198(s: SparkSession, dir: String): DataFrame = {
    val u = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "view", cents(col("value")))
          .otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", cents(col("value")))
          .otherwise(0L)).as("y"))
      .select(pmod(col("user_id"), lit(3L)).as("seg"),
        (pmod(col("user_id"), lit(2L)) === 0L).as("side"),
        col("y"), col("x"))
    Stats.cupedAdjust(u, "seg", "side", "y", "x")
  }

  private val q198Sql =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN event_type = 'view'
      |      THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS BIGINT)
      |      AS x,
      |    CAST(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS BIGINT)
      |      AS y
      |  FROM events GROUP BY 1),
      |o AS (SELECT user_id % 3 AS seg, user_id % 2 = 0 AS side, y, x FROM u),
      |a AS (
      |  SELECT seg,
      |    CAST(sum(CASE WHEN side THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN side THEN x ELSE 0 END) AS BIGINT) AS sx_a,
      |    CAST(sum(CASE WHEN side THEN y ELSE 0 END) AS BIGINT) AS sy_a,
      |    CAST(sum(CASE WHEN side THEN x*y ELSE 0 END) AS BIGINT) AS sxy_a,
      |    CAST(sum(CASE WHEN side THEN x*x ELSE 0 END) AS BIGINT) AS sxx_a,
      |    CAST(sum(CASE WHEN NOT side THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN NOT side THEN x ELSE 0 END) AS BIGINT) AS sx_b,
      |    CAST(sum(CASE WHEN NOT side THEN y ELSE 0 END) AS BIGINT) AS sy_b,
      |    CAST(sum(CASE WHEN NOT side THEN x*y ELSE 0 END) AS BIGINT)
      |      AS sxy_b,
      |    CAST(sum(CASE WHEN NOT side THEN x*x ELSE 0 END) AS BIGINT)
      |      AS sxx_b
      |  FROM o GROUP BY 1),
      |b AS (
      |  SELECT seg, n_a, n_b,
      |    (n_a + n_b) * (sxx_a + sxx_b)
      |      - (sx_a + sx_b) * (sx_a + sx_b) AS den,
      |    CAST((n_a + n_b) * (sxy_a + sxy_b)
      |        - (sx_a + sx_b) * (sy_a + sy_b) AS DOUBLE)
      |      / CAST((n_a + n_b) * (sxx_a + sxx_b)
      |        - (sx_a + sx_b) * (sx_a + sx_b) AS DOUBLE) AS theta,
      |    CAST(sx_a + sx_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS mxp,
      |    CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mya,
      |    CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS myb,
      |    CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mxa,
      |    CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mxb
      |  FROM a WHERE n_a > 0 AND n_b > 0)
      |SELECT seg, n_a, n_b,
      |  CASE WHEN den = 0 THEN CAST('nan' AS DOUBLE) ELSE theta END
      |    AS theta,
      |  mya - myb AS raw_delta,
      |  CASE WHEN den = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE mya - theta * (mxa - mxp) END AS adj_a,
      |  CASE WHEN den = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE myb - theta * (mxb - mxp) END AS adj_b,
      |  CASE WHEN den = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE (mya - theta * (mxa - mxp)) - (myb - theta * (mxb - mxp))
      |  END AS adj_delta
      |FROM b""".stripMargin

  /** Exact 10%-trimmed and winsorized mean price per return flag
    * (Stats.trimmedMeans): rows collapse to the per-(flag, cents)
    * histogram, the kept multiplicities are integer interval arithmetic
    * over the cumulative counts, and the oracle replays via literal
    * rank windows — same n, k, cut values, and both means bit-exact. */
  private def q199(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag").as("rf"),
        cents(col("l_extendedprice")).as("v"))
    Stats.trimmedMeans(li, "rf", "v", 1L, 10L)
  }

  private val q199Sql =
    """WITH o AS (
      |  SELECT l_returnflag AS rf,
      |    CAST(round(l_extendedprice*100) AS BIGINT) AS v
      |  FROM lineitem),
      |r AS (
      |  SELECT rf, v,
      |    row_number() OVER (PARTITION BY rf ORDER BY v) AS rn,
      |    CAST(count(*) OVER (PARTITION BY rf) AS BIGINT) AS n
      |  FROM o),
      |p AS (SELECT rf, n, (n * 1) // 10 AS k FROM r GROUP BY 1, 2),
      |kept AS (
      |  SELECT r.rf, r.v, p.n, p.k FROM r JOIN p USING (rf)
      |  WHERE r.rn > p.k AND r.rn <= p.n - p.k),
      |agg AS (
      |  SELECT rf, any_value(n) AS n, any_value(k) AS k,
      |    CAST(sum(v) AS BIGINT) AS ts, min(v) AS v_lo, max(v) AS v_hi
      |  FROM kept GROUP BY 1)
      |SELECT rf, n, k, v_lo, v_hi,
      |  CAST(ts AS DOUBLE) / CAST(n - 2*k AS DOUBLE) AS trimmed_mean,
      |  CAST(ts + k*v_lo + k*v_hi AS DOUBLE) / CAST(n AS DOUBLE)
      |    AS winsor_mean
      |FROM agg WHERE n > 2*k""".stripMargin

  /** Theil–Sen robust spend trend per user (Stats.theilSen): the median
    * of all pairwise (cents/second) slopes over each user's event
    * series — the O(n²) slope multiset lives inside ONE per-key array
    * kernel under a CHECKED row bound, while the ORACLE pays the
    * literal pair self-join and the same sorted-median pick. */
  private def q200(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000000000").as("x"),
        cents(col("value")).as("y"))
    Stats.theilSen(ev, "user_id", "x", "y")
  }

  private val q200Sql =
    """WITH o AS (
      |  SELECT user_id, epoch_ns(ts) // 1000000000 AS x,
      |    CAST(round(value*100) AS BIGINT) AS y
      |  FROM events),
      |nn AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
      |       FROM o GROUP BY 1),
      |p AS (
      |  SELECT a.user_id,
      |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS sl
      |  FROM o a JOIN o b ON a.user_id = b.user_id AND a.x < b.x),
      |r AS (
      |  SELECT user_id, sl,
      |    row_number() OVER (PARTITION BY user_id ORDER BY sl) AS rn,
      |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS m
      |  FROM p),
      |med AS (
      |  SELECT user_id, any_value(m) AS m,
      |    sum(CASE WHEN m % 2 = 1 AND rn = (m+1)//2 THEN sl
      |             WHEN m % 2 = 0 AND rn IN (m//2, m//2 + 1) THEN sl
      |        END) AS msum
      |  FROM r GROUP BY 1)
      |SELECT med.user_id, nn.n, med.m AS m_slopes,
      |  CASE WHEN med.m % 2 = 1 THEN med.msum ELSE med.msum / 2.0 END
      |    AS slope
      |FROM med JOIN nn ON nn.user_id = med.user_id""".stripMargin

  /** Per-dimension embedding health profile
    * (Similarity.embeddingDimProfile): n / n_zero / micro-quantized
    * min / max plus mean / variance DESCALED to raw embedding units —
    * the collapsed-dim / scale-drift monitor run before any ANN or
    * semantic-dedup pass trusts the vectors. Decimal(38,0) power sums
    * vs the oracle's HUGEINT, exact integer n·scale denominators on
    * both sides; bround = round_even on the half-even boundary (a
    * float ×10⁶ is EXACT in double, so .5 ties are reachable). */
  private def q201(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingDimProfile(t(s, dir, "embeddings"), "embedding")

  private val q201Sql =
    """WITH u AS (
      |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT)
      |      AS dim,
      |    unnest(embedding) AS e
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |x AS (
      |  SELECT dim,
      |    CAST(round_even(CAST(e AS DOUBLE) * 1000000, 0) AS BIGINT) AS q,
      |    e IS NULL AS isn
      |  FROM u),
      |a AS (
      |  SELECT dim,
      |    CAST(count(CASE WHEN NOT isn THEN 1 END) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN isn THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |    CAST(sum(CASE WHEN q = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |    min(q) AS q_min, max(q) AS q_max,
      |    sum(q) AS s, sum(q*q) AS ss
      |  FROM x GROUP BY 1)
      |SELECT dim, n, n_null, n_zero, q_min, q_max,
      |  CAST(s AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) AS mean,
      |  CAST(n*ss - s*s AS DOUBLE)
      |    / CAST(CAST(n * 1000000 AS HUGEINT)
      |           * CAST(n * 1000000 AS HUGEINT) AS DOUBLE) AS variance
      |FROM a""".stripMargin

  /** Sketch-scale KS drift per event type (functions.rq_ks): even- vs
    * odd-user value distributions compared through two 256-budget RQ
    * sketches built in ONE pass — the turnkey drift route for the
    * continuous columns q184's exact KS rejects. The oracle replays
    * BOTH sketch constructions (per-(type, side) level selection — the
    * q192 machinery) and the cross-multiplied max walk bit-for-bit. */
  private def q202(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"),
        (pmod(col("user_id"), lit(2L)) === 0L).as("side"),
        cents(col("value")).as("v"))
    ev.groupBy("event_type")
      .agg(rq_sketch(when(col("side"), col("v")), 256).as("ska"),
        rq_sketch(when(!col("side"), col("v")), 256).as("skb"))
      .select(col("event_type"), rq_ks(col("ska"), col("skb")).as("ks"))
      .where(col("ks").isNotNull)
      .select(col("event_type"), col("ks.n_a").as("n_a"),
        col("ks.n_b").as("n_b"), col("ks.d_num").as("d_num"),
        col("ks.d").as("d"))
  }

  private val q202Sql = {
    val h = md5LongSql("CAST(v AS VARCHAR)")
    """WITH e AS (
      |  SELECT event_type AS g, user_id % 2 = 0 AS side,
      |    CAST(round(value*100) AS BIGINT) AS v
      |  FROM events),
      |hist AS (
      |  SELECT g, side, v, CAST(count(*) AS BIGINT) AS c
      |  FROM e GROUP BY 1, 2, 3),
      |hv AS (SELECT g, side, v, c, HEXPR AS h FROM hist),
      |lv AS (
      |  SELECT g, side, j, count(*) FILTER (
      |    WHERE (h & ((CAST(1 AS BIGINT) << CAST(j AS INT)) - 1)) = 0) AS nd
      |  FROM hv, range(0, 61) t(j) GROUP BY 1, 2, 3),
      |js AS (
      |  SELECT g, side, CAST(min(j) AS INTEGER) AS level
      |  FROM lv WHERE nd <= 256 GROUP BY 1, 2),
      |samp AS (
      |  SELECT hv.g, hv.side, v, c
      |  FROM hv JOIN js ON js.g = hv.g AND js.side = hv.side
      |  WHERE (h & ((CAST(1 AS BIGINT) << CAST(level AS INT)) - 1)) = 0),
      |sa AS (SELECT g, v, c FROM samp WHERE side),
      |sb AS (SELECT g, v, c FROM samp WHERE NOT side),
      |vals AS (SELECT g, v FROM sa UNION SELECT g, v FROM sb),
      |m AS (
      |  SELECT vals.g, vals.v, coalesce(sa.c, 0) AS ca,
      |    coalesce(sb.c, 0) AS cb
      |  FROM vals
      |  LEFT JOIN sa ON sa.g = vals.g AND sa.v = vals.v
      |  LEFT JOIN sb ON sb.g = vals.g AND sb.v = vals.v),
      |cm AS (
      |  SELECT g,
      |    sum(ca) OVER (PARTITION BY g ORDER BY v) AS cuma,
      |    sum(cb) OVER (PARTITION BY g ORDER BY v) AS cumb,
      |    sum(ca) OVER (PARTITION BY g) AS ta,
      |    sum(cb) OVER (PARTITION BY g) AS tb
      |  FROM m)
      |SELECT g AS event_type,
      |  CAST(any_value(ta) AS BIGINT) AS n_a,
      |  CAST(any_value(tb) AS BIGINT) AS n_b,
      |  CAST(max(abs(cuma*tb - cumb*ta)) AS BIGINT) AS d_num,
      |  CAST(max(abs(cuma*tb - cumb*ta)) AS DOUBLE)
      |    / CAST(any_value(ta) * any_value(tb) AS DOUBLE) AS d
      |FROM cm
      |WHERE ta > 0 AND tb > 0
      |GROUP BY 1""".stripMargin.replace("HEXPR", h)
  }

  /** Simpson behavioral diversity per user (Stats.simpsonDiversity):
    * the log-free concentration index over event types — exact
    * rational arithmetic end to end (Shannon's ln has no
    * bit-reproducible cross-engine story; Gini–Simpson does). */
  private def q203(s: SparkSession, dir: String): DataFrame =
    Stats.simpsonDiversity(
      t(s, dir, "events").select(col("user_id"), col("event_type")),
      "user_id", "event_type")

  private val q203Sql =
    """WITH h AS (
      |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
      |a AS (
      |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS n_cats,
      |    CAST(sum(c*c) AS BIGINT) AS sumsq
      |  FROM h GROUP BY 1)
      |SELECT user_id, n, n_cats, sumsq,
      |  1.0 - CAST(sumsq AS DOUBLE) / CAST(n*n AS DOUBLE) AS simpson,
      |  CAST(n*n AS DOUBLE) / CAST(sumsq AS DOUBLE) AS inv_simpson
      |FROM a""".stripMargin

  /** Wilson score interval for the purchase rate per day-of-week
    * (Stats.wilsonInterval): the small-n-safe error bar beside q189's
    * z-test — (n, x) exact longs, fixed IEEE tail with the plan-literal
    * z = 1.96 identical in both engines. */
  private def q204(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(expr("pmod(ts div 86400000000000 + 4, 7)").as("dow"),
        (col("event_type") === "purchase").as("hit"))
    Stats.wilsonInterval(ev, "dow", "hit")
  }

  private val q204Sql =
    """WITH o AS (
      |  SELECT (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
      |    event_type = 'purchase' AS hit
      |  FROM events),
      |a AS (
      |  SELECT dow, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS x
      |  FROM o GROUP BY 1),
      |b AS (
      |  SELECT dow, n, x,
      |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p,
      |    1.0 + (1.96*1.96) / CAST(n AS DOUBLE) AS denom,
      |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
      |      + (1.96*1.96) / (2.0 * CAST(n AS DOUBLE)) AS center,
      |    1.96 * sqrt(
      |      (CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
      |        / CAST(n AS DOUBLE)
      |      + (1.96*1.96)
      |        / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS margin
      |  FROM a)
      |SELECT dow, n, x, p,
      |  (center - margin) / denom AS lo,
      |  (center + margin) / denom AS hi
      |FROM b""".stripMargin

  /** Murphy decomposition of the Brier score
    * (Stats.brierDecomposition) over a value-derived micro-prob
    * forecast of purchase: the total Brier is a pure integer sum
    * (decimal vs HUGEINT) with one division; REL/RES sum nano-floored
    * per-group terms (order-free — the cramersV discipline). */
  private def q205(s: SparkSession, dir: String): DataFrame = {
    // value-derived forecast clamped to the micro-prob range — the
    // operator now CHECKS 0 <= q <= 1e6 (a >$500 event would
    // otherwise feed a "probability" above 1)
    val ev = t(s, dir, "events")
      .select(least(cents(col("value")) * 20L, lit(1000000L)).as("q"),
        (col("event_type") === "purchase").as("l"))
    Stats.brierDecomposition(ev, "q", "l")
  }

  private val q205Sql =
    """WITH o AS (
      |  SELECT least(CAST(round(value*100) AS BIGINT) * 20, 1000000) AS q,
      |    event_type = 'purchase' AS l
      |  FROM events),
      |h AS (
      |  SELECT q, CAST(count(*) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN l THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |    sum(CASE WHEN l THEN (q - 1000000) * (q - 1000000)
      |        ELSE q * q END) AS se
      |  FROM o GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS nt, CAST(sum(x) AS BIGINT) AS xt
      |  FROM h),
      |terms AS (
      |  SELECT h.c, h.x, h.se,
      |    CAST(floor(CAST(h.c AS DOUBLE)
      |      * (CAST(h.q AS DOUBLE) / 1000000.0
      |         - CAST(h.x AS DOUBLE) / CAST(h.c AS DOUBLE))
      |      * (CAST(h.q AS DOUBLE) / 1000000.0
      |         - CAST(h.x AS DOUBLE) / CAST(h.c AS DOUBLE))
      |      * 1000000000.0) AS BIGINT) AS rel_t,
      |    CAST(floor(CAST(h.c AS DOUBLE)
      |      * (CAST(h.x AS DOUBLE) / CAST(h.c AS DOUBLE)
      |         - CAST(tot.xt AS DOUBLE) / CAST(tot.nt AS DOUBLE))
      |      * (CAST(h.x AS DOUBLE) / CAST(h.c AS DOUBLE)
      |         - CAST(tot.xt AS DOUBLE) / CAST(tot.nt AS DOUBLE))
      |      * 1000000000.0) AS BIGINT) AS res_t
      |  FROM h, tot)
      |SELECT tot.nt AS n,
      |  CAST((SELECT count(*) FROM h) AS BIGINT) AS n_groups,
      |  CAST((SELECT sum(se) FROM h) AS DOUBLE)
      |    / CAST(tot.nt * 1000000000000 AS DOUBLE) AS brier,
      |  CAST((SELECT sum(rel_t) FROM terms) AS BIGINT) AS rel_nano,
      |  CAST((SELECT sum(res_t) FROM terms) AS BIGINT) AS res_nano,
      |  CAST((SELECT sum(rel_t) FROM terms) AS DOUBLE)
      |    / (CAST(tot.nt AS DOUBLE) * 1000000000.0) AS rel,
      |  CAST((SELECT sum(res_t) FROM terms) AS DOUBLE)
      |    / (CAST(tot.nt AS DOUBLE) * 1000000000.0) AS res,
      |  (CAST(tot.xt AS DOUBLE) / CAST(tot.nt AS DOUBLE))
      |    * (1.0 - CAST(tot.xt AS DOUBLE) / CAST(tot.nt AS DOUBLE)) AS unc
      |FROM tot""".stripMargin

  /** CUSUM mean-shift alarms per user (Stats.cusumAlarms): the
    * sequential changepoint detector beside q162's EWMA baseline and
    * q186's burst test — exact integer accumulator with reset-on-alarm,
    * replayed by the oracle's recursive CTE. */
  private def q206(s: SparkSession, dir: String): DataFrame =
    Stats.cusumAlarms(
      t(s, dir, "events").select(col("user_id"), col("ts"), col("event_id"),
        cents(col("value")).as("v")),
      "user_id", Seq("ts", "event_id"), "v", ref = 5000L, h = 30000L)

  private val q206Sql =
    """WITH RECURSIVE s0 AS (
      |  SELECT user_id, CAST(round(value*100) AS BIGINT) AS x,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS rn
      |  FROM events),
      |r AS (
      |  SELECT user_id, rn, x,
      |    CAST(greatest(0, x - 5000) AS BIGINT) AS s
      |  FROM s0 WHERE rn = 1
      |  UNION ALL
      |  SELECT n.user_id, n.rn, n.x,
      |    CAST(greatest(0,
      |      (CASE WHEN r.s >= 30000 THEN 0 ELSE r.s END) + n.x - 5000)
      |      AS BIGINT)
      |  FROM r JOIN s0 n ON n.user_id = r.user_id AND n.rn = r.rn + 1)
      |SELECT user_id, CAST(rn AS BIGINT) AS rn, x, s, s >= 30000 AS alarm
      |FROM r""".stripMargin

  /** Seasonal-naive forecastability per user
    * (Stats.seasonalNaiveError): the exact MASE numerator/denominator
    * pair at season 5 — integer SADs from two key-partitioned lag
    * windows, one fixed-shape ratio. */
  private def q207(s: SparkSession, dir: String): DataFrame =
    Stats.seasonalNaiveError(
      t(s, dir, "events").select(col("user_id"), col("ts"), col("event_id"),
        cents(col("value")).as("v")),
      "user_id", Seq("ts", "event_id"), "v", season = 5)

  private val q207Sql =
    """WITH o AS (
      |  SELECT user_id, CAST(round(value*100) AS BIGINT) AS x,
      |    ts, event_id
      |  FROM events),
      |l AS (
      |  SELECT user_id, x,
      |    lag(x, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id, x)
      |      AS l1,
      |    lag(x, 5) OVER (PARTITION BY user_id ORDER BY ts, event_id, x)
      |      AS lm
      |  FROM o),
      |a AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(abs(x - lm)) AS BIGINT) AS sad_season,
      |    CAST(sum(abs(x - l1)) AS BIGINT) AS sad_naive
      |  FROM l GROUP BY 1)
      |SELECT user_id, n, sad_season, sad_naive,
      |  CASE WHEN sad_naive = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE (CAST(sad_season AS DOUBLE) / CAST(n - 5 AS DOUBLE))
      |      / (CAST(sad_naive AS DOUBLE) / CAST(n - 1 AS DOUBLE))
      |  END AS mase_x
      |FROM a WHERE n > 5""".stripMargin

  /** Pairwise association rules over order baskets (Assoc.pairRules):
    * co-purchased part pairs with support >= 2, confidence both ways
    * and lift — exact integer supports, three single-division ratios,
    * pair fan-out bounded per basket under a CHECKED contract. */
  private def q208(s: SparkSession, dir: String): DataFrame =
    Assoc.pairRules(
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey", minSupport = 2L)

  private val q208Sql =
    """WITH d AS (
      |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i
      |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      |isup AS (SELECT i, CAST(count(*) AS BIGINT) AS s FROM d GROUP BY 1),
      |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM d),
      |p AS (
      |  SELECT l.i AS item_a, r.i AS item_b,
      |    CAST(count(*) AS BIGINT) AS support_ab
      |  FROM d l JOIN d r ON l.b = r.b AND l.i < r.i
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT p.item_a, p.item_b, p.support_ab,
      |  a.s AS support_a, bb.s AS support_b,
      |  CAST(p.support_ab AS DOUBLE) / CAST(a.s AS DOUBLE) AS conf_a_b,
      |  CAST(p.support_ab AS DOUBLE) / CAST(bb.s AS DOUBLE) AS conf_b_a,
      |  CAST(nb.n * p.support_ab AS DOUBLE)
      |    / CAST(a.s * bb.s AS DOUBLE) AS lift
      |FROM p
      |JOIN isup a ON a.i = p.item_a
      |JOIN isup bb ON bb.i = p.item_b
      |CROSS JOIN nb""".stripMargin

  /** Deterministic label-propagation communities over the collocation
    * graph (Graph.labelPropagation): three synchronous rounds of
    * "most frequent neighbor label, ties to the smallest" — the
    * unique tie-break makes the whole trajectory SQL-replayable; the
    * oracle unrolls the rounds (the q166 kCore discipline). */
  private def q209(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = TextAnalysis.buildDictionary(docs, "doc_id", "text",
      topK = 40, minLen = 4)
    val pairs = TextAnalysis.collocations(docs, "doc_id", "text", vocab,
        minPairDocs = 5)
      .select(col("term_a").as("u"), col("term_b").as("v"))
    Graph.labelPropagation(pairs, rounds = 3)
  }

  private val q209Sql = {
    val rounds = (1 to 3).map { i =>
      s"""c$i AS (SELECT e.u AS node, l.label, count(*) AS c
         |        FROM e0 e JOIN l${i - 1} l ON l.node = e.v GROUP BY 1, 2),
         |l$i AS (SELECT node, label FROM (
         |          SELECT node, label, row_number() OVER (
         |            PARTITION BY node ORDER BY c DESC, label ASC) AS rn
         |          FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    collocCtes +
      s""",
         |flt AS (SELECT term_a, term_b FROM pairs WHERE n_ab >= 5),
         |e0 AS (SELECT term_a AS u, term_b AS v FROM flt
         |       UNION SELECT term_b, term_a FROM flt),
         |l0 AS (SELECT DISTINCT u AS node, u AS label FROM e0),
         |$rounds
         |SELECT node, label FROM l3""".stripMargin
  }

  /** Per-label embedding centroid drift between the even- and odd-id
    * halves of the corpus (Similarity.centroidDrift): cosine of the
    * quantized SUM vectors (the 1/n factors cancel — no per-key
    * division, exact decimal(38,0)/HUGEINT until two sqrts and one
    * division) — the encoder/corpus-mix drift monitor per slice. */
  private def q210(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("k"),
        col("embedding"))
    Similarity.centroidDrift(
      emb.where(pmod(col("vec_id"), lit(2L)) === 0L),
      emb.where(pmod(col("vec_id"), lit(2L)) === 1L),
      "k", "embedding")
  }

  private val q210Sql =
    """WITH u AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS k,
      |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
      |    CAST(round_even(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
      |      AS BIGINT) AS q
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |sa AS (SELECT k, dim, sum(q) AS s FROM u WHERE vec_id % 2 = 0
      |       GROUP BY 1, 2),
      |sb AS (SELECT k, dim, sum(q) AS s FROM u WHERE vec_id % 2 = 1
      |       GROUP BY 1, 2),
      |j AS (SELECT sa.k, sa.s AS x, sb.s AS y
      |      FROM sa JOIN sb ON sa.k = sb.k AND sa.dim = sb.dim),
      |g AS (SELECT k, sum(x*y) AS dot, sum(x*x) AS nx, sum(y*y) AS ny
      |      FROM j GROUP BY 1),
      |ca AS (SELECT CAST(label AS BIGINT) AS k,
      |         CAST(count(*) AS BIGINT) AS n_a
      |       FROM embeddings
      |       WHERE embedding IS NOT NULL AND vec_id % 2 = 0 GROUP BY 1),
      |cb AS (SELECT CAST(label AS BIGINT) AS k,
      |         CAST(count(*) AS BIGINT) AS n_b
      |       FROM embeddings
      |       WHERE embedding IS NOT NULL AND vec_id % 2 = 1 GROUP BY 1)
      |SELECT g.k, ca.n_a, cb.n_b, CAST(g.dot AS DOUBLE) AS dot,
      |  CASE WHEN g.nx = 0 OR g.ny = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(g.dot AS DOUBLE)
      |      / (sqrt(CAST(g.nx AS DOUBLE)) * sqrt(CAST(g.ny AS DOUBLE)))
      |  END AS cos
      |FROM g JOIN ca ON ca.k = g.k JOIN cb ON cb.k = g.k""".stripMargin

  /** KMV set-operation estimates over source vocabularies
    * (functions.kmv_set_ops): union / Jaccard / intersection per
    * source pair from two 64-entry bottom-k samples — the SKETCH twin
    * of q183's exact vocabJaccard: 190 pairs compared through 20
    * fixed-size sketches instead of a token self-join over the full
    * vocabulary. The oracle replays the bottom-k (ORDER BY h LIMIT k,
    * the q57 discipline) and the θ = min(τ_a, τ_b) merged walk. */
  private def q211(s: SparkSession, dir: String): DataFrame = {
    val vocab = t(s, dir, "documents")
      .select(col("source").as("g"), explode(ws_tokens(col("text")))
        .as("token"))
      .distinct()
    val sk = vocab
      .select(col("g"), md5_long(col("token")).as("h"))
      .groupBy(col("g"))
      .agg(bottom_k(struct(col("h"), col("h").as("id")), 64).as("bk"))
    sk.as("a").join(sk.as("b"), col("a.g") < col("b.g"))
      .select(col("a.g").as("g_a"), col("b.g").as("g_b"),
        kmv_set_ops(col("a.bk"), col("b.bk"), 64).as("o"))
      .select(col("g_a"), col("g_b"), col("o.tau").as("tau"),
        col("o.n_s").as("n_s"), col("o.n_common").as("n_common"),
        col("o.d_union").as("d_union"), col("o.jaccard").as("jaccard"),
        col("o.d_intersect").as("d_intersect"))
  }

  private val q211Sql = {
    val h = md5LongSql("token")
    s"""WITH v AS (SELECT DISTINCT source AS g, unnest($toksSql) AS token
       |           FROM documents),
       |hh AS (SELECT DISTINCT g, $h AS h FROM v),
       |r AS (SELECT g, h,
       |        row_number() OVER (PARTITION BY g ORDER BY h) AS rn
       |      FROM hh),
       |s AS (SELECT g, h FROM r WHERE rn <= 64),
       |tau AS (SELECT g,
       |          CASE WHEN count(*) = 64 THEN max(h)
       |               ELSE 1152921504606846976 END AS tau
       |        FROM s GROUP BY 1),
       |pr AS (SELECT ta.g AS g_a, tb.g AS g_b,
       |         CASE WHEN ta.tau < tb.tau THEN ta.tau ELSE tb.tau END
       |           AS tau
       |       FROM tau ta JOIN tau tb ON ta.g < tb.g),
       |m AS (SELECT p.g_a, p.g_b, p.tau, s.h,
       |        max(CASE WHEN s.g = p.g_a THEN 1 ELSE 0 END) AS ina,
       |        max(CASE WHEN s.g = p.g_b THEN 1 ELSE 0 END) AS inb
       |      FROM pr p JOIN s ON s.g IN (p.g_a, p.g_b) AND s.h < p.tau
       |      GROUP BY 1, 2, 3, 4),
       |agg AS (SELECT g_a, g_b, any_value(tau) AS tau,
       |          CAST(count(*) AS BIGINT) AS n_s,
       |          CAST(sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_common
       |        FROM m GROUP BY 1, 2)
       |SELECT g_a, g_b, tau, n_s, n_common,
       |  CASE WHEN tau = 1152921504606846976 THEN CAST(n_s AS DOUBLE)
       |    ELSE CAST(n_s AS DOUBLE) * 1152921504606846976.0
       |      / CAST(tau AS DOUBLE) END AS d_union,
       |  CASE WHEN n_s = 0 THEN CAST('nan' AS DOUBLE)
       |    ELSE CAST(n_common AS DOUBLE) / CAST(n_s AS DOUBLE)
       |  END AS jaccard,
       |  CASE WHEN tau = 1152921504606846976 THEN CAST(n_common AS DOUBLE)
       |    ELSE CAST(n_common AS DOUBLE) * 1152921504606846976.0
       |      / CAST(tau AS DOUBLE) END AS d_intersect
       |FROM agg""".stripMargin
  }

  /** Golden-record survivorship per user (Snapshot.goldenRecords):
    * latest-non-null-wins per attribute in ONE decomposable
    * aggregation — the entity-resolution merge step. Attributes are
    * deliberately sparse (errors carry no type, small events no spend)
    * so the picks genuinely skip nulls; the oracle replays each pick
    * with a per-attribute descending window over the non-null rows. */
  private def q212(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") =!= "error", col("event_type"))
          .as("last_type"),
        when(col("value") > 100.0, cents(col("value")))
          .as("last_big_cents"))
    Snapshot.goldenRecords(ev, "user_id", "event_id",
      Seq("ts", "event_id"), Seq("last_type", "last_big_cents"))
  }

  private val q212Sql =
    """WITH o AS (
      |  SELECT user_id, epoch_ns(ts) AS ts, event_id,
      |    CASE WHEN event_type != 'error' THEN event_type END AS lt,
      |    CASE WHEN value > 100.0 THEN CAST(round(value*100) AS BIGINT)
      |    END AS lb
      |  FROM events),
      |base AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_members,
      |    min(event_id) AS canonical_id
      |  FROM o GROUP BY 1),
      |p1 AS (
      |  SELECT user_id, lt FROM (
      |    SELECT user_id, lt, row_number() OVER (
      |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM o WHERE lt IS NOT NULL) WHERE rn = 1),
      |p2 AS (
      |  SELECT user_id, lb FROM (
      |    SELECT user_id, lb, row_number() OVER (
      |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM o WHERE lb IS NOT NULL) WHERE rn = 1)
      |SELECT b.user_id, b.n_members, b.canonical_id,
      |  p1.lt AS last_type, p2.lb AS last_big_cents
      |FROM base b
      |LEFT JOIN p1 ON p1.user_id = b.user_id
      |LEFT JOIN p2 ON p2.user_id = b.user_id""".stripMargin

  /** Personalized PageRank from a two-term seed set over the
    * collocation graph (Graph.personalizedPageRankInt): topic-
    * conditioned proximity instead of global importance — teleport
    * mass lands only on the seeds; integer-exact rounds unrolled by
    * the oracle (the q134 discipline, seed-masked base). */
  private def q213(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = TextAnalysis.buildDictionary(docs, "doc_id", "text",
      topK = 40, minLen = 4)
    val pairs = TextAnalysis.collocations(docs, "doc_id", "text", vocab,
        minPairDocs = 5)
      .select(col("term_a"), col("term_b"))
    val edges = pairs
      .select(col("term_a").as("src"), col("term_b").as("dst"))
      .unionByName(pairs.select(col("term_b").as("src"),
        col("term_a").as("dst")))
    val seeds = edges.select(col("src").as("node")).distinct()
      .orderBy(col("node")).limit(2)
    Graph.personalizedPageRankInt(edges, seeds, iterations = 3)
  }

  private val q213Sql = {
    val rounds = (1 to 3).map { i =>
      s"""r$i AS (
         |  SELECT nodes.node, nodes.seed,
         |    (CASE WHEN nodes.seed
         |       THEN (15 * 1000000000000)
         |         // (100 * (SELECT count(*) FROM seeds)) ELSE 0 END)
         |    + (85 * coalesce(s.s, 0)) // 100 AS rank
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(sum(r${i - 1}.rank // deg.deg) AS BIGINT) AS s
         |    FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node
         |    JOIN deg ON e.src = deg.src
         |    GROUP BY 1) s ON nodes.node = s.node)""".stripMargin
    }.mkString(",\n")
    collocCtes +
      s""",
         |e AS (SELECT term_a AS src, term_b AS dst FROM pairs
         |      WHERE n_ab >= 5
         |      UNION ALL
         |      SELECT term_b, term_a FROM pairs WHERE n_ab >= 5),
         |seeds AS (SELECT DISTINCT src AS node FROM e
         |          ORDER BY node LIMIT 2),
         |nodes AS (SELECT DISTINCT n.node,
         |            n.node IN (SELECT node FROM seeds) AS seed
         |          FROM (SELECT src AS node FROM e
         |                UNION SELECT dst FROM e
         |                UNION SELECT node FROM seeds) n),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |        FROM e GROUP BY 1),
         |r0 AS (SELECT node, seed,
         |         CASE WHEN seed
         |           THEN 1000000000000 // (SELECT count(*) FROM seeds)
         |           ELSE 0 END AS rank
         |       FROM nodes),
         |$rounds
         |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3""".stripMargin
  }

  /** Incremental association rules (Assoc.pairRulesDelta): supports
    * persisted from the two-thirds "history" baskets fold with the new
    * third in O(delta) — the oracle is q208's FULL rebuild over all
    * baskets (the q157 discipline), so the hash match proves
    * delta == rebuild, including pairs that crossed minSupport only
    * with the new batch's help. */
  private def q214(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val hist = li.where(pmod(col("l_orderkey"), lit(3L)) =!= 0L)
    val fresh = li.where(pmod(col("l_orderkey"), lit(3L)) === 0L)
    // ONE distinct pass shared by item supports, pair supports and the
    // basket count (was three separate distinct shuffles of the same
    // rows); the operators' inner distincts reuse the checkpointed
    // (b, i) partitioning exchange-free (guide §2.4)
    val dist = hist
      .select(col("l_orderkey").as("__b"), col("l_partkey").as("__i"))
      .where(col("__i").isNotNull && col("__b").isNotNull)
      .repartition(col("__b")).dropDuplicates("__b", "__i")
      .localCheckpoint()
    val prevItems = Assoc.itemSupports(dist, "__b", "__i")
    val prevPairs = Assoc.pairSupports(dist, "__b", "__i")
    val prevN = dist.select(col("__b")).distinct().count()
    Assoc.pairRulesDelta(prevItems, prevPairs, prevN, fresh,
      "l_orderkey", "l_partkey", minSupport = 2L)
  }

  private val q214Sql = q208Sql

  /** Exact quantile mapping per event type (Stats.quantileMap): odd
    * users' value distribution mapped onto the even users' scale by
    * CDF matching — cross-multiplied integer rank comparisons riding
    * the forward merge as-of exec; the oracle replays both CDFs and
    * the min-threshold pick with a negated-axis ASOF join. */
  private def q215(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"),
        (pmod(col("user_id"), lit(2L)) === 0L).as("side"),
        cents(col("value")).as("v"))
    Stats.quantileMap(
      ev.where(col("side")).select(col("event_type"), col("v")),
      ev.where(!col("side")).select(col("event_type"), col("v")),
      "event_type", "v")
  }

  private val q215Sql =
    """WITH o AS (
      |  SELECT event_type AS g, user_id % 2 = 0 AS side,
      |    CAST(round(value*100) AS BIGINT) AS v
      |  FROM events),
      |ha AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
      |       FROM o WHERE side GROUP BY 1, 2),
      |hb AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
      |       FROM o WHERE NOT side GROUP BY 1, 2),
      |ca AS (SELECT g, v,
      |         sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
      |         sum(c) OVER (PARTITION BY g) AS n
      |       FROM ha),
      |cb AS (SELECT g, v, c,
      |         2 * coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           + c AS px,
      |         sum(c) OVER (PARTITION BY g) AS n
      |       FROM hb),
      |arows AS (
      |  SELECT ca.g, -(ca.cum * 2 * nb.n) AS nax, ca.v AS va
      |  FROM ca JOIN (SELECT g, max(n) AS n FROM cb GROUP BY 1) nb
      |    ON nb.g = ca.g),
      |brows AS (
      |  SELECT cb.g, cb.v, -(cb.px * na.n) AS nax
      |  FROM cb JOIN (SELECT g, max(n) AS n FROM ca GROUP BY 1) na
      |    ON na.g = cb.g)
      |SELECT b.g AS event_type, b.v, a.va AS v_mapped
      |FROM brows b
      |ASOF JOIN arows a ON b.g = a.g AND b.nax >= a.nax""".stripMargin

  /** Exact per-user PEARSON correlation between event day and spend
    * cents (Stats.pearsonByKey): the linear-association member of the
    * per-key correlation triple next to q191 (Spearman) and q194
    * (Kendall) — six decimal(38,0) sufficient statistics per key
    * (HUGEINT in the oracle), fixed IEEE tail, n·B² contract CHECKED
    * before the aggregation runs. */
  private def q216(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), expr("ts div 86400000000000").as("d"),
        cents(col("value")).as("v"))
    Stats.pearsonByKey(ev, "user_id", "d", "v")
  }

  private val q216Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS d,
      |    CAST(round(value*100) AS BIGINT) AS v
      |  FROM events),
      |g AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(d) AS HUGEINT) AS sx, CAST(sum(v) AS HUGEINT) AS sy,
      |    CAST(sum(d*d) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(v AS HUGEINT)*v) AS HUGEINT) AS syy,
      |    CAST(sum(d*v) AS HUGEINT) AS sxy
      |  FROM e GROUP BY 1)
      |SELECT user_id, n,
      |  CASE WHEN n*sxx - sx*sx = 0 OR n*syy - sy*sy = 0
      |    THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(n*sxy - sx*sy AS DOUBLE)
      |      / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
      |         * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
      |  END AS r
      |FROM g""".stripMargin

  /** Newman modularity of the q209 label-propagation partition
    * (Graph.modularity): the partition-quality readout — integer
    * sufficient statistics (m, per-community stub degrees and
    * intra-edges) folded to ONE decimal(38,0)/HUGEINT numerator and
    * one double division; the oracle replays the LPA rounds AND the
    * score, so the hash pins the whole judge chain. */
  private def q217(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = TextAnalysis.buildDictionary(docs, "doc_id", "text",
      topK = 40, minLen = 4)
    // TWO consumers (labelPropagation's sym table AND modularity's
    // induced-edge table) — checkpoint once or the whole
    // tokenize+pair-explode collocation chain derives twice
    val pairs = TextAnalysis.collocations(docs, "doc_id", "text", vocab,
        minPairDocs = 5)
      .select(col("term_a").as("u"), col("term_b").as("v"))
      .localCheckpoint()
    Graph.modularity(pairs, Graph.labelPropagation(pairs, rounds = 3))
  }

  private val q217Sql = {
    val rounds = (1 to 3).map { i =>
      s"""c$i AS (SELECT e.u AS node, l.label, count(*) AS c
         |        FROM e0 e JOIN l${i - 1} l ON l.node = e.v GROUP BY 1, 2),
         |l$i AS (SELECT node, label FROM (
         |          SELECT node, label, row_number() OVER (
         |            PARTITION BY node ORDER BY c DESC, label ASC) AS rn
         |          FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    collocCtes +
      s""",
         |flt AS (SELECT term_a, term_b FROM pairs WHERE n_ab >= 5),
         |e0 AS (SELECT term_a AS u, term_b AS v FROM flt
         |       UNION SELECT term_b, term_a FROM flt),
         |l0 AS (SELECT DISTINCT u AS node, u AS label FROM e0),
         |$rounds,
         |lab AS (SELECT node, label FROM l3),
         |ce AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
         |       FROM e0 WHERE u != v),
         |ce2 AS (SELECT lu.label AS lu, lv.label AS lv
         |        FROM ce JOIN lab lu ON lu.node = ce.u
         |        JOIN lab lv ON lv.node = ce.v),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ce2),
         |dc AS (SELECT label, CAST(count(*) AS BIGINT) AS d_c FROM (
         |         SELECT lu AS label FROM ce2
         |         UNION ALL SELECT lv FROM ce2) GROUP BY 1),
         |ec AS (SELECT lu AS label, CAST(count(*) AS BIGINT) AS e_c
         |       FROM ce2 WHERE lu = lv GROUP BY 1),
         |per AS (SELECT dc.label, dc.d_c, coalesce(ec.e_c, 0) AS e_c
         |        FROM dc LEFT JOIN ec USING (label)),
         |agg AS (SELECT mm.m, CAST(count(*) AS BIGINT) AS n_communities,
         |          sum(CAST(4 AS HUGEINT) * mm.m * per.e_c
         |            - CAST(per.d_c AS HUGEINT) * per.d_c) AS num
         |        FROM per CROSS JOIN mm GROUP BY mm.m)
         |SELECT m, n_communities, CAST(num AS DOUBLE) AS q_num,
         |  CASE WHEN m = 0 THEN CAST('nan' AS DOUBLE)
         |    ELSE CAST(num AS DOUBLE)
         |      / CAST(CAST(4 AS HUGEINT) * m * m AS DOUBLE)
         |  END AS modularity
         |FROM agg""".stripMargin
  }

  /** Vocabulary growth curve over doc_id ingestion batches of 50
    * (TextAnalysis.vocabGrowth): per batch the token volume, the
    * never-seen-before type count, and the running vocabulary vs
    * running token totals — the Heaps-law saturation dial for a
    * growing crawl. Exact longs; the cumulative windows run over the
    * CHECKED bounded batch table only. */
  private def q218(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabGrowth(
      t(s, dir, "documents").withColumn("batch", expr("doc_id div 50")),
      "text", "batch")

  private val q218Sql =
    s"""WITH toks AS (
       |  SELECT doc_id // 50 AS batch, unnest($toksSql) AS tok
       |  FROM documents),
       |pb AS (SELECT batch, CAST(count(*) AS BIGINT) AS n_tokens
       |       FROM toks GROUP BY 1),
       |fs AS (SELECT min(batch) AS batch FROM toks GROUP BY tok),
       |nt AS (SELECT batch, CAST(count(*) AS BIGINT) AS new_types
       |       FROM fs GROUP BY 1),
       |c AS (SELECT pb.batch, pb.n_tokens,
       |        coalesce(nt.new_types, 0) AS new_types
       |      FROM pb LEFT JOIN nt USING (batch))
       |SELECT batch, n_tokens,
       |  CAST(sum(n_tokens) OVER (ORDER BY batch) AS BIGINT) AS cum_tokens,
       |  new_types,
       |  CAST(sum(new_types) OVER (ORDER BY batch) AS BIGINT) AS vocab_size
       |FROM c""".stripMargin

  /** HITS hubs/authorities over the bipartite user→event-type graph
    * (Graph.hitsInt, 2 rounds): which event types are authoritative
    * and which users are hub-like — fixed-round unnormalized integer
    * trajectory in decimal(38,0)/HUGEINT, one end normalization by
    * the global max; the oracle unrolls both half-rounds per round. */
  private def q219(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "events")
      .select(concat(lit("u"), col("user_id").cast("string")).as("src"),
        col("event_type").as("dst"))
    Graph.hitsInt(edges, rounds = 2)
  }

  private val q219Sql = {
    val half = (1 to 2).map { i =>
      s"""a$i AS (
         |  SELECT n.node, coalesce(s.s, 0) AS auth FROM nodes n
         |  LEFT JOIN (SELECT e.dst AS node,
         |               CAST(sum(h${i - 1}.hub) AS HUGEINT) AS s
         |             FROM e JOIN h${i - 1} ON h${i - 1}.node = e.src
         |             GROUP BY 1) s ON s.node = n.node),
         |h$i AS (
         |  SELECT n.node, coalesce(s.s, 0) AS hub FROM nodes n
         |  LEFT JOIN (SELECT e.src AS node,
         |               CAST(sum(a$i.auth) AS HUGEINT) AS s
         |             FROM e JOIN a$i ON a$i.node = e.dst
         |             GROUP BY 1) s ON s.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS src,
       |    event_type AS dst
       |  FROM events),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT node, CAST(1 AS HUGEINT) AS hub FROM nodes),
       |$half,
       |mx AS (SELECT max(hub) AS mh FROM h2),
       |ma AS (SELECT max(auth) AS ma FROM a2)
       |SELECT n.node,
       |  CASE WHEN mx.mh = 0 THEN 0.0
       |    ELSE CAST(h2.hub AS DOUBLE) / CAST(mx.mh AS DOUBLE) END AS hub,
       |  CASE WHEN ma.ma = 0 THEN 0.0
       |    ELSE CAST(a2.auth AS DOUBLE) / CAST(ma.ma AS DOUBLE) END AS auth
       |FROM nodes n
       |JOIN h2 ON h2.node = n.node JOIN a2 ON a2.node = n.node
       |CROSS JOIN mx CROSS JOIN ma""".stripMargin
  }

  /** Deterministic hash-ring negative sampling over the document ids
    * (Similarity.hashRingNegatives, k=3, 64 buckets): reproducible
    * contrastive negatives — first ring member at-or-after each probe
    * hash, wrap to the global minimum; the oracle replays the GLOBAL
    * rule (negated-axis ASOF LEFT join + wrap coalesce), which the
    * bucketed plan must equal exactly, so the hash match proves the
    * bucket decomposition sound. */
  private def q220(s: SparkSession, dir: String): DataFrame =
    Similarity.hashRingNegatives(
      t(s, dir, "documents").select(col("doc_id")), "doc_id",
      k = 3, buckets = 64)

  private val q220Sql = {
    def ringHash(e: String): String =
      s"""CAST(coalesce(list_reduce(
         |      list_prepend(CAST(0 AS BIGINT),
         |        list_transform(split($e, ''),
         |          c -> CAST(unicode(c) AS BIGINT))),
         |      (acc, x) -> (acc * 31 + x) % 2147483647), 0) AS BIGINT)"""
        .stripMargin
    s"""WITH ring AS (
       |  SELECT p, min(doc_id) AS rid FROM (
       |    SELECT doc_id,
       |      ${ringHash("CAST(doc_id AS VARCHAR)")} AS p
       |    FROM documents) GROUP BY 1),
       |probes AS (
       |  SELECT doc_id AS anchor_id, j AS probe,
       |    ${ringHash("CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)")} AS q
       |  FROM documents CROSS JOIN (SELECT unnest([1, 2, 3]) AS j)),
       |a AS (SELECT -p AS nax, p FROM ring),
       |b AS (SELECT anchor_id, probe, -q AS nax FROM probes),
       |m AS (SELECT b.anchor_id, b.probe, a.p AS pos
       |      FROM b ASOF LEFT JOIN a ON b.nax >= a.nax),
       |g AS (SELECT min(p) AS gp FROM ring)
       |SELECT m.anchor_id, m.probe, r.rid AS neg_id
       |FROM m CROSS JOIN g
       |JOIN ring r ON r.p = coalesce(m.pos, g.gp)
       |WHERE r.rid != m.anchor_id""".stripMargin
  }

  /** Kaplan–Meier churn-survival curves per user cohort
    * (Stats.kaplanMeier): duration = a user's active day span, event =
    * churned before the corpus's last day (still-active users are
    * right-censored) — risk sets from integer window arithmetic over
    * the CHECKED duration histogram, survival via the sequential
    * prefix_prod fold the oracle replays with list_reduce. */
  private def q221(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        expr("ts div 86400000000000").as("day"))
    // subject = a (user, event type) pair: duration = days from the
    // user's first activity to their LAST event of that type; event
    // observed ("abandoned the behavior") if that precedes the user's
    // own last active day, censored otherwise — real mixed censoring
    val span = ev.groupBy("user_id")
      .agg(min(col("day")).as("f"), max(col("day")).as("l"))
    val subj = ev.groupBy(col("user_id"), col("event_type"))
      .agg(max(col("day")).as("tl"))
      .join(span, "user_id")
      .select(col("event_type").as("cohort"),
        (col("tl") - col("f")).as("dur"), (col("tl") < col("l")).as("ev"))
    Stats.kaplanMeier(subj, "cohort", "dur", "ev")
  }

  private val q221Sql =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    epoch_ns(ts) // 86400000000000 AS day
      |  FROM events),
      |span AS (SELECT user_id, min(day) AS f, max(day) AS l
      |         FROM e GROUP BY 1),
      |tl AS (SELECT user_id, event_type, max(day) AS tl
      |       FROM e GROUP BY 1, 2),
      |subj AS (SELECT tl.event_type AS cohort, tl.tl - span.f AS t,
      |           tl.tl < span.l AS ev
      |         FROM tl JOIN span ON span.user_id = tl.user_id),
      |h AS (SELECT cohort, t,
      |        CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |        CAST(count(*) AS BIGINT) AS c
      |      FROM subj GROUP BY 1, 2),
      |r AS (SELECT cohort, t, d,
      |        CAST(sum(c) OVER (PARTITION BY cohort)
      |          - coalesce(sum(c) OVER (PARTITION BY cohort ORDER BY t
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS BIGINT) AS n_at_risk
      |      FROM h),
      |s AS (SELECT cohort, t, d, n_at_risk,
      |        CAST(n_at_risk - d AS DOUBLE) / CAST(n_at_risk AS DOUBLE)
      |          AS f
      |      FROM r WHERE d > 0),
      |arr AS (SELECT cohort,
      |          list(struct_pack(t := t, d := d, n := n_at_risk, f := f)
      |            ORDER BY t) AS l
      |        FROM s GROUP BY 1),
      |idx AS (SELECT cohort, l, generate_subscripts(l, 1) AS i FROM arr)
      |SELECT cohort, l[i].t AS t, l[i].d AS d, l[i].n AS n_at_risk,
      |  list_reduce(list_transform(l[1:i], x -> x.f), (a, b) -> a * b)
      |    AS survival
      |FROM idx""".stripMargin

  /** Difference-in-differences spend lift per event type
    * (Stats.diffInDiff): odd users "treated", the corpus midpoint day
    * splits pre/post — 2×2 exact integer cells per key, four double
    * means, fixed IEEE tail; NULL cell assignments rejected inside
    * the aggregation (the q189 lazy checked contract). */
  private def q222(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"), col("user_id"),
        expr("ts div 86400000000000").as("day"), cents(col("value")).as("v"))
    val mid = ev.agg(expr("(min(day) + max(day)) div 2").as("mid"))
    val cells = ev.crossJoin(mid)
      .select(col("event_type"),
        (pmod(col("user_id"), lit(2L)) === 1L).as("tr"),
        (col("day") >= col("mid")).as("po"), col("v"))
    Stats.diffInDiff(cells, "event_type", "tr", "po", "v")
  }

  private val q222Sql =
    """WITH e AS (
      |  SELECT event_type, user_id, epoch_ns(ts) // 86400000000000 AS day,
      |    CAST(round(value*100) AS BIGINT) AS v
      |  FROM events),
      |mid AS (SELECT (min(day) + max(day)) // 2 AS mid FROM e),
      |c AS (SELECT event_type, user_id % 2 = 1 AS tr, day >= mid.mid AS po,
      |        v
      |      FROM e CROSS JOIN mid),
      |g AS (SELECT event_type,
      |  CAST(sum(CASE WHEN tr AND po THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_t_post,
      |  CAST(sum(CASE WHEN tr AND po THEN v ELSE 0 END) AS BIGINT)
      |    AS s_t_post,
      |  CAST(sum(CASE WHEN tr AND NOT po THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_t_pre,
      |  CAST(sum(CASE WHEN tr AND NOT po THEN v ELSE 0 END) AS BIGINT)
      |    AS s_t_pre,
      |  CAST(sum(CASE WHEN NOT tr AND po THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_c_post,
      |  CAST(sum(CASE WHEN NOT tr AND po THEN v ELSE 0 END) AS BIGINT)
      |    AS s_c_post,
      |  CAST(sum(CASE WHEN NOT tr AND NOT po THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_c_pre,
      |  CAST(sum(CASE WHEN NOT tr AND NOT po THEN v ELSE 0 END) AS BIGINT)
      |    AS s_c_pre
      |  FROM c GROUP BY 1)
      |SELECT event_type, n_t_pre, n_t_post, n_c_pre, n_c_post,
      |  (CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
      |    - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
      |  - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
      |    - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)) AS did
      |FROM g
      |WHERE n_t_post > 0 AND n_t_pre > 0 AND n_c_post > 0 AND n_c_pre > 0"""
      .stripMargin

  /** Self-join cardinality estimate of events on user_id from two
    * count-min sketches (Sketches.cmsJoinSize, 4×64): the "will this
    * join explode" planner probe — min-over-rows inner product of
    * exact counter matrices, over-count-only error (width 64 is below
    * the user cardinality on purpose, so collisions actually fire);
    * the oracle replays every cell and the row products. */
  private def q223(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id").cast("string").as("k"))
    Sketches.cmsJoinSize(ev, col("k"), ev, col("k"), depth = 4, width = 64)
  }

  private val q223Sql = {
    val d = 4
    val w = 64
    s"""WITH k AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
       |kh AS (SELECT k, ${md5LongSql("k")} AS h FROM k),
       |cells AS (
       |  SELECT j.i AS row_j, ${sketchPosSql("kh.h", "j.i", w)} AS pos,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM kh CROSS JOIN range(0, $d) j(i)
       |  GROUP BY 1, 2),
       |rows_ AS (SELECT row_j, sum(cnt * cnt) AS s FROM cells GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM k)
       |SELECT n.n AS n_a, n.n AS n_b, CAST(min(s) AS BIGINT)
       |  AS est_join_size
       |FROM rows_ CROSS JOIN n GROUP BY n.n""".stripMargin
  }

  /** Last-touch revenue attribution (AsOf.lastTouchAttribution):
    * each purchase credits the latest click/view of the same user
    * within 3 days, else "(unattributed)" — the tolerance merge as-of
    * + one channel-sized rollup; Σ n_conversions must equal the
    * purchase count (the audit property), which the oracle's ASOF
    * LEFT replay preserves. */
  private def q224(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val conv = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), cents(col("value")).as("v"))
    val touch = ev.where(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts"), col("event_type"))
    AsOf.lastTouchAttribution(conv, touch, "user_id", "ts", "v",
      "event_type", tolerance = 3L * 86400L * 1000000000L)
  }

  private val q224Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) AS ts, event_type,
      |    CAST(round(value*100) AS BIGINT) AS v
      |  FROM events),
      |conv AS (SELECT user_id, ts, v FROM e WHERE event_type = 'purchase'),
      |touch AS (SELECT user_id, ts, max(event_type) AS ch FROM e
      |          WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
      |m AS (SELECT c.user_id, c.ts, c.v, t.ts AS mts, t.ch
      |      FROM conv c ASOF LEFT JOIN touch t
      |        ON c.user_id = t.user_id AND c.ts >= t.ts),
      |f AS (SELECT v,
      |        CASE WHEN mts IS NOT NULL AND ts - mts <= 259200000000000
      |          THEN ch END AS ch2
      |      FROM m)
      |SELECT coalesce(ch2, '(unattributed)') AS channel,
      |  CAST(count(*) AS BIGINT) AS n_conversions,
      |  CAST(sum(v) AS BIGINT) AS attributed_value
      |FROM f GROUP BY 1""".stripMargin

  /** Leave-one-out target encoding of event type against spend cents
    * (Stats.looTargetEncoding): the leakage-safe categorical feature —
    * category (Σy, n) pairs broadcast back, one exact subtraction and
    * ONE double division per row; NULL outcomes rejected up front. */
  private def q225(s: SparkSession, dir: String): DataFrame =
    Stats.looTargetEncoding(
      t(s, dir, "events").select(col("event_id"), col("event_type"),
        cents(col("value")).as("v")),
      "event_id", "event_type", "v")

  private val q225Sql =
    """WITH e AS (
      |  SELECT event_id, event_type, CAST(round(value*100) AS BIGINT) AS v
      |  FROM events),
      |c AS (SELECT event_type, CAST(sum(v) AS BIGINT) AS s,
      |        CAST(count(*) AS BIGINT) AS n
      |      FROM e GROUP BY 1)
      |SELECT e.event_id, e.event_type, e.v,
      |  CASE WHEN c.n > 1
      |    THEN CAST(c.s - e.v AS DOUBLE) / CAST(c.n - 1 AS DOUBLE)
      |  END AS loo
      |FROM e JOIN c USING (event_type)""".stripMargin

  /** RAKE keyword phrases over the corpus (TextAnalysis.rakePhrases,
    * top 25): stopword roster = the 15 highest-document-frequency
    * tokens (buildDictionary), phrases = non-stopword islands,
    * deg/freq word scores summed left-to-right — the oracle replays
    * the islands (pos − row_number), every integer stat, and the
    * 0.0-seeded sequential fold. */
  private def q226(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val stop = TextAnalysis.buildDictionary(docs, "doc_id", "text",
      topK = 15, minLen = 1)
    TextAnalysis.rakePhrases(docs, "doc_id", "text", stop, k = 25)
  }

  private val q226Sql =
    s"""WITH tk AS (
       |  SELECT doc_id, unnest($toksSql) AS tok,
       |    generate_subscripts($toksSql, 1) - 1 AS pos
       |  FROM documents),
       |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM (
       |          SELECT DISTINCT doc_id, tok FROM tk) GROUP BY 1),
       |roster AS (SELECT tok FROM dfq ORDER BY df DESC, tok ASC LIMIT 15),
       |ns AS (SELECT doc_id, tok, pos FROM tk
       |       WHERE tok NOT IN (SELECT tok FROM roster)),
       |isl AS (SELECT doc_id, tok, pos,
       |          pos - row_number() OVER (PARTITION BY doc_id
       |            ORDER BY pos) AS g
       |        FROM ns),
       |ph AS (SELECT doc_id, g,
       |         array_to_string(list(tok ORDER BY pos), ' ') AS phrase,
       |         CAST(count(*) AS BIGINT) AS len
       |       FROM isl GROUP BY 1, 2),
       |stats AS (SELECT i.tok, CAST(count(*) AS BIGINT) AS freq,
       |            CAST(sum(p.len) AS BIGINT) AS deg
       |          FROM isl i JOIN ph p
       |            ON p.doc_id = i.doc_id AND p.g = i.g
       |          GROUP BY 1),
       |sc AS (SELECT i.doc_id, i.g,
       |         list(CAST(s.deg AS DOUBLE) / CAST(s.freq AS DOUBLE)
       |           ORDER BY i.pos) AS scs
       |       FROM isl i JOIN stats s ON s.tok = i.tok GROUP BY 1, 2),
       |inst AS (SELECT p.phrase,
       |           list_reduce(list_prepend(0.0, sc.scs),
       |             (a, b) -> a + b) AS score
       |         FROM ph p JOIN sc ON sc.doc_id = p.doc_id AND sc.g = p.g)
       |SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
       |  max(score) AS score
       |FROM inst GROUP BY 1
       |ORDER BY score DESC, phrase ASC LIMIT 25""".stripMargin

  /** Rolling 8-point OLS spend trend per user (Stats.rollingOlsSlope):
    * the "how fast is it moving NOW" monitor — exact long sums over a
    * sliding window frame, x = the per-key sequence index, ONE double
    * division per emitted row; identical SQL frames replay it. */
  private def q227(s: SparkSession, dir: String): DataFrame =
    Stats.rollingOlsSlope(
      t(s, dir, "events").select(col("user_id"),
        expr("ts div 1000").as("us"), col("event_id"),
        cents(col("value")).as("v")),
      "user_id", "us", "event_id", "v", window = 8)

  private val q227Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id,
      |    CAST(round(value*100) AS BIGINT) AS v
      |  FROM events),
      |r AS (SELECT user_id, us, event_id, v,
      |        CAST(row_number() OVER (PARTITION BY user_id
      |          ORDER BY us, event_id) AS BIGINT) AS x
      |      FROM e),
      |f AS (SELECT user_id, us, event_id,
      |        CAST(count(*) OVER wf AS BIGINT) AS n,
      |        CAST(sum(x) OVER wf AS BIGINT) AS sx,
      |        CAST(sum(v) OVER wf AS BIGINT) AS sy,
      |        CAST(sum(x*v) OVER wf AS BIGINT) AS sxy,
      |        CAST(sum(x*x) OVER wf AS BIGINT) AS sxx
      |      FROM r WINDOW wf AS (PARTITION BY user_id
      |        ORDER BY us, event_id
      |        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
      |SELECT user_id, us, event_id, n,
      |  CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
      |    AS slope
      |FROM f WHERE n = 8""".stripMargin

  /** Peak concurrent open shipments per supplier
    * (RangeJoin.peakConcurrency): shipment intervals quantity-scaled
    * from the ship date, half-open sweep line (+1/−1 boundary rows,
    * closes before opens at a tie), exact integer running sums per
    * key; peak + earliest onset. */
  private def q228(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_suppkey"),
      expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
        .as("s"),
      (expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
        + lit(1L) + expr("cast(l_quantity as long) div 10")).as("e"))
    RangeJoin.peakConcurrency(li, "l_suppkey", "s", "e")
  }

  private val q228Sql =
    """WITH iv AS (
      |  SELECT l_suppkey AS k, epoch_us(l_shipdate) // 86400000000 AS s,
      |    epoch_us(l_shipdate) // 86400000000 + 1
      |      + CAST(l_quantity AS BIGINT) // 10 AS e
      |  FROM lineitem),
      |pts AS (SELECT k, s AS p, CAST(1 AS BIGINT) AS d FROM iv
      |        UNION ALL
      |        SELECT k, e, CAST(-1 AS BIGINT) FROM iv),
      |r AS (SELECT k, p,
      |        CAST(sum(d) OVER (PARTITION BY k ORDER BY p, d
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS BIGINT) AS live
      |      FROM pts),
      |rk AS (SELECT k, p, live, row_number() OVER (PARTITION BY k
      |         ORDER BY live DESC, p ASC) AS rn
      |       FROM r)
      |SELECT k AS l_suppkey, live AS peak, p AS peak_at
      |FROM rk WHERE rn = 1""".stripMargin

  /** Link prediction over the part co-purchase graph
    * (Graph.linkPrediction, top 30): parts bought together in >= 2
    * baskets form the edges (the q208 association shape); the
    * missing-edge candidates — wedge-join common neighbors under the
    * CHECKED degree bound, existing edges anti-joined away, exact
    * Jaccard tail — are "parts that should co-sell but don't yet". */
  private def q229(s: SparkSession, dir: String): DataFrame = {
    // same one-exchange co-partitioned self-join shape as q237
    val d = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
      .where(col("b").isNotNull && col("i").isNotNull)
      .repartition(col("b")).dropDuplicates("b", "i").localCheckpoint()
    val pairs = d.as("l").join(d.as("r"), col("l.b") === col("r.b")
        && col("l.i") < col("r.i"))
      .groupBy(col("l.i").as("u"), col("r.i").as("v"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= 2L)
      .select(col("u"), col("v"))
    Graph.linkPrediction(pairs, minCommon = 2L, k = 30)
  }

  private val q229Sql =
    s"""WITH d AS (
       |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i
       |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
       |ce AS (SELECT l.i AS u, r.i AS v FROM d l
       |       JOIN d r ON l.b = r.b AND l.i < r.i
       |       GROUP BY 1, 2 HAVING count(*) >= 2),
       |e0 AS (SELECT u, v FROM ce UNION SELECT v, u FROM ce),
       |deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
       |        FROM e0 GROUP BY 1),
       |wedges AS (SELECT s1.u AS u, s2.v AS v
       |           FROM e0 s1 JOIN e0 s2 ON s1.v = s2.u
       |           WHERE s1.u < s2.v),
       |cand AS (SELECT u, v, CAST(count(*) AS BIGINT) AS cn
       |         FROM wedges w
       |         WHERE NOT EXISTS (SELECT 1 FROM ce
       |           WHERE ce.u = w.u AND ce.v = w.v)
       |         GROUP BY 1, 2 HAVING count(*) >= 2)
       |SELECT c.u, c.v, c.cn,
       |  CAST(c.cn AS DOUBLE)
       |    / CAST(du.deg + dv.deg - c.cn AS DOUBLE) AS jaccard
       |FROM cand c
       |JOIN deg du ON du.node = c.u
       |JOIN deg dv ON dv.node = c.v
       |ORDER BY c.cn DESC, jaccard DESC, c.u ASC, c.v ASC
       |LIMIT 30""".stripMargin

  /** O(delta) incremental vocabulary growth
    * (TextAnalysis.vocabGrowthDelta): batches 0–7 persist as the two
    * mergeable state halves (per-token first batch, per-batch token
    * volume); batches 8–9 fold in by tokenizing ONLY the fresh slice.
    * The oracle is q218's FULL REBUILD (the q214 discipline), so the
    * hash match proves delta == rebuild. */
  private def q230(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("batch", expr("doc_id div 50"))
    val hist = docs.where(col("batch") < 8L)
    val fresh = docs.where(col("batch") >= 8L)
    TextAnalysis.vocabGrowthDelta(
      TextAnalysis.vocabFirstSeen(hist, "text", "batch"),
      TextAnalysis.vocabBatchTokens(hist, "text", "batch"),
      fresh, "text", "batch")
  }

  private val q230Sql = q218Sql

  /** Freeze/static-segment detection over the per-user frame-axis
    * series (Multimodal.freezeSegments, eps = 2000 cents, >= 3
    * frames): maximal runs where the signal stops moving — the
    * stuck-encoder / frozen-webcam / slate-padding trim pass, the
    * complement of q112's cut detector; gaps-and-islands over a
    * per-key lag, exact integers throughout. */
  private def q231(s: SparkSession, dir: String): DataFrame =
    Multimodal.freezeSegments(userSeries(s, dir), "user_id", "series",
      eps = 2000L, minFrames = 3)

  private val q231Sql = seriesSqlCte +
    """,
      |d AS (SELECT user_id, rn, v,
      |        lag(v) OVER (PARTITION BY user_id ORDER BY rn) AS pv
      |      FROM s),
      |f AS (SELECT user_id, rn - 1 AS i FROM d
      |      WHERE pv IS NOT NULL AND abs(v - pv) <= 2000),
      |isl AS (SELECT user_id, i,
      |          i - row_number() OVER (PARTITION BY user_id
      |            ORDER BY i) AS g
      |        FROM f),
      |r AS (SELECT user_id, CAST(min(i) AS BIGINT) AS first,
      |        CAST(count(*) AS BIGINT) AS run
      |      FROM isl GROUP BY user_id, g)
      |SELECT user_id, first - 1 AS start_frame, run + 1 AS n_frames
      |FROM r WHERE run + 1 >= 3""".stripMargin

  /** Exact spend deciles per event type (Stats.equalFrequencyBuckets,
    * 10 buckets): midrank-percentile discretization off the q190 CDF
    * table — pure integer arithmetic, ties share one bucket (the
    * honest behavior an ntile window fakes by splitting equal values
    * across boundaries). */
  private def q232(s: SparkSession, dir: String): DataFrame =
    Stats.equalFrequencyBuckets(
      t(s, dir, "events").select(col("event_type"),
        cents(col("value")).as("v")),
      "event_type", "v", nBuckets = 10)

  private val q232Sql =
    """WITH e AS (
      |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS v
      |  FROM events),
      |h AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS n_equal
      |      FROM e GROUP BY 1, 2),
      |c AS (SELECT event_type, v, n_equal,
      |        CAST(coalesce(sum(n_equal) OVER (PARTITION BY event_type
      |          ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |          AND 1 PRECEDING), 0) AS BIGINT) AS n_below,
      |        CAST(sum(n_equal) OVER (PARTITION BY event_type)
      |          AS BIGINT) AS n
      |      FROM h)
      |SELECT event_type, v, n_equal,
      |  1 + ((2 * n_below + n_equal) * 10) // (2 * n) AS bucket
      |FROM c""".stripMargin

  // ---- q233/q234: unigram-LM (SentencePiece-style) tokenizer ----

  private val uniSeed = 40
  private val uniRounds = 2
  private val uniMpl = 4
  private val uniVocab = 30
  private val uniMaxW = 16

  /** One Viterbi DP block of the unigram oracle (the q233/q234
    * machinery): candidates from `grid` scored by prob CTE `pPrev`,
    * a recursive CTE carrying the best-product and choice lists in
    * end-position order (every product one correctly-rounded double
    * multiply — the UnigramViterbi contract), and a backtrace CTE.
    * Emits c$tag / dp$tag / bt$tag; segs live in bt$tag WHERE e = 0. */
  private def uniDpSql(tag: String, pPrev: String): String = {
    def pick(field: String) =
      s"""list_sort(list_transform(c.cl,
         |        x -> {'nv': -(d.best[x['s']] * x['p']), 's': x['s'],
         |              'v': d.best[x['s']] * x['p'],
         |              'enc': CAST(x['s'] * 100 + x['l'] AS BIGINT)}))[1]
         |      ['$field']""".stripMargin
    s"""c$tag AS (
       |  SELECT g.word, g.s + g.l - 1 AS e,
       |    list_sort(list({'s': g.s, 'l': g.l, 'p': pp.p})) AS cl
       |  FROM grid g JOIN $pPrev pp ON pp.piece = g.piece
       |  GROUP BY 1, 2),
       |dp$tag AS (
       |  SELECT word, len, 0 AS e, [CAST(1.0 AS DOUBLE)] AS best,
       |    CAST([] AS BIGINT[]) AS choice
       |  FROM w
       |  UNION ALL
       |  SELECT d.word, d.len, d.e + 1,
       |    list_append(d.best, ${pick("v")}),
       |    list_append(d.choice, ${pick("enc")})
       |  FROM dp$tag d JOIN c$tag c ON c.word = d.word AND c.e = d.e + 1
       |  WHERE d.e < d.len),
       |bt$tag AS (
       |  SELECT word, len AS e, CAST([] AS BIGINT[]) AS segs, choice
       |  FROM dp$tag WHERE e = len
       |  UNION ALL
       |  SELECT word, CAST(choice[e] // 100 - 1 AS INT) AS e,
       |    list_prepend(choice[e], segs), choice
       |  FROM bt$tag WHERE e > 0)""".stripMargin
  }

  /** One EM round: DP-segment under p{i−1}, roll the chosen pieces up
    * to new counts, prune (chars always stay; multi-char keep cnt > 0,
    * top vocabSize by (cnt DESC, piece ASC)), re-smooth. */
  private def uniRoundSql(i: Int): String =
    s"""${uniDpSql(i.toString, s"p${i - 1}")},
       |cnt$i AS (
       |  SELECT substr(b.word, CAST(enc // 100 AS INT),
       |      CAST(enc % 100 AS INT)) AS piece,
       |    CAST(sum(w.freq) AS BIGINT) AS cnt
       |  FROM (SELECT word, unnest(segs) AS enc FROM bt$i WHERE e = 0) b
       |  JOIN w ON w.word = b.word
       |  GROUP BY 1),
       |k$i AS (
       |  SELECT v.piece, coalesce(c.cnt, CAST(0 AS BIGINT)) AS cnt
       |  FROM p${i - 1} v LEFT JOIN cnt$i c ON c.piece = v.piece),
       |v$i AS (
       |  SELECT piece, cnt FROM k$i WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM k$i WHERE len(piece) >= 2 AND cnt > 0
       |    ORDER BY cnt DESC, piece LIMIT $uniVocab)),
       |t$i AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) + CAST(count(*) AS BIGINT) AS nv
       |  FROM v$i),
       |p$i AS (
       |  SELECT piece, cnt,
       |    CAST(cnt + 1 AS DOUBLE) / CAST(t$i.nv AS DOUBLE) AS p
       |  FROM v$i, t$i)""".stripMargin

  /** The shared trainer chain: bounded word table, substring grid,
    * seed vocabulary (all chars + top seedSize multi-char substrings),
    * +1-smoothed probabilities, then `uniRounds` unrolled EM rounds. */
  private val uniTrainSql: String =
    s"""WITH RECURSIVE w AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
       |    CAST(len(word) AS INT) AS len
       |  FROM (SELECT unnest($toksSql) AS word FROM documents)
       |  WHERE len(word) <= $uniMaxW
       |  GROUP BY 1),
       |grid AS (
       |  SELECT word, freq, len, CAST(sl['s'] AS INT) AS s,
       |    CAST(sl['l'] AS INT) AS l,
       |    substr(word, CAST(sl['s'] AS INT), CAST(sl['l'] AS INT))
       |      AS piece
       |  FROM (
       |    SELECT word, freq, len,
       |      unnest(flatten(list_transform(range(1, len + 1), s ->
       |        list_transform(range(1, least($uniMpl, len - s + 1) + 1),
       |          l -> {'s': s, 'l': l})))) AS sl
       |    FROM w)),
       |sc AS (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM grid GROUP BY 1),
       |v0 AS (
       |  SELECT piece, cnt FROM sc WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM sc WHERE len(piece) >= 2
       |    ORDER BY cnt DESC, piece LIMIT $uniSeed)),
       |t0 AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) + CAST(count(*) AS BIGINT) AS nv
       |  FROM v0),
       |p0 AS (
       |  SELECT piece, cnt,
       |    CAST(cnt + 1 AS DOUBLE) / CAST(t0.nv AS DOUBLE) AS p
       |  FROM v0, t0),
       |${(1 to uniRounds).map(uniRoundSql).mkString(",\n")}""".stripMargin

  /** Unigram-LM tokenizer training over the corpus
    * (TextAnalysis.unigramLmTrain — Kudo 2018's SentencePiece setting,
    * hard-EM/Viterbi variant beside q122's BPE): seed = all chars +
    * top-40 substrings, two EM rounds of Viterbi-segment → re-count →
    * prune (chars always survive, multis keep cnt > 0, top 30), +1
    * smoothing. The oracle unrolls both rounds with a recursive-CTE
    * Viterbi whose products replay the kernel's fixed-order IEEE
    * multiplies bit-for-bit — no logs anywhere. */
  private def q233(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramLmTrain(t(s, dir, "documents"), "text",
      seedSize = uniSeed, rounds = uniRounds, maxPieceLen = uniMpl,
      vocabSize = uniVocab, maxWordLen = uniMaxW)

  private val q233Sql: String =
    s"""$uniTrainSql
       |SELECT piece, cnt, p AS prob FROM p$uniRounds""".stripMargin

  /** Corpus token budgeting under the q233-trained vocabulary
    * (TextAnalysis.unigramTokenCounts — the q123 join-back shape):
    * every distinct word Viterbi-segments ONCE under the final
    * smoothed probabilities and the per-word piece counts join back
    * onto the documents. Output: (doc_id, n_words, n_pieces). */
  private def q234(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = TextAnalysis.unigramLmTrain(docs, "text",
      seedSize = uniSeed, rounds = uniRounds, maxPieceLen = uniMpl,
      vocabSize = uniVocab, maxWordLen = uniMaxW)
    TextAnalysis.unigramTokenCounts(docs, "doc_id", "text", vocab,
      maxPieceLen = uniMpl, maxWordLen = uniMaxW)
  }

  private val q234Sql: String =
    s"""$uniTrainSql,
       |${uniDpSql("f", s"p$uniRounds")},
       |pw AS (
       |  SELECT word, CAST(len(segs) AS BIGINT) AS np
       |  FROM btf WHERE e = 0),
       |dt AS (
       |  SELECT doc_id, unnest($toksSql) AS word FROM documents)
       |SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(pw.np) AS BIGINT) AS n_pieces
       |FROM dt JOIN pw ON pw.word = dt.word
       |GROUP BY 1""".stripMargin

  /** K-anonymity / l-diversity corpus profile (Stats.kAnonymityProfile,
    * k = 5): equivalence classes over (event_type, day-of-week, spend
    * band), sensitive = user_id — the pre-publication privacy gate
    * (how re-identifiable is this corpus by linkage). One class-table
    * aggregation + one global reduction; exact counts, one division. */
  private def q235(s: SparkSession, dir: String): DataFrame =
    Stats.kAnonymityProfile(
      t(s, dir, "events")
        .select(col("event_type"),
          expr("pmod(ts div 86400000000000 + 4, 7)").as("dow"),
          cents(col("value")).as("__c"), col("user_id"))
        .select(col("event_type"), col("dow"),
          expr("__c div 10000").as("band"), col("user_id")),
      Seq("event_type", "dow", "band"), "user_id", k = 5L)

  private val q235Sql =
    """WITH c AS (
      |  SELECT event_type,
      |    (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
      |    CAST(round(value*100) AS BIGINT) // 10000 AS band,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS l
      |  FROM events GROUP BY 1, 2, 3)
      |SELECT CAST(sum(n) AS BIGINT) AS n_rows,
      |  CAST(count(*) AS BIGINT) AS n_classes,
      |  min(n) AS min_class_size,
      |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
      |    AS rows_below_k,
      |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS classes_below_k,
      |  min(l) AS min_l_diversity,
      |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(n) AS DOUBLE) AS frac_below_k
      |FROM c""".stripMargin

  /** The actionable twin: the 25 smallest sub-k equivalence classes
    * (Stats.kAnonymityViolations) — exactly which quasi-identifier
    * combinations to generalize or drop; (size ASC, keys ASC) total
    * order + LIMIT rides TakeOrderedAndProject, never a global sort. */
  private def q236(s: SparkSession, dir: String): DataFrame =
    Stats.kAnonymityViolations(
      t(s, dir, "events")
        .select(col("event_type"),
          expr("pmod(ts div 86400000000000 + 4, 7)").as("dow"),
          cents(col("value")).as("__c"), col("user_id"))
        .select(col("event_type"), col("dow"),
          expr("__c div 10000").as("band"), col("user_id")),
      Seq("event_type", "dow", "band"), "user_id", k = 5L, topN = 25)

  private val q236Sql =
    """WITH c AS (
      |  SELECT event_type,
      |    (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
      |    CAST(round(value*100) AS BIGINT) // 10000 AS band,
      |    CAST(count(*) AS BIGINT) AS class_size,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS l_diversity
      |  FROM events GROUP BY 1, 2, 3)
      |SELECT event_type, dow, band, class_size, l_diversity
      |FROM c WHERE class_size < 5
      |ORDER BY class_size, event_type, dow, band LIMIT 25""".stripMargin

  /** Seed-pair betweenness centrality over the part co-purchase graph
    * (Graph.pairBetweenness, maxDepth 3): the three top-degree hubs
    * paired with the three lowest-degree leaves (both rankings
    * deterministic: degree then node id — six bounded plan-literal
    * stats), interior nodes scored by exact Brandes pair dependencies
    * σ_sv·σ_vt/σ_st with the fixed-order fraction fold. The oracle
    * replays the degree rankings, three unrolled BFS levels per
    * direction (all pairs at once, keyed by pair index), the interior
    * predicate, and the sorted fold. */
  private def q237(s: SparkSession, dir: String): DataFrame = {
    // ONE exchange to a b-partitioned checkpoint: the dedup reuses the
    // repartition layout (subset-key ClusteredDistribution), and the
    // self-join on b then runs over two reads of the SAME co-partitioned
    // RDD — exchange-free — instead of recomputing the distinct on both
    // sides and reshuffling each by b (guide §2.4; was ~5 s of the gate)
    val d = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
      .where(col("b").isNotNull && col("i").isNotNull)
      .repartition(col("b")).dropDuplicates("b", "i").localCheckpoint()
    val e = d.as("l").join(d.as("r"), col("l.b") === col("r.b")
        && col("l.i") < col("r.i"))
      .select(col("l.i").as("u"), col("r.i").as("v"))
      .distinct().localCheckpoint()
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
    // both seed ends in ONE partial-combining aggregation job (was two
    // orderBy().limit(3) collects): top_k_by under the struct's natural
    // descending order replays (dg DESC, node ASC) / (dg ASC, node ASC)
    val ends = deg.agg(
      top_k_by(struct(col("dg"), (-col("node")).as("nn")), 3).as("h"),
      top_k_by(struct((-col("dg")).as("nd"), (-col("node")).as("nn")), 3)
        .as("a")).head()
    def nodesAt(i: Int): Array[Long] =
      ends.getSeq[org.apache.spark.sql.Row](i).map(r => -r.getLong(1)).toArray
    val (hubs, antis) = (nodesAt(0), nodesAt(1))
    Graph.pairBetweenness(e, hubs.zip(antis).toSeq, maxDepth = 3)
  }

  private val q237Sql: String = {
    def levels(tag: String, depth: Int): String =
      (1 to depth).map { k =>
        s"""f$tag$k AS (
           |  SELECT f.idx, a.v AS node, $k AS d,
           |    CAST(sum(f.sig) AS BIGINT) AS sig
           |  FROM f$tag${k - 1} f JOIN adj a ON a.u = f.node
           |  WHERE NOT EXISTS (SELECT 1 FROM s$tag${k - 1} x
           |    WHERE x.idx = f.idx AND x.node = a.v)
           |  GROUP BY 1, 2),
           |s$tag$k AS (SELECT * FROM s$tag${k - 1}
           |  UNION ALL SELECT * FROM f$tag$k)""".stripMargin
      }.mkString(",\n")
    s"""WITH d AS (
       |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
       |e AS (SELECT DISTINCT l.i AS u, r.i AS v
       |      FROM d l JOIN d r ON l.b = r.b AND l.i < r.i),
       |adj AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
       |deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS dg
       |        FROM adj GROUP BY 1),
       |hub AS (SELECT node, rn FROM (
       |          SELECT node, row_number() OVER (ORDER BY dg DESC, node)
       |            AS rn FROM deg) WHERE rn <= 3),
       |antis AS (SELECT node, rn FROM (
       |           SELECT node, row_number() OVER (ORDER BY dg ASC, node)
       |             AS rn FROM deg) WHERE rn <= 3),
       |prs AS (SELECT CAST(h.rn - 1 AS BIGINT) AS idx, h.node AS s,
       |          a.node AS t
       |        FROM hub h JOIN antis a ON a.rn = h.rn),
       |ff0 AS (SELECT idx, s AS node, 0 AS d, CAST(1 AS BIGINT) AS sig
       |        FROM prs),
       |sf0 AS (SELECT * FROM ff0),
       |${levels("f", 3)},
       |fb0 AS (SELECT idx, t AS node, 0 AS d, CAST(1 AS BIGINT) AS sig
       |        FROM prs),
       |sb0 AS (SELECT * FROM fb0),
       |${levels("b", 3)},
       |dstt AS (SELECT p.idx, x.d AS dst, x.sig AS sigst
       |         FROM prs p JOIN sf3 x ON x.idx = p.idx AND x.node = p.t),
       |c AS (
       |  SELECT f.node, f.idx, f.sig * b.sig AS num, dd.sigst AS den
       |  FROM sf3 f
       |  JOIN sb3 b ON b.idx = f.idx AND b.node = f.node
       |  JOIN dstt dd ON dd.idx = f.idx
       |  JOIN prs p ON p.idx = f.idx
       |  WHERE f.node != p.s AND f.node != p.t AND f.d + b.d = dd.dst),
       |g AS (SELECT node, CAST(count(*) AS BIGINT) AS n_pairs,
       |        list_sort(list({'idx': idx, 'num': num, 'den': den})) AS l
       |      FROM c GROUP BY 1)
       |SELECT node, n_pairs,
       |  list_reduce(list_prepend(0.0, list_transform(l, x ->
       |    CAST(x['num'] AS DOUBLE) / CAST(x['den'] AS DOUBLE))),
       |    (a, b) -> a + b) AS betweenness
       |FROM g""".stripMargin
  }

  /** Mann–Whitney U z-test per event type (Stats.mannWhitneyZ): does
    * the even-user cohort's spend distribution sit above the odd
    * cohort's — the nonparametric twin of q197's Welch t (right for
    * heavy-tailed spend; no normality assumed). Doubled-U and the
    * tie-cube sum reduce over the per-(type, cents) histogram —
    * integer-exact sufficient statistics, one fixed IEEE tail —
    * mirrored by a HUGEINT-summing oracle. */
  private def q238(s: SparkSession, dir: String): DataFrame =
    Stats.mannWhitneyZ(
      t(s, dir, "events").select(col("event_type"),
        (pmod(col("user_id"), lit(2L)) === 0L).as("side"),
        cents(col("value")).as("x")),
      "event_type", "side", "x")

  private val q238Sql =
    """WITH o AS (
      |  SELECT event_type, user_id % 2 = 0 AS side,
      |    CAST(round(value*100) AS BIGINT) AS x
      |  FROM events),
      |h AS (
      |  SELECT event_type, x,
      |    CAST(sum(CASE WHEN side THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN side THEN 0 ELSE 1 END) AS BIGINT) AS nb
      |  FROM o GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, x, na, nb,
      |    CAST(coalesce(sum(nb) OVER (PARTITION BY event_type ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS blw
      |  FROM h),
      |a AS (
      |  SELECT event_type,
      |    CAST(sum(na) AS BIGINT) AS n_a,
      |    CAST(sum(nb) AS BIGINT) AS n_b,
      |    CAST(sum(na * (2*blw + nb)) AS BIGINT) AS u2_a,
      |    CAST(sum(CAST(na + nb AS HUGEINT) * (na + nb) * (na + nb)
      |      - (na + nb)) AS DOUBLE) AS t3
      |  FROM c GROUP BY 1
      |  HAVING sum(na) > 0 AND sum(nb) > 0)
      |SELECT event_type, n_a, n_b, u2_a,
      |  CASE WHEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
      |      * (CAST(n_a + n_b + 1 AS DOUBLE)
      |        - t3 / (CAST(n_a + n_b AS DOUBLE)
      |          * CAST(n_a + n_b - 1 AS DOUBLE))) = 0
      |    THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(u2_a - n_a*n_b AS DOUBLE)
      |      / (2.0 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
      |        * (CAST(n_a + n_b + 1 AS DOUBLE)
      |          - t3 / (CAST(n_a + n_b AS DOUBLE)
      |            * CAST(n_a + n_b - 1 AS DOUBLE)))))
      |  END AS z
      |FROM a""".stripMargin

  /** Conformal anomaly detection with BH FDR control
    * (Stats.conformalBh, α = 0.1): odd-user events calibrate the
    * spend-score distribution; even-user events are the test feed,
    * with error-event amounts tripled (the corrupted-feed injection
    * this gate exists to catch). Every p-value is an exact rational
    * (1 + #cal ≥ s)/(ncal+1) and the BH rank sweep compares
    * cross-multiplied int64 products over ONE merged score histogram —
    * no floating point anywhere; the oracle replays histogram, sweep,
    * threshold and join-back verbatim. */
  private def q239(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val cal = ev.where(pmod(col("user_id"), lit(2L)) === 1L)
      .select(cents(col("value")).as("score"))
    val tst = ev.where(pmod(col("user_id"), lit(2L)) === 0L)
      .select(col("event_id"),
        (cents(col("value")) *
          when(col("event_type") === "error", 3L).otherwise(1L))
          .as("score"))
    Stats.conformalBh(cal, tst, "event_id", "score", alphaMicro = 100000L)
  }

  private val q239Sql =
    """WITH cal AS (
      |  SELECT CAST(round(value*100) AS BIGINT) AS s
      |  FROM events WHERE user_id % 2 = 1),
      |tst AS (
      |  SELECT event_id, CAST(round(value*100) AS BIGINT)
      |    * (CASE WHEN event_type = 'error' THEN 3 ELSE 1 END) AS s
      |  FROM events WHERE user_id % 2 = 0),
      |ch AS (SELECT s, CAST(count(*) AS BIGINT) AS nc FROM cal GROUP BY 1),
      |th AS (SELECT s, CAST(count(*) AS BIGINT) AS nt FROM tst GROUP BY 1),
      |m AS (
      |  SELECT coalesce(ch.s, th.s) AS s, coalesce(nc, 0) AS nc,
      |    coalesce(nt, 0) AS nt
      |  FROM ch FULL OUTER JOIN th ON ch.s = th.s),
      |w AS (
      |  SELECT s, nt,
      |    CAST(sum(nc) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND CURRENT ROW) AS BIGINT) AS ge_cal,
      |    CAST(sum(nt) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND CURRENT ROW) AS BIGINT) AS r_max
      |  FROM m),
      |tot AS (SELECT CAST((SELECT sum(nc) FROM m) AS BIGINT) AS ncal,
      |               CAST((SELECT sum(nt) FROM m) AS BIGINT) AS mm),
      |thr AS (
      |  SELECT min(s) AS smin FROM w, tot
      |  WHERE nt > 0
      |    AND (ge_cal + 1) * mm * 1000000 <= r_max * 100000 * (ncal + 1))
      |SELECT t.event_id, t.s AS score, w.ge_cal + 1 AS p_num,
      |  tot.ncal + 1 AS p_den
      |FROM tst t JOIN w ON w.s = t.s, tot, thr
      |WHERE t.s >= thr.smin""".stripMargin

  /** Gini spend-concentration per order priority (Stats.giniByKey):
    * how unevenly order value is distributed within each priority
    * class — the curation-weight concentration profile. The doubled
    * rank-weighted sum reduces over the per-(priority, cents)
    * histogram in decimal(38,0); the oracle mirrors in HUGEINT. */
  private def q240(s: SparkSession, dir: String): DataFrame =
    Stats.giniByKey(
      t(s, dir, "orders").select(col("o_orderpriority"),
        cents(col("o_totalprice")).as("x")),
      "o_orderpriority", "x")

  private val q240Sql =
    """WITH o AS (
      |  SELECT o_orderpriority AS k,
      |    CAST(round(o_totalprice*100) AS BIGINT) AS x
      |  FROM orders),
      |h AS (SELECT k, x, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY 1, 2),
      |cw AS (
      |  SELECT k, x, c,
      |    CAST(coalesce(sum(c) OVER (PARTITION BY k ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS b
      |  FROM h),
      |a AS (
      |  SELECT k, CAST(sum(c) AS BIGINT) AS n,
      |    CAST(sum(CAST(x AS HUGEINT) * c) AS BIGINT) AS sum_x,
      |    sum(CAST(x AS HUGEINT) * (2 * CAST(b AS HUGEINT) * c
      |      + CAST(c AS HUGEINT) * c + c)) AS s2
      |  FROM cw GROUP BY 1)
      |SELECT k AS o_orderpriority, n, sum_x,
      |  CASE WHEN sum_x = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(s2 - (CAST(n AS HUGEINT) + 1) * sum_x AS DOUBLE)
      |      / CAST(CAST(n AS HUGEINT) * sum_x AS DOUBLE) END AS gini
      |FROM a""".stripMargin

  /** Kruskal–Wallis H per day-of-week (Stats.kruskalWallisH): do the
    * five event types' spend distributions differ within a weekday —
    * the k-sample omnibus extending q238's two-sample test. Doubled
    * rank sums per (dow, type) from RANGE windows over the bounded
    * histogram; the cross-group Σ R²/n runs as a sorted sequential
    * fold (list_reduce parity), tie cubes in decimal/HUGEINT. */
  private def q241(s: SparkSession, dir: String): DataFrame =
    Stats.kruskalWallisH(
      t(s, dir, "events").select(
        expr("pmod(ts div 86400000000000 + 4, 7)").as("dow"),
        col("event_type").as("g"), cents(col("value")).as("x")),
      "dow", "g", "x")

  private val q241Sql =
    """WITH o AS (
      |  SELECT (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
      |    event_type AS g, CAST(round(value*100) AS BIGINT) AS x
      |  FROM events),
      |h AS (SELECT dow, g, x, CAST(count(*) AS BIGINT) AS c
      |      FROM o GROUP BY 1, 2, 3),
      |w AS (
      |  SELECT dow, g, x, c,
      |    CAST(coalesce(sum(c) OVER (PARTITION BY dow ORDER BY x
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS blw,
      |    CAST(sum(c) OVER (PARTITION BY dow ORDER BY x
      |      RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS tv
      |  FROM h),
      |pg AS (
      |  SELECT dow, g, CAST(sum(c) AS BIGINT) AS nj,
      |    CAST(sum(c * (2*blw + tv + 1)) AS BIGINT) AS r2
      |  FROM w GROUP BY 1, 2),
      |tie AS (
      |  SELECT dow,
      |    CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS DOUBLE) AS t3
      |  FROM (SELECT dow, x, CAST(sum(c) AS BIGINT) AS t
      |        FROM h GROUP BY 1, 2) GROUP BY 1),
      |a AS (
      |  SELECT dow, CAST(sum(nj) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS n_groups,
      |    list_sort(list({'g': g, 'r2': r2, 'nj': nj})) AS l
      |  FROM pg GROUP BY 1)
      |SELECT a.dow, n, n_groups,
      |  CASE WHEN (1.0 - t3 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |      * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))) = 0
      |    THEN CAST('nan' AS DOUBLE)
      |    ELSE (12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
      |        * list_reduce(list_prepend(0.0, list_transform(l, x ->
      |            CAST(x['r2'] AS DOUBLE) * CAST(x['r2'] AS DOUBLE)
      |              / (4.0 * CAST(x['nj'] AS DOUBLE)))),
      |            (p, q) -> p + q)
      |        - 3.0 * (CAST(n AS DOUBLE) + 1.0))
      |      / (1.0 - t3 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |          * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
      |  END AS h
      |FROM a JOIN tie ON tie.dow = a.dow""".stripMargin

  /** Deterministic stratified sample of the event stream
    * (Stats.stratifiedSample, budget 600 across event types): exact
    * largest-remainder apportionment over the bounded strata table,
    * rows picked inside each stratum by the MINSTD modular hop — a
    * pure function of the input, so the oracle replays allocation,
    * hop order and join-back bit-exactly. */
  private def q242(s: SparkSession, dir: String): DataFrame =
    Stats.stratifiedSample(
      t(s, dir, "events").select(col("event_type"), col("event_id")),
      "event_type", "event_id", sampleSize = 600L)

  private val q242Sql =
    """WITH d AS (SELECT event_type AS st, event_id AS id FROM events),
      |c AS (SELECT st, CAST(count(*) AS BIGINT) AS nh FROM d GROUP BY 1),
      |t AS (SELECT CAST(sum(nh) AS BIGINT) AS n FROM c),
      |a0 AS (SELECT st, nh, (600 * nh) // n AS base,
      |         (600 * nh) % n AS rem FROM c, t),
      |g AS (SELECT CAST(600 - sum(base) AS BIGINT) AS give FROM a0),
      |al AS (SELECT st, base + (CASE WHEN row_number()
      |           OVER (ORDER BY rem DESC, st ASC) <= give
      |         THEN 1 ELSE 0 END) AS alloc
      |       FROM a0, g),
      |rk AS (SELECT st, id, row_number() OVER (PARTITION BY st
      |         ORDER BY (id % 2147483647) * 48271 % 2147483647, id) AS rn
      |       FROM d)
      |SELECT rk.st AS event_type, rk.id AS event_id
      |FROM rk JOIN al ON al.st = rk.st WHERE rk.rn <= al.alloc""".stripMargin

  /** Log-rank survival comparison per user segment (Stats.logRank):
    * does the even-user arm "convert" (first signup) on a different
    * time curve than the odd arm — subjects are users, time = observed
    * activity span in days, event = any signup (others censored at
    * span end). Exact integer risk sets from one descending cumulative
    * window; E1/V as sorted sequential folds (the list_reduce parity
    * discipline); completes q221's Kaplan–Meier with its significance
    * readout. */
  private def q243(s: SparkSession, dir: String): DataFrame = {
    val subj = t(s, dir, "events").groupBy(col("user_id"))
      .agg(expr("(max(ts) - min(ts)) div 86400000000000").as("t"),
        max(when(col("event_type") === "signup", 1L).otherwise(0L))
          .as("__ev"))
      .select(pmod(col("user_id"), lit(3L)).as("seg"),
        (pmod(col("user_id"), lit(2L)) === 0L).as("arm"),
        col("t"), (col("__ev") === 1L).as("ev"))
    Stats.logRank(subj, "seg", "arm", "t", "ev")
  }

  private val q243Sql =
    """WITH u AS (
      |  SELECT user_id % 3 AS seg, user_id % 2 = 0 AS arm,
      |    (max(epoch_ns(ts)) - min(epoch_ns(ts))) // 86400000000000 AS t,
      |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS ev
      |  FROM events GROUP BY user_id),
      |h AS (
      |  SELECT seg, t,
      |    CAST(sum(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS a1,
      |    CAST(count(*) AS BIGINT) AS atot,
      |    CAST(sum(CASE WHEN arm AND ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS d1,
      |    CAST(sum(CASE WHEN ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM u GROUP BY 1, 2),
      |w AS (
      |  SELECT seg, t, d1, d,
      |    CAST(sum(a1) OVER (PARTITION BY seg ORDER BY t DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS n1,
      |    CAST(sum(atot) OVER (PARTITION BY seg ORDER BY t DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS n
      |  FROM h),
      |a AS (
      |  SELECT seg, CAST(sum(d1) AS BIGINT) AS o1,
      |    list_sort(list({'t': t, 'd1': d1, 'd': d, 'n1': n1, 'n': n}))
      |      AS l
      |  FROM w WHERE d > 0 GROUP BY 1),
      |b AS (
      |  SELECT seg, o1,
      |    list_reduce(list_prepend(0.0, list_transform(l, x ->
      |      CAST(x['d'] AS DOUBLE) * CAST(x['n1'] AS DOUBLE)
      |        / CAST(x['n'] AS DOUBLE))), (p, q) -> p + q) AS e1,
      |    list_reduce(list_prepend(0.0, list_transform(l, x ->
      |      CASE WHEN x['n'] > 1 THEN
      |        CAST(x['d'] AS DOUBLE)
      |        * (CAST(x['n1'] AS DOUBLE) / CAST(x['n'] AS DOUBLE))
      |        * (1.0 - CAST(x['n1'] AS DOUBLE) / CAST(x['n'] AS DOUBLE))
      |        * ((CAST(x['n'] AS DOUBLE) - CAST(x['d'] AS DOUBLE))
      |          / (CAST(x['n'] AS DOUBLE) - 1.0))
      |      ELSE 0.0 END)), (p, q) -> p + q) AS v
      |  FROM a)
      |SELECT seg, o1, e1, v,
      |  CASE WHEN v = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE (CAST(o1 AS DOUBLE) - e1) / sqrt(v) END AS z
      |FROM b""".stripMargin

  /** Population-stability-index drift of the event-type mix per user
    * segment (Stats.psiByKey): baseline = the first half of the
    * observed day range, current = the second half — the standard
    * model-monitoring readout ("did the traffic mix move?"). The day
    * midpoint joins in as a one-row broadcast bound; union buckets
    * with add-one smoothing; the only transcendental is the
    * micro-quantized per-bucket ln, so the per-key sum is exact
    * HUGEINT/decimal on both engines. */
  private def q244(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      expr("ts div 86400000000000").as("day"),
      pmod(col("user_id"), lit(4L)).as("seg"), col("event_type"))
    val mid = ev.agg(expr("(min(day) + max(day) + 1) div 2").as("__mid"))
    val withMid = ev.crossJoin(broadcast(mid))
    Stats.psiByKey(withMid.where(col("day") < col("__mid")),
      withMid.where(col("day") >= col("__mid")), "seg", "event_type")
  }

  private val q244Sql =
    """WITH ev AS (
      |  SELECT epoch_ns(ts) // 86400000000000 AS day, user_id % 4 AS seg,
      |    event_type FROM events),
      |m AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ev),
      |ha AS (SELECT seg, event_type AS cat, CAST(count(*) AS BIGINT) AS ca0
      |       FROM ev, m WHERE day < mid GROUP BY 1, 2),
      |hb AS (SELECT seg, event_type AS cat, CAST(count(*) AS BIGINT) AS cb0
      |       FROM ev, m WHERE day >= mid GROUP BY 1, 2),
      |j AS (SELECT coalesce(ha.seg, hb.seg) AS seg,
      |        coalesce(ha.cat, hb.cat) AS cat,
      |        coalesce(ca0, 0) + 1 AS ca, coalesce(cb0, 0) + 1 AS cb
      |      FROM ha FULL OUTER JOIN hb
      |        ON ha.seg = hb.seg AND ha.cat = hb.cat),
      |tt AS (SELECT seg, cat, ca, cb,
      |        CAST(sum(ca) OVER (PARTITION BY seg) AS BIGINT) AS na,
      |        CAST(sum(cb) OVER (PARTITION BY seg) AS BIGINT) AS nb,
      |        CAST(count(*) OVER (PARTITION BY seg) AS BIGINT) AS k
      |      FROM j),
      |u AS (SELECT seg, na, nb, k,
      |        (CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)
      |          * CAST(round(ln(CAST(CAST(ca AS HUGEINT) * nb AS DOUBLE)
      |              / CAST(CAST(cb AS HUGEINT) * na AS DOUBLE))
      |              * 1000000.0) AS BIGINT) AS term
      |      FROM tt)
      |SELECT seg, na - k AS n_a, nb - k AS n_b, k AS n_buckets,
      |  CAST(sum(term) AS DOUBLE)
      |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / 1000000.0 AS psi
      |FROM u GROUP BY seg, na, nb, k""".stripMargin

  /** Jensen–Shannon divergence of the language mix per source between
    * the even/odd doc_id snapshot halves (Stats.jsdByKey), with both
    * sides' Shannon entropies — the bounded smoothing-free companion
    * to q244's PSI. Every entropy unrolls to integer-weighted
    * micro-log sums (HUGEINT in the oracle), so the only floating
    * point is one ln per distinct integer and three final divisions. */
  private def q245(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("source"), col("lang"),
      col("doc_id"))
    Stats.jsdByKey(
      docs.where(pmod(col("doc_id"), lit(2L)) === 0L),
      docs.where(pmod(col("doc_id"), lit(2L)) === 1L),
      "source", "lang")
  }

  private val q245Sql =
    """WITH ha AS (SELECT source, lang AS cat,
      |    CAST(count(*) AS BIGINT) AS ca0
      |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1, 2),
      |hb AS (SELECT source, lang AS cat,
      |    CAST(count(*) AS BIGINT) AS cb0
      |  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1, 2),
      |j AS (SELECT coalesce(ha.source, hb.source) AS source,
      |        coalesce(ha.cat, hb.cat) AS cat,
      |        coalesce(ca0, 0) AS ca, coalesce(cb0, 0) AS cb
      |      FROM ha FULL OUTER JOIN hb
      |        ON ha.source = hb.source AND ha.cat = hb.cat),
      |tt AS (SELECT source, cat, ca, cb,
      |        CAST(sum(ca) OVER (PARTITION BY source) AS BIGINT) AS na,
      |        CAST(sum(cb) OVER (PARTITION BY source) AS BIGINT) AS nb,
      |        CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS k
      |      FROM j),
      |u AS (SELECT source, na, nb, k,
      |        CASE WHEN na > 0 AND nb > 0 THEN
      |          (CAST(ca AS HUGEINT) * nb + CAST(cb AS HUGEINT) * na)
      |          * (CAST(round(ln(CAST(CAST(2 AS HUGEINT) * na * nb
      |                AS DOUBLE)) * 1000000.0) AS BIGINT)
      |            - CAST(round(ln(CAST(CAST(ca AS HUGEINT) * nb
      |                + CAST(cb AS HUGEINT) * na AS DOUBLE))
      |                * 1000000.0) AS BIGINT))
      |        ELSE 0 END AS thm,
      |        CASE WHEN ca > 0 THEN CAST(ca AS HUGEINT)
      |          * (CAST(round(ln(CAST(na AS DOUBLE)) * 1000000.0)
      |              AS BIGINT)
      |            - CAST(round(ln(CAST(ca AS DOUBLE)) * 1000000.0)
      |              AS BIGINT))
      |        ELSE 0 END AS tha,
      |        CASE WHEN cb > 0 THEN CAST(cb AS HUGEINT)
      |          * (CAST(round(ln(CAST(nb AS DOUBLE)) * 1000000.0)
      |              AS BIGINT)
      |            - CAST(round(ln(CAST(cb AS DOUBLE)) * 1000000.0)
      |              AS BIGINT))
      |        ELSE 0 END AS thb
      |      FROM tt),
      |agg AS (SELECT source, na AS n_a, nb AS n_b, k AS n_buckets,
      |        CASE WHEN na = 0 THEN CAST('nan' AS DOUBLE)
      |          ELSE CAST(sum(tha) AS DOUBLE)
      |            / (CAST(na AS DOUBLE) * 1000000.0) END AS h_a,
      |        CASE WHEN nb = 0 THEN CAST('nan' AS DOUBLE)
      |          ELSE CAST(sum(thb) AS DOUBLE)
      |            / (CAST(nb AS DOUBLE) * 1000000.0) END AS h_b,
      |        CASE WHEN na = 0 OR nb = 0 THEN CAST('nan' AS DOUBLE)
      |          ELSE CAST(sum(thm) AS DOUBLE)
      |            / (2.0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
      |               * 1000000.0) END AS hm
      |      FROM u GROUP BY source, na, nb, k)
      |SELECT source, n_a, n_b, n_buckets, h_a, h_b,
      |  hm - (h_a + h_b) / 2.0 AS jsd
      |FROM agg""".stripMargin

  /** Token-mass weighting diagnostics per source
    * (Stats.weightDiagnostics): Kish effective sample size, efficiency
    * and the largest single-document share when documents are weighted
    * by n_chars — "is this source's token mass spread out or riding on
    * a few giants?". Weights are already integers so scale = 1 keeps
    * the quantization a no-op; everything reduces to exact HUGEINT /
    * decimal power sums. */
  private def q246(s: SparkSession, dir: String): DataFrame =
    Stats.weightDiagnostics(t(s, dir, "documents"), "source", "n_chars",
      scale = 1L)

  private val q246Sql =
    """WITH a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(n_chars AS HUGEINT)) AS s1,
      |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS s2,
      |    max(n_chars) AS mw
      |  FROM documents GROUP BY 1)
      |SELECT source, n, CAST(s1 AS DOUBLE) / 1.0 AS sum_w,
      |  CASE WHEN s1 = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |      / CAST(s2 AS DOUBLE) END AS ess,
      |  CASE WHEN s1 = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |      / CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) END AS efficiency,
      |  CASE WHEN s1 = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(mw AS DOUBLE) / CAST(s1 AS DOUBLE) END
      |    AS max_w_share
      |FROM a""".stripMargin

  /** Single best mean-shift changepoint in the daily event volume per
    * event type (Stats.changepointMeanShift): the retrospective "WHERE
    * did the level shift" companion to q206's CUSUM alarms. Exact
    * int64 prefix sums under the CHECKED n·max|x| contract; the split
    * score's one double cast per candidate replays bit-exactly, so the
    * argmax (score desc, earliest split) is engine-stable. */
  private def q247(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), expr("ts div 86400000000000").as("day"))
      .agg(count(lit(1)).as("cnt"))
    Stats.changepointMeanShift(daily, "event_type", "day", "cnt")
  }

  private val q247Sql =
    """WITH daily AS (
      |  SELECT event_type AS k, epoch_ns(ts) // 86400000000000 AS t,
      |    CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |o AS (SELECT k, t, x,
      |    row_number() OVER w AS rn,
      |    CAST(sum(x) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND
      |      CURRENT ROW) AS BIGINT) AS a,
      |    CAST(sum(x) OVER (PARTITION BY k) AS BIGINT) AS tot,
      |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n
      |  FROM daily WINDOW w AS (PARTITION BY k ORDER BY t, x)),
      |c AS (SELECT k, n, rn, t, a, tot,
      |    CAST(CAST(a AS HUGEINT) * a AS DOUBLE) / CAST(rn AS DOUBLE)
      |    + CAST(CAST(tot - a AS HUGEINT) * (tot - a) AS DOUBLE)
      |      / CAST(n - rn AS DOUBLE) AS f
      |  FROM o WHERE rn < n),
      |r AS (SELECT *, row_number() OVER
      |    (PARTITION BY k ORDER BY f DESC, rn ASC) AS pick FROM c)
      |SELECT k AS event_type, n, rn AS cp_idx, t AS cp_t,
      |  CAST(a AS DOUBLE) / CAST(rn AS DOUBLE) AS mean_l,
      |  CAST(tot - a AS DOUBLE) / CAST(n - rn AS DOUBLE) AS mean_r,
      |  f - CAST(CAST(tot AS HUGEINT) * tot AS DOUBLE)
      |    / CAST(n AS DOUBLE) AS gain
      |FROM r WHERE pick = 1""".stripMargin

  /** Isotonic (PAVA) calibration of a length-bucket score against the
    * English-language outcome per source (Stats.isotonicCalibration):
    * the monotone recalibration map whose need q182's reliability
    * table and q205's Brier decomposition diagnose. The squared-error
    * isotonic fit is unique, so the stack kernel's blocks and the
    * oracle's leftmost-merge recursive CTE agree bit-for-bit —
    * integer cross-product comparisons, no division until the final
    * per-pool rate. */
  private def q248(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("source"),
      expr("least(n_chars div 200, 50)").as("score"),
      (col("lang") === "en").as("label"))
    Stats.isotonicCalibration(docs, "source", "score", "label")
  }

  private val q248Sql =
    """WITH RECURSIVE hist AS (
      |  SELECT source, least(n_chars // 200, 50) AS s,
      |    CAST(count(*) AS BIGINT) AS w,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS y
      |  FROM documents GROUP BY 1, 2),
      |base AS (
      |  SELECT source, list({'smin': s, 'smax': s, 'w': w, 'y': y}
      |    ORDER BY s) AS l
      |  FROM hist GROUP BY 1),
      |it AS (
      |  SELECT source, l FROM base
      |  UNION ALL
      |  SELECT source,
      |    l[1:i-1]
      |      || [{'smin': l[i]['smin'], 'smax': l[i+1]['smax'],
      |           'w': l[i]['w'] + l[i+1]['w'],
      |           'y': l[i]['y'] + l[i+1]['y']}]
      |      || l[i+2:] AS l
      |  FROM (
      |    SELECT source, l,
      |      list_position(list_transform(generate_series(1, len(l) - 1),
      |        j -> l[j]['y'] * l[j+1]['w'] > l[j+1]['y'] * l[j]['w']),
      |        true) AS i
      |    FROM it) WHERE i > 0),
      |fixed AS (
      |  SELECT source, l FROM (
      |    SELECT source, l,
      |      list_position(list_transform(generate_series(1, len(l) - 1),
      |        j -> l[j]['y'] * l[j+1]['w'] > l[j+1]['y'] * l[j]['w']),
      |        true) AS i
      |    FROM it) WHERE i = 0)
      |SELECT source, e['idx'] AS pool, e['p']['smin'] AS score_min,
      |  e['p']['smax'] AS score_max, e['p']['w'] AS w, e['p']['y'] AS y,
      |  CAST(e['p']['y'] AS DOUBLE) / CAST(e['p']['w'] AS DOUBLE) AS rate
      |FROM (SELECT source, unnest(list_transform(
      |    generate_series(1, len(l)), j -> {'idx': j, 'p': l[j]})) AS e
      |  FROM fixed)""".stripMargin

  /** Holt level+trend smoothing of the daily revenue-cents series per
    * event type (Stats.holtSmooth, α = 1/4, β = 1/8): the trend-aware
    * upgrade of q162's integer EWMA — one-step-ahead forecasts plus
    * the live level/trend decomposition, exact integer floor
    * arithmetic the oracle replays with a two-state recursive CTE
    * (the q162 positive-mod trick, one extra state column). */
  private def q249(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), expr("ts div 86400000000000").as("day"))
      .agg(sum(cents(col("value"))).as("xc"))
    Stats.holtSmooth(daily, "event_type", "day", "xc",
        aShift = 2, gShift = 3)
      .withColumnRenamed("t", "day")
  }

  private val q249Sql =
    """WITH RECURSIVE s0 AS (
      |  SELECT event_type AS k, epoch_ns(ts) // 86400000000000 AS d,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY epoch_ns(ts) // 86400000000000) AS rn
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT k, rn, d, x, x AS pred, x AS l, CAST(0 AS BIGINT) AS b
      |  FROM s0 WHERE rn = 1
      |  UNION ALL
      |  SELECT k, rn, d, x, pred, l,
      |    b + ((l - lp - b) - (((l - lp - b) % 8 + 8) % 8)) // 8 AS b
      |  FROM (
      |    SELECT n.k AS k, n.rn AS rn, n.d AS d, n.x AS x,
      |      r.l + r.b AS pred,
      |      (r.l + r.b) + ((n.x - r.l - r.b)
      |        - (((n.x - r.l - r.b) % 4 + 4) % 4)) // 4 AS l,
      |      r.l AS lp, r.b AS b
      |    FROM r JOIN s0 n ON n.k = r.k AND n.rn = r.rn + 1))
      |SELECT k AS event_type, CAST(rn AS BIGINT) AS rn, d AS day, x,
      |  pred, l AS level, b AS trend
      |FROM r""".stripMargin

  /** Nelson–Aalen cumulative signup hazard per user segment
    * (Stats.nelsonAalen): the hazard-scale completion of the survival
    * family — q221 estimates survival, q243 tests arms, this plots
    * H(t) with its variance per event day. Exact integer risk sets
    * from one descending cumulative window; the running sums are the
    * same sequential folds the oracle replays with list_reduce over
    * each prefix. */
  private def q250(s: SparkSession, dir: String): DataFrame = {
    val subj = t(s, dir, "events").groupBy(col("user_id"))
      .agg(expr("(max(ts) - min(ts)) div 86400000000000").as("t"),
        max(when(col("event_type") === "signup", 1L).otherwise(0L))
          .as("__ev"))
      .select(pmod(col("user_id"), lit(3L)).as("seg"), col("t"),
        (col("__ev") === 1L).as("ev"))
    Stats.nelsonAalen(subj, "seg", "t", "ev")
  }

  private val q250Sql =
    """WITH u AS (
      |  SELECT user_id % 3 AS seg,
      |    (max(epoch_ns(ts)) - min(epoch_ns(ts))) // 86400000000000 AS t,
      |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS ev
      |  FROM events GROUP BY user_id),
      |h0 AS (
      |  SELECT seg, t, CAST(count(*) AS BIGINT) AS atot,
      |    CAST(sum(CASE WHEN ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM u GROUP BY 1, 2),
      |w AS (
      |  SELECT seg, t, d,
      |    CAST(sum(atot) OVER (PARTITION BY seg ORDER BY t DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS n
      |  FROM h0),
      |a AS (
      |  SELECT seg, list_sort(list({'t': t, 'd': d, 'n': n})) AS l
      |  FROM w WHERE d > 0 GROUP BY 1),
      |e AS (
      |  SELECT seg, l,
      |    list_transform(l, x ->
      |      CAST(x['d'] AS DOUBLE) / CAST(x['n'] AS DOUBLE)) AS r1,
      |    list_transform(l, x -> CAST(x['d'] AS DOUBLE)
      |      / (CAST(x['n'] AS DOUBLE) * CAST(x['n'] AS DOUBLE))) AS r2
      |  FROM a)
      |SELECT seg, l[j]['t'] AS t, l[j]['n'] AS n_at_risk,
      |  l[j]['d'] AS d,
      |  list_reduce(list_prepend(0.0, r1[1:j]), (p, q) -> p + q) AS h,
      |  list_reduce(list_prepend(0.0, r2[1:j]), (p, q) -> p + q)
      |    AS var_h
      |FROM (SELECT seg, l, r1, r2,
      |    unnest(generate_series(1, len(l))) AS j
      |  FROM e)""".stripMargin

  /** Zipf rank–frequency slope of the top-100 token spectrum per
    * source (TextAnalysis.zipfSlope): natural language runs near −1;
    * boilerplate flattens toward 0, keyword spam cliffs below it. One
    * tokenize scan, a partial-combining per-group top-k (never a
    * vocabulary-sized window), and the q131 exact-OLS machinery over
    * micro-quantized logs. */
  private def q251(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.zipfSlope(t(s, dir, "documents"), "source", "text", 100)

  private val q251Sql =
    s"""WITH tok AS (SELECT source, unnest($toksSql) AS token
       |  FROM documents),
       |c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS cnt
       |  FROM tok GROUP BY 1, 2),
       |r AS (SELECT source, cnt, row_number() OVER (PARTITION BY source
       |    ORDER BY cnt DESC, token DESC) AS rk FROM c),
       |p AS (SELECT source,
       |    CAST(round(ln(CAST(rk AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
       |    CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
       |  FROM r WHERE rk <= 100),
       |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
       |    sum(CAST(x AS HUGEINT) * y) AS sxy,
       |    sum(CAST(x AS HUGEINT) * x) AS sxx
       |  FROM p GROUP BY 1)
       |SELECT source, n,
       |  CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
       |    AS slope,
       |  (CAST(sy AS DOUBLE)
       |     - (CAST(n*sxy - sx*sy AS DOUBLE)
       |        / CAST(n*sxx - sx*sx AS DOUBLE)) * CAST(sx AS DOUBLE))
       |    / CAST(n AS DOUBLE) AS intercept
       |FROM a WHERE n*sxx - sx*sx != 0""".stripMargin

  /** Next-event predictability per user segment
    * (Stats.transitionEntropy): conditional entropy H(next|cur),
    * marginal H(next) and their mutual information over each user's
    * ordered event-type stream — the information-theoretic readout on
    * top of q133's Markov transitions (deterministic flows → H≈0;
    * MI≈0 → the current event tells you nothing). Transitions build
    * with one lead() inside the user sequence on the q133 tie-safe
    * order; entropies are exact integer-weighted micro-log sums. */
  private def q252(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(expr("ts div 1000"), col("event_id"))
    val pairs = t(s, dir, "events")
      .withColumn("__next", lead(col("event_type"), 1).over(w))
      .where(col("__next").isNotNull)
      .select(pmod(col("user_id"), lit(3L)).as("seg"),
        col("event_type").as("src"), col("__next").as("dst"))
    Stats.transitionEntropy(pairs, "seg", "src", "dst")
  }

  private val q252Sql =
    """WITH p AS (
      |  SELECT user_id % 3 AS seg, event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ns(ts) // 1000, event_id) AS dst
      |  FROM events),
      |c AS (SELECT seg, src, dst, CAST(count(*) AS BIGINT) AS cnt
      |  FROM p WHERE dst IS NOT NULL GROUP BY 1, 2, 3),
      |st AS (SELECT seg, src, dst, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY seg) AS BIGINT) AS n,
      |    CAST(sum(cnt) OVER (PARTITION BY seg, src) AS BIGINT) AS stot
      |  FROM c),
      |hc AS (SELECT seg, n, CAST(count(*) AS BIGINT) AS n_pairs,
      |    sum(CAST(cnt AS HUGEINT)
      |      * (CAST(round(ln(CAST(stot AS DOUBLE)) * 1000000.0)
      |          AS BIGINT)
      |        - CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000.0)
      |          AS BIGINT))) AS s
      |  FROM st GROUP BY 1, 2),
      |dd AS (SELECT seg, dst, CAST(sum(cnt) AS BIGINT) AS dt
      |  FROM c GROUP BY 1, 2),
      |hn AS (SELECT dd.seg, hc.n, CAST(count(*) AS BIGINT) AS n_dst,
      |    sum(CAST(dt AS HUGEINT)
      |      * (CAST(round(ln(CAST(hc.n AS DOUBLE)) * 1000000.0)
      |          AS BIGINT)
      |        - CAST(round(ln(CAST(dt AS DOUBLE)) * 1000000.0)
      |          AS BIGINT))) AS s2
      |  FROM dd JOIN hc ON dd.seg = hc.seg GROUP BY 1, 2),
      |f AS (SELECT hc.seg, hc.n AS n_transitions, hc.n_pairs,
      |    hn.n_dst,
      |    CAST(hc.s AS DOUBLE) / (CAST(hc.n AS DOUBLE) * 1000000.0)
      |      AS h_cond,
      |    CAST(hn.s2 AS DOUBLE) / (CAST(hc.n AS DOUBLE) * 1000000.0)
      |      AS h_next
      |  FROM hc JOIN hn ON hc.seg = hn.seg)
      |SELECT seg, n_transitions, n_pairs, n_dst, h_cond, h_next,
      |  h_next - h_cond AS mi
      |FROM f""".stripMargin

  /** Post-stratified treatment effect per user segment
    * (Stats.stratifiedAte): the even/odd-user arms' revenue-cents
    * difference adjusted for the event-type mix — the categorical
    * sibling of q198's CUPED; raw_diff over the same kept strata
    * makes the mix bias directly readable. Exact decimal cell sums,
    * sorted sequential stratum fold (list_reduce parity). */
  private def q253(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "events").select(
      pmod(col("user_id"), lit(3L)).as("seg"),
      col("event_type").as("st"),
      (pmod(col("user_id"), lit(2L)) === 0L).as("side"),
      cents(col("value")).as("y"))
    Stats.stratifiedAte(base, "seg", "st", "side", "y")
  }

  private val q253Sql =
    """WITH base AS (
      |  SELECT user_id % 3 AS seg, event_type AS st,
      |    user_id % 2 = 0 AS side,
      |    CAST(round(value * 100) AS BIGINT) AS y
      |  FROM events),
      |cells AS (
      |  SELECT seg, st,
      |    CAST(sum(CASE WHEN NOT side THEN 1 ELSE 0 END) AS BIGINT)
      |      AS na,
      |    CAST(sum(CASE WHEN side THEN 1 ELSE 0 END) AS BIGINT) AS nb,
      |    sum(CASE WHEN NOT side THEN CAST(y AS HUGEINT)
      |      ELSE 0 END) AS sya,
      |    sum(CASE WHEN side THEN CAST(y AS HUGEINT) ELSE 0 END) AS syb
      |  FROM base GROUP BY 1, 2),
      |k AS (
      |  SELECT seg, CAST(count(*) AS BIGINT) AS tot,
      |    CAST(sum(CASE WHEN na > 0 AND nb > 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_strata,
      |    CAST(sum(CASE WHEN na > 0 AND nb > 0 THEN na + nb ELSE 0 END)
      |      AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN na > 0 AND nb > 0 THEN na ELSE 0 END)
      |      AS BIGINT) AS nat,
      |    CAST(sum(CASE WHEN na > 0 AND nb > 0 THEN nb ELSE 0 END)
      |      AS BIGINT) AS nbt,
      |    sum(CASE WHEN na > 0 AND nb > 0 THEN sya ELSE 0 END) AS syat,
      |    sum(CASE WHEN na > 0 AND nb > 0 THEN syb ELSE 0 END) AS sybt,
      |    list_sort(list({'st': st, 'na': na, 'nb': nb, 'sya': sya,
      |      'syb': syb}) FILTER (WHERE na > 0 AND nb > 0)) AS l
      |  FROM cells GROUP BY 1)
      |SELECT seg, n, n_strata, tot - n_strata AS n_dropped,
      |  CASE WHEN n_strata = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE list_reduce(list_prepend(0.0, list_transform(l, s ->
      |      ((CAST(s['na'] AS DOUBLE) + CAST(s['nb'] AS DOUBLE))
      |        / CAST(n AS DOUBLE))
      |      * (CAST(s['syb'] AS DOUBLE) / CAST(s['nb'] AS DOUBLE)
      |         - CAST(s['sya'] AS DOUBLE) / CAST(s['na'] AS DOUBLE)))),
      |      (p, q) -> p + q) END AS ate,
      |  CASE WHEN n_strata = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(sybt AS DOUBLE) / CAST(nbt AS DOUBLE)
      |      - CAST(syat AS DOUBLE) / CAST(nat AS DOUBLE) END AS raw_diff
      |FROM k""".stripMargin

  /** Serve the q248 isotonic map back onto every document
    * (Stats.calibrateScores): the deployment half of the calibration
    * loop — each document's length-bucket score picks up its pool's
    * monotone rate through the merge-exec as-of (never a per-row range
    * scan). The oracle replays PAVA and serves with DuckDB's native
    * ASOF LEFT JOIN plus the first-pool clamp coalesce, so the hash
    * match proves the pools AND the operator's FULL serving rule —
    * including the below-first-pool clamp, even though this fixture
    * only serves in-sample scores. */
  private def q254(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      col("source"), expr("least(n_chars div 200, 50)").as("score"),
      (col("lang") === "en").as("label"))
    val pools = Stats.isotonicCalibration(docs, "source", "score",
      "label")
    Stats.calibrateScores(pools,
        docs.select(col("doc_id"), col("source"), col("score")),
        "source", "score")
      .select(col("doc_id"), col("source"), col("score"),
        col("calibrated"))
  }

  private val q254Sql =
    """WITH RECURSIVE hist AS (
      |  SELECT source, least(n_chars // 200, 50) AS s,
      |    CAST(count(*) AS BIGINT) AS w,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS y
      |  FROM documents GROUP BY 1, 2),
      |base AS (
      |  SELECT source, list({'smin': s, 'smax': s, 'w': w, 'y': y}
      |    ORDER BY s) AS l
      |  FROM hist GROUP BY 1),
      |it AS (
      |  SELECT source, l FROM base
      |  UNION ALL
      |  SELECT source,
      |    l[1:i-1]
      |      || [{'smin': l[i]['smin'], 'smax': l[i+1]['smax'],
      |           'w': l[i]['w'] + l[i+1]['w'],
      |           'y': l[i]['y'] + l[i+1]['y']}]
      |      || l[i+2:] AS l
      |  FROM (
      |    SELECT source, l,
      |      list_position(list_transform(generate_series(1, len(l) - 1),
      |        j -> l[j]['y'] * l[j+1]['w'] > l[j+1]['y'] * l[j]['w']),
      |        true) AS i
      |    FROM it) WHERE i > 0),
      |fixed AS (
      |  SELECT source, l FROM (
      |    SELECT source, l,
      |      list_position(list_transform(generate_series(1, len(l) - 1),
      |        j -> l[j]['y'] * l[j+1]['w'] > l[j+1]['y'] * l[j]['w']),
      |        true) AS i
      |    FROM it) WHERE i = 0),
      |pools AS (
      |  SELECT source, e['idx'] AS idx, e['p']['smin'] AS smin,
      |    CAST(e['p']['y'] AS DOUBLE) / CAST(e['p']['w'] AS DOUBLE)
      |      AS rate
      |  FROM (SELECT source, unnest(list_transform(
      |      generate_series(1, len(l)), j -> {'idx': j, 'p': l[j]}))
      |      AS e
      |    FROM fixed)),
      |p1 AS (SELECT source, rate AS r0 FROM pools WHERE idx = 1),
      |d AS (SELECT doc_id, source, least(n_chars // 200, 50) AS score
      |  FROM documents)
      |SELECT d.doc_id, d.source, d.score,
      |  coalesce(p.rate, p1.r0) AS calibrated
      |FROM d ASOF LEFT JOIN pools p
      |  ON d.source = p.source AND d.score >= p.smin
      |LEFT JOIN p1 ON p1.source = d.source""".stripMargin

  /** Burstiness (variance-to-mean ratio of per-document counts, zeros
    * included) of the top-50 tokens (TextAnalysis.tokenBurstiness):
    * Poissonian function words near 1, bursty content words far
    * above — the dispersion complement to q251's Zipf slope. Exact
    * integer moments in decimal/HUGEINT until one double division. */
  private def q255(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenBurstiness(t(s, dir, "documents"), "doc_id",
      "text", 50)

  private val q255Sql =
    s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS token
       |  FROM documents),
       |pc AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
       |  FROM tok GROUP BY 1, 2),
       |pt AS (SELECT token, CAST(sum(c) AS BIGINT) AS cf,
       |    CAST(count(*) AS BIGINT) AS df,
       |    sum(CAST(c AS HUGEINT) * c) AS m2
       |  FROM pc GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |r AS (SELECT token, cf, df, m2,
       |    row_number() OVER (ORDER BY cf DESC, token DESC) AS rk
       |  FROM pt)
       |SELECT token, cf, df, n AS n_docs,
       |  CAST(CAST(n AS HUGEINT) * m2 - CAST(cf AS HUGEINT) * cf
       |      AS DOUBLE)
       |    / CAST(CAST(n AS HUGEINT) * cf AS DOUBLE) AS vmr
       |FROM r, nn WHERE rk <= 50""".stripMargin

  /** Expected calibration error per user segment
    * (Stats.expectedCalibrationError): the one-number ECE + max-gap
    * MCE over 10 equal-width probability bins for the q205
    * value-derived forecast — the numerator is exact integer
    * arithmetic (|1e6·y_b − Σq_b| per bin), so ECE is one double
    * division and MCE a fixed per-bin shape. */
  private def q256(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      pmod(col("user_id"), lit(3L)).as("seg"),
      least(cents(col("value")) * 20L, lit(1000000L)).as("q"),
      (col("event_type") === "purchase").as("l"))
    Stats.expectedCalibrationError(ev, "seg", "q", "l", nBuckets = 10)
  }

  private val q256Sql =
    """WITH o AS (
      |  SELECT user_id % 3 AS seg,
      |    least(CAST(round(value*100) AS BIGINT) * 20, 1000000) AS q,
      |    event_type = 'purchase' AS l
      |  FROM events),
      |h AS (
      |  SELECT seg, least((q * 10) // 1000000, 9) AS b,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN l THEN 1 ELSE 0 END) AS BIGINT) AS y,
      |    sum(CAST(q AS HUGEINT)) AS sq
      |  FROM o GROUP BY 1, 2),
      |g AS (SELECT seg, n, abs(CAST(y AS HUGEINT) * 1000000 - sq)
      |    AS gap
      |  FROM h)
      |SELECT seg, CAST(sum(n) AS BIGINT) AS n,
      |  CAST(count(*) AS BIGINT) AS n_bins_used,
      |  CAST(sum(gap) AS DOUBLE)
      |    / (CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) * 1000000.0)
      |    AS ece,
      |  max(CAST(gap AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0))
      |    AS mce
      |FROM g GROUP BY 1""".stripMargin

  /** Mann–Kendall monotone-trend test on the daily event volume per
    * event type (Stats.mannKendall): the nonparametric significance
    * companion to Theil–Sen (q200) and the omnibus sibling of q247's
    * single changepoint. 2S = n(n−1) − Σc(c−1) − 4·inversions rides
    * the O(n log n) merge-sort kernel; the oracle replays S with a
    * literal O(n²) signed pair join and the tie-corrected variance. */
  private def q257(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), expr("ts div 86400000000000").as("day"))
      .agg(count(lit(1)).as("cnt"))
    Stats.mannKendall(daily, "event_type", "day", "cnt")
  }

  private val q257Sql =
    """WITH daily AS (
      |  SELECT event_type AS k, epoch_ns(ts) // 86400000000000 AS t,
      |    CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |o AS (SELECT k, t, x,
      |    row_number() OVER (PARTITION BY k ORDER BY t, x) AS rn
      |  FROM daily),
      |pr AS (SELECT a.k,
      |    CAST(sum(CASE WHEN b.x > a.x THEN 1
      |      WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s
      |  FROM o a JOIN o b ON a.k = b.k AND b.rn > a.rn GROUP BY 1),
      |tn AS (SELECT k, CAST(count(*) AS BIGINT) AS n FROM daily
      |  GROUP BY 1),
      |tt AS (SELECT k,
      |    sum(CAST(c AS HUGEINT) * (c - 1) * (2 * c + 5)) AS tv
      |  FROM (SELECT k, x, CAST(count(*) AS BIGINT) AS c FROM daily
      |    GROUP BY 1, 2) GROUP BY 1),
      |f AS (SELECT tn.k, tn.n,
      |    CAST(coalesce(pr.s, 0) AS BIGINT) AS s,
      |    CAST(tn.n AS HUGEINT) * (tn.n - 1) * (2 * tn.n + 5)
      |      - coalesce(tt.tv, 0) AS vn
      |  FROM tn LEFT JOIN pr ON tn.k = pr.k
      |    LEFT JOIN tt ON tn.k = tt.k)
      |SELECT k AS event_type, n, s,
      |  CASE WHEN vn = 0 THEN CAST('nan' AS DOUBLE)
      |    WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)
      |      / sqrt(CAST(vn AS DOUBLE) / 18.0)
      |    WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)
      |      / sqrt(CAST(vn AS DOUBLE) / 18.0)
      |    ELSE 0.0 END AS z
      |FROM f""".stripMargin

  /** Day-of-week seasonal profile of the daily event volume per event
    * type (Stats.seasonalProfile, period 7): classical decomposition's
    * seasonal component with an exact integer core — the centered
    * window sum detrends, the 7-scaled residual 7x − S is an exact
    * integer, and each weekday's seasonal mean is one double
    * division. */
  private def q258(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), expr("ts div 86400000000000").as("day"))
      .agg(count(lit(1)).as("cnt"))
    Stats.seasonalProfile(daily, "event_type", "day", "cnt", period = 7)
  }

  private val q258Sql =
    """WITH daily AS (
      |  SELECT event_type AS k, epoch_ns(ts) // 86400000000000 AS t,
      |    CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT k, t, x,
      |    CAST(sum(x) OVER (PARTITION BY k ORDER BY t, x
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS s,
      |    CAST(count(*) OVER (PARTITION BY k ORDER BY t, x
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS wn
      |  FROM daily),
      |r AS (SELECT k, t % 7 AS pos,
      |    CASE WHEN wn = 7 THEN CAST(7 AS HUGEINT) * x - s END AS r
      |  FROM w)
      |SELECT k AS event_type, pos, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(r) AS BIGINT) AS n_windowed,
      |  CASE WHEN count(r) = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(sum(r) AS DOUBLE)
      |      / (7.0 * CAST(CAST(count(r) AS BIGINT) AS DOUBLE)) END
      |    AS seasonal
      |FROM r GROUP BY 1, 2""".stripMargin

  /** Rank-biased overlap of the top-10 revenue leaderboards per event
    * type between the first and second half of the day range
    * (Stats.rankingOverlap): the top-weighted "did my ranking move?"
    * serving-quality number. p = 9/10 keeps every depth weight
    * rational — the oracle replays the fold with exact integer power
    * literals and list_intersect. */
  private def q259(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_type"),
      expr("ts div 86400000000000").as("day"), col("user_id"),
      cents(col("value")).as("v"))
    val mid = ev.agg(expr("(min(day) + max(day) + 1) div 2").as("__mid"))
    val withMid = ev.crossJoin(broadcast(mid))
    def ranked(cond: Column) = withMid.where(cond)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("v")).as("rev"))
      .groupBy(col("event_type"))
      .agg(graft.functions.top_k_by(struct(col("rev"),
        (-col("user_id")).as("__nu"), col("user_id")), 10).as("__top"))
      .select(col("event_type"),
        posexplode(col("__top")).as(Seq("__p", "__g")))
      .select(col("event_type"), col("__g.user_id").as("item"),
        (col("__p") + 1).cast("long").as("rank"))
    Stats.rankingOverlap(ranked(col("day") < col("__mid")),
      ranked(col("day") >= col("__mid")), "event_type", "item", "rank",
      k = 10)
  }

  private val q259Sql =
    """WITH ev AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
      |    user_id, CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events),
      |m AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ev),
      |ra AS (SELECT event_type, user_id, row_number() OVER (
      |    PARTITION BY event_type ORDER BY rev DESC, user_id ASC) AS rk
      |  FROM (SELECT event_type, user_id,
      |      CAST(sum(v) AS BIGINT) AS rev
      |    FROM ev, m WHERE day < mid GROUP BY 1, 2)),
      |rb AS (SELECT event_type, user_id, row_number() OVER (
      |    PARTITION BY event_type ORDER BY rev DESC, user_id ASC) AS rk
      |  FROM (SELECT event_type, user_id,
      |      CAST(sum(v) AS BIGINT) AS rev
      |    FROM ev, m WHERE day >= mid GROUP BY 1, 2)),
      |la AS (SELECT event_type, list(user_id ORDER BY rk) AS a
      |  FROM ra WHERE rk <= 10 GROUP BY 1),
      |lb AS (SELECT event_type, list(user_id ORDER BY rk) AS b
      |  FROM rb WHERE rk <= 10 GROUP BY 1)
      |SELECT la.event_type,
      |  CAST(len(a) AS BIGINT) AS depth_a,
      |  CAST(len(b) AS BIGINT) AS depth_b,
      |  0.1 * list_reduce(list_prepend(0.0, list_transform(
      |    generate_series(1, least(len(a), len(b))), d ->
      |      CAST(([1, 9, 81, 729, 6561, 59049, 531441, 4782969,
      |          43046721, 387420489])[d]
      |        * len(list_intersect(a[1:d], b[1:d])) AS DOUBLE)
      |      / CAST(([1, 10, 100, 1000, 10000, 100000, 1000000,
      |          10000000, 100000000, 1000000000])[d] * d AS DOUBLE))),
      |    (p, q) -> p + q) AS rbo
      |FROM la JOIN lb ON la.event_type = lb.event_type""".stripMargin

  /** Cochran–Armitage trend of the purchase rate across value tiers
    * per user segment (Stats.cochranArmitage): the ordered-dose
    * sibling of q189's two-proportion z — exact decimal T and
    * variance pieces, one fixed-shape sqrt + divide the oracle
    * replays in HUGEINT. */
  private def q260(s: SparkSession, dir: String): DataFrame = {
    val c = cents(col("value"))
    // pmod-subtract spelling = floor division, matching the oracle's
    // `//` on any sign (and cents() stays the bround pairing)
    val ev = t(s, dir, "events").select(
      pmod(col("user_id"), lit(3L)).as("seg"),
      least(((c - pmod(c, lit(2000L))) / lit(2000L)).cast("long"),
        lit(5L)).as("tier"),
      (col("event_type") === "purchase").as("hit"))
    Stats.cochranArmitage(ev, "seg", "tier", "hit")
  }

  private val q260Sql =
    """WITH o AS (
      |  SELECT user_id % 3 AS seg,
      |    least(CAST(round(value*100) AS BIGINT) // 2000, 5) AS w,
      |    event_type = 'purchase' AS hit
      |  FROM events),
      |c AS (SELECT seg, w, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS y
      |  FROM o GROUP BY 1, 2),
      |a AS (SELECT seg, CAST(sum(n) AS BIGINT) AS n,
      |    CAST(sum(y) AS BIGINT) AS y,
      |    CAST(count(*) AS BIGINT) AS n_doses,
      |    sum(CAST(n AS HUGEINT) * w) AS s1,
      |    sum(CAST(n AS HUGEINT) * w * w) AS s2,
      |    sum(CAST(w AS HUGEINT) * y) AS wy
      |  FROM c GROUP BY 1)
      |SELECT seg, n, y, n_doses,
      |  CAST(wy * n - s1 * y AS DOUBLE) AS t_scaled,
      |  CASE WHEN CAST(y AS HUGEINT) * (n - y)
      |      * (CAST(n AS HUGEINT) * s2 - s1 * s1) <= 0
      |    THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(wy * n - s1 * y AS DOUBLE)
      |      / sqrt(CAST(CAST(y AS HUGEINT) * (n - y)
      |          * (CAST(n AS HUGEINT) * s2 - s1 * s1) AS DOUBLE)
      |        / CAST(n AS DOUBLE)) END AS z
      |FROM a""".stripMargin

  /** Lead–lag cross-correlation between daily signup and purchase
    * volumes per user-parity segment (Stats.leadLagCorrelation,
    * lags ±5): one O(n·L) BigInt kernel per key produces all eleven
    * exact sufficient-statistic sets — no per-lag self-join; the
    * oracle replays with an rn-shifted join and HUGEINT sums. */
  private def q261(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(pmod(col("user_id"), lit(2L)).as("seg"),
        expr("ts div 86400000000000").as("day"))
      .agg(sum(when(col("event_type") === "signup", 1L).otherwise(0L))
        .as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
    Stats.leadLagCorrelation(daily, "seg", "day", "x", "y", maxLag = 5)
  }

  private val q261Sql =
    """WITH daily AS (
      |  SELECT user_id % 2 AS seg, epoch_ns(ts) // 86400000000000 AS d,
      |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |o AS (SELECT seg, x, y,
      |    row_number() OVER (PARTITION BY seg ORDER BY d, x, y) AS rn
      |  FROM daily),
      |lags AS (SELECT unnest(generate_series(-5, 5)) AS lag),
      |p AS (SELECT a.seg, g.lag, a.x AS x, b.y AS y
      |  FROM o a JOIN lags g ON true
      |    JOIN o b ON b.seg = a.seg AND b.rn = a.rn + g.lag),
      |s AS (SELECT seg, lag, CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM p GROUP BY 1, 2),
      |f AS (SELECT o.seg, g.lag,
      |    coalesce(s.n, 0) AS n, s.sx, s.sy, s.sxy, s.sxx, s.syy
      |  FROM (SELECT DISTINCT seg FROM o) o JOIN lags g ON true
      |    LEFT JOIN s ON s.seg = o.seg AND s.lag = g.lag)
      |SELECT seg, CAST(lag AS BIGINT) AS lag, n AS n_pairs,
      |  CASE WHEN n < 2
      |      OR CAST(n AS HUGEINT) * sxx - sx * sx = 0
      |      OR CAST(n AS HUGEINT) * syy - sy * sy = 0
      |    THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
      |      / (sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE))
      |        * sqrt(CAST(CAST(n AS HUGEINT) * syy - sy * sy
      |            AS DOUBLE))) END AS r
      |FROM f""".stripMargin

  /** Empirical-Bayes smoothed per-user purchase rate within each
    * user-parity segment (Stats.ebShrinkRates): beta-binomial method
    * of moments — the strength is learned from the segment's own rate
    * spread, so one-event users land near the prior while heavy users
    * keep their rate. Exact (n, y) cells; Σr/Σr² as sorted sequential
    * folds (list_reduce parity); every shrunk rate a fixed IEEE
    * shape. */
  private def q262(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      pmod(col("user_id"), lit(2L)).as("seg"), col("user_id"),
      (col("event_type") === "purchase").as("hit"))
    Stats.ebShrinkRates(ev, "seg", "user_id", "hit")
  }

  private val q262Sql =
    """WITH o AS (
      |  SELECT user_id % 2 AS seg, user_id,
      |    event_type = 'purchase' AS hit
      |  FROM events),
      |c AS (SELECT seg, user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS y
      |  FROM o GROUP BY 1, 2),
      |w AS (SELECT seg, user_id, n, y,
      |    CAST(y AS DOUBLE) / CAST(n AS DOUBLE) AS rate FROM c),
      |k AS (SELECT seg, CAST(count(*) AS BIGINT) AS cnt,
      |    list_sort(list({'i': user_id, 'r': rate})) AS l
      |  FROM w GROUP BY 1),
      |p0 AS (SELECT seg, cnt,
      |    list_reduce(list_prepend(0.0, list_transform(l,
      |      x -> x['r'])), (p, q) -> p + q) / CAST(cnt AS DOUBLE) AS m,
      |    list_reduce(list_prepend(0.0, list_transform(l,
      |      x -> x['r'] * x['r'])), (p, q) -> p + q)
      |      / CAST(cnt AS DOUBLE) AS srr
      |  FROM k),
      |p1 AS (SELECT seg, m AS prior_mean,
      |    CASE WHEN srr - m * m > 0.0
      |      THEN CASE WHEN m * (1.0 - m) / (srr - m * m) - 1.0 > 0.0
      |        THEN m * (1.0 - m) / (srr - m * m) - 1.0 ELSE 0.0 END
      |      ELSE 0.0 END AS strength
      |  FROM p0)
      |SELECT w.seg, w.user_id AS item, w.n, w.y, w.rate,
      |  CASE WHEN strength > 0.0
      |    THEN (CAST(y AS DOUBLE) + prior_mean * strength)
      |      / (CAST(n AS DOUBLE) + strength)
      |    ELSE w.rate END AS shrunk,
      |  prior_mean, strength
      |FROM w JOIN p1 ON w.seg = p1.seg""".stripMargin

  /** Compressed-JSONL ingest front door (sources/TextIngest) — the
    * missing link between "parquet analytics engine" and "data
    * pipeline": the fixture serializes every document to one gzip'd
    * JSON line (6 lines corrupted into non-JSON by a doubled brace —
    * doc_id % 97; 5 more serialized WITHOUT their text field —
    * doc_id % 89), and the schema-validated ingest must route each
    * line to exactly one status channel (ok / missing_required /
    * corrupt) with zero row loss. The gate rolls valid + error rows
    * up per (status, source, lang): `chars` = sum(length) over the
    * PARSED text proves the value round-trip (escape/unescape) is
    * lossless; `id_sum` over parsed ids pins numeric-field typing;
    * the corrupt bucket's (NULL, NULL) keys pin that garbage lines
    * poison no real group. The oracle replays the corruption classes
    * from the documents table directly — it never parses JSON, so a
    * hash match means Spark's parse inverted the serialization
    * exactly. Ingest itself is shuffle-free (line-local parse +
    * projection, ScaleSpec-pinned); the one shuffle here is the
    * gate's own accounting rollup. */
  /** The shared jsonl fixture (gzip'd lines from documents, 97-class
    * corrupt + 89-class text-missing) and its explicit read schema —
    * staged once per JVM; q263 proves the parse, q276 pipelines it. */
  private def jsonlDocsFixture(s: SparkSession, dir: String): String =
    stagedFixtures.computeIfAbsent(s"jsonl_docs|$dir", _ => {
      val p = stagePath("jsonl_docs", dir)
      val payload = struct(col("doc_id"), col("lang"), col("source"),
        col("text"))
      t(s, dir, "documents").select(
        when(pmod(col("doc_id"), lit(97L)) === 0L,
          concat(lit("{"), to_json(payload)))
          .when(pmod(col("doc_id"), lit(89L)) === 0L,
            to_json(struct(col("doc_id"), col("lang"), col("source"))))
          .otherwise(to_json(payload)).as("value"))
        .write.mode("overwrite").option("compression", "gzip").text(p)
      p
    })

  private def jsonlDocsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{LongType, StringType => SStr,
      StructField => SF, StructType => ST}
    ST(Seq(SF("doc_id", LongType), SF("lang", SStr),
      SF("source", SStr), SF("text", SStr)))
  }

  private def q263(s: SparkSession, dir: String): DataFrame = {
    val ing = graft.sources.TextIngest.jsonlWithErrors(s,
      jsonlDocsFixture(s, dir), jsonlDocsSchema,
      required = Seq("doc_id", "text"))
    ing.groupBy(col("_status").as("status"), col("source"), col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_status") === "ok", length(col("text")))
          .otherwise(0L)).as("chars"),
        sum(coalesce(col("doc_id"), lit(0L))).as("id_sum"))
  }

  private val q263Sql =
    """WITH cls AS (
      |  SELECT CASE WHEN doc_id % 97 = 0 THEN 'corrupt'
      |              WHEN doc_id % 89 = 0 THEN 'missing_required'
      |              ELSE 'ok' END AS status,
      |    doc_id, lang, source, text
      |  FROM documents)
      |SELECT status,
      |  CASE WHEN status = 'corrupt' THEN NULL ELSE source END AS source,
      |  CASE WHEN status = 'corrupt' THEN NULL ELSE lang END AS lang,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN status = 'ok' THEN length(text) ELSE 0 END)
      |    AS BIGINT) AS chars,
      |  CAST(sum(CASE WHEN status = 'corrupt' THEN 0 ELSE doc_id END)
      |    AS BIGINT) AS id_sum
      |FROM cls GROUP BY 1, 2, 3""".stripMargin

  /** Order-5 stupid-backoff perplexity filter
    * (TextAnalysis.stupidBackoffPerplexity) — the production KenLM /
    * CCNet shape upgraded from q99's add-one bigram: the LM trains on
    * doc_id % 3 != 0 and scores EVERYTHING, so the held-out third
    * actually exercises the 0.4^j backoff chain (a corpus contains all
    * of its own n-grams). ONE count table carries every gram order;
    * backoff resolves per DISTINCT scoring key with one ln rounded
    * once to micro-nats; doc scores are integer sums + integral-mean.
    * The oracle replays the full recursion — count table, 9-way
    * resolution join, penalty chain, quantization — bit-for-bit. */
  private def q264(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.stupidBackoffPerplexity(t(s, dir, "documents"),
      "doc_id", "text", col("doc_id") % 3 =!= 0L, order = 5,
      thresholdMicro = 2550000L)

  private val q264Sql: String = {
    val keysExpr = (tk: String) =>
      s"[array_to_string($tk[greatest(1, i-4):i], ' ') " +
        s"for i in range(1, len($tk)+1)]"
    def penSql(j: String): String = {
      val arms = (0 to 4).map { v =>
        val chain = if (v == 0) "CAST(1.0 AS DOUBLE)"
        else Seq.fill(v)("CAST(0.4 AS DOUBLE)").mkString(" * ")
        s"WHEN $v THEN $chain"
      }.mkString(" ")
      s"(CASE $j $arms END)"
    }
    val gramJoins = (5 to 2 by -1).map { k =>
      s"""LEFT JOIN c s$k ON dkw.L >= $k AND s$k.g =
         |  array_to_string(dkw.w[greatest(1, dkw.L-${k - 1}):dkw.L], ' ')
         |LEFT JOIN c x$k ON dkw.L >= $k AND x$k.g =
         |  array_to_string(dkw.w[greatest(1, dkw.L-${k - 1}):dkw.L-1], ' ')"""
        .stripMargin
    }.mkString("\n")
    val arms = (5 to 2 by -1).map { k =>
      s"""WHEN dkw.L >= $k AND s$k.c IS NOT NULL THEN
         |  (CAST(s$k.c AS DOUBLE) / CAST(x$k.c AS DOUBLE))
         |    * ${penSql(s"dkw.L - $k")}""".stripMargin
    }.mkString("\n")
    s"""WITH toks AS (
       |  SELECT doc_id, doc_id % 3 != 0 AS tr, $toksSql AS tk
       |  FROM documents),
       |keys AS (
       |  SELECT doc_id, unnest(${keysExpr("tk")}) AS g FROM toks),
       |tkeys AS (
       |  SELECT unnest([array_to_string(w[len(w)-j+1:len(w)], ' ')
       |                 for j in range(1, len(w)+1)]) AS g
       |  FROM (SELECT string_split(kg, ' ') AS w FROM (
       |    SELECT unnest(${keysExpr("tk")}) AS kg
       |    FROM toks WHERE tr))),
       |c AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM tkeys GROUP BY g),
       |tot AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS N, CAST(count(*) AS BIGINT) AS V
       |  FROM c WHERE len(string_split(g, ' ')) = 1),
       |dkw AS (
       |  SELECT g, string_split(g, ' ') AS w, len(string_split(g, ' ')) AS L
       |  FROM (SELECT DISTINCT g FROM keys)),
       |nll AS (
       |  SELECT dkw.g,
       |    -CAST(round(ln(CASE
       |$arms
       |      ELSE (CAST(coalesce(s1.c, 0) + 1 AS DOUBLE)
       |              / CAST(tot.N + tot.V AS DOUBLE))
       |            * ${penSql("dkw.L - 1")}
       |      END) * 1000000.0) AS BIGINT) AS nll
       |  FROM dkw
       |$gramJoins
       |  LEFT JOIN c s1 ON s1.g = dkw.w[dkw.L]
       |  CROSS JOIN tot),
       |sc AS (
       |  SELECT k.doc_id, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(nll.nll) AS BIGINT) AS s
       |  FROM keys k JOIN nll ON nll.g = k.g GROUP BY 1)
       |SELECT t.doc_id, t.tr AS is_train,
       |  coalesce(sc.n, 0) AS n_tokens,
       |  coalesce(sc.s, 0) AS nll_sum_micro,
       |  CASE WHEN sc.n > 0 THEN sc.s // sc.n ELSE 0 END AS nll_avg_micro,
       |  coalesce(sc.n, 0) > 0 AND
       |    (CASE WHEN sc.n > 0 THEN sc.s // sc.n ELSE 0 END) <= 2550000
       |    AS keep
       |FROM toks t LEFT JOIN sc USING (doc_id)""".stripMargin
  }

  /** Seed-anchored SCC membership (Graph.sccMembership) over the
    * DIRECTED token "follows" graph — w1→w2 per distinct corpus bigram
    * with count ≥ 2 — from the 3 lexicographically smallest words, 2
    * hops: fwd ∩ bwd seed-MASK propagation (bit_or rounds, so no seed
    * can shadow another's component), scc = the smallest seed in the
    * intersection, and the corpus's one dead-end word classifying
    * fwd-only (the crawl-loop / spam-ring detector the undirected
    * family can't express; the q169 BFS discipline on a directed
    * relation, run both ways). The oracle assigns seed bits by the
    * same engine ordering, unrolls both directions' bit_or rounds as
    * chained CTEs and reconciles lowest-set-bit → seed. */
  private def q265(s: SparkSession, dir: String): DataFrame = {
    val bg = t(s, dir, "documents")
      .select(explode(word_shingles(ws_tokens(col("text")), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c"))
      .where(col("c") >= 2L)
      .select(substring_index(col("bg"), " ", 1).as("src"),
        substring_index(col("bg"), " ", -1).as("dst"))
      .where(col("src") =!= col("dst"))
      .localCheckpoint() // feeds seeds + both propagation directions
    val nodes = bg.select(col("src").as("node"))
      .unionByName(bg.select(col("dst").as("node"))).distinct()
    val seeds = nodes.orderBy(col("node")).limit(3)
    Graph.sccMembership(bg, seeds, maxHops = 2)
  }

  private val q265Sql = {
    def rounds(p: String, eTab: String) = (1 to 2).map { i =>
      s"""$p$i AS (
         |  SELECT node, bit_or(m) AS m FROM (
         |    SELECT node, m FROM $p${i - 1}
         |    UNION ALL
         |    SELECT e.v AS node, f.m FROM $p${i - 1} f
         |    JOIN $eTab e ON e.u = f.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    def lo(x: String) = s"(($x) & -($x))"
    s"""WITH toks AS (SELECT $toksSql AS tk FROM documents),
       |bgx AS (SELECT unnest([concat_ws(' ', tk[i], tk[i+1])
       |                       for i in range(1, len(tk))]) AS bg
       |        FROM toks),
       |cc AS (SELECT bg, count(*) AS c FROM bgx GROUP BY 1),
       |e AS (SELECT split_part(bg, ' ', 1) AS u, split_part(bg, ' ', 2) AS v
       |      FROM cc WHERE c >= 2
       |        AND split_part(bg, ' ', 1) != split_part(bg, ' ', 2)),
       |er AS (SELECT v AS u, u AS v FROM e),
       |nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
       |sd AS (SELECT node, row_number() OVER (ORDER BY node) - 1 AS bi
       |       FROM (SELECT node FROM nodes ORDER BY node LIMIT 3)),
       |f0 AS (SELECT node, (CAST(1 AS BIGINT) << bi) AS m FROM sd),
       |b0 AS (SELECT node, (CAST(1 AS BIGINT) << bi) AS m FROM sd),
       |${rounds("f", "e")},
       |${rounds("b", "er")}
       |SELECT coalesce(f.node, b.node) AS node,
       |  sf.node AS fwd, sb.node AS bwd, sc.node AS scc
       |FROM f2 f FULL OUTER JOIN b2 b ON b.node = f.node
       |LEFT JOIN sd sf
       |  ON (CAST(1 AS BIGINT) << sf.bi) = ${lo("coalesce(f.m, 0)")}
       |LEFT JOIN sd sb
       |  ON (CAST(1 AS BIGINT) << sb.bi) = ${lo("coalesce(b.m, 0)")}
       |LEFT JOIN sd sc
       |  ON (CAST(1 AS BIGINT) << sc.bi) =
       |    ${lo("coalesce(f.m, 0) & coalesce(b.m, 0)")}""".stripMargin
  }

  /** Exact-size weighted sample without replacement
    * (Stats.weightedSampleExact, Efraimidis–Spirakis keys): exactly
    * 100 documents drawn with inclusion pressure ∝ length (n_chars+1
    * keeps the weight positive) — the exact-n pass q67's Bernoulli
    * keep and q116's temperature quotas cannot deliver. Keys are
    * deterministic md5 uniforms through ln-space micro-quantization
    * and ONE double division; selection is the partial-combining
    * top-k aggregate, never a global sort. The oracle replays the
    * keys and ranks with a window — two different plans, one exact
    * answer. */
  private def q266(s: SparkSession, dir: String): DataFrame =
    Stats.weightedSampleExact(
      t(s, dir, "documents")
        .select(col("doc_id"), (col("n_chars") + 1L).as("w")),
      "doc_id", "w", n = 100)

  private val q266Sql =
    s"""WITH d AS (SELECT doc_id, n_chars + 1 AS w FROM documents),
       |k AS (
       |  SELECT doc_id, CAST(w AS BIGINT) AS w,
       |    CAST(round(ln(
       |      CAST(${md5LongSql("CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)
       |        / 1152921504606846976.0) * 1000000.0) AS BIGINT) AS lq
       |  FROM d),
       |r AS (
       |  SELECT doc_id, w,
       |    CAST(lq AS DOUBLE) / CAST(w AS DOUBLE) AS es_key,
       |    row_number() OVER (
       |      ORDER BY CAST(lq AS DOUBLE) / CAST(w AS DOUBLE) DESC,
       |        doc_id DESC) AS rk
       |  FROM k)
       |SELECT CAST(rk AS BIGINT) AS rank, doc_id, w, es_key
       |FROM r WHERE rk <= 100""".stripMargin

  /** ε-DP noisy count release (Stats.noisyCounts, ε = 0.25): per
    * (source, lang) document counts published with deterministic
    * inverse-CDF Laplace(1/ε) noise — the release half of the privacy
    * family beside q235/q236's k-anonymity profiling. The md5-seeded
    * uniform makes the release reproducible across runs and engines;
    * one ln micro-quantized, the 1/ε scale in pure integer arithmetic
    * (Spark `div` == DuckDB `//`, both truncating). The oracle
    * replays hash → uniform → fold → clamp → ln → quantize → scale
    * bit-for-bit. */
  private def q267(s: SparkSession, dir: String): DataFrame =
    Stats.noisyCounts(t(s, dir, "documents"), Seq("source", "lang"),
      epsilonMicro = 250000L)

  private val q267Sql = {
    val uExpr = s"CAST(${md5LongSql("concat_ws(chr(1), source, lang)")}" +
      " + 1 AS DOUBLE) / 1152921504606846976.0"
    s"""WITH g AS (
       |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1, 2),
       |u AS (SELECT source, lang, n, $uExpr AS u FROM g),
       |l AS (
       |  SELECT source, lang, n,
       |    CAST(-sign(u - CAST(0.5 AS DOUBLE)) *
       |      round(ln(greatest(
       |        CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) *
       |          abs(u - CAST(0.5 AS DOUBLE)),
       |        8.673617379884035e-19)) * 1000000.0) AS BIGINT) AS lap
       |  FROM u)
       |SELECT source, lang, n,
       |  (lap * 1000000) // 250000 AS noise_micro,
       |  n * 1000000 + (lap * 1000000) // 250000 AS released_micro
       |FROM l""".stripMargin
  }

  /** Deterministic train/val/test split assignment (Stats.splitAssign,
    * 80/10/10): every document lands in exactly one named split by its
    * own salted hash bucket — zero shuffles, no global state, new rows
    * arrive pre-assigned and duplicate ids co-assign (the train/eval
    * contamination wall). The oracle replays the bucket walk. */
  private def q268(s: SparkSession, dir: String): DataFrame =
    Stats.splitAssign(
      t(s, dir, "documents").select(col("doc_id"), col("lang")),
      "doc_id",
      Seq("train" -> 800000L, "val" -> 100000L, "test" -> 100000L))

  private val q268Sql =
    s"""WITH b AS (
       |  SELECT doc_id, lang,
       |    ${md5LongSql("CAST(doc_id AS VARCHAR) || ':v1'")} % 1000000
       |      AS b
       |  FROM documents)
       |SELECT doc_id, lang,
       |  CASE WHEN b < 800000 THEN 'train'
       |       WHEN b < 900000 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM b""".stripMargin

  /** Precision–recall threshold sweep per source (Stats.prCurve) over
    * the q254 fixture (length-bucket score, lang=='en' label): the
    * operating-curve companion of q188's per-source AUC — exact
    * confusion counts from one descending cumulative window over the
    * bounded score histogram, F1 as ONE division 2TP/(PP+POS). The
    * oracle replays the histogram and both windows. */
  private def q269(s: SparkSession, dir: String): DataFrame =
    Stats.prCurve(
      t(s, dir, "documents").select(col("source"),
        expr("least(n_chars div 200, 50)").as("score"),
        (col("lang") === "en").as("label")),
      "source", "score", "label")

  private val q269Sql =
    """WITH h AS (
      |  SELECT source, least(n_chars // 200, 50) AS s,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS np,
      |    CAST(count(*) AS BIGINT) AS nw
      |  FROM documents GROUP BY 1, 2),
      |w AS (
      |  SELECT source, s AS threshold,
      |    CAST(sum(np) OVER (PARTITION BY source ORDER BY s DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS tp,
      |    CAST(sum(nw) OVER (PARTITION BY source ORDER BY s DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS pp,
      |    CAST(sum(np) OVER (PARTITION BY source) AS BIGINT) AS pos
      |  FROM h)
      |SELECT source, threshold, tp, pp - tp AS fp, pos - tp AS fn,
      |  CAST(tp AS DOUBLE) / CAST(pp AS DOUBLE) AS precision,
      |  CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE) AS recall,
      |  CAST(2 * tp AS DOUBLE) / CAST(pp + pos AS DOUBLE) AS f1
      |FROM w WHERE pos > 0""".stripMargin

  /** NPMI-scored collocations (TextAnalysis.collocationNpmi, Bouma
    * 2009) over the q129 dictionary graph: lift put on the calibrated
    * [−1, 1] scale phrase-mining thresholds — pmi and −ln p(a,b)
    * micro-quantized independently (one ln each per distinct pair),
    * npmi their ONE double ratio. The oracle extends the shared
    * collocation CTEs with the same two quantized logs. */
  private def q270(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = TextAnalysis.buildDictionary(docs, "doc_id", "text",
      topK = 40, minLen = 4)
    TextAnalysis.collocationNpmi(docs, "doc_id", "text", vocab,
      minPairDocs = 5)
  }

  private val q270Sql = collocCtes +
    """,
      |n AS (SELECT count(*) AS n FROM documents),
      |na AS (SELECT tk, count(*) AS df FROM p GROUP BY 1),
      |sc AS (
      |  SELECT term_a, term_b, n_ab,
      |    CAST(n_ab * n.n AS DOUBLE) / CAST(x.df * y.df AS DOUBLE)
      |      AS lift,
      |    CAST(round(ln(CAST(n_ab * n.n AS DOUBLE)
      |        / CAST(x.df * y.df AS DOUBLE)) * 1000000.0) AS BIGINT)
      |      AS pmi_micro,
      |    -CAST(round(ln(CAST(n_ab AS DOUBLE) / CAST(n.n AS DOUBLE))
      |        * 1000000.0) AS BIGINT) AS den
      |  FROM pairs CROSS JOIN n
      |  JOIN na x ON term_a = x.tk JOIN na y ON term_b = y.tk
      |  WHERE n_ab >= 5)
      |SELECT term_a, term_b, n_ab, lift, pmi_micro,
      |  CASE WHEN den = 0 THEN CAST(1.0 AS DOUBLE)
      |       ELSE CAST(pmi_micro AS DOUBLE) / CAST(den AS DOUBLE)
      |  END AS npmi
      |FROM sc""".stripMargin

  /** Neighbor-cosine self-similarity profile per label
    * (Similarity.neighborCosineProfile): every vector pairs with the
    * next vec_id of its label, cosines micro-quantize once and
    * histogram into ten fixed [−1, 1] bins with an integral-division
    * mean — the cheap mode-collapse / template-farm audit run BEFORE
    * paying for SemDeDup on a slice. The oracle replays the lead
    * window, the sequential-fold cosine (the q22 discipline) and the
    * integer binning. */
  private def q271(s: SparkSession, dir: String): DataFrame =
    Similarity.neighborCosineProfile(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label")
      .select(col("label").cast("long").as("label"), col("bin"),
        col("bin_lo_micro"), col("n"), col("n_pairs"), col("mean_micro"))

  private val q271Sql = {
    val cosVN = cosSqlAB.replace("a.v", "v").replace("b.v", "nv")
    s"""WITH e AS (SELECT label, vec_id, embedding AS v FROM embeddings),
       |p AS (
       |  SELECT label, v,
       |    lead(v) OVER (PARTITION BY label ORDER BY vec_id) AS nv
       |  FROM e),
       |c AS (
       |  SELECT label,
       |    CAST(round($cosVN * 1000000.0) AS BIGINT) AS cm
       |  FROM p WHERE nv IS NOT NULL),
       |b AS (
       |  SELECT label,
       |    least(greatest((cm + 1000000) // 200000, 0), 9) AS bin,
       |    CAST(count(*) AS BIGINT) AS n, CAST(sum(cm) AS BIGINT) AS s
       |  FROM c GROUP BY 1, 2),
       |t AS (SELECT label, CAST(sum(n) AS BIGINT) AS n_pairs,
       |        CAST(sum(s) AS BIGINT) AS ts
       |      FROM b GROUP BY 1)
       |SELECT CAST(b.label AS BIGINT) AS label, b.bin,
       |  b.bin * 200000 - 1000000 AS bin_lo_micro, b.n, t.n_pairs,
       |  ts // n_pairs AS mean_micro
       |FROM b JOIN t ON t.label = b.label""".stripMargin
  }

  /** MMR-diversified top-k (Similarity.mmrTopK, λ = 0.7): re-rank each
    * of six queries' 8 brute candidates into 4 diversity-aware picks —
    * greedy λ·rel − (1−λ)·max-sim-to-picked over micro-quantized
    * cosines, exact int64 scores, lowest-rank ties. The oracle carries
    * the full k×k pair-cosine matrix as a list-of-lists through a
    * recursive CTE and replays every greedy round (the q233
    * recursive-replay discipline), so the hash match proves the whole
    * selection trajectory, not just the final set. */
  private def q272(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.mmrTopK(emb, emb.where(col("vec_id") < 6), kCand = 8,
      m = 4, lambdaMicro = 700000L)
  }

  private val q272Sql = {
    val cosXY = cosSqlAB.replace("a.v", "x.cv").replace("b.v", "y.cv")
    s"""WITH RECURSIVE e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
       |    round($cosSqlAB, 6) AS cos_sim, b.v AS cv
       |  FROM e a JOIN e b ON b.vec_id != a.vec_id
       |  WHERE a.vec_id < 6),
       |cand AS (
       |  SELECT query_id, cand_id, cv,
       |    CAST(round(cos_sim * 1000000.0) AS BIGINT) AS rel,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, cand_id ASC) AS idx
       |  FROM scored
       |  QUALIFY idx <= 8),
       |pm AS (
       |  SELECT x.query_id, x.idx AS i, y.idx AS j,
       |    CASE WHEN x.idx = y.idx THEN 0
       |      ELSE CAST(round($cosXY * 1000000.0) AS BIGINT) END AS sm
       |  FROM cand x JOIN cand y USING (query_id)),
       |mrow AS (SELECT query_id, i, list(sm ORDER BY j) AS srow
       |         FROM pm GROUP BY 1, 2),
       |mat AS (SELECT query_id, list(srow ORDER BY i) AS mm
       |        FROM mrow GROUP BY 1),
       |rl AS (SELECT query_id, list(rel ORDER BY idx) AS rels,
       |         CAST(count(*) AS BIGINT) AS k
       |       FROM cand GROUP BY 1),
       |base AS (SELECT rl.query_id, rels, mm, k
       |         FROM rl JOIN mat USING (query_id)),
       |it AS (
       |  SELECT query_id, rels, mm, k,
       |    [list_position(rels, list_max(rels))] AS sel,
       |    [700000 * list_max(rels)] AS scs,
       |    CAST(1 AS BIGINT) AS r
       |  FROM base
       |  UNION ALL
       |  SELECT query_id, rels, mm, k,
       |    sel || [list_position(scores, list_max(scores))],
       |    scs || [list_max(scores)],
       |    r + 1
       |  FROM (
       |    SELECT query_id, rels, mm, k, sel, scs, r,
       |      list_transform(generate_series(1, CAST(k AS INTEGER)), c ->
       |        CASE WHEN list_contains(sel, c) THEN NULL
       |          ELSE 700000 * rels[c] - 300000 *
       |            list_max(list_transform(sel, s -> mm[c][s]))
       |        END) AS scores
       |    FROM it WHERE r < least(4, k))),
       |fin AS (SELECT query_id, sel, scs FROM it WHERE r = least(4, k)),
       |ex AS (
       |  SELECT query_id,
       |    unnest(list_transform(generate_series(1, len(sel)),
       |      i -> {'rk': i, 'pick': sel[i], 'sc': scs[i]})) AS g
       |  FROM fin)
       |SELECT ex.query_id, CAST(ex.g['rk'] AS BIGINT) AS mmr_rank,
       |  c.cand_id, c.rel AS rel_micro, ex.g['sc'] AS mmr_score
       |FROM ex JOIN cand c
       |  ON c.query_id = ex.query_id AND c.idx = ex.g['pick']""".stripMargin
  }

  /** CSV ingest front door (sources/TextIngest.csvWithErrors) — q263's
    * jsonl gate re-run over the OTHER wire format corpora arrive in:
    * documents serialize to RFC 4180 CSV lines (doubled-quote
    * escaping; whitespace preserved on write), 6 lines grow an extra
    * column (doc_id % 97 → column-count mismatch → corrupt) and 5
    * serialize with an empty text field (doc_id % 89 → NULL required →
    * missing_required). Same status rollup, same oracle (the classes
    * are format-independent): a hash match proves from_csv inverts
    * to_csv exactly — quoting, embedded commas and all. */
  private def q273(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{LongType, StringType => SStr,
      StructField => SF, StructType => ST}
    val opts = Map("escape" -> "\"",
      "ignoreLeadingWhiteSpace" -> "false",
      "ignoreTrailingWhiteSpace" -> "false").asJava
    val path = stagedFixtures.computeIfAbsent(s"csv_docs|$dir", _ => {
      val p = stagePath("csv_docs", dir)
      val full = to_csv(struct(col("doc_id"), col("lang"), col("source"),
        col("text")), opts)
      t(s, dir, "documents").select(
        when(pmod(col("doc_id"), lit(97L)) === 0L,
          concat(full, lit(",zzz")))
          .when(pmod(col("doc_id"), lit(89L)) === 0L,
            to_csv(struct(col("doc_id"), col("lang"), col("source"),
              lit(null).cast("string").as("text")), opts))
          .otherwise(full).as("value"))
        .write.mode("overwrite").option("compression", "gzip").text(p)
      p
    })
    val schema = ST(Seq(SF("doc_id", LongType), SF("lang", SStr),
      SF("source", SStr), SF("text", SStr)))
    val ing = graft.sources.TextIngest.csvWithErrors(s, path, schema,
      required = Seq("doc_id", "text"))
    // unlike JSON (null struct), CSV keeps PARTIAL fields on corrupt
    // rows — useful for triage, but corpus accounting must not trust
    // them, so the rollup masks everything a corrupt line parsed
    val ok = col("_status") =!= "corrupt"
    ing.groupBy(col("_status").as("status"),
        when(ok, col("source")).as("source"),
        when(ok, col("lang")).as("lang"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_status") === "ok", length(col("text")))
          .otherwise(0L)).as("chars"),
        sum(when(ok, coalesce(col("doc_id"), lit(0L))).otherwise(0L))
          .as("id_sum"))
  }

  // the corruption classes are format-independent, so the jsonl gate's
  // oracle replays this gate too
  private def q273Sql: String = q263Sql

  /** Deterministic Poisson-bootstrap 90% CI per event type
    * (Stats.poissonBootstrapCI, R = 40): the one-pass bootstrap that
    * scales — per-(row, replica) Poisson(1) weights from md5 uniforms
    * through a literal CDF ladder, replica means as exact-long sums
    * with one division each, CI as order statistics of the ≤ R
    * surviving replica means. The oracle restates the ladder's exact
    * double thresholds and replays weights, replica means and the
    * ceil-indexed percentile picks. */
  private def q274(s: SparkSession, dir: String): DataFrame =
    Stats.poissonBootstrapCI(
      t(s, dir, "events").select(col("event_type"), col("event_id"),
        cents(col("value")).as("x")),
      "event_type", "event_id", "x", replicas = 40)

  private val q274Sql = {
    val cdf = {
      val e = math.exp(-1.0); var term = e
      val a = new Array[Double](8); a(0) = e
      (1 until 8).foreach { k => term = term / k; a(k) = a(k - 1) + term }
      a
    }
    val ladder = cdf.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }.mkString(" ")
    s"""WITH d AS (
       |  SELECT event_type AS k, event_id AS id,
       |    CAST(round(value*100) AS BIGINT) AS x
       |  FROM events),
       |rr AS (SELECT k, id, x, t.r FROM d, generate_series(0, 39) t(r)),
       |w AS (
       |  SELECT k, r, x, CASE $ladder ELSE 8 END AS w
       |  FROM (SELECT k, r, x,
       |      CAST(${md5LongSql(
              "CAST(id AS VARCHAR) || ':' || CAST(r AS VARCHAR)")} + 1
       |        AS DOUBLE) / 1152921504606846976.0 AS u
       |    FROM rr)),
       |rm AS (SELECT k, r, CAST(sum(w*x) AS BIGINT) AS swx,
       |         CAST(sum(w) AS BIGINT) AS sw
       |       FROM w GROUP BY 1, 2),
       |mm AS (
       |  SELECT k, CAST(count(*) AS BIGINT) AS n_replicas,
       |    list(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE)
       |      ORDER BY CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE), r) AS ms
       |  FROM rm WHERE sw > 0 GROUP BY 1),
       |b AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
       |      FROM d GROUP BY 1)
       |SELECT b.k AS event_type, n, mean,
       |  coalesce(n_replicas, 0) AS n_replicas,
       |  ms[CAST(ceil(CAST(n_replicas AS DOUBLE) * 0.05) AS INTEGER)]
       |    AS ci_lo,
       |  ms[CAST(ceil(CAST(n_replicas AS DOUBLE) * 0.95) AS INTEGER)]
       |    AS ci_hi
       |FROM b LEFT JOIN mm ON mm.k = b.k""".stripMargin
  }

  /** Top principal component of the embedding corpus by fixed-round
    * power iteration (Similarity.topPrincipalComponent, 12 rounds) —
    * the anisotropy audit: exact-decimal covariance from one
    * pair-explode scan, L∞-normalized integer rounds, Rayleigh
    * quotient + its share of the trace. The oracle unrolls all 12
    * rounds as chained CTEs over the same HUGEINT cells (round_even
    * mirrors the quantizing bround; round mirrors the per-round
    * HALF_UP re-quantization). */
  private def q275(s: SparkSession, dir: String): DataFrame =
    Similarity.topPrincipalComponent(t(s, dir, "embeddings"),
      "embedding", rounds = 12)

  /** Shared power-iteration oracle fragments (q275, q338): micro-
    * quantized vectors (round_even == bround), HUGEINT covariance
    * cells from one pair scan, and the 12 L∞-normalized v₁ rounds —
    * the CTE chain ends with `v12(j, v)`. */
  private val pcCommonCtes: String = {
    val roundCtes = (1 to 12).map { k =>
      s"""w$k AS MATERIALIZED (SELECT c.i, sum(c.c * v${k - 1}.v) AS w
         |  FROM c JOIN v${k - 1} ON v${k - 1}.j = c.j GROUP BY 1),
         |m$k AS (SELECT max(abs(w)) AS mw FROM w$k),
         |v$k AS MATERIALIZED (SELECT i AS j,
         |  CAST(CASE WHEN mw = 0 THEN 0
         |    ELSE round(CAST(w AS DOUBLE) * 1000000.0
         |               / CAST(mw AS DOUBLE)) END AS HUGEINT) AS v
         |  FROM w$k, m$k)""".stripMargin
    }.mkString(",\n")
    s"""q AS MATERIALIZED (
       |  SELECT vec_id,
       |    [CAST(round_even(CAST(embedding[i] AS DOUBLE)
       |            * 1000000.0, 0) AS BIGINT)
       |          for i in range(1, len(embedding)+1)] AS qv
       |  FROM embeddings),
       |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM q),
       |cells AS (
       |  SELECT i.i AS i, j.j AS j,
       |    sum(CAST(qv[i.i] AS HUGEINT) * qv[j.j]) AS p
       |  FROM q, range(1, 65) i(i), range(1, 65) j(j)
       |  GROUP BY 1, 2),
       |sv AS (SELECT i.i AS i, CAST(sum(qv[i.i]) AS HUGEINT) AS s
       |       FROM q, range(1, 65) i(i) GROUP BY 1),
       |c AS MATERIALIZED (
       |      SELECT cells.i, cells.j, nn.n * p - si.s * sj.s AS c
       |      FROM cells JOIN sv si ON si.i = cells.i
       |      JOIN sv sj ON sj.i = cells.j CROSS JOIN nn),
       |v0 AS (SELECT i AS j, CAST(1000000 AS HUGEINT) AS v FROM sv),
       |$roundCtes""".stripMargin
  }

  private val q275Sql =
    s"""WITH $pcCommonCtes,
       |wf AS (SELECT c.i, sum(c.c * v12.v) AS w
       |       FROM c JOIN v12 ON v12.j = c.j GROUP BY 1),
       |ray AS (
       |  SELECT CAST(sum(v.v * wf.w) AS DOUBLE)
       |      / CAST(sum(v.v * v.v) AS DOUBLE) AS ray
       |  FROM wf JOIN v12 v ON v.j = wf.i),
       |tr AS (SELECT CAST(sum(c) AS DOUBLE) AS tr FROM c WHERE i = j)
       |SELECT v.j - 1 AS dim, CAST(v.v AS BIGINT) AS v_micro,
       |  ray.ray AS rayleigh, ray.ray / tr.tr AS top_share
       |FROM v12 v CROSS JOIN ray CROSS JOIN tr""".stripMargin

  /** END-TO-END CURATION PIPELINE over the round-13 front door: gzip'd
    * jsonl (q263's fixture) → schema-validated ingest (error rows
    * dropped at the status channel) → deterministic 75/25 hash split →
    * order-3 stupid-backoff LM trained on the train split scoring
    * everything → keep gate → exact-40 length-weighted
    * Efraimidis–Spirakis sample of the kept docs. One gate, five
    * operators, zero driver-side glue — and the oracle replays the
    * ENTIRE chain (corruption classes → split buckets → count table →
    * backoff arms → E–S keys) bit-for-bit, which is the composability
    * proof: every stage's determinism survives composition. */
  private def q276(s: SparkSession, dir: String): DataFrame = {
    val valid = graft.sources.TextIngest.valid(
      graft.sources.TextIngest.jsonlWithErrors(s, jsonlDocsFixture(s, dir),
        jsonlDocsSchema, required = Seq("doc_id", "text")))
    val split = Stats.splitAssign(valid, "doc_id",
      Seq("train" -> 750000L, "eval" -> 250000L))
    val lm = TextAnalysis.stupidBackoffPerplexity(split, "doc_id", "text",
      col("split") === "train", order = 3, thresholdMicro = 3500000L)
    val kept = lm.where(col("keep"))
      .join(split.select(col("doc_id"), col("split")), "doc_id")
      .localCheckpoint() // feeds the sample and the join-back
    Stats.weightedSampleExact(
        kept.select(col("doc_id"), col("n_tokens").as("w")),
        "doc_id", "w", n = 40)
      .join(kept.select(col("doc_id"), col("split"),
        col("nll_avg_micro")), "doc_id")
      .select(col("rank"), col("doc_id"), col("split"), col("w"),
        col("nll_avg_micro"), col("es_key"))
  }

  private val q276Sql = {
    def pen(j: String): String =
      s"(CASE $j WHEN 0 THEN CAST(1.0 AS DOUBLE) " +
        "WHEN 1 THEN CAST(0.4 AS DOUBLE) " +
        "WHEN 2 THEN CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) END)"
    val keysExpr =
      "[array_to_string(tk[greatest(1, i-2):i], ' ') " +
        "for i in range(1, len(tk)+1)]"
    s"""WITH v AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % 97 != 0 AND doc_id % 89 != 0),
       |sp AS (
       |  SELECT doc_id, text,
       |    CASE WHEN ${md5LongSql(
            "CAST(doc_id AS VARCHAR) || ':v1'")} % 1000000 < 750000
       |      THEN 'train' ELSE 'eval' END AS split
       |  FROM v),
       |toks AS (SELECT doc_id, split = 'train' AS tr, $toksSql AS tk
       |         FROM sp),
       |keys AS (SELECT doc_id, unnest($keysExpr) AS g FROM toks),
       |tkeys AS (
       |  SELECT unnest([array_to_string(w[len(w)-j+1:len(w)], ' ')
       |                 for j in range(1, len(w)+1)]) AS g
       |  FROM (SELECT string_split(kg, ' ') AS w FROM (
       |    SELECT unnest($keysExpr) AS kg FROM toks WHERE tr))),
       |c AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM tkeys GROUP BY g),
       |tot AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS N, CAST(count(*) AS BIGINT) AS V
       |  FROM c WHERE len(string_split(g, ' ')) = 1),
       |dkw AS (
       |  SELECT g, string_split(g, ' ') AS w, len(string_split(g, ' ')) AS L
       |  FROM (SELECT DISTINCT g FROM keys)),
       |nll AS (
       |  SELECT dkw.g,
       |    -CAST(round(ln(CASE
       |      WHEN dkw.L >= 3 AND s3.c IS NOT NULL THEN
       |        (CAST(s3.c AS DOUBLE) / CAST(x3.c AS DOUBLE))
       |          * ${pen("dkw.L - 3")}
       |      WHEN dkw.L >= 2 AND s2.c IS NOT NULL THEN
       |        (CAST(s2.c AS DOUBLE) / CAST(x2.c AS DOUBLE))
       |          * ${pen("dkw.L - 2")}
       |      ELSE (CAST(coalesce(s1.c, 0) + 1 AS DOUBLE)
       |              / CAST(tot.N + tot.V AS DOUBLE))
       |            * ${pen("dkw.L - 1")}
       |      END) * 1000000.0) AS BIGINT) AS nll
       |  FROM dkw
       |  LEFT JOIN c s3 ON dkw.L >= 3 AND s3.g =
       |    array_to_string(dkw.w[greatest(1, dkw.L-2):dkw.L], ' ')
       |  LEFT JOIN c x3 ON dkw.L >= 3 AND x3.g =
       |    array_to_string(dkw.w[greatest(1, dkw.L-2):dkw.L-1], ' ')
       |  LEFT JOIN c s2 ON dkw.L >= 2 AND s2.g =
       |    array_to_string(dkw.w[greatest(1, dkw.L-1):dkw.L], ' ')
       |  LEFT JOIN c x2 ON dkw.L >= 2 AND x2.g =
       |    array_to_string(dkw.w[greatest(1, dkw.L-1):dkw.L-1], ' ')
       |  LEFT JOIN c s1 ON s1.g = dkw.w[dkw.L]
       |  CROSS JOIN tot),
       |sc AS (
       |  SELECT k.doc_id, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(nll.nll) AS BIGINT) AS s
       |  FROM keys k JOIN nll ON nll.g = k.g GROUP BY 1),
       |kept AS (
       |  SELECT sp.doc_id, sp.split, sc.n AS w, sc.s // sc.n AS nll_avg
       |  FROM sp JOIN sc ON sc.doc_id = sp.doc_id
       |  WHERE sc.n > 0 AND sc.s // sc.n <= 3500000),
       |es AS (
       |  SELECT doc_id, split, w, nll_avg,
       |    CAST(round(ln(
       |      CAST(${md5LongSql("CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)
       |        / 1152921504606846976.0) * 1000000.0) AS BIGINT) AS lq
       |  FROM kept),
       |r AS (
       |  SELECT doc_id, split, w, nll_avg,
       |    CAST(lq AS DOUBLE) / CAST(w AS DOUBLE) AS es_key,
       |    row_number() OVER (
       |      ORDER BY CAST(lq AS DOUBLE) / CAST(w AS DOUBLE) DESC,
       |        doc_id DESC) AS rk
       |  FROM es)
       |SELECT CAST(rk AS BIGINT) AS rank, doc_id, split, w,
       |  nll_avg AS nll_avg_micro, es_key
       |FROM r WHERE rk <= 40""".stripMargin
  }

  /** Cohen's kappa inter-annotator agreement per source
    * (Stats.cohenKappa): rater 1 is the corpus lang label; rater 2 is
    * a deterministic simulated second annotator (agrees on 8/10 docs,
    * over-calls 'en' on 1/10, abstains to 'unk' on 1/10 — keyed off
    * n_chars so both engines derive the identical rating). κ unrolls
    * to one division of exact integer operands; the oracle mirrors in
    * HUGEINT. */
  private def q277(s: SparkSession, dir: String): DataFrame =
    Stats.cohenKappa(
      t(s, dir, "documents").select(col("source"),
        col("lang").as("r1"),
        when(pmod(col("n_chars"), lit(10)) < 8, col("lang"))
          .when(pmod(col("n_chars"), lit(10)) === 8, lit("en"))
          .otherwise(lit("unk")).as("r2")),
      "source", "r1", "r2")

  private val q277Sql =
    """WITH d AS (
      |  SELECT source, lang AS r1,
      |    CASE WHEN n_chars % 10 < 8 THEN lang
      |         WHEN n_chars % 10 = 8 THEN 'en' ELSE 'unk' END AS r2
      |  FROM documents),
      |b AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_agree
      |  FROM d GROUP BY 1),
      |m1 AS (SELECT source, r1 AS cat, CAST(count(*) AS BIGINT) AS a
      |       FROM d GROUP BY 1, 2),
      |m2 AS (SELECT source, r2 AS cat, CAST(count(*) AS BIGINT) AS b
      |       FROM d GROUP BY 1, 2),
      |p AS (
      |  SELECT coalesce(m1.source, m2.source) AS source,
      |    sum(CAST(coalesce(a, 0) AS HUGEINT) * coalesce(m2.b, 0)) AS p
      |  FROM m1 FULL OUTER JOIN m2
      |    ON m1.source = m2.source AND m1.cat = m2.cat
      |  GROUP BY 1)
      |SELECT b.source, n, n_agree,
      |  CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
      |  CAST(p AS DOUBLE) / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) AS pe,
      |  CASE WHEN CAST(n AS HUGEINT) * n - p = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(CAST(n AS HUGEINT) * n_agree - p AS DOUBLE)
      |       / CAST(CAST(n AS HUGEINT) * n - p AS DOUBLE) END AS kappa
      |FROM b JOIN p USING (source)""".stripMargin

  /** Fleiss' kappa multi-rater agreement per order priority
    * (Stats.fleissKappa): items are orders with EXACTLY four
    * lineitems (the checked fixed-r contract), the four lineitems'
    * return flags are the four "raters'" categorical judgments —
    * how consistently does an order's priority class see one return
    * outcome. Exact integers end to end; oracle in HUGEINT. */
  private def q278(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val four = li.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("__c")).where(col("__c") === 4L)
      .select("l_orderkey")
    Stats.fleissKappa(
      li.join(four, "l_orderkey")
        .join(t(s, dir, "orders").select(
          col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
          "l_orderkey")
        .select(col("o_orderpriority"), col("l_orderkey").as("item"),
          col("l_returnflag").as("cat")),
      "o_orderpriority", "item", "cat")
  }

  private val q278Sql =
    """WITH four AS (
      |  SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING count(*) = 4),
      |r AS (
      |  SELECT o.o_orderpriority AS k, l.l_orderkey AS item,
      |    l.l_returnflag AS cat
      |  FROM lineitem l JOIN four USING (l_orderkey)
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey),
      |nic AS (SELECT k, item, cat, CAST(count(*) AS BIGINT) AS c
      |        FROM r GROUP BY 1, 2, 3),
      |pi AS (
      |  SELECT k, item, CAST(sum(c) AS BIGINT) AS rr,
      |    sum(CAST(c AS HUGEINT) * c) AS s2
      |  FROM nic GROUP BY 1, 2),
      |bk AS (
      |  SELECT k, CAST(count(*) AS BIGINT) AS n_items,
      |    CAST(max(rr) AS BIGINT) AS n_raters, sum(s2) AS s
      |  FROM pi GROUP BY 1),
      |tc AS (
      |  SELECT k, sum(CAST(t AS HUGEINT) * t) AS t2
      |  FROM (SELECT k, cat, CAST(sum(c) AS BIGINT) AS t
      |        FROM nic GROUP BY 1, 2)
      |  GROUP BY 1),
      |f AS (
      |  SELECT bk.k, n_items, n_raters,
      |    CAST(n_items AS HUGEINT) * n_raters AS nr,
      |    CAST(n_raters - 1 AS HUGEINT) AS rm1, s, t2
      |  FROM bk JOIN tc ON tc.k = bk.k)
      |SELECT k AS o_orderpriority, n_items, n_raters,
      |  CAST(s - nr AS DOUBLE) / CAST(nr * rm1 AS DOUBLE) AS pbar,
      |  CAST(t2 AS DOUBLE) / CAST(nr * nr AS DOUBLE) AS pe,
      |  CASE WHEN nr * rm1 * (nr * nr - t2) = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST((s - nr) * nr * nr - nr * rm1 * t2 AS DOUBLE)
      |       / CAST(nr * rm1 * (nr * nr - t2) AS DOUBLE) END AS kappa
      |FROM f""".stripMargin

  /** Group-fairness audit of a thresholded classifier per event type
    * (Stats.fairnessAudit): label = spend >= $50, prediction = the
    * props payload's k >= 50 — per-group confusion counts plus exact
    * micro-scaled TPR / FPR / selection rates and their gaps to the
    * all-rows baseline (equal opportunity, equalized odds, demographic
    * parity). Pure integer arithmetic: 10^6-scaled truncating
    * divisions (Spark div == DuckDB //), NULL on empty denominators. */
  private def q280(s: SparkSession, dir: String): DataFrame =
    Stats.fairnessAudit(
      t(s, dir, "events").select(col("event_type"),
        when(cents(col("value")) >= 5000L, 1L).otherwise(0L).as("label"),
        when(get_json_object(col("props"), "$.k").cast("long") >= 50L,
          1L).otherwise(0L).as("pred")),
      "event_type", "label", "pred")

  private val q280Sql =
    """WITH d AS (
      |  SELECT event_type,
      |    CASE WHEN CAST(round(value * 100) AS BIGINT) >= 5000
      |      THEN 1 ELSE 0 END AS label,
      |    CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
      |      >= 50 THEN 1 ELSE 0 END AS pred
      |  FROM events),
      |c AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS tp,
      |    CAST(sum(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS fp,
      |    CAST(sum(CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS fn,
      |    CAST(sum(CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS tn
      |  FROM d GROUP BY 1),
      |o AS (
      |  SELECT CAST(sum(tp) AS BIGINT) AS otp,
      |    CAST(sum(fp) AS BIGINT) AS ofp, CAST(sum(fn) AS BIGINT) AS ofn,
      |    CAST(sum(tn) AS BIGINT) AS otn, CAST(sum(n) AS BIGINT) AS onn
      |  FROM c)
      |SELECT event_type, n, tp, fp, fn, tn,
      |  CASE WHEN tp + fn = 0 THEN NULL
      |    ELSE 1000000 * tp // (tp + fn) END AS tpr_micro,
      |  CASE WHEN fp + tn = 0 THEN NULL
      |    ELSE 1000000 * fp // (fp + tn) END AS fpr_micro,
      |  CASE WHEN n = 0 THEN NULL
      |    ELSE 1000000 * (tp + fp) // n END AS sel_micro,
      |  CASE WHEN tp + fn = 0 OR otp + ofn = 0 THEN NULL
      |    ELSE 1000000 * tp // (tp + fn)
      |       - 1000000 * otp // (otp + ofn) END AS tpr_gap_micro,
      |  CASE WHEN fp + tn = 0 OR ofp + otn = 0 THEN NULL
      |    ELSE 1000000 * fp // (fp + tn)
      |       - 1000000 * ofp // (ofp + otn) END AS fpr_gap_micro,
      |  CASE WHEN n = 0 OR onn = 0 THEN NULL
      |    ELSE 1000000 * (tp + fp) // n
      |       - 1000000 * (otp + ofp) // onn END AS sel_gap_micro
      |FROM c CROSS JOIN o""".stripMargin

  /** Mutual information between event type and the props payload's
    * quartile per day-of-week (Stats.mutualInfoByKey): does the event
    * type predict the payload bucket — the metadata-leakage /
    * feature-relevance audit. Micro-nat quantized logs over exact
    * integer counts (the jsdByKey discipline); NMI normalizes by the
    * smaller marginal entropy. */
  private def q281(s: SparkSession, dir: String): DataFrame =
    Stats.mutualInfoByKey(
      t(s, dir, "events").select(
        expr("pmod(ts div 86400000000000 + 4, 7)").as("dow"),
        col("event_type").as("x"),
        expr("cast(get_json_object(props, '$.k') as long) div 25")
          .as("y")),
      "dow", "x", "y")

  private val q281Sql =
    """WITH d AS (
      |  SELECT (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
      |    event_type AS x,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) // 25 AS y
      |  FROM events),
      |cells AS (SELECT dow, x, y, CAST(count(*) AS BIGINT) AS c
      |          FROM d GROUP BY 1, 2, 3),
      |m AS (
      |  SELECT dow, x, y, c,
      |    CAST(sum(c) OVER (PARTITION BY dow) AS BIGINT) AS n,
      |    CAST(sum(c) OVER (PARTITION BY dow, x) AS BIGINT) AS rx,
      |    CAST(sum(c) OVER (PARTITION BY dow, y) AS BIGINT) AS cy
      |  FROM cells),
      |lq AS (
      |  SELECT dow, c, n,
      |    CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT) AS lc,
      |    CAST(round(ln(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS lnn,
      |    CAST(round(ln(CAST(rx AS DOUBLE)) * 1000000.0) AS BIGINT) AS lrx,
      |    CAST(round(ln(CAST(cy AS DOUBLE)) * 1000000.0) AS BIGINT) AS lcy
      |  FROM m),
      |a AS (
      |  SELECT dow, CAST(max(n) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS n_cells,
      |    sum(CAST(c AS HUGEINT) * (lc + lnn - lrx - lcy)) AS smi,
      |    sum(CAST(c AS HUGEINT) * (lnn - lrx)) AS shx,
      |    sum(CAST(c AS HUGEINT) * (lnn - lcy)) AS shy
      |  FROM lq GROUP BY 1),
      |z AS (
      |  SELECT dow, n, n_cells,
      |    CAST(smi AS DOUBLE)
      |      / CAST(CAST(n AS HUGEINT) * 1000000 AS DOUBLE) AS mi,
      |    CAST(shx AS DOUBLE)
      |      / CAST(CAST(n AS HUGEINT) * 1000000 AS DOUBLE) AS h_x,
      |    CAST(shy AS DOUBLE)
      |      / CAST(CAST(n AS HUGEINT) * 1000000 AS DOUBLE) AS h_y
      |  FROM a)
      |SELECT dow, n, n_cells, mi, h_x, h_y,
      |  CASE WHEN least(h_x, h_y) > 0 THEN mi / least(h_x, h_y)
      |       ELSE CAST('nan' AS DOUBLE) END AS nmi
      |FROM z""".stripMargin

  /** Flesch readability profile per document
    * (TextAnalysis.readabilityProfile) over a deterministically
    * sentence-doctored corpus (every 'table' token ends a sentence —
    * the synthetic corpus carries no punctuation of its own, so the
    * doctoring exercises the real multi-sentence arithmetic on both
    * engines identically). Integer counts; one exact division per
    * score. */
  private def q282(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.readabilityProfile(
      t(s, dir, "documents").select(col("doc_id"),
        expr("replace(text, 'table', 'table.')").as("text")),
      "doc_id", "text")

  private val q282Sql =
    """WITH d AS (
      |  SELECT doc_id, replace(text, 'table', 'table.') AS text
      |  FROM documents),
      |c AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      x -> x != '')) AS BIGINT) AS words,
      |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
      |      AS BIGINT)) AS sentences,
      |    CAST(list_sum(list_transform(
      |      list_filter(regexp_split_to_array(lower(text), '\s+'),
      |        x -> x != ''),
      |      w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))))
      |      AS BIGINT) AS syllables
      |  FROM d)
      |SELECT doc_id, words, sentences, syllables,
      |  CAST(39 * words * words + 1180 * syllables * sentences
      |    - 1559 * words * sentences AS DOUBLE)
      |    / CAST(100 * words * sentences AS DOUBLE) AS fk_grade,
      |  CAST(206835 * words * sentences - 1015 * words * words
      |    - 84600 * syllables * sentences AS DOUBLE)
      |    / CAST(1000 * words * sentences AS DOUBLE) AS flesch_ease
      |FROM c""".stripMargin

  /** HTML boilerplate strip + link-density line filter
    * (TextAnalysis.stripBoilerplate): documents are wrapped in a
    * deterministic page shell — title line, all-links nav bar, an ad
    * block on every third doc, the body paragraph, an all-links
    * footer — and the operator must keep exactly the title and body
    * lines (the nav/ad/footer lines are >50% anchor text, the
    * close-tag line strips to nothing). The md5 of the cleaned text
    * pins the whole strip-filter-join pipeline bit-for-bit. */
  private def q283(s: SparkSession, dir: String): DataFrame = {
    val nl = lit("\n")
    val html = concat(
      lit("<html><head><title>"), col("source"),
      lit("</title></head><body>"), nl,
      lit("<div class=\"nav\"><a href=\"/h\">home page</a> " +
        "<a href=\"/a\">about us</a> <a href=\"/c\">contact</a></div>"),
      nl,
      when(pmod(col("n_chars"), lit(3)) === 0,
        concat(lit("<div class=\"ad\">sponsored: <a href=\"/buy\">buy " +
          "the best data engine now</a></div>"), nl))
        .otherwise(lit("")),
      lit("<p>"), col("text"), lit("</p>"), nl,
      lit("<div class=\"footer\"><a href=\"/t\">terms</a> " +
        "<a href=\"/p\">privacy</a></div>"), nl,
      lit("</body></html>"))
    TextAnalysis.stripBoilerplate(
        t(s, dir, "documents").select(col("doc_id"), html.as("html")),
        "doc_id", "html")
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        col("clean_chars"), md5(col("clean_text")).as("clean_hash"))
  }

  private val q283Sql = {
    val strip = (l: String) => "trim(regexp_replace(regexp_replace(" +
      s"$l, '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g'))"
    s"""WITH h AS (
       |  SELECT doc_id,
       |    '<html><head><title>' || source || '</title></head><body>'
       |    || chr(10) ||
       |    '<div class="nav"><a href="/h">home page</a> ' ||
       |    '<a href="/a">about us</a> <a href="/c">contact</a></div>'
       |    || chr(10) ||
       |    CASE WHEN n_chars % 3 = 0 THEN
       |      '<div class="ad">sponsored: <a href="/buy">buy the best ' ||
       |      'data engine now</a></div>' || chr(10) ELSE '' END ||
       |    '<p>' || text || '</p>' || chr(10) ||
       |    '<div class="footer"><a href="/t">terms</a> ' ||
       |    '<a href="/p">privacy</a></div>' || chr(10) ||
       |    '</body></html>' AS html
       |  FROM documents),
       |l AS (SELECT doc_id, string_split(html, chr(10)) AS lines FROM h),
       |k AS (
       |  SELECT doc_id, lines,
       |    list_filter(lines, x -> len(${strip("x")}) > 0
       |      AND 2 * coalesce(list_sum(list_transform(
       |            regexp_extract_all(x, '(?s)<a[^>]*>(.*?)</a>', 1),
       |            a -> len(${strip("a")}))), 0)
       |          <= len(${strip("x")})) AS kept
       |  FROM l),
       |c AS (
       |  SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
       |    CAST(len(kept) AS BIGINT) AS n_kept,
       |    array_to_string(list_transform(kept, x -> ${strip("x")}), ' ')
       |      AS clean
       |  FROM k)
       |SELECT doc_id, n_lines, n_kept,
       |  CAST(len(clean) AS BIGINT) AS clean_chars,
       |  md5(clean) AS clean_hash
       |FROM c""".stripMargin
  }

  /** Bradley–Terry strengths from pairwise preference contests
    * (Stats.bradleyTerryStrengths, 10 MM rounds): each order's first
    * two lineitems stage a "contest" between their part brands — the
    * pricier item's brand wins (price tie → lexicographically smaller
    * brand) — and the fixed-round integer MM recurrence ranks the 25
    * brands. The oracle unrolls all 10 rounds as HUGEINT CTEs over
    * the same smoothed pair table, replaying every truncating
    * division. */
  private def q279(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val part = t(s, dir, "part")
    val l1 = li.where(col("l_linenumber") === 1)
      .select(col("l_orderkey"), col("l_partkey").as("__pk1"),
        cents(col("l_extendedprice")).as("__e1"))
    val l2 = li.where(col("l_linenumber") === 2)
      .select(col("l_orderkey"), col("l_partkey").as("__pk2"),
        cents(col("l_extendedprice")).as("__e2"))
    val contests = l1.join(l2, "l_orderkey")
      .join(part.select(col("p_partkey").as("__pk1"),
        col("p_brand").as("__b1")), "__pk1")
      .join(part.select(col("p_partkey").as("__pk2"),
        col("p_brand").as("__b2")), "__pk2")
      .where(col("__b1") =!= col("__b2"))
      .select(
        when(col("__e1") > col("__e2"), col("__b1"))
          .when(col("__e2") > col("__e1"), col("__b2"))
          .otherwise(least(col("__b1"), col("__b2"))).as("winner"),
        when(col("__e1") > col("__e2"), col("__b2"))
          .when(col("__e2") > col("__e1"), col("__b1"))
          .otherwise(greatest(col("__b1"), col("__b2"))).as("loser"))
    Stats.bradleyTerryStrengths(contests, "winner", "loser", rounds = 10)
  }

  private val q279Sql = {
    val roundCtes = (1 to 10).map { k =>
      s"""d$k AS (
         |  SELECT s.i,
         |    sum(s.n * CAST(1000000000000 AS HUGEINT)
         |        // greatest(pi.p + pj.p, 1)) AS d
         |  FROM sym s JOIN p${k - 1} pi ON pi.i = s.i
         |  JOIN p${k - 1} pj ON pj.i = s.j GROUP BY 1),
         |r$k AS (
         |  SELECT wi.i, wi.w * CAST(1000000000000000000 AS HUGEINT)
         |      // greatest(d$k.d, 1) AS r
         |  FROM wins wi JOIN d$k ON d$k.i = wi.i),
         |m$k AS (SELECT max(r) AS m FROM r$k),
         |p$k AS MATERIALIZED (
         |  SELECT i, r * 1000000 // m AS p FROM r$k, m$k)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH l12 AS (
       |  SELECT p1.p_brand AS b1, p2.p_brand AS b2,
       |    CAST(round(l1.l_extendedprice * 100) AS BIGINT) AS e1,
       |    CAST(round(l2.l_extendedprice * 100) AS BIGINT) AS e2
       |  FROM lineitem l1
       |  JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
       |    AND l2.l_linenumber = 2
       |  JOIN part p1 ON p1.p_partkey = l1.l_partkey
       |  JOIN part p2 ON p2.p_partkey = l2.l_partkey
       |  WHERE l1.l_linenumber = 1),
       |raw AS (
       |  SELECT CASE WHEN e1 > e2 THEN b1 WHEN e2 > e1 THEN b2
       |              WHEN b1 < b2 THEN b1 ELSE b2 END AS winner,
       |         CASE WHEN e1 > e2 THEN b2 WHEN e2 > e1 THEN b1
       |              WHEN b1 < b2 THEN b2 ELSE b1 END AS loser
       |  FROM l12 WHERE b1 != b2),
       |pr AS (
       |  SELECT least(winner, loser) AS a, greatest(winner, loser) AS b,
       |    CAST(count(*) AS HUGEINT) + 2 AS n
       |  FROM raw GROUP BY 1, 2),
       |sym AS MATERIALIZED (SELECT a AS i, b AS j, n FROM pr
       |        UNION ALL SELECT b, a, n FROM pr),
       |cont AS MATERIALIZED (
       |  SELECT it, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT winner AS it FROM raw
       |        UNION ALL SELECT loser FROM raw)
       |  GROUP BY 1),
       |wobs AS MATERIALIZED (SELECT winner AS it, CAST(count(*) AS BIGINT) AS w
       |         FROM raw GROUP BY 1),
       |vv AS (SELECT i AS it, CAST(count(*) AS HUGEINT) AS v
       |       FROM sym GROUP BY 1),
       |wins AS MATERIALIZED (
       |  SELECT cont.it AS i, CAST(coalesce(wobs.w, 0) AS HUGEINT) + vv.v
       |    AS w
       |  FROM cont LEFT JOIN wobs USING (it) JOIN vv USING (it)),
       |p0 AS MATERIALIZED (SELECT it AS i, CAST(1000000 AS HUGEINT) AS p FROM cont),
       |$roundCtes
       |SELECT cont.it AS item, cont.c AS n_contests,
       |  CAST(coalesce(wobs.w, 0) AS BIGINT) AS n_wins,
       |  CAST(p10.p AS BIGINT) AS strength_micro
       |FROM cont LEFT JOIN wobs USING (it)
       |JOIN p10 ON p10.i = cont.it""".stripMargin
  }

  /** SDXL-style aspect-ratio bucket assignment
    * (Multimodal.aspectBucketAssign): deterministic synthetic image
    * dimensions from the part table map to the nearest of the nine
    * multi-aspect training buckets by EXACT integer rational argmin
    * (costs scaled to the shared lcm denominator); ties take the
    * earlier bucket. */
  private def q284(s: SparkSession, dir: String): DataFrame =
    Multimodal.aspectBucketAssign(
      t(s, dir, "part").select(col("p_partkey"),
        (lit(256L) + pmod(col("p_partkey") * 37L, lit(1280L))).as("w"),
        (lit(256L) + pmod(col("p_partkey") * 53L, lit(1280L))).as("h")),
      "w", "h")

  private val q284Sql = {
    val buckets = Multimodal.AspectBuckets.zipWithIndex
      .map { case ((bw, bh), i) => s"($i, $bw, $bh)" }.mkString(", ")
    s"""WITH d AS (
       |  SELECT p_partkey,
       |    CAST(256 + (p_partkey * 37) % 1280 AS BIGINT) AS w,
       |    CAST(256 + (p_partkey * 53) % 1280 AS BIGINT) AS h
       |  FROM part),
       |b(i, bw, bh) AS (VALUES $buckets),
       |c AS (
       |  SELECT d.p_partkey, d.w, d.h,
       |    CAST(b.bw AS BIGINT) AS bucket_w,
       |    CAST(b.bh AS BIGINT) AS bucket_h,
       |    abs(d.w * b.bh - d.h * b.bw) * (79672320 // b.bh) AS cost,
       |    row_number() OVER (PARTITION BY d.p_partkey
       |      ORDER BY abs(d.w * b.bh - d.h * b.bw) * (79672320 // b.bh),
       |        b.i) AS rn
       |  FROM d CROSS JOIN b)
       |SELECT p_partkey, w, h, bucket_w, bucket_h,
       |  CAST(cost AS BIGINT) AS cost_scaled
       |FROM c WHERE rn = 1""".stripMargin
  }

  /** First-fit-decreasing sequence packing per language
    * (TextAnalysis.packFirstFitDecreasing, capacity 128): whole
    * documents pack longest-first into 128-token context windows —
    * the padding-minimizing LLM-pretraining layout. The oracle
    * replays the greedy fold step-by-step as a recursive CTE carrying
    * the bin-load list, so every assignment is pinned. */
  private def q285(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packFirstFitDecreasing(
      t(s, dir, "documents").select(col("lang"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ntok")),
      "lang", "doc_id", "ntok", capacity = 128L)

  private val q285Sql = {
    val fits = "list_filter(range(1, len(f.loads) + 1), " +
      "i -> f.loads[i] + o.tok <= 128)"
    s"""WITH RECURSIVE d AS (
       |  SELECT lang, doc_id,
       |    CAST(len(list_filter(regexp_split_to_array(lower(text),
       |      '\\s+'), x -> x != '')) AS BIGINT) AS tok
       |  FROM documents),
       |o AS (
       |  SELECT lang, doc_id, tok,
       |    row_number() OVER (PARTITION BY lang ORDER BY tok DESC,
       |      doc_id) AS rn
       |  FROM d),
       |ffd AS (
       |  SELECT lang, 0 AS rn, CAST(NULL AS BIGINT) AS doc_id,
       |    CAST(NULL AS BIGINT) AS tok, CAST(NULL AS BIGINT) AS bin,
       |    CAST([] AS BIGINT[]) AS loads
       |  FROM (SELECT DISTINCT lang FROM o)
       |  UNION ALL
       |  SELECT o.lang, o.rn, o.doc_id, o.tok,
       |    CASE WHEN len($fits) > 0
       |         THEN CAST($fits[1] - 1 AS BIGINT)
       |         ELSE CAST(len(f.loads) AS BIGINT) END,
       |    CASE WHEN len($fits) > 0
       |         THEN list_transform(range(1, len(f.loads) + 1),
       |                i -> CASE WHEN i = $fits[1]
       |                     THEN f.loads[i] + o.tok
       |                     ELSE f.loads[i] END)
       |         ELSE list_append(f.loads, o.tok) END
       |  FROM ffd f JOIN o ON o.lang = f.lang AND o.rn = f.rn + 1)
       |SELECT lang, doc_id, tok AS tokens, bin
       |FROM ffd WHERE rn > 0""".stripMargin
  }

  /** Top-two principal components of the embedding corpus by deflated
    * power iteration (Similarity.topTwoComponents, 12+12 rounds) —
    * the all-but-the-top residual-anisotropy audit: share2 is what
    * anisotropy remains after removing the dominant direction. The
    * oracle unrolls BOTH phases — the q275 v1 rounds plus the
    * quantize → project-out-v1 (truncating HUGEINT division) →
    * re-quantize deflation rounds — as materialized CTEs. */
  private def q286(s: SparkSession, dir: String): DataFrame =
    Similarity.topTwoComponents(t(s, dir, "embeddings"), "embedding",
      rounds = 12)

  private val q286Sql = {
    val v1Rounds = (1 to 12).map { k =>
      s"""w$k AS MATERIALIZED (SELECT c.i, sum(c.c * v${k - 1}.v) AS w
         |  FROM c JOIN v${k - 1} ON v${k - 1}.j = c.j GROUP BY 1),
         |m$k AS (SELECT max(abs(w)) AS mw FROM w$k),
         |v$k AS MATERIALIZED (SELECT i AS j,
         |  CAST(CASE WHEN mw = 0 THEN 0
         |    ELSE round(CAST(w AS DOUBLE) * 1000000.0
         |               / CAST(mw AS DOUBLE)) END AS HUGEINT) AS v
         |  FROM w$k, m$k)""".stripMargin
    }.mkString(",\n")
    val v2Rounds = (1 to 12).map { k =>
      s"""uw$k AS MATERIALIZED (SELECT c.i, sum(c.c * u${k - 1}.v) AS w
         |  FROM c JOIN u${k - 1} ON u${k - 1}.j = c.j GROUP BY 1),
         |um$k AS (SELECT max(abs(w)) AS mw FROM uw$k),
         |uq$k AS MATERIALIZED (SELECT i,
         |  CAST(CASE WHEN mw = 0 THEN 0
         |    ELSE round(CAST(w AS DOUBLE) * 1000000.0
         |               / CAST(mw AS DOUBLE)) END AS HUGEINT) AS v
         |  FROM uw$k, um$k),
         |tn$k AS (SELECT sum(v12.v * uq$k.v) AS tn
         |  FROM uq$k JOIN v12 ON v12.j = uq$k.i),
         |up$k AS MATERIALIZED (SELECT uq$k.i,
         |  uq$k.v - (v12.v * tn$k.tn)
         |    // (CASE WHEN dn.den = 0 THEN 1 ELSE dn.den END) AS v
         |  FROM uq$k JOIN v12 ON v12.j = uq$k.i
         |  CROSS JOIN tn$k CROSS JOIN dn),
         |upm$k AS (SELECT max(abs(v)) AS mw FROM up$k),
         |u$k AS MATERIALIZED (SELECT i AS j,
         |  CAST(CASE WHEN mw = 0 THEN 0
         |    ELSE round(CAST(v AS DOUBLE) * 1000000.0
         |               / CAST(mw AS DOUBLE)) END AS HUGEINT) AS v
         |  FROM up$k, upm$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (
       |  SELECT [CAST(round_even(CAST(embedding[i] AS DOUBLE)
       |            * 1000000.0, 0) AS BIGINT)
       |          for i in range(1, len(embedding)+1)] AS qv
       |  FROM embeddings),
       |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM q),
       |cells AS (
       |  SELECT i.i AS i, j.j AS j,
       |    sum(CAST(qv[i.i] AS HUGEINT) * qv[j.j]) AS p
       |  FROM q, range(1, 65) i(i), range(1, 65) j(j)
       |  GROUP BY 1, 2),
       |sv AS (SELECT i.i AS i, CAST(sum(qv[i.i]) AS HUGEINT) AS s
       |       FROM q, range(1, 65) i(i) GROUP BY 1),
       |c AS MATERIALIZED (
       |      SELECT cells.i, cells.j, nn.n * p - si.s * sj.s AS c
       |      FROM cells JOIN sv si ON si.i = cells.i
       |      JOIN sv sj ON sj.i = cells.j CROSS JOIN nn),
       |v0 AS (SELECT i AS j, CAST(1000000 AS HUGEINT) AS v FROM sv),
       |$v1Rounds,
       |wf AS (SELECT c.i, sum(c.c * v12.v) AS w
       |       FROM c JOIN v12 ON v12.j = c.j GROUP BY 1),
       |ray AS (
       |  SELECT CAST(sum(v.v * wf.w) AS DOUBLE)
       |      / CAST(sum(v.v * v.v) AS DOUBLE) AS ray
       |  FROM wf JOIN v12 v ON v.j = wf.i),
       |tr AS (SELECT CAST(sum(c) AS DOUBLE) AS tr FROM c WHERE i = j),
       |dn AS (SELECT sum(v * v) AS den FROM v12),
       |u0 AS (SELECT i AS j,
       |  CAST(CASE WHEN (i - 1) % 2 = 0 THEN 1000000
       |       ELSE -1000000 END AS HUGEINT) AS v FROM sv),
       |$v2Rounds,
       |wf2 AS (SELECT c.i, sum(c.c * u12.v) AS w
       |        FROM c JOIN u12 ON u12.j = c.j GROUP BY 1),
       |ray2 AS (
       |  SELECT CASE WHEN sum(u.v * u.v) = 0 THEN CAST('nan' AS DOUBLE)
       |    ELSE CAST(sum(u.v * wf2.w) AS DOUBLE)
       |      / CAST(sum(u.v * u.v) AS DOUBLE) END AS ray
       |  FROM wf2 JOIN u12 u ON u.j = wf2.i)
       |SELECT v.j - 1 AS dim, CAST(v.v AS BIGINT) AS v1_micro,
       |  CAST(u.v AS BIGINT) AS v2_micro,
       |  ray.ray AS rayleigh1, ray2.ray AS rayleigh2,
       |  ray.ray / tr.tr AS share1, ray2.ray / tr.tr AS share2
       |FROM v12 v JOIN u12 u ON u.j = v.j
       |CROSS JOIN ray CROSS JOIN ray2 CROSS JOIN tr""".stripMargin
  }

  /** Winsorized mean of event spend per event type
    * (Stats.winsorizedMean, alpha = 5/100): tails clamp to the 5th /
    * 95th order statistics instead of dropping — the robust mean that
    * keeps n reconcilable. Exact histogram decomposition; one final
    * division per mean. */
  private def q287(s: SparkSession, dir: String): DataFrame =
    Stats.winsorizedMean(
      t(s, dir, "events").select(col("event_type"),
        cents(col("value")).as("v")),
      "event_type", "v", pNum = 5L, pDen = 100L)

  private val q287Sql =
    """WITH o AS (
      |  SELECT event_type AS k, CAST(round(value*100) AS BIGINT) AS v
      |  FROM events),
      |h AS (SELECT k, v, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY 1, 2),
      |cw AS (
      |  SELECT k, v, c,
      |    CAST(sum(c) OVER (PARTITION BY k ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum,
      |    CAST(sum(c) OVER (PARTITION BY k) AS BIGINT) AS n
      |  FROM h),
      |r AS (
      |  SELECT k, n,
      |    CAST(sum(CASE WHEN cum - c < (5 * n + 99) // 100
      |      AND (5 * n + 99) // 100 <= cum THEN v ELSE 0 END)
      |      AS BIGINT) AS lo,
      |    CAST(sum(CASE WHEN cum - c < n + 1 - (5 * n + 99) // 100
      |      AND n + 1 - (5 * n + 99) // 100 <= cum THEN v ELSE 0 END)
      |      AS BIGINT) AS hi,
      |    sum(CAST(c AS HUGEINT) * v) AS raw
      |  FROM cw GROUP BY k, n),
      |f AS (
      |  SELECT h.k, r.n, r.lo, r.hi, r.raw,
      |    sum(CAST(greatest(least(h.v, r.hi), r.lo) AS HUGEINT) * h.c)
      |      AS ws
      |  FROM h JOIN r ON r.k = h.k GROUP BY 1, 2, 3, 4, 5)
      |SELECT k AS event_type, n, lo, hi,
      |  CAST(ws AS DOUBLE) / CAST(n AS DOUBLE) AS winsorized_mean,
      |  CAST(raw AS DOUBLE) / CAST(n AS DOUBLE) AS raw_mean
      |FROM f""".stripMargin

  /** Label-noise joint estimate by confident learning
    * (Stats.labelNoiseJoint): the props payload's k assigns a 3-way
    * "given" label (k div 34) and three deterministic class scores
    * peaking at k = 10/50/90; rows count into (given, guessed) when
    * the guessed class clears its own mean-score threshold — the
    * cleanlab-style relabel audit, exact by cross-multiplied integer
    * threshold tests. */
  private def q288(s: SparkSession, dir: String): DataFrame =
    Stats.labelNoiseJoint(
      t(s, dir, "events")
        .select(expr("cast(get_json_object(props, '$.k') as long)")
          .as("__k"))
        .select(expr("__k div 34").as("y"),
          (lit(100L) - abs(col("__k") - 10L)).as("s0"),
          (lit(100L) - abs(col("__k") - 50L)).as("s1"),
          (lit(100L) - abs(col("__k") - 90L)).as("s2")),
      "y", Seq("s0", "s1", "s2"))

  private val q288Sql =
    """WITH d AS (
      |  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events),
      |b AS (
      |  SELECT k // 34 AS y, 100 - abs(k - 10) AS s0,
      |    100 - abs(k - 50) AS s1, 100 - abs(k - 90) AS s2
      |  FROM d),
      |t AS (
      |  SELECT
      |    CAST(count(*) FILTER (y = 0) AS BIGINT) AS n0,
      |    CAST(count(*) FILTER (y = 1) AS BIGINT) AS n1,
      |    CAST(count(*) FILTER (y = 2) AS BIGINT) AS n2,
      |    CAST(coalesce(sum(s0) FILTER (y = 0), 0) AS BIGINT) AS m0,
      |    CAST(coalesce(sum(s1) FILTER (y = 1), 0) AS BIGINT) AS m1,
      |    CAST(coalesce(sum(s2) FILTER (y = 2), 0) AS BIGINT) AS m2
      |  FROM b),
      |p AS (
      |  SELECT y, s0, s1, s2,
      |    (n0 > 0 AND s0 * n0 >= m0) AS p0,
      |    (n1 > 0 AND s1 * n1 >= m1) AS p1,
      |    (n2 > 0 AND s2 * n2 >= m2) AS p2
      |  FROM b CROSS JOIN t),
      |a1 AS (
      |  SELECT y, s1, s2, p1, p2,
      |    CASE WHEN p0 THEN s0 ELSE -1 END AS accs,
      |    CASE WHEN p0 THEN 0 ELSE -1 END AS accj
      |  FROM p),
      |a2 AS (
      |  SELECT y, s2, p2,
      |    CASE WHEN p1 AND s1 > accs THEN s1 ELSE accs END AS accs,
      |    CASE WHEN p1 AND s1 > accs THEN 1 ELSE accj END AS accj
      |  FROM a1),
      |a3 AS (
      |  SELECT y,
      |    CASE WHEN p2 AND s2 > accs THEN 2 ELSE accj END AS accj
      |  FROM a2)
      |SELECT y AS given_label, CAST(accj AS BIGINT) AS guessed_label,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM a3 GROUP BY 1, 2""".stripMargin

  /** Krippendorff's alpha per order priority
    * (Stats.krippendorffAlpha): the q278 Fleiss setting WITHOUT the
    * fixed-rater filter — every order with >= 2 lineitems contributes,
    * single-lineitem orders are unpairable and drop (Krippendorff's
    * convention). The per-item 1/(r-1) fractions clear through the
    * fixed lcm(1..24); one exact division at the end. */
  private def q289(s: SparkSession, dir: String): DataFrame =
    Stats.krippendorffAlpha(
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(
          col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
          "l_orderkey")
        .select(col("o_orderpriority"), col("l_orderkey").as("item"),
          col("l_returnflag").as("cat")),
      "o_orderpriority", "item", "cat")

  private val q289Sql =
    """WITH r AS (
      |  SELECT o.o_orderpriority AS k, l.l_orderkey AS item,
      |    l.l_returnflag AS cat
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
      |nic AS (SELECT k, item, cat, CAST(count(*) AS BIGINT) AS c
      |        FROM r GROUP BY 1, 2, 3),
      |pi AS (
      |  SELECT k, item, CAST(sum(c) AS BIGINT) AS rr,
      |    sum(CAST(c AS HUGEINT) * c) AS s2
      |  FROM nic GROUP BY 1, 2 HAVING sum(c) >= 2),
      |bk AS (
      |  SELECT k, CAST(count(*) AS BIGINT) AS n_items,
      |    CAST(sum(rr) AS BIGINT) AS n,
      |    sum((5354228880 // (rr - 1))
      |      * (CAST(rr AS HUGEINT) * rr - s2)) AS ol
      |  FROM pi GROUP BY 1),
      |nc AS (
      |  SELECT k, sum(CAST(t AS HUGEINT) * t) AS nc2
      |  FROM (SELECT nic.k, nic.cat, CAST(sum(nic.c) AS BIGINT) AS t
      |        FROM nic JOIN pi ON pi.k = nic.k AND pi.item = nic.item
      |        GROUP BY 1, 2)
      |  GROUP BY 1),
      |f AS (
      |  SELECT bk.k, n_items, n, ol,
      |    CAST(n AS HUGEINT) * n - nc2 AS poff
      |  FROM bk JOIN nc ON nc.k = bk.k)
      |SELECT k AS o_orderpriority, n_items, n AS n_pairable,
      |  CAST(ol AS DOUBLE)
      |    / CAST(CAST(5354228880 AS HUGEINT) * n AS DOUBLE) AS do_rate,
      |  CAST(poff AS DOUBLE)
      |    / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) AS de_rate,
      |  CASE WHEN CAST(5354228880 AS HUGEINT) * poff = 0
      |    THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(CAST(5354228880 AS HUGEINT) * poff
      |        - (CAST(n AS HUGEINT) - 1) * ol AS DOUBLE)
      |      / CAST(CAST(5354228880 AS HUGEINT) * poff AS DOUBLE)
      |    END AS alpha
      |FROM f""".stripMargin

  /** Wald SPRT sequential test per event type (Stats.sprtBernoulli):
    * is the >=$50 spend rate 45% (H0) or 55% (H1), at 5%/5% error
    * rates — the always-valid "stop the experiment now" readout.
    * Micro-nat integer LLR; the oracle recomputes the same four
    * logarithms over the same exact integers. */
  private def q290(s: SparkSession, dir: String): DataFrame =
    Stats.sprtBernoulli(
      t(s, dir, "events").select(col("event_type"),
        when(cents(col("value")) >= 5000L, 1L).otherwise(0L).as("x")),
      "event_type", "x", p0 = (45L, 100L), p1 = (55L, 100L),
      alpha = (5L, 100L), beta = (5L, 100L))

  private val q290Sql =
    """WITH w AS (
      |  SELECT CAST(round(ln(5500.0) * 1000000.0) AS BIGINT) AS l1,
      |         CAST(round(ln(4500.0) * 1000000.0) AS BIGINT) AS l0,
      |         CAST(round(ln(9500.0) * 1000000.0) AS BIGINT) AS la,
      |         CAST(round(ln(500.0) * 1000000.0) AS BIGINT) AS lb),
      |d AS (
      |  SELECT event_type,
      |    CASE WHEN CAST(round(value * 100) AS BIGINT) >= 5000
      |      THEN 1 ELSE 0 END AS x
      |  FROM events),
      |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(x) AS BIGINT) AS s
      |      FROM d GROUP BY 1),
      |z AS (
      |  SELECT event_type, n, s,
      |    CAST(CAST(s AS HUGEINT) * (l1 - l0)
      |      + (CAST(n AS HUGEINT) - s) * (l0 - l1) AS BIGINT) AS llr,
      |    la - lb AS lna, lb - la AS lnb
      |  FROM c, w)
      |SELECT event_type, n, s AS successes, llr AS llr_micro,
      |  lna AS lna_micro, lnb AS lnb_micro,
      |  CASE WHEN llr >= lna THEN 'accept_h1'
      |       WHEN llr <= lnb THEN 'accept_h0'
      |       ELSE 'continue' END AS decision
      |FROM z""".stripMargin

  /** Per-rater accuracy against majority-vote gold
    * (Stats.raterAccuracy): three deterministic simulated annotators
    * (each agreeing with the corpus lang on a different 8/10 slice of
    * docs, keyed off n_chars + 3·rater) are scored against the
    * per-doc majority vote — the "which annotator drifts" labeling-ops
    * readout. Ties break to the lexicographically smallest category
    * in both engines. */
  private def q291(s: SparkSession, dir: String): DataFrame =
    Stats.raterAccuracy(
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          explode(array(lit(0L), lit(1L), lit(2L))).as("rater"))
        .select(col("doc_id").as("item"), col("rater"),
          when(pmod(col("n_chars") + col("rater") * 3L, lit(10)) < 8,
            col("lang"))
            .when(pmod(col("n_chars") + col("rater") * 3L, lit(10))
              === 8, lit("en"))
            .otherwise(lit("unk")).as("cat")),
      "item", "rater", "cat")

  private val q291Sql =
    """WITH rt AS (
      |  SELECT doc_id AS item, r.r AS rater,
      |    CASE WHEN (n_chars + r.r * 3) % 10 < 8 THEN lang
      |         WHEN (n_chars + r.r * 3) % 10 = 8 THEN 'en'
      |         ELSE 'unk' END AS cat
      |  FROM documents, generate_series(0, 2) r(r)),
      |nic AS (SELECT item, cat, CAST(count(*) AS BIGINT) AS c
      |        FROM rt GROUP BY 1, 2),
      |mx AS (SELECT item, max(c) AS mx FROM nic GROUP BY 1),
      |gold AS (
      |  SELECT nic.item, min(cat) AS gold
      |  FROM nic JOIN mx ON mx.item = nic.item AND nic.c = mx.mx
      |  GROUP BY 1),
      |j AS (SELECT rt.rater, rt.cat, gold.gold
      |      FROM rt JOIN gold ON gold.item = rt.item)
      |SELECT rater, CAST(count(*) AS BIGINT) AS n_ratings,
      |  CAST(sum(CASE WHEN cat = gold THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_matches,
      |  1000000 * CAST(sum(CASE WHEN cat = gold THEN 1 ELSE 0 END)
      |    AS BIGINT) // CAST(count(*) AS BIGINT) AS acc_micro
      |FROM j GROUP BY 1""".stripMargin

  /** Content-defined-chunking dedup profile (Dedup.cdcDedupProfile,
    * window 16, modulus 64): the corpus plus an injected duplicate of
    * every fourth document — the CDC cut rule re-finds the shared
    * chunks regardless of surrounding bytes, and the one-row profile
    * reports the achievable storage dedup ratio. The oracle rebuilds
    * every cut point and chunk hash from the same md5 rule. */
  private def q292(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val corpus = d.select(col("doc_id"), col("text"))
      .unionByName(d.where(pmod(col("n_chars"), lit(4)) === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    Dedup.cdcDedupProfile(corpus, "doc_id", "text", window = 16,
      modulus = 64L)
  }

  private val q292Sql =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, text FROM documents
       |  WHERE n_chars % 4 = 0),
       |cuts AS (
       |  SELECT doc_id, text, len(text) AS n,
       |    [i for i in range(16, len(text)+1)
       |       if ${md5LongSql("substr(text, i-16+1, 16)")} % 64 = 0]
       |      AS cs
       |  FROM corpus),
       |spans AS (
       |  SELECT doc_id, u[1] AS s, u[2] AS e,
       |    substr(text, CAST(u[1]+1 AS INTEGER),
       |      CAST(u[2]-u[1] AS INTEGER)) AS chunk
       |  FROM (SELECT doc_id, text,
       |          list_zip(list_prepend(0, cs), list_append(cs, n)) AS z
       |        FROM cuts), unnest(z) AS t(u)
       |  WHERE u[2] > u[1]),
       |ph AS (
       |  SELECT ${md5LongSql("chunk")} AS h,
       |    CAST(count(*) AS BIGINT) AS c,
       |    CAST(min(e - s) AS BIGINT) AS l
       |  FROM spans GROUP BY 1),
       |agg AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n_chunks,
       |    CAST(count(*) AS BIGINT) AS n_distinct,
       |    CAST(sum(c * l) AS BIGINT) AS total_chars,
       |    CAST(sum(l) AS BIGINT) AS distinct_chars
       |  FROM ph),
       |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |       FROM corpus)
       |SELECT n_docs, n_chunks, n_distinct, total_chars, distinct_chars,
       |  CASE WHEN total_chars > 0
       |    THEN CAST(distinct_chars AS DOUBLE)
       |       / CAST(total_chars AS DOUBLE)
       |    ELSE CAST('nan' AS DOUBLE) END AS dedup_ratio
       |FROM agg CROSS JOIN nd""".stripMargin

  /** Dawid–Skene hard-EM label aggregation
    * (Stats.dawidSkeneHardEm, 2 rounds): the q291 fixture with
    * rater-DEPENDENT quality (annotator r agrees with the corpus lang
    * on (8−r)/10 of docs), so accuracy weighting must beat the plain
    * majority vote. The oracle unrolls both EM rounds — per-rater
    * accuracy micro-nats, class priors, the C-way scoring explode,
    * and the smallest-class argmax — bit-for-bit. */
  /** The q293/q300 three-annotator fixture: rater r agrees with the
    * corpus lang on (8−r)/10 of docs, keyed off n_chars so both
    * engines derive the identical ratings. */
  private def dsRatings(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("rater"))
      .select(col("doc_id").as("item"), col("rater"),
        when(pmod(col("n_chars") + col("rater") * 3L, lit(10)) <
          lit(8L) - col("rater"), col("lang"))
          .when(pmod(col("n_chars") + col("rater") * 3L, lit(10))
            === lit(8L) - col("rater"), lit("en"))
          .otherwise(lit("unk")).as("cat"))

  private def q293(s: SparkSession, dir: String): DataFrame =
    Stats.dawidSkeneHardEm(dsRatings(s, dir), "item", "rater", "cat",
      rounds = 2)

  /** The q293 Dawid–Skene replay as reusable WITH-clause innards:
    * `rt(item, rater, cat)` holds the 3-annotator fixture and
    * `g2(item, gold, score)` the round-2 EM assignments. q293 projects
    * them directly; q300 chains the rater-quality SPRT on top. */
  private val dawidSkeneCtes = {
    val lnq = (x: String) =>
      s"CAST(round(ln(CAST($x AS DOUBLE)) * 1000000.0) AS BIGINT)"
    val roundCtes = (1 to 2).map { k =>
      val prev = if (k == 1) "g0" else s"g${k - 1}"
      s"""rs$k AS (
         |  SELECT rt.rater, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN rt.cat = $prev.gold THEN 1 ELSE 0 END)
         |      AS BIGINT) AS m
         |  FROM rt JOIN $prev ON $prev.item = rt.item GROUP BY 1),
         |rw$k AS (
         |  SELECT rater, ${lnq("m + 1")} - ${lnq("n + 2")} AS a,
         |    ${lnq("n - m + 1")} - ${lnq("n + 2")}
         |      - ${lnq("cc.c - 1")} AS b
         |  FROM rs$k CROSS JOIN cc),
         |gc$k AS (SELECT gold, CAST(count(*) AS BIGINT) AS g
         |         FROM $prev GROUP BY 1),
         |pr$k AS (
         |  SELECT cl.cat,
         |    ${lnq(s"coalesce(gc$k.g, 0) + 1")}
         |      - ${lnq("ni.ni + cc.c")} AS p
         |  FROM cl LEFT JOIN gc$k ON gc$k.gold = cl.cat
         |  CROSS JOIN ni CROSS JOIN cc),
         |sc$k AS (
         |  SELECT rt.item, cl.cat AS c2,
         |    CAST(sum(CASE WHEN rt.cat = cl.cat THEN rw$k.a
         |             ELSE rw$k.b END) AS BIGINT) AS s0
         |  FROM rt JOIN rw$k ON rw$k.rater = rt.rater CROSS JOIN cl
         |  GROUP BY 1, 2),
         |s$k AS MATERIALIZED (
         |  SELECT sc$k.item, c2, s0 + pr$k.p AS s
         |  FROM sc$k JOIN pr$k ON pr$k.cat = c2),
         |b$k AS (SELECT item, max(s) AS smax FROM s$k GROUP BY 1),
         |g$k AS MATERIALIZED (
         |  SELECT s$k.item, min(c2) AS gold, max(s) AS score
         |  FROM s$k JOIN b$k ON b$k.item = s$k.item AND s = smax
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""rt AS MATERIALIZED (
       |  SELECT doc_id AS item, r.r AS rater,
       |    CASE WHEN (n_chars + r.r * 3) % 10 < 8 - r.r THEN lang
       |         WHEN (n_chars + r.r * 3) % 10 = 8 - r.r THEN 'en'
       |         ELSE 'unk' END AS cat
       |  FROM documents, generate_series(0, 2) r(r)),
       |cl AS MATERIALIZED (SELECT DISTINCT cat FROM rt),
       |cc AS (SELECT CAST(count(*) AS BIGINT) AS c FROM cl),
       |ni AS (SELECT CAST(count(DISTINCT item) AS BIGINT) AS ni FROM rt),
       |nic AS (SELECT item, cat, CAST(count(*) AS BIGINT) AS c
       |        FROM rt GROUP BY 1, 2),
       |mx AS (SELECT item, max(c) AS mx FROM nic GROUP BY 1),
       |g0 AS MATERIALIZED (
       |  SELECT nic.item, min(cat) AS gold
       |  FROM nic JOIN mx ON mx.item = nic.item AND nic.c = mx.mx
       |  GROUP BY 1),
       |$roundCtes""".stripMargin
  }

  private val q293Sql =
    s"""WITH $dawidSkeneCtes
       |SELECT g0.item, g0.gold AS gold_majority, g2.gold AS gold_em,
       |  g2.score AS score_micro
       |FROM g0 JOIN g2 ON g2.item = g0.item""".stripMargin

  /** Cluster purity of exact-dedup clusters against the lang label
    * (Stats.clusterPurity): the corpus plus an injected copy of every
    * fourth document RE-LABELED 'xx' — identical text under two labels
    * is an annotation bug, and each such cluster reads as impure.
    * Exact counts; one truncating micro division. */
  private def q294(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val corpus = d.select(col("doc_id"), col("text"), col("lang"))
      .unionByName(d.where(pmod(col("n_chars"), lit(4)) === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
          lit("xx").as("lang")))
    Stats.clusterPurity(
      corpus.select(md5(col("text").cast("binary")).as("cluster"),
        col("lang")),
      "cluster", "lang")
  }

  private val q294Sql =
    """WITH corpus AS (
      |  SELECT doc_id, text, lang FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text, 'xx' FROM documents
      |  WHERE n_chars % 4 = 0),
      |cl AS (SELECT md5(text) AS cluster, lang,
      |         CAST(count(*) AS BIGINT) AS c
      |       FROM corpus GROUP BY 1, 2),
      |pc AS (SELECT cluster, CAST(sum(c) AS BIGINT) AS n,
      |         CAST(max(c) AS BIGINT) AS mx
      |       FROM cl GROUP BY 1)
      |SELECT CAST(sum(n) AS BIGINT) AS n_rows,
      |  CAST(count(*) AS BIGINT) AS n_clusters,
      |  CAST(sum(CASE WHEN mx = n THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_pure,
      |  1000000 * CAST(sum(mx) AS BIGINT) // CAST(sum(n) AS BIGINT)
      |    AS purity_micro
      |FROM pc""".stripMargin

  /** Near-dup label-conflict audit (Dedup.pairLabelConflicts over the
    * q19 MinHash-LSH verified pairs): near-identical documents
    * carrying different lang labels surface as off-diagonal
    * label-pair rows — the annotation-bug report the dedup pass gets
    * for free. */
  private def q295(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    Dedup.pairLabelConflicts(
      Dedup.minhashLshPairs(d, "doc_id", "text", shingleN = 3,
        bands = 8, rowsPerBand = 2, threshold = 0.5),
      d, "doc_id", "lang")
  }

  private val q295Sql =
    s"""WITH $minhashPairsCtes
       |SELECT least(da.lang, db.lang) AS label_a,
       |  greatest(da.lang, db.lang) AS label_b,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  least(da.lang, db.lang) != greatest(da.lang, db.lang)
       |    AS is_conflict
       |FROM pairs p
       |JOIN documents da ON da.doc_id = p.id_a
       |JOIN documents db ON db.doc_id = p.id_b
       |GROUP BY 1, 2""".stripMargin

  /** Off-policy IPS/SNIPS value estimate per day-of-week
    * (Stats.ipsEstimate): the logged event stream evaluated against a
    * deterministic target policy (recommend 'purchase' when the props
    * payload's k >= 50, else 'view') under k-derived micro
    * propensities — "what would the new policy have earned", with the
    * effective-sample-size honesty meter. Exact truncating inverse-
    * propensity weights; three single divisions. */
  private def q296(s: SparkSession, dir: String): DataFrame =
    Stats.ipsEstimate(
      t(s, dir, "events").select(
        expr("pmod(ts div 86400000000000 + 4, 7)").as("dow"),
        col("event_type").as("a"),
        expr("cast(get_json_object(props, '$.k') as long)").as("__k"),
        cents(col("value")).as("r"))
        .select(col("dow"), col("a"), col("r"),
          (lit(100000L) + col("__k") * 9000L).as("p_micro"),
          when(col("__k") >= 50L, lit("purchase")).otherwise(lit("view"))
            .as("pi")),
      "dow", "a", "pi", "p_micro", "r")

  private val q296Sql =
    """WITH d AS (
      |  SELECT (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
      |    event_type AS a,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |    CAST(round(value * 100) AS BIGINT) AS r
      |  FROM events),
      |e AS (
      |  SELECT dow, a, r, 100000 + k * 9000 AS p,
      |    CASE WHEN k >= 50 THEN 'purchase' ELSE 'view' END AS pi
      |  FROM d),
      |g AS (
      |  SELECT dow, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN a = pi THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_matched,
      |    sum(CASE WHEN a = pi
      |        THEN CAST(1000000000000 // p AS HUGEINT) ELSE 0 END) AS sw,
      |    sum(CASE WHEN a = pi
      |        THEN CAST(1000000000000 // p AS HUGEINT)
      |           * (1000000000000 // p) ELSE 0 END) AS sw2,
      |    sum(CASE WHEN a = pi
      |        THEN CAST(r AS HUGEINT) * (1000000000000 // p)
      |        ELSE 0 END) AS srw
      |  FROM e GROUP BY 1)
      |SELECT dow, n, n_matched,
      |  CASE WHEN n_matched = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(srw AS DOUBLE)
      |       / CAST(CAST(n AS HUGEINT) * 1000000000000 AS DOUBLE)
      |    END AS ips_value,
      |  CASE WHEN sw = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(srw AS DOUBLE) / CAST(sw AS DOUBLE)
      |    END AS snips_value,
      |  CASE WHEN sw2 = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
      |       / CAST(sw2 AS DOUBLE) END AS ess
      |FROM g""".stripMargin

  /** Quantile treatment effects per event type
    * (Stats.quantileTreatmentEffects): users split into arms by id
    * parity; the exact p25/p50/p75/p90 order statistics per arm and
    * their differences — the distributional A/B readout a mean hides.
    * Pure integer rank picks off the bounded histogram. */
  private def q297(s: SparkSession, dir: String): DataFrame =
    Stats.quantileTreatmentEffects(
      t(s, dir, "events").select(col("event_type"),
        pmod(col("user_id"), lit(2L)).as("arm"),
        cents(col("value")).as("v")),
      "event_type", "arm", "v",
      Seq((1L, 4L), (2L, 4L), (3L, 4L), (9L, 10L)))

  private val q297Sql =
    """WITH o AS (
      |  SELECT event_type AS k, user_id % 2 AS arm,
      |    CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events),
      |h AS (SELECT k, arm, v, CAST(count(*) AS BIGINT) AS c
      |      FROM o GROUP BY 1, 2, 3),
      |cw AS (
      |  SELECT k, arm, v, c,
      |    CAST(sum(c) OVER (PARTITION BY k, arm ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum,
      |    CAST(sum(c) OVER (PARTITION BY k, arm) AS BIGINT) AS n
      |  FROM h),
      |q(pn, pd) AS (VALUES (1, 4), (2, 4), (3, 4), (9, 10)),
      |pa AS (
      |  SELECT k, arm, CAST(q.pn AS BIGINT) AS p_num,
      |    CAST(q.pd AS BIGINT) AS p_den, CAST(max(n) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN cum - c < (q.pn * n + q.pd - 1) // q.pd
      |      AND (q.pn * n + q.pd - 1) // q.pd <= cum
      |      THEN v ELSE 0 END) AS BIGINT) AS qv
      |  FROM cw CROSS JOIN q GROUP BY 1, 2, 3, 4)
      |SELECT t.k AS event_type, t.p_num, t.p_den, t.n AS n_treat,
      |  c.n AS n_ctrl, t.qv AS q_treat, c.qv AS q_ctrl,
      |  t.qv - c.qv AS qte
      |FROM pa t JOIN pa c ON c.k = t.k AND c.p_num = t.p_num
      |  AND c.p_den = t.p_den AND c.arm = 0
      |WHERE t.arm = 1""".stripMargin

  /** Covariate balance of spend across the id-parity split per event
    * type (Stats.covariateBalance): the pre-experiment SMD hygiene
    * check — a fair assignment reads |smd| near 0. Exact decimal
    * sufficient statistics; fixed IEEE tail with one sqrt. */
  private def q298(s: SparkSession, dir: String): DataFrame =
    Stats.covariateBalance(
      t(s, dir, "events").select(col("event_type"),
        pmod(col("user_id"), lit(2L)).as("arm"),
        cents(col("value")).as("x")),
      "event_type", "arm", "x")

  private val q298Sql =
    """WITH o AS (
      |  SELECT event_type AS k, user_id % 2 AS arm,
      |    CAST(round(value * 100) AS BIGINT) AS x
      |  FROM events),
      |a AS (
      |  SELECT k, arm, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS HUGEINT) AS s,
      |    sum(CAST(x AS HUGEINT) * x) AS s2
      |  FROM o GROUP BY 1, 2),
      |m AS (
      |  SELECT k, arm, n,
      |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |    CAST(CAST(n AS HUGEINT) * s2 - s * s AS DOUBLE)
      |      / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) AS var
      |  FROM a WHERE n >= 2)
      |SELECT t.k AS event_type, t.n AS n_treat, c.n AS n_ctrl,
      |  t.mean AS mean_treat, c.mean AS mean_ctrl,
      |  t.var AS var_treat, c.var AS var_ctrl,
      |  CASE WHEN t.var + c.var = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE (t.mean - c.mean) / sqrt((t.var + c.var) / 2.0)
      |    END AS smd
      |FROM m t JOIN m c ON c.k = t.k AND c.arm = 0
      |WHERE t.arm = 1""".stripMargin

  /** Language-ID confusion matrix against the gold lang label
    * (TextAnalysis.langIdTable vs documents.lang): per (true,
    * predicted) counts plus the per-true-language recall — the
    * classifier-eval composition over the q26 stopword-argmax
    * language ID. */
  private def q299(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val pred = TextAnalysis.langIdTable(d, "doc_id", "text")
    val joined = d.select(col("doc_id"), col("lang")).join(pred, "doc_id")
      .groupBy(col("lang").as("lang_true"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val tot = joined.groupBy(col("lang_true"))
      .agg(sum(col("n")).as("__t"))
    joined.join(tot, "lang_true")
      .select(col("lang_true"), col("lang_pred"), col("n"),
        expr("1000000 * n div __t").as("recall_micro"))
  }

  private val q299Sql =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |wb AS (SELECT doc_id, tk, $langBestSql AS best FROM toks),
       |pred AS (SELECT doc_id, CASE $langCasesSql END AS lang_pred
       |         FROM wb),
       |j AS (
       |  SELECT d.lang AS lang_true, p.lang_pred,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM documents d JOIN pred p ON p.doc_id = d.doc_id
       |  GROUP BY 1, 2),
       |t AS (SELECT lang_true, CAST(sum(n) AS BIGINT) AS tt
       |      FROM j GROUP BY 1)
       |SELECT j.lang_true, j.lang_pred, j.n,
       |  1000000 * j.n // t.tt AS recall_micro
       |FROM j JOIN t ON t.lang_true = j.lang_true""".stripMargin

  /** End-to-end label-QA pipeline (the q276 composability pattern for
    * the round's label-ops family): three synthetic annotators →
    * Dawid–Skene hard-EM gold (q293) → per-rater accuracy against the
    * EM gold → Wald SPRT per rater on "is this annotator >= 80%
    * accurate (H1) or <= 70% (H0)" — the keep/retrain decision a
    * labeling platform serves, one gate, zero driver glue. The oracle
    * chains the full q293 replay with the accuracy counts and the
    * micro-nat SPRT tail bit-for-bit. */
  private def q300(s: SparkSession, dir: String): DataFrame = {
    val ratings = dsRatings(s, dir)
    val gold = Stats.dawidSkeneHardEm(ratings, "item", "rater", "cat",
        rounds = 2)
      .select(col("item"), col("gold_em"))
    val counts = ratings.join(gold, "item")
      .groupBy(col("rater"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("cat") === col("gold_em"), 1L).otherwise(0L))
          .as("successes"))
    Stats.sprtFromCounts(counts, "rater", p0 = (70L, 100L),
        p1 = (80L, 100L), alpha = (5L, 100L), beta = (5L, 100L))
      .select(col("rater"), col("n"), col("successes"),
        expr("1000000 * successes div n").as("acc_micro"),
        col("llr_micro"), col("decision"))
  }

  private val q300Sql = {
    val lnq = (x: String) =>
      s"CAST(round(ln(CAST($x AS DOUBLE)) * 1000000.0) AS BIGINT)"
    s"""WITH $dawidSkeneCtes,
       |counts AS (
       |  SELECT rt.rater, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN rt.cat = g2.gold THEN 1 ELSE 0 END)
       |      AS BIGINT) AS successes
       |  FROM rt JOIN g2 ON g2.item = rt.item GROUP BY 1),
       |w AS (
       |  SELECT ${lnq("8000")} - ${lnq("7000")} AS w1,
       |    ${lnq("2000")} - ${lnq("3000")} AS w0,
       |    ${lnq("9500")} - ${lnq("500")} AS lna,
       |    ${lnq("500")} - ${lnq("9500")} AS lnb),
       |z AS (
       |  SELECT rater, n, successes,
       |    1000000 * successes // n AS acc_micro,
       |    CAST(CAST(successes AS HUGEINT) * w1
       |      + (CAST(n AS HUGEINT) - successes) * w0 AS BIGINT) AS llr,
       |    lna, lnb
       |  FROM counts, w)
       |SELECT rater, n, successes, acc_micro, llr AS llr_micro,
       |  CASE WHEN llr >= lna THEN 'accept_h1'
       |       WHEN llr <= lnb THEN 'accept_h0'
       |       ELSE 'continue' END AS decision
       |FROM z""".stripMargin
  }

  /** Preference-data bias audit (Stats.wilsonInterval over the q279
    * contest universe): does the "longer" side win more than chance,
    * and does presentation position leak into outcomes — the two
    * standard pairwise-preference integrity checks (length bias is
    * the classic RLHF reward-hacking signal). One row per bias with
    * the exact win counts and the Wilson 95% interval; a CI excluding
    * 0.5 is the alarm. */
  private def q301(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val part = t(s, dir, "part")
    val l1 = li.where(col("l_linenumber") === 1)
      .select(col("l_orderkey"), col("l_partkey").as("__pk1"),
        cents(col("l_extendedprice")).as("__e1"),
        col("l_quantity").cast("long").as("__q1"))
    val l2 = li.where(col("l_linenumber") === 2)
      .select(col("l_orderkey"), col("l_partkey").as("__pk2"),
        cents(col("l_extendedprice")).as("__e2"),
        col("l_quantity").cast("long").as("__q2"))
    val c = l1.join(l2, "l_orderkey")
      .join(part.select(col("p_partkey").as("__pk1"),
        col("p_brand").as("__b1")), "__pk1")
      .join(part.select(col("p_partkey").as("__pk2"),
        col("p_brand").as("__b2")), "__pk2")
      .where(col("__b1") =!= col("__b2"))
      .withColumn("__s1w", col("__e1") > col("__e2") ||
        (col("__e1") === col("__e2") && col("__b1") < col("__b2")))
    val length = c.where(col("__q1") =!= col("__q2"))
      .select(lit("length").as("bias"),
        (when(col("__s1w"), col("__q1")).otherwise(col("__q2")) >
          when(col("__s1w"), col("__q2")).otherwise(col("__q1")))
          .as("hit"))
    val position = c.select(lit("position").as("bias"),
      col("__s1w").as("hit"))
    Stats.wilsonInterval(length.unionByName(position), "bias", "hit")
  }

  private val q301Sql =
    """WITH l12 AS (
      |  SELECT p1.p_brand AS b1, p2.p_brand AS b2,
      |    CAST(round(l1.l_extendedprice * 100) AS BIGINT) AS e1,
      |    CAST(round(l2.l_extendedprice * 100) AS BIGINT) AS e2,
      |    CAST(l1.l_quantity AS BIGINT) AS q1,
      |    CAST(l2.l_quantity AS BIGINT) AS q2
      |  FROM lineitem l1
      |  JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
      |    AND l2.l_linenumber = 2
      |  JOIN part p1 ON p1.p_partkey = l1.l_partkey
      |  JOIN part p2 ON p2.p_partkey = l2.l_partkey
      |  WHERE l1.l_linenumber = 1),
      |c AS (
      |  SELECT *, (e1 > e2 OR (e1 = e2 AND b1 < b2)) AS s1w
      |  FROM l12 WHERE b1 != b2),
      |o AS (
      |  SELECT 'length' AS bias,
      |    (CASE WHEN s1w THEN q1 ELSE q2 END)
      |      > (CASE WHEN s1w THEN q2 ELSE q1 END) AS hit
      |  FROM c WHERE q1 != q2
      |  UNION ALL
      |  SELECT 'position', s1w FROM c),
      |a AS (
      |  SELECT bias, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS x
      |  FROM o GROUP BY 1),
      |b AS (
      |  SELECT bias, n, x,
      |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p,
      |    1.0 + (1.96*1.96) / CAST(n AS DOUBLE) AS denom,
      |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
      |      + (1.96*1.96) / (2.0 * CAST(n AS DOUBLE)) AS center,
      |    1.96 * sqrt(
      |      (CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
      |        / CAST(n AS DOUBLE)
      |      + (1.96*1.96)
      |        / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS margin
      |  FROM a)
      |SELECT bias, n, x, p,
      |  (center - margin) / denom AS lo,
      |  (center + margin) / denom AS hi
      |FROM b""".stripMargin

  /** Preference transitivity audit over the q279 contest universe
    * (Stats.preferenceCycles): among brand triads whose three pairs
    * all have a strict majority direction, the cyclic fraction — how
    * self-consistent the pairwise preference data is before a scalar
    * Bradley–Terry reward is fit to it. */
  private def q302(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val part = t(s, dir, "part")
    val l1 = li.where(col("l_linenumber") === 1)
      .select(col("l_orderkey"), col("l_partkey").as("__pk1"),
        cents(col("l_extendedprice")).as("__e1"))
    val l2 = li.where(col("l_linenumber") === 2)
      .select(col("l_orderkey"), col("l_partkey").as("__pk2"),
        cents(col("l_extendedprice")).as("__e2"))
    val contests = l1.join(l2, "l_orderkey")
      .join(part.select(col("p_partkey").as("__pk1"),
        col("p_brand").as("__b1")), "__pk1")
      .join(part.select(col("p_partkey").as("__pk2"),
        col("p_brand").as("__b2")), "__pk2")
      .where(col("__b1") =!= col("__b2"))
      .select(
        when(col("__e1") > col("__e2"), col("__b1"))
          .when(col("__e2") > col("__e1"), col("__b2"))
          .otherwise(least(col("__b1"), col("__b2"))).as("winner"),
        when(col("__e1") > col("__e2"), col("__b2"))
          .when(col("__e2") > col("__e1"), col("__b1"))
          .otherwise(greatest(col("__b1"), col("__b2"))).as("loser"))
    Stats.preferenceCycles(contests, "winner", "loser")
  }

  private val q302Sql =
    """WITH l12 AS (
      |  SELECT p1.p_brand AS b1, p2.p_brand AS b2,
      |    CAST(round(l1.l_extendedprice * 100) AS BIGINT) AS e1,
      |    CAST(round(l2.l_extendedprice * 100) AS BIGINT) AS e2
      |  FROM lineitem l1
      |  JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
      |    AND l2.l_linenumber = 2
      |  JOIN part p1 ON p1.p_partkey = l1.l_partkey
      |  JOIN part p2 ON p2.p_partkey = l2.l_partkey
      |  WHERE l1.l_linenumber = 1),
      |raw AS (
      |  SELECT CASE WHEN e1 > e2 THEN b1 WHEN e2 > e1 THEN b2
      |              WHEN b1 < b2 THEN b1 ELSE b2 END AS winner,
      |         CASE WHEN e1 > e2 THEN b2 WHEN e2 > e1 THEN b1
      |              WHEN b1 < b2 THEN b2 ELSE b1 END AS loser
      |  FROM l12 WHERE b1 != b2),
      |pr AS (
      |  SELECT least(winner, loser) AS a, greatest(winner, loser) AS b,
      |    CAST(sum(CASE WHEN winner < loser THEN 1 ELSE 0 END)
      |      AS BIGINT) AS nab,
      |    CAST(sum(CASE WHEN winner > loser THEN 1 ELSE 0 END)
      |      AS BIGINT) AS nba
      |  FROM raw GROUP BY 1, 2),
      |dec AS MATERIALIZED (
      |  SELECT a, b, nab > nba AS fab FROM pr WHERE nab != nba),
      |tri AS (
      |  SELECT t1.f AS f1, t3.f AS f3, t2.f AS f2
      |  FROM (SELECT a, b AS x, fab AS f FROM dec) t1
      |  JOIN (SELECT a, b AS y, fab AS f FROM dec) t2
      |    ON t2.a = t1.a AND t1.x < t2.y
      |  JOIN (SELECT a AS x, b AS y, fab AS f FROM dec) t3
      |    ON t3.x = t1.x AND t3.y = t2.y),
      |it AS (SELECT CAST(count(DISTINCT it) AS BIGINT) AS n_items
      |       FROM (SELECT winner AS it FROM raw
      |             UNION ALL SELECT loser FROM raw)),
      |cp AS (SELECT CAST(count(*) AS BIGINT) AS n_contest_pairs FROM pr),
      |dp AS (SELECT CAST(count(*) AS BIGINT) AS n_decided_pairs
      |       FROM dec),
      |tc AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_triads,
      |    CAST(sum(CASE WHEN f1 = f3 AND f1 != f2 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_cycles
      |  FROM tri)
      |SELECT n_items, n_contest_pairs, n_decided_pairs, n_triads,
      |  coalesce(n_cycles, 0) AS n_cycles,
      |  CASE WHEN n_triads = 0 THEN NULL
      |    ELSE 1000000 * coalesce(n_cycles, 0) // n_triads
      |    END AS cycle_rate_micro
      |FROM it CROSS JOIN cp CROSS JOIN dp CROSS JOIN tc""".stripMargin

  /** Dedup-aware token accounting per source: total whitespace tokens,
    * tokens sitting in exact-duplicate copies beyond each cluster's
    * keeper (min doc_id corpus-wide — dedup scope crosses sources, so
    * a source full of copies of ANOTHER source's docs reads as ~100%
    * removable), and the effective token budget that remains — the
    * "what does this source really contribute" readout a data-mixing
    * pass starts from. Same injected-duplicate fixture as q292/q294. */
  private def q303(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val corpus = d.select(col("doc_id"), col("source"), col("text"))
      .unionByName(d.where(pmod(col("n_chars"), lit(4)) === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("source"),
          col("text")))
    val toks = corpus.select(col("doc_id"), col("source"),
      md5(col("text").cast("binary")).as("__h"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("__t"))
    val keep = toks.groupBy(col("__h"))
      .agg(min(col("doc_id")).as("__keep"))
    toks.join(keep, "__h")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__t")).as("total_tokens"),
        sum(when(col("doc_id") =!= col("__keep"), col("__t"))
          .otherwise(0L)).as("removable_tokens"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("removable_tokens"),
        (col("total_tokens") - col("removable_tokens"))
          .as("effective_tokens"))
  }

  private val q303Sql =
    """WITH corpus AS (
      |  SELECT doc_id, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, source, text FROM documents
      |  WHERE n_chars % 4 = 0),
      |toks AS (
      |  SELECT doc_id, source, md5(text) AS h,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text),
      |      '\s+'), x -> x != '')) AS BIGINT) AS t
      |  FROM corpus),
      |keep AS (SELECT h, min(doc_id) AS k FROM toks GROUP BY 1)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(t) AS BIGINT) AS total_tokens,
      |  CAST(sum(CASE WHEN doc_id != k THEN t ELSE 0 END) AS BIGINT)
      |    AS removable_tokens,
      |  CAST(sum(t) - sum(CASE WHEN doc_id != k THEN t ELSE 0 END)
      |    AS BIGINT) AS effective_tokens
      |FROM toks JOIN keep USING (h) GROUP BY 1""".stripMargin

  /** NDCG@10 of a term-frequency ranking against an independent
    * graded relevance (Stats.ndcgAtK): for five corpus terms, docs
    * rank by tf (ties to the smaller doc id) and are graded by a
    * length-bucket relevance — the ranking-quality eval the search
    * family reports; discount weights quantize identically in both
    * engines. */
  private def q304(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("data", "spark", "query", "vector", "stream")
    val cand = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        ws_tokens(col("text")).as("__tk"),
        explode(array(terms.map(lit(_)): _*)).as("term"))
      .select(col("term"), col("doc_id"), col("n_chars"),
        size(filter(col("__tk"), x => x === col("term"))).cast("long")
          .as("tf"))
      .where(col("tf") > 0L)
    val ranked = cand.groupBy(col("term"))
      .agg(top_k_by(struct(col("tf"), (-col("doc_id")).as("nid"),
        col("n_chars")), 10).as("__top"))
      .select(col("term"), posexplode(col("__top")))
      .select(col("term"), (col("pos") + 1L).as("rank"),
        least(call_function("div", col("col.n_chars").cast("long"),
          lit(150L)), lit(3L)).as("rel"))
    Stats.ndcgAtK(ranked, "term", "rank", "rel", k = 10)
  }

  private val q304Sql =
    """WITH t(term) AS (
      |  VALUES ('data'), ('spark'), ('query'), ('vector'), ('stream')),
      |c AS (
      |  SELECT t.term, d.doc_id, d.n_chars,
      |    CAST(len(list_filter(list_filter(
      |      regexp_split_to_array(lower(d.text), '\s+'), x -> x != ''),
      |      x -> x = t.term)) AS BIGINT) AS tf
      |  FROM documents d CROSS JOIN t),
      |rk AS (
      |  SELECT term, doc_id, n_chars, tf,
      |    row_number() OVER (PARTITION BY term
      |      ORDER BY tf DESC, doc_id) AS rank
      |  FROM c WHERE tf > 0),
      |r10 AS (
      |  SELECT term, CAST(rank AS BIGINT) AS rank,
      |    least(n_chars // 150, 3) AS rel
      |  FROM rk WHERE rank <= 10),
      |w AS (
      |  SELECT i, CAST(round(1000000.0 * ln(2.0)
      |    / ln(CAST(i + 1 AS DOUBLE))) AS BIGINT) AS w
      |  FROM range(1, 11) t(i)),
      |d1 AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS n_ranked,
      |    CAST(sum(rel * w.w) AS BIGINT) AS dcg
      |  FROM r10 JOIN w ON w.i = r10.rank GROUP BY 1),
      |ideal AS (
      |  SELECT term, rel,
      |    row_number() OVER (PARTITION BY term
      |      ORDER BY rel DESC, rank) AS ri
      |  FROM r10),
      |d2 AS (
      |  SELECT term, CAST(sum(rel * w.w) AS BIGINT) AS idcg
      |  FROM ideal JOIN w ON w.i = ideal.ri GROUP BY 1)
      |SELECT d1.term, n_ranked, dcg AS dcg_mw, idcg AS idcg_mw,
      |  CASE WHEN idcg = 0 THEN CAST('nan' AS DOUBLE)
      |    ELSE CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE)
      |    END AS ndcg
      |FROM d1 JOIN d2 USING (term)""".stripMargin

  /** UAX-29-subset Unicode word segmentation
    * (TextAnalysis.unicodeWordProfile): every document gets a
    * mixed-script suffix — Han singletons with a possessive
    * apostrophe, Katakana, digits-in-run, Thai, an underscore token —
    * so the gate exercises exactly the shapes whitespace splitting
    * gets wrong; the md5 of the U+0001-joined token list pins the
    * full segmentation (CJK isolation, apostrophe joins, run
    * boundaries) bit-for-bit against the RE2 replay of the same rule
    * set. */
  private def q305(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unicodeWordProfile(
      t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" 東京都’s データ123 it's can’t ไทยทด _mix_9 "),
          col("source")).as("text")),
      "doc_id", "text")

  private val q305Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |    text || ' 東京都’s データ123 it''s can’t ไทยทด _mix_9 '
      |      || source AS text
      |  FROM documents),
      |tk AS (
      |  SELECT doc_id, regexp_extract_all(
      |    regexp_replace(text,
      |      '([\p{Han}\p{Hiragana}\p{Katakana}\p{Thai}])', ' \1 ',
      |      'g'),
      |    '[\p{L}\p{Nd}\p{Mn}\p{Mc}_]+(?:[''’][\p{L}\p{Nd}\p{Mn}\p{Mc}_]+)*')
      |    AS toks
      |  FROM d)
      |SELECT doc_id,
      |  CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(len(list_filter(toks, t -> regexp_matches(t,
      |    '^[\p{Han}\p{Hiragana}\p{Katakana}\p{Thai}]$')))
      |    AS BIGINT) AS n_cjk,
      |  CAST(len(list_filter(toks, t -> contains(t, '''')
      |    OR contains(t, '’'))) AS BIGINT) AS n_apos,
      |  md5(array_to_string(toks, chr(1))) AS tokens_hash
      |FROM tk""".stripMargin

  /** UAX-29-subset sentence segmentation
    * (TextAnalysis.unicodeSentenceProfile): documents are wrapped in
    * a shell with an abbreviation-like prefix ("Dr."), a quoted
    * exclamation with a trailing closer, an ellipsis run, a
    * terminal+closer pair and an unterminated tail — the adversarial
    * shapes of the terminal-run rule set — and the md5 of the
    * U+0001-joined sentence list pins the whole segmentation against
    * the single-regex RE2 replay. */
  private def q306(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unicodeSentenceProfile(
      t(s, dir, "documents").select(col("doc_id"),
        concat(lit("Dr. No said \"Stop!\" twice... "), col("text"),
          lit(" Is it done?! (Yes.) The end")).as("text")),
      "doc_id", "text")

  private val q306Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |    'Dr. No said "Stop!" twice... ' || text
      |      || ' Is it done?! (Yes.) The end' AS text
      |  FROM documents),
      |sp AS (
      |  SELECT doc_id, list_filter(list_transform(
      |    regexp_extract_all(text,
      |      '[^.!?]+[.!?]+["'')\]”’»]*|[^.!?]+$'),
      |    x -> trim(x, ' ' || chr(9) || chr(10) || chr(13))),
      |    x -> x != '') AS sents
      |  FROM d)
      |SELECT doc_id,
      |  CAST(len(sents) AS BIGINT) AS n_sentences,
      |  CAST(len(array_to_string(sents, '')) AS BIGINT) AS sent_chars,
      |  md5(array_to_string(sents, chr(1))) AS sents_hash
      |FROM sp""".stripMargin

  /** Interpolated modified Kneser–Ney perplexity
    * (TextAnalysis.kneserNeyPerplexity, order 3): raw counts at the
    * top, continuation counts below, per-level Chen–Goodman discounts
    * from count-of-counts with KenLM's --discount_fallback default
    * (0.5, 1.0, 1.5) on levels whose continuation counts saturate
    * (this corpus's small vocabulary saturates levels 1–2 — the gate
    * exercises BOTH the computed and the fallback discount paths; the
    * top level is computed at every SF). The oracle unrolls the whole
    * model: level tables, γ type-counts, discount validity CASE,
    * the three-level interpolation chain in the identical IEEE op
    * order, one ln rounded to micro-nats. */
  private def q307(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.kneserNeyPerplexity(t(s, dir, "documents"),
      "doc_id", "text", col("doc_id") % 3 =!= 0L, order = 3,
      thresholdMicro = 3100000L,
      discountFallback = Some((0.5, 1.0, 1.5)))

  private val q307Sql: String = {
    val keysExpr = (tk: String) =>
      s"[array_to_string($tk[greatest(1, i-2):i], ' ') " +
        s"for i in range(1, len($tk)+1)]"
    def mAgg(src: String) =
      s"""CAST(coalesce(sum(CASE WHEN cnt = 1 THEN 1 END), 0) AS BIGINT) AS m1,
         |  CAST(coalesce(sum(CASE WHEN cnt = 2 THEN 1 END), 0) AS BIGINT) AS m2,
         |  CAST(coalesce(sum(CASE WHEN cnt = 3 THEN 1 END), 0) AS BIGINT) AS m3,
         |  CAST(coalesce(sum(CASE WHEN cnt = 4 THEN 1 END), 0) AS BIGINT) AS m4
         |  FROM $src""".stripMargin
    def aAgg =
      s"""CAST(sum(cnt) AS BIGINT) AS den,
         |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |  CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |  CAST(sum(CASE WHEN cnt >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3p"""
        .stripMargin
    // one interpolation level: a + gamma * p_prev when the context was
    // observed, pass-through otherwise — the EXACT engine op order
    def lvl(cond: String, sc: String, den: String, n1: String,
            n2: String, n3: String, d1: String, d2: String, d3: String,
            prev: String) =
      s"""CASE WHEN $cond THEN
         |      (CAST(coalesce($sc, 0) AS DOUBLE) -
         |        CASE WHEN coalesce($sc, 0) = 1 THEN $d1
         |             WHEN coalesce($sc, 0) = 2 THEN $d2
         |             WHEN coalesce($sc, 0) >= 3 THEN $d3
         |             ELSE 0.0 END) / CAST($den AS DOUBLE)
         |      + ($d1 * CAST($n1 AS DOUBLE) + $d2 * CAST($n2 AS DOUBLE)
         |         + $d3 * CAST($n3 AS DOUBLE)) / CAST($den AS DOUBLE)
         |        * $prev
         |    ELSE $prev END""".stripMargin
    s"""WITH toks AS (
       |  SELECT doc_id, doc_id % 3 != 0 AS tr, $toksSql AS tk
       |  FROM documents),
       |keys AS (
       |  SELECT doc_id, unnest(${keysExpr("tk")}) AS g FROM toks),
       |tkeys AS (
       |  SELECT unnest([array_to_string(w[len(w)-j+1:len(w)], ' ')
       |                 for j in range(1, len(w)+1)]) AS g
       |  FROM (SELECT string_split(kg, ' ') AS w FROM (
       |    SELECT unnest(${keysExpr("tk")}) AS kg
       |    FROM toks WHERE tr))),
       |c AS (SELECT g, CAST(count(*) AS BIGINT) AS c,
       |        len(string_split(g, ' ')) AS l FROM tkeys GROUP BY g),
       |t3 AS (SELECT g, c AS cnt FROM c WHERE l = 3),
       |t2 AS (SELECT array_to_string(string_split(g, ' ')[2:3], ' ') AS g,
       |         CAST(count(*) AS BIGINT) AS cnt
       |       FROM c WHERE l = 3 GROUP BY 1),
       |t1 AS (SELECT string_split(g, ' ')[2] AS g,
       |         CAST(count(*) AS BIGINT) AS cnt
       |       FROM c WHERE l = 2 GROUP BY 1),
       |a3 AS (SELECT array_to_string(string_split(g, ' ')[1:2], ' ')
       |         AS ctx, $aAgg FROM t3 GROUP BY 1),
       |a2 AS (SELECT string_split(g, ' ')[1] AS ctx, $aAgg
       |       FROM t2 GROUP BY 1),
       |a1 AS (SELECT $aAgg FROM t1),
       |coc AS (
       |  SELECT 3 AS lev, ${mAgg("t3")}
       |  UNION ALL SELECT 2, ${mAgg("t2")}
       |  UNION ALL SELECT 1, ${mAgg("t1")}),
       |disc1 AS (
       |  SELECT lev, m1, m2, m3, m4,
       |    CASE WHEN y IS NOT NULL THEN 1.0 - 2.0*y*m2/m1 END AS d1c,
       |    CASE WHEN y IS NOT NULL THEN 2.0 - 3.0*y*m3/m2 END AS d2c,
       |    CASE WHEN y IS NOT NULL THEN 3.0 - 4.0*y*m4/m3 END AS d3c
       |  FROM (SELECT *, CASE WHEN m1 > 0 AND m2 > 0 AND m3 > 0
       |          THEN CAST(m1 AS DOUBLE)/CAST(m1 + 2*m2 AS DOUBLE) END
       |          AS y FROM coc)),
       |disc AS (
       |  SELECT lev,
       |    CASE WHEN ok THEN d1c ELSE 0.5 END AS d1,
       |    CASE WHEN ok THEN d2c ELSE 1.0 END AS d2,
       |    CASE WHEN ok THEN d3c ELSE 1.5 END AS d3
       |  FROM (SELECT lev, d1c, d2c, d3c,
       |    d1c IS NOT NULL AND d1c >= 0 AND d1c <= 1 AND d2c >= 0
       |      AND d2c <= 2 AND d3c >= 0 AND d3c <= 3 AS ok
       |    FROM disc1)),
       |dd AS (SELECT
       |  max(CASE WHEN lev = 1 THEN d1 END) AS d1_1,
       |  max(CASE WHEN lev = 1 THEN d2 END) AS d2_1,
       |  max(CASE WHEN lev = 1 THEN d3 END) AS d3_1,
       |  max(CASE WHEN lev = 2 THEN d1 END) AS d1_2,
       |  max(CASE WHEN lev = 2 THEN d2 END) AS d2_2,
       |  max(CASE WHEN lev = 2 THEN d3 END) AS d3_2,
       |  max(CASE WHEN lev = 3 THEN d1 END) AS d1_3,
       |  max(CASE WHEN lev = 3 THEN d2 END) AS d2_3,
       |  max(CASE WHEN lev = 3 THEN d3 END) AS d3_3 FROM disc),
       |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c WHERE l = 1),
       |dkw AS (
       |  SELECT g, string_split(g, ' ') AS w,
       |         len(string_split(g, ' ')) AS L
       |  FROM (SELECT DISTINCT g FROM keys)),
       |slots AS (
       |  SELECT dkw.g, dkw.L,
       |    s3.cnt AS s3c, x3.den AS x3den, x3.n1 AS x3n1,
       |    x3.n2 AS x3n2, x3.n3p AS x3n3p,
       |    s2.cnt AS s2c, x2.den AS x2den, x2.n1 AS x2n1,
       |    x2.n2 AS x2n2, x2.n3p AS x2n3p,
       |    s1.cnt AS s1c, a1.den AS x1den, a1.n1 AS x1n1,
       |    a1.n2 AS x1n2, a1.n3p AS x1n3p,
       |    dd.*, 1.0/CAST(v.v AS DOUBLE) AS p0
       |  FROM dkw
       |  LEFT JOIN t3 s3 ON dkw.L >= 3 AND s3.g =
       |    array_to_string(dkw.w[dkw.L-2:dkw.L], ' ')
       |  LEFT JOIN a3 x3 ON dkw.L >= 3 AND x3.ctx =
       |    array_to_string(dkw.w[dkw.L-2:dkw.L-1], ' ')
       |  LEFT JOIN t2 s2 ON dkw.L >= 2 AND s2.g =
       |    array_to_string(dkw.w[dkw.L-1:dkw.L], ' ')
       |  LEFT JOIN a2 x2 ON dkw.L >= 2 AND x2.ctx = dkw.w[dkw.L-1]
       |  LEFT JOIN t1 s1 ON s1.g = dkw.w[dkw.L]
       |  CROSS JOIN a1 CROSS JOIN dd CROSS JOIN v),
       |p1 AS (SELECT *, ${lvl("x1den IS NOT NULL", "s1c", "x1den",
           "x1n1", "x1n2", "x1n3p", "d1_1", "d2_1", "d3_1", "p0")}
       |  AS pv1 FROM slots),
       |p2 AS (SELECT *, ${lvl("L >= 2 AND x2den IS NOT NULL", "s2c",
           "x2den", "x2n1", "x2n2", "x2n3p", "d1_2", "d2_2", "d3_2",
           "pv1")} AS pv2 FROM p1),
       |p3 AS (SELECT *, ${lvl("L >= 3 AND x3den IS NOT NULL", "s3c",
           "x3den", "x3n1", "x3n2", "x3n3p", "d1_3", "d2_3", "d3_3",
           "pv2")} AS pv3 FROM p2),
       |nll AS (SELECT g,
       |    -CAST(round(ln(pv3) * 1000000.0) AS BIGINT) AS nll FROM p3),
       |sc AS (
       |  SELECT k.doc_id, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(nll.nll) AS BIGINT) AS s
       |  FROM keys k JOIN nll ON nll.g = k.g GROUP BY 1)
       |SELECT t.doc_id, t.tr AS is_train,
       |  coalesce(sc.n, 0) AS n_tokens,
       |  coalesce(sc.s, 0) AS nll_sum_micro,
       |  CASE WHEN sc.n > 0 THEN sc.s // sc.n ELSE 0 END AS nll_avg_micro,
       |  coalesce(sc.n, 0) > 0 AND
       |    (CASE WHEN sc.n > 0 THEN sc.s // sc.n ELSE 0 END) <= 3100000
       |    AS keep
       |FROM toks t LEFT JOIN sc USING (doc_id)""".stripMargin
  }

  /** ANN recall@k tuning readout (Similarity.ivfRecallSweep): the
    * IVF index's recall@10 vs nProbe ∈ {1, 2, 4, 8} against ONE
    * shared brute-force truth over a 40-query sample — the curve a
    * user reads before trusting approximate dedup (nProbe = nCells =
    * 8 probes every cell, pinning recall_micro = 1000000 as the
    * closed-loop sanity row). The oracle replays the whole grid:
    * shared centroid/assignment CTEs, one probe CTE per grid point,
    * hits by LEFT JOIN against the brute truth, integral micro
    * recalls. */
  private def q308(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfRecallSweep(emb, emb.where(col("vec_id") < 40),
      k = 10, nCells = 8, nProbes = Seq(1, 2, 4, 8))
  }

  private val q308Sql: String = {
    def dot(x: String, y: String) =
      s"""list_reduce(list_transform(range(1, len($x) + 1),
         |      i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)), (p, q) -> p + q)""".stripMargin
    val probes = Seq(1, 2, 4, 8)
    val perNp = probes.map { np =>
      s"""ann$np AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT p.query_id, b.vec_id AS cand_id,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY round($cosSqlAB, 6) DESC, b.vec_id ASC) AS rn
         |    FROM (SELECT vec_id AS query_id, cell FROM probe
         |          WHERE rn <= $np) p
         |    JOIN e a ON a.vec_id = p.query_id
         |    JOIN assign g ON g.cell = p.cell
         |    JOIN e b ON b.vec_id = g.vec_id AND b.vec_id != p.query_id)
         |  WHERE rn <= 10),
         |aud$np AS (
         |  SELECT t.query_id, count(*) AS n_truth,
         |    sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS n_hit
         |  FROM truth t LEFT JOIN ann$np a
         |    ON a.query_id = t.query_id AND a.cand_id = t.cand_id
         |  GROUP BY 1),
         |row$np AS (
         |  SELECT CAST($np AS BIGINT) AS n_probe,
         |    CAST(count(*) AS BIGINT) AS n_queries,
         |    CAST(sum(n_truth) AS BIGINT) AS n_truth,
         |    CAST(sum(n_hit) AS BIGINT) AS n_hit,
         |    CAST(sum(n_hit) * 1000000 // sum(n_truth) AS BIGINT)
         |      AS recall_micro,
         |    CAST(min(n_hit * 1000000 // n_truth) AS BIGINT)
         |      AS min_recall_micro
         |  FROM aud$np)""".stripMargin
    }.mkString(",\n")
    val unioned = probes.map(np => s"SELECT * FROM row$np")
      .mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |cent AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i,
       |         embedding AS cv
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        ORDER BY vec_id LIMIT 8)),
       |vc AS (
       |  SELECT e.vec_id, cent.i,
       |    ${dot("e.v", "cent.cv")}
       |      / (sqrt(${dot("e.v", "e.v")})
       |         * sqrt(${dot("cent.cv", "cent.cv")})) AS s
       |  FROM e CROSS JOIN cent),
       |assign AS (
       |  SELECT vec_id, i AS cell FROM (
       |    SELECT vec_id, i,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY s DESC, i ASC) AS rn
       |    FROM vc) WHERE rn = 1),
       |probe AS (
       |  SELECT vec_id, i AS cell,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, i DESC) AS rn
       |  FROM vc WHERE vec_id < 40),
       |truth AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY round($cosSqlAB, 6) DESC, b.vec_id ASC) AS rank
       |    FROM e a JOIN e b ON b.vec_id != a.vec_id
       |    WHERE a.vec_id < 40)
       |  WHERE rank <= 10),
       |$perNp
       |$unioned""".stripMargin
  }

  /** Cross-document SENTENCE dedup — the line-dedup recipe (q55) at
    * the granularity curation actually wants once a sentence
    * segmenter exists (TextAnalysis.dedupLines ∘ uax29_sentences):
    * every document is wrapped in the same subscribe/footer
    * boilerplate sentences, which must survive only in the smallest
    * doc_id; the md5 of each doc's surviving text pins the whole
    * segment-hash-keep-first pipeline. */
  private def q309(s: SparkSession, dir: String): DataFrame = {
    val page = concat(lit("Subscribe to our newsletter now! "),
      col("text"), lit(". Visit us daily. All rights reserved."))
    val sents = t(s, dir, "documents").select(col("doc_id"),
      uax29_sentences(page).as("sents"))
    TextAnalysis.dedupLines(sents, "doc_id", "sents")
      .select(col("doc_id"), col("n_kept"),
        md5(col("dedup_text")).as("dedup_hash"))
  }

  private val q309Sql =
    s"""WITH d AS (
       |  SELECT doc_id, 'Subscribe to our newsletter now! ' || text
       |    || '. Visit us daily. All rights reserved.' AS page
       |  FROM documents),
       |sp AS (
       |  SELECT doc_id, list_filter(list_transform(
       |    regexp_extract_all(page,
       |      '[^.!?]+[.!?]+["'')\\]”’»]*|[^.!?]+$$'),
       |    x -> trim(x, ' ' || chr(9) || chr(10) || chr(13))),
       |    x -> x != '') AS sents
       |  FROM d),
       |lines AS (
       |  SELECT doc_id, u.pos AS pos, u.line FROM (
       |    SELECT doc_id, list_transform(range(0, len(sents)),
       |      i -> struct_pack(pos := i, line := sents[i + 1])) AS ls
       |    FROM sp), unnest(ls) AS t(u)),
       |h AS (SELECT doc_id, pos, line, ${md5LongSql("line")} AS h
       |      FROM lines),
       |kept AS (
       |  SELECT doc_id, pos, line FROM (
       |    SELECT doc_id, pos, line,
       |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
       |    FROM h) WHERE rn = 1),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    string_agg(line, chr(10) ORDER BY pos) AS dedup_text
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.n_kept, 0) AS n_kept,
       |  md5(coalesce(a.dedup_text, '')) AS dedup_hash
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id"""
      .stripMargin

  /** LSH recall tuning readout (Similarity.lshRecallSweep): recall@10
    * vs numPlanes ∈ {2, 4, 6} against the shared brute truth — the
    * falling curve (more cutting planes → smaller sign buckets →
    * lower recall) that complements q308's rising IVF curve. Plane
    * sets are prefix-stable from one seeded stream, so the oracle
    * embeds the 6-plane matrix once and buckets each grid point by a
    * sign-bit prefix. */
  private def q310(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.lshRecallSweep(emb, emb.where(col("vec_id") < 40),
      k = 10, dim = 64, planeGrid = Seq(2, 4, 6))
  }

  private val q310Sql: String = {
    val planes = operators.Similarity.hyperplanes(6, 64)
    val planesLit = planes
      .map(_.map(x => f"$x%.17e").mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    def planeDot(pi: Int) =
      s"""list_reduce(list_transform(range(1, len(v) + 1),
         |      i -> CAST(v[i] AS DOUBLE) * p[$pi][i]), (x, y) -> x + y)"""
        .stripMargin
    def bucket(np: Int) = (0 until np)
      .map(pi =>
        s"(CASE WHEN ${planeDot(pi + 1)} > 0 THEN ${1L << pi} ELSE 0 END)")
      .mkString("\n     + ")
    val grid = Seq(2, 4, 6)
    val perNp = grid.map { np =>
      s"""bk$np AS (
         |  SELECT vec_id, v, ${bucket(np)} AS bucket
         |  FROM e CROSS JOIN pl),
         |ann$np AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY round($cosSqlAB, 6) DESC, b.vec_id ASC) AS rn
         |    FROM bk$np a JOIN bk$np b
         |      ON b.bucket = a.bucket AND b.vec_id != a.vec_id
         |    WHERE a.vec_id < 40)
         |  WHERE rn <= 10),
         |aud$np AS (
         |  SELECT t.query_id, count(*) AS n_truth,
         |    sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS n_hit
         |  FROM truth t LEFT JOIN ann$np a
         |    ON a.query_id = t.query_id AND a.cand_id = t.cand_id
         |  GROUP BY 1),
         |row$np AS (
         |  SELECT CAST($np AS BIGINT) AS n_planes,
         |    CAST(count(*) AS BIGINT) AS n_queries,
         |    CAST(sum(n_truth) AS BIGINT) AS n_truth,
         |    CAST(sum(n_hit) AS BIGINT) AS n_hit,
         |    CAST(sum(n_hit) * 1000000 // sum(n_truth) AS BIGINT)
         |      AS recall_micro,
         |    CAST(min(n_hit * 1000000 // n_truth) AS BIGINT)
         |      AS min_recall_micro
         |  FROM aud$np)""".stripMargin
    }.mkString(",\n")
    val unioned = grid.map(np => s"SELECT * FROM row$np")
      .mkString("\n  UNION ALL ")
    s"""WITH pl AS (SELECT $planesLit AS p),
       |e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |truth AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY round($cosSqlAB, 6) DESC, b.vec_id ASC) AS rank
       |    FROM e a JOIN e b ON b.vec_id != a.vec_id
       |    WHERE a.vec_id < 40)
       |  WHERE rank <= 10),
       |$perNp
       |$unioned""".stripMargin
  }

  /** MinHash near-dup pairs under the UAX-29 tokenizer
    * (Dedup.minhashLshPairs(tokens = uax29_tokens)) — the segmenter
    * UPGRADING the dedup family: every 25th document becomes a shared
    * space-free CJK passage plus a per-doc tail, a near-dup cluster
    * the default whitespace path is structurally BLIND to (one token
    * → zero 3-shingles → no candidates), while char-unigram tokens
    * see high-Jaccard shingle sets. The oracle replays segmentation
    * (the q305 two-step RE2 program) + the full q19 minhash/banding/
    * verification machinery over it. */
  private def q311(s: SparkSession, dir: String): DataFrame = {
    val cjk = "深度学习模型需要大量高质量的训练数据来学习语言结构和语义信息"
    val doc = when(pmod(col("doc_id"), lit(25L)) === 0L,
      concat(lit(cjk), lit("編號"),
        pmod(col("doc_id"), lit(3L)).cast("string"), lit("号")))
      .otherwise(col("text"))
    Dedup.minhashLshPairs(
        t(s, dir, "documents").select(col("doc_id"), doc.as("text")),
        "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2,
        threshold = 0.5, tokens = uax29_tokens)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  private val q311Sql: String = {
    val perms = minhashPerms(MinhashPermCount).zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}, ${b})" }.mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, CASE WHEN doc_id % 25 = 0 THEN
       |    '深度学习模型需要大量高质量的训练数据来学习语言结构和语义信息'
       |      || '編號' || CAST(doc_id % 3 AS VARCHAR) || '号'
       |    ELSE text END AS text
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, regexp_extract_all(
       |    regexp_replace(text,
       |      '([\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Thai}])', ' \\1 ',
       |      'g'),
       |    '[\\p{L}\\p{Nd}\\p{Mn}\\p{Mc}_]+(?:[''’][\\p{L}\\p{Nd}\\p{Mn}\\p{Mc}_]+)*')
       |    AS tk
       |  FROM d),
       |sh AS (
       |  SELECT doc_id, $shinglesSql AS shingles FROM toks),
       |perms(perm, pa, pb) AS (VALUES $perms),
       |sigs AS (
       |  SELECT sh.doc_id, p.perm,
       |    list_min(list_transform(sh.shingles,
       |      x -> (p.pa * (${md5LongSql("x")} % 2147483647) + p.pb) % 2147483647)) AS sig
       |  FROM sh CROSS JOIN perms p
       |  WHERE len(sh.shingles) > 0),
       |hsets AS (
       |  SELECT doc_id, list_transform(shingles, x -> ${md5LongSql("x")}) AS hs
       |  FROM sh WHERE len(shingles) > 0),
       |bands AS (
       |  SELECT doc_id, perm // 2 AS band,
       |    string_agg(sig, ',' ORDER BY perm) AS band_sig
       |  FROM sigs GROUP BY doc_id, perm // 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_sig = b.band_sig
       |      AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
       |      / len(list_distinct(list_concat(sa.hs, sb.hs))) AS jaccard
       |  FROM cand c
       |  JOIN hsets sa ON sa.doc_id = c.id_a
       |  JOIN hsets sb ON sb.doc_id = c.id_b
       |  WHERE CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
       |        / len(list_distinct(list_concat(sa.hs, sb.hs))) >= 0.5)
       |SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM pairs"""
      .stripMargin
  }

  /** Matryoshka dimension-budget recall sweep
    * (Similarity.dimRecallSweep): exact search over the first
    * d ∈ {8, 16, 32, 64} dimensions vs the full 64-dim truth — the
    * index-size-vs-recall curve read before truncating stored
    * embeddings; the full-dim row pins recall exactly 1.0. The oracle
    * replays each grid point's brute search over v[1:d]. */
  private def q312(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.dimRecallSweep(emb, emb.where(col("vec_id") < 40),
      k = 10, dims = Seq(8, 16, 32, 64))
  }

  private val q312Sql: String = {
    val grid = Seq(8, 16, 32, 64)
    def brute(src: String, out: String, rankCol: String) =
      s"""$out AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY round($cosSqlAB, 6) DESC, b.vec_id ASC)
         |        AS $rankCol
         |    FROM $src a JOIN $src b ON b.vec_id != a.vec_id
         |    WHERE a.vec_id < 40)
         |  WHERE $rankCol <= 10)""".stripMargin
    val perDim = grid.map { d =>
      s"""e$d AS (SELECT vec_id, v[1:$d] AS v FROM e),
         |${brute(s"e$d", s"ann$d", "rn")},
         |aud$d AS (
         |  SELECT t.query_id, count(*) AS n_truth,
         |    sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS n_hit
         |  FROM truth t LEFT JOIN ann$d a
         |    ON a.query_id = t.query_id AND a.cand_id = t.cand_id
         |  GROUP BY 1),
         |row$d AS (
         |  SELECT CAST($d AS BIGINT) AS dim,
         |    CAST(count(*) AS BIGINT) AS n_queries,
         |    CAST(sum(n_truth) AS BIGINT) AS n_truth,
         |    CAST(sum(n_hit) AS BIGINT) AS n_hit,
         |    CAST(sum(n_hit) * 1000000 // sum(n_truth) AS BIGINT)
         |      AS recall_micro,
         |    CAST(min(n_hit * 1000000 // n_truth) AS BIGINT)
         |      AS min_recall_micro
         |  FROM aud$d)""".stripMargin
    }.mkString(",\n")
    val unioned = grid.map(d => s"SELECT * FROM row$d")
      .mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |${brute("e", "truth", "rank")},
       |$perDim
       |$unioned""".stripMargin
  }

  /** Margin-based bitext mining (Similarity.marginBitextMine): the
    * even/odd vec_id halves of the embeddings table stand in for two
    * languages' sentence embeddings; mutual rank-1 pairs score by the
    * Artetxe–Schwenk margin over their own k=4 neighborhoods and mine
    * at margin ≥ 1.10. The oracle replays both top-k directions, the
    * neighborhood sums and the cross-multiplied integral margin. */
  private def q313(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.marginBitextMine(
      emb.where(pmod(col("vec_id"), lit(2L)) === 0L),
      emb.where(pmod(col("vec_id"), lit(2L)) === 1L),
      k = 4, thresholdMicro = 1100000L)
  }

  /** Brute-force top-k (k=4) of `qs` queries over the `cs` corpus as
    * a CTE named `out` — shared by q313 and the q333 composition. */
  private def bruteTopk4Sql(qs: String, cs: String, out: String): String =
    s"""$out AS (
       |  SELECT query_id, cand_id, c, rn FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
       |      CAST(round(round($cosSqlAB, 6) * 1000000.0) AS BIGINT)
       |        AS c,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY round($cosSqlAB, 6) DESC, b.vec_id ASC) AS rn
       |    FROM $qs a JOIN $cs b ON b.vec_id != a.vec_id)
       |  WHERE rn <= 4)""".stripMargin

  /** The Artetxe–Schwenk margin tail over ranked CTEs `xy`/`yx` — the
    * CTE chain ending in `m(x_id, y_id, cos_micro, margin_micro)`,
    * shared by q313 and q333. */
  private val marginTailSql: String =
    """sx AS (SELECT query_id AS x_id, CAST(sum(c) AS BIGINT) AS sx,
      |         CAST(count(*) AS BIGINT) AS nx FROM xy GROUP BY 1),
      |sy AS (SELECT query_id AS y_id, CAST(sum(c) AS BIGINT) AS sy,
      |         CAST(count(*) AS BIGINT) AS ny FROM yx GROUP BY 1),
      |best AS (
      |  SELECT a.query_id AS x_id, a.cand_id AS y_id, a.c
      |  FROM (SELECT * FROM xy WHERE rn = 1) a
      |  JOIN (SELECT * FROM yx WHERE rn = 1) b
      |    ON b.query_id = a.cand_id AND b.cand_id = a.query_id),
      |m AS (
      |  SELECT best.x_id, best.y_id, best.c AS cos_micro,
      |    CASE WHEN (sx.sx * sy.ny + sy.sy * sx.nx) > 0
      |           AND best.c >= 0
      |      THEN (2 * best.c * sx.nx * sy.ny * 1000000)
      |             // (sx.sx * sy.ny + sy.sy * sx.nx) END
      |      AS margin_micro
      |  FROM best JOIN sx USING (x_id) JOIN sy USING (y_id))""".stripMargin

  private val q313Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |xs AS (SELECT * FROM e WHERE vec_id % 2 = 0),
       |ys AS (SELECT * FROM e WHERE vec_id % 2 = 1),
       |${bruteTopk4Sql("xs", "ys", "xy")},
       |${bruteTopk4Sql("ys", "xs", "yx")},
       |$marginTailSql
       |SELECT x_id, y_id, cos_micro, margin_micro,
       |  coalesce(margin_micro >= 1100000, false) AS mined
       |FROM m""".stripMargin

  /** t-closeness profile (Stats.tClosenessProfile): the q235
    * equivalence classes (event_type × day-of-week) audited for how
    * far each class's value-band DISTRIBUTION drifts from the global
    * one — total variation in exact cross-multiplied integers, micro-
    * floored once, t = 0.03. Completes the release-privacy ladder
    * (k-anonymity q235 → l-diversity in-profile → t-closeness). */
  private def q314(s: SparkSession, dir: String): DataFrame =
    Stats.tClosenessProfile(
      t(s, dir, "events")
        .select(col("event_type"),
          expr("pmod(ts div 86400000000000 + 4, 7)").as("dow"),
          cents(col("value")).as("__c"))
        .select(col("event_type"), col("dow"),
          expr("__c div 10000").as("band")),
      Seq("event_type", "dow"), "band", tMicro = 30000L)

  private val q314Sql =
    """WITH cells AS (
      |  SELECT event_type,
      |    (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
      |    CAST(round(value*100) AS BIGINT) // 10000 AS v,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2, 3),
      |gl AS (SELECT v, CAST(sum(c) AS BIGINT) AS g
      |         FROM cells GROUP BY 1),
      |nn AS (SELECT CAST(sum(g) AS BIGINT) AS tot FROM gl),
      |sizes AS (SELECT event_type, dow, CAST(sum(c) AS BIGINT) AS n
      |          FROM cells GROUP BY 1, 2),
      |pc AS (
      |  SELECT cells.event_type, cells.dow, max(sizes.n) AS n,
      |    max(nn.tot) AS tot,
      |    sum(abs(CAST(cells.c AS HUGEINT) * nn.tot
      |          - CAST(sizes.n AS HUGEINT) * gl.g)) AS nump,
      |    CAST(sum(gl.g) AS HUGEINT) AS gp
      |  FROM cells
      |  JOIN sizes ON sizes.event_type = cells.event_type
      |    AND sizes.dow = cells.dow
      |  JOIN gl ON gl.v = cells.v
      |  CROSS JOIN nn
      |  GROUP BY 1, 2),
      |tv AS (
      |  SELECT n,
      |    (1000000 * (nump + CAST(n AS HUGEINT) * (tot - gp)))
      |      // (2 * CAST(n AS HUGEINT) * tot) AS tvm
      |  FROM pc)
      |SELECT CAST(sum(n) AS BIGINT) AS n_rows,
      |  CAST(count(*) AS BIGINT) AS n_classes,
      |  (SELECT CAST(count(*) AS BIGINT) FROM gl) AS n_values,
      |  CAST(max(tvm) AS BIGINT) AS max_tv_micro,
      |  CAST(sum(CASE WHEN tvm > 30000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS classes_above_t,
      |  CAST(sum(CASE WHEN tvm > 30000 THEN n ELSE 0 END) AS BIGINT)
      |    AS rows_above_t
      |FROM tv""".stripMargin

  /** Tokenizer fertility audit (TextAnalysis.tokenFertility): per
    * source, whitespace vs UAX-29 token budgets over mixed-script
    * pages — every third document gains a space-free CJK passage, so
    * its source's fertility_micro rises far above 10⁶ (the whitespace
    * undercount the segmenter corrects); exact integral micro
    * ratios. */
  private def q315(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenFertility(
      t(s, dir, "documents").select(col("source"),
        when(pmod(col("doc_id"), lit(3L)) === 0L,
          concat(col("text"),
            lit(" 訓練資料品質檢查流程需要可重現的分詞統計")))
          .otherwise(col("text")).as("text")),
      "source", "text")

  private val q315Sql =
    s"""WITH d AS (
       |  SELECT source, CASE WHEN doc_id % 3 = 0 THEN
       |    text || ' 訓練資料品質檢查流程需要可重現的分詞統計'
       |    ELSE text END AS text
       |  FROM documents),
       |tk AS (
       |  SELECT source,
       |    CAST(len(list_filter(regexp_split_to_array(lower(text),
       |      '\\s+'), x -> x != '')) AS BIGINT) AS w,
       |    regexp_extract_all(
       |      regexp_replace(text,
       |        '([\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Thai}])',
       |        ' \\1 ', 'g'),
       |      '[\\p{L}\\p{Nd}\\p{Mn}\\p{Mc}_]+(?:[''’][\\p{L}\\p{Nd}\\p{Mn}\\p{Mc}_]+)*')
       |      AS ux
       |  FROM d),
       |g AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(w) AS BIGINT) AS ws_tokens,
       |    CAST(sum(len(ux)) AS BIGINT) AS uax_tokens,
       |    CAST(sum(len(array_to_string(ux, ''))) AS BIGINT)
       |      AS token_chars
       |  FROM tk GROUP BY 1)
       |SELECT source, n_docs, ws_tokens, uax_tokens, token_chars,
       |  CASE WHEN ws_tokens > 0
       |    THEN uax_tokens * 1000000 // ws_tokens END AS fertility_micro,
       |  CASE WHEN uax_tokens > 0
       |    THEN token_chars * 1000000 // uax_tokens END
       |    AS chars_per_tok_micro
       |FROM g""".stripMargin

  /** Unicode NFC normalization audit (TextAnalysis.nfcAudit): every
    * second document gets a DECOMPOSED suffix (e + combining acute,
    * A + combining ring), so exact byte hashing would miss its
    * precomposed twin; the audit flags is_nfc = false, shows the
    * codepoint count shrink, and emits the canonical md5 both
    * engines' conformant normalizers agree on byte-for-byte. */
  private def q316(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.nfcAudit(
      t(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(2L)) === 0L,
          concat(col("text"), lit(" café Ångström")))
          .otherwise(concat(col("text"), lit(" café Ångström")))
          .as("text")),
      "doc_id", "text")

  private val q316Sql =
    """WITH d AS (
      |  SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN
      |      text || ' cafe' || chr(769) || ' A' || chr(778)
      |        || 'ngstro' || chr(776) || 'm'
      |    ELSE text || ' café Ångström' END AS text
      |  FROM documents)
      |SELECT doc_id, text = nfc_normalize(text) AS is_nfc,
      |  CAST(len(text) AS BIGINT) AS len_raw,
      |  CAST(len(nfc_normalize(text)) AS BIGINT) AS len_nfc,
      |  md5(nfc_normalize(text)) AS nfc_hash
      |FROM d""".stripMargin

  /** Ordered t-closeness via EMD (Stats.tClosenessOrdered): the q314
    * classes re-audited under the ORDER of the value bands — a class
    * shifted one band scores low, a class at the extreme scores high,
    * a distinction total variation cannot make; exact decimal
    * cumulative mass, one floor per class, t = 0.01. */
  private def q317(s: SparkSession, dir: String): DataFrame =
    Stats.tClosenessOrdered(
      t(s, dir, "events")
        .select(col("event_type"),
          expr("pmod(ts div 86400000000000 + 4, 7)").as("dow"),
          cents(col("value")).as("__c"))
        .select(col("event_type"), col("dow"),
          expr("__c div 10000").as("band")),
      Seq("event_type", "dow"), "band", tMicro = 10000L)

  private val q317Sql =
    """WITH cells AS (
      |  SELECT event_type,
      |    (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
      |    CAST(round(value*100) AS BIGINT) // 10000 AS v,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2, 3),
      |gl AS (SELECT v, CAST(sum(c) AS BIGINT) AS g
      |       FROM cells GROUP BY 1),
      |nn AS (SELECT CAST(sum(g) AS BIGINT) AS tot,
      |              CAST(count(*) AS BIGINT) AS m FROM gl),
      |sizes AS (SELECT event_type, dow, CAST(sum(c) AS BIGINT) AS n
      |          FROM cells GROUP BY 1, 2),
      |grid AS (
      |  SELECT s.event_type, s.dow, s.n, nn.tot, nn.m, gl.v,
      |    CAST(coalesce(c.c, 0) AS HUGEINT) * nn.tot
      |      - CAST(s.n AS HUGEINT) * gl.g AS d
      |  FROM sizes s CROSS JOIN gl
      |  LEFT JOIN cells c ON c.event_type = s.event_type
      |    AND c.dow = s.dow AND c.v = gl.v
      |  CROSS JOIN nn),
      |cum AS (
      |  SELECT event_type, dow, n, tot, m,
      |    sum(d) OVER (PARTITION BY event_type, dow ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cu
      |  FROM grid),
      |pc AS (
      |  SELECT event_type, dow, max(n) AS n,
      |    (1000000 * sum(abs(cu)))
      |      // (CAST(max(n) AS HUGEINT) * max(tot) * (max(m) - 1))
      |      AS emd
      |  FROM cum GROUP BY 1, 2)
      |SELECT CAST(sum(n) AS BIGINT) AS n_rows,
      |  CAST(count(*) AS BIGINT) AS n_classes,
      |  (SELECT CAST(count(*) AS BIGINT) FROM gl) AS n_values,
      |  CAST(max(emd) AS BIGINT) AS max_emd_micro,
      |  CAST(sum(CASE WHEN emd > 10000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS classes_above_t,
      |  CAST(sum(CASE WHEN emd > 10000 THEN n ELSE 0 END) AS BIGINT)
      |    AS rows_above_t
      |FROM pc""".stripMargin

  /** Code-quality profile (TextAnalysis.codeQualityProfile):
    * documents reshaped into code-ish files (every 5th word breaks a
    * line), every 7th file headed by a "DO NOT EDIT" marker, every
    * 11th given a 1200-char minified line — the StarCoder line-shape
    * filters must flag exactly those; exact integral micro ratios. */
  private def q318(s: SparkSession, dir: String): DataFrame = {
    val asCode = regexp_replace(col("text"),
      "(\\w+ \\w+ \\w+ \\w+ \\w+) ", "$1\n")
    val file = concat(
      when(pmod(col("doc_id"), lit(7L)) === 0L,
        lit("// AUTO-GENERATED FILE - DO NOT EDIT\n")).otherwise(lit("")),
      lit("# header comment\n"), asCode,
      when(pmod(col("doc_id"), lit(11L)) === 0L,
        concat(lit("\n"), repeat(lit("x"), 1200))).otherwise(lit("")))
    TextAnalysis.codeQualityProfile(
      t(s, dir, "documents").select(col("doc_id"), file.as("text")),
      "doc_id", "text")
  }

  private val q318Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 7 = 0
      |       THEN '// AUTO-GENERATED FILE - DO NOT EDIT' || chr(10)
      |       ELSE '' END)
      |    || '# header comment' || chr(10)
      |    || regexp_replace(text, '(\w+ \w+ \w+ \w+ \w+) ',
      |         '\1' || chr(10), 'g')
      |    || (CASE WHEN doc_id % 11 = 0
      |       THEN chr(10) || repeat('x', 1200) ELSE '' END) AS text
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, text, string_split(text, chr(10)) AS lines
      |  FROM d),
      |c AS (
      |  SELECT doc_id,
      |    CAST(len(lines) AS BIGINT) AS n_lines,
      |    CAST(coalesce(list_max(list_transform(lines, l -> len(l))),
      |      0) AS BIGINT) AS max_line_len,
      |    CAST((len(text) - (len(lines) - 1)) * 1000000
      |      // len(lines) AS BIGINT) AS avg_line_len_micro,
      |    CAST(len(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
      |      * 1000000 // greatest(len(text), 1) AS BIGINT)
      |      AS alnum_micro,
      |    CAST(len(list_filter(lines, l -> regexp_matches(ltrim(l, ' '),
      |      '^(#|//|\*|/\*|--)'))) AS BIGINT) AS comment_lines,
      |    regexp_matches(text,
      |      '(?i)(auto-generated|autogenerated|do not edit)') AS autogen
      |  FROM p)
      |SELECT doc_id, n_lines, max_line_len, avg_line_len_micro,
      |  alnum_micro, comment_lines, autogen,
      |  max_line_len <= 1000 AND avg_line_len_micro <= 100000000
      |    AND alnum_micro >= 250000 AND NOT autogen AS keep
      |FROM c""".stripMargin

  /** Dialogue-format audit (Validate.dialogueFormatAudit): documents
    * become chat transcripts — optional system turn, then user/
    * assistant exchanges — with planted violations (every 7th doc
    * doubles a user turn, every 11th ends on user, every 13th blanks
    * an assistant content, every 17th NULLs one — NULL content must
    * count as empty, not slip through a NULL filter predicate); the
    * audit must flag exactly those and validate the rest. */
  private def q319(s: SparkSession, dir: String): DataFrame = {
    def turn(role: String, content: Column) =
      struct(lit(role).as("role"), content.as("content"))
    val sys = turn("system", lit("You are a helpful assistant."))
    val u1 = turn("user", substring(col("text"), 1, 40))
    val a1 = turn("assistant",
      when(pmod(col("doc_id"), lit(13L)) === 0L, lit("  "))
        .when(pmod(col("doc_id"), lit(17L)) === 0L,
          lit(null).cast("string"))
        .otherwise(col("source")))
    val u2 = turn("user", substring(col("text"), 41, 40))
    val a2 = turn("assistant", lit("done"))
    val base = when(pmod(col("doc_id"), lit(7L)) === 0L,
      array(sys, u1, u1, a1, u2, a2))
      .when(pmod(col("doc_id"), lit(11L)) === 0L,
        array(sys, u1, a1, u2))
      .when(pmod(col("doc_id"), lit(2L)) === 0L,
        array(sys, u1, a1, u2, a2))
      .otherwise(array(u1, a1))
    Validate.dialogueFormatAudit(
      t(s, dir, "documents").select(col("doc_id"), base.as("turns")),
      "doc_id", "turns")
  }

  private val q319Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN
      |      [struct_pack(role := 'system',
      |         content := 'You are a helpful assistant.'),
      |       struct_pack(role := 'user', content := text[1:40]),
      |       struct_pack(role := 'user', content := text[1:40]),
      |       struct_pack(role := 'assistant', content :=
      |         CASE WHEN doc_id % 13 = 0 THEN '  '
           WHEN doc_id % 17 = 0 THEN NULL ELSE source END),
      |       struct_pack(role := 'user', content := text[41:80]),
      |       struct_pack(role := 'assistant', content := 'done')]
      |    WHEN doc_id % 11 = 0 THEN
      |      [struct_pack(role := 'system',
      |         content := 'You are a helpful assistant.'),
      |       struct_pack(role := 'user', content := text[1:40]),
      |       struct_pack(role := 'assistant', content :=
      |         CASE WHEN doc_id % 13 = 0 THEN '  '
           WHEN doc_id % 17 = 0 THEN NULL ELSE source END),
      |       struct_pack(role := 'user', content := text[41:80])]
      |    WHEN doc_id % 2 = 0 THEN
      |      [struct_pack(role := 'system',
      |         content := 'You are a helpful assistant.'),
      |       struct_pack(role := 'user', content := text[1:40]),
      |       struct_pack(role := 'assistant', content :=
      |         CASE WHEN doc_id % 13 = 0 THEN '  '
           WHEN doc_id % 17 = 0 THEN NULL ELSE source END),
      |       struct_pack(role := 'user', content := text[41:80]),
      |       struct_pack(role := 'assistant', content := 'done')]
      |    ELSE
      |      [struct_pack(role := 'user', content := text[1:40]),
      |       struct_pack(role := 'assistant', content :=
      |         CASE WHEN doc_id % 13 = 0 THEN '  '
           WHEN doc_id % 17 = 0 THEN NULL ELSE source END)]
      |    END AS turns
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, turns,
      |    list_transform(turns, t -> t.role) AS roles,
      |    CAST(len(turns) AS BIGINT) AS n
      |  FROM d),
      |f AS (
      |  SELECT doc_id, n,
      |    coalesce(roles[1] = 'system', false) AS has_system,
      |    coalesce(roles[1] IN ('system', 'user'), false) AS head_ok,
      |    CASE WHEN n >= (CASE WHEN coalesce(roles[1] = 'system',
      |        false) THEN 2 ELSE 1 END)
      |      THEN coalesce(list_aggregate(list_transform(
      |        range(0, CAST(n AS INTEGER) - (CASE WHEN roles[1] =
      |          'system' THEN 2 ELSE 1 END) + 1),
      |        i -> roles[(CASE WHEN roles[1] = 'system' THEN 2
      |          ELSE 1 END) + i] = (CASE WHEN i % 2 = 0 THEN 'user'
      |          ELSE 'assistant' END)), 'bool_and'), false)
      |      ELSE false END AS alternates,
      |    coalesce(roles[-1] = 'assistant', false) AS ends_assistant,
      |    CAST(len(list_filter(turns,
      |      t -> coalesce(len(trim(t.content, ' ')), 0) = 0)) AS BIGINT)
      |      AS n_empty
      |  FROM r)
      |SELECT doc_id, n AS n_turns, has_system, head_ok, alternates,
      |  ends_assistant, n_empty,
      |  head_ok AND alternates AND ends_assistant AND n_empty = 0
      |    AND (n - (CASE WHEN has_system THEN 2 ELSE 1 END) + 1) >= 2
      |    AS valid
      |FROM f""".stripMargin

  /** FIM transform (TextAnalysis.fimTransform): every document splits
    * prefix/middle/suffix at cut points derived from its OWN md5 —
    * no RNG, so both engines derive identical cuts — and the md5 of
    * the PSM serialization pins the whole transform. */
  private def q320(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fimTransform(t(s, dir, "documents"), "doc_id", "text")

  private val q320Sql =
    s"""WITH d AS (SELECT doc_id, text, CAST(len(text) AS BIGINT) AS l
       |           FROM documents),
       |c AS (
       |  SELECT doc_id, text, l,
       |    ${md5LongSql("text")} % (l + 1) AS c1
       |  FROM d),
       |c2t AS (
       |  SELECT doc_id, text, l, c1,
       |    c1 + (${md5LongSql("text || '#fim2'")} % (l - c1 + 1)) AS c2
       |  FROM c),
       |p AS (
       |  SELECT doc_id, l,
       |    text[1:CAST(c1 AS INTEGER)] AS pre,
       |    text[CAST(c1 + 1 AS INTEGER):CAST(c2 AS INTEGER)] AS mid,
       |    text[CAST(c2 + 1 AS INTEGER):CAST(l AS INTEGER)] AS suf
       |  FROM c2t)
       |SELECT doc_id, l AS len,
       |  CAST(len(pre) AS BIGINT) AS prefix_len,
       |  CAST(len(mid) AS BIGINT) AS middle_len,
       |  CAST(len(suf) AS BIGINT) AS suffix_len,
       |  md5('<PRE>' || pre || '<SUF>' || suf || '<MID>' || mid)
       |    AS fim_hash
       |FROM p""".stripMargin

  /** Loss-mask spans (Validate.lossMaskSpans): the q319 transcripts'
    * assistant turns mapped to [start, end) whitespace-token offsets
    * in the concatenated conversation — the spans SFT loss masking
    * needs; cumulative offsets replayed as prefix sums in the
    * oracle. */
  private def q321(s: SparkSession, dir: String): DataFrame = {
    def turn(role: String, content: Column) =
      struct(lit(role).as("role"), content.as("content"))
    val sys = turn("system", lit("You are a helpful assistant."))
    val u1 = turn("user", substring(col("text"), 1, 40))
    val a1 = turn("assistant", substring(col("text"), 41, 60))
    val u2 = turn("user", substring(col("text"), 101, 40))
    val a2 = turn("assistant", col("source"))
    val base = when(pmod(col("doc_id"), lit(3L)) === 0L,
      array(sys, u1, a1, u2, a2)).otherwise(array(u1, a1))
    Validate.lossMaskSpans(
      t(s, dir, "documents").select(col("doc_id"), base.as("turns")),
      "doc_id", "turns")
  }

  private val q321Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN
      |      [struct_pack(role := 'system',
      |         content := 'You are a helpful assistant.'),
      |       struct_pack(role := 'user', content := text[1:40]),
      |       struct_pack(role := 'assistant', content := text[41:100]),
      |       struct_pack(role := 'user', content := text[101:140]),
      |       struct_pack(role := 'assistant', content := source)]
      |    ELSE
      |      [struct_pack(role := 'user', content := text[1:40]),
      |       struct_pack(role := 'assistant', content := text[41:100])]
      |    END AS turns
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, turns,
      |    list_transform(turns, t -> CAST(len(list_filter(
      |      regexp_split_to_array(lower(t.content), '\s+'),
      |      x -> x != '')) AS BIGINT)) AS toks
      |  FROM d),
      |u AS (
      |  SELECT doc_id, uu.idx, uu.role, uu.s, uu.e FROM (
      |    SELECT doc_id, [struct_pack(idx := i - 1,
      |        role := turns[i].role,
      |        s := CAST(coalesce(list_sum(toks[1:i-1]), 0) AS BIGINT),
      |        e := CAST(coalesce(list_sum(toks[1:i]), 0) AS BIGINT))
      |      for i in range(1, len(turns) + 1)] AS ls
      |    FROM r), unnest(ls) AS t(uu))
      |SELECT doc_id, CAST(idx AS BIGINT) AS turn_idx, s AS start_tok,
      |  e AS end_tok
      |FROM u WHERE role = 'assistant'""".stripMargin

  /** Composability proof #3 — the multilingual curation chain
    * (NFC normalize → UAX-29 sentence dedup → UAX-29 token count →
    * FFD pack per lang): pages carry a shared boilerplate sentence
    * whose "café" ships DECOMPOSED on even doc_ids and precomposed on
    * odd — without the NFC step the sentence dedup would see two
    * clusters; with it, exactly one survivor — plus a CJK passage on
    * every third doc that only the segmenter counts. The oracle
    * replays the ENTIRE chain (utf8proc NFC, RE2 segmentation, keep-
    * first dedup, char-unigram token counts, the recursive FFD fold)
    * bit-for-bit. */
  private def q322(s: SparkSession, dir: String): DataFrame = {
    val cafeDecomp = "café"
    val cafeNfc = "café"
    val page = concat(
      lit("Visit the "),
      when(pmod(col("doc_id"), lit(2L)) === 0L, lit(cafeDecomp))
        .otherwise(lit(cafeNfc)),
      lit(" lounge now! "), col("text"),
      when(pmod(col("doc_id"), lit(3L)) === 0L,
        lit(" 訓練資料品質檢查流程")).otherwise(lit("")),
      lit(". All rights reserved."))
    val sents = t(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        uax29_sentences(nfc_normalize(page)).as("sents"))
    val deduped = TextAnalysis.dedupLines(
      sents.select(col("doc_id"), col("sents")), "doc_id", "sents")
    val counted = sents.select(col("lang"), col("doc_id"))
      .join(deduped, "doc_id")
      .select(col("lang"), col("doc_id"),
        size(uax29_tokens(col("dedup_text"))).cast("long").as("tokens"))
      .where(col("tokens") >= 1L && col("tokens") <= 256L)
    TextAnalysis.packFirstFitDecreasing(counted, "lang", "doc_id",
      "tokens", capacity = 256L)
      .select(col("lang"), col("doc_id"), col("tokens"), col("bin"))
  }

  private val q322Sql = {
    val fits = "list_filter(range(1, len(f.loads) + 1), " +
      "i -> f.loads[i] + o.tok <= 256)"
    s"""WITH RECURSIVE pg AS (
       |  SELECT lang, doc_id, nfc_normalize(
       |    'Visit the ' || (CASE WHEN doc_id % 2 = 0
       |      THEN 'cafe' || chr(769) ELSE 'café' END)
       |    || ' lounge now! ' || text
       |    || (CASE WHEN doc_id % 3 = 0
       |      THEN ' 訓練資料品質檢查流程' ELSE '' END)
       |    || '. All rights reserved.') AS page
       |  FROM documents),
       |sp AS (
       |  SELECT lang, doc_id, list_filter(list_transform(
       |    regexp_extract_all(page,
       |      '[^.!?]+[.!?]+["'')\\]”’»]*|[^.!?]+$$'),
       |    x -> trim(x, ' ' || chr(9) || chr(10) || chr(13))),
       |    x -> x != '') AS sents
       |  FROM pg),
       |lines AS (
       |  SELECT doc_id, u.pos AS pos, u.line FROM (
       |    SELECT doc_id, list_transform(range(0, len(sents)),
       |      i -> struct_pack(pos := i, line := sents[i + 1])) AS ls
       |    FROM sp), unnest(ls) AS t(u)),
       |h AS (SELECT doc_id, pos, line, ${md5LongSql("line")} AS h
       |      FROM lines),
       |kept AS (
       |  SELECT doc_id, pos, line FROM (
       |    SELECT doc_id, pos, line,
       |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos)
       |        AS rn
       |    FROM h) WHERE rn = 1),
       |agg AS (
       |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
       |    AS dedup_text
       |  FROM kept GROUP BY doc_id),
       |cnt AS (
       |  SELECT sp.lang, sp.doc_id,
       |    CAST(len(regexp_extract_all(
       |      regexp_replace(coalesce(a.dedup_text, ''),
       |        '([\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Thai}])',
       |        ' \\1 ', 'g'),
       |      '[\\p{L}\\p{Nd}\\p{Mn}\\p{Mc}_]+(?:[''’][\\p{L}\\p{Nd}\\p{Mn}\\p{Mc}_]+)*'))
       |      AS BIGINT) AS tok
       |  FROM sp LEFT JOIN agg a ON a.doc_id = sp.doc_id),
       |d AS (SELECT lang, doc_id, tok FROM cnt
       |      WHERE tok >= 1 AND tok <= 256),
       |o AS (
       |  SELECT lang, doc_id, tok,
       |    row_number() OVER (PARTITION BY lang ORDER BY tok DESC,
       |      doc_id) AS rn
       |  FROM d),
       |ffd AS (
       |  SELECT lang, 0 AS rn, CAST(NULL AS BIGINT) AS doc_id,
       |    CAST(NULL AS BIGINT) AS tok, CAST(NULL AS BIGINT) AS bin,
       |    CAST([] AS BIGINT[]) AS loads
       |  FROM (SELECT DISTINCT lang FROM o)
       |  UNION ALL
       |  SELECT o.lang, o.rn, o.doc_id, o.tok,
       |    CASE WHEN len($fits) > 0
       |         THEN CAST($fits[1] - 1 AS BIGINT)
       |         ELSE CAST(len(f.loads) AS BIGINT) END,
       |    CASE WHEN len($fits) > 0
       |         THEN list_transform(range(1, len(f.loads) + 1),
       |                i -> CASE WHEN i = $fits[1]
       |                     THEN f.loads[i] + o.tok
       |                     ELSE f.loads[i] END)
       |         ELSE list_append(f.loads, o.tok) END
       |  FROM ffd f JOIN o ON o.lang = f.lang AND o.rn = f.rn + 1)
       |SELECT lang, doc_id, tok AS tokens, bin
       |FROM ffd WHERE rn > 0""".stripMargin
  }

  /** Binary-spill / gibberish audit (TextAnalysis.binarySpillAudit):
    * every 9th document gains an embedded 120-char base64 blob (blob
    * mass trips), every 10th is replaced by two-char spam (entropy
    * floor trips) — the audit must flag exactly those; entropy in
    * exact micro-nats from per-codepoint counts. */
  private def q323(s: SparkSession, dir: String): DataFrame = {
    val blob = "QWxhZGRpbjpvcGVuIHNlc2FtZUFsYWRkaW46b3BlbiBzZXNhbWVB" +
      "bGFkZGluOm9wZW4gc2VzYW1lQWxhZGRpbjpvcGVuIHNlc2FtZTEyMzQ1Njc4OTAr"
    val page = when(pmod(col("doc_id"), lit(10L)) === 0L,
      concat(lit("ab"), repeat(lit("abab"), 100)))
      .when(pmod(col("doc_id"), lit(9L)) === 0L,
        concat(col("text"), lit(" "), lit(blob)))
      .otherwise(col("text"))
    TextAnalysis.binarySpillAudit(
      t(s, dir, "documents").select(col("doc_id"), page.as("text")),
      "doc_id", "text")
  }

  private val q323Sql = {
    val blob = "QWxhZGRpbjpvcGVuIHNlc2FtZUFsYWRkaW46b3BlbiBzZXNhbWVB" +
      "bGFkZGluOm9wZW4gc2VzYW1lQWxhZGRpbjpvcGVuIHNlc2FtZTEyMzQ1Njc4OTAr"
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 0 THEN 'ab' || repeat('abab', 100)
       |         WHEN doc_id % 9 = 0 THEN text || ' ' || '$blob'
       |         ELSE text END AS text
       |  FROM documents),
       |ch AS (
       |  SELECT doc_id, unnest([text[i:i]
       |    for i in range(1, len(text) + 1)]) AS c
       |  FROM d),
       |cc AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt
       |       FROM ch GROUP BY 1, 2),
       |nn AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n
       |       FROM cc GROUP BY 1),
       |ent AS (
       |  SELECT cc.doc_id,
       |    CAST(sum(cnt * (CAST(round(ln(nn.n) * 1000000.0) AS BIGINT)
       |      - CAST(round(ln(cnt) * 1000000.0) AS BIGINT)))
       |      // max(nn.n) AS BIGINT) AS e
       |  FROM cc JOIN nn ON nn.doc_id = cc.doc_id GROUP BY 1),
       |b AS (
       |  SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars,
       |    CAST(coalesce(list_sum(list_transform(
       |      regexp_extract_all(text, '[A-Za-z0-9+/=]{40,}'),
       |      x -> len(x))), 0) AS BIGINT) AS blob_chars
       |  FROM d)
       |SELECT b.doc_id, b.n_chars, ent.e AS entropy_micro,
       |  b.blob_chars,
       |  b.blob_chars * 1000000 // greatest(b.n_chars, 1)
       |    AS blob_micro,
       |  coalesce(ent.e >= 1500000 AND ent.e <= 4200000 AND
       |    (b.blob_chars * 1000000 // greatest(b.n_chars, 1))
       |      <= 50000, false) AS keep
       |FROM b LEFT JOIN ent ON ent.doc_id = b.doc_id""".stripMargin
  }

  /** Split leakage audit — near-dup pairs crossing the train/val/test
    * boundary (the contamination mode a hash split CANNOT prevent:
    * id-keyed assignment puts textual twins in different splits;
    * q118's cluster-safe split exists precisely to zero this table):
    * every 4th document is re-keyed +100000 as a textual clone, the
    * corpus hash-splits 80/10/10, and the q19 LSH pair table joins
    * the assignment through Dedup.pairLabelConflicts — off-diagonal
    * rows ARE the leaked pairs. */
  private def q324(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val corpus = d.select(col("doc_id"), col("text"))
      .unionByName(d.where(pmod(col("doc_id"), lit(4L)) === 0L)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      .localCheckpoint()
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text",
      shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.5)
    val assign = Stats.splitAssign(corpus.select(col("doc_id")),
      "doc_id",
      Seq("train" -> 800000L, "val" -> 100000L, "test" -> 100000L))
    Dedup.pairLabelConflicts(pairs, assign, "doc_id", "split")
      .select(col("label_a").as("split_a"), col("label_b")
        .as("split_b"), col("n_pairs"), col("is_conflict")
        .as("is_leak"))
  }

  private val q324Sql = {
    val perms = minhashPerms(MinhashPermCount).zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}, ${b})" }.mkString(", ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, text FROM documents
       |  WHERE doc_id % 4 = 0),
       |toks AS (
       |  SELECT doc_id, $toksSql AS tk FROM corpus),
       |sh AS (
       |  SELECT doc_id, $shinglesSql AS shingles FROM toks),
       |perms(perm, pa, pb) AS (VALUES $perms),
       |sigs AS (
       |  SELECT sh.doc_id, p.perm,
       |    list_min(list_transform(sh.shingles,
       |      x -> (p.pa * (${md5LongSql("x")} % 2147483647) + p.pb) % 2147483647)) AS sig
       |  FROM sh CROSS JOIN perms p
       |  WHERE len(sh.shingles) > 0),
       |hsets AS (
       |  SELECT doc_id, list_transform(shingles, x -> ${md5LongSql("x")}) AS hs
       |  FROM sh WHERE len(shingles) > 0),
       |bands AS (
       |  SELECT doc_id, perm // 2 AS band,
       |    string_agg(sig, ',' ORDER BY perm) AS band_sig
       |  FROM sigs GROUP BY doc_id, perm // 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_sig = b.band_sig
       |      AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c
       |  JOIN hsets sa ON sa.doc_id = c.id_a
       |  JOIN hsets sb ON sb.doc_id = c.id_b
       |  WHERE CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
       |        / len(list_distinct(list_concat(sa.hs, sb.hs))) >= 0.5),
       |assign AS (
       |  SELECT doc_id,
       |    CASE WHEN b < 800000 THEN 'train'
       |         WHEN b < 900000 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT doc_id,
       |    ${md5LongSql("CAST(doc_id AS VARCHAR) || ':v1'")} % 1000000
       |      AS b FROM corpus)),
       |j AS (
       |  SELECT least(x.split, y.split) AS split_a,
       |    greatest(x.split, y.split) AS split_b
       |  FROM pairs p
       |  JOIN assign x ON x.doc_id = p.id_a
       |  JOIN assign y ON y.doc_id = p.id_b)
       |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
       |  split_a != split_b AS is_leak
       |FROM j GROUP BY 1, 2""".stripMargin
  }

  /** SFT response audit (Validate.sftResponseAudit): the q319
    * transcripts' responses scored for length ratio and prompt echo —
    * every 5th doc's assistant turn restates its user turn verbatim
    * (echo_micro near 10⁶), the rest answer with fresh text; exact
    * integral micro ratios over whitespace tokens. */
  private def q325(s: SparkSession, dir: String): DataFrame = {
    def turn(role: String, content: Column) =
      struct(lit(role).as("role"), content.as("content"))
    val u1 = turn("user", substring(col("text"), 1, 60))
    val a1 = turn("assistant",
      when(pmod(col("doc_id"), lit(5L)) === 0L,
        substring(col("text"), 1, 60))
        .otherwise(concat(lit("answer: "), col("source"))))
    val u2 = turn("user", substring(col("text"), 61, 30))
    val a2 = turn("assistant", lit("done"))
    Validate.sftResponseAudit(
      t(s, dir, "documents").select(col("doc_id"),
        array(u1, a1, u2, a2).as("turns")),
      "doc_id", "turns")
  }

  private val q325Sql =
    """WITH d AS (
      |  SELECT doc_id, text[1:60] AS u1,
      |    CASE WHEN doc_id % 5 = 0 THEN text[1:60]
      |      ELSE 'answer: ' || source END AS a1,
      |    text[61:90] AS u2, 'done' AS a2
      |  FROM documents),
      |tk AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(u1 || ' ' || u2),
      |      '\s+'), x -> x != '') AS p,
      |    list_filter(regexp_split_to_array(lower(a1 || ' ' || a2),
      |      '\s+'), x -> x != '') AS r
      |  FROM d),
      |c AS (
      |  SELECT doc_id, CAST(len(p) AS BIGINT) AS prompt_tokens,
      |    CAST(len(r) AS BIGINT) AS resp_tokens,
      |    CAST(len(list_intersect(list_distinct(r),
      |      list_distinct(p))) AS BIGINT) AS hit,
      |    CAST(len(list_distinct(r)) AS BIGINT) AS rd
      |  FROM tk)
      |SELECT doc_id, prompt_tokens, resp_tokens,
      |  CASE WHEN prompt_tokens > 0
      |    THEN resp_tokens * 1000000 // prompt_tokens END AS ratio_micro,
      |  CASE WHEN rd > 0 THEN hit * 1000000 // rd END AS echo_micro
      |FROM c""".stripMargin

  /** MinHash banding S-curve sweep (Dedup.minhashBandRecallSweep):
    * at a fixed 16-hash signature, candidate recall vs verification
    * load across (16×1, 8×2, 4×4) bandings against the exact PPJoin
    * truth — the dedup-side tuning readout (q308/q310's companion);
    * 16×1 floods candidates at near-total recall, 4×4 is surgical
    * but leaks. */
  private def q326(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashBandRecallSweep(t(s, dir, "documents"), "doc_id",
      "text", shingleN = 3, threshold = 0.5)

  private val q326Sql = {
    val perms = minhashPerms(MinhashPermCount).zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}, ${b})" }.mkString(", ")
    val grid = Seq((16, 1), (8, 2), (4, 4))
    val perCfg = grid.map { case (b, r) =>
      s"""bands_${b}_$r AS (
         |  SELECT doc_id, perm // $r AS band,
         |    string_agg(sig, ',' ORDER BY perm) AS band_sig
         |  FROM sigs GROUP BY doc_id, perm // $r),
         |cand_${b}_$r AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands_${b}_$r a JOIN bands_${b}_$r b
         |    ON a.band = b.band AND a.band_sig = b.band_sig
         |      AND a.doc_id < b.doc_id),
         |row_${b}_$r AS (
         |  SELECT CAST($b AS BIGINT) AS n_bands,
         |    CAST($r AS BIGINT) AS rows_per_band,
         |    CAST(${b * r} AS BIGINT) AS n_perms,
         |    (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         |    (SELECT CAST(count(*) AS BIGINT) FROM cand_${b}_$r)
         |      AS n_cand,
         |    (SELECT CAST(count(*) AS BIGINT) FROM truth t
         |     JOIN cand_${b}_$r c ON c.id_a = t.id_a
         |       AND c.id_b = t.id_b) AS n_hit,
         |    CASE WHEN (SELECT count(*) FROM truth) > 0 THEN
         |      (SELECT CAST(count(*) AS BIGINT) FROM truth t
         |       JOIN cand_${b}_$r c ON c.id_a = t.id_a
         |         AND c.id_b = t.id_b) * 1000000
         |        // (SELECT CAST(count(*) AS BIGINT) FROM truth) END
         |      AS recall_micro)""".stripMargin
    }.mkString(",\n")
    val unioned = grid.map { case (b, r) => s"SELECT * FROM row_${b}_$r" }
      .mkString("\n  UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, $shinglesSql AS shingles FROM toks),
       |h AS (
       |  SELECT doc_id, list_transform(shingles,
       |    x -> ${md5LongSql("x")}) AS hs
       |  FROM sh WHERE len(shingles) > 0),
       |truth AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM h a JOIN h b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.5),
       |perms(perm, pa, pb) AS (VALUES $perms),
       |sigs AS (
       |  SELECT sh.doc_id, p.perm,
       |    list_min(list_transform(sh.shingles,
       |      x -> (p.pa * (${md5LongSql("x")} % 2147483647) + p.pb) % 2147483647)) AS sig
       |  FROM sh CROSS JOIN perms p
       |  WHERE len(sh.shingles) > 0),
       |$perCfg
       |$unioned""".stripMargin
  }

  /** Luhn-validated payment-card audit (TextAnalysis.luhnCardAudit):
    * every 6th document embeds a Luhn-VALID card number, every 7th a
    * 16-digit number that fails the checksum, every 4th a 10-digit
    * order id (not card length) — the audit must count candidates vs
    * valid cards exactly, the precision upgrade over q44's
    * pattern-only scan. */
  private def q327(s: SparkSession, dir: String): DataFrame = {
    val page = concat(col("text"),
      when(pmod(col("doc_id"), lit(6L)) === 0L,
        lit(" card 4532015112830366 on file")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7L)) === 0L,
        lit(" ref 4532015112830367 noted")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4L)) === 0L,
        lit(" order 1234567890")).otherwise(lit("")))
    TextAnalysis.luhnCardAudit(
      t(s, dir, "documents").select(col("doc_id"), page.as("text")),
      "doc_id", "text")
  }

  private val q327Sql =
    """WITH d AS (
      |  SELECT doc_id, text
      |    || (CASE WHEN doc_id % 6 = 0
      |        THEN ' card 4532015112830366 on file' ELSE '' END)
      |    || (CASE WHEN doc_id % 7 = 0
      |        THEN ' ref 4532015112830367 noted' ELSE '' END)
      |    || (CASE WHEN doc_id % 4 = 0
      |        THEN ' order 1234567890' ELSE '' END) AS text
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, regexp_extract_all(text, '[0-9]+') AS runs
      |  FROM d),
      |c AS (
      |  SELECT doc_id, runs,
      |    list_filter(runs, x -> len(x) >= 13 AND len(x) <= 19)
      |      AS cands
      |  FROM r),
      |v AS (
      |  SELECT doc_id, runs, cands,
      |    list_filter(cands, x ->
      |      list_sum([CASE WHEN j % 2 = 0 THEN
      |          CASE WHEN CAST(x[len(x)-j+1] AS INTEGER) * 2 > 9
      |            THEN CAST(x[len(x)-j+1] AS INTEGER) * 2 - 9
      |            ELSE CAST(x[len(x)-j+1] AS INTEGER) * 2 END
      |        ELSE CAST(x[len(x)-j+1] AS INTEGER) END
      |        for j in range(1, len(x) + 1)]) % 10 = 0) AS valid
      |  FROM c)
      |SELECT doc_id, CAST(len(runs) AS BIGINT) AS n_digit_runs,
      |  CAST(len(cands) AS BIGINT) AS n_candidates,
      |  CAST(len(valid) AS BIGINT) AS n_luhn_valid,
      |  len(valid) > 0 AS has_card
      |FROM v""".stripMargin

  /** Margin-based bitext mining over an IVF-ranked kNN source
    * (Similarity.marginBitextMineFromTopK ∘ Similarity.ivfTopK): the
    * q313 miner re-run with the INDEX as its top-k supplier — the
    * corpus×corpus scale path, where neither side broadcasts whole
    * (only the bounded probe set does, and every join is an
    * equi-join; PlanAuditSpec pins the no-nested-loop shape). Each
    * direction ranks its queries over the OTHER side's IVF cells
    * (centroids seeded from that side's 8 lowest-id vectors, nProbe=2,
    * k=4); the oracle replays cell assignment, probing, ranking and
    * the cross-multiplied integral margin exactly. */
  private def q328(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val xs = emb.where(pmod(col("vec_id"), lit(2L)) === 0L)
    val ys = emb.where(pmod(col("vec_id"), lit(2L)) === 1L)
    Similarity.marginBitextMineFromTopK(
      Similarity.ivfTopK(ys, xs, k = 4, nCells = 8, nProbe = 2),
      Similarity.ivfTopK(xs, ys, k = 4, nCells = 8, nProbe = 2),
      thresholdMicro = 1100000L)
  }

  private val q328Sql: String = {
    def dot(x: String, y: String) =
      s"""list_reduce(list_transform(range(1, len($x) + 1),
         |      i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)), (p, q) -> p + q)""".stripMargin
    // IVF top-k of `qs` queries over the `cs` corpus (centroids = the
    // corpus's 8 lowest-id vectors, assignment ties keep the EARLIEST
    // centroid, probe ties the HIGHEST — the q39 replay), k=4,
    // nProbe=2, parameterized per mining direction.
    def ivfTopk(qs: String, cs: String, tag: String) =
      s"""cent$tag AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, v AS cv
         |  FROM (SELECT vec_id, v FROM $cs ORDER BY vec_id LIMIT 8)),
         |vc$tag AS (
         |  SELECT e.vec_id, c.i,
         |    ${dot("e.v", "c.cv")}
         |      / (sqrt(${dot("e.v", "e.v")}) * sqrt(${dot("c.cv", "c.cv")})) AS s
         |  FROM $cs e CROSS JOIN cent$tag c),
         |asg$tag AS (
         |  SELECT vec_id, i AS cell FROM (
         |    SELECT vec_id, i, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY s DESC, i ASC) AS rn
         |    FROM vc$tag) WHERE rn = 1),
         |qc$tag AS (
         |  SELECT e.vec_id, c.i,
         |    ${dot("e.v", "c.cv")}
         |      / (sqrt(${dot("e.v", "e.v")}) * sqrt(${dot("c.cv", "c.cv")})) AS s
         |  FROM $qs e CROSS JOIN cent$tag c),
         |prb$tag AS (
         |  SELECT vec_id AS query_id, i AS cell FROM (
         |    SELECT vec_id, i, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY s DESC, i DESC) AS rn
         |    FROM qc$tag) WHERE rn <= 2),
         |$tag AS (
         |  SELECT query_id, cand_id, c, rn FROM (
         |    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
         |      CAST(round(round($cosSqlAB, 6) * 1000000.0) AS BIGINT)
         |        AS c,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY round($cosSqlAB, 6) DESC, b.vec_id ASC) AS rn
         |    FROM prb$tag p
         |    JOIN $qs a ON a.vec_id = p.query_id
         |    JOIN asg$tag g ON g.cell = p.cell
         |    JOIN $cs b ON b.vec_id = g.vec_id
         |      AND b.vec_id != p.query_id)
         |  WHERE rn <= 4)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |xs AS (SELECT * FROM e WHERE vec_id % 2 = 0),
       |ys AS (SELECT * FROM e WHERE vec_id % 2 = 1),
       |${ivfTopk("xs", "ys", "xy")},
       |${ivfTopk("ys", "xs", "yx")},
       |sx AS (SELECT query_id AS x_id, CAST(sum(c) AS BIGINT) AS sx,
       |         CAST(count(*) AS BIGINT) AS nx FROM xy GROUP BY 1),
       |sy AS (SELECT query_id AS y_id, CAST(sum(c) AS BIGINT) AS sy,
       |         CAST(count(*) AS BIGINT) AS ny FROM yx GROUP BY 1),
       |best AS (
       |  SELECT a.query_id AS x_id, a.cand_id AS y_id, a.c
       |  FROM (SELECT * FROM xy WHERE rn = 1) a
       |  JOIN (SELECT * FROM yx WHERE rn = 1) b
       |    ON b.query_id = a.cand_id AND b.cand_id = a.query_id),
       |m AS (
       |  SELECT best.x_id, best.y_id, best.c AS cos_micro,
       |    CASE WHEN (sx.sx * sy.ny + sy.sy * sx.nx) > 0
       |           AND best.c >= 0
       |      THEN (2 * best.c * sx.nx * sy.ny * 1000000)
       |             // (sx.sx * sy.ny + sy.sy * sx.nx) END
       |      AS margin_micro
       |  FROM best JOIN sx USING (x_id) JOIN sy USING (y_id))
       |SELECT x_id, y_id, cos_micro, margin_micro,
       |  coalesce(margin_micro >= 1100000, false) AS mined
       |FROM m""".stripMargin
  }

  /** WARC ingest (Warc.records): the documents table is serialized
    * into ONE ISO 28500 WARC stream with planted damage — every 19th
    * record a bad version line (the whole record becomes one corrupt
    * resync span), every 13th followed by a garbage blob (its own
    * corrupt row), every 11th missing the mandatory WARC-Date
    * (missing_required, fields still captured), and the LAST record
    * declares a Content-Length past EOF (the TRUNCATED stop). The
    * engine PARSES the stream byte-for-byte; the oracle never parses —
    * it constructs the expected rows ANALYTICALLY (offsets are
    * cumulative octet sums over doc order, corrupt snippets are
    * substrings of the segments it built), so the two sides agree only
    * if the walker's framing, offsets, statuses and snippets are all
    * exact. */
  /** The q329 damaged-WARC stream, parsed — shared by q329 and the
    * q335 composition. */
  private def warcFixtureRecords(s: SparkSession, dir: String): DataFrame = {
    val crlf = "\r\n"
    val docs = t(s, dir, "documents")
    val mx = docs.agg(max(col("doc_id")).as("__m"))
    val tl = length(col("text")).cast("long") // ASCII fixture: chars == octets
    val headCommon = concat(
      lit("WARC-Type: response" + crlf),
      lit("WARC-Record-ID: <urn:uuid:"), col("doc_id"), lit(">" + crlf),
      when(pmod(col("doc_id"), lit(11L)) === 0L, lit(""))
        .otherwise(lit("WARC-Date: 2024-01-01T00:00:00Z" + crlf)),
      lit("WARC-Target-URI: http://example.org/doc/"), col("doc_id"),
      lit(crlf), lit("Content-Type: text/plain" + crlf))
    val seg = when(col("doc_id") === col("__m"),
      concat(lit("WARC/1.0" + crlf), headCommon,
        lit("Content-Length: "), tl + 999L, lit(crlf + crlf),
        col("text")))
      .otherwise(concat(
        when(pmod(col("doc_id"), lit(19L)) === 0L, lit("WARC/oops" + crlf))
          .otherwise(lit("WARC/1.0" + crlf)),
        headCommon,
        lit("Content-Length: "), tl, lit(crlf + crlf),
        col("text"), lit(crlf + crlf),
        when(pmod(col("doc_id"), lit(13L)) === 0L,
          concat(lit("%%NOISE "), col("doc_id"), lit("%%" + crlf)))
          .otherwise(lit(""))))
    val stream = docs.crossJoin(broadcast(mx))
      .select(col("doc_id"), seg.as("__seg"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("doc_id"), col("__seg")))),
        x => x.getField("__seg")), "").as("__s"))
    Warc.records(stream.select(lit("fixture.warc").as("path"),
        col("__s").cast("binary").as("content")))
  }

  private def q329(s: SparkSession, dir: String): DataFrame =
    warcFixtureRecords(s, dir)
      .select(col("rec_offset"), col("warc_type"), col("record_id"),
        col("target_uri"), col("warc_date"), col("content_type"),
        col("content_length"),
        col("payload").cast("string").as("payload_text"),
        col("_status").as("status"), col("_raw").as("raw"))

  private val q329Sql: String = {
    val crlf = "chr(13) || chr(10)"
    s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
       |base AS (
       |  SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS tl, m,
       |    'WARC-Type: response' || $crlf
       |    || 'WARC-Record-ID: <urn:uuid:' || CAST(doc_id AS VARCHAR)
       |      || '>' || $crlf
       |    || (CASE WHEN doc_id % 11 = 0 THEN ''
       |        ELSE 'WARC-Date: 2024-01-01T00:00:00Z' || $crlf END)
       |    || 'WARC-Target-URI: http://example.org/doc/'
       |      || CAST(doc_id AS VARCHAR) || $crlf
       |    || 'Content-Type: text/plain' || $crlf AS head
       |  FROM documents CROSS JOIN mx),
       |segs AS (
       |  SELECT doc_id, text, tl, m,
       |    CASE WHEN doc_id = m THEN
       |      'WARC/1.0' || $crlf || head
       |      || 'Content-Length: ' || CAST(tl + 999 AS VARCHAR)
       |      || $crlf || $crlf || text
       |    ELSE
       |      (CASE WHEN doc_id % 19 = 0 THEN 'WARC/oops'
       |       ELSE 'WARC/1.0' END) || $crlf || head
       |      || 'Content-Length: ' || CAST(tl AS VARCHAR)
       |      || $crlf || $crlf || text || $crlf || $crlf
       |      || (CASE WHEN doc_id % 13 = 0 THEN
       |            '%%NOISE ' || CAST(doc_id AS VARCHAR) || '%%' || $crlf
       |          ELSE '' END)
       |    END AS seg,
       |    CASE WHEN doc_id % 13 = 0 AND doc_id != m THEN
       |      '%%NOISE ' || CAST(doc_id AS VARCHAR) || '%%' || $crlf
       |    ELSE '' END AS blob
       |  FROM base),
       |offs AS (
       |  SELECT doc_id, text, tl, m, seg, blob,
       |    CAST(coalesce(sum(strlen(seg)) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS off
       |  FROM segs)
       |SELECT off AS rec_offset, 'response' AS warc_type,
       |  '<urn:uuid:' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
       |  'http://example.org/doc/' || CAST(doc_id AS VARCHAR)
       |    AS target_uri,
       |  CASE WHEN doc_id % 11 = 0 THEN NULL
       |    ELSE '2024-01-01T00:00:00Z' END AS warc_date,
       |  'text/plain' AS content_type, tl AS content_length,
       |  text AS payload_text,
       |  CASE WHEN doc_id % 11 = 0 THEN 'missing_required'
       |    ELSE 'ok' END AS status,
       |  CAST(NULL AS VARCHAR) AS raw
       |FROM offs WHERE doc_id != m AND doc_id % 19 != 0
       |UNION ALL
       |SELECT CAST(off + strlen(seg) - strlen(blob) AS BIGINT),
       |  NULL, NULL, NULL, NULL, NULL,
       |  CAST(NULL AS BIGINT), NULL, 'corrupt', blob
       |FROM offs WHERE doc_id != m AND doc_id % 19 != 0
       |  AND doc_id % 13 = 0
       |UNION ALL
       |SELECT off, NULL, NULL, NULL, NULL, NULL, CAST(NULL AS BIGINT),
       |  NULL, 'corrupt', substr(seg, 1, 120)
       |FROM offs WHERE doc_id != m AND doc_id % 19 = 0
       |UNION ALL
       |SELECT off, NULL, NULL, NULL, NULL, NULL, CAST(NULL AS BIGINT),
       |  NULL, 'corrupt', 'TRUNCATED'
       |FROM offs WHERE doc_id = m""".stripMargin
  }

  /** Gale–Church sentence alignment (TextAnalysis.galeChurchAlign):
    * pseudo-bitext pairs built from each document — side A chunks the
    * first 60 tokens into 5-token sentences; side B is A with every
    * (g%7==3) sentence DROPPED, every (g%5==2) sentence MERGED with
    * its successor, and every (g%3==0) sentence padded — so the DP
    * must recover 1–0 and 2–1 beads among the 1–1s. The oracle
    * replays the ENTIRE integral DP — cell fill as a recursive CTE
    * carrying the cost table as a list, then the first-in-order
    * backtrack — bit-for-bit (quadratic HUGEINT match cost, frozen
    * penalties). */
  private def q330(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = slice(ws_tokens(col("text")), 1, 60)
    val nTok = size(toks).cast("long")
    val nA = call_function("div", nTok + 4L, lit(5L))
    val aCol = when(nTok > 0L,
      transform(sequence(lit(0L), nA - 1L), g =>
        array_join(slice(toks, (g * 5L + 1L).cast("int"), lit(5)), " ")))
      .otherwise(array().cast("array<string>"))
    val staged = docs.select(col("doc_id"), aCol.as("a")).localCheckpoint()
    def merged(g: Column, a: Column) =
      pmod(g, lit(5L)) === 2L && pmod(g, lit(7L)) =!= 3L &&
        (g + 1L) < size(a).cast("long") &&
        pmod(g + 1L, lit(7L)) =!= 3L
    val bCol = {
      val a = col("a")
      when(size(a) > 0,
        transform(
          filter(sequence(lit(0L), size(a).cast("long") - 1L), g =>
            !(pmod(g, lit(7L)) === 3L) &&
              !(pmod(g, lit(5L)) === 3L && pmod(g, lit(7L)) =!= 3L &&
                pmod(g - 1L, lit(7L)) =!= 3L)),
          g => concat(
            when(merged(g, a),
              concat(element_at(a, (g + 1L).cast("int")), lit(" "),
                element_at(a, (g + 2L).cast("int"))))
              .otherwise(element_at(a, (g + 1L).cast("int"))),
            when(pmod(g, lit(3L)) === 0L, lit(" pad pad"))
              .otherwise(lit("")))))
        .otherwise(array().cast("array<string>"))
    }
    TextAnalysis.galeChurchAlign(
      staged.select(col("doc_id"), col("a"), bCol.as("b")),
      "doc_id", "a", "b", maxSentences = 16)
  }

  // ---------------------------------------------------------------------
  // Gale–Church DP oracle builders — shared by q330 and the q333
  // bitext composition. The DP fill is a recursive CTE carrying the
  // cost table as a list; the backtrack re-evaluates the candidates
  // first-in-order. Keys parameterize the grouping (doc_id for q330,
  // (x_id, y_id) for q333); an input CTE `dims(keys..., la, lb, n, m)`
  // is assumed.
  // ---------------------------------------------------------------------

  /** Quadratic HUGEINT match cost (rM = 1e6): (y-x)^2 // (7(x+y)+1) —
    * exact, non-negative, so // (floor) == the engine BigInt
    * truncation. */
  private def gcMatchSql(sa: String, sb: String) =
    s"""CAST((CAST(($sb) * 1000000 - ($sa) * 1000000 AS HUGEINT)
       |      * CAST(($sb) * 1000000 - ($sa) * 1000000 AS HUGEINT))
       |  // CAST(7 * (($sa) * 1000000 + ($sb) * 1000000) + 1 AS HUGEINT)
       |  AS BIGINT)""".stripMargin
  private def gcIdx(i: String, j: String) = s"(($i) * (m + 1) + ($j) + 1)"
  private def gcAddOf(t: Int, i: String, j: String): String = t match {
    case 1 => gcMatchSql(s"la[$i]", s"lb[$j]")
    case 2 => "4500000"
    case 3 => "4500000"
    case 4 => s"2302585 + ${gcMatchSql(s"la[($i) - 1] + la[$i]", s"lb[$j]")}"
    case 5 => s"2302585 + ${gcMatchSql(s"la[$i]", s"lb[($j) - 1] + lb[$j]")}"
    case 6 => s"4392317 + ${gcMatchSql(s"la[($i) - 1] + la[$i]",
      s"lb[($j) - 1] + lb[$j]")}"
  }
  private def gcGuardOf(t: Int, i: String, j: String): String = t match {
    case 1 => s"($i) >= 1 AND ($j) >= 1"
    case 2 => s"($i) >= 1"
    case 3 => s"($j) >= 1"
    case 4 => s"($i) >= 2 AND ($j) >= 1"
    case 5 => s"($i) >= 1 AND ($j) >= 2"
    case 6 => s"($i) >= 2 AND ($j) >= 2"
  }
  private def gcPrevI(t: Int, i: String) = t match {
    case 1 | 2 | 5 => s"($i) - 1"; case 3 => i; case _ => s"($i) - 2"
  }
  private def gcPrevJ(t: Int, j: String) = t match {
    case 1 | 3 | 4 => s"($j) - 1"; case 2 => j; case _ => s"($j) - 2"
  }

  /** The dp/fin/bt/beads CTE chain over `dims`; `beads` ends with
    * (keys..., la, lb, i, j, t, bead). */
  private def gcDpSql(keys: Seq[String]): String = {
    val ks = keys.mkString(", ")
    val ni = "((c + 1) // (m + 1))"
    val nj = "((c + 1) % (m + 1))"
    val cellCost = (1 to 6).map { t =>
      s"""CASE WHEN ${gcGuardOf(t, ni, nj)}
         |  THEN costs[${gcIdx(gcPrevI(t, ni), gcPrevJ(t, nj))}]
         |       + ${gcAddOf(t, ni, nj)} END""".stripMargin
    }.mkString(",\n")
    val tCase = (1 to 5).map { t =>
      s"""WHEN ${gcGuardOf(t, "i", "j")}
         |  AND costs[${gcIdx(gcPrevI(t, "i"), gcPrevJ(t, "j"))}]
         |      + ${gcAddOf(t, "i", "j")} = costs[${gcIdx("i", "j")}]
         |  THEN $t""".stripMargin
    }.mkString("\n")
    s"""dp AS (
       |  SELECT $ks, la, lb, n, m, 0 AS c,
       |    [CAST(0 AS BIGINT)] AS costs
       |  FROM dims
       |  UNION ALL
       |  SELECT $ks, la, lb, n, m, c + 1,
       |    list_append(costs, list_min(list_filter([
       |      $cellCost
       |    ], v -> v IS NOT NULL)))
       |  FROM dp WHERE c + 1 <= (n + 1) * (m + 1) - 1),
       |fin AS (
       |  SELECT $ks, la, lb, n, m, costs FROM dp
       |  WHERE c = (n + 1) * (m + 1) - 1),
       |bt AS (
       |  SELECT $ks, la, lb, n, m, costs, n AS i, m AS j, 0 AS step,
       |    0 AS t
       |  FROM fin
       |  UNION ALL
       |  SELECT $ks, la, lb, n, m, costs,
       |    CASE x.t2 WHEN 1 THEN i - 1 WHEN 2 THEN i - 1 WHEN 3 THEN i
       |      WHEN 4 THEN i - 2 WHEN 5 THEN i - 1 ELSE i - 2 END,
       |    CASE x.t2 WHEN 1 THEN j - 1 WHEN 2 THEN j WHEN 3 THEN j - 1
       |      WHEN 4 THEN j - 1 WHEN 5 THEN j - 2 ELSE j - 2 END,
       |    step + 1, x.t2
       |  FROM (
       |    SELECT *, (CASE
       |      $tCase
       |      ELSE 6 END) AS t2
       |    FROM bt WHERE i + j > 0) x),
       |beads AS (
       |  SELECT $ks, la, lb, i, j, t,
       |    row_number() OVER (PARTITION BY $ks ORDER BY step DESC)
       |      AS bead
       |  FROM bt WHERE step > 0)""".stripMargin
  }

  /** The bead projection off `beads` — the post-move state algebra
    * (pre-move cell = (i + di, j + dj) by bead type). */
  private def gcBeadCols: String =
    s"""CAST(bead AS BIGINT) AS bead,
       |  CAST(CASE WHEN t = 3 THEN NULL ELSE i + 1 END AS BIGINT)
       |    AS a_start,
       |  CAST(CASE t WHEN 3 THEN 0 WHEN 4 THEN 2 WHEN 6 THEN 2 ELSE 1 END
       |    AS BIGINT) AS a_len,
       |  CAST(CASE WHEN t = 2 THEN NULL ELSE j + 1 END AS BIGINT)
       |    AS b_start,
       |  CAST(CASE t WHEN 2 THEN 0 WHEN 5 THEN 2 WHEN 6 THEN 2 ELSE 1 END
       |    AS BIGINT) AS b_len,
       |  CAST(CASE t
       |    WHEN 1 THEN ${gcMatchSql("la[i + 1]", "lb[j + 1]")}
       |    WHEN 2 THEN 4500000
       |    WHEN 3 THEN 4500000
       |    WHEN 4 THEN 2302585 +
       |      ${gcMatchSql("la[i + 1] + la[i + 2]", "lb[j + 1]")}
       |    WHEN 5 THEN 2302585 +
       |      ${gcMatchSql("la[i + 1]", "lb[j + 1] + lb[j + 2]")}
       |    ELSE 4392317 +
       |      ${gcMatchSql("la[i + 1] + la[i + 2]", "lb[j + 1] + lb[j + 2]")}
       |  END AS BIGINT) AS cost_micro""".stripMargin

  /** The 60-token 5-token-chunk pseudo-sentence builder over a doc
    * table CTE (shared by q330's fixture and q333's pair sides). */
  private val gcSentSql: String =
    s"""SELECT doc_id,
       |    CASE WHEN len(toks) > 0 THEN
       |      list_transform(range(0, CAST((len(toks) + 4) // 5 AS INTEGER)),
       |        g -> array_to_string(toks[g * 5 + 1 : g * 5 + 5], ' '))
       |    ELSE [] END AS a
       |  FROM (SELECT doc_id, ($toksSql)[1:60] AS toks FROM documents)"""
      .stripMargin

  private val q330Sql: String =
    s"""WITH RECURSIVE sa AS (
       |  $gcSentSql),
       |sb AS (
       |  SELECT doc_id, a,
       |    list_transform(
       |      list_filter(range(0, len(a)), g ->
       |        NOT (g % 7 = 3)
       |        AND NOT (g % 5 = 3 AND g % 7 != 3 AND (g - 1) % 7 != 3)),
       |      g -> (CASE WHEN g % 5 = 2 AND g % 7 != 3 AND g + 1 < len(a)
       |                   AND (g + 1) % 7 != 3
       |            THEN a[g + 1] || ' ' || a[g + 2]
       |            ELSE a[g + 1] END)
       |           || (CASE WHEN g % 3 = 0 THEN ' pad pad' ELSE '' END))
       |      AS b
       |  FROM sa),
       |dims AS (
       |  SELECT doc_id,
       |    list_transform(a, s -> CAST(strlen(s) AS BIGINT)) AS la,
       |    list_transform(b, s -> CAST(strlen(s) AS BIGINT)) AS lb,
       |    len(a) AS n, len(b) AS m
       |  FROM sb WHERE len(a) > 0 OR len(b) > 0),
       |${gcDpSql(Seq("doc_id"))}
       |SELECT doc_id, $gcBeadCols
       |FROM beads""".stripMargin

  /** Composability proof #4 — the COMPLETE bitext pipeline, q313 ∘
    * q330: margin mining (Artetxe–Schwenk mutual rank-1 over the
    * even/odd embedding halves) produces parallel DOC pairs, and
    * Gale–Church aligns their pseudo-sentences — the output is the
    * training artifact itself, aligned sentence-pair TEXT. The
    * alignment runs ONLY on pairs the miner produced, so the oracle
    * must replay the entire chain — both brute top-k directions, the
    * integral margin, the mutual gate, sentence chunking, the DP cell
    * fill and backtrack, and the text slices — to match at all. */
  private def q333(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val xsE = emb.where(pmod(col("vec_id"), lit(2L)) === 0L)
    val ysE = emb.where(pmod(col("vec_id"), lit(2L)) === 1L)
    val mined = Similarity.marginBitextMine(xsE, ysE, k = 4,
        thresholdMicro = 1100000L)
      .where(col("mined")).select(col("x_id"), col("y_id"))
    val toks = slice(ws_tokens(col("text")), 1, 60)
    val nTok = size(toks).cast("long")
    val nA = call_function("div", nTok + 4L, lit(5L))
    val sent = when(nTok > 0L,
      transform(sequence(lit(0L), nA - 1L), g =>
        array_join(slice(toks, (g * 5L + 1L).cast("int"), lit(5)), " ")))
      .otherwise(array().cast("array<string>"))
    val sents = t(s, dir, "documents")
      .select(col("doc_id"), sent.as("sents")).localCheckpoint()
    val pairs = mined
      .join(sents.select(col("doc_id").as("x_id"), col("sents").as("a")),
        "x_id")
      .join(sents.select(col("doc_id").as("y_id"), col("sents").as("b")),
        "y_id")
      .select(concat(col("x_id"), lit(":"), col("y_id")).as("pid"),
        col("x_id"), col("y_id"), col("a"), col("b"))
      .localCheckpoint()
    val beads = TextAnalysis.galeChurchAlign(
      pairs.select(col("pid"), col("a"), col("b")), "pid", "a", "b",
      maxSentences = 16)
    beads.join(pairs, "pid")
      .select(col("x_id"), col("y_id"), col("bead"),
        col("a_start"), col("a_len"), col("b_start"), col("b_len"),
        col("cost_micro"),
        when(col("a_len") > 0L, array_join(slice(col("a"),
          col("a_start").cast("int"), col("a_len").cast("int")), " "))
          .as("a_text"),
        when(col("b_len") > 0L, array_join(slice(col("b"),
          col("b_start").cast("int"), col("b_len").cast("int")), " "))
          .as("b_text"))
  }

  private val q333Sql: String =
    s"""WITH RECURSIVE e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |xs AS (SELECT * FROM e WHERE vec_id % 2 = 0),
       |ys AS (SELECT * FROM e WHERE vec_id % 2 = 1),
       |${bruteTopk4Sql("xs", "ys", "xy")},
       |${bruteTopk4Sql("ys", "xs", "yx")},
       |$marginTailSql,
       |mined AS (
       |  SELECT x_id, y_id FROM m
       |  WHERE coalesce(margin_micro >= 1100000, false)),
       |sent AS (
       |  $gcSentSql),
       |dims AS (
       |  SELECT md.x_id, md.y_id,
       |    list_transform(pa.a, s -> CAST(strlen(s) AS BIGINT)) AS la,
       |    list_transform(pb.a, s -> CAST(strlen(s) AS BIGINT)) AS lb,
       |    len(pa.a) AS n, len(pb.a) AS m
       |  FROM mined md
       |  JOIN sent pa ON pa.doc_id = md.x_id
       |  JOIN sent pb ON pb.doc_id = md.y_id
       |  WHERE len(pa.a) > 0 OR len(pb.a) > 0),
       |${gcDpSql(Seq("x_id", "y_id"))},
       |sel AS (
       |  SELECT x_id, y_id, $gcBeadCols
       |  FROM beads)
       |SELECT sel.x_id, sel.y_id, sel.bead, sel.a_start, sel.a_len,
       |  sel.b_start, sel.b_len, sel.cost_micro,
       |  CASE WHEN sel.a_len > 0 THEN array_to_string(
       |    pa.a[sel.a_start : sel.a_start + sel.a_len - 1], ' ') END
       |    AS a_text,
       |  CASE WHEN sel.b_len > 0 THEN array_to_string(
       |    pb.a[sel.b_start : sel.b_start + sel.b_len - 1], ' ') END
       |    AS b_text
       |FROM sel
       |JOIN sent pa ON pa.doc_id = sel.x_id
       |JOIN sent pb ON pb.doc_id = sel.y_id""".stripMargin

  /** Mod-97-validated IBAN audit (TextAnalysis.ibanAudit): every 6th
    * document embeds a checksum-VALID IBAN (the ISO 13616 DE
    * example), every 7th the same IBAN with a flipped final digit
    * (must fail mod 97), every 11th a valid GB IBAN, every 4th a
    * short upper-alnum code (not candidate length) — the audit must
    * count candidates vs validated accounts exactly, the precision
    * upgrade over pattern-only PII scanning (the q327 Luhn
    * discipline applied to bank accounts). */
  private def q334(s: SparkSession, dir: String): DataFrame = {
    val page = concat(col("text"),
      when(pmod(col("doc_id"), lit(6L)) === 0L,
        lit(" iban DE89370400440532013000 on file")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7L)) === 0L,
        lit(" ref DE89370400440532013001 noted")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11L)) === 0L,
        lit(" acct GB29NWBK60161331926819 paid")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4L)) === 0L,
        lit(" code AB12XYZ99 short")).otherwise(lit("")))
    TextAnalysis.ibanAudit(
      t(s, dir, "documents").select(col("doc_id"), page.as("text")),
      "doc_id", "text")
  }

  private val q334Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text
      |    || (CASE WHEN doc_id % 6 = 0
      |        THEN ' iban DE89370400440532013000 on file' ELSE '' END)
      |    || (CASE WHEN doc_id % 7 = 0
      |        THEN ' ref DE89370400440532013001 noted' ELSE '' END)
      |    || (CASE WHEN doc_id % 11 = 0
      |        THEN ' acct GB29NWBK60161331926819 paid' ELSE '' END)
      |    || (CASE WHEN doc_id % 4 = 0
      |        THEN ' code AB12XYZ99 short' ELSE '' END) AS text
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, regexp_extract_all(text, '[A-Z0-9]+') AS runs
      |  FROM d),
      |c AS (
      |  SELECT doc_id, runs,
      |    list_filter(runs, x -> regexp_matches(x,
      |      '^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$')) AS cands
      |  FROM r),
      |v AS (
      |  SELECT doc_id, runs, cands,
      |    list_filter(cands, x ->
      |      list_reduce(
      |        list_prepend(CAST(0 AS BIGINT),
      |          list_transform(range(1, len(x) + 1),
      |            j -> CAST(ascii(substr(substr(x, 5) || substr(x, 1, 4),
      |              CAST(j AS INTEGER), 1)) AS BIGINT))),
      |        (a, code) -> CASE WHEN code BETWEEN 48 AND 57
      |          THEN (a * 10 + code - 48) % 97
      |          ELSE (a * 100 + code - 55) % 97 END) = 1) AS valid
      |  FROM c)
      |SELECT doc_id, CAST(len(runs) AS BIGINT) AS n_upper_runs,
      |  CAST(len(cands) AS BIGINT) AS n_candidates,
      |  CAST(len(valid) AS BIGINT) AS n_mod97_valid,
      |  len(valid) > 0 AS has_iban
      |FROM v""".stripMargin

  /** Composability proof #5 — the ingest FRONT DOOR feeding the
    * curation pass (q329 ∘ q27): the damaged-WARC stream parses, the
    * error channel drops exactly the corrupt / missing-required
    * records, ids recover from the WARC-Record-ID header, and the
    * quality features run over the RECOVERED payload bytes. The
    * oracle never parses WARC — it selects the analytically-undamaged
    * documents and replays the quality math on their ORIGINAL text,
    * so the gate matches only if the walker returned every surviving
    * payload byte-for-byte and routed every damaged record out. */
  private def q335(s: SparkSession, dir: String): DataFrame = {
    val recovered = Warc.valid(warcFixtureRecords(s, dir))
      .select(regexp_extract(col("record_id"), "<urn:uuid:(\\d+)>", 1)
          .cast("long").as("doc_id"),
        col("payload").cast("string").as("text"))
    TextAnalysis.qualityFeatures(recovered, "doc_id", "text")
      .withColumn("n_tokens", col("n_tokens").cast("long"))
  }

  private val q335Sql: String =
    s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
       |ok AS (
       |  SELECT doc_id, text FROM documents CROSS JOIN mx
       |  WHERE doc_id != m AND doc_id % 19 != 0 AND doc_id % 11 != 0),
       |toks AS (SELECT doc_id, text, $toksSql AS tk FROM ok),
       |f AS (
       |  SELECT doc_id,
       |    $qualityFeatSql
       |  FROM toks)
       |SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
       |  round(mean_tok_len, 6) AS mean_tok_len,
       |  round(alnum_ratio, 6) AS alnum_ratio,
       |  round(stopword_ratio, 6) AS stopword_ratio,
       |  $qualityScoreSql AS quality_score
       |FROM f""".stripMargin

  /** Hard-negative mining (Similarity.hardNegatives ∘ ivfTopK): the
    * 20 lowest-id vectors anchor an IVF top-8 search over the whole
    * corpus; candidates sharing the anchor's label drop (they are
    * positives) and the 3 nearest survivors per anchor are the hard
    * negatives — the contrastive-curation readout, parameterized over
    * the index exactly like q328's miner. The oracle replays cell
    * assignment, probing, ranking, the NULL-safe label filter and the
    * deterministic re-rank. */
  private def q336(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.hardNegatives(
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 20L), k = 8,
        nCells = 8, nProbe = 2),
      emb, "vec_id", "label", n = 3)
  }

  private val q336Sql: String = {
    def dot(x: String, y: String) =
      s"""list_reduce(list_transform(range(1, len($x) + 1),
         |      i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)), (p, q) -> p + q)""".stripMargin
    s"""WITH cent AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i,
       |         embedding AS cv
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        ORDER BY vec_id LIMIT 8)),
       |e AS (SELECT vec_id, embedding AS v, label FROM embeddings),
       |vc AS (
       |  SELECT e.vec_id, cent.i,
       |    ${dot("e.v", "cent.cv")}
       |      / (sqrt(${dot("e.v", "e.v")})
       |         * sqrt(${dot("cent.cv", "cent.cv")})) AS s
       |  FROM e CROSS JOIN cent),
       |assign AS (
       |  SELECT vec_id, i AS cell FROM (
       |    SELECT vec_id, i, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, i ASC) AS rn
       |    FROM vc) WHERE rn = 1),
       |probe AS (
       |  SELECT vec_id AS query_id, i AS cell FROM (
       |    SELECT vec_id, i, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, i DESC) AS rn
       |    FROM vc WHERE vec_id < 20) WHERE rn <= 2),
       |ranked AS (
       |  SELECT query_id, cand_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, cand_id ASC) AS rank
       |  FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
       |      round($cosSqlAB, 6) AS cos_sim
       |    FROM probe p
       |    JOIN e a ON a.vec_id = p.query_id
       |    JOIN assign g ON g.cell = p.cell
       |    JOIN e b ON b.vec_id = g.vec_id AND b.vec_id != p.query_id)),
       |topk AS (SELECT * FROM ranked WHERE rank <= 8),
       |hard AS (
       |  SELECT t.query_id, t.cand_id, t.cos_sim,
       |    row_number() OVER (PARTITION BY t.query_id
       |      ORDER BY t.cos_sim DESC, t.cand_id ASC) AS neg_rank
       |  FROM topk t
       |  JOIN e qa ON qa.vec_id = t.query_id
       |  JOIN e ca ON ca.vec_id = t.cand_id
       |  WHERE NOT (ca.label IS NOT DISTINCT FROM qa.label))
       |SELECT query_id, cand_id AS neg_id, cos_sim,
       |  CAST(neg_rank AS BIGINT) AS neg_rank
       |FROM hard WHERE neg_rank <= 3""".stripMargin
  }

  /** Canonical keep-list per duplicate cluster
    * (Dedup.canonicalKeepList ∘ q40 ∘ q27): the q40 near-dup clusters
    * pick their highest-quality member (q27's quality_score, ties to
    * the smallest doc_id) as the survivor — the dedup KEEP-POLICY a
    * curation pass actually ships. The oracle replays the LSH pair
    * derivation, the recursive transitive closure, the quality math
    * and the per-cluster argmax. */
  private def q337(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.5)
    val clusters = Dedup.connectedComponents(
        pairs.select(col("id_a"), col("id_b")),
        docs.select(col("doc_id")))
      .select(col("id").as("doc_id"), col("cluster_id"))
    val scores = TextAnalysis.qualityFeatures(docs, "doc_id", "text")
      .select(col("doc_id"), col("quality_score"))
    Dedup.canonicalKeepList(clusters, scores, "doc_id", "cluster_id",
      "quality_score")
  }

  private val q337Sql: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL
       |  SELECT id_b AS a, id_a AS b FROM pairs),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS lbl FROM documents
       |  UNION
       |  SELECT e.b AS id, r.lbl FROM reach r JOIN edges e ON e.a = r.id),
       |cl AS (SELECT id AS doc_id, min(lbl) AS cluster_id
       |       FROM reach GROUP BY id),
       |qtoks AS (SELECT doc_id, text, $toksSql AS tk FROM documents),
       |qf AS (
       |  SELECT doc_id,
       |    $qualityFeatSql
       |  FROM qtoks),
       |sc AS (SELECT doc_id, $qualityScoreSql AS q FROM qf),
       |j AS (
       |  SELECT cl.doc_id, cl.cluster_id, sc.q
       |  FROM cl JOIN sc USING (doc_id)),
       |can AS (
       |  SELECT cluster_id, doc_id AS canonical_id FROM (
       |    SELECT cluster_id, doc_id,
       |      row_number() OVER (PARTITION BY cluster_id
       |        ORDER BY q DESC, doc_id ASC) AS rn
       |    FROM j) WHERE rn = 1)
       |SELECT j.doc_id, j.cluster_id, can.canonical_id,
       |  j.doc_id = can.canonical_id AS keep
       |FROM j JOIN can USING (cluster_id)""".stripMargin

  /** All-but-the-top embedding transform (Similarity.allButTheTop):
    * the q275/q286 anisotropy audits' FIX applied — mean-center and
    * deflate the dominant direction, everything integral at scale
    * n·10⁶ (centered residual r = n·q − S, projection coefficient in
    * HUGEINT, the q286 truncating-division deflation form). The
    * oracle replays v₁'s twelve rounds (the shared q275 fragments)
    * and the per-coordinate arithmetic bit-for-bit. */
  private def q338(s: SparkSession, dir: String): DataFrame =
    Similarity.allButTheTop(t(s, dir, "embeddings"), "vec_id",
      "embedding", rounds = 12)

  private val q338Sql: String =
    s"""WITH $pcCommonCtes,
       |dn AS (SELECT sum(v * v) AS den FROM v12),
       |rv AS (
       |  SELECT q.vec_id, i.i AS i,
       |    nn.n * qv[i.i] - sv.s AS r
       |  FROM q, range(1, 65) i(i)
       |  JOIN sv ON sv.i = i.i CROSS JOIN nn),
       |tt AS (
       |  SELECT rv.vec_id, sum(v12.v * rv.r) AS t
       |  FROM rv JOIN v12 ON v12.j = rv.i GROUP BY 1)
       |SELECT rv.vec_id, CAST(rv.i - 1 AS BIGINT) AS dim,
       |  CAST(rv.r - (v12.v * tt.t) // dn.den AS BIGINT) AS abt_scaled,
       |  CAST(rv.r - (v12.v * tt.t) // dn.den AS BIGINT)
       |    / (nn.n * 1000000.0) AS abt
       |FROM rv JOIN v12 ON v12.j = rv.i
       |JOIN tt ON tt.vec_id = rv.vec_id
       |CROSS JOIN dn CROSS JOIN nn""".stripMargin

  /** Checksum-aware PII redaction (TextAnalysis.redactPiiChecked):
    * the q327/q334 audits' TRANSFORM — emails redact unconditionally,
    * digit runs only when card-length AND Luhn-valid, upper-alnum
    * runs only when IBAN-shaped AND mod-97-valid; the planted
    * invalid-checksum twins and the benign order number must survive
    * byte-for-byte. The oracle replays all three split/extract/
    * rebuild layers including both checksum folds. */
  private def q339(s: SparkSession, dir: String): DataFrame = {
    val page = concat(col("text"),
      when(pmod(col("doc_id"), lit(6L)) === 0L,
        lit(" card 4532015112830366 ok")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7L)) === 0L,
        lit(" ref 4532015112830367 kept")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11L)) === 0L,
        lit(" acct GB29NWBK60161331926819 paid")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(13L)) === 0L,
        lit(" code DE89370400440532013001 kept")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5L)) === 0L,
        lit(" mail bob.smith+x@example.org now")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4L)) === 0L,
        lit(" order 1234567890")).otherwise(lit("")))
    TextAnalysis.redactPiiChecked(
      t(s, dir, "documents").select(col("doc_id"), page.as("text")),
      "doc_id", "text")
  }

  private val q339Sql: String = {
    val emailP = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    def luhn(x: String) =
      s"""list_sum([CASE WHEN j % 2 = 0 THEN
         |    CASE WHEN CAST(($x)[len($x)-j+1] AS INTEGER) * 2 > 9
         |      THEN CAST(($x)[len($x)-j+1] AS INTEGER) * 2 - 9
         |      ELSE CAST(($x)[len($x)-j+1] AS INTEGER) * 2 END
         |  ELSE CAST(($x)[len($x)-j+1] AS INTEGER) END
         |  for j in range(1, len($x) + 1)]) % 10 = 0""".stripMargin
    def mod97(x: String) =
      s"""list_reduce(
         |  list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(1, len($x) + 1),
         |      j -> CAST(ascii(substr(substr($x, 5) || substr($x, 1, 4),
         |        CAST(j AS INTEGER), 1)) AS BIGINT))),
         |  (a, code) -> CASE WHEN code BETWEEN 48 AND 57
         |    THEN (a * 10 + code - 48) % 97
         |    ELSE (a * 100 + code - 55) % 97 END) = 1""".stripMargin
    val ibanOk = s"regexp_matches(runs[i], " +
      "'^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$$') AND " + mod97("runs[i]")
    val cardOk = s"len(runs[i]) BETWEEN 13 AND 19 AND " + luhn("runs[i]")
    def layer(src: String, out: String, pat: String, ok: String,
              repl: String, cnt: String) =
      s"""${out}x AS (
         |  SELECT doc_id,
         |    regexp_split_to_array(text, '$pat') AS segs,
         |    regexp_extract_all(text, '$pat') AS runs, text
         |  FROM $src),
         |$out AS (
         |  SELECT doc_id,
         |    CASE WHEN len(runs) > 0 THEN
         |      segs[1] || array_to_string(
         |        list_transform(range(1, len(runs) + 1), i ->
         |          concat((CASE WHEN $ok THEN '$repl'
         |            ELSE runs[i] END), segs[i + 1])), '')
         |    ELSE text END AS text,
         |    CAST(len(list_filter(range(1, len(runs) + 1),
         |      i -> $ok)) AS BIGINT) AS $cnt
         |  FROM ${out}x)""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, text
       |    || (CASE WHEN doc_id % 6 = 0
       |        THEN ' card 4532015112830366 ok' ELSE '' END)
       |    || (CASE WHEN doc_id % 7 = 0
       |        THEN ' ref 4532015112830367 kept' ELSE '' END)
       |    || (CASE WHEN doc_id % 11 = 0
       |        THEN ' acct GB29NWBK60161331926819 paid' ELSE '' END)
       |    || (CASE WHEN doc_id % 13 = 0
       |        THEN ' code DE89370400440532013001 kept' ELSE '' END)
       |    || (CASE WHEN doc_id % 5 = 0
       |        THEN ' mail bob.smith+x@example.org now' ELSE '' END)
       |    || (CASE WHEN doc_id % 4 = 0
       |        THEN ' order 1234567890' ELSE '' END) AS text
       |  FROM documents),
       |em AS (
       |  SELECT doc_id,
       |    regexp_replace(text, '$emailP', '<EMAIL>', 'g') AS text,
       |    CAST(len(regexp_extract_all(text, '$emailP')) AS BIGINT)
       |      AS n_emails
       |  FROM d),
       |${layer("em", "ib", "[A-Z0-9]+", ibanOk, "<IBAN>", "n_ibans")},
       |${layer("ib", "cd", "[0-9]+", cardOk, "<CARD>", "n_cards")}
       |SELECT em.doc_id, em.n_emails, cd.n_cards, ib.n_ibans,
       |  cd.text AS redacted
       |FROM em JOIN ib USING (doc_id) JOIN cd USING (doc_id)""".stripMargin
  }

  /** Packed-span offsets (TextAnalysis.packSpans ∘ q285's FFD,
    * composability proof #6): the per-language FFD bins unfold into
    * each document's [start, end) token span in pack order — the
    * boundary table a packed training batch ships with. The oracle
    * extends the q285 recursive FFD replay with a per-(lang, bin)
    * running sum over the insertion order. */
  private def q340(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packSpans(
      TextAnalysis.packFirstFitDecreasing(
        t(s, dir, "documents").select(col("lang"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("ntok")),
        "lang", "doc_id", "ntok", capacity = 128L),
      "lang", "doc_id", "tokens", "bin")

  private val q340Sql: String = {
    val fits = "list_filter(range(1, len(f.loads) + 1), " +
      "i -> f.loads[i] + o.tok <= 128)"
    s"""WITH RECURSIVE d AS (
       |  SELECT lang, doc_id,
       |    CAST(len(list_filter(regexp_split_to_array(lower(text),
       |      '\\s+'), x -> x != '')) AS BIGINT) AS tok
       |  FROM documents),
       |o AS (
       |  SELECT lang, doc_id, tok,
       |    row_number() OVER (PARTITION BY lang ORDER BY tok DESC,
       |      doc_id) AS rn
       |  FROM d),
       |ffd AS (
       |  SELECT lang, 0 AS rn, CAST(NULL AS BIGINT) AS doc_id,
       |    CAST(NULL AS BIGINT) AS tok, CAST(NULL AS BIGINT) AS bin,
       |    CAST([] AS BIGINT[]) AS loads
       |  FROM (SELECT DISTINCT lang FROM o)
       |  UNION ALL
       |  SELECT o.lang, o.rn, o.doc_id, o.tok,
       |    CASE WHEN len($fits) > 0
       |         THEN CAST($fits[1] - 1 AS BIGINT)
       |         ELSE CAST(len(f.loads) AS BIGINT) END,
       |    CASE WHEN len($fits) > 0
       |         THEN list_transform(range(1, len(f.loads) + 1),
       |                i -> CASE WHEN i = $fits[1]
       |                     THEN f.loads[i] + o.tok
       |                     ELSE f.loads[i] END)
       |         ELSE list_append(f.loads, o.tok) END
       |  FROM ffd f JOIN o ON o.lang = f.lang AND o.rn = f.rn + 1)
       |SELECT lang, bin, doc_id,
       |  CAST(coalesce(sum(tok) OVER (PARTITION BY lang, bin
       |    ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND
       |    1 PRECEDING), 0) AS BIGINT) AS start,
       |  CAST(sum(tok) OVER (PARTITION BY lang, bin ORDER BY rn
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS "end"
       |FROM ffd WHERE rn > 0""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Widened language ID (q331/q332) — fixture sentences and oracle SQL
  // both derive from the ONE WideLangProfiles table.
  // ---------------------------------------------------------------------

  /** One planted sentence per language: its 10 profile words verbatim
    * (so its own score is exactly 10 and every cross-language score is
    * the table's true lexical overlap); slot 24 is the number/garble
    * soup that must abstain to "und". */
  private val wideLangSentences: Seq[(String, String)] =
    TextAnalysis.WideLangProfiles.map { case (lang, sw) =>
      lang -> sw.mkString(" ")
    } :+ ("und" -> "42 1337 999 xyzzy12 qq7")

  private def wideLangFixture(s: SparkSession, dir: String): DataFrame = {
    val slot = pmod(col("doc_id"), lit(25L))
    val text = wideLangSentences.zipWithIndex.tail.foldLeft(
      lit(wideLangSentences.head._2)) { case (acc, ((_, sent), i)) =>
        when(slot === i.toLong, lit(sent)).otherwise(acc)
    }
    val truth = wideLangSentences.zipWithIndex.tail.foldLeft(
      lit(wideLangSentences.head._1)) { case (acc, ((lang, _), i)) =>
        when(slot === i.toLong, lit(lang)).otherwise(acc)
    }
    t(s, dir, "documents").select(col("doc_id"), text.as("text"),
      truth.as("lang_true"))
  }

  private val wideLangFixtureSql: String = {
    val cases = wideLangSentences.zipWithIndex.map { case ((lang, sent), i) =>
      s"WHEN $i THEN '$sent'"
    }.mkString("\n      |      ")
    val truthCases = wideLangSentences.zipWithIndex.map { case ((lang, _), i) =>
      s"WHEN $i THEN '$lang'"
    }.mkString("\n      |      ")
    s"""fx AS (
      |  SELECT doc_id,
      |    CASE doc_id % 25
      |      $cases
      |    END AS text,
      |    CASE doc_id % 25
      |      $truthCases
      |    END AS lang_true
      |  FROM documents)""".stripMargin
  }

  /** Score/argmax/margin replay over the UAX-29-token oracle fragment
    * (the q305 kernel twin), one CTE chain ending in `wpred`. */
  private val wideLangPredSql: String = {
    val scoreCols = TextAnalysis.WideLangProfiles.map { case (lang, sw) =>
      val words = sw.map(w => s"'$w'").mkString(", ")
      s"""CAST(len(list_filter(toks, t -> list_contains([$words], t)))
         |      AS BIGINT) AS s_$lang""".stripMargin
    }.mkString(",\n    ")
    val colNames = TextAnalysis.WideLangProfiles.map(p => s"s_${p._1}")
    val greatestArgs = colNames.mkString(", ")
    val argmaxCases = TextAnalysis.WideLangProfiles.map { case (lang, _) =>
      s"WHEN s_$lang = best THEN '$lang'"
    }.mkString("\n      ")
    s"""wtk AS (
      |  SELECT doc_id, lang_true, regexp_extract_all(
      |    regexp_replace(lower(text),
      |      '([\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Thai}])', ' \\1 ',
      |      'g'),
      |    '[\\p{L}\\p{Nd}\\p{Mn}\\p{Mc}_]+(?:[''’][\\p{L}\\p{Nd}\\p{Mn}\\p{Mc}_]+)*')
      |    AS toks
      |  FROM fx),
      |wsc AS (
      |  SELECT doc_id, lang_true,
      |    $scoreCols
      |  FROM wtk),
      |wrk AS (
      |  SELECT *, greatest($greatestArgs) AS best,
      |    list_sort([$greatestArgs], 'DESC')[2] AS second
      |  FROM wsc),
      |wpred AS (
      |  SELECT doc_id, lang_true, best AS best_hits,
      |    second AS second_hits,
      |    CASE WHEN best > 0 THEN 1000000 * (best - second) // best END
      |      AS margin_micro,
      |    CASE WHEN best = 0
      |        OR (1000000 * (best - second) // best) < 200000 THEN 'und'
      |      ELSE CASE
      |      $argmaxCases
      |      END END AS lang_pred
      |  FROM wrk)""".stripMargin
  }

  /** Widened 24-language stopword-argmax ID with margin abstention
    * (TextAnalysis.langIdWide) over a 25-slot multi-script fixture —
    * one slot per language (CJK/Thai scorable only through the UAX-29
    * segmenter) plus a number-soup slot that must abstain to "und".
    * The oracle replays segmentation, all 24 scores, the argmax, the
    * relative margin and the abstention rule exactly. */
  private def q331(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langIdWide(wideLangFixture(s, dir), "doc_id", "text")

  private val q331Sql: String =
    s"""WITH $wideLangFixtureSql,
       |$wideLangPredSql
       |SELECT doc_id, lang_pred, best_hits, second_hits, margin_micro
       |FROM wpred""".stripMargin

  /** Confusion matrix of the widened language ID against the planted
    * truth (the q299 classifier-eval shape over [[q331]]'s model):
    * per (lang_true, lang_pred), count and integral recall — the
    * no-regression readout for the original five languages (their
    * diagonal rows must stay at recall 10⁶) and the abstention row
    * for the garble slot. */
  private def q332(s: SparkSession, dir: String): DataFrame = {
    val fx = wideLangFixture(s, dir).localCheckpoint()
    val pred = TextAnalysis.langIdWide(fx, "doc_id", "text")
      .select(col("doc_id"), col("lang_pred"))
    val joined = fx.select(col("doc_id"), col("lang_true"))
      .join(pred, "doc_id")
      .groupBy(col("lang_true"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val tot = joined.groupBy(col("lang_true"))
      .agg(sum(col("n")).as("__t"))
    joined.join(tot, "lang_true")
      .select(col("lang_true"), col("lang_pred"), col("n"),
        expr("1000000 * n div __t").as("recall_micro"))
  }

  private val q332Sql: String =
    s"""WITH $wideLangFixtureSql,
       |$wideLangPredSql,
       |j AS (
       |  SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n
       |  FROM wpred GROUP BY 1, 2),
       |t AS (SELECT lang_true, CAST(sum(n) AS BIGINT) AS tt
       |      FROM j GROUP BY 1)
       |SELECT j.lang_true, j.lang_pred, j.n,
       |  1000000 * j.n // t.tt AS recall_micro
       |FROM j JOIN t ON t.lang_true = j.lang_true""".stripMargin

  // ---------------------------------------------------------------------
  // HTML→text extraction front door (q341/q342): the documents table
  // serialized into ONE WARC stream of HTTP-response records wrapping
  // HTML, with every front-door outcome planted by doc_id % 10:
  //   1 → HTTP 404 (skip_status)          2 → image/jpeg (not_text)
  //   3 → not an HTTP message (corrupt_http)
  //   4 → text/plain (ok_plain, body verbatim)
  //   5 → header says charset=utf-8 but the body carries a raw 0x97
  //       byte → invalid UTF-8 → windows-1252 FALLBACK (the declared-
  //       vs-actual mismatch; 0x97 decodes to U+2014 "—")
  //   6 → charset only in a <meta charset="iso-8859-1"> prescan tag;
  //       the UTF-8 "café" bytes decode as latin-1 MOJIBAKE "cafÃ©"
  //   7 → Transfer-Encoding: chunked (two chunks + terminator)
  //   8 → boilerplate-only page (nav + tiny + footer → empty_text)
  //   9 → charset=ISO-8859-1 in the Content-Type header (same
  //       mojibake, source 'header' instead of 'meta')
  //   0 → plain undeclared UTF-8 HTML
  // Every HTML page wraps its document text in one content paragraph
  // between a nav, a short block and a footer — the boilerplate rules
  // must drop exactly the furniture. The oracle never parses anything:
  // it constructs the expected (status, charset, text) rows
  // analytically from the variant table (document text is verified
  // single-space ASCII, so the extractor's whitespace collapse is the
  // identity on it).
  // ---------------------------------------------------------------------

  /** The content-paragraph prefix — ≥25 chars even before the variant
    * marker, so the surviving block can never trip the short-line rule
    * regardless of document length. */
  private val htmlPrefix = "CONTENT PARAGRAPH MARKER"

  /** The variant -> front-door status mapping, shared by the q341 and
    * q347 oracles (expects `v` = doc_id % 10 in scope). */
  private val htmlStatusCaseSql: String =
    """CASE WHEN v = 1 THEN 'skip_status'
      |       WHEN v = 2 THEN 'not_text'
      |       WHEN v = 3 THEN 'corrupt_http'
      |       WHEN v = 8 THEN 'empty_text'
      |       WHEN v = 4 THEN 'ok_plain'
      |       ELSE 'ok' END""".stripMargin

  /** Parsed-record table of the HTML fixture, STAGED to parquet once
    * per JVM (the q85 stageFixture discipline): six gates (q341/q342/
    * q345/q347/q348/q350) consume the same records — staging the
    * post-walk table means the stream build + single-row WARC walk
    * run once, and every gate starts from a columnar scan (the
    * production shape: a landed ingest table). */
  private def htmlFixtureRecords(s: SparkSession, dir: String): DataFrame =
    stageFixture(s, "html_warc_records", dir) {
      htmlFixtureRecordsRaw(s, dir)
    }

  private def htmlFixtureRecordsRaw(s: SparkSession, dir: String): DataFrame = {
    val crlf = "\r\n"
    val docs = t(s, dir, "documents")
    val v = pmod(col("doc_id"), lit(10L))
    // nav carries two ABSOLUTE cross-host links (the q348 webgraph
    // feedstock: host(id) -> host(id+1), host(id) -> host(id+3), mod 7)
    // plus a relative link the outlink scanner must drop; every third
    // page plants a robots noindex meta (the q347 compliance signal)
    val nav = concat(lit("<nav><a href=\"/\">Home</a> <a href=\"http://host"),
      pmod(col("doc_id") + 1L, lit(7L)).cast("string"),
      lit(".example.com/p\">peer</a> <a href=\"http://host"),
      pmod(col("doc_id") + 3L, lit(7L)).cast("string"),
      lit(".example.com/q\">other</a> more nav links</nav>"))
    val footer = "<footer>Copyright 2024 Example Site All Rights " +
      "Reserved</footer>"
    val head = concat(lit("<html><head><title>Title Block Dropped</title>"),
      when(v === 6L, lit("<meta charset=\"iso-8859-1\">")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(3L)) === 0L,
        lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
        .otherwise(lit("")),
      lit("</head><body>"), nav)
    val tail = lit("<p>short</p>" + footer + "</body></html>")
    // v5 splits around the raw 0x97 byte; every other variant keeps
    // htmlB empty
    val marker = when(v === 6L || v === 9L, lit(" café")).otherwise(lit(""))
    val htmlA = when(v === 8L,
      concat(head, lit("<p>tiny</p>"), tail))
      .when(v === 5L, concat(head, lit("<p>" + htmlPrefix + " DASH")))
      .otherwise(concat(head, lit("<p>" + htmlPrefix), marker,
        lit(": "), col("text"), lit("</p>"), tail))
    val htmlB = when(v === 5L,
      concat(lit("DASH: "), col("text"), lit("</p>"), tail))
      .otherwise(lit(""))
    // chunked framing for v7 (pure-ASCII html: chars == octets)
    val chunked = {
      val h = htmlA
      concat(lit("10" + crlf), substring(h, 1, 16), lit(crlf),
        lower(conv((length(h) - 16).cast("string"), 10, 16)), lit(crlf),
        h.substr(lit(17), length(h)), lit(crlf), lit("0" + crlf + crlf))
    }
    val headers = concat(
      when(v === 1L, lit("HTTP/1.1 404 Not Found" + crlf))
        .otherwise(lit("HTTP/1.1 200 OK" + crlf)),
      when(v === 2L, lit("Content-Type: image/jpeg" + crlf))
        .when(v === 4L, lit("Content-Type: text/plain" + crlf))
        .when(v === 5L, lit("Content-Type: text/html; charset=utf-8" + crlf))
        .when(v === 9L, lit("Content-Type: text/html; charset=ISO-8859-1" + crlf))
        .otherwise(lit("Content-Type: text/html" + crlf)),
      when(v === 7L, lit("Transfer-Encoding: chunked" + crlf))
        .otherwise(lit("")),
      lit("Server: graft-fixture" + crlf + crlf))
    val bodyBin =
      when(v === 2L, lit("notimagebytes").cast("binary"))
        .when(v === 4L, concat(lit("PLAIN BODY: "), col("text"))
          .cast("binary"))
        .when(v === 7L, chunked.cast("binary"))
        .when(v === 5L, concat(htmlA.cast("binary"),
          lit(Array(0x97.toByte)), htmlB.cast("binary")))
        .otherwise(htmlA.cast("binary"))
    val payloadBin = when(v === 3L,
      concat(lit("XGARBAGE not an http message for doc "), col("doc_id"),
        lit("\n")).cast("binary"))
      .otherwise(concat(headers.cast("binary"), bodyBin))
    val warcHead = concat(lit("WARC/1.0" + crlf +
        "WARC-Type: response" + crlf +
        "WARC-Record-ID: <urn:uuid:"), col("doc_id"), lit(">" + crlf +
        "WARC-Date: 2024-01-01T00:00:00Z" + crlf +
        "WARC-Target-URI: http://host"), pmod(col("doc_id"), lit(7L)),
      lit(".example.com/doc/"), col("doc_id"),
      lit(crlf + "Content-Type: application/http; msgtype=response" + crlf +
        "Content-Length: "), length(payloadBin).cast("string"),
      lit(crlf + crlf))
    val seg = concat(warcHead.cast("binary"), payloadBin,
      lit((crlf + crlf).getBytes("UTF-8")))
    val stream = docs.select(col("doc_id"), seg.as("__seg"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("doc_id"),
          col("__seg")))), x => x.getField("__seg")),
        lit(Array.emptyByteArray),
        (acc, x) => concat(acc, x)).as("content"))
    Warc.records(stream.select(lit("htmlfix.warc").as("path"),
      col("content")))
  }

  /** HTML→text extraction (HtmlText.extractFromWarc over the variant
    * fixture): HTTP strip, charset determination (header / meta
    * prescan / UTF-8-validation fallback), tag strip + block
    * segmentation + boilerplate line rules, three-way-plus status
    * contract — all map-only custom expressions. */
  private def q341(s: SparkSession, dir: String): DataFrame =
    HtmlText.extractFromWarc(htmlFixtureRecords(s, dir))
      .select(regexp_extract(col("record_id"), "<urn:uuid:(\\d+)>", 1)
          .cast("long").as("doc_id"),
        col("status_code"), col("content_type"), col("charset"),
        col("charset_source"), col("text"), col("title"),
        col("_status").as("status"))

  private val q341Sql: String =
    s"""WITH d AS (SELECT doc_id, text, doc_id % 10 AS v FROM documents)
       |SELECT doc_id,
       |  CASE WHEN v = 3 THEN NULL WHEN v = 1 THEN 404
       |       ELSE 200 END AS status_code,
       |  CASE WHEN v = 3 THEN NULL
       |       WHEN v = 2 THEN 'image/jpeg'
       |       WHEN v = 4 THEN 'text/plain'
       |       ELSE 'text/html' END AS content_type,
       |  CASE WHEN v IN (1, 2, 3) THEN NULL
       |       WHEN v = 5 THEN 'windows-1252'
       |       WHEN v IN (6, 9) THEN 'iso-8859-1'
       |       ELSE 'utf-8' END AS charset,
       |  CASE WHEN v IN (1, 2, 3) THEN NULL
       |       WHEN v = 5 THEN 'fallback'
       |       WHEN v = 6 THEN 'meta'
       |       WHEN v = 9 THEN 'header'
       |       ELSE 'utf8' END AS charset_source,
       |  CASE WHEN v IN (1, 2, 3, 8) THEN NULL
       |       WHEN v = 4 THEN 'PLAIN BODY: ' || text
       |       WHEN v = 5 THEN '$htmlPrefix DASH—DASH: ' || text
       |       WHEN v IN (6, 9) THEN '$htmlPrefix cafÃ©: ' || text
       |       ELSE '$htmlPrefix: ' || text END AS text,
       |  CASE WHEN v NOT IN (1, 2, 3, 4)
       |    THEN 'Title Block Dropped' END AS title,
       |  $htmlStatusCaseSql AS status
       |FROM d""".stripMargin


  /** Composability proof #7a — the FULL text front door: WARC walk →
    * HTTP strip → charset decode → boilerplate extraction → quality
    * features (q335 re-run over EXTRACTED text instead of raw
    * payloads). Only confidently-UTF-8 pages curate (charset filter —
    * the CCNet discipline); the oracle reconstructs each surviving
    * page's extracted text analytically and replays the quality math
    * on it. */
  private def q342(s: SparkSession, dir: String): DataFrame = {
    val extracted = HtmlText.valid(
      HtmlText.extractFromWarc(htmlFixtureRecords(s, dir)))
      .where(col("charset") === "utf-8")
      .select(regexp_extract(col("record_id"), "<urn:uuid:(\\d+)>", 1)
          .cast("long").as("doc_id"),
        col("text"))
    TextAnalysis.qualityFeatures(extracted, "doc_id", "text")
      .withColumn("n_tokens", col("n_tokens").cast("long"))
  }

  private val q342Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text, doc_id % 10 AS v FROM documents
       |  WHERE doc_id % 10 IN (0, 4, 7)),
       |e AS (
       |  SELECT doc_id,
       |    CASE WHEN v = 4 THEN 'PLAIN BODY: ' || text
       |         ELSE '$htmlPrefix: ' || text END AS text
       |  FROM d),
       |toks AS (SELECT doc_id, text, $toksSql AS tk FROM e),
       |f AS (
       |  SELECT doc_id,
       |    $qualityFeatSql
       |  FROM toks)
       |SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
       |  round(mean_tok_len, 6) AS mean_tok_len,
       |  round(alnum_ratio, 6) AS alnum_ratio,
       |  round(stopword_ratio, 6) AS stopword_ratio,
       |  $qualityScoreSql AS quality_score
       |FROM f""".stripMargin

  // ---------------------------------------------------------------------
  // Trained quality classifier (q343/q344): fixed-round integer
  // averaged perceptron over hashingVectorizer features (the q82
  // featurization), trained driver-side on a bounded labeled set and
  // served distributed — the DCLM/fastText-shaped step. Labels come
  // from a deterministic rule (≥ 9 occurrences of 5 common corpus
  // words → +1) over the doc_id % 8 == 1 training split; q343 gates
  // the trained WEIGHTS bit-exact (the oracle unrolls every one of
  // the rounds × n_train sequential steps as a recursive CTE), q344
  // gates the held-out SERVING readout (margins, predictions, labels).
  // ---------------------------------------------------------------------

  private val clsStops = Seq("the", "a", "value", "table", "key")
  private val clsThreshold = 9
  private val clsRounds = 3
  private val clsDim = 64

  private def clsLabels(docs: DataFrame): DataFrame = {
    val stops = array(clsStops.map(lit): _*)
    docs.select(col("doc_id"),
      when(size(filter(ws_tokens(col("text")),
        t => array_contains(stops, t))) >= clsThreshold, 1L)
        .otherwise(-1L).as("label"))
  }

  private def clsModel(docs: DataFrame): QualityClassifier.PerceptronModel = {
    // %8==1 train split (63 docs, 189 sequential steps): the oracle's
    // recursive CTE pays ~60 ms/step of fixed iteration overhead, so
    // the unroll is sized to stay ~10 s while the held-out %4==0
    // serving split stays disjoint and full-width
    val train = docs.where(pmod(col("doc_id"), lit(8L)) === 1L)
    QualityClassifier.trainAveragedPerceptron(
      TextAnalysis.hashingVectorizer(train, "doc_id", "text", clsDim),
      clsLabels(train), "doc_id", "label", clsDim, rounds = clsRounds)
  }

  private def q343(s: SparkSession, dir: String): DataFrame =
    QualityClassifier.weightsFrame(s, clsModel(t(s, dir, "documents")))

  private def q344(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model = clsModel(docs)
    val held = docs.where(pmod(col("doc_id"), lit(4L)) === 0L)
    QualityClassifier.scoreAveraged(s,
        TextAnalysis.hashingVectorizer(held, "doc_id", "text", clsDim),
        "doc_id", model)
      .join(clsLabels(held), Seq("doc_id"))
      .select(col("doc_id"), col("margin"), col("pred"), col("label"))
  }

  /** The shared oracle CTE chain: tokenized docs, the training split
    * with labels and per-token feature buckets, the ascending-id
    * visit order with DENSE 64-vectors, and the full sequential
    * perceptron unroll (one recursive-CTE row per step carrying w, b
    * and their running sums). */
  private val clsCtes: String = {
    val stops = clsStops.map(w => s"'$w'").mkString("[", ", ", "]")
    val cond = s"o.y * (list_sum(list_transform(range(1, ${clsDim + 1}), " +
      "i -> s.w[i] * o.x[i])) + s.b) <= 0"
    val wn = s"CASE WHEN $cond THEN list_transform(range(1, ${clsDim + 1}), " +
      "i -> s.w[i] + o.y * o.x[i]) ELSE s.w END"
    val bn = s"CASE WHEN $cond THEN s.b + o.y ELSE s.b END"
    // wn/bn are hoisted into a derived table so the updated weight
    // VECTOR is computed once per step — inlining it into the u-update
    // lambda would re-evaluate the whole 64-element CASE per element
    // (measured 96 s -> ~1 s on the 1125-step unroll)
    s"""ctk AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |cfx AS (
       |  SELECT doc_id,
       |    CASE WHEN len(list_filter(tk, x -> list_contains($stops, x)))
       |           >= $clsThreshold
       |      THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y,
       |    list_transform(tk, x -> ${md5LongSql("x")} % $clsDim) AS ds
       |  FROM ctk),
       |ord AS (
       |  SELECT doc_id, y,
       |    list_transform(range(0, $clsDim),
       |      d -> CAST(len(list_filter(ds, z -> z = d)) AS BIGINT)) AS x,
       |    row_number() OVER (ORDER BY doc_id) AS rn,
       |    count(*) OVER () AS n
       |  FROM cfx WHERE doc_id % 8 = 1),
       |steps AS (
       |  SELECT CAST(0 AS BIGINT) AS k,
       |    list_transform(range(0, $clsDim), d -> CAST(0 AS BIGINT)) AS w,
       |    CAST(0 AS BIGINT) AS b,
       |    list_transform(range(0, $clsDim), d -> CAST(0 AS BIGINT)) AS u,
       |    CAST(0 AS BIGINT) AS ub
  UNION ALL
       |  SELECT k + 1, wn, bn,
       |    list_transform(range(1, ${clsDim + 1}), i -> u[i] + wn[i]),
       |    ub + bn
       |  FROM (
       |    SELECT s.k, s.u, s.ub,
       |      $wn AS wn,
       |      $bn AS bn
       |    FROM steps s JOIN ord o
       |      ON o.rn = s.k % o.n + 1 AND s.k < o.n * $clsRounds)),
       |fin AS (SELECT w, b, u, ub FROM steps ORDER BY k DESC LIMIT 1)""".stripMargin
  }

  private val q343Sql: String =
    s"""WITH RECURSIVE $clsCtes
       |SELECT CAST(r.d AS BIGINT) AS dim, f.w[r.d + 1] AS w,
       |  f.u[r.d + 1] AS w_sum
       |FROM fin f, range(0, $clsDim) r(d)
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT) AS dim, f.b AS w, f.ub AS w_sum
       |FROM fin f""".stripMargin

  private val q344Sql: String =
    s"""WITH RECURSIVE $clsCtes,
       |held AS (SELECT doc_id, y, ds FROM cfx WHERE doc_id % 4 = 0)
       |SELECT h.doc_id,
       |  CAST(coalesce(list_sum(list_transform(h.ds, z -> f.u[z + 1])),
       |    0) + f.ub AS BIGINT) AS margin,
       |  CAST(coalesce(list_sum(list_transform(h.ds, z -> f.u[z + 1])),
       |    0) + f.ub AS BIGINT) > 0 AS pred,
       |  h.y AS label
       |FROM held h CROSS JOIN fin f""".stripMargin

  /** Composability proof #7b — LAION-shape image-text pair curation,
    * the first CROSS-MODAL join pipeline: the q85 image corpus pairs
    * each image with a caption (doc_id = img_id mod |documents|), then
    * ONE gate runs the whole curation chain — (1) image near-dup
    * collapse (dHash → banded LSH → connected components, only each
    * cluster's canonical image survives), (2) caption quality (the q90
    * linear scorer, keep = score ≥ 0), (3) eval decontamination (the
    * q88 multi-set Bloom gate; captions drawn from an eval-set source
    * are contaminated by definition, train captions by bloom hit).
    * Output = the curation manifest: every canonical pair with its
    * dedup / quality / decon readouts and the final `kept` verdict
    * (the filtered corpus is `WHERE kept`). The oracle replays all three chains
    * over the shared q85/q88/q90 CTE fragments, so the composition
    * matches only if every stage and the join mapping are exact.
    * Image collapse runs FIRST — captions are scanned only for
    * canonical survivors (the plan-audited join order). */
  private def q345(s: SparkSession, dir: String): DataFrame = {
    val withMat = q85Fixture(s, dir)
    val pairs = Dedup.dhashPairs(withMat, "img_id", "matrix",
      maxHamming = 6, bandBytes = 2)
    val cc = Dedup.connectedComponents(
        pairs.select(col("id_a"), col("id_b")),
        withMat.select(col("img_id")))
      .select(col("id").as("img_id"), col("cluster_id"))
      .localCheckpoint() // consumed twice: sizes + canonical filter
    val csize = cc.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    val docs = t(s, dir, "documents")
    val nDocs = docs.agg((max(col("doc_id")) + 1L).as("__nd"))
    // dedup collapse FIRST: only canonical images carry a caption
    // forward into the text-side scans
    val canon = cc.where(col("img_id") === col("cluster_id"))
      .join(csize, Seq("cluster_id"))
      .crossJoin(broadcast(nDocs))
      .select(col("img_id"), col("cluster_id"), col("cluster_size"),
        pmod(col("img_id"), col("__nd")).as("doc_id"))
    val quality = TextAnalysis.classifierQualityFilter(docs, "doc_id",
        "text", bias = -0.7, wMeanLen = 0.05, wAlpha = 0.4,
        wStop = 1.0, wDigit = -3.0)
      .select(col("doc_id"), col("score_micro"), col("keep"))
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3,
        extraCols = Seq("source"))
      .withColumn("shingles",
        coalesce(col("shingles"), array().cast("array<string>")))
    val dec = Sketches.multiBloomDecontaminate(
        sh.where(col("source").isin(deconSetNames: _*))
          .select(col("source").as("set_name"), col("shingles")),
        sh.where(!col("source").isin(deconSetNames: _*))
          .select(col("doc_id"), col("shingles")),
        deconM, deconK)
      .groupBy("doc_id")
      .agg(max(when(col("contaminated"), 1L).otherwise(0L)).as("__c"),
        sum(col("n_hits")).as("__hits"))
    val docFlags = docs.select(col("doc_id"), col("source"))
      .join(quality, Seq("doc_id"))
      .join(dec, Seq("doc_id"), "left")
      .select(col("doc_id"), col("score_micro"), col("keep"),
        (col("source").isin(deconSetNames: _*) ||
          coalesce(col("__c"), lit(0L)) === 1L).as("contaminated"),
        coalesce(col("__hits"), lit(0L)).as("n_eval_hits"))
    canon.join(docFlags, Seq("doc_id"))
      .select(col("img_id"), col("doc_id"), col("cluster_id"),
        col("cluster_size"), col("score_micro"), col("n_eval_hits"),
        col("keep").as("caption_keep"), col("contaminated"),
        (col("keep") && !col("contaminated")).as("kept"))
  }

  private val q345Sql: String = {
    val k = deconK
    val hitUnion = deconSetNames.map(s =>
      s"""SELECT g.doc_id, count(*) AS n FROM (
         |      SELECT hp.doc_id, hp.si
         |      FROM hp JOIN bits_$s ON bits_$s.b = hp.b
         |      GROUP BY hp.doc_id, hp.si HAVING count(*) = $k) g
         |    GROUP BY g.doc_id""".stripMargin)
      .mkString("\n    UNION ALL\n    ")
    s"""WITH RECURSIVE $dhashCcCtes,
       |$deconCtes,
       |$classifierCtesBody,
       |hits AS (
       |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_eval_hits,
       |    max(n) > 0 AS bloom_hit
       |  FROM (
       |    $hitUnion
       |  ) GROUP BY doc_id),
       |dflag AS (
       |  SELECT z.doc_id,
       |    CAST(floor(z.z * 1000000.0) AS BIGINT) AS score_micro,
       |    floor(z.z * 1000000.0) >= 0 AS keep,
       |    (d.source IN ($deconSetsList))
       |      OR coalesce(h.bloom_hit, false) AS contaminated,
       |    CAST(coalesce(h.n_eval_hits, 0) AS BIGINT) AS n_eval_hits
       |  FROM z JOIN documents d ON d.doc_id = z.doc_id
       |  LEFT JOIN hits h ON h.doc_id = z.doc_id),
       |csz AS (SELECT cluster_id, CAST(count(*) AS BIGINT)
       |          AS cluster_size FROM cc GROUP BY 1),
       |nd AS (SELECT max(doc_id) + 1 AS nd FROM documents),
       |canon AS (
       |  SELECT cc.id AS img_id, cc.cluster_id, csz.cluster_size,
       |    cc.id % nd.nd AS doc_id
       |  FROM cc JOIN csz USING (cluster_id) CROSS JOIN nd
       |  WHERE cc.id = cc.cluster_id)
       |SELECT c.img_id, c.doc_id, c.cluster_id, c.cluster_size,
       |  f.score_micro, f.n_eval_hits, f.keep AS caption_keep,
       |  f.contaminated, f.keep AND NOT f.contaminated AS kept
       |FROM canon c JOIN dflag f USING (doc_id)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Exact-substring dedup recall (q346): q86/q102 run Lee et al.'s
  // pass over 16-token windows at stride 8 — duplicates shorter than
  // the window, or offset-misaligned below the stride, escape BY
  // CONSTRUCTION. This gate MEASURES that bound (the q326 banding-
  // recall discipline): a planted fixture copies an L-token span from
  // a source doc (at token offset o) into a partner doc (at offset p)
  // for 16 (L, o, p) grid cases around the window/stride geometry, all
  // other tokens unique per doc, so the ONLY possible cross-doc
  // windows are planted ones. Detection law (both sides must own an
  // aligned window): caught iff ∃ i ≡ −o ≡ −p (mod 8) with
  // i + 16 ≤ L — so RELATIVE misalignment (o ≢ p mod 8) is never
  // caught at ANY length, and aligned copies need L ≥ 16 + ((−o) mod 8).
  // The oracle replays fixture construction, the exact window
  // schedule, fingerprints and ownership, and the same per-case
  // roll-up.
  // ---------------------------------------------------------------------

  /** (span tokens L, source offset o, dest offset p) — aligned hits,
    * stride-misaligned escapes, sub-window escapes, and boundary
    * cases (L = 16 + pad exactly / one short). Expected catches:
    * cases 0, 1, 3, 8, 9, 10, 12, 13, 14 — 9 of 16. */
  private val srCases: Seq[(Int, Int, Int)] = Seq(
    (16, 0, 0), (16, 0, 8), (16, 3, 3), (24, 3, 3),
    (16, 0, 3), (24, 0, 3), (8, 0, 0), (12, 0, 0),
    (20, 0, 0), (31, 1, 1), (23, 1, 1), (22, 1, 1),
    (16, 8, 0), (40, 3, 11), (32, 0, 16), (15, 0, 0))

  private def srCaseArr(f: ((Int, Int, Int)) => Int): Column =
    array(srCases.map(x => lit(f(x).toLong)): _*)

  private def srFixture(s: SparkSession, dir: String): DataFrame = {
    val c = pmod(col("j"), lit(16L))
    t(s, dir, "documents").select(col("doc_id").as("j"))
      .select(col("j"),
        element_at(srCaseArr(_._1), (c + 1L).cast("int")).as("__L"),
        element_at(srCaseArr(_._2), (c + 1L).cast("int")).as("__o"),
        element_at(srCaseArr(_._3), (c + 1L).cast("int")).as("__p"))
      .select(col("j"), col("__L"),
        explode(array(lit(0L), lit(1L))).as("side"), col("__o"), col("__p"))
      .select((col("j") * 2L + col("side")).as("doc_id"), col("j"),
        col("__L"),
        when(col("side") === 0L, col("__o")).otherwise(col("__p"))
          .as("__off"))
      .select(col("doc_id"),
        array_join(concat(
          when(col("__off") > 0L,
            transform(sequence(lit(0L), col("__off") - 1L), i =>
              concat(lit("f"), col("doc_id").cast("string"), lit("x"),
                i.cast("string"))))
            .otherwise(array().cast("array<string>")),
          transform(sequence(lit(0L), col("__L") - 1L), k =>
            concat(lit("sp"), col("j").cast("string"), lit("t"),
              k.cast("string"))),
          transform(sequence(lit(0L), lit(3L)), i =>
            concat(lit("g"), col("doc_id").cast("string"), lit("y"),
              i.cast("string")))), " ").as("text"))
  }

  private def q346(s: SparkSession, dir: String): DataFrame = {
    val per = TextAnalysis.substringDedupSpans(srFixture(s, dir),
        "doc_id", "text")
      .where(pmod(col("doc_id"), lit(2L)) === 1L)
      .select(expr("doc_id div 2").as("j"), col("n_dup_spans"))
    val cid = col("case_id")
    per.select(pmod(col("j"), lit(16L)).as("case_id"), col("n_dup_spans"))
      .groupBy(cid)
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("n_dup_spans") > 0L, 1L).otherwise(0L))
          .as("n_detected"),
        sum(col("n_dup_spans")).as("n_dup_windows"))
      .select(cid,
        element_at(srCaseArr(_._1), (cid + 1L).cast("int"))
          .as("span_tokens"),
        element_at(srCaseArr(_._2), (cid + 1L).cast("int")).as("src_off"),
        element_at(srCaseArr(_._3), (cid + 1L).cast("int")).as("dst_off"),
        col("n_pairs"), col("n_detected"), col("n_dup_windows"),
        call_function("div", lit(1000000L) * col("n_detected"),
          col("n_pairs")).as("recall_micro"))
  }

  private val q346Sql: String = {
    val vals = srCases.zipWithIndex
      .map { case ((l, o, p), i) => s"($i, $l, $o, $p)" }.mkString(", ")
    s"""WITH cse AS (SELECT * FROM (VALUES $vals) AS t(c, l, o, p)),
       |fx AS (
       |  SELECT d.doc_id * 2 + sd.side AS doc_id, d.doc_id AS j,
       |    cse.l AS l,
       |    CASE WHEN sd.side = 0 THEN cse.o ELSE cse.p END AS off
       |  FROM documents d
       |  JOIN cse ON cse.c = d.doc_id % 16
       |  CROSS JOIN (SELECT unnest([0, 1]) AS side) sd),
       |ftk AS (
       |  SELECT doc_id,
       |    list_concat(list_concat(
       |      list_transform(range(0, off),
       |        i -> 'f' || doc_id || 'x' || i),
       |      list_transform(range(0, l),
       |        k -> 'sp' || j || 't' || k)),
       |      list_transform(range(0, 4),
       |        i -> 'g' || doc_id || 'y' || i)) AS toks
       |  FROM fx),
       |${substringSpanCtesFrom("ftk")},
       |per AS (
       |  SELECT doc_id // 2 AS j,
       |    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS ndup
       |  FROM marked WHERE doc_id % 2 = 1 GROUP BY 1),
       |agg AS (
       |  SELECT j % 16 AS case_id,
       |    CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(CASE WHEN ndup > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_detected,
       |    CAST(sum(ndup) AS BIGINT) AS n_dup_windows
       |  FROM per GROUP BY 1)
       |SELECT a.case_id, CAST(c.l AS BIGINT) AS span_tokens,
       |  CAST(c.o AS BIGINT) AS src_off, CAST(c.p AS BIGINT) AS dst_off,
       |  a.n_pairs, a.n_detected, a.n_dup_windows,
       |  CAST(1000000 * a.n_detected // a.n_pairs AS BIGINT)
       |    AS recall_micro
       |FROM agg a JOIN cse c ON c.c = a.case_id""".stripMargin
  }

  /** Crawl-compliance audit (q347): the `<meta name="robots">` signal
    * through the front door — a responsible training-data pipeline
    * drops noindex pages before curation (the C4/CCNet compliance
    * stance). Every third fixture page plants `noindex, nofollow`;
    * the audit reads the raw content, derives the noindex bit
    * NULL-safely, and emits the keep verdict (ok AND NOT noindex).
    * The oracle constructs all four columns analytically. */
  private def q347(s: SparkSession, dir: String): DataFrame = {
    val noindex = coalesce(lower(col("robots")).rlike("noindex"),
      lit(false))
    HtmlText.extractFromWarc(htmlFixtureRecords(s, dir))
      .select(regexp_extract(col("record_id"), "<urn:uuid:(\\d+)>", 1)
          .cast("long").as("doc_id"),
        col("_status").as("status"), col("robots"),
        noindex.as("noindex"),
        (col("_status") === "ok" && !noindex).as("kept"))
  }

  private val q347Sql: String =
    s"""WITH d AS (SELECT doc_id, doc_id % 10 AS v FROM documents)
       |SELECT doc_id, $htmlStatusCaseSql AS status,
       |  CASE WHEN v NOT IN (1, 2, 3, 4) AND doc_id % 3 = 0
       |    THEN 'noindex, nofollow' END AS robots,
       |  v NOT IN (1, 2, 3, 4) AND doc_id % 3 = 0 AS noindex,
       |  v NOT IN (1, 2, 3, 4, 8)
       |    AND NOT (doc_id % 3 = 0) AS kept
       |FROM d""".stripMargin

  /** Composability proof #8 — the Common Crawl WEBGRAPH product:
    * WARC → HTTP/HTML extraction → absolute-outlink scan → host-level
    * edge list → integer PageRank (Graph.pageRankInt, the crawl-
    * prioritization / quality signal Common Crawl publishes for its
    * own corpus). Each fixture page at host(id%7) links host(id+1 %7)
    * and host(id+3 %7); edges dedup to the 14-edge host graph and the
    * oracle unrolls the five integer rounds over analytically
    * constructed edges — the gate matches only if the link scanner,
    * host parse, dedup and every PageRank round are exact. */
  private def q348(s: SparkSession, dir: String): DataFrame = {
    def host(u: Column) =
      lower(regexp_extract(u, "^https?://([^/]+)", 1))
    val edges = HtmlText.extractFromWarc(htmlFixtureRecords(s, dir))
      .where(col("links").isNotNull)
      .select(host(col("target_uri")).as("src"),
        explode(col("links")).as("__l"))
      .select(col("src"), host(col("__l")).as("dst"))
      .distinct()
    Graph.pageRankInt(edges, iterations = 5)
  }

  private val q348Sql: String = {
    val rounds = (1 to 5).map { t =>
      val prev = s"r${t - 1}"
      s"""r$t AS (
         |  SELECT nodes.node,
         |    (15 * 1000000000000) // (100 * (SELECT count(*) FROM nodes))
         |    + (85 * coalesce(s.s, 0)) // 100 AS rank
         |  FROM nodes LEFT JOIN (
         |    SELECT he.dst AS node,
         |      CAST(sum($prev.rank // deg.deg) AS BIGINT) AS s
         |    FROM he JOIN $prev ON he.src = $prev.node
         |    JOIN deg ON he.src = deg.src
         |    GROUP BY 1) s ON nodes.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (SELECT doc_id, doc_id % 10 AS v FROM documents),
       |he AS (
       |  SELECT DISTINCT
       |    'host' || (doc_id % 7) || '.example.com' AS src,
       |    'host' || ((doc_id + o) % 7) || '.example.com' AS dst
       |  FROM d CROSS JOIN (SELECT unnest([1, 3]) AS o) t
       |  WHERE v NOT IN (1, 2, 3, 4)),
       |nodes AS (SELECT src AS node FROM he
       |          UNION SELECT dst FROM he),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
       |        FROM he GROUP BY 1),
       |r0 AS (SELECT node,
       |         1000000000000 // (SELECT count(*) FROM nodes) AS rank
       |       FROM nodes),
       |$rounds
       |SELECT node, rank FROM r5""".stripMargin
  }

  /** robots.txt compliance (q349): RFC 9309 group selection + glob
    * rules + longest-match over the fixture's 7 hosts — each host's
    * robots.txt plants a different rule shape (blanket disallow;
    * `*`-wildcard; allow-overrides-shorter-disallow; `$`-anchored
    * exact path; a named-agent group shadowing `*`; an equal-length
    * allow/disallow tie, allow wins; no robots.txt at all → default
    * allow). Pages are the fixture's /doc/{id} paths under agent
    * `graftbot`; the per-host robots table joins BROADCAST (7 rows)
    * and the verdict expression runs per page. The oracle constructs
    * every verdict and winning-rule label analytically. */
  private def q349(s: SparkSession, dir: String): DataFrame = {
    val nl = "\n"
    val docs = t(s, dir, "documents")
    val h = pmod(col("doc_id"), lit(7L))
    val pages = docs.select(col("doc_id"), h.as("__h"),
      concat(lit("/doc/"), col("doc_id").cast("string")).as("path"))
    val robots = docs.select(pmod(col("doc_id"), lit(7L)).as("__h"))
      .distinct()
      .select(col("__h"),
        when(col("__h") === 0L, lit("User-agent: *" + nl +
          "Disallow: /private/" + nl + "Disallow: /doc/" + nl))
          .when(col("__h") === 1L, lit("# host1 policy" + nl +
            "User-agent: *" + nl + "Disallow:" + nl +
            "Disallow: /doc/*1" + nl))
          .when(col("__h") === 2L, lit("User-agent: *" + nl +
            "Disallow: /doc/" + nl + "Allow: /doc/2" + nl))
          .when(col("__h") === 3L, lit("User-agent: *" + nl +
            "Disallow: /doc/3$" + nl))
          .when(col("__h") === 4L, lit("User-agent: graftbot" + nl +
            "Disallow: /" + nl + nl + "User-agent: *" + nl +
            "Allow: /" + nl))
          .when(col("__h") === 5L, lit("User-agent: *" + nl +
            "Allow: /doc/" + nl + "Disallow: /doc/" + nl))
          .as("txt")) // host 6: no robots.txt → NULL
    pages.join(broadcast(robots), Seq("__h"), "left")
      .select(col("doc_id"),
        concat(lit("host"), col("__h").cast("string"),
          lit(".example.com")).as("host"),
        col("path"),
        HtmlText.robots_allowed(col("txt"), col("path"),
          lit("graftbot")).as("__d"))
      .select(col("doc_id"), col("host"), col("path"),
        coalesce(col("__d.allowed"), lit(true)).as("allowed"),
        coalesce(col("__d.rule"), lit("default")).as("rule"))
  }

  private val q349Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, doc_id % 7 AS h,
       |    CAST(doc_id AS VARCHAR) AS ds
       |  FROM documents)
       |SELECT doc_id,
       |  'host' || h || '.example.com' AS host,
       |  '/doc/' || ds AS path,
       |  CASE WHEN h = 0 THEN false
       |       WHEN h = 1 THEN strpos(ds, '1') = 0
       |       WHEN h = 2 THEN ds LIKE '2%'
       |       WHEN h = 3 THEN doc_id != 3
       |       WHEN h = 4 THEN false
       |       ELSE true END AS allowed,
       |  CASE WHEN h = 0 THEN 'disallow:/doc/'
       |       WHEN h = 1 THEN CASE WHEN strpos(ds, '1') > 0
       |         THEN 'disallow:/doc/*1' ELSE 'default' END
       |       WHEN h = 2 THEN CASE WHEN ds LIKE '2%'
       |         THEN 'allow:/doc/2' ELSE 'disallow:/doc/' END
       |       WHEN h = 3 THEN CASE WHEN doc_id = 3
       |         THEN 'disallow:/doc/3$$' ELSE 'default' END
       |       WHEN h = 4 THEN 'disallow:/'
       |       WHEN h = 5 THEN 'allow:/doc/'
       |       ELSE 'default' END AS rule
       |FROM d""".stripMargin

  /** Per-domain curation mix report (q350): the FineWeb-style
    * per-host readout a 100 TB front-door run ships — one aggregation
    * over the extracted stream giving each host its page count,
    * status mix, noindex count, curated survivor count and
    * integer-exact token budget (sum + floor-div mean, never a
    * float). Curated = ok/ok_plain AND confidently-UTF-8 AND not
    * noindex — the exact q342/q347 discipline composed. The oracle
    * reconstructs every per-host count analytically from the variant
    * grid and the known token arithmetic of the extracted text. */
  private def q350(s: SparkSession, dir: String): DataFrame =
    HtmlText.domainMix(HtmlText.extractFromWarc(htmlFixtureRecords(s, dir)))

  private val q350Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text, doc_id % 10 AS v, doc_id % 7 AS h,
       |    doc_id % 3 = 0 AS m3
       |  FROM documents),
       |per AS (
       |  SELECT 'host' || h || '.example.com' AS host,
       |    $htmlStatusCaseSql AS status,
       |    (v NOT IN (1, 2, 3, 4) AND m3) AS noindex,
       |    (v IN (0, 7) AND NOT m3) OR v = 4 AS curated,
       |    CASE WHEN (v IN (0, 7) AND NOT m3)
       |           THEN 3 + len($toksSql)
       |         WHEN v = 4 THEN 2 + len($toksSql)
       |         ELSE 0 END AS tok
       |  FROM d),
       |agg AS (
       |  SELECT host,
       |    CAST(count(*) AS BIGINT) AS n_pages,
       |    CAST(sum(CASE WHEN status = 'ok' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_ok,
       |    CAST(sum(CASE WHEN status = 'ok_plain' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_ok_plain,
       |    CAST(sum(CASE WHEN status = 'empty_text' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_empty,
       |    CAST(sum(CASE WHEN status = 'skip_status' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_skip,
       |    CAST(sum(CASE WHEN status = 'not_text' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_not_text,
       |    CAST(sum(CASE WHEN status = 'corrupt_http' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_corrupt,
       |    CAST(sum(CASE WHEN noindex THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_noindex,
       |    CAST(sum(CASE WHEN curated THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_curated,
       |    CAST(sum(tok) AS BIGINT) AS curated_tokens
       |  FROM per GROUP BY 1)
       |SELECT *,
       |  CASE WHEN n_curated > 0
       |    THEN CAST(1000000 * curated_tokens // n_curated AS BIGINT)
       |  END AS mean_tokens_micro
       |FROM agg""".stripMargin

  /** Composability proof #9 — the COMPLETE web-corpus pipeline:
    * WARC → HTTP/HTML extraction → MinHash-LSH near-dup pairs →
    * transitive clusters → quality-ranked canonical keep-list — the
    * q337 keep-policy re-run over the front door's EXTRACTED text
    * instead of the raw table (ingest, extract, dedup and survivorship
    * in ONE gate). The oracle reconstructs the extracted corpus
    * analytically, replays the full LSH pair derivation over it, the
    * recursive closure, the quality math and the per-cluster argmax. */
  private def q351(s: SparkSession, dir: String): DataFrame = {
    val ext = HtmlText.valid(
        HtmlText.extractFromWarc(htmlFixtureRecords(s, dir)))
      .where(col("charset") === "utf-8")
      .select(regexp_extract(col("record_id"), "<urn:uuid:(\\d+)>", 1)
          .cast("long").as("doc_id"), col("text"))
      .localCheckpoint() // pairs + roster + scores read it
    val pairs = Dedup.minhashLshPairs(ext, "doc_id", "text",
      shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.5)
    val clusters = Dedup.connectedComponents(
        pairs.select(col("id_a"), col("id_b")),
        ext.select(col("doc_id")))
      .select(col("id").as("doc_id"), col("cluster_id"))
    val scores = TextAnalysis.qualityFeatures(ext, "doc_id", "text")
      .select(col("doc_id"), col("quality_score"))
    Dedup.canonicalKeepList(clusters, scores, "doc_id", "cluster_id",
      "quality_score")
  }

  private val q351Sql: String =
    s"""WITH RECURSIVE exd AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 4 THEN 'PLAIN BODY: ' || text
       |         ELSE '$htmlPrefix: ' || text END AS text
       |  FROM documents WHERE doc_id % 10 IN (0, 4, 7)),
       |etoks AS (SELECT doc_id, $toksSql AS tk FROM exd),
       |${minhashPairsCtesFrom("etoks")},
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL
       |  SELECT id_b AS a, id_a AS b FROM pairs),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS lbl FROM exd
       |  UNION
       |  SELECT e.b AS id, r.lbl FROM reach r JOIN edges e ON e.a = r.id),
       |cl AS (SELECT id AS doc_id, min(lbl) AS cluster_id
       |       FROM reach GROUP BY id),
       |qt AS (SELECT e.doc_id, e.text, t.tk
       |       FROM exd e JOIN etoks t USING (doc_id)),
       |qf AS (
       |  SELECT doc_id,
       |    $qualityFeatSql
       |  FROM qt),
       |sc AS (SELECT doc_id, $qualityScoreSql AS q FROM qf),
       |j AS (
       |  SELECT cl.doc_id, cl.cluster_id, sc.q
       |  FROM cl JOIN sc USING (doc_id)),
       |can AS (
       |  SELECT cluster_id, doc_id AS canonical_id FROM (
       |    SELECT cluster_id, doc_id,
       |      row_number() OVER (PARTITION BY cluster_id
       |        ORDER BY q DESC, doc_id ASC) AS rn
       |    FROM j) WHERE rn = 1)
       |SELECT j.doc_id, j.cluster_id, can.canonical_id,
       |  j.doc_id = can.canonical_id AS keep
       |FROM j JOIN can USING (cluster_id)""".stripMargin

  // ---------------------------------------------------------------------
  // BPE tokenizer (q352/q353): Sennrich 2016 merges trained on the
  // corpus word-frequency table (driver fold over the bounded distinct
  // words), then the corpus token budget under the trained merges via
  // the k-nested-replace application chain. The oracle unrolls every
  // training round (pair counts from the padded-string pieces, the
  // (count DESC, pair ASC) argmax, the left-to-right non-overlapping
  // rewrite) as chained CTEs — the q233 unigram-LM discipline for the
  // OTHER public subword algorithm.
  // ---------------------------------------------------------------------

  private val bpeMerges = 12

  /** w0/v0 + pc$i/best$i/v$i for i in 1..bpeMerges. */
  private val bpeTrainCtes: String = {
    val sep = "chr(1)"
    val rounds = (1 to bpeMerges).map { i =>
      val prev = s"v${i - 1}"
      s"""pc$i AS MATERIALIZED (
         |  SELECT p1, p2, CAST(sum(cnt) AS BIGINT) AS c FROM (
         |    SELECT t.cnt, t.pl[u.j] AS p1, t.pl[u.j + 1] AS p2
         |    FROM (SELECT cnt,
         |            list_filter(string_split(s, $sep), x -> x != '') AS pl
         |          FROM $prev) t,
         |         unnest(range(1, len(t.pl))) AS u(j))
         |  GROUP BY 1, 2),
         |best$i AS MATERIALIZED (
         |  SELECT p1, p2, c FROM pc$i
         |  ORDER BY c DESC, p1 ASC, p2 ASC LIMIT 1),
         |v$i AS MATERIALIZED (
         |  SELECT v.word, v.cnt,
         |    replace(v.s, $sep || b.p1 || $sep || b.p2 || $sep,
         |      $sep || b.p1 || b.p2 || $sep) AS s
         |  FROM $prev v CROSS JOIN best$i b)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest($toksSql) AS tok FROM documents)
       |  GROUP BY 1),
       |v0 AS MATERIALIZED (
       |  SELECT word, cnt,
       |    $sep || regexp_replace(word, '(.)', '\\1' || $sep, 'g') AS s
       |  FROM w0),
       |$rounds""".stripMargin
  }

  private def q352(s: SparkSession, dir: String): DataFrame =
    Bpe.mergesFrame(s,
      Bpe.train(t(s, dir, "documents"), "text", merges = bpeMerges))

  private val q352Sql: String = {
    val rows = (1 to bpeMerges).map { i =>
      s"""SELECT CAST(${i - 1} AS BIGINT) AS merge_idx,
         |  p1 AS left_piece, p2 AS right_piece, c AS pair_count
         |FROM best$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeTrainCtes
       |$rows""".stripMargin
  }

  /** Corpus token budget under the q352 merges — the "how many BPE
    * tokens is this corpus" readout a pretraining run budgets with.
    * The engine applies the merges DISTRIBUTED (the nested-replace
    * chain over every token); the oracle reuses the training chain's
    * final vocabulary segmentation (training already applied every
    * merge to every word), so the two agree only if the application
    * chain reproduces training's rewrites exactly. */
  private def q353(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Bpe.tokenBudget(docs, "doc_id", "text",
      Bpe.train(docs, "text", merges = bpeMerges))
  }

  private val q353Sql: String =
    s"""WITH $bpeTrainCtes,
       |dt AS (SELECT doc_id, unnest($toksSql) AS word FROM documents),
       |pw AS (
       |  SELECT word,
       |    CAST(len(list_filter(string_split(s, chr(1)),
       |      x -> x != '')) AS BIGINT) AS np
       |  FROM v$bpeMerges)
       |SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(pw.np) AS BIGINT) AS n_pieces
       |FROM dt JOIN pw USING (word)
       |GROUP BY 1""".stripMargin

  // =====================================================================
  // Registry
  // =====================================================================

  val all: Map[String, Q] = Map(
    "q01_pricing_summary" -> Q(q01, Some(q01Sql)),
    "q02_region_revenue" -> Q(q02, Some(q02Sql)),
    "q03_top_orders" -> Q(q03, Some(q03Sql)),
    "q04_anti_join_memo" -> Q(q04, Some(q04Sql)),
    "q05_semi_join_exists" -> Q(q05, Some(q05Sql)),
    "q06_intersect_keys" -> Q(q06, Some(q06Sql)),
    "q07_sliding_window_stats" -> Q(q07, Some(q07Sql)),
    "q08_top1_per_group" -> Q(q08, Some(q08Sql)),
    "q09_quantiles" -> Q(q09, Some(q09Sql)),
    "q10_volume_buckets" -> Q(q10, Some(q10Sql)),
    "q11_edge_moving_avg" -> Q(q11, Some(q11Sql)),
    "q12_savgol_smooth" -> Q(q12, Some(q12Sql)),
    "q13_linear_resample" -> Q(q13, Some(q13Sql)),
    "q14_bbox_transform" -> Q(q14, Some(q14Sql)),
    "q15_fixed_bbox" -> Q(q15, Some(q15Sql)),
    "q16_blink_features" -> Q(q16, Some(q16Sql)),
    "q17_dedup_exact" -> Q(q17, Some(q17Sql)),
    "q18_minhash_signatures" -> Q(q18, Some(q18Sql)),
    "q19_minhash_lsh_pairs" -> Q(q19, Some(q19Sql)),
    "q20_simhash" -> Q(q20, Some(q20Sql)),
    "q21_ngram_jaccard_pairs" -> Q(q21, Some(q21Sql)),
    "q22_embedding_near_dups" -> Q(q22, Some(q22Sql)),
    "q23_knn_brute_force" -> Q(q23, Some(q23Sql)),
    "q24_knn_lsh" -> Q(q24, Some(q24Sql)),
    "q25_token_counts" -> Q(q25, Some(q25Sql)),
    "q26_lang_id" -> Q(q26, Some(q26Sql)),
    "q27_quality_score" -> Q(q27, Some(q27Sql)),
    "q28_fingerprint" -> Q(q28, Some(q28Sql)),
    "q29_media_features" -> Q(q29, Some(q29Sql)),
    "q30_sessionize" -> Q(q30, Some(q30Sql)),
    "q31_emoca_sliding_bbox" -> Q(q31, Some(q31Sql)),
    "q32_equal_size_boxes" -> Q(q32, Some(q32Sql)),
    "q33_wav2vec_trim" -> Q(q33, Some(q33Sql)),
    "q34_smooth_bboxes" -> Q(q34, Some(q34Sql)),
    "q35_nan_guard" -> Q(q35, Some(q35Sql)),
    "q36_vid2vid_audio_features" -> Q(q36, Some(q36Sql)),
    "q37_brand_supplier_rollup" -> Q(q37, Some(q37Sql)),
    "q38_asof_join" -> Q(q38, Some(q38Sql)),
    "q39_knn_ivf" -> Q(q39, Some(q39Sql)),
    "q40_dedup_clusters" -> Q(q40, Some(q40Sql)),
    "q41_range_join" -> Q(q41, Some(q41Sql)),
    "q42_repetition" -> Q(q42, Some(q42Sql)),
    "q43_vocab_topk" -> Q(q43, Some(q43Sql)),
    "q44_pii_redact" -> Q(q44, Some(q44Sql)),
    "q45_stratified_sample" -> Q(q45, Some(q45Sql)),
    "q46_asof_forward" -> Q(q46, Some(q46Sql)),
    "q47_contamination" -> Q(q47, Some(q47Sql)),
    "q48_kmeans_ivf" -> Q(q48, Some(q48Sql)),
    "q49_bpe_pairs" -> Q(q49, Some(q49Sql)),
    "q50_tfidf" -> Q(q50, Some(q50Sql)),
    "q51_hash_split" -> Q(q51, Some(q51Sql)),
    "q52_hll_distinct" -> Q(q52, Some(q52Sql)),
    "q53_a2en_pack" -> Q(q53, Some(q53Sql)),
    "q54_bloom_prune" -> Q(q54, Some(q54Sql)),
    "q55_line_dedup" -> Q(q55, Some(q55Sql)),
    "q56_cms_freq" -> Q(q56, Some(q56Sql)),
    "q57_bottomk_sample" -> Q(q57, Some(q57Sql)),
    "q58_unigram_lm" -> Q(q58, Some(q58Sql)),
    "q59_semantic_dedup" -> Q(q59, Some(q59Sql)),
    "q60_curation_pipeline" -> Q(q60, Some(q60Sql)),
    "q61_hll_rollup" -> Q(q61, Some(q61Sql)),
    "q62_cms_rollup" -> Q(q62, Some(q56Sql)),
    "q63_inverted_index" -> Q(q63, Some(q63Sql)),
    "q64_zorder_key" -> Q(q64, Some(q64Sql)),
    "q65_topk_per_group" -> Q(q65, Some(q65Sql)),
    "q66_hist_quantiles" -> Q(q66, Some(q66Sql)),
    "q67_weighted_sample" -> Q(q67, Some(q67Sql)),
    "q68_packing_offsets" -> Q(q68, Some(q68Sql)),
    "q69_ngram_decontam" -> Q(q69, Some(q69Sql)),
    "q70_gopher_rules" -> Q(q70, Some(q70Sql)),
    "q71_embed_centroids" -> Q(q71, Some(q71Sql)),
    "q72_session_funnel" -> Q(q72, Some(q72Sql)),
    "q73_mixing_weights" -> Q(q73, Some(q73Sql)),
    "q74_dedup_keep_best" -> Q(q74, Some(q74Sql)),
    "q75_ngram_dup_frac" -> Q(q75, Some(q75Sql)),
    "q76_token_chunks" -> Q(q76, Some(q76Sql)),
    "q77_bm25" -> Q(q77, Some(q77Sql)),
    "q78_event_anomaly" -> Q(q78, Some(q78Sql)),
    "q79_salted_join" -> Q(q79, Some(q79Sql)),
    "q80_quality_percentile" -> Q(q80, Some(q80Sql)),
    "q81_normalized_dedup" -> Q(q81, Some(q81Sql)),
    "q82_hashing_vectorizer" -> Q(q82, Some(q82Sql)),
    "q83_corpus_overlap" -> Q(q83, Some(q83Sql)),
    "q84_table_profile" -> Q(q84, Some(q84Sql)),
    "q85_phash_dedup" -> Q(q85, Some(q85Sql)),
    "q86_substring_dedup" -> Q(q86, Some(q86Sql)),
    "q87_url_curation" -> Q(q87, Some(q87Sql)),
    "q88_multiset_decontam" -> Q(q88, Some(q88Sql)),
    "q89_paragraph_dedup" -> Q(q89, Some(q89Sql)),
    "q90_quality_classifier" -> Q(q90, Some(q90Sql)),
    "q91_dsir_sample" -> Q(q91, Some(q91Sql)),
    "q92_audio_fingerprint_dedup" -> Q(q92, Some(q92Sql)),
    "q93_pq_ann_topk" -> Q(q93, Some(q93Sql)),
    "q94_fuzzy_decontam" -> Q(q94, Some(q94Sql)),
    "q95_snapshot_delta" -> Q(q95, Some(q95Sql)),
    "q96_script_profile" -> Q(q96, Some(q96Sql)),
    // full-probe IVFADC == flat ADC: q97 shares q93's oracle verbatim
    "q97_ivfpq_index_topk" -> Q(q97, Some(q93Sql)),
    "q98_incremental_index" -> Q(q98, Some(q98Sql)),
    "q99_perplexity_filter" -> Q(q99, Some(q99Sql)),
    "q100_incremental_pq" -> Q(q100, Some(q100Sql)),
    "q101_cluster_balanced_sample" -> Q(q101, Some(q101Sql)),
    "q102_substring_dedup_removed" -> Q(q102, Some(q102Sql)),
    "q103_search_topk" -> Q(q103, Some(q103Sql)),
    "q104_hybrid_search_rrf" -> Q(q104, Some(q104Sql)),
    "q105_incremental_search_index" -> Q(q105, Some(q105Sql)),
    "q106_search_snippets" -> Q(q106, Some(q106Sql)),
    "q107_proximity_filter" -> Q(q107, Some(q107Sql)),
    "q108_multisegment_search" -> Q(q108, Some(q108Sql)),
    "q109_phrase_search" -> Q(q109, Some(q109Sql)),
    "q110_proximity_search" -> Q(q110, Some(q110Sql)),
    "q111_positional_segments" -> Q(q111, Some(q111Sql)),
    "q112_scene_cuts" -> Q(q112, Some(q112Sql)),
    "q113_silence_runs" -> Q(q113, Some(q113Sql)),
    "q114_interval_overlap_join" -> Q(q114, Some(q114Sql)),
    "q115_fuzzy_entity_link" -> Q(q115, Some(q115Sql)),
    "q116_temperature_resample" -> Q(q116, Some(q116Sql)),
    "q117_proximity_segments" -> Q(q117, Some(q117Sql)),
    "q118_cluster_safe_split" -> Q(q118, Some(q118Sql)),
    "q119_term_filter" -> Q(q119, Some(q119Sql)),
    "q120_av_sync_lag" -> Q(q120, Some(q120Sql)),
    "q121_voiced_shots" -> Q(q121, Some(q121Sql)),
    "q122_bpe_train" -> Q(q122, Some(q122Sql)),
    "q123_bpe_token_counts" -> Q(q123, Some(q123Sql)),
    "q124_robust_outliers" -> Q(q124, Some(q124Sql)),
    "q125_prefix_search" -> Q(q125, Some(q125Sql)),
    "q126_ewma_smooth" -> Q(q126, Some(q126Sql)),
    "q127_locf_grid" -> Q(q127, Some(q127Sql)),
    "q128_dict_tagging" -> Q(q128, Some(q128Sql)),
    "q129_pmi_collocations" -> Q(q129, Some(q129Sql)),
    "q130_classifier_auc" -> Q(q130, Some(q130Sql)),
    "q131_group_ols_trend" -> Q(q131, Some(q131Sql)),
    "q132_hilbert_key" -> Q(q132, Some(q132Sql)),
    "q133_markov_transitions" -> Q(q133, Some(q133Sql)),
    "q134_pagerank_collocations" -> Q(q134, Some(q134Sql)),
    "q135_triangle_counts" -> Q(q135, Some(q135Sql)),
    "q136_cube_rollup" -> Q(q136, Some(q136Sql)),
    "q137_twap" -> Q(q137, Some(q137Sql)),
    "q138_retention_cohorts" -> Q(q138, Some(q138Sql)),
    "q139_phrase_ranked" -> Q(q139, Some(q139Sql)),
    "q140_pivot_counts" -> Q(q140, Some(q140Sql)),
    "q141_loudness_stats" -> Q(q141, Some(q141Sql)),
    "q142_asof_tolerance" -> Q(q142, Some(q142Sql)),
    "q143_group_moments" -> Q(q143, Some(q143Sql)),
    "q144_token_bucket" -> Q(q144, Some(q144Sql)),
    "q145_trailing_actives" -> Q(q145, Some(q145Sql)),
    "q146_scd2_history" -> Q(q146, Some(q146Sql)),
    "q147_weighted_pagerank" -> Q(q147, Some(q147Sql)),
    "q148_clustering_coeff" -> Q(q148, Some(q148Sql)),
    "q149_validation_report" -> Q(q149, Some(q149Sql)),
    "q150_conversion_lag" -> Q(q150, Some(q150Sql)),
    "q151_exact_median" -> Q(q151, Some(q151Sql)),
    "q152_group_mode" -> Q(q152, Some(q152Sql)),
    "q153_interval_coverage" -> Q(q153, Some(q153Sql)),
    "q154_trajectory_topk" -> Q(q154, Some(q154Sql)),
    "q155_exact_mad" -> Q(q155, Some(q155Sql)),
    "q156_ppjoin_exact" -> Q(q156, Some(q156Sql)),
    "q157_ppjoin_incremental" -> Q(q157, Some(q157Sql)),
    "q158_video_neardup" -> Q(q158, Some(q158Sql)),
    "q159_decayed_popularity" -> Q(q159, Some(q159Sql)),
    "q160_containment_join" -> Q(q160, Some(q160Sql)),
    "q161_linear_resample_grid" -> Q(q161, Some(q161Sql)),
    "q162_integer_ewma" -> Q(q162, Some(q162Sql)),
    "q163_video_neardup_delta" -> Q(q163, Some(q163Sql)),
    "q164_scd2_asof_read" -> Q(q164, Some(q164Sql)),
    "q165_weighted_median" -> Q(q165, Some(q165Sql)),
    "q166_kcore_collocations" -> Q(q166, Some(q166Sql)),
    "q167_group_gini" -> Q(q167, Some(q167Sql)),
    "q168_validate_monotonic" -> Q(q168, Some(q168Sql)),
    "q169_seed_distances" -> Q(q169, Some(q169Sql)),
    "q170_longest_streak" -> Q(q170, Some(q170Sql)),
    "q171_growth_accounting" -> Q(q171, Some(q171Sql)),
    "q172_group_quantile" -> Q(q172, Some(q172Sql)),
    "q173_degree_assortativity" -> Q(q173, Some(q173Sql)),
    "q174_value_inversions" -> Q(q174, Some(q174Sql)),
    "q175_lexical_diversity" -> Q(q175, Some(q175Sql)),
    "q176_autocorrelation" -> Q(q176, Some(q176Sql)),
    "q177_distinctive_terms" -> Q(q177, Some(q177Sql)),
    "q178_kwic_concordance" -> Q(q178, Some(q178Sql)),
    "q179_reciprocal_nn" -> Q(q179, Some(q179Sql)),
    "q180_state_runs" -> Q(q180, Some(q180Sql)),
    "q181_benford_profile" -> Q(q181, Some(q181Sql)),
    "q182_calibration_table" -> Q(q182, Some(q182Sql)),
    "q183_vocab_jaccard" -> Q(q183, Some(q183Sql)),
    "q184_ks_drift" -> Q(q184, Some(q184Sql)),
    "q185_cramers_v" -> Q(q185, Some(q185Sql)),
    "q186_burst_days" -> Q(q186, Some(q186Sql)),
    "q187_vocab_drift" -> Q(q187, Some(q187Sql)),
    "q188_auc_by_source" -> Q(q188, Some(q188Sql)),
    "q189_two_proportion_z" -> Q(q189, Some(q189Sql)),
    "q190_exact_cdf" -> Q(q190, Some(q190Sql)),
    "q191_spearman" -> Q(q191, Some(q191Sql)),
    "q192_rq_sketch_rollup" -> Q(q192, Some(q192Sql)),
    "q193_rq_group_quantiles" -> Q(q193, Some(q193Sql)),
    "q194_kendall_tau" -> Q(q194, Some(q194Sql)),
    "q195_rq_weighted_quantiles" -> Q(q195, Some(q195Sql)),
    "q196_rq_percentile_norm" -> Q(q196, Some(q196Sql)),
    "q197_welch_t" -> Q(q197, Some(q197Sql)),
    "q198_cuped_lift" -> Q(q198, Some(q198Sql)),
    "q199_trimmed_means" -> Q(q199, Some(q199Sql)),
    "q200_theil_sen" -> Q(q200, Some(q200Sql)),
    "q201_embedding_dim_profile" -> Q(q201, Some(q201Sql)),
    "q202_rq_ks_drift" -> Q(q202, Some(q202Sql)),
    "q203_simpson_diversity" -> Q(q203, Some(q203Sql)),
    "q204_wilson_interval" -> Q(q204, Some(q204Sql)),
    "q205_brier_decomposition" -> Q(q205, Some(q205Sql)),
    "q206_cusum_alarms" -> Q(q206, Some(q206Sql)),
    "q207_seasonal_naive" -> Q(q207, Some(q207Sql)),
    "q208_association_rules" -> Q(q208, Some(q208Sql)),
    "q209_label_propagation" -> Q(q209, Some(q209Sql)),
    "q210_centroid_drift" -> Q(q210, Some(q210Sql)),
    "q211_kmv_set_ops" -> Q(q211, Some(q211Sql)),
    "q212_golden_records" -> Q(q212, Some(q212Sql)),
    "q213_personalized_pagerank" -> Q(q213, Some(q213Sql)),
    "q214_assoc_rules_delta" -> Q(q214, Some(q214Sql)),
    "q215_quantile_map" -> Q(q215, Some(q215Sql)),
    "q216_pearson" -> Q(q216, Some(q216Sql)),
    "q217_modularity" -> Q(q217, Some(q217Sql)),
    "q218_vocab_growth" -> Q(q218, Some(q218Sql)),
    "q219_hits" -> Q(q219, Some(q219Sql)),
    "q220_ring_negatives" -> Q(q220, Some(q220Sql)),
    "q221_kaplan_meier" -> Q(q221, Some(q221Sql)),
    "q222_diff_in_diff" -> Q(q222, Some(q222Sql)),
    "q223_cms_join_size" -> Q(q223, Some(q223Sql)),
    "q224_attribution" -> Q(q224, Some(q224Sql)),
    "q225_loo_encoding" -> Q(q225, Some(q225Sql)),
    "q226_rake_phrases" -> Q(q226, Some(q226Sql)),
    "q227_rolling_ols" -> Q(q227, Some(q227Sql)),
    "q228_peak_concurrency" -> Q(q228, Some(q228Sql)),
    "q229_link_prediction" -> Q(q229, Some(q229Sql)),
    "q230_vocab_growth_delta" -> Q(q230, Some(q230Sql)),
    "q231_freeze_segments" -> Q(q231, Some(q231Sql)),
    "q232_equal_freq_buckets" -> Q(q232, Some(q232Sql)),
    "q233_unigram_train" -> Q(q233, Some(q233Sql)),
    "q234_unigram_token_counts" -> Q(q234, Some(q234Sql)),
    "q235_k_anonymity" -> Q(q235, Some(q235Sql)),
    "q236_k_anonymity_violations" -> Q(q236, Some(q236Sql)),
    "q237_pair_betweenness" -> Q(q237, Some(q237Sql)),
    "q238_mann_whitney_z" -> Q(q238, Some(q238Sql)),
    "q239_conformal_bh" -> Q(q239, Some(q239Sql)),
    "q240_gini_by_key" -> Q(q240, Some(q240Sql)),
    "q241_kruskal_wallis" -> Q(q241, Some(q241Sql)),
    "q242_stratified_sample" -> Q(q242, Some(q242Sql)),
    "q243_log_rank" -> Q(q243, Some(q243Sql)),
    "q244_psi_drift" -> Q(q244, Some(q244Sql)),
    "q245_jsd_drift" -> Q(q245, Some(q245Sql)),
    "q246_weight_ess" -> Q(q246, Some(q246Sql)),
    "q247_changepoint" -> Q(q247, Some(q247Sql)),
    "q248_isotonic_calibration" -> Q(q248, Some(q248Sql)),
    "q249_holt_smooth" -> Q(q249, Some(q249Sql)),
    "q250_nelson_aalen" -> Q(q250, Some(q250Sql)),
    "q251_zipf_slope" -> Q(q251, Some(q251Sql)),
    "q252_transition_entropy" -> Q(q252, Some(q252Sql)),
    "q253_stratified_ate" -> Q(q253, Some(q253Sql)),
    "q254_calibrate_scores" -> Q(q254, Some(q254Sql)),
    "q255_token_burstiness" -> Q(q255, Some(q255Sql)),
    "q256_calibration_error" -> Q(q256, Some(q256Sql)),
    "q257_mann_kendall" -> Q(q257, Some(q257Sql)),
    "q258_seasonal_profile" -> Q(q258, Some(q258Sql)),
    "q259_ranking_overlap" -> Q(q259, Some(q259Sql)),
    "q260_cochran_armitage" -> Q(q260, Some(q260Sql)),
    "q261_lead_lag_corr" -> Q(q261, Some(q261Sql)),
    "q262_eb_shrunk_rates" -> Q(q262, Some(q262Sql)),
    "q263_jsonl_ingest" -> Q(q263, Some(q263Sql)),
    "q264_backoff_perplexity" -> Q(q264, Some(q264Sql)),
    "q265_scc_membership" -> Q(q265, Some(q265Sql)),
    "q266_weighted_sample" -> Q(q266, Some(q266Sql)),
    "q267_noisy_counts" -> Q(q267, Some(q267Sql)),
    "q268_split_assign" -> Q(q268, Some(q268Sql)),
    "q269_pr_curve" -> Q(q269, Some(q269Sql)),
    "q270_collocation_npmi" -> Q(q270, Some(q270Sql)),
    "q271_neighbor_cosine" -> Q(q271, Some(q271Sql)),
    "q272_mmr_topk" -> Q(q272, Some(q272Sql)),
    "q273_csv_ingest" -> Q(q273, Some(q273Sql)),
    "q274_poisson_bootstrap" -> Q(q274, Some(q274Sql)),
    "q275_top_component" -> Q(q275, Some(q275Sql)),
    "q276_curation_e2e" -> Q(q276, Some(q276Sql)),
    "q277_cohen_kappa" -> Q(q277, Some(q277Sql)),
    "q278_fleiss_kappa" -> Q(q278, Some(q278Sql)),
    "q280_fairness_audit" -> Q(q280, Some(q280Sql)),
    "q281_mutual_info" -> Q(q281, Some(q281Sql)),
    "q282_readability" -> Q(q282, Some(q282Sql)),
    "q283_boilerplate_strip" -> Q(q283, Some(q283Sql)),
    "q279_bradley_terry" -> Q(q279, Some(q279Sql)),
    "q284_aspect_buckets" -> Q(q284, Some(q284Sql)),
    "q285_ffd_packing" -> Q(q285, Some(q285Sql)),
    "q286_residual_anisotropy" -> Q(q286, Some(q286Sql)),
    "q287_winsorized_mean" -> Q(q287, Some(q287Sql)),
    "q288_label_noise" -> Q(q288, Some(q288Sql)),
    "q289_krippendorff_alpha" -> Q(q289, Some(q289Sql)),
    "q290_sprt_monitor" -> Q(q290, Some(q290Sql)),
    "q291_rater_accuracy" -> Q(q291, Some(q291Sql)),
    "q292_cdc_dedup" -> Q(q292, Some(q292Sql)),
    "q293_dawid_skene" -> Q(q293, Some(q293Sql)),
    "q294_cluster_purity" -> Q(q294, Some(q294Sql)),
    "q295_neardup_label_conflicts" -> Q(q295, Some(q295Sql)),
    "q296_ips_offpolicy" -> Q(q296, Some(q296Sql)),
    "q297_quantile_effects" -> Q(q297, Some(q297Sql)),
    "q298_covariate_balance" -> Q(q298, Some(q298Sql)),
    "q299_langid_confusion" -> Q(q299, Some(q299Sql)),
    "q300_labelqa_pipeline" -> Q(q300, Some(q300Sql)),
    "q301_preference_bias" -> Q(q301, Some(q301Sql)),
    "q302_preference_cycles" -> Q(q302, Some(q302Sql)),
    "q303_effective_tokens" -> Q(q303, Some(q303Sql)),
    "q304_ndcg_eval" -> Q(q304, Some(q304Sql)),
    "q305_unicode_words" -> Q(q305, Some(q305Sql)),
    "q306_unicode_sentences" -> Q(q306, Some(q306Sql)),
    "q307_kneser_ney" -> Q(q307, Some(q307Sql)),
    "q308_ann_recall_sweep" -> Q(q308, Some(q308Sql)),
    "q309_sentence_dedup" -> Q(q309, Some(q309Sql)),
    "q310_lsh_recall_sweep" -> Q(q310, Some(q310Sql)),
    "q311_unicode_minhash" -> Q(q311, Some(q311Sql)),
    "q312_dim_recall_sweep" -> Q(q312, Some(q312Sql)),
    "q313_margin_mining" -> Q(q313, Some(q313Sql)),
    "q314_t_closeness" -> Q(q314, Some(q314Sql)),
    "q315_token_fertility" -> Q(q315, Some(q315Sql)),
    "q316_nfc_audit" -> Q(q316, Some(q316Sql)),
    "q317_t_closeness_emd" -> Q(q317, Some(q317Sql)),
    "q318_code_quality" -> Q(q318, Some(q318Sql)),
    "q319_dialogue_format" -> Q(q319, Some(q319Sql)),
    "q320_fim_transform" -> Q(q320, Some(q320Sql)),
    "q321_loss_mask_spans" -> Q(q321, Some(q321Sql)),
    "q322_multilingual_e2e" -> Q(q322, Some(q322Sql)),
    "q323_binary_spill" -> Q(q323, Some(q323Sql)),
    "q324_split_leakage" -> Q(q324, Some(q324Sql)),
    "q325_sft_response_audit" -> Q(q325, Some(q325Sql)),
    "q326_band_recall_sweep" -> Q(q326, Some(q326Sql)),
    "q327_luhn_card_audit" -> Q(q327, Some(q327Sql)),
    "q328_margin_mining_ivf" -> Q(q328, Some(q328Sql)),
    "q329_warc_ingest" -> Q(q329, Some(q329Sql)),
    "q330_gale_church" -> Q(q330, Some(q330Sql)),
    "q331_langid_wide" -> Q(q331, Some(q331Sql)),
    "q332_langid_wide_confusion" -> Q(q332, Some(q332Sql)),
    "q333_bitext_pipeline" -> Q(q333, Some(q333Sql)),
    "q334_iban_audit" -> Q(q334, Some(q334Sql)),
    "q335_warc_pipeline" -> Q(q335, Some(q335Sql)),
    "q336_hard_negatives" -> Q(q336, Some(q336Sql)),
    "q337_canonical_keep" -> Q(q337, Some(q337Sql)),
    "q338_all_but_the_top" -> Q(q338, Some(q338Sql)),
    "q339_pii_redaction" -> Q(q339, Some(q339Sql)),
    "q340_packed_spans" -> Q(q340, Some(q340Sql)),
    "q341_html_extract" -> Q(q341, Some(q341Sql)),
    "q342_html_pipeline" -> Q(q342, Some(q342Sql)),
    "q343_quality_classifier" -> Q(q343, Some(q343Sql)),
    "q344_quality_filter" -> Q(q344, Some(q344Sql)),
    "q345_image_text_curation" -> Q(q345, Some(q345Sql)),
    "q346_substring_recall" -> Q(q346, Some(q346Sql)),
    "q347_robots_audit" -> Q(q347, Some(q347Sql)),
    "q348_host_webgraph" -> Q(q348, Some(q348Sql)),
    "q349_robots_compliance" -> Q(q349, Some(q349Sql)),
    "q350_domain_mix" -> Q(q350, Some(q350Sql)),
    "q351_warc_dedup_keep" -> Q(q351, Some(q351Sql)),
    "q352_bpe_train" -> Q(q352, Some(q352Sql)),
    "q353_bpe_budget" -> Q(q353, Some(q353Sql)))
}
