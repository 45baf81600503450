package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Whole-graph analytics beyond connected components (which lives with
  * the dedup family in [[Dedup]], its main consumer). */
object Graph {

  /** Fixed-iteration PageRank in INTEGER arithmetic — deterministic and
    * engine-exact by construction: damping 0.85 runs as `(85·x) div
    * 100` over micro-scaled long ranks, per-neighbor contributions as
    * `rank div deg`, and every per-node sum is a sum of longs
    * (order-independent, unlike float PageRank where Spark's
    * nondeterministic reduce order moves low bits between runs). The
    * price is bounded floor-truncation per step — fine for the ranking
    * use (influence ordering of a term-co-occurrence / citation /
    * link graph), where relative order, not the 12th decimal, matters.
    *
    * `edges` is a DIRECTED (src, dst) table; pass both directions for an
    * undirected graph. Dangling nodes (out-degree 0) keep receiving the
    * teleport base; their own rank leaks out of the system rather than
    * redistributing — the simplest standard variant, mirrored exactly by
    * the oracle.
    *
    * Scale shape: per iteration ONE equi-join of edges with the rank
    * table (both shuffled by node — co-partitioned across rounds) and
    * one map-side-combining groupBy(dst); rank/degree tables carry two
    * longs per node; lineage is cut per round (localCheckpoint, the
    * connectedComponents discipline) so the plan does not grow with
    * iteration count. Iterations are FIXED (the caller picks the
    * horizon), so the job graph is static — no driver-side convergence
    * loop over data-sized state.
    */
  def pageRankInt(edges: DataFrame, iterations: Int,
                  scale: Long = 1000000000000L,
                  driverEdgeLimit: Long = 1L << 20): DataFrame =
    pageRankIntWeighted(edges.toDF("src", "dst").withColumn("w", lit(1L)),
      iterations, scale, driverEdgeLimit)

  /** [[pageRankInt]] with per-edge long weights (column `w` > 0):
    * contributions split proportionally — contrib(u→v) = rank(u)·w_uv
    * div Σ_x w_ux — so a collocation/citation graph's strong ties pull
    * more rank than incidental ones. Same integer-exact/adaptive
    * machinery; the rank·w int64 envelope is CHECKED in the same
    * sizing job, not documented (per-node rank never exceeds the
    * total mass `scale`, so max w ≤ Long.MaxValue/scale — ~9e6 at
    * the default scale — keeps every contribution product exact). */
  def pageRankIntWeighted(edges: DataFrame, iterations: Int,
                          scale: Long = 1000000000000L,
                          driverEdgeLimit: Long = 1L << 20): DataFrame = {
    require(iterations >= 1, "pageRankInt needs at least one iteration")
    // enforce the documented w > 0 contract in the SAME action that
    // sizes the graph: a node whose out-weights sum to 0 would divide
    // by zero — ArithmeticException on the driver path but an ANSI
    // runtime error (or silent null) on the distributed one; checking
    // here makes both paths reject bad input identically, for free
    // (the checkpoint job returns the size for the path fork)
    val (e0, Seq(nEdges, _, _)) = Contracts.checkpoint(
      edges.toDF("src", "dst", "w")
        .withColumn("w", col("w").cast("long")),
      Contracts.read(count(lit(1))),
      Contracts.Bound(sum(when(col("w") <= 0L, 1L).otherwise(0L)),
        _ == 0L, b =>
          s"pageRankIntWeighted requires every edge weight > 0; " +
            s"found $b violating edges"),
      Contracts.Bound(max(col("w")), _ <= Long.MaxValue / scale, m =>
        s"pageRankIntWeighted: max edge weight $m exceeds the rank*w " +
          s"int64 exactness contract (w <= ${Long.MaxValue / scale} at " +
          s"scale $scale) — rescale the weights (only their ratios " +
          "matter) or lower the rank scale"))
    if (nEdges == 0) // empty graph -> empty ranking, schema preserved
      e0.select(col("src").as("node"), col("w").as("rank"))
    else if (nEdges <= driverEdgeLimit) pageRankDriver(e0, iterations, scale)
    else pageRankDistributed(e0, iterations, scale)
  }

  /** Small-graph fast path (the adaptive-connectedComponents pattern):
    * collocation / near-dup / citation graphs after pruning are often a
    * few hundred edges, where ANY distributed loop pays per-round job
    * floor for nothing. The edge list is collected under a CHECKED
    * bound, the SAME integer recurrence runs as a driver loop (long
    * adds commute, so this is value-identical to the distributed
    * rounds — pinned by GraphRangeSpec), and labels come back as one
    * broadcast-sized frame. */
  private def pageRankDriver(e0: DataFrame, iterations: Int,
                             scale: Long): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val pairs = e0.collect()
    val nodes = pairs.iterator
      .flatMap(r => Iterator(r.get(0), r.get(1))).toArray.distinct
    val n = nodes.length.toLong
    val deg = new java.util.HashMap[Any, Long]()
    pairs.foreach(r => deg.merge(r.get(0), r.getLong(2), _ + _))
    val base = (15L * scale) / (100L * n)
    var rank = new java.util.HashMap[Any, Long]()
    nodes.foreach(v => rank.put(v, scale / n))
    (1 to iterations).foreach { _ =>
      val sums = new java.util.HashMap[Any, Long]()
      val r = rank
      pairs.foreach { p =>
        val u = p.get(0)
        sums.merge(p.get(1), r.get(u) * p.getLong(2) / deg.get(u), _ + _)
      }
      val next = new java.util.HashMap[Any, Long]()
      nodes.foreach(v =>
        next.put(v, base + (85L * sums.getOrDefault(v, 0L)) / 100L))
      rank = next
    }
    val spark = e0.sparkSession
    val idType = e0.schema.fields.head.dataType
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        nodes.map(v => Row(v, rank.get(v).longValue())).toIndexedSeq, 1),
      StructType(Seq(StructField("node", idType),
        StructField("rank", LongType))))
  }

  /** Distributed path for graphs above the driver bound: per iteration
    * one edges⋈rank equi-join + one map-side-combining groupBy(dst),
    * lineage cut per round. */
  private def pageRankDistributed(e0: DataFrame, iterations: Int,
                                  scale: Long): DataFrame = {
    val nodes = e0.select(col("src").as("node"))
      .unionByName(e0.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val n = nodes.count()
    val deg = e0.groupBy(col("src")).agg(sum(col("w")).as("deg"))
    val e = e0.join(deg, "src").localCheckpoint()
    val base = (15L * scale) / (100L * n)
    var rank = nodes.select(col("node"), lit(scale / n).as("rank"))
      .localCheckpoint()
    (1 to iterations).foreach { _ =>
      val sums = e
        .join(rank.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("(rank * w) div deg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      rank = nodes.join(sums, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr("(85 * coalesce(s, 0L)) div 100")).as("rank"))
        .localCheckpoint()
    }
    rank
  }

  /** Per-node triangle counts of an undirected graph — the local-density
    * signal behind clustering coefficients, community seeds and spam
    * rings. Exact integer counts, so engine-parity is free.
    *
    * The scalable shape is DEGREE-ORDERED ORIENTATION (the classic
    * MapReduce triangle trick): canonicalize + dedup edges, orient every
    * edge from its lower-(degree, id) endpoint to the higher, build
    * wedges only at each triangle's unique MINIMUM apex, and close them
    * with one more equi-join. A node of degree d seeds at most
    * C(min-degree-side) wedges — on skewed graphs the hub never fans out
    * its full d² wedge set (it sits on the receiving side of its
    * edges), which is the difference between O(m^{3/2}) and a hub-square
    * blowup at 100 TB-scale graphs. Nodes in no triangle come out 0 via
    * the left join.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val ce = edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    val nodes = ce.select(col("u").as("node"))
      .unionByName(ce.select(col("v").as("node"))).distinct()
    val deg = ce.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = ce
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val fromU = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // oriented edge (s -> d) with d's (deg, id) carried for the wedge order
    val oriented = withDeg.select(
      when(fromU, col("u")).otherwise(col("v")).as("s"),
      when(fromU, col("v")).otherwise(col("u")).as("d"),
      when(fromU, col("dv")).otherwise(col("du")).as("dd"))
      .localCheckpoint()
    val e1 = oriented.select(col("s"), col("d").as("b"), col("dd").as("db"))
    val e2 = oriented.select(col("s"), col("d").as("c"), col("dd").as("dc"))
    val wedges = e1.join(e2, "s")
      .where(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
      .select(col("s").as("a"), col("b"), col("c"))
    val tri = wedges.join(
      oriented.select(col("s").as("b"), col("d").as("c")), Seq("b", "c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n"))
    nodes.join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("n"), lit(0L)).as("n_triangles"))
  }

  /** Local clustering coefficient per node: 2·triangles(v) /
    * (deg(v)·(deg(v)−1)) — how close each node's neighborhood is to a
    * clique (the community-density / spam-ring signal on top of
    * [[triangleCounts]]). Integer numerator and denominator, ONE double
    * division (engine-exact); degree-<2 nodes have no possible wedge
    * and report 0.0. One extra degree aggregation + broadcast-sized
    * join over the triangle table. */
  /** Hop distances from a SEED SET by fixed-round BFS — the trust /
    * contamination propagation primitive ("how many hops is this
    * domain from the trusted seeds", "which docs sit within k hops of
    * a known-bad cluster"): every node's exact minimum hop count to
    * any seed, up to `maxHops`; unreachable-within-horizon nodes are
    * absent. Fixed rounds (the [[pageRankInt]] discipline — static job
    * graph, no driver convergence loop), pure integer mins, so the
    * result is deterministic and engine-replayable round for round.
    * Per round ONE edges⋈frontier equi-join + a map-side-combining
    * min; the distance table carries one long per reached node,
    * lineage cut per round. Adaptive under `driverEdgeLimit` like the
    * rest of the family. `edges` is undirected (symmetrized here). */
  def seedDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int,
                    driverEdgeLimit: Long = 1L << 20): DataFrame = {
    require(maxHops >= 1, s"seedDistances needs maxHops >= 1, got $maxHops")
    val e0 = edges.toDF("u", "v")
    val s0 = seeds.toDF("node").distinct()
    symOrCollect(e0, driverEdgeLimit) match {
      case Left(pairs) =>
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        val adj = pairs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        var dist = s0.collect().map(r => r.get(0) -> 0L).toMap
        (1 to maxHops).foreach { h =>
          val next = dist.filter(_._2 == h - 1).keys
            .flatMap(n => adj.getOrElse(n, Array.empty[Any]))
            .filterNot(dist.contains)
          dist = dist ++ next.map(_ -> h.toLong)
        }
        val spark = edges.sparkSession
        val idType = e0.schema.fields.head.dataType
        spark.createDataFrame(
          spark.sparkContext.parallelize(
            dist.toSeq.map { case (n, d) => Row(n, d) }.toIndexedSeq, 1),
          StructType(Seq(StructField("node", idType),
            StructField("dist", LongType))))
      case Right(sym) =>
        var dist = s0.select(col("node"), lit(0L).as("dist")).localCheckpoint()
        (1 to maxHops).foreach { _ =>
          dist = dist
            .unionByName(sym.join(dist.withColumnRenamed("node", "u"), "u")
              .select(col("v").as("node"), (col("dist") + 1L).as("dist")))
            .groupBy(col("node")).agg(min(col("dist")).as("dist"))
            .localCheckpoint()
        }
        dist
    }
  }

  /** Shared driver-vs-distributed edge staging for the adaptive graph
    * family: the fork decides from the RAW directed row count (2x it
    * bounds the symmetrized edge count from above, so the driver path
    * is only chosen when the old symmetrized count would also have
    * fit). The driver path collects the raw rows and canonicalizes in
    * memory — the old shape paid a distributed symmetrize exchange +
    * checkpoint + count ONLY to feed a driver collect (guide §5: the
    * driver fork should pay one bounded collect, not a shuffle). The
    * distributed path builds the materialized symmetric table exactly
    * as before. Pair ORDER in the Left result is insertion-ordered
    * (LinkedHashSet) — and every driver consumer here is
    * order-insensitive anyway (integer set/sum arithmetic). */
  private def symOrCollect(e0: DataFrame, driverEdgeLimit: Long)
      : Either[Array[(Any, Any)], DataFrame] = {
    val filtered = e0.where(col("u") =!= col("v"))
    val rawCnt = filtered.agg(count(lit(1))).head().getLong(0)
    if (2L * rawCnt <= driverEdgeLimit) {
      val seen = scala.collection.mutable.LinkedHashSet.empty[(Any, Any)]
      filtered.collect().foreach { r =>
        val (u, v) = (r.get(0), r.get(1))
        seen += ((u, v))
        seen += ((v, u))
      }
      Left(seen.toArray)
    } else {
      Right(filtered
        .unionByName(filtered.select(col("v").as("u"), col("u").as("v")))
        .distinct().localCheckpoint())
    }
  }

  /** k-core membership by FIXED-ROUND peeling: each round drops every
    * node whose degree within the surviving subgraph is < k, `rounds`
    * times — the dense-subgraph extractor (spam rings, botnet
    * co-engagement, link farms survive; the long tail peels away).
    * Fixed rounds make the job graph static (the [[pageRankInt]]
    * discipline — no driver-side convergence loop over data-sized
    * state) and the result deterministic and engine-replayable: once
    * the peel converges, further rounds are no-ops, so with `rounds` >=
    * the peel depth the output IS the exact k-core (property-pinned
    * against an iterate-to-fixpoint reference); before convergence both
    * engines replay the same truncated peel. Output: surviving
    * (node, degree) with degree measured in the final subgraph.
    *
    * Adaptive like the rest of the family: graphs under
    * `driverEdgeLimit` collect under a CHECKED bound and peel in
    * memory (value-identical — integer set arithmetic commutes);
    * larger graphs run one degree aggregation + two semi-joins per
    * round over the SHRINKING edge set, lineage cut per round. */
  def kCoreMembers(edges: DataFrame, k: Int, rounds: Int,
                   driverEdgeLimit: Long = 1L << 20): DataFrame = {
    require(k >= 1, s"kCoreMembers needs k >= 1, got $k")
    require(rounds >= 1, s"kCoreMembers needs rounds >= 1, got $rounds")
    val e0 = edges.toDF("u", "v")
    symOrCollect(e0, driverEdgeLimit) match {
      case Left(pairs0) =>
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        var pairs: Array[(Any, Any)] = pairs0
        (1 to rounds).foreach { _ =>
          val deg = pairs.groupBy(_._1).view.mapValues(_.size).toMap
          val keep = deg.filter(_._2 >= k).keySet
          pairs = pairs.filter(p => keep(p._1) && keep(p._2))
        }
        val spark = edges.sparkSession
        val idType = e0.schema.fields.head.dataType
        val out = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toSeq
          .map { case (n, d) => Row(n, d) }
        spark.createDataFrame(
          spark.sparkContext.parallelize(out.toIndexedSeq, 1),
          StructType(Seq(StructField("node", idType),
            StructField("degree", LongType))))
      case Right(sym) =>
        var e = sym
        (1 to rounds).foreach { _ =>
          val keep = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
            .where(col("d") >= k).select(col("u")).localCheckpoint()
          e = e.join(keep, Seq("u"), "left_semi")
            .join(keep.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
            .select(col("u"), col("v")).localCheckpoint()
        }
        e.groupBy(col("u").as("node")).agg(count(lit(1)).as("degree"))
    }
  }

  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val ce = edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    val deg = ce.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    triangleCounts(ce.select(col("u").as("src"), col("v").as("dst")))
      .join(deg, "node")
      .select(col("node"), col("deg"), col("n_triangles"),
        when(col("deg") < 2L, lit(0.0)).otherwise(
          (lit(2L) * col("n_triangles")).cast("double")
            / (col("deg") * (col("deg") - lit(1L))).cast("double"))
          .as("coeff"))
  }

  /** Degree assortativity of an undirected graph — the Pearson
    * correlation of endpoint degrees over every directed stub (each
    * undirected edge contributes both orientations, the standard
    * Newman definition): do hubs link to hubs (assortative, r > 0,
    * citation/collab graphs) or to leaves (disassortative, r < 0 —
    * the web-spam / star-farm signature on a link or near-dup graph)?
    *
    * Exactness shape (the [[Stats.groupMoments]] discipline): the
    * edge table collapses to FOUR integer sufficient statistics —
    * M = 2m stubs, Sx = Σ(du+dv), Sxx = Σ(du²+dv²), Sxy = 2·Σdu·dv —
    * via two co-partitioned degree joins and one map-side-combining
    * aggregation; the final
    *
    *   r = (M·Sxy − Sx²) / (M·Sxx − Sx²)
    *
    * is ONE double division over int64 numerators, so the value is
    * engine-exact. The M·Sxx ≤ 4m²d² int64 envelope is CHECKED
    * before execution, not documented: one aggregation over the
    * degree table (which the join needs anyway) verifies
    * m·maxDeg ≤ 10⁹ and fails loudly with a sampling hint. A
    * degree-regular graph (zero variance) yields 0/0 = NaN in every
    * engine. Output: one row
    * (m, s_deg, s_deg_sq, s_cross_x2, assortativity). */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val ce = edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    // Σdeg = 2m, so one job sizes both factors of the envelope
    val (deg, Seq(maxDeg, degSum)) = Contracts.checkpoint(
      ce.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg")),
      Contracts.read(max(col("deg"))), Contracts.read(sum(col("deg"))))
    require(BigInt(degSum / 2) * BigInt(maxDeg) <= BigInt(1000000000L),
      s"degreeAssortativity: edges x maxDegree = ${degSum / 2} x " +
        s"$maxDeg exceeds the int64 exactness contract " +
        "(m*d <= 1e9 keeps M*Sxx and Sx^2 exact) — sample the edge " +
        "set or cap hub degrees first")
    ce
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .agg(count(lit(1)).as("m"),
        sum(col("du") + col("dv")).as("s_deg"),
        sum(col("du") * col("du") + col("dv") * col("dv")).as("s_deg_sq"),
        (lit(2L) * sum(col("du") * col("dv"))).as("s_cross_x2"))
      .withColumn("__den", lit(2L) * col("m") * col("s_deg_sq")
        - col("s_deg") * col("s_deg"))
      .select(col("m"), col("s_deg"), col("s_deg_sq"), col("s_cross_x2"),
        // degree-regular graph: zero variance -> 0/0; ANSI Spark raises
        // on the double division DuckDB folds to NaN (the groupMoments
        // discipline) so spell the NaN explicitly
        when(col("__den") === 0L, lit(Double.NaN)).otherwise(
          (lit(2L) * col("m") * col("s_cross_x2")
            - col("s_deg") * col("s_deg")).cast("double")
            / col("__den").cast("double"))
          .as("assortativity"))
  }

  /** PERSONALIZED PageRank (integer-exact): the teleport mass lands
    * only on the SEED set, so rank measures proximity to the seeds
    * through the link structure — "what belongs to this topic/author/
    * cluster" rather than global importance (the random-walk-with-
    * restart relevance measure behind related-item panels and
    * topic-conditioned ranking). Same fixed-point arithmetic as
    * [[pageRankInt]] — ranks are integer micro-units of `scale`,
    * every division is integer `div`, so the trajectory is exact and
    * oracle-replayable by unrolled rounds:
    *
    *   r_0(v)   = scale div |S|       for v ∈ S, else 0
    *   r_{t+1}(v) = [v ∈ S]·(15·scale div (100·|S|))
    *                + 85·Σ_{u→v} (r_t(u) div deg(u)) div 100
    *
    * Adaptive driver/distributed dispatch under the same CHECKED edge
    * bound as [[pageRankIntWeighted]]; the seed count is CHECKED
    * (1..maxSeeds) in the same style. Output: (node, rank) over edge
    * endpoints ∪ seeds. */
  def personalizedPageRankInt(edges: DataFrame, seeds: DataFrame,
                              iterations: Int,
                              scale: Long = 1000000000000L,
                              driverEdgeLimit: Long = 1L << 20,
                              maxSeeds: Long = 1000000L): DataFrame = {
    require(iterations >= 1, "personalizedPageRankInt needs >= 1 iteration")
    val (e0, Seq(nEdges)) = Contracts.checkpoint(edges.toDF("src", "dst"),
      Contracts.read(count(lit(1))))
    val (sd, Seq(nSeeds)) = Contracts.checkpoint(
      seeds.toDF("node").distinct(),
      Contracts.Bound(count(lit(1)), c => c >= 1 && c <= maxSeeds, c =>
        s"personalizedPageRankInt needs 1..$maxSeeds seeds, got $c"))
    val base = (15L * scale) / (100L * nSeeds)
    val init = scale / nSeeds
    if (nEdges <= driverEdgeLimit) {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val pairs = e0.collect().map(r => (r.get(0), r.get(1)))
      val seedSet = sd.collect().map(_.get(0)).toSet
      val nodes = (pairs.iterator.flatMap(p => Iterator(p._1, p._2))
        ++ seedSet.iterator).toArray.distinct
      val deg = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      var rank: Map[Any, Long] =
        nodes.iterator.map(v =>
          v -> (if (seedSet(v)) init else 0L)).toMap
      (1 to iterations).foreach { _ =>
        val sums = scala.collection.mutable.HashMap.empty[Any, Long]
        pairs.foreach { case (u, v) =>
          sums.update(v, sums.getOrElse(v, 0L) + rank(u) / deg(u))
        }
        rank = nodes.iterator.map { v =>
          v -> ((if (seedSet(v)) base else 0L)
            + (85L * sums.getOrElse(v, 0L)) / 100L)
        }.toMap
      }
      val spark = edges.sparkSession
      val idType = e0.schema.fields.head.dataType
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          nodes.map(v => Row(v, rank(v))).toIndexedSeq, 1),
        StructType(Seq(StructField("node", idType),
          StructField("rank", LongType))))
    } else {
      val nodes = e0.select(col("src").as("node"))
        .unionByName(e0.select(col("dst").as("node")))
        .unionByName(sd)
        .distinct()
        .join(sd.withColumn("__seed", lit(true)), Seq("node"), "left")
        .select(col("node"), coalesce(col("__seed"), lit(false)).as("__seed"))
        .localCheckpoint()
      val deg = e0.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val e = e0.join(deg, "src").localCheckpoint()
      var rank = nodes.select(col("node"), col("__seed"),
        when(col("__seed"), lit(init)).otherwise(lit(0L)).as("rank"))
        .localCheckpoint()
      (1 to iterations).foreach { _ =>
        val sums = e
          .join(rank.select(col("node").as("src"), col("rank")), "src")
          .select(col("dst").as("node"), expr("rank div deg").as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("s"))
        rank = nodes.join(sums, Seq("node"), "left")
          .select(col("node"), col("__seed"),
            (when(col("__seed"), lit(base)).otherwise(lit(0L))
              + expr("(85 * coalesce(s, 0L)) div 100")).as("rank"))
          .localCheckpoint()
      }
      rank.select(col("node"), col("rank"))
    }
  }

  /** DETERMINISTIC synchronous label propagation — community detection
    * with an engine-replayable fixpoint rule (Raghavan et al. 2007,
    * made deterministic): every node starts as its own label, and each
    * synchronous round reassigns
    *
    *   label(n) := argmax over neighbor labels by
    *               (count DESC, label ASC)
    *
    * — the unique tie-break makes the whole trajectory a pure function
    * of (edge set, rounds), unlike classic LPA's random visit order,
    * so a SQL oracle unrolls the rounds and the hash must match.
    * Densely connected groups converge onto their lexicographically
    * smallest member within a few rounds; FIXED rounds keep the job
    * graph static (the [[pageRankInt]] discipline).
    *
    * Adaptive shape (the [[kCoreMembers]] pattern): under the CHECKED
    * `driverEdgeLimit` the symmetric edge set collects and the rounds
    * run as one in-JVM loop (post-filter collocation/co-engagement
    * graphs are edge-sparse; a distributed round pays a shuffle floor
    * per iteration); above it each round is ONE edges⋈labels join +
    * per-node (neighbor-label count, label) window — partitioned by
    * node, bounded by its distinct neighbor labels — with a lineage
    * cut per round. Both paths are parity-pinned in GraphRangeSpec.
    * Output: (node, label). */
  def labelPropagation(edges: DataFrame, rounds: Int,
                       driverEdgeLimit: Long = 1L << 20): DataFrame = {
    require(rounds >= 1, s"labelPropagation needs rounds >= 1, got $rounds")
    val e0 = edges.toDF("u", "v")
    symOrCollect(e0, driverEdgeLimit) match {
      case Left(pairs) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{StructField, StructType}
      val nbrs = pairs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      def lt(a: Any, b: Any): Boolean =
        a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
      var labels: Map[Any, Any] = nbrs.keys.map(n => n -> n).toMap
      (1 to rounds).foreach { _ =>
        labels = nbrs.map { case (n, ns) =>
          val counts = ns.map(labels).groupBy(identity).view
            .mapValues(_.size).toMap
          n -> counts.reduceLeft { (a, b) =>
            if (b._2 > a._2 || (b._2 == a._2 && lt(b._1, a._1))) b else a
          }._1
        }
      }
      val spark = edges.sparkSession
      val idType = e0.schema.fields.head.dataType
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          labels.toSeq.map { case (n, l) => Row(n, l) }.toIndexedSeq, 1),
        StructType(Seq(StructField("node", idType),
          StructField("label", idType))))
      case Right(sym) =>
        import org.apache.spark.sql.expressions.Window
        var labels = sym.select(col("u").as("node")).distinct()
          .withColumn("label", col("node")).localCheckpoint()
        val w = Window.partitionBy(col("node"))
          .orderBy(col("__c").desc, col("label").asc)
        (1 to rounds).foreach { _ =>
          labels = sym
            .join(labels.withColumnRenamed("node", "v"), Seq("v"))
            .groupBy(col("u").as("node"), col("label"))
            .agg(count(lit(1)).as("__c"))
            .withColumn("__rn", row_number().over(w))
            .where(col("__rn") === 1)
            .select(col("node"), col("label")).localCheckpoint()
        }
        labels
    }
  }

  /** Newman MODULARITY of a community partition — THE quality score
    * for [[labelPropagation]]'s output (is this community structure
    * better than random?, the standard accept/reject gate before a
    * partition drives dedup grouping or topic routing):
    *
    *   Q = Σ_c [ e_c/m − (d_c/2m)² ]
    *     = ( Σ_c (4·m·e_c − d_c²) ) / (4m²)
    *
    * with m = undirected edge count, e_c = intra-community edges,
    * d_c = total stub degree of community c — evaluated on the
    * subgraph INDUCED BY LABELED NODES (edges with an unlabeled
    * endpoint drop, so the score judges exactly the partition it was
    * given). Self-loops drop (they are neither intra- nor
    * inter-community under the stub formulation used here).
    *
    * Exactness shape (the [[degreeAssortativity]] discipline): two
    * co-partitioned label joins + two map-side-combining aggregations
    * collapse the graph to one row of integer sufficient statistics;
    * the numerator forms in decimal(38,0) (4·m·e_c with m edges ~10⁹
    * overflows int64; decimal is exact to 10³⁸ and DuckDB mirrors via
    * HUGEINT), and Q is ONE double division of exact integers —
    * engine-exact. The single trivial partition (everything in one
    * community) scores exactly 0 by construction — pinned in the
    * spec. Output: one row (m, n_communities, q_num, modularity). */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val lab = labels.toDF("node", "label")
    val ce = edges.toDF("u", "v")
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .join(lab.select(col("node").as("u"), col("label").as("lu")), "u")
      .join(lab.select(col("node").as("v"), col("label").as("lv")), "v")
      .localCheckpoint()
    val m = ce.agg(count(lit(1)).as("m"))
    // stub degrees per community: each edge contributes one stub to
    // each endpoint's community (posexplode-free: one explode + agg)
    val dc = ce.select(explode(array(col("lu"), col("lv"))).as("label"))
      .groupBy(col("label")).agg(count(lit(1)).as("d_c"))
    val ec = ce.where(col("lu") === col("lv"))
      .groupBy(col("lu").as("label")).agg(count(lit(1)).as("e_c"))
    val per = dc.join(ec, Seq("label"), "left")
      .select(col("label"), col("d_c"),
        coalesce(col("e_c"), lit(0L)).as("e_c"))
      // m rides in on a one-row cross join (the trailingActives
      // pattern) so the numerator never needs a driver-side constant
      .crossJoin(m)
      .select(col("label"),
        (lit(4).cast("decimal(38,0)") * col("m") * col("e_c")
          - col("d_c").cast("decimal(38,0)") * col("d_c")).as("__term"),
        col("m"))
    per.groupBy(col("m"))
      .agg(count(lit(1)).as("n_communities"),
        sum(col("__term")).as("__num"))
      .select(col("m"), col("n_communities"),
        col("__num").cast("double").as("q_num"),
        when(col("m") === 0L, lit(Double.NaN)).otherwise(
          col("__num").cast("double")
            / (lit(4).cast("decimal(38,0)") * col("m") * col("m"))
              .cast("double")).as("modularity"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) — fixed-round,
    * UNNORMALIZED-integer inner loop with one normalization at the
    * end, so the whole trajectory is engine-exact and replayable
    * (float HITS renormalizes with a sqrt every round, and Spark's
    * nondeterministic reduce order would move low bits between runs):
    *
    *   hub₀(u)  = 1
    *   authₖ(v) = Σ_{u→v} hubₖ₋₁(u)
    *   hubₖ(u)  = Σ_{u→v} authₖ(v)
    *
    * accumulated in decimal(38,0) (values grow as ~(d_in·d_out)^k —
    * int64 dies at round 2 on any graph with hub scores beyond ~10⁹;
    * decimal is exact to 10³⁸, DuckDB mirrors via HUGEINT), then ONE
    * division per node by the global max — hub/auth scores in [0, 1],
    * both divisions a fixed IEEE shape over identical exact integers.
    * The growth contract is CHECKED before any round runs: one
    * Contracts job reads n, max in-degree and max out-degree, and the
    * exact worst-case bound (BigInt ladder: authBound = dIn·hubBound,
    * hubBound = dOut·authBound, k times) must stay under 10³⁶ (two
    * digits of slack under decimal's 10³⁸ for the max-sums).
    *
    * Scale shape: per round TWO co-partitioned edges⋈scores joins +
    * map-side-combining sums (two decimals per node cross the
    * shuffle); lineage cut per round; rounds FIXED (static job graph,
    * the [[pageRankInt]] discipline). Adaptive like its siblings:
    * graphs under `driverEdgeLimit` collect under the CHECKED bound
    * and run the identical recurrence as a BigInt driver loop
    * (integer adds commute, so this is value-identical to the
    * distributed rounds — GraphRangeSpec pins driver == distributed),
    * skipping the 2 joins + 2 lineage cuts per round that dominate
    * wall-clock on a few-hundred-edge graph; the final max-normalize
    * runs IN Spark on both paths so the decimal→double cast is the
    * same code path bit-for-bit. Output: (node, hub, auth) over all
    * edge endpoints. */
  def hitsInt(edges: DataFrame, rounds: Int,
              driverEdgeLimit: Long = 1L << 20): DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      s"hitsInt needs rounds in [1, 8], got $rounds")
    val e0 = edges.toDF("src", "dst").distinct().localCheckpoint()
    val Seq(nEdges, dOut, dIn) = Contracts.enforce(
      e0.groupBy(col("src")).agg(count(lit(1)).as("__o"))
        .unionByName(e0.groupBy(col("dst")).agg(count(lit(1)).as("__o"))
          .select(col("dst").as("src"), (-col("__o")).as("__o"))),
      Contracts.read(sum(when(col("__o") > 0L, col("__o"))
        .otherwise(lit(0L)))),
      Contracts.read(max(when(col("__o") > 0L, col("__o"))
        .otherwise(lit(0L)))),
      Contracts.read(max(-when(col("__o") < 0L, col("__o"))
        .otherwise(lit(0L)))))
    // exact worst-case growth ladder; fail BEFORE the first round
    var hubBound = BigInt(1); var authBound = BigInt(0)
    (1 to rounds).foreach { _ =>
      authBound = BigInt(dIn).max(1) * hubBound
      hubBound = BigInt(dOut).max(1) * authBound
    }
    require(hubBound <= BigInt(10).pow(36),
      s"hitsInt: $rounds rounds on a graph with max degrees " +
        s"(in=$dIn, out=$dOut) can reach hub scores ~1e${hubBound
          .toString.length - 1}, beyond the decimal(38,0) exactness " +
        "contract (1e36). Reduce rounds or prune the graph first.")
    val scores = if (nEdges <= driverEdgeLimit) {
      // small-graph fast path (the pageRankDriver pattern): edge list
      // already size-CHECKED by the contracts job; the BigInt loop is
      // the decimal recurrence verbatim (exact integer sums, ladder
      // bounded ≤ 1e36), handed back as decimal(38,0) so the shared
      // normalize tail below is byte-identical across paths
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{DecimalType, StructField, StructType}
      val pairs = e0.collect().map(r => (r.get(0), r.get(1)))
      val nodeArr = pairs.iterator
        .flatMap(p => Iterator(p._1, p._2)).toArray.distinct
      var hub = nodeArr.map(_ -> BigInt(1)).toMap
      var auth = Map.empty[Any, BigInt]
      (1 to rounds).foreach { _ =>
        val a = scala.collection.mutable.HashMap.empty[Any, BigInt]
        pairs.foreach { case (u, v) =>
          a.update(v, a.getOrElse(v, BigInt(0)) + hub(u)) }
        auth = nodeArr.iterator
          .map(n => n -> a.getOrElse(n, BigInt(0))).toMap
        val h = scala.collection.mutable.HashMap.empty[Any, BigInt]
        pairs.foreach { case (u, v) =>
          h.update(u, h.getOrElse(u, BigInt(0)) + auth(v)) }
        hub = nodeArr.iterator
          .map(n => n -> h.getOrElse(n, BigInt(0))).toMap
      }
      val spark = e0.sparkSession
      val idType = e0.schema.fields.head.dataType
      spark.createDataFrame(
        spark.sparkContext.parallelize(nodeArr.map(n => Row(n,
          new java.math.BigDecimal(hub(n).bigInteger),
          new java.math.BigDecimal(auth(n).bigInteger))).toIndexedSeq, 1),
        StructType(Seq(StructField("node", idType),
          StructField("hub", DecimalType(38, 0)),
          StructField("auth", DecimalType(38, 0)))))
    } else {
      val nodes = e0.select(col("src").as("node"))
        .unionByName(e0.select(col("dst").as("node")))
        .distinct().localCheckpoint()
      var hub = nodes.select(col("node"),
        lit(1).cast("decimal(38,0)").as("hub")).localCheckpoint()
      var auth = hub.select(col("node"), col("hub").as("auth"))
      (1 to rounds).foreach { _ =>
        auth = nodes.join(
          e0.join(hub.select(col("node").as("src"), col("hub")), "src")
            .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("__a")),
          Seq("node"), "left")
          .select(col("node"),
            coalesce(col("__a"), lit(0).cast("decimal(38,0)")).as("auth"))
          .localCheckpoint()
        hub = nodes.join(
          e0.join(auth.select(col("node").as("dst"), col("auth")), "dst")
            .groupBy(col("src").as("node")).agg(sum(col("auth")).as("__h")),
          Seq("node"), "left")
          .select(col("node"),
            coalesce(col("__h"), lit(0).cast("decimal(38,0)")).as("hub"))
          .localCheckpoint()
      }
      hub.join(auth, "node")
    }
    val mx = scores.agg(max(col("hub")).as("__mh"),
      max(col("auth")).as("__ma"))
    scores.crossJoin(mx)
      .select(col("node"),
        when(col("__mh") === 0, lit(0.0)).otherwise(
          col("hub").cast("double") / col("__mh").cast("double"))
          .as("hub"),
        when(col("__ma") === 0, lit(0.0)).otherwise(
          col("auth").cast("double") / col("__ma").cast("double"))
          .as("auth"))
  }

  /** LINK PREDICTION by common neighbors + Jaccard — "which pair of
    * unconnected nodes is most likely the MISSING edge" (record-
    * linkage candidates the blocking pass missed, next-collaboration /
    * related-term suggestions, knowledge-graph completion):
    *
    *   cn(u,v)      = |Γ(u) ∩ Γ(v)|          (u,v not adjacent)
    *   jaccard(u,v) = cn / (deg u + deg v − cn)
    *
    * Candidate pairs are generated through the WEDGE join (two edges
    * sharing a middle node — the triangleCounts shape, Σ deg² rows,
    * never nodes²), existing edges drop via one left-anti join, and
    * the score is exact integers + ONE double division. The wedge
    * fan-out is CHECKED before the join runs: max degree ≤ maxDegree
    * fails loudly (a celebrity node's deg² wedges would dominate the
    * job — cap or sample hubs first, the standard remedy). Output:
    * the top-k pairs by (cn DESC, jaccard DESC, u ASC, v ASC) —
    * TakeOrdered, never a global sort. */
  def linkPrediction(edges: DataFrame, minCommon: Long, k: Int,
                     maxDegree: Long = 10000L): DataFrame = {
    require(minCommon >= 1, s"linkPrediction needs minCommon >= 1")
    require(k >= 1, s"linkPrediction needs k >= 1")
    val e0 = edges.toDF("u", "v")
    val ce = e0.where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint()
    val sym = ce.unionByName(ce.select(col("v").as("u"), col("u").as("v")))
    val (deg, _) = Contracts.checkpoint(
      sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg")),
      Contracts.Bound(max(col("deg")),
      _ <= maxDegree, d =>
        s"linkPrediction: a node has degree $d > maxDegree=$maxDegree — " +
          "the wedge join fans out as deg^2 per node; cap or sample hub " +
          "nodes first"))
    val wedges = sym.select(col("u").as("a"), col("v").as("w"))
      .join(sym.select(col("u").as("w"), col("v").as("b")), "w")
      .where(col("a") < col("b"))
      .select(col("a").as("u"), col("b").as("v"))
    val cand = wedges
      .join(ce, Seq("u", "v"), "left_anti") // drop existing edges
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
      .where(col("cn") >= minCommon)
    cand
      .join(deg.select(col("node").as("u"), col("deg").as("__du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("__dv")), "v")
      .select(col("u"), col("v"), col("cn"),
        (col("cn").cast("double") /
          (col("__du") + col("__dv") - col("cn")).cast("double"))
          .as("jaccard"))
      .orderBy(col("cn").desc, col("jaccard").desc, col("u").asc,
        col("v").asc)
      .limit(k)
  }

  /** SEED-PAIR BETWEENNESS centrality (Brandes' pair-dependency form,
    * over an explicit (s, t) seed set — the Brandes–Pich sampled
    * stance, made exact for the pairs you chose): for each pair, every
    * interior node v on SOME s–t shortest path contributes
    *
    *   δ_st(v) = σ_sv · σ_vt / σ_st      (d_sv + d_vt = d_st)
    *
    * and a node's score is the sum over the pair set — "which nodes do
    * these endpoints' shortest paths actually route through", the
    * broker/bridge diagnostic a degree or PageRank ranking misses.
    * All-pairs exact betweenness is O(V·E) and has no honest 100 TB
    * form; the seed-pair form is the auditable unit it decomposes
    * into.
    *
    * Exactness shape: σ path counts are EXACT integer sums over BFS
    * levels (order-independent — safe across any shuffle), truncated
    * at `maxDepth` hops per endpoint (pairs farther apart contribute
    * nothing — the documented hop-radius semantics both engines
    * replay); the per-node per-pair fraction num/den is ONE double
    * division of int64 values, and the cross-pair sum folds in FIXED
    * pair-index order over a sorted bounded array (≤ |pairs| elements
    * — the kaplanMeier sequential-fold discipline), so the score is
    * engine-exact. The σ int64 envelope is CHECKED, not documented:
    * every level rejects a path count above `maxSigma` (2·10⁹ keeps
    * σ_sv·σ_vt ≤ 4·10¹⁸ exact) loudly on BOTH the driver and the
    * distributed path.
    *
    * Adaptive like [[connectedComponents]]/[[pageRankInt]]: edge sets
    * under `driverEdgeLimit` run the same recurrence as a driver BFS
    * (per-pair graphs after pruning are often small); larger graphs
    * run 2·|pairs| truncated BFS loops as per-level equi-joins +
    * map-side-combining σ aggregations with per-level lineage cuts —
    * fixed rounds, static job graph. GraphRangeSpec pins driver ==
    * distributed == a brute reference on random graphs.
    * Output: (node, n_pairs, betweenness) for interior nodes only. */
  def pairBetweenness(edges: DataFrame, pairs: Seq[(Long, Long)],
                      maxDepth: Int, maxSigma: Long = 2000000000L,
                      driverEdgeLimit: Long = 1L << 20): DataFrame = {
    require(pairs.nonEmpty, "pairBetweenness needs at least one seed pair")
    require(pairs.forall(p => p._1 != p._2),
      "pairBetweenness seed pairs need s != t")
    require(maxDepth >= 1, s"pairBetweenness needs maxDepth >= 1")
    require(maxSigma >= 1L && maxSigma <= 2000000000L,
      s"pairBetweenness: maxSigma must be in [1, 2e9] (sigma products " +
        "must stay int64-exact)")
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.toDF("u", "v")
      .select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
      .where(col("u") =!= col("v"))
    // pre-partitioned on the join key ONCE: every BFS level's
    // frontier⋈edges equi-join reuses the materialized layout (the
    // checkpoint retains the partitioning), so only the small frontier
    // side moves per level. ONE exchange, not two: repartition by u
    // first and dedup after — HashPartitioning(u) satisfies the
    // dedup's ClusteredDistribution(u, v) (partitioning on a subset of
    // the grouping keys co-locates every (u, v) twin), so the
    // dropDuplicates runs exchange-free on the repartitioned layout
    // and its output keeps the u-partitioning the per-level join wants
    // (guide §2.4: share one exchange between two same-keyed ops).
    // (A round-17 attempt replaced the driver path's use of this table
    // with a raw collect + in-driver HashSet canonicalization — the
    // symOrCollect shape that pays off on the small collocation
    // graphs — but on THIS operator's ~1.4M-edge co-purchase graph the
    // single-threaded boxed-tuple dedup measured ~1.5 s SLOWER than
    // the 32-core symmetrize it replaced: q237 solo 9.4 s vs 7.9 s.
    // Reverted: large-but-driver-sized graphs want the distributed
    // dedup, then one bounded collect.)
    val sym = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
      .repartition(col("u")).dropDuplicates("u", "v").localCheckpoint()
    val nEdges = sym.count()
    // ALL 2·|pairs| truncated BFS runs advance in ONE per-level loop,
    // keyed by (pair idx, direction) — the same multi-source shape the
    // oracle unrolls, and 2·|pairs|× fewer jobs than looping sources
    // (each level: one equi-join, one anti-join vs the settled set,
    // one map-side-combining σ aggregation, one lineage cut)
    def bfsAllDistributed(): DataFrame = {
      val seeds = pairs.zipWithIndex.flatMap { case ((s, t), idx) =>
        Seq((idx.toLong, 0L, s), (idx.toLong, 1L, t)) }
      val seed0 = seeds.toDF("idx", "dir", "node")
        .withColumn("d", lit(0L)).withColumn("sig", lit(1L))
        .localCheckpoint()
      // per-level frames instead of a re-checkpointed running union:
      // each level's anti-join reads the lazy union of the ≤ depth
      // already-materialized frames — same bytes shuffled, but one
      // materialization job per level saved (the union itself was
      // being rewritten level after level, an O(depth²) copy)
      val frames = scala.collection.mutable.ArrayBuffer(seed0)
      var frontier = seed0
      var depth = 1
      var dry = false
      while (depth <= maxDepth && !dry) {
        val settledU = frames.reduce(_ unionByName _)
        // aggregate BEFORE the anti-join (guide §2.3): the σ sums
        // partial-combine map-side, so the exchange carries one row per
        // (idx, dir, node) instead of every expanded frontier×edge row;
        // the anti-join then reuses that partitioning exchange-free.
        // Dropping settled rows after summing changes nothing the kept
        // rows see, and the σ contract below still judges only
        // SURVIVING rows (a settled node's sum is discarded unchecked,
        // exactly as the old expand→anti→sum order never formed it).
        val nxt = frontier.withColumnRenamed("node", "u")
          .join(sym, "u")
          .select(col("idx"), col("dir"), col("v").as("node"), col("sig"))
          .groupBy(col("idx"), col("dir"), col("node"))
          .agg(sum(col("sig")).as("sig"))
          .join(settledU.select(col("idx"), col("dir"), col("node")),
            Seq("idx", "dir", "node"), "left_anti")
          .where(when(col("sig") > maxSigma,
            raise_error(concat(
              lit("pairBetweenness: path count at node "),
              col("node").cast("string"),
              lit(s" exceeds the int64 exactness contract (sigma <= " +
                s"$maxSigma) — lower maxDepth or prune the graph")))
              .isNotNull)
            .otherwise(lit(true)))
          .withColumn("d", lit(depth.toLong))
          .select(col("idx"), col("dir"), col("node"), col("d"),
            col("sig"))
          .localCheckpoint()
        frames += nxt
        frontier = nxt
        dry = nxt.limit(1).count() == 0L
        depth += 1
      }
      frames.reduce(_ unionByName _)
    }
    def bfsDriver(adj: Map[Long, Array[Long]], src: Long): Map[Long, (Long, Long)] = {
      var dist = Map(src -> (0L, 1L))
      var frontier = Seq(src)
      var depth = 1L
      while (depth <= maxDepth && frontier.nonEmpty) {
        val nxt = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
        frontier.foreach { x =>
          val sx = dist(x)._2
          adj.getOrElse(x, Array.empty[Long]).foreach { y =>
            if (!dist.contains(y)) nxt(y) = nxt.getOrElse(y, 0L) + sx
          }
        }
        nxt.foreach { case (y, s) =>
          require(s <= maxSigma,
            s"pairBetweenness: path count at node $y exceeds the int64 " +
              s"exactness contract (sigma <= $maxSigma) — lower " +
              "maxDepth or prune the graph")
          dist += y -> (depth, s)
        }
        frontier = nxt.keys.toSeq
        depth += 1L
      }
      dist
    }
    // per pair: interior contributions (node, pair idx, num, den)
    val contribs: DataFrame =
      if (nEdges <= driverEdgeLimit) {
        val adj = sym.collect().map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        val rows = pairs.zipWithIndex.flatMap { case ((s, t), idx) =>
          val fs = bfsDriver(adj, s)
          val ft = bfsDriver(adj, t)
          fs.get(t).toSeq.flatMap { case (dst, sigst) =>
            fs.iterator.flatMap { case (v, (dsv, sigsv)) =>
              ft.get(v) match {
                case Some((dvt, sigvt))
                  if v != s && v != t && dsv + dvt == dst =>
                  Some((v, idx.toLong, sigsv * sigvt, sigst))
                case _ => None
              }
            }
          }
        }
        rows.toDF("node", "idx", "num", "den")
      } else {
        val settled = bfsAllDistributed()
        val pairsDf = pairs.zipWithIndex
          .map { case ((s, t), idx) => (idx.toLong, s, t) }
          .toDF("idx", "__s", "__t")
        val fs = settled.where(col("dir") === 0L)
          .select(col("idx"), col("node"), col("d").as("__ds"),
            col("sig").as("__sigs"))
        val ft = settled.where(col("dir") === 1L)
          .select(col("idx"), col("node"), col("d").as("__dt"),
            col("sig").as("__sigt"))
        val dst = fs.join(pairsDf, Seq("idx"))
          .where(col("node") === col("__t"))
          .select(col("idx"), col("__ds").as("__dst"),
            col("__sigs").as("__sigst"))
        fs.join(ft, Seq("idx", "node"))
          .join(dst, Seq("idx")) // drops unreachable pairs
          .join(pairsDf, Seq("idx"))
          .where(col("node") =!= col("__s") && col("node") =!= col("__t")
            && col("__ds") + col("__dt") === col("__dst"))
          .select(col("node"), col("idx"),
            (col("__sigs") * col("__sigt")).as("num"),
            col("__sigst").as("den"))
      }
    contribs
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_pairs"),
        sort_array(collect_list(struct(col("idx"), col("num"),
          col("den")))).as("__l"))
      .select(col("node"), col("n_pairs"),
        aggregate(transform(col("__l"),
            x => x("num").cast("double") / x("den").cast("double")),
          lit(0.0), (acc, x) => acc + x).as("betweenness"))
  }

  /** Seed-MASK propagation over a DIRECTED edge table, fixed rounds:
    * mask(v) after round r = the bitmask of seeds with a directed
    * path to v of ≤ r hops (seeds start with their own bit; bits are
    * assigned by ascending ENGINE order of the distinct seed values,
    * so the oracle's row_number replay agrees). OR is monotone and
    * commutative, so rounds are idempotent past the true horizon and
    * the truncated trajectory is deterministic and engine-replayable
    * round for round (the [[seedDistances]] discipline on a directed
    * relation) — and, unlike min-LABEL propagation, the full seed SET
    * survives: a smaller seed strictly upstream of another seed's
    * component cannot mask it (the [[sccMembership]] correctness
    * requirement). ≤ 62 seeds CHECKED (one long mask). Adaptive under
    * `driverEdgeLimit`: the driver path ORs longs over the collected
    * edge list (order-free — no value comparator needed at all, so
    * every id type behaves identically to the distributed path); the
    * distributed path is one edges⋈masks equi-join + a
    * map-side-combining bit_or per round, lineage cut per round.
    * Output: (node, mask) for nodes reached within the horizon.
    * `seedBits` maps each distinct seed to its bit (the caller
    * usually takes it from [[seedBitAssignment]]). */
  def directedSeedMasks(edges: DataFrame, seedBits: Seq[(Any, Long)],
                        maxHops: Int,
                        driverEdgeLimit: Long = 1L << 20): DataFrame = {
    require(maxHops >= 1,
      s"directedSeedMasks needs maxHops >= 1, got $maxHops")
    require(seedBits.nonEmpty && seedBits.size <= 62,
      s"directedSeedMasks needs 1..62 seeds, got ${seedBits.size}")
    val e0 = edges.toDF("src", "dst")
      .where(col("src") =!= col("dst")).distinct().localCheckpoint()
    directedSeedMasksPrepped(e0, e0.count(), seedBits, maxHops,
      driverEdgeLimit)
  }

  /** Deterministic seed→bit table: distinct seeds in ascending engine
    * order get bits 0, 1, … (collected — the ≤ 62 contract bounds it). */
  def seedBitAssignment(seeds: DataFrame): Seq[(Any, Long)] = {
    val s = seeds.toDF("node").distinct().orderBy(col("node"))
      .collect().map(_.get(0)).toSeq
    require(s.nonEmpty && s.size <= 62,
      s"seed-mask propagation needs 1..62 distinct seeds, got ${s.size}")
    s.zipWithIndex.map { case (v, i) => (v, 1L << i) }
  }

  private def directedSeedMasksPrepped(e0: DataFrame, nEdges: Long,
                                       seedBits: Seq[(Any, Long)],
                                       maxHops: Int,
                                       driverEdgeLimit: Long): DataFrame = {
    val spark = e0.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val idType = e0.schema.fields.head.dataType
    if (nEdges <= driverEdgeLimit) {
      val adj = e0.collect().map(r => (r.get(0), r.get(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var m = seedBits.toMap
      (1 to maxHops).foreach { _ =>
        val next = scala.collection.mutable.Map.empty[Any, Long]
        m.foreach { case (u, mu) =>
          adj.getOrElse(u, Array.empty[Any]).foreach { v =>
            next.update(v, next.getOrElse(v, 0L) | mu)
          }
        }
        m = (m.keySet ++ next.keySet).iterator.map(v =>
          v -> (m.getOrElse(v, 0L) | next.getOrElse(v, 0L))).toMap
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          m.toSeq.map { case (n, mask) => Row(n, mask) }.toIndexedSeq, 1),
        StructType(Seq(StructField("node", idType),
          StructField("mask", LongType))))
    } else {
      var lab = spark.createDataFrame(
        spark.sparkContext.parallelize(
          seedBits.map { case (n, b) => Row(n, b) }.toIndexedSeq, 1),
        StructType(Seq(StructField("node", idType),
          StructField("mask", LongType))))
        .localCheckpoint()
      (1 to maxHops).foreach { _ =>
        lab = lab
          .unionByName(e0.join(lab.withColumnRenamed("node", "src"), "src")
            .select(col("dst").as("node"), col("mask")))
          .groupBy(col("node")).agg(expr("bit_or(mask)").as("mask"))
          .localCheckpoint()
      }
      lab
    }
  }

  /** SEED-ANCHORED SCC MEMBERSHIP on a directed graph — the spam-ring
    * / crawl-loop detector the undirected family can't express: a
    * node belongs to seed m's strongly connected component iff m
    * reaches it AND it reaches m. Computed as forward ∩ backward
    * seed-MASK propagation ([[directedSeedMasks]] on the edge table
    * and its reversal): `scc` = the SMALLEST seed in fwd∩bwd — the
    * full seed-set intersection, so a smaller seed lying strictly
    * upstream of another seed's component can never mask the
    * detection (a min-LABEL reduction would: fwd would carry the
    * upstream seed while bwd carries the ring's own). `fwd`/`bwd`
    * report the smallest seed reaching the node in each direction.
    * Fixed rounds truncate at `maxHops`: the result is EXACT when
    * maxHops covers the seed→component distance plus the component
    * diameter, and a deterministic truncated replay before that
    * (both engines walk identical rounds — the oracle unrolls them).
    * Edge prep (self-loop drop, distinct, lineage cut) and the size
    * probe run ONCE and serve both directions (the reversal is a
    * column swap of the prepped frame). ≤ 62 seeds CHECKED. Output:
    * one row per node reached in EITHER direction:
    * (node, fwd, bwd, scc), null where that direction/intersection
    * never arrived. */
  def sccMembership(edges: DataFrame, seeds: DataFrame, maxHops: Int,
                    driverEdgeLimit: Long = 1L << 20): DataFrame = {
    require(maxHops >= 1, s"sccMembership needs maxHops >= 1, got $maxHops")
    val e0 = edges.toDF("src", "dst")
      .where(col("src") =!= col("dst")).distinct().localCheckpoint()
    val nEdges = e0.count()
    val seedBits = seedBitAssignment(seeds)
    val idType = e0.schema.fields.head.dataType
    val f = directedSeedMasksPrepped(e0, nEdges, seedBits, maxHops,
      driverEdgeLimit).withColumnRenamed("mask", "__fm")
    val b = directedSeedMasksPrepped(
      e0.select(col("dst").as("src"), col("src").as("dst")), nEdges,
      seedBits, maxHops, driverEdgeLimit).withColumnRenamed("mask", "__bm")
    // lowest-set-bit → seed value, as a plan-literal when-chain over
    // the ≤ 62 assignments
    def seedOf(mask: Column): Column =
      seedBits.foldRight(lit(null).cast(idType)) { case ((s, bit), acc) =>
        when((mask bitwiseAND (-mask)) === bit, lit(s)).otherwise(acc)
      }
    f.join(b, Seq("node"), "full_outer")
      .select(col("node"),
        seedOf(coalesce(col("__fm"), lit(0L))).as("fwd"),
        seedOf(coalesce(col("__bm"), lit(0L))).as("bwd"),
        seedOf(coalesce(col("__fm"), lit(0L)) bitwiseAND
          coalesce(col("__bm"), lit(0L))).as("scc"))
  }
}
