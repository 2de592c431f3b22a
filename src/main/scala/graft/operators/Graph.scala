package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Graph analytics over the duplicate-pair graph — centrality as a
  * curation signal: a document whose near-dup neighborhood is large
  * and well-connected is template/boilerplate-family material
  * (PageRank over the dup graph ranks the "hub" copies a pipeline
  * should inspect first), the graph-side complement of the flat
  * counts in `Dedup.exactSummary` and the components in
  * `Dedup.dupGroups`.
  *
  * Power iteration with a FIXED round count and every arithmetic step
  * quantized: ranks live as DECIMAL(20,9); a round's contribution
  * r/deg is rounded at 9 dp per EDGE, the decimal sum over in-edges
  * is exact and order-independent, and the damped update rounds at
  * 9 dp again — so both engines walk bit-identical rank tables
  * (the doc_surprisal discipline applied to an iterative fixpoint,
  * which is what makes a PageRank ORACLE possible at all: DuckDB
  * replays the same five rounds in a recursive CTE with aggregation).
  *
  * Shape at 100 TB: each round is one equi-join of the edge list with
  * the rank table (both partitioned on the join key) plus a
  * map-side-combinable sum — the classic Pregel round as two
  * exchanges; `localCheckpoint` cuts lineage per round (the
  * [[Dedup.dupGroups]] discipline). Degrees and vertex count are
  * computed once. No driver materialization; rounds are fixed, not
  * convergence-polled.
  */
object Graph {

  /** The contract query's iteration count, shared with the oracle. */
  val pageRankIterations: Int = 5

  /** The contract query's damping factor, shared with the oracle. */
  val pageRankDamping: Double = 0.85

  /** PageRank over an undirected pair graph (columns doc_a, doc_b).
    * Vertices are pair endpoints; each undirected pair contributes
    * both directed edges. Returns (doc_id, deg, rank) with rank
    * rounded at 6 dp, uniform 1/n start. The returned plan reads only
    * checkpoints (the last round's ranks and the degree table); the
    * pair projection and edge list are released with the call's scope.
    */
  def pageRank(pairs: DataFrame,
      iterations: Int = pageRankIterations,
      damping: Double = pageRankDamping): DataFrame = Scoped { s =>
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val p2 = s.cache(pairs.select(col("doc_a"), col("doc_b")))
    val edges = s.cache(p2.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p2.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct())
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val n = deg.count()
    if (n == 0) {
      pairs.sparkSession.emptyDataFrame
        .withColumn("doc_id", lit(0L)).withColumn("deg", lit(0L))
        .withColumn("rank", lit(0.0)).limit(0)
    } else rankRounds(edges, deg, n, iterations, damping)
  }

  /** The fixed power-iteration rounds over the cached edge list and
    * degree table of `n` vertices.
    */
  private def rankRounds(edges: DataFrame, deg: DataFrame, n: Long,
      iterations: Int, damping: Double): DataFrame = {
    // identical expression shape on both sides: (1 - d) / n and the
    // damped sum are IEEE ops over identical operands
    val base = (lit(1.0) - lit(damping)) / lit(n.toDouble)
    var rank = deg.select(col("src").as("node"),
      round(lit(1.0) / lit(n.toDouble), 9).cast(DecimalType(20, 9)).as("r"))
      .localCheckpoint()
    for (_ <- 1 to iterations) {
      val contrib = edges
        .join(rank.withColumnRenamed("node", "src"), "src")
        .join(deg, "src")
        .select(col("dst").as("node"),
          round(col("r").cast("double") / col("deg"), 9)
            .cast(DecimalType(20, 9)).as("c"))
      rank = contrib.groupBy(col("node"))
        .agg(round(base + lit(damping) * sum(col("c")).cast("double"), 9)
          .cast(DecimalType(20, 9)).as("r"))
        .localCheckpoint()
    }
    rank
      .join(deg.select(col("src").as("node"), col("deg")), "node")
      .select(col("node").as("doc_id"), col("deg"),
        round(col("r").cast("double"), 6).as("rank"))
      .orderBy(col("doc_id"))
  }

  /** Triangle census of the undirected pair graph — the clustering
    * signal PageRank's degree view misses: a dup FAMILY (template with
    * many near-copies) is triangle-dense, a dup CHAIN (A≈B≈C where
    * A≉C) is triangle-free, and the ratio tells a curator which.
    * Returns one row per triangle-participating vertex
    * (doc_id, n_triangles) plus the global count as max aggregable
    * downstream.
    *
    * Scale shape — the degree-ordered orientation (the standard
    * MapReduce triangle trick, Suri & Vassilvitskii 2011): orient
    * every edge from its lower-(degree, id) endpoint to the higher
    * one. Each triangle then has exactly ONE vertex with two outgoing
    * oriented edges, so joining the oriented list with itself on that
    * source and checking the closing edge counts each triangle once —
    * and per-vertex join fan-out is bounded by the ORIENTED
    * out-degree, ≤ O(√|E|) for any graph, never the raw degree of a
    * hub. Three equi-joins, no enumeration of raw-degree
    * neighborhoods.
    */
  def triangles(pairs: DataFrame): DataFrame = Scoped { s =>
    // read only until `oriented` below is checkpointed
    val und = s.cache(pairs.select(col("doc_a"), col("doc_b")).distinct())
    val deg = und.select(col("doc_a").as("v"))
      .union(und.select(col("doc_b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // orient by (deg, id): lower endpoint → higher endpoint
    val withDegs = und
      .join(deg.select(col("v").as("doc_a"), col("deg").as("da")), "doc_a")
      .join(deg.select(col("v").as("doc_b"), col("deg").as("db")), "doc_b")
    // localCheckpoint, not cache(): three downstream branches read the
    // oriented list, and an unreleased cache would park in the LRU
    // across bench reps (the bigramLm lesson) — checkpoint blocks die
    // with the frame
    val oriented = withDegs.select(
      when(col("da") < col("db") ||
          (col("da") === col("db") && col("doc_a") < col("doc_b")),
        struct(col("doc_a").as("lo"), col("doc_b").as("hi")))
        .otherwise(struct(col("doc_b").as("lo"), col("doc_a").as("hi")))
        .as("e"))
      .select(col("e.lo").as("src"), col("e.hi").as("dst"))
      .localCheckpoint()
    // wedges at the unique low vertex, closed by an oriented edge
    val e1 = oriented.select(col("src"), col("dst").as("u"))
    val e2 = oriented.select(col("src"), col("dst").as("w"))
    val wedges = e1.join(e2, Seq("src")).filter(col("u") < col("w"))
    val closing = oriented.select(col("src").as("cu"), col("dst").as("cw"))
      .union(oriented.select(col("dst").as("cu"), col("src").as("cw")))
    val tris = wedges.join(closing,
      col("u") === col("cu") && col("w") === col("cw"))
      .select(col("src"), col("u"), col("w"))
    tris.select(explode(array(col("src"), col("u"), col("w"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("doc_id"))
  }
}
