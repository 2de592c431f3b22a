package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Centroid clustering and φ-band partitioning — the reference's group-by
  * layer (`/root/reference/aeuc_vector_db/clustering.py`).
  *
  * The element-wise vector mean (`clustering.py:25-29`) is the one
  * genuinely custom aggregate: implemented as a Dataset-native
  * `Aggregator[Array[Float], (Array[Double], Long), Array[Double]]` doing
  * element-wise sum + count with map-side partial aggregation — a single
  * shuffle of one (dim-length array, count) buffer per group, not one row
  * per (group, dimension). Inertia (`clustering.py:32-34`) is a second
  * pass against the broadcast centroids, exactly mirroring the reference's
  * two-pass structure (`clustering.py:66-68`).
  */
object Clustering {

  /** Element-wise mean over a group of `array<float>` embeddings.
    * Buffer = (running element-wise sum in double, row count); merge is
    * associative+commutative so Spark can partial-aggregate map-side.
    * Empty group → empty array (reference raises on empty,
    * `clustering.py:27-28`; the engine enforces that at the call site).
    */
  object VecMeanAgg extends Aggregator[Array[Float], (Array[Double], Long), Array[Double]] {
    def zero: (Array[Double], Long) = (Array.empty[Double], 0L)
    def reduce(b: (Array[Double], Long), a: Array[Float]): (Array[Double], Long) = {
      if (a == null) return b
      if (b._1.isEmpty) {
        val s = new Array[Double](a.length)
        var i = 0; while (i < a.length) { s(i) = a(i).toDouble; i += 1 }
        (s, 1L)
      } else {
        val s = b._1
        var i = 0; while (i < a.length) { s(i) += a(i).toDouble; i += 1 }
        (s, b._2 + 1L)
      }
    }
    def merge(x: (Array[Double], Long), y: (Array[Double], Long)): (Array[Double], Long) = {
      if (x._1.isEmpty) y
      else if (y._1.isEmpty) x
      else {
        val s = x._1
        var i = 0; while (i < s.length) { s(i) += y._1(i); i += 1 }
        (s, x._2 + y._2)
      }
    }
    def finish(r: (Array[Double], Long)): Array[Double] =
      if (r._2 == 0L) Array.empty[Double] else r._1.map(_ / r._2)
    def bufferEncoder: Encoder[(Array[Double], Long)] = ExpressionEncoder()
    def outputEncoder: Encoder[Array[Double]] = ExpressionEncoder()
  }

  /** `vec_mean(embedding)` as an untyped aggregate column. */
  val vecMean = udaf(VecMeanAgg, ExpressionEncoder[Array[Float]]())

  /** Per-group centroids: groupBy(key) → element-wise mean + member list +
    * count. This is `form_pglyph` (`clustering.py:42-79`) with the group
    * key playing the role of the caller-selected member set.
    * `round6` keeps the double centroid hash-stable for the oracle.
    */
  def centroids(emb: DataFrame, key: Column, idCol: Column,
      withMembers: Boolean = true): DataFrame = {
    // `withMembers = false` skips the member-array aggregate entirely.
    // Callers that only need (centroid, n_members, inertia) must pass
    // false when the result is cached/checkpointed: materialization
    // defeats the column pruning that would otherwise drop collect_list.
    val aggs =
      vecMean(col("embedding")).as("centroid_raw") +:
        (if (withMembers) Seq(sort_array(collect_list(idCol)).as("member_ids")) else Nil) :+
        count(lit(1)).as("n_members")
    Partitioning.spread(emb)
      .groupBy(key.as("cluster_key"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("centroid", transform(col("centroid_raw"), x => round(x, 6)))
      .drop("centroid_raw")
  }

  /** Inertia = Σ‖e − c‖² per group — second pass joining members back to
    * their (small, broadcastable) centroid table, `clustering.py:32-34` +
    * `clustering.py:66-68`.
    */
  def withInertia(emb: DataFrame, key: Column, idCol: Column,
      withMembers: Boolean = true): DataFrame = {
    // The centroid table feeds two consumers (the broadcast join-back and
    // the final output join), and exchange reuse does not deduplicate
    // them (3 parquet scans, 0 ReusedExchange), so the returned lazy
    // plan runs the scan+shuffle+VecMeanAgg pass twice: one job fewer
    // per call than caching it in a scope and checkpointing the result.
    val cent = centroids(emb, key, idCol, withMembers)
    val joined = emb.withColumn("cluster_key", key)
      .join(broadcast(cent.select(col("cluster_key"), col("centroid"))), "cluster_key")
    val inertia = joined.groupBy(col("cluster_key"))
      .agg(round(sum(VectorOps.squaredDistance(col("embedding"), col("centroid"))), 6)
        .as("inertia"))
    cent.join(inertia, "cluster_key")
  }

  /** Per-row L2 norm of the embedding — raw (unrounded): the test
    * embeddings are L2-normalized, so band assignment lives in the
    * float noise around 1.0 exactly as in the reference; the same-order
    * double fold keeps it bit-deterministic across engines.
    */
  def normCol: Column = VectorOps.l2Norm(col("embedding"))

  /** φ-band assignment — `clustering.py:87-127`. Band boundaries at
    * `min + span·(1 − φ^{−k})`, k = 1..levels−1, with span = max−min+1e-12;
    * half-open bands [bᵢ, bᵢ₊₁), top bound max+1e-9 (inclusive).
    *
    * The global min/max is the one genuinely two-pass global step (the
    * reference scans twice as well, `clustering.py:110-118`). Computed
    * here as a single-row aggregate cross-joined (broadcast) onto every
    * row — no driver collect, no window-over-all-rows shuffle.
    */
  def withPhiBand(emb: DataFrame, levels: Int = 3): DataFrame = {
    val withNorm = emb.withColumn("norm", normCol)
    val bounds = withNorm.agg(
      min(col("norm")).as("min_n"), max(col("norm")).as("max_n"))
    val banded = withNorm.crossJoin(broadcast(bounds))
      .withColumn("span", col("max_n") - col("min_n") + lit(1e-12))
    // breaks(k) = min + span*(1 - phi^-k); band i covers [breaks(i), breaks(i+1)).
    // First-match when-chain in increasing k order (clustering.py:122-125).
    def break_(k: Int): Column =
      col("min_n") + col("span") * lit(1.0 - 1.0 / math.pow(VectorOps.Phi, k))
    val first = when(col("norm") < break_(1), lit(0))
    val bandExpr = (2 until levels)
      .foldLeft(first)((acc, k) => acc.when(col("norm") < break_(k), lit(k - 1)))
      .otherwise(lit(levels - 1))
    banded.withColumn("band", bandExpr)
      .drop("span", "min_n", "max_n")
  }

  /** `auto_cluster_phi` — `vector_field.py:351-390`: filter one context,
    * φ-band, one centroid per non-empty band tagged `phi_band_{i}`.
    */
  def autoClusterPhi(emb: DataFrame, ctxCol: Column, ctx: Int, levels: Int = 3,
      withMembers: Boolean = true): DataFrame = {
    val inCtx = emb.filter(ctxCol === ctx)
    val banded = withPhiBand(inCtx, levels)
    withInertia(banded, col("band"), col("vec_id"), withMembers)
      .withColumn("cluster_tag", concat(lit("phi_band_"), col("cluster_key")))
  }

  /** Simplified silhouette per cell (Hruschka et al. 2004's centroid
    * variant of Rousseeuw 1987): for each vector, a = distance to its
    * own (nearest) centroid, b = distance to the second-nearest, s =
    * (b − a) / max(a, b) — which reduces to 1 − a/b since a ≤ b by
    * construction. The full silhouette's pairwise a(i)/b(i) is Ω(n²);
    * the centroid form is the one that exists at corpus scale, and it
    * is the standard k-selection / cluster-health dial next to
    * [[withInertia]] (inertia always improves with k; silhouette
    * peaks).
    *
    * Shape at 100 TB: per-row work is k codegen'd dot products against
    * centroid literals (the [[KMeansIndex.cellExpr]] dot form ‖v−c‖² =
    * v·v + c·c − 2·v·c, clamped at 0 for float cancellation before the
    * sqrt) plus one k-element sort; the only shuffle is the per-cell
    * mean — map-side-combined, k output rows. No model broadcast, no
    * UDF, no pairwise join. Oracle-parity: every term is a
    * left-to-right double fold over the dumped centroid doubles;
    * per-row s rounds at 6 dp and the mean accumulates in decimals.
    */
  def simplifiedSilhouette(emb: DataFrame, centers: Array[Array[Double]]): DataFrame = {
    require(centers.length >= 2, "silhouette needs at least two centroids")
    val v = col("embedding")
    val vv = VectorOps.dotProduct(v, v)
    val dists = array(centers.map { c =>
      var cc = 0.0
      var i = 0
      while (i < c.length) { cc += c(i) * c(i); i += 1 }
      greatest(vv + lit(cc) - lit(2.0) * VectorOps.dotProduct(v, typedLit(c.toSeq)),
        lit(0.0))
    }.toIndexedSeq: _*)
    emb.select(col("vec_id"), dists.as("d"))
      .select(col("vec_id"),
        // first index holding the minimum — the lowest-cell tie-break,
        // exactly cellExpr's assignment
        (array_position(col("d"), array_min(col("d"))) - 1L).cast("int").as("cell"),
        sqrt(array_min(col("d"))).as("a"),
        sqrt(element_at(sort_array(col("d")), 2)).as("b"))
      .select(col("vec_id"), col("cell"),
        when(col("b") === 0.0, lit(0.0)) // all-identical degenerate: s := 0
          .otherwise(round((col("b") - col("a")) / col("b"), 6)).as("s"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("s").cast(org.apache.spark.sql.types.DecimalType(10, 6)))
          .cast("double") / count(lit(1)), 6).as("mean_silhouette"))
      .orderBy(col("cell"))
  }

  /** Per-group embedding dispersion — ALL-PAIRS mean cosine from ONE
    * linear pass, no pair ever materialized: for L2-normalized vectors
    * the pairwise-mean identity
    * `mean_{i≠j} cos(xᵢ, xⱼ) = (‖Σxᵢ‖² − n) / (n(n−1))` turns the
    * Ω(n²) diversity statistic into an element-wise sum — the most
    * 100 TB-shaped query on the board: map-side-combinable
    * (group, dim) partials, then a dim-bounded per-group fold.
    * `dispersion = 1 − mean_cos` reads as "how spread is this group's
    * embedding mass": ~0 = near-duplicates/template collapse (what
    * SemDeDup removes), ~1 = orthogonal coverage. The table a data
    * buyer reads per source/label before paying for more of it.
    *
    * Normalization is a PRECONDITION (the store enforces ≈unit norms;
    * `phi_partition` banding lives in the same float noise): the
    * operator's contract is the identity formula itself, which the
    * oracle replays bit-for-bit — components 9-dp-quantized into
    * decimal partial sums (order-free), squared-norm terms re-quantized
    * at 9 dp, one double division, 6-dp readouts. Groups with n < 2
    * have no pairs and drop.
    */
  def embeddingDispersion(emb: DataFrame, groupCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ex = Partitioning.spread(emb)
      .filter(col(groupCol).isNotNull && col("embedding").isNotNull)
      .select(col(groupCol).as("g"), posexplode(col("embedding")).as(Seq("k", "v")))
    val sums = ex.groupBy(col("g"), col("k"))
      .agg(sum(round(col("v").cast("double"), 9).cast(DecimalType(28, 9))).as("sv"))
    val s2 = sums.groupBy(col("g"))
      .agg(sum(round(col("sv").cast("double") * col("sv").cast("double"), 9)
        .cast(DecimalType(38, 9))).as("s2"))
    val n = emb.filter(col(groupCol).isNotNull && col("embedding").isNotNull)
      .groupBy(col(groupCol).as("g")).agg(count(lit(1)).as("n"))
    n.filter(col("n") >= 2).join(s2, "g")
      .withColumn("mc", (col("s2").cast("double") - col("n")) /
        (col("n") * (col("n") - lit(1L))))
      .select(col("g").as(groupCol), col("n"),
        round(col("mc"), 6).as("mean_cos"),
        round(lit(1.0) - col("mc"), 6).as("dispersion"))
      .orderBy(col(groupCol))
  }
}
