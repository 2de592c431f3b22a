package graft

import java.sql.Timestamp
import java.time.Instant
import java.util.UUID
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.operators.{Clustering, Scoped}

/** Audit record — schema from `vector_field.py:109-117`. */
case class AuditRecord(action: String, timestamp: Timestamp,
    hash_before: String, hash_after: String, details: Map[String, String])

/** The engine facade — Spark re-expression of `VectorFieldDB`
  * (`/root/reference/aeuc_vector_db/vector_field.py:45-486`).
  *
  * State is two managed DataFrames (iglyphs, pglyphs) plus an append-only
  * audit log. DataFrames are immutable, so every mutation builds the new
  * plan and swaps the reference — serialized mutations exactly like the
  * reference's single-threaded model. A write that puts a join or an
  * aggregate into a table's plan (cluster formation, recompute, batch
  * and JSONL inserts) materializes that table with an eager
  * `localCheckpoint` before it returns, so later reads scan the result
  * instead of re-running the work; cheap row-local writes (single adds,
  * updates, deletes) stack on the plan until [[maybeCheckpoint]] cuts
  * it. A write releases every temporary it cached once its tables are
  * materialized; a superseded table checkpoint is left to Spark's
  * ContextCleaner, since a caller may still hold the old frame.
  *
  * The reference's two inverted-list indexes (`vector_field.py:81-82`)
  * have no materialized equivalent: they are predicate pushdown + (at
  * scale) partitioning by outer_context_id.
  *
  * Deviations from the reference, documented per SURVEY.md §7.4:
  *  - membership hash is sha2-256 (JVM has no Blake2b built-in); the
  *    audited property — membership changes change the hash — holds up
  *    to the accumulators' collision resistance (see below).
  *  - the hash canonicalizes two independent order-independent folds of
  *    per-id sha2 slices (GF(2) XOR + wrapping mod-2^64 sum) rather
  *    than the full sorted id lists (the reference JSON-serializes
  *    every id, `vector_field.py:95-103`, which cannot scale past
  *    driver memory). The folds are maintained INCREMENTALLY from each
  *    mutation's delta — no job, no store scan per mutation — and
  *    [[verifyHash]] recomputes them from a full scan (one Spark job)
  *    as the consistency check, run at restore(). For a cryptographic
  *    commitment (byte-parity with the reference's digest) use
  *    [[referenceHash]].
  */
class VectorFieldDB(val spark: SparkSession, val dim: Int) {
  require(dim >= 1, s"dim must be >= 1, got $dim")

  import spark.implicits._

  /** Typed-view boundary: the case classes carry `meta` as a JSON
    * string; the stored frames type it `variant` — heterogeneous values
    * (`Dict[str, Any]`, `types.py:116`) survive storage, JSONL and
    * snapshots natively and are queryable with `variant_get`.
    */
  private def withVariantMeta(df: DataFrame): DataFrame =
    df.withColumn("meta", parse_json(col("meta")))
  private def withJsonMeta(df: DataFrame): DataFrame =
    df.withColumn("meta", to_json(col("meta")))

  private var iglyphsDF: DataFrame = withVariantMeta(spark.emptyDataset[IGlyph].toDF())
  private var pglyphsDF: DataFrame = withVariantMeta(spark.emptyDataset[PGlyph].toDF())
  // Audit history lives in a DataFrame like the glyph tables — a 100×
  // mutation stream must not accumulate on the driver. Records buffer in
  // a BOUNDED (≤ AuditFlushEvery) staging ArrayBuffer and flush into the
  // frame with lineage truncation, mirroring maybeCheckpoint's cadence;
  // historyLen is maintained as a counter so stats() costs no job.
  private var historyDF: DataFrame = spark.emptyDataset[AuditRecord].toDF()
  private val pendingAudit = ArrayBuffer[AuditRecord]()
  private var historyLen: Long = 0L
  private var mutationsSinceCheckpoint = 0

  // Incremental membership accumulators: TWO independent order-
  // independent lanes per table over disjoint 60-bit slices of each id's
  // sha256 — an XOR fold (self-inverse: delete = add) and a wrapping
  // mod-2^64 sum (delete = subtract). A pure XOR lane is linear over
  // GF(2) — any 61 ids contain a subset whose hashes XOR to zero, so a
  // crafted membership change could slip past it; forging BOTH a GF(2)
  // xor-collision AND a mod-2^64 sum-collision simultaneously on the
  // same subset has no linear structure to exploit. Still not a
  // cryptographic commitment — [[referenceHash]] (BLAKE2b over the full
  // sorted id lists) is the strong digest; these lanes are the O(1)-per-
  // mutation audit value whose divergence [[verifyHash]] checks.
  private var iXor: Long = 0L; private var iSum: Long = 0L
  private var pXor: Long = 0L; private var pSum: Long = 0L

  var currentHash: String = hashOf(iXor, iSum, pXor, pSum)

  // Startup banner — `vector_field.py:88-89` (same glyph, same
  // truncation), but routed through the logging framework at INFO
  // rather than println: a Spark library instantiated inside jobs must
  // not write to stdout, where it would interleave with driver output
  // (it was visibly polluting bench JSON tails).
  VectorFieldDB.log.info(f"✅ VectorFieldDB v${VectorFieldDB.Version}  dim=$dim")
  VectorFieldDB.log.info(s"   initial hash: ${currentHash.take(16)}...")

  def iglyphs: DataFrame = iglyphsDF
  def pglyphs: DataFrame = pglyphsDF

  /** The audit log as a DataFrame: the flushed frame plus the bounded
    * staging buffer (parallelized in insertion order, so a collect
    * returns mutation order exactly as the buffer-only form did).
    */
  def changeHistory: DataFrame =
    if (pendingAudit.isEmpty) historyDF
    else historyDF.unionByName(pendingAudit.toSeq.toDF())

  /** SQL reachability for the managed stores (SURVEY §1.1: "tables
    * registered as temp views `iglyphs`, `pglyphs`"): bind the three
    * frames as temp views and register the graftx similarity
    * expressions, so `spark.sql("SELECT iglyph_id, vec_cosine_sim(
    * embedding, ...) FROM iglyphs ORDER BY 2 DESC LIMIT k")` is the
    * reference's `search` verbatim. Views bind the CURRENT frame —
    * DataFrames are immutable and mutators swap the managed frame, so
    * this re-runs after mutations (each call is catalog-metadata only,
    * no scan). Callers that interleave SQL with mutations call it
    * again, exactly as they would re-read [[iglyphs]].
    */
  def registerViews(): Unit = {
    org.apache.spark.sql.graftx.GraftFunctions.register(spark)
    iglyphs.createOrReplaceTempView("iglyphs")
    pglyphs.createOrReplaceTempView("pglyphs")
    changeHistory.createOrReplaceTempView("change_history")
  }

  // -------------------------------------------------------------- audit

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Per-id lane hashes: disjoint 60-bit slices of sha256(id) hex
    * (chars [0,15) and [15,30)). Match [[idHashCol1]]/[[idHashCol2]]
    * bit-for-bit (Spark's sha2 emits the same lowercase hex), so
    * driver-side incremental updates and the full-scan verification
    * fold to identical accumulators.
    */
  private def idHashes(id: String): (Long, Long) = {
    val hex = sha256Hex(id)
    (java.lang.Long.parseLong(hex.substring(0, 15), 16),
      java.lang.Long.parseLong(hex.substring(15, 30), 16))
  }

  /** The same lane hashes as Catalyst columns (for scan-side folds). */
  private def idHashCol1(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(sha2(c, 256), 1, 15), 16, 10).cast("long")
  private def idHashCol2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(sha2(c, 256), 16, 15), 16, 10).cast("long")

  /** Lane-2 sums aggregate as DECIMAL(38,0) (a long sum of 60-bit values
    * overflows at ~16 rows under ANSI); the driver reduces mod 2^64 —
    * BigInteger.longValue IS the wrapped two's-complement value, exactly
    * matching Java's wrapping `+=`/`-=` on the incremental side.
    */
  private def wrapped(d: java.math.BigDecimal): Long =
    if (d == null) 0L else d.toBigInteger.longValue

  private def sumLane(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 0)))

  /** Membership hash — `vector_field.py:95-103` (sha2-256 deviation):
    * canonical digest over the four per-table lane accumulators.
    */
  private def hashOf(ix: Long, is: Long, px: Long, ps: Long): String =
    sha256Hex(s"""{"iglyphs": [$ix, $is], "pglyphs": [$px, $ps]}""")

  /** Full-scan recomputation of the membership accumulators — ONE Spark
    * job over both id sets. This is the verification path (tamper
    * evidence, run at [[restore]] and available to audits); mutations
    * never call it.
    */
  private def scanAccs(): (Long, Long, Long, Long) = {
    val row = iglyphsDF.select(lit("i").as("t"),
        idHashCol1(col("iglyph_id")).as("h1"), idHashCol2(col("iglyph_id")).as("h2"))
      .unionByName(pglyphsDF.select(lit("p").as("t"),
        idHashCol1(col("pglyph_id")).as("h1"), idHashCol2(col("pglyph_id")).as("h2")))
      .agg(
        coalesce(expr("bit_xor(CASE WHEN t = 'i' THEN h1 END)"), lit(0L)),
        sumLane(expr("CASE WHEN t = 'i' THEN h2 END")),
        coalesce(expr("bit_xor(CASE WHEN t = 'p' THEN h1 END)"), lit(0L)),
        sumLane(expr("CASE WHEN t = 'p' THEN h2 END")))
      .head()
    (row.getLong(0), wrapped(row.getDecimal(1)),
      row.getLong(2), wrapped(row.getDecimal(3)))
  }

  /** BYTE-PARITY membership digest — blake2b-256 over the reference's
    * exact canonical payload `json.dumps({"iglyphs": sorted,
    * "pglyphs": sorted}, sort_keys=True)` (`vector_field.py:95-103`):
    * a store migrated from the reference produces the identical hex.
    * Ids stream through the digest via sorted `toLocalIterator`, so
    * driver MEMORY stays constant, but driver CPU is O(n) — this is the
    * audit/export/migration path; [[currentHash]] is the scalable
    * incrementally-maintained equivalent. (Spark's binary UTF8 string
    * ordering matches Python's code-point `sorted()`.)
    */
  def referenceHash(): String = {
    val b = new functions.Blake2b(32)
    def feed(s: String): Unit = { val x = s.getBytes("UTF-8"); b.update(x, 0, x.length) }
    def feedIds(df: DataFrame, idCol: String): Unit = {
      val it = df.select(col(idCol)).orderBy(col(idCol)).toLocalIterator()
      var first = true
      while (it.hasNext) {
        if (!first) feed(", ")
        feed(functions.Blake2b.pyJsonStr(it.next().getString(0)))
        first = false
      }
    }
    feed("{\"iglyphs\": [")
    feedIds(iglyphsDF, "iglyph_id")
    feed("], \"pglyphs\": [")
    feedIds(pglyphsDF, "pglyph_id")
    feed("]}")
    b.digest().map("%02x".format(_)).mkString
  }

  /** Recompute the membership hash from a full scan and check it against
    * the incrementally-maintained [[currentHash]]. Returns the scanned
    * hash; throws on divergence (tampered / externally-mutated state).
    */
  def verifyHash(): String = {
    val (ix, is, px, ps) = scanAccs()
    val scanned = hashOf(ix, is, px, ps)
    if (scanned != currentHash) throw new IllegalStateException(
      s"membership hash divergence: incremental=$currentHash scan=$scanned")
    scanned
  }

  /** Append an audit record — `vector_field.py:105-117`. The hash chain
    * reads the incrementally-maintained accumulators: no Spark job, no
    * store scan per mutation.
    */
  private def log(action: String, details: (String, String)*): Unit = {
    val before = currentHash
    currentHash = hashOf(iXor, iSum, pXor, pSum)
    pendingAudit += AuditRecord(action, Timestamp.from(Instant.now()), before,
      currentHash, details.toMap)
    historyLen += 1
    if (pendingAudit.size >= VectorFieldDB.AuditFlushEvery) flushAudit()
  }

  /** Move the staging buffer into the history frame, truncating lineage
    * (same cadence rationale as [[maybeCheckpoint]]): the driver never
    * holds more than [[VectorFieldDB.AuditFlushEvery]] audit rows.
    */
  private def flushAudit(): Unit = if (pendingAudit.nonEmpty) {
    historyDF = historyDF.unionByName(pendingAudit.toSeq.toDF()).localCheckpoint(true)
    pendingAudit.clear()
  }

  /** Row-local writes (single adds, updates, deletes) stack cheap
    * projections, filters and unions on the plan; every 16th write of
    * any kind truncates that lineage. Writes that add a join or an
    * aggregate have already materialized their tables when they get
    * here, and still count toward the cadence.
    */
  private def maybeCheckpoint(): Unit = {
    mutationsSinceCheckpoint += 1
    if (mutationsSinceCheckpoint >= 16) {
      iglyphsDF = iglyphsDF.localCheckpoint(true)
      pglyphsDF = pglyphsDF.localCheckpoint(true)
      mutationsSinceCheckpoint = 0
    }
  }

  // --------------------------------------------------------------- CRUD

  private lazy val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Reject invalid meta JSON AT THE MUTATION — `parse_json` inside the
    * stored frame is lazy, so an unvalidated bad string would be
    * accepted, poison the frame, and only explode in a later unrelated
    * action with no recovery path through the API.
    */
  private def requireJsonMeta(s: String): Unit =
    if (s != null) {
      val node = try jsonMapper.readTree(s) catch {
        case e: Exception =>
          throw new IllegalArgumentException(s"meta is not valid JSON: '$s'", e)
      }
      if (node == null || node.isMissingNode)
        throw new IllegalArgumentException(s"meta is not valid JSON: '$s'")
    }

  private def validated(g: IGlyph): IGlyph = {
    Validation.requireGlyphId(g.glyph_id)
    Validation.requireCtx(g.outer_context_id)
    Validation.requireDim(g.embedding, dim)
    requireJsonMeta(g.meta)
    g
  }

  /** Batch insert — the engine-native write path (`add_iglyph`,
    * `vector_field.py:133-175`, batch-oriented). Duplicate ids (against
    * the store or within the batch) are an error, matching the
    * reference's ValueError.
    */
  def addIGlyphs(rows: Seq[IGlyph]): Seq[String] = {
    val vs = rows.map(validated)
    val ids = vs.map(_.iglyph_id)
    require(ids.distinct.size == ids.size, s"duplicate iglyph_id in batch")
    val dups = iglyphsDF.join(ids.toDF("iglyph_id"), Seq("iglyph_id"), "left_semi")
      .select("iglyph_id").as[String].collect()
    require(dups.isEmpty, s"IGlyph id already exists: ${dups.mkString(",")}")
    iglyphsDF = iglyphsDF.unionByName(withVariantMeta(vs.toDS().toDF()))
    ids.foreach { id =>
      val (h1, h2) = idHashes(id); iXor ^= h1; iSum += h2
    }
    maybeCheckpoint()
    // single-row adds log the reference's per-row kwargs
    // (`vector_field.py:173-174`); batches log the count
    if (vs.size == 1)
      log("ADD_IGLYPH", "iglyph_id" -> vs.head.iglyph_id,
        "glyph_id" -> vs.head.glyph_id.toString,
        "outer_context_id" -> vs.head.outer_context_id.toString)
    else log("ADD_IGLYPH", "count" -> vs.size.toString)
    ids
  }

  /** Distributed batch insert — no driver materialization: validation as
    * distributed counts, duplicate check as an anti-join, then union.
    * This is the write path that scales (addIGlyphs(Seq) mirrors the
    * reference's row-at-a-time API for parity).
    */
  def addIGlyphsDF(rows: DataFrame): Long = {
    // a JSON-string meta column (the typed-view form) is validated in
    // the same job below and converted to variant only after the batch
    // passes — converting first would defer the parse into the stored
    // frame, where an invalid string poisons every later action
    val stringMeta = rows.schema("meta").dataType ==
      org.apache.spark.sql.types.StringType
    // cached for the validation job and the union; released once the
    // store has materialized, or when the batch is rejected
    Scoped { s =>
      val df = s.cache(rows.select(iglyphsDF.columns.map(col): _*))
      val badMeta =
        if (stringMeta) $"meta".isNotNull && try_parse_json($"meta").isNull
        else lit(false)
      // all validation counts in one job: constraint violations, batch
      // size, batch-internal dups, collisions with the existing store
      val v = df
        .join(iglyphsDF.select($"iglyph_id", lit(1).as("existing")), Seq("iglyph_id"), "left")
        .withColumn("idh1", idHashCol1($"iglyph_id"))
        .withColumn("idh2", idHashCol2($"iglyph_id"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct($"iglyph_id").as("n_ids"),
          // every constrained column checked isNull explicitly: a NULL
          // comparison is NULL, which would otherwise fall through
          // otherwise(0) and let the row pass as valid
          sum(when(
            $"embedding".isNull || size($"embedding") =!= dim ||
              $"glyph_id".isNull || $"glyph_id" < 0 || $"glyph_id" > Validation.GlyphIdMax ||
              $"outer_context_id".isNull ||
              $"outer_context_id" < 0 || $"outer_context_id" > Validation.CtxMax ||
              $"iglyph_id".isNull || badMeta, 1L).otherwise(0L)).as("bad"),
          sum(when($"existing".isNotNull, 1L).otherwise(0L)).as("dups"),
          // membership-hash lane deltas fused into the same job, applied
          // only if the batch commits
          coalesce(expr("bit_xor(idh1)"), lit(0L)).as("delta1"),
          sumLane($"idh2").as("delta2"))
        .head()
      val n = v.getLong(0)
      if (n > 0L) { // sums are NULL on an empty batch
        require(v.getLong(2) == 0L, s"${v.getLong(2)} rows violate schema constraints")
        require(v.getLong(1) == n, "duplicate iglyph_id within batch")
        require(v.getLong(3) == 0L, s"${v.getLong(3)} iglyph ids already exist")
        iglyphsDF = iglyphsDF
          .unionByName(if (stringMeta) withVariantMeta(df) else df)
          .localCheckpoint(true)
        iXor ^= v.getLong(4)
        iSum += wrapped(v.getDecimal(5))
        log("ADD_IGLYPH", "count" -> n.toString)
      }
      n
    }
  }

  /** Single insert convenience; generates a UUID when id not supplied. */
  def addIGlyph(glyphId: Int, ctx: Int, embedding: Array[Float],
      label: String = "", id: Option[String] = None,
      meta: String = "{}"): String = {
    val gid = id.getOrElse(UUID.randomUUID().toString)
    addIGlyphs(Seq(IGlyph(gid, glyphId, ctx, embedding, label, None, meta)))
    gid
  }

  /** Point lookup — `vector_field.py:177-179`. */
  def getIGlyph(id: String): Option[IGlyph] =
    withJsonMeta(iglyphsDF.filter($"iglyph_id" === id)).as[IGlyph].collect().headOption

  def getPGlyph(id: String): Option[PGlyph] =
    withJsonMeta(pglyphsDF.filter($"pglyph_id" === id)).as[PGlyph].collect().headOption

  /** Replace embedding + refresh timestamp — `vector_field.py:181-194`.
    * Missing id → NoSuchElementException (reference KeyError).
    */
  def updateIGlyphEmbedding(id: String, embedding: Array[Float]): Unit = {
    Validation.requireDim(embedding, dim)
    if (getIGlyph(id).isEmpty) throw new NoSuchElementException(s"IGlyph not found: $id")
    iglyphsDF = iglyphsDF
      .withColumn("embedding",
        when($"iglyph_id" === id, typedLit(embedding.toSeq)).otherwise($"embedding"))
      .withColumn("timestamp",
        when($"iglyph_id" === id, lit(Timestamp.from(Instant.now()))).otherwise($"timestamp"))
    maybeCheckpoint()
    log("UPDATE_IGLYPH", "iglyph_id" -> id)
  }

  /** Delete + clean parent PGlyph member lists — `vector_field.py:196-216`. */
  def deleteIGlyph(id: String): Unit = {
    val ig = getIGlyph(id).getOrElse(
      throw new NoSuchElementException(s"IGlyph not found: $id"))
    iglyphsDF = iglyphsDF.filter($"iglyph_id" =!= id)
    pglyphsDF = pglyphsDF.withColumn("member_ids", array_remove($"member_ids", id))
    // delete: XOR lane is self-inverse, sum lane subtracts
    val (h1, h2) = idHashes(id); iXor ^= h1; iSum -= h2
    maybeCheckpoint()
    // `vector_field.py:215` logs the deleted row's glyph_id too
    log("DELETE_IGLYPH", "iglyph_id" -> id, "glyph_id" -> ig.glyph_id.toString)
  }

  // --------------------------------------------------------- clustering

  /** Form a PGlyph from explicit member ids — `vector_field.py:222-265` +
    * `clustering.py:42-79`. Unknown ids are silently dropped
    * (`vector_field.py:244`); all-unknown → error.
    */
  def formCluster(memberIds: Seq[String], anchorGlyphId: Int, ctx: Int,
      clusterTag: String = "", meta: String = "{}"): String =
    formClusterOf(memberIds.toDF("iglyph_id"), anchorGlyphId, ctx, clusterTag, meta)

  /** DataFrame-native cluster formation — the scale path: membership
    * stays distributed end-to-end. The driver sees only bounded values
    * (the dim-length centroid and the member count); the member-id
    * array and the inertia are aggregated executor-side into the stored
    * row. Both tables are materialized before the call returns.
    */
  def formClusterOf(memberIdsDF: DataFrame, anchorGlyphId: Int, ctx: Int,
      clusterTag: String = "", meta: String = "{}"): String = {
    Validation.requireGlyphId(anchorGlyphId)
    Validation.requireCtx(ctx)
    requireJsonMeta(meta)
    val pgId = UUID.randomUUID().toString
    // back-pointers first (vector_field.py:256-257): an IN-subquery is
    // an existence join against the member ids — never an `isin`
    // literal tree — so a repeated id matches its row once and an
    // unknown id matches none (the reference's silent drop). The
    // checkpointed table then holds the member set as the rows that
    // point at the new pglyph; it replaces the store only on success.
    val tagged = iglyphsDF
      .withColumn("proto_id",
        when($"iglyph_id".isin(memberIdsDF.toDF("iglyph_id")), lit(pgId))
          .otherwise($"proto_id"))
      .localCheckpoint(true)
    val (centroid, n, row) =
      clusterRow(tagged.filter($"proto_id" === pgId))(
        throw new IllegalArgumentException("no valid member ids"))
    val now = Timestamp.from(Instant.now())
    val pgRow = row
      .select(lit(pgId).as("pglyph_id"), lit(anchorGlyphId).as("glyph_id"),
        lit(ctx).as("outer_context_id"),
        typedLit(centroid.toSeq).as("centroid"), $"member_ids",
        lit(clusterTag).as("cluster_tag"), $"inertia",
        parse_json(lit(meta)).as("meta"), lit("1.0.0").as("version"),
        lit(now).as("timestamp"))
    pglyphsDF = pglyphsDF.unionByName(pgRow.select(pglyphsDF.columns.map(col): _*))
      .localCheckpoint(true)
    iglyphsDF = tagged
    val (ph1, ph2) = idHashes(pgId); pXor ^= ph1; pSum += ph2
    maybeCheckpoint()
    log("FORM_CLUSTER", "pglyph_id" -> pgId, "member_count" -> n.toString)
    pgId
  }

  /** Re-resolve members (dropping deleted), recompute centroid+inertia —
    * `vector_field.py:271-285`. Membership is resolved distributed (the
    * stored list exploded and semi-joined, cached for the two passes);
    * the rebuilt row carries the surviving member array executor-side
    * and is materialized before the call returns.
    */
  def recomputePGlyph(id: String): Unit = {
    val target = pglyphsDF.filter($"pglyph_id" === id)
    Scoped { s =>
      val members = s.cache(iglyphsDF
        .join(target.select(explode($"member_ids").as("iglyph_id")), Seq("iglyph_id"), "left_semi")
        .select($"iglyph_id", $"embedding"))
      // an unknown id and a pglyph whose members were all deleted both
      // resolve no members; only that failure path pays the job that
      // tells them apart
      val (centroid, n, row) = clusterRow(members)(
        if (target.isEmpty) throw new NoSuchElementException(s"PGlyph not found: $id")
        else throw new IllegalStateException(s"PGlyph $id has no remaining members"))
      val now = Timestamp.from(Instant.now())
      // unchanged fields carried over via a 1×1 cross join
      val keep = target.select($"pglyph_id", $"glyph_id", $"outer_context_id",
        $"cluster_tag", $"meta", $"version")
      val newRow = row.crossJoin(keep)
        .select($"pglyph_id", $"glyph_id", $"outer_context_id",
          typedLit(centroid.toSeq).as("centroid"), $"member_ids",
          $"cluster_tag", $"inertia", $"meta", $"version",
          lit(now).as("timestamp"))
      pglyphsDF = pglyphsDF.filter($"pglyph_id" =!= id)
        .unionByName(newRow.select(pglyphsDF.columns.map(col): _*))
        .localCheckpoint(true)
      maybeCheckpoint()
      // `vector_field.py:284` logs the surviving member count
      log("RECOMPUTE_PGLYPH", "pglyph_id" -> id, "members" -> n.toString)
    }
  }

  /** The two passes over a cluster's member rows, as in the reference
    * (`clustering.py:25-34,66-68`): the first aggregate brings only the
    * centroid and the member count to the driver; the second, against
    * the centroid literal, is the stored row's sorted member list and
    * inertia (`member_ids`, `inertia`), left for the caller's write to
    * materialize. `members` must be cheap to scan twice.
    */
  private def clusterRow(members: DataFrame)(onEmpty: => Nothing)
      : (Array[Float], Long, DataFrame) = {
    val agg = members.agg(Clustering.vecMean($"embedding"), count(lit(1))).head()
    val n = agg.getLong(1)
    if (n == 0L) onEmpty
    val centroid = agg.getSeq[Double](0).map(_.toFloat).toArray
    (centroid, n, members.agg(
      sort_array(collect_list($"iglyph_id")).as("member_ids"),
      sum(VectorOps.squaredDistance($"embedding", typedLit(centroid.toSeq))).as("inertia")))
  }

  /** φ-banded auto-clustering of one context — `vector_field.py:351-390`.
    * Returns the new pglyph ids (one per non-empty band). Reference
    * parity: one formCluster (and one audit record) per band. The only
    * driver-side collect is the list of non-empty bands (≤ levels rows);
    * band membership stays distributed, cached once so the per-band
    * passes don't recompute the norm/bounds scan, and released after the
    * last band's write.
    */
  def autoClusterPhi(ctx: Int, anchorGlyphId: Int, levels: Int = 3): Seq[String] = {
    Validation.requireCtx(ctx)
    Scoped { s =>
      val banded = s.cache(Clustering.withPhiBand(
        iglyphsDF.filter($"outer_context_id" === ctx), levels).select($"iglyph_id", $"band"))
      val present = banded.select($"band").distinct()
        .orderBy($"band").as[Int].collect()
      present.toSeq.map { b =>
        formClusterOf(banded.filter($"band" === b).select($"iglyph_id"),
          anchorGlyphId, ctx, s"phi_band_$b")
      }
    }
  }

  /** Batched φ-auto-clustering: all band clusters formed in one
    * aggregation pass with a single audit record — the job-count-lean
    * variant of autoClusterPhi for high-core/driver-latency-sensitive
    * runs (reference parity loop above audits one record per band).
    * The driver sees only bounded values (≤ levels dim-length
    * centroids); member arrays and inertias are aggregated executor-side
    * and back-pointers written via a distributed join keyed on
    * iglyph_id. Both tables are materialized before the call returns.
    */
  def autoClusterPhiBatch(ctx: Int, anchorGlyphId: Int, levels: Int = 3): Seq[String] = {
    Validation.requireCtx(ctx)
    Validation.requireGlyphId(anchorGlyphId)
    // cache(), NOT localCheckpoint: this frame carries the ctx slice's
    // EMBEDDINGS (both passes below read them), and checkpoint blocks
    // are non-evictable — at 100× a ctx slice is ~10% of the corpus
    // pinned in executor storage, the round-12 OOM mechanism
    // (Dedup.containmentPairs cache-policy note). A cache is evictable
    // and recomputable, and released below.
    Scoped { s =>
      val banded = s.cache(Clustering.withPhiBand(
        iglyphsDF.filter($"outer_context_id" === ctx), levels)
        .select($"iglyph_id", $"embedding", $"band"))
      // first pass, a bounded driver collect: ≤ levels rows of
      // dim-length (rounded) centroids
      val cents = Clustering.centroids(banded, $"band", $"iglyph_id", withMembers = false)
        .select($"cluster_key", $"centroid").collect()
      if (cents.isEmpty) Seq.empty
      else {
        val now = Timestamp.from(Instant.now())
        val pgInfo = cents.sortBy(_.getInt(0)).map { r =>
          val band = r.getInt(0)
          (band, UUID.randomUUID().toString, r.getSeq[Double](1), s"phi_band_$band")
        }.toSeq
        val info = pgInfo.toDF("band", "pglyph_id", "centroid", "cluster_tag")
        // second pass: each band's sorted member list and inertia against
        // its rounded centroid, aggregated executor-side into the stored
        // rows, which the checkpoint materializes
        val pgRows = banded.join(broadcast(info.select($"band", $"centroid")), "band")
          .groupBy($"band")
          .agg(sort_array(collect_list($"iglyph_id")).as("member_ids"),
            round(sum(VectorOps.squaredDistance($"embedding", $"centroid")), 6).as("inertia"))
          .join(broadcast(info), "band")
          .select($"pglyph_id", lit(anchorGlyphId).as("glyph_id"),
            lit(ctx).as("outer_context_id"), $"centroid".cast("array<float>").as("centroid"),
            $"member_ids", $"cluster_tag", $"inertia", parse_json(lit("{}")).as("meta"),
            lit("1.0.0").as("version"), lit(now).as("timestamp"))
        pglyphsDF = pglyphsDF.unionByName(pgRows.select(pglyphsDF.columns.map(col): _*))
          .localCheckpoint(true)
        // back-pointers: (iglyph_id → pglyph_id) stays a distributed join —
        // a shuffle join at scale, never a collected mapping
        val mapping = banded.select($"iglyph_id", $"band")
          .join(broadcast(info.select($"band", $"pglyph_id".as("new_proto"))), "band")
          .select($"iglyph_id", $"new_proto")
        iglyphsDF = iglyphsDF.join(mapping, Seq("iglyph_id"), "left")
          .withColumn("proto_id", coalesce($"new_proto", $"proto_id"))
          .drop("new_proto")
          .localCheckpoint(true)
        pgInfo.foreach { case (_, pgId, _, _) =>
          val (h1, h2) = idHashes(pgId); pXor ^= h1; pSum += h2
        }
        maybeCheckpoint()
        log("AUTO_CLUSTER_PHI", "bands" -> pgInfo.length.toString, "ctx" -> ctx.toString)
        pgInfo.map(_._2)
      }
    }
  }

  // ------------------------------------------------------------- search

  /** Brute-force top-k — `vector_field.py:291-326`. Returns iglyph rows +
    * score, descending, with iglyph_id tiebreak (Python's stable sort has
    * no Spark equivalent).
    */
  def search(query: Array[Float], topK: Int = 10, metric: String = "cosine",
      glyphIdFilter: Option[Int] = None, ctxFilter: Option[Int] = None): DataFrame = {
    Validation.requireDim(query, dim)
    val filtered = Seq(
      glyphIdFilter.map(g => $"glyph_id" === g),
      ctxFilter.map(c => $"outer_context_id" === c)
    ).flatten.foldLeft(iglyphsDF)((df, p) => df.filter(p))
    filtered
      .withColumn("score",
        VectorOps.similarity(metric)($"embedding", typedLit(query.toSeq)))
      .orderBy($"score".desc, $"iglyph_id".asc)
      .limit(topK)
  }

  /** Coarse centroid search — `vector_field.py:328-345`. */
  def searchPGlyphs(query: Array[Float], topK: Int = 5,
      metric: String = "cosine"): DataFrame = {
    Validation.requireDim(query, dim)
    pglyphsDF
      .withColumn("score",
        VectorOps.similarity(metric)($"centroid", typedLit(query.toSeq)))
      .orderBy($"score".desc, $"pglyph_id".asc)
      .limit(topK)
  }

  // --------------------------------------------------------------- I/O

  /** Export all iglyphs as JSONL, sorted by timestamp —
    * `vector_field.py:396-406`.
    */
  def exportJsonl(): Dataset[String] =
    iglyphsDF.orderBy($"timestamp", $"iglyph_id").toJSON

  /** Import JSONL — `vector_field.py:408-446`: silently skip rows with
    * wrong dimension; skip existing ids (or replace when overwrite);
    * single audit record; returns imported count.
    */
  def importJsonl(lines: Dataset[String], overwrite: Boolean = false): Long = {
    val parsed = spark.read.schema(iglyphsDF.schema).json(lines)
      .filter(size($"embedding") === dim)
      .filter($"iglyph_id".isNotNull)
      .dropDuplicates("iglyph_id")
    // cached for the count job and the write; released once the store
    // has materialized
    Scoped { s =>
      val incoming = s.cache(parsed)
      // one job: import count + membership delta (XOR fold over the ids
      // NOT already present — overwritten ids don't change membership)
      val m = incoming
        .join(iglyphsDF.select($"iglyph_id", lit(1).as("ex")), Seq("iglyph_id"), "left")
        .withColumn("idh1", idHashCol1($"iglyph_id"))
        .withColumn("idh2", idHashCol2($"iglyph_id"))
        .agg(count(lit(1)).as("n_in"),
          sum(when($"ex".isNull, 1L).otherwise(0L)).as("n_new"),
          coalesce(expr("bit_xor(CASE WHEN ex IS NULL THEN idh1 END)"), lit(0L)).as("delta1"),
          sumLane(expr("CASE WHEN ex IS NULL THEN idh2 END")).as("delta2"))
        .head()
      val imported =
        if (overwrite) {
          val replaced = iglyphsDF.join(incoming.select("iglyph_id"), Seq("iglyph_id"), "left_anti")
          iglyphsDF = replaced.unionByName(incoming)
          m.getLong(0) // count(*) is never NULL, no empty-batch guard needed
        } else {
          val fresh = incoming.join(iglyphsDF.select("iglyph_id"), Seq("iglyph_id"), "left_anti")
          iglyphsDF = iglyphsDF.unionByName(fresh)
          if (m.getLong(0) == 0L) 0L else m.getLong(1) // the SUM is NULL on empty input
        }
      iXor ^= m.getLong(2)
      iSum += wrapped(m.getDecimal(3))
      iglyphsDF = iglyphsDF.localCheckpoint(true)
      log("IMPORT_JSONL", "count" -> imported.toString, "overwrite" -> overwrite.toString)
      imported
    }
  }

  /** Full-state checkpoint — `vector_field.py:448-461`: parquet per table
    * plus a manifest.
    */
  def snapshot(outDir: String): Unit = {
    // ctx partitioning (10 values) makes the reference's ctx equality
    // filter partition pruning on reload — the 100 TB layout
    iglyphsDF.write.mode("overwrite").partitionBy("outer_context_id")
      .parquet(s"$outDir/iglyphs")
    pglyphsDF.write.mode("overwrite").parquet(s"$outDir/pglyphs")
    changeHistory.write.mode("overwrite").parquet(s"$outDir/change_history")
    // manifest version is the DB VERSION, as in the reference's snapshot
    // dict (`vector_field.py:455`), not the per-record "1.0.0"
    val manifest =
      s"""{"version": "${VectorFieldDB.Version}", "dim": $dim, "current_hash": "$currentHash"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/manifest.json"), manifest)
  }

  /** Restore from a snapshot directory, verifying it against the
    * manifest: the snapshot's dimensionality must match this store, the
    * audit history is reloaded, and the recomputed membership hash must
    * equal the manifest's `current_hash` (tamper evidence — the point of
    * the audit chain, `vector_field.py:88-103`).
    */
  def restore(snapDir: String): Unit = {
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$snapDir/manifest.json"))
    def field(name: String): String =
      s""""$name":\\s*"?([^",}]+)"?""".r.findFirstMatchIn(manifest)
        .getOrElse(throw new IllegalStateException(
          s"manifest.json missing field '$name'")).group(1)
    val snapDim = field("dim").trim.toInt
    require(snapDim == dim,
      s"snapshot dim $snapDim does not match store dim $dim")
    iglyphsDF = spark.read.parquet(s"$snapDir/iglyphs")
    pglyphsDF = spark.read.parquet(s"$snapDir/pglyphs")
    // the history stays a DataFrame across the round trip — no driver
    // materialization of the full log (timestamp sort restores mutation
    // order up to same-millisecond ties, as the buffered form did)
    pendingAudit.clear()
    historyDF = spark.read.parquet(s"$snapDir/change_history")
      .orderBy(col("timestamp"))
    historyLen = historyDF.count()
    // full-scan recomputation — the tamper-evidence check point
    val (ix, is, px, ps) = scanAccs()
    iXor = ix; iSum = is; pXor = px; pSum = ps
    currentHash = hashOf(iXor, iSum, pXor, pSum)
    val expected = field("current_hash").trim
    if (currentHash != expected) throw new IllegalStateException(
      s"snapshot hash mismatch: manifest=$expected recomputed=$currentHash")
  }

  /** Live counts — `vector_field.py:467-478` (exact count-distincts). */
  def stats(): Map[String, Any] = {
    val ig = iglyphsDF.agg(count(lit(1)), countDistinct($"glyph_id"),
      countDistinct($"outer_context_id")).head()
    Map(
      "iglyph_count" -> ig.getLong(0),
      "glyph_ids_used" -> ig.getLong(1),
      "contexts_used" -> ig.getLong(2),
      "pglyph_count" -> pglyphsDF.count(),
      "history_len" -> historyLen,
      "current_hash" -> currentHash,
      "version" -> VectorFieldDB.Version,
      "dim" -> dim)
  }

  /** `vector_field.py:480-486` — version, dims, counts, truncated hash. */
  override def toString: String =
    s"VectorFieldDB(v${VectorFieldDB.Version} dim=$dim " +
      s"iglyphs=${iglyphsDF.count()} pglyphs=${pglyphsDF.count()} " +
      s"hash=${currentHash.take(8)}...)"
}

object VectorFieldDB {
  /** Engine version — `vector_field.py:65` (`VERSION = "0.1.0"`). The
    * DB-level version is distinct from the per-record `version` field
    * ("1.0.0", `types.py:117`).
    */
  val Version = "0.1.0"

  /** Audit records staged on the driver before flushing into the
    * distributed history frame — the bound on driver-held audit state.
    * Matches maybeCheckpoint's lineage-truncation cadence.
    */
  val AuditFlushEvery = 16

  private[graft] val log = org.slf4j.LoggerFactory.getLogger(classOf[VectorFieldDB])
}
