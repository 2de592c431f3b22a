package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{IGlyph, SparkEntry, VectorFieldDB, Views}

/** The benchmark's driver process: one workload, one client, closed loop.
  *
  * `perfbench/run.py` writes a plan file (workload, query list and
  * per-pass order, or the facade op script; seconds; trace flag) and
  * starts this main with it. The main sets up, runs untimed warm/check
  * work, then timed passes until the time is up, and writes raw
  * per-rep records to the plan's `result` path. Aggregation into
  * metrics happens in `run.py`.
  *
  * With `trace` off no listener is registered. With `trace` on, traced
  * passes register a [[LayerListener]] and a [[PlanListener]], give every
  * rep phase its own job group, and drain the listener bus after each rep
  * before reading its counters. Query passes leave the same state behind,
  * so a traced query run interleaves untraced and traced passes (ABBA) and
  * compares them; facade passes each meet a different store, so a traced
  * facade run traces every pass and measures the tracing overhead on
  * read-only rounds at the final store ([[Harness.overheadProbe]]).
  */
object Harness {
  private val mapper = new ObjectMapper()

  final class Plan(n: JsonNode) {
    val kind: String = n.get("kind").asText
    val inputDir: String = n.get("input_dir").asText
    val checkDir: String = n.get("check_dir").asText
    val result: String = n.get("result").asText
    val seconds: Double = n.get("seconds").asDouble
    val trace: Boolean = n.get("trace").asBoolean
    val cores: Int = n.get("cores").asInt
    val minPasses: Int = n.path("min_passes").asInt(1)
    val warmPasses: Int = n.path("warm_passes").asInt(0)
    val warmDir: String = n.path("warm_dir").asText(inputDir)
    val maxPasses: Int = n.path("max_passes").asInt(Int.MaxValue)
    val queries: Seq[String] = strings(n.path("queries"))
    val orders: Seq[Seq[Int]] =
      n.path("orders").elements.asScala.map(_.elements.asScala.map(_.asInt).toSeq).toSeq
    val injectFail: Set[String] = strings(n.path("inject_fail")).toSet
    val script: Option[JsonNode] =
      Option(n.get("vfdb_script")).map(p => mapper.readTree(Paths.get(p.asText).toFile))
  }

  private def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  /** One timed unit: a query rep or a facade op. Times are epoch ms. */
  final class Rep(val pass: Int, val seq: Int, val name: String, val rw: String,
      val traced: Boolean) {
    var t0 = 0.0; var t1 = 0.0; var t2 = 0.0
    var ok = true; var error: String = null
    var persistedAfter = 0; var storageBytesAfter = 0L
    var build: GroupCounters = null; var exec: GroupCounters = null
    var plans: Seq[(PlanRecord, Boolean)] = Nil
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()
    val plan = new Plan(mapper.readTree(Paths.get(args(0)).toFile))
    val spark = SparkSession.builder()
      .master(s"local[${plan.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", plan.cores.toString)
      // same local-scale coalescing floor graft.Bench runs with
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val h = new Harness(spark, plan)
    val out = new mutable.LinkedHashMap[String, Any]()
    out("jvm_start_ms") = jvmStartMs
    out("main_ms") = mainMs
    out("spark_ready_ms") = System.currentTimeMillis()
    h.setup(out)
    out("ready_ms") = System.currentTimeMillis()
    h.timedLoop(out)
    if (plan.trace && plan.kind == "vfdb") h.overheadProbe(out)
    h.finalChecks(out)
    if (plan.trace) out("kernels") = h.kernelProbes()
    Files.writeString(Paths.get(plan.result), Json.render(out))
    spark.stop()
  }
}

final class Harness(spark: SparkSession, plan: Harness.Plan) {
  import Harness._

  private val sc = spark.sparkContext
  private val layers = new LayerListener
  private val planner = new PlanListener
  private val reps = mutable.ArrayBuffer[Rep]()
  private val passes = mutable.ArrayBuffer[Map[String, Any]]()
  private val epochMs = System.currentTimeMillis()
  private val epochNs = System.nanoTime()
  private def nowMs: Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  private lazy val fns = plan.queries.map(q => q -> SparkEntry.queries(q)).toMap
  private var db: VectorFieldDB = null
  private var vectors: Map[Long, Array[Float]] = Map.empty
  private val pglyphIds = mutable.ArrayBuffer[String]()
  // sessions whose Views registration was timed: kept alive so a new
  // session never reuses a dead one's identity hash (the memo key of
  // Views.register) and meets an already-registered dir
  private val freshSessions = mutable.ArrayBuffer[SparkSession]()

  // ------------------------------------------------------------ set-up

  def setup(out: mutable.Map[String, Any]): Unit = {
    Views.register(spark, plan.inputDir)
    val checks = mutable.ArrayBuffer[Map[String, Any]]()
    if (plan.kind == "queries") {
      // warm passes over the small warm inputs: after one pass over the
      // real inputs alone the JIT keeps compiling for about four more
      // passes, and timed passes taken then spread 25% between runs on
      // 4 cores; the same queries over a tenth of the rows warm the same
      // code in about three quarters of the time
      for (_ <- 0 until plan.warmPasses; q <- plan.queries) {
        val r = new Rep(-1, checks.size, q, "read", traced = false)
        measured(r)(Some(fns(q)(spark, plan.warmDir))) { df =>
          df.write.format("noop").mode("overwrite").save()
        }
        checks += Map("name" -> s"warm.$q", "error" -> r.error, "wall_ms" -> (r.t2 - r.t0))
      }
      // then a pass over the real inputs that doubles as the output
      // check: each query once, its result written for run.py to compare
      // against the oracle; it also leaves the views bound to the real
      // inputs, so no timed SqlSurface query pays a registration
      for (q <- plan.queries) {
        val t0 = System.nanoTime()
        val err = try {
          fns(q)(spark, plan.inputDir).coalesce(1).write.mode("overwrite")
            .parquet(s"${plan.checkDir}/$q")
          null
        } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
        finally spark.sharedState.cacheManager.clearCache()
        checks += Map("name" -> q, "error" -> err, "wall_ms" -> (System.nanoTime() - t0) / 1e6)
      }
      out("oracle_sql") = plan.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    } else {
      val s = plan.script.get
      db = new VectorFieldDB(spark, s.get("dim").asInt)
      val e = spark.read.parquet(s"${plan.inputDir}/embeddings.parquet")
      vectors = e.select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      // the initial store: one glyph per embedding row, its label as context
      db.addIGlyphsDF(e.select(
        concat(lit("g"), col("vec_id").cast("string")).as("iglyph_id"),
        (col("vec_id") % 144000L).cast("int").as("glyph_id"),
        col("label").as("outer_context_id"),
        col("embedding"),
        concat(lit("observation_"), col("label").cast("string")).as("label"),
        lit(null).cast("string").as("proto_id"),
        lit("{}").as("meta"), lit("1.0.0").as("version"),
        current_timestamp().as("timestamp")))
      for ((op, i) <- s.get("warm").elements.asScala.zipWithIndex) {
        val r = new Rep(-1, i, op.get("op").asText, rwOf(op), traced = false)
        runOp(r, op)
        checks += Map("name" -> s"warm.${r.name}.$i", "error" -> r.error,
          "wall_ms" -> (r.t2 - r.t0))
      }
    }
    out("warm") = checks.toSeq
  }

  // -------------------------------------------------------- timed loop

  def timedLoop(out: mutable.Map[String, Any]): Unit = {
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val available = if (plan.kind == "queries") plan.orders.size
      else plan.script.get.get("passes").size
    var p = 0
    while (p < math.min(available, plan.maxPasses) &&
        (p < plan.minPasses || elapsed < plan.seconds)) {
      // traced query runs interleave untraced (A) and traced (B) passes
      // as ABBA ABBA…, so the tracing overhead is a same-run comparison
      // that a steady warm-up trend does not bias
      val traced = plan.trace && (plan.kind == "vfdb" || p % 4 == 1 || p % 4 == 2)
      // the real cost of Views.register, outside the pass timer: the
      // session the queries run on has the dir registered already, and
      // Views.register is then a memoised no-op
      val registerMs = if (traced) timedFreshRegister() else 0.0
      if (traced) { sc.addSparkListener(layers); spark.listenerManager.register(planner) }
      val t0 = System.nanoTime()
      val cpu0 = processCpuNs
      val before = reps.size
      if (plan.kind == "queries") runQueryPass(p, traced) else runOpPass(p, traced)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs - cpu0) / 1e9
      if (traced) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(layers); spark.listenerManager.unregister(planner)
      }
      passes += Map("pass" -> p, "traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpu,
        "ok" -> reps.drop(before).forall(_.ok), "register_ms" -> registerMs,
        "persisted_after" -> sc.getPersistentRDDs.size,
        "storage_bytes_after" -> storageBytes)
      p += 1
    }
    out("passes") = passes.toSeq
    out("reps") = reps.map(repJson).toSeq
  }

  private def timedFreshRegister(): Double = {
    val s = spark.newSession()
    freshSessions += s
    val t0 = System.nanoTime()
    Views.register(s, plan.inputDir)
    (System.nanoTime() - t0) / 1e6
  }

  /** Tracing overhead of a facade run: the last pass's searches (reads,
    * so the store does not change) as rounds at the final store, one
    * untimed round first (it may pay for caching the store), then
    * untraced and traced rounds as ABBA.
    */
  def overheadProbe(out: mutable.Map[String, Any]): Unit = {
    val script = plan.script.get.get("passes")
    val ops = script.get(passes.size - 1).elements.asScala
      .filter(_.get("op").asText == "search").toSeq
    val rounds = for (k <- -1 until 4) yield {
      val traced = k >= 0 && (k % 4 == 1 || k % 4 == 2)
      if (traced) { sc.addSparkListener(layers); spark.listenerManager.register(planner) }
      val t0 = System.nanoTime()
      val rs = ops.zipWithIndex.map { case (op, i) =>
        val r = new Rep(-2 - math.max(k, 0), i, "search", "read", traced)
        runOp(r, op)
        r
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(layers); spark.listenerManager.unregister(planner)
      }
      Map("round" -> k, "traced" -> traced, "wall_s" -> wall, "ok" -> rs.forall(_.ok))
    }
    out("overhead_probe") = rounds.filter(_("round").asInstanceOf[Int] >= 0)
  }

  /** CPU time of the whole JVM (driver, task, JIT and GC threads). */
  private def processCpuNs: Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime

  private def storageBytes: Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def runQueryPass(p: Int, traced: Boolean): Unit =
    for ((qi, i) <- plan.orders(p).zipWithIndex) {
      val q = plan.queries(qi)
      val r = new Rep(p, i, q, "read", traced)
      measured(r) {
        if (plan.injectFail(q)) throw new IllegalStateException(s"injected failure in $q")
        Some(fns(q)(spark, plan.inputDir))
      } { df => df.write.format("noop").mode("overwrite").save() }
      reps += r
    }

  private def runOpPass(p: Int, traced: Boolean): Unit =
    for ((op, i) <- plan.script.get.get("passes").get(p).elements.asScala.zipWithIndex) {
      val r = new Rep(p, i, op.get("op").asText, rwOf(op), traced)
      runOp(r, op)
      reps += r
    }

  private def rwOf(op: JsonNode): String = op.get("op").asText match {
    case "search" | "search_pg" | "get" => "read"
    case _ => "write"
  }

  /** Time one rep: `build` runs under the rep's build job group and may
    * return a DataFrame, which `exec` then runs under the execute group.
    * A throw marks the rep failed; it is still timed, so run.py can keep
    * it out of pass_s. Caches are read before they are cleared, so a
    * pin the rep leaked shows in `persisted_after`.
    */
  private def measured(r: Rep)(build: => Option[DataFrame])(exec: DataFrame => Unit): Unit = {
    val group = s"pb.${r.pass}.${r.seq}"
    var built: Option[DataFrame] = None
    try {
      sc.setJobGroup(s"$group.b", r.name, interruptOnCancel = false)
      r.t0 = nowMs
      built = build
      r.t1 = nowMs
      sc.setJobGroup(s"$group.x", r.name, interruptOnCancel = false)
      built.foreach(exec)
    } catch {
      case e: Throwable =>
        r.ok = false
        r.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        if (r.t1 == 0.0) r.t1 = nowMs
    } finally {
      r.t2 = nowMs
      sc.clearJobGroup()
    }
    r.persistedAfter = sc.getPersistentRDDs.size
    r.storageBytesAfter = storageBytes
    if (plan.kind == "queries") spark.sharedState.cacheManager.clearCache()
    if (r.traced) {
      PerfbenchBus.drain(sc)
      r.build = layers.take(s"$group.b")
      r.exec = layers.take(s"$group.x")
      val seen = planner.takeWindow(r.t0.toLong, r.t2.toLong + 1)
      // a DataFrame's own eager analysis is not an executed query, so
      // no listener reports it: read it from the returned frame
      val own = built.map(df => PlanRecord.of(df.queryExecution))
        .filterNot(o => seen.exists(_.qeId == o.qeId))
      r.plans = seen.map(pr => pr -> inBuild(pr, r)) ++ own.map(_ -> true)
    }
  }

  private def inBuild(pr: PlanRecord, r: Rep): Boolean =
    pr.phases.values.map(_._1).minOption.forall(_ <= r.t1)

  // ------------------------------------------------------ facade ops

  private def floats(n: JsonNode): Array[Float] =
    n.elements.asScala.map(_.floatValue).toArray

  private def runOp(r: Rep, op: JsonNode): Unit = measured(r) {
    def expect(cond: Boolean, what: => String): Unit =
      if (!cond) throw new IllegalStateException(s"${r.name}: $what")
    r.name match {
      case "search" =>
        val ctx = op.get("ctx").asInt
        Some(db.search(vectors(op.get("q").asLong), op.get("k").asInt,
          op.get("metric").asText, ctxFilter = if (ctx < 0) None else Some(ctx)))
      case "search_pg" =>
        Some(db.searchPGlyphs(vectors(op.get("q").asLong), op.get("k").asInt))
      case "get" =>
        val got = db.getIGlyph(op.get("id").asText)
        expect(got.isDefined == op.get("expect").asBoolean, s"found=${got.isDefined}")
        None
      case "add" =>
        db.addIGlyphs(op.get("rows").elements.asScala.map { g =>
          IGlyph(g.get("id").asText, g.get("glyph").asInt, g.get("ctx").asInt,
            floats(g.get("v")), label = s"observation_${g.get("ctx").asInt}")
        }.toSeq)
        None
      case "update" =>
        db.updateIGlyphEmbedding(op.get("id").asText, floats(op.get("v"))); None
      case "delete" =>
        db.deleteIGlyph(op.get("id").asText); None
      case "form" =>
        pglyphIds += db.formCluster(strings(op.get("members")), op.get("anchor").asInt,
          op.get("ctx").asInt, clusterTag = op.get("tag").asText)
        None
      case "recompute" =>
        db.recomputePGlyph(pglyphIds(op.get("pg").asInt)); None
    }
  } { df =>
    val n = df.collect().length
    val want = op.get("expect_rows").asInt
    if (n != want) throw new IllegalStateException(s"${r.name}: $n rows, expected $want")
  }

  // ------------------------------------------------------------ checks

  def finalChecks(out: mutable.Map[String, Any]): Unit =
    if (db != null) out("vfdb") = try {
      val scanned = db.verifyHash()
      val st = db.stats()
      Map("hash_ok" -> (scanned == db.currentHash),
        "stats" -> st.filter(_._2.isInstanceOf[Long]))
    } catch { case e: Throwable => Map("hash_ok" -> false, "error" -> e.getMessage) }

  /** Kernel cost from outside the plan: the same aggregate over the same
    * in-memory frame with and without the kernel call; the difference
    * per row is the kernel's cost, array or string decoding included.
    * Median of 3 alternating runs.
    */
  def kernelProbes(): Map[String, Double] = {
    def replicated(df: DataFrame, rows: Long): DataFrame = {
      val n = df.count().max(1L)
      val x = df.crossJoin(spark.range((rows + n - 1) / n).toDF("rep")).cache()
      x.count(); x
    }
    def nsPerRow(x: DataFrame, base: org.apache.spark.sql.Column,
        kernel: org.apache.spark.sql.Column): Double = {
      val n = x.count()
      def t(c: org.apache.spark.sql.Column) = {
        val t0 = System.nanoTime(); x.agg(c).collect(); (System.nanoTime() - t0).toDouble
      }
      val d = (0 until 3).map(_ => t(kernel) - t(base)).sorted
      d(1) / n
    }
    val emb = replicated(spark.read.parquet(s"${plan.inputDir}/embeddings.parquet")
      .select("embedding"), 200000L)
    val q = emb.head().getSeq[Float](0)
    val vec = nsPerRow(emb, max(size(col("embedding"))),
      max(graft.functions.VectorOps.similarity("cosine")(col("embedding"), typedLit(q))))
    emb.unpersist(true)
    val docs = replicated(spark.read.parquet(s"${plan.inputDir}/documents.parquet")
      .select("text"), 20000L)
    val sh = nsPerRow(docs, sum(length(col("text"))),
      sum(size(graft.operators.Dedup.shingleArray(col("text")))))
    docs.unpersist(true)
    Map("vec_score_ns_per_row" -> vec, "shingle_ns_per_doc" -> sh)
  }

  // -------------------------------------------------------------- JSON

  private def countersJson(c: GroupCounters): Map[String, Any] =
    if (c == null) null else Map(
      "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "task_ms" -> c.taskMs, "cpu_ns" -> c.cpuNs, "gc_ms" -> c.gcMs,
      "deser_ms" -> c.deserMs, "spill_bytes" -> c.spillBytes,
      "peak_mem_bytes" -> c.peakMemBytes,
      "shuffle_write_bytes" -> c.shuffleWriteBytes,
      "shuffle_read_bytes" -> c.shuffleReadBytes, "fetch_wait_ms" -> c.fetchWaitMs,
      "input_bytes" -> c.inputBytes, "input_rows" -> c.inputRows,
      "job_spans" -> c.jobSpans.map(j => Seq(j._1, j._2, j._3)).toSeq,
      "stage_spans" -> c.stageSpans.map(s => Seq(s._1, s._2, s._3, s._4)).toSeq)

  private def repJson(r: Rep): Map[String, Any] = Map(
    "pass" -> r.pass, "seq" -> r.seq, "name" -> r.name, "rw" -> r.rw,
    "traced" -> r.traced, "t0" -> r.t0, "t1" -> r.t1, "t2" -> r.t2,
    "ok" -> r.ok, "error" -> r.error,
    "persisted_after" -> r.persistedAfter, "storage_bytes_after" -> r.storageBytesAfter,
    "build" -> countersJson(r.build), "exec" -> countersJson(r.exec),
    "plans" -> r.plans.map { case (pr, b) =>
      Map("in_build" -> b, "phases" -> pr.phases.map { case (k, v) => k -> Seq(v._1, v._2) })
    })
}

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
