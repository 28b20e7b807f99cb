package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.gen.FixtureGen
import graft.io.Zones
import graft.pipeline.Runner

/** One benchmark run inside one JVM: set up the workload, run its ops in a
  * closed loop from one client thread until the time is up, and write every
  * op's timing and output digest (plus, traced, the per-layer record) as
  * JSON for `run.py`, which checks the outputs against DuckDB.
  *
  * Arguments are `--key value` pairs; see `run.py` for the full set. */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Catalog rows per workload, and the module each row belongs to. */
  val SqlRows: Seq[String] = Seq("q01_pricing_summary", "q03_filter_in",
    "q07_dedup_latest", "q08_topk_per_group", "q12_revenue_by_nation",
    "q18_topk_orders", "q20_rollup", "q46_region_revenue", "q49_asof_join",
    "q63_gold_kpis", "q63b_gold_daily", "q63c_gold_status_mix", "q97_retention")
  val CcRows: Set[String] = Set("q57_dup_clusters", "q62_dup_clusters_lsh")
  val TrainRows: Seq[String] = CcRows.toSeq.sorted ++ Seq("q36b_minhash_lsh_md5",
    "q182_doremi_mix", "q212_length_batching", "q74_semantic_dedup",
    "q224_web_curate_e2e")
  val Templates: Seq[String] = Seq("silver_point_lookup", "silver_user_history",
    "silver_day_merchant_topk", "silver_range_status_mix", "gold_merchant_kpis")
  val RunnerStages: Seq[String] =
    Seq("bronze", "silver", "audit", "audit_summary", "gold")

  def moduleOf(name: String): String = {
    import graft.analytics._
    if (name == "q224_web_curate_e2e" || name == "q253_pretrain_e2e") "pipeline"
    else if ((Relational.defs ++ GoldQueries.defs ++ LakeQueries.defs).exists(_.name == name)) "analytics"
    else if (graft.dedup.DedupQueries.defs.exists(_.name == name)) "dedup"
    else if (graft.similarity.SimilarityQueries.defs.exists(_.name == name)) "similarity"
    else if (graft.ml.MlQueries.defs.exists(_.name == name)) "ml"
    else "text"
  }

  final class Args(val m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    val workload: String = apply("workload")
    val seed: Long = apply("seed").toLong
    val seconds: Double = apply("seconds").toDouble
    val trace: Boolean = apply("trace") == "1"
    val work: String = new File(apply("work")).getAbsolutePath
  }

  /** The result of one op, ready to be digested outside the timed region. */
  sealed trait Output
  final case class Rows(schema: org.apache.spark.sql.types.StructType,
      rows: Array[Row]) extends Output
  final case class LakeRun(root: String, res: Runner.Result) extends Output

  final case class Op(kind: String, name: String, module: String,
      params: Map[String, String], body: () => Output)

  /** `--workload` may list several workloads (comma-separated): they then
    * run one after another in this JVM, each under `<work>/<workload>`, as
    * the class-data-sharing training run of the build does. */
  def main(argv: Array[String]): Unit = {
    val boot = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val m = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workloads = m("workload").split(',').toSeq
    workloads.foreach { w =>
      val args = if (workloads.size == 1) new Args(m)
        else new Args(m ++ Map("workload" -> w, "work" -> s"${m("work")}/$w"))
      val out = new Harness(args).run() + ("jvm_boot_s" -> boot)
      Files.writeString(Paths.get(args("out")), mapper.writeValueAsString(out))
    }
    // some catalog rows leave idle non-daemon pools behind; do not wait on them
    System.exit(0)
  }

  def rowText(r: Row): Seq[String] =
    r.toSeq.map {
      case null => null
      case d: java.math.BigDecimal => d.toPlainString
      case v => v.toString
    }

  def resultMap(r: Runner.Result): Map[String, Any] =
    Map("raw_rows" -> r.rawRows, "bronze_rows" -> r.bronzeRows,
      "silver_rows" -> r.silverRows, "invalid_rows" -> r.invalidRows,
      "dq_summary" -> r.dqSummaryJson)

  def sha1(lines: Seq[String]): String =
    MessageDigest.getInstance("SHA-1").digest(lines.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def dirBytes(root: File): (Long, Long) =
    if (!root.exists) (0L, 0L)
    else {
      val files = Files.walk(root.toPath).filter(p => Files.isRegularFile(p))
        .toArray.map(_.asInstanceOf[Path]).filterNot { p =>
          val n = p.getFileName.toString; n.startsWith(".") || n.startsWith("_")
        }
      (files.map(Files.size).sum, files.length.toLong)
    }

  /** Peak resident set of this process so far, from the kernel. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}

final class Harness(a: Harness.Args) {
  import Harness._

  private val setup = mutable.LinkedHashMap.empty[String, Double]
  private def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setup(name) = setup.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  private val cpus = Runtime.getRuntime.availableProcessors()
  private val tracer = new Tracer(false)
  private val spark: SparkSession = phase("session") {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private val listener: Option[EngineListener] =
    if (a.trace) Some(new EngineListener) else None

  private val sizes = mutable.LinkedHashMap.empty[String, Any]
  private val records = ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  private val firstHash = mutable.Map.empty[String, String]
  private val checkDir = s"${a.work}/check"
  private val queries = SparkEntry.queries

  // ── inputs ────────────────────────────────────────────────────────────

  /** The raw CSV from the seed, generated `setup_repeats` times; the
    * median time counts toward setup. */
  private def genCsv(dir: String): String = {
    val times = (1 to a.int("setup_repeats")).map { _ =>
      deleteTree(new File(dir))
      val t0 = System.nanoTime()
      FixtureGen.generate(dir, FixtureGen.Config(days = a.int("days"),
        rowsPerDay = a.int("rows_per_day"), seed = a.seed))
      (System.nanoTime() - t0) / 1e9
    }.sorted
    setup("input_csv") = times(times.size / 2)
    val (bytes, files) = dirBytes(new File(dir))
    sizes("raw_rows") = a.int("days").toLong * a.int("rows_per_day")
    sizes("raw_csv_bytes") = bytes
    sizes("raw_csv_files") = files
    s"$dir/transactions"
  }

  /** A fresh lake root whose raw zone hard-links the generated CSV. */
  private def freshRoot(rawDir: String, n: Int): Zones = {
    val z = Zones(s"${a.work}/lakes/op$n")
    val src = Paths.get(rawDir)
    Files.walk(src).toArray.map(_.asInstanceOf[Path]).foreach { p =>
      val dst = Paths.get(z.raw).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.createLink(dst, p)
    }
    z
  }

  private def runner(z: Zones): Runner.Result =
    tracer.span("pipeline.Runner.run")(Runner.run(spark, z, mode = "overwrite",
      runDate = "2025-08-03"))

  // ── ops ───────────────────────────────────────────────────────────────

  private def catalogOp(name: String, dir: String): Op = {
    val m = moduleOf(name)
    Op("catalog", name, m, Map("dir" -> dir), () => {
      val df = tracer.span(s"$m.build")(queries(name)(spark, dir))
      val rows = tracer.span(s"$m.exec")(df.collect())
      Rows(df.schema, rows)
    })
  }

  private def templateOp(name: String, sql: String, params: Map[String, String]): Op =
    Op("template", name, "lake", params, () => {
      val df = tracer.span("lake.build")(spark.sql(sql))
      val rows = tracer.span("lake.exec")(df.collect())
      Rows(df.schema, rows)
    })

  /** The fresh root is prepared before the op, outside the timed region. */
  private def etlOp(rawDir: String, n: Int): Op = {
    val z = freshRoot(rawDir, n)
    Op("etl", "runner_overwrite", "pipeline", Map("root" -> z.root),
      () => LakeRun(z.root, runner(z)))
  }

  // ── workloads ─────────────────────────────────────────────────────────

  /** Sets the workload up and returns its round generator. */
  private def prepare(): Int => Seq[Op] = a.workload match {
    case "etl_medallion" =>
      val raw = genCsv(s"${a.work}/input/raw")
      // two untimed full-size runs: the first pays class loading and
      // codegen, the second most of the JIT, so timed ops start near steady
      phase("warmup")(Seq(-1, -2).foreach { k =>
        val z = freshRoot(raw, k)
        runner(z)
        deleteTree(new File(z.root))
      })
      var n = 0
      _ => Seq.fill(a.int("ops_per_round")) { n += 1; etlOp(raw, n) }

    case "lake_sql" =>
      // The lake build is the program's own write path; it also warms the
      // engine core before the first timed query.
      val raw = genCsv(s"${a.work}/input/raw")
      val zones = freshRoot(raw, 0)
      sizes("lake_root") = zones.root
      phase("prebuild") {
        sizes("lake_result") = resultMap(runner(zones))
        zones.registerTables(spark)
        spark.read.parquet(s"${zones.gold}/merchant_daily_kpis")
          .createOrReplaceTempView("gold_merchant_daily_kpis")
      }
      val params = phase("params")(templateParams(zones))
      // The seed draws the template parameters; the order of the mix is
      // fixed (templates round-robin, a catalog row after every third), so
      // each op pays the same share of first-execution cost in every run.
      val rnd = new Random(a.seed)
      _ => {
        val templates = Seq.fill(a.int("template_repeats"))(Templates).flatten
          .map(template(_, params, rnd))
        val rows = SqlRows.map(catalogOp(_, a("tables")))
        val every = math.max(1, templates.size / rows.size)
        templates.grouped(every).toSeq.zipAll(rows.map(Seq(_)), Nil, Nil)
          .flatMap { case (t, r) => t ++ r }
      }

    case "train_curate" =>
      // fixed row order, for the same reason; the seed shapes the corpus
      _ => TrainRows.map(catalogOp(_, a("tables")))

    case other => sys.error(s"unknown workload $other")
  }

  /** Seeded template parameters drawn from the silver zone (setup only). */
  private def templateParams(z: Zones): Map[String, IndexedSeq[String]] = {
    val keys = spark.read.parquet(z.silver)
      .where(pmod(xxhash64(col("txn_id")), lit(64)) === lit(a.seed % 64))
      .select(col("txn_id"), col("user_id"), col("merchant_id"), col("txn_date").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    val dates = keys.map(_._4).distinct.sorted
    Map("txn_id" -> keys.map(_._1).toIndexedSeq,
      "user_id" -> keys.map(_._2).filter(u => u != null && u.nonEmpty).toIndexedSeq,
      "merchant_id" -> keys.map(_._3).distinct.sorted.toIndexedSeq,
      "txn_date" -> dates.toIndexedSeq)
  }

  private def template(name: String, p: Map[String, IndexedSeq[String]], rnd: Random): Op = {
    def pick(k: String) = p(k)(rnd.nextInt(p(k).size))
    val (params, sql) = name match {
      case "silver_point_lookup" =>
        val id = pick("txn_id")
        Map("txn_id" -> id) ->
          s"""SELECT txn_id, merchant_id, user_id, amount, currency, status,
             |status_curated, CAST(txn_date AS STRING) AS txn_date
             |FROM silver_transactions WHERE txn_id = '$id'""".stripMargin
      case "silver_user_history" =>
        val u = pick("user_id")
        Map("user_id" -> u) ->
          s"""SELECT txn_id, CAST(txn_date AS STRING) AS txn_date, amount, status_curated
             |FROM silver_transactions WHERE user_id = '$u'
             |ORDER BY txn_ts DESC, txn_id LIMIT 20""".stripMargin
      case "silver_day_merchant_topk" =>
        val d = pick("txn_date")
        Map("txn_date" -> d) ->
          s"""SELECT merchant_id, COUNT(*) AS n, SUM(amount) AS total
             |FROM silver_transactions WHERE txn_date = DATE'$d'
             |GROUP BY merchant_id ORDER BY total DESC, merchant_id LIMIT 10""".stripMargin
      case "silver_range_status_mix" =>
        val dates = p("txn_date")
        val i = rnd.nextInt(dates.size - 1)
        val (d1, d2) = (dates(i), dates(i + 1))
        Map("from" -> d1, "to" -> d2) ->
          s"""SELECT status_curated, currency, COUNT(*) AS n, SUM(amount) AS total
             |FROM silver_transactions WHERE txn_date BETWEEN DATE'$d1' AND DATE'$d2'
             |GROUP BY status_curated, currency""".stripMargin
      case "gold_merchant_kpis" =>
        val m = pick("merchant_id")
        Map("merchant_id" -> m) ->
          s"""SELECT merchant_id, CAST(txn_date AS STRING) AS txn_date, txn_count,
             |gross_amount, distinct_users, success_amount
             |FROM gold_merchant_daily_kpis WHERE merchant_id = '$m'""".stripMargin
    }
    templateOp(name, sql, params + ("sql" -> sql))
  }

  // ── execution ─────────────────────────────────────────────────────────

  /** Every op starts cache-cold: drop cached plans and persisted RDDs. */
  private def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Tracing is switched per op (spans and the listener), so the gap
    * between traced and untraced ops is the tracing overhead on the same mix
    * in the same JVM. */
  private def setTracing(on: Boolean): Unit = if (on != tracer.enabled) {
    tracer.enabled = on
    listener.foreach { l =>
      if (on) { spark.sparkContext.addSparkListener(l); spark.listenerManager.register(l) }
      else { spark.sparkContext.removeSparkListener(l); spark.listenerManager.unregister(l) }
    }
  }

  private def execute(op: Op, n: Int, round: Int): Unit = {
    clearCaches()
    listener.foreach { l => EngineListener.settle(spark.sparkContext); l.drain() }
    tracer.op = n
    val rec = mutable.LinkedHashMap[String, Any]("op" -> n, "round" -> round,
      "kind" -> op.kind, "name" -> op.name, "module" -> op.module,
      "traced" -> tracer.enabled, "params" -> op.params)
    val t0 = System.nanoTime()
    val result = try Right(tracer.span("op")(op.body())) catch {
      case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}")
    }
    rec("seconds") = (System.nanoTime() - t0) / 1e9
    if (tracer.enabled) traceOp(op, n, rec)
    result match {
      case Left(reason) => rec("ok") = false; rec("reason") = reason
      case Right(out) => rec("ok") = true; digest(op, out, rec)
    }
    if (tracer.enabled && op.kind == "etl" && result.isRight) traceLake(op.params("root"), n)
    records += rec
  }

  /** Outside the timed region: hash the rows, keep what run.py checks. */
  private def digest(op: Op, out: Output, rec: mutable.LinkedHashMap[String, Any]): Unit =
    out match {
      case Rows(schema, rows) =>
        val text = rows.toSeq.map(rowText)
        val hash = sha1(text.map(_.mkString("\u0001")).sorted)
        rec("rows") = rows.length
        rec("hash") = hash
        op.kind match {
          case "template" => rec("result") = text
          case _ =>
            firstHash.get(op.name) match {
              case None =>
                firstHash(op.name) = hash
                val path = s"$checkDir/${op.name}"
                spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
                  .coalesce(1).write.mode("overwrite").parquet(path)
                rec("check_path") = path
                SparkEntry.oracleSql.get(op.name).foreach(rec("oracle") = _)
              case Some(h) if h != hash =>
                rec("ok") = false
                rec("reason") = s"output hash $hash differs from the first run's $h"
              case _ =>
            }
        }
      case LakeRun(root, r) =>
        rec("root") = root
        rec("result") = resultMap(r)
        val (bytes, files) = dirBytes(new File(root))
        val (raw, rawFiles) = dirBytes(new File(s"$root/raw"))
        rec("zone_bytes") = bytes - raw
        rec("files_written") = files - rawFiles
    }

  /** Traced only, right after the op and before anything else touches the
    * engine: engine counts, scan metrics and leaked storage for one op. */
  private def traceOp(op: Op, n: Int, rec: mutable.LinkedHashMap[String, Any]): Unit = {
    val sc = spark.sparkContext
    EngineListener.settle(sc)
    val (jobs, stages, qes) = listener.get.drain()
    val top = opSpan(n)
    val stageById = stages.map(s => s.id -> s).toMap
    def engine(js: Seq[JobRec]): Map[String, Double] = {
      val ss = js.flatMap(_.stages).distinct.flatMap(stageById.get)
      Map("jobs" -> js.size.toDouble, "stages" -> ss.size.toDouble,
        "tasks" -> ss.map(_.tasks).sum.toDouble,
        "executor_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
        "shuffle_bytes" -> ss.map(_.shuffleBytes).sum.toDouble,
        "spill_bytes" -> ss.map(_.spillBytes).sum.toDouble)
    }
    engine(jobs).foreach { case (k, v) => tracer.count(top, s"engine.$k", v) }
    tracer.count(top, "engine.plan_s", qes.map(_.planNs).sum / 1e9)
    // driver-only: op wall time not covered by any running job
    val startMs = top.startNs / 1000000L
    val endMs = top.endNs / 1000000L
    val busy = jobs.map(j => (math.max(j.startMs, startMs), math.min(
      if (j.endMs < 0) endMs else j.endMs, endMs))).filter(i => i._2 > i._1).sortBy(_._1)
    var covered = 0L
    var cursor = startMs
    busy.foreach { case (s, e) =>
      val from = math.max(s, cursor)
      if (e > from) { covered += e - from; cursor = e }
    }
    tracer.count(top, "engine.driver_only_s", (endMs - startMs - covered) / 1000.0)
    if (op.kind != "etl") {
      tracer.count(top, "io.files_read", qes.map(_.filesRead).sum.toDouble)
      tracer.count(top, "io.rows_read", qes.map(_.rowsRead).sum.toDouble)
    }
    if (CcRows(op.name)) tracer.count(top, "dedup.cc_jobs", jobs.size.toDouble)
    if (op.kind == "etl") stageWindows(n, op.params("root")).foreach { case (st, s0, s1) =>
      engine(jobs.filter(j => j.startMs >= s0 && j.startMs <= s1))
        .foreach { case (k, v) => tracer.count(top, s"pipeline.${st}_$k", v) }
    }
    val info = sc.getRDDStorageInfo
    tracer.count(top, "storage.leaked_blocks", info.map(_.numCachedPartitions).sum.toDouble)
    tracer.count(top, "storage.leaked_bytes", info.map(i => i.memSize + i.diskSize).sum.toDouble)
    rec("counts") = top.counts
  }

  private def opSpan(n: Int): Span =
    tracer.spans.reverseIterator.find(s => s.op == n && s.name == "op").get

  /** Each Runner stage's [start, end] in epoch ms, from the JobStatus
    * reports Runner.run wrote; each also becomes a child span of the run. */
  private def stageWindows(n: Int, root: String): Seq[(String, Long, Long)] = {
    val run = tracer.spans.find(s => s.op == n && s.name == "pipeline.Runner.run").get
    RunnerStages.map { st =>
      val node = mapper.readTree(new File(s"$root/jobstatus/${st}_2025-08-03.json"))
      val s0 = node.get("start_ms").asLong
      val s1 = s0 + node.get("duration_ms").asLong
      tracer.spans += Span(n, tracer.spans.size, run.id, s"pipeline.$st",
        s0 * 1000000L, s1 * 1000000L)
      (st, s0, s1)
    }
  }

  /** Zone sizes of one lake op, and the raw-scan floor timed into a noop
    * sink (its own span, outside the op span). */
  private def traceLake(root: String, n: Int): Unit = {
    val top = opSpan(n)
    Seq("bronze", "silver", "audit", "gold").foreach { z =>
      tracer.count(top, s"io.${z}_bytes", dirBytes(new File(s"$root/$z"))._1.toDouble)
    }
    val raw = dirBytes(new File(s"$root/raw"))._2
    tracer.count(top, "io.files_written", (dirBytes(new File(root))._2 - raw).toDouble)
    tracer.span("io.raw_scan")(Zones(root).readRaw(spark).write.format("noop")
      .mode("overwrite").save())
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  // ── main loop ─────────────────────────────────────────────────────────

  def run(): Map[String, Any] = {
    val rounds = prepare()
    clearCaches()
    val setupDone = System.nanoTime()
    // Closed loop, one client: next op only after the previous one ends;
    // whole rounds only, so every run measures the same mix. A traced run
    // makes at least two rounds and traces every other op, the other half
    // in the next round, so each op is measured both ways as often.
    var n = 0
    var round = 0
    val limit = a.seconds * 1e9
    val minRounds = if (a.trace) 2 else 1
    while (round < minRounds || System.nanoTime() - setupDone < limit) {
      rounds(round).zipWithIndex.foreach { case (op, i) =>
        setTracing(a.trace && (i + round) % 2 == 1)
        execute(op, n, round)
        n += 1
      }
      round += 1
    }
    setTracing(false)
    val wall = (System.nanoTime() - setupDone) / 1e9
    val rss = peakRssMb
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cpus" -> cpus, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "setup" -> setup.toMap, "sizes" -> sizes.toMap, "rounds" -> round,
      "loop_wall_s" -> wall, "peak_rss_mb" -> rss, "ops" -> records.map(_.toMap).toSeq)
    if (a.trace) {
      Files.writeString(Paths.get(a("spans")), mapper.writeValueAsString(
        tracer.spans.map(s => Map("op" -> s.op, "id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "counts" -> s.counts.toMap)).toSeq))
    }
    spark.stop()
    out.toMap
  }
}
