package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}

/** One operation: a query (reads, similarity) or one model materialization
  * (deploy). `pass` is the timed pass, -1 during warm-up, -2 in deploy's
  * full-refresh check build. */
final case class OpRecord(pass: Int, name: String, kind: String, wallS: Double,
                          buildS: Double, ok: Boolean, digest: String, error: String,
                          counters: Map[String, Double]) {
  def toMap: Map[String, Any] = Map("pass" -> pass, "name" -> name, "kind" -> kind,
    "wall_s" -> wallS, "build_s" -> buildS, "ok" -> ok, "digest" -> digest,
    "error" -> error, "counters" -> counters)
}

final case class PassRecord(index: Int, wallS: Double, traced: Boolean, liveHeapMb: Double,
                            days: String = "") {
  def toMap: Map[String, Any] = Map("index" -> index, "wall_s" -> wallS, "traced" -> traced,
    "live_heap_mb" -> liveHeapMb, "day" -> days)
}

/** Everything one run shares: session, tracing, counters and the ops log. */
final class Run(val spark: SparkSession, val dataDir: String, val workDir: Path,
                val seed: Long, val traced: Boolean) {
  val tracer = new Tracer(false)
  val counters = new Counters
  val recorder: Option[SparkRecorder] =
    if (traced) Some(new SparkRecorder(spark, tracer, counters)) else None
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  // TxLog's public profiling hook: each timed log phase becomes a span
  if (traced) graft.plans.TxLog.profiler = (k: String, s: Double) => tracer.ended("txlog", k, s)

  private def gc(): (Double, Double) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime.toDouble).sum / 1e3,
      beans.map(_.getCollectionCount.toDouble).sum)
  }

  /** JVM-side counters read around each traced operation. */
  private def jvmCounters(): Map[String, Double] = {
    val (gcS, gcN) = gc()
    Map("jvm.gc_s" -> gcS, "jvm.gc_count" -> gcN,
      "codegen.compiles" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_s" ->
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9)
  }

  private def snapshot(): Map[String, Double] = {
    recorder.foreach(_.drain())
    counters.snapshot() ++ jvmCounters()
  }

  /** Time one operation. `body` returns (digest, seconds spent building the
    * plan). A thrown exception is a failed operation, never a timing. */
  def op(pass: Int, name: String, kind: String)(body: => (String, Double)): OpRecord = {
    val before = if (tracer.enabled) snapshot() else Map.empty[String, Double]
    val t0 = System.nanoTime()
    val (ok, digest, buildS, error) =
      try {
        val (d, b) = tracer.span("op", name, Map("kind" -> kind))(body)
        (true, d, b, "")
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name FAILED: $e")
          (false, "", 0.0, e.toString.take(500))
      }
    val wall = (System.nanoTime() - t0) / 1e9
    val delta = if (before.isEmpty) Map.empty[String, Double] else {
      val after = snapshot()
      after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
    }
    val rec = OpRecord(pass, name, kind, wall, buildS, ok, digest, error, delta)
    ops += rec
    rec
  }

  /** Run `f` as a span of `kind`; return its result and its seconds. */
  def timedBuild[A](kind: String, name: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = tracer.span(kind, name)(f)
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

object Main {
  val Reads: Seq[String] = Seq(
    "q1_pricing_summary", "q2_latest_order_per_customer", "q3_revenue_by_region_month",
    "q4_segments_with_orders", "q5_customers_no_orders", "q6_full_outer_daily",
    "q7_priority_region_matrix", "q8_event_gaps", "q9_sessions", "q10_rolling_revenue",
    "q11_retention_flags", "q12_grouping_sets", "q13_distinct_aggs", "q14_argminmax",
    "q15_stats", "q16_first_last_per_user", "q17_date_spine", "q18_word_pairs",
    "q19_strings", "q20_datetime", "q21_json", "q22_array_hof", "q23_map_struct",
    "q24_msk_dates", "q25_asof_view_before_purchase", "q26_union_counts",
    "q27_quantity_bands", "q28_revenue_share", "q42_predicates", "q43_generators",
    "q44_scalar_misc", "q45_window_first_last", "q46_struct_json_extras",
    "q48_approx_distinct", "q49_active_users_retention",
    "q50_active_devices_retention", "q51_nested_mongo", "q52_wilson_ci",
    "q54_conditionals", "q55_rollup_cube", "q57_funnel", "q58_funnel_ranking",
    "q59_onfy_sessions", "q61_interval_frame", "q63_active_devices", "q64_skew_join",
    "q68_funnel_rank", "q69_pivot", "q70_window_ranks", "q71_status_matrix",
    "q78_event_matrix", "q79_setops")

  val Similarity: Seq[String] = Seq(
    "q31_dedup_exact", "q32_ngram_jaccard", "q33_minhash_lsh", "q34_simhash_neardup",
    "q35_text_stats", "q36_lang_profile", "q37_fingerprint", "q38_ann_brute_topk",
    "q39_ann_ivf", "q40_embed_neardup", "q41_multimodal", "q56_ann_lsh_neardup",
    "q75_dup_groups", "q77_train_split")

  /** The session `graft.Bench` builds, at `local[cores]`. run.py checks the
    * values in force against Bench.scala's own `.config` calls. */
  def session(cores: Int): SparkSession = {
    val spark = graft.runtime.Dialect(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  val ParityKeys: Seq[String] = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.codegen.cache.maxEntries", "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes", "spark.ui.enabled")

  private def arg(argv: Array[String], k: String): String = {
    val i = argv.indexOf(s"--$k")
    require(i >= 0 && i + 1 < argv.length, s"missing --$k")
    argv(i + 1)
  }

  def main(argv: Array[String]): Unit = {
    val workload = arg(argv, "workload")
    val seed = arg(argv, "seed").toLong
    val seconds = arg(argv, "seconds").toDouble
    val traced = arg(argv, "trace") == "1"
    val dataDir = arg(argv, "data")
    val workDir = Paths.get(arg(argv, "work")).toAbsolutePath
    val out = Paths.get(arg(argv, "out"))
    val cores = arg(argv, "cores").toInt
    require(Seq("analytic_reads", "dedup_similarity", "daily_deploy").contains(workload),
      s"unknown workload $workload")

    // set-up: JVM start until the session is built and every source has
    // been scanned once, as Bench does before its first query. run.py takes
    // the median over this JVM and its `--setup-only` runs.
    StageDir.install(workDir.resolve("graft_oracle_stage"))
    val spark = session(cores)
    Tables.all.foreach(t => Tables(spark, dataDir, t).count())
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    if (argv.contains("--setup-only")) {
      Files.writeString(out, Json(Map("setup_s" -> setupS)))
      Runtime.getRuntime.halt(0)
    }
    val conf = ParityKeys.map(k => k -> spark.conf.getOption(k).getOrElse("")).toMap

    // harness preparation, outside setup_s
    if (workload == "daily_deploy") Deploy.prepareSources(spark, dataDir, workDir)
    val run = new Run(spark, dataDir, workDir, seed, traced)
    if (argv.contains("--warm-only")) {
      // one untimed pass, to record the classes a run loads (class-data
      // sharing archive); no result file
      new QueryWorkload(run, Similarity).warm()
      Runtime.getRuntime.halt(0)
    }
    val result = workload match {
      case "analytic_reads" => new QueryWorkload(run, Reads).execute(seconds)
      case "dedup_similarity" => new QueryWorkload(run, Similarity).execute(seconds)
      case "daily_deploy" => new Deploy(run).execute(seconds)
    }

    val spans = run.tracer.spans
    val spanFile = workDir.resolve("spans.jsonl")
    if (traced) {
      val w = Files.newBufferedWriter(spanFile)
      try spans.foreach { s =>
        w.write(Json(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs)))
        w.newLine()
      } finally w.close()
    }
    val doc = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "spark_version" -> spark.version, "conf" -> conf, "setup_s" -> setupS,
      "spans_file" -> (if (traced) spanFile.toString else null))
    doc ++= result
    doc("ops") = run.ops.map(_.toMap).toSeq
    Files.writeString(out, Json(doc))
    // everything is on disk; skip the shutdown hooks' cleanup (the work
    // directory is removed by the next run)
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Heap left after a full collection: the live set. Taken between
    * passes (outside their timing), which also starts every timed pass from
    * the same collected heap. */
  def liveHeapMb(): Double = {
    // the first collection queues the dropped RDDs and broadcasts for
    // Spark's ContextCleaner; the second, after it has run, frees their blocks
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) graft.runtime.TempDirs.deleteTree(p)
}

/** analytic_reads and dedup_similarity: every query once per pass, in an
  * order drawn from the seed, each into the digest sink. */
final class QueryWorkload(run: Run, names: Seq[String]) {
  import run.{spark, dataDir, tracer}

  private val fns: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries

  // the first pass's results, written out afterwards for the oracle
  private val coldResults = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]

  private def query(pass: Int, name: String): OpRecord = run.op(pass, name, "query") {
    val (df, buildS) = run.timedBuild("query_build", name)(fns(name)(spark, dataDir))
    val rows = df.collect()
    if (pass < 0 && !coldResults.contains(name)) coldResults(name) = (rows, df.schema)
    (Digest.of(rows).toString, buildS)
  }

  private def pass(index: Int): PassRecord = {
    val order = new scala.util.Random(run.seed * 1000003L + index).shuffle(names)
    val t0 = System.nanoTime()
    tracer.span("pass", s"pass $index")(order.foreach(query(index, _)))
    PassRecord(index, (System.nanoTime() - t0) / 1e9, tracer.enabled, Main.liveHeapMb())
  }

  /** The first pass in a fresh JVM, reported as `cold_s`. */
  def warm(): PassRecord = pass(-1)

  def execute(seconds: Double): Map[String, Any] = {
    // warm-up: two whole untimed passes; the first timed pass after a single
    // one is still ~20% slower than the next
    val cold = warm()
    pass(-1)
    // correctness: the first pass's results go to parquet for the DuckDB
    // oracle; their digests pin every later result
    val checkDir = run.workDir.resolve("check")
    val pins = names.map { name =>
      val pin = coldResults.remove(name) match {
        case Some((rows, schema)) =>
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
            .write.mode("overwrite").parquet(checkDir.resolve(name).toString)
          Digest.of(rows).toString
        case None => "error: the warm-up run failed"
      }
      name -> pin
    }.toMap

    // the warm-up's heap, read once the kept results are released
    val warmHeapMb = Main.liveHeapMb()
    val passes = Measure.passes(run, seconds, 1)(pass)
    val oracle = SparkEntry.oracleSql.collect {
      case (q, sql) if names.contains(q) => q -> StageDir.inSql(sql)
    }
    Map("cold_s" -> cold.wallS,
      "passes" -> passes.map(_.toMap),
      "peak_heap_mb" -> (warmHeapMb +: passes.map(_.liveHeapMb)).max, "pins" -> pins,
      "check_dir" -> checkDir.toString, "oracle_sql" -> oracle)
  }
}

object Measure {
  /** Timed passes, in whole cycles of `step` passes: at least one cycle,
    * then until `seconds` have been measured. A traced run traces every
    * other cycle and runs at least two, so traced and untraced passes cover
    * the same kinds of pass and their difference is the tracing overhead. */
  def passes(run: Run, seconds: Double, step: Int)(pass: Int => PassRecord): Seq[PassRecord] = {
    val out = mutable.ArrayBuffer.empty[PassRecord]
    val start = run.tracer.now()
    val minPasses = if (run.traced) 2 * step else step
    var measured = 0.0
    var i = 0
    while (out.size < minPasses || measured < seconds || out.size % step != 0) {
      run.tracer.enabled = run.traced && (i / step) % 2 == 0
      val p = pass(i)
      run.tracer.enabled = false
      out += p
      measured += p.wallS
      i += 1
    }
    if (run.traced)
      run.tracer.add(Span(run.tracer.nextId(), 0L, "workload", "timed passes",
        start, run.tracer.now(), Map.empty))
    out.toSeq
  }
}
