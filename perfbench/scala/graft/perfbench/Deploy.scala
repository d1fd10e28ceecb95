package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{broadcast, col, date_format, lit}

import graft.Tables
import graft.queries.{CampaignFunnels, GoldOrdersWide, MergeQueries, PipelineQueries, Scd2Queries}
import graft.runtime._

/** One scheduled run of every DAG. Orders-domain data has landed up to (not
  * including) `horizonO`. `startO` is the orders DAG's `start_date_ymd`: the
  * horizon on an ordinary day, far earlier on a backfill day (which
  * rewrites many month partitions). The events feed is complete (it ends
  * with January 2024) and the events DAG's `startE` moves 5 days a day, so
  * its 10-day lookback slice is non-empty on day 1 and empty from day 2.
  *
  * Events are not cut at a horizon: a funnel window ends at the device's
  * next event of the same type, which can arrive after the first step's
  * partition has left the 10-day lookback, so an events feed landing day
  * by day makes the funnels table drift from a full refresh by design. */
final case class Day(index: Int, horizonO: LocalDate, prevHorizonO: LocalDate,
                     startO: LocalDate, startE: LocalDate, backfill: Boolean)

object Deploy {
  val ColdHorizonO: LocalDate = LocalDate.of(2001, 3, 1)
  val ColdStartE: LocalDate = LocalDate.of(2024, 2, 2)
  val DaysPerCycle = 2

  /** Day 0 is the cold build; days 1.. alternate an ordinary day and a
    * backfill day (the even days). The seed draws step and backfill sizes. */
  def schedule(seed: Long, days: Int): Seq[Day] = {
    val rnd = new java.util.Random(seed)
    val out = mutable.ArrayBuffer(Day(0, ColdHorizonO, ColdHorizonO, ColdHorizonO,
      ColdStartE, backfill = false))
    for (k <- 1 to days) {
      val prev = out.last
      val h = prev.horizonO.plusDays(1 + rnd.nextInt(3))
      val backfill = k % DaysPerCycle == 0
      val start = if (backfill) h.minusDays(540 + rnd.nextInt(61)) else h
      out += Day(k, h, prev.horizonO, start, prev.startE.plusDays(5), backfill)
    }
    out.toSeq
  }

  def landedLineitem(work: Path): String = work.resolve("landed_lineitem").toString

  /** Lineitem lands with its order: tag each line with its order's date
    * once, so the orders-domain sources can be cut at a horizon. */
  def prepareSources(spark: SparkSession, dir: String, work: Path): Unit = {
    val orders = Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
    Tables(spark, dir, "lineitem")
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .drop("o_orderkey")
      .write.mode("overwrite").parquet(landedLineitem(work))
    spark.read.parquet(landedLineitem(work)).count()
  }

  /** The deployed tables and how each final state is compared with a
    * full-refresh build: snapshots by their current rows, since history
    * only accumulates across runs. */
  val DeployedTables: Seq[String] = Seq("gold_orders", "gold_orders_wide",
    "customer_profile_merge", "cust_scd2_file", "campaign_funnels")
}

final class Deploy(run: Run) {
  import run.{spark, dataDir, tracer}
  import Deploy._

  @volatile private var day: Day = schedule(run.seed, 0).head

  /** Date-cut source views: the orders DAG sees orders and lineitem up to
    * its horizon; every other source is read whole. */
  private val ordersSources = new SourceRegistry(Some((_, t) => Tables(spark, dataDir, t)))
  ordersSources.register("default", "orders")(s =>
    Tables(s, dataDir, "orders").filter(col("o_orderdate") < lit(day.horizonO.toString).cast("timestamp")))
  ordersSources.register("default", "lineitem")(s =>
    s.read.parquet(landedLineitem(run.workDir))
      .filter(col("o_orderdate") < lit(day.horizonO.toString).cast("timestamp"))
      .drop("o_orderdate"))
  private val eventsSources = SourceRegistry.overDir(spark, dataDir)

  private def timedModel(m: Model): Model =
    m.copy(build = c => tracer.span("model_build", m.name)(m.build(c)))

  /** The repository's own model definitions: the orders DAG (q30's staging
    * view, which q30 defines inline, the q30 gold table, the q72 wide gold
    * table, the q76 delta merge model and the q80 SCD2 snapshot) and the
    * events DAG (the q74 funnels model). */
  private val ordersDag: Seq[Model] = Seq(
    Model("stg_orders",
      c => c.source("default", "orders")
        .join(c.source("default", "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(c.source("default", "nation")), col("c_nationkey") === col("n_nationkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("c_mktsegment"), col("n_name"),
          date_format(col("o_orderdate"), "yyyy-MM").as("order_month")),
      Materialization.View),
    Model("gold_orders", PipelineQueries.q30GoldBody,
      Materialization.IncrementalInsertOverwrite(Seq("order_month")),
      deps = Seq("stg_orders")),
    SqlTemplater.sqlModelAuto("gold_orders_wide", GoldOrdersWide.modelSql),
    SqlTemplater.sqlModelAuto("customer_profile_merge", MergeQueries.modelSql),
    SqlTemplater.snapshotModel(Scd2Queries.snapshotFileSql)).map(timedModel)
  private val eventsDag: Seq[Model] =
    Seq(SqlTemplater.sqlModelAuto("campaign_funnels", CampaignFunnels.modelSql)).map(timedModel)
  private val ordersRunner = new DagRunner(ordersDag)
  private val eventsRunner = new DagRunner(eventsDag)

  private def vars(m: Model, d: Day): Map[String, String] = m.name match {
    case "customer_profile_merge" => Map("cutoff_ymd" -> d.prevHorizonO.toString)
    case "cust_scd2_file" => Map("cutoff_ymd" -> d.horizonO.minusDays(1).toString,
      "run_ts" -> s"${d.horizonO} 00:00:00")
    case "campaign_funnels" => Map("start_date_ymd" -> d.startE.toString)
    case _ => Map("start_date_ymd" -> d.startO.toString)
  }

  private def kind(m: Model, full: Boolean): String = m.materialization match {
    case Materialization.View => "view"
    case _: Materialization.Snapshot => "snapshot"
    case _ if full => "table"
    case _: Materialization.Table => "table"
    case _: Materialization.IncrementalInsertOverwrite => "insert_overwrite"
    case _: Materialization.IncrementalMerge => "merge"
    case _: Materialization.IncrementalAppend => "append"
  }

  private def warehouse(name: String): Warehouse = {
    val root = run.workDir.resolve(name)
    Main.deleteTree(root)
    Files.createDirectories(root)
    new Warehouse(spark, root.toString, commitProtocol = new TimedCommit(tracer),
      logFormatEnabled = true)
  }

  /** One run of both DAGs, one model at a time, each an operation. */
  private def runDay(wh: Warehouse, d: Day, pass: Int, full: Boolean): Unit = {
    day = d
    for ((runner, models, sources) <- Seq((ordersRunner, ordersDag, ordersSources),
                                          (eventsRunner, eventsDag, eventsSources));
         m <- runner.topoOrder(models.map(_.name).toSet)) {
      val ctx = Ctx(spark, wh, sources, vars(m, d))
      run.op(pass, m.name, kind(m, full)) {
        val status = tracer.span("model", m.name)(runner.run(ctx, Seq(m.name), fullRefresh = full))
        status.collect {
          case (n, RunStatus.Failed(e)) => throw new RuntimeException(s"model $n failed: $e")
          case (n, RunStatus.Skipped) => throw new RuntimeException(s"model $n skipped")
        }
        ("", 0.0)
      }
    }
  }

  /** Timed pass `index` is day `index + 1`: day 0, the cold build, is the warm-up. */
  private def cycle(wh: Warehouse, days: Seq[Day], index: Int): PassRecord = {
    val d = days(index + 1)
    val t0 = System.nanoTime()
    tracer.span("pass", s"day ${d.index}")(runDay(wh, d, index, full = false))
    PassRecord(index, (System.nanoTime() - t0) / 1e9, tracer.enabled, Main.liveHeapMb(),
      s"${d.horizonO}${if (d.backfill) " backfill" else ""}")
  }

  private def digestOf(wh: Warehouse, table: String): String = {
    val df = wh.read(table)
    val cur = if (table == "cust_scd2_file")
      df.filter(col("dbt_valid_to").isNull).select("_id", "status", "last_price", "updated_at")
    else df
    Digest.of(cur.select(cur.columns.sorted.map(col).toIndexedSeq: _*)).toString
  }

  def execute(seconds: Double): Map[String, Any] = {
    val days = schedule(run.seed, 3000)
    // warm-up, untimed: the cold build
    val wh = warehouse("wh")
    runDay(wh, days.head, -1, full = true)
    val warmHeapMb = Main.liveHeapMb()
    val passes = Measure.passes(run, seconds, DaysPerCycle)(i => cycle(wh, days, i))
    val last = days(passes.size)

    // what the downstream export pays: one full read of every deployed table
    val r0 = System.nanoTime()
    Deploy.DeployedTables.foreach(t => wh.read(t).write.format("noop").mode("overwrite").save())
    val readbackS = (System.nanoTime() - r0) / 1e9
    val storedMb = Main.dirBytes(run.workDir.resolve("wh")) / 1048576.0

    // cold: a full-refresh build of every DAG at the last day, into an empty
    // warehouse (JIT-warm, so it is steady enough to gate); every
    // incremental table must equal its result
    val check = warehouse("wh_check")
    val before = run.ops.size
    val t0 = System.nanoTime()
    runDay(check, last.copy(prevHorizonO = last.horizonO), -2, full = true)
    val coldS = (System.nanoTime() - t0) / 1e9
    val coldOk = run.ops.drop(before).forall(_.ok)
    val tableChecks = Deploy.DeployedTables.map { t =>
      val (a, b) = try (digestOf(wh, t), digestOf(check, t))
                   catch { case e: Throwable => (s"error: $e", "") }
      t -> Map("incremental" -> a, "full_refresh" -> b, "ok" -> (a == b && coldOk))
    }.toMap
    Map("cold_s" -> coldS, "readback_s" -> readbackS, "stored_mb" -> storedMb,
      "peak_heap_mb" -> (warmHeapMb +: passes.map(_.liveHeapMb)).max,
      "passes" -> passes.map(_.toMap), "table_checks" -> tableChecks)
  }
}

/** The default rename commit, timed as a `commit` span. */
final class TimedCommit(tracer: Tracer) extends TableCommitProtocol {
  def commitReplace(staged: Path, target: Path): Unit =
    tracer.span("commit", target.getFileName.toString)(
      TableCommitProtocol.LocalAtomicRename.commitReplace(staged, target))
}
