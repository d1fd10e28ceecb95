package graft.runtime

import java.sql.Timestamp
import scala.collection.mutable
import graft.functions.TimeFunctions

/** Model-DAG runner — the engine-level equivalent of `dbt run`'s manifest
  * walk (reference: SURVEY.md §3.1; topological order, tag/selector slicing
  * per infra/dags_schedule.yaml:20-50, and the changed-closure "fill gaps
  * between nodes" selection of infra/dbtjoom/find.py:9-46).
  */
final class DagRunner(models: Seq[Model]) {
  private val byName: Map[String, Model] = models.map(m => m.name -> m).toMap
  require(byName.size == models.size, "duplicate model names")

  private val children: Map[String, Seq[String]] =
    models.flatMap(m => m.deps.map(_ -> m.name)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }

  /** Kahn topological order over the declared `deps` edges. */
  def topoOrder(subset: Set[String]): Seq[Model] = {
    val inDeg = mutable.Map(subset.toSeq.map(n =>
      n -> byName(n).deps.count(subset.contains)): _*)
    val queue = mutable.PriorityQueue(inDeg.collect { case (n, 0) => n }.toSeq: _*)(
      Ordering[String].reverse) // deterministic order
    val out = mutable.ArrayBuffer.empty[String]
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      out += n
      for (c <- children.getOrElse(n, Nil) if subset.contains(c)) {
        inDeg(c) -= 1
        if (inDeg(c) == 0) queue.enqueue(c)
      }
    }
    require(out.size == subset.size,
      s"dependency cycle among ${subset -- out.toSet}")
    out.toSeq.map(byName)
  }

  private def ancestors(n: String): Set[String] = {
    val seen = mutable.Set.empty[String]
    def go(x: String): Unit =
      byName.get(x).toSeq.flatMap(_.deps).foreach { d =>
        if (seen.add(d)) go(d)
      }
    go(n); seen.toSet
  }

  private def descendants(n: String): Set[String] = {
    val seen = mutable.Set.empty[String]
    def go(x: String): Unit =
      children.getOrElse(x, Nil).foreach { c => if (seen.add(c)) go(c) }
    go(n); seen.toSet
  }

  /** dbt-style selectors: `name`, `+name` (with ancestors), `name+` (with
    * descendants), `tag:x`. Empty → all models. */
  def select(selectors: Seq[String]): Set[String] =
    if (selectors.isEmpty) byName.keySet
    else selectors.flatMap {
      case s if s.startsWith("tag:") =>
        models.filter(_.tags.contains(s.stripPrefix("tag:"))).map(_.name)
      case s if s.startsWith("+") =>
        val n = s.stripPrefix("+"); ancestors(n) + n
      case s if s.endsWith("+") =>
        val n = s.stripSuffix("+"); descendants(n) + n
      case n => Seq(n)
    }.toSet.filter(byName.contains)

  /** Changed-closure: add every node lying on a dependency path between two
    * selected nodes (reference: infra/dbtjoom/find.py `fill_gaps_between_nodes`). */
  def fillGaps(selected: Set[String]): Set[String] = {
    val reachesSelected = byName.keySet.filter(n => descendants(n).exists(selected.contains))
    val reachableFromSelected = byName.keySet.filter(n => ancestors(n).exists(selected.contains))
    selected ++ (reachesSelected intersect reachableFromSelected)
  }

  /** Run the (selected) DAG. Failures skip their downstream but not
    * independent branches. Returns per-model status.
    *
    * @param fullRefresh rebuild incremental models from scratch (dbt
    *   `--full-refresh`). Per-model weekly reloads also trigger when
    *   `meta("full_reload_on")` equals `var("run_dow")` (reference:
    *   `'full_reload_on': '6'`, models/spark/gold/gold_orders.sql:15). */
  def run(ctx: Ctx, selectors: Seq[String] = Nil,
          fillIntermediate: Boolean = false,
          fullRefresh: Boolean = false): Seq[(String, RunStatus)] = {
    TimeFunctions.register(ctx.spark)
    val base = select(selectors)
    val subset = if (fillIntermediate) fillGaps(base) else base
    val failed = mutable.Set.empty[String]
    topoOrder(subset).map { m =>
      if (m.deps.exists(failed.contains)) {
        failed += m.name
        m.name -> RunStatus.Skipped
      } else {
        val t0 = System.nanoTime()
        try {
          val reload = fullRefresh ||
            m.meta.get("full_reload_on").exists(ctx.vars.get("run_dow").contains(_))
          materialize(ctx, m, reload)
          m.name -> RunStatus.Success((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Exception =>
            failed += m.name
            m.name -> RunStatus.Failed(e.getMessage)
        } finally {
          // hot-CTE checkpoints are per-materialization scratch: the write
          // above has already consumed them (or failed); release the temp
          // views so the block-cached RDDs become collectable
          CteMaterializer.release(ctx.spark, m.name)
        }
      }
    }
  }

  /** Snapshot effective-timestamp: strictly from vars, never the wall clock —
    * a Check-strategy SCD2 re-run must produce byte-identical history
    * (reference runs pass start/end dates the same way, deploy.sh:17). */
  private def runTs(ctx: Ctx): Timestamp =
    ctx.vars.get("run_ts").map(Timestamp.valueOf)
      .orElse(ctx.vars.get("start_date_ymd").map(d => Timestamp.valueOf(s"$d 00:00:00")))
      .getOrElse(throw new IllegalArgumentException(
        "snapshot models need var 'run_ts' or 'start_date_ymd' for deterministic SCD2 effective timestamps"))

  def materialize(ctx: Ctx, m: Model, fullRefresh: Boolean = false): Unit = {
    val wh = ctx.warehouse
    // file_format picks the table format of every write below, snapshots
    // included (all 54 reference snapshots are delta, so SCD2 advances
    // commit atomically with history, like Delta's snapshot MERGE)
    wh.declareFileFormat(m.name, m.fileFormat)
    def rebuildOr(partitionBy: Seq[String], spread: Option[(String, Int)] = None)
                 (incremental: org.apache.spark.sql.DataFrame => Unit): Unit =
      if (fullRefresh || !wh.tableExists(m.name))
        wh.createTable(m.name, m.build(ctx.copy(isIncremental = false)), partitionBy, spread)
      else incremental(m.build(ctx.copy(isIncremental = true)))
    m.materialization match {
    case Materialization.Table(partitionBy, orderBy) =>
      wh.createTable(m.name, m.build(ctx), partitionBy, None, orderBy)
    case Materialization.View =>
      // builder-backed: the view plan re-derives after upstream table
      // mutations (a captured DataFrame pins stale file listings)
      wh.registerView(m.name, () => m.build(ctx))
    case Materialization.IncrementalInsertOverwrite(partitionBy, onSchemaChange, spread) =>
      rebuildOr(partitionBy, spread)(
        wh.insertOverwritePartitions(m.name, _, partitionBy, onSchemaChange, spread))
    case Materialization.IncrementalMerge(uniqueKey, partitionBy, onSchemaChange, incOnly) =>
      rebuildOr(partitionBy)(
        wh.mergeUpsert(m.name, _, uniqueKey, partitionBy, onSchemaChange, incOnly))
    case Materialization.IncrementalAppend(partitionBy) =>
      rebuildOr(partitionBy)(wh.append(m.name, _, partitionBy))
    case Materialization.Snapshot(uniqueKey, strategy, invalidateHardDeletes) =>
      Scd2.snapshot(ctx, m.name, m.build(ctx), uniqueKey, strategy,
        invalidateHardDeletes, runTs(ctx))
    }
  }
}

sealed trait RunStatus
object RunStatus {
  final case class Success(seconds: Double) extends RunStatus
  final case class Failed(error: String) extends RunStatus
  case object Skipped extends RunStatus
}
