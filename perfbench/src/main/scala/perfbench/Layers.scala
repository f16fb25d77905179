package perfbench

import scala.collection.mutable

/** Per-layer metrics and spans of a traced pass.
  *
  * Span tree: pass → operation → construct/plan/execute → Spark job,
  * with each micro-batch under the operation whose wall interval holds
  * its start. Spans stay in memory and go into the result file.
  */
object Layers {
  val spans: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty
  private var nextId = 0

  private def span(parent: Int, kind: String, name: String, startMs: Double,
                   durMs: Double): Int = {
    nextId += 1
    spans += Map("id" -> nextId, "parent" -> parent, "kind" -> kind, "name" -> name,
      "start_ms" -> startMs, "dur_ms" -> durMs)
    nextId
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def summarize(t: Tracer, ops: Seq[Main.OpRec], wall: Double, cpu: Double,
                slots: Int): Map[String, Double] = {
    val jobs = t.jobRecords
    val batches = t.synchronized(t.batches.toSeq)
    val tot = t.synchronized(t.totals.toMap).withDefaultValue(0.0)
    val queries = ops.filterNot(_.name == Main.EtlOp.name)
    def extra(k: String) = ops.map(_.extra.getOrElse(k, 0.0)).sum
    def layer(l: String) = jobs.filter(_.layer == l)

    // spans
    val passStart = ops.headOption.map(_.startMs.toDouble).getOrElse(0.0)
    val passId = span(0, "pass", "pass", passStart, wall * 1e3)
    val phaseIds = mutable.Map.empty[(String, String), Int]
    val opIds = ops.map { o =>
      val id = span(passId, "op", o.name, o.startMs.toDouble, o.wall * 1e3)
      var at = o.startMs.toDouble
      Seq("construct" -> o.construct, "plan" -> o.plan, "execute" -> o.execute).foreach {
        case (ph, s) =>
          phaseIds((o.name, ph)) = span(id, "phase", ph, at, s * 1e3)
          at += s * 1e3
      }
      (o, id)
    }
    jobs.foreach { j =>
      val parent = phaseIds.get((j.op, j.phase))
        .orElse(opIds.find(_._1.name == j.op).map(_._2)).getOrElse(passId)
      span(parent, "job", s"job ${j.id} ${j.layer}", j.startMs.toDouble, (j.endMs - j.startMs).toDouble)
    }
    batches.foreach { b =>
      val parent = opIds.find { case (o, _) =>
        b.startMs >= o.startMs && b.startMs <= o.startMs + o.wall * 1e3
      }.map(_._2).getOrElse(passId)
      span(parent, "batch", s"batch ${b.batchId}", b.startMs.toDouble, b.durMs.toDouble)
    }

    // streaming: per query (run id) start latency, final state size
    val byQuery = batches.groupBy(_.runId).values.toSeq
    val taskRun = tot("task_run_ms") / 1e3
    val mb = 1048576.0
    Map(
      "etl.sink_raw_s" -> extra("etl.sink_raw_s"),
      "etl.sink_agg_s" -> extra("etl.sink_agg_s"),
      "etl.sink_dead_letter_s" -> extra("etl.sink_dead_letter_s"),
      "etl.pipeline_overhead_s" -> extra("etl.pipeline_overhead_s"),
      "etl.rows_in" -> extra("etl.rows_in"),
      "etl.dead_letter_rows" -> extra("etl.dead_letter_rows"),
      "etl.bytes_written" -> extra("etl.bytes_written"),
      "etl.files_written" -> extra("etl.files_written"),
      "tables.jobs" -> layer("tables").size.toDouble,
      "tables.job_s" -> layer("tables").map(_.seconds).sum,
      "index.jobs" -> layer("index").size.toDouble,
      "index.build_s" -> layer("index").map(_.seconds).sum,
      "query.ops" -> queries.size.toDouble,
      "query.construct_s" -> queries.map(_.construct).sum,
      "query.construct_jobs" -> jobs.count(j => j.phase == "construct" && j.op != Main.EtlOp.name).toDouble,
      "query.plan_s" -> queries.map(_.plan).sum,
      "query.execute_s" -> queries.map(_.execute).sum,
      "query.unaccounted_s" -> queries.map(o => o.wall - o.construct - o.plan - o.execute).sum,
      "plan.analysis_s" -> extra("plan.analysis_s"),
      "plan.optimization_s" -> extra("plan.optimization_s"),
      "plan.planning_s" -> extra("plan.planning_s"),
      "plan.exchanges" -> extra("plan.exchanges"),
      "plan.broadcast_joins" -> extra("plan.broadcast_joins"),
      "plan.sort_merge_joins" -> extra("plan.sort_merge_joins"),
      "plan.nested_loop_joins" -> extra("plan.nested_loop_joins"),
      "plan.codegen_stages" -> extra("plan.codegen_stages"),
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> tot("stages"),
      "exec.tasks" -> tot("tasks"),
      "exec.task_run_s" -> taskRun,
      "exec.task_cpu_s" -> tot("task_cpu_ns") / 1e9,
      "exec.slot_busy" -> (if (wall > 0) taskRun / (wall * slots) else 0.0),
      "exec.shuffle_read_mb" -> tot("shuffle_read_b") / mb,
      "exec.shuffle_write_mb" -> tot("shuffle_write_b") / mb,
      "exec.spill_mb" -> tot("spill_b") / mb,
      "exec.gc_s" -> tot("gc_ms") / 1e3,
      "exec.input_mb" -> tot("input_b") / mb,
      "exec.output_mb" -> tot("output_b") / mb,
      "exec.failed_tasks" -> tot("failed_tasks"),
      "exec.process_cpu_s" -> cpu,
      "stream.queries" -> byQuery.size.toDouble,
      "stream.batches" -> batches.size.toDouble,
      "stream.input_rows" -> batches.map(_.inputRows.toDouble).sum,
      "stream.start_s" -> byQuery.map { q =>
        val first = q.minBy(_.batchId)
        (first.startMs + first.durMs - first.queryStartMs) / 1e3
      }.sum,
      "stream.batch_p50_s" -> median(batches.map(_.durMs / 1e3)),
      "stream.state_rows" -> byQuery.map(_.maxBy(_.batchId).stateRows.toDouble).sum,
      "stream.state_mb" -> byQuery.map(_.map(_.stateBytes).max / mb).sum,
      "stream.late_rows_dropped" -> batches.map(_.dropped.toDouble).sum,
      "cache.storage_mb_peak" -> (0.0 +: ops.map(_.extra.getOrElse("cache.storage_mb", 0.0))).max)
  }
}
