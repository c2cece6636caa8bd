package graftbench

import scala.collection.mutable.ArrayBuffer

/** Per-layer numbers of a traced phase, each per pass (totals divided by
  * the number of passes), named `<module>.<metric>`. Only work inside the
  * timed client spans counts; the output checks that run between them are
  * left out.
  */
final case class Layers(metrics: Seq[(String, (Double, String))], table: Seq[String])

object Layers {
  val layers = Seq("client", "operators", "plan", "exec", "model", "sources", "streaming")

  def apply(w: Workload, probe: Probe, spans: Seq[Span], phase: Main.Phase, untraced: Main.Phase,
      loadCold: Seq[Double], loadMemo: Seq[Double]): Layers = {
    val p = phase.passes.size.toDouble
    val byId = spans.map(s => s.id -> s).toMap
    def ancestors(s: Span): List[Span] =
      byId.get(s.parent).map(x => x :: ancestors(x)).getOrElse(Nil)
    val timed = spans.filter(s => s.layer == "client" || ancestors(s).exists(_.layer == "client"))
    def under(s: Span, pred: Span => Boolean) = ancestors(s).exists(pred)
    def dur(ss: Seq[Span]) = ss.map(s => s.end - s.start).sum / 1000.0
    def named(layer: String, pred: String => Boolean) = timed.filter(s => s.layer == layer && pred(s.name))

    val jobSpans = timed.filter(s => s.layer == "exec" && s.name.startsWith("job "))
    val jobIds = jobSpans.map(_.name.stripPrefix("job ").toInt).toSet
    val (jobs, stageAggs, writes, batches) = probe.synchronized {
      val js = probe.jobs.filter(j => jobIds(j.id)).toSeq
      val st = js.flatMap(_.stages).distinct.flatMap(probe.stages.get)
      val ws = probe.writes.toSeq
      val bs = probe.batches.toSeq
      (js, st, ws, bs)
    }
    val clientSpans = timed.filter(_.layer == "client")
    val jobUnion = Tracer.covered(jobs.map(j => (j.start, j.end))) / 1000.0
    val clientS = dur(clientSpans)
    val taskRunS = stageAggs.map(_.runMs).sum / 1000.0
    val skews = stageAggs.filter(_.taskMs.size >= 2).map { a =>
      a.taskMs.max.toDouble / math.max(Common.median(a.taskMs.map(_.toDouble).toSeq), 1.0)
    }

    // Spark events are matched to the traced spans they fall inside.
    val writeSpans = timed.filter(s => s.layer == "sources" && s.name == "write")
    val inWrites = writes.filter(w => writeSpans.exists(s => s.end == probe.endOf(w.durNs)))
    val batchSpans = timed.filter(s => s.layer == "streaming" && s.name == "batch")
    val inBatches = batches.filter(b => batchSpans.exists(_.start == b.start))
    def bsum(k: String) = inBatches.map(_.durations.getOrElse(k, 0L)).sum / 1000.0
    val streamWriteRows = writes.filter(w => writeSpans.exists(s => s.end == probe.endOf(w.durNs) &&
      under(s, _.layer == "streaming"))).map(_.rows).sum
    val inputRows = inBatches.map(_.inputRows).sum

    val stageS = w match {
      case d: CurationDag =>
        clientSpans.map { dag =>
          d.stageNames.map { names =>
            val ms = timed.filter(s => s.layer == "model" && s.parent == dag.id &&
              names.contains(s.name.takeWhile(_ != '.')))
            if (ms.isEmpty) 0.0 else (ms.map(_.end).max - ms.map(_.start).min) / 1000.0
          }.sum
        }.sum
      case _ => 0.0
    }

    val (iterClient, oneClient) = w match {
      case q: QueryWorkload => clientSpans.partition(s => q.iterativeQueries(s.name))
      case _ => (Nil, Nil)
    }

    val self = Tracer.selfTimes(timed)
    def per(x: Double) = x / p
    val m = ArrayBuffer.empty[(String, (Double, String))]
    def put(k: String, v: Double, unit: String) = m += k -> (v, unit)
    put("tables.load_cold_s", Common.median(loadCold), "s")
    put("tables.load_memo_s", Common.median(loadMemo), "s")
    put("ops.oneplan_s", per(dur(oneClient)), "s")
    put("ops.iterative_s", per(dur(iterClient)), "s")
    put("operators.construct_s", per(dur(named("operators", _ == "construct"))), "s")
    put("operators.construct_jobs", per(jobSpans.count(s => under(s, a => a.layer == "operators")).toDouble), "count")
    put("plan.planning_s", per(dur(named("plan", _ => true))), "s")
    put("exec.s", per(jobUnion), "s")
    put("exec.jobs", per(jobs.size.toDouble), "count")
    put("exec.stages", per(stageAggs.size.toDouble), "count")
    put("exec.tasks", per(stageAggs.map(_.tasks).sum.toDouble), "count")
    put("exec.task_run_s", per(taskRunS), "s")
    put("exec.task_cpu_s", per(stageAggs.map(_.cpuNs).sum / 1e9), "s")
    put("exec.gc_s", per(stageAggs.map(_.gcMs).sum / 1000.0), "s")
    put("exec.input_bytes", per(stageAggs.map(_.inputBytes).sum.toDouble), "B")
    put("exec.shuffle_write_bytes", per(stageAggs.map(_.shuffleWrite).sum.toDouble), "B")
    put("exec.shuffle_read_bytes", per(stageAggs.map(_.shuffleRead).sum.toDouble), "B")
    put("exec.spill_bytes", per(stageAggs.map(_.spill).sum.toDouble), "B")
    put("exec.skew_max_over_median", Common.median(skews), "ratio")
    put("exec.core_busy_frac", if (clientS > 0) taskRunS / (Common.cpus * clientS) else 0.0, "ratio")
    put("exec.driver_gap_s", per(math.max(0.0, clientS - jobUnion)), "s")
    put("model.pre_check_s", per(dur(named("model", _.endsWith(".pre_check")))), "s")
    put("model.build_s", per(dur(named("model", _.endsWith(".build")))), "s")
    put("model.post_check_s", per(dur(named("model", _.endsWith(".post_check")))), "s")
    put("model.stage_s", per(stageS), "s")
    put("model.jobs", per(jobSpans.count(s => under(s, _.layer == "model")).toDouble), "count")
    put("sources.write_s", per(dur(writeSpans)), "s")
    put("sources.write_bytes", per(inWrites.map(_.bytes).sum.toDouble), "B")
    put("sources.write_rows", per(inWrites.map(_.rows).sum.toDouble), "count")
    put("sources.write_files", per(inWrites.map(_.files).sum.toDouble), "count")
    put("sources.lock_write_s", per(dur(named("sources", _.endsWith(".lock")))), "s")
    put("streaming.batch_s", per(bsum("triggerExecution")), "s")
    put("streaming.add_batch_s", per(bsum("addBatch")), "s")
    put("streaming.query_planning_s", per(bsum("queryPlanning")), "s")
    put("streaming.wal_commit_s", per(bsum("walCommit") + bsum("commitOffsets")), "s")
    put("streaming.start_stop_s", per(math.max(0.0,
      dur(named("streaming", _ == "refresh")) - bsum("triggerExecution"))), "s")
    put("streaming.input_rows", per(inputRows.toDouble), "count")
    put("streaming.state_rows", if (inBatches.isEmpty) 0.0 else inBatches.map(_.stateRows).max.toDouble, "count")
    put("streaming.state_bytes", if (inBatches.isEmpty) 0.0 else inBatches.map(_.stateBytes).max.toDouble, "B")
    put("streaming.rows_written_per_input_row",
      if (inputRows > 0) streamWriteRows.toDouble / inputRows else 0.0, "ratio")
    layers.foreach(l => put(s"self.${l}_s", per(self.getOrElse(l, 0L) / 1000.0), "s"))
    val overhead = Common.median(phase.passes) - Common.median(untraced.passes)
    put("trace.overhead_s", overhead, "s")
    put("trace.overhead_frac", overhead / Common.median(untraced.passes), "ratio")
    put("trace.passes", p, "count")

    def f(x: Double) = "%.4f".formatLocal(java.util.Locale.ROOT, x)
    val total = layers.map(l => self.getOrElse(l, 0L)).sum.toDouble
    val table = ArrayBuffer(
      s"where the time goes (traced, per pass of ${f(clientS / p)} s; ${phase.passes.size} passes):",
      "  layer      self_s   share")
    layers.foreach { l =>
      val s = self.getOrElse(l, 0L)
      table += f"  $l%-10s ${f(s / 1000.0 / p)}  ${100.0 * s / math.max(total, 1.0)}%5.1f%%"
    }
    table += s"  counts per pass: jobs ${f(per(jobs.size))}, stages ${f(per(stageAggs.size))}, " +
      s"tasks ${f(per(stageAggs.map(_.tasks).sum.toDouble))}, construction jobs " +
      f(per(jobSpans.count(s => under(s, _.layer == "operators")).toDouble))
    table += s"  tracing overhead: ${f(overhead)} s per pass " +
      s"(traced ${f(Common.median(phase.passes))} s vs untraced ${f(Common.median(untraced.passes))} s)"
    Layers(m.toSeq, table.toSeq)
  }
}
