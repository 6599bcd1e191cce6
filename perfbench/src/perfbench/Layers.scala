package perfbench

/** A reported number: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** Per-layer metrics, computed from a traced run's spans and listener
  * records. Pass-level values are means over the traced timed passes;
  * set-up values are medians over the set-ups.
  */
object Layers {
  import Tracer._

  private val MB = 1e6

  def compute(t: Tracer, timed: Seq[Span], warmups: Seq[Span], cores: Int,
      overhead: Double): Seq[Metric] = {
    val spans = t.spans
    val p = timed.size.toDouble
    require(p > 0, "no traced timed pass")

    // the top-level pass each span belongs to (-1 outside any pass)
    val passIds = (timed ++ warmups).map(_.id).toSet
    val passOf = Array.fill(spans.size)(-1)
    spans.foreach { s =>
      passOf(s.id) = if (passIds(s.id)) s.id else if (s.parent >= 0) passOf(s.parent) else -1
    }
    // a job carries its span through a local property; a job started on a
    // thread that did not inherit it falls back to the innermost span open
    // at its start time
    def spanOf(j: JobRec): Int =
      if (j.span >= 0) j.span
      else spans.filter(s => s.start <= j.start && j.start <= s.end)
        .sortBy(s => s.end - s.start).headOption.fold(-1)(_.id)
    val jobSpan = t.jobs.map(j => j -> spanOf(j))
    def jobsUnder(pass: Span, phases: Set[String]) = jobSpan.collect {
      case (j, s) if s >= 0 && passOf(s) == pass.id && phases(spans(s).name) => (j, spans(s))
    }
    val stageById = t.stages.groupBy(s => (s.app, s.id)).map { case (k, v) => k -> v.last }
    val tasksByStage = t.tasks.groupBy(t => (t.app, t.stage))
    def stagesOf(j: JobRec) = j.stageIds.flatMap(id => stageById.get((j.app, id)))

    val exec = Set("exec", "load")
    val execJobs = timed.flatMap(jobsUnder(_, exec))
    val execStages = execJobs.flatMap(j => stagesOf(j._1)).distinct
    val execSpans = spans.filter(s => exec(s.name) && passOf(s.id) >= 0 && timed.exists(_.id == passOf(s.id)))
    val execSeconds = execSpans.map(_.seconds).sum

    // wall time inside exec/load spans during which no stage of theirs ran
    val gapSeconds = execSpans.map { s =>
      val iv = execJobs.filter(_._2.id == s.id).flatMap(j => stagesOf(j._1)).distinct
        .map(st => (st.submit.max(s.start), st.complete.min(s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var reach = s.start
      iv.foreach { case (a, b) =>
        if (b > reach) { covered += b - a.max(reach); reach = b }
      }
      (s.end - s.start - covered) / 1000
    }.sum

    val taskMs = execStages.flatMap(st => tasksByStage.getOrElse((st.app, st.id), Nil)).map(_.durationMs).sum
    val skew = execStages.flatMap { st =>
      val reads = tasksByStage.getOrElse((st.app, st.id), Nil).map(_.shuffleRead.toDouble)
      if (reads.size < 2) None
      else {
        val med = Stats.median(reads.toSeq)
        if (med > 0) Some(reads.max / med) else None
      }
    }.maxOption.getOrElse(0.0)

    val allJobs = timed.flatMap(jobsUnder(_, spans.map(_.name).toSet))
    val allStages = allJobs.flatMap(j => stagesOf(j._1)).distinct
    val loadStages = timed.flatMap(jobsUnder(_, Set("load"))).flatMap(j => stagesOf(j._1)).distinct
    val plans = t.plans.filter(pl => timed.exists(s => s.start <= pl.start && pl.start <= s.end))
    val ops = spans.filter(s => s.name == "op" && timed.exists(_.id == passOf(s.id)))
    def opSum(k: String) = ops.map(_.counts.getOrElse(k, 0.0)).sum
    def passSum(k: String) = timed.map(_.counts.getOrElse(k, 0.0)).sum
    def phaseSeconds(pass: Span, name: String) =
      spans.filter(s => s.name == name && passOf(s.id) == pass.id).map(_.seconds).sum
    val writeBytes = loadStages.map(_.outputBytes).sum.toDouble
    val writeRows = loadStages.map(_.outputRecords).sum.toDouble
    val med = (xs: Seq[Double]) => if (xs.isEmpty) 0.0 else Stats.median(xs)

    Seq(
      Metric("Tables.load_s", med(spans.filter(_.name == "tables").map(_.seconds).toSeq), "s"),
      Metric("Tables.schema_jobs", allJobs.count(_._1.callSite.contains("Tables.scala")) / p, "count"),
      Metric("Tables.input_mb", allStages.map(_.inputBytes).sum / MB / p, "MB"),
      Metric("catalyst.analysis_ms", plans.map(_.analysisMs).sum / p, "ms"),
      Metric("catalyst.optimization_ms", plans.map(_.optimizationMs).sum / p, "ms"),
      Metric("catalyst.planning_ms", plans.map(_.planningMs).sum / p, "ms"),
      Metric("catalyst.codegen_compiles", passSum("codegen_compiles") / p, "count"),
      Metric("catalyst.codegen_ms", passSum("codegen_ms") / p, "ms"),
      Metric("frame.s", timed.map(phaseSeconds(_, "frame")).sum / p, "s"),
      Metric("frame.jobs", timed.map(jobsUnder(_, Set("frame")).size).sum / p, "count"),
      Metric("frame.checkpoint_mb", opSum("checkpoint_mb") / p, "MB"),
      Metric("frame.setup_s", med(warmups.map(phaseSeconds(_, "frame"))), "s"),
      Metric("frame.setup_jobs", med(warmups.map(jobsUnder(_, Set("frame")).size.toDouble)), "count"),
      Metric("exec.s", execSeconds / p, "s"),
      Metric("exec.jobs", execJobs.size / p, "count"),
      Metric("exec.stages", execStages.size / p, "count"),
      Metric("exec.tasks", execStages.map(_.tasks).sum / p, "count"),
      Metric("exec.task_busy_share", if (execSeconds > 0) taskMs / 1000 / (execSeconds * cores) else 0.0, "ratio"),
      Metric("exec.stage_gap_s", gapSeconds / p, "s"),
      Metric("exec.shuffle_write_mb", execStages.map(_.shuffleWrite).sum / MB / p, "MB"),
      Metric("exec.shuffle_read_mb", execStages.map(_.shuffleRead).sum / MB / p, "MB"),
      Metric("exec.spill_mb", execStages.map(_.spillDisk).sum / MB / p, "MB"),
      Metric("exec.skew", skew, "ratio"),
      Metric("exec.rows_out", opSum("rows") / p, "count"),
      Metric("Checkpoints.release_s", timed.map(phaseSeconds(_, "release")).sum / p, "s"),
      Metric("Checkpoints.released_mb", opSum("released_mb") / p, "MB"),
      Metric("Checkpoints.held_mb", opSum("held_after_release_mb") / p, "MB"),
      Metric("Warehouse.s", timed.map(phaseSeconds(_, "load")).sum / p, "s"),
      Metric("Warehouse.write_mb", writeBytes / MB / p, "MB"),
      Metric("Warehouse.rows", writeRows / p, "count"),
      Metric("Warehouse.files", opSum("files") / p, "count"),
      Metric("Warehouse.bytes_per_row", if (writeRows > 0) writeBytes / writeRows else 0.0, "B"),
      Metric("jvm.gc_s", passSum("gc_ms") / 1000 / p, "s"),
      Metric("jvm.jit_ms", passSum("jit_ms") / p, "ms"),
      Metric("trace.overhead", overhead, "ratio"))
  }
}
