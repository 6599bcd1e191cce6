package perfbench

import java.nio.file.{Files, Paths}
import graft.Tables

/** Measures every registry query of a workload's modules, one by one, in
  * one session: a first (cold) call, which pays shared-model training and
  * codegen, then a second (warm) call. Each call is timed and traced the way
  * the benchmark times an operation. Writes one JSON object per call; run it
  * with `python3 perfbench/survey.py`, which summarizes the modules and
  * picks the workload's subset.
  */
object Survey {

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val (workload, corpus, out) = (m("workload"), m("corpus"), m("out"))
    val spark = Harness.session(m("work"))
    Tables.loaders.foreach { case (_, load) => load(spark, corpus).count() }
    val ops = Workloads.moduleOps(workload)
    val lines = for (call <- Seq("cold", "warm"); (module, o) <- ops) yield {
      val t = new Tracer
      t.start(spark)
      val (sample, _) = new Runner(spark, corpus, t).op(o, digest = false, dump = None)
      t.stop()
      val fields = Seq("query" -> Json.str(o.name), "module" -> Json.str(module),
        "call" -> Json.str(call), "failed" -> sample.failed.toString,
        "rows" -> sample.rows.toString) ++
        measure(t).map { case (k, v) => k -> Json.num(v) }
      val line = Json.obj(fields)
      System.err.println(line)
      line
    }
    Files.writeString(Paths.get(out), lines.mkString("", "\n", "\n"))
    spark.stop()
  }

  /** One traced operation's time, jobs and shuffle, by phase. */
  def measure(t: Tracer): Seq[(String, Double)] = {
    val spans = t.spans
    def phase(s: Int): String =
      if (s < 0) "" else if (spans(s).name == "op" || spans(s).parent < 0) spans(s).name
      else phase(spans(s).parent) match { case "op" => spans(s).name; case p => p }
    def seconds(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    val stageById = t.stages.map(s => s.id -> s).toMap
    val jobsByPhase = t.jobs.groupBy(j => phase(
      if (j.span >= 0) j.span
      else spans.filter(s => s.start <= j.start && j.start <= s.end)
        .sortBy(s => s.end - s.start).headOption.fold(-1)(_.id)))
    def jobs(p: String) = jobsByPhase.getOrElse(p, Nil)
    val execStages = (jobs("exec") ++ jobs("load")).flatMap(_.stageIds).distinct.flatMap(stageById.get)
    val allStages = t.jobs.flatMap(_.stageIds).distinct.flatMap(stageById.get)
    val execTasks = execStages.map(_.tasks).sum.toDouble
    Seq(
      "op_s" -> seconds("op"),
      "frame_s" -> seconds("frame"),
      "exec_s" -> (seconds("exec") + seconds("load")),
      "frame_jobs" -> jobs("frame").size.toDouble,
      "exec_jobs" -> (jobs("exec") ++ jobs("load")).size.toDouble,
      "exec_stages" -> execStages.size.toDouble,
      "exec_tasks" -> execTasks,
      "tasks_per_stage" -> (if (execStages.isEmpty) 0.0 else execTasks / execStages.size),
      "shuffle_mb" -> allStages.map(s => s.shuffleWrite).sum / 1e6,
      "exec_shuffle_mb" -> execStages.map(s => s.shuffleWrite).sum / 1e6,
      "checkpoint_mb" -> spans.filter(_.name == "op").map(_.counts.getOrElse("checkpoint_mb", 0.0)).sum)
  }
}
