package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

object Json {
  /** A number with all its digits; infinities (a failed operation's rank)
    * become the largest double, so they stay valid JSON and never read as
    * fast.
    */
  def num(v: Double): String =
    if (v.isNaN) "null"
    else if (v.isInfinite) (math.signum(v) * Double.MaxValue).toString
    else v.toString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Int, failed: Int, ms: Seq[Metric]): String =
    obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(ms.map(m => m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))))
}

/** The benchmark's JVM entry point; perfbench/run.py starts it.
  *
  * A run is a closed loop: one client thread issues the workload's
  * operations one after another. Set-up (session start, Tables warm-up,
  * one untimed warm-up pass) runs first once as the JVM's warm-up, whose
  * pass is checked against expected.json, then [[MeasuredSetups]] times in
  * a fresh session with an empty codegen cache; the median of those is
  * `setup_s`. One measured set-up leaves most of a run to the timed
  * window. Then whole timed passes run until the next would overrun
  * `--seconds`.
  */
object Harness {
  val Cores = 4
  val MeasuredSetups = 1
  /** Traced and untraced passes a traced run compares, at least. */
  val TracePairs = 3
  /** End-to-end metrics of the result line. failed_ratio is 0 on a good
    * run, so it is printed in the report and carried by the result's
    * `failed` and `attempted`.
    */
  val EndToEnd = Seq("setup_s", "pass_s", "op_p50_s", "op_tail_s", "rows_per_s", "heap_after_gc_mb")

  def session(work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      corpus: String, expected: String, work: String, traceDir: String, dump: Option[String])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("corpus"), need("expected"), need("work"), need("trace-dir"), m.get("dump"))
  }

  /** expected.json: corpus name -> operation -> {rows, digest}. */
  def loadExpected(path: String, corpusName: String): Map[String, (Long, String)] = {
    import org.json4s._
    if (!Files.exists(Paths.get(path))) Map.empty
    else org.json4s.jackson.JsonMethods.parse(Files.readString(Paths.get(path))) \ corpusName match {
      case JObject(ops) => ops.collect { case (op, v) =>
        op -> (((v \ "rows").asInstanceOf[JInt].num.toLong, (v \ "digest").asInstanceOf[JString].s))
      }.toMap
      case _ => Map.empty
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val ops = Workloads.ops(a.workload)
    val corpusName = Paths.get(a.corpus).getFileName.toString
    val expected = loadExpected(a.expected, corpusName)
    val rng = new scala.util.Random(a.seed)
    def order(): Seq[Op] = rng.shuffle(ops)
    val tracer = new Tracer
    val problems = ArrayBuffer[String]()
    val say = (s: String) => println(s)

    // The first warm-up pass observes each result's row count and digest
    // and compares them with expected.json; every later pass compares its
    // row counts with that pass.
    var reference = Map.empty[String, Sample]
    def checkRows(where: String)(s: Sample): Unit =
      if (!s.failed && !reference.get(s.op).exists(_.rows == s.rows))
        problems += s"${s.op}: $where rows=${s.rows}, warm-up rows=${reference.get(s.op).map(_.rows)}"
    val dump = a.dump.map(dir => (o: Op, df: DataFrame) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/${o.name}"))

    var warmupSeconds = 0.0
    val setupSeconds = ArrayBuffer[Double]()
    var spark: SparkSession = null
    var lastWarm: Seq[Sample] = Nil
    for (i <- 1 to (if (a.dump.nonEmpty) 1 else 1 + MeasuredSetups)) {
      if (spark != null) {
        tracer.stop()
        spark.stop()
        SparkInternals.clearCodegenCache()
      }
      val t0 = System.nanoTime()
      spark = session(s"${a.work}/setup$i")
      val sessionSeconds = (System.nanoTime() - t0) / 1e9
      // set-up 1 is the JVM's warm-up; only the measured set-ups are traced
      if (a.trace && i > 1) tracer.start(spark)
      val runner = new Runner(spark, a.corpus, tracer)
      val t1 = System.nanoTime()
      val warm = tracer.span("setup", i.toString) {
        tracer.note("session_s", sessionSeconds)
        tracer.span("tables")(Tables.loaders.foreach { case (_, load) => load(spark, a.corpus).count() })
        runner.pass(order(), "warmup", digest = i == 1, dump = dump)
      }
      val seconds = sessionSeconds + (System.nanoTime() - t1) / 1e9 - warm.dumpSeconds
      if (i == 1) warmupSeconds = seconds else setupSeconds += seconds
      lastWarm = warm.samples
      warm.samples.filter(_.failed).foreach(s => problems += s"${s.op}: set-up $i failed: ${s.error.get}")
      if (i == 1) {
        reference = warm.samples.map(s => s.op -> s).toMap
        if (a.dump.isEmpty) warm.samples.filterNot(_.failed).foreach { s =>
          expected.get(s.op) match {
            case Some((rows, d)) if rows == s.rows && s.digest.contains(d) =>
            case Some((rows, d)) => problems +=
              s"${s.op}: rows=${s.rows} digest=${s.digest.get}, expected rows=$rows digest=$d"
            case None => problems += s"${s.op}: expected.json has no value for corpus $corpusName"
          }
        }
      } else warm.samples.foreach(checkRows(s"set-up $i"))
    }

    if (a.dump.nonEmpty) {
      val dir = a.dump.get
      Files.writeString(Paths.get(dir, "digests.json"), Json.obj(lastWarm.filterNot(_.failed).map(s =>
        s.op -> Json.obj(Seq("rows" -> s.rows.toString, "digest" -> Json.str(s.digest.get))))) + "\n")
      Files.writeString(Paths.get(dir, "oracle_sql.json"), Json.obj(ops.flatMap(o =>
        graft.SparkEntry.oracleSql.get(o.name).map(sql => o.name -> Json.str(sql)))) + "\n")
      spark.stop()
      problems.foreach(p => System.err.println(s"dump: $p"))
      say(s"dumped ${lastWarm.size} results to $dir")
      sys.exit(if (problems.isEmpty) 0 else 1)
    }

    // Whole timed passes until the next would overrun the window. A traced
    // run makes pairs of one traced and one untraced pass, at least
    // TracePairs of them, alternating which of the two runs first; the
    // ratio of their medians is the tracing overhead.
    val passes = ArrayBuffer[(Pass, Boolean)]()
    val heaps = ArrayBuffer[Double]()
    val runner = new Runner(spark, a.corpus, tracer)
    tracer.stop()
    val stat0 = Harness.cpuStat()
    val cpu0 = Harness.processCpuSeconds()
    val window0 = System.nanoTime()
    def elapsed = (System.nanoTime() - window0) / 1e9
    val step = if (a.trace) 2 else 1
    def more = passes.size % step != 0 || passes.size < step * (if (a.trace) TracePairs else 1) ||
      elapsed + step * Stats.median(passes.map(_._1.seconds).toSeq) <= a.seconds
    while (more) {
      val pair = passes.size / 2
      val traced = a.trace && (passes.size % 2 == 0) == (pair % 2 == 0)
      if (traced) tracer.start(spark)
      val p = runner.pass(order(), if (traced) "timed" else "untraced")
      if (traced) tracer.stop()
      passes += ((p, traced))
      p.samples.foreach(checkRows("timed pass"))
      // live heap after full collections, outside the timed pass; the
      // pause lets the ContextCleaner drop what the first one unreferenced
      System.gc()
      Thread.sleep(100)
      System.gc()
      heaps += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }

    val stat1 = Harness.cpuStat()
    val cpuUsed = Harness.processCpuSeconds() - cpu0
    val all = passes.map(_._1).toSeq
    val samples = all.flatMap(_.samples)
    samples.filter(_.failed).foreach(s => problems += s"${s.op}: failed: ${s.error.get}")
    val e2e = Summary.endToEnd(setupSeconds.toSeq, all, heaps.toSeq)

    say(s"# perfbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} corpus=$corpusName ops=${ops.size} passes=${all.size}")
    say(s"# host nproc=${Runtime.getRuntime.availableProcessors} cores_used=$Cores " +
      f"heap_max_mb=${Runtime.getRuntime.maxMemory / 1e6}%.0f spark=${spark.version} " +
      s"jdk=${System.getProperty("java.version")}")
    say(f"# setup_s each=${setupSeconds.map(s => f"$s%.3f").mkString(",")} " +
      f"(after the JVM's warm-up set-up, $warmupSeconds%.3f s, which is not in setup_s)")
    say(s"# pass_s each=${all.map(p => f"${p.seconds}%.3f").mkString(",")}")
    val dStat = stat1.zip(stat0).map { case (x, y) => x - y }
    say(f"# window cpu_s=$cpuUsed%.3f steal_share=${dStat(7).toDouble / dStat.sum}%.4f")
    e2e.foreach(m => say(s"metric ${m.name} ${Json.num(m.value)} ${m.unit}"))
    val byOp = samples.groupBy(_.op)
    lastWarm.foreach(w => say(f"# op ${w.op}%-28s warm-up=${w.seconds}%.3f s " +
      f"timed_median=${Stats.median(byOp(w.op).map(_.rank))}%.3f s rows=${w.rows}"))

    val reported = if (!a.trace) e2e.filter(m => EndToEnd.contains(m.name)) else {
      val traced = passes.collect { case (p, true) => p.seconds }.toSeq
      val untraced = passes.collect { case (p, false) => p.seconds }.toSeq
      val overhead = Stats.median(traced) / Stats.median(untraced) - 1
      say(f"# trace.overhead $overhead%.4f from ${untraced.size} traced/untraced pairs, " +
        "alternating which runs first")
      val timedSpans = tracer.spans.filter(s => s.name == "pass" && s.label == "timed").toSeq
      val warmSpans = tracer.spans.filter(s => s.name == "pass" && s.label == "warmup").toSeq
      val layers = Layers.compute(tracer, timedSpans, warmSpans, Cores, overhead)
      layers.foreach(m => say(s"layer ${m.name} ${Json.num(m.value)} ${m.unit}"))
      tracer.selfSeconds.toSeq.sortBy(_._1).foreach { case (k, v) => say(f"# self_s $k $v%.4f") }
      say(f"# calib_s=${calib(spark)}%.4f (graft.Bench's fixed CPU loop, min of 3: host-speed covariate)")
      Files.createDirectories(Paths.get(a.traceDir))
      val out = Paths.get(a.traceDir, s"spans-${a.workload}-seed${a.seed}.json")
      Files.writeString(out, tracer.spansJson)
      say(s"# spans written to $out")
      layers
    }
    problems.foreach(p => say(s"# CHECK FAILED $p"))
    spark.stop()
    val correct = problems.isEmpty
    say(Json.result(correct, samples.size, samples.count(_.failed), reported))
    sys.exit(if (correct) 0 else 1)
  }

  /** The machine-wide `cpu` line of /proc/stat, in clock ticks. */
  def cpuStat(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).split("\\s+").drop(1).map(_.toLong)

  def processCpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** The fixed CPU loop graft.Bench reports as calib_sec, min of three. */
  def calib(spark: SparkSession): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    spark.range(1L << 26).selectExpr("sum(id * (id % 7))").collect()
    (System.nanoTime() - t0) / 1e9
  }.min
}
