package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import graft.api.Checkpoints
import graft.sources.Warehouse

/** One operation's outcome. A failure keeps the time it took to fail. */
final case class Sample(op: String, seconds: Double, rows: Long,
    digest: Option[String], error: Option[String]) {
  def failed: Boolean = error.nonEmpty
  /** Failures rank above every success, so they never read as fast. */
  def rank: Double = if (failed) Double.PositiveInfinity else seconds
}

/** One pass: its wall time without the dumps, and its operations. */
final case class Pass(seconds: Double, samples: Seq[Sample], dumpSeconds: Double)

/** Runs operations in one session. An operation is its frame, the complete
  * materialization of the result, and the release of its checkpoint
  * blocks; its time is the sum of the three. Row counts (and, when asked,
  * the content digest) ride along as observed metrics of the write itself,
  * so they cost no extra job.
  */
final class Runner(spark: SparkSession, corpus: String, tracer: Tracer) {

  private def storageMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** `dump` runs after the result is written and before release; its time
    * is returned apart from the operation's.
    */
  def op(o: Op, digest: Boolean, dump: Option[(Op, DataFrame) => Unit]): (Sample, Double) = {
    var seconds = 0.0
    def clock[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally seconds += (System.nanoTime() - t0) / 1e9
    }
    var dumpSeconds = 0.0
    val result: Either[Exception, (Long, Option[String])] = tracer.span("op", o.name) {
      try {
        val df = clock(tracer.span("frame")(o.build(spark, corpus)))
        if (tracer.active) tracer.note("checkpoint_mb", storageMb())
        val obs = Observation()
        val metrics = count(lit(1)).as("rows") +: (if (digest) Runner.digestParts(df) else Nil)
        val observed = df.observe(obs, metrics.head, metrics.tail: _*)
        clock(o.table match {
          case None => tracer.span("exec")(observed.write.format("noop").mode("overwrite").save())
          case Some(t) => tracer.span("load")(Warehouse.replaceTable(observed, t))
        })
        val got = obs.get
        val rows = got("rows").asInstanceOf[Long]
        if (tracer.active) {
          tracer.note("rows", rows.toDouble)
          o.table.foreach(t => tracer.note("files", Runner.tableFiles(spark, t)))
        }
        dump.foreach { d =>
          val t0 = System.nanoTime()
          d(o, df)
          dumpSeconds = (System.nanoTime() - t0) / 1e9
        }
        Right((rows, if (digest) Some(s"$rows:${got("lo")}:${got("hi")}") else None))
      } catch {
        case e: Exception => Left(e)
      } finally {
        val held = if (tracer.active) storageMb() else 0.0
        clock(tracer.span("release")(Checkpoints.releaseAll(spark)))
        if (tracer.active) {
          val left = storageMb()
          tracer.note("released_mb", held - left)
          tracer.note("held_after_release_mb", left)
        }
      }
    }
    val sample = result match {
      case Right((rows, d)) => Sample(o.name, seconds, rows, d, None)
      case Left(e) =>
        val msg = String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
        Sample(o.name, seconds, 0L, None, Some(s"${e.getClass.getSimpleName}: $msg"))
    }
    (sample, dumpSeconds)
  }

  def pass(ops: Seq[Op], label: String, digest: Boolean = false,
      dump: Option[(Op, DataFrame) => Unit] = None): Pass =
    tracer.span("pass", label) {
      val c0 = Tracer.jvmCounters()
      val t0 = System.nanoTime()
      val runs = ops.map(op(_, digest, dump))
      val dumpSeconds = runs.map(_._2).sum
      val seconds = (System.nanoTime() - t0) / 1e9 - dumpSeconds
      val d = Tracer.jvmCounters() - c0
      tracer.note("gc_ms", d.gcMs.toDouble)
      tracer.note("jit_ms", d.jitMs.toDouble)
      tracer.note("codegen_compiles", d.compiles.toDouble)
      tracer.note("codegen_ms", d.codegenNanos / 1e6)
      Pass(seconds, runs.map(_._1), dumpSeconds)
    }
}

object Runner {
  /** Order-independent content digest, observed during the write: the two
    * 32-bit halves of each row's xxhash64, summed over all rows.
    */
  def digestParts(df: DataFrame): Seq[Column] = {
    val h = xxhash64(df.schema.fields.toSeq.map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case _: MapType => to_json(c) // xxhash64 rejects maps
        case _ => c
      }
    }: _*)
    Seq(coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  def tableFiles(spark: SparkSession, table: String): Double = {
    val dir = java.nio.file.Paths.get(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath,
      s"${Warehouse.Schema}.db", table)
    if (!java.nio.file.Files.isDirectory(dir)) 0.0
    else java.nio.file.Files.list(dir)
      .filter(_.getFileName.toString.startsWith("part-")).count().toDouble
  }
}

/** End-to-end metrics of a run.
  *
  * `op_p50_s` and `op_tail_s` are each timed pass's median and slowest
  * operation, as medians over the passes. A run holds 6 to 30 operations of
  * two to five kinds whose times differ up to sixfold, so pooled order
  * statistics tell which kind sits at a rank: the pooled median of an
  * etl_load run falls in the gap between its two kinds, and a pooled
  * percentile with ten samples beyond it (printed beside them) moves with
  * the pass count. A failed operation ranks above every success, so it
  * makes its pass's slowest time infinite, and its median once half the
  * pass fails.
  */
object Summary {
  def endToEnd(setups: Seq[Double], passes: Seq[Pass], heapsMb: Seq[Double]): Seq[Metric] = {
    val samples = passes.flatMap(_.samples)
    val rows = samples.filterNot(_.failed).map(_.rows).sum.toDouble
    Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      Metric("pass_s", Stats.median(passes.map(_.seconds)), "s"),
      Metric("op_p50_s", Stats.median(passes.map(p => Stats.median(p.samples.map(_.rank)))), "s"),
      Metric("op_tail_s", Stats.median(passes.map(_.samples.map(_.rank).max)), "s"),
      Metric("rows_per_s", rows / passes.map(_.seconds).sum, "1/s"),
      Metric("heap_after_gc_mb", Stats.median(heapsMb), "MB"),
      Metric("failed_ratio", samples.count(_.failed).toDouble / samples.size, "ratio"),
      Metric("op_samples", samples.size.toDouble, "count"),
      Metric("op_supported_percentile",
        Stats.supportedPercentile(samples.size).getOrElse(Double.NaN), "%"))
  }
}
