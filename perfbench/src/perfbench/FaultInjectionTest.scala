package perfbench

import org.apache.spark.sql.SparkSession

/** Fault-injection test of the harness's failure accounting: one operation
  * throws while its frame is built, one while its result executes. Neither
  * may count as passing or read as fast, and the time each took to fail
  * must stay in the pass time. Run with `python3 perfbench/test.py`.
  */
object FaultInjectionTest {
  val BuildDelayS = 0.3

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(args(0))
    val ok = Op("ok", (s: SparkSession, _: String) => s.range(1000).toDF("id"))
    val atBuild = Op("throws_at_build", (_: SparkSession, _: String) => {
      Thread.sleep((BuildDelayS * 1000).toLong)
      throw new IllegalStateException("injected failure while building the frame")
    })
    val atExecute = Op("throws_at_execute", (s: SparkSession, _: String) =>
      s.range(10).selectExpr("raise_error('injected failure while executing') AS x"))
    val ops = Seq(ok, atBuild, atExecute)
    val runner = new Runner(spark, "", new Tracer)
    runner.pass(ops, "warmup")
    val pass = runner.pass(ops, "timed")
    val metrics = Summary.endToEnd(Seq(1.0), Seq(pass), Seq(1.0)).map(m => m.name -> m.value).toMap
    val byOp = pass.samples.map(s => s.op -> s).toMap
    val okSeconds = byOp("ok").seconds
    spark.stop()

    val checks = Seq(
      "the healthy operation passes" -> !byOp("ok").failed,
      "the build failure is counted as failed" -> byOp("throws_at_build").failed,
      "the execute failure is counted as failed" -> byOp("throws_at_execute").failed,
      "failed_ratio is 2/3" -> (metrics("failed_ratio") == 2.0 / 3),
      "op_p50_s is not fast" -> (metrics("op_p50_s") > okSeconds && metrics("op_p50_s").isInfinite),
      "op_tail_s is not fast" -> (metrics("op_tail_s") > okSeconds && metrics("op_tail_s").isInfinite),
      "time until the build failure is kept" -> (byOp("throws_at_build").seconds >= BuildDelayS),
      "pass_s includes the failed operations" ->
        (metrics("pass_s") >= pass.samples.map(_.seconds).sum && metrics("pass_s") >= BuildDelayS),
      "the result line reports both failures" ->
        Json.result(false, pass.samples.size, pass.samples.count(_.failed), Nil)
          .contains("\"attempted\": 3, \"failed\": 2"))
    checks.foreach { case (what, ok) => println(s"${if (ok) "PASS" else "FAIL"} $what") }
    pass.samples.foreach(s => println(f"  ${s.op}%-18s ${s.seconds}%.3f s ${s.error.getOrElse("ok")}"))
    sys.exit(if (checks.forall(_._2)) 0 else 1)
  }
}
