package graft.api

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Warehouse

/** The train-once contract every shared-model family relies on: one build
  * per (session, sfDir) even under concurrent callers, one table per
  * sfDir, builds that nest across families, and a reset that really
  * forces the next build.
  */
class SharedModelsSpec extends SparkSpec {

  test("concurrent callers of one family run its build exactly once") {
    val family = SharedModels.once[Int]
    val builds = new AtomicInteger
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val calls = (1 to 8).map(_ => Future(family(spark, "/spec/once") {
        builds.incrementAndGet()
        Thread.sleep(200)
        42
      }))
      assert(Await.result(Future.sequence(calls), 60.seconds).forall(_ == 42))
      assert(builds.get === 1)
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("each sfDir gets its own build and its own table; names are stable") {
    val base = "shared_models_spec"
    val family = SharedModels.table(base)
    val builds = new AtomicInteger
    def served(d: String, v: Int): Seq[Int] = family(spark, d) {
      builds.incrementAndGet()
      spark.range(1).select(lit(v).as("v"))
    }.collect().map(_.getInt(0)).toSeq
    val (a, b) = ("/spec/a/sf0.1", "/spec/b/sf0.1")
    assert(served(a, 1) === Seq(1))
    assert(served(b, 2) === Seq(2))
    assert(served(a, 3) === Seq(1), "a's second call must read a's table")
    assert(builds.get === 2)
    val (ta, tb) = (SharedModels.tableFor(base, a), SharedModels.tableFor(base, b))
    assert(ta !== tb, "same basename, different sfDir: distinct tables")
    assert(spark.catalog.tableExists(s"${Warehouse.Schema}.$ta"))
    assert(spark.catalog.tableExists(s"${Warehouse.Schema}.$tb"))
    // persisted table names outlive a session: the format must not drift
    assert(SharedModels.tableFor("ngram_pairs_full", "/data/sf0.01")
      === "ngram_pairs_full__sf0_01_d5e5e6d5")
  }

  test("a build may call another family inside its thunk") {
    val inner = SharedModels.once[Int]
    val outer = SharedModels.once[Int]
    val d = "/spec/nested"
    assert(outer(spark, d)(inner(spark, d)(20) + 1) === 21)
    assert(outer(spark, d)(-1) === 21)
    assert(inner(spark, d)(-1) === 20)
  }

  test("resetAll makes the next call build again") {
    val family = SharedModels.once[Int]
    val builds = new AtomicInteger
    def get() = family(spark, "/spec/reset")(builds.incrementAndGet())
    assert(get() === 1)
    assert(get() === 1)
    SharedModels.resetAll()
    assert(get() === 2)
    assert(builds.get === 2)
  }
}
