package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — getOrCreate
  * reuses it across suites, keeping `sbt test` fast).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.local()
    // the shared-session contract (see TextFns scaladoc): custom functions
    // are registered up front so suite execution order can't matter
    graft.functions.GraftFunctions.register(s)
    s
  }
}
