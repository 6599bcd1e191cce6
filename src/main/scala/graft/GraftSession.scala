package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main and the test fixture run on. */
object GraftSession {

  /** `local[n]` with n shuffle partitions, n = `SPARK_GRAFT_CPUS` or else
    * the host's cores; UTC session time, no UI, and the corpus's
    * TIMESTAMP(NANOS) columns read as longs (see [[Tables]]). The
    * warehouse is a fresh temp dir per session, deleted at JVM exit: a
    * stale warehouse dir under a fresh in-memory catalog fails
    * managed-table CREATE with LOCATION_ALREADY_EXISTS.
    */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val warehouse = java.nio.file.Files.createTempDirectory("graft-wh").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(warehouse))
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
