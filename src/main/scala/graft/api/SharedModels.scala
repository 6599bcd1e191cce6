package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The shared-model registry (SURVEY §5.3): families train/mine an
  * artifact once per (session, sfDir) and persist it as a warehouse
  * table; every consumer after the first reads the table. This object
  * owns that policy, so a family declares it in one line:
  *
  * {{{
  *   private val edges = SharedModels.table(GraphEdgesTable)
  *   edges(s, d)(graphEdges(s, d))   // builds once, then reads the table
  * }}}
  *
  *   - [[once]]/[[table]]: each family holds its OWN marker map. Builds
  *     nest across families (a graph top-k build reads the edges, the
  *     quantizer and the cell representatives, which read the cells), and
  *     `ConcurrentHashMap.computeIfAbsent` must never re-enter the map it
  *     is updating, so one global map would throw "Recursive update".
  *     Concurrent callers of one family wait for its single build.
  *   - [[tableFor]]: the marker key AND the table name both carry the
  *     scale factor — a marker keyed by sfDir pointing at a GLOBAL table
  *     name would silently serve one scale factor's artifact to another
  *     after an interleaved build (sf0.001 -> sf0.01 -> sf0.001 re-reads
  *     sf0.01 rows). The sf rides the table name, so each scale factor
  *     owns its tables and staleness is structurally impossible.
  *   - [[resetAll]]: clears every family's markers, so determinism specs
  *     (the SimSpec pattern: reset, build twice, compare) genuinely
  *     retrain instead of re-reading the persisted table — for every
  *     family, not just the one that happened to expose a reset.
  */
object SharedModels {

  private val families = new java.util.concurrent.ConcurrentLinkedQueue[Once[_]]

  /** One family's train-once marker map, keyed by (session, sfDir). */
  final class Once[V] private[SharedModels] () {
    private val done =
      new java.util.concurrent.ConcurrentHashMap[(Int, String), V]

    /** `build`'s value for (s, d): runs `build` on the first call per
      * (session, sfDir); concurrent callers block until it finishes. A
      * build that throws leaves no marker, so the next call retries.
      */
    def apply(s: SparkSession, d: String)(build: => V): V =
      done.computeIfAbsent((System.identityHashCode(s.sparkContext), d),
        _ => build)

    private[SharedModels] def reset(): Unit = done.clear()
  }

  /** A family whose artifact is not a single table (a driver-side value,
    * or several tables the build writes itself).
    */
  def once[V]: Once[V] = {
    val o = new Once[V]
    families.add(o)
    o
  }

  /** A family whose artifact is ONE warehouse table named after `base`. */
  final class Table private[SharedModels] (base: String) {
    private val built = once[Unit]

    /** The persisted table for (s, d), written from `build` on the first
      * call per (session, sfDir).
      */
    def apply(s: SparkSession, d: String)(build: => DataFrame): DataFrame = {
      built(s, d)(graft.sources.Warehouse.replaceTable(build, tableFor(base, d)))
      read(s, base, d)
    }
  }

  def table(base: String): Table = new Table(base)

  /** Read a shared table a family's build has written for `d`. */
  def read(s: SparkSession, base: String, d: String): DataFrame =
    s.table(s"${graft.sources.Warehouse.Schema}.${tableFor(base, d)}")

  /** `base` + a sanitized scale-factor tag + a short hash of the FULL
    * path, e.g. `ngram_pairs_full__sf0_01_1a2b3c4d` for
    * `/root/testdata/sf0.01`. The basename alone is not enough: markers
    * are keyed by the full sfDir, so two directories sharing a basename
    * (`/a/sf0.1` and `/b/sf0.1`) would share one physical table while
    * holding independent markers — after B builds, A's still-set marker
    * would serve B's artifact to A's consumers. The path hash makes
    * table identity agree with marker identity.
    */
  def tableFor(base: String, d: String): String = {
    val tag = d.split('/').filter(_.nonEmpty).lastOption.getOrElse("root")
      .toLowerCase.replaceAll("[^a-z0-9]", "_")
    val h = scala.util.hashing.MurmurHash3.stringHash(d) & 0xffffffffL
    f"${base}__${tag}_$h%08x"
  }

  /** Clear every family's markers — the next consumer of each artifact
    * retrains/re-mines and overwrites its table. Test hook.
    */
  def resetAll(): Unit = families.forEach(_.reset())
}
