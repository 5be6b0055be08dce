package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft main builds its SparkSession, so every main —
  * the battery (Bench, JobBreakdown, PlanAudit, ReliableBattery), the
  * smokes, Verify and the sync CLI — plans its queries under the same
  * settings.
  *
  * A new session runs `local[cpus]` (or `master`, when the caller names
  * a cluster) with `cpus` shuffle partitions, AQE, UTC session time, the
  * UI off, a 16384-entry codegen cache and no artifact isolation; `cpus`
  * is `SPARK_GRAFT_CPUS`, else the caller's default.
  *
  * The codegen cache: Janino's generated-class cache is JVM-static and
  * capped at 100 entries by default (StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES)
  * — a 260-query battery holds far more than 100 distinct codegen'd
  * plans, so BOTH min-of-2 passes kept paying recompilation on whichever
  * queries the LRU evicted (measured: graph_triangles 3.25s ↔ 9.87s on
  * identical code). Entries are per-FRAGMENT, not per-query: the
  * 290-query battery compiles ~4.2k distinct fragments, so the round-8
  * value of 4096 thrashed pathologically (LRU + cyclic access ≈ every
  * fragment a miss: measured 3.8k recompiles per pass, graph_triangles
  * 7.6s in-battery vs 3.3s isolated — each recompile is a fresh class
  * whose C2 profile restarts, which costs far more than the Janino
  * time). Sized past the fragment count with headroom, passes 2+ are
  * pure cache hits and the kernels stay JIT-hot.
  *
  * Artifact isolation is off: the cache is keyed by (classloader,
  * source), and with `spark.sql.artifact.isolation.enabled` (on by
  * default) every session — each `newSession()` and each streaming
  * query's clone — runs its tasks under its own executor classloader,
  * so every class one session compiled is compiled again by the next
  * (`graft.Bench` over the two growing-stream queries, sf0.1, 2 cores:
  * 297 compiles in the second pass with isolation, none without).
  * Isolation only scopes session-added jars and files, and graft adds
  * none.
  *
  * A live default session (a test suite, a notebook) is joined as it
  * is: its conf is left untouched and it is not stopped when `body`
  * returns. Only a session built here is stopped, also when `body`
  * throws. */
object GraftSession {
  def run[A](defaultCpus: Int, master: Option[String] = None)(
      body: SparkSession => A): A =
    SparkSession.getDefaultSession match {
      case Some(live) => body(live)
      case None =>
        val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
        val spark = SparkSession.builder()
          .master(master.getOrElse(s"local[$cpus]"))
          .config("spark.sql.shuffle.partitions", cpus)
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.codegen.cache.maxEntries", "16384")
          .config("spark.sql.artifact.isolation.enabled", "false")
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        try body(spark) finally spark.stop()
    }
}
