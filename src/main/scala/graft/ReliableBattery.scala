package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reliable-lineage battery leg (r11 verdict item 3): run the
  * fixpoint-heavy gate subset (graph_*, fixpoint_*, centrality_*,
  * dedup_components) under `graft.lineage.mode=local` (the default —
  * local checkpoints, zero executor-loss tolerance) and under
  * `graft.lineage.mode=reliable, reliableEvery=3` (every 3rd cut/pin a
  * durable checkpoint write, the rest plan-only), assert
  * the results HASH-IDENTICAL, and print per-query wall times for the
  * overhead curve. This is the proof that fault tolerance for the
  * multi-hour 100-TB fixpoint fleet is a config flip, not a rewrite —
  * the spec'd single-fixpoint check (LineageModeSpec) extended to every
  * shipping fixpoint consumer.
  *
  * Result identity is an ORDER-INDEPENDENT distributed hash: per row
  * xxhash64 over every column (nulls sentineled), summed and counted —
  * 2 longs per query cross modes, never a driver-side collect of data.
  *
  * Usage: `runMain graft.ReliableBattery [sfDir] [names...]` — prints
  * one JSON line per (mode, query) and a final summary line; exits
  * nonzero on any hash mismatch. */
object ReliableBattery {
  def main(args: Array[String]): Unit = {
    val mismatches = GraftSession.run(defaultCpus = 32)(battery(_, args))
    if (mismatches.nonEmpty) sys.exit(1)
  }

  /** Runs both modes and returns the gates whose hashes differ. */
  private def battery(spark: SparkSession, args: Array[String]): Seq[String] = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    spark.sparkContext.setLogLevel("ERROR")

    val only = args.drop(1).toSet
    val names = SparkEntry.queries.keys.toSeq.sorted.filter { n =>
      (only.isEmpty || only(n)) &&
        (n.startsWith("graph_") || n.startsWith("fixpoint_") ||
          n.startsWith("centrality_") || n == "dedup_components")
    }
    require(names.nonEmpty, "no fixpoint-heavy gates matched")

    // order-independent content hash: (bit_xor, decimal sum, count) of
    // per-row xxhash64 over all columns (null → typed sentinel via the
    // struct encoding). bit_xor alone is blind to EVEN-multiplicity
    // changes (two identical rows altered identically cancel in xor);
    // the sum catches those, carried as decimal(38,0) because a long sum
    // of 64-bit hashes overflows and ANSI mode (Spark 4 default) throws
    // on overflow — decimal(38,0) holds 2^63·rows up to ~10^19 rows
    // (r13 ADVICE: keep both in the tuple).
    def contentHash(df: DataFrame): (Long, String, Long) = {
      val h = df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
        .agg(bit_xor(col("h")).as("x"),
          sum(col("h").cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("n"))
        .collect()(0)
      (if (h.isNullAt(0)) 0L else h.getLong(0),
        if (h.isNullAt(1)) "0" else h.getDecimal(1).toBigInteger.toString,
        h.getLong(2))
    }

    final case class Run(sec: Double, hash: (Long, String, Long))
    def runAll(mode: String): Map[String, Run] = {
      spark.conf.set("graft.lineage.mode", mode)
      names.map { n =>
        val t0 = System.nanoTime()
        val h = contentHash(SparkEntry.queries(n)(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        DriverHygiene.releasePersisted(spark)
        println(f"""{"mode":"$mode","query":"$n","sec":$dt%.2f,"hash":[${h._1},${h._2},${h._3}]}""")
        n -> Run(dt, h)
      }.toMap
    }

    // the durable checkpoint blocks (every 3rd cut × every gate) would
    // otherwise accumulate in /tmp across runs (r12 ADVICE); the walk
    // stream is closed via Using and the removal runs in a finally so a
    // mid-battery failure cannot leak the directory either (r13 ADVICE)
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p)) {
        scala.util.Using.resource(java.nio.file.Files.walk(p)) { s =>
          s.iterator().asScala.toSeq.reverseIterator
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      }
    }

    val ckptDir = java.nio.file.Files
      .createTempDirectory("graft-reliable-battery").toString
    try {
      // pass 1 (local) doubles as warm-up for codegen/JIT; run local
      // twice and keep the second so the curve compares warm vs warm
      runAll("local")
      val local = runAll("local")
      spark.sparkContext.setCheckpointDir(ckptDir)
      // SPARK_GRAFT_RELIABLE_EVERY=1 measures the worst case (EVERY cut
      // durable); the default 3 is the recommended production cadence
      val every = sys.env.getOrElse("SPARK_GRAFT_RELIABLE_EVERY", "3")
      spark.conf.set("graft.lineage.reliableEvery", every)
      val reliable = runAll("reliable")

      val bad = names.filter(n => local(n).hash != reliable(n).hash)
      val localTotal = names.map(local(_).sec).sum
      val relTotal = names.map(reliable(_).sec).sum
      val worst = names.maxBy(n => reliable(n).sec - local(n).sec)
      println(
        s"""{"metric":"reliable_battery","n_queries":${names.size},""" +
        s""""local_sec":${math.round(localTotal * 100) / 100.0},""" +
        s""""reliable_every":$every,""" +
        s""""reliable_sec":${math.round(relTotal * 100) / 100.0},""" +
        f""""overhead_x":${relTotal / localTotal}%.3f,""" +
        s""""worst_delta_query":"$worst",""" +
        f""""worst_delta_sec":${reliable(worst).sec - local(worst).sec}%.2f,""" +
        s""""hash_mismatches":${bad.size},""" +
        s""""mismatched":${bad.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
      bad
    } finally rmTree(java.nio.file.Paths.get(ckptDir))
  }
}
