package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

import graft.streaming.{GrowingDedupState, Streaming}

/** `stream_ingest`: the document backlog drained through the growing
  * components sink in two streaming sessions. Session 1 starts from an
  * empty store and drains `backlog_a`; session 2 reopens the store with
  * auto-compaction on and drains `backlog_b`. One op is one micro-batch
  * (one backlog file), except session 2's first batch: it runs the
  * compaction and recovery and is timed as the resume instead. A round is
  * both sessions over a fresh store; rounds repeat until the measuring
  * window ends. */
final class StreamIngest(session: SparkSession, tracer: Tracer, in: String, work: String)
    extends Workload {
  /** The streaming gates' session settings (StreamQueries.withStateSession):
    * one shuffle partition and no adaptive execution, because a micro-batch
    * of a few hundred documents has nothing to coalesce or split and every
    * adaptive query stage would be one more job per batch. */
  private val spark = {
    val s = session.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    if (tracer.enabled) s.conf.set("graft.growing.probeIoDiagnostics", "true")
    s
  }
  private val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
  private val minJacc = 800000L

  /** Every micro-batch that read input: interval, rows, sampled probe MB,
    * codegen compiles and the process counters when it committed. */
  private case class Batch(start: Double, end: Double, rows: Long,
                           probeMb: Option[Double], compiles: Long,
                           counters: Map[String, Long])
  private val batches = new ConcurrentLinkedQueue[Batch]()
  @volatile private var current: GrowingDedupState = _
  @volatile private var compilesSeen = 0L

  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli / 1000.0
        val dur = p.durationMs.get("triggerExecution").longValue / 1000.0
        // probe diagnostics are read after the batch commits; a batch that
        // already started has reset them, so some batches go unsampled
        val probe = Option(current).flatMap(_.lastProbeIo)
          .map(io => (io.bandBytes + io.payBytes) / 1048576.0)
        // codegen compiles since the previous batch committed (read on the
        // listener thread, so a batch's late compiles may land in the next)
        val compiles = Counters.compiles()
        batches.add(Batch(start, start + dur, p.numInputRows, probe, compiles - compilesSeen,
          Counters.read()))
        compilesSeen = compiles
      }
    }
  }
  spark.streams.addListener(listener)

  private def drain(dir: String, state: GrowingDedupState, ckpt: String): Unit = {
    current = state
    compilesSeen = Counters.compiles()
    val q = Streaming.growingComponentsSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir),
      state, minJacc).option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
  }

  private var rounds = 0
  private var consumed = 0
  private val resumes = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val probes = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var storeFiles = 0L
  private var storeBytes = 0L
  private var batchesPerRound = 0

  def run(rec: Recorder): Unit = {
    var first = true
    while (first || !rec.done) {
      first = false
      val root = s"$work/store/round_$rounds"
      drain(s"$in/backlog_a", GrowingDedupState(root, epoch = "0"), s"$root/_ckpt_a")
      // resume: session-2 state construction, auto-compaction included,
      // until its first micro-batch commits
      val resumeStart = Clock.now()
      val before = batches.size
      drain(s"$in/backlog_b", GrowingDedupState(root, epoch = "1", autoCompactAfter = 1),
        s"$root/_ckpt_b")
      val round = batches.asScala.toSeq.drop(consumed)
      val resumeBatch = round(before - consumed)
      consumed += round.size
      resumes += resumeBatch.end - resumeStart
      tracer.record("streaming.resume", resumeStart, resumeBatch.end,
        compiles = resumeBatch.compiles)
      // ops are recorded after the round, so the warm window's counters
      // start from the first batch's commit, not from the recording
      if (rec.count == 0) rec.warmStart = round.head.counters
      round.filter(_ ne resumeBatch).foreach { b =>
        val id = rec.record(b.start, b.end, b.rows)
        tracer.record("streaming.batch", b.start, b.end, parent = id, compiles = b.compiles)
        b.probeMb.foreach(probes += _)
      }
      batchesPerRound = round.size
      val labels = tracer.layer("streaming.labels") {
        GrowingDedupState(root, epoch = "1").labels(spark).get
          .select(col("node").as("doc_id"), col("component")).collect()
      }
      // untimed: the round's final labels, for the oracle comparison
      spark.createDataFrame(java.util.Arrays.asList(labels: _*),
          StructType.fromDDL("doc_id BIGINT, component BIGINT"))
        .write.mode("overwrite").parquet(s"$work/check/round_$rounds")
      val store = Files.walk(Paths.get(root)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.toString.contains("/_ckpt_")).toSeq
      storeFiles = store.size.toLong
      storeBytes = store.map(Files.size).sum
      rounds += 1
    }
    spark.streams.removeListener(listener)
  }

  def outputs: Map[String, Any] = Map("rounds" -> rounds, "resume_s" -> resumes.toSeq,
    "probe_mb" -> probes.toSeq, "store_files" -> storeFiles, "store_bytes" -> storeBytes,
    "batches_per_round" -> batchesPerRound,
    "oracle_sql" -> Map("dedup_components" -> graft.SparkEntry.oracleSql("dedup_components")))
}
