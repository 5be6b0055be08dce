package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A benchmark workload: runs ops through the recorder until it says the
  * measuring window is over, then reports workload-specific outputs. */
trait Workload {
  def run(rec: Recorder): Unit
  def outputs: Map[String, Any]
}

/** Times ops (closed loop: each op starts after the previous one ends).
  * The first op is the cold one; the measuring window of `seconds` starts
  * when it ends. */
final class Recorder(tracer: Tracer, seconds: Double) {
  private val ops = ArrayBuffer.empty[Map[String, Any]]
  private var windowEnd = Double.MaxValue
  var warmStart: Map[String, Long] = Map.empty

  def count: Int = ops.size
  def done: Boolean = ops.nonEmpty && Clock.now() >= windowEnd

  private def add(start: Double, end: Double, items: Long): Int = {
    ops += Map("start" -> start, "end" -> end, "items" -> items)
    if (ops.size == 1) {
      windowEnd = end + seconds
      if (warmStart.isEmpty) warmStart = Counters.read()
    }
    ops.size - 1
  }

  /** Time one synchronous op; `body` returns the op's item count. Returns
    * the op's span id. */
  def op(body: => Long): Int = {
    var items = 0L
    val start = Clock.now()
    tracer.op("op") { items = body }
    add(start, Clock.now(), items)
  }

  /** Record an op timed elsewhere (a streaming micro-batch); returns the
    * op span's id. */
  def record(start: Double, end: Double, items: Long): Int = {
    add(start, end, items)
    tracer.record("op", start, end)
  }

  def toJson: Seq[Map[String, Any]] = ops.toSeq
}

/** Entry point: `graftbench.Main <workload> <inputDir> <workDir> <seconds>
  * <trace 0|1> <cores> <resultJson>`. Runs one workload in this JVM and
  * writes the raw timings, counters and (traced) spans and job log. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, in, work, secondsArg, traceArg, coresArg, out) = args
    val mainStart = Clock.now()
    val traced = traceArg == "1"
    val spark = Spark.session(coresArg.toInt, work)
    val sessionReady = Clock.now()
    val tracer = new Tracer(traced, s"$workload-${System.currentTimeMillis()}")
    val jobs = if (traced) Some(new JobLog) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    val rec = new Recorder(tracer, secondsArg.toDouble)
    val w: Workload = workload match {
      case "asset_sync" => new AssetSync(spark, tracer, in, work)
      case "graph_derive" => new GraphDerive(spark, tracer, in, work)
      case "stream_ingest" => new StreamIngest(spark, tracer, in, work)
    }
    w.run(rec)
    val warmEnd = Counters.read()
    val outputs = w.outputs
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
    val rssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    val result = Map(
      "main_start" -> mainStart, "session_s" -> (sessionReady - mainStart),
      "ops" -> rec.toJson, "warm_counters" -> Map("start" -> rec.warmStart, "end" -> warmEnd),
      "spans" -> tracer.toJson, "joblog" -> jobs.map(_.toJson), "outputs" -> outputs,
      "peak_rss_mb" -> rssKb / 1024.0,
      "env" -> Map("spark_version" -> org.apache.spark.SPARK_VERSION,
        "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.asScala.toSeq,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0))
    Files.writeString(Paths.get(out), Json(result))
    spark.stop()
    sys.exit(0)
  }
}
