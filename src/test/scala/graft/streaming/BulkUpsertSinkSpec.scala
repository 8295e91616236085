package graft.streaming

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The egress façade's contract (the reference ES sink's
  * `key.ignore=false` semantics, README.md:487-493): per batch at most
  * one action per key; external-gte versioning makes replayed and
  * out-of-order batches converge instead of regressing; tombstone rows
  * delete their document. Verified against an in-memory mock endpoint
  * that implements exactly the ES `version_type=external_gte` rule. */
class BulkUpsertSinkSpec extends AnyFunSuite with SharedSpark {

  import BulkUpsertSinkSpec._

  test("per-batch dedup: one action per key, winner by orderCol") {
    val store = newStore()
    val sink = new BulkUpsertSink("id", new MockEndpoint(store),
      orderCol = Some("off"))
    import spark.implicits._
    sink.upsert(Seq(
      ("a", "v1", 1L), ("a", "v2", 2L), ("a", "v3", 3L),
      ("b", "w1", 4L)).toDF("id", "payload", "off"), batchId = 0)

    val actions = store.log.toArray(Array.empty[BulkDoc])
    assert(actions.length == 2, s"expected 1 action per key, got ${actions.toSeq}")
    assert(actions.map(_.id).toSet == Set("a", "b"))
    assert(doc(store, "a").exists(_.contains("v3"))) // last by offset, not first
    assert(doc(store, "b").exists(_.contains("w1")))
  }

  test("replaying the same batch is a no-op on visible state") {
    val store = newStore()
    val sink = new BulkUpsertSink("id", new MockEndpoint(store),
      orderCol = Some("off"))
    import spark.implicits._
    val batch = Seq(("a", "v1", 10L), ("b", "w1", 11L)).toDF("id", "payload", "off")
    sink.upsert(batch, batchId = 3)
    val after1 = snapshot(store)
    sink.upsert(batch, batchId = 3) // foreachBatch retry / restart replay
    assert(snapshot(store) == after1)
  }

  test("out-of-order replay cannot regress a key the endpoint advanced past") {
    val store = newStore()
    val sink = new BulkUpsertSink("id", new MockEndpoint(store),
      orderCol = Some("off"))
    import spark.implicits._
    val early = Seq(("a", "old", 5L)).toDF("id", "payload", "off")
    val late = Seq(("a", "new", 9L)).toDF("id", "payload", "off")
    sink.upsert(early, 0)
    sink.upsert(late, 1)
    sink.upsert(early, 0) // redelivered stale batch
    assert(doc(store, "a").exists(_.contains("new")))
  }

  test("tombstone rows delete the document, and a stale upsert cannot resurrect it") {
    val store = newStore()
    val sink = new BulkUpsertSink("id", new MockEndpoint(store),
      deletedCol = Some("__deleted"), orderCol = Some("off"))
    import spark.implicits._
    sink.upsert(Seq(("a", "v1", "false", 1L), ("b", "w1", "false", 2L))
      .toDF("id", "payload", "__deleted", "off"), 0)
    sink.upsert(Seq(("a", null, "true", 3L))
      .toDF("id", "payload", "__deleted", "off"), 1)
    assert(doc(store, "a").isEmpty && doc(store, "b").nonEmpty)
    // replayed pre-delete upsert: version 1 < deletion version 3 → dead stays dead
    sink.upsert(Seq(("a", "v1", "false", 1L))
      .toDF("id", "payload", "__deleted", "off"), 0)
    assert(doc(store, "a").isEmpty)
    // the delete action itself must not carry the __deleted marker as payload
    assert(!store.log.toArray(Array.empty[BulkDoc])
      .exists(d => !d.deleted && d.json.contains("__deleted")))
  }

  test("null order value fails the batch loudly — never a silent version-domain mix") {
    val store = newStore()
    val sink = new BulkUpsertSink("id", new MockEndpoint(store),
      orderCol = Some("off"))
    import spark.implicits._
    // substituting e.g. the batch id for a null offset would make
    // external_gte silently discard the action against offset-versioned
    // state, so the batch must fail with the column named
    val e = intercept[Exception] {
      sink.upsert(Seq(("a", "v1", Some(5L)), ("b", "w1", Option.empty[Long]))
        .toDF("id", "payload", "off"), batchId = 2)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m => m.contains("off") && m.contains("order")),
      messages(e).mkString(" | "))
  }

  test("configured deletedCol missing from the batch fails loudly") {
    val sink = new BulkUpsertSink("id", new MockEndpoint(newStore()),
      deletedCol = Some("__deleted"))
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      sink.upsert(Seq(("a", "v1")).toDF("id", "payload"), 0)
    }
    assert(e.getMessage.contains("__deleted"))
  }

  test("HTTP bulk wire format: action lines, id escaping, versioned deletes") {
    val body = HttpBulkEndpoint.render(Iterator(
      BulkDoc("plain", """{"a":1}""", 7L, deleted = false),
      BulkDoc("we\"ird\\id", """{"b":2}""", 8L, deleted = false),
      BulkDoc("gone", null, 9L, deleted = true)))
    val lines = body.split('\n')
    assert(lines.length == 5) // 2 index pairs + 1 delete line
    assert(lines(0) ==
      """{"index":{"_id":"plain","version":7,"version_type":"external_gte"}}""")
    assert(lines(1) == """{"a":1}""")
    assert(lines(2) ==
      """{"index":{"_id":"we\"ird\\id","version":8,"version_type":"external_gte"}}""")
    assert(lines(4) ==
      """{"delete":{"_id":"gone","version":9,"version_type":"external_gte"}}""")
    assert(body.endsWith("\n")) // the bulk API requires a trailing newline
  }

  test("no orderCol: the per-key winner is value-deterministic, so a batch-id retry converges") {
    // without orderCol, versions are the batch id and external_gte treats
    // a retry as EQUAL version — the retry MUST elect the same winner or
    // replay flips the document
    import spark.implicits._
    val batch = Seq(("a", "v1"), ("a", "v3"), ("a", "v2"), ("b", "w1"))
      .toDF("id", "payload")
    for (_ <- 1 to 3) { // re-runs across fresh shuffles elect the same row
      val store = newStore()
      new BulkUpsertSink("id", new MockEndpoint(store))
        .upsert(batch.repartition(4), batchId = 7)
      assert(doc(store, "a").exists(_.contains("v3")), // max over non-key cols
        doc(store, "a").toString)
      assert(doc(store, "b").exists(_.contains("w1")))
    }
  }

  test("no orderCol: value-EQUAL rows with different renderings still elect one winner") {
    // Spark's float ordering treats -0.0 == 0.0, but to_json renders
    // them differently — without the byte-level rendering tiebreak a
    // retry could ship either document
    import spark.implicits._
    val batch = Seq(("a", 0.0), ("a", -0.0)).toDF("id", "x")
    val elected = (1 to 3).map { _ =>
      val store = newStore()
      new BulkUpsertSink("id", new MockEndpoint(store))
        .upsert(batch.repartition(4), batchId = 1)
      doc(store, "a").get
    }
    assert(elected.distinct.size == 1, elected.toString)
  }

  test("no orderCol: unorderable column types (interval, map) don't crash the dedup") {
    // Catalyst can't ORDER BY CalendarIntervalType — a hand-rolled
    // orderability check that misses it makes Window.orderBy throw and
    // kills the stream on an otherwise-valid batch
    assert(!BulkUpsertSink.orderable(
      org.apache.spark.sql.types.CalendarIntervalType))
    import spark.implicits._
    val batch = Seq(("a", "p1", 1), ("a", "p2", 2)).toDF("id", "payload", "m")
      .withColumn("m", org.apache.spark.sql.functions.map(
        org.apache.spark.sql.functions.lit("k"),
        org.apache.spark.sql.functions.col("m")))
    val store = newStore()
    new BulkUpsertSink("id", new MockEndpoint(store)).upsert(batch, 0)
    assert(doc(store, "a").nonEmpty)
  }

  test("no orderCol: map values canonicalize, so entry-order cannot flip the winner") {
    // a map built by an upstream aggregation can present its entries
    // in different orders across re-executions of the same batch; the
    // tiebreak must rank on the key-sorted rendering or a retry could
    // elect a different winner under the same batch-id version
    import org.apache.spark.sql.functions.{col, map_from_entries, reverse}
    import spark.implicits._
    // chosen so UNCANONICALIZED renderings rank opposite ways under
    // the two entry orders: {"k1":9,"k2":1} > {"k1":1,"k2":9} but
    // {"k2":1,"k1":9} < {"k2":9,"k1":1}
    val base = Seq(("a", Seq(("k1", 9), ("k2", 1))),
                   ("a", Seq(("k1", 1), ("k2", 9))))
      .toDF("id", "entries")
    val fwd = base.withColumn("m",
      map_from_entries(col("entries"))).drop("entries")
    val rev = base.withColumn("m",
      map_from_entries(reverse(col("entries")))).drop("entries")
    // same VALUES, opposite physical entry order → same elected winner
    val elected = Seq(fwd, rev).map { b =>
      val store = newStore()
      new BulkUpsertSink("id", new MockEndpoint(store))
        .upsert(b.repartition(4), batchId = 1)
      // identify the winner by which VALUE it carries (the doc's own
      // rendering legitimately differs in entry order)
      doc(store, "a").get.contains("\"k1\":9")
    }
    assert(elected.distinct.size == 1, elected.toString)
  }

  test("bulk response: 2xx with per-item failures fails the batch; 409 conflicts don't") {
    // ES returns HTTP 200 with "errors":true and per-item statuses —
    // status-only checking would silently drop failed actions
    def item(op: String, id: String, status: Int, reason: String = null) = {
      val err = if (reason == null) ""
        else s""","error":{"type":"mapper_parsing_exception","reason":"$reason"}"""
      s"""{"$op":{"_id":"$id","status":$status$err}}"""
    }
    def body(errors: Boolean, items: String*) =
      s"""{"took":3,"errors":$errors,"items":[${items.mkString(",")}]}"""

    // clean response and expected external_gte conflicts (replay) pass
    HttpBulkEndpoint.checkResponse("t", 200, body(false, item("index", "a", 201)))
    HttpBulkEndpoint.checkResponse("t", 200,
      body(true, item("index", "a", 409), item("delete", "b", 409)))
    // a real per-item failure inside a 2xx envelope fails loudly
    val e = intercept[java.io.IOException] {
      HttpBulkEndpoint.checkResponse("t", 200,
        body(true, item("index", "a", 201), item("index", "bad", 400, "boom")))
    }
    assert(e.getMessage.contains("bad") && e.getMessage.contains("400")
      && e.getMessage.contains("boom"))
    // non-2xx HTTP and an unverifiable body still fail
    intercept[java.io.IOException] {
      HttpBulkEndpoint.checkResponse("t", 503, "unavailable")
    }
    intercept[java.io.IOException] {
      HttpBulkEndpoint.checkResponse("t", 200, "<html>not json</html>")
    }
  }

  test("streaming attach: foreachBatch wiring converges to latest-by-key") {
    val store = newStore()
    val sink = new BulkUpsertSink("id", new MockEndpoint(store),
      orderCol = Some("off"))
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = MemoryStream[(String, String, Long)]
    val q = feed.toDF().toDF("id", "payload", "off")
      .writeStream.outputMode("append")
      .foreachBatch(sink.forEachBatch)
      .start()
    try {
      feed.addData(("a", "v1", 1L), ("b", "w1", 2L))
      q.processAllAvailable()
      feed.addData(("a", "v2", 3L))
      q.processAllAvailable()
      assert(doc(store, "a").exists(_.contains("v2")))
      assert(doc(store, "b").exists(_.contains("w1")))
    } finally q.stop()
  }
}

object BulkUpsertSinkSpec {
  /** Shared-JVM mock document store (local-mode executors see the same
    * statics). Keyed state + full action log, external-gte applied. */
  class Store(val name: String) extends Serializable {
    def state: ConcurrentHashMap[String, (String, Long)] =
      stores.computeIfAbsent(name, _ => new ConcurrentHashMap())
    def log: ConcurrentLinkedQueue[BulkDoc] =
      logs.computeIfAbsent(name, _ => new ConcurrentLinkedQueue())
  }
  private val stores =
    new ConcurrentHashMap[String, ConcurrentHashMap[String, (String, Long)]]()
  private val logs =
    new ConcurrentHashMap[String, ConcurrentLinkedQueue[BulkDoc]]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger()

  def newStore(): Store = new Store(s"s${nextId.incrementAndGet()}")

  /** ES `version_type=external_gte`: apply iff version ≥ stored;
    * deletes store a versioned tombstone so stale upserts stay dead. */
  class MockEndpoint(store: Store) extends BulkEndpoint {
    override def bulk(partitionId: Int, docs: Iterator[BulkDoc]): Unit =
      docs.foreach { d =>
        store.log.add(d)
        store.state.merge(d.id,
          (if (d.deleted) null else d.json, d.version),
          (cur, nw) => if (nw._2 >= cur._2) nw else cur)
      }
  }

  def doc(store: Store, id: String): Option[String] =
    Option(store.state.get(id)).flatMap(v => Option(v._1))

  def snapshot(store: Store): Map[String, (String, Long)] = {
    import scala.jdk.CollectionConverters._
    store.state.asScala.toMap
  }
}
