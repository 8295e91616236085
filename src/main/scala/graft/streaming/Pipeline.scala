package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** The reference pipeline as three chained Spark Structured Streaming
  * queries — the ksqlDB persistent-query graph of
  * reference README.md:434-493 re-expressed Spark-first:
  *
  * {{{
  * customersFeed (Debezium JSON) ─S2 unwrap─ A2 latest_by_offset ─► SnapshotStore      (q1, update mode)
  * ordersFeed ─S5 event time─ J1 left join snapshot (per micro-batch) ─► enrichedChannel (q2, foreachBatch)
  * enrichedChannel ⋈ shipmentsFeed WITHIN ±band on order_id ─► KeyedParquetSink        (q3, append mode)
  * }}}
  *
  * Design decisions (SURVEY.md §7):
  *  - J1 is the `foreachBatch` snapshot join (form (a)): each orders
  *    micro-batch looks up the *current* customer state — ksqlDB's
  *    lookup-at-processing-time semantics. The enriched rows feed the
  *    next query through a disk-backed [[FileChannel]] (parquet dir +
  *    file-source stream), the offline analog of the intermediate topic
  *    ksqlDB writes (`enriched_orders`, README.md:448): executors write
  *    and read the hop directly, nothing funnels through the driver.
  *  - J2 is Spark-native: `StreamingSymmetricHashJoinExec` from
  *    watermarks + an equi-key plus symmetric time-band condition
  *    (`WITHIN 7 DAYS`, README.md:477). State eviction follows the
  *    watermark; out-of-order arrival is handled by symmetric
  *    buffering.
  *  - K2: the sink is the durable [[KeyedParquetSink]] — copy-on-write
  *    keyed snapshots, upsert by order_id, so at-least-once delivery
  *    collapses to exactly-once-per-key visible rows, matching the
  *    Elasticsearch `_id`-from-key contract (README.md:555-568).
  *
  * Scale: per-key streaming state shards over
  * `spark.sql.shuffle.partitions`; every inter-query hop is files on
  * shared storage (executor-side I/O); the snapshot side defaults to
  * the unbounded durable store (bucketed copy-on-write parquet, join
  * strategy left to the planner) — the in-memory broadcast-hinted
  * store is an opt-in for known-small dimensions; use
  * RocksDBStateStoreProvider for large J2 state. No `collect()`
  * anywhere in the q1→q3 dataflow.
  */
class Pipeline(spark: SparkSession, checkpointRoot: String,
               band: String = "7 days", watermarkDelay: String = "7 days",
               durableDimension: Boolean = true,
               sources: Option[Pipeline.Sources] = None,
               extraShippedSink: Option[(DataFrame, Long) => Unit] = None) {
  import spark.implicits._

  private val tsFmt = "yyyy-MM-dd'T'HH:mm:ss"

  val customersFeed = new ChangeFeed(spark)
  val ordersFeed = new ChangeFeed(spark)
  val shipmentsFeed = new ChangeFeed(spark)

  // the production ingress seam: external feeds (KafkaChangeFeed.df
  // per topic) replace the in-memory ChangeFeeds; the operator graph
  // below is identical either way. When sources are external, the
  // ChangeFeed vals above stay as inert empty streams (step()'s
  // flushes are no-ops on them).
  private val customersIn = sources.map(_.customers).getOrElse(customersFeed.df)
  private val ordersIn = sources.map(_.orders).getOrElse(ordersFeed.df)
  private val shipmentsIn = sources.map(_.shipments).getOrElse(shipmentsFeed.df)

  val customerSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("age", IntegerType)))
  private val orderSchema = StructType(Seq(
    StructField("customer_id", StringType), StructField("order_id", StringType),
    StructField("price", DoubleType), StructField("currency", StringType),
    StructField("ts", StringType)))
  private val shipmentSchema = StructType(Seq(
    StructField("order_id", StringType), StructField("shipment_id", StringType),
    StructField("origin", StringType), StructField("ts", StringType)))
  private val enrichedSchema = StructType(Seq(
    StructField("order_id", StringType), StructField("price", DoubleType),
    StructField("currency", StringType), StructField("customer_id", StringType),
    StructField("customer_name", StringType),
    StructField("customer_age", IntegerType),
    StructField("o_ts", TimestampType)))

  /** customers_by_key materialized state (A3): parquet copy-on-write
    * by default — unbounded, the 100 TB path — with the in-memory
    * store (`durableDimension = false`) as the opt-in small-dimension
    * fast path (identical semantics incl. tombstone key removal).
    * Scale-safe out of the box: a default `new Pipeline(...)` never
    * funnels the dimension through the driver. */
  val customersByKey: DimensionStore = {
    val snapshotSchema =
      StructType(customerSchema.fields :+ StructField("__deleted", StringType))
    if (durableDimension)
      new DurableSnapshotStore(spark, s"$checkpointRoot/stores/customers_by_key",
        snapshotSchema, keyField = "id")
    else new SnapshotStore(snapshotSchema, keys = Seq("id"))
  }

  /** Intermediate "topic": enriched_orders — disk-backed, executor I/O. */
  val enrichedChannel =
    new FileChannel(spark, s"$checkpointRoot/topics/enriched_orders", enrichedSchema)

  /** Final sink keyed by order_id (K2) — durable copy-on-write upserts;
    * within-batch ties resolve by the shipment's Kafka offset (the ES
    * sink keeps the LAST record per key, not a shuffle-order one). */
  val shippedSink =
    new KeyedParquetSink(spark, s"$checkpointRoot/stores/shipped_orders",
      "order_id", orderCol = Some("__s_offset"))

  /** Read view over the sink's current snapshot (tests/demos). */
  object shippedOrders {
    def df: Option[DataFrame] = shippedSink.df
    def values: Seq[ShippedOrder] =
      df.map(_.as[ShippedOrder].collect().toSeq).getOrElse(Nil)
    def get(k: String): Option[ShippedOrder] = values.find(_.order_id == k)
    def size: Long = df.map(_.count()).getOrElse(0L)
  }

  // ---- q1: CREATE TABLE customers_by_key (README.md:434-441) ----
  private val q1: StreamingQuery = {
    // tombstoneKey: a null-value Kafka record (compaction marker kept
    // by drop.tombstones=false) deletes its key from the table, as in
    // ksqlDB
    val unwrapped = DebeziumEnvelope.unwrap(customersIn, col("value"),
      customerSchema, DebeziumEnvelope.Rewrite, passthrough = Seq("offset"),
      tombstoneKey = Some("key" -> "id"))
    val table = LatestByKey.table(unwrapped, "id", "offset",
      Seq("name", "age", "__deleted"))
    LocalCheckpointFileManager.start(spark) {
      table.writeStream
        .outputMode("update")
        .queryName("customers_by_key")
        .option("checkpointLocation", s"$checkpointRoot/customers_by_key")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          customersByKey.upsert(batch, batchId)
        }
        .start()
    }
  }

  // ---- q2: CREATE STREAM enriched_orders (README.md:448-459) ----
  private val q2: StreamingQuery = {
    val orders = ordersIn
      .select(from_json(col("value"), orderSchema).as("o")).select("o.*")
      .withColumn("o_ts", to_timestamp(col("ts"), tsFmt)).drop("ts")
      // poison-record guard: malformed/field-missing JSON parses to
      // nulls, which would kill the typed deserializer and crash-loop
      // the query on checkpoint replay — drop bad records instead
      // (ksqlDB likewise skips deserialization failures)
      .filter(col("order_id").isNotNull && col("customer_id").isNotNull &&
        col("price").isNotNull && col("currency").isNotNull &&
        col("o_ts").isNotNull)
    LocalCheckpointFileManager.start(spark) {
      orders.writeStream
        .queryName("enriched_orders")
        .option("checkpointLocation", s"$checkpointRoot/enriched_orders")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // the snapshot is resolved and joined in one read scope: a
          // concurrent q1 commit must not prune the files it names
          customersByKey.read(spark) { dim =>
            // the in-memory store is broadcast-bounded BY CONTRACT, so
            // the hint is always right there; the durable store is
            // unbounded — let the planner pick broadcast vs sort-merge
            // from the snapshot's actual size (autoBroadcastJoinThreshold),
            // so a dimension that outgrows an executor can't be
            // force-broadcast
            val cust = dim.drop("__deleted")
            val custSide = if (durableDimension) cust.as("c") else broadcast(cust.as("c"))
            val enriched = batch.as("o")
              .join(custSide, col("o.customer_id") === col("c.id"), "left")
              .select(col("o.order_id"), col("o.price"), col("o.currency"),
                col("o.customer_id"), col("c.name").as("customer_name"),
                col("c.age").as("customer_age"), col("o.o_ts"))
            enrichedChannel.write(enriched, batchId)
          }
        }
        .start()
    }
  }

  // ---- q3: CREATE STREAM shipped_orders (README.md:464-480) ----
  private val q3: StreamingQuery = {
    val enriched = enrichedChannel.readStream
      .withWatermark("o_ts", watermarkDelay).as("o")
    val shipments = shipmentsIn
      .select(col("offset").as("__s_offset"),
        from_json(col("value"), shipmentSchema).as("s"))
      .select(col("__s_offset"), col("s.*"))
      .withColumn("s_ts", to_timestamp(col("ts"), tsFmt)).drop("ts")
      .filter(col("order_id").isNotNull && col("shipment_id").isNotNull &&
        col("origin").isNotNull && col("s_ts").isNotNull) // poison guard
      .withWatermark("s_ts", watermarkDelay).as("s")
    val joined = enriched.join(shipments,
      expr(s"""s.order_id = o.order_id AND
               s_ts >= o_ts - INTERVAL $band AND
               s_ts <= o_ts + INTERVAL $band"""), "inner")
      .select(col("o.order_id"), col("s.shipment_id"), col("o.customer_id"),
        col("o.customer_name"), col("o.customer_age"), col("s.origin"),
        col("o.price"), col("o.currency"), col("s.__s_offset"))
    LocalCheckpointFileManager.start(spark) {
      joined.writeStream
        .outputMode("append")
        .queryName("shipped_orders")
        .option("checkpointLocation", s"$checkpointRoot/shipped_orders")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // the production egress seam: mirror each shipped batch into
          // an additional sink (e.g. BulkUpsertSink.forEachBatch — the
          // ES-analog bulk façade) without forking the operator graph.
          // Every sink reads the one persisted batch (the standard
          // foreachBatch multi-sink rule): otherwise the whole join
          // subtree re-executes per read, and a nondeterministic stage
          // could even diverge between sinks.
          batch.persist()
          try {
            shippedSink.upsert(batch, batchId)
            extraShippedSink.foreach(f => f(batch, batchId))
          } finally { batch.unpersist(); () }
        }
        .start()
    }
  }

  /** Query handles by reference stream name — for tests that drive
    * NON-lockstep arrival orders (PipelineConcurrencySpec); the golden
    * specs use [[step]]. */
  def queryHandles: Map[String, StreamingQuery] =
    Map("customers_by_key" -> q1, "enriched_orders" -> q2,
      "shipped_orders" -> q3)

  /** Drain all pending input through the three queries in dataflow
    * order (table update before orders lookup, enrichment before the
    * interval join) — one deterministic "step" for tests/demos. Each
    * feed is flushed only after its upstream query drained, which
    * pins the arrival order the reference demo produces by hand.
    *
    * Without this pinning the contract is ksqlDB's (observed semantics,
    * asserted by PipelineConcurrencySpec): the enrichment is a lookup
    * at PROCESSING time — an order whose micro-batch runs before its
    * customer's CDC insert commits enriches with null customer fields
    * and is NEVER retroactively re-enriched when the customer lands
    * (a stream-table join is not an equi-join over histories). When
    * feeds race (all flushed before any query drains), either outcome
    * is legal per order; what always holds is the delivery invariant —
    * exactly one visible sink row per order key, and once the
    * dimension update is committed every LATER order sees it. */
  def step(): Unit = {
    customersFeed.flush()
    q1.processAllAvailable()
    ordersFeed.flush()
    q2.processAllAvailable()
    shipmentsFeed.flush()
    q3.processAllAvailable()
  }

  def stop(): Unit = Seq(q3, q2, q1).foreach(_.stop())
}

case class EnrichedOrder(order_id: String, price: Double, currency: String,
                         customer_id: String, customer_name: Option[String],
                         customer_age: Option[Int], o_ts: Timestamp)

case class ShippedOrder(order_id: String, shipment_id: String,
                        customer_id: String, customer_name: Option[String],
                        customer_age: Option[Int], origin: String,
                        price: Double, currency: String)

object Pipeline {
  /** External source DataFrames with the ChangeFeed column contract
    * (key string, value string nullable, partition int, offset long,
    * ts timestamp) — pass [[KafkaChangeFeed.df]] per topic and the
    * pipeline runs against real (or [[FakeKafka]] embedded) topics. */
  final case class Sources(customers: DataFrame, orders: DataFrame,
                           shipments: DataFrame)
}
