package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A2/A3: `latest_by_offset` table materialization (reference
  * README.md:434-441) — a changelog stream becomes a keyed TABLE whose
  * row per key is the value at the greatest offset.
  *
  * Streaming form: update-mode `groupBy(key).agg(max_by(struct(values),
  * offset))`. `max_by` is a declarative aggregate with a map-side
  * partial, so each micro-batch shuffles one candidate row per key per
  * map partition — the same per-key state ksqlDB keeps in RocksDB, but
  * with Spark's state store carrying it across batches
  * (`StateStoreSaveExec`; use RocksDBStateStoreProvider at scale).
  */
object LatestByKey {

  def table(df: DataFrame, keyCol: String, offsetCol: String,
            valueCols: Seq[String]): DataFrame =
    df.groupBy(col(keyCol))
      .agg(max_by(struct(valueCols.map(col): _*), col(offsetCol)).as("__latest"))
      .select(col(keyCol) +: valueCols.map(c => col(s"__latest.$c").as(c)): _*)
}

/** A3 + J1's table side: a continuously upserted dimension snapshot,
  * fed per micro-batch by the update-mode table stream and re-read by
  * the enrichment join (lookup-at-processing-time semantics). A
  * `__deleted='true'` row (S2 rewrite mode / Kafka tombstone) removes
  * its key — the ksqlDB tombstone behavior. Two implementations:
  * [[SnapshotStore]] (in-memory, broadcast-dimension-bounded, keyed by
  * a tuple of columns) and [[DurableSnapshotStore]] (parquet
  * copy-on-write, unbounded, keyed by one column). */
trait DimensionStore {
  def upsert(batch: DataFrame, batchId: Long): Unit
  def df(spark: SparkSession): DataFrame
  def size: Long
  /** Runs `body` over the current state; every file that state names
    * stays readable until `body` returns, so `body` may execute its
    * frame while concurrent upserts commit. */
  def read[T](spark: SparkSession)(body: DataFrame => T): T = body(df(spark))
}

/** In-memory dimension snapshot, keyed by the tuple of the `keys`
  * columns' values: two rows share a key only when every key column is
  * equal, nulls included, so a null key and the string "null" stay
  * apart.
  *
  * Scale contract: this store backs the *broadcast side* of the
  * enrichment join, so it is bounded by the same "dimension fits in an
  * executor" assumption a broadcast join makes — and it keeps the
  * offline engine dependency-free. Past that bound, use
  * [[DurableSnapshotStore]].
  */
class SnapshotStore(val schema: StructType, keys: Seq[String],
                    deletedField: String = "__deleted") extends DimensionStore {
  keys.foreach(k => require(schema.fieldNames.contains(k),
    s"key column $k is not a column of (${schema.fieldNames.mkString(", ")})"))

  private val rows = new java.util.concurrent.ConcurrentHashMap[Row, Row]()

  def upsert(batch: DataFrame): Unit = {
    val hasDeleted = batch.schema.fieldNames.contains(deletedField)
    batch.collect().foreach { r =>
      val k = Row.fromSeq(keys.map(f => r.getAs[Any](f)))
      val deleted = hasDeleted && r.getAs[String](deletedField) == "true"
      if (deleted) rows.remove(k)
      else rows.put(k, Row.fromSeq(schema.fieldNames.toSeq.map(f => r.getAs[Any](f))))
    }
  }

  override def upsert(batch: DataFrame, batchId: Long): Unit = upsert(batch)

  /** Current state as a static DataFrame (re-read per micro-batch by
    * the enrichment join — lookup-at-processing-time semantics). */
  override def df(spark: SparkSession): DataFrame = {
    val list = new java.util.ArrayList[Row](rows.values())
    spark.createDataFrame(list, schema)
  }

  override def size: Long = rows.size().toLong
}

/** Unbounded dimension snapshot over [[KeyedParquetSink]]: the 100 TB
  * path, where the dimension no longer fits driver/executor memory.
  * Each micro-batch merges into a new copy-on-write parquet version
  * (executor-side I/O, replay-idempotent); `__deleted='true'` rows
  * delete their key from the visible snapshot. In production this is
  * the Delta/Iceberg-upserted dimension table, and the enrichment join
  * downgrades from broadcast to sort-merge automatically when the
  * snapshot outgrows `autoBroadcastJoinThreshold`.
  */
class DurableSnapshotStore(spark: SparkSession, root: String,
                           val schema: StructType, keyField: String,
                           deletedField: String = "__deleted")
    extends DimensionStore {
  private val sink =
    new KeyedParquetSink(spark, root, keyField, deletedCol = Some(deletedField))

  override def upsert(batch: DataFrame, batchId: Long): Unit =
    sink.upsert(batch, batchId)

  override def df(spark: SparkSession): DataFrame = orEmpty(spark, sink.df)

  override def read[T](spark: SparkSession)(body: DataFrame => T): T =
    sink.withSnapshot(snap => body(orEmpty(spark, snap)))

  private def orEmpty(spark: SparkSession, snap: Option[DataFrame]): DataFrame =
    snap.getOrElse(spark.createDataFrame(new java.util.ArrayList[Row](), schema))

  override def size: Long = sink.df.map(_.count()).getOrElse(0L)
}
