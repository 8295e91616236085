package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Retraction-aware changelog output for TABLES (SURVEY.md §2.6):
  * ksqlDB tables emit per-key change
  * records downstream so a consumer — another table, a re-keyed join,
  * an external cache — can maintain its own copy of the state without
  * re-reading it. The engine's update-mode aggregations emit upserts
  * only, which a consumer cannot distinguish from inserts and which
  * carry no deletion signal.
  *
  * [[TableChangelog.of]] turns a keyed-versioned input stream (the
  * ChangeFeed contract: key, monotone offset, value — value `None` is
  * a Kafka tombstone) into a stream of [[TableChangelog.Change]] rows,
  * each carrying the operation (`c`reate / `u`pdate / `d`elete — the
  * Debezium op letters the reference pipeline ships,
  * reference README.md:139-152), the BEFORE and AFTER images, and a
  * dense per-key sequence number. The before-image is what makes the
  * output retraction-aware: a consumer maintaining a derived keyed
  * state (a foreign-key join's index, an aggregate) can subtract the
  * old value without storing the table itself.
  *
  * Spark shape: one `flatMapGroupsWithState` keyed by the table key —
  * the same keyed co-shuffle an update-mode `groupBy(key)` pays, with
  * state = exactly one (offset, value, seq) triple per key (the RocksDB
  * row ksqlDB keeps). Last-write-wins by offset, so replays of an
  * already-applied offset emit nothing — the changelog itself is
  * replay-idempotent, and a downstream [[TableChangelog.latestState]]
  * reconstruction is insensitive to at-least-once delivery.
  */
object TableChangelog {

  /** One table change. `seq` is dense and strictly increasing PER KEY,
    * so a consumer orders a key's changes without any cross-key
    * coordination (cross-key order is meaningless in a keyed table,
    * exactly as across Kafka partitions). Payload types must have
    * value equality (case classes of scalars — no Arrays). */
  case class Change[K, V](key: K, op: String, before: Option[V],
                          after: Option[V], seq: Long)

  /** Per-key state: last applied offset, current value (None after a
    * tombstone), next sequence number. */
  case class KeyState[V](offset: Long, value: Option[V], seq: Long)

  /** Changelog of the table a (key, offset, value) stream materializes.
    * Input rows with `offset` at or below the key's applied offset are
    * dropped (replay / out-of-order duplicates); within a micro-batch a
    * key's rows are applied in offset order, so intra-batch updates
    * emit their intermediate `u` records too — no batch compression,
    * the full changelog. An upsert that repeats the current value
    * advances the key's offset but emits NOTHING: before==after
    * changes carry no information, and the downstream join operators
    * already suppress their own no-ops. */
  def of[K: Encoder: TypeTag, V <: Product: TypeTag](
      in: Dataset[(K, Long, Option[V])]): Dataset[Change[K, V]] = {
    implicit val stateEnc: Encoder[KeyState[V]] = Encoders.product[KeyState[V]]
    implicit val outEnc: Encoder[Change[K, V]] = Encoders.product[Change[K, V]]
    in.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: K, it: Iterator[(K, Long, Option[V])],
         st: GroupState[KeyState[V]]) =>
          var cur = st.getOption.getOrElse(
            KeyState[V](Long.MinValue, None, 0L))
          val out = Seq.newBuilder[Change[K, V]]
          it.toSeq.sortBy(_._2).foreach { case (_, off, v) =>
            if (off > cur.offset) {
              (cur.value, v) match {
                case (None, Some(_)) =>
                  out += Change(key, "c", None, v, cur.seq)
                  cur = KeyState(off, v, cur.seq + 1)
                case (Some(_), Some(_)) if v == cur.value =>
                  // duplicate-value upsert: only the offset advanced —
                  // emit nothing (mirrors the join operators' `now !=
                  // emitted` guard), so downstream consumers never pay
                  // fan-in for a vacuous before==after update
                  cur = KeyState(off, cur.value, cur.seq)
                case (Some(_), Some(_)) =>
                  out += Change(key, "u", cur.value, v, cur.seq)
                  cur = KeyState(off, v, cur.seq + 1)
                case (Some(_), None) =>
                  out += Change(key, "d", cur.value, None, cur.seq)
                  cur = KeyState(off, None, cur.seq + 1)
                case (None, None) => // delete of an absent key: advance
                  cur = KeyState(off, None, cur.seq) // offset, emit nothing
              }
            }
          }
          st.update(cur)
          out.result().iterator
      }
  }

  /** Reconstruct the table a changelog DataFrame (columns key/op/
    * before/after/seq, any key or payload struct) describes: per key
    * the change with the greatest seq wins; a final `d` removes the
    * key. `max_by` map-side-combines, so the shuffle carries one
    * candidate per key per partition — reconstruction costs the same
    * as the latest-by-offset materialization it inverts. */
  def latestState(changes: DataFrame): DataFrame =
    changes.groupBy(col("key"))
      .agg(max_by(struct(col("op"), col("after")), col("seq")).as("__last"))
      .filter(col("__last.op") =!= "d")
      .select(col("key"), col("__last.after").as("after"))
}
