package graft.streaming

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.queries.Catalog

/** Long-suite session hygiene: the bench runs 130+ queries × 3 in ONE
  * JVM, so a query that leaves anything reachable in the session —
  * memory-sink temp views, terminated-query references in the
  * StreamingQueryManager, still-active queries — degrades every query
  * that runs after it (round 6 observed 60× inflation on
  * alphabetically-late queries from exactly this). This spec pins the
  * contract for the streaming query wrappers: after a query function
  * returns, the session is as clean as before it ran. */
class SessionHygieneSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet

  private def checkpoints(): Set[String] =
    scala.util.Using.resource(java.nio.file.Files.list(FiniteStream.scratchRoot))(
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft-sq-")).toSet)

  // one memory-sink query, one foreachBatch query, one sentinel-flush
  // query, the chained golden pipeline, a state-store session merge,
  // a two-leg drain, a snapshot-store drain and a batch-function
  // ingest — the runner shapes
  for (q <- Seq("stream_tumbling_agg", "stream_latest_by_key",
                "stream_tumbling_final", "stream_pipeline_golden",
                "stream_session_final", "stream_heavy_hitters",
                "stream_kmv_distinct", "stream_ivf_ingest"))
    test(s"$q leaves no views, active queries, or terminated refs behind") {
      val viewsBefore = tempViews()
      val ckptsBefore = checkpoints()
      val out = Catalog.queries(q)(spark, sf)
      assert(out.count() > 0)
      assert(spark.streams.active.isEmpty,
        "a streaming query was left running")
      // resetTerminated() ran: the manager pins no stopped queries
      // (each pins its sink and its last progress) across calls
      assert(spark.streams.listListeners.isEmpty,
        "a streaming listener was left registered")
      // resetTerminated() ran: awaitAnyTermination with a tiny timeout
      // returns false (nothing recorded as terminated) instead of
      // returning instantly with a stale terminated query
      assert(!spark.streams.awaitAnyTermination(50L))
      val leaked = tempViews() -- viewsBefore
      assert(leaked.isEmpty, s"temp views leaked: $leaked")
      val leakedCkpts = checkpoints() -- ckptsBefore
      assert(leakedCkpts.isEmpty, s"checkpoints leaked: $leakedCkpts")
      // the returned frame must survive the cleanup (it is detached
      // from the dropped view), and a second evaluation still works
      assert(out.count() > 0)
    }

  test("repeated runs do not grow the catalog") {
    val before = tempViews().size
    (1 to 3).foreach { _ =>
      Catalog.queries("stream_tumbling_agg")(spark, sf).count()
    }
    assert(tempViews().size == before)
  }
}
