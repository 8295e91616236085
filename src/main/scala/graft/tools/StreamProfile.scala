package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Profiling harness for the streaming fixture fixed cost: runs the
  * named stream_* queries with a listener that dumps
  * each micro-batch's durationMs breakdown (queryPlanning, getBatch,
  * addBatch, walCommit, stateOperators commit times), so the ~2 s/query
  * overhead can be attributed. Not part of the bench contract.
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.sources.Tables.region(spark, sfDir).count()

    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dur = p.durationMs
        val state = p.stateOperators.map { so =>
          s"[op=${so.operatorName} commitMs=${so.commitTimeMs} " +
            s"rows=${so.numRowsTotal} mem=${so.memoryUsedBytes}]"
        }.mkString(" ")
        System.err.println(
          s"[profile] batch=${p.batchId} rows=${p.numInputRows} " +
            s"trigger=${dur.get("triggerExecution")} " +
            s"plan=${dur.get("queryPlanning")} " +
            s"getBatch=${dur.get("getBatch")} " +
            s"latestOffset=${dur.get("latestOffset")} " +
            s"addBatch=${dur.get("addBatch")} " +
            s"walCommit=${dur.get("walCommit")} " +
            s"commitOffsets=${dur.get("commitOffsets")} $state")
      }
    })

    val selected = graft.SparkEntry.queries.toSeq.sortBy(_._1).filter {
      case (n, _) => args.exists(n.contains)
    }
    selected.foreach { case (name, fn) =>
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[profile] $name run$i: $sec%.2f s ($n rows)")
      }
    }
    spark.stop()
  }
}
