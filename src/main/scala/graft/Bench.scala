package graft
object Bench {
  private def usedHeapMb(): Long = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.util.Sessions.local(cpus)
    // JVM/session warm-up outside the timed region (codegen + scan
    // machinery JIT); queries run in stable name order
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.sources.Tables.region(spark, sfDir).count()

    // Inter-run hygiene, OUTSIDE the timed region (Sessions.sweep).
    // The GC nudge is adaptive — ContextCleaner frees localCheckpoint
    // blocks only after their frames are collected, so when the heap is
    // deep we force a collection rather than letting block-manager
    // memory ratchet across the suite. Explicit unpersist (in sweep)
    // beats leaning on System.gc(): the gc-every-query A/B slowed batch
    // queries ~10% via codegen-class/code-cache churn.
    val gcThresholdMb =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_GC_MB", "8192").toLong
    def sweep(): Unit = {
      graft.util.Sessions.sweep(spark)
      if (usedHeapMb() > gcThresholdMb) System.gc()
    }

    // In-band hardware calibration: q1_pricing_summary standalone,
    // min-of-5, OUTSIDE the suite timings. Cross-round bench ratios
    // divide by this to separate box-speed drift from plan
    // regressions (a ~1.6× hardware skew is otherwise recoverable
    // only from prose; this pins it in the artifact).
    val calibration = (1 to 5).map { _ =>
      sweep()
      val t0 = System.nanoTime()
      SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }.min

    // Second, COMPUTE-BOUND calibration probe: q1 is scan-bound, so it
    // does not track compute-bound box drift — box-to-box episodes
    // have moved compute-heavy fixtures while q1 held steady. This
    // probe is a fixed scan-free arithmetic fold (4M rows x 64-step
    // LCG fold over all cores, zero I/O, deterministic result),
    // min-of-5 like q1; cross-round ratios of compute-heavy queries
    // divide by THIS number.
    val calibrationCpu = (1 to 5).map { _ =>
      sweep()
      val t0 = System.nanoTime()
      spark.range(0, 1L << 22, 1, 32)
        .selectExpr("aggregate(sequence(0, 63), id, " +
          "(acc, x) -> (acc * 48271L + x) % 2147483647L) AS h")
        .selectExpr("sum(h)").collect()
      (System.nanoTime() - t0) / 1e9
    }.min

    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // optional args: run only queries whose name contains any arg
    // (driver passes none → full suite)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      args.isEmpty || args.exists(n.contains)
    }
    // min-of-N per query: a single contended run on a shared box can
    // record 8× the real time (observed); the min of three
    // runs is the contention-immune estimate of the query's cost
    val runsPerQuery =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val escalateRuns = 5
    def median(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // a query failing EVERY run is omitted from the timings map (its
    // name is in `failed`) — recording 0.0 would read as "instant";
    // a query that succeeded at least once reports its min and is NOT
    // in `failed`, so the two lists stay unambiguous
    var maxHeapMb = 0L
    var done = 0
    val escalated = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = selected.flatMap { case (name, fn) =>
      var err: Throwable = null
      def run(): Option[Double] = {
        sweep()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable => err = e; None }
      }
      val first = (1 to runsPerQuery).flatMap(_ => run())
      // Variance guard: the streaming fixtures are micro-batch
      // latency-sensitive to box state — stream_pipeline_golden and
      // stream_interval_left have read 2×+ off on untouched code. When min and
      // median of the first runs diverge >1.5×, escalate to 5 total
      // runs so one noisy run can't dominate the per-query stat; the
      // reported stat stays the MIN over all runs (the contention-
      // immune cross-round comparison number — a median would still
      // carry sustained ambient load), with medians alongside.
      // Escalation gates on the CONFIGURED run count, not the
      // successful-run count: with SPARK_GRAFT_BENCH_RUNS
      // >= 5 the guard is already amortized by the base runs, but a
      // query with FAILED runs must not sneak into escalation off 2
      // samples when the operator asked for more — so the decision is
      // `runsPerQuery < escalateRuns`, and the log line records how
      // many of the base runs actually succeeded.
      val times =
        if (first.size >= 2 && runsPerQuery < escalateRuns &&
            median(first) > first.min * 1.5) {
          escalated += name
          System.err.println(f"[bench] $name%s variance guard: " +
            f"min=${first.min}%.2f median=${median(first)}%.2f " +
            s"(${first.size}/$runsPerQuery runs succeeded) — " +
            s"escalating to $escalateRuns runs")
          first ++ (first.size until escalateRuns).flatMap(_ => run())
        } else first
      maxHeapMb = math.max(maxHeapMb, usedHeapMb())
      done += 1
      if (done % 25 == 0)
        System.err.println(s"[bench] $done/${selected.size} done, " +
          s"heap ${usedHeapMb()} MB (max $maxHeapMb MB)")
      if (times.isEmpty) {
        failed += name
        System.err.println(s"[bench] $name FAILED: ${err.getMessage}")
        None
      } else Some(name -> times)
    }
    // per-query MIN (contention-immune cost estimate, the cross-round
    // comparison stat) AND MEDIAN (so one-off scheduler noise is
    // distinguishable from real regression IN-BAND — a variance
    // cluster is undiagnosable from min alone)
    val qs = results.map { case (k, ts) => s"\"" + k + "\":" + ts.min }
      .mkString("{", ",", "}")
    val qsMedian = results.map { case (k, ts) => s"\"" + k + "\":" + median(ts) }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2.min).sum
    // the full per-query map goes to a FILE: the driver's tail capture
    // truncates one huge stdout line mid-key (BENCH_r07 recovered only
    // 57/143 timings), so stdout carries a short parseable line with a
    // pointer and the complete JSON lands in bench_out.json next to it
    val escalatedJson = escalated.map("\"" + _ + "\"").mkString("[", ",", "]")
    val meta = s""""failed":$failedJson,"runs":$runsPerQuery,""" +
      s""""escalated":$escalatedJson,""" +
      s""""calibration_q1_sec":$calibration,""" +
      s""""calibration_cpu_sec":$calibrationCpu,""" +
      s""""heap_max_mb":$maxHeapMb,"sf":"$sfDir""""
    // cpus-stamped default: the bench may run at two core counts
    // back-to-back, and a fixed filename would let the second run
    // clobber the first run's per-query map. The stdout pointer
    // (queries_file) stays authoritative for whoever consumes it.
    val outFile = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"bench_out_c$cpus.json"))
    // both stats land in the FILE; the stdout line stays short (no
    // per-query maps — the driver's tail capture truncates long lines)
    java.nio.file.Files.write(outFile,
      (s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""queries_median":$qsMedian,$meta}""").getBytes("UTF-8"))
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"queries_file":"${outFile.toAbsolutePath}",$meta}""")
    spark.stop()
  }
}
