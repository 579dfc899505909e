package graft

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // Input split size is the scale knob beside the shuffle width (see
    // GraftSession): a map-side aggregate over a mostly-unique key (q20's
    // (pk,sk)) gets no reduction, so its hash map grows with the SPLIT,
    // not the shuffle width — 128 MB splits of 180M-row lineitem spill
    // ~140 GB at sf30; 32 MB splits fit the map.
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"))
    // Untimed session warmup: JVM/codegen/shuffle-machinery startup is
    // engine-constant cost, not per-query cost — without this the first
    // query in map order absorbs ~3-5s of it. No table data is cached.
    spark.range(1000000L).selectExpr("sum(id % 7)").count()
    spark.read.parquet(s"$sfDir/region.parquet")
      .crossJoin(spark.read.parquet(s"$sfDir/nation.parquet")).count()
    // ... and the MicroBatchExecution machinery (5-row stream, memory sink)
    val warmSchema = spark.read.parquet(s"$sfDir/region.parquet").schema
    val wq = spark.readStream.schema(warmSchema)
      .option("pathGlobFilter", "region.parquet").parquet(sfDir)
      .groupBy("r_regionkey").count()
      .writeStream.format("memory").queryName("graft_bench_warm")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    wq.awaitTermination()
    // Sorted name order: hash-map iteration order shifts whenever the
    // registry grows, which silently reshuffles which query absorbs each
    // first-action codegen cost and breaks round-over-round comparison.
    // Each query reports min-of-REPS executions (default 2): per-query
    // codegen compilation lands on the first execution only, so the min is
    // the steady-state figure — round-over-round diffs then reflect plan
    // changes, not which query happened to pay a warmup. Repeat execution
    // is safe: DeterminismSpec pins every registry query as
    // repeat-idempotent (fixture writers overwrite their own dirs).
    // Host-speed calibration: a fixed CPU+shuffle probe timed (min of 2)
    // and emitted as "calib" in both JSON lines. Round-over-round per-query
    // comparisons were polluted for three rounds by HOST variation — the
    // r10 quiet-box triage showed identical code + harness + data running
    // 35-50% slower than r8's run, uniformly across all 21 untouched TPC-H
    // keys (no plan regression to find). Dividing a round's per-query times
    // by its calib factor separates engine changes from box changes.
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(64L << 20)
        .selectExpr("(id * 2654435761) % 1000003 AS k")
        .groupBy("k").count()
        .selectExpr("sum(k * count)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val calib = math.min(calibOnce(), calibOnce())
    // r11 finding: a START-ONLY probe can over-correct — one run measured
    // calib 2.8x r10's while the 21 untouched TPC-H keys ran only 1.1x,
    // so the probe had hit a transiently slow window the queries didn't.
    // Bracket it: calibEnd re-probes AFTER the full run; comparisons
    // should normalize by min(calib, calibEnd) (the box's best observed
    // speed) and treat a large calib/calibEnd spread as "this round's
    // normalization is unreliable — compare raw shared keys instead".
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    // name → "class: message" of the query's first failure
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Between queries, release session-lifetime residue so a 240-query ×
    // reps run measures each plan, not the accumulated weight of everything
    // before it: localCheckpoint'd fixpoint edges (pagerank, cluster_cc)
    // persist MEMORY_AND_DISK blocks until explicitly unpersisted, and each
    // streaming query's memory sink pins its full result as a temp view.
    // Round 4's driver run showed exactly the signature this causes —
    // monotone slowdown in sorted-name order (late-alphabet tpch_q9 1.4 s →
    // 31.9 s) as storage memory starved execution memory. Untimed.
    def releaseResidue(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.sharedState.cacheManager.clearCache()
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.startsWith("graft_stream_"))
        .foreach(t => spark.catalog.dropTempView(t.name))
    }
    // Scale-probe subset (SPARK_GRAFT_BENCH_ONLY=name1,name2): heavy-tail
    // runs at sf30 re-time only the queries worth the wall-clock.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val results = SparkEntry.queries.toSeq
      .filter { case (k, _) => only.isEmpty || only(k) }
      .sortBy(_._1).map { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case e: Throwable =>
                   val why = s"${e.getClass.getName}: ${e.getMessage}"
                   System.err.println(s"[bench] $name failed: $why")
                   errors(name) = why
                   false
                 }
        val dt = (System.nanoTime() - t0) / 1e9
        // Release on BOTH paths (still untimed): a failed query's
        // leftovers (cached fixpoint RDDs, stream temp views) must not
        // bleed into the timings of every query after it.
        releaseResidue()
        if (ok) dt else -1.0
      }
      val best = (1 to reps).foldLeft(Double.MaxValue) { (acc, _) =>
        if (acc < 0) acc else math.min(acc, once()) // a failure short-circuits
      }
      name -> best
    }
    def toJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // end-of-run bracket of the same probe (see the r11 note above)
    val calibEnd = math.min(calibOnce(), calibOnce())
    val total = results.map(_._2).sum
    val failed = results.collect { case (k, v) if v < 0 => k }
    // Full per-query map: one line the driver's tail window will scroll
    // past, plus a file for local round-over-round diffing. The driver's
    // stdout-tail capture is ~2 KB; a 240-entry map (~7 KB) can never reach
    // its JSON parser, which is why BENCH_r{1..4}.json all carry
    // "parsed": null. So the LAST line — the one the tail retains — is a
    // compact contract line whose "queries" map holds only the headline
    // TPC-H shapes, and the full map travels on this earlier line + file,
    // with each failed query's exception under "errors".
    val errorsJson = errors.map { case (k, v) =>
      Verify.jsonString(k) + ":" + Verify.jsonString(v) }.mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total_full","value":$total,"unit":"sec","calib":$calib,"calib_end":$calibEnd,"queries":${toJson(results)},"errors":$errorsJson,"sf":"$sfDir"}"""
    println(fullLine)
    // Explicit, overridable dump path (CWD depends on how sbt forked us),
    // and a LOUD stderr line on failure — a silently missing dump cost a
    // round of per-query diffing once.
    val dumpPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json"))
    try java.nio.file.Files.writeString(dumpPath, fullLine + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] failed to write $dumpPath: $e")
    }
    val headline = results.filter { case (k, _) => k.startsWith("tpch_q") }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","calib":$calib,"calib_end":$calibEnd,"n_queries":${results.size},"failed":$failedJson,"queries":${toJson(headline)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
