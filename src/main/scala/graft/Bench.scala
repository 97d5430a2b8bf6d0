package graft

import graft.config.GraftConfig

/** Benchmark main: times every registry query on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line for the driver.
  *
  * Each query is fully materialized through the `noop` DataSourceV2
  * sink rather than `count()` — under count Catalyst prunes unused
  * projections, so map-only queries would be measuring row counting
  * instead of their own expressions (VERDICT r1 bench caveat). A short
  * warm-up query runs first so JVM/codegen initialization is not
  * charged to the first timed query.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val cfg = GraftConfig.fromEnv(appName = "graft-bench")
    val spark = cfg.newSession()

    def exec(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, cfg.sfDir).write.format("noop").mode("overwrite").save()

    // warm-up: parquet scan + shuffle + codegen paths, untimed
    SparkEntry.queries.get("q1_agg").foreach { fn =>
      try exec(fn) catch { case _: Throwable => () }
    }

    // host-speed calibration (SURVEY §19.8 #1): a FIXED data-independent
    // workload whose cost depends only on the host's available CPU,
    // never on this repo's code or the SF. 32 tasks × 50M xxhash64
    // each is seconds of sustained all-core compute, so its ratio
    // across rounds models the contention a compute-bound query feels
    // (a probe of ~5 ms tasks measures mostly job scheduling, which
    // inflates faster under contention and over-corrected r15).
    // BASELINE.md records the anchors and the formula.
    import org.apache.spark.sql.functions.{col, sum, xxhash64}
    def calibrateSaturatedOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1600000000L, 1L, 32)
        .select((xxhash64(col("id")) % 1000003L).as("h"))
        .agg(sum("h"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val calibrationSatStart = (1 to 2).map(_ => calibrateSaturatedOnce()).min

    // INTERLEAVED calibration (r19, SURVEY §21.5 #1): a single
    // start-of-run probe cannot correct load that oscillates WITHIN
    // the sweep — same-HEAD full runs spread 70-133 s raw this round
    // with untouched rows moving by the same ratios as touched ones.
    // Every ~50 queries the FULL saturated probe samples the host
    // again (a scaled-down probe is NOT unit-compatible: its ~0.3 s
    // job-launch overhead amplifies under the rescale and
    // over-reports sat 3-4×, measured). The official
    // `calibration_sat_sec` KEEPS its historical definition (start-
    // of-run best-of-2 — every BENCH_r* and BASELINE anchor is in
    // those units); the series and its median ride the JSON as
    // separate fields so a reader can see whether the window held:
    // a median far from the start probe marks the run's normalized
    // total as untrustworthy rather than silently re-normalizing it
    // (the linear formula over-corrects for non-CPU-bound rows when
    // fed mid-sweep contention). Overhead ≈ 4 × probe ≈ 2-4 s on a
    // ~75 s sweep.
    val satSeries = scala.collection.mutable.ArrayBuffer[Double]()

    // Build-once SHARED fixtures, constructed before the sweep and
    // reported as dedicated fixture_* rows (VERDICT r16 #1a): with
    // every shared cache warm, a query's two timed runs both measure
    // the steady-state query — no query's history carries another
    // feature's build cost, and per-query times are independent of
    // registry order (the r11→r12 reshuffle footgun is engineered
    // away rather than guarded by ordering discipline). A fixture
    // failure is fatal like a query failure — its dependents would
    // otherwise silently pay (or fail) the build in-sweep.
    // under SPARK_GRAFT_ONLY (the single-query tuning loop) fixtures
    // are NOT prebuilt: the selected queries build what they lazily
    // need in-query, exactly as before — paying minutes of unrelated
    // vector-index builds to time one schema-op query would defeat
    // the env var's purpose. Official (unfiltered) runs prebuild all.
    val fixtureOutcomes =
      if (sys.env.contains("SPARK_GRAFT_ONLY")) Nil
      else Queries.fixtures.map { case (name, fn) =>
        System.err.println(s"[bench] building $name")
        val t0 = System.nanoTime()
        val r = try { fn(spark, cfg.sfDir); Right((System.nanoTime() - t0) / 1e9) }
        catch {
          case e: Throwable =>
            System.err.println(
              s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
            Left(e.getClass.getSimpleName)
        }
        name -> r
      }
    val fixtureTimes = fixtureOutcomes.collect { case (k, Right(v)) => k -> v }
    val fixtureErrors = fixtureOutcomes.collect { case (k, Left(m)) => k -> m }

    // best of two runs per query: the repeatable time, insulated from
    // one-off host-contention spikes (standard benchmarking practice;
    // both runs execute fully through the noop sink). When the two
    // runs disagree by >2× BOTH may have straddled a contention spike
    // — a third run breaks the tie and the median goes on record
    // (VERDICT r16 #6: cheap insurance for the official history). A
    // failing query must NOT be reported as a (fast) success —
    // swallowing the error would make a broken build look like the
    // fastest run yet — so failures are surfaced in an `errors` map
    // and excluded from times
    def timeOnce(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      exec(fn)
      (System.nanoTime() - t0) / 1e9
    }
    def timeQuery(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val a = timeOnce(fn)
      val b = timeOnce(fn)
      if (math.max(a, b) <= 2.0 * math.min(a, b)) math.min(a, b)
      else Seq(a, b, timeOnce(fn)).sorted.apply(1)
    }
    // REGISTRY order, not Map order: SparkEntry.queries is a HashMap,
    // whose iteration order reshuffles whenever the key set grows.
    // With all shared fixtures prebuilt above this is hygiene rather
    // than a correctness requirement for the history, but a stable
    // sweep order still keeps run-to-run JVM/cache conditions
    // comparable per query.
    val ordered = Queries.registry.map(q => q.name -> q.query)
    // SPARK_GRAFT_ONLY=q1_agg,dedup_clusters restricts the run — the
    // local iteration loop for single-query tuning; unset = full run
    val selected = sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(names) =>
        val keep = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = keep -- SparkEntry.queries.keySet
        if (unknown.nonEmpty) {
          // a typo must not masquerade as a 0-second successful run
          System.err.println(
            s"[bench] unknown query name(s): ${unknown.mkString(", ")}")
          sys.exit(2)
        }
        ordered.filter { case (n, _) => keep(n) }
      case None => ordered
    }
    val outcomes = selected.zipWithIndex.map { case ((name, fn), i) =>
      if (i > 0 && i % 50 == 0) satSeries += calibrateSaturatedOnce()
      // progress marker BEFORE the run (stderr — the driver reads only
      // the stdout metric line): a wedged query is identifiable from
      // the log tail instead of requiring a thread-dump hunt
      System.err.println(s"[bench] running $name")
      val r = try Right(timeQuery(fn))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          Left(e.getClass.getSimpleName)
      }
      // query isolation: localCheckpoint blocks (ANN probe frames,
      // merge sources) are only released when the ContextCleaner sees
      // their RDDs unreachable — across ~100 queries in one JVM the
      // dead blocks accumulate and later queries measure the earlier
      // queries' memory pressure instead of their own plan. One GC per
      // query keeps each measurement a fresh-JVM approximation.
      System.gc()
      name -> r
    }
    satSeries += calibrateSaturatedOnce() // close the window
    val calibrationSat = calibrationSatStart
    val calibrationSatMedian =
      Bench.medianOf(calibrationSatStart +: satSeries.toSeq)
    val results: Map[String, Double] = outcomes.collect { case (k, Right(v)) => k -> v }.toMap
    val errors = fixtureErrors ++ outcomes.collect { case (k, Left(m)) => k -> m }
    // The driver keeps the LAST ~2000 chars of the output line
    // (BENCH_r07's tail starts mid-"queries" and the leading headline
    // block was cut), so ordering inside the JSON is load-bearing and
    // the valuable fields ride at the END: per-query times ascending
    // (slowest entries last, inside the surviving window), then the
    // headline pairs (the wide-vector PQ crossover pair and the queries
    // VERDICT r6 flagged as drifting), then errors and the total.
    val headlineNames = Seq(
      "snap_spj_join", "snap_read_dv_native", "snap_read_evolved_native",
      "sim_wide_ivf_index", "sim_wide_ivfpq_index",
      "sim_topk_ivf_index", "sim_topk_ivfpq_index", "sim_topk_ivf_model",
      "q_rollup", "q_salted_join", "dedup_keep_representatives")
    def fmt(v: Double): String = f"$v%.3f"
    val headline = headlineNames.flatMap(n => results.get(n).map(n -> _))
    val qs = results.toSeq.sortBy(_._2)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val fx = fixtureTimes.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val hl = headline.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, m) => s"\"" + k + "\":\"" + m + "\"" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // fixtures ride EARLY in the line (the driver keeps the tail; the
    // queries/headline/errors/calibration fields are the ones that
    // must survive truncation). total_sec counts QUERIES only —
    // fixture builds are one-time costs a deployment amortizes, and
    // folding them in would re-pollute the cross-round totals the
    // fixture rows exist to clean.
    val satSer = (calibrationSatStart +: satSeries.toSeq)
      .map(fmt).mkString("[", ",", "]")
    val fullLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"sf":"${cfg.sfDir}","fixtures":$fx,"calibration_sat_series":$satSer,"calibration_sat_median":${fmt(calibrationSatMedian)},"queries":$qs,"headline":$hl,"errors":$errs,"calibration_sat_sec":${fmt(calibrationSat)},"total_sec":${fmt(total)}}"""
    println(fullLine)
    // The full line above (~6-10 KB for 172 queries) has NEVER fit the
    // driver's ~2000-char stdout tail capture — `parsed` was null in
    // every BENCH_r01..r19.json, so PERF never carried per-query data
    // (VERDICT r19 item 2). Print a COMPACT digest as the final line,
    // budgeted to survive the tail window intact: all scalar fields,
    // the headline map, and the slowest per-query rows that fit.
    // `"queries_omitted"` marks how many (fast) rows were cut so a
    // reader never mistakes the digest for the full registry; the full
    // line remains authoritative and is also written to bench_full.json.
    // The first two errors ride ahead of the slow rows, so a failing
    // run's tail still names what failed.
    val compactBudget = 1800
    val slowestFirst = results.toSeq.sortBy(-_._2)
    def jsonString(v: String): String =
      "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val firstErrors = errors.toSeq.take(2)
      .map { case (k, m) => jsonString(k) + ":" + jsonString(m.take(120)) }
      .mkString("{", ",", "}")
    def digestHead(omitted: Int): String = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"sf":"${cfg.sfDir}","errors_n":${errors.size},"errors":$firstErrors,"calibration_sat_sec":${fmt(calibrationSat)},"calibration_sat_median":${fmt(calibrationSatMedian)},"headline":$hl,"queries_omitted":$omitted,"queries":"""
    val fixedTail = s""","total_sec":${fmt(total)}}"""
    // sized with the widest count: every row omitted
    val room = compactBudget - digestHead(results.size).length -
      fixedTail.length - 8
    val kept = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    var used = 2 // braces
    for ((k, v) <- slowestFirst) {
      val entry = "\"" + k + "\":" + fmt(v)
      if (used + entry.length + 1 <= room) { kept += ((k, v)); used += entry.length + 1 }
    }
    val keptAsc = kept.sortBy(_._2)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(digestHead(results.size - kept.size) + keptAsc + fixedTail)
    try {
      val out = java.nio.file.Paths.get("bench_full.json")
      java.nio.file.Files.write(out,
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    } catch { case _: java.io.IOException => () }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }

  /** Median (lower-middle for even sizes — conservative: never above
    * the true median, so normalization never inflates the record).
    */
  private[graft] def medianOf(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "medianOf on empty series")
    xs.sorted.apply((xs.size - 1) / 2)
  }
}
