package graft
import org.apache.spark.metrics.source.CodegenMetrics

/** Per-round benchmark harness. Methodology (round-1 verdict item 4, round-4
  * verdict item 2, round-8 items 4+7):
  *  - every query executes through a **materializing** noop write — all
  *    result rows are produced and serialized into the sink interface, so a
  *    final ORDER BY is not eliminated the way it is under `count()` and the
  *    timing matches the reference harness, which materializes full Arrow
  *    results (packages/benchmarks/src/system/duckdb_sync_benchmarks.ts).
  *  - an untimed warm-up pass runs a representative multi-way join and a
  *    window query over the actual tables BEFORE any timing, so the first
  *    timed queries don't absorb JVM/codegen warm-up and cold file I/O
  *    (rounds 3 and 4 both showed a phantom "regression" set that was just
  *    whichever join-heavy queries ran first).
  *  - each query is sampled SPARK_GRAFT_SAMPLES times (default 3, like
  *    buffalo-bench's multi-cycle runs) and the **min** is reported (see
  *    the sampling comment below — co-tenant noise is additive). Queries
  *    whose first sample exceeds 10 s take that single sample — the same
  *    early-break scripts/bench_duck.py applies, so both sides of the ratio
  *    use the same estimator on heavy queries.
  *  - per-query sample SPREAD (max-min over the samples actually taken) is
  *    emitted alongside the minima, so measurement noise is visible in the
  *    artifact instead of reading as regression.
  *  - EPHEMERAL pins (intra-query collapse barriers) are cleared between
  *    queries, outside the timed window. SHARED stages (the per-dir LSH
  *    signature/candidate-pair memo, [[graft.pipeline.Pins]]) stay warm
  *    across queries — the production harness posture — and every query
  *    whose reported minimum can reflect a warm shared stage (built by an
  *    earlier query, or by an earlier SAMPLE of the query itself) is
  *    listed in the artifact's "warm" array, so warm-path minima are never
  *    mistaken for cold-path cost (round-8 item 7).
  *  - SHARED stages are PREBUILT before the timed sweep (round 16,
  *    [[graft.pipeline.SharedStages]]) and charged to the "stage_build"
  *    field, so warm per-query minima are order-independent — which
  *    family member runs first no longer decides who pays the build
  *    (the r14 p07 / r15 p47 false warm regressions).
  * Emits ONE JSON line with the load-bearing dicts LAST:
  * {"metric":"total","unit":"sec","sf":...,"samples":k,
  *  "stage_build":{kind:sec,...},"warm":[...],
  *  "queries_cold":{warm-query:cold-sec,...},"value_cold":total,
  *  "resampled":{mover:fresh-sec,...},
  *  "spread":{name:sec,...},"queries":{name:sec,...},"value":total}.
  * "resampled" records the contaminated-sweep defense ([[reconcile]]): any
  * query the previous-round comparison would flag as a REGRESSION mover is
  * re-sampled once after the sweep and the minimum absorbs the fresh
  * sample, so one co-tenant-loaded sample (round 10: q24/q25 latched at
  * the 10 s early-break, 14 false movers) can no longer masquerade as a
  * regression in either artifact.
  * "queries_cold" holds ONE pins-dropped re-run per warm-listed query
  * (shared-stage rebuild included) and "value_cold" is the suite total
  * with warm minima replaced by those cold samples — the symmetric
  * counterpart to bench_duck.py, which recomputes every intermediate
  * per query (round-9 advice).
  * Field order matters: the driver keeps only the TAIL of long output, so
  * the per-query minima ("queries") and the total ("value") must come after
  * the diagnostic fields — round 5's artifact had the order reversed
  * and the truncated file preserved only noise spreads. The SAME line is
  * additionally written in full to `SPARK_GRAFT_BENCH_OUT` (default
  * `BENCH_FULL.json`, committed per round); that write FAILS LOUDLY (after
  * attempting a tmpdir fallback) because a silently-missing artifact costs
  * the round its primary perf evidence (round-7 verdict).
  *
  * Regression instrument (round-8 item 4): if a previous round's artifact
  * is present (newest `BENCH_FULL_r*.json` in the working directory, or
  * `SPARK_GRAFT_BENCH_PREV`), a per-query delta artifact is written to
  * `BENCH_DELTA.json`: ratio current/previous for every query both runs
  * measured, flagging movers whose |delta| exceeds BOTH runs' spreads and
  * whose ratio leaves [1/1.5, 1.5]. Same-instrument comparison only —
  * this exists so round-over-round claims stop mixing driver-tail and
  * isolated runs.
  */
object Bench {
  private val HeavyCutoffSec = 10.0 // matches scripts/bench_duck.py

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val samples = sys.env.getOrElse("SPARK_GRAFT_SAMPLES", "3").toInt.max(1)
    val spark = graft.session.SessionDefaults.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // query → exception class and first message line of its last failed run
    val failures = scala.collection.mutable.TreeMap.empty[String, String]
    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      val ok =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable =>
          val why = graft.pipeline.SharedStages.failureLine(e)
          System.err.println(s"[bench] $name failed: $why")
          failures(name) = why
          false
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // outside the timed window: releasing another query's pinned caches
      // is harness work, not query work. Shared stages deliberately stay.
      graft.pipeline.Pins.releaseEphemeral(spark)
      if (ok) elapsed else -1.0
    }

    // Untimed warm-up: exercise the code paths the timed queries use —
    // whole-stage codegen JIT, shuffle machinery, broadcast exchange,
    // window exec, and the parquet footers/page cache of the big tables.
    // A trivial range-sum (the old warm-up) warms none of the join path,
    // which is why the first join-heavy queries looked "regressed" in
    // rounds 3 and 4.
    try {
      import org.apache.spark.sql.functions._
      val li = Tables.load(spark, sfDir, "lineitem")
      val ord = Tables.load(spark, sfDir, "orders")
      val cust = Tables.load(spark, sfDir, "customer")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .groupBy(cust("c_custkey")).agg(sum(li("l_quantity")).as("q"))
        .write.format("noop").mode("overwrite").save()
      import org.apache.spark.sql.expressions.Window
      ord.withColumn("rk",
          row_number().over(Window.partitionBy("o_custkey").orderBy("o_orderkey")))
        .filter(col("rk") <= 2)
        .write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up failed (continuing): ${e.getMessage}")
    }
    spark.catalog.clearCache()

    // optional comma-separated prefix filter for local iteration
    // (driver never sets it → full suite)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    if (names.isEmpty) {
      println(s"""{"metric":"total","unit":"sec","sf":"$sfDir","samples":$samples,"warm":[],"spread":{},"queries":{},"value":0.0}""")
      spark.stop()
      return
    }

    // Shared-stage prebuild (round 16): materialize every Pins.shared
    // stage ONCE before the timed sweep, charged to the separate
    // "stage_build" artifact field — warm per-query minima no longer
    // depend on suite order (r14 p07 / r15 p47: the first consumer of a
    // shared stage paid its build inside the timed window, and the heavy
    // early-break latched the build-inflated sample as the committed
    // number while the cold pair improved). Consumers now measure warm
    // by construction; the cold-equivalent pass below still charges the
    // per-query stage rebuild for symmetry with bench_duck. Skipped on
    // filtered (local-iteration) runs, where prebuilding unconsumed
    // stages would dominate the wall clock.
    val stageBuild: Seq[(String, Double)] =
      if (only.nonEmpty) Nil
      else graft.pipeline.SharedStages.prebuild(spark, sfDir)
    // the prebuild was "query zero": mark its keys seen so every sweep
    // consumer registers as warm (true by construction), then clear the
    // per-query hit tracking
    graft.pipeline.Pins.releaseEphemeral(spark)
    graft.pipeline.Pins.resetWarmTracking(spark)

    // Host-health control names (round-13: the r12 host-window proof was
    // a manual checkout-r10-and-re-run experiment). The health ratio is
    // computed AFTER the sweep from the sweep's OWN minima of these
    // queries vs the previous same-sf artifact; a separate early control
    // run carries a cold-start bias (first cut measured controls at
    // 1.86× right after warm-up while the same queries read 1.05× inside
    // the sweep — a false "unhealthy" that suppressed real signal).
    // A window outside [1/1.4, 1.4] suppresses mover analysis — movers
    // measured through a co-tenant-loaded or otherwise shifted window are
    // noise, not signal (the r12 sf1 "8 movers" were exactly this).
    val prevArt = loadPrev(sfDir)
    val controlNames = Seq("q01", "q24", "q84")
      .flatMap(p => names.find(_.startsWith(p)))

    val warmQueries = Seq.newBuilder[String]
    // Janino compiles over the timed sweep: classes Spark's generated-class
    // cache did not hold (the first sample of a query compiles its classes;
    // later samples find them unless the cache evicted them)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val results = names.map { name =>
      // Early-break on heavy queries (first clean sample > 10 s): compute-
      // dominated runs don't need repeat sampling, and the break mirrors
      // bench_duck.py so min-over-k is taken over the SAME k on both sides.
      // Round-13 latch defense: when the PREVIOUS round measured this
      // query comfortably under the cutoff, a first sample crossing it is
      // far more likely a cold/loaded sample than a real 2× jump — keep
      // sampling instead of latching the outlier as the single
      // measurement (the r10 q24/q25 false movers and the r13 q68 "10.05 s"
      // — actually 4.5 s, proven by a checkout control — were all this).
      graft.pipeline.Pins.resetWarmTracking(spark)
      val prevTime = prevArt.flatMap(_._2.get(name)).filter(_ > 0)
      val knownLight = prevTime.exists(_ < HeavyCutoffSec * 0.7)
      // Known-HEAVY rows (previous artifact ≥ cutoff) always take ≥2
      // samples before the early-break may fire: a single sample above
      // the break is indistinguishable from a co-tenant burst, and it
      // gets committed as the round's number (r14: p08 recorded 64.5 s
      // where a same-day sweep of identical code measured 19.3 —
      // min-of-2 absorbs the burst at the cost of one extra run).
      val minSamples = heavyMinSamples(prevTime, samples)
      val times = Seq.newBuilder[Double]
      var taken = 0
      var break_ = false
      while (taken < samples && !break_) {
        val t = runOnce(name)
        times += t
        taken += 1
        if (t >= HeavyCutoffSec && !knownLight && taken >= minSamples)
          break_ = true
      }
      if (graft.pipeline.Pins.warmKeys(spark).nonEmpty) warmQueries += name
      val ok = times.result().filter(_ >= 0)
      // Min over samples, not median: on a shared box, co-tenant load / GC
      // pauses are strictly ADDITIVE noise, so the smallest observation is
      // the least-contaminated estimate of the query's true cost (r1 + r2
      // driver runs both recorded 3–14× inflation on hot queries vs an
      // isolated re-run; the min is robust to one loaded sample, the
      // median is not when two of three samples land under load).
      val best = if (ok.isEmpty) -1.0 else ok.min
      val spread = if (ok.size < 2) 0.0 else ok.max - ok.min
      (name, best, spread)
    }
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    // Cold-equivalent pass (round-9 advice: warm-stage symmetry). The
    // headline minima let shared LSH stages stay warm across queries —
    // the production posture — while bench_duck.py recomputes every
    // intermediate per query. For each query that rode a warm shared
    // stage, take ONE extra sample with ALL pins dropped first, so a
    // cold-equivalent per-query time (stage rebuild included) exists in
    // the artifact and the sf ratios can be read symmetrically.
    val warmList = warmQueries.result()
    val coldTimes: Map[String, Double] = warmList.map { name =>
      graft.pipeline.Pins.releaseAll(spark)
      name -> runOnce(name)
    }.toMap
    graft.pipeline.Pins.releaseAll(spark)
    // Self-defense against contaminated sweeps (round-10: a co-tenant-
    // loaded driver run latched q24/q25 at the 10 s early-break and
    // produced 14 false movers — the third diagnosis cycle lost to one
    // loaded sample). Any query the delta comparison WOULD flag as a
    // regression mover gets ONE fresh in-process re-sample before the
    // artifact is written; the reported minimum absorbs it. Co-tenant
    // noise is additive, so a clean re-sample clears a false mover, while
    // a true regression reproduces and stays flagged. Improvement movers
    // are never re-sampled (additive noise cannot fake an improvement).
    val controlTimes: Seq[(String, Double)] =
      controlNames.map(n => n -> results.find(_._1 == n).map(_._2).getOrElse(-1.0))
    val hostHealth: Option[Double] = prevArt.flatMap { case (_, prevQ, _) =>
      val ratios = controlTimes.flatMap { case (n, t) =>
        prevQ.get(n).filter(p => p > 0 && t > 0).map(t / _)
      }
      if (ratios.isEmpty) None
      else Some(math.exp(ratios.map(math.log).sum / ratios.size))
    }
    val healthy = hostHealth.forall(h => h <= 1.4 && h >= 1.0 / 1.4)
    if (!healthy) System.err.println(
      s"[bench] HOST WINDOW SUSPECT: control ratio ${hostHealth.get} vs " +
        s"${prevArt.map(_._1).getOrElse("?")} — mover analysis suppressed")
    // mover re-sampling only makes sense through a healthy host window —
    // under a shifted window every query reads as a mover and the defense
    // would burn a full extra sweep chasing noise
    val (reconciled, resampledMap0) = reconcile(
      results,
      if (healthy) prevArt.map { case (_, q, s) => (q, s) } else None,
      runOnce)
    // Heavy-row burst defense (round 17, r16 verdict task 6): a co-tenant
    // burst spanning BOTH of a heavy row's back-to-back min-of-2 samples
    // commits an inflated number with a TINY spread — and a large
    // previous-round spread then keeps the mover predicate quiet, so the
    // round-10 resample defense never fires (p08: 19.3/64.5/19.0/31.8
    // across four rounds on an unchanged plan; the r16 quiet-window trio
    // read 20.9 while the sweep committed 31.8 with spread 0.2). Each
    // known-heavy row whose committed min exceeds 1.4× its previous
    // committed number takes ONE more sample HERE — separated from its
    // original samples by the remainder of the sweep, so a burst must
    // span the whole suite to survive. Shared stages are re-warmed first
    // when a candidate rode them warm (the late sample re-verifies the
    // WARM number, it must not pay a cold rebuild). Min-folded; recorded
    // in the artifact's "resampled" field like the mover resamples.
    val burstList =
      if (!healthy) Nil
      else burstCandidates(reconciled,
        prevArt.map(_._2).getOrElse(Map.empty), resampledMap0.keySet)
    if (burstList.exists(warmList.contains) && only.isEmpty) {
      graft.pipeline.SharedStages.prebuild(spark, sfDir)
      graft.pipeline.Pins.releaseEphemeral(spark)
    }
    val burstFresh = burstList.map(n => n -> runOnce(n)).toMap
    val finalResults = reconciled.map { case (name, t, s) =>
      burstFresh.get(name).filter(r => r >= 0 && r < t)
        .map(r => (name, r, s)).getOrElse((name, t, s))
    }
    val resampledMap = resampledMap0 ++ burstFresh
    // ms precision everywhere: sub-ms digits are pure noise at these
    // runtimes, and the shorter line lets the driver's bounded tail window
    // keep ~3× more per-query entries.
    def ms(v: Double): Double =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    def fmt(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")
    val total = finalResults.map(_._2).filter(_ >= 0).sum
    // warm minima replaced by their cold re-run (failed cold re-runs keep
    // the warm number rather than dropping the query from the total)
    val totalCold = finalResults.map { case (name, t, _) =>
      coldTimes.get(name).filter(_ >= 0).getOrElse(t)
    }.filter(_ >= 0).sum
    // Per-query plan fingerprint (round-14, r13 verdict task 8): md5 of
    // the canonicalized optimized logical plan — machine evidence for
    // mover adjudication. A mover whose fingerprint is unchanged since
    // the previous artifact cannot be a code-change regression (the
    // r13 q105/p74 adjudications established this manually via rewritten-
    // SQL md5; the plan hash subsumes it and covers DataFrame-built
    // queries too). Computed AFTER the timed sweep — plan building runs
    // analysis+optimization only, nothing executes.
    val planMd5: Seq[(String, String)] = names.flatMap { name =>
      scala.util.Try {
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.optimizedPlan.canonicalized.toString
        name -> planFingerprint(plan)
      }.toOption
    }
    val qs = fmt(finalResults.map(r => (r._1, r._2)))
    val sp = fmt(finalResults.map(r => (r._1, r._3)))
    val qc = fmt(coldTimes.toSeq.sortBy(_._1))
    val pl = planMd5.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val rs = fmt(resampledMap.toSeq.sortBy(_._1))
    val warm = warmList.map("\"" + _ + "\"").mkString("[", ",", "]")
    val hh = hostHealth match {
      case Some(h) =>
        s""""host_health":{"controls":${fmt(controlTimes)},"ratio":${ms(h)},"healthy":$healthy},"""
      case None => // no previous same-sf artifact: controls recorded, no ratio
        s""""host_health":{"controls":${fmt(controlTimes)}},"""
    }
    val sb = fmt(stageBuild)
    val fl = failures.map { case (k, v) => "\"" + k + "\":" + Verify.jsonString(v) }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","unit":"sec","sf":"$sfDir","samples":$samples,$hh"stage_build":$sb,"warm":$warm,"queries_cold":$qc,"value_cold":${ms(totalCold)},"resampled":$rs,"plans":$pl,"spread":$sp,"codegen_compiles":$compiles,"failures":$fl,"queries":$qs,"value":${ms(total)}}"""
    println(line)
    writeArtifact(line)
    // a SPARK_GRAFT_ONLY-filtered run is a smoke/iteration run: its delta
    // is meaningless (n_compared = the filter size) and it CLOBBERS the
    // committed round delta — this guard closed a second clobber class
    // after BENCH_OUT discipline closed the artifact one (round 13)
    if (only.isEmpty)
      writeDelta(sfDir, finalResults.map(r => (r._1, r._2, r._3)), ms,
        resampled = resampledMap, hostHealth = hostHealth,
        curPlans = planMd5.toMap, curCold = coldTimes)
    spark.stop()
  }

  /** Fingerprint text for a canonicalized plan string. Canonicalization
    * normalizes the LOGICAL tree's exprIds, but an InMemoryRelation node
    * embeds its cached PHYSICAL plan verbatim — whose exprIds and plan_ids
    * depend on how many plans the session built before the cache
    * materialized. The round-16 prebuild moved every shared-stage build
    * to "query zero", shifting those embedded ids and flagging p74
    * plan_changed=true on a byte-identical plan STRUCTURE (round-17
    * adjudication: the pre/post plans diff ONLY in `#NNN` and
    * `plan_id=NNN`). Strip both id families before hashing so the
    * fingerprint tracks plan shape, not session history. */
  private[graft] def planFingerprint(plan: String): String = {
    val normalized = plan
      .replaceAll("#\\d+L?", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
    java.security.MessageDigest.getInstance("MD5")
      .digest(normalized.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Sample floor before the heavy-row early-break may fire: a row the
    * previous same-sf artifact already measured at/above the cutoff takes
    * at least two samples (capped by the configured sample count), so one
    * burst sample can never be the committed number (r14 p08). Unknown or
    * known-light rows keep the single-sample break. */
  private[graft] def heavyMinSamples(prevSec: Option[Double],
      samples: Int): Int =
    if (prevSec.exists(_ >= HeavyCutoffSec)) math.min(2, samples) else 1

  /** Burst-watch trigger (round 17): known-heavy rows (previous committed
    * number ≥ cutoff) whose committed min this sweep exceeds
    * [[BurstRatio]]× the previous number, and that the mover reconcile
    * did not already re-sample. Deliberately IGNORES the spread-based
    * noise guard — the r16 p08 burst had spread 0.2 (both samples inside
    * one burst) and a 12.9 s previous spread that silenced the mover
    * predicate. */
  private[graft] val BurstRatio = 1.4
  private[graft] def burstCandidates(results: Seq[(String, Double, Double)],
      prevQ: Map[String, Double], already: Set[String]): Seq[String] =
    results.collect { case (name, t, _)
        if t > 0 && !already(name) && prevQ.get(name)
          .exists(p => p >= HeavyCutoffSec && t > BurstRatio * p) =>
      name
    }

  /** Two-sided mover predicate shared by the delta artifact and the
    * resampling defense: ratio leaves [1/1.5, 1.5] AND the absolute delta
    * exceeds both runs' observed spreads (noise can't read as movement). */
  private[graft] def isMover(t: Double, p: Double, noise: Double): Boolean =
    (t / p > 1.5 || t / p < 1.0 / 1.5) && math.abs(t - p) > noise

  /** Re-sample would-be REGRESSION movers once and fold the fresh sample
    * into the minimum. The discarded latch is recorded ONLY in the
    * "resampled" field; the reported spread stays the observed spread of
    * the retained samples (round-12 — folding `t − r` into the spread
    * inflated next round's noise floor to latch size, silently masking a
    * genuine regression of the same query). Returns the corrected results
    * and the {query → fresh-sample} map for the artifact's "resampled"
    * field.
    *
    * Round-13 (r12 verdict): IMPROVEMENT movers whose PREVIOUS sample
    * carries the latch signature (previous spread ≥ previous minimum —
    * one loaded sample dominated that min) also get one fresh sample.
    * The re-sample cannot re-verify the previous number, but two
    * independent fast samples this round make the improvement credible
    * instead of annotation-only; the fresh value flows into the delta
    * entry as "verify" next to "prev_suspect". Ordinary improvements are
    * still never re-sampled (additive noise cannot fake one). A failed
    * re-sample (-1) changes nothing. */
  private[graft] def reconcile(results: Seq[(String, Double, Double)],
      prev: Option[(Map[String, Double], Map[String, Double])],
      resample: String => Double)
      : (Seq[(String, Double, Double)], Map[String, Double]) = prev match {
    case None => (results, Map.empty)
    case Some((prevQ, prevS)) =>
      val fresh = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val corrected = results.map { case (name, t, spread) =>
        val noise = math.max(spread, prevS.getOrElse(name, 0.0))
        val regressed = prevQ.get(name).exists(p => p > 0 && t > 0 && t > p &&
          isMover(t, p, noise))
        val suspectImprovement = prevQ.get(name).exists(p =>
          p > 0 && t > 0 && t < p && (t / p < 1.0 / 1.5) &&
            prevS.getOrElse(name, 0.0) >= p)
        if (!regressed && !suspectImprovement) (name, t, spread)
        else {
          val r = resample(name)
          fresh(name) = r
          if (r >= 0 && r < t) (name, r, spread)
          else (name, t, spread)
        }
      }
      (corrected, fresh.toMap)
  }

  /** Previous same-sf artifact: SPARK_GRAFT_BENCH_PREV, else the newest
    * committed BENCH_FULL_r*.json in the working directory (never the
    * file this run is about to write). Returns (path, queries, spread). */
  private[graft] def loadPrev(sfDir: String, prevOverride: Option[String] = None,
      searchDir: String = ".")
      : Option[(String, Map[String, Double], Map[String, Double])] = {
    val selfName = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")).getName
    val prevPath = prevOverride.orElse(sys.env.get("SPARK_GRAFT_BENCH_PREV")).orElse {
      val dir = new java.io.File(searchDir)
      Option(dir.listFiles()).toSeq.flatten
        .filter(f => f.getName.matches("BENCH_FULL_r\\d+(_[^.]*)?\\.json"))
        .filter(_.getName != selfName)
        .filter(f => scala.util.Try(
          java.nio.file.Files.readString(f.toPath)).toOption
          .exists(_.contains("\"sf\":\"" + sfDir + "\"")))
        // numeric round order — lexicographic name order silently picks a
        // stale baseline once round numbers stop being uniformly padded
        // (r9 vs r10, or r99 vs r100)
        .sortBy { f =>
          val n = "_r(\\d+)".r.findFirstMatchIn(f.getName)
            .map(_.group(1).toInt).getOrElse(-1)
          (n, f.getName)
        }.lastOption.map(_.getPath)
    }
    prevPath.flatMap { pp =>
      scala.util.Try {
        val prevJson = java.nio.file.Files.readString(java.nio.file.Paths.get(pp))
        (pp, parseDict(prevJson, "queries"), parseDict(prevJson, "spread"))
      }.toOption
    }
  }

  /** The full line goes to a committed repo file (the driver keeps only a
    * bounded TAIL of stdout). A missing artifact silently costs the round
    * its perf evidence, so: primary path, then tmpdir fallback, then
    * THROW. */
  private def writeArtifact(line: String): Unit = {
    // a FILTERED run (SPARK_GRAFT_ONLY) must never clobber the committed
    // full-sweep artifact — round 13 protected the delta file, but a
    // 3-query smoke run still overwrote BENCH_FULL.json (it had to be
    // git-restored twice, rounds 12 and 14). Filtered runs without an
    // explicit SPARK_GRAFT_BENCH_OUT land in the tmpdir.
    val default =
      if (sys.env.contains("SPARK_GRAFT_ONLY"))
        java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"), "BENCH_FULL_filtered.json").toString
      else "BENCH_FULL.json"
    val primary = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", default)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(primary), line + "\n")
    catch { case e: Throwable =>
      val fallback = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "BENCH_FULL.json")
      System.err.println(
        s"[bench] could not write $primary (${e.getMessage}); trying $fallback")
      java.nio.file.Files.writeString(fallback, line + "\n") // throws loudly
    }
  }

  /** Parse the flat {"name":num,...} dicts of our own artifact format. */
  private def parseDict(json: String, field: String): Map[String, Double] = {
    val m = ("\"" + field + "\"\\s*:\\s*\\{([^}]*)\\}").r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse(return Map.empty)
    "\"([^\"]+)\"\\s*:\\s*(-?[0-9.eE+]+)".r.findAllMatchIn(m)
      .map(g => g.group(1) -> g.group(2).toDouble).toMap
  }

  /** Parse the flat {"name":"str",...} dicts (the "plans" field). */
  private def parseStrDict(json: String, field: String): Map[String, String] = {
    val m = ("\"" + field + "\"\\s*:\\s*\\{([^}]*)\\}").r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse(return Map.empty)
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(m)
      .map(g => g.group(1) -> g.group(2)).toMap
  }

  /** Same-instrument round-over-round comparison: previous artifact from
    * SPARK_GRAFT_BENCH_PREV or the newest committed BENCH_FULL_r*.json for
    * the same sf dir. Movers = ratio outside [1/1.5, 1.5] AND |delta|
    * above both runs' spreads (noise can't read as regression).
    * `prevOverride`/`outPath` exist for the spec (BenchDeltaSpec) — the
    * main flow passes neither. */
  private[graft] def writeDelta(sfDir: String,
      cur: Seq[(String, Double, Double)], ms: Double => Double,
      prevOverride: Option[String] = None,
      outPath: String = "BENCH_DELTA.json",
      resampled: Map[String, Double] = Map.empty,
      hostHealth: Option[Double] = None,
      curPlans: Map[String, String] = Map.empty,
      curCold: Map[String, Double] = Map.empty): Unit = {
    loadPrev(sfDir, prevOverride).foreach { case (pp, prevQ, prevS) =>
      try {
        // Round-14 (r13 verdict task 8): machine-readable adjudication
        // evidence per mover — the plan fingerprint comparison and the
        // cold/warm pair, so a latch/rider is distinguishable from a real
        // regression without the manual prose of BENCH_SF1.md.
        val prevJson = scala.util.Try(java.nio.file.Files.readString(
          java.nio.file.Paths.get(pp))).getOrElse("")
        val prevPlans = parseStrDict(prevJson, "plans")
        val prevCold = parseDict(prevJson, "queries_cold")
        // Host-window gate (round-13): when the control-query ratio says
        // this run's host window differs from the previous artifact's,
        // per-query mover flags are NOISE — suppress them all and stamp
        // the artifact, instead of handing the next round 8 phantom
        // movers to chase (the r12 sf1 re-measure).
        val healthy = hostHealth.forall(h => h <= 1.4 && h >= 1.0 / 1.4)
        // the mover flag is computed ONCE per entry and n_movers derived
        // from the same list — a second copy of the predicate (round-9
        // advice) let a failed query (t = -1) count as a mover while being
        // absent from the deltas dict, so the artifact disagreed with
        // itself
        val entries = cur.flatMap { case (name, t, spread) =>
          prevQ.get(name).filter(p => p > 0 && t > 0).map { p =>
            val noise = math.max(spread, prevS.getOrElse(name, 0.0))
            (name, p, t, t / p, healthy && isMover(t, p, noise))
          }
        }
        val movers = entries.count(_._5)
        val deltas = entries.map { case (name, p, t, ratio, mover) =>
          // one-sided-defense closure (round-12): reconcile re-samples
          // REGRESSION movers, but a latched sample in the PREVIOUS
          // round's artifact reads as a big improvement this round with
          // nothing re-verifying it. The latch signature is a recorded
          // previous spread at least as large as the previous minimum
          // (one sample dominated the min). Not conditioned on the mover
          // flag: the latch-sized prev spread inflates the noise floor
          // and SUPPRESSES the flag — which is itself the defect being
          // annotated. Round-13: reconcile now takes one fresh sample for
          // these rows; it lands here as "verify" — a second independent
          // fast sample behind the improvement claim.
          val suspect = ratio < 1.0 / 1.5 && prevS.getOrElse(name, 0.0) >= p
          val verify = if (suspect) resampled.get(name)
            .map(r => s""","verify":${ms(r)}""").getOrElse("") else ""
          // adjudication evidence rides on MOVER rows only (delta stays
          // compact): plan_changed = the canonicalized-optimized-plan
          // fingerprint moved since the previous artifact (absent when
          // either side predates the field); the cold/warm pair makes a
          // shared-stage rider visible (warm moved, cold didn't)
          val evidence = if (!mover && !suspect) "" else {
            val pc = (curPlans.get(name), prevPlans.get(name)) match {
              case (Some(c), Some(pv)) => s""","plan_changed":${c != pv}"""
              case _ => ""
            }
            val cc = curCold.get(name).filter(_ >= 0)
              .map(c => s""","cur_cold":${ms(c)}""").getOrElse("")
            val pcold = prevCold.get(name).filter(_ >= 0)
              .map(c => s""","prev_cold":${ms(c)}""").getOrElse("")
            pc + cc + pcold
          }
          s""""$name":{"prev":${ms(p)},"cur":${ms(t)},"ratio":${ms(ratio)},"mover":$mover${if (suspect) ",\"prev_suspect\":true" else ""}$verify$evidence}"""
        }
        val hh = hostHealth.map(h =>
          s""""host_health":${ms(h)},"host_unhealthy":${!healthy},""").getOrElse("")
        val json = s"""{"prev_artifact":"$pp","sf":"$sfDir",$hh"n_compared":${entries.size},"n_movers":$movers,"deltas":{${deltas.mkString(",")}}}"""
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outPath), json + "\n")
        System.err.println(s"[bench] delta vs $pp: ${entries.size} compared, $movers mover(s)" +
          (if (!healthy) " [HOST WINDOW SUSPECT — movers suppressed]" else ""))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] delta against $pp failed: ${e.getMessage}")
      }
    }
  }
}
