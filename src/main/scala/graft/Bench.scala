package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Per-round benchmark: times every SparkEntry query at the driver's SF.
  *
  * Each query is forced through the `noop` datasource (not `count()`):
  * noop consumes every row and every column downstream of the plan, so
  * Catalyst cannot prune away expression-heavy projections the way it can
  * under a count-only terminal — the timing covers the real work.
  *
  * Noise control (r4 verdict item: the driver's BENCH_r04 ran ~40% hot
  * vs the same code on idle hardware):
  *   1. every query runs at least twice and the reported time is the
  *      min; a query whose two FASTEST times still disagree by >30%
  *      re-runs (up to SPARK_GRAFT_BENCH_MAX_RUNS, default 4) until the
  *      min is corroborated — bursty load costs extra runs only where
  *      it actually hit, idle runs pay nothing;
  *   2. a fixed full-width CPU probe is timed before and after the
  *      sweep and recorded as probe_sec/probe_post_sec — sustained
  *      external load shows up there, so an inflated round artifact is
  *      distinguishable from a real regression without local
  *      re-measurement (BASELINE.md pins the idle probe value);
  *   3. (rev 8) every min is also checked against the PREVIOUS round's
  *      committed artifact (BENCH_PRIOR.json) — a >2x jump on a
  *      methodology-identical rerun earns one sweep-end recheck, and
  *      anything still >2x lands in the "suspect" list instead of
  *      being silently trusted (r7's artifact carried two phantom 2-4x
  *      spikes on unchanged code that solo re-measures reversed).
  * Caches are cleared between runs, so every run repeats the full
  * scan+shuffle; the min only dodges scheduler/load spikes.
  *
  * Durability (rev 9 added the incremental artifact; rev 10 closes the
  * last-mile holes the r9 driver run exposed — BENCH_r09 was rc:0 but
  * `parsed:null` because the "short" compact line embedded the 89-name
  * skipped array, and the skip tail swallowed both round-9 queries):
  *   1. the artifact file is rewritten INCREMENTALLY after every
  *      query, via a sibling temp file + ATOMIC_MOVE so a kill or
  *      disk-full mid-write can never leave a torn JSON (rev 10);
  *   2. a JVM shutdown hook emits the current compact JSON line to
  *      stdout and rewrites the file — SIGTERM (what `timeout` sends)
  *      runs hooks. The snapshots are seeded BEFORE the pre-warm loop
  *      and refreshed through the requeue/cross-check phases, so a kill
  *      at any phase flushes current data (rev 10; rev 9 only refreshed
  *      them inside the first pass);
  *   3. a compact snapshot line is also printed every 50 queries, so a
  *      SIGKILL (no hooks) still leaves parseable lines in the tail;
  *   4. a wall-clock budget (SPARK_GRAFT_BENCH_BUDGET_S, default 1200 s
  *      measured from JVM start, settle phase included) degrades the
  *      sweep instead of letting the driver kill it: past the budget,
  *      queries run ONCE (no corroboration loop) and the requeue +
  *      cross-round recheck phases are skipped; past 1.15x the budget
  *      the sweep stops and the artifact lists the rest in
  *      `"skipped":[...]`. Degraded figures are still labeled: the
  *      artifact records `degraded_after` (how many queries ran at full
  *      methodology) so a reader knows which tail to distrust. The
  *      degrade decision prices the REMAINING queries by their
  *      prior-round figures (calibrated by the observed/prior ratio of
  *      completed queries) instead of a flat average, so a cheap-first
  *      sweep cannot underestimate an expensive tail (rev 10);
  *   5. the sweep runs VALUE-ORDERED (rev 10): un-priored queries (new
  *      contract entries — the ones a driver artifact most needs a
  *      figure for) first, then cheapest-first by prior. Under budget
  *      pressure the skip tail is therefore drawn from the most
  *      expensive well-priored queries, never from the round's own
  *      additions (r9: q396+q397 both landed in `skipped`). The final
  *      artifact re-sorts `queries` by name so cross-round textual
  *      diffs stay stable as priors move;
  *   6. persisted trained state (walk corpora, BPE, IVF centroids,
  *      postings, perceptron weights, SCC labels, …) is PRE-WARMED
  *      untimed before the sweep — but only while the projected
  *      remaining sweep (prior-priced, load-scaled by the probe) still
  *      fits the budget (rev 10; the r9 driver run spent its clock
  *      warming 16 cold families and then skipped 89 queries). When
  *      warming doesn't fit, `warmed` records 0 and cold builds land in
  *      run 1 where min-of-runs absorbs them (rev-8 behavior, cheaper
  *      exactly when the budget is tight).
  *
  * Output contract (the driver tails decorated sbt stdout, which can
  * truncate a long line mid-JSON — r2's BENCH had "parsed": null):
  *   1. the full JSON line goes to stderr first, then stdout;
  *   2. the LAST stdout line is a compact variant with the same schema
  *      whose every field is BOUNDED (top-10 slowest queries,
  *      `n_skipped`/`n_suspect` counts plus ≤5 sample names — never the
  *      full arrays, which r9 proved can blow the driver's tail window);
  *   3. the full JSON is also written to `SPARK_GRAFT_BENCH_OUT`
  *      (default `bench_out.json`), including the full skipped/suspect
  *      lists and a per-query `runs` map of EVERY timed run (not just
  *      the min), so suspect adjudication can read spread from the
  *      artifact instead of demanding a re-measure (rev 10).
  *
  * Failures (rev 11): a run that throws is a FAILURE, never a timing
  * (see [[Tally]]). The failed query gets no figure in `queries`,
  * `runs` or the total; the artifact lists it in `"failed":[...]` and
  * the compact line carries `n_failed` plus a ≤5-name sample.
  */
object Bench {
  /** One run of a contract query through the `noop` sink: Right(seconds)
    * when it completes, Left(error) when it throws. */
  private[graft] def timeRun(spark: SparkSession, sfDir: String,
                             fn: (SparkSession, String) => DataFrame): Either[String, Double] = {
    val t0 = System.nanoTime()
    val error =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
    // queries that persist multi-consumer intermediates (dedup family)
    // must not leave them pinned — for memory, for self-contained
    // timings regardless of run order, and so run 2 re-does the I/O
    spark.catalog.clearCache()
    val dt = (System.nanoTime() - t0) / 1e9
    // stage-boundary localCheckpoint blocks are NOT freed by
    // clearCache (only by ContextCleaner GC, which lags a 396-query
    // sweep — ADVICE r10); release them OUTSIDE the timed region so
    // the timing methodology stays byte-identical to rev 9/10
    graft.ops.releaseStageBoundaries()
    error.toLeft(dt)
  }

  /** A sweep's results so far: every successful timed run per query, and
    * each failed query with its first error. A run that throws fails its
    * query for good — the query leaves the timed set, so neither a min
    * nor the total can carry a crash's (typically short) elapsed time. */
  private[graft] final class Tally {
    val runs = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def record(name: String, run: Either[String, Double]): Unit = run match {
      case Left(error) =>
        failed.getOrElseUpdate(name, error)
        runs -= name
      case Right(t) if !failed.contains(name) =>
        runs(name) = runs.getOrElse(name, Seq.empty) :+ t
      case Right(_) => ()
    }

    /** Min of each timed query's runs, in completion order. */
    def mins: Seq[(String, Double)] = runs.toSeq.map { case (n, ts) => n -> ts.min }
    def total: Double = mins.map(_._2).sum
  }

  /** Queries whose FIRST run builds fingerprint-keyed persisted state
    * ([[graft.sources.ParquetState]]); run once untimed before the
    * sweep so every timed run serves from state. One name per state
    * family (the cheapest face that triggers the build); a stale entry
    * here is harmless — it just warms a normal query. */
  private val stateBuilders = Seq(
    "q370_walk_corpus",      // co-purchase edges + DeepWalk corpus (feeds q393/q395)
    "q394_node2vec_walks",   // biased walk corpus
    "q153_label_prop",       // LPA labels (feeds q373)
    "q358_cycle_fixpoint",   // SCC labels (feeds q364)
    "q132_bpe_train",        // BPE merge trajectory (feeds q144/q220)
    "q397_bpe_holdout",      // held-out (2%-sample) BPE trajectory
    "q398_sample_elbow",     // sample-rate sweep BPE trajectories (1/200, 1/10)
    "q136_bm25",             // postings index (feeds the retrieval stack)
    "q175_phrase_search",    // positional index
    "q119_kmeans_train",     // IVF centroids (feeds q120/q122/q374)
    "q123_corpus_build",     // eval-set decontamination Bloom
    "q149_corpus_card",      // second Bloom consumer (same key, shared)
    "q351_charngram_langid", // trained trigram model
    "q355_cross_validation", // 5-fold perceptron weights
    "q127_perceptron",       // served task weights
    "q380_data_map",         // perceptron trajectory
    "q298_ops_scorecard")    // ops scorecard sheet

  def main(args: Array[String]): Unit = {
    val tJvm0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - tJvm0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(4)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1200").toDouble
    val hardStopS = budgetS * 1.15
    val spark = GraftSession.local(cpus)
    // JVM/codegen/scheduler warmup on synthetic data so the first timed
    // query doesn't absorb session initialization (no fixture data is
    // touched or cached here)
    spark.range(1L << 20).selectExpr("count(distinct id % 1000)").collect()
    // load sentinel: a fixed CPU-bound probe at full executor width.
    // Its idle time is pinned in BASELINE.md; a loaded machine inflates
    // it proportionally, which makes a hot round artifact self-evident.
    def loadProbe(): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, (1L << 21) * cpus, 1, cpus)
        .selectExpr("sum(pmod(xxhash64(id), 1024))").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    // SPARK_GRAFT_BENCH_ONLY=q74,q78 limits the run to queries whose name
    // contains any listed token — a local profiling aid; the driver never
    // sets it, so round artifacts always cover the full contract.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val selected = only match {
      case Some(toks) => SparkEntry.queries.filter { case (n, _) => toks.exists(n.contains) }
      case None => SparkEntry.queries
    }
    val maxRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_RUNS", "4").toInt.max(runs)
    // pre-sweep settle: a machine still winding down (the driver's own
    // verify pass, a previous JVM exiting) inflates the first minutes of
    // the sweep — r6 opened at probe 0.253 vs the 0.08–0.15 idle pin.
    // Probe, and while it reads hot, wait 30 s and re-probe (bounded
    // budget); the artifact records the wait count, so a round that
    // STILL opened hot is documented rather than silent. Settle time
    // counts against the wall budget: a round that spent its clock
    // settling degrades gracefully instead of getting killed mid-sweep.
    val settleLimit = sys.env.getOrElse("SPARK_GRAFT_BENCH_SETTLE_TRIES", "6").toInt
    var settleWaits = 0
    var probePre = loadProbe()
    while (probePre > 0.15 && settleWaits < settleLimit && elapsedS < budgetS * 0.25) {
      System.err.println(f"[bench] probe ${probePre}%.3f s > 0.15 idle pin — settling 30 s " +
        s"(${settleWaits + 1}/$settleLimit)")
      Thread.sleep(30000)
      settleWaits += 1
      probePre = loadProbe()
    }
    // CROSS-ROUND priors (bench_rev 8; loaded before the sweep since
    // rev 10 because they also drive the sweep order, the pre-warm
    // decision, and the degrade's remaining-cost estimate).
    val priorPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", "BENCH_PRIOR.json")
    val prior: Map[String, Double] =
      try {
        // anchor the parse to the artifact's flat "queries":{...} object
        // (ADVICE r8: a whole-file regex would also bind q-named keys
        // from any future nested map, last-match-wins)
        val txt = Files.readString(Paths.get(priorPath))
        val i = txt.indexOf("\"queries\"")
        val start = txt.indexOf('{', i)
        val end = txt.indexOf('}', start)
        val obj = if (i < 0 || start < 0 || end < 0) "" else txt.substring(start, end + 1)
        val qNum = """"(q\d+[^"]*)"\s*:\s*([0-9.]+)""".r
        qNum.findAllMatchIn(obj).map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    // VALUE-ORDERED sweep (rev 10): un-priored queries first — a new
    // contract entry has no cross-round history, so the round artifact
    // is the only place a driver-side figure can come from — then
    // cheapest-first by prior. A budget-pressed sweep therefore skips
    // the most expensive well-priored queries (whose priors already
    // document them) instead of whatever the hash order left last.
    val ordered: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      selected.toSeq.sortBy { case (n, _) =>
        (if (prior.contains(n)) 1 else 0, prior.getOrElse(n, 0.0), n)
      }
    val tally = new Tally
    // `timed = false` (the pre-warm) records only a failure, never a time
    def once(name: String, fn: (SparkSession, String) => DataFrame,
             timed: Boolean = true): Option[Double] = {
      val run = timeRun(spark, sfDir, fn)
      run.left.foreach(e => System.err.println(s"[bench] $name failed: $e"))
      if (run.isLeft || timed) tally.record(name, run)
      run.toOption.filter(_ => !tally.failed.contains(name))
    }
    def f3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def queriesJson(qs: Iterable[(String, Double)]): String =
      // Locale.ROOT: the default-locale interpolator writes "1,234" under
      // comma-decimal locales, which is invalid JSON
      qs.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    def sampleJson(names: Iterable[String], cap: Int): String =
      names.take(cap).map("\"" + _ + "\"").mkString("[", ",", "]")

    // ---- incremental artifact plumbing (rev 9/10) ----
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var snapshotFull: String = ""
    @volatile var snapshotCompact: String = ""
    // temp-file + ATOMIC_MOVE (rev 10): an in-place truncate-and-rewrite
    // torn by SIGKILL/disk-full would leave unparseable JSON — exactly
    // the hole the incremental design exists to close
    def writeArtifact(json: String): Unit =
      try {
        val target = Paths.get(out)
        val dir = Option(target.toAbsolutePath.getParent).getOrElse(Paths.get("."))
        val tmp = Files.createTempFile(dir, ".bench", ".tmp")
        Files.writeString(tmp, json + "\n")
        try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
          Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING) }
      } catch { case e: Throwable => System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
    // SIGTERM (what the driver's `timeout` sends) runs shutdown hooks:
    // flush the last snapshot to both the file and stdout so a killed
    // sweep still yields a parseable artifact and a parseable tail line
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!done.get && snapshotFull.nonEmpty) {
        writeArtifact(snapshotFull)
        println(snapshotCompact)
        System.out.flush()
      }
    }))

    // the min is only trusted once a second run lands within 30% of it:
    // a load burst that hit one run costs one more run, an idle sweep
    // pays nothing extra
    def corroborated(times: Seq[Double]): Boolean = {
      val s = times.sorted
      s.length >= 2 && s(1) <= s(0) * 1.3
    }
    // the tally keeps completion order for the incremental snapshots (so
    // a killed sweep's artifact reads in sweep order), re-sorted by name
    // only in the final artifact. `runs` holds EVERY timed run per query
    // (first pass + requeue + recheck), not just the min — file-artifact
    // only; lets a reader adjudicate a suspect from recorded spread
    // instead of a fresh re-measure
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    var warmed = 0
    def runsJson: String =
      tally.runs.map { case (k, ts) => "\"" + k + "\":" + ts.map(f3).mkString("[", ",", "]") }
        .mkString("{", ",", "}")
    def failedJson: String = sampleJson(tally.failed.keys, Int.MaxValue)
    def partialJson(trunc: Boolean, extra: String = ""): String = {
      s"""{"metric":"total","value":${tally.total},"unit":"sec","queries":${queriesJson(tally.mins)},""" +
        s""""sf":"$sfDir","bench_rev":11,"runs_per_query":$runs,"truncated":$trunc,""" +
        s""""n_done":${tally.runs.size},"n_selected":${selected.size},"warmed":$warmed,""" +
        s""""settle_waits":$settleWaits,"probe_sec":${f3(probePre)},"failed":$failedJson,""" +
        s""""runs":$runsJson$extra}"""
    }
    // every field bounded: top-10 queries, counts + ≤5-name samples.
    // r9's lesson — the 89-name skipped array in the "compact" line blew
    // the driver's tail window and BENCH_r09 parsed null; full lists
    // live only in the file artifact
    def compactOf(full: Boolean): String = {
      val top10 = tally.mins.sortBy(-_._2).take(10)
      s"""{"metric":"total","value":${tally.total},"unit":"sec","queries":${queriesJson(top10)},""" +
        s""""sf":"$sfDir","bench_rev":11,"n_queries":${tally.runs.size},"n_selected":${selected.size},""" +
        s""""truncated":${!full},"warmed":$warmed,"settle_waits":$settleWaits,""" +
        s""""n_skipped":${skipped.size},"skipped_sample":${sampleJson(skipped, 5)},""" +
        s""""n_failed":${tally.failed.size},"failed_sample":${sampleJson(tally.failed.keys, 5)},""" +
        s""""probe_sec":${f3(probePre)},"full_out":"$out"}"""
    }
    def snapshot(): Unit = {
      snapshotFull = partialJson(trunc = true)
      snapshotCompact = compactOf(full = false)
      writeArtifact(snapshotFull)
    }
    // seed the snapshots BEFORE any long-running phase (ADVICE r9): a
    // kill during a minutes-long cold pre-warm previously found
    // snapshotFull empty and left no artifact at all
    snapshot()

    // pre-warm the persisted-state builders untimed — but ONLY while the
    // projected remaining sweep still fits the budget (rev 10). The
    // projection prices each remaining query at its prior (1 s when
    // un-priored), scaled by the probe's load factor: the r9 driver box
    // opened at probe 0.365 ≈ 2.4x the idle pin and every query paid
    // about that multiple. When warming doesn't fit, cold builds land in
    // run 1 and min-of-runs absorbs them (rev-8 behavior) — cheaper
    // exactly when the budget is tight.
    val loadCalib = math.min(3.0, math.max(1.0, probePre / 0.12))
    val sweepReserveEst = ordered.map { case (n, _) => prior.getOrElse(n, 1.0) }.sum * loadCalib
    val eligibleBuilders = ordered.count { case (n, _) => stateBuilders.contains(n) }
    for ((name, fn) <- ordered if stateBuilders.contains(name) &&
           elapsedS + sweepReserveEst < budgetS * 0.85 && elapsedS < budgetS * 0.4) {
      once(name, fn, timed = false).foreach(t => System.err.println(s"[bench] warm $name: ${f3(t)}"))
      warmed += 1
    }
    if (warmed == 0 && eligibleBuilders > 0)
      System.err.println(f"[bench] pre-warm skipped: sweep reserve ${sweepReserveEst}%.0f s " +
        f"(load calib ${loadCalib}%.2f) leaves no headroom in budget $budgetS%.0f s")

    var degradedAfter = -1 // first index where 1-run mode activated (−1 = never)
    // predictive degrade (refined over three driver-conditions
    // rehearsals): run a query at 1 run when the remaining queries'
    // single-run reserve no longer fits the budget, re-deciding PER
    // QUERY. Since rev 10 the reserve prices each remaining query by its
    // PRIOR (scaled by the observed/prior ratio of completed priored
    // queries) and only falls back to the running average for un-priored
    // ones — under cheapest-first ordering a flat average would
    // systematically underestimate the expensive tail and degrade too
    // late (r9 verdict #2).
    var runWall = 0.0
    var runCount = 0
    def avgRun = if (runCount == 0) 1.0 else runWall / runCount
    var priorSumDone = 0.0 // priors of completed priored queries
    var priorObsDone = 0.0 // their observed first-run times
    def calib = if (priorSumDone > 0.5) math.min(5.0, math.max(0.8, priorObsDone / priorSumDone))
                else loadCalib
    // suffix sums over the ordered sweep: remaining prior mass and
    // remaining un-priored count from each index
    val priorsArr = ordered.map { case (n, _) => prior.getOrElse(n, -1.0) }.toArray
    val n = priorsArr.length
    val sufPrior = new Array[Double](n + 1)
    val sufUnpriored = new Array[Int](n + 1)
    for (i <- (n - 1) to 0 by -1) {
      sufPrior(i) = sufPrior(i + 1) + math.max(priorsArr(i), 0.0)
      sufUnpriored(i) = sufUnpriored(i + 1) + (if (priorsArr(i) < 0) 1 else 0)
    }
    var nSingleRun = 0
    val singleRun = scala.collection.mutable.Set.empty[String]
    val firstPass = ordered.zipWithIndex.flatMap { case ((name, fn), i) =>
      if (elapsedS > hardStopS) { skipped += name; None }
      else if (tally.failed.contains(name)) None // failed its pre-warm run
      else {
        val reserve = sufPrior(i + 1) * calib + sufUnpriored(i + 1) * avgRun
        val degraded = elapsedS > budgetS ||
          elapsedS + reserve + 2.2 * avgRun > budgetS
        if (degraded) {
          nSingleRun += 1
          singleRun += name
          if (degradedAfter < 0) {
            degradedAfter = i
            System.err.println(f"[bench] wall budget $budgetS%.0f s minus ${reserve}%.0f s " +
              s"single-run reserve first reached at $i/${ordered.size} — per-query 1-run mode")
          }
        }
        val times = scala.collection.mutable.ArrayBuffer.empty[Double]
        // false on a failed run, which ends the query's runs
        def timed(): Boolean = once(name, fn).exists { t =>
          times += t; runWall += t; runCount += 1
          true
        }
        if (timed()) {
          if (priorsArr(i) > 0) { priorSumDone += priorsArr(i); priorObsDone += times.head }
          if (!degraded) {
            while (times.length < runs && timed()) ()
            while (!corroborated(times.toSeq) && times.length < maxRuns && timed()) ()
          }
        }
        // per-run breakdown to stderr: shows warm-vs-cold effects (e.g. a
        // first run that builds persisted state) that the min hides
        System.err.println(s"[bench] $name runs: " + times.map(f3).mkString(", "))
        snapshot()
        // a SIGKILL leaves no hook — drop a parseable snapshot line in
        // the stdout tail every 50 queries
        if ((i + 1) % 50 == 0) { println(snapshotCompact); System.out.flush() }
        Option.when(!tally.failed.contains(name))((name, fn, times.toSeq))
      }
    }
    // RE-QUEUE, don't re-run adjacently: a load burst longer than one
    // query's whole run window owns ALL of its adjacent runs, and no
    // corroboration policy can see that from inside the window (r5:
    // q03's 3.77 s artifact re-measured at 0.80 s on a quiet box). A
    // query that exhausted its budget uncorroborated gets two fresh
    // runs at sweep end — minutes later, when the burst has moved on —
    // and reports the min over all runs. Skipped past the wall budget.
    val requeued = firstPass.flatMap { case (name, fn, times) =>
      if (corroborated(times) || times.length < 2 || elapsedS > budgetS)
        Some((name, fn, times.min))
      else {
        val retry = Seq.fill(2)(once(name, fn))
        System.err.println(s"[bench] $name requeued runs: " +
          retry.map(_.fold("failed")(f3)).mkString(", "))
        // keep the kill-time snapshot current through this phase too
        // (ADVICE r9: a SIGTERM during requeue flushed a stale snapshot)
        snapshot()
        tally.runs.get(name).map(all => (name, fn, all.min))
      }
    }
    // CROSS-ROUND corroboration (bench_rev 8; the r7 verdict's fix for
    // the q207/q234 phantom spikes): within-sweep agreement can't see a
    // burst that owned a query's ENTIRE run window, but the previous
    // round's artifact can. Any query whose min exceeds its prior-round
    // figure by >2x on UNCHANGED methodology gets one more sweep-end
    // run; whatever still exceeds 2x is listed in "suspect":[...] so a
    // reader chases it with a solo re-measure instead of trusting it.
    // Skipped entirely past the wall budget.
    val crossChecked = requeued.flatMap { case (name, fn, best) =>
      prior.get(name) match {
        case Some(p) if p > 0 && best > p * 2 && elapsedS < budgetS =>
          val again = once(name, fn)
          System.err.println(s"[bench] $name cross-round recheck: ${again.fold("failed")(f3)} " +
            f"(min was $best%.3f, prior $p%.3f)")
          snapshot()
          tally.runs.get(name).map(all => (name, all.min, p))
        case _ => Some((name, best, prior.getOrElse(name, 0.0)))
      }
    }
    // single-run figures are pre-declared lower-confidence (n_single_run
    // labels them); flagging them against min-of-runs priors would flood
    // the suspect list with methodology artifacts, so suspects are only
    // drawn from full-methodology queries
    val suspects = crossChecked.collect {
      case (name, best, p) if p > 0 && best > p * 2 && !singleRun.contains(name) => name
    }
    // final artifact sorted by name: the sweep ran value-ordered, but a
    // name-sorted map keeps cross-round textual diffs of BENCH_rN.json
    // stable as priors move between rounds
    val results = crossChecked.map { case (name, best, _) => name -> best }.sortBy(_._1)
    val probePost = loadProbe()
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // bench_rev: timing methodology version (3 = min-of-two runs + q78
    // corpus slice; 4 = 32g default heap; 5 = corroborated-min re-runs +
    // load probe; 6 = uncorroborated queries re-queued at sweep end;
    // 7 = pre-sweep settle loop until the probe reads idle;
    // 8 = cross-round >2x recheck + suspect list + per-era split;
    // 9 = incremental artifact + shutdown hook + wall budget + state
    // pre-warm; 10 = value-ordered sweep + prior-priced degrade +
    // cost-aware pre-warm + bounded compact line + atomic writes +
    // per-query run spreads; 11 = a failed run fails its query, which
    // drops out of the total) — cross-round deltas are only comparable
    // at equal rev. Per-era decomposition: the number comparable to the
    // r3 baseline (the r4-era s/q) rides the artifact instead of being
    // re-derived from BASELINE.md each round; eras follow the rounds'
    // query-number ranges
    def era(name: String): String = {
      val nDigits = name.drop(1).takeWhile(_.isDigit)
      if (!name.startsWith("q") || nDigits.isEmpty) "ref"
      else nDigits.toInt match {
        case v if v <= 124 => "r4"
        case v if v <= 318 => "r5"
        case v if v <= 357 => "r6"
        case v if v <= 392 => "r7"
        case v if v <= 395 => "r8"
        case v if v <= 397 => "r9"
        case _ => "r10"
      }
    }
    val eras = results.groupBy { case (qn, _) => era(qn) }.toSeq.sortBy(_._1)
      .map { case (e, qs) =>
        val sec = qs.map(_._2).sum
        s""""$e":{"n":${qs.size},"sec":${f3(sec)},"sec_per_q":${f3(sec / qs.size)}}"""
      }.mkString("{", ",", "}")
    val suspectJson = suspects.map("\"" + _ + "\"").mkString("[", ",", "]")
    val skippedJson = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
    val probes = s""""probe_sec":${f3(probePre)},"probe_post_sec":${f3(probePost)},"settle_waits":$settleWaits"""
    val trunc = skipped.nonEmpty
    // full extras (file + full stdout/stderr line): unbounded lists OK
    val extras = s""""eras":$eras,"suspect":$suspectJson,"skipped":$skippedJson,""" +
      s""""failed":$failedJson,""" +
      s""""truncated":$trunc,"degraded_after":$degradedAfter,"n_single_run":$nSingleRun,""" +
      s""""warmed":$warmed,"wall_sec":${f3(elapsedS)},"runs":$runsJson"""
    // compact extras (the tail-truncation-proof LAST stdout line):
    // counts + capped samples ONLY — r9's full skipped array here is
    // exactly what made BENCH_r09 parse null
    val extrasCompact = s""""eras":$eras,"n_suspect":${suspects.size},""" +
      s""""suspect_sample":${sampleJson(suspects, 5)},"n_skipped":${skipped.size},""" +
      s""""skipped_sample":${sampleJson(skipped, 5)},"n_failed":${tally.failed.size},""" +
      s""""failed_sample":${sampleJson(tally.failed.keys, 5)},"truncated":$trunc,""" +
      s""""degraded_after":$degradedAfter,"n_single_run":$nSingleRun,""" +
      s""""warmed":$warmed,"wall_sec":${f3(elapsedS)}"""
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":${queriesJson(results)},"sf":"$sfDir","bench_rev":11,"runs_per_query":$runs,$probes,$extras}"""
    val top10 = results.sortBy(-_._2).take(10)
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","queries":${queriesJson(top10)},"sf":"$sfDir","n_queries":${results.size},"runs_per_query":$runs,"bench_rev":11,$probes,$extrasCompact,"full_out":"$out"}"""
    System.err.println(json)
    System.err.flush()
    println(json)
    writeArtifact(json)
    done.set(true)
    spark.stop()
    // last stdout line before sbt's [success] footer — every field
    // bounded, short enough to survive any tail truncation
    println(compact)
    System.out.flush()
  }
}
