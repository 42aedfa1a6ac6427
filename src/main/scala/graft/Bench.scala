package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {

  /** This box's reference for [[cpuProbeSec]]: the min observed across
    * round 17's bench runs (0.546–0.560 s per checkpoint, stable within
    * a run). regime_index is therefore ≈ 1.0 relative to r17's regime —
    * a future quiet day may read < 1.0, a slow day > 1.0; either way the
    * tide is now a number inside the artifact instead of a verdict
    * debate. The RAW probe seconds are always emitted alongside, so a
    * box change re-bases without losing history.
    */
  val QuietCpuRefSec = 0.546

  /** Fixed single-thread CPU busy-loop — 300M LCG+xorshift steps, no
    * Spark, no allocation: a pure measure of the VM's instantaneous CPU
    * regime (verdict r16 #2: make the wall-clock tide legible INSIDE the
    * bench artifact instead of re-deriving it from spreads every round).
    */
  def cpuProbeSec(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 300000000) {
      h = h * 6364136223846793005L + 1442695040888963407L
      h ^= (h >>> 33)
      i += 1
    }
    // data dependency so the loop cannot be dead-code-eliminated
    if (h == 42L) System.err.println("[bench] improbable")
    (System.nanoTime() - t0) / 1e9
  }

  /** One regime checkpoint: the CPU busy-loop plus min-of-3 reps of q01
    * (the cheapest stable full-path query: scan + hash-agg + exchange),
    * so CPU-only and Spark-path regimes are separable in the artifact.
    */
  def regimeCheckpoint(spark: SparkSession, sfDir: String): (Double, Double) = {
    val cpu = cpuProbeSec()
    val q01 = SparkEntry.queries.get("q01_pricing_agg").map { fn =>
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        // a FAILING q01 (e.g. a docs-only sfDir) must read as the -1
        // sentinel, not a millisecond time-to-exception masquerading as
        // an impossibly fast Spark path
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case NonFatal(_) => -1.0 }
      }.min
    }.getOrElse(-1.0)
    // No clearCache here (ADVICE r17): every measured query already
    // clears the catalog cache after each of its own reps, so a clear at
    // the mid-suite checkpoint only re-wiped an already-clean cache while
    // making the methodology read as if mid-suite state were being reset.
    // q01's three probe reps stay — note the probe itself pre-warms q01's
    // paths when q01 is in the measured suite (start checkpoint runs
    // before it), a constant of this methodology since r17.
    (cpu, q01)
  }

  def main(args: Array[String]): Unit = {
    // The output contract is JSON: number formatting must not follow a
    // locale that renders decimal commas.
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = GraftSession.local(cpus)
    // Shuffle partitions stay pinned to the session default (= cpus).
    // Round 14 TRIED the input-scaled heuristic the r13 verdict asked
    // for (one partition per 8 MB of input -> 219 at sf10) and measured
    // it a net loss on this machine: the narrow sort/window tail pays a
    // ~0.3 s FIXED cost per task in local mode (p05 10.5 -> 44 s,
    // q29 3.7 -> 29 s, d10 14 -> 66 s at sf10), while the heavy
    // shuffles it was meant to help (d11b, g02) were fixed by code
    // changes and hold their numbers at 32 partitions. AQE size-first
    // coalescing (parallelismFirst=false) was probed too and is worse
    // on both ends (d11b 31 -> 207 s serialized, p05 163 s). On a real
    // cluster the equivalent dial is executors x cores — reduce-side
    // width there comes from the deployment, not a per-query pin; the
    // operators themselves never hardcode a partition count.
    System.err.println("[bench] spark.sql.shuffle.partitions=" +
      spark.conf.get("spark.sql.shuffle.partitions") + " (see comment)")
    // Warm the session (codegen, file indexes, broadcast machinery) so the
    // first timed query doesn't absorb startup cost: count every table once
    // (builds each InMemoryFileIndex + touches the parquet footers).
    spark.range(1000).selectExpr("sum(id)").collect()
    // Warm the DateTimeFormatter caches + parse JIT paths (one-time JVM
    // cost that otherwise lands on whichever query parses dates first).
    spark.range(100).selectExpr(
      "to_date(date_format(current_date(), 'MMMM d, yyyy'), 'MMMM d, yyyy')",
      "to_date(date_format(current_date(), 'MM/dd/yyyy'), 'MM/dd/yyyy')",
      "to_date(date_format(current_date(), 'yyyy-MM-dd'), 'yyyy-MM-dd')").collect()
    // A table the sf dir lacks (a docs-only dir) is skipped with a
    // notice; any other failure fails the run.
    def ifPresent(tables: String*)(warm: => Unit): Unit =
      try warm catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" =>
          System.err.println(
            s"[bench] warm-up skips ${tables.mkString(", ")}: ${e.getMessage}")
      }
    Tables.all.foreach { t =>
      ifPresent(t)(spark.read.parquet(s"$sfDir/$t.parquet").count())
    }
    // Warm the full execution path the timed queries use — shuffle + AQE +
    // broadcast join + global sort + whole-stage codegen + the noop sink —
    // so the first timed query does not absorb ~1.5 s of one-time
    // machinery init. Twice: the second run hits the JIT-compiled paths.
    ifPresent("nation", "region") {
      for (_ <- 1 to 2) {
        val n = spark.read.parquet(s"$sfDir/nation.parquet")
        val r = spark.read.parquet(s"$sfDir/region.parquet")
        n.join(org.apache.spark.sql.functions.broadcast(r),
            n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name").count()
          .orderBy("r_name")
          .write.format("noop").mode("overwrite").save()
      }
    }
    // Optional args = query-name filter (local iteration); the driver
    // passes none and benches the full suite. Misspelled names fail fast
    // rather than silently benching nothing.
    val unknown = args.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty)
      sys.error(s"unknown query name(s): ${unknown.mkString(", ")}; " +
        s"valid: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val wanted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.contains(n) }
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // Shuffle-bytes-written per query (summed over stages, averaged over
    // reps): unlike wall-clock — which swings >2x on this VM — shuffle
    // volume is deterministic, so it's the reliable regression signal.
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          shuffleBytes.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      })
    // Flush warmup stage events so they don't land in the first query's
    // shuffle delta.
    org.apache.spark.sql.graft.SparkInternals.drainListenerBus(spark.sparkContext)
    // Regime calibration at suite start / middle / end (verdict r16 #2):
    // the three checkpoints bracket the suite, so a verdict sentence like
    // "the medians are tide" has an artifact number behind it — and a
    // regime that SHIFTS mid-suite (start ≠ end) is visible too.
    val regime = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    regime += regimeCheckpoint(spark, sfDir)
    org.apache.spark.sql.graft.SparkInternals.drainListenerBus(spark.sparkContext)
    // Suite order: each query's reps back to back, alphabetically. An
    // interleaved order was measured and rejected (VERDICT r18 #8,
    // REGRESSION_AB_r19.json): it made per-query min-of-reps a geomean
    // 1.305× worse, because consecutive reps are what give min-of-reps
    // its warm-path meaning.
    // One measured run of one query: time the noop-sink materialization,
    // then restore a clean-slate session (catalog cache + transient
    // checkpoint blocks) so no run times a neighbor's leftovers.
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      var failed = false
      // noop sink: materializes every output column (a count() would let
      // Catalyst prune expensive projections out of the timed work).
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) =>
        // A throwing query must NOT bench as ~0 s: record it loudly
        // (stderr + "failed" list + -1 median) instead of swallowing.
        failed = true
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // Clear operator-internal persists BETWEEN runs, not just between
      // queries: each run builds a fresh DataFrame whose persists are
      // new cache entries, so without this a multi-rep run of a
      // cache-heavy query (d19b's gram frames, d02's shingles) holds
      // reps× the blocks and the later reps time EVICTION CHURN, not
      // the query — at sf10 d19b measured 108 s in-suite vs 3.6 s
      // isolated before this fix. Every run now pays its own cache
      // population (honest cold-ish numbers) and memory pressure stops
      // compounding. Memoized cluster tables survive (localCheckpoint,
      // not catalog cache) — which is their intent.
      spark.catalog.clearCache()
      // …and clear consume-once CHECKPOINT blocks too (VERDICT r17 #1):
      // clearCache only drops catalog-cached frames; a localCheckpoint'd
      // result (d11b/d12's pair verdicts, g01's iteration frames) keeps
      // its blocks until the ContextCleaner GCs the reference — on this
      // heap, effectively never within a suite — so each run stacked a
      // dead generation and later suite neighbors timed eviction churn
      // (the r17 d16/d17/s02/s03 inflation; REGRESSION_AB_r18 is the
      // A/B). Memo tables are pinned and survive.
      graft.CacheHygiene.freeTransient(spark)
      // Deterministic listener drain (a fixed sleep can under-wait on a
      // backlogged bus and credit this run's stages to the next one).
      org.apache.spark.sql.graft.SparkInternals
        .drainListenerBus(spark.sparkContext)
      (sec, failed)
    }
    // Per-query accumulators, keyed by name; emitted alphabetically.
    val accTimes = scala.collection.mutable.Map(
      wanted.map { case (n, _) => n -> Vector.empty[Double] }: _*)
    val accSh = scala.collection.mutable.Map(
      wanted.map { case (n, _) => n -> 0L }: _*)
    val accFailed = scala.collection.mutable.Map(
      wanted.map { case (n, _) => n -> false }: _*)
    val accMemoL = scala.collection.mutable.Map(
      wanted.map { case (n, _) => n -> 0L }: _*)
    val accMemoB = scala.collection.mutable.Map(
      wanted.map { case (n, _) => n -> 0L }: _*)
    val schedule = wanted.flatMap(q => Seq.fill(reps)(q))
    val midRun = schedule.size / 2
    schedule.zipWithIndex.foreach { case ((name, fn), ri) =>
      if (ri == midRun && schedule.size >= 4) {
        regime += regimeCheckpoint(spark, sfDir)
        org.apache.spark.sql.graft.SparkInternals
          .drainListenerBus(spark.sparkContext)
      }
      val sh0 = shuffleBytes.get()
      val (memoL0, memoB0) = CacheHygiene.memoCounts
      val (sec, failed) = runOnce(name, fn)
      accTimes(name) = accTimes(name) :+ sec
      accSh(name) = accSh(name) + (shuffleBytes.get() - sh0)
      if (failed) accFailed(name) = true
      val (memoL1, memoB1) = CacheHygiene.memoCounts
      accMemoL(name) = accMemoL(name) + (memoL1 - memoL0)
      accMemoB(name) = accMemoB(name) + (memoB1 - memoB0)
    }
    val results = wanted.map { case (name, _) =>
      // Median of `reps` runs: the VM shows >2x run-to-run swings, so a
      // single sample is noise; the median pins it down. Min-of-reps (the
      // code-tracking stat) is times.head below.
      val times = accTimes(name).sorted
      val shuffleMb = accSh(name) / reps.toDouble / 1e6
      val median = if (accFailed(name)) -1.0 else times(times.length / 2)
      // A query whose runs hit a memoized table (d07/d09's cluster table,
      // g02/g03's projection) more often than they built it is timing a
      // cache hit — mark it, so cross-round per-query deltas aren't
      // misread as code speedups (whichever query runs first pays the
      // build; the rest ride the memo).
      val memoized = accMemoL(name) > accMemoB(name)
      (name, median, shuffleMb, memoized, times)
    }
    regime += regimeCheckpoint(spark, sfDir)
    // regime_index = median CPU-probe seconds / this box's pinned quiet
    // reference — ~1.0 quiet, ~1.3+ on a slow day. Raw seconds emitted too.
    val cpuTimes = regime.map(_._1).sorted
    // true median: with an even sample count (short filtered suites skip
    // the mid checkpoint) average the middle two rather than biasing to
    // the slower one
    val cpuMedian =
      if (cpuTimes.length % 2 == 1) cpuTimes(cpuTimes.length / 2)
      else (cpuTimes(cpuTimes.length / 2 - 1) + cpuTimes(cpuTimes.length / 2)) / 2
    val regimeIndex = cpuMedian / QuietCpuRefSec
    val regimeJson = {
      val cpu = regime.map(c => f"${c._1}%.3f").mkString("[", ",", "]")
      val q01 = regime.map(c => f"${c._2}%.3f").mkString("[", ",", "]")
      s"""{"cpu_sec":$cpu,"q01_min_sec":$q01,"regime_index":${f"$regimeIndex%.3f"}}"""
    }
    val qs = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // Min-of-reps as a FIRST-CLASS stat (VERDICT r15 #7): on this VM the
    // medians ride >2x wall-clock regimes while the min tracks code —
    // three rounds of verdicts had to re-derive that from the spreads by
    // hand. `times` is sorted, so head IS the min.
    val qsMin = results.map { case (k, v, _, _, ts) =>
      "\"" + k + "\":" + (if (v < 0) "-1.000" else f"${ts.head}%.3f")
    }.mkString("{", ",", "}")
    val sh = results.map { case (k, _, m, _, _) => "\"" + k + "\":" + f"$m%.2f" }
      .mkString("{", ",", "}")
    // Per-query [min, median, max] over the reps: a contended run is
    // self-diagnosing (max >> median on queries whose code didn't change
    // = external load, not a regression) without waiting on a judge
    // re-measurement.
    val spread = results.map { case (k, v, _, _, ts) =>
      // A failed query's rep times include aborted near-zero runs; a
      // numeric triple there would read as a plausible timing. Emit null.
      "\"" + k + "\":" +
        (if (v < 0) "null" else f"[${ts.head}%.3f,$v%.3f,${ts.last}%.3f]")
    }.mkString("{", ",", "}")
    val failedNames =
      results.collect { case (k, v, _, _, _) if v < 0 => "\"" + k + "\"" }
    val memoizedNames =
      results.collect { case (k, _, _, mz, _) if mz => "\"" + k + "\"" }
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalMin = results.collect { case (_, v, _, _, ts) if v >= 0 => ts.head }.sum
    val detail =
      s"""{"metric":"detail","reps":$reps,"stat":"median","order":"alpha","regime":$regimeJson,"queries":$qs,"queries_min":$qsMin,"total_min":${f"$totalMin%.3f"},"shuffle_mb":$sh,"spread":$spread,"failed":${failedNames.mkString("[", ",", "]")},"memoized":${memoizedNames.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    // Full per-query detail goes on its OWN line (and into a file) because
    // the driver keeps only the final ~2000 chars of stdout: the LAST line
    // must stay short so it always fits the tail buffer and parses.
    // Detail-file contract (VERDICT r17 #6): the file is NAMED for the
    // run — sf-suffixed, and additionally "_filtered" when a query-name
    // filter was passed — so a local filtered iteration can never clobber
    // the committed full-suite detail (it cost the r17 judge a
    // restore-from-HEAD), and per-round sf detail files need no manual
    // copies. SPARK_GRAFT_BENCH_DETAIL overrides the path outright.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", {
      val sfTag = new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9._-]", "_")
      val filteredTag = if (args.isEmpty) "" else "_filtered"
      s"BENCH_DETAIL_$sfTag$filteredTag.json"
    })
    // A file the run cannot write fails the run.
    def writeLines(path: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(path)
      try lines.foreach(w.println) finally w.close()
      if (w.checkError()) sys.error(s"[bench] cannot write $path")
    }
    writeLines(detailPath, detail)
    val totalLine =
      f"""{"metric":"total","value":$total%.3f,"value_min":$totalMin%.3f,"unit":"sec","n":${results.size},"failed":${failedNames.size},"reps":$reps,"stat":"median","regime_index":$regimeIndex%.3f,"sf":"$sfDir"}"""
    // Artifact hygiene (VERDICT r13 #4): executor shutdown races can
    // interleave stack-trace lines into captured stdout, breaking naive
    // JSON-lines parsing of BENCH_r*.json. With SPARK_GRAFT_BENCH_OUT
    // set, the two summary lines are ALSO written straight to that file
    // — guaranteed valid JSON lines regardless of console noise.
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach(writeLines(_, detail, totalLine))
    println(detail)
    println(totalLine)
    spark.stop()
  }
}
