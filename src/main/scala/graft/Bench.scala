package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.corpus.CorpusGen
import graft.tools.DedupRunOne

/** Benchmark main: headline operator timings on SPARK_GRAFT_SF_DIR plus the
  * BASELINE.json north-metric — end-to-end dedup docs/sec on the synthetic
  * web corpus. Every dedup level (local[1]/[4]/[8]/[32], shuffle partitions
  * = cores) runs BEST-OF-2 in its own pinned fork; the headline `value` is
  * the fixed local[32] level; `scaling_efficiency` is the canonical pinned
  * local[1]→local[4] pair (constant per-core host resources), with the
  * 8→32 pair, the Spark-free kernel pair and the raw memory-bandwidth
  * saturation pair all reported alongside (see BENCH.md). Both the query
  * pass AND the dedup levels carry a recover-and-rerun contention policy:
  * a section that ran in a labeled-hot window re-runs once if the window
  * recovers within a bounded wait (`queries_rerun`/`dedup_rerun` in the
  * JSON). Prints ONE JSON line.
  */
object Bench {

  /** The one benchmark/diagnostic session: `local[cores]` with the
    * settings below. `BenchExtra`, `DedupRunOne` and the profiling tools
    * use it too, so their timings transfer to the bench's. */
  private[graft] def mkSession(cores: Int, shufflePartitions: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalesces reduce partitions to ~64MB regardless of core count,
      // flattening 8-vs-32 scaling; size them smaller so reduce parallelism
      // follows the session's core count
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // broadcast-or-SMJ by stats (north rule): at bench scale the projected
      // signature / representative / component sides are tens of MB, so the
      // verify + assignment joins legitimately broadcast (no shuffle); at
      // the 10^12 design point the same stats pick sort-merge
      .config("spark.sql.autoBroadcastJoinThreshold", "96m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "96m")
      // smaller splits: the corpus parquet would otherwise read as ~cores
      // uneven tasks and straggle the wide parallelism level (the signature
      // kernel runs inside the scan tasks — they need ≥3 waves at 32 cores)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      // do NOT let AQE coalesce the small post-candidate shuffles down to
      // 1-2 partitions: CC iterations become chains of single-task stages
      // and stop scaling with cores entirely
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // shuffle/spill on tmpfs: the sandbox's disk does not scale with
      // cores and would cap the wide parallelism level (cluster analog:
      // NVMe shuffle volumes)
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Materialize the bench corpus once (outside any timed window); both
    * parallelism levels read the identical parquet input. `private[graft]`
    * so the diagnostic tools (GenCorpus/DedupRunOne/...) materialize the
    * SAME corpus contract (path scheme, seed, write settings) instead of
    * duplicating it.
    */
  private[graft] def ensureCorpus(corpusSf: Double): String = {
    val path = s"/tmp/graft-bench-corpus-sf$corpusSf"
    if (!new java.io.File(s"$path/_SUCCESS").exists()) {
      val spark = mkSession(32, 64)
      try CorpusGen.writeCorpus(spark, corpusSf, path, seed = 42L)
      finally spark.stop()
    }
    path
  }

  /** One timed dedup run, forked into its own JVM PINNED to `cores` host
    * CPUs (`taskset -c 0-(cores-1)` + `-XX:ActiveProcessorCount`): without
    * the pin, a "local[8]" JVM's GC/netty/JIT threads spill onto the host's
    * other 24 cores, flattering the narrow level and understating 8→32
    * scaling — a cluster of 8 cores has 8 cores. A small end-to-end warm-up
    * inside the fork excludes per-JVM JIT compilation (a fixed cost, not
    * steady-state throughput) at both levels. Falls back in-process if the
    * fork fails.
    */
  private def dedupRun(cores: Int, shuffleParts: Int, corpusPath: String,
      warmupPath: String): (Long, Double, Long) = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val opens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq("taskset", "-c", s"0-${cores - 1}", javaBin) ++ opens ++ Seq(
      "-Xmx8g", "-XX:+UseParallelGC", s"-XX:ActiveProcessorCount=$cores",
      "-cp", cp, "graft.tools.DedupRunOne",
      corpusPath, warmupPath, cores.toString, shuffleParts.toString)
    try {
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      proc.waitFor()
      val line = out.linesIterator.find(_.startsWith("RESULT "))
        .getOrElse(throw new RuntimeException(s"no RESULT line:\n${out.takeRight(2000)}"))
      val Array(_, d, s, c) = line.split(' ')
      (d.toLong, s.toDouble, c.toLong)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] pinned fork failed (${e.getMessage}); running in-process")
        val spark = mkSession(cores, shuffleParts)
        try DedupRunOne.timedRun(spark, corpusPath, warmupPath)
        finally spark.stop()
    }
  }

  // Quiet-window reference points for the contention gate (measured on this
  // host in an uncontended window: STREAM-triad ladder 32t = 105.7 GB/s
  // [BENCH.md r3]; warmed 8-thread kernel = 56,200 docs/s). The kernel ref
  // must be RE-SCALED whenever the kernel gets faster, or the gate
  // under-detects contention against the new kernel: 43,000 [post-fusion
  // r4] × (100.58 / 76.97 µs/doc, the measured KernelBench ratio of the
  // SWAR-simhash + positional-shingle + fused-exact-hash changes) ≈ 56,200.
  // The bus ref stays at the CONSERVATIVE 105.7 from r3 — the host itself
  // swings between a ~105 GB/s and a ~150 GB/s state across days, and an
  // aggressive ref would mislabel every slow-host-but-quiet window as
  // contended. The host is a shared VM whose available CPU swings >2×
  // within minutes; the recorded bench line of rounds 1-3 was a lottery on
  // that window. The gate measures BOTH probes (the r3 window had a free
  // bus but stolen CPUs — membw alone under-detects), reports
  // factor = max(quiet/measured, 1) in the JSON, and backs off before the
  // timed dedup levels while contended. The extrapolated 56,200 carries a
  // margin down to 50,000 because the 8-thread probe is PARTLY bus-bound
  // (8→32 kernel scaling ~0.6): a pure single-thread compute ratio can
  // overstate the 8t gain in the slow-bus host state, and an over-high ref
  // would mislabel genuinely quiet windows. Raw probe values always ship
  // in the JSON, so consumers can recalibrate against any later
  // quiet-window measurement.
  // Re-calibrated for the PINNED fork probe: pinned quiet measurements on
  // this host read 51-74k docs/s across its fast/slow states (the unpinned
  // in-process probe the 50k value was set for reads systematically higher
  // by spreading over idle cores). 55k keeps slow-state-quiet at factor
  // ~1.1 (labeled, no backoff) while the observed steal case (pinned 33.6k)
  // reads 1.6 → backoff. This is the FLOOR: the effective reference is
  // max(floor, best pinned probe ever observed under the CURRENT kernel
  // bytecode) — see `quietRefK8` — so a kernel speed-up re-calibrates the
  // gate automatically on the first quiet run instead of needing a hand
  // bump here (and a kernel change resets the learned value, because the
  // stored file is keyed by the kernel classes' bytecode hash).
  private val QuietKernel8Floor = 55000.0
  private val QuietBw32 = 105.7

  /** Hash of the hot-kernel classes' BYTECODE — unlike
    * `DocSig.kernelFingerprint` (output behavior), this moves on any
    * recompile of the code whose SPEED the quiet reference calibrates,
    * including output-identical optimizations.
    */
  private[graft] lazy val kernelCodeFingerprint: String = {
    val classes: Seq[Class[_]] = Seq(
      classOf[graft.pipeline.DocSig.Kernel], graft.kernel.TextNorm.getClass,
      graft.kernel.Shinglers.getClass, classOf[graft.kernel.MinHasher],
      graft.hash.SimHash.getClass, graft.hash.Murmur3.getClass,
      classOf[graft.kernel.Bands])
    val md = java.security.MessageDigest.getInstance("MD5")
    classes.foreach { c =>
      val in = c.getResourceAsStream("/" + c.getName.replace('.', '/') + ".class")
      if (in != null) try md.update(in.readAllBytes()) finally in.close()
    }
    md.digest().map("%02x".format(_)).mkString.take(12)
  }

  private lazy val quietRefFile =
    new java.io.File(s"/tmp/graft-bench-quiet-ref-$kernelCodeFingerprint.txt")

  /** Best pinned kernel8 probe observed under the current kernel bytecode
    * (0 if none recorded yet). Read once per run — observations recorded
    * during this run calibrate the NEXT run, keeping the factor definition
    * stable within one JSON line.
    */
  private lazy val storedQuietK8: Double =
    try {
      if (quietRefFile.exists())
        new String(java.nio.file.Files.readAllBytes(quietRefFile.toPath), "UTF-8").trim.toDouble
      else 0.0
    } catch { case _: Throwable => 0.0 }

  /** Effective quiet reference: the learned best is shrunk by the host's
    * measured fast/slow QUIET band (pinned quiet probes span ~0.65–1.0 of
    * best across days — BENCH.md r4/r5) so a slow-but-quiet window reads a
    * small label (~1.1), not a spurious >1.5 backoff; genuine steal
    * (observed 33.6k vs best 78.6k = 0.43×) still trips the gate. The
    * floor applies until the first quiet run under a new kernel learns a
    * value (0.70 × floor would under-detect).
    */
  private[graft] def quietRefK8: Double = math.max(QuietKernel8Floor, storedQuietK8 * 0.70)

  /** Record a pinned probe value as a quiet-reference candidate (max wins;
    * contended windows read LOW and are ignored by construction). Unpinned
    * fallback values are never recorded — they read systematically high by
    * spreading over idle cores and would poison the reference. The guard
    * re-reads the FILE (not the run-stable lazy `storedQuietK8`): with the
    * stale value a later lower probe in the same run would overwrite the
    * run's own best (last-wins-above-old-stored, not max-wins).
    */
  private def recordQuietObservation(k8: Double, pinned: Boolean): Unit =
    if (pinned) {
      try {
        val current =
          if (quietRefFile.exists())
            new String(java.nio.file.Files.readAllBytes(quietRefFile.toPath),
              "UTF-8").trim.toDouble
          else 0.0
        if (k8 > current)
          java.nio.file.Files.write(quietRefFile.toPath, f"$k8%.0f".getBytes("UTF-8"))
      } catch { case _: Throwable => () }
    }

  private[graft] final case class Probe(
      k8: Double, bw32: Double, factor: Double, pinned: Boolean)

  /** Kernel + bus probe with contention factor ≥ 1. A probe that failed
    * outright (returned ≤ 0, e.g. the in-process triad under memory
    * pressure) is excluded from the factor rather than driving it to
    * infinity and wedging the backoff loop.
    *
    * The kernel probe runs PINNED (forked under `taskset -c 0-7`) — the
    * same silicon the pinned dedup forks use. An unpinned probe spreads
    * its threads over all 32 host CPUs and AVERAGES AWAY hypervisor steal
    * concentrated on the low cores: an r4 recording measured every pinned
    * fork ~3× slow while unpinned probes read a quiet 1.00 throughout.
    * `pinned=false` marks the in-process fallback (its value is NOT
    * comparable to the pinned quiet reference — ship the flag so the
    * factor can be read with that caveat).
    */
  private[graft] def contentionProbe(): Probe = {
    val (k8, pinned) = pinnedKernelProbe(8)
    recordQuietObservation(k8, pinned)
    val bw = graft.tools.MemBandwidth.probe(32)
    val fk = if (k8 > 0) quietRefK8 / k8 else 1.0
    val fb = if (bw > 0) QuietBw32 / bw else 1.0
    Probe(k8, bw, math.max(1.0, math.max(fk, fb)), pinned)
  }

  /** 8-thread kernel docs/s measured in a fork pinned to cores 0-7 (the
    * cores every pinned dedup level uses); in-process unpinned fallback if
    * the fork fails — loudly, and flagged false in the result, because the
    * quiet reference was calibrated for the pinned flavor and an unpinned
    * value silently mis-scales the contention factor.
    */
  private[graft] def pinnedKernelProbe(cores: Int): (Double, Boolean) = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val cmd = Seq("taskset", "-c", s"0-${cores - 1}", javaBin,
      s"-XX:ActiveProcessorCount=$cores", "-Xmx2g",
      "-cp", cp, "graft.BenchProbePinned", cores.toString)
    def fallback(why: String): (Double, Boolean) = {
      System.err.println(s"[bench] WARNING: pinned kernel probe unavailable ($why); " +
        "using the UNPINNED in-process fallback — factor is mis-scaled vs the pinned quiet ref")
      (kernelRun(cores, 6000), false)
    }
    try {
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      proc.waitFor()
      out.linesIterator.find(_.startsWith("PINNED_KERNEL "))
        .map(l => (l.split(' ')(1).toDouble, true))
        .getOrElse(fallback("no PINNED_KERNEL line in fork output"))
    } catch {
      case e: Throwable => fallback(e.getMessage)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val sf = raw"sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble).getOrElse(0.1)
    // corpus sized so the dedup job is compute-bound, not overhead-bound
    // (scaling efficiency is meaningless on a job dominated by fixed stage
    // scheduling costs): 25× the table sf → ~290k docs at sf0.1
    val corpusSf = math.min(10.0, math.max(0.05, 25 * sf))

    // ONE recover-and-rerun policy for BOTH timed sections (query pass and
    // dedup levels — r5 only had it on the query pass, and the recorded
    // dedup headline was a labeled storm): if the section entered hot or
    // ended hot, back off while the window stays hot (bounded), and re-run
    // the section once on recovery. Returns (finalPostProbe, reran,
    // backoffs); a window that never recovers ships its >1 factor as the
    // label. Threshold/backoff tuned here apply to both sections by
    // construction.
    val HotFactor = 1.5
    def recoverAndRerun(section: String, enteredHot: Boolean, post: Probe,
        maxBackoffs: Int)(rerun: () => Probe): (Probe, Boolean, Int) = {
      var p = post
      var backoffs = 0
      if (!enteredHot && p.factor <= HotFactor) return (p, false, 0)
      while (backoffs < maxBackoffs && p.factor > HotFactor) {
        System.err.println(f"[bench] $section ran contended (post ${p.factor}%.2f); backing off 90s (${backoffs + 1}/$maxBackoffs)")
        backoffs += 1; Thread.sleep(90000); p = contentionProbe()
      }
      if (p.factor <= HotFactor) {
        System.err.println(s"[bench] window recovered; re-running $section")
        (rerun(), true, backoffs)
      } else (p, false, backoffs)
    }

    // ---- contention gate: probe FIRST, back off (bounded) while hot ----
    // this startup probe doubles as the QUERY-pass pre-probe: the query
    // loop starts immediately after it, under the same bounded backoff
    // policy as the dedup levels (the r3/r4 recordings proved the query
    // pass is just as window-hostage as the timed levels were)
    warmKernel()
    var queriesPre = contentionProbe()
    var queriesPreBackoffs = 0
    while (queriesPreBackoffs < 3 && queriesPre.factor > HotFactor) {
      System.err.println(f"[bench] contended window before query pass (factor ${queriesPre.factor}%.2f); backing off 90s (${queriesPreBackoffs + 1}/3)")
      queriesPreBackoffs += 1
      Thread.sleep(90000)
      queriesPre = contentionProbe()
    }

    // ---- headline operator queries on the driver-provided tables ----
    val headline = Seq("q_exact_dedup_groups", "q_token_count", "q_agg_rollup",
      "q_top_per_group", "q_argmax", "q_minhash_pairs", "q_minhash_clusters",
      "q_ngram_jaccard", "q_ann_lsh", "q_semdedup", "q_simhash", "q_event_window",
      "q_para_dedup", "q_gopher_quality",
      // r6: the remaining training-data-pipeline operators join the headline
      // set (each < ~3 s warm at sf0.1) so every pipeline op has a
      // per-round timing history, not just a one-off QueryTime table
      "q_dedup_spans", "q_decontam", "q_subword", "q_url_canon",
      "q_pii_redact", "q_url_filter", "q_split_assign", "q_repetition",
      "q_c4_rules")
    def timeAll(spark0: SparkSession): Seq[(String, Double)] =
      headline.flatMap { name =>
        SparkEntry.queries.get(name).map { fn =>
          val t0 = System.nanoTime()
          try { fn(spark0, sfDir).count() } catch { case _: Throwable => -1L }
          name -> (System.nanoTime() - t0) / 1e9
        }
      }
    // two passes: the first (reported as total_query_sec_cold) carries the
    // per-session fixed costs — JIT, codegen compilation, parquet footer
    // reads; the second is steady-state operator throughput. Both ship.
    def runQueryPass(): (Seq[(String, Double)], Seq[(String, Double)]) = {
      val spark0 = mkSession(cpus, cpus)
      try { (timeAll(spark0), timeAll(spark0)) } finally spark0.stop()
    }
    var (coldTimes, queryTimes) = runQueryPass()
    // post-queries probe: the pre-gate can't see the window turning DURING
    // the pass (the exact failure mode of the r3/r4 recorded per-query
    // tables). If the pass ENTERED hot (pre-gate exhausted its backoffs) or
    // ended hot, back off (bounded) and re-run it once in the recovered
    // window; if the window never recovers, the >1 factor ships as the label.
    val (qPost, queriesRerun, _) =
      recoverAndRerun("query pass",
        enteredHot = queriesPre.factor > HotFactor, contentionProbe(), 2) { () =>
        val (c2, q2) = runQueryPass()
        coldTimes = c2; queryTimes = q2
        contentionProbe()
      }
    val queriesPost = qPost
    val coldTotal = coldTimes.map(_._2).sum

    // ---- dedup throughput at two parallelism levels ----
    // SYMMETRIC best-of-2 at EVERY level: the sandbox host's throughput is
    // noisy (shared VM); min wall-clock approximates uncontended capability,
    // and taking it on both sides of each pair keeps the efficiency ratio
    // unbiased (best-of-N on one side only would inflate it)
    val corpusPath = ensureCorpus(corpusSf)
    val warmupPath = ensureCorpus(0.05)
    val tinyWarmupPath = ensureCorpus(0.02) // narrow levels: cheap JIT warm
    // re-probe just before the timed levels (the headline queries above take
    // minutes — the window can have turned either way); wait out a hot
    // window with bounded backoff rather than recording a lottery ticket
    // record the LAST pre-dedup probe: it, not the startup gate, describes
    // the window the timed levels actually entered (the startup value still
    // ships as factor_pre)
    var waits = 0
    var preDedup = contentionProbe()
    while (waits < 3 && preDedup.factor > HotFactor) {
      System.err.println(s"[bench] window still contended before dedup levels; backing off 90s (${waits + 1}/3)")
      Thread.sleep(90000); waits += 1
      preDedup = contentionProbe()
    }
    val r8 = Seq.fill(2)(dedupRun(8, 8, corpusPath, warmupPath))
    var r32 = Seq.fill(2)(dedupRun(32, 32, corpusPath, warmupPath))

    // ---- N→4N scaling criterion at CONSTANT per-core host resources ----
    // the cluster premise is that 4N executors bring 4× of every resource;
    // on one box that only holds while the shared memory bus is unsaturated,
    // so the canonical N→4N pair is measured at N=1 vs 4N=4 pinned cores
    // (per-core bandwidth constant — the MemBandwidth probe below shows the
    // bus itself scales 1→4 at ~0.8 but 8→32 at only ~0.4). Wider pairs
    // (8→32) are reported too — they measure the box's bus, not the plan
    // (the Spark-free kernel decays identically; see BENCH.md). Full corpus:
    // a small one would let the fixed per-JVM overhead dominate the narrow
    // level and distort the pair. Best-of-2 on BOTH sides.
    // best-of-3 on the criterion pair: a transient disturbance inside the
    // multi-minute dedup section lands between the bracketing probes
    // without tripping either (r5 observed local[4] forks 26-28 s in-bench
    // vs 22.4-22.8 s in three clean back-to-back forks — enough to swing
    // the pair from 0.86 to 0.76), and one extra run/side tightens that
    // tail for ~100 s of bench time
    var r1s = Seq.fill(3)(dedupRun(1, 1, corpusPath, tinyWarmupPath))
    var r4s = Seq.fill(3)(dedupRun(4, 4, corpusPath, tinyWarmupPath))

    // ---- dedup recover-and-rerun (the r5 asymmetry): the query pass
    // re-runs once when its window recovers, but the timed levels used to
    // record into whatever window existed after 3 exhausted backoffs —
    // BENCH_r05's recorded headline (11,471, scaling 0.711) was a labeled
    // 3.87× storm the same binary passes quiet (24,082, 0.861). Probe
    // AFTER the levels; if the section entered hot (pre-gate exhausted) or
    // ENDED hot (window turned mid-section), wait bounded for recovery and
    // re-run the headline local[32] level + the 1→4 criterion pair once
    // (best-of-2, ~6 min at sf0.1). A storm can now delay the artifact; it
    // can no longer BE the artifact unless it outlasts every backoff.
    val (dPost, dedupRerun, dedupRerunBackoffs) =
      recoverAndRerun("dedup levels (local[32] + the 1→4 pair)",
        enteredHot = preDedup.factor > HotFactor, contentionProbe(), 2) { () =>
        r32 = Seq.fill(2)(dedupRun(32, 32, corpusPath, warmupPath))
        r1s = Seq.fill(2)(dedupRun(1, 1, corpusPath, tinyWarmupPath))
        r4s = Seq.fill(2)(dedupRun(4, 4, corpusPath, tinyWarmupPath))
        contentionProbe()
      }
    val postDedup = dPost

    val (docs8, t8, _) = r8.minBy(_._2)
    val (docs32, t32, clusters) = r32.minBy(_._2)
    val tput8 = docs8 / t8
    val tput32 = docs32 / t32
    // NOTE: after a rerun the 8-side of this diagnostic pair is from the
    // contended window while the 32-side is post-recovery — the canonical
    // criterion pair below is rerun as a PAIR and stays window-consistent
    val eff8to32 = (tput32 / tput8) / 4.0
    val (d1, t1, _) = r1s.minBy(_._2)
    val (d4, t4, _) = r4s.minBy(_._2)
    val efficiency = ((d4 / t4) / (d1 / t1)) / 4.0

    // hardware-ceiling evidence: the identical per-doc kernel run on plain
    // JVM threads (no Spark) at 8 vs 32 threads — on a real 4x cluster the
    // added executors bring their own memory bandwidth; on this single host
    // they share it, and this measures that ceiling
    val (k8, k32) = kernelScaling()
    val kernelEff = (k32 / k8) / 4.0
    // direct bus-saturation measurement: aggregate STREAM-triad bytes/s at
    // 8 vs 32 pinned threads (no Spark, no JVM allocation in the loop) —
    // the binding constraint behind the wide-pair decay
    val (bw8, bw32) = memBandwidth()
    // guard the ratio: if a probe somehow still returned 0, emit null rather
    // than NaN (invalid JSON) for the derived field
    val bwEffStr = if (bw8 > 0) f"${(bw32 / bw8) / 4.0}%.3f" else "null"

    // post-run contention check: the factor that actually applied to the
    // timed levels (the pre-run gate can't see a window turning mid-run)
    val post = contentionProbe()
    val allPinned = queriesPre.pinned && queriesPost.pinned &&
      preDedup.pinned && postDedup.pinned && post.pinned
    // "learned" only when the learned value actually EXCEEDS the floor
    // after the 0.70 quiet-band shrink — i.e. when it is the effective ref
    val refSource =
      if (storedQuietK8 * 0.70 > QuietKernel8Floor) "learned" else "floor"
    val contention =
      f""""contention":{"factor_pre":${queriesPre.factor}%.2f,"factor_queries_pre":${queriesPre.factor}%.2f,"factor_queries_post":${queriesPost.factor}%.2f,"factor_pre_dedup":${preDedup.factor}%.2f,"factor_post":${post.factor}%.2f,"kernel8_probe_pre":${queriesPre.k8}%.0f,"membw32_probe_pre":${queriesPre.bw32}%.1f,"kernel8_probe_queries_post":${queriesPost.k8}%.0f,"membw32_probe_queries_post":${queriesPost.bw32}%.1f,"kernel8_probe_pre_dedup":${preDedup.k8}%.0f,"membw32_probe_pre_dedup":${preDedup.bw32}%.1f,"kernel8_probe_post":${post.k8}%.0f,"membw32_probe_post":${post.bw32}%.1f,"quiet_ref_kernel8":$quietRefK8%.0f,"quiet_ref_source":"$refSource","kernel_code_fingerprint":"$kernelCodeFingerprint","quiet_ref_membw32":$QuietBw32%.1f,"probe_mode":"${if (allPinned) "pinned" else "fallback_unpinned"}","queries_backoffs":$queriesPreBackoffs,"queries_rerun":$queriesRerun,"dedup_backoffs":$waits,"factor_post_dedup":${postDedup.factor}%.2f,"dedup_rerun":$dedupRerun,"dedup_rerun_backoffs":$dedupRerunBackoffs}"""

    val qs = queryTimes.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val total = queryTimes.map(_._2).sum
    // headline `value` = the FIXED local[32] level (never max across levels)
    val json =
      f"""{"metric":"dedup_docs_per_sec","value":$tput32%.1f,"unit":"docs/sec","queries":$qs,"sf":"$sfDir","total_query_sec":$total%.3f,"total_query_sec_cold":$coldTotal%.3f,$contention,"dedup":{"corpus_sf":$corpusSf,"docs":$docs32,"clusters":$clusters,"sec_local8":$t8%.3f,"sec_local32":$t32%.3f,"docs_per_sec_local8":$tput8%.1f,"docs_per_sec_local32":$tput32%.1f,"scaling_efficiency":$efficiency%.3f,"scaling_pair":"local[1] vs local[4], pinned cores, best-of-3 both sides (constant per-core host resources; see BENCH.md)","scaling_docs":$d1,"sec_local1":$t1%.3f,"sec_local4":$t4%.3f,"scaling_efficiency_8_32":$eff8to32%.3f,"runs_local1":[${r1s.map(r => f"${r._2}%.2f").mkString(",")}],"runs_local4":[${r4s.map(r => f"${r._2}%.2f").mkString(",")}],"runs_local8":[${r8.map(r => f"${r._2}%.2f").mkString(",")}],"runs_local32":[${r32.map(r => f"${r._2}%.2f").mkString(",")}],"kernel_docs_per_sec_8t":$k8%.0f,"kernel_docs_per_sec_32t":$k32%.0f,"kernel_scaling_efficiency":$kernelEff%.3f,"membw_8t_gbs":$bw8%.1f,"membw_32t_gbs":$bw32%.1f,"membw_scaling_8_32":$bwEffStr}}"""
    println(json)
    // also write the line to a plain file: the driver captures stdout
    // through sbt, whose "[info] " prefix breaks naive JSON parsing of the
    // recorded artifact (BENCH_r03/r04 both shipped "parsed": null)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("/tmp/graft-bench-last.json"), (json + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] could not write /tmp/graft-bench-last.json: ${e.getMessage}") }
  }

  /** Pinned-fork STREAM-triad aggregate GB/s at 8 and 32 threads (see
    * tools/MemBandwidth); falls back to in-process on fork failure.
    */
  private def memBandwidth(): (Double, Double) = {
    def run(threads: Int): Double = {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val cp = System.getProperty("java.class.path")
      val cmd = Seq("taskset", "-c", s"0-${threads - 1}", javaBin, "-Xmx6g",
        "-cp", cp, "graft.tools.MemBandwidth", "64", threads.toString)
      try {
        val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        val proc = pb.start()
        val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
        proc.waitFor()
        val parsed = out.linesIterator.filter(_.startsWith("MEMBW"))
          .map(_.split("aggregate=")(1).trim.split(" ")(0).toDouble)
          .foldLeft(0.0)(math.max)
        // a fork that produced no MEMBW line (e.g. OOM-killed) is a failure
        // too — 0.0 would poison the scaling ratio into NaN downstream
        if (parsed > 0) parsed else graft.tools.MemBandwidth.probe(threads)
      } catch {
        // no taskset / fork failure: run the triad in-process as documented
        case _: Throwable => graft.tools.MemBandwidth.probe(threads)
      }
    }
    (run(8), run(32))
  }

  // ---- pure-JVM kernel workload (shared by the scaling pair and the
  // contention probe): synthetic docs + a one-time JIT warm ----
  private lazy val kernelTexts: Array[String] = {
    val rng = new java.util.Random(1)
    def letters(v0: Long): String = {
      var v = math.abs(v0); val sb = new StringBuilder
      do { sb += ('a' + (v % 26)).toChar; v /= 26 } while (v > 0)
      sb.toString
    }
    (0 until 200).map { c =>
      (0 until 3).map(_ => (0 until 80)
        .map(_ => s"${letters(c)}q${letters(rng.nextInt(4000))}").mkString(" ")).mkString("\n\n")
    }.toArray
  }

  private lazy val warmKernelOnce: Unit = {
    val warm = new graft.pipeline.DocSig.Kernel(graft.kernel.GraftConfig.default)
    for (i <- 0 until 8000) warm.compute(s"w$i", kernelTexts(i % kernelTexts.length))
  }
  private[graft] def warmKernel(): Unit = warmKernelOnce

  /** docs/sec of the per-doc kernel on `n` plain JVM threads (no Spark). */
  private[graft] def kernelRun(n: Int, perThread: Int): Double = {
    warmKernel()
    val t0 = System.nanoTime()
    val threads = (0 until n).map { t =>
      new Thread(() => {
        val k = new graft.pipeline.DocSig.Kernel(graft.kernel.GraftConfig.default)
        var i = 0
        while (i < perThread) { k.compute(s"u$t-$i", kernelTexts((t * 31 + i) % kernelTexts.length)); i += 1 }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    n.toLong * perThread / ((System.nanoTime() - t0) / 1e9)
  }

  /** Pure-JVM thread scaling of the per-doc kernel: docs/sec at 8 and 32
    * threads, no Spark involved.
    */
  private def kernelScaling(): (Double, Double) =
    (kernelRun(8, 20000), kernelRun(32, 20000))
}

/** Fork target for the gate's pinned kernel probe: measures the 8-thread
  * kernel inside THIS JVM (launched under taskset by `pinnedKernelProbe`)
  * and prints one parseable line. */
object BenchProbePinned {
  def main(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else 8
    val v = Bench.kernelRun(cores, 6000)
    println(f"PINNED_KERNEL $v%.0f")
  }
}

/** Standalone run of the contention gate's probe — for (re)calibrating the
  * stored quiet-window references after a kernel change. */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    println(f"PROBE quiet_ref_kernel8=${Bench.quietRefK8}%.0f (fingerprint ${Bench.kernelCodeFingerprint})")
    for (_ <- 0 until (if (args.nonEmpty) args(0).toInt else 3)) {
      val p = Bench.contentionProbe()
      println(f"PROBE kernel8=${p.k8}%.0f docs/s membw32=${p.bw32}%.1f GB/s factor=${p.factor}%.2f pinned=${p.pinned}")
    }
  }
}
