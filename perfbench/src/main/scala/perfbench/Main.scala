package perfbench

import java.nio.file.{Path, Paths}
import org.apache.spark.sql.SparkSession
import graft.corpus.CorpusGen
import graft.kernel.GraftConfig
import graft.pipeline.DocSig

/** The benchmark program: one process, Spark at local[nproc] with shuffle
  * partitions = nproc, one closed-loop client.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  *
  * Set-up runs `SetupReps` times and reports its median. One untimed warm-up
  * operation follows (it also carries the workload's one-off correctness
  * check), then operations run back to back until `--seconds` have passed.
  * With `--trace 0` the result holds the end-to-end metrics; with
  * `--trace 1` it holds the per-layer metrics of a traced run, and the span
  * file is written under `<out>/trace`. The result is the last stdout line.
  */
object Main {
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, out: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace == "1",
      Paths.get(need("out")).toAbsolutePath)
  }

  def session(cores: Int, out: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "96m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "96m")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Single-thread signature kernel throughput over `texts`, no Spark. */
  def kernelDocsPerSec(texts: IndexedSeq[String], minSeconds: Double): Double = {
    val k = new DocSig.Kernel(GraftConfig.default)
    val w0 = System.nanoTime()
    while ((System.nanoTime() - w0) / 1e9 < minSeconds / 2) texts.foreach(t => k.compute("w", t))
    var n = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < minSeconds) {
      texts.foreach(t => k.compute("u", t))
      n += texts.length
    }
    n / ((System.nanoTime() - t0) / 1e9)
  }

  /** Host window probe: a fixed text set, independent of the workload and
    * seed. A diagnostic of window noise only; nothing depends on it.
    */
  lazy val probeTexts: IndexedSeq[String] =
    (0L until 60L).flatMap(c => CorpusGen.clusterDocs(42L, c).take(1).map(_.text))
  def hostProbe(): Double = kernelDocsPerSec(probeTexts, 0.3)

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  val ListenerSpans = Seq("pipeline.extract_sign", "pipeline.exact", "pipeline.bands",
    "pipeline.candidates", "pipeline.verify", "cluster.cc", "pipeline.assign",
    "incremental.drop")

  /** Every per-layer metric with its unit, in report order. A layer that
    * the workload does not exercise reports 0.
    */
  def perLayerUnits(leaves: Seq[String]): Seq[(String, String)] = {
    val stageCounts = Seq(
      "pipeline.extract_sign.rows", "pipeline.extract_sign.hashable",
      "pipeline.exact.groups", "pipeline.exact.edges", "pipeline.bands.postings",
      "pipeline.candidates.raw_pairs", "pipeline.candidates.pairs",
      "pipeline.candidates.hot_keys", "pipeline.verify.pairs",
      "cluster.cc.edges", "cluster.cc.components", "cluster.cc.iterations")
    Seq("kernel.docs_per_s" -> "1/s") ++
      ListenerSpans.filter(_ != "incremental.drop").map(s => s"$s.s" -> "s") ++
      stageCounts.map(_ -> "count") ++
      Seq("pipeline.verify.yield" -> "ratio") ++
      ListenerSpans.flatMap(s => Seq(s"$s.jobs" -> "count", s"$s.task_cpu_s" -> "s",
        s"$s.utilization" -> "ratio", s"$s.shuffle_read_bytes" -> "B",
        s"$s.shuffle_write_bytes" -> "B", s"$s.spill_bytes" -> "B", s"$s.gc_s" -> "s")) ++
      Seq("incremental.drop.s" -> "s", "storage.bytes_written" -> "B",
        "ledger.compactions" -> "count") ++
      leaves.map(q => s"ops.$q.s" -> "s") ++
      Seq("pipeline.leftover_rdd_blocks" -> "count", "ops.leftover_rdd_blocks" -> "count",
        "host.kernel_probe_docs_per_s.before" -> "1/s",
        "host.kernel_probe_docs_per_s.after" -> "1/s", "trace.overhead" -> "ratio")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, a.out)
    val code = try { run(a, spark, cores); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    } finally {
      spark.stop()
      // generated inputs are rebuilt by every run; only span files are kept
      Workload.deleteTree(Workload.inputDir(a.out, a.workload, a.seed))
    }
    sys.exit(code)
  }

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** A timed operation that throws counts as failed; the run goes on. */
  private def attempt(f: => Op): Op = {
    val t0 = System.nanoTime()
    try f catch {
      case scala.util.control.NonFatal(e) =>
        Op((System.nanoTime() - t0) / 1e9, 0L, ok = false, s"threw $e")
    }
  }

  def run(a: Args, spark: SparkSession, cores: Int): Unit = {
    val w = Workload(a.workload, spark, a.seed, a.out)
    val setupS = (1 to SetupReps).map(_ => Workload.timed(w.setup())._2)
    log(s"setup: ${setupS.map(x => f"$x%.2f").mkString(" ")} s")
    val warm = w.warmup()
    log(f"warm-up: ${warm.seconds}%.2f s ok=${warm.ok} ${warm.detail}")
    var ops = Vector(warm)
    // taken once the warm-up has compiled the kernel, right before and
    // right after the measured part
    val probeBefore = hostProbe()
    log(f"host kernel probe before: $probeBefore%.0f docs/s")
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val t0 = System.nanoTime()
        var timedOps = Vector.empty[Op]
        while (timedOps.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) {
          val o = attempt(w.op(timedOps.length))
          log(f"op ${timedOps.length}: ${o.seconds}%.3f s ok=${o.ok} ${o.detail}")
          timedOps :+= o
        }
        ops ++= timedOps
        val secs = timedOps.map(_.seconds)
        val (recall, precision) = w.quality
        Seq(
          ("setup_s", Stats.median(setupS), "s"),
          ("docs_per_s", Stats.median(timedOps.map(o => o.docs / o.seconds)), "1/s"),
          ("op_s_p50", Stats.median(secs), "s"),
          ("peak_rss_mb", peakRssMb(), "MB"),
          ("pair_recall", recall, "ratio"),
          ("pair_precision", precision, "ratio"))
      } else {
        val tr = new Tracer(spark.sparkContext, s"${a.workload}-${a.seed}")
        val (layer, checked) = w.traced(tr)
        ops :+= checked
        log(s"traced run: ok=${checked.ok} ${checked.detail}")
        val kernel = kernelDocsPerSec(w.texts.toIndexedSeq, 1.0)
        val listener = ListenerSpans.flatMap { name =>
          val spans = tr.spansNamed(name)
          def sum(k: String) = spans.map(s => tr.countersOf(s).getOrElse(k, 0.0)).sum
          val wall = spans.map(_.durationNs / 1e9).sum
          Seq("jobs", "task_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "gc_s").map(k => s"$name.$k" -> sum(k)) ++
            Seq(s"$name.utilization" -> (if (wall == 0) 0.0 else sum("task_cpu_s") / (cores * wall))) ++
            (if (name == "incremental.drop") Nil
             else Seq(s"$name.s" -> spans.map(tr.selfSeconds).sum))
        }.toMap
        tr.write(a.out.resolve(s"trace/${a.workload}-seed${a.seed}.jsonl"))
        tr.close()
        val probeAfter = hostProbe()
        val values = layer ++ listener ++ Map(
          "kernel.docs_per_s" -> kernel,
          "host.kernel_probe_docs_per_s.before" -> probeBefore,
          "host.kernel_probe_docs_per_s.after" -> probeAfter)
        perLayerUnits(OpsSuite.Leaves).map { case (k, u) =>
          (k, values.getOrElse(k, 0.0), u)
        }
      }
    if (!a.trace) log(f"host kernel probe after: ${hostProbe()}%.0f docs/s")
    val failed = ops.count(!_.ok)
    val body = metrics.map { case (k, v, u) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    println(s"""RESULT {"correct": ${failed == 0}, "attempted": ${ops.length}, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }
}
