package graft

/** Round-7 measurement harness (guide §1): times individual SparkEntry
  * queries under EXACTLY the session configuration `graft.Bench` uses, with
  * both the bench action (`count()`, what the frozen Bench times) and the
  * noop sink (`write.format("noop")`, guide §1.4 — computes every column so
  * per-operator cost is not hidden by count-pruning), and optionally dumps
  * `explain("formatted")` per query for the plans/ artifacts, with AQE's
  * runtime `Statistics(...)` annotations stripped.
  *
  * Usage: runMain graft.BenchExtra <sfDir> <reps> [--noop] [--plans <dir>]
  *        [query ...]      (no names = the Bench headline set)
  *
  * This is a diagnostic main only: the recorded artifact stays graft.Bench,
  * whose methodology is frozen.
  */
object BenchExtra {

  /** The Bench headline set, in Bench order. */
  val headline = Seq("q_exact_dedup_groups", "q_token_count", "q_agg_rollup",
    "q_top_per_group", "q_argmax", "q_minhash_pairs", "q_minhash_clusters",
    "q_ngram_jaccard", "q_ann_lsh", "q_semdedup", "q_simhash", "q_event_window",
    "q_para_dedup", "q_gopher_quality",
    "q_dedup_spans", "q_decontam", "q_subword", "q_url_canon",
    "q_pii_redact", "q_url_filter", "q_split_assign", "q_repetition",
    "q_c4_rules")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val rest = args.drop(2)
    val useNoop = rest.contains("--noop")
    val plansDir = rest.sliding(2).collectFirst {
      case Array("--plans", d) => d
    }
    val names0 = rest.filterNot(_ == "--noop")
      .sliding(1).flatten.toSeq
      .filterNot(a => a == "--plans" || plansDir.contains(a))
    val names = if (names0.isEmpty) headline else names0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

    val spark = Bench.mkSession(cpus, cpus)
    // Plan capture via QueryExecutionListener: several queries end in an
    // eager localCheckpoint, so their own `explain` is just a Scan
    // ExistingRDD — the REAL plans are the ones executed while the query
    // materializes. Record every executed plan (including intermediate
    // actions like count probes) into <dir>/<name>.txt, in execution order.
    val currentName = new java.util.concurrent.atomic.AtomicReference[String]("")
    val capture = new java.util.concurrent.ConcurrentHashMap[String, StringBuilder]()
    if (plansDir.isDefined) {
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
          val n = currentName.get()
          if (n.nonEmpty) {
            val plan = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
            val sb = capture.computeIfAbsent(n, _ => new StringBuilder)
            sb.synchronized {
              sb.append(f"==== executed action: $funcName (${durationNs / 1e6}%.0f ms) ====\n")
              sb.append(plan).append("\n")
            }
          }
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
      })
    }
    plansDir.foreach(d => new java.io.File(d).mkdirs())
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      plansDir.foreach { d =>
        currentName.set(name)
        capture.put(name, new StringBuilder)
        val df = fn(spark, sfDir) // may itself execute (eager checkpoints)
        val top = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Thread.sleep(2000) // QueryExecutionListener events are async — drain
        currentName.set("")
        val inner = capture.get(name).toString
        // AQE prints each query stage's runtime Statistics(sizeInBytes=…,
        // rowCount=…), which two runs of the same plan need not share (a
        // cache stage read mid-fill has no rowCount yet): drop them so
        // captures of the same code diff clean
        val text = (inner + "==== final (returned) plan ====\n" + top)
          .replaceAll(""", Statistics\([^)]*\)""", "")
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/$name.txt"),
          text.getBytes("UTF-8"))
      }
      val times = (1 to reps).map { r =>
        spark.sparkContext.setJobDescription(s"$name rep$r")
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val n = if (useNoop) { df.write.format("noop").mode("overwrite").save(); -1L }
        else df.count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"TIME $name rep$r $dt%.3f s rows=$n")
        dt
      }
      println(f"BEST $name ${times.min}%.3f s  (${times.map(t => f"$t%.2f").mkString(", ")})")
    }
    spark.stop()
  }
}
