package graft.tools

/** Materialize the deterministic synthetic bench corpus at one or more
  * scale factors via `Bench.ensureCorpus` — the SAME contract (path
  * scheme, seed, write settings) the benchmark itself uses, so profiling
  * tools never measure a divergent corpus. (`Bench` generates these
  * lazily itself; this exists so DedupRunOne and the other profiling mains can
  * run standalone without first running the full bench.)
  */
object GenCorpus {
  def main(args: Array[String]): Unit = {
    val sfs = if (args.nonEmpty) args.map(_.toDouble).toSeq else Seq(0.02, 0.05, 2.5)
    sfs.foreach { sf =>
      val t0 = System.nanoTime()
      val path = graft.Bench.ensureCorpus(sf)
      println(f"ensured $path in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
  }
}
