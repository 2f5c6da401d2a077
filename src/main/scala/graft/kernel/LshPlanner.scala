package graft.kernel

/** LSH banding parameter planner — picks (bands b, rows r) for a MinHash
  * signature of `numPerms` positions so the banding S-curve
  * P(collide | s) = 1 − (1 − s^r)^b best separates pairs around a target
  * Jaccard threshold t (Mining of Massive Datasets §3.4; same optimization
  * the public `datasketch` MinHashLSH performs). False-positive area
  * ∫₀ᵗ P(s) ds and false-negative area ∫ₜ¹ (1 − P(s)) ds are integrated
  * numerically and combined with the caller's weights; all (b, r) with
  * b·r ≤ numPerms are scanned (numPerms ≤ a few hundred — trivial).
  *
  * The reference pins its banding statically (4-row bands × 20,
  * GraftConfig.bands); this planner is the knob a 10^12-doc deployment
  * turns when the dup threshold changes: fewer rows/band → recall at lower
  * similarity but hotter buckets (more candidate volume through the
  * stop-band cap), more rows/band → sharper precision. It emits a config,
  * not a different pipeline — `GraftConfig.forThreshold` plugs the plan
  * into the standard band tables.
  */
object LshPlanner {

  /** Probability two docs with Jaccard `s` share ≥1 of `b` bands of `r`
    * rows. */
  def collisionProb(s: Double, b: Int, r: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, r), b)

  final case class Plan(bands: Int, rows: Int, fpArea: Double, fnArea: Double) {
    def cost(fpWeight: Double, fnWeight: Double): Double =
      fpWeight * fpArea + fnWeight * fnArea
  }

  /** False-positive / false-negative S-curve areas around `threshold`
    * (midpoint rule, `steps` panels over each side). */
  def areas(threshold: Double, b: Int, r: Int, steps: Int = 1000): (Double, Double) = {
    var fp = 0.0
    var fn = 0.0
    var i = 0
    while (i < steps) {
      val sLo = threshold * (i + 0.5) / steps
      fp += collisionProb(sLo, b, r)
      val sHi = threshold + (1.0 - threshold) * (i + 0.5) / steps
      fn += 1.0 - collisionProb(sHi, b, r)
      i += 1
    }
    (fp * threshold / steps, fn * (1.0 - threshold) / steps)
  }

  /** Best (b, r) over the FULL grid b·r ≤ numPerms for `threshold`,
    * minimizing fpWeight·FP + fnWeight·FN; ties broken toward fewer bands
    * (less candidate volume), then more rows. The full grid matters: at
    * t=0.5/64 perms the optimum is (14, 4), which a maximal-b-per-r scan
    * (b = numPerms/r only) never evaluates.
    */
  def plan(threshold: Double, numPerms: Int,
      fpWeight: Double = 0.5, fnWeight: Double = 0.5): Plan = {
    require(threshold > 0.0 && threshold < 1.0, s"threshold in (0,1): $threshold")
    require(numPerms >= 2, s"numPerms >= 2: $numPerms")
    require(fpWeight >= 0 && fnWeight >= 0 && fpWeight + fnWeight > 0,
      "weights must be non-negative and not both zero")
    var best: Plan = null
    var bestCost = Double.MaxValue
    var r = 1
    while (r <= numPerms) {
      var b = 1
      while (b * r <= numPerms) {
        val (fp, fn) = areas(threshold, b, r)
        val c = fpWeight * fp + fnWeight * fn
        val better = c < bestCost - 1e-15
        val tie = math.abs(c - bestCost) <= 1e-15 && best != null &&
          (b < best.bands || (b == best.bands && r > best.rows))
        if (better || tie) {
          best = Plan(b, r, fp, fn)
          bestCost = c
        }
        b += 1
      }
      r += 1
    }
    best
  }
}
