package graft.kernel

import graft.hash.Murmur3

/** LSH band hashing, ≅ StorageInterface.getBandHashesForMinHash
  * (/root/reference/mcrit/storage/StorageInterface.py:731-746): per band,
  * gather signature values at the projected indices and mmh3-hash the
  * decimal-stringified concatenation with seed 0 (exactly the reference's
  * `MinHash.hashData(list, 0)` list-stringification,
  * /root/reference/mcrit/minhash/MinHash.py:76-81).
  */
final class Bands(cfg: GraftConfig) extends Serializable {
  // projection is derived deterministically from the band seed; safe to
  // recompute per executor (small: numBands × bandSize ints)
  @transient private lazy val projection: Array[Array[Int]] = cfg.bandProjection
  // decimal bytes of the widest band: every int takes ≤ MaxIntChars
  @transient private lazy val scratchBytes: Int =
    projection.foldLeft(0)((m, idx) => math.max(m, idx.length)) * Bands.MaxIntChars

  /** bandId -> 64-bit band hash from an unpacked signature: the LOW 32
    * bits are exactly the reference's `MinHash.hashData(list, 0)` value
    * (mmh3 seed 0 of the stringified band — bit-parity preserved); the
    * HIGH 32 bits are an independent second hash (seed 1) of the same
    * string. Two signatures with equal projected band values still agree
    * on the full 64 bits (same string → same hashes), so true candidates
    * are unchanged — the extension only removes 32-bit ALIASING between
    * different band strings. That matters at the 10^12-doc design point:
    * ~10^12 postings per band table into 2^32 buckets would average
    * ~250 UNRELATED postings per bucket (pure junk candidate pairs, and
    * enough to push every bucket toward the stop-band cap); 2^64 keeps
    * buckets content-defined.
    */
  def bandHashes(sig: Array[Int]): Array[Long] = {
    val proj = projection
    val out = new Array[Long](proj.length)
    val buf = Bands.scratch(scratchBytes)
    var b = 0
    while (b < proj.length) {
      val idx = proj(b)
      var pos = 0
      var i = 0
      while (i < idx.length) { pos = Bands.writeIntAscii(buf, pos, sig(idx(i))); i += 1 }
      // same bytes the old form hashed (decimal stringification is pure
      // ASCII, so UTF-8 of the concatenated string == these bytes), without
      // materializing the String or encoding it once per seed — band
      // hashing runs over every posting of every banded doc (hot path)
      out(b) = Murmur3.hashU(buf, 0, pos, 0) | (Murmur3.hashU(buf, 0, pos, 1) << 32)
      b += 1
    }
    out
  }
}

object Bands {
  /** Longest decimal form of an Int: "-2147483648". */
  private val MaxIntChars = 11

  private val scratchLocal = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](1024)
  }

  /** Per-thread decimal scratch of at least `bytes` bytes, grown on demand
    * (a band of bandSize ints needs ≤ bandSize × MaxIntChars). */
  private def scratch(bytes: Int): Array[Byte] = {
    val cur = scratchLocal.get()
    if (cur.length >= bytes) cur
    else { val b = new Array[Byte](bytes); scratchLocal.set(b); b }
  }

  /** Writes `v`'s decimal representation (exactly `Integer.toString`) at
    * `pos`, returning the new position. Callers must leave ≥ MaxIntChars
    * bytes of headroom per int — `scratch` is sized from the widest band. */
  private[kernel] def writeIntAscii(buf: Array[Byte], pos: Int, v: Int): Int = {
    var p = pos
    var x = v.toLong // Int.MinValue-safe negation
    if (x < 0) { buf(p) = '-'; p += 1; x = -x }
    // digits emitted most-significant first via a fixed 10-digit scan
    var started = false
    var div = 1000000000L
    while (div > 0) {
      val d = (x / div).toInt
      if (d != 0 || started || div == 1L) {
        buf(p) = ('0' + d).toByte; p += 1; started = true
      }
      x %= div
      div /= 10
    }
    p
  }
}
