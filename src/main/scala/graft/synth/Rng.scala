package graft.synth

import graft.functions.TextHashes

/** SplitMix64 — deterministic, splittable, JVM-stable PRNG used for all
  * synthetic data (corpus, page noise). No java.util.Random so stream
  * semantics are fully owned by this repo.
  */
final class Rng(seed: Long) {
  private var s: Long = seed

  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    TextHashes.mix(s)
  }

  /** Uniform in [0, bound). */
  def nextInt(bound: Int): Int = java.lang.Math.floorMod(nextLong(), bound.toLong).toInt

  /** Uniform in [lo, hi]. */
  def between(lo: Int, hi: Int): Int = lo + nextInt(hi - lo + 1)
}
