package graft.util

/** The splitmix64 stream (Steele, Lea & Flood 2014): every seeded 64-bit
  * draw in the engine — MinHash permutations, hyperplane LSH planes,
  * planted image noise — comes from this one generator, so a given seed
  * yields the same stream everywhere. Not thread-safe: one instance per
  * consumer. */
private[graft] final class SplitMix64(seed: Long) {
  private var x = seed

  def next(): Long = {
    x += 0x9e3779b97f4a7c15L
    var z = x
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}
