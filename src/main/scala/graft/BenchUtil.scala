package graft

/** Small helpers shared by the bench harnesses (Bench, PipelineBench,
  * StreamBench, GenSkew) — one copy, so a fix never silently misses a
  * sibling. */
object BenchUtil {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) -1.0 else xs.sorted.apply(xs.size / 2)

  def p95(xs: Seq[Double]): Double =
    if (xs.isEmpty) -1.0
    else xs.sorted.apply(math.min(xs.size - 1, (xs.size * 0.95).toInt))

  /** `f` over a fresh temp dir that is deleted afterwards, thrown or not. */
  def withTempDir[T](prefix: String)(f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try f(dir) finally deleteRecursively(new java.io.File(dir))
  }

  def deleteRecursively(f: java.io.File): Unit = {
    // NEVER traverse a symlink: listFiles() resolves links, so recursing
    // through a symlinked directory entry would enumerate — and delete —
    // the TARGET's children (the join-skew bench dir symlinks the shared
    // test corpus). A link is deleted as the link itself.
    if (!java.nio.file.Files.isSymbolicLink(f.toPath)) {
      val children = f.listFiles()
      if (children != null) children.foreach(deleteRecursively)
    }
    f.delete(): Unit
  }
}
