package perfbench

/** Self-test of the seeded generators (run by perfbench/test_generator.py):
  * the same seed gives byte-identical inputs, another seed different ones,
  * and the feed keeps the recipe its truth record claims. Exits non-zero on
  * the first failed property. */
object GenCheck {
  private val spec = HederaGen.Spec(days = 3, files = 24, rowsPerFile = 200)

  private def bytes(seed: Long): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    HederaGen.generate(seed, spec).files.foreach(_.foreach(l => md.update((l + "\n").getBytes("UTF-8"))))
    val c = DocGen.generate(seed, 300, 3, 100)
    (c.base ++ c.batches.flatMap(_.docs)).foreach(d => md.update(s"${d.id}\t${d.text}\n".getBytes("UTF-8")))
    md.digest()
  }

  def main(args: Array[String]): Unit = {
    val failures = Seq.newBuilder[String]
    def check(name: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $name")
      if (!ok) failures += name
    }
    check("same seed gives byte-identical inputs",
      java.util.Arrays.equals(bytes(7), bytes(7)))
    check("different seed gives different inputs",
      !java.util.Arrays.equals(bytes(7), bytes(8)))

    val feed = HederaGen.generate(7, spec)
    val t = feed.truth
    val Ts = "\"consensusTimestamp\":\"?(\\d+)".r.unanchored
    val keys = feed.files.flatten.collect { case l @ Ts(ts) if l.endsWith("}") => ts.toLong }
    check("files are ordered in time", keys.zip(keys.drop(1)).forall { case (a, b) => a <= b })
    // every 5th generated row is emitted twice, unless that row was truncated
    val rows = t.uniqueKeys + t.malformed
    check("planted duplicates are every 5th row, each emitted twice",
      keys.size - keys.distinct.size == t.duplicates &&
        t.duplicates <= rows / 5 && t.duplicates >= rows / 5 - t.malformed)
    val lines = feed.files.map(_.length).sum
    check("~1 % of lines are truncated JSON",
      t.malformed > 0 && t.malformed < lines / 50 && feed.files.flatten.count(!_.endsWith("}")) == t.malformed)
    check("transfer lists sum to zero", t.netByAccount.values.sum == 0L)
    check("rows per day and per type add up to the unique keys",
      t.rowsPerDay.values.sum == t.uniqueKeys && t.rowsPerType.values.sum == t.uniqueKeys &&
        t.rowsPerDay.size >= spec.days)

    val c = DocGen.generate(7, 300, 3, 100)
    check("every batch plants index and in-batch duplicates",
      c.batches.forall(b => b.plantedIndexDups > 0 && b.plantedIntraDups > 0 &&
        b.expected.size == b.docs.length - b.plantedIndexDups - b.plantedIntraDups))
    val bad = failures.result()
    if (bad.nonEmpty) sys.exit(1)
  }
}
