package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark
import graft.dedup.TextDedup._

class TextDedupSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog while the " +
    "spark engine shuffles partitions across the cluster with broadcast joins " +
    "and adaptive query execution for large scale data processing pipelines"

  /** Corpus with planted near-dups: 1↔2 near-identical, 3 exact dup of 1,
    * 4..n unrelated. */
  private def corpus(n: Int = 40) = {
    val mutated = base.replace("quick", "speedy").replace("lazy", "sleepy")
    val rnd = new scala.util.Random(3)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "metric", "vector",
      "stream", "batch", "table", "join", "filter", "window", "hash")
    val unrelated = (4 to n).map(i =>
      (i.toLong, Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(s"doc$i ", " ", "")))
    (Seq((1L, base), (2L, mutated), (3L, base.toUpperCase)) ++ unrelated)
      .toDF("doc_id", "text")
  }

  test("exact dedup: case/whitespace-normalized duplicates collapse") {
    val groups = exactDuplicateGroups(corpus(), "doc_id", "text")
    val dupGroup = groups.filter(col("n_dups") > 1).collect()
    assert(dupGroup.length === 1)
    assert(dupGroup.head.getAs[Long]("keep_doc_id") === 1L)
    assert(dupGroup.head.getAs[Long]("n_dups") === 2L)
    assert(exactDedup(corpus(), "doc_id", "text").count() === corpus().count() - 1)
  }

  test("minhash LSH finds the planted near-dup pair and skips unrelated docs") {
    val pairs = nearDuplicatePairs(corpus(), "doc_id", "text",
      MinHashConfig(jaccardThreshold = 0.3))
      .as[(Long, Long, Long, Double)].collect()
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((1L, 2L)))
    assert(ids.contains((1L, 3L))) // exact dup: jaccard 1.0
    // no unrelated doc pairs at this threshold
    assert(pairs.forall { case (a, b, _, j) => j >= 0.3 && a < b })
    assert(!ids.exists { case (a, b) => a > 3 && b > 3 })
  }

  test("cross-corpus near-dup pairs: planted paraphrase leaks are found, same-side pairs never form") {
    val c = corpus()
    // eval = docs 1 and 3 (near-identical to each other); train = the rest,
    // including doc 2 (a paraphrase of eval doc 1) — the fuzzy leak.
    val eval = c.filter(col("doc_id").isin(1L, 3L))
    val train = c.filter(!col("doc_id").isin(1L, 3L))
    val pairs = crossNearDupPairs(train, eval, "doc_id", "text",
        MinHashConfig(jaccardThreshold = 0.3))
      .as[(Long, Long, Long, Double)].collect()
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((2L, 1L)), s"paraphrase leak 2~1 missed: $ids")
    assert(ids.contains((2L, 3L)), s"leak vs the eval exact-dup missed: $ids")
    // left side only from train, right side only from eval — the eval pair
    // (1,3) must NOT appear even though it is a true near-dup
    assert(pairs.forall { case (l, r, _, j) =>
      !Set(1L, 3L).contains(l) && Set(1L, 3L).contains(r) && j >= 0.3
    }, s"same-side or sub-threshold pair leaked through: ${pairs.toSeq}")
  }

  test("minhash dedup drops near-dup losers, keeps the rest") {
    val kept = minHashDedup(corpus(), "doc_id", "text",
      MinHashConfig(jaccardThreshold = 0.3))
    assert(kept.filter(col("doc_id") === 1).count() === 1)
    assert(kept.filter(col("doc_id").isin(2, 3)).count() === 0)
    assert(kept.count() === corpus().count() - 2)
  }

  test("simhash: near-dups within small hamming distance, banding finds them") {
    val pairs = simHashPairs(corpus(), "doc_id", "text", maxHamming = 12)
      .as[(Long, Long, Long)].collect()
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((1L, 3L))) // normalized-exact: hamming 0
    val h13 = pairs.find(p => p._1 == 1L && p._2 == 3L).get._3
    assert(h13 === 0L)
  }

  test("short docs (< shingleK tokens) are never reported as near-dups nor dropped") {
    // Empty shingle sets produce identical all-sentinel MinHash signatures
    // (collide in every band) and a 0/0 = NaN jaccard; without the
    // empty-set exclusion + isnan guard these unrelated docs would pair up
    // and minHashDedup would silently drop them.
    val shorts = Seq((100L, "one"), (101L, "two words"), (102L, ""), (103L, "  "))
    val docs = corpus().union(shorts.toDF("doc_id", "text"))
    val pairs = nearDuplicatePairs(docs, "doc_id", "text",
      MinHashConfig(jaccardThreshold = 0.3))
      .as[(Long, Long, Long, Double)].collect()
    assert(!pairs.exists(p => p._1 >= 100L || p._2 >= 100L))
    assert(pairs.forall(p => !p._4.isNaN))
    val kept = minHashDedup(docs, "doc_id", "text", MinHashConfig(jaccardThreshold = 0.3))
    assert(kept.filter(col("doc_id") >= 100).count() === shorts.size)
  }

  test("jaccard verification values are sane") {
    val pairs = nearDuplicatePairs(corpus(), "doc_id", "text",
      MinHashConfig(jaccardThreshold = 0.3))
      .as[(Long, Long, Long, Double)].collect()
    val j13 = pairs.find(p => p._1 == 1L && p._2 == 3L).get._4
    assert(j13 === 1.0) // identical after normalization
    val j12 = pairs.find(p => p._1 == 1L && p._2 == 2L).get._4
    assert(j12 > 0.3 && j12 < 1.0)
  }

  test("one-shot MinHash entry points leave nothing in the CacheManager") {
    spark.catalog.clearCache()
    val cm = spark.sharedState.cacheManager
    val cfg = MinHashConfig(jaccardThreshold = 0.3)
    assert(nearDuplicatePairs(corpus(), "doc_id", "text", cfg).count() > 0)
    assert(cm.isEmpty, "nearDuplicatePairs left a cache entry")
    assert(minHashDedup(corpus(), "doc_id", "text", cfg).count() > 0)
    assert(cm.isEmpty, "minHashDedup left a cache entry")
    assert(crossNearDupPairs(corpus(), corpus(), "doc_id", "text", cfg).count() > 0)
    assert(cm.isEmpty, "crossNearDupPairs left a cache entry")
  }
}
