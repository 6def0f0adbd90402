package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded Hedera transaction feed, after the reference generator recipe
  * (FIXTURES.md §1-2): time-ordered JSONL files across `days` event days,
  * every 5th row duplicated right after itself, ~1 % of lines truncated
  * JSON for the dead-letter path, and transfer lists that sum to zero.
  * The generator emits its own truth, which the correctness checks read. */
object HederaGen {

  final case class Spec(days: Int, files: Int, rowsPerFile: Int)

  /** What the generated feed must land as. Counts are over UNIQUE rows
    * (duplicates and malformed lines excluded). */
  final case class Truth(
      uniqueKeys: Long, duplicates: Long, malformed: Long,
      rowsPerDay: Map[String, Long], rowsPerType: Map[Long, Long],
      netByAccount: Map[Long, Long], keys: Array[Long],
      minTsNs: Long, maxTsNs: Long)

  final case class Feed(files: IndexedSeq[Array[String]], truth: Truth)

  /** 2019-10-11T00:00:00Z, the day of the reference fixtures. */
  val EpochStartNs: Long = 1570752000L * 1000000000L
  private val DayNs = 86400L * 1000000000L
  private val Types = Array(14L, 14L, 14L, 14L, 11L, 27L, 7L, 16L)

  def generate(seed: Long, spec: Spec): Feed = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val total = spec.files.toLong * spec.rowsPerFile
    // mean inter-arrival spreads the ~5/6 of lines that are unique rows
    // evenly over `days` days
    val meanGapNs = spec.days * DayNs / math.max(1L, total * 5 / 6)
    var ts = EpochStartNs + 1000
    var row = 0L
    var dups, bad = 0L
    val perDay = scala.collection.mutable.TreeMap.empty[String, Long]
    val perType = scala.collection.mutable.TreeMap.empty[Long, Long]
    val net = scala.collection.mutable.TreeMap.empty[Long, Long]
    val keys = Array.newBuilder[Long]
    val files = (0 until spec.files).map { _ =>
      val lines = Array.newBuilder[String]
      var n = 0
      while (n < spec.rowsPerFile) {
        ts += 1 + rnd.nextLong(2 * meanGapNs)
        val tx = transaction(rnd, ts)
        row += 1
        if (rnd.nextInt(100) == 0) {
          // truncated JSON: cut strictly inside the object, never after a brace
          val cut = tx.json.substring(0, 10 + rnd.nextInt(tx.json.length - 20))
          lines += cut.reverse.dropWhile(_ == '}').reverse
          bad += 1
        } else {
          lines += tx.json
          keys += ts
          val day = java.time.LocalDate.ofEpochDay(Math.floorDiv(ts, DayNs)).toString
          perDay(day) = perDay.getOrElse(day, 0L) + 1
          perType(tx.txType) = perType.getOrElse(tx.txType, 0L) + 1
          tx.transfers.foreach { case (acct, amt) => net(acct) = net.getOrElse(acct, 0L) + amt }
          if (row % 5 == 0) { lines += tx.json; dups += 1; n += 1 }
        }
        n += 1
      }
      lines.result()
    }
    val ks = keys.result()
    Feed(files, Truth(ks.length.toLong, dups, bad, perDay.toMap, perType.toMap,
      net.toMap, ks, ks.headOption.getOrElse(0L), ks.lastOption.getOrElse(0L)))
  }

  final case class Tx(json: String, txType: Long, transfers: Seq[(Long, Long)])

  private def acct(sb: StringBuilder, num: Long): Unit =
    sb.append("{\"shardNum\":0,\"realmNum\":0,\"accountNum\":").append(num).append('}')

  /** One transaction line. int64 fields alternate between JSON numbers and
    * quoted strings (the wire form carries both; the parser accepts both). */
  private def transaction(rnd: SplittableRandom, ts: Long): Tx = {
    val txType = Types(rnd.nextInt(Types.length))
    val payer = 1001L + rnd.nextInt(400)
    val node = 3L + rnd.nextInt(4)
    val fee = 50000L + rnd.nextInt(200000)
    val amount = if (txType == 14L) 1L + rnd.nextInt(1000000) else 0L
    val recipient = 1001L + rnd.nextInt(400)
    val nodeShare = fee / 4
    val transfers = Seq(payer -> -(fee + amount), node -> nodeShare, 98L -> (fee - nodeShare)) ++
      (if (amount > 0) Seq(recipient -> amount) else Nil)
    val q = if ((ts & 1L) == 0L) "\"" else ""
    val sb = new StringBuilder(640)
    sb.append("{\"consensusTimestamp\":").append(q).append(ts).append(q)
    sb.append(",\"transactionType\":").append(txType)
    if (txType != 14L) {
      sb.append(",\"entity\":{\"shardNum\":0,\"realmNum\":0,\"entityNum\":")
        .append(20000L + rnd.nextInt(300)).append(",\"type\":").append(txType % 4 + 1).append('}')
    }
    val validStart = ts / 1000000000L - 1 - rnd.nextInt(5)
    sb.append(",\"transaction\":{\"body\":{\"transactionID\":{\"transactionValidStart\":{\"seconds\":")
      .append(validStart).append(",\"nanos\":").append(rnd.nextInt(1000000000))
      .append("},\"accountID\":")
    acct(sb, payer)
    sb.append("},\"nodeAccountID\":"); acct(sb, node)
    sb.append(",\"transactionFee\":\"").append(fee).append('"')
    sb.append(",\"transactionValidDuration\":{\"seconds\":120},\"memo\":\"bench ")
      .append(rnd.nextInt(1000000)).append('"')
    if (txType == 11L)
      sb.append(",\"cryptoCreateAccount\":{\"initialBalance\":").append(amount)
        .append(",\"proxyAccountID\":{\"shardNum\":0,\"realmNum\":0,\"accountNum\":0}}")
    if (txType == 27L)
      sb.append(",\"consensusSubmitMessage\":{\"message\":\"aGVkZXJhIGJlbmNo\"}")
    sb.append("}},\"transactionRecord\":{\"receipt\":{\"status\":\"SUCCESS\"},\"transactionHash\":\"")
    val hash = new Array[Byte](24); rnd.nextBytes(hash)
    sb.append(java.util.Base64.getEncoder.encodeToString(hash))
    sb.append("\",\"transactionFee\":").append(q).append(fee).append(q)
    sb.append(",\"transferList\":{\"accountAmounts\":[")
    transfers.zipWithIndex.foreach { case ((a, amt), i) =>
      if (i > 0) sb.append(',')
      sb.append("{\"accountID\":"); acct(sb, a); sb.append(",\"amount\":").append(amt).append('}')
    }
    sb.append("]}},\"sigMap\":{\"sigPair\":[]}}")
    Tx(sb.toString, txType, transfers)
  }

  def writeFile(path: Path, lines: Array[String]): Unit =
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(UTF_8)): Unit
}

/** Seeded English-like documents for the curation workload. Words are
  * invented syllable strings of ≥ 5 letters (so they never collide with the
  * lang-ID stopword profiles) mixed with English stopwords, so every
  * generated document passes the quality and language gates. A
  * near-duplicate changes one word of a 50-80-word source (Jaccard of
  * 3-shingles ≥ 0.9, so 16 LSH bands of 4 miss it with p < 1e-7);
  * unrelated documents share ~no shingles. */
object DocGen {

  final case class Doc(id: Long, text: String)

  /** One arriving batch and what curation must do with it. `expected` is
    * the exact survivor set: every doc that is neither a planted duplicate
    * of an indexed doc nor a later copy of an earlier doc of this batch. */
  final case class Batch(docs: Array[Doc], expected: Set[Long],
      plantedIndexDups: Int, plantedIntraDups: Int)

  private val Stop = Array("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
  private val Syll = Array("ka", "lo", "mir", "ten", "sa", "vu", "der", "on", "pli", "ra",
    "zen", "ko", "ma", "lis", "tor", "ve", "qua", "ni", "bel", "us")

  final class Vocab(rnd: SplittableRandom, size: Int) {
    val words: Array[String] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < size) {
        val n = 2 + rnd.nextInt(2)
        val w = (0 until n).map(_ => Syll(rnd.nextInt(Syll.length))).mkString
        if (w.length >= 5) seen += w
      }
      seen.toArray
    }
  }

  def text(rnd: SplittableRandom, v: Vocab, n: Int): Array[String] =
    Array.fill(n)(if (rnd.nextInt(10) < 3) Stop(rnd.nextInt(Stop.length))
                  else v.words(rnd.nextInt(v.words.length)))

  /** Near-duplicate: one word replaced. */
  def nearDup(rnd: SplittableRandom, v: Vocab, src: String): String = {
    val ws = src.split(' ')
    ws(rnd.nextInt(ws.length)) = v.words(rnd.nextInt(v.words.length))
    ws.mkString(" ")
  }

  final case class Corpus(base: Array[Doc], batches: IndexedSeq[Batch])

  def generate(seed: Long, baseDocs: Int, batches: Int, batchDocs: Int): Corpus = {
    val rnd = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + 29)
    val v = new Vocab(rnd, 6000)
    def fresh(id: Long) = Doc(id, text(rnd, v, 50 + rnd.nextInt(30)).mkString(" "))
    val base = Array.tabulate(baseDocs)(i => fresh(i.toLong + 1))
    var next = baseDocs.toLong + 1
    val bs = (0 until batches).map { _ =>
      val docs = Array.newBuilder[Doc]
      val expected = Set.newBuilder[Long]
      val inBatch = scala.collection.mutable.ArrayBuffer.empty[Doc]
      var idxDups, intraDups = 0
      (0 until batchDocs).foreach { _ =>
        val id = next; next += 1
        val r = rnd.nextInt(100)
        val d =
          if (r < 10) { idxDups += 1; Doc(id, nearDup(rnd, v, base(rnd.nextInt(base.length)).text)) }
          else if (r < 20 && inBatch.nonEmpty) {
            intraDups += 1
            val src = inBatch(rnd.nextInt(inBatch.length)).text
            Doc(id, if (r < 13) src else nearDup(rnd, v, src))
          } else {
            val f = fresh(id); inBatch += f; expected += id; f
          }
        docs += d
      }
      Batch(docs.result(), expected.result(), idxDups, intraDups)
    }
    Corpus(base, bs)
  }
}
