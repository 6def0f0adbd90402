package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout — multi-column locality clustering so
  * parquet row-group min/max statistics prune on EVERY clustered column, not
  * just a leading sort key (the technique behind Delta/Iceberg `OPTIMIZE
  * ZORDER`; public literature: Morton 1966, the Hudi/Delta layout docs).
  *
  * Why it matters at 100 TB: a linear sort on (a, b) gives perfect
  * row-group pruning on `a` and NONE on `b` — every row group spans the
  * whole `b` domain. Interleaving the bits of both keys makes each
  * contiguous key range (= each row group after a range-partitioned sorted
  * write) a small HYPERCUBE of the (a, b) space, so a selective predicate
  * on either column intersects only the row groups whose cube overlaps it.
  * The scan layer already pushes the predicates (PlanShapeSpec's
  * PushedFilters pins); this makes the pushed stats actually bite on
  * non-leading columns. ZOrderSpec measures it from real parquet footers.
  *
  * Mechanics, all engine-portable (the registry entry `q_zorder_key` is
  * full-oracle):
  *   - each column is min/max-scaled to a `bits`-bit bucket:
  *     `floor((v − mn) · 2^bits / (mx − mn + 1))` — one global min/max
  *     aggregate (1-row broadcast), then a pure per-row map; the same
  *     double arithmetic in any IEEE engine (operands are exact integers
  *     below 2⁵³);
  *   - buckets are bit-interleaved, column i at bit positions j·d + i —
  *     an unrolled shift/mask/add chain of built-ins (whole-stage codegen,
  *     no UDF, no HOF loop);
  *   - [[write]] range-partitions by the key and sorts within partitions —
  *     the only shuffle, the same exchange any global sort pays.
  *
  * A null in any clustered column yields a null key (range partitioning
  * groups them first); cap `cols.size · bits ≤ 62` to stay in a BIGINT.
  *
  * Reference scope: the reference engine delegates physical layout to
  * BigQuery's own clustering — this provides the equivalent for parquet
  * lakes (reference schema files cite day-clustered tables:
  * hedera-etl-bigquery/transactions.json's time-partitioning; K1's
  * day-partitioned sink is the 1-D case of this).
  */
object ZOrderLayout {

  /** Bit-interleave pre-bucketed non-negative longs: column i of d takes
    * bit positions j·d + i, j = 0..bits−1. Disjoint positions, so the
    * combine is a plain sum — identical in SQL. */
  def interleave(buckets: Seq[Column], bits: Int): Column = {
    require(buckets.nonEmpty && buckets.size * bits <= 62,
      s"${buckets.size} cols x $bits bits exceeds a signed 64-bit key")
    val d = buckets.size
    (for (j <- 0 until bits; (b, i) <- buckets.zipWithIndex) yield
      shiftleft(shiftright(b, j).bitwiseAND(lit(1L)), j * d + i))
      .reduce(_ + _)
  }

  /** The same interleave as a DuckDB/ANSI SQL expression over pre-bucketed
    * BIGINT column names — kept next to the Column form so the oracle can
    * never drift. */
  def interleaveSql(buckets: Seq[String], bits: Int): String = {
    val d = buckets.size
    (for (j <- 0 until bits; (b, i) <- buckets.zipWithIndex) yield
      s"((($b >> $j) & 1) << ${j * d + i})")
      .mkString(" + ")
  }

  /** min/max bucket scaling to [0, 2^bits): pure double arithmetic (NO
    * long truncation — fractional columns scale by value), the same IEEE
    * ops in any engine; for integer columns below 2⁵³ the operands are
    * exact, which is what lets q_zorder_key carry a byte oracle. Scales by
    * the true range (mx − mn), clamped at 2^bits − 1 — a "+1" fudge in the
    * denominator would collapse fractional domains whose range ≪ 1 into
    * bucket 0, silently dropping the column from the key. A constant
    * column (mx = mn) buckets to 0. */
  def bucket(v: Column, mn: Column, mx: Column, bits: Int): Column = {
    val top = (1L << bits) - 1L
    when(mx.cast("double") === mn.cast("double"), lit(0L)).otherwise(
      least(
        floor((v.cast("double") - mn.cast("double")) * (1L << bits).toDouble /
          (mx.cast("double") - mn.cast("double"))).cast("long"),
        lit(top)))
  }

  /** The same bucket scaling as ANSI SQL over pre-cast DOUBLE min/max
    * column names — kept next to the Column form (like interleaveSql) so
    * the q_zorder_key byte oracle can never drift from bucket(). */
  def bucketSql(v: String, mn: String, mx: String, bits: Int): String = {
    val top = (1L << bits) - 1L
    s"""CASE WHEN $mx = $mn THEN 0 ELSE least(
       |  CAST(floor((CAST($v AS DOUBLE) - $mn) * ${(1L << bits).toDouble}
       |             / ($mx - $mn)) AS BIGINT), $top) END""".stripMargin
  }

  /** Append a z-order key over `cols` (numeric — fractional values scale
    * without truncation): one global min/max aggregate broadcasts back,
    * the key itself is a pure per-row map. Refuses an input that already
    * has a `keyName` column rather than silently replacing it. */
  def withZKey(df: DataFrame, cols: Seq[String], bits: Int = 16,
      keyName: String = "zkey"): DataFrame = {
    require(cols.nonEmpty, "need at least one z-order column")
    require(!df.columns.contains(keyName),
      s"input already has a '$keyName' column — pass a different keyName " +
        "instead of silently overwriting it")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c)).cast("double").as(s"__mn_$i"),
        max(col(c)).cast("double").as(s"__mx_$i"))
    }
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      bucket(col(c), col(s"__mn_$i"), col(s"__mx_$i"), bits)
    }
    df.crossJoin(broadcast(stats))
      .withColumn(keyName, interleave(buckets, bits))
      .drop(cols.indices.flatMap(i => Seq(s"__mn_$i", s"__mx_$i")): _*)
  }

  /** Z-order-clustered parquet write: range-partition on the key (so file
    * k holds the k-th slice of the curve), sort within, drop the key (it
    * is derivable). `numFiles` sizes the output — at 100 TB pick
    * bytes/file ÷ target file size, exactly like any sorted write. */
  def write(df: DataFrame, cols: Seq[String], dir: String, numFiles: Int,
      bits: Int = 16, keyName: String = "zkey"): Unit =
    withZKey(df, cols, bits, keyName)
      .repartitionByRange(numFiles, col(keyName))
      .sortWithinPartitions(keyName)
      .drop(keyName)
      .write.mode("overwrite").parquet(dir)

  /** Layout introspection: per-row-group (min, max) of an integer column
    * across every parquet file under `dir`, straight from the footers —
    * what the scan's row-group pruning will see. Feeds the measured
    * prune-fraction evidence (ZOrderSpec, the bench's zorder section);
    * driver-side metadata reads only, one footer per file. */
  def rowGroupRanges(spark: org.apache.spark.sql.SparkSession, dir: String,
      column: String): Seq[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val (fs, p) = graft.util.Fs(spark, dir)
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .flatMap { s =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, fs.getConf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.toSeq.map { b =>
          val cc = b.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .getOrElse(throw new IllegalArgumentException(
              s"no column $column in ${s.getPath}"))
          val st = cc.getStatistics
          (st.genericGetMin.toString.toLong, st.genericGetMax.toString.toLong)
        } finally r.close()
      }
  }

  /** Fraction of row groups a `[lo, hi]` predicate on `column` must read —
    * 1.0 means the layout gives that predicate nothing. */
  def pruneFraction(spark: org.apache.spark.sql.SparkSession, dir: String,
      column: String, lo: Long, hi: Long): Double = {
    val rs = rowGroupRanges(spark, dir, column)
    require(rs.nonEmpty, s"no row groups under $dir")
    rs.count { case (mn, mx) => mx >= lo && mn <= hi }.toDouble / rs.size
  }
}
