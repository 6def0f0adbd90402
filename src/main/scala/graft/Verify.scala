package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Session goes
  * through GraftSession so semantics configs (nanosAsLong, UTC, dynamic
  * overwrite) match the engine's own entry points.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark: SparkSession = GraftSession.localFromEnv("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Four queries in flight: the Spark scheduler interleaves their jobs, so
    // one query's single-task stages don't serialize the whole dump.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val failures = new java.util.concurrent.ConcurrentHashMap[String, String]()
    // Dev-only subset filter (comma-separated names) for fast single-query
    // oracle iteration; the driver runs without it and gets the full battery.
    val only: Option[Set[String]] = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val tasks = selected.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name FAILED: $e")
            e.printStackTrace()
            failures.put(name, String.valueOf(e)): Unit
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // A query that throws leaves no parquet behind and would silently drop
    // out of the correctness battery (r6: a testdata schema change erased 15
    // queries from the gate with rc 0). Record failures somewhere durable —
    // VERIFY_FAILURES.json in the working directory (the repo root under
    // sbt), or GRAFT_VERIFY_FAILURES — so a shrunken battery can never read
    // as clean.
    locally {
      val rec = sys.env.getOrElse("GRAFT_VERIFY_FAILURES", "VERIFY_FAILURES.json")
      import scala.jdk.CollectionConverters._
      val body = failures.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s"""  "${k}": "${v.replace("\\", "\\\\").replace("\"", "'").takeWhile(_ >= ' ')}"""" }
        .mkString("{\n", ",\n", "\n}")
      try Files.writeString(Paths.get(rec), body + "\n")
      catch { case _: Throwable => () }
      if (!failures.isEmpty)
        System.err.println(s"[verify] ${failures.size} queries FAILED (recorded in $rec)")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
