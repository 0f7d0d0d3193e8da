package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.localSession()
    new java.io.File(outDir).mkdirs()
    // iteration aid mirroring Bench's SPARK_GRAFT_BENCH_ONLY: dump (and list
    // in oracle_sql.json) only queries whose name starts with a given prefix.
    // The driver never sets it, so the contract is unchanged.
    val selected = SparkEntry.selects(sys.env.get("SPARK_GRAFT_VERIFY_ONLY")) _
    // Failure contract (round-8 lesson): a query that throws must NEVER
    // vanish from the correctness artifact. The driver compares whatever
    // parquet exists under outDir, so an omitted directory silently shrinks
    // the round's query set (a06 in CORRECTNESS_r08). Instead, write a
    // one-row sentinel whose schema can't match any oracle — the driver
    // then records a visible rows/schema/hash failure for the query — and
    // collect the errors into verify_errors.json for the human reader.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = e.toString
        import spark.implicits._
        Seq(e.toString.take(500)).toDF("graft_verify_error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
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
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // sampled sf1 oracle variants (see SparkEntry.oracleSqlSampled): the
    // sf1 check harness opts in via GRAFT_CHECK_SAMPLED; the driver's
    // sf0.01 gate reads only oracle_sql.json and is unaffected
    val sampledJson = SparkEntry.oracleSqlSampled.filter(kv => selected(kv._1))
      .map { case (k, (f, sql)) =>
        s"${q(k)}: {${q("filter")}: ${q(f)}, ${q("sql")}: ${q(sql)}}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql_sampled.json"), sampledJson)
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    // round-12 post-mortem aid (the driver's CORRECTNESS artifact came back
    // empty with no engine-side error): self-check the dump before exiting —
    // the oracle map must round-trip through Spark's own JSON reader and
    // every listed query must have a parquet directory — then leave a DONE
    // sentinel with the counts, so an empty driver artifact is attributable
    // at a glance to the consumer side, not the dump.
    val reread = spark.read.json(s"$outDir/oracle_sql.json").columns.toSet
    val listed = SparkEntry.oracleSql.keySet.filter(selected)
    require(reread == listed,
      s"oracle_sql.json does not round-trip: ${(listed -- reread) ++ (reread -- listed)}")
    val missingDirs = listed.filterNot(n =>
      Files.exists(Paths.get(s"$outDir/$n/_SUCCESS")))
    require(missingDirs.isEmpty, s"missing parquet dumps: $missingDirs")
    Files.writeString(Paths.get(s"$outDir/_VERIFY_DONE"),
      s"queries=${listed.size} failures=${failures.size}\n")
    println(s"[verify] dumped ${listed.size} queries, " +
      s"${failures.size} failures, oracle_sql.json round-trip OK")
    spark.stop()
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.mkString(", "))
  }
}
