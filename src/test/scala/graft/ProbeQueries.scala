package graft

/** Dev tool: single-query oracle pre-check — the per-query version of
  * the Verify flow (see .claude/skills/verify/SKILL.md). Writes each
  * named query's result parquet plus the matching oracle_sql.json so
  * tools/oracle_check.py can DuckDB-compare just those queries:
  *
  *   sbt -batch "Test/runMain graft.ProbeQueries <sfDir> <query>..."
  *   python3 tools/oracle_check.py <sfDir> /tmp/scratch_probe
  *
  * Test scope on purpose: not part of the library surface.
  */
object ProbeQueries {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.forHarness("graft-probe")
    val dir = args.head
    val names = args.tail.toSeq
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, dir)
      df.coalesce(1).write.mode("overwrite").parquet(s"/tmp/scratch_probe/$n")
      println(s"PROBE $n rows=${spark.read.parquet(s"/tmp/scratch_probe/$n").count()}")
    }
    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        // non-ASCII as \\uXXXX: PrintWriter writes in the platform
        // charset (ASCII here → '?' mangling); pure-ASCII JSON is safe
        // under any encoding
        case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    val sql = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    val os = new java.io.PrintWriter("/tmp/scratch_probe/oracle_sql.json")
    os.write(sql.map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
      .mkString("{", ",", "}"))
    os.close()
    spark.stop()
  }
}
