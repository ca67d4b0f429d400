package graft

import org.apache.spark.sql.functions.{bit_xor, col, struct, sum, xxhash64}

/** Optimization-round A/B harness: dump, for EVERY declared query (or a
  * subset), a result fingerprint strong enough to prove bit-identity —
  * row count, order-insensitive bit_xor of xxhash64(struct(*)), and the
  * decimal SUM of the same hashes (the xor alone cancels duplicate rows
  * pairwise; the sum restores multiset fidelity). Two dumps from two
  * code states (or two runtime-conf settings) diff with plain `diff` —
  * the cheap equivalence proof the round rules require before trusting
  * any restructured plan, without paying a full DuckDB oracle pass.
  *
  * Usage:
  *   sbt "Test/runMain graft.ChecksumDump <sfDir> <outFile> \
  *        [conf:k=v ...] [query ...]"
  */
object ChecksumDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ChecksumDump <sfDir> <outFile> " +
      "[conf:k=v ...] [query ...]")
    val sfDir = args(0)
    val outFile = args(1)
    val spark = graft.core.GraftSession.forHarness("graft-checksum")
    // every `conf:k=v` argument is set on the session; the rest are names
    val (confArgs, nameArgs) = args.drop(2).toSeq.partition(_.startsWith("conf:"))
    confArgs.foreach { a =>
      val kv = a.stripPrefix("conf:").split("=", 2)
      spark.conf.set(kv(0), kv(1))
    }
    val names = SparkEntry.select(Some(nameArgs).filter(_.nonEmpty))
    val out = new java.io.PrintWriter(outFile)
    names.foreach { name =>
      val t0 = System.nanoTime()
      val line =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          val h = xxhash64(struct(df.columns.map(col): _*))
          val r = df.agg(
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)),
            bit_xor(h),
            sum(h.cast(org.apache.spark.sql.types.DecimalType(38, 0))))
            .collect()(0)
          s"$name\t${r.get(0)}\t${r.get(1)}\t${r.get(2)}\t" +
            df.schema.map(f => s"${f.name}:${f.dataType.sql}").mkString(",")
        } catch {
          case e: Exception =>
            s"$name\tERR\t${e.getClass.getSimpleName}: " +
              e.getMessage.takeWhile(_ != '\n').take(120)
        } finally graft.core.Caches.releaseAll()
      out.println(line)
      out.flush()
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[cksum] $dt%.2fs $line".take(200))
    }
    out.close()
    spark.stop()
  }
}
