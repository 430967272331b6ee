package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter; the driver leaves SPARK_GRAFT_ONLY unset → full
    // suite. Applied to the oracle dump too so check_oracle.py sees a
    // consistent subset.
    val selected = Harness.only()
    Harness.run(spark, "verify", selected = selected) { (name, fn) =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
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
    // golden-fixture oracles read committed per-SF CSVs; resolve the
    // scale-factor token to THIS run's directory name at dump time
    val sfName = new java.io.File(sfDir).getName
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__GRAFT_SF__", sfName))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
