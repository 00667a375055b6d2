package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // declare the SF dir before any Engine lazy-val evaluates, so the
    // tmpfs-spill headroom check scales with the actual dataset
    sys.props.put("graft.sf.dir", sfDir)
    // optional extra args: run only the named queries (local fast loop;
    // the driver always passes exactly two args = full corpus)
    val only = args.drop(2).toSet
    val spark = Engine.session("graft-verify",
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // full cause chain: "Task not serializable"-class errors carry
        // the useful detail two levels down
        var c = e.getCause
        while (c != null) {
          System.err.println(s"[verify]   cause: $c")
          c = c.getCause
        }
        // Remove any stale output from a previous run: a leftover parquet
        // would let the driver's compare pass on old results.
        graft.operators.TxnMarker.rmTree(new java.io.File(s"$outDir/$name"))
      }
      // Streaming replays and multi-consumer queries cache intermediate
      // results; don't let 90+ queries accumulate cached blocks.
      spark.catalog.clearCache()
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
