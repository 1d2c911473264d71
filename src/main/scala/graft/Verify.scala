package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — trailing names restrict the
    // dump to those queries (local iteration aid; the driver passes two)
    val Array(sfDir, outDir, rest @ _*) = args: @unchecked
    val selected = SparkEntry.select(rest)
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // per-query ok/error, dumped as <outDir>/_status.json — a thrown query
    // must show up as an explicit crash, not a silent hole in the gate
    // (r07: 10 entries just vanished and read as "not run").
    val status = selected.map { case (name, fn) =>
      // Bench-style isolation (r05 What's-wrong #3): a query that leaks a
      // persist() pin must not contaminate the ones that run after it in
      // this session — and a leak can't hide behind the gate either,
      // because the bench's isolated runs would expose the drift.
      GraftSession.isolate(spark)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        name -> None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        name -> Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val statusJson = status.sortBy(_._1).map {
      case (k, None)      => s"${quote(k)}: {\"ok\": true}"
      case (k, Some(err)) => s"${quote(k)}: {\"ok\": false, \"error\": ${quote(err)}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_status.json"), statusJson)
    val nErr = status.count(_._2.isDefined)
    if (nErr > 0) System.err.println(s"[verify] $nErr quer(ies) FAILED — see _status.json")
    spark.stop()
  }

  /** JSON string literal of `s`: escapes backslash, quote and ALL control
    * chars (<0x20) — a tab or CR in an oracle SQL string would otherwise
    * make a strict JSON reader reject the whole file and silently zero
    * the gate. Bench's error map uses it too. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
